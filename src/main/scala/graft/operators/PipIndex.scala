package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, ImplicitCastInputTypes, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode, FalseLiteral}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.algorithm.locate.IndexedPointInAreaLocator
import org.locationtech.jts.geom.{Coordinate, Envelope, Location, Polygonal}
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.cells.{Cell, Coverer}
import graft.geom.Jts

/** Broadcast PIP index: the reference's whole lookup path — segment-tree
  * stab + exact GEOS refine (lookup.go:156-174 + env.go:657-715) — in one
  * kernel, [[PipIndex.hits]], over a broadcast index. The batch and
  * streaming hot path runs it through the [[PipMatch]] generator, which
  * emits one `(relId, layer)` row per true match straight from the scan's
  * codegen stage: no ancestor explode, no join. The Catalyst-only
  * formulation (ancestor explode ⋈ broadcast covers, `PipJoin.matches`)
  * is semantically identical; both are kept and tested equal.
  *
  * Layout: sorted elementary leaf intervals. Segment `k` holds the leaves
  * `[starts(k), starts(k + 1))` (the last segment runs to the end of the
  * curve) and the entries `entries(offsets(k) until offsets(k + 1))`,
  * each `(ordinal << 1) | interior`, ascending. A leaf before
  * `starts(0)` has no entries. The entries of an ordinal are the pieces
  * [[PipIndex.build]] cuts from its reference cover cells: an *interior*
  * piece lies wholly inside the polygon, a refine piece meets its
  * boundary, and a piece with no point of the polygon is left out. Refine
  * uses thread-local IndexedPointInAreaLocators built lazily per ordinal.
  */
case class PipIndex(polys: Array[PipIndex.Poly], starts: Array[Long], offsets: Array[Int],
                    entries: Array[Int]) extends Serializable {

  // per executor thread: the broadcast value is shared by every task of
  // the executor, each thread builds a polygon's locator at most once
  @transient private lazy val locators =
    ThreadLocal.withInitial[Array[IndexedPointInAreaLocator]](() => new Array(polys.length))

  /** The stab + refine kernel: ordinals of every polygon whose interior
    * holds (lon, lat), ascending; empty if none. One binary search finds
    * the point's segment; an interior entry is a hit without a refine, but
    * only for a point inside [-180,180] × [-90,90]: `Cell.xy` clamps any
    * other point (NaN included) into an edge cell it does not lie in, so
    * such a point refines every entry.
    */
  def hits(lon: Double, lat: Double): Array[Int] = {
    val i = java.util.Arrays.binarySearch(starts, Cell.leaf(lon, lat))
    val k = if (i >= 0) i else -i - 2
    if (k < 0 || offsets(k) == offsets(k + 1)) return Array.emptyIntArray
    val from = offsets(k)
    val out = new Array[Int](offsets(k + 1) - from)
    val inDomain = lon >= -180.0 && lon <= 180.0 && lat >= -90.0 && lat <= 90.0
    var coord: Coordinate = null
    var n = 0
    var e = from
    while (e < offsets(k + 1)) {
      val o = entries(e) >>> 1
      val hit = ((entries(e) & 1) == 1 && inDomain) || {
        if (coord == null) coord = new Coordinate(lon, lat)
        locator(o).locate(coord) == Location.INTERIOR
      }
      if (hit) { out(n) = o; n += 1 }
      e += 1
    }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }

  private def locator(o: Int): IndexedPointInAreaLocator = {
    val locs = locators.get()
    if (locs(o) == null) locs(o) = new IndexedPointInAreaLocator(Jts.fromWkb(polys(o).wkb))
    locs(o)
  }

  /** Sizes for `/api/metrics`: `bytes` counts the three stab arrays, not
    * the polygons' WKB. */
  def stats: PipIndex.Stats = {
    val interior = entries.count(e => (e & 1) == 1)
    PipIndex.Stats(starts.length, entries.length,
      if (entries.isEmpty) 0.0 else interior.toDouble / entries.length,
      8L * starts.length + 4L * offsets.length + 4L * entries.length)
  }
}

object PipIndex {
  case class Poly(relId: Long, layer: String, wkb: Array[Byte]) extends Serializable

  case class Stats(segments: Int, entries: Int, interiorShare: Double, bytes: Long)

  /** How many levels [[build]] descends below a reference cover cell to
    * split it into interior and refine pieces. Each level roughly doubles
    * the refine pieces along the boundary and halves the share of points
    * that refine. On the fixture dimension (17 polygons, 135 cover cells)
    * depth 4 / 5 / 6 give 2,612 / 5,351 / 10,909 segments, 56 / 111 /
    * 223 KB serialized, and 0.059 / 0.030 / 0.015 refine calls per
    * `pip_tile`-shaped page, where the cover stab alone refines 2.11.
    */
  val InteriorDepth = 5

  /** Build from [[Dimension]]'s collected covers and polygons (relId,
    * wkb), one polygon row per relId (a relId-keyed map would keep only
    * the last geometry of a repeated relId, while `PipJoin.matches` refines
    * every row); a cover whose polygon is absent is dropped, as the join
    * strategies drop it. */
  def of(covers: Array[(Long, String, Long)], polygons: Array[(Long, Array[Byte])]): PipIndex = {
    val polyMap = polygons.toMap
    require(polyMap.size == polygons.length, "PipIndex needs one polygon row per relId; " +
      s"relId ${polygons.map(_._1).diff(polyMap.keys.toSeq).head} repeats")
    build(covers.filter(c => polyMap.contains(c._1)), polyMap)
  }

  /** Build from collected covers (relId, layer, cellId) + polygons
    * (relId, wkb). Driver-side; the dimension side is small by design.
    *
    * Each (relId, layer) is one ordinal, in sorted order. Its cover cells
    * (a cell nested in another of the same ordinal adds nothing, and is
    * dropped) are cut into pieces by descending at most [[InteriorDepth]]
    * levels with exact predicates against the polygon, as
    * `Coverer.coverExact` does, on each cell's rect expanded by one leaf
    * width on every side, so that a point `Cell.xy` rounds into a cell is
    * always inside its expanded rect:
    *  - no point of the expanded rect in the polygon: dropped;
    *  - expanded rect `containsProperly`'d: an interior piece;
    *  - otherwise a refine piece, or four children while depth remains.
    * A polygon that is not polygonal, or reaches outside [-180,180] ×
    * [-90,90] (where clamped points land in edge cells they do not lie
    * in), keeps its cover cells as refine pieces. Pieces never leave the
    * reference cover, so the hits are those of the cover-stab + refine.
    */
  def build(covers: Array[(Long, String, Long)], polygons: Map[Long, Array[Byte]]): PipIndex = {
    val (polys, cells, entries) = pieces(covers, polygons)
    flatten(polys, cells, entries)
  }

  /** The ordinals' polygons and every piece of [[build]]: its cell and
    * its entry, `(ordinal << 1) | interior`. */
  private[operators] def pieces(covers: Array[(Long, String, Long)], polygons: Map[Long, Array[Byte]])
      : (Array[Poly], Array[Long], Array[Int]) = {
    val polyList = covers.map { case (relId, layer, _) => (relId, layer) }.distinct.sorted
    val ordinal = polyList.zipWithIndex.toMap
    val shapes = mutable.HashMap.empty[Long, Shape]
    val cells = mutable.ArrayBuilder.make[Long]
    val entries = mutable.ArrayBuilder.make[Int]
    covers.groupBy(c => ordinal((c._1, c._2))).foreach { case (o, cs) =>
      val shape = shapes.getOrElseUpdate(cs.head._1, new Shape(polygons(cs.head._1)))
      Coverer.normalize(cs.map(_._3).distinct).foreach { cell =>
        shape.pieces(cell).foreach { case (c, interior) =>
          cells += c
          entries += (o << 1) | (if (interior) 1 else 0)
        }
      }
    }
    (polyList.map { case (relId, layer) => Poly(relId, layer, polygons(relId)) },
      cells.result(), entries.result())
  }

  private val LeafWidthLon = 360.0 / (1L << Cell.MaxLevel)
  private val LeafWidthLat = 180.0 / (1L << Cell.MaxLevel)

  /** One polygon, prepared for the descent of [[build]]. */
  private final class Shape(wkb: Array[Byte]) {
    private val geom = Jts.fromWkb(wkb)
    private val prep: PreparedGeometry =
      if (!geom.isInstanceOf[Polygonal] || !new Envelope(-180, 180, -90, 90).covers(geom.getEnvelopeInternal)) null
      else PreparedGeometryFactory.prepare(geom)

    /** The pieces of one cover cell: (cell, interior). */
    def pieces(cover: Long): Seq[(Long, Boolean)] =
      if (prep == null) Seq((cover, false))
      else try {
        val out = mutable.ArrayBuffer.empty[(Long, Boolean)]
        def descend(c: Long, depth: Int): Unit = {
          val (x0, y0, x1, y1) = Cell.bounds(c)
          val rect = geom.getFactory.toGeometry(new Envelope(
            x0 - LeafWidthLon, x1 + LeafWidthLon, y0 - LeafWidthLat, y1 + LeafWidthLat))
          if (!prep.intersects(rect)) ()
          else if (prep.containsProperly(rect)) out += ((c, true))
          else if (depth == InteriorDepth || Cell.level(c) == Cell.MaxLevel) out += ((c, false))
          else Cell.children(c).foreach(descend(_, depth + 1))
        }
        descend(cover, 0)
        out.toSeq
      } catch {
        // a predicate that fails on an invalid geometry leaves the cell to the refine
        case _: RuntimeException => Seq((cover, false))
      }
  }

  /** Sweep the pieces' leaf ranges into sorted elementary segments. A
    * piece covers leaves [rangeMin, rangeMax]; a segment starts at every
    * range start and at every leaf after a range end, except where its
    * entries equal the previous segment's.
    */
  private def flatten(polys: Array[Poly], cells: Array[Long], pieceEntries: Array[Int]): PipIndex = {
    // events (leaf, entry, isStart); at one leaf, ends go before starts
    val events = new Array[(Long, Int, Boolean)](2 * cells.length)
    var p = 0
    while (p < cells.length) {
      events(2 * p) = (Cell.rangeMin(cells(p)), pieceEntries(p), true)
      events(2 * p + 1) = (Cell.rangeMax(cells(p)) + 2, pieceEntries(p), false)
      p += 1
    }
    val sorted = events.sortBy(e => (e._1, e._3))
    val starts = mutable.ArrayBuilder.make[Long]
    val offsets = mutable.ArrayBuilder.make[Int]
    val entries = mutable.ArrayBuilder.make[Int]
    val active = new java.util.TreeSet[Integer]()
    var last = Array.emptyIntArray
    var i = 0
    while (i < sorted.length) {
      val leaf = sorted(i)._1
      while (i < sorted.length && sorted(i)._1 == leaf) {
        if (sorted(i)._3) active.add(sorted(i)._2) else active.remove(sorted(i)._2)
        i += 1
      }
      val now = active.asScala.iterator.map(_.intValue).toArray // ascending
      if (!java.util.Arrays.equals(now, last)) {
        starts += leaf
        offsets += entries.length
        entries ++= now
        last = now
      }
    }
    offsets += entries.length
    PipIndex(polys, starts.result(), offsets.result(), entries.result())
  }
}

/** st_pip_match(lon, lat) → one (relId, layer) row per polygon whose
  * interior holds the point; none for a null coordinate. Codegen'd, so
  * its `Generate` joins the whole-stage stage of the scan below it and
  * the aggregate above it. Output rows are built once per task, one per
  * index ordinal.
  */
case class PipMatch(left: Expression, right: Expression, bc: Broadcast[PipIndex])
    extends Generator with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(left, right)
  override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType)
  override def elementSchema: StructType =
    new StructType().add("relId", LongType, nullable = false).add("layer", StringType)

  @transient private lazy val rows: Array[InternalRow] =
    bc.value.polys.map(p => InternalRow(p.relId, UTF8String.fromString(p.layer)))

  def matchesOf(lon: Double, lat: Double): Iterator[InternalRow] = {
    val hits = bc.value.hits(lon, lat)
    if (hits.length == 0) Iterator.empty
    else new scala.collection.AbstractIterator[InternalRow] {
      private[this] var i = 0
      override def hasNext: Boolean = i < hits.length
      override def next(): InternalRow = { val r = rows(hits(i)); i += 1; r }
    }
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val lon = left.eval(input)
    val lat = right.eval(input)
    if (lon == null || lat == null) Iterator.empty
    else matchesOf(lon.asInstanceOf[Double], lat.asInstanceOf[Double])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val self = ctx.addReferenceObj("pipMatch", this)
    val lon = left.genCode(ctx)
    val lat = right.genCode(ctx)
    ev.copy(code =
      code"""
        ${lon.code}
        ${lat.code}
        scala.collection.Iterator<InternalRow> ${ev.value} = ${lon.isNull} || ${lat.isNull}
          ? scala.collection.Iterator$$.MODULE$$.empty()
          : $self.matchesOf(${lon.value}, ${lat.value});""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(cs(0), cs(1), bc)
  override def prettyName: String = "st_pip_match"
}

/** st_pip_probe(lon, lat) → array<int> of matched polygon ordinals: the
  * bare kernel as a scalar expression, for profiling the stab + refine
  * layer apart from the row emission of [[PipMatch]].
  */
case class PipProbe(left: Expression, right: Expression, bc: Broadcast[PipIndex])
    extends Expression with CodegenFallback {
  override def children: Seq[Expression] = Seq(left, right)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = left.nullable || right.nullable

  override def eval(input: InternalRow): Any = {
    val lon = left.eval(input)
    val lat = right.eval(input)
    if (lon == null || lat == null) null
    else UnsafeArrayData.fromPrimitiveArray(bc.value.hits(lon.asInstanceOf[Double], lat.asInstanceOf[Double]))
  }

  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(cs(0), cs(1), bc)
  override def prettyName: String = "st_pip_probe"
}
