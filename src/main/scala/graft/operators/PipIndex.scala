package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, ImplicitCastInputTypes, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode, FalseLiteral}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.algorithm.locate.IndexedPointInAreaLocator
import org.locationtech.jts.geom.{Coordinate, Location}

import graft.cells.Cell
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
  * The index is cell → candidate polygon ordinals; refine uses
  * thread-local IndexedPointInAreaLocators built lazily per ordinal.
  */
case class PipIndex(polys: Array[PipIndex.Poly],
                    cellToOrdinals: java.util.HashMap[java.lang.Long, Array[Int]],
                    minLevel: Int, maxLevel: Int) extends Serializable {

  // per executor thread: the broadcast value is shared by every task of
  // the executor, each thread builds a polygon's locator at most once
  @transient private lazy val locators =
    ThreadLocal.withInitial[Array[IndexedPointInAreaLocator]](() => new Array(polys.length))

  /** The stab + refine kernel: ordinals of every polygon whose interior
    * holds (lon, lat), by level then ordinal; empty if none.
    */
  def hits(lon: Double, lat: Double): Array[Int] = {
    val locs = locators.get()
    val leaf = Cell.leaf(lon, lat)
    val coord = new Coordinate(lon, lat)
    var out = Array.emptyIntArray
    var n = 0
    var l = minLevel
    while (l <= maxLevel) {
      val cands = cellToOrdinals.get(Cell.parent(leaf, l))
      if (cands != null) {
        var i = 0
        while (i < cands.length) {
          val o = cands(i)
          var loc = locs(o)
          if (loc == null) {
            loc = new IndexedPointInAreaLocator(Jts.fromWkb(polys(o).wkb))
            locs(o) = loc
          }
          if (loc.locate(coord) == Location.INTERIOR) {
            if (n == out.length) out = java.util.Arrays.copyOf(out, math.max(4, 2 * n))
            out(n) = o
            n += 1
          }
          i += 1
        }
      }
      l += 1
    }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }
}

object PipIndex {
  case class Poly(relId: Long, layer: String, wkb: Array[Byte]) extends Serializable

  /** Build from the two driver collects every caller makes: covers
    * (relId, layer, cellId) and polygons (relId, wkb). The collect
    * contract: one polygon row per relId (a relId-keyed map would keep
    * only the last geometry of a repeated relId, while `PipJoin.matches`
    * refines every row), and a cover whose polygon is absent is dropped,
    * as the join strategies drop it.
    */
  def of(covers: Array[(Long, String, Long)], polygons: Array[(Long, Array[Byte])]): PipIndex = {
    val polyMap = polygons.toMap
    require(polyMap.size == polygons.length, "PipIndex needs one polygon row per relId; " +
      s"relId ${polygons.map(_._1).diff(polyMap.keys.toSeq).head} repeats")
    build(covers.filter(c => polyMap.contains(c._1)), polyMap)
  }

  /** Build from collected covers (relId, layer, cellId) + polygons
    * (relId, wkb). Driver-side; the dimension side is small by design.
    */
  def build(covers: Array[(Long, String, Long)], polygons: Map[Long, Array[Byte]]): PipIndex = {
    val polyList = covers.map { case (relId, layer, _) => (relId, layer) }.distinct.sorted
    val ordinal = polyList.zipWithIndex.toMap
    val polys = polyList.map { case (relId, layer) => Poly(relId, layer, polygons(relId)) }
    val byCell = new java.util.HashMap[java.lang.Long, Array[Int]]()
    covers.groupBy(_._3).foreach { case (cellId, cs) =>
      byCell.put(cellId, cs.map(c => ordinal((c._1, c._2))).distinct.sorted)
    }
    val levels = covers.map(c => Cell.level(c._3))
    PipIndex(polys, byCell,
      if (levels.isEmpty) 0 else levels.min,
      if (levels.isEmpty) 0 else levels.max)
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
