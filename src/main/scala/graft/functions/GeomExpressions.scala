package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.locationtech.jts.geom.Geometry

import graft.geom.{Algorithms, Jts}
import graft.cells.{Cell, Coverer}

/** Per-executor prepared-geometry memoization — the Spark analogue of the
  * reference's 1024-entry GEOS LRU (/root/reference/osmtopo/env.go:103-111,
  * 673-693). Keyed by WKB content; bounded LRU, thread-safe. Build-once
  * probe-many: the PIP refine step prepares each polygon once per executor
  * and probes millions of points against it.
  */
object PreparedCache {
  private val MaxEntries = 1024
  private type PG = org.locationtech.jts.geom.prep.PreparedGeometry

  // Caches are THREAD-LOCAL: no lock contention on the per-row hot path
  // (a global synchronized LRU serializes all executor threads), and JTS
  // PreparedGeometry lazily builds its internal index on first use, which
  // is not safe under concurrent first probes.
  private def lru[K]: java.util.LinkedHashMap[K, PG] =
    new java.util.LinkedHashMap[K, PG](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, PG]): Boolean =
        size() > MaxEntries
    }
  private val byBytes = ThreadLocal.withInitial[java.util.LinkedHashMap[java.nio.ByteBuffer, PG]](() => lru)

  def get(wkb: Array[Byte]): PG = {
    val cache = byBytes.get()
    val key = java.nio.ByteBuffer.wrap(wkb)
    val hit = cache.get(key)
    if (hit != null) hit
    else {
      val prepared = Jts.prepare(Jts.fromWkb(wkb))
      cache.put(key, prepared)
      prepared
    }
  }

  // Point-in-area locators: avoids allocating a JTS Point per probe row
  // (IndexedPointInAreaLocator.locate takes a raw Coordinate) — the PIP
  // refine hot path. Not thread-safe → thread-local like the rest.
  private val byKeyLocator = ThreadLocal.withInitial[java.util.LinkedHashMap[java.lang.Long, org.locationtech.jts.algorithm.locate.IndexedPointInAreaLocator]](() =>
    new java.util.LinkedHashMap[java.lang.Long, org.locationtech.jts.algorithm.locate.IndexedPointInAreaLocator](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[java.lang.Long, org.locationtech.jts.algorithm.locate.IndexedPointInAreaLocator]): Boolean =
        size() > MaxEntries
    })

  def getLocator(id: Long, wkb: Array[Byte]): org.locationtech.jts.algorithm.locate.IndexedPointInAreaLocator = {
    val cache = byKeyLocator.get()
    val key = java.lang.Long.valueOf(compositeKey(id, wkb))
    val hit = cache.get(key)
    if (hit != null) hit
    else {
      val locator = new org.locationtech.jts.algorithm.locate.IndexedPointInAreaLocator(Jts.fromWkb(wkb))
      cache.put(key, locator)
      locator
    }
  }

  // Staleness fingerprint: length + up to 64 bytes strided across the
  // WHOLE array, mixed FNV-style. O(64) per probe row — constant, ~tens
  // of ns next to the locate() it guards (hashing the full WKB here
  // would be O(200 KB) per candidate row on the join paths, where each
  // row re-materializes a fresh byte[] and defeats any identity memo).
  // A real geometry edit changes coordinate bytes at many offsets, so an
  // update that preserves the length AND all 64 strided samples is not a
  // realistic aliasing risk (the previous 3-fixed-offset sample was).
  private def compositeKey(id: Long, wkb: Array[Byte]): Long = {
    var h = id * 0x9e3779b97f4a7c15L ^ wkb.length.toLong
    val n = wkb.length
    if (n > 0) {
      val step = math.max(1, n / 64)
      var i = 0
      while (i < n) { h = (h ^ (wkb(i) & 0xffL)) * 0x100000001b3L; i += step }
      h = (h ^ (wkb(n - 1) & 0xffL)) * 0x100000001b3L
    }
    h
  }

  // Static entry points for generated code (doGenCode emits a plain
  // static call — keeps the PIP refine inside whole-stage codegen, no
  // InternalRow boxing per candidate row).
  def containsKeyed(id: Long, wkb: Array[Byte], lon: Double, lat: Double): Boolean =
    getLocator(id, wkb).locate(new org.locationtech.jts.geom.Coordinate(lon, lat)) ==
      org.locationtech.jts.geom.Location.INTERIOR

  def containsPoint(wkb: Array[Byte], lon: Double, lat: Double): Boolean =
    get(wkb).contains(Jts.point(lon, lat))
}

/** Static entry points referenced by generated code (whole-stage codegen
  * emits plain static calls; keeping them here leaves `graft.cells` free
  * of Spark imports).
  */
object GeomCodegen {
  def ancestors(lon: Double, lat: Double, minLevel: Int, maxLevel: Int): ArrayData =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
      Cell.ancestors(Cell.leaf(lon, lat), minLevel, maxLevel))
}

/** ST_Point(lon, lat) → WKB point. */
case class STPoint(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(lon: Any, lat: Any): Any =
    Jts.toWkb(Jts.point(lon.asInstanceOf[Double], lat.asInstanceOf[Double]))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
  override def prettyName: String = "st_point"
}

/** ST_Contains(polyWkb, lon, lat) — exact point-in-polygon refine with the
  * per-executor prepared cache (reference env.go:657-715). Codegen'd as a
  * static call: the refine rides join conditions / post-join filters, and
  * a fallback expression there would box an InternalRow per candidate row.
  */
case class STContainsPoint(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, DoubleType, DoubleType)
  override def dataType: DataType = BooleanType
  override def nullSafeEval(wkb: Any, lon: Any, lat: Any): Any =
    PreparedCache.containsPoint(wkb.asInstanceOf[Array[Byte]],
      lon.asInstanceOf[Double], lat.asInstanceOf[Double])
  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    defineCodeGen(ctx, ev, (wkb, lon, lat) =>
      s"graft.functions.PreparedCache.containsPoint($wkb, $lon, $lat)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression = copy(a, b, c)
  override def prettyName: String = "st_contains_point"
}

/** ST_ContainsPointKeyed(key, wkb, lon, lat) — like STContainsPoint but the
  * prepared-geometry cache is keyed by a caller-supplied long id (the
  * polygon's relId), exactly the reference's LRU-by-relation-id design
  * (env.go:673-693). Avoids hashing the WKB payload per probe row — the
  * difference between O(1) and O(polygon bytes) per page at scale.
  */
case class STContainsPointKeyed(children: Seq[Expression])
    extends Expression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType, BinaryType, DoubleType, DoubleType)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = children.exists(_.nullable)
  // codegen'd as a static call so the refine predicate stays inside
  // whole-stage codegen (it rides the broadcast-join condition — a
  // fallback would box an InternalRow per candidate row)
  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val Seq(k, w, lon, lat) = children.map(_.genCode(ctx))
    ev.copy(code =
      code"""
        ${k.code}
        ${w.code}
        ${lon.code}
        ${lat.code}
        boolean ${ev.isNull} = ${k.isNull} || ${w.isNull} || ${lon.isNull} || ${lat.isNull};
        boolean ${ev.value} = false;
        if (!${ev.isNull}) {
          ${ev.value} = graft.functions.PreparedCache.containsKeyed(
            ${k.value}, ${w.value}, ${lon.value}, ${lat.value});
        }""")
  }
  override def eval(input: InternalRow): Any = {
    // hand-rolled (no Seq allocation) — this runs once per join candidate
    val k = children(0).eval(input)
    val w = children(1).eval(input)
    val lon = children(2).eval(input)
    val lat = children(3).eval(input)
    if (k == null || w == null || lon == null || lat == null) null
    else {
      // IndexedPointInAreaLocator on a raw Coordinate: no Point object per
      // row; INTERIOR matches JTS/GEOS contains() semantics for points
      // (boundary points are NOT contained)
      val loc = PreparedCache.getLocator(k.asInstanceOf[Long], w.asInstanceOf[Array[Byte]])
        .locate(new org.locationtech.jts.geom.Coordinate(
          lon.asInstanceOf[Double], lat.asInstanceOf[Double]))
      loc == org.locationtech.jts.geom.Location.INTERIOR
    }
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression = copy(cs)
  override def prettyName: String = "st_contains_point_keyed"
}

/** ST_Intersects(wkbA, wkbB) — prepared on the left side (water clip test,
  * geometries.go:240-247).
  */
case class STIntersects(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = BooleanType
  override def nullSafeEval(a: Any, b: Any): Any =
    PreparedCache.get(a.asInstanceOf[Array[Byte]])
      .intersects(Jts.fromWkb(b.asInstanceOf[Array[Byte]]))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
  override def prettyName: String = "st_intersects"
}

/** ST_Difference(wkbA, wkbB) → wkb; null on topology failure (broken rows
  * are dropped, geometries.go:136-140 semantics).
  */
case class STDifference(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    try Jts.toWkb(Jts.fromWkb(a.asInstanceOf[Array[Byte]]).difference(Jts.fromWkb(b.asInstanceOf[Array[Byte]])))
    catch { case _: Exception => null }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
  override def prettyName: String = "st_difference"
}

/** ST_Buffer0(wkb) — self-intersection repair (storage.go:101-105). */
case class STBuffer0(child: Expression) extends UnaryExpression with CodegenFallback with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any): Any =
    try Jts.toWkb(Jts.fromWkb(a.asInstanceOf[Array[Byte]]).buffer(0))
    catch { case _: Exception => null }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "st_buffer0"
}

case class STArea(child: Expression) extends UnaryExpression with CodegenFallback with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any): Any =
    Jts.fromWkb(a.asInstanceOf[Array[Byte]]).getArea
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "st_area"
}

object STEnvelope {
  val schema: StructType = StructType(Seq(
    StructField("minx", DoubleType, nullable = false),
    StructField("miny", DoubleType, nullable = false),
    StructField("maxx", DoubleType, nullable = false),
    StructField("maxy", DoubleType, nullable = false)))
}

/** ST_Envelope(wkb) → struct(minx,miny,maxx,maxy) (bbox, util.go:18-57). */
case class STEnvelope(child: Expression) extends UnaryExpression with CodegenFallback with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = STEnvelope.schema
  override def nullSafeEval(a: Any): Any = {
    val env = Jts.fromWkb(a.asInstanceOf[Array[Byte]]).getEnvelopeInternal
    InternalRow(env.getMinX, env.getMinY, env.getMaxX, env.getMaxY)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "st_envelope"
}

/** ST_CellAt(lon, lat, level) → Hilbert cell id. Pure long math — fully
  * codegen'd (stays inside whole-stage codegen; no fallback projection
  * boundary around the tiling / partitioned-join key computation).
  */
case class STCellAt(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType, IntegerType)
  override def dataType: DataType = LongType
  override def nullSafeEval(lon: Any, lat: Any, level: Any): Any =
    Cell.cellAt(lon.asInstanceOf[Double], lat.asInstanceOf[Double], level.asInstanceOf[Int])
  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    defineCodeGen(ctx, ev, (lon, lat, lvl) => s"graft.cells.Cell.cellAt($lon, $lat, $lvl)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression = copy(a, b, c)
  override def prettyName: String = "st_cell_at"
}

/** ST_CellAncestors(lon, lat, minLevel, maxLevel) → array of the point's
  * ancestor cell ids — the probe side of the cover/ancestor PIP equi-join.
  */
case class STCellAncestors(children: Seq[Expression])
    extends Expression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType, IntegerType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = children.exists(_.nullable)
  // codegen'd static call — evaluated once per probe row in the PIP
  // explode, so keep it inside whole-stage codegen like st_cell_at
  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val Seq(lon, lat, minL, maxL) = children.map(_.genCode(ctx))
    ev.copy(code =
      code"""
        ${lon.code}
        ${lat.code}
        ${minL.code}
        ${maxL.code}
        boolean ${ev.isNull} = ${lon.isNull} || ${lat.isNull} || ${minL.isNull} || ${maxL.isNull};
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
        if (!${ev.isNull}) {
          ${ev.value} = graft.functions.GeomCodegen.ancestors(
            ${lon.value}, ${lat.value}, ${minL.value}, ${maxL.value});
        }""")
  }
  override def eval(input: InternalRow): Any = {
    val lon = children(0).eval(input)
    val lat = children(1).eval(input)
    val minL = children(2).eval(input)
    val maxL = children(3).eval(input)
    if (lon == null || lat == null || minL == null || maxL == null) null
    else {
      val leaf = Cell.leaf(lon.asInstanceOf[Double], lat.asInstanceOf[Double])
      // primitive array, no per-element boxing
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
        Cell.ancestors(leaf, minL.asInstanceOf[Int], maxL.asInstanceOf[Int]))
    }
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression = copy(cs)
  override def prettyName: String = "st_cell_ancestors"
}

/** ST_CellCover(wkb) → array of cover cell ids for all polygons of the
  * geometry, the reference's RegionCoverer parameters (lookup.go:176-199).
  */
case class STCellCover(child: Expression) extends UnaryExpression with CodegenFallback with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(a: Any): Any =
    new GenericArrayData(Coverer.coverGeometry(Jts.fromWkb(a.asInstanceOf[Array[Byte]])))
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "st_cell_cover"
}

/** ST_CellCoverJoin(wkb) → pairwise-disjoint cover cells for the generic
  * `ST_Contains`-join rewrite (graft.plans.PipJoinRewrite): the EXACT
  * cover (Coverer.coverForJoin → coverExact, JTS cell-rectangle
  * predicates), a guaranteed superset index for any geometry — unlike the
  * engine index's reference-semantics vertex-approximate st_cell_cover.
  */
case class STCellCoverJoin(child: Expression)
    extends UnaryExpression with CodegenFallback with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(a: Any): Any =
    new GenericArrayData(Coverer.coverForJoin(Jts.fromWkb(a.asInstanceOf[Array[Byte]])))
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "st_cell_cover_join"
}

/** ST_SimplifyVW(wkb, threshold) — Visvalingam per-ring (water.go:163-177). */
case class STSimplifyVW(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, DoubleType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, t: Any): Any = {
    val threshold = t.asInstanceOf[Double]
    try {
      val g = Jts.fromWkb(a.asInstanceOf[Array[Byte]])
      Jts.toWkb(mapRings(g, pts => Algorithms.visvalingam(pts, threshold)))
    } catch { case _: Exception => null }
  }
  private def mapRings(g: Geometry, f: IndexedSeq[(Double, Double)] => IndexedSeq[(Double, Double)]): Geometry =
    GeomExpressions.mapPolygonRings(g, f)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
  override def prettyName: String = "st_simplify_vw"
}

/** ST_GeoDistance(lon1, lat1, lon2, lat2) → meters (export.go:75 metric). */
case class STGeoDistance(children: Seq[Expression]) extends Expression with CodegenFallback with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType, DoubleType, DoubleType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = children.exists(_.nullable)
  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null
    else Algorithms.geoDistance(vs(0).asInstanceOf[Double], vs(1).asInstanceOf[Double],
      vs(2).asInstanceOf[Double], vs(3).asInstanceOf[Double])
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression = copy(cs)
  override def prettyName: String = "st_geo_distance"
}

/** Column-API + SQL registration for the geometry expression layer. */
object GeomExpressions {
  import org.apache.spark.sql.functions.lit

  private def col(e: Expression): Column = org.apache.spark.sql.graft.Bridge.column(e)
  private def expr(c: Column): Expression = org.apache.spark.sql.graft.Bridge.expression(c)

  def st_point(lon: Column, lat: Column): Column = col(STPoint(expr(lon), expr(lat)))
  def st_contains_point(wkb: Column, lon: Column, lat: Column): Column =
    col(STContainsPoint(expr(wkb), expr(lon), expr(lat)))
  def st_contains_point_keyed(key: Column, wkb: Column, lon: Column, lat: Column): Column =
    col(STContainsPointKeyed(Seq(expr(key), expr(wkb), expr(lon), expr(lat))))
  def st_intersects(a: Column, b: Column): Column = col(STIntersects(expr(a), expr(b)))
  def st_difference(a: Column, b: Column): Column = col(STDifference(expr(a), expr(b)))
  def st_buffer0(a: Column): Column = col(STBuffer0(expr(a)))
  def st_area(a: Column): Column = col(STArea(expr(a)))
  def st_envelope(a: Column): Column = col(STEnvelope(expr(a)))
  def st_cell_at(lon: Column, lat: Column, level: Int): Column =
    col(STCellAt(expr(lon), expr(lat), expr(lit(level))))
  def st_cell_ancestors(lon: Column, lat: Column, minLevel: Int, maxLevel: Int): Column =
    col(STCellAncestors(Seq(expr(lon), expr(lat), expr(lit(minLevel)), expr(lit(maxLevel)))))
  def st_cell_cover(wkb: Column): Column = col(STCellCover(expr(wkb)))
  def st_simplify_vw(wkb: Column, threshold: Double): Column =
    col(STSimplifyVW(expr(wkb), expr(lit(threshold))))
  def st_geo_distance(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column =
    col(STGeoDistance(Seq(expr(lon1), expr(lat1), expr(lon2), expr(lat2))))

  /** Apply a ring transform to every ring of every polygon of a geometry. */
  def mapPolygonRings(g: Geometry, f: IndexedSeq[(Double, Double)] => IndexedSeq[(Double, Double)]): Geometry = {
    def ringPts(r: org.locationtech.jts.geom.LineString): IndexedSeq[(Double, Double)] =
      r.getCoordinates.map(c => (c.x, c.y)).toIndexedSeq
    def mapPoly(p: org.locationtech.jts.geom.Polygon): org.locationtech.jts.geom.Polygon = {
      val shell = f(ringPts(p.getExteriorRing))
      val holes = (0 until p.getNumInteriorRing).map(i => f(ringPts(p.getInteriorRingN(i))))
      Jts.polygon(shell, holes)
    }
    g match {
      case p: org.locationtech.jts.geom.Polygon => mapPoly(p)
      case mp: org.locationtech.jts.geom.MultiPolygon =>
        Jts.factory.createMultiPolygon(
          (0 until mp.getNumGeometries).map(i => mapPoly(mp.getGeometryN(i).asInstanceOf[org.locationtech.jts.geom.Polygon])).toArray)
      case other => other
    }
  }

  /** name → builder for every SQL-callable ST function — the single list
    * behind both `register` (temp functions on an existing session) and
    * `graft.GraftExtensions` (spark.sql.extensions injection). Each builder
    * checks its argument count first: a builder would otherwise drop extra
    * arguments, and Seq-children expressions pass ExpectsInputTypes'
    * zip-based check at any arity (zip truncates).
    */
  val registrations: Seq[(String, Seq[Expression] => Expression)] = Seq[(String, Int, Seq[Expression] => Expression)](
    ("st_point", 2, es => STPoint(es(0), es(1))),
    ("st_contains_point", 3, es => STContainsPoint(es(0), es(1), es(2))),
    ("st_contains_point_keyed", 4, STContainsPointKeyed(_)),
    ("st_intersects", 2, es => STIntersects(es(0), es(1))),
    ("st_difference", 2, es => STDifference(es(0), es(1))),
    ("st_buffer0", 1, es => STBuffer0(es(0))),
    ("st_area", 1, es => STArea(es(0))),
    ("st_envelope", 1, es => STEnvelope(es(0))),
    ("st_cell_at", 3, es => STCellAt(es(0), es(1), es(2))),
    ("st_cell_ancestors", 4, STCellAncestors(_)),
    ("st_cell_cover", 1, es => STCellCover(es(0))),
    ("st_cell_cover_join", 1, es => STCellCoverJoin(es(0))),
    ("st_simplify_vw", 2, es => STSimplifyVW(es(0), es(1))),
    ("st_geo_distance", 4, STGeoDistance(_))
  ).map { case (name, arity, build) =>
    name -> { (es: Seq[Expression]) =>
      if (es.length != arity)
        throw new IllegalArgumentException(s"$name takes $arity arguments, got ${es.length}")
      build(es)
    }
  }

  /** Register SQL-callable versions (used by tests and spark.sql parity). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    registrations.foreach { case (name, b) =>
      reg.createOrReplaceTempFunction(name, b, "built-in")
    }
  }
}
