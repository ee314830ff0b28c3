package graft.operators

import java.nio.ByteBuffer

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.DimensionKey

import graft.SessionMemo
import graft.cells.{Cell, Coverer}

/** The polygon dimension on the driver, one handle per dimension version,
  * as the reference keeps one lookup index per data version
  * (env.go:181-207, lookup.go:156-174): the cover rows and their
  * statistics, the polygon rows, the [[PipIndex]] and its broadcast.
  *
  * [[SessionMemo]] slot `dimension` holds it, versioned by both sides;
  * `dimension.covers` its cover half, versioned by the covers alone. A
  * side's version is its [[DimensionKey]] when it has one (a warm call runs
  * no Spark job), else its collected content. A miss collects in one job
  * (both sides as one union), outside the memo's lock. A replaced broadcast
  * is left to Spark's ContextCleaner: older plans may still run on it.
  */
final class Dimension private (sc: SparkContext, val covers: Dimension.Covers, rows: Array[Dimension.Polygon]) {
  /** Fails, naming the relId, when `rows` repeats one. Its polygons hold
    * the rows' WKB arrays, not copies. */
  val index: PipIndex = PipIndex.of(covers.rows, rows.map(p => (p.relId, p.wkb)))
  val polygons: Map[Long, Dimension.Polygon] = rows.map(p => p.relId -> p).toMap

  /** Made on first use: a driver-only reader never pays for it. */
  lazy val broadcast: Broadcast[PipIndex] = sc.broadcast(index)
}

object Dimension {
  /** `layer`/`name` are null and `adminLevel` 0 where the frame lacks them. */
  final case class Polygon(relId: Long, layer: String, name: String, adminLevel: Int, wkb: Array[Byte])

  /** The cover rows (relId, layer, cellId) and the statistics the plans are
    * chosen by, pure functions of the rows. */
  final class Covers private[Dimension] (val rows: Array[(Long, String, Long)]) {
    private lazy val levels: Array[Int] = rows.map(r => Cell.level(r._3)).sorted

    /** The levels the ancestor explode probes; the narrowest band for an
      * empty cover, which matches nothing. */
    lazy val levelBand: (Int, Int) =
      if (levels.isEmpty) (Coverer.MinLevel, Coverer.MinLevel) else (levels.head, levels.last)

    /** The partitioned plan's join level, where most cover cells map up to
      * one ancestor and the build rows per key stay bounded: the
      * 75th-percentile level, interpolated between ranks as Spark's
      * `percentile` (exact: the rank fraction is a multiple of 1/4), rounded,
      * clamped to [MinLevel, 12]. */
    lazy val joinLevel: Int =
      if (levels.isEmpty) Coverer.MinLevel
      else {
        val pos = (levels.length - 1) * 0.75
        val (lo, hi) = (levels(pos.toInt), levels(pos.ceil.toInt))
        math.max(Coverer.MinLevel, math.min(12, math.round(lo + (pos - pos.floor) * (hi - lo)).toInt))
      }

    /** The distinct join cells of `PipJoin.coverJoinCells` at level `jl`.
      * A cell's level-`jl` cells, its ancestor or its descendants, are one
      * run of Hilbert positions: this is the size of the runs' union. */
    def joinCells(jl: Int): Long = {
      val shift = 2 * (Cell.MaxLevel - jl) + 1
      val runs = rows.map(r => (Cell.rangeMin(r._3) >>> shift, Cell.rangeMax(r._3) >>> shift)).sorted
      var (n, end) = (0L, -1L)
      runs.foreach { case (a, b) => if (b > end) { n += b - math.max(a, end + 1) + 1; end = b } }
      n
    }

    /** Each relation's cover cells, ascending. */
    lazy val cells: Map[Long, Array[Long]] = rows.groupBy(_._1).map { case (id, cs) => id -> cs.map(_._3).sorted }
  }

  /** The cover half of `covers`' version; reads no polygon. */
  def covers(covers: DataFrame): Covers = {
    lazy val rows = coverSide(covers).collect().map(r => (r.getLong(1), r.getString(2), r.getLong(3)))
    memo(covers.sparkSession, "dimension.covers", version(covers, rows.toSeq))(new Covers(rows))
  }

  /** `covers` has (relId, layer, cellId); `polygons` (relId, wkb), one row
    * per relId, and may have `layer`, `name` and `adminLevel`. */
  def of(covers: DataFrame, polygons: DataFrame): Dimension = {
    val spark = covers.sparkSession
    lazy val (coverRows, polyRows) = collect(covers, polygons)
    val coverVersion = version(covers, coverRows.toSeq)
    val polyVersion = version(polygons,
      polyRows.toSeq.map(p => (p.relId, p.layer, p.name, p.adminLevel, ByteBuffer.wrap(p.wkb))))
    memo(spark, "dimension", (coverVersion, polyVersion))(new Dimension(spark.sparkContext,
      memo(spark, "dimension.covers", coverVersion)(new Covers(coverRows)), polyRows))
  }

  private def version(side: DataFrame, content: => Any): Any = DimensionKey.of(side).getOrElse(content)

  /** Built on first use under its own lock, not the memo's: callers of one
    * version wait for one build, and a failed build is retried. */
  private final class Pending[V](build: => V) { lazy val value: V = build }

  private def memo[V](spark: SparkSession, slot: String, version: Any)(build: => V): V =
    SessionMemo.get(spark, slot, version)(new Pending(build))(_ => ()).value

  private def coverSide(covers: DataFrame): DataFrame = covers.select(lit(true), col("relId").cast("long"), col("layer"),
    col("cellId").cast("long"), lit(null).cast("binary"), lit(null).cast("string"), lit(null).cast("int"))

  /** Both sides as one tagged union, split on the driver; a union collects
    * its children's partitions in order, so each side keeps its row order. */
  private def collect(covers: DataFrame, polygons: DataFrame): (Array[(Long, String, Long)], Array[Polygon]) = {
    def optional(c: String, t: String) = if (polygons.columns.contains(c)) col(c).cast(t) else lit(null).cast(t)
    val (cs, ps) = coverSide(covers).union(polygons.select(lit(false), col("relId").cast("long"),
      optional("layer", "string"), lit(null).cast("long"), col("wkb"), optional("name", "string"),
      optional("adminLevel", "int"))).collect().partition(_.getBoolean(0))
    (cs.map(r => (r.getLong(1), r.getString(2), r.getLong(3))), ps.map(r =>
      Polygon(r.getLong(1), r.getString(2), r.getString(5), if (r.isNullAt(6)) 0 else r.getInt(6), r.getAs[Array[Byte]](4))))
  }
}
