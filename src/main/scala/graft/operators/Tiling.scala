package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SketchPreAggregation

import graft.cells.{Cell, Coverer}
import graft.geom.Jts

/** E6: quadkey tiling and raster⇄vector conversion (graft extension
  * required by the north rule; not present in the reference, which tiles
  * only by export slices).
  */
object Tiling {

  /** SQL for tile x/y at zoom z over the equirectangular grid — shared
    * verbatim with the DuckDB oracle (floor math, no engine-specific
    * functions; CAST pins BIGINT in both dialects).
    */
  // clamp BOTH ends: out-of-range geocodes must land on the edge tile
  // (matching st_cell_at's grid clamp), not on phantom negative indices
  def txSql(z: Int): String = s"CAST(floor(greatest(least((lon + 180.0) / 360.0, 1.0 - 1e-12), 0.0) * ${1L << z}) AS BIGINT)"
  def tySql(z: Int): String = s"CAST(floor(greatest(least((lat + 90.0) / 180.0, 1.0 - 1e-12), 0.0) * ${1L << z}) AS BIGINT)"

  /** Tile assignment: one row per page with (z, tx, ty) + the Hilbert cell
    * id and quadkey of the same tile.
    */
  def assign(pages: DataFrame, z: Int): DataFrame = {
    import graft.functions.GeomExpressions._
    pages
      .withColumn("z", lit(z))
      .withColumn("tx", expr(txSql(z)))
      .withColumn("ty", expr(tySql(z)))
      .withColumn("cellId", st_cell_at(col("lon"), col("lat"), z))
  }

  /** Per-tile aggregation (tile = groupBy quadkey cell). Distinct-language
    * counting uses HLL (approx_count_distinct): an exact countDistinct
    * defeats map-side partial aggregation and shuffles every input row —
    * at 10^12 rows the shuffle, not the agg, becomes the job. HLL partials
    * reduce the shuffle to one sketch per (tile, map task).
    *
    * `lang` is marked low-cardinality, so the aggregate plans through
    * [[org.apache.spark.sql.graft.SketchPreAggregation]], over `hash`,
    * the 64-bit hash HLL++ takes of `lang` (null for a null `lang`):
    *
    *  1. a codegen'd `HashAggregate(keys z, tx, ty, hash: partial_count)`
    *     in the scan's whole-stage stage;
    *  2. `ObjectHashAggregate(keys z, tx, ty: merge_count, partial
    *     sketch(hash))`, over at most tiles × languages rows per task;
    *  3. the one `Exchange hashpartitioning(z, tx, ty)` and the final
    *     `ObjectHashAggregate`.
    *
    * The sketch ([[org.apache.spark.sql.graft.SparseHll]]) is HLL++'s
    * registers, shuffled as the few non-zero register words of a tile's
    * languages in one binary field, not HLL++'s 52 `long` fields.
    * Unmarked, every input row would go through the interpreted HLL
    * partial. Rows are bit-identical to the unmarked aggregate (a
    * duplicate value changes no HLL register; counts sum). The mark is an
    * opt-in, not a rule for every sketch: on a value unique per row, step
    * 1 keeps one hash-map entry per input row and costs more than it saves.
    * The Strategy is installed into the session here, idempotently,
    * because sessions built without `graft.GraftExtensions` lack it.
    */
  def tileCounts(pages: DataFrame, z: Int): DataFrame = {
    SketchPreAggregation.install(pages.sparkSession)
    assign(pages, z)
      .groupBy("z", "tx", "ty")
      .agg(count(lit(1)).as("n_pages"),
        approx_count_distinct(SketchPreAggregation.lowCardinality(col("lang"))).as("n_langs"))
  }

  /** Hilbert-ordered spatial range partitioning: repartitionByRange on the
    * point's Hilbert cell id clusters spatially-near rows into the same
    * partitions (the distributed analogue of the reference's RocksDB key
    * clustering) — downstream per-tile work and parquet min/max skipping
    * benefit from the locality.
    */
  def spatialRepartition(pages: DataFrame, level: Int, numPartitions: Int): DataFrame = {
    import graft.functions.GeomExpressions._
    pages
      .withColumn("__hk", st_cell_at(col("lon"), col("lat"), level))
      .repartitionByRange(numPartitions, col("__hk"))
      .drop("__hk")
  }

  /** Vector→raster: polygon → the complete set of level-`level` cells
    * intersecting it (grid cover, exact level). Output (relId, layer,
    * cellId).
    */
  def rasterize(polygons: DataFrame, level: Int): DataFrame = {
    val spark = polygons.sparkSession
    import spark.implicits._
    polygons.select(col("relId"), col("layer"), col("wkb"))
      .as[(Long, String, Array[Byte])]
      .flatMap { case (relId, layer, wkb) =>
        // EXACT cell/geometry intersection (JTS prepared test) over the
        // whole geometry — the vertex-approximate Coverer.cover would
        // miss cells crossed only by an edge (no vertex inside, no cell
        // corner inside the polygon) and ignored holes/multipolygon
        // structure, breaking the documented "complete set of
        // intersecting cells" contract
        Coverer.coverExact(Jts.fromWkb(wkb),
            minLevel = level, maxLevel = level, maxCells = Int.MaxValue)
          .iterator.map(c => (relId, layer, c))
      }
      .toDF("relId", "layer", "cellId")
  }

  /** Raster→vector: reconstruct a polygon per relId as the union of its
    * raster cells' boxes (per-key local union — cell counts are bounded by
    * the rasterize level).
    */
  def vectorize(raster: DataFrame): DataFrame = {
    val spark = raster.sparkSession
    import spark.implicits._
    raster.select(col("relId"), col("cellId"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (relId, it) =>
        val boxes = it.map { case (_, cellId) =>
          val (lonMin, latMin, lonMax, latMax) = Cell.bounds(cellId)
          Jts.polygon(IndexedSeq((lonMin, latMin), (lonMax, latMin), (lonMax, latMax),
            (lonMin, latMax), (lonMin, latMin))): org.locationtech.jts.geom.Geometry
        }.toSeq
        val union = org.locationtech.jts.operation.union.UnaryUnionOp.union(
          scala.jdk.CollectionConverters.SeqHasAsJava(boxes).asJava)
        (relId, Jts.toWkb(union))
      }
      .toDF("relId", "wkb")
  }
}
