package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{PipJoin, Tiling}

/** Streaming spatial enrichment: each page of a stream of geocoded pages
  * is matched against the (batch) polygon dimension by the SAME
  * `st_pip_match` generator as the batch hot path
  * (`PipJoin.matchesIndexed`), over the `Dimension` handle's broadcast
  * index. The generator is stateless — no join, no state store, no
  * shuffle of the stream — so it composes with any downstream stateful
  * streaming operator; here: event-time windowed per-tile counts with a
  * watermark (the streaming analogue of the headline batch pipeline, and
  * the engine's answer to the reference's wall-clock micro-batch update
  * loop, env.go:181-207).
  */
object StreamPip {

  /** Enrich a (possibly streaming) pages frame having
    * (url, warc_ts, lang, lon, lat) with one row per (page, layer, relId)
    * containment. `covers`/`polygons` are batch dimension tables.
    */
  def enrich(pages: DataFrame, covers: DataFrame, polygons: DataFrame): DataFrame =
    PipJoin.matchesIndexed(pages, covers, polygons,
      extraPageCols = Seq("warc_ts", "lang", "lon", "lat"))

  /** Event-time windowed per-tile counts over the enriched stream:
    * one row per (window, z, tx, ty) with page count and HLL language
    * count — append-mode compatible (watermark bounds state).
    */
  def tileCountsWindowed(enriched: DataFrame, z: Int,
                         windowLen: String = "5 minutes",
                         watermark: String = "10 minutes"): DataFrame =
    Tiling.assign(enriched, z)
      .withColumn("ts", col("warc_ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("z"), col("tx"), col("ty"))
      .agg(count(lit(1)).as("n_pages"),
        approx_count_distinct(col("lang")).as("n_langs"))
      .select(col("window.start").as("win_start"), col("z"), col("tx"), col("ty"),
        col("n_pages"), col("n_langs"))
}
