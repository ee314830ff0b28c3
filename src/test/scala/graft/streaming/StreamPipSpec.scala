package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkTestBase
import graft.operators.Ingest
import graft.sources.Fixtures

/** Streaming PIP enrichment == batch: the same broadcast-index probe over
  * a file-source stream of pages, windowed tile counts with watermark,
  * checked row-for-row against the identical batch computation.
  */
class StreamPipSpec extends SparkTestBase {
  import spark.implicits._

  test("streaming enrich + windowed tile counts equals batch") {
    val polys = Ingest.polygons(spark, Fixtures.nodesDf(spark), Fixtures.waysDf(spark),
      Fixtures.relationsDf(spark), Fixtures.blacklist).cache()
    val covers = Ingest.cellCovers(polys).cache()

    val pages = Fixtures.pages(spark, sf0001)
      .select("url", "warc_ts", "lang", "lon", "lat")
    val src = tempDir("graft_streampip").toString
    pages.write.mode("overwrite").parquet(src)

    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", "2")
      .parquet(src)

    // fixture warc_ts spans ~8 minutes: 2-minute windows + 1-minute
    // watermark so append mode closes (and emits) all but the tail window
    val out = StreamPip.tileCountsWindowed(
      StreamPip.enrich(stream, covers, polys), z = 10,
      windowLen = "2 minutes", watermark = "1 minute")

    val q = out.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_pip")
      .option("checkpointLocation", tempDir("graft_streampip_ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val got = spark.table("stream_pip")
      .select("win_start", "z", "tx", "ty", "n_pages", "n_langs")
      .as[(java.sql.Timestamp, Int, Long, Long, Long, Long)].collect().toSet

    val batch = StreamPip.tileCountsWindowed(
      StreamPip.enrich(spark.read.parquet(src), covers, polys), z = 10,
      windowLen = "2 minutes", watermark = "1 minute")
      .as[(java.sql.Timestamp, Int, Long, Long, Long, Long)].collect().toSet

    // append mode emits only watermark-closed windows: everything emitted
    // must equal the batch rows, and only the tail window may be withheld
    assert(got.nonEmpty)
    assert(got.subsetOf(batch), s"stream-only rows: ${(got -- batch).take(3)}")
    // a 1-minute watermark can hold back the tail window plus the one
    // whose end lies within the final watermark gap
    val withheldWindows = batch.map(_._1).size - got.map(_._1).size
    assert(withheldWindows <= 2, s"$withheldWindows windows withheld")
  }
}
