package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.{OscDiff, SnapshotTable}

/** Micro-batch diff REPLICATION: a Structured Streaming file source over
  * `<oscDir>/<seq>.osc.gz` sequence files, applied per micro-batch into a
  * [[SnapshotTable]] via foreachBatch — the engine's answer to the
  * reference's state.txt polling loop
  * (/root/reference/osmtopo/source.go:86-121), with its sequence
  * checkpoint living in the SNAPSHOT MANIFEST's `seq` field:
  *
  *  - a micro-batch merges ALL its fresh sequence files in one keyed
  *    MERGE (last-writer-wins per id by (seq, ord) — exactly
  *    [[OscDiff.winners]], applyLast's rule, which equals sequential
  *    application), committing ONE snapshot per batch whose manifest
  *    records the batch's max seq;
  *  - EXACTLY-ONCE application on top of the source's at-least-once
  *    delivery: a streaming file source re-delivers the in-flight batch
  *    after a crash/restart (offsets are WAL'd before execution, the
  *    commit log after), and the re-delivered batch filters its files to
  *    `seq > manifest.seq` — everything already merged is skipped, so a
  *    replayed batch is a no-op commit-wise;
  *  - sequence files must ARRIVE in seq order (the reference's fetch
  *    loop guarantees this — it polls state.txt and downloads
  *    sequentially); a straggler below the checkpoint is treated as
  *    already applied. Within one batch, order is irrelevant (the winner
  *    rule is order-free).
  */
object OscStream {

  /** Start the replication stream for the node table. `partExpr` derives
    * the snapshot partition column from (id, lat, lon) upsert rows.
    * `onBatchApplied` is a TEST SEAM invoked after a batch's merge
    * commits but before the micro-batch itself commits — throwing there
    * simulates a crash in the at-least-once window (the spec's
    * kill-and-resume uses it).
    */
  def replicateNodes(spark: SparkSession, oscDir: String, base: String,
                     table: String, partCol: String, partExpr: Column,
                     checkpointDir: String,
                     trigger: Trigger = Trigger.AvailableNow(),
                     maxFilesPerTrigger: Int = 2,
                     onBatchApplied: Long => Unit = _ => ()): StreamingQuery =
    spark.readStream
      .format("binaryFile")
      // the binaryFile source's FIXED schema (file-format sources require
      // it stated explicitly when streaming)
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY"))
      .option("pathGlobFilter", "*.osc.gz")
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .load(oscDir)
      .select("path")
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val files = batch.collect().map { r =>
          val path = r.getString(0)
          val name = path.substring(path.lastIndexOf('/') + 1)
          (name.stripSuffix(".osc.gz").toLong, path)
        }.toSeq.sortBy(_._1)
        applyFiles(spark, files, base, table, partCol, partExpr)
        onBatchApplied(batchId)
        ()
      }
      .start()

  /** One batch's application: filter to sequences above the manifest
    * checkpoint, parse those files, merge the (seq, ord) winners. Public
    * so the batch path and specs can apply a file set without a stream.
    * Returns the number of fresh sequence files applied (0 = replayed
    * batch, nothing to do).
    */
  def applyFiles(spark: SparkSession, files: Seq[(Long, String)], base: String,
                 table: String, partCol: String, partExpr: Column): Int = {
    val checkpoint = SnapshotTable.latest(base, table).map(_.seq).getOrElse(Long.MinValue)
    val fresh = files.filter(_._1 > checkpoint)
    if (fresh.isEmpty) return 0
    // The in-order arrival contract, enforced LOUDLY: a batch's fresh
    // sequences must be exactly the next contiguous run above the
    // checkpoint. The reference fetcher downloads sequences one by one
    // (source.go:86-121), so real arrivals satisfy this (file mtimes
    // ascend with seq and the file source admits oldest-first); but the
    // source breaks mtime TIES arbitrarily, and applying {1,6} before
    // {2..5} would let lower sequences overwrite higher ones — silent
    // data corruption. Failing the query here instead surfaces the
    // violated contract; the checkpoint makes the restart resumable.
    val seqs = fresh.map(_._1)
    val start = if (checkpoint == Long.MinValue) seqs.head else checkpoint + 1
    require(seqs == (start until start + seqs.length),
      s"osc sequence gap: batch holds $seqs but the checkpoint is $checkpoint — " +
        "sequence files must arrive in order (fetcher contract)")
    val winners = OscDiff.winners(OscDiff.readKindFiles(spark, fresh, "node"))
    val deleteKeys = winners.filter(col("action") === OscDiff.Delete).select("id")
    val upserts = winners.filter(col("action") =!= OscDiff.Delete)
      .select(col("id"), col("lat"), col("lon"))
      .withColumn(partCol, partExpr)
    SnapshotTable.merge(spark, base, table, partCol, "id", upserts, deleteKeys,
      seq = fresh.map(_._1).max)
    fresh.length
  }
}
