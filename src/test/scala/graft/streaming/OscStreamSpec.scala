package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.SparkTestBase
import graft.sources.{OscDiff, SnapshotTable}

/** The replication loop's restart contract: a micro-batch stream of osc
  * sequence files, killed AFTER a batch's snapshot merge committed but
  * BEFORE the micro-batch itself committed (the at-least-once window),
  * must — on resume from the same checkpoint — re-deliver that batch,
  * skip its already-applied sequences via the manifest seq guard, apply
  * the rest, and end with rows identical to a single-shot application of
  * every file. Per-batch snapshot commits are asserted from the manifest
  * chain. Reference semantics: source.go:86-121 (sequence checkpoint).
  */
class OscStreamSpec extends SparkTestBase {
  import spark.implicits._

  test("kill mid-stream after merge, resume: exactly-once application, rows equal single-shot") {
    val oscDir = tempDir("graft_oscstream_src").toString
    val base = tempDir("graft_oscstream_snap").toString
    val ckpt = tempDir("graft_oscstream_ckpt").toString
    val partE = pmod(col("id"), lit(3)).cast("string")

    // base snapshot: nodes 1..20 at (i, i), seq 0
    val init = (1L to 20L).map(i => (i, i.toDouble, i.toDouble, (i % 3).toString))
      .toDF("id", "lat", "lon", "p")
    SnapshotTable.commit(init, base, "nodes", "p", seq = 0L)

    // six sequence files: each modifies two ids, creates one, deletes one
    // (deterministic; later seqs re-touch earlier ids so last-writer-wins
    // actually decides winners across batches)
    for (s <- 1 to 6) {
      val path = OscDiff.write(oscDir, s, Seq(
        OscDiff.Change(OscDiff.Modify,
          nodes = Seq((s.toLong, 100.0 + s, 200.0 + s), (s.toLong + 6, 300.0 + s, 400.0 + s))),
        OscDiff.Change(OscDiff.Create, nodes = Seq((100L + s, 1.5 * s, 2.5 * s))),
        OscDiff.Change(OscDiff.Delete, nodes = Seq((12L + s, 0.0, 0.0)))))
      // the fetcher contract: sequence files ARRIVE in order, so their
      // mtimes ascend. Writing all six in one test tick gives identical
      // mtimes, and the file source breaks ties arbitrarily — pin the
      // real-world ordering explicitly.
      Files.setLastModifiedTime(java.nio.file.Paths.get(path),
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + s * 60000L))
    }

    // run 1: crash injected AFTER the first batch's merge commits —
    // the streaming commit log never sees batch 0, so resume re-delivers it
    @volatile var crashed = false
    val q1 = OscStream.replicateNodes(spark, oscDir, base, "nodes", "p", partE, ckpt,
      maxFilesPerTrigger = 2,
      onBatchApplied = _ => if (!crashed) { crashed = true; throw new RuntimeException("injected crash") })
    intercept[StreamingQueryException] { q1.awaitTermination() }
    val midSeq = SnapshotTable.latest(base, "nodes").get.seq
    assert(midSeq >= 1 && midSeq < 6, s"expected a partial checkpoint, got seq=$midSeq")
    val snapsMid = SnapshotTable.latest(base, "nodes").get.snapshot

    // resume from the SAME checkpoint, no failure hook: the re-delivered
    // batch must be a no-op (its sequences are <= the manifest seq), the
    // remaining batches apply, one snapshot commit each
    val q2 = OscStream.replicateNodes(spark, oscDir, base, "nodes", "p", partE, ckpt,
      maxFilesPerTrigger = 2)
    q2.awaitTermination()
    val fin = SnapshotTable.latest(base, "nodes").get
    assert(fin.seq == 6L, s"final checkpoint ${fin.seq}")
    // per-batch snapshot commits: 6 files at 2 per trigger = 3 applying
    // batches total; the replayed batch committed nothing
    assert(fin.snapshot == snapsMid + 2,
      s"expected 2 more snapshots after resume, got ${fin.snapshot - snapsMid}")

    val streamed = SnapshotTable.read(spark, base, "nodes")
      .select("id", "lat", "lon", "p")
      .as[(Long, Double, Double, String)].collect().toSet

    // single-shot expectation: last-writer-wins apply of ALL changes over
    // the initial table (OscDiff.applyNodes is itself oracle-checked by
    // q_osc_apply), partitions re-derived by the same expression
    val expected = OscDiff.applyNodes(init.select("id", "lat", "lon"),
        OscDiff.nodes(spark, oscDir))
      .withColumn("p", partE)
      .as[(Long, Double, Double, String)].collect().toSet
    assert(streamed == expected,
      s"streamed-only=${(streamed -- expected).take(3)} missing=${(expected -- streamed).take(3)}")

    // idempotence: a THIRD run over the same checkpoint+dir applies nothing
    val q3 = OscStream.replicateNodes(spark, oscDir, base, "nodes", "p", partE, ckpt,
      maxFilesPerTrigger = 2)
    q3.awaitTermination()
    assert(SnapshotTable.latest(base, "nodes").get.snapshot == fin.snapshot,
      "a fully-caught-up restart must not commit new snapshots")
  }
}
