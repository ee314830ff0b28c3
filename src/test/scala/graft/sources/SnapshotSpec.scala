package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class SnapshotSpec extends SparkTestBase {
  import spark.implicits._

  def freshBase(): String = tempDir("graft_snap").toString

  def docs() = Fixtures.documents(spark, sf0001).select("doc_id", "lang", "text")

  test("commit writes manifest with per-partition rows/bytes/lineage") {
    val base = freshBase()
    val m = SnapshotTable.commit(docs(), base, "documents", "lang",
      inputs = Seq("sf0.001/documents.parquet"))
    assert(m.snapshot == 0 && m.parent == -1)
    assert(m.partitions.nonEmpty)
    val total = m.partitions.map(_.rows).sum
    assert(total == docs().count())
    m.partitions.foreach { p =>
      assert(p.bytes > 0 && p.rows > 0)
      assert(p.lineage == Seq("sf0.001/documents.parquet"))
    }
    // read back
    val back = SnapshotTable.read(spark, base, "documents")
    assert(back.count() == docs().count())
    // manifest JSON round-trip
    val reloaded = SnapshotTable.latest(base, "documents").get
    assert(reloaded == m)
  }

  test("read over a MIXED snapshot (pre-shadow kept partitions + shadow partitions) restores partCol for every row") {
    // regression (round-4 ADVICE): a snapshot can reference legacy
    // partitions written before the shadow column existed (keepFromParent
    // carries them across commits). Without mergeSchema Spark may take the
    // schema from a shadow-bearing file and read legacy rows' shadow as
    // null, which the rename would propagate into partCol.
    val base = freshBase()
    val df0 = Seq((1L, "a"), (2L, "b")).toDF("id", "part")
    val m0 = SnapshotTable.commit(df0, base, "mixed", "part")
    // simulate a PRE-SHADOW legacy partition: rewrite partition a's files
    // without the shadow column, in place
    val aDir = Paths.get(m0.partitions.find(_.key == "a").get.path)
    val legacyIds = spark.read.parquet(aDir.toString).select("id").as[Long].collect()
    val walk = Files.walk(aDir)
    try walk.filter(p => p.toString.endsWith(".parquet")).forEach(p => Files.delete(p))
    finally walk.close()
    legacyIds.toSeq.toDF("id").coalesce(1).write.mode("append").parquet(aDir.toString)
    // new commit keeps legacy partition a, writes shadow-carrying b + c
    val df1 = Seq((20L, "b"), (30L, "c")).toDF("id", "part")
    val m1 = SnapshotTable.commit(df1, base, "mixed", "part", keepFromParent = Set("a"))
    assert(m1.partitions.map(_.key).sorted == Seq("a", "b", "c"))
    val back = SnapshotTable.read(spark, base, "mixed")
      .select("id", "part").as[(Long, String)].collect().toSet
    assert(back == Set((1L, "a"), (20L, "b"), (30L, "c")),
      s"legacy rows must backfill partCol from the path, got $back")
  }

  test("null partition values are rejected loudly at commit time") {
    // the anti-join keep-filter retains null-partCol rows (the old !isin
    // dropped them); partitionBy would write them to a
    // __HIVE_DEFAULT_PARTITION__ dir that no manifest key can address —
    // fail the commit instead of recording a rows=0 phantom partition
    val base = freshBase()
    val df = Seq((1L, "a"), (2L, null.asInstanceOf[String])).toDF("id", "part")
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.commit(df, base, "nulls", "part")
    }
    assert(e.getMessage.contains("null"))
    // no manifest was written: the table stays absent
    assert(SnapshotTable.latest(base, "nulls").isEmpty)
  }

  test("partition values with escaped chars round-trip exactly through commit/read/merge") {
    // partitionBy escapes specials into %XX dir names; the read path must
    // restore LOGICAL values (regression: path-regex extraction returned
    // escaped/mis-anchored strings, silently corrupting the column and
    // making merge rewrite partitions it also kept from the parent)
    val base = freshBase()
    val vals = Seq("plain", "a b", "x:y", "p%q")
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "part")
    val m = SnapshotTable.commit(df, base, "parts", "part")
    assert(m.partitions.map(_.key).sorted == vals.sorted, "manifest keys must be logical values")
    val back = SnapshotTable.read(spark, base, "parts")
    assert(back.select("part").as[String].collect().sorted.toSeq == vals.sorted)
    assert(back.select("id", "part").as[(Long, String)].collect().toSet ==
      vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSet)
    // merge touching ONE special partition must keep the others untouched
    val up = Seq((10L, "a b")).toDF("id", "part")
    val m2 = SnapshotTable.merge(spark, base, "parts", "part", "id",
      up, deleteKeys = Seq.empty[Long].toDF("id"), seq = 1L)
    val keptPaths = m2.partitions.filter(_.key != "a b").map(_.path)
    assert(keptPaths.forall(_.contains("snapshot=0")),
      s"untouched partitions must be referenced from the parent, got $keptPaths")
    val after = SnapshotTable.read(spark, base, "parts")
    assert(after.count() == 5)
    assert(after.filter(col("part") === "a b").count() == 2)
  }

  test("resume after a simulated crash completes only missing partitions; result identical") {
    val base1 = freshBase(); val base2 = freshBase()
    val full = SnapshotTable.commit(docs(), base1, "documents", "lang")

    // crash simulation: only two partitions got written, no manifest
    val dataDir = Paths.get(base2, "documents", "data", "snapshot=0")
    docs().filter($"lang".isin("en", "de"))
      .write.partitionBy("lang").parquet(dataDir.toString)
    assert(SnapshotTable.latest(base2, "documents").isEmpty)

    val resumed = SnapshotTable.resume(docs(), base2, "documents", "lang")
    assert(resumed.partitions.map(p => (p.key, p.rows)).sortBy(_._1) ==
      full.partitions.map(p => (p.key, p.rows)).sortBy(_._1))
    val a = SnapshotTable.read(spark, base1, "documents")
      .orderBy("doc_id").collect()
    val b = SnapshotTable.read(spark, base2, "documents")
      .orderBy("doc_id").collect()
    assert(a.sameElements(b))
  }

  test("resume after a COMPLETED commit is a no-op (no new snapshot, nothing recomputed)") {
    val base = freshBase()
    val m = SnapshotTable.commit(docs(), base, "documents", "lang")
    val resumed = SnapshotTable.resume(docs(), base, "documents", "lang")
    assert(resumed == m, "resume with nothing interrupted must return the completed manifest")
    assert(SnapshotTable.latest(base, "documents").get.snapshot == m.snapshot)
  }

  test("resume recomputes torn partitions (dir present, no completion marker)") {
    val base1 = freshBase(); val base2 = freshBase()
    val full = SnapshotTable.commit(docs(), base1, "documents", "lang")

    // crash simulation: 'en' fully written AND marked complete; 'de' has a
    // partition dir with only HALF its rows and NO marker (task-committed
    // files of a job killed mid-flight). Pre-marker resume would have
    // trusted the torn 'de' dir and silently lost rows.
    // (crash files carry the shadow value column exactly as commit()'s own
    // interrupted write would have)
    val dataDir = Paths.get(base2, "documents", "data", "snapshot=0")
    docs().filter($"lang" === "en")
      .withColumn(SnapshotTable.shadowCol("lang"), $"lang")
      .write.partitionBy("lang").parquet(dataDir.toString)
    Files.writeString(dataDir.resolve("lang=en").resolve("_GRAFT_COMMITTED"), "")
    val deIds = docs().filter($"lang" === "de").select("doc_id")
      .as[Long].collect().sorted
    docs().filter($"lang" === "de" && $"doc_id".isin(deIds.take(deIds.length / 2): _*))
      .withColumn(SnapshotTable.shadowCol("lang"), $"lang")
      .write.mode("append").partitionBy("lang").parquet(dataDir.toString)
    assert(Files.exists(dataDir.resolve("lang=de")) &&
      !Files.exists(dataDir.resolve("lang=de").resolve("_GRAFT_COMMITTED")))

    val resumed = SnapshotTable.resume(docs(), base2, "documents", "lang")
    assert(resumed.partitions.map(p => (p.key, p.rows)).sortBy(_._1) ==
      full.partitions.map(p => (p.key, p.rows)).sortBy(_._1),
      "torn 'de' partition must be recomputed in full")
    val a = SnapshotTable.read(spark, base1, "documents").orderBy("doc_id").collect()
    val b = SnapshotTable.read(spark, base2, "documents").orderBy("doc_id").collect()
    assert(a.sameElements(b))
  }

  test("merge: upserts + deletes rewrite only affected partitions, seq recorded") {
    val base = freshBase()
    SnapshotTable.commit(docs(), base, "documents", "lang")
    val before = SnapshotTable.latest(base, "documents").get

    val upserts = Seq((9999L, "en", "brand new doc"), (0L, "en", "rewritten doc 0"))
      .toDF("doc_id", "lang", "text")
    val deletes = Seq(1L).toDF("doc_id") // doc 1 is zh
    val m = SnapshotTable.merge(spark, base, "documents", "lang", "doc_id",
      upserts, deletes, seq = 42L)
    assert(m.seq == 42L && m.snapshot == before.snapshot + 1)

    val after = SnapshotTable.read(spark, base, "documents")
    assert(after.filter($"doc_id" === 9999L).count() == 1)
    assert(after.filter($"doc_id" === 0L).select("text").as[String].head() == "rewritten doc 0")
    assert(after.filter($"doc_id" === 1L).count() == 0)
    assert(after.count() == docs().count() + 1 - 1)

    // untouched partitions referenced from parent (same path, not rewritten).
    // doc 0 is originally 'es' and moves to 'en', so es is rewritten too.
    val beforePaths = before.partitions.map(p => p.key -> p.path).toMap
    val changedLangs = Set("en", "zh", "es")
    m.partitions.filterNot(p => changedLangs(p.key)).foreach { p =>
      assert(beforePaths(p.key) == p.path, s"partition ${p.key} should be carried over")
    }
    m.partitions.filter(p => changedLangs(p.key)).foreach { p =>
      assert(beforePaths(p.key) != p.path, s"partition ${p.key} should be rewritten")
    }
  }

  test("structured-streaming ingestion: change files applied in sequence order via foreachBatch") {
    val base = freshBase()
    SnapshotTable.commit(docs(), base, "documents", "lang")

    // two sequence-numbered change batches (the .osc.gz analogue)
    val changeDir = tempDir("graft_changes")
    Seq((0L, "upsert", 5000L, "en", "change batch zero"))
      .toDF("seq", "op", "doc_id", "lang", "text")
      .write.parquet(changeDir.resolve("batch-0").toString)
    Seq((1L, "delete", 5000L, "en", ""), (1L, "upsert", 5001L, "de", "second batch"))
      .toDF("seq", "op", "doc_id", "lang", "text")
      .write.parquet(changeDir.resolve("batch-1").toString)

    val schema = "seq LONG, op STRING, doc_id LONG, lang STRING, text STRING"
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(changeDir.toString + "/batch-*")

    val query = stream.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", tempDir("graft_ckpt").toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select("seq").distinct().orderBy("seq").collect().map(_.getLong(0)).foreach { s =>
          val b = batch.filter(col("seq") === s)
          SnapshotTable.merge(spark, base, "documents", "lang", "doc_id",
            b.filter($"op" === "upsert").select("doc_id", "lang", "text"),
            b.filter($"op" === "delete").select("doc_id"), seq = s)
        }
      }
      .start()
    query.awaitTermination()

    val m = SnapshotTable.latest(base, "documents").get
    assert(m.seq == 1L, "last applied sequence checkpointed")
    val after = SnapshotTable.read(spark, base, "documents")
    assert(after.filter($"doc_id" === 5000L).count() == 0, "upserted then deleted")
    assert(after.filter($"doc_id" === 5001L).count() == 1)
  }
}
