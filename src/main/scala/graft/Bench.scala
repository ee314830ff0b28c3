package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-round benchmark: times every SparkEntry query at
  * SPARK_GRAFT_SF_DIR, plus the headline spatial-join + tiling pipeline on
  * a replicated page table (SPARK_GRAFT_REPLICATE × documents) reporting
  * pages/sec. Prints ONE JSON line.
  */
object Bench {

  def session(cpus: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Materialize the replicated pages fact table as parquet once (the
    * north rule's input is an Iceberg-style *table* of pages, so the
    * benchmark reads a table rather than re-deriving rows), partitioned
    * for parallel scans.
    */
  def pagesTable(spark: SparkSession, sfDir: String, replicate: Int): String = {
    val sfTag = sfDir.replaceAll("[^a-z0-9.]", "_")
    // content-fingerprinted like SparkEntry's scratch dirs: a regenerated
    // fixture at the same path must never benchmark a stale table
    val path = s"/tmp/graft_bench/pages_${sfTag}_${SparkEntry.fixtureFingerprint(sfDir)}_rep$replicate"
    // gate on the committer's _SUCCESS, not dir existence: a killed prior
    // run leaves a partial directory that would silently benchmark a
    // truncated table
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_SUCCESS"))) {
      sources.Fixtures.pages(spark, sfDir, replicate)
        .select("url", "lang", "lon", "lat")
        .repartition(64)
        .write.mode("overwrite").parquet(path)
    }
    path
  }

  /** The headline pipeline: pages table scan → PIP join (all layers) →
    * quadkey tile aggregation. Returns (pages processed, seconds).
    */
  def headline(spark: SparkSession, sfDir: String, replicate: Int): (Long, Double) = {
    // SparkEntry's session memo, NOT a private cache copy of the same
    // plan: CacheManager matches cached entries by logical plan, so a
    // second cache()+unpersist() of the identical Ingest plan would evict
    // the memo's entry and leave SparkEntry.dims handing out silently
    // uncached DataFrames to every later query. The memo owns the
    // lifecycle; repeated headline passes reuse one cached copy.
    val (polys, covers) = SparkEntry.sharedDims(spark)
    polys.count(); covers.count() // materialize dims outside the timed section

    val pages = spark.read.parquet(pagesTable(spark, sfDir, replicate))
    val nPages = pages.count()

    val t0 = System.nanoTime()
    val matches = operators.PipJoin.matchesIndexed(pages, covers, polys, extraPageCols = Seq("lang", "lon", "lat"))
    val tiled = operators.Tiling.tileCounts(
      matches.select(col("url"), col("lang"), col("lon"), col("lat")), 10)
    tiled.count()
    val secs = (System.nanoTime() - t0) / 1e9
    (nPages, secs)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val replicate = sys.env.getOrElse("SPARK_GRAFT_REPLICATE", "50").toInt
    // min-of-N per query (default 3): single-run timings on a shared VM
    // are contention-noise-dominated — round 4's q_topo_arcs "regression"
    // cost an investigation and turned out to be weather. Rep 1 runs every
    // query once in alphabetical order (comparable to the single-run
    // benches of rounds 1-4, reported as "first"); "secs" is the min
    // across reps, so a contended rep shows up as first >> secs instead of
    // as a phantom regression. Session memos (dims/topo/clusters) are warm
    // after rep 1 by design — the engine's documented session-LRU reuse.
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    val spark = session(cpus)

    // Untimed session warmup: JVM/codegen/shuffle-machinery spin-up used
    // to land entirely on the alphabetically-first query's timing
    // (q_agg_bbox read ~7 s of pure warmup). Deliberately NEUTRAL — a
    // parquet scan + a synthetic shuffle, nothing that pre-computes any
    // measured query's actual work (no dims/cluster memo warming).
    try {
      spark.read.parquet(s"$sfDir/documents.parquet").limit(1000).count()
      spark.range(1000000).groupBy(expr("id % 7")).count().count()
    } catch { case _: Throwable => () }

    // Per-query status: a broken query must show up as an error in the
    // bench output, never as a fast-and-fine timing.
    case class QStat(name: String, secs: Double, first: Double, rows: Long,
                     error: Option[String])
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
    val samples: Seq[Seq[(String, Double, Long, Option[String])]] =
      (1 to reps).map { _ =>
        named.map { case (name, fn) =>
          val t0 = System.nanoTime()
          val (rows, err) =
            try (fn(spark, sfDir).count(), None)
            catch { case e: Throwable => (-1L, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")) }
          (name, (System.nanoTime() - t0) / 1e9, rows, err)
        }
      }
    val results = named.indices.map { i =>
      val runs = samples.map(_(i))
      val name = runs.head._1
      val err = runs.flatMap(_._4).headOption
      val ok = runs.filter(_._4.isEmpty)
      QStat(name,
        secs = (if (ok.nonEmpty) ok else runs).map(_._2).min,
        first = runs.head._2,
        rows = ok.headOption.map(_._3).getOrElse(-1L),
        error = err)
    }

    headline(spark, sfDir, replicate) // warm pass (codegen + page cache)
    val headlines = (1 to reps).map(_ => headline(spark, sfDir, replicate))
    val nPages = headlines.head._1
    val headlineSecs = headlines.map(_._2).min
    val pagesPerSec = nPages / headlineSecs

    def num(fmt: String, v: Double): String = JsonUtil.num(fmt, v)
    def jstr(s: String): String = JsonUtil.quote(s)
    val timed = results :+ QStat("headline_pip_tiling", headlineSecs, headlines.head._2, nPages, None)
    val qs = timed.map { q =>
      val err = q.error.map(jstr).getOrElse("null")
      s"""${jstr(q.name)}:{"secs":${num("%.3f", q.secs)},"first":${num("%.3f", q.first)},"rows":${q.rows},"error":$err}"""
    }.mkString("{", ",", "}")
    // the same per-query min-of-N seconds as a flat numeric map
    val querySecs = timed.map(q => s"${jstr(q.name)}:${num("%.3f", q.secs)}").mkString("{", ",", "}")
    val nErrors = results.count(_.error.isDefined)
    val total = results.map(_.secs).sum + headlineSecs
    println(s"""{"metric":"total","value":${num("%.3f", total)},"unit":"sec","bench_reps":$reps,"queries":$qs,""" +
      s""""query_errors":$nErrors,""" +
      s""""headline_pages":$nPages,"headline_pages_per_sec":${num("%.1f", pagesPerSec)},"sf":"$sfDir",""" +
      s""""query_secs":$querySecs}""")
    if (nErrors > 0)
      System.err.println(s"[bench] $nErrors queries FAILED: " +
        results.filter(_.error.isDefined).map(q => s"${q.name}: ${q.error.get}").mkString("; "))
    spark.stop()
  }
}
