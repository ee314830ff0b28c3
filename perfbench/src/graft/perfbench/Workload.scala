package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Outcome of one timed operation: whether its output checked out, how
  * many work items it covered (pages, grid objects, requests, queries), a
  * label (the route, for the serving workload) and, when the operation
  * times its own work apart from its check, those seconds.
  */
final case class OpResult(ok: Boolean, items: Long, label: String = "", note: String = "",
                          secs: Double = Double.NaN)

/** Everything a workload needs from the run. `benchDir` holds the
  * benchmark's own scripts; `traced` is set in a traced run. */
final case class Ctx(spark: SparkSession, seed: Long, tiny: Boolean, traced: Boolean, plant: Boolean,
                     work: Path, cores: Int, benchDir: Path)

/** One benchmark workload. The harness calls, in order: `close` and
  * `setup` several times (the median set-up is `setup_s`; the last set-up
  * is kept), `reference` once (expected outputs, computed by an
  * independent path), `warmup` (skipped in a compact profiling run), then
  * `op` in a loop for the measured seconds. A traced run also calls
  * `profile`, which times the workload's layers one by one. `close`
  * releases what a set-up made.
  */
trait Workload {
  def setup(): Unit
  def reference(): Unit
  /** Untimed operations before the measured loop: the JVM is still
    * compiling the hot paths for many passes after the first one. */
  def warmup(tr: Tracer): Seq[Boolean] = (0 until warmupBlocks * block).map(i => op(tr, i).ok)
  def warmupBlocks: Int = 1
  def op(tr: Tracer, i: Int): OpResult
  /** Operations per block: one pass, or one whole request cycle of the
    * serving mix. Warm-up, the measured minimum, the best-block throughput
    * and the traced run's plain/traced alternation count in blocks. */
  def block: Int = 1
  /** Operations between two calibration jobs (`Calibration`); divides
    * `block`. */
  def calibrateEvery: Int = block
  def profile(tr: Tracer, compact: Boolean): Map[String, Double]
  /** A hash of the generated inputs: a new seed must change it. */
  def inputsDigest: Long
  /** CPU seconds used so far by the processes the workload started and
    * waited for; the harness counts them in set-up CPU. */
  def childCpuSeconds: Double = 0.0
  /** Workload-specific entries of the raw output. */
  def raw: Map[String, Any] = Map.empty
  def close(): Unit = ()
}

object Workload {
  /** Every workload; each traced run profiles the layers of all of them. */
  val names: Seq[String] = Seq("pip_tile", "topo_build", "serve", "query_suite")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "pip_tile" => new PipTile(ctx)
    case "topo_build" => new TopoBuild(ctx)
    case "serve" => new Serve(ctx)
    case "query_suite" => new QuerySuite(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Uniform double in [0, 1) from (seed, row key, stream): deterministic
    * regardless of partitioning, unlike `rand(seed)`.
    */
  def uniform(seed: Long, key: Column, stream: Int): Column =
    xxhash64(key, lit(seed), lit(stream)).bitwiseAND(lit(0xFFFFFFFFFFFFFL)).cast("double") / lit(4503599627370496.0)

  /** Row count plus an order-independent hash of every column. */
  def digest(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(pmod(xxhash64(df.columns.toSeq.map(col): _*), lit(1L << 31))), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Forces every column of `df` without collecting it. */
  def drain(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.deleteIfExists(x))

  /** Fixture admin world: polygons and cell covers, cached. */
  def fixtureDims(spark: SparkSession): (DataFrame, DataFrame) = {
    import graft.sources.Fixtures
    val polys = graft.operators.Ingest.polygons(spark, Fixtures.nodesDf(spark), Fixtures.waysDf(spark),
      Fixtures.relationsDf(spark), Fixtures.blacklist).cache()
    val covers = graft.operators.Ingest.cellCovers(polys).cache()
    polys.count(); covers.count()
    (polys, covers)
  }
}

object Stats {
  /** Median of a sample; NaN (written as null) when it is empty. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
