package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.SparkEntry

/** Entries of `SparkEntry.queries`, one per family, over the ten driver
  * tables generated from the seed (`perfbench/suite_data.py`, the schema
  * and size of the sf0.001 fixtures). A pass runs each query once and
  * writes its rows as parquet, as `graft.Verify` does. Fixed cost per
  * query dominates: view registration, the table-plan and session memos
  * (polygons, covers, the countries topology), plan analysis and job
  * start-up.
  *
  * Each pass is checked against DuckDB: row count, column names and the
  * order-independent hash of `tools/check_oracle.py`, for every query, of
  * the engine's output against the query's `SparkEntry.oracleSql`
  * computed once per seed.
  *
  * The OSM-source family (`q_pbf_*`, `q_osc_*`, `q_shp_*`) and
  * `q_stream_pip` are left out: they write their scratch files under a
  * fixed `/tmp` path, outside the directory the benchmark may write to.
  */
final class QuerySuite(ctx: Ctx) extends Workload {
  import ctx.spark

  /** family -> query */
  val selected: Seq[(String, String)] = Seq(
    "pip" -> "q_pip_spatial", "topo" -> "q_topo_arcs", "dedup" -> "q_exact_dedup",
    "ann_knn" -> "q_ann_brute", "media" -> "q_media_png", "text" -> "q_tfidf_topk",
    "relational" -> "q_anti_join", "stream" -> "q_stream_window")

  private val mapper = new ObjectMapper()
  private val tables = ctx.work.resolve("suite-tables")
  private val outputs = ctx.work.resolve("suite-out")
  private var expected = Map.empty[String, Map[String, Any]]
  private val querySecs = scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuffer[Double]]
  var inputsDigest = 0L

  /** Runs `perfbench/suite_data.py` with `args`, waits for it and adds
    * the CPU seconds it reports to `childCpuSeconds`. */
  private def python(args: String*): Unit = {
    val p = new ProcessBuilder(("python3" +: ctx.benchDir.resolve("suite_data.py").toString +: args).asJava)
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
    val out = new String(p.getInputStream.readAllBytes()).trim
    require(p.waitFor() == 0, s"suite_data.py ${args.head} exited ${p.exitValue()}")
    childCpu += out.linesIterator.toSeq.last.toDouble
  }
  private var childCpu = 0.0
  override def childCpuSeconds: Double = childCpu

  /** Row count, column names and hash of each SQL, by DuckDB. */
  private def hashes(sqls: Map[String, String], tag: String): Map[String, Map[String, Any]] = {
    val in = ctx.work.resolve(s"suite-$tag-sql.json")
    val out = ctx.work.resolve(s"suite-$tag-hash.json")
    Files.writeString(in, mapper.writeValueAsString(sqls.asJava))
    python("hash", tables.toString, in.toString, out.toString)
    mapper.readValue(out.toFile, classOf[java.util.Map[String, java.util.Map[String, Any]]])
      .asScala.map { case (k, v) => k -> v.asScala.toMap }.toMap
  }

  def setup(): Unit = {
    Workload.deleteTree(tables)
    python("gen", ctx.seed.toString, tables.toString)
  }

  def reference(): Unit = {
    expected = hashes(selected.map { case (_, q) => q -> SparkEntry.oracleSql(q) }.toMap, "oracle")
    inputsDigest = Files.list(tables).iterator().asScala.toSeq.sortBy(_.toString)
      .map(p => java.util.Arrays.hashCode(Files.readAllBytes(p)).toLong).sum
  }

  private def run(q: String): Unit = {
    val df = SparkEntry.queries(q)(spark, tables.toString)
    val rows = if (ctx.plant && q == selected.head._2) df.limit(math.max(0, df.count().toInt - 1)) else df
    rows.write.mode("overwrite").parquet(outputs.resolve(q).toString)
  }

  /** Query seconds of the warm-up pass are not kept. */
  override def warmup(tr: Tracer): Seq[Boolean] = {
    val ok = super.warmup(tr)
    querySecs.clear()
    ok
  }

  def op(tr: Tracer, i: Int): OpResult = {
    val secs = selected.map { case (family, q) =>
      q -> tr.span(s"suite.$family")(Stats.time(run(q))._2)
    }
    secs.foreach { case (q, s) => querySecs.getOrElseUpdate(q, scala.collection.mutable.ArrayBuffer.empty) += s }
    val got = hashes(selected.map { case (_, q) =>
      q -> s"SELECT * FROM read_parquet('${outputs.resolve(q)}/*.parquet')" }.toMap, "got")
    val wrong = selected.map(_._2).filter(q => got(q) != expected(q))
    OpResult(wrong.isEmpty, selected.size, note = if (wrong.isEmpty) "" else s"oracle mismatch: ${wrong.mkString(", ")}",
      secs = secs.map(_._2).sum)
  }

  /** Median seconds of each query over the measured passes. */
  def queryMedians: Map[String, Double] = querySecs.map { case (q, xs) => q -> Stats.median(xs.toSeq) }.toMap

  override def raw: Map[String, Any] = Map("query_secs" -> queryMedians)

  def profile(tr: Tracer, compact: Boolean): Map[String, Double] = {
    val med = queryMedians
    selected.map { case (family, q) => s"suite.${family}_s" -> med(q) }.toMap +
      ("suite.min_query_s" -> med.values.min)
  }

  override def close(): Unit = Workload.deleteTree(outputs)
}
