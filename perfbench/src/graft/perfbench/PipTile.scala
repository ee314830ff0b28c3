package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cells.Cell
import graft.functions.GeomExpressions._
import graft.operators.{PipIndex, PipJoin, PipProbe, Tiling}

/** The headline batch job: scan an N-page parquet table, match every page
  * against the fixture admin polygons with `PipJoin.matchesIndexed`, and
  * aggregate the matches into z=10 tiles with `Tiling.tileCounts`.
  *
  * Pages: 60% fall within ±0.5° of one of the five fixture cities (the
  * city-cell skew of the sf fixtures), the rest uniformly over the globe;
  * the seed moves every point. Each pass's tile table is checked (row
  * count + order-independent hash) against the same tiling over the
  * Catalyst `PipJoin.matches` path, computed once per seed.
  */
final class PipTile(ctx: Ctx) extends Workload {
  import ctx.spark
  import spark.implicits._

  val nPages: Long = if (ctx.tiny) 20000L else 500000L
  val zoom = 10
  private val langs = Seq("en", "nl", "fr", "de", "ja", "es", "it", "pt")
  private val tablePath = ctx.work.resolve("pages")

  private var pages: DataFrame = _
  private var polys: DataFrame = _
  private var covers: DataFrame = _
  private var expected: (Long, Long) = _
  private var plantUrl: String = _
  var inputsDigest = 0L

  def generate(n: Long): DataFrame = {
    val id = col("id")
    val u1 = Workload.uniform(ctx.seed, id, 1)
    val u2 = Workload.uniform(ctx.seed, id, 2)
    val pick = pmod(xxhash64(id, lit(ctx.seed), lit(0)), lit(10L))
    val cities = graft.sources.Fixtures.cities
    def cityCoord(f: ((String, Double, Double)) => Double) =
      cities.zipWithIndex.foldLeft(lit(0.0)) { case (acc, (c, k)) =>
        when(pick % 5 === k, lit(f(c))).otherwise(acc)
      }
    spark.range(0, n, 1, math.max(4, ctx.cores * 4))
      .select(
        concat(lit("https://example.test/doc/"), id).as("url"),
        element_at(typedLit(langs), (pmod(xxhash64(id, lit(ctx.seed), lit(3)), lit(langs.size.toLong)) + 1).cast("int")).as("lang"),
        when(pick < 6, cityCoord(_._2) + (u1 - 0.5)).otherwise(u1 * 360.0 - 180.0).as("lon"),
        when(pick < 6, cityCoord(_._3) + (u2 - 0.5)).otherwise(u2 * 180.0 - 90.0).as("lat"))
  }

  def setup(): Unit = {
    Workload.deleteTree(tablePath)
    generate(nPages).write.parquet(tablePath.toString)
    pages = spark.read.parquet(tablePath.toString)
    val (p, c) = Workload.fixtureDims(spark)
    polys = p; covers = c
  }

  private def tiles(matches: DataFrame): DataFrame =
    Tiling.tileCounts(matches.select("url", "lang", "lon", "lat"), zoom)

  def reference(): Unit = {
    val m = PipJoin.matches(pages, covers, polys, extraPageCols = Seq("lang", "lon", "lat"))
    expected = Workload.digest(tiles(m))
    if (ctx.plant) plantUrl = m.agg(min("url")).head().getString(0)
    inputsDigest = Workload.digest(generate(1000))._2
  }

  private def pass(): DataFrame = {
    val m = PipJoin.matchesIndexed(pages, covers, polys, extraPageCols = Seq("lang", "lon", "lat"))
    tiles(if (ctx.plant) m.filter(col("url") =!= plantUrl) else m)
  }

  // after a two-pass warm-up the pass's CPU still fell by 15% over the
  // next six passes. A traced run, which must end within its time limit
  // after profiling every workload, warms up with two
  override def warmupBlocks: Int = if (ctx.tiny) 1 else if (ctx.traced) 2 else 4

  def op(tr: Tracer, i: Int): OpResult = {
    val got = tr.span("pip_tile.pass")(Workload.digest(pass()))
    OpResult(got == expected, nPages, note = if (got == expected) "" else s"tiles $got != expected $expected")
  }

  def profile(tr: Tracer, compact: Boolean): Map[String, Double] = {
    val spark = ctx.spark
    val (coverArr, polyMap) = tr.span("pip.collect_dims") {
      (covers.select("relId", "layer", "cellId").as[(Long, String, Long)].collect(),
        polys.select("relId", "wkb").as[(Long, Array[Byte])].collect().toMap)
    }
    val kept = coverArr.filter(c => polyMap.contains(c._1))
    val builds = (1 to 5).map(_ => tr.span("pip.index_build")(Stats.time(PipIndex.build(kept, polyMap))))
    val index = builds.last._1
    val indexBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(index); oos.close()
      bos.size().toDouble
    }
    val bc = spark.sparkContext.broadcast(index)
    val probe = org.apache.spark.sql.graft.Bridge.column(PipProbe(
      org.apache.spark.sql.graft.Bridge.expression(col("lon")),
      org.apache.spark.sql.graft.Bridge.expression(col("lat")), bc))

    // prefix-cumulative sub-pipelines: Spark fuses these stages, so a
    // layer's cost is the difference between consecutive prefixes
    val prefixes: Seq[(String, () => DataFrame)] = Seq(
      "sources.scan" -> (() => pages.select("url", "lang", "lon", "lat")),
      "cells.leaf" -> (() => pages.select(col("url"), col("lang"), st_cell_at(col("lon"), col("lat"), Cell.MaxLevel))),
      "pip.probe" -> (() => pages.select(col("url"), col("lang"), probe.as("ordinals"))),
      "pip.indexed" -> (() => PipJoin.matchesIndexed(pages, covers, polys, extraPageCols = Seq("lang", "lon", "lat"))),
      "tiling.agg" -> (() => pass()))
    val reps = if (ctx.tiny || compact) 1 else 2
    val cum = tr.span("pip.layers") {
      (1 to reps).map { _ =>
        prefixes.map { case (n, df) => n -> tr.span(n)(Stats.time(Workload.drain(df()))._2) }
      }
    }
    def med(n: String) = Stats.median(cum.map(_.toMap.apply(n)))
    val scan = med("sources.scan")
    val leaf = med("cells.leaf")
    val probeS = med("pip.probe")
    val indexed = med("pip.indexed")
    val full = med("tiling.agg")

    val (minL, maxL) = PipJoin.coverLevelBand(covers)
    val candidates = tr.span("pip.candidates") {
      pages.select(explode(st_cell_ancestors(col("lon"), col("lat"), minL, maxL)).as("cellId"))
        .join(broadcast(covers.select("cellId")), Seq("cellId")).count()
    }
    val matches = tr.span("pip.matches") {
      PipJoin.matchesIndexed(pages, covers, polys).count()
    }
    val fullSpan = tr.named("tiling.agg").last
    val c = tr.counters(fullSpan)
    val times = c.synchronized(c.taskMs.toArray.sorted)
    val skew = if (times.isEmpty || times(times.length / 2) == 0) 1.0
               else times.last.toDouble / times(times.length / 2)
    bc.destroy()
    Map(
      "sources.scan_s" -> scan,
      "cells.leaf_s" -> (leaf - scan),
      "pip.probe_s" -> (probeS - leaf),
      "pip.glue_s" -> (indexed - probeS),
      "tiling.agg_s" -> (full - indexed),
      "pip.pass_s" -> full,
      "pip.index_build_s" -> Stats.median(builds.map(_._2)),
      "pip.index_bytes" -> indexBytes,
      "pip.candidates" -> candidates.toDouble,
      "pip.matches" -> matches.toDouble,
      "pip.hit_ratio" -> (if (candidates == 0) 0.0 else matches.toDouble / candidates),
      "pip.task_skew" -> skew)
  }

  override def close(): Unit = if (polys != null) { polys.unpersist(); covers.unpersist() }
}
