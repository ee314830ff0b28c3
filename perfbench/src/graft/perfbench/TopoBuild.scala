package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Ingest, TopoPipeline}
import graft.sources.SnapshotTable

/** The import-to-topology pipeline on a write-heavy path: a G×G grid of
  * squares whose edges carry S segments each, emitted as OSM nodes, ways
  * (one per grid edge, shared by the two squares beside it) and relations
  * (one per square). A pass runs `Ingest.polygons` (ring assembly),
  * `Ingest.cellCovers`, a `SnapshotTable.commit` of polygons and covers,
  * and `TopoPipeline.topology`.
  *
  * The seed moves the grid's origin and cell size, the id ranges, the
  * direction of every way and the member order of every relation; none of
  * that changes the closed-form structure every pass is checked against:
  * G² polygons, 2G(G+1)−4 arcs and 4G²−4 arc uses (the four outer grid
  * corners are not junctions, so their two edges merge into one arc).
  */
final class TopoBuild(ctx: Ctx) extends Workload {
  import ctx.spark
  import spark.implicits._

  val g: Int = if (ctx.tiny) 4 else 24
  val s: Int = if (ctx.tiny) 4 else 24
  val expPolys: Long = g.toLong * g
  val expArcs: Long = 2L * g * (g + 1) - 4
  val expUses: Long = 4L * g * g - 4

  private val rnd = new scala.util.Random(ctx.seed)
  private val snapBase = ctx.work.resolve("snapshots")
  private var nodes: DataFrame = _
  private var ways: DataFrame = _
  private var rels: DataFrame = _
  var inputsDigest = 0L

  /** (nodes, ways, relations) of the seeded grid, as the fixtures shape them. */
  def grid(): (Seq[(Long, Double, Double)], Seq[(Long, Seq[Long])], Seq[(Long, Map[String, String], Seq[(Long, Int, String)])]) = {
    val x0 = -30.0 + rnd.nextDouble() * 20.0
    val y0 = -20.0 + rnd.nextDouble() * 20.0
    val w = 0.25 + rnd.nextDouble() * 0.25
    val nodeBase = 1000000L + rnd.nextInt(1000) * 100000L
    val wayBase = 1000000L + rnd.nextInt(1000) * 100000L
    val relBase = 1000000L + rnd.nextInt(1000) * 100000L
    val line = g * s + 1
    // horizontal line j, point k: every grid corner is a point of a
    // horizontal line; vertical lines add only their interior points
    def hId(j: Int, k: Int): Long = nodeBase + j.toLong * line + k
    def vId(i: Int, k: Int): Long = nodeBase + (g + 1).toLong * line + i.toLong * line + k
    val nodes = for {
      j <- 0 to g; k <- 0 until line
    } yield (hId(j, k), y0 + w * j, x0 + w * k / s)
    val vNodes = for {
      i <- 0 to g; k <- 0 until line if k % s != 0
    } yield (vId(i, k), y0 + w * k / s, x0 + w * i)
    def hWay(i: Int, j: Int): Long = wayBase + 2L * (j.toLong * (g + 1) + i)
    def vWay(i: Int, j: Int): Long = wayBase + 2L * (j.toLong * (g + 1) + i) + 1
    def flip(refs: Seq[Long]): Seq[Long] = if (rnd.nextBoolean()) refs.reverse else refs
    val hWays = for { j <- 0 to g; i <- 0 until g } yield
      (hWay(i, j), flip((i * s to (i + 1) * s).map(k => hId(j, k))))
    val vWays = for { i <- 0 to g; j <- 0 until g } yield
      (vWay(i, j), flip((j * s to (j + 1) * s).map(k => if (k % s == 0) hId(k / s, i * s) else vId(i, k))))
    val relations = for { j <- 0 until g; i <- 0 until g } yield {
      val ms = Seq(hWay(i, j), vWay(i + 1, j), hWay(i, j + 1), vWay(i, j))
      val rot = rnd.nextInt(4)
      (relBase + j.toLong * g + i,
        Map("admin_level" -> "2", "name" -> s"square_${i}_$j"),
        (ms.drop(rot) ++ ms.take(rot)).map(id => (id, 1, "outer")))
    }
    (nodes ++ vNodes, hWays ++ vWays, relations)
  }

  def setup(): Unit = {
    rnd.setSeed(ctx.seed)
    val (n, w, r) = grid()
    inputsDigest = (n, w, r).hashCode.toLong
    nodes = n.toDF("id", "lat", "lon").repartition(ctx.cores).cache()
    ways = w.toDF("id", "refs").repartition(ctx.cores).cache()
    rels = r.toDF("id", "tags", "members")
      .withColumn("members", expr("transform(members, m -> struct(m._1 AS id, m._2 AS type, m._3 AS role))"))
      .repartition(ctx.cores).cache()
    nodes.count(); ways.count(); rels.count()
  }

  def reference(): Unit = ()

  /** One pass; returns (polygons, covers, arcs, uses, cut rows, snapshot bytes, snapshot rows). */
  private def pass(tr: Tracer): (Long, Long, Long, Long, Long, Long) = {
    Workload.deleteTree(snapBase)
    val polys = tr.span("ingest.polygons") {
      val p = Ingest.polygons(spark, nodes, ways, rels, Nil).cache()
      p.count(); p
    }
    val covers = tr.span("ingest.covers") {
      val c = Ingest.cellCovers(polys).cache()
      c.count(); c
    }
    val (bytes, rows) = tr.span("snapshot.commit") {
      val ms = Seq(SnapshotTable.commit(polys, snapBase.toString, "polygons", "layer"),
        SnapshotTable.commit(covers, snapBase.toString, "covers", "layer"))
      val parts = ms.flatMap(_.partitions)
      (parts.map(_.bytes).sum, parts.map(_.rows).sum)
    }
    val (nArcs, nUses) = tr.span("topo.topology") {
      val topo = TopoPipeline.topology(features(polys), simplifyDigits = 0, quantize = 0)
      try {
        val a = topo.arcs.count()
        (if (ctx.plant) a - 1 else a, topo.uses.count())
      } finally topo.release()
    }
    val nPolys = polys.count()
    val nCovers = covers.count()
    polys.unpersist(); covers.unpersist()
    (nPolys, nCovers, nArcs, nUses, bytes, rows)
  }

  private def features(polys: DataFrame): DataFrame =
    polys.select(col("relId").as("objId"), col("wkb"), col("bbox"))

  private var last: (Long, Long, Long, Long, Long, Long) = _

  def op(tr: Tracer, i: Int): OpResult = {
    last = tr.span("topo_build.pass")(pass(tr))
    val (p, _, a, u, _, _) = last
    val ok = p == expPolys && a == expArcs && u == expUses
    OpResult(ok, expPolys, note = if (ok) "" else
      s"polygons/arcs/uses $p/$a/$u != $expPolys/$expArcs/$expUses")
  }

  /** Ingest, covers, commit and topology come from the spans of the timed
    * passes; the topology's first steps are re-run as prefix-cumulative
    * sub-pipelines (rings; rings → junctions; rings → junctions → cut). */
  def profile(tr: Tracer, compact: Boolean): Map[String, Double] = {
    val polys = Ingest.polygons(spark, nodes, ways, rels, Nil).cache()
    polys.count()
    val feats = features(polys)
    val runs = tr.span("topo.layers") {
      (1 to (if (ctx.tiny || compact) 1 else 2)).map { _ =>
        val rings = tr.span("topo.rings")(Stats.time(TopoPipeline.rings(feats).count())._2)
        val junctions = tr.span("topo.junctions") {
          Stats.time(TopoPipeline.junctions(TopoPipeline.rings(feats)).count())._2
        }
        val (cutRows, cut) = tr.span("topo.cut") {
          Stats.time {
            val r = TopoPipeline.rings(feats)
            TopoPipeline.cut(r, TopoPipeline.junctions(r)).count()
          }
        }
        (rings, junctions, cut, cutRows)
      }
    }
    polys.unpersist()
    val rings = Stats.median(runs.map(_._1))
    val junctions = Stats.median(runs.map(_._2))
    val cut = Stats.median(runs.map(_._3))
    val (nPolys, nCovers, nArcs, nUses, bytes, rows) = last
    def spanMed(n: String) = Stats.median(tr.named(n).map(tr.secs))
    Map(
      "ingest.polygons_s" -> spanMed("ingest.polygons"),
      "ingest.covers_s" -> spanMed("ingest.covers"),
      "ingest.cells_per_polygon" -> nCovers.toDouble / nPolys,
      "snapshot.commit_s" -> spanMed("snapshot.commit"),
      "snapshot.bytes_written" -> bytes.toDouble,
      "snapshot.bytes_per_row" -> bytes.toDouble / rows,
      "topo.rings_s" -> rings,
      "topo.junctions_s" -> (junctions - rings),
      "topo.cut_s" -> (cut - junctions),
      "topo.topology_s" -> spanMed("topo.topology"),
      "topo.arcs" -> nArcs.toDouble,
      "topo.uses" -> nUses.toDouble,
      "topo.dedup_ratio" -> runs.last._4.toDouble / nArcs,
      "topo.shuffle_mb" -> Stats.median(tr.named("topo.topology").map(s => tr.counters(s).shuffleWriteBytes / 1e6)))
  }

  override def close(): Unit = Seq(nodes, ways, rels).filter(_ != null).foreach(_.unpersist())
}
