package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame

import graft.geom.Jts
import graft.operators.{Ingest, PipJoin}
import graft.server.TopoServer
import graft.sources.Fixtures

/** One closed-loop client against `TopoServer` over the fixture world.
  * Countries are curated at set-up, so `/api/coordinate` runs the curated
  * lookup and the uncurated suggestions for the regions and cities layers.
  *
  * The request mix is the sequence of the repository's serving profile
  * (`graft.tools.ServerBench`) after its cold render: per cycle two
  * cached `/api/topo` renders, two `/api/missing` imports (batches of 1
  * and 100 coordinates; each rewrites the persisted worklist), two
  * `/api/coordinate` reads, one `/api/geometry` and one `/api/coverage`.
  * No record of real client traffic is available, so the ratios are not
  * verified against one. The seed moves every imported coordinate and
  * every relation id read by `/api/geometry` and `/api/coverage`;
  * imported coordinates follow the pages of `pip_tile` (60% within ±0.5°
  * of the five fixture cities). The worklist head and the rendered
  * country are the same for every seed (Tokyo), because they set the
  * cost of every `/api/coordinate` and `/api/topo`: with a seeded head and
  * country, a request cycle's CPU moved by 20% between seeds. The one
  * cold render of the cached topology is made before the timed loop.
  *
  * Every response is checked: the worklist head's matches and suggestions
  * against brute-force JTS containment over the collected polygons, the
  * worklist size against a client-side model, geometry and coverage
  * against the polygons and covers collected at set-up, and every cached
  * render byte for byte against the cold render.
  */
final class Serve(ctx: Ctx) extends Workload {
  import ctx.spark
  import spark.implicits._

  private val layers = Seq("countries", "regions", "cities").map(TopoServer.LayerConfig(_, simplifyDigits = 3))
  private val ids: Seq[Long] = (0 until 5).flatMap(c => Seq(100L + c, 200L + c, 300L + c))
  private val cycle = Seq("topo", "topo", "missing", "missing", "coordinate", "coordinate", "geometry", "coverage")

  private val mapper = new ObjectMapper()
  private val http = HttpClient.newHttpClient()
  private val rnd = new scala.util.Random(ctx.seed)
  private var setups = 0
  private var server: TopoServer = _
  private var dataDir: java.nio.file.Path = _
  private var polys: DataFrame = _
  private var water: DataFrame = _

  private var head: (Double, Double) = _
  private val worklist = scala.collection.mutable.LinkedHashSet.empty[String]
  private var geometryJson = Map.empty[Long, String]
  private var coverageJson = Map.empty[Long, String]
  private var topoId = 0L
  private var coldDoc: String = _
  private var coldMs = Double.NaN
  private var headIn = Map.empty[String, Seq[Long]]
  private val byRoute = scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuffer[Double]]

  /** Tokyo, which the server's own spec probes as well. */
  private val headCity = 3
  private def round6(d: Double): Double = math.rint(d * 1e6) / 1e6

  /** A seeded point within ±r degrees of fixture city c. */
  private def near(c: Int, r: Double): (Double, Double) = {
    val (_, cx, cy) = Fixtures.cities(c)
    (round6(cy + (rnd.nextDouble() - 0.5) * 2 * r), round6(cx + (rnd.nextDouble() - 0.5) * 2 * r))
  }
  private def key(p: (Double, Double)): String = TopoServer.MissingCoord(p._1, p._2).key
  private def coordsJson(ps: Seq[(Double, Double)]): String =
    ps.map { case (lat, lon) => s"""{"lat":$lat,"lon":$lon}""" }.mkString("[", ",", "]")

  private def url(path: String) = URI.create(s"http://127.0.0.1:${server.boundPort}$path")
  private def get(path: String): (Int, String) = {
    val r = http.send(HttpRequest.newBuilder(url(path)).GET().build(), HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }
  private def post(path: String, body: String): (Int, String) = {
    val r = http.send(HttpRequest.newBuilder(url(path)).POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  def setup(): Unit = {
    setups += 1
    rnd.setSeed(ctx.seed)
    val p = Ingest.polygons(spark, Fixtures.nodesDf(spark), Fixtures.waysDf(spark),
      Fixtures.relationsDf(spark), Fixtures.blacklist).cache()
    val w = Ingest.waterPolygons(spark, Fixtures.waterDf(spark)).cache()
    p.count(); w.count()
    polys = p; water = w
    dataDir = ctx.work.resolve(s"serve-$setups")
    Files.createDirectories(dataDir)
    server = new TopoServer(spark, polys, water, layers, dataDir,
      relations = Some(Fixtures.relationsDf(spark))).start()
    (0 until 5).foreach(c => require(post("/api/add", s"""{"countries":${100 + c}}""")._1 == 200))
    // the same head and country for every seed (see the class comment)
    topoId = 100L + headCity
    head = (round6(Fixtures.cities(headCity)._3 + 0.1), round6(Fixtures.cities(headCity)._2 + 0.1))
    worklist.clear()
    worklist += key(head)
    val (code, body) = post("/api/missing", coordsJson(Seq(head)))
    require(code == 200 && mapper.readTree(body).get("missing").asInt() == 1, s"worklist seed: $code $body")
  }

  /** The first import batch and relation picks of the seed's mix. */
  def inputsDigest: Long = {
    val r = new scala.util.Random(ctx.seed)
    Seq.fill(8)((r.nextDouble(), r.nextInt(ids.size))).hashCode.toLong
  }

  /** Expected answers: geometry and coverage from the polygons, what the
    * worklist head is contained in, and the cold render of the topology
    * (which also fills the server's LRU). */
  def reference(): Unit = {
    val rows = polys.select("relId", "layer", "wkb").as[(Long, String, Array[Byte])].collect()
    val wkb = rows.map(r => r._1 -> r._3).toMap
    geometryJson = ids.map(id => id -> graft.server.Expected.geoJson(Jts.fromWkb(wkb(id)))).toMap
    val covers = Ingest.cellCovers(polys).select("relId", "cellId").as[(Long, Long)].collect()
      .groupBy(_._1)
    // relations with an empty cover are never matched by the index
    val at = new org.locationtech.jts.geom.Coordinate(head._2, head._1)
    headIn = rows.filter(r => covers.contains(r._1) && new org.locationtech.jts.algorithm.locate
        .IndexedPointInAreaLocator(Jts.fromWkb(r._3)).locate(at) == org.locationtech.jts.geom.Location.INTERIOR)
      .groupBy(_._2).map { case (l, rs) => l -> rs.map(_._1).sorted.toSeq }
      .withDefaultValue(Nil)
    coverageJson = ids.map(id => id -> covers(id).map(_._2).sorted.mkString("[", ",", "]")).toMap
    val ((code, doc), secs) = Stats.time(get(s"/api/topo/countries/$topoId"))
    require(code == 200 && topoDocOk(doc), s"cold render of $topoId: $code")
    coldDoc = doc
    coldMs = secs * 1000
  }

  /** Worklist head: matched in countries (curated; the server reports one
    * of the containing countries) and suggested in regions and cities
    * (every containing polygon, by id), by brute-force containment. */
  private def coordinateOk(body: String): Boolean = {
    val n = mapper.readTree(body)
    def ids(layer: String) = n.get("suggestions").get(layer).elements().asScala.map(_.get("id").asLong()).toSeq
    n.get("coordinate").get("lat").asDouble() == head._1 &&
      n.get("coordinate").get("lon").asDouble() == head._2 &&
      n.get("matched").fieldNames().asScala.toSeq == Seq("countries") &&
      headIn("countries").contains(n.get("matchids").get("countries").asLong()) &&
      n.get("suggestions").fieldNames().asScala.toSet == Set("regions", "cities") &&
      ids("regions") == headIn("regions") && ids("cities") == headIn("cities")
  }

  private def topoDocOk(doc: String): Boolean = {
    val n = mapper.readTree(doc)
    n.get("type").asText() == "Topology" && n.get("objects").size() > 0 && n.get("arcs").size() > 0
  }

  /** Request cycles of every route, untimed: JIT and plan caches. */
  override def warmup(tr: Tracer): Seq[Boolean] = (0 until warmupBlocks * block).map(request(_)._2)

  /** A seeded coordinate, distributed as the pages of `pip_tile`. */
  private def importCoord(): (Double, Double) =
    if (rnd.nextInt(10) < 6) near(rnd.nextInt(5), 0.5)
    else (round6(rnd.nextDouble() * 180 - 90), round6(rnd.nextDouble() * 360 - 180))

  /** The i-th request of the seeded mix, its route and whether it checked out. */
  private def request(i: Int): (String, Boolean) = {
    val route = cycle(i % cycle.size)
    val ok = route match {
      case "topo" =>
        val (code, body) = get(s"/api/topo/countries/$topoId")
        code == 200 && body == coldDoc
      case "coordinate" =>
        val (code, body) = get("/api/coordinate")
        code == 200 && coordinateOk(body)
      case "geometry" =>
        val id = ids(rnd.nextInt(ids.size))
        val (code, body) = get(s"/api/geometry/$id")
        code == 200 && (if (ctx.plant) body.dropRight(1) else body) == geometryJson(id)
      case "coverage" =>
        val id = ids(rnd.nextInt(ids.size))
        val (code, body) = get(s"/api/coverage/$id")
        code == 200 && body == coverageJson(id)
      case "missing" =>
        // the two imports of a cycle: 1 coordinate, then 100
        val batch = Seq.fill(if (cycle.indexOf("missing") == i % cycle.size) 1 else 100)(importCoord())
        worklist ++= batch.map(key)
        val (code, body) = post("/api/missing", coordsJson(batch))
        code == 200 && mapper.readTree(body).get("missing").asInt() == worklist.size
    }
    (route, ok)
  }

  override def block: Int = cycle.size
  // a run holds two or three cycles: two calibration jobs per cycle, so
  // that one job's noise weighs less in the run's median
  override def calibrateEvery: Int = cycle.size / 2

  def op(tr: Tracer, i: Int): OpResult = {
    val ((route, ok), secs) = Stats.time(request(i))
    byRoute.getOrElseUpdate(route, scala.collection.mutable.ArrayBuffer.empty) += secs * 1000
    OpResult(ok, 1, route, if (ok) "" else s"$route response did not match")
  }

  private def stateBytes: Long =
    Seq("missing.json", "topologies.json").map(dataDir.resolve).filter(Files.exists(_)).map(Files.size).sum

  def profile(tr: Tracer, compact: Boolean): Map[String, Double] = {
    val byRouteMs = byRoute.map { case (r, xs) => r -> Stats.median(xs.toSeq) }
    val covers = Ingest.cellCovers(polys).cache()
    covers.count()
    val probe = Seq(("p", head._2, head._1)).toDF("url", "lon", "lat")
    val pointMs = tr.span("pip.matches_point") {
      (1 to 7).map(_ => Stats.time(PipJoin.matches(probe, covers, polys).collect())._2 * 1000)
    }
    covers.unpersist()
    Map(
      "serve.coordinate_ms" -> byRouteMs.getOrElse("coordinate", Double.NaN),
      "serve.missing_ms" -> byRouteMs.getOrElse("missing", Double.NaN),
      "serve.geometry_ms" -> byRouteMs.getOrElse("geometry", Double.NaN),
      "serve.coverage_ms" -> byRouteMs.getOrElse("coverage", Double.NaN),
      "serve.topo_cached_ms" -> byRouteMs.getOrElse("topo", Double.NaN),
      "serve.topo_cold_ms" -> coldMs,
      "serve.worklist_size" -> worklist.size.toDouble,
      "serve.state_bytes" -> stateBytes.toDouble,
      "pip.matches_point_ms" -> Stats.median(pointMs.drop(2)))
  }

  override def close(): Unit = {
    if (server != null) server.stop()
    server = null
    Seq(polys, water).filter(_ != null).foreach(_.unpersist())
  }
}
