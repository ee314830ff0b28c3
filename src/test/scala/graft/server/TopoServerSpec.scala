package graft.server

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit, min}
import org.locationtech.jts.geom.Coordinate

import graft.SparkTestBase
import graft.geom.Jts
import graft.operators.{Export, Ingest, PipJoin}
import graft.sources.Fixtures

/** End-to-end drive of the HTTP serving surface against the fixture
  * world: the full curation loop (import missing → suggest → add →
  * auto-complete), on-demand TopoJSON identical to the batch export
  * path, coverage/geometry/relation lookups, the async export +
  * tar.gz download, and state persistence across a server restart.
  *
  * Geometry facts used: countries 100..104 are radius-5 octagons around
  * brussels/paris/nyc/tokyo/sydney; tokyo (139.7, 35.7) lies in country
  * 103 ONLY, so a probe there is incomplete until 103 is curated.
  *
  * Also: the repeated-relId contract, match rules against
  * `PipJoin.suggestions`, the smallest-relId curated match, the
  * /api/metrics counters, and the reads served from the driver-resident
  * dimension: once warm they launch no Spark job, and on a dense set of
  * probe points they answer what `PipJoin.matches`, `PipJoin.missing` and
  * `PipJoin.suggestions` answer on the same fixture world.
  */
class TopoServerSpec extends SparkTestBase {
  import spark.implicits._
  import TopoServer.MissingCoord

  private val mapper = new ObjectMapper()
  private lazy val http = HttpClient.newHttpClient()

  private def get(port: Int, path: String): HttpResponse[String] =
    http.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
  private def getBytes(port: Int, path: String): HttpResponse[Array[Byte]] =
    http.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())
  private def post(port: Int, path: String, body: String): HttpResponse[String] =
    http.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def coordsJson(cs: Seq[MissingCoord]): String =
    cs.map(c => s"""{"lat":${c.lat},"lon":${c.lon}}""").mkString("[", ",", "]")

  /** The worklist journal's records, in order: (coordinate, is a drop). */
  private def journal(dataDir: Path): Seq[(MissingCoord, Boolean)] = {
    val f = dataDir.resolve("missing.jsonl")
    if (!Files.exists(f)) Nil
    else Files.readAllLines(f).asScala.toSeq.map { line =>
      val n = mapper.readTree(line)
      (MissingCoord.of(n), n.has("drop"))
    }
  }

  private def fixtureWorld() = {
    val polys = Ingest.polygons(spark, Fixtures.nodesDf(spark), Fixtures.waysDf(spark),
      Fixtures.relationsDf(spark), Fixtures.blacklist)
    val water = Ingest.waterPolygons(spark, Fixtures.waterDf(spark))
    (polys, water)
  }

  test("curation loop, topo/coverage/geometry/relation, export, restart persistence") {
    val (polys, water) = fixtureWorld()
    val dataDir = tempDir("topo_server")
    // a state file's inode: an atomic rewrite (temp file + rename) gives
    // the name a new one, so an unchanged key means the file was not
    // rewritten (an append to the worklist journal keeps it)
    def fileKey(name: String): AnyRef = Files.readAttributes(dataDir.resolve(name),
      classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()
    val layers = Seq(TopoServer.LayerConfig("countries", simplifyDigits = 3,
      languages = Seq("nl", "en")))
    val server = new TopoServer(spark, polys, water, layers, dataDir,
      relations = Some(Fixtures.relationsDf(spark))).start()
    val port = server.boundPort
    try {
      // -- status: clean slate
      val st0 = mapper.readTree(get(port, "/api/status").body())
      assert(st0.get("missing").asInt() == 0)
      assert(st0.get("layers").elements().next().asText() == "countries")

      // -- curate brussels, then import two probes: brussels (complete,
      //    dropped) and tokyo (incomplete, kept)
      assert(post(port, "/api/add", """{"countries":100}""").statusCode() == 200)
      assert(!Files.exists(dataDir.resolve("missing.jsonl")), "/api/add wrote the worklist")
      val topoKey = fileKey("topologies.json")
      val imp = post(port, "/api/missing",
        """[{"lat":50.85,"lon":4.35},{"lat":35.7,"lon":139.7}]""")
      assert(imp.statusCode() == 200)
      assert(mapper.readTree(imp.body()).get("missing").asInt() == 1)
      val tokyo = MissingCoord(35.7, 139.7)
      assert(journal(dataDir) == Seq(tokyo -> false))
      assert(fileKey("topologies.json") == topoKey, "/api/missing rewrote topologies.json")

      // -- the worklist head suggests country 103 for the countries layer
      val coord = mapper.readTree(get(port, "/api/coordinate").body())
      assert(coord.get("coordinate").get("lat").asDouble() == 35.7)
      val sugg = coord.get("suggestions").get("countries").elements()
      val s0 = sugg.next()
      assert(s0.get("id").asLong() == 103L)
      assert(s0.get("name").asText() == "country_tokyo")
      assert(!sugg.hasNext)

      // -- curating 103 completes the probe: the worklist self-drains
      val missKey = fileKey("missing.jsonl")
      assert(post(port, "/api/add", """{"countries":103}""").statusCode() == 200)
      assert(fileKey("missing.jsonl") == missKey && journal(dataDir) == Seq(tokyo -> false),
        "/api/add wrote the worklist journal")
      val topoKey2 = fileKey("topologies.json")
      assert(get(port, "/api/coordinate").body() == "null")
      assert(mapper.readTree(get(port, "/api/status").body()).get("missing").asInt() == 0)
      // the drained head is one appended drop record, not a rewrite
      assert(journal(dataDir) == Seq(tokyo -> false, tokyo -> true), "the drained head was not persisted")
      assert(fileKey("missing.jsonl") == missKey, "the drained head rewrote the journal")
      assert(fileKey("topologies.json") == topoKey2, "a drained head rewrote topologies.json")

      // -- on-demand TopoJSON == the batch export path, byte for byte
      val viaHttp = get(port, "/api/topo/countries/100")
      assert(viaHttp.statusCode() == 200, viaHttp.body())
      val direct = Export.layer(polys, water, "countries", Seq(100L),
        simplifyDigits = 3, quantize = 1e6, pointLimit = Int.MaxValue,
        relations = Some(Fixtures.relationsDf(spark)), languages = Seq("nl", "en"))
      val tmp = tempDir("topo_direct")
      val directDoc = try {
        val files = Export.writeSlices(direct, tmp.toString)
        new String(Files.readAllBytes(Path.of(files.head)), UTF_8)
      } finally direct.release()
      assert(viaHttp.body() == directDoc)
      assert(get(port, "/api/topo/countries/987654").statusCode() == 404)
      assert(get(port, "/api/topo/nope/100").statusCode() == 400)

      // -- coverage == Ingest.cellCovers for the relation
      val covHttp = mapper.readTree(get(port, "/api/coverage/100").body())
        .elements()
      val covCells = Iterator.continually(covHttp).takeWhile(_.hasNext)
        .map(_.next().asLong()).toVector
      val covDirect = Ingest.cellCovers(polys)
        .filter(org.apache.spark.sql.functions.col("relId") === 100L)
        .select("cellId").collect().map(_.getLong(0)).sorted.toVector
      assert(covCells == covDirect)
      assert(get(port, "/api/coverage/987654").statusCode() == 404)

      // -- geometry: valid GeoJSON whose first shell vertex is a fixture
      //    octagon vertex of country 100
      val geo = mapper.readTree(get(port, "/api/geometry/100").body())
      assert(Set("Polygon", "MultiPolygon").contains(geo.get("type").asText()))
      val firstPt =
        if (geo.get("type").asText() == "Polygon")
          geo.get("coordinates").get(0).get(0)
        else geo.get("coordinates").get(0).get(0).get(0)
      val shell = Fixtures.octagon(4.35, 50.85, 5.0)
      assert(shell.exists { case (x, y) =>
        x == firstPt.get(0).asDouble() && y == firstPt.get(1).asDouble() })

      // -- raw relation JSON
      val rel = mapper.readTree(get(port, "/api/relation/100").body())
      assert(rel.get("id").asLong() == 100L)
      assert(rel.get("tags").get("name").asText() == "country_brussels")
      assert(get(port, "/api/relation/987654").statusCode() == 404)

      // -- async export over the curated sets {countries: [100, 103]}
      assert(post(port, "/api/export", "").statusCode() == 200)
      var waited = 0
      while (mapper.readTree(get(port, "/api/status").body())
               .get("export").get("running").asBoolean() && waited < 1200) {
        Thread.sleep(500); waited += 1
      }
      val stExp = mapper.readTree(get(port, "/api/status").body()).get("export")
      assert(stExp.get("error").asText() == "", s"export failed: $stExp")
      val tarResp = getBytes(port, "/api/topologies")
      assert(tarResp.statusCode() == 200)
      // the archive holds the countries layer slices; decode with the
      // platform gzip+untar-free check: tarGz wrote dataDir/export too
      val exported = dataDir.resolve("export").resolve("countries")
      assert(Files.list(exported).count() >= 1)
      assert(tarResp.body().length > 20 &&
        (tarResp.body()(0) & 0xff) == 0x1f && (tarResp.body()(1) & 0xff) == 0x8b)

      // -- one more missing probe survives a restart via dataDir state;
      //    nyc, listed twice in one import, is listed once and deleted
      val topoKey3 = fileKey("topologies.json")
      val imp2 = post(port, "/api/missing",
        """[{"lat":-33.9,"lon":151.2},{"lat":40.7,"lon":-74.0},{"lat":40.7,"lon":-74.0}]""")
      assert(mapper.readTree(imp2.body()).get("missing").asInt() == 2)
      assert(post(port, "/api/delete", """{"lat":40.7,"lon":-74.0}""").statusCode() == 200)
      assert(mapper.readTree(get(port, "/api/status").body()).get("missing").asInt() == 1)
      assert(fileKey("topologies.json") == topoKey3, "/api/missing or /api/delete rewrote topologies.json")
      val sydney = MissingCoord(-33.9, 151.2)
      val nyc = MissingCoord(40.7, -74.0)
      assert(journal(dataDir) == Seq(tokyo -> false, tokyo -> true, sydney -> false, nyc -> false, nyc -> true))
    } finally server.stop()

    val server2 = new TopoServer(spark, polys, water, layers, dataDir,
      relations = Some(Fixtures.relationsDf(spark))).start()
    try {
      val port2 = server2.boundPort
      // missing worklist and curated sets reloaded from dataDir
      assert(mapper.readTree(get(port2, "/api/status").body()).get("missing").asInt() == 1)
      val coord = mapper.readTree(get(port2, "/api/coordinate").body())
      assert(coord.get("coordinate").get("lon").asDouble() == 151.2)
      // sydney (country 104) is uncurated, so the probe stays incomplete
      // and suggests 104; adding it drains the worklist — proving the
      // curated set {100, 103} also survived the restart
      assert(coord.get("suggestions").get("countries").elements().next()
        .get("id").asLong() == 104L)
      assert(post(port2, "/api/add", """{"countries":104}""").statusCode() == 200)
      assert(get(port2, "/api/coordinate").body() == "null")
      // state files are replaced through a temp file and a rename; none
      // is left behind
      val left = Files.list(dataDir).iterator().asScala.map(_.getFileName.toString).toSeq
      assert(!left.exists(_.endsWith(".tmp")), left)
    } finally server2.stop()
  }

  /** A copy of fixture polygon `like` under another relId, name and
    * geometry. */
  private def extraPolygon(polys: DataFrame, like: Long, relId: Long, name: String,
                           wkb: Array[Byte]): DataFrame = {
    val row = polys.filter(col("relId") === like).head()
    val extra = Row.fromSeq(polys.columns.toSeq.map {
      case "relId" => relId
      case "name" => name
      case "wkb" => wkb
      case c => row.getAs[Any](c)
    })
    polys.unionByName(spark.createDataFrame(java.util.List.of(extra), polys.schema))
  }

  private def octagonWkb(cx: Double, cy: Double, r: Double): Array[Byte] = {
    val ring = Fixtures.octagon(cx, cy, r)
    graft.geom.Jts.toWkb(graft.geom.Jts.factory.createPolygon(
      (ring :+ ring.head).map { case (x, y) => new Coordinate(x, y) }.toArray))
  }

  test("a polygon table that repeats a relId fails the read routes with the index's message") {
    val (polys, water) = fixtureWorld()
    val row = polys.filter(col("relId") === 100L).head()
    val shifted = graft.geom.Jts.toWkb(org.locationtech.jts.geom.util.AffineTransformation
      .translationInstance(1.0, 0.0).transform(graft.geom.Jts.fromWkb(row.getAs[Array[Byte]]("wkb"))))
    val dup = extraPolygon(polys, like = 100L, relId = 100L, name = "country_brussels", wkb = shifted)
    val server = new TopoServer(spark, dup, water, Seq(TopoServer.LayerConfig("countries", 3)),
      tempDir("topo_server_dup")).start()
    try {
      val port = server.boundPort
      // the same message as matchesIndexed's (EdgeCaseSpec), never one of
      // the two geometries
      Seq(get(port, "/api/geometry/100"),
        post(port, "/api/missing", """[{"lat":50.85,"lon":4.35}]""")).foreach { r =>
        assert(r.statusCode() == 500, r.body())
        assert(r.body().contains("needs one polygon row per relId; relId 100 repeats"), r.body())
      }
    } finally server.stop()
  }

  test("match rules: /api/coordinate suggestions equal PipJoin.suggestions") {
    val (polys, water) = fixtureWorld()
    val covers = Ingest.cellCovers(polys)
    val brussels = MissingCoord(50.85, 4.35)
    val tokyo = MissingCoord(35.7, 139.7)
    val pages = Seq(brussels, tokyo).map(c => (c.key, c.lon, c.lat)).toDF("url", "lon", "lat")
    // city 300 (Brussels) has admin level 6, city 303 (Tokyo) level 8; no
    // city has level 7. Both rules fire in Brussels (country 100) only.
    Seq(Seq(6) -> Seq(300L), Seq(7) -> Nil).foreach { case (levels, brusselsCities) =>
      val rules = Seq(PipJoin.MatchRule("countries", 100L, "cities", levels))
      val expected = PipJoin.suggestions(pages, covers, polys, PipJoin.matches(pages, covers, polys), rules)
        .filter(col("layer") === "cities")
        .select("url", "relId", "name", "adminLevel").as[(String, Long, String, Int)].collect()
        .groupBy(_._1).map { case (u, rs) => u -> rs.map(r => (r._2, r._3, r._4)).sortBy(_._1).toSeq }
        .withDefaultValue(Nil)
      assert(expected(brussels.key).map(_._1) == brusselsCities)
      assert(expected(tokyo.key).map(_._1) == Seq(303L))

      val server = new TopoServer(spark, polys, water,
        Seq("countries", "cities").map(TopoServer.LayerConfig(_, 3)),
        tempDir("topo_server_rules"), rules = rules).start()
      try {
        val port = server.boundPort
        assert(post(port, "/api/missing", coordsJson(Seq(brussels, tokyo))).statusCode() == 200)
        Seq(brussels, tokyo).foreach { c =>
          val n = mapper.readTree(get(port, "/api/coordinate").body())
          assert(n.get("coordinate").get("lat").asDouble() == c.lat)
          val got = n.get("suggestions").get("cities").elements().asScala
            .map(e => (e.get("id").asLong(), e.get("name").asText(), e.get("admin_level").asInt())).toSeq
          assert(got == expected(c.key), s"${c.key} rules $levels")
          assert(post(port, "/api/delete", s"""{"lat":${c.lat},"lon":${c.lon}}""").statusCode() == 200)
        }
      } finally server.stop()
    }
  }

  test("a point in two curated polygons of one layer reports the smallest relId") {
    val (polys0, water) = fixtureWorld()
    // relId 150 overlaps country 100 around Brussels; appended last, so a
    // last-row-wins map would report it
    val polys = extraPolygon(polys0, like = 100L, relId = 150L, name = "country_overlap",
      wkb = octagonWkb(4.35, 50.85, 1.0))
    val server = new TopoServer(spark, polys, water,
      Seq("countries", "cities").map(TopoServer.LayerConfig(_, 3)),
      tempDir("topo_server_overlap")).start()
    try {
      val port = server.boundPort
      assert(post(port, "/api/add", """{"countries":150}""").statusCode() == 200)
      assert(post(port, "/api/add", """{"countries":100}""").statusCode() == 200)
      assert(post(port, "/api/missing", """[{"lat":50.85,"lon":4.35}]""").statusCode() == 200)
      val n = mapper.readTree(get(port, "/api/coordinate").body())
      assert(n.get("matchids").get("countries").asLong() == 100L, n)
      assert(n.get("matchnames").get("countries").asText() == "country_brussels", n)
      // and the J7 pivot agrees
      val pages = Seq(("p", 4.35, 50.85)).toDF("url", "lon", "lat")
      val curated = polys.filter(col("relId").isin(100L, 150L))
      assert(PipJoin.perLayer(PipJoin.matches(pages, Ingest.cellCovers(curated), curated), Seq("countries"))
        .select("countries").head().getLong(0) == 100L)
    } finally server.stop()
  }

  test("/api/metrics counts requests, LRU hits and the index sizes") {
    val (polys, water) = fixtureWorld()
    val server = new TopoServer(spark, polys, water, Seq(TopoServer.LayerConfig("countries", 3)),
      tempDir("topo_server_metrics")).start()
    try {
      val port = server.boundPort
      assert(get(port, "/api/status").statusCode() == 200)
      assert(get(port, "/api/status").statusCode() == 200)
      assert(post(port, "/api/add", """{"countries":103}""").statusCode() == 200)
      assert(post(port, "/api/missing", """[{"lat":50.85,"lon":4.35},{"lat":35.7,"lon":139.7}]""")
        .statusCode() == 200)
      assert(get(port, "/api/coordinate").statusCode() == 200)
      assert(get(port, "/api/topo/countries/303").statusCode() == 404) // a city, not a country
      assert(get(port, "/api/topo/countries/103").statusCode() == 200)
      assert(get(port, "/api/topo/countries/103").statusCode() == 200)

      val m = mapper.readTree(get(port, "/api/metrics").body())
      val counts = m.get("routes").properties().asScala.map(e => e.getKey -> e.getValue.get("count").asLong()).toMap
      assert(counts.filter(_._2 > 0) == Map("/api/status" -> 2L, "/api/add" -> 1L, "/api/missing" -> 1L,
        "/api/coordinate" -> 1L, "/api/topo/" -> 3L), counts)
      assert(m.get("routes").get("/api/geometry/").get("p50_ms").isNull)
      val topo = m.get("routes").get("/api/topo/")
      assert(topo.get("p50_ms").asDouble() > 0 && topo.get("p50_ms").asDouble() <= topo.get("p99_ms").asDouble())
      // 303 and the first 103 miss, the second 103 hits
      assert(m.get("topo_lru").get("hits").asLong() == 1L && m.get("topo_lru").get("misses").asLong() == 2L, m)

      val rows = polys.select("relId", "wkb").as[(Long, Array[Byte])].collect()
      val covers = Ingest.cellCovers(polys).select("relId").as[Long].collect()
      val snap = m.get("snapshot")
      // one index serves the curated and the uncurated lookups: /api/add
      // followed by /api/missing and /api/coordinate builds nothing more
      assert(snap.get("builds").asInt() == 1)
      assert(snap.get("polygons").asInt() == rows.length)
      assert(snap.get("cells").asInt() == covers.length)
      assert(snap.get("wkb_bytes").asLong() == rows.map(_._2.length.toLong).sum)
      // the stab of the index on the fixture, pinned: segments, entries,
      // interior share of the entries and the bytes of the stab arrays
      def stab(n: com.fasterxml.jackson.databind.JsonNode) = (n.get("segments").asInt(), n.get("entries").asInt(),
        n.get("interior_share").asDouble(), n.get("bytes").asLong())
      assert(stab(snap.get("index")) == (5351, 10837, 0.7459, 107564L), snap)
    } finally server.stop()
  }

  test("the worklist journal appends per change, compacts, and replays past a torn last line") {
    val (polys, water) = fixtureWorld()
    val dataDir = tempDir("topo_server_journal")
    val layers = Seq(TopoServer.LayerConfig("countries", 3))
    def fileKey(): AnyRef = Files.readAttributes(dataDir.resolve("missing.jsonl"),
      classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()
    // South Atlantic points: no fixture polygon holds them, so every one
    // is incomplete and kept
    val sea = (1 to 40).map(i => MissingCoord(-60.0 + i * 0.01, -30.0))
    val server = new TopoServer(spark, polys, water, layers, dataDir).start()
    try {
      val port = server.boundPort
      assert(post(port, "/api/missing", coordsJson(sea.take(30))).statusCode() == 200)
      assert(journal(dataDir) == sea.take(30).map(_ -> false))
      val key = fileKey()
      // listed coordinates add nothing; new ones are appended, in order
      assert(post(port, "/api/missing", coordsJson(sea)).statusCode() == 200)
      assert(journal(dataDir) == sea.map(_ -> false))
      assert(fileKey() == key, "an import rewrote the journal")
      // 34 drops: 74 records for 6 live coordinates, under 2 × 6 + 64
      sea.take(34).foreach(c => post(port, "/api/delete", s"""{"lat":${c.lat},"lon":${c.lon}}"""))
      assert(journal(dataDir) == sea.map(_ -> false) ++ sea.take(34).map(_ -> true))
      assert(fileKey() == key, "a drop rewrote the journal")
      // the 35th passes 2 × 5 + 64: the journal is rewritten as the live list
      post(port, "/api/delete", s"""{"lat":${sea(34).lat},"lon":${sea(34).lon}}""")
      assert(journal(dataDir) == sea.drop(35).map(_ -> false))
      assert(fileKey() != key, "the journal was not compacted")
    } finally server.stop()

    // a crash mid-append leaves a torn last line; replay ignores it and
    // rewrites the journal, so the next append starts on a fresh line
    Files.write(dataDir.resolve("missing.jsonl"), """{"lat":1.5,"lo""".getBytes(UTF_8),
      java.nio.file.StandardOpenOption.APPEND)
    val server2 = new TopoServer(spark, polys, water, layers, dataDir).start()
    try {
      val port = server2.boundPort
      assert(mapper.readTree(get(port, "/api/status").body()).get("missing").asInt() == 5)
      assert(journal(dataDir) == sea.drop(35).map(_ -> false))
      val head = mapper.readTree(get(port, "/api/coordinate").body()).get("coordinate")
      assert(MissingCoord.of(head) == sea(35))
      assert(post(port, "/api/delete", s"""{"lat":${sea(35).lat},"lon":${sea(35).lon}}""").statusCode() == 200)
      assert(journal(dataDir) == sea.drop(35).map(_ -> false) :+ (sea(35) -> true))
    } finally server2.stop()
  }

  /** Cached fixture polygons under a plan only `tag`'s test caches: the
    * dimension handle is memoized per session by cache entry, and another
    * suite may have cached the fixture plan and fetched its handle. */
  private def freshlyCached(tag: String): (DataFrame, DataFrame) = {
    val (polys0, water) = fixtureWorld()
    val polys = polys0.withColumn("cachedBy", lit(tag)).cache()
    polys.count()
    (polys, water)
  }

  /** `f`'s result and the number of Spark jobs started while it ran. */
  private def jobsDuring[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.graft.TestBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val a = f
      org.apache.spark.graft.TestBridge.drainListenerBus(sc)
      (a, jobs.get())
    } finally sc.removeSparkListener(listener)
  }

  test("the dimension is collected in one Spark job") {
    val (polys, water) = freshlyCached("one_job")
    val server = new TopoServer(spark, polys, water, Seq(TopoServer.LayerConfig("countries", 3)),
      tempDir("topo_server_dim")).start()
    try {
      val (r, jobs) = jobsDuring(get(server.boundPort, "/api/geometry/203"))
      assert(r.statusCode() == 200)
      assert(jobs == 1)
    } finally {
      server.stop()
      polys.unpersist()
    }
  }

  test("a second server over the same cached polygons collects nothing") {
    val (polys, water) = freshlyCached("second_server")
    def serve() = new TopoServer(spark, polys, water, Seq(TopoServer.LayerConfig("countries", 3)),
      tempDir("topo_server_dim2")).start()
    val (first, second) = (serve(), serve())
    try {
      val (r1, jobs1) = jobsDuring(get(first.boundPort, "/api/geometry/203"))
      val (r2, jobs2) = jobsDuring(get(second.boundPort, "/api/geometry/203"))
      assert(r1.statusCode() == 200 && r2.body() == r1.body())
      assert(jobs1 == 1 && jobs2 == 0)
      // each server fetched the handle once; both hold the same index
      def snapshot(s: TopoServer) = mapper.readTree(get(s.boundPort, "/api/metrics").body()).get("snapshot")
      assert(snapshot(first).get("builds").asInt() == 1 && snapshot(second).get("builds").asInt() == 1)
      assert(snapshot(first).get("index") == snapshot(second).get("index"))
    } finally {
      first.stop(); second.stop()
      polys.unpersist()
    }
  }

  private val threeLayers = Seq("countries", "regions", "cities").map(TopoServer.LayerConfig(_, simplifyDigits = 3))

  /** 60% within ±0.5° of a fixture city, the rest within ±6° (across the
    * country boundaries), plus every polygon vertex and edge midpoint. */
  private def probePoints(polys: DataFrame, n: Int, seed: Long): Seq[MissingCoord] = {
    val rnd = new scala.util.Random(seed)
    def round6(d: Double) = math.rint(d * 1e6) / 1e6
    val seeded = Seq.fill(n) {
      val (_, cx, cy) = Fixtures.cities(rnd.nextInt(Fixtures.cities.size))
      val r = if (rnd.nextInt(10) < 6) 0.5 else 6.0
      MissingCoord(round6(cy + (rnd.nextDouble() - 0.5) * 2 * r), round6(cx + (rnd.nextDouble() - 0.5) * 2 * r))
    }
    val onRings = polys.select("wkb").as[Array[Byte]].collect().toSeq.flatMap { wkb =>
      val g = Jts.fromWkb(wkb)
      (0 until g.getNumGeometries).flatMap { i =>
        val p = g.getGeometryN(i).asInstanceOf[org.locationtech.jts.geom.Polygon]
        (p.getExteriorRing +: (0 until p.getNumInteriorRing).map(p.getInteriorRingN)).flatMap { ring =>
          val cs = ring.getCoordinates.toSeq
          cs.map(c => MissingCoord(c.y, c.x)) ++
            cs.zip(cs.tail).map { case (a, b) => MissingCoord((a.y + b.y) / 2, (a.x + b.x) / 2) }
        }
      }
    }
    (seeded ++ onRings).distinctBy(_.key)
  }

  test("warm read routes launch no Spark job") {
    val (polys, water) = fixtureWorld()
    val server = new TopoServer(spark, polys, water, threeLayers,
      tempDir("topo_server_jobs")).start()
    try {
      val port = server.boundPort
      val hundred = probePoints(polys, 100, seed = 7).take(100)
      def reads(): Seq[HttpResponse[String]] = Seq(
        post(port, "/api/missing", coordsJson(Seq(MissingCoord(35.8, 139.8)))),
        post(port, "/api/missing", coordsJson(hundred)),
        get(port, "/api/coordinate"),
        get(port, "/api/geometry/203"),
        get(port, "/api/coverage/302"),
        get(port, "/api/topo/countries/103"))
      assert(post(port, "/api/add", """{"countries":103}""").statusCode() == 200)
      // warm-up: one request of each route fetches the dimension and
      // fills the cached render
      reads().foreach(r => assert(r.statusCode() == 200, r.body()))
      val (warm, jobs) = jobsDuring(reads())
      warm.foreach(r => assert(r.statusCode() == 200, r.body()))
      assert(jobs == 0)
    } finally server.stop()
  }

  test("missing and suggestions equal the DataFrame path on 2000 seeded points and every ring point") {
    val (polys0, water) = fixtureWorld()
    val polys = polys0.cache()
    val curatedIds = Map("countries" -> Seq(100L, 101L, 102L, 103L, 104L),
      "regions" -> Seq(200L, 201L), "cities" -> Seq(300L))
    // the first fires in Brussels and keeps its level-6 city; the second
    // fires in New York and drops every region suggestion there
    val rules = Seq(PipJoin.MatchRule("countries", 100L, "cities", Seq(6)),
      PipJoin.MatchRule("countries", 102L, "regions", Seq(5)))
    val coords = probePoints(polys, 2000, seed = 42)
    val pages = coords.map(c => (c.key, c.lon, c.lat)).toDF("url", "lon", "lat").cache()

    // the DataFrame path
    val curated = polys.filter(curatedIds.toSeq.flatMap { case (l, ids) =>
      ids.map(id => col("layer") === l && col("relId") === id) }.reduce(_ || _))
    val curMatches = PipJoin.matches(pages, Ingest.cellCovers(curated), curated).cache()
    val expectedMissing = PipJoin.missing(pages, curMatches, threeLayers.map(_.id))
      .select("url").as[String].collect().toSet
    val expectedIds = curMatches.groupBy("url", "layer").agg(min("relId"))
      .as[(String, String, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val covers = Ingest.cellCovers(polys)
    def suggestions(rules: Seq[PipJoin.MatchRule]) =
      PipJoin.suggestions(pages, covers, polys, PipJoin.matches(pages, covers, polys), rules)
        .select("url", "layer", "relId", "name", "adminLevel").as[(String, String, Long, String, Int)]
        .collect().groupBy(r => (r._1, r._2))
        .map { case (k, rs) => k -> rs.map(r => (r._3, Option(r._4).getOrElse(""), r._5)).sortBy(_._1).toSeq }
        .withDefaultValue(Nil)
    val expectedSugg = suggestions(rules)
    // both sides of the data: complete and incomplete points, and points
    // whose suggestions the rules drop
    assert(expectedMissing.nonEmpty && expectedMissing.size < coords.size)
    assert(suggestions(Nil).values.map(_.size).sum > expectedSugg.values.map(_.size).sum)

    val dataDir = tempDir("topo_server_diff")
    val server = new TopoServer(spark, polys, water, threeLayers, dataDir, rules = rules).start()
    try {
      val port = server.boundPort
      curatedIds.foreach { case (l, ids) =>
        ids.foreach(id => assert(post(port, "/api/add", s"""{"$l":$id}""").statusCode() == 200))
      }
      val imp = post(port, "/api/missing", coordsJson(coords))
      assert(imp.statusCode() == 200, imp.body())
      val records = journal(dataDir)
      assert(!records.exists(_._2))
      val kept = records.map(_._1.key)
      assert(kept.toSet == expectedMissing)
      assert(kept.size == expectedMissing.size)

      // walk the worklist: every head's curated matches and suggestions
      kept.foreach { key =>
        val n = mapper.readTree(get(port, "/api/coordinate").body())
        val c = MissingCoord(n.get("coordinate").get("lat").asDouble(), n.get("coordinate").get("lon").asDouble())
        assert(c.key == key)
        val matched = n.get("matchids").properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
        assert(matched == threeLayers.map(_.id).flatMap(l => expectedIds.get((key, l)).map(l -> _)).toMap, key)
        val sugg = n.get("suggestions")
        assert(sugg.fieldNames().asScala.toSet == threeLayers.map(_.id).toSet -- matched.keySet, key)
        sugg.properties().asScala.foreach { e =>
          val got = e.getValue.elements().asScala
            .map(s => (s.get("id").asLong(), s.get("name").asText(), s.get("admin_level").asInt())).toSeq
          assert(got == expectedSugg((key, e.getKey)), s"$key ${e.getKey}")
        }
        assert(post(port, "/api/delete", s"""{"lat":${c.lat},"lon":${c.lon}}""").statusCode() == 200)
      }
      assert(get(port, "/api/coordinate").body() == "null")
    } finally {
      server.stop()
      Seq(curMatches, pages, polys).foreach(_.unpersist())
    }
  }
}
