package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption, StandardOpenOption}
import java.util.concurrent.Executors

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.JsonUtil
import graft.geom.Jts
import graft.operators.{Dimension, Export, ExportArchive, Ingest, PipIndex, PipJoin}

/** The reference's interactive curation/serving surface
  * (`osmtopo/env.go:140-179` route table, `bin/osmtopo/cmd/cmd_server.go:
  * 30-55`), over the Spark engine. The server owns curation STATE (the
  * per-layer curated relation sets and the missing-coordinate worklist,
  * JSON files under `dataDir`, standing in for the reference's topologies
  * file + LevelDB missing store) and an LRU of rendered TopoJSON documents
  * (`env.go:408-440` topoCache).
  *
  * The point, geometry and coverage reads are answered the way the
  * reference answers them (`lookup.go:156-174`, `env.go:657-715`): from
  * an in-memory index, with no Spark job per request: the [[Dimension]] of
  * the polygons and their [[Ingest.cellCovers]], fetched on first use and
  * shared with the batch operators and every other server over the same
  * dimension version. Lookups run [[PipIndex.hits]], the kernel
  * `PipMatchSpec` pins equal to the Catalyst PIP join; a curated match
  * keeps the hits in the curated sets, and match rules apply to the
  * suggestions through [[PipJoin.MatchRule.keeps]], the suggestion join's
  * filter as a function.
  * Cold TopoJSON renders, the export and `/api/relation` still run engine
  * queries ([[Export.layer]], [[ExportArchive.tarGz]]).
  *
  * Routes (reference handler in parens):
  *  - `GET  /api/status`            (env.go:442-445)
  *  - `POST /api/missing`           (env.go:447-456, missing.go:25-61)
  *  - `GET  /api/coordinate`        (env.go:459-470, missing.go:63-140)
  *  - `GET  /api/topo/<layer>/<id>` (env.go:473-500, getTopology 408-440)
  *  - `GET/DELETE /api/coverage/<id>` (env.go:717-756)
  *  - `GET  /api/geometry/<id>`     (env.go:758-… — GeoJSON of a relation)
  *  - `GET  /api/relation/<id>`     (raw entity JSON)
  *  - `POST /api/add`               (env.go:503-…)
  *  - `POST /api/delete`            (env.go:545-…)
  *  - `POST /api/export`            (env.go:566-573, async)
  *  - `GET  /api/topologies`        (env.go:575-…, tar.gz stream)
  *  - `GET  /api/metrics`           (no reference analogue: per-route
  *    request counts and latency, LRU hits, snapshot and index sizes)
  *
  * `port = 0` binds an ephemeral port (tests); [[boundPort]] reports it.
  */
final class TopoServer(
    spark: SparkSession,
    polygons: DataFrame,
    water: DataFrame,
    layers: Seq[TopoServer.LayerConfig],
    dataDir: Path,
    relations: Option[DataFrame] = None,
    rules: Seq[PipJoin.MatchRule] = Nil,
    port: Int = 0) {

  import TopoServer._

  private val mapper = new ObjectMapper()
  private val lock = new Object

  // ---- curation state (dataDir/topologies.json: {"layer":[ids…]}) ----
  private var curated: Map[String, Vector[Long]] = {
    val f = dataDir.resolve("topologies.json")
    if (Files.exists(f)) {
      val root = mapper.readTree(Files.readAllBytes(f))
      root.fields().asScala.map { e =>
        e.getKey -> e.getValue.elements().asScala.map(_.asLong()).toVector
      }.toMap
    } else Map.empty
  }

  // ---- missing worklist (dataDir/missing.jsonl, an append-only journal) ----
  // Keyed by MissingCoord.key in import order: the head is the oldest
  // entry, and a coordinate is listed once, as in the reference's
  // key-value missing store. Updated in place under `lock`. The journal
  // holds one `{"lat":…,"lon":…}` line per added coordinate and one
  // `{"lat":…,"lon":…,"drop":true}` line per removed one; start-up
  // replays it, ignoring a torn last line (a crash mid-append).
  private val journal = dataDir.resolve("missing.jsonl")
  private val missing = mutable.LinkedHashMap.empty[String, MissingCoord]
  private var journalLines = 0
  locally {
    if (Files.exists(journal)) {
      val text = new String(Files.readAllBytes(journal), UTF_8)
      val lines = text.split("\n", -1).dropRight(1) // the piece after the last newline is torn
      lines.foreach { line =>
        val n = mapper.readTree(line)
        val c = MissingCoord.of(n)
        if (n.has("drop")) missing.remove(c.key) else missing.getOrElseUpdate(c.key, c)
      }
      journalLines = lines.length
      if (!text.isEmpty && !text.endsWith("\n")) compactMissing()
    }
  }

  // Each route rewrites only the state file it changed; callers hold `lock`.
  private def persistCurated(): Unit =
    writeAtomically(dataDir.resolve("topologies.json"), curated.toSeq.sortBy(_._1).map {
      case (l, ids) => s"${JsonUtil.quote(l)}:${ids.mkString("[", ",", "]")}"
    }.mkString("{", ",", "}"))

  private def record(c: MissingCoord, drop: Boolean): String =
    s"""{"lat":${c.lat.toString},"lon":${c.lon.toString}${if (drop) ""","drop":true""" else ""}}\n"""

  /** Appends one record per changed coordinate, then rewrites the journal
    * as the live worklist once it holds more than 2 × live + 64 records,
    * so a write costs O(batch), amortized. */
  private def journalMissing(cs: Seq[MissingCoord], drop: Boolean): Unit = {
    Files.write(journal, cs.map(record(_, drop)).mkString.getBytes(UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    journalLines += cs.length
    if (journalLines > 2 * missing.size + 64) compactMissing()
  }

  private def compactMissing(): Unit = {
    writeAtomically(journal, missing.valuesIterator.map(record(_, drop = false)).mkString)
    journalLines = missing.size
  }

  /** Drops `c` from the worklist; journals the drop if it was listed. */
  private def dropMissing(c: MissingCoord): Unit = lock.synchronized {
    if (missing.remove(c.key).isDefined) journalMissing(Seq(c), drop = true)
  }

  // ---- rendered-topology LRU (env.go topoCache) ----
  private val topoLru = new java.util.LinkedHashMap[String, String](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, String]): Boolean =
      size() > 128
  }
  private var lruHits = 0L
  private var lruMisses = 0L

  @volatile private var exportRunning = false
  @volatile private var exportError: String = ""

  // ------------------------------------------------------------------
  // lookups, from the driver-resident dimension
  // ------------------------------------------------------------------

  // Guarded by `lock`: the first read fetches it, concurrent ones wait.
  private var dim: Dimension = _

  private def dimension(): Dimension = lock.synchronized {
    if (dim == null) {
      // a dimension that breaks the index contract is the server's fault,
      // not the request's: 500, not 400
      dim = try Dimension.of(Ingest.cellCovers(polygons), polygons) catch {
        case e: IllegalArgumentException => throw new IllegalStateException(e.getMessage, e)
      }
    }
    dim
  }

  /** The full index's hits for one coordinate: the polygons containing it. */
  private def hitsAt(d: Dimension, c: MissingCoord): Seq[PipIndex.Poly] =
    d.index.hits(c.lon, c.lat).toSeq.map(d.index.polys(_))

  /** Per-layer match of one coordinate against the CURATED relations
    * (the reference's `e.topologies` lookup): layer -> (relId, name),
    * the smallest containing relId of each layer, as `PipJoin.perLayer`.
    * `hits` are the coordinate's full-index hits; each polygon's pieces
    * depend only on its own covers, so the curated subset of them is what
    * an index over the curated covers alone would return.
    */
  private def curatedMatch(d: Dimension, cur: Map[String, Vector[Long]],
                           hits: Seq[PipIndex.Poly]): Map[String, (Long, String)] =
    hits.filter(p => cur.get(p.layer).exists(_.contains(p.relId))).groupBy(_.layer).map { case (l, ps) =>
      val id = ps.map(_.relId).min
      l -> (id, d.polygons(id).name)
    }

  /** Suggestions for one coordinate from the FULL (uncurated) dimension —
    * the reference's `e.lookup` query in missing.go:87-110 — with the
    * layer match-rules applied as the batch suggestion join applies them.
    * Returns layer -> (relId, name, adminLevel), by relId.
    */
  private def suggestFor(d: Dimension, hits: Seq[PipIndex.Poly]): Map[String, Seq[(Long, String, Int)]] = {
    val matched = hits.map(p => (p.layer, p.relId)).toSet
    hits.map(p => (p.layer, p.relId, d.polygons(p.relId)))
      .filter { case (l, _, row) => rules.forall(_.keeps(matched, l, row.adminLevel)) }
      .groupBy(_._1).map { case (l, rows) =>
        l -> rows.map { case (_, id, row) => (id, row.name, row.adminLevel) }.sortBy(_._1)
      }
  }

  /** Render one object's TopoJSON exactly as the batch export does
    * (env.go:408-440: Select(id) → Simplify(layer) → ClipWater →
    * Quantize(1e6)), through [[Export.layer]] + [[Export.sliceDocuments]]:
    * the lowest-numbered slice, the first file `writeSlices` returns. */
  private def renderTopo(layerId: String, id: Long): Option[String] = {
    val cfg = layers.find(_.id == layerId)
      .getOrElse(throw new IllegalArgumentException(s"Unknown layer: $layerId"))
    val key = s"$layerId-$id"
    lock.synchronized {
      val doc = Option(topoLru.get(key))
      if (doc.isDefined) lruHits += 1 else lruMisses += 1
      doc
    } match {
      case Some(doc) => Some(doc)
      case None =>
        if (!dimension().polygons.get(id).exists(_.layer == layerId)) None
        else {
          val result = Export.layer(polygons, water, layerId, Seq(id),
            simplifyDigits = cfg.simplifyDigits, quantize = 1e6,
            pointLimit = Int.MaxValue, relations = relations,
            languages = cfg.languages)
          try {
            val doc = Export.sliceDocuments(result).collect().minBy(_._1)._2
            lock.synchronized(topoLru.put(key, doc))
            Some(doc)
          } finally result.release()
        }
    }
  }

  /** Import missing coordinates: keep only those NOT matched by every
    * configured layer's curated set (missing.go:25-61). */
  private def importMissing(coords: Seq[MissingCoord]): Int = {
    val (d, cur) = lock.synchronized((dimension(), curated))
    val layerIds = layers.map(_.id).toSet
    val incomplete = coords.filterNot(c => layerIds.subsetOf(curatedMatch(d, cur, hitsAt(d, c)).keySet))
    lock.synchronized {
      val added = incomplete.filterNot(c => missing.contains(c.key)).distinctBy(_.key)
      added.foreach(c => missing(c.key) = c)
      if (added.nonEmpty) journalMissing(added, drop = false)
      missing.size
    }
  }

  /** Next incomplete coordinate + per-layer matched/suggestions
    * (missing.go:63-140): complete heads are removed and the scan
    * continues, exactly the reference's recursion. Returns JSON. */
  private def nextCoordinate(): String = {
    while (true) {
      val head = lock.synchronized(missing.headOption.map(_._2))
      head match {
        case None => return "null"
        case Some(c) =>
          val (d, cur) = lock.synchronized((dimension(), curated))
          val hits = hitsAt(d, c)
          val matched = curatedMatch(d, cur, hits)
          val unmatchedLayers = layers.map(_.id).filterNot(matched.contains)
          if (unmatchedLayers.isEmpty) {
            dropMissing(c)
            // loop: next head
          } else {
            val sugg = suggestFor(d, hits)
            val suggJson = unmatchedLayers.map { l =>
              val entries = sugg.getOrElse(l, Nil).map { case (id, name, al) =>
                s"""{"id":$id,"name":${JsonUtil.quote(Option(name).getOrElse(""))},"admin_level":$al}"""
              }.mkString("[", ",", "]")
              s"${JsonUtil.quote(l)}:$entries"
            }.mkString("{", ",", "}")
            val matchedJson = matched.keys.toSeq.sorted.map(l => s"${JsonUtil.quote(l)}:true")
              .mkString("{", ",", "}")
            val nameJson = matched.toSeq.sortBy(_._1).map { case (l, (_, n)) =>
              s"${JsonUtil.quote(l)}:${JsonUtil.quote(Option(n).getOrElse(""))}"
            }.mkString("{", ",", "}")
            val idJson = matched.toSeq.sortBy(_._1).map { case (l, (id, _)) =>
              s"${JsonUtil.quote(l)}:$id"
            }.mkString("{", ",", "}")
            return s"""{"coordinate":{"lat":${c.lat.toString},"lon":${c.lon.toString}},""" +
              s""""suggestions":$suggJson,"matched":$matchedJson,""" +
              s""""matchnames":$nameJson,"matchids":$idJson}"""
          }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def runExport(): Unit = {
    exportRunning = true; exportError = ""
    try {
      val exportDir = dataDir.resolve("export")
      Files.createDirectories(exportDir)
      val cur = lock.synchronized(curated)
      layers.foreach { cfg =>
        val ids = cur.getOrElse(cfg.id, Vector.empty)
        if (ids.nonEmpty) {
          val result = Export.layer(polygons, water, cfg.id, ids,
            simplifyDigits = cfg.simplifyDigits, quantize = 1e6,
            relations = relations, languages = cfg.languages)
          try {
            val layerDir = exportDir.resolve(cfg.id)
            Files.createDirectories(layerDir)
            Export.writeSlices(result, layerDir.toString)
          } finally result.release()
        }
      }
      ExportArchive.tarGz(exportDir, dataDir.resolve("export.tar.gz"))
    } catch {
      case e: Exception => exportError = Option(e.getMessage).getOrElse(e.toString)
    } finally exportRunning = false
  }

  /** The /api/metrics document: the server's counters are read under
    * `lock`, each route's under its own. */
  private def metricsJson(): String = {
    val routeJson = routes.map { case (path, st) => s"${JsonUtil.quote(path)}:${st.json}" }
      .mkString("{", ",", "}")
    lock.synchronized {
      val snap = Option(dim)
      val polys = snap.toSeq.flatMap(_.polygons.values.map(_.wkb))
      // the stab of the dimension's PipIndex
      val st = snap.fold(PipIndex.Stats(0, 0, 0.0, 0L))(_.index.stats)
      s"""{"routes":$routeJson,"topo_lru":{"hits":$lruHits,"misses":$lruMisses},""" +
        s""""snapshot":{"builds":${snap.size},"polygons":${polys.size},"cells":${snap.fold(0)(_.covers.rows.length)},""" +
        s""""wkb_bytes":${polys.map(_.length.toLong).sum},"index":{"segments":${st.segments},""" +
        s""""entries":${st.entries},"interior_share":${JsonUtil.num("%.4f", st.interiorShare)},""" +
        s""""bytes":${st.bytes}}}}"""
    }
  }

  // ------------------------------------------------------------------
  // HTTP plumbing
  // ------------------------------------------------------------------

  // The JDK server writes a response's headers and its body as two TCP
  // segments; with Nagle's algorithm on, the body waits for the client's
  // delayed ACK, about 40 ms on most keep-alive requests. The JDK reads
  // this property once, when its first server in the JVM is created.
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val server: HttpServer = HttpServer.create(new InetSocketAddress(port), 0)
  // non-daemon pool: must be shut down in stop() or it pins the JVM
  // (DestroyJavaVM waits on live non-daemon threads after main returns)
  private val executor = Executors.newFixedThreadPool(4)
  server.setExecutor(executor)

  def boundPort: Int = server.getAddress.getPort

  private def respond(ex: HttpExchange, code: Int, body: Array[Byte],
                      contentType: String = "application/json"): Unit = {
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length)
    if (body.nonEmpty) ex.getResponseBody.write(body)
    ex.close()
  }
  private def respond(ex: HttpExchange, code: Int, body: String): Unit =
    respond(ex, code, body.getBytes(UTF_8))

  // one entry per route, in registration order; filled by the
  // constructor, then only read
  private val routes = scala.collection.mutable.LinkedHashMap.empty[String, RouteStats]

  private def handle(path: String)(f: HttpExchange => Unit): Unit = {
    val stats = new RouteStats
    routes(path) = stats
    server.createContext(path, (ex: HttpExchange) => {
      val t0 = System.nanoTime()
      try f(ex)
      catch {
        case e: IllegalArgumentException => respond(ex, 400, Option(e.getMessage).getOrElse(""))
        case e: Exception => respond(ex, 500, Option(e.getMessage).getOrElse(e.toString))
      } finally stats.record((System.nanoTime() - t0) / 1e6)
    })
  }

  private def idFromPath(ex: HttpExchange, depth: Int): Long = {
    val parts = ex.getRequestURI.getPath.split("/")
    if (parts.length != depth) throw new IllegalArgumentException("Missing ID")
    parts.last.toLong
  }

  handle("/api/status") { ex =>
    val n = lock.synchronized(missing.size)
    val layersJson = layers.map(l => JsonUtil.quote(l.id)).mkString("[", ",", "]")
    respond(ex, 200,
      s"""{"missing":$n,"export":{"running":$exportRunning,"error":${JsonUtil.quote(exportError)}},"layers":$layersJson}""")
  }

  handle("/api/missing") { ex =>
    if (ex.getRequestMethod != "POST") respond(ex, 400, "Should send a POST request")
    else {
      val root = mapper.readTree(ex.getRequestBody)
      val coords = root.elements().asScala
        .map(MissingCoord.of).toSeq
      val total = importMissing(coords)
      respond(ex, 200, s"""{"missing":$total}""")
    }
  }

  handle("/api/coordinate") { ex => respond(ex, 200, nextCoordinate()) }

  handle("/api/topo/") { ex =>
    val parts = ex.getRequestURI.getPath.split("/")
    if (parts.length != 5) respond(ex, 404, "Missing ID")
    else renderTopo(parts(3), parts(4).toLong) match {
      case Some(doc) => respond(ex, 200, doc)
      case None => respond(ex, 404, "Not Found")
    }
  }

  handle("/api/coverage/") { ex =>
    val id = idFromPath(ex, 4)
    ex.getRequestMethod match {
      case "GET" =>
        dimension().covers.cells.get(id) match {
          case None => respond(ex, 404, "Not Found")
          case Some(cells) => respond(ex, 200, cells.mkString("[", ",", "]"))
        }
      case "DELETE" =>
        // covers are DERIVED here (recomputed from geometry on ingest);
        // deleting a persisted cover to force recompute, as the
        // reference does, has no analogue — evict any rendered topo
        // documents for the relation instead
        lock.synchronized {
          topoLru.keySet().removeIf(_.endsWith(s"-$id")); ()
        }
        respond(ex, 200, "")
      case m => respond(ex, 400, s"Method not allowed: $m")
    }
  }

  handle("/api/geometry/") { ex =>
    val id = idFromPath(ex, 4)
    dimension().polygons.get(id) match {
      case None => respond(ex, 404, "Not Found")
      case Some(p) => respond(ex, 200, geoJson(Jts.fromWkb(p.wkb)))
    }
  }

  handle("/api/relation/") { ex =>
    val id = idFromPath(ex, 4)
    relations match {
      case None => respond(ex, 404, "Not Found")
      case Some(rels) =>
        val rows = rels.filter(col("id") === id).limit(1).collect()
        if (rows.isEmpty) respond(ex, 404, "Not Found")
        else respond(ex, 200, entityJson(rows.head))
    }
  }

  handle("/api/add") { ex =>
    if (ex.getRequestMethod != "POST") respond(ex, 400, "Should send a POST request")
    else {
      val root = mapper.readTree(ex.getRequestBody)
      lock.synchronized {
        val before = curated
        layers.foreach { cfg =>
          val node = root.get(cfg.id)
          if (node != null) {
            val id = node.asLong()
            if (!curated.getOrElse(cfg.id, Vector.empty).contains(id))
              curated = curated.updated(cfg.id, curated.getOrElse(cfg.id, Vector.empty) :+ id)
          }
        }
        if (curated != before) persistCurated()
      }
      respond(ex, 200, "")
    }
  }

  handle("/api/delete") { ex =>
    if (ex.getRequestMethod != "POST") respond(ex, 400, "Should send a POST request")
    else {
      dropMissing(MissingCoord.of(mapper.readTree(ex.getRequestBody)))
      respond(ex, 200, "")
    }
  }

  handle("/api/export") { ex =>
    if (ex.getRequestMethod != "POST") respond(ex, 400, "Should send a POST request")
    else {
      if (!exportRunning) {
        val t = new Thread(() => runExport(), "topo-export")
        t.setDaemon(true); t.start()
      }
      respond(ex, 200, "")
    }
  }

  handle("/api/topologies") { ex =>
    if (exportRunning) respond(ex, 400, "Export is currently running")
    else if (exportError.nonEmpty) respond(ex, 500, s"Export failed: $exportError")
    else {
      val f = dataDir.resolve("export.tar.gz")
      if (!Files.exists(f)) respond(ex, 404, "Not Found")
      else respond(ex, 200, Files.readAllBytes(f), "application/gzip")
    }
  }

  handle("/api/metrics") { ex => respond(ex, 200, metricsJson()) }

  def start(): TopoServer = { server.start(); this }

  def stop(): Unit = {
    server.stop(0)
    executor.shutdown()
  }
}

object TopoServer {

  /** One export layer (reference `config.Layers`): simplification level
    * and the languages whose `name:<lang>` tags ride export properties. */
  case class LayerConfig(id: String, simplifyDigits: Int, languages: Seq[String] = Nil)

  case class MissingCoord(lat: Double, lon: Double) {
    def key: String = s"$lat,$lon"
  }
  object MissingCoord {
    def of(n: JsonNode): MissingCoord = MissingCoord(n.get("lat").asDouble(), n.get("lon").asDouble())
  }

  /** Latencies kept per route for /api/metrics' percentiles. */
  private val LatencyWindow = 1024

  /** Request count and the latest [[LatencyWindow]] latencies of a route. */
  private final class RouteStats {
    private val window = new Array[Double](LatencyWindow)
    private var count = 0L

    def record(ms: Double): Unit = synchronized {
      window((count % LatencyWindow).toInt) = ms
      count += 1
    }

    /** Count and nearest-rank p50/p99 over the window; null before any request. */
    def json: String = synchronized {
      val xs = window.take(math.min(count, LatencyWindow.toLong).toInt).sorted
      def pct(p: Double): String =
        if (xs.isEmpty) "null" else xs(math.max(0, math.ceil(p * xs.length).toInt - 1)).toString
      s"""{"count":$count,"p50_ms":${pct(0.5)},"p99_ms":${pct(0.99)}}"""
    }
  }

  /** Replaces `target` with `json` through a sibling temp file and an
    * atomic rename, so a crash mid-write never leaves a truncated file. */
  private def writeAtomically(target: Path, json: String): Unit = {
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    Files.write(tmp, json.getBytes(UTF_8))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Relation row → entity JSON (id + tags map, the reference's raw
    * model JSON). Columns beyond relId/tags are ignored. */
  private[server] def entityJson(row: Row): String = {
    val id = row.getLong(row.fieldIndex("id"))
    val tagsJson =
      if (row.schema.fieldNames.contains("tags")) {
        val m = row.getAs[Map[String, String]]("tags")
        m.toSeq.sortBy(_._1)
          .map { case (k, v) => s"${JsonUtil.quote(k)}:${JsonUtil.quote(v)}" }
          .mkString("{", ",", "}")
      } else "{}"
    s"""{"id":$id,"tags":$tagsJson}"""
  }

  /** Minimal Polygon/MultiPolygon GeoJSON writer (geometry only — the
    * reference serves the stored per-relation GeoJSON blob). */
  private[server] def geoJson(g: org.locationtech.jts.geom.Geometry): String = {
    def ringJson(r: org.locationtech.jts.geom.LineString): String =
      r.getCoordinates.map(c => s"[${c.x},${c.y}]")
        .mkString("[", ",", "]")
    def polyJson(p: org.locationtech.jts.geom.Polygon): String =
      (ringJson(p.getExteriorRing) +:
        (0 until p.getNumInteriorRing).map(i => ringJson(p.getInteriorRingN(i))))
        .mkString("[", ",", "]")
    g match {
      case p: org.locationtech.jts.geom.Polygon =>
        s"""{"type":"Polygon","coordinates":${polyJson(p)}}"""
      case mp: org.locationtech.jts.geom.MultiPolygon =>
        val polys = (0 until mp.getNumGeometries)
          .map(i => polyJson(mp.getGeometryN(i).asInstanceOf[org.locationtech.jts.geom.Polygon]))
          .mkString("[", ",", "]")
        s"""{"type":"MultiPolygon","coordinates":$polys}"""
      case other =>
        throw new IllegalArgumentException(s"Unsupported geometry: ${other.getGeometryType}")
    }
  }
}
