package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic engine fixtures (FIXTURES.md §B).
  *
  * `pages` is the fact table from BASELINE.json's input_hint —
  * (url, warc_ts, html, text, lang) + a geocode that is a *pure integer
  * function of doc_id*, expressed as SQL shared verbatim between the Spark
  * plan and the DuckDB oracle. 60% of pages cluster into 5 "city" hotspots
  * (hot cells for the partitioned join); text is carried byte-identical from
  * `documents` (the per-row invariant).
  *
  * The OSM-side dimension tables (nodes/ways/relations/water) mirror
  * storage.proto:20-42 and are synthesized closed-form (no RNG): octagonal
  * admin polygons at three levels around each city, ways split/reversed/
  * rotated so ring assembly must do end→start, end→end and start→start
  * merges, a hole member, a blacklisted relation, a tag-rejected relation,
  * and the degenerate shapes the reference guards against (duplicate
  * consecutive points — the Hoorn regression; <4 unique points — cover
  * skip; area < 1e-5 — assembly drop).
  */
object Fixtures {

  // ---- parquet table-plan memo -------------------------------------------

  /** Lazy parquet read through [[graft.SessionMemo]], versioned by the
    * path's [[ContentStamp]]: the same lazy DataFrame (file list + schema,
    * never rows) per session until the table is rewritten. It saves the
    * driver-side listing + footer read that registerViews paid for 10
    * tables per SQL-backed query (0.86–2.2 s a call, BENCH.md round 8).
    */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    graft.SessionMemo.get(spark, s"parquet:$path", ContentStamp(spark, path))(
      spark.read.parquet(path))(_ => ())

  // ---- pages ------------------------------------------------------------

  /** (lonSql, latSql): the geocode, identical in Spark SQL and DuckDB.
    *
    * Overflow-safe to doc_id ≈ 9.2e18: the big scatter multipliers are
    * pre-reduced mod the range ((a·d) mod m == ((a mod m)·(d mod m)) mod
    * m, and (m-1)·(a mod m) < 2^63), so neither engine can hit int64
    * wraparound (Spark ANSI) / overflow errors (DuckDB) at large scale
    * factors. Values are bit-identical to the unreduced form:
    * 1099511628211 ≡ 71628211 (mod 36e7), 2654435761 ≡ 134435761
    * (mod 18e7).
    */
  val latSql: String =
    """CASE WHEN doc_id % 10 < 6 THEN
      |  (CASE doc_id % 5 WHEN 0 THEN 50850000 WHEN 1 THEN 48850000 WHEN 2 THEN 40700000
      |        WHEN 3 THEN 35700000 ELSE -33900000 END
      |   + ((doc_id * 7919) % 1000000) - 500000) / 1e6
      |ELSE (((doc_id % 180000000) * 134435761) % 180000000) / 1e6 - 90.0 END""".stripMargin
  val lonSql: String =
    """CASE WHEN doc_id % 10 < 6 THEN
      |  (CASE doc_id % 5 WHEN 0 THEN 4350000 WHEN 1 THEN 2350000 WHEN 2 THEN -74000000
      |        WHEN 3 THEN 139700000 ELSE 151200000 END
      |   + ((doc_id * 104729) % 1000000) - 500000) / 1e6
      |ELSE (((doc_id % 360000000) * 71628211) % 360000000) / 1e6 - 180.0 END""".stripMargin

  /** The same pages derivation as a SQL CTE body for the DuckDB oracle. */
  def pagesCte: String =
    s"""SELECT doc_id,
       |       concat('https://example.test/doc/', doc_id) AS url,
       |       text, lang,
       |       1704067200 + doc_id AS warc_epoch,
       |       $lonSql AS lon,
       |       $latSql AS lat
       |FROM documents""".stripMargin

  def documents(spark: SparkSession, sfDir: String): DataFrame =
    readParquet(spark, s"$sfDir/documents.parquet")

  /** The pages fact table. `replicate` > 1 scales the table for benchmarks
    * (each replica keeps the geocode of its doc but a distinct url); oracle
    * queries use replicate=1 so DuckDB sees the identical table.
    */
  def pages(spark: SparkSession, sfDir: String, replicate: Int = 1): DataFrame = {
    val base = documents(spark, sfDir)
      .withColumn("url", concat(lit("https://example.test/doc/"), col("doc_id")))
      .withColumn("warc_epoch", lit(1704067200L) + col("doc_id"))
      .withColumn("warc_ts", timestamp_seconds(col("warc_epoch")))
      .withColumn("html", concat(lit("<html><body>"), col("text"), lit("</body></html>")).cast("binary"))
      .withColumn("lon", expr(lonSql))
      .withColumn("lat", expr(latSql))
      .select("doc_id", "url", "warc_ts", "warc_epoch", "html", "text", "lang", "lon", "lat")
    if (replicate <= 1) base
    else base
      // spread the base docs before the replica-explode: the source is a
      // single parquet split, and without this the explode (and everything
      // narrow after it) runs in one task regardless of cores
      .repartition(spark.sparkContext.defaultParallelism * 2, col("doc_id"))
      .withColumn("rep", explode(sequence(lit(0), lit(replicate - 1))))
      .withColumn("url", concat(col("url"), lit("/"), col("rep")))
      .drop("rep")
  }

  // ---- OSM-like dimension tables -----------------------------------------

  case class Node(id: Long, lat: Double, lon: Double)
  case class Member(id: Long, mtype: Int, role: String)
  case class Relation(id: Long, tags: Map[String, String], members: Seq[Member])
  /** A shapefile-part analogue: one polygon = multiple rings in one row. */
  case class WaterPoly(id: Long, rings: Seq[Seq[(Double, Double)]])
  case class Way(id: Long, refs: Seq[Long])

  val cities: Seq[(String, Double, Double)] = Seq(
    ("brussels", 4.35, 50.85), ("paris", 2.35, 48.85), ("nyc", -74.0, 40.7),
    ("tokyo", 139.7, 35.7), ("sydney", 151.2, -33.9))

  val blacklist: Seq[Long] = Seq(999L)

  /** CCW octagon vertices (open ring, 8 points). */
  def octagon(cx: Double, cy: Double, r: Double): IndexedSeq[(Double, Double)] =
    (0 until 8).map { k =>
      val th = k * math.Pi / 4
      // 6-decimal grid keeps coordinates exactly representable
      (math.rint((cx + r * math.cos(th)) * 1e6) / 1e6,
        math.rint((cy + r * math.sin(th)) * 1e6) / 1e6)
    }

  /** Only 3 unique points: assembles to a valid triangle polygon, but the
    * reference coverer refuses < 4-unique-point rings (lookup.go:183-185),
    * so it is unreachable through the cover index — reachable only through
    * pure-geometry paths (the PipJoinRewrite SQL sugar).
    */
  val triangleRing: IndexedSeq[(Double, Double)] =
    IndexedSeq((40.0, 10.0), (41.0, 10.0), (40.0, 11.0))

  /** The duplicated-consecutive-point ring (Hoorn regression input). */
  def dupRing: IndexedSeq[(Double, Double)] = {
    val o = octagon(10.0, 45.0, 1.0)
    (o.take(3) :+ o(2)) ++ o.drop(3) // duplicate vertex 2
  }

  /** Input-level ground truth for the DuckDB PIP oracle: every relation
    * that survives ingest AND carries a non-empty cell cover, as plain
    * rings — (layer, relId, adminLevel, name, outerRing, holes). Mirrors
    * the `osm` builder below; relIds 995 (degenerate cover → unreachable
    * through the index, reference lookup.go:183-189), 997 (sub-area drop),
    * 998 (tag-rejected) and 999 (blacklisted) are deliberately absent.
    */
  lazy val oracleDims: Seq[(String, Long, Int, String,
      IndexedSeq[(Double, Double)], Seq[IndexedSeq[(Double, Double)]])] = {
    val perCity = cities.zipWithIndex.flatMap { case ((name, cx, cy), c) =>
      Seq(
        ("countries", (100 + c).toLong, 2, s"country_$name", octagon(cx, cy, 5.0),
          if (c == 0) Seq(octagon(cx + 3.0, cy, 0.8)) else Nil),
        ("regions", (200 + c).toLong, 4, s"region_$name", octagon(cx, cy, 2.0), Nil),
        ("cities", (300 + c).toLong, if (c < 3) 6 else 8, s"city_$name", octagon(cx, cy, 0.6), Nil))
    }
    perCity ++ Seq(
      ("water", 500L, 0, "north_sea", octagon(4.35 - 4.5, 50.85, 1.5), Nil),
      ("regions", 996L, 4, "dup_point", dupRing, Nil))
  }

  /** In-memory OSM fixture: (nodes, ways, relations, water). */
  lazy val osm: (Seq[Node], Seq[Way], Seq[Relation], Seq[WaterPoly]) = {
    val nodes = collection.mutable.ArrayBuffer[Node]()
    val ways = collection.mutable.ArrayBuffer[Way]()
    val rels = collection.mutable.ArrayBuffer[Relation]()

    /** Register a ring for relation `relId` with role; returns members.
      * Splits the closed 9-point path into 3 chains, reverses the middle
      * one, and rotates member order by relId%3 — forcing all three merge
      * branches of ring assembly.
      */
    def addRing(relId: Long, ringIdx: Int, ring: IndexedSeq[(Double, Double)], role: String): Seq[Member] = {
      val baseNode = relId * 1000 + ringIdx * 100
      val ids = ring.indices.map(k => baseNode + k)
      ring.zip(ids).foreach { case ((lon, lat), id) => nodes += Node(id, lat, lon) }
      val closed = ids :+ ids.head
      val n = closed.length // 9 for octagon
      val cuts = Seq(0, n / 3, 2 * n / 3, n - 1)
      val chains = cuts.sliding(2).map { case Seq(a, b) => closed.slice(a, b + 1) }.toSeq
      val wayIds = chains.indices.map(k => relId * 100 + ringIdx * 10 + k)
      val oriented = chains.zipWithIndex.map { case (c, k) => if (k == 1) c.reverse else c }
      wayIds.zip(oriented).foreach { case (wid, refs) => ways += Way(wid, refs.map(_.toLong)) }
      val rot = (relId % 3).toInt
      val order = wayIds.indices.map(k => wayIds((k + rot) % wayIds.length))
      order.map(wid => Member(wid, 1, role))
    }

    def addRelation(relId: Long, tags: Map[String, String],
                    outer: IndexedSeq[(Double, Double)],
                    inner: Option[IndexedSeq[(Double, Double)]] = None): Unit = {
      val ms = addRing(relId, 0, outer, "outer") ++
        inner.map(r => addRing(relId, 1, r, "inner")).getOrElse(Nil) :+
        Member(relId * 1000 + 999, 0, "admin_centre") // node member, must be ignored
      nodes += Node(relId * 1000 + 999, outer.head._2, outer.head._1)
      rels += Relation(relId, tags, ms)
    }

    cities.zipWithIndex.foreach { case ((name, cx, cy), c) =>
      addRelation(100 + c, Map("admin_level" -> "2", "name" -> s"country_$name",
        "name:nl" -> s"land_$name", "boundary" -> "administrative"),
        octagon(cx, cy, 5.0),
        // country 100 (brussels) has a lake hole east of the region
        if (c == 0) Some(octagon(cx + 3.0, cy, 0.8)) else None)
      addRelation(200 + c, Map("admin_level" -> "4", "name" -> s"region_$name"),
        octagon(cx, cy, 2.0))
      addRelation(300 + c, Map("admin_level" -> (if (c < 3) "6" else "8"), "name" -> s"city_$name"),
        octagon(cx, cy, 0.6))
    }
    // water relation (accepted via natural=water)
    addRelation(500, Map("natural" -> "water", "name" -> "north_sea"),
      octagon(4.35 - 4.5, 50.85, 1.5))
    // blacklisted
    addRelation(999, Map("admin_level" -> "2", "name" -> "blacklisted"),
      octagon(20.0, 20.0, 3.0))
    // no accepted tag -> rejected on ingest
    addRelation(998, Map("name" -> "no_admin"), octagon(25.0, 25.0, 3.0))
    // area below 1e-5 -> dropped during assembly (polygon.go:55-62)
    addRelation(997, Map("admin_level" -> "6", "name" -> "tiny"),
      octagon(30.0, 30.0, 0.001))
    // duplicate consecutive point (Hoorn regression): valid polygon + cover
    addRelation(996, Map("admin_level" -> "4", "name" -> "dup_point"), dupRing)
    // only 3 unique points: assembles to a (degenerate) polygon but its
    // cover is empty (lookup.go:183-185) -> never matched via the index
    addRelation(995, Map("admin_level" -> "4", "name" -> "triangle"), triangleRing)

    // orphan rows exercising the needed-id semi-joins (S3)
    nodes += Node(900001L, 0.0, 0.0)
    nodes += Node(900002L, 1.0, 1.0)
    ways += Way(900001L, Seq(900001L, 900002L))

    // water shapefile parts (S5/G7): ocean west of brussels with an island
    // hole, a sub-threshold speck, and a 2-point degenerate part.
    // Orientation per the reference's shoelace: area >= 0 => outer.
    val oceanOuter = {
      val o = octagon(-1.0, 50.85, 2.5)
      if (!graft.geom.Algorithms.isClockwise(o :+ o.head)) o.reverse else o
    }
    val island = {
      val o = octagon(-1.0, 50.85, 0.4)
      if (graft.geom.Algorithms.isClockwise(o :+ o.head)) o.reverse else o
    }
    val speck = octagon(-3.0, 49.0, 0.0005)
    val water = Seq(WaterPoly(1L,
      Seq(oceanOuter.toSeq, island.toSeq, speck.toSeq, Seq((0.0, 0.0), (1.0, 1.0)))))

    (nodes.toSeq, ways.toSeq, rels.toSeq, water)
  }

  def nodesDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    osm._1.toDF("id", "lat", "lon")
  }
  def waysDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    osm._2.toDF("id", "refs")
  }
  def relationsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    osm._3.map(r => (r.id, r.tags, r.members.map(m => (m.id, m.mtype, m.role))))
      .toDF("id", "tags", "members")
      .withColumn("members", expr("transform(members, m -> struct(m._1 AS id, m._2 AS type, m._3 AS role))"))
  }
  /** Real binary-PPM (P6) images, one per document — deterministic pixel
    * formula so the DuckDB oracle can recompute dimensions and channel
    * means WITHOUT parsing bytes: width = 4 + doc_id%5, height =
    * 3 + doc_id%4 (single-digit, so the header is always 11 bytes), and
    * raster byte k = (doc_id + k) % 256. These are genuinely valid PPM
    * files (any netpbm tool opens them); `Multimodal.PpmCodec` decodes
    * them for real.
    */
  def ppmImages(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    documents(spark, sfDir).select("doc_id").as[Long].map { id =>
      val w = (4 + id % 5).toInt
      val h = (3 + id % 4).toInt
      val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
      val raster = Array.tabulate(3 * w * h)(k => ((id + k) % 256).toByte)
      (s"https://example.test/doc/$id", header ++ raster)
    }.toDF("url", "img")
  }

  /** Real PNG images (8-bit truecolor, zlib-compressed via the JDK's
    * Deflater — genuinely valid files any viewer opens), same dims/pixel
    * formula as `ppmImages` so the q_media_png oracle reuses the same
    * independent derivation. The compressed byte length is
    * deflate-dependent, so PNG outputs omit byte_len.
    */
  def pngImages(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    documents(spark, sfDir).select("doc_id").as[Long].map { id =>
      val w = (4 + id % 5).toInt
      val h = (3 + id % 4).toInt
      val rgb = Array.tabulate(3 * w * h)(k => ((id + k) % 256).toByte)
      (s"https://example.test/doc/$id", graft.operators.Multimodal.PngCodec.encode(w, h, rgb))
    }.toDF("url", "img")
  }

  /** Valid baseline JPEGs, one per document: per-8x8-block-constant colors
    * with the all-ones quantization table, which JpegSpec proves decode
    * EXACTLY to the closed-form YCbCr round trip — so q_media_jpeg's
    * DuckDB oracle can recompute the decoded channel means from this
    * formula without parsing a byte. Dims (4+id%21)x(3+id%17) run off the
    * 8-grid to exercise MCU edge padding + crop.
    */
  def jpegImages(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    documents(spark, sfDir).select("doc_id").as[Long].map { id =>
      val w = (4 + id % 21).toInt
      val h = (3 + id % 17).toInt
      val rgb = new Array[Byte](3 * w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val bx = x / 8; val by = y / 8
          val o = 3 * (y * w + x)
          rgb(o) = ((id + 7 * bx + 13 * by) % 256).toByte
          rgb(o + 1) = ((2 * id + 11 * bx + 5 * by + 3) % 256).toByte
          rgb(o + 2) = ((3 * id + 17 * bx + 19 * by + 6) % 256).toByte
          x += 1
        }
        y += 1
      }
      (s"https://example.test/doc/$id", graft.operators.JpegCodec.encode(w, h, rgb))
    }.toDF("url", "img")
  }

  /** Real PCM WAVE audio, one clip per document — deterministic sample
    * formula so the DuckDB oracle recomputes duration and sample stats
    * WITHOUT parsing bytes: rate = 8000 + (doc_id%3)·4000, n = 40 +
    * doc_id%50 frames, sample k = (doc_id·31 + k·77)%65536 − 32768.
    * Encoded with the LIST/INFO chunk so decoding exercises the RIFF
    * chunk walk (not a fixed 44-byte header assumption); these are
    * genuinely valid WAVE files (javax.sound opens them — WavSpec).
    */
  def wavAudio(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    documents(spark, sfDir).select("doc_id").as[Long].map { id =>
      val n = (40 + id % 50).toInt
      val rate = (8000 + (id % 3) * 4000).toInt
      val s = Array.tabulate(n)(k => (((id * 31 + k * 77) % 65536) - 32768).toShort)
      (s"https://example.test/doc/$id",
        graft.operators.WavCodec.encode(rate, s, withListChunk = true))
    }.toDF("url", "wav")
  }

  /** Real MJPEG-in-AVI video clips, one per document: nf = 2 + id%4
    * frames of (4 + id%13)×(3 + id%11) pixels at 20000 + (id%3)·20000 µs
    * per frame, each frame a per-8×8-block-constant baseline JPEG
    * (all-ones quant — the lossless fixture class JpegSpec pins) with
    * block color formula r = (id + 7bx + 13by + 29f)%256, g = (2id +
    * 11bx + 5by + 3 + 31f)%256, b = (3id + 17bx + 19by + 6 + 37f)%256 —
    * so q_media_avi's oracle recomputes the decoded means per frame from
    * the formula. Genuinely valid AVI containers (hdrl/movi/idx1).
    */
  def aviVideos(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    documents(spark, sfDir).select("doc_id").as[Long].map { id =>
      val w = (4 + id % 13).toInt
      val h = (3 + id % 11).toInt
      val nf = (2 + id % 4).toInt
      val uspf = 20000L + (id % 3) * 20000L
      val frames = (0 until nf).map { f =>
        val rgb = new Array[Byte](3 * w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val bx = x / 8; val by = y / 8
            val o = 3 * (y * w + x)
            rgb(o) = ((id + 7 * bx + 13 * by + 29 * f) % 256).toByte
            rgb(o + 1) = ((2 * id + 11 * bx + 5 * by + 3 + 31 * f) % 256).toByte
            rgb(o + 2) = ((3 * id + 17 * bx + 19 * by + 6 + 37 * f) % 256).toByte
            x += 1
          }
          y += 1
        }
        graft.operators.JpegCodec.encode(w, h, rgb)
      }
      (s"https://example.test/doc/$id", graft.operators.AviCodec.encode(w, h, uspf, frames))
    }.toDF("url", "avi")
  }

  /** Split-octagon layer: each city's octagon divided into west/east
    * halves sharing the vertical chord between the top (k=2) and bottom
    * (k=6) vertices — the junction / shared-arc fixture for the raw
    * topology query (objIds 600+2c west, 601+2c east). Rings are CLOSED.
    */
  lazy val splitOctagons: Seq[(Long, IndexedSeq[(Double, Double)])] =
    cities.zipWithIndex.flatMap { case ((_, cx, cy), c) =>
      val o = octagon(cx, cy, 1.0)
      Seq(
        (600L + 2 * c, IndexedSeq(o(2), o(3), o(4), o(5), o(6), o(2))),
        (601L + 2 * c, IndexedSeq(o(6), o(7), o(0), o(1), o(2), o(6))))
    }

  /** Split-rectangle fixture for the Douglas-Peucker-stage oracle
    * (q_topo_arcs_dp): per city, two half rings sharing the vertical
    * chord between (cx, cy+1) and (cx, cy−1), every edge subdivided into
    * power-of-two steps with small dyadic perpendicular jitter
    * (±20/1024 ≈ ±0.0195) so DP at tolerance 10⁻² makes a NONTRIVIAL
    * keep/drop decision per interior vertex — some vertices survive,
    * some drop, varying by city and edge (TopoPipelineSpec pins that
    * both outcomes occur). Chord subpoints use a formula shared by both
    * halves, so the chord dedups into one shared arc exactly like the
    * octagon fixture. objIds 700+2c west, 701+2c east; rings CLOSED.
    */
  lazy val dpRects: Seq[(Long, IndexedSeq[(Double, Double)])] = {
    def jit(c: Int, e: Int, t: Int): Double =
      (((t * 53 + e * 17 + c * 29) % 41) - 20) / 1024.0
    cities.zipWithIndex.flatMap { case ((_, cx, cy), c) =>
      val pTop = (cx, cy + 1.0)
      val pBot = (cx, cy - 1.0)
      // chord interior, ascending y (t = 1..7), shared verbatim by both halves
      val chordUp = (1 to 7).map(t => (cx + jit(c, 6, t), cy - 1.0 + t / 4.0))
      val topW = (1 to 7).map(t => (cx - t / 4.0, cy + 1.0 + jit(c, 0, t)))
      val westE = (1 to 3).map(t => (cx - 2.0 + jit(c, 1, t), cy + 1.0 - t / 2.0))
      val botW = (1 to 7).map(t => (cx - 2.0 + t / 4.0, cy - 1.0 + jit(c, 2, t)))
      val botE = (1 to 7).map(t => (cx + t / 4.0, cy - 1.0 + jit(c, 3, t)))
      val eastE = (1 to 3).map(t => (cx + 2.0 + jit(c, 4, t), cy - 1.0 + t / 2.0))
      val topE = (1 to 7).map(t => (cx + 2.0 - t / 4.0, cy + 1.0 + jit(c, 5, t)))
      val west = (IndexedSeq(pTop) ++ topW ++ IndexedSeq((cx - 2.0, cy + 1.0)) ++ westE ++
        IndexedSeq((cx - 2.0, cy - 1.0)) ++ botW ++ IndexedSeq(pBot) ++ chordUp) :+ pTop
      val east = (IndexedSeq(pTop) ++ chordUp.reverse ++ IndexedSeq(pBot) ++ botE ++
        IndexedSeq((cx + 2.0, cy - 1.0)) ++ eastE ++ IndexedSeq((cx + 2.0, cy + 1.0)) ++ topE) :+ pTop
      Seq((700L + 2 * c, west), (701L + 2 * c, east))
    }
  }

  /** Deterministic osmChange replication fixture (q_osc_* queries): two
    * sequences over the [[osm]] entity set exercising every action on
    * every kind, cross-sequence overwrite (node 910001 created in seq 1,
    * modified in seq 2), SAME-sequence create-then-delete (910003 inside
    * seq 2 — the apply winner must come from the document-position `ord`
    * tie-break, not just the sequence number), cross-sequence
    * create-then-delete (910002), a delete of an existing node, tag keys
    * where one prefixes another ("name"/"name:nl" — a sort-order trap),
    * and XML/SQL-escape hazards (apostrophe + angle bracket).
    */
  lazy val oscChanges: Seq[(Long, Seq[OscDiff.Change])] = {
    val ns = osm._1.sortBy(_.id)
    val mod1 = ns.take(5).map(n => (n.id, n.lat + 0.25, n.lon - 0.125))
    Seq(
      1L -> Seq(
        OscDiff.Change(OscDiff.Modify, nodes = mod1,
          ways = Seq((10010L, Seq(1L, 2L, 3L)))),
        OscDiff.Change(OscDiff.Delete, nodes = Seq((100999L, 0.0, 0.0))),
        OscDiff.Change(OscDiff.Create,
          nodes = Seq((910001L, 10.125, 20.25), (910002L, -5.5, 30.75)),
          relations = Seq((990L,
            Map("name" -> "l'étang <est>", "name:nl" -> "de vijver",
              "boundary" -> "administrative"),
            Seq((910001L, 0, "admin_centre"), (10010L, 1, "outer")))))),
      2L -> Seq(
        OscDiff.Change(OscDiff.Modify, nodes = Seq((910001L, 11.125, 21.25))),
        OscDiff.Change(OscDiff.Delete, nodes = Seq((910002L, 0.0, 0.0)),
          relations = Seq((990L, Map.empty[String, String], Nil))),
        OscDiff.Change(OscDiff.Create, nodes = Seq((910003L, 7.25, -3.5))),
        OscDiff.Change(OscDiff.Delete, nodes = Seq((910003L, 0.0, 0.0)))))
  }

  /** dpRects as a topology-ready feature table (objId, wkb, bbox). */
  def dpRectsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    dpRects.map { case (id, ring) =>
      val xs = ring.map(_._1); val ys = ring.map(_._2)
      (id, graft.geom.Jts.toWkb(graft.geom.Jts.polygon(ring)),
        xs.min, ys.min, xs.max, ys.max)
    }.toDF("objId", "wkb", "minx", "miny", "maxx", "maxy")
      .withColumn("bbox", struct(col("minx"), col("miny"), col("maxx"), col("maxy")))
      .select("objId", "wkb", "bbox")
  }

  /** splitOctagons as a topology-ready feature table (objId, wkb, bbox). */
  def splitOctagonsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    splitOctagons.map { case (id, ring) =>
      val xs = ring.map(_._1); val ys = ring.map(_._2)
      (id, graft.geom.Jts.toWkb(graft.geom.Jts.polygon(ring)),
        xs.min, ys.min, xs.max, ys.max)
    }.toDF("objId", "wkb", "minx", "miny", "maxx", "maxy")
      .withColumn("bbox", struct(col("minx"), col("miny"), col("maxx"), col("maxy")))
      .select("objId", "wkb", "bbox")
  }

  /** Rectilinear clip fixture (q_topo_clip_rect): axis-aligned feature
    * rectangles × full-width axis-aligned water strips on an integer
    * grid. On these inputs JTS `difference` produces exactly the
    * closed-form horizontal-band decomposition with clean 5-point
    * rectangle rings (no retained noding vertices — verified
    * empirically, including the touching-strip and sequential-cut
    * cases), so the overlay-clip stage — the one topology stage no
    * second engine can replay on curved input — becomes fully
    * DuckDB-replayable as 1-D interval subtraction (reference clip
    * semantics: /root/reference/osmtopo/geometries.go:207-267).
    *
    * Cases: A(1)|B(2) share the edge x=10 under one GLOBAL strip, so
    * the clipped rings exercise junction-cut + shared-arc dedup on
    * overlay OUTPUT; C(3) has touching strips plus a strip crossing its
    * top edge; D(4) is untouched by any strip; E(5) is fully erased
    * (empty-geometry guard); F(6) alternates five interior strips.
    *
    * Invariant the oracle relies on: every strip overlapping a
    * feature's bbox spans that feature's FULL x-range (so each clip is
    * a pure y-interval subtraction), and strips never overlap each
    * other (touching is fine — the subtraction is order-independent).
    */
  lazy val clipRectFeatures: Seq[(Long, Double, Double, Double, Double)] = Seq(
    (1L, 0, 0, 10, 10),
    (2L, 10, 0, 20, 10),
    (3L, 100, 0, 110, 20),
    (4L, 200, 0, 210, 10),
    (5L, 300, 0, 310, 10),
    (6L, 400, 0, 410, 30))

  /** (wid, x0, y0, x1, y1) water strips for [[clipRectFeatures]]. */
  lazy val clipRectWater: Seq[(Long, Double, Double, Double, Double)] = Seq(
    (1L, -1, 4, 21, 6), // global across A+B
    (2L, 99, 3, 111, 5), // C
    (3L, 99, 5, 111, 8), // C, touches wid 2 at y=5
    (4L, 99, 18, 111, 25), // C, crosses the top edge
    (5L, 299, -1, 311, 11), // E, full cover -> empty feature
    (6L, 399, 2, 411, 4), // F
    (7L, 399, 8, 411, 10),
    (8L, 399, 14, 411, 16),
    (9L, 399, 20, 411, 22),
    (10L, 399, 26, 411, 28),
    // touch-only strips (zero-area overlap): bbox-overlap + prepared
    // intersects are TRUE (touching counts), the difference is a no-op,
    // and JTS returns the clean unchanged ring (probed) — the oracle
    // drops them at the hi > lo clamp. Pins the boundary-inclusive
    // prefilter semantics the curved pipeline relies on.
    (11L, 199, 10, 211, 12), // touches D's top edge
    (12L, 399, -2, 411, 0)) // touches F's bottom edge

  /** clipRectFeatures as a clip-ready feature table (objId, wkb, bbox). */
  def clipRectFeaturesDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    clipRectFeatures.map { case (id, x0, y0, x1, y1) =>
      val ring = IndexedSeq((x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0))
      (id, graft.geom.Jts.toWkb(graft.geom.Jts.polygon(ring)), x0, y0, x1, y1)
    }.toDF("objId", "wkb", "minx", "miny", "maxx", "maxy")
      .withColumn("bbox", struct(col("minx"), col("miny"), col("maxx"), col("maxy")))
      .select("objId", "wkb", "bbox")
  }

  /** clipRectWater as a water table (id, wkb) for TopoPipeline.clipWater. */
  def clipRectWaterDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    clipRectWater.map { case (id, x0, y0, x1, y1) =>
      val ring = IndexedSeq((x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0))
      (id, graft.geom.Jts.toWkb(graft.geom.Jts.polygon(ring)))
    }.toDF("id", "wkb")
  }

  def waterDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    osm._4.map(w => (w.id, w.rings.map(_.map(p => (p._1, p._2)))))
      .toDF("id", "rings")
      .withColumn("rings", expr("transform(rings, r -> transform(r, p -> struct(p._1 AS x, p._2 AS y)))"))
  }

  // ---------------------------------------------------------------------
  // Curved-clip membership probes (q_topo_clip_member / q_topo_arcs).
  // Everything below is pure fixture arithmetic — no engine code, no JTS —
  // so the probe set and the expected memberships are derivable by a
  // second engine from the same constants.
  // ---------------------------------------------------------------------

  /** Ground-truth clip water for the membership oracles: the two rings of
    * [[osm]]'s shapefile water that survive classification — ocean outer
    * + island hole (the speck is sub-threshold, the 2-point part
    * degenerate; q_water pins that classification independently).
    * Closed rings; orientation irrelevant under even-odd parity.
    */
  lazy val memberWaterRings: Seq[IndexedSeq[(Double, Double)]] =
    Seq(octagon(-1.0, 50.85, 2.5), octagon(-1.0, 50.85, 0.4)).map(r => r :+ r.head)

  /** countries-layer INPUT rings per export object (outer first, then
    * holes), closed — the ground-truth side of the membership oracles.
    */
  lazy val memberFeatureRings: Seq[(Long, Seq[IndexedSeq[(Double, Double)]])] =
    oracleDims.collect { case ("countries", id, _, _, outer, holes) =>
      (id, (outer +: holes.toIndexedSeq).map(r => r :+ r.head))
    }

  private def segDist(px: Double, py: Double,
                      x1: Double, y1: Double, x2: Double, y2: Double): Double = {
    val dx = x2 - x1; val dy = y2 - y1
    val len2 = dx * dx + dy * dy
    val t = if (len2 == 0) 0.0 else math.max(0.0, math.min(1.0, ((px - x1) * dx + (py - y1) * dy) / len2))
    val cx = x1 + t * dx; val cy = y1 + t * dy
    math.hypot(px - cx, py - cy)
  }

  /** Proper-or-touching intersection of segments a-b and c-d (closed
    * form); None when parallel or disjoint. Used only to SEED probe
    * locations — membership near these points is what convicts a wrong
    * overlay — so 1-ulp placement wiggle is irrelevant (the probes are
    * embedded verbatim in both engines' inputs).
    */
  private def segIntersect(ax: Double, ay: Double, bx: Double, by: Double,
                           cx: Double, cy: Double, dx: Double, dy: Double): Option[(Double, Double)] = {
    val d = (bx - ax) * (dy - cy) - (by - ay) * (dx - cx)
    if (d == 0) return None
    val t = ((cx - ax) * (dy - cy) - (cy - ay) * (dx - cx)) / d
    val u = ((cx - ax) * (by - ay) - (cy - ay) * (bx - ax)) / d
    if (t < 0 || t > 1 || u < 0 || u > 1) None
    else Some((ax + t * (bx - ax), ay + t * (by - ay)))
  }

  private def ringSegs(r: IndexedSeq[(Double, Double)]): Seq[(Double, Double, Double, Double)] =
    r.sliding(2).map(s => (s(0)._1, s(0)._2, s(1)._1, s(1)._2)).toSeq

  /** Deterministic membership probes for the curved overlay-clip oracles:
    * per export object a fractional-offset grid over the feature bbox,
    * diagonal offsets around every input vertex (feature rings + water
    * rings near the feature) and around every feature-edge × water-edge
    * intersection — the places a wrong clip moves a boundary — then every
    * probe within `eps` of ANY input edge (this feature's rings + water
    * rings) is dropped, so membership is invariant to boundary wiggle
    * below `eps` (JTS noding error ~1e-9 for the raw clip; 2× the DP
    * tolerance bounds the simplified layer). Returns
    * (objId, probeId, x, y); the SAME literal probes feed the Spark query
    * and the DuckDB oracle, so no cross-engine arithmetic parity is
    * needed for probe GENERATION — only the ray-cast convention, which
    * both sides state explicitly.
    */
  def memberProbes(eps: Double, nGrid: Int): Seq[(Long, Long, Double, Double)] = {
    val waterSegs = memberWaterRings.flatMap(ringSegs)
    memberFeatureRings.flatMap { case (objId, rings) =>
      val featSegs = rings.flatMap(ringSegs)
      val allSegs = featSegs ++ waterSegs
      val outer = rings.head
      val xs = outer.map(_._1); val ys = outer.map(_._2)
      val (bx0, by0, bx1, by1) = (xs.min, ys.min, xs.max, ys.max)
      val stepX = (bx1 - bx0) / nGrid; val stepY = (by1 - by0) / nGrid
      val grid = for (i <- 0 until nGrid; j <- 0 until nGrid) yield
        (bx0 + (i + 0.318309) * stepX, by0 + (j + 0.367879) * stepY)
      val d = 3 * eps
      val nearBbox = (x: Double, y: Double) =>
        x >= bx0 - 0.01 && x <= bx1 + 0.01 && y >= by0 - 0.01 && y <= by1 + 0.01
      val verts = rings.flatMap(_.dropRight(1)) ++
        memberWaterRings.flatMap(_.dropRight(1)).filter(p => nearBbox(p._1, p._2))
      val crossings = for {
        (fx1, fy1, fx2, fy2) <- featSegs
        (wx1, wy1, wx2, wy2) <- waterSegs
        p <- segIntersect(fx1, fy1, fx2, fy2, wx1, wy1, wx2, wy2)
      } yield p
      val offsets = (verts ++ crossings).flatMap { case (vx, vy) =>
        Seq((vx + d, vy + d), (vx + d, vy - d), (vx - d, vy + d), (vx - d, vy - d))
      }
      (grid ++ offsets)
        .filter { case (px, py) =>
          allSegs.forall { case (x1, y1, x2, y2) => segDist(px, py, x1, y1, x2, y2) > eps }
        }
        .zipWithIndex
        .map { case ((px, py), k) => (objId, k.toLong, px, py) }
    }
  }
}
