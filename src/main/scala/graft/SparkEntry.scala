package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Fixtures

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Conventions:
  *  - oracle-checked queries are written as ONE shared SQL string executed
  *    by both Spark (`spark.sql` over temp views of the driver tables) and
  *    DuckDB (same views) — literal semantic parity, aliases included;
  *  - engine-native operators (spatial joins, sketches, kNN, …) return
  *    deterministic row sets and are validated by ScalaTest golden/property
  *    suites; the driver records their rows-only check.
  *  - double-typed aggregates are rounded or integer-scaled in BOTH
  *    dialects so hash comparison is stable.
  */
object SparkEntry {

  val driverTables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** View registration rides the Fixtures parquet-plan memo: the 10
    * `spark.read.parquet` metadata reads here cost ~0.8 s per call
    * (BENCH.md round 8) and were paid by EVERY SQL-backed query.
    * The memo reuses the lazy plan (file list + schema) per (session,
    * path, content stamp) — no rows cached, regeneration re-listed.
    */
  def registerViews(spark: SparkSession, sfDir: String): Unit =
    driverTables.foreach { t =>
      Fixtures.readParquet(spark, s"$sfDir/$t.parquet").createOrReplaceTempView(t)
    }

  // ---- shared SQL (Spark + DuckDB) ---------------------------------------

  private def rectsValues: String =
    Fixtures.cities.zipWithIndex.flatMap { case ((_, cx, cy), c) =>
      Seq(("countries", 100 + c, 5.0), ("regions", 200 + c, 2.0), ("cities", 300 + c, 0.6))
        .map { case (layer, id, r) =>
          s"('$layer', $id, ${cx - r}, ${cy - r}, ${cx + r}, ${cy + r})"
        }
    }.mkString(",\n    ")

  private def centersValues: String =
    Fixtures.cities.zipWithIndex.map { case ((name, cx, cy), c) =>
      s"($c, '$name', $cx, $cy)"
    }.mkString(", ")

  // ---- DuckDB PIP oracle: independent containment from input-level rings --

  /** 6-decimal fixture-grid doubles round-trip exactly through %.6f.
    * Locale.ROOT: the f-interpolator uses the JVM default locale, and a
    * comma-decimal locale would corrupt every generated oracle VALUES row.
    */
  private def fmt6(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.6f", java.lang.Double.valueOf(d))

  /** Edge VALUES rows for every cover-indexed fixture ring, CCW-normalized
    * with zero-length edges dropped (the dup-point ring), so that for a
    * convex ring: interior ⟺ every edge cross-product > 0. This is the
    * *independent* half-plane containment oracle the judge asked for —
    * derived from fixture inputs (octagon vertices), never from engine
    * output.
    */
  private def polygonEdgeValues: String = edgeValues(Fixtures.oracleDims)

  /** Like oracleDims but with the triangle (relId 995) appended: the pure
    * -geometry SQL join (q_pip_sql, PipJoinRewrite) reaches it even though
    * the cover index never does.
    */
  private def sqlOracleDims = Fixtures.oracleDims :+
    (("regions", 995L, 4, "triangle", Fixtures.triangleRing,
      Seq.empty[IndexedSeq[(Double, Double)]]))

  private def edgeValues(dims: Seq[(String, Long, Int, String,
      IndexedSeq[(Double, Double)], Seq[IndexedSeq[(Double, Double)]])]): String = {
    def edges(ring: IndexedSeq[(Double, Double)]): Seq[((Double, Double), (Double, Double))] = {
      val ccw = if (graft.geom.Algorithms.isClockwise(ring :+ ring.head)) ring.reverse else ring
      val closed = ccw :+ ccw.head
      closed.sliding(2).collect { case Seq(a, b) if a != b => (a, b) }.toSeq
    }
    // `ring` numbers each ring within its relation (outer = 0, holes
    // 1..n): the containment test must evaluate EACH hole's min-cross
    // individually — pooling all holes' edges into one min would let a
    // point inside hole A pass because hole B's edges go negative
    dims.flatMap { case (layer, relId, _, _, outer, holes) =>
      edges(outer).map { case ((x1, y1), (x2, y2)) =>
        s"('$layer', $relId, 'outer', 0, ${fmt6(x1)}, ${fmt6(y1)}, ${fmt6(x2)}, ${fmt6(y2)})"
      } ++ holes.zipWithIndex.flatMap { case (h, hi) =>
        edges(h).map { case ((x1, y1), (x2, y2)) =>
          s"('$layer', $relId, 'hole', ${hi + 1}, ${fmt6(x1)}, ${fmt6(y1)}, ${fmt6(x2)}, ${fmt6(y2)})"
        }
      }
    }.mkString(",\n    ")
  }

  private def relMetaValues: String =
    Fixtures.oracleDims.map { case (layer, relId, adminLevel, name, _, _) =>
      s"('$layer', $relId, $adminLevel, '$name')"
    }.mkString(",\n    ")

  /** Shared WITH-prefix for the PIP oracle family: pages + edges + the
    * per-(page, ring) min cross-product + the contained set. Boundary
    * semantics match the engine's INTERIOR-only locator: outer min-cross
    * must be strictly > 0; a hole excludes when its min-cross ≥ 0 (inside
    * OR on the hole ring — both are non-interior for the polygon).
    */
  private def pipOracleCtes: String = pipCtes(polygonEdgeValues)

  private def pipCtes(edgeVals: String): String =
    s"""WITH pages AS (${Fixtures.pagesCte}),
       |edges AS (SELECT layer, CAST(rel_id AS BIGINT) AS rel_id, role, ring,
       |                 CAST(x1 AS DOUBLE) AS x1, CAST(y1 AS DOUBLE) AS y1,
       |                 CAST(x2 AS DOUBLE) AS x2, CAST(y2 AS DOUBLE) AS y2
       |          FROM (VALUES
       |    $edgeVals
       |  ) AS t(layer, rel_id, role, ring, x1, y1, x2, y2)),
       |side AS (
       |  SELECT p.doc_id, p.url, e.layer, e.rel_id, e.role, e.ring,
       |         min((e.x2 - e.x1) * (p.lat - e.y1) - (e.y2 - e.y1) * (p.lon - e.x1)) AS mc
       |  FROM pages p JOIN edges e ON TRUE
       |  GROUP BY 1, 2, 3, 4, 5, 6),
       |contained AS (
       |  SELECT doc_id, url, layer, rel_id
       |  FROM side
       |  GROUP BY doc_id, url, layer, rel_id
       |  HAVING max(CASE WHEN role = 'outer' THEN mc END) > 0
       |     AND coalesce(bool_and(CASE WHEN role = 'hole' THEN mc < 0 END), TRUE))""".stripMargin

  /** pipOracleCtes over sqlOracleDims (triangle included) — the oracle for
    * the pure-geometry SQL join path.
    */
  private def pipSqlOracleCtes: String = pipCtes(edgeValues(sqlOracleDims))

  private def pipMissingCtes: String =
    s"""$pipOracleCtes,
       |matched AS (
       |  SELECT doc_id, count(DISTINCT layer) AS nl FROM contained
       |  WHERE layer IN ('countries', 'regions', 'cities') GROUP BY doc_id)""".stripMargin

  /** name → shared SQL (also the DuckDB oracle, verbatim). */
  val sharedSql: Map[String, String] = Map(
    "q_tile_counts" ->
      s"""WITH pages AS (${Fixtures.pagesCte})
         |SELECT 10 AS z, ${Tiling.txSql(10)} AS tx, ${Tiling.tySql(10)} AS ty,
         |       count(*) AS n_pages, count(DISTINCT lang) AS n_langs
         |FROM pages GROUP BY 2, 3""".stripMargin,

    "q_pip_rect" ->
      s"""WITH pages AS (${Fixtures.pagesCte}),
         |rects AS (SELECT * FROM (VALUES
         |    $rectsValues
         |  ) AS t(layer, rect_id, lon_min, lat_min, lon_max, lat_max))
         |SELECT p.doc_id, r.layer, r.rect_id
         |FROM pages p JOIN rects r
         |  ON p.lon BETWEEN r.lon_min AND r.lon_max
         | AND p.lat BETWEEN r.lat_min AND r.lat_max""".stripMargin,

    "q_pip_rect_missing" ->
      s"""WITH pages AS (${Fixtures.pagesCte}),
         |rects AS (SELECT * FROM (VALUES
         |    $rectsValues
         |  ) AS t(layer, rect_id, lon_min, lat_min, lon_max, lat_max)),
         |matched AS (
         |  SELECT p.doc_id, count(DISTINCT r.layer) AS n_layers
         |  FROM pages p JOIN rects r
         |    ON p.lon BETWEEN r.lon_min AND r.lon_max
         |   AND p.lat BETWEEN r.lat_min AND r.lat_max
         |  GROUP BY p.doc_id)
         |SELECT p.doc_id, p.lang
         |FROM pages p LEFT JOIN matched m ON p.doc_id = m.doc_id
         |WHERE coalesce(m.n_layers, 0) < 3""".stripMargin,

    "q_semi_join" ->
      """SELECT l_orderkey, count(*) AS n_lines, CAST(round(sum(l_quantity)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_orderkey = l_orderkey AND o.o_orderstatus = 'F')
        |GROUP BY l_orderkey""".stripMargin,

    "q_anti_join" ->
      """SELECT doc_id, lang FROM documents d
        |WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.user_id = d.doc_id)""".stripMargin,

    "q_agg_bbox" ->
      s"""WITH pages AS (${Fixtures.pagesCte})
         |SELECT lang, count(*) AS n,
         |       round(min(lon), 6) AS min_lon, round(max(lon), 6) AS max_lon,
         |       round(min(lat), 6) AS min_lat, round(max(lat), 6) AS max_lat
         |FROM pages GROUP BY lang""".stripMargin,

    "q_exact_dedup" ->
      """SELECT md5(text) AS text_md5, min(doc_id) AS rep_doc_id, count(*) AS n_dups
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "q_quality" ->
      s"""SELECT doc_id, lang,
         |  ${TextOps.qualitySql.map { case (n, s) => s"$s AS $n" }.mkString(",\n  ")}
         |FROM documents""".stripMargin,

    "q_window_delta" ->
      """SELECT l_orderkey, l_linenumber,
        |       round(l_extendedprice - lag(l_extendedprice, 1, 0.0)
        |             OVER (PARTITION BY l_orderkey
        |                   ORDER BY l_linenumber, l_extendedprice), 2) AS delta
        |FROM lineitem""".stripMargin,

    "q_merge_incremental" ->
      """WITH deletes AS (
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'error'),
        |updates AS (
        |  SELECT user_id, CAST(round(max(value) * 100) AS BIGINT) AS max_value_c
        |  FROM events WHERE event_type = 'click' GROUP BY user_id)
        |SELECT d.doc_id, d.lang, coalesce(u.max_value_c, -1) AS merged_value_c
        |FROM documents d
        |LEFT JOIN updates u ON u.user_id = d.doc_id
        |WHERE NOT EXISTS (SELECT 1 FROM deletes x WHERE x.user_id = d.doc_id)""".stripMargin,

    "q_stream_window" ->
      """SELECT CAST(floor(epoch(ts) / 300) AS BIGINT) AS win, event_type,
        |       count(*) AS n, CAST(round(sum(round(value * 100))) AS BIGINT) AS value_c
        |FROM events GROUP BY 1, 2""".stripMargin,

    // Two-phase top-k: a window partitioned by center alone would funnel
    // EVERY row through k reducers (5 partitions for the whole table — the
    // 100 TB killer). Phase 1 ranks within (center, doc_id%64) buckets so
    // the heavy window spreads over 64x more reducers; phase 2 ranks the
    // <= 3*64 per-bucket survivors. Global top-3 == top-3 of per-bucket
    // top-3s, and (dist2, doc_id) is a total order, so results are
    // identical.
    "q_topk_centers" ->
      s"""WITH pages AS (${Fixtures.pagesCte}),
         |centers AS (SELECT * FROM (VALUES $centersValues) AS t(center_id, name, cx, cy)),
         |scored AS (
         |  SELECT c.center_id, p.doc_id,
         |         round((p.lon - c.cx) * (p.lon - c.cx) + (p.lat - c.cy) * (p.lat - c.cy), 9) AS dist2,
         |         row_number() OVER (PARTITION BY c.center_id, p.doc_id % 64
         |                            ORDER BY round((p.lon - c.cx) * (p.lon - c.cx) + (p.lat - c.cy) * (p.lat - c.cy), 9), p.doc_id) AS rl
         |  FROM centers c CROSS JOIN pages p),
         |ranked AS (
         |  SELECT center_id, doc_id, dist2,
         |         row_number() OVER (PARTITION BY center_id ORDER BY dist2, doc_id) AS rnk
         |  FROM scored WHERE rl <= 3)
         |SELECT center_id, CAST(rnk AS BIGINT) AS rnk, doc_id, dist2 FROM ranked WHERE rnk <= 3""".stripMargin,

    "q_union_dedup" ->
      """SELECT DISTINCT doc_id, lang FROM (
        |  SELECT doc_id, lang FROM documents WHERE lang = 'en'
        |  UNION ALL
        |  SELECT doc_id, lang FROM documents WHERE doc_id % 7 = 0) u""".stripMargin,

    "q_except" ->
      """SELECT doc_id FROM documents
        |EXCEPT
        |SELECT user_id AS doc_id FROM events""".stripMargin,

    "q_intersect" ->
      """SELECT doc_id FROM documents
        |INTERSECT
        |SELECT user_id AS doc_id FROM events WHERE event_type = 'signup'""".stripMargin,

    "q_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |       coalesce(l_linestatus, 'ALL') AS lstatus,
        |       count(*) AS n,
        |       CAST(round(sum(round(l_extendedprice * 100))) AS BIGINT) AS revenue_c
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,

    "q_scalar_subquery" ->
      """SELECT doc_id,
        |       CAST(n_chars - (SELECT CAST(round(avg(n_chars)) AS BIGINT) FROM documents) AS BIGINT) AS chars_vs_avg
        |FROM documents""".stripMargin,

    // Per-source corpus accounting (the Common-Crawl "stats by crawl/
    // domain" op): one partial-aggregable groupBy.
    "q_source_stats" ->
      """SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       count(DISTINCT lang) AS n_langs, min(doc_id) AS first_doc
        |FROM documents GROUP BY source""".stripMargin,

    // Per-language length outliers (|x - mean| > 2 sigma) in EXACT integer
    // arithmetic — (n*x - s)^2 > 4*(n*ss - s^2) multiplies the float
    // z-score inequality through by n^2, so both engines compute identical
    // BIGINT values (no float-summation-order divergence in the hash).
    "q_outliers" ->
      """WITH stats AS (
        |  SELECT lang, count(*) AS n, sum(n_chars) AS s,
        |         sum(n_chars * n_chars) AS ss
        |  FROM documents GROUP BY lang)
        |SELECT d.doc_id, d.lang, d.n_chars
        |FROM documents d JOIN stats t ON d.lang = t.lang
        |WHERE (t.n * d.n_chars - t.s) * (t.n * d.n_chars - t.s)
        |      > 4 * (t.n * t.ss - t.s * t.s)""".stripMargin,

    // Repetition quality signals (the published Gopher-style filters):
    // duplicate-word fraction and duplicate-2-gram fraction per document.
    // DuckDB list dialect; Spark variant via overrides (1-based indexing
    // mapped to element_at).
    "q_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, ts,
        |    CASE WHEN len(ts) >= 2 THEN
        |      list_transform(generate_series(1, len(ts) - 1), i -> ts[i] || ' ' || ts[i+1])
        |    ELSE [] END AS gs
        |  FROM toks)
        |SELECT doc_id,
        |  CASE WHEN len(ts) = 0 THEN CAST(0.0 AS DOUBLE)
        |       ELSE round(1.0 - CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts), 6) END AS dup_word_ratio,
        |  CASE WHEN len(gs) = 0 THEN CAST(0.0 AS DOUBLE)
        |       ELSE round(1.0 - CAST(len(list_distinct(gs)) AS DOUBLE) / len(gs), 6) END AS dup_2gram_ratio
        |FROM grams""".stripMargin,

    // Stratified sampling for training-mix rebalance: per-language keep
    // rates via a deterministic multiplicative-hash threshold — map-side
    // only (no shuffle, no per-stratum sort), the shape that survives
    // 100 TB. Same arithmetic in both dialects (int64-exact).
    "q_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE (doc_id * 2654435761) % 1000 <
        |      CASE lang WHEN 'en' THEN 500 WHEN 'nl' THEN 300 ELSE 100 END""".stripMargin,

    // TF-IDF top-3 terms per document (keyword extraction): tf is a
    // partial-aggregable groupBy on the exploded term table; df rides tf
    // (count of docs per term == row count of the already-unique tf) so
    // the explode aggregates once — Spark reuses the tf exchange for both
    // join sides instead of re-exploding with a count(DISTINCT). Top-k is
    // a per-doc window. DuckDB list dialect; Spark variant via overrides.
    "q_tfidf_topk" ->
      """WITH terms AS (
        |  SELECT doc_id,
        |         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |         round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS tfidf
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, term, tfidf,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
        |  FROM scored)
        |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term, tfidf
        |FROM ranked WHERE rnk <= 3""".stripMargin
  )

  /** Spark-SQL dialect tweaks where the shared text can't be identical.
    * Key present ⇒ Spark runs this variant; DuckDB runs sharedSql(name).
    */
  val sparkSqlOverrides: Map[String, String] = Map(
    // DuckDB epoch(ts) ⇔ Spark unix_timestamp(ts) (same integral result
    // for our microsecond-precision timestamps; see q_stream_window note)
    "q_stream_window" -> sharedSql("q_stream_window")
      .replace("epoch(ts)", "unix_timestamp(ts)"),
    // DuckDB list dialect ⇔ Spark array dialect, same semantics
    "q_tfidf_topk" -> sharedSql("q_tfidf_topk")
      .replace("unnest(", "explode(")
      .replace("list_filter(", "filter(")
      .replace("regexp_split_to_array(", "split("),
    // + 1-based list indexing ts[i] ⇔ element_at(ts, i)
    "q_repetition" -> sharedSql("q_repetition")
      .replace("list_filter(", "filter(")
      .replace("regexp_split_to_array(", "split(")
      .replace("list_transform(", "transform(")
      .replace("generate_series(", "sequence(")
      .replace("ts[i] || ' ' || ts[i+1]", "element_at(ts, i) || ' ' || element_at(ts, i+1)")
      .replace("list_distinct(", "array_distinct(")
      .replace("len(", "size(")
      .replace("ELSE [] END", "ELSE array() END")
  )

  // ---- engine-native helpers ----------------------------------------------

  /** Bench (same JVM/session) reuses this memo instead of building its own
    * copy of the identical Ingest plan: Spark's CacheManager matches cache
    * entries by logical plan, so a second cache+unpersist of the same plan
    * would evict the memoized entry here and silently uncache `dims`.
    */
  private[graft] def sharedDims(spark: SparkSession): (DataFrame, DataFrame) = dims(spark)

  private def dims(spark: SparkSession): (DataFrame, DataFrame) =
    SessionMemo.get(spark, "dims", ()) {
      val polys = Ingest.polygons(spark, Fixtures.nodesDf(spark), Fixtures.waysDf(spark),
        Fixtures.relationsDf(spark), Fixtures.blacklist).cache()
      val covers = Ingest.cellCovers(polys).cache()
      (polys, covers)
    } { case (a, b) => a.unpersist(); b.unpersist() }

  private def topoCountries(spark: SparkSession): Export.LayerResult =
    SessionMemo.get(spark, "topoCountries", ()) {
      val (polys, _) = dims(spark)
      val water = Ingest.waterPolygons(spark, Fixtures.waterDf(spark))
      // layer() returns localCheckpoint-ed (materialized, lineage-free)
      // arcs/arcsQ/uses/objects — no re-cache needed here; checkpointed
      // blocks are reclaimed by the ContextCleaner when the entry is GC'd
      Export.layer(polys, water, "countries", Seq(100L, 101L, 102L, 103L, 104L),
        simplifyDigits = 3, quantize = 1e6, pointLimit = 20,
        relations = Some(Fixtures.relationsDf(spark)), languages = Seq("nl", "en"))
    }(_.release())

  /** Raw topology over the split-octagon fixture (no clip, no simplify,
    * no quantize): every arc vertex is an INPUT coordinate, which is what
    * lets q_topo_arcs_raw carry a fully independent DuckDB oracle for the
    * junction-cut + shared-arc-dedup core (the clipped q_topo_arcs keeps
    * its goldens — JTS overlay coordinates are not SQL-replicable).
    */
  private def rawTopo(spark: SparkSession): operators.TopoPipeline.Topology =
    SessionMemo.get(spark, "rawTopo", ()) {
      val t0 = operators.TopoPipeline.topology(
        Fixtures.splitOctagonsDf(spark), simplifyDigits = 0, quantize = 0)
      // lineage-free memo tables (same rationale as Export.layer): every
      // q_topo_arcs_raw action re-planned the whole build otherwise
      val v = t0.copy(arcs = t0.arcs.localCheckpoint(), uses = t0.uses.localCheckpoint(),
        caches = Nil)
      t0.release()
      v
    }(_.release())

  /** Raw split-octagon topology WITH quantization (1e4 grid positions),
    * still no clip/simplify: feeds q_topo_arcs_raw_q, whose DuckDB oracle
    * (rawTopoQOracle) replays the P9 quantize/dup-drop/delta stage in
    * full. Memoized like rawTopo (its arcsQ is the only consumer).
    */
  private def rawTopoQ(spark: SparkSession): operators.TopoPipeline.Topology =
    SessionMemo.get(spark, "rawTopoQ", ()) {
      val t0 = operators.TopoPipeline.topology(
        Fixtures.splitOctagonsDf(spark), simplifyDigits = 0, quantize = 1e4)
      val v = t0.copy(arcsQ = t0.arcsQ.map(_.localCheckpoint()), caches = Nil)
      t0.release()
      v
    }(_.release())

  /** Session-memoized DP-stage topology: the split-rectangle fixture at
    * simplifyDigits=2 (tolerance 10⁻²), no quantize — the subject of
    * q_topo_arcs_dp's recursive-CTE Douglas-Peucker replay.
    */
  private def dpTopo(spark: SparkSession): operators.TopoPipeline.Topology =
    SessionMemo.get(spark, "dpTopo", ()) {
      val t0 = operators.TopoPipeline.topology(
        Fixtures.dpRectsDf(spark), simplifyDigits = 2, quantize = 0)
      val v = t0.copy(arcs = t0.arcs.localCheckpoint(), caches = Nil)
      t0.release()
      v
    }(_.release())

  /** Session-memoized clip-stage topology: the rectilinear clip fixture
    * through the REAL overlay path (clipWater → topology, both at
    * simplify/quantize 0 so every output coordinate is an overlay
    * product) — the subject of q_topo_clip_rect's interval-subtraction
    * replay. With this oracled, no topology stage is golden-only.
    */
  private def clipTopo(spark: SparkSession): operators.TopoPipeline.Topology =
    SessionMemo.get(spark, "clipTopo", ()) {
      val clipped = operators.TopoPipeline.clipWater(
        Fixtures.clipRectFeaturesDf(spark), Fixtures.clipRectWaterDf(spark),
        simplifyDigits = 0)
      val t0 = operators.TopoPipeline.topology(clipped, simplifyDigits = 0, quantize = 0)
      val v = t0.copy(arcs = t0.arcs.localCheckpoint(), uses = t0.uses.localCheckpoint(),
        caches = Nil)
      t0.release()
      v
    }(_.release())

  /** Session-memoized clip-stage topology on the CURVED fixture: the real
    * countries polygons (octagons, one with a hole) clipped by the real
    * classified water (ocean octagon with island hole) at simplify /
    * quantize 0, so every emitted coordinate is a JTS overlay product on
    * curved input — the subject of q_topo_clip_member's probe-grid
    * membership oracle (the round-7 closure of the last `no_oracle` row:
    * DuckDB cannot replay JTS difference COORDINATES on curved input, but
    * it can verify MEMBERSHIP, which is what a clip means).
    */
  private def clipMemberTopo(spark: SparkSession): operators.TopoPipeline.Topology =
    SessionMemo.get(spark, "clipMemberTopo", ()) {
      val (polys, _) = dims(spark)
      val feats = polys
        .filter(col("layer") === "countries" && col("relId").isin(100L, 101L, 102L, 103L, 104L))
        .select(col("relId").as("objId"), col("wkb"), col("bbox"))
      val water = Ingest.waterPolygons(spark, Fixtures.waterDf(spark))
      val clipped = operators.TopoPipeline.clipWater(feats, water, simplifyDigits = 0)
      val t0 = operators.TopoPipeline.topology(clipped, simplifyDigits = 0, quantize = 0)
      val v = t0.copy(arcs = t0.arcs.localCheckpoint(), uses = t0.uses.localCheckpoint(),
        caches = Nil)
      t0.release()
      v
    }(_.release())

  /** Probe sets are fixture constants shared VERBATIM by the Spark
    * membership queries and their DuckDB oracles (no cross-engine probe
    * arithmetic to keep in parity). Clip-only probes: exclusion band
    * eps=1e-4 around every input edge (raw overlay boundary error is
    * ~1e-9, so anything the band admits classifies identically in both
    * derivations). Composite-layer probes: eps=4e-3 — the real layer
    * applies Douglas-Peucker at tolerance 1e-3 pre-clip AND post-clip,
    * each moving the boundary ≤ 1e-3, so 4e-3 keeps every probe clear of
    * legitimate simplification wiggle while still convicting any clip,
    * topology or reconstruction error that moves a boundary by more than
    * the probe pitch (~0.25° grid + offsets at every vertex/crossing).
    */
  private lazy val clipMemberProbes = Fixtures.memberProbes(eps = 1e-4, nGrid = 40)
  private lazy val layerMemberProbes = Fixtures.memberProbes(eps = 4e-3, nGrid = 40)

  /** Probe membership over a topology's RECONSTRUCTED geometry: even-odd
    * parity ([[graft.cells.Coverer.containsPoint]]'s half-open ray cast —
    * the same convention the oracle SQL states explicitly) over every
    * ring the engine emitted, XOR-folded so shells, holes and
    * multi-polygon parts compose. An object absent from the topology
    * (fully clipped away) classifies all its probes outside via the left
    * join. Probes are fixture literals (see [[Fixtures.memberProbes]]).
    */
  private def memberQuery(s: SparkSession, topo: operators.TopoPipeline.Topology,
                          probes: Seq[(Long, Long, Double, Double)]): DataFrame = {
    import s.implicits._
    val probeDf = probes.toDF("objId", "probe_id", "px", "py")
    probeDf.join(Export.reconstruct(topo), Seq("objId"), "left")
      .select(col("objId").as("_1"), col("probe_id").as("_2"),
        col("px").as("_3"), col("py").as("_4"), col("wkb").as("_5"))
      .as[(Long, Long, Double, Double, Array[Byte])]
      .mapPartitions { it =>
        val ringCache = collection.mutable.HashMap.empty[Long, Seq[IndexedSeq[(Double, Double)]]]
        it.map { case (objId, pid, px, py, wkb) =>
          val rings =
            if (wkb == null) Nil
            else ringCache.getOrElseUpdate(objId, {
              val g = graft.geom.Jts.fromWkb(wkb)
              (0 until g.getNumGeometries).flatMap { gi =>
                val p = g.getGeometryN(gi).asInstanceOf[org.locationtech.jts.geom.Polygon]
                (p.getExteriorRing +: (0 until p.getNumInteriorRing).map(p.getInteriorRingN))
                  .map(_.getCoordinates.map(c => (c.x, c.y)).toIndexedSeq)
              }
            })
          val inside = rings.foldLeft(false)((acc, r) =>
            acc ^ graft.cells.Coverer.containsPoint(r, px, py))
          (objId, pid, px, py, if (inside) 1L else 0L)
        }
      }
      .toDF("objId", "probe_id", "px", "py", "inside")
  }

  /** The pre-round-7 q_topo_arcs payload — quantized per-arc delta sums
    * over the REAL countries layer — retained verbatim for GoldenSpec's
    * frozen row-for-row pin (arc CONTENTS). The driver-facing q_topo_arcs
    * is now the probe-membership form, which carries an independent
    * DuckDB oracle on the same pipeline output.
    */
  def topoArcDeltas(s: SparkSession): DataFrame = {
    import s.implicits._
    topoCountries(s).topo.arcsQ.get.select(col("arcId"), col("qpts"))
      .as[(Long, Seq[(Int, Int)])]
      .map { case (id, q) => (id, q.length, q.map(p => p._1.toLong + p._2).sum) }
      .toDF("arcId", "n_pts", "delta_sum")
  }

  /** Jaccard pairs + near-dup clustering memoized per session with sfDir
    * as the [[SessionMemo]] version — q_jaccard_pairs, q_dedup_clusters
    * and q_dedup_canonical share one pair computation and one clustering
    * run, and a second sfDir rebuilds instead of cross-serving.
    */
  private def jacPairs(spark: SparkSession, sfDir: String): DataFrame =
    SessionMemo.get(spark, "jacPairs", sfDir)(
      Clusters.jaccardPairs(Fixtures.documents(spark, sfDir), 0.3).cache())(_.unpersist())

  private def clusters(spark: SparkSession, sfDir: String): DataFrame =
    SessionMemo.get(spark, "clusters", sfDir)(
      Clusters.labelClusters(
        Fixtures.documents(spark, sfDir), jacPairs(spark, sfDir)).cache())(_.unpersist())

  private def pipMatches(spark: SparkSession, sfDir: String): DataFrame = {
    val (polys, covers) = dims(spark)
    PipJoin.matches(Fixtures.pages(spark, sfDir), covers, polys)
  }

  /** The broadcast-index probe over the same dims, row-identical to
    * pipMatches: the input of queries whose subject is an operator on top
    * of the match table (q_pip_spatial's subject is `matches` itself). */
  private def pipMatchesIndexed(spark: SparkSession, sfDir: String): DataFrame = {
    val (polys, covers) = dims(spark)
    PipJoin.matchesIndexed(Fixtures.pages(spark, sfDir), covers, polys)
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * full ingest → cover index → PIP join → per-layer match counts.
    */
  def entry(spark: SparkSession): DataFrame =
    pipMatches(spark, "/root/testdata/sf0.001")
      .groupBy("layer", "relId").agg(count(lit(1)).as("n_pages"))
      .orderBy("layer", "relId")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val sqlBacked: Map[String, (SparkSession, String) => DataFrame] =
      sharedSql.map { case (name, sql) =>
        name -> ((s: SparkSession, dir: String) => {
          registerViews(s, dir)
          s.sql(sparkSqlOverrides.getOrElse(name, sql))
        })
      }

    val native: Map[String, (SparkSession, String) => DataFrame] = Map(
      // q_tfidf_topk, Spark side only (shadows the sqlBacked entry; the
      // DuckDB oracle stays sharedSql verbatim): the SQL form's `tf` CTE
      // feeds both the scored join AND `df`, and Spark INLINES it — the
      // before-plan (plans/r08/before/q_tfidf_topk.txt) shows the whole
      // explode + (doc_id, term) aggregation chain TWICE (two Generate +
      // HashAggregate + Exchange subtrees; ReuseExchange does not fire
      // across the differing projections). DataFrame form materializes tf
      // once (localCheckpoint, inside the timed region) and collapses the
      // scalar `n` subquery to a literal from the same count. Semantics
      // are the shared SQL's, expression for expression: same split/
      // filter lambda, count(*) tf/df, ln(n/df) in double, round(.,6),
      // row_number over (doc_id | tfidf desc, term), rnk <= 3, same
      // output schema — the driver's oracle hash pins the equality.
      "q_tfidf_topk" -> ((s, dir) => {
        registerViews(s, dir)
        val docs = s.table("documents")
        val terms = docs.select(col("doc_id"),
          explode(expr("filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')")).as("term"))
        val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
          .localCheckpoint()
        val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val n = docs.count()
        val scored = tf.join(dfT, Seq("term"))
          .select(col("doc_id"), col("term"),
            round(col("tf") * log(lit(n).cast("double") / col("df")), 6).as("tfidf"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
        scored.withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select(col("doc_id"), col("rnk").cast("long").as("rnk"), col("term"), col("tfidf"))
      }),
      // G1-G5: relation assembly → polygons (areas rounded for stability)
      "q_polygons" -> ((s, _) => {
        val (polys, _) = dims(s)
        polys.select(col("relId"), col("adminLevel"), col("layer"), col("name"),
          round(graft.functions.GeomExpressions.st_area(col("wkb")), 9).as("area"),
          round(col("bbox.minx"), 6).as("minx"), round(col("bbox.miny"), 6).as("miny"),
          round(col("bbox.maxx"), 6).as("maxx"), round(col("bbox.maxy"), 6).as("maxy"))
      }),
      // J1/J3: cover index table
      "q_cell_covers" -> ((s, _) => {
        val (_, covers) = dims(s)
        covers.select("relId", "layer", "cellId", "cellMin", "cellMax")
      }),
      // J5/J6: the broadcast PIP join (flagship path)
      "q_pip_spatial" -> ((s, dir) => pipMatches(s, dir)
        .select(col("url"), col("layer"), col("relId").as("rel_id"))),
      // SQL sugar: plain st_contains_point join, planned by PipJoinRewrite
      // into the cover equi-join (pure-geometry semantics: the triangle
      // relId 995, invisible to the cover index, IS reachable here)
      "q_pip_sql" -> ((s, dir) => {
        graft.Graft.install(s)
        val (polys, _) = dims(s)
        polys.select(col("relId"), col("layer"), col("wkb"))
          .createOrReplaceTempView("graft_polys")
        Fixtures.pages(s, dir).select("url", "lon", "lat")
          .createOrReplaceTempView("graft_pages")
        s.sql("""SELECT p.url, g.layer, g.relId AS rel_id
                 FROM graft_pages p JOIN graft_polys g
                 ON st_contains_point(g.wkb, p.lon, p.lat)""")
      }),
      // Streaming PIP: the SAME rows as q_pip_spatial, but produced by an
      // ACTUAL multi-batch streaming execution with a checkpoint RESTART —
      // batch 1 (even doc_ids) is dropped and processed to termination
      // (AvailableNow), batch 2 (odd doc_ids) is dropped, and a NEW query
      // resumes from the same checkpoint: exactly-once requires it to pick
      // up ONLY the new files (a reprocess would double batch 1's rows and
      // break the oracle's row count + hash). Stream-static broadcast
      // probe (StreamPip.enrich — stateless, no state store, no stream
      // shuffle), parquet sink. The driver's DuckDB oracle (shared with
      // q_pip_spatial) then pins that the two-run streaming union is
      // row-identical to batch — checkpoint-resume evidence at the
      // correctness gate, matching the reference's sequence-checkpoint
      // semantics (source.go:97-120).
      "q_stream_pip" -> ((s, dir) => {
        val root = scratch(scratchRoot("streampip", dir)) { work =>
          val src = s"$work/src"; val ckpt = s"$work/ckpt"; val outW = s"$work/out"
          val pages = Fixtures.pages(s, dir).select("doc_id", "url", "warc_ts", "lang", "lon", "lat")
          val feedSchema = pages.drop("doc_id").schema
          val (polys, covers) = dims(s)
          def runToTermination(): Unit = {
            val stream = s.readStream.schema(feedSchema).parquet(src)
            val enriched = streaming.StreamPip.enrich(stream, covers, polys)
              .select(col("url"), col("layer"), col("relId").as("rel_id"))
            val q = enriched.writeStream
              .format("parquet").option("path", outW)
              .option("checkpointLocation", ckpt)
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
          }
          pages.filter(col("doc_id") % 2 === 0).drop("doc_id")
            .write.mode("append").parquet(src)
          runToTermination() // run 1: batch 1 only, query stops
          pages.filter(col("doc_id") % 2 === 1).drop("doc_id")
            .write.mode("append").parquet(src)
          runToTermination() // run 2: RESTART from checkpoint, new files only
          // re-materialize as plain parquet: the streaming sink's
          // _spark_metadata log stores absolute paths, which would break
          // under scratch's atomic rename; the batch copy reads
          // through the log (exactly-once committed files only)
          s.read.parquet(outW).write.mode("overwrite").parquet(s"$work/final")
        }
        Fixtures.readParquet(s, s"$root/final")
      }),
      // J5 partitioned join at the join level chosen from cover stats —
      // the only query that runs that plan (q_pip_partitioned forces 8)
      "q_pip_hybrid" -> ((s, dir) => {
        val (polys, covers) = dims(s)
        PipJoin.matchesPartitioned(Fixtures.pages(s, dir), covers, polys)
          .withColumnRenamed("relId", "rel_id")
      }),
      // J5 partitioned variant — same rows by construction
      "q_pip_partitioned" -> ((s, dir) => {
        val (polys, covers) = dims(s)
        PipJoin.matchesPartitioned(Fixtures.pages(s, dir), covers, polys, joinLevel = 8)
          .withColumnRenamed("relId", "rel_id")
      }),
      // J7: matched-per-layer pivot (one row per url, min relId per layer)
      "q_pip_per_layer" -> ((s, dir) =>
        PipJoin.perLayer(pipMatchesIndexed(s, dir), Seq("countries", "regions", "cities", "water"))),
      // J8: completeness anti-join
      "q_pip_missing" -> ((s, dir) => {
        val pages = Fixtures.pages(s, dir)
        PipJoin.missing(pages, pipMatchesIndexed(s, dir), Seq("countries", "regions", "cities"))
          .select("url", "doc_id", "lang")
      }),
      // J9/J10: suggestions with match-rules for unmatched points
      "q_suggestions" -> ((s, dir) => {
        val (polys, covers) = dims(s)
        val pages = Fixtures.pages(s, dir)
        // built lazily, so its plan can be inspected: m feeds both the
        // missing anti-join and the rules filter and runs as two probes,
        // which share one memoized Dimension handle and its index
        val m = PipJoin.matchesIndexed(pages, covers, polys)
        val miss = PipJoin.missing(pages, m, Seq("countries", "regions", "cities"))
        PipJoin.suggestions(miss, covers, polys, m,
          Seq(PipJoin.MatchRule("countries", 100L, "cities", Seq(6))))
          .select(col("url"), col("layer"), col("relId").as("rel_id"),
            col("adminLevel").as("admin_level"), col("name"))
      }),
      // S5/G7: water shapefile pipeline
      "q_water" -> ((s, _) =>
        Ingest.waterPolygons(s, Fixtures.waterDf(s))
          .select(col("id"),
            round(graft.functions.GeomExpressions.st_area(col("wkb")), 9).as("area"))),
      // S5 from REAL bytes: the same water pipeline, but sourced from an
      // actual ESRI .shp/.shx pair (written once to fingerprint-keyed
      // scratch, then range-read distributed via the .shx index —
      // sources.Shapefile). Record indices are remapped to fixture ids by
      // write order so the oracle is waterOracle VERBATIM: binary file →
      // distributed decode → Visvalingam + winding classify + assembly
      // must be row-identical to the fixture-table path
      "q_shp_water" -> ((s, dir) => {
        import s.implicits._
        val base = shpScratch(dir) + "/water"
        val fid = Fixtures.osm._4.map(_.id).zipWithIndex
          .map { case (f, i) => (i.toLong, f) }.toDF("id", "fid")
        val decoded = sources.Shapefile.read(s, base)
          .join(broadcast(fid), Seq("id"))
          .select(col("fid").as("id"), col("rings"))
        Ingest.waterPolygons(s, decoded)
          .select(col("id"),
            round(graft.functions.GeomExpressions.st_area(col("wkb")), 9).as("area"))
      }),
      // the decode stage in isolation: every (record, part, pos) coordinate
      // out of the binary file, pinned double-for-double by a VALUES oracle
      // over the same fixture data (shpDecodeOracle) — the f64-LE round
      // trip through the file must be exact
      "q_shp_decode" -> ((s, dir) => {
        import s.implicits._
        val base = shpScratch(dir) + "/decode"
        sources.Shapefile.read(s, base)
          .as[(Long, Seq[Seq[(Double, Double)]])]
          .flatMap { case (id, rings) =>
            for { (ring, pi) <- rings.iterator.zipWithIndex
                  ((x, y), pos) <- ring.iterator.zipWithIndex }
              yield (id, pi.toLong, pos.toLong, x, y)
          }
          .toDF("id", "part", "pos", "x", "y")
      }),
      // S1 from REAL bytes: distributed OSM PBF decode (sources.OsmPbf —
      // blob-range parallelism over zlib PrimitiveBlocks, DenseNodes
      // delta chains). Decode oracles pin every entity against the
      // written fixture (coordinates via the closed-form nanodegree
      // quantization, bit-exact here because the reader's division
      // decode is correctly rounded and fixture nodes sit on the 1e-6
      // grid); q_pbf_polygons then runs the WHOLE S1→G5 chain from the
      // binary file and shares polygonsOracle verbatim
      "q_pbf_nodes" -> ((s, dir) =>
        sources.OsmPbf.nodes(s, pbfScratch(dir) + "/fixture.osm.pbf")),
      "q_pbf_ways" -> ((s, dir) => {
        import s.implicits._
        sources.OsmPbf.ways(s, pbfScratch(dir) + "/fixture.osm.pbf")
          .as[(Long, Seq[Long])]
          .flatMap { case (id, refs) =>
            refs.iterator.zipWithIndex.map { case (r, i) => (id, i.toLong, r) }
          }.toDF("id", "pos", "ref")
      }),
      "q_pbf_rels" -> ((s, dir) => {
        import s.implicits._
        sources.OsmPbf.relations(s, pbfScratch(dir) + "/fixture.osm.pbf")
          .select(col("id"), posexplode(col("members")))
          .select(col("id"), col("pos").cast("long").as("seq"),
            col("col.id").as("mid"), col("col.type").as("mtype"), col("col.role"))
      }),
      "q_pbf_tags" -> ((s, dir) => {
        import s.implicits._
        sources.OsmPbf.relations(s, pbfScratch(dir) + "/fixture.osm.pbf")
          .select(col("id"), explode(col("tags")))
          .toDF("id", "k", "v")
      }),
      // S9 from REAL bytes: osmChange (.osc.gz) replication diffs — the
      // format the reference's update loop consumes. Sequence files are
      // the unit of parallelism (XML isn't splittable; a backlog of
      // sequences fans out per file); q_osc_apply runs the remove/upsert
      // MERGE semantics distributed and the oracle replays them in SQL
      "q_osc_nodes" -> ((s, dir) =>
        sources.OscDiff.nodes(s, oscScratch(dir))),
      "q_osc_rels" -> ((s, dir) => {
        val rels = sources.OscDiff.relations(s, oscScratch(dir))
        rels.select(col("seq"), col("ord"), col("action"), col("id"),
          posexplode_outer(col("members")),
          // sort ENTRIES BY KEY, not the concatenated strings: sorting
          // "k=v" strings diverges from the oracle's key sort whenever
          // one key prefixes another ("name" vs "name:nl" — ':' < '=')
          expr("""array_join(transform(
                 |  array_sort(map_entries(tags),
                 |    (l, r) -> CASE WHEN l.key < r.key THEN -1
                 |                   WHEN l.key > r.key THEN 1 ELSE 0 END),
                 |  e -> concat(e.key, '=', e.value)), '|')""".stripMargin)
            .as("tags_cat"))
          .select(col("seq"), col("ord"), col("action"), col("id"),
            col("pos").cast("long").as("mseq"), col("col.id").as("mid"),
            col("col.type").as("mtype"), col("col.role"), col("tags_cat"))
      }),
      "q_osc_apply" -> ((s, dir) =>
        sources.OscDiff.applyNodes(
          Fixtures.nodesDf(s).select("id", "lat", "lon"),
          sources.OscDiff.nodes(s, oscScratch(dir)))),
      "q_pbf_polygons" -> ((s, dir) => {
        val pbf = pbfScratch(dir) + "/fixture.osm.pbf"
        val polys = Ingest.polygons(s, sources.OsmPbf.nodes(s, pbf),
          sources.OsmPbf.ways(s, pbf), sources.OsmPbf.relations(s, pbf),
          Fixtures.blacklist)
        polys.select(col("relId"), col("adminLevel"), col("layer"), col("name"),
          round(graft.functions.GeomExpressions.st_area(col("wkb")), 9).as("area"),
          round(col("bbox.minx"), 6).as("minx"), round(col("bbox.miny"), 6).as("miny"),
          round(col("bbox.maxx"), 6).as("maxx"), round(col("bbox.maxy"), 6).as("maxy"))
      }),
      // E6: vector→raster at a fixed level
      "q_raster_cells" -> ((s, _) => {
        val (polys, _) = dims(s)
        Tiling.rasterize(polys.filter(col("layer") === "cities"), 10)
      }),
      // E7: expanding-ring kNN
      "q_knn" -> ((s, dir) => {
        val pages = Fixtures.pages(s, dir)
        Knn.knn(pages, knnQueries, k = 5)
          .select(col("queryId").as("query_id"), col("rank").cast("long").as("rank"),
            col("url"), round(col("dist"), 3).as("dist"))
      }),
      // E7 at planet scale: same search over the partition-pruned parquet
      // index (writeIndexed) — each round reads only frontier directories,
      // never the whole table; same oracle as q_knn (rows must be identical)
      "q_knn_pruned" -> ((s, dir) => {
        val root = scratch(knnIndexPath(dir))(work =>
          Knn.writeIndexed(Fixtures.pages(s, dir), s"$work/idx"))
        Knn.knnIndexed(s, s"$root/idx", knnQueries, k = 5)
          .select(col("queryId").as("query_id"), col("rank").cast("long").as("rank"),
            col("url"), round(col("dist"), 3).as("dist"))
      }),
      // E7 batch shape: DataFrame-side query state (knnBatch) — the
      // 10⁶-probe design where the driver never holds per-query rows;
      // must be row-identical to q_knn (same brute-force oracle)
      "q_knn_batch" -> ((s, dir) => {
        import s.implicits._
        val pages = Fixtures.pages(s, dir)
        val qdf = knnQueries.map(q => (q.queryId, q.lon, q.lat)).toDF("queryId", "lon", "lat")
        Knn.knnBatch(pages, qdf, k = 5)
          .select(col("queryId").as("query_id"), col("rank").cast("long").as("rank"),
            col("url"), round(col("dist"), 3).as("dist"))
      }),
      // dedup family
      "q_minhash_pairs" -> ((s, dir) => TextOps.minhashDedup(Fixtures.documents(s, dir), 0.7)),
      "q_simhash_pairs" -> ((s, dir) => TextOps.simhashDedup(Fixtures.documents(s, dir), 3)),
      "q_lang_id" -> ((s, dir) =>
        TextOps.langId(Fixtures.documents(s, dir)).withColumn("score", round(col("score"), 6))),
      "q_fingerprints" -> ((s, dir) =>
        TextOps.fingerprintTable(Fixtures.documents(s, dir))
          .groupBy("doc_id").agg(count(lit(1)).as("n_fp"))),
      // similarity search
      "q_ann_brute" -> ((s, dir) =>
        Similarity.bruteForceTopK(Fixtures.readParquet(s, s"$dir/embeddings.parquet"), 0L to 9L, 5)),
      "q_ann_ivf" -> ((s, dir) =>
        Similarity.ivfTopK(Fixtures.readParquet(s, s"$dir/embeddings.parquet"), 0L to 9L, 5)),
      // toolchain canary (ADVICE r4): q_ann_ivf's oracle equivalence
      // leans on DuckDB's DECIMAL(38,20) divide-then-cast-to-double
      // tracking Spark's. Building this canary MEASURED the agreement:
      // it is 1-ulp-tight, not exact (3 of 448 per-(cluster,dim) means
      // at sf0.001 differ in the final double bit; ~2300-element groups
      // diverge more often) — q_ann_ivf stays green because round(cos,6)
      // and the argmax absorb last-ulp mean noise. The canary therefore
      // pins the quotient at 12 decimals: tight enough that any SEMANTIC
      // shift in either engine's decimal cast/sum/divide (scale change,
      // double fallback, rounding-mode change) fails HERE, loudly and
      // legibly, instead of as a confusing q_ann_ivf drift; loose enough
      // that today's benign last-ulp disagreement stays invisible
      "q_decimal_canary" -> ((s, dir) =>
        Fixtures.readParquet(s, s"$dir/embeddings.parquet")
          .filter(col("vec_id") < 256)
          .select(col("vec_id"),
            posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
          .groupBy((col("vec_id") % 7).as("grp"), col("dim"))
          .agg(round((sum(col("x").cast("decimal(38,20)")) / count(lit(1)))
            .cast("double"), 12).as("m"),
            count(lit(1)).as("n"))),
      // P1-P10/E1-E5: topology pipeline — shared-arc dedup, DP simplify,
      // quantize, water clip, greedy slicing. q_topo_arcs is the COMPOSITE
      // curved-layer membership check (round 7): a fixture probe grid
      // classified against the engine's reconstructed clip+DP+topology
      // output, with the expectation — inside(feature) AND NOT
      // inside(water) — re-derived by DuckDB from the INPUT rings alone.
      // The old quantized-delta payload stays frozen in GoldenSpec via
      // topoArcDeltas (arc contents); this form is what a second engine
      // can actually verify on curved input.
      "q_topo_arcs" -> ((s, _) =>
        memberQuery(s, topoCountries(s).topo, layerMemberProbes)),
      // P6/P7 on CURVED input in isolation: raw overlay clip (simplify 0,
      // quantize 0) membership-checked on a tighter probe band (eps 1e-4)
      "q_topo_clip_member" -> ((s, _) =>
        memberQuery(s, clipMemberTopo(s), clipMemberProbes)),
      // raw topology (no clip/simplify/quantize) over the split-octagon
      // fixture: junction cutting + shared-arc dedup with every vertex an
      // input coordinate — fully SQL-oracled (see rawTopoOracle)
      "q_topo_arcs_raw" -> ((s, _) => {
        import s.implicits._
        val topo = rawTopo(s)
        val nUses = topo.uses.groupBy("arcId").agg(count(lit(1)).as("n_uses"))
        topo.arcs.select(col("arcId"), col("pts"))
          .as[(Long, Seq[(Double, Double)])]
          .map { case (id, pts) =>
            (id, pts.length.toLong, pts.map(_._1).min, pts.map(_._2).min,
              pts.map(_._1).max, pts.map(_._2).max)
          }
          .toDF("arcId", "n_pts", "minx", "miny", "maxx", "maxy")
          .join(nUses, Seq("arcId"))
      }),
      // DP in isolation over the jittered split-rectangle fixture: the
      // per-arc Douglas-Peucker keep set (tolerance 1e-2) with every
      // surviving coordinate an untouched input double — replayed
      // interval-for-interval by dpTopoOracle's recursive CTE
      "q_topo_arcs_dp" -> ((s, _) => {
        import s.implicits._
        dpTopo(s).arcs.select(col("arcId"), col("pts"))
          .as[(Long, Seq[(Double, Double)])]
          .flatMap { case (id, pts) =>
            pts.iterator.zipWithIndex.map { case ((x, y), i) => (id, i.toLong, x, y) }
          }
          .toDF("arcId", "pos", "x", "y")
      }),
      // P9 in isolation over the raw fixture: the same topology at
      // quantize=1e4 — every quantized position, the consecutive-dup drop
      // and the full delta chain (the `deltas` string IS the encoding)
      // replayed independently by rawTopoQOracle
      "q_topo_arcs_raw_q" -> ((s, _) => {
        import s.implicits._
        rawTopoQ(s).arcsQ.get.select(col("arcId"), col("qpts"))
          .as[(Long, Seq[(Int, Int)])]
          .map { case (id, q) =>
            (id, q.length.toLong, q.map { case (dx, dy) => s"$dx,$dy" }.mkString(";"))
          }
          .toDF("arcId", "n_q", "deltas")
      }),
      // P6/P7 in isolation over the rectilinear clip fixture: the REAL
      // JTS overlay path (prepWater buffer(0) → bbox prefilter →
      // prepared-intersects → sequential difference) → raw topology;
      // every arc coordinate is an overlay product, and clipRectOracle
      // recomputes all of them by pure interval subtraction — the last
      // previously-golden-only stage now has an independent oracle
      "q_topo_clip_rect" -> ((s, _) => {
        import s.implicits._
        val t = clipTopo(s)
        val ser = t.arcs.select(col("arcId"), col("pts"))
          .as[(Long, Seq[(Double, Double)])]
          .map { case (id, pts) =>
            (id, pts.map { case (x, y) => s"$x:$y" }.mkString(";"), pts.length.toLong)
          }.toDF("arcId", "pts", "n_pts")
        val useAgg = t.uses.groupBy("arcId")
          .agg(count(lit(1)).as("n_uses"),
            concat_ws(",", sort_array(collect_list(col("objId"))).cast("array<string>")).as("objs"))
        ser.join(useAgg, Seq("arcId"))
          .select("arcId", "pts", "n_pts", "n_uses", "objs")
      }),
      "q_topo_objects" -> ((s, _) => {
        val res = topoCountries(s)
        res.topo.objects.select(col("objId"), col("nPoints"),
          round(col("minx"), 6).as("minx"), round(col("miny"), 6).as("miny"),
          round(col("maxx"), 6).as("maxx"), round(col("maxy"), 6).as("maxy"))
      }),
      "q_topo_slices" -> ((s, _) => {
        import s.implicits._
        topoCountries(s).slices.toDF("objId", "slice")
      }),
      // token counting (whitespace + BPE-ish regex)
      "q_token_counts" -> ((s, dir) => TextOps.tokenCounts(Fixtures.documents(s, dir))),
      // per-row input invariant: text extracted from the html payload is
      // byte-identical to the source text (hash equality vs the oracle)
      "q_extract_text" -> ((s, dir) =>
        TextOps.extractText(Fixtures.pages(s, dir))
          .select(col("url"), md5(col("extracted")).as("text_md5"))),
      // near-dup clustering: exact shingle-Jaccard pairs via inverted
      // index → connected components (large-star/small-star) → keeper
      "q_jaccard_pairs" -> ((s, dir) => jacPairs(s, dir)),
      "q_dedup_clusters" -> ((s, dir) => clusters(s, dir)),
      "q_dedup_canonical" -> ((s, dir) =>
        Clusters.canonical(Fixtures.documents(s, dir), clusters(s, dir))),
      // embedding near-dup: exact baseline (oracle-checked) + IVF-blocked
      "q_embed_pairs" -> ((s, dir) =>
        Similarity.embeddingDedupExact(
          Fixtures.readParquet(s, s"$dir/embeddings.parquet").filter(col("vec_id") < 1000), 0.4)),
      "q_embed_pairs_blocked" -> ((s, dir) =>
        Similarity.embeddingDedupBlocked(Fixtures.readParquet(s, s"$dir/embeddings.parquet"), 0.4)),
      // multimodal plumbing (decode step stubbed deterministically)
      "q_media_meta" -> ((s, dir) => Multimodal.decodeMeta(Fixtures.pages(s, dir))),
      "q_media_frames" -> ((s, dir) => Multimodal.sampleFrames(Fixtures.pages(s, dir))),
      // REAL decode: valid binary-PPM images parsed by PpmCodec (header
      // tokenizer + raster stats); the oracle recomputes dims/means from
      // the generating formula, so a parser off-by-one (header skip,
      // channel order, stride) breaks the hash
      "q_media_ppm" -> ((s, dir) => {
        import s.implicits._
        Fixtures.ppmImages(s, dir)
          .as[(String, Array[Byte])]
          .mapPartitions(_.map { case (url, img) =>
            val meta = Multimodal.PpmCodec.decode(url, img)
            val (r, g, b) = Multimodal.PpmCodec.pixelMeans(img)
            (url, meta.width, meta.height, meta.byteLen, r, g, b)
          })
          .toDF("url", "width", "height", "byte_len", "mean_r", "mean_g", "mean_b")
          .withColumn("mean_r", round(col("mean_r"), 6))
          .withColumn("mean_g", round(col("mean_g"), 6))
          .withColumn("mean_b", round(col("mean_b"), 6))
      }),
      // REAL decode #2, a web-common format: valid zlib-compressed PNGs
      // decoded by PngCodec (chunk walk + CRC verify + IDAT inflate +
      // filter reconstruction); same formula oracle (byte_len omitted —
      // it is deflate-dependent)
      "q_media_png" -> ((s, dir) => {
        import s.implicits._
        Fixtures.pngImages(s, dir)
          .as[(String, Array[Byte])]
          .mapPartitions(_.map { case (url, img) =>
            val meta = Multimodal.PngCodec.decode(url, img)
            val (r, g, b) = Multimodal.PngCodec.pixelMeans(img)
            (url, meta.width, meta.height, r, g, b)
          })
          .toDF("url", "width", "height", "mean_r", "mean_g", "mean_b")
          .withColumn("mean_r", round(col("mean_r"), 6))
          .withColumn("mean_g", round(col("mean_g"), 6))
          .withColumn("mean_b", round(col("mean_b"), 6))
      }),
      // REAL decode #3, the entropy-coded one: valid baseline JPEGs taken
      // apart by JpegCodec (T.81 segment walk, canonical Huffman decode
      // with byte unstuffing, dequant + IDCT, YCbCr->RGB, crop). The
      // fixture's block-constant + all-ones-quant construction makes the
      // decode closed-form (JpegSpec pins this exactly vs the JDK's
      // ImageIO), so the same formula oracle style applies — the SQL
      // replays block colors through the YCbCr round trip and never
      // touches a byte of the stream
      "q_media_jpeg" -> ((s, dir) => {
        import s.implicits._
        Fixtures.jpegImages(s, dir)
          .as[(String, Array[Byte])]
          .mapPartitions(_.map { case (url, img) =>
            val meta = operators.JpegCodec.decode(url, img)
            val (r, g, b) = operators.JpegCodec.pixelMeans(img)
            (url, meta.width, meta.height, r, g, b)
          })
          .toDF("url", "width", "height", "mean_r", "mean_g", "mean_b")
          .withColumn("mean_r", round(col("mean_r"), 6))
          .withColumn("mean_g", round(col("mean_g"), 6))
          .withColumn("mean_b", round(col("mean_b"), 6))
      }),
      // REAL decode #4, the audio one: valid PCM WAVE clips parsed by
      // WavCodec (RIFF chunk walk with word alignment + LIST/INFO skip,
      // fmt validation, LE 16-bit frame decode). The oracle recomputes
      // rate/duration/sample stats from the generating formula — the SQL
      // never parses bytes, so a chunk-walk or endianness bug breaks the
      // hash
      "q_media_wav" -> ((s, dir) => {
        import s.implicits._
        Fixtures.wavAudio(s, dir)
          .as[(String, Array[Byte])]
          .mapPartitions(_.map { case (url, wav) =>
            val p = operators.WavCodec.parse(url, wav)
            val (n, mean, meanAbs) = operators.WavCodec.sampleStats(wav)
            (url, p.sampleRate, n, operators.WavCodec.decode(url, wav).durationMs, mean, meanAbs)
          })
          .toDF("url", "sample_rate", "n_samples", "duration_ms", "mean_sample", "mean_abs")
          .withColumn("mean_sample", round(col("mean_sample"), 6))
          .withColumn("mean_abs", round(col("mean_abs"), 6))
      }),
      // REAL decode #5, the video one: valid MJPEG AVI containers parsed
      // by AviCodec (RIFF list walk with word alignment — odd-sized JPEG
      // frames pad — avih/strh/strf validation, 00dc extraction), every
      // frame entropy-decoded by JpegCodec. The oracle replays each
      // frame's block colors through the YCbCr round trip; container
      // walk, frame count and the full JPEG decode all sit between the
      // bytes and these numbers
      "q_media_avi" -> ((s, dir) => {
        import s.implicits._
        Fixtures.aviVideos(s, dir)
          .as[(String, Array[Byte])]
          .mapPartitions(_.map { case (url, avi) =>
            // parse ONCE: metadata and means come from the same parsed
            // container (the byte-form pixelMeans re-walked the RIFF tree
            // and re-validated every frame header per row)
            val v = operators.AviCodec.parse(url, avi)
            val (r, g, b) = operators.AviCodec.pixelMeans(v)
            (url, v.width, v.height, v.frames.length, v.durationMs, r, g, b)
          })
          .toDF("url", "width", "height", "n_frames", "duration_ms",
            "mean_r", "mean_g", "mean_b")
          .withColumn("mean_r", round(col("mean_r"), 6))
          .withColumn("mean_g", round(col("mean_g"), 6))
          .withColumn("mean_b", round(col("mean_b"), 6))
      }),
      // frame SELECTION through the real video path: sample the frame at
      // the clip midpoint (ts = duration/2 → frameIndex → JPEG decode of
      // just that frame). The oracle derives the selected index in closed
      // form (nf//2 — exact at the fixture's µs-per-frame values) and
      // replays only that frame's block colors, so a timestamp→frame
      // off-by-one lands on a different frame's colors and breaks the hash
      "q_media_avi_frame" -> ((s, dir) => {
        import s.implicits._
        Fixtures.aviVideos(s, dir)
          .as[(String, Array[Byte])]
          .mapPartitions(_.map { case (url, avi) =>
            val v = operators.AviCodec.parse(url, avi)
            val f = operators.AviCodec.frameIndex(v, v.durationMs / 2)
            val px = operators.JpegCodec.pixels(v.frames(f))
            var r = 0L; var g = 0L; var b = 0L
            var i = 0
            while (i < px.length) { r += px(i) & 0xff; g += px(i + 1) & 0xff; b += px(i + 2) & 0xff; i += 3 }
            val n = px.length / 3
            (url, f, r.toDouble / n, g.toDouble / n, b.toDouble / n)
          })
          .toDF("url", "frame_idx", "mean_r", "mean_g", "mean_b")
          .withColumn("mean_r", round(col("mean_r"), 6))
          .withColumn("mean_g", round(col("mean_g"), 6))
          .withColumn("mean_b", round(col("mean_b"), 6))
      })
    )

    sqlBacked ++ native
  }

  /** DuckDB-only oracles for engine-native queries whose Spark side is
    * DataFrame code but whose semantics DuckDB can still express (the
    * oracle text need not match the Spark text — only the result).
    */
  val duckOnlyOracle: Map[String, String] = Map(
    // sketch family — DuckDB recomputes the engine's exact hash math
    // (see the generator defs below the map)
    "q_minhash_pairs" -> minhashOracle,
    "q_simhash_pairs" -> simhashOracle,
    "q_embed_pairs_blocked" -> embedBlockedOracle,
    // geometry assembly — independent integer-shoelace computation
    "q_polygons" -> polygonsOracle,
    // vector→raster — independent SAT cell/polygon intersection over the
    // input rings + a recursive-CTE replay of the Hilbert cell id
    "q_raster_cells" -> rasterOracle,
    // region coverer — the priority-refinement loop replayed pop-for-pop
    // by a recursive CTE over the INPUT rings (see coverOracle)
    "q_cell_covers" -> coverOracle,
    // water import — Visvalingam replayed removal-for-removal over the
    // INPUT shapefile parts, then shoelace classify + area (see waterOracle)
    "q_water" -> waterOracle,
    // the same pipeline fed from a REAL .shp file must be row-identical —
    // the oracle is shared verbatim
    "q_shp_water" -> waterOracle,
    // raw shapefile decode: every (record, part, pos) coordinate from the
    // binary file vs the written fixture rows (see shpDecodeOracle)
    "q_shp_decode" -> shpDecodeOracle,
    // OSM PBF decode: every entity out of the binary container vs the
    // written fixture (coordinates = closed-form nanodegree quantization)
    "q_pbf_nodes" -> pbfNodesOracle,
    "q_pbf_ways" -> pbfWaysOracle,
    "q_pbf_rels" -> pbfRelsOracle,
    "q_pbf_tags" -> pbfTagsOracle,
    // the FULL S1→G5 chain (3-pass semi-join import + ring/polygon
    // assembly) fed from the real .osm.pbf must be row-identical to the
    // fixture-table path — polygonsOracle shared verbatim (possible
    // because the division decode makes grid coordinates bit-exact)
    "q_pbf_polygons" -> polygonsOracle,
    // osmChange replication decode + the remove/upsert apply semantics
    // replayed in SQL (see oscNodesOracle/oscRelsOracle/oscApplyOracle)
    "q_osc_nodes" -> oscNodesOracle,
    "q_osc_rels" -> oscRelsOracle,
    "q_osc_apply" -> oscApplyOracle,
    // IVF ANN — the full index build (seeded init + 2 Lloyd rounds with
    // DECIMAL-exact means) and probe replayed in SQL (see ivfOracle)
    "q_ann_ivf" -> ivfOracle,
    // canary for the decimal assumptions ivfOracle documents: if either
    // engine's DECIMAL(38,20) cast/sum/divide semantics drift, this
    // 7-row query hash-mismatches first (see the q_decimal_canary
    // comment in the queries map)
    "q_decimal_canary" ->
      """SELECT vec_id % 7 AS grp, CAST(dim AS INTEGER) AS dim,
        |       round(CAST(sum(CAST(CAST(x AS VARCHAR) AS DECIMAL(38,20))) / count(*) AS DOUBLE), 12) AS m,
        |       count(*) AS n
        |FROM (SELECT vec_id,
        |             unnest(generate_series(0, len(CAST(embedding AS DOUBLE[])) - 1)) AS dim,
        |             unnest(CAST(embedding AS DOUBLE[])) AS x
        |      FROM embeddings WHERE vec_id < 256)
        |GROUP BY 1, 2""".stripMargin,
    // raw topology — junction detect + cut + shared-arc dedup recomputed
    // from the INPUT rings (see rawTopoOracle)
    "q_topo_arcs_raw" -> rawTopoOracle,
    // P9 quantize + delta encode replayed in full over the raw topology
    // (see rawTopoQOracle — the deltas column IS the encoded chain)
    "q_topo_arcs_raw_q" -> rawTopoQOracle,
    // P5/P8 Douglas-Peucker replayed interval-for-interval by a
    // recursive CTE over the jittered split-rectangle fixture (see
    // dpTopoOracle) — with this green only the JTS overlay clip remains
    // without an independent oracle
    "q_topo_arcs_dp" -> dpTopoOracle,
    // P6/P7 overlay clip replayed by closed-form interval subtraction
    // over the rectilinear fixture (see clipRectOracle)
    "q_topo_clip_rect" -> clipRectOracle,
    // P6/P7 on CURVED input: probe-grid membership of the raw overlay
    // output vs the input-ring derivation (see memberOracle) — with this
    // and the composite q_topo_arcs membership below, NO query is
    // golden-only; the coordinate-level curved pin stays in GoldenSpec
    "q_topo_clip_member" -> memberOracle(clipMemberProbes),
    // the COMPOSITE curved layer (clip + DP + topology + reconstruct)
    // membership-checked on the wider eps=4e-3 band (DP tolerance 1e-3
    // applied pre- and post-clip)
    "q_topo_arcs" -> memberOracle(layerMemberProbes),
    // streaming PIP must be row-identical to the batch join — same oracle
    "q_stream_pip" ->
      s"""$pipOracleCtes
         |SELECT url, layer, rel_id FROM contained""".stripMargin,
    // real PPM decode: dims + channel means recomputed from the image
    // generator's formula (width 4+id%5, height 3+id%4, raster byte k =
    // (id+k)%256, 11-byte header) — the SQL never parses bytes, so the
    // codec's header tokenizer / stride / channel order are checked
    // against an independent derivation
    "q_media_ppm" ->
      """WITH d AS (
        |  SELECT doc_id, 'https://example.test/doc/' || doc_id AS url,
        |         4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, url, w, h, unnest(generate_series(0, CAST(w * h - 1 AS BIGINT))) AS j
        |  FROM d)
        |SELECT url, CAST(any_value(w) AS INTEGER) AS width,
        |       CAST(any_value(h) AS INTEGER) AS height,
        |       CAST(11 + 3 * any_value(w) * any_value(h) AS BIGINT) AS byte_len,
        |       round(avg(CAST((doc_id + 3 * j) % 256 AS DOUBLE)), 6) AS mean_r,
        |       round(avg(CAST((doc_id + 3 * j + 1) % 256 AS DOUBLE)), 6) AS mean_g,
        |       round(avg(CAST((doc_id + 3 * j + 2) % 256 AS DOUBLE)), 6) AS mean_b
        |FROM px GROUP BY url""".stripMargin,
    // real PNG decode: same independent dims/means derivation (byte_len
    // omitted — the zlib stream length is not formula-derivable); the
    // codec's chunk walk, CRC verify, inflate and filter reconstruction
    // all sit between the bytes and these numbers
    "q_media_png" ->
      """WITH d AS (
        |  SELECT doc_id, 'https://example.test/doc/' || doc_id AS url,
        |         4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, url, w, h, unnest(generate_series(0, CAST(w * h - 1 AS BIGINT))) AS j
        |  FROM d)
        |SELECT url, CAST(any_value(w) AS INTEGER) AS width,
        |       CAST(any_value(h) AS INTEGER) AS height,
        |       round(avg(CAST((doc_id + 3 * j) % 256 AS DOUBLE)), 6) AS mean_r,
        |       round(avg(CAST((doc_id + 3 * j + 1) % 256 AS DOUBLE)), 6) AS mean_g,
        |       round(avg(CAST((doc_id + 3 * j + 2) % 256 AS DOUBLE)), 6) AS mean_b
        |FROM px GROUP BY url""".stripMargin,
    // real JPEG decode: the fixture is per-8x8-block-constant with an
    // all-ones quant table, so the decoded raster is EXACTLY the YCbCr
    // round trip of the block colors (JpegSpec proves this vs ImageIO).
    // The oracle replays block colors -> rounded YCbCr -> rounded RGB
    // (floor(v+0.5) = Java Math.round) weighted by each block's cropped
    // pixel count — the Huffman decode, dequant, IDCT, upsample and crop
    // all sit between the bytes and these numbers
    "q_media_jpeg" ->
      """WITH d AS (
        |  SELECT doc_id, 'https://example.test/doc/' || doc_id AS url,
        |         4 + doc_id % 21 AS w, 3 + doc_id % 17 AS h
        |  FROM documents),
        |bx_ AS (
        |  SELECT doc_id, url, w, h,
        |         unnest(generate_series(0, CAST((w + 7) // 8 - 1 AS BIGINT))) AS bx
        |  FROM d),
        |blk AS (
        |  SELECT doc_id, url, w, h, bx,
        |         unnest(generate_series(0, CAST((h + 7) // 8 - 1 AS BIGINT))) AS byy
        |  FROM bx_),
        |bc AS (
        |  SELECT url, w, h,
        |         (least(8 * bx + 8, w) - 8 * bx) * (least(8 * byy + 8, h) - 8 * byy) AS npix,
        |         CAST((doc_id + 7 * bx + 13 * byy) % 256 AS DOUBLE) AS r,
        |         CAST((2 * doc_id + 11 * bx + 5 * byy + 3) % 256 AS DOUBLE) AS g,
        |         CAST((3 * doc_id + 17 * bx + 19 * byy + 6) % 256 AS DOUBLE) AS b
        |  FROM blk),
        |ycc AS (
        |  SELECT url, w, h, npix,
        |         least(greatest(floor(0.299 * r + 0.587 * g + 0.114 * b + 0.5), 0), 255) AS y,
        |         least(greatest(floor(128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b + 0.5), 0), 255) AS cb,
        |         least(greatest(floor(128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b + 0.5), 0), 255) AS cr
        |  FROM bc),
        |dec AS (
        |  SELECT url, w, h, npix,
        |         least(greatest(floor(y + 1.402 * (cr - 128) + 0.5), 0), 255) AS r2,
        |         least(greatest(floor(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5), 0), 255) AS g2,
        |         least(greatest(floor(y + 1.772 * (cb - 128) + 0.5), 0), 255) AS b2
        |  FROM ycc)
        |SELECT url, CAST(any_value(w) AS INTEGER) AS width,
        |       CAST(any_value(h) AS INTEGER) AS height,
        |       round(sum(npix * r2) / any_value(w * h), 6) AS mean_r,
        |       round(sum(npix * g2) / any_value(w * h), 6) AS mean_g,
        |       round(sum(npix * b2) / any_value(w * h), 6) AS mean_b
        |FROM dec GROUP BY url""".stripMargin,
    // real WAV decode: rate/frame-count/duration/sample stats recomputed
    // from the audio generator's formula (rate = 8000 + (id%3)·4000,
    // n = 40 + id%50, sample k = (id·31 + k·77)%65536 − 32768) — the
    // RIFF chunk walk, fmt parse and LE16 frame decode all sit between
    // the bytes and these numbers
    "q_media_wav" ->
      """WITH d AS (
        |  SELECT doc_id, 'https://example.test/doc/' || doc_id AS url,
        |         40 + doc_id % 50 AS n, 8000 + (doc_id % 3) * 4000 AS rate
        |  FROM documents),
        |sm AS (
        |  SELECT doc_id, url, n, rate,
        |         unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS k
        |  FROM d),
        |v AS (
        |  SELECT url, n, rate,
        |         CAST((doc_id * 31 + k * 77) % 65536 - 32768 AS BIGINT) AS s
        |  FROM sm)
        |SELECT url, CAST(any_value(rate) AS INTEGER) AS sample_rate,
        |       CAST(count(*) AS BIGINT) AS n_samples,
        |       CAST(any_value(n) * 1000 // any_value(rate) AS BIGINT) AS duration_ms,
        |       round(avg(CAST(s AS DOUBLE)), 6) AS mean_sample,
        |       round(avg(CAST(abs(s) AS DOUBLE)), 6) AS mean_abs
        |FROM v GROUP BY url""".stripMargin,
    // real MJPEG-AVI decode: per-frame block colors replayed through the
    // rounded YCbCr round trip (same closed form JpegSpec pins vs
    // ImageIO), weighted by each block's cropped pixel count, averaged
    // over all frames; duration = nf·µsPerFrame/1000 (µs multiples of
    // 20000 → exact). The SQL never touches container or stream bytes
    "q_media_avi" ->
      """WITH d AS (
        |  SELECT doc_id, 'https://example.test/doc/' || doc_id AS url,
        |         4 + doc_id % 13 AS w, 3 + doc_id % 11 AS h,
        |         2 + doc_id % 4 AS nf, 20000 + (doc_id % 3) * 20000 AS uspf
        |  FROM documents),
        |fr AS (
        |  SELECT *, unnest(generate_series(0, CAST(nf - 1 AS BIGINT))) AS f
        |  FROM d),
        |bx_ AS (
        |  SELECT *, unnest(generate_series(0, CAST((w + 7) // 8 - 1 AS BIGINT))) AS bx
        |  FROM fr),
        |blk AS (
        |  SELECT *, unnest(generate_series(0, CAST((h + 7) // 8 - 1 AS BIGINT))) AS byy
        |  FROM bx_),
        |bc AS (
        |  SELECT url, w, h, nf, uspf,
        |         (least(8 * bx + 8, w) - 8 * bx) * (least(8 * byy + 8, h) - 8 * byy) AS npix,
        |         CAST((doc_id + 7 * bx + 13 * byy + 29 * f) % 256 AS DOUBLE) AS r,
        |         CAST((2 * doc_id + 11 * bx + 5 * byy + 3 + 31 * f) % 256 AS DOUBLE) AS g,
        |         CAST((3 * doc_id + 17 * bx + 19 * byy + 6 + 37 * f) % 256 AS DOUBLE) AS b
        |  FROM blk),
        |ycc AS (
        |  SELECT url, w, h, nf, uspf, npix,
        |         least(greatest(floor(0.299 * r + 0.587 * g + 0.114 * b + 0.5), 0), 255) AS y,
        |         least(greatest(floor(128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b + 0.5), 0), 255) AS cb,
        |         least(greatest(floor(128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b + 0.5), 0), 255) AS cr
        |  FROM bc),
        |dec AS (
        |  SELECT url, w, h, nf, uspf, npix,
        |         least(greatest(floor(y + 1.402 * (cr - 128) + 0.5), 0), 255) AS r2,
        |         least(greatest(floor(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5), 0), 255) AS g2,
        |         least(greatest(floor(y + 1.772 * (cb - 128) + 0.5), 0), 255) AS b2
        |  FROM ycc)
        |SELECT url, CAST(any_value(w) AS INTEGER) AS width,
        |       CAST(any_value(h) AS INTEGER) AS height,
        |       CAST(any_value(nf) AS INTEGER) AS n_frames,
        |       CAST(any_value(nf) * any_value(uspf) // 1000 AS BIGINT) AS duration_ms,
        |       round(sum(npix * r2) / any_value(nf * w * h), 6) AS mean_r,
        |       round(sum(npix * g2) / any_value(nf * w * h), 6) AS mean_g,
        |       round(sum(npix * b2) / any_value(nf * w * h), 6) AS mean_b
        |FROM dec GROUP BY url""".stripMargin,
    // midpoint frame selection: ts = duration/2 maps to frame nf//2 at
    // the fixture's frame timings (µsPerFrame multiples of 2000 make the
    // arithmetic exact); only that frame's block colors are replayed
    "q_media_avi_frame" ->
      """WITH d AS (
        |  SELECT doc_id, 'https://example.test/doc/' || doc_id AS url,
        |         4 + doc_id % 13 AS w, 3 + doc_id % 11 AS h,
        |         (2 + doc_id % 4) // 2 AS f
        |  FROM documents),
        |bx_ AS (
        |  SELECT *, unnest(generate_series(0, CAST((w + 7) // 8 - 1 AS BIGINT))) AS bx
        |  FROM d),
        |blk AS (
        |  SELECT *, unnest(generate_series(0, CAST((h + 7) // 8 - 1 AS BIGINT))) AS byy
        |  FROM bx_),
        |bc AS (
        |  SELECT url, w, h, f,
        |         (least(8 * bx + 8, w) - 8 * bx) * (least(8 * byy + 8, h) - 8 * byy) AS npix,
        |         CAST((doc_id + 7 * bx + 13 * byy + 29 * f) % 256 AS DOUBLE) AS r,
        |         CAST((2 * doc_id + 11 * bx + 5 * byy + 3 + 31 * f) % 256 AS DOUBLE) AS g,
        |         CAST((3 * doc_id + 17 * bx + 19 * byy + 6 + 37 * f) % 256 AS DOUBLE) AS b
        |  FROM blk),
        |ycc AS (
        |  SELECT url, w, h, f, npix,
        |         least(greatest(floor(0.299 * r + 0.587 * g + 0.114 * b + 0.5), 0), 255) AS y,
        |         least(greatest(floor(128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b + 0.5), 0), 255) AS cb,
        |         least(greatest(floor(128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b + 0.5), 0), 255) AS cr
        |  FROM bc),
        |dec AS (
        |  SELECT url, w, h, f, npix,
        |         least(greatest(floor(y + 1.402 * (cr - 128) + 0.5), 0), 255) AS r2,
        |         least(greatest(floor(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5), 0), 255) AS g2,
        |         least(greatest(floor(y + 1.772 * (cb - 128) + 0.5), 0), 255) AS b2
        |  FROM ycc)
        |SELECT url, CAST(any_value(f) AS INTEGER) AS frame_idx,
        |       round(sum(npix * r2) / any_value(w * h), 6) AS mean_r,
        |       round(sum(npix * g2) / any_value(w * h), 6) AS mean_g,
        |       round(sum(npix * b2) / any_value(w * h), 6) AS mean_b
        |FROM dec GROUP BY url""".stripMargin,

    // cosine oracles carry the engine's zero-norm guard (cosine(0,·)=0.0,
    // never NaN): DuckDB's list_cosine_similarity yields NaN on a zero
    // vector, and NaN sorts ABOVE every number in its total float order,
    // so an unguarded `>= threshold` would emit pairs the engine drops
    "q_ann_brute" ->
      """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
        |                    sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), v -> v * v))) AS nrm
        |             FROM embeddings),
        |q AS (SELECT vec_id AS query_id, vec AS qv, nrm AS qnrm FROM emb WHERE vec_id <= 9),
        |scored AS (
        |  SELECT q.query_id, e.vec_id,
        |         CASE WHEN q.qnrm = 0 OR e.nrm = 0 THEN 0.0
        |              ELSE round(list_cosine_similarity(q.qv, e.vec), 6) END AS cos,
        |         row_number() OVER (PARTITION BY q.query_id
        |                            ORDER BY CASE WHEN q.qnrm = 0 OR e.nrm = 0 THEN 0.0
        |                                          ELSE round(list_cosine_similarity(q.qv, e.vec), 6) END DESC,
        |                                     e.vec_id) AS rank
        |  FROM q CROSS JOIN emb e WHERE e.vec_id != q.query_id)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, cos FROM scored WHERE rank <= 5""".stripMargin,
    "q_embed_pairs" ->
      """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
        |                    sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), v -> v * v))) AS nrm
        |             FROM embeddings WHERE vec_id < 1000)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |       CASE WHEN a.nrm = 0 OR b.nrm = 0 THEN 0.0
        |            ELSE round(list_cosine_similarity(a.vec, b.vec), 6) END AS cos
        |FROM emb a JOIN emb b ON a.vec_id < b.vec_id
        |WHERE CASE WHEN a.nrm = 0 OR b.nrm = 0 THEN 0.0
        |           ELSE round(list_cosine_similarity(a.vec, b.vec), 6) END >= 0.4""".stripMargin,

    // ---- PIP family: independent half-plane containment over the fixture
    // rings (convex octagons; CCW edges in pipOracleCtes). relId 995 is
    // absent by design: its cover is empty, so the engine's index semantics
    // (reference lookup.go:183-189) make it unmatchable.
    "q_pip_spatial" ->
      s"""$pipOracleCtes
         |SELECT url, layer, rel_id FROM contained""".stripMargin,

    "q_pip_partitioned" ->
      s"""$pipOracleCtes
         |SELECT url, layer, rel_id FROM contained""".stripMargin,

    "q_pip_hybrid" ->
      s"""$pipOracleCtes
         |SELECT url, layer, rel_id FROM contained""".stripMargin,

    // pure-geometry SQL join (PipJoinRewrite path): triangle included
    "q_pip_sql" ->
      s"""$pipSqlOracleCtes
         |SELECT url, layer, rel_id FROM contained""".stripMargin,

    "q_pip_per_layer" ->
      s"""$pipOracleCtes
         |SELECT url,
         |  min(CASE WHEN layer = 'countries' THEN rel_id END) AS countries,
         |  min(CASE WHEN layer = 'regions' THEN rel_id END) AS regions,
         |  min(CASE WHEN layer = 'cities' THEN rel_id END) AS cities,
         |  min(CASE WHEN layer = 'water' THEN rel_id END) AS water
         |FROM contained GROUP BY url""".stripMargin,

    "q_pip_missing" ->
      s"""$pipMissingCtes
         |SELECT p.url, p.doc_id, p.lang
         |FROM pages p LEFT JOIN matched m ON p.doc_id = m.doc_id
         |WHERE coalesce(m.nl, 0) < 3""".stripMargin,

    "q_suggestions" ->
      s"""$pipMissingCtes,
         |missing AS (
         |  SELECT p.doc_id FROM pages p LEFT JOIN matched m ON p.doc_id = m.doc_id
         |  WHERE coalesce(m.nl, 0) < 3),
         |relmeta AS (SELECT layer, CAST(rel_id AS BIGINT) AS rel_id, admin_level, name FROM (VALUES
         |    $relMetaValues
         |  ) AS t(layer, rel_id, admin_level, name)),
         |sugg AS (
         |  SELECT c.doc_id, c.url, c.layer, c.rel_id, r.admin_level, r.name
         |  FROM contained c
         |  JOIN missing mi ON mi.doc_id = c.doc_id
         |  JOIN relmeta r ON r.rel_id = c.rel_id),
         |ruled AS (SELECT DISTINCT doc_id FROM contained
         |          WHERE layer = 'countries' AND rel_id = 100)
         |SELECT s.url, s.layer, s.rel_id, s.admin_level, s.name
         |FROM sugg s LEFT JOIN ruled r ON r.doc_id = s.doc_id
         |WHERE r.doc_id IS NULL OR s.layer <> 'cities' OR s.admin_level IN (6)""".stripMargin,

    // kNN: brute-force geodesic top-k with the engine's exact
    // equirectangular formula (Algorithms.geoDistance), ties by url. The
    // same oracle checks BOTH candidate sources: the cached expanding-ring
    // search and the partition-pruned parquet-index variant must return
    // identical rows.
    "q_knn" -> knnOracle,
    "q_knn_pruned" -> knnOracle,
    // DataFrame-state batch path must return the exact same neighbors
    "q_knn_batch" -> knnOracle,

    // Token counting: the whitespace tokenizer shared with langId, plus the
    // BPE-ish GPT-2 pre-tokenization count. RE2 has no lookahead, so the
    // engine's `\\s+(?!\\S)` alternative is replaced by a provably
    // count-equivalent pair: the lookahead-free pattern undercounts by
    // exactly one for every whitespace run of length ≥ 2 whose last char is
    // non-space and which is followed by non-whitespace — counted back by
    // the second regex. (Java's \\s = [ \\t\\n\\x0b\\f\\r], spelled out
    // because RE2's \\s lacks \\x0b.)
    "q_token_counts" ->
      """SELECT doc_id,
        |  CAST(length(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                          x -> x <> '')) AS BIGINT) AS n_tokens_ws,
        |  CAST(length(regexp_extract_all(text,
        |         '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^ \t\n\x0b\f\rA-Za-z0-9]+|[ \t\n\x0b\f\r]+'))
        |     + length(regexp_extract_all(text,
        |         '[ \t\n\x0b\f\r]+[\t\n\x0b\f\r][^ \t\n\x0b\f\r]')) AS BIGINT) AS n_tokens_bpe
        |FROM documents""".stripMargin,

    // Near-dup clustering family: exact word-3-gram Jaccard pairs, their
    // connected components (min-reachable-id via recursive CTE — the
    // oracle for the distributed large-star/small-star), and the
    // longest-text keeper per cluster.
    "q_jaccard_pairs" ->
      s"""$jaccardCtes
         |SELECT doc_a, doc_b,
         |       round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jac
         |FROM pairs""".stripMargin,

    "q_dedup_clusters" ->
      s"""$dedupClusterCtes
         |SELECT n AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
         |FROM reach GROUP BY n""".stripMargin,

    "q_dedup_canonical" ->
      s"""$dedupClusterCtes,
         |comp AS (SELECT n AS doc_id, min(r) AS cluster_id FROM reach GROUP BY n),
         |ranked AS (
         |  SELECT c.cluster_id, d.doc_id,
         |         row_number() OVER (PARTITION BY c.cluster_id
         |                            ORDER BY length(d.text) DESC, d.doc_id) AS rn
         |  FROM comp c JOIN documents d ON d.doc_id = c.doc_id)
         |SELECT CAST(cluster_id AS BIGINT) AS cluster_id, doc_id
         |FROM ranked WHERE rn = 1""".stripMargin,

    // Per-row invariant (input_hint): the engine-extracted text hashes
    // equal to md5 of the SOURCE text column — byte-identity per url.
    "q_extract_text" ->
      s"""WITH pages AS (${Fixtures.pagesCte})
         |SELECT url, md5(text) AS text_md5 FROM pages""".stripMargin,

    // Multimodal metadata: the decode step is a deterministic stub
    // (sandbox has no codecs) whose math — java.util.Arrays.hashCode over
    // the payload bytes, int32 wraparound — is replicated here exactly
    // (payloads are ASCII, so ord(char) == byte). This checks the real
    // plumbing end-to-end: payload construction, batching, schema.
    "q_media_meta" ->
      s"""$mediaHashCtes
         |SELECT url, kind, CAST(byteLen AS BIGINT) AS byteLen,
         |       CAST(width AS INT) AS width, CAST(height AS INT) AS height,
         |       CAST(CASE WHEN kind = 'image' THEN 0
         |                 ELSE 1000 + abs(h) % 600000 END AS BIGINT) AS durationMs
         |FROM meta""".stripMargin,

    // Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003) replicated
    // exactly: 31-polynomial 8-gram hashes over the lowercased text,
    // window-16 sliding minima, distinct count per doc.
    "q_fingerprints" ->
      """WITH t AS (SELECT doc_id, lower(text) AS s FROM documents),
        |w AS (
        |  SELECT doc_id, s,
        |    CASE WHEN length(s) < 8 THEN
        |      [list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          list_transform(generate_series(1, length(s)), j -> CAST(ord(s[j]) AS BIGINT))),
        |        (a, b) -> ((31 * a + b + 2147483648) % 4294967296 + 4294967296) % 4294967296 - 2147483648)]
        |    ELSE
        |      list_transform(generate_series(1, length(s) - 7),
        |        i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |               list_transform(generate_series(0, 7), j -> CAST(ord(s[i + j]) AS BIGINT))),
        |             (a, b) -> ((31 * a + b + 2147483648) % 4294967296 + 4294967296) % 4294967296 - 2147483648))
        |    END AS g
        |  FROM t),
        |m AS (
        |  SELECT doc_id,
        |    CASE WHEN len(g) <= 16 THEN [list_aggregate(g, 'min')]
        |    ELSE list_distinct(list_transform(generate_series(1, len(g) - 15),
        |           i -> list_aggregate(g[i:i+15], 'min')))
        |    END AS fps
        |  FROM w)
        |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp FROM m""".stripMargin,

    // frame sampling over the video-kind payloads (same stub math)
    "q_media_frames" ->
      s"""$mediaHashCtes
         |SELECT url, CAST(ts AS BIGINT) AS frame_ms,
         |       CAST(h * 1000003 + ts AS BIGINT) AS frame_hash
         |FROM (SELECT url, h, unnest(generate_series(0,
         |        1000 + abs(h) % 600000, 60000)) AS ts
         |      FROM meta WHERE kind = 'video')""".stripMargin,

    // Language-ID: stopword-profile argmax, ties by lang DESC (the engine's
    // maxBy on (score, lang)); score = matched/total in exact double math.
    "q_lang_id" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
         |  FROM documents),
         |profiles AS (SELECT * FROM (VALUES $langProfileValues) AS t(lang, ws)),
         |scores AS (
         |  SELECT t.doc_id, p.lang,
         |         CASE WHEN length(t.ts) = 0 THEN 0.0
         |              ELSE CAST(length(list_filter(t.ts, x -> list_contains(p.ws, x))) AS DOUBLE)
         |                   / length(t.ts) END AS score
         |  FROM toks t CROSS JOIN profiles p),
         |best AS (
         |  SELECT doc_id, lang, score,
         |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
         |  FROM scores)
         |SELECT doc_id, CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_pred,
         |       round(score, 6) AS score
         |FROM best WHERE rn = 1""".stripMargin)

  /** Word-3-gram exact-Jaccard pair CTEs: the tokenizer is the engine's
    * whitespace tokenizer; candidate generation in the oracle is all-pairs
    * (fine at oracle scale) but filtered by the same exact Jaccard, so it
    * equals the engine's inverted-index candidates (any pair with jac > 0
    * shares a shingle).
    */
  private def jaccardCtes: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(ts) >= 3 THEN
      |      list_distinct(list_transform(generate_series(1, len(ts) - 2),
      |        i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))
      |    ELSE [] END AS s
      |  FROM toks),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         len(list_intersect(a.s, b.s)) AS inter, len(a.s) AS na, len(b.s) AS nb
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE len(list_intersect(a.s, b.s)) > 0
      |    AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
      |        (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.3)""".stripMargin

  /** jaccardCtes + min-reachable-id closure over the pair graph: the
    * independent (recursive-CTE) ground truth for connected components.
    */
  private def dedupClusterCtes: String =
    s"""WITH RECURSIVE ${jaccardCtes.stripPrefix("WITH ")},
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(n, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.b, r.r FROM reach r JOIN edges e ON e.a = r.n)""".stripMargin

  /** Shared media CTE prefix: payload reconstruction + the exact int32
    * wraparound byte hash + kind/width/height derivation.
    */
  private def mediaHashCtes: String =
    s"""WITH pages AS (${Fixtures.pagesCte}),
       |media AS (
       |  SELECT url, '<html><body>' || text || '</body></html>' AS payload
       |  FROM pages),
       |hashed AS (
       |  SELECT url, payload,
       |    list_reduce(
       |      list_prepend(CAST(1 AS BIGINT),
       |        list_transform(generate_series(1, length(payload)),
       |                       i -> CAST(ord(payload[i]) AS BIGINT))),
       |      (a, b) -> ((31 * a + b + 2147483648) % 4294967296 + 4294967296)
       |                % 4294967296 - 2147483648) AS h
       |  FROM media),
       |meta AS (
       |  SELECT url, h, length(payload) AS byteLen,
       |    CASE h & 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
       |               WHEN 2 THEN 'video' ELSE 'image' END AS kind,
       |    64 + abs(h) % 1024 AS width,
       |    64 + abs(CAST(trunc(h / 7.0) AS BIGINT)) % 1024 AS height
       |  FROM hashed)""".stripMargin

  /** Independent polygon-assembly oracle: areas by exact integer
    * micro-degree shoelace over the INPUT-level rings (CCW-normalized
    * edges — the same edgeValues the PIP oracle uses; holes subtract),
    * bboxes by min/max over the outer-ring vertices — no JTS anywhere.
    * The fixture grid is 6-decimal, so µdeg coordinates are exact int64
    * and the shoelace sum is exact; the Spark side's JTS double area
    * differs from the exact rational by ~1e-12, far inside the 1e-9
    * rounding grain (verified for every fixture row).
    */
  private def polygonsOracle: String = {
    val metaVals = sqlOracleDims.map { case (layer, relId, al, name, _, _) =>
      s"('$layer', $relId, $al, '$name')"
    }.mkString(",\n    ")
    s"""WITH edges AS (SELECT layer, CAST(rel_id AS BIGINT) AS rel_id, role,
       |                 CAST(x1 AS DOUBLE) AS x1, CAST(y1 AS DOUBLE) AS y1,
       |                 CAST(x2 AS DOUBLE) AS x2, CAST(y2 AS DOUBLE) AS y2
       |          FROM (VALUES
       |    ${edgeValues(sqlOracleDims)}
       |  ) AS t(layer, rel_id, role, ring, x1, y1, x2, y2)),
       |meta AS (SELECT layer, CAST(rel_id AS BIGINT) AS rel_id, admin_level, name FROM (VALUES
       |    $metaVals
       |  ) AS t(layer, rel_id, admin_level, name)),
       |areas AS (
       |  SELECT layer, rel_id,
       |         sum((CASE WHEN role = 'outer' THEN 1 ELSE -1 END) *
       |             (CAST(round(x1 * 1000000) AS BIGINT) * CAST(round(y2 * 1000000) AS BIGINT)
       |            - CAST(round(x2 * 1000000) AS BIGINT) * CAST(round(y1 * 1000000) AS BIGINT))) AS a2
       |  FROM edges GROUP BY 1, 2),
       |boxes AS (
       |  SELECT layer, rel_id,
       |         min(least(x1, x2)) AS minx, min(least(y1, y2)) AS miny,
       |         max(greatest(x1, x2)) AS maxx, max(greatest(y1, y2)) AS maxy
       |  FROM edges WHERE role = 'outer' GROUP BY 1, 2)
       |SELECT m.rel_id AS relId, CAST(m.admin_level AS INT) AS adminLevel,
       |       m.layer AS layer, m.name AS name,
       |       round(CAST(a.a2 AS DOUBLE) / 2000000000000.0, 9) AS area,
       |       round(b.minx, 6) AS minx, round(b.miny, 6) AS miny,
       |       round(b.maxx, 6) AS maxx, round(b.maxy, 6) AS maxy
       |FROM meta m
       |JOIN areas a ON a.layer = m.layer AND a.rel_id = m.rel_id
       |JOIN boxes b ON b.layer = m.layer AND b.rel_id = m.rel_id""".stripMargin
  }

  /** Independent rasterize oracle (q_raster_cells): every level-10 cell
    * whose closed lon/lat rectangle intersects a cities octagon, computed
    * from the INPUT rings only.
    *
    *  - candidates: the ring bbox's level-10 grid range, padded one cell
    *    each side (floor ties at a shared boundary still touch);
    *  - intersection: the separating-axis test over closed intervals —
    *    exact for convex polygon × axis-aligned box, same closed-set
    *    semantics as the engine's JTS `intersects` (Tiling.rasterize →
    *    Coverer.coverExact at minLevel=maxLevel=10);
    *  - cell id: the engine's Hilbert encoding replayed bit-for-bit by a
    *    recursive-CTE walk over Cell.hilbertStateRows — level-10 grid
    *    coords feed the same 10-step state machine, then
    *    id = (h << 41) | (1 << 40) (Cell.fromHilbert at level 10).
    */
  private def rasterOracle: String = {
    val cityEdges = edgeValues(Fixtures.oracleDims.filter(_._1 == "cities"))
    val stRows = graft.cells.Cell.hilbertStateRows
      .map { case (o, i, j, pos, no) => s"($o, $i, $j, $pos, $no)" }.mkString(", ")
    s"""WITH RECURSIVE
       |edges AS (SELECT layer, CAST(rel_id AS BIGINT) AS rel_id,
       |                 CAST(x1 AS DOUBLE) AS x1, CAST(y1 AS DOUBLE) AS y1,
       |                 CAST(x2 AS DOUBLE) AS x2, CAST(y2 AS DOUBLE) AS y2
       |          FROM (VALUES
       |    $cityEdges
       |  ) AS t(layer, rel_id, role, ring, x1, y1, x2, y2)),
       |verts AS (SELECT rel_id, x1 AS vx, y1 AS vy FROM edges),
       |bbox AS (
       |  SELECT layer, rel_id, min(x1) AS bx0, max(x1) AS bx1, min(y1) AS by0, max(y1) AS by1
       |  FROM edges GROUP BY 1, 2),
       |candx AS (
       |  SELECT layer, rel_id, by0, by1, bx0, bx1,
       |         unnest(generate_series(
       |           greatest(CAST(0 AS BIGINT), CAST(floor((bx0 + 180.0) / 360.0 * 1024) AS BIGINT) - 1),
       |           least(CAST(1023 AS BIGINT), CAST(floor((bx1 + 180.0) / 360.0 * 1024) AS BIGINT) + 1))) AS cx
       |  FROM bbox),
       |cand AS (
       |  SELECT layer, rel_id, cx,
       |         unnest(generate_series(
       |           greatest(CAST(0 AS BIGINT), CAST(floor((by0 + 90.0) / 180.0 * 1024) AS BIGINT) - 1),
       |           least(CAST(1023 AS BIGINT), CAST(floor((by1 + 90.0) / 180.0 * 1024) AS BIGINT) + 1))) AS cy
       |  FROM candx),
       |rects AS (
       |  SELECT layer, rel_id, cx, cy,
       |         cx / 1024.0 * 360.0 - 180.0 AS rx0, (cx + 1) / 1024.0 * 360.0 - 180.0 AS rx1,
       |         cy / 1024.0 * 180.0 - 90.0 AS ry0, (cy + 1) / 1024.0 * 180.0 - 90.0 AS ry1
       |  FROM cand),
       |eproj AS (
       |  SELECT e.rel_id, -(e.y2 - e.y1) AS a, (e.x2 - e.x1) AS b,
       |         min(-(e.y2 - e.y1) * v.vx + (e.x2 - e.x1) * v.vy) AS pmin,
       |         max(-(e.y2 - e.y1) * v.vx + (e.x2 - e.x1) * v.vy) AS pmax
       |  FROM edges e JOIN verts v ON v.rel_id = e.rel_id
       |  GROUP BY e.rel_id, e.x1, e.y1, e.x2, e.y2),
       |sep AS (
       |  SELECT DISTINCT r.rel_id, r.cx, r.cy
       |  FROM rects r JOIN eproj e ON e.rel_id = r.rel_id
       |  WHERE greatest(e.pmin, least(e.a * r.rx0, e.a * r.rx1) + least(e.b * r.ry0, e.b * r.ry1))
       |      > least(e.pmax, greatest(e.a * r.rx0, e.a * r.rx1) + greatest(e.b * r.ry0, e.b * r.ry1))),
       |hit AS (
       |  SELECT r.layer, r.rel_id, r.cx, r.cy
       |  FROM rects r JOIN bbox b ON b.rel_id = r.rel_id
       |  WHERE greatest(r.rx0, b.bx0) <= least(r.rx1, b.bx1)
       |    AND greatest(r.ry0, b.by0) <= least(r.ry1, b.by1)
       |    AND NOT EXISTS (SELECT 1 FROM sep s
       |                    WHERE s.rel_id = r.rel_id AND s.cx = r.cx AND s.cy = r.cy)),
       |st AS (SELECT * FROM (VALUES $stRows) AS t(o, i, j, pos, no)),
       |walk(layer, rel_id, cx, cy, k, h, o) AS (
       |  SELECT layer, rel_id, cx, cy, 9, CAST(0 AS BIGINT), 0 FROM hit
       |  UNION ALL
       |  SELECT w.layer, w.rel_id, w.cx, w.cy, w.k - 1, w.h * 4 + st.pos, st.no
       |  FROM walk w JOIN st ON st.o = w.o
       |   AND st.i = CAST((w.cx >> w.k) & 1 AS INT)
       |   AND st.j = CAST((w.cy >> w.k) & 1 AS INT)
       |  WHERE w.k >= 0)
       |SELECT rel_id AS relId, layer, h * 2199023255552 + 1099511627776 AS cellId
       |FROM walk WHERE k = -1""".stripMargin
  }

  /** Independent raw-topology oracle (q_topo_arcs_raw): junction
    * detection, ring cutting and shared-arc dedup recomputed by DuckDB
    * from the INPUT split-octagon rings — no recursion needed, because
    * with junction positions known the cut is per-ring list arithmetic:
    *
    *  - junctions: the TopoJSON "join" rule — a vertex key occurs with
    *    more than one distinct unordered neighbor pair; keys and pairs are
    *    the engine's exact "x:y" / "a|b" strings (both engines print
    *    doubles in shortest round-trip form at these magnitudes);
    *  - cutting: rings with junctions rotate to their first junction
    *    position and split at junction positions; junction-free rings
    *    rotate to their minimal vertex key (STRING order — binary
    *    collation equals Java char order on these ASCII keys) and emit one
    *    closed arc;
    *  - canonicalization: an arc's key is md5 of the lexicographic min of
    *    its forward/reverse ';'-joined serialization — the engine's exact
    *    dedup key — and arcIds are the rank of the md5 hex in ascending
    *    order, which is precisely what the engine's
    *    range-partition + sort + zipWithIndex assigns;
    *  - n_pts / n_uses / bbox are recomputed per canonical arc; with no
    *    clip, simplify or quantize every coordinate is an input double, so
    *    the compare is exact (no rounding anywhere).
    */
  /** Shared CTE prefix for the raw-topology oracles: input verts →
    * junction detect → cut → canonical per-(obj,seg) serialization with
    * orientation flag (`rv` — the engine's `reversed`), dedup key. Ends at
    * the `keyed` CTE; both consumers append their own aggregation.
    */
  private def rawTopoCtes: String = rawTopoCtesFor(Fixtures.splitOctagons)

  /** The same CTE prefix over an arbitrary ring fixture (the DP oracle
    * runs it over [[Fixtures.dpRects]]).
    */
  private def rawTopoCtesFor(fix: Seq[(Long, IndexedSeq[(Double, Double)])]): String = {
    // Literals are emitted as QUOTED strings and parsed via
    // CAST(VARCHAR AS DOUBLE): a bare decimal literal inside VALUES
    // unifies the column to a wide DECIMAL whose DECIMAL→DOUBLE
    // conversion is not correctly rounded (observed 1-ulp drift, e.g.
    // 139.6833984375 → 0x…667 instead of the nearest 0x…666), while
    // string→double parsing is — so this is the only way the oracle sees
    // bit-identical input doubles on non-dyadic fixtures like dpRects.
    def d(v: Double): String = "'" + java.lang.Double.toString(v) + "'"
    // OPEN ring vertices (drop the closing duplicate), in ring order
    val rows = fix.flatMap { case (objId, ring) =>
      ring.dropRight(1).zipWithIndex.map { case ((x, y), i) => s"($objId, $i, ${d(x)}, ${d(y)})" }
    }.mkString(",\n    ")
    val maxN = fix.map(_._2.length).max // closed length ≥ open+1
    topoCtesOverVerts(
      s"""WITH verts AS (SELECT CAST(obj AS BIGINT) AS obj, i,
         |                      CAST(x AS DOUBLE) AS x, CAST(y AS DOUBLE) AS y
         |               FROM (VALUES
         |    $rows
         |  ) AS t(obj, i, x, y))""".stripMargin, maxN)
  }

  /** The junction-detect → cut → canonicalize CTE chain over ANY prefix
    * ending in a `verts(obj, i, x, y)` CTE (one ring per obj, OPEN
    * vertices in ring order) — the literal-fixture oracles pass VALUES,
    * the clip oracle passes a verts table computed in SQL from interval
    * subtraction. `maxN` bounds the closed ring length.
    */
  private def topoCtesOverVerts(vertsPrefix: String, maxN: Int): String = {
    s"""$vertsPrefix,
       |ks AS (SELECT unnest(generate_series(0, $maxN)) AS i),
       |nn AS (SELECT obj, count(*) AS n FROM verts GROUP BY obj),
       |pk AS (SELECT obj, i, x, y,
       |              CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR) AS k FROM verts),
       |pts AS (
       |  SELECT p.obj, p.i, p.k,
       |         CASE WHEN pp.k <= pn.k THEN pp.k || '|' || pn.k
       |              ELSE pn.k || '|' || pp.k END AS pair
       |  FROM pk p
       |  JOIN nn ON nn.obj = p.obj
       |  JOIN pk pp ON pp.obj = p.obj AND pp.i = (p.i - 1 + nn.n) % nn.n
       |  JOIN pk pn ON pn.obj = p.obj AND pn.i = (p.i + 1) % nn.n),
       |jpts AS (SELECT k FROM pts GROUP BY k HAVING count(DISTINCT pair) > 1),
       |ringj AS (
       |  SELECT nn.obj, nn.n,
       |         coalesce((SELECT list(p.i ORDER BY p.i) FROM pts p JOIN jpts j ON j.k = p.k
       |                   WHERE p.obj = nn.obj), CAST([] AS INTEGER[])) AS jidx
       |  FROM nn),
       |starts AS (
       |  SELECT r.obj, r.n, r.jidx,
       |         CASE WHEN len(r.jidx) = 0
       |              THEN (SELECT p.i FROM pk p WHERE p.obj = r.obj ORDER BY p.k, p.i LIMIT 1)
       |              ELSE r.jidx[1] END AS start
       |  FROM ringj r),
       |cutpos AS (
       |  SELECT s.obj, s.n, s.start, list(g.i ORDER BY g.i) AS cuts
       |  FROM starts s JOIN ks g ON g.i <= s.n
       |  WHERE g.i = 0 OR g.i = s.n OR list_contains(s.jidx, CAST((s.start + g.i) % s.n AS INTEGER))
       |  GROUP BY s.obj, s.n, s.start),
       |segs AS (
       |  SELECT c.obj, c.n, c.start, u.si - 1 AS seg, c.cuts[u.si] AS a, c.cuts[u.si + 1] AS b
       |  FROM cutpos c, LATERAL (SELECT unnest(generate_series(1, len(c.cuts) - 1)) AS si) u),
       |segpts AS (
       |  SELECT s.obj, s.seg, g.i - s.a AS pos, p.k, p.x, p.y
       |  FROM segs s JOIN ks g ON g.i >= s.a AND g.i <= s.b
       |  JOIN pk p ON p.obj = s.obj AND p.i = (s.start + g.i) % s.n),
       |canon AS (
       |  SELECT obj, seg,
       |         string_agg(k, ';' ORDER BY pos) AS fwd,
       |         string_agg(k, ';' ORDER BY pos DESC) AS rev,
       |         count(*) AS n_pts,
       |         min(x) AS minx, min(y) AS miny, max(x) AS maxx, max(y) AS maxy
       |  FROM segpts GROUP BY obj, seg),
       |keyed AS (SELECT obj, seg, md5(least(fwd, rev)) AS key, (rev < fwd) AS rv,
       |                 least(fwd, rev) AS ser,
       |                 n_pts, minx, miny, maxx, maxy FROM canon)""".stripMargin
  }

  private def rawTopoOracle: String =
    s"""$rawTopoCtes,
       |arcs AS (
       |  SELECT key, any_value(n_pts) AS n_pts, count(*) AS n_uses,
       |         any_value(minx) AS minx, any_value(miny) AS miny,
       |         any_value(maxx) AS maxx, any_value(maxy) AS maxy
       |  FROM keyed GROUP BY key)
       |SELECT CAST(row_number() OVER (ORDER BY key) - 1 AS BIGINT) AS arcId,
       |       CAST(n_pts AS BIGINT) AS n_pts, minx, miny, maxx, maxy,
       |       CAST(n_uses AS BIGINT) AS n_uses
       |FROM arcs""".stripMargin

  /** Independent quantize + delta-encode oracle (q_topo_arcs_raw_q): the
    * P9 stage (TopoPipeline.topology's arcsQ map) replayed over the raw
    * split-octagon topology at quantize=1e4. Every pre-quantize coordinate
    * is an input double and the transform is closed-form, so DuckDB
    * recomputes the ENTIRE encoded output — per-arc quantized positions,
    * consecutive-duplicate drop, <2-position fallback, delta chain — and
    * the compare pins it character-for-character (the deltas column is the
    * full encoded chain):
    *
    *  - the extent is min/max over ALL input vertices (with no simplify,
    *    the unique arcs' point set is exactly the input vertex set);
    *  - kx = (1e4 - 1)/(x1 - x0) and the quantized position
    *    floor((x - x0)*kx + 0.5) replicate the engine's IEEE doubles and
    *    Java Math.round exactly (both engines: same subtract, multiply,
    *    floor; DuckDB's round() would differ on half-way cases, so the
    *    oracle spells out floor(v + 0.5));
    *  - each canonical arc's point order comes from one representative
    *    (obj, seg) use flipped by the engine's `reversed` flag (rv);
    *  - arcIds are the md5-hex rank, as in q_topo_arcs_raw.
    *
    * With this green, JTS overlay (clip/buffer(0)) is the ONLY stage of
    * the topology family without an independent second-engine oracle.
    */
  private def rawTopoQOracle: String =
    s"""$rawTopoCtes,
       |rep AS (
       |  SELECT key, obj, seg FROM (
       |    SELECT key, obj, seg,
       |           row_number() OVER (PARTITION BY key ORDER BY obj, seg) AS rn
       |    FROM keyed) WHERE rn = 1),
       |ext AS (SELECT min(x) AS x0, max(x) AS x1, min(y) AS y0, max(y) AS y1 FROM verts),
       |tf AS (SELECT x0, y0,
       |              CASE WHEN x1 > x0 THEN (10000.0 - 1) / (x1 - x0) ELSE 1.0 END AS kx,
       |              CASE WHEN y1 > y0 THEN (10000.0 - 1) / (y1 - y0) ELSE 1.0 END AS ky
       |       FROM ext),
       |cpts AS (
       |  SELECT r.key,
       |         CASE WHEN k2.rv THEN k2.n_pts - 1 - sp.pos ELSE sp.pos END AS cpos,
       |         CAST(floor((sp.x - tf.x0) * tf.kx + 0.5) AS BIGINT) AS qx,
       |         CAST(floor((sp.y - tf.y0) * tf.ky + 0.5) AS BIGINT) AS qy
       |  FROM rep r
       |  JOIN keyed k2 ON k2.obj = r.obj AND k2.seg = r.seg
       |  JOIN segpts sp ON sp.obj = r.obj AND sp.seg = r.seg
       |  CROSS JOIN tf),
       |ql AS (SELECT key, list(STRUCT_PACK(qx := qx, qy := qy) ORDER BY cpos) AS l
       |       FROM cpts GROUP BY key),
       |qd AS (SELECT key, l,
       |              list_filter(l, (p, i) -> i = 1 OR p != l[i - 1]) AS kept0
       |       FROM ql),
       |qk AS (SELECT key,
       |              CASE WHEN len(kept0) < 2 THEN [l[1], l[len(l)]] ELSE kept0 END AS kept
       |       FROM qd),
       |enc AS (
       |  SELECT key, len(kept) AS n_q,
       |         array_to_string(list_transform(generate_series(1, len(kept)), i ->
       |           CASE WHEN i = 1
       |                THEN CAST(kept[1].qx AS VARCHAR) || ',' || CAST(kept[1].qy AS VARCHAR)
       |                ELSE CAST(kept[i].qx - kept[i-1].qx AS VARCHAR) || ',' ||
       |                     CAST(kept[i].qy - kept[i-1].qy AS VARCHAR) END), ';') AS deltas
       |  FROM qk)
       |SELECT CAST(row_number() OVER (ORDER BY key) - 1 AS BIGINT) AS arcId,
       |       CAST(n_q AS BIGINT) AS n_q, deltas
       |FROM enc""".stripMargin

  /** Independent Douglas-Peucker oracle (q_topo_arcs_dp): the P5/P8 DP
    * simplification stage (TopoPipeline.topology's per-arc
    * `Algorithms.douglasPeucker` at tolerance 10⁻²) replayed in full by a
    * DuckDB recursive CTE over the split-rectangle fixture
    * ([[Fixtures.dpRects]] — jittered so the keep/drop decision is
    * nontrivial on every boundary arc). The walk carries each arc's
    * interval work-list as a list column (the coverOracle technique) and
    * pops one interval per step:
    *
    *  - the split point replicates the engine's argmax with its
    *    first-index tie-break (`d > maxD` keeps the FIRST maximum →
    *    ORDER BY d DESC, i ASC LIMIT 1);
    *  - children with no interior (hi = lo+1) are filtered at push time
    *    (the engine pops and no-ops them; same keep set);
    *  - kept coordinates are INPUT doubles passed through untouched, so
    *    the compare is exact — only the keep-set decision involves
    *    arithmetic. One documented seam: the engine's point-to-segment
    *    distance ends in Math.hypot, the SQL in sqrt(dx²+dy²); they can
    *    differ in the last ulp, which could flip a comparison only if a
    *    distance lands within ~1 ulp of the tolerance or of another
    *    point's distance — the jittered fixture keeps every margin ≳1e-3,
    *    and the replay is deterministic (fixture-driven, sf-independent);
    *  - arcIds are the md5-hex rank, as in q_topo_arcs_raw; positions are
    *    canonical-orientation ranks of the kept points.
    *
    * With this green, every stage of the topology family EXCEPT the JTS
    * overlay clip (difference/buffer(0) robust noding — not replayable by
    * a second engine) has an independent oracle: junction/cut/dedup
    * (q_topo_arcs_raw), DP simplify (this), quantize+delta
    * (q_topo_arcs_raw_q), objects/slices/export arithmetic
    * (q_topo_objects/q_topo_slices).
    */
  private def dpTopoOracle: String = {
    val tol = java.lang.Double.toString(math.pow(10, -2)) // bit-exact engine tolerance
    val dExpr =
      """sqrt(pow(c.x - (a.x + greatest(0.0, least(1.0,
        |               ((c.x - a.x) * (b.x - a.x) + (c.y - a.y) * (b.y - a.y)) /
        |               ((b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y)))) * (b.x - a.x)), 2) +
        |     pow(c.y - (a.y + greatest(0.0, least(1.0,
        |               ((c.x - a.x) * (b.x - a.x) + (c.y - a.y) * (b.y - a.y)) /
        |               ((b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y)))) * (b.y - a.y)), 2))""".stripMargin
    // the shared prefix opens with WITH; the walk CTE needs RECURSIVE
    s"""${rawTopoCtesFor(Fixtures.dpRects).replaceFirst("^WITH ", "WITH RECURSIVE ")},
       |rep AS (
       |  SELECT key, obj, seg FROM (
       |    SELECT key, obj, seg,
       |           row_number() OVER (PARTITION BY key ORDER BY obj, seg) AS rn
       |    FROM keyed) WHERE rn = 1),
       |cpts AS (
       |  SELECT r.key,
       |         CAST(CASE WHEN k2.rv THEN k2.n_pts - 1 - sp.pos ELSE sp.pos END AS INTEGER) AS cpos,
       |         sp.x, sp.y
       |  FROM rep r
       |  JOIN keyed k2 ON k2.obj = r.obj AND k2.seg = r.seg
       |  JOIN segpts sp ON sp.obj = r.obj AND sp.seg = r.seg),
       |alen AS (SELECT key, count(*) AS n FROM cpts GROUP BY key),
       |walk(key, stack, keep) AS (
       |  SELECT key,
       |         CASE WHEN n > 2
       |              THEN [STRUCT_PACK(lo := 0, hi := CAST(n - 1 AS INTEGER))]
       |              ELSE CAST([] AS STRUCT(lo INTEGER, hi INTEGER)[]) END,
       |         [0, CAST(n - 1 AS INTEGER)]
       |  FROM alen
       |  UNION ALL
       |  SELECT w.key,
       |         list_concat(q.rest,
       |           CASE WHEN m.d > $tol
       |                THEN list_filter([STRUCT_PACK(lo := q.lo, hi := m.i),
       |                                  STRUCT_PACK(lo := m.i, hi := q.hi)],
       |                                 s -> s.hi > s.lo + 1)
       |                ELSE CAST([] AS STRUCT(lo INTEGER, hi INTEGER)[]) END),
       |         CASE WHEN m.d > $tol THEN list_append(w.keep, m.i) ELSE w.keep END
       |  FROM walk w,
       |  LATERAL (SELECT w.stack[1].lo AS lo, w.stack[1].hi AS hi,
       |                  array_slice(w.stack, 2, len(w.stack)) AS rest) q,
       |  LATERAL (SELECT c.cpos AS i,
       |                  $dExpr AS d
       |           FROM cpts c
       |           JOIN cpts a ON a.key = w.key AND a.cpos = q.lo
       |           JOIN cpts b ON b.key = w.key AND b.cpos = q.hi
       |           WHERE c.key = w.key AND c.cpos > q.lo AND c.cpos < q.hi
       |           ORDER BY d DESC, i ASC LIMIT 1) m
       |  WHERE len(w.stack) > 0),
       |kept AS (SELECT key, unnest(keep) AS i FROM walk WHERE len(stack) = 0),
       |ids AS (SELECT key, row_number() OVER (ORDER BY key) - 1 AS arcId FROM alen)
       |SELECT CAST(d.arcId AS BIGINT) AS arcId,
       |       CAST(row_number() OVER (PARTITION BY k.key ORDER BY k.i) - 1 AS BIGINT) AS pos,
       |       c.x, c.y
       |FROM kept k
       |JOIN cpts c ON c.key = k.key AND c.cpos = k.i
       |JOIN ids d ON d.key = k.key""".stripMargin
  }

  /** Independent overlay-clip oracle (q_topo_clip_rect) — retires the
    * last non-oracled topology stage. The engine runs the REAL P6/P7
    * path (prepWater buffer(0) → bbox prefilter → prepared-intersects →
    * sequential JTS `difference` in water-id order,
    * geometries.go:207-267) over [[Fixtures.clipRectFeatures]] ×
    * [[Fixtures.clipRectWater]] and feeds the clipped geometry into the
    * raw topology build; DuckDB recomputes the SAME clipped rings with
    * no geometry engine at all:
    *
    *  - every water strip overlapping a feature spans the feature's full
    *    x-range (fixture invariant), so each feature's clip is exactly
    *    1-D interval subtraction on y: candidate strips clamp to the
    *    feature's y-range, zero-length leftovers drop, and the remaining
    *    horizontal bands between strips are the clipped rectangles —
    *    order-independent, which the engine's wid-ordered sequential
    *    fold then matches by construction;
    *  - on this all-integer rectilinear input JTS emits each band as a
    *    clean 5-point rectangle ring with exact integer coordinates (no
    *    retained noding vertices — empirically pinned by the fixture
    *    design and this oracle's hash compare), so the SQL can generate
    *    the 4 open corner vertices per band directly;
    *  - the generated rings then flow through the SAME topology CTE
    *    chain as q_topo_arcs_raw (junction detect → cut → canonical
    *    min(fwd,rev) serialization → md5-rank arcIds); features 1|2
    *    share the edge x=10 under one global strip, so the replay also
    *    pins junction-cut + shared-arc dedup over overlay OUTPUT;
    *  - the compare is total: per arc the full canonical coordinate
    *    serialization (every double the overlay produced), point count,
    *    use count, and the sorted list of using feature ids.
    */
  private def clipRectOracle: String = {
    def d(v: Double): String = "'" + java.lang.Double.toString(v) + "'"
    val featRows = sources.Fixtures.clipRectFeatures.map { case (o, x0, y0, x1, y1) =>
      s"($o, ${d(x0)}, ${d(y0)}, ${d(x1)}, ${d(y1)})"
    }.mkString(",\n    ")
    val watRows = sources.Fixtures.clipRectWater.map { case (w, x0, y0, x1, y1) =>
      s"($w, ${d(x0)}, ${d(y0)}, ${d(x1)}, ${d(y1)})"
    }.mkString(",\n    ")
    val prefix =
      s"""WITH featv AS (SELECT CAST(obj AS BIGINT) AS obj,
         |                      CAST(fx0 AS DOUBLE) AS fx0, CAST(fy0 AS DOUBLE) AS fy0,
         |                      CAST(fx1 AS DOUBLE) AS fx1, CAST(fy1 AS DOUBLE) AS fy1
         |               FROM (VALUES
         |    $featRows
         |  ) AS t(obj, fx0, fy0, fx1, fy1)),
         |watv AS (SELECT CAST(wid AS BIGINT) AS wid,
         |                CAST(wx0 AS DOUBLE) AS wx0, CAST(wy0 AS DOUBLE) AS wy0,
         |                CAST(wx1 AS DOUBLE) AS wx1, CAST(wy1 AS DOUBLE) AS wy1
         |         FROM (VALUES
         |    $watRows
         |  ) AS t(wid, wx0, wy0, wx1, wy1)),
         |ivals AS (
         |  SELECT f.obj, greatest(w.wy0, f.fy0) AS lo, least(w.wy1, f.fy1) AS hi
         |  FROM featv f JOIN watv w
         |    ON f.fx0 <= w.wx1 AND f.fx1 >= w.wx0 AND f.fy0 <= w.wy1 AND f.fy1 >= w.wy0
         |  WHERE least(w.wy1, f.fy1) > greatest(w.wy0, f.fy0)),
         |pieces AS (
         |  SELECT f.obj, f.fx0, f.fx1, f.fy0, f.fy1, i.lo, i.hi,
         |         lag(i.hi) OVER (PARTITION BY f.obj ORDER BY i.lo) AS prev_hi
         |  FROM featv f JOIN ivals i ON i.obj = f.obj),
         |bands_all AS (
         |  SELECT obj, fx0, fx1, coalesce(prev_hi, fy0) AS y0, lo AS y1 FROM pieces
         |  UNION ALL
         |  SELECT obj, any_value(fx0), any_value(fx1), max(hi), any_value(fy1)
         |  FROM pieces GROUP BY obj
         |  UNION ALL
         |  SELECT f.obj, f.fx0, f.fx1, f.fy0, f.fy1 FROM featv f
         |  WHERE NOT EXISTS (SELECT 1 FROM ivals i WHERE i.obj = f.obj)),
         |bands AS (
         |  SELECT obj, fx0, fx1, y0, y1,
         |         row_number() OVER (PARTITION BY obj ORDER BY y0) - 1 AS band
         |  FROM bands_all WHERE y1 > y0),
         |verts AS (
         |  SELECT b.obj * 100 + b.band AS obj, u.i,
         |         CASE WHEN u.i IN (0, 3) THEN b.fx0 ELSE b.fx1 END AS x,
         |         CASE WHEN u.i IN (0, 1) THEN b.y0 ELSE b.y1 END AS y
         |  FROM bands b, (SELECT unnest(generate_series(0, 3)) AS i) u)""".stripMargin
    s"""${topoCtesOverVerts(prefix, maxN = 5)},
       |arcs AS (
       |  SELECT key, any_value(ser) AS pts, any_value(n_pts) AS n_pts,
       |         count(*) AS n_uses,
       |         string_agg(CAST(obj // 100 AS VARCHAR), ',' ORDER BY obj // 100) AS objs
       |  FROM keyed GROUP BY key)
       |SELECT CAST(row_number() OVER (ORDER BY key) - 1 AS BIGINT) AS arcId,
       |       pts, CAST(n_pts AS BIGINT) AS n_pts, CAST(n_uses AS BIGINT) AS n_uses, objs
       |FROM arcs""".stripMargin
  }

  /** Membership oracle for the CURVED overlay clip (q_topo_clip_member /
    * the redefined q_topo_arcs): the expected classification of every
    * fixture probe is re-derived by DuckDB from the INPUT rings alone —
    * even-odd ray-cast parity over the feature's rings AND NOT parity
    * over the classified water rings (ocean outer + island hole) — while
    * the Spark side ray-casts the same probes against the rings the
    * ENGINE emitted. Nothing engine-derived is embedded: probes, feature
    * edges and water edges are all fixture constants (quoted-string
    * doubles; correctly-rounded parse on both sides). The ray-cast is the
    * same half-open convention q_cell_covers' oracle replicates
    * IEEE-op-for-op; probes sit ≥ eps from every input edge, so the two
    * conventions cannot disagree on a correct clip, and any wrong clip
    * that moves a boundary by more than the probe pitch flips at least
    * one row. Reference clip semantics: osmtopo/geometries.go:207-267.
    */
  private def memberOracle(probes: Seq[(Long, Long, Double, Double)]): String = {
    def d(v: Double): String = "'" + java.lang.Double.toString(v) + "'"
    val probeRows = probes.map { case (o, k, x, y) => s"($o, $k, ${d(x)}, ${d(y)})" }
      .mkString(",\n    ")
    val featRows = Fixtures.memberFeatureRings.flatMap { case (obj, rings) =>
      rings.flatMap(_.sliding(2).map(sg =>
        s"($obj, ${d(sg(0)._1)}, ${d(sg(0)._2)}, ${d(sg(1)._1)}, ${d(sg(1)._2)})"))
    }.mkString(",\n    ")
    val watRows = Fixtures.memberWaterRings.flatMap(_.sliding(2).map(sg =>
      s"(${d(sg(0)._1)}, ${d(sg(0)._2)}, ${d(sg(1)._1)}, ${d(sg(1)._2)})")).mkString(",\n    ")
    def parity(tbl: String, bind: String): String =
      s"""((SELECT count(*) FROM $tbl e WHERE $bind((e.y2 > p.py) <> (e.y1 > p.py))
         |             AND p.px < (e.x1 - e.x2) * (p.py - e.y2) / (e.y1 - e.y2) + e.x2) % 2 = 1)""".stripMargin
    s"""WITH probes AS (SELECT CAST(obj AS BIGINT) AS obj, CAST(pid AS BIGINT) AS pid,
       |                       CAST(px AS DOUBLE) AS px, CAST(py AS DOUBLE) AS py
       |                FROM (VALUES
       |    $probeRows
       |  ) AS t(obj, pid, px, py)),
       |fe AS (SELECT CAST(obj AS BIGINT) AS obj,
       |              CAST(x1 AS DOUBLE) AS x1, CAST(y1 AS DOUBLE) AS y1,
       |              CAST(x2 AS DOUBLE) AS x2, CAST(y2 AS DOUBLE) AS y2
       |       FROM (VALUES
       |    $featRows
       |  ) AS t(obj, x1, y1, x2, y2)),
       |we AS (SELECT CAST(x1 AS DOUBLE) AS x1, CAST(y1 AS DOUBLE) AS y1,
       |              CAST(x2 AS DOUBLE) AS x2, CAST(y2 AS DOUBLE) AS y2
       |       FROM (VALUES
       |    $watRows
       |  ) AS t(x1, y1, x2, y2))
       |SELECT p.obj AS objId, p.pid AS probe_id, p.px, p.py,
       |       CAST(CASE WHEN ${parity("fe", "e.obj = p.obj AND ")}
       |                  AND NOT ${parity("we", "")}
       |            THEN 1 ELSE 0 END AS BIGINT) AS inside
       |FROM probes p""".stripMargin
  }

  /** Independent IVF-ANN oracle (q_ann_ivf): the ENTIRE
    * Similarity.ivfTopK chain — seeded init (lowest-√n vec_ids), two
    * Lloyd rounds, nProbe=4 probe, exact re-rank — recomputed by DuckDB
    * from the embeddings table. This was unreachable while Lloyd means
    * were double `avg` (shuffle-order-dependent); the round-4 switch to
    * DECIMAL-exact sums made the index a pure function of the data that a
    * second engine can replay:
    *
    *  - assignment argmax is the engine's lexicographic struct max over
    *    (csim, -centroid_id) — same struct-comparison semantics in DuckDB;
    *  - means replicate Spark's decimal path: the double→DECIMAL(38,20)
    *    cast goes through the SHORTEST string representation in both
    *    engines (Spark's Cast uses BigDecimal.valueOf(Double.toString);
    *    DuckDB's VARCHAR cast prints the same shortest repr), the sum is
    *    exact, and the divide-then-cast-to-double agrees to within 1 ulp
    *    at these magnitudes (q_decimal_canary MEASURED it: 3 of 448
    *    cluster-sized per-dim means differ in the last double bit at
    *    sf0.001 — round(cos, 6) and the argmax absorb that, which is why
    *    this oracle is row-identical at sf0.001/0.01/0.1; the canary
    *    pins the arithmetic at 12 decimals so semantic drift in either
    *    engine fails loudly there first);
    *  - cosine is dot/(|a||b|) with the engine's zero-norm guard; the
    *    final cos rounds to 6, and candidate-set identity (not just
    *    rounded ranks) is what the row hash pins.
    *
    * Iterations are unrolled literally (the engine default is 2); if
    * `ivfIndex`'s default ever changes this generator must follow.
    */
  private def ivfOracle: String = {
    def assign(cents: String, out: String): String =
      s"""$out AS (
         |  SELECT vec_id, vec, nrm, -(best.nid) AS centroid_id
         |  FROM (
         |    SELECT e.vec_id, any_value(e.vec) AS vec, any_value(e.nrm) AS nrm,
         |           max({'csim': CASE WHEN e.nrm = 0 OR c.cnrm = 0 THEN 0.0
         |                    ELSE list_dot_product(e.vec, c.cvec) / (e.nrm * c.cnrm) END,
         |                 'nid': -c.centroid_id}) AS best
         |    FROM emb e CROSS JOIN $cents c
         |    GROUP BY e.vec_id))""".stripMargin
    def means(a: String, out: String): String =
      s"""$out AS (
         |  SELECT centroid_id,
         |         list_transform(list_sort(list_zip(list(dim), list(m))), p -> p[2]) AS cvec
         |  FROM (
         |    SELECT centroid_id, dim,
         |           CAST(sum(CAST(CAST(x AS VARCHAR) AS DECIMAL(38,20))) / count(*) AS DOUBLE) AS m
         |    FROM (SELECT centroid_id, unnest(generate_series(1, len(vec))) AS dim,
         |                 unnest(vec) AS x
         |          FROM $a)
         |    GROUP BY centroid_id, dim)
         |  GROUP BY centroid_id),
         |${out}n AS (SELECT centroid_id, cvec,
         |            sqrt(list_sum(list_transform(cvec, v -> v * v))) AS cnrm FROM $out)""".stripMargin
    s"""WITH emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
       |         sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), v -> v * v))) AS nrm
       |  FROM embeddings),
       |kk AS (SELECT greatest(16, CAST(floor(sqrt(count(*))) AS INT)) AS k FROM emb),
       |c0 AS (SELECT vec_id AS centroid_id, vec AS cvec,
       |              sqrt(list_sum(list_transform(vec, v -> v * v))) AS cnrm
       |       FROM (SELECT * FROM emb ORDER BY vec_id LIMIT (SELECT k FROM kk))),
       |${assign("c0", "a0")},
       |${means("a0", "c1")},
       |${assign("c1n", "a1")},
       |${means("a1", "c2")},
       |${assign("c2n", "a2")},
       |qs AS (SELECT vec_id AS query_id, vec AS qvec, nrm AS qnrm FROM a2 WHERE vec_id BETWEEN 0 AND 9),
       |probed AS (
       |  SELECT query_id, qvec, qnrm, centroid_id
       |  FROM (
       |    SELECT q.query_id, q.qvec, q.qnrm, c.centroid_id,
       |           row_number() OVER (PARTITION BY q.query_id ORDER BY
       |             (CASE WHEN q.qnrm = 0 OR c.cnrm = 0 THEN 0.0
       |                   ELSE list_dot_product(q.qvec, c.cvec) / (q.qnrm * c.cnrm) END) DESC,
       |             c.centroid_id) AS rn
       |    FROM qs q CROSS JOIN c2n c)
       |  WHERE rn <= 4),
       |cand AS (
       |  SELECT p.query_id, a.vec_id,
       |         round(CASE WHEN p.qnrm = 0 OR a.nrm = 0 THEN 0.0
       |               ELSE list_dot_product(p.qvec, a.vec) / (p.qnrm * a.nrm) END, 6) AS cos
       |  FROM probed p JOIN a2 a ON a.centroid_id = p.centroid_id
       |  WHERE a.vec_id <> p.query_id),
       |ranked AS (
       |  SELECT query_id, vec_id, cos,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM cand)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, cos FROM ranked WHERE rank <= 5""".stripMargin
  }

  /** Independent water-import oracle (q_water): the S5/G7 pipeline
    * (Ingest.waterPolygons — per-part Visvalingam(1e-5), |area| < 1e-5
    * drop, shoelace-sign outer/inner classification, assembly, buffer(0),
    * water.go:146-233) recomputed by DuckDB from the INPUT shapefile
    * parts:
    *
    *  - Visvalingam-Whyatt is replayed REMOVAL-FOR-REMOVAL by a recursive
    *    CTE: each iteration recomputes every interior point's fresh
    *    effective triangle area (the same |ax(by−cy)+bx(cy−ay)+cx(ay−by)|/2
    *    IEEE expression) and removes the global minimum below threshold,
    *    ties by smallest original index — exactly the engine's
    *    lazy-deletion heap semantics (stale entries re-pushed with fresh
    *    areas pop after the true minimum, so the heap also removes the
    *    global fresh min each step);
    *  - classification/drop reuse the engine's shoelace
    *    (Σ(x₂−x₁)(y₂+y₁)/2; ≥ 0 ⇒ outer per the shapefile convention);
    *  - the final area is Σ|outer| − Σ|inner| — equal to JTS getArea of
    *    the assembled polygon whenever every surviving inner lies inside
    *    an outer (what ring classification means for water data; the
    *    engine's buffer(0) is an area no-op on valid assembly), with
    *    round(9) absorbing summation-order noise (≤1e-13 at these
    *    magnitudes).
    */
  private def waterOracle: String = {
    def d(v: Double): String = java.lang.Double.toString(v)
    val rows = Fixtures.osm._4.flatMap { w =>
      w.rings.zipWithIndex.flatMap { case (part, pi) =>
        part.zipWithIndex.map { case ((x, y), j) => s"(${w.id}, $pi, ${j + 1}, ${d(x)}, ${d(y)})" }
      }
    }.mkString(",\n    ")
    val maxN = Fixtures.osm._4.flatMap(_.rings.map(_.length)).max
    s"""WITH RECURSIVE
       |wpts AS (SELECT CAST(id AS BIGINT) AS id, part, idx,
       |                CAST(x AS DOUBLE) AS x, CAST(y AS DOUBLE) AS y
       |         FROM (VALUES
       |    $rows
       |  ) AS t(id, part, idx, x, y)),
       |ks AS (SELECT unnest(generate_series(1, $maxN)) AS k),
       |parts AS (SELECT id, part, list(idx ORDER BY idx) AS alive0
       |          FROM wpts GROUP BY id, part HAVING count(*) >= 3),
       |vw(id, part, alive, done) AS (
       |  SELECT id, part, alive0, FALSE FROM parts
       |  UNION ALL
       |  SELECT w.id, w.part,
       |         CASE WHEN m.area IS NOT NULL AND m.area < 1e-5 AND len(w.alive) > 2
       |              THEN list_concat(w.alive[1:m.k-1], w.alive[m.k+1:len(w.alive)])
       |              ELSE w.alive END,
       |         NOT (m.area IS NOT NULL AND m.area < 1e-5 AND len(w.alive) > 2)
       |  FROM vw w LEFT JOIN LATERAL (
       |    SELECT p.k, p.area FROM (
       |      SELECT g.k,
       |        abs((pa.x * (pb.y - pc.y) + pb.x * (pc.y - pa.y) + pc.x * (pa.y - pb.y)) / 2.0) AS area
       |      FROM ks g
       |      JOIN wpts pa ON g.k >= 2 AND g.k <= len(w.alive) - 1
       |        AND pa.id = w.id AND pa.part = w.part AND pa.idx = w.alive[g.k - 1]
       |      JOIN wpts pb ON pb.id = w.id AND pb.part = w.part AND pb.idx = w.alive[g.k]
       |      JOIN wpts pc ON pc.id = w.id AND pc.part = w.part AND pc.idx = w.alive[g.k + 1]
       |    ) p ORDER BY p.area ASC, w.alive[p.k] ASC LIMIT 1
       |  ) m ON TRUE
       |  WHERE NOT w.done),
       |simplified AS (SELECT id, part, alive FROM vw WHERE done),
       |ring_pts AS (
       |  SELECT s.id, s.part, g.k AS pos, p.x, p.y, len(s.alive) AS n
       |  FROM simplified s JOIN ks g ON g.k <= len(s.alive)
       |  JOIN wpts p ON p.id = s.id AND p.part = s.part AND p.idx = s.alive[g.k]),
       |rarea AS (
       |  SELECT a.id, a.part, sum((b.x - a.x) * (b.y + a.y)) / 2 AS ra
       |  FROM ring_pts a JOIN ring_pts b
       |    ON b.id = a.id AND b.part = a.part AND b.pos = (a.pos % a.n) + 1
       |  GROUP BY a.id, a.part)
       |SELECT id, round(sum(CASE WHEN ra >= 0 THEN abs(ra) ELSE -abs(ra) END), 9) AS area
       |FROM rarea WHERE abs(ra) >= 1e-5
       |GROUP BY id HAVING bool_or(ra >= 0)""".stripMargin
  }

  /** Shared brute-force geodesic top-k oracle for q_knn / q_knn_pruned. */
  private def knnOracle: String =
    s"""WITH pages AS (${Fixtures.pagesCte}),
       |qs AS (SELECT query_id, CAST(qlon AS DOUBLE) AS qlon, CAST(qlat AS DOUBLE) AS qlat
       |       FROM (VALUES $knnQueryValues) AS t(query_id, qlon, qlat)),
       |parts AS (
       |  SELECT q.query_id, p.url,
       |         radians(p.lat - q.qlat) AS dlat,
       |         radians(p.lon - q.qlon) * cos(radians((q.qlat + p.lat) / 2)) AS x
       |  FROM qs q CROSS JOIN pages p),
       |ranked AS (
       |  SELECT query_id, url, sqrt(dlat * dlat + x * x) * 6378137 AS dist,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY sqrt(dlat * dlat + x * x) * 6378137, url) AS rnk
       |  FROM parts)
       |SELECT query_id, CAST(rnk AS BIGINT) AS rank, url, round(dist, 3) AS dist
       |FROM ranked WHERE rnk <= 5""".stripMargin

  /** Independent region-coverer oracle (q_cell_covers): the
    * priority-refinement loop (Coverer.cover — MinLevel 4 / MaxLevel 22 /
    * MaxCells 8 with the reference's vertex-approximate predicates,
    * lookup.go:176-181 + region.go:13-43) replayed POP-FOR-POP by a
    * recursive CTE over the INPUT rings — nothing engine-derived is
    * embedded.
    *
    *  - The queue's deterministic order (coarsest level, ties smallest id)
    *    is `list_sort` over (lvl, h) structs — same-level ids are monotone
    *    in Hilbert position, so (lvl, h) IS the engine's (level, id) order.
    *  - Each iteration pops one cell per relation (relations advance in
    *    lockstep; a finished relation's row simply stops recursing),
    *    re-evaluating the engine's exact rules: terminal iff lvl ≥ 4 and
    *    (lvl ≥ 22 or all 4 corners ray-cast inside the loop); otherwise
    *    split iff lvl < 4 or |terminal| + |queue after pop| +
    *    |intersecting children| ≤ 8, else keep as terminal (budget
    *    exhausted) — the stateful budget arithmetic checked move-for-move.
    *  - containsPoint is the engine's half-open ray cast replicated
    *    IEEE-op-for-op ((x1-x2)·(py-y2)/(y1-y2)+x2 over the SAME
    *    CCW-normalized deduped edges `edgeValues` emits — makeLoop's
    *    reversal/dedup normalization produces exactly this edge set, and
    *    the ray-cast crossing count is invariant to it); intersectsCell =
    *    any cell corner inside OR any ring vertex within the closed cell
    *    rectangle (region.go:34-41).
    *  - Cells are tracked as (lvl, h, orientation, cx, cy) and children
    *    derived incrementally through the SAME Hilbert state table the
    *    raster oracle replays (h' = 4h + pos, grid coords 2c+{i,j}), so
    *    the final id/range arithmetic (h << (2·(30−lvl)+1) | sentinel,
    *    id ± (lsb−1)) is recomputed from first principles.
    *
    * Covers only outer rings (lookup.go:187); degenerate rings are absent
    * from oracleDims by construction (995 excluded).
    */
  private def coverOracle: String = {
    // ray-cast parity for point (px,py) against the relation's outer edges;
    // bound to the walk row's rel via w.rel_id
    def inside(px: String, py: String, rel: String = "w.rel_id"): String =
      s"""((SELECT count(*) FROM edges e WHERE e.rel_id = $rel
         |      AND ((e.y2 > $py) <> (e.y1 > $py))
         |      AND $px < (e.x1 - e.x2) * ($py - e.y2) / (e.y1 - e.y2) + e.x2) % 2 = 1)""".stripMargin
    // parent corner coords at level lvl (grid n = 2^lvl); IEEE order matches
    // Cell.bounds: x / n * 360 - 180
    def pc(expr: String, span: String, off: String, lvlShift: String): String =
      s"(CAST($expr AS DOUBLE) / CAST(CAST(1 AS BIGINT) << $lvlShift AS DOUBLE) * $span - $off)"
    val px0 = pc("q.p.cx", "360.0", "180.0", "q.p.lvl")
    val px1 = pc("q.p.cx + 1", "360.0", "180.0", "q.p.lvl")
    val py0 = pc("q.p.cy", "180.0", "90.0", "q.p.lvl")
    val py1 = pc("q.p.cy + 1", "180.0", "90.0", "q.p.lvl")
    val kx0 = pc("2 * q.p.cx + st.i", "360.0", "180.0", "(q.p.lvl + 1)")
    val kx1 = pc("2 * q.p.cx + st.i + 1", "360.0", "180.0", "(q.p.lvl + 1)")
    val ky0 = pc("2 * q.p.cy + st.j", "180.0", "90.0", "(q.p.lvl + 1)")
    val ky1 = pc("2 * q.p.cy + st.j + 1", "180.0", "90.0", "(q.p.lvl + 1)")
    val containsCell = Seq((px0, py0), (px1, py0), (px1, py1), (px0, py1))
      .map { case (x, y) => inside(x, y) }.mkString("\n      AND ")
    val kidCornerIn = Seq((kx0, ky0), (kx1, ky0), (kx1, ky1), (kx0, ky1))
      .map { case (x, y) => inside(x, y) }.mkString("\n       OR ")
    val kidVertIn =
      s"""EXISTS (SELECT 1 FROM verts v WHERE v.rel_id = w.rel_id
         |        AND v.vx >= $kx0 AND v.vx <= $kx1 AND v.vy >= $ky0 AND v.vy <= $ky1)""".stripMargin
    val worldInt = ("EXISTS (SELECT 1 FROM verts v WHERE v.rel_id = r.rel_id AND " +
      "v.vx >= -180.0 AND v.vx <= 180.0 AND v.vy >= -90.0 AND v.vy <= 90.0)") +
      Seq(("-180.0", "-90.0"), ("180.0", "-90.0"), ("180.0", "90.0"), ("-180.0", "90.0"))
        .map { case (x, y) => "\n       OR " + inside(x, y, rel = "r.rel_id") }.mkString
    val stRows = graft.cells.Cell.hilbertStateRows
      .map { case (o, i, j, pos, no) => s"($o, $i, $j, $pos, $no)" }.mkString(", ")
    val emptyActive = "CAST([] AS STRUCT(lvl INTEGER, h BIGINT, o INTEGER, cx BIGINT, cy BIGINT)[])"
    val budgetOk = "q.p.lvl < 4 OR len(w.term) + len(q.rest) + coalesce(len(c.kids), 0) <= 8"
    s"""WITH RECURSIVE
       |edges AS (SELECT layer, CAST(rel_id AS BIGINT) AS rel_id,
       |                 CAST(x1 AS DOUBLE) AS x1, CAST(y1 AS DOUBLE) AS y1,
       |                 CAST(x2 AS DOUBLE) AS x2, CAST(y2 AS DOUBLE) AS y2
       |          FROM (VALUES
       |    $polygonEdgeValues
       |  ) AS t(layer, rel_id, role, ring, x1, y1, x2, y2)
       |  WHERE role = 'outer'),
       |st AS (SELECT * FROM (VALUES $stRows) AS t(o, i, j, pos, no)),
       |rels AS (SELECT DISTINCT layer, rel_id FROM edges),
       |verts AS (SELECT DISTINCT rel_id, x1 AS vx, y1 AS vy FROM edges),
       |init AS (
       |  SELECT r.layer, r.rel_id,
       |    CASE WHEN $worldInt
       |      THEN [STRUCT_PACK(lvl := 0, h := CAST(0 AS BIGINT), o := 0,
       |                        cx := CAST(0 AS BIGINT), cy := CAST(0 AS BIGINT))]
       |      ELSE $emptyActive END AS active,
       |    CAST([] AS STRUCT(lvl INTEGER, h BIGINT)[]) AS term
       |  FROM rels r),
       |walk(layer, rel_id, active, term) AS (
       |  SELECT layer, rel_id, active, term FROM init
       |  UNION ALL
       |  SELECT w.layer, w.rel_id, s.active2, s.term2
       |  FROM walk w,
       |  LATERAL (SELECT list_sort(w.active)[1] AS p,
       |                  array_slice(list_sort(w.active), 2, len(w.active)) AS rest) q,
       |  LATERAL (
       |    SELECT
       |      (q.p.lvl >= 4 AND (q.p.lvl >= 22 OR ($containsCell))) AS is_term,
       |      (SELECT list(STRUCT_PACK(lvl := q.p.lvl + 1, h := q.p.h * 4 + st.pos, o := st.no,
       |                               cx := 2 * q.p.cx + st.i, cy := 2 * q.p.cy + st.j) ORDER BY st.pos)
       |       FROM st WHERE st.o = q.p.o AND (($kidCornerIn) OR $kidVertIn)) AS kids
       |  ) c,
       |  LATERAL (
       |    SELECT
       |      CASE WHEN c.is_term THEN q.rest
       |           WHEN $budgetOk
       |             THEN list_concat(q.rest, coalesce(c.kids, $emptyActive))
       |           ELSE q.rest END AS active2,
       |      CASE WHEN c.is_term OR NOT ($budgetOk)
       |           THEN list_append(w.term, STRUCT_PACK(lvl := q.p.lvl, h := q.p.h))
       |           ELSE w.term END AS term2
       |  ) s
       |  WHERE len(w.active) > 0
       |),
       |done AS (SELECT layer, rel_id, unnest(term) AS t FROM walk WHERE len(active) = 0)
       |SELECT rel_id AS relId, layer,
       |       (t.h << (2 * (30 - t.lvl) + 1)) | (CAST(1 AS BIGINT) << (2 * (30 - t.lvl))) AS cellId,
       |       ((t.h << (2 * (30 - t.lvl) + 1)) | (CAST(1 AS BIGINT) << (2 * (30 - t.lvl)))) - (CAST(1 AS BIGINT) << (2 * (30 - t.lvl))) + 1 AS cellMin,
       |       ((t.h << (2 * (30 - t.lvl) + 1)) | (CAST(1 AS BIGINT) << (2 * (30 - t.lvl)))) + (CAST(1 AS BIGINT) << (2 * (30 - t.lvl))) - 1 AS cellMax
       |FROM done""".stripMargin
  }

  // ---- sketch oracles: the SQL-replicable hash families ------------------
  // TextOps/Similarity compute every sketch with 31-polynomial base hashes
  // and (a·x+b) mod 2³¹−1 universal hashes whose coefficient tables are
  // embedded below as literals — DuckDB recomputes the sketches
  // bit-for-bit, so LSH candidate generation AND verification are
  // oracle-checked end-to-end (the round-2 winnowing move, applied to
  // minhash/simhash/blocked-embedding).

  /** list_reduce 31-polynomial mod p over the chars of expression `e`. */
  private def sqlPolyHash(e: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_transform(generate_series(1, length($e)), j -> CAST(ord($e[j]) AS BIGINT))),
       |      (a, b) -> (31 * a + b) % ${TextOps.MersennePrime})""".stripMargin

  private def minhashOracle: String = {
    val p = TextOps.MersennePrime
    val rows = TextOps.NumMinHashes / TextOps.Bands
    val mhExprs = (0 until TextOps.NumMinHashes).map { i =>
      s"list_aggregate(list_transform(hs, h -> (${TextOps.MinHashA(i)} * h + ${TextOps.MinHashB(i)}) % $p), 'min') AS m$i"
    }.mkString(",\n    ")
    val bandSelects = (0 until TextOps.Bands).map { b =>
      val ms = (0 until rows).map(r => s"m${b * rows + r}").mkString(", ")
      s"SELECT doc_id, $b AS band, [$ms] AS sig FROM mh"
    }.mkString("\n  UNION ALL ")
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(ts) >= 3 THEN
       |      list_transform(generate_series(1, len(ts) - 2), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
       |    ELSE [array_to_string(ts, ' ')] END AS s
       |  FROM toks),
       |hs0 AS (
       |  SELECT doc_id, s, list_transform(s, g ->
       |    ${sqlPolyHash("g")}) AS hs
       |  FROM sh),
       |mh AS (SELECT doc_id,
       |    $mhExprs
       |  FROM hs0),
       |bands AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
       |ss AS (SELECT doc_id, list_distinct(s) AS sd FROM sh),
       |scored AS (
       |  SELECT c.doc_a, c.doc_b,
       |         len(list_intersect(x.sd, y.sd)) AS inter, len(x.sd) AS na, len(y.sd) AS nb
       |  FROM cand c JOIN ss x ON x.doc_id = c.doc_a JOIN ss y ON y.doc_id = c.doc_b)
       |SELECT doc_a, doc_b,
       |       round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jaccard
       |FROM scored
       |WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.7""".stripMargin
  }

  private def simhashOracle: String = {
    val p = TextOps.MersennePrime
    val bitRows = (0 until 64)
      .map(b => s"($b, ${TextOps.SimHashA(b)}, ${TextOps.SimHashB(b)})").mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS t
       |  FROM documents),
       |th AS (
       |  SELECT doc_id, ${sqlPolyHash("t")} AS h
       |  FROM toks),
       |bits AS (SELECT * FROM (VALUES $bitRows) AS t(b, ba, bb)),
       |votes AS (
       |  SELECT th.doc_id, bits.b,
       |         sum(CASE WHEN 2 * ((bits.ba * th.h + bits.bb) % $p) < $p THEN 1 ELSE -1 END) AS cnt
       |  FROM th CROSS JOIN bits GROUP BY 1, 2),
       |bitvals AS (
       |  SELECT d.doc_id, bits.b,
       |         CASE WHEN coalesce(v.cnt, 0) > 0 THEN 1 ELSE 0 END AS bit
       |  FROM documents d CROSS JOIN bits
       |  LEFT JOIN votes v ON v.doc_id = d.doc_id AND v.b = bits.b),
       |bv AS (
       |  SELECT doc_id, (b // 16) AS band,
       |         sum(bit * (CAST(1 AS BIGINT) << CAST(b % 16 AS INT))) AS bandVal
       |  FROM bitvals GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bv a JOIN bv b ON a.band = b.band AND a.bandVal = b.bandVal AND a.doc_id < b.doc_id),
       |ham AS (
       |  SELECT c.doc_a, c.doc_b, CAST(sum(bit_count(xor(x.bandVal, y.bandVal))) AS INT) AS hamming
       |  FROM cand c
       |  JOIN bv x ON x.doc_id = c.doc_a
       |  JOIN bv y ON y.doc_id = c.doc_b AND y.band = x.band
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 3""".stripMargin
  }

  private def embedBlockedOracle: String = {
    val p = TextOps.MersennePrime
    val planeRows = (0 until 64)
      .map(j => s"($j, ${Similarity.PlaneA(j)}, ${Similarity.PlaneB(j)})").mkString(", ")
    s"""WITH emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
       |         sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), v -> v * v))) AS nrm,
       |         list_transform(CAST(embedding AS DOUBLE[]),
       |                        x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS q
       |  FROM embeddings),
       |planes AS (SELECT * FROM (VALUES $planeRows) AS t(j, pa, pb)),
       |signs AS (
       |  SELECT e.vec_id, p.j,
       |    CASE WHEN list_sum(list_transform(generate_series(1, len(e.q)),
       |           i -> (CASE WHEN 2 * ((((p.pa * i + p.pb) % $p) * ((p.pa * i + p.pb) % $p)) % $p) < $p
       |                 THEN 1 ELSE -1 END) * e.q[i])) >= 0
       |         THEN 1 ELSE 0 END AS bit
       |  FROM emb e CROSS JOIN planes p),
       |bv AS (
       |  SELECT vec_id, (j // 4) AS band,
       |         sum(bit * (CAST(1 AS BIGINT) << CAST(3 - (j % 4) AS INT))) AS bandVal
       |  FROM signs GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM bv a JOIN bv b ON a.band = b.band AND a.bandVal = b.bandVal AND a.vec_id < b.vec_id)
       |SELECT c.vec_a, c.vec_b,
       |       CASE WHEN x.nrm = 0 OR y.nrm = 0 THEN 0.0
       |            ELSE round(list_cosine_similarity(x.vec, y.vec), 6) END AS cos
       |FROM cand c JOIN emb x ON x.vec_id = c.vec_a JOIN emb y ON y.vec_id = c.vec_b
       |WHERE CASE WHEN x.nrm = 0 OR y.nrm = 0 THEN 0.0
       |           ELSE round(list_cosine_similarity(x.vec, y.vec), 6) END >= 0.4""".stripMargin
  }

  private def knnQueryValues: String =
    Seq(0, 1, 2, 3, 4).map { i =>
      val (_, cx, cy) = Fixtures.cities(i)
      s"('q$i', ${fmt6(cx)}, ${fmt6(cy)})"
    }.mkString(", ")

  /** The five fixture-city query points shared by q_knn / q_knn_pruned. */
  private def knnQueries: Seq[operators.Knn.Query] =
    Seq(0, 1, 2, 3, 4).map { i =>
      val (_, cx, cy) = Fixtures.cities(i)
      operators.Knn.Query(s"q$i", cx, cy)
    }

  /** [[graft.sources.ContentStamp]] of the documents table under `sfDir`:
    * a regenerated fixture at the same path gets a new fingerprint, so
    * fingerprint-keyed scratch dirs never serve stale derived data.
    */
  private[graft] def fixtureFingerprint(sfDir: String): String =
    graft.sources.ContentStamp(SparkSession.active, s"$sfDir/documents.parquet")

  /** Deterministic scratch root `/tmp/graft_<kind>_<sfTag>_<fp>`: `fp` is
    * the fixture CONTENT fingerprint, then `code`, a [[contentHash]]. */
  private def scratchRoot(kind: String, sfDir: String, code: String = ""): String =
    s"/tmp/graft_${kind}_${sfDir.replaceAll("[^a-z0-9.]", "_")}_${fixtureFingerprint(sfDir)}$code"

  /** DONE-gated scratch dir: returns `root`, first building it unless
    * its DONE marker exists. The content is built in a new process-unique
    * work dir, then ATOMICALLY renamed to `root` — two concurrent runs at
    * the same fixture content each build privately and exactly one rename
    * wins (the loser discards its copy and reads the winner's); a killed
    * build leaves only an orphaned work dir, never a half-written `root`.
    * The winner then removes the completed roots it supersedes: the
    * siblings of the same kind and sf tag with another fingerprint.
    */
  private[graft] def scratch(root: String)(build: String => Unit): String = {
    val (dir, done) = (Paths.get(root), Paths.get(root, "DONE"))
    if (Files.exists(done)) return root
    val work = Paths.get(s"${root}_w${java.lang.ProcessHandle.current().pid()}_${System.nanoTime()}")
    build(Files.createDirectories(work).toString)
    Files.write(work.resolve("DONE"), Array.empty[Byte])
    try {
      Files.move(work, dir, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      // a work dir (`…_w<pid>_<nanos>`) is never a sibling; a sibling
      // another process removes first is skipped
      val path = dir.toString
      val family = java.util.regex.Pattern.quote(path.substring(0, path.lastIndexOf('_') + 1)) + "[0-9a-f]+"
      val st = Files.list(dir.getParent)
      try st.toList.forEach { p =>
        if (p != dir && p.toString.matches(family) && Files.exists(p.resolve("DONE")))
          try rmTree(p) catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }
      } finally st.close()
    } catch {
      // FileAlreadyExists / AccessDenied: another process won; use theirs
      case _: java.nio.file.FileSystemException if Files.exists(done) => rmTree(work)
    }
    root
  }

  private def rmTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder()).forEach(q => Files.delete(q)) finally st.close()
    }

  /** Scratch path for the q_knn_pruned parquet index (fingerprint-keyed;
    * DONE-gated via [[scratch]] so a killed writer never leaves a
    * silently-partial index behind and regenerated fixtures never reuse a
    * stale one).
    */
  private def knnIndexPath(sfDir: String): String = scratchRoot("knnidx", sfDir)

  /** The q_shp_decode shapefile's records: the water fixture's parts plus
    * every dpRects ring as a single-part record — degenerate 2-point
    * parts, multi-ring records and non-dyadic jittered doubles all pass
    * through the f64-LE file layer.
    */
  private def shpDecodeRecords: Seq[Seq[Seq[(Double, Double)]]] =
    Fixtures.osm._4.map(_.rings) ++
      Fixtures.dpRects.map { case (_, ring) => Seq(ring: Seq[(Double, Double)]) }

  /** FNV-1a over the UTF-8 bytes of a deterministic rendering of IN-CODE
    * fixture data — appended to scratch keys so a fixture CODE change
    * invalidates the DONE-gated scratch: the sfDir fingerprint only covers
    * the parquet inputs, and a stale scratch would make an engine-side
    * oracle mismatch look like a decode bug.
    */
  private def contentHash(s: String): String =
    f"${graft.sources.ContentStamp.fnv1a(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))}%016x"

  /** DONE-gated scratch dir holding the real .shp/.shx pairs the
    * q_shp_* queries read: `water` (exactly the fixture water records)
    * and `decode` (shpDecodeRecords). Built once per (fixture
    * fingerprint, fixture-code content hash).
    */
  private def shpScratch(sfDir: String): String =
    scratch(scratchRoot("shp", sfDir, contentHash(
      (Fixtures.osm._4.map(_.rings), shpDecodeRecords).toString))) { work =>
      sources.Shapefile.write(Fixtures.osm._4.map(_.rings), s"$work/water")
      sources.Shapefile.write(shpDecodeRecords, s"$work/decode")
    }

  /** DONE-gated scratch dir holding the real .osm.pbf the q_pbf_* queries
    * read — the full fixture OSM set, 64 entities per block so the file
    * genuinely has many zlib blobs for the distributed read to fan over.
    */
  private def pbfScratch(sfDir: String): String = {
    val (ns, ws, rs, _) = Fixtures.osm
    scratch(scratchRoot("pbf", sfDir, contentHash((ns, ws, rs).toString))) { work =>
      sources.OsmPbf.write(
        ns.map(n => (n.id, n.lat, n.lon)),
        ws.map(w => (w.id, w.refs)),
        rs.map(r => (r.id, r.tags, r.members.map(m => (m.id, m.mtype, m.role)))),
        s"$work/fixture.osm.pbf", blockSize = 64)
    }
  }

  /** Decode oracles (q_pbf_nodes/ways/rels/tags): the binary file's
    * content is fully determined by the fixture entities that were
    * written, so each oracle enumerates them as VALUES — coordinates as
    * the closed-form `OsmPbf.quantize` nanodegree round trip (quoted
    * strings, correct-rounding rationale as rawTopoCtesFor).
    */
  private def pbfNodesOracle: String = {
    val rows = Fixtures.osm._1.sortBy(_.id).map { n =>
      s"(${n.id}, '${sources.OsmPbf.quantize(n.lat, 100)}', '${sources.OsmPbf.quantize(n.lon, 100)}')"
    }.mkString(",\n    ")
    s"""SELECT CAST(id AS BIGINT) AS id, CAST(lat AS DOUBLE) AS lat,
       |       CAST(lon AS DOUBLE) AS lon
       |FROM (VALUES
       |    $rows
       |  ) AS t(id, lat, lon)""".stripMargin
  }

  private def pbfWaysOracle: String = {
    val rows = (for {
      w <- Fixtures.osm._2.sortBy(_.id)
      (r, i) <- w.refs.zipWithIndex
    } yield s"(${w.id}, $i, $r)").mkString(",\n    ")
    s"""SELECT CAST(id AS BIGINT) AS id, CAST(pos AS BIGINT) AS pos,
       |       CAST(ref AS BIGINT) AS ref
       |FROM (VALUES
       |    $rows
       |  ) AS t(id, pos, ref)""".stripMargin
  }

  /** SQL single-quote escape for fixture strings embedded in VALUES —
    * a fixture value like name=L'Aquila must not break the oracle parse.
    * Backslashes stay literal ON PURPOSE: these strings are executed by
    * DuckDB (standard SQL literals, '' is the only escape), never by
    * Spark's non-ANSI parser — doubling backslashes here would corrupt
    * any fixture value containing one.
    */
  private def sqlStr(s: String): String = "'" + s.replace("'", "''") + "'"

  private def pbfRelsOracle: String = {
    val rows = (for {
      r <- Fixtures.osm._3.sortBy(_.id)
      (m, i) <- r.members.zipWithIndex
    } yield s"(${r.id}, $i, ${m.id}, ${m.mtype}, ${sqlStr(m.role)})").mkString(",\n    ")
    s"""SELECT CAST(id AS BIGINT) AS id, CAST(seq AS BIGINT) AS seq,
       |       CAST(mid AS BIGINT) AS mid, CAST(mtype AS INT) AS mtype, role
       |FROM (VALUES
       |    $rows
       |  ) AS t(id, seq, mid, mtype, role)""".stripMargin
  }

  private def pbfTagsOracle: String = {
    val rows = (for {
      r <- Fixtures.osm._3.sortBy(_.id)
      (k, v) <- r.tags.toSeq.sortBy(_._1)
    } yield s"(${r.id}, ${sqlStr(k)}, ${sqlStr(v)})").mkString(",\n    ")
    s"""SELECT CAST(id AS BIGINT) AS id, k, v
       |FROM (VALUES
       |    $rows
       |  ) AS t(id, k, v)""".stripMargin
  }

  /** DONE-gated scratch dir with the fixture's `<seq>.osc.gz` replication
    * files ([[Fixtures.oscChanges]]).
    */
  private def oscScratch(sfDir: String): String =
    scratch(scratchRoot("osc", sfDir, contentHash(Fixtures.oscChanges.toString))) { work =>
      Fixtures.oscChanges.foreach { case (seq, cs) =>
        sources.OscDiff.write(work, seq, cs)
      }
    }

  /** The fixture diffs replayed in write order, assigning the same
    * document-position `ord` the writer produces (every entity element
    * of ANY kind advances it) — the decode oracles enumerate these rows.
    */
  private def oscRows: Seq[(Long, Long, String, String, Long, Double, Double,
                            Map[String, String], Seq[(Long, Int, String)])] =
    Fixtures.oscChanges.flatMap { case (seq, cs) =>
      var ord = 0L
      cs.flatMap { c =>
        val ns = c.nodes.map { case (id, la, lo) =>
          ord += 1; (seq, ord, c.action, "node", id, la, lo,
            Map.empty[String, String], Seq.empty[(Long, Int, String)])
        }
        val ws = c.ways.map { case (id, _) =>
          ord += 1; (seq, ord, c.action, "way", id, 0.0, 0.0,
            Map.empty[String, String], Seq.empty[(Long, Int, String)])
        }
        val rs = c.relations.map { case (id, tags, members) =>
          ord += 1; (seq, ord, c.action, "relation", id, 0.0, 0.0, tags, members)
        }
        ns ++ ws ++ rs
      }
    }

  /** q_osc_nodes oracle: every decoded node-change row. */
  private def oscNodesOracle: String = {
    val rows = oscRows.filter(_._4 == "node").map { case (seq, ord, a, _, id, la, lo, _, _) =>
      s"($seq, $ord, ${sqlStr(a)}, $id, '$la', '$lo')"
    }.mkString(",\n    ")
    s"""SELECT CAST(seq AS BIGINT) AS seq, CAST(ord AS BIGINT) AS ord, action,
       |       CAST(id AS BIGINT) AS id,
       |       CAST(lat AS DOUBLE) AS lat, CAST(lon AS DOUBLE) AS lon
       |FROM (VALUES
       |    $rows
       |  ) AS t(seq, ord, action, id, lat, lon)""".stripMargin
  }

  /** q_osc_rels oracle: relation changes with members exploded OUTER (a
    * delete has none — its row survives with null member fields) and the
    * tags flattened to a sorted `k=v|k=v` string.
    */
  private def oscRelsOracle: String = {
    val rows = oscRows.filter(_._4 == "relation").flatMap {
      case (seq, ord, a, _, id, _, _, tags, members) =>
        val cat = sqlStr(tags.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("|"))
        if (members.isEmpty)
          Seq(s"($seq, $ord, ${sqlStr(a)}, $id, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS INT), CAST(NULL AS VARCHAR), $cat)")
        else members.zipWithIndex.map { case ((mid, mt, role), i) =>
          s"($seq, $ord, ${sqlStr(a)}, $id, $i, $mid, $mt, ${sqlStr(role)}, $cat)"
        }
    }.mkString(",\n    ")
    s"""SELECT CAST(seq AS BIGINT) AS seq, CAST(ord AS BIGINT) AS ord, action,
       |       CAST(id AS BIGINT) AS id, CAST(mseq AS BIGINT) AS mseq,
       |       CAST(mid AS BIGINT) AS mid, CAST(mtype AS INT) AS mtype, role,
       |       tags_cat
       |FROM (VALUES
       |    $rows
       |  ) AS t(seq, ord, action, id, mseq, mid, mtype, role, tags_cat)""".stripMargin
  }

  /** q_osc_apply oracle: the remove/upsert replication semantics replayed
    * in SQL — last (seq, ord) winner per id, winner deletes drop the id,
    * anything else upserts — over the fixture base nodes + decoded diffs.
    */
  private def oscApplyOracle: String = {
    val base = Fixtures.osm._1.sortBy(_.id)
      .map(n => s"(${n.id}, '${n.lat}', '${n.lon}')").mkString(",\n    ")
    val chg = oscRows.filter(_._4 == "node").map { case (seq, ord, a, _, id, la, lo, _, _) =>
      s"($seq, $ord, ${sqlStr(a)}, $id, '$la', '$lo')"
    }.mkString(",\n    ")
    s"""WITH base AS (SELECT CAST(id AS BIGINT) AS id, CAST(lat AS DOUBLE) AS lat,
       |                     CAST(lon AS DOUBLE) AS lon
       |              FROM (VALUES
       |    $base
       |  ) AS t(id, lat, lon)),
       |chg AS (SELECT CAST(seq AS BIGINT) AS seq, CAST(ord AS BIGINT) AS ord, action,
       |               CAST(id AS BIGINT) AS id, CAST(lat AS DOUBLE) AS lat,
       |               CAST(lon AS DOUBLE) AS lon
       |        FROM (VALUES
       |    $chg
       |  ) AS t(seq, ord, action, id, lat, lon)),
       |win AS (SELECT * FROM (
       |          SELECT *, row_number() OVER (PARTITION BY id ORDER BY seq DESC, ord DESC) AS rn
       |          FROM chg) WHERE rn = 1)
       |SELECT b.id, b.lat, b.lon FROM base b
       |WHERE NOT EXISTS (SELECT 1 FROM win w WHERE w.id = b.id)
       |UNION ALL
       |SELECT id, lat, lon FROM win WHERE action <> 'delete'""".stripMargin
  }

  /** Independent decode oracle (q_shp_decode): what the binary file MUST
    * contain is fully determined by the fixture rows that were written,
    * so the oracle enumerates them as VALUES (quoted-string doubles —
    * same correct-rounding rationale as rawTopoCtesFor) and the compare
    * pins every decoded coordinate bit-for-bit.
    */
  private def shpDecodeOracle: String = {
    val rows = (for {
      (rec, ri) <- shpDecodeRecords.zipWithIndex
      (ring, pi) <- rec.zipWithIndex
      ((x, y), pos) <- ring.zipWithIndex
    } yield s"($ri, $pi, $pos, '$x', '$y')").mkString(",\n    ")
    s"""SELECT CAST(id AS BIGINT) AS id, CAST(part AS BIGINT) AS part,
       |       CAST(pos AS BIGINT) AS pos,
       |       CAST(x AS DOUBLE) AS x, CAST(y AS DOUBLE) AS y
       |FROM (VALUES
       |    $rows
       |  ) AS t(id, part, pos, x, y)""".stripMargin
  }

  private def langProfileValues: String =
    operators.TextOps.langProfiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      s"('$lang', [${words.toSeq.sorted.map(w => s"'$w'").mkString(", ")}])"
    }.mkString(",\n    ")

  /** The live engine's arcs/uses export in TopoGolden's exact shape —
    * used ONLY by the freeze tool (tools.DumpTopoExport) and the drift
    * spec (TopoGoldenSpec), never by the oracles: the oracle VALUES come
    * from the FROZEN sources.TopoGolden literals, so the DuckDB replay is
    * anchored to a reviewed in-repo artifact rather than to whatever the
    * engine computed in the same process (the round-4 shape, which made
    * the "oracle" partially self-referential and made `oracleSql` trigger
    * a full topology build as a side effect).
    */
  private[graft] def liveTopoExport(spark: SparkSession)
      : (Seq[(Long, Long, Double, Double, Double, Double)], Seq[(Long, Long)]) = {
    val lr = topoCountries(spark)
    import spark.implicits._
    val arcs = lr.topo.arcs.select(col("arcId"), col("pts"))
      .as[(Long, Seq[(Double, Double)])].collect().sortBy(_._1).toSeq
      .map { case (id, pts) =>
        val xs = pts.map(_._1); val ys = pts.map(_._2)
        (id, pts.length.toLong, xs.min, ys.min, xs.max, ys.max)
      }
    val uses = lr.topo.uses.select(col("objId"), col("arcId"))
      .as[(Long, Long)].collect().sorted.toSeq
    (arcs, uses)
  }

  /** Oracles re-derived by DuckDB from the FROZEN arcs/uses export
    * (sources.TopoGolden — a reviewed in-repo literal, regenerated only
    * intentionally via tools.DumpTopoExport). TopoGoldenSpec pins the live
    * engine's export to the frozen rows, so drift fails tests loudly
    * instead of silently re-deriving the oracle from drifted output; the
    * arc CONTENTS stay pinned independently by GoldenSpec (q_topo_arcs)
    * and the reconstruction round-trip property.
    *
    * q_topo_objects — "point counts through ^arc indirection are pure
    * arithmetic": the SQL independently recomputes the object-level
    * aggregates the engine derives through the uses ⋈ arcLens ⋈ features
    * joins:
    *  - nPoints  = Σ over uses of the used arc's (simplified) point count;
    *  - bbox     = the envelope over the used arcs' points — which must
    *    equal the post-clip feature envelope the engine carries through
    *    `rebboxed` (a real cross-check: the extreme vertices survive both
    *    arc cutting and pinned-endpoint Douglas-Peucker).
    *
    * q_topo_slices — the greedy nearest-centroid slicer (export.go:59-98
    * semantics incl. the (0,0)/centerCount=1 aggregated-center init and
    * the bb[0]+bb[2]/2 "center" quirk) replayed move-for-move by a
    * recursive CTE over the SAME export: centers and per-object point
    * counts are re-derived from the arcs (not read from the engine), and
    * each iteration picks argmin-distance via ORDER BY + LIMIT 1 with the
    * Scala loop's exact tie rule (strict < keeps the earliest objId). The
    * ordering key is the SQUARED equirectangular distance — sqrt and the
    * earth-radius factor are monotone, so dropping them gives the same
    * argmin without replicating their rounding.
    *
    * Topology queries are sfDir-independent (fixture-driven), so one
    * embedded export is valid at every scale factor.
    */
  private def topoExportOracles: Map[String, String] = {
    {
        def d(v: Double): String = java.lang.Double.toString(v) // shortest round-trip repr
        val arcRows = sources.TopoGolden.arcs
          .map { case (id, len, x0, y0, x1, y1) =>
            s"($id, $len, ${d(x0)}, ${d(y0)}, ${d(x1)}, ${d(y1)})"
          }.mkString(",\n    ")
        val useRows = sources.TopoGolden.uses
          .map { case (o, a) => s"($o, $a)" }.mkString(", ")
        val exportCtes =
          s"""arcs AS (
             |  SELECT CAST(arc_id AS BIGINT) AS arc_id, CAST(len AS BIGINT) AS len,
             |         CAST(ax0 AS DOUBLE) AS ax0, CAST(ay0 AS DOUBLE) AS ay0,
             |         CAST(ax1 AS DOUBLE) AS ax1, CAST(ay1 AS DOUBLE) AS ay1
             |  FROM (VALUES
             |    $arcRows
             |  ) AS t(arc_id, len, ax0, ay0, ax1, ay1)),
             |uses AS (SELECT CAST(obj_id AS BIGINT) AS obj_id, CAST(arc_id AS BIGINT) AS arc_id
             |         FROM (VALUES $useRows) AS t(obj_id, arc_id))""".stripMargin
        // pointLimit must match topoCountries' Export.layer(pointLimit = 20)
        val slicePointLimit = 20
        Map(
          "q_topo_objects" ->
            s"""WITH $exportCtes
               |SELECT u.obj_id AS objId, CAST(sum(a.len) AS BIGINT) AS nPoints,
               |       round(min(a.ax0), 6) AS minx, round(min(a.ay0), 6) AS miny,
               |       round(max(a.ax1), 6) AS maxx, round(max(a.ay1), 6) AS maxy
               |FROM uses u JOIN arcs a ON a.arc_id = u.arc_id
               |GROUP BY u.obj_id""".stripMargin,
          "q_topo_slices" ->
            s"""WITH RECURSIVE $exportCtes,
               |objs AS (
               |  SELECT u.obj_id, CAST(sum(a.len) AS BIGINT) AS n,
               |         min(a.ax0) AS minx, min(a.ay0) AS miny,
               |         max(a.ax1) AS maxx, max(a.ay1) AS maxy
               |  FROM uses u JOIN arcs a ON a.arc_id = u.arc_id GROUP BY u.obj_id),
               |centers AS (
               |  SELECT obj_id, minx + maxx / 2 AS cx, miny + maxy / 2 AS cy, n FROM objs),
               |cnt AS (SELECT count(*) AS c FROM centers),
               |walk(k, picked, slc, slice, aggx, aggy, cc, pc) AS (
               |  SELECT 0, CAST([] AS BIGINT[]), CAST([] AS INT[]), 0,
               |         CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), 1, CAST(0 AS BIGINT)
               |  UNION ALL
               |  SELECT w.k + 1, list_append(w.picked, b.obj_id), list_append(w.slc, w.slice),
               |         CASE WHEN w.pc + b.n >= $slicePointLimit THEN w.slice + 1 ELSE w.slice END,
               |         CASE WHEN w.pc + b.n >= $slicePointLimit THEN 0.0 ELSE w.aggx + b.cx END,
               |         CASE WHEN w.pc + b.n >= $slicePointLimit THEN 0.0 ELSE w.aggy + b.cy END,
               |         CASE WHEN w.pc + b.n >= $slicePointLimit THEN 1 ELSE w.cc + 1 END,
               |         CASE WHEN w.pc + b.n >= $slicePointLimit THEN CAST(0 AS BIGINT) ELSE w.pc + b.n END
               |  FROM walk w, LATERAL (
               |    SELECT c.obj_id, c.cx, c.cy, c.n
               |    FROM centers c
               |    WHERE NOT list_contains(w.picked, c.obj_id)
               |    ORDER BY power(radians(c.cy - w.aggy / w.cc), 2)
               |           + power(radians(c.cx - w.aggx / w.cc)
               |                   * cos(radians((w.aggy / w.cc + c.cy) / 2)), 2) ASC,
               |             c.obj_id ASC
               |    LIMIT 1) b
               |  WHERE w.k < (SELECT c FROM cnt)
               |)
               |SELECT unnest(picked) AS objId, unnest(slc) AS slice
               |FROM walk WHERE k = (SELECT c FROM cnt)""".stripMargin)
    }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for engine-native geometry/sketch
    * ops → driver records the weaker rows-only check (those are covered by
    * golden ScalaTest suites instead).
    */
  def oracleSql: Map[String, String] = sharedSql ++ duckOnlyOracle ++ topoExportOracles
}
