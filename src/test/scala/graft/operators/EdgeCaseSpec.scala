package graft.operators

import org.apache.spark.sql.functions.col

import graft.SparkTestBase
import graft.cells.Cell

/** Hostile-input hardening: real corpora contain empty documents,
  * punctuation-only text, and boundary/garbage coordinates. None of these
  * may crash an operator or emit rows that violate its contract.
  */
class EdgeCaseSpec extends SparkTestBase {
  import spark.implicits._

  private val weirdDocs = Seq(
    (1L, ""),                          // empty
    (2L, "   \t\n  "),                 // whitespace only
    (3L, "!!! ??? ... ---"),           // punctuation only
    (4L, "word"),                      // single token (< shingle length)
    (5L, "a b"),                       // two tokens
    (6L, "x " * 5000)                  // long repetitive
  ).toDF("doc_id", "text")

  test("text operators survive degenerate documents") {
    val tok = TextOps.tokenCounts(weirdDocs).collect()
    assert(tok.length == 6)
    val fp = TextOps.fingerprintTable(weirdDocs).collect()
    assert(fp.nonEmpty) // every doc gets >= 1 fingerprint (short-doc path)
    val pairs = Clusters.jaccardPairs(weirdDocs, 0.3).collect()
    // sub-shingle-length docs have empty shingle sets -> never paired
    assert(!pairs.exists(r => r.getLong(0) <= 5L && r.getLong(1) <= 5L || r.getLong(0) == 4L))
    val clusters = Clusters.labelClusters(weirdDocs, Clusters.jaccardPairs(weirdDocs, 0.3)).collect()
    assert(clusters.length == 6, "every doc labeled, empty ones as singletons")
    val lang = TextOps.langId(weirdDocs).collect()
    assert(lang.length == 6)
  }

  test("sketch dedup survives degenerate documents; token-free docs pair trivially") {
    // docs 1 (empty) and 2 (whitespace-only) have zero tokens: both
    // minhash over the single degenerate shingle "" and simhash 0 — they
    // must collide and verify (jaccard({""},{""}) = 1, hamming 0), not crash
    val mh = TextOps.minhashDedup(weirdDocs, 0.7)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(mh.contains((1L, 2L)), s"token-free docs must minhash-pair; got $mh")
    val sh = TextOps.simhashDedup(weirdDocs, 3)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect()
    assert(sh.exists(r => r._1 == 1L && r._2 == 2L && r._3 == 0))
    // zero vectors: cosine is defined as 0.0 (not a DIVIDE_BY_ZERO crash
    // under ANSI mode, not NaN — which Spark orders ABOVE every number,
    // so a NaN would slip through the >= threshold filter)
    val blocked = Similarity.embeddingDedupBlocked(
      Seq((1L, Seq.fill(8)(0.0f)), (2L, Seq.fill(8)(0.0f)), (3L, Seq.tabulate(8)(_.toFloat)))
        .toDF("vec_id", "embedding"), 0.4)
    assert(!blocked.collect().exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
  }

  test("cell math at the poles, dateline, and garbage coordinates") {
    // corners of the coordinate space: valid cells at every level
    for ((lon, lat) <- Seq((-180.0, -90.0), (180.0, 90.0), (0.0, 0.0),
      (-180.0, 90.0), (179.999999, -89.999999))) {
      val leaf = Cell.leaf(lon, lat)
      assert(Cell.level(leaf) == Cell.MaxLevel)
      val anc = Cell.ancestors(leaf, 0, 22)
      assert(anc.length == 23 && anc.forall(a => Cell.contains(a, leaf)))
    }
    // out-of-range and NaN clamp instead of throwing
    assert(Cell.level(Cell.leaf(500.0, 99.0)) == Cell.MaxLevel)
    assert(Cell.level(Cell.leaf(Double.NaN, Double.NaN)) == Cell.MaxLevel)
  }

  private lazy val fixturePolys = Ingest.polygons(spark, graft.sources.Fixtures.nodesDf(spark),
    graft.sources.Fixtures.waysDf(spark), graft.sources.Fixtures.relationsDf(spark),
    graft.sources.Fixtures.blacklist).cache()

  test("PIP join tolerates pages at the domain boundary") {
    val polys = fixturePolys
    val covers = Ingest.cellCovers(polys)
    val edgePages = Seq[(String, Option[Double], Option[Double])](
      ("p1", Some(-180.0), Some(-90.0)), ("p2", Some(180.0), Some(90.0)), ("p3", Some(0.0), Some(0.0)),
      ("p4", Some(4.35), Some(50.85)), // inside country 100
      ("nullLon", None, Some(50.85)), ("nullLat", Some(4.35), None),
      ("nanLon", Some(Double.NaN), Some(50.85)), ("nanLat", Some(4.35), Some(Double.NaN))
    ).toDF("url", "lon", "lat")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("url", "layer", "relId").as[(String, String, Long)].collect().toSeq.sorted
    val m = rows(PipJoin.matches(edgePages, covers, polys))
    assert(m.exists(_._1 == "p4"), "interior point must match")
    assert(!m.exists(r => r._1 == "p1" || r._1 == "p2"))
    // a null coordinate emits no rows on every strategy, like explode(null)
    assert(!m.exists(_._1.startsWith("null")))
    assert(rows(PipJoin.matchesIndexed(edgePages, covers, polys)) == m)
    assert(rows(PipJoin.matchesPartitioned(edgePages, covers, polys)) == m)
  }

  test("matchesIndexed rejects a polygon table that repeats a relId") {
    val covers = Ingest.cellCovers(fixturePolys)
    // relId 100 a second time, with its geometry shifted 1° east: a
    // relId-keyed map would keep one of the two geometries and disagree
    // with `matches`, which refines both rows
    val row = fixturePolys.filter(col("relId") === 100L).head()
    val shifted = org.locationtech.jts.geom.util.AffineTransformation.translationInstance(1.0, 0.0)
      .transform(graft.geom.Jts.fromWkb(row.getAs[Array[Byte]]("wkb")))
    val dupRow = org.apache.spark.sql.Row.fromSeq(fixturePolys.columns.toSeq.map {
      case "wkb" => graft.geom.Jts.toWkb(shifted)
      case c => row.getAs[Any](c)
    })
    val dup = spark.createDataFrame(java.util.List.of(dupRow), fixturePolys.schema)
    val pages = Seq(("p", 4.35, 50.85)).toDF("url", "lon", "lat")
    val e = intercept[IllegalArgumentException](
      PipJoin.matchesIndexed(pages, covers, fixturePolys.unionByName(dup)))
    assert(e.getMessage.contains("relId 100 "), e.getMessage)
  }

  test("tile assignment clamps out-of-range geocodes to edge tiles (no negative indices)") {
    val pages = Seq(
      ("in", 4.35, 50.85),
      ("lowlat", 0.0, -90.5), ("highlat", 0.0, 90.5),
      ("lowlon", -180.5, 0.0), ("highlon", 180.5, 0.0)
    ).toDF("url", "lon", "lat")
    val t = Tiling.assign(pages, 10).select("url", "tx", "ty").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    t.values.foreach { case (tx, ty) =>
      assert(tx >= 0 && tx < 1024 && ty >= 0 && ty < 1024, s"tile out of grid: $t")
    }
    assert(t("lowlat")._2 == 0 && t("highlat")._2 == 1023)
    assert(t("lowlon")._1 == 0 && t("highlon")._1 == 1023)
  }

  test("PIP strategies survive an empty cover table (zero matches, no NPE)") {
    val polys = Ingest.polygons(spark, graft.sources.Fixtures.nodesDf(spark),
      graft.sources.Fixtures.waysDf(spark), graft.sources.Fixtures.relationsDf(spark),
      graft.sources.Fixtures.blacklist)
    val covers = Ingest.cellCovers(polys).filter(col("relId") < 0) // empty
    val pages = Seq(("p", 4.35, 50.85)).toDF("url", "lon", "lat")
    assert(PipJoin.matches(pages, covers, polys).count() == 0)
    assert(PipJoin.matchesPartitioned(pages, covers, polys).count() == 0)
    assert(PipJoin.matchesIndexed(pages, covers, polys).count() == 0)
  }

  test("matchesIndexed drops cover rows whose relation is absent from polygons, like matches") {
    val polys = Ingest.polygons(spark, graft.sources.Fixtures.nodesDf(spark),
      graft.sources.Fixtures.waysDf(spark), graft.sources.Fixtures.relationsDf(spark),
      graft.sources.Fixtures.blacklist).cache()
    val covers = Ingest.cellCovers(polys) // full cover set
    val onlyCountries = polys.filter(col("layer") === "countries")
    val pages = Seq(("p", 4.35, 50.85)).toDF("url", "lon", "lat")
    val viaJoin = PipJoin.matches(pages, covers, onlyCountries)
      .select("url", "layer", "relId").collect().toSet
    val viaIndex = PipJoin.matchesIndexed(pages, covers, onlyCountries)
      .select("url", "layer", "relId").collect().toSet
    assert(viaJoin == viaIndex)
    assert(viaJoin.nonEmpty)
  }
}
