package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.sources.Fixtures

/** The batch-kNN contract: [[Knn.knnBatch]] must return exactly the
  * brute-force neighbors — every page's distance, ordered by (dist, url) —
  * at a query count (10⁴) where the batch shape is the one that matters.
  * Queries are jittered around actual page locations so every search
  * converges in a few rings.
  */
class KnnBatchSpec extends SparkTestBase {
  import spark.implicits._

  test("knnBatch over 10^4 queries equals brute force row-for-row") {
    val pages = Fixtures.pages(spark, sf0001).cache()
    // sample only the city-clustered 60% of the geocode (doc_id%10<6):
    // the uniform-global 40% would give isolated queries whose rings must
    // expand tens of cells to find k neighbors — 10⁴ of those is a probe
    // explosion in BOTH paths, and not the batch-centroid workload this
    // contract is about
    val pts = pages.filter(col("doc_id") % 10 < 6)
      .select("lon", "lat").as[(Double, Double)].collect()
    assert(pts.length > 100)
    val n = 10000
    // deterministic jitter: cycle page coordinates, offset by a hash-like
    // fraction of a cell so queries don't sit exactly on data points
    val queries = (0 until n).map { i =>
      val (lon, lat) = pts(i % pts.length)
      val j = ((i * 2654435761L) & 0xffff).toDouble / 0xffff.toDouble - 0.5
      Knn.Query(f"bq$i%05d", lon + 0.2 * j, lat - 0.15 * j)
    }
    val k = 3

    val all = pages.select("url", "lon", "lat").as[(String, Double, Double)].collect()
    val brute = queries.flatMap { q =>
      all.map { case (url, lon, lat) =>
        (graft.geom.Algorithms.geoDistance(q.lon, q.lat, lon, lat), url)
      }.sortBy(identity).take(k).zipWithIndex
        .map { case ((_, url), i) => (q.queryId, i + 1L, url) }
    }.toSet
    val qdf = queries.map(q => (q.queryId, q.lon, q.lat)).toDF("queryId", "lon", "lat")
    val viaBatch = Knn.knnBatch(pages, qdf, k)
      .select("queryId", "rank", "url").as[(String, Long, String)].collect().toSet

    assert(viaBatch.size == n * k, s"expected ${n * k} result rows, got ${viaBatch.size}")
    val onlyBrute = brute -- viaBatch
    val onlyBatch = viaBatch -- brute
    assert(onlyBrute.isEmpty && onlyBatch.isEmpty,
      s"knnBatch diverges from brute force: brute-only=${onlyBrute.take(5)} batch-only=${onlyBatch.take(5)}")

    // the clustered-index-cache gate (round 8): threshold 0 forces the
    // cellId-clustered layout, Long.MaxValue forces the plain cache —
    // both sides of the gate must be row-identical (layout only)
    val viaClustered = Knn.knnBatch(pages, qdf, k, clusterIndexThresholdBytes = 0L)
      .select("queryId", "rank", "url").as[(String, Long, String)].collect().toSet
    assert(viaClustered == viaBatch, "clustered-cache side of the gate diverged")
    val viaPlain = Knn.knnBatch(pages, qdf, k, clusterIndexThresholdBytes = Long.MaxValue)
      .select("queryId", "rank", "url").as[(String, Long, String)].collect().toSet
    assert(viaPlain == viaBatch, "plain-cache side of the gate diverged")
    pages.unpersist()
  }

  test("knnBatch fails loudly when the round budget exhausts") {
    val pages = Seq(("u1", 4.35, 50.85)).toDF("url", "lon", "lat")
    // one faraway query, budget 1 round: must throw, never return partials
    val qdf = Seq(("far", -170.0, -80.0)).toDF("queryId", "lon", "lat")
    val e = intercept[IllegalStateException] {
      Knn.knnBatch(pages, qdf, k = 1, maxRounds = 1).count()
    }
    assert(e.getMessage.contains("unfinished"))
  }
}
