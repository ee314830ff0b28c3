package graft.operators

import scala.util.Random

import graft.SparkTestBase
import graft.sources.Fixtures

/** Connected components (large-star/small-star) vs a brute-force
  * union-find, plus the near-dup clustering pipeline over the documents
  * fixture.
  */
class ClustersSpec extends SparkTestBase {
  import spark.implicits._

  private def unionFind(n: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(n.map(x => x -> x): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // label = min id of the component (find after full path compression)
    n.map(x => x -> find(x)).toMap
  }

  private def ccOf(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Clusters.connectedComponents(edges.toDF("a", "b"))
      .as[(Long, Long)].collect().toMap

  test("connectedComponents: chain, cycle, star, singleton-free") {
    // chain 1-2-3-4-5, cycle 10-11-12-10, star 20-{21,22,23}, pair 30-31
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (12L, 10L),
      (20L, 21L), (20L, 22L), (20L, 23L), (30L, 31L))
    val got = ccOf(edges)
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    assert(got == unionFind(nodes, edges))
    assert(got(5L) == 1L && got(12L) == 10L && got(23L) == 20L && got(31L) == 30L)
  }

  test("connectedComponents: exact-convergence mode matches union-find too") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (12L, 10L), (30L, 31L))
    spark.conf.set("graft.cc.exactConvergence", "true")
    try {
      val got = ccOf(edges)
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      assert(got == unionFind(nodes, edges))
    } finally spark.conf.unset("graft.cc.exactConvergence")
  }

  test("connectedComponents: random graphs match union-find (property)") {
    val rnd = new Random(42)
    (0 until 5).foreach { trial =>
      val n = 60 + rnd.nextInt(40)
      val ids = (0 until n).map(_ => rnd.nextInt(1000).toLong).distinct
      val edges = (0 until n).map { _ =>
        val a = ids(rnd.nextInt(ids.length))
        val b = ids(rnd.nextInt(ids.length))
        (a, b)
      }.filter(e => e._1 != e._2)
      val got = ccOf(edges)
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      assert(got == unionFind(nodes, edges), s"trial $trial")
    }
  }

  test("jaccardPairs: inverted index equals all-pairs brute force") {
    val docs = Fixtures.documents(spark, sf0001).cache()
    val got = Clusters.jaccardPairs(docs, 0.3)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
    // brute force: exact Jaccard over distinct word 3-grams, all pairs
    val sh = docs.select("doc_id", "text").as[(Long, String)].collect().map { case (id, t) =>
      val ts = t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      id -> (if (ts.length >= 3) ts.sliding(3).map(_.mkString(" ")).toSet else Set.empty[String])
    }
    val expected = (for {
      (ia, sa) <- sh; (ib, sb) <- sh if ia < ib
      inter = (sa & sb).size
      if inter > 0 && inter.toDouble / (sa.size + sb.size - inter) >= 0.3
    } yield (ia, ib)).toSet
    assert(got == expected)
    assert(got.nonEmpty, "fixture must contain near-dup docs")
  }

  test("labelClusters + canonical: all docs labeled; keepers are cluster-best") {
    val docs = Fixtures.documents(spark, sf0001).cache()
    val clusters = Clusters.labelClusters(docs, Clusters.jaccardPairs(docs, 0.3)).cache()
    assert(clusters.count() == docs.count(), "one label per doc")
    // cluster_id is a member of its own cluster and the minimum member
    val byCluster = clusters.as[(Long, Long)].collect().groupBy(_._2)
    byCluster.foreach { case (cid, members) =>
      assert(members.map(_._1).min == cid, s"cluster $cid label must be min member")
    }
    val keep = Clusters.canonical(docs, clusters).as[(Long, Long)].collect()
    assert(keep.length == byCluster.size, "one keeper per cluster")
    val lens = docs.select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) => id -> t.length }.toMap
    keep.foreach { case (cid, keeper) =>
      val members = byCluster(cid).map(_._1)
      val best = members.minBy(m => (-lens(m), m))
      assert(keeper == best, s"cluster $cid")
    }
  }
}
