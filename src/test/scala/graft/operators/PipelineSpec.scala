package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.DynamicPruning
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkTestBase
import graft.cells.{Cell, Coverer}
import graft.geom.Jts
import graft.sources.Fixtures

/** End-to-end checks of ingest → cover index → PIP join against an
  * independent brute-force JTS implementation (no cell index involved).
  */
class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  lazy val polys = Ingest.polygons(spark, Fixtures.nodesDf(spark), Fixtures.waysDf(spark),
    Fixtures.relationsDf(spark), Fixtures.blacklist).cache()
  lazy val covers = Ingest.cellCovers(polys).cache()
  lazy val pages = Fixtures.pages(spark, sf0001).cache()

  test("ingest filters: blacklist, tag-rejected and sub-area relations dropped") {
    val ids = polys.select("relId").as[Long].collect().toSet
    assert(!ids.contains(999L), "blacklisted")
    assert(!ids.contains(998L), "no accepted tag")
    assert(!ids.contains(997L), "area below 1e-5")
    assert(ids.contains(996L), "duplicate-point ring must survive (Hoorn regression)")
    assert(ids.contains(995L), "triangle assembles")
    assert(ids.contains(500L), "natural=water accepted")
    assert((100 to 104).forall(i => ids.contains(i.toLong)) &&
      (200 to 204).forall(i => ids.contains(i.toLong)) &&
      (300 to 304).forall(i => ids.contains(i.toLong)))
  }

  test("country 100 carries its hole; hole area subtracted") {
    val wkb = polys.filter($"relId" === 100L).select("wkb").as[Array[Byte]].head()
    val g = Jts.fromWkb(wkb)
    val shellOnly = Fixtures.octagon(4.35, 50.85, 5.0)
    val hole = Fixtures.octagon(4.35 + 3.0, 50.85, 0.8)
    val full = Jts.polygon(shellOnly :+ shellOnly.head)
    val holeP = Jts.polygon(hole :+ hole.head)
    assert(math.abs(g.getArea - (full.getArea - holeP.getArea)) < 1e-9)
    assert(!g.contains(Jts.point(7.35, 50.85)), "lake center must be outside")
  }

  test("degenerate triangle (relId 995) has no cover -> absent from cell_covers") {
    val covered = covers.select("relId").distinct().as[Long].collect().toSet
    assert(!covered.contains(995L))
    assert(covered.contains(996L), "dup-point ring is covered")
    covers.select("cellId").as[Long].collect().foreach { c =>
      val l = Cell.level(c)
      assert(l >= 4 && l <= 22)
    }
  }

  test("PIP broadcast join matches independent JTS brute force (index semantics)") {
    // brute force *through the index semantics*: only polygons with a
    // non-empty cover are findable (lookup.go:183-189)
    val dims = polys.select("relId", "layer", "wkb").as[(Long, String, Array[Byte])].collect()
      .filter { case (_, _, wkb) => Coverer.coverGeometry(Jts.fromWkb(wkb)).nonEmpty }
    val pts = pages.select("url", "lon", "lat").as[(String, Double, Double)].collect()
    val expected = (for {
      (url, lon, lat) <- pts
      (relId, layer, wkb) <- dims
      if Jts.fromWkb(wkb).contains(Jts.point(lon, lat))
    } yield (url, layer, relId)).toSet

    val got = PipJoin.matches(pages, covers, polys)
      .select("url", "layer", "relId").as[(String, String, Long)].collect().toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
    assert(got.nonEmpty)
  }

  test("partitioned+salted and broadcast-index PIP joins return identical rows to broadcast") {
    // exact multiset equality (sorted seq, not set): the three strategies
    // must agree on multiplicity too — one row per (url, layer, relId)
    val a = PipJoin.matches(pages, covers, polys)
      .select("url", "layer", "relId").as[(String, String, Long)].collect().toSeq.sorted
    val b = PipJoin.matchesPartitioned(pages, covers, polys, joinLevel = 8)
      .as[(String, String, Long)].collect().toSeq.sorted
    val c = PipJoin.matchesPartitioned(pages, covers, polys, joinLevel = 11)
      .as[(String, String, Long)].collect().toSeq.sorted
    val d = PipJoin.matchesIndexed(pages, covers, polys)
      .as[(String, String, Long)].collect().toSeq.sorted
    assert(a == a.distinct, "broadcast strategy emitted duplicate (url,layer,relId) rows")
    assert(a == b && a == c && a == d)
  }

  /** Runs the partitioned join; returns its rows, sorted, and whether the
    * executed plan holds the probe-side left-semi pre-filter. */
  private def partitionedRun(probe: DataFrame, cs: DataFrame, ps: DataFrame,
                             joinLevel: Int): (Seq[(String, String, Long)], Boolean) = {
    val df = PipJoin.matchesPartitioned(probe, cs, ps, joinLevel)
    val rows = df.as[(String, String, Long)].collect().toSeq.sorted
    (rows, df.queryExecution.executedPlan.toString.contains("LeftSemi"))
  }

  test("auto-prune on sparse covers: the probe side is semi-joined before the shuffle, rows unchanged") {
    // the fixture's city-sized covers hold a sliver of the 4^8 level-8 cells
    val a = PipJoin.matches(pages, covers, polys)
      .select("url", "layer", "relId").as[(String, String, Long)].collect().toSeq.sorted
    val (rows, pruned) = partitionedRun(pages, covers, polys, joinLevel = 8)
    assert(pruned, "sparse covers must prune the probe side")
    assert(rows == a)
  }

  test("auto-prune on dense covers: no probe semi-join, rows unchanged") {
    // a near-world box touches every cell of a coarse join level
    val box = IndexedSeq((-179.0, -89.0), (179.0, -89.0), (179.0, 89.0), (-179.0, 89.0))
    val worldDf = Seq((8000L, 2, "countries", "world", Jts.toWkb(Jts.polygon(box :+ box.head))))
      .toDF("relId", "adminLevel", "layer", "name", "wkb")
      .withColumn("bbox", graft.functions.GeomExpressions.st_envelope($"wkb"))
    val worldCovers = Ingest.cellCovers(worldDf)
    val a = PipJoin.matches(pages, worldCovers, worldDf)
      .select("url", "layer", "relId").as[(String, String, Long)].collect().toSeq.sorted
    val (rows, pruned) = partitionedRun(pages, worldCovers, worldDf, joinLevel = 1)
    assert(!pruned, "dense covers must not prune the probe side")
    assert(rows == a && a.nonEmpty)
  }

  test("auto-prune density rule: full grid coverage disables the probe semi-join") {
    // one quadtree square -> 4^jl cells at level jl (ADVICE r7 #1: a
    // doubled denominator capped the fraction at 0.5, making auto mode
    // prune unconditionally — dense covers paid a semi-join for nothing)
    val jl = 6
    val full = math.pow(4.0, jl).toLong
    assert(!PipJoin.autoPrune(full, jl), "full coverage must not prune")
    assert(!PipJoin.autoPrune((full * 0.9).toLong, jl), "90% coverage must not prune")
    assert(PipJoin.autoPrune((full * 0.5).toLong, jl), "sparse coverage must prune")
    assert(PipJoin.autoPrune(1L, jl))
  }

  test("partitioned strategy property: RANDOM joinLevel × salt all equal broadcast rows") {
    // the descend/lift key derivation must be lossless at ANY join level
    // (coarse cover cells descend 4^Δ, fine cells lift to their ancestor)
    // — seeded random draws beyond the two pinned levels above
    val a = PipJoin.matches(pages, covers, polys)
      .select("url", "layer", "relId").as[(String, String, Long)].collect().toSeq.sorted
    val rnd = new scala.util.Random(9001)
    for (_ <- 1 to 3) {
      val jl = 4 + rnd.nextInt(9) // 4..12
      val got = PipJoin.matchesPartitioned(pages, covers, polys, joinLevel = jl)
        .as[(String, String, Long)].collect().toSeq.sorted
      assert(got == a, s"joinLevel=$jl diverged from broadcast rows")
    }
  }

  test("multi-outer relation: overlapping per-polygon covers emit one row per (url,layer,relId)") {
    // a relation with two DISJOINT outer polygons whose per-polygon covers
    // overlap across levels: the small polygon is placed inside the big
    // polygon's coarsest cover cell (cover cells overshoot the geometry),
    // so a page inside the small polygon has BOTH polygons' cover cells on
    // its leaf's ancestor chain. Without cover normalization every strategy
    // would double-emit that match.
    val big = Fixtures.octagon(60.0, 10.0, 4.0) // coarse cover cells
    val bigCover = Coverer.cover(big :+ big.head)
    val coarse = bigCover.minBy(Cell.level)
    val (lonMin, latMin, lonMax, latMax) = Cell.bounds(coarse)
    val spot = (for {
      fy <- Seq(0.1, 0.3, 0.7, 0.9); fx <- Seq(0.1, 0.3, 0.7, 0.9)
      x = lonMin + fx * (lonMax - lonMin); y = latMin + fy * (latMax - latMin)
      if math.hypot(x - 60.0, y - 10.0) > 4.3 // strictly outside big
    } yield (x, y)).head
    val small = Fixtures.octagon(spot._1, spot._2, 0.05) // fine cover cells
    // precondition: the scenario is real — small's raw cover descends from
    // the big polygon's coarse cell
    val smallCover = Coverer.cover(small :+ small.head)
    assert(smallCover.nonEmpty && smallCover.forall(c => Cell.contains(coarse, c)),
      s"test setup: small cover ${smallCover.toSeq} not under $coarse")

    def wkbOf(ring: IndexedSeq[(Double, Double)]) = Jts.polygon(ring :+ ring.head)
    val multi = Jts.factory.createMultiPolygon(Array(wkbOf(big), wkbOf(small)))
    val polysDf = Seq((7000L, 2, "countries", "multi", Jts.toWkb(multi)))
      .toDF("relId", "adminLevel", "layer", "name", "wkb")
      .withColumn("bbox", graft.functions.GeomExpressions.st_envelope($"wkb"))
    val coversDf = Ingest.cellCovers(polysDf)
    // the cover must be normalized: no cell may have an ancestor in the set
    val cells = coversDf.select("cellId").as[Long].collect()
    for (c <- cells; l <- 0 until Cell.level(c))
      assert(!cells.contains(Cell.parent(c, l)), s"cell $c has ancestor in cover")

    val probe = Seq(("u1", spot._1, spot._2), ("u2", 60.0, 10.0), ("u3", -150.0, -70.0))
      .toDF("url", "lon", "lat")
    def rows(df: DataFrame) =
      df.select("url", "layer", "relId").as[(String, String, Long)].collect().toSeq.sorted
    val expected = Seq(("u1", "countries", 7000L), ("u2", "countries", 7000L))
    assert(rows(PipJoin.matches(probe, coversDf, polysDf)) == expected)
    assert(rows(PipJoin.matchesIndexed(probe, coversDf, polysDf)) == expected)
    assert(rows(PipJoin.matchesPartitioned(probe, coversDf, polysDf, joinLevel = 8)) == expected)
  }

  test("per-layer pivot: one row per url, min relId per layer") {
    val m = PipJoin.matches(pages, covers, polys).cache()
    val got = PipJoin.perLayer(m, Seq("countries", "regions", "cities", "water"))
    val rows = got.collect()
    // one row per distinct matched url
    assert(rows.length == m.select("url").distinct().count())
    // spot-check against a brute-force pivot of the match rows
    val raw = m.select("url", "layer", "relId").as[(String, String, Long)].collect()
    val expect = raw.groupBy(_._1).map { case (url, rs) =>
      url -> rs.groupBy(_._2).map { case (l, g) => l -> g.map(_._3).min }
    }
    rows.foreach { r =>
      val url = r.getString(r.fieldIndex("url"))
      Seq("countries", "regions", "cities", "water").foreach { l =>
        val got = if (r.isNullAt(r.fieldIndex(l))) None else Some(r.getLong(r.fieldIndex(l)))
        assert(got == expect(url).get(l), s"$url/$l")
      }
    }
  }

  test("completeness anti-join: missing = pages not matched in all 3 layers") {
    val m = PipJoin.matches(pages, covers, polys)
    val miss = PipJoin.missing(pages, m, Seq("countries", "regions", "cities"))
      .select("url").as[String].collect().toSet
    val full = m.filter($"layer".isin("countries", "regions", "cities"))
      .groupBy("url").agg(countDistinct("layer").as("n"))
      .filter($"n" === 3).select("url").as[String].collect().toSet
    val all = pages.select("url").as[String].collect().toSet
    assert(miss == all -- full)
  }

  test("suggestion rules: restricted layer filtered by admin level") {
    val m = PipJoin.matches(pages, covers, polys)
    val miss = PipJoin.missing(pages, m, Seq("countries", "regions", "cities"))
    val unrestricted = PipJoin.suggestions(miss, covers, polys, m, Nil)
    val restricted = PipJoin.suggestions(miss, covers, polys, m,
      Seq(PipJoin.MatchRule("countries", 100L, "cities", Seq(99))))
    // pages matched to country 100 lose all 'cities' suggestions (level 99 impossible)
    val urls100 = m.filter($"layer" === "countries" && $"relId" === 100L)
      .select("url").as[String].collect().toSet
    val r = restricted.filter($"layer" === "cities").select("url").as[String].collect().toSet
    assert(r.intersect(urls100).isEmpty)
    assert(unrestricted.count() >= restricted.count())
  }

  test("water shapefile pipeline: island hole subtracted, speck dropped") {
    val w = Ingest.waterPolygons(spark, Fixtures.waterDf(spark))
      .select("id", "wkb").as[(Long, Array[Byte])].collect()
    assert(w.length == 1)
    val g = Jts.fromWkb(w.head._2)
    assert(!g.contains(Jts.point(-1.0, 50.85)), "island center outside water")
    assert(g.contains(Jts.point(-1.0, 52.0)), "ocean north inside")
  }

  test("per-row invariant: text byte-identical through pages derivation") {
    val docs = Fixtures.documents(spark, sf0001).select("doc_id", "text")
      .as[(Long, String)].collect().toMap
    val pg = pages.select("doc_id", "text", "html").as[(Long, String, Array[Byte])].collect()
    pg.foreach { case (id, text, html) =>
      assert(text == docs(id))
      assert(new String(html, "UTF-8") == s"<html><body>${docs(id)}</body></html>")
    }
  }

  test("tile assignment consistent between SQL tx/ty math and hilbert cell") {
    val t = Tiling.assign(pages, 10)
      .select("tx", "ty", "cellId").as[(Long, Long, Long)].collect()
    t.foreach { case (tx, ty, cellId) =>
      val (x, y, l) = Cell.toXY(cellId)
      assert(l == 10 && x == tx && y == ty)
    }
  }

  test("raster -> vector round trip covers the polygon") {
    val cityPolys = polys.filter($"layer" === "cities")
    val raster = Tiling.rasterize(cityPolys, 10)
    val vector = Tiling.vectorize(raster)
    val orig = cityPolys.select("relId", "wkb").as[(Long, Array[Byte])].collect().toMap
    val back = vector.as[(Long, Array[Byte])].collect()
    assert(back.length == orig.size)
    back.foreach { case (relId, wkb) =>
      val approx = Jts.fromWkb(wkb)
      val exact = Jts.fromWkb(orig(relId))
      // rasterization at a fixed level covers the original polygon
      assert(approx.covers(exact), s"relId $relId not covered")
    }
  }

  test("kNN expanding-ring equals brute force") {
    val qs = Seq(Knn.Query("q0", 4.35, 50.85), Knn.Query("far", -170.0, -80.0))
    val got = Knn.knn(pages, qs, k = 5)
      .select("queryId", "rank", "url").as[(String, Long, String)].collect()
      .groupBy(_._1).map { case (q, rows) => q -> rows.sortBy(_._2).map(_._3).toSeq }
    val pts = pages.select("url", "lon", "lat").as[(String, Double, Double)].collect()
    qs.foreach { q =>
      val brute = pts.map { case (url, lon, lat) =>
        (graft.geom.Algorithms.geoDistance(q.lon, q.lat, lon, lat), url)
      }.sortBy(identity).take(5).map(_._2).toSeq
      assert(got(q.queryId) == brute, s"query ${q.queryId}")
    }
  }

  test("raw topology over split octagons: chord shared, chains per-ring") {
    val topo = TopoPipeline.topology(
      graft.sources.Fixtures.splitOctagonsDf(spark), simplifyDigits = 0, quantize = 0)
    try {
      // 5 cities × (west chain + east chain + shared chord) = 15 arcs, 20 uses
      val arcs = topo.arcs.select("arcId").as[Long].collect()
      assert(arcs.length == 15 && arcs.toSet == (0L until 15L).toSet)
      assert(topo.uses.count() == 20)
      val useCounts = topo.uses.groupBy("arcId").count()
        .as[(Long, Long)].collect().map(_._2).sorted.toSeq
      // 5 chords used twice (shared border), 10 chains used once
      assert(useCounts == Seq.fill(10)(1L) ++ Seq.fill(5)(2L))
    } finally topo.release()
  }

  test("kNN over the partition-pruned parquet index equals the cached search") {
    val path = tempDir("knn_idx").toString
    Knn.writeIndexed(pages, path)
    val qs = Seq(Knn.Query("q0", 4.35, 50.85), Knn.Query("far", -170.0, -80.0))
    val a = Knn.knn(pages, qs, k = 5)
      .select("queryId", "rank", "url").as[(String, Long, String)].collect().toSet
    // every plan knnIndexed executes, to inspect its scans of the index
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val b = try Knn.knnIndexed(spark, path, qs, k = 5)
      .select("queryId", "rank", "url").as[(String, Long, String)].collect().toSet
    finally {
      org.apache.spark.graft.TestBridge.drainListenerBus(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    assert(a == b && a.nonEmpty)
    // the per-round read prunes partition DIRECTORIES: every scan of the
    // index must carry the parent-cell filter in its PartitionFilters,
    // planned from literals rather than left to dynamic partition pruning
    // — this is what bounds a round's IO at planet scale
    val helper = new AdaptiveSparkPlanHelper {}
    val scans = plans.asScala.toSeq.flatMap(plan => helper.collectWithSubqueries(plan) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(path)) => s
    })
    assert(scans.nonEmpty, "knnIndexed ran no scan of the index")
    scans.foreach { s =>
      assert(s.partitionFilters.exists(f => f.references.exists(_.name == "pcell") &&
          !f.exists(_.isInstanceOf[DynamicPruning])),
        s"index scan without a pcell partition filter:\n$s")
    }
  }

  test("entry returns rows") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }

  test("SQL registration: st_ functions callable from spark.sql") {
    val df = spark.sql(
      "SELECT st_area(st_buffer0(st_point(1.0d, 2.0d))) AS a, st_cell_at(4.35d, 50.85d, 10) AS c")
    val row = df.head()
    assert(row.getDouble(0) == 0.0)
    assert(Cell.level(row.getLong(1)) == 10)
  }
}
