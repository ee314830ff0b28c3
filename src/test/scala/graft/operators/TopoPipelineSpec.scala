package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.geom.Jts
import graft.sources.Fixtures

class TopoPipelineSpec extends SparkTestBase {
  import spark.implicits._

  def sq(x0: Double, y0: Double, x1: Double, y1: Double,
         midpoints: Boolean = false): org.locationtech.jts.geom.Polygon = {
    val base = IndexedSeq((x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0))
    val ring = if (!midpoints) base
    else base.sliding(2).flatMap { case Seq(a, b) =>
      Seq(a, ((a._1 + b._1) / 2, (a._2 + b._2) / 2))
    }.toIndexedSeq :+ base.head
    Jts.polygon(ring)
  }

  def features(geoms: (Long, org.locationtech.jts.geom.Geometry)*) =
    geoms.map { case (id, g) => (id, Jts.toWkb(g)) }.toDF("objId", "wkb")
      .withColumn("bbox", graft.functions.GeomExpressions.st_envelope(col("wkb")))

  test("canonical TopoJSON example: two adjacent squares -> 3 arcs, shared arc reused") {
    val fs = features(1L -> sq(0, 0, 1, 1), 2L -> sq(1, 0, 2, 1))
    val topo = TopoPipeline.topology(fs, 0, 0)
    assert(topo.arcs.count() == 3, "A-only boundary, shared border, B-only boundary")
    val uses = topo.uses.select("objId", "arcId", "reversed")
      .as[(Long, Long, Boolean)].collect()
    assert(uses.length == 4, "2 arcs per square")
    val shared = uses.groupBy(_._2).filter(_._2.length == 2).keys.toSeq
    assert(shared.length == 1, "exactly one shared arc")
    val sharedUses = uses.filter(_._2 == shared.head)
    assert(sharedUses.map(_._3).toSet == Set(true, false),
      "shared border used forward by one object and reversed by the other")
  }

  test("junction detection: isolated ring has no junctions, one closed arc") {
    val fs = features(1L -> sq(0, 0, 1, 1), 2L -> sq(5, 5, 6, 6))
    val topo = TopoPipeline.topology(fs, 0, 0)
    assert(topo.arcs.count() == 2)
    val pts = topo.arcs.select("pts").as[Seq[(Double, Double)]].collect()
    pts.foreach(p => assert(p.head == p.last, "closed arcs"))
  }

  test("per-arc DP simplification pins junctions: shared border stays shared") {
    val fs = features(1L -> sq(0, 0, 1, 1, midpoints = true), 2L -> sq(1, 0, 2, 1, midpoints = true))
    val topo = TopoPipeline.topology(fs, simplifyDigits = 1, quantize = 0) // tol 0.1 removes midpoints
    val arcs = topo.arcs.select("pts").as[Seq[(Double, Double)]].collect()
    // collinear midpoints removed everywhere, junction endpoints kept
    arcs.foreach { a =>
      a.foreach { case (x, y) =>
        assert(x == math.rint(x) && y == math.rint(y), s"midpoint survived: ($x,$y) in $a") }
    }
    // topology preserved: reconstructing still yields adjacent polygons
    val rec = Export.reconstruct(topo).as[(Long, Array[Byte])].collect().toMap
    val g1 = Jts.fromWkb(rec(1L)); val g2 = Jts.fromWkb(rec(2L))
    assert(g1.getArea == 1.0 && g2.getArea == 1.0)
    assert(g1.intersection(g2).getLength == 1.0, "shared border intact")
  }

  test("identical isolated rings with different starting points share one arc") {
    val ringA = IndexedSeq((0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0), (0.0, 0.0))
    val ringB = IndexedSeq((1.0, 1.0), (0.0, 1.0), (0.0, 0.0), (1.0, 0.0), (1.0, 1.0)) // rotated
    val fs = features(1L -> graft.geom.Jts.polygon(ringA), 2L -> graft.geom.Jts.polygon(ringB))
    val topo = TopoPipeline.topology(fs, 0, 0)
    assert(topo.arcs.count() == 1, "rotated identical rings must dedup to one arc")
    assert(topo.uses.count() == 2)
  }

  test("reconstruct round-trips geometry without simplification") {
    val fs = features(1L -> sq(0, 0, 1, 1), 2L -> sq(1, 0, 2, 1))
    val topo = TopoPipeline.topology(fs, 0, 0)
    val rec = Export.reconstruct(topo).as[(Long, Array[Byte])].collect().toMap
    assert(Jts.fromWkb(rec(1L)).norm().equalsExact(sq(0, 0, 1, 1).norm()))
    assert(Jts.fromWkb(rec(2L)).norm().equalsExact(sq(1, 0, 2, 1).norm()))
  }

  test("quantization: deltas decode to grid coords within transform bounds") {
    val fs = features(1L -> sq(0, 0, 1, 1), 2L -> sq(1, 0, 2, 1))
    val topo = TopoPipeline.topology(fs, 0, quantize = 1e4)
    val (kx, ky, x0, y0) = topo.transform.get
    val q = topo.arcsQ.get.select("qpts").as[Seq[(Int, Int)]].collect()
    q.foreach { deltas =>
      var x = 0; var y = 0
      deltas.zipWithIndex.foreach { case ((dx, dy), i) =>
        if (i == 0) { x = dx; y = dy } else { x += dx; y += dy }
        assert(x >= 0 && x <= 9999 && y >= 0 && y <= 9999)
        // decoded coordinate lands back on an original vertex
        val lon = x / kx + x0; val lat = y / ky + y0
        assert(math.abs(lon - math.rint(lon)) < 1e-3 && math.abs(lat - math.rint(lat)) < 1e-3)
      }
    }
  }

  test("topology round-trip property: seeded random shared-border partition reconstructs exactly") {
    // rings → topology(0,0) → reconstruct must reproduce the input
    // geometry EXACTLY — this pins the P8 arc cut/dedup semantics beyond
    // the golden hash. A random 6×6 grid partition into 4 objects is a
    // worst case for junction cutting: nearly every vertex is a junction
    // and nearly every arc is shared between two objects.
    val rnd = new scala.util.Random(20260816L)
    val cells = for (i <- 0 until 6; j <- 0 until 6) yield (i, j, rnd.nextInt(4))
    val geoms = (0 until 4).flatMap { o =>
      val parts = cells.collect { case (i, j, `o`) =>
        sq(i.toDouble, j.toDouble, i + 1.0, j + 1.0): org.locationtech.jts.geom.Geometry }
      if (parts.isEmpty) None else Some((o + 1L, parts.reduce(_ union _)))
    }
    val fs = features(geoms: _*)
    val topo = TopoPipeline.topology(fs, 0, 0)
    val rec = Export.reconstruct(topo).as[(Long, Array[Byte])].collect().toMap
    geoms.foreach { case (id, g) =>
      assert(Jts.fromWkb(rec(id)).norm().equalsExact(g.norm()),
        s"objId=$id drifted through topology round-trip")
    }
    // shared arcs actually exercised (not 4 isolated rings)
    val sharedArcs = topo.uses.groupBy("arcId").count().filter(col("count") > 1).count()
    assert(sharedArcs > 5, s"partition should share many arcs, got $sharedArcs")
  }

  test("closed-form grid: G×G subdivided squares give 2G(G+1)-4 arcs, 4G²-4 uses, raw and quantized") {
    // A G×G grid of unit squares whose edges are subdivided into S
    // segments, so every interior edge is a full shared vertex chain.
    // Junctions are the grid corners except the 4 outer ones (degree-1
    // points inside one ring), where the two boundary edges merge into
    // one 2-edge arc: arcs = grid edges - 4, uses = 4 per square - 4,
    // and every arc holds S+1 points, or 2S+1 for the 4 merged ones.
    val g = 6
    val s = 4
    // every edge is generated from its low corner, ascending, and
    // reversed as a list where a ring walks it the other way, so both
    // rings hold bit-identical coordinates (recomputing them reversed,
    // (j+1) - k/s vs j + (s-k)/s, differs by 1 ulp on non-dyadic
    // fractions and breaks the dedup key)
    def hEdge(x0: Int, y0: Int) = (0 to s).map(k => (x0 + k.toDouble / s, y0.toDouble))
    def vEdge(x0: Int, y0: Int) = (0 to s).map(k => (x0.toDouble, y0 + k.toDouble / s))
    val squares = for (j <- 0 until g; i <- 0 until g) yield {
      val ring = hEdge(i, j).dropRight(1) ++ vEdge(i + 1, j).dropRight(1) ++
        hEdge(i, j + 1).reverse.dropRight(1) ++ vEdge(i, j).reverse.dropRight(1)
      (j * g + i).toLong -> (Jts.polygon(ring :+ ring.head): org.locationtech.jts.geom.Geometry)
    }
    val fs = features(squares: _*)
    Seq(0.0, 1e6).foreach { quantize =>
      val topo = TopoPipeline.topology(fs, simplifyDigits = 0, quantize = quantize)
      try {
        assert(topo.arcs.count() == 2L * g * (g + 1) - 4, s"arcs, quantize=$quantize")
        assert(topo.uses.count() == 4L * g * g - 4, s"uses, quantize=$quantize")
        val sizes = topo.arcs.select(size(col("pts"))).as[Int].collect().toSet
        assert(sizes == Set(s + 1, 2 * s + 1), s"points per arc, quantize=$quantize")
      } finally topo.release()
    }
  }

  test("topology round-trip property: fixture polygons (holes + multipolygons) reconstruct exactly") {
    val polys = Ingest.polygons(spark, Fixtures.nodesDf(spark), Fixtures.waysDf(spark),
      Fixtures.relationsDf(spark), Fixtures.blacklist)
    val fs = polys.select(col("relId").as("objId"), col("wkb"), col("bbox"))
    val topo = TopoPipeline.topology(fs, 0, 0)
    val rec = Export.reconstruct(topo).as[(Long, Array[Byte])].collect().toMap
    val orig = fs.select("objId", "wkb").as[(Long, Array[Byte])].collect().toMap
    assert(rec.keySet == orig.keySet)
    orig.foreach { case (id, wkb) =>
      assert(Jts.fromWkb(rec(id)).norm().equalsExact(Jts.fromWkb(wkb).norm()),
        s"objId=$id drifted through topology round-trip")
    }
  }

  test("water clip subtracts intersecting water, leaves others untouched") {
    val fs = features(1L -> sq(0, 0, 2, 2), 2L -> sq(10, 10, 11, 11))
    val water = Seq((1L, Jts.toWkb(sq(-1, -1, 1, 1)))).toDF("id", "wkb")
    val clipped = TopoPipeline.clipWater(fs, water, 0)
      .select("objId", "wkb").as[(Long, Array[Byte])].collect().toMap
    assert(math.abs(Jts.fromWkb(clipped(1L)).getArea - 3.0) < 1e-12) // 4 - 1 overlap
    assert(Jts.fromWkb(clipped(2L)).getArea == 1.0)
  }

  test("water clip: cell-join path (forced) returns the broadcast path's rows exactly") {
    // multi-feature / multi-water with containment both ways: a large
    // water body containing a small feature (water envelope-cell is the
    // feature cell's ancestor) and a small pond inside a large feature
    // (feature cell strict ancestor of the water cell), plus a
    // non-overlapping pair, plus overlapping water ids whose difference
    // order matters (fold in id order).
    val fs = features(
      1L -> sq(0, 0, 2, 2), 2L -> sq(10, 10, 11, 11),
      3L -> sq(-50, -50, -20, -20), 4L -> sq(30.2, 30.2, 30.3, 30.3))
    val water = Seq(
      (1L, Jts.toWkb(sq(-1, -1, 1, 1))),
      (2L, Jts.toWkb(sq(0.5, 0.5, 1.5, 1.5))),
      (3L, Jts.toWkb(sq(-40, -40, -30, -30))), // pond inside feature 3
      (4L, Jts.toWkb(sq(30, 30, 31, 31)))      // contains feature 4 entirely
    ).toDF("id", "wkb")
    val viaBroadcast = TopoPipeline.clipWater(fs, water, 0)
      .select("objId", "wkb").as[(Long, Array[Byte])].collect().toMap
    val viaJoin = TopoPipeline.clipWater(fs, water, 0, broadcastLimitBytes = 0L)
      .select("objId", "wkb").as[(Long, Array[Byte])].collect().toMap
    assert(viaJoin.keySet == viaBroadcast.keySet)
    viaBroadcast.foreach { case (id, wkb) =>
      assert(Jts.fromWkb(viaJoin(id)).norm().equalsExact(Jts.fromWkb(wkb).norm()),
        s"objId=$id differs between join and broadcast clip paths")
    }
    // sanity on values, not just path equality
    assert(math.abs(Jts.fromWkb(viaJoin(1L)).getArea - (4.0 - 1.0 - 0.75)) < 1e-12)
    assert(Jts.fromWkb(viaJoin(2L)).getArea == 1.0)
    assert(math.abs(Jts.fromWkb(viaJoin(3L)).getArea - (900.0 - 100.0)) < 1e-9)
    assert(Jts.fromWkb(viaJoin(4L)).getArea == 0.0, "feature fully underwater")
  }

  test("clip-rect fixture: closed-form bands, shared post-clip arcs, join-path parity") {
    // the q_topo_clip_rect subject: overlay output must be exactly the
    // interval-subtraction band decomposition the DuckDB oracle predicts
    val fs = Fixtures.clipRectFeaturesDf(spark)
    val water = Fixtures.clipRectWaterDf(spark)
    val clipped = TopoPipeline.clipWater(fs, water, 0)
      .select("objId", "wkb").as[(Long, Array[Byte])].collect().toMap
    // feature 5 fully erased, feature 4 untouched
    assert(Jts.fromWkb(clipped(5L)).getArea == 0.0)
    assert(Jts.fromWkb(clipped(4L)).getArea == 100.0)
    // C: strips [3,5]+[5,8] (touching) + top-crossing [18,25] leave bands
    // [0,3] and [8,18] -> area 30 + 100
    assert(math.abs(Jts.fromWkb(clipped(3L)).getArea - 130.0) < 1e-12)
    // F: five strips of height 2 leave six 4-high bands... first band
    // [0,2], interior gaps [4,8],[10,14],[16,20],[22,26], last [28,30]
    assert(math.abs(Jts.fromWkb(clipped(6L)).getArea - (10.0 * (2 + 4 + 4 + 4 + 4 + 2))) < 1e-12)
    // forced join path is row-identical (same discipline as the curved test)
    val viaJoin = TopoPipeline.clipWater(fs, water, 0, broadcastLimitBytes = 0L)
      .select("objId", "wkb").as[(Long, Array[Byte])].collect().toMap
    assert(viaJoin.keySet == clipped.keySet)
    clipped.foreach { case (id, wkb) =>
      assert(Jts.fromWkb(viaJoin(id)).norm().equalsExact(Jts.fromWkb(wkb).norm()),
        s"objId=$id differs between join and broadcast clip paths")
    }
    // topology over the clipped output: features 1|2 share the cut edge
    // x=10 segments -> exactly two dedup'd shared arcs used by both
    val topo = TopoPipeline.topology(
      TopoPipeline.clipWater(fs, water, 0), 0, 0)
    val sharedArcs = topo.uses.groupBy("arcId")
      .agg(countDistinct("objId").as("n")).filter(col("n") === 2).count()
    assert(sharedArcs == 2, "two shared arcs across the A|B edge post-clip")
    topo.release()
  }

  test("greedy slicer rejects planet-scale object tables loudly (O(n²) guard)") {
    val big = spark.range(TopoPipeline.MaxSliceObjects + 1L)
      .selectExpr("id AS objId", "0.0 AS minx", "0.0 AS miny",
        "1.0 AS maxx", "1.0 AS maxy", "10 AS nPoints")
    val e = intercept[IllegalArgumentException] {
      TopoPipeline.slices(big, pointLimit = 100)
    }
    assert(e.getMessage.contains("greedy"))
  }

  test("greedy slicer reproduces reference arithmetic (phantom origin start)") {
    // three objects: centers per the bb[0]+bb[2]/2 quirk
    val objs = Seq(
      (1L, 0.0, 0.0, 1.0, 1.0, 6L),   // center (0.5, 0.5)
      (2L, 10.0, 0.0, 11.0, 1.0, 6L), // center (15.5, 0.5)  [quirk: 10+11/2]
      (3L, 0.0, 10.0, 1.0, 11.0, 6L)  // center (0.5, 15.5)
    ).toDF("objId", "minx", "miny", "maxx", "maxy", "nPoints")
    val s = TopoPipeline.slices(objs, pointLimit = 10)
    // first pick: nearest to (0,0) = obj 1; pointCount 6 < 10 -> second pick
    // from mean((0,0),(0.5,0.5)): obj with min distance among 2,3
    val bySlice = s.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(s.toMap.apply(1L) == 0)
    assert(bySlice(0).size == 2, "slice 0 holds two objects (6+6 >= 10 stops)")
    assert(bySlice(1).size == 1)
  }

  test("export layer end-to-end over fixture polygons") {
    val polys = Ingest.polygons(spark, Fixtures.nodesDf(spark), Fixtures.waysDf(spark),
      Fixtures.relationsDf(spark), Fixtures.blacklist)
    val water = Ingest.waterPolygons(spark, Fixtures.waterDf(spark))
    val curated = Seq(100L, 101L, 102L, 103L, 104L)
    val res = Export.layer(polys, water, "countries", curated,
      simplifyDigits = 3, quantize = 1e6, pointLimit = 20)
    assert(res.topo.objects.count() == 5)
    assert(res.slices.map(_._1).toSet == curated.toSet)
    assert(res.topo.arcsQ.get.count() == res.topo.arcs.count())
    // names enrichment
    val named = Export.withNames(polys, Fixtures.relationsDf(spark), Seq("nl", "en"))
    val row = named.filter(col("relId") === 100L).select("name", "name_nl").head()
    assert(row.getString(0) == "country_brussels" && row.getString(1) == "land_brussels")
  }

  test("dpRects fixture: DP at 1e-2 keeps AND drops on every long arc, pins kept coords") {
    // the q_topo_arcs_dp subject: same build twice, with and without DP —
    // arc keys hash the PRE-simplify canonical serialization, so arcIds
    // line up between the two builds and per-arc keep counts compare 1:1
    val raw = TopoPipeline.topology(Fixtures.dpRectsDf(spark), 0, 0)
    val simp = TopoPipeline.topology(Fixtures.dpRectsDf(spark), simplifyDigits = 2, quantize = 0)
    val rawPts = raw.arcs.select("arcId", "pts")
      .as[(Long, Seq[(Double, Double)])].collect().toMap
    val simpPts = simp.arcs.select("arcId", "pts")
      .as[(Long, Seq[(Double, Double)])].collect().toMap
    // 5 cities x (west half, east half, shared chord) + 1 extra arc from the
    // genuine cross-city junction at (2.35, 49.85): the Paris chord top IS a
    // vertex of Brussels's west-half bottom edge corner, splitting one arc
    assert(rawPts.size == 16, s"expected 16 arcs, got ${rawPts.size}")
    assert(simpPts.keySet == rawPts.keySet, "DP must not add/remove/reorder arcs")
    simpPts.foreach { case (id, sp) =>
      val rp = rawPts(id)
      // endpoints pinned, kept points an ORDERED SUBSEQUENCE of raw input
      assert(sp.head == rp.head && sp.last == rp.last, s"arc $id endpoints moved")
      val it = rp.iterator
      assert(sp.forall(p => it.contains(p)), s"arc $id kept a non-input or out-of-order point")
      if (rp.length >= 9) { // every edge-subdivided arc: nontrivial BOTH ways
        assert(sp.length > 2, s"arc $id dropped all interior points")
        assert(sp.length < rp.length, s"arc $id kept all interior points")
      }
    }
    raw.release(); simp.release()
  }
}
