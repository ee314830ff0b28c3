package graft.cells

import org.scalatest.funsuite.AnyFunSuite

class CellSpec extends AnyFunSuite {
  val rnd = new scala.util.Random(42)
  def randPt(): (Double, Double) = (rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 180 - 90)

  test("level round-trips through encoding") {
    for (l <- 0 to 30) {
      val id = Cell.cellAt(4.35, 50.85, l)
      assert(Cell.level(id) == l, s"level $l")
    }
  }

  test("hierarchy: parent range contains descendant leaves (S2-style range property)") {
    for (_ <- 1 to 500) {
      val (lon, lat) = randPt()
      val leaf = Cell.leaf(lon, lat)
      for (l <- 0 until 30) {
        val p = Cell.cellAt(lon, lat, l)
        assert(Cell.contains(p, leaf), s"level $l cell must contain leaf of same point")
        assert(Cell.parent(leaf, l) == p, "parent(leaf) == cellAt(point)")
      }
    }
  }

  test("children partition the parent range, in Hilbert order") {
    for (_ <- 1 to 100) {
      val (lon, lat) = randPt()
      val l = rnd.nextInt(29)
      val p = Cell.cellAt(lon, lat, l)
      val kids = Cell.children(p)
      assert(kids.length == 4)
      assert(kids.map(Cell.rangeMin).min == Cell.rangeMin(p))
      assert(kids.map(Cell.rangeMax).max == Cell.rangeMax(p))
      // contiguous, non-overlapping
      val sorted = kids.sortBy(Cell.rangeMin)
      for (i <- 0 until 3) assert(Cell.rangeMax(sorted(i)) + 2 == Cell.rangeMin(sorted(i + 1)))
      kids.foreach(k => assert(Cell.parent(k, l) == p))
    }
  }

  test("bounds contain the defining point; toXY round-trips") {
    for (_ <- 1 to 500) {
      val (lon, lat) = randPt()
      val l = rnd.nextInt(31)
      val id = Cell.cellAt(lon, lat, l)
      val (lonMin, latMin, lonMax, latMax) = Cell.bounds(id)
      assert(lon >= lonMin && lon <= lonMax && lat >= latMin && lat <= latMax,
        s"($lon,$lat) outside bounds of level-$l cell")
    }
  }

  test("hilbert locality: consecutive positions are grid neighbors") {
    val l = 8
    var prev: Option[(Long, Long)] = None
    for (h <- 0L until (1L << (2 * l))) {
      val id = Cell.fromHilbert(h, l)
      val (x, y, _) = Cell.toXY(id)
      prev.foreach { case (px, py) =>
        assert(math.abs(x - px) + math.abs(y - py) == 1,
          s"h=$h not adjacent: ($px,$py)->($x,$y)")
      }
      prev = Some((x, y))
    }
  }

  test("ancestors enumerates levels 4..22 of a leaf") {
    val leaf = Cell.leaf(4.35, 50.85)
    val anc = Cell.ancestors(leaf, 4, 22)
    assert(anc.length == 19)
    assert(anc.map(Cell.level).toSeq == (4 to 22))
    anc.foreach(a => assert(Cell.contains(a, leaf)))
  }

  test("ring r=1 has 8 interior neighbors; clipped at world edge") {
    val id = Cell.cellAt(0.0, 0.0, 10)
    assert(Cell.ring(id, 0).toSeq == Seq(id))
    val r1 = Cell.ring(id, 1)
    assert(r1.length == 8)
    r1.foreach(n => assert(Cell.level(n) == 10))
    val corner = Cell.cellAt(-179.999, -89.999, 10)
    assert(Cell.ring(corner, 1).length == 3)
  }

  test("table-driven cellAt is bit-identical to the one-level-per-step hilbertPos walk at every level") {
    val r = new scala.util.Random(20261019L)
    val random = Seq.fill(3000)(randPt())
    val edges = for (lon <- Seq(-180.0, 0.0, 180.0); lat <- Seq(-90.0, 0.0, 90.0)) yield (lon, lat)
    val odd = Seq(-180.5, 181.0, 1e300, -1e300, Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity, Math.nextUp(180.0), Math.nextDown(-180.0))
    val outOfRange = odd.flatMap(v => Seq((v, 10.0), (10.0, v / 2), (v, v)))
    // grid lines of every level, and the doubles one ulp either side
    val gridLines = Seq.fill(3000) {
      val l = r.nextInt(31)
      val k = (r.nextDouble() * (1L << l)).toLong
      val lon = k.toDouble / (1L << l) * 360.0 - 180.0
      val lat = k.toDouble / (1L << l) * 180.0 - 90.0
      Seq((lon, lat), (Math.nextUp(lon), lat), (Math.nextDown(lon), lat),
        (lon, Math.nextUp(lat)), (lon, Math.nextDown(lat)), (Math.nextUp(lon), Math.nextDown(lat)))
    }.flatten
    for ((lon, lat) <- random ++ edges ++ outOfRange ++ gridLines; l <- 0 to Cell.MaxLevel) {
      val (x, y) = Cell.xy(lon, lat)
      val want = Cell.fromHilbert(Cell.hilbertPos(x, y, l), l)
      assert(Cell.cellAt(lon, lat, l) == want, s"($lon, $lat) level $l")
      if (l == Cell.MaxLevel) assert(Cell.leaf(lon, lat) == want, s"leaf ($lon, $lat)")
    }
  }

  test("quadkey is z digits and consistent with tx/ty tiling math") {
    val lon = 4.35; val lat = 50.85; val z = 10
    val id = Cell.cellAt(lon, lat, z)
    val qk = Cell.quadkey(id)
    assert(qk.length == z)
    val n = 1L << z
    val tx = math.floor((lon + 180.0) / 360.0 * n).toLong
    val ty = math.floor((lat + 90.0) / 180.0 * n).toLong
    val (x, y, _) = Cell.toXY(id)
    assert(x == tx && y == ty)
  }
}

class CovererSpec extends AnyFunSuite {
  def sq(cx: Double, cy: Double, half: Double): IndexedSeq[(Double, Double)] =
    IndexedSeq((cx - half, cy - half), (cx + half, cy - half), (cx + half, cy + half),
      (cx - half, cy + half), (cx - half, cy - half))

  test("degenerate rings produce empty covers (lookup.go:183-189)") {
    // triangle: uniqueLength == 3 < 4 → skipped
    val tri = IndexedSeq((0.0, 0.0), (1.0, 0.0), (0.0, 1.0), (0.0, 0.0))
    assert(Coverer.cover(tri).isEmpty)
    // consecutive duplicates (the Hoorn regression shape) still skipped when
    // < 4 unique points remain
    val dup = IndexedSeq((0.0, 0.0), (0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 0.0))
    assert(Coverer.cover(dup).isEmpty)
    // 4 unique points with a duplicate survives dedup and covers
    val sq4 = IndexedSeq((0.0, 0.0), (0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0), (0.0, 0.0))
    assert(Coverer.cover(sq4).nonEmpty)
  }

  test("cover respects maxCells and level bounds") {
    val ring = sq(4.0, 51.0, 2.0)
    val cover = Coverer.cover(ring)
    assert(cover.nonEmpty && cover.length <= Coverer.MaxCells)
    cover.foreach { c =>
      val l = Cell.level(c)
      assert(l >= Coverer.MinLevel && l <= Coverer.MaxLevel)
    }
    assert(cover.sorted.sameElements(cover), "cover must be sorted for determinism")
  }

  test("cover covers the polygon: every interior sample's leaf is in some cell range") {
    val ring = sq(4.0, 51.0, 2.0)
    val cover = Coverer.cover(ring)
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 300) {
      val lon = 4.0 + (rnd.nextDouble() * 4 - 2) * 0.98
      val lat = 51.0 + (rnd.nextDouble() * 4 - 2) * 0.98
      val leaf = Cell.leaf(lon, lat)
      assert(cover.exists(c => Cell.contains(c, leaf)),
        s"interior point ($lon,$lat) not covered")
    }
  }

  test("point query via ancestor lookup matches cover ranges") {
    val ring = sq(4.0, 51.0, 2.0)
    val cover = Coverer.cover(ring).toSet
    val leaf = Cell.leaf(4.1, 51.1)
    val viaAncestors = Cell.ancestors(leaf, Coverer.MinLevel, Coverer.MaxLevel)
      .filter(cover.contains)
    val viaRanges = cover.filter(c => Cell.contains(c, leaf))
    assert(viaAncestors.toSet == viaRanges)
    assert(viaRanges.nonEmpty)
  }

  test("cover is deterministic") {
    val ring = sq(-60.0, -10.0, 5.0)
    assert(Coverer.cover(ring).toSeq == Coverer.cover(ring).toSeq)
  }

  private def poly(ring: IndexedSeq[(Double, Double)]) = graft.geom.Jts.polygon(ring)

  test("coverExact at the world edges: pole-touching and antimeridian-touching polygons") {
    // polygon touching the north-pole row and the antimeridian edge —
    // the exact coverer must neither crash nor miss interior points there
    val nearPole = poly(sq(0.0, 89.0, 0.9))
    val nearAm = poly(sq(-179.0, 0.0, 0.9))
    for ((g, probes) <- Seq(
      nearPole -> Seq((0.0, 89.5), (-0.5, 88.5)),
      nearAm -> Seq((-179.5, 0.5), (-178.3, -0.5)))) {
      val cells = Coverer.coverExact(g)
      assert(cells.nonEmpty)
      probes.foreach { case (lon, lat) =>
        val leaf = Cell.leaf(lon, lat)
        assert(cells.exists(c => Cell.contains(c, leaf)), s"($lon,$lat) not covered")
      }
      for (a <- cells; b <- cells if a != b) assert(!Cell.contains(a, b))
    }
  }

  test("coverExact terminates early on cells fully inside the polygon") {
    // a big polygon: the world refines to cells that are fully covered,
    // which must terminate (not refine to MaxLevel)
    val big = poly(sq(0.0, 0.0, 40.0))
    val cells = Coverer.coverExact(big)
    // minLevel forces refinement to level 4 regardless of budget (same as
    // the reference coverer), so a continent-sized polygon may exceed
    // MaxCells — but it must stay COARSE, not refine toward MaxLevel
    assert(cells.nonEmpty && cells.length < 200)
    assert(cells.forall(c => Cell.level(c) <= 8), s"early termination failed: ${cells.map(Cell.level).toSeq}")
  }
}
