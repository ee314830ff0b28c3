package graft.geom

import org.scalatest.funsuite.AnyFunSuite

class AlgorithmsSpec extends AnyFunSuite {
  val unitSquareCW: IndexedSeq[(Double, Double)] =
    IndexedSeq((0.0, 0.0), (0.0, 1.0), (1.0, 1.0), (1.0, 0.0), (0.0, 0.0))
  val unitSquareCCW: IndexedSeq[(Double, Double)] = unitSquareCW.reverse

  test("ringArea sign convention matches reference formula (util.go:273-286)") {
    // formula: sum((x2-x1)*(y2+y1))/2 — CW (per isClockwise) is positive
    assert(Algorithms.ringArea(unitSquareCW) == 1.0)
    assert(Algorithms.ringArea(unitSquareCCW) == -1.0)
  }

  test("isClockwise matches lookup/util.go:3-10 (ties are clockwise)") {
    assert(Algorithms.isClockwise(unitSquareCW))
    assert(!Algorithms.isClockwise(unitSquareCCW))
    // degenerate zero-area ring: sum==0 → clockwise
    assert(Algorithms.isClockwise(IndexedSeq((0.0, 0.0), (1.0, 0.0), (0.0, 0.0))))
  }

  test("uniqueLength counts distinct points") {
    val pts = IndexedSeq((0.0, 0.0), (0.0, 0.0), (1.0, 1.0), (0.0, 0.0))
    assert(Algorithms.uniqueLength(pts) == 2)
  }

  test("visvalingam removes sub-threshold spikes, keeps endpoints") {
    val line = IndexedSeq((0.0, 0.0), (1.0, 1e-8), (2.0, 0.0), (3.0, 5.0), (4.0, 0.0))
    val out = Algorithms.visvalingam(line, 1e-5)
    assert(out.head == line.head && out.last == line.last)
    assert(!out.contains((1.0, 1e-8)))   // tiny triangle removed
    assert(out.contains((3.0, 5.0)))     // big triangle kept
  }

  test("visvalingam threshold 0 keeps everything") {
    val line = IndexedSeq((0.0, 0.0), (1.0, 0.5), (2.0, 0.0))
    assert(Algorithms.visvalingam(line, 0.0) == line)
  }

  test("douglasPeucker pins endpoints and respects tolerance") {
    val line = IndexedSeq((0.0, 0.0), (1.0, 0.001), (2.0, 0.0), (3.0, 2.0), (4.0, 0.0))
    val out = Algorithms.douglasPeucker(line, 0.01)
    assert(out == IndexedSeq((0.0, 0.0), (2.0, 0.0), (3.0, 2.0), (4.0, 0.0)))
    assert(Algorithms.douglasPeucker(line, 1e-9) == line)
  }

  test("geoDistance equirectangular approximation") {
    // one degree of latitude at the equator ≈ 111.3 km with R=6378137
    val d = Algorithms.geoDistance(0, 0, 0, 1)
    assert(math.abs(d - 6378137.0 * math.Pi / 180.0) < 1e-6)
    assert(Algorithms.geoDistance(3.0, 51.0, 3.0, 51.0) == 0.0)
  }
}

class PolygonAssemblySpec extends AnyFunSuite {
  def sq(cx: Double, cy: Double, half: Double): IndexedSeq[(Double, Double)] =
    IndexedSeq((cx - half, cy - half), (cx + half, cy - half), (cx + half, cy + half),
      (cx - half, cy + half), (cx - half, cy - half))

  test("single polygon, hole assigned to containing shell only") {
    val shellA = sq(0, 0, 1)        // area 4
    val shellB = sq(10, 10, 1)      // area 4
    val holeInA = sq(0, 0, 0.25)    // area 0.25, inside A
    val g = PolygonAssembly.makePolygons(Seq(shellA, shellB), Seq(holeInA)).get
    assert(g.getGeometryType == "MultiPolygon")
    assert(g.getNumGeometries == 2)
    assert(math.abs(g.getGeometryN(0).getArea - (4 - 0.25)) < 1e-12)
    assert(math.abs(g.getGeometryN(1).getArea - 4) < 1e-12)
  }

  test("hole consumed by first containing shell (polygon.go:34-36)") {
    val inner = sq(0, 0, 0.25)
    val g = PolygonAssembly.makePolygons(Seq(sq(0, 0, 1), sq(0, 0, 2)), Seq(inner)).get
    // first shell claims the hole; second (enclosing) shell keeps full area
    assert(math.abs(g.getGeometryN(0).getArea - 3.75) < 1e-12)
    assert(math.abs(g.getGeometryN(1).getArea - 16.0) < 1e-12)
  }

  test("polygons below 1e-5 area dropped; single survivor is a Polygon") {
    val tiny = sq(0, 0, 0.001)  // area 4e-6 < 1e-5
    val big = sq(5, 5, 1)
    val g = PolygonAssembly.makePolygons(Seq(tiny, big), Nil).get
    assert(g.getGeometryType == "Polygon")
    assert(math.abs(g.getArea - 4) < 1e-12)
  }

  test("unclosed ring aborts the relation (GEOS NewPolygon error semantics)") {
    val open = IndexedSeq((0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)) // not closed
    assert(PolygonAssembly.makePolygons(Seq(open), Nil).isEmpty)
  }

  test("assembleRelation: chains expand through node lookup; missing node aborts") {
    // square 0-1-2-3-0 as two chains
    val coords = Map(0L -> (0.0, 0.0), 1L -> (1.0, 0.0), 2L -> (1.0, 1.0), 3L -> (0.0, 1.0))
    val merged = RingAssembly.reduce(Seq(Seq(0L, 1L, 2L), Seq(2L, 3L, 0L)))
    val g = PolygonAssembly.assembleRelation(merged, Nil, coords.get).get
    assert(math.abs(g.getArea - 1.0) < 1e-12)
    assert(PolygonAssembly.assembleRelation(merged, Nil, (coords - 2L).get).isEmpty)
  }

  test("buffer(0) repairs a self-intersecting bowtie") {
    val bowtie = IndexedSeq((0.0, 0.0), (1.0, 1.0), (1.0, 0.0), (0.0, 1.0), (0.0, 0.0))
    val merged = Seq(Seq(0L, 1L, 2L, 3L, 0L))
    val coords = Map(0L -> bowtie(0), 1L -> bowtie(1), 2L -> bowtie(2), 3L -> bowtie(3))
    val g = PolygonAssembly.assembleRelation(merged, Nil, coords.get).get
    assert(g.isValid)
  }
}
