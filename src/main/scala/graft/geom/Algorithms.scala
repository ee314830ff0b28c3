package graft.geom

import scala.collection.mutable

/** Pure-Scala scalar geometry algorithms mirroring the reference's
  * semantics (shoelace area/orientation, coordinate dedup, Visvalingam
  * and Douglas-Peucker simplification, geodesic distance).
  *
  * Reference provenance (semantics only, re-implemented from the published
  * algorithms):
  *  - ringArea: /root/reference/osmtopo/util.go:273-286
  *  - isClockwise: /root/reference/osmtopo/lookup/util.go:3-10
  *  - uniqueLength / coordEquals: /root/reference/osmtopo/lookup/util.go:20-31
  *  - Visvalingam threshold: go.geo `reducers.VisvalingamThreshold(path,1e-5)`
  *    call site /root/reference/osmtopo/water.go:167 (published algorithm:
  *    Visvalingam & Whyatt 1993)
  *  - geoDistance: go.geo `GeoDistanceFrom` default branch (equirectangular
  *    approximation), call site /root/reference/osmtopo/export.go:75
  */
object Algorithms {

  /** Shoelace-style signed ring area, exactly the reference's formula:
    * sum((x2-x1)*(y2+y1))/2 over the closed ring (wraps last->first).
    * Positive for clockwise rings in lon/lat (the shapefile "outer"
    * convention used by water.go:185-192).
    */
  def ringArea(pts: IndexedSeq[(Double, Double)]): Double = {
    var result = 0.0
    val n = pts.length
    var i = 0
    while (i < n) {
      val (x1, y1) = pts(i)
      val (x2, y2) = pts((i + 1) % n)
      result += (x2 - x1) * (y2 + y1)
      i += 1
    }
    result / 2
  }

  /** Orientation test over an explicitly-closed ring (last point == first);
    * iterates pairs without wrap, like lookup/util.go:3-10. `sum >= 0` is
    * clockwise (ties count as clockwise, matching the reference).
    */
  def isClockwise(pts: IndexedSeq[(Double, Double)]): Boolean = {
    var sum = 0.0
    var i = 0
    while (i < pts.length - 1) {
      val (x1, y1) = pts(i)
      val (x2, y2) = pts(i + 1)
      sum += (x2 - x1) * (y2 + y1)
      i += 1
    }
    sum >= 0
  }

  /** Number of distinct coordinates (exact-equality), lookup/util.go:24-31. */
  def uniqueLength(pts: IndexedSeq[(Double, Double)]): Int =
    pts.distinct.length

  /** Effective (triangle) area of point b between a and c. */
  @inline private def triArea(a: (Double, Double), b: (Double, Double), c: (Double, Double)): Double =
    math.abs((a._1 * (b._2 - c._2) + b._1 * (c._2 - a._2) + c._1 * (a._2 - b._2)) / 2.0)

  /** Visvalingam-Whyatt simplification: repeatedly remove the interior point
    * with the smallest effective triangle area while that minimum is below
    * `threshold`; neighbor areas are recomputed after each removal.
    * Endpoints are always kept. Published algorithm (Visvalingam & Whyatt,
    * "Line generalisation by repeated elimination of points", 1993);
    * the reference applies it with threshold 1e-5 to water rings
    * (water.go:163-177).
    */
  def visvalingam(pts: IndexedSeq[(Double, Double)], threshold: Double): IndexedSeq[(Double, Double)] = {
    val n = pts.length
    if (n <= 2) return pts
    // doubly-linked list over indices
    val prev = Array.tabulate(n)(i => i - 1)
    val next = Array.tabulate(n)(i => i + 1)
    val alive = Array.fill(n)(true)
    def area(i: Int): Double = triArea(pts(prev(i)), pts(i), pts(next(i)))
    // (area, index) min-heap; stale entries skipped via recheck
    implicit val ord: Ordering[(Double, Int)] =
      Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse, Ordering.Int.reverse)
    val heap = mutable.PriorityQueue[(Double, Int)]()
    var i = 1
    while (i < n - 1) { heap.enqueue((area(i), i)); i += 1 }
    var remaining = n
    while (heap.nonEmpty && remaining > 2) {
      val (a, idx) = heap.dequeue()
      if (alive(idx) && prev(idx) >= 0 && next(idx) <= n - 1) {
        val cur = area(idx)
        if (cur != a) {
          // stale entry: re-push with the fresh area
          heap.enqueue((cur, idx))
        } else if (cur < threshold) {
          alive(idx) = false
          remaining -= 1
          val p = prev(idx); val nx = next(idx)
          next(p) = nx; prev(nx) = p
          if (p > 0) heap.enqueue((area(p), p))
          if (nx < n - 1) heap.enqueue((area(nx), nx))
        } else {
          // min area >= threshold: done
          heap.clear()
        }
      }
    }
    val out = mutable.ArrayBuffer[(Double, Double)]()
    var j = 0
    while (j < n) { if (alive(j)) out += pts(j); j += 1 }
    out.toIndexedSeq
  }

  /** Perpendicular distance of p from segment (a, b). */
  private def segDist(p: (Double, Double), a: (Double, Double), b: (Double, Double)): Double = {
    val (px, py) = p; val (ax, ay) = a; val (bx, by) = b
    val dx = bx - ax; val dy = by - ay
    val len2 = dx * dx + dy * dy
    if (len2 == 0) math.hypot(px - ax, py - ay)
    else {
      val t = ((px - ax) * dx + (py - ay) * dy) / len2
      val tc = math.max(0.0, math.min(1.0, t))
      math.hypot(px - (ax + tc * dx), py - (ay + tc * dy))
    }
  }

  /** Douglas-Peucker simplification with pinned endpoints — used for
    * per-arc topology-preserving simplification (arcs are simplified, not
    * rings, so shared borders stay identical; the TopoJSON approach the
    * reference gets from github.com/rubenv/topojson, invoked at
    * geometries.go:193-200,269-283).
    */
  def douglasPeucker(pts: IndexedSeq[(Double, Double)], tolerance: Double): IndexedSeq[(Double, Double)] = {
    val n = pts.length
    if (n <= 2) return pts
    val keep = Array.fill(n)(false)
    keep(0) = true; keep(n - 1) = true
    val stack = mutable.Stack[(Int, Int)]((0, n - 1))
    while (stack.nonEmpty) {
      val (lo, hi) = stack.pop()
      if (hi > lo + 1) {
        var maxD = -1.0; var maxI = -1
        var i = lo + 1
        while (i < hi) {
          val d = segDist(pts(i), pts(lo), pts(hi))
          if (d > maxD) { maxD = d; maxI = i }
          i += 1
        }
        if (maxD > tolerance) {
          keep(maxI) = true
          stack.push((lo, maxI)); stack.push((maxI, hi))
        }
      }
    }
    val out = mutable.ArrayBuffer[(Double, Double)]()
    var j = 0
    while (j < n) { if (keep(j)) out += pts(j); j += 1 }
    out.toIndexedSeq
  }

  val EarthRadius: Double = 6378137.0

  /** Equirectangular-approximation geodesic distance in meters — the
    * default (non-haversine) branch of go.geo's GeoDistanceFrom used by the
    * export slicer (export.go:75).
    */
  def geoDistance(lng1: Double, lat1: Double, lng2: Double, lat2: Double): Double = {
    val dLat = math.toRadians(lat2 - lat1)
    val dLng = math.toRadians(lng2 - lng1)
    val x = dLng * math.cos(math.toRadians((lat1 + lat2) / 2.0))
    math.sqrt(dLat * dLat + x * x) * EarthRadius
  }
}
