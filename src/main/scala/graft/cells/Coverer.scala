package graft.cells

import scala.collection.mutable

/** Region coverer over the Cell quadtree with the reference's parameters
  * and its *vertex-approximate* predicates:
  *
  *  - parameters MinLevel=4, MaxLevel=22, MaxCells=8
  *    (/root/reference/osmtopo/lookup/lookup.go:176-181);
  *  - containsCell  = all 4 cell vertices inside the loop,
  *    intersectsCell = any cell vertex inside the loop OR any loop vertex
  *    inside the cell (documented-approximate, lookup/region.go:13-43);
  *  - degenerate loops are skipped: rings with < 4 unique points, or < 3
  *    points after consecutive-duplicate removal and dropping the closing
  *    point (lookup.go:183-189, lookup/loop.go:5-25).
  *
  * Only the polygon's *outer* ring is covered, like the reference
  * (lookup.go:187). The covering algorithm itself is the standard
  * priority-refinement coverer (published S2 RegionCoverer design),
  * deterministic: expand the candidate with the coarsest level (ties by
  * smallest id) while the budget allows.
  */
object Coverer {
  val MinLevel = 4
  val MaxLevel = 22
  val MaxCells = 8

  /** Point-in-ring via even-odd ray casting. `ring` must be closed
    * (first == last). Boundary points count per ray-casting convention
    * (half-open edges) — deterministic, which is all we need.
    */
  def containsPoint(ring: IndexedSeq[(Double, Double)], lon: Double, lat: Double): Boolean = {
    var inside = false
    var i = 0
    val n = ring.length - 1 // skip duplicate closing point
    var j = n - 1
    while (i < n) {
      val (xi, yi) = ring(i)
      val (xj, yj) = ring(j)
      if (((yi > lat) != (yj > lat)) &&
          (lon < (xj - xi) * (lat - yi) / (yj - yi) + xi)) inside = !inside
      j = i
      i += 1
    }
    inside
  }

  private final class Loop(val pts: IndexedSeq[(Double, Double)]) {
    def containsCell(cell: Long): Boolean =
      Cell.vertices(cell).forall { case (lon, lat) => containsPoint(pts, lon, lat) }

    def intersectsCell(cell: Long): Boolean = {
      val vs = Cell.vertices(cell)
      if (vs.exists { case (lon, lat) => containsPoint(pts, lon, lat) }) return true
      // loop fully inside the cell (region.go:34-41)
      val (lonMin, latMin, lonMax, latMax) = Cell.bounds(cell)
      pts.exists { case (x, y) => x >= lonMin && x <= lonMax && y >= latMin && y <= latMax }
    }
  }

  /** Build the normalized loop like lookup/loop.go:5-25: reverse clockwise
    * rings, drop the closing point, drop consecutive duplicates; None if
    * degenerate.
    */
  private[cells] def makeLoop(ring0: IndexedSeq[(Double, Double)]): Option[IndexedSeq[(Double, Double)]] = {
    if (graft.geom.Algorithms.uniqueLength(ring0) < 4) return None
    val ring = if (graft.geom.Algorithms.isClockwise(ring0)) ring0.reverse else ring0
    val pts = mutable.ArrayBuffer[(Double, Double)]()
    var i = 0
    while (i < ring.length - 1) { // skip last point
      if (!(i > 0 && ring(i - 1) == ring(i))) pts += ring(i)
      i += 1
    }
    if (pts.length < 3) None else Some((pts += pts.head).toIndexedSeq) // re-close for ray cast
  }

  /** Cover the outer ring of a polygon. Returns cell ids (≤ MaxCells unless
    * MinLevel forces more), sorted ascending; empty for degenerate rings.
    */
  def cover(outerRing: IndexedSeq[(Double, Double)],
            minLevel: Int = MinLevel, maxLevel: Int = MaxLevel, maxCells: Int = MaxCells): Array[Long] = {
    makeLoop(outerRing) match {
      case None => Array.empty
      case Some(pts) =>
        val loop = new Loop(pts)
        val terminal = mutable.ArrayBuffer[Long]()
        // expand coarsest first; ties by id for determinism
        implicit val ord: Ordering[(Int, Long)] = Ordering.Tuple2(Ordering.Int.reverse, Ordering.Long.reverse)
        val active = mutable.PriorityQueue[(Int, Long)]()
        val world = Cell.fromHilbert(0L, 0)
        if (loop.intersectsCell(world)) active.enqueue((0, world))
        while (active.nonEmpty) {
          val (lvl, cell) = active.dequeue()
          val isTerminal = lvl >= minLevel && (lvl >= maxLevel || loop.containsCell(cell))
          if (isTerminal) terminal += cell
          else {
            val kids = Cell.children(cell).filter(loop.intersectsCell)
            val wouldBe = terminal.length + active.length + kids.length
            if (lvl < minLevel || wouldBe <= maxCells) kids.foreach(k => active.enqueue((lvl + 1, k)))
            else terminal += cell // budget exhausted: keep as-is
          }
        }
        terminal.toArray.sorted
    }
  }

  /** Cover every polygon of a (multi)polygon WKB geometry — one cover per
    * polygon like GeometryToCoverage (lookup.go:201-222), flattened and
    * **normalized**: a cell whose ancestor is also in the (multi-polygon
    * union) cover is dropped, so the remaining cells are pairwise disjoint.
    * This keeps the PIP join's contract — at most one candidate row per
    * (point, relation) — without any output-side dedup shuffle: a leaf's
    * ancestor chain can hit at most one cell of a disjoint set.
    */
  def coverGeometry(geom: org.locationtech.jts.geom.Geometry): Array[Long] = {
    val out = mutable.ArrayBuffer[Long]()
    var i = 0
    while (i < geom.getNumGeometries) {
      geom.getGeometryN(i) match {
        case p: org.locationtech.jts.geom.Polygon =>
          val ring = p.getExteriorRing.getCoordinates.map(c => (c.x, c.y)).toIndexedSeq
          out ++= cover(ring)
        case _ => // points/lines carry no cover
      }
      i += 1
    }
    normalize(out.distinct.toArray)
  }

  /** Smallest single cell (level ≤ MaxLevel) containing a lon/lat
    * rectangle: the deepest level at which all four corners share one
    * cell. Exact by construction (cells are axis-aligned grid squares, so
    * four corners in one square ⇒ whole rectangle in it) — no
    * vertex-approximate predicate involved.
    */
  def envelopeCell(minX: Double, minY: Double, maxX: Double, maxY: Double): Long = {
    val corners = Array(Cell.leaf(minX, minY), Cell.leaf(minX, maxY),
      Cell.leaf(maxX, minY), Cell.leaf(maxX, maxY))
    var l = MaxLevel
    while (l > 0 && corners.exists(c => Cell.parent(c, l) != Cell.parent(corners(0), l))) l -= 1
    Cell.parent(corners(0), l)
  }

  /** EXACT cover: the same priority-refinement loop as `cover`, but over
    * the WHOLE geometry with exact JTS predicates — a cell participates
    * iff its lon/lat rectangle truly intersects the (prepared) geometry,
    * and terminates early iff the geometry truly covers the rectangle.
    * Unlike the reference's vertex-approximate predicates (which can
    * prune a subtree that a sliver polygon crosses without placing a
    * vertex in it and without containing any cell corner), the result is
    * a guaranteed superset of the geometry for ANY input — polygons,
    * multipolygons, degenerate rings, lines. Output cells are pairwise
    * disjoint by construction (pure quadtree refinement).
    */
  def coverExact(geom: org.locationtech.jts.geom.Geometry,
                 minLevel: Int = MinLevel, maxLevel: Int = MaxLevel,
                 maxCells: Int = MaxCells): Array[Long] = {
    if (geom.isEmpty) return Array.empty
    val prep = org.locationtech.jts.geom.prep.PreparedGeometryFactory.prepare(geom)
    val fact = geom.getFactory
    def rect(cell: Long): org.locationtech.jts.geom.Geometry = {
      val (x0, y0, x1, y1) = Cell.bounds(cell)
      fact.toGeometry(new org.locationtech.jts.geom.Envelope(x0, x1, y0, y1))
    }
    val terminal = mutable.ArrayBuffer[Long]()
    implicit val ord: Ordering[(Int, Long)] = Ordering.Tuple2(Ordering.Int.reverse, Ordering.Long.reverse)
    val active = mutable.PriorityQueue[(Int, Long)]()
    val world = Cell.fromHilbert(0L, 0)
    if (prep.intersects(rect(world))) active.enqueue((0, world))
    while (active.nonEmpty) {
      val (lvl, cell) = active.dequeue()
      val isTerminal = lvl >= minLevel && (lvl >= maxLevel || prep.covers(rect(cell)))
      if (isTerminal) terminal += cell
      else {
        val kids = Cell.children(cell).filter(k => prep.intersects(rect(k)))
        val wouldBe = terminal.length + active.length + kids.length
        if (lvl < minLevel || wouldBe <= maxCells) kids.foreach(k => active.enqueue((lvl + 1, k)))
        else terminal += cell // budget exhausted: keep as-is
      }
    }
    terminal.toArray.sorted
  }

  /** Cover for the generic `ST_Contains`-join rewrite
    * (graft.plans.PipJoinRewrite): the rewrite replaces a nested-loop join
    * and must stay a superset index for ANY geometry, or it would silently
    * drop matches the nested-loop plan finds — so it uses `coverExact`
    * (exact JTS cell/geometry predicates), NOT the reference-semantics
    * vertex-approximate `coverGeometry` that the engine's own index keeps
    * (lookup.go:183-189 refusal semantics included). Belt-and-braces: if
    * the exact cover fails (invalid geometry throwing inside JTS relate),
    * fall back to one exact envelope cell per component — coarse but
    * still a superset. Always pairwise disjoint.
    */
  def coverForJoin(geom: org.locationtech.jts.geom.Geometry): Array[Long] = {
    val exact =
      try coverExact(geom)
      catch { case _: Exception => Array.empty[Long] }
    if (exact.nonEmpty || geom.isEmpty) exact
    else {
      val out = mutable.ArrayBuffer[Long]()
      var i = 0
      while (i < geom.getNumGeometries) {
        val g = geom.getGeometryN(i)
        if (!g.isEmpty) {
          val e = g.getEnvelopeInternal
          out += envelopeCell(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)
        }
        i += 1
      }
      normalize(out.distinct.toArray)
    }
  }

  /** Drop cells that have a strict ancestor in the set (covers stay a
    * superset of the geometry: the ancestor covers the descendant).
    */
  def normalize(cells: Array[Long]): Array[Long] = {
    if (cells.length <= 1) return cells.sorted
    val set = new java.util.HashSet[java.lang.Long](cells.length * 2)
    cells.foreach(set.add(_))
    cells.filter { c =>
      var l = 0 // caller-supplied covers may sit coarser than MinLevel
      val cl = Cell.level(c)
      var keep = true
      while (keep && l < cl) {
        if (set.contains(Cell.parent(c, l))) keep = false
        l += 1
      }
      keep
    }.sorted
  }
}
