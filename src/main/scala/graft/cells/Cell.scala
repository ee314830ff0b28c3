package graft.cells

/** Hierarchical spatial cell index: a quadtree over equirectangular
  * lon/lat ([-180,180] × [-90,90]) with **Hilbert-curve ordering**,
  * encoded S2-style in a 64-bit id so that cell containment is a range
  * test (rangeMin ≤ leaf ≤ rangeMax) and range-partitioning on cell ids
  * gives spatial locality.
  *
  * Encoding (S2-style, cf. the published S2 cell-id scheme the reference
  * uses via golang/geo — re-implemented from scratch over a flat lon/lat
  * square instead of the sphere-cube):
  *
  *   id = (hilbertPos(level) << (2*(MaxLevel-level)+1)) | (1 << (2*(MaxLevel-level)))
  *
  * i.e. the Hilbert position bits followed by a single sentinel bit; the
  * sentinel (lowest set bit) encodes the level. MaxLevel = 30 → 61 bits,
  * always positive. The Hilbert curve's hierarchical property makes a
  * parent's position bits a prefix of all descendants', so:
  *
  *   rangeMin = id - (lsb - 1),  rangeMax = id + (lsb - 1)
  *
  * exactly covers the descendant leaves — the property the reference's
  * segment-tree stab relies on (lookup.go:147-174) and our PIP joins use.
  */
object Cell {
  val MaxLevel = 30

  // S2's Hilbert state tables: position -> (i,j) quadrant for each of the
  // 4 curve orientations, and the orientation delta per position.
  // ij is encoded as (i << 1) | j.
  private val posToIJ: Array[Array[Int]] = Array(
    Array(0, 1, 3, 2), // canonical
    Array(0, 2, 3, 1), // swap
    Array(3, 2, 0, 1), // invert
    Array(3, 1, 0, 2)  // swap | invert
  )
  private val ijToPos: Array[Array[Int]] = posToIJ.map { tbl =>
    val inv = new Array[Int](4)
    for (p <- 0 until 4) inv(tbl(p)) = p
    inv
  }
  private val posToOrientation = Array(1, 0, 0, 3) // swapMask=1, invertMask=2

  /** Hilbert state-transition rows (orientation, i, j, pos, nextOrientation)
    * — the flat export of posToIJ/posToOrientation that lets the DuckDB
    * oracle replay `hilbertPos` bit-for-bit as a recursive-CTE walk
    * (SparkEntry's q_raster_cells oracle).
    */
  def hilbertStateRows: Seq[(Int, Int, Int, Int, Int)] =
    for (o <- 0 to 3; ij <- 0 to 3) yield {
      val pos = ijToPos(o)(ij)
      (o, ij >> 1, ij & 1, pos, o ^ posToOrientation(pos))
    }

  /** Discrete grid coordinate at MaxLevel for a lon/lat. A coordinate
    * outside [-180,180] × [-90,90] clamps into an edge cell; NaN maps to 0.
    */
  def xy(lon: Double, lat: Double): (Long, Long) = (gridX(lon), gridY(lat))

  @inline private def clampGrid(v: Long): Long = math.max(0L, math.min((1L << MaxLevel) - 1, v))
  @inline private def gridX(lon: Double): Long =
    clampGrid(math.floor((lon + 180.0) / 360.0 * (1L << MaxLevel)).toLong)
  @inline private def gridY(lat: Double): Long =
    clampGrid(math.floor((lat + 90.0) / 180.0 * (1L << MaxLevel)).toLong)

  /** Hilbert position of grid coord (x,y) truncated to `level` (2*level
    * bits), one level per step: the reference walk that `cellAt`'s table
    * and the DuckDB oracle's state rows must reproduce. */
  def hilbertPos(x: Long, y: Long, level: Int): Long = {
    var h = 0L
    var o = 0
    var k = MaxLevel - 1
    val stop = MaxLevel - level
    while (k >= stop) {
      val i = ((x >> k) & 1L).toInt
      val j = ((y >> k) & 1L).toInt
      val pos = ijToPos(o)((i << 1) | j)
      h = (h << 2) | pos
      o ^= posToOrientation(pos)
      k -= 1
    }
    h
  }

  def fromHilbert(h: Long, level: Int): Long =
    (h << (2 * (MaxLevel - level) + 1)) | (1L << (2 * (MaxLevel - level)))

  // hilbertPos four levels at a time: entry ((i4 << 6) | (j4 << 2) | o)
  // holds (8 position bits << 2) | orientation after those four levels,
  // for the 4-bit x and y chunks i4, j4 entered in orientation o
  private val lookupPos: Array[Int] = {
    val t = new Array[Int](1024)
    for (i4 <- 0 until 16; j4 <- 0 until 16; o0 <- 0 until 4) {
      var o = o0
      var pos = 0
      for (k <- 3 to 0 by -1) {
        val p = ijToPos(o)((((i4 >> k) & 1) << 1) | ((j4 >> k) & 1))
        pos = (pos << 2) | p
        o ^= posToOrientation(p)
      }
      t((i4 << 6) | (j4 << 2) | o0) = (pos << 2) | o
    }
    t
  }

  /** `hilbertPos(x, y, MaxLevel)` from [[lookupPos]]: eight 4-bit steps
    * over 32-bit x and y. Their top two bits are zero, and two (0, 0)
    * steps from orientation 0 emit position 0 and return to orientation 0,
    * so the walk equals the 30-step one.
    */
  private def leafPos(x: Long, y: Long): Long = {
    var h = 0L
    var o = 0
    var k = 28
    while (k >= 0) {
      val e = lookupPos((((x >>> k) & 15L).toInt << 6) | (((y >>> k) & 15L).toInt << 2) | o)
      h = (h << 8) | (e >>> 2)
      o = e & 3
      k -= 4
    }
    h
  }

  /** Cell id containing (lon,lat) at `level` (0..MaxLevel): the level's
    * Hilbert position is the leaf position's top 2·level bits.
    * Bit-identical to `fromHilbert(hilbertPos(x, y, level), level)`.
    */
  def cellAt(lon: Double, lat: Double, level: Int): Long =
    fromHilbert(leafPos(gridX(lon), gridY(lat)) >>> (2 * (MaxLevel - level)), level)

  /** Leaf cell id (level 30) — the analogue of s2.CellIDFromLatLng. */
  def leaf(lon: Double, lat: Double): Long = cellAt(lon, lat, MaxLevel)

  @inline def lsb(id: Long): Long = id & -id

  def level(id: Long): Int = MaxLevel - (java.lang.Long.numberOfTrailingZeros(id) >> 1)

  def rangeMin(id: Long): Long = id - (lsb(id) - 1)
  def rangeMax(id: Long): Long = id + (lsb(id) - 1)

  def contains(parent: Long, descendant: Long): Boolean =
    rangeMin(parent) <= descendant && descendant <= rangeMax(parent)

  def parent(id: Long, parentLevel: Int): Long = {
    val h = id >> (2 * (MaxLevel - level(id)) + 1)
    fromHilbert(h >> (2 * (level(id) - parentLevel)), parentLevel)
  }

  def children(id: Long): Array[Long] = {
    val l = level(id)
    require(l < MaxLevel, s"leaf cell has no children: $id")
    val h = id >> (2 * (MaxLevel - l) + 1)
    Array.tabulate(4)(k => fromHilbert((h << 2) | k, l + 1))
  }

  /** All ancestor ids of a leaf (or any cell) from minLevel..its level. */
  def ancestors(id: Long, minLevel: Int, maxLevel: Int): Array[Long] = {
    val l = level(id)
    val hi = math.min(l, maxLevel)
    if (hi < minLevel) Array.empty
    else Array.tabulate(hi - minLevel + 1)(k => parent(id, minLevel + k))
  }

  /** Grid (x, y, level) of a cell — x,y are in cell units at that level. */
  def toXY(id: Long): (Long, Long, Int) = {
    val l = level(id)
    var h = id >> (2 * (MaxLevel - l) + 1)
    var x = 0L; var y = 0L
    var o = 0
    var k = 2 * (l - 1)
    while (k >= 0) {
      val pos = ((h >> k) & 3L).toInt
      val ij = posToIJ(o)(pos)
      x = (x << 1) | (ij >> 1)
      y = (y << 1) | (ij & 1)
      o ^= posToOrientation(pos)
      k -= 2
    }
    (x, y, l)
  }

  /** Lon/lat bounds (lonMin, latMin, lonMax, latMax) of a cell. */
  def bounds(id: Long): (Double, Double, Double, Double) = {
    val (x, y, l) = toXY(id)
    val n = (1L << l).toDouble
    (x / n * 360.0 - 180.0, y / n * 180.0 - 90.0,
      (x + 1) / n * 360.0 - 180.0, (y + 1) / n * 180.0 - 90.0)
  }

  /** The 4 corner vertices (lon,lat) of a cell — used by the coverer's
    * vertex-approximate predicates (mirrors lookup/region.go:13-43 which
    * tests cell vertices only).
    */
  def vertices(id: Long): Array[(Double, Double)] = {
    val (lonMin, latMin, lonMax, latMax) = bounds(id)
    Array((lonMin, latMin), (lonMax, latMin), (lonMax, latMax), (lonMin, latMax))
  }

  /** Cell ids in the square ring at Chebyshev distance `r` around the cell
    * (r=0 is the cell itself) — the expanding-ring kNN search frontier.
    * Clipped at the world edge (no wraparound).
    */
  def ring(id: Long, r: Int): Array[Long] = {
    val (x, y, l) = toXY(id)
    val n = 1L << l
    def inGrid(a: Long, b: Long) = a >= 0 && a < n && b >= 0 && b < n
    def mk(a: Long, b: Long): Long = fromHilbert(hilbertPos(a << (MaxLevel - l), b << (MaxLevel - l), l), l)
    if (r == 0) return Array(id)
    val out = collection.mutable.ArrayBuffer[Long]()
    var i = -r.toLong
    while (i <= r) {
      // top and bottom rows
      if (inGrid(x + i, y - r)) out += mk(x + i, y - r)
      if (inGrid(x + i, y + r)) out += mk(x + i, y + r)
      // left and right columns (excluding corners already added)
      if (math.abs(i) != r) {
        if (inGrid(x - r, y + i)) out += mk(x - r, y + i)
        if (inGrid(x + r, y + i)) out += mk(x + r, y + i)
      }
      i += 1
    }
    out.toArray
  }

  /** Quadkey string (Bing-style, z characters of 0-3) for a cell id —
    * derived from the plain (non-Hilbert) quadtree path so it matches the
    * SQL-expressible tx/ty tiling exactly.
    */
  def quadkey(id: Long): String = {
    val (x, y, l) = toXY(id)
    val sb = new StringBuilder
    var k = l - 1
    while (k >= 0) {
      val d = (((x >> k) & 1L) | (((y >> k) & 1L) << 1)).toInt
      sb.append(('0' + d).toChar)
      k -= 1
    }
    sb.toString
  }
}
