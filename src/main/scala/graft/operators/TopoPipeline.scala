package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import org.apache.spark.sql.functions._

import graft.geom.{Algorithms, Jts}

/** The topology pipeline — the reference's GeometryPipeline + TopoJSON
  * encoding re-expressed as typed Dataset aggregations
  * (/root/reference/osmtopo/geometries.go:24-291 and the published
  * TopoJSON algorithm used via github.com/rubenv/topojson: join points →
  * cut arcs at junctions → dedup shared arcs → per-arc Douglas-Peucker with
  * pinned endpoints (topology preserved because *arcs*, not rings, are
  * simplified) → quantize + delta-encode).
  *
  * Stage map:
  *  - P1/P2/P3: feature load/filter/enrichment — plain select/filter;
  *  - P5: pre-clip simplification (simplify > 0 ∧ clipWater), no quantize;
  *  - P6/P7: water clipping — buffer(0) then prepared-intersects +
  *    difference against water clip geoms simplified at the same
  *    tolerance (water.go:235-300); prep is distributed, and the
  *    candidate pairing is broadcast for small water or an
  *    envelope-cell equi-join for planet-scale water;
  *  - P8: shared-arc dedup via canonical (min of forward/reversed)
  *    serialization, arc ids assigned by deterministic sort order;
  *  - P9: quantization q×q with transform scale/translate and per-arc
  *    integer delta encoding;
  *  - E2/E3/E4/E5: bbox centers (reproducing the reference's
  *    bb[0]+bb[2]/2 arithmetic *as written*, export.go:50-57), greedy
  *    nearest-centroid slicing (export.go:59-115), point counting through
  *    arc indirection with the `^arc` reversed convention
  *    (export.go:120-171), slice filtering.
  */
object TopoPipeline {

  case class RingRow(objId: Long, polyIdx: Int, ringIdx: Int, pts: Seq[(Double, Double)])
  case class ArcUse(objId: Long, polyIdx: Int, ringIdx: Int, segIdx: Int,
                    key: String, reversed: Boolean)
  case class ArcRow(key: String, pts: Seq[(Double, Double)])

  /** Topology result: all DataFrames deterministic.
    *  - arcs(arcId, pts array<struct x,y double>) — simplified, unquantized
    *  - arcsQ(arcId, qpts array<struct x,y int>) — quantized delta-encoded
    *  - uses(objId, polyIdx, ringIdx, segIdx, arcId, reversed)
    *  - objects(objId, bbox, nPoints)
    *  - transform (scale/translate) when quantize > 0
    */
  case class Topology(arcs: DataFrame, arcsQ: Option[DataFrame], uses: DataFrame,
                      objects: DataFrame, transform: Option[(Double, Double, Double, Double)],
                      private[operators] val caches: Seq[DataFrame] = Nil) {
    /** Drop the internal caches `topology()` pinned (cut table, unique
      * arcs, simplified arcs, objects). Call once the topology's outputs
      * are consumed/materialized — a session exporting many layers would
      * otherwise accumulate storage blocks it can never reach again.
      */
    def release(): Unit = caches.foreach(_.unpersist())
  }

  /** Explode feature polygons into rings. */
  def rings(features: DataFrame): DataFrame = {
    val spark = features.sparkSession
    import spark.implicits._
    features.select(col("objId"), col("wkb")).as[(Long, Array[Byte])]
      .flatMap { case (objId, wkb) =>
        val g = Jts.fromWkb(wkb)
        (0 until g.getNumGeometries).iterator.flatMap { pi =>
          g.getGeometryN(pi) match {
            // skip empty polygons (water clipping can erase a feature
            // entirely — an empty exterior ring would crash the cut) and
            // degenerate rings (< 3 distinct points carry no area)
            case p: org.locationtech.jts.geom.Polygon if !p.isEmpty =>
              val shell = p.getExteriorRing.getCoordinates.map(c => (c.x, c.y)).toSeq
              val holes = (0 until p.getNumInteriorRing).map(h =>
                p.getInteriorRingN(h).getCoordinates.map(c => (c.x, c.y)).toSeq)
              (shell +: holes).zipWithIndex.collect {
                case (r, ri) if r.length >= 4 => RingRow(objId, pi, ri, r)
              }
            case _ => Nil
          }
        }
      }.toDF()
  }

  private def ptKey(p: (Double, Double)): String = s"${p._1}:${p._2}"

  private def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    val sb = new StringBuilder(32)
    d.foreach(b => sb.append(f"$b%02x"))
    sb.toString
  }

  /** Exploded ring points with junction context: one row per open-ring
    * vertex carrying its unordered neighbor pair (the TopoJSON "join"
    * criterion) plus its ring coordinates, so junction detection AND
    * per-ring position collection both derive from ONE explode pass.
    */
  private def ringPoints(ringsDf: DataFrame): DataFrame = {
    val spark = ringsDf.sparkSession
    import spark.implicits._
    ringsDf.as[RingRow].flatMap { r =>
      val open = r.pts.dropRight(1) // closed ring: last == first
      val n = open.length
      (0 until n).iterator.map { i =>
        val a = ptKey(open((i - 1 + n) % n))
        val b = ptKey(open((i + 1) % n))
        val pair = if (a <= b) s"$a|$b" else s"$b|$a"
        (r.objId, r.polyIdx, r.ringIdx, i, ptKey(open(i)), pair)
      }
    }.toDF("objId", "polyIdx", "ringIdx", "i", "pt", "pair")
  }

  /** TopoJSON "join": a point is a junction when it occurs with more than
    * one distinct (unordered) neighbor pair across all rings. Closed rings
    * wrap around, so ring starts are not artificial junctions.
    */
  def junctions(ringsDf: DataFrame): DataFrame =
    ringPoints(ringsDf)
      .groupBy("pt").agg(countDistinct("pair").as("nPairs"))
      .filter(col("nPairs") > 1)
      .select("pt")

  /** Per-ring junction positions in ONE aggregation over the exploded
    * point table: detect junctions and carry their (ring, index)
    * occurrences through the same groupBy, so the big table shuffles once
    * (by point key) and only the junction occurrences — tiny relative to
    * the input — reshuffle by ring. The detect-then-equi-join shape this
    * replaces shuffled the full point table twice. Per-point occurrence
    * lists are bounded by the number of rings meeting at the point.
    */
  private def junctionPositions(pts: DataFrame): DataFrame =
    pts.groupBy("pt")
      // collect_set, not countDistinct: a distinct aggregate next to a
      // collect_list makes Catalyst plan an Expand that doubles the
      // exploded point table before aggregating; the per-point pair set is
      // tiny (bounded by rings meeting there), so set-collect is cheaper
      .agg(size(collect_set(col("pair"))).as("nPairs"),
        collect_list(struct(col("objId"), col("polyIdx"), col("ringIdx"), col("i"))).as("occ"))
      .filter(col("nPairs") > 1)
      .select(explode(col("occ")).as("o"))
      .groupBy(col("o.objId").as("objId"), col("o.polyIdx").as("polyIdx"),
        col("o.ringIdx").as("ringIdx"))
      .agg(sort_array(collect_list(col("o.i"))).as("jIdx"))

  /** Cut rings into arcs at junctions; rings without junctions stay one
    * closed arc. Rings with junctions are rotated to start at their first
    * junction occurrence (deterministic).
    *
    * Distributed: each ring learns its junction positions through the
    * `perRing` table (objId, polyIdx, ringIdx, jIdx) — no driver-side
    * junction collect, so the path scales to planet-sized topologies.
    */
  def cut(ringsDf: DataFrame, junctionsDf: DataFrame): DataFrame = {
    // API-parity path: positions from an externally-supplied junction
    // point table (tests / ad-hoc callers). topology() uses the fused
    // junctionPositions pass instead.
    val perRing = ringPoints(ringsDf).join(junctionsDf, Seq("pt"))
      .groupBy("objId", "polyIdx", "ringIdx")
      .agg(sort_array(collect_list(col("i"))).as("jIdx"))
    cutWithPositions(ringsDf, perRing)
  }

  private def cutWithPositions(ringsDf: DataFrame, perRing: DataFrame): DataFrame = {
    val spark = ringsDf.sparkSession
    import spark.implicits._
    ringsDf.join(perRing, Seq("objId", "polyIdx", "ringIdx"), "left")
      .select(col("objId").as("_1"), col("polyIdx").as("_2"), col("ringIdx").as("_3"),
        col("pts").as("_4"),
        coalesce(col("jIdx"), array().cast("array<int>")).as("_5"))
      .as[(Long, Int, Int, Seq[(Double, Double)], Seq[Int])]
      .flatMap { case (objId, polyIdx, ringIdx, pts, jIdxRaw) =>
        cutRing(RingRow(objId, polyIdx, ringIdx, pts), jIdxRaw.toSet)
      }.toDF("objId", "polyIdx", "ringIdx", "segIdx", "key", "reversed", "pts")
  }

  /** Cut one ring given its junction positions (pure, per-ring local). */
  private def cutRing(r: RingRow, jSet: Set[Int])
      : Iterator[(Long, Int, Int, Int, String, Boolean, Seq[(Double, Double)])] = {
    {
      val open = r.pts.dropRight(1).toIndexedSeq
      val n = open.length
      val jIdx = (0 until n).filter(jSet.contains)
      val arcs: Seq[Seq[(Double, Double)]] =
        if (jIdx.isEmpty) {
          // no junctions: one closed arc, rotated to its minimal vertex so
          // identical rings dedup regardless of starting point (TopoJSON
          // rotates isolated rings the same way)
          val start = (0 until n).minBy(i => ptKey(open(i)))
          Seq((0 until n).map(i => open((start + i) % n)) :+ open(start))
        } else {
          val start = jIdx.head
          val rotated = (0 until n).map(i => open((start + i) % n)) :+ open(start)
          // split at junction positions within the rotated ring (a rotated
          // index i is a junction iff the original index (start+i)%n is)
          val cuts = (0 to n).filter(i => i == 0 || i == n || jSet.contains((start + i) % n))
          cuts.sliding(2).map { case Seq(a, b) => rotated.slice(a, b + 1): Seq[(Double, Double)] }.toSeq
        }
      arcs.zipWithIndex.map { case (a, si) =>
        val fwd = a.map(ptKey).mkString(";")
        val rev = a.reverse.map(ptKey).mkString(";")
        val reversed = rev < fwd
        // the shuffled/joined key is a BOUNDED 128-bit content hash of the
        // canonical serialization, not the serialization itself — a planet
        // arc can be 10^4+ points (~200 KB as a string), and the dedup
        // shuffle + uses join would otherwise move that string twice per
        // use. 32 hex chars keeps shuffle width constant; an accidental
        // md5 collision across distinct arcs is ~2^-64 territory.
        (r.objId, r.polyIdx, r.ringIdx, si,
          md5Hex(if (reversed) rev else fwd),
          reversed,
          if (reversed) a.reverse else a)
      }.iterator
    }
  }

  /** Full topology build. simplifyDigits > 0 → tolerance 10^-digits
    * (geometries.go:178-180); quantize > 0 → PostQuantize transform.
    */
  def topology(features: DataFrame, simplifyDigits: Int, quantize: Double): Topology = {
    val spark = features.sparkSession
    import spark.implicits._
    // quantize is a grid-position count (TopoJSON -q, typically 1e4-1e6);
    // values in (0, 1] make kx = (quantize-1)/extent zero → "scale":
    // 1/kx = Infinity in the emitted JSON, which no parser accepts
    require(quantize <= 0 || quantize > 1,
      s"quantize must be > 1 grid positions (or <= 0 to disable), got $quantize")
    val maxErr = if (simplifyDigits > 0) math.pow(10, -simplifyDigits) else 0.0

    val ringsDf = rings(features).cache()
    val cutDf = cutWithPositions(ringsDf, junctionPositions(ringPoints(ringsDf))).cache()

    // shared-arc dedup: one row per canonical key, deterministic dense ids.
    // Ids come from a distributed sort + zipWithIndex (not a global-window
    // row_number, which would funnel every arc through one partition).
    // Range-partition + in-partition sort + run-length dedup = ONE shuffle
    // (dropDuplicates+sort was two); rows sharing a key are byte-identical
    // (the key hashes the full canonical serialization), and range
    // partitions are globally ordered, so zipWithIndex assigns the same
    // ids a global sort would.
    val dedupDf = cutDf.select(col("key"), col("pts"))
      .repartitionByRange(col("key"))
      .sortWithinPartitions("key")
      .as[(String, Seq[(Double, Double)])]
      .mapPartitions { it =>
        var last: String = null
        it.filter { case (k, _) => val keep = k != last; last = k; keep }
      }.toDF("key", "pts")
    val arcSchema = dedupDf.schema.add("arcId", "long")
    // zipWithIndex is EAGER — it runs one job to size the partitions, and
    // that job's map side computes the dedup plan, which reads cutDf and
    // so MATERIALIZES the cut cache as a side effect. The ring explode +
    // junction aggregation therefore still run exactly once no matter how
    // many downstream actions consume the topology, without the separate
    // cut.count materialization job the build used to launch (one fewer
    // driver-synchronized job per build — fixture-scale builds are
    // job-overhead-bound, see BENCH.md round 5).
    val zipped = dedupDf.rdd.zipWithIndex()
    // only safe AFTER the zipWithIndex job: cutDf's plan reads ringsDf
    // twice (junction side + cut join side), so dropping the rings cache
    // any earlier would recompute the ring explode
    ringsDf.unpersist()
    val uniqueArcs = spark.createDataFrame(
      zipped.map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
      }, arcSchema)
      .cache()

    // per-arc simplification with pinned endpoints (topology-preserving);
    // cached — arcLens, the quantize transform, arcsQ and the caller's
    // arcs all consume it
    val simplified =
      (if (maxErr <= 0) uniqueArcs.select("arcId", "pts")
      else uniqueArcs.select(col("arcId"), col("pts")).as[(Long, Seq[(Double, Double)])]
        .map { case (id, pts) =>
          (id, Algorithms.douglasPeucker(pts.toIndexedSeq, maxErr): Seq[(Double, Double)])
        }.toDF("arcId", "pts")).cache()

    val uses = cutDf.join(uniqueArcs.select("key", "arcId"), Seq("key"))
      .select("objId", "polyIdx", "ringIdx", "segIdx", "arcId", "reversed")

    // objects: bbox + point count through arc indirection (E4 semantics)
    val arcLens = simplified.select(col("arcId"), size(col("pts")).as("len"))
    // cached: one row per exported object (tiny) — slices() collects it
    // and callers re-scan it for export metadata
    val objects = uses.join(arcLens, Seq("arcId"))
      .groupBy("objId").agg(sum("len").as("nPoints"))
      .join(features.select(col("objId"),
        col("bbox.minx").as("minx"), col("bbox.miny").as("miny"),
        col("bbox.maxx").as("maxx"), col("bbox.maxy").as("maxy")), Seq("objId"))
      .cache()

    // quantization: global transform over simplified arcs (PostQuantize)
    val transform: Option[(Double, Double, Double, Double)] =
      if (quantize <= 0) None
      else {
        val ext = simplified.select(explode(col("pts")).as("p"))
          .agg(min("p._1"), max("p._1"), min("p._2"), max("p._2")).head()
        // empty feature input → null extent; identity transform (there
        // are no arcs to quantize) beats an opaque null-primitive throw
        if (ext.isNullAt(0)) Some((1.0, 1.0, 0.0, 0.0))
        else {
          val (x0, x1, y0, y1) = (ext.getDouble(0), ext.getDouble(1), ext.getDouble(2), ext.getDouble(3))
          val kx = if (x1 > x0) (quantize - 1) / (x1 - x0) else 1.0
          val ky = if (y1 > y0) (quantize - 1) / (y1 - y0) else 1.0
          Some((kx, ky, x0, y0))
        }
      }

    val arcsQ = transform.map { case (kx, ky, x0, y0) =>
      simplified.as[(Long, Seq[(Double, Double)])].map { case (id, pts) =>
        val q = pts.map { case (x, y) =>
          (math.round((x - x0) * kx).toInt, math.round((y - y0) * ky).toInt)
        }
        // drop consecutive duplicates post-quantization; keep >= 2 positions
        val dedup = q.headOption.toSeq ++ q.sliding(2).collect { case Seq(a, b) if a != b => b }
        val kept = if (dedup.length < 2) Seq(q.head, q.last) else dedup
        // delta encode
        val deltas = kept.head +: kept.sliding(2).map { case Seq(a, b) =>
          (b._1 - a._1, b._2 - a._2)
        }.toSeq
        (id, deltas)
      }.toDF("arcId", "qpts")
    }

    Topology(simplified, arcsQ, uses, objects, transform,
      caches = Seq(cutDf, uniqueArcs, simplified, objects))
  }

  /** P7: distributed water-clip prep — ring-simplify at the export
    * tolerance + buffer(0) repair as a Dataset map (water.go:163-177,
    * 235-300 prep semantics), emitting the repaired WKB and its envelope.
    * Runs on executors; nothing is collected here.
    */
  private[operators] def prepWater(water: DataFrame, simplifyDigits: Int): DataFrame = {
    val spark = water.sparkSession
    import spark.implicits._
    val maxErr = if (simplifyDigits > 0) math.pow(10, -simplifyDigits) else 0.0
    water.select(col("id").as("_1"), col("wkb").as("_2")).as[(Long, Array[Byte])]
      .map { case (id, wkb) =>
        val g = Jts.fromWkb(wkb)
        val s = if (maxErr > 0)
          graft.functions.GeomExpressions.mapPolygonRings(g,
            pts => Algorithms.douglasPeucker(pts, maxErr))
        else g
        val repaired = s.buffer(0)
        val env = repaired.getEnvelopeInternal
        (id, Jts.toWkb(repaired), env.getMinX, env.getMinY, env.getMaxX, env.getMaxY)
      }
      .toDF("wid", "wwkb", "wx0", "wy0", "wx1", "wy1")
  }

  /** The per-feature clip fold, shared by both physical paths: buffer(0)
    * repair, then difference against each candidate water geometry in
    * ascending water-id order when it truly intersects the running
    * geometry (geometries.go:228-263). `ws` must already be
    * bbox-prefiltered against the feature's pre-clip bbox and sorted by
    * water id. Takes an Iterator so the join path can STREAM candidates
    * from the sorted shuffle — only the running geometry and the current
    * water geometry are ever resident, regardless of candidate count.
    */
  private def clipFold(wkb: Array[Byte], ws: Iterator[Array[Byte]]): Array[Byte] = {
    var geom = Jts.fromWkb(wkb).buffer(0)
    ws.foreach { w =>
      if (graft.functions.PreparedCache.get(w).intersects(geom)) {
        try geom = geom.difference(Jts.fromWkb(w)) catch { case _: Exception => }
      }
    }
    Jts.toWkb(geom)
  }

  /** P6/P7: water clipping — same row-level semantics as the reference
    * (geometries.go:228-263, water.go:235-300): each feature is
    * buffer(0)-repaired then differenced sequentially, in water-id order,
    * against every prepped water geometry whose envelope overlaps the
    * feature's pre-clip bbox and which truly intersects the running
    * geometry (difference only shrinks geometry, so the pre-clip bbox
    * stays a valid superset throughout the fold).
    *
    * Two physical paths, chosen by RAW water size (a conservative proxy
    * for the prepped size) — prep itself is always distributed
    * (`prepWater`), never a raw-table driver collect:
    *  - **broadcast** (≤ `broadcastLimitBytes` of raw WKB): collect
    *    the prepped rows, broadcast, bbox-prefilter per feature in a
    *    typed map — zero shuffle of the feature table;
    *  - **cell join** (planet-scale water layers): candidate
    *    (feature, water) pairs come from an envelope-cell equi-join —
    *    each side keys by the smallest quadtree cell containing its
    *    envelope; two envelopes can only overlap when one envelope-cell
    *    contains the other (cells are nested-or-disjoint), so the exact
    *    cell of one side joined against the ancestor chain of the other
    *    (both directions) is a lossless candidate set — then the exact
    *    bbox-overlap filter, a per-feature sorted collect_list, and the
    *    same fold. No driver memory ceiling.
    * Expects features(objId, wkb, bbox); returns (objId, wkb, bbox) with
    * the pre-clip bbox (callers re-derive post-clip bboxes).
    */
  def clipWater(features: DataFrame, water: DataFrame, simplifyDigits: Int,
                broadcastLimitBytes: Long = 64L << 20): DataFrame = {
    // strategy pick from the RAW water size: simplify+buffer(0) only ever
    // shrinks-or-keeps the WKB within a small factor, so raw bytes are a
    // conservative broadcast-budget proxy — and probing the raw table
    // avoids caching the prepped one just to measure it (the join path
    // would have no sound place to unpersist a lazy cache and leaked it)
    val totalBytes = water.agg(coalesce(sum(length(col("wkb"))), lit(0L)))
      .head().getLong(0)
    val prepped = prepWater(water, simplifyDigits)
    if (totalBytes <= broadcastLimitBytes) clipWaterBroadcast(features, prepped)
    else clipWaterJoin(features, prepped)
  }

  private def clipWaterBroadcast(features: DataFrame, prepped: DataFrame): DataFrame = {
    val spark = features.sparkSession
    import spark.implicits._
    val waterPrepped: Array[(Array[Byte], (Double, Double, Double, Double))] =
      prepped.select("wid", "wwkb", "wx0", "wy0", "wx1", "wy1")
        .as[(Long, Array[Byte], Double, Double, Double, Double)]
        .collect().sortBy(_._1)
        .map { case (_, w, x0, y0, x1, y1) => (w, (x0, y0, x1, y1)) }
    val bc = spark.sparkContext.broadcast(waterPrepped)

    features
      .select(col("objId").as("_1"), col("wkb").as("_2"),
        col("bbox.minx").as("_3"), col("bbox.miny").as("_4"),
        col("bbox.maxx").as("_5"), col("bbox.maxy").as("_6"))
      .as[(Long, Array[Byte], Double, Double, Double, Double)]
      .map { case (objId, wkb, minx, miny, maxx, maxy) =>
        val ws = bc.value.iterator.collect {
          case (w, (wx0, wy0, wx1, wy1))
              if minx <= wx1 && maxx >= wx0 && miny <= wy1 && maxy >= wy0 => w
        }
        (objId, clipFold(wkb, ws), minx, miny, maxx, maxy)
      }
      .toDF("objId", "wkb", "minx", "miny", "maxx", "maxy")
      .withColumn("bbox", struct(col("minx"), col("miny"), col("maxx"), col("maxy")))
      .select("objId", "wkb", "bbox")
  }

  private def clipWaterJoin(features: DataFrame, prepped: DataFrame): DataFrame = {
    val spark = features.sparkSession
    import spark.implicits._
    import graft.cells.{Cell, Coverer}

    val feat = features.select(col("objId"), col("wkb"),
      col("bbox.minx").as("fx0"), col("bbox.miny").as("fy0"),
      col("bbox.maxx").as("fx1"), col("bbox.maxy").as("fy1"))

    // envelope cell per side (exact: four corners in one cell ⇒ whole
    // rectangle in it), plus the ancestor chains for the containment join
    val fKeys = feat.select(col("objId"), col("fx0"), col("fy0"), col("fx1"), col("fy1"))
      .as[(Long, Double, Double, Double, Double)]
      .map { case (id, x0, y0, x1, y1) =>
        (id, Coverer.envelopeCell(x0, y0, x1, y1), x0, y0, x1, y1)
      }.toDF("objId", "fcell", "fx0", "fy0", "fx1", "fy1")
    val wKeys = prepped.select(col("wid"), col("wx0"), col("wy0"), col("wx1"), col("wy1"))
      .as[(Long, Double, Double, Double, Double)]
      .map { case (id, x0, y0, x1, y1) =>
        (id, Coverer.envelopeCell(x0, y0, x1, y1), x0, y0, x1, y1)
      }.toDF("wid", "wcell", "wx0", "wy0", "wx1", "wy1")

    val fAnc = fKeys.select(col("objId"), col("fx0"), col("fy0"), col("fx1"), col("fy1"),
        col("fcell")).as[(Long, Double, Double, Double, Double, Long)]
      .flatMap { case (id, x0, y0, x1, y1, c) =>
        Cell.ancestors(c, 0, Cell.level(c)).iterator.map(a => (id, x0, y0, x1, y1, a))
      }.toDF("objId", "fx0", "fy0", "fx1", "fy1", "cell")
    val wAncStrict = wKeys.select(col("wid"), col("wx0"), col("wy0"), col("wx1"), col("wy1"),
        col("wcell")).as[(Long, Double, Double, Double, Double, Long)]
      .flatMap { case (id, x0, y0, x1, y1, c) =>
        Cell.ancestors(c, 0, Cell.level(c) - 1).iterator.map(a => (id, x0, y0, x1, y1, a))
      }.toDF("wid", "wx0", "wy0", "wx1", "wy1", "cell")

    val bboxOverlap = col("fx0") <= col("wx1") && col("fx1") >= col("wx0") &&
      col("fy0") <= col("wy1") && col("fy1") >= col("wy0")
    // water cell ⊇ feature cell (join1) XOR feature cell ⊃ water cell
    // (join2, strict) — disjoint cases, so no pair-level dedup needed
    val pairs = fAnc.join(wKeys.withColumnRenamed("wcell", "cell"), Seq("cell"))
      .filter(bboxOverlap).select("objId", "wid")
      .unionByName(
        fKeys.withColumnRenamed("fcell", "cell").join(wAncStrict, Seq("cell"))
          .filter(bboxOverlap).select("objId", "wid"))

    // STREAMING fold via sort-merge cogroup: the old shape collected each
    // feature's full candidate list into one row (collect_list) before
    // folding — a coastal mega-feature overlapped by 10⁴ water geometries
    // concentrated every candidate blob in a single task's row. The
    // cogroup's water-side iterator streams wid-sorted candidates straight
    // from the sorted shuffle files, so task memory is O(running geometry
    // + ONE water geometry) no matter how many candidates a feature has.
    val featKV = feat
      .select(col("objId").as("_1"), col("wkb").as("_2"),
        col("fx0").as("_3"), col("fy0").as("_4"), col("fx1").as("_5"), col("fy1").as("_6"))
      .as[(Long, Array[Byte], Double, Double, Double, Double)]
      .groupByKey(_._1)
    val candKV = pairs
      .join(prepped.select("wid", "wwkb"), Seq("wid"))
      .select(col("objId").as("_1"), col("wid").as("_2"), col("wwkb").as("_3"))
      .as[(Long, Long, Array[Byte])]
      .groupByKey(_._1)

    featKV.cogroupSorted(candKV)()(col("_2").asc) { (objId, fit, wit) =>
      // at most one feature row per objId; candidates stream in wid order
      fit.map { case (_, wkb, minx, miny, maxx, maxy) =>
        (objId, clipFold(wkb, wit.map(_._3)), minx, miny, maxx, maxy)
      }
    }
      .toDF("objId", "wkb", "minx", "miny", "maxx", "maxy")
      .withColumn("bbox", struct(col("minx"), col("miny"), col("maxx"), col("maxy")))
      .select("objId", "wkb", "bbox")
  }

  /** E3: greedy nearest-centroid slicing — reproduces export.go:59-98
    * exactly, including the aggregated-center initialization quirk (starts
    * at (0,0) with centerCount=1) and the bb[0]+bb[2]/2 "center"
    * arithmetic (E2). Driver-side over one row per object (tiny by
    * construction). Returns (objId, slice).
    */
  /** Hard ceiling for the driver-side greedy slicer: one row per EXPORTED
    * object is reference semantics (curated layers are 10³-10⁴ objects),
    * but the loop is O(n²) — a misuse that feeds a planet-scale feature
    * table must error loudly instead of spinning the driver silently.
    */
  val MaxSliceObjects = 100000

  def slices(objects: DataFrame, pointLimit: Int): Seq[(Long, Int)] = {
    // pointLimit <= 0 would spin the outer loop forever (the inner fill
    // loop never removes a center)
    require(pointLimit > 0, s"pointLimit must be positive, got $pointLimit")
    val spark = objects.sparkSession
    import spark.implicits._
    val nObjs = objects.count()
    require(nObjs <= MaxSliceObjects,
      s"slices() is the reference's driver-side greedy O(n²) pass over one row per " +
        s"exported object ($nObjs objects > $MaxSliceObjects): curate the layer or " +
        "slice by tile instead (Tiling.assign)")
    val objs = objects.select(col("objId"), col("minx"), col("miny"),
      col("maxx"), col("maxy"), col("nPoints"))
      .as[(Long, Double, Double, Double, Double, Long)].collect()

    val centers = scala.collection.mutable.LinkedHashMap[Long, (Double, Double)]()
    val points = scala.collection.mutable.HashMap[Long, Long]()
    objs.sortBy(_._1).foreach { case (id, minx, miny, maxx, maxy, n) =>
      // reference: bb[0] + bb[2]/2, bb[1] + bb[3]/2 — as written
      centers(id) = (minx + maxx / 2, miny + maxy / 2)
      points(id) = n
    }

    val out = scala.collection.mutable.ArrayBuffer[(Long, Int)]()
    var slice = 0
    while (centers.nonEmpty) {
      var aggX = 0.0; var aggY = 0.0
      var centerCount = 1
      var pointCount = 0L
      while (pointCount < pointLimit && centers.nonEmpty) {
        val curLng = aggX / centerCount
        val curLat = aggY / centerCount
        var bestId = -1L
        var bestDist = Double.MaxValue
        for ((id, (cx, cy)) <- centers) {
          val d = Algorithms.geoDistance(curLng, curLat, cx, cy)
          if (d < bestDist) { bestDist = d; bestId = id }
        }
        val (cx, cy) = centers(bestId)
        aggX += cx; aggY += cy
        centerCount += 1
        centers.remove(bestId)
        out += ((bestId, slice))
        pointCount += points(bestId)
      }
      slice += 1
    }
    out.toSeq
  }
}
