package graft.operators

import java.nio.ByteBuffer

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.DimensionKey

import graft.functions.GeomExpressions._

/** The central spatial join: "for each page (point), which polygons of
  * each layer contain it?" — the Spark re-expression of the reference's
  * segment-tree stab + exact GEOS refine
  * (/root/reference/osmtopo/lookup/lookup.go:156-174, env.go:657-715).
  *
  * Coarse phase: a cover cell containing a point's leaf cell is necessarily
  * an *ancestor* of that leaf (quadtree ranges are nested-or-disjoint), so
  * the interval-stab becomes an **equi-join**: explode each page into its
  * ancestor cell ids at the cover's level band and hash-join against the
  * cover table on cellId. No range predicate, no false negatives.
  *
  * Exact phase: residual `ST_Contains(polyWkb, lon, lat)` with prepared
  * geometries memoized per executor.
  *
  * Three DataFrame strategies, each with identical rows:
  *  - [[matches]]: covers and polygons broadcast into two Catalyst joins;
  *    the explode is map-side, zero shuffle of the page table. The
  *    reference the other two are tested against;
  *  - [[matchesIndexed]]: the hot path — one broadcast [[PipIndex]] probed
  *    by a codegen'd generator, no join;
  *  - [[matchesPartitioned]]: for dimension tables too big to broadcast —
  *    covers are exploded to a fixed join level and shuffled; pages carry
  *    one row per fixed-level cell; AQE's skew join splits hot cells.
  */
object PipJoin {

  /** Auto-prune rule for [[matchesPartitioned]]: enable the probe-side
    * pre-shuffle semi-join when the build side covers less than this
    * fraction of the join-level grid. Below it, enough probe cells are
    * guaranteed-uncovered that dropping their pages before the shuffle
    * beats the broadcast-semi-join's per-row cost; at ~full coverage the
    * semi-join keeps every row and is pure overhead.
    */
  val PruneCoverageThreshold = 0.8

  /** Level band actually present in a cover table — probing only these
    * levels shrinks the page-side explode from 19 ancestors to the band in
    * use (collected once; the cover table is the small side).
    */
  // level from a cell id's trailing-zero count. Round, don't truncate:
  // log2(2^58) evaluates to 58.000000000000004 in doubles, and truncation
  // would misclassify coarse levels (shrinking the ancestor band and
  // silently dropping matches). Single definition — band and join-level
  // stats must never drift apart.
  private val levelExpr = "cast(round(30 - log2(cellId & -cellId) / 2) as int)"

  def coverLevelBand(covers: DataFrame): (Int, Int) = {
    val row = covers
      .select(expr(levelExpr).as("lvl"))
      .agg(min("lvl"), max("lvl")).head()
    // empty cover table → empty match set; any band works, use the
    // narrowest (one ancestor) instead of NPEing on the null aggregate
    if (row.isNullAt(0)) (graft.cells.Coverer.MinLevel, graft.cells.Coverer.MinLevel)
    else (row.getInt(0), row.getInt(1))
  }

  /** Broadcast strategy. `pages` needs (url, lon, lat); covers
    * (relId, layer, cellId); polygons (relId, wkb). Output: one row per
    * (url, layer, relId) containment — identical row set to the
    * reference's queryLookup matches.
    */
  def matches(pages: DataFrame, covers: DataFrame, polygons: DataFrame,
              extraPageCols: Seq[String] = Nil): DataFrame = {
    val (minL, maxL) = coverLevelBand(covers)
    // TWO broadcasts, geometry broadcast ONCE per relation: joining
    // covers⋈polygons before broadcasting would replicate each polygon's
    // WKB onto every cover cell (≤8× blob inflation of the broadcast —
    // the budget-killer exactly where broadcast is supposed to win). A
    // page's ancestor chain hits at most one cell of a relation's
    // normalized-disjoint cover, so candidate multiplicity is unchanged;
    // the exact refine rides the second join's condition.
    val polyDim = polygons.select(col("relId").as("p_relId"), col("wkb"))
    pages
      .withColumn("cellId", explode(st_cell_ancestors(col("lon"), col("lat"), minL, maxL)))
      .join(broadcast(covers.select("relId", "layer", "cellId")), Seq("cellId"))
      .join(broadcast(polyDim),
        col("relId") === col("p_relId") &&
          st_contains_point_keyed(col("relId"), col("wkb"), col("lon"), col("lat")))
      .select((Seq("url", "layer", "relId") ++ extraPageCols).map(col): _*)
  }

  /** Broadcast-index strategy: the hot path for fact-side scans. Covers
    * and polygons are collected into a broadcast [[PipIndex]], and one
    * `st_pip_match` generator runs the stab+refine per page and emits a
    * `(relId, layer)` row per true match — ~2-3 rows per matched page
    * instead of ~11 ancestor join rows, with no join and no shuffle. The
    * generator is codegen'd, so it runs in the scan's whole-stage stage.
    * Identical rows to `matches` (tested). `polygons` must hold one row
    * per relId.
    *
    * The index is built once per dimension version: the broadcast lives
    * in one [[graft.SessionMemo]] slot, under one of two versions.
    *  - Dims that read only cached DataFrames, through deterministic
    *    operators with no typed closure or UDF, are keyed by plan: each
    *    side's [[DimensionKey]], its canonical optimized plan after cache
    *    substitution plus the identity of every cache entry it reads. A
    *    warm call runs no Spark job; a new DataFrame over the same cache
    *    hits, and a re-`cache()` or another plan misses.
    *  - Any other dims (file scans, local relations, RDDs, closures,
    *    nondeterministic plans) are collected on every call, in one job,
    *    and the version is the exact collected content (cover rows, and
    *    each polygon's relId and WKB bytes).
    * Either way, equal dims reuse the index and any change rebuilds it; a
    * miss costs one collect plus the build, and the collect runs outside
    * the memo's lock. A replaced broadcast is not destroyed: a plan made
    * before the change may still run against it, and Spark's
    * ContextCleaner frees it once no plan holds it.
    */
  def matchesIndexed(pages: DataFrame, covers: DataFrame, polygons: DataFrame,
                     extraPageCols: Seq[String] = Nil): DataFrame = {
    val spark = pages.sparkSession
    val key = for (c <- DimensionKey.of(covers); p <- DimensionKey.of(polygons)) yield (c, p)
    val index = key.flatMap(graft.SessionMemo.peek[Broadcast[PipIndex]](spark, "pipIndex", _)).getOrElse {
      // one job: both sides collect as one tagged union, split on the
      // driver (a union collects its children's partitions in order, so
      // each side keeps its row order)
      val (coverSide, polySide) = covers.select(lit(true).as("isCover"), col("relId").cast("long"), col("layer"),
          col("cellId").cast("long"), lit(null).cast("binary").as("wkb"))
        .union(polygons.select(lit(false), col("relId").cast("long"), lit(null).cast("string"),
          lit(null).cast("long"), col("wkb")))
        .collect().partition(_.getBoolean(0))
      val coverRows = coverSide.map(r => (r.getLong(1), r.getString(2), r.getLong(3)))
      val polyRows = polySide.map(r => (r.getLong(1), r.getAs[Array[Byte]](4)))
      val version = key.getOrElse(
        (coverRows.toSeq, polyRows.toSeq.map { case (id, wkb) => (id, ByteBuffer.wrap(wkb)) }))
      graft.SessionMemo.get(spark, "pipIndex", version)(
        spark.sparkContext.broadcast(PipIndex.of(coverRows, polyRows)))(_ => ())
    }
    val matchGen = org.apache.spark.sql.graft.Bridge.column(PipMatch(
      org.apache.spark.sql.graft.Bridge.expression(col("lon")),
      org.apache.spark.sql.graft.Bridge.expression(col("lat")),
      index))

    pages
      .select(col("*"), matchGen.as(Seq("relId", "layer")))
      .select((Seq("url", "layer", "relId") ++ extraPageCols).map(col): _*)
  }

  private val MaxJoinLevel = 12

  /** joinLevel from cover stats: fine enough that most cover cells map UP
    * to their ancestor (no 4^Δ descend blow-up), coarse enough to keep the
    * per-key build rows bounded — the 75th-percentile cover level, clamped.
    */
  def chooseJoinLevel(covers: DataFrame): Int = {
    val row = covers
      .select(expr(levelExpr).as("lvl"))
      .agg(expr("percentile(lvl, 0.75)")).head()
    if (row.isNullAt(0)) graft.cells.Coverer.MinLevel // empty covers → empty join
    else math.max(graft.cells.Coverer.MinLevel,
      math.min(MaxJoinLevel, math.round(row.getDouble(0)).toInt))
  }

  /** Partitioned strategy for non-broadcastable dimension sides: covers are
    * exploded down/up to `joinLevel` and **pre-aggregated to one build row
    * per (relId, layer, joinCell)** carrying the merged leaf-range list;
    * pages carry exactly one join key (their `joinLevel` ancestor).
    * Because the build side is unique per key and each page has one
    * key, the probe join emits at most one candidate per (page, relation) —
    * no output-side dropDuplicates shuffle of the (huge) match set.
    * Coarse cover cells descend to their `joinLevel` descendants (range =
    * whole join cell); finer cells map to their ancestor keeping their own
    * range for the residual test. AQE's skew join handles hot cells.
    * `joinLevel <= 0` picks the level from cover stats.
    *
    * Probe-side pre-shuffle semi-join pruning is decided from cover
    * DENSITY ([[autoPrune]]): count the distinct build joinCells against
    * the level-`jl` grid (4^jl cells) and prune when the covered fraction
    * is below [[PruneCoverageThreshold]] — a sparse cover means whole
    * swaths of probe cells can only be dropped by the join, which the
    * semi-join does BEFORE the shuffle (BENCH.md round 6); a dense cover
    * makes the semi-join pure cost (every probe survives).
    */
  def matchesPartitioned(pages: DataFrame, covers: DataFrame, polygons: DataFrame,
                         joinLevel: Int = 0): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    val jl = if (joinLevel > 0) joinLevel else chooseJoinLevel(covers)

    val coverCellsBase = covers.select(col("relId"), col("layer"), col("cellId"))
      .as[(Long, String, Long)]
      .flatMap { case (relId, layer, cellId) =>
        val l = graft.cells.Cell.level(cellId)
        if (l >= jl) {
          // fine cell: ancestor key, keep the cell's own leaf range
          Iterator.single((relId, layer, graft.cells.Cell.parent(cellId, jl),
            graft.cells.Cell.rangeMin(cellId), graft.cells.Cell.rangeMax(cellId)))
        } else {
          // descend to joinLevel: at most 4^(jl-l) cells; coarse cover
          // cells are rare (big polygons) by construction. The descendant
          // IS the join cell, so its range is the whole cell.
          def desc(c: Long): Iterator[Long] =
            if (graft.cells.Cell.level(c) == jl) Iterator.single(c)
            else graft.cells.Cell.children(c).iterator.flatMap(desc)
          desc(cellId).map(j =>
            (relId, layer, j, graft.cells.Cell.rangeMin(j), graft.cells.Cell.rangeMax(j)))
        }
      }
      .toDF("relId", "layer", "joinCell", "rmin", "rmax")
    // ONE build row per (relId, layer, joinCell): merged range list.
    // This shuffles only the (small) dimension side, once. The distinct
    // joinCell set below derives from THIS aggregated form, so the cover
    // explode's exchange is shared (ReuseExchange) instead of the explode
    // running twice (ADVICE round 6).
    val coverAgg = coverCellsBase
      .groupBy("relId", "layer", "joinCell")
      .agg(collect_list(struct(col("rmin"), col("rmax"))).as("ranges"))
    val doPrune = autoPrune(coverAgg.select("joinCell").distinct().count(), jl)

    val probes0 = pages
      .withColumn("joinCell", st_cell_at(col("lon"), col("lat"), jl))
      .withColumn("leaf", st_cell_at(col("lon"), col("lat"), graft.cells.Cell.MaxLevel))

    // probe-side pruning: pages whose joinCell has NO build row can only
    // be dropped by the join — a broadcast SEMI-join on the distinct
    // build cells (grid-bounded: ≤ #cells at joinLevel, independent of
    // dimension size) drops them BEFORE the shuffle instead of after.
    // Spark's own runtime bloom filter does this automatically only past
    // its 10 GB application-side scan threshold; this makes the pruning
    // unconditional. Row set unchanged (semi-join of an inner-join key).
    val probes =
      if (!doPrune) probes0
      else probes0.join(broadcast(coverAgg.select("joinCell").distinct()),
        Seq("joinCell"), "left_semi")

    probes
      .join(coverAgg, Seq("joinCell"))
      .filter(exists(col("ranges"),
        r => col("leaf") >= r.getField("rmin") && col("leaf") <= r.getField("rmax")))
      .join(polygons.select(col("relId"), col("wkb")), Seq("relId"))
      .filter(st_contains_point_keyed(col("relId"), col("wkb"), col("lon"), col("lat")))
      .select("url", "layer", "relId")
  }

  /** The auto-prune density rule: prune when the build side covers less
    * than [[PruneCoverageThreshold]] of the level-`jl` grid. The Cell
    * scheme is ONE quadtree square — exactly 4^jl cells at level jl. (A
    * doubled denominator here capped the fraction at 0.5 and made auto
    * mode enable the semi-join unconditionally: dense covers paid the
    * broadcast semi-join for zero dropped rows — ADVICE r7 #1.
    * PipelineSpec pins full coverage ⇒ no prune.)
    */
  private[operators] def autoPrune(coveredCells: Long, jl: Int): Boolean =
    coveredCells.toDouble / math.pow(4.0, jl) < PruneCoverageThreshold

  /** J7: matched-per-layer pivot — one row per url with the matched relId
    * per layer (first match, deterministic by min relId).
    */
  def perLayer(matches: DataFrame, layers: Seq[String]): DataFrame =
    matches.groupBy("url").pivot("layer", layers).agg(min("relId"))

  /** J8: completeness — pages NOT matched in all `layers` (the "missing"
    * workflow, missing.go:25-61): emitted with the set of layers they did
    * match.
    */
  def missing(pages: DataFrame, matches: DataFrame, layers: Seq[String]): DataFrame = {
    val counts = matches
      .filter(col("layer").isin(layers: _*))
      .groupBy("url").agg(countDistinct("layer").as("nLayers"))
    pages.join(counts, Seq("url"), "left")
      .filter(coalesce(col("nLayers"), lit(0)) < layers.length)
      .select(pages.columns.toIndexedSeq.map(col): _*)
  }

  /** J9+J10: suggestions for unmatched points — query the *uncurated*
    * polygon set, then apply match-rules: when the point's match in
    * `rule.matchLayer` equals `rule.matchRelId`, suggestions in
    * `rule.restrictLayer` must have adminLevel ∈ restrict set
    * (config.go:62-65 + frontend store.tsx:103-124 semantics, applied
    * server-side).
    */
  case class MatchRule(matchLayer: String, matchRelId: Long,
                       restrictLayer: String, restrictAdminLevels: Seq[Int]) {

    /** The filter of [[suggestions]] for one point, as a pure function:
      * `matched` holds the point's (layer, relId) matches; a suggestion in
      * `layer` at `adminLevel` is kept unless the rule fires and restricts
      * it. `r_url IS NULL OR layer != restrictLayer OR adminLevel IN
      * restrict` under SQL's three-valued logic, so a null layer is
      * restricted like the restrict layer.
      */
    def keeps(matched: Set[(String, Long)], layer: String, adminLevel: Int): Boolean =
      !matched((matchLayer, matchRelId)) ||
        (layer != null && layer != restrictLayer) ||
        restrictAdminLevels.contains(adminLevel)
  }

  /** Probes through [[matchesIndexed]], so it shares that index memo:
    * over the dims that built `matches`, its PIP pass rebuilds nothing.
    * So `polygons` must hold one row per relId, as for `matchesIndexed`.
    */
  def suggestions(missingPages: DataFrame, covers: DataFrame, polygons: DataFrame,
                  matches: DataFrame, rules: Seq[MatchRule]): DataFrame = {
    val sugg = PipJoin.matchesIndexed(missingPages, covers, polygons)
      .join(polygons.select(col("relId"), col("adminLevel"), col("name")), Seq("relId"))
    rules.foldLeft(sugg) { (acc, rule) =>
      val ruled = matches
        .filter(col("layer") === rule.matchLayer && col("relId") === rule.matchRelId)
        .select(col("url").as("r_url")).distinct()
      // `MatchRule.keeps` is this filter for one point (TopoServerSpec
      // checks the server's suggestions against this join)
      acc.join(ruled, acc("url") === col("r_url"), "left")
        .filter(col("r_url").isNull || col("layer") =!= rule.restrictLayer ||
          col("adminLevel").isin(rule.restrictAdminLevels: _*))
        .drop("r_url")
    }
  }
}
