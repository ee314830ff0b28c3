package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cells.Cell
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
  * Each plans from its dims' memoized [[Dimension]], the first two from
  * its cover half alone; over cached dims a warm build runs no job.
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

  /** The level band of the cover rows, [[Dimension.Covers.levelBand]]. */
  def coverLevelBand(covers: DataFrame): (Int, Int) = Dimension.covers(covers).levelBand

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

  /** Broadcast-index strategy: the hot path for fact-side scans. The
    * [[Dimension]]'s broadcast [[PipIndex]] is probed by one
    * `st_pip_match` generator: the stab+refine per page, emitting a
    * `(relId, layer)` row per true match — ~2-3 rows per matched page
    * instead of ~11 ancestor join rows, with no join and no shuffle. The
    * generator is codegen'd, so it runs in the scan's whole-stage stage.
    * Identical rows to `matches` (tested). `polygons` must hold one row
    * per relId.
    */
  def matchesIndexed(pages: DataFrame, covers: DataFrame, polygons: DataFrame,
                     extraPageCols: Seq[String] = Nil): DataFrame = {
    val matchGen = org.apache.spark.sql.graft.Bridge.column(PipMatch(
      org.apache.spark.sql.graft.Bridge.expression(col("lon")),
      org.apache.spark.sql.graft.Bridge.expression(col("lat")),
      Dimension.of(covers, polygons).broadcast))

    pages
      .select(col("*"), matchGen.as(Seq("relId", "layer")))
      .select((Seq("url", "layer", "relId") ++ extraPageCols).map(col): _*)
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
    * `joinLevel <= 0` picks [[Dimension.Covers.joinLevel]].
    *
    * A probe-side pre-shuffle semi-join prunes pages when the cover is
    * sparse ([[autoPrune]]): then whole swaths of probe cells can only be
    * dropped by the join, which the semi-join does BEFORE the shuffle
    * (BENCH.md round 6); for a dense cover it is pure cost.
    */
  def matchesPartitioned(pages: DataFrame, covers: DataFrame, polygons: DataFrame,
                         joinLevel: Int = 0): DataFrame = {
    val stats = Dimension.covers(covers)
    val jl = if (joinLevel > 0) joinLevel else stats.joinLevel
    // ONE build row per (relId, layer, joinCell): merged range list. Only
    // the (small) dimension side shuffles, once: the pruning semi-join
    // reuses this exchange instead of running the explode twice.
    val coverAgg = coverJoinCells(covers, jl)
      .groupBy("relId", "layer", "joinCell")
      .agg(collect_list(struct(col("rmin"), col("rmax"))).as("ranges"))
    val doPrune = autoPrune(stats.joinCells(jl), jl)

    val probes0 = pages
      .withColumn("joinCell", st_cell_at(col("lon"), col("lat"), jl))
      .withColumn("leaf", st_cell_at(col("lon"), col("lat"), Cell.MaxLevel))

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

  /** The partitioned strategy's cover explode: one (relId, layer,
    * joinCell, rmin, rmax) row per level-`jl` cell of each cover cell.
    * [[Dimension.Covers.joinCells]] counts its distinct join cells.
    */
  private[operators] def coverJoinCells(covers: DataFrame, jl: Int): DataFrame = {
    import covers.sparkSession.implicits._
    covers.select(col("relId"), col("layer"), col("cellId")).as[(Long, String, Long)]
      .flatMap { case (relId, layer, cellId) =>
        // a fine cell keys on its ancestor and keeps its own leaf range
        if (Cell.level(cellId) >= jl)
          Iterator.single((relId, layer, Cell.parent(cellId, jl), Cell.rangeMin(cellId), Cell.rangeMax(cellId)))
        else {
          // descend to joinLevel: at most 4^(jl-l) cells; coarse cover
          // cells are rare (big polygons) by construction. The descendant
          // IS the join cell, so its range is the whole cell.
          def desc(c: Long): Iterator[Long] =
            if (Cell.level(c) == jl) Iterator.single(c) else Cell.children(c).iterator.flatMap(desc)
          desc(cellId).map(j => (relId, layer, j, Cell.rangeMin(j), Cell.rangeMax(j)))
        }
      }
      .toDF("relId", "layer", "joinCell", "rmin", "rmax")
  }

  /** The auto-prune density rule: prune when the build side covers less
    * than [[PruneCoverageThreshold]] of the level-`jl` grid, exactly 4^jl
    * cells (the Cell scheme is ONE quadtree square; PipelineSpec pins full
    * coverage ⇒ no prune). */
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

  /** Probes through [[matchesIndexed]], so it shares that [[Dimension]]
    * handle: over the dims that built `matches`, its PIP pass rebuilds
    * nothing. So `polygons` must hold one row per relId, as for
    * `matchesIndexed`.
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
