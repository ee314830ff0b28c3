package graft.operators

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.cells.Cell
import graft.functions.GeomExpressions._
import graft.functions.TopKByDist

/** E7: k-nearest-neighbors via expanding cell-ring search (graft extension
  * required by the north rule). Around each query, rings of cells at a
  * fixed index level are searched in batches that double in width:
  * candidates come from an equi-join of the cell-indexed page table
  * against the frontier cells, and only each query's best k survive a
  * round. A query stops once its k-th best distance is provably closer
  * than anything a further ring could hold (ring r's nearest possible
  * point is ≥ (r-1) cell-heights away).
  *
  * One loop, [[ringSearch]], keeps each query's search state and best k
  * as columns of one table, checkpointed once per round, so the driver
  * sees one scalar per round (the active-query count), never per-query
  * rows. Three candidate
  * sources feed it, so all three entry points share one stop rule and one
  * (dist, url) tie order and return identical rows:
  *  - [[knnBatch]] — queries as a DataFrame against an in-memory
  *    cell-indexed cache of the page table, for query counts the driver
  *    should never hold;
  *  - [[knn]] — the same for a driver-held `Seq[Query]`;
  *  - [[knnIndexed]] — a parquet table written by [[writeIndexed]],
  *    hive-partitioned by the coarse parent cell and cellId-sorted within
  *    files, so each round's read PRUNES whole partition directories
  *    (PartitionFilters on the parent cell) and row-groups (cellId
  *    min/max): the planet-scale shape where the page table is far bigger
  *    than cache.
  *
  * Deterministic: ties broken by url.
  */
object Knn {

  case class Query(queryId: String, lon: Double, lat: Double)

  /** Cell level of the ring search and of the [[writeIndexed]] `cellId`. */
  private val Level = 8
  /** Level of the [[writeIndexed]] partition cell `pcell` (≤ [[Level]]). */
  private val PartitionLevel = 4

  /** [[knnBatch]] for a driver-held query list. */
  def knn(pages: DataFrame, queries: Seq[Query], k: Int): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    knnBatch(pages, queries.toDF(), k)
  }

  /** kNN for queries given as a DataFrame (queryId, lon, lat) — up to the
    * 10⁶-probe shape ("nearest N docs for every cluster centroid"). The
    * candidate join is a plain cellId equi-join against a cache of the
    * cell-indexed page table (no forced broadcast — AQE picks the
    * physical join for the probe volume).
    *
    * `maxRounds <= 0` (default) derives a budget that always reaches the
    * whole-grid radius (the frontier doubles per round); an explicit
    * smaller budget that exhausts before every query completes FAILS
    * loudly — a silently truncated search would return wrong neighbors as
    * if definitive.
    *
    * `clusterIndexThresholdBytes` gates the cellId-clustered index cache
    * by ESTIMATED index size (catalyst plan stats — no extra job): the
    * upfront repartition+sort costs ~0.4-0.5 s at fixture scale and only
    * pays when rounds sort-merge-join against a BIG index (the cost it
    * avoids — re-exchanging the index per round — scales with index
    * size). Below the threshold the plain cache is kept: re-exchanging a
    * small index is cheaper than clustering it up front. Results are
    * identical either way (layout only); KnnBatchSpec runs both sides.
    */
  def knnBatch(pages: DataFrame, queries: DataFrame, k: Int, maxRounds: Int = -1,
               clusterIndexThresholdBytes: Long = 64L << 20): DataFrame = {
    val base = pages
      .withColumn("cellId", st_cell_at(col("lon"), col("lat"), Level))
      .select("url", "lon", "lat", "cellId")
    // cellId-clustered + sorted cache: rounds whose probe set outgrows
    // the broadcast threshold sort-merge-join against the index, and a
    // plain cache would RE-EXCHANGE the whole index on each such round
    // (measured: the index side was the dominant shuffle term at the
    // 10⁵×10⁸ shape — table-linear, ~3 full-index shuffles per run).
    // Caching behind repartition+sort pays ONE upfront index shuffle
    // and every round's join then reuses the cached partitioning and
    // ordering (only the probe side exchanges). Gated by estimated
    // size: below the threshold the avoided re-exchange is smaller
    // than the upfront shuffle+sort, so keep the plain cache.
    val indexed =
      if (base.queryExecution.optimizedPlan.stats.sizeInBytes <= clusterIndexThresholdBytes)
        base.cache()
      else base
        .repartition(col("cellId"))
        .sortWithinPartitions(col("cellId"))
        .cache()
    try ringSearch(queries, k, maxRounds)(probes => indexed.join(probes, Seq("cellId")))
    finally indexed.unpersist() // result rides checkpointed best-k, not `indexed`
  }

  /** Write the cell-indexed page table for [[knnIndexed]]: hive-partitioned
    * by the coarse parent cell (`pcell`), cellId-sorted within partitions
    * so parquet row-group min/max stats stay tight. One shuffle; rewriting
    * is only needed when the page table changes.
    */
  def writeIndexed(pages: DataFrame, path: String): Unit =
    pages
      .withColumn("cellId", st_cell_at(col("lon"), col("lat"), Level))
      // cellAt truncates the same leaf coordinates, so the coarse cell of
      // (lon, lat) IS the PartitionLevel ancestor of its Level cell
      .withColumn("pcell", st_cell_at(col("lon"), col("lat"), PartitionLevel))
      .select("url", "lon", "lat", "cellId", "pcell")
      .repartition(col("pcell"))
      .sortWithinPartitions(col("pcell"), col("cellId"))
      .write.mode("overwrite").partitionBy("pcell").parquet(path)

  /** kNN over a [[writeIndexed]] table: identical results to [[knn]]
    * (shared loop), but each round reads ONLY the partition directories
    * whose coarse cell is an ancestor of a frontier cell — the per-round
    * scan is proportional to the frontier, not the table. This is the
    * shape that holds when the page table is planet-scale: no cache big
    * enough to absorb it, no full scan per ring.
    */
  def knnIndexed(spark: SparkSession, path: String, queries: Seq[Query], k: Int): DataFrame = {
    import spark.implicits._
    // ONE file-index listing for the whole search: partition pruning is
    // extracted from each round's filter at planning time, so reusing the
    // DataFrame keeps the per-round PartitionFilters while re-listing the
    // table's directories once instead of once per ring. The Fixtures
    // parquet-plan memo extends that reuse across searches in a session
    // (metadata only; content-stamped, so a rewritten index re-lists).
    val table = graft.sources.Fixtures.readParquet(spark, path)
    ringSearch(queries.toDF(), k, maxRounds = -1) { probes =>
      // the frontier's parent cells as LITERALS (at most 4^PartitionLevel),
      // so the pcell filter lands in the scan's PartitionFilters
      val parents = probes.select(col("cellId")).as[Long]
        .mapPartitions(_.map(Cell.parent(_, PartitionLevel)).toSet.iterator)
        .collect().toSeq.distinct
      table
        .filter(col("pcell").isin(parents: _*)) // directory-level pruning
        .join(broadcast(probes), Seq("cellId"))
    }
  }

  /** The expanding-ring loop. Each query's state — searched radius, done
    * flag and best-k so far — rides as COLUMNS of one state table,
    * checkpointed once per round; ring probe cells are generated by a
    * distributed flatMap, and one aggregation per round folds the round's
    * candidates into every query's state row. `candidates(probes)` gets
    * the round's probe table (queryId, qlon, qlat, searched, cellId) and
    * returns the pages in those cells joined to it — the probe columns
    * plus (url, lon, lat) — from whichever source it owns.
    */
  private def ringSearch(queries: DataFrame, k: Int, maxRounds: Int)(
      candidates: DataFrame => DataFrame): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._

    // meters per cell-height (latitude degrees are uniform on the
    // equirectangular grid; conservative lower bound for ring pruning)
    val cellLatDeg = 180.0 / (1L << Level).toDouble
    val metersPerLatDeg = graft.geom.Algorithms.EarthRadius * math.Pi / 180.0
    val maxRadius = (1L << Level).toInt // whole grid searched beyond this
    val roundBudget = if (maxRounds > 0) maxRounds else Level + 4

    // one row per query (searched -1 = nothing searched yet; `best` the
    // (dist, url)-ascending best-k, so a round's checkpoint is O(qk), not
    // the accumulated candidate history). Checkpointed per round so
    // lineage stays flat across the iteration (the same discipline
    // connectedComponents uses).
    var (state, active) = checkpointActive(queries
      .select(col("queryId").cast("string").as("queryId"),
        col("lon").cast("double").as("qlon"), col("lat").cast("double").as("qlat"))
      .withColumn("searched", lit(-1))
      .withColumn("done", lit(false))
      .withColumn("best", array().cast(TopKByDist.OutType)))
    var round = 0

    // ObjectHashAggregate's hash map degrades to SORT-based aggregation
    // past this many groups per partition (default 128) — and the
    // MAP-side (partial) tasks of the best-k aggregation see candidates
    // partitioned by CELL, i.e. nearly every query mixed into every
    // task, so the limit must cover the full query count or partial
    // aggregation falls back mid-stream (hash a sliver, then sort the
    // rest — measured slower than either pure path). TopKBuf ≈ 1 KB at
    // k=10, so covering 10⁵ resident queries costs ~100 MB/task; past
    // the ~0.5 GB/task ceiling the sort fallback is the right escape
    // valve. Restored on exit.
    val fallbackKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val prevFallback = spark.conf.getOption(fallbackKey)
    spark.conf.set(fallbackKey, math.min(1L << 19, math.max(128L, 2L * active)).toString)

    try {
      while (active > 0 && round < roundBudget) {
        // ring batches double in width, generated on executors — the
        // frontier never exists as a driver collection
        val probes = state.filter(!col("done"))
          .select(col("queryId").as("_1"), col("qlon").as("_2"),
            col("qlat").as("_3"), col("searched").as("_4"))
          .as[(String, Double, Double, Int)]
          .flatMap { case (qid, qlon, qlat, searched) =>
            val qcell = Cell.cellAt(qlon, qlat, Level)
            val from = searched + 1
            val to = math.min(maxRadius, if (from == 0) 0 else math.max(from, searched * 2))
            (from to to).iterator.flatMap(r => Cell.ring(qcell, r).iterator)
              .map(c => (qid, qlon, qlat, searched, c))
          }.toDF("queryId", "qlon", "qlat", "searched", "cellId")

        // every query's state row with its best-k as (url, dist) rows (one
        // null pair while empty), plus the round's candidates, which
        // carry their query's state from the probes
        val carried = state
          .select(col("queryId"), col("qlon"), col("qlat"), col("searched"), col("done"),
            explode_outer(col("best")).as("p"))
          .select(col("queryId"), col("qlon"), col("qlat"), col("searched"), col("done"),
            col("p.url").as("url"), col("p.dist").as("dist"))
        val cand = candidates(probes)
          .select(col("queryId"), col("qlon"), col("qlat"), col("searched"),
            lit(false).as("done"), col("url"),
            st_geo_distance(col("qlon"), col("qlat"), col("lon"), col("lat")).as("dist"))
        // Per-round best-k: a bounded native aggregation
        // ([[graft.functions.TopKByDist]], a TypedImperativeAggregate) —
        // partial (map-side) + final — ships at most k rows per queryId
        // per map task into the round's shuffle and never SORTS the
        // candidate set. Its output is (dist, url)-ascending: UTF8String
        // binary comparison on url ties. The state columns are equal on
        // every row of a query, so any value is its value.
        val merged = carried.unionByName(cand).groupBy("queryId").agg(
          any_value(col("qlon")).as("qlon"), any_value(col("qlat")).as("qlat"),
          any_value(col("searched")).as("searched"), any_value(col("done")).as("done"),
          TopKByDist.topk_by_dist(col("dist"), col("url"), k).as("best"))

        // Anything in ring >= searched+1 is at least `searched`
        // cell-heights away vertically, or `searched` cell-widths
        // horizontally (lon shrinks by cos(lat) under the equirectangular
        // metric — take the min).
        val searched = when(col("done"), col("searched"))
          .when(col("searched") === -1, lit(0))
          .otherwise(least(lit(maxRadius), greatest(col("searched") + 1, col("searched") * 2)))
        val latBound = searched * lit(cellLatDeg) * lit(metersPerLatDeg)
        val cosLat = cos(radians(least(lit(89.9), abs(col("qlat")) + (searched + 1) * lit(cellLatDeg))))
        val lonBound = searched * lit(2 * cellLatDeg) * greatest(lit(0.0), cosLat) * lit(metersPerLatDeg)
        // STRICT kth < bound: at kth == bound an unsearched ring could hold
        // an equal-distance, lexicographically-smaller url whose tie must
        // win under the (dist, url) order
        val done = col("done") ||
          (size(col("best")) >= k &&
            try_element_at(col("best"), lit(k)).getField("dist") < least(latBound, lonBound)) ||
          searched >= maxRadius
        val (next, stillActive) = checkpointActive(merged
          .select(col("queryId"), col("qlon"), col("qlat"), searched.as("searched"),
            done.as("done"), col("best")))
        state = next
        active = stillActive
        round += 1
      }
      if (active > 0)
        throw new IllegalStateException(
          s"knn: $active queries unfinished after $roundBudget rounds — " +
            "raise maxRounds (results would be silently wrong if returned)")

      // `best` is already in (dist, url) order, so its position is the rank
      state.select(col("queryId"), posexplode(col("best")).as(Seq("pos", "p")))
        .select(col("queryId"), (col("pos") + 1).as("rank"), col("p.url").as("url"),
          col("p.dist").as("dist"))
    } finally prevFallback match {
      case Some(v) => spark.conf.set(fallbackKey, v)
      case None => spark.conf.unset(fallbackKey)
    }
  }

  /** Eagerly checkpoints a state table and returns it with its number of
    * unfinished (`!done`) queries, observed during the checkpoint's own
    * job — no separate count job. An `Observation` is single-use, so each
    * call makes a fresh one.
    */
  private def checkpointActive(state: DataFrame): (DataFrame, Long) = {
    val obs = Observation()
    val checkpointed = state
      .observe(obs, count(when(!col("done"), lit(1))).as("active"))
      .localCheckpoint()
    (checkpointed, obs.get("active").asInstanceOf[Long])
  }

}
