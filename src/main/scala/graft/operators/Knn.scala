package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.cells.Cell
import graft.functions.GeomExpressions._

/** E7: k-nearest-neighbors via expanding cell-ring search (graft extension
  * required by the north rule). Around each query, rings of cells at a
  * fixed index level are searched in batches that double in width:
  * candidates come from an equi-join of the cell-indexed page table
  * against the frontier cells, and only each query's best k survive a
  * round. A query stops once its k-th best distance is provably closer
  * than anything a further ring could hold (ring r's nearest possible
  * point is ≥ (r-1) cell-heights away).
  *
  * Three entry points, one stop rule and one (dist, url) tie order, so
  * all three return identical rows:
  *  - [[knn]] — a driver-held `Seq[Query]` against an in-memory
  *    cell-indexed cache of the page table; the frontier is a broadcast
  *    probe table and each round collects per-query (n, kth) stats;
  *  - [[knnIndexed]] — the same loop over a parquet table written by
  *    [[writeIndexed]], hive-partitioned by the coarse parent cell and
  *    cellId-sorted within files, so each round's read PRUNES whole
  *    partition directories (PartitionFilters on the parent cell) and
  *    row-groups (cellId min/max): the planet-scale shape where the page
  *    table is far bigger than cache;
  *  - [[knnBatch]] — queries as a DataFrame with the search state in
  *    columns, for query counts the driver should never hold.
  *
  * Deterministic: ties broken by url.
  */
object Knn {

  case class Query(queryId: String, lon: Double, lat: Double)

  /** `maxRounds <= 0` (default) derives a budget from `level` that always
    * reaches the whole-grid radius (the frontier doubles per round, so
    * level+4 rounds suffice); passing an explicit smaller budget that
    * exhausts before every query completes FAILS loudly — a silently
    * truncated search would return wrong neighbors as if definitive.
    */
  def knn(pages: DataFrame, queries: Seq[Query], k: Int, level: Int = 8,
          maxRounds: Int = -1): DataFrame = {
    val spark = pages.sparkSession
    val indexed = pages.withColumn("cellId", st_cell_at(col("lon"), col("lat"), level))
      .select("url", "lon", "lat", "cellId")
      .cache() // one materialization feeds every round's frontier join
    try
      search(spark, queries, k, level, maxRounds,
        (probes, _) => indexed.join(broadcast(probes), Seq("cellId")))
    finally indexed.unpersist() // result rides checkpointed best-k, not `indexed`
  }

  /** Batch kNN with DATAFRAME-side query state — the 10⁶-probe shape
    * ("nearest N docs for every cluster centroid") where [[knn]]'s
    * driver-held `Seq[Query]` + per-round per-query stats collect would
    * make the driver the bottleneck. Queries arrive as a DataFrame
    * (queryId, lon, lat); the searched-radius/done state rides as
    * COLUMNS of a per-round checkpointed state table, ring probe cells
    * are generated by a distributed flatMap, the candidate join is a
    * plain cellId equi-join (no forced broadcast — AQE picks the
    * physical join for the probe volume), and convergence is decided by
    * joining each query's best-k aggregate back onto the state table —
    * the driver sees ONE scalar (active-query count) per round, never
    * per-query rows. Same expanding-ring semantics, same provable stop
    * bound, same (dist, url) tie order as [[knn]]; both paths stop only
    * when the bound proves completeness, so results are identical
    * (KnnBatchSpec runs 10⁴ queries through both).
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
  def knnBatch(pages: DataFrame, queries: DataFrame, k: Int, level: Int = 8,
               maxRounds: Int = -1,
               clusterIndexThresholdBytes: Long = 64L << 20): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._

    val cellLatDeg = 180.0 / (1L << level).toDouble
    val metersPerLatDeg = graft.geom.Algorithms.EarthRadius * math.Pi / 180.0
    val maxRadius = (1L << level).toInt
    val roundBudget = if (maxRounds > 0) maxRounds else level + 4

    val base = pages
      .withColumn("cellId", st_cell_at(col("lon"), col("lat"), level))
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

    // state table: one row per query, radius/done as columns. Checkpointed
    // per round so lineage stays flat across the iteration (the same
    // discipline connectedComponents uses).
    var state = queries
      .select(col("queryId").cast("string").as("queryId"),
        col("lon").cast("double").as("qlon"), col("lat").cast("double").as("qlat"))
      .withColumn("searched", lit(-1))
      .withColumn("done", lit(false))
      .localCheckpoint()
    var best: Option[DataFrame] = None
    var round = 0
    var active = state.filter(!col("done")).count()

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
            val qcell = Cell.cellAt(qlon, qlat, level)
            val from = searched + 1
            val to = math.min(maxRadius, if (from == 0) 0 else math.max(from, searched * 2))
            (from to to).iterator.flatMap(r => Cell.ring(qcell, r).iterator)
              .map(c => (qid, qlon, qlat, c))
          }.toDF("queryId", "qlon", "qlat", "cellId")

        val cand = indexed.join(probes, Seq("cellId"))
          .withColumn("dist", st_geo_distance(col("qlon"), col("qlat"), col("lon"), col("lat")))
          .select("queryId", "url", "dist")
        val merged = best.map(_.unionByName(cand)).getOrElse(cand)
        // Per-round best-k: a bounded native aggregation
        // ([[graft.functions.TopKByDist]], a TypedImperativeAggregate) —
        // partial (map-side) + final — ships at most k rows per queryId
        // per map task into the round's shuffle and never SORTS the
        // candidate set. It keeps the (dist, url) order of the final
        // window below: UTF8String binary comparison on url ties.
        best = Some(merged.groupBy("queryId")
          .agg(graft.functions.TopKByDist.topk_by_dist(col("dist"), col("url"), k).as("topk"))
          .select(col("queryId"), explode(col("topk")).as("p"))
          .select(col("queryId"), col("p.url").as("url"), col("p.dist").as("dist"))
          .localCheckpoint())

        // convergence as an aggregate + join: each query's (n, kth) lands
        // back on its state row; the stop rule is the SAME bound as the
        // driver path, evaluated as columns
        val stats = best.get.groupBy("queryId")
          .agg(count(lit(1)).as("n"), max("dist").as("kth"))
        val searchedNow = when(col("done"), col("searched"))
          .when(col("searched") === -1, lit(0))
          .otherwise(least(lit(maxRadius), greatest(col("searched") + 1, col("searched") * 2)))
        state = state.join(stats, Seq("queryId"), "left")
          .withColumn("searchedNow", searchedNow)
          .withColumn("latBound",
            col("searchedNow") * lit(cellLatDeg) * lit(metersPerLatDeg))
          .withColumn("cosLat", cos(radians(least(lit(89.9),
            abs(col("qlat")) + (col("searchedNow") + 1) * lit(cellLatDeg)))))
          .withColumn("lonBound", col("searchedNow") * lit(2 * cellLatDeg) *
            greatest(lit(0.0), col("cosLat")) * lit(metersPerLatDeg))
          .withColumn("lowerBound", least(col("latBound"), col("lonBound")))
          // STRICT kth < bound, as in the driver path (equal-distance url
          // ties in an unsearched ring must still be able to win)
          .withColumn("done", col("done") ||
            (coalesce(col("n"), lit(0L)) >= k && col("kth") < col("lowerBound")) ||
            col("searchedNow") >= maxRadius)
          .select(col("queryId"), col("qlon"), col("qlat"),
            col("searchedNow").as("searched"), col("done"))
          .localCheckpoint()
        active = state.filter(!col("done")).count()
        round += 1
      }
      if (active > 0)
        throw new IllegalStateException(
          s"knnBatch: $active queries unfinished after $roundBudget rounds — " +
            "raise maxRounds (results would be silently wrong if returned)")

      val w = Window.partitionBy(col("queryId")).orderBy(col("dist"), col("url"))
      best.getOrElse(Seq.empty[(String, String, Double)].toDF("queryId", "url", "dist"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .select(col("queryId"), col("rn").as("rank"), col("url"), col("dist"))
    } finally {
      indexed.unpersist() // result rides checkpointed best-k
      prevFallback match {
        case Some(v) => spark.conf.set(fallbackKey, v)
        case None => spark.conf.unset(fallbackKey)
      }
    }
  }

  /** Write the cell-indexed page table for [[knnIndexed]]: hive-partitioned
    * by the level-`partitionLevel` parent cell (`pcell`), cellId-sorted
    * within partitions so parquet row-group min/max stats stay tight. One
    * shuffle; rewriting is only needed when the page table changes.
    */
  def writeIndexed(pages: DataFrame, path: String, level: Int = 8,
                   partitionLevel: Int = 4): Unit = {
    require(partitionLevel <= level,
      s"partitionLevel $partitionLevel must be <= index level $level")
    pages
      .withColumn("cellId", st_cell_at(col("lon"), col("lat"), level))
      // cellAt truncates the same leaf coordinates, so the level-P cell of
      // (lon, lat) IS the level-P ancestor of the level-L cell
      .withColumn("pcell", st_cell_at(col("lon"), col("lat"), partitionLevel))
      .select("url", "lon", "lat", "cellId", "pcell")
      .repartition(col("pcell"))
      .sortWithinPartitions(col("pcell"), col("cellId"))
      .write.mode("overwrite").partitionBy("pcell").parquet(path)
  }

  /** kNN over a [[writeIndexed]] table: identical results to [[knn]]
    * (shared loop), but each round reads ONLY the partition directories
    * whose coarse cell is an ancestor of a frontier cell — the per-round
    * scan is proportional to the frontier, not the table. This is the
    * shape that holds when the page table is planet-scale: no cache big
    * enough to absorb it, no full scan per ring.
    */
  def knnIndexed(spark: SparkSession, path: String, queries: Seq[Query], k: Int,
                 level: Int = 8, partitionLevel: Int = 4,
                 maxRounds: Int = -1): DataFrame = {
    require(partitionLevel <= level,
      s"partitionLevel $partitionLevel must be <= index level $level")
    // ONE file-index listing for the whole search: partition pruning is
    // extracted from each round's filter at planning time, so reusing the
    // DataFrame keeps the per-round PartitionFilters while re-listing the
    // table's directories once instead of once per ring. The Fixtures
    // parquet-plan memo extends that reuse across searches in a session
    // (metadata only; content-stamped, so a rewritten index re-lists).
    val table = graft.sources.Fixtures.readParquet(spark, path)
    search(spark, queries, k, level, maxRounds, (probes, cells) => {
      val parents = cells.map(Cell.parent(_, partitionLevel)).distinct
      table
        .filter(col("pcell").isin(parents: _*)) // directory-level pruning
        .join(broadcast(probes), Seq("cellId"))
    })
  }

  /** The shared expanding-ring loop. `candFor(probesDf, probeCells)` must
    * return the pages joined to the frontier probes — columns (queryId,
    * qlon, qlat, url, lon, lat) — from whichever source it owns.
    */
  private def search(spark: SparkSession, queries: Seq[Query], k: Int, level: Int,
                     maxRounds: Int,
                     candFor: (DataFrame, Seq[Long]) => DataFrame): DataFrame = {
    import spark.implicits._

    // meters per cell-height at this level (latitude degrees are uniform on
    // the equirectangular grid; conservative lower bound for ring pruning)
    val cellLatDeg = 180.0 / (1L << level).toDouble
    val metersPerLatDeg = graft.geom.Algorithms.EarthRadius * math.Pi / 180.0

    val maxRadius = (1L << level).toInt // whole grid searched beyond this
    val roundBudget = if (maxRounds > 0) maxRounds else level + 4

    // bounded per-round state: only each query's best-k survives a round
    // (≤ queries×k rows), so the per-round checkpoint is O(qk), not the
    // full accumulated candidate history
    var best: Option[DataFrame] = None
    // searched radius per query (-1 = nothing searched yet); ring batches
    // double in width so sparse regions converge in O(log grid) rounds
    var frontier = queries.map(q => q.queryId -> -1).toMap
    var done = Set.empty[String]
    var round = 0

    while (done.size < queries.size && round < roundBudget) {
      val probeCells = queries.filterNot(q => done(q.queryId)).flatMap { q =>
        val qcell = Cell.cellAt(q.lon, q.lat, level)
        val from = frontier(q.queryId) + 1
        val to = math.min(maxRadius, if (from == 0) 0 else math.max(from, frontier(q.queryId) * 2))
        (from to to).flatMap(r => Cell.ring(qcell, r)).map(c => (q.queryId, q.lon, q.lat, c))
      }
      if (probeCells.nonEmpty) {
        val probesDf = probeCells.toDF("queryId", "qlon", "qlat", "cellId")
        val cand = candFor(probesDf, probeCells.map(_._4))
          .withColumn("dist", st_geo_distance(col("qlon"), col("qlat"), col("lon"), col("lat")))
          .select("queryId", "url", "dist")
        // fold the new ring's candidates into the running best-k and
        // checkpoint THAT (tiny), truncating lineage each round
        val merged = best.map(_.unionByName(cand)).getOrElse(cand)
        val w = Window.partitionBy(col("queryId")).orderBy(col("dist"), col("url"))
        best = Some(merged
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= k)
          .drop("rn")
          .localCheckpoint())
      }

      // per-query k-th distance so far (best is already ≤ k per query)
      val stats = best.get
        .groupBy("queryId").agg(count(lit(1)).as("n"), max("dist").as("kth"))
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap

      queries.foreach { q =>
        if (!done(q.queryId)) {
          val from = frontier(q.queryId) + 1
          val searched = math.min(maxRadius, if (from == 0) 0 else math.max(from, frontier(q.queryId) * 2))
          // anything in ring >= searched+1 is at least `searched` cell-heights
          // away vertically, or `searched` cell-widths horizontally (lon
          // shrinks by cos(lat) under the equirectangular metric — take min)
          val latBound = searched * cellLatDeg * metersPerLatDeg
          val cosLat = math.cos(math.toRadians(
            math.min(89.9, math.abs(q.lat) + (searched + 1) * cellLatDeg)))
          val lonBound = searched * (2 * cellLatDeg) * math.max(0.0, cosLat) * metersPerLatDeg
          val lowerBound = math.min(latBound, lonBound)
          stats.get(q.queryId) match {
            // STRICT <: at kth == lowerBound an unsearched ring could hold
            // an equal-distance, lexicographically-smaller url whose tie
            // must win under the documented (dist, url) order
            case Some((n, kth)) if n >= k && (kth < lowerBound || searched >= maxRadius) =>
              done += q.queryId
            case _ if searched >= maxRadius => done += q.queryId
            case _ => frontier += q.queryId -> searched
          }
        }
      }
      round += 1
    }
    if (done.size < queries.size)
      throw new IllegalStateException(
        s"knn: ${queries.size - done.size} queries unfinished after $roundBudget rounds — " +
          "raise maxRounds (results would be silently wrong if returned)")

    val w = Window.partitionBy(col("queryId")).orderBy(col("dist"), col("url"))
    best.getOrElse(Seq.empty[(String, String, Double)].toDF("queryId", "url", "dist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("queryId"), col("rn").as("rank"), col("url"), col("dist"))
  }

}
