package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`). Baseline: brute-force cosine top-k via codegen'd
  * array expressions (`zip_with` + `aggregate` — sequential array-order
  * summation, matching the DuckDB oracle's list functions). Scale path:
  * IVF — embeddings bucketed by nearest centroid, queries probe the
  * nearest `nProbe` lists, exact re-rank inside.
  */
object Similarity {

  /** Cosine similarity of two array<float|double> columns as a codegen'd
    * column expression (deterministic array-order summation). Zero-norm
    * vectors yield 0.0 ("no similarity" — every >= threshold filter drops
    * them; NaN would NOT, since Spark orders NaN above all numbers)
    * instead of the DIVIDE_BY_ZERO error ANSI mode (Spark 4 default)
    * raises — one zero embedding must not kill a corpus-scale job.
    */
  def cosine(a: Column, b: Column): Column = {
    val na = sqrt(dot(a, a))
    val nb = sqrt(dot(b, b))
    when(na === 0.0 || nb === 0.0, lit(0.0))
      .otherwise(dot(a, b) / na / nb)
  }

  /** Sequential array-order dot product — a single codegen'd primitive
    * loop (`VecDot`), bit-identical to the `aggregate(zip_with(_*_), 0.0,
    * _+_)` composition it replaced (same IEEE summation order) but ~an
    * order of magnitude cheaper per pair on the all-pairs paths.
    */
  def dot(x: Column, y: Column): Column =
    graft.functions.VecExpressions.vec_dot(x, y)

  /** Cosine from a precomputed per-pair dot and per-ROW norms: on any
    * join that scores n·m pairs, computing `sqrt(dot(v,v))` inside the
    * pair expression redoes each row's norm m (resp. n) times — hoist it
    * to a map-side column on each input instead. Same guard and division
    * order as `cosine`, so results are bit-identical.
    */
  private def cosineFromParts(dotAb: Column, na: Column, nb: Column): Column =
    when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(dotAb / na / nb)

  private def withNorm(df: DataFrame, vecCol: String, normCol: String): DataFrame =
    df.withColumn(normCol, sqrt(dot(col(vecCol), col(vecCol))))

  /** Brute-force top-k: queries (small, broadcast) × embeddings → cosine →
    * row_number ≤ k with deterministic (score desc, vec_id) ordering.
    * Output (query_id, rank, vec_id, cos) with cos rounded for oracle
    * stability.
    */
  def bruteForceTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val emb = withNorm(embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("vec")), "vec", "nrm")
    val queries = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"), col("nrm").as("qnrm"))
    val scored = emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(cosineFromParts(
        dot(col("qvec"), col("vec")), col("qnrm"), col("nrm")), 6))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"), col("vec_id"), col("cos"))
  }

  /** Embedding-cosine near-duplicate pairs, exact: all pairs with
    * round(cos, 6) ≥ threshold (vec_a < vec_b). O(n²) — the correctness
    * baseline; at scale use `embeddingDedupBlocked`.
    */
  def embeddingDedupExact(embeddings: DataFrame, threshold: Double): DataFrame = {
    val emb = withNorm(embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("vec")), "vec", "nrm")
    emb.as("a").crossJoin(emb.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(cosineFromParts(dot(col("a.vec"), col("b.vec")),
          col("a.nrm"), col("b.nrm")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Plane-sign coefficient tables for the SRP blocking below — like
    * TextOps.MinHashA/B, literal single source of truth for both the
    * Scala sketch and the generated DuckDB oracle SQL.
    */
  val PlaneA: Array[Long] =
    Array.tabulate(64)(j => (69069L * (j + 1) + 362437L) % TextOps.MersennePrime)
  val PlaneB: Array[Long] =
    Array.tabulate(64)(j => (16807L * (j + 1) + 104729L) % TextOps.MersennePrime)

  /** SRP banding shape: 16 bands of 4 projection signs each (64 planes,
    * the rows PlaneA/PlaneB carry).
    */
  private val SrpBands = 16
  private val SrpRowsPerBand = 4

  /** No bucket cap for the SRP banding: its bands are 4 bits wide, so a
    * bucket averages n/16 members, and a 10,000 cap would drop every
    * bucket past about 160 k vectors — the candidate set would shrink
    * with table size. Int.MaxValue keeps it unchanged.
    */
  private val SrpMaxBucket = Int.MaxValue

  /** Embedding-cosine near-dup with sign-random-projection LSH blocking
    * (the cosine analogue of MinHash banding): each vector's `SrpBands ×
    * SrpRowsPerBand` projection signs are split into bands; only pairs
    * colliding in ≥1 band are exact-verified against `threshold`. Sketch is
    * a map-side pass; the only shuffle is the (band, bandVal) bucketing
    * ([[TextOps.bandPairs]]) — NOT all-pairs.
    * `vec_id` must be unique; both verify paths reject a repeated one.
    *
    * The projection planes are Rademacher (±1 per dimension, the published
    * sign-random-projection variant — Achlioptas-style sparse/sign
    * projections preserve angles like Gaussian ones), with the sign drawn
    * from a universal hash of (plane, dimension), and the vector quantized
    * to 1e-6 before the dot product — so the sign test is EXACT int64
    * arithmetic, reproducible bit-for-bit by the DuckDB oracle
    * (`q_embed_pairs_blocked`), with no float-summation-order hazard.
    * Recall at cos θ is 1-(1-(1-acos(θ)/π)^r)^b ≈ 0.94 at θ=0.4 with
    * r=4,b=16, higher for nearer pairs; validated against the exact path
    * in tests. (The earlier single-assignment IVF blocking measured 0.26
    * recall at θ=0.4 — pairs straddle centroid lists — hence this scheme.)
    */
  def embeddingDedupBlocked(embeddings: DataFrame, threshold: Double,
                            verifyBroadcastBytes: Long = VerifyBroadcastBytes): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val p = TextOps.MersennePrime
    val emb = embeddings.select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))

    val nPlanes = SrpBands * SrpRowsPerBand
    val buckets = emb.as[(Long, Seq[Double])].mapPartitions { it =>
      // The plane sign is a pure function of (plane j, dimension i) —
      // sign(j,i) = [2·((aj·(i+1)+bj)² mod p) mod p < p] — so computing
      // the two modular products PER VECTOR repeated the same 64×dim
      // values for every row (guide §1.2: per-task work — hoist
      // invariants). One sign table per partition (re-derived if the
      // dimension changes mid-stream), then the per-vector work is pure
      // adds of the quantized components. The CONDITION is the identical
      // exact int64 arithmetic as before — the squared affine hash
      // comment below still applies — so every bandVal is unchanged.
      // (Square the affine hash before the half-test: (a·i+b) mod p alone
      // is an arithmetic progression — three-distance structure →
      // correlated signs → measured recall loss; u² mod p scatters it
      // while staying exact int64 math.)
      var signs: Array[Boolean] = null // [j * dim + i]
      var signDim = -1
      def signTable(dim: Int): Array[Boolean] = {
        if (signDim != dim) {
          signs = new Array[Boolean](nPlanes * dim)
          var j = 0
          while (j < nPlanes) {
            var i = 0
            while (i < dim) {
              val u = (PlaneA(j) * (i + 1) + PlaneB(j)) % p
              val v = (u * u) % p
              signs(j * dim + i) = 2 * v < p
              i += 1
            }
            j += 1
          }
          signDim = dim
        }
        signs
      }
      it.flatMap { case (id, v) =>
        // quantize to integers: exact, order-independent sign sums
        val q = v.iterator.map(x => math.floor(x * 1e6 + 0.5).toLong).toArray
        val sg = signTable(q.length)
        (0 until SrpBands).iterator.map { b =>
          var h = 0L
          var r = 0
          while (r < SrpRowsPerBand) {
            val j = b * SrpRowsPerBand + r
            var s = 0L
            var i = 0
            val off = j * q.length
            while (i < q.length) {
              s += (if (sg(off + i)) q(i) else -q(i))
              i += 1
            }
            h = (h << 1) | (if (s >= 0) 1L else 0L)
            r += 1
          }
          (b, h, id)
        }
      }
    }.toDF("band", "key", "id")
      .select(col("band"), col("key"), struct(col("id")).as("m"))

    // Dedup BEFORE the verify (bandPairs' distinct): the verify needs two
    // 64-double vectors per candidate row, so its cost scales with
    // candidate rows — measured at sf0.1, deduping 2.09M candidate rows to
    // 1.29M unique pairs first beats verifying the duplicates (post-filter
    // dedup was ~0.5 s slower).
    val pairs = TextOps.bandPairs(buckets, SrpMaxBucket)
      .select(col("a.id").as("vec_a"), col("b.id").as("vec_b"))

    // Verify path gated by ESTIMATED table size (plan stats, no job —
    // the knnBatch/CentroidBroadcastBytes pattern): when the embedding
    // table fits the broadcast budget, verify each pair in a tight
    // map-side closure over a broadcast id → (vec, norm) map — the
    // join form materialized two 64-double arrays per candidate ROW
    // (1.29M wide rows at sf0.1), which dominated the verify. The
    // closure replicates the column expressions exactly: VecDot's
    // sequential left-fold, sqrt norms, d/na/nb with the zero-norm
    // guard, and Spark Round's BigDecimal.valueOf(..).setScale(6,
    // HALF_UP) — so cos is bit-identical (spec-forced equality below
    // threshold-filter in TextOpsSpec). Past the budget the attach
    // joins remain — at planet scale the table cannot be broadcast and
    // the join IS the design.
    if (emb.queryExecution.optimizedPlan.stats.sizeInBytes <= verifyBroadcastBytes) {
      val rows = emb.as[(Long, Seq[Double])].collect()
      val lookup = rows.map { case (id, v) =>
        val x = v.toArray
        var s = 0.0
        var i = 0
        while (i < x.length) { s += x(i) * x(i); i += 1 }
        (id, (x, math.sqrt(s)))
      }.toMap
      // .toMap keeps one vector per id: a repeated vec_id would verify
      // every pair against whichever of its rows came last
      require(lookup.size == rows.length, {
        val dup = rows.groupBy(_._1).collectFirst { case (id, rs) if rs.length > 1 => id }.get
        s"embeddingDedupBlocked: vec_id must be unique, $dup repeats"
      })
      val bc = spark.sparkContext.broadcast(lookup)
      pairs.as[(Long, Long)].mapPartitions { it =>
        val m = bc.value
        it.flatMap { case (a, b) =>
          val (va, na) = m(a)
          val (vb, nb) = m(b)
          if (va.length != vb.length) Iterator.empty // VecDot nulls → join path drops; match it
          else {
          var d = 0.0
          var i = 0
          while (i < va.length) { d += va(i) * vb(i); i += 1 }
          val c = if (na == 0.0 || nb == 0.0) 0.0 else d / na / nb
          val cos = java.math.BigDecimal.valueOf(c)
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
          if (cos >= threshold) Iterator.single((a, b, cos)) else Iterator.empty
          }
        }
      }.toDF("vec_a", "vec_b", "cos")
    } else {
      // a repeated vec_id would pair each candidate with every one of its
      // rows: fail as the broadcast path does, from a per-id window count
      // in the plan (no job; a table past the 64 MB budget sort-merge
      // joins on vec_id, so the window's shuffle and sort are the join's)
      val embN = withNorm(emb, "vec", "nrm")
        .withColumn("vec", when(count(lit(1)).over(Window.partitionBy("vec_id")) > 1,
          raise_error(concat(lit("embeddingDedupBlocked: vec_id must be unique, "),
            col("vec_id").cast("string"), lit(" repeats"))))
          .otherwise(col("vec")))
      pairs
        .join(embN.select(col("vec_id").as("vec_a"), col("vec").as("va"), col("nrm").as("na")), Seq("vec_a"))
        .join(embN.select(col("vec_id").as("vec_b"), col("vec").as("vb"), col("nrm").as("nb")), Seq("vec_b"))
        .select(col("vec_a"), col("vec_b"),
          round(cosineFromParts(dot(col("va"), col("vb")), col("na"), col("nb")), 6).as("cos"))
        .filter(col("cos") >= threshold)
    }
  }

  /** IVF index: seeded with the embeddings of the lowest vec_ids, then
    * refined by `iterations` Lloyd steps (assign → recompute means —
    * normalized, deterministic: array-order summation, vec_id-stable
    * tie-breaks). Assignment is a broadcast pass whose per-vector argmax
    * is a partial-aggregable groupBy (max of a (csim, -centroid_id)
    * struct — NOT a window, which would shuffle all n×k candidate rows);
    * the mean recomputation is one partial-aggregable groupBy per
    * iteration. `nCentroids <= 0` picks ≈√n (the standard IVF nlist
    * heuristic), so the index grows with the data instead of pinning a
    * fixture-sized constant.
    */
  case class IvfIndex(assigned: DataFrame, centroids: DataFrame,
                      centroidBytes: Long = 0L)

  /** Centroid tables past this byte estimate (k × dim × 8) stop being
    * broadcast: assignment switches to [[ivfIndex]]'s chunked argmax
    * (each chunk broadcastable, winners merged by a second groupBy max —
    * associative, so results are identical to the single-pass form) and
    * probing flips the broadcast side (queries are the small side at
    * planet scale, the centroid table is scanned distributed). 10⁶
    * centroids × 128 dims ≈ 1 GB would otherwise broadcast to every
    * executor.
    */
  val CentroidBroadcastBytes: Long = 64L << 20

  /** Embedding tables whose ESTIMATED size (plan stats) fits this
    * budget verify LSH candidate pairs through a broadcast id→(vec,
    * norm) closure instead of two wide-row attach joins (see
    * [[embeddingDedupBlocked]]); past it the joins remain — the
    * at-scale shape where the table cannot be broadcast.
    */
  val VerifyBroadcastBytes: Long = 64L << 20

  def ivfIndex(embeddings: DataFrame, nCentroids: Int = 0, iterations: Int = 2,
               centroidBroadcastBytes: Long = CentroidBroadcastBytes): IvfIndex = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val emb = embeddings.select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
      .cache()
    // ONE job for (row count, dim) instead of a count job + a limit-1
    // collect job (guide §1.2: don't pay two passes for two scalars);
    // min(size) is deterministic and equals the uniform dim
    val statsRow = emb.agg(count(lit(1)), min(size(col("vec")))).head()
    val n = statsRow.getLong(0)
    val k =
      if (nCentroids > 0) nCentroids
      else math.max(16, math.sqrt(n.toDouble).toInt)
    val dim = if (statsRow.isNullAt(1)) 0 else statsRow.getInt(1)
    val centroidBytes = k.toLong * dim * 8

    def assign(centroids: DataFrame): DataFrame =
      if (centroidBytes <= centroidBroadcastBytes) {
        // Collect the centroid table (broadcast-sized by this branch's
        // precondition — the same bytes the broadcast shipped to every
        // executor) and compute each vector's argmax MAP-SIDE: the
        // previous crossJoin + groupBy(vec_id) form re-shuffled every
        // (vec_id, vec) row once per Lloyd round only to regroup
        // candidate rows the map side had already produced (guide §2.4:
        // remove shuffles outright — one exchange of the full table per
        // iteration, gone). csim replicates cosine() exactly — VecDot's
        // sequential left-fold, sqrt norms, d/na/nb with the zero-norm
        // guard — and the argmax keeps the (csim desc, centroid_id asc)
        // struct-max tie order, so assignments are bit-identical to the
        // crossJoin form and to the chunked path (TextOpsSpec pins
        // chunked ≡ broadcast).
        val cents = centroids.select(col("centroid_id"), col("cvec"))
          .as[(Long, Seq[Double])].collect()
          .map { case (cid, cv) => (cid, cv.toArray) }
        if (cents.isEmpty)
          emb.filter(lit(false))
            .select(col("vec_id"), col("vec"), col("vec_id").as("centroid_id"))
        else emb.as[(Long, Seq[Double])].mapPartitions { it =>
          def dot(x: Array[Double], y: Array[Double]): Double = {
            var s = 0.0
            var i = 0
            while (i < x.length) { s += x(i) * y(i); i += 1 }
            s
          }
          val cnorms = cents.map { case (_, cv) => math.sqrt(dot(cv, cv)) }
          it.map { case (id, v) =>
            val x = v.toArray
            val nx = math.sqrt(dot(x, x))
            var bestSim = 0.0
            var bestCid = 0L
            var first = true
            var ci = 0
            while (ci < cents.length) {
              val (cid, cv) = cents(ci)
              val nb = cnorms(ci)
              val csim = if (nx == 0.0 || nb == 0.0) 0.0 else dot(x, cv) / nx / nb
              // Double.compare, not primitive >: Spark's struct max orders
              // -0.0 < +0.0, and the tie-break must agree exactly
              val cmp = java.lang.Double.compare(csim, bestSim)
              if (first || cmp > 0 || (cmp == 0 && cid < bestCid)) {
                bestSim = csim; bestCid = cid; first = false
              }
              ci += 1
            }
            (id, v, bestCid)
          }
        }.toDF("vec_id", "vec", "centroid_id")
      } else {
        // non-broadcastable centroid table: split it into broadcastable
        // chunks by centroid_id mod, take each vector's best per chunk
        // (map-side partial agg per pass), then the global argmax as a
        // second groupBy max. The struct max is associative, so this is
        // bit-identical to the single-pass argmax; cost is one scan of
        // `emb` (cached) per chunk instead of one total.
        val nChunks = math.min(k.toLong,
          math.ceil(centroidBytes.toDouble / centroidBroadcastBytes).toLong).toInt
        val bests = (0 until nChunks).map { i =>
          // chunk membership by xxhash64, not raw id mod: centroid ids are
          // inherited from arbitrary vec_ids, so skewed residues could
          // pack many times the broadcast budget into one chunk (ADVICE
          // r7 #5); the hash spreads any id distribution evenly. Chunking
          // only partitions the argmax — the global max over all chunks
          // is identical for ANY chunk assignment (associativity).
          emb.crossJoin(broadcast(
              centroids.filter(pmod(xxhash64(col("centroid_id")), lit(nChunks)) === i)))
            .withColumn("csim", cosine(col("vec"), col("cvec")))
            .groupBy("vec_id")
            .agg(max(struct(col("csim"), (-col("centroid_id")).as("nid"))).as("best"))
        }.reduce(_ unionByName _)
        bests.groupBy("vec_id").agg(max(col("best")).as("best"))
          .join(emb, Seq("vec_id"))
          .select(col("vec_id"), col("vec"), (-col("best.nid")).as("centroid_id"))
      }

    var centroids = emb.orderBy("vec_id").limit(k)
      .select(col("vec_id").as("centroid_id"), col("vec").as("cvec"))
    var assigned = assign(centroids).localCheckpoint()
    for (_ <- 1 to iterations) {
      // new centroid = elementwise mean of the list (id kept stable).
      // The sum runs in DECIMAL, not double: decimal addition is exact and
      // associative, so the mean is bit-identical regardless of partial-
      // aggregate merge order — double summation would drift with shuffle
      // fetch order (nondeterministic run-to-run and cluster-size-
      // dependent), which is what kept this query un-freezable. Range is
      // safe: unit-scale embedding components over 10^12 rows stay within
      // decimal(38,20).
      // ONE partial-aggregable pass (VecDecimalSum) instead of posexplode
      // + per-(centroid, dim) sum + collect_list regroup: the explode
      // form shuffled dim× more rows and paid a second exchange to get
      // arrays back. Decimal addition is exact and associative, so the
      // elementwise array sum is bit-identical to the exploded sum, and
      // the division below keeps the same operand types
      // (decimal(38,20) / bigint) and cast as the exploded form.
      val means = assigned
        .select(col("centroid_id"),
          expr("transform(vec, x -> CAST(x AS DECIMAL(38,20)))").as("dvec"))
        .groupBy("centroid_id")
        .agg(graft.functions.VecDecimalSum.vec_decimal_sum(col("dvec")).as("sums"),
          count(lit(1)).as("nrows"))
        .select(col("centroid_id"),
          expr("transform(sums, s -> CAST(s / nrows AS DOUBLE))").as("cvec"))
      centroids = means
      // localCheckpoint per Lloyd round (the kNN/connectedComponents
      // discipline): assign(N) chains through every earlier round's means
      // and assignment, so without truncation each iteration re-runs the
      // whole history — O(iterations²) work
      assigned = assign(centroids).localCheckpoint()
    }
    IvfIndex(assigned, centroids, centroidBytes)
  }

  /** IVF top-k: probe the `nProbe` nearest centroid lists per query, exact
    * cosine re-rank inside the probed lists. Same output shape as
    * bruteForceTopK; recall < 1 by construction (validated in tests).
    */
  def ivfTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
              nCentroids: Int = 0, nProbe: Int = 4): DataFrame =
    probeWithIndex(ivfIndex(embeddings, nCentroids), queryIds, k, nProbe)

  private[operators] def probeWithIndex(index: IvfIndex, queryIds: Seq[Long], k: Int,
                             nProbe: Int): DataFrame = {
    // index.assigned arrives localCheckpoint-ed (materialized, lineage-
    // free) from ivfIndex, so the two scans below are cheap re-reads —
    // no extra cache() whose unpersist point would be unsound on a lazy
    // result (ADVICE round 6)
    val assigned = index.assigned
    val centroids = index.centroids
      .select(col("centroid_id").as("c_id"), col("cvec"))
    val queries = assigned.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))

    // small centroid table: broadcast it under the few-or-many queries.
    // Past the broadcast budget, flip the sides — the QUERY set is the
    // small side at planet scale; the centroid table is scanned
    // distributed and the per-query ranking shuffles ≤ nCentroids × |q|
    // tiny rows.
    val qXc =
      if (index.centroidBytes <= CentroidBroadcastBytes)
        queries.crossJoin(broadcast(centroids))
      else centroids.crossJoin(broadcast(queries))
    val wq = Window.partitionBy(col("query_id")).orderBy(col("csim").desc, col("c_id"))
    val probed = qXc
      .withColumn("csim", cosine(col("qvec"), col("cvec")))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nProbe)
      .select(col("query_id"), col("qvec"), col("c_id").as("centroid_id"))

    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    probed.join(assigned, Seq("centroid_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(cosine(col("qvec"), col("vec")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"), col("vec_id"), col("cos"))
  }

  /** MEASURED probe-width calibration: on a deterministic hash-spread
    * sample of `sampleSize` vectors as pseudo-queries, compute each
    * sample's TRUE top-k (one brute-force pass — broadcast sample ×
    * table, same cost shape as the assign pass) and, per true neighbor,
    * how deep in the query's centroid ranking that neighbor's assigned
    * list sits. `recall(p)` = fraction of true neighbors at depth ≤ p;
    * [[autoNProbe]] returns the smallest p meeting `recallTarget`.
    * The depth distribution is collected to the driver as ≤ sampleSize·k
    * scalars. Sampling is xxhash64-spread (NOT lowest vec_ids — those
    * seed the centroids, which would bias depths optimistic).
    */
  def probeDepths(index: IvfIndex, k: Int, sampleSize: Int = 64,
                  tableFraction: Double = 1.0): Array[Int] = {
    require(tableFraction > 0 && tableFraction <= 1,
      s"tableFraction $tableFraction not in (0, 1]")
    val assigned = index.assigned.cache()
    try {
      val sample = assigned
        .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(sampleSize)
        .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
      val sampleN = withNorm(sample, "qvec", "qnrm")
      // tableFraction < 1: the brute pass scores the sample against a
      // deterministic hash sample of the TABLE instead of all of it —
      // at 10⁹⁺ rows the full sample × table cross join is the
      // calibration's own scale ceiling. A uniform hash sample preserves
      // each centroid list's share in expectation, so the sampled
      // neighbors' DEPTH distribution estimates the full one; the recall
      // sweep (tools.IvfRecallSweep) measures that the target still
      // holds. The hash salt is fixed → reproducible.
      val tbl =
        if (tableFraction >= 1.0) assigned
        else assigned.filter(
          pmod(xxhash64(col("vec_id"), lit(1013)), lit(1000000L)) <
            math.round(tableFraction * 1e6))
      val embN = withNorm(tbl.select(col("vec_id"), col("vec")), "vec", "nrm")

      val wTrue = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
      val trueTopK = embN.crossJoin(broadcast(sampleN))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cos", round(cosineFromParts(
          dot(col("qvec"), col("vec")), col("qnrm"), col("nrm")), 6))
        .withColumn("rank", row_number().over(wTrue))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("vec_id"))

      val centroids = index.centroids.select(col("centroid_id"), col("cvec"))
      val wRank = Window.partitionBy(col("query_id")).orderBy(col("csim").desc, col("centroid_id"))
      // same broadcast-side flip as probeWithIndex: past the budget the
      // centroid table is scanned distributed under the broadcast sample
      val sXc =
        if (index.centroidBytes <= CentroidBroadcastBytes)
          sample.crossJoin(broadcast(centroids))
        else centroids.crossJoin(broadcast(sample))
      val centroidRank = sXc
        .withColumn("csim", cosine(col("qvec"), col("cvec")))
        .withColumn("crank", row_number().over(wRank))
        .select(col("query_id"), col("centroid_id"), col("crank"))

      trueTopK
        .join(assigned.select(col("vec_id"), col("centroid_id")), Seq("vec_id"))
        .join(centroidRank, Seq("query_id", "centroid_id"))
        .select(col("crank")).collect().map(_.getInt(0))
    } finally assigned.unpersist() // depths are collected; drop the blocks
  }

  /** Smallest nProbe whose sampled recall meets `recallTarget`. Degenerate
    * empty depth sample (a table too small for the brute pass to produce
    * any true neighbor) → FULL probe (every centroid list): recall can't
    * be certified from nothing, so the honest fallback is exhaustive —
    * and a table that small makes exhaustive free.
    */
  def autoNProbe(index: IvfIndex, k: Int, recallTarget: Double,
                 sampleSize: Int = 64, tableFraction: Double = 1.0): Int = {
    require(recallTarget > 0 && recallTarget <= 1, s"recallTarget $recallTarget not in (0, 1]")
    val depths = probeDepths(index, k, sampleSize, tableFraction)
    if (depths.isEmpty) math.max(1, index.centroids.count().toInt)
    else {
      val sorted = depths.sorted
      // smallest p with |{depth <= p}| / n >= target: the depth at the
      // target quantile position
      sorted(math.min(sorted.length - 1, math.ceil(recallTarget * sorted.length).toInt - 1))
    }
  }

  /** IVF top-k at a RECALL TARGET instead of a hand-tuned probe width:
    * builds the index once, calibrates nProbe from the measured sampled
    * depth distribution, probes with it. Returns (results, chosen
    * nProbe) so callers can log/pin the calibration. `tableFraction < 1`
    * samples the table side of the calibration brute pass (the at-scale
    * form; see [[probeDepths]]).
    */
  def ivfTopKAuto(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
                  recallTarget: Double, nCentroids: Int = 0,
                  sampleSize: Int = 64, tableFraction: Double = 1.0): (DataFrame, Int) = {
    val index = ivfIndex(embeddings, nCentroids)
    val nProbe = autoNProbe(index, k, recallTarget, sampleSize, tableFraction)
    (probeWithIndex(index, queryIds, k, nProbe), nProbe)
  }
}
