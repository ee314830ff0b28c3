package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate *clustering*: candidate pairs → connected components →
  * one canonical document per cluster. The tail of the dedup family
  * (exact / MinHash / SimHash / embedding find PAIRS; a real training
  * -data pipeline needs the transitive closure to drop all-but-one copy
  * per group).
  *
  * Connected components run as alternating large-star / small-star rounds
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14): each round is two key-co-partitioned shuffles (groupBy-min +
  * join on the same key), NO driver-side graph state, converging in
  * O(log n) rounds — the published scale-out algorithm, not label
  * propagation (whose round count is the graph diameter).
  */
object Clusters {

  /** Word n-gram length of the [[jaccardPairs]] shingles. */
  private val ShingleLen = 3

  /** Round budget of [[connectedComponents]] (Kiveris et al. prove
    * O(log n) convergence; 30 rounds covers any realistic graph).
    */
  private val MaxIter = 30

  /** Word n-gram exact-Jaccard pairs with **prefix filtering** (the
    * published SSJoin/PPJoin scheme): under a global total order on
    * shingles by (document frequency asc, shingle), a pair with
    * Jaccard ≥ t must share an element within the first
    * `|s| − ⌈t·|s|⌉ + 1` shingles of BOTH docs (pigeonhole on
    * |A∩B| ≥ ⌈t·|A|⌉, the smallest shared element is in both prefixes).
    * So only prefixes are joined — rare shingles first, which is exactly
    * what defuses hot boilerplate shingles — and the few candidates are
    * verified with exact Jaccard over the full shingle sets. LOSSLESS:
    * identical output to the all-pairs join (ClustersSpec brute-force
    * equality; DuckDB oracle `q_jaccard_pairs`).
    *
    * Output: (doc_a, doc_b, jac) with doc_a < doc_b, jac >= threshold.
    */
  def jaccardPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // cached: the shingle construction is the expensive map-side pass and
    // FOUR consumers scan it (df counts, prefix ranks, both verify
    // joins). A typed while-loop builds the distinct n-gram set directly
    // — the equivalent higher-order-function chain (split → transform →
    // array_join(slice) → array_distinct) evaluated a lambda expression
    // tree with per-element allocations and measured ~2-3× slower. Same
    // tokenization (lowercase, split on non-[a-z0-9] runs, drop empties)
    // — DuckDB-oracle parity and brute-force equality gate it. The cache
    // lives only for the duration of this call — the result is
    // materialized below and the shingle cache released before
    // returning, so no inner cache entry outlives the function.
    val shingled = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val toks = text.toLowerCase(java.util.Locale.ROOT)
          .split("[^a-z0-9]+").filter(_.nonEmpty)
        val out =
          if (toks.length < ShingleLen) Seq.empty[String]
          else {
            val set = new java.util.LinkedHashSet[String]()
            var i = 0
            while (i + ShingleLen <= toks.length) {
              val sb = new java.lang.StringBuilder(toks(i))
              var j = 1
              while (j < ShingleLen) { sb.append(' ').append(toks(i + j)); j += 1 }
              set.add(sb.toString)
              i += 1
            }
            val b = Seq.newBuilder[String]
            set.forEach(s => b += s)
            b.result()
          }
        (id, out)
      }
      .toDF("doc_id", "s")
      .cache()

    // postings carry an int64 shingle hash: the df groupBy, the df join
    // and the candidate self-join all key on 8-byte longs instead of
    // full n-gram strings (the string rides exactly one shuffle, as sort
    // payload for the order tiebreak). A hash collision only (a) merges
    // two shingles' df counts — the global order stays TOTAL via the
    // (df, shh, sh) tiebreak, and the prefix filter is lossless under ANY
    // total order — and (b) adds false candidates, which exact
    // verification prunes. Output is identical to the unhashed join
    // (ClustersSpec brute-force equality).
    val posts = shingled
      .select(col("doc_id"), size(col("s")).as("nsh"), explode(col("s")).as("sh"))
      .withColumn("shh", xxhash64(col("sh")))
    val dfreq = posts.groupBy("shh").agg(count(lit(1)).as("df"))
    // per-doc rank under the global (df, shh, sh) order; keep the prefix
    val w = Window.partitionBy("doc_id").orderBy(col("df"), col("shh"), col("sh"))
    // required overlap ⌈t·|s|⌉ with an FP tolerance: double arithmetic can
    // round 0.29*100 up past the integer (29.000000000000004 → ceil 30),
    // which would SHORTEN the prefix and silently drop at-threshold pairs;
    // the tolerance lets the prefix only err longer, never shorter
    val prefix = posts.join(dfreq, "shh")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= col("nsh") - ceil(col("nsh") * threshold - 1e-9) + 1)
      .select("doc_id", "shh")

    val cand = prefix.select(col("doc_id").as("doc_a"), col("shh"))
      .join(prefix.select(col("doc_id").as("doc_b"), col("shh")), Seq("shh"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()

    // exact verification over the full shingle sets (candidates are few)
    val pairs = cand
      .join(shingled.select(col("doc_id").as("doc_a"), col("s").as("sa")), Seq("doc_a"))
      .join(shingled.select(col("doc_id").as("doc_b"), col("s").as("sb")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jac", col("inter").cast("double") /
        (size(col("sa")) + size(col("sb")) - col("inter")))
      .filter(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 6).as("jac"))
    // EAGER: truncate lineage (the result no longer references shingled),
    // then drop the shingle cache — callers get a small self-contained
    // pair table and no stranded cache blocks
    val out = pairs.localCheckpoint()
    shingled.unpersist()
    out
  }

  /** Large-star round: every node u connects its strictly-larger
    * neighbors to m(u) = min(N(u) ∪ {u}). Two shuffles on the same key
    * (groupBy + join), both partial-aggregable.
    */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.union(edges.select(col("b").as("a"), col("a").as("b")))
    val m = sym.groupBy("a").agg(min("b").as("mn"))
      .select(col("a"), least(col("a"), col("mn")).as("m"))
    sym.join(m, "a")
      .filter(col("b") > col("a"))
      .select(col("b").as("a"), col("m").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
  }

  /** Small-star round: orient edges to (u > v); every node u connects its
    * smaller neighbors AND itself to m(u) = min of them.
    */
  private def smallStar(edges: DataFrame): DataFrame = {
    val oriented = edges.select(greatest(col("a"), col("b")).as("u"),
      least(col("a"), col("b")).as("v"))
    val m = oriented.groupBy("u").agg(min("v").as("m"))
    val nbr = oriented.join(m, "u")
      .select(col("v").as("a"), col("m").as("b"))
    val self = m.select(col("u").as("a"), col("m").as("b"))
    nbr.union(self)
      .filter(col("a") =!= col("b"))
      .distinct()
  }

  /** Connected components of an undirected edge list (cols `a`, `b`:
    * long). Returns (id, component) for every node appearing in an edge;
    * component = the smallest id reachable. Converges when an
    * order-insensitive edge-set checksum is stable (count + sum + xor of
    * per-edge hashes — one cheap aggregate per round, no except() join).
    */
  def connectedComponents(edges: DataFrame): DataFrame = {
    // materialize the (possibly expensive) edge derivation once before
    // iterating — every round re-reads the previous round's checkpoint,
    // never the upstream pair generation
    var e = edges.select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint()
    // conf graft.cc.exactConvergence=true swaps the probabilistic
    // signature for a set-equality check (symmetric except, two extra
    // joins per round) — the paranoid mode TODO.md item C describes
    val exact = edges.sparkSession.conf
      .getOption("graft.cc.exactConvergence")
      .exists(_.trim.equalsIgnoreCase("true")) // a bad conf value must not kill the job
    var prevE = e
    var prev = (-1L, -1L, -1L)
    var it = 0
    var stable = false
    while (it < MaxIter && !stable) {
      e = smallStar(largeStar(e)).localCheckpoint() // truncate lineage per round
      if (exact) {
        // prevE starts as the materialized input, so comparing from round
        // 0 is sound (output == input implies a fixed point already)
        stable = e.exceptAll(prevE).isEmpty && prevE.exceptAll(e).isEmpty
        prevE = e
      } else {
        val row = e.agg(count(lit(1)), sum(col("a") + col("b")),
          sum(hash(col("a"), col("b")).cast("long"))).head()
        val sig = (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1),
          if (row.isNullAt(2)) 0L else row.getLong(2))
        stable = sig == prev
        prev = sig
      }
      it += 1
    }
    // a non-converged edge set is NOT a star forest — labels derived from
    // it would be silently wrong, so fail loudly
    if (!stable)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $MaxIter rounds")
    // fixpoint is a star forest: (a → b) with b the component min
    e.select(col("a").as("id"), col("b").as("component"))
      .union(e.select(col("b").as("id"), col("b").as("component")))
      .distinct()
  }

  /** (doc_id, cluster_id) for EVERY document given a (doc_a, doc_b) pair
    * table: component min for docs in a near-dup cluster, own id for
    * singletons.
    */
  def labelClusters(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val comp = connectedComponents(
      pairs.select(col("doc_a").as("a"), col("doc_b").as("b")))
      .withColumnRenamed("id", "doc_id")
    docs.select("doc_id").join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster_id"))
  }

  /** One keeper per cluster: longest text wins, ties by smallest doc_id —
    * the "keep best copy" step of a dedup pipeline.
    */
  def canonical(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val w = Window.partitionBy("cluster_id")
      .orderBy(F.length(col("text")).desc, col("doc_id").asc)
    docs.join(clusters, "doc_id")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id"))
  }
}
