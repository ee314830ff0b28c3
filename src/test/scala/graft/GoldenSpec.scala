package graft

/** Frozen golden outputs (FIXTURES.md §B3): SHA-256 (truncated) of the
  * sorted row renderings of key engine queries on the deterministic
  * sf0.001 fixtures. Any change to geometry math, cell indexing, hashing
  * or join semantics shows up here as a hash mismatch — the row-for-row
  * determinism net the north rule requires. Regenerate intentionally by
  * running the canonical() helper over the named queries and updating the
  * constants (document why in the commit message).
  */
class GoldenSpec extends SparkTestBase {

  val goldens: Map[String, String] = Map(
    "q_pip_spatial" -> "707f1f26e931f06b",
    "q_cell_covers" -> "ac05b38934bc8b8f",
    "q_polygons" -> "3b26c6fd86161aae",
    // round 7: the driver-facing q_topo_arcs became the probe-membership
    // form (DuckDB-oracled); the quantized-delta payload this hash pins is
    // retained verbatim as SparkEntry.topoArcDeltas — same value as the
    // round-3 freeze, checked below via the override map
    "q_topo_arcs" -> "91c21dbd1a9a97bd",
    "q_topo_slices" -> "52b2c0ad086f3129",
    "q_knn" -> "3ad15122646a3ea3",
    "q_tile_counts" -> "8cc4c6e0c3fad844",
    "q_raster_cells" -> "e07887375ac00075",
    "q_water" -> "d0e92c001a7ea0e5",
    "q_minhash_pairs" -> "7b29e23ff36a683e", // unchanged through the round-3 hash swap: same verified pair set
    "q_simhash_pairs" -> "99d0000cbd5f855d", // refrozen round 3: murmur token hash -> universal-hash bit votes (oracle-replicable); hamming values legitimately differ
    "q_fingerprints" -> "5e1c2eb202c03f2f", // refrozen round 2: gram hash murmur -> 31-polynomial (oracle-replicable)
    "q_media_meta" -> "bffdc626e2f11dff",
    // frozen round 4 (the one query that had no row-level evidence): Lloyd
    // means now sum in DECIMAL (exact + associative → bit-identical under
    // any partial-aggregate merge order); hash verified identical at
    // local[4]/local[13]/local[32] before freezing (canonical() below)
    "q_ann_ivf" -> "e456087bc611b889")

  def canonical(df: org.apache.spark.sql.DataFrame): String = {
    val rows = df.collect().map(_.toString).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  /** Queries whose driver-facing form moved on but whose frozen payload
    * is retained under a named helper (see the goldens-map comments).
    */
  val overrides: Map[String, org.apache.spark.sql.SparkSession => org.apache.spark.sql.DataFrame] =
    Map("q_topo_arcs" -> (s => SparkEntry.topoArcDeltas(s)))

  goldens.foreach { case (name, expected) =>
    test(s"golden: $name output is frozen row-for-row") {
      val df = overrides.get(name) match {
        case Some(f) => f(spark)
        case None => SparkEntry.queries(name)(spark, sf0001)
      }
      val got = canonical(df)
      assert(got == expected, s"$name drifted: got $got expected $expected")
    }
  }
}
