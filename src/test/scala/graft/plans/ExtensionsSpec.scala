package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{approx_count_distinct, col}
import org.apache.spark.sql.graft.SketchPreAggregation

import graft.{Graft, GraftExtensions, SparkTestBase}
import graft.cells.{Cell, Coverer}
import graft.geom.Jts
import graft.operators.Ingest
import graft.sources.Fixtures

/** The SQL-sugar path: GraftExtensions / Graft.install register the ST
  * functions and inject PipJoinRewrite, so a *plain SQL* containment join
  * plans as the cover equi-join and still returns exactly the rows of the
  * nested-loop plan it replaces (pure-geometry semantics, degenerate-ring
  * polygons included).
  */
class ExtensionsSpec extends SparkTestBase {
  import spark.implicits._

  lazy val polys = Ingest.polygons(spark, Fixtures.nodesDf(spark), Fixtures.waysDf(spark),
    Fixtures.relationsDf(spark), Fixtures.blacklist).cache()
  lazy val pages = Fixtures.pages(spark, sf0001).cache()

  /** Pure-geometry brute force (NO index): every polygon row, 995's
    * triangle included — the ground truth a nested-loop plan computes.
    */
  private def bruteForce(): Set[(String, String, Long)] = {
    val dims = polys.select("relId", "layer", "wkb").as[(Long, String, Array[Byte])]
      .collect().map { case (relId, layer, wkb) =>
        (relId, layer, Jts.prepare(Jts.fromWkb(wkb)))
      }
    val pts = pages.select("url", "lon", "lat").as[(String, Double, Double)].collect()
    (for {
      (url, lon, lat) <- pts
      (relId, layer, prep) <- dims
      if prep.contains(Jts.point(lon, lat))
    } yield (url, layer, relId)).toSet
  }

  /** Register the join inputs as temp views *in `s`* (views are
    * session-scoped) and run the plain-SQL containment join there.
    */
  private def sqlJoin(s: SparkSession) = {
    val p = polys.select("relId", "layer", "wkb")
    val pg = pages.select("url", "lon", "lat")
    s.createDataFrame(p.collectAsList(), p.schema).createOrReplaceTempView("graft_polys")
    s.createDataFrame(pg.collectAsList(), pg.schema).createOrReplaceTempView("graft_pages")
    s.sql("""SELECT p.url, g.layer, g.relId
             FROM graft_pages p JOIN graft_polys g
             ON st_contains_point(g.wkb, p.lon, p.lat)""")
  }

  test("coverForJoin: envelope fallback keeps degenerate-ring polygons indexable") {
    val tri = Jts.polygon(IndexedSeq((40.0, 10.0), (41.0, 10.0), (40.0, 11.0), (40.0, 10.0)))
    assert(Coverer.coverGeometry(tri).isEmpty, "reference coverer refuses < 4-point rings")
    val cells = Coverer.coverForJoin(tri)
    assert(cells.nonEmpty)
    // superset: the envelope cell contains every leaf inside the triangle
    val probes = Seq((40.2, 10.2), (40.5, 10.4), (40.9, 10.05))
    probes.foreach { case (lon, lat) =>
      val leaf = Cell.leaf(lon, lat)
      assert(cells.exists(c => Cell.contains(c, leaf)), s"($lon,$lat) not covered")
    }
    // disjoint: no cell is an ancestor of another
    for (a <- cells; b <- cells if a != b) assert(!Cell.contains(a, b))
  }

  test("coverForJoin is EXACT: sliver crossing cells without vertices in them stays covered") {
    // A long thin sliver (lon -170..170, lat 0.001..0.002) crosses many
    // cells without placing a vertex in them and without containing any
    // cell corner — the vertex-approximate predicates prune those
    // subtrees, which used to make the SQL rewrite silently drop rows.
    val sliver = Jts.polygon(IndexedSeq(
      (-170.0, 0.001), (170.0, 0.001), (170.0, 0.002), (-170.0, 0.002), (-170.0, 0.001)))
    val cells = Coverer.coverForJoin(sliver)
    assert(cells.nonEmpty)
    // superset at interior probes far from any vertex
    for (lon <- Seq(-120.0, -40.0, 0.0, 60.0, 140.0)) {
      val leaf = Cell.leaf(lon, 0.0015)
      assert(cells.exists(c => Cell.contains(c, leaf)), s"sliver probe lon=$lon not covered")
    }
    // pairwise disjoint (the rewrite's no-duplicate guarantee)
    for (a <- cells; b <- cells if a != b) assert(!Cell.contains(a, b))
  }

  test("coverForJoin covers EVERY member of a mixed MultiPolygon (degenerate member included)") {
    // One coverable polygon + one degenerate-ring (3-unique-point) member:
    // the old whole-geometry fallback only fired when the ENTIRE cover was
    // empty, so the degenerate member silently lost its matches.
    val ok = Jts.polygon(IndexedSeq(
      (10.0, 10.0), (20.0, 10.0), (20.0, 20.0), (10.0, 20.0), (10.0, 10.0)))
    val tri = Jts.polygon(IndexedSeq((40.0, 10.0), (41.0, 10.0), (40.0, 11.0), (40.0, 10.0)))
    val mp = Jts.factory.createMultiPolygon(Array(ok, tri))
    val cells = Coverer.coverForJoin(mp)
    for ((lon, lat) <- Seq((15.0, 15.0), (40.2, 10.2), (40.5, 10.4))) {
      val leaf = Cell.leaf(lon, lat)
      assert(cells.exists(c => Cell.contains(c, leaf)), s"($lon,$lat) not covered")
    }
    for (a <- cells; b <- cells if a != b) assert(!Cell.contains(a, b))
  }

  test("PipJoinRewrite finds sliver matches end-to-end (exact-cover regression)") {
    Graft.install(spark)
    val sliver = Jts.polygon(IndexedSeq(
      (-170.0, 0.001), (170.0, 0.001), (170.0, 0.002), (-170.0, 0.002), (-170.0, 0.001)))
    Seq((1L, "sliver", Jts.toWkb(sliver)))
      .toDF("relId", "layer", "wkb").createOrReplaceTempView("graft_polys")
    Seq(("inside_mid", 0.0, 0.0015), ("inside_far", 140.0, 0.0015), ("outside", 0.0, 5.0))
      .toDF("url", "lon", "lat").createOrReplaceTempView("graft_probe")
    val df = spark.sql(
      """SELECT p.url, g.relId FROM graft_probe p JOIN graft_polys g
        |ON st_contains_point(g.wkb, p.lon, p.lat)""".stripMargin)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"), plan)
    val got = df.as[(String, Long)].collect().toSet
    assert(got == Set(("inside_mid", 1L), ("inside_far", 1L)))
  }

  test("PipJoinRewrite: SQL containment join == nested-loop ground truth, no cartesian plan") {
    Graft.install(spark)
    val df = sqlJoin(spark)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"expected the cover equi-join, got:\n$plan")
    val got = df.as[(String, String, Long)].collect().toSet
    assert(got == bruteForce())
    // the triangle (empty reference cover) must still be matchable via SQL
    assert(got.exists(_._3 == 995L) == bruteForce().exists(_._3 == 995L))
  }

  test("PipJoinRewrite reaches cover-index-invisible polygons (triangle 995)") {
    Graft.install(spark)
    polys.select("relId", "layer", "wkb").createOrReplaceTempView("graft_polys")
    // a point strictly inside the triangle — the cover index can never
    // return it (empty reference cover), the SQL path must
    Seq(("tri_probe", 40.2, 10.3), ("far_away", -120.0, -45.0))
      .toDF("url", "lon", "lat").createOrReplaceTempView("graft_probe")
    val got = spark.sql(
      """SELECT p.url, g.relId FROM graft_probe p JOIN graft_polys g
        |ON st_contains_point(g.wkb, p.lon, p.lat)""".stripMargin)
      .as[(String, Long)].collect().toSet
    assert(got.contains(("tri_probe", 995L)))
    assert(!got.exists(_._1 == "far_away"))
  }

  test("PipJoinRewrite: swapped sides and extra residual conjuncts") {
    Graft.install(spark)
    polys.select("relId", "layer", "wkb").createOrReplaceTempView("graft_polys")
    pages.select("url", "lon", "lat").createOrReplaceTempView("graft_pages")
    // polygons on the LEFT, plus a non-equi residual conjunct
    val df = spark.sql(
      """SELECT p.url, g.layer, g.relId
        |FROM graft_polys g JOIN graft_pages p
        |ON st_contains_point(g.wkb, p.lon, p.lat) AND g.layer != 'water'""".stripMargin)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"), plan)
    val got = df.as[(String, String, Long)].collect().toSet
    assert(got == bruteForce().filter(_._2 != "water"))
  }

  test("PipJoinRewrite: comma-join + WHERE form is rewritten too") {
    Graft.install(spark)
    polys.select("relId", "layer", "wkb").createOrReplaceTempView("graft_polys")
    pages.select("url", "lon", "lat").createOrReplaceTempView("graft_pages")
    // predicate pushdown moves the WHERE into the join condition before
    // the extension batch runs, so the rewrite still fires
    val df = spark.sql(
      """SELECT p.url, g.layer, g.relId FROM graft_pages p, graft_polys g
        |WHERE st_contains_point(g.wkb, p.lon, p.lat)""".stripMargin)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"), plan)
    assert(df.as[(String, String, Long)].collect().toSet == bruteForce())
  }

  test("variadic ST functions reject wrong arity loudly at analysis time") {
    graft.functions.GeomExpressions.register(spark)
    Seq(
      "SELECT st_cell_ancestors(1.0, 2.0, 0)",      // 3 of 4
      "SELECT st_cell_cover_join(x'00', 5)",        // 2 of 1
      "SELECT st_geo_distance(1.0, 2.0, 3.0)",      // 3 of 4
      "SELECT st_area(st_point(1.0, 2.0), 5)",      // 2 of 1
      "SELECT st_cell_cover(st_point(1.0, 2.0), 7, 8)", // 3 of 1
      "SELECT st_area()"                            // 0 of 1
    ).foreach { sql =>
      val e = intercept[Exception](spark.sql(sql).collect())
      assert(e.getMessage.contains("arguments"), s"$sql: ${e.getMessage}")
    }
  }

  test("PipJoinRewrite leaves equi-key joins alone") {
    Graft.install(spark)
    val df = spark.sql(
      """SELECT p.url, g.layer FROM graft_pages p JOIN graft_polys g
        |ON p.url = g.layer AND st_contains_point(g.wkb, p.lon, p.lat)""".stripMargin)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.contains("st_cell_cover_join"), s"must not rewrite:\n$opt")
  }

  test("spark.sql.extensions=graft.GraftExtensions registers functions + rule") {
    val old = spark // force shared-session init before swapping
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // spark.sql.extensions is a *static* conf: getOrCreate reads it from the
    // SparkContext conf (where spark-submit --conf puts it), not from
    // builder options when the context is reused — so emulate spark-submit.
    org.apache.spark.graft.TestBridge.liveConf(old.sparkContext)
      .set("spark.sql.extensions", classOf[GraftExtensions].getName)
    try {
      val s2 = SparkSession.builder()
        .master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
      assert(s2 ne old)
      // functions resolve with no explicit register() call
      assert(s2.sql(s"SELECT st_cell_at(4.35, 50.85, 8) AS c").head().getLong(0) ==
        Cell.cellAt(4.35, 50.85, 8))
      // and the optimizer rule is injected
      val df = sqlJoin(s2)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"), plan)
      assert(df.count() == bruteForce().size)
      // and the planner Strategy: a marked sketch plans over a pre-aggregate
      val sketch = s2.range(0, 100).selectExpr("id % 3 AS g", "id % 5 AS v").groupBy("g")
        .agg(approx_count_distinct(SketchPreAggregation.lowCardinality(col("v"))))
      val sketchPlan = sketch.queryExecution.executedPlan.toString
      // a codegen'd partial, then the sketch partial and the final as
      // ObjectHashAggregates over the one-field sparse sketch
      assert("(?<!Object)HashAggregate\\(".r.findAllIn(sketchPlan).length == 1, sketchPlan)
      assert("ObjectHashAggregate\\(".r.findAllIn(sketchPlan).length == 2, sketchPlan)
    } finally {
      org.apache.spark.graft.TestBridge.liveConf(old.sparkContext)
        .remove("spark.sql.extensions")
      SparkSession.setDefaultSession(old)
      SparkSession.setActiveSession(old)
    }
  }
}
