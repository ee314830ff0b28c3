package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SketchPreAggregation

import graft.SparkTestBase
import graft.sources.Fixtures

/** `Tiling.tileCounts`: its `(tile, lang)` pre-aggregate under the HLL
  * sketch gives the rows of the plain aggregate, plans one shuffle, and
  * leaves unmarked sketches alone.
  */
class TilingSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** The aggregate `tileCounts` replaces, unmarked. */
  private def plain(pages: DataFrame, z: Int): DataFrame =
    Tiling.assign(pages, z).groupBy("z", "tx", "ty")
      .agg(count(lit(1)).as("n_pages"), approx_count_distinct(col("lang")).as("n_langs"))

  private def rows(df: DataFrame): Seq[(Int, Long, Long, Long, Long)] =
    df.select("z", "tx", "ty", "n_pages", "n_langs").as[(Int, Long, Long, Long, Long)]
      .collect().toSeq.sorted

  /** 40 k pages in 6 input partitions: 60% within ±0.5° of a fixture
    * city, the rest over the globe; languages include null, the empty
    * string and non-ASCII values, and a ~2,000-value tail. */
  private lazy val seeded: DataFrame = {
    val id = col("id")
    def u(k: Int) = (pmod(xxhash64(id, lit(k)), lit(1000003L)) / 1000003.0)
    val langs = Seq("en", "nl", "日本語", "ελληνικά", "", "fr-CA", "zh-Hant", "ру")
    val pick = pmod(xxhash64(id, lit(9)), lit(10L))
    val city = pmod(xxhash64(id, lit(8)), lit(Fixtures.cities.length.toLong)).cast("int")
    def cityCoord(f: ((String, Double, Double)) => Double) =
      Fixtures.cities.zipWithIndex.foldLeft(lit(0.0)) { case (acc, (c, k)) =>
        when(city === k, lit(f(c))).otherwise(acc) }
    val langPick = pmod(xxhash64(id, lit(7)), lit(12L))
    spark.range(0, 40000, 1, 6).select(
      when(langPick === 11, lit(null).cast("string"))
        .when(langPick === 10, concat(lit("x-"), (pmod(xxhash64(id, lit(6)), lit(2000L))).cast("string")))
        .otherwise(element_at(typedLit(langs), (langPick % langs.size + 1).cast("int"))).as("lang"),
      when(pick < 6, cityCoord(_._2) + u(1) - 0.5).otherwise(u(1) * 360.0 - 180.0).as("lon"),
      when(pick < 6, cityCoord(_._3) + u(2) - 0.5).otherwise(u(2) * 180.0 - 90.0).as("lat"))
  }

  test("tileCounts equals the plain count + approx_count_distinct aggregate, row for row") {
    val fixture = Fixtures.pages(spark, sf0001).select("lang", "lon", "lat")
    for ((pages, z) <- Seq((fixture, 10), (seeded, 10), (seeded, 4), (seeded, 0))) {
      val got = rows(Tiling.tileCounts(pages, z))
      assert(got == rows(plain(pages, z)), s"z=$z")
      assert(got.nonEmpty)
    }
    // the seeded tiles cover several input partitions and many languages,
    // so the sketches merge across map tasks
    val z4 = rows(Tiling.tileCounts(seeded, 4))
    assert(z4.map(_._4).sum == 40000L)
    assert(z4.exists(_._5 >= 100), "a city tile holds the language tail")
    assert(seeded.rdd.getNumPartitions >= 4)
  }

  /** The nodes of the whole-stage stages: InputAdapter is where a stage
    * reads rows from a non-codegen child. */
  private def codegenNodes(plan: SparkPlan): Seq[SparkPlan] = {
    def stage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case other => other +: other.children.flatMap(stage)
    }
    collect(plan) { case w: WholeStageCodegenExec => stage(w.child) }.flatten
  }

  private def aggregates(plan: SparkPlan): Seq[HashAggregateExec] =
    collect(plan) { case a: HashAggregateExec => a }

  test("tileCounts plans one shuffle over a codegen'd (tile, lang) partial aggregate") {
    val df = Tiling.tileCounts(seeded, 10)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(collect(plan) { case e: ShuffleExchangeExec => e }.length == 1, plan.toString)
    val preAgg = codegenNodes(plan).collect {
      // z is a literal, so its key is named after the folded constant
      case a: HashAggregateExec if a.groupingExpressions.map(_.name).tail == Seq("tx", "ty", "lang") &&
        a.aggregateExpressions.forall(_.mode == Partial) => a
    }
    assert(preAgg.length == 1, plan.toString)
    assert(aggregates(plan).length == 3, plan.toString)
  }

  test("unmarked, unsupported and streaming sketches plan as before") {
    val ids = spark.range(0, 5000, 1, 4).select((col("id") % 7).as("g"), col("id"))
    val marked = SketchPreAggregation.lowCardinality(col("id"))
    def planned(df: DataFrame): Boolean = SketchPreAggregation(
      df.queryExecution.analyzed.collectFirst { case a: Aggregate => a }.get).nonEmpty
    assert(planned(ids.groupBy("g").agg(count(lit(1)), approx_count_distinct(marked))))
    val unmarked = ids.groupBy("g").agg(count(lit(1)), approx_count_distinct(col("id")))
    val stream = spark.readStream.format("rate").load()
    val declined = Seq(
      "unmarked" -> unmarked,
      "no grouping" -> ids.agg(count(lit(1)), approx_count_distinct(marked)),
      "two sketches" -> ids.groupBy("g").agg(approx_count_distinct(marked), approx_count_distinct(col("g"))),
      "a distinct" -> ids.groupBy("g").agg(countDistinct(col("g")), approx_count_distinct(marked)),
      "a filter" -> ids.groupBy("g").agg(expr("count(1) FILTER (WHERE id > 9)"), approx_count_distinct(marked)),
      "streaming" -> stream.groupBy(col("value") % 7).agg(approx_count_distinct(
        SketchPreAggregation.lowCardinality(col("value")))))
    for ((name, df) <- declined) {
      assert(!planned(df), name)
      // where the mark stays in the plan, it evaluates as its child
      if (!df.isStreaming) df.collect()
    }

    // installed, the session still plans the unmarked sketch as Spark's
    // partial and final aggregates around one shuffle
    SketchPreAggregation.install(spark)
    unmarked.collect()
    val plan = unmarked.queryExecution.executedPlan
    assert(aggregates(plan).map(_.groupingExpressions.map(_.name)) == Seq(Seq("g"), Seq("g")), plan.toString)
    assert(collect(plan) { case e: ShuffleExchangeExec => e }.length == 1, plan.toString)
    // a marked sketch gives the rows of the unmarked one
    assert(ids.groupBy("g").agg(approx_count_distinct(marked)).as[(Long, Long)].collect().sorted.toSeq ==
      ids.groupBy("g").agg(approx_count_distinct(col("id"))).as[(Long, Long)].collect().sorted.toSeq)
  }
}
