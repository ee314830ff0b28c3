package graft.operators

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Count, HyperLogLogPlusPlus, Partial}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec, ObjectHashAggregateExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{SketchPreAggregation, SparseHll}
import org.apache.spark.sql.types.{BinaryType, LongType}

import graft.SparkTestBase
import graft.sources.Fixtures

/** `Tiling.tileCounts`: its `(tile, hash of lang)` pre-aggregate under the
  * sparse HLL sketch gives the rows of the plain aggregate, plans one
  * shuffle, and leaves unmarked and unsupported sketches alone.
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

  test("tileCounts plans one shuffle over a codegen'd (tile, hash) partial aggregate") {
    val df = Tiling.tileCounts(seeded, 10)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(collect(plan) { case e: ShuffleExchangeExec => e }.length == 1, plan.toString)
    val preAgg = codegenNodes(plan).collect {
      // z is a literal, so its key is named after the folded constant
      case a: HashAggregateExec if a.groupingExpressions.map(_.name).tail == Seq("tx", "ty", "hash") &&
        a.aggregateExpressions.forall(e => e.mode == Partial && e.aggregateFunction.isInstanceOf[Count]) => a
    }
    assert(preAgg.length == 1, plan.toString)
    assert(aggregates(plan) == preAgg, plan.toString)
    // the sketch partial and the final carry the sketch as one binary field
    val sketches = collect(plan) { case a: ObjectHashAggregateExec => a }
      .map(_.aggregateExpressions.map(_.aggregateFunction).collect { case f: SparseHll => f })
    assert(sketches.length == 2 && sketches.forall(_.length == 1), plan.toString)
    assert(sketches.flatten.forall(_.aggBufferAttributes.map(_.dataType) == Seq(BinaryType)), plan.toString)
    // no aggregate carries HLL++'s 52 dense register words
    assert(collect(plan) { case a: BaseAggregateExec => a }.forall(
      !_.aggregateExpressions.exists(_.aggregateFunction.isInstanceOf[HyperLogLogPlusPlus])), plan.toString)
  }

  /** Whether the Strategy plans the first aggregate of `df`. */
  private def planned(df: DataFrame): Boolean = SketchPreAggregation(
    df.queryExecution.analyzed.collectFirst { case a: Aggregate => a }.get).nonEmpty

  /** `groupBy(g).agg(count, approx_count_distinct(v, rsd))` marked against
    * unmarked, row for row. */
  private def assertMarkedIsPlain(df: DataFrame, rsd: Double = 0.05): Seq[(Long, Long, Long)] = {
    def agg(v: Column) = df.groupBy("g").agg(count(lit(1)), approx_count_distinct(v, rsd))
    def rows(a: DataFrame) = a.as[(Long, Long, Long)].collect().toSeq.sorted
    val got = rows(agg(SketchPreAggregation.lowCardinality(col("v"))))
    assert(got == rows(agg(col("v"))))
    got
  }

  test("the sparse sketch equals approx_count_distinct across precisions, nulls, dense tiles and types") {
    val ids = spark.range(0, 24000, 1, 6)
    val g = col("id") % 4
    val pick = pmod(xxhash64(col("id"), lit(5)), lit(3000L))
    // group 0: v always null; group 1: ≥ 2,000 values, so every register
    // word is non-zero; groups 2 and 3: a few values
    def values(many: Column, few: Column): DataFrame = ids.select(g.as("g"),
      when(g === 0, lit(null)).when(g === 1, many).otherwise(few).as("v"))
    val strings = values(concat(lit("v"), pick.cast("string")), (pick % 5).cast("string"))
    assert(ids.rdd.getNumPartitions >= 4)
    assert(planned(strings.groupBy("g").agg(approx_count_distinct(SketchPreAggregation.lowCardinality(col("v"))))))
    val dense = assertMarkedIsPlain(strings)
    assert(dense.find(_._1 == 0).get._3 == 0L, "a tile of null values counts 0")
    assert(dense.find(_._1 == 1).get._3 >= 2000L)
    // relativeSD 0.01: 1,639 register words, so a word index takes two bytes
    assertMarkedIsPlain(strings, 0.01)

    val longs = values(pick * 1000003L, pick % 7)
    val specials = typedLit(Seq(Double.NaN, -0.0, 0.0, 1.5))
    val doubles = values(pick.cast("double") / 7.0,
      element_at(specials, (pick % 4 + 1).cast("int")))
    def mapped(df: DataFrame, f: Column => Column): DataFrame = df.select(col("g"), f(col("v")).as("v"))
    val floats = mapped(doubles, _.cast("float"))
    // every other type the Strategy accepts, so none is accepted on argument alone
    val small = values(pick, pick % 7)
    val typed = Seq("long" -> longs, "double" -> doubles, "float" -> floats,
      "int" -> mapped(small, _.cast("int")), "short" -> mapped(small, _.cast("short")),
      "byte" -> mapped(small, v => (v % 100).cast("byte")), "boolean" -> mapped(small, _ % 2 === 0),
      "date" -> mapped(small, v => date_add(lit("2020-01-01").cast("date"), v.cast("int"))),
      "timestamp" -> mapped(small, timestamp_seconds),
      "timestamp_ntz" -> mapped(small, v => timestamp_seconds(v).cast("timestamp_ntz")),
      "binary" -> mapped(strings, _.cast("binary")))
    for ((name, df) <- typed) {
      assert(planned(df.groupBy("g").agg(approx_count_distinct(SketchPreAggregation.lowCardinality(col("v"))))), name)
      assertMarkedIsPlain(df)
    }
    // NaN, -0.0, 0.0 and 1.5 are three values to both sketches
    assert(assertMarkedIsPlain(doubles.where(col("g") > 1)).map(_._3) == Seq(3L, 3L))

    // a collated string hashes by its collation key in HLL++: declined
    val lcase = ids.select(g.as("g"),
      collate(element_at(typedLit(Seq("A", "a", "B", "b")), (pick % 4 + 1).cast("int")), "UTF8_LCASE").as("v"))
    assert(!planned(lcase.groupBy("g").agg(approx_count_distinct(SketchPreAggregation.lowCardinality(col("v"))))))
    assert(assertMarkedIsPlain(lcase).map(_._3) == Seq(2L, 2L, 2L, 2L))
  }

  test("the sparse sketch's wire format round-trips and holds only its non-zero words") {
    def sketch(rsd: Double, hashes: Int): (SparseHll, UnsafeRow) = {
      val f = SparseHll(BoundReference(0, LongType, nullable = true), rsd)
      val rnd = new Random(hashes)
      val buffer = (0 until hashes).foldLeft(f.createAggregationBuffer())((b, _) => f.update(b, InternalRow(rnd.nextLong())))
      (f, buffer)
    }
    def words(b: UnsafeRow): Seq[Long] = (0 until b.numFields).map(b.getLong)
    val cases = Seq(
      "empty" -> sketch(0.05, 0),
      "one word" -> sketch(0.05, 1),
      "dense" -> sketch(0.05, 5000),
      "1,639 words" -> sketch(0.01, 200000))
    for ((name, (f, buffer)) <- cases) {
      val bytes = f.serialize(buffer)
      val back = f.deserialize(bytes)
      assert(words(back) == words(buffer), name)
      assert(f.eval(back) == f.eval(buffer), name)
      val nonZero = words(buffer).count(_ != 0L)
      val indexBytes = if (buffer.numFields <= 256) 1 else 2
      assert(bytes.length <= (indexBytes + 8) * nonZero, name)
    }
    val sizes = cases.map { case (name, (f, b)) => name -> (b.numFields, words(b).count(_ != 0L), f.serialize(b).length) }.toMap
    assert(sizes("empty") == ((52, 0, 0)))
    assert(sizes("one word") == ((52, 1, 9)))
    assert(sizes("dense") == ((52, 52, 52 * 9)))
    assert(sizes("1,639 words") == ((1639, 1639, 1639 * 10)))
    // the null hash of a null value leaves the sketch empty
    val (f, empty) = sketch(0.05, 0)
    assert(f.serialize(f.update(empty, InternalRow(null))).isEmpty)
  }

  test("unmarked, unsupported and streaming sketches plan as before") {
    val ids = spark.range(0, 5000, 1, 4).select((col("id") % 7).as("g"), col("id"))
    val marked = SketchPreAggregation.lowCardinality(col("id"))
    assert(planned(ids.groupBy("g").agg(count(lit(1)), approx_count_distinct(marked))))
    val unmarked = ids.groupBy("g").agg(count(lit(1)), approx_count_distinct(col("id")))
    val stream = spark.readStream.format("rate").load()
    val declined = Seq(
      "unmarked" -> unmarked,
      "no grouping" -> ids.agg(count(lit(1)), approx_count_distinct(marked)),
      "two sketches" -> ids.groupBy("g").agg(approx_count_distinct(marked), approx_count_distinct(col("g"))),
      "a distinct" -> ids.groupBy("g").agg(countDistinct(col("g")), approx_count_distinct(marked)),
      "a filter" -> ids.groupBy("g").agg(expr("count(1) FILTER (WHERE id > 9)"), approx_count_distinct(marked)),
      "a decimal" -> ids.groupBy("g").agg(approx_count_distinct(
        SketchPreAggregation.lowCardinality(col("id").cast("decimal(20, 2)")))),
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
