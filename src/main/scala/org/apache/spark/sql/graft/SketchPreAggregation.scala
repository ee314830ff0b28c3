package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, If, IsNull, Literal, TaggingExpression, UnaryExpression, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, HyperLogLogPlusPlus}
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.aggregate.AggUtils
import org.apache.spark.sql.types._

/** The caller's mark that an `approx_count_distinct` argument takes few
  * values per group: it returns its child unchanged (same value, type and
  * generated code), and [[SketchPreAggregation]] plans the sketch over a
  * pre-aggregate keyed by it.
  */
case class LowCardinality(child: Expression) extends UnaryExpression with TaggingExpression {
  override def prettyName: String = "low_cardinality"
  override protected def withNewChildInternal(newChild: Expression): LowCardinality = copy(child = newChild)
}

/** Plans `groupBy(g).agg(..., approx_count_distinct(low_cardinality(v)))`
  * as Spark's one-distinct plan without its exact cross-task dedup, over
  * `h`, the 64-bit hash HLL++ computes of v (null where v is null):
  *
  *  1. `HashAggregate(keys g ++ h: partial of the other aggregates)` —
  *     codegen'd, in the stage of its child;
  *  2. `ObjectHashAggregate(keys g: merge of those, partial sketch of h)`,
  *     over at most |g| × |v| rows per task;
  *  3. one `Exchange hashpartitioning(g)`, and the final
  *     `ObjectHashAggregate`.
  *
  * The sketch is [[SparseHll]]: HLL++'s registers, fed h, shuffled as one
  * binary field of its non-zero words instead of HLL++'s 52 `long` fields.
  * Spark's own plan would also merge step 1 across tasks through a second
  * exchange keyed by g ++ v, to make v exact-distinct per group. An HLL
  * register is a max over per-value hashes, so a value counted twice
  * changes no register: the merge is dropped and the result is
  * bit-identical to the plain plan. The shuffle still carries one sketch
  * per (group, map task).
  *
  * Only for the marked aggregate, because step 1 keeps every (g, h) pair
  * of a task in a hash map: on a v unique per row it adds a row per input
  * row before the sketch (8 M rows over 1,000 groups at local[4]: 2.1× the
  * process CPU of the plain plan, against 0.43× for an 8-value v; BENCH.md).
  * Fires only on a non-streaming aggregate with a non-empty grouping, no
  * DISTINCT or FILTER, and exactly one `approx_count_distinct`, whose
  * argument is marked and of a type whose `xxhash64` is HLL++'s hash
  * ([[hashedAsHll]]); anything else plans as before.
  */
object SketchPreAggregation extends SparkStrategy {

  def lowCardinality(c: Column): Column = Bridge.column(LowCardinality(Bridge.expression(c)))

  /** Idempotent: sessions built without `graft.GraftExtensions` get the
    * Strategy from the first caller that needs it. */
  def install(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraStrategies.contains(this))
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ this
  }

  /** The types whose `xxhash64` with seed 42, after float normalization,
    * is the hash `HyperLogLogPlusPlusHelper.update` computes: atomic
    * types and UTF8_BINARY strings. A collated string hashes by its
    * collation key there, so it is declined. */
  private def hashedAsHll(t: DataType): Boolean = t match {
    case s: StringType => s.isUTF8BinaryCollation
    case BooleanType | ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         DateType | TimestampType | TimestampNTZType | BinaryType => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case a: Aggregate if !a.isStreaming => a match {
      case PhysicalAggregation(grouping, aggs, results, child)
          if grouping.nonEmpty && aggs.forall(ae => !ae.isDistinct && ae.filter.isEmpty) =>
        aggs.filter(_.aggregateFunction.isInstanceOf[HyperLogLogPlusPlus]) match {
          case Seq(sketch @ AggregateExpression(HyperLogLogPlusPlus(LowCardinality(v), relativeSD, _, _), _, _, _, _))
              if hashedAsHll(v.dataType) =>
            // the hash HyperLogLogPlusPlusHelper.update computes; xxhash64
            // of a null is its seed, so a null v is kept null
            val h = If(IsNull(v), Literal(null, LongType), XxHash64(Seq(NormalizeFloatingNumbers.normalize(v)), 42L))
            // the sketch is the plan's one distinct function, over h
            val distinct = sketch.copy(aggregateFunction = SparseHll(h, relativeSD), isDistinct = true)
            val full = AggUtils.planAggregateWithOneDistinct(grouping, Seq(distinct),
              aggs.filterNot(_ eq sketch), Seq(h), Seq(Alias(h, "hash")()), results, planLater(child))
            // final ← sketch partial ← merge keyed by g ++ h ← partial:
            // splice the partial under the sketch partial
            full.map { fin =>
              val sketchPartial = fin.children.head
              val merge = sketchPartial.children.head
              fin.withNewChildren(Seq(sketchPartial.withNewChildren(merge.children)))
            }
          case _ => Nil
        }
      case _ => Nil
    }
    case _ => Nil
  }
}
