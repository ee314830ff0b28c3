package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, NamedExpression, TaggingExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, HyperLogLogPlusPlus}
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.aggregate.AggUtils

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
  * as Spark's one-distinct plan without its exact cross-task dedup:
  *
  *  1. `HashAggregate(keys g ++ v: partial of the other aggregates)` —
  *     codegen'd, in the stage of its child;
  *  2. `HashAggregate(keys g: merge of those, partial HLL sketch of v)` —
  *     interpreted, over at most |g| × |v| rows per task;
  *  3. one `Exchange hashpartitioning(g)`, and the final aggregate.
  *
  * Spark's own plan would also merge step 1 across tasks through a second
  * exchange keyed by g ++ v, to make v exact-distinct per group. An HLL
  * register is a max over per-value hashes, so a value counted twice
  * changes no register: the merge is dropped and the result is
  * bit-identical to the plain plan. The shuffle still carries one sketch
  * per (group, map task).
  *
  * Only for the marked aggregate, because step 1 keeps every (g, v) pair
  * of a task in a hash map: on a v unique per row it adds a row per input
  * row before the sketch (8 M rows over 1,000 groups at local[4]: 2.1× the
  * process CPU of the plain plan, against 0.43× for an 8-value v; BENCH.md).
  * Fires only on a non-streaming aggregate with a non-empty grouping, no
  * DISTINCT or FILTER, and exactly one `approx_count_distinct`, whose
  * argument is marked; anything else plans as before.
  */
object SketchPreAggregation extends SparkStrategy {

  def lowCardinality(c: Column): Column = Bridge.column(LowCardinality(Bridge.expression(c)))

  /** Idempotent: sessions built without `graft.GraftExtensions` get the
    * Strategy from the first caller that needs it. */
  def install(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraStrategies.contains(this))
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ this
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case a: Aggregate if !a.isStreaming => a match {
      case PhysicalAggregation(grouping, aggs, results, child)
          if grouping.nonEmpty && aggs.forall(ae => !ae.isDistinct && ae.filter.isEmpty) =>
        aggs.filter(_.aggregateFunction.isInstanceOf[HyperLogLogPlusPlus]) match {
          case Seq(sketch @ AggregateExpression(hll @ HyperLogLogPlusPlus(LowCardinality(v), _, _, _), _, _, _, _)) =>
            // the sketch is the plan's one distinct function, over v itself
            val distinct = sketch.copy(aggregateFunction = hll.copy(child = v), isDistinct = true)
            val named = NormalizeFloatingNumbers.normalize(v) match {
              case ne: NamedExpression => ne
              case other => Alias(other, v match {
                case ne: NamedExpression => ne.name
                case _ => v.toString
              })()
            }
            val full = AggUtils.planAggregateWithOneDistinct(grouping, Seq(distinct),
              aggs.filterNot(_ eq sketch), Seq(v), Seq(named), results, planLater(child))
            // final ← sketch partial ← merge keyed by g ++ v ← partial:
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
