package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.graft.SketchPreAggregation

import graft.functions.GeomExpressions
import graft.plans.PipJoinRewrite

/** Session-extension entry point: makes the engine's SQL surface available
  * without touching application code —
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * registers every ST function (st_contains_point, st_cell_at, …) in the
  * session's function registry and injects [[graft.plans.PipJoinRewrite]]
  * into the optimizer, so a plain
  * `SELECT ... FROM pages p JOIN polys g ON st_contains_point(g.wkb, p.lon, p.lat)`
  * plans as the cover equi-join + exact residual instead of a
  * broadcast-nested-loop join. It also adds the planner Strategy
  * [[org.apache.spark.sql.graft.SketchPreAggregation]], which plans an
  * `approx_count_distinct` whose argument is marked low-cardinality over a
  * codegen'd pre-aggregate keyed by the argument's HLL++ hash, with the
  * sketch as one binary field of its non-zero register words
  * ([[org.apache.spark.sql.graft.SparseHll]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GeomExpressions.registrations.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))
    }
    // injected into the operator-optimization fixed-point batch, so column
    // pruning / predicate pushdown re-run over the rewritten plan
    ext.injectOptimizerRule(_ => PipJoinRewrite)
    ext.injectPlannerStrategy(_ => SketchPreAggregation)
  }
}

/** Imperative installer for sessions created without `spark.sql.extensions`
  * (tests, notebooks): same functions as temp registrations plus the
  * rewrite via `experimental.extraOptimizations` and the Strategy via
  * `experimental.extraStrategies`.
  */
object Graft {
  def install(spark: SparkSession): Unit = {
    GeomExpressions.register(spark)
    if (!spark.experimental.extraOptimizations.contains(PipJoinRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ PipJoinRewrite
    SketchPreAggregation.install(spark)
  }
}
