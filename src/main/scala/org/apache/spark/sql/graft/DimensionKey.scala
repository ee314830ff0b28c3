package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, UserDefinedExpression, UserDefinedGenerator}
import org.apache.spark.sql.catalyst.plans.logical.{ObjectConsumer, ObjectProducer, TypedFilter}
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** A version of the rows a DataFrame reads that costs no Spark job, for
  * the memoized PIP dimension handle, `graft.operators.Dimension`: the
  * canonical optimized plan after cache substitution, plus the identity of
  * every cache entry it reads. Equal keys mean equal rows when every leaf
  * is a cached relation over a deterministic plan and every operator above
  * the cached relations is deterministic and runs no user code (a typed
  * closure or a UDF can read outside state). Any other plan (a file scan, a
  * local relation, an RDD, a stream, a UDF) has no key, and its caller
  * falls back to the rows.
  *
  * A cache entry counts by reference: after `unpersist(); cache()` over
  * rewritten files the new entry's `CachedRDDBuilder` is `==` to the old
  * one and the canonical plans compare equal, so only the reference tells
  * the two caches apart.
  */
object DimensionKey {

  private final class Ref(val value: AnyRef) {
    override def equals(o: Any): Boolean = o match {
      case r: Ref => r.value eq value
      case _ => false
    }
    override def hashCode: Int = System.identityHashCode(value)
  }

  private def pure(e: Expression): Boolean = e.deterministic && !e.exists {
    case _: UserDefinedExpression | _: UserDefinedGenerator => true
    case _ => false
  }

  def of(df: DataFrame): Option[Any] = {
    val qe = df.queryExecution
    val session = qe.sparkSession
    // the cache is looked up on every call: it can change under one DataFrame
    val plan = session.withActive(session.sessionState.optimizer.execute(
      session.sharedState.cacheManager.useCachedData(qe.analyzed)))
    val nodes = plan.collectWithSubqueries { case p => p }
    val keyed = nodes.forall {
      case r: InMemoryRelation => r.cacheBuilder.logicalPlan.deterministic
      case _: ObjectProducer | _: ObjectConsumer | _: TypedFilter => false
      case p => p.children.nonEmpty && p.expressions.forall(pure)
    }
    if (!keyed) None
    else Some((plan.canonicalized, nodes.collect { case r: InMemoryRelation => new Ref(r.cacheBuilder) }))
  }
}
