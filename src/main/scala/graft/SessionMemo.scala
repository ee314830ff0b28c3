package graft

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** The engine's one per-session memo: derived tables that every query of a
  * session would otherwise rebuild (the reference's geometry / topology
  * LRUs, env.go:103-111, at session granularity) and lazy parquet plans.
  *
  * An entry is keyed by (session identity, `slot`) and stamped with a
  * `version`. A lookup at the stored version returns the stored value; a
  * lookup at any other version releases the old value and builds a new one.
  * Version rule: a memo whose value reads sfDir data passes `sfDir` (or a
  * content stamp of it) as its version, so a second fixture set in the same
  * session can never be served the first one's table (TwoSfDirSpec pins
  * this). A memo over a DataFrame's rows passes those rows, or, where
  * the plan reads only cached relations through pure operators, its
  * `org.apache.spark.sql.graft.DimensionKey`: the canonical optimized plan
  * plus the identity of every cache entry it reads, which costs no job.
  * Only memos over compiled-in fixture constants may use a constant
  * version. A build runs under the memo's lock; `graft.operators.Dimension`
  * stores a holder that collects on first use, outside it.
  *
  * Sessions are held strongly — a memoized DataFrame references its
  * session, so a weak key could never be collected. Instead, once more than
  * [[MaxSessions]] sessions hold entries, every other session's entries are
  * released and dropped; that loses only memoization, and the normal
  * one-session-per-JVM deployment never evicts.
  */
object SessionMemo {

  val MaxSessions = 3

  private final class Entry(val version: Any, val value: Any, val release: Any => Unit)

  private val sessions = mutable.HashMap.empty[SparkSession, mutable.HashMap[String, Entry]]

  // a release that throws must not block the rebuild or the eviction
  private def releaseQuietly(e: Entry): Unit =
    try e.release(e.value) catch { case _: Exception => () }

  def get[V](spark: SparkSession, slot: String, version: Any)(build: => V)
            (release: V => Unit): V = synchronized {
    val slots = sessions.getOrElseUpdate(spark, mutable.HashMap.empty)
    slots.get(slot) match {
      case Some(e) if e.version == version => e.value.asInstanceOf[V]
      case stale =>
        // drop before building, so a failed build never leaves a released value behind
        stale.foreach { e => slots.remove(slot); releaseQuietly(e) }
        val v = build
        slots.put(slot, new Entry(version, v, release.asInstanceOf[Any => Unit]))
        if (sessions.size > MaxSessions)
          sessions.filterInPlace { (s, other) =>
            (s eq spark) || { other.values.foreach(releaseQuietly); false }
          }
        v
    }
  }
}
