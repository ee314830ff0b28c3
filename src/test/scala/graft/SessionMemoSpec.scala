package graft

import scala.collection.mutable

/** The one per-session memo policy: version change rebuilds and releases,
  * an unchanged key is served as-is, and a JVM holding more than MaxSessions
  * sessions releases every session but the current one.
  */
class SessionMemoSpec extends SparkTestBase {

  test("a version change releases the old value exactly once") {
    val released = mutable.Buffer.empty[String]
    def get(version: Int): String =
      SessionMemo.get(spark, "spec.version", version)(s"v$version")(released += _)
    assert(get(1) == "v1" && get(1) == "v1")
    assert(released.isEmpty, "an unchanged version must not release")
    assert(get(2) == "v2")
    assert(get(2) == "v2")
    assert(released == Seq("v1"))
  }

  test("the same (session, slot, version) returns the same instance") {
    var builds = 0
    def get(): AnyRef = SessionMemo.get(spark, "spec.same", "x") { builds += 1; new Object }(_ => ())
    val a = get()
    assert(get() eq a)
    assert(builds == 1)
  }

  test("more than MaxSessions sessions release the other sessions' entries") {
    val released = mutable.Buffer.empty[Int]
    // the shared test session holds entries too: with it, MaxSessions new
    // sessions make MaxSessions + 1, and the last get must evict
    SessionMemo.get(spark, "spec.evict", ())(-1)(released += _)
    val sessions = (0 until SessionMemo.MaxSessions).map(_ => spark.newSession())
    sessions.zipWithIndex.foreach { case (s, i) =>
      SessionMemo.get(s, "spec.evict", ())(i)(released += _)
    }
    assert(released.sorted == (-1 until SessionMemo.MaxSessions - 1),
      "every session but the newest must be released once")
    var rebuilt = false
    val last = SessionMemo.get(sessions.last, "spec.evict", ()) { rebuilt = true; 0 }(released += _)
    assert(last == SessionMemo.MaxSessions - 1 && !rebuilt, "the current session's entry survives")
    // an evicted session starts over with a fresh build
    assert(SessionMemo.get(spark, "spec.evict", ())(100)(released += _) == 100)
  }
}
