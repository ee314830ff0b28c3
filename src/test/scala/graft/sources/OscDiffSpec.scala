package graft.sources

import java.nio.file.Files

import graft.SparkTestBase

class OscDiffSpec extends SparkTestBase {
  import spark.implicits._

  private def writeFixture(): String = {
    val dir = tempDir("osc_spec").toString
    Fixtures.oscChanges.foreach { case (seq, cs) => OscDiff.write(dir, seq, cs) }
    dir
  }

  test("node changes decode with sequence, document order and action") {
    val dir = writeFixture()
    val got = OscDiff.nodes(spark, dir)
      .as[(Long, Long, String, Long, Double, Double)].collect().sortBy(r => (r._1, r._2))
    // seq 1: 5 modifies (ord 1-5; ord 6 is the way), delete (7), 2 creates (8, 9)
    val ns = Fixtures.osm._1.sortBy(_.id)
    val expMod = ns.take(5).zipWithIndex.map { case (n, i) =>
      (1L, (i + 1).toLong, "modify", n.id, n.lat + 0.25, n.lon - 0.125)
    }
    assert(got.take(5).toSeq == expMod)
    assert(got(5) == ((1L, 7L, "delete", 100999L, 0.0, 0.0)))
    assert(got(6) == ((1L, 8L, "create", 910001L, 10.125, 20.25)))
    assert(got(7) == ((1L, 9L, "create", 910002L, -5.5, 30.75)))
    // seq 2: modify 910001 (ord 1), delete 910002 (ord 2; ord 3 is the
    // relation delete), then same-file create (4) + delete (5) of 910003
    assert(got(8) == ((2L, 1L, "modify", 910001L, 11.125, 21.25)))
    assert(got(9) == ((2L, 2L, "delete", 910002L, 0.0, 0.0)))
    assert(got(10) == ((2L, 4L, "create", 910003L, 7.25, -3.5)))
    assert(got(11) == ((2L, 5L, "delete", 910003L, 0.0, 0.0)))
    assert(got.length == 12)
  }

  test("way and relation changes decode; XML escaping round-trips") {
    val dir = writeFixture()
    val ways = OscDiff.ways(spark, dir).as[(Long, Long, String, Long, Seq[Long])].collect()
    assert(ways.toSeq == Seq((1L, 6L, "modify", 10010L, Seq(1L, 2L, 3L))))
    val rels = OscDiff.relations(spark, dir)
      .as[(Long, Long, String, Long, Map[String, String], Seq[(Long, Int, String)])]
      .collect().sortBy(_._1)
    assert(rels.length == 2)
    val (s1, _, a1, id1, tags1, members1) = rels(0)
    assert((s1, a1, id1) == ((1L, "create", 990L)))
    assert(tags1("name") == "l'étang <est>", "escaped tag value survives the XML round trip")
    assert(tags1("name:nl") == "de vijver", "prefix-key tag pair decodes")
    assert(members1 == Seq((910001L, 0, "admin_centre"), (10010L, 1, "outer")))
    val (s2, _, a2, id2, tags2, members2) = rels(1)
    assert((s2, a2, id2, tags2, members2) == ((2L, "delete", 990L, Map.empty, Nil)))
  }

  test("applyNodes: last-writer-wins remove/upsert equals sequential application") {
    val dir = writeFixture()
    val base = Fixtures.nodesDf(spark).select("id", "lat", "lon")
    val applied = OscDiff.applyNodes(base, OscDiff.nodes(spark, dir))
      .as[(Long, Double, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val ns = Fixtures.osm._1.sortBy(_.id)
    // the 5 modified nodes carry their new coordinates
    ns.take(5).foreach { n =>
      assert(applied(n.id) == ((n.lat + 0.25, n.lon - 0.125)), s"node ${n.id}")
    }
    // untouched nodes unchanged
    val touched = ns.take(5).map(_.id).toSet + 100999L
    ns.filterNot(n => touched(n.id)).foreach { n =>
      assert(applied(n.id) == ((n.lat, n.lon)), s"node ${n.id} should be untouched")
    }
    assert(!applied.contains(100999L), "deleted existing node gone")
    assert(applied(910001L) == ((11.125, 21.25)), "seq-2 modify wins over seq-1 create")
    assert(!applied.contains(910002L), "cross-sequence created-then-deleted node gone")
    assert(!applied.contains(910003L),
      "SAME-sequence create-then-delete: the later ord must win within one file")
    assert(applied.size == ns.length - 1 + 1) // -100999, +910001; 910002/3 never land
  }

  test("stray non-sequence .osc.gz fails loudly by filename") {
    val dir = writeFixture()
    Files.write(java.nio.file.Paths.get(dir, "part-0.osc.gz"), Array[Byte](1, 2, 3))
    val err = intercept[IllegalArgumentException](OscDiff.nodes(spark, dir))
    assert(err.getMessage.contains("part-0.osc.gz"))
  }

  test("missing sequence directory fails loudly") {
    val empty = tempDir("osc_empty").toString
    val err = intercept[IllegalArgumentException](OscDiff.nodes(spark, empty))
    assert(err.getMessage.contains("no .osc.gz"))
  }
}
