package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.graft.TestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{AppendColumnsExec, MapGroupsExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions.expr

import graft.SparkTestBase
import graft.geom.{Jts, PolygonAssembly, RingAssembly}
import graft.sources.Fixtures

/** `Ingest.polygons` against a driver-side reference assembler, row for
  * row and WKB byte for byte, on seeded OSM-shaped inputs: relations with
  * 1–3 outer rings and inner rings, each ring split into 1–4 ways of
  * random direction, members in random order, and every defect the
  * assembly must drop a relation for. Also pins the fixture plan: one
  * `relId` exchange feeds the assembly, ways and nodes are broadcast, no
  * typed `groupByKey`, and `cache().count()` runs at most 6 jobs.
  */
class IngestAssemblySpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  import spark.implicits._
  import IngestAssemblySpec._

  private def ingest(w: World): DataFrame =
    Ingest.polygons(spark, w.nodes.toDF("id", "lat", "lon"), w.ways.toDF("id", "refs"),
      w.rels.map(r => (r.id, r.tags, r.members)).toDF("id", "tags", "members")
        .withColumn("members", expr("transform(members, m -> struct(m._1 AS id, m._2 AS type, m._3 AS role))")),
      w.blacklist)

  private def rows(df: DataFrame): Seq[(Long, Int, String, String, Seq[Byte])] =
    df.select("relId", "adminLevel", "layer", "name", "wkb")
      .as[(Long, Int, String, String, Array[Byte])].collect()
      .map(r => (r._1, r._2, r._3, r._4, r._5.toSeq)).sortBy(_._1).toSeq

  for (seed <- Seq(11L, 12L, 13L)) test(s"polygons equal the reference assembler, seed $seed") {
    val w = world(seed, 160)
    val expected = reference(w)
    // both outcomes and every defect are present
    assert(expected.size > w.rels.size / 3 && expected.size < w.rels.size, expected.size)
    Defect.values.foreach(d => assert(w.defects.count(_._2 == d) >= 5, d))
    // a missing way drops out of its relation silently (storage.go:138-141):
    // the relation survives when the way was a whole ring
    val dropped = w.defects.collect { case (id, d) if d != Defect.None && d != Defect.MissingWay => id }.toSet
    assert(dropped.intersect(expected.map(_._1).toSet).isEmpty, "a relation with a defect assembled")
    assert(rows(ingest(w)) == expected)
    // the same rows from the plan a large input gets: no broadcast joins
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try assert(rows(ingest(w)) == expected)
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("fixture plan: one relId exchange, ways and nodes broadcast, at most 6 jobs") {
    def fixture() = Ingest.polygons(spark, Fixtures.nodesDf(spark), Fixtures.waysDf(spark),
      Fixtures.relationsDf(spark), Fixtures.blacklist)
    // another suite may hold the fixture polygons cached; drop that entry
    // so the plan below is run, not read from the cache
    fixture().unpersist(blocking = true)

    val q = fixture()
    assert(q.count() == 18)
    val plan = q.queryExecution.executedPlan
    val shuffles = collect(plan) { case e: ShuffleExchangeExec => e }
    assert(shuffles.length == 1, plan.toString)
    val keys = shuffles.head.outputPartitioning.asInstanceOf[HashPartitioning].expressions
    assert(keys.flatMap(_.references.map(_.name)).contains("relId"), plan.toString)
    val broadcast = collect(plan) { case b: BroadcastExchangeExec => b.child.output.map(_.name) }
    assert(broadcast.map(_.head).sorted == Seq("nodeId", "wayId"), plan.toString)
    assert(collect(plan) { case p @ (_: AppendColumnsExec | _: MapGroupsExec) => p }.isEmpty, plan.toString)

    val cached = fixture().cache()
    try {
      val sc = spark.sparkContext
      val jobs = new AtomicInteger()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      }
      TestBridge.drainListenerBus(sc)
      sc.addSparkListener(listener)
      try {
        assert(cached.count() == 18)
        TestBridge.drainListenerBus(sc)
      } finally sc.removeSparkListener(listener)
      assert(jobs.get() <= 6, jobs.get())
    } finally cached.unpersist()
  }
}

object IngestAssemblySpec {

  object Defect extends Enumeration {
    val None, MissingNode, RepeatedNode, MissingWay, UnclosedRing, OffLayer, Blacklisted, NoWayMembers = Value
  }

  case class Rel(id: Long, tags: Map[String, String], members: Seq[(Long, Int, String)])

  /** OSM-shaped tables, the blacklist, and the defect each relation got. */
  case class World(nodes: Seq[(Long, Double, Double)], ways: Seq[(Long, Seq[Long])], rels: Seq[Rel],
                   blacklist: Seq[Long], defects: Seq[(Long, Defect.Value)])

  /** `n` relations on a grid of 10° cells, one per cell. Relation `i` gets
    * 1–3 outer rings side by side and, in its first outer ring, up to two
    * inner rings; every ring is a jittered closed polygon split into 1–4
    * ways, each way reversed at random, and the relation's members are
    * shuffled together with a node member and a non-ring way member. A
    * third of the relations carry one defect each, in turn.
    */
  def world(seed: Long, n: Int): World = {
    val rnd = new Random(seed)
    val nodes = ArrayBuffer[(Long, Double, Double)]()
    val ways = ArrayBuffer[(Long, Seq[Long])]()
    val rels = ArrayBuffer[Rel]()
    val blacklist = ArrayBuffer[Long]()
    val defects = ArrayBuffer[(Long, Defect.Value)]()
    var nextNode = 1L
    var nextWay = 1L

    /** A closed ring of node ids around (cx, cy); returns its ways. */
    def ring(cx: Double, cy: Double, r: Double): Seq[(Long, Seq[Long])] = {
      val k = 5 + rnd.nextInt(8)
      val ids = (0 until k).map { j =>
        val a = 2 * math.Pi * j / k
        val rr = r * (0.7 + 0.3 * rnd.nextDouble())
        val id = nextNode; nextNode += 1
        nodes += ((id, cy + rr * math.sin(a), cx + rr * math.cos(a)))
        id
      }
      val closed = ids :+ ids.head
      val parts = 1 + rnd.nextInt(4)
      val cuts = (0 +: rnd.shuffle((1 until closed.length - 1).toList).take(parts - 1).sorted :+ (closed.length - 1)).distinct
      cuts.zip(cuts.tail).map { case (a, b) =>
        val refs = closed.slice(a, b + 1)
        val id = nextWay; nextWay += 1
        val w = (id, if (rnd.nextBoolean()) refs.reverse else refs)
        ways += w
        w
      }
    }

    val kinds = Defect.values.toSeq.filter(_ != Defect.None)
    for (i <- 0 until n) {
      val id = 1000L + i
      val (cx, cy) = (-170.0 + 10 * (i % 34), -80.0 + 10 * (i / 34))
      val defect = if (i % 3 == 0) kinds((i / 3) % kinds.size) else Defect.None
      val outers = (0 until 1 + rnd.nextInt(3)).map(k => ring(cx + 3 * k, cy, 1.2))
      val inners = (0 until rnd.nextInt(3)).map(k => ring(cx - 0.3 + 0.6 * k, cy, 0.2))
      var members = outers.flatten.map(w => (w._1, 1, "outer")) ++ inners.flatten.map(w => (w._1, 1, "inner")) ++
        Seq((outers.head.head._2.head, 0, "admin_centre"), (nextWay + 999999L, 1, "subarea"))
      val level = Seq(2, 4, 6, 8)(rnd.nextInt(4))
      var tags = if (rnd.nextInt(8) == 0) Map("natural" -> "water") else Map("admin_level" -> level.toString)
      if (rnd.nextInt(6) != 0) tags += ("name" -> s"rel_$id")
      val wayOf = (outers ++ inners).flatten
      defect match {
        case Defect.MissingNode =>
          val node = rnd.shuffle(wayOf.flatMap(_._2)).head
          nodes.filterInPlace(_._1 != node)
        case Defect.RepeatedNode =>
          val node = rnd.shuffle(wayOf.flatMap(_._2)).head
          nodes += nodes.find(_._1 == node).get
        case Defect.MissingWay =>
          val way = wayOf(rnd.nextInt(wayOf.size))._1
          ways.filterInPlace(_._1 != way)
        case Defect.UnclosedRing =>
          // the ring's last way loses its end node, so the ring cannot close
          val way = outers.head.last._1
          val at = ways.indexWhere(_._1 == way)
          ways(at) = (way, ways(at)._2.dropRight(1))
        case Defect.OffLayer => tags = Map("admin_level" -> Seq("3", "5", "7", "9")(rnd.nextInt(4)))
        case Defect.Blacklisted => blacklist += id
        case Defect.NoWayMembers => members = members.filter(_._2 != 1)
        case _ =>
      }
      rels += Rel(id, tags, rnd.shuffle(members))
      defects += (id -> defect)
    }
    // a relation with no accepted tag is never assembled
    rels += Rel(999999L, Map("name" -> "untagged"), rels.head.members)
    World(nodes.toSeq, ways.toSeq, rels.toSeq, blacklist.toSeq, defects.toSeq)
  }

  /** The reference's relation assembly on driver collections
    * (storage.go:128-201, geometries.go:136-140): accepted relations in a
    * layer; their outer/inner way members in member order; every ref
    * exactly one node row; rings merged per role; polygon assembly with
    * holes; a non-empty result repaired with buffer(0).
    */
  def reference(w: World): Seq[(Long, Int, String, String, Seq[Byte])] = {
    val nodeRows = w.nodes.groupBy(_._1)
    val wayRows = w.ways.groupBy(_._1)
    val layerOf = Ingest.layerAdminLevels.flatMap { case (l, lvls) => lvls.map(_ -> l) }.toMap
    w.rels.sortBy(_.id).flatMap { r =>
      val accepted = (r.tags.contains("admin_level") || r.tags.get("natural").contains("water")) &&
        !w.blacklist.contains(r.id)
      val adminLevel = r.tags.get("admin_level").map(_.toInt).getOrElse(0)
      val layer = if (r.tags.get("natural").contains("water")) Some("water") else layerOf.get(adminLevel)
      val members = r.members.filter(m => m._2 == 1 && (m._3 == "outer" || m._3 == "inner"))
        .flatMap(m => wayRows.getOrElse(m._1, Nil).map(w => (m._3, w._2)))
      val complete = members.forall(_._2.forall(id => nodeRows.get(id).exists(_.size == 1)))
      if (!accepted || layer.isEmpty || members.isEmpty || !complete) None
      else {
        def rings(role: String) = RingAssembly.reduce(members.filter(_._1 == role).map(_._2))
          .map(_.map(id => (nodeRows(id).head._3, nodeRows(id).head._2)).toIndexedSeq)
        PolygonAssembly.makePolygons(rings("outer"), rings("inner"))
          .filter(!_.isEmpty)
          .map(g => (r.id, adminLevel, layer.get, r.tags.get("name").orNull, Jts.toWkb(g.buffer(0)).toSeq))
      }
    }
  }
}
