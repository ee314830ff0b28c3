package graft.operators

import org.apache.spark.sql.execution.{GenerateExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.locationtech.jts.algorithm.locate.SimplePointInAreaLocator
import org.locationtech.jts.geom.{Coordinate, Location, Polygon}

import graft.SparkTestBase
import graft.cells.Cell
import graft.geom.Jts
import graft.sources.Fixtures

/** The fused broadcast-index probe (`st_pip_match` in
  * `PipJoin.matchesIndexed`): adversarial points checked against the
  * Catalyst join and brute-force JTS, and the plan shape that makes it
  * one codegen'd pass.
  */
class PipMatchSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  lazy val polys = Ingest.polygons(spark, Fixtures.nodesDf(spark), Fixtures.waysDf(spark),
    Fixtures.relationsDf(spark), Fixtures.blacklist).cache()
  lazy val covers = Ingest.cellCovers(polys).cache()

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, String, Long)] =
    df.select("url", "layer", "relId").as[(String, String, Long)].collect().toSeq.sorted

  test("matchesIndexed == matches == brute-force JTS on vertices, edge midpoints, cell corners and random points") {
    val geoms = polys.select("relId", "wkb").as[(Long, Array[Byte])].collect()
      .map { case (id, wkb) => id -> Jts.fromWkb(wkb) }.toMap
    // every ring's vertices and edge midpoints, holes included
    val ringPts = geoms.values.toSeq.flatMap { g =>
      (0 until g.getNumGeometries).flatMap { k =>
        val p = g.getGeometryN(k).asInstanceOf[Polygon]
        (p.getExteriorRing +: (0 until p.getNumInteriorRing).map(p.getInteriorRingN))
          .flatMap { r =>
            val cs = r.getCoordinates
            cs.map(c => (c.x, c.y)) ++
              cs.sliding(2).map { case Array(a, b) => ((a.x + b.x) / 2, (a.y + b.y) / 2) }
          }
      }
    }
    val coverCells = covers.select("cellId").as[Long].collect().distinct
    val cornerPts = coverCells.toSeq.flatMap { c =>
      val (x0, y0, x1, y1) = Cell.bounds(c)
      Seq((x0, y0), (x0, y1), (x1, y0), (x1, y1))
    }
    val rnd = new scala.util.Random(20261017L)
    val randomPts = Seq.fill(10000) {
      if (rnd.nextDouble() < 0.6) {
        val (_, cx, cy) = Fixtures.cities(rnd.nextInt(Fixtures.cities.length))
        (cx + (rnd.nextDouble() - 0.5) * 12.0, cy + (rnd.nextDouble() - 0.5) * 12.0)
      } else (rnd.nextDouble() * 360.0 - 180.0, rnd.nextDouble() * 180.0 - 90.0)
    }
    val pts = (ringPts ++ cornerPts ++ randomPts).zipWithIndex
      .map { case ((lon, lat), i) => (s"p$i", lon, lat) }
    val pages = pts.toDF("url", "lon", "lat")

    // brute force through the index semantics: only covered polygons are
    // findable (lookup.go:183-189); the un-indexed JTS locator refines
    val covered = covers.select("relId", "layer").distinct().as[(Long, String)].collect()
    val expected = (for {
      (url, lon, lat) <- pts
      (relId, layer) <- covered
      if SimplePointInAreaLocator.locate(new Coordinate(lon, lat), geoms(relId)) == Location.INTERIOR
    } yield (url, layer, relId)).sorted

    val viaJoin = rows(PipJoin.matches(pages, covers, polys))
    val viaIndex = rows(PipJoin.matchesIndexed(pages, covers, polys))
    assert(viaIndex == viaJoin,
      s"index-only ${viaIndex.diff(viaJoin).take(5)} join-only ${viaJoin.diff(viaIndex).take(5)}")
    assert(viaJoin == expected,
      s"join-only ${viaJoin.diff(expected).take(5)} brute-only ${expected.diff(viaJoin).take(5)}")
    assert(expected.map(_._3).distinct.length >= 10, "most fixture polygons must be hit")
  }

  test("matchesIndexed is one codegen'd Generate over st_pip_match, with no broadcast join") {
    val m = PipJoin.matchesIndexed(Fixtures.pages(spark, sf0001), covers, polys)
    assert(m.collect().nonEmpty)
    val plan = m.queryExecution.executedPlan
    // the nodes compiled into one whole-stage stage: InputAdapter is the
    // boundary where a stage reads rows from a non-codegen child
    def stage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case other => other +: other.children.flatMap(stage)
    }
    val fused = collect(plan) { case w: WholeStageCodegenExec => stage(w.child) }.flatten
      .collect { case g: GenerateExec if g.generator.isInstanceOf[PipMatch] => g }
    assert(fused.nonEmpty, s"no codegen'd st_pip_match Generate in\n$plan")
    assert(collect(plan) { case j: BroadcastHashJoinExec => j }.isEmpty, plan.toString)
    assert(collect(plan) { case b: BroadcastExchangeExec => b }.isEmpty, plan.toString)
  }
}
