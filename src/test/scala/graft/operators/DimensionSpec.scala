package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{expr, max, min}

import graft.SparkTestBase
import graft.cells.{Cell, Coverer}
import graft.sources.Fixtures

/** The driver-side cover statistics of [[Dimension.Covers]] against the
  * Spark SQL they replace, on the fixture covers, an empty cover table, a
  * single-level cover, a cover whose percentile interpolates, and seeded
  * random covers with level-3 cells.
  */
class DimensionSpec extends SparkTestBase {
  import spark.implicits._

  // the replaced Spark expressions, kept as the reference
  private val levelExpr = "cast(round(30 - log2(cellId & -cellId) / 2) as int)"

  private def sparkBand(covers: DataFrame): (Int, Int) = {
    val row = covers.select(expr(levelExpr).as("lvl")).agg(min("lvl"), max("lvl")).head()
    if (row.isNullAt(0)) (Coverer.MinLevel, Coverer.MinLevel) else (row.getInt(0), row.getInt(1))
  }

  private def sparkJoinLevel(covers: DataFrame): Int = {
    val row = covers.select(expr(levelExpr).as("lvl")).agg(expr("percentile(lvl, 0.75)")).head()
    if (row.isNullAt(0)) Coverer.MinLevel
    else math.max(Coverer.MinLevel, math.min(12, math.round(row.getDouble(0)).toInt))
  }

  private def sparkJoinCells(covers: DataFrame, jl: Int): Long =
    PipJoin.coverJoinCells(covers, jl).select("joinCell").distinct().count()

  private def coverDf(rows: Seq[(Long, String, Long)]): DataFrame = rows.toDF("relId", "layer", "cellId")

  /** Every statistic equal to its Spark reference; the join cells at the
    * chosen join level and at `levels`. */
  private def check(covers: DataFrame, levels: Int*): Dimension.Covers = {
    val stats = Dimension.covers(covers)
    assert(stats.levelBand == sparkBand(covers))
    assert(stats.joinLevel == sparkJoinLevel(covers))
    (stats.joinLevel +: levels).distinct.foreach { jl =>
      assert(stats.joinCells(jl) == sparkJoinCells(covers, jl), s"join level $jl")
    }
    stats
  }

  test("fixture covers: level band, join level and join cells equal the Spark aggregates") {
    val polys = Ingest.polygons(spark, Fixtures.nodesDf(spark), Fixtures.waysDf(spark),
      Fixtures.relationsDf(spark), Fixtures.blacklist)
    val rows = Ingest.cellCovers(polys).select("relId", "layer", "cellId").as[(Long, String, Long)].collect()
    assert(rows.nonEmpty)
    check(coverDf(rows.toSeq), 8, 11)
  }

  test("an empty cover table: the narrowest band and MinLevel, no join cell") {
    val stats = check(coverDf(Nil), 8)
    assert(stats.levelBand == (Coverer.MinLevel, Coverer.MinLevel) && stats.joinLevel == Coverer.MinLevel)
    assert(stats.joinCells(8) == 0)
  }

  test("a single-level cover: a one-level band, that level joins") {
    val rows = Seq((4.35, 50.85), (139.7, 35.7), (-74.0, 40.7), (151.2, -33.9), (4.4, 50.9))
      .zipWithIndex.map { case ((lon, lat), i) => (i.toLong, "cities", Cell.cellAt(lon, lat, 7)) }
    val stats = check(coverDf(rows), 5, 9)
    assert(stats.levelBand == (7, 7) && stats.joinLevel == 7)
  }

  test("a cover whose 75th percentile falls between two ranks: 8.5 rounds up") {
    val rows = Seq(4, 6, 8, 10).zipWithIndex.map { case (l, i) => (i.toLong, "regions", Cell.cellAt(4.35, 50.85, l)) }
    assert(check(coverDf(rows), 10).joinLevel == 9)
  }

  test("seeded random covers with level-3 cells, at join level 12") {
    val rnd = new scala.util.Random(1601)
    def cell(level: Int) = Cell.cellAt(rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 180 - 90, level)
    val coarse = Seq(cell(3), cell(3))
    // levels 5-12: the 75th percentile is interpolated, not clamped
    val random = Seq.fill(80)(cell(5 + rnd.nextInt(8)))
    // overlapping cells, as a multi-layer cover holds: a coarse cell's
    // children, a cell's children, another's level-5 ancestor, a repeat
    val nested = Cell.children(coarse.head).toSeq ++ Cell.children(random.head).toSeq ++
      Seq(Cell.parent(random(1), 5), random(2))
    val rows = (coarse ++ random ++ nested).zipWithIndex.map { case (c, i) =>
      (i.toLong % 40, if (i % 3 == 0) "countries" else "cities", c)
    }
    val stats = check(coverDf(rows), 3, 12)
    assert(stats.levelBand._1 == 3)
  }
}
