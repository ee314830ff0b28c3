package graft.operators

import java.nio.file.{Files, Paths}
import java.util.Base64
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.TestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{GenerateExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions.{broadcast, col, lit, raise_error, rand, udf, when}
import org.locationtech.jts.algorithm.locate.SimplePointInAreaLocator
import org.locationtech.jts.geom.{Coordinate, Envelope, Location, Polygon}

import graft.{SparkEntry, SparkTestBase}
import graft.cells.{Cell, Coverer}
import graft.geom.Jts
import graft.sources.Fixtures

/** The fused broadcast-index probe (`st_pip_match` in
  * `PipJoin.matchesIndexed`): adversarial points checked against the
  * Catalyst join and brute-force JTS, the plan shape that makes it one
  * codegen'd pass, the flat index's invariants, the domain clamp, the
  * one-build-per-dimension-version memo and its plan key, the jobs of a
  * warm PIP query build, and the partitioned plan's polygon-free planning.
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
    // the corners of every interior piece of the index, and the doubles
    // one ulp either side: the points where the interior shortcut starts
    val (_, pieceCells, pieceEntries) = PipIndex.pieces(
      covers.select("relId", "layer", "cellId").as[(Long, String, Long)].collect(),
      polys.select("relId", "wkb").as[(Long, Array[Byte])].collect().toMap)
    val interiorCells = pieceCells.indices.filter(i => (pieceEntries(i) & 1) == 1).map(pieceCells)
    assert(interiorCells.nonEmpty, "the fixture index must have interior pieces")
    val interiorCornerPts = interiorCells.flatMap { c =>
      val (x0, y0, x1, y1) = Cell.bounds(c)
      for ((x, y) <- Seq((x0, y0), (x0, y1), (x1, y0), (x1, y1));
           dx <- Seq(Math.nextDown(x), x, Math.nextUp(x)); dy <- Seq(Math.nextDown(y), y, Math.nextUp(y)))
        yield (dx, dy)
    }
    val rnd = new scala.util.Random(20261017L)
    val randomPts = Seq.fill(10000) {
      if (rnd.nextDouble() < 0.6) {
        val (_, cx, cy) = Fixtures.cities(rnd.nextInt(Fixtures.cities.length))
        (cx + (rnd.nextDouble() - 0.5) * 12.0, cy + (rnd.nextDouble() - 0.5) * 12.0)
      } else (rnd.nextDouble() * 360.0 - 180.0, rnd.nextDouble() * 180.0 - 90.0)
    }
    val pts = (ringPts ++ cornerPts ++ interiorCornerPts ++ randomPts).zipWithIndex
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

  /** Exact covers and WKB of boxes that reach the domain edge: the east
    * edge, the north-west corner and the south pole. */
  private lazy val edgeBoxes: (Array[(Long, String, Long)], Array[(Long, Array[Byte])]) = {
    val boxes = Seq((9001L, (150.0, -30.0, 180.0, 30.0)), (9002L, (-180.0, 60.0, -150.0, 90.0)),
      (9003L, (-40.0, -90.0, 40.0, -70.0)))
    val geoms = boxes.map { case (id, (x0, y0, x1, y1)) =>
      id -> Jts.factory.toGeometry(new Envelope(x0, x1, y0, y1))
    }
    (geoms.flatMap { case (id, g) => Coverer.coverExact(g).map(c => (id, "edge", c)) }.toArray,
      geoms.map { case (id, g) => id -> Jts.toWkb(g) }.toArray)
  }

  test("out-of-domain and NaN points never hit through the edge cell they clamp into") {
    val (coverRows, polyRows) = edgeBoxes
    val idx = PipIndex.of(coverRows, polyRows)
    val odd = Seq(180.5, 181.0, 1e9, -180.5, -200.0, 90.5, -95.0, Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity, Math.nextUp(180.0), Math.nextDown(-180.0))
    val inner = Seq(0.0, 10.0, -10.0, 75.0, 85.0, 89.9, -80.0, -89.9, 160.0, -160.0, 179.9, -179.9)
    val pts = (for (o <- odd; v <- inner) yield Seq((o, v), (v, o))).flatten ++
      (for (a <- odd; b <- odd) yield (a, b))
    def entriesAt(ix: PipIndex, lon: Double, lat: Double): Seq[Int] = {
      val i = java.util.Arrays.binarySearch(ix.starts, Cell.leaf(lon, lat))
      val k = if (i >= 0) i else -i - 2
      if (k < 0) Nil else (ix.offsets(k) until ix.offsets(k + 1)).map(ix.entries)
    }
    // not vacuous: many clamp into cells of the boxes' covers
    assert(pts.count { case (lon, lat) => entriesAt(idx, lon, lat).nonEmpty } >= 20)
    pts.foreach { case (lon, lat) =>
      assert(idx.hits(lon, lat).isEmpty, s"($lon, $lat) hit ${idx.hits(lon, lat).toSeq}")
    }
    // on the domain's edge is in the domain, and on a box's edge is not in it
    val geoms = polyRows.map { case (id, wkb) => id -> Jts.fromWkb(wkb) }.toMap
    val inside = Seq((165.0, 0.0), (-165.0, 75.0), (0.0, -80.0))
    for ((lon, lat) <- Seq((180.0, 0.0), (-180.0, 90.0), (0.0, -90.0)) ++ inside) {
      val want = idx.polys.indices.filter { o =>
        coverRows.exists(c => c._1 == idx.polys(o).relId && Cell.contains(c._3, Cell.leaf(lon, lat))) &&
          SimplePointInAreaLocator.locate(new Coordinate(lon, lat), geoms(idx.polys(o).relId)) == Location.INTERIOR
      }
      assert(idx.hits(lon, lat).toSeq == want, s"($lon, $lat)")
    }
    // the Catalyst join agrees on every point
    val pages = (pts ++ inside).zipWithIndex
      .map { case ((lon, lat), i) => (s"p$i", lon, lat) }.toDF("url", "lon", "lat")
    val coverDf = coverRows.toSeq.toDF("relId", "layer", "cellId")
    val polyDf = polyRows.toSeq.toDF("relId", "wkb")
    val viaIndex = rows(PipJoin.matchesIndexed(pages, coverDf, polyDf))
    assert(viaIndex == rows(PipJoin.matches(pages, coverDf, polyDf)))
    assert(viaIndex.map(_._3).sorted == Seq(9001L, 9002L, 9003L))
    // no build puts an interior entry in an edge cell (its expanded rect
    // leaves the domain), so pin the guard in `hits` on a hand-made index
    // whose one interior entry spans the whole curve
    val world = Cell.fromHilbert(0L, 0)
    val (boxId, boxWkb) = polyRows.head
    val allInterior = PipIndex(Array(PipIndex.Poly(boxId, "edge", boxWkb)),
      Array(Cell.rangeMin(world)), Array(0, 1), Array(1))
    assert(allInterior.hits(0.0, 0.0).toSeq == Seq(0), "in the domain the interior entry is a hit unrefined")
    val outside = pts.filterNot { case (lon, lat) => lon >= -180 && lon <= 180 && lat >= -90 && lat <= 90 }
    assert(outside.length > 100)
    outside.foreach { case (lon, lat) =>
      assert(allInterior.hits(lon, lat).isEmpty, s"($lon, $lat) hit through the clamp")
    }
  }

  test("index invariant: every interior entry lies in an interior piece inside its polygon's cover, " +
    "whose expanded rect the polygon contains properly") {
    val coverRows = covers.select("relId", "layer", "cellId").as[(Long, String, Long)].collect() ++ edgeBoxes._1
    val polyMap = polys.select("relId", "wkb").as[(Long, Array[Byte])].collect().toMap ++ edgeBoxes._2
    val (piecePolys, pieceCells, pieceEntries) = PipIndex.pieces(coverRows, polyMap)
    val idx = PipIndex.build(coverRows, polyMap)
    val coverOf = coverRows.groupBy(c => (c._1, c._2)).map { case (k, cs) => k -> cs.map(_._3) }
    val lonW = 360.0 / (1L << Cell.MaxLevel)
    val latW = 180.0 / (1L << Cell.MaxLevel)
    val interior = pieceCells.indices.filter(i => (pieceEntries(i) & 1) == 1)
    assert(interior.length >= 100)
    interior.foreach { i =>
      val c = pieceCells(i)
      val p = piecePolys(pieceEntries(i) >>> 1)
      assert(coverOf((p.relId, p.layer)).exists(Cell.contains(_, c)), s"piece $c outside the cover of ${p.relId}")
      val (x0, y0, x1, y1) = Cell.bounds(c)
      val rect = Jts.factory.toGeometry(new Envelope(x0 - lonW, x1 + lonW, y0 - latW, y1 + latW))
      // containsProperly through the unprepared relate matrix
      assert(Jts.fromWkb(p.wkb).relate(rect, "T**FF*FF*"), s"piece $c of ${p.relId}")
    }
    // the flat index: each segment's interior entries come from pieces
    // that hold every leaf of the segment (merged siblings span several)
    val byEntry = pieceCells.indices.groupBy(pieceEntries)
      .map { case (e, is) => e -> is.map(pieceCells).sortBy(Cell.rangeMin) }
    for (k <- 0 until idx.starts.length - 1; e <- idx.offsets(k) until idx.offsets(k + 1)
         if (idx.entries(e) & 1) == 1) {
      val covered = byEntry(idx.entries(e)).foldLeft(idx.starts(k)) { (at, c) =>
        if (Cell.rangeMin(c) <= at && at <= Cell.rangeMax(c)) Cell.rangeMax(c) + 2 else at
      }
      assert(covered >= idx.starts(k + 1), s"segment $k")
    }
    assert(idx.offsets(idx.starts.length - 1) == idx.offsets(idx.starts.length), "the last segment is empty")
    for (k <- idx.starts.indices) {
      val es = (idx.offsets(k) until idx.offsets(k + 1)).map(idx.entries)
      assert(es == es.sorted && es.map(_ >>> 1).distinct.length == es.length, s"segment $k entries $es")
      if (k > 0) assert(idx.starts(k - 1) < idx.starts(k) &&
        es != (idx.offsets(k - 1) until idx.offsets(k)).map(idx.entries), s"segment $k repeats segment ${k - 1}")
    }
    assert(idx.polys.map(p => (p.relId, p.layer)).toSeq == piecePolys.map(p => (p.relId, p.layer)).toSeq)
  }

  test("matchesIndexed builds one index per dimension version") {
    def broadcastOf(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.analyzed.collectFirst {
        case g: org.apache.spark.sql.catalyst.plans.logical.Generate if g.generator.isInstanceOf[PipMatch] =>
          g.generator.asInstanceOf[PipMatch].bc.id
      }.get
    val pages = Seq(("brussels", 4.35, 50.85), ("tokyo", 139.7, 35.7), ("sea", -30.0, 0.0))
      .toDF("url", "lon", "lat")
    val before = PipJoin.matchesIndexed(pages, covers, polys)
    // the same dims, another DataFrame of them: a memo hit
    val planned = PipJoin.matchesIndexed(pages, covers, polys.select("*"))
    assert(broadcastOf(planned) == broadcastOf(before))
    val rowsBefore = rows(before)
    assert(rowsBefore.exists(_._1 == "brussels"))
    // the polygons change: Brussels' relations move away, so a stale
    // index would still match Brussels
    val brussels = rowsBefore.filter(_._1 == "brussels").map(_._3).toSet
    val moved = polys.withColumn("wkb", when(col("relId").isin(brussels.toSeq: _*),
      lit(Jts.toWkb(Jts.factory.toGeometry(new Envelope(-60, -59, -60, -59)))))
      .otherwise(col("wkb")))
    val after = PipJoin.matchesIndexed(pages, covers, moved)
    assert(broadcastOf(after) != broadcastOf(before))
    assert(rows(after) == rowsBefore.filterNot(_._1 == "brussels"))
    // plans made before the change still run, on their own index, also
    // one first run only now
    assert(rows(before) == rowsBefore)
    assert(rows(planned) == rowsBefore)
    // and the original dims build again, matching as before
    assert(rows(PipJoin.matchesIndexed(pages, covers, polys)) == rowsBefore)
  }

  private def pipBroadcast(df: DataFrame): Long =
    df.queryExecution.analyzed.collectFirst {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate if g.generator.isInstanceOf[PipMatch] =>
        g.generator.asInstanceOf[PipMatch].bc.id
    }.get

  /** `f`'s result and the number of Spark jobs started while it ran. */
  private def jobsDuring[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    TestBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val a = f
      TestBridge.drainListenerBus(sc)
      (a, jobs.get())
    } finally sc.removeSparkListener(listener)
  }

  private lazy val keyPages = Seq(("brussels", 4.35, 50.85), ("tokyo", 139.7, 35.7), ("sea", -30.0, 0.0))
    .toDF("url", "lon", "lat")

  /** The fixture matches of [[keyPages]], and the polygons with every
    * relation that holds Brussels moved to a box in the South Atlantic. */
  private lazy val (keyRows, movedPolys) = {
    val base = rows(PipJoin.matchesIndexed(keyPages, covers, polys))
    val brussels = base.filter(_._1 == "brussels").map(_._3)
    assert(brussels.nonEmpty)
    (base, polys.withColumn("wkb", when(col("relId").isin(brussels: _*),
      lit(Jts.toWkb(Jts.factory.toGeometry(new Envelope(-60, -59, -60, -59))))).otherwise(col("wkb"))))
  }

  test("a warm matchesIndexed over cached dims plans with no Spark job and the same broadcast") {
    val cold = PipJoin.matchesIndexed(keyPages, covers, polys)
    val (warm, jobs) = jobsDuring(PipJoin.matchesIndexed(keyPages, covers, polys.select("*")))
    assert(jobs == 0)
    assert(pipBroadcast(warm) == pipBroadcast(cold))
    assert(rows(warm) == keyRows)
  }

  /** A file of polygons as `relId<TAB>base64(wkb)` lines, holding `polys`'
    * rows; `f` gets its path and a function that rewrites it. */
  private def withPolyFile(f: (String, DataFrame => Unit) => Unit): Unit = {
    val src = tempDir("pip_dims").resolve("polys.tsv")
    def write(df: DataFrame): Unit = Files.write(src, df.select("relId", "wkb").as[(Long, Array[Byte])]
      .collect().map { case (id, wkb) => s"$id\t${Base64.getEncoder.encodeToString(wkb)}" }.toSeq.asJava)
    write(polys)
    f(src.toString, write)
  }

  test("the plan key misses on a re-cache over a changed source") {
    // polygons read from a file at compute time: unpersist + cache of the
    // same DataFrame gives the same canonical plan over new rows, and a
    // cache entry `==` to the old one
    val moved = movedPolys // its matchesIndexed call must not run between the two below
    withPolyFile { (path, write) =>
      val fromFile = spark.range(1).as[Long].flatMap(_ => PipMatchSpec.readPolys(path)).toDF("relId", "wkb").cache()
      try {
        val before = PipJoin.matchesIndexed(keyPages, covers, fromFile)
        assert(rows(before) == keyRows)
        write(moved)
        fromFile.unpersist(blocking = true)
        fromFile.cache()
        val after = PipJoin.matchesIndexed(keyPages, covers, fromFile)
        assert(pipBroadcast(after) != pipBroadcast(before))
        assert(rows(after) == keyRows.filterNot(_._1 == "brussels"))
      } finally fromFile.unpersist()
    }
  }

  test("dims that run user code over a file take the content path: one job per call, a rebuild per change") {
    val moved = movedPolys
    val one = spark.range(1).cache()
    val variants = Seq[String => DataFrame](
      // uncached: a range leaf under a typed closure
      path => spark.range(1).as[Long].flatMap(_ => PipMatchSpec.readPolys(path)).toDF("relId", "wkb"),
      // a typed closure over a cached relation
      path => one.as[Long].flatMap(_ => PipMatchSpec.readPolys(path)).toDF("relId", "wkb"),
      // a UDF over the cached polygons
      path => {
        val wkbOf = udf((id: Long) => PipMatchSpec.readPolys(path).toMap.apply(id))
        polys.select(col("relId"), wkbOf(col("relId")).as("wkb"))
      })
    try variants.foreach { dims =>
      withPolyFile { (path, write) =>
        val df = dims(path)
        val first = PipJoin.matchesIndexed(keyPages, covers, df)
        val (again, jobs) = jobsDuring(PipJoin.matchesIndexed(keyPages, covers, df))
        assert(jobs == 1 && pipBroadcast(again) == pipBroadcast(first))
        assert(rows(again) == keyRows)
        write(moved)
        val after = PipJoin.matchesIndexed(keyPages, covers, df)
        assert(pipBroadcast(after) != pipBroadcast(first))
        assert(rows(after) == keyRows.filterNot(_._1 == "brussels"))
      }
    } finally one.unpersist()
  }

  test("dims without a plan key take the content path: a collect per call, a rebuild per change") {
    val noisy = polys.withColumn("noise", rand())
    val first = PipJoin.matchesIndexed(keyPages, covers, noisy)
    val (again, jobs) = jobsDuring(PipJoin.matchesIndexed(keyPages, covers, noisy))
    assert(jobs == 1 && pipBroadcast(again) == pipBroadcast(first))
    assert(rows(again) == keyRows)

    // parquet-backed, uncached, rewritten in place
    val dir = tempDir("pip_dims").resolve("polys").toString
    polys.select("relId", "wkb").write.parquet(dir)
    val onDisk = spark.read.parquet(dir)
    val fromParquet = PipJoin.matchesIndexed(keyPages, covers, onDisk)
    val (same, parquetJobs) = jobsDuring(PipJoin.matchesIndexed(keyPages, covers, onDisk))
    assert(parquetJobs == 1 && pipBroadcast(same) == pipBroadcast(fromParquet))
    movedPolys.select("relId", "wkb").write.mode("overwrite").parquet(dir)
    val rewritten = PipJoin.matchesIndexed(keyPages, covers, spark.read.parquet(dir))
    assert(pipBroadcast(rewritten) != pipBroadcast(fromParquet))
    assert(rows(rewritten) == keyRows.filterNot(_._1 == "brussels"))

    // a subset picked by a left-semi join on a local id list, keyed by
    // content, so the same list hits and another misses
    val ids = polys.select("relId").as[Long].collect().sorted.toSeq
    def only(ids: Seq[Long]): (DataFrame, DataFrame) = {
      val keep = broadcast(ids.toDF("relId"))
      (covers.join(keep, Seq("relId"), "left_semi"), polys.join(keep, Seq("relId"), "left_semi"))
    }
    val (half, rest) = ids.splitAt(ids.length / 2)
    val (halfCovers, halfPolys) = only(half)
    val firstHalf = PipJoin.matchesIndexed(keyPages, halfCovers, halfPolys)
    val (againHalf, halfJobs) = jobsDuring { val (c, p) = only(half); PipJoin.matchesIndexed(keyPages, c, p) }
    // the collect, and the broadcast of the id list it joins
    assert(halfJobs == 2 && pipBroadcast(againHalf) == pipBroadcast(firstHalf))
    val (restCovers, restPolys) = only(rest)
    val other = PipJoin.matchesIndexed(keyPages, restCovers, restPolys)
    assert(pipBroadcast(other) != pipBroadcast(firstHalf))
    assert(rows(firstHalf) == keyRows.filter(r => half.contains(r._3)))
    assert(rows(other) == keyRows.filter(r => rest.contains(r._3)))
  }

  test("building a warm q_pip_* or q_suggestions DataFrame runs no Spark job") {
    // the cover statistics and the index come from the memoized dimension
    // handle; the queries share one handle, so each is warm after its own
    // first build whatever ran between
    val names = Seq("q_pip_spatial", "q_pip_partitioned", "q_pip_hybrid", "q_pip_per_layer",
      "q_pip_missing", "q_suggestions")
    names.foreach(n => SparkEntry.queries(n)(spark, sf0001))
    names.foreach { n =>
      val (_, jobs) = jobsDuring(SparkEntry.queries(n)(spark, sf0001))
      assert(jobs == 0, n)
    }
  }

  test("matchesPartitioned plans from the covers alone and collects no polygon WKB") {
    // every polygon's wkb fails when computed; covers without a plan key
    // are collected, the cover half's one job
    val poisoned = polys.withColumn("wkb", raise_error(lit("wkb computed")).cast("binary"))
    val keyless = covers.withColumn("noise", rand())
    val (m, jobs) = jobsDuring(PipJoin.matchesPartitioned(keyPages, keyless, poisoned))
    assert(jobs == 1)
    // the refine does read the wkb: running the plan fails
    val e = intercept[Exception](m.collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("wkb computed")), e)
  }
}

object PipMatchSpec {
  /** The polygons of a file written by `withPolyFile`, read on every call. */
  def readPolys(path: String): Seq[(Long, Array[Byte])] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq.map { line =>
      val Array(id, wkb) = line.split('\t')
      (id.toLong, Base64.getDecoder.decode(wkb))
    }
}
