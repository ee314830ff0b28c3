package graft.sources

import java.io.{DataOutputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files

import graft.SparkTestBase
import graft.operators.Ingest

class ShapefileSpec extends SparkTestBase {
  import spark.implicits._

  private def fixtureRecords: Seq[Seq[Seq[(Double, Double)]]] =
    Fixtures.osm._4.map(_.rings) ++ Fixtures.dpRects.map { case (_, ring) => Seq(ring: Seq[(Double, Double)]) }

  private def tmpBase(name: String): String = {
    val dir = tempDir("shp_spec").toString
    s"$dir/$name"
  }

  test("round-trip: write + distributed read return records verbatim, ids = record index") {
    val base = tmpBase("water")
    Shapefile.write(fixtureRecords, base)
    val back = Shapefile.read(spark, base)
      .as[(Long, Seq[Seq[(Double, Double)]])].collect().sortBy(_._1)
    assert(back.map(_._1).toSeq == fixtureRecords.indices.map(_.toLong))
    back.foreach { case (i, rings) =>
      assert(rings == fixtureRecords(i.toInt), s"record $i differs")
    }
  }

  test("written bytes are spec-conformant: independent sequential parse, no .shx") {
    // walks the .shp with plain ByteBuffer arithmetic — a code path the
    // reader never takes (it goes through the .shx index) — checking the
    // published layout invariants (file code, version, word lengths,
    // record numbering, per-record bbox)
    val base = tmpBase("conform")
    Shapefile.write(fixtureRecords, base)
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(base + ".shp"))
    val b = ByteBuffer.wrap(bytes)
    b.order(ByteOrder.BIG_ENDIAN)
    assert(b.getInt(0) == 9994, "file code")
    assert(b.getInt(24) * 2 == bytes.length, "header file length in words")
    b.order(ByteOrder.LITTLE_ENDIAN)
    assert(b.getInt(28) == 1000, "version")
    assert(b.getInt(32) == 5, "polygon shape type")
    var off = 100
    var recNo = 0
    while (off < bytes.length) {
      recNo += 1
      b.order(ByteOrder.BIG_ENDIAN)
      assert(b.getInt(off) == recNo, s"record number at $off")
      val contentBytes = b.getInt(off + 4) * 2
      b.order(ByteOrder.LITTLE_ENDIAN)
      assert(b.getInt(off + 8) == 5, "record shape type")
      val numParts = b.getInt(off + 8 + 36)
      val numPoints = b.getInt(off + 8 + 40)
      assert(contentBytes == 4 + 32 + 8 + 4 * numParts + 16 * numPoints,
        "content length matches part/point counts")
      // record bbox equals min/max over its points
      val ptOff = off + 8 + 44 + 4 * numParts
      val xs = (0 until numPoints).map(j => b.getDouble(ptOff + 16 * j))
      val ys = (0 until numPoints).map(j => b.getDouble(ptOff + 16 * j + 8))
      assert(b.getDouble(off + 12) == xs.min && b.getDouble(off + 20) == ys.min)
      assert(b.getDouble(off + 28) == xs.max && b.getDouble(off + 36) == ys.max)
      off += 8 + contentBytes
    }
    assert(recNo == fixtureRecords.length)
  }

  test("null records are skipped; non-polygon shape types fail loudly") {
    // hand-build a .shp/.shx with [polygon, null, polygon] then a
    // PointZ-typed variant — the reader must skip the null and reject the Z
    val base = tmpBase("nulls")
    val ring = Seq((0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 0.0))
    def content(shapeType: Int): Array[Byte] =
      if (shapeType == 0) { // null shape: just the type word
        val b = ByteBuffer.allocate(4); b.order(ByteOrder.LITTLE_ENDIAN)
        b.putInt(0); b.array()
      } else {
        val b = ByteBuffer.allocate(4 + 32 + 8 + 4 + 16 * ring.length)
        b.order(ByteOrder.LITTLE_ENDIAN)
        b.putInt(shapeType)
        b.putDouble(0).putDouble(0).putDouble(1).putDouble(1)
        b.putInt(1).putInt(ring.length).putInt(0)
        ring.foreach { case (x, y) => b.putDouble(x).putDouble(y) }
        b.array()
      }
    def writeFiles(shapeTypes: Seq[Int], headerType: Int): Unit = {
      val contents = shapeTypes.map(content)
      val shp = new DataOutputStream(new FileOutputStream(base + ".shp"))
      val shx = new DataOutputStream(new FileOutputStream(base + ".shx"))
      def header(len: Int): Array[Byte] = {
        val b = ByteBuffer.allocate(100); b.order(ByteOrder.BIG_ENDIAN)
        b.putInt(9994); (0 until 5).foreach(_ => b.putInt(0)); b.putInt(len / 2)
        b.order(ByteOrder.LITTLE_ENDIAN); b.putInt(1000).putInt(headerType)
        b.array()
      }
      shp.write(header(100 + contents.map(8 + _.length).sum))
      shx.write(header(100 + 8 * contents.length))
      var off = 100
      contents.zipWithIndex.foreach { case (c, i) =>
        shp.writeInt(i + 1); shp.writeInt(c.length / 2); shp.write(c)
        shx.writeInt(off / 2); shx.writeInt(c.length / 2)
        off += 8 + c.length
      }
      shp.close(); shx.close()
    }
    writeFiles(Seq(5, 0, 5), headerType = 5)
    val rows = Shapefile.read(spark, base).as[(Long, Seq[Seq[(Double, Double)]])].collect()
    assert(rows.map(_._1).sorted.toSeq == Seq(0L, 2L), "null record skipped, indices preserved")

    writeFiles(Seq(11), headerType = 11) // PointZ
    val err = intercept[IllegalArgumentException](Shapefile.read(spark, base).collect())
    assert(err.getMessage.contains("shape type"))
  }

  test("water pipeline over a real .shp equals the fixture-table path") {
    val base = tmpBase("pipeline")
    Shapefile.write(Fixtures.osm._4.map(_.rings), base)
    val viaShp = Ingest.waterPolygons(spark, Shapefile.read(spark, base))
      .select("wkb").as[Array[Byte]].collect().map(_.toSeq).sorted(
        Ordering.Implicits.seqOrdering[Seq, Byte])
    val viaFixture = Ingest.waterPolygons(spark, Fixtures.waterDf(spark))
      .select("wkb").as[Array[Byte]].collect().map(_.toSeq).sorted(
        Ordering.Implicits.seqOrdering[Seq, Byte])
    assert(viaShp.length == viaFixture.length && viaShp.sameElements(viaFixture))
  }

  test("seeded random round-trip property: rings, extreme magnitudes, -0.0") {
    val rnd = new scala.util.Random(20260817L)
    def coord(): Double = rnd.nextInt(6) match {
      case 0 => -0.0
      case 1 => rnd.nextDouble() * 1e300
      case 2 => rnd.nextDouble() * 1e-300
      case 3 => -rnd.nextDouble() * 180
      case _ => rnd.nextDouble() * 360 - 180
    }
    for (trial <- 0 until 5) {
      val recs = Seq.fill(1 + rnd.nextInt(12))(
        Seq.fill(1 + rnd.nextInt(4))(
          Seq.fill(2 + rnd.nextInt(28))((coord(), coord())): Seq[(Double, Double)]))
      val base = tmpBase(s"prop$trial")
      Shapefile.write(recs, base)
      val back = Shapefile.read(spark, base)
        .as[(Long, Seq[Seq[(Double, Double)]])].collect().sortBy(_._1)
      assert(back.length == recs.length, s"trial $trial count")
      back.foreach { case (i, rings) =>
        val exp = recs(i.toInt)
        assert(rings.length == exp.length, s"trial $trial rec $i parts")
        // bit-level compare (survives -0.0, denormals, full exponent range)
        rings.zip(exp).foreach { case (got, want) =>
          assert(got.map { case (x, y) =>
            (java.lang.Double.doubleToRawLongBits(x), java.lang.Double.doubleToRawLongBits(y))
          } == want.map { case (x, y) =>
            (java.lang.Double.doubleToRawLongBits(x), java.lang.Double.doubleToRawLongBits(y))
          }, s"trial $trial rec $i")
        }
      }
    }
  }

  test("zipped bundle: extract, locate .shp, read; zip without .shp fails loudly") {
    val base = tmpBase("zipped")
    Shapefile.write(fixtureRecords, base)
    val dir = java.nio.file.Paths.get(base).getParent
    def makeZip(withShp: Boolean): String = {
      val zipPath = dir.resolve(if (withShp) "water.zip" else "empty.zip").toString
      val zos = new java.util.zip.ZipOutputStream(new FileOutputStream(zipPath))
      def add(name: String, bytes: Array[Byte]): Unit = {
        zos.putNextEntry(new java.util.zip.ZipEntry(name)); zos.write(bytes); zos.closeEntry()
      }
      add("bundle/readme.txt", "decoy".getBytes) // nested path: flattened on extract
      if (withShp) {
        add("bundle/water.shp", Files.readAllBytes(java.nio.file.Paths.get(base + ".shp")))
        add("bundle/water.shx", Files.readAllBytes(java.nio.file.Paths.get(base + ".shx")))
      }
      zos.close(); zipPath
    }
    val outDir = dir.resolve("unpacked").toString
    val got = Shapefile.unzipToBase(makeZip(withShp = true), outDir)
    assert(got == s"$outDir/water")
    val back = Shapefile.read(spark, got)
      .as[(Long, Seq[Seq[(Double, Double)]])].collect().sortBy(_._1)
    assert(back.length == fixtureRecords.length)
    back.foreach { case (i, rings) => assert(rings == fixtureRecords(i.toInt)) }
    val err = intercept[IllegalArgumentException](
      Shapefile.unzipToBase(makeZip(withShp = false), dir.resolve("unpacked2").toString))
    assert(err.getMessage.contains("No shape file"))
  }

  test("empty shapefile: header-only write, zero-row distributed read") {
    val base = tmpBase("empty")
    Shapefile.write(Nil, base)
    assert(Files.size(java.nio.file.Paths.get(base + ".shp")) == 100, "header-only .shp")
    assert(Shapefile.read(spark, base).count() == 0)
  }

  test("point-less record writes as a null shape; neighbors keep their indices") {
    val base = tmpBase("nullrec")
    val ring = Seq((0.0, 0.0), (2.0, 0.0), (1.0, 2.0), (0.0, 0.0))
    Shapefile.write(Seq(Seq(ring), Seq(Seq()), Seq(ring)), base)
    val rows = Shapefile.read(spark, base)
      .as[(Long, Seq[Seq[(Double, Double)]])].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(0L, 2L), "empty record skipped as null shape")
    rows.foreach { case (_, rings) => assert(rings == Seq(ring)) }
  }

  test("truncated .shx header length fails loudly instead of dropping records") {
    val base = tmpBase("shxlie")
    Shapefile.write(fixtureRecords, base)
    val shx = java.nio.file.Paths.get(base + ".shx")
    val bytes = Files.readAllBytes(shx)
    // understate the declared length by one record
    val b = ByteBuffer.wrap(bytes)
    b.order(ByteOrder.BIG_ENDIAN)
    b.putInt(24, (bytes.length - 8) / 2)
    Files.write(shx, bytes)
    val err = intercept[IllegalArgumentException](Shapefile.read(spark, base))
    assert(err.getMessage.contains("declares"))
  }

  test("reader parallelism: record ranges split across partitions, one handle each") {
    val base = tmpBase("parallel")
    Shapefile.write(fixtureRecords, base)
    val df = Shapefile.read(spark, base, minPartitions = 4)
    assert(df.rdd.getNumPartitions == 4)
    assert(df.count() == fixtureRecords.length)
  }
}
