package graft.sources

import java.io.{ByteArrayOutputStream, DataOutputStream, FileOutputStream}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.zip.Inflater

import graft.SparkTestBase

class OsmPbfSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val (fnodes, fways, frels, _) = Fixtures.osm

  private def writeFixture(blockSize: Int = 64): String = {
    val path = tempDir("pbf_spec").resolve("fixture.osm.pbf").toString
    OsmPbf.write(
      fnodes.map(n => (n.id, n.lat, n.lon)),
      fways.map(w => (w.id, w.refs)),
      frels.map(r => (r.id, r.tags, r.members.map(m => (m.id, m.mtype, m.role)))),
      path, blockSize = blockSize)
    path
  }

  test("round-trip: nodes decode to correctly-rounded quantized coordinates") {
    val path = writeFixture()
    val back = OsmPbf.nodes(spark, path).as[(Long, Double, Double)].collect()
      .sortBy(_._1)
    val expect = fnodes.map(n =>
      (n.id, OsmPbf.quantize(n.lat, 100), OsmPbf.quantize(n.lon, 100))).sortBy(_._1)
    assert(back.length == expect.length)
    back.zip(expect).foreach { case (b, e) => assert(b == e, s"node ${e._1}") }
    // fixture nodes sit on the 1e-6 grid, so at granularity 100 (1e-7)
    // the round trip is BIT-exact — division decode, not 1e-9 multiply
    val orig = fnodes.map(n => (n.id, n.lat, n.lon)).sortBy(_._1)
    back.zip(orig).foreach { case (b, o) => assert(b == o, s"node ${o._1} not bit-exact") }
  }

  test("round-trip: ways and relations decode exactly (refs, tags, members, roles)") {
    val path = writeFixture()
    val ways = OsmPbf.ways(spark, path).as[(Long, Seq[Long])].collect().sortBy(_._1)
    assert(ways.toSeq == fways.map(w => (w.id, w.refs)).sortBy(_._1))
    val rels = OsmPbf.relations(spark, path)
      .as[(Long, Map[String, String], Seq[(Long, Int, String)])].collect().sortBy(_._1)
    assert(rels.toSeq ==
      frels.map(r => (r.id, r.tags, r.members.map(m => (m.id, m.mtype, m.role)))).sortBy(_._1))
  }

  test("small blocks force many blobs; read distributes over them") {
    val path = writeFixture(blockSize = 16)
    val ranges = OsmPbf.blobIndex(path)
    assert(ranges.count(_.typ == "OSMData") > 10, s"expected many blobs, got ${ranges.map(_.typ)}")
    assert(ranges.head.typ == "OSMHeader")
    assert(OsmPbf.nodes(spark, path).count() == fnodes.length)
    assert(OsmPbf.nodes(spark, path).rdd.getNumPartitions > 1)
  }

  test("blob-kind index: first pass records kinds, later passes scan only their blobs, rows identical") {
    val pathOff = writeFixture(blockSize = 16)
    val pathOn = writeFixture(blockSize = 16)
    val total = OsmPbf.blobIndex(pathOn).count(_.typ == "OSMData")
    // baseline: index disabled — every pass scans every blob
    OsmPbf.kindIndexEnabled = false
    val (bn, bw, br) =
      try (OsmPbf.nodes(spark, pathOff).collect().toSet,
        OsmPbf.ways(spark, pathOff).collect().toSet,
        OsmPbf.relations(spark, pathOff).collect().toSet)
      finally OsmPbf.kindIndexEnabled = true
    // enabled on a FRESH file: before any pass the index has no coverage,
    // so a ways pass would still scan everything
    assert(OsmPbf.scanRangeCount(pathOn, OsmPbf.KindWays) == total)
    // first (nodes) pass scans all blobs and records each blob's kind...
    val n = OsmPbf.nodes(spark, pathOn).collect().toSet
    // ...after which later passes plan only their own kind's blobs
    val wayBlobs = OsmPbf.scanRangeCount(pathOn, OsmPbf.KindWays)
    val relBlobs = OsmPbf.scanRangeCount(pathOn, OsmPbf.KindRels)
    assert(wayBlobs > 0 && wayBlobs < total, s"way pass plans $wayBlobs of $total blobs")
    assert(relBlobs > 0 && relBlobs < total, s"rel pass plans $relBlobs of $total blobs")
    assert(wayBlobs + relBlobs + OsmPbf.scanRangeCount(pathOn, OsmPbf.KindNodes) == total,
      "writer emits one kind per blob, so kind counts partition the blob set")
    // and the filtered passes return EXACTLY the unfiltered rows
    assert(n == bn)
    assert(OsmPbf.ways(spark, pathOn).collect().toSet == bw)
    assert(OsmPbf.relations(spark, pathOn).collect().toSet == br)
  }

  test("blob-kind index: construct-all-then-run converges (fold keeps in-flight accumulators)") {
    // all three recording Datasets registered BEFORE any job runs: fold()
    // must not discard their still-empty accumulators, or the kind data
    // they later record would never merge and filtering would never engage
    val path = writeFixture(blockSize = 16)
    val total = OsmPbf.blobIndex(path).count(_.typ == "OSMData")
    val n = OsmPbf.nodes(spark, path)
    val w = OsmPbf.ways(spark, path)
    val r = OsmPbf.relations(spark, path)
    assert(OsmPbf.scanRangeCount(path, OsmPbf.KindWays) == total, "no coverage yet")
    n.count(); w.count(); r.count()
    assert(OsmPbf.scanRangeCount(path, OsmPbf.KindWays) < total,
      "coverage must complete from accumulators registered before any action ran")
  }

  test("written bytes are spec-conformant: independent sequential walk") {
    // minimal protobuf walk written HERE, not sharing the reader's code:
    // varints, tag dispatch, zlib inflate, raw_size agreement
    val path = writeFixture()
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(path))
    var off = 0
    var idx = 0
    def varint(b: Array[Byte], p0: Int): (Long, Int) = {
      var p = p0; var shift = 0; var v = 0L
      while (true) {
        val x = b(p); p += 1
        v |= (x & 0x7fL) << shift
        if ((x & 0x80) == 0) return (v, p)
        shift += 7
      }
      (v, p)
    }
    while (off < bytes.length) {
      val hLen = ByteBuffer.wrap(bytes, off, 4).getInt
      // BlobHeader: expect field 1 (type, wire 2) then field 3 (datasize, wire 0)
      var p = off + 4
      val hEnd = p + hLen
      var typ = ""; var datasize = -1L
      while (p < hEnd) {
        val (k, p1) = varint(bytes, p)
        (k >>> 3, k & 7) match {
          case (1, 2) =>
            val (n, p2) = varint(bytes, p1)
            typ = new String(bytes, p2, n.toInt, UTF_8); p = p2 + n.toInt
          case (3, 0) =>
            val (v, p2) = varint(bytes, p1); datasize = v; p = p2
          case (_, 2) => val (n, p2) = varint(bytes, p1); p = p2 + n.toInt
          case (_, 0) => val (_, p2) = varint(bytes, p1); p = p2
          case other => fail(s"unexpected wire entry $other in BlobHeader")
        }
      }
      if (idx == 0) assert(typ == "OSMHeader") else assert(typ == "OSMData")
      // Blob: raw_size (2,varint) + zlib_data (3,len) — inflate must match
      var q = hEnd
      val bEnd = hEnd + datasize.toInt
      var rawSize = -1L; var inflated = -1L
      while (q < bEnd) {
        val (k, q1) = varint(bytes, q)
        (k >>> 3, k & 7) match {
          case (2, 0) => val (v, q2) = varint(bytes, q1); rawSize = v; q = q2
          case (3, 2) =>
            val (n, q2) = varint(bytes, q1)
            val inf = new Inflater()
            inf.setInput(bytes, q2, n.toInt)
            val buf = new Array[Byte](rawSize.toInt + 16)
            var done = 0
            while (!inf.finished()) done += inf.inflate(buf, done, buf.length - done)
            inf.end()
            inflated = done.toLong
            q = q2 + n.toInt
          case (_, 2) => val (n, q2) = varint(bytes, q1); q = q2 + n.toInt
          case (_, 0) => val (_, q2) = varint(bytes, q1); q = q2
          case other => fail(s"unexpected wire entry $other in Blob")
        }
      }
      assert(rawSize >= 0 && inflated == rawSize, s"blob $idx raw_size $rawSize vs inflated $inflated")
      off = bEnd
      idx += 1
    }
    assert(idx > 3, "header + node/way/relation blobs")
  }

  test("unknown required feature fails loudly; raw (uncompressed) blobs read fine") {
    val dir = tempDir("pbf_bad")
    // hand-build: OSMHeader requiring an unsupported feature
    val headerBlock = tmsg { d =>
      tlenDelim(d, 4, "HistoricalInformation".getBytes(UTF_8))
    }
    val blobBody = tmsg { d => tlenDelim(d, 1, headerBlock) } // raw=1, uncompressed
    val blobHeader = tmsg { d =>
      tlenDelim(d, 1, "OSMHeader".getBytes(UTF_8))
      tvarint(d, (3 << 3) | 0); tvarint(d, blobBody.length.toLong)
    }
    val bad = dir.resolve("bad.osm.pbf").toString
    val f = new DataOutputStream(new FileOutputStream(bad))
    f.writeInt(blobHeader.length); f.write(blobHeader); f.write(blobBody); f.close()
    val err = intercept[IllegalArgumentException](OsmPbf.nodes(spark, bad).collect())
    assert(err.getMessage.contains("HistoricalInformation"))

    // same file with a SUPPORTED feature: raw-blob path parses, zero nodes
    val okHeader = tmsg { d => tlenDelim(d, 4, "DenseNodes".getBytes(UTF_8)) }
    val okBody = tmsg { d => tlenDelim(d, 1, okHeader) }
    val okBlobHeader = tmsg { d =>
      tlenDelim(d, 1, "OSMHeader".getBytes(UTF_8))
      tvarint(d, (3 << 3) | 0); tvarint(d, okBody.length.toLong)
    }
    val ok = dir.resolve("ok.osm.pbf").toString
    val g = new DataOutputStream(new FileOutputStream(ok))
    g.writeInt(okBlobHeader.length); g.write(okBlobHeader); g.write(okBody); g.close()
    assert(OsmPbf.nodes(spark, ok).count() == 0)
  }

  test("seeded random round-trip property: entities, deltas, unicode, granularity 1 and 100") {
    val rnd = new scala.util.Random(20260817L)
    val roles = Seq("", "outer", "inner", "rôle", "役割", "stop;x")
    val tagKeys = Seq("name", "name:nl", "été", "漢字", "a b")
    for (trial <- 0 until 5; granularity <- Seq(1, 100)) {
      val dir = tempDir(s"pbf_prop_$trial")
      val path = dir.resolve("t.osm.pbf").toString
      def id(): Long = rnd.nextLong() % (1L << 40) // negatives too: zigzag both signs
      val ns = Seq.fill(1 + rnd.nextInt(40))(
        (id(), rnd.nextDouble() * 180 - 90, rnd.nextDouble() * 360 - 180))
        .distinctBy(_._1)
      val ws = Seq.fill(rnd.nextInt(20))(
        (id(), Seq.fill(rnd.nextInt(8))(id()))).distinctBy(_._1)
      val rs = Seq.fill(rnd.nextInt(10))((
        id(),
        tagKeys.filter(_ => rnd.nextBoolean()).map(k => k -> s"v${rnd.nextInt(5)}€").toMap,
        Seq.fill(rnd.nextInt(6))((id(), rnd.nextInt(3), roles(rnd.nextInt(roles.length))))
      )).distinctBy(_._1)
      OsmPbf.write(ns, ws, rs, path, blockSize = 7, granularity = granularity)
      val gotN = OsmPbf.nodes(spark, path).as[(Long, Double, Double)].collect().sortBy(_._1)
      val expN = ns.map { case (i, la, lo) =>
        (i, OsmPbf.quantize(la, granularity), OsmPbf.quantize(lo, granularity)) }.sortBy(_._1)
      assert(gotN.toSeq == expN, s"trial $trial g=$granularity nodes")
      val gotW = OsmPbf.ways(spark, path).as[(Long, Seq[Long])].collect().sortBy(_._1)
      assert(gotW.toSeq == ws.sortBy(_._1), s"trial $trial g=$granularity ways")
      val gotR = OsmPbf.relations(spark, path)
        .as[(Long, Map[String, String], Seq[(Long, Int, String)])].collect().sortBy(_._1)
      assert(gotR.toSeq == rs.sortBy(_._1), s"trial $trial g=$granularity relations")
    }
  }

  // shared minimal wire-writer for hand-built test files — deliberately
  // NOT OsmPbf's Wire class (an independent encoder is the point)
  private def tvarint(out: DataOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }
  private def tzig(n: Long): Long = (n << 1) ^ (n >> 63)
  private def tlenDelim(out: DataOutputStream, field: Int, b: Array[Byte]): Unit = {
    tvarint(out, (field << 3) | 2); tvarint(out, b.length.toLong); out.write(b)
  }
  private def tmsg(build: DataOutputStream => Unit): Array[Byte] = {
    val m = new ByteArrayOutputStream(); val md = new DataOutputStream(m); build(md); m.toByteArray
  }

  test("unpacked repeated fields decode identically (proto2 requires accepting both forms)") {
    // hand-build an uncompressed OSMData blob whose Way emits refs as
    // UNPACKED wire-type-0 entries (one tag per value) — legal proto2
    // that a packed-only parser silently drops
    val bos = new ByteArrayOutputStream(); val d = new DataOutputStream(bos)
    val refs = Seq(100L, 40L, -25L) // delta-coded: decodes to 100, 140, 115
    val way = tmsg { w =>
      tvarint(w, (1 << 3) | 0); tvarint(w, 77L)                  // id
      refs.foreach { r => tvarint(w, (8 << 3) | 0); tvarint(w, tzig(r)) } // UNPACKED sint64
    }
    val group = tmsg { g => tlenDelim(g, 3, way) }
    val strtab = tmsg { st => tlenDelim(st, 1, Array.empty[Byte]) }
    val block = tmsg { b => tlenDelim(b, 1, strtab); tlenDelim(b, 2, group) }
    val blob = tmsg { b => tlenDelim(b, 1, block) } // raw, uncompressed
    val header = tmsg { h =>
      tlenDelim(h, 1, "OSMData".getBytes(UTF_8))
      tvarint(h, (3 << 3) | 0); tvarint(h, blob.length.toLong)
    }
    d.writeInt(header.length); d.write(header); d.write(blob)
    val path = tempDir("pbf_unpacked").resolve("u.osm.pbf")
    Files.write(path, bos.toByteArray)
    val got = OsmPbf.ways(spark, path.toString).as[(Long, Seq[Long])].collect()
    assert(got.toSeq == Seq((77L, Seq(100L, 140L, 115L))))
  }

  test("corrupt length fields fail loudly instead of looping or misparsing") {
    // an OSMData blob whose inner length varint decodes to a huge value:
    // must raise the bounds error, not walk backwards forever
    val bos = new ByteArrayOutputStream(); val d = new DataOutputStream(bos)
    val badBlob = tmsg { b =>
      tvarint(b, (1 << 3) | 2)          // raw=1, length-delimited
      tvarint(b, 4294967286L)           // length whose toInt is NEGATIVE
    }
    val header = tmsg { h =>
      tvarint(h, (1 << 3) | 2); tvarint(h, 7L); h.write("OSMData".getBytes(UTF_8))
      tvarint(h, (3 << 3) | 0); tvarint(h, badBlob.length.toLong)
    }
    d.writeInt(header.length); d.write(header); d.write(badBlob)
    val path = tempDir("pbf_badlen").resolve("b.osm.pbf")
    Files.write(path, bos.toByteArray)
    val err = intercept[Exception](OsmPbf.nodes(spark, path.toString).collect())
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: chain(t.getCause)
    assert(chain(err).exists(m => m != null && m.contains("overruns")),
      s"expected bounds error, got: ${chain(err)}")
  }

  test("hostile near-Long.MaxValue length fails loudly, no Long-overflow rewind") {
    // a 9-byte varint decoding to Long.MaxValue-9: `pos + n` overflows
    // Long to negative, so only the subtraction form of the bound check
    // (n <= end - pos) raises — the overflow form would rewind the
    // cursor to the tag byte and loop the driver forever
    val bos = new ByteArrayOutputStream(); val d = new DataOutputStream(bos)
    val badBlob = tmsg { b =>
      tvarint(b, (7 << 3) | 2)          // some skipped length-delimited field
      tvarint(b, Long.MaxValue - 9)
    }
    val header = tmsg { h =>
      tlenDelim(h, 1, "OSMData".getBytes(UTF_8))
      tvarint(h, (3 << 3) | 0); tvarint(h, badBlob.length.toLong)
    }
    d.writeInt(header.length); d.write(header); d.write(badBlob)
    val path = tempDir("pbf_hostile").resolve("h.osm.pbf")
    Files.write(path, bos.toByteArray)
    val err = intercept[Exception](OsmPbf.nodes(spark, path.toString).collect())
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: chain(t.getCause)
    assert(chain(err).exists(m => m != null && m.contains("overruns")),
      s"expected bounds error, got: ${chain(err)}")
  }

  test("corrupt files fail loudly: oversized header length, not an allocation") {
    val dir = tempDir("pbf_corrupt")
    // a 2 GB BlobHeader length — must hit the spec guard, not OOM
    val bad = dir.resolve("bad.osm.pbf")
    Files.write(bad, Array[Byte](0x7f, -1, -1, -1, 0, 0, 0, 0))
    val err = intercept[IllegalArgumentException](OsmPbf.blobIndex(bad.toString))
    assert(err.getMessage.contains("64 KiB"))
  }

  test("empty pbf: header-only file, zero rows from all three readers") {
    val path = tempDir("pbf_empty").resolve("e.osm.pbf").toString
    OsmPbf.write(Nil, Nil, Nil, path)
    assert(OsmPbf.blobIndex(path).map(_.typ) == Seq("OSMHeader"))
    assert(OsmPbf.nodes(spark, path).count() == 0)
    assert(OsmPbf.ways(spark, path).count() == 0)
    assert(OsmPbf.relations(spark, path).count() == 0)
  }

  test("non-grid coordinates quantize to 1e-7 resolution, closed form") {
    val path = tempDir("pbf_q").resolve("q.osm.pbf").toString
    val odd = Seq((1L, 51.123456789, 3.987654321987), (2L, -0.000000049, 179.99999996))
    OsmPbf.write(odd, Nil, Nil, path)
    val back = OsmPbf.nodes(spark, path).as[(Long, Double, Double)].collect().sortBy(_._1)
    val expect = odd.map { case (id, la, lo) =>
      (id, OsmPbf.quantize(la, 100), OsmPbf.quantize(lo, 100)) }
    assert(back.toSeq == expect)
    back.zip(odd).foreach { case ((_, bla, blo), (_, ola, olo)) =>
      assert(math.abs(bla - ola) <= 5e-8 && math.abs(blo - olo) <= 5e-8)
    }
  }
}
