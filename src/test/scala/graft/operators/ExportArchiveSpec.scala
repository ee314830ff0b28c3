package graft.operators

import java.io.{ByteArrayOutputStream, DataInputStream}
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPInputStream

/** S11 tar.gz export-all: the archive is parsed back with an independent
  * ustar reader (header fields + checksum re-derived here, not shared with
  * the writer) and every entry must byte-match its source file.
  */
class ExportArchiveSpec extends graft.SparkTestBase {

  /** Independent minimal ustar reader: (name, bytes) entries. */
  private def readTarGz(p: java.nio.file.Path): Seq[(String, Array[Byte])] = {
    val in = new DataInputStream(new GZIPInputStream(Files.newInputStream(p)))
    val out = Seq.newBuilder[(String, Array[Byte])]
    val hdr = new Array[Byte](512)
    var done = false
    while (!done) {
      in.readFully(hdr)
      if (hdr.forall(_ == 0)) done = true
      else {
        val name = new String(hdr.takeWhile(_ != 0), US_ASCII)
        val size = java.lang.Long.parseLong(
          new String(hdr.slice(124, 135), US_ASCII).trim, 8)
        // verify the header checksum independently
        val stored = java.lang.Long.parseLong(
          new String(hdr.slice(148, 154), US_ASCII).trim, 8)
        val recomputed = hdr.zipWithIndex.map { case (b, i) =>
          if (i >= 148 && i < 156) 32L else (b & 0xff).toLong
        }.sum
        assert(stored == recomputed, s"checksum mismatch for $name")
        assert(new String(hdr.slice(257, 262), US_ASCII) == "ustar")
        val data = new Array[Byte](size.toInt)
        in.readFully(data)
        val pad = ((512 - size % 512) % 512).toInt
        if (pad > 0) in.skipBytes(pad)
        out += ((name, data))
      }
    }
    in.close()
    out.result()
  }

  test("tarGz round-trips a slice directory byte-for-byte, sorted, deterministic") {
    val dir = tempDir("tar_src")
    Files.createDirectories(dir.resolve("countries"))
    val contents = Map(
      "countries/0000.topojson" -> """{"type":"Topology","objects":{}}""",
      "countries/0001.topojson" -> """{"type":"Topology","objects":{"a":1}}""",
      "manifest.json" -> """{"layers":["countries"]}""")
    contents.foreach { case (rel, c) =>
      Files.write(dir.resolve(rel), c.getBytes(UTF_8))
    }
    val out = tempDir("export").resolve("export.tar.gz")
    val entries = ExportArchive.tarGz(dir, out)
    assert(entries == contents.keys.toSeq.sorted)

    val parsed = readTarGz(out)
    assert(parsed.map(_._1) == contents.keys.toSeq.sorted)
    parsed.foreach { case (name, data) =>
      assert(new String(data, UTF_8) == contents(name), s"content drift in $name")
    }

    // determinism: repacking yields byte-identical tar payload (compare
    // decompressed bytes — gzip already zeroes its header mtime)
    val out2 = tempDir("export2").resolve("export2.tar.gz")
    ExportArchive.tarGz(dir, out2)
    def gunzip(p: java.nio.file.Path): Array[Byte] = {
      val i = new GZIPInputStream(Files.newInputStream(p))
      val b = new ByteArrayOutputStream()
      i.transferTo(b); i.close(); b.toByteArray
    }
    assert(java.util.Arrays.equals(gunzip(out), gunzip(out2)))
  }

  test("tarGz writing INTO the archived dir excludes the archive itself") {
    val dir = tempDir("tar_self")
    Files.write(dir.resolve("data.json"), "{}".getBytes(UTF_8))
    val out = dir.resolve("export.tar.gz") // reference layout: archive inside
    val first = ExportArchive.tarGz(dir, out)
    assert(first == Seq("data.json"))
    val second = ExportArchive.tarGz(dir, out) // re-run with archive present
    assert(second == Seq("data.json"), s"archive swallowed itself: $second")
  }

  test("tarGz interoperates with system tar") {
    val dir = tempDir("tar_sys")
    Files.write(dir.resolve("a.txt"), "hello tar".getBytes(UTF_8))
    Files.write(dir.resolve("b.bin"), Array.tabulate[Byte](700)(i => (i % 251).toByte))
    val out = tempDir("sys").resolve("sys.tar.gz")
    ExportArchive.tarGz(dir, out)
    val extract = tempDir("tar_ext")
    val rc = new ProcessBuilder("tar", "xzf", out.toString, "-C", extract.toString)
      .inheritIO().start().waitFor()
    assume(rc == 0, "system tar unavailable")
    assert(Files.readString(extract.resolve("a.txt")) == "hello tar")
    assert(java.util.Arrays.equals(
      Files.readAllBytes(extract.resolve("b.bin")),
      Files.readAllBytes(dir.resolve("b.bin"))))
  }
}
