package graft.sources

import java.io.{ByteArrayOutputStream, DataOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{Deflater, Inflater}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Real OSM PBF reader + writer, pure JVM, implemented from the published
  * format description (wiki.openstreetmap.org/wiki/PBF_Format) and the
  * public protobuf wire encoding — no protobuf runtime, no external libs.
  * This is the reference's PRIMARY input: its 3-pass import walks exactly
  * this container via imposm3's parser
  * (/root/reference/osmtopo/import.go:13,138). Until now the file layer
  * was replaced by deterministic fixture tables; like the media codecs
  * and the Shapefile module, this closes the format gap with genuinely
  * spec-conformant bytes, written and parsed for real, oracle-checked
  * (q_pbf_nodes/ways/rels/tags).
  *
  * Container layout:
  *   repeat: int32-BE headerLen, BlobHeader{type=1 string, datasize=3},
  *           Blob{raw=1 | raw_size=2 + zlib_data=3} of datasize bytes.
  * First blob type "OSMHeader" (HeaderBlock: required_features=4 —
  * "OsmSchema-V0.6", "DenseNodes"), then "OSMData" blobs, each a
  * zlib-compressed PrimitiveBlock:
  *   stringtable=1 (s=1 repeated bytes; index 0 reserved empty — 0 is
  *   the keys_vals separator), primitivegroup=2, granularity=17
  *   (default 100), lat_offset=19, lon_offset=20. A PrimitiveGroup holds
  *   ONE entity kind: dense=2 (DenseNodes: id=1 / lat=8 / lon=9 packed
  *   sint64 DELTA chains), ways=3 (Way: id=1, keys=2, vals=3, refs=8
  *   packed sint64 delta), relations=4 (Relation: id=1, keys=2, vals=3,
  *   roles_sid=8, memids=9 delta, types=10: 0 NODE / 1 WAY / 2 RELATION).
  * Coordinates: lat = 1e-9 · (lat_offset + granularity · stored), i.e.
  * integer nanodegrees at granularity resolution — the write→read round
  * trip QUANTIZES (1e-7° at the standard granularity 100), which the
  * decode oracles replicate closed-form.
  *
  * Scale: the reader walks only the 4-byte lengths + tiny BlobHeaders on
  * the DRIVER (a planet file is ~10⁴–10⁵ blobs — KBs of header bytes
  * via seeks), then distributes (offset, size) blob ranges; each task
  * inflates and decodes only its own blobs. Entity extraction is
  * per-kind (`nodes`/`ways`/`relations` each scan the blob list) —
  * deliberately mirroring the reference's 3-pass import shape (S1),
  * where each pass is an independent distributed scan.
  */
object OsmPbf {

  // ------------------------------------------------------ wire primitives

  private final class Wire {
    val out = new ByteArrayOutputStream()
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    def zigzag(n: Long): Unit = varint((n << 1) ^ (n >> 63))
    def key(field: Int, wt: Int): Unit = varint((field.toLong << 3) | wt)
    def lenDelim(field: Int, b: Array[Byte]): Unit = {
      key(field, 2); varint(b.length.toLong); out.write(b)
    }
    def str(field: Int, s: String): Unit = lenDelim(field, s.getBytes(UTF_8))
    def int(field: Int, v: Long): Unit = { key(field, 0); varint(v) }
    /** packed repeated varint/sint64 fields */
    def packed(field: Int, vs: Iterable[Long], zz: Boolean): Unit = if (vs.nonEmpty) {
      val w = new Wire
      vs.foreach(v => if (zz) w.zigzag(v) else w.varint(v))
      lenDelim(field, w.bytes)
    }
    def bytes: Array[Byte] = out.toByteArray
  }

  /** Every length field is validated against the enclosing slice before
    * use — a corrupt/hostile file whose varint length is negative or
    * overruns its parent message fails with a clear message instead of
    * walking backwards (infinite driver loop) or silently parsing
    * sibling-field bytes as entities.
    */
  private final class Reader(val buf: Array[Byte], start: Int, end: Int) {
    var pos: Int = start
    def hasNext: Boolean = pos < end
    def varint(): Long = {
      var shift = 0; var v = 0L
      while (true) {
        require(pos < end, s"truncated varint at offset $pos")
        val b = buf(pos); pos += 1
        v |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return v
        shift += 7
        require(shift < 64, "malformed varint")
      }
      v
    }
    def zigzag(): Long = { val v = varint(); (v >>> 1) ^ -(v & 1) }
    /** returns (field, wireType) */
    def tag(): (Int, Int) = { val k = varint(); ((k >>> 3).toInt, (k & 7).toInt) }
    private def boundedLen(): Int = {
      val n = varint()
      // n <= end - pos, NOT pos + n <= end: a hostile varint near
      // Long.MaxValue overflows pos + n to negative and would pass the
      // other form, yielding a negative Int length and a cursor rewind
      require(n >= 0 && n <= end - pos,
        s"length $n at offset $pos overruns message end $end")
      n.toInt
    }
    def lenDelim(): Reader = {
      val n = boundedLen()
      val r = new Reader(buf, pos, pos + n); pos += n; r
    }
    def rawBytes(): Array[Byte] = {
      val n = boundedLen()
      val b = java.util.Arrays.copyOfRange(buf, pos, pos + n); pos += n; b
    }
    def skip(wt: Int): Unit = wt match {
      case 0 => varint()
      case 1 => require(pos + 8 <= end, "truncated fixed64"); pos += 8
      case 2 =>
        // two statements on purpose: `pos += boundedLen()` reads the OLD
        // pos before boundedLen() advances it past the length varint,
        // silently rewinding the cursor
        val n = boundedLen(); pos += n
      case 5 => require(pos + 4 <= end, "truncated fixed32"); pos += 4
      case w => throw new IllegalArgumentException(s"unsupported wire type $w")
    }
    def packedLongs(zz: Boolean): Seq[Long] = {
      val r = lenDelim()
      val out = Seq.newBuilder[Long]
      while (r.hasNext) out += (if (zz) r.zigzag() else r.varint())
      out.result()
    }
    /** One occurrence of a repeated scalar field: wire type 2 appends the
      * whole packed segment, wire type 0 appends one unpacked value —
      * proto2 parsers MUST accept both forms (a conformant producer may
      * emit either), and a packed field may also arrive in several
      * segments.
      */
    def repeated(into: Seq[Long], wt: Int, zz: Boolean): Seq[Long] = wt match {
      // accumulators are Vectors: `:+` per unpacked value must be O(1),
      // a List would make an n-value unpacked field O(n²)
      case 2 => into ++ packedLongs(zz)
      case 0 => into :+ (if (zz) zigzag() else varint())
      case w => throw new IllegalArgumentException(s"repeated scalar field with wire type $w")
    }
  }

  // -------------------------------------------------------------- writing

  /** Nanodegree units at `granularity` for a degree coordinate — the
    * closed-form quantization the decode oracles replicate.
    */
  def toUnits(deg: Double, granularity: Int): Long =
    Math.round(deg * 1e9 / granularity)

  /** The decoded value those units parse back to. The nanodegree count is
    * exact in Long arithmetic (≤ 1.8·10¹¹ ≪ 2⁵³), and DIVISION by the
    * exactly-representable 1e9 is correctly rounded — so decode returns
    * the nearest double to the exact decimal coordinate. (The spec's
    * `.000000001 · nano` phrasing multiplied by a NON-representable 1e-9
    * would drift 1 ulp on ~30% of grid coordinates; same real-number
    * semantics, strictly worse rounding, so we divide.) Consequence:
    * coordinates already on a ≥ granularity grid round-trip bit-exactly.
    */
  def quantize(deg: Double, granularity: Int): Double =
    (granularity.toLong * toUnits(deg, granularity)).toDouble / 1e9

  private def zlib(raw: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(raw); d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  private def blob(typ: String, payload: Array[Byte]): Array[Byte] = {
    val b = new Wire
    b.int(2, payload.length.toLong)    // raw_size
    b.lenDelim(3, zlib(payload))       // zlib_data
    val body = b.bytes
    val h = new Wire
    h.str(1, typ)
    h.int(3, body.length.toLong)       // datasize
    val header = h.bytes
    val out = new ByteArrayOutputStream()
    val d = new DataOutputStream(out)
    d.writeInt(header.length)          // int32 BE
    d.write(header); d.write(body)
    out.toByteArray
  }

  private def stringTable(strings: IndexedSeq[String]): Array[Byte] = {
    val w = new Wire
    strings.foreach(s => w.lenDelim(1, s.getBytes(UTF_8)))
    w.bytes
  }

  /** Write a complete .osm.pbf: OSMHeader blob, then node blocks (dense,
    * `blockSize` nodes per block), way blocks, relation blocks — the
    * nodes→ways→relations order real planet files use. Every OSMData
    * payload is zlib-compressed. Small `blockSize` forces many blobs so
    * the distributed read path is actually exercised at fixture scale.
    */
  def write(nodes: Seq[(Long, Double, Double)],       // (id, lat, lon)
            ways: Seq[(Long, Seq[Long])],             // (id, refs)
            rels: Seq[(Long, Map[String, String], Seq[(Long, Int, String)])],
            path: String, blockSize: Int = 8000, granularity: Int = 100): Unit = {
    val out = new FileOutputStream(path)
    try {
      val hb = new Wire
      hb.str(4, "OsmSchema-V0.6")
      hb.str(4, "DenseNodes")
      hb.str(16, "graft-osmpbf")
      out.write(blob("OSMHeader", hb.bytes))

      def primitiveBlock(strings: IndexedSeq[String], group: Array[Byte]): Array[Byte] = {
        val w = new Wire
        w.lenDelim(1, stringTable(strings))
        w.lenDelim(2, group)
        w.int(17, granularity.toLong)
        w.int(19, 0L); w.int(20, 0L)   // lat/lon offsets, explicit
        w.bytes
      }

      nodes.sortBy(_._1).grouped(blockSize).foreach { blk =>
        val dense = new Wire
        dense.packed(1, delta(blk.map(_._1)), zz = true)
        dense.packed(8, delta(blk.map(n => toUnits(n._2, granularity))), zz = true)
        dense.packed(9, delta(blk.map(n => toUnits(n._3, granularity))), zz = true)
        val g = new Wire
        g.lenDelim(2, dense.bytes)
        out.write(blob("OSMData", primitiveBlock(IndexedSeq(""), g.bytes)))
      }

      ways.sortBy(_._1).grouped(blockSize).foreach { blk =>
        val g = new Wire
        blk.foreach { case (id, refs) =>
          val w = new Wire
          w.int(1, id)
          w.packed(8, delta(refs), zz = true)
          g.lenDelim(3, w.bytes)
        }
        out.write(blob("OSMData", primitiveBlock(IndexedSeq(""), g.bytes)))
      }

      rels.sortBy(_._1).grouped(blockSize).foreach { blk =>
        // per-block string table: index 0 empty, then sorted distinct strings
        val strs = blk.flatMap { case (_, tags, ms) =>
          tags.keys ++ tags.values ++ ms.map(_._3)
        }.distinct.sorted
        val table = "" +: strs.toIndexedSeq
        val idx = table.zipWithIndex.toMap
        val g = new Wire
        blk.foreach { case (id, tags, ms) =>
          val w = new Wire
          w.int(1, id)
          val kvs = tags.toSeq.sortBy(_._1)
          w.packed(2, kvs.map(kv => idx(kv._1).toLong), zz = false)
          w.packed(3, kvs.map(kv => idx(kv._2).toLong), zz = false)
          w.packed(8, ms.map(m => idx(m._3).toLong), zz = false)
          w.packed(9, delta(ms.map(_._1)), zz = true)
          w.packed(10, ms.map(_._2.toLong), zz = false)
          g.lenDelim(4, w.bytes)
        }
        out.write(blob("OSMData", primitiveBlock(table, g.bytes)))
      }
    } finally out.close()
  }

  private def delta(vs: Seq[Long]): Seq[Long] =
    vs.headOption.map(h => h +: vs.sliding(2).collect { case Seq(a, b) => b - a }.toSeq)
      .getOrElse(Nil)

  // -------------------------------------------------------------- reading

  private[sources] case class BlobRange(typ: String, offset: Long, size: Int)

  /** Driver-side blob walk: reads each 4-byte length + BlobHeader via
    * positioned Hadoop FS reads and SKIPS every payload — for a planet
    * file this touches KBs, on any FileSystem (file:, hdfs:, s3a:).
    */
  private[sources] def blobIndex(path: String): Seq[BlobRange] = {
    val len = FsIO.length(path)
    val in = FsIO.openStream(path)
    try {
      val out = Seq.newBuilder[BlobRange]
      var off = 0L
      while (off < len) {
        val lenBytes = new Array[Byte](4)
        in.readFully(off, lenBytes, 0, 4)
        val hLen = java.nio.ByteBuffer.wrap(lenBytes).getInt
        // spec: BlobHeader MUST be < 64 KiB — also the OOM guard against
        // walking a corrupt/non-PBF file
        require(hLen > 0 && hLen < 64 * 1024,
          s"BlobHeader length $hLen at offset $off out of spec (must be < 64 KiB)")
        val hBytes = new Array[Byte](hLen)
        in.readFully(off + 4, hBytes, 0, hLen)
        val r = new Reader(hBytes, 0, hLen)
        var typ = ""; var datasize = -1L
        while (r.hasNext) r.tag() match {
          case (1, 2) => typ = new String(r.rawBytes(), UTF_8)
          // keep the FULL Long: .toInt here would truncate a >= 2^32
          // value into the valid range and sail past the spec guard
          case (3, 0) => datasize = r.varint()
          case (_, wt) => r.skip(wt)
        }
        require(datasize >= 0, s"BlobHeader without datasize at offset $off")
        // spec: compressed blob MUST be < 32 MiB
        require(datasize < 32L * 1024 * 1024,
          s"blob of $datasize bytes at offset $off out of spec (must be < 32 MiB)")
        out += BlobRange(typ, off + 4 + hLen, datasize.toInt)
        off += 4 + hLen + datasize
      }
      out.result()
    } finally in.close()
  }

  /** Header check: fail loudly on required features we don't implement
    * (the spec's mandated behavior for unknown required_features).
    */
  private[sources] def checkHeader(path: String, ranges: Seq[BlobRange]): Unit = {
    val supported = Set("OsmSchema-V0.6", "DenseNodes")
    ranges.find(_.typ == "OSMHeader").foreach { h =>
      val payload = inflateBlob(path, h)
      val r = new Reader(payload, 0, payload.length)
      while (r.hasNext) r.tag() match {
        case (4, 2) =>
          val f = new String(r.rawBytes(), UTF_8)
          require(supported.contains(f), s"unsupported required feature: $f")
        case (_, wt) => r.skip(wt)
      }
    }
  }

  /** Read + decompress one blob's PrimitiveBlock/HeaderBlock payload
    * (positioned Hadoop FS range read — the task-side primitive).
    */
  private[sources] def inflateBlob(path: String, b: BlobRange): Array[Byte] =
    inflateBlobBytes(FsIO.readFullyAt(path, b.offset, b.size))

  /** Parse a Blob message (raw / raw_size+zlib_data) and return the
    * decompressed payload.
    */
  private def inflateBlobBytes(bytes: Array[Byte]): Array[Byte] = {
    val r = new Reader(bytes, 0, bytes.length)
    var raw: Array[Byte] = null
    var rawSize = -1L
    var zlibData: Array[Byte] = null
    while (r.hasNext) r.tag() match {
      case (1, 2) => raw = r.rawBytes()
      case (2, 0) => rawSize = r.varint() // full Long — see datasize note
      case (3, 2) => zlibData = r.rawBytes()
      case (_, wt) => r.skip(wt)
    }
    if (raw != null) raw
    else {
      require(zlibData != null, "blob with neither raw nor zlib_data")
      // spec: uncompressed blob MUST be < 32 MiB
      require(rawSize >= 0 && rawSize < 32L * 1024 * 1024,
        s"blob raw_size $rawSize out of spec (must be in [0, 32 MiB))")
      val inf = new Inflater()
      inf.setInput(zlibData)
      val out = new Array[Byte](rawSize.toInt)
      var done = 0
      val total = rawSize.toInt
      while (!inf.finished() && done < total) {
        val n = inf.inflate(out, done, total - done)
        require(n > 0 || inf.finished(), "truncated zlib blob")
        done += n
      }
      inf.end()
      require(done == total, s"blob raw_size $rawSize but inflated $done")
      out
    }
  }

  private case class BlockCtx(strings: IndexedSeq[String], granularity: Int,
                              latOffset: Long, lonOffset: Long)

  /** Walk one PrimitiveBlock, calling `onGroup` per PrimitiveGroup with
    * the block's string table + coordinate transform.
    */
  private def eachGroup[T](payload: Array[Byte])(onGroup: (BlockCtx, Reader) => Iterator[T]): Iterator[T] = {
    val r = new Reader(payload, 0, payload.length)
    var strings = IndexedSeq.empty[String]
    var granularity = 100; var latOff = 0L; var lonOff = 0L
    val groups = Seq.newBuilder[Reader]
    while (r.hasNext) r.tag() match {
      case (1, 2) =>
        val st = r.lenDelim()
        val b = IndexedSeq.newBuilder[String]
        while (st.hasNext) st.tag() match {
          case (1, 2) => b += new String(st.rawBytes(), UTF_8)
          case (_, wt) => st.skip(wt)
        }
        strings = b.result()
      case (2, 2) => groups += r.lenDelim()
      case (17, 0) => granularity = r.varint().toInt
      case (19, 0) => latOff = r.varint()
      case (20, 0) => lonOff = r.varint()
      case (_, wt) => r.skip(wt)
    }
    val ctx = BlockCtx(strings, granularity, latOff, lonOff)
    groups.result().iterator.flatMap(g => onGroup(ctx, g))
  }

  /** The driver-side blob walk + header check, memoized per
    * (path, file length): the 3-pass import (nodes, ways, relations over
    * one file) would otherwise repeat ~2 positioned reads per blob three
    * times — ~10⁵ redundant object-store round trips on a planet file.
    * Keyed by length so a rewritten file re-indexes; bounded at 16
    * entries (driver reads a handful of files per job).
    */
  private val rangesCache =
    new java.util.LinkedHashMap[(String, Long, Long, Long), Seq[BlobRange]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long, Long), Seq[BlobRange]]): Boolean = size() > 16
    }

  /** FNV-1a over the file's first AND last 64 bytes (the head covers the
    * first BlobHeader; the tail covers the final blob's data, so a
    * same-length rewrite that edits only blob payloads past the header —
    * appending-rewriter patterns — changes the probe too): folded into
    * the driver cache keys so a rewrite inside one coarse-mtime tick
    * (1 s ext4 configs, 2 s FAT, some object stores) still re-indexes
    * instead of serving stale blob offsets. A same-length rewrite whose
    * edits all land strictly BETWEEN the two windows remains undetectable
    * by design — full-content hashing would cost a whole extra pass. Two
    * 64-byte positioned reads per cache lookup — noise next to the pass.
    */
  private def contentProbe(path: String, len: Long): Long = {
    val n = math.min(64L, len).toInt
    if (n <= 0) 0L
    else {
      val head = ContentStamp.fnv1a(FsIO.readFullyAt(path, 0L, n))
      if (len <= 64L) head
      else ContentStamp.fnv1a(FsIO.readFullyAt(path, len - n, n), head)
    }
  }

  private def cacheKey(path: String): (String, Long, Long, Long) = {
    val st = FsIO.status(path)
    (path, st.getLen, st.getModificationTime, contentProbe(path, st.getLen))
  }

  // key computed ONCE per public call and passed down: cacheKey costs an
  // FsIO.status plus a 64-byte ranged read — one round trip per lookup on
  // an object store, so dataRanges/kindCache must share a single probe
  private def dataRanges(key: (String, Long, Long, Long)): Seq[BlobRange] = {
    // keyed by length, mtime AND a head-bytes probe: a same-size rewrite
    // must re-index (and re-run the required_features check), not serve
    // stale blob offsets — even within one mtime-granularity tick
    val path = key._1
    rangesCache.synchronized {
      var v = rangesCache.get(key)
      if (v == null) {
        val ranges = blobIndex(path)
        checkHeader(path, ranges)
        v = ranges.filter(_.typ == "OSMData")
        rangesCache.put(key, v)
      }
      v
    }
  }

  // ---------------------------------------------------- blob-kind index
  //
  // The reference's 3-pass import (nodes, ways, relations over one file)
  // re-reads and re-inflates EVERY blob three times, but a PrimitiveGroup
  // holds exactly one entity kind — so the first pass, which must touch
  // every blob anyway, records each blob's kind mask through a Spark
  // accumulator, and later passes read ONLY their own kind's blobs.
  // Planet shape (~89% node / ~10% way / ~1% relation blobs): I/O drops
  // from 3 passes to ~1.11. The index lives on the driver keyed like the
  // range cache (path, length, mtime, head-probe), so a rewritten file
  // can never serve stale kinds; until the mask set covers every data
  // blob (e.g. a partial first action), passes fall back to the full
  // scan — filtering is only ever applied from COMPLETE knowledge.

  private[sources] val KindNodes = 1
  private[sources] val KindWays = 2
  private[sources] val KindRels = 4

  private final class KindState {
    val accs = scala.collection.mutable.Buffer.empty[org.apache.spark.util.CollectionAccumulator[(Long, Int)]]
    val merged = scala.collection.mutable.HashMap.empty[Long, Int]
    /** Merge every registered accumulator's current snapshot, then DRAIN
      * it (reset): once a tuple is OR-ed into `merged` the accumulator
      * copy is redundant, and draining bounds driver state at one
      * execution's worth per recording Dataset — a pre-coverage Dataset
      * re-executed N times no longer accretes N·n_blobs tuples that no
      * reader would ever drop (ADVICE round 6). Does NOT drop the
      * accumulators themselves: a construct-all-then-run caller registers
      * three recording Datasets before any job runs, and clearing the
      * registry here would permanently discard their still-empty
      * accumulators. A task update landing between the value snapshot and
      * the reset is lost from both — harmless by the coverage contract:
      * filtering only ever engages from COMPLETE blob coverage, and an
      * incomplete `merged` just means the next pass full-scans and
      * re-records. [[release]] drops the references once coverage is
      * complete (no pass registers after that).
      */
    def fold(): Unit =
      accs.foreach { a =>
        a.value.forEach(e => merged.update(e._1, merged.getOrElse(e._1, 0) | e._2))
        a.reset()
      }
    def release(): Unit = accs.clear()
  }

  private val kindCache =
    new java.util.LinkedHashMap[(String, Long, Long, Long), KindState](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long, Long), KindState]): Boolean = size() > 16
    }

  /** Test/bench seam: disables the kind-index filter (every pass scans
    * every blob, the pre-index behavior) so the win is measurable and
    * specs can pin filtered == unfiltered.
    */
  @volatile private[graft] var kindIndexEnabled = true

  /** Entity-kind mask of one inflated PrimitiveBlock: group field 1/2 →
    * nodes (plain/dense), 3 → ways, 4 → relations. Tag-walk only —
    * per-entity length skips, no entity decode.
    */
  private def kindMask(payload: Array[Byte]): Int = {
    val r = new Reader(payload, 0, payload.length)
    var mask = 0
    while (r.hasNext) r.tag() match {
      case (2, 2) =>
        val g = r.lenDelim()
        while (g.hasNext) g.tag() match {
          case (1, wt) => mask |= KindNodes; g.skip(wt)
          case (2, wt) => mask |= KindNodes; g.skip(wt)
          case (3, wt) => mask |= KindWays; g.skip(wt)
          case (4, wt) => mask |= KindRels; g.skip(wt)
          case (_, wt) => g.skip(wt)
        }
      case (_, wt) => r.skip(wt)
    }
    mask
  }

  /** How many blobs a pass for `kind` would scan right now — the filter
    * decision `distribute` makes, observable for specs/benchmarks (no
    * accumulator registration, no side effects beyond the range walk).
    */
  private[graft] def scanRangeCount(path: String, kind: Int): Int = {
    val key = cacheKey(path)
    val all = dataRanges(key)
    if (!kindIndexEnabled) all.size
    else kindCache.synchronized {
      val st = kindCache.get(key)
      if (st == null) all.size
      else {
        st.fold()
        if (all.forall(b => st.merged.contains(b.offset)))
          all.count(b => (st.merged(b.offset) & kind) != 0)
        else all.size
      }
    }
  }

  private def distribute[T: org.apache.spark.sql.Encoder: scala.reflect.ClassTag](
      spark: SparkSession, path: String, kind: Int)(
      decode: Array[Byte] => Iterator[T]): org.apache.spark.sql.Dataset[T] = {
    import spark.implicits._
    val key = cacheKey(path)
    val all = dataRanges(key)
    // (ranges to scan, accumulator to feed) — filter only when the kind
    // index covers EVERY data blob; otherwise scan all and record kinds
    val (ranges, acc) =
      if (!kindIndexEnabled) (all, None)
      else kindCache.synchronized {
        var st = kindCache.get(key)
        if (st == null) { st = new KindState; kindCache.put(key, st) }
        st.fold()
        if (all.forall(b => st.merged.contains(b.offset))) {
          st.release() // coverage complete: no more recorders needed
          (all.filter(b => (st.merged(b.offset) & kind) != 0), None)
        } else {
          val a = spark.sparkContext.collectionAccumulator[(Long, Int)](s"pbf-kinds:$path")
          st.accs += a
          (all, Some(a))
        }
      }
    val parts = math.min(spark.sparkContext.defaultParallelism, math.max(1, ranges.length))
    spark.createDataset(spark.sparkContext.parallelize(ranges, parts)
      .mapPartitions { it =>
        // one Hadoop FS handle per task, positioned read per blob; the
        // shared FsIO.perTaskStream closes it on drain AND at task
        // completion (early abandonment / decode exceptions)
        FsIO.perTaskStream(path, it) { (in, b) =>
          val buf = new Array[Byte](b.size)
          in.readFully(b.offset, buf, 0, b.size)
          val payload = inflateBlobBytes(buf)
          acc.foreach(_.add((b.offset, kindMask(payload))))
          decode(payload)
        }
      })
  }

  /** Distributed dense-node decode → (id, lat, lon) in degrees. Node tags
    * (DenseNodes keys_vals, field 10) are deliberately not extracted: the
    * polygon pipeline consumes node coordinates only (the reference's
    * import keeps node tags but its topology path never reads them), and
    * the field is safely skipped by wire type.
    */
  def nodes(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    distribute[(Long, Double, Double)](spark, path, KindNodes) { payload =>
      eachGroup(payload) { (ctx, g) =>
        var ids, lats, lons: Seq[Long] = Vector.empty[Long]
        while (g.hasNext) g.tag() match {
          case (2, 2) =>
            val d = g.lenDelim()
            while (d.hasNext) d.tag() match {
              case (1, wt) if wt != 5 && wt != 1 => ids = d.repeated(ids, wt, zz = true)
              case (8, wt) if wt != 5 && wt != 1 => lats = d.repeated(lats, wt, zz = true)
              case (9, wt) if wt != 5 && wt != 1 => lons = d.repeated(lons, wt, zz = true)
              case (_, wt) => d.skip(wt)
            }
          case (_, wt) => g.skip(wt)
        }
        def undelta(vs: Seq[Long]): Seq[Long] = vs.scanLeft(0L)(_ + _).tail
        require(ids.length == lats.length && ids.length == lons.length,
          "DenseNodes id/lat/lon length mismatch")
        // correctly-rounded decode: exact Long nanodegrees, then divide
        // (see `quantize` — multiplying by the non-representable 1e-9
        // would drift 1 ulp on ~30% of grid coordinates)
        undelta(ids).lazyZip(undelta(lats)).lazyZip(undelta(lons)).iterator.map {
          case (id, la, lo) =>
            (id, (ctx.latOffset + ctx.granularity.toLong * la).toDouble / 1e9,
                 (ctx.lonOffset + ctx.granularity.toLong * lo).toDouble / 1e9)
        }
      }
    }.toDF("id", "lat", "lon")
  }

  /** Distributed way decode → (id, refs). */
  def ways(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    distribute[(Long, Seq[Long])](spark, path, KindWays) { payload =>
      eachGroup(payload) { (_, g) =>
        val out = Seq.newBuilder[(Long, Seq[Long])]
        while (g.hasNext) g.tag() match {
          case (3, 2) =>
            val w = g.lenDelim()
            var id = 0L; var refs: Seq[Long] = Vector.empty[Long]
            while (w.hasNext) w.tag() match {
              case (1, 0) => id = w.varint()
              case (8, wt) if wt != 5 && wt != 1 => refs = w.repeated(refs, wt, zz = true)
              case (_, wt) => w.skip(wt)
            }
            // delta chain decoded once ALL occurrences are in
            out += ((id, refs.scanLeft(0L)(_ + _).tail))
          case (_, wt) => g.skip(wt)
        }
        out.result().iterator
      }
    }.toDF("id", "refs")
  }

  /** Distributed relation decode → (id, tags, members(id, type, role)),
    * the Fixtures.relationsDf shape.
    */
  def relations(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    distribute[(Long, Map[String, String], Seq[(Long, Int, String)])](spark, path, KindRels) { payload =>
      eachGroup(payload) { (ctx, g) =>
        val out = Seq.newBuilder[(Long, Map[String, String], Seq[(Long, Int, String)])]
        while (g.hasNext) g.tag() match {
          case (4, 2) =>
            val w = g.lenDelim()
            var id = 0L
            var keys, vals, roles, types: Seq[Long] = Vector.empty[Long]
            var memids: Seq[Long] = Vector.empty[Long]
            while (w.hasNext) w.tag() match {
              case (1, 0) => id = w.varint()
              case (2, wt) if wt != 5 && wt != 1 => keys = w.repeated(keys, wt, zz = false)
              case (3, wt) if wt != 5 && wt != 1 => vals = w.repeated(vals, wt, zz = false)
              case (8, wt) if wt != 5 && wt != 1 => roles = w.repeated(roles, wt, zz = false)
              case (9, wt) if wt != 5 && wt != 1 => memids = w.repeated(memids, wt, zz = true)
              case (10, wt) if wt != 5 && wt != 1 => types = w.repeated(types, wt, zz = false)
              case (_, wt) => w.skip(wt)
            }
            memids = memids.scanLeft(0L)(_ + _).tail // delta chain, after all occurrences
            require(keys.length == vals.length,
              s"relation $id: keys/vals length mismatch (${keys.length}/${vals.length})")
            require(roles.length == memids.length && types.length == memids.length,
              s"relation $id: member array length mismatch " +
                s"(roles ${roles.length}, memids ${memids.length}, types ${types.length})")
            val tags = keys.zip(vals).map { case (k, v) =>
              (ctx.strings(k.toInt), ctx.strings(v.toInt))
            }.toMap
            val members = memids.indices.map { i =>
              (memids(i), types(i).toInt, ctx.strings(roles(i).toInt))
            }
            out += ((id, tags, members))
          case (_, wt) => g.skip(wt)
        }
        out.result().iterator
      }
    }.toDF("id", "tags", "members")
      .withColumn("members",
        expr("transform(members, m -> struct(m._1 AS id, m._2 AS type, m._3 AS role))"))
  }

}
