package graft.sources

import java.io.{ByteArrayOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Real osmChange (.osc.gz) diff reader + writer — the replication format
  * the reference's update loop consumes (source.go:93-220: fetch
  * sequence-numbered gzipped changesets, parse create/modify/delete
  * elements via imposm3's diff parser, apply as remove/upsert with the
  * sequence checkpointed). The XML schema is the public OSM osmChange
  * 0.6 format: <osmChange><create|modify|delete><node|way|relation …>.
  *
  * Scale shape: ONE .osc file is small (an OSM minutely/hourly diff is
  * MBs) and XML is not splittable, so the unit of parallelism is the
  * FILE — `read*` take a directory of `<seq>.osc.gz` files, parallelize
  * the file list, and each task gunzips + StAX-streams its own files.
  * A replication backlog of thousands of sequences fans out across the
  * cluster; applying them preserves per-entity order via (seq, position)
  * last-writer-wins (`applyNodes`), which equals the reference's
  * sequential element-by-element apply because upsert/remove are
  * idempotent on final state.
  *
  * Parsing is JDK StAX (javax.xml.stream) over a stream opened straight
  * off the FileSystem — no DOM, no whole-file buffer; one file's parsed
  * rows are buffered (bounded by the MB-scale diff size).
  */
object OscDiff {

  val Create = "create"
  val Modify = "modify"
  val Delete = "delete"

  // -------------------------------------------------------------- writing

  /** Attribute-value escape. Tab/LF/CR must become character references:
    * XML 1.0 §3.3.3 attribute-value normalization rewrites literal
    * whitespace control characters to spaces on PARSE, so leaving them
    * raw would make the write→read round trip lossy.
    */
  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")
      .replace("\t", "&#9;").replace("\n", "&#10;").replace("\r", "&#13;")

  /** One changeset's content: per action, the entities it touches.
    * Deletes carry payloads too (the osc format includes them; apply
    * ignores everything but the id, as the reference does).
    */
  case class Change(action: String,
                    nodes: Seq[(Long, Double, Double)] = Nil,
                    ways: Seq[(Long, Seq[Long])] = Nil,
                    relations: Seq[(Long, Map[String, String], Seq[(Long, Int, String)])] = Nil)

  private val memberTypes = Vector("node", "way", "relation")

  /** Write one sequence's gzipped osmChange file as `<dir>/<seq>.osc.gz`. */
  def write(dir: String, seq: Long, changes: Seq[Change]): String = {
    val bos = new ByteArrayOutputStream()
    val w = new OutputStreamWriter(new GZIPOutputStream(bos), UTF_8)
    w.write("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
    w.write("<osmChange version=\"0.6\" generator=\"graft-osc\">\n")
    changes.foreach { c =>
      w.write(s"  <${c.action}>\n")
      c.nodes.foreach { case (id, lat, lon) =>
        w.write(s"""    <node id="$id" lat="$lat" lon="$lon" version="1"/>\n""")
      }
      c.ways.foreach { case (id, refs) =>
        w.write(s"""    <way id="$id" version="1">\n""")
        refs.foreach(r => w.write(s"""      <nd ref="$r"/>\n"""))
        w.write("    </way>\n")
      }
      c.relations.foreach { case (id, tags, members) =>
        w.write(s"""    <relation id="$id" version="1">\n""")
        members.foreach { case (mid, mtype, role) =>
          w.write(s"""      <member type="${memberTypes(mtype)}" ref="$mid" role="${esc(role)}"/>\n""")
        }
        tags.toSeq.sortBy(_._1).foreach { case (k, v) =>
          w.write(s"""      <tag k="${esc(k)}" v="${esc(v)}"/>\n""")
        }
        w.write("    </relation>\n")
      }
      w.write(s"  </${c.action}>\n")
    }
    w.write("</osmChange>\n")
    w.close()
    val path = java.nio.file.Paths.get(dir, s"$seq.osc.gz")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, bos.toByteArray)
    path.toString
  }

  // -------------------------------------------------------------- reading

  /** The `<seq>.osc.gz` files under `dir`, (seq, path), sorted by seq. */
  private def seqFiles(dir: String): Seq[(Long, String)] = {
    val (fs, p) = FsIO.open(dir)
    val it = fs.listStatus(p).toSeq
    it.map(_.getPath)
      .filter(_.getName.endsWith(".osc.gz"))
      .map { f =>
        val base = f.getName.stripSuffix(".osc.gz")
        // a replication dir must hold ONLY sequence files — a stray
        // non-numeric .osc.gz is malformed input, not something to skip
        // (a silently skipped sequence would be silent data loss)
        require(base.forall(_.isDigit) && base.nonEmpty,
          s"non-sequence change file in replication dir: ${f.getName}")
        (base.toLong, f.toString)
      }
      .sortBy(_._1)
  }

  /** Parsed element rows for one entity kind, streamed out of one file.
    * `ord` is the element's document position within its file — together
    * with seq it defines the apply order.
    */
  // private[sources], not private: a Scala-`private` nested class emits
  // JVM-private access that Janino-generated serializer code cannot
  // reference — every Dataset[Parsed] stage then logs a CodeGenerator
  // compile error and falls back to interpreted execution. The
  // package-qualified form erases to public bytecode, keeping the rows
  // inside whole-stage codegen, while staying invisible outside the
  // sources package at compile time.
  private[sources] case class Parsed(seq: Long, ord: Long, action: String,
                                     id: Long, lat: Double, lon: Double,
                                     refs: Seq[Long],
                                     tags: Map[String, String],
                                     members: Seq[(Long, Int, String)])

  /** Streams the gzipped XML straight off the FileSystem — no whole-file
    * buffer, no 2 GB Int ceiling. The PARSED rows of one file are
    * buffered (a replication diff is MBs; the row set is bounded by it).
    */
  private def parseFile(seq: Long, path: String, kind: String): Iterator[Parsed] = {
    val in = new GZIPInputStream(FsIO.openStream(path))
    try parseStream(seq, in, kind)
    finally in.close() // also on parse errors — no descriptor per failed attempt
  }

  private def parseStream(seq: Long, in: java.io.InputStream, kind: String): Iterator[Parsed] = {
    val f = javax.xml.stream.XMLInputFactory.newInstance()
    f.setProperty(javax.xml.stream.XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(javax.xml.stream.XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    val r = f.createXMLStreamReader(in, "UTF-8")
    val out = Seq.newBuilder[Parsed]
    var action: String = null
    var ord = 0L
    // current entity accumulators
    var inKind = false
    var id = 0L; var lat = 0.0; var lon = 0.0
    var refs = Seq.newBuilder[Long]
    var tags = Map.newBuilder[String, String]
    var members = Seq.newBuilder[(Long, Int, String)]
    def attr(name: String): String = {
      var i = 0
      while (i < r.getAttributeCount) {
        if (r.getAttributeLocalName(i) == name) return r.getAttributeValue(i)
        i += 1
      }
      null
    }
    while (r.hasNext) {
      r.next() match {
        case javax.xml.stream.XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case a @ (Create | Modify | Delete) => action = a
            case k @ ("node" | "way" | "relation") =>
              require(action != null, s"<$k> outside a change action block")
              ord += 1
              if (k == kind) {
                inKind = true
                id = attr("id").toLong
                if (k == "node") { lat = attr("lat").toDouble; lon = attr("lon").toDouble }
                refs = Seq.newBuilder; tags = Map.newBuilder[String, String]; members = Seq.newBuilder
              }
            case "nd" if inKind => refs += attr("ref").toLong
            case "tag" if inKind => tags += ((attr("k"), attr("v")))
            case "member" if inKind =>
              val t = memberTypes.indexOf(attr("type"))
              require(t >= 0, s"unknown member type ${attr("type")}")
              members += ((attr("ref").toLong, t, Option(attr("role")).getOrElse("")))
            case _ => ()
          }
        case javax.xml.stream.XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case k @ ("node" | "way" | "relation") if inKind && k == kind =>
              out += Parsed(seq, ord, action, id, lat, lon,
                refs.result(), tags.result(), members.result())
              inKind = false
            case _ => ()
          }
        case _ => ()
      }
    }
    r.close()
    out.result().iterator
  }

  private def readKind(spark: SparkSession, dir: String, kind: String): DataFrame = {
    val files = seqFiles(dir)
    require(files.nonEmpty, s"no .osc.gz sequence files under $dir")
    readKindFiles(spark, files, kind)
  }

  /** readKind over an EXPLICIT (seq, path) file set — the micro-batch
    * replication loop ([[graft.streaming.OscStream]]) parses exactly the
    * batch's files instead of re-listing the directory.
    */
  private[graft] def readKindFiles(spark: SparkSession,
                                   files: Seq[(Long, String)], kind: String): DataFrame = {
    import spark.implicits._
    val parts = math.min(spark.sparkContext.defaultParallelism, files.length)
    val ds = spark.createDataset(
      spark.sparkContext.parallelize(files, parts)
        .flatMap { case (seq, path) => parseFile(seq, path, kind) })
    kind match {
      case "node" => ds.select($"seq", $"ord", $"action", $"id", $"lat", $"lon")
      case "way" => ds.select($"seq", $"ord", $"action", $"id", $"refs")
      case _ =>
        ds.select($"seq", $"ord", $"action", $"id", $"tags", $"members")
          .withColumn("members",
            expr("transform(members, m -> struct(m._1 AS id, m._2 AS type, m._3 AS role))"))
    }
  }

  /** Distributed decode: node changes (seq, ord, action, id, lat, lon). */
  def nodes(spark: SparkSession, dir: String): DataFrame = readKind(spark, dir, "node")

  /** Way changes (seq, ord, action, id, refs). */
  def ways(spark: SparkSession, dir: String): DataFrame = readKind(spark, dir, "way")

  /** Relation changes (seq, ord, action, id, tags, members). */
  def relations(spark: SparkSession, dir: String): DataFrame = readKind(spark, dir, "relation")

  // -------------------------------------------------------------- apply

  /** The last-writer-wins rule: per id, the change with the highest
    * (seq, ord) — the only change that decides the id's final state.
    */
  def winners(changes: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("id")).orderBy(col("seq").desc, col("ord").desc)
    changes.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** Replication apply, the reference's remove/upsert semantics
    * (source.go:145-214) as one distributed last-writer-wins MERGE:
    * the winner per id is the change with the highest (seq, ord); a
    * winning delete removes the id, anything else upserts `payload`.
    * Equal to applying every element sequentially because remove/upsert
    * only depend on the final change per key.
    */
  def applyLast(base: DataFrame, changes: DataFrame, payload: Seq[String]): DataFrame = {
    val winners = OscDiff.winners(changes)
    val upserts = winners.filter(col("action") =!= Delete)
      .select((col("id") +: payload.map(col)): _*)
    base
      .join(winners.select("id"), Seq("id"), "left_anti") // drop every touched id
      .unionByName(upserts)                               // re-add non-delete winners
  }

  /** applyLast for the (id, lat, lon) node table. */
  def applyNodes(base: DataFrame, changes: DataFrame): DataFrame =
    applyLast(base, changes, Seq("lat", "lon"))
}
