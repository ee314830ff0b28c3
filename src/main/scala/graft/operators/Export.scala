package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.geom.Jts

/** E1: the per-layer export driver — curated-id filter → pre-clip
  * simplification → water clip → names → quantized topology → greedy
  * slicing (/root/reference/osmtopo/export.go:16-48, env.go:427-431).
  */
object Export {

  /** P3: property enrichment — name + name:<lang> per configured language,
    * skipping name:en when it equals name (geometries.go:147-161).
    */
  def withNames(polygons: DataFrame, relations: DataFrame, languages: Seq[String]): DataFrame = {
    val langCols = languages.map { lang =>
      val v = element_at(col("tags"), s"name:$lang")
      val cleaned = if (lang == "en") when(v === element_at(col("tags"), "name"), null).otherwise(v) else v
      cleaned.as(s"name_$lang")
    }
    polygons.join(
      relations.select((col("id").as("relId")) +: langCols: _*), Seq("relId"), "left")
  }

  /** Rebuild feature geometries from a topology's simplified arcs —
    * the ToGeoJSON step between pre-simplification and clipping
    * (geometries.go:199). Consecutive arcs share their junction endpoint,
    * which is dropped on concatenation.
    *
    * Distributed: arc points reach each object's group through a join on
    * arcId (arcs are never collected to the driver), so reconstruction
    * scales with the cluster rather than with driver memory.
    */
  def reconstruct(topo: TopoPipeline.Topology): DataFrame = {
    val spark = topo.arcs.sparkSession
    import spark.implicits._

    topo.uses.join(topo.arcs, Seq("arcId"))
      .select(col("objId").as("_1"), col("polyIdx").as("_2"), col("ringIdx").as("_3"),
        col("segIdx").as("_4"), col("reversed").as("_5"), col("pts").as("_6"))
      .as[(Long, Int, Int, Int, Boolean, Seq[(Double, Double)])]
      .groupByKey(_._1)
      .mapGroups { (objId, it) =>
        val uses = it.toSeq.sortBy(u => (u._2, u._3, u._4)) // polyIdx, ringIdx, segIdx
        val rings = uses.groupBy(u => (u._2, u._3)).toSeq.sortBy(_._1).map { case ((pi, ri), segs) =>
          val pts = segs.sortBy(_._4).foldLeft(Vector.empty[(Double, Double)]) { (acc, u) =>
            val seq = if (u._5) u._6.reverse else u._6
            if (acc.isEmpty) acc ++ seq else acc ++ seq.drop(1)
          }
          (pi, ri, pts)
        }
        val polys = rings.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, rs) =>
          val sorted = rs.sortBy(_._2)
          val shell = sorted.head._3
          val holes = sorted.tail.map(_._3.toIndexedSeq)
          Jts.polygon(shell.toIndexedSeq, holes)
        }
        val geom: org.locationtech.jts.geom.Geometry =
          if (polys.length == 1) polys.head
          else Jts.factory.createMultiPolygon(polys.toArray)
        (objId, Jts.toWkb(geom))
      }
      .toDF("objId", "wkb")
  }

  case class LayerResult(layer: String, topo: TopoPipeline.Topology, slices: Seq[(Long, Int)],
                         props: Option[DataFrame] = None,
                         private[operators] val caches: Seq[DataFrame] = Nil) {
    /** Release every cache this layer export pinned (the clipped feature
      * table, the pre-simplify topology's and the final topology's
      * internals). Call after the layer is written.
      */
    def release(): Unit = {
      caches.foreach(_.unpersist())
      topo.release()
    }
  }

  private def jsonEsc(s: String): String = graft.JsonUtil.esc(s)

  /** S10: one TopoJSON document per slice, as (slice, json). Arc indices
    * follow the TopoJSON convention: forward i, reversed ^i. Slice
    * documents subset objects and renumber the referenced arcs (the
    * topo.Filter step, export.go:95-99); bounding boxes are dropped.
    * Objects carry `properties` (name, name:<lang>)
    * when the layer was exported with names (export.go:36-43,
    * geometries.go:147-161).
    *
    * Distributed: each slice's JSON is assembled inside a `groupByKey(slice)
    * .mapGroups` — arcs and uses are joined in, never collected wholesale.
    *
    * Quantized topologies write integer delta-encoded arcs with the
    * transform; unquantized ones write absolute double positions and omit
    * the transform, per the TopoJSON spec.
    */
  def sliceDocuments(result: LayerResult): Dataset[(Int, String)] = {
    val spark = result.topo.uses.sparkSession
    import spark.implicits._

    // one JSON array string per arc (quantized deltas or absolute doubles)
    val arcJs = result.topo.arcsQ match {
      case Some(q) => q.select(col("arcId").as("_1"), col("qpts").as("_2"))
        .as[(Long, Seq[(Int, Int)])]
        .map { case (id, pts) => (id, pts.map(p => s"[${p._1},${p._2}]").mkString("[", ",", "]")) }
      case None => result.topo.arcs.select(col("arcId").as("_1"), col("pts").as("_2"))
        .as[(Long, Seq[(Double, Double)])]
        .map { case (id, pts) => (id, pts.map(p => s"[${p._1},${p._2}]").mkString("[", ",", "]")) }
    }

    // one JSON fragment per object's properties, when names were attached
    val propsJs: DataFrame = result.props match {
      case Some(p) =>
        val langCols = p.columns.filter(_.startsWith("name_")).sorted
        val spec = p.columns.indexOf("name") ->
          langCols.map(c => p.columns.indexOf(c) -> c.stripPrefix("name_"))
        p.map { row =>
          val (nameIdx, langs) = spec
          val kvs = Seq.newBuilder[(String, String)]
          if (!row.isNullAt(nameIdx)) kvs += ("name" -> row.getString(nameIdx))
          langs.foreach { case (i, lang) =>
            if (!row.isNullAt(i)) kvs += (s"name:$lang" -> row.getString(i))
          }
          val json = kvs.result()
            .map { case (k, v) => s""""${jsonEsc(k)}":"${jsonEsc(v)}"""" }
            .mkString("{", ",", "}")
          (row.getLong(row.fieldIndex("objId")), json)
        }.toDF("objId", "propsJson")
      case None => Seq.empty[(Long, String)].toDF("objId", "propsJson")
    }

    val sliceDf = result.slices.toDF("objId", "slice")
    val rows = result.topo.uses
      .join(sliceDf, Seq("objId"))
      .join(arcJs.toDF("arcId", "arcJson"), Seq("arcId"))
      .join(propsJs, Seq("objId"), "left")
      .select(col("slice").as("_1"), col("objId").as("_2"), col("polyIdx").as("_3"),
        col("ringIdx").as("_4"), col("segIdx").as("_5"), col("arcId").as("_6"),
        col("reversed").as("_7"), col("arcJson").as("_8"), col("propsJson").as("_9"))
      .as[(Int, Long, Int, Int, Int, Long, Boolean, String, String)]

    val transformJson = result.topo.transform.map { case (kx, ky, x0, y0) =>
      s""""transform":{"scale":[${1 / kx},${1 / ky}],"translate":[$x0,$y0]},"""
    }.getOrElse("")

    rows.groupByKey(_._1).mapGroups { (slice, it) =>
      val uses = it.toArray
      val byObj = uses.groupBy(_._2)
      val objIds = byObj.keys.toSeq.sorted
      val arcJson = uses.map(u => u._6 -> u._8).toMap
      val sliceArcIds = uses.map(_._6).distinct.sorted
      val renumber = sliceArcIds.zipWithIndex.toMap
      val arcsJson = sliceArcIds.map(arcJson).mkString("[", ",", "]")
      val objectsJson = objIds.map { id =>
        val byPoly = byObj(id).groupBy(_._3).toSeq.sortBy(_._1)
        def ringArcs(segs: Array[(Int, Long, Int, Int, Int, Long, Boolean, String, String)]): String =
          segs.sortBy(_._5).map { u =>
            val i = renumber(u._6)
            if (u._7) ~i else i
          }.mkString("[", ",", "]")
        val polysJson = byPoly.map { case (_, ringsOfPoly) =>
          ringsOfPoly.groupBy(_._4).toSeq.sortBy(_._1)
            .map { case (_, segs) => ringArcs(segs) }.mkString("[", ",", "]")
        }
        val (gtype, arcs) =
          if (polysJson.length == 1) ("Polygon", polysJson.head)
          else ("MultiPolygon", polysJson.mkString("[", ",", "]"))
        val props = Option(byObj(id).head._9).map(p => s""","properties":$p""").getOrElse("")
        s""""$id":{"type":"$gtype","arcs":$arcs,"id":"$id"$props}"""
      }.mkString(",")
      (slice, s"""{"type":"Topology",$transformJson"objects":{$objectsJson},"arcs":$arcsJson}""")
    }
  }

  /** S10: the TopoJSON file sink — [[sliceDocuments]] written as one
    * `NNNN.topojson` per slice (export.go:101-114) under
    * `outDir/<layer>`. The driver streams one finished slice document at
    * a time (`toLocalIterator`). Returns the written paths, sorted.
    */
  def writeSlices(result: LayerResult, outDir: String): Seq[String] = {
    import java.nio.file.{Files, Paths}
    val dir = Paths.get(outDir, result.layer)
    Files.createDirectories(dir)
    val out = Seq.newBuilder[String]
    val it = sliceDocuments(result).toLocalIterator()
    while (it.hasNext) {
      val (slice, json) = it.next()
      val path = dir.resolve(f"$slice%04d.topojson")
      Files.writeString(path, json)
      out += path.toString
    }
    out.result().sorted
  }

  /** Run the full export for one layer: curated ids → simplify →
    * clip water → names → quantized topology → slices. When `relations`
    * is given, the exported objects carry name/name:<lang> properties
    * (export.go:36-43) emitted into the TopoJSON by sliceDocuments.
    */
  def layer(polygons: DataFrame, water: DataFrame, layerId: String,
            curatedIds: Seq[Long], simplifyDigits: Int,
            quantize: Double = 1e6, pointLimit: Int = 10000,
            relations: Option[DataFrame] = None,
            languages: Seq[String] = Nil): LayerResult = {
    import org.apache.spark.sql.functions.col

    val curated = polygons
      .filter(col("layer") === layerId && col("relId").isin(curatedIds: _*))

    // P3: property enrichment for the export objects
    val props = relations.map { rels =>
      withNames(curated, rels, languages)
        .select((col("relId").as("objId") +: col("name") +:
          languages.map(l => col(s"name_$l"))): _*)
    }

    val features0 = curated.select(col("relId").as("objId"), col("wkb"), col("bbox"))

    // P5: pre-clip simplification (simplify > 0 ∧ clipwater), no quantize
    val preTopo = if (simplifyDigits > 0) Some(TopoPipeline.topology(features0, simplifyDigits, 0)) else None
    val preSimplified = preTopo match {
      case Some(pre) => reconstruct(pre).join(features0.select("objId", "bbox"), Seq("objId"))
      case None => features0
    }

    // P6: water clip
    val clipped = TopoPipeline.clipWater(
      preSimplified.select("objId", "wkb", "bbox"), water, simplifyDigits)

    // recompute bbox after clipping, then final quantized topology.
    // cache: topology() evaluates its feature input twice (ring explode +
    // the objects bbox join), and rebboxed chains the pre-simplify
    // topology + reconstruct + water clip — without the cache that whole
    // pipeline runs twice per export
    val rebboxed = clipped
      .withColumn("bbox", graft.functions.GeomExpressions.st_envelope(col("wkb")))
      .cache()
    val topo0 = TopoPipeline.topology(rebboxed, simplifyDigits, quantize)
    // Truncate lineage on the layer's outward tables: every downstream
    // action on arcs/arcsQ/uses/objects used to drag the full
    // two-topology lineage through analysis and (on cache-lookup misses)
    // partial re-execution — a measured ~1-2 s of fixed overhead PER
    // ACTION at fixture scale (slices alone spent ~3 s on a cached 5-row
    // table; see BENCH.md round 5). localCheckpoint stores the per-layer
    // results and frees the plan. Trade-off vs cache(): checkpointed
    // blocks are not recomputable on executor loss — acceptable for
    // per-layer EXPORT tables (curated layers are 10^3-10^4 objects;
    // arcs/uses are the layer's own output size; a lost block fails the
    // export, which is simply re-run), and exactly the trade Knn already
    // makes per search round.
    val topo = topo0.copy(
      arcs = topo0.arcs.localCheckpoint(),
      arcsQ = topo0.arcsQ.map(_.localCheckpoint()),
      uses = topo0.uses.localCheckpoint(),
      objects = topo0.objects.localCheckpoint(),
      caches = Nil)
    // everything outward is materialized — the pre-simplify topology, the
    // final topology's internals AND rebboxed can all go now
    preTopo.foreach(_.release())
    topo0.release()
    rebboxed.unpersist()
    val sl = TopoPipeline.slices(topo.objects, pointLimit)
    LayerResult(layerId, topo, sl, props, caches = Nil)
  }
}
