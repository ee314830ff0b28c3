package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GeomExpressions._
import graft.geom.{Algorithms, Jts, PolygonAssembly, RingAssembly}

/** The ingest pipeline: OSM-shaped tables → assembled polygon layers →
  * cell-cover index tables. Spark-first re-expression of the reference's
  * 3-pass import + relation assembly + lookup-index load
  * (/root/reference/osmtopo/import.go:61-124, storage.go:128-201,
  * env.go:251-352):
  *
  *  - relation acceptance, the tag whitelist and the layer are computed
  *    before any join, so a relation outside every layer never reaches one;
  *  - the PBF passes' needed-id bitmap trie becomes the member → way inner
  *    join and the ref → node left join: only referenced rows survive them;
  *  - a relation's geometry is built in one function, as the reference's
  *    `ToGeometry` builds it (storage.go:128-201): the relation's node refs,
  *    with their coordinates, are collected by one `relId` aggregation, and
  *    ring assembly, polygon assembly and `buffer(0)` run per relation;
  *  - the segment-tree build becomes a materialized `cell_covers` table
  *    keyed by cover cell id (ranges derivable from the id itself).
  */
object Ingest {

  /** layer id → accepted admin levels (mirrors the reference's
    * config-benelux.yaml layer shape).
    */
  val layerAdminLevels: Seq[(String, Seq[Int])] =
    Seq("countries" -> Seq(2), "regions" -> Seq(4), "cities" -> Seq(6, 8))

  /** S2: relation acceptance (admin_level tag present or natural=water)
    * minus blacklist (storage.go:15-30); S4: tag whitelist projection
    * (storage.go:32-37).
    */
  def acceptedRelations(relations: DataFrame, blacklist: Seq[Long]): DataFrame =
    relations
      .filter(element_at(col("tags"), "admin_level").isNotNull ||
        element_at(col("tags"), "natural") === "water")
      .filter(!col("id").isin(blacklist: _*))
      .withColumn("tags", expr(
        "map_filter(tags, (k, v) -> k = 'admin_level' OR k = 'name' OR k LIKE 'name:%' OR k = 'natural')"))

  /** One node ref of a relation's way member: the member position `pos`,
    * its role, the way's ref count `n`, the ref's position `refPos` in the
    * way, and the node's coordinates (None when no node row matched).
    */
  private type Ref = (Int, String, Int, Int, Long, Option[Double], Option[Double])

  /** Full assembly: returns `polygons(relId, adminLevel, layer, name, wkb,
    * bbox)`. Relations whose geometry fails to assemble (unclosed rings,
    * missing nodes, sub-threshold area) are dropped, mirroring
    * geometries.go:136-140.
    */
  def polygons(spark: SparkSession, nodes: DataFrame, ways: DataFrame,
               relations: DataFrame, blacklist: Seq[Long]): DataFrame = {
    import spark.implicits._

    // P3: admin level, layer and display name, before any join
    val layerCase = layerAdminLevels
      .flatMap { case (layer, lvls) => lvls.map(l => s"WHEN $l THEN '$layer'") }
      .mkString("CASE adminLevel ", " ", " ELSE NULL END")
    val rels = acceptedRelations(relations, blacklist)
      .select(col("id").as("relId"),
        coalesce(element_at(col("tags"), "admin_level").cast("int"), lit(0)).as("adminLevel"),
        element_at(col("tags"), "name").as("name"),
        element_at(col("tags"), "natural").as("natural"), col("members"))
      .withColumn("layer", when(col("natural") === "water", lit("water"))
        .otherwise(expr(layerCase)))
      .filter(col("layer").isNotNull)
    val keys = Seq("relId", "adminLevel", "layer", "name").map(col)

    // G1: way members with role outer/inner, with their member position.
    // S3: the inner join keeps only member ways; a missing way drops out
    // (storage.go:138-141).
    val memberWays = rels
      .select(keys :+ posexplode(col("members")).as(Seq("pos", "m")): _*)
      .filter(col("m.type") === 1 && col("m.role").isin("outer", "inner"))
      .select(keys ++ Seq(col("pos"), col("m.role").as("role"), col("m.id").as("wayId")): _*)
      .join(ways.withColumnRenamed("id", "wayId"), Seq("wayId"))

    // G3: node refs in way order, left-joined with their coordinates, so
    // a missing node stays visible as a row without coordinates
    val refs = memberWays
      .select(keys ++ Seq(col("pos"), col("role"), size(col("refs")).as("n"),
        posexplode(col("refs")).as(Seq("refPos", "nodeId"))): _*)
      .join(nodes.withColumnRenamed("id", "nodeId"), Seq("nodeId"), "left")

    // G2+G4+G5: one relId aggregation, then the relation's geometry in
    // one function
    refs
      .groupBy(keys: _*)
      .agg(collect_list(struct(col("pos"), col("role"), col("n"), col("refPos"),
        col("nodeId"), col("lon"), col("lat"))).as("refs"))
      .as[(Long, Int, String, String, Seq[Ref])]
      .flatMap { case (relId, adminLevel, layer, name, rs) =>
        assemble(rs).map(wkb => (relId, adminLevel, layer, name, wkb))
      }
      .toDF("relId", "adminLevel", "layer", "name", "wkb")
      .withColumn("bbox", st_envelope(col("wkb")))
  }

  /** One relation's WKB from its node refs, or None. A ref without a node,
    * or a way whose row count is not its ref count (a missing or a
    * repeated node row), aborts the relation (storage.go:194-196). Ways
    * merge into rings per role in member order ([[RingAssembly.reduce]]).
    */
  private def assemble(refs: Seq[Ref]): Option[Array[Byte]] = {
    val byWay = refs.groupBy(_._1)
    if (refs.exists(_._6.isEmpty) || byWay.exists { case (_, rs) => rs.length != rs.head._3 }) None
    else {
      val coords = refs.iterator.map(r => r._5 -> (r._6.get, r._7.get)).toMap
      val ordered = byWay.toSeq.sortBy(_._1).map { case (_, rs) => (rs.head._2, rs.sortBy(_._4).map(_._5)) }
      def rings(role: String): Seq[IndexedSeq[(Double, Double)]] =
        RingAssembly.reduce(ordered.filter(_._1 == role).map(_._2)).map(_.map(coords).toIndexedSeq)
      PolygonAssembly.makePolygons(rings("outer"), rings("inner")) match {
        case Some(g) if !g.isEmpty =>
          try Some(Jts.toWkb(g.buffer(0))) catch { case _: Exception => None }
        case _ => None
      }
    }
  }

  /** J1/J3: the materialized cover table. Ranges are derived from the cell
    * id (S2-style lsb arithmetic) — pure column math, no extra expression.
    */
  def cellCovers(polygons: DataFrame): DataFrame =
    polygons
      .select(col("relId"), col("layer"), explode(st_cell_cover(col("wkb"))).as("cellId"))
      .withColumn("cellMin", expr("cellId - (cellId & -cellId) + 1"))
      .withColumn("cellMax", expr("cellId + (cellId & -cellId) - 1"))

  /** S5/G7: water shapefile-part pipeline — per-part Visvalingam(1e-5),
    * |area|<1e-5 drop, shoelace-sign outer/inner classification, polygon
    * assembly, buffer(0) (water.go:146-233). Returns water(id, wkb).
    */
  def waterPolygons(spark: SparkSession, water: DataFrame): DataFrame = {
    import spark.implicits._
    water
      .select(col("id"), col("rings"))
      .as[(Long, Seq[Seq[(Double, Double)]])]
      .flatMap { case (id, parts) =>
        val outer = collection.mutable.ArrayBuffer[IndexedSeq[(Double, Double)]]()
        val inner = collection.mutable.ArrayBuffer[IndexedSeq[(Double, Double)]]()
        for (part <- parts if part.length >= 3) {
          val simplified = Algorithms.visvalingam(part.toIndexedSeq, 1e-5)
          val area = Algorithms.ringArea(simplified)
          if (math.abs(area) >= 1e-5) {
            if (area >= 0) outer += simplified else inner += simplified
          }
        }
        if (outer.isEmpty) Iterator.empty
        else PolygonAssembly.makePolygons(
          outer.toSeq.map(r => (r :+ r.head)), inner.toSeq.map(r => (r :+ r.head))) match {
          case Some(g) if !g.isEmpty =>
            try Iterator.single((id, Jts.toWkb(g.buffer(0)))) catch { case _: Exception => Iterator.empty }
          case _ => Iterator.empty
        }
      }
      .toDF("id", "wkb")
  }
}
