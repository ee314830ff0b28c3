package graft.tools

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.SparkSession

import graft.operators.Ingest
import graft.server.TopoServer
import graft.sources.Fixtures

/** Request-latency profile of the HTTP serving surface: cold vs cached
  * topo render, point lookup (suggestions), and the batched missing
  * import — the interactive workload the reference server carries.
  * One local server over the fixture world; wall per request printed.
  *
  * Usage: sbt "runMain graft.tools.ServerBench"
  */
object ServerBench {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-server-bench")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GeomExpressions.register(spark)

    val polys = Ingest.polygons(spark, Fixtures.nodesDf(spark), Fixtures.waysDf(spark),
      Fixtures.relationsDf(spark), Fixtures.blacklist).cache()
    polys.count()
    val water = Ingest.waterPolygons(spark, Fixtures.waterDf(spark))
    val dataDir = java.nio.file.Files.createTempDirectory("server_bench")
    val server = new TopoServer(spark, polys, water,
      Seq(TopoServer.LayerConfig("countries", 3, Seq("nl", "en"))), dataDir,
      relations = Some(Fixtures.relationsDf(spark))).start()
    val port = server.boundPort
    val http = HttpClient.newHttpClient()

    def get(path: String): (Int, Double, Int) = {
      val t0 = System.nanoTime()
      val r = http.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val ms = (System.nanoTime() - t0) / 1000000.0
      (r.statusCode(), ms, r.body().length)
    }
    def post(path: String, body: String): Double = {
      val t0 = System.nanoTime()
      http.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      (System.nanoTime() - t0) / 1000000.0
    }

    try {
      post("/api/add", """{"countries":100}""")
      val (_, coldMs, bytes) = get("/api/topo/countries/101")
      val (_, warmMs, _) = get("/api/topo/countries/101")
      val (_, warm2Ms, _) = get("/api/topo/countries/101")
      println(f"topo render cold   ${coldMs}%8.1f ms  ($bytes B)")
      println(f"topo render cached ${warmMs}%8.1f ms / ${warm2Ms}%8.1f ms")

      // batched missing import: N coordinates against the in-memory curated index
      def coords(n: Int): String =
        (0 until n).map(i => s"""{"lat":${35.0 + i * 1e-4},"lon":${139.7 + i * 1e-4}}""")
          .mkString("[", ",", "]")
      val d1 = post("/api/missing", coords(1))
      val d100 = post("/api/missing", coords(100))
      println(f"missing import 1   ${d1}%8.1f ms")
      println(f"missing import 100 ${d100}%8.1f ms (${d100 / 100}%.1f ms/coord batched)")

      val (_, c1, _) = get("/api/coordinate")
      val (_, c2, _) = get("/api/coordinate")
      println(f"coordinate+suggest ${c1}%8.1f ms / ${c2}%8.1f ms")

      val (_, g1, _) = get("/api/geometry/100")
      val (_, cov1, _) = get("/api/coverage/100")
      println(f"geometry           ${g1}%8.1f ms")
      println(f"coverage           ${cov1}%8.1f ms")
    } finally { server.stop(); spark.stop() }
  }
}
