package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark driver: one workload per JVM.
  *
  *   --workload pip_tile|topo_build|serve|query_suite   --seed N   --seconds S   --trace 0|1
  *   --root DIR (scratch files)   --out FILE (raw output)   --bench-dir DIR (perfbench/)
  *   [--tiny] [--plant]
  *
  * An untraced run sets the workload up five times (median = setup_s),
  * computes the expected outputs, warms up, then runs and checks
  * operations for S seconds, with the tracer off. A traced run sets up
  * once, alternates blocks of plain and traced operations (their medians
  * give the tracing overhead), and then profiles the layers of every
  * workload at the same seed, so each traced run reports every per-layer
  * metric. The last stdout line is the result JSON; the raw output
  * (config, per-operation samples, spans) goes to --out.
  */
object Main {
  final case class Run(setupS: Seq[Double], setupCpu: Seq[Double], ops: Seq[(OpResult, Double)],
                       cpu: Seq[Double], calibCpu: Seq[Double], block: Int, shuffleMb: Double,
                       jobsPerOp: Double, heapMb: Double, extra: Map[String, Double],
                       profile: Map[String, Double], notes: Seq[String], inputs: Long,
                       warmupFailed: Int, warmupOps: Int, raw: Map[String, Any])

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  private lazy val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  private lazy val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this JVM has used, all threads. */
  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  private lazy val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU nanoseconds of every live Java thread, by thread id. The JIT
    * compiler and GC threads are not among them. */
  def threadCpu(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }

  /** CPU seconds the Java threads used since snapshot `t0`: a thread
    * alive at both ends counts its difference, a thread started in
    * between all of its time (ids are never reused); a thread that ended
    * in between is missed for its last stretch only. */
  def threadCpuSince(t0: Map[Long, Long]): Double =
    threadCpu().iterator.map { case (id, ns) => ns - t0.getOrElse(id, 0L) }.sum / 1e9

  /** Old-generation bytes in use after a full collection: the least of
    * three collections 300 ms apart. Each later one finds what Spark's
    * context cleaner and asynchronous unpersists released after the one
    * before (broadcasts, shuffles and cached blocks of finished work). */
  def heapAfterGcMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(300)
    oldGen.map(_.getUsage.getUsed).getOrElse {
      val rt = Runtime.getRuntime; rt.totalMemory - rt.freeMemory
    } / 1e6
  }.min

  def session(cores: Int, root: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the status store keeps every job and SQL execution in the heap;
      // a short history keeps driver_heap_mb from growing with the op count
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** One workload: set-ups, reference, warm-up and the measured loop.
    * With `traced` the tracer is on throughout, except in the measured
    * loop of a run that is not `compact`: there blocks of plain and of
    * traced operations alternate, for the tracing overhead.
    */
  def run(name: String, ctx: Ctx, tr: Tracer, calib: Calibration, seconds: Double, minOps: Int,
          setupReps: Int, traced: Boolean, compact: Boolean): Run = {
    val sc = ctx.spark.sparkContext
    val w = Workload(name, ctx)
    tr.enabled = traced
    try {
      val setups = (1 to setupReps).map { _ =>
        // what the previous set-up made is released outside the timed interval
        w.close()
        val c0 = cpuSeconds() + w.childCpuSeconds
        val secs = tr.span(s"$name.setup")(Stats.time(w.setup())._2)
        (secs, cpuSeconds() + w.childCpuSeconds - c0)
      }
      val referenceS = Stats.time(tr.span(s"$name.reference")(w.reference()))._2
      val extra = scala.collection.mutable.Map.empty[String, Double]
      val (warm, warmupS) = Stats.time(if (compact) Nil else tr.span(s"$name.warmup")(w.warmup(tr)))
      // a traced or compact run reports no heap figure and no calibrated
      // throughput, so it skips their collections and calibration jobs
      val gated = !traced && !compact
      var heap = if (gated) heapAfterGcMb() else Double.NaN

      // the calibration job's Spark jobs are not the workload's
      def counts(): (Long, Long) = {
        org.apache.spark.perfbench.Bus.drain(sc)
        val (j, _, sh, _) = tr.listener.total.snapshot
        val (cj, _, csh, _) = tr.listener.group(Calibration.Group).snapshot
        (j - cj, sh - csh)
      }
      val (jobs0, shuffle0) = counts()
      val ops = scala.collection.mutable.ArrayBuffer.empty[(OpResult, Double)]
      val withTracer = scala.collection.mutable.ArrayBuffer.empty[Boolean]
      val cpu = scala.collection.mutable.ArrayBuffer.empty[Double]
      val calibCpu = scala.collection.mutable.ArrayBuffer.empty[Double]
      // the calibration job's code is compiled before the first block
      if (gated) (1 to 2).foreach(_ => calib.cpuSeconds())
      val t0 = System.nanoTime()
      var i = 0
      // at least minOps blocks; a traced run, at least two blocks and four operations
      val blocks = if (traced && !compact) math.max(2, math.ceil(4.0 / w.block).toInt) else minOps
      while (ops.size < blocks * w.block || ops.size % w.block != 0 ||
          (System.nanoTime() - t0) / 1e9 < seconds) {
        if (traced && !compact) tr.enabled = (i / w.block) % 2 == 1
        withTracer += tr.enabled
        // Java-thread CPU: JIT compiler and GC threads are not counted,
        // nor are the op's own checks in child processes
        val c0 = threadCpu()
        val (r, secs) = Stats.time(w.op(tr, i))
        cpu += threadCpuSince(c0)
        ops += (r -> (if (r.secs.isNaN) secs else r.secs))
        i += 1
        if (gated && i % w.calibrateEvery == 0) calibCpu += calib.cpuSeconds()
      }
      tr.enabled = traced
      val (jobs1, shuffle1) = counts()
      if (gated) heap = math.max(heap, heapAfterGcMb())
      extra(s"$name.jobs_per_op") = (jobs1 - jobs0).toDouble / ops.size
      if (traced && !compact) {
        val (on, off) = ops.map(_._2).zip(withTracer).partition(_._2)
        val plain = Stats.median(off.map(_._1).toSeq)
        extra("trace.overhead_pct") = (Stats.median(on.map(_._1).toSeq) - plain) / plain * 100
      }
      val profile = if (traced) tr.span(s"$name.profile")(w.profile(tr, compact)) else Map.empty[String, Double]
      Run(setups.map(_._1), setups.map(_._2), ops.toSeq, cpu.toSeq, calibCpu.toSeq, w.block,
        (shuffle1 - shuffle0) / 1e6 / ops.size, (jobs1 - jobs0).toDouble / ops.size,
        heap, extra.toMap, profile, ops.filterNot(_._1.ok).map(_._1.note).distinct.take(5).toSeq,
        w.inputsDigest, warm.count(!_), warm.size,
        w.raw ++ Map("reference_s" -> referenceS, "warmup_s" -> warmupS))
    } finally w.close()
  }

  /** Work per second of the fastest block (a pass, or a request cycle)
    * whose operations all checked out, with `secs` the block's seconds. */
  def best(r: Run, secs: Seq[Double]): Double =
    r.ops.zip(secs).grouped(r.block).filter(_.forall(_._1._1.ok))
      .map(b => b.map(_._1._1.items).sum / b.map(_._2).sum).maxOption.getOrElse(Double.NaN)

  /** Work items per calibration job's worth of CPU: the median over the
    * blocks whose operations all checked out of items per Java-thread
    * CPU-second, times the median CPU seconds of the run's calibration
    * jobs (one after every `calibrateEvery` operations). A single job's CPU varies by ±10% from block to block, more
    * than the host's speed does within a run, so the run's median is
    * taken rather than each block's own job. */
  def perCalib(r: Run): Double = Stats.median(
    r.ops.zip(r.cpu).grouped(r.block).filter(_.forall(_._1._1.ok))
      .map(b => b.map(_._1._1.items).sum / b.map(_._2).sum).toSeq) * Stats.median(r.calibCpu)

  def main(args: Array[String]): Unit = {
    val name = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    require(Workload.names.contains(name), s"unknown workload $name; one of ${Workload.names.mkString(", ")}")
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val traced = arg(args, "--trace").contains("1")
    val tiny = args.contains("--tiny")
    val plant = args.contains("--plant")
    val root = Paths.get(arg(args, "--root").getOrElse(".")).toAbsolutePath
    val out = arg(args, "--out").map(Paths.get(_))
    val cores = arg(args, "--cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val benchDir = Paths.get(arg(args, "--bench-dir").getOrElse("perfbench")).toAbsolutePath

    val work = root.resolve(s"work-$name-$seed-${ProcessHandle.current().pid()}")
    Files.createDirectories(work)
    val spark = session(cores, work)
    val listener = new GroupListener
    spark.sparkContext.addSparkListener(listener)
    val tr = new Tracer(spark.sparkContext, listener)
    val calib = new Calibration(cores, spark)
    val ctx = Ctx(spark, seed, tiny, traced, plant, work, cores, benchDir)
    try {
      // the minimum is counted in blocks: passes, or request cycles. A
      // traced run reports no end-to-end metric: one set-up, then blocks
      // of plain and traced operations, alternating, for the overhead
      val main = run(name, ctx, tr, calib, if (traced) 0 else seconds, minOps = 2,
        setupReps = if (traced) 1 else 3, traced = traced, compact = false)
      // a traced run profiles the layers of the other workloads too, on a
      // short loop, so that it reports every per-layer metric
      val others = if (!traced) Nil else Workload.names.filterNot(_ == name).map { n =>
        n -> run(n, ctx, tr, calib, seconds = 0, minOps = 1, setupReps = 1,
          traced = true, compact = true)
      }
      val runs = (name -> main) +: others

      val okOps = main.ops.filter(_._1.ok)
      val lat = okOps.map(_._2 * 1000)
      val failed = runs.map { case (_, r) => r.ops.count(!_._1.ok) + r.warmupFailed }.sum
      val attempted = runs.map { case (_, r) => r.ops.size + r.warmupOps }.sum
      // Gated metrics are the ones that hold still on a shared host: CPU
      // time, in which time stolen by the host is not counted, measured
      // against the calibration job, and counts. Wall-clock figures and
      // the uncalibrated throughput go to the raw output and, per layer,
      // to traced runs.
      val e2e: Seq[(String, Double, String)] = Seq(
        ("setup_s", Stats.median(main.setupCpu), "s"),
        ("items_per_calib", perCalib(main), "1/calib"),
        ("jobs_per_op", main.jobsPerOp, "count"),
        ("shuffle_mb", main.shuffleMb, "MB"),
        ("driver_heap_mb", main.heapMb, "MB"))
      val ungated: Seq[(String, Double, String)] = Seq(
        ("setup_s", Stats.median(main.setupS), "s"),
        ("items_per_s", best(main, main.ops.map(_._2)), "1/s"),
        ("items_per_cpu_s", best(main, main.cpu), "1/s"),
        ("calib_cpu_s", Stats.median(main.calibCpu), "s"),
        ("op_p50_ms", Stats.median(lat), "ms"),
        ("ops", main.ops.size.toDouble, "count"))
      val layer: Seq[(String, Double)] = if (!traced) Nil else {
        val all = runs.flatMap { case (_, r) => r.profile ++ r.extra }.toMap ++ Map(
          "pip.jobs_per_pass" -> runs.toMap.apply("pip_tile").jobsPerOp,
          "topo.jobs_per_pass" -> runs.toMap.apply("topo_build").jobsPerOp,
          "serve.jobs_per_req" -> runs.toMap.apply("serve").jobsPerOp,
          "suite.jobs" -> runs.toMap.apply("query_suite").jobsPerOp,
          "trace.spans" -> tr.spans.size.toDouble)
        layerUnits.keys.toSeq.map(k => k -> all.getOrElse(k, Double.NaN))
      }
      val metrics = if (traced) layer.map { case (k, v) => k -> Map("value" -> v, "unit" -> layerUnits(k)) }
                    else e2e.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }
      val correct = failed == 0 && okOps.nonEmpty
      val raw = Map(
        "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced, "tiny" -> tiny,
        "plant" -> plant, "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
        "config" -> config(spark, cores, seed),
        "end_to_end" -> e2e.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap,
        "ungated" -> ungated.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap,
        "per_layer" -> layer.toMap,
        "runs" -> runs.map { case (n, r) =>
          n -> (Map("setup_s" -> r.setupS, "setup_cpu_s" -> r.setupCpu, "op_s" -> r.ops.map(_._2),
            "op_cpu_s" -> r.cpu, "calib_cpu_s" -> r.calibCpu, "op_label" -> r.ops.map(_._1.label),
            "op_ok" -> r.ops.map(_._1.ok), "failures" -> r.notes, "jobs_per_op" -> r.jobsPerOp,
            "shuffle_mb_per_op" -> r.shuffleMb, "driver_heap_mb" -> r.heapMb, "inputs_digest" -> r.inputs) ++ r.raw)
        }.toMap,
        "spans" -> tr.render())
      out.foreach { p =>
        Files.createDirectories(p.toAbsolutePath.getParent)
        Files.writeString(p, json(raw) + "\n")
      }
      runs.flatMap(_._2.notes).foreach(n => System.err.println(s"[perfbench] check failed: $n"))
      println(json(scala.collection.immutable.ListMap(
        "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
        "metrics" -> scala.collection.immutable.ListMap(metrics: _*))))
    } finally {
      calib.close()
      spark.stop()
      Workload.deleteTree(work)
    }
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** JSON of nested Scala maps and sequences (map order kept); doubles
    * keep every digit, and a non-finite one is written as null. */
  def json(v: Any): String = {
    def toJava(v: Any): AnyRef = v match {
      case m: scala.collection.Map[_, _] =>
        val j = new java.util.LinkedHashMap[String, AnyRef]()
        m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
        j
      case xs: Iterable[_] => xs.map(toJava).toSeq.asJava
      case d: Double if d.isNaN || d.isInfinite => null
      case x => x.asInstanceOf[AnyRef]
    }
    mapper.writeValueAsString(toJava(v))
  }

  /** Every per-layer metric a traced run reports, with its unit. */
  val layerUnits: scala.collection.immutable.ListMap[String, String] = scala.collection.immutable.ListMap(
    "sources.scan_s" -> "s", "cells.leaf_s" -> "s", "pip.probe_s" -> "s", "pip.glue_s" -> "s",
    "tiling.agg_s" -> "s", "pip.pass_s" -> "s", "pip.index_build_s" -> "s", "pip.index_bytes" -> "bytes",
    "pip.candidates" -> "count", "pip.matches" -> "count", "pip.hit_ratio" -> "ratio",
    "pip.task_skew" -> "ratio", "pip.jobs_per_pass" -> "count", "pip.matches_point_ms" -> "ms",
    "ingest.polygons_s" -> "s", "ingest.covers_s" -> "s", "ingest.cells_per_polygon" -> "count",
    "snapshot.commit_s" -> "s", "snapshot.bytes_written" -> "bytes", "snapshot.bytes_per_row" -> "bytes",
    "topo.rings_s" -> "s", "topo.junctions_s" -> "s", "topo.cut_s" -> "s", "topo.topology_s" -> "s",
    "topo.arcs" -> "count", "topo.uses" -> "count", "topo.dedup_ratio" -> "ratio",
    "topo.shuffle_mb" -> "MB", "topo.jobs_per_pass" -> "count",
    "serve.coordinate_ms" -> "ms", "serve.missing_ms" -> "ms", "serve.geometry_ms" -> "ms",
    "serve.coverage_ms" -> "ms", "serve.topo_cached_ms" -> "ms", "serve.topo_cold_ms" -> "ms",
    "serve.jobs_per_req" -> "count", "serve.worklist_size" -> "count", "serve.state_bytes" -> "bytes",
    "suite.pip_s" -> "s", "suite.topo_s" -> "s", "suite.dedup_s" -> "s", "suite.ann_knn_s" -> "s",
    "suite.media_s" -> "s", "suite.text_s" -> "s", "suite.relational_s" -> "s", "suite.stream_s" -> "s",
    "suite.min_query_s" -> "s", "suite.jobs" -> "count",
    "trace.overhead_pct" -> "%", "trace.spans" -> "count")

  /** Session and JVM settings, so parent and change runs can be compared
    * on identical settings. */
  def config(spark: SparkSession, cores: Int, seed: Long): Map[String, Any] = {
    val conf = spark.conf
    Map(
      "master" -> spark.sparkContext.master,
      "cores" -> cores,
      "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "aqe" -> conf.get("spark.sql.adaptive.enabled"),
      "retained_jobs_stages_executions" -> Seq("spark.ui.retainedJobs", "spark.ui.retainedStages",
        "spark.sql.ui.retainedExecutions").map(conf.get),
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.filter(_.startsWith("-X")).toSeq,
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "seed" -> seed)
  }
}
