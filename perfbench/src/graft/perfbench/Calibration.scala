package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{Callable, Executors, ThreadFactory}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** A fixed CPU job, to measure how fast the host runs the benchmark's kind
  * of work at the moment. On a shared host the CPU time of the same work
  * grows and shrinks with what the neighbours run on the same physical
  * cores (shared caches, memory bandwidth, sibling hyperthreads); that
  * drift lasts for minutes and moves every CPU figure of a run together.
  * The harness runs one job after each block of measured operations and
  * multiplies the run's median items per CPU second by the median CPU
  * seconds of its jobs, so the throughput it reports is in items per
  * calibration job's worth of CPU, and the drift cancels from it.
  *
  * The job has two parts, one for each kind of work the workloads do:
  *  - JVM code on every core at once: sorting (branches and streaming
  *    memory), a hash map of boxed keys (allocation and pointer chasing)
  *    and random reads of a table larger than a core's caches, like the
  *    long scan tasks of the batch workloads;
  *  - a Spark SQL query of built-in operators only (planning, code
  *    generation, scheduling, a shuffle), the fixed cost of every small
  *    Spark job, which dominates the serving workload. It runs in a session
  *    of its own, so no rule the engine adds to the benchmark's session
  *    plans it.
  * Neither part calls the engine, so a change to the engine moves only the
  * block's side of the ratio. The job is the same every time: same sizes,
  * same data.
  */
final class Calibration(threads: Int, spark: SparkSession) extends AutoCloseable {
  private val bean = ManagementFactory.getThreadMXBean
  private val pool = Executors.newFixedThreadPool(threads, new ThreadFactory {
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, "perfbench-calibration")
      t.setDaemon(true)
      t
    }
  })
  private val plain = spark.newSession()

  /** CPU seconds of one calibration job. */
  def cpuSeconds(): Double = jvmCpuSeconds() + sparkCpuSeconds()

  /** The JVM part: one share per thread, run at once. */
  private def jvmCpuSeconds(): Double = {
    val tasks = (0 until threads).map { k =>
      new Callable[Long] {
        def call(): Long = {
          val c0 = bean.getCurrentThreadCpuTime
          Calibration.sink += Calibration.share(k)
          bean.getCurrentThreadCpuTime - c0
        }
      }
    }
    pool.invokeAll(tasks.asJava).asScala.map(_.get()).sum / 1e9
  }

  /** The Spark part, in Java-thread CPU seconds as the operations are.
    * Its jobs run in their own job group, which the harness leaves out of
    * the run's job and shuffle counts. */
  private def sparkCpuSeconds(): Double = {
    val sc = spark.sparkContext
    val group = sc.getLocalProperty("spark.jobGroup.id")
    val description = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(Calibration.Group, "calibration")
    try {
      val c0 = Main.threadCpu()
      (1 to 4).foreach { _ =>
        Calibration.sink += plain.range(0, 200000, 1, threads).selectExpr("id % 97 as k", "id * 31 as v")
          .groupBy("k").sum("v").collect().length
      }
      Main.threadCpuSince(c0)
    } finally {
      sc.setLocalProperty("spark.jobGroup.id", group)
      sc.setLocalProperty("spark.job.description", description)
    }
  }

  def close(): Unit = pool.shutdownNow()
}

object Calibration {
  /** Job group of the Spark part's jobs. */
  val Group = "perfbench-calibration"

  /** Keeps the JIT from dropping the work as dead code. */
  @volatile var sink = 0L

  private val SortSize = 1 << 17
  private val TableSize = 1 << 20
  private val MapSize = 1 << 14

  /** One thread's share of the JVM part, seeded by the thread's index. */
  def share(k: Int): Long = {
    var x = 0x9E3779B9L * (k + 1)
    def next(): Long = { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; x }
    val a = Array.fill(SortSize)(next().toInt)
    java.util.Arrays.sort(a)
    val table = Array.fill(TableSize)(next())
    var h = 0L
    var i = 0
    while (i < TableSize) {
      h += table((h ^ table(i)).toInt & (TableSize - 1))
      i += 1
    }
    val m = new java.util.HashMap[java.lang.Long, java.lang.Long](MapSize * 2)
    i = 0
    while (i < MapSize * 4) {
      val key = java.lang.Long.valueOf(next() & (MapSize - 1))
      m.merge(key, 1L, (p: java.lang.Long, q: java.lang.Long) => java.lang.Long.valueOf(p + q))
      i += 1
    }
    h + a(SortSize / 2) + m.size
  }
}
