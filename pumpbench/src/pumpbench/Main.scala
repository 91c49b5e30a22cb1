package pumpbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One reported number. */
final case class Metric(name: String, value: Double, unit: String,
    samples: Int = 1)

/** What a workload hands back: end-to-end and per-layer metrics, the
  * per-item records, and the correctness verdict. A non-empty `errors`
  * means some output was wrong. */
final case class Outcome(
    endToEnd: Seq[Metric], perLayer: Seq[Metric],
    attempted: Int, failed: Int, errors: Seq[String],
    items: Seq[Map[String, Any]], detail: Map[String, Any])

/** Everything a workload needs: the session, its own fresh directory,
  * the run's knobs, and (traced runs only) the listeners. */
final class Ctx(val spark: SparkSession, val dir: String, val seed: Long,
    val seconds: Double, val cores: Int, val tracer: Option[Tracer]) {
  val jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  private var timedStartMs = 0L
  private var startCpu = (0.0, Seq.empty[Long])
  /** Seconds since process start at each named point of the run. */
  val marks = mutable.LinkedHashMap.empty[String, Double]
  def mark(name: String): Unit =
    marks(name) = (System.currentTimeMillis() - jvmStartMs) / 1e3

  def path(p: String): String = s"$dir/$p"

  /** Called once, right before the first timed item: collects garbage
    * so the timed phase starts from the same heap state every run, and
    * zeroes the traced run's tallies so warm-up does not leak into them. */
  def startTimed(): Unit = {
    System.gc()
    tracer.foreach(_.reset())
    timedStartMs = System.currentTimeMillis()
    startCpu = (Ctx.processCpuSec(), Ctx.hostCpu())
    mark("timed_start")
  }

  /** Over the timed phase: this process's CPU seconds, and the share of
    * the machine's CPU time stolen by the hypervisor (other tenants). */
  var timedCpu: Map[String, Double] = Map.empty

  /** Called right after the last timed item: records [[timedCpu]] and
    * returns the heap still reachable after full collections. */
  def endTimed(): Double = {
    val d = Ctx.hostCpu().zip(startCpu._2).map { case (a, b) => a - b }
    val steal = if (d.size > 7 && d.sum > 0) d(7).toDouble / d.sum else 0.0
    timedCpu = Map("process_cpu_s" -> (Ctx.processCpuSec() - startCpu._1),
      "host_steal_share" -> steal)
    retainedHeapMb()
  }

  /** Process start to the first timed item. */
  def setupSec: Double = (timedStartMs - jvmStartMs) / 1e3

  def deadlineReached(t0: Long): Boolean =
    (System.nanoTime() - t0) / 1e9 >= seconds

  /** Heap still reachable after full collections. Spark's context
    * cleaner frees blocks of collected frames asynchronously after a GC,
    * so this collects a few times with a pause and keeps the lowest
    * reading. */
  private def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (0 until 4).map { _ =>
      System.gc()
      Thread.sleep(250)
      (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
    }.min
  }
}

object Ctx {
  def processCpuSec(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime / 1e9

  /** The aggregate `cpu` line of /proc/stat, in jiffies; empty elsewhere. */
  def hostCpu(): Seq[Long] = {
    val f = Paths.get("/proc/stat")
    if (!Files.isReadable(f)) Nil
    else Files.readAllLines(f).get(0).trim.split("\\s+").drop(1)
      .map(_.toLong).toSeq
  }
}

object Stat {
  /** Linear-interpolated quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Benchmark entry point, launched by `run.py`:
  * `pumpbench.Main <workload> <seed> <seconds> <trace 0|1> <dir> <cores>`.
  * Writes `<dir>/result.json` and exits 0 when the run completed, even
  * if outputs were wrong (the result says so); exits 1 when the
  * workload could not run at all. */
object Main {
  val workloads: Map[String, Ctx => Outcome] = Map(
    "queue_sweep" -> QueueSweep.run,
    "corpus_stream" -> CorpusStream.run,
    "query_board" -> QueryBoard.run)

  def session(cores: Int, dir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("pumpbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "86400s")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.local.dir", s"$dir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, dir, cores) = args
    val run = workloads.getOrElse(workload,
      sys.error(s"unknown workload '$workload' " +
        s"(known: ${workloads.keys.toSeq.sorted.mkString(", ")})"))
    Files.createDirectories(Paths.get(dir))
    val loadavg = ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage
    val spark = session(cores.toInt, dir)
    val tracer = if (trace == "1") Some(new Tracer(spark)) else None
    val ctx = new Ctx(spark, dir, seed.toLong, seconds.toDouble,
      cores.toInt, tracer)
    ctx.mark("session")
    val out = run(ctx)
    ctx.mark("end")
    val env = Map(
      "master" -> spark.sparkContext.master,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "loadavg_before" -> loadavg,
      "seed" -> seed.toLong,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "traced" -> tracer.isDefined)
    val metrics = (if (tracer.isDefined) out.perLayer else out.endToEnd)
    val json = Map(
      "workload" -> workload,
      "correct" -> out.errors.isEmpty,
      "errors" -> out.errors,
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> metrics.map(m => m.name ->
        Map("value" -> m.value, "unit" -> m.unit, "samples" -> m.samples))
        .toMap,
      "marks_s" -> ctx.marks,
      "env" -> env,
      "detail" -> (out.detail ++ ctx.timedCpu ++ tracer.map(t => "job_sites" ->
        t.jobs.groupBy(_.site).map { case (k, v) => k -> v.size })),
      "items" -> out.items)
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(s"$dir/result.json"),
      mapper.writeValueAsString(json))
    spark.stop()
  }
}
