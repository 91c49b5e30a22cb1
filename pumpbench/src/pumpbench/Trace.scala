package pumpbench

import scala.collection.mutable
import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener
import graft.sink.JdbcSink

/** One Spark job as the listener saw it. `site` is the short call site
  * (the job's result-stage name), `stack` the long one; `group` and
  * `batch` come from the job's local properties. */
final class JobRec(val id: Int, val site: String, val stack: String,
    val group: String, val batch: Option[Long], val startMs: Long) {
  var endMs: Long = startMs
  var tasks: Int = 0
  var cpuNs: Long = 0L
  def seconds: Double = (endMs - startMs) / 1e3
}

/** Task-level totals from `onTaskEnd` TaskMetrics (never SQL metrics:
  * the queue sweep logs accumulator-update failures there), plus the
  * job records every attribution below is computed from. */
class JobTap extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val byId = mutable.HashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  var stages, tasks = 0L
  var cpuNs, runMs, gcMs, shuffleW, inBytes, outBytes, spill = 0L

  /** SQL execution id → its call site (short, long). Adaptive query
    * stages submit their jobs from pool threads, whose own call site is
    * a JDK frame; the execution the job belongs to keeps the caller's. */
  private val execSites = mutable.HashMap.empty[Long, (String, String)]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      execSites(x.executionId) = (x.description, x.details)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val result = e.stageInfos.maxBy(_.stageId)
    def prop(k: String) = Option(e.properties).flatMap(p =>
      Option(p.getProperty(k)))
    val (site, stack) = prop("spark.sql.execution.id")
      .flatMap(id => execSites.get(id.toLong))
      .getOrElse((result.name, result.details))
    val rec = new JobRec(e.jobId, site, stack,
      prop("spark.jobGroup.id").getOrElse(""),
      prop("streaming.sql.batchId").map(_.toLong), e.time)
    jobs += rec
    byId(e.jobId) = rec
    e.stageIds.foreach(s => stageJob(s) = rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      tasks += 1
      cpuNs += m.executorCpuTime
      runMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleW += m.shuffleWriteMetrics.bytesWritten
      inBytes += m.inputMetrics.bytesRead
      outBytes += m.outputMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        j.cpuNs += m.executorCpuTime
      }
    }
  }

  def reset(): Unit = synchronized {
    jobs.clear(); byId.clear(); stageJob.clear()
    stages = 0; tasks = 0
    cpuNs = 0; runMs = 0; gcMs = 0; shuffleW = 0; inBytes = 0
    outBytes = 0; spill = 0
  }
}

/** Executed-plan shape per SQL execution: planning time from the
  * query's phase tracker, and the exchanges, reused exchanges and
  * in-memory scans of the final (adaptive) plan. */
class PlanTap extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  var executions, exchanges, reused, inMemory = 0L
  var planMs = 0L

  private def record(qe: QueryExecution): Unit = synchronized {
    executions += 1
    planMs += qe.tracker.phases.values.map(_.durationMs).sum
    val plan = qe.executedPlan
    exchanges += collect(plan) { case e: ShuffleExchangeLike => e }.size
    reused += collect(plan) { case e: ReusedExchangeExec => e }.size
    inMemory += collect(plan) { case e: InMemoryTableScanExec => e }.size
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)

  def reset(): Unit = synchronized {
    executions = 0; exchanges = 0; reused = 0; inMemory = 0; planMs = 0
  }
}

/** Micro-batch phase durations, one record per progress event. */
class StreamTap extends StreamingQueryListener {
  final case class Epoch(triggerMs: Long, addBatchMs: Long)
  val epochs = mutable.ArrayBuffer.empty[Epoch]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val d = e.progress.durationMs
    def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    if (e.progress.numInputRows > 0)
      epochs += Epoch(ms("triggerExecution"), ms("addBatch"))
  }

  def reset(): Unit = synchronized(epochs.clear())
}

/** Driver-side sink tallies. Kept outside [[TracedSink]] because the
  * sink itself is serialized into upsert tasks. */
class SinkTap {
  var upsertNs, metaNs = 0L
  var upsertCalls = 0L
  var depth = 0
  var rows: org.apache.spark.util.LongAccumulator = _

  def timed[T](meta: Boolean)(body: => T): T =
    if (depth > 0) body
    else {
      depth += 1
      val t0 = System.nanoTime()
      try body
      finally {
        val dt = System.nanoTime() - t0
        if (meta) metaNs += dt else upsertNs += dt
        depth -= 1
      }
    }

  def reset(): Unit = {
    upsertNs = 0; metaNs = 0; upsertCalls = 0
    if (rows != null) rows.reset()
  }
}

/** A [[JdbcSink]] that times its public calls and delegates to `super`.
  * Upserts pass through a row-counting pass-through partition map. */
class TracedSink(url: String, @transient val tap: SinkTap)
    extends JdbcSink(url) {

  override def upsert(df: DataFrame, table: String, pk: Seq[String],
      batchSize: Int): Unit = tap.timed(meta = false) {
    tap.upsertCalls += 1
    val acc = tap.rows
    val counted = df.mapPartitions { it =>
      it.map { r => acc.add(1L); r }
    }(Encoders.row(df.schema))
    super.upsert(counted, table, pk, batchSize)
  }

  override def ensureTable(table: String, schema: StructType,
      pk: Seq[String]): Unit =
    tap.timed(meta = true)(super.ensureTable(table, schema, pk))
  override def tableExists(table: String): Boolean =
    tap.timed(meta = true)(super.tableExists(table))
  override def truncate(table: String): Unit =
    tap.timed(meta = true)(super.truncate(table))
  override def readBack(spark: SparkSession, table: String): DataFrame =
    tap.timed(meta = true)(super.readBack(spark, table))
}

/** The traced run's instrumentation: every listener, registered once
  * and reset at the start of the timed phase. */
class Tracer(spark: SparkSession) {
  val jobTap = new JobTap
  val planTap = new PlanTap
  val streamTap = new StreamTap
  val sinkTap = new SinkTap
  sinkTap.rows = spark.sparkContext.longAccumulator("pumpbench.rows")
  spark.sparkContext.addSparkListener(jobTap)
  spark.listenerManager.register(planTap)
  spark.streams.addListener(streamTap)

  def drain(): Unit = BenchBus.drain(spark.sparkContext)

  def reset(): Unit = {
    drain()
    jobTap.reset(); planTap.reset(); streamTap.reset(); sinkTap.reset()
  }

  /** Jobs finished so far, after the bus has caught up. */
  def jobs: Seq[JobRec] = { drain(); jobTap.synchronized(jobTap.jobs.toList) }

  /** Engine-wide layers (`spark`, `sql`, `jvm`) over the timed phase. */
  def engineMetrics(wallSec: Double, cores: Int): Seq[Metric] = {
    drain()
    val j = jobTap
    val p = planTap
    val mb = 1024.0 * 1024.0
    j.synchronized(p.synchronized(Seq(
      Metric("spark.jobs", j.jobs.size, "count"),
      Metric("spark.stages", j.stages, "count"),
      Metric("spark.tasks", j.tasks, "count"),
      Metric("spark.task_cpu_s", j.cpuNs / 1e9, "s"),
      Metric("spark.task_run_s", j.runMs / 1e3, "s"),
      Metric("spark.gc_s", j.gcMs / 1e3, "s"),
      Metric("spark.cpu_util", j.cpuNs / 1e9 / (wallSec * cores), "ratio"),
      Metric("spark.shuffle_write_mb", j.shuffleW / mb, "MB"),
      Metric("spark.input_mb", j.inBytes / mb, "MB"),
      Metric("spark.output_mb", j.outBytes / mb, "MB"),
      Metric("spark.spill_mb", j.spill / mb, "MB"),
      Metric("sql.executions", p.executions, "count"),
      Metric("sql.plan_s", p.planMs / 1e3, "s"),
      Metric("sql.exchanges", p.exchanges, "count"),
      Metric("sql.reused_exchanges", p.reused, "count"),
      Metric("sql.inmemory_scans", p.inMemory, "count"),
      Metric("jvm.persisted_rdds",
        spark.sparkContext.getPersistentRDDs.size, "count"))))
  }

  def sinkMetrics: Seq[Metric] = Seq(
    Metric("sink.upsert_s", sinkTap.upsertNs / 1e9, "s"),
    Metric("sink.upsert_calls", sinkTap.upsertCalls, "count"),
    Metric("sink.rows_written", sinkTap.rows.sum, "count"),
    Metric("sink.meta_s", sinkTap.metaNs / 1e9, "s"))
}
