package graft

import org.apache.spark.sql.SparkSession

/** The one local session every bounded main and spec runs on (`Main`,
  * the only cluster-capable entry point, reads master and shuffle
  * partitions from its deployment config instead).
  *
  * Settings: `local[cores]` with `cores` shuffle partitions, session time
  * zone UTC, parquet INT64 nanos read as longs (`Tables` converts them
  * to timestamps), UI off, log level WARN. The state-store maintenance
  * interval is 86400s: bounded AvailableNow runs never need background
  * state snapshots, and the default 60s maintenance thread racing
  * session shutdown is the RpcEnv exception spew that flooded
  * BENCH_r09's tail; 86400s effectively disables it for any realistic
  * run length (600s could still re-arm on a >10-minute tail). */
object LocalSession {

  /** `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .flatMap(_.toIntOption).getOrElse(4)

  def apply(cores: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "86400s")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
