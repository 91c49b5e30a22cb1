package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSession

/** The one local session every bounded main and spec runs on (`Main`,
  * the only cluster-capable entry point, reads master and shuffle
  * partitions from its deployment config instead).
  *
  * Settings: `local[cores]` with `cores` shuffle partitions, session time
  * zone UTC, parquet INT64 nanos read as longs (`Tables` converts them
  * to timestamps), UI off, log level WARN from the first line (see
  * [[quietLogging]]). The state-store maintenance interval is 86400s:
  * bounded AvailableNow runs never need background
  * state snapshots, and the default 60s maintenance thread racing
  * session shutdown is the RpcEnv exception spew that flooded
  * BENCH_r09's tail; 86400s effectively disables it for any realistic
  * run length (600s could still re-arm on a >10-minute tail).
  *
  * Codegen stays resident ([[residentCodegen]], which `Main` carries
  * too). Spark caches generated classes in a Guava cache of
  * `spark.sql.codegen.cache.maxEntries` entries (default 100; a static
  * setting, so it must be set before the first session) split into 4
  * segments that each evict on their own share, and the cache key
  * includes the thread's context classloader. A resident queue job
  * needs more classes per sweep than the default holds: the sensor job
  * of JobRunnerSpec (descriptive, mode and `H` stats) compiled 158, 147
  * and 147 classes in three sweeps at the defaults, and none in the
  * third sweep with both settings. Under Spark 4's default
  * `spark.sql.artifact.isolation.enabled=true`, every `AvailableNow`
  * run's cloned session gets a fresh executor classloader, so a
  * resident stream misses the cache on every run whatever its size;
  * isolation is off because nothing here adds session artifacts (jars
  * or class files) to isolate. With both settings, a `CorpusStreamJob`
  * drain of one 100-doc delta per run compiled 6 classes per
  * generation from the second on, against ~146 every generation at the
  * defaults (`local[2]`). */
object LocalSession {

  /** `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .flatMap(_.toIntOption).getOrElse(4)

  /** Generated classes survive across queries, sweeps and stream runs
    * (see the object doc). */
  val residentCodegen: Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries" -> "1000",
    "spark.sql.artifact.isolation.enabled" -> "false")

  def apply(cores: Int = cpus): SparkSession = {
    quietLogging()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "86400s")
      .config("spark.ui.enabled", "false")
      .config(residentCodegen)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Log at WARN before the context starts. Spark installs its default
    * log4j2 profile (root at INFO) the first time any of its classes
    * logs, and the context then prints ~40 INFO lines of start-up
    * before `setLogLevel` can run. Installing that profile now, without
    * its banner, and lowering the root level keeps the start-up quiet
    * without shipping a log4j2 file in the jar; a log4j2 configuration
    * the deployment supplies is still loaded, only its root level is
    * set. */
  def quietLogging(): Unit = {
    QuietStart.init()
    Configurator.setRootLevel(Level.WARN)
  }

  private object QuietStart extends Logging {
    def init(): Unit = initializeLogIfNecessary(false, silent = true)
  }
}
