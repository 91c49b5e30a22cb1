package graft

import java.io.FileInputStream
import java.util.Properties
import org.apache.spark.sql.SparkSession
import graft.jobs.JobRunner
import graft.sink.JdbcSink

/** CLI entry point — the reference's Entry 1 (`datapump.py:69-113`,
  * `python datapump.py --config datapump.ini`) re-expressed as a Spark
  * driver: resolve config, build one SparkSession, sweep the job queue.
  *
  * Config resolution mirrors the reference's Click behavior
  * (`datapump.py:110`, `:713` — explicit CLI > env `DATAPUMP_*` > config
  * file > defaults): here explicit `--key=value` > env `GRAFT_<KEY>` >
  * `--config <file>` java-properties > defaults.
  *
  * Keys (names follow `datapump.ini:1-9`): inputdir, processeddir,
  * problemsdir, datecolumn, dateformats (|-separated), jdbcurl, jdbcuser,
  * jdbcpassword, master, shufflepartitions.
  */
object Main {

  val Defaults: Map[String, String] = Map(
    "inputdir" -> "input",
    "processeddir" -> "processed",
    "problemsdir" -> "problems",
    "datecolumn" -> "DateTime",
    "dateformats" -> graft.ingest.CsvIngest.DefaultFormats.mkString("|"),
    "jdbcurl" -> "jdbc:derby:memory:graft;create=true",
    "jdbcuser" -> "",
    "jdbcpassword" -> "",
    "master" -> "local[*]",
    "shufflepartitions" -> "32")

  /** Pure precedence resolution: cli > env(GRAFT_<KEY>) > props > default.
    * Unknown --keys are rejected (the reference's Click does the same). */
  def resolveConfig(cliArgs: Seq[String], env: Map[String, String],
      fileProps: Map[String, String]): Map[String, String] = {
    val cli = cliArgs.filter(_.startsWith("--")).map { a =>
      a.stripPrefix("--").split("=", 2) match {
        case Array(k, v) => k -> v
        case Array(k) => k -> "true"
      }
    }.toMap
    val unknown = (cli.keySet - "config") -- Defaults.keySet
    require(unknown.isEmpty, s"unknown option(s): ${unknown.mkString(", ")}")
    Defaults.map { case (k, dflt) =>
      k -> cli.getOrElse(k,
        env.getOrElse(s"GRAFT_${k.toUpperCase}",
          fileProps.getOrElse(k, dflt)))
    }
  }

  private[graft] def loadProps(path: String): Map[String, String] = {
    val p = new Properties()
    val in = new FileInputStream(path)
    try p.load(in) finally in.close()
    import scala.jdk.CollectionConverters._
    // INI-dialect compatibility: the reference's own config quotes its
    // values (`inputdir="./input"`, datapump.ini:1-9) and java
    // Properties keeps the quotes verbatim — strip ONE matching pair of
    // surrounding double or single quotes so the reference's config
    // file works unchanged.
    p.asScala.toMap.map { case (k, v) =>
      val t = v.trim
      val unq =
        if (t.length >= 2 &&
            ((t.head == '"' && t.last == '"') ||
             (t.head == '\'' && t.last == '\''))) t.substring(1, t.length - 1)
        else t
      k -> unq
    }
  }

  def main(args: Array[String]): Unit = {
    val configFile = args.filter(_.startsWith("--config="))
      .map(_.stripPrefix("--config=")).lastOption
    val conf = resolveConfig(args.toSeq, sys.env,
      configFile.map(loadProps).getOrElse(Map.empty))

    LocalSession.quietLogging()
    val spark = SparkSession.builder()
      .appName("graft")
      .master(conf("master"))
      .config("spark.sql.shuffle.partitions", conf("shufflepartitions"))
      .config("spark.sql.session.timeZone", "UTC")
      // the queue is resident: sweeps reuse their generated classes
      .config(LocalSession.residentCodegen)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val runner = new JobRunner(
      spark,
      JdbcSink(conf("jdbcurl"), conf("jdbcuser"), conf("jdbcpassword")),
      inputDir = conf("inputdir"),
      processedDir = conf("processeddir"),
      problemsDir = conf("problemsdir"),
      datecolumn = conf("datecolumn"),
      dateformats = conf("dateformats").split('|').toSeq)

    val outcomes = runner.runAll()
    outcomes.foreach {
      case (jf, Right(r: runner.JobResult)) =>
        println(s"OK      $jf -> ${r.table} " +
          s"(${r.files.map(_.rows).filter(_ >= 0).sum} rows)")
      case (jf, Right(c: runner.CorpusOutcome)) =>
        println(s"OK      $jf -> ${c.genDir} " +
          s"(${c.kind} gen=${c.generation}, ${c.nKept} docs, " +
          s"${c.totalTokens} tokens)")
      case (jf, Left(err)) =>
        println(s"FAILED  $jf: $err")
    }
    spark.stop()
    if (outcomes.exists(_._2.isLeft)) sys.exit(1)
  }
}
