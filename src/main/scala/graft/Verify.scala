package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Hardening (round 10, after CORRECTNESS_r09 silently lost 14 entries
  * on a contended driver machine — scattered across iteration order, so
  * transient per-entry failures, not a timeout tail):
  *  - oracle_sql.json is written FIRST: a mid-run kill costs the
  *    unfinished entries, never the whole round.
  *  - every failed entry is RETRIED (2 extra attempts) after the full
  *    pass — transient env failures (state-store races, tmp-dir
  *    contention) get a second chance once the rest of the run's load
  *    has drained; cached state is cleared first so a poisoned session
  *    (leaked temp view, stale cache) can't deterministically re-fail.
  *  - per-entry wall time + exception class goes to stderr, so the next
  *    round can diagnose driver-side drops from the run log.
  *  - the session is [[LocalSession]]'s, whose state-store maintenance
  *    setting keeps shutdown quiet. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional dev-only 3rd arg: comma-separated query-name subset
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = LocalSession()
    new java.io.File(outDir).mkdirs()

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }

    def runOne(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        attempt: Int): Boolean = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.2fs" +
          (if (attempt > 0) s" (retry $attempt)" else ""))
        true
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name FAILED attempt $attempt: " +
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        false
      }
    }

    var failed = selected.filterNot { case (n, f) => runOne(n, f, 0) }
    var attempt = 1
    while (failed.nonEmpty && attempt <= 2) {
      System.err.println(s"[verify] retrying ${failed.size} failed " +
        s"entries (attempt $attempt): ${failed.map(_._1).mkString(",")}")
      spark.catalog.clearCache()
      failed = failed.filterNot { case (n, f) => runOne(n, f, attempt) }
      attempt += 1
    }
    if (failed.nonEmpty)
      System.err.println(s"[verify] UNRECOVERED after retries: " +
        failed.map(_._1).mkString(","))
    spark.stop()
  }
}
