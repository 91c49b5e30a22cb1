package graft

import java.nio.file.{Files, Paths}

/** Dev tool: dump `.explain("formatted")` for registry entries to files.
  *
  * Usage: `graft.ExplainDump <sfDir> <outDir> <suffix> [entry,entry,...]`
  * writes `<outDir>/<entry>_<suffix>.txt` per entry (e.g. suffix
  * "before"/"after" for the optimization-round plan evidence).
  *
  * The plan captured is the FINAL returned DataFrame's formatted plan.
  * Entries that materialize intermediates eagerly (localCheckpoint,
  * streaming fixtures) execute those during construction — the dump then
  * shows the tail plan over the checkpointed inputs, which is the part a
  * reader can still diff; sub-relation shapes that live before a
  * checkpoint are evidenced by the ops' own plan-shape specs instead.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").toSet) else None
    Files.createDirectories(Paths.get(outDir))
    val spark = LocalSession()
    val entries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // fatal VM errors propagate (never swallowed as a one-line note),
    // and any per-entry failure fails the RUN: a silently-empty plans
    // sweep must not pass for evidence (ADVICE r17)
    var failed = 0
    entries.foreach { case (name, fn) =>
      try {
        spark.sparkContext.setJobDescription(s"explain: $name")
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), plan)
        System.err.println(s"[explain] $name ok (${plan.length} chars)")
      } catch {
        case scala.util.control.NonFatal(e) =>
          failed += 1
          System.err.println(s"[explain] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
    if (failed > 0) {
      System.err.println(s"[explain] $failed entr(ies) failed to dump")
      sys.exit(1)
    }
  }
}
