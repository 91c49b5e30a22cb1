package graft
import java.util.Locale
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every `SparkEntry.queries` entry at the SF dir in
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":0.1}`.
  *
  * Two passes: an UNTIMED warmup pass runs every query once first, so the
  * timed pass measures steady-state per-query cost — without it, whichever
  * query runs first absorbs one-time JVM/codegen/broadcast-pool/scan-cache
  * init (round 2's first query billed 9.4s for ~2s of work) and
  * round-over-round per-query comparison is meaningless. Queries are
  * re-runnable by construction (fixtures are mtime-cached, memory-sink
  * names are counter-fresh, Derby upserts are idempotent).
  *
  * Materialization is a NOOP-SINK WRITE, not count(): under count() the
  * optimizer eliminates unique-key LEFT joins (count-preserving) and
  * prunes every projection, so map-only queries and join-back shapes
  * (dedupe_substring, text_lm_score, the scalar_* family) were timing a
  * row count of the source, not the operator — dedupe_substring's
  * "0.13 s" executed zero gram work (discovered round 6 when a shuffle-
  * bytes probe read 59 bytes where megabytes were expected). The noop
  * sink evaluates every output column and discards it — the honest cost
  * of producing the result. Rounds ≤5 numbers carry the count() bias
  * for those shapes; totals jump at round 6 for honesty, not regression
  * (PLANS.md §16).
  *
  * stdout discipline: stdout carries exactly two JSON lines and nothing
  * else — the FULL per-query line (persisted to `bench_out.json`), then a
  * COMPACT summary line printed LAST. The driver's tail parser keeps only
  * the final ~2000 chars of output; at ~200 queries the full line is ~5 KB
  * and can never sit complete inside that window (BENCH_r05/r07 "parsed":
  * null), so the compact line — total, sf, the 30 most expensive queries,
  * and a pointer to `bench_out.json` for the rest — is sized to survive
  * the window with the sbt trailer included. Anything human-facing goes
  * to stderr.
  *
  * ERRORS FAIL LOUDLY: a query that throws during the timed passes is
  * reported under `"errors"` (name → exception summary), never as a
  * timing — a silent catch here is the exact mechanism that hid 14
  * broken entries across rounds 9-10 (the TIMESTAMP_NTZ read bug), and
  * `"value"`/`"queries"` only ever aggregate queries that actually ran.
  * A failed `bench_out.json` write fails the run.
  *
  * MEDIAN-OF-N TIMING + LOADAVG: each query is timed over
  * `SPARK_GRAFT_BENCH_PASSES` (default 3) post-warmup passes and the
  * reported per-query number is the median, so one co-tenant CPU spike
  * on the driver box (r10's 2× total swing, r11's three phantom
  * regressions at byte-identical code) can no longer masquerade as a
  * code regression. The 1-minute system load average is sampled before
  * and after the timed passes and the max is reported as `"loadavg"`,
  * making box contention self-identifying in the artifact itself.
  *
  * ISOLATED MODE (`SPARK_GRAFT_ISOLATE=1`): forks ONE child JVM per
  * entry (each child is this same main with a 1-entry filter — warmup
  * + median-of-N inside its own fresh heap) and merges the children's
  * lines into one artifact of the identical shape. This is the
  * attribution-grade protocol run by hand (one entry per JVM) since r12,
  * folded into the committed artifact itself: in-suite numbers share a
  * JVM, so an allocation-heavy neighbor's heap state can bleed into a
  * timing (three phantom >1.5× in-suite swings were re-adjudicated by
  * hand in EACH of r13-r15); per-JVM numbers make phantom swings
  * structurally impossible. Cost: one ~10s Spark session bring-up per
  * entry, so this is the sf1 deep-measurement mode, not the per-round
  * sf0.1 default. The merged line carries `"isolated":true` and the
  * MAX child loadavg. Children inherit this process's environment and
  * stderr, so a failing child's stack trace reaches the run log.
  */
object Bench {
  // 1-minute system load average; -1.0 if the JVM can't provide one
  private def loadavg(): Double =
    try java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage
    catch { case _: Throwable => -1.0 }

  // contention self-flagging (VERDICT r16 #5): a loaded box inflates
  // every number; the artifact carries the verdict so a scoreboard
  // reader never mistakes contention for regression
  private def loadMax: Double = sys.env.get("SPARK_GRAFT_LOADAVG_MAX")
    .flatMap(_.toDoubleOption).getOrElse(3.0)

  // NAME-SORTED execution: the map's hash order reshuffles whenever an
  // entry is added, which silently changes every query's predecessor
  // between rounds — allocation-heavy queries (ImageIO decodes) were
  // measured 3× slower purely from inherited heap state of a new
  // neighbor. Sorted order keeps per-query neighborhoods identical
  // across rounds, so round-over-round deltas measure the query.
  // dev-only subset filter (comma-separated names); the driver never
  // sets it, so round benches always time the full suite
  private def selected = {
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
  }

  def main(args: Array[String]): Unit = {
    // sampled at PROCESS ENTRY, before any Spark work: the bench's own
    // warmup drives a 32-thread box's 1-min loadavg well above any
    // sane threshold, so the contention verdict must reflect what was
    // running BEFORE us (co-tenants), not our own load
    val loadStart = loadavg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if (sys.env.get("SPARK_GRAFT_ISOLATE").contains("1")) {
      runIsolated(sfDir, loadStart)
      return
    }
    val spark = LocalSession()
    val ordered = selected

    def materialize(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // pass 1 — untimed warmup (errors ignored; the timed pass reports them)
    ordered.foreach { case (name, fn) =>
      try materialize(fn(spark, sfDir))
      catch { case NonFatal(_) => System.err.println(s"[warmup] $name failed") }
    }

    // timed passes: median-of-N per query. A failure is recorded (first
    // exception wins) and the query is NOT retried on later passes — a
    // deterministically-broken query would just throw N times, and a
    // flaky one must not average a partial timing into the medians.
    val passes = sys.env.get("SPARK_GRAFT_BENCH_PASSES")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(3)
    val timings = collection.mutable.Map.empty[String, List[Double]]
    val errors = collection.mutable.LinkedHashMap.empty[String, String]
    val loadBefore = loadavg()
    // fixture-build honesty (VERDICT r16 #8): a cold box rebuilds keyed
    // fixtures INSIDE the timed passes (the warmup pass normally absorbs
    // them, but a mid-run testdata regeneration or a fresh fixture root
    // would not be absorbed) — count misses so the artifact says so
    val fixturesBefore = graft.queries.Fixtures.missCount
    (1 to passes).foreach { pass =>
      ordered.foreach { case (name, fn) =>
        if (!errors.contains(name)) {
          // settle the heap BEFORE the timer starts, per entry: with
          // one GC per pass, whichever entry ran after an
          // allocation-heavy neighbor inherited its garbage and paid
          // the collection inside its own timing — measured at sf1
          // (r14): graph_clustering_coeff 116.5 s in-suite vs 16.2 s
          // isolated, mm_decode_image 36.3 vs 10.5, purely from a new
          // heavy entry ~10 sorted positions upstream. The pre-entry
          // GC runs outside the timed window, so per-entry numbers
          // are attribution-grade without 287 separate JVMs.
          System.gc()
          val t0 = System.nanoTime()
          try {
            materialize(fn(spark, sfDir))
            val dt = (System.nanoTime() - t0) / 1e9
            timings(name) = dt :: timings.getOrElse(name, Nil)
          } catch {
            case e: Throwable =>
              timings.remove(name)
              errors(name) = (e.getClass.getSimpleName + ": " +
                Option(e.getMessage).getOrElse("").replaceAll("[\"\\\\\\s]+", " ")
                  .take(160)).trim
              System.err.println(s"[pass $pass] $name FAILED: ${errors(name)}")
          }
        }
      }
    }
    val loadAfter = loadavg()
    val fixtureBuilds = graft.queries.Fixtures.missCount - fixturesBefore
    if (fixtureBuilds > 0)
      System.err.println(s"[bench] WARNING: $fixtureBuilds fixture " +
        "build(s) happened INSIDE the timed passes — timings include " +
        "one-time fixture construction")
    val contended = loadStart > loadMax
    if (contended)
      System.err.println(f"[bench] WARNING: pre-run loadavg $loadStart%.2f " +
        f"exceeds $loadMax%.1f — numbers are contention-inflated, prefer " +
        "an isolated (SPARK_GRAFT_ISOLATE=1) artifact for comparison")

    def median(xs: List[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // both lines print AFTER spark.stop(): r9's shutdown spewed
    // state-store maintenance stack traces that pushed a pre-stop JSON
    // line out of the driver's ~2000-char tail window ("parsed": null).
    // With stop() already done, nothing can print after the lines but
    // sbt's trailer.
    try spark.stop() catch { case NonFatal(_) => }
    emit(sfDir, timings.map { case (k, v) => k -> median(v) }.toMap.toSeq,
      errors, passes, isolated = false, math.max(loadBefore, loadAfter),
      loadStart, contended, fixtureBuilds)
  }

  /** Prints the FULL per-query line (also written to `bench_out.json`),
    * with `timings` in the given order, then the COMPACT line (top 30
    * queries by cost) last. */
  private def emit(sfDir: String, timings: Seq[(String, Double)],
      errors: collection.Map[String, String], passes: Int,
      isolated: Boolean, load: Double, loadStart: Double,
      contended: Boolean, fixtureBuilds: Long): Unit = {
    // locale-pinned plain-decimal rendering: no scientific notation, no
    // locale comma separators — the line must stay machine-parseable JSON
    def num(v: Double): String = "%.4f".formatLocal(Locale.US, v)
    def obj(qs: Seq[(String, Double)]): String =
      qs.map { case (k, v) => "\"" + k + "\":" + num(v) }
        .mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = timings.map(_._2).sum
    // numeric sf parsed from the dir name ("…/sf0.1" -> 0.1)
    val sf = "sf([0-9.]+)".r.findFirstMatchIn(sfDir)
      .map(_.group(1).stripSuffix(".")).getOrElse("0")
    val iso = if (isolated) "\"isolated\":true," else ""
    val tail =
      s""""passes":$passes,$iso"loadavg":${num(load)},""" +
      s""""loadavg_start":${num(loadStart)},"contended":$contended,""" +
      s""""fixture_builds":$fixtureBuilds,"""
    val line =
      s"""{"metric":"total","value":${num(total)},"unit":"sec",""" +
      s""""queries":${obj(timings)},""" +
      s""""errors":$errJson,$tail"sf":$sf}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_out.json"), line + "\n")
    println(line)
    // compact tail-parseable summary (~900 chars): the full line cannot
    // sit complete inside the driver's tail window
    val top = timings.sortBy(-_._2).take(30)
    // errors ride the compact line too (truncated if huge — a non-empty
    // object is the signal; full detail is in bench_out.json)
    val compactErr = if (errJson.length <= 400) errJson
      else "{\"error_count\":" + errors.size + "}"
    val compact =
      s"""{"metric":"total","value":${num(total)},"unit":"sec",""" +
      s""""queries":${obj(top)},"queries_omitted":${timings.size - top.size},""" +
      s""""errors":$compactErr,$tail""" +
      s""""queries_file":"bench_out.json","sf":$sf}"""
    println(compact)
    System.out.flush()
  }

  /** One child JVM per entry; merge the 1-entry lines into one artifact.
    * Children run sequentially (a quiet box is the point) with the same
    * add-opens set build.sbt forks tests with and the classpath derived
    * from THIS class's code source + the Spark jars dir — correct under
    * sbt runMain (layered classloaders hide the project from
    * java.class.path) and under a plain `java -cp` alike. */
  private def runIsolated(sfDir: String, loadStart: Double): Unit = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val names = selected.map(_._1)
    val javaBin = sys.props("java.home") + "/bin/java"
    val codeSrc = SparkEntry.getClass.getProtectionDomain
      .getCodeSource.getLocation.toURI.getPath
    // under `sbt runMain` the jars' code sources are sbt's bg-jobs
    // STAGING copies — the staged spark dir holds one jar, not the
    // full distribution (no scala-library) — so prefer the real
    // distribution dir when it exists; the code-source fallback keeps
    // plain `java -cp` invocations location-independent
    val sparkJarsDerived = new java.io.File(
      classOf[SparkSession].getProtectionDomain.getCodeSource
        .getLocation.toURI).getParent
    val sparkJars =
      if (new java.io.File("/opt/spark/jars").isDirectory) "/opt/spark/jars"
      else sparkJarsDerived
    val cp = s"$sparkJars/*:$codeSrc"
    val addOpens = (Seq("java.lang", "java.lang.invoke",
      "java.lang.reflect", "java.io", "java.net", "java.nio", "java.util",
      "java.util.concurrent", "java.util.concurrent.atomic")
      ++ Seq("sun.nio.ch", "sun.nio.cs", "sun.security.action",
        "sun.util.calendar"))
      .map(p => s"--add-opens=java.base/$p=ALL-UNNAMED")
    val timings = collection.mutable.Map.empty[String, Double]
    val errors = collection.mutable.LinkedHashMap.empty[String, String]
    var load = -1.0
    var passes = 0
    var fixtureBuilds = 0L
    // child heap: default 8g matches the r12+ protocol; sf10-class runs
    // need executor-standard memory per core (2GB/thread — the 100 TB
    // sizing a real cluster gives each executor), set via env
    val childXmx = sys.env.getOrElse("SPARK_GRAFT_CHILD_XMX", "8g")
    names.zipWithIndex.foreach { case (name, i) =>
      val cmd = (Seq(javaBin) ++ addOpens ++ Seq(s"-Xmx$childXmx",
        "-Dspark.ui.enabled=false", "-cp", cp, "graft.Bench")).toArray
      // the child starts from a copy of this process's environment
      // (CPUS, PASSES, FIXTURE_DIR, LOADAVG_MAX carry over as they are)
      val pb = new ProcessBuilder(cmd: _*)
      pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
      pb.environment().put("SPARK_GRAFT_BENCH_ONLY", name)
      pb.environment().remove("SPARK_GRAFT_ISOLATE")
      // stdout carries the child's JSON lines; its stderr is the run log
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      // each child writes its own bench_out.json — sandbox it per child
      // so the merged parent artifact is the only bench_out.json left
      val childDir = java.nio.file.Files
        .createTempDirectory(s"graft-iso-$name").toFile
      pb.directory(childDir)
      val proc = pb.start()
      val out = scala.io.Source.fromInputStream(
        proc.getInputStream, "UTF-8").getLines().toList
      val rc = proc.waitFor()
      val parsed = out.headOption.flatMap { line =>
        try Some(JsonMethods.parse(line)) catch { case NonFatal(_) => None }
      }
      parsed match {
        case Some(j) =>
          (j \ "queries") match {
            case JObject(fs) => fs.foreach {
              case (k, JDouble(v)) => timings(k) = v
              case (k, JDecimal(v)) => timings(k) = v.toDouble
              case _ =>
            }
            case _ =>
          }
          (j \ "errors") match {
            case JObject(fs) => fs.foreach {
              case (k, JString(v)) => errors(k) = v
              case _ =>
            }
            case _ =>
          }
          (j \ "loadavg") match {
            case JDouble(v) => load = math.max(load, v)
            case JDecimal(v) => load = math.max(load, v.toDouble)
            case _ =>
          }
          (j \ "passes") match {
            case JInt(v) => passes = v.toInt
            case _ =>
          }
          (j \ "fixture_builds") match {
            case JInt(v) => fixtureBuilds += v.toLong
            case _ =>
          }

        case None =>
          errors(name) = s"child JVM rc=$rc, no parseable JSON line"
      }
      System.err.println(s"[isolate ${i + 1}/${names.size}] $name " +
        timings.get(name).map(v => f"$v%.2fs").getOrElse("FAILED"))
    }
    emit(sfDir, timings.toSeq.sortBy(_._1), errors, passes,
      isolated = true, load, loadStart, loadStart > loadMax, fixtureBuilds)
  }
}
