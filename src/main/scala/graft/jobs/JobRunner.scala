package graft.jobs

import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ingest.CsvIngest
import graft.ops.{Dedupe, Stats, TimeSeries}
import graft.sink.{Catalog, JdbcSink, SinkOps}

/** The reference's whole lifecycle (`datapump.py` Entry 1-3, SURVEY §3):
  * scan a queue directory for `*-job.json`, and per job: glob input CSVs
  * newest-first, per file read → order-sensitive PK dedupe → type-infer →
  * ensure/truncate/upsert sink table → restamp resource description →
  * archive the input to processed/ (or problems/ on failure), logging
  * DUPES/PROCESSED/ELAPSED. After the files, and only in a sweep that
  * upserted at least one of them, the requested stats run over one
  * read-back of the accumulated table, one driver thread per stat table
  * (`runStats`); every failing stat is logged to problems.log before
  * the job fails.
  *
  * Beyond the reference's one job shape, the queue also drives the corpus
  * lifecycle: `"Kind":"CorpusBuild"` bootstraps a corpus
  * ([[IncrementalCorpusJob.bootstrap]]) and `"Kind":"CorpusDelta"` ingests
  * one generation ([[IncrementalCorpusJob.ingestDelta]]) — one-shot jobs
  * whose job FILE archives on completion — while `"Kind":"CorpusStream"`
  * stays RESIDENT and drains its landing dir each sweep
  * ([[CorpusStreamJob.run]]), the exact queue posture of the reference's
  * upsert jobs.
  */
class JobRunner(
    spark: SparkSession,
    sink: JdbcSink,
    inputDir: String,
    processedDir: String,
    problemsDir: String,
    datecolumn: String = "DateTime",
    dateformats: Seq[String] = CsvIngest.DefaultFormats) {

  val catalog = new Catalog(sink)

  private def log(file: String, line: String): Unit = {
    val p = Paths.get(file)
    Files.createDirectories(p.getParent)
    Files.write(p, (line + "\n").getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** One sweep over the queue (`datapump.py:694-707`): every non-hidden
    * `*-job.json` in inputDir. Returns per-job outcomes. */
  def runAll(): Seq[(String, Either[String, Outcome])] = {
    val dir = Paths.get(inputDir)
    if (!Files.isDirectory(dir)) return Nil
    val jobFiles = Files.list(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p))
      .filter(p => !p.getFileName.toString.startsWith("."))
      .filter(p => p.getFileName.toString.endsWith("-job.json"))
      .toSeq.sortBy(_.toString)
    jobFiles.map { jf =>
      jf.toString -> runJobFile(jf)
    }
  }

  private implicit class IterAsScala[T](it: java.util.Iterator[T]) {
    def asScala: Iterator[T] = new Iterator[T] {
      def hasNext: Boolean = it.hasNext
      def next(): T = it.next()
    }
  }

  sealed trait Outcome
  case class JobResult(table: String, files: Seq[FileResult])
      extends Outcome
  /** Outcome of a corpus-kind job: which generation landed where, and
    * the funnel's bottom line. */
  case class CorpusOutcome(kind: String, generation: Int, genDir: String,
      nKept: Long, totalTokens: Long) extends Outcome
  /** Outcome of one CorpusStream sweep: the generations drained THIS
    * sweep (empty = nothing new in the landing dir) and their totals. */
  case class StreamOutcome(generations: Seq[Int], nKept: Long,
      totalTokens: Long) extends Outcome
  case class FileResult(path: String, rows: Long, dupes: Long,
      elapsedSec: Double)

  def runJobFile(jobFile: Path): Either[String, Outcome] =
    Job.parseAny(new String(Files.readAllBytes(jobFile), "UTF-8")) match {
      case Left(err) =>
        // a malformed document would re-parse and re-log every sweep
        // forever — archive it out of the queue like a poisoned input
        archive(jobFile.toString, problemsDir)
        log(s"$problemsDir/problems.log", s"$jobFile INVALID: $err")
        Left(err)
      case Right(job: Job) => Try(runJob(job)) match {
        case Success(r) => Right(r)
        case Failure(e) =>
          log(s"$problemsDir/problems.log", s"$jobFile FAILED: ${e.getMessage}")
          Left(e.getMessage)
      }
      // corpus kinds are ONE-SHOT: the job file itself is the queue item
      // (there is no stream of input files to absorb), so it archives to
      // processed/ on success and problems/ on failure — re-running a
      // landed generation would anyway be refused by ingestDelta's
      // chain-validation gate.
      case Right(spec: CorpusBuildSpec) => runCorpus(jobFile,
        s"CORPUSBUILD gen=0", Try {
          val rep = IncrementalCorpusJob.bootstrap(spark, spec.inputDocs,
            spec.corpusDir, spec.stateDir, spec.knobs.minTokens,
            spec.knobs.maxTokens, spec.knobs.minQuality,
            spec.knobs.dedupeThreshold, spec.knobs.budgetTokens,
            spec.knobs.seed, spec.knobs.numShards)
          CorpusOutcome("CorpusBuild", 0, rep.outDir, rep.nKept,
            rep.totalTokens)
        })
      case Right(spec: CorpusDeltaSpec) => runCorpus(jobFile,
        s"CORPUSDELTA gen=${spec.generation}", Try {
          val delta = graft.Tables.documents(spark, spec.inputDocs)
            .select("doc_id", "lang", "text")
          val rep = IncrementalCorpusJob.ingestDelta(spark, delta,
            spec.generation, spec.corpusDir, spec.stateDirs,
            spec.stateOutDir, spec.knobs.minTokens, spec.knobs.maxTokens,
            spec.knobs.minQuality, spec.knobs.dedupeThreshold,
            spec.knobs.budgetTokens, spec.knobs.seed, spec.knobs.numShards)
          CorpusOutcome("CorpusDelta", spec.generation, rep.genDir,
            rep.nKept, rep.totalTokens)
        })
      // CorpusStream is RESIDENT like the reference's upsert jobs: the
      // job file stays in the queue (only malformed JSON archives), and
      // every sweep drains whatever new delta files landed since the
      // last — failure logs to problems/ and retries next sweep, the
      // upsert jobs' own discipline.
      case Right(spec: CorpusStreamSpec) =>
        Try(CorpusStreamJob.run(spark, spec.landingDir, spec.corpusDir,
          spec.stateRoot, spec.checkpointDir, spec.knobs,
          spec.maxFilesPerTrigger)) match {
          case Success(reps) =>
            log(s"$processedDir/processed.log",
              s"$jobFile CORPUSSTREAM gens=" +
                s"${reps.map(_.generation).mkString(",")} " +
                s"KEPT: ${reps.map(_.nKept).sum} " +
                s"TOKENS: ${reps.map(_.totalTokens).sum}")
            Right(StreamOutcome(reps.map(_.generation),
              reps.map(_.nKept).sum, reps.map(_.totalTokens).sum))
          case Failure(e) =>
            log(s"$problemsDir/problems.log",
              s"$jobFile CORPUSSTREAM FAILED: ${e.getMessage}")
            Left(e.getMessage)
        }
    }

  private def runCorpus(jobFile: Path, tag: String,
      attempt: => Try[CorpusOutcome]): Either[String, Outcome] = {
    val t0 = System.nanoTime()
    attempt match {
      case Success(out) =>
        val dt = (System.nanoTime() - t0) / 1e9
        archive(jobFile.toString, processedDir)
        log(s"$processedDir/processed.log",
          f"$jobFile $tag KEPT: ${out.nKept} TOKENS: ${out.totalTokens} " +
            f"ELAPSED: $dt%.3f")
        Right(out)
      case Failure(e) =>
        archive(jobFile.toString, problemsDir)
        log(s"$problemsDir/problems.log",
          s"$jobFile $tag FAILED: ${e.getMessage}")
        Left(e.getMessage)
    }
  }

  def runJob(job: Job): JobResult = {
    val table = catalog.tableName(
      job.targetOrg, job.targetPackage, job.targetResource)
    // newest-first: the reference's processing order (datapump.py:426)
    val files = CsvIngest.listByMtimeDesc(spark, job.inputFile)
    val results = files.map { f =>
      val t0 = System.nanoTime()
      Try(processFile(f, job, table)) match {
        case Success((rows, dupes)) =>
          val dt = (System.nanoTime() - t0) / 1e9
          archive(f, processedDir)
          log(s"$processedDir/processed.log",
            f"$f DUPES: $dupes PROCESSED: $rows ELAPSED: $dt%.3f")
          FileResult(f, rows, dupes, dt)
        case Failure(e) =>
          archive(f, problemsDir)
          log(s"$problemsDir/problems.log", s"$f FAILED: ${e.getMessage}")
          FileResult(f, -1, -1, 0)
      }
    }
    // the reference computes stats inside the per-file flow
    // (datapump.py:634-638), so a sweep that upserted no file computes
    // none; a successful file has created the table
    if (job.stats.nonEmpty && results.exists(_.rows >= 0))
      runStats(job, table)
    JobResult(table, results)
  }

  /** Stats over the ACCUMULATED table, re-read from the sink (the
    * reference's scan_http_csv, datapump.py:375-376), one driver thread
    * per stat table. The stats are bound by per-job latency (mostly
    * single-task jobs), so overlapping them makes the step cost its
    * slowest table instead of the sum. Stats sharing a table (`H` and
    * `h`) run in spec order on one thread, so their upserts land in the
    * sequential order; distinct tables are disjoint, so the results equal
    * a sequential run. The threads are started here, by the sweeping
    * thread, so they inherit its Spark local properties (job group,
    * scheduler pool), and all are joined before this returns. Every
    * failing stat is logged on one line naming its table; then the first
    * failure in spec order is rethrown and fails the job. */
  private def runStats(job: Job, table: String): Unit = {
    val acc = sink.readBack(spark, table)
    val targets = job.stats.map(st => s"${table}__${st.kind.toLowerCase}")
    val failures = new Array[Throwable](job.stats.size)
    val threads = targets.distinct.map { t =>
      val group = job.stats.indices.filter(targets(_) == t)
      new Thread(() => group.foreach { i =>
        try runStat(job.stats(i), acc, t)
        catch { case e: Throwable => failures(i) = e }
      }, s"stats-$t")
    }
    threads.foreach(_.start())
    joinAll(threads)
    // one line per failed stat (analysis errors carry multi-line plans)
    for (i <- failures.indices if failures(i) != null) {
      val msg = String.valueOf(failures(i).getMessage)
      log(s"$problemsDir/problems.log",
        s"${targets(i)} STAT ${job.stats(i).kind} FAILED: " +
          msg.replaceAll("\\s*\n\\s*", " "))
    }
    failures.find(_ != null).foreach(e => throw e)
  }

  /** Joins every thread even if this one is interrupted meanwhile (no
    * stats thread or its Spark job may outlive the sweep); the interrupt
    * is re-asserted afterwards. */
  private def joinAll(threads: Seq[Thread]): Unit = {
    var interrupted = false
    threads.foreach { t =>
      while (t.isAlive)
        try t.join()
        catch { case _: InterruptedException => interrupted = true }
    }
    if (interrupted) Thread.currentThread().interrupt()
  }

  private def processFile(path: String, job: Job, table: String)
      : (Long, Long) = {
    val raw = CsvIngest.readCsv(spark, path, dateformats)
    job.primaryKey.find(pk => !raw.columns.contains(pk)).foreach { missing =>
      throw new IllegalArgumentException(
        s"primary key column '$missing' absent from $path")
    }
    // cache the stamped frame: three actions run over it (count,
    // distinct-count, upsert) and without the cache each one re-reads and
    // re-infers the CSV. One file fits executor memory by construction
    // (the reference holds it whole in pandas).
    val stamped = Dedupe.withArrivalOrder(raw.coalesce(1)).cache()
    try {
      val total = stamped.count()
      val distinctPk =
        stamped.select(job.primaryKey.map(col): _*).distinct().count()
      val deduped = (if (job.dedupe == "first")
          Dedupe.keepFirst(stamped, job.primaryKey, col("__arrival"))
        else Dedupe.keepLast(stamped, job.primaryKey, col("__arrival")))
        .drop("__arrival")
      sink.ensureTable(table, deduped.schema, job.primaryKey)
      if (job.truncate) sink.truncate(table)
      sink.upsert(deduped, table, job.primaryKey)
      catalog.updateDescription(table,
        java.time.LocalDateTime.now().withNano(0).toString.replace('T', ' '))
      // keepFirst/keepLast emit exactly one row per PK group, so the
      // processed-row count IS the distinct-PK count — no third scan
      (distinctPk, total - distinctPk)
    } finally stamped.unpersist()
  }

  private def runStat(st: StatSpec, acc: DataFrame, target: String): Unit =
    st.kind match {
      case "descriptive" =>
        // describe(include='all') — ALL columns, with unique/top/freq rows,
        // matching the reference's pandas describe (datapump.py:331-336)
        val out = Stats.describeAll(acc, acc.columns.toSeq)
        sink.ensureTable(target, out.schema, Seq("stat"))
        sink.upsert(out, target, Seq("stat"))
      case "mode" =>
        val out = Stats.modeAll(acc,
          acc.columns.filterNot(_ == datecolumn).toSeq)
        sink.ensureTable(target, out.schema, Seq("row_idx"))
        sink.truncate(target) // mode rows are positional, not keyed
        sink.upsert(out, target, Seq("row_idx"))
      case freq =>
        // frequency stat: resample mean grouped by GroupBy, after dropping
        // DropColumns (datapump.py:287-327). The stat is computed from the
        // immutable read-back frame - consecutive stats do NOT see each
        // other's drops (deliberate fix of SURVEY §2.10 bug 4).
        val kept = acc.drop(st.dropColumns: _*)
        val valueCols = kept.schema.fields.collect {
          case f if (f.dataType == DoubleType || f.dataType == LongType) &&
            !st.groupBy.contains(f.name) => f.name
        }.toSeq
        val out = TimeSeries.resampleMean(
          kept, datecolumn, freq, st.groupBy, valueCols)
        sink.ensureTable(target, out.schema, st.groupBy :+ datecolumn)
        sink.upsert(out, target, st.groupBy :+ datecolumn)
    }

  private def archive(file: String, destDir: String): Unit = {
    val src = Paths.get(file.stripPrefix("file:"))
    if (Files.exists(src)) {
      Files.createDirectories(Paths.get(destDir))
      Files.move(src, Paths.get(destDir).resolve(src.getFileName),
        StandardCopyOption.REPLACE_EXISTING)
    }
  }
}
