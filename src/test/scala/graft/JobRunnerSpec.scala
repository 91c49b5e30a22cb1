package graft

import java.nio.file.{Files, Paths}
import graft.jobs.{Job, JobRunner}
import graft.sink.JdbcSink

class JobRunnerSpec extends SparkSpec {

  test("Job.parseAny validates required fields, enum, and defaults") {
    val ok = Job.parseAny(
      """{"InputFile":"/tmp/x/*.csv","TargetOrg":"o","TargetPackage":"p",
        |"TargetResource":"r","PrimaryKey":"DateTime,Sensor_id",
        |"Dedupe":"last"}""".stripMargin)
    assert(ok.isRight)
    val j = ok.toOption.collect { case j: Job => j }.get
    assert(j.primaryKey == Seq("DateTime", "Sensor_id"))
    assert(!j.truncate && j.stats.isEmpty) // defaults (ref bug 2 fixed)

    assert(Job.parseAny("""{"InputFile":"x"}""").isLeft) // missing fields
    assert(Job.parseAny(
      """{"InputFile":"x","TargetOrg":"o","TargetPackage":"p",
        |"TargetResource":"r","PrimaryKey":"k","Dedupe":"newest"}"""
        .stripMargin).isLeft) // bad enum
    assert(Job.parseAny("not json").isLeft)
  }

  test("end-to-end: queue sweep dedupes, upserts, stats, archives") {
    val base = Files.createTempDirectory("graft-e2e")
    val input = base.resolve("input"); Files.createDirectories(input)
    val processed = base.resolve("processed").toString
    val problems = base.resolve("problems").toString
    val samples = base.resolve("samples"); Files.createDirectories(samples)

    // two files; newer one processed first, so OLDER file's rows win
    val f1 = samples.resolve("old.csv")
    Files.write(f1,
      ("DateTime,Sensor_id,LAT,LONG,pm25\n" +
       "2024-01-01 10:00:00,s1,1.0,2.0,10.0\n" +
       "2024-01-01 10:00:00,s1,1.0,2.0,12.0\n" + // in-file dupe, keep last
       "2024-01-01 11:00:00,s1,1.0,2.0,20.0\n").getBytes)
    f1.toFile.setLastModified(1700000000000L)
    val f2 = samples.resolve("new.csv")
    Files.write(f2,
      ("DateTime,Sensor_id,LAT,LONG,pm25\n" +
       "2024-01-01 10:00:00,s1,1.0,2.0,99.0\n").getBytes)
    f2.toFile.setLastModified(1700000099000L)

    // a poisoned file: PK column missing -> problems/
    val f3 = samples.resolve("poison.csv")
    Files.write(f3, "Whatever,x\n1,2\n".getBytes)
    f3.toFile.setLastModified(1700000050000L)

    Files.write(input.resolve("sensors-job.json"),
      (s"""{"InputFile":"$samples/*.csv","TargetOrg":"etl-test",
          |"TargetPackage":"iot-test","TargetResource":"air-quality",
          |"PrimaryKey":"DateTime,Sensor_id","Dedupe":"last",
          |"Stats":[{"Kind":"descriptive"},{"Kind":"mode"},
          |         {"Kind":"H","GroupBy":"Sensor_id","DropColumns":"LAT,LONG"},
          |         {"Kind":"h","GroupBy":"Sensor_id","DropColumns":"LAT,LONG"}]}"""
        .stripMargin).getBytes)

    val sink = JdbcSink("jdbc:derby:memory:e2e;create=true")
    val runner = new JobRunner(spark, sink, input.toString, processed, problems)
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val jobs = new JobTally(spark, "e2e")
    val results = jobs.run(runner.runAll())
    assert(results.size == 1 && results.head._2.isRight)
    // the stats threads inherit the sweeping thread's job group, and
    // neither a thread nor a job outlives the sweep
    assert(jobs.inGroup > 0 && jobs.outsideGroup == 0 && jobs.running == 0)
    assert(statsThreads.isEmpty, statsThreads)
    // the sweep leaves nothing persisted (the read-back is not cached);
    // the stats' local checkpoints are released once unreachable
    assert(eventually(
      spark.sparkContext.getPersistentRDDs.keySet == persisted),
      spark.sparkContext.getPersistentRDDs)

    // data table: new.csv processed first, old.csv (older mtime) last ->
    // old.csv's keep-last value (12.0) wins over new.csv's 99.0
    val table = "etl_test__iot_test__air_quality"
    val rows = sink.readBack(spark, table)
      .select("DateTime", "Sensor_id", "pm25").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getDouble(2)))
      .toSet
    assert(rows == Set(
      ("2024-01-01 10:00:00.0", "s1", 12.0),
      ("2024-01-01 11:00:00.0", "s1", 20.0)))

    // stats tables exist and have content: describe(include='all') emits
    // the full pandas row set — count/unique/top/freq + 7 numeric moments
    assert(sink.recordCount(s"${table}__descriptive") == 11)
    assert(sink.recordCount(s"${table}__h") == 2) // two hourly buckets
    // mode and the shared __h table (H, then h) hold exactly what the ops
    // compute over the accumulated read-back
    val acc = sink.readBack(spark, table)
    assert(rowSet(sink.readBack(spark, s"${table}__mode")) == rowSet(
      graft.ops.Stats.modeAll(acc, acc.columns.filterNot(_ == "DateTime"))))
    assert(rowSet(sink.readBack(spark, s"${table}__h")) == rowSet(
      graft.ops.TimeSeries.resampleMean(acc.drop("LAT", "LONG"), "DateTime",
        "h", Seq("Sensor_id"), Seq("pm25"))))

    // archive semantics: 2 good files moved to processed/, poison to problems/
    assert(Paths.get(processed, "old.csv").toFile.exists)
    assert(Paths.get(processed, "new.csv").toFile.exists)
    assert(Paths.get(problems, "poison.csv").toFile.exists)
    assert(!Files.exists(samples.resolve("old.csv")))
    assert(Files.readAllLines(Paths.get(processed, "processed.log")).size == 2)
    assert(Files.readAllLines(Paths.get(problems, "problems.log")).size == 1)

    // dupe accounting: old.csv logged 1 dupe
    val logged = Files.readAllLines(Paths.get(processed, "processed.log"))
    assert(logged.asScala.exists(l => l.contains("old.csv") &&
      l.contains("DUPES: 1") && l.contains("PROCESSED: 2")))
  }

  test("a sweep that upserts no file computes no stats") {
    val (runner, sink, samples) = sensorQueue("nostats",
      """{"Kind":"descriptive"},{"Kind":"mode"},
        |{"Kind":"H","GroupBy":"Sensor_id","DropColumns":"LAT,LONG"}"""
        .stripMargin)
    Files.write(samples.resolve("a.csv"), sensorCsv.getBytes)
    assert(runner.runAll().head._2.isRight)
    val table = "etl_test__iot_test__air_quality"
    val statTables = Seq("descriptive", "mode", "h").map(k => s"${table}__$k")
    def contents = statTables.map(t => rowSet(sink.readBack(spark, t)))
    val before = contents
    assert(before.forall(_.nonEmpty))

    // the queue is empty now: the resident job sweeps, upserts nothing,
    // and must not re-run the stats (no Spark job at all)
    val jobs = new JobTally(spark, "nostats")
    val again = jobs.run(runner.runAll())
    assert(again.size == 1 && again.head._2.isRight)
    assert(jobs.inGroup == 0 && jobs.outsideGroup == 0, jobs.inGroup)
    assert(contents == before)
  }

  test("every failing stat is logged by table; the job fails, the " +
      "other stats land, no stats thread or job outlives the sweep") {
    val (runner, sink, samples) = sensorQueue("badstats",
      """{"Kind":"descriptive"},{"Kind":"H","GroupBy":"Nope"},
        |{"Kind":"D","GroupBy":"Nope"}""".stripMargin)
    Files.write(samples.resolve("a.csv"), sensorCsv.getBytes)
    val jobs = new JobTally(spark, "badstats")
    val res = jobs.run(runner.runAll())
    assert(res.size == 1 && res.head._2.isLeft)
    assert(res.head._2.swap.toOption.get.contains("Nope"))
    assert(jobs.running == 0 && statsThreads.isEmpty, statsThreads)

    val table = "etl_test__iot_test__air_quality"
    val problems = Files.readAllLines(
      samples.getParent.resolve("problems").resolve("problems.log")).asScala
    val statLines = Seq("h" -> "H", "d" -> "D").map { case (t, k) =>
      problems.indexWhere(l => l.startsWith(s"${table}__$t STAT $k FAILED") &&
        l.contains("Nope"))
    }
    assert(statLines.forall(_ >= 0), problems)
    // the job's own FAILED line follows every stat line
    assert(problems.indexWhere(_.contains("sensors-job.json FAILED")) >
      statLines.max, problems)
    // one line per failure: the job line's multi-line analysis message
    // is collapsed like the stat lines'
    assert(problems.size == 3 && problems.forall(_.nonEmpty), problems)
    assert(sink.recordCount(s"${table}__descriptive") == 11)
  }

  test("a resident job's later sweeps compile no new classes") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val (runner, _, samples) = sensorQueue("codegen",
      """{"Kind":"descriptive"},{"Kind":"mode"},
        |{"Kind":"H","GroupBy":"Sensor_id","DropColumns":"LAT,LONG"}"""
        .stripMargin)
    val compiled = (1 to 3).map { i =>
      Files.write(samples.resolve(s"s$i.csv"), sensorCsv.getBytes)
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      assert(runner.runAll().head._2.isRight)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    // the third sweep runs the second's plans, so its generated classes
    // are cache hits while the cache holds a sweep's working set and its
    // key (which includes the context classloader) is stable: 0 compiled
    // when this suite runs alone; 6 in a whole-suite run, whose earlier
    // suites fill the cache so its approximate-LRU eviction drops a few;
    // ~150 on every sweep with Spark's default settings
    assert(compiled(2) <= 30, compiled)
  }

  test("a clean drop costs its CSV read's jobs plus one: the upsert") {
    val (runner, _, samples) = sensorQueue("budget", "")
    val copy = Files.createTempFile("graft-budget", ".csv")
    Files.write(copy, sensorCsv.getBytes)
    Files.write(samples.resolve("a.csv"), sensorCsv.getBytes)
    val read = new JobTally(spark, "budget-read")
    read.run(graft.ingest.CsvIngest.readCsv(spark, copy.toString))
    val sweep = new JobTally(spark, "budget-sweep")
    assert(sweep.run(runner.runAll()).head._2.isRight)
    // the read's jobs infer the schema and the timestamp columns; the
    // dedupe, the upsert and both logged counts are one more job
    assert(read.inGroup == 4 && read.outsideGroup == 0, read.inGroup)
    assert(sweep.inGroup == read.inGroup + 1 && sweep.outsideGroup == 0,
      sweep.inGroup)
    assert(processedLog(samples) == Seq("a.csv DUPES: 0 PROCESSED: 3"),
      processedLog(samples))
  }

  test("PROCESSED/DUPES are exact under keep-first and keep-last") {
    // six rows over three PKs: (10:00,s1) three times, (11:00,s1) twice
    val csv = "DateTime,Sensor_id,pm25\n" +
      "2024-01-01 10:00:00,s1,1.0\n" +
      "2024-01-01 11:00:00,s1,2.0\n" +
      "2024-01-01 10:00:00,s1,3.0\n" +
      "2024-01-01 10:00:00,s2,4.0\n" +
      "2024-01-01 11:00:00,s1,5.0\n" +
      "2024-01-01 10:00:00,s1,6.0\n"
    for ((dedupe, kept) <- Seq("first" -> Set(1.0, 2.0, 4.0),
        "last" -> Set(6.0, 5.0, 4.0))) {
      val (runner, sink, samples) = sensorQueue(s"exact$dedupe", "", dedupe)
      Files.write(samples.resolve("a.csv"), csv.getBytes)
      assert(runner.runAll().head._2.isRight)
      assert(processedLog(samples) == Seq("a.csv DUPES: 3 PROCESSED: 3"),
        processedLog(samples))
      val pm = sink.readBack(spark, "etl_test__iot_test__air_quality")
        .select("pm25").collect().map(_.getDouble(0)).toSet
      assert(pm == kept, dedupe)
    }
  }

  test("a header-only drop logs PROCESSED: 0 DUPES: 0 and is archived") {
    val (runner, sink, samples) = sensorQueue("headeronly", "")
    Files.write(samples.resolve("a.csv"), sensorCsv.getBytes)
    assert(runner.runAll().head._2.isRight)
    Files.write(samples.resolve("empty.csv"),
      sensorCsv.linesIterator.next().concat("\n").getBytes)
    val res = runner.runAll()
    assert(res.size == 1 && res.head._2.isRight, res)
    assert(processedLog(samples) == Seq("a.csv DUPES: 0 PROCESSED: 3",
      "empty.csv DUPES: 0 PROCESSED: 0"), processedLog(samples))
    assert(samples.getParent.resolve("processed").resolve("empty.csv")
      .toFile.exists)
    assert(sink.recordCount("etl_test__iot_test__air_quality") == 3)
  }

  test("a drop whose upsert fails goes to problems/; the next clean drop " +
      "in the same sweep still logs exact counts") {
    val (runner, sink, samples) = sensorQueue("badupsert", "")
    // a null Sensor_id breaks the sink's NOT NULL primary key
    val bad = samples.resolve("bad.csv")
    Files.write(bad, (sensorCsv + "2024-01-01 12:00:00,,1.0,2.0,30.0\n")
      .getBytes)
    bad.toFile.setLastModified(1700000099000L) // newest: processed first
    val good = samples.resolve("good.csv")
    Files.write(good, (sensorCsv + "2024-01-01 10:30:00,s2,1.0,2.0,15.0\n")
      .getBytes)
    good.toFile.setLastModified(1700000000000L)
    val res = runner.runAll()
    assert(res.size == 1 && res.head._2.isRight, res)
    val files = res.head._2.toOption.get.asInstanceOf[runner.JobResult].files
    assert(files.map(f => (f.path.split('/').last, f.rows, f.dupes)) ==
      Seq(("bad.csv", -1L, -1L), ("good.csv", 3L, 1L)), files)
    val problems = samples.getParent.resolve("problems")
    assert(problems.resolve("bad.csv").toFile.exists)
    val plines = Files.readAllLines(problems.resolve("problems.log")).asScala
    assert(plines.size == 1 && plines.head.contains("bad.csv FAILED"),
      plines)
    assert(processedLog(samples) == Seq("good.csv DUPES: 1 PROCESSED: 3"),
      processedLog(samples))
    assert(sink.recordCount("etl_test__iot_test__air_quality") == 3)
  }

  private val sensorCsv =
    "DateTime,Sensor_id,LAT,LONG,pm25\n" +
      "2024-01-01 10:00:00,s1,1.0,2.0,10.0\n" +
      "2024-01-01 10:30:00,s2,1.0,2.0,14.0\n" +
      "2024-01-01 11:00:00,s1,1.0,2.0,20.0\n"

  /** A queue holding one resident sensor job with the given `Stats`
    * items, over a fresh Derby database; files land in the returned
    * samples dir. */
  private def sensorQueue(name: String, stats: String,
      dedupe: String = "last") = {
    val base = Files.createTempDirectory(s"graft-$name")
    val input = base.resolve("input"); Files.createDirectories(input)
    val samples = base.resolve("samples"); Files.createDirectories(samples)
    Files.write(input.resolve("sensors-job.json"),
      (s"""{"InputFile":"$samples/*.csv","TargetOrg":"etl-test",
          |"TargetPackage":"iot-test","TargetResource":"air-quality",
          |"PrimaryKey":"DateTime,Sensor_id","Dedupe":"$dedupe",
          |"Stats":[$stats]}""".stripMargin).getBytes)
    val sink = JdbcSink(s"jdbc:derby:memory:$name;create=true")
    val runner = new JobRunner(spark, sink, input.toString,
      base.resolve("processed").toString, base.resolve("problems").toString)
    (runner, sink, samples)
  }

  /** The processed.log lines of a [[sensorQueue]], each as `<file name>
    * DUPES: d PROCESSED: p` (directory and ELAPSED dropped). */
  private def processedLog(samples: java.nio.file.Path): Seq[String] = {
    val log = samples.getParent.resolve("processed").resolve("processed.log")
    if (!Files.exists(log)) Nil
    else Files.readAllLines(log).asScala
      .map(_.replaceAll("^\\S*/", "").replaceAll(" ELAPSED: .*", ""))
  }

  /** Order-insensitive content of a frame: its rows as strings, columns
    * in name order (sink read-backs widen ints to longs). */
  private def rowSet(df: org.apache.spark.sql.DataFrame): Set[Seq[String]] =
    df.select(df.columns.sorted.map(c =>
        org.apache.spark.sql.functions.col(c).cast("string")).toIndexedSeq: _*)
      .collect().map(_.toSeq.map(String.valueOf)).toSet

  /** Threads the runner's stats step started that are still alive. */
  private def statsThreads: Seq[String] = {
    val names = Seq.newBuilder[String]
    Thread.getAllStackTraces.keySet.forEach { t =>
      if (t.isAlive && t.getName.startsWith("stats-")) names += t.getName
    }
    names.result()
  }

  private def eventually(cond: => Boolean): Boolean =
    (1 to 20).exists { _ =>
      cond || { System.gc(); Thread.sleep(250); cond }
    }

  test("corpus kinds: queue drives bootstrap + delta end-to-end; " +
      "job files archive; bad kinds and broken deltas hit problems/") {
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("graft-corpusq")
    val input = base.resolve("input"); Files.createDirectories(input)
    val processed = base.resolve("processed").toString
    val problems = base.resolve("problems").toString
    val corpus = base.resolve("corpus").toString
    val st0 = base.resolve("st0").toString
    val st1 = base.resolve("st1").toString

    // sliding 20-token docs with "the" at every i%20==15 position: all
    // pass the lang gate, and J(doc(a), doc(a+3)) = 15/21 ≥ 0.5 makes
    // 11 a near-dup of 10 within the delta (IncrementalCorpusJobSpec's
    // w2/doc2 construction)
    def w(i: Int) = if (i % 20 == 15) "the" else s"t$i"
    def doc(lo: Int) = (lo to lo + 19).map(w).mkString(" ")
    import sqlImplicits._
    def docsDir(rows: (Long, String)*): String = {
      val d = base.resolve(s"docs${rows.head._1}")
      rows.toSeq.toDF("doc_id", "text").withColumn("lang", lit("en"))
        .coalesce(1).write.parquet(s"$d/documents.parquet")
      d.toString
    }
    val baseDocs = docsDir(1L -> doc(1), 2L -> doc(101))
    val deltaDocs = docsDir(10L -> doc(41), 11L -> doc(44))

    // queue order is lexicographic — build runs before delta
    Files.write(input.resolve("a-build-job.json"),
      s"""{"Kind":"CorpusBuild","InputDocs":"$baseDocs",
         |"CorpusDir":"$corpus","StateDir":"$st0"}""".stripMargin.getBytes)
    Files.write(input.resolve("b-delta-job.json"),
      s"""{"Kind":"CorpusDelta","InputDocs":"$deltaDocs",
         |"CorpusDir":"$corpus","Generation":1,
         |"StateDirs":["$st0"],"StateOutDir":"$st1"}""".stripMargin.getBytes)
    Files.write(input.resolve("c-bad-job.json"),
      """{"Kind":"CorpusTeleport","InputDocs":"x"}""".getBytes)

    val sink = JdbcSink("jdbc:derby:memory:corpusq;create=true")
    val runner = new JobRunner(spark, sink, input.toString, processed,
      problems)
    val results = runner.runAll()
    assert(results.size == 3, results.map(_._1).toString)
    val byFile = results.map { case (f, r) =>
      Paths.get(f).getFileName.toString -> r }.toMap
    val build = byFile("a-build-job.json").toOption.get
      .asInstanceOf[runner.CorpusOutcome]
    assert(build.kind == "CorpusBuild" && build.nKept == 2, build.toString)
    val delta = byFile("b-delta-job.json").toOption.get
      .asInstanceOf[runner.CorpusOutcome]
    // 10 is fresh; 11 near-dups 10 within the delta
    assert(delta.kind == "CorpusDelta" && delta.generation == 1 &&
      delta.nKept == 1, delta.toString)
    assert(byFile("c-bad-job.json").isLeft)

    // landed layout: both generations readable as one corpus, chain
    // metadata coherent with the landed ids
    val landed = spark.read.parquet(corpus)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(landed == Seq(1L, 2L, 10L))
    val metas = graft.jobs.IncrementalCorpusJob
      .readChainMeta(spark, Seq(st0, st1))
    assert(metas.map(m => (m.gen, m.nKeys)).sorted == Seq((0, 2L), (1, 1L)))

    // one-shot archive semantics: corpus job FILES moved out of the
    // queue (success → processed/, failure → problems/); a re-sweep
    // finds an empty queue and re-runs nothing
    assert(Paths.get(processed, "a-build-job.json").toFile.exists)
    assert(Paths.get(processed, "b-delta-job.json").toFile.exists)
    assert(Paths.get(problems, "c-bad-job.json").toFile.exists)
    assert(runner.runAll().isEmpty)
    val plog = Files.readAllLines(Paths.get(processed, "processed.log"))
      .asScala
    assert(plog.exists(l => l.contains("CORPUSBUILD gen=0") &&
      l.contains("KEPT: 2")), plog.toString)
    assert(plog.exists(l => l.contains("CORPUSDELTA gen=1") &&
      l.contains("KEPT: 1")), plog.toString)

    // a delta over a generation that already landed is refused by the
    // chain gate and its job file lands in problems/
    Files.write(input.resolve("d-redo-job.json"),
      s"""{"Kind":"CorpusDelta","InputDocs":"$deltaDocs",
         |"CorpusDir":"$corpus","Generation":1,
         |"StateDirs":["$st0","$st1"],"StateOutDir":"${st1}_b"}"""
        .stripMargin.getBytes)
    val redo = runner.runAll()
    assert(redo.size == 1 && redo.head._2.isLeft)
    assert(redo.head._2.swap.toOption.get.contains("already exists"))
    assert(Paths.get(problems, "d-redo-job.json").toFile.exists)
  }

  test("CorpusStream kind is resident: each sweep drains only what " +
      "arrived, the job file never archives, an empty sweep drains " +
      "nothing") {
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("graft-streamq")
    val input = base.resolve("input"); Files.createDirectories(input)
    val processed = base.resolve("processed").toString
    val problems = base.resolve("problems").toString
    val corpus = base.resolve("corpus").toString
    val stateRoot = base.resolve("state").toString
    val landing = base.resolve("landing"); Files.createDirectories(landing)
    val ckpt = base.resolve("ckpt").toString

    def w(i: Int) = if (i % 20 == 15) "the" else s"t$i"
    def doc(lo: Int) = (lo to lo + 19).map(w).mkString(" ")
    import sqlImplicits._
    def docsDf(rows: (Long, String)*) =
      rows.toSeq.toDF("doc_id", "text").withColumn("lang", lit("en"))
        .select("doc_id", "lang", "text")
    val baseDir = base.resolve("basedocs")
    docsDf(1L -> doc(1), 2L -> doc(101)).coalesce(1)
      .write.parquet(s"$baseDir/documents.parquet")
    def drop(name: String, mtimeSec: Long, rows: (Long, String)*): Unit = {
      val stage = Files.createTempDirectory("graft-streamq-drop")
      docsDf(rows: _*).coalesce(1).write.mode("overwrite")
        .parquet(stage.toString)
      val part = Files.list(stage).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dst = landing.resolve(name)
      Files.move(part, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtimeSec * 1000L))
    }

    // queue: bootstrap (one-shot) sorts before the resident stream job
    Files.write(input.resolve("a-build-job.json"),
      s"""{"Kind":"CorpusBuild","InputDocs":"$baseDir",
         |"CorpusDir":"$corpus","StateDir":"$stateRoot/snap=0"}"""
        .stripMargin.getBytes)
    Files.write(input.resolve("b-stream-job.json"),
      s"""{"Kind":"CorpusStream","LandingDir":"$landing",
         |"CorpusDir":"$corpus","StateRoot":"$stateRoot",
         |"CheckpointDir":"$ckpt"}""".stripMargin.getBytes)
    drop("d1.parquet", 1000, 10L -> doc(41), 11L -> doc(61))

    val sink = JdbcSink("jdbc:derby:memory:streamq;create=true")
    val runner = new JobRunner(spark, sink, input.toString, processed,
      problems)
    val s1 = runner.runAll()
    assert(s1.size == 2, s1.map(_._1).toString)
    val out1 = s1.collectFirst { case (f, Right(o))
      if f.endsWith("b-stream-job.json") => o }.get
      .asInstanceOf[runner.StreamOutcome]
    assert(out1.generations == Seq(1) && out1.nKept == 2, out1.toString)

    // resident: the stream job file is still in the queue, the build is
    // archived; a new drop drains as the NEXT generation only
    assert(input.resolve("b-stream-job.json").toFile.exists)
    assert(Paths.get(processed, "a-build-job.json").toFile.exists)
    drop("d2.parquet", 2000, 20L -> doc(201))
    val s2 = runner.runAll()
    assert(s2.size == 1)
    val out2 = s2.head._2.toOption.get.asInstanceOf[runner.StreamOutcome]
    assert(out2.generations == Seq(2) && out2.nKept == 1, out2.toString)

    // an empty sweep drains nothing and the chain is untouched
    val s3 = runner.runAll()
    val out3 = s3.head._2.toOption.get.asInstanceOf[runner.StreamOutcome]
    assert(out3.generations.isEmpty, out3.toString)
    val landedIds = spark.read.parquet(corpus)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(landedIds == Seq(1L, 2L, 10L, 11L, 20L))
    val plog = Files.readAllLines(Paths.get(processed, "processed.log"))
      .asScala
    assert(plog.exists(l => l.contains("b-stream-job.json") &&
      l.contains("CORPUSSTREAM gens=1") && l.contains("KEPT: 2")),
      plog.toString)
  }

  private implicit class JListAsScala[T](l: java.util.List[T]) {
    def asScala: Seq[T] = {
      val b = Seq.newBuilder[T]
      l.forEach(x => b += x)
      b.result()
    }
  }
}
