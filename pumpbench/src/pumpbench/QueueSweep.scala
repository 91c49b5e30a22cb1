package pumpbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.Locale
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3
import graft.jobs.JobRunner
import graft.sink.JdbcSink

/** One generated CSV drop. `keepLast` is the drop's rows after the
  * reference's in-file keep-last dedupe, keyed by primary key. */
final case class Drop(index: Int, name: String, csv: String, rows: Int,
    poisoned: Boolean, keepLast: Map[Long, Array[Double]])

/** Seeded sensor-drop generator (`FIXTURES.md` §A's schema:
  * `DateTime,Sensor_id,LAT,LONG` plus two float measures). Every drop
  * has about `rowsPerDrop` rows: half are new primary keys, half repeat
  * keys of earlier drops (the upsert path), and 2% repeat a key of the
  * same drop (keep-last). Drop `i` with `i % 50 == poisonAt` lacks the
  * `Sensor_id` column and must land in `problems/`. The generator also
  * keeps the table the sink must hold after each sweep. */
final class SensorGen(seed: Long, poisonAt: Int, rowsPerDrop: Int = 2000) {
  private val rnd = new java.util.SplittableRandom(seed)
  val sensors = 20
  private val newPerDrop = rowsPerDrop / 2
  private val inFileDupes = rowsPerDrop / 50
  private val lat = Array.tabulate(sensors)(_ => 40 + rnd.nextInt(100000) / 1e4)
  private val lon = Array.tabulate(sensors)(_ => -74 + rnd.nextInt(100000) / 1e4)
  private val baseSec = 1704067200L + 86400L * rnd.nextInt(365) // 2024 + d
  private val pool = mutable.ArrayBuffer.empty[Long]
  private var nextMinute = 0L
  private val ts = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    .withZone(ZoneOffset.UTC)
  /** Primary key → (LAT, LONG, PM25, PM10): what the sink must hold. */
  val expected = mutable.HashMap.empty[Long, Array[Double]]

  def epochSec(key: Long): Long = baseSec + (key / sensors) * 60L
  def sensor(key: Long): Int = (key % sensors).toInt
  private def fmt(x: Double, d: Int) = String.format(Locale.ROOT, s"%.${d}f", x)

  def drop(i: Int): Drop = {
    val poisoned = i % 50 == poisonAt
    val fresh = (if (pool.isEmpty) 2 * newPerDrop - inFileDupes
      else newPerDrop) / sensors
    val keys = mutable.ArrayBuffer.empty[Long]
    for (m <- nextMinute until nextMinute + fresh; s <- 0 until sensors)
      keys += m * sensors + s
    nextMinute += fresh
    val seen = mutable.HashSet.empty[Long]
    val repeats = math.min(rowsPerDrop - inFileDupes - keys.size, pool.size)
    while (seen.size < repeats) seen += pool(rnd.nextInt(pool.size))
    keys ++= seen
    for (_ <- 0 until inFileDupes) keys += keys(rnd.nextInt(keys.size))
    for (j <- keys.indices.reverse) { // seeded Fisher-Yates
      val k = rnd.nextInt(j + 1)
      val t = keys(j); keys(j) = keys(k); keys(k) = t
    }
    val sb = new StringBuilder(
      if (poisoned) "DateTime,LAT,LONG,PM25,PM10\n"
      else "DateTime,Sensor_id,LAT,LONG,PM25,PM10\n")
    val last = mutable.HashMap.empty[Long, Array[Double]]
    keys.foreach { k =>
      val (la, lo) = (fmt(lat(sensor(k)), 4), fmt(lon(sensor(k)), 4))
      val (p25, p10) = (fmt(rnd.nextInt(15000) / 100.0, 2),
        fmt(rnd.nextInt(30000) / 100.0, 2))
      sb.append(ts.format(Instant.ofEpochSecond(epochSec(k)))).append(',')
      if (!poisoned) sb.append(sensor(k)).append(',')
      sb.append(la).append(',').append(lo).append(',').append(p25)
        .append(',').append(p10).append('\n')
      last(k) = Array(la.toDouble, lo.toDouble, p25.toDouble, p10.toDouble)
    }
    if (!poisoned) pool ++= keys.filter(k => k / sensors >= nextMinute - fresh)
      .distinct
    Drop(i, f"drop_$i%05d.csv", sb.toString, keys.size, poisoned,
      if (poisoned) Map.empty else last.toMap)
  }

  /** Fold one successful sweep into the expected table: the runner
    * processes a sweep's files newest-first and upserts each, so for a
    * key present in several drops of one sweep the OLDEST drop wins;
    * a later sweep overwrites an earlier one. */
  def applySweep(drops: Seq[Drop]): Unit =
    drops.sortBy(-_.index).filterNot(_.poisoned)
      .foreach(d => expected ++= d.keepLast)
}

/** A queue instance: landing/processed/problems dirs, a resident job
  * document, a fresh in-memory Derby database, and one [[JobRunner]]. */
final class SensorQueue(ctx: Ctx, name: String, gen: SensorGen,
    sink: JdbcSink) {
  private val root = ctx.path(name)
  val landing: String = s"$root/landing"
  val processed: String = s"$root/processed"
  val problems: String = s"$root/problems"
  private val staging = s"$root/staging"
  Seq(landing, processed, problems, staging, s"$root/queue")
    .foreach(d => Files.createDirectories(Paths.get(d)))
  Files.writeString(Paths.get(s"$root/queue/air-quality-job.json"),
    s"""{"InputFile": "$landing/*.csv", "TargetOrg": "etl-test",
       | "TargetPackage": "iot-test", "TargetResource": "air-quality",
       | "PrimaryKey": "DateTime,Sensor_id", "Dedupe": "last",
       | "Truncate": false, "Stats": [{"Kind": "descriptive"},
       | {"Kind": "mode"},
       | {"Kind": "H", "GroupBy": "Sensor_id", "DropColumns": "LAT,LONG"}]}
       |""".stripMargin)
  val runner = new JobRunner(ctx.spark, sink, s"$root/queue", processed,
    problems)
  val table: String =
    runner.catalog.tableName("etl-test", "iot-test", "air-quality")
  private var next = 0
  private val pending = mutable.ArrayBuffer.empty[Drop]
  val landed = mutable.ArrayBuffer.empty[Drop]

  /** Land `n` drops, each with a strictly later mtime. */
  def land(n: Int): Unit = (0 until n).foreach { _ =>
    val d = gen.drop(next)
    next += 1
    val tmp = Paths.get(staging, d.name)
    Files.writeString(tmp, d.csv)
    Files.setLastModifiedTime(tmp,
      FileTime.fromMillis(1700000000000L + d.index * 1000L))
    Files.move(tmp, Paths.get(landing, d.name),
      StandardCopyOption.ATOMIC_MOVE)
    pending += d
    landed += d
  }

  /** One sweep over the queue; returns its wall time, one record per
    * drop, and how many drops failed. */
  def sweep(): (Double, Seq[Map[String, Any]], Int, Seq[String]) = {
    val drops = pending.toList
    pending.clear()
    val t0 = System.nanoTime()
    val res = runner.runAll()
    val wall = (System.nanoTime() - t0) / 1e9
    val errors = mutable.ArrayBuffer.empty[String]
    val files = res match {
      case Seq((_, Right(r: runner.JobResult))) => r.files
      case other =>
        errors += s"sweep returned $other"
        Nil
    }
    val byName = files.map(f => Paths.get(f.path.stripPrefix("file:"))
      .getFileName.toString -> f).toMap
    var failed = 0
    val items = drops.map { d =>
      val fr = byName.get(d.name)
      val dupes = d.rows - d.keepLast.size
      val ok = fr.exists { f =>
        if (d.poisoned) f.rows == -1
        else f.rows == d.keepLast.size && f.dupes == dupes
      }
      if (!ok) {
        failed += 1
        errors += s"${d.name}: expected " + (if (d.poisoned) "a problems/ divert"
          else s"PROCESSED ${d.keepLast.size} DUPES $dupes") + s", got $fr"
      }
      Map("file" -> d.name, "poisoned" -> d.poisoned,
        "DUPES" -> fr.map(_.dupes).getOrElse(-1L),
        "PROCESSED" -> fr.map(_.rows).getOrElse(-1L),
        "ELAPSED" -> fr.map(_.elapsedSec).getOrElse(0.0),
        "csv_rows" -> d.rows)
    }
    if (errors.isEmpty) gen.applySweep(drops)
    (wall, items, failed, errors.toList)
  }

  private def count(sql: String): Long = {
    val c = sink.connect()
    try {
      val rs = c.createStatement().executeQuery(sql)
      rs.next(); rs.getLong(1)
    } finally c.close()
  }

  /** Compare the sink with the generator's expected state. */
  def verify(): Seq[String] = {
    val errors = mutable.ArrayBuffer.empty[String]
    def rowHash(sec: Long, s: Long, v: Seq[Double]): Long =
      MurmurHash3.stringHash((Seq(sec.toString, s.toString) ++
        v.map(java.lang.Double.toString)).mkString("|")).toLong
    val expHash = gen.expected.iterator.map { case (k, v) =>
      rowHash(gen.epochSec(k), gen.sensor(k).toLong, v.toSeq)
    }.sum
    val c = sink.connect()
    var (n, gotHash) = (0L, 0L)
    try {
      val rs = c.createStatement().executeQuery(
        s"""SELECT "DateTime", "Sensor_id", "LAT", "LONG", "PM25", "PM10"
           |FROM "$table"""".stripMargin)
      while (rs.next()) {
        n += 1
        gotHash += rowHash(rs.getTimestamp(1).toInstant.getEpochSecond,
          rs.getLong(2), (3 to 6).map(rs.getDouble))
      }
    } finally c.close()
    if (n != gen.expected.size)
      errors += s"sink table has $n rows, expected ${gen.expected.size}"
    else if (gotHash != expHash)
      errors += s"sink table content hash $gotHash != expected $expHash"
    val desc = count(s"""SELECT COUNT(*) FROM "${table}__descriptive"""")
    if (desc != 11) errors += s"descriptive stats table has $desc rows, not 11"
    val hours = gen.expected.keysIterator
      .map(k => (gen.sensor(k), gen.epochSec(k) / 3600)).toSet.size
    val h = count(s"""SELECT COUNT(*) FROM "${table}__h"""")
    if (h != hours) errors += s"H stats table has $h rows, expected $hours"
    def csvs(dir: String) = Files.list(Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".csv")).toSet
    val (ok, bad) = landed.partition(!_.poisoned)
    if (csvs(processed) != ok.map(_.name).toSet)
      errors += "processed/ does not hold exactly the clean drops"
    if (csvs(problems) != bad.map(_.name).toSet)
      errors += "problems/ does not hold exactly the poisoned drops"
    errors.toList
  }
}

/** `queue_sweep`: the reference's own traffic. A resident JobRunner
  * sweeps the queue after every `perSweep` CSV drops into a fresh
  * in-memory Derby sink, running the reference sample job (Dedupe last;
  * descriptive, mode and hourly stats). */
object QueueSweep {
  /** Drops per sweep. The first drop a sweep processes is the slowest
    * (about 1.6× the others), so with few drops per sweep the median
    * drop latency sits on the edge between the two groups. */
  val perSweep = 5
  /** Drops of the one untimed warm-up sweep. The per-file code paths
    * keep getting faster for about the first 25 drops a JVM processes;
    * one big sweep reaches further along that slope per second of
    * set-up than several small ones, whose stats cost about 3.5 s each. */
  val warmDrops = 15

  def derby(name: String): String = s"jdbc:derby:memory:$name;create=true"

  /** Drop an in-memory Derby database; Derby reports success as an
    * SQLException with state 08006. */
  def dropDerby(name: String): Unit =
    try java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$name;drop=true")
    catch { case e: java.sql.SQLException if e.getSQLState == "08006" => () }

  def run(ctx: Ctx): Outcome = {
    val tag = s"s${ctx.seed}_${System.nanoTime()}"
    // untimed warm-up: separate generator, dirs and database
    val warm = new SensorQueue(ctx, "warmup",
      new SensorGen(ctx.seed * 31 + 7, poisonAt = 2),
      JdbcSink(derby(s"warm_$tag")))
    warm.land(warmDrops)
    val warmErrors = warm.sweep()._4
    ctx.mark("warm_sweep")
    val errors = mutable.ArrayBuffer.empty[String] ++= warmErrors ++=
      warm.verify()
    dropDerby(s"warm_$tag")

    val sink = ctx.tracer match {
      case Some(t) => new TracedSink(derby(s"timed_$tag"), t.sinkTap)
      case None => JdbcSink(derby(s"timed_$tag"))
    }
    val gen = new SensorGen(ctx.seed, poisonAt = 7)
    val q = new SensorQueue(ctx, "timed", gen, sink)
    val items = mutable.ArrayBuffer.empty[Map[String, Any]]
    var failed = 0
    var sweepWall = 0.0
    var sweeps = 0
    /** Per sweep: CSV rows landed ÷ wall of landing plus sweeping. */
    val rates = mutable.ArrayBuffer.empty[Double]
    ctx.startTimed()
    val t0 = System.nanoTime()
    while (sweeps == 0 || !ctx.deadlineReached(t0)) {
      val s0 = System.nanoTime()
      q.land(perSweep)
      val (w, its, f, errs) = q.sweep()
      rates += q.landed.takeRight(perSweep).map(_.rows).sum /
        ((System.nanoTime() - s0) / 1e9)
      sweepWall += w; sweeps += 1
      items ++= its; failed += f; errors ++= errs
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val heap = ctx.endTimed()
    val setup = ctx.setupSec
    errors ++= q.verify()

    val lat = items.filterNot(_("poisoned") == true)
      .map(_("ELAPSED").asInstanceOf[Double]).toSeq
    val rows = q.landed.map(_.rows).sum
    val elapsedSum = lat.sum
    val endToEnd = Seq(
      Metric("setup_s", setup, "s"),
      Metric("records_per_s", Stat.median(rates.toSeq), "1/s", rates.size),
      Metric("item_p50_s", Stat.median(lat), "s", lat.size),
      Metric("retained_heap_mb", heap, "MB"))
    val perLayer = ctx.tracer.map { t =>
      val jobs = t.jobs
      val ingest = jobs.filter(_.site.contains("CsvIngest.scala"))
      val statJobs = jobs.filter(_.stack.contains("runStat"))
      val processed = items.filterNot(_("poisoned") == true)
      t.sinkMetrics ++ Seq(
        Metric("ingest.jobs", ingest.size, "count"),
        Metric("ingest.s", ingest.map(_.seconds).sum, "s"),
        Metric("jobs.jobs_per_drop",
          (jobs.size - statJobs.size).toDouble / items.size, "jobs/drop"),
        Metric("jobs.stats_s", sweepWall - elapsedSum, "s"),
        Metric("ops.stats_jobs", statJobs.size, "count"),
        Metric("ops.dupes_ratio",
          processed.map(_("DUPES").asInstanceOf[Long]).sum.toDouble /
            processed.map(_("csv_rows").asInstanceOf[Int]).sum, "ratio")) ++
        t.engineMetrics(wall, ctx.cores)
    }.getOrElse(Nil)
    Outcome(endToEnd, perLayer, attempted = items.size, failed = failed,
      errors = errors.toList, items = items.toList,
      detail = Map("timed_wall_s" -> wall, "sweeps" -> sweeps,
        "drops" -> items.size, "csv_rows" -> rows,
        "rows_per_wall_s" -> rows / wall,
        "sweep_wall_s" -> sweepWall, "elapsed_sum_s" -> elapsedSum,
        "sink_rows" -> gen.expected.size))
  }
}
