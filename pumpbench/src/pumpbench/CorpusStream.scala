package pumpbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import graft.jobs.{CorpusStreamJob, IncrementalCorpusJob}
import graft.jobs.IncrementalCorpusJob.DeltaReport

/** One generated delta: its rows, the ids of the planted exact
  * duplicates of landed docs, and the counts curation must produce. */
final case class Delta(docs: Seq[(Long, String, String)], exactIds: Seq[Long],
    nFail: Int)

/** Seeded document generator. Fresh docs are 30–60 tokens from a
  * 5000-word vocabulary with "the" planted twice, so they pass every
  * curation gate with room to spare and never near-match each other. A
  * delta of `n` docs holds 10% exact copies of landed docs, 10%
  * near-copies (one token replaced by a token no other doc has), 10%
  * too short and 10% with no language marker (both fail curation), and
  * fresh docs for the rest. Ids ascend across deltas. */
final class DocGen(seed: Long) {
  private val rnd = new java.util.SplittableRandom(seed)
  private val langs = Array("en", "en", "fr", "es", "de")
  private var nextId = 0L
  /** Texts of fresh docs that already landed: the sources of copies. */
  private val landed = mutable.ArrayBuffer.empty[String]

  private def word(): String = s"w${rnd.nextInt(5000)}"
  private def freshText(): String = {
    val n = 30 + rnd.nextInt(31)
    (0 until n).map(j => if (j == 3 || j == n - 5) "the" else word())
      .mkString(" ")
  }
  private def nextDoc(text: String) = {
    val id = nextId
    nextId += 1
    (id, langs(rnd.nextInt(langs.length)), text)
  }

  def bootstrap(n: Int): Seq[(Long, String, String)] = {
    val docs = (0 until n).map(_ => nextDoc(freshText()))
    landed ++= docs.map(_._3)
    docs
  }

  def delta(n: Int): Delta = {
    val k = n / 10
    val kinds = mutable.ArrayBuffer.fill(n - 4 * k)("fresh") ++
      Seq.fill(k)("exact") ++ Seq.fill(k)("near") ++
      Seq.fill(k)("short") ++ Seq.fill(k)("nolang")
    for (j <- kinds.indices.reverse) {
      val i = rnd.nextInt(j + 1)
      val t = kinds(j); kinds(j) = kinds(i); kinds(i) = t
    }
    // distinct sources: two copies of one text in a delta would make
    // curation drop the second as an in-delta duplicate
    val sources = mutable.LinkedHashSet.empty[String]
    while (sources.size < 2 * k) sources += landed(rnd.nextInt(landed.size))
    val pick = sources.iterator
    def source = pick.next()
    val exact = mutable.ArrayBuffer.empty[Long]
    val fresh = mutable.ArrayBuffer.empty[String]
    val docs = kinds.toList.map {
      case "fresh" =>
        val t = freshText(); fresh += t; nextDoc(t)
      case "exact" =>
        val d = nextDoc(source); exact += d._1; d
      case "near" =>
        val toks = source.split(" ")
        toks(toks.length / 2) = s"n$nextId"
        nextDoc(toks.mkString(" "))
      case "short" => nextDoc(s"the ${word()} ${word()} ${word()}")
      case _ => nextDoc((0 until 40).map(_ => word()).mkString(" "))
    }
    landed ++= fresh
    Delta(docs, exact.toList, 2 * k)
  }
}

/** One corpus under the stream job's layout: bootstrap generation, a
  * landing dir that receives one delta parquet per step, the state
  * chain and the stream checkpoint. */
final class CorpusLane(ctx: Ctx, name: String, gen: DocGen) {
  private val spark = ctx.spark
  private val root = ctx.path(name)
  val landing = s"$root/landing"
  val corpus = s"$root/corpus"
  val state = s"$root/state"
  val ckpt = s"$root/checkpoint"
  val planted = mutable.ArrayBuffer.empty[Long]
  private var drops = 0

  private def write(docs: Seq[(Long, String, String)], dir: String): Unit = {
    import spark.implicits._
    docs.toDF("doc_id", "lang", "text").coalesce(1)
      .write.mode("overwrite").parquet(dir)
  }

  def bootstrap(n: Int): Unit = {
    write(gen.bootstrap(n), s"$root/docs/documents.parquet")
    IncrementalCorpusJob.bootstrap(spark, s"$root/docs", corpus,
      s"$state/snap=0")
  }

  /** Land one delta as a single parquet file with a later mtime. */
  def land(n: Int): Delta = {
    val d = gen.delta(n)
    drops += 1
    val stage = s"$root/stage/$drops"
    write(d.docs, stage)
    val part = Files.list(Paths.get(stage)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.createDirectories(Paths.get(landing))
    val dst = Paths.get(landing, f"delta_$drops%05d.parquet")
    Files.move(part, dst, StandardCopyOption.ATOMIC_MOVE)
    Files.setLastModifiedTime(dst,
      FileTime.fromMillis(1700000000000L + drops * 1000L))
    planted ++= d.exactIds
    d
  }

  def run(): Seq[DeltaReport] =
    CorpusStreamJob.run(spark, landing, corpus, state, ckpt)

  /** Check one step's reports against what its delta must produce. */
  def check(d: Delta, reps: Seq[DeltaReport]): Seq[String] = reps match {
    case Seq(r) if r.generation == drops =>
      val funnel = r.nDelta >= r.nCurated && r.nCurated >= r.nExactFresh &&
        r.nExactFresh == r.nKept + r.nDupBase + r.nDupDelta
      Seq(
        Option.when(!funnel)(
          s"generation ${r.generation}: funnel identity broken: $r"),
        Option.when(r.nDelta != d.docs.size)(
          s"generation ${r.generation}: nDelta ${r.nDelta} != ${d.docs.size}"),
        Option.when(r.nCurated != d.docs.size - d.nFail)(
          s"generation ${r.generation}: nCurated ${r.nCurated} != " +
            s"${d.docs.size - d.nFail}"),
        Option.when(r.nExactFresh != r.nCurated - d.exactIds.size)(
          s"generation ${r.generation}: nExactFresh ${r.nExactFresh} != " +
            s"${r.nCurated - d.exactIds.size} (planted exact dupes kept?)")
      ).flatten
    case other =>
      Seq(s"step $drops landed ${other.map(_.generation)}, expected " +
        s"exactly generation $drops")
  }

  /** End-of-run checks: no planted exact duplicate landed, and a sweep
    * with no new drop lands nothing (replay idempotence). */
  def verifyEnd(): Seq[String] = {
    import spark.implicits._
    val ids = spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSet
    val leaked = planted.filter(ids.contains)
    val chain = CorpusStreamJob.chainDirs(spark, state)
    val replay = run()
    Seq(
      Option.when(leaked.nonEmpty)(
        s"${leaked.size} planted exact duplicates landed"),
      Option.when(replay.nonEmpty)(
        s"a sweep with no new drop landed ${replay.map(_.generation)}"),
      Option.when(CorpusStreamJob.chainDirs(spark, state) != chain)(
        "a sweep with no new drop changed the state chain")
    ).flatten
  }
}

/** `corpus_stream`: the resident CorpusStream sweep. Each timed step
  * lands one delta and calls [[CorpusStreamJob.run]], which must land
  * exactly one generation. */
object CorpusStream {
  val bootstrapDocs = 150
  val deltaDocs = 100
  /** Untimed steps before the timed phase: the first timed step of a
    * run with one warm-up step was still the slowest of every run. */
  val warmSteps = 2

  def run(ctx: Ctx): Outcome = {
    val errors = mutable.ArrayBuffer.empty[String]
    var failed = 0
    /** Land one delta and sweep it; false when the step went wrong. */
    def step(lane: CorpusLane): (Delta, Seq[DeltaReport], Double, Boolean) = {
      val d = lane.land(deltaDocs)
      val t0 = System.nanoTime()
      val (reps, swept) = try (lane.run(), true) catch {
        case e: CorpusStreamJob.SweepFailedException =>
          errors += s"sweep failed: ${e.getMessage}"
          (e.landed, false)
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val errs = lane.check(d, reps)
      errors ++= errs
      (d, reps, dt, swept && errs.isEmpty)
    }

    // bootstrap, then untimed warm-up generations from their own deltas
    val lane = new CorpusLane(ctx, "corpus", new DocGen(ctx.seed))
    lane.bootstrap(bootstrapDocs)
    ctx.mark("bootstrap")
    (0 until warmSteps).foreach { i => step(lane); ctx.mark(s"warm_step_$i") }
    val walls = mutable.ArrayBuffer.empty[Double]
    /** Per step: delta docs ÷ wall of landing plus sweeping. */
    val rates = mutable.ArrayBuffer.empty[Double]
    val reports = mutable.ArrayBuffer.empty[DeltaReport]
    val epochs = mutable.ArrayBuffer.empty[(Double, Double, Double)]
    var docs = 0L
    ctx.startTimed()
    val t0 = System.nanoTime()
    while (walls.isEmpty || !ctx.deadlineReached(t0)) {
      val seen = ctx.tracer.map(t =>
        t.streamTap.synchronized(t.streamTap.epochs.size)).getOrElse(0)
      val s0 = System.nanoTime()
      val (d, reps, dt, ok) = step(lane)
      if (!ok) failed += 1
      rates += d.docs.size / ((System.nanoTime() - s0) / 1e9)
      walls += dt; reports ++= reps; docs += d.docs.size
      ctx.tracer.foreach { t =>
        t.drain()
        val es = t.streamTap.synchronized(t.streamTap.epochs.drop(seen).toList)
        epochs += ((es.map(_.triggerMs).sum / 1e3,
          es.map(_.addBatchMs).sum / 1e3, dt))
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val heap = ctx.endTimed()
    val setup = ctx.setupSec

    val third = math.max(1, walls.size / 3)
    val lateEarly =
      Stat.median(walls.takeRight(third).toSeq) /
        Stat.median(walls.take(third).toSeq)
    val endToEnd = Seq(
      Metric("setup_s", setup, "s"),
      Metric("records_per_s", Stat.median(rates.toSeq), "1/s", rates.size),
      Metric("item_p50_s", Stat.median(walls.toSeq), "s", walls.size),
      Metric("retained_heap_mb", heap, "MB"))
    val perLayer = ctx.tracer.map { t =>
      val streamJobs = t.jobs.filter(_.batch.isDefined)
      def med(f: ((Double, Double, Double)) => Double) =
        Stat.median(epochs.map(f).toSeq)
      Seq(
        Metric("stream.epoch_s", med(_._1), "s", epochs.size),
        Metric("stream.addbatch_s", med(_._2), "s", epochs.size),
        Metric("stream.engine_s", med(e => e._1 - e._2), "s", epochs.size),
        Metric("stream.outside_s", med(e => e._3 - e._1), "s", epochs.size),
        Metric("jobs.per_generation",
          streamJobs.size.toDouble / math.max(1, reports.size), "jobs/gen"),
        Metric("jobs.tasks_per_job",
          streamJobs.map(_.tasks).sum.toDouble / math.max(1, streamJobs.size),
          "tasks/job"),
        Metric("stream.late_early_ratio", lateEarly, "ratio", walls.size),
        Metric("ops.kept_ratio",
          reports.map(_.nKept).sum.toDouble / reports.map(_.nDelta).sum,
          "ratio")) ++ t.engineMetrics(wall, ctx.cores)
    }.getOrElse(Nil)
    // after the traced tallies are read: the checks run jobs of their own
    errors ++= lane.verifyEnd()
    val items = walls.zip(reports).map { case (w, r) =>
      Map("generation" -> r.generation, "step_s" -> w, "nDelta" -> r.nDelta,
        "nCurated" -> r.nCurated, "nExactFresh" -> r.nExactFresh,
        "nKept" -> r.nKept, "nDupBase" -> r.nDupBase,
        "nDupDelta" -> r.nDupDelta)
    }
    Outcome(endToEnd, perLayer, attempted = walls.size, failed = failed,
      errors = errors.toList, items = items.toList,
      detail = Map("timed_wall_s" -> wall, "steps" -> walls.size,
        "docs_per_wall_s" -> docs / wall,
        "delta_docs" -> docs, "late_early_ratio" -> lateEarly))
  }
}
