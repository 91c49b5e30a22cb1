package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.jobs.{CorpusKnobs, CorpusStreamJob, IncrementalCorpusJob}

/** The streaming corpus lifecycle: a file-source drain must land the
  * same corpus the hand-sequenced batch lifecycle lands, resume from
  * its checkpoint, recognize crash replays by id range instead of
  * landing them twice, repair kill windows in its pre-pass, and keep
  * all of that working across a chain compaction (supersedence
  * discovery). Mechanics cases run on tiny synthetic docs (relaxed
  * knobs) so the suite stays fast; the parity case runs on the
  * driver's documents table. */
class CorpusStreamJobSpec extends SparkSpec {

  private val root = sys.env.get("SPARK_GRAFT_TESTDATA")
    .orElse(sys.props.get("graft.testdata"))
    .getOrElse("/root/testdata")
  private val dir = Seq(s"$root/sf0.001", s"$root/sf0.01")
    .find(d => new java.io.File(s"$d/documents.parquet").exists())

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Synthetic docs: 30 words each (long enough for the shingle
    * pipeline, with "the" planted so curate's lang gate passes), every
    * doc unique — dedupe mechanics are IncrementalCorpusJobSpec's
    * business; this spec tests the stream plumbing around them. */
  private def mkDocs(ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.map { i =>
      val words = (0 until 30)
        .map(j => if (j % 10 == 5) "the" else s"w${i}_$j")
      (i, "en", words.mkString(" "))
    }.toDF("doc_id", "lang", "text")
  }

  /** Knobs that pass every synthetic doc through curation. */
  private val openKnobs = CorpusKnobs(
    minTokens = 1, maxTokens = 10000, minQuality = 0.0, numShards = 2)

  /** Land `df` as ONE parquet file named `name` directly in
    * `landingDir` (the file source does not recurse), with an explicit
    * mtime so drop order is deterministic for maxFilesPerTrigger=1. */
  private def dropFile(df: DataFrame, landingDir: String, name: String,
      mtimeSec: Long): Unit = {
    val stage = tmp("graft_drop")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = Files.list(Paths.get(stage)).iterator()
    var src: java.nio.file.Path = null
    while (part.hasNext) {
      val p = part.next()
      if (p.getFileName.toString.endsWith(".parquet")) src = p
    }
    assert(src != null, s"no parquet part written under $stage")
    Files.createDirectories(Paths.get(landingDir))
    val dst = Paths.get(landingDir, name)
    Files.move(src, dst, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(dst, FileTime.fromMillis(mtimeSec * 1000L))
  }

  private def keptIds(corpusDir: String): Set[Long] =
    spark.read.parquet(corpusDir).select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet

  test("drained stream lands the batch lifecycle's corpus; a second " +
      "run resumes from the checkpoint and ingests only the new drop") {
    assume(dir.isDefined, "no driver testdata dir on this machine")
    val docs = Tables.documents(spark, dir.get)
      .select("doc_id", "lang", "text").localCheckpoint()
    val ids = docs.select("doc_id").orderBy("doc_id")
      .collect().map(_.getLong(0))
    val cut = (f: Double) => ids(((ids.length - 1) * f).toInt)
    val (c1, c2, c3) = (cut(0.5), cut(0.7), cut(0.85))
    val base = docs.filter(col("doc_id") <= c1)
    val d1 = docs.filter(col("doc_id") > c1 && col("doc_id") <= c2)
    val d2 = docs.filter(col("doc_id") > c2 && col("doc_id") <= c3)
    val d3 = docs.filter(col("doc_id") > c3)

    val baseDir = tmp("graft_cs_base")
    base.coalesce(1).write.mode("overwrite")
      .parquet(s"$baseDir/documents.parquet")

    // stream side: bootstrap into the stream job's stateRoot layout
    val (corpusS, stateRoot) = (tmp("graft_cs_scorpus"), tmp("graft_cs_state"))
    val (landing, ckpt) = (tmp("graft_cs_landing"), tmp("graft_cs_ckpt"))
    IncrementalCorpusJob.bootstrap(spark, baseDir, corpusS,
      s"$stateRoot/snap=0")
    dropFile(d1, landing, "delta1.parquet", 1000)
    dropFile(d2, landing, "delta2.parquet", 2000)
    val reports = CorpusStreamJob.run(spark, landing, corpusS, stateRoot,
      ckpt)
    assert(reports.map(_.generation) == Seq(1, 2), reports.toString)

    // batch side: the same deltas through the hand-sequenced lifecycle
    val corpusB = tmp("graft_cs_bcorpus")
    val (st0, st1, st2) =
      (tmp("graft_cs_b0"), tmp("graft_cs_b1"), tmp("graft_cs_b2"))
    IncrementalCorpusJob.bootstrap(spark, baseDir, corpusB, st0)
    IncrementalCorpusJob.ingestDelta(spark, d1, 1, corpusB, Seq(st0), st1)
    IncrementalCorpusJob.ingestDelta(spark, d2, 2, corpusB,
      Seq(st0, st1), st2)
    assert(keptIds(corpusS) == keptIds(corpusB),
      "streamed corpus diverged from the batch lifecycle's")

    // resume: a later drop, same checkpoint — ONLY the new file lands
    val before = keptIds(corpusS)
    dropFile(d3, landing, "delta3.parquet", 3000)
    val again = CorpusStreamJob.run(spark, landing, corpusS, stateRoot,
      ckpt)
    assert(again.map(_.generation) == Seq(3), again.toString)
    assert((keptIds(corpusS) -- before).size == again.head.nKept)
    assert(CorpusStreamJob.chainDirs(spark, stateRoot) ==
      (0 to 3).map(g => s"$stateRoot/snap=$g"))

    // replay skip: the head batch again is recognized by id range
    val preReplay = keptIds(corpusS)
    assert(CorpusStreamJob.ingestBatch(spark, d3, corpusS, stateRoot)
      .isEmpty)
    assert(keptIds(corpusS) == preReplay &&
      CorpusStreamJob.chainDirs(spark, stateRoot).size == 4)

    // ordering violation: an overlapping batch that is NOT the head
    // replay fails loudly instead of being silently skipped
    val e = intercept[IllegalArgumentException] {
      CorpusStreamJob.ingestBatch(spark, d2, corpusS, stateRoot)
    }
    assert(e.getMessage.contains("doc-id order"), e.getMessage)
  }

  test("the recorded batch envelope makes replay recognition exact: " +
      "an all-dropped batch's replay skips (no spare snapshot), and a " +
      "new batch covering the head's kept range is refused, not " +
      "swallowed") {
    import org.apache.spark.sql.DataFrame
    val baseDir = tmp("graft_cs_ebase")
    mkDocs(1L to 30L).coalesce(1).write.mode("overwrite")
      .parquet(s"$baseDir/documents.parquet")
    val (corpus, stateRoot) = (tmp("graft_cs_ecorpus"), tmp("graft_cs_estate"))
    IncrementalCorpusJob.bootstrap(spark, baseDir, corpus,
      s"$stateRoot/snap=0", minTokens = 1, maxTokens = 10000,
      minQuality = 0.0, numShards = 2)

    // stopword-free text fails curate's lang gate → the batch lands
    // NOTHING, but its snapshot still records the envelope
    def badDocs(ids: Seq[Long]): DataFrame = {
      import spark.implicits._
      ids.map { i =>
        (i, "en", (0 until 30).map(j => s"x${i}_$j").mkString(" "))
      }.toDF("doc_id", "lang", "text")
    }
    val dropped = badDocs(31L to 40L)
    val r1 = CorpusStreamJob.ingestBatch(spark, dropped, corpus,
      stateRoot, openKnobs)
    assert(r1.exists(r => r.generation == 1 && r.nKept == 0), r1.toString)
    assert(CorpusStreamJob.chainDirs(spark, stateRoot).size == 2)
    // replay: exact envelope match → skipped, chain does NOT grow a
    // spare empty snapshot (the pre-envelope design's one wart)
    assert(CorpusStreamJob.ingestBatch(spark, dropped, corpus,
      stateRoot, openKnobs).isEmpty)
    assert(CorpusStreamJob.chainDirs(spark, stateRoot).size == 2)

    // a kept generation, then a NEW batch whose envelope covers its
    // kept range: the kept-range subset test alone would silently
    // swallow it (losing docs 40 and 51) — the envelope rule refuses
    assert(CorpusStreamJob.ingestBatch(spark, mkDocs(41L to 50L),
      corpus, stateRoot, openKnobs).exists(_.generation == 2))
    val e = intercept[IllegalArgumentException] {
      CorpusStreamJob.ingestBatch(spark, mkDocs(40L to 51L), corpus,
        stateRoot, openKnobs)
    }
    assert(e.getMessage.contains("recorded envelope"), e.getMessage)
    assert(keptIds(corpus) == ((1L to 30L) ++ (41L to 50L)).toSet)
  }

  test("a batch overlapping a bootstrap head's kept ids fails the " +
      "ordering gate instead of being skipped as a replay") {
    val baseDir = tmp("graft_cs_obase")
    mkDocs(1L to 30L).coalesce(1).write.mode("overwrite")
      .parquet(s"$baseDir/documents.parquet")
    val (corpus, stateRoot) = (tmp("graft_cs_ocorpus"), tmp("graft_cs_ostate"))
    IncrementalCorpusJob.bootstrap(spark, baseDir, corpus,
      s"$stateRoot/snap=0", minTokens = 1, maxTokens = 10000,
      minQuality = 0.0, numShards = 2)
    assert(keptIds(corpus) == (1L to 30L).toSet)
    // covers gen 0's whole kept range plus 5 new docs: gen 0 records no
    // batch envelope, so this is no replay — skipping it would lose
    // docs 31-35 for good
    val e = intercept[IllegalArgumentException] {
      CorpusStreamJob.ingestBatch(spark, mkDocs(1L to 35L), corpus,
        stateRoot, openKnobs)
    }
    assert(e.getMessage.contains("doc-id order"), e.getMessage)
    assert(keptIds(corpus) == (1L to 30L).toSet)
    assert(CorpusStreamJob.chainDirs(spark, stateRoot) ==
      Seq(s"$stateRoot/snap=0"))
    assert(!Files.exists(Paths.get(s"$corpus.staging/gen=1")))
  }

  test("ingestBatch refuses to stream into an un-bootstrapped state " +
      "root") {
    val e = intercept[IllegalArgumentException] {
      CorpusStreamJob.ingestBatch(spark, mkDocs(1L to 5L),
        tmp("graft_cs_nocorpus"), tmp("graft_cs_nostate"), openKnobs)
    }
    assert(e.getMessage.contains("bootstrap"), e.getMessage)
  }

  test("an empty batch returns None and leaves the chain untouched") {
    val baseDir = tmp("graft_cs_mbase")
    mkDocs(1L to 30L).coalesce(1).write.mode("overwrite")
      .parquet(s"$baseDir/documents.parquet")
    val (corpus, stateRoot) = (tmp("graft_cs_mcorpus"), tmp("graft_cs_mstate"))
    IncrementalCorpusJob.bootstrap(spark, baseDir, corpus,
      s"$stateRoot/snap=0", minTokens = 1, maxTokens = 10000,
      minQuality = 0.0, numShards = 2)
    def listing(dir: String): Seq[String] = {
      val walk = Files.walk(Paths.get(dir))
      try walk.iterator().asScala.map(p => s"$p ${Files.size(p)}")
        .toList.sorted
      finally walk.close()
    }
    val staging = s"${corpus.stripSuffix("/")}.staging"
    val chainBefore = CorpusStreamJob.chainDirs(spark, stateRoot)
    val before = Seq(stateRoot, corpus, staging).map(listing)
    assert(CorpusStreamJob.ingestBatch(spark, mkDocs(Nil), corpus,
      stateRoot, openKnobs).isEmpty)
    assert(CorpusStreamJob.chainDirs(spark, stateRoot) == chainBefore)
    assert(Seq(stateRoot, corpus, staging).map(listing) == before)
    // the next batch still lands as generation 1
    assert(CorpusStreamJob.ingestBatch(spark, mkDocs(31L to 40L), corpus,
      stateRoot, openKnobs).map(_.generation).contains(1))
  }

  test("a generation's Spark jobs do not grow with history: generation " +
      "8 runs no more jobs than generation 2") {
    import spark.implicits._
    def words(i: Long) = (0 until 30)
      .map(j => if (j % 10 == 5) "the" else s"w${i}_$j")
    val baseDir = tmp("graft_cs_jbase")
    mkDocs(1L to 30L).coalesce(1).write.mode("overwrite")
      .parquet(s"$baseDir/documents.parquet")
    val (corpus, stateRoot) = (tmp("graft_cs_jcorpus"), tmp("graft_cs_jstate"))
    IncrementalCorpusJob.bootstrap(spark, baseDir, corpus,
      s"$stateRoot/snap=0", minTokens = 1, maxTokens = 10000,
      minQuality = 0.0, numShards = 2)
    // generation g: 10 fresh docs, an exact copy of a bootstrap doc, and
    // a near copy (first word replaced) of one doc from EVERY earlier
    // generation, so the candidate-text fetch touches all of them
    val jobs = (1 to 8).map { g =>
      val first = (h: Int) => if (h == 0) 1L else 100L * h
      val rows = (0 until 10).map(k => (100L * g + k, words(100L * g + k))) ++
        (0 until g).map(h => (100L * g + 10 + h,
          s"n${100L * g + 10 + h}" +: words(first(h)).tail)) :+
        ((100L * g + 50, words(2L)))
      val batch = rows.map { case (i, ws) => (i, "en", ws.mkString(" ")) }
        .toDF("doc_id", "lang", "text")
      val tally = new JobTally(spark, s"gen$g")
      val r = tally.run(CorpusStreamJob.ingestBatch(spark, batch, corpus,
        stateRoot, openKnobs)).get
      assert((r.generation, r.nKept, r.nDupBase, r.nExactFresh) ==
        (g, 10L, g.toLong, 10L + g), r.toString)
      assert(tally.outsideGroup == 0)
      tally.inGroup
    }
    // every stage of a generation runs once (48 jobs on this session);
    // reading each touched generation on its own made the count grow
    // with every generation a delta's near-copies reach back to
    info(s"Spark jobs per generation: ${jobs.mkString(", ")}")
    assert(jobs(7) <= jobs(1) && jobs.max <= 55, jobs)
  }

  test("prepare repairs the kill windows: a committed-snapshot/" +
      "missing-rename head rolls forward and its replay no-ops; stray " +
      "staging of a failed next ingest rolls back") {
    val baseDir = tmp("graft_cs_kbase")
    mkDocs(1L to 40L).coalesce(1).write.mode("overwrite")
      .parquet(s"$baseDir/documents.parquet")
    val (corpus, stateRoot) = (tmp("graft_cs_kcorpus"), tmp("graft_cs_kstate"))
    val (landing, ckpt) = (tmp("graft_cs_klanding"), tmp("graft_cs_kckpt"))
    IncrementalCorpusJob.bootstrap(spark, baseDir, corpus,
      s"$stateRoot/snap=0", minTokens = 1, maxTokens = 10000,
      minQuality = 0.0, numShards = 2)
    dropFile(mkDocs(41L to 60L), landing, "d1.parquet", 1000)
    assert(CorpusStreamJob.run(spark, landing, corpus, stateRoot, ckpt,
      openKnobs).map(_.generation) == Seq(1))
    val healthy = keptIds(corpus)

    // kill window: snapshot committed, gen rename not — un-rename by hand
    val fs = new Path(corpus)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val genP = new Path(s"$corpus/gen=1")
    val stagP = new Path(s"${corpus.stripSuffix("/")}.staging/gen=1")
    fs.mkdirs(stagP.getParent)
    assert(fs.rename(genP, stagP))
    // stray staging of a never-committed gen 2 on top
    fs.mkdirs(new Path(s"${corpus.stripSuffix("/")}.staging/gen=2"))

    // a fresh checkpoint replays d1 from scratch: prepare must roll
    // gen 1 forward, clean gen 2's staging, and the replay must skip
    val r = CorpusStreamJob.run(spark, landing, corpus, stateRoot,
      tmp("graft_cs_kckpt2"), openKnobs)
    assert(r.isEmpty, r.toString)
    assert(keptIds(corpus) == healthy)
    assert(!fs.exists(stagP) &&
      !fs.exists(new Path(s"${corpus.stripSuffix("/")}.staging/gen=2")))

    // the repaired chain keeps ingesting normally
    dropFile(mkDocs(61L to 75L), landing, "d2.parquet", 2000)
    val r2 = CorpusStreamJob.run(spark, landing, corpus, stateRoot, ckpt,
      openKnobs)
    assert(r2.map(_.generation) == Seq(2))
    assert(keptIds(corpus) == (1L to 75L).toSet)
  }

  test("compactChain supersedes the snap chain atomically; discovery, " +
      "further ingests, and replay detection survive it") {
    val baseDir = tmp("graft_cs_cbase")
    mkDocs(1L to 30L).coalesce(1).write.mode("overwrite")
      .parquet(s"$baseDir/documents.parquet")
    val (corpus, stateRoot) = (tmp("graft_cs_ccorpus"), tmp("graft_cs_cstate"))
    IncrementalCorpusJob.bootstrap(spark, baseDir, corpus,
      s"$stateRoot/snap=0", minTokens = 1, maxTokens = 10000,
      minQuality = 0.0, numShards = 2)
    val d1 = mkDocs(31L to 45L)
    val d2 = mkDocs(46L to 60L)
    assert(CorpusStreamJob.ingestBatch(spark, d1, corpus, stateRoot,
      openKnobs).map(_.generation).contains(1))
    assert(CorpusStreamJob.ingestBatch(spark, d2, corpus, stateRoot,
      openKnobs).map(_.generation).contains(2))

    val committed = CorpusStreamJob.compactChain(spark, stateRoot)
    assert(committed == s"$stateRoot/compact=2")
    assert(CorpusStreamJob.chainDirs(spark, stateRoot) == Seq(committed))
    // superseded snaps vacuumed
    val fs = new Path(stateRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert((0 to 2).forall(g =>
      !fs.exists(new Path(s"$stateRoot/snap=$g"))))

    // replay detection reads the compacted metadata: the head batch is
    // still recognized
    assert(CorpusStreamJob.ingestBatch(spark, d2, corpus, stateRoot,
      openKnobs).isEmpty)
    // and the chain keeps growing: compact=2 + snap=3
    val r3 = CorpusStreamJob.ingestBatch(spark, mkDocs(61L to 70L),
      corpus, stateRoot, openKnobs)
    assert(r3.map(_.generation).contains(3))
    assert(CorpusStreamJob.chainDirs(spark, stateRoot) ==
      Seq(committed, s"$stateRoot/snap=3"))
    assert(keptIds(corpus) == (1L to 70L).toSet)
    // nothing live to compact twice → the guard fires on a 1+1 chain
    // only after another merge; here a second compact covers snap=3
    val c2 = CorpusStreamJob.compactChain(spark, stateRoot)
    assert(c2 == s"$stateRoot/compact=3")
    assert(!fs.exists(new Path(s"$stateRoot/compact=2")))
    assert(CorpusStreamJob.chainDirs(spark, stateRoot) == Seq(c2))
    val e = intercept[IllegalArgumentException] {
      CorpusStreamJob.compactChain(spark, stateRoot)
    }
    assert(e.getMessage.contains("nothing to compact"), e.getMessage)
  }

  test("the content fingerprint closes envelope-collision replay: a new " +
      "batch reusing an all-dropped head's exact id range with " +
      "different content is refused, while the true replay still skips") {
    import org.apache.spark.sql.DataFrame
    val baseDir = tmp("graft_cs_fbase")
    mkDocs(1L to 30L).coalesce(1).write.mode("overwrite")
      .parquet(s"$baseDir/documents.parquet")
    val (corpus, stateRoot) = (tmp("graft_cs_fcorpus"), tmp("graft_cs_fstate"))
    IncrementalCorpusJob.bootstrap(spark, baseDir, corpus,
      s"$stateRoot/snap=0", minTokens = 1, maxTokens = 10000,
      minQuality = 0.0, numShards = 2)
    // stopword-free → all-dropped head recording envelope [31,40]
    def noLang(ids: Seq[Long], tag: String): DataFrame = {
      import spark.implicits._
      ids.map { i =>
        (i, "en", (0 until 30).map(j => s"$tag${i}_$j").mkString(" "))
      }.toDF("doc_id", "lang", "text")
    }
    val dropped = noLang(31L to 40L, "x")
    assert(CorpusStreamJob.ingestBatch(spark, dropped, corpus,
      stateRoot, openKnobs).exists(_.nKept == 0))
    // true replay (same bytes): envelope AND fingerprint match → skip
    assert(CorpusStreamJob.ingestBatch(spark, dropped, corpus,
      stateRoot, openKnobs).isEmpty)
    // same envelope [31,40], different content: pre-r15 this was
    // silently swallowed as a replay, losing the producer's documents
    val e = intercept[IllegalArgumentException] {
      CorpusStreamJob.ingestBatch(spark, mkDocs(31L to 40L), corpus,
        stateRoot, openKnobs)
    }
    assert(e.getMessage.contains("content fingerprint"), e.getMessage)
  }
}
