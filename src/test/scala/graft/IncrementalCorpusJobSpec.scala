package graft

import org.apache.spark.sql.functions._
import graft.jobs.{CorpusBuildJob, IncrementalCorpusJob}

/** The incremental corpus lifecycle, asserted against LANDED layouts:
  * bootstrap + N delta ingests must reproduce the full-rebuild kept
  * set (id-ordered arrival), the state chain must accrete snapshot by
  * snapshot, and the two INHERENT divergences of immutable-output
  * incremental dedupe (the late bridge; the dropped-doc relay) are
  * pinned as constructed counterexamples, not discovered in prod. */
class IncrementalCorpusJobSpec extends SparkSpec {

  private val root = sys.env.get("SPARK_GRAFT_TESTDATA")
    .orElse(sys.props.get("graft.testdata"))
    .getOrElse("/root/testdata")
  private val dir = Seq(s"$root/sf0.01", s"$root/sf0.001")
    .find(d => new java.io.File(s"$d/documents.parquet").exists())

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def writeDocsDir(df: org.apache.spark.sql.DataFrame): String = {
    val d = tmp("graft_docs")
    df.coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("bootstrap + two delta generations reproduce the full-rebuild " +
      "kept set; funnel and state chain are consistent") {
    assume(dir.isDefined, "no driver testdata dir on this machine")
    val d = dir.get
    val docs = Tables.documents(spark, d)
      .select("doc_id", "lang", "text").localCheckpoint()
    val ids = docs.select("doc_id").orderBy("doc_id")
      .collect().map(_.getLong(0))
    val (cut1, cut2) = (ids((ids.length * 6) / 10), ids((ids.length * 8) / 10))

    val baseDir = writeDocsDir(docs.filter(col("doc_id") <= cut1))
    val delta1 = docs.filter(col("doc_id") > cut1 && col("doc_id") <= cut2)
    val delta2 = docs.filter(col("doc_id") > cut2)

    val corpusDir = tmp("graft_inc_corpus")
    val (st0, st1, st2) = (tmp("graft_st0"), tmp("graft_st1"), tmp("graft_st2"))
    val boot = IncrementalCorpusJob.bootstrap(spark, baseDir, corpusDir, st0)
    val r1 = IncrementalCorpusJob.ingestDelta(spark, delta1, 1, corpusDir,
      Seq(st0), st1)
    val r2 = IncrementalCorpusJob.ingestDelta(spark, delta2, 2, corpusDir,
      Seq(st0, st1), st2)

    // funnel shape per delta: monotone, and the verdict counts tile the
    // exact-fresh set
    for (r <- Seq(r1, r2)) {
      assert(r.nDelta >= r.nCurated && r.nCurated >= r.nExactFresh,
        r.toString)
      assert(r.nExactFresh == r.nKept + r.nDupBase + r.nDupDelta,
        r.toString)
    }
    // both tiers actually fired somewhere across the two deltas (the
    // fixtures carry cross-batch exact and near dupes)
    assert(r1.nDupBase + r2.nDupBase > 0, s"$r1 / $r2")

    // kept set across generations == the full-rebuild kept set (the
    // driver corpus has no late-bridge/dropped-relay topologies; those
    // are pinned in the constructed test below)
    val fullDir = tmp("graft_full")
    CorpusBuildJob.run(spark, d, fullDir)
    val incKept = spark.read.parquet(corpusDir).select("doc_id")
    val fullKept = spark.read.parquet(fullDir).select("doc_id")
    val onlyInc = incKept.join(fullKept, Seq("doc_id"), "left_anti")
      .collect().map(_.getLong(0)).sorted
    val onlyFull = fullKept.join(incKept, Seq("doc_id"), "left_anti")
      .collect().map(_.getLong(0)).sorted
    assert(onlyInc.isEmpty && onlyFull.isEmpty,
      s"inc-only=${onlyInc.mkString(",")} full-only=${onlyFull.mkString(",")}")

    // landed generations carry verbatim source text
    val src = docs.select(col("doc_id"), col("text").as("src_text"))
    assert(spark.read.parquet(corpusDir).join(src, "doc_id")
      .filter(col("text") =!= col("src_text")).count() == 0)

    // state chain accretes: one snapshot per generation, 1 key row and
    // 1 packed band row (16 sigs) per landed canonical of that
    // generation
    for ((st, n) <- Seq(st0 -> boot.nKept, st1 -> r1.nKept,
        st2 -> r2.nKept)) {
      assert(spark.read.parquet(s"$st/keys").count() == n, st)
      val b = spark.read.parquet(s"$st/bands")
      assert(b.count() == n, st)
      assert(b.filter(size(col("band_sigs")) =!= 16).count() == 0, st)
    }

    // snapshot metadata matches what a scan of the snapshot derives —
    // the chain facts (bloom sizing, ordering check, fetch pruning)
    // cost a driver-side JSON read, never a state-chain pass
    val metas = IncrementalCorpusJob.readChainMeta(
      spark, Seq(st0, st1, st2))
    assert(metas.map(_.gen).sorted == Seq(0, 1, 2), metas.toString)
    for (m <- metas) {
      val keys = spark.read.parquet(
        Seq(st0, st1, st2)(m.gen) + "/keys")
      assert(keys.count() == m.nKeys, m.toString)
      if (m.nKeys > 0) {
        val mm = keys.agg(min("doc_id"), max("doc_id")).head
        assert(mm.getLong(0) == m.minDocId && mm.getLong(1) == m.maxDocId,
          m.toString)
      }
    }

    // the candidate-text fetch is O(candidates): candidates drawn from
    // generation 1 only must open ONLY gen=1 (partition pruning), and
    // inside it only the row groups holding the candidate id range
    // (files are id-clustered) — measured off the scan node's
    // numOutputRows, the ZOrderLayoutSpec technique
    val gen1Ids = spark.read.parquet(s"$corpusDir/gen=1")
      .select("doc_id").orderBy("doc_id").limit(3)
      .collect().map(_.getLong(0))
    val landedTotal = spark.read.parquet(corpusDir).count()
    val gen1Total = spark.read.parquet(s"$corpusDir/gen=1").count()
    val was = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      import sqlImplicits._
      val fetched = IncrementalCorpusJob.prunedTextFetch(spark,
        corpusDir, "doc_id", "text", metas)(
        gen1Ids.toSeq.toDF("doc_id"))
      val got = fetched.collect()
      assert(got.map(_.getLong(0)).sorted.sameElements(gen1Ids),
        got.mkString(","))
      val scanned = fetched.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numOutputRows").value
      }.sum
      assert(scanned <= gen1Total,
        s"fetch read beyond the candidate generation: $scanned")
      assert(scanned < landedTotal / 2,
        s"fetch scanned $scanned of $landedTotal landed rows")
      info(s"pruned fetch scanned $scanned of $landedTotal landed " +
        s"rows ($gen1Total in the candidate generation)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", was)

    // compacting the chain into one snapshot is a content-identity
    // rewrite (both tables, both directions), and the merged meta keeps
    // one entry per covered generation — no pruning precision lost
    val stC = tmp("graft_stC")
    IncrementalCorpusJob.compactState(spark, Seq(st0, st1, st2), stC)
    for (t <- Seq("keys", "bands")) {
      val chain = spark.read.parquet(Seq(st0, st1, st2)
        .map(_ + s"/$t"): _*)
      val compacted = spark.read.parquet(s"$stC/$t")
      assert(chain.exceptAll(compacted).count() == 0, t)
      assert(compacted.exceptAll(chain).count() == 0, t)
    }
    assert(IncrementalCorpusJob.readChainMeta(spark, Seq(stC))
      .sortBy(_.gen) == metas.sortBy(_.gen))

    // id-ordering contract is enforced, not assumed
    val bad = intercept[IllegalArgumentException] {
      IncrementalCorpusJob.ingestDelta(spark, delta1, 3, corpusDir,
        Seq(stC), tmp("graft_st3"))
    }
    assert(bad.getMessage.contains("id-ordered"))
  }

  // Sliding 20-token windows over one token family: doc(lo) covers
  // tokens lo..lo+19 (w15 = "the" so the lang gate reads en; all other
  // gates pass at the job DEFAULTS). Shingle windows overlap exactly,
  // so every pairwise Jaccard is closed-form:
  //   J(doc(1), doc(11)) = 8/28 ≈ 0.286   (below the 0.5 threshold)
  //   J(doc(1), doc(6))  = 13/23 ≈ 0.565  (above)
  //   J(doc(1), doc(7))  = 12/24 = 0.5    (exactly at — >= keeps it)
  //   J(doc(7), doc(13)) = 12/24 = 0.5
  //   J(doc(1), doc(13)) = 6/30 = 0.2     (below)
  private def w(i: Int): String = if (i == 15) "the" else s"t$i"
  private def doc(lo: Int): String = (lo to lo + 19).map(w).mkString(" ")
  private def mk(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text").withColumn("lang", lit("en"))
  }

  test("late-bridge and dropped-doc-relay divergences are exactly the " +
      "documented ones; within-delta contamination is transitive") {
    // --- late bridge: C = doc(6) near-dups BOTH landed canonicals
    // A = doc(1), B = doc(11) (which are not near-dups of each other).
    // A full rebuild merges {A,B,C} and keeps only A; incrementally A
    // and B are landed and immutable, C drops, and both stay.
    val baseDir = writeDocsDir(mk(1L -> doc(1), 2L -> doc(11)))
    val corpusDir = tmp("graft_bridge")
    val (st0, st1) = (tmp("graft_bst0"), tmp("graft_bst1"))
    val boot = IncrementalCorpusJob.bootstrap(spark, baseDir, corpusDir,
      st0)
    assert(boot.nKept == 2, boot.toString)
    val r = IncrementalCorpusJob.ingestDelta(spark, mk(10L -> doc(6)), 1,
      corpusDir, Seq(st0), st1)
    assert(r.nDupBase == 1 && r.nKept == 0, r.toString)
    assert(spark.read.parquet(corpusDir).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    val fullDir = tmp("graft_bridge_full")
    CorpusBuildJob.run(spark,
      writeDocsDir(mk(1L -> doc(1), 2L -> doc(11), 10L -> doc(6))),
      fullDir)
    assert(spark.read.parquet(fullDir).select("doc_id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))

    // --- transitive contamination: delta {F = doc(7), E = doc(13)}
    // against base {A = doc(1)}: F hits A directly (J = 0.5), E only
    // reaches A through F (J(E,A) = 0.2) — E must fall with its
    // component, not survive because it missed the base directly.
    val base2 = writeDocsDir(mk(1L -> doc(1)))
    val corpus2 = tmp("graft_trans")
    val (s20, s21) = (tmp("graft_tst0"), tmp("graft_tst1"))
    IncrementalCorpusJob.bootstrap(spark, base2, corpus2, s20)
    val r2 = IncrementalCorpusJob.ingestDelta(spark,
      mk(10L -> doc(7), 11L -> doc(13)), 1, corpus2, Seq(s20), s21)
    assert(r2.nDupBase == 2 && r2.nKept == 0, r2.toString)

    // --- dropped-doc relay (the OTHER inherent divergence): at
    // bootstrap F = doc(7) drops as near-dup of K = doc(1); the later
    // E = doc(13) near-dups only the DROPPED F (J = 0.5), not the
    // canonical K (J = 0.2). State indexes canonicals only, so E lands
    // incrementally; a full rebuild merges the chain {K,F,E} and keeps
    // only K.
    val base3 = writeDocsDir(mk(1L -> doc(1), 2L -> doc(7)))
    val corpus3 = tmp("graft_relay")
    val (s30, s31) = (tmp("graft_rst0"), tmp("graft_rst1"))
    val boot3 = IncrementalCorpusJob.bootstrap(spark, base3, corpus3, s30)
    assert(boot3.nKept == 1, boot3.toString)
    // the delta also carries a VERBATIM copy of landed K — the
    // bloom-gated exact tier must kill it before the near-dup tier
    // ever sees it (nExactFresh = 1 = E alone)
    val r3 = IncrementalCorpusJob.ingestDelta(spark,
      mk(10L -> doc(13), 11L -> doc(1)), 1, corpus3, Seq(s30), s31)
    assert(r3.nCurated == 2 && r3.nExactFresh == 1, r3.toString)
    assert(r3.nKept == 1 && r3.nDupBase == 0, r3.toString) // E lands
    val full3 = tmp("graft_relay_full")
    CorpusBuildJob.run(spark,
      writeDocsDir(mk(1L -> doc(1), 2L -> doc(7), 10L -> doc(13))),
      full3)
    assert(spark.read.parquet(full3).select("doc_id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  // Window family for multi-generation tests: same sliding 20-token
  // construction, but "the" recurs every 20 positions (i % 20 == 15)
  // so EVERY window carries exactly one — the lang gate passes at any
  // `lo`, and the closed-form Jaccards are unchanged:
  // J(doc2(a), doc2(a+3)) = 15/21, J(a, a+5) = 13/23 (both ≥ 0.5),
  // J(a, a+10) = 8/28 (below).
  private def w2(i: Int): String = if (i % 20 == 15) "the" else s"t$i"
  private def doc2(lo: Int): String = (lo to lo + 19).map(w2).mkString(" ")

  test("crash windows: validation gate, roll-forward, state rebuild, " +
      "roll-back, and commit refusal") {
    import java.nio.file.{Files, Paths}
    val corpus = tmp("graft_crash") + "/corpus"
    val (st0, st1, st2) = (tmp("graft_cr0"), tmp("graft_cr1"),
      tmp("graft_cr2"))
    val boot = IncrementalCorpusJob.bootstrap(spark,
      writeDocsDir(mk(1L -> doc2(1))), corpus, st0)
    assert(boot.nKept == 1, boot.toString)
    val r1 = IncrementalCorpusJob.ingestDelta(spark,
      mk(10L -> doc2(41)), 1, corpus, Seq(st0), st1)
    assert(r1.nKept == 1, r1.toString)

    // healthy committed generation: recover is a no-op
    assert(IncrementalCorpusJob.recover(spark, corpus, 1, st1)
      == "committed")

    // --- kill window: snapshot committed, commit rename lost.
    // Simulated by un-renaming the landed generation back to staging.
    val stag1 = Paths.get(s"$corpus.staging/gen=1")
    Files.createDirectories(stag1.getParent)
    Files.move(Paths.get(s"$corpus/gen=1"), stag1)
    // the validation gate refuses to ingest over the broken chain
    val ghost = intercept[IllegalArgumentException] {
      IncrementalCorpusJob.ingestDelta(spark, mk(20L -> doc2(81)), 2,
        corpus, Seq(st0, st1), st2)
    }
    assert(ghost.getMessage.contains("recover"), ghost.getMessage)
    // recovery rolls the staged generation forward (the snapshot can
    // only exist because staging completed), after which the chain is
    // whole: the next delta lands, and a near-dup of the RECOVERED
    // generation's doc is still caught
    assert(IncrementalCorpusJob.recover(spark, corpus, 1, st1)
      == "rolled-forward")
    val r2 = IncrementalCorpusJob.ingestDelta(spark,
      mk(20L -> doc2(44), 21L -> doc2(81)), 2, corpus,
      Seq(st0, st1), st2)
    assert(r2.nDupBase == 1 && r2.nKept == 1, r2.toString)

    // --- snapshot destroyed but generation landed: state is a pure
    // function of the landed text — rebuild it and the chain agrees
    def rmTree(p: java.nio.file.Path): Unit = {
      if (Files.isDirectory(p))
        Files.list(p).iterator().forEachRemaining(rmTree)
      Files.deleteIfExists(p)
    }
    rmTree(Paths.get(st1))
    assert(IncrementalCorpusJob.recover(spark, corpus, 1, st1)
      == "state-rebuilt")
    assert(spark.read.parquet(s"$st1/keys").count() == 1)
    assert(IncrementalCorpusJob.readChainMeta(spark, Seq(st1))
      == Seq(IncrementalCorpusJob.GenMeta(1, 1L, 10L, 10L)))

    // --- kill window: staged but no snapshot → roll back (re-run the
    // delta); the staged dir is gone afterwards
    val stag3 = Paths.get(s"$corpus.staging/gen=3")
    Files.createDirectories(stag3)
    Files.copy(Paths.get(s"$st1/keys/_SUCCESS"),
      stag3.resolve("_dummy"))
    assert(IncrementalCorpusJob.recover(spark, corpus, 3,
      tmp("graft_cr3") + "/st3") == "rolled-back")
    assert(!Files.exists(stag3))

    // --- an all-dropped generation commits a snapshot but no dir:
    // recover recognizes it as complete
    val st3 = tmp("graft_cr3b")
    val r3 = IncrementalCorpusJob.ingestDelta(spark,
      mk(30L -> doc2(1)), 3, corpus, Seq(st0, st1, st2), st3)
    assert(r3.nKept == 0 && r3.nExactFresh == 0, r3.toString)
    assert(IncrementalCorpusJob.recover(spark, corpus, 3, st3)
      == "committed-empty")

    // --- a landed generation the chain doesn't cover fails the gate
    val uncov = intercept[IllegalArgumentException] {
      IncrementalCorpusJob.ingestDelta(spark, mk(40L -> doc2(121)), 4,
        corpus, Seq(st0, st1), tmp("graft_cr4")) // st2 omitted
    }
    assert(uncov.getMessage.contains("no state snapshot"),
      uncov.getMessage)

    // --- re-ingesting a committed generation is refused outright
    val dup = intercept[IllegalArgumentException] {
      IncrementalCorpusJob.ingestDelta(spark, mk(40L -> doc2(121)), 2,
        corpus, Seq(st0, st1, st2, st3), tmp("graft_cr5"))
    }
    assert(dup.getMessage.contains("already exists"), dup.getMessage)
  }

  test("a snapshot without meta.json fails ingestDelta, the stream run " +
      "and compaction, each naming the snapshot dir") {
    import java.nio.file.{Files, Paths}
    import graft.jobs.CorpusStreamJob
    val corpus = tmp("graft_nometa") + "/corpus"
    val stateRoot = tmp("graft_nometa_state")
    IncrementalCorpusJob.bootstrap(spark,
      writeDocsDir(mk(1L -> doc2(1))), corpus, s"$stateRoot/snap=0")
    IncrementalCorpusJob.ingestDelta(spark, mk(10L -> doc2(41)), 1,
      corpus, Seq(s"$stateRoot/snap=0"), s"$stateRoot/snap=1")
    val chain = CorpusStreamJob.chainDirs(spark, stateRoot)
    val bare = s"$stateRoot/snap=1"
    assert(chain == Seq(s"$stateRoot/snap=0", bare), chain.toString)
    Files.delete(Paths.get(s"$bare/meta.json"))

    val delta = intercept[IllegalStateException] {
      IncrementalCorpusJob.ingestDelta(spark, mk(20L -> doc2(81)), 2,
        corpus, chain, tmp("graft_nometa_out"))
    }
    assert(delta.getMessage.contains(bare), delta.getMessage)
    assert(!Files.exists(Paths.get(s"$corpus/gen=2")))
    val stream = intercept[IllegalStateException] {
      CorpusStreamJob.run(spark, tmp("graft_nometa_landing"), corpus,
        stateRoot, tmp("graft_nometa_ckpt"))
    }
    assert(stream.getMessage.contains(bare), stream.getMessage)
    val compact = intercept[IllegalStateException] {
      CorpusStreamJob.compactChain(spark, stateRoot)
    }
    assert(compact.getMessage.contains(bare), compact.getMessage)
    assert(CorpusStreamJob.chainDirs(spark, stateRoot) == chain)
  }

  test("every DeltaReport field equals a direct recount, on a mixed " +
      "delta and on an all-dropped one") {
    import graft.ops.{IncrementalDedupe, TextOps}
    val corpus = tmp("graft_recount") + "/corpus"
    val st = (0 to 2).map(i => tmp(s"graft_rc$i"))
    IncrementalCorpusJob.bootstrap(spark,
      writeDocsDir(mk(1L -> doc2(1), 2L -> doc2(101))), corpus, st(0))

    /** Each report field recounted from the delta, the chain it was
      * ingested against and the landed generation, without the job. */
    def recount(delta: org.apache.spark.sql.DataFrame, gen: Int,
        chain: Seq[String], landedBefore: org.apache.spark.sql.DataFrame)
        : IncrementalCorpusJob.DeltaReport = {
      val cur = TextOps.curate(delta, "doc_id", "text", 20, 90, 0.58)
        .filter(col("keep")).select("doc_id")
      val curated = delta.join(cur, "doc_id")
      val landedKeys = spark.read.parquet(chain.map(_ + "/keys"): _*)
      val fresh = curated
        .withColumn("k", IncrementalDedupe.exactKey(col("text")))
        .join(landedKeys.select("k"), Seq("k"), "left_anti")
        .select("doc_id", "lang", "text")
      val status = IncrementalDedupe.neardupVerdicts(fresh, "doc_id",
          "text", IncrementalDedupe.explodeBands(
            spark.read.parquet(chain.map(_ + "/bands"): _*), "doc_id"),
          landedBefore.select("doc_id", "text"), 0.5)
        .groupBy("status").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val genDir = s"$corpus/gen=$gen"
      val (nseq, tok) =
        if (!new java.io.File(genDir).exists()) (0L, 0L)
        else {
          val a = spark.read.parquet(genDir).agg(
            count_distinct(col("lang"), col("bin_id")), sum("n_tokens")).head
          (a.getLong(0), a.getLong(1))
        }
      IncrementalCorpusJob.DeltaReport(gen, delta.count(), curated.count(),
        fresh.count(), status.getOrElse("kept", 0L),
        status.getOrElse("dup_base", 0L), status.getOrElse("dup_delta", 0L),
        nseq, tok, genDir, st(gen))
    }

    // kept (20, 21), within-delta exact copy of 20 (26, curated out),
    // dup_delta (22 ~ 21, J = 15/21), dup_base (23 ~ landed 1), an exact
    // copy of landed 2 (24) and a too-short doc without "the" (25)
    val mixed = mk(20L -> doc2(201), 21L -> doc2(301), 22L -> doc2(304),
      23L -> doc2(4), 24L -> doc2(101), 25L -> "x y z", 26L -> doc2(201))
    val before1 = spark.read.parquet(corpus).localCheckpoint()
    val r1 = IncrementalCorpusJob.ingestDelta(spark, mixed, 1, corpus,
      Seq(st(0)), st(1))
    assert(r1 == recount(mixed, 1, Seq(st(0)), before1))
    assert((r1.nDelta, r1.nCurated, r1.nExactFresh, r1.nKept, r1.nDupBase,
      r1.nDupDelta) == (7L, 5L, 4L, 2L, 1L, 1L), r1.toString)
    assert(r1.nSequences > 0 && r1.totalTokens == 40L, r1.toString)

    // nothing survives: an exact copy, a near copy and a curation reject
    val dropped = mk(30L -> doc2(1), 31L -> doc2(204), 32L -> "x y z")
    val before2 = spark.read.parquet(corpus).localCheckpoint()
    val r2 = IncrementalCorpusJob.ingestDelta(spark, dropped, 2, corpus,
      Seq(st(0), st(1)), st(2))
    assert(r2 == recount(dropped, 2, Seq(st(0), st(1)), before2))
    assert((r2.nDelta, r2.nCurated, r2.nExactFresh, r2.nKept, r2.nDupBase,
      r2.nDupDelta, r2.nSequences, r2.totalTokens) ==
      (3L, 2L, 1L, 0L, 1L, 0L, 0L, 0L), r2.toString)
    assert(!new java.io.File(r2.genDir).exists())
  }

  test("compaction mid-chain: compact → more deltas ≡ the uncompacted " +
      "chain, and both dedupe tiers keep firing through the merge") {
    def runChain(corpus: String, compactAfter1: Boolean)
        : (Seq[Long], Seq[(Long, Long, Long)]) = {
      val st = (0 to 3).map(i => tmp(s"graft_cc$i"))
      IncrementalCorpusJob.bootstrap(spark,
        writeDocsDir(mk(1L -> doc2(1), 2L -> doc2(101))), corpus, st(0))
      val r1 = IncrementalCorpusJob.ingestDelta(spark,
        mk(10L -> doc2(41), 11L -> doc2(46)), 1, corpus, Seq(st(0)),
        st(1))
      val chain1 =
        if (compactAfter1) {
          val c = tmp("graft_ccC")
          IncrementalCorpusJob.compactState(spark, Seq(st(0), st(1)), c)
          // the merged meta carries both covered generations
          assert(IncrementalCorpusJob.readChainMeta(spark, Seq(c))
            .map(_.gen).sorted == Seq(0, 1))
          Seq(c)
        } else Seq(st(0), st(1))
      // 20 near-dups gen-1's canonical THROUGH the (possibly
      // compacted) band index; 21 is fresh
      val r2 = IncrementalCorpusJob.ingestDelta(spark,
        mk(20L -> doc2(44), 21L -> doc2(81)), 2, corpus, chain1, st(2))
      // 30 near-dups gen-2's canonical (the post-compaction snapshot
      // must be consulted); 31 exact-dups gen-0 through the compacted
      // key table
      val r3 = IncrementalCorpusJob.ingestDelta(spark,
        mk(30L -> doc2(84), 31L -> doc2(1)), 3, corpus,
        chain1 :+ st(2), st(3))
      val kept = spark.read.parquet(corpus).select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      (kept, Seq(r1, r2, r3).map(r =>
        (r.nKept, r.nDupBase, r.nDupDelta)))
    }
    val (keptA, repsA) = runChain(tmp("graft_ccA") + "/corpus", false)
    val (keptB, repsB) = runChain(tmp("graft_ccB") + "/corpus", true)
    assert(keptA == keptB && repsA == repsB,
      s"$keptA/$repsA vs $keptB/$repsB")
    // and the chain did what the construction says: within-delta dup in
    // r1, base-dup via band index in r2, base-dup + exact-dup in r3
    assert(keptA == Seq(1L, 2L, 10L, 21L), keptA.toString)
    assert(repsA == Seq((1L, 0L, 1L), (1L, 1L, 0L), (0L, 1L, 0L)),
      repsA.toString)
  }
}
