package graft.jobs

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.ops.{CorpusOps, IncrementalDedupe, TextOps}

/** The INCREMENTAL corpus lifecycle — how a training corpus actually
  * lives at 100 TB: built once ([[bootstrap]] = the full
  * [[CorpusBuildJob]]), then grown batch-by-batch ([[ingestDelta]])
  * without ever re-pairing or re-scanning what already landed.
  *
  * Layout contract:
  *  - Corpus generations land under `corpusDir/gen=N/…` — one immutable
  *    generation per ingested batch, ID-CLUSTERED
  *    ([[CorpusOps.writeIdClustered]]: id-range files, rows ascending by
  *    `doc_id`). Because delta ids are generation-monotonic (enforced
  *    below), the WHOLE corpus is globally id-clustered: `gen` prunes as
  *    a partition column and `doc_id` ranges prune at row-group level —
  *    which is what makes the per-delta candidate-text fetch
  *    O(candidates) instead of O(corpus) ([[prunedTextFetch]]).
  *    `spark.read.parquet(corpusDir)` reassembles the whole corpus.
  *  - Dedupe state is a chain of IMMUTABLE SNAPSHOTS, one dir per
  *    generation, each holding ONLY that generation's additions
  *    (`keys/` exact-content keys, `bands/` the LSH band index packed
  *    as one 16-sig array row per landed canonical — ~150 B at rest,
  *    independent of document size) plus a MANDATORY `meta.json` (one
  *    [[GenMeta]] per covered generation, every field present), so
  *    chain-wide facts (bloom sizing, the ordering check, fetch pruning
  *    ranges, the consistency gate) cost a driver-side metadata read
  *    instead of a state-chain scan. Every writer records it; a
  *    snapshot without it (or missing a field) fails every reader
  *    ([[readChainMeta]]). A run reads the union of all prior snapshots
  *    and writes one new snapshot: O(delta) writes, no state rewrite,
  *    and any generation is reproducible by replaying the chain.
  *
  * Crash safety (single commit point + derivable state): a delta stages
  * its shards at `<corpusDir>.staging/gen=N` (a SIBLING dir of the
  * corpus — invisible to every corpus read by construction, and on the
  * same filesystem so the commit rename stays atomic), writes the
  * state snapshot from the STAGED
  * bytes via tmp-dir + atomic rename, and only then renames the staging
  * dir to `gen=N` — the rename IS the commit. A kill in any window
  * leaves a chain [[recover]] repairs mechanically: snapshot present
  * but `gen=N` missing → roll the staged dir forward (the snapshot is
  * only ever written after staging completed); staged dir present but
  * no snapshot → roll back and re-run the delta; landed generation
  * with no snapshot (a bootstrap kill) → rebuild the snapshot from the
  * landed text, of which state is a pure function. [[ingestDelta]]
  * validates chain/landed consistency up front so an unrepaired crash
  * fails loudly instead of silently re-admitting near-dups.
  *
  * Per-delta cost: every relation of a generation executes once.
  * Curate and the exact-content key share one checkpoint over the
  * delta; the exact tier bloom-gates against the landed key parquet,
  * read in place (filter sized from chain metadata — no counting pass;
  * only probe-positives reach the exact semi-join); the near-dup tier
  * materializes ONE candidate relation (delta bands against the
  * delta's own bands and the landed band index) that the within-delta
  * verify, the text fetch and the base verify all read, and fetches
  * landed TEXT only for band-candidates, in one pruned scan of the
  * touched generations; packing and the shard write touch only kept
  * delta docs. The [[DeltaReport]] counts come from passes that run
  * anyway: the batch fingerprint, one count of the curated
  * checkpoint, one aggregate over the verdicts and the staged
  * read-back. Nothing is proportional to the landed corpus except the
  * bloom build's scan of the key table and the band probe's scan of
  * the band index, ~256 bytes per landed canonical.
  *
  * Ordering contract (asserted): delta doc ids must be strictly greater
  * than every landed id, so "landed canonicals win" coincides with the
  * corpus-wide keep-first (min-id) rule of the full rebuild. Under that
  * contract the incremental kept set EQUALS the full-rebuild kept set,
  * except the inherent late-bridge divergence documented on
  * [[IncrementalDedupe]] (pinned in IncrementalCorpusJobSpec).
  *
  * Reference lifecycle analog: `datapump.py`'s repeated-run queue
  * (Entry 2-3) reconciling new records against the landed resource.
  */
object IncrementalCorpusJob {

  /** Audit of one delta ingestion. `nSequences` and `totalTokens` are
    * read back from the STAGED generation bytes, which the commit
    * rename lands unchanged (a write-path bug cannot hide). The funnel:
    * nDelta ≥ nCurated ≥ nExactFresh = nKept + nDupBase + nDupDelta. */
  case class DeltaReport(
      generation: Int,
      nDelta: Long, nCurated: Long, nExactFresh: Long,
      nKept: Long, nDupBase: Long, nDupDelta: Long,
      nSequences: Long, totalTokens: Long,
      genDir: String, stateOutDir: String)

  /** One generation's entry in a snapshot's `meta.json`: how many
    * canonicals it landed and their id range (empty generation ⇒
    * `nKeys == 0`, range `[0, -1]` — matches nothing), plus the full
    * id ENVELOPE of the ingested batch BEFORE curation/dedupe
    * (`batchMin`/`batchMax`) and a cheap CONTENT fingerprint of the
    * same batch (`batchCount`/`batchHash`: row count + order-insensitive
    * bit_xor of per-row xxhash64). Together they make a crash-replayed
    * batch exactly recognizable ([[graft.jobs.CorpusStreamJob]]): kept
    * ranges cannot tell a replay from a new overlapping batch that
    * covers them, and the envelope alone cannot tell it from a new batch
    * reusing an all-dropped head's id range with different content.
    * Bootstrap and rebuilt snapshots ingest no batch and record the
    * sentinels (envelope `[0, -1]`, count -1), which no non-empty
    * batch's envelope equals. A compacted snapshot's meta carries one
    * entry per covered generation, so compaction loses no pruning or
    * replay precision. */
  case class GenMeta(gen: Int, nKeys: Long, minDocId: Long, maxDocId: Long,
      batchMin: Long = 0L, batchMax: Long = -1L,
      batchCount: Long = -1L, batchHash: Long = 0L)

  /** Full build of the initial corpus into `corpusDir/gen=0` plus the
    * generation-0 state snapshot, through the same staged commit
    * protocol as [[ingestDelta]] (stage → snapshot → rename). */
  def bootstrap(spark: SparkSession, docsDir: String, corpusDir: String,
      stateOutDir: String,
      minTokens: Int = 20, maxTokens: Int = 90,
      minQuality: Double = 0.58, dedupeThreshold: Double = 0.5,
      budgetTokens: Int = 2048, seed: Long = 7L,
      numShards: Int = 8): CorpusBuildJob.Report = {
    val staging = stagingDir(corpusDir, 0)
    val rep = CorpusBuildJob.run(spark, docsDir, staging,
      minTokens, maxTokens, minQuality, dedupeThreshold, budgetTokens,
      seed, numShards, clusterById = true)
    writeStateCommitted(spark,
      spark.read.parquet(staging).select("doc_id", "text"),
      generation = 0, stateOutDir, single = false)
    commitGeneration(spark, corpusDir, 0)
    rep.copy(outDir = s"$corpusDir/gen=0")
  }

  /** Ingest one delta batch as generation `generation`: curate →
    * exact-vs-state → near-dup-vs-state (transitive through the batch)
    * → pack → staged shard write → state snapshot → commit rename.
    * `stateInDirs` is the chain of ALL prior snapshots (bootstrap's
    * plus one per prior delta, or a [[compactState]] merge).
    * `fingerprint` is the batch's [[envelopeFingerprint]] when the
    * caller already computed it ([[CorpusStreamJob.ingestBatch]] does,
    * for replay recognition); without it the delta is fingerprinted
    * here. */
  def ingestDelta(spark: SparkSession, deltaDocs: DataFrame,
      generation: Int, corpusDir: String,
      stateInDirs: Seq[String], stateOutDir: String,
      minTokens: Int = 20, maxTokens: Int = 90,
      minQuality: Double = 0.58, dedupeThreshold: Double = 0.5,
      budgetTokens: Int = 2048, seed: Long = 7L,
      numShards: Int = 8,
      fingerprint: Option[(Long, Long, Long, Long)] = None): DeltaReport = {
    require(generation > 0, "generation 0 is bootstrap's")
    val delta = deltaDocs.select("doc_id", "lang", "text")
      .localCheckpoint()
    val metas = readChainMeta(spark, stateInDirs)
    validateChain(spark, corpusDir, metas, generation)
    val stateKeys = spark.read.parquet(stateInDirs.map(_ + "/keys"): _*)
    val stateBands = IncrementalDedupe.explodeBands(
      spark.read.parquet(stateInDirs.map(_ + "/bands"): _*), "doc_id")

    // ordering contract: landed ids all precede delta ids (keep-first
    // parity with a full rebuild) — a driver-side comparison
    val maxLanded = landedMax(metas)
    val (minDelta, maxDelta, nDelta, fpHash) =
      fingerprint.getOrElse(envelopeFingerprint(delta))
    require(nDelta > 0, s"delta for generation $generation is empty")
    require(minDelta > maxLanded,
      s"delta ids must follow landed ids (landed max $maxLanded, " +
        s"delta min $minDelta) — keep-first parity needs id-ordered " +
        "arrival")

    // stage 1: curate (quality gates + WITHIN-delta exact keep-first),
    // carrying the exact-content key the next stage probes with: the
    // key is an injective function of curate's duplicate-window key,
    // so the window partitions on it directly
    val curated = delta
      .withColumn("__k", IncrementalDedupe.exactKey(col("text")))
      .withColumn("__reason", TextOps.curateReason("doc_id", "text",
        minTokens, maxTokens, minQuality, col("__k")))
      .filter(col("__reason").isNull).drop("__reason")
      .localCheckpoint()

    // stage 2: exact tier vs landed — BLOOM-GATED (the
    // dedupe_incremental_bloom tier wired into the job): the landed
    // key table folds into a ~9-bits/key filter (one pass over the
    // key parquet, a mergeable aggregate — the state is never
    // shuffled), bloom-negatives are DEFINITIVELY fresh (no false
    // negatives), and only probe-positives reach the exact semi-join,
    // so the join input is |dupes| + 1%·|fresh| instead of |delta|.
    // Sizing comes from chain metadata — the state chain is NOT
    // re-counted per delta (that second pass was r13's cost bug).
    // Result identical to a plain anti-join by construction.
    val nLandedKeys = metas.map(_.nKeys).sum
    val bf = stateKeys.stat.bloomFilter("k",
      math.max(nLandedKeys, 1000L), 0.01)
    val bfBc = spark.sparkContext.broadcast(bf)
    val might = udf((k: Long) => bfBc.value.mightContainLong(k))
    val dupIds = curated.filter(might(col("__k")))
      .join(stateKeys.select(col("k").as("__k")), Seq("__k"), "left_semi")
      .select("doc_id")
    val fresh = curated.join(dupIds, Seq("doc_id"), "left_anti")
      .drop("__k").localCheckpoint()

    // stage 3: near-dup tier vs landed band index; landed TEXT is read
    // candidate-wise, through generation-pruned row-group-skipping
    // reads (O(candidates) corpus I/O)
    val verdicts = IncrementalDedupe.neardupVerdicts(fresh, "doc_id",
      "text", stateBands,
      prunedTextFetch(spark, corpusDir, "doc_id", "text", metas),
      dedupeThreshold).localCheckpoint()
    // the funnel below the exact tier in one pass: verdicts hold one
    // row per exact-fresh doc
    val funnel = verdicts.agg(count(lit(1)),
      count(when(col("status") === "kept", true)),
      count(when(col("status") === "dup_base", true)),
      count(when(col("status") === "dup_delta", true))).head
    val nKept = funnel.getLong(1)

    // stage 4: pack THIS generation's stream and STAGE its shards
    // (invisible to readers until the commit rename below). An
    // all-dropped delta lands NO generation dir — but it still gets a
    // schema-ful empty state snapshot so the chain union stays
    // readable.
    val genDir = s"$corpusDir/gen=$generation"
    val (nseq, tok) =
      if (nKept > 0) {
        val kept = fresh.join(
          verdicts.filter(col("status") === "kept").select("doc_id"),
          "doc_id").localCheckpoint()
        val staging = stagingDir(corpusDir, generation)
        val packed = CorpusOps.packSequences(kept, "doc_id", "lang",
          "text", budgetTokens)
        CorpusOps.writeIdClustered(
          packed.join(kept.select("doc_id", "text"), "doc_id"),
          "doc_id", seed + generation, numShards, staging)
        // stage 5: one read-back of the STAGED bytes (= the landed
        // bytes after the rename), so a write-path bug cannot hide: it
        // audits the packing and gives this generation's metadata; the
        // state snapshot (additions only) is built from the same read,
        // then the commit rename makes the generation visible
        val staged = spark.read.parquet(staging)
        val a = staged.agg(count(lit(1)), min("doc_id"), max("doc_id"),
          count_distinct(col("lang"), col("bin_id")), sum("n_tokens")).head
        writeStateCommitted(spark, staged.select("doc_id", "text"),
          generation, stateOutDir, single = false,
          envelope = Some((minDelta, maxDelta)),
          fingerprint = Some((nDelta, fpHash)),
          idStats = Some((a.getLong(0), a.getLong(1), a.getLong(2))))
        commitGeneration(spark, corpusDir, generation)
        (a.getLong(3), a.getLong(4))
      } else {
        writeStateCommitted(spark, fresh.select("doc_id", "text").limit(0),
          generation, stateOutDir, single = true,
          envelope = Some((minDelta, maxDelta)),
          fingerprint = Some((nDelta, fpHash)),
          idStats = Some((0L, 0L, -1L)))
        (0L, 0L)
      }

    DeltaReport(
      generation = generation,
      nDelta = nDelta, nCurated = curated.count(),
      nExactFresh = funnel.getLong(0),
      nKept = nKept,
      nDupBase = funnel.getLong(2),
      nDupDelta = funnel.getLong(3),
      nSequences = nseq,
      totalTokens = tok,
      genDir = genDir, stateOutDir = stateOutDir)
  }

  /** The O(candidates) landed-text fetch: each touched generation is
    * read with a PUSHED id predicate — the candidate id envelope within
    * that generation, plus the exact id-IN list when the candidate set
    * is small enough to collect (the `pqCosineTopKFromLayout` rerank
    * precedent). Because generation files are id-clustered, those
    * predicates prune at row-group level off parquet min/max footers;
    * untouched generations are never opened at all.
    *
    * Small candidate sets (at most `maxInIds`, the common case) cost one
    * bounded collect: the per-generation envelopes then come from the
    * chain metadata on the driver, and every touched generation dir is
    * read in ONE scan with the known (id, text) schema (no read per
    * generation, no footer read to infer a schema), filtered by the OR
    * of the envelopes and the id list. The id list makes that scan
    * row-exact. Larger sets map candidates to
    * generations through a broadcast join against the ≤|generations|-
    * row metadata relation, read each touched generation with its
    * envelope, and restore row-exactness with a trailing left-semi
    * join (row groups are coarse). Driver-side data is O(|generations|)
    * rows plus at most `maxInIds` + 1 collected ids — never O(corpus),
    * never O(delta). */
  def prunedTextFetch(spark: SparkSession, corpusDir: String,
      idCol: String, textCol: String, metas: Seq[GenMeta],
      maxInIds: Int = 4096): DataFrame => DataFrame = { candIds =>
    val schema = StructType(Seq(candIds.schema(idCol),
      StructField(textCol, StringType)))
    val ranges = metas.filter(_.nKeys > 0)
    val empty = () => spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
    val ids = if (ranges.isEmpty) Array.empty[Long]
      else candIds.select(col(idCol).cast("long")).limit(maxInIds + 1)
        .collect().map(_.getLong(0))
    if (ranges.isEmpty || ids.isEmpty) empty()
    else if (ids.length <= maxInIds) {
      // generations hold disjoint id ranges, so each id falls in at
      // most one envelope
      val perGen = ranges.flatMap { m =>
        val in = ids.filter(i => i >= m.minDocId && i <= m.maxDocId)
        if (in.isEmpty) None else Some((m.gen, in.min, in.max))
      }
      if (perGen.isEmpty) empty()
      else spark.read.schema(schema)
        .parquet(perGen.map { case (g, _, _) => s"$corpusDir/gen=$g" }: _*)
        .filter(perGen.map { case (_, lo, hi) => col(idCol).between(lo, hi) }
          .reduce(_ || _) && col(idCol).isin(ids.toIndexedSeq: _*))
    } else {
      // the candidate relation feeds 2 actions below — materialize once
      val cands = candIds.localCheckpoint()
      val rangeDf = spark.createDataFrame(
        ranges.map(m => (m.gen, m.minDocId, m.maxDocId)))
        .toDF("__gen", "__lo", "__hi")
      // ≤ one row per generation: which gens hold candidates, and the
      // candidate id envelope within each
      val perGen = cands
        .join(broadcast(rangeDf),
          col(idCol).between(col("__lo"), col("__hi")))
        .groupBy("__gen")
        .agg(min(idCol).as("__mn"), max(idCol).as("__mx"))
        .collect()
      if (perGen.isEmpty) empty()
      else perGen.toSeq.map { r =>
          spark.read.schema(schema)
            .parquet(s"$corpusDir/gen=${r.getAs[Int]("__gen")}")
            .filter(col(idCol).between(r.get(1), r.get(2)))
        }
        .reduce(_ union _)
        .join(cands, Seq(idCol), "left_semi")
    }
  }

  /** Merge a snapshot chain into ONE snapshot — the manifest-compaction
    * analog of the generation model: after many generations the
    * chain's file count (not its bytes) is what costs, and compaction
    * is a pure union rewrite, content-identical by construction
    * (asserted in IncrementalCorpusJobSpec). The merged `meta.json`
    * keeps one entry PER COVERED GENERATION (a driver-side JSON merge —
    * no state scan), so bloom sizing and fetch pruning lose nothing.
    * Subsequent ingests pass `Seq(compactedDir)` instead of the
    * chain. */
  def compactState(spark: SparkSession, stateInDirs: Seq[String],
      stateOutDir: String): Unit = {
    val metas = readChainMeta(spark, stateInDirs)
    spark.read.parquet(stateInDirs.map(_ + "/keys"): _*)
      .write.mode("overwrite").parquet(s"$stateOutDir/keys")
    spark.read.parquet(stateInDirs.map(_ + "/bands"): _*)
      .write.mode("overwrite").parquet(s"$stateOutDir/bands")
    writeMeta(spark, stateOutDir, metas.sortBy(_.gen))
  }

  /** Repair a chain interrupted mid-commit. Returns what it did:
    * `committed` (nothing to do), `rolled-forward` (snapshot landed but
    * the gen rename didn't — finish it; safe because the snapshot is
    * only ever written AFTER the staging write completed),
    * `state-rebuilt` (generation landed but its snapshot is missing —
    * rebuild it from the landed text, of which state is a pure
    * function), `rolled-back` (staging/tmp leftovers with no committed
    * snapshot — delete them; re-run the delta), or `committed-empty`
    * (the snapshot says the generation landed nothing, so no dir is
    * expected). */
  def recover(spark: SparkSession, corpusDir: String, generation: Int,
      stateDir: String): String = {
    val fs = new Path(corpusDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val genP = new Path(s"$corpusDir/gen=$generation")
    val stagP = new Path(stagingDir(corpusDir, generation))
    val tmpP = new Path(stateDir + ".tmp")
    val stateP = new Path(stateDir)
    def clean(): Unit = {
      fs.delete(stagP, true); fs.delete(tmpP, true)
    }
    if (fs.exists(genP) && fs.exists(stateP)) { clean(); "committed" }
    else if (fs.exists(genP)) {
      // landed, snapshot missing (bootstrap-shaped kill): state is a
      // pure function of the landed text — rebuild it
      writeStateCommitted(spark,
        spark.read.parquet(genP.toString).select("doc_id", "text"),
        generation, stateDir, single = false)
      clean(); "state-rebuilt"
    } else if (fs.exists(stateP)) {
      if (fs.exists(stagP)) {
        // the commit rename didn't happen; staging is complete by the
        // write protocol's ordering — roll forward
        require(fs.rename(stagP, genP), s"rename $stagP -> $genP failed")
        fs.delete(tmpP, true); "rolled-forward"
      } else {
        val isEmpty = readChainMeta(spark, Seq(stateDir))
          .forall(m => m.gen != generation || m.nKeys == 0)
        if (isEmpty) { fs.delete(tmpP, true); "committed-empty" }
        else throw new IllegalStateException(
          s"snapshot $stateDir claims generation $generation landed " +
            "canonicals but neither gen dir nor staging exists — " +
            "chain is unrecoverable without re-ingesting the delta")
      }
    } else if (fs.exists(stagP) || fs.exists(tmpP)) {
      clean(); "rolled-back"
    } else "nothing-to-recover"
  }

  /** Chain/landed consistency gate run at the top of [[ingestDelta]]:
    * every landed `gen=K` dir must be covered by the snapshot chain
    * (else a crash left a generation invisible to dedupe state — the
    * silent near-dup re-admission the commit protocol exists to
    * prevent), and every chain entry claiming canonicals must have its
    * generation landed. Fails loudly, naming [[recover]]. */
  private def validateChain(spark: SparkSession, corpusDir: String,
      metas: Seq[GenMeta], ingesting: Int): Unit = {
    val fs = new Path(corpusDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val landed: Set[Int] =
      if (!fs.exists(new Path(corpusDir))) Set.empty
      else fs.listStatus(new Path(corpusDir)).toSeq
        .map(_.getPath.getName)
        .collect { case s if s.startsWith("gen=") =>
          s.stripPrefix("gen=").toInt }
        .toSet
    val covered = metas.map(_.gen).toSet
    val nonEmpty = metas.filter(_.nKeys > 0).map(_.gen).toSet
    val uncovered = landed -- covered
    require(uncovered.isEmpty,
      s"landed generation(s) ${uncovered.toSeq.sorted.mkString(",")} " +
        "have no state snapshot in the chain — run " +
        "IncrementalCorpusJob.recover (or pass their snapshots) before " +
        "ingesting, else their near-dups would be re-admitted")
    val ghost = nonEmpty -- landed
    require(ghost.isEmpty,
      s"chain snapshot(s) for generation(s) " +
        s"${ghost.toSeq.sorted.mkString(",")} claim landed canonicals " +
        "but no gen dir exists — run IncrementalCorpusJob.recover to " +
        "roll the staged generation forward")
    require(!covered.contains(ingesting) && !landed.contains(ingesting),
      s"generation $ingesting already exists in the chain — " +
        "re-ingesting a committed generation would duplicate it")
  }

  /** Write one generation's snapshot (keys, packed bands, meta) to
    * `stateDir + ".tmp"`, then atomically rename into place — a
    * half-written snapshot is never visible under the final name.
    * `envelope` is the ingested batch's pre-curation id range
    * ([[GenMeta]]); None (bootstrap, state rebuilds) records the
    * sentinel. `idStats` is `landed`'s (row count, min id, max id)
    * when the caller already read it back; without it one agg over the
    * snapshot's own keys computes it. */
  private def writeStateCommitted(spark: SparkSession, landed: DataFrame,
      generation: Int, stateDir: String, single: Boolean,
      envelope: Option[(Long, Long)] = None,
      fingerprint: Option[(Long, Long)] = None,
      idStats: Option[(Long, Long, Long)] = None): Unit = {
    val fs = new Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = stateDir + ".tmp"
    fs.delete(new Path(tmp), true)
    val (keys, bands) = IncrementalDedupe.stateRows(landed,
      "doc_id", "text")
    // single = true forces one write task so a ZERO-ROW snapshot still
    // lands a schema-bearing parquet file (the task opens the file and
    // writes the footer even with no rows)
    def w(df: DataFrame, p: String): Unit =
      (if (single) df.coalesce(1) else df)
        .write.mode("overwrite").parquet(p)
    w(keys, s"$tmp/keys")
    w(bands, s"$tmp/bands")
    // this generation's metadata: one O(delta) agg over the snapshot's
    // own keys — never the chain
    val (n, lo, hi) = idStats.getOrElse {
      val a = spark.read.parquet(s"$tmp/keys")
        .agg(count(lit(1)), min("doc_id"), max("doc_id")).head
      if (a.getLong(0) == 0L) (0L, 0L, -1L)
      else (a.getLong(0), a.getLong(1), a.getLong(2))
    }
    val (bMin, bMax) = envelope.getOrElse((0L, -1L))
    val (bCnt, bHash) = fingerprint.getOrElse((-1L, 0L))
    val gm =
      if (n == 0L) GenMeta(generation, 0L, 0L, -1L, bMin, bMax, bCnt, bHash)
      else GenMeta(generation, n, lo, hi, bMin, bMax, bCnt, bHash)
    writeMeta(spark, tmp, Seq(gm))
    fs.delete(new Path(stateDir), true)
    require(fs.rename(new Path(tmp), new Path(stateDir)),
      s"rename $tmp -> $stateDir failed")
  }

  /** One pass over a pre-curation batch: id envelope + content
    * fingerprint `(min, max, count, order-insensitive bit_xor of
    * per-row xxhash64(doc_id, lang, text))`. Shared by [[ingestDelta]]
    * (which records it) and [[graft.jobs.CorpusStreamJob.ingestBatch]]
    * (which compares it for replay recognition) so both sides compute
    * the identical value. An empty batch reads `(0, -1, 0, 0)`: count
    * 0 under the unrecorded-envelope sentinel. */
  def envelopeFingerprint(batch: DataFrame): (Long, Long, Long, Long) = {
    val r = batch.agg(coalesce(min("doc_id"), lit(0L)),
      coalesce(max("doc_id"), lit(-1L)), count(lit(1)),
      expr("coalesce(bit_xor(xxhash64(doc_id, lang, text)), 0L)")).head
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  private def writeMeta(spark: SparkSession, stateDir: String,
      gens: Seq[GenMeta]): Unit = {
    val json = JsonMethods.compact(JsonMethods.render(
      JObject("gens" -> JArray(gens.toList.map(g => JObject(
        "gen" -> JInt(g.gen), "n_keys" -> JInt(g.nKeys),
        "min_doc_id" -> JInt(g.minDocId),
        "max_doc_id" -> JInt(g.maxDocId),
        "batch_min" -> JInt(g.batchMin),
        "batch_max" -> JInt(g.batchMax),
        "batch_count" -> JInt(g.batchCount),
        "batch_hash" -> JInt(g.batchHash)))))))
    val p = new Path(s"$stateDir/meta.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  /** The chain's generation metadata, in chain order: every
    * snapshot's `meta.json` entries, all eight [[GenMeta]] fields
    * required. Throws `IllegalStateException` naming the first snapshot
    * dir whose `meta.json` is missing or lacks a field — every chain
    * writer records it, so its absence means a foreign or damaged
    * snapshot, which no reader may guess around. */
  def readChainMeta(spark: SparkSession,
      stateInDirs: Seq[String]): Seq[GenMeta] =
    stateInDirs.flatMap { d =>
      val p = new Path(s"$d/meta.json")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) throw new IllegalStateException(
        s"snapshot $d has no meta.json — every snapshot this job " +
          "writes records one; was a foreign dir mixed into the chain?")
      val in = fs.open(p)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val items = JsonMethods.parse(txt) \ "gens" match {
        case JArray(xs) => xs
        case other => throw new IllegalStateException(
          s"bad meta.json in $d: gens = $other")
      }
      items.map { j =>
        def l(f: String): Long = (j \ f) match {
          case JInt(v) => v.toLong
          case other => throw new IllegalStateException(
            s"bad meta.json field $f in $d: $other")
        }
        GenMeta(l("gen").toInt, l("n_keys"), l("min_doc_id"),
          l("max_doc_id"), l("batch_min"), l("batch_max"),
          l("batch_count"), l("batch_hash"))
      }
    }

  /** The largest landed doc id of a chain (-1 when nothing landed). */
  private[jobs] def landedMax(metas: Seq[GenMeta]): Long =
    metas.filter(_.nKeys > 0).map(_.maxDocId).maxOption.getOrElse(-1L)

  /** Where generation `gen` stages before its commit rename: a sibling
    * of `corpusDir` (same filesystem → atomic rename; outside the
    * corpus root → never visible to a corpus read, with no reliance on
    * hidden-path filtering). */
  private def stagingDir(corpusDir: String, gen: Int): String =
    s"${corpusDir.stripSuffix("/")}.staging/gen=$gen"

  /** The commit point: rename the invisible staging dir to its final
    * `gen=N` name. Idempotent against hadoop rename-into-existing-dir
    * semantics by requiring the target absent. */
  private def commitGeneration(spark: SparkSession, corpusDir: String,
      generation: Int): Unit = {
    val fs = new Path(corpusDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val src = new Path(stagingDir(corpusDir, generation))
    val dst = new Path(s"$corpusDir/gen=$generation")
    require(!fs.exists(dst), s"$dst already exists — refusing to commit")
    require(fs.rename(src, dst), s"rename $src -> $dst failed")
  }
}
