package graft.jobs

import scala.collection.mutable.ArrayBuffer
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.jobs.IncrementalCorpusJob.DeltaReport

/** CONTINUOUS corpus growth: a Structured Streaming file source watches
  * a landing directory for delta parquet drops and every micro-batch
  * lands as the next corpus generation through
  * [[IncrementalCorpusJob.ingestDelta]] — the 100 TB shape where the
  * corpus is not grown by hand-sequenced delta jobs but by pointing the
  * pipeline at a directory that upstream producers append to.
  *
  * Reference lifecycle analog: `datapump.py`'s resident queue job
  * (Entry 2-3) that keeps absorbing newly-arrived input files into the
  * landed resource — here the absorbed unit is a corpus generation.
  *
  * Exactly-once content, from two cooperating logs:
  *  - the STREAM checkpoint records which landing files each batch read
  *    (at-least-once replay on crash), and
  *  - the GENERATION commit protocol (staged dir + atomic rename,
  *    [[IncrementalCorpusJob]]) makes a landed generation detectable, so
  *    [[ingestBatch]] recognizes a replayed batch and skips it instead
  *    of landing it twice.
  * A kill anywhere in between is repaired at the next [[run]] by the
  * pre-pass ([[prepare]]: [[IncrementalCorpusJob.recover]] on the chain
  * head and its successor) and the replay then no-ops. Replay
  * recognition is EXACT: every delta snapshot records its batch's
  * pre-curation id envelope and content fingerprint
  * ([[IncrementalCorpusJob.GenMeta]]), and file-source recovery
  * reconstructs an uncommitted batch verbatim from its offset log — so
  * a replay matches the head's envelope and fingerprint (even an
  * all-dropped batch). Every other batch overlapping landed ids — one
  * that merely covers the head's kept range, or any overlap of a
  * bootstrap head, which records no envelope — fails the ordering gate
  * loudly instead of being silently swallowed.
  *
  * State-root layout (owned by this job): snapshots live at
  * `stateRoot/snap=N`, one per generation. [[compactChain]] merges the
  * chain by SUPERSEDENCE — the merged snapshot commits as a single
  * atomic rename to `stateRoot/compact=K` (covering generations ≤ K,
  * per-generation metadata preserved), after which `snap=J, J ≤ K` dirs
  * are dead weight and are vacuumed; a kill between commit and vacuum
  * just leaves them superseded on disk. Chain discovery
  * ([[chainDirs]]) is: newest `compact=K` if any, plus every
  * `snap=J` with `J > K` — so compaction never has a window where the
  * chain is incomplete.
  *
  * Ordering contract (inherited from ingestDelta): producers must drop
  * delta files in doc-id order — the file source processes drops
  * oldest-first, so arrival order IS id order when producers append
  * monotonically (the same contract the batch lifecycle enforces, and
  * the reference's queue implicitly assumes of its dated input files).
  */
object CorpusStreamJob {

  /** A multi-batch sweep that failed PARTWAY: earlier batches in the
    * sweep already landed generations (each is durably committed — the
    * per-generation rename protocol doesn't roll back on a later
    * batch's failure), so the error carries them for reconciliation.
    * Without this, a failed sweep's landed generations would appear in
    * neither the caller's return value nor processed.log — an operator
    * reading problems.log could not tell how far the chain advanced. */
  final class SweepFailedException(val landed: Seq[DeltaReport],
      cause: Throwable) extends RuntimeException(
    s"sweep failed after landing ${landed.size} generation(s)" +
      (if (landed.isEmpty) ""
       else landed.map(_.generation).mkString(" [", ", ", "]")) +
      s": ${cause.getMessage}", cause)

  /** The landing-file schema (a file-source stream cannot infer):
    * exactly the `documents` projection the corpus jobs ingest. */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("lang", StringType),
    StructField("text", StringType)))

  /** Drain every delta file currently in `landingDir` into the corpus
    * (one AvailableNow pass; `maxFilesPerTrigger` landing files per
    * generation), resuming from `checkpointDir`. Returns one
    * [[DeltaReport]] per generation actually landed this pass —
    * replayed batches contribute none. Call again after more drops
    * arrive; the checkpoint carries the high-water mark. */
  def run(spark: SparkSession, landingDir: String, corpusDir: String,
      stateRoot: String, checkpointDir: String,
      knobs: CorpusKnobs = CorpusKnobs(),
      maxFilesPerTrigger: Int = 1): Seq[DeltaReport] = {
    prepare(spark, corpusDir, stateRoot)
    val reports = ArrayBuffer.empty[DeltaReport]
    val q = spark.readStream
      .schema(docSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(landingDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // batches execute on the stream's microbatch thread; the
        // synchronized append + the awaitTermination join make the
        // buffer safely visible to the caller
        ingestBatch(spark, batch.select("doc_id", "lang", "text"),
          corpusDir, stateRoot, knobs)
          .foreach(r => reports.synchronized { reports += r })
      }
      .start()
    try q.awaitTermination()
    catch {
      case e: Throwable =>
        // generations landed by earlier batches of this sweep are
        // durably committed — surface them with the failure so the
        // chain's actual position is reconcilable from problems.log
        throw new SweepFailedException(
          reports.synchronized(reports.toList), e)
    }
    finally if (q.isActive) q.stop()
    reports.synchronized(reports.toList)
  }

  /** Land one micro-batch as the next generation, or skip it: `None`
    * when the batch is empty or is a REPLAY of the chain head (its
    * pre-curation id envelope and content fingerprint equal the head's
    * recorded ones — the crash-recovery path, see class doc). A batch that overlaps landed
    * ids without being that replay is an ordering violation and fails
    * loudly — skipping it would silently drop producer data. */
  def ingestBatch(spark: SparkSession, batch: DataFrame,
      corpusDir: String, stateRoot: String,
      knobs: CorpusKnobs = CorpusKnobs()): Option[DeltaReport] = {
    // one pass fingerprints the batch for replay recognition and for
    // the snapshot ingestDelta records; a count of 0 is an empty batch
    val fp @ (bMin, bMax, bCnt, bHash) =
      IncrementalCorpusJob.envelopeFingerprint(batch)
    if (bCnt == 0L) return None
    val chain = chainDirs(spark, stateRoot)
    require(chain.nonEmpty,
      s"no state chain under $stateRoot — bootstrap the corpus " +
        "(IncrementalCorpusJob.bootstrap with stateOutDir " +
        s"$stateRoot/snap=0) before streaming deltas into it")
    val metas = IncrementalCorpusJob.readChainMeta(spark, chain)
    val nextGen = metas.map(_.gen).max + 1
    val landedMax = IncrementalCorpusJob.landedMax(metas)
    // file-source recovery rebuilds an uncommitted batch verbatim from
    // its offset log, so a replay equals the head's recorded envelope
    // AND fingerprint — even an all-dropped head's. A new batch reusing
    // that envelope with different content fails loudly; a bootstrap
    // or rebuilt head records the sentinel envelope [0,-1], which no
    // non-empty batch's envelope equals.
    val head = metas.maxBy(_.gen)
    if (bMin == head.batchMin && bMax == head.batchMax) {
      require(bCnt == head.batchCount && bHash == head.batchHash,
        s"batch matches generation ${head.gen}'s id envelope " +
          s"[$bMin,$bMax] but not its content fingerprint (count " +
          s"$bCnt vs ${head.batchCount}, hash $bHash vs " +
          s"${head.batchHash}) — a new batch may not reuse a landed " +
          "id range with different content")
      None
    } else {
      // overlap with landed ids and NOT the head replay: a producer
      // ordering violation (a new batch merely COVERING the head's kept
      // range must not be skipped — that loses its fresh docs)
      require(bMin > landedMax,
        s"batch id range [$bMin,$bMax] overlaps landed ids (max " +
          s"$landedMax) but is not a replay of generation ${head.gen} " +
          s"(recorded envelope [${head.batchMin},${head.batchMax}]) — " +
          "delta drops must arrive in doc-id order")
      Some(IncrementalCorpusJob.ingestDelta(spark, batch, nextGen,
        corpusDir, chain, s"$stateRoot/snap=$nextGen",
        knobs.minTokens, knobs.maxTokens, knobs.minQuality,
        knobs.dedupeThreshold, knobs.budgetTokens, knobs.seed,
        knobs.numShards, fingerprint = Some(fp)))
    }
  }

  /** Repair any crash window before draining: recover the chain head
    * (a committed-snapshot/uncommitted-rename kill rolls forward) and
    * its successor (staged leftovers of a failed ingest roll back);
    * with no chain at all but a landed `gen=0`, rebuild bootstrap's
    * snapshot (state is a pure function of the landed text). After
    * this, either the chain is consistent or there is genuinely no
    * bootstrap yet ([[ingestBatch]] then refuses per batch). */
  def prepare(spark: SparkSession, corpusDir: String,
      stateRoot: String): Unit = {
    val fs = new Path(stateRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val chain = chainDirs(spark, stateRoot)
    if (chain.isEmpty) {
      if (fs.exists(new Path(s"$corpusDir/gen=0")))
        IncrementalCorpusJob.recover(spark, corpusDir, 0,
          s"$stateRoot/snap=0")
    } else {
      val maxGen = IncrementalCorpusJob.readChainMeta(spark, chain)
        .map(_.gen).max
      // the head's own snap dir may be superseded by a compact=K — only
      // recover through it when it is live (recover would otherwise
      // "rebuild" a duplicate snapshot the discovery rule then ignores)
      if (fs.exists(new Path(s"$stateRoot/snap=$maxGen")))
        IncrementalCorpusJob.recover(spark, corpusDir, maxGen,
          s"$stateRoot/snap=$maxGen")
      IncrementalCorpusJob.recover(spark, corpusDir, maxGen + 1,
        s"$stateRoot/snap=${maxGen + 1}")
    }
  }

  /** The live chain under `stateRoot`, oldest-first: the newest
    * `compact=K` (if any) followed by every `snap=J` with `J > K`.
    * Superseded dirs (older compacts, covered snaps) are invisible by
    * rule, so a pre-vacuum kill never corrupts discovery. */
  def chainDirs(spark: SparkSession, stateRoot: String): Seq[String] = {
    val root = new Path(stateRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    val names = fs.listStatus(root).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
    def num(prefix: String): Seq[Int] = names.collect {
      case n if n.startsWith(prefix) &&
        n.stripPrefix(prefix).forall(_.isDigit) =>
        n.stripPrefix(prefix).toInt
    }
    val kMax = num("compact=").maxOption
    val live = kMax.map(k => s"$stateRoot/compact=$k").toSeq ++
      num("snap=").filter(j => kMax.forall(j > _)).sorted
        .map(j => s"$stateRoot/snap=$j")
    live
  }

  /** Merge the live chain into one `compact=K` snapshot (K = newest
    * covered generation) and vacuum what it supersedes. One atomic
    * rename is the commit; per-generation metadata survives the merge
    * ([[IncrementalCorpusJob.compactState]]), so replay detection and
    * fetch pruning lose nothing. Returns the committed dir. */
  def compactChain(spark: SparkSession, stateRoot: String): String = {
    val chain = chainDirs(spark, stateRoot)
    require(chain.size > 1,
      s"chain under $stateRoot has ${chain.size} live snapshot(s) — " +
        "nothing to compact")
    val k = IncrementalCorpusJob.readChainMeta(spark, chain)
      .map(_.gen).max
    val fs = new Path(stateRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(s"$stateRoot/compact.tmp")
    fs.delete(tmp, true)
    IncrementalCorpusJob.compactState(spark, chain, tmp.toString)
    val dst = new Path(s"$stateRoot/compact=$k")
    require(!fs.exists(dst), s"$dst already exists — refusing to commit")
    require(fs.rename(tmp, dst), s"rename $tmp -> $dst failed")
    // vacuum the superseded dirs — pure garbage after the commit above,
    // so a kill anywhere in this loop costs only disk, never the chain
    fs.listStatus(new Path(stateRoot)).toSeq.map(_.getPath)
      .filter { p =>
        val n = p.getName
        (n.startsWith("snap=") &&
          n.stripPrefix("snap=").forall(_.isDigit) &&
          n.stripPrefix("snap=").toInt <= k) ||
        (n.startsWith("compact=") &&
          n.stripPrefix("compact=").forall(_.isDigit) &&
          n.stripPrefix("compact=").toInt < k)
      }
      .foreach(fs.delete(_, true))
    dst.toString
  }
}
