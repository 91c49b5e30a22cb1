package graft.jobs

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev audit main for the corpus lifecycle's CHAIN dimension: the
  * per-delta O(candidates) claim ([[IncrementalCorpusJob]]) says cost is
  * independent of how MANY generations precede a delta — this driver
  * proves it by driving N generations with interleaved
  * [[CorpusStreamJob.compactChain]] and measuring each ingest's wall
  * time and the live-chain length. The posture risks it probes:
  * per-delta time creeping with generation count (a hidden chain scan),
  * chain discovery degrading without compaction, or [[IncrementalCorpusJob.recover]]
  * failing at depth. ChainPostureSpec asserts the invariants at small
  * scale per-suite; `graft.ChainPosture <sfDir> [nGens] [deltaSize]
  * [compactEvery]` runs the measured sf0.1 protocol whose numbers are
  * recorded in PLANS (round 15).
  */
object ChainPosture {

  case class GenTiming(gen: Int, ingestSec: Double, liveDirs: Int,
      compacted: Boolean)

  /** Synthetic delta docs: unique 30-word texts with a stopword planted
    * so curation keeps them (the CorpusStreamJobSpec generator). */
  def mkDocs(spark: SparkSession, ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.map { i =>
      val words = (0 until 30)
        .map(j => if (j % 10 == 5) "the" else s"w${i}_$j")
      (i, "en", words.mkString(" "))
    }.toDF("doc_id", "lang", "text")
  }

  /** Bootstrap from `sfDir`'s documents, then land `nGens` synthetic
    * deltas of `deltaSize` docs each, compacting the chain every
    * `compactEvery` generations. Returns per-generation timings. */
  def drive(spark: SparkSession, sfDir: String, nGens: Int,
      deltaSize: Int, compactEvery: Int): (Seq[GenTiming], String, String) = {
    val base = Files.createTempDirectory("graft_chainposture").toString
    val corpus = s"$base/corpus"
    val stateRoot = s"$base/state"
    val knobs = CorpusKnobs(minTokens = 1, maxTokens = 10000,
      minQuality = 0.0, numShards = 2)
    IncrementalCorpusJob.bootstrap(spark, sfDir, corpus,
      s"$stateRoot/snap=0", minTokens = knobs.minTokens,
      maxTokens = knobs.maxTokens, minQuality = knobs.minQuality,
      numShards = knobs.numShards)
    val base0 = spark.read.parquet(corpus)
      .agg(max("doc_id")).head.getLong(0) + 1
    val timings = (1 to nGens).map { g =>
      val ids = (base0 + (g - 1).toLong * deltaSize) until
        (base0 + g.toLong * deltaSize)
      val delta = mkDocs(spark, ids)
      val t0 = System.nanoTime()
      val r = CorpusStreamJob.ingestBatch(spark, delta, corpus,
        stateRoot, knobs)
      val dt = (System.nanoTime() - t0) / 1e9
      require(r.exists(_.generation == g), s"gen $g did not land: $r")
      val doCompact = g % compactEvery == 0
      if (doCompact) CorpusStreamJob.compactChain(spark, stateRoot)
      GenTiming(g, dt,
        CorpusStreamJob.chainDirs(spark, stateRoot).size, doCompact)
    }
    (timings, corpus, stateRoot)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nGens = args.lift(1).map(_.toInt).getOrElse(50)
    val deltaSize = args.lift(2).map(_.toInt).getOrElse(50)
    val compactEvery = args.lift(3).map(_.toInt).getOrElse(10)
    val spark = graft.LocalSession()
    val (timings, corpus, stateRoot) =
      drive(spark, sfDir, nGens, deltaSize, compactEvery)
    timings.foreach { t =>
      println(f"[chain] gen=${t.gen}%3d ingest=${t.ingestSec}%6.2fs " +
        f"liveDirs=${t.liveDirs}%2d${if (t.compacted) " compacted" else ""}")
    }
    val (first, last) = (timings.take(10).map(_.ingestSec),
      timings.takeRight(10).map(_.ingestSec))
    println(f"[chain] mean(first10)=${first.sum / first.size}%.2fs " +
      f"mean(last10)=${last.sum / last.size}%.2fs " +
      f"maxLiveDirs=${timings.map(_.liveDirs).max} " +
      s"corpus=$corpus stateRoot=$stateRoot")
    spark.stop()
  }
}
