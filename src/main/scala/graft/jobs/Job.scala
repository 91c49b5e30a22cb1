package graft.jobs

import org.json4s._
import org.json4s.jackson.JsonMethods

/** A stats request within a job (`datapump.py:378-396`):
  * Kind ∈ {descriptive, mode, <pandas offset alias>}. */
case class StatSpec(
    kind: String,
    groupBy: Seq[String] = Nil,
    dropColumns: Seq[String] = Nil)

/** Anything the job queue can carry. The reference's queue knows one
  * document shape (the CSV→sink upsert job); graft keeps that shape as
  * the `Kind`-less default and adds the corpus lifecycle as further
  * kinds (`"CorpusBuild"`, `"CorpusDelta"`, `"CorpusStream"`) so
  * [[IncrementalCorpusJob]] and [[CorpusStreamJob]] are driven by the
  * same queue discipline that drives upserts. */
sealed trait QueueJob

/** The reference's job document (`datapump.py:22-53` inline JSON Schema).
  * `Truncate` and `Stats` default when absent — the reference KeyErrors on
  * legal jobs there (SURVEY §2.10 bug 2); we fix that deliberately. */
case class Job(
    inputFile: String,
    targetOrg: String,
    targetPackage: String,
    targetResource: String,
    primaryKey: Seq[String],
    dedupe: String, // "first" | "last"
    truncate: Boolean = false,
    stats: Seq[StatSpec] = Nil) extends QueueJob

/** Tuning knobs shared by both corpus job kinds; defaults mirror
  * [[CorpusBuildJob.run]]'s. */
case class CorpusKnobs(
    minTokens: Int = 20, maxTokens: Int = 90,
    minQuality: Double = 0.58, dedupeThreshold: Double = 0.5,
    budgetTokens: Int = 2048, seed: Long = 7L, numShards: Int = 8)

/** `{"Kind":"CorpusBuild"}`: bootstrap a corpus from a documents dir —
  * [[IncrementalCorpusJob.bootstrap]] into `corpusDir/gen=0` plus the
  * generation-0 state snapshot at `stateDir`. One-shot: the job file is
  * archived after it runs (unlike upsert jobs, which stay resident to
  * absorb future file arrivals). */
case class CorpusBuildSpec(
    inputDocs: String, corpusDir: String, stateDir: String,
    knobs: CorpusKnobs) extends QueueJob

/** `{"Kind":"CorpusDelta"}`: ingest one delta batch as generation
  * `generation` — [[IncrementalCorpusJob.ingestDelta]] against the
  * snapshot chain `stateDirs`, landing the new snapshot at
  * `stateOutDir`. One-shot, like [[CorpusBuildSpec]]. */
case class CorpusDeltaSpec(
    inputDocs: String, corpusDir: String, generation: Int,
    stateDirs: Seq[String], stateOutDir: String,
    knobs: CorpusKnobs) extends QueueJob

/** `{"Kind":"CorpusStream"}`: drain every delta file currently in the
  * landing dir into the corpus — [[CorpusStreamJob.run]]. RESIDENT
  * like the reference's upsert jobs (its queue item is a directory
  * producers keep appending to, not a one-shot input): the job file
  * stays in the queue and each sweep drains whatever arrived since the
  * last one — the stream checkpoint carries the high-water mark. */
case class CorpusStreamSpec(
    landingDir: String, corpusDir: String, stateRoot: String,
    checkpointDir: String, knobs: CorpusKnobs,
    maxFilesPerTrigger: Int = 1) extends QueueJob

object Job {

  /** Parse any queue document: dispatch on the optional `Kind` field —
    * absent (or `"Datapump"`) keeps the reference's upsert-job shape;
    * `"CorpusBuild"` / `"CorpusDelta"` parse the corpus lifecycle
    * kinds. An unknown Kind is an error, not a silent fallback. */
  def parseAny(json: String): Either[String, QueueJob] = {
    val jv =
      try JsonMethods.parse(json)
      catch { case e: Exception =>
        return Left(s"invalid JSON: ${e.getMessage}") }
    jv \ "Kind" match {
      case JNothing | JString("Datapump") => parseUpsert(jv)
      case JString("CorpusBuild") => parseCorpusBuild(jv)
      case JString("CorpusDelta") => parseCorpusDelta(jv)
      case JString("CorpusStream") => parseCorpusStream(jv)
      case JString(k) => Left(s"unknown job Kind: '$k'")
      case other => Left(s"Kind must be a string, got $other")
    }
  }

  private def reqStr(jv: JValue, field: String): Either[String, String] =
    jv \ field match {
      case JString(s) if s.nonEmpty => Right(s)
      case JNothing => Left(s"missing required field: $field")
      case other => Left(s"field $field must be a non-empty string, got $other")
    }

  private def optInt(jv: JValue, field: String, dflt: Int)
      : Either[String, Int] = jv \ field match {
    case JNothing => Right(dflt)
    case JInt(v) => Right(v.toInt)
    case other => Left(s"field $field must be an integer, got $other")
  }

  private def optDouble(jv: JValue, field: String, dflt: Double)
      : Either[String, Double] = jv \ field match {
    case JNothing => Right(dflt)
    case JDouble(v) => Right(v)
    case JInt(v) => Right(v.toDouble)
    case other => Left(s"field $field must be a number, got $other")
  }

  private def parseKnobs(jv: JValue): Either[String, CorpusKnobs] = {
    val d = CorpusKnobs()
    for {
      minT <- optInt(jv, "MinTokens", d.minTokens)
      maxT <- optInt(jv, "MaxTokens", d.maxTokens)
      minQ <- optDouble(jv, "MinQuality", d.minQuality)
      thr <- optDouble(jv, "DedupeThreshold", d.dedupeThreshold)
      budget <- optInt(jv, "BudgetTokens", d.budgetTokens)
      seed <- optInt(jv, "Seed", d.seed.toInt)
      shards <- optInt(jv, "NumShards", d.numShards)
    } yield CorpusKnobs(minT, maxT, minQ, thr, budget, seed.toLong, shards)
  }

  private def parseCorpusBuild(jv: JValue): Either[String, CorpusBuildSpec] =
    for {
      docs <- reqStr(jv, "InputDocs")
      corpus <- reqStr(jv, "CorpusDir")
      state <- reqStr(jv, "StateDir")
      knobs <- parseKnobs(jv)
    } yield CorpusBuildSpec(docs, corpus, state, knobs)

  private def parseCorpusDelta(jv: JValue): Either[String, CorpusDeltaSpec] =
    for {
      docs <- reqStr(jv, "InputDocs")
      corpus <- reqStr(jv, "CorpusDir")
      gen <- jv \ "Generation" match {
        case JInt(v) if v > 0 => Right(v.toInt)
        case JNothing => Left("missing required field: Generation")
        case other => Left(s"Generation must be a positive integer, got $other")
      }
      chain <- jv \ "StateDirs" match {
        case JArray(xs) if xs.nonEmpty =>
          val strs = xs.collect { case JString(s) if s.nonEmpty => s }
          if (strs.length == xs.length) Right(strs)
          else Left("StateDirs must be non-empty strings")
        case JNothing => Left("missing required field: StateDirs")
        case other => Left(s"StateDirs must be a non-empty array, got $other")
      }
      stateOut <- reqStr(jv, "StateOutDir")
      knobs <- parseKnobs(jv)
    } yield CorpusDeltaSpec(docs, corpus, gen, chain, stateOut, knobs)

  private def parseCorpusStream(jv: JValue)
      : Either[String, CorpusStreamSpec] =
    for {
      landing <- reqStr(jv, "LandingDir")
      corpus <- reqStr(jv, "CorpusDir")
      stateRoot <- reqStr(jv, "StateRoot")
      ckpt <- reqStr(jv, "CheckpointDir")
      knobs <- parseKnobs(jv)
      mft <- optInt(jv, "MaxFilesPerTrigger", 1)
    } yield CorpusStreamSpec(landing, corpus, stateRoot, ckpt, knobs, mft)

  /** Validate an upsert job document, mirroring the reference's
    * jsonschema checks (`datapump.py:402-417`): required fields, Dedupe
    * enum, Stats item shape. */
  private def parseUpsert(jv: JValue): Either[String, Job] =
    for {
      input <- reqStr(jv, "InputFile")
      org <- reqStr(jv, "TargetOrg")
      pkg <- reqStr(jv, "TargetPackage")
      res <- reqStr(jv, "TargetResource")
      pkRaw <- reqStr(jv, "PrimaryKey")
      dedupe <- reqStr(jv, "Dedupe").flatMap {
        case d @ ("first" | "last") => Right(d)
        case d => Left(s"Dedupe must be 'first' or 'last', got '$d'")
      }
      truncate <- jv \ "Truncate" match {
        case JBool(b) => Right(b)
        case JNothing => Right(false)
        case other => Left(s"Truncate must be boolean, got $other")
      }
      stats <- jv \ "Stats" match {
        case JNothing => Right(Nil)
        case JArray(items) => parseStats(items)
        case other => Left(s"Stats must be an array, got $other")
      }
    } yield Job(input, org, pkg, res,
      pkRaw.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
      dedupe, truncate, stats)

  private def parseStats(items: List[JValue]): Either[String, Seq[StatSpec]] = {
    val parsed = items.map { item =>
      item \ "Kind" match {
        case JString(k) if k.nonEmpty =>
          val gb = item \ "GroupBy" match {
            case JString(s) => s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
            case _ => Nil
          }
          val dc = item \ "DropColumns" match {
            case JString(s) => s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
            case _ => Nil
          }
          Right(StatSpec(k, gb, dc))
        case _ => Left("Stats item missing Kind")
      }
    }
    parsed.collectFirst { case Left(e) => Left(e) }
      .getOrElse(Right(parsed.collect { case Right(s) => s }))
  }
}
