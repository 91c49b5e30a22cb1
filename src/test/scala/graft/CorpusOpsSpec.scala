package graft

import org.apache.spark.sql.functions._
import graft.ops.{Clusters, CorpusOps}

class CorpusOpsSpec extends SparkSpec {
  import sqlImplicits._

  private def seqText(from: Int, n: Int): String =
    (from until from + n).map("w" + _).mkString(" ")

  test("dsirWeights: scores order pure-target > mixed > pure-raw, token " +
      "counts are exact, and selected agrees with the score sign") {
    // two disjoint vocabularies: the target subset writes only t-words,
    // the rest only r-words, plus one mixed doc outside the target. At
    // tiny corpus size the B=256 Laplace smoothing dominates absolute
    // magnitudes (and target ⊂ corpus forces cr ≥ ct per bucket), so the
    // scale-invariant property is the ORDERING of the likelihood-ratio
    // scores, not their sign. Disjoint vocab needs disjoint buckets —
    // checked explicitly (both engines hash identically regardless).
    val docs = Seq(
      (1L, "ta tb tc ta", true),
      (2L, "tb tc td tb ta", true),
      (3L, "ra rb rc rd ra rb", false),
      (4L, "rc rd ra rb", false),
      (5L, "ta tb ra", false) // target-leaning mixed doc, outside target
    ).toDF("doc_id", "text", "is_t")
    val buckets = docs.select(explode(split(col("text"), " ")).as("w"))
      .select(pmod(graft.ops.TextDedupe.tokenHash60(col("w")),
        lit(256L)).as("b"), col("w")).distinct()
      .collect().map(r => r.getString(1) -> r.getLong(0)).toMap
    assume(buckets.filter(_._1.startsWith("t")).values.toSet
      .intersect(buckets.filter(_._1.startsWith("r")).values.toSet)
      .isEmpty, "vocab bucket collision — pick different words")
    val got = CorpusOps.dsirWeights(docs, "doc_id", "text",
      isTarget = col("is_t"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(got.size == 5)
    assert(got(1L)._1 == 4 && got(2L)._1 == 5 && got(3L)._1 == 6)
    // likelihood-ratio ordering: pure target vocab > mixed > pure raw
    assert(got(1L)._2 > got(5L)._2 && got(2L)._2 > got(5L)._2)
    assert(got(5L)._2 > got(3L)._2 && got(5L)._2 > got(4L)._2)
    // selected == (log weight > 0); per-token rounding keeps the sign
    // whenever the score is not vanishingly small
    got.values.foreach { case (_, lwPerTok, sel) =>
      if (math.abs(lwPerTok) > 1e-5) assert(sel == (lwPerTok > 0))
    }
  }

  test("tokenBudgetWaterfill: closed-form cap and remainder, exact " +
      "budget, full allocation below the waterline") {
    // domain token counts 10/20/100/200 -> N=330, T=(2*330)//5=132;
    // i*=2 (10 and 20 fully affordable), cap=(132-30)//2=51, rem=0
    def words(n: Int): String = (1 to n).map("w" + _).mkString(" ")
    val docs = Seq(
      ("a", words(10)), ("b", words(20)),
      ("c", words(60)), ("c", words(40)),
      ("d", words(200))).toDF("source", "text")
    val got = CorpusOps.tokenBudgetWaterfill(docs, "text", "source")
      .as[(String, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("a") == ((10L, 10L, false)))
    assert(got("b") == ((20L, 20L, false)))
    assert(got("c") == ((100L, 51L, true)))
    assert(got("d") == ((200L, 51L, true)))
    assert(got.values.map(_._2).sum == 132L) // Σ alloc == T exactly
    // remainder case: counts 10/20/21 -> N=51, T=20; i*=0, cap=6, rem=2
    // -> smallest two capped domains get the extra token
    val docs2 = Seq(("a", words(10)), ("b", words(20)), ("c", words(21)))
      .toDF("source", "text")
    val got2 = CorpusOps.tokenBudgetWaterfill(docs2, "text", "source")
      .as[(String, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(got2 == Map("a" -> 7L, "b" -> 7L, "c" -> 6L))
  }

  test("decontaminate flags exactly the training docs sharing a 13-gram " +
      "with an eval doc") {
    val evalText = seqText(0, 20)                 // eval doc, ids % 5 == 0
    val docs = Seq(
      (5L, evalText),                             // eval — excluded from output
      (1L, seqText(0, 15)),                       // shares 13-grams with eval
      (2L, "prefix " + seqText(4, 14)),           // w4..w17 ⊃ w4..w16 shared
      (3L, seqText(100, 30)),                     // disjoint vocabulary
      (4L, seqText(0, 12)),                       // only 12 tokens: no 13-gram
      (6L, seqText(0, 13))                        // exactly one shared 13-gram
    ).toDF("doc_id", "text")
    val got = CorpusOps.decontaminate(docs, "doc_id", "text",
      isEval = pmod(col("doc_id"), lit(5)) === 0)
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(!got.contains(5L), "eval docs must not appear in the output")
    assert(got(1L)._2 && got(1L)._1 == 3)   // w0..w14 has 3 13-grams, all in eval
    assert(got(2L)._2)
    assert(got(3L) == ((0L, false)))
    assert(got(4L) == ((0L, false)))        // too short to be flagged
    assert(got(6L) == ((1L, true)))
  }

  test("gopherRepetition: clean docs pass, each repetition rule fires") {
    val clean = (0 until 30).map("word" + _).mkString(" ")
    val top2Heavy = Seq.fill(10)("spam ham").mkString(" ")   // one dominant 2-gram
    val dup5Heavy = (seqText(0, 10) + " ") * 3 + seqText(100, 2)  // repeated 10-token run
    val shortWords = (0 until 30).map(_ => "a b").mkString(" ")   // mean len 1
    val symbols = (0 until 30).map(_ => "$$$ ###").mkString(" ")  // no alpha
    val docs = Seq(
      (1L, clean), (2L, top2Heavy), (3L, dup5Heavy.trim),
      (4L, shortWords), (5L, symbols)).toDF("doc_id", "text")
    val got = CorpusOps.gopherRepetition(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(4), r.getDouble(5), r.getBoolean(6)))).toMap
    assert(got(1L)._3, "clean doc must keep")
    assert(!got(2L)._3 && got(2L)._1 > 0.20, "top-2-gram rule fires")
    assert(!got(3L)._3 && got(3L)._2 > 0.15, "dup-5-gram rule fires")
    assert(!got(4L)._3, "mean word length rule fires")
    assert(!got(5L)._3, "alpha-word rule fires")
  }

  test("gopherRepetition handles docs too short for grams") {
    val docs = Seq((1L, "hello")).toDF("doc_id", "text")
    val r = CorpusOps.gopherRepetition(docs, "doc_id", "text").head
    assert(r.getDouble(4) == 0.0 && r.getDouble(5) == 0.0)
  }

  test("mixtureSample: high-resource domains down-sampled hardest, " +
      "low-resource kept whole, deterministic membership") {
    val docs = ((1 to 800).map(i => (i.toLong, "big")) ++
      (1001 to 1004).map(i => (i.toLong, "tiny"))).toDF("doc_id", "lang")
    val got = CorpusOps.mixtureSample(docs, "doc_id", "lang",
      targetFrac = 0.4)
    val rates = got.groupBy("lang").agg(max("sample_rate")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // tiny domain: budget share alone exceeds its size -> rate 1.0
    assert(rates("tiny") == 1.0)
    assert(rates("big") < 0.45 && rates("big") > 0.2)
    // every tiny doc survives; the big domain is actually thinned
    val sampledByLang = got.filter(col("sampled")).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sampledByLang("tiny") == 4)
    assert(sampledByLang("big") < 800)
    // deterministic: a second run yields the identical row set
    val again = CorpusOps.mixtureSample(docs, "doc_id", "lang",
      targetFrac = 0.4)
    assert(got.exceptAll(again).isEmpty && again.exceptAll(got).isEmpty)
  }

  test("nbClassify: disjoint-vocabulary classes separate; unseen words " +
      "and token-less docs fall back to smoothing/prior; ties break by " +
      "class name") {
    // train: ids 1,2 (class ax: vocabulary a,b) and 3,4 (class by: c,d);
    // test ids 30,60,90 — pure-a doc, pure-c doc, and an empty doc
    val docs = Seq(
      (1L, "a a b", "ax"), (2L, "a b b", "ax"),
      (3L, "c d d", "by"), (4L, "c c d", "by"),
      (30L, "a a a b", "by"),   // text says ax; label disagrees on purpose
      (60L, "c d c", "by"),
      (90L, "", "ax")           // no tokens: prior-only
    ).toDF("doc_id", "text", "lang")
    val got = CorpusOps.nbClassify(docs, "doc_id", "text", "lang",
      isTrain = col("doc_id") < 10L)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(got.size == 7, "every doc is scored, train and test alike")
    assert(got(30L)._1 == "ax" && !got(30L)._3,
      "a-vocabulary doc classifies ax regardless of its planted label")
    assert(got(60L)._1 == "by" && got(60L)._3)
    // empty doc: equal priors (2 train docs each) -> tie -> class ASC
    assert(got(90L)._1 == "ax" && got(90L)._3)
    // train docs classify themselves (disjoint vocabularies)
    assert(got(1L)._1 == "ax" && got(3L)._1 == "by")
    // hand-check doc 60 ("c d c"): V=4, n_by=6, c(c,by)=c(d,by)=3 so
    // every token scores round6(ln((3+1)/(6+4))); score_by =
    // round6(ln(1/2)) + 3·round6(ln(0.4))
    val exp60 = BigDecimal(math.rint(math.log(0.5) * 1e6) / 1e6) +
      BigDecimal(math.rint(math.log(0.4) * 1e6) / 1e6) * 3
    assert(math.abs(got(60L)._2 - exp60.toDouble) < 1e-9,
      s"got ${got(60L)._2}, expected $exp60")
    // string-key path bit-equals the hashed default
    val str = CorpusOps.nbClassify(docs, "doc_id", "text", "lang",
      isTrain = col("doc_id") < 10L, hashKeys = false)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(str == got)

    // maxVocab (the fastText-filter broadcast bound): top-2 terms by
    // total count with w-ASC tie-break keep exactly {a, b} (all four
    // terms count 3), so wstats is 2 rows — bounded by construction —
    // and a dropped-vocab doc ("c d c") scores via lw_unseen for BOTH
    // classes: equal token sums + equal priors → tie → class ASC
    val capped = CorpusOps.nbTrainModel(docs, "doc_id", "text", "lang",
      isTrain = col("doc_id") < 10L, hashKeys = false,
      maxVocab = Some(2))
    assert(capped.wstats.count() == 2)
    assert(capped.wstats.select("w").as[String].collect().toSet ==
      Set("a", "b"))
    val cGot = CorpusOps.nbApply(capped, docs, "doc_id", "text", "lang",
      hashKeys = false)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getDouble(2)))).toMap
    assert(cGot(60L)._1 == "ax", "all-unseen doc ties -> class ASC")
    // V collapses to 2 under the cap: score = ln(1/2) + 3*ln(1/(6+2))
    val expCap = BigDecimal(math.rint(math.log(0.5) * 1e6) / 1e6) +
      BigDecimal(math.rint(math.log(1.0 / 8) * 1e6) / 1e6) * 3
    assert(math.abs(cGot(60L)._2 - expCap.toDouble) < 1e-9,
      s"got ${cGot(60L)._2}, expected $expCap")
  }

  test("mixtureSample sampled fraction tracks the computed rate") {
    val docs = (1 to 2000).map(i => (i.toLong, "only")).toDF("doc_id", "lang")
    val got = CorpusOps.mixtureSample(docs, "doc_id", "lang",
      targetFrac = 0.5)
    val rate = got.agg(max("sample_rate")).head.getDouble(0)
    val frac = got.filter(col("sampled")).count().toDouble / 2000
    // single domain: rate = targetFrac exactly; fingerprint-uniformity
    // keeps the realized fraction within a 5-sigma binomial band
    assert(rate == 0.5)
    assert(math.abs(frac - rate) < 5 * math.sqrt(0.25 / 2000))
  }

  test("pipeline_epoch_plan: epochs capped at 4, anti-monotone in domain " +
      "size, total allocation within the half-corpus budget") {
    val d = sfDir("0.001")
    val rows = SparkEntry.queries("pipeline_epoch_plan")(spark, d)
      .as[(String, Long, Long, Double, Long)].collect().toSeq
    assert(rows.nonEmpty && rows.map(_._1) == rows.map(_._1).sorted)
    val total = rows.map(_._3).sum
    rows.foreach { case (lang, nDocs, nTok, epochs, alloc) =>
      assert(nDocs > 0 && nTok > 0, lang)
      assert(epochs > 0.0 && epochs <= 4.0, s"$lang epochs=$epochs")
      // alloc = floor(epochs·tokens) on the snapped epochs
      assert(alloc <= epochs * nTok + 1e-6 && alloc > epochs * nTok - 1,
        s"$lang alloc=$alloc")
    }
    // α=0.5 tilt: epochs strictly decrease as domain size grows
    // (epochs ∝ 1/√tokens until the cap)
    val bySize = rows.sortBy(_._3)
    bySize.zip(bySize.tail).foreach { case (a, b) =>
      assert(a._4 >= b._4, s"${a._1} vs ${b._1}")
    }
    assert(rows.map(_._5).sum <= total / 2,
      s"allocated ${rows.map(_._5).sum} of budget ${total / 2}")
  }

  test("pipeline_split_leakage agrees with a driver-side recomposition " +
      "of the near-dup pairs against the split law") {
    import graft.ops.TextDedupe
    val d = sfDir("0.01") // sf with a non-empty crossing-pair set
    val docs = Tables.documents(spark, d)
    val split = docs
      .withColumn("h", CorpusOps.samplingHash(col("doc_id")))
      .select(col("doc_id"), (expr("h div 10000") < 80).as("isTrain"))
      .as[(Long, Boolean)].collect().toMap
    val pairs = TextDedupe.minhashLshPairs(docs, "doc_id", "text", 0.5)
      .as[(Long, Long, Double)].collect()
    val expected = pairs.flatMap { case (a, b, j) =>
      if (split(a) != split(b)) Some((if (split(a)) b else a, j)) else None
    }.groupBy(_._1)
      .map { case (k, v) => k -> ((v.length.toLong, v.map(_._2).max)) }
    val got = SparkEntry.queries("pipeline_split_leakage")(spark, d)
      .as[(Long, String, Long, Double, Boolean)].collect()
    assert(got.nonEmpty && got.forall(_._2 != "train"))
    assert(got.exists(_._5), "no leaked doc at sf0.01 — fixture drift?")
    got.foreach { case (id, _, nDups, maxJ, leaked) =>
      expected.get(id) match {
        case Some((en, ej)) =>
          assert(nDups == en && maxJ == ej && leaked, s"doc $id")
        case None =>
          assert(nDups == 0L && maxJ == 0.0 && !leaked, s"doc $id")
      }
    }
    assert(got.count(_._5) == expected.size)
  }
}

class DedupeIncrementalSpec extends SparkSpec {
  import sqlImplicits._
  import org.apache.spark.sql.functions._

  test("incoming docs match existing corpus by normalized-text key") {
    val docs = Seq(
      (1L, "The quick  brown fox"),      // existing
      (2L, "completely novel text"),     // existing
      (3L, "the quick brown fox"),       // incoming: normalized dup of 1
      (6L, "brand new content here"),    // incoming: new
      (9L, "COMPLETELY NOVEL TEXT")      // incoming: case-dup of 2
    ).toDF("doc_id", "text")
    val norm = lower(trim(regexp_replace(col("text"), "\\s+", " ")))
    val existing = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      .select(length(norm).as("n_len"),
        graft.ops.TextOps.fingerprint(norm).as("n_fp")).distinct()
    val got = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      .select(col("doc_id"), length(norm).as("n_len"),
        graft.ops.TextOps.fingerprint(norm).as("n_fp"))
      .join(existing.withColumn("hit", lit(1)), Seq("n_len", "n_fp"), "left")
      .select(col("doc_id"), col("hit").isNull.as("is_new"))
      .as[(Long, Boolean)].collect().toMap
    assert(got == Map(3L -> false, 6L -> true, 9L -> false))
  }
}

class SubstringLmSpec extends SparkSpec {
  import sqlImplicits._

  private def seqText(from: Int, n: Int): String =
    (from until from + n).map("w" + _).mkString(" ")

  test("substringDedupe: keep-first span ownership, short docs unflagged") {
    val docs = Seq(
      (1L, seqText(0, 20)),            // owns its 8 13-grams (lowest id)
      (2L, seqText(0, 13)),            // its only 13-gram owned by doc 1
      (3L, "x " + seqText(0, 13)),     // 2 grams: one fresh, one from doc 1
      (4L, seqText(100, 13)),          // unique vocabulary: fresh span
      (5L, seqText(0, 12))             // 12 tokens: no spans at all
    ).toDF("doc_id", "text")
    val got = CorpusOps.substringDedupe(docs, "doc_id", "text")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((8L, 0L, false)))  // owner: nothing duplicated
    assert(got(2L) == ((1L, 1L, true)))
    assert(got(3L) == ((2L, 1L, true)))
    assert(got(4L) == ((1L, 0L, false)))
    assert(got(5L) == ((0L, 0L, false)))
  }

  test("lmScore: repeated phrasing scores lower nll than unique tokens; " +
      "short docs carry null") {
    // docs 1-3 repeat one phrase; doc 4 is one-off vocabulary; doc 5 has
    // a single token (no bigram)
    val phrase = "the cat sat on the mat"
    val docs = Seq(
      (1L, phrase), (2L, phrase), (3L, phrase),
      (4L, "zq qx jk vw pn rt"),
      (5L, "solo")
    ).toDF("doc_id", "text")
    val got = CorpusOps.lmScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))))
      .toMap
    assert(got(1L)._1 == 5 && got(1L) == got(2L))
    assert(got(5L) == ((0L, None)))
    // common bigrams (count 3) beat never-repeated ones (count 1)
    assert(got(1L)._2.get < got(4L)._2.get)
  }

  test("packSequences: concat-then-chunk layout — offsets, bin " +
      "boundaries, over-budget docs, independent groups") {
    val docs = Seq(
      (1L, "en", seqText(0, 4)),   // bin 0 @ offset 0
      (2L, "en", seqText(0, 5)),   // bin 0 @ offset 4
      (3L, "en", seqText(0, 3)),   // offset 9 -> still bin 0 (first token rule)
      (4L, "en", seqText(0, 12)),  // longer than the budget: bin 1, spans 2
      (10L, "fr", seqText(0, 7))   // other group restarts at offset 0
    ).toDF("doc_id", "lang", "text")
    val got = CorpusOps.packSequences(docs, "doc_id", "lang", "text",
      budgetTokens = 10)
      .as[(Long, String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._3, r._4, r._5))).toMap
    assert(got(1L) == ((4L, 0L, 0L)))
    assert(got(2L) == ((5L, 4L, 0L)))
    assert(got(3L) == ((3L, 9L, 0L)))
    assert(got(4L) == ((12L, 12L, 1L)))
    assert(got(10L) == ((7L, 0L, 0L)))
  }

  test("hashed gram keys (default) produce byte-identical results to the " +
      "exact string path on real corpus text") {
    // the scale path shuffles xxhash64(gram) longs instead of gram
    // strings; every downstream use is count/min/membership, so the
    // results must be IDENTICAL up to 64-bit collisions — pinned here on
    // the sf0.001 documents table (500 real docs), not toy fixtures
    val docs = Tables.documents(spark, sfDir("0.001"))
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().toSeq
    assert(
      sorted(CorpusOps.substringDedupe(docs, "doc_id", "text")) ==
      sorted(CorpusOps.substringDedupe(docs, "doc_id", "text",
        hashKeys = false)))
    assert(
      sorted(CorpusOps.lmScore(docs, "doc_id", "text")) ==
      sorted(CorpusOps.lmScore(docs, "doc_id", "text", hashKeys = false)))
    assert(
      sorted(CorpusOps.gopherRepetition(docs, "doc_id", "text")) ==
      sorted(CorpusOps.gopherRepetition(docs, "doc_id", "text",
        hashKeys = false)))
    val isEval = pmod(col("doc_id"), lit(5)) === 0
    assert(
      sorted(CorpusOps.decontaminate(docs, "doc_id", "text", isEval)) ==
      sorted(CorpusOps.decontaminate(docs, "doc_id", "text", isEval,
        hashKeys = false)))
  }
}

class ClustersSpec extends SparkSpec {
  import sqlImplicits._

  private def cc(vs: Seq[Long], es: Seq[(Long, Long)], maxIter: Int = 20) =
    Clusters.connectedComponents(
      vs.toDF("id"), es.toDF("src", "dst"), maxIter)
      .as[(Long, Long)].collect().toMap

  test("transitive chains collapse to one min-labelled component") {
    // chain 1-2, 2-3, 3-4 plus pair 10-11 plus isolated 20
    val got = cc(Seq(1, 2, 3, 4, 10, 11, 20),
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("label flows against edge direction too (undirected semantics)") {
    // min id sits at the dst end of every edge
    val got = cc(Seq(1, 2, 3), Seq((3L, 2L), (2L, 1L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("long path needs diameter rounds and still converges") {
    val n = 12
    val got = cc((1L to n).toSeq, (1L until n).map(i => (i, i + 1)))
    assert(got.values.toSet == Set(1L))
  }

  test("maxIter caps the rounds (partial labels, no hang)") {
    val n = 12
    val got = cc((1L to n).toSeq, (1L until n).map(i => (i, i + 1)),
      maxIter = 2)
    // after 2 rounds labels have propagated at most ~2 hops; the far end
    // cannot yet be 1, but every label is a valid component member
    assert(got(12L) != 1L)
    assert(got.forall { case (v, l) => l <= v })
  }

  private def star(vs: Seq[Long], es: Seq[(Long, Long)],
      maxIter: Int = 40) =
    Clusters.connectedComponentsStar(
      vs.toDF("id"), es.toDF("src", "dst"), maxIter)
      .as[(Long, Long)].collect().toMap

  test("empty vertex frame returns empty labels (no NPE)") {
    assert(cc(Seq.empty, Seq.empty).isEmpty)
    assert(star(Seq.empty, Seq.empty).isEmpty)
  }

  test("no edges: one (id, id) row per distinct vertex, as the " +
      "propagation rounds return it") {
    def rows(vs: Seq[Long], es: Seq[(Long, Long)]) =
      Clusters.connectedComponents(vs.toDF("id"), es.toDF("src", "dst"))
        .as[(Long, Long)].collect().toSeq.sorted
    // a self-loop on an absent vertex propagates nothing but keeps the
    // edge relation non-empty, so the rounds run: the pre-shortcut path
    val roundsPath = Seq((99L, 99L))
    for (vs <- Seq(Seq(3L, 1L, 2L), Seq(5L, 5L, 1L, 5L, 1L), Seq.empty)) {
      val got = rows(vs, Nil)
      assert(got == vs.distinct.sorted.map(v => (v, v)), vs)
      assert(got == rows(vs, roundsPath), vs)
    }
  }

  test("star variant matches min-label on a mixed graph") {
    val vs = (1L to 15L) :+ 30L
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 5L), (6L, 5L),
      (10L, 11L), (11L, 10L), (12L, 12L), (14L, 13L), (15L, 13L))
    assert(star(vs, es) == cc(vs, es))
  }

  test("auto variant: near-clique graphs take the min-label fast path, " +
      "long chains fall back to star — labels correct either way") {
    // near-clique: pairs + triangles, diameter <= 2 -- converges inside
    // the probe; long chain: diameter 50 >> probeRounds -- must fall
    // back (probe alone would return split labels)
    val cliqueV = (1L to 9L).toSeq
    val cliqueE = Seq((1L, 2L), (2L, 3L), (1L, 3L), (5L, 6L), (8L, 9L))
    val got1 = Clusters.connectedComponentsAuto(
      cliqueV.toDF("id"), cliqueE.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(got1 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L,
      6L -> 5L, 7L -> 7L, 8L -> 8L, 9L -> 8L))
    val n = 50L
    val got2 = Clusters.connectedComponentsAuto(
      (1L to n).toDF("id"),
      (1L until n).map(i => (i, i + 1)).toDF("src", "dst"),
      probeRounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(got2.size == n && got2.values.toSet == Set(1L))
  }

  test("shuffleShard: injective permutation, deterministic, shard = key mod n") {
    import graft.ops.CorpusOps
    val docs = (0L until 2000L).toDF("doc_id")
    val a = CorpusOps.shuffleShard(docs, "doc_id", seed = 7L, numShards = 8)
      .as[(Long, Long, Int)].collect()
    // injective: 2000 ids -> 2000 distinct keys (true permutation)
    assert(a.map(_._2).distinct.length == 2000)
    assert(a.forall { case (_, k, s) => s == (k % 8).toInt && s >= 0 })
    // deterministic: same seed reproduces, different seed permutes
    val b = CorpusOps.shuffleShard(docs, "doc_id", 7L, 8)
      .as[(Long, Long, Int)].collect()
    assert(a.sortBy(_._1).sameElements(b.sortBy(_._1)))
    val c = CorpusOps.shuffleShard(docs, "doc_id", 8L, 8)
      .as[(Long, Long, Int)].collect()
    assert(!a.sortBy(_._1).sameElements(c.sortBy(_._1)))
    // the scramble actually shuffles: key order != id order
    assert(a.sortBy(_._2).map(_._1).take(20).toSeq
      != a.map(_._1).sorted.take(20).toSeq)
  }

  test("writeShuffled: every shard file is internally key-ordered") {
    import graft.ops.CorpusOps
    val out = java.nio.file.Files
      .createTempDirectory("graft_shuf").toString
    CorpusOps.writeShuffled((0L until 500L).toDF("doc_id"),
      "doc_id", seed = 3L, numShards = 4, out)
    // read each shard directory's files individually: rows inside each
    // file must already be ascending by shuffle_key as written
    val root = new java.io.File(out)
    val shardDirs = root.listFiles.filter(_.getName.startsWith("shard="))
    assert(shardDirs.length == 4)
    var total = 0L
    shardDirs.foreach { sd =>
      sd.listFiles.filter(_.getName.endsWith(".parquet")).foreach { f =>
        val keys = spark.read.parquet(f.getAbsolutePath)
          .select("shuffle_key").as[Long].collect()
        assert(keys.sameElements(keys.sorted), s"unsorted file in $sd")
        total += keys.length
      }
    }
    assert(total == 500L)
  }

  test("writeIdClustered: id-ordered files over disjoint id ranges, " +
      "shuffle_key preserved") {
    import graft.ops.CorpusOps
    val out = java.nio.file.Files
      .createTempDirectory("graft_clus").toString
    CorpusOps.writeIdClustered((0L until 500L).toDF("doc_id"),
      "doc_id", seed = 3L, numFiles = 4, out)
    val files = new java.io.File(out).listFiles
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length >= 2, "expected multiple range files")
    // every file internally ascending by doc_id, and file id-ranges
    // are pairwise disjoint (the row-group pruning property)
    val ranges = files.map { f =>
      val ids = spark.read.parquet(f.getAbsolutePath)
        .select("doc_id").as[Long].collect()
      assert(ids.sameElements(ids.sorted), s"unsorted file $f")
      (ids.min, ids.max, ids.length)
    }
    assert(ranges.map(_._3.toLong).sum == 500L)
    val sorted = ranges.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Array((_, hi, _), (lo, _, _)) => assert(hi < lo, "overlap")
      case _ =>
    }
    // the seeded permutation column rides along (loader re-ordering),
    // identical to what writeShuffled would have assigned
    val keys = spark.read.parquet(out)
      .select("doc_id", "shuffle_key").as[(Long, Long)].collect().toMap
    val expect = CorpusOps.shuffleShard((0L until 500L).toDF("doc_id"),
      "doc_id", 3L, 4).select("doc_id", "shuffle_key")
      .as[(Long, Long)].collect().toMap
    assert(keys == expect)
  }

  test("star variant: 1000-link chain converges in O(log n) rounds") {
    // the adversarial worst case for min-label (needs 1000 rounds =
    // O(diameter)); large-star/small-star must close it within 16 rounds
    // (~log2 n) — maxIter=16 means convergence failure ⇒ wrong labels
    // ⇒ assertion failure, so the round bound is enforced, not assumed
    val n = 1000L
    val t0 = System.nanoTime()
    val got = star((1L to n).toSeq, (1L until n).map(i => (i, i + 1)),
      maxIter = 16)
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"1000-link chain: $secs%.1f s at local[4]")
    assert(got.size == n)
    assert(got.values.toSet == Set(1L))
  }
}
