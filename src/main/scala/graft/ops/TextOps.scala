package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.StableRound

/** Text-analysis operators for the LLM-data-pipeline tier (north star,
  * BASELINE.json): tokenization, per-doc stats, TF-IDF, quality scoring,
  * language-ID heuristic, and content fingerprinting. All are declarative
  * column expressions / group-aggregations — no UDFs, so everything stays
  * inside codegen except the higher-order functions (interpreted but
  * vectorized per-row).
  */
object TextOps {

  /** Whitespace tokens (the corpus is space-separated token text). */
  def tokens(text: Column): Column = split(text, " ")

  /** doc_id × token exploded view — the base for TF-IDF and inverted
    * indexes. One narrow shuffle-free projection. */
  def tokenize(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), explode(tokens(col(textCol))).as("token"))

  /** Fixed-size token chunks with overlap (RAG / context-window prep).
    * Chunk law: ids 0..⌈n/stride⌉−1; chunk i covers tokens
    * [i·stride, i·stride+window) clipped at n — every start < n so no
    * empty chunks, every token covered, tail chunk may be short. Plan:
    * scan → one Generate (explode over the chunk-id sequence) → per-row
    * slice/join — map-only, no shuffle, output rows bounded by
    * corpus-tokens/stride; trivially 100 TB-safe. */
  def chunkOverlap(docs: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame = {
    require(window >= stride && stride > 0,
      s"need window >= stride > 0, got window=$window stride=$stride")
    docs.select(col(idCol), tokens(col(textCol)).as("__ts"))
      // n = 0 must yield ZERO chunks: without the guard,
      // sequence(0, ceil(0/stride)-1) = sequence(0, -1) counts DOWN in
      // Spark and emits two garbage chunk ids. Unreachable through
      // tokens() (split never returns an empty array) but the op's
      // contract shouldn't depend on that.
      .filter(size(col("__ts")) > 0)
      .select(col(idCol), col("__ts"),
        explode(sequence(lit(0L),
          floor((size(col("__ts")).cast("long") + (stride - 1))
            / lit(stride)) - 1))
          .as("chunk_id"))
      .select(col(idCol), col("chunk_id"),
        (col("chunk_id") * stride).as("chunk_start"),
        slice(col("__ts"),
          (col("chunk_id") * stride + 1).cast("int"), lit(window))
          .as("__c"))
      .select(col(idCol), col("chunk_id"), col("chunk_start"),
        size(col("__c")).cast("long").as("n_chunk_tokens"),
        array_join(col("__c"), " ").as("chunk_text"))
  }

  /** Per-document stats: token count, distinct tokens, mean token length,
    * stopword ratio. Pure per-row expressions — fully parallel, no shuffle. */
  def textStats(docs: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String] = Seq("a", "the")): DataFrame = {
    val ts = tokens(col(textCol))
    val nTok = size(ts)
    val stopArr = array(stopwords.map(lit): _*)
    docs.select(
      col(idCol),
      nTok.cast("long").as("n_tokens"),
      size(array_distinct(ts)).cast("long").as("n_distinct"),
      // chars minus separators over token count
      StableRound.round6(
        (length(col(textCol)) - (nTok - 1)).cast("double") / nTok)
        .as("avg_token_len"),
      StableRound.round6(size(filter(ts, t => array_contains(stopArr, t)))
        .cast("double") / nTok).as("stop_ratio"))
  }

  /** Deterministic quality score in [0,1] as a column expression:
    * rewards length (saturating at 100 tokens), penalizes stopword
    * density, rewards lexical diversity. */
  def qualityExpr(text: Column,
      stopwords: Seq[String] = Seq("a", "the")): Column = {
    val ts = tokens(text)
    val nTok = size(ts).cast("double")
    val stopArr = array(stopwords.map(lit): _*)
    val stopRatio = size(filter(ts, t => array_contains(stopArr, t)))
      .cast("double") / nTok
    val distinctRatio = size(array_distinct(ts)).cast("double") / nTok
    StableRound.round6(least(nTok / 100.0, lit(1.0)) * 0.4 +
      (lit(1.0) - stopRatio) * 0.3 + distinctRatio * 0.3)
  }

  def qualityScore(docs: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String] = Seq("a", "the")): DataFrame =
    docs.select(col(idCol),
      qualityExpr(col(textCol), stopwords).as("quality"))

  /** TF-IDF: tf(d,t) × ln((N+1)/(df(t)+1)). Two group-aggregations (both
    * shuffle on token — small key space) + one broadcast of the scalar N. */
  def tfidf(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = tokenize(docs, idCol, textCol)
    val tf = tok.groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tok.distinct().groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(dfreq, "token")
      .crossJoin(broadcast(n))
      .select(col(idCol), col("token"),
        round(col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)), 6)
          .as("tfidf"))
  }

  /** Charset/stopword language-ID heuristic. NOTE: the synthetic corpus
    * shares one vocabulary across langs (verified empirically), so content
    * signals are degenerate there — the operator demonstrates the real
    * decision structure (charset range checks, then stopword markers). */
  def langId(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    docs.select(col(idCol),
      when(t.rlike("[\\u4e00-\\u9fff]"), "zh")
        .when(t.rlike("[\\u3040-\\u30ff]"), "ja")
        .when(t.rlike("[\\u0400-\\u04ff]"), "ru")
        .when(t.rlike("(^| )(the|of|and)( |$)"), "en")
        .when(t.rlike("(^| )(el|la|de|que)( |$)"), "es")
        .when(t.rlike("(^| )(der|die|das|und)( |$)"), "de")
        .when(t.rlike("(^| )(le|la|et|les)( |$)"), "fr")
        .otherwise("und").as("pred_lang"))
  }

  /** The composed CURATION pass — what the tier exists for: one operator
    * that runs the standard pre-training document filters in precedence
    * order and emits keep/reject with the FIRST failing rule as the
    * reason (the shape every corpus-curation report needs):
    *   1. `lang`      — language-ID heuristic says 'und'
    *   2. `too_short` / `too_long` — whitespace token count outside
    *      [minTokens, maxTokens]
    *   3. `quality`   — quality score below minQuality
    *   4. `duplicate` — not the min-id holder of its normalized-text
    *      group (exact dedupe, keep-first)
    * All rules are column expressions; the only shuffle is the dedupe
    * window, and it partitions on `(length(norm), fingerprint(norm))` —
    * 16-byte keys instead of document bodies, the same scale tradeoff
    * `dedupe_exact_norm` makes (a (length, hash) collision between
    * different texts is vanishingly rare, and the engine-neutral
    * fingerprint makes the grouping reproducible in any oracle
    * engine). */
  /** The STATELESS prefix of the curate rule chain (lang → length →
    * quality) — every rule a pure per-row expression, so it runs
    * unchanged on a streaming DataFrame. The duplicate rule is the one
    * stateful member (a corpus-wide window) and is layered on by
    * [[curate]]; streaming callers compose the incremental-dedupe key
    * table upstream instead. */
  def curateStatelessReason(textCol: String, minTokens: Int,
      maxTokens: Int, minQuality: Double): Column = {
    val ts = tokens(col(textCol))
    val nTok = size(ts).cast("double")
    val stopArr = array(Seq("a", "the").map(lit): _*)
    val quality = StableRound.round6(
      least(nTok / 100.0, lit(1.0)) * 0.4 +
        (lit(1.0) - size(filter(ts, t => array_contains(stopArr, t)))
          .cast("double") / nTok) * 0.3 +
        size(array_distinct(ts)).cast("double") / nTok * 0.3)
    // same decision chain as langId (inlined: curate emits one row per
    // doc, so the rule must be an expression, not a joined frame)
    val pred = when(col(textCol).rlike("[\\u4e00-\\u9fff]"), "zh")
      .when(col(textCol).rlike("[\\u3040-\\u30ff]"), "ja")
      .when(col(textCol).rlike("[\\u0400-\\u04ff]"), "ru")
      .when(col(textCol).rlike("(^| )(the|of|and)( |$)"), "en")
      .when(col(textCol).rlike("(^| )(el|la|de|que)( |$)"), "es")
      .when(col(textCol).rlike("(^| )(der|die|das|und)( |$)"), "de")
      .when(col(textCol).rlike("(^| )(le|la|et|les)( |$)"), "fr")
      .otherwise("und")
    when(pred === "und", "lang")
      .when(size(ts) < minTokens, "too_short")
      .when(size(ts) > maxTokens, "too_long")
      .when(quality < minQuality, "quality")
  }

  def curate(docs: DataFrame, idCol: String, textCol: String,
      minTokens: Int, maxTokens: Int, minQuality: Double): DataFrame = {
    val norm = lower(trim(regexp_replace(col(textCol), "\\s+", " ")))
    val reason = curateReason(idCol, textCol, minTokens, maxTokens,
      minQuality, length(norm), fingerprint(norm))
    docs.select(col(idCol), reason.as("reject_reason"),
      reason.isNull.as("keep"))
  }

  /** [[curate]]'s `reject_reason` as a column over the caller's own rows
    * (null = kept), for callers that carry their columns through the
    * filter instead of joining the verdict back. `dupKey` partitions the
    * keep-first duplicate window: any injective function of curate's
    * `(length(norm), fingerprint(norm))` pair groups the same rows —
    * `IncrementalDedupe.exactKey` is one. */
  def curateReason(idCol: String, textCol: String, minTokens: Int,
      maxTokens: Int, minQuality: Double, dupKey: Column*): Column = {
    import org.apache.spark.sql.expressions.Window
    val keeper = min(col(idCol)).over(Window.partitionBy(dupKey: _*))
    curateStatelessReason(textCol, minTokens, maxTokens, minQuality)
      .when(col(idCol) =!= keeper, "duplicate")
  }

  /** PII scrubbing patterns — the pre-training redaction pass. ASCII-only
    * character classes so Java regex (Spark) and RE2 (other engines) agree;
    * extend per deployment (SSNs, IPs, credit cards follow the same shape). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+?[0-9]{1,2}-[0-9]{3}-[0-9]{4}"

  /** Redact emails/phones and count redactions. regexp_replace is global
    * in Spark; pure per-row column expressions — map-only at any scale. */
  def scrubPii(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      regexp_replace(regexp_replace(col(textCol), EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>").as("scrubbed"),
      (regexp_count(col(textCol), lit(EmailRe)) +
        regexp_count(col(textCol), lit(PhoneRe))).as("n_pii"))

  /** Collapse runs of whitespace and trim — the normalization every
    * HTML-extraction step below shares. */
  private def collapseWs(c: Column): Column =
    regexp_replace(trim(c), "\\s+", " ")

  /** Decode the five basic HTML entities (&amp; LAST so escaped
    * ampersands don't double-decode). */
  private def unescapeEntities(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(c, "&lt;", "<"), "&gt;", ">"),
      "&quot;", "\""), "&#39;", "'"), "&amp;", "&")

  /** Escape text for embedding in HTML (&amp; FIRST) — the builder
    * twin of [[unescapeEntities]]; round-trips any input. */
  def escapeHtml(c: Column): Column =
    regexp_replace(regexp_replace(
      regexp_replace(c, "&", "&amp;"), "<", "&lt;"), ">", "&gt;")

  /** The <title> text of an HTML page (whitespace-collapsed; empty
    * string when absent). */
  def htmlTitle(html: Column): Column =
    collapseWs(regexp_extract(html, "(?is)<title[^>]*>(.*?)</title>", 1))

  /** MAIN-CONTENT extraction from HTML — the web-crawl front door
    * every CCNet/RefinedWeb-style corpus build runs before curation
    * (boilerplate/chrome removal; cites the jusText/boilerpipe
    * link-density family). Deterministic, zero dependencies, and pure
    * column expressions (one regex pipeline per row — map-only, no
    * shuffle, no UDF), so the stage composes into `text_curate` /
    * `pipeline_dedupe_cascade` at any scale:
    *
    *  1. drop comments, then <script>/<style>/<title> WITH contents;
    *  2. split into blocks at block-level tag boundaries (div, p, nav,
    *     footer, li, h1-6, ...);
    *  3. per block: strip inline tags, collapse whitespace, and
    *     compute LINK DENSITY = anchor-text chars / block chars;
    *     blocks that are more than half link text (2·linkLen >
    *     textLen — integer compare, no float) are boilerplate chrome
    *     (nav bars, related-links boxes, footers) and are dropped
    *     WHEREVER they sit in the page;
    *  4. join survivors, collapse whitespace, decode basic entities.
    */
  def htmlMainText(html: Column): Column = {
    val clean = regexp_replace(
      regexp_replace(html, "(?s)<!--.*?-->", " "),
      "(?is)<(script|style|title)[^>]*>.*?</\\1>", " ")
    val blocks = split(clean,
      "(?i)</?(?:html|head|body|div|p|nav|footer|header|section|" +
        "article|aside|ul|ol|li|h[1-6]|table|tr|td|br)[^>]*>")
    val scored = transform(blocks, b => {
      val nb = collapseWs(regexp_replace(b, "<[^>]+>", " "))
      val linkLen = aggregate(
        transform(
          regexp_extract_all(b, lit("(?is)<a[^>]*>(.*?)</a>"), lit(1)),
          a => length(collapseWs(a))),
        lit(0), (acc, x) => acc + x)
      struct(nb.as("t"), linkLen.as("l"))
    })
    val kept = filter(scored, s =>
      length(s.getField("t")) > 0 &&
        s.getField("l") * 2 <= length(s.getField("t")))
    unescapeEntities(collapseWs(
      array_join(transform(kept, s => s.getField("t")), " ")))
  }

  /** Unicode canonicalization — the pass a crawl corpus runs BEFORE any
    * hashing/dedupe stage, because decomposed accents (e + U+0301) and
    * zero-width characters make visually identical sentences hash apart
    * (reference scope: datapump.py normalizes only via pandas str ops;
    * this is the Unicode-correct superset a multi-source corpus needs).
    * Steps, in order:
    *
    *  1. NFC composition via the native codegen'd [[graft.functions.NfcNormalize]]
    *     (already-normalized text is detected in one scan and returned
    *     without copying — the hot path for clean corpora);
    *  2. strip zero-width characters (ZWSP/ZWNJ/ZWJ/BOM);
    *  3. NBSP → space (java \s does not match U+00A0);
    *  4. collapse whitespace runs and trim.
    *
    * Map-only column expressions; the DuckDB oracle replays steps 2-4
    * with the same regexes over `nfc_normalize()`. */
  def normalizeUnicode(text: Column): Column =
    collapseWs(regexp_replace(regexp_replace(
      graft.functions.NfcNormalize.nfcNormalize(text),
      "[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}]", ""),
      "\\x{00A0}", " "))

  /** URL canonicalization for URL-level dedupe — the C4/CCNet front-door
    * twin of [[normalizeUnicode]]: the same landing page arrives from a
    * crawl frontier as scheme/host case variants, default ports,
    * tracking params, fragments and trailing slashes. Rules (each a
    * deterministic column expression, shared verbatim with the DuckDB
    * oracle):
    *
    *  1. drop the fragment (`#...`);
    *  2. drop `utm_*` tracking params, KEEPING all other query params
    *     in their original order (split → filter → rejoin — no regex
    *     lookbehind, so the same logic runs on RE2-based engines);
    *  3. lowercase the `scheme://host[:port]` prefix (never the path);
    *  4. drop explicit default ports `:80`/`:443`;
    *  5. strip trailing slashes from the path.
    */
  def canonicalizeUrl(u: Column): Column = {
    val noFrag = substring_index(u, "#", 1)
    val base = substring_index(noFrag, "?", 1)
    // everything after the FIRST '?' (a second '?' belongs to a param
    // value) — substring_index(…, -1) would take after the LAST one
    val query = when(noFrag.contains("?"),
      noFrag.substr(length(base) + 2, length(noFrag))).otherwise(lit(""))
    val kept = filter(split(query, "&"),
      p => length(p) > 0 && !p.startsWith("utm_"))
    val q = array_join(kept, "&")
    val prefix = regexp_extract(base, "^[A-Za-z][A-Za-z0-9+.-]*://[^/]*", 0)
    val rest = base.substr(length(prefix) + 1, length(base))
    val host = regexp_replace(lower(prefix), ":(443|80)$", "")
    val path = regexp_replace(rest, "/+$", "")
    concat(host, path, when(length(q) > 0, concat(lit("?"), q))
      .otherwise(lit("")))
  }

  /** Rolling polynomial fingerprint over characters:
    * h = fold(h*31 + codepoint) mod 1e9+7. Deterministic and engine-neutral
    * (expressible identically in DuckDB for the oracle), unlike xxhash64. */
  def fingerprint(text: Column): Column =
    // filter guards against split("") emitting empty strings (engine-
    // dependent trailing-empty behavior); DuckDB's char split never does.
    aggregate(filter(split(text, ""), ch => length(ch) === 1), lit(0L),
      (acc, ch) => pmod(acc * 31 + ascii(ch), lit(1000000007L)))

  // ------------------------------------------------------------------
  // BM25 lexical retrieval (Okapi BM25, Lucene idf variant). Split into
  // FIT (corpus statistics) and APPLY (score docs against frozen stats)
  // so the batch entry and the streaming face share one scorer — the
  // nbTrainModel / dsirScores frozen-artifact discipline.
  // ------------------------------------------------------------------

  /** Corpus statistics for BM25 scoring, restricted to the query
    * vocabulary: a (token, df) relation sized |query tokens| (broadcasts)
    * plus a 1-row (n_docs, avgdl) frame. avgdl = sum(int)/count is exact
    * in both engines, so the frozen artifact is engine-neutral.
    *
    * Plan: one exploded scan of the corpus, semi-joined to the broadcast
    * query vocabulary BEFORE the df aggregation — the shuffle carries only
    * (doc, query-token) hits, never the full posting list. */
  def bm25Fit(corpus: DataFrame, idCol: String, textCol: String,
      queryTokens: DataFrame): (DataFrame, DataFrame) = {
    val tokq = tokenize(corpus, idCol, textCol)
      .join(broadcast(queryTokens.select(col("token")).distinct()), "token")
    val dfreq = tokq.select(col(idCol), col("token")).distinct()
      .groupBy("token").agg(count(lit(1)).as("df"))
    val stats = corpus
      .select(size(tokens(col(textCol))).cast("long").as("__dl"))
      .agg(count(lit(1)).as("n_docs"), avg(col("__dl")).as("avgdl"))
    (dfreq, stats)
  }

  /** The per-(query, doc, matched-term) tf relation — ONE exploded scan.
    * tf/dl are query-independent, so the aggregation runs at (doc,
    * token) granularity (the exploded scan is semi-join-filtered to the
    * query VOCABULARY first — matched hits only, never the posting
    * list) and query_id attaches by broadcast join AFTER the agg: a
    * token shared by q queries multiplies the compact aggregated
    * relation, not the raw explode (measured 3× less combine input on
    * the shared-vocabulary corpus). Mirrors the oracle's CTE shape
    * exactly. */
  private def bm25Tf(docs: DataFrame, idCol: String, textCol: String,
      queryTokens: DataFrame): DataFrame =
    docs.select(col(idCol),
        explode(tokens(col(textCol))).as("token"),
        size(tokens(col(textCol))).cast("long").as("__dl"))
      .join(broadcast(queryTokens.select(col("token")).distinct()),
        "token")
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"), max(col("__dl")).as("dl"))
      .join(broadcast(queryTokens.select(col("query_id"), col("token"))),
        "token")

  /** Score a tf relation against frozen (df, n_docs/avgdl) stats.
    *
    * score(q, d) = Σ_{t ∈ q} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    * with the Lucene idf ln(1 + (N−df+0.5)/(df+0.5)) (always ≥ 0). Each
    * per-term score is snapped to round6 micro-units (BIGINT) before the
    * per-doc sum, so the total — and therefore the top-k ORDER — is exact
    * integer arithmetic in both engines (the maxsim discipline; double
    * summation order never matters). */
  private def bm25Score(tf: DataFrame, idCol: String, dfreq: DataFrame,
      stats: DataFrame, k1: Double, b: Double): DataFrame = {
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val tfNorm = (col("tf") * (k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) +
        lit(b) * col("dl") / col("avgdl")))
    val term6 = floor(StableRound.round6(idf * tfNorm) * 1e6 + 0.5)
      .cast("long")
    tf.join(broadcast(dfreq), "token")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col(idCol), term6.as("__s6"))
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("__s6")).as("score6"),
        count(lit(1)).as("n_terms"))
      .withColumn("bm25",
        StableRound.round6(col("score6").cast("double") / 1e6))
  }

  /** Score documents against frozen BM25 stats for a (possibly
    * multi-query) token set `queryTokens(query_id, token)` — the
    * streaming/deployed face (stats from [[bm25Fit]] at index-build
    * time). Output: (query_id, id, score6, n_terms, bm25). */
  def bm25Apply(docs: DataFrame, idCol: String, textCol: String,
      queryTokens: DataFrame, dfreq: DataFrame, stats: DataFrame,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25Score(bm25Tf(docs, idCol, textCol, queryTokens), idCol,
      dfreq, stats, k1, b)

  /** Fit on `corpus` and score it in one call. THREE cheap map-pass
    * corpus scans (stats agg, df agg, tf explode), each ending in a
    * small aggregate — deliberately NOT a materialize-and-reuse shape:
    * localCheckpoint'ing the corpus-sized tf relation to share it
    * between the df derivation and scoring measured 26 s at sf1 where
    * the three scans cost ~11 s total. The checkpoint discipline is
    * for BOUNDED frames; a corpus-sized row-serialized materialize
    * costs more than recomputing two codegen'd scan-aggs. */
  def bm25(corpus: DataFrame, idCol: String, textCol: String,
      queryTokens: DataFrame, k1: Double = 1.2, b: Double = 0.75)
      : DataFrame = {
    val (dfreq, stats) = bm25Fit(corpus, idCol, textCol, queryTokens)
    bm25Apply(corpus, idCol, textCol, queryTokens, dfreq, stats, k1, b)
  }
}
