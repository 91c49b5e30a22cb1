package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental (delta-batch) deduplication against a LANDED corpus — the
  * operational shape a 100 TB training-data pipeline actually runs: the
  * corpus is built once, then every nightly batch must be deduped against
  * everything already landed WITHOUT re-pairing the corpus with itself.
  *
  * State is a persisted LSH BAND INDEX over the landed canonicals —
  * (id, band, band_sig), 16 longs per document regardless of document
  * size — plus the exact-content key table (id, k). Per-delta cost is
  * |delta|·bands band-join probes + one exact-Jaccard verification per
  * surviving candidate; the landed corpus's TEXT is touched only for the
  * candidate docs — the verify fetch is pluggable, and the job tier
  * plugs in a partition/row-group-pruned read over the id-clustered
  * generation layout so per-delta corpus I/O is O(candidates), not
  * O(corpus) (see `IncrementalCorpusJob.prunedTextFetch`). Base×base
  * pair work is never repeated. At cluster scale the state snapshots
  * would be bucketed by (band, band_sig) so the probe join co-locates
  * without shuffling the index.
  *
  * Verdict semantics (the batch-ordered refinement of the corpus-wide
  * keep-first rule): LANDED CANONICALS ALWAYS WIN — landed data is
  * immutable, so a delta doc near-duplicating any landed canonical is
  * dropped, and contamination is TRANSITIVE through the delta batch
  * (a delta component is dropped whole if ANY member hits the base:
  * in a full rebuild that component would merge into the base cluster
  * and lose keep-first to the base id). Uncontaminated components keep
  * their min id, exactly like the batch-local cluster dedupe.
  *
  * Known, documented divergence from a full rebuild (pinned in
  * IncrementalCorpusJobSpec): if a LATER batch contains a bridge doc
  * connecting two already-landed canonicals, a full rebuild would merge
  * their clusters and keep only one; incrementally both stay landed (the
  * bridge is dropped either way). This is inherent to any
  * immutable-output incremental dedupe, not an implementation artifact.
  *
  * Reference lifecycle analog: `datapump.py`'s repeated-run upsert queue
  * (Entry 2-3) — each run reconciles NEW records against the already-
  * landed resource rather than rebuilding it.
  */
object IncrementalDedupe {

  /** Injective exact-content key over whitespace-normalized lowercase
    * text: (length, fingerprint) combined collision-free because
    * fingerprint < 1e9+7 < the 1e9+9 multiplier (the
    * dedupe_incremental_bloom construction, shared so the job tier and
    * the registry tier cannot drift). */
  def exactKey(textCol: Column): Column = {
    val norm = lower(trim(regexp_replace(textCol, "\\s+", " ")))
    length(norm).cast("long") * lit(1000000009L) + TextOps.fingerprint(norm)
  }

  /** State-snapshot rows for a batch of newly landed canonicals:
    * (keys, packed bands) — the only thing a later delta needs from
    * this batch besides the landed text itself (fetched candidate-wise
    * at verify). Bands are PACKED at rest — one (id, band_sigs[16])
    * array row per doc, ~134 B/doc measured at sf1 and independent of
    * document size; parquet compresses the exploded form to similar
    * BYTES, so packing buys 16× fewer ROWS through the snapshot
    * write/scan, and [[explodeBands]] restores the probe relation with
    * one map-side explode at read time. */
  def stateRows(docs: DataFrame, idCol: String, textCol: String)
      : (DataFrame, DataFrame) = {
    val keys = docs.select(col(idCol), exactKey(col(textCol)).as("k"))
    val bands = docs
      .filter(size(split(col(textCol), " ")) >= 3)
      .select(col(idCol),
        TextDedupe.bandArray(col(textCol)).as("band_sigs"))
    (keys, bands)
  }

  /** Packed snapshot rows → the (id, band, band_sig) probe relation
    * [[neardupVerdicts]] consumes. */
  def explodeBands(packed: DataFrame, idCol: String): DataFrame =
    packed.select(col(idCol),
      posexplode(col("band_sigs")).as(Seq("band", "band_sig")))

  /** [[neardupVerdicts]] with the plain semi-join text fetch: correct
    * anywhere, but the scan still READS the whole `landedDocs` relation
    * (two columns of it) per delta — the row-group-pruned fetch the job
    * tier uses is [[graft.jobs.IncrementalCorpusJob.prunedTextFetch]],
    * which needs the id-clustered generation layout this overload
    * cannot assume. */
  def neardupVerdicts(delta: DataFrame, idCol: String, textCol: String,
      stateBands: DataFrame, landedDocs: DataFrame,
      threshold: Double): DataFrame =
    neardupVerdicts(delta, idCol, textCol, stateBands,
      (ids: DataFrame) => landedDocs.join(ids, Seq(idCol), "left_semi"),
      threshold)

  /** Per-delta-doc near-dup verdict against the landed band index.
    *
    * Returns one row per delta doc: (idCol, status) with status ∈
    * {'kept', 'dup_base', 'dup_delta'}.
    *
    * Shuffle accounting: the delta is banded ONCE — the repartition on
    * (band, band_sig) materializes a single exchange reused by all three
    * join sides of the ONE candidate relation: the within-delta
    * self-join and the probe into the state index, unioned and tagged
    * by side (`base`). That relation is checkpointed, so the
    * within-delta verify, the landed-text fetch and the base verify all
    * read it instead of re-running the banding and re-exploding the
    * landed index each. Candidates carry only ids; landed text joins in
    * candidate-wise (BEFORE shingling, so the shingle arrays of
    * non-candidates are never built). Component finding runs on
    * (long, long) pairs only.
    *
    * `fetchText` receives the distinct candidate-id relation (one
    * column, `idCol`) and must return (idCol, textCol) rows covering at
    * least those ids (extra rows are harmless — verification joins on
    * the candidate pair relation). The job tier passes a fetch that
    * partition- and row-group-prunes the landed corpus down to
    * O(candidates) I/O; the generic overload above passes a plain
    * semi-join.
    */
  def neardupVerdicts(delta: DataFrame, idCol: String, textCol: String,
      stateBands: DataFrame, fetchText: DataFrame => DataFrame,
      threshold: Double): DataFrame = {
    // one banded exchange, three consumers (self-join sides + state probe)
    val banded = TextDedupe.bandRows(delta, idCol, textCol)
      .repartition(col("band"), col("band_sig"))
    val a = banded.select(col(idCol).as("d1"), col("band"), col("band_sig"))
    val b = banded.select(col(idCol).as("d2"), col("band"), col("band_sig"))
    val landed = stateBands
      .select(col(idCol).as("d2"), col("band"), col("band_sig"))
    // LSH candidates, within the delta (d1 < d2) and against the landed
    // index (base), as one materialized relation
    val cand = a.join(b, Seq("band", "band_sig"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"), lit(false).as("base"))
      .union(a.join(landed, Seq("band", "band_sig"))
        .select(col("d1"), col("d2"), lit(true).as("base")))
      .distinct()
      .localCheckpoint()

    // within-delta exact near-dup pair relation (exact-Jaccard verified
    // — same relation minhashLshPairs computes)
    val deltaPairs = TextDedupe.verifyJaccard(
      cand.filter(!col("base")).select("d1", "d2"),
      delta, delta, idCol, textCol, threshold)

    // delta-vs-landed: fetch ONLY candidate canonicals' text before
    // shingling
    val baseCand = cand.filter(col("base")).select("d1", "d2")
    val candBase = fetchText(
      baseCand.select(col("d2").as(idCol)).distinct())
    val baseHits = TextDedupe.verifyJaccard(
        baseCand, delta, candBase, idCol, textCol, threshold)
      .select(col("d1").as("id")).distinct()
      .withColumn("__hit", lit(true))

    // transitive contamination through within-delta components
    val comps = Clusters.connectedComponents(
      delta.select(col(idCol).as("id")),
      deltaPairs.select(col("d1").as("src"), col("d2").as("dst")))
    val contaminated = comps.join(baseHits, "id")
      .select("label").distinct().withColumn("__cont", lit(true))
    comps.join(contaminated, Seq("label"), "left")
      .select(col("id").as(idCol),
        when(col("__cont").isNotNull, lit("dup_base"))
          .when(col("id") =!= col("label"), lit("dup_delta"))
          .otherwise(lit("kept")).as("status"))
  }
}
