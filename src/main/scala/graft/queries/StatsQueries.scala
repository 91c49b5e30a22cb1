package graft.queries

import graft.Tables
import graft.ops.Stats

/** The reference's stats surface (SURVEY §2.4): describe + tie-faithful
  * mode, as driver-checkable queries.
  */
object StatsQueries extends QueryPack {

  private val descCols =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  // events exercises all three column classes of describe(include='all'):
  // numeric (event_id, user_id, value), string (event_type), ts (ts)
  private val allCols = Seq("event_id", "user_id", "event_type", "value", "ts")

  def queries: Map[String, Q] = Map(
    "agg_describe" -> ((s, d) =>
      Stats.describe(Tables.lineitem(s, d), descCols)),

    // the reference's full describe(include='all') surface
    // (datapump.py:331-336): unique/top/freq rows + string & ts columns
    "agg_describe_all" -> ((s, d) =>
      Stats.describeAll(Tables.events(s, d), allCols)),

    "agg_mode" -> ((s, d) =>
      Stats.modeAll(Tables.events(s, d), Seq("event_type", "user_id"))),

    // correlation / covariance — describe-adjacent bivariate stats; one
    // distributed agg pass (partial moments + single merge), scale-free.
    "agg_corr" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      Tables.lineitem(s, d).agg(
        graft.StableRound.round6(corr("l_quantity", "l_extendedprice"))
          .as("corr_qty_price"),
        graft.StableRound.round6(corr("l_discount", "l_tax"))
          .as("corr_disc_tax"),
        round(covar_samp("l_quantity", "l_extendedprice"), 4)
          .as("covar_qty_price"))
    }),

    // per-group min-max feature scaling — the normalization primitive:
    // one agg pass to |groups| stat rows, joined back (Catalyst
    // broadcasts the stats side when it fits, shuffle-join on the group
    // key otherwise — both co-partition with the agg). Single-point
    // groups (max == min) scale to null, not 0/0.
    "agg_minmax_scale" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val li = Tables.lineitem(s, d)
      val stats = li.groupBy("l_partkey")
        .agg(min("l_extendedprice").as("mn"), max("l_extendedprice").as("mx"))
      li.select("l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice")
        .join(stats, "l_partkey")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          when(col("mx") > col("mn"), graft.StableRound.round6(
            (col("l_extendedprice") - col("mn")) / (col("mx") - col("mn"))))
            .as("scaled"))
    }),

    // fixed-width histogram — the describe-adjacent distribution sketch.
    // Literal bounds make bucketing a MAP-ONLY projection (no min/max
    // pre-pass); the shuffle moves ≤ #buckets rows after map-side
    // partial aggregation. The (x−lo)/w arithmetic is the same
    // straight-line IEEE double sequence in both engines.
    "agg_histogram" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      Tables.lineitem(s, d)
        .select(col("l_extendedprice"),
          floor((col("l_extendedprice") - 900.0) / 5000.0)
            .cast("long").as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min("l_extendedprice").as("lo"),
          max("l_extendedprice").as("hi"))
    }),

    // per-GROUP exact quantiles — the groupBy().quantile() everyday op,
    // via the grouped two-level counting relation (no buffering
    // percentile, no per-group serial domain sort; Stats.groupedQuantiles)
    "agg_quantiles_grouped" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val li = Tables.lineitem(s, d)
      // per-group bounds (|l_returnflag| rows, bounded) computed once
      // from the source and materialized, so the quantile core's
      // stats/targets paths stop re-deriving the counting relation
      // (r18: static corpus scans 5 → 3; same values — min/max/count
      // over the non-null doubles is what the core derived itself)
      val bounds = li
        .select(col("l_returnflag"),
          col("l_extendedprice").cast("double").as("v"))
        .filter(col("v").isNotNull)
        .groupBy("l_returnflag")
        .agg(min("v").as("mn"), max("v").as("mx"),
          count(lit(1)).as("n"))
        .localCheckpoint(false) // non-eager: |groups|-row frame, no
                                // separate pre-main barrier job
      Stats.groupedQuantiles(li, Seq("l_returnflag"),
          "l_extendedprice", Seq(0.5, 0.95), Some(bounds))
        .select(col("l_returnflag"),
          graft.StableRound.round6(col("p50")).as("p50"),
          graft.StableRound.round6(col("p95")).as("p95"))
    }),

    // Welch two-sample t report (A/B primitive) from exact cent power
    // sums — see Stats.welchTTest for the determinism construction
    "agg_ab_ttest" -> ((s, d) =>
      Stats.welchTTest(Tables.events(s, d), "event_type",
        "purchase", "view", "value")),

    // Mann–Whitney U (Wilcoxon rank-sum) purchase-vs-view — the
    // nonparametric sibling of agg_ab_ttest for when the A/B metric
    // is not normal-ish. Everything runs on the VALUE-LEVEL COUNTING
    // RELATION (one row per distinct cent, the exact-quantile recipe):
    // ranks never exist per event row, so no corpus-sized sort and no
    // float rank — the tied-rank sum is the exact integer identity
    // 2·R_A = Σ_v cntA(v)·(2·below(v) + cnt(v) + 1). The single
    // unpartitioned window runs over |distinct cents| rows only
    // (domain-bounded: value is a bounded metric, cents ≤ ~50k
    // distinct at any corpus size). z carries the full tie-corrected
    // variance; u2_a = 2·U_A stays integer (avg ranks are .5-grained).
    "agg_mann_whitney" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      import graft.StableRound
      val dec = DecimalType(38, 0)
      val vals = Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "view"))
        .withColumn("c", round(col("value") * 100).cast("long"))
        .groupBy("c").agg(
          count(lit(1)).as("cnt"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("cnt_a"))
      val a = graft.ops.Prefix.doubledMidrank(vals.localCheckpoint(), "c",
          "cnt")
        .agg(
          sum(col("cnt_a")).cast(dec).as("n_a"),
          sum(col("cnt")).cast(dec).as("n"),
          sum((col("cnt_a") * col("r2")).cast(dec)).as("r2a"),
          sum((col("cnt") * col("cnt") * col("cnt") - col("cnt"))
            .cast(dec)).as("ties"))
        .select(col("n_a"), (col("n") - col("n_a")).as("n_b"),
          col("n"), col("r2a"), col("ties"))
      a.select(
        col("n_a").cast("long").as("n_a"),
        col("n_b").cast("long").as("n_b"),
        (col("r2a") - col("n_a") * (col("n_a") + 1)).cast("long")
          .as("u2_a"),
        StableRound.round6(
          (col("r2a") - col("n_a") * (col("n_a") + 1)
            - col("n_a") * col("n_b")).cast("double")
          / (sqrt((col("n_a") * col("n_b")).cast("double")
              * ((col("n") + 1) * col("n") * (col("n") - 1) - col("ties"))
                .cast("double")
              / (col("n") * (col("n") - 1) * 12).cast("double"))
             * 2)).as("z"))
    }),

    // WILCOXON SIGNED-RANK (paired, normal approximation with tie
    // correction) — the paired twin of agg_mann_whitney: per user, total
    // purchase cents vs total view cents (users observed under BOTH
    // conditions; exact integer differences, zeros dropped per the
    // classic procedure). Same integer-rank discipline: mid-ranks of
    // |d| via bucketed prefix sums (no global window), 2·W+ stays an
    // exact integer, so only the final z division is floating point —
    // identical in any engine.
    "agg_wilcoxon_signed_rank" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.DecimalType
      import graft.StableRound
      val dec = DecimalType(38, 0)
      val diffs = Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "view"))
        .withColumn("c", round(col("value") * 100).cast("long"))
        .groupBy("user_id").agg(
          sum(when(col("event_type") === "purchase", col("c"))
            .otherwise(0L)).as("sp"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("np"),
          sum(when(col("event_type") === "view", col("c")).otherwise(0L))
            .as("sv"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("nv"))
        .filter(col("np") > 0 && col("nv") > 0
          && col("sp") =!= col("sv"))
        .select((col("sp") - col("sv")).as("dd"))
      val buckets = diffs
        .groupBy(abs(col("dd")).as("ad")).agg(
          count(lit(1)).as("cnt"),
          sum(when(col("dd") > 0, 1L).otherwise(0L)).as("cnt_pos"))
      val a = graft.ops.Prefix.doubledMidrank(buckets.localCheckpoint(),
          "ad", "cnt")
        .agg(
          sum(col("cnt")).cast(dec).as("n"),
          // cast BEFORE multiplying (the agg_bh_fdr discipline): a
          // ~2.1M-row tie bucket overflows cnt³ in long silently
          sum(col("cnt_pos").cast(dec) * col("r2").cast(dec)).as("w2"),
          sum(col("cnt").cast(dec) * col("cnt").cast(dec) *
            col("cnt").cast(dec) - col("cnt").cast(dec)).as("ties"))
      a.select(
        col("n").cast("long").as("n_pairs"),
        col("w2").cast("long").as("w2_plus"),
        StableRound.round6(
          (col("w2").cast("double")
            - (col("n") * (col("n") + 1)).cast("double") / 2.0)
          / sqrt((col("n") * (col("n") + 1) * (col("n") * 2 + 1))
              .cast("double") / 6.0
            - col("ties").cast("double") / 12.0)).as("z"))
    }),

    // BENJAMINI-HOCHBERG FDR over a FAMILY of hypotheses — the
    // multiple-testing control every segment-level dashboard needs
    // (25 per-nation tests at α=0.05 expect ~1 false positive; BH
    // bounds the false-discovery RATE instead). Hypotheses: per
    // nation, one-sample z of the nation's mean order total against
    // the global mean (all moments exact cent-integer DECIMAL sums).
    // Two-sided p via the Abramowitz-Stegun 7.1.26 normal-tail
    // polynomial written with IDENTICAL Horner arithmetic in both
    // engines (the repo's first p-VALUE convention — prior tests stop
    // at z to avoid the CDF; BH needs p, and a shared closed-form
    // polynomial makes it engine-exact under the round6 snap). The
    // m-row family is bounded (nations), so ranking rides
    // Prefix.thetaRank (n² broadcast pairs, no window) and the BH cut
    // k* = max{i: p(i) ≤ q·i/m} is one bounded aggregate; q = 0.1.
    "agg_bh_fdr" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.DecimalType
      import graft.StableRound
      val dec = DecimalType(38, 0)
      val base = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"),
          round(col("o_totalprice") * 100).cast("long").as("c"))
        .localCheckpoint() // per-nation + global aggs share one pass
      val per = base.groupBy("n_name").agg(
        count(lit(1)).as("ni"), sum(col("c").cast(dec)).as("si"))
      val glob = base.agg(count(lit(1)).as("n"),
        sum(col("c").cast(dec)).as("s"),
        sum(col("c").cast(dec) * col("c").cast(dec)).as("ss"))
      val meanI = col("si").cast("double") / col("ni").cast("double")
      val meanG = col("s").cast("double") / col("n").cast("double")
      // operator must end the line — a leading `-` starts a NEW
      // (discarded) statement under Scala semicolon inference
      val varG = col("ss").cast("double") / col("n").cast("double") -
        meanG * meanG
      val z = (meanI - meanG) / sqrt(varG / col("ni").cast("double"))
      val az = abs(col("z"))
      val t = lit(1.0) / (lit(1.0) + lit(0.2316419) * az)
      val poly = ((((lit(1.330274429) * t - 1.821255978) * t
        + 1.781477937) * t - 0.356563782) * t + 0.319381530) * t
      val p = lit(2.0) * exp(-az * az / 2.0) * 0.3989422804014327 * poly
      val scored = per.crossJoin(broadcast(glob))
        .withColumn("z", z)
        .select(col("n_name"), col("ni").as("n_orders"),
          StableRound.round6(col("z")).as("z6"),
          StableRound.round6(p).as("p6"))
      val m = scored.agg(count(lit(1)).as("m"))
      val ranked = graft.ops.Prefix.thetaRank(scored,
          Seq(("p6", false), ("n_name", false)), "rnk")
        .crossJoin(broadcast(m))
        .withColumn("rnk", col("rnk").cast("long"))
        .withColumn("thr6",
          StableRound.round6(lit(0.1) * col("rnk") / col("m")))
        .localCheckpoint() // k* aggregate + output both read it
      val kmax = ranked.agg(coalesce(
        max(when(col("p6") <= col("thr6"), col("rnk"))), lit(0L))
        .as("kmax"))
      ranked.crossJoin(broadcast(kmax))
        .select(col("n_name"), col("n_orders"), col("z6"), col("p6"),
          col("rnk"), col("thr6"), (col("rnk") <= col("kmax")).as("reject"))
    }),

    // Benford first-digit screen over order totals — the classic
    // fabricated-data / unit-mixup detector for financial-ish columns.
    // The leading digit is extracted from the EXACT CENT INTEGER's
    // decimal rendering (×100 shifts digits, never changes the leading
    // one): floor(log10(x)) on doubles is a cross-engine trap — libm
    // log10 is not correctly rounded, so log10(10^k) can land a hair
    // under k and flip the floor at exact powers of ten. int→string is
    // exact in both engines. One map-side-combined count per digit
    // (9 cells), shares and the Benford deviation assembled under the
    // round6 bridge (log10(1+1/d) is irrational — never at a rounding
    // boundary).
    "agg_benford" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import graft.StableRound
      val digits = Tables.orders(s, d)
        .withColumn("c",
          round(col("o_totalprice") * 100).cast("long"))
        .withColumn("digit",
          substring(col("c").cast("string"), 1, 1).cast("int"))
        .groupBy("digit").agg(count(lit(1)).as("n_d"))
      // total as a 1-row broadcast crossJoin over the CHECKPOINTED
      // 9-row digit relation: the checkpoint pins the corpus to ONE
      // scan (self-referenced aggregates recompute their subtree —
      // without it the total branch re-scans orders), and the
      // materialized frame is ≤9 rows at any corpus size. (The
      // previous form, `Window.partitionBy(lit(1))`, had its foldable
      // partition key constant-folded away and planned as the
      // single-task unpartitioned WindowExec this repo bans — the
      // registry's last one.)
      val digitsM = digits.localCheckpoint()
      digitsM
        .crossJoin(broadcast(digitsM.agg(sum(col("n_d")).as("n"))))
        .select(col("digit"), col("n_d"),
          StableRound.round6(col("n_d").cast("double")
            / col("n").cast("double")).as("share"),
          StableRound.round6(log10(lit(1.0)
            + lit(1.0) / col("digit").cast("double"))).as("benford"),
          StableRound.round6(col("n_d").cast("double")
            / col("n").cast("double")
            - log10(lit(1.0) + lit(1.0) / col("digit").cast("double")))
            .as("dev"))
    }),

    // lag-1 autocorrelation of the hourly event-count series per type —
    // the seasonality/burstiness screen a monitoring pipeline runs
    // before alert thresholds. The series is the ZERO-FILLED hour grid
    // (min..max hour of the corpus), so gaps count as quiet hours, not
    // skipped samples. All six sufficient statistics are exact integer
    // sums over |types|·|hours| rows (map-side combined; the corpus is
    // touched once for the per-hour counts); the only float math is
    // the final Pearson assembly, mirrored expression-for-expression
    // in the oracle under the round6 bridge.
    "agg_autocorr" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      import graft.StableRound
      val dec = DecimalType(38, 0)
      // ONE corpus scan: the per-(type,hour) count relation is tiny
      // (|types|·|hours|) and feeds three consumers (grid types, hour
      // bounds, the series join) — localCheckpoint it once instead of
      // re-scanning events per consumer (the shared-edge-set idiom from
      // the graph tier; a self-referenced aggregate subtree is
      // recomputed, not reused)
      val counts = Tables.events(s, d)
        .withColumn("h", date_trunc("hour", col("ts")))
        .groupBy("event_type", "h")
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val bounds = counts.agg(min(col("h")).as("h0"),
        max(col("h")).as("h1"))
      val grid = counts.select("event_type").distinct()
        .crossJoin(broadcast(bounds))
        .select(col("event_type"),
          explode(sequence(col("h0"), col("h1"),
            expr("interval 1 hour"))).as("h"))
      val series = grid.join(counts, Seq("event_type", "h"), "left")
        .na.fill(0L, Seq("cnt"))
      val w = Window.partitionBy("event_type").orderBy("h")
      val sums = series
        .withColumn("nxt", lead(col("cnt"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .groupBy("event_type").agg(
          count(lit(1)).cast(dec).as("m"),
          sum(col("cnt").cast(dec)).as("sx"),
          sum(col("nxt").cast(dec)).as("sy"),
          sum((col("cnt") * col("cnt")).cast(dec)).as("sxx"),
          sum((col("nxt") * col("nxt")).cast(dec)).as("syy"),
          sum((col("cnt") * col("nxt")).cast(dec)).as("sxy"))
      sums.select(col("event_type"), col("m").cast("long").as("m"),
        StableRound.round6(
          (col("m") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (sqrt((col("m") * col("sxx") - col("sx") * col("sx"))
               .cast("double"))
             * sqrt((col("m") * col("syy") - col("sy") * col("sy"))
               .cast("double")))).as("acf1"))
    }),

    // chi-square test of independence (event_type × day-of-week) +
    // Cramér's V — the categorical-association screen (is traffic mix
    // stable across weekdays?). One corpus scan to the contingency
    // relation (|types|·|dows| cells, map-side combined), then every
    // margin/grid step runs on that tiny localCheckpoint'd relation —
    // the shared-tiny-relation idiom from agg_autocorr. The cell term
    // (N·n − r·c)²/(N·r·c) keeps the DIFFERENCE exact (DECIMAL(38,0):
    // |N·n − r·c| ≤ N² ~ 1e24 even at 1e12 rows) and squares/divides in
    // double (deterministic IEEE, identical per-cell in both engines);
    // per-cell values snap to the round6 grid and sum as 1e6 fixed-point
    // longs — the cross-engine sum is over ≤ r·c integers, never floats.
    // dow is pinned to DuckDB's convention (0=Sunday) via dayofweek−1.
    "agg_chi2" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.DecimalType
      import graft.StableRound
      val dec = DecimalType(38, 0)
      val counts = Tables.events(s, d)
        .select(col("event_type"), (dayofweek(col("ts")) - 1).as("dow"))
        .groupBy("event_type", "dow").agg(count(lit(1)).as("n"))
        .localCheckpoint()
      val rm = counts.groupBy("event_type").agg(sum("n").as("r"))
      val cm = counts.groupBy("dow").agg(sum("n").as("cc"))
      val tot = counts.agg(sum("n").as("nn"),
        countDistinct("event_type").as("nr"),
        countDistinct("dow").as("nc"))
      val nnD = col("nn").cast(dec)
      val diff = (nnD * col("n") - col("r").cast(dec) * col("cc"))
        .cast("double")
      val den = (nnD * col("r") * col("cc")).cast("double")
      val t6 = floor(StableRound.round6(diff * diff / den) * 1e6 + 0.5)
        .cast("long")
      rm.crossJoin(cm)
        .join(counts, Seq("event_type", "dow"), "left")
        .na.fill(0L, Seq("n"))
        .crossJoin(broadcast(tot))
        .select(col("nn"), col("nr"), col("nc"), t6.as("t6"))
        .groupBy().agg(max("nn").as("n"), max("nr").as("nr"),
          max("nc").as("nc"), sum("t6").as("ssum6"))
        .select(col("n"),
          ((col("nr") - 1) * (col("nc") - 1)).cast("long").as("dof"),
          StableRound.round6(col("ssum6").cast("double") / 1e6)
            .as("chi2"),
          StableRound.round6(sqrt(col("ssum6").cast("double") / 1e6
            / (col("n") * least(col("nr") - 1, col("nc") - 1))
              .cast("double"))).as("cramers_v"))
    }),

    // Shannon diversity of the per-day event-type mix — the dataset-
    // composition health metric a corpus report tracks day over day
    // (a collapsing mix flags an ingestion break faster than volume
    // does). One scan to (day, type) counts; entropy assembles on the
    // tiny relation with the l6 fixed-point discipline: each −p·ln p
    // term snaps to the round6 grid and sums as 1e6 fixed-point longs,
    // so the only cross-engine sum is an integer sum. norm_entropy
    // (H / ln k) makes days with different type counts comparable.
    "agg_shannon_diversity" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import graft.StableRound
      val counts = Tables.events(s, d)
        .withColumn("day_start", date_trunc("day", col("ts")))
        .groupBy("day_start", "event_type")
        .agg(count(lit(1)).as("n"))
        .localCheckpoint()
      val tot = counts.groupBy(col("day_start").as("ds"))
        .agg(sum("n").as("nd"), count(lit(1)).as("k"))
      val p = col("n").cast("double") / col("nd").cast("double")
      val t6 = floor(StableRound.round6(-p * log(p)) * 1e6 + 0.5)
        .cast("long")
      counts.join(tot, counts("day_start") === tot("ds"))
        .select(col("day_start"), col("nd"), col("k"), t6.as("t6"))
        .groupBy("day_start")
        .agg(max("nd").as("n_day"), max("k").as("n_types"),
          sum("t6").as("h6"))
        .select(col("day_start"), col("n_day"), col("n_types"),
          StableRound.round6(col("h6").cast("double") / 1e6).as("entropy"),
          // k=1 day ⇒ H=0 and ln k=0: define norm as 0, never 0/0
          when(col("n_types") > 1, StableRound.round6(
            col("h6").cast("double") / 1e6
              / log(col("n_types").cast("double"))))
            .otherwise(lit(0.0)).as("norm_entropy"))
    }),

    // Theil–Sen robust trend of the daily event-count series per type —
    // the outlier-immune slope a monitoring pipeline prefers over OLS
    // (one bad ingestion day cannot move the median of pairwise
    // slopes). The pair set is quadratic in SERIES LENGTH (calendar
    // days), never in corpus size: the grid is zero-filled day buckets
    // (agg_autocorr's densification), so a month is ≤ C(31,2) = 465
    // pairs per type at ANY corpus scale. Slopes are per-row
    // deterministic doubles snapped to 1e6 fixed-point longs; the
    // median is DISCRETE (sorted-element selection, win_rolling_quantile's
    // recipe) — no interpolation float crosses engines.
    "agg_theil_sen" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import graft.StableRound
      val counts = Tables.events(s, d)
        .withColumn("day", date_trunc("day", col("ts")))
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val bounds = counts.agg(min(col("day")).as("d0"),
        max(col("day")).as("d1"))
      val grid = counts.select("event_type").distinct()
        .crossJoin(broadcast(bounds))
        .select(col("event_type"),
          explode(sequence(col("d0"), col("d1"),
            expr("interval 1 day"))).as("day"))
      val series = grid.join(counts, Seq("event_type", "day"), "left")
        .na.fill(0L, Seq("cnt"))
        .withColumn("t", datediff(col("day"), lit("2024-01-01")))
      val a = series.select(col("event_type"), col("t").as("t1"),
        col("cnt").as("c1"))
      val b = series.select(col("event_type"), col("t").as("t2"),
        col("cnt").as("c2"))
      val s6 = floor(StableRound.round6(
        (col("c2") - col("c1")).cast("double")
          / (col("t2") - col("t1")).cast("double")) * 1e6 + 0.5)
        .cast("long")
      val slopes = a.join(b, Seq("event_type"))
        .filter(col("t2") > col("t1"))
        .select(col("event_type"), s6.as("s6"))
      val arr = sort_array(collect_list(col("s6")))
      slopes.groupBy("event_type")
        .agg(count(lit(1)).as("n_pairs"), arr.as("sl"))
        .select(col("event_type"), col("n_pairs"),
          StableRound.round6(
            element_at(col("sl"), ceil(size(col("sl")) * 0.5).cast("int"))
              .cast("double") / 1e6).as("ts_slope"))
    }),

    // Mann–Kendall trend test over the SAME zero-filled daily series —
    // theil_sen's significance twin (the slope says HOW MUCH, MK says
    // WHETHER the monotone trend is distinguishable from noise, with
    // no distributional assumption). S = Σ_{i<j} sign(x_j − x_i) is an
    // exact integer over the day-bounded pair set (quadratic in SERIES
    // LENGTH, never corpus size — the theil_sen discipline);
    // 18·Var(S) = n(n−1)(2n+5) − Σ t(t−1)(2t+5) stays an exact integer
    // including the tie correction; the continuity-corrected z is one
    // straight-line double expression, and the verdict label compares
    // the SNAPPED z to ±1.96 so it is engine-stable by construction.
    "agg_mann_kendall" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import graft.StableRound
      val counts = Tables.events(s, d)
        .withColumn("day", date_trunc("day", col("ts")))
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val bounds = counts.agg(min(col("day")).as("d0"),
        max(col("day")).as("d1"))
      val grid = counts.select("event_type").distinct()
        .crossJoin(broadcast(bounds))
        .select(col("event_type"),
          explode(sequence(col("d0"), col("d1"),
            expr("interval 1 day"))).as("day"))
      val series = grid.join(counts, Seq("event_type", "day"), "left")
        .na.fill(0L, Seq("cnt"))
        .withColumn("t", datediff(col("day"), lit("2024-01-01")))
        .select("event_type", "t", "cnt")
        .localCheckpoint() // bounded days×types frame, read 3×
      graft.ops.Stats.mannKendall(series, "event_type", "t", "cnt")
    }),

    // third/fourth moments (population skewness + excess kurtosis) per
    // group — see Stats.skewKurtExact for why the built-in skewness()/
    // kurtosis() can never hash-match another engine and how exact
    // integer power sums fix it
    "agg_skew_kurt" -> ((s, d) =>
      Stats.skewKurtExact(Tables.lineitem(s, d), Seq("l_returnflag"),
        "l_extendedprice")),

    // per-group z-score outlier gate (|value − μ| > 3σ, population σ) —
    // the anomaly-flagging primitive, made hash-exact by clearing the
    // denominators: |v−μ|>kσ ⇔ (n·c − S₁)² > k²·(n·S₂ − S₁²) in integer
    // cents, so NO float mean/stddev ever exists to disagree at a
    // boundary row. One agg pass to |groups| stat rows joined back
    // (broadcast at any realistic group count); exact decimal — max
    // magnitude here ~1e24, far inside DECIMAL(38,0). ~1.8% of rows
    // fire at every SF (checked), so the gate is non-vacuous.
    "agg_outlier_zscore" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.DecimalType
      val dec = DecimalType(38, 0)
      val ev = Tables.events(s, d)
        .withColumn("c", round(col("value") * 100).cast(DecimalType(20, 0)))
      val st = ev.groupBy("event_type").agg(
        count(lit(1)).cast(DecimalType(20, 0)).as("n"),
        sum(col("c")).cast(dec).as("s1"),
        sum(col("c") * col("c")).cast(dec).as("s2"))
      val lhs = col("n").cast(dec) * col("c").cast(dec) - col("s1")
      val rhs = col("n").cast(dec) * col("s2") - col("s1") * col("s1")
      ev.join(st, "event_type")
        .filter(lhs * lhs > rhs * lit(9))
        .select(col("event_id"), col("event_type"), col("value"))
    }),

    // data-quality gate report — the pipeline pre-flight every landing
    // job needs: each rule a (rule, n_violations, pass) row. All five
    // scalar rules ride ONE scan of orders (map-side partial sums → a
    // 1-row frame, then a stack/melt — never a scan per rule); the
    // referential rule is the one genuine join (left-anti against
    // customer, broadcastable when the dim fits). At 100 TB the report
    // costs one pass over the fact table + one key-projected anti-join,
    // regardless of how many scalar rules are stacked. The weekend rule
    // exists to be non-vacuous on this corpus (it fires), so the report
    // carries both pass=true and pass=false rows.
    "dq_checks" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val o = Tables.orders(s, d)
      def v(pred: org.apache.spark.sql.Column) =
        sum(when(pred, 1L).otherwise(0L))
      val scalarViol = o.agg(
        v(col("o_orderkey").isNull).as("v_pk"),
        v(col("o_totalprice") <= 0).as("v_price"),
        v(!col("o_orderdate").between("1992-01-01", "2003-12-31"))
          .as("v_date"),
        v(!col("o_orderstatus").isin("F", "O", "P")).as("v_status"),
        v(expr("weekday(o_orderdate)") >= 5).as("v_weekend"))
      val refViol = o.join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("v_ref"))
      scalarViol.crossJoin(refViol).selectExpr(
        """stack(6,
          |  'o_orderkey_not_null',          v_pk,
          |  'o_totalprice_positive',        v_price,
          |  'o_orderdate_in_range',         v_date,
          |  'o_orderstatus_domain',         v_status,
          |  'no_weekend_orders',            v_weekend,
          |  'o_custkey_references_customer', v_ref
          |) AS (rule, n_violations)""".stripMargin)
        .withColumn("pass", col("n_violations") === 0L)
    }),

    // describe over a TIMESTAMP column — the reference's
    // datetime_is_numeric=True semantics (datapump.py:331-336): mean/
    // min/max are meaningful on the time axis. The mean uses EXACT
    // integer math (epoch-second sum + integer floor division) — a
    // double `avg` over epoch values accumulates summation-order error
    // of ~100 µs at 1e5 rows, which an exact-equality oracle cannot
    // tolerate.
    "agg_describe_ts" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      Tables.events(s, d).agg(
        count(col("ts")).as("n"),
        expr("timestamp_seconds(sum(unix_seconds(ts)) div count(ts))")
          .as("mean_ts"),
        min(col("ts")).as("min_ts"),
        max(col("ts")).as("max_ts"))
    }),

    // robust rolling anomaly gate: 25-row centered median/MAD per
    // event_type, flag |x−med| > 3·1.4826·MAD — the breakdown-proof
    // sibling of agg_outlier_zscore (see Stats.rollingMadOutliers for
    // the integer-exact gate)
    "ts_anomaly_mad" -> ((s, d) =>
      Stats.rollingMadOutliers(Tables.events(s, d), "event_type",
        "ts", "event_id", "value")),

    // exact Gini of per-customer spend via the two-level counting rank —
    // the global-sort-free concentration metric
    "agg_gini" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val spend = Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(sum(round(col("o_totalprice") * 100).cast("long"))
          .as("cents"))
      Stats.giniByCounting(spend, "cents")
    }),

    // POPULATION STABILITY INDEX per event_type between the first and
    // second half of the month — the feature-drift monitor a training
    // pipeline runs between data snapshots. 10 fixed value bins
    // (5000-cent width, top-clamped), Laplace add-1 smoothing so empty
    // bins stay defined. Cross-engine exactness via the text_entropy
    // recipe, fully integer: each ln term is round6'd then lifted to an
    // exact micro-scaled long (ln args are ≥ 1 so floor(x·1e6 + 0.5) is
    // lossless); the per-bin contribution is the integer product
    // w·t6 with w = (cp+1)(nq+B) − (cq+1)(np+B), so the Σ is an exact
    // long (|Σ| < 6e17 up to ~1e8 events/type; swap to DECIMAL beyond),
    // order-independent — the common denominator (np+B)(nq+B) divides
    // once at the end in an identical straight-line double chain on
    // both engines. Scale shape: one partial-agg pass over events into
    // |types|·|bins| cells; the dense grid and PSI math run on that
    // tiny frame.
    "agg_psi_drift" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val B = 10
      val cells = Tables.events(s, d)
        .select(col("event_type"),
          (col("ts") < lit("2024-01-16 00:00:00").cast("timestamp"))
            .as("fh"),
          least(expr("cast(floor(value * 100 + 0.5) as bigint) div 5000"),
            lit(9L)).as("bin"))
        .groupBy("event_type", "bin")
        .agg(sum(when(col("fh"), 1L).otherwise(0L)).as("cp"),
          sum(when(!col("fh"), 1L).otherwise(0L)).as("cq"))
      val tot = cells.groupBy("event_type")
        .agg(sum("cp").as("np"), sum("cq").as("nq"))
      val grid = tot.select(col("event_type"), col("np"), col("nq"),
          explode(sequence(lit(0L), lit(9L))).as("bin"))
        .join(cells, Seq("event_type", "bin"), "left")
        .na.fill(0L, Seq("cp", "cq"))
      def l6(c: org.apache.spark.sql.Column) =
        floor(graft.StableRound.round6(log(c.cast("double"))) * 1e6 + 0.5)
          .cast("long")
      grid
        .withColumn("w", (col("cp") + 1) * (col("nq") + B)
          - (col("cq") + 1) * (col("np") + B))
        .withColumn("t6", l6(col("cp") + 1) - l6(col("np") + B)
          - l6(col("cq") + 1) + l6(col("nq") + B))
        .groupBy("event_type")
        .agg(max("np").as("n_first"), max("nq").as("n_second"),
          sum(col("w") * col("t6")).as("ssum6"))
        .select(col("event_type"), col("n_first"), col("n_second"),
          graft.StableRound.round6(col("ssum6").cast("double") / 1e6
            / ((col("n_first") + B) * (col("n_second") + B))
              .cast("double")).as("psi"))
    }),

    // KL(Q‖P) per event_type between month halves — the drift trio's
    // information-theoretic face after PSI ((p−q)-weighted, symmetric
    // in spirit) and KS (CDF gap): expected surprise of the SECOND
    // half under the first-half distribution, the quantity alerting
    // reads as "how badly does the baseline model the present". Same
    // 10-bin Laplace-smoothed grid and micro-scaled-log recipe as
    // agg_psi_drift; only the weight changes — (cq+1), the observed
    // half — and the normalizer is (nq+B). Integer range: weight·t6
    // ≤ ~2e13 per cell at sf0.1; beyond ~1e11 rows/type lift ssum6 to
    // DECIMAL(38,0) (the cusum note).
    "agg_kl_drift" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val B = 10
      val cells = Tables.events(s, d)
        .select(col("event_type"),
          (col("ts") < lit("2024-01-16 00:00:00").cast("timestamp"))
            .as("fh"),
          least(expr("cast(floor(value * 100 + 0.5) as bigint) div 5000"),
            lit(9L)).as("bin"))
        .groupBy("event_type", "bin")
        .agg(sum(when(col("fh"), 1L).otherwise(0L)).as("cp"),
          sum(when(!col("fh"), 1L).otherwise(0L)).as("cq"))
      val tot = cells.groupBy("event_type")
        .agg(sum("cp").as("np"), sum("cq").as("nq"))
      val grid = tot.select(col("event_type"), col("np"), col("nq"),
          explode(sequence(lit(0L), lit(9L))).as("bin"))
        .join(cells, Seq("event_type", "bin"), "left")
        .na.fill(0L, Seq("cp", "cq"))
      def l6(c: org.apache.spark.sql.Column) =
        floor(graft.StableRound.round6(log(c.cast("double"))) * 1e6 + 0.5)
          .cast("long")
      grid
        .withColumn("t6", l6(col("cq") + 1) - l6(col("nq") + B)
          - l6(col("cp") + 1) + l6(col("np") + B))
        .groupBy("event_type")
        .agg(max("np").as("n_first"), max("nq").as("n_second"),
          sum((col("cq") + 1) * col("t6")).as("ssum6"))
        .select(col("event_type"), col("n_first"), col("n_second"),
          graft.StableRound.round6(col("ssum6").cast("double") / 1e6
            / (col("n_second") + B).cast("double")).as("kl"))
    }),

    // Tukey-fence (IQR) outlier gate per event_type — the quantile-based
    // sibling of agg_outlier_zscore (robust to the very outliers it
    // flags, which the z-score's own σ is not). FULLY integer: discrete
    // quartiles are selected off the cents-DOMAIN counting relation
    // (≤49k rows/type at any corpus size) with integer ceil-division
    // ranks, and the 1.5·IQR fences live at 2× cent scale (2·Q1−3·IQR)
    // so no fraction ever exists; the outlier count sums the SAME
    // checkpointed domain relation — ONE corpus scan total, no
    // join-back. Every output column is a long.
    "agg_outlier_iqr" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val dom = Tables.events(s, d)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("c"))
        .groupBy("event_type", "c").agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val w = Window.partitionBy("event_type").orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wt = Window.partitionBy("event_type")
      val q = dom
        .withColumn("cum", sum("cnt").over(w))
        .withColumn("n", sum("cnt").over(wt))
        .groupBy("event_type")
        .agg(max("n").as("n"),
          // `div`, not `/`: Column./ on longs is DOUBLE division
          min(when(col("cum") >= expr("(n + 3) div 4"), col("c")))
            .as("q1_cents"),
          min(when(col("cum") >= expr("(n * 3 + 3) div 4"), col("c")))
            .as("q3_cents"))
      val iqr = col("q3_cents") - col("q1_cents")
      dom.join(broadcast(q), "event_type")
        .groupBy("event_type")
        .agg(max("n").as("n"), max("q1_cents").as("q1_cents"),
          max("q3_cents").as("q3_cents"),
          sum(when(col("c") * 2 < col("q1_cents") * 2 - iqr * 3
              || col("c") * 2 > col("q3_cents") * 2 + iqr * 3,
            col("cnt")).otherwise(0L)).as("n_outliers"))
    }),

    // exact tied-rank SPEARMAN between quantity and extended price —
    // agg_corr's rank-based twin (monotone association, outlier-immune).
    // Rank discipline: per-row ranks never exist; the DOUBLED midrank
    // R2(v) = 2·below(v) + cnt(v) + 1 is an exact INTEGER on each
    // value's domain relation (the mann_whitney identity), so all five
    // sufficient statistics are exact DECIMAL(38,0) sums: Σcnt·R2a·R2b
    // needs the JOINT (qty,price-cent) relation — ≤ one row per
    // distinct pair, map-side combined — and the marginal sums come off
    // the tiny domain relations. The doubling cancels in ρ; the only
    // float is the one final assembly (mirrored factor-for-factor).
    // Windows run over value DOMAINS (qty ~50 values, price cents
    // bounded by the price grid), never over rows. If a domain ever
    // outgrows one task, the below-prefix generalizes to a two-level
    // prefix sum (range-partitioned partials + broadcast offsets) with
    // the same integer identity — the recipe, not the window, is the
    // contract.
    "agg_spearman" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      import graft.StableRound
      val dec = DecimalType(38, 0)
      // O(distinct (a,b)) ≈ O(n) on the continuous price axis, so the
      // shared joint counting relation persists WITH lineage (r18
      // audit) rather than localCheckpoint: same one-computation
      // sharing across the margin/product consumers, but recomputable
      // on block loss at cluster scale
      val joint = Tables.lineitem(s, d)
        .select(round(col("l_quantity")).cast("long").as("a"),
          round(col("l_extendedprice") * 100).cast("long").as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("cnt"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      def marg(k: String) = {
        val dom = joint.groupBy(k).agg(sum("cnt").as("m"))
        graft.ops.Prefix.doubledMidrank(dom, k, "m")
          .select(col(k), col("m"), col("r2").as(s"r2$k"))
      }
      val ma = marg("a")
      val mb = marg("b")
      // ALL six sums come from the one joined relation (r18): the
      // margin identities Σ_a m_a·r2a = Σ_joined cnt·r2a (m_a = Σ_b cnt
      // and every joint row joins both margins) make the separate
      // sa/sb aggregations redundant — each margin chain (domain agg +
      // two-level prefix windows) now has exactly ONE consumer instead
      // of two, halving the margin work in the executed plan. The sums
      // are the same exact DECIMAL(38,0) integers, order-free, so the
      // result is bit-identical. Cast BEFORE the product: cnt·r2a·r2b
      // overflows int64 past ~1e6 rows; decimal caps at 4n³ < 1e38.
      val sxy = joint.join(broadcast(ma.select("a", "r2a")), "a")
        .join(mb.select("b", "r2b"), "b")
        .agg(
          sum(col("cnt").cast(dec)).as("n"),
          sum(col("cnt").cast(dec) * col("r2a")).as("sx"),
          sum(col("cnt").cast(dec) * col("r2a") * col("r2a")).as("sxx"),
          sum(col("cnt").cast(dec) * col("r2b")).as("sy"),
          sum(col("cnt").cast(dec) * col("r2b") * col("r2b")).as("syy"),
          sum(col("cnt").cast(dec) * col("r2a") * col("r2b"))
            .as("sxy"))
      def D(c: org.apache.spark.sql.Column) = c.cast("double")
      sxy
        .select(col("n").cast("long").as("n"),
          StableRound.round6(
            (D(col("n")) * D(col("sxy")) - D(col("sx")) * D(col("sy")))
              / (sqrt(D(col("n")) * D(col("sxx"))
                   - D(col("sx")) * D(col("sx")))
                 * sqrt(D(col("n")) * D(col("syy"))
                   - D(col("sy")) * D(col("sy"))))).as("rho"))
    }),

    // Jensen-Shannon divergence per event_type between month halves —
    // completes the drift family (PSI/KS/KL) with the SYMMETRIC,
    // bounded member (JSD ∈ [0, ln 2]; the one you threshold when
    // neither window is the privileged baseline). Same grid/smoothing
    // recipe as agg_kl_drift (Laplace +1, B=10 bins); JSD = ½KL(P‖M) +
    // ½KL(Q‖M) with M the midpoint. The smoothed densities are exact-
    // integer ratios evaluated per-row in double (deterministic IEEE);
    // each per-bin term snaps to the round6 grid and sums as a 1e6
    // fixed-point long — the libm ln comparison is per-term at 1e-6
    // granularity (the l6/math_funcs precedent), never an
    // accumulation-order float sum. Bounded state/shape: |types|·B cells.
    "agg_jsd_drift" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import graft.StableRound
      val B = 10
      val cells = Tables.events(s, d)
        .select(col("event_type"),
          (col("ts") < lit("2024-01-16 00:00:00").cast("timestamp"))
            .as("fh"),
          least(expr("cast(floor(value * 100 + 0.5) as bigint) div 5000"),
            lit(9L)).as("bin"))
        .groupBy("event_type", "bin")
        .agg(sum(when(col("fh"), 1L).otherwise(0L)).as("cp"),
          sum(when(!col("fh"), 1L).otherwise(0L)).as("cq"))
      val tot = cells.groupBy("event_type")
        .agg(sum("cp").as("np"), sum("cq").as("nq"))
      val grid = tot.select(col("event_type"), col("np"), col("nq"),
          explode(sequence(lit(0L), lit(9L))).as("bin"))
        .join(cells, Seq("event_type", "bin"), "left")
        .na.fill(0L, Seq("cp", "cq"))
      val p = (col("cp") + 1).cast("double") /
        (col("np") + B).cast("double")
      val q = (col("cq") + 1).cast("double") /
        (col("nq") + B).cast("double")
      val m = (p + q) / 2
      val t6 = floor(StableRound.round6(
        (p * log(p / m) + q * log(q / m)) * 0.5) * 1e6 + 0.5)
        .cast("long")
      grid.withColumn("t6", t6)
        .groupBy("event_type")
        .agg(max("np").as("n_first"), max("nq").as("n_second"),
          sum("t6").as("ssum6"))
        .select(col("event_type"), col("n_first"), col("n_second"),
          StableRound.round6(col("ssum6").cast("double") / 1e6).as("jsd"))
    }),

    // two-sample KOLMOGOROV-SMIRNOV per event_type between month halves
    // — PSI's bin-free sibling (sensitive to any CDF gap, not just the
    // binned mass). FULLY integer: D·np·nq = max over the value domain
    // of |cumP·nq − cumQ·np|, so no smoothing and no logs; ONE final
    // double division under round6. Scale shape: counts group on the
    // bounded cents DOMAIN (≤ 49k distinct values/type regardless of
    // row count), and the cumulative windows run over that domain —
    // the same domain-vs-rows trick as the exact-quantile/Gini tier.
    "agg_ks_drift" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val dom = Tables.events(s, d)
        .select(col("event_type"),
          (col("ts") < lit("2024-01-16 00:00:00").cast("timestamp"))
            .as("fh"),
          round(col("value") * 100).cast("long").as("c"))
        .groupBy("event_type", "c")
        .agg(sum(when(col("fh"), 1L).otherwise(0L)).as("cp"),
          sum(when(!col("fh"), 1L).otherwise(0L)).as("cq"))
      val w = Window.partitionBy("event_type").orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy("event_type")
      dom
        .withColumn("cump", sum("cp").over(w))
        .withColumn("cumq", sum("cq").over(w))
        .withColumn("np", sum("cp").over(wAll))
        .withColumn("nq", sum("cq").over(wAll))
        .groupBy("event_type")
        .agg(max("np").as("n_first"), max("nq").as("n_second"),
          max(abs(col("cump") * col("nq") - col("cumq") * col("np")))
            .as("d_num"))
        .select(col("event_type"), col("n_first"), col("n_second"),
          col("d_num"),
          graft.StableRound.round6(col("d_num").cast("double")
            / (col("n_first") * col("n_second")).cast("double")).as("ks"))
    }),

    // CUSUM CHANGE-POINT per event_type: the day k maximizing the
    // cross-multiplied mean-shift statistic |cumSum_k·N − S·cumN_k|
    // (≡ N·cumN_k·|mean_{≤k} − mean_total| without any division) — the
    // third drift face after PSI (binned mass) and KS (value CDF):
    // WHERE in time the level shifted. Fully integer (range: safe to
    // ~1e7 rows/type at cent precision; DECIMAL beyond), argmax made
    // total by max(struct(|D|, −day)). Scale shape: one partial-agg
    // pass onto (type, day) — ≤31 rows/type — then driver-free tiny
    // windows.
    "agg_cusum_changepoint" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, d)
        .select(col("event_type"),
          date_trunc("day", col("ts")).as("day"),
          round(col("value") * 100).cast("long").as("c"))
        .groupBy("event_type", "day")
        .agg(sum("c").as("sd"), count(lit(1)).as("nd"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy("event_type")
      daily
        .withColumn("cums", sum("sd").over(w))
        .withColumn("cumn", sum("nd").over(w))
        .withColumn("s_tot", sum("sd").over(wAll))
        .withColumn("n_tot", sum("nd").over(wAll))
        .withColumn("dstat",
          abs(col("cums") * col("n_tot") - col("s_tot") * col("cumn")))
        .groupBy("event_type")
        .agg(max("n_tot").as("n_events"), count(lit(1)).as("n_days"),
          max(struct(col("dstat"),
            (-unix_seconds(col("day"))).as("negday"))).as("pick"))
        .select(col("event_type"), col("n_events"), col("n_days"),
          col("pick.dstat").as("d_max"),
          timestamp_seconds(-col("pick.negday")).as("cp_day"))
    }),

    // KENDALL tau-b between quantity and discount — the third member of
    // the association family (corr = linear, spearman = monotone-rank,
    // kendall = pair-concordance; tau-b is what you report when both
    // columns are coarse grids with heavy ties). Pair counting runs on
    // the JOINT DOMAIN relation, never on rows: concordant/discordant
    // sums are a theta self-join of the ≤|qty-domain|·|disc-domain|
    // joint cells (≤ ~550 here — domain-bounded at ANY corpus size),
    // with one side broadcast. C, D, and the tie terms are exact
    // DECIMAL(38,0) integers (C ≤ n²/2 fits to n ~ 1e18); the one float
    // is the final tau-b assembly, mirrored factor-for-factor. If a
    // domain pair ever outgrew the theta join, C decomposes over the
    // same 2-D below-prefix the spearman marginals use — the counting
    // relation, not the join, is the contract.
    "agg_kendall_tau" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.DecimalType
      import graft.StableRound
      val dec = DecimalType(38, 0)
      val joint = Tables.lineitem(s, d)
        .select(round(col("l_quantity")).cast("long").as("a"),
          round(col("l_discount") * 100).cast("long").as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val x = joint.select(col("a").as("a1"), col("b").as("b1"),
        col("cnt").as("c1"))
      val y = joint.select(col("a").as("a2"), col("b").as("b2"),
        col("cnt").as("c2"))
      val cd = x.join(broadcast(y), col("a1") < col("a2"))
        .agg(
          coalesce(sum(when(col("b1") < col("b2"),
            col("c1").cast(dec) * col("c2"))), lit(0).cast(dec)).as("nc"),
          coalesce(sum(when(col("b1") > col("b2"),
            col("c1").cast(dec) * col("c2"))), lit(0).cast(dec)).as("nd"))
      val ma = joint.groupBy("a").agg(sum("cnt").as("t"))
        .agg(sum(col("t").cast(dec)).as("n"),
          sum(col("t").cast(dec) * (col("t").cast(dec) - 1)).as("t2a"))
      val mb = joint.groupBy("b").agg(sum("cnt").as("t"))
        .agg(sum(col("t").cast(dec) * (col("t").cast(dec) - 1)).as("t2b"))
      cd.crossJoin(broadcast(ma)).crossJoin(broadcast(mb))
        .select(col("n").cast("long").as("n"),
          (col("nc") - col("nd")).cast("double").as("ncd"),
          (col("n") * (col("n") - 1) - col("t2a")).cast("double").as("da"),
          (col("n") * (col("n") - 1) - col("t2b")).cast("double").as("db"))
        .select(col("n"),
          StableRound.round6(col("ncd") * 2 / sqrt(col("da") * col("db")))
            .as("tau_b"))
    }),

    // KRUSKAL-WALLIS H across event types on value — the k-sample
    // extension of agg_mann_whitney (is ANY type's value distribution
    // shifted?). Rank discipline is the shared doubled-midrank identity:
    // R2(v) = 2·below(v) + cnt(v) + 1 is exact-integer on the global
    // cents domain, so the per-group rank sum S2_g = Σ cnt_g·R2 and the
    // centered deviation d_g = S2_g − n_g(n+1) are exact DECIMAL(38,0).
    // The per-group term d_g²/(n_g·n) is a straight-line IEEE expression
    // on exact inputs (deterministic per-row in BOTH engines — the float
    // hazard is accumulation ORDER, not magnitude), snapped to the
    // round6 grid and summed as 1e6 fixed-point longs over the ≤|types|
    // rows; H = 3·S/(n+1), tie-corrected by the exact-integer
    // (n³−n)/((n³−n)−Σ(t³−t)) factor. One corpus scan to the (c, type)
    // domain relation; windows run over the cents DOMAIN, never rows.
    "agg_kruskal_wallis" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      import graft.StableRound
      val dec = DecimalType(38, 0)
      val dom = Tables.events(s, d)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("c"))
        .groupBy("c", "event_type").agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val gdom = dom.groupBy("c").agg(sum("cnt").as("m")).localCheckpoint()
      val r2 = graft.ops.Prefix.doubledMidrank(gdom, "c", "m")
        .select(col("c"), col("r2"))
      val tot = gdom.agg(sum(col("m").cast(dec)).as("n"),
        sum(col("m").cast(dec) * col("m") * col("m") - col("m").cast(dec))
          .as("ties"))
      val grp = dom.join(broadcast(r2), "c")
        .groupBy("event_type")
        .agg(sum(col("cnt").cast(dec)).as("ng"),
          sum(col("cnt").cast(dec) * col("r2")).as("s2"))
      val dg = (col("s2") - col("ng") * (col("n") + 1)).cast("double")
      val t6 = floor(StableRound.round6(
        dg * dg / (col("ng").cast("double") * col("n").cast("double")))
        * 1e6 + 0.5).cast("long")
      val nD = col("n").cast("double")
      val n3n = (col("n") * col("n") * col("n") - col("n"))
      grp.crossJoin(broadcast(tot))
        .select(col("n"), col("ties"), t6.as("t6"))
        .groupBy().agg(max("n").as("n"), max("ties").as("ties"),
          count(lit(1)).as("k"), sum("t6").as("s6"))
        .select(col("n").cast("long").as("n"),
          (col("k") - 1).cast("long").as("dof"),
          StableRound.round6(col("s6").cast("double") / 1e6 * 3
            / (nD + 1)).as("h_raw"),
          StableRound.round6(col("s6").cast("double") / 1e6 * 3
            / (nD + 1) * n3n.cast("double")
            / (n3n - col("ties")).cast("double")).as("h"))
    }),

    // MUTUAL INFORMATION (+ entropies + NMI) of event_type × day-of-week
    // — the information-theoretic association screen on agg_chi2's
    // contingency relation (chi2 asks "is there dependence?", MI asks
    // "how many bits does one column carry about the other?" — the
    // feature-selection ranking signal). One corpus scan to the
    // |types|·7-cell contingency (localCheckpoint'd; margins and cells
    // both read it); every per-cell/per-margin −p·ln p or p·ln(n·n_xy/
    // (r·c)) term is an exact-integer ratio evaluated in deterministic
    // IEEE double, snapped to the round6 grid, and summed as 1e6
    // fixed-point longs — the agg_shannon_diversity discipline. Zero
    // cells contribute zero (standard MI, no smoothing). NMI uses the
    // sqrt(H_row·H_col) normalization with a 0-entropy guard.
    "agg_mutual_info" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import graft.StableRound
      val cells = Tables.events(s, d)
        .select(col("event_type"), (dayofweek(col("ts")) - 1).as("dow"))
        .groupBy("event_type", "dow").agg(count(lit(1)).as("nxy"))
        .localCheckpoint()
      val rm = cells.groupBy("event_type").agg(sum("nxy").as("r"))
      val cm = cells.groupBy("dow").agg(sum("nxy").as("cc"))
      val nrel = cells.agg(sum("nxy").as("n"))
      def h6(cnt: org.apache.spark.sql.Column) = {
        val p = cnt.cast("double") / col("n").cast("double")
        floor(StableRound.round6(-p * log(p)) * 1e6 + 0.5).cast("long")
      }
      val hx = rm.crossJoin(broadcast(nrel)).select(h6(col("r")).as("t6"))
        .agg(sum("t6").as("hx6"))
      val hy = cm.crossJoin(broadcast(nrel)).select(h6(col("cc")).as("t6"))
        .agg(sum("t6").as("hy6"))
      val pxy = col("nxy").cast("double") / col("n").cast("double")
      val lift = col("n").cast("double") * col("nxy").cast("double") /
        (col("r").cast("double") * col("cc").cast("double"))
      val mi = cells.join(broadcast(rm), "event_type")
        .join(broadcast(cm), "dow").crossJoin(broadcast(nrel))
        .select(col("n"),
          floor(StableRound.round6(pxy * log(lift)) * 1e6 + 0.5)
            .cast("long").as("t6"))
        .groupBy().agg(max("n").as("n"), sum("t6").as("mi6"))
      mi.crossJoin(hx).crossJoin(hy)
        .select(col("n").cast("long").as("n"),
          StableRound.round6(col("mi6").cast("double") / 1e6).as("mi"),
          StableRound.round6(col("hx6").cast("double") / 1e6).as("h_row"),
          StableRound.round6(col("hy6").cast("double") / 1e6).as("h_col"),
          when(col("hx6") > 0 && col("hy6") > 0, StableRound.round6(
            col("mi6").cast("double") / 1e6
              / sqrt(col("hx6").cast("double") / 1e6
                * (col("hy6").cast("double") / 1e6))))
            .otherwise(lit(0.0)).as("nmi"))
    }),

    // COHEN'S d (+ Hedges' g) purchase-vs-view — the effect-size
    // companion agg_ab_ttest's p-value needs (at corpus n, EVERYTHING is
    // significant; d says whether the shift is big enough to matter).
    // Six exact integer sufficient statistics (n, Σc, Σc² per arm, cents
    // scale, map-side combined in one scan — Σc² ~ n·1e8 fits
    // DECIMAL(38,0) to n ~ 1e30); one straight-line double assembly
    // mirrored factor-for-factor, with the small-sample Hedges
    // correction 1 − 3/(4·df − 1) as a second output.
    "agg_cohens_d" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.DecimalType
      import graft.StableRound
      val dec = DecimalType(38, 0)
      val a = Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "view"))
        .select((col("event_type") === "purchase").as("isa"),
          round(col("value") * 100).cast("long").as("c"))
        .agg(
          sum(when(col("isa"), 1L).otherwise(0L)).cast(dec).as("na"),
          sum(when(!col("isa"), 1L).otherwise(0L)).cast(dec).as("nb"),
          coalesce(sum(when(col("isa"), col("c").cast(dec))),
            lit(0).cast(dec)).as("sa"),
          coalesce(sum(when(!col("isa"), col("c").cast(dec))),
            lit(0).cast(dec)).as("sb"),
          coalesce(sum(when(col("isa"), col("c").cast(dec) * col("c"))),
            lit(0).cast(dec)).as("qa"),
          coalesce(sum(when(!col("isa"), col("c").cast(dec) * col("c"))),
            lit(0).cast(dec)).as("qb"))
      def D(c: org.apache.spark.sql.Column) = c.cast("double")
      // pooled variance from the exact sums: Σ(c−c̄)² = q − s²/n, all in
      // cents² — the /100 cancels in d, so no unit conversion appears
      val ssa = D(col("qa")) - D(col("sa")) * D(col("sa")) / D(col("na"))
      val ssb = D(col("qb")) - D(col("sb")) * D(col("sb")) / D(col("nb"))
      val df = D(col("na")) + D(col("nb")) - 2
      val dEff = (D(col("sa")) / D(col("na")) - D(col("sb")) / D(col("nb"))) /
        sqrt((ssa + ssb) / df)
      a.select(col("na").cast("long").as("n_a"),
        col("nb").cast("long").as("n_b"),
        StableRound.round6(dEff).as("cohens_d"),
        StableRound.round6(dEff * (lit(1.0) - lit(3.0) / (df * 4 - 1)))
          .as("hedges_g"))
    }),

    // DETERMINISTIC BOOTSTRAP CI for the mean order total — the
    // uncertainty band a metrics pipeline attaches to every headline
    // number. Replication is seeded, engine-neutral half-sampling (the
    // samplingHash LCG over o_orderkey·R + rep — NOT rand(), so the CI
    // is bit-reproducible across engines, reruns, and cluster sizes):
    // R = 64 replicas, each keeping the ~half of orders whose hash is
    // even. Shape at scale: ONE corpus-width pass — all 64 replica
    // (sum, count) pairs fold into a single primitive 128-long typed-
    // Aggregator buffer per task (Stats.bootstrapReplicas, the GramAgg
    // trick; the r15 plan exploded the corpus 64× before the replica
    // filter — a 64× scan-stage cost for the identical result), so the
    // exchange moves one buffer per partition regardless of corpus
    // size; per-replica sums are exact int64 cents; the CI bounds are
    // DISCRETE order statistics (ceil-rank selection over the 64
    // replica means — no interpolation float), picked by the same
    // cum≥rank min-selection agg_outlier_iqr uses.
    "agg_bootstrap_ci" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import graft.StableRound
      val reps = graft.ops.Stats.bootstrapReplicas(
          Tables.orders(s, d).select(col("o_orderkey"),
            round(col("o_totalprice") * 100).cast("long").as("c")),
          "o_orderkey", "c", reps = 64)
        .select(col("rep"), StableRound.round6(
          col("sr").cast("double") / col("nr").cast("double") / 100)
          .as("mean_r"))
      // ceil ranks at R=64: lo = 2nd smallest (2.5%), hi = 63rd (97.5%).
      // k-th order statistic = min v with #{y ≤ v} ≥ k — a theta-join
      // count over the 64-row replica relation (no unpartitioned window;
      // tie-safe: the identity picks the same VALUE the positional rank
      // did whatever order ties land in).
      val reps2 = reps.localCheckpoint()
      val cle = reps2.join(
          broadcast(reps2.select(col("mean_r").as("__m2"))),
          col("__m2") <= col("mean_r"))
        .groupBy("rep", "mean_r").agg(count(lit(1)).as("rk"))
      cle.agg(
        count(lit(1)).cast("long").as("n_replicas"),
        min(when(col("rk") >= 2, col("mean_r"))).as("ci_lo"),
        min(when(col("rk") >= 63, col("mean_r"))).as("ci_hi"))
    }),

    // CLASSICAL SEASONAL DECOMPOSITION (additive) of the per-type daily
    // count series: trend = centered 7-day moving average, seasonal =
    // day-of-week mean of the detrended series, residual = the rest —
    // the first cut at "is this metric moving or is it just Tuesday".
    // One corpus scan to the (type, day) count relation
    // (localCheckpoint'd — grid types, day bounds, and the series join
    // all read it); everything after runs on the zero-filled DAY GRID
    // (bounded by calendar span at any corpus size, the agg_autocorr
    // densification). Float discipline: trend is an exact-integer
    // sum/7; each detrended value snaps to the round6 grid and the
    // seasonal means sum those fixed-point longs — no float
    // accumulation crosses engines. Edge days (incomplete 7-day
    // window) have null trend/residual, standard decomposition
    // behavior.
    "agg_seasonal_decompose" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      import graft.StableRound
      val counts = Tables.events(s, d)
        .withColumn("day_start", date_trunc("day", col("ts")))
        .groupBy("event_type", "day_start")
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val bounds = counts.agg(min("day_start").as("d0"),
        max("day_start").as("d1"))
      val grid = counts.select("event_type").distinct()
        .crossJoin(broadcast(bounds))
        .select(col("event_type"),
          explode(sequence(col("d0"), col("d1"),
            expr("interval 1 day"))).as("day_start"))
      val series = grid.join(counts, Seq("event_type", "day_start"), "left")
        .na.fill(0L, Seq("cnt"))
      val w7 = Window.partitionBy("event_type").orderBy("day_start")
        .rowsBetween(-3, 3)
      val tr = series
        .withColumn("trend", when(count(lit(1)).over(w7) === 7,
          sum("cnt").over(w7).cast("double") / 7))
      val det = tr
        .withColumn("dow", dayofweek(col("day_start")) - 1)
        .withColumn("det6", when(col("trend").isNotNull,
          floor(StableRound.round6(
            col("cnt").cast("double") - col("trend")) * 1e6 + 0.5)
            .cast("long")))
      val seas = det.filter(col("det6").isNotNull)
        .groupBy("event_type", "dow")
        .agg((sum("det6").cast("double") / count(lit(1)).cast("double")
          / 1e6).as("seasraw"))
      det.join(broadcast(seas), Seq("event_type", "dow"), "left")
        .select(col("event_type"), col("day_start"),
          col("cnt").cast("long").as("n"),
          StableRound.round6(col("trend")).as("trend"),
          StableRound.round6(col("seasraw")).as("seasonal"),
          StableRound.round6(col("cnt").cast("double") - col("trend")
            - col("seasraw")).as("resid"))
    }),

    // A/B POWER ANALYSIS — the pre-experiment sizing every metrics
    // team runs: given the observed value variance, how many rows per
    // arm does a two-sample z-test need to detect a 1%-of-mean shift at
    // α = 0.05 with power 0.8? n = 2·(z_{.975}+z_{.8})²·σ²/δ². Three
    // exact integer moments in one map-side-combined scan; the z-sum
    // constant is a shared literal; ceil on the one straight-line double
    // expression is deterministic IEEE in both engines.
    "agg_power_analysis" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.DecimalType
      import graft.StableRound
      val dec = DecimalType(38, 0)
      val m = Tables.events(s, d)
        .select(round(col("value") * 100).cast("long").as("c"))
        .agg(count(lit(1)).cast(dec).as("n"),
          sum(col("c").cast(dec)).as("s1"),
          sum(col("c").cast(dec) * col("c")).as("s2"))
      def D(c: org.apache.spark.sql.Column) = c.cast("double")
      val nD = D(col("n"))
      val mean = D(col("s1")) / nD / 100
      val varD = (D(col("s2")) - D(col("s1")) * D(col("s1")) / nD) /
        (nD - 1) / 10000
      val mde = mean * 0.01
      m.select(col("n").cast("long").as("n"),
        StableRound.round6(mean).as("mean"),
        StableRound.round6(sqrt(varD)).as("sd"),
        StableRound.round6(mde).as("mde"),
        ceil(varD / (mde * mde) * (lit(2.0) * 2.801585 * 2.801585))
          .cast("long").as("n_required"))
    }),

    // HILL TAIL-INDEX estimator over order totals — text_zipf_fit's
    // numeric sibling: is the value distribution heavy-tailed, and how
    // heavy (α < 2 ⇒ infinite variance, the "one order dominates the
    // day" regime a revenue monitor must know about). Classic Hill on
    // the k = 100 largest order statistics: H = (1/k)Σ ln(x_i/x_{k+1}),
    // α = 1/H. The top-101 is a distributed TakeOrdered under the
    // (cents desc, key) total order — never a global sort; the 101-row
    // relation is driver-trivial at any corpus size; each log-ratio
    // term snaps to the round6 grid and sums as fixed-point longs.
    "agg_tail_index" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      import graft.StableRound
      val top = Tables.orders(s, d)
        .select(round(col("o_totalprice") * 100).cast("long").as("c"),
          col("o_orderkey"))
        .orderBy(col("c").desc, col("o_orderkey")).limit(101)
      val rk = graft.ops.Prefix.thetaRank(top.localCheckpoint(),
          Seq(("c", true), ("o_orderkey", false)), "r")
        .localCheckpoint()
      val xk = rk.filter(col("r") === 101).select(col("c").as("ck"))
      val sums = rk.filter(col("r") <= 100).crossJoin(broadcast(xk))
        .select(col("ck"),
          floor(StableRound.round6(
            log(col("c").cast("double") / col("ck").cast("double")))
            * 1e6 + 0.5).cast("long").as("t6"))
        .agg(count(lit(1)).as("k"), max("ck").as("x_k1_cents"),
          sum("t6").as("s6"))
      val kD = col("k").cast("double")
      sums.select(col("k").cast("long").as("k"), col("x_k1_cents"),
        StableRound.round6(col("s6").cast("double") / 1e6 / kD).as("hill"),
        StableRound.round6(kD / (col("s6").cast("double") / 1e6))
          .as("alpha"))
    }),

    // WINSORIZED MEAN per type — the robust location estimate a metrics
    // pipeline reports when agg_tail_index says the tail is heavy (clip
    // at p5/p95, then average — one fat-finger order can't move it).
    // FULLY integer until the final division: discrete p5/p95 by
    // ceil-rank selection on the cents-domain relation (agg_outlier_iqr's
    // recipe), clipped sum as Σ over the DOMAIN of clip(c)·cnt in
    // DECIMAL(38,0) — the corpus is touched once, the domain relation
    // feeds both the quantile selection and the clipped sum.
    "agg_winsorize" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      import graft.StableRound
      val dec = DecimalType(38, 0)
      val dom = Tables.events(s, d)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("c"))
        .groupBy("event_type", "c").agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val w = Window.partitionBy("event_type").orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wt = Window.partitionBy("event_type")
      val q = dom
        .withColumn("cum", sum("cnt").over(w))
        .withColumn("n", sum("cnt").over(wt))
        .groupBy("event_type")
        .agg(max("n").as("n"),
          min(when(col("cum") >= expr("(n + 19) div 20"), col("c")))
            .as("p05_cents"),
          min(when(col("cum") >= expr("(n * 19 + 19) div 20"), col("c")))
            .as("p95_cents"))
      dom.join(broadcast(q), "event_type")
        .groupBy("event_type")
        .agg(max("n").as("n"), max("p05_cents").as("p05_cents"),
          max("p95_cents").as("p95_cents"),
          sum(greatest(least(col("c"), col("p95_cents")),
            col("p05_cents")).cast(dec) * col("cnt")).as("ws"))
        .select(col("event_type"), col("n"), col("p05_cents"),
          col("p95_cents"),
          StableRound.round6(col("ws").cast("double")
            / col("n").cast("double") / 100).as("winsor_mean"))
    }),

    // ONE-WAY ANOVA F of value across event_type — the k-sample
    // parametric sibling of agg_kruskal_wallis (KW asks about ranks,
    // ANOVA about means; together they bracket "did the arms move?").
    // Three exact integer sufficient statistics PER GROUP (n, Σc, Σc²,
    // cents, DECIMAL(38,0) — one corpus scan, map-side combined to
    // |types| rows). The cross-group sum that assembles SSB is the
    // only order-sensitive float reduction, so each group's
    // between-term s_g²/n_g (dollars²) snaps to the round6 grid and
    // sums as 1e6 fixed-point longs — the agg_kruskal_wallis
    // discipline; SSW = ΣQ − Σterms reuses the same exact pieces.
    // F and η² are straight-line doubles mirrored factor-for-factor.
    "agg_anova" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.DecimalType
      import graft.StableRound
      val dec = DecimalType(38, 0)
      val g = Tables.events(s, d)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("c"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("ng"),
          sum(col("c").cast(dec)).as("sg"),
          sum(col("c").cast(dec) * col("c")).as("qg"))
      // between-term in dollars²: (Σc/100)²/n = Σc²/n/1e4 — double from
      // exact decimals, snapped per group, summed exactly
      val tg = col("sg").cast("double") * col("sg").cast("double") /
        col("ng").cast("double") / 1e4
      val m = g
        .select(col("ng"), col("sg"), col("qg"),
          // DECIMAL(38,0) fixed-point accumulator, not long: the
          // between-term is ~ng·mean²·1e6, which outgrows int64 head-
          // room on billion-row groups — Spark would wrap silently
          // while DuckDB errors (ADVICE r12). floor(DECIMAL(38,6)) is
          // DECIMAL(38,0) in both engines; values are unchanged in
          // range (the +0.5 keeps the double a half-integer, never
          // near a 6-decimal rounding boundary).
          floor((StableRound.round6(tg) * 1e6 + 0.5)
            .cast(org.apache.spark.sql.types.DecimalType(38, 6)))
            .as("t6"))
        .groupBy().agg(sum("ng").as("n"), count(lit(1)).as("k"),
          sum("sg").as("s"), sum("qg").as("q"), sum("t6").as("st"))
      def D(c: org.apache.spark.sql.Column) = c.cast("double")
      val sb = D(col("st")) / 1e6 -
        D(col("s")) / 100.0 * (D(col("s")) / 100.0) / D(col("n"))
      val sw = D(col("q")) / 1e4 - D(col("st")) / 1e6
      val d1 = D(col("k")) - 1
      val d2 = D(col("n")) - D(col("k"))
      m.select(col("n").cast("long").as("n"),
        col("k").cast("long").as("k"),
        (col("k") - 1).cast("long").as("dof_between"),
        (col("n") - col("k")).cast("long").as("dof_within"),
        when(d1 > 0 && d2 > 0 && sw > 0,
          StableRound.round6((sb / d1) / (sw / d2))).as("f_stat"),
        when(sb + sw > 0, StableRound.round6(sb / (sb + sw)))
          .as("eta_sq"))
    }),

    // BROWN–FORSYTHE LEVENE W — "did the VARIANCE move?", the
    // homogeneity check that must pass before agg_anova's F is
    // trustworthy (and an anomaly signal in its own right: a mix shift
    // often widens spread before it moves the mean). Median-centered
    // (Brown–Forsythe): per-group LOWER median by discrete ceil-rank
    // selection on the cents-domain relation (agg_winsorize's recipe —
    // no interpolation float), absolute deviations z = |c − med| stay
    // INTEGER cents, and W is one-way ANOVA on z — the same exact
    // per-group moments + round6 fixed-point between-term assembly as
    // agg_anova, on a domain relation the corpus touches once.
    "agg_levene" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      import graft.StableRound
      val dec = DecimalType(38, 0)
      val dom = Tables.events(s, d)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("c"))
        .groupBy("event_type", "c").agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val w = Window.partitionBy("event_type").orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wt = Window.partitionBy("event_type")
      val med = dom
        .withColumn("cum", sum("cnt").over(w))
        .withColumn("nt", sum("cnt").over(wt))
        .groupBy("event_type")
        .agg(min(when(col("cum") >= expr("(nt + 1) div 2"), col("c")))
          .as("med"))
      val g = dom.join(broadcast(med), "event_type")
        .select(col("event_type"),
          abs(col("c") - col("med")).as("z"), col("cnt"))
        .groupBy("event_type")
        .agg(sum(col("cnt")).as("ng"),
          sum(col("z").cast(dec) * col("cnt")).as("sg"),
          sum(col("z").cast(dec) * col("z") * col("cnt")).as("qg"))
      val tg = col("sg").cast("double") * col("sg").cast("double") /
        col("ng").cast("double") / 1e4
      val m = g
        .select(col("ng"), col("sg"), col("qg"),
          // DECIMAL(38,0) fixed-point accumulator, not long: the
          // between-term is ~ng·mean²·1e6, which outgrows int64 head-
          // room on billion-row groups — Spark would wrap silently
          // while DuckDB errors (ADVICE r12). floor(DECIMAL(38,6)) is
          // DECIMAL(38,0) in both engines; values are unchanged in
          // range (the +0.5 keeps the double a half-integer, never
          // near a 6-decimal rounding boundary).
          floor((StableRound.round6(tg) * 1e6 + 0.5)
            .cast(org.apache.spark.sql.types.DecimalType(38, 6)))
            .as("t6"))
        .groupBy().agg(sum("ng").as("n"), count(lit(1)).as("k"),
          sum("sg").as("s"), sum("qg").as("q"), sum("t6").as("st"))
      def D(c: org.apache.spark.sql.Column) = c.cast("double")
      val sb = D(col("st")) / 1e6 -
        D(col("s")) / 100.0 * (D(col("s")) / 100.0) / D(col("n"))
      val sw = D(col("q")) / 1e4 - D(col("st")) / 1e6
      val d1 = D(col("k")) - 1
      val d2 = D(col("n")) - D(col("k"))
      m.select(col("n").cast("long").as("n"),
        col("k").cast("long").as("k"),
        (col("k") - 1).cast("long").as("dof_between"),
        (col("n") - col("k")).cast("long").as("dof_within"),
        when(d1 > 0 && d2 > 0 && sw > 0,
          StableRound.round6((sb / d1) / (sw / d2))).as("w_stat"))
    }),

    // WALD–WOLFOWITZ RUNS TEST on the sign of day-over-day volume
    // deltas — "is the daily series random, or trending/oscillating?"
    // (too FEW runs = momentum/level shift, too MANY = oscillation,
    // e.g. a retry loop thrashing the ingest). The series is CALENDAR
    // days, so everything after the one corpus scan is window algebra
    // on ≤ a-few-hundred rows at any corpus size; zero deltas drop
    // (standard WW treatment), runs count via sign ≠ lag(sign), and z
    // uses the closed form μ = 2·n₊·n₋/m + 1, σ² = (μ−1)(μ−2)/(m−1) —
    // exact integers into one straight-line double.
    "agg_runs_test" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      import graft.StableRound
      val daily = Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("day_start"))
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      // "previous present row" lag via theta max_by over the ≤|days|
      // grid — calendar-bounded broadcast join, no unpartitioned window
      val dPrev = daily.join(broadcast(daily.select(
          col("day_start").as("__rd"), col("cnt").as("__rc"))),
          col("__rd") < col("day_start"), "left")
        .groupBy("day_start", "cnt")
        .agg(max_by(col("__rc"), col("__rd")).as("prev_cnt"))
      val sg = dPrev
        .withColumn("delta", col("cnt") - col("prev_cnt"))
        .filter(col("delta").isNotNull && col("delta") =!= 0)
        .select(col("day_start"),
          when(col("delta") > 0, 1).otherwise(-1).as("sgn"))
        .localCheckpoint()
      val m = sg.join(broadcast(sg.select(col("day_start").as("__rd"),
          col("sgn").as("__rs"))), col("__rd") < col("day_start"), "left")
        .groupBy("day_start", "sgn")
        .agg(max_by(col("__rs"), col("__rd")).as("prev"))
        .select(col("sgn"),
          when(col("prev").isNull || col("sgn") =!= col("prev"), 1L)
            .otherwise(0L).as("chg"))
        .groupBy().agg(count(lit(1)).as("ns"),
          sum(when(col("sgn") === 1, 1L).otherwise(0L)).as("np"),
          sum(when(col("sgn") === -1, 1L).otherwise(0L)).as("nn"),
          sum("chg").as("r"))
      def D(c: org.apache.spark.sql.Column) = c.cast("double")
      val mu = D(col("np")) * D(col("nn")) * 2 / D(col("ns")) + 1
      val va = (mu - 1) * (mu - 2) / (D(col("ns")) - 1)
      m.select(col("ns").cast("long").as("n_signs"),
        col("np").cast("long").as("n_pos"),
        col("nn").cast("long").as("n_neg"),
        col("r").cast("long").as("n_runs"),
        when(col("np") > 0 && col("nn") > 0 && col("ns") > 1 && va > 0,
          StableRound.round6((D(col("r")) - mu) / sqrt(va))).as("z"))
    }),

    // COHEN'S KAPPA between two quality "raters" over documents — the
    // inter-annotator-agreement number a curation pipeline reports when
    // two cheap filters vote on the same corpus (raw agreement po
    // overstates concordance when both raters mostly say "keep"; κ
    // discounts the chance-agreement floor pe). Raters are
    // deterministic length proxies — A: n_chars ≥ 300, B: whitespace
    // word count ≥ 60 (both median-ish splits, correlated but not
    // identical, which is exactly the regime κ exists for). One scan to
    // a 2×2 integer contingency; po/pe/κ are mirrored straight-line
    // doubles.
    "agg_cohens_kappa" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import graft.StableRound
      val m = Tables.documents(s, d)
        .select((col("n_chars") >= 300).as("ra"),
          (expr("length(text) - length(replace(text, ' ', '')) + 1")
            >= 60).as("rb"))
        .groupBy().agg(count(lit(1)).as("n"),
          sum(when(col("ra") && col("rb"), 1L).otherwise(0L)).as("n11"),
          sum(when(col("ra") && !col("rb"), 1L).otherwise(0L)).as("n10"),
          sum(when(!col("ra") && col("rb"), 1L).otherwise(0L)).as("n01"),
          sum(when(!col("ra") && !col("rb"), 1L).otherwise(0L)).as("n00"))
      def D(c: org.apache.spark.sql.Column) = c.cast("double")
      val po = (D(col("n11")) + D(col("n00"))) / D(col("n"))
      val pe = ((D(col("n11")) + D(col("n10")))
        * (D(col("n11")) + D(col("n01")))
        + (D(col("n01")) + D(col("n00")))
        * (D(col("n10")) + D(col("n00")))) / (D(col("n")) * D(col("n")))
      m.select(col("n").cast("long").as("n"),
        col("n11").cast("long").as("n_both"),
        col("n00").cast("long").as("n_neither"),
        StableRound.round6(po).as("po"),
        StableRound.round6(pe).as("pe"),
        when(pe < 1, StableRound.round6((po - pe) / (lit(1.0) - pe)))
          .as("kappa"))
    }),

    // FORECAST-BASELINE EVALUATION (MASE-style) — per type, the mean
    // absolute error of the SEASONAL-naive forecast (same weekday last
    // week) against the naive one (yesterday), on the zero-filled
    // daily grid: mase < 1 ⇒ the series has real weekly structure a
    // forecaster should exploit; > 1 ⇒ weekly seasonality is noise.
    // The error relation is calendar-bounded; every |delta| is an
    // exact integer, the sums are integer sums, and the two divisions
    // happen once per type row. Scored over the common t ≥ 8 window so
    // both baselines see identical days.
    "agg_forecast_mase" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      import graft.StableRound
      val counts = Tables.events(s, d)
        .withColumn("day", date_trunc("day", col("ts")))
        .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val bounds = counts.agg(min("day").as("d0"), max("day").as("d1"))
      val grid = counts.select("event_type").distinct()
        .crossJoin(broadcast(bounds))
        .select(col("event_type"),
          explode(sequence(col("d0"), col("d1"),
            expr("interval 1 day"))).as("day"))
      val series = grid.join(counts, Seq("event_type", "day"), "left")
        .na.fill(0L, Seq("cnt"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val m = series
        .withColumn("l1", lag("cnt", 1).over(w))
        .withColumn("l7", lag("cnt", 7).over(w))
        .filter(col("l7").isNotNull)
        .groupBy("event_type").agg(count(lit(1)).as("n_days"),
          sum(abs(col("cnt") - col("l1"))).as("e1"),
          sum(abs(col("cnt") - col("l7"))).as("e7"))
      def D(c: org.apache.spark.sql.Column) = c.cast("double")
      m.select(col("event_type"), col("n_days"),
        StableRound.round6(D(col("e1")) / D(col("n_days"))).as("mae1"),
        StableRound.round6(D(col("e7")) / D(col("n_days"))).as("mae7"),
        when(col("e1") > 0,
          StableRound.round6(D(col("e7")) / D(col("e1")))).as("mase"))
    }),

    // GROUPED OLS REGRESSION — price-on-quantity line per return flag,
    // the per-segment trend fit (agg_theil_sen is the robust slope on
    // a time grid; this is the classic least-squares fit on raw pairs,
    // grouped). Six exact integer moments per group in ONE map-side-
    // combined scan (cents × centi-units keeps Σxy ~ n·1e9 well inside
    // DECIMAL(38,0)); slope/intercept/r² are one mirrored straight-
    // line double assembly per group row — and the cents-per-centi-
    // unit slope IS dollars-per-unit, so no unit conversion appears.
    "agg_ols_grouped" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.DecimalType
      import graft.StableRound
      val dec = DecimalType(38, 0)
      val m = Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          round(col("l_quantity") * 100).cast("long").as("x"),
          round(col("l_extendedprice") * 100).cast("long").as("y"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).cast(dec).as("n"),
          sum(col("x").cast(dec)).as("sx"),
          sum(col("y").cast(dec)).as("sy"),
          sum(col("x").cast(dec) * col("y")).as("sxy"),
          sum(col("x").cast(dec) * col("x")).as("sxx"),
          sum(col("y").cast(dec) * col("y")).as("syy"))
      val cov = (col("n") * col("sxy") - col("sx") * col("sy"))
        .cast("double")
      val vx = (col("n") * col("sxx") - col("sx") * col("sx"))
        .cast("double")
      val vy = (col("n") * col("syy") - col("sy") * col("sy"))
        .cast("double")
      val slope = cov / vx
      m.select(col("l_returnflag"), col("n").cast("long").as("n"),
        when(vx > 0, StableRound.round6(slope)).as("slope"),
        when(vx > 0, StableRound.round6(
          (col("sy").cast("double") - slope * col("sx").cast("double"))
            / col("n").cast("double") / 100)).as("intercept"),
        when(vx > 0 && vy > 0, StableRound.round6(cov * cov / (vx * vy)))
          .as("r2"))
    }),

    // MARKOV TRANSITION MATRIX of event types along each user's
    // timeline — the behavioral-sequence model (which action follows
    // which) that powers next-action prediction and funnel-leak
    // diagnosis; for LLM session data this is the state-machine
    // summary of user trajectories. One hash exchange on user_id (the
    // lead window), then exact integer pair counts into the ≤k² cell
    // grid; row-normalized probabilities are one double division per
    // cell. Ordering ties break on event_id, so every user's sequence
    // is total-ordered and the matrix is deterministic.
    "agg_markov_transitions" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      import graft.StableRound
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val pairs = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("cur"))
        .withColumn("nxt", lead("cur", 1).over(w))
        .filter(col("nxt").isNotNull)
        .groupBy("cur", "nxt").agg(count(lit(1)).as("n"))
      val rowTot = pairs.groupBy(col("cur").as("c2"))
        .agg(sum("n").as("rt"))
      pairs.join(broadcast(rowTot), pairs("cur") === rowTot("c2"))
        .select(col("cur"), col("nxt"), col("n"),
          StableRound.round6(
            col("n").cast("double") / col("rt").cast("double")).as("p"))
    }),

    // KAPLAN–MEIER SURVIVAL of user lifetime — the retention curve
    // done right: users whose last activity is the corpus's final day
    // are CENSORED (still alive), not churned, which naive retention
    // curves get wrong. Lifetime = days first→last activity; the
    // lifetime domain is calendar-bounded, so after one scan + one
    // per-user collapse everything is window algebra on ≤|days| rows.
    // S(t) = Π(1 − dᵢ/nᵢ) computes as exp(Σ ln) with each ln term an
    // exact-integer ratio snapped to round6 fixed point — the
    // cumulative product's only cross-row op is an integer sum
    // (tail_index's ln discipline). Extinction rows (dᵢ = nᵢ) emit
    // survival 0 and, being terminal, poison nothing after them.
    "agg_survival_km" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      import graft.StableRound
      val ev = Tables.events(s, d)
        .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      val mx = ev.agg(max("day").as("mxd"))
      val per = ev.groupBy("user_id")
        .agg(min("day").as("f"), max("day").as("l"))
        .crossJoin(broadcast(mx))
        .select(datediff(col("l"), col("f")).cast("long").as("t"),
          when(col("l") === col("mxd"), 1).otherwise(0).as("cens"))
      val dom = per.groupBy("t")
        .agg(count(lit(1)).as("n_t"),
          sum(when(col("cens") === 0, 1L).otherwise(0L)).as("d_t"))
        .localCheckpoint()
      val tot = dom.agg(sum("n_t").as("n"))
      val steps = graft.ops.Prefix.belowBucketed(dom, "t",
          sums = Seq((col("n_t"), "below")), inclusive = false)
        .crossJoin(broadcast(tot))
        .withColumn("atrisk", col("n") - col("below"))
        .filter(col("d_t") > 0)
      val lterm = log((col("atrisk") - col("d_t")).cast("double")
        / col("atrisk").cast("double"))
      val stepped = steps
        .withColumn("l6", when(col("atrisk") > col("d_t"),
          floor(StableRound.round6(lterm) * 1e6 + 0.5).cast("long")))
        .localCheckpoint()
      graft.ops.Prefix.belowBucketed(stepped, "t",
          sums = Seq((col("l6"), "cum6")), inclusive = true)
        .select(col("t"), col("atrisk").as("n_at_risk"),
          col("d_t").as("n_events"),
          when(col("atrisk") > col("d_t"), StableRound.round6(
            exp(col("cum6").cast("double") / 1e6)))
            .otherwise(lit(0.0)).as("survival"))
    }),

    // ABC (PARETO) CLASSIFICATION of parts by revenue — the inventory
    // cut (A ≈ top-80%-of-revenue items, B next 15%, C tail) that
    // turns agg_lorenz_curve's curve into an operating decision. FULLY
    // integer boundaries: a part is class A iff its inclusive
    // cumulative revenue (descending order, partkey tiebreak)
    // satisfies cum·100 ≤ total·80 — cross-multiplication instead of a
    // share division, so classification never touches a float; the
    // output is 3 rows with exact counts and one round6 share each.
    // The global cumulative orders the per-PART aggregate (dimension-
    // sized, not corpus-sized); past ~1e8 parts swap the window for a
    // rangepartition + per-partition-offset two-pass cumsum.
    "agg_abc_analysis" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      import graft.StableRound
      val dec = DecimalType(38, 0)
      val rev = Tables.lineitem(s, d)
        .groupBy("l_partkey")
        .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
          .cast(dec).as("cents"))
      val revC = rev.localCheckpoint()
      val tot = revC.agg(sum("cents").as("ts"))
      graft.ops.Prefix.belowBucketed(revC, "cents",
          tieBreak = Seq("l_partkey"),
          sums = Seq((col("cents"), "cum")), inclusive = true,
          desc = true)
        .crossJoin(broadcast(tot))
        .select(col("cents"),
          when(col("cum") * 100 <= col("ts") * 80, "A")
            .when(col("cum") * 100 <= col("ts") * 95, "B")
            .otherwise("C").as("abc_class"), col("ts"))
        .groupBy("abc_class")
        .agg(count(lit(1)).as("n_parts"),
          StableRound.round6(sum(col("cents")).cast("double")
            / max(col("ts")).cast("double")).as("revenue_share"))
    }),

    // LORENZ CURVE of per-customer spend — agg_gini's curve (gini is
    // 1 − 2·AUC of exactly this): cumulative spend share held by the
    // poorest k customers at each decile, the concentration read a
    // marketplace health report plots. FULLY integer selection: the
    // straddling-row identity "sum of k smallest = below_sum +
    // (k − below_cnt)·c" on the cents-domain relation keeps every term
    // a DECIMAL(38,0) product; one double division per decile at the
    // end. The domain relation is value-bounded (distinct cent totals),
    // so the windows never see the corpus.
    "agg_lorenz_curve" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      import graft.StableRound
      val dec = DecimalType(38, 0)
      val dom = Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(sum(round(col("o_totalprice") * 100).cast("long"))
          .as("cents"))
        .groupBy("cents").agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val rows = graft.ops.Prefix.belowBucketed(dom, "cents",
        sums = Seq((col("cnt"), "below_cnt"),
          (col("cents").cast(dec) * col("cnt"), "below_sum")),
        inclusive = false)
      val tot = dom.agg(sum("cnt").as("n"),
        sum(col("cents").cast(dec) * col("cnt")).as("ts"))
      val deciles = s.range(1, 11).select(col("id").as("decile"))
      rows.crossJoin(broadcast(tot)).crossJoin(broadcast(deciles))
        .withColumn("kd", expr("(n * decile + 9) div 10"))
        .filter(col("below_cnt") < col("kd") &&
          col("below_cnt") + col("cnt") >= col("kd"))
        .select(col("decile"), col("kd").as("k_members"),
          StableRound.round6(
            (col("below_sum") + (col("kd") - col("below_cnt")).cast(dec)
              * col("cents")).cast("double")
              / col("ts").cast("double")).as("cum_share"))
    }),

    // RFM SEGMENTATION — the recency/frequency/monetary customer grid,
    // the classic lifecycle-marketing cut. Quintile scores come from
    // DISCRETE ceil-rank thresholds on each metric's domain relation
    // (never an ntile over all users — that is a single-partition sort
    // at billion-user scale); the four thresholds per metric broadcast
    // and scoring is map-side. r_score is inverted (5 = most recent)
    // per the RFM convention; ties score by value, deterministically.
    // Output = the ≤125-cell segment grid with user counts.
    "agg_rfm" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      import graft.StableRound
      val ev = Tables.events(s, d)
      val mx = ev.agg(max(date_trunc("day", col("ts"))).as("mxd"))
      val per = ev.groupBy("user_id")
        .agg(max(date_trunc("day", col("ts"))).as("last_day"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("freq"),
          coalesce(sum(when(col("event_type") === "purchase",
            round(col("value") * 100).cast("long"))), lit(0L)).as("mon"))
        .crossJoin(broadcast(mx))
        .select(col("user_id"),
          datediff(col("mxd"), col("last_day")).cast("long").as("rec"),
          col("freq"), col("mon"))
        .localCheckpoint()
      def thresholds(c: String, p: String)
          : org.apache.spark.sql.DataFrame = {
        val dom = per.groupBy(col(c).as("v")).agg(count(lit(1)).as("cnt"))
        graft.ops.Prefix.belowBucketed(dom, "v",
            sums = Seq((col("cnt"), "cum")), inclusive = true)
          .crossJoin(broadcast(per.agg(count(lit(1)).as("n"))))
          .groupBy().agg(
            min(when(col("cum") >= expr("(n + 4) div 5"), col("v")))
              .as(s"${p}1"),
            min(when(col("cum") >= expr("(n * 2 + 4) div 5"), col("v")))
              .as(s"${p}2"),
            min(when(col("cum") >= expr("(n * 3 + 4) div 5"), col("v")))
              .as(s"${p}3"),
            min(when(col("cum") >= expr("(n * 4 + 4) div 5"), col("v")))
              .as(s"${p}4"))
      }
      def score(c: String, p: String) =
        lit(1) + (col(c) > col(s"${p}1")).cast("int") +
          (col(c) > col(s"${p}2")).cast("int") +
          (col(c) > col(s"${p}3")).cast("int") +
          (col(c) > col(s"${p}4")).cast("int")
      per
        .crossJoin(broadcast(thresholds("rec", "tr")))
        .crossJoin(broadcast(thresholds("freq", "tf")))
        .crossJoin(broadcast(thresholds("mon", "tm")))
        .select((lit(6) - score("rec", "tr")).as("r_score"),
          score("freq", "tf").as("f_score"),
          score("mon", "tm").as("m_score"))
        .groupBy("r_score", "f_score", "m_score")
        .agg(count(lit(1)).as("n_users"))
    }),

    // LEAD–LAG CROSS-CORRELATION between the daily purchase and view
    // series at lags −3..+3 — "does view volume LEAD purchase volume,
    // and by how many days?" (agg_autocorr asks about a series and
    // itself; the CCF asks between two metrics — the funnel-latency
    // read a growth dashboard wants). One corpus scan to the zero-
    // filled day grid (agg_autocorr's densification — calendar-bounded
    // at any corpus size); the 7-lag pairing is a ≤31×7-row join;
    // per-lag moments are exact DECIMAL(38,0) integers and r is the
    // same mirrored moment assembly as agg_autocorr, null-gated on
    // zero variance.
    "agg_xcorr" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.DecimalType
      import graft.StableRound
      val dec = DecimalType(38, 0)
      val counts = Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "view"))
        .withColumn("day", date_trunc("day", col("ts")))
        .groupBy("day")
        .agg(sum(when(col("event_type") === "purchase", 1L)
            .otherwise(0L)).as("x"),
          sum(when(col("event_type") === "view", 1L)
            .otherwise(0L)).as("y"))
        .localCheckpoint()
      val bounds = counts.agg(min("day").as("d0"), max("day").as("d1"))
      val series = bounds
        .select(explode(sequence(col("d0"), col("d1"),
          expr("interval 1 day"))).as("day"))
        .join(counts, Seq("day"), "left")
        .na.fill(0L, Seq("x", "y"))
        .localCheckpoint()
      val lagDf = s.range(-3, 4).select(col("id").as("lag"))
      val sums = series.select(col("day"), col("x"))
        .crossJoin(broadcast(lagDf))
        .withColumn("dy", expr("day + make_interval(0, 0, 0, lag)"))
        .join(series.select(col("day").as("dy"), col("y")), Seq("dy"))
        .groupBy("lag").agg(
          count(lit(1)).cast(dec).as("m"),
          sum(col("x").cast(dec)).as("sx"),
          sum(col("y").cast(dec)).as("sy"),
          sum((col("x") * col("x")).cast(dec)).as("sxx"),
          sum((col("y") * col("y")).cast(dec)).as("syy"),
          sum((col("x") * col("y")).cast(dec)).as("sxy"))
      val vx = (col("m") * col("sxx") - col("sx") * col("sx"))
        .cast("double")
      val vy = (col("m") * col("syy") - col("sy") * col("sy"))
        .cast("double")
      sums.select(col("lag"), col("m").cast("long").as("n_days"),
        when(vx > 0 && vy > 0, StableRound.round6(
          (col("m") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (sqrt(vx) * sqrt(vy)))).as("r"))
    }),

    // McNEMAR'S TEST on paired per-user conversion across the two
    // halves of the observation month — "did the SAME users change
    // behavior?", the paired sibling of agg_two_prop_ztest (unpaired
    // arms can hide churn that pairing exposes: equal rates with
    // massive b↔c turnover). FULLY exact: one scan to per-user
    // (converted-in-P1, converted-in-P2) bits via max-of-indicator,
    // then χ² = (b−c)²/(b+c) on two integer discordant counts — no
    // rounding bridge needed until the final division. The fixed
    // mid-month split literal keeps the period assignment engine-free.
    "agg_mcnemar" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import graft.StableRound
      val split = lit("2024-01-16 00:00:00").cast("timestamp")
      val per = Tables.events(s, d)
        .groupBy("user_id").agg(
          max(when(col("event_type") === "purchase" && col("ts") < split,
            1).otherwise(0)).as("p1"),
          max(when(col("event_type") === "purchase" && col("ts") >= split,
            1).otherwise(0)).as("p2"))
      def D(c: org.apache.spark.sql.Column) = c.cast("double")
      per.groupBy().agg(count(lit(1)).as("n"),
          sum(when(col("p1") === 1 && col("p2") === 0, 1L).otherwise(0L))
            .as("b"),
          sum(when(col("p1") === 0 && col("p2") === 1, 1L).otherwise(0L))
            .as("c"))
        .select(col("n").cast("long").as("n"),
          col("b").cast("long").as("n_lost"),
          col("c").cast("long").as("n_gained"),
          when(col("b") + col("c") > 0, StableRound.round6(
            (D(col("b")) - D(col("c"))) * (D(col("b")) - D(col("c")))
              / (D(col("b")) + D(col("c"))))).as("chi2"))
    }),

    // FRIEDMAN TEST — "does event type systematically rank higher in
    // value, controlling for the day?" (the repeated-measures cousin
    // of agg_kruskal_wallis: each calendar day is a block, types are
    // ranked WITHIN the day, so day-level volume/level shifts cancel).
    // One scan to the (day, type) cell relation — calendar-bounded at
    // any corpus size; cell means are exact-integer ratios in
    // deterministic IEEE double; midranks via rank() + (ties−1)/2 are
    // integers-or-halves (exactly representable, order-free sums);
    // per-type Rj² snaps to round6 and sums as fixed-point longs over
    // ≤|types| rows. Incomplete blocks (days missing a type) drop —
    // the classical complete-block requirement.
    "agg_friedman" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      import graft.StableRound
      val dec = DecimalType(38, 0)
      val cells = Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("day_start"),
          col("event_type"))
        .agg(sum(round(col("value") * 100).cast("long").cast(dec)).as("sc"),
          count(lit(1)).as("nc"))
        .localCheckpoint()
      val kdf = cells.agg(countDistinct("event_type").as("k"))
      val complete = cells
        .select(col("day_start"), col("event_type"),
          (col("sc").cast("double") / col("nc").cast("double")).as("m"))
        .withColumn("nt",
          count(lit(1)).over(Window.partitionBy("day_start")))
        .crossJoin(broadcast(kdf))
        .filter(col("nt") === col("k"))
      val ranked = complete
        .withColumn("rk", rank().over(
          Window.partitionBy("day_start").orderBy("m")))
        .withColumn("ct", count(lit(1)).over(
          Window.partitionBy("day_start", "m")))
        .select(col("event_type"), col("k"),
          (col("rk") + (col("ct") - 1) / 2.0).as("mr"))
      val rj = ranked.groupBy("event_type")
        .agg(max("k").as("k"), count(lit(1)).as("nb"), sum("mr").as("rj"))
      val agg = rj
        .select(col("k"), col("nb"),
          // DECIMAL(38,0) accumulator — same int64-headroom widen as
          // agg_anova's between-term (Rj²·1e6; ADVICE r12)
          floor((StableRound.round6(col("rj") * col("rj")) * 1e6 + 0.5)
            .cast(org.apache.spark.sql.types.DecimalType(38, 6)))
            .as("t6"))
        .groupBy().agg(max("k").as("k"), max("nb").as("n_blocks"),
          sum("t6").as("s6"))
      def D(c: org.apache.spark.sql.Column) = c.cast("double")
      val q = (lit(12.0) / (D(col("n_blocks")) * D(col("k"))
        * (D(col("k")) + 1)) * (D(col("s6")) / 1e6)) -
        (D(col("n_blocks")) * 3 * (D(col("k")) + 1))
      agg.select(col("n_blocks").cast("long").as("n_blocks"),
        col("k").cast("long").as("k"),
        when(col("n_blocks") > 0 && col("k") > 1,
          StableRound.round6(q)).as("q_stat"))
    }),

    // TWO-PROPORTION POOLED Z-TEST of purchase rate between user-parity
    // arms — the conversion-rate A/B primitive (agg_ab_ttest compares
    // MEANS of a value; this compares RATES of a binary outcome, the
    // more common experiment readout). Arm assignment is deterministic
    // (user_id % 2 — the repo's seedless split idiom), counts are four
    // exact integers from one scan, and z = (p̂a−p̂b)/√(p̂(1−p̂)(1/na+1/nb))
    // is a mirrored straight-line double. Degenerate pools (p̂ ∈ {0,1})
    // emit null z, not ±∞.
    "agg_two_prop_ztest" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import graft.StableRound
      val m = Tables.events(s, d)
        .select((col("user_id") % 2 === 0).as("isa"),
          (col("event_type") === "purchase").as("conv"))
        .groupBy().agg(
          sum(when(col("isa"), 1L).otherwise(0L)).as("na"),
          sum(when(!col("isa"), 1L).otherwise(0L)).as("nb"),
          sum(when(col("isa") && col("conv"), 1L).otherwise(0L)).as("xa"),
          sum(when(!col("isa") && col("conv"), 1L).otherwise(0L)).as("xb"))
      def D(c: org.apache.spark.sql.Column) = c.cast("double")
      val pa = D(col("xa")) / D(col("na"))
      val pb = D(col("xb")) / D(col("nb"))
      val pp = (D(col("xa")) + D(col("xb"))) / (D(col("na")) + D(col("nb")))
      m.select(col("na").cast("long").as("n_a"),
        col("nb").cast("long").as("n_b"),
        col("xa").cast("long").as("x_a"),
        col("xb").cast("long").as("x_b"),
        StableRound.round6(pa).as("p_a"),
        StableRound.round6(pb).as("p_b"),
        when(col("na") > 0 && col("nb") > 0 && pp > 0 && pp < 1,
          StableRound.round6((pa - pb) /
            sqrt(pp * (lit(1.0) - pp)
              * (lit(1.0) / D(col("na")) + lit(1.0) / D(col("nb"))))))
          .as("z"))
    }),
  )

  def oracle: Map[String, String] = Map(
    "agg_quantiles_grouped" ->
      s"""SELECT l_returnflag,
        |  ${graft.StableRound.sql6("quantile_cont(l_extendedprice, 0.5)")}
        |    AS p50,
        |  ${graft.StableRound.sql6("quantile_cont(l_extendedprice, 0.95)")}
        |    AS p95
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    // mirrors Stats.welchTTest token-for-token (HUGEINT = decimal sums,
    // same association, sqrt/mul only)
    "agg_ab_ttest" ->
      s"""WITH a AS (SELECT
        |    CAST(count(*) FILTER (event_type = 'purchase') AS DOUBLE) AS n1,
        |    CAST(sum(CAST(round(value*100) AS HUGEINT))
        |      FILTER (event_type = 'purchase') AS DOUBLE) AS a1,
        |    CAST(sum(CAST(round(value*100) AS HUGEINT)
        |        * CAST(round(value*100) AS HUGEINT))
        |      FILTER (event_type = 'purchase') AS DOUBLE) AS b1,
        |    CAST(count(*) FILTER (event_type = 'view') AS DOUBLE) AS n2,
        |    CAST(sum(CAST(round(value*100) AS HUGEINT))
        |      FILTER (event_type = 'view') AS DOUBLE) AS a2,
        |    CAST(sum(CAST(round(value*100) AS HUGEINT)
        |        * CAST(round(value*100) AS HUGEINT))
        |      FILTER (event_type = 'view') AS DOUBLE) AS b2
        |  FROM events),
        |m AS (SELECT n1, n2,
        |    a1/n1/100 AS m1, a2/n2/100 AS m2,
        |    (b1 - a1*a1/n1)/(n1 - 1.0)/100/100 AS v1,
        |    (b2 - a2*a2/n2)/(n2 - 1.0)/100/100 AS v2
        |  FROM a),
        |e AS (SELECT n1, n2, m1, m2, v1/n1 AS se1, v2/n2 AS se2 FROM m)
        |SELECT CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_b,
        |  ${graft.StableRound.sql6("m1")} AS mean_a,
        |  ${graft.StableRound.sql6("m2")} AS mean_b,
        |  ${graft.StableRound.sql6("(m1 - m2) / sqrt(se1 + se2)")}
        |    AS t_stat,
        |  ${graft.StableRound.sql6(
           "(se1 + se2) * (se1 + se2) / (se1*se1/(n1 - 1.0) + se2*se2/(n2 - 1.0))")}
        |    AS dof
        |FROM e""".stripMargin,

    // HUGEINT power sums = Spark's decimal(38,0) sums, exactly; the
    // moment formula below mirrors Stats.skewKurtExact token-for-token
    // (same association, sqrt(m2)*m2 instead of pow)
    "agg_skew_kurt" ->
      """WITH b AS (SELECT l_returnflag,
        |    CAST(round(l_extendedprice * 100) AS HUGEINT) AS c
        |  FROM lineitem),
        |s AS (SELECT l_returnflag,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(c) AS DOUBLE) AS s1,
        |    CAST(sum(c*c) AS DOUBLE) AS s2,
        |    CAST(sum((c*c)*c) AS DOUBLE) AS s3,
        |    CAST(sum((c*c)*(c*c)) AS DOUBLE) AS s4
        |  FROM b GROUP BY l_returnflag),
        |r AS (SELECT l_returnflag, n,
        |    s1/n AS mu, s2/n AS r2, s3/n AS r3, s4/n AS r4 FROM s),
        |m AS (SELECT l_returnflag, n,
        |    r2 - mu*mu AS m2,
        |    r3 - 3.0*mu*r2 + 2.0*mu*mu*mu AS m3,
        |    r4 - 4.0*mu*r3 + 6.0*mu*mu*r2 - 3.0*mu*mu*mu*mu AS m4
        |  FROM r)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  CAST(round(CAST(m3 / (sqrt(m2) * m2) AS DECIMAL(27,12)), 6)
        |    AS DOUBLE) AS skew,
        |  CAST(round(CAST(m4 / (m2 * m2) - 3.0 AS DECIMAL(27,12)), 6)
        |    AS DOUBLE) AS kurt_excess
        |FROM m""".stripMargin,

    // HUGEINT (128-bit) carries the same exact integers as Spark's
    // DECIMAL(38,0); the inequality is evaluated with zero float ops
    "agg_outlier_zscore" ->
      """WITH b AS (SELECT event_id, event_type, value,
        |    CAST(round(value * 100) AS HUGEINT) AS c FROM events),
        |s AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(c) AS HUGEINT) AS s1,
        |    CAST(sum(c*c) AS HUGEINT) AS s2
        |  FROM b GROUP BY 1)
        |SELECT event_id, event_type, value
        |FROM b JOIN s USING (event_type)
        |WHERE (n*c - s1)*(n*c - s1) > 9*(n*s2 - s1*s1)""".stripMargin,

    "dq_checks" ->
      """WITH a AS (SELECT
        |    count(*) FILTER (o_orderkey IS NULL) AS v_pk,
        |    count(*) FILTER (o_totalprice <= 0) AS v_price,
        |    count(*) FILTER (o_orderdate NOT BETWEEN TIMESTAMP '1992-01-01'
        |      AND TIMESTAMP '2003-12-31') AS v_date,
        |    count(*) FILTER (o_orderstatus NOT IN ('F','O','P')) AS v_status,
        |    count(*) FILTER (isodow(o_orderdate) - 1 >= 5) AS v_weekend
        |  FROM orders),
        |r AS (SELECT count(*) AS v_ref FROM orders o
        |  LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_custkey IS NULL),
        |m(rule, n_violations) AS (
        |  SELECT 'o_orderkey_not_null', v_pk FROM a UNION ALL
        |  SELECT 'o_totalprice_positive', v_price FROM a UNION ALL
        |  SELECT 'o_orderdate_in_range', v_date FROM a UNION ALL
        |  SELECT 'o_orderstatus_domain', v_status FROM a UNION ALL
        |  SELECT 'no_weekend_orders', v_weekend FROM a UNION ALL
        |  SELECT 'o_custkey_references_customer', v_ref FROM r)
        |SELECT rule, n_violations, n_violations = 0 AS pass FROM m"""
        .stripMargin,

    "agg_minmax_scale" ->
      s"""SELECT l_orderkey, l_linenumber, l_partkey,
        |  CASE WHEN mx > mn THEN
        |    ${graft.StableRound.sql6("(l_extendedprice - mn) / (mx - mn)")}
        |  END AS scaled
        |FROM lineitem
        |JOIN (SELECT l_partkey, min(l_extendedprice) AS mn,
        |        max(l_extendedprice) AS mx
        |      FROM lineitem GROUP BY 1) USING (l_partkey)""".stripMargin,

    "agg_histogram" ->
      """SELECT CAST(floor((l_extendedprice - 900.0) / 5000.0) AS BIGINT)
        |    AS bucket,
        |  count(*) AS n,
        |  min(l_extendedprice) AS lo,
        |  max(l_extendedprice) AS hi
        |FROM lineitem GROUP BY 1""".stripMargin,

    "agg_describe" -> {
      val cs = descCols
      def row(label: String, f: String => String) =
        s"SELECT '$label' AS stat, " +
          cs.map(c => s"${f(c)} AS $c").mkString(", ") + " FROM lineitem"
      Seq(
        row("count", c => s"CAST(count($c) AS DOUBLE)"),
        row("mean", c => s"CAST(round(CAST(avg($c) AS DECIMAL(27,12)), 6) AS DOUBLE)"),
        row("std", c => s"round(stddev_samp($c), 6)"),
        row("min", c => s"CAST(min($c) AS DOUBLE)"),
        row("25%", c => s"round(quantile_cont($c, 0.25), 6)"),
        row("50%", c => s"round(quantile_cont($c, 0.5), 6)"),
        row("75%", c => s"round(quantile_cont($c, 0.75), 6)"),
        row("max", c => s"CAST(max($c) AS DOUBLE)"),
      ).mkString("\nUNION ALL\n")
    },

    "agg_describe_all" -> {
      val num = Seq("event_id", "user_id", "value")
      val str = Seq("event_type")
      val ts = Seq("ts")
      val NULL = "CAST(NULL AS VARCHAR)"
      // DECIMAL(28,6)→VARCHAR renders a fixed 6-digit scale identically in
      // both engines — the cross-engine-stable string form of a double cell
      def dec(e: String) = s"CAST(CAST($e AS DECIMAL(28,6)) AS VARCHAR)"
      def tsf(e: String) = s"strftime($e, '%Y-%m-%d %H:%M:%S')"
      def topSub(c: String, field: String) =
        s"(SELECT $field FROM (SELECT $c AS v, count(*) AS n FROM events " +
          s"WHERE $c IS NOT NULL GROUP BY 1 ORDER BY n DESC, v LIMIT 1))"
      def cell(c: String, stat: String): String = stat match {
        case "count" => s"CAST(count($c) AS VARCHAR)"
        case "unique" =>
          if (str.contains(c)) s"CAST(count(DISTINCT $c) AS VARCHAR)" else NULL
        case "top" =>
          if (str.contains(c)) topSub(c, "v") else NULL
        case "freq" =>
          if (str.contains(c)) s"CAST(${topSub(c, "n")} AS VARCHAR)" else NULL
        case "mean" =>
          if (num.contains(c))
            dec(s"round(CAST(avg($c) AS DECIMAL(27,12)), 6)")
          else if (ts.contains(c))
            tsf(s"make_timestamp((CAST(sum(floor(epoch($c))) AS BIGINT) " +
              s"// count($c)) * 1000000)")
          else NULL
        case "std" =>
          if (num.contains(c)) dec(s"round(stddev_samp($c), 6)") else NULL
        case "min" | "max" =>
          if (num.contains(c)) dec(s"$stat($c)")
          else if (ts.contains(c)) tsf(s"CAST($stat($c) AS TIMESTAMP)")
          else NULL
        case pct => // "25%" | "50%" | "75%"
          val q = pct.stripSuffix("%").toInt / 100.0
          if (num.contains(c)) dec(s"round(quantile_cont($c, $q), 6)")
          else NULL
      }
      Seq("count", "unique", "top", "freq", "mean", "std",
          "min", "25%", "50%", "75%", "max").map { stat =>
        // top/freq rows hold only scalar subqueries and NULLs — no
        // aggregate, so a FROM clause would fan out to one row per event
        val from = if (stat == "top" || stat == "freq") "" else " FROM events"
        s"SELECT '$stat' AS stat, " +
          allCols.map(c => s"""${cell(c, stat)} AS $c""").mkString(", ") +
          from
      }.mkString("\nUNION ALL\n")
    },

    // value-level counting relation: identical integer identities, only
    // the final z assembly is float — mirrored factor-for-factor
    "agg_mann_whitney" ->
      """WITH v AS (
        |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
        |    count(*) AS cnt,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS cnt_a
        |  FROM events WHERE event_type IN ('purchase', 'view')
        |  GROUP BY 1),
        |r AS (
        |  SELECT cnt, cnt_a,
        |    COALESCE(sum(cnt) OVER (ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS below
        |  FROM v),
        |a AS (
        |  SELECT sum(cnt_a) AS n_a, sum(cnt) AS n,
        |    sum(cnt_a * (below * 2 + cnt + 1)) AS r2a,
        |    sum(cnt * cnt * cnt - cnt) AS ties
        |  FROM r)
        |SELECT CAST(n_a AS BIGINT) AS n_a,
        |  CAST(n - n_a AS BIGINT) AS n_b,
        |  CAST(r2a - n_a * (n_a + 1) AS BIGINT) AS u2_a,
        |  CAST(round(CAST(
        |    CAST(r2a - n_a * (n_a + 1) - n_a * (n - n_a) AS DOUBLE)
        |    / (sqrt(CAST(n_a * (n - n_a) AS DOUBLE)
        |        * CAST((n + 1) * n * (n - 1) - ties AS DOUBLE)
        |        / CAST(n * (n - 1) * 12 AS DOUBLE)) * 2)
        |    AS DECIMAL(27,12)), 6) AS DOUBLE) AS z
        |FROM a""".stripMargin,

    // the A&S 7.1.26 tail polynomial in the SAME Horner arithmetic as
    // the Spark side; all moments exact integer sums; ranks/cut replay
    // under the round6 snap on p and threshold
    "agg_bh_fdr" -> {
      val r6 = graft.StableRound.sql6 _
      val zExpr =
        "(CAST(si AS DOUBLE) / CAST(ni AS DOUBLE)" +
        " - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))" +
        " / sqrt((CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)" +
        " - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))" +
        " * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))" +
        " / CAST(ni AS DOUBLE))"
      s"""WITH b AS (SELECT n_name,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey),
        |per AS (SELECT n_name, count(*) AS ni, sum(c) AS si
        |  FROM b GROUP BY 1),
        |g AS (SELECT count(*) AS n, sum(c) AS s, sum(c * c) AS ss FROM b),
        |zz AS (SELECT n_name, ni, $zExpr AS z FROM per, g),
        |pp AS (SELECT n_name, ni, z, abs(z) AS az,
        |    1.0 / (1.0 + 0.2316419 * abs(z)) AS t FROM zz),
        |sc AS (SELECT n_name, CAST(ni AS BIGINT) AS n_orders,
        |    ${r6("z")} AS z6,
        |    ${r6("2.0 * exp(-az * az / 2.0) * 0.3989422804014327" +
             " * (((((1.330274429 * t - 1.821255978) * t" +
             " + 1.781477937) * t - 0.356563782) * t" +
             " + 0.319381530) * t)")} AS p6
        |  FROM pp),
        |mm AS (SELECT count(*) AS m FROM sc),
        |r AS (SELECT sc.*, CAST(row_number() OVER (ORDER BY p6, n_name)
        |    AS BIGINT) AS rnk FROM sc),
        |rt AS (SELECT r.*, ${r6("CAST(0.1 AS DOUBLE) * rnk / m")} AS thr6
        |  FROM r, mm),
        |k AS (SELECT COALESCE(max(CASE WHEN p6 <= thr6 THEN rnk END),
        |    0) AS kmax FROM rt)
        |SELECT n_name, n_orders, z6, p6, rnk, thr6, rnk <= kmax AS reject
        |FROM rt, k""".stripMargin
    },

    "agg_wilcoxon_signed_rank" ->
      s"""WITH ev AS (
        |  SELECT user_id,
        |    sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
        |      ELSE 0 END) AS sp,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS np,
        |    sum(CASE WHEN event_type = 'view'
        |      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
        |      ELSE 0 END) AS sv,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS nv
        |  FROM events WHERE event_type IN ('purchase', 'view')
        |  GROUP BY 1),
        |d AS (SELECT sp - sv AS dd FROM ev
        |  WHERE np > 0 AND nv > 0 AND sp <> sv),
        |b AS (SELECT abs(dd) AS ad, count(*) AS cnt,
        |    sum(CASE WHEN dd > 0 THEN 1 ELSE 0 END) AS cnt_pos
        |  FROM d GROUP BY 1),
        |r AS (SELECT cnt, cnt_pos,
        |    COALESCE(sum(cnt) OVER (ORDER BY ad
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS below
        |  FROM b),
        |a AS (SELECT sum(cnt) AS n,
        |    sum(cnt_pos * (below * 2 + cnt + 1)) AS w2,
        |    sum(cnt * cnt * cnt - cnt) AS ties
        |  FROM r)
        |SELECT CAST(n AS BIGINT) AS n_pairs, CAST(w2 AS BIGINT) AS w2_plus,
        |  ${graft.StableRound.sql6(
             "(CAST(w2 AS DOUBLE) - CAST(n * (n + 1) AS DOUBLE) / 2.0)" +
             " / sqrt(CAST(n * (n + 1) * (n * 2 + 1) AS DOUBLE) / 6.0" +
             " - CAST(ties AS DOUBLE) / 12.0)")} AS z
        |FROM a""".stripMargin,

    // exact cent-integer leading digit (int→string, never float log10)
    "agg_benford" ->
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5)
        |      AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit,
        |    count(*) AS n_d
        |  FROM orders GROUP BY 1),
        |t AS (SELECT sum(n_d) AS n FROM d)
        |SELECT digit, CAST(n_d AS BIGINT) AS n_d,
        |  CAST(round(CAST(CAST(n_d AS DOUBLE) / CAST(n AS DOUBLE)
        |    AS DECIMAL(27,12)), 6) AS DOUBLE) AS share,
        |  CAST(round(CAST(log10(1.0 + 1.0 / CAST(digit AS DOUBLE))
        |    AS DECIMAL(27,12)), 6) AS DOUBLE) AS benford,
        |  CAST(round(CAST(CAST(n_d AS DOUBLE) / CAST(n AS DOUBLE)
        |    - log10(1.0 + 1.0 / CAST(digit AS DOUBLE))
        |    AS DECIMAL(27,12)), 6) AS DOUBLE) AS dev
        |FROM d CROSS JOIN t""".stripMargin,

    // contingency margins exact (DuckDB HUGEINT mirrors DECIMAL(38,0));
    // per-cell double term snapped to the round6 grid and summed as
    // 1e6 fixed-point BIGINTs — no cross-engine float sum
    "agg_chi2" -> {
      val t6 = "CAST(floor(" + graft.StableRound.sql6(
        "CAST(nn*n - r*cc AS DOUBLE) * CAST(nn*n - r*cc AS DOUBLE) " +
          "/ CAST(nn*r*cc AS DOUBLE)") +
        " * 1000000 + 0.5) AS BIGINT)"
      s"""WITH ev AS (SELECT event_type, dayofweek(ts) AS dow FROM events),
         |c AS (SELECT event_type, dow, count(*) AS n FROM ev
         |  GROUP BY 1, 2),
         |r AS (SELECT event_type, sum(n) AS r FROM c GROUP BY 1),
         |cm AS (SELECT dow, sum(n) AS cc FROM c GROUP BY 1),
         |t AS (SELECT sum(n) AS nn, count(DISTINCT event_type) AS nr,
         |    count(DISTINCT dow) AS nc FROM c),
         |g AS (SELECT r.r, cm.cc, COALESCE(c.n, 0) AS n, t.nn, t.nr, t.nc
         |  FROM r CROSS JOIN cm CROSS JOIN t
         |  LEFT JOIN c ON c.event_type = r.event_type AND c.dow = cm.dow),
         |s AS (SELECT max(nn) AS nn, max(nr) AS nr, max(nc) AS nc,
         |    sum($t6) AS ssum6 FROM g)
         |SELECT CAST(nn AS BIGINT) AS n,
         |  CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof,
         |  ${graft.StableRound.sql6("CAST(ssum6 AS DOUBLE) / 1000000.0")}
         |    AS chi2,
         |  ${graft.StableRound.sql6(
               "sqrt(CAST(ssum6 AS DOUBLE) / 1000000.0 " +
                 "/ CAST(nn * least(nr - 1, nc - 1) AS DOUBLE))")}
         |    AS cramers_v
         |FROM s""".stripMargin
    },

    // per-term l6 fixed point; the only cross-engine sum is integer
    "agg_shannon_diversity" -> {
      val t6 = "CAST(floor(" + graft.StableRound.sql6(
        "-(CAST(n AS DOUBLE) / CAST(nd AS DOUBLE)) " +
          "* ln(CAST(n AS DOUBLE) / CAST(nd AS DOUBLE))") +
        " * 1000000 + 0.5) AS BIGINT)"
      s"""WITH c AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP)
         |      AS day_start, event_type, count(*) AS n
         |  FROM events GROUP BY 1, 2),
         |t AS (SELECT day_start, sum(n) AS nd, count(*) AS k
         |  FROM c GROUP BY 1),
         |g AS (SELECT c.day_start, t.nd, t.k, $t6 AS t6
         |  FROM c JOIN t USING (day_start))
         |SELECT day_start, CAST(max(nd) AS BIGINT) AS n_day,
         |  CAST(max(k) AS BIGINT) AS n_types,
         |  ${graft.StableRound.sql6("CAST(sum(t6) AS DOUBLE) / 1000000.0")}
         |    AS entropy,
         |  CASE WHEN max(k) > 1 THEN ${graft.StableRound.sql6(
              "CAST(sum(t6) AS DOUBLE) / 1000000.0 " +
                "/ ln(CAST(max(k) AS DOUBLE))")} ELSE 0.0 END
         |    AS norm_entropy
         |FROM g GROUP BY 1""".stripMargin
    },

    // zero-filled day grid; slopes as 1e6 fixed-point longs, DISCRETE
    // median by sorted-list element selection
    "agg_theil_sen" -> {
      val s6 = "CAST(floor(" + graft.StableRound.sql6(
        "CAST(b.cnt - a.cnt AS DOUBLE) / CAST(b.t - a.t AS DOUBLE)") +
        " * 1000000 + 0.5) AS BIGINT)"
      s"""WITH c AS (SELECT event_type,
         |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         |    count(*) AS cnt FROM events GROUP BY 1, 2),
         |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM c),
         |grid AS (SELECT t.event_type, g.day
         |  FROM (SELECT DISTINCT event_type FROM c) t
         |  CROSS JOIN (SELECT unnest(generate_series(d0, d1,
         |    INTERVAL 1 DAY)) AS day FROM b) g),
         |s AS (SELECT grid.event_type,
         |    date_diff('day', TIMESTAMP '2024-01-01', grid.day) AS t,
         |    COALESCE(c.cnt, 0) AS cnt
         |  FROM grid LEFT JOIN c ON c.event_type = grid.event_type
         |    AND c.day = grid.day),
         |p AS (SELECT a.event_type, $s6 AS s6
         |  FROM s a JOIN s b ON a.event_type = b.event_type
         |    AND b.t > a.t),
         |l AS (SELECT event_type, count(*) AS n_pairs,
         |    list_sort(list(s6)) AS sl FROM p GROUP BY 1)
         |SELECT event_type, CAST(n_pairs AS BIGINT) AS n_pairs,
         |  ${graft.StableRound.sql6(
              "CAST(sl[CAST(ceil(len(sl) * 0.5) AS INT)] AS DOUBLE) " +
                "/ 1000000.0")} AS ts_slope
         |FROM l""".stripMargin
    },

    // same series CTE as theil_sen; S and 18·Var(S) exact integers,
    // the continuity-corrected z one mirrored straight line, the label
    // compares the snapped z to ±1.96
    "agg_mann_kendall" -> {
      def zb(off: String) = "CAST(s_stat " + off + " 1 AS DOUBLE) " +
        "/ sqrt(CAST(var18 AS DOUBLE) / CAST(18 AS DOUBLE))"
      s"""WITH c AS (SELECT event_type,
         |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         |    count(*) AS cnt FROM events GROUP BY 1, 2),
         |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM c),
         |grid AS (SELECT t.event_type, g.day
         |  FROM (SELECT DISTINCT event_type FROM c) t
         |  CROSS JOIN (SELECT unnest(generate_series(d0, d1,
         |    INTERVAL 1 DAY)) AS day FROM b) g),
         |s AS (SELECT grid.event_type,
         |    date_diff('day', TIMESTAMP '2024-01-01', grid.day) AS t,
         |    COALESCE(c.cnt, 0) AS cnt
         |  FROM grid LEFT JOIN c ON c.event_type = grid.event_type
         |    AND c.day = grid.day),
         |st AS (SELECT a.event_type, CAST(sum(CASE
         |      WHEN b.cnt > a.cnt THEN 1
         |      WHEN b.cnt < a.cnt THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
         |  FROM s a JOIN s b ON a.event_type = b.event_type AND b.t > a.t
         |  GROUP BY 1),
         |nn AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
         |  FROM s GROUP BY 1),
         |tg AS (SELECT event_type,
         |    CAST(sum(tt * (tt - 1) * (2 * tt + 5)) AS BIGINT) AS tsum
         |  FROM (SELECT event_type, cnt, count(*) AS tt FROM s
         |    GROUP BY 1, 2) GROUP BY 1),
         |v AS (SELECT nn.event_type, nn.n_days, st.s_stat,
         |    CAST(nn.n_days * (nn.n_days - 1) * (2 * nn.n_days + 5)
         |      - tg.tsum AS BIGINT) AS var18
         |  FROM nn JOIN st USING (event_type) JOIN tg USING (event_type)),
         |zz AS (SELECT event_type, n_days, s_stat, var18,
         |    ${graft.StableRound.sql6(
              "CASE WHEN s_stat > 0 THEN " + zb("-") +
              " WHEN s_stat < 0 THEN " + zb("+") +
              " ELSE CAST(0 AS DOUBLE) END")} AS z
         |  FROM v)
         |SELECT event_type, n_days, s_stat, var18, z,
         |  CASE WHEN z > CAST(1.96 AS DOUBLE) THEN 'increasing'
         |       WHEN z < CAST(-1.96 AS DOUBLE) THEN 'decreasing'
         |       ELSE 'no_trend' END AS trend
         |FROM zz""".stripMargin
    },

    // zero-filled hour grid + lead pairs; integer sufficient statistics,
    // float only in the final Pearson assembly (mirrored shape)
    "agg_autocorr" ->
      """WITH ev AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h FROM events),
        |b AS (SELECT min(h) AS h0, max(h) AS h1 FROM ev),
        |grid AS (
        |  SELECT t.event_type, g.h
        |  FROM (SELECT DISTINCT event_type FROM ev) t
        |  CROSS JOIN (SELECT unnest(generate_series(h0, h1,
        |    INTERVAL 1 HOUR)) AS h FROM b) g),
        |series AS (
        |  SELECT grid.event_type, grid.h, COALESCE(c.cnt, 0) AS cnt
        |  FROM grid LEFT JOIN (
        |    SELECT event_type, h, count(*) AS cnt FROM ev GROUP BY 1, 2) c
        |  ON grid.event_type = c.event_type AND grid.h = c.h),
        |p AS (
        |  SELECT event_type, cnt,
        |    lead(cnt) OVER (PARTITION BY event_type ORDER BY h) AS nxt
        |  FROM series),
        |a AS (
        |  SELECT event_type, count(*) AS m, sum(cnt) AS sx,
        |    sum(nxt) AS sy, sum(cnt * cnt) AS sxx,
        |    sum(nxt * nxt) AS syy, sum(cnt * nxt) AS sxy
        |  FROM p WHERE nxt IS NOT NULL GROUP BY 1)
        |SELECT event_type, CAST(m AS BIGINT) AS m,
        |  CAST(round(CAST(
        |    CAST(m * sxy - sx * sy AS DOUBLE)
        |    / (sqrt(CAST(m * sxx - sx * sx AS DOUBLE))
        |       * sqrt(CAST(m * syy - sy * sy AS DOUBLE)))
        |    AS DECIMAL(27,12)), 6) AS DOUBLE) AS acf1
        |FROM a""".stripMargin,

    "agg_corr" ->
      """SELECT CAST(round(CAST(corr(l_quantity, l_extendedprice)
        |    AS DECIMAL(27,12)), 6) AS DOUBLE) AS corr_qty_price,
        |  CAST(round(CAST(corr(l_discount, l_tax)
        |    AS DECIMAL(27,12)), 6) AS DOUBLE) AS corr_disc_tax,
        |  round(covar_samp(l_quantity, l_extendedprice), 4)
        |    AS covar_qty_price
        |FROM lineitem""".stripMargin,

    "agg_describe_ts" ->
      """SELECT count(ts) AS n,
        |  make_timestamp((CAST(sum(floor(epoch(ts))) AS BIGINT)
        |    // count(ts)) * 1000000) AS mean_ts,
        |  CAST(min(ts) AS TIMESTAMP) AS min_ts,
        |  CAST(max(ts) AS TIMESTAMP) AS max_ts
        |FROM events""".stripMargin,

    "agg_mode" ->
      """WITH c1 AS (SELECT CAST(event_type AS VARCHAR) AS v, count(*) AS n
        |           FROM events GROUP BY 1),
        |r1 AS (SELECT v, row_number() OVER (ORDER BY v) AS rw
        |       FROM c1 WHERE n = (SELECT max(n) FROM c1)),
        |c2 AS (SELECT CAST(user_id AS VARCHAR) AS v, count(*) AS n
        |       FROM events GROUP BY 1),
        |r2 AS (SELECT v, row_number() OVER (ORDER BY v) AS rw
        |       FROM c2 WHERE n = (SELECT max(n) FROM c2))
        |SELECT coalesce(r1.rw, r2.rw) AS row_idx,
        |  r1.v AS event_type, r2.v AS user_id
        |FROM r1 FULL OUTER JOIN r2 ON r1.rw = r2.rw""".stripMargin,

    // mirrors Stats.rollingMadOutliers: same 25-int sorted-list median,
    // same integer gate — no float ever exists on either side
    "ts_anomaly_mad" ->
      """WITH b AS (SELECT event_id, event_type, ts, value,
        |    CAST(round(value*100) AS BIGINT) AS c FROM events),
        |w AS (SELECT event_id, event_type, ts, value, c,
        |    list(c) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |      ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS arr
        |  FROM b),
        |m AS (SELECT *, list_sort(arr)[13] AS med
        |  FROM w WHERE len(arr) = 25),
        |d AS (SELECT *,
        |    list_sort(list_transform(arr, x -> abs(x - med)))[13] AS mad
        |  FROM m)
        |SELECT event_id, event_type, ts, value,
        |  med AS med_cents, mad AS mad_cents
        |FROM d WHERE 10000 * abs(c - med) > 44478 * mad""".stripMargin,

    // plain global-rank identity — equivalent to the two-level counting
    // form because Σi·xᵢ is tie-permutation-invariant
    "agg_gini" ->
      s"""WITH s AS (SELECT o_custkey,
        |    sum(CAST(round(o_totalprice*100) AS BIGINT)) AS c
        |  FROM orders GROUP BY 1),
        |r AS (SELECT c, row_number() OVER (ORDER BY c, o_custkey) AS i
        |  FROM s),
        |a AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(c) AS HUGEINT) AS sx,
        |    CAST(sum(CAST(i AS HUGEINT) * c) AS HUGEINT) AS six
        |  FROM r)
        |SELECT CAST(n AS BIGINT) AS n_keys, CAST(sx AS BIGINT)
        |    AS total_cents,
        |  ${graft.StableRound.sql6(
             "(2.0 * CAST(six AS DOUBLE) - (CAST(n AS DOUBLE) + 1.0) " +
             "* CAST(sx AS DOUBLE)) / (CAST(n AS DOUBLE) " +
             "* CAST(sx AS DOUBLE))")} AS gini
        |FROM a""".stripMargin,

    // same integer-lifted log terms (ln is natural log on both engines;
    // DuckDB `log` is log10 — never use it here)
    "agg_psi_drift" -> {
      def l6(e: String) =
        s"CAST(floor(${graft.StableRound.sql6(s"ln($e)")} " +
          "* 1000000 + 0.5) AS BIGINT)"
      s"""WITH b AS (SELECT event_type,
         |    ts < TIMESTAMP '2024-01-16 00:00:00' AS fh,
         |    least(CAST(floor(value * 100 + 0.5) AS BIGINT) // 5000, 9)
         |      AS bin
         |  FROM events),
         |c AS (SELECT event_type, bin,
         |    CAST(sum(CASE WHEN fh THEN 1 ELSE 0 END) AS BIGINT) AS cp,
         |    CAST(sum(CASE WHEN NOT fh THEN 1 ELSE 0 END) AS BIGINT) AS cq
         |  FROM b GROUP BY 1, 2),
         |t AS (SELECT event_type, CAST(sum(cp) AS BIGINT) AS np,
         |    CAST(sum(cq) AS BIGINT) AS nq FROM c GROUP BY 1),
         |g AS (SELECT t.event_type, t.np, t.nq, r.bin,
         |    coalesce(c.cp, 0) AS cp, coalesce(c.cq, 0) AS cq
         |  FROM t CROSS JOIN (SELECT unnest(range(0, 10)) AS bin) r
         |  LEFT JOIN c ON c.event_type = t.event_type AND c.bin = r.bin),
         |s AS (SELECT event_type, np, nq,
         |    CAST(sum(((cp+1)*(nq+10) - (cq+1)*(np+10)) *
         |        (${l6("cp+1")} - ${l6("np+10")}
         |         - ${l6("cq+1")} + ${l6("nq+10")})) AS BIGINT) AS ssum6
         |  FROM g GROUP BY 1, 2, 3)
         |SELECT event_type, np AS n_first, nq AS n_second,
         |  ${graft.StableRound.sql6("CAST(ssum6 AS DOUBLE) / 1000000.0 " +
               "/ CAST((np+10)*(nq+10) AS DOUBLE)")} AS psi
         |FROM s""".stripMargin
    },

    // PSI's grid with the KL weight/normalizer — token-for-token mirror
    "agg_kl_drift" -> {
      def l6(e: String) =
        s"CAST(floor(${graft.StableRound.sql6(s"ln($e)")} " +
          "* 1000000 + 0.5) AS BIGINT)"
      s"""WITH b AS (SELECT event_type,
         |    ts < TIMESTAMP '2024-01-16 00:00:00' AS fh,
         |    least(CAST(floor(value * 100 + 0.5) AS BIGINT) // 5000, 9)
         |      AS bin
         |  FROM events),
         |c AS (SELECT event_type, bin,
         |    CAST(sum(CASE WHEN fh THEN 1 ELSE 0 END) AS BIGINT) AS cp,
         |    CAST(sum(CASE WHEN NOT fh THEN 1 ELSE 0 END) AS BIGINT) AS cq
         |  FROM b GROUP BY 1, 2),
         |t AS (SELECT event_type, CAST(sum(cp) AS BIGINT) AS np,
         |    CAST(sum(cq) AS BIGINT) AS nq FROM c GROUP BY 1),
         |g AS (SELECT t.event_type, t.np, t.nq, r.bin,
         |    coalesce(c.cp, 0) AS cp, coalesce(c.cq, 0) AS cq
         |  FROM t CROSS JOIN (SELECT unnest(range(0, 10)) AS bin) r
         |  LEFT JOIN c ON c.event_type = t.event_type AND c.bin = r.bin),
         |s AS (SELECT event_type, np, nq,
         |    CAST(sum((cq+1) *
         |        (${l6("cq+1")} - ${l6("nq+10")}
         |         - ${l6("cp+1")} + ${l6("np+10")})) AS BIGINT) AS ssum6
         |  FROM g GROUP BY 1, 2, 3)
         |SELECT event_type, np AS n_first, nq AS n_second,
         |  ${graft.StableRound.sql6("CAST(ssum6 AS DOUBLE) / 1000000.0 " +
               "/ CAST(nq+10 AS DOUBLE)")} AS kl
         |FROM s""".stripMargin
    },

    // discrete quartiles via integer ceil-division ranks on the cents
    // domain; 2×-scaled fences; all-BIGINT output
    "agg_outlier_iqr" ->
      """WITH dom AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS c, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |cum AS (SELECT event_type, c, cnt,
        |    sum(cnt) OVER (PARTITION BY event_type ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(cnt) OVER (PARTITION BY event_type) AS n
        |  FROM dom),
        |q AS (SELECT event_type, max(n) AS n,
        |    min(CASE WHEN cum >= (n + 3) // 4 THEN c END) AS q1_cents,
        |    min(CASE WHEN cum >= (n * 3 + 3) // 4 THEN c END) AS q3_cents
        |  FROM cum GROUP BY 1)
        |SELECT dom.event_type, CAST(max(q.n) AS BIGINT) AS n,
        |  max(q.q1_cents) AS q1_cents, max(q.q3_cents) AS q3_cents,
        |  CAST(sum(CASE WHEN dom.c * 2 <
        |      q.q1_cents * 2 - (q.q3_cents - q.q1_cents) * 3
        |    OR dom.c * 2 >
        |      q.q3_cents * 2 + (q.q3_cents - q.q1_cents) * 3
        |    THEN dom.cnt ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM dom JOIN q USING (event_type)
        |GROUP BY 1""".stripMargin,

    // doubled-midrank integer identity on both marginals; joint-relation
    // product sum; ONE mirrored double assembly
    "agg_spearman" ->
      s"""WITH j AS (SELECT CAST(round(l_quantity) AS BIGINT) AS a,
         |    CAST(round(l_extendedprice * 100) AS BIGINT) AS b,
         |    count(*) AS cnt
         |  FROM lineitem GROUP BY 1, 2),
         |ma AS (SELECT a, m,
         |    COALESCE(sum(m) OVER (ORDER BY a
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2
         |      + m + 1 AS r2a
         |  FROM (SELECT a, sum(cnt) AS m FROM j GROUP BY 1)),
         |mb AS (SELECT b, m,
         |    COALESCE(sum(m) OVER (ORDER BY b
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2
         |      + m + 1 AS r2b
         |  FROM (SELECT b, sum(cnt) AS m FROM j GROUP BY 1)),
         |sa AS (SELECT sum(m) AS n, sum(m * r2a) AS sx,
         |    sum(m * r2a * r2a) AS sxx FROM ma),
         |sb AS (SELECT sum(m * r2b) AS sy, sum(m * r2b * r2b) AS syy
         |  FROM mb),
         |sxy AS (SELECT sum(j.cnt * ma.r2a * mb.r2b) AS sxy
         |  FROM j JOIN ma USING (a) JOIN mb USING (b))
         |SELECT CAST(n AS BIGINT) AS n,
         |  ${graft.StableRound.sql6(
              "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) " +
                "- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) " +
                "/ (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) " +
                "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) " +
                "* sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) " +
                "- CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))")} AS rho
         |FROM sa, sb, sxy""".stripMargin,

    // same grid as the KL oracle; per-bin JSD term snapped to round6
    // and summed as fixed-point BIGINTs
    "agg_jsd_drift" -> {
      val p = "(CAST(cp + 1 AS DOUBLE) / CAST(np + 10 AS DOUBLE))"
      val q = "(CAST(cq + 1 AS DOUBLE) / CAST(nq + 10 AS DOUBLE))"
      val m = s"(($p + $q) / 2)"
      val t6 = "CAST(floor(" + graft.StableRound.sql6(
        s"($p * ln($p / $m) + $q * ln($q / $m)) * 0.5") +
        " * 1000000 + 0.5) AS BIGINT)"
      s"""WITH b AS (SELECT event_type,
         |    ts < TIMESTAMP '2024-01-16 00:00:00' AS fh,
         |    least(CAST(floor(value * 100 + 0.5) AS BIGINT) // 5000, 9)
         |      AS bin
         |  FROM events),
         |c AS (SELECT event_type, bin,
         |    CAST(sum(CASE WHEN fh THEN 1 ELSE 0 END) AS BIGINT) AS cp,
         |    CAST(sum(CASE WHEN NOT fh THEN 1 ELSE 0 END) AS BIGINT) AS cq
         |  FROM b GROUP BY 1, 2),
         |t AS (SELECT event_type, CAST(sum(cp) AS BIGINT) AS np,
         |    CAST(sum(cq) AS BIGINT) AS nq FROM c GROUP BY 1),
         |g AS (SELECT t.event_type, t.np, t.nq, r.bin,
         |    coalesce(c.cp, 0) AS cp, coalesce(c.cq, 0) AS cq
         |  FROM t CROSS JOIN (SELECT unnest(range(0, 10)) AS bin) r
         |  LEFT JOIN c ON c.event_type = t.event_type AND c.bin = r.bin),
         |s AS (SELECT event_type, np, nq, CAST(sum($t6) AS BIGINT)
         |    AS ssum6 FROM g GROUP BY 1, 2, 3)
         |SELECT event_type, np AS n_first, nq AS n_second,
         |  ${graft.StableRound.sql6("CAST(ssum6 AS DOUBLE) / 1000000.0")}
         |    AS jsd
         |FROM s""".stripMargin
    },

    // same integer cross-multiplied CDF gap over the cents domain
    "agg_ks_drift" ->
      s"""WITH b AS (SELECT event_type,
         |    ts < TIMESTAMP '2024-01-16 00:00:00' AS fh,
         |    CAST(round(value * 100) AS BIGINT) AS c FROM events),
         |dom AS (SELECT event_type, c,
         |    CAST(sum(CASE WHEN fh THEN 1 ELSE 0 END) AS BIGINT) AS cp,
         |    CAST(sum(CASE WHEN NOT fh THEN 1 ELSE 0 END) AS BIGINT) AS cq
         |  FROM b GROUP BY 1, 2),
         |cum AS (SELECT event_type, c, cp, cq,
         |    CAST(sum(cp) OVER (PARTITION BY event_type ORDER BY c
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cump,
         |    CAST(sum(cq) OVER (PARTITION BY event_type ORDER BY c
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cumq,
         |    CAST(sum(cp) OVER (PARTITION BY event_type) AS BIGINT) AS np,
         |    CAST(sum(cq) OVER (PARTITION BY event_type) AS BIGINT) AS nq
         |  FROM dom)
         |SELECT event_type, max(np) AS n_first, max(nq) AS n_second,
         |  max(abs(cump * nq - cumq * np)) AS d_num,
         |  ${graft.StableRound.sql6("CAST(max(abs(cump * nq - cumq * np)) " +
              "AS DOUBLE) / CAST(max(np) * max(nq) AS DOUBLE)")} AS ks
         |FROM cum GROUP BY 1""".stripMargin,

    // same cross-multiplied CUSUM; the argmax tie-order (|D| DESC,
    // day ASC) mirrors max(struct(dstat, -unix_seconds(day)))
    "agg_cusum_changepoint" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sd,
        |    CAST(count(*) AS BIGINT) AS nd
        |  FROM events GROUP BY 1, 2),
        |cum AS (SELECT event_type, day,
        |    CAST(sum(sd) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cums,
        |    CAST(sum(nd) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cumn,
        |    CAST(sum(sd) OVER (PARTITION BY event_type) AS BIGINT) AS s_tot,
        |    CAST(sum(nd) OVER (PARTITION BY event_type) AS BIGINT) AS n_tot
        |  FROM daily),
        |st AS (SELECT event_type, day, n_tot,
        |    abs(cums * n_tot - s_tot * cumn) AS dstat FROM cum),
        |pick AS (SELECT event_type, day, n_tot, dstat, row_number() OVER (
        |    PARTITION BY event_type ORDER BY dstat DESC, day) AS rk
        |  FROM st),
        |nd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
        |  FROM daily GROUP BY 1)
        |SELECT p.event_type, p.n_tot AS n_events, nd.n_days,
        |  p.dstat AS d_max, p.day AS cp_day
        |FROM pick p JOIN nd USING (event_type) WHERE p.rk = 1""".stripMargin,

    // concordant/discordant pair sums off the joint-domain theta join;
    // exact HUGEINT tie terms; ONE mirrored double assembly
    "agg_kendall_tau" ->
      s"""WITH j AS (SELECT CAST(round(l_quantity) AS BIGINT) AS a,
         |    CAST(round(l_discount * 100) AS BIGINT) AS b,
         |    count(*) AS cnt
         |  FROM lineitem GROUP BY 1, 2),
         |cd AS (SELECT
         |    coalesce(sum(CASE WHEN x.b < y.b
         |      THEN CAST(x.cnt AS HUGEINT) * y.cnt END), 0) AS nc,
         |    coalesce(sum(CASE WHEN x.b > y.b
         |      THEN CAST(x.cnt AS HUGEINT) * y.cnt END), 0) AS nd
         |  FROM j x JOIN j y ON x.a < y.a),
         |ma AS (SELECT sum(CAST(t AS HUGEINT)) AS n,
         |    sum(CAST(t AS HUGEINT) * (t - 1)) AS t2a
         |  FROM (SELECT a, CAST(sum(cnt) AS BIGINT) AS t
         |    FROM j GROUP BY 1)),
         |mb AS (SELECT sum(CAST(t AS HUGEINT) * (t - 1)) AS t2b
         |  FROM (SELECT b, CAST(sum(cnt) AS BIGINT) AS t
         |    FROM j GROUP BY 1))
         |SELECT CAST(n AS BIGINT) AS n,
         |  ${graft.StableRound.sql6(
              "CAST(nc - nd AS DOUBLE) * 2 " +
                "/ sqrt(CAST(n * (n - 1) - t2a AS DOUBLE) " +
                "* CAST(n * (n - 1) - t2b AS DOUBLE))")} AS tau_b
         |FROM cd, ma, mb""".stripMargin,

    // doubled-midrank identity on the global cents domain; per-group
    // deviation term snapped to round6 and summed as fixed-point BIGINTs
    "agg_kruskal_wallis" -> {
      val dg = "CAST(s2 - ng * (n + 1) AS DOUBLE)"
      val t6 = "CAST(floor(" + graft.StableRound.sql6(
        s"$dg * $dg / (CAST(ng AS DOUBLE) * CAST(n AS DOUBLE))") +
        " * 1000000 + 0.5) AS BIGINT)"
      s"""WITH dom AS (SELECT CAST(round(value * 100) AS BIGINT) AS c,
         |    event_type, count(*) AS cnt FROM events GROUP BY 1, 2),
         |g AS (SELECT c, CAST(sum(cnt) AS BIGINT) AS m
         |  FROM dom GROUP BY 1),
         |r AS (SELECT c, COALESCE(sum(m) OVER (ORDER BY c
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2
         |    + m + 1 AS r2 FROM g),
         |t AS (SELECT sum(CAST(m AS HUGEINT)) AS n,
         |    sum(CAST(m AS HUGEINT) * m * m - m) AS ties FROM g),
         |grp AS (SELECT event_type, sum(CAST(cnt AS HUGEINT)) AS ng,
         |    sum(CAST(cnt AS HUGEINT) * r2) AS s2
         |  FROM dom JOIN r USING (c) GROUP BY 1),
         |terms AS (SELECT t.n, t.ties, $t6 AS t6 FROM grp, t)
         |SELECT CAST(max(n) AS BIGINT) AS n,
         |  CAST(count(*) - 1 AS BIGINT) AS dof,
         |  ${graft.StableRound.sql6(
              "CAST(sum(t6) AS DOUBLE) / 1000000.0 * 3 " +
                "/ (CAST(max(n) AS DOUBLE) + 1)")} AS h_raw,
         |  ${graft.StableRound.sql6(
              "CAST(sum(t6) AS DOUBLE) / 1000000.0 * 3 " +
                "/ (CAST(max(n) AS DOUBLE) + 1) " +
                "* CAST(max(n) * max(n) * max(n) - max(n) AS DOUBLE) " +
                "/ CAST(max(n) * max(n) * max(n) - max(n) - max(ties) " +
                "AS DOUBLE)")} AS h
         |FROM terms""".stripMargin
    },

    // chi2's contingency grid; per-cell/per-margin entropy terms snapped
    // to round6 and summed as fixed-point BIGINTs; zero cells drop out
    "agg_mutual_info" -> {
      def h6(cnt: String) = "CAST(floor(" + graft.StableRound.sql6(
        s"-(CAST($cnt AS DOUBLE) / CAST(n AS DOUBLE)) " +
          s"* ln(CAST($cnt AS DOUBLE) / CAST(n AS DOUBLE))") +
        " * 1000000 + 0.5) AS BIGINT)"
      val mi6 = "CAST(floor(" + graft.StableRound.sql6(
        "(CAST(nxy AS DOUBLE) / CAST(n AS DOUBLE)) " +
          "* ln(CAST(n AS DOUBLE) * CAST(nxy AS DOUBLE) " +
          "/ (CAST(r AS DOUBLE) * CAST(cc AS DOUBLE)))") +
        " * 1000000 + 0.5) AS BIGINT)"
      s"""WITH cells AS (SELECT event_type, dayofweek(ts) AS dow,
         |    count(*) AS nxy FROM events GROUP BY 1, 2),
         |rm AS (SELECT event_type, sum(nxy) AS r FROM cells GROUP BY 1),
         |cm AS (SELECT dow, sum(nxy) AS cc FROM cells GROUP BY 1),
         |t AS (SELECT sum(nxy) AS n FROM cells),
         |hx AS (SELECT sum(${h6("r")}) AS hx6 FROM rm, t),
         |hy AS (SELECT sum(${h6("cc")}) AS hy6 FROM cm, t),
         |mi AS (SELECT max(t.n) AS n, sum($mi6) AS mi6
         |  FROM cells JOIN rm USING (event_type) JOIN cm USING (dow)
         |  CROSS JOIN t)
         |SELECT CAST(n AS BIGINT) AS n,
         |  ${graft.StableRound.sql6(
              "CAST(mi6 AS DOUBLE) / 1000000.0")} AS mi,
         |  ${graft.StableRound.sql6(
              "CAST(hx6 AS DOUBLE) / 1000000.0")} AS h_row,
         |  ${graft.StableRound.sql6(
              "CAST(hy6 AS DOUBLE) / 1000000.0")} AS h_col,
         |  CASE WHEN hx6 > 0 AND hy6 > 0 THEN ${graft.StableRound.sql6(
              "CAST(mi6 AS DOUBLE) / 1000000.0 " +
                "/ sqrt(CAST(hx6 AS DOUBLE) / 1000000.0 " +
                "* (CAST(hy6 AS DOUBLE) / 1000000.0))")}
         |    ELSE 0.0 END AS nmi
         |FROM mi, hx, hy""".stripMargin
    },

    // six exact integer moments, one mirrored assembly; the /100 cents
    // unit cancels inside d
    "agg_cohens_d" -> {
      val ssa = "(CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) " +
        "* CAST(sa AS DOUBLE) / CAST(na AS DOUBLE))"
      val ssb = "(CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) " +
        "* CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))"
      val df = "(CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 2)"
      val dEff = "((CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) " +
        "- CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) " +
        s"/ sqrt(($ssa + $ssb) / $df))"
      s"""WITH v AS (SELECT event_type = 'purchase' AS isa,
         |    CAST(round(value * 100) AS BIGINT) AS c FROM events
         |  WHERE event_type IN ('purchase', 'view')),
         |m AS (SELECT
         |    sum(CASE WHEN isa THEN 1 ELSE 0 END) AS na,
         |    sum(CASE WHEN NOT isa THEN 1 ELSE 0 END) AS nb,
         |    coalesce(sum(CASE WHEN isa
         |      THEN CAST(c AS HUGEINT) END), 0) AS sa,
         |    coalesce(sum(CASE WHEN NOT isa
         |      THEN CAST(c AS HUGEINT) END), 0) AS sb,
         |    coalesce(sum(CASE WHEN isa
         |      THEN CAST(c AS HUGEINT) * c END), 0) AS qa,
         |    coalesce(sum(CASE WHEN NOT isa
         |      THEN CAST(c AS HUGEINT) * c END), 0) AS qb
         |  FROM v)
         |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
         |  ${graft.StableRound.sql6(dEff)} AS cohens_d,
         |  ${graft.StableRound.sql6(
              s"$dEff * (1.0 - 3.0 / ($df * 4 - 1))")} AS hedges_g
         |FROM m""".stripMargin
    },

    // same LCG replica membership; discrete ceil-rank CI selection over
    // the 64 replica means
    "agg_bootstrap_ci" ->
      s"""WITH o AS (SELECT o_orderkey,
         |    CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders),
         |e AS (SELECT o.c, r.rep, o.o_orderkey * 64 + r.rep AS x
         |  FROM o CROSS JOIN (SELECT unnest(range(0, 64)) AS rep) r),
         |f AS (SELECT rep, c FROM e
         |  WHERE ((((x % 1000000007) * 48271 + 12345) % 1000000007
         |    * 48271 + 12345) % 1000000007 % 1000000) % 2 = 0),
         |m AS (SELECT rep, ${graft.StableRound.sql6(
             "CAST(sum(CAST(c AS HUGEINT)) AS DOUBLE) " +
               "/ CAST(count(*) AS DOUBLE) / 100")} AS mean_r
         |  FROM f GROUP BY 1),
         |rk AS (SELECT mean_r, count(*) OVER (ORDER BY mean_r
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rk
         |  FROM m)
         |SELECT CAST(count(*) AS BIGINT) AS n_replicas,
         |  min(CASE WHEN rk >= 2 THEN mean_r END) AS ci_lo,
         |  min(CASE WHEN rk >= 63 THEN mean_r END) AS ci_hi
         |FROM rk""".stripMargin,

    // zero-filled day grid; exact-integer 7-day trend; detrended values
    // snapped to round6 and the seasonal means sum fixed-point BIGINTs
    "agg_seasonal_decompose" -> {
      val det6 = "CASE WHEN trend IS NOT NULL THEN CAST(floor(" +
        graft.StableRound.sql6("CAST(cnt AS DOUBLE) - trend") +
        " * 1000000 + 0.5) AS BIGINT) END"
      s"""WITH c AS (SELECT event_type, date_trunc('day', ts) AS day_start,
         |    count(*) AS cnt FROM events GROUP BY 1, 2),
         |b AS (SELECT min(day_start) AS d0, max(day_start) AS d1 FROM c),
         |grid AS (SELECT t.event_type, g.day_start
         |  FROM (SELECT DISTINCT event_type FROM c) t
         |  CROSS JOIN (SELECT unnest(generate_series(d0, d1,
         |    INTERVAL 1 DAY)) AS day_start FROM b) g),
         |s AS (SELECT grid.event_type, grid.day_start,
         |    coalesce(c.cnt, 0) AS cnt
         |  FROM grid LEFT JOIN c USING (event_type, day_start)),
         |tr AS (SELECT *, CASE WHEN count(*) OVER w7 = 7
         |    THEN CAST(sum(cnt) OVER w7 AS DOUBLE) / 7 END AS trend
         |  FROM s WINDOW w7 AS (PARTITION BY event_type ORDER BY day_start
         |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         |det AS (SELECT *, dayofweek(day_start) AS dow, $det6 AS det6
         |  FROM tr),
         |se AS (SELECT event_type, dow, CAST(sum(det6) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) / 1000000.0 AS seasraw
         |  FROM det WHERE det6 IS NOT NULL GROUP BY 1, 2)
         |SELECT det.event_type, det.day_start, CAST(det.cnt AS BIGINT) AS n,
         |  ${graft.StableRound.sql6("trend")} AS trend,
         |  ${graft.StableRound.sql6("seasraw")} AS seasonal,
         |  ${graft.StableRound.sql6(
              "CAST(cnt AS DOUBLE) - trend - seasraw")} AS resid
         |FROM det LEFT JOIN se USING (event_type, dow)""".stripMargin
    },

    // three exact integer moments; the z-sum constant is the same
    // literal product; one mirrored ceil
    "agg_power_analysis" -> {
      val mean = "(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 100)"
      val vr = "((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) " +
        "* CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) " +
        "/ (CAST(n AS DOUBLE) - 1) / 10000)"
      val mde = s"($mean * 0.01)"
      s"""WITH m AS (SELECT count(*) AS n,
         |    sum(CAST(round(value * 100) AS HUGEINT)) AS s1,
         |    sum(CAST(round(value * 100) AS HUGEINT)
         |      * CAST(round(value * 100) AS BIGINT)) AS s2
         |  FROM events)
         |SELECT CAST(n AS BIGINT) AS n,
         |  ${graft.StableRound.sql6(mean)} AS mean,
         |  ${graft.StableRound.sql6(s"sqrt($vr)")} AS sd,
         |  ${graft.StableRound.sql6(mde)} AS mde,
         |  CAST(ceil($vr / ($mde * $mde) * (2.0 * 2.801585 * 2.801585))
         |    AS BIGINT) AS n_required
         |FROM m""".stripMargin
    },

    // top-101 order statistics; per-term round6 fixed-point log ratios
    "agg_tail_index" -> {
      val t6 = "CAST(floor(" + graft.StableRound.sql6(
        "ln(CAST(c AS DOUBLE) / CAST(ck AS DOUBLE))") +
        " * 1000000 + 0.5) AS BIGINT)"
      s"""WITH top AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
         |      AS c, o_orderkey
         |  FROM orders ORDER BY c DESC, o_orderkey LIMIT 101),
         |rk AS (SELECT c, row_number() OVER (ORDER BY c DESC, o_orderkey)
         |    AS r FROM top),
         |xk AS (SELECT c AS ck FROM rk WHERE r = 101),
         |su AS (SELECT count(*) AS k, max(ck) AS x_k1_cents,
         |    sum($t6) AS s6
         |  FROM rk, xk WHERE r <= 100)
         |SELECT CAST(k AS BIGINT) AS k, x_k1_cents,
         |  ${graft.StableRound.sql6(
              "CAST(s6 AS DOUBLE) / 1000000.0 / CAST(k AS DOUBLE)")}
         |    AS hill,
         |  ${graft.StableRound.sql6(
              "CAST(k AS DOUBLE) / (CAST(s6 AS DOUBLE) / 1000000.0)")}
         |    AS alpha
         |FROM su""".stripMargin
    },

    // ceil-rank discrete p5/p95 on the cents domain; clipped sum exact
    // in HUGEINT; one final mirrored division
    "agg_winsorize" ->
      s"""WITH dom AS (SELECT event_type,
         |    CAST(round(value * 100) AS BIGINT) AS c, count(*) AS cnt
         |  FROM events GROUP BY 1, 2),
         |cum AS (SELECT event_type, c, cnt,
         |    sum(cnt) OVER (PARTITION BY event_type ORDER BY c
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    sum(cnt) OVER (PARTITION BY event_type) AS n
         |  FROM dom),
         |q AS (SELECT event_type, max(n) AS n,
         |    min(CASE WHEN cum >= (n + 19) // 20 THEN c END)
         |      AS p05_cents,
         |    min(CASE WHEN cum >= (n * 19 + 19) // 20 THEN c END)
         |      AS p95_cents
         |  FROM cum GROUP BY 1)
         |SELECT dom.event_type, CAST(max(q.n) AS BIGINT) AS n,
         |  max(q.p05_cents) AS p05_cents, max(q.p95_cents) AS p95_cents,
         |  ${graft.StableRound.sql6(
              "CAST(sum(CAST(greatest(least(dom.c, q.p95_cents), " +
                "q.p05_cents) AS HUGEINT) * dom.cnt) AS DOUBLE) " +
                "/ CAST(max(q.n) AS DOUBLE) / 100")} AS winsor_mean
         |FROM dom JOIN q USING (event_type)
         |GROUP BY 1""".stripMargin,

    // per-group exact moments; between-terms round6-snapped and
    // fixed-point-summed over ≤|types| rows; mirrored F/η² assembly
    "agg_anova" -> {
      // DECIMAL accumulator mirror of the engine's int64-headroom
      // widen: floor(DECIMAL(38,6)) is DECIMAL(38,0) in DuckDB too
      val t6 = "floor(CAST(" + graft.StableRound.sql6(
        "CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) " +
          "/ CAST(ng AS DOUBLE) / 1e4") +
        " * 1000000 + 0.5 AS DECIMAL(38,6)))"
      val sb = "(CAST(st AS DOUBLE) / 1e6 - CAST(s AS DOUBLE) / 100.0 " +
        "* (CAST(s AS DOUBLE) / 100.0) / CAST(n AS DOUBLE))"
      val sw = "(CAST(q AS DOUBLE) / 1e4 - CAST(st AS DOUBLE) / 1e6)"
      val d1 = "(CAST(k AS DOUBLE) - 1)"
      val d2 = "(CAST(n AS DOUBLE) - CAST(k AS DOUBLE))"
      s"""WITH v AS (SELECT event_type,
         |    CAST(round(value * 100) AS BIGINT) AS c FROM events),
         |g AS (SELECT event_type, count(*) AS ng,
         |    sum(CAST(c AS HUGEINT)) AS sg,
         |    sum(CAST(c AS HUGEINT) * c) AS qg
         |  FROM v GROUP BY 1),
         |t AS (SELECT ng, sg, qg, $t6 AS t6 FROM g),
         |m AS (SELECT sum(ng) AS n, count(*) AS k, sum(sg) AS s,
         |    sum(qg) AS q, sum(t6) AS st FROM t)
         |SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
         |  CAST(k - 1 AS BIGINT) AS dof_between,
         |  CAST(n - k AS BIGINT) AS dof_within,
         |  CASE WHEN $d1 > 0 AND $d2 > 0 AND $sw > 0
         |    THEN ${graft.StableRound.sql6(s"($sb / $d1) / ($sw / $d2)")}
         |    END AS f_stat,
         |  CASE WHEN $sb + $sw > 0
         |    THEN ${graft.StableRound.sql6(s"$sb / ($sb + $sw)")}
         |    END AS eta_sq
         |FROM m""".stripMargin
    },

    // per-group lower median by ceil-rank selection; |c−med| stays
    // integer cents; then agg_anova's mirrored assembly on the
    // deviations
    "agg_levene" -> {
      // DECIMAL accumulator mirror of the engine's int64-headroom
      // widen: floor(DECIMAL(38,6)) is DECIMAL(38,0) in DuckDB too
      val t6 = "floor(CAST(" + graft.StableRound.sql6(
        "CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) " +
          "/ CAST(ng AS DOUBLE) / 1e4") +
        " * 1000000 + 0.5 AS DECIMAL(38,6)))"
      val sb = "(CAST(st AS DOUBLE) / 1e6 - CAST(s AS DOUBLE) / 100.0 " +
        "* (CAST(s AS DOUBLE) / 100.0) / CAST(n AS DOUBLE))"
      val sw = "(CAST(q AS DOUBLE) / 1e4 - CAST(st AS DOUBLE) / 1e6)"
      val d1 = "(CAST(k AS DOUBLE) - 1)"
      val d2 = "(CAST(n AS DOUBLE) - CAST(k AS DOUBLE))"
      s"""WITH dom AS (SELECT event_type,
         |    CAST(round(value * 100) AS BIGINT) AS c, count(*) AS cnt
         |  FROM events GROUP BY 1, 2),
         |cum AS (SELECT *,
         |    sum(cnt) OVER (PARTITION BY event_type ORDER BY c
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    sum(cnt) OVER (PARTITION BY event_type) AS nt
         |  FROM dom),
         |med AS (SELECT event_type,
         |    min(CASE WHEN cum >= (nt + 1) // 2 THEN c END) AS med
         |  FROM cum GROUP BY 1),
         |g AS (SELECT dom.event_type, sum(dom.cnt) AS ng,
         |    sum(CAST(abs(dom.c - med.med) AS HUGEINT) * dom.cnt) AS sg,
         |    sum(CAST(abs(dom.c - med.med) AS HUGEINT)
         |      * abs(dom.c - med.med) * dom.cnt) AS qg
         |  FROM dom JOIN med USING (event_type) GROUP BY 1),
         |t AS (SELECT ng, sg, qg, $t6 AS t6 FROM g),
         |m AS (SELECT sum(ng) AS n, count(*) AS k, sum(sg) AS s,
         |    sum(qg) AS q, sum(t6) AS st FROM t)
         |SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
         |  CAST(k - 1 AS BIGINT) AS dof_between,
         |  CAST(n - k AS BIGINT) AS dof_within,
         |  CASE WHEN $d1 > 0 AND $d2 > 0 AND $sw > 0
         |    THEN ${graft.StableRound.sql6(s"($sb / $d1) / ($sw / $d2)")}
         |    END AS w_stat
         |FROM m""".stripMargin
    },

    // calendar-day sign series; runs via sign ≠ lag(sign); closed-form
    // μ/σ² from exact integers
    "agg_runs_test" -> {
      val mu = "(CAST(np AS DOUBLE) * CAST(nn AS DOUBLE) * 2 " +
        "/ CAST(ns AS DOUBLE) + 1)"
      val va = s"(($mu - 1) * ($mu - 2) / (CAST(ns AS DOUBLE) - 1))"
      s"""WITH daily AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP)
         |      AS day_start, count(*) AS cnt
         |  FROM events GROUP BY 1),
         |dl AS (SELECT day_start,
         |    cnt - lag(cnt) OVER (ORDER BY day_start) AS delta
         |  FROM daily),
         |sg AS (SELECT day_start,
         |    CASE WHEN delta > 0 THEN 1 ELSE -1 END AS sgn
         |  FROM dl WHERE delta IS NOT NULL AND delta <> 0),
         |ch AS (SELECT sgn, CASE WHEN lag(sgn) OVER (ORDER BY day_start)
         |      IS NULL OR sgn <> lag(sgn) OVER (ORDER BY day_start)
         |    THEN 1 ELSE 0 END AS chg
         |  FROM sg),
         |m AS (SELECT count(*) AS ns,
         |    sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS np,
         |    sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS nn,
         |    sum(chg) AS r FROM ch)
         |SELECT CAST(ns AS BIGINT) AS n_signs, CAST(np AS BIGINT) AS n_pos,
         |  CAST(nn AS BIGINT) AS n_neg, CAST(r AS BIGINT) AS n_runs,
         |  CASE WHEN np > 0 AND nn > 0 AND ns > 1 AND $va > 0
         |    THEN ${graft.StableRound.sql6(
              s"(CAST(r AS DOUBLE) - $mu) / sqrt($va)")}
         |    END AS z
         |FROM m""".stripMargin
    },

    // same deterministic raters, 2×2 integer contingency, mirrored
    // po/pe/κ straight line
    "agg_cohens_kappa" -> {
      val po = "((CAST(n11 AS DOUBLE) + CAST(n00 AS DOUBLE)) " +
        "/ CAST(n AS DOUBLE))"
      val pe = "(((CAST(n11 AS DOUBLE) + CAST(n10 AS DOUBLE)) " +
        "* (CAST(n11 AS DOUBLE) + CAST(n01 AS DOUBLE)) " +
        "+ (CAST(n01 AS DOUBLE) + CAST(n00 AS DOUBLE)) " +
        "* (CAST(n10 AS DOUBLE) + CAST(n00 AS DOUBLE))) " +
        "/ (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"
      s"""WITH r AS (SELECT n_chars >= 300 AS ra,
         |    length(text) - length(replace(text, ' ', '')) + 1 >= 60
         |      AS rb
         |  FROM documents),
         |m AS (SELECT count(*) AS n,
         |    sum(CASE WHEN ra AND rb THEN 1 ELSE 0 END) AS n11,
         |    sum(CASE WHEN ra AND NOT rb THEN 1 ELSE 0 END) AS n10,
         |    sum(CASE WHEN NOT ra AND rb THEN 1 ELSE 0 END) AS n01,
         |    sum(CASE WHEN NOT ra AND NOT rb THEN 1 ELSE 0 END) AS n00
         |  FROM r)
         |SELECT CAST(n AS BIGINT) AS n, CAST(n11 AS BIGINT) AS n_both,
         |  CAST(n00 AS BIGINT) AS n_neither,
         |  ${graft.StableRound.sql6(po)} AS po,
         |  ${graft.StableRound.sql6(pe)} AS pe,
         |  CASE WHEN $pe < 1 THEN ${graft.StableRound.sql6(
              s"($po - $pe) / (1 - $pe)")} END AS kappa
         |FROM m""".stripMargin
    },

    // zero-filled grid; exact integer |delta| sums over the common
    // t ≥ 8 window; two divisions per type row
    "agg_forecast_mase" ->
      s"""WITH c AS (SELECT event_type,
         |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         |    count(*) AS cnt
         |  FROM events GROUP BY 1, 2),
         |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM c),
         |g AS (SELECT event_type, day FROM
         |  (SELECT DISTINCT event_type FROM c),
         |  (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))
         |    AS day FROM b)),
         |s AS (SELECT g.event_type, g.day, coalesce(c.cnt, 0) AS cnt
         |  FROM g LEFT JOIN c USING (event_type, day)),
         |l AS (SELECT event_type, cnt,
         |    lag(cnt, 1) OVER w AS l1, lag(cnt, 7) OVER w AS l7
         |  FROM s WINDOW w AS (PARTITION BY event_type ORDER BY day)),
         |m AS (SELECT event_type, count(*) AS n_days,
         |    sum(abs(cnt - l1)) AS e1, sum(abs(cnt - l7)) AS e7
         |  FROM l WHERE l7 IS NOT NULL GROUP BY 1)
         |SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
         |  ${graft.StableRound.sql6(
              "CAST(e1 AS DOUBLE) / CAST(n_days AS DOUBLE)")} AS mae1,
         |  ${graft.StableRound.sql6(
              "CAST(e7 AS DOUBLE) / CAST(n_days AS DOUBLE)")} AS mae7,
         |  CASE WHEN e1 > 0 THEN ${graft.StableRound.sql6(
              "CAST(e7 AS DOUBLE) / CAST(e1 AS DOUBLE)")} END AS mase
         |FROM m""".stripMargin,

    // six exact integer moments per group; mirrored slope/intercept/r²
    // straight line; cents-per-centi-unit slope is dollars-per-unit
    "agg_ols_grouped" -> {
      val cov = "(CAST(n * sxy - sx * sy AS DOUBLE))"
      val vx = "(CAST(n * sxx - sx * sx AS DOUBLE))"
      val vy = "(CAST(n * syy - sy * sy AS DOUBLE))"
      val slope = s"($cov / $vx)"
      s"""WITH v AS (SELECT l_returnflag,
         |    CAST(round(l_quantity * 100) AS BIGINT) AS x,
         |    CAST(round(l_extendedprice * 100) AS BIGINT) AS y
         |  FROM lineitem),
         |m AS (SELECT l_returnflag, count(*) AS n,
         |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
         |    sum(CAST(x AS HUGEINT) * y) AS sxy,
         |    sum(CAST(x AS HUGEINT) * x) AS sxx,
         |    sum(CAST(y AS HUGEINT) * y) AS syy
         |  FROM v GROUP BY 1)
         |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
         |  CASE WHEN $vx > 0 THEN ${graft.StableRound.sql6(slope)}
         |    END AS slope,
         |  CASE WHEN $vx > 0 THEN ${graft.StableRound.sql6(
              s"(CAST(sy AS DOUBLE) - $slope * CAST(sx AS DOUBLE)) " +
                "/ CAST(n AS DOUBLE) / 100")} END AS intercept,
         |  CASE WHEN $vx > 0 AND $vy > 0 THEN ${graft.StableRound.sql6(
              s"$cov * $cov / ($vx * $vy)")} END AS r2
         |FROM m""".stripMargin
    },

    // total-ordered per-user sequences via (ts, event_id) lead; exact
    // pair counts; one division per cell
    "agg_markov_transitions" ->
      s"""WITH sq AS (SELECT user_id, event_type AS cur,
         |    lead(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS nxt
         |  FROM events),
         |p AS (SELECT cur, nxt, count(*) AS n FROM sq
         |  WHERE nxt IS NOT NULL GROUP BY 1, 2),
         |rt AS (SELECT cur, sum(n) AS rt FROM p GROUP BY 1)
         |SELECT p.cur, p.nxt, CAST(p.n AS BIGINT) AS n,
         |  ${graft.StableRound.sql6(
              "CAST(p.n AS DOUBLE) / CAST(rt.rt AS DOUBLE)")} AS p
         |FROM p JOIN rt ON p.cur = rt.cur""".stripMargin,

    // censoring at the corpus's final day; round6 fixed-point ln
    // terms, integer cumulative sum, mirrored exp; extinction rows 0
    "agg_survival_km" -> {
      val lterm = "ln(CAST(atrisk - d_t AS DOUBLE) " +
        "/ CAST(atrisk AS DOUBLE))"
      s"""WITH ev AS (SELECT user_id,
         |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
         |  FROM events),
         |mx AS (SELECT max(day) AS mxd FROM ev),
         |per AS (SELECT
         |    CAST(datediff('day', min(day), max(day)) AS BIGINT) AS t,
         |    CASE WHEN max(day) = (SELECT mxd FROM mx)
         |      THEN 1 ELSE 0 END AS cens
         |  FROM ev GROUP BY user_id),
         |dom AS (SELECT t, count(*) AS n_t,
         |    sum(CASE WHEN cens = 0 THEN 1 ELSE 0 END) AS d_t
         |  FROM per GROUP BY 1),
         |tot AS (SELECT sum(n_t) AS n FROM dom),
         |ar AS (SELECT t, d_t,
         |    tot.n - coalesce(sum(n_t) OVER (ORDER BY t
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS atrisk
         |  FROM dom, tot),
         |st AS (SELECT * FROM ar WHERE d_t > 0),
         |l AS (SELECT t, atrisk, d_t,
         |    CASE WHEN atrisk > d_t THEN CAST(floor(
         |      ${graft.StableRound.sql6(lterm)} * 1000000 + 0.5)
         |      AS BIGINT) END AS l6
         |  FROM st),
         |c AS (SELECT t, atrisk, d_t,
         |    sum(l6) OVER (ORDER BY t
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum6
         |  FROM l)
         |SELECT t, CAST(atrisk AS BIGINT) AS n_at_risk,
         |  CAST(d_t AS BIGINT) AS n_events,
         |  CASE WHEN atrisk > d_t THEN ${graft.StableRound.sql6(
              "exp(CAST(coalesce(cum6, 0) AS DOUBLE) / 1e6)")}
         |    ELSE 0.0 END AS survival
         |FROM c""".stripMargin
    },

    // integer cross-multiplied class boundaries on the descending
    // cumulative; one division per class row
    "agg_abc_analysis" ->
      s"""WITH rev AS (SELECT l_partkey,
         |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents
         |  FROM lineitem GROUP BY 1),
         |t AS (SELECT sum(cents) AS ts FROM rev),
         |c AS (SELECT cents,
         |    sum(cents) OVER (ORDER BY cents DESC, l_partkey
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM rev),
         |k AS (SELECT cents, t.ts,
         |    CASE WHEN cum * 100 <= t.ts * 80 THEN 'A'
         |      WHEN cum * 100 <= t.ts * 95 THEN 'B'
         |      ELSE 'C' END AS abc_class
         |  FROM c, t)
         |SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts,
         |  ${graft.StableRound.sql6(
              "CAST(sum(cents) AS DOUBLE) / CAST(max(ts) AS DOUBLE)")}
         |    AS revenue_share
         |FROM k GROUP BY 1""".stripMargin,

    // straddling-row identity on the cents domain — every term an
    // exact integer product; one double division per decile
    "agg_lorenz_curve" -> {
      val kd = "((t.n * dd.decile + 9) // 10)"
      s"""WITH spend AS (SELECT o_custkey,
         |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
         |  FROM orders GROUP BY 1),
         |dom AS (SELECT cents, count(*) AS cnt FROM spend GROUP BY 1),
         |r AS (SELECT cents, cnt,
         |    coalesce(sum(cnt) OVER wb, 0) AS below_cnt,
         |    coalesce(sum(CAST(cents AS HUGEINT) * cnt) OVER wb, 0)
         |      AS below_sum
         |  FROM dom WINDOW wb AS (ORDER BY cents
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         |t AS (SELECT sum(cnt) AS n,
         |    sum(CAST(cents AS HUGEINT) * cnt) AS ts FROM dom),
         |dd AS (SELECT unnest(range(1, 11)) AS decile)
         |SELECT dd.decile, CAST($kd AS BIGINT) AS k_members,
         |  ${graft.StableRound.sql6(
              s"CAST(below_sum + ($kd - below_cnt) * cents AS DOUBLE) " +
                "/ CAST(ts AS DOUBLE)")} AS cum_share
         |FROM r, t, dd
         |WHERE below_cnt < $kd AND below_cnt + cnt >= $kd""".stripMargin
    },

    // ceil-rank quintile thresholds per metric; map-side scoring;
    // inverted recency per the RFM convention
    "agg_rfm" -> {
      def thr(src: String, p: String) =
        s"""${p}dom AS (SELECT v, count(*) AS cnt FROM
           |    (SELECT $src AS v FROM per) GROUP BY 1),
           |${p}cum AS (SELECT v, sum(cnt) OVER (ORDER BY v
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           |  FROM ${p}dom),
           |$p AS (SELECT
           |    min(CASE WHEN cum >= (t.n + 4) // 5 THEN v END) AS ${p}1,
           |    min(CASE WHEN cum >= (t.n * 2 + 4) // 5 THEN v END)
           |      AS ${p}2,
           |    min(CASE WHEN cum >= (t.n * 3 + 4) // 5 THEN v END)
           |      AS ${p}3,
           |    min(CASE WHEN cum >= (t.n * 4 + 4) // 5 THEN v END)
           |      AS ${p}4
           |  FROM ${p}cum, t)""".stripMargin
      def score(c: String, p: String) =
        s"(1 + CAST($c > ${p}1 AS INT) + CAST($c > ${p}2 AS INT) " +
          s"+ CAST($c > ${p}3 AS INT) + CAST($c > ${p}4 AS INT))"
      s"""WITH mx AS (SELECT max(CAST(date_trunc('day', ts) AS TIMESTAMP))
         |    AS mxd FROM events),
         |per AS (SELECT user_id,
         |    CAST(datediff('day',
         |      max(CAST(date_trunc('day', ts) AS TIMESTAMP)),
         |      (SELECT mxd FROM mx)) AS BIGINT) AS rec,
         |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS freq,
         |    coalesce(sum(CASE WHEN event_type = 'purchase'
         |      THEN CAST(round(value * 100) AS BIGINT) END), 0) AS mon
         |  FROM events GROUP BY 1),
         |t AS (SELECT count(*) AS n FROM per),
         |${thr("rec", "tr")},
         |${thr("freq", "tf")},
         |${thr("mon", "tm")},
         |scored AS (SELECT
         |    6 - ${score("rec", "tr")} AS r_score,
         |    ${score("freq", "tf")} AS f_score,
         |    ${score("mon", "tm")} AS m_score
         |  FROM per, tr, tf, tm)
         |SELECT r_score, f_score, m_score,
         |  CAST(count(*) AS BIGINT) AS n_users
         |FROM scored GROUP BY 1, 2, 3""".stripMargin
    },

    // zero-filled day grid; 7-lag pairing on the tiny series; exact
    // integer moments per lag; mirrored r assembly with variance gate
    "agg_xcorr" -> {
      val vx = "(CAST(m * sxx - sx * sx AS DOUBLE))"
      val vy = "(CAST(m * syy - sy * sy AS DOUBLE))"
      s"""WITH c AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP)
         |      AS day,
         |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS x,
         |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS y
         |  FROM events WHERE event_type IN ('purchase', 'view')
         |  GROUP BY 1),
         |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM c),
         |g AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))
         |    AS day FROM b),
         |s AS (SELECT g.day, coalesce(c.x, 0) AS x, coalesce(c.y, 0) AS y
         |  FROM g LEFT JOIN c USING (day)),
         |l AS (SELECT unnest(range(-3, 4)) AS lag),
         |p AS (SELECT l.lag, s1.x, s2.y
         |  FROM s s1 CROSS JOIN l
         |  JOIN s s2 ON s2.day = s1.day + l.lag * INTERVAL 1 DAY),
         |m AS (SELECT lag, count(*) AS m,
         |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
         |    sum(CAST(x AS HUGEINT) * x) AS sxx,
         |    sum(CAST(y AS HUGEINT) * y) AS syy,
         |    sum(CAST(x AS HUGEINT) * y) AS sxy
         |  FROM p GROUP BY 1)
         |SELECT lag, CAST(m AS BIGINT) AS n_days,
         |  CASE WHEN $vx > 0 AND $vy > 0 THEN ${graft.StableRound.sql6(
              "CAST(m * sxy - sx * sy AS DOUBLE) " +
                s"/ (sqrt($vx) * sqrt($vy))")} END AS r
         |FROM m""".stripMargin
    },

    // paired per-user bits via max-of-indicator; exact discordant
    // counts; χ² = (b−c)²/(b+c)
    "agg_mcnemar" ->
      s"""WITH per AS (SELECT user_id,
         |    max(CASE WHEN event_type = 'purchase'
         |      AND ts < TIMESTAMP '2024-01-16 00:00:00'
         |      THEN 1 ELSE 0 END) AS p1,
         |    max(CASE WHEN event_type = 'purchase'
         |      AND ts >= TIMESTAMP '2024-01-16 00:00:00'
         |      THEN 1 ELSE 0 END) AS p2
         |  FROM events GROUP BY 1),
         |m AS (SELECT count(*) AS n,
         |    sum(CASE WHEN p1 = 1 AND p2 = 0 THEN 1 ELSE 0 END) AS b,
         |    sum(CASE WHEN p1 = 0 AND p2 = 1 THEN 1 ELSE 0 END) AS c
         |  FROM per)
         |SELECT CAST(n AS BIGINT) AS n, CAST(b AS BIGINT) AS n_lost,
         |  CAST(c AS BIGINT) AS n_gained,
         |  CASE WHEN b + c > 0 THEN ${graft.StableRound.sql6(
              "(CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) " +
                "* (CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) " +
                "/ (CAST(b AS DOUBLE) + CAST(c AS DOUBLE))")}
         |    END AS chi2
         |FROM m""".stripMargin,

    // complete day blocks; midranks = rank + (ties−1)/2 (exact
    // halves); Rj² round6 fixed-point summed; mirrored Q assembly
    "agg_friedman" -> {
      val q = "(12.0 / (CAST(n_blocks AS DOUBLE) * CAST(k AS DOUBLE) " +
        "* (CAST(k AS DOUBLE) + 1)) * (CAST(s6 AS DOUBLE) / 1e6) " +
        "- CAST(n_blocks AS DOUBLE) * 3 * (CAST(k AS DOUBLE) + 1))"
      s"""WITH cells AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP)
         |      AS day_start, event_type,
         |    sum(CAST(round(value * 100) AS HUGEINT)) AS sc,
         |    count(*) AS nc
         |  FROM events GROUP BY 1, 2),
         |kk AS (SELECT count(DISTINCT event_type) AS k FROM cells),
         |m AS (SELECT day_start, event_type,
         |    CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE) AS m,
         |    count(*) OVER (PARTITION BY day_start) AS nt
         |  FROM cells),
         |complete AS (SELECT m.* FROM m, kk WHERE m.nt = kk.k),
         |rked AS (SELECT event_type,
         |    rank() OVER (PARTITION BY day_start ORDER BY m)
         |      + (count(*) OVER (PARTITION BY day_start, m) - 1) / 2.0
         |      AS mr
         |  FROM complete),
         |rj AS (SELECT event_type, count(*) AS nb, sum(mr) AS rj
         |  FROM rked GROUP BY 1),
         |ag AS (SELECT max(kk.k) AS k, max(rj.nb) AS n_blocks,
         |    sum(floor(CAST(${graft.StableRound.sql6("rj.rj * rj.rj")}
         |      * 1000000 + 0.5 AS DECIMAL(38,6)))) AS s6
         |  FROM rj, kk)
         |SELECT CAST(n_blocks AS BIGINT) AS n_blocks,
         |  CAST(k AS BIGINT) AS k,
         |  CASE WHEN n_blocks > 0 AND k > 1
         |    THEN ${graft.StableRound.sql6(q)} END AS q_stat
         |FROM ag""".stripMargin
    },

    // deterministic parity arms; four exact counts; mirrored pooled-z
    // straight line with the degenerate-pool null gate
    "agg_two_prop_ztest" -> {
      val pa = "(CAST(xa AS DOUBLE) / CAST(na AS DOUBLE))"
      val pb = "(CAST(xb AS DOUBLE) / CAST(nb AS DOUBLE))"
      val pp = "((CAST(xa AS DOUBLE) + CAST(xb AS DOUBLE)) " +
        "/ (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))"
      s"""WITH m AS (SELECT
         |    sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS na,
         |    sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS nb,
         |    sum(CASE WHEN user_id % 2 = 0
         |      AND event_type = 'purchase' THEN 1 ELSE 0 END) AS xa,
         |    sum(CASE WHEN user_id % 2 <> 0
         |      AND event_type = 'purchase' THEN 1 ELSE 0 END) AS xb
         |  FROM events)
         |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
         |  CAST(xa AS BIGINT) AS x_a, CAST(xb AS BIGINT) AS x_b,
         |  ${graft.StableRound.sql6(pa)} AS p_a,
         |  ${graft.StableRound.sql6(pb)} AS p_b,
         |  CASE WHEN na > 0 AND nb > 0 AND $pp > 0 AND $pp < 1
         |    THEN ${graft.StableRound.sql6(
              s"($pa - $pb) / sqrt($pp * (1.0 - $pp) " +
                "* (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE)))")}
         |    END AS z
         |FROM m""".stripMargin
    },
  )
}
