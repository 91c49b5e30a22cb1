package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact prefix sums and ranks WITHOUT unpartitioned windows.
  *
  * `Window.orderBy(...)` with no partition spec moves the whole input
  * through one task (Spark logs the WindowExec single-partition WARN) —
  * harmless on a 64-row replica table, fatal on a corpus-fed domain
  * relation at 100 TB. These helpers keep every serial step bounded:
  *
  *  - [[belowBucketed]]: the two-level recipe
  *    (`Stats.exactQuantilesByCounting`'s shape, factored out) — equi-
  *    width bucket on the order column, per-bucket totals → global
  *    offsets via a THETA-JOIN over ≤B bucket rows (B² ≤ 1M pairs, no
  *    window at all), within-bucket prefix via a PARTITIONED window.
  *    Every value's prefix is an exact integer/decimal sum (order-
  *    independent), bit-equal to the single-window formulation.
  *  - [[doubledMidrank]]: the exact-integer doubled average rank of
  *    each value of a tied domain, on top of [[belowBucketed]].
  *  - [[thetaRank]]: rank under a composite total order on a TINY
  *    (top-k / replica-count) relation via the same theta-join count —
  *    O(n²) pairs, fine for n ≤ a few hundred, and embarrassingly
  *    parallel.
  *
  * Bucket assignment casts the order column to double: the cast is
  * monotone NON-DECREASING for integral/decimal inputs (longs beyond
  * 2^53 may collide into one bucket — still correct, the within-bucket
  * sort orders by the original column; skew costs parallelism, never
  * exactness — the `exactQuantilesByCounting` argument).
  */
object Prefix {

  /** Adds one exact prefix-sum column per `sums` entry to `dom`.
    *
    * @param dom      domain relation (callers usually localCheckpoint it
    *                 — the helper scans it three times: bounds, totals,
    *                 main)
    * @param primary  numeric/decimal order column (name in `dom`)
    * @param tieBreak additional ascending order columns breaking ties
    *                 within a `primary` value (ties on `primary` alone
    *                 never straddle buckets, so tie-break columns don't
    *                 participate in bucketing)
    * @param sums     (summand expression over a `dom` row, output name)
    * @param inclusive false → strictly-preceding rows ("below");
    *                  true → cumulative including the current row
    * @param desc     order `primary` descending (tieBreak stays asc)
    */
  def belowBucketed(dom: DataFrame, primary: String,
      tieBreak: Seq[String] = Nil, sums: Seq[(Column, String)],
      inclusive: Boolean, desc: Boolean = false,
      B: Int = 1024): DataFrame = {
    val p = col(primary).cast("double")
    val bounds = dom.agg(min(p).as("__mn"), max(p).as("__mx"))
    // monotone (in the requested direction) bucket id in [0, B)
    val rawB =
      if (desc) floor((col("__mx") - p) / ((col("__mx") - col("__mn")) / B))
      else floor((p - col("__mn")) / ((col("__mx") - col("__mn")) / B))
    val bucketed = dom.crossJoin(broadcast(bounds))
      .withColumn("__pb",
        when(col("__mx") === col("__mn"), lit(0L))
          .otherwise(least(rawB.cast("long"), lit(B - 1L))))
      .drop("__mn", "__mx")
    // per-bucket totals (≤B rows) — one column per requested sum
    val aggCols = sums.map { case (e, n) => sum(e).as(s"__t_$n") }
    val totals = bucketed.groupBy("__pb").agg(aggCols.head, aggCols.tail: _*)
    val zeros: Map[String, Column] = sums.map { case (_, n) =>
      n -> lit(0).cast(totals.schema(s"__t_$n").dataType)
    }.toMap
    // global offsets = strictly-lower buckets' totals, via theta-join —
    // B² ≤ 1M broadcast pairs, no window, no single-partition exchange
    val rTotals = totals.select(
      col("__pb").as("__rpb") +: sums.map { case (_, n) =>
        col(s"__t_$n").as(s"__rt_$n") }: _*)
    val offAggs = sums.map { case (_, n) =>
      coalesce(sum(col(s"__rt_$n")), zeros(n)).as(s"__off_$n") }
    val offsets = totals.select("__pb")
      .join(broadcast(rTotals), col("__rpb") < col("__pb"), "left")
      .groupBy("__pb").agg(offAggs.head, offAggs.tail: _*)
    // within-bucket prefix on a PARTITIONED window (ties on `primary`
    // never straddle buckets, so per-bucket frames are self-contained)
    val orderCols = (if (desc) col(primary).desc else col(primary).asc) +:
      tieBreak.map(col(_).asc)
    val w = Window.partitionBy("__pb").orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding,
        if (inclusive) Window.currentRow else -1)
    val withLoc = sums.foldLeft(bucketed) { case (df, (e, n)) =>
      df.withColumn(s"__loc_$n", coalesce(sum(e).over(w), zeros(n)))
    }
    val finalCols = dom.columns.map(col) ++ sums.map { case (_, n) =>
      (col(s"__off_$n") + col(s"__loc_$n")).as(n) }
    withLoc.join(broadcast(offsets), "__pb").select(finalCols: _*)
  }

  /** Adds `r2 = 2·below + cnt + 1`, TWICE the midrank (average 1-based
    * rank of a tie group) of each `key` value, where `cnt` is the
    * value's multiplicity and `below` counts the rows strictly below it
    * (the tie group spans ranks below+1 … below+cnt). Doubling keeps the
    * .5-grained midrank an exact integer. `dom` holds one row per
    * distinct `key`; its columns are kept. */
  def doubledMidrank(dom: DataFrame, key: String, cnt: String): DataFrame =
    belowBucketed(dom, key, sums = Seq((col(cnt), "__below")),
        inclusive = false)
      .select(dom.columns.map(col) :+
        (col("__below") * 2 + col(cnt) + 1).as("r2"): _*)

  /** Rank (1-based, distinct order keys assumed) under a composite
    * total order, via theta-join counting of strictly-preceding rows.
    * `order`: (column name, descending?). Intended for top-k relations
    * (n ≤ a few hundred → n² pairs, broadcast, no serial stage). */
  def thetaRank(df: DataFrame, order: Seq[(String, Boolean)],
      out: String = "__rank"): DataFrame = {
    val right = df.select(order.map { case (c, _) =>
      col(c).as(s"__r_$c") }: _*)
    val precedes = order.indices.map { i =>
      val eqPrefix = (0 until i).map { j =>
        val (c, _) = order(j); col(s"__r_$c") === col(c)
      }.foldLeft(lit(true))(_ && _)
      val (c, d) = order(i)
      eqPrefix && (if (d) col(s"__r_$c") > col(c)
                   else col(s"__r_$c") < col(c))
    }.reduce(_ || _)
    df.join(broadcast(right), precedes, "left")
      .groupBy(df.columns.map(col): _*)
      .agg((count(col(s"__r_${order.head._1}")) + 1).as(out))
  }
}
