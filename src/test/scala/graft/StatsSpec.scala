package graft

import graft.ops.Stats

class StatsSpec extends SparkSpec {
  import sqlImplicits._

  test("describe: hand-checked stats on a tiny frame") {
    val df = Seq(1.0, 2.0, 3.0, 4.0).toDF("x")
    val got = Stats.describe(df, Seq("x"))
      .as[(String, Double)].collect().toMap
    assert(got("count") == 4.0)
    assert(got("mean") == 2.5)
    assert(math.abs(got("std") - 1.290994) < 1e-6) // stddev_samp
    assert(got("min") == 1.0)
    assert(got("25%") == 1.75) // exact interpolated, pandas-style
    assert(got("50%") == 2.5)
    assert(got("75%") == 3.25)
    assert(got("max") == 4.0)
  }

  test("describeAll: unique/top/freq + per-class cell applicability") {
    import java.sql.Timestamp
    val df = Seq(
      (1L, "b", 10.0, Timestamp.valueOf("2024-01-01 10:00:00")),
      (2L, "a", 20.0, Timestamp.valueOf("2024-01-01 12:00:00")),
      (3L, "a", 30.0, Timestamp.valueOf("2024-01-01 14:00:00")),
      (4L, "c", 40.0, Timestamp.valueOf("2024-01-01 16:00:00")))
      .toDF("id", "s", "x", "ts")
    val got = Stats.describeAll(df, Seq("id", "s", "x", "ts"))
      .collect().map(r => r.getString(0) ->
        (r.getString(1), r.getString(2), r.getString(3), r.getString(4)))
      .toMap
    assert(got.size == 11) // pandas describe(include='all') row set
    assert(got("count") == (("4", "4", "4", "4")))
    // unique/top/freq apply to the string column only
    assert(got("unique") == ((null, "3", null, null)))
    assert(got("top") == ((null, "a", null, null))) // modal value
    assert(got("freq") == ((null, "2", null, null)))
    // numeric cells render as fixed-scale DECIMAL(28,6) strings
    assert(got("mean")._1 == "2.500000")
    assert(got("mean")._3 == "25.000000")
    assert(got("50%")._3 == "25.000000")
    assert(got("max")._3 == "40.000000")
    assert(got("std")._2 == null) // std not defined for strings
    // timestamp: exact epoch-mean + min/max on the time axis, no quantiles
    assert(got("mean")._4 == "2024-01-01 13:00:00")
    assert(got("min")._4 == "2024-01-01 10:00:00")
    assert(got("max")._4 == "2024-01-01 16:00:00")
    assert(got("25%")._4 == null)
  }

  test("describeAll: string top ties break to the lowest value") {
    val df = Seq("b", "b", "a", "a", "c").toDF("s")
    val got = Stats.describeAll(df, Seq("s"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("top") == "a") // 'a' and 'b' tie at 2 — lowest wins
    assert(got("freq") == "2")
  }

  test("mode: ties are all returned, row-aligned, sorted by value") {
    // col a: 'x' and 'y' tie at 2; col b: single mode 9
    val df = Seq(("x", 9), ("x", 9), ("y", 9), ("y", 8), ("z", 7))
      .toDF("a", "b")
    val got = Stats.modeAll(df, Seq("a", "b"))
      .orderBy("row_idx")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    assert(got.length == 2)
    assert(got(0) == ((1, "x", "9")))
    assert(got(1) == ((2, "y", null))) // b padded with null on row 2
  }

  test("mode on single-mode columns gives one row") {
    val df = Seq(("x", 1), ("x", 1), ("y", 1)).toDF("a", "b")
    val got = Stats.modeAll(df, Seq("a", "b")).collect()
    assert(got.length == 1)
  }

  test("exactQuantilesByCounting equals the percentile aggregate") {
    import org.apache.spark.sql.functions._
    // duplicates, skew, and a null — the counting path must reproduce
    // percentile()'s linear interpolation exactly
    val df = Seq[(java.lang.Double, java.lang.Double)](
      (1.0, 10.0), (1.0, 20.0), (2.0, 20.0), (4.0, 20.0), (8.0, 30.0),
      (8.0, null), (9.5, 40.0)).toDF("a", "b")
    val got = Stats.exactQuantilesByCounting(df, Seq("a", "b")).collect()(0)
    val exp = df.agg(
      expr("percentile(a, array(0.25, 0.5, 0.75))"),
      expr("percentile(b, array(0.25, 0.5, 0.75))")).collect()(0)
    val expA = exp.getSeq[Double](0)
    val expB = exp.getSeq[Double](1)
    assert(got.getDouble(0) == expA(0) && got.getDouble(1) == expA(1) &&
      got.getDouble(2) == expA(2))
    assert(got.getDouble(3) == expB(0) && got.getDouble(4) == expB(1) &&
      got.getDouble(5) == expB(2))
  }

  test("groupedQuantiles equals percentile() per group") {
    import org.apache.spark.sql.functions._
    val df = Seq[(String, java.lang.Double)](
      ("a", 10.0), ("a", 20.0), ("a", 20.0), ("a", 95.0),
      ("b", 5.0), ("b", null), ("b", 7.5),
      ("c", 42.0) // single-row group
    ).toDF("g", "v")
    val got = Stats.groupedQuantiles(df, Seq("g"), "v", Seq(0.5, 0.95))
      .orderBy("g").collect()
    val exp = df.groupBy("g")
      .agg(expr("percentile(v, array(0.5, 0.95))").as("q"))
      .orderBy("g").collect()
    exp.zip(got).foreach { case (e, g) =>
      val qs = e.getSeq[Double](1)
      assert(g.getString(0) == e.getString(0))
      assert(g.getDouble(1) == qs(0), s"p50 ${g.getDouble(1)} != ${qs(0)}")
      assert(g.getDouble(2) == qs(1), s"p95 ${g.getDouble(2)} != ${qs(1)}")
    }
  }

  test("caller-provided bounds (statsDf) give bit-identical quantiles " +
      "to the self-derived path, ungrouped and grouped") {
    import org.apache.spark.sql.functions._
    // ungrouped: bounds from a describe-style moment pass (min/max as
    // double, non-null count as long) must reproduce the default path
    val df = Seq[(java.lang.Double, java.lang.Double)](
      (1.0, 10.0), (1.0, 20.0), (2.0, 20.0), (4.0, 20.0), (8.0, 30.0),
      (8.0, null), (9.5, 40.0)).toDF("a", "b")
    val bounds = df.agg(
        min(col("a")).cast("double").as("a__min"),
        max(col("a")).cast("double").as("a__max"),
        count(col("a")).as("a__count"),
        min(col("b")).cast("double").as("b__min"),
        max(col("b")).cast("double").as("b__max"),
        count(col("b")).as("b__count"))
      .selectExpr("stack(2, 'a', a__min, a__max, a__count, " +
        "'b', b__min, b__max, b__count) AS (cn, mn, mx, n)")
    val got = Stats.exactQuantilesByCounting(df, Seq("a", "b"),
      statsDf = Some(bounds)).collect()(0)
    val exp = Stats.exactQuantilesByCounting(df, Seq("a", "b"))
      .collect()(0)
    (0 until 6).foreach(i =>
      assert(got.getDouble(i) == exp.getDouble(i), s"cell $i"))
    // grouped twin: per-group bounds relation
    val gdf = Seq[(String, java.lang.Double)](
      ("a", 10.0), ("a", 20.0), ("a", 20.0), ("a", 95.0),
      ("b", 5.0), ("b", null), ("b", 7.5), ("c", 42.0)).toDF("g", "v")
    val gBounds = gdf
      .select(col("g"), col("v").cast("double").as("v"))
      .filter(col("v").isNotNull)
      .groupBy("g")
      .agg(min("v").as("mn"), max("v").as("mx"), count(lit(1)).as("n"))
    val gGot = Stats.groupedQuantiles(gdf, Seq("g"), "v", Seq(0.5, 0.95),
      Some(gBounds)).orderBy("g").collect()
    val gExp = Stats.groupedQuantiles(gdf, Seq("g"), "v", Seq(0.5, 0.95))
      .orderBy("g").collect()
    gExp.zip(gGot).foreach { case (e, g) =>
      assert(g.getString(0) == e.getString(0))
      assert(g.getDouble(1) == e.getDouble(1))
      assert(g.getDouble(2) == e.getDouble(2))
    }
  }

  test("exactQuantilesByCounting: single row and all-equal columns") {
    import org.apache.spark.sql.functions._
    val one = Seq((7.0)).toDF("a")
    val g1 = Stats.exactQuantilesByCounting(one, Seq("a")).collect()(0)
    assert(g1.getDouble(0) == 7.0 && g1.getDouble(1) == 7.0 &&
      g1.getDouble(2) == 7.0)
    val eq = Seq(3.0, 3.0, 3.0, 3.0).toDF("a")
    val g2 = Stats.exactQuantilesByCounting(eq, Seq("a")).collect()(0)
    assert(g2.getDouble(0) == 3.0 && g2.getDouble(1) == 3.0 &&
      g2.getDouble(2) == 3.0)
  }

  test("rollingMadOutliers flags the planted spike, nothing else, and " +
      "only interior rows") {
    import java.sql.Timestamp
    // 40 constant rows + one spike at position 20; key ordering by (ts, id)
    val rows = (0 until 40).map { i =>
      val v = if (i == 20) 999.0 else 10.0
      (i.toLong, "k", Timestamp.valueOf(f"2024-01-01 00:${i}%02d:00"), v)
    }
    val df = rows.toDF("event_id", "event_type", "ts", "value")
    val got = Stats.rollingMadOutliers(df, "event_type", "ts",
      "event_id", "value")
      .select("event_id", "med_cents", "mad_cents")
      .as[(Long, Long, Long)].collect().toSeq
    // the spike's own window has median 1000 cents, MAD 0 -> flagged;
    // every neighbor equals its window median -> never flagged
    assert(got == Seq((20L, 1000L, 0L)))
    // edge rows (windows < 25) are excluded even with a spike there
    val edge = (0 until 15).map { i =>
      val v = if (i == 2) 999.0 else 10.0
      (i.toLong, "k", Timestamp.valueOf(f"2024-01-01 00:${i}%02d:00"), v)
    }.toDF("event_id", "event_type", "ts", "value")
    assert(Stats.rollingMadOutliers(edge, "event_type", "ts",
      "event_id", "value").count() == 0)
  }

  test("giniByCounting: hand-checked values, all-equal is 0, and the " +
      "two-level rank equals the direct sorted formula with ties") {
    // x = 1,2,3,4 -> G = (2*30 - 5*10) / (4*10) = 0.25
    val df = Seq(1L, 2L, 3L, 4L).toDF("cents")
    val g = Stats.giniByCounting(df, "cents")
      .as[(Long, Long, Double)].collect()(0)
    assert(g == ((4L, 10L, 0.25)))
    // perfect equality -> 0 (and the mn==mx bucket branch)
    val eq = Seq(5L, 5L, 5L, 5L).toDF("cents")
    assert(Stats.giniByCounting(eq, "cents")
      .as[(Long, Long, Double)].collect()(0)._3 == 0.0)
    // tied + spread values: compare against the direct Σi·x formula
    val xs = Seq(3L, 7L, 7L, 7L, 12L, 12L, 40L, 100L, 100L, 250L)
    val sorted = xs.sorted
    val n = sorted.size
    val sx = sorted.sum.toDouble
    val six = sorted.zipWithIndex.map { case (x, i) => (i + 1) * x }
      .sum.toDouble
    val want = BigDecimal((2.0 * six - (n + 1) * sx) / (n * sx))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Stats.giniByCounting(xs.toDF("cents"), "cents")
      .as[(Long, Long, Double)].collect()(0)
    assert(got._1 == n.toLong && got._2 == sorted.sum)
    assert(math.abs(got._3 - want) < 2e-6)
  }

  test("mannKendall: planted monotone series hit the closed form, a " +
      "constant series is a zero-variance no_trend") {
    // strictly increasing / decreasing n=10 series: S = ±C(10,2) = ±45,
    // no ties -> 18Var = 10·9·25 = 2250, z = (|S|−1)/sqrt(125) ≈ 3.935
    val rows =
      (1 to 10).map(i => ("up", i.toLong, i.toLong)) ++
      (1 to 10).map(i => ("down", i.toLong, (11 - i).toLong)) ++
      (1 to 10).map(i => ("flat", i.toLong, 7L))
    val got = Stats.mannKendall(rows.toDF("k", "t", "v"), "k", "t", "v")
      .as[(String, Long, Long, Long, Double, String)].collect()
      .map(r => r._1 -> r).toMap
    val zExp = 44.0 / math.sqrt(2250.0 / 18.0)
    assert(got("up")._3 == 45L && got("up")._4 == 2250L)
    assert(math.abs(got("up")._5 - zExp) < 1e-6)
    assert(got("up")._6 == "increasing")
    assert(got("down")._3 == -45L && got("down")._6 == "decreasing")
    assert(math.abs(got("down")._5 + zExp) < 1e-6)
    // constant series: one tie group of n cancels 18Var exactly; the
    // S=0 branch never divides
    assert(got("flat") == (("flat", 10L, 0L, 0L, 0.0, "no_trend")))
  }
}
