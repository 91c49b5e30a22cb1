package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.ops.Prefix

/** Prefix helpers must be BIT-EQUAL to the serial prefix/rank
  * formulations they replace (the call sites' oracles don't change),
  * including ties, descending composite orders, decimal summands, and
  * tiny B (forcing real multi-bucket offsets). References are computed
  * driver-side in plain Scala — not via unpartitioned Spark windows —
  * so the suite log stays free of WindowExec single-partition WARNs. */
class PrefixSpec extends SparkSpec {
  import sqlImplicits._

  private val dec = DecimalType(38, 0)

  test("belowBucketed (exclusive) equals serial below-prefix") {
    val dom = (1 to 200).map(i => ((i * 37) % 97L, (i % 5) + 1L))
      .toDF("v", "cnt").groupBy("v").agg(sum("cnt").as("cnt"))
    val rows = dom.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    var acc = 0L
    val want = rows.map { case (v, c) =>
      val below = acc; acc += c; (v, below) }.toMap
    val got = Prefix.belowBucketed(dom, "v",
        sums = Seq((col("cnt"), "below")), inclusive = false, B = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(got == want)
  }

  test("belowBucketed (inclusive, two sums incl. decimal) equals serial") {
    val dom = (1 to 150).map(i => ((i * 13) % 41L, i.toLong))
      .toDF("v", "m").groupBy("v").agg(sum("m").as("m"))
    val rows = dom.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    var (cm, cvm) = (0L, BigInt(0))
    val want = rows.map { case (v, m) =>
      cm += m; cvm += BigInt(v) * m; (v, (cm, cvm)) }.toMap
    val got = Prefix.belowBucketed(dom, "v",
        sums = Seq((col("m"), "cum"),
          (col("v").cast(dec) * col("m"), "cumvm")),
        inclusive = true, B = 4)
      .collect().map(r => (r.getLong(0),
        (r.getLong(2), BigInt(r.getDecimal(3).toBigInteger)))).toMap
    assert(got == want)
  }

  test("belowBucketed desc + tieBreak equals serial (abc shape)") {
    // deliberate ties on the primary so tie-break ordering matters
    val dom = (1 to 60).map(i => (i.toLong, ((i % 7) * 100).toLong))
      .toDF("k", "cents")
    val rows = dom.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (k, c) => (-c, k) }
    var acc = 0L
    val want = rows.map { case (k, c) => acc += c; (k, acc) }.toMap
    val got = Prefix.belowBucketed(dom, "cents", tieBreak = Seq("k"),
        sums = Seq((col("cents"), "cum")), inclusive = true,
        desc = true, B = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(got == want)
  }

  test("belowBucketed single-value domain and empty domain") {
    val one = Seq((5L, 2L), (5L, 3L)).toDF("v", "cnt")
      .groupBy("v").agg(sum("cnt").as("cnt"))
    val g1 = Prefix.belowBucketed(one, "v",
      sums = Seq((col("cnt"), "below")), inclusive = false)
    assert(g1.collect().map(r => (r.getLong(0), r.getLong(2))).toSeq ==
      Seq((5L, 0L)))
    val empty = Seq.empty[(Long, Long)].toDF("v", "cnt")
    assert(Prefix.belowBucketed(empty, "v",
      sums = Seq((col("cnt"), "below")), inclusive = false).count() == 0)
  }

  test("thetaRank equals serial rank under composite desc order") {
    val df = (1 to 101).map(i => (((i * 7) % 31).toLong, i.toLong))
      .toDF("c", "key")
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = rows.sortBy { case (c, k) => (-c, k) }.zipWithIndex
      .map { case ((_, k), i) => (k, i + 1L) }.toMap
    val got = Prefix.thetaRank(df, Seq(("c", true), ("key", false)), "r")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(got == want)
  }

  test("doubledMidrank equals twice the rank() midrank over expanded rows") {
    // ties everywhere: v = ⌊√i⌋ over 300 rows is 17 values of
    // multiplicity 3, 5, 7, …, 33 and a final 12
    val expanded = (1 to 300).map(i => (math.sqrt(i.toDouble).toLong, i))
      .toDF("v", "i")
    // a tie group spans ranks [first, last]: first = rank() ascending,
    // last = n + 1 − rank() descending; midrank = (first + last) / 2.
    // One constant partition keeps WindowExec's single-partition WARN
    // out of the suite log.
    val n = expanded.count()
    val all = Window.partitionBy(lit(0))
    val want = expanded
      .withColumn("first", rank().over(all.orderBy(col("v"))))
      .withColumn("last", lit(n + 1) - rank().over(all.orderBy(col("v").desc)))
      .groupBy("v").agg(max(col("first") + col("last")).as("twice"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(want.size == 17)
    val dom = expanded.groupBy("v").agg(count(lit(1)).as("cnt"))
    val got = Prefix.doubledMidrank(dom, "v", "cnt")
    assert(got.columns.toSeq == Seq("v", "cnt", "r2"))
    assert(got.collect().map(r => (r.getLong(0), r.getLong(2))).toMap == want)
  }
}
