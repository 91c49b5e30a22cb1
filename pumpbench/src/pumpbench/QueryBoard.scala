package pumpbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry

/** Seeded generator of the four tables the board reads, with the
  * shapes of the repo's parquet testdata (`FIXTURES.md` §B). `scale` 1
  * is sf0.01's row counts (60k lineitem, 15k orders, 500 documents, 500
  * embeddings). Every value is a hash of (seed, column, row), so the
  * same seed writes the same tables. */
object BoardData {
  private val vocab = Seq("a", "the", "agg", "row", "scan", "slow", "fast",
    "table", "value", "part", "hash", "merge", "batch", "spark", "line",
    "sort", "window", "key", "order", "data", "column", "join", "small",
    "customer", "query", "big", "stream", "group", "filter", "vector", "of")

  /** Rows each table gets at `scale`. */
  def rows(scale: Double): Map[String, Long] = Map(
    "lineitem" -> math.round(60000 * scale),
    "orders" -> math.round(15000 * scale),
    "documents" -> math.round(500 * scale),
    "embeddings" -> math.round(500 * scale))

  def write(spark: SparkSession, dir: String, seed: Long,
      scale: Double): Unit = {
    val n = rows(scale)
    def h(k: Int, cs: Column*): Column =
      xxhash64((lit(seed) +: lit(k) +: cs): _*)
    def pick(k: Int, m: Long, cs: Column*): Column = pmod(h(k, cs: _*), lit(m))
    def oneOf(k: Int, xs: Seq[String], cs: Column*): Column =
      element_at(array(xs.map(lit): _*), (pick(k, xs.size, cs: _*) + 1).cast("int"))
    def day(k: Int, cs: Column*): Column =
      timestamp_seconds(lit(788918400L) + pick(k, 2500, cs: _*) * 86400L)
        .cast("timestamp_ntz")
    val id = col("id")
    def save(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    val parts = math.max(50L, math.round(2000 * scale))
    save("lineitem", spark.range(n("lineitem")).select(
      (id / 4).cast("long").as("l_orderkey"),
      pick(1, parts, id).as("l_partkey"),
      pick(2, math.max(10L, math.round(100 * scale)), id).as("l_suppkey"),
      (pmod(id, lit(4)) + 1).cast("int").as("l_linenumber"),
      (pick(3, 50, id) + 1).cast("double").as("l_quantity"),
      ((pick(4, 10409607, id) + 90182).cast("double") / 100)
        .as("l_extendedprice"),
      (pick(5, 11, id).cast("double") / 100).as("l_discount"),
      (pick(6, 9, id).cast("double") / 100).as("l_tax"),
      oneOf(7, Seq("A", "N", "R"), id).as("l_returnflag"),
      oneOf(8, Seq("F", "O"), id).as("l_linestatus"),
      day(9, id).as("l_shipdate")))

    save("orders", spark.range(n("orders")).select(
      id.as("o_orderkey"),
      pick(11, math.max(10L, math.round(1000 * scale)), id).as("o_custkey"),
      oneOf(12, Seq("F", "O", "P"), id).as("o_orderstatus"),
      ((pick(13, 49887722, id) + 101370).cast("double") / 100)
        .as("o_totalprice"),
      day(14, id).as("o_orderdate"),
      oneOf(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW"), id).as("o_orderpriority")))

    // every tenth document is a 10%-mutated copy of the one five before
    val words = array(vocab.map(lit): _*)
    val docs = spark.range(n("documents"))
      .withColumn("base", when(pmod(id, lit(10)) === 9 && id >= 5, id - 5)
        .otherwise(id))
      .withColumn("ntok", (pick(20, 90, col("base")) + 10).cast("int"))
      .withColumn("text", array_join(transform(
        sequence(lit(0), col("ntok") - 1), j =>
          when(col("base") =!= id && pick(21, 10, id, j) === 0,
            element_at(words, (pick(22, vocab.size, id, j) + 1).cast("int")))
            .otherwise(element_at(words,
              (pick(23, vocab.size, col("base"), j) + 1).cast("int")))), " "))
    save("documents", docs.select(
      id.as("doc_id"), col("text"),
      oneOf(24, Seq("en", "en", "en", "fr", "es", "zh", "de"), id).as("lang"),
      concat(lit("src"), pmod(id, lit(20)).cast("string")).as("source"),
      length(col("text")).cast("long").as("n_chars")))

    // ten label centroids plus equal-size noise, unit-normalized
    def unit(k: Int, cs: Column*): Column =
      (pick(k, 2001, cs: _*) - 1000).cast("double") / 1000
    val raw = spark.range(n("embeddings"))
      .withColumn("label", pick(30, 10, id).cast("int"))
      .withColumn("raw", transform(sequence(lit(0), lit(63)), j =>
        unit(31, col("label"), j) + unit(32, id, j)))
      .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0),
        (acc, x) => acc + x * x)))
    save("embeddings", raw.select(id.as("vec_id"),
      transform(col("raw"), x => (x / col("norm")).cast("float"))
        .as("embedding"),
      col("label")))
  }
}

/** `query_board`: a read-only slice of the registry. Each timed pass
  * runs every entry once, each as entry construction then a write to
  * the noop sink, with the SQL cache cleared and a full GC before each
  * entry. The warm-up runs the same entries on a ten-times smaller
  * input (different paths, so nothing it persists can serve a timed
  * entry) and writes their outputs for the DuckDB oracle check. */
object QueryBoard {
  val entries: Seq[(String, Seq[String])] = Seq(
    "graph_clustering_coeff" -> Seq("lineitem"),
    "agg_spearman" -> Seq("lineitem"),
    "dedupe_near_ngram" -> Seq("documents"),
    "dedupe_embed_semdedup" -> Seq("embeddings"),
    "agg_describe" -> Seq("lineitem"),
    "vec_hybrid_rrf" -> Seq("documents", "embeddings"),
    "join_range_binned" -> Seq("orders"))
  val timedScale = 1.0
  val warmScale = 0.1

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val (warmDir, timedDir) = (ctx.path("warmup/data"), ctx.path("timed/data"))
    BoardData.write(spark, warmDir, ctx.seed * 31 + 7, warmScale)
    BoardData.write(spark, timedDir, ctx.seed, timedScale)
    ctx.mark("data")

    // warm-up doubles as the oracle dump: outputs + their DuckDB SQL
    val oracleDir = ctx.path("oracle")
    val errors = mutable.ArrayBuffer.empty[String]
    entries.foreach { case (name, _) =>
      SparkEntry.queries(name)(spark, warmDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$oracleDir/$name")
      ctx.mark(s"warm_$name")
    }
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(s"$oracleDir/oracle_sql.json"),
      mapper.writeValueAsString(entries.map { case (name, _) =>
        name -> SparkEntry.oracleSql(name) }.toMap))

    val rowsPerPass = {
      val n = BoardData.rows(timedScale)
      entries.map(_._2.map(n).sum).sum
    }
    // (entry, construct_s, execute_s) per timed entry run
    val runs = mutable.ArrayBuffer.empty[(String, Double, Double)]
    val passes = mutable.ArrayBuffer.empty[Double]
    var failed = 0
    ctx.startTimed()
    val t0 = System.nanoTime()
    while (passes.isEmpty || !ctx.deadlineReached(t0)) {
      var board = 0.0
      entries.foreach { case (name, _) =>
        spark.catalog.clearCache()
        System.gc()
        spark.sparkContext.setJobGroup(name, name)
        try {
          val a = System.nanoTime()
          val df = SparkEntry.queries(name)(spark, timedDir)
          val b = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          val c = System.nanoTime()
          runs += ((name, (b - a) / 1e9, (c - b) / 1e9))
          board += (c - a) / 1e9
        } catch {
          case e: Exception =>
            failed += 1
            errors += s"$name failed: ${e.getClass.getSimpleName}: " +
              e.getMessage
        } finally spark.sparkContext.clearJobGroup()
      }
      passes += board
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val heap = ctx.endTimed()
    val setup = ctx.setupSec

    val endToEnd = Seq(
      Metric("setup_s", setup, "s"),
      Metric("records_per_s", rowsPerPass * passes.size / wall, "1/s",
        passes.size),
      Metric("item_p50_s", Stat.median(passes.toSeq), "s", passes.size),
      Metric("retained_heap_mb", heap, "MB"))
    val perLayer = ctx.tracer.map { t =>
      val jobs = t.jobs
      entries.flatMap { case (name, _) =>
        val mine = runs.filter(_._1 == name)
        val js = jobs.filter(_.group == name)
        val k = math.max(1, passes.size)
        Seq(
          Metric(s"queries.$name.construct_s",
            Stat.median(mine.map(_._2).toSeq), "s", mine.size),
          Metric(s"queries.$name.execute_s",
            Stat.median(mine.map(_._3).toSeq), "s", mine.size),
          Metric(s"queries.$name.jobs", js.size.toDouble / k, "count"),
          Metric(s"queries.$name.cpu_s", js.map(_.cpuNs).sum / 1e9 / k, "s"))
      } ++ t.engineMetrics(wall, ctx.cores)
    }.getOrElse(Nil)
    val items = runs.map { case (name, c, e) =>
      Map("entry" -> name, "construct_s" -> c, "execute_s" -> e)
    }
    Outcome(endToEnd, perLayer, attempted = runs.size + failed,
      failed = failed, errors = errors.toList, items = items.toList,
      detail = Map("timed_wall_s" -> wall, "passes" -> passes.size,
        "board_s" -> Stat.median(passes.toSeq), "board_pass_s" -> passes,
        "timed_scale" -> timedScale, "warmup_scale" -> warmScale,
        "oracle_dir" -> oracleDir, "warmup_data_dir" -> warmDir))
  }
}
