package graft.sink

import java.util.Locale

/** The PLANS §28 sink-calibration workload as a RUNNABLE main — r15
  * measured the embedded-Derby floor vs a real PostgreSQL 15 by hand
  * and recorded the numbers as narrative; this main (driven end-to-end
  * by `tools/pg_calibrate.sh`) makes the calibration re-runnable.
  *
  * Workload (identical to §28): table (k BIGINT PK, s VARCHAR/TEXT,
  * v DOUBLE); phase 1 upserts N fresh rows; phase 2 upserts N/2
  * conflicting (the ON CONFLICT DO UPDATE arm) + N/2 new rows. Timing
  * is wall-clock per phase over [[JdbcSink.upsert]]'s real
  * foreachPartition/batch-500 path over 8 partitions, on
  * [[graft.LocalSession]]'s cores (`tools/pg_calibrate.sh` sets
  * `SPARK_GRAFT_CPUS=8`: local[8], the exact shape every committed sink
  * number rests on).
  *
  * Modes:
  *  - `print-sql` — emit the EXACT generated statements (CREATE /
  *    UPSERT / TRUNCATE, Postgres dialect) for the workload schema, so
  *    the shell harness validates the sink's real SQL against a live
  *    server via psql PREPARE/EXECUTE instead of a hand-copied string.
  *  - `derby [rows]` — run the workload on a fresh embedded Derby under
  *    java.io.tmpdir (the test/bench dialect; this is the FLOOR every
  *    committed sink number includes).
  *  - `jdbc <url> [rows]` — run the same workload against the given URL
  *    (e.g. a live Postgres; its JDBC driver must be on the classpath).
  *
  * Output: one JSON line per run —
  * `{"engine":…,"rows":N,"p1_sec":…,"p2_sec":…,"rows_per_sec":…}`. */
object SinkCalibrate {

  private val TABLE = "graft_calib"

  private def workloadSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("k", LongType, nullable = false),
      StructField("s", StringType), StructField("v", DoubleType)))
  }

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("print-sql") =>
      // a postgres-shaped URL selects the postgres dialect branch; the
      // sink never connects here
      val sink = JdbcSink("jdbc:postgresql://calibration-only/db")
      println("CREATE\t" + sink.createTableSql(TABLE, workloadSchema, Seq("k")))
      println("UPSERT\t" + sink.upsertSql(TABLE, Seq("k", "s", "v"), Seq("k"))._1)
      println("TRUNCATE\t" + sink.truncateSql(TABLE))
    case Some("derby") =>
      val dir = java.nio.file.Files.createTempDirectory("graft-calib-derby")
      run(JdbcSink(s"jdbc:derby:$dir/db;create=true"), "derby",
        args.lift(1).flatMap(_.toIntOption).getOrElse(100000))
    case Some("jdbc") =>
      val url = args.lift(1).getOrElse(
        sys.error("usage: SinkCalibrate jdbc <url> [rows]"))
      run(JdbcSink(url), "jdbc",
        args.lift(2).flatMap(_.toIntOption).getOrElse(100000))
    case _ =>
      System.err.println("usage: SinkCalibrate print-sql | derby [rows] " +
        "| jdbc <url> [rows]")
      sys.exit(2)
  }

  private def run(sink: JdbcSink, engine: String, n: Int): Unit = {
    val spark = graft.LocalSession()
    import spark.implicits._
    def rows(from: Long, until: Long, tag: String) =
      spark.range(from, until, 1, 8)
        .select($"id".as("k"),
          org.apache.spark.sql.functions.concat(
            org.apache.spark.sql.functions.lit(tag),
            $"id".cast("string")).as("s"),
          ($"id" * 1.5).as("v"))
    sink.ensureTable(TABLE, workloadSchema, Seq("k"))
    sink.truncate(TABLE)
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // phase 1: N fresh inserts through the upsert path
    val p1 = timed(sink.upsert(rows(0, n, "a"), TABLE, Seq("k")))
    // phase 2: N/2 conflicting updates + N/2 new inserts
    val p2 = timed(sink.upsert(
      rows(0, n / 2, "b").union(rows(n, n + n / 2, "b")), TABLE, Seq("k")))
    val total = sink.recordCount(TABLE)
    require(total == n + n / 2L,
      s"expected ${n + n / 2} rows after the workload, found $total")
    def num(v: Double): String = "%.4f".formatLocal(Locale.US, v)
    println(s"""{"engine":"$engine","rows":$n,"p1_sec":${num(p1)},""" +
      s""""p2_sec":${num(p2)},"rows_per_sec":${num(2 * n / (p1 + p2))}}""")
    spark.stop()
  }
}
