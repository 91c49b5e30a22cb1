package graft.sink

import java.sql.{Connection, DriverManager, Types}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Physical JDBC sink — the engine's CKAN-datastore analog
  * (`datapump.py:560-612`: `datastore_create` with PK + index,
  * `datastore_upsert`, `datastore_delete`).
  *
  * Upserts run distributed: `df.foreachPartition` opens one connection per
  * partition and executes batched upsert statements (Postgres
  * `INSERT ... ON CONFLICT DO UPDATE`, Derby DELETE-by-PK then INSERT,
  * both through one batched writer). For Postgres,
  * pair with `reWriteBatchedInserts=true` in the URL. At cluster scale the
  * parallelism knob is the DataFrame's partition count — repartition to the
  * sink's connection budget before writing.
  *
  * Only connection properties cross the closure boundary (the class is a
  * small serializable value); connections are created inside partitions.
  */
case class JdbcSink(url: String, user: String = "", password: String = "")
    extends Serializable {

  private def isDerby = url.startsWith("jdbc:derby")

  def connect(): Connection =
    if (user.isEmpty) DriverManager.getConnection(url)
    else DriverManager.getConnection(url, user, password)

  /** Runs `body` as one transaction on a fresh connection. On failure
    * the transaction is rolled back before the connection closes: Derby
    * refuses to close a connection with an open transaction, which would
    * leak it together with its row locks, and every later write to those
    * rows would then fail on a lock timeout. */
  private def transaction(body: Connection => Unit): Unit = {
    val c = connect()
    try {
      c.setAutoCommit(false)
      body(c)
      c.commit()
    } catch {
      case e: Throwable =>
        try c.rollback() catch { case r: Throwable => e.addSuppressed(r) }
        throw e
    } finally c.close()
  }

  private def sqlType(dt: DataType): String = dt match {
    case LongType | IntegerType | ShortType | ByteType => "BIGINT"
    case DoubleType | FloatType => "DOUBLE PRECISION"
    // TimestampNTZ is what Spark 4 infers for parquet timestamps without
    // isAdjustedToUTC (the common pandas/arrow layout) — without this case
    // such columns were silently created as VARCHAR and read back as the
    // java.sql.Timestamp string repr.
    case TimestampType | TimestampNTZType => "TIMESTAMP"
    case DateType => "DATE"
    case _ => if (isDerby) "VARCHAR(32672)" else "TEXT"
  }

  /** Spark 4 returns java.time values from Rows (java8API default-on);
    * JDBC drivers want java.sql types. */
  private def coerce(v: Any): Any = v match {
    case i: java.time.Instant => java.sql.Timestamp.from(i)
    case d: java.time.LocalDate => java.sql.Date.valueOf(d)
    case dt: java.time.LocalDateTime => java.sql.Timestamp.valueOf(dt)
    case other => other
  }

  private def jdbcType(dt: DataType): Int = dt match {
    case LongType | IntegerType | ShortType | ByteType => Types.BIGINT
    case DoubleType | FloatType => Types.DOUBLE
    case TimestampType | TimestampNTZType => Types.TIMESTAMP
    case DateType => Types.DATE
    case _ => Types.VARCHAR
  }

  def tableExists(table: String): Boolean = {
    val c = connect()
    try {
      val rs = c.getMetaData.getTables(null, null, null,
        Array("TABLE"))
      var found = false
      while (rs.next() && !found)
        found = rs.getString("TABLE_NAME").equalsIgnoreCase(table)
      found
    } finally c.close()
  }

  /** CREATE TABLE with PRIMARY KEY (the reference's
    * `datastore_create(primary_key=…, indexes=…)` — the PK constraint IS
    * the index on both dialects). No-op if the table exists. */
  def ensureTable(table: String, schema: StructType, pk: Seq[String]): Unit = {
    if (tableExists(table)) return
    val c = connect()
    try {
      val st = c.createStatement()
      st.executeUpdate(createTableSql(table, schema, pk))
      st.close()
    } finally c.close()
  }

  /** The exact CREATE statement [[ensureTable]] executes — exposed (like
    * [[upsertSql]]) so the calibration harness can validate the
    * generated dialect against a real server via psql. */
  private[graft] def createTableSql(table: String, schema: StructType,
      pk: Seq[String]): String = {
    val cols = schema.fields.map { f =>
      val notNull = if (pk.contains(f.name)) " NOT NULL" else ""
      s""""${f.name}" ${sqlType(f.dataType)}$notNull"""
    }.mkString(", ")
    val pkClause =
      if (pk.nonEmpty) s""", PRIMARY KEY (${pk.map(c => s""""$c"""").mkString(", ")})"""
      else ""
    s"""CREATE TABLE "$table" ($cols$pkClause)"""
  }

  /** Full truncate (`datastore_delete` with no filter, datapump.py:545). */
  def truncate(table: String): Unit = {
    val c = connect()
    try {
      val st = c.createStatement()
      st.executeUpdate(truncateSql(table))
      st.close()
    } finally c.close()
  }

  /** The exact statement [[truncate]] executes (dialect-sensitive). */
  private[graft] def truncateSql(table: String): String =
    if (isDerby) s"""DELETE FROM "$table""""
    else s"""TRUNCATE TABLE "$table""""

  private def insertSql(table: String, cols: Seq[String]): String =
    s"""INSERT INTO "$table" (${cols.map(c => s""""$c"""").mkString(", ")}) """ +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"

  private def deleteByPkSql(table: String, pk: Seq[String]): String =
    s"""DELETE FROM "$table" WHERE """ +
      pk.map(c => s""""$c" = ?""").mkString(" AND ")

  /** Dialect upsert statements: Postgres = one `INSERT … ON CONFLICT DO
    * UPDATE` (second element null); Derby (test dialect, rejects MERGE
    * from a VALUES source) = (DELETE-by-PK, INSERT) executed as batched
    * pairs in one transaction. Exposed for spec coverage — the Postgres
    * branch has no live server in the test environment. */
  private[graft] def upsertSql(table: String, cols: Seq[String],
      pk: Seq[String]): (String, String) =
    if (isDerby) (deleteByPkSql(table, pk), insertSql(table, cols))
    else {
      val conflict = pk.map(c => s""""$c"""").mkString(", ")
      val nonPk = cols.filterNot(pk.contains)
      val action =
        if (nonPk.nonEmpty) "DO UPDATE SET " +
          nonPk.map(c => s""""$c" = EXCLUDED."$c"""").mkString(", ")
        else "DO NOTHING"
      (insertSql(table, cols) + s" ON CONFLICT ($conflict) $action", null)
    }

  private def pkIndices(cols: Array[String], pk: Seq[String]): Array[Int] = {
    val idx = pk.map(cols.indexOf(_)).toArray
    require(!idx.contains(-1), s"pk $pk not in ${cols.mkString(",")}")
    idx
  }

  /** The one batched write loop: each partition runs as one
    * [[transaction]]; every row binds each statement's parameters from
    * its listed columns (nulls via `setNull` of the column's JDBC type)
    * and adds it to that statement's batch. Every `batchSize` rows, and
    * at the end, the batches execute in list order — so a Derby upsert's
    * deletes of a batch always run before its inserts. */
  private def writeBatched(df: DataFrame,
      statements: Seq[(String, Array[Int])], batchSize: Int): Unit = {
    val types = df.schema.fields.map(f => jdbcType(f.dataType))
    val sqls = statements.map(_._1).toArray
    val binds = statements.map(_._2).toArray
    val self = this
    df.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.nonEmpty) self.transaction { c =>
        val ps = sqls.map(c.prepareStatement)
        var n = 0
        rows.foreach { row =>
          var k = 0
          while (k < ps.length) {
            val cols = binds(k)
            var j = 0
            while (j < cols.length) {
              val v = row.get(cols(j))
              if (v == null) ps(k).setNull(j + 1, types(cols(j)))
              else ps(k).setObject(j + 1, self.coerce(v))
              j += 1
            }
            ps(k).addBatch()
            k += 1
          }
          n += 1
          if (n % batchSize == 0) ps.foreach(_.executeBatch())
        }
        ps.foreach(_.executeBatch())
        ps.foreach(_.close())
      }
    }
  }

  /** Distributed batched PK upsert. Incoming batches must be PK-deduped
    * (the engine always dedupes before the sink, like the reference —
    * `datapump.py:446` runs dedupe before `datastore_upsert`).
    *
    * Postgres: one `INSERT ... ON CONFLICT DO UPDATE` statement. Derby
    * (test dialect) rejects MERGE from a VALUES source, so it runs batched
    * DELETE-then-INSERT inside one transaction — same last-write-wins
    * semantics. */
  def upsert(df: DataFrame, table: String, pk: Seq[String],
      batchSize: Int = 500): Unit = {
    val cols = df.schema.fieldNames
    val pkIdx = pkIndices(cols, pk)
    val all = cols.indices.toArray
    val (sql1, sql2) = upsertSql(table, cols.toSeq, pk)
    writeBatched(df,
      if (isDerby) Seq(sql1 -> pkIdx, sql2 -> all) else Seq(sql1 -> all),
      batchSize)
  }

  /** Plain batched INSERT — for loading into a table KNOWN empty of the
    * incoming keys (a fresh snapshot preload after [[truncate]]). Half
    * the statements of the Derby two-phase [[upsert]]; PK conflicts are
    * NOT handled (that is upsert's job). */
  def insert(df: DataFrame, table: String, batchSize: Int = 500): Unit = {
    val cols = df.schema.fieldNames
    writeBatched(df, Seq(insertSql(table, cols.toSeq) -> cols.indices.toArray),
      batchSize)
  }

  /** Delete by primary key — the D half of a CDC apply. `df` needs only
    * the PK columns; extra columns are ignored. Batched like [[upsert]],
    * one connection per partition. Deleting an absent key is a no-op, so
    * replayed micro-batches stay idempotent. */
  def delete(df: DataFrame, table: String, pk: Seq[String],
      batchSize: Int = 500): Unit =
    writeBatched(df,
      Seq(deleteByPkSql(table, pk) -> pkIndices(df.schema.fieldNames, pk)),
      batchSize)

  /** Read the accumulated table back (the reference re-downloads the whole
    * resource over HTTP for stats, `datapump.py:375-376`; here it's a
    * parallel JDBC scan). */
  def readBack(spark: SparkSession, table: String): DataFrame = {
    val props = new java.util.Properties()
    if (user.nonEmpty) { props.put("user", user); props.put("password", password) }
    spark.read.jdbc(url, s""""$table"""", props)
  }

  /** Read back cast to a caller-known schema: JDBC type mapping is lossy
    * (e.g. Derby TIMESTAMP ⇒ TimestampType even when the source column was
    * TimestampNTZ), so round-trip queries pass the pre-sink schema and get
    * the exact source types back. Columns absent from `expected` pass
    * through unchanged. */
  def readBack(spark: SparkSession, table: String,
      expected: StructType): DataFrame = {
    val byName = expected.fields.map(f => f.name -> f.dataType).toMap
    val raw = readBack(spark, table)
    raw.select(raw.columns.map { c =>
      byName.get(c) match {
        case Some(dt) => org.apache.spark.sql.functions.col(c).cast(dt).as(c)
        case None => org.apache.spark.sql.functions.col(c)
      }
    }.toIndexedSeq: _*)
  }

  def recordCount(table: String): Long = {
    val c = connect()
    try {
      val rs = c.createStatement().executeQuery(
        s"""SELECT COUNT(*) FROM "$table"""")
      rs.next(); rs.getLong(1)
    } finally c.close()
  }
}
