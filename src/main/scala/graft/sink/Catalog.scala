package graft.sink

/** Catalog layer — the engine's analog of the reference's CKAN
  * Org → Package → Resource hierarchy (`datapump.py:480-540`, `:614-630`).
  *
  * Tables are named `org__package__resource` (sanitized); resource
  * descriptions with their `(UPDATED: ts)` stamps live in a small metadata
  * table, mirroring `resource_update`'s regex strip-and-restamp.
  */
class Catalog(sink: JdbcSink) {

  val MetaTable = "graft_meta"

  /** `org-package-resource` alias → physical table name (sanitized the way
    * the reference builds its alias, datapump.py:596). */
  def tableName(org: String, pkg: String, resource: String): String =
    Seq(org, pkg, resource)
      .map(_.toLowerCase.replaceAll("[^a-z0-9]+", "_"))
      .mkString("__")

  // The reference's stamp regex: re.split(r' \(UPDATED: (.*?)\)$', desc)
  // (datapump.py:618-625)
  private val Stamp = """ \(UPDATED: (.*?)\)$""".r

  /** Strip a prior stamp, if any — `datapump.py:618-623`. */
  def baseDescription(desc: String): String =
    Stamp.replaceAllIn(desc, "")

  /** Extract the prior stamp's timestamp, if any. */
  def lastUpdated(desc: String): Option[String] =
    Stamp.findFirstMatchIn(desc).map(_.group(1))

  /** Re-stamp a description with a new timestamp — `datapump.py:624-625`. */
  def stampDescription(desc: String, ts: String): String =
    s"${baseDescription(desc)} (UPDATED: $ts)"

  private def ensureMeta(): Unit = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("resource",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("description",
        org.apache.spark.sql.types.StringType)))
    sink.ensureTable(MetaTable, schema, Seq("resource"))
  }

  def description(resource: String): Option[String] = {
    ensureMeta()
    storedDescription(resource)
  }

  /** The meta table's description of a resource; the table must exist. */
  private def storedDescription(resource: String): Option[String] = {
    val c = sink.connect()
    try {
      val ps = c.prepareStatement(
        s"""SELECT "description" FROM "$MetaTable" WHERE "resource" = ?""")
      ps.setString(1, resource)
      val rs = ps.executeQuery()
      if (rs.next()) Option(rs.getString(1)) else None
    } finally c.close()
  }

  /** Upsert the stamped description for a resource. */
  def updateDescription(resource: String, ts: String): String = {
    ensureMeta()
    val prior = storedDescription(resource).getOrElse(resource)
    val stamped = stampDescription(prior, ts)
    val c = sink.connect()
    try {
      val upd = c.prepareStatement(
        s"""UPDATE "$MetaTable" SET "description" = ? WHERE "resource" = ?""")
      upd.setString(1, stamped); upd.setString(2, resource)
      if (upd.executeUpdate() == 0) {
        val ins = c.prepareStatement(
          s"""INSERT INTO "$MetaTable" ("resource", "description") VALUES (?, ?)""")
        ins.setString(1, resource); ins.setString(2, stamped)
        ins.executeUpdate()
      }
      stamped
    } finally c.close()
  }
}
