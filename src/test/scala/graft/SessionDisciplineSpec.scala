package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Session-setup discipline: every bounded main and spec builds its
  * session through [[LocalSession]], so the core default and the setting
  * list exist once. `Main` keeps its own builder (master and shuffle
  * partitions are deployment settings there). Copied builders drift
  * apart on the core default, time zone, nanos handling, state-store
  * maintenance and log level. */
class SessionDisciplineSpec extends SparkSpec {

  test("SparkSession.builder appears only in LocalSession and Main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), root.toAbsolutePath)
    val allowed = Set("LocalSession.scala", "Main.scala")
      .map(f => root.resolve("graft").resolve(f))
    val walk = Files.walk(root)
    val offenders =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && !allowed(p))
        .filter(p => Files.readString(p).contains("SparkSession.builder"))
        .map(root.relativize(_).toString).toList.sorted
      finally walk.close()
    assert(offenders.isEmpty,
      "build the session with LocalSession(): " + offenders.mkString(", "))
  }

  test("the spec session carries LocalSession's settings at 4 cores") {
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.streaming.stateStore.maintenanceInterval")
      == "86400s")
    assert(conf.get("spark.ui.enabled") == "false")
    // resident codegen: see LocalSession
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "1000")
    assert(conf.get("spark.sql.artifact.isolation.enabled") == "false")
  }
}
