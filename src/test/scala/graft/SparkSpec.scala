package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: one JVM-wide [[LocalSession]]. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sqlImplicits: org.apache.spark.sql.SQLImplicits = spark.implicits

  /** Driver-testdata root, overridable for the regeneration drill
    * (`SPARK_GRAFT_TESTDATA=/tmp/variant sbt test` must stay green on a
    * freshly regenerated corpus — the r8→r9 lesson institutionalized).
    * Every spec that reads driver testdata goes through [[sfDir]]. */
  lazy val testdataRoot: String = sys.env.get("SPARK_GRAFT_TESTDATA")
    .orElse(sys.props.get("graft.testdata"))
    .getOrElse("/root/testdata")

  /** `sfDir("0.001")` → `<root>/sf0.001`. */
  def sfDir(sf: String): String = s"$testdataRoot/sf$sf"
}

object SparkSpec {
  /** Pinned at 4 cores whatever `SPARK_GRAFT_CPUS` says: partition-count
    * and plan-shape assertions are written against 4. */
  lazy val session: SparkSession = LocalSession(4)
}
