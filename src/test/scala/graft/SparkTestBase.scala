package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs: [[GraftSession.local]] at
  * the plan audit's 8 cores (small data, fast tests; the mains default
  * to 32). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkTestBase.session

  /** Root of the driver-generated test data; overridable so a foreign
    * checkout can point the suite elsewhere (r4 ADVICE). */
  val testdataRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_TESTDATA", "/root/testdata")

  /** Smoke scale factor: ~6k lineitem rows. */
  val sf: String = s"$testdataRoot/sf0.001"

  /** Correctness scale factor (~60k lineitem rows) — some plan
    * contracts need data volume (e.g. the AQE skew threshold). */
  val sfData: String = s"$testdataRoot/sf0.01"

  /** Skip-with-info guard for specs that need a given sf dir. */
  def requireSf(dir: String): Boolean = {
    val ok = new java.io.File(dir).isDirectory
    if (!ok) info(s"sf dir $dir absent on this checkout — skipping")
    ok
  }

  def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** A fresh directory in this JVM's bulk run directory: deleted with
    * it at exit, and never shared with another test JVM. */
  def scratchDir(tag: String): String =
    Files.createTempDirectory(Paths.get(bulkRunDir), tag).toString
}

object SparkTestBase {
  /** The audit's session: PlanContractSpec's budgets hold at this
    * core count (see [[PlanAudit.AuditCores]]). */
  lazy val session: SparkSession = GraftSession.local(PlanAudit.AuditCores)
}
