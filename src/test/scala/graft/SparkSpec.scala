package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for the suite; one JVM-wide session (tests
  * fork into a single JVM, getOrCreate dedups across suites). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  /** Sample landing directory in the formats of the reference's data
    * files: quoted CSV, a trailing-comma JSON array, one malformed JSON
    * file and SKOS/DC RDF/XML (src/test/resources/kgdata). */
  lazy val kgDataDir: String =
    new java.io.File(getClass.getResource("/kgdata").toURI).getPath

  /** Shuffle count of the EXECUTED plan — delegates to the J5
    * PlanAudit library walk (the AQE stage-recursion lesson lives in
    * ONE place now; audit also materializes through the frame's own
    * query execution without a driver collect). */
  def countExchanges(df: org.apache.spark.sql.DataFrame): Int =
    graft.monitor.PlanAudit.audit(df).shuffleExchanges

  /** Disable BOTH broadcast thresholds for `body`: AQE has its own
    * spark.sql.adaptive.autoBroadcastJoinThreshold and will happily
    * convert a join to broadcast (making "no shuffle" trivially true,
    * proving nothing about bucketing) when only the static one is -1. */
  def noBroadcast[A](body: => A): A = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try body
    finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  override def afterAll(): Unit = {
    // keep the session alive for sibling suites (getOrCreate-shared)
    super.afterAll()
  }
}
