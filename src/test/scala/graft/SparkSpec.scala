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

  /** Spark jobs launched by `body`: its jobs carry a job tag, so jobs
    * of earlier work whose events are still queued on the async listener
    * bus are not counted; the count is read once it has settled. */
  def countJobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"jobcount-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.split(",").contains(tag))) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try {
      body
      var last = -1
      var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val c = n.get()
        if (c == last) stable += 1 else { stable = 0; last = c }
      }
      n.get()
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
    }
  }

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
