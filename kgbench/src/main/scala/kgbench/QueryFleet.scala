package kgbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry
import graft.graph.Graphs
import graft.kg.KgQueries
import graft.store.GraftStore

/** `query_fleet`: a fixed list of registered queries over persisted
  * stores, each written to the `noop` sink. The kg edge and node stores
  * are built during set-up; a store only a query builds (the graph loop's)
  * is built in the first warm-up pass. One pass runs every query once, in
  * order; a query's time runs from calling its function (eager work
  * included) until the write returns. The warm-up pass writes every
  * result as parquet for the DuckDB oracle comparison `run.py` makes. */
final class QueryFleet(seed: Long) extends Workload {
  val sf = 0.003
  /** Six passes after the oracle pass; a query's time, and the pass
    * time, is the fastest of the six, which filters out the JIT still
    * compiling the planner's code through the first passes and
    * interference from other work on the box. */
  override def minPasses: Int = 6
  /** Half the cores: a query here is mostly work on the calling thread
    * (planning, job launch, eager checkpoints) over a few small tasks, so
    * more task threads barely shorten it, while the free cores keep the
    * JIT, the GC and other work on the host from stalling its tasks. */
  override def cores(cpus: Int): Int = math.max(1, cpus / 2)
  val notRun: Seq[String] = Seq("sources", "pipeline", "batch", "llm", "recover",
    "normalize", "build", "export", "upsert")

  /** `kg_*` queries over the raw tables and the triple, node and edge
    * stores (the LLM extraction among them), an iterative `graph_*` loop
    * that reports its rounds, and a short single-pass `q_*` query; sized
    * so that a run fits its time budget. */
  val fleet: Seq[String] = Seq(
    "kg_triples", "kg_extract_json", "kg_nodes", "kg_edges", "kg_cypher_batches",
    "kg_ntriples", "graph_matching", "q_anti_join")

  /** Graph loops that report their executed rounds. */
  private val roundReporting = Set("graph_mis", "graph_coloring", "graph_matching")

  private var dir: String = _
  private var work: String = _
  private var tableRows = 0L
  private var buildTime = 0.0
  private val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val threw = mutable.LinkedHashMap.empty[String, String]
  private def oracleDir = s"$work/oracle"

  def setup(spark: SparkSession, d: String, r: Main.Report): Unit = {
    work = d
    dir = s"$d/sf"
    tableRows = Gen.tables(spark, dir, seed, Gen.scale(sf)).rows
    val t0 = System.nanoTime()
    // the stores the fleet reads (the name-rank and negative-score
    // stores of KgQueries.warmStores serve queries outside the fleet)
    KgQueries.storedEdges(spark, dir)
    KgQueries.storedNodes(spark, dir)
    buildTime = Main.seconds(t0)
  }

  private def fail(q: String, e: Throwable): Unit = {
    var root = e
    while (root.getCause != null && root.getCause != root) root = root.getCause
    System.err.println(s"[kgbench] $q FAILED: ${root.getClass.getName}: ${root.getMessage}")
    threw(q) = s"${root.getClass.getSimpleName}: ${root.getMessage}"
  }

  /** Runs one query through `write`; false if it threw. */
  private def runQuery(spark: SparkSession, q: String, t: Tracer, layer: String)
      (write: DataFrame => Unit): Boolean =
    try {
      t.span(q, layer) {
        val df = t.span("construct", layer) { SparkEntry.queries(q)(spark, dir) }
        t.span("exec", layer) { write(df) }
        if (roundReporting(q) && t.enabled) rounds += Graphs.lastRoundsExecuted
      }
      true
    } catch { case e: Throwable => fail(q, e); false }

  private var rounds = 0L
  private val noop: DataFrame => Unit = _.write.mode("overwrite").format("noop").save()

  /** Every result as parquet, plus the oracle SQL, for run.py. */
  private def verifyPass(spark: SparkSession): Unit = {
    fleet.foreach(q => runQuery(spark, q, new Tracer(spark.sparkContext, None), "query") { df =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$oracleDir/$q")
    })
    val sql = fleet.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap.asJava
    Files.writeString(Paths.get(s"$oracleDir/oracle_sql.json"),
      new ObjectMapper().writeValueAsString(sql))
  }

  private def noopPass(spark: SparkSession): Unit =
    fleet.foreach(q => runQuery(spark, q, new Tracer(spark.sparkContext, None), "query")(noop))

  def pass(spark: SparkSession, i: Int): Unit =
    if (i == 0) verifyPass(spark)
    else {
      val t = new Tracer(spark.sparkContext, None)
      fleet.foreach { q =>
        val t0 = System.nanoTime()
        if (runQuery(spark, q, t, "query")(noop))
          times.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += Main.seconds(t0)
      }
    }

  def summarize(spark: SparkSession, passTimes: Seq[Double], r: Main.Report): Unit = {
    val perQuery = times.values.map(_.min).toSeq
    r.metrics("records_per_s") = tableRows / passTimes.min
    r.metrics("query_p50_s") = Main.median(perQuery)
    r.metrics("query_p90_s") = Main.quantile(perQuery, 0.9)
    r.metrics("llm_calls_per_krec") = llmCalls(spark) * 1000.0 / tableRows
    r.attempted += fleet.size.toLong * passTimes.size
    r.failed += threw.size
    r.extra("pass_s") = passTimes.map(Double.box).asJava
    r.extra("query_s") = times.map { case (q, ts) => q -> Double.box(ts.min) }.asJava
    report(r)
  }

  /** `kg_extract_json` runs `StubChain` over the documents; it emits one
    * triple per completion, so its output rows are its model calls. */
  private def llmCalls(spark: SparkSession): Long =
    spark.read.parquet(s"$oracleDir/kg_extract_json").count()

  private def report(r: Main.Report): Unit = {
    r.extra("oracle_dir") = oracleDir
    r.extra("sf_dir") = dir
    r.extra("fleet") = fleet.asJava
  }

  def traced(spark: SparkSession, t: Tracer, r: Main.Report): Unit = {
    verifyPass(spark)
    noopPass(spark)
    noopPass(spark)
    t.pass = 1
    t.span("pass", "pass") { noopPass(spark) }
    t.pass = 2
    t.span("pass", "pass") {
      fleet.foreach(q => runQuery(spark, q, t, if (q.startsWith("graph_")) "graph" else "query")(noop))
    }
    val pass1 = t.spans.find(s => s.pass == 1 && s.layer == "pass").get
    val root = t.spans.filter(s => s.pass == 2 && s.name == "pass").last
    val inPass = t.spans.filter(_.pass == 2).toSeq
    val queries = inPass.filter(s => fleet.contains(s.name))
    def children(ps: Seq[Span], name: String) =
      inPass.filter(s => s.name == name && ps.exists(_.id == s.parent))
    val construct = children(queries, "construct")
    val exec = children(queries, "exec")
    r.metrics("query.construct_s") = Layers.wall(t, construct)
    r.metrics("query.eager_jobs") = Layers.sum(construct, "jobs")
    r.metrics("query.plan_s") = Layers.sum(queries, "plan_s")
    r.metrics("query.exec_s") = Layers.wall(t, exec)
    r.metrics("query.jobs") = Layers.sum(queries, "jobs")
    r.metrics("query.tasks") = Layers.sum(queries, "tasks")
    val graph = queries.filter(_.layer == "graph")
    val reporting = queries.filter(s => roundReporting(s.name))
    r.metrics("graph.loop_jobs") = Layers.sum(graph, "jobs")
    r.metrics("graph.rounds") = rounds.toDouble
    r.metrics("graph.jobs_per_round") =
      if (rounds == 0) 0.0 else Layers.sum(reporting, "jobs") / rounds
    val ledger = GraftStore.ledger(spark)
    r.metrics("store.build_s") = buildTime
    r.metrics("store.mb") = ledger.map(_.bytes).sum / 1e6
    r.metrics("store.files") = ledger.map(_.files).sum.toDouble
    Layers.engine(t, pass1, r)
    Layers.selfFractions(t, root, r)
    Layers.overhead(t, pass1, root, r)
    r.attempted += fleet.size * 2L
    r.failed += threw.size
    report(r)
  }

  def checks(spark: SparkSession, r: Main.Report): Unit =
    r.check("every_query_ran") {
      (threw.isEmpty, if (threw.isEmpty) s"${fleet.size} queries"
        else threw.map { case (q, e) => s"$q: $e" }.mkString("; "))
    }
}
