package kgbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Pipeline
import graft.kg.{GraphBuilder, Neo4jUpsert, Normalize}

/** `kg_pipeline`: the paper's pipeline as a user runs it. One pass is
  * `Pipeline.run` (with its default `StubChain`) over the landing
  * directory, the neo4j bulk export of its triples, and the sized Cypher
  * batches of its edges shipped to a recording transport. */
final class KgPipeline(seed: Long) extends Workload {
  val sf = 0.002
  val batchSize = 100
  val cypherRows = 500
  /** `StubChain` answers at once and is not retried: it has no call
    * latency or retries to report. */
  val notRun: Seq[String] = Seq("query", "graph", "store", "llm.retries",
    "llm.call_p50_ms", "llm.call_p99_ms", "llm.wait_s", "llm.inflight_avg")
  private var ref: Gen.Reference = _
  private var work: String = _
  private var upsert: UpsertCounters = _
  private def exportDir = s"$work/export"

  def setup(spark: SparkSession, dir: String, r: Main.Report): Unit = {
    // the landing directory is all this workload reads
    val tables = Gen.tables(spark, s"$dir/sf", seed, Gen.scale(sf), only = Set.empty)
    ref = Gen.reference(tables, s"$dir/landing", seed)
    work = dir
  }

  private def run(spark: SparkSession): Pipeline.KgOutputs = {
    upsert = new UpsertCounters(spark.sparkContext)
    val out = Pipeline.run(spark, ref.dir, batchSize = batchSize)
    GraphBuilder.exportNeo4jBulk(out.triples, exportDir)
    Neo4jUpsert.run(Neo4jUpsert.edgeUpsertBatchesBySize(out.edges, cypherRows),
      RecordingTransport(upsert))
    out
  }

  def pass(spark: SparkSession, i: Int): Unit = run(spark)

  def summarize(spark: SparkSession, times: Seq[Double], r: Main.Report): Unit =
    passMetrics(times, ref.records, r)

  def traced(spark: SparkSession, t: Tracer, r: Main.Report): Unit = {
    run(spark) // warm-up
    t.pass = 1
    t.span("pass", "pass") { run(spark) }
    t.pass = 2
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    def mat(df: DataFrame): Long = { df.persist(); cached += df; df.count() }
    var out: Pipeline.KgOutputs = null
    var prompts, completed, recovered = 0L
    t.span("pass", "pass") {
      out = t.span("construct", "pass") { Pipeline.run(spark, ref.dir, batchSize = batchSize) }
      val plan = out.triples.queryExecution.analyzed
      // the pipeline's own intermediate frames, located in its plan and
      // materialized at each layer boundary; later layers read them from
      // the cache instead of recomputing them
      t.span("sources.tabular", "sources") { mat(out.records) }
      Layers.rdfNode(plan).foreach(n =>
        t.span("sources.rdf", "sources") { mat(Layers.frame(out.triples, n)) })
      Layers.batchNode(plan).foreach(n =>
        prompts = t.span("batch", "batch") { mat(Layers.frame(out.triples, n)) })
      Layers.completionNode(plan).foreach(n =>
        completed = t.span("llm", "llm") { mat(Layers.frame(out.triples, n)) })
      Layers.recoveredNode(plan).foreach(n =>
        recovered = t.span("recover", "recover") { mat(Layers.frame(out.triples, n)) })
      t.span("normalize", "normalize") { mat(out.triples) }
      t.span("build", "build") {
        r.metrics("build.nodes") = mat(out.nodes).toDouble
        r.metrics("build.edges") = mat(out.edges).toDouble
      }
      upsert = new UpsertCounters(spark.sparkContext)
      t.span("export", "export") { GraphBuilder.exportNeo4jBulk(out.triples, exportDir) }
      t.span("upsert", "upsert") {
        Neo4jUpsert.run(Neo4jUpsert.edgeUpsertBatchesBySize(out.edges, cypherRows),
          RecordingTransport(upsert))
      }
    }
    val canonical = Normalize.variantToCanonical.values.toSeq.distinct
    r.metrics("normalize.canonical_frac") = out.triples
      .agg(avg(when(col("relation").isin(canonical: _*), 1.0).otherwise(0.0))).head.getDouble(0)
    cached.foreach(_.unpersist(blocking = true))

    val untraced = t.spans.find(s => s.pass == 1 && s.layer == "pass").get
    val root = t.spans.filter(s => s.pass == 2 && s.name == "pass").last
    def layer(l: String) = Layers.spansOf(t, 2, l)
    Layers.sources(layer("sources"), r)
    r.metrics("pipeline.reread_factor") = untraced.counters("input_mb") / (ref.bytes / 1e6)
    if (prompts > 0) r.metrics("batch.records_per_batch") = ref.records.toDouble / prompts
    r.metrics("batch.busy_s") = Layers.wall(t, layer("batch"))
    r.metrics("batch.shuffle_mb") = Layers.sum(layer("batch"), "shuffle_write_mb")
    r.metrics("llm.calls") = completed.toDouble
    if (prompts > 0) r.metrics("llm.failed") = (prompts - completed).toDouble
    r.metrics("llm.busy_s") = Layers.wall(t, layer("llm"))
    r.metrics("recover.busy_s") = Layers.wall(t, layer("recover"))
    if (completed > 0) r.metrics("recover.yield") = recovered.toDouble / completed
    r.metrics("normalize.busy_s") = Layers.wall(t, layer("normalize"))
    r.metrics("build.busy_s") = Layers.wall(t, layer("build"))
    r.metrics("build.shuffle_mb") = Layers.sum(layer("build"), "shuffle_write_mb")
    val (bytes, files) = Main.dirStats(exportDir)
    r.metrics("export.busy_s") = Layers.wall(t, layer("export"))
    r.metrics("export.mb_written") = bytes / 1e6
    r.metrics("export.files") = files.toDouble
    r.metrics("upsert.busy_s") = Layers.wall(t, layer("upsert"))
    r.metrics("upsert.batches") = upsert.batches.value.toDouble
    r.metrics("upsert.max_rows_per_batch") = upsert.maxRows.value.toDouble
    r.metrics("upsert.transport_calls") = upsert.calls.value.toDouble
    r.metrics("upsert.shuffle_mb") = Layers.sum(layer("upsert"), "shuffle_write_mb")
    Layers.engine(t, untraced, r)
    Layers.selfFractions(t, root, r)
    Layers.overhead(t, untraced, root, r)
    r.attempted += 3
  }

  def checks(spark: SparkSession, r: Main.Report): Unit = {
    import spark.implicits._
    val out = Pipeline.run(spark, ref.dir, batchSize = batchSize)
    // nodes and edges are built over the cached triples
    val triples = out.triples.persist()
    // completions, counted from the outputs: `StubChain` emits exactly one
    // `mentions` triple per completion
    r.metrics("llm_calls_per_krec") =
      triples.filter(col("relation") === "mentions").count() * 1000.0 / ref.records
    r.check("records") {
      val n = out.records.count()
      (n == ref.records, s"$n records, generated ${ref.records}")
    }
    // the pipeline's own intermediate frames, located in its plan
    val plan = out.triples.queryExecution.analyzed
    r.check("rdf_triples") {
      Layers.rdfNode(plan) match {
        case Some(n) =>
          val got = Layers.frame(out.triples, n)
          val exp = ref.expectedRdf.toDS().toDF()
          val extra = got.exceptAll(exp).count()
          val missing = exp.exceptAll(got).count()
          (extra == 0 && missing == 0,
            s"$extra unexpected and $missing missing of ${ref.expectedRdf.size} expected")
        case None => (false, "no RdfXml.rdfTriples read found in the pipeline's plan")
      }
    }
    val nodes = out.nodes.persist()
    val edges = out.edges.persist()
    val nNodes = nodes.count()
    val nEdges = edges.count()
    r.check("edge_endpoints_are_nodes") {
      val ends = edges.select(col("src_label").as("label"), col("src").as("name"))
        .union(edges.select(col("dst_label"), col("dst")))
      val dangling = ends.except(nodes.select("label", "name")).count()
      (dangling == 0 && nEdges > 0, s"$dangling dangling endpoints over $nEdges edges")
    }
    r.check("cypher_batches") {
      val rows = upsert.rows.value
      val most = upsert.maxRows.value
      (rows == nEdges && most <= cypherRows && most > 0,
        s"$rows rows shipped for $nEdges edges, largest batch $most (limit $cypherRows)")
    }
    r.check("neo4j_export") {
      def lines(sub: String) = spark.read.text(s"$exportDir/$sub/data").count()
      val (nl, rl) = (lines("nodes"), lines("relationships"))
      val ids = spark.read.csv(s"$exportDir/nodes/data").select(col("_c0").as("id"))
      val rels = spark.read.csv(s"$exportDir/relationships/data")
      val dangling = rels.select(col("_c0").as("id")).union(rels.select(col("_c1")))
        .except(ids).count()
      val headers = Seq("nodes", "relationships").map(g =>
        spark.read.text(s"$exportDir/$g/header").as[String].collect().toSeq)
      (nl == nNodes && rl == nEdges && dangling == 0 &&
        headers == Seq(Seq("id:ID,name,:LABEL"), Seq(":START_ID,:END_ID,:TYPE,weight")),
        s"$nl node lines for $nNodes nodes, $rl relationship lines for $nEdges edges, " +
          s"$dangling dangling relationship ids, headers $headers")
    }
    val prompts = Layers.batchNode(plan).map { n =>
      val row = Layers.frame(out.triples, n).select(json_array_length(col("batch_json")).as("n"))
        .agg(count(lit(1)), sum("n"), max("n")).head
      (row.getLong(0), row.getLong(1), row.getInt(2))
    }
    def noPrompts = (false, "no batch_json prompts found in the pipeline's plan")
    r.check("every_record_prompted") {
      prompts.fold(noPrompts) { case (_, records, _) =>
        (records == ref.records, s"prompts carry $records records, generated ${ref.records}")
      }
    }
    r.check("prompt_size") {
      prompts.fold(noPrompts) { case (_, _, most) =>
        (most <= batchSize, s"largest prompt holds $most records (batch size $batchSize)")
      }
    }
    r.check("one_completion_per_prompt") {
      (prompts, Layers.completionNode(plan)) match {
        case (Some((n, _, _)), Some(c)) =>
          val done = Layers.frame(out.triples, c).count()
          (done == n, s"$done completions for $n prompts")
        case _ => (false, "no prompts or completions found in the pipeline's plan")
      }
    }
    Seq(nodes, edges, triples).foreach(_.unpersist())
  }
}
