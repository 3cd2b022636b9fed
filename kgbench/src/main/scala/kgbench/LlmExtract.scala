package kgbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}
import graft.{Pipeline, Tables}
import graft.kg.{GraphBuilder, LlmChains, Normalize}
import graft.sources.Sources

/** `llm_extract`: the LLM stage on the pipeline's own records, with a
  * latency-bound model. The records come from `Pipeline.run(...).records`
  * and are keyed densely during set-up; one pass batches them at the
  * reference's batch size, runs `RetryingChain(SimulatedChain)`
  * partition-wise, recovers and normalizes the triples (the pipeline's
  * steps 3-4) and builds nodes and edges.
  *
  * The stage is assembled from the layer functions because
  * `Pipeline.run` does not yet pass its `chain` argument through. */
final class LlmExtract(seed: Long) extends Workload {
  val sf = 0.002
  val batchSize = 100
  val notRun: Seq[String] = Seq("export", "upsert", "query", "graph", "store")
  private var ref: Gen.Reference = _
  private var sfDir: String = _
  private var work: String = _
  private var counters: LlmCounters = _
  private val timedCalls = mutable.ArrayBuffer.empty[Long]
  private def recordsPath = s"$work/records.parquet"
  private def outDir = s"$work/llm_out"
  private def traceDir = s"$work/traced"

  def setup(spark: SparkSession, dir: String, r: Main.Report): Unit = {
    sfDir = s"$dir/sf"
    val tables = Gen.tables(spark, sfDir, seed, Gen.scale(sf), only = Set.empty)
    ref = Gen.reference(tables, s"$dir/landing", seed)
    work = dir
    val records = Pipeline.run(spark, ref.dir).records
    val keyed = records.rdd.zipWithIndex().map { case (row, i) => Row.fromSeq(row.toSeq :+ i) }
    spark.createDataFrame(keyed, records.schema.add(StructField("__rid", LongType)))
      .write.mode("overwrite").parquet(recordsPath)
  }

  /** Records whose prompt meets a transient model error: one in 1500,
    * chosen by the seed (an assumed rate, not a measured one). */
  private def failing: Set[Long] = {
    val n = ref.records.toInt
    new scala.util.Random(seed).shuffle((0 until n).map(_.toLong)).take(n / 1500).toSet
  }

  /** The model; `latency = false` answers at once (warm-up passes warm
    * the JVM and Spark's code generation, not the model). */
  private def chain(spark: SparkSession, latency: Boolean = true): LlmChains.Chain = {
    counters = new LlmCounters(spark.sparkContext)
    val model = ModelLatency(scale = if (latency) 0.01 else 0.0)
    // a 20 ms back-off is 2 s of model time
    LlmChains.RetryingChain(SimulatedChain(seed, model, failing, counters),
      maxAttempts = 3, baseDelayMs = 20)
  }

  /** The pipeline's step 4, as `Pipeline.run` spells it. */
  private def normalize(triples: DataFrame): DataFrame = {
    val (nv, nt) = Normalize.normalizeEntity(col("object"), col("object_type"))
    val normalized = triples
      .withColumn("__obj", nv).withColumn("__objt", nt)
      .drop("object", "object_type")
      .withColumnRenamed("__obj", "object").withColumnRenamed("__objt", "object_type")
    Normalize.standardizeRelations(normalized, "relation", "relation_std")
      .drop("relation").withColumnRenamed("relation_std", "relation")
  }

  /** One pass. Traced, it counts the records and batches at their
    * boundaries and writes the completions and recovered triples out, for
    * the layers after them to read back. Nothing before the completions is
    * kept, and nothing is cached: a cached frame keeps the partitions of
    * its own plan, which changes how many model calls run at once. So the
    * model span also re-reads and re-batches the records, and runs its
    * calls in the partitions of the untraced pass. */
  private def run(spark: SparkSession, t: Tracer, latency: Boolean = true): Unit = {
    import spark.implicits._
    val c = chain(spark, latency)
    def look(df: DataFrame): DataFrame = { if (t.enabled) df.count(); df }
    def keep(df: DataFrame, name: String): DataFrame =
      if (t.enabled) {
        df.write.mode("overwrite").parquet(s"$traceDir/$name")
        spark.read.parquet(s"$traceDir/$name")
      } else df
    val records = t.span("sources", "sources") { look(spark.read.parquet(recordsPath)) }
    val batches = t.span("batch", "batch") { look(Sources.jsonBatches(records, "__rid", batchSize)) }
    val completions = t.span("llm", "llm") {
      keep(LlmChains.invokePartitionwise(batches.select("batch_json").as[String], c).toDF(),
        "completions")
    }
    val raw = t.span("recover", "recover") {
      keep(LlmChains.extractTripletRows(completions, col("value")), "recovered")
    }
    // the staged hand-off: triples are written once, so the model is
    // billed once per pass although two outputs are built from them
    t.span("normalize", "normalize") {
      normalize(raw).write.mode("overwrite").parquet(s"$outDir/triples")
    }
    t.span("build", "build") {
      val triples = spark.read.parquet(s"$outDir/triples")
      GraphBuilder.nodes(triples).write.mode("overwrite").parquet(s"$outDir/nodes")
      GraphBuilder.edges(triples).write.mode("overwrite").parquet(s"$outDir/edges")
    }
  }

  def pass(spark: SparkSession, i: Int): Unit = {
    run(spark, new Tracer(spark.sparkContext, None), latency = i > 0)
    if (i > 0) timedCalls += counters.calls.value
  }

  def summarize(spark: SparkSession, times: Seq[Double], r: Main.Report): Unit = {
    passMetrics(times, ref.records, r)
    r.metrics("llm_calls_per_krec") = timedCalls.sum * 1000.0 / (ref.records * times.size)
  }

  def traced(spark: SparkSession, t: Tracer, r: Main.Report): Unit = {
    val untracedT = new Tracer(spark.sparkContext, None)
    run(spark, untracedT, latency = false) // warm-up
    t.pass = 1
    t.span("pass", "pass") { run(spark, untracedT) }
    // the model figures are those of the untraced pass, the execution the
    // end-to-end metrics time
    val model = counters
    t.pass = 2
    t.span("pass", "pass") { run(spark, t) }
    val recovered = spark.read.parquet(s"$traceDir/recovered").count()
    r.metrics("normalize.canonical_frac") = spark.read.parquet(s"$outDir/triples")
      .agg(avg(when(col("relation").isin(
        Normalize.variantToCanonical.values.toSeq.distinct: _*), 1.0).otherwise(0.0)))
      .head.getDouble(0)

    val untraced = t.spans.find(s => s.pass == 1 && s.layer == "pass").get
    val root = t.spans.filter(s => s.pass == 2 && s.name == "pass").last
    def layer(l: String) = Layers.spansOf(t, 2, l)
    Layers.sources(layer("sources"), r)
    r.metrics("pipeline.reread_factor") =
      untraced.counters("input_mb") / (Main.dirStats(recordsPath)._1 / 1e6)
    val calls = model.calls.value
    val retries = model.failures.value
    r.metrics("batch.records_per_batch") = ref.records.toDouble / math.max(1L, calls - retries)
    r.metrics("batch.busy_s") = Layers.wall(t, layer("batch"))
    r.metrics("batch.shuffle_mb") = Layers.sum(layer("batch"), "shuffle_write_mb")
    val lat = model.callMs.value.asScala.map(_.doubleValue).toSeq
    r.metrics("llm.calls") = calls.toDouble
    r.metrics("llm.retries") = retries.toDouble
    r.metrics("llm.failed") = (ref.records - model.recordsDone.value).toDouble
    r.metrics("llm.call_p50_ms") = Main.median(lat)
    r.metrics("llm.call_p99_ms") = Main.quantile(lat, 0.99)
    r.metrics("llm.wait_s") = model.waitNs.value / 1e9
    r.metrics("llm.busy_s") = model.busyS
    r.metrics("llm.inflight_avg") = model.waitNs.value / 1e9 / model.busyS
    System.err.println(f"[kgbench] model: ${model.outputTokens.value.toDouble / ref.records}%.1f " +
      f"output tokens per record; traced pass ${counters.waitNs.value / 1e9 / counters.busyS}%.2f " +
      "calls in flight")
    r.metrics("recover.busy_s") = Layers.wall(t, layer("recover"))
    // every successful call answers with two objects per order and
    // customer and one per supplier
    r.metrics("recover.yield") = recovered.toDouble / expectedTriples
    r.metrics("normalize.busy_s") = Layers.wall(t, layer("normalize"))
    r.metrics("build.busy_s") = Layers.wall(t, layer("build"))
    r.metrics("build.nodes") = spark.read.parquet(s"$outDir/nodes").count().toDouble
    r.metrics("build.edges") = spark.read.parquet(s"$outDir/edges").count().toDouble
    r.metrics("build.shuffle_mb") = Layers.sum(layer("build"), "shuffle_write_mb")
    Layers.engine(t, untraced, r)
    Layers.selfFractions(t, root, r)
    Layers.overhead(t, untraced, root, r)
    r.attempted += 3
  }

  private def expectedTriples: Long = {
    val sc = Gen.scale(sf)
    2L * sc.customers + 2L * sc.orders + sc.suppliers
  }

  /** The same relations built directly from the sf tables, in their
    * normalized form. */
  private def directTriples(spark: SparkSession): DataFrame = {
    def t(n: String) = Tables(spark, sfDir, n)
    val (c, n, o, s) = (t("customer"), t("nation"), t("orders"), t("supplier"))
    def triple(df: DataFrame, subj: org.apache.spark.sql.Column, st: String, rel: String,
        obj: org.apache.spark.sql.Column, ot: String) =
      df.select(subj.as("subject"), lit(st).as("subject_type"), lit(rel).as("relation"),
        obj.as("object"), lit(ot).as("object_type"))
    val order = concat(lit("order-"), col("o_orderkey").cast("string"))
    Seq(
      triple(c.join(n, col("c_nationkey") === col("n_nationkey")), col("c_name"), "customer",
        "located in", col("n_name"), "nation"),
      triple(c, col("c_name"), "customer", "in segment", col("c_mktsegment"), "segment"),
      triple(o.join(c, col("o_custkey") === col("c_custkey")), order, "order", "placed by",
        col("c_name"), "customer"),
      triple(o, order, "order", "dated", year(col("o_orderdate")).cast("string"), "Year"),
      triple(s.join(n, col("s_nationkey") === col("n_nationkey")), col("s_name"), "supplier",
        "located in", col("n_name"), "nation")
    ).reduce(_.unionByName(_))
  }

  def checks(spark: SparkSession, r: Main.Report): Unit = {
    // the same seed writes the tables the landing directory was made from
    Gen.tables(spark, sfDir, seed, Gen.scale(sf), only = Set("nation", "customer", "supplier", "orders"))
    val direct = directTriples(spark)
    def same(name: String, got: DataFrame, exp: DataFrame): Unit = r.check(name) {
      val extra = got.exceptAll(exp).count()
      val missing = exp.exceptAll(got).count()
      (extra == 0 && missing == 0, s"$extra unexpected and $missing missing rows")
    }
    same("nodes_match_direct_build", spark.read.parquet(s"$outDir/nodes"), GraphBuilder.nodes(direct))
    same("edges_match_direct_build", spark.read.parquet(s"$outDir/edges"), GraphBuilder.edges(direct))
    r.check("every_record_completed") {
      val done = counters.recordsDone.value
      (done == ref.records, s"$done of ${ref.records} records got a completion in the last pass")
    }
    r.check("prompt_size") {
      val most = counters.maxRecords.value
      (most <= batchSize && most > 0, s"largest prompt holds $most records (batch size $batchSize)")
    }
  }
}
