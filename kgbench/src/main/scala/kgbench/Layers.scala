package kgbench

import org.apache.spark.sql.{DataFrame, KgBenchInternals}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The arithmetic shared by the traced runs, and the pipeline's layers
  * located in its plan. */
object Layers {

  /** Layers that own spans, in pipeline order (self-time shares). */
  val spanLayers: Seq[String] = Seq("pass", "sources", "batch", "llm", "recover",
    "normalize", "build", "export", "upsert", "query", "graph")

  def spansOf(t: Tracer, pass: Int, layer: String): Seq[Span] =
    t.spans.filter(s => s.pass == pass && s.layer == layer).toSeq

  def sum(spans: Seq[Span], key: String): Double = spans.map(_.counters(key)).sum
  def wall(t: Tracer, spans: Seq[Span]): Double = spans.map(t.dur).sum

  /** Engine counters of one whole pass (its root span). */
  def engine(t: Tracer, root: Span, r: Main.Report): Unit = {
    val c = root.counters
    val cores = t.sc.defaultParallelism  // the session's task threads
    Seq("jobs", "stages", "tasks", "task_busy_s", "sched_delay_s", "gc_s",
      "shuffle_write_mb", "spill_mb").foreach(k => r.metrics(s"spark.$k") = c(k))
    r.metrics("spark.cpu_util") = c("task_busy_s") / (t.dur(root) * cores)
    r.metrics("spark.storage_peak_mb") = t.spans.map(_.storagePeakMb).maxOption.getOrElse(0.0)
  }

  /** Self time of each layer in one pass, as a share of the pass. */
  def selfFractions(t: Tracer, root: Span, r: Main.Report): Unit = {
    val total = t.dur(root)
    spanLayers.foreach { l =>
      r.metrics(s"self_frac.$l") = spansOf(t, root.pass, l).map(t.selfTime).sum / total
    }
  }

  /** Tracing overhead: one traced pass against one untraced pass. */
  def overhead(t: Tracer, untraced: Span, traced: Span, r: Main.Report): Unit = {
    r.metrics("trace.untraced_pass_s") = t.dur(untraced)
    r.metrics("trace.traced_pass_s") = t.dur(traced)
    r.metrics("trace.overhead_frac") = t.dur(traced) / t.dur(untraced) - 1
    r.metrics("trace.spans") = t.spans.size.toDouble
  }

  /** Source-read shape of a set of spans: busy, bytes, slowest task and
    * its ratio to the median task. */
  def sources(spans: Seq[Span], r: Main.Report): Unit = {
    val tasks = spans.flatMap(_.taskMs).map(_.toDouble)
    r.metrics("sources.busy_s") = sum(spans, "task_busy_s")
    r.metrics("sources.input_mb") = sum(spans, "input_mb")
    r.metrics("sources.max_task_s") = tasks.maxOption.getOrElse(0.0) / 1e3
    r.metrics("sources.task_skew") =
      if (tasks.isEmpty) 0.0 else tasks.max / math.max(1.0, Main.median(tasks))
  }

  // -- locating a pipeline's own layers in its analyzed plan -------------

  private def names(p: LogicalPlan): Seq[String] = p.output.map(_.name)

  /** The prompts (`Sources.jsonBatches`' `batch_json`) inside `plan`. */
  def batchNode(plan: LogicalPlan): Option[LogicalPlan] =
    plan.find(n => names(n).contains("batch_json"))

  /** The chain's completions: the topmost single `value` column above the
    * batches. */
  def completionNode(plan: LogicalPlan): Option[LogicalPlan] =
    plan.find(n => names(n) == Seq("value") && batchNode(n).nonEmpty)

  private val TripleCols = Seq("subject", "subject_type", "relation", "object", "object_type")

  /** Recovered triples (`LlmChains.extractTripletRows` output): the
    * lowest node with the triple columns above the completions, i.e.
    * below any union with other sources and below normalization. */
  def recoveredNode(plan: LogicalPlan): Option[LogicalPlan] = {
    def triples(n: LogicalPlan) = names(n) == TripleCols && completionNode(n).nonEmpty
    plan.collect { case n if triples(n) => n }
      .find(n => n.children.forall(_.find(triples).isEmpty))
  }

  /** `RdfXml.rdfTriples` output. */
  def rdfNode(plan: LogicalPlan): Option[LogicalPlan] =
    plan.find(n => names(n) == Seq("subject", "xml_label", "object", "lang"))

  def frame(df: DataFrame, node: LogicalPlan): DataFrame =
    KgBenchInternals.frame(df.sparkSession, node)
}
