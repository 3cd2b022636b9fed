package kgbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.SparkContext
import org.apache.spark.util.{AccumulatorV2, CollectionAccumulator, LongAccumulator}
import graft.kg.{LlmChains, Neo4jUpsert}

/** Largest value added, across tasks. */
final class MaxAccumulator extends AccumulatorV2[Long, Long] {
  private var v = 0L
  def isZero: Boolean = v == 0L
  def copy(): MaxAccumulator = { val c = new MaxAccumulator; c.v = v; c }
  def reset(): Unit = v = 0L
  def add(x: Long): Unit = v = math.max(v, x)
  def merge(o: AccumulatorV2[Long, Long]): Unit = v = math.max(v, o.value)
  def value: Long = v
}

/** Smallest value added, across tasks. */
final class MinAccumulator extends AccumulatorV2[Long, Long] {
  private var v = Long.MaxValue
  def isZero: Boolean = v == Long.MaxValue
  def copy(): MinAccumulator = { val c = new MinAccumulator; c.v = v; c }
  def reset(): Unit = v = Long.MaxValue
  def add(x: Long): Unit = v = math.min(v, x)
  def merge(o: AccumulatorV2[Long, Long]): Unit = v = math.min(v, o.value)
  def value: Long = v
}

/** Executor-side counters of the LLM stage. */
final class LlmCounters(sc: SparkContext) extends Serializable {
  val calls: LongAccumulator = sc.longAccumulator("llm.calls")
  val failures: LongAccumulator = sc.longAccumulator("llm.failures")
  val waitNs: LongAccumulator = sc.longAccumulator("llm.wait_ns")
  val recordsDone: LongAccumulator = sc.longAccumulator("llm.records_done")
  val outputTokens: LongAccumulator = sc.longAccumulator("llm.output_tokens")
  val maxRecords: MaxAccumulator = { val a = new MaxAccumulator; sc.register(a, "llm.max_records"); a }
  val callMs: CollectionAccumulator[java.lang.Double] = sc.collectionAccumulator("llm.call_ms")
  /** First call's start and last call's end (`System.nanoTime`; one JVM
    * at local[n]): the window in which the model stage was busy. */
  val firstStartNs: MinAccumulator = { val a = new MinAccumulator; sc.register(a, "llm.first_start"); a }
  val lastEndNs: MaxAccumulator = { val a = new MaxAccumulator; sc.register(a, "llm.last_end"); a }

  def busyS: Double =
    if (calls.value == 0) 0.0 else (lastEndNs.value - firstStartNs.value) / 1e9
}

/** Latency of the simulated hosted model, in model time: a fixed part per
  * call (network round trip, queueing and prompt prefill before the first
  * output token) plus the time to emit the completion's output tokens.
  *
  * The reference calls a Groq-hosted model. Groq's published figure for
  * its serving of Llama 2 70B is about 300 output tokens/s per user; that
  * is `TokensPerS`. The 300 ms fixed part, the 4 characters per token
  * (the usual rule of thumb for English text) and the ±30% jitter are
  * assumptions, not measurements. `scale` turns model time into benchmark
  * time (0.01: one model second is 10 ms here) so that a pass fits a run;
  * it shrinks every part alike, so their ratios, and with them the value
  * of batching against calls in flight, stay those of the model. */
final case class ModelLatency(scale: Double) {
  import ModelLatency._
  def tokens(text: String): Long = math.ceil(text.length / CharsPerToken).toLong
  /** Benchmark-time nanoseconds of a call that emits `outputTokens`;
    * `u` in [0, 1] draws the jitter. */
  def callNs(outputTokens: Long, u: Double): Long =
    ((FirstTokenMs + outputTokens * 1000.0 / TokensPerS) * (1 + Jitter * (2 * u - 1)) *
      scale * 1e6).toLong
}

object ModelLatency {
  val FirstTokenMs = 300.0
  val TokensPerS = 300.0
  val CharsPerToken = 4.0
  val Jitter = 0.3
}

/** A stand-in for a hosted model. Each call answers with the batch's true
  * triples wrapped in chatty prose, so the tolerant recovery runs, and
  * sleeps for its `latency`: the fixed part plus the output tokens of that
  * answer, so a record's cost follows from the triples it yields, with a
  * seeded jitter. A prompt that carries one of the seeded `failing` record
  * ids is refused once, after the fixed part only, like a rate-limit
  * response; the second attempt of the same prompt always succeeds, so
  * `RetryingChain` recovers and no run aborts.
  *
  * The true triples of a record are a function of its own fields:
  * customers and suppliers are located in their nation (phrased with a
  * seeded synonym the relation dictionary must map back), customers are
  * in a market segment, and orders are placed by a customer and dated. */
final case class SimulatedChain(seed: Long, latency: ModelLatency, failing: Set[Long],
    counters: LlmCounters) extends LlmChains.Chain {

  @transient private lazy val attempts = mutable.HashMap.empty[Int, Int]
  @transient private lazy val json = new ObjectMapper()

  def invoke(prompts: Iterator[String]): Iterator[String] = prompts.map(call)

  private def sleep(ns: Long): Unit = {
    Thread.sleep(ns / 1000000, (ns % 1000000).toInt)
    counters.waitNs.add(ns)
  }

  private def call(prompt: String): String = {
    val t0 = System.nanoTime()
    counters.firstStartNs.add(t0)
    val h = MurmurHash3.stringHash(prompt, seed.toInt)
    val attempt = attempts.getOrElse(h, 0)
    attempts(h) = attempt + 1
    val records = json.readTree(prompt).elements().asScala.toSeq
    val u = (MurmurHash3.productHash((h, attempt)) & 0xffff) / 65535.0
    counters.calls.add(1)
    counters.maxRecords.add(records.size.toLong)
    def done(): Unit = {
      val t1 = System.nanoTime()
      counters.callMs.add((t1 - t0) / 1e6)
      counters.lastEndNs.add(t1)
    }
    if (attempt == 0 && records.exists(r => r.has("__rid") && failing(r.get("__rid").asLong))) {
      sleep(latency.callNs(0, u))
      counters.failures.add(1)
      done()
      throw new RuntimeException("simulated transient model error (rate limited)")
    }
    val triples = records.flatMap { r =>
      def f(k: String): String = Option(r.get(k)).map(_.asText).getOrElse("")
      val located = SimulatedChain.LocatedIn(
        (MurmurHash3.stringHash(f("c_name") + f("s_name"), seed.toInt) & 0x7fffffff) %
          SimulatedChain.LocatedIn.size)
      if (f("c_custkey").nonEmpty)
        Seq((f("c_name"), "customer", located, s"NATION_${f("c_nationkey")}", "nation"),
          (f("c_name"), "customer", "in segment", f("c_mktsegment"), "segment"))
      else if (f("o_orderkey").nonEmpty)
        Seq((s"order-${f("o_orderkey")}", "order", "placed by",
          f"Customer#${f("o_custkey").toLong}%09d", "customer"),
          (s"order-${f("o_orderkey")}", "order", "dated", f("o_orderdate"), "date"))
      else if (f("s_suppkey").nonEmpty)
        Seq((f("s_name"), "supplier", located, s"NATION_${f("s_nationkey")}", "nation"))
      else Nil
    }
    val objs = triples.map { case (s, st, rel, o, ot) =>
      json.writeValueAsString(Map("subject" -> s, "subject_type" -> st,
        "relation" -> rel, "object" -> o, "object_type" -> ot).asJava)
    }
    val answer = s"Sure! I found ${objs.size} relations in this batch.\n```json\n" +
      objs.mkString("[\n  ", ",\n  ", "\n]") + "\n```\nLet me know if you need anything else."
    val tokens = latency.tokens(answer)
    sleep(latency.callNs(tokens, u))
    counters.outputTokens.add(tokens)
    counters.recordsDone.add(records.size.toLong)
    done()
    answer
  }
}

object SimulatedChain {
  /** Variants of one canonical relation ("located in"): the relation
    * dictionary must map every one of them back. */
  val LocatedIn: Seq[String] = Seq("located in", "housed in", "kept at", "stored in", "Located_In")
}

/** Executor-side counters of the Cypher transport. */
final class UpsertCounters(sc: SparkContext) extends Serializable {
  val calls: LongAccumulator = sc.longAccumulator("upsert.calls")
  val batches: LongAccumulator = sc.longAccumulator("upsert.batches")
  val rows: LongAccumulator = sc.longAccumulator("upsert.rows")
  val bytes: LongAccumulator = sc.longAccumulator("upsert.bytes")
  val maxRows: MaxAccumulator = { val a = new MaxAccumulator; sc.register(a, "upsert.max_rows"); a }
}

/** A Neo4j stand-in: records every batch it is sent (rows, bytes) and
  * checks that each payload is a JSON array of rows. */
final case class RecordingTransport(counters: UpsertCounters) extends Neo4jUpsert.CypherTransport {
  @transient private lazy val json = new ObjectMapper()
  def send(batches: Iterator[(String, String)]): Unit = {
    counters.calls.add(1)
    batches.foreach { case (cypher, rows) =>
      require(cypher.startsWith("UNWIND $rows"), s"unexpected statement: ${cypher.take(40)}")
      val n = json.readTree(rows)
      require(n.isArray, "batch payload is not a JSON array")
      counters.batches.add(1)
      counters.rows.add(n.size.toLong)
      counters.maxRows.add(n.size.toLong)
      counters.bytes.add(rows.length.toLong)
    }
  }
}
