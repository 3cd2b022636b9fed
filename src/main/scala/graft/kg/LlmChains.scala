package graft.kg

import java.nio.ByteBuffer
import java.util.concurrent.{ExecutionException, ExecutorService, Executors, Future}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.{SparkEnv, TaskContext}
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Pluggable LLM-chain surface + tolerant triplet recovery (SURVEY §2
  * B2/B9).
  *
  * The reference calls Groq via LangChain chains
  * (Art-Knowledge-Graph-Local/LLM/chains.py) and distributes the calls
  * with `df.rdd.mapPartitions`
  * (Art-Knowledge-Graph-AWS/LLM/main-llm-triplets-extraction.py:16).
  * Inference is external to the engine, so here it is a trait invoked
  * partition-wise over a Dataset[String]. A model call is latency-bound,
  * not CPU-bound, so each partition keeps up to `CallsInFlight` calls
  * outstanding on an ordered window (`invokePartitionwise`), each on its
  * own copy of the chain. `StubChain` is the deterministic stand-in used
  * by tests (echoes input fields as triplet JSON with trailing prose
  * noise, like a chatty model).
  */
object LlmChains {

  /** One prompt→completion chain. Implementations must be serializable
    * (executed on executors).
    *
    * Threading contract: `invokePartitionwise` deserializes one copy of
    * the chain per call slot of a partition's window and hands each copy
    * to one thread at a time, so a class chain may keep unsynchronized
    * per-instance state (caches, retry counts). A Scala `object` chain
    * is one shared singleton in the JVM, used by every slot at once: it
    * must be stateless or thread-safe, as `StubChain` is. */
  trait Chain extends Serializable {
    def invoke(prompts: Iterator[String]): Iterator[String]
  }

  /** Deterministic fake "LLM": wraps each input line in a triplet JSON
    * array plus trailing chatter (exercises the tolerant parser). */
  object StubChain extends Chain {
    def invoke(prompts: Iterator[String]): Iterator[String] =
      prompts.map { p =>
        // strip quotes AND braces/brackets: echoed JSON structure inside
        // a string value would defeat any flat-object recovery regex
        // (the reference's \{.*?\} has the same blind spot)
        val clean = p.replaceAll("[\"{}\\[\\]]", "").take(40)
        s"""Here are the triplets:[{"subject":"$clean","subject_type":"text","relation":"mentions","object":"stub","object_type":"entity"}] hope this helps!"""
      }
  }

  /** Retry/backoff decorator for flaky chains (rate limits, transient
    * API errors) — the reference's call_with_retry
    * (Art-Knowledge-Graph-Local/LLM/pipeline.py:36-68): exponential
    * backoff, maxAttempts, then rethrow. Wraps any Chain; prompts are
    * retried one-at-a-time so one poisoned prompt doesn't re-bill the
    * whole partition. */
  final case class RetryingChain(inner: Chain, maxAttempts: Int = 3,
      baseDelayMs: Long = 100) extends Chain {
    require(maxAttempts > 0, s"RetryingChain needs maxAttempts >= 1, got $maxAttempts")
    def invoke(prompts: Iterator[String]): Iterator[String] =
      prompts.map { p =>
        var attempt = 0
        var out: Option[String] = None
        var last: Throwable = null
        while (out.isEmpty && attempt < maxAttempts) {
          // NonFatal lets an interrupt through: a cancelled task's
          // window interrupts its calls, and a retry would bill the model
          // for a task that is gone
          try out = Some(inner.invoke(Iterator(p)).next())
          catch {
            case NonFatal(e) =>
              last = e
              attempt += 1
              if (attempt < maxAttempts)
                Thread.sleep(baseDelayMs * (1L << (attempt - 1)))
          }
        }
        out.getOrElse(throw last)
      }
  }

  /** Calls outstanding per partition. */
  val CallsInFlight = 16

  /** Distribute a chain over a Dataset of prompts — the Spark-native
    * equivalent of the reference's rdd.mapPartitions(process_partition),
    * with up to `CallsInFlight` calls outstanding per partition. The
    * chain is serialized once here, on the Spark driver; see `CallWindow`. */
  def invokePartitionwise(prompts: Dataset[String], chain: Chain): Dataset[String] = {
    import prompts.sparkSession.implicits._
    val serialized = JavaUtils.bufferToArray(
      SparkEnv.get.closureSerializer.newInstance().serialize(chain))
    prompts.mapPartitions(new CallWindow(_, serialized))
  }

  /** A partition's completions, in prompt order, with up to
    * `CallsInFlight` calls outstanding on a pool of daemon threads.
    *
    * The prompts are read only on the task thread. Prompt k runs on slot
    * k % CallsInFlight; its previous prompt, k - CallsInFlight, left the
    * window before prompt k entered it, so a slot's chain is used by one
    * thread at a time. Each slot's chain is deserialized from the
    * serialized chain on the task thread: only a copy serialized by the
    * Spark driver registers its accumulators with the task, so a copy
    * made on the executor would drop its counts. The pool exists only once a prompt
    * arrives, and is shut down (interrupting calls still running) when
    * the prompts drain or the task ends, which covers a `limit`, a
    * cancel and a failure. A failing call fails the task with its own
    * exception. */
  private final class CallWindow(prompts: Iterator[String], chainBytes: Array[Byte])
      extends Iterator[String] {
    private val slots = new Array[Chain](CallsInFlight)
    private val window = mutable.Queue.empty[Future[String]]
    private var submitted = 0L
    private var pool: ExecutorService = _

    private def start(): Unit = {
      val task = TaskContext.get()
      val threads = new AtomicInteger
      pool = Executors.newFixedThreadPool(CallsInFlight, (r: Runnable) => {
        val t = new Thread(r, s"graft-llm-${task.taskAttemptId()}-${threads.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
      task.addTaskCompletionListener[Unit](_ => pool.shutdownNow())
    }

    private def slot(i: Int): Chain = {
      if (slots(i) == null)
        slots(i) = SparkEnv.get.closureSerializer.newInstance()
          .deserialize[Chain](ByteBuffer.wrap(chainBytes))
      slots(i)
    }

    def hasNext: Boolean = {
      while (window.size < CallsInFlight && prompts.hasNext) {
        if (pool == null) start()
        val chain = slot((submitted % CallsInFlight).toInt)
        val p = prompts.next()
        window.enqueue(pool.submit[String](() => chain.invoke(Iterator(p)).next()))
        submitted += 1
      }
      if (window.isEmpty && pool != null) pool.shutdownNow()
      window.nonEmpty
    }

    def next(): String = {
      if (!hasNext) throw new NoSuchElementException("no more completions")
      // a call leaves the window only once it is done, freeing its slot
      val completion =
        try window.head.get()
        catch { case e: ExecutionException => throw e.getCause }
      window.dequeue()
      completion
    }
  }

  /** Schema of one recovered triplet. */
  val tripletSchema = "subject string, subject_type string, relation string, object string, object_type string"

  /** Tolerant triplet recovery from raw LLM text (LLM/pipeline.py:13
    * extract_json): find every flat `{...}` object and parse it; prose,
    * markdown fences, trailing notes are ignored. For flat (non-nested)
    * objects this equals the reference's whole-parse-then-regex strategy
    * on both valid arrays and noisy output.
    *
    * r11 spelling: explode each regex fragment to its own row and run
    * from_json + the one-sided-triple filter per ROW — every step is
    * codegen'd. The previous `transform`+`filter` array-lambda form
    * computed the same rows but evaluated the lambdas interpreted
    * (Catalyst HOFs have no doGenCode), the one §3-rule violation left
    * on a query path. Row order and multiplicity are unchanged:
    * explode-then-filter keeps exactly the fragments the
    * filter-then-explode form kept. */
  def extractTripletRows(raw: DataFrame, text: Column): DataFrame =
    raw.select(explode(
        regexp_extract_all(text, lit("\\{[^{}]*\\}"), lit(0))).as("_frag"))
      .select(from_json(col("_frag"),
        org.apache.spark.sql.types.StructType.fromDDL(tripletSchema)).as("t"))
      // keep one-sided triples: the reference's insert_triplets still
      // creates the single named node (graph_builder.py:64-77)
      .filter(col("t").isNotNull &&
        (col("t.subject").isNotNull || col("t.object").isNotNull))
      .select(col("t.subject"), col("t.subject_type"), col("t.relation"),
        col("t.object"), col("t.object_type"))

  /** End-to-end extraction: records (as JSON strings) → `chain` →
    * recovered triplet rows. */
  def extractFromRecords(records: Dataset[String], chain: Chain): DataFrame =
    extractTripletRows(invokePartitionwise(records, chain).toDF(), col("value"))
}
