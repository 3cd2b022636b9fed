package kgbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.KgBenchInternals
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark engine counters, summed from listener events. */
final class EngineCounters extends SparkListener with QueryExecutionListener {
  private val c = Array.fill(12)(new AtomicLong)
  private val JobsI = 0; private val StagesI = 1; private val TasksI = 2; private val BusyMs = 3
  private val SchedMs = 4; private val GcMs = 5; private val ShuffleW = 6; private val Spill = 7
  private val Input = 8; private val ShuffleR = 9; private val PlanNs = 10; private val Queries = 11
  /** Every task's duration in ms, in completion order (for per-span
    * slowest/median task). */
  val taskMs = new ConcurrentLinkedQueue[java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = c(JobsI).incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = c(StagesI).incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c(TasksI).incrementAndGet()
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) {
      c(BusyMs).addAndGet(m.executorRunTime)
      c(GcMs).addAndGet(m.jvmGCTime)
      c(ShuffleW).addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c(ShuffleR).addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c(Spill).addAndGet(m.diskBytesSpilled)
      c(Input).addAndGet(m.inputMetrics.bytesRead)
      if (i != null)
        c(SchedMs).addAndGet(math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime))
    }
    if (i != null) taskMs.add(i.duration)
  }

  // analysis + optimization + planning of every executed query
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    c(PlanNs).addAndGet(Seq("analysis", "optimization", "planning")
      .flatMap(ph.get).map(p => (p.endTimeMs - p.startTimeMs) * 1000000L).sum)
    c(Queries).incrementAndGet()
  }

  def snap(sc: SparkContext): Snap = {
    KgBenchInternals.drain(sc)
    Snap(c.map(_.get).toVector, taskMs.size,
      sc.getRDDStorageInfo.map(_.memSize).sum)
  }
}

/** Counter values at one instant. */
final case class Snap(v: Vector[Long], nTasks: Int, storageBytes: Long) {
  def -(o: Snap): Map[String, Double] = {
    val d = v.zip(o.v).map { case (a, b) => (a - b).toDouble }
    Map("jobs" -> d(0), "stages" -> d(1), "tasks" -> d(2), "task_busy_s" -> d(3) / 1e3,
      "sched_delay_s" -> d(4) / 1e3, "gc_s" -> d(5) / 1e3, "shuffle_write_mb" -> d(6) / 1e6,
      "spill_mb" -> d(7) / 1e6, "input_mb" -> d(8) / 1e6, "shuffle_read_mb" -> d(9) / 1e6,
      "plan_s" -> d(10) / 1e9, "queries" -> d(11))
  }
}

/** One call into a layer. */
final case class Span(id: Int, parent: Int, name: String, layer: String, pass: Int,
    start: Long, end: Long, counters: Map[String, Double], taskMs: Seq[Long],
    storagePeakMb: Double)

/** Records spans in memory; the traced run writes them at the end. Span
  * boundaries drain the listener bus first, so each span's counter
  * deltas belong to it. Disabled, it runs the body and records nothing. */
final class Tracer(val sc: SparkContext, val counters: Option[EngineCounters]) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  var pass = 0
  def enabled: Boolean = counters.isDefined

  def span[A](name: String, layer: String)(body: => A): A =
    counters match {
      case None => body
      case Some(c) =>
        val id = nextId; nextId += 1
        val parent = stack.headOption.getOrElse(-1)
        val s0 = c.snap(sc)
        val t0 = System.nanoTime()
        stack.push(id)
        try body
        finally {
          val t1 = System.nanoTime()
          stack.pop()
          val s1 = c.snap(sc)
          val tasks = c.taskMs.asScala.slice(s0.nTasks, s1.nTasks).map(_.longValue).toSeq
          spans += Span(id, parent, name, layer, pass, t0, t1, s1 - s0, tasks,
            math.max(s0.storageBytes, s1.storageBytes) / 1e6)
        }
    }

  def dur(s: Span): Double = (s.end - s.start) / 1e9

  /** Span duration minus the part of it its child spans cover. */
  def selfTime(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.start, k.end)).sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    kids.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    (s.end - s.start - covered) / 1e9
  }
}
