package kgbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `run.py` builds it and calls
  *
  *   kgbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir>
  *
  * It sets the session up (`setup_s`), warms up, measures passes for
  * `seconds`, checks the outputs and writes `result.json` (and, traced,
  * `trace.json`) into `workDir`.
  */
object Main {

  final case class Check(name: String, ok: Boolean, detail: String)

  /** What one workload run reports back. */
  final class Report {
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val checks = mutable.ArrayBuffer.empty[Check]
    var attempted = 0L
    var failed = 0L
    val extra = mutable.LinkedHashMap.empty[String, AnyRef]

    def check(name: String)(cond: => (Boolean, String)): Unit = {
      val c = try { val (ok, d) = cond; Check(name, ok, d) }
      catch { case e: Throwable => Check(name, ok = false, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      if (!c.ok) System.err.println(s"[kgbench] CHECK FAILED ${c.name}: ${c.detail}")
      checks += c
    }
  }

  def session(work: String, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("kgbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Runs `pass` untimed once (warm-up), then repeatedly until `budget`
    * seconds have been measured (at least `minPasses` times); returns each
    * pass's wall time. */
  def measure(budget: Double, minPasses: Int)(pass: Int => Unit): Seq[Double] = {
    pass(0)
    val times = mutable.ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    while (times.size < minPasses || seconds(start) < budget) {
      val t0 = System.nanoTime()
      pass(times.size + 1)
      times += seconds(t0)
    }
    times.toSeq
  }

  def dirStats(dir: String): (Long, Int) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0)
    else {
      val files = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(f => f.getFileName.toString.startsWith(".") ||
          f.getFileName.toString.startsWith("_")).toSeq
      (files.map(Files.size).sum, files.size)
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work) = args
    val seed = seedS.toLong
    val budget = secondsS.toDouble
    val traced = traceS == "1"
    val cpus = Runtime.getRuntime.availableProcessors
    val host = new Host()
    val wl: Workload = workload match {
      case "kg_pipeline" => new KgPipeline(seed)
      case "llm_extract" => new LlmExtract(seed)
      case "query_fleet" => new QueryFleet(seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val report = new Report
    // set-up: the session, and every input built from the seed
    val tSetup = System.nanoTime()
    val spark = session(work, wl.cores(cpus))
    wl.setup(spark, s"$work/in", report)
    report.metrics("setup_s") = seconds(tSetup)

    val tracer =
      if (traced) {
        val c = new EngineCounters
        spark.sparkContext.addSparkListener(c)
        spark.listenerManager.register(c)
        new Tracer(spark.sparkContext, Some(c))
      } else new Tracer(spark.sparkContext, None)

    System.err.println(f"[kgbench] set-up ${report.metrics("setup_s")}%.1f s")
    val t0 = System.nanoTime()
    if (traced) wl.traced(spark, tracer, report)
    else {
      val times = measure(budget, wl.minPasses)(i => wl.pass(spark, i))
      wl.summarize(spark, times, report)
    }
    System.err.println(f"[kgbench] passes ${seconds(t0)}%.1f s")
    val t1 = System.nanoTime()
    wl.checks(spark, report)
    System.err.println(f"[kgbench] checks ${seconds(t1)}%.1f s")
    report.failed += report.checks.count(!_.ok)
    report.attempted += report.checks.size
    report.metrics("ok_frac") = 1.0 - report.failed.toDouble / math.max(1L, report.attempted)
    if (traced) {
      report.metrics("error_frac") = report.failed.toDouble / math.max(1L, report.attempted)
      host.addTo(report.metrics)
      Files.writeString(Paths.get(s"$work/trace.json"), traceJson(workload, seed, tracer, report))
    }
    val out = new java.util.LinkedHashMap[String, AnyRef]()
    out.put("correct", Boolean.box(report.checks.forall(_.ok)))
    out.put("attempted", Long.box(report.attempted))
    out.put("failed", Long.box(report.failed))
    out.put("metrics", report.metrics.map { case (k, v) => k -> Double.box(v) }.asJava)
    out.put("checks", report.checks.map(c =>
      Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail).asJava).asJava)
    out.put("host", host.json)
    out.put("not_run", wl.notRun.asJava)
    report.extra.foreach { case (k, v) => out.put(k, v) }
    Files.writeString(Paths.get(s"$work/result.json"), new ObjectMapper().writeValueAsString(out))
    spark.stop()
  }

  private def traceJson(workload: String, seed: Long, t: Tracer, r: Report): String = {
    val spans = t.spans.map { s =>
      Map[String, Any]("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
        "pass" -> s.pass, "start_ns" -> s.start, "end_ns" -> s.end, "dur_s" -> t.dur(s),
        "self_s" -> t.selfTime(s), "counters" -> s.counters.asJava,
        "storage_peak_mb" -> s.storagePeakMb).asJava
    }.asJava
    new ObjectMapper().writerWithDefaultPrettyPrinter().writeValueAsString(Map[String, Any](
      "workload" -> workload, "seed" -> seed, "spans" -> spans,
      "per_layer" -> r.metrics.asJava).asJava)
  }
}

/** The hypervisor's steal time, from the first line of `/proc/stat`
  * (none where that file does not exist). */
object Steal {
  final case class Snap(steal: Long, busy: Long)
  def now: Snap =
    try {
      // cpu user nice system idle iowait irq softirq steal ...
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      Snap(f(7), f(0) + f(1) + f(2) + f(5) + f(6) + f(7))
    } catch { case _: Exception => Snap(0L, 0L) }
  /** The share of the host's busy cpu time since `s0` that the hypervisor
    * gave to other machines. */
  def since(s0: Snap): Double = {
    val s1 = now
    if (s1.busy <= s0.busy) 0.0 else (s1.steal - s0.steal).toDouble / (s1.busy - s0.busy)
  }
}

/** Host-load telemetry: a run on a busy box identifies itself. */
final class Host {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
  private val load0 = os.getSystemLoadAverage
  private val steal0 = Steal.now
  private val t0 = System.nanoTime()
  private val cpu0 = procCpuNs
  private def procCpuNs: Long = os match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => -1L
  }
  private def cpus = Runtime.getRuntime.availableProcessors
  /** This JVM's average share of all cores since start. */
  def procCpu: Double =
    if (cpu0 < 0) -1.0 else (procCpuNs - cpu0).toDouble / (System.nanoTime() - t0) / cpus
  def addTo(m: mutable.Map[String, Double]): Unit = {
    m("host.load1") = os.getSystemLoadAverage
    m("host.proc_cpu") = procCpu
    m("host.cpus") = cpus.toDouble
    m("host.steal") = Steal.since(steal0)
  }
  def json: java.util.Map[String, Any] = Map[String, Any]("cpus" -> cpus,
    "load1_start" -> load0, "load1_end" -> os.getSystemLoadAverage,
    "proc_cpu" -> procCpu, "steal" -> Steal.since(steal0)).asJava
}

/** One benchmark workload. */
trait Workload {
  def minPasses: Int = 1
  /** Spark task threads on a host with `cpus` cores. */
  def cores(cpus: Int): Int = cpus
  /** Per-layer metrics of layers this workload does not run: a layer
    * name (`query`) or one metric's name. They read 0; any other per-layer
    * metric a traced run does not produce fails the run. */
  def notRun: Seq[String]
  def setup(spark: SparkSession, dir: String, r: Main.Report): Unit
  def pass(spark: SparkSession, i: Int): Unit
  def summarize(spark: SparkSession, times: Seq[Double], r: Main.Report): Unit
  def traced(spark: SparkSession, t: Tracer, r: Main.Report): Unit
  def checks(spark: SparkSession, r: Main.Report): Unit

  /** End-to-end metrics shared by the pass-shaped workloads: one pass is
    * one user request. */
  def passMetrics(times: Seq[Double], records: Long, r: Main.Report): Unit = {
    r.metrics("records_per_s") = records / Main.median(times)
    r.metrics("query_p50_s") = Main.median(times)
    r.metrics("query_p90_s") = Main.quantile(times, 0.9)
    r.attempted += times.size
    r.extra("pass_s") = times.map(Double.box).asJava
  }
}
