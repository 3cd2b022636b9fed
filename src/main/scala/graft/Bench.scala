package graft
import org.apache.spark.sql.SparkSession

/** Per-round benchmark: times every registered query at the given SF,
  * emitting ONE JSON line. Fixes from the r1 verdict:
  *  - a warm-up pass (q1 + a parquet scan) absorbs session/JIT/footer
  *    warm-up so the first timed query isn't penalized;
  *  - results are fully materialized through the noop sink (the whole
  *    plan executes — no count()-only shortcuts skipping projections);
  *  - failures are loud: stack trace to stderr, value -1 in the JSON,
  *    and a nonzero "errors" count instead of a silently-fast number.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Machine-load telemetry (r8 verdict #5: a loaded co-tenant box
    // produced a 198.7 s artifact whose 10 worst "regressions" were
    // noise; record the evidence IN the artifact so a hot run is
    // self-identifying). os_load1 is the 1-min runqueue average
    // (direct MXBean read; >> cpus means co-tenants), cpu_proc /
    // cpu_sys are this-JVM and whole-box utilization in [0,1]
    // (com.sun.management extension — exported from jdk.management on
    // every JDK we run; a JVM without it degrades to -1).
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    def loadAvg: Double = osBean.getSystemLoadAverage
    def procCpuNs: Long = osBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => -1L
    }
    val loadStart = loadAvg
    val benchWall0 = System.nanoTime()
    val benchCpu0 = procCpuNs

    def materialize(name: String): Either[Throwable, Unit] =
      try Right(SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save())
      catch { case e: Throwable => Left(e) }

    // Warm-up: untimed scan + one full query execution.
    materialize(SparkEntry.queries.keys.head).left.foreach(e =>
      System.err.println(s"[bench] warm-up failed: $e"))

    // One-time persisted-store builds (kg edge table + dedup signature
    // tables), paid HERE and reported as build_sec — the per-query
    // numbers below time the query-many read path only (r3 advice:
    // don't let min-of-two silently hide the build in whichever query
    // touches the store first).
    val (buildSec, buildPer) =
      try graft.store.GraftStore.timeBuildLabeled(Seq(
        ("kg", () => graft.kg.KgQueries.warmStores(spark, sfDir)),
        ("dedup_sig", () => graft.dedup.DedupQueries.warmStores(spark, sfDir)),
        ("dedup_containment",
          () => graft.dedup.DedupQueries.warmContainment(spark, sfDir)),
        ("graph", () => graft.graph.GraphQueries.warmStores(spark, sfDir)),
        ("sim", () => graft.sim.SimQueries.warmStores(spark, sfDir)),
        ("ingest", () => graft.sources.IngestQueries.warmStores(spark, sfDir)),
        ("text", () => graft.text.TextQueries.warmStores(spark, sfDir)),
        ("mm", () => graft.multimodal.Multimodal.warmStores(spark, sfDir))))
      catch { case e: Throwable =>
        System.err.println(s"[bench] store build failed: $e")
        (-1.0, Seq.empty[(String, Double)]) }

    // Store-size LEDGER (r15 verdict #1): per-table rows/files/bytes
    // from parquet footers, committed next to builds{} — makes a
    // store-backed query's round-over-round drift decidable as
    // data-vs-code from the artifacts alone (the r15 kg_ranking_eval
    // 2× was undecidable without it).
    val storeLedger =
      try graft.store.GraftStore.ledger(spark)
      catch { case e: Throwable =>
        System.err.println(s"[bench] store ledger failed: $e")
        Seq.empty[graft.store.GraftStore.TableStat] }

    // E9 recall dial (r15 verdict #7): re-measure (budget, recall,
    // candidate-mass ratio) against THIS round's data so the valve's
    // recall claim is a living number, not one round's prose.
    val e9Dial =
      try Some(graft.dedup.DedupQueries.containmentDial(spark, sfDir))
      catch { case e: Throwable =>
        System.err.println(s"[bench] e9 dial failed: $e"); None }

    // H45 recall dial (r17): the min-bands blocking valve measured
    // against exact threshold retrieval on a 1/7 doc sample — same
    // living-number discipline as e9_dial.
    val clipDial =
      try Some(graft.multimodal.Multimodal.clipDial(spark, sfDir))
      catch { case e: Throwable =>
        System.err.println(s"[bench] clip dial failed: $e"); None }

    // r18 (r17 verdict #5): PRODUCTION-WIDTH dial rows — the banded
    // families' recall/mass trade measured at real widths (512-dim
    // CLIP sign bands, 256-bit perceptual hash) so the "widen the
    // bands" scale story is a committed number, not an extrapolation
    // from the toy widths.
    val clipDialWide =
      try Some(graft.multimodal.Multimodal.clipDialWide(spark, sfDir))
      catch { case e: Throwable =>
        System.err.println(s"[bench] clip wide dial failed: $e"); None }
    val dhashDialWide =
      try Some(graft.multimodal.Multimodal.dhashDialWide(spark, sfDir))
      catch { case e: Throwable =>
        System.err.println(s"[bench] dhash wide dial failed: $e"); None }

    var errors = 0
    def timeOnce(name: String): Double = {
      val t0 = System.nanoTime()
      materialize(name) match {
        case Right(_) => (System.nanoTime() - t0) / 1e9
        case Left(e) =>
          errors += 1
          // one-line summary FIRST (name + root cause) so a truncated
          // log tail still identifies the failing query, then the trace
          var root: Throwable = e
          while (root.getCause != null && root.getCause != root) root = root.getCause
          System.err.println(
            s"[bench] $name FAILED: ${root.getClass.getName}: ${root.getMessage}")
          e.printStackTrace()
          -1.0
      }
    }
    // BENCH_ONLY=a,b,c restricts the timed set for targeted re-probes
    // (warm-up + store builds still run, so a filtered probe times the
    // same warm read path the full bench does).
    val only = sys.env.get("BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.keys
      .filter(n => only.forall(_.contains(n)))
    // J3 tracker: per-query shuffle/spill bytes bracket both passes
    // (deterministic per execution, so 2 passes ≈ 2× one run; reported
    // halved) — the scale cost model next to the wall seconds
    val tracker = graft.monitor.Monitor.registerTasks(spark)
    // two timed passes per query, min taken: absorbs single-run VM /
    // GC noise so round-over-round numbers are comparable
    tracker.delta()
    // J5 per-query executed-plan audit (r11): an UNTIMED third
    // execution through PlanAudit — the audit must materialize the
    // frame's OWN queryExecution (a sink write leaves its AQE stages
    // unfinalized, the r10 PlanAudit lesson), so it cannot piggyback
    // on the timed noop-sink passes. Adds bench wall time but zero
    // effect on the timed numbers; failures degrade to an "error"
    // smell, never a crashed bench.
    def auditOnce(name: String): graft.monitor.PlanAudit.Audit =
      graft.monitor.PlanAudit.audit(SparkEntry.queries(name)(spark, sfDir))
    val results = selected.map { name =>
      val first = timeOnce(name)
      val sec = if (first < 0) first else math.min(first, timeOnce(name))
      val d = tracker.settledDelta()
      val audit = try Some(auditOnce(name)) catch { case _: Throwable => None }
      // discard the audit pass's bytes; settled, or the async listener
      // bus would leak the audit's straggler task events into the
      // NEXT query's bracket
      tracker.settledDelta()
      (name, sec, (d.shuffleWrite / 2) / 1e6, (d.spill / 2) / 1e6, audit)
    }.toSeq
    // names are code-controlled, but escape anyway so the emitted line
    // is valid JSON for ANY registered name (same rule as Monitor)
    def jkey(k: String): String = "\"" + graft.monitor.Monitor.jsonEscape(k) + "\":"
    // Locale.ROOT: the f-interpolator uses the default locale, and a
    // comma decimal separator would corrupt the hand-built JSON line
    def num(v: Double, digits: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))
    val qs = results.map { case (k, v, _, _, _) => jkey(k) + v }
      .mkString("{", ",", "}")
    val sh = results.map { case (k, _, mb, _, _) => jkey(k) + num(mb, 1) }
      .mkString("{", ",", "}")
    val spills = results.filter(_._4 > 0.5)
      .map { case (k, _, _, mb, _) => jkey(k) + num(mb, 1) }
      .mkString("{", ",", "}")
    // J5 allow-list (r13 verdict item 7): a query whose smell is a
    // KNOWN-BENIGN plan shape carries the reason in the artifact
    // instead of the smell, so the fleet smell list stays a real
    // alarm. The only entries: bare text-format scans with no
    // projection or filter to fuse — zero whole-stage codegen spans
    // because there is nothing to generate, not because an expression
    // runs interpreted.
    val smellAllow: Map[String, (String, String)] = {
      val noCodegen = "no whole-stage codegen span anywhere (interpreted plan?)"
      def miss(n: Int) = s"$n scan(s) evaluate a data filter " +
        "with nothing pushed down (pushdown miss)"
      Map(
        "ing_csv" -> (noCodegen,
          "bare csv text scan: no projection/filter to fuse, nothing to codegen"),
        "ing_tsv" -> (noCodegen,
          "bare tsv text scan: no projection/filter to fuse, nothing to codegen"),
        "ing_json" -> (noCodegen,
          "bare json text scan: no projection/filter to fuse, nothing to codegen"),
        // r18 (r17 verdict #4): the three residual-filter queries the
        // refined smell still names — each is a filter over an
        // expression DERIVED inside the query, with no stored column
        // to push to; the row class IS the operator's semantics
        "text_readability" -> (miss(1),
          "tokenizable-docs gate: size(regexp_extract_all(text)) > 0 — " +
            "a derived token count, no source-representable form"),
        "ing_warc_corpus" -> (miss(1),
          "HTTP-status gate parses the WARC payload SYNTHESIZED in the " +
            "query from doc_id — no stored column exists to push to"),
        "ing_corpus_gate" -> (miss(2),
          "fetch gate parses the query-synthesized WARC payload (two " +
            "scans: robots + records) — no stored column to push to"))
    }
    // J5 audit next to the wall seconds: counts + human-readable
    // smells per query, machine-readable in the round artifact
    def auditJson(name: String, a: graft.monitor.PlanAudit.Audit): String = {
      val allow = smellAllow.get(name).filter(x => a.smells.contains(x._1))
      val kept = allow match {
        case Some((smell, _)) => a.smells.filterNot(_ == smell)
        case None => a.smells
      }
      val sm = kept.map(s =>
        "\"" + graft.monitor.Monitor.jsonEscape(s) + "\"")
        .mkString("[", ",", "]")
      val allowJson = allow.map { case (_, reason) =>
        s""","allow":"${graft.monitor.Monitor.jsonEscape(reason)}"""" }
        .getOrElse("")
      s"""{"shuffles":${a.shuffleExchanges},"broadcasts":${a.broadcastExchanges},""" +
        s""""sorts":${a.sorts},"codegen_spans":${a.wholeStageSpans},""" +
        s""""scans":${a.fileScans},"pushed":${a.scansWithPushedFilters},""" +
        s""""unpushed":${a.unpushedDataFilterScans},""" +
        s""""files_read":${a.filesRead},"bytes_read":${a.bytesRead},""" +
        s""""single_partition":${a.singlePartitionExchanges},""" +
        s""""sp_heavy":${a.singlePartitionHeavy},"smells":$sm$allowJson}"""
    }
    // the error fallback carries the SAME keys as a successful audit
    // (nulled counts) so consumers can index fields unconditionally
    val auditErrJson =
      """{"shuffles":null,"broadcasts":null,"sorts":null,""" +
        """"codegen_spans":null,"scans":null,"pushed":null,"unpushed":null,""" +
        """"files_read":null,"bytes_read":null,""" +
        """"single_partition":null,"sp_heavy":null,"smells":["audit error"]}"""
    val audits = results.map { case (k, _, _, _, a) =>
      jkey(k) + a.map(auditJson(k, _)).getOrElse(auditErrJson)
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, v, _, _, _) if v >= 0 => v }.sum
    // sp_heavy tripwire AT BENCH TIME (r11 verdict #5): the committed
    // artifact must not be able to disagree silently with the
    // FleetAuditSpec static gate — a query planning a heavy
    // single-partition exchange turns the round red right here.
    val spOffenders = results.collect {
      case (k, _, _, _, Some(a)) if a.singlePartitionHeavy > 0 =>
        s"$k(${a.singlePartitionHeavy})"
    }
    if (spOffenders.nonEmpty)
      System.err.println(
        s"[bench] FAIL sp_heavy>0: ${spOffenders.mkString(", ")} — " +
          "heavy single-partition exchange(s) in an executed plan")
    // load snapshot AFTER the timed passes: os_load1_end reflects the
    // bench's own threads PLUS any co-tenant, while cpu_proc_avg is
    // THIS JVM's average core-occupancy over the whole bench window
    // (CPU-time delta / wall). os_load1_end far above
    // cpu_proc_avg·cpus ⇒ co-tenants were running and the wall
    // seconds are suspect.
    val nCores = Runtime.getRuntime.availableProcessors
    val wallNs = (System.nanoTime() - benchWall0).toDouble
    val cpuAvg =
      if (benchCpu0 < 0) -1.0 else (procCpuNs - benchCpu0) / wallNs / nCores
    val loadJson = s""""cpus":$nCores,"os_load1_start":${num(loadStart, 2)},"os_load1_end":${num(loadAvg, 2)},"cpu_proc_avg":${num(cpuAvg, 3)}"""
    val builds = buildPer.map { case (k, v) => jkey(k) + num(v, 3) }
      .mkString("{", ",", "}")
    val ledgerJson = storeLedger.map(t =>
      jkey(t.name) + s"""{"rows":${t.rows},"files":${t.files},"bytes":${t.bytes}}""")
      .mkString("{", ",", "}")
    val dialJson = e9Dial.map { case (b, recall, mass, pb, pe) =>
      s"""{"budget":$b,"recall":${num(recall, 4)},"cand_mass_ratio":${num(mass, 4)},"pairs":$pb,"pairs_exact":$pe}"""
    }.getOrElse("null")
    val clipDialJson = clipDial.map { case (b, recall, mass, pb, pe) =>
      s"""{"min_bands":$b,"recall":${num(recall, 4)},"cand_mass_ratio":${num(mass, 4)},"pairs":$pb,"pairs_exact":$pe}"""
    }.getOrElse("null")
    val clipWideJson = clipDialWide.map { case (d, b, m, recall, frac, pb, pe) =>
      s"""{"dims":$d,"bands":$b,"band_bits":${graft.multimodal.Multimodal.ClipWideBandBits},"min_bands":$m,"recall":${num(recall, 4)},"cand_frac":${num(frac, 6)},"pairs":$pb,"pairs_exact":$pe}"""
    }.getOrElse("null")
    val dhashWideJson = dhashDialWide.map { case (bits, b, recall, frac, pb, pe) =>
      s"""{"hash_bits":$bits,"bands":$b,"recall":${num(recall, 4)},"cand_frac":${num(frac, 6)},"pairs":$pb,"pairs_exact":$pe}"""
    }.getOrElse("null")
    val full = s"""{"metric":"total","value":$total,"unit":"sec","build_sec":$buildSec,"builds":$builds,"store_ledger":$ledgerJson,"e9_dial":$dialJson,"clip_dial":$clipDialJson,"clip_dial_wide":$clipWideJson,"dhash_dial_wide":$dhashWideJson,$loadJson,"queries":$qs,"shuffle_mb":$sh,"spill_mb":$spills,"plan_audit":$audits,"errors":$errors,"sf":"$sfDir"}"""
    println(full)
    // The full line above is >100 queries long and overflows fixed-size
    // stdout tail capture (r6 verdict #1: six rounds of parsed:null).
    // Two belt-and-braces channels that survive truncation:
    //  1. the full JSON also goes to a file (BENCH_OUT env, default
    //     bench_full.json in the working dir) for out-of-band reads;
    //  2. a SHORT trailing summary line — tail capture keeps the END of
    //     output, so a compact final line always parses.
    val outPath = sys.env.getOrElse("BENCH_OUT", "bench_full.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath),
      full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: $e") }
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(5)
      .map { case (k, v, _, _, _) => jkey(k) + v }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","build_sec":$buildSec,$loadJson,"errors":$errors,"n_queries":${results.size},"top":$slowest,"sf":"$sfDir"}""")
    spark.stop()
    if (errors > 0 || spOffenders.nonEmpty) sys.exit(1)
  }
}
