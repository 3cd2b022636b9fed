package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** DataFrame-native graph analytics (SURVEY §2 C1-C7) over the
  * property graph GraphBuilder emits (typed endpoints (label, name)).
  *
  * All algorithms are iterative DataFrame joins — the Pregel pattern
  * re-expressed in Catalyst so AQE handles skew and partition sizing.
  * Vertex identity is the string `label || '|' || name` (the same merge
  * key as the reference's Neo4j MERGE and our exportNeo4jBulk ids).
  *
  * Scale notes per algorithm:
  *  - CC uses alternating large-star/small-star (Kiveris et al.,
  *    "Connected Components in MapReduce and Beyond") — O(log n)
  *    rounds and per-round shuffles keyed on vertex id; robust to
  *    power-law degree skew, unlike naive min-propagation whose round
  *    count is the graph diameter.
  *  - PageRank/LPA/BFS shuffle once per round on the join key; ranks
  *    and frontiers are narrow two-column frames.
  *  - Every loop localCheckpoints its per-round state so lineage doesn't
  *    grow unboundedly across iterations (the classic iterative-Spark
  *    trap). The convergence loops — connectedComponents, lubyMis,
  *    jpColoring, maximalMatching, kTruss, dagLayers, sccColoring,
  *    onion and boruvkaMsf — all run on one driver, [[superstep]]: it
  *    owns the round budget, the early exit, the lazy per-round
  *    checkpoint and its one aggregate action, and the rounds report
  *    ([[lastRoundsExecuted]]). kCore and the fixed-iteration families
  *    (pageRank, katz, hits, walks) keep plain `for` loops.
  *  - Pair-scale inputs under [[DriverMaxRows]] skip the distributed
  *    rounds: the guarded-local paths solve them on the driver.
  */
object Graphs {

  /** Undirected edge list (u, v) as vertex-id strings from
    * GraphBuilder.edges output. Self-loops dropped. `dedupe = false`
    * skips the corpus-wide distinct (a full shuffle of the string
    * pairs) — correct for multiplicity-invariant consumers like BFS,
    * where parallel edges only re-prove the same min depth. */
  def undirectedIds(edges: DataFrame, dedupe: Boolean = true): DataFrame = {
    val u = concat_ws("|", col("src_label"), col("src"))
    val v = concat_ws("|", col("dst_label"), col("dst"))
    val base = edges.select(u.as("u"), v.as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
    if (dedupe) base.distinct() else base
  }

  /** Distributed dense ascending rank (1-based) of the DISTINCT values
    * in `key`: the standard two-pass cluster rank — range-partition +
    * in-partition sort (a distributed sort, `parts`-way parallel), per-
    * partition counts collected to the driver (≤ `parts` longs), and
    * prefix-sum offsets broadcast back so rank = offset + local
    * row_number. No stage ever holds more than one range of the data:
    * unlike `row_number().over(Window.orderBy(key))`, which collapses
    * to a SINGLE task at any scale, this holds at 10⁹ rows by raising
    * `parts` with the cluster. The sorted frame is localCheckpointed
    * ONCE so the counts pass and the rank pass see identical range
    * boundaries (RangePartitioner re-samples per job otherwise — the
    * two passes must agree on partition membership for the offsets to
    * be correct). Output: (key, rankCol: long). */
  def rankedAsc(ids: DataFrame, key: String, rankCol: String,
      parts: Int = 32): DataFrame = {
    val spark = ids.sparkSession
    import org.apache.spark.sql.expressions.Window
    val sorted = ids.select(col(key))
      .repartitionByRange(parts, col(key))
      .sortWithinPartitions(key)
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint(eager = true)
    val counts = sorted.groupBy(col("_pid")).agg(count(lit(1)).as("_c"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    // offset(pid) = rows in all earlier ranges; range partitioning is
    // order-preserving across pids, so offset + local rank is global
    val offsets = counts.map(_._1)
      .zip(counts.map(_._2).scanLeft(0L)(_ + _))
    val offDf = spark.createDataFrame(offsets.toIndexedSeq)
      .toDF("_pid", "_off")
    // the window partitions by _pid: ≤ `parts` groups, each one range —
    // a parts-way-parallel in-range sort, never a global one
    sorted
      .withColumn("_rn",
        row_number().over(Window.partitionBy(col("_pid")).orderBy(col(key))))
      .join(broadcast(offDf), "_pid")
      .select(col(key), (col("_off") + col("_rn")).as(rankCol))
  }

  /** C1: in/out/total degree per typed node. Single-pass: each edge
    * explodes into its two endpoint rows and ONE map-side-combined
    * aggregation produces all three counts — the edge list (often an
    * expensive upstream plan) is scanned once, not once per side. */
  def degrees(edges: DataFrame): DataFrame =
    edges.select(explode(array(
        struct(col("src_label").as("label"), col("src").as("name"), lit(1L).as("o")),
        struct(col("dst_label").as("label"), col("dst").as("name"), lit(0L).as("o"))))
        .as("x"))
      .select(col("x.label").as("label"), col("x.name").as("name"), col("x.o").as("o"))
      .groupBy("label", "name")
      .agg(sum(col("o")).as("out_deg"),
        (count(lit(1)) - sum(col("o"))).as("in_deg"),
        count(lit(1)).as("total_deg"))

  private def checkpointEvery(df: DataFrame, i: Int, every: Int = 3): DataFrame =
    if (i % every == 0) df.localCheckpoint(eager = true) else df

  /** Pin a loop-invariant edge table into a src-hash layout and CACHE
    * it (r8). cache, not localCheckpoint: a checkpoint rewrites the
    * frame as a partitioning-less ExistingRDD scan, so every round's
    * join re-exchanges the edge side — the cached plan keeps the
    * `repartition` node's hashpartitioning(src) visible to
    * ENSURE_REQUIREMENTS and each iteration shuffles only the rank
    * table (the |V|-row side; the edge list is the big side at
    * 100 TB). Eagerly materialized so the first round doesn't pay the
    * upstream plan twice. */
  private def pin(edges: DataFrame, key: String): DataFrame = {
    val pinned = edges.repartition(col(key)).cache()
    pinned.count()
    pinned
  }
  private def pinBySrc(edges: DataFrame): DataFrame = pin(edges, "src")

  /** Rounds the last convergence loop on this thread executed — every
    * loop that runs on [[superstep]]: [[connectedComponents]],
    * [[lubyMis]], [[jpColoring]], [[maximalMatching]], [[kTruss]],
    * [[dagLayers]], [[sccColoring]], [[onion]] (all of its stages) and
    * [[boruvkaMsf]] — and [[maximalMatchingGuarded]]'s local rounds.
    * Observability for the early-exit contract (GraphSpec pins
    * rounds-executed == rounds-needed, not the caller's budget). A loop that runs another loop inside its rounds
    * (boruvkaMsf's CC fallback) reports its own rounds, not the inner
    * loop's. */
  private val lastRounds = new ThreadLocal[Int]
  def lastRoundsExecuted: Int = lastRounds.get

  /** The superstep driver every convergence loop runs on — one
    * dataflow per round over a checkpointed state relation, as in
    * Pregelix. Round i = 1..budget: `step(i, m)` builds the round's
    * frame from the caller's state and the previous round's measure `m`
    * (`start` before round 1). The frame is checkpointed LAZILY, so
    * `measure` — the round's one aggregate action — materializes it in
    * the SAME job that reads the convergence scalar (r20: an eager
    * checkpoint + aggregate paid two jobs per round). `advance` then
    * moves the caller's state onto the checkpoint, and the loop exits
    * after the first round where `converged(m, m')`. The rounds report
    * is reset to 0 before round 1, so a zero-round run (zero budget,
    * empty input) never shows the previous loop's count, and is set
    * after each round's `advance`, so a loop nested inside a round is
    * overwritten by its caller's count. */
  private def superstep[M](budget: Int, start: M)(measure: DataFrame => M,
      converged: (M, M) => Boolean)(step: (Int, M) => DataFrame)(
      advance: (DataFrame, M) => Unit): Unit = {
    lastRounds.set(0)
    var m = start
    var i = 1
    var done = false
    while (i <= budget && !done) {
      val frame = step(i, m).localCheckpoint(eager = false)
      val next = measure(frame)
      advance(frame, next)
      done = converged(m, next)
      m = next
      lastRounds.set(i)
      i += 1
    }
  }

  private val rowCount: DataFrame => Long = _.count()
  private val drained: (Long, Long) => Boolean = (_, n) => n == 0

  /** The graph driver guard: the most rows a guarded-local path collects
    * to the driver and solves in plain Scala, instead of paying a
    * distributed loop's fixed per-job overhead. The guarded paths —
    * [[componentsGuarded]], the Borůvka label merge in [[boruvkaMsf]],
    * [[louvainMoveGuarded]] and [[maximalMatchingGuarded]] — all run on
    * pair-scale inputs (survivor pairs, one row per component, condensed
    * community graphs, the geo graph), metadata-scale at any corpus size. */
  val DriverMaxRows: Long = 1L << 20

  /** Spark's string order, by UTF-8 bytes. `String.compareTo` orders
    * UTF-16 units, which differs once a string mixes characters above
    * the surrogate range (`ａ`) with supplementary ones (`😀`). */
  private val sparkStringOrder: Ordering[String] = (a, b) =>
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  /** Driver union-find with min-label union: every final root is the
    * MINIMUM of its component under `ord`, whatever order the pairs
    * arrive in — exactly the star contraction's fixed point, so labels
    * equal [[connectedComponents]]'. Returns (member, component) for
    * every endpoint. */
  private def minLabelComponents[T](pairs: Seq[(T, T)])(
      implicit ord: Ordering[T]): Seq[(T, T)] = {
    val parent = scala.collection.mutable.Map.empty[T, T]
    def find(x: T): T = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    pairs.flatMap(p => Seq(p._1, p._2)).distinct.map(x => (x, find(x)))
  }

  /** C2: connected components via alternating large-star / small-star.
    * Returns (id, component) where component is the lexicographic min
    * vertex id of the component. */
  /** [[connectedComponents]] with the Borůvka GUARDED-LOCAL fast path
    * generalized (r16): when the pair frame fits the driver guard
    * (pair-SCALE, not data-scale — dedup survivor graphs are a few
    * thousand rows at any SF because the pairs themselves are
    * band-blocked), a driver union-find with min-label union replaces
    * the ~2-jobs-per-iteration star contraction whose fixed per-job
    * overhead dominates at this size (the measured boruvkaMsf lesson,
    * 12.7 → 3.5 s). Labels are identical BY CONSTRUCTION on both
    * paths: min-label union makes every final root the MINIMUM of its
    * component regardless of processing order, which is exactly the
    * star contraction's fixed point. Above the guard: the distributed
    * CC, unchanged. One scalar count action decides. */
  def componentsGuarded(pairs: DataFrame,
      maxDriverRows: Long = DriverMaxRows): DataFrame = {
    // checkpoint ONCE: the guard count, the collect (or the fallback's
    // iterations) must not each re-run the caller's verification
    // pipeline that produced the pairs
    val p = pairs.select(col("u"), col("v")).localCheckpoint(true)
    val n = p.count()
    if (n > maxDriverRows)
      return connectedComponents(p)
    val spark = p.sparkSession
    val idOrder: Ordering[Any] = (a, b) => (a, b) match {
      case (x: java.lang.Long, y: java.lang.Long) => x.compareTo(y)
      case (x: java.lang.Integer, y: java.lang.Integer) => x.compareTo(y)
      case (x: String, y: String) => sparkStringOrder.compare(x, y)
      case _ => a.toString.compareTo(b.toString)
    }
    val labels = minLabelComponents(p.collect().toSeq.map(r => (r.get(0), r.get(1))))(idOrder)
      .map { case (x, c) => org.apache.spark.sql.Row(x, c) }
    val t = pairs.schema.head.dataType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", t),
      org.apache.spark.sql.types.StructField("component", t)))
    broadcast(spark.createDataFrame(
      java.util.Arrays.asList(labels: _*), schema))
  }

  def connectedComponents(undirected: DataFrame, maxIter: Int = 20): DataFrame = {
    val spark = undirected.sparkSession
    import spark.implicits._

    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.select(col("u"), col("v"))
        .unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val m = nbrs.groupBy("u").agg(least(min(col("v")), first(col("u"))).as("m"))
      nbrs.join(m, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      // orient edges high → low, group low neighbors under the high end
      val oriented = e.select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      val m = oriented.groupBy("u").agg(min(col("v")).as("m"))
      val relinked = oriented.join(m, "u")
        .select(col("v").as("u"), col("m").as("v"))
      val center = m.select(col("u"), col("m").as("v"))
      relinked.unionAll(center)
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    var e = undirected.select(
      least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .distinct().localCheckpoint(eager = true)
    // convergence = identical edge SET, detected by (count, XOR of
    // xxhash64) over the deduped edges: one cheap aggregate per round
    // instead of except/intersect set operations (4 extra shuffles per
    // round); XOR is a valid set signature here because rows are
    // distinct, and it cannot overflow under ANSI mode
    def sig(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        expr("bit_xor(xxhash64(u, v))")).first()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    superstep(maxIter, sig(e))(sig, _ == _) { (_, _) =>
      smallStar(largeStar(e))
    } { (next, _) => e = next }
    // e is now (member, center) star edges; centers map to themselves
    val members = e.select(col("u").as("id"), col("v").as("component"))
    val centers = e.select(col("v").as("id"), col("v").as("component")).distinct()
    members.unionAll(centers)
      .groupBy("id").agg(min(col("component")).as("component"))
  }

  /** C3: PageRank, fixed iterations, damping 0.85, dangling mass
    * redistributed uniformly. Returns (id, rank). */
  def pageRank(undirectedOrDirected: DataFrame, iterations: Int = 10,
      damping: Double = 0.85, vertices: Option[DataFrame] = None): DataFrame = {
    // materialize the edge list once — every iteration joins it, and an
    // un-checkpointed upstream plan would be replayed per round
    val e = undirectedOrDirected.select(col("u").as("src"), col("v").as("dst"))
      .localCheckpoint(eager = true)
    // caller-supplied vertices (a persisted bucketed table) are used
    // as-is — checkpointing would erase the bucketing that makes the
    // per-iteration vertices⋈contribs join exchange-free on that side
    val verticesDf = vertices.getOrElse(
      e.select(col("src").as("id"))
        .unionAll(e.select(col("dst").as("id"))).distinct()
        .localCheckpoint(eager = true))
    val n = verticesDf.count().toDouble
    // degrees join ONCE, and the result pins a src-hash layout: every
    // round's contribs join then moves only the |V|-row rank table —
    // the edge list (the big side at 100 TB) never re-shuffles (r8; the
    // old loop joined outDeg and exchanged the full edge list per round)
    val e2 = pinBySrc(e.join(e.groupBy("src").agg(count(lit(1)).as("deg")), "src"))
    var ranks = verticesDf.withColumn("rank", lit(1.0 / n))
    for (_ <- 1 to iterations) {
      // eager checkpoint (one job per round): the next round's join AND
      // the dangling-mass aggregate both read the materialized contribs
      // instead of replaying the whole lineage
      val contribs = e2.join(ranks, e2("src") === ranks("id"))
        .select(col("dst").as("id"), (col("rank") / col("deg")).as("c"))
        .groupBy("id").agg(sum(col("c")).as("c"))
        .localCheckpoint(eager = true)
      // dangling mass as an IN-PLAN broadcast scalar, not a per-round
      // first() action (r4: halves driver round-trips per iteration);
      // same float ops as before — (1 - Σc) then /n
      val lost = broadcast(contribs.agg((lit(1.0) - sum(col("c"))).as("lost")))
      ranks = verticesDf.join(contribs, Seq("id"), "left").crossJoin(lost)
        .select(col("id"),
          (lit((1 - damping) / n) +
            lit(damping) * (coalesce(col("c"), lit(0.0)) + col("lost") / n)).as("rank"))
    }
    // the final ranks plan reads only verticesDf + the checkpointed
    // last-round contribs, so the pinned cache can go now
    e2.unpersist()
    ranks
  }

  /** C26: Katz centrality, fixed iterations: x_{t+1}(v) = β + α ·
    * Σ_{(u→v)∈E} x_t(u), x_0 = β — walk-counting centrality where a
    * vertex is important for being reachable by MANY short walks,
    * attenuated by α per hop (PageRank normalizes by out-degree and
    * redistributes; Katz does neither, so hubs amplify rather than
    * dilute). α must stay below 1/λmax for the series to converge —
    * callers pick it for the graph's degree scale. Same loop shape as
    * pageRank: the edge list pins a src-hash layout once and every
    * round shuffles only the |V|-row score table; per-round contribs
    * checkpoint eagerly so lineage stays one round deep. No dangling
    * or normalizing scalar → one join+agg per round, no per-round
    * driver action at all. */
  def katz(directed: DataFrame, iterations: Int = 6, alpha: Double = 0.005,
      beta: Double = 1.0, vertices: Option[DataFrame] = None): DataFrame = {
    val e = directed.select(col("u").as("src"), col("v").as("dst"))
      .localCheckpoint(eager = true)
    val verticesDf = vertices.getOrElse(
      e.select(col("src").as("id"))
        .unionAll(e.select(col("dst").as("id"))).distinct()
        .localCheckpoint(eager = true))
    val e2 = pinBySrc(e)
    var x = verticesDf.withColumn("katz", lit(beta))
    for (_ <- 1 to iterations) {
      val contribs = e2.join(x, e2("src") === x("id"))
        .select(col("dst").as("id"), col("katz").as("c"))
        .groupBy("id").agg(sum(col("c")).as("c"))
        .localCheckpoint(eager = true)
      x = verticesDf.join(contribs, Seq("id"), "left")
        .select(col("id"),
          (lit(beta) + lit(alpha) * coalesce(col("c"), lit(0.0))).as("katz"))
    }
    e2.unpersist()
    x
  }

  /** C28: maximal independent set via Luby's algorithm — the classic
    * distributed symmetry-breaking primitive (Luby 1986, the same
    * round shape Pregel/GraphX use): every ACTIVE vertex carries a
    * fixed priority; per round, a vertex joins the MIS iff its
    * priority is STRICTLY below every active neighbor's, then MIS
    * vertices and their dominated neighbors retire. With hash-derived
    * priorities the expected round count is O(log n). Determinism and
    * cross-engine agreement need no tie-break: priorities are the same
    * salted-hash values in both engines, and under strict `<` two
    * equal-priority neighbors simply both wait (possibly deciding in a
    * later round) — identically on both sides. Returns only DECIDED
    * vertices as (id, in_mis, decided_round), so the output is exact
    * for any round budget; callers wanting guaranteed maximality check
    * that nothing stays active (GraphSpec does).
    *
    * Per round: one join onto the src-hash-pinned doubled edge list +
    * one min aggregation + two anti-joins; the edge table never moves.
    * Reference scope anchor: community/structure analyses over the KG
    * (Big-Data---Knowledge-graph-construction-with-LLM
    * GRAPH/graph_builder.py builds the graph; independent-set style
    * selection is the engine-side generalization used for e.g.
    * conflict-free batch scheduling of entity updates). */
  def lubyMis(und: DataFrame, verts: DataFrame, rounds: Int): DataFrame = {
    val both = und.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(und.select(col("v").as("src"), col("u").as("dst")))
      .localCheckpoint(eager = true)
    val e2 = pinBySrc(both)
    var active = verts.select(col("id"), col("p")).localCheckpoint(eager = true)
    var decided: Option[DataFrame] = None
    // early exit once the active set drains (the SCC delta-empty
    // idiom): every remaining round would join against an empty frame
    // and emit nothing, but still pay the full per-round plan floor —
    // the fleet's #1 query was paying budget−needed empty rounds. An
    // empty active set runs no round at all.
    superstep(if (active.isEmpty) 0 else rounds, 0L)(rowCount, drained) { (i, _) =>
      val nmin = e2
        .join(active.select(col("id").as("src"), col("p").as("sp")), "src")
        .groupBy("dst").agg(min(col("sp")).as("mp"))
      val mis = active
        .join(nmin.select(col("dst").as("id"), col("mp")), Seq("id"), "left")
        .filter(col("p") < coalesce(col("mp"), lit(Long.MaxValue)))
        .select(col("id")).localCheckpoint(eager = true)
      // dominated = active neighbors of this round's MIS; disjoint from
      // the MIS by the strict-< argument (u,v adjacent can't both win)
      val dominated = e2.join(mis.select(col("id").as("src")), "src")
        .select(col("dst").as("id")).distinct()
        .join(active.select("id"), "id")
        .localCheckpoint(eager = true)
      val newly = mis.select(col("id"), lit(1).as("in_mis"), lit(i).as("decided_round"))
        .unionAll(dominated.select(col("id"), lit(0).as("in_mis"), lit(i).as("decided_round")))
      decided = Some(decided.map(_.unionAll(newly)).getOrElse(newly))
      active.join(mis.unionAll(dominated).select("id"), Seq("id"), "left_anti")
    } { (next, _) => active = next }
    both.unpersist()
    decided.getOrElse(verts.limit(0).select(col("id"),
      lit(1).as("in_mis"), lit(0).as("decided_round")))
  }

  /** C40: Jones-Plassmann greedy coloring, bounded rounds — the
    * register-allocation / conflict-scheduling primitive (and the
    * parallel-coloring algorithm of record since Jones & Plassmann
    * 1993): per round the ACTIVE local-priority-minima color
    * themselves with the smallest color no already-colored neighbor
    * holds, then retire. Same-round winners are an independent set by
    * the strict-< argument lubyMis rides (adjacent vertices can't both
    * be local minima), so they never conflict with each other; the
    * mex against earlier rounds makes the partial coloring PROPER at
    * every step. The mex avoids per-vertex ranges entirely:
    * mex(S) = min(({0} ∪ {s+1 | s ∈ S}) − S) — candidate generation is
    * one union + one anti-join, both candidate-scale. Emits decided
    * vertices only (exact for the fixed budget, the MIS convention);
    * O(E) joins per round, expected O(log n) rounds to drain. */
  def jpColoring(und: DataFrame, verts: DataFrame, rounds: Int): DataFrame = {
    val both = und.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(und.select(col("v").as("src"), col("u").as("dst")))
      .localCheckpoint(eager = true)
    val e2 = pinBySrc(both)
    var active = verts.select(col("id"), col("p")).localCheckpoint(eager = true)
    var colored: Option[DataFrame] = None
    // drained-loop early exit, same contract as lubyMis
    superstep(if (active.isEmpty) 0 else rounds, 0L)(rowCount, drained) { (i, _) =>
      val nmin = e2
        .join(active.select(col("id").as("src"), col("p").as("sp")), "src")
        .groupBy("dst").agg(min(col("sp")).as("mp"))
      val m = active
        .join(nmin.select(col("dst").as("id"), col("mp")), Seq("id"), "left")
        .filter(col("p") < coalesce(col("mp"), lit(Long.MaxValue)))
        .select(col("id")).localCheckpoint(eager = true)
      // colors already held by a winner's neighbors (earlier rounds),
      // aggregated to a per-winner SET in one exchange; the mex is then
      // a pure array expression over that set. r20 (guide §2.4): the
      // previous distinct + candidate-union + anti-join + min spelling
      // paid ~4 exchanges per round over the same candidate-scale rows
      // — collect_set dedups and groups in a single shuffle, and
      // mex(S) = min(({0} ∪ {c+1 | c ∈ S}) − S) evaluates codegen'd
      // per row with no further movement. Identical colors by
      // definition of mex.
      val nc = e2.join(m.select(col("id").as("src")), "src")
        .select(col("src").as("id"), col("dst").as("nbr"))
        .join(colored.map(c => c.select(col("id").as("nbr"), col("color")))
          .getOrElse(m.limit(0).select(col("id").as("nbr"),
            lit(0L).as("color"))), "nbr")
        .groupBy("id").agg(collect_set(col("color")).as("cs"))
      val mexCol = {
        val cs = coalesce(col("cs"), typedLit(Array.empty[Long]))
        val cands = concat(array(lit(0L)), transform(cs, c => c + 1L))
        array_min(filter(cands, x => !array_contains(cs, x)))
      }
      val newly = m.join(nc, Seq("id"), "left")
        .select(col("id"), mexCol.as("color"),
          lit(i).as("decided_round")).localCheckpoint(eager = true)
      colored = Some(colored.map(_.unionAll(newly)).getOrElse(newly))
      active.join(m, Seq("id"), "left_anti")
    } { (next, _) => active = next }
    both.unpersist()
    colored.getOrElse(verts.limit(0).select(col("id"),
      lit(0L).as("color"), lit(0).as("decided_round")))
  }

  /** C29: maximal matching — Luby's local-minimum rule applied to the
    * LINE graph: per round an active edge joins the matching iff its
    * priority key is the strict minimum among active edges at BOTH
    * endpoints, then matched endpoints retire with every incident
    * edge. Priority keys are unique BY CONSTRUCTION (hash prefix ++
    * the canonical endpoint pair), so "strict minimum at both ends"
    * can never admit two edges sharing a vertex, and both engines
    * order the same strings — no tie-break cases at all. Expected
    * O(log n) rounds like MIS. Input (u, v, pkey) with pkey the
    * caller-built unique key; emits matched edges as
    * (u, v, matched_round); callers wanting guaranteed maximality
    * check nothing stays active (GraphSpec does). Per round: one
    * endpoint-keyed min aggregation + one join back + one semi-ish
    * retirement join — the edge frame shrinks geometrically. */
  def maximalMatching(edges: DataFrame, rounds: Int): DataFrame = {
    var active = edges.select(col("u"), col("v"), col("pkey"))
      .localCheckpoint(eager = true)
    var out: Option[DataFrame] = None
    // drained-loop early exit, same contract as lubyMis/jpColoring
    superstep(if (active.isEmpty) 0 else rounds, 0L)(rowCount, drained) { (r, _) =>
      // one flagged checkpoint per round (the lubyMis r15 discipline)
      val byVertex = active.select(col("u").as("x"), col("pkey"))
        .unionAll(active.select(col("v").as("x"), col("pkey")))
      val vmin = byVertex.groupBy("x").agg(min(col("pkey")).as("mk"))
      val flagged = active
        .join(vmin.select(col("x").as("u"), col("mk").as("mu")), "u")
        .join(vmin.select(col("x").as("v"), col("mk").as("mv")), "v")
        .select(col("u"), col("v"), col("pkey"),
          (col("pkey") === col("mu") && col("pkey") === col("mv"))
            .as("matched"))
        .localCheckpoint(eager = true)
      val matched = flagged.filter(col("matched")).select(col("u"), col("v"))
      val taken = matched.select(col("u").as("x"))
        .unionAll(matched.select(col("v").as("x"))).distinct()
      val newly = matched.select(col("u"), col("v"), lit(r).as("matched_round"))
      out = Some(out.map(_.unionAll(newly)).getOrElse(newly))
      flagged.filter(!col("matched"))
        .select(col("u"), col("v"), col("pkey"))
        .join(taken.select(col("x").as("u")), Seq("u"), "left_anti")
        .join(taken.select(col("x").as("v")), Seq("v"), "left_anti")
    } { (next, _) => active = next }
    out.getOrElse(edges.limit(0).select(col("u"), col("v"),
      lit(0).as("matched_round")))
  }

  /** [[maximalMatching]] behind the [[DriverMaxRows]] guard (the
    * [[louvainMoveGuarded]] discipline): the distributed rounds pay 8
    * jobs each, pure fixed overhead on a graph of a few thousand edges.
    * The string edge list is checkpointed once, and one count (which
    * fills the checkpoint) decides; at or under the guard one collect
    * brings the edges to the driver and the SAME rounds run in Scala, so
    * building the result runs 3 jobs in all. The rows are identical BY
    * CONSTRUCTION: an edge matches iff its key is the minimum at both
    * endpoints, keys comparing as Spark orders strings (UTF-8 bytes, not
    * UTF-16 units); matched endpoints retire with every incident edge; a
    * row with a null endpoint or key drops out in its first round, as the
    * joins drop it; and the loop exits once no edge is left, reporting its
    * rounds through [[lastRoundsExecuted]] as [[superstep]] does. Above
    * the guard, or for non-string columns, the distributed rounds run
    * unchanged. */
  def maximalMatchingGuarded(edges: DataFrame, rounds: Int,
      localMax: Long = DriverMaxRows): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
    val e = edges.select(col("u"), col("v"), col("pkey"))
    if (!e.schema.forall(_.dataType == StringType)) return maximalMatching(e, rounds)
    val cp = e.localCheckpoint(eager = false)
    if (cp.count() > localMax) return maximalMatching(cp, rounds)
    var active = cp.collect().toSeq.map(r =>
      (r.getString(0), r.getString(1), Option(r.getString(2)).map(UTF8String.fromString).orNull))
    val out = Seq.newBuilder[Row]
    lastRounds.set(0)
    var i = 1
    while (i <= rounds && active.nonEmpty) {
      val vmin = scala.collection.mutable.HashMap.empty[String, UTF8String]
      def offer(x: String, k: UTF8String): Unit =
        if (x != null && k != null && vmin.get(x).forall(_.compareTo(k) > 0)) vmin(x) = k
      active.foreach { case (u, v, k) => offer(u, k); offer(v, k) }
      val (matched, rest) = active
        .filter { case (u, v, k) => u != null && v != null && k != null }
        .partition { case (u, v, k) => vmin(u) == k && vmin(v) == k }
      val taken = matched.flatMap { case (u, v, _) => Seq(u, v) }.toSet
      matched.foreach { case (u, v, _) => out += Row(u, v, i) }
      active = rest.filterNot { case (u, v, _) => taken(u) || taken(v) }
      lastRounds.set(i)
      i += 1
    }
    val schema = StructType(Seq(e.schema("u"), e.schema("v"),
      StructField("matched_round", IntegerType, nullable = false)))
    e.sparkSession.createDataFrame(java.util.Arrays.asList(out.result(): _*), schema)
  }

  /** Weighted PageRank: contributions split proportionally to edge
    * weight — rank·w/Σw(src) instead of rank/deg — the variant that
    * ranks a similarity/co-occurrence graph by STRENGTH of connection
    * rather than edge count. Identical loop shape to pageRank (edge
    * list checkpointed once, per-round contribs checkpointed, dangling
    * mass as an in-plan broadcast scalar); Σw replaces the out-degree
    * table. Cross-engine: w values are fixed expressions (1/cnt), the
    * per-vertex Σw and per-round contrib sums are the order-sensitive
    * reductions — round(6) on output absorbs the ulp drift, the same
    * contract graph_pagerank runs under. */
  def pageRankWeighted(weighted: DataFrame, iterations: Int = 10,
      damping: Double = 0.85, vertices: Option[DataFrame] = None): DataFrame = {
    val e = weighted.select(col("u").as("src"), col("v").as("dst"), col("w"))
      .localCheckpoint(eager = true)
    val verticesDf = vertices.getOrElse(
      e.select(col("src").as("id"))
        .unionAll(e.select(col("dst").as("id"))).distinct()
        .localCheckpoint(eager = true))
    val n = verticesDf.count().toDouble
    // Σw joins ONCE and the result pins a src-hash layout (the r8
    // pageRank move): per round only the rank table shuffles
    val e2 = pinBySrc(e.join(e.groupBy("src").agg(sum(col("w")).as("sw")), "src"))
    var ranks = verticesDf.withColumn("rank", lit(1.0 / n))
    for (_ <- 1 to iterations) {
      val contribs = e2.join(ranks, e2("src") === ranks("id"))
        .select(col("dst").as("id"), (col("rank") * col("w") / col("sw")).as("c"))
        .groupBy("id").agg(sum(col("c")).as("c"))
        .localCheckpoint(eager = true)
      val lost = broadcast(contribs.agg((lit(1.0) - sum(col("c"))).as("lost")))
      ranks = verticesDf.join(contribs, Seq("id"), "left").crossJoin(lost)
        .select(col("id"),
          (lit((1 - damping) / n) +
            lit(damping) * (coalesce(col("c"), lit(0.0)) + col("lost") / n)).as("rank"))
    }
    // the final ranks plan reads only verticesDf + the checkpointed
    // last-round contribs, so the pinned cache can go now
    e2.unpersist()
    ranks
  }

  /** Personalized PageRank: the teleport vector is concentrated on a
    * SOURCE set instead of uniform — rank measures proximity-weighted
    * importance relative to the sources (the recommendation / related-
    * entity primitive). Same loop shape as pageRank (edge list
    * checkpointed once, per-round contribs checkpointed, dangling mass
    * as an in-plan broadcast scalar) with p(v) = 1/|S| for sources else
    * 0, and dangling mass teleporting BACK TO THE SOURCES (lost·p) —
    * the defining difference from the uniform lost/n. */
  def pageRankPersonalized(undirectedOrDirected: DataFrame, sources: DataFrame,
      iterations: Int = 10, damping: Double = 0.85,
      vertices: Option[DataFrame] = None): DataFrame = {
    val e = undirectedOrDirected.select(col("u").as("src"), col("v").as("dst"))
      .localCheckpoint(eager = true)
    val verticesDf = vertices.getOrElse(
      e.select(col("src").as("id"))
        .unionAll(e.select(col("dst").as("id"))).distinct()
        .localCheckpoint(eager = true))
    val nS = sources.count().toDouble
    val vp = verticesDf
      .join(sources.select(col("id"), lit(1).as("_s")), Seq("id"), "left")
      .select(col("id"),
        when(col("_s").isNotNull, lit(1.0) / nS).otherwise(lit(0.0)).as("p"))
      .localCheckpoint(eager = true)
    // degrees join ONCE with a pinned src-hash layout (the r8 pageRank
    // move): per round only the rank table shuffles
    val e2 = pinBySrc(e.join(e.groupBy("src").agg(count(lit(1)).as("deg")), "src"))
    var ranks = vp.select(col("id"), col("p").as("rank"))
    for (_ <- 1 to iterations) {
      val contribs = e2.join(ranks, e2("src") === ranks("id"))
        .select(col("dst").as("id"), (col("rank") / col("deg")).as("c"))
        .groupBy("id").agg(sum(col("c")).as("c"))
        .localCheckpoint(eager = true)
      val lost = broadcast(contribs.agg((lit(1.0) - sum(col("c"))).as("lost")))
      ranks = vp.join(contribs, Seq("id"), "left").crossJoin(lost)
        .select(col("id"),
          (lit(1 - damping) * col("p") +
            lit(damping) * (coalesce(col("c"), lit(0.0)) + col("lost") * col("p"))).as("rank"))
    }
    e2.unpersist()
    ranks
  }

  /** C31: BATCH personalized PageRank — one INDEPENDENT PPR vector
    * per seed, all computed simultaneously in a single (seed, node)
    * keyed frame: the proximity-embedding / landmark-feature shape
    * ("how close is every node to EACH hub"), where C12 answers one
    * combined restart set. The state is kept SPARSE: rank rows exist
    * only where mass has arrived, so early rounds carry |seeds|·
    * (reached nodes), not |seeds|·|V|; per round one join against
    * the degree-pinned edges and one (seed, dst) aggregation —
    * exactly the C3 plan with a seed dimension riding the key, so
    * S seeds cost ~S× one PPR, never S sequential jobs. Restart
    * mass (1−d) and each seed's dangling loss return to the SEED
    * node (the standard PPR teleport), so each vector sums to 1. */
  def pageRankPersonalizedBatch(undirectedOrDirected: DataFrame, seeds: DataFrame,
      iterations: Int = 10, damping: Double = 0.85): DataFrame = {
    val e = undirectedOrDirected.select(col("u").as("src"), col("v").as("dst"))
      .localCheckpoint(eager = true)
    val e2 = pinBySrc(e.join(e.groupBy("src").agg(count(lit(1)).as("deg")), "src"))
    val s = seeds.select(col("id").as("seed")).distinct()
      .localCheckpoint(eager = true)
    var ranks = s.select(col("seed"), col("seed").as("id"), lit(1.0).as("rank"))
    for (_ <- 1 to iterations) {
      val contribs = e2.join(ranks, e2("src") === ranks("id"))
        .select(col("seed"), col("dst").as("id"), (col("rank") / col("deg")).as("c"))
        .groupBy("seed", "id").agg(sum(col("c")).as("c"))
        .localCheckpoint(eager = true)
      // per-seed dangling loss; a seed whose frontier died entirely
      // keeps full teleport mass (coalesce to 1)
      val lost = s.join(
          contribs.groupBy("seed").agg(sum(col("c")).as("sc")), Seq("seed"), "left")
        .select(col("seed"), (lit(1.0) - coalesce(col("sc"), lit(0.0))).as("lost"))
      val seedRows = lost.select(col("seed"), col("seed").as("id"),
        (lit(1 - damping) + lit(damping) * col("lost")).as("rank"))
      ranks = contribs
        .select(col("seed"), col("id"), (lit(damping) * col("c")).as("rank"))
        .unionByName(seedRows)
        .groupBy("seed", "id").agg(sum(col("rank")).as("rank"))
    }
    e2.unpersist()
    ranks
  }

  /** C10: HITS hubs & authorities over a DIRECTED edge list (u → v),
    * fixed iterations, sum-normalized after each half-step (scores are
    * scale-invariant, so Σ=1 normalization is as good as L2 and keeps
    * the oracle SQL a plain sum). Per half-step: one src/dst-keyed
    * aggregation plus the norm as an IN-PLAN broadcast scalar (the
    * pageRank dangling-mass idiom — no per-round driver action), with
    * the pre-normalization frame checkpointed because both the scalar
    * and the next join read it. Vertices missing a side score 0. */
  def hits(directed: DataFrame, iterations: Int,
      vertices: Option[DataFrame] = None): DataFrame = {
    val e = directed.select(col("u").as("src"), col("v").as("dst"))
      .localCheckpoint(eager = true)
    val verticesDf = vertices.getOrElse(
      e.select(col("src").as("id")).unionAll(e.select(col("dst").as("id")))
        .distinct().localCheckpoint(eager = true))
    // each half-step joins on a DIFFERENT key, so pin BOTH orientations
    // (the r8 pageRank move ×2): per half-step only the score table and
    // the post-join re-key move; the edge list itself never re-shuffles
    val eBySrc = e.repartition(col("src")).cache()
    val eByDst = e.repartition(col("dst")).cache()
    eBySrc.count(); eByDst.count()
    var hubs = verticesDf.select(col("id"), lit(1.0).as("h"))
    var auths = verticesDf.select(col("id"), lit(0.0).as("a"))
    for (_ <- 1 to iterations) {
      val a0 = eBySrc.join(hubs, eBySrc("src") === hubs("id"))
        .groupBy(col("dst")).agg(sum(col("h")).as("a"))
        .select(col("dst").as("id"), col("a"))
        .localCheckpoint(eager = true)
      val aNorm = broadcast(a0.agg(sum(col("a")).as("s")))
      auths = a0.crossJoin(aNorm).select(col("id"), (col("a") / col("s")).as("a"))
      val h0 = eByDst.join(auths, eByDst("dst") === auths("id"))
        .groupBy(col("src")).agg(sum(col("a")).as("h"))
        .select(col("src").as("id"), col("h"))
        .localCheckpoint(eager = true)
      val hNorm = broadcast(h0.agg(sum(col("h")).as("s")))
      hubs = h0.crossJoin(hNorm).select(col("id"), (col("h") / col("s")).as("h"))
    }
    // the final frame reads only verticesDf + the checkpointed last
    // half-steps, so the pinned caches can go now
    eBySrc.unpersist(); eByDst.unpersist()
    verticesDf.join(hubs, Seq("id"), "left").join(auths, Seq("id"), "left")
      .select(col("id"), coalesce(col("h"), lit(0.0)).as("hub"),
        coalesce(col("a"), lit(0.0)).as("auth"))
  }

  /** C13: modularity of a vertex partition over an undirected edge list
    * ((u, v) one orientation, deduped). Per community c:
    * Q_c = e_c/m − (d_c/2m)², where e_c counts intra-community edges,
    * d_c sums member degrees, m = |edges|. Three keyed aggregations +
    * two label joins — no iteration; every float is a fixed expression
    * over exact integers, so the oracle matches bit-for-bit before the
    * defensive round. The graph total Q is sum(q_contrib). */
  def modularity(undirected: DataFrame, labels: DataFrame): DataFrame = {
    val e0 = undirected.select(col("u"), col("v")).localCheckpoint(eager = true)
    val m = e0.count().toDouble
    val bi = e0.unionAll(e0.select(col("v").as("u"), col("u").as("v")))
    val deg = bi.groupBy(col("u").as("id")).agg(count(lit(1)).as("deg"))
    val lu = labels.select(col("id").as("u"), col("lbl").as("lbl_u"))
    val lv = labels.select(col("id").as("v"), col("lbl").as("lbl_v"))
    val eIn = e0.join(lu, "u").join(lv, "v")
      .filter(col("lbl_u") === col("lbl_v"))
      .groupBy(col("lbl_u").as("community")).agg(count(lit(1)).as("e_in"))
    val dSum = labels.join(deg, "id")
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("deg_sum"))
    val share = col("deg_sum").cast("double") / lit(2.0 * m)
    dSum.join(eIn, Seq("community"), "left")
      .select(col("community"), col("n_nodes"),
        coalesce(col("e_in"), lit(0L)).as("e_in"), col("deg_sum"),
        round(coalesce(col("e_in"), lit(0L)).cast("double") / m
          - share * share, 6).as("q_contrib"))
  }

  /** C14: degree assortativity (Pearson correlation of endpoint degrees
    * over the directed doubling of an undirected edge list) — positive
    * r: hubs attach to hubs; negative: hub-and-spoke. Every moment
    * (Σdu, Σdu², Σdu·dv) is an exact INTEGER sum, so the float result
    * is one fixed expression over exact inputs — bit-identical across
    * engines before the defensive round. Two joins against the degree
    * table + one global aggregate. */
  def assortativity(undirected: DataFrame): DataFrame = {
    val e0 = undirected.select(col("u"), col("v")).localCheckpoint(eager = true)
    val bi = e0.unionAll(e0.select(col("v").as("u"), col("u").as("v")))
    val deg = bi.groupBy(col("u").as("id")).agg(count(lit(1)).as("deg"))
    val sums = bi
      .join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
      .agg(count(lit(1)).as("m"), sum(col("du")).as("sx"),
        sum(col("du") * col("du")).as("sxx"),
        sum(col("du") * col("dv")).as("sxy"))
    val md = col("m").cast("double")
    val mu = col("sx").cast("double") / md
    val varD = col("sxx").cast("double") / md - mu * mu
    sums.select(col("m").as("m_directed"), col("sx"), col("sxx"), col("sxy"),
      round(when(varD === 0.0, lit(null))
        .otherwise((col("sxy").cast("double") / md - mu * mu) / varD), 6)
        .as("assortativity"))
  }

  /** C11: neighborhood-Jaccard link prediction over an undirected edge
    * list ((u, v) one orientation, deduped). Candidate pairs come from
    * the WEDGE join (pairs sharing ≥1 neighbor) — never all-pairs;
    * Jaccard = |N∩| / (deg_u + deg_v − |N∩|) with integer inputs, so
    * the double division is bit-identical across engines and the ≥
    * threshold cannot flip.
    *
    * `maxDegree` is the 100 TB super-node guard (opt-in, default off =
    * exact semantics): a degree-d hub serving as the shared neighbor
    * emits d² wedge rows — the classic quadratic blow-up on power-law
    * graphs. When capped, edges touching a vertex with deg > cap are
    * dropped BEFORE the wedge join, so hubs neither anchor wedges nor
    * appear in pairs: surviving pairs keep their TRUE degrees in the
    * denominator but forgo common-neighbor counts routed through
    * capped hubs (exact precision, bounded recall — the standard
    * trade). */
  def neighborJaccard(edges: DataFrame, minSim: Double,
      maxDegree: Option[Int] = None): DataFrame = {
    val e0 = edges.select(col("u"), col("v")).localCheckpoint(eager = true) // read 3×
    val und = e0.unionAll(e0.select(col("v").as("u"), col("u").as("v")))
    val deg = und.groupBy(col("u").as("id")).agg(count(lit(1)).as("deg"))
    val wedgeSrc = maxDegree match {
      case None => und
      case Some(cap) =>
        val keep = deg.filter(col("deg") <= cap)
        und.join(keep.select(col("id").as("u")), Seq("u"), "left_semi")
          .join(keep.select(col("id").as("v")), Seq("v"), "left_semi")
          .select("u", "v")
    }
    val wedges = wedgeSrc.select(col("u").as("x"), col("v").as("n"))
      .join(wedgeSrc.select(col("u").as("y"), col("v").as("n")), "n")
      .filter(col("x") < col("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("common"))
    val jac = col("common").cast("double") /
      (col("deg_x") + col("deg_y") - col("common"))
    wedges
      .join(deg.select(col("id").as("x"), col("deg").as("deg_x")), "x")
      .join(deg.select(col("id").as("y"), col("deg").as("deg_y")), "y")
      .filter(jac >= minSim)
      .select(col("x").as("u"), col("y").as("v"), col("common"),
        round(jac, 4).as("jaccard"))
  }

  /** C24: Adamic-Adar link prediction over an undirected canonical
    * edge set — AA(u, v) = Σ 1/ln(deg(w)) over common neighbors w of
    * a NON-adjacent candidate pair (the classic link-prediction
    * score: shared rare neighbors are strong evidence, shared hubs
    * weak). Same one-wedge-join shape as [[neighborJaccard]] — cost
    * O(Σ d(u)·d(v)), never all-pairs — with the per-neighbor
    * 1/ln(deg) weight joined INTO the wedge before the pair
    * aggregation (deg(w) ≥ 2 for any common neighbor, so ln is never
    * zero). `maxDegree` caps hub wedge fan-out exactly as in Jaccard
    * (at 100 TB a 10⁶-degree hub contributes 10¹² wedges and ~0 to
    * every score). The row set is pinned by the INTEGER common-count
    * threshold, not the float score — no rounding-tie class on the
    * filter; the score itself is the usual round-4 float-sum
    * contract (harmonic/betweenness precedent). */
  def adamicAdar(edges: DataFrame, minCommon: Long,
      maxDegree: Option[Int] = None): DataFrame = {
    val e0 = edges.select(col("u"), col("v")).localCheckpoint(eager = true)
    val und = e0.unionAll(e0.select(col("v").as("u"), col("u").as("v")))
    val deg = und.groupBy(col("u").as("id")).agg(count(lit(1)).as("deg"))
    val wedgeSrc = maxDegree match {
      case None => und
      case Some(cap) =>
        val keep = deg.filter(col("deg") <= cap)
        und.join(keep.select(col("id").as("u")), Seq("u"), "left_semi")
          .join(keep.select(col("id").as("v")), Seq("v"), "left_semi")
          .select("u", "v")
    }
    // deg ≥ 2 filter: a common neighbor has edges to both endpoints
    // so deg-1 vertices can never appear in a wedge — but they ARE in
    // the degree frame, and under ANSI mode 1/ln(1) throws before the
    // join would discard them
    val w = deg.filter(col("deg") > 1).select(col("id").as("n"),
      (lit(1.0) / log(col("deg").cast("double"))).as("aa_w"))
    val pairs = wedgeSrc.select(col("u").as("x"), col("v").as("n"))
      .join(wedgeSrc.select(col("u").as("y"), col("v").as("n")), "n")
      .filter(col("x") < col("y"))
      .join(w, "n")
      .groupBy("x", "y")
      .agg(count(lit(1)).as("common"), sum(col("aa_w")).as("aa"))
      .filter(col("common") >= minCommon)
    // link PREDICTION scores candidate pairs — drop existing edges.
    // Canonicalized here (least/greatest), NOT taken as given: the
    // candidate pairs are x<y, so a caller passing (u>v) edges would
    // otherwise see adjacent pairs survive into the prediction output
    pairs.join(e0.select(least(col("u"), col("v")).as("x"),
        greatest(col("u"), col("v")).as("y")),
        Seq("x", "y"), "left_anti")
      .select(col("x").as("u"), col("y").as("v"), col("common"),
        round(col("aa"), 4).as("adamic_adar"))
  }

  /** C17: k-truss decomposition by fixed-round support peeling — each
    * round counts every edge's triangle SUPPORT (the edge-level
    * cohesion measure k-core's vertex degrees can't see) via the
    * oriented wedge closure, then drops edges with support < k−2 and
    * their contribution to neighbors' support. Fixed `iterations`
    * (pick ≥ observed convergence depth) so the result is a
    * deterministic function both engines mirror, the kCore contract.
    * Input edges must be canonical (u < v, deduped); returns the
    * surviving edges with the support that justified the final keep
    * (== the converged truss support once rounds ≥ convergence).
    * Cost per round: one two-join triangle enumeration + a keyed
    * aggregation — O(Σ d(u)·d(v) over edges), never all-pairs. */
  def kTruss(canonical: DataFrame, k: Int, iterations: Int): DataFrame = {
    var result = canonical.select(col("u"), col("v")).localCheckpoint(eager = true)
      .withColumn("support", lit(0L))
    // drained-loop exit: a round that drops no edge recomputes the SAME
    // supports next round — an unchanged edge count is the convergence
    // certificate (round 1 compares against no edge count at all)
    superstep(iterations, -1L)(rowCount, _ == _) { (_, _) =>
      val e = result.select("u", "v")
      // triangles a<b<c over the current edge set
      val t = e.select(col("u").as("a"), col("v").as("b"))
        .join(e.select(col("u").as("b"), col("v").as("c")), "b")
        .join(e.select(col("u").as("a"), col("v").as("c")), Seq("a", "c"))
      val sup = t.select(col("a").as("u"), col("b").as("v"))
        .unionAll(t.select(col("b").as("u"), col("c").as("v")))
        .unionAll(t.select(col("a").as("u"), col("c").as("v")))
        .groupBy("u", "v").agg(count(lit(1)).as("support"))
      e.join(sup, Seq("u", "v"), "left")
        .select(col("u"), col("v"),
          coalesce(col("support"), lit(0L)).as("support"))
        .filter(col("support") >= k - 2)
    } { (next, _) => result = next }
    result
  }

  /** C18: deterministic random-walk corpus — the DeepWalk/node2vec
    * sampling pass that turns a graph into training sequences. Every
    * vertex starts one walk; at step i the next hop is neighbor number
    * md5(seed|src|i) mod deg(cur) (neighbors ranked by id), so the
    * "randomness" is a portable hash — reproducible across runs,
    * partitionings, and engines (the md5-everywhere rule; RNG walks
    * cannot be oracle-checked). One neighbor-rank table (window over
    * the doubled edge list) + one join per step; walk state is a
    * narrow (src, cur) frame. At 100 TB: walks shuffle on cur each
    * step — the same per-hop cost as BFS — and the output IS the
    * training corpus, written not collected. */
  def randomWalks(canonical: DataFrame, steps: Int,
      seed: String = "walk"): DataFrame = {
    val e0 = canonical.select(col("u"), col("v")).localCheckpoint(eager = true)
    val und = e0.unionAll(e0.select(col("v").as("u"), col("u").as("v")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("u").orderBy("v")
    val nbrs = und.withColumn("rn", row_number().over(w))
      .localCheckpoint(eager = true)
    val deg = nbrs.groupBy("u").agg(max(col("rn")).as("deg"))
    var cur = und.select(col("u").as("walk_src")).distinct()
      .select(col("walk_src"), col("walk_src").as("cur"))
      .localCheckpoint(eager = true)
    var acc = Vector(cur.select(col("walk_src"), lit(0).as("step"),
      col("cur").as("vertex")))
    for (i <- 1 to steps) {
      val k = conv(substring(md5(concat_ws("|", lit(seed),
        col("walk_src").cast("string"), lit(i.toString))), 1, 8), 16, 10)
        .cast("long") % col("deg") + 1
      val picked = cur.join(deg, cur("cur") === deg("u"))
        .select(col("walk_src"), col("cur"), k.as("k"))
      val n = nbrs.select(col("u").as("nu"), col("v"), col("rn"))
      // equi-join on (vertex, chosen rank): one neighbor row per walk,
      // never the full adjacency list per step
      cur = picked.join(n, picked("cur") === n("nu") && picked("k") === n("rn"))
        .select(col("walk_src"), col("v").as("cur"))
        .localCheckpoint(eager = true)
      acc :+= cur.select(col("walk_src"), lit(i).as("step"),
        col("cur").as("vertex"))
    }
    acc.reduce(_ unionAll _)
  }

  /** C32: node2vec SECOND-ORDER biased walks (Grover & Leskovec 2016)
    * — where C18's first-order walk picks uniformly, this one scores
    * every candidate by its distance from the PREVIOUS vertex:
    * return (cand = prev) carries weight 1/4, a common neighbor of
    * prev weight 1, anything else 1/2 (p = 4, q = 2 — the BFS-leaning
    * setting). The draw is deterministic weighted sampling by
    * exponential races (Efraimidis-Spirakis): u = md5-hash(walk, step,
    * cand) ∈ [0,1), argmax of u^(1/w) — and p/q are chosen so 1/w is
    * an INTEGER (4, 1, 2), making every score a pure multiplication
    * chain (u⁴/u/u²) that computes bit-identically in any engine; no
    * pow(), no RNG. Per step: one frontier×degree candidate expansion,
    * one edge-existence left join against the undirected edge frame,
    * one rank window partitioned by walk (J6-clean). That candidate
    * scoring is the honest node2vec cost — at 100 TB you bound it by
    * walk count, not by skipping the second-order term. */
  def node2vecWalks(canonical: DataFrame, steps: Int,
      seed: String = "n2v"): DataFrame = {
    val e0 = canonical.select(col("u"), col("v")).localCheckpoint(eager = true)
    val und = e0.unionAll(e0.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint(eager = true)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("u").orderBy("v")
    val nbrs = und.withColumn("rn", row_number().over(w))
      .localCheckpoint(eager = true)
    val deg = nbrs.groupBy("u").agg(max(col("rn")).as("deg"))
    val start = und.select(col("u").as("walk_src")).distinct()
      .select(col("walk_src"), col("walk_src").as("cur"))
    // step 1 has no prev: the C18 first-order hash-rank pick
    val k1 = conv(substring(md5(concat_ws("|", lit(seed),
      col("walk_src").cast("string"), lit("1"))), 1, 8), 16, 10)
      .cast("long") % col("deg") + 1
    var cur = start.join(deg, start("cur") === deg("u"))
      .select(col("walk_src"), col("cur"), k1.as("k"))
      .join(nbrs.select(col("u").as("nu"), col("v"), col("rn")),
        col("cur") === col("nu") && col("k") === col("rn"))
      .select(col("walk_src"), col("cur").as("prev"), col("v").as("cur"))
      .localCheckpoint(eager = true)
    var acc = Vector(
      start.select(col("walk_src"), lit(0).as("step"), col("cur").as("vertex")),
      cur.select(col("walk_src"), lit(1).as("step"), col("cur").as("vertex")))
    for (i <- 2 to steps) {
      val cands = cur.join(
        nbrs.select(col("u").as("cu"), col("v").as("cand")),
        col("cur") === col("cu")).drop("cu")
      val flagged = cands.join(
        und.select(col("u").as("pu"), col("v").as("pv")),
        col("prev") === col("pu") && col("cand") === col("pv"), "left")
      // u exact in a double (32 bits), /2^32 exact: score chains are
      // the only float ops and they are identical IEEE in any engine
      val u01 = conv(substring(md5(concat_ws("|", lit(seed),
        col("walk_src").cast("string"), lit(i.toString),
        col("cand").cast("string"))), 1, 8), 16, 10)
        .cast("double") / 4294967296.0
      val score = when(col("cand") === col("prev"), u01 * u01 * u01 * u01)
        .when(col("pv").isNotNull, u01)
        .otherwise(u01 * u01)
      val rw = org.apache.spark.sql.expressions.Window
        .partitionBy("walk_src").orderBy(col("_s").desc, col("cand"))
      cur = flagged.withColumn("_s", score)
        .withColumn("_r", row_number().over(rw)).filter(col("_r") === 1)
        .select(col("walk_src"), col("cur").as("prev"), col("cand").as("cur"))
        .localCheckpoint(eager = true)
      acc :+= cur.select(col("walk_src"), lit(i).as("step"),
        col("cur").as("vertex"))
    }
    acc.reduce(_ unionAll _)
  }

  /** C5: label propagation, synchronous, fixed iterations; each vertex
    * adopts the most frequent neighbor label, min label on ties. */
  def labelPropagation(undirected: DataFrame, iterations: Int = 5,
      vertices: Option[DataFrame] = None): DataFrame = {
    val one = undirected.select(col("u"), col("v")).localCheckpoint(eager = true)
    // v-hash-pinned doubled frame (the r8 pageRank move): the per-round
    // votes join moves only the label table
    val und = pin(one.unionAll(one.select(col("v").as("u"), col("u").as("v"))), "v")
    // caller-supplied vertex table skips the per-query union+distinct
    var labels = vertices.getOrElse(und.select(col("u").as("id")).distinct())
      .select(col("id")).withColumn("lbl", col("id"))
    for (i <- 1 to iterations) {
      val votes = und.join(labels, und("v") === labels("id"))
        .groupBy(col("u"), col("lbl")).agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("u").orderBy(col("n").desc, col("lbl"))
      labels = checkpointEvery(
        votes.withColumn("r", row_number().over(w)).filter(col("r") === 1)
          .select(col("u").as("id"), col("lbl")),
        i)
    }
    // materialize the (possibly lazy) last rounds before releasing the
    // pinned cache they read
    val out = labels.localCheckpoint(eager = true)
    und.unpersist()
    out
  }

  /** C19: local clustering coefficient — lcc(v) = 2·tri(v) /
    * (deg(v)·(deg(v)−1)) over oriented (u < v, deduped) edges: one
    * wedge-closure triangle enumeration credits each triangle's 3
    * corners, one degree aggregation, a left join. Exact integer
    * counts; the single float is a fixed expression both engines
    * evaluate identically. Vertices of degree < 2 report lcc 0.0. */
  def localClustering(oriented: DataFrame): DataFrame = {
    val e = oriented.select(col("u"), col("v"))
    val tri = e.select(col("u").as("x"), col("v").as("y"))
      .join(e.select(col("u").as("y"), col("v").as("z")), "y")
      .join(e.select(col("u").as("x"), col("v").as("z")), Seq("x", "z"))
    val tc = tri.select(col("x").as("id"))
      .unionAll(tri.select(col("y").as("id")))
      .unionAll(tri.select(col("z").as("id")))
      .groupBy("id").agg(count(lit(1)).as("n_tri"))
    val deg = e.select(col("u").as("id")).unionAll(e.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    deg.join(tc, Seq("id"), "left")
      .select(col("id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("deg") >= 2,
          round(lit(2.0) * coalesce(col("n_tri"), lit(0L))
            / (col("deg") * (col("deg") - 1)), 4))
          .otherwise(lit(0.0)).as("lcc"))
  }

  /** C5w: WEIGHTED label propagation — the C3w move applied to C5:
    * each vertex adopts the label with the largest SUM OF EDGE WEIGHTS
    * over its neighbors (min label on ties) instead of the largest
    * neighbor count. With integer weights (e.g. co-occurrence counts)
    * every vote is exact, so the fixed-iteration result is a
    * deterministic function any engine can mirror. Same shuffle shape
    * as the unweighted version: one join + one keyed agg + one tiny
    * rank window per round. */
  def labelPropagationWeighted(undirected: DataFrame, iterations: Int = 5,
      vertices: Option[DataFrame] = None): DataFrame = {
    val one = undirected.select(col("u"), col("v"), col("w"))
      .localCheckpoint(eager = true)
    val und = pin(
      one.unionAll(one.select(col("v").as("u"), col("u").as("v"), col("w"))), "v")
    var labels = vertices.getOrElse(und.select(col("u").as("id")).distinct())
      .select(col("id")).withColumn("lbl", col("id"))
    for (i <- 1 to iterations) {
      val votes = und.join(labels, und("v") === labels("id"))
        .groupBy(col("u"), col("lbl")).agg(sum(col("w")).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("u").orderBy(col("n").desc, col("lbl"))
      labels = checkpointEvery(
        votes.withColumn("r", row_number().over(w)).filter(col("r") === 1)
          .select(col("u").as("id"), col("lbl")),
        i)
    }
    val out = labels.localCheckpoint(eager = true)
    und.unpersist()
    out
  }

  /** C21: Louvain-style one-level community move (Blondel et al.
    * 2008, phase 1), spelled EXACT: every vertex simultaneously
    * adopts the candidate community c maximizing the modularity gain
    * — and because argmax(k_{u,c}/m − d_u·D_c/2m²) is invariant under
    * the positive affine map x → 2m·x·m, the comparison collapses to
    * the INTEGER score 2m·k_{u,c} − d_u·D_c^{−u} (weights are integer
    * co-order counts): no float enters the algorithm, so the R-round
    * result is a deterministic function any engine reproduces
    * bit-for-bit. Ties break to the smallest community id; the
    * current community is always a candidate (k = 0 when u has no
    * internal edge) and D excludes u from its own community (the
    * standard gain convention). Synchronous update + fixed rounds pin
    * the semantics (production Louvain is asynchronous multi-level;
    * this is the oracle-checkable one-sweep core).
    *
    * Scale shape per round: one und⋈comm join + three keyed
    * aggregations, all on vertex/community keys — O(E) rows, no
    * all-pairs; deg and 2m are computed once, 2m rides as an in-plan
    * broadcast scalar. Scores stay in long range while
    * 2m·max(k) < 2⁶³ (~10¹⁸ at 100 TB co-order counts — documented
    * headroom). */
  def louvainMove(undirected: DataFrame, iterations: Int): DataFrame = {
    val one = undirected.select(col("u"), col("v"), col("w"))
      .localCheckpoint(eager = true)
    val und = pin(
      one.unionAll(one.select(col("v").as("u"), col("u").as("v"), col("w"))), "v")
    val deg = und.groupBy(col("u").as("id")).agg(sum(col("w")).as("deg"))
      .localCheckpoint(eager = true)
    val twoM = broadcast(deg.agg(sum(col("deg")).as("two_m")))
    var comm = deg.select(col("id"), col("id").as("c"))
    for (i <- 1 to iterations) {
      val k = und.join(comm.select(col("id").as("vid"), col("c")),
          und("v") === col("vid"))
        .groupBy(und("u").as("id"), col("c")).agg(sum(col("w")).as("k"))
      val dC = comm.join(deg, "id").groupBy("c").agg(sum(col("deg")).as("d_c"))
      val cand = k
        .unionByName(comm.select(col("id"), col("c")).withColumn("k", lit(0L)))
        .groupBy("id", "c").agg(max(col("k")).as("k"))
      val scored = cand
        .join(dC, "c")
        .join(deg, "id")
        .join(comm.select(col("id"), col("c").as("cur")), "id")
        .crossJoin(twoM)
        .withColumn("d_adj",
          col("d_c") - when(col("c") === col("cur"), col("deg")).otherwise(lit(0L)))
        .withColumn("score", col("two_m") * col("k") - col("deg") * col("d_adj"))
      // argmax(score) with min-c ties as ONE hash aggregation:
      // min(struct(-score, c)) orders by -score asc (= score desc),
      // then c asc — identical to the row_number window it replaces,
      // but map-side combined and sort-free (the window's
      // partitionBy(id) sort was a full extra exchange per round)
      // checkpoint EVERY round: comm_{i-1} is referenced four times in
      // round i (k, d_C, the stay-candidate union, and cur) — without a
      // per-round cut the lineage inlines 4× per round (4^R plan copies
      // by round R, the r3 exponential-CTE lesson recurring in Spark);
      // comm is one narrow (id, c) row per vertex, so the cut is cheap
      comm = checkpointEvery(
        scored.groupBy("id")
          .agg(min(struct((-col("score")).as("ns"), col("c").as("c"))).as("b"))
          .select(col("id"), col("b.c").as("c")),
        i, every = 1)
    }
    val out = comm.select(col("id"), col("c").as("community"))
      .localCheckpoint(eager = true)
    und.unpersist()
    out
  }

  /** [[louvainMove]] behind the componentsGuarded discipline (r16):
    * when the (one-direction) edge list fits the driver guard, the
    * SAME integer-gain sweep runs in plain Scala — the distributed
    * rounds are ~5 joins + a checkpoint each, whose fixed per-job
    * overhead dominates on the few-thousand-edge condensed graphs of
    * louvainLevels (measured: louvain_multi 4.97 → the level-2/3
    * sweeps collapse to driver arithmetic). Results are identical BY
    * CONSTRUCTION: simultaneous update from comm_{i-1}, k(cur)
    * defaulting to 0, d_adj subtracting own degree, and the
    * argmax-with-min-c tie (the min(struct(-score, c)) order)
    * are mirrored term for term in the same Long arithmetic; the
    * doubled adjacency adds self-loops twice, exactly the
    * distributed symmetrization's contribution. Above the guard the
    * distributed sweep runs unchanged. One scalar count decides. */
  def louvainMoveGuarded(undirected: DataFrame, iterations: Int,
      localMax: Long = DriverMaxRows): DataFrame = {
    val one = undirected.select(col("u"), col("v"), col("w"))
      .localCheckpoint(eager = true)
    if (one.count() > localMax) louvainMove(one, iterations)
    else {
      val spark = one.sparkSession
      import spark.implicits._
      val edges = one.as[(Long, Long, Long)].collect()
      val adj = new scala.collection.mutable.HashMap[Long,
        scala.collection.mutable.ArrayBuffer[(Long, Long)]]()
      def addE(a: Long, b: Long, w: Long): Unit =
        adj.getOrElseUpdate(a,
          scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]) += ((b, w))
      edges.foreach { case (u, v, w) => addE(u, v, w); addE(v, u, w) }
      val deg: Map[Long, Long] =
        adj.iterator.map { case (id, ns) => id -> ns.iterator.map(_._2).sum }.toMap
      val twoM: Long = deg.valuesIterator.sum
      var comm: Map[Long, Long] = deg.keysIterator.map(id => id -> id).toMap
      for (_ <- 1 to iterations) {
        val dC = new scala.collection.mutable.HashMap[Long, Long]()
        comm.foreach { case (id, c) => dC(c) = dC.getOrElse(c, 0L) + deg(id) }
        val prev = comm
        comm = prev.map { case (id, cur) =>
          val k = new scala.collection.mutable.HashMap[Long, Long]()
          adj(id).foreach { case (nb, w) =>
            val c = prev(nb); k(c) = k.getOrElse(c, 0L) + w }
          var bestC = 0L; var bestS = Long.MinValue; var first = true
          ((k.keysIterator ++ Iterator.single(cur)).toSet.toSeq.sorted).foreach { c =>
            val kc = k.getOrElse(c, 0L)
            val dAdj = dC.getOrElse(c, 0L) - (if (c == cur) deg(id) else 0L)
            val s = twoM * kc - deg(id) * dAdj
            if (first || s > bestS) { bestS = s; bestC = c; first = false }
          }
          id -> bestC
        }
      }
      comm.toSeq.sortBy(_._1).toDF("id", "community")
    }
  }

  /** C21 level 2 — the condensation step that makes [[louvainMove]]
    * the real Blondel algorithm: level-1 communities become the
    * vertices of a SUPER-GRAPH whose edge weights are the exact
    * integer sums of inter-community weights (intra-community weight
    * becomes the community's self-loop; the symmetrization inside
    * louvainMove doubles self-loops, which is precisely the 2×
    * degree contribution modularity assigns internal edges — the
    * condensed 2m equals the original 2m, as Blondel requires), and
    * the same integer-gain sweep runs again over it. Output maps
    * every original vertex to (its level-1 community, its final
    * level-2 community). The condensation is one 3-way join + one
    * keyed aggregation — O(E) — and the level-2 sweep runs on a
    * community-scale graph, so the whole second level costs less
    * than one level-1 round at any corpus size. */
  def louvainTwoLevel(undirected: DataFrame, iterations: Int,
      level1: Option[DataFrame] = None): DataFrame = {
    val edges = undirected.select(col("u"), col("v"), col("w"))
      .localCheckpoint(eager = true)
    // level 1 can come from a persisted store table (the F16
    // once-per-corpus discipline) — same (id, community) frame
    val c1 = level1.getOrElse(
      louvainMoveGuarded(edges, iterations).localCheckpoint(eager = true))
    val cm = c1.select(col("id"), col("community"))
    val sup = edges
      .join(cm.select(col("id").as("u"), col("community").as("cu")), "u")
      .join(cm.select(col("id").as("v"), col("community").as("cv")), "v")
      .select(least(col("cu"), col("cv")).as("u"),
        greatest(col("cu"), col("cv")).as("v"), col("w"))
      .groupBy("u", "v").agg(sum(col("w")).as("w"))
    val c2 = louvainMoveGuarded(sup, iterations)
    cm.select(col("id"), col("community").as("community_l1"))
      .join(c2.select(col("id").as("community_l1"),
        col("community")), "community_l1")
      .select(col("id"), col("community_l1"), col("community"))
  }

  /** C21 full fixed-depth multi-level loop — [[louvainTwoLevel]]
    * generalized: condense, re-sweep, repeat for `levels` levels
    * (Blondel's outer loop with a fixed depth instead of a
    * convergence test, so the result stays a deterministic function
    * both engines reproduce). Output is LONG format: one (id, level,
    * community) row per vertex per level — the dendrogram a
    * hierarchy consumer reads directly. Each level's sweep runs on a
    * graph no larger than the previous level's community count, so
    * total cost is level-1-dominated at any corpus size. */
  def louvainLevels(undirected: DataFrame, iterations: Int,
      levels: Int, level1: Option[DataFrame] = None): DataFrame = {
    require(levels >= 1, "levels must be >= 1")
    var curEdges = undirected.select(col("u"), col("v"), col("w"))
      .localCheckpoint(eager = true)
    var sweep = level1.map(_.select(col("id"), col("community"))).getOrElse(
      louvainMoveGuarded(curEdges, iterations)
        .select(col("id"), col("community")).localCheckpoint(eager = true))
    var global = sweep
    var out = global.select(col("id"), lit(1).as("level"), col("community"))
    for (l <- 2 to levels) {
      val cond = curEdges
        .join(sweep.select(col("id").as("u"), col("community").as("cu")), "u")
        .join(sweep.select(col("id").as("v"), col("community").as("cv")), "v")
        .select(least(col("cu"), col("cv")).as("u"),
          greatest(col("cu"), col("cv")).as("v"), col("w"))
        .groupBy("u", "v").agg(sum(col("w")).as("w"))
        .localCheckpoint(eager = true)
      val s = louvainMoveGuarded(cond, iterations)
        .select(col("id"), col("community")).localCheckpoint(eager = true)
      global = global.select(col("id"), col("community").as("_prev"))
        .join(s.select(col("id").as("_prev"), col("community")), "_prev")
        .select(col("id"), col("community")).localCheckpoint(eager = true)
      out = out.unionAll(global.select(col("id"), lit(l).as("level"),
        col("community")))
      curEdges = cond
      sweep = s
    }
    out
  }

  /** C22: R-bounded longest-path layering of a DIRECTED graph — the
    * topological depth audit for a DAG-shaped KG (every FK-derived
    * schema is one: B14 measured zero reciprocal edges on this
    * corpus): level(v) = longest edge path ending at v, exact for all
    * paths of ≤ `iterations` edges; a cycle cannot run away — its
    * members simply saturate at the round bound, which is the
    * CYCLE-DETECTION signal (any vertex at level == iterations sits
    * on or downstream of a path ≥ R, on a schema whose legal depth is
    * known to be < R: an extraction bug). Per round: one edge⋈level
    * join + one map-side-combined max aggregation, O(E), the
    * Bellman-Ford shape with (max, +1) instead of (min, +w). */
  def dagLayers(directed: DataFrame, iterations: Int): DataFrame = {
    // pinned, not checkpointed: the edge list is loop-invariant and the
    // big side — a u-hash cached layout means each round's frontier
    // join needs no edge-side exchange; a checkpoint would erase the
    // partitioning and re-exchange O(E) keys every round
    val e = pin(directed.select(col("u"), col("v")), "u")
    // Frontier form of the (max,+1) recurrence: a level can only ever
    // rise to exactly the current round number (round-i candidates are
    // frontier.level+1 where the frontier rose to i-1 in round i-1), so
    //   f_0 = V,  f_i = distinct { v : (u,v) ∈ E, u ∈ f_{i-1} }
    //   level(v) = max { i ≤ R : v ∈ f_i }
    // — each round touches only edges OUT of the shrinking frontier
    // (vertices with an incoming path of length i), not all of E, and
    // the full |V|-row level frame is aggregated ONCE at the end
    // instead of merged per round. Cycles keep their members in every
    // frontier, so they still saturate at level == iterations — the
    // cycle-detection signal is unchanged. (Replaced the per-round
    // union+max over all of E: 7.3 s → frontier rounds at sf0.1.)
    val all = e.select(col("u").as("id")).unionAll(e.select(col("v").as("id")))
      .distinct().localCheckpoint(eager = true)
    var frontier = all.withColumn("level", lit(0))
    // guarded frontier broadcast (the SCC move, r10): with the edge
    // side u-pinned and the frontier broadcast, the hop join moves
    // NOTHING — the per-round distinct is the only shuffle left; the
    // count also buys the early exit (an empty frontier means every
    // remaining round is a no-op, so levels are already final)
    val n0 = all.count()
    var acc = frontier
    superstep(if (n0 == 0) 0 else iterations, n0)(rowCount, drained) { (i, nF) =>
      val f = if (nF < SccBroadcastRows) broadcast(frontier.select(col("id")))
              else frontier.select(col("id"))
      e.join(f, e("u") === col("id"))
        .select(e("v").as("id")).distinct().withColumn("level", lit(i))
    } { (next, nF) =>
      frontier = next
      if (nF > 0) acc = acc.unionAll(next)
    }
    val out = acc.groupBy("id").agg(max(col("level")).as("level"))
      .localCheckpoint(eager = true)
    e.unpersist()
    out
  }

  /** C23 core: R-round min-label closure along edge direction —
    * f(u) = min id reachable FROM u in ≤ R edges (including u itself),
    * the forward half of SCC coloring. Delta form of the Bellman-Ford
    * recurrence f_i(u) = min(f_{i-1}(u), min_{(u,v)∈E} f_{i-1}(v)):
    * a vertex whose min did not drop last round has nothing new to
    * offer its in-neighbors (its previous drop already propagated the
    * round it happened), so each round joins edges only against the
    * SHRINKING dropped-set — identical per-round values to the full
    * recurrence, which is what the generated oracle mirrors. Exact
    * closure when R ≥ graph diameter. Expects (u, v) edges; returns
    * (id, m). */
  def minLabelClosure(directed: DataFrame, rounds: Int): DataFrame = {
    val e = pin(directed.select(col("u"), col("v")), "v")
    var f = e.select(col("u").as("id")).unionAll(e.select(col("v").as("id")))
      .distinct().withColumn("m", col("id"))
      .localCheckpoint(eager = true)
    var changed = f
    for (_ <- 1 to rounds) {
      val cand = e.join(changed, e("v") === changed("id"))
        .groupBy(e("u").as("id")).agg(min(col("m")).as("cm"))
      // one frame carries both outputs of the round (new mins + the
      // dropped flag) so the checkpoint is computed once per round
      val merged = f.join(cand, Seq("id"), "left")
        .select(col("id"), least(col("m"), coalesce(col("cm"), col("m"))).as("m"),
          (coalesce(col("cm"), col("m")) < col("m")).as("dropped"))
        .localCheckpoint(eager = true)
      f = merged.select(col("id"), col("m"))
      changed = merged.filter(col("dropped")).select(col("id"), col("m"))
    }
    e.unpersist()
    f
  }

  /** Frontier rows below which sccColoring broadcasts the frontier
    * side of its per-round joins: ~16 MB of (long, int) hashed
    * relation — comfortably executor-resident, while a 10⁹-vertex
    * round-1 frontier stays on the shuffle path. */
  val SccBroadcastRows = 1000000L

  /** Both SCC-coloring closures in ONE loop: returns (id, fwd_min,
    * bwd_min) ≡ minLabelClosure(E) ⋈ minLabelClosure(Eᵀ) (spec-pinned
    * equivalence), but the per-round state is a single frame so each
    * round pays one lineage-cut materialization instead of two, and
    * the loop exits early once BOTH delta frontiers are empty — the
    * recurrence is at its fixed point and every remaining round is a
    * provable no-op, so the early exit is value-identical to the full
    * R rounds the oracle runs.
    *
    * `labels`, when given, is a (id, lbl) frame covering every edge
    * endpoint: the closure then propagates `lbl` instead of the id
    * itself — the driver passes dictionary RANKS here so the loop
    * moves fixed-width ints while remaining order-isomorphic to the
    * string min the oracle computes. */
  def sccColoring(directed: DataFrame, rounds: Int,
      labels: Option[DataFrame] = None,
      pinEdges: Boolean = true): DataFrame = {
    // r11 merged fwd/bwd pass: each directed edge (u, v) carries BOTH
    // closure messages —
    //   fwd_min(u) ← fwd_min(v)   (recv = u, send = v, fw = true)
    //   bwd_min(v) ← bwd_min(u)   (recv = v, send = u, fw = false)
    // — so the doubled-and-tagged frame below lets every round run ONE
    // edge scan + ONE frontier join + ONE two-sided min aggregate +
    // ONE merge join where the r10 form ran two of each. Per-round
    // values are unchanged (the same two Bellman-Ford min recurrences,
    // just co-scheduled), which GraphSpec's closure-equivalence pin
    // re-proves. The explode generates both tagged rows from a single
    // pass over the edge table instead of a two-scan union.
    val e2raw = directed.select(explode(array(
        struct(col("u").as("recv"), col("v").as("send"), lit(true).as("fw")),
        struct(col("v").as("recv"), col("u").as("send"), lit(false).as("fw"))))
        .as("x"))
      .select(col("x.recv").as("recv"), col("x.send").as("send"),
        col("x.fw").as("fw"))
    // pinEdges=false when the caller passes a bucketed store table:
    // small frontiers broadcast (the guard below), so the edge side
    // never moves at all, and a repartition+cache would only add a
    // full-edge exchange of pure overhead
    val e2 = if (pinEdges) pin(e2raw, "send") else e2raw
    val st0 = (labels match {
      case Some(l) =>
        l.select(col("id"), col("lbl").as("fwd_min"), col("lbl").as("bwd_min"))
      case None =>
        directed.select(col("u").as("id"))
          .unionAll(directed.select(col("v").as("id")))
          .distinct()
          .select(col("id"), col("id").as("fwd_min"), col("id").as("bwd_min"))
    }).localCheckpoint(eager = true)
    // the round state carries the per-side dropped flags the next
    // round's frontier filters on; round 1's frontier is EVERY vertex
    // on both sides — a 2|V|-row SELECT over the checkpointed state (no
    // further checkpoint needed: re-scanning a checkpoint is cheap),
    // and ONE count guards its broadcast
    var merged = st0.select(col("*"), lit(true).as("fd"), lit(true).as("bd"))
    val n0 = st0.count()
    // coalesce: sum over an EMPTY frame is null, and getLong would
    // NPE — an empty edge/label input must exit cleanly instead
    def changes(df: DataFrame): (Long, Long) = {
      val cnt = df.agg(
        coalesce(sum(col("fd").cast("long")), lit(0L)).as("nf"),
        coalesce(sum(col("bd").cast("long")), lit(0L)).as("nb")).collect().head
      (cnt.getLong(0), cnt.getLong(1))
    }
    // frontier broadcast is decided EXPLICITLY from exact row counts:
    // AQE alone can't save the edge side here — both shuffle stages of
    // the SMJ are submitted concurrently, so by the time the
    // materialized frontier proves tiny the edge exchange has already
    // run. A driver-side guard (rows < SccBroadcastRows) broadcasts
    // small frontiers statically — zero edge movement per round — and
    // degrades to the shuffle join exactly when a frontier is big
    // enough that broadcasting it would hurt (the 10⁹-vertex case).
    // BOTH counts come from the round's ONE aggregate over the
    // checkpointed frame, and the frontier frames themselves are plain
    // filters over that checkpoint — re-scanned cheaply at use, no
    // per-frontier checkpoint jobs (r10: 5 driver actions per round
    // cut to 2, r20: to 1)
    superstep(rounds, (n0, n0))(changes, (_, c) => c == ((0L, 0L))) { (_, c) =>
      val fwdLeg = merged.filter(col("fd")).select(col("id").as("sid"),
        col("fwd_min").as("m"), lit(true).as("sfw"))
      val bwdLeg = merged.filter(col("bd")).select(col("id").as("sid"),
        col("bwd_min").as("m"), lit(false).as("sfw"))
      val n = c._1 + c._2
      val ch = if (n > 0 && n < SccBroadcastRows) broadcast(fwdLeg.unionAll(bwdLeg))
               else fwdLeg.unionAll(bwdLeg)
      val cand = e2.join(ch,
          e2("send") === col("sid") && e2("fw") === col("sfw"))
        .groupBy(e2("recv").as("id"))
        .agg(min(when(col("sfw"), col("m"))).as("cf"),
          min(when(!col("sfw"), col("m"))).as("cb"))
      merged.select(col("id"), col("fwd_min"), col("bwd_min"))
        .join(cand, Seq("id"), "left")
        .select(col("id"),
          least(col("fwd_min"), coalesce(col("cf"), col("fwd_min"))).as("fwd_min"),
          least(col("bwd_min"), coalesce(col("cb"), col("bwd_min"))).as("bwd_min"),
          (coalesce(col("cf"), col("fwd_min")) < col("fwd_min")).as("fd"),
          (coalesce(col("cb"), col("bwd_min")) < col("bwd_min")).as("bd"))
    } { (next, _) => merged = next }
    if (pinEdges) e2.unpersist()
    merged.select(col("id"), col("fwd_min"), col("bwd_min"))
  }

  /** C25: neighborhood function N(r) = Σ_v |B(v, r)| — the HyperBall
    * question (Boldi/Rosa/Vigna: "HyperANF") answered two ways in one
    * frame, the sim_ann_recall verification convention:
    *  - EXACT face: dense-bitmap BFS — vertices get contiguous ranks
    *    via [[rankedAsc]], each vertex carries its reached set as
    *    Spark bitmap_* 4 KB bucket bitmaps, and a round is one
    *    edges⋈bitmaps join + bitmap_or_agg (map-side-combining
    *    byte-OR). |B(r)| = Σ bitmap_count, exactly. O(V²/8) total
    *    state — the verification-only face (at 100 TB per-vertex
    *    DENSE sets are the thing you cannot hold; r11: this replaced
    *    a distinct-pair closure whose Σ|B|·deg expansion re-walked
    *    hub fan-outs, 16.6 s → the bitmap spelling moves fixed-width
    *    pages like the sketch face, ~3 s);
    *  - SKETCH face (the 100 TB path): one 2^lgK-register HLL PER
    *    VERTEX, each round unioning every neighbor's sketch —
    *    B_{r+1}(v) = B_r(v) ∪ ⋃_{(v,w)∈E} B_r(w) — so per-round
    *    state is V fixed-width sketches and the shuffle moves
    *    sketches, never ball members. Insertion and union are
    *    register-max operations: order-independent, deterministic,
    *    so the accuracy flag below is stable across runs.
    * Emits one row per radius 0..rounds: (radius, n_pairs exact,
    * est_ok = |Σ estimates − n_pairs| ≤ tolBps). The estimate itself
    * is NOT emitted (an engine-specific register layout has no
    * cross-engine oracle — the I22 HLL convention); the flag pins it
    * within tolerance of the exact count the oracle reproduces. */
  def neighborhoodFunction(und: DataFrame, rounds: Int,
      lgK: Int = 12, tolBps: Int = 500): DataFrame = {
    val e = und.select(col("u"), col("v")).localCheckpoint(eager = true)
    val verts = e.select(col("u").as("id")).distinct()
      .localCheckpoint(eager = true)
    // exact face: contiguous 1-based ranks → each reached set is a
    // (bucket, 4 KB bitmap) pair; a vertex's ball is at most
    // ceil(V/32768) such pages, updated by byte-OR
    val idx = rankedAsc(verts, "id", "idx").localCheckpoint(eager = true)
    val eIdx = e
      .join(idx.select(col("id").as("u"), col("idx").as("uidx")), "u")
      .join(idx.select(col("id").as("v"), col("idx").as("vidx")), "v")
      .select(col("uidx"), col("vidx"))
      .localCheckpoint(eager = true)
    var reach = idx.select(col("idx").as("src"),
        expr("bitmap_bucket_number(idx)").as("bucket"),
        expr("bitmap_bit_position(idx)").as("_pos"))
      .groupBy("src", "bucket")
      .agg(expr("bitmap_construct_agg(_pos)").as("bm"))
      .localCheckpoint(eager = true)
    var sk = verts.groupBy(col("id"))
      .agg(hll_sketch_agg(col("id"), lit(lgK)).as("sketch"))
      .localCheckpoint(eager = true)
    def radiusRow(r: Int, reached: DataFrame, s: DataFrame): DataFrame = {
      val exact = reached.agg(sum(expr("bitmap_count(bm)")).as("n_pairs"))
      val est = s.agg(sum(hll_sketch_estimate(col("sketch"))).as("est"))
      exact.crossJoin(est).select(lit(r).as("radius"), col("n_pairs"),
        (abs(col("est") - col("n_pairs")) * 10000 <=
          col("n_pairs") * tolBps).cast("int").as("est_ok"))
    }
    var out = radiusRow(0, reach, sk)
    for (r <- 1 to rounds) {
      // B_{r+1}(v) = B_r(v) ∪ ⋃_{(v,w)∈E} B_r(w) — the SAME recurrence
      // both faces run; only the set representation differs
      reach = reach.unionAll(
          eIdx.join(reach, eIdx("uidx") === reach("src"))
            .select(eIdx("vidx").as("src"), col("bucket"), col("bm")))
        .groupBy("src", "bucket")
        .agg(expr("bitmap_or_agg(bm)").as("bm"))
        .localCheckpoint(eager = true)
      sk = sk.unionAll(
          e.join(sk, e("u") === col("id"))
            .select(e("v").as("id"), col("sketch")))
        .groupBy(col("id"))
        .agg(hll_union_agg(col("sketch")).as("sketch"))
        .localCheckpoint(eager = true)
      out = out.unionAll(radiusRow(r, reach, sk))
    }
    // no unpersist: e and the per-round frames are localCheckpoints
    // (block-manager RDDs released by GC), not CacheManager entries —
    // an unpersist() here would be a no-op that reads like cleanup
    out
  }

  /** C8: k-core by fixed-round peeling — each round drops vertices
    * whose degree over the REMAINING edges is < k, then their incident
    * edges. Fixed `iterations` (not a convergence test) so the result
    * is a deterministic function both engines can mirror; pick rounds
    * ≥ observed convergence depth for the target graph. Returns
    * (id, deg): degrees over the surviving edge set. Each round is one
    * map-side-combined degree aggregation + two semi-joins keyed on the
    * vertex id — O(E) per round, no all-pairs anywhere. */
  def kCore(undirected: DataFrame, k: Int, iterations: Int): DataFrame = {
    def degrees(e: DataFrame): DataFrame =
      e.select(col("u").as("id")).unionAll(e.select(col("v").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg"))
    // NOTE deliberately NOT a drained loop: the A/B (r16) measured the
    // per-round checkpoint + emptiness action COSTLIER than the lazy
    // every-2-rounds pipeline on this graph (1.87 → 2.19 s) — the k<k
    // set here stays non-empty until late, so the drain never pays.
    // onion/kTruss keep the drain because their schedules run past
    // convergence by construction.
    var e = undirected.select(col("u"), col("v")).localCheckpoint(eager = true)
    for (i <- 1 to iterations) {
      val keep = degrees(e).filter(col("deg") >= k).select(col("id"))
      e = checkpointEvery(
        e.join(keep.withColumnRenamed("id", "u"), Seq("u"), "left_semi")
          .join(keep.withColumnRenamed("id", "v"), Seq("v"), "left_semi")
          .select(col("u"), col("v")),
        i, every = 2)
    }
    degrees(e)
  }

  /** C38: onion decomposition (r13) — coreness WITH peel-layer
    * indices (Hébert-Dufresne et al.'s refinement of the k-core): the
    * peel runs stages k = 1..kMax of `roundsPerK` rounds each; a
    * vertex removed in stage k carries coreness k−1 and the GLOBAL
    * round index as its onion layer (how deep into the peeling it
    * survived — the centrality signal coreness alone collapses:
    * two vertices of equal coreness can sit at very different depths
    * of their shell). Stage-kMax survivors carry coreness kMax and
    * layer kMax·roundsPerK+1.
    *
    * Vertices are tracked EXPLICITLY (zero-filled left join against
    * the remaining vertex set) — a vertex whose last edge vanishes
    * mid-stage must still be dropped WITH a layer, which the
    * edge-derived degree frame alone would silently lose. Fixed
    * (k, rounds) schedule, so the result is a deterministic function
    * both engines mirror (the kCore contract); GraphSpec pins that
    * the coreness-kMax set equals [[kCore]]'s independent fixpoint.
    * Per round: one map-side-combined degree agg + two semi-joins —
    * O(E) per round; the emitted frame is O(V) total. */
  def onion(undirected: DataFrame, kMax: Int, roundsPerK: Int,
      kMin: Int = 1): DataFrame = {
    def degreesOf(e: DataFrame): DataFrame =
      e.select(col("u").as("id")).unionAll(e.select(col("v").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg"))
    var e = undirected.select(col("u"), col("v")).localCheckpoint(eager = true)
    var verts = degreesOf(e).select(col("id")).localCheckpoint(eager = true)
    var out = verts.filter(lit(false))
      .select(col("id"), lit(0).as("coreness"), lit(0).as("layer"))
    // callers may start at kMin = 2: on an edge-derived vertex set the
    // k = 1 stage is a PROVABLE no-op (every present vertex has deg ≥ 1
    // and nothing is removed to orphan one), so its rounds are pure
    // barrier cost; coreness semantics are unchanged (nobody can carry
    // coreness < kMin − 1)
    // ONE superstep runs the whole (k, r) schedule, so the rounds
    // report covers every stage; per round the measure is the count of
    // vertices below k, read in the job that materializes the degrees
    var k = kMin
    var r = 1
    superstep((kMax - kMin + 1) * roundsPerK, 0L)(
        _.filter(col("deg") < k).count(), (_, _) => k > kMax) { (_, _) =>
      verts.join(degreesOf(e), Seq("id"), "left")
        .select(col("id"), coalesce(col("deg"), lit(0L)).as("deg"))
    } { (deg, dropped) =>
      if (dropped == 0) {
        // degrees are unchanged for the rest of this stage — rounds
        // r+1..roundsPerK provably drop nothing (the MIS/coloring
        // drained-loop idiom): skip their barriers; the output is
        // identical by construction because empty rounds CONTRIBUTE
        // nothing and survivor/later layers are schedule literals
        k += 1
        r = 1
      } else {
        // layer indices are SCHEDULE-fixed, not execution-fixed, so a
        // drained stage's skipped rounds change nothing downstream
        val layer = (k - kMin) * roundsPerK + r
        // out stays un-checkpointed: each dropped frame is a filter of
        // ITS round's checkpointed deg, so the union's lineage is
        // already flat and O(V) total
        out = out.unionAll(deg.filter(col("deg") < k)
          .select(col("id"), lit(k - 1).as("coreness"), lit(layer).as("layer")))
        verts = deg.filter(col("deg") >= k).select(col("id"))
        e = checkpointEvery(
          e.join(verts.withColumnRenamed("id", "u"), Seq("u"), "left_semi")
            .join(verts.withColumnRenamed("id", "v"), Seq("v"), "left_semi")
            .select(col("u"), col("v")), layer, every = 2)
        if (r == roundsPerK) { k += 1; r = 1 } else r += 1
      }
    }
    out.unionAll(verts.select(col("id"), lit(kMax).as("coreness"),
      lit((kMax - kMin + 1) * roundsPerK + 1).as("layer")))
  }

  /** C9: single-source shortest paths (weighted), Bellman-Ford with
    * fixed rounds: dist_i(v) = min(dist_{i-1}(v), min_u(dist_{i-1}(u) +
    * w(u,v))). Fixed rounds make the result a deterministic function
    * another engine can mirror; distances after round i are exact for
    * all paths of ≤ i edges. Cross-engine float safety: every candidate
    * distance is built by the SAME association order (inductively
    * identical doubles), and min over a set of identical doubles is
    * order-independent — so no rounding is needed for agreement.
    * One edges⋈dist join + one min-aggregation per round; dist is a
    * narrow (id, d) frame, checkpointed so lineage stays flat. */
  def sssp(weighted: DataFrame, source: Any, iterations: Int): DataFrame =
    ssspFrom(weighted,
      weighted.sparkSession.range(1).select(lit(source).as("id")), iterations)

  /** C27: Borůvka minimum spanning forest — THE classic
    * cluster-parallel MST algorithm (every component picks its
    * lightest outgoing edge simultaneously; components at least halve
    * per round, so O(log V) rounds regardless of graph size — the
    * property that makes it the distributed choice over inherently
    * sequential Prim/Kruskal). Input (u, v, w) canonical u < v,
    * deduped; edges are totally ordered by struct(w, u, v), which
    * makes every pick — and therefore the whole forest — unique and
    * deterministic even under weight ties.
    *
    * Per round: one edges⋈labels join marks cross-component edges,
    * one min-struct aggregation picks each component's edge, the
    * picked edges' COMPONENT pairs feed the existing star-contraction
    * [[connectedComponents]] (itself O(log C)) to merge labels. The
    * full edge table never moves after its one checkpoint; per-round
    * shuffles carry only the |V|-row label frame and the ≤ C picked
    * edges. One scalar driver action per round (the emptiness guard).
    * Returns the forest as (u, v, w): |V| − #components rows. */
  def boruvkaMsf(weighted: DataFrame, maxRounds: Int = 16): DataFrame = {
    val e0 = weighted.select(col("u"), col("v"), col("w"))
      .localCheckpoint(eager = true)
    val vertices = e0.select(col("u").as("id"))
      .unionAll(e0.select(col("v").as("id"))).distinct()
    // labels ride as strings from round 0 so the guarded local merge
    // and the distributed CC fallback produce one consistent type
    var comp = vertices.select(col("id"), col("id").cast("string").as("c"))
      .localCheckpoint(eager = true)
    var forest: DataFrame = null
    // a round that picks no edge is the fixed point
    superstep(maxRounds, 0L)(rowCount, drained) { (_, _) =>
      val ce = e0
        .join(comp.select(col("id").as("u"), col("c").as("cu")), "u")
        .join(comp.select(col("id").as("v"), col("c").as("cv")), "v")
        .filter(col("cu") =!= col("cv"))
      val pick = struct(col("w"), col("u"), col("v"),
        col("cu"), col("cv"))
      ce.select(col("cu").as("c"), pick.as("e"))
        .unionAll(ce.select(col("cv").as("c"), pick.as("e")))
        .groupBy("c").agg(min(col("e")).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"), col("e.w").as("w"),
          col("e.cu").as("cu"), col("e.cv").as("cv"))
        .distinct()
    } { (chosen, nChosen) =>
      if (nChosen > 0) {
        val picked = chosen.select(col("u"), col("v"), col("w"))
        // r20: the forest union needs no per-round checkpoint — each
        // leg is a narrow select over ITS round's checkpointed picks,
        // so the union's lineage is already flat and ≤ |V| rows total
        forest =
          if (forest == null) picked
          else forest.unionAll(picked)
        // Label merge: chosen has ONE row per component (≤ C rows,
        // C halving per round) — metadata-scale almost immediately.
        // Below the guard, union-find the component pairs on the
        // driver and broadcast the label map (the SCC guarded-
        // broadcast idiom: the driver holds per-COMPONENT rows, never
        // per-vertex/per-edge data); the nested distributed CC —
        // ~10 jobs per Borůvka round, pure fixed overhead at this
        // size (r11, measured: 12.7 s → 5 s) — remains the fallback
        // for a first round on a graph with ≥ millions of components.
        val merged: DataFrame =
          if (nChosen <= DriverMaxRows) {
            val labels = minLabelComponents(chosen.select(col("cu"), col("cv"))
              .collect().toSeq.map(r => (r.getString(0), r.getString(1))))(sparkStringOrder)
            import e0.sparkSession.implicits._
            broadcast(labels.toDF("c_str", "component"))
          } else {
            connectedComponents(chosen.select(col("cu").as("u"), col("cv").as("v")))
              .select(col("id").as("c_str"), col("component"))
          }
        comp = comp
          .join(merged, comp("c") === merged("c_str"), "left")
          .select(col("id"), coalesce(col("component"), col("c")).as("c"))
          .localCheckpoint(eager = true)
      }
    }
    if (forest == null) e0.limit(0) else forest
  }

  /** C9 with the seed supplied as a ONE-ROW frame (column `id`) — the
    * in-plan variant (r7 advice): a derived seed (e.g. the min vertex
    * key) rides as part of the first round's plan instead of a driver
    * `first()` action, matching the PageRank family's zero-pre-plan-
    * actions convention. */
  def ssspFrom(weighted: DataFrame, seed: DataFrame, iterations: Int): DataFrame = {
    // NOT pinned (the bfsHashed trade-off, not the pageRank one): dist
    // is checkpointed per round so AQE sees its size and broadcasts it
    // while small — no edge shuffle per round and no upfront
    // repartition; a pin only pays when the frontier outgrows broadcast
    val und = weighted.select(col("u"), col("v"), col("w"))
      .unionAll(weighted.select(col("v").as("u"), col("u").as("v"), col("w")))
      .localCheckpoint(eager = true)
    var dist = seed.select(col("id"), lit(0.0).as("d"))
    for (i <- 1 to iterations) {
      val cand = und.join(dist, und("u") === dist("id"))
        .select(col("v").as("id"), (col("d") + col("w")).as("d"))
      dist = dist.unionAll(cand)
        .groupBy("id").agg(min(col("d")).as("d"))
        .localCheckpoint(eager = true)
    }
    dist
  }

  /** C6/C7: BFS / k-hop expansion from a seed vertex over undirected
    * edges; returns (id, depth = min hops ≤ maxHops). One join per
    * hop; the frontier is the only shuffled frame. */
  def bfs(undirected: DataFrame, seed: String, maxHops: Int): DataFrame = {
    // traverse on xxhash64 vertex ids — long-keyed shuffles/joins are
    // several times cheaper than long-string keys; the (hash → id)
    // dictionary maps depths back at the end (64-bit collisions are
    // negligible at any realistic vertex count)
    // checkpoint the hashed one-direction frame FIRST (a
    // unionAll(x, x.swap) over a lazy frame would evaluate the whole
    // upstream pipeline twice), and keep it NARROW — two longs per
    // edge; the string-keyed dictionary is re-derived lazily from the
    // caller frame and only evaluated once, inside the final mapping
    // join (r4: checkpointing the strings too was half the bfs cost)
    val one = undirected
      .select(xxhash64(col("u")).as("u"), xxhash64(col("v")).as("v"))
      .localCheckpoint(eager = true)
    val dict = undirected.select(col("u").as("id"))
      .unionAll(undirected.select(col("v").as("id")))
      .distinct().select(xxhash64(col("id")).as("h"), col("id"))
    bfsHashed(one, dict, seed, maxHops)
  }

  /** BFS over a PRE-HASHED one-direction edge frame (u, v: xxhash64 of
    * the string vertex ids) plus a (h, id) dictionary — the store-table
    * entry point (r5): when both frames are persisted bucketed parquet
    * the per-query cost is the hop joins only, not the corpus-scale
    * hash/distinct derivation. */
  /** C15 support: MULTI-source BFS — one traversal loop carries every
    * seed's frontier as (src, vertex) pairs, so K landmark traversals
    * cost one loop instead of K (the landmark-centrality shape; at
    * scale the frontier is K× wider but the edge frame is scanned the
    * same number of times). Emits (src, id, depth) min-hop rows. */
  def multiSourceBfs(one: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    val und = one.select(col("u"), col("v"))
      .unionAll(one.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint(eager = true)
    multiSourceBfsOn(und, seeds, maxHops)
  }

  /** multiSourceBfs over an ALREADY-doubled (and ideally checkpointed)
    * edge frame — lets callers that need the doubled frame themselves
    * (betweenness' σ/δ passes) materialize it once. */
  def multiSourceBfsOn(und: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    var visited = seeds.select(col("id").as("src"), col("id").as("h"),
      lit(0).as("depth")).localCheckpoint(eager = true)
    var frontier = visited
    for (d <- 1 to maxHops) {
      val next = und.join(frontier, und("u") === frontier("h"))
        .select(col("src"), col("v").as("h")).distinct()
        .join(visited, Seq("src", "h"), "left_anti")
        .withColumn("depth", lit(d))
        .localCheckpoint(eager = true)
      visited = visited.unionAll(next)
      frontier = next
    }
    visited.select(col("src"), col("h").as("id"), col("depth"))
  }

  /** C15: harmonic centrality from K landmark sources — Σ 1/d(v, s)
    * over the landmarks that reach v (the scalable stand-in for exact
    * closeness, which needs all-pairs BFS). Depths are exact ints, so
    * each 1/d term is bit-identical cross-engine; the ≤K-term sum is
    * rounded. */
  def harmonicFromLandmarks(one: DataFrame, seeds: DataFrame,
      maxHops: Int): DataFrame =
    multiSourceBfs(one, seeds, maxHops)
      .filter(col("depth") > 0)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_reached"),
        round(sum(lit(1.0) / col("depth")), 4).as("harmonic"))

  /** C16: approximate betweenness centrality — Brandes' algorithm from
    * K sampled sources, truncated at maxHops (bounded-radius Brandes:
    * the scalable stand-in for exact betweenness, which needs all-pairs
    * BFS; sampling sources is the standard estimator, Brandes & Pich
    * 2007). Three level-synchronous passes over the SAME doubled edge
    * frame:
    *   1. multi-source BFS → exact int depths (one loop for all K);
    *   2. forward σ: σ(s,v) = Σ σ(s,u) over predecessors u at
    *      depth(v)−1 — path counts stay exact LONGS, so both engines
    *      agree bit-for-bit;
    *   3. backward δ: δ(s,v) = Σ_w σ(s,v)/σ(s,w) · (1 + δ(s,w)) over
    *      successors w — one edges⋈level join per depth, never
    *      all-pairs.
    * Betweenness(v) = Σ_s δ(s,v), rounded 4 (the δ sums are the one
    * order-sensitive float reduction, same contract as harmonic). */
  def betweennessFromLandmarks(one: DataFrame, seeds: DataFrame,
      maxHops: Int): DataFrame = {
    val und = one.select(col("u"), col("v"))
      .unionAll(one.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint(eager = true)
    val dep = multiSourceBfsOn(und, seeds, maxHops).localCheckpoint(eager = true)
    // forward: σ per level (σ(s, s) = 1)
    var sigmaLevels = Vector(
      dep.filter(col("depth") === 0).select(col("src"), col("id"), lit(1L).as("sigma")))
    for (d <- 1 to maxHops) {
      val prev = sigmaLevels.last
      val next = und.join(prev, und("u") === prev("id"))
        .select(col("src"), col("v").as("id"), col("sigma"))
        .join(dep.filter(col("depth") === d).select("src", "id"),
          Seq("src", "id"), "left_semi")
        .groupBy("src", "id").agg(sum(col("sigma")).as("sigma"))
        .localCheckpoint(eager = true)
      sigmaLevels :+= next
    }
    // backward: δ = 0 at the radius boundary, then one level join per
    // depth; vertices without successors get no row at their level and
    // contribute δ = 0 upward via the LEFT join + coalesce
    var deltaLevel = sigmaLevels(maxHops)
      .select(col("src"), col("id"), lit(0.0).as("delta"))
    var acc = Vector(deltaLevel)
    for (d <- maxHops - 1 to 1 by -1) {
      val succ = sigmaLevels(d + 1)
        .select(col("src"), col("id").as("w"), col("sigma").as("sigma_w"))
        .join(deltaLevel.select(col("src"), col("id").as("w"), col("delta").as("delta_w")),
          Seq("src", "w"), "left")
        .select(col("src"), col("w"), col("sigma_w"),
          coalesce(col("delta_w"), lit(0.0)).as("delta_w"))
      deltaLevel = und.select(col("u").as("id"), col("v").as("w"))
        .join(succ, Seq("w"))
        .join(sigmaLevels(d), Seq("src", "id"))
        .groupBy("src", "id")
        .agg(sum(col("sigma").cast("double") / col("sigma_w")
          * (lit(1.0) + col("delta_w"))).as("delta"))
        .localCheckpoint(eager = true)
      acc :+= deltaLevel
    }
    acc.reduce(_ unionAll _)
      .groupBy("id")
      .agg(round(sum(col("delta")), 4).as("betweenness"))
  }

  def bfsHashed(one: DataFrame, dict: DataFrame, seed: String,
      maxHops: Int): DataFrame = {
    // materialize the doubled edge frame ONCE: every hop joins it, and
    // an unbuffered union re-scans the source (twice) per hop; two
    // longs per edge keeps the checkpoint narrow (the r4 lesson)
    val und = one
      .unionAll(one.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint(eager = true)
    bfsHashedOn(und, dict, seed, maxHops)
  }

  /** BFS loop over an ALREADY-doubled hashed edge frame — the bucketed
    * store-table entry point (the graph_bfs store persists both
    * directions bucketed on u, so there is no per-query doubling
    * checkpoint at all). Two scale moves per hop (r8 verdict #6):
    *  - frontier and visited-key sets are broadcast under the
    *    [[SccBroadcastRows]] driver guard (exact counts are free — the
    *    frontier was just checkpointed), so neither the hop join nor
    *    the anti-join ever moves the edge frame;
    *  - candidates are pruned against the broadcast visited set
    *    BEFORE the dedup: the prune is map-side, so the per-hop
    *    distinct shuffles only the not-yet-visited candidates — on
    *    late hops almost every candidate is already visited, which is
    *    exactly where the old dedup-first order paid the full
    *    candidate multiset. Wide-graph fallback keeps the old order
    *    (dedup first, then shuffle anti-join) so an explosive hop
    *    degrades to two bounded shuffles rather than an OOM. */
  def bfsHashedOn(und: DataFrame, dict: DataFrame, seed: String,
      maxHops: Int): DataFrame = {
    val spark = und.sparkSession
    import spark.implicits._
    val seedHash = spark.range(1)
      .select(xxhash64(lit(seed))).first().getLong(0)
    var visited = Seq((seedHash, 0)).toDF("h", "depth")
    // visited KEY set, kept separately so the anti-join broadcast
    // ships one long per vertex, not the depth column too
    var visitedKeys = visited.select(col("h"))
    var nVisited = 1L
    var frontier = visited
    var nFrontier = 1L
    for (d <- 1 to maxHops) {
      val f = if (nFrontier < SccBroadcastRows) broadcast(frontier)
              else frontier
      val cand = und.join(f, und("u") === f("h")).select(col("v").as("h"))
      val fresh =
        if (nVisited < SccBroadcastRows)
          cand.join(broadcast(visitedKeys), Seq("h"), "left_anti").distinct()
        else
          cand.distinct().join(visitedKeys, Seq("h"), "left_anti")
      val next = fresh.withColumn("depth", lit(d))
        .localCheckpoint(eager = true)
      nFrontier = next.count()
      nVisited += nFrontier
      visited = visited.unionAll(next)
      visitedKeys = visitedKeys.unionAll(next.select(col("h")))
      frontier = next
    }
    // seed may be absent from the edge list; keep its row regardless
    visited.join(dict, Seq("h"), "left")
      .select(coalesce(col("id"), when(col("h") === seedHash, lit(seed))).as("id"),
        col("depth"))
  }
}
