package graft.sim

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions

/** Driver-facing similarity queries (SURVEY §2 F1-F2) with generated
  * DuckDB oracles; the hyperplane matrix is computed once in Scala and
  * embedded literally in BOTH the Spark plan and the oracle SQL.
  */
object SimQueries {

  val K = 5
  val NumQueries = 10      // query set: vec_id < 10
  val NumTables = 8        // LSH tables (union of candidates)
  val PlanesPerTable = 3
  val Dims = 64
  lazy val Tables64: Seq[Seq[Seq[Int]]] =
    Similarity.planeSigns(NumTables * PlanesPerTable, Dims)
      .grouped(PlanesPerTable).toSeq

  /** (Dims+1)-wide planes for the MIPS norm-augmentation reduction. */
  lazy val Tables65: Seq[Seq[Seq[Int]]] =
    Similarity.planeSigns(NumTables * PlanesPerTable, Dims + 1)
      .grouped(PlanesPerTable).toSeq

  def simTopkBrute(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.bruteTopK(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < NumQueries), K)
  }

  /** Persisted (id, t, bucket) LSH table for this (session, dir) —
    * built once; ann and recall read it instead of recomputing the 24
    * bucket dots over the corpus per query (the dedup signature-store
    * pattern applied to the sim family). */
  private def storedLshBuckets(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import graft.store.GraftStore
    spark.table(GraftStore.ensureBucketed(
      spark, s"graft_lshb_${GraftStore.dirKey(dir)}", 32, Seq("bucket")) {
      Similarity.lshBucketsOf(Tables.embeddings(spark, dir),
        "vec_id", "embedding", Tables64)
    })
  }

  /** Persisted F16 k-NN graph for this (session, dir) — built ONCE via
    * the LSH face and read by every consumer (beam search, the beam and
    * k-NN recall dials): at 100 TB the graph build is once-per-corpus,
    * exactly like the F2 bucket store it builds from; re-running the
    * bucket self-join + exact rescoring per consuming query was 4 of
    * the 8 slowest r12 bench plans. Bucketed by src_id so the beam's
    * per-hop frontier join shuffles only the metadata-scale frontier. */
  def knnGraphTable(spark: SparkSession, dir: String): String = {
    import graft.store.GraftStore
    GraftStore.ensureBucketed(spark, s"graft_knng_${GraftStore.dirKey(dir)}",
      32, Seq("src_id")) {
      knnGraphLshPlan(spark, dir)
    }
  }

  private[sim] def storedKnnGraph(spark: SparkSession, dir: String): DataFrame =
    spark.table(knnGraphTable(spark, dir))

  /** Bench hook: pay the one-time bucket/graph-table builds outside
    * timings. */
  def warmStores(spark: SparkSession, dir: String): Unit = {
    storedLshBuckets(spark, dir)
    storedKnnGraph(spark, dir)
    hnswL1Table(spark, dir)
    hnswL2Table(spark, dir); ()
  }

  def simAnnLsh(spark: SparkSession, dir: String): DataFrame =
    Similarity.annLshFromBuckets(Tables.embeddings(spark, dir), "vec_id",
      "embedding", storedLshBuckets(spark, dir), col("id") < NumQueries, K)

  /** F28/I60: near-dup admission threshold — an incoming vector whose
    * nearest indexed neighbor scores at or above this is evidence-
    * flagged instead of admitted. 0.45 sits inside the corpus's
    * top-1 spread (the null cosine tail reaches ≈ 0.49 at sf0.01) so
    * BOTH row classes fire on real data; the spec additionally pins
    * both classes on constructed vectors. */
  val AdmitTau = 0.45

  /** F29: the F28 admission face's quality dial (the F5 pattern, the
    * r20 plan item pulled forward): per incoming vector, the banded
    * top-1 against the EXACT top-1 over the same index (brute force
    * over the bounded query slice — quadratic only in queries ×
    * index, the sim_topk_brute class), with BOTH agreement readings:
    * top1_match (did banding find the true nearest neighbor) and
    * verdict_match (did the ADMIT decision agree at τ — the
    * operational number: a banded miss that still lands on the right
    * side of τ costs nothing). */
  def simAnnAdmitRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val banded = simAnnAdmit(spark, dir)
    val exact = Similarity.bruteTopK(
      emb.filter(col("vec_id") >= NumQueries), "vec_id", "embedding",
      emb.filter(col("vec_id") < NumQueries), 1)
      .select(col("q_id").as("vec_id"), col("n_id").as("exact_nn"),
        col("cos").as("exact_cos"))
    banded.join(exact, Seq("vec_id"), "left")
      .select(col("vec_id"), col("nn_id"), col("nn_cos"),
        col("exact_nn"), col("exact_cos"),
        // null nn_id (no banding candidate) counts as a miss, matching
        // the oracle's CASE fall-through
        coalesce((col("nn_id") === col("exact_nn")).cast("int"), lit(0))
          .as("top1_match"),
        (col("admitted") ===
          (col("exact_cos").isNull || col("exact_cos") < AdmitTau).cast("int"))
          .cast("int").as("verdict_match"))
  }

  /** F28 driver face: ANN admission — the query slice plays the
    * incoming micro-batch, the REST of the corpus is the frozen
    * banded index (the same persisted bucket table every F-family
    * consumer reads). One row per incoming vector: top-1 neighbor
    * evidence + the admit verdict; null evidence when no bucket
    * collides. */
  def simAnnAdmit(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.annAdmitAgainst(
      emb.filter(col("vec_id") < NumQueries), "vec_id", "embedding",
      storedLshBuckets(spark, dir).filter(col("id") >= NumQueries),
      emb.filter(col("vec_id") >= NumQueries),
      AdmitTau, Tables64)
  }

  val NCentroids = 8
  val NProbe = 2

  def simIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.ivfSearch(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < NumQueries), K, NCentroids, NProbe)
  }

  /** F22: beam width and hop budget for the graph search. */
  val BeamWidth = 4
  val BeamHops = 4

  /** F22: greedy BEAM SEARCH over the F16 k-NN graph — the
    * HNSW-layer primitive: start at a fixed entry vertex (min id —
    * deterministic; HNSW's top layer plays this role), expand the
    * current beam's graph neighbors, score ONLY new vertices against
    * the query, keep the best [[BeamWidth]] as the next beam,
    * [[BeamHops]] hops; answer = top-k among everything scored. Work
    * is O(hops·beam·k) score evaluations per query — INDEPENDENT of
    * corpus size once the graph exists, which is the entire point of
    * graph-based ANN; the recall face measures what that buys at
    * this graph's connectivity. Per-hop frames are (queries×beam·k)
    * rows — metadata-scale; the only corpus-scale work happened when
    * F16 built the graph. */
  /** The shared greedy beam loop: expand `entry` (one or more seed
    * vertices per q_id) over graph `g`, `hops` hops keeping the best
    * `width` NEW vertices as each next frontier; returns everything
    * scored as (q_id, n_id, cos). Per-hop frames are metadata-scale
    * (queries × width·k rows), checkpointed eagerly to keep the plan
    * linear in hops. */
  private def beamVisited(spark: SparkSession, emb: DataFrame,
      g: DataFrame, entry: DataFrame, width: Int, hops: Int): DataFrame = {
    val q = broadcast(emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv")))
    val nvs = emb.select(col("vec_id").as("n_id"), col("embedding").as("nv"))
    val cos = VectorFunctions.cosineSim(spark, col("qv"), col("nv"))
    def score(cand: DataFrame): DataFrame =
      cand.join(nvs, "n_id").join(q, "q_id")
        .withColumn("cos", cos).select("q_id", "n_id", "cos")
    // ONE eager checkpoint per hop (the scored frontier); visited is a
    // lazy union of the checkpointed hop frames — each is ≤ queries ×
    // width·k rows, so re-unioning is free while keeping the loop at
    // one eager job per hop (job-launch latency dominates this
    // metadata-scale loop; a fully lazy spelling re-executes the
    // shared hop subplans combinatorially)
    val hopFrames = scala.collection.mutable.ArrayBuffer(
      score(entry.select("q_id", "n_id")).localCheckpoint(eager = true))
    def visited: DataFrame = hopFrames.reduce(_ unionAll _)
    var frontier = hopFrames.head
    for (_ <- 1 to hops) {
      val nb = frontier.select(col("q_id"), col("n_id").as("src_id"))
        .join(g, "src_id")
        .select(col("q_id"), col("nbr_id").as("n_id")).distinct()
      val fresh = nb.join(visited, Seq("q_id", "n_id"), "left_anti")
      val scored = score(fresh).localCheckpoint(eager = true)
      frontier = scored.withColumn("_r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("n_id"))))
        .filter(col("_r") <= width).drop("_r")
      hopFrames += scored
    }
    visited
  }

  /** Final top-k presentation over a beam's visited set. */
  private def beamTopK(visited: DataFrame): DataFrame =
    visited.filter(col("q_id") =!= col("n_id"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("n_id"))))
      .filter(col("rnk") <= K)
      .select(col("q_id"), col("n_id"), round(col("cos"), 4).as("cos"),
        col("rnk"))

  def simBeam(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    // parquet-backed stored graph: no checkpoint needed, and every hop
    // re-reads a 2-column pruned scan instead of re-running the build
    val g = storedKnnGraph(spark, dir).select(col("src_id"), col("nbr_id"))
    val entry = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"))
      .crossJoin(emb.agg(min(col("vec_id")).as("n_id")))
    beamTopK(beamVisited(spark, emb, g, entry, BeamWidth, BeamHops))
  }

  /** Materialize the exact-truth (brute) frame on one [[graft.Overlap]]
    * thread while the caller's beam chain executes its inherently
    * sequential hop checkpoints on another (r20: the two subtrees are
    * independent, so the brute job back-fills the idle cores the hop
    * jobs leave; previously the brute subtree evaluated INSIDE the
    * final join's job, after the whole chain had finished).
    * Deterministic: both frames are unchanged, only their
    * materialization overlaps. */
  private def exactOverlapped(spark: SparkSession, dir: String)
      (chain: => DataFrame): (DataFrame, DataFrame) = {
    val Seq(exact, h) = graft.Overlap(spark)(Seq(
      () => simTopkBrute(spark, dir).select(col("q_id"), col("n_id"))
        .localCheckpoint(eager = true),
      () => chain))
    (exact, h)
  }

  /** F22 recall dial vs exact cosine — what beam search over THIS
    * graph's connectivity actually buys. */
  def simBeamRecall(spark: SparkSession, dir: String): DataFrame = {
    val (exact, beam) = exactOverlapped(spark, dir)(
      simBeam(spark, dir).select(col("q_id"), col("n_id")))
    val hits = beam.join(exact, Seq("q_id", "n_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("hits"))
    exact.select("q_id").distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)).cast("double") / K, 4).as("recall"))
  }

  /** F23 (HNSW): 1/[[HnswMod]] of vertices promote to layer 1 —
    * deterministic md5 hash-range membership (the G5 discipline), the
    * oracle-checkable stand-in for HNSW's geometric level draw. */
  val HnswMod = 8
  /** Layer-1 beam dials: the top layer is ~n/8 vertices with the same
    * degree, so a narrow beam suffices to land NEAR the query before
    * the layer-0 beam takes over. */
  val HnswTopWidth = 2
  val HnswTopHops = 3

  private def hnswL1Member(c: org.apache.spark.sql.Column) =
    conv(substring(md5(concat(lit("hnsw|"), c)), 1, 8), 16, 10)
      .cast("long") % HnswMod === 0

  /** F23 third layer: 1/[[Hnsw2Mod]] of vertices promote to layer 2 —
    * the SAME hash, a multiple modulus, so layer 2 ⊆ layer 1 (the
    * nested-layer property real HNSW gets from its geometric draw). */
  val Hnsw2Mod = 64
  val Hnsw2Width = 2
  val Hnsw2Hops = 2

  private def hnswL2Member(c: org.apache.spark.sql.Column) =
    conv(substring(md5(concat(lit("hnsw|"), c)), 1, 8), 16, 10)
      .cast("long") % Hnsw2Mod === 0

  /** The member-restricted k-NN graph build shared by the HNSW
    * layers: LSH bucket collisions with BOTH endpoints in the layer,
    * exact top-[[KnnK]] per source. */
  private def restrictedKnnPlan(spark: SparkSession, dir: String,
      member: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val m = emb.filter(member(col("vec_id"))).select(col("vec_id"))
    val b = storedLshBuckets(spark, dir)
      .join(m.select(col("vec_id").as("id")), "id")
    val cand = b.join(
      b.select(col("id").as("nid"), col("t"), col("bucket")), Seq("t", "bucket"))
      .filter(col("id") =!= col("nid"))
      .select(col("id").as("src_id"), col("nid").as("nbr_id")).distinct()
    val cos = VectorFunctions.cosineSim(spark, col("sv"), col("nv"))
    cand
      .join(emb.select(col("vec_id").as("src_id"), col("embedding").as("sv")),
        "src_id")
      .join(emb.select(col("vec_id").as("nbr_id"), col("embedding").as("nv")),
        "nbr_id")
      .withColumn("cos", cos)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("src_id")
          .orderBy(col("cos").desc, col("nbr_id"))))
      .filter(col("rnk") <= KnnK)
      .select(col("src_id"), col("nbr_id"), round(col("cos"), 4).as("cos"),
        col("rnk"))
  }

  /** Persisted LAYER-1 k-NN graph (~1/64 of the candidate pairs;
    * once-per-corpus like the rest of the store family). */
  def hnswL1Table(spark: SparkSession, dir: String): String = {
    import graft.store.GraftStore
    GraftStore.ensureBucketed(spark, s"graft_knng1_${GraftStore.dirKey(dir)}",
      32, Seq("src_id")) {
      restrictedKnnPlan(spark, dir, hnswL1Member)
    }
  }

  /** Persisted LAYER-2 k-NN graph (community of ~n/64 vertices; empty
    * at tiny SFs — the search entry falls back to layer 1). */
  def hnswL2Table(spark: SparkSession, dir: String): String = {
    import graft.store.GraftStore
    GraftStore.ensureBucketed(spark, s"graft_knng2_${GraftStore.dirKey(dir)}",
      32, Seq("src_id")) {
      restrictedKnnPlan(spark, dir, hnswL2Member)
    }
  }

  /** F23: HNSW-style two-layer search — the hierarchy that fixes the
    * flat beam's corpus-corner bias: a narrow beam over the LAYER-1
    * graph (md5-promoted subset, global min-member entry) finds a
    * PER-QUERY entry vertex, and the layer-0 beam ([[simBeam]]'s
    * loop, same dials) starts there instead of at the fixed min-id
    * corner. Both graphs are stored tables; search work stays
    * O(hops·width·k) per query, independent of corpus size — exactly
    * the HNSW promise, with every stage deterministic and
    * oracle-checkable via per-hop materialized CTEs. */
  def simHnsw(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val g1 = spark.table(hnswL1Table(spark, dir))
      .select(col("src_id"), col("nbr_id"))
    val g0 = storedKnnGraph(spark, dir).select(col("src_id"), col("nbr_id"))
    val qIds = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"))
    val entry1 = qIds.crossJoin(
      emb.filter(hnswL1Member(col("vec_id")))
        .agg(min(col("vec_id")).as("n_id")))
    val top = beamVisited(spark, emb, g1, entry1, HnswTopWidth, HnswTopHops)
    // per-query entry for layer 0 = the best vertex the top layer saw
    val entry0 = top.withColumn("_r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("n_id"))))
      .filter(col("_r") === 1).select("q_id", "n_id")
    beamTopK(beamVisited(spark, emb, g0, entry0, BeamWidth, BeamHops))
  }

  /** The per-query best vertex a beam phase saw — the entry the next
    * layer down starts from. */
  private def bestPerQuery(visited: DataFrame): DataFrame =
    visited.withColumn("_r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("n_id"))))
      .filter(col("_r") === 1).select("q_id", "n_id")

  /** F23 full hierarchy: THREE layers — a narrow beam over the ~n/64
    * layer-2 graph finds a per-query entry for the layer-1 beam,
    * which finds the entry for the layer-0 beam. The global entry is
    * the min layer-2 member, falling back to the min layer-1 member
    * when the tiny-SF layer is empty (coalesce — deterministic both
    * engines). Search work stays O(Σ hops·width·k) per query at any
    * corpus size; each extra layer divides the distance the widest
    * (layer-0) beam must cover — AT CORPUS SCALE. The recall dial
    * measures what the extra layer costs at oracle scale instead
    * (0.12 vs the 2-layer 0.26 at sf0.01: an n/64 layer over a few
    * hundred vectors is 8 disconnected points, so its "best" entry
    * is worse than the corpus-corner start) — the F18/F20 discipline
    * of exposing the trade-off as a measured number; the 2-layer
    * face is the operating point at these SFs. */
  def simHnsw3(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val g2 = spark.table(hnswL2Table(spark, dir))
      .select(col("src_id"), col("nbr_id"))
    val g1 = spark.table(hnswL1Table(spark, dir))
      .select(col("src_id"), col("nbr_id"))
    val g0 = storedKnnGraph(spark, dir).select(col("src_id"), col("nbr_id"))
    val qIds = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"))
    val e2 = emb.filter(hnswL2Member(col("vec_id")))
      .agg(min(col("vec_id")).as("m2"))
    val e1 = emb.filter(hnswL1Member(col("vec_id")))
      .agg(min(col("vec_id")).as("m1"))
    val entry2 = qIds.crossJoin(e2).crossJoin(e1)
      .select(col("q_id"), coalesce(col("m2"), col("m1")).as("n_id"))
    val top2 = beamVisited(spark, emb, g2, entry2, Hnsw2Width, Hnsw2Hops)
    val top1 = beamVisited(spark, emb, g1, bestPerQuery(top2),
      HnswTopWidth, HnswTopHops)
    beamTopK(beamVisited(spark, emb, g0, bestPerQuery(top1),
      BeamWidth, BeamHops))
  }

  /** F23 three-layer recall dial — same truth as the other dials. */
  def simHnsw3Recall(spark: SparkSession, dir: String): DataFrame = {
    val (exact, h) = exactOverlapped(spark, dir)(
      simHnsw3(spark, dir).select(col("q_id"), col("n_id")))
    val hits = h.join(exact, Seq("q_id", "n_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("hits"))
    exact.select("q_id").distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)).cast("double") / K, 4).as("recall"))
  }

  /** F23 recall dial vs exact cosine — measured against the same
    * truth as [[simBeamRecall]], so the two dials are directly
    * comparable (SimilaritySpec pins hnsw ≥ flat beam). */
  def simHnswRecall(spark: SparkSession, dir: String): DataFrame = {
    val (exact, h) = exactOverlapped(spark, dir)(
      simHnsw(spark, dir).select(col("q_id"), col("n_id")))
    val hits = h.join(exact, Seq("q_id", "n_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("hits"))
    exact.select("q_id").distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)).cast("double") / K, 4).as("recall"))
  }

  /** F25: beam widths the recall sweep measures. */
  val BeamSweepWidths: Seq[Int] = Seq(2, 4, 8)

  /** F25: recall-vs-beam-width curve — the tuning face for the F22
    * graph search (the F18 nprobe-sweep discipline applied to the
    * beam): one recall row per (width, query) against exact cosine,
    * all widths reading the SAME stored k-NN graph, so the sweep
    * prices the latency/recall dial before a deployment picks its
    * point. */
  def simBeamSweep(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val g = storedKnnGraph(spark, dir).select(col("src_id"), col("nbr_id"))
    val brute = simTopkBrute(spark, dir).select(col("q_id"), col("n_id"))
      .localCheckpoint(eager = true)
    val qs = brute.select("q_id").distinct()
    val entry = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"))
      .crossJoin(emb.agg(min(col("vec_id")).as("n_id")))
    // the widths are INDEPENDENT sweeps over the same stored graph —
    // run their hop loops (each a chain of driver-blocking eager
    // checkpoints) from [[graft.Overlap]]'s pool so one width's job
    // tail back-fills the others' scheduling gaps; the result union
    // keeps the original deterministic width order, so output rows are
    // unchanged
    graft.Overlap(spark)(BeamSweepWidths.map { wd => () =>
      val beam = beamTopK(beamVisited(spark, emb, g, entry, wd, BeamHops))
        .select("q_id", "n_id")
      val hits = beam.join(brute, Seq("q_id", "n_id"), "left_semi")
        .groupBy("q_id").agg(count(lit(1)).as("hits"))
      qs.join(hits, Seq("q_id"), "left")
        .select(lit(wd).as("beam_width"), col("q_id"),
          coalesce(col("hits"), lit(0L)).as("hits"),
          round(coalesce(col("hits"), lit(0L)).cast("double") / K, 4)
            .as("recall"))
    }).reduce(_ unionAll _)
  }

  /** F24: MMR selection depth and candidate-pool width. */
  val MmrK = 5
  val MmrCand = 8

  /** F24: Maximal Marginal Relevance diversity re-rank — the
    * retrieval-side curation primitive (a RAG context window filled
    * with 5 near-duplicates wastes 4 slots): from each query's
    * exact top-[[MmrCand]] candidates, iteratively pick the item
    * maximizing relevance − max-similarity-to-already-picked (the
    * λ=1/2 MMR objective, which is affine-equivalent to qsim − pen,
    * so the argmax is identical). All frames are metadata-scale
    * (queries × candidates²); every pick is deterministic (score
    * desc, id asc) and the oracle replays the same [[MmrK]]
    * iterations as materialized CTEs. */
  def simMmr(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wq = Window.partitionBy("q_id")
    val emb = Tables.embeddings(spark, dir)
    val q = broadcast(emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv")))
    val n = emb.select(col("vec_id").as("n_id"), col("embedding").as("nv"))
    val cand = n.crossJoin(q).filter(col("q_id") =!= col("n_id"))
      .withColumn("qsim", VectorFunctions.cosineSim(spark, col("qv"), col("nv")))
      .withColumn("_r", row_number().over(
        wq.orderBy(col("qsim").desc, col("n_id"))))
      .filter(col("_r") <= MmrCand).select("q_id", "n_id", "qsim")
      .localCheckpoint(eager = true)
    val ce = cand.join(
      emb.select(col("vec_id").as("n_id"), col("embedding").as("e")), "n_id")
    val pair = ce.select(col("q_id"), col("n_id").as("d"), col("e").as("de"))
      .join(ce.select(col("q_id"), col("n_id").as("s"), col("e").as("se")),
        Seq("q_id"))
      .filter(col("d") =!= col("s"))
      .withColumn("sim", VectorFunctions.cosineSim(spark, col("de"), col("se")))
      .select("q_id", "d", "s", "sim")
      .localCheckpoint(eager = true)
    var sel = cand
      .withColumn("_r", row_number().over(
        wq.orderBy(col("qsim").desc, col("n_id"))))
      .filter(col("_r") === 1)
      .select(col("q_id"), col("n_id"), col("qsim").as("score"),
        lit(1).as("mmr_rank"))
      .localCheckpoint(eager = true)
    for (k <- 2 to MmrK) {
      val pen = pair.join(sel.select(col("q_id"), col("n_id").as("s")),
          Seq("q_id", "s"))
        .groupBy(col("q_id"), col("d")).agg(max("sim").as("pen"))
        .withColumnRenamed("d", "n_id")
      val pick = cand.join(sel.select("q_id", "n_id"), Seq("q_id", "n_id"),
          "left_anti")
        .join(pen, Seq("q_id", "n_id"))
        .withColumn("score", col("qsim") - col("pen"))
        .withColumn("_r", row_number().over(
          wq.orderBy(col("score").desc, col("n_id"))))
        .filter(col("_r") === 1)
        .select(col("q_id"), col("n_id"), col("score"), lit(k).as("mmr_rank"))
      sel = sel.unionAll(pick).localCheckpoint(eager = true)
    }
    sel.select(col("q_id"), col("n_id"),
      round(col("score"), 4).as("mmr_score"), col("mmr_rank"))
  }

  /** F21: norm-distribution audit per label — the embedding-health
    * check (collapsed norms = a dead/saturated encoder; bimodal =
    * mixed vintages): per label the p5/p50/p95 of ‖x‖. Each norm is
    * a PER-ROW fixed-order sum (no cross-row float order issues at
    * all), percentiles are the portable interpolated kind. */
  def simNorms(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    // codegen'd graft_dot(v, v) — index-order accumulation, same sums
    // as the oracle's list_sum; no interpreted HOF on the scan
    val v = col("embedding").cast("array<double>")
    val norm = sqrt(VectorFunctions.dotProduct(spark, v, v))
    emb.select(col("label"), norm.as("nrm"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vectors"),
        round(percentile(col("nrm"), lit(0.05)), 4).as("norm_p5"),
        round(percentile(col("nrm"), lit(0.5)), 4).as("norm_p50"),
        round(percentile(col("nrm"), lit(0.95)), 4).as("norm_p95"))
  }

  /** F20: FILTERED vector search — top-k cosine restricted to the
    * query's own label (metadata predicate + vector similarity, the
    * production ANN feature every store markets). Exact face filters
    * BEFORE scoring (pre-filter: correct by construction); the ANN
    * face generates candidates from the UNFILTERED LSH buckets and
    * filters after (post-filter) — and the recall dial exists to
    * expose exactly the failure mode that design has under selective
    * predicates: the k survivors of a label-blind candidate set may
    * not cover the label-restricted true top-k. That measured gap is
    * the argument for label-partitioned indexes at 100 TB. */
  def simFilteredBrute(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = broadcast(emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("embedding").as("qv")))
    val n = emb.select(col("vec_id").as("n_id"), col("label").as("n_label"),
      col("embedding").as("nv"))
    val cos = VectorFunctions.cosineSim(spark, col("qv"), col("nv"))
    n.crossJoin(q)
      .filter(col("q_id") =!= col("n_id") && col("n_label") === col("q_label"))
      .withColumn("cos", cos)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("n_id"))))
      .filter(col("rnk") <= K)
      .select(col("q_id"), col("n_id"), round(col("cos"), 4).as("cos"),
        col("rnk"))
  }

  /** F20 post-filter ANN face: label-blind LSH candidates, label
    * filter after, exact rescoring. */
  def simFilteredAnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val b = storedLshBuckets(spark, dir)
    val lbl = emb.select(col("vec_id"), col("label"))
    val cand = b.filter(col("id") < NumQueries)
      .select(col("id").as("q_id"), col("t"), col("bucket"))
      .join(b.select(col("id").as("n_id"), col("t"), col("bucket")),
        Seq("t", "bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select("q_id", "n_id").distinct()
    val cos = VectorFunctions.cosineSim(spark, col("qv"), col("nv"))
    cand
      .join(lbl.select(col("vec_id").as("q_id"), col("label").as("ql")), "q_id")
      .join(lbl.select(col("vec_id").as("n_id"), col("label").as("nl")), "n_id")
      .filter(col("ql") === col("nl"))
      .join(emb.select(col("vec_id").as("q_id"), col("embedding").as("qv")),
        "q_id")
      .join(emb.select(col("vec_id").as("n_id"), col("embedding").as("nv")),
        "n_id")
      .withColumn("cos", cos)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("n_id"))))
      .filter(col("rnk") <= K)
      .select(col("q_id"), col("n_id"), round(col("cos"), 4).as("cos"),
        col("rnk"))
  }

  /** F20 recall dial: the pre/post-filter gap, measured. The
    * denominator is the per-query EXACT result size (a label group
    * can hold fewer than k neighbors), not a flat k. */
  def simFilteredRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = simFilteredBrute(spark, dir).select(col("q_id"), col("n_id"))
    val ann = simFilteredAnn(spark, dir).select(col("q_id"), col("n_id"))
    val truth = exact.groupBy("q_id").agg(count(lit(1)).as("n_true"))
    val hits = ann.join(exact, Seq("q_id", "n_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("hits"))
    truth.join(hits, Seq("q_id"), "left")
      .select(col("q_id"), col("n_true"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)).cast("double") / col("n_true"), 4)
          .as("recall"))
  }

  /** F19: embedding drift between corpus halves — the J9 PSI idea
    * for VECTORS: per label, the cosine between the centroid of the
    * even-id half and the odd-id half (a deployed encoder whose two
    * vintages drift apart shows cos ≪ 1 long before any downstream
    * metric moves). Per-dim centroid sums ride one (label, half,
    * dim) aggregation; the cosine assembles from three per-label
    * sums — centroid-scale frames after the first agg (the F9
    * precedent for float-sum portability, round 4). */
  def simDrift(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cent = emb.select(col("label"), (col("vec_id") % 2).as("half"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("label", "half", "dim")
      .agg(sum(col("x").cast("double")).as("sx"), count(lit(1)).as("n"))
      .select(col("label"), col("half"), col("dim"),
        (col("sx") / col("n")).as("c"))
    val a = cent.filter(col("half") === 0)
      .select(col("label"), col("dim"), col("c").as("ca"))
    val b = cent.filter(col("half") === 1)
      .select(col("label"), col("dim"), col("c").as("cb"))
    a.join(b, Seq("label", "dim"))
      .groupBy("label")
      .agg(sum(col("ca") * col("cb")).as("dot"),
        sum(col("ca") * col("ca")).as("na"),
        sum(col("cb") * col("cb")).as("nb"))
      .select(col("label"),
        round(col("dot") / (sqrt(col("na")) * sqrt(col("nb"))), 4)
          .as("half_cosine"))
  }

  /** F18: nprobe values the recall sweep measures. */
  val SweepProbes: Seq[Int] = Seq(1, 2, 3)

  /** F18: the recall-vs-nprobe curve for IVF — the tuning face every
    * ANN deployment needs before picking its latency/recall point
    * (the E12 LSH-tuner discipline applied to IVF): one recall row
    * per (nprobe, query) from the SAME ivfSearch operator the
    * single-point query runs, unioned across the sweep. Each leg's
    * candidate cost scales with nprobe/ncentroids of the corpus —
    * the measured trade-off IS the output. */
  def simIvfSweep(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val brute = simTopkBrute(spark, dir).select(col("q_id"), col("n_id"))
      .localCheckpoint(eager = true)
    val qs = brute.select("q_id").distinct()
    SweepProbes.map { p =>
      val ivf = Similarity.ivfSearch(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < NumQueries), K, NCentroids, p)
        .select(col("q_id"), col("n_id"))
      val hits = ivf.join(brute, Seq("q_id", "n_id"), "left_semi")
        .groupBy("q_id").agg(count(lit(1)).as("hits"))
      qs.join(hits, Seq("q_id"), "left")
        .select(lit(p).as("nprobe"), col("q_id"),
          coalesce(col("hits"), lit(0L)).as("hits"),
          round(coalesce(col("hits"), lit(0L)).cast("double") / K, 4)
            .as("recall"))
    }.reduce(_ unionAll _)
  }

  /** Recall@k of the LSH ANN against brute-force ground truth, fully
    * IN-PLAN (semi-join on the (query, neighbor) pairs + one agg) — the
    * ANN quality dial as a driver-visible, oracled query instead of a
    * test-only number. */
  def simAnnRecall(spark: SparkSession, dir: String): DataFrame = {
    val brute = simTopkBrute(spark, dir).select(col("q_id"), col("n_id"))
    val ann = simAnnLsh(spark, dir).select(col("q_id"), col("n_id"))
    val hits = ann.join(brute, Seq("q_id", "n_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("hits"))
    brute.select("q_id").distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)).cast("double") / K, 4).as("recall"))
  }

  /** F16: neighbors kept per vector in the k-NN graph. */
  val KnnK = 3

  /** F16 verification sample: 1/[[KnnSampleMod]] of sources by
    * deterministic md5 hash range (the G5/B18 draw discipline —
    * engine-portable, so the oracle regenerates the identical subset
    * from the same predicate). */
  val KnnSampleMod = 7

  private def knnSampleMember(c: org.apache.spark.sql.Column) =
    conv(substring(md5(concat(lit("knns|"), c)), 1, 8), 16, 10)
      .cast("long") % KnnSampleMod === 0

  /** F16 exact face, SAMPLED: exact top-k cosine neighbors for an md5
    * hash-range sample of sources against the FULL corpus — the
    * ground-truth side of the k-NN-graph recall dial. Brute-forcing
    * every source is O(n²) with no valve (the repo's last corpus-wide
    * all-pairs plan, r13 verdict); sampling the SOURCE side makes the
    * exact face O(s·n) with s a fixed 1/[[KnnSampleMod]] draw — the
    * standard way production ANN systems verify recall at any corpus
    * size. The neighbor side stays the whole corpus, so per-source
    * truth is identical to the unsampled graph's rows for those
    * sources (SimilaritySpec pins sampled ⊂ full and sampled recall ≈
    * full recall at oracle SF). */
  def simKnnGraph(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val sampled = emb.filter(knnSampleMember(col("vec_id")))
    Similarity.bruteTopK(emb, "vec_id", "embedding", sampled, KnnK)
      .select(col("q_id").as("src_id"), col("n_id").as("nbr_id"),
        col("cos"), col("rnk"))
  }

  /** F16 scale face: k-NN graph from the persisted multi-table LSH
    * buckets — candidates are bucket collisions in ANY table (the F2
    * store, built once), scored exactly, top-k per source. Candidate
    * count is Σ bucket² instead of n², and the bucket self-join
    * shuffles on (t, bucket) — the only shuffle in the plan. */
  def simKnnGraphLsh(spark: SparkSession, dir: String): DataFrame =
    storedKnnGraph(spark, dir)

  /** The in-plan builder behind [[knnGraphTable]]. */
  private def knnGraphLshPlan(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val b = storedLshBuckets(spark, dir)
    val cand = b.join(
      b.select(col("id").as("nid"), col("t"), col("bucket")), Seq("t", "bucket"))
      .filter(col("id") =!= col("nid"))
      .select(col("id").as("src_id"), col("nid").as("nbr_id")).distinct()
    val cos = VectorFunctions.cosineSim(spark, col("sv"), col("nv"))
    cand
      .join(emb.select(col("vec_id").as("src_id"), col("embedding").as("sv")),
        "src_id")
      .join(emb.select(col("vec_id").as("nbr_id"), col("embedding").as("nv")),
        "nbr_id")
      .withColumn("cos", cos)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("src_id")
          .orderBy(col("cos").desc, col("nbr_id"))))
      .filter(col("rnk") <= KnnK)
      .select(col("src_id"), col("nbr_id"), round(col("cos"), 4).as("cos"),
        col("rnk"))
  }

  /** F26: every 17th vector plays the freshly-arrived batch. */
  val InsertMod = 17

  /** F26: incremental k-NN-graph maintenance — the INSERT path of a
    * graph-ANN index: attach an arriving batch to the existing corpus
    * WITHOUT rebuilding the graph. Incoming vectors reuse the
    * persisted F2 bucket table (their hyperplane hashes were paid at
    * store-build; nothing re-bucketes the corpus), candidates are
    * incoming×BASE bucket collisions ONLY — cost ∝ batch × bucket
    * density, never corpus² — scored exactly, and emitted in BOTH
    * maintenance directions: 'fwd' rows are each incoming vector's
    * top-k into the base (its new adjacency list); 'rev' rows are,
    * per touched base vector, its top-k among the batch — the
    * candidate updates an insert must merge into stored adjacency
    * (a base node's kth neighbor may now be an arrival). This is
    * E7's incremental-admission idiom applied to F16: the graph as a
    * maintained artifact, not a rebuild. One (t, bucket) shuffle +
    * two candidate-scale window ranks. */
  def simKnnInsert(spark: SparkSession, dir: String): DataFrame = {
    val b = storedLshBuckets(spark, dir)
    val in = b.filter(col("id") % InsertMod === 0)
    val base = b.filter(col("id") % InsertMod =!= 0)
      .select(col("id").as("nid"), col("t"), col("bucket"))
    val cand = in.join(base, Seq("t", "bucket"))
      .select(col("id").as("src_id"), col("nid").as("nbr_id")).distinct()
    val emb = Tables.embeddings(spark, dir)
    val scored = cand
      .join(emb.select(col("vec_id").as("src_id"), col("embedding").as("sv")),
        "src_id")
      .join(emb.select(col("vec_id").as("nbr_id"), col("embedding").as("nv")),
        "nbr_id")
      .withColumn("cos", VectorFunctions.cosineSim(spark, col("sv"), col("nv")))
      .select("src_id", "nbr_id", "cos")
    val wF = org.apache.spark.sql.expressions.Window
      .partitionBy("src_id").orderBy(col("cos").desc, col("nbr_id"))
    val wR = org.apache.spark.sql.expressions.Window
      .partitionBy("nbr_id").orderBy(col("cos").desc, col("src_id"))
    val fwd = scored.withColumn("rnk", row_number().over(wF))
      .filter(col("rnk") <= KnnK)
      .select(lit("fwd").as("direction"), col("src_id"), col("nbr_id"),
        round(col("cos"), 4).as("cos"), col("rnk"))
    val rev = scored.withColumn("rnk", row_number().over(wR))
      .filter(col("rnk") <= KnnK)
      .select(lit("rev").as("direction"), col("nbr_id").as("src_id"),
        col("src_id").as("nbr_id"), round(col("cos"), 4).as("cos"),
        col("rnk"))
    fwd.unionAll(rev)
  }

  /** F27: every 23rd vector plays the tombstoned batch. */
  val DeleteMod = 23

  /** F27: k-NN-graph DELETE repair — the other half of F26's
    * maintenance story: tombstone a batch and repair ONLY the
    * adjacency lists that referenced it. Affected sources are read
    * from the PERSISTED graph (rows whose neighbor died — a
    * metadata-scale semi-join, never a corpus scan); each affected
    * source then rebuilds its top-k from its own bucket collisions
    * with the tombstones excluded — cost ∝ affected × bucket density.
    * Rows whose SOURCE died simply drop (no repair owed). At 100 TB
    * this is the difference between "deletes force a nightly rebuild"
    * and "deletes are an incremental repair job": the two queries
    * F26/F27 together are the full index-maintenance contract. */
  def simKnnDelete(spark: SparkSession, dir: String): DataFrame = {
    val dead = col("id") % DeleteMod === 0
    val g = storedKnnGraph(spark, dir)
    val affected = g
      .filter(col("nbr_id") % DeleteMod === 0 &&
        col("src_id") % DeleteMod =!= 0)
      .select(col("src_id").as("id")).distinct()
    val b = storedLshBuckets(spark, dir)
    val srcB = b.join(affected, "id")
    val cand = srcB.join(
        b.filter(!dead).select(col("id").as("nid"), col("t"), col("bucket")),
        Seq("t", "bucket"))
      .filter(col("id") =!= col("nid"))
      .select(col("id").as("src_id"), col("nid").as("nbr_id")).distinct()
    val emb = Tables.embeddings(spark, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src_id").orderBy(col("cos").desc, col("nbr_id"))
    cand
      .join(emb.select(col("vec_id").as("src_id"), col("embedding").as("sv")),
        "src_id")
      .join(emb.select(col("vec_id").as("nbr_id"), col("embedding").as("nv")),
        "nbr_id")
      .withColumn("cos", VectorFunctions.cosineSim(spark, col("sv"), col("nv")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= KnnK)
      .select(col("src_id"), col("nbr_id"), round(col("cos"), 4).as("cos"),
        col("rnk"))
  }

  /** K47: MERGE the F27 delete repair back into the persisted graph
    * as a SNAPSHOT-STORE commit — the piece that turns F26/F27 from
    * "queries that compute maintenance deltas" into "the ANN index is
    * a maintained lake table": version 0 is the built graph, version
    * 1 is the post-delete state (dead sources and dead neighbors
    * dropped, affected sources' adjacency replaced by their repaired
    * top-k, untouched rows carried AS IS), and K20 time travel keeps
    * the pre-delete index readable for rollback/audit. Returns
    * (table, v0, v1); idempotent per session via the snapCommitted
    * memo discipline would re-commit — callers own the cadence.
    * Spec-pinned in KnnMaintenanceSpec: no dead references survive,
    * affected adjacency == the repair exactly, untouched adjacency
    * byte-stable, v0 unchanged. */
  def applyDeleteRepair(spark: SparkSession, dir: String): (String, Long, Long) = {
    import graft.store.{GraftStore, SnapshotStore}
    val name = s"knng_snap_${GraftStore.dirKey(dir)}"
    if (SnapshotStore.versions(name).isEmpty)
      SnapshotStore.commitOverwrite(name, storedKnnGraph(spark, dir))
    val v0 = SnapshotStore.versions(name).head
    val g = SnapshotStore.read(spark, name, Some(v0))
    val repaired = simKnnDelete(spark, dir)
    val kept = g
      .filter(col("src_id") % DeleteMod =!= 0 &&
        col("nbr_id") % DeleteMod =!= 0)
      .join(repaired.select("src_id").distinct(), Seq("src_id"), "left_anti")
    val v1 = SnapshotStore.commitOverwrite(name, kept.unionByName(repaired))
    (name, v0, v1)
  }

  /** F16 recall dial: per-source overlap of the LSH graph against the
    * exact graph (the F5 nested-oracle pattern), over the SAMPLED
    * sources — the stored graph is filtered by the same deterministic
    * predicate, so both sides cover exactly the sample and the dial
    * costs O(s·n) at any corpus size. */
  def simKnnRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = simKnnGraph(spark, dir).select(col("src_id"), col("nbr_id"))
    val lsh = storedKnnGraph(spark, dir)
      .filter(knnSampleMember(col("src_id")))
      .select(col("src_id"), col("nbr_id"))
    val hits = lsh.join(exact, Seq("src_id", "nbr_id"), "left_semi")
      .groupBy("src_id").agg(count(lit(1)).as("hits"))
    exact.select("src_id").distinct()
      .join(hits, Seq("src_id"), "left")
      .select(col("src_id"), coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)).cast("double") / KnnK, 4)
          .as("recall"))
  }

  def simQuantize(spark: SparkSession, dir: String): DataFrame =
    Similarity.quantizeInt8(Tables.embeddings(spark, dir), "vec_id", "embedding")

  /** F17: top-k by INT8 dot product over the F6-quantized codes — the
    * middle rung of the quantization ladder actually SEARCHED (F6
    * only produces the codes; F12 searches 1-bit, F8 searches PQ):
    * score = Σ qa·qb in pure integer arithmetic, so the kernel is
    * exact, portable, and 4× smaller than float reads. Per-query
    * ranking by (idot desc, n_id); the recall face below measures the
    * quantization loss against exact cosine. At 100 TB this kernel
    * runs over IVF/LSH candidates; the exhaustive face here is the
    * measured-quality convention of the family. */
  def simInt8Topk(spark: SparkSession, dir: String): DataFrame = {
    val codes = Similarity.quantizeInt8(
      Tables.embeddings(spark, dir), "vec_id", "embedding")
    val q = broadcast(codes.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("dim"), col("q").as("qa")))
    val n = codes.select(col("vec_id").as("n_id"), col("dim"), col("q").as("qb"))
    n.join(q, "dim")
      .filter(col("q_id") =!= col("n_id"))
      .groupBy("q_id", "n_id")
      .agg(sum(col("qa").cast("long") * col("qb")).as("idot"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(col("idot").desc, col("n_id"))))
      .filter(col("rnk") <= K)
      .select(col("q_id"), col("n_id"), col("idot"), col("rnk"))
  }

  /** F17 recall dial vs exact cosine ground truth. */
  def simInt8Recall(spark: SparkSession, dir: String): DataFrame = {
    val exact = simTopkBrute(spark, dir).select(col("q_id"), col("n_id"))
    val i8 = simInt8Topk(spark, dir).select(col("q_id"), col("n_id"))
    val hits = i8.join(exact, Seq("q_id", "n_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("hits"))
    exact.select("q_id").distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)).cast("double") / K, 4).as("recall"))
  }

  val KmeansK = 8
  val KmeansIters = 3

  /** F10: exact-integer Lloyd k-means over the int8-quantized
    * embeddings — offline codebook learning for the PQ/IVF family. */
  def simKmeans(spark: SparkSession, dir: String): DataFrame =
    Similarity.kmeansInt8(
      Similarity.quantizeInt8(Tables.embeddings(spark, dir), "vec_id", "embedding"),
      KmeansK, KmeansIters)

  /** F9: per-label centroid distance — the embedding outlier signal. */
  def simCentroidDist(spark: SparkSession, dir: String): DataFrame =
    Similarity.centroidDistance(Tables.embeddings(spark, dir),
      "vec_id", "embedding", "label")

  /** F7: exact MIPS top-k for the same query set (raw dot score). */
  def simMips(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.mipsTopK(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < NumQueries), K)
  }

  /** F7 scale path: MIPS via augmented-vector cosine LSH. */
  def simMipsAnn(spark: SparkSession, dir: String): DataFrame =
    Similarity.mipsViaAnn(Tables.embeddings(spark, dir), "vec_id", "embedding",
      NumQueries, K, Tables65)

  /** Recall@k of the MIPS-via-ANN reduction against the exact MIPS
    * ground truth (the sim_ann_recall / F5 pattern). */
  def simMipsAnnRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = simMips(spark, dir).select(col("q_id"), col("n_id"))
    val ann = simMipsAnn(spark, dir).select(col("q_id"), col("n_id"))
    val hits = ann.join(exact, Seq("q_id", "n_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("hits"))
    exact.select("q_id").distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)).cast("double") / K, 4).as("recall"))
  }

  /** Candidates per query the F13 bit pass nominates (4·K). */
  val RerankCand = 20

  /** F13: two-stage retrieval — Hamming candidate generation +
    * exact-cosine rescoring of the candidates only. */
  def simRerank(spark: SparkSession, dir: String): DataFrame =
    Similarity.rerankTopK(Tables.embeddings(spark, dir), "vec_id",
      "embedding", NumQueries, RerankCand, K)

  /** F13 quality dial: recall@k of the reranked stack vs brute-force
    * cosine (the F5 pattern) — by construction ≥ the raw Hamming
    * recall, since rescoring re-orders candidates by the TRUE metric. */
  def simRerankRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = simTopkBrute(spark, dir).select(col("q_id"), col("n_id"))
    val rr = simRerank(spark, dir).select(col("q_id"), col("n_id"))
    val hits = rr.join(exact, Seq("q_id", "n_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("hits"))
    exact.select("q_id").distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)).cast("double") / K, 4).as("recall"))
  }

  /** F12: binary-quantized Hamming top-k for the same query set. */
  def simHamming(spark: SparkSession, dir: String): DataFrame =
    Similarity.hammingTopK(Tables.embeddings(spark, dir), "vec_id",
      "embedding", NumQueries, K)

  /** Recall@k of sign-bit Hamming against the exact cosine ground
    * truth — how much the coarsest quantization rung gives up (the
    * sim_ann_recall / F5 pattern). */
  def simHammingRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = simTopkBrute(spark, dir).select(col("q_id"), col("n_id"))
    val ham = simHamming(spark, dir).select(col("q_id"), col("n_id"))
    val hits = ham.join(exact, Seq("q_id", "n_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("hits"))
    exact.select("q_id").distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)).cast("double") / K, 4).as("recall"))
  }

  /** F15 prefix length: the first 16 of 64 dims (a 4× cheaper scan). */
  val MatryoshkaDims = 16

  /** F15: Matryoshka truncated-prefix candidates + exact full-dim
    * rescoring (candidate pool shared with F13's RerankCand). */
  def simMatryoshka(spark: SparkSession, dir: String): DataFrame =
    Similarity.matryoshkaTopK(Tables.embeddings(spark, dir), "vec_id",
      "embedding", NumQueries, MatryoshkaDims, RerankCand, K)

  /** F15 quality dial: recall@k vs brute-force full-dim cosine (the
    * F5 pattern) — what serving on a 16-dim prefix funnel gives up. */
  def simMatryoshkaRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = simTopkBrute(spark, dir).select(col("q_id"), col("n_id"))
    val mt = simMatryoshka(spark, dir).select(col("q_id"), col("n_id"))
    val hits = mt.join(exact, Seq("q_id", "n_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("hits"))
    exact.select("q_id").distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)).cast("double") / K, 4).as("recall"))
  }

  val PqM = 8          // sub-spaces
  val PqSubDim = 8     // dims per sub-space (8 × 8 = 64)
  val PqCodebook = 16  // codebook entries per sub-space

  /** F8: product-quantization ADC top-k for the same query set. */
  def simPq(spark: SparkSession, dir: String): DataFrame =
    Similarity.pqTopK(Tables.embeddings(spark, dir), "vec_id", "embedding",
      NumQueries, K, PqM, PqSubDim, PqCodebook)

  /** F11: IVF-PQ serving search — the F3 coarse quantizer routing
    * composed with the F8 ADC scorer over probed lists only. */
  def simIvfPq(spark: SparkSession, dir: String): DataFrame =
    Similarity.ivfPqTopK(Tables.embeddings(spark, dir), "vec_id", "embedding",
      NumQueries, K, NCentroids, NProbe, PqM, PqSubDim, PqCodebook)

  /** F11 quality dial: recall@k of IVF-PQ against brute-force cosine
    * ground truth — quantifies the COMPOSED loss (routing misses +
    * code approximation) the same way sim_pq_recall isolates the code
    * half. */
  def simIvfPqRecall(spark: SparkSession, dir: String): DataFrame = {
    val brute = simTopkBrute(spark, dir).select(col("q_id"), col("n_id"))
    val ivfpq = simIvfPq(spark, dir).select(col("q_id"), col("n_id"))
    val hits = ivfpq.join(brute, Seq("q_id", "n_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("hits"))
    brute.select("q_id").distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)).cast("double") / K, 4).as("recall"))
  }

  /** F8 quality dial: recall@k of PQ-ADC against brute-force cosine
    * ground truth (the sim_ann_recall pattern applied to PQ). */
  def simPqRecall(spark: SparkSession, dir: String): DataFrame = {
    val brute = simTopkBrute(spark, dir).select(col("q_id"), col("n_id"))
    val pq = simPq(spark, dir).select(col("q_id"), col("n_id"))
    val hits = pq.join(brute, Seq("q_id", "n_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("hits"))
    brute.select("q_id").distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)).cast("double") / K, 4).as("recall"))
  }

  /** F14 radius: same query set as F1, cosine ≥ 0.3 (≈40 rows at
    * sf0.01 — nonempty at every SF without flooding). */
  val RangeTau = 0.3

  def simRange(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.rangeSearch(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < NumQueries), RangeTau)
  }

  def queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    "sim_topk_brute" -> (simTopkBrute _),
    "sim_range"      -> (simRange _),
    "sim_ann_lsh"    -> (simAnnLsh _),
    "sim_ann_admit"  -> (simAnnAdmit _),
    "sim_ann_admit_recall" -> (simAnnAdmitRecall _),
    "sim_ivf"        -> (simIvf _),
    "sim_ann_recall" -> (simAnnRecall _),
    "sim_quantize"   -> (simQuantize _),
    "sim_kmeans"     -> (simKmeans _),
    "sim_centroid_dist" -> (simCentroidDist _),
    "sim_mips"       -> (simMips _),
    "sim_mips_ann"   -> (simMipsAnn _),
    "sim_mips_ann_recall" -> (simMipsAnnRecall _),
    "sim_pq"         -> (simPq _),
    "sim_pq_recall"  -> (simPqRecall _),
    "sim_ivfpq"      -> (simIvfPq _),
    "sim_ivfpq_recall" -> (simIvfPqRecall _),
    "sim_hamming"    -> (simHamming _),
    "sim_hamming_recall" -> (simHammingRecall _),
    "sim_rerank"     -> (simRerank _),
    "sim_rerank_recall" -> (simRerankRecall _),
    "sim_matryoshka" -> (simMatryoshka _),
    "sim_matryoshka_recall" -> (simMatryoshkaRecall _),
    "sim_knn_graph"  -> (simKnnGraph _),
    "sim_knn_graph_lsh" -> (simKnnGraphLsh _),
    "sim_knn_insert" -> (simKnnInsert _),
    "sim_knn_delete" -> (simKnnDelete _),
    "sim_knn_recall" -> (simKnnRecall _),
    "sim_int8_topk"  -> (simInt8Topk _),
    "sim_int8_recall" -> (simInt8Recall _),
    "sim_ivf_sweep"  -> (simIvfSweep _),
    "sim_drift"      -> (simDrift _),
    "sim_filtered"   -> (simFilteredBrute _),
    "sim_filtered_ann" -> (simFilteredAnn _),
    "sim_filtered_recall" -> (simFilteredRecall _),
    "sim_norms"      -> (simNorms _),
    "sim_beam"       -> (simBeam _),
    "sim_beam_recall" -> (simBeamRecall _),
    "sim_hnsw"        -> (simHnsw _),
    "sim_hnsw_recall" -> (simHnswRecall _),
    "sim_hnsw3"       -> (simHnsw3 _),
    "sim_hnsw3_recall" -> (simHnsw3Recall _),
    "sim_mmr"         -> (simMmr _),
    "sim_beam_sweep"  -> (simBeamSweep _),
  )

  /** DuckDB mirror of the sign-bit pack + Hamming rank (shared by
    * sim_hamming and the recall oracle). */
  private lazy val oracleSqlHamming: String = hammingSqlK(K)

  private def hammingSqlK(k: Int): String =
    s"""WITH ex AS (
       |  SELECT vec_id, unnest(range(0, length(embedding)))::int AS i, embedding
       |  FROM embeddings
       |), b AS (
       |  SELECT vec_id,
       |    bit_or(CASE WHEN embedding[i + 1] > 0
       |      -- duckdb overflow-checks 1<<63; spell the sign bit as
       |      -- the two's-complement literal spark's shiftleft lands on
       |      THEN CASE WHEN i = 63 THEN (-9223372036854775808)::bigint
       |                ELSE (1::bigint << i) END
       |      ELSE 0::bigint END) AS bits
       |  FROM ex GROUP BY 1
       |), q AS (SELECT vec_id AS q_id, bits AS qb FROM b WHERE vec_id < $NumQueries),
       |s AS (
       |  SELECT q.q_id, n.vec_id AS n_id,
       |    bit_count(xor(q.qb, n.bits))::int AS hamming
       |  FROM b n, q WHERE q.q_id <> n.vec_id
       |), r AS (
       |  SELECT q_id, n_id, hamming,
       |    row_number() OVER (PARTITION BY q_id ORDER BY hamming, n_id) AS rnk
       |  FROM s
       |)
       |SELECT q_id, n_id, hamming, rnk FROM r WHERE rnk <= $k""".stripMargin

  // --- generated DuckDB oracles -------------------------------------

  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), z -> z[1]::double * z[2]::double))"

  private def cosSql(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b), z -> z[1]::double * z[2]::double))
       |      / (sqrt(list_sum(list_transform($a, x -> x::double * x::double)))
       |         * sqrt(list_sum(list_transform($b, x -> x::double * x::double))))""".stripMargin

  private def bucketSql(v: String, planes: Seq[Seq[Int]]): String =
    planes.map { pl =>
      val lits = pl.mkString("[", ", ", "]")
      s"CASE WHEN list_sum(list_transform(list_zip($v, $lits), z -> z[1]::double * z[2])) >= 0 THEN '1' ELSE '0' END"
    }.mkString(" || ")

  private lazy val oracleSqlBrute: String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < $NumQueries),
       |n AS (SELECT vec_id AS n_id, embedding AS nv FROM embeddings),
       |s AS (
       |  SELECT q_id, n_id, ${cosSql("qv", "nv")} AS cos
       |  FROM q, n WHERE q_id <> n_id
       |), r AS (
       |  SELECT q_id, n_id, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |  FROM s
       |)
       |SELECT q_id, n_id, round(cos, 4) AS cos, rnk FROM r WHERE rnk <= $K""".stripMargin

  // F15: truncated-prefix candidates (full-precision cosine on the
  // first MatryoshkaDims list elements, same index-order sums as the
  // Spark slice) → exact full-dim rescoring → rank
  private lazy val oracleSqlMatryoshka: String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < $NumQueries),
       |n AS (SELECT vec_id AS n_id, embedding AS nv FROM embeddings),
       |ts AS (
       |  SELECT q_id, n_id, ${cosSql(s"qv[1:$MatryoshkaDims]", s"nv[1:$MatryoshkaDims]")} AS tcos
       |  FROM q, n WHERE q_id <> n_id
       |), cand AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY tcos DESC, n_id) AS crnk
       |    FROM ts) WHERE crnk <= $RerankCand
       |), s AS (
       |  SELECT c.q_id, c.n_id, ${cosSql("q.qv", "n.nv")} AS cos
       |  FROM cand c JOIN q ON q.q_id = c.q_id JOIN n ON n.n_id = c.n_id
       |), r AS (
       |  SELECT q_id, n_id, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |  FROM s
       |)
       |SELECT q_id, n_id, round(cos, 4) AS cos, rnk FROM r WHERE rnk <= $K""".stripMargin

  // parameterized IVF oracle (nprobe is the F18 sweep's dial)
  private def oracleSqlIvf(nprobe: Int): String =
    s"""WITH c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings WHERE vec_id < $NCentroids),
       |v AS (SELECT vec_id AS id, embedding AS vv FROM embeddings),
       |asg AS (
       |  SELECT id, vv, c_id FROM (
       |    SELECT v.id, v.vv, c.c_id,
       |      row_number() OVER (PARTITION BY v.id
       |        ORDER BY ${cosSql("vv", "cv")} DESC, c.c_id) AS r
       |    FROM v, c) WHERE r = 1
       |),
       |q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < $NumQueries),
       |pr AS (
       |  SELECT q_id, qv, c_id FROM (
       |    SELECT q.q_id, q.qv, c.c_id,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY ${cosSql("qv", "cv")} DESC, c.c_id) AS r
       |    FROM q, c) WHERE r <= $nprobe
       |),
       |s AS (
       |  SELECT pr.q_id, asg.id AS n_id, ${cosSql("qv", "asg.vv")} AS cos
       |  FROM pr JOIN asg ON pr.c_id = asg.c_id WHERE pr.q_id <> asg.id
       |), r AS (
       |  SELECT q_id, n_id, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |  FROM s
       |)
       |SELECT q_id, n_id, round(cos, 4) AS cos, rnk FROM r WHERE rnk <= $K""".stripMargin

  // mirrors Similarity.quantizeInt8: identical double expression
  // (x * 127 / max|x|), identical half-away-from-zero rounding
  private lazy val oracleSqlQuantize: String =
    """WITH ex AS (
      |  SELECT vec_id, unnest(range(0, length(embedding)))::int AS dim, embedding
      |  FROM embeddings
      |), v AS (
      |  SELECT vec_id, dim, embedding[dim + 1]::double AS x FROM ex
      |), m AS (
      |  SELECT vec_id, max(abs(x)) AS maxabs FROM v GROUP BY 1
      |)
      |SELECT v.vec_id, v.dim,
      |  CASE WHEN m.maxabs = 0 THEN 0
      |       ELSE round(v.x * 127 / m.maxabs)::int END AS q
      |FROM v JOIN m ON v.vec_id = m.vec_id""".stripMargin

  // F17: integer dot-product rank over the nested quantize oracle
  private lazy val oracleSqlInt8: String =
    s"""WITH codes AS (SELECT vec_id, dim, q FROM (${oracleSqlQuantize})),
       |s AS (
       |  SELECT a.vec_id AS q_id, b.vec_id AS n_id,
       |    sum(a.q::bigint * b.q)::bigint AS idot
       |  FROM codes a JOIN codes b
       |    ON a.dim = b.dim AND a.vec_id <> b.vec_id
       |  WHERE a.vec_id < $NumQueries
       |  GROUP BY 1, 2
       |), r AS (
       |  SELECT q_id, n_id, idot,
       |    row_number() OVER (PARTITION BY q_id ORDER BY idot DESC, n_id) AS rnk
       |  FROM s
       |)
       |SELECT q_id, n_id, idot, rnk FROM r WHERE rnk <= $K""".stripMargin

  // F20 pre-filter exact face: the brute shape + label equality
  private lazy val oracleSqlFilteredBrute: String =
    s"""WITH q AS (SELECT vec_id AS q_id, label AS ql, embedding AS qv
       |           FROM embeddings WHERE vec_id < $NumQueries),
       |n AS (SELECT vec_id AS n_id, label AS nl, embedding AS nv FROM embeddings),
       |s AS (
       |  SELECT q_id, n_id, ${cosSql("qv", "nv")} AS cos
       |  FROM q, n WHERE q_id <> n_id AND ql = nl
       |), r AS (
       |  SELECT q_id, n_id, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |  FROM s
       |)
       |SELECT q_id, n_id, round(cos, 4) AS cos, rnk FROM r WHERE rnk <= $K""".stripMargin

  // F20 post-filter ANN face: label-blind buckets, label filter after
  private lazy val oracleSqlFilteredAnn: String = {
    val bandSelects = Tables64.zipWithIndex.map { case (pl, t) =>
      s"SELECT vec_id AS id, $t AS t, ${bucketSql("embedding", pl)} AS bucket FROM embeddings"
    }.mkString("\nUNION ALL\n")
    s"""WITH b AS (
       |$bandSelects
       |), q AS (SELECT id AS q_id, t, bucket FROM b WHERE id < $NumQueries),
       |cand AS (
       |  SELECT DISTINCT q.q_id, b.id
       |  FROM q JOIN b ON q.t = b.t AND q.bucket = b.bucket AND q.q_id <> b.id
       |), s AS (
       |  SELECT c.q_id, c.id AS n_id, ${cosSql("qe.embedding", "ne.embedding")} AS cos
       |  FROM cand c
       |  JOIN embeddings qe ON qe.vec_id = c.q_id
       |  JOIN embeddings ne ON ne.vec_id = c.id
       |  WHERE qe.label = ne.label
       |), r AS (
       |  SELECT q_id, n_id, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |  FROM s
       |)
       |SELECT q_id, n_id, round(cos, 4) AS cos, rnk FROM r WHERE rnk <= $K""".stripMargin
  }

  // F22: the same per-hop expand / score-new / keep-beam recursion,
  // stated as MATERIALIZED CTEs over the nested LSH-graph oracle
  private lazy val oracleSqlBeam: String = {
    val hops = (1 to BeamHops).map { h =>
      s"""nb$h AS MATERIALIZED (
         |  SELECT DISTINCT f${h - 1}.q_id, g.nbr_id AS n_id
         |  FROM f${h - 1} JOIN g ON g.src_id = f${h - 1}.n_id
         |),
         |new$h AS MATERIALIZED (
         |  SELECT nb.q_id, nb.n_id,
         |    ${cosSql("qe.embedding", "ne.embedding")} AS cos
         |  FROM nb$h nb
         |  JOIN embeddings qe ON qe.vec_id = nb.q_id
         |  JOIN embeddings ne ON ne.vec_id = nb.n_id
         |  WHERE NOT EXISTS (SELECT 1 FROM v${h - 1} v
         |    WHERE v.q_id = nb.q_id AND v.n_id = nb.n_id)
         |),
         |f$h AS MATERIALIZED (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id,
         |      row_number() OVER (PARTITION BY q_id
         |        ORDER BY cos DESC, n_id) AS r
         |    FROM new$h) WHERE r <= $BeamWidth
         |),
         |v$h AS MATERIALIZED (
         |  SELECT q_id, n_id, cos FROM v${h - 1}
         |  UNION ALL SELECT q_id, n_id, cos FROM new$h
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH g AS MATERIALIZED (
       |  SELECT src_id, nbr_id FROM (${oracleSqlKnnLsh})
       |), e AS (SELECT min(vec_id) AS e_id FROM embeddings),
       |v0 AS MATERIALIZED (
       |  SELECT qe.vec_id AS q_id, e.e_id AS n_id,
       |    ${cosSql("qe.embedding", "ne.embedding")} AS cos
       |  FROM embeddings qe
       |  CROSS JOIN e
       |  JOIN embeddings ne ON ne.vec_id = e.e_id
       |  WHERE qe.vec_id < $NumQueries
       |),
       |f0 AS MATERIALIZED (SELECT q_id, n_id FROM v0),
       |$hops
       |SELECT q_id, n_id, round(cos, 4) AS cos, rnk FROM (
       |  SELECT q_id, n_id, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |  FROM v$BeamHops WHERE q_id <> n_id
       |) WHERE rnk <= $K""".stripMargin
  }

  /** Parameterized per-hop MATERIALIZED beam CTEs (the F22 oracle
    * pattern with a name prefix, so sim_hnsw can chain two beam
    * phases in one statement). Produces `${pfx}nb/new/f/v$h` reading
    * graph CTE `g`, seeded from visited `v0` / frontier `f0`. */
  private def beamCtesSql(g: String, v0: String, f0: String, pfx: String,
      width: Int, hops: Int): String =
    (1 to hops).map { h =>
      val vPrev = if (h == 1) v0 else s"${pfx}v${h - 1}"
      val fPrev = if (h == 1) f0 else s"${pfx}f${h - 1}"
      s"""${pfx}nb$h AS MATERIALIZED (
         |  SELECT DISTINCT f.q_id, g.nbr_id AS n_id
         |  FROM $fPrev f JOIN $g g ON g.src_id = f.n_id
         |),
         |${pfx}new$h AS MATERIALIZED (
         |  SELECT nb.q_id, nb.n_id,
         |    ${cosSql("qe.embedding", "ne.embedding")} AS cos
         |  FROM ${pfx}nb$h nb
         |  JOIN embeddings qe ON qe.vec_id = nb.q_id
         |  JOIN embeddings ne ON ne.vec_id = nb.n_id
         |  WHERE NOT EXISTS (SELECT 1 FROM $vPrev v
         |    WHERE v.q_id = nb.q_id AND v.n_id = nb.n_id)
         |),
         |${pfx}f$h AS MATERIALIZED (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id,
         |      row_number() OVER (PARTITION BY q_id
         |        ORDER BY cos DESC, n_id) AS r
         |    FROM ${pfx}new$h) WHERE r <= $width
         |),
         |${pfx}v$h AS MATERIALIZED (
         |  SELECT q_id, n_id, cos FROM $vPrev
         |  UNION ALL SELECT q_id, n_id, cos FROM ${pfx}new$h
         |)""".stripMargin
    }.mkString(",\n")

  // F23 HNSW: layer-1 graph among md5-promoted members, top-layer beam
  // to a per-query entry, then the layer-0 beam — every stage a
  // materialized CTE mirroring the Spark loop hop for hop
  private lazy val oracleSqlHnsw: String = {
    val bandSelects = Tables64.zipWithIndex.map { case (pl, t) =>
      s"SELECT vec_id AS id, $t AS t, ${bucketSql("embedding", pl)} AS bucket FROM embeddings"
    }.mkString("\nUNION ALL\n")
    s"""WITH g0 AS MATERIALIZED (
       |  SELECT src_id, nbr_id FROM (${oracleSqlKnnLsh})
       |), m AS MATERIALIZED (
       |  SELECT vec_id FROM embeddings
       |  WHERE ('0x' || substr(md5('hnsw|' || vec_id), 1, 8))::bigint % $HnswMod = 0
       |), bb AS MATERIALIZED (
       |$bandSelects
       |), b1 AS MATERIALIZED (
       |  SELECT bb.id, bb.t, bb.bucket FROM bb JOIN m ON m.vec_id = bb.id
       |), cand1 AS (
       |  SELECT DISTINCT a.id AS src_id, b.id AS nbr_id
       |  FROM b1 a JOIN b1 b ON a.t = b.t AND a.bucket = b.bucket AND a.id <> b.id
       |), g1 AS MATERIALIZED (
       |  SELECT src_id, nbr_id FROM (
       |    SELECT c.src_id, c.nbr_id,
       |      row_number() OVER (PARTITION BY c.src_id
       |        ORDER BY ${cosSql("se.embedding", "ne.embedding")} DESC, c.nbr_id) AS rnk
       |    FROM cand1 c
       |    JOIN embeddings se ON se.vec_id = c.src_id
       |    JOIN embeddings ne ON ne.vec_id = c.nbr_id
       |  ) WHERE rnk <= $KnnK
       |), e1 AS (SELECT min(vec_id) AS e_id FROM m),
       |tv0 AS MATERIALIZED (
       |  SELECT qe.vec_id AS q_id, e1.e_id AS n_id,
       |    ${cosSql("qe.embedding", "ne.embedding")} AS cos
       |  FROM embeddings qe
       |  CROSS JOIN e1
       |  JOIN embeddings ne ON ne.vec_id = e1.e_id
       |  WHERE qe.vec_id < $NumQueries
       |),
       |tf0 AS MATERIALIZED (SELECT q_id, n_id FROM tv0),
       |${beamCtesSql("g1", "tv0", "tf0", "t", HnswTopWidth, HnswTopHops)},
       |ent AS MATERIALIZED (
       |  SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS r
       |    FROM tv$HnswTopHops) WHERE r = 1
       |),
       |v0 AS MATERIALIZED (
       |  SELECT ent.q_id, ent.n_id,
       |    ${cosSql("qe.embedding", "ne.embedding")} AS cos
       |  FROM ent
       |  JOIN embeddings qe ON qe.vec_id = ent.q_id
       |  JOIN embeddings ne ON ne.vec_id = ent.n_id
       |),
       |f0 AS MATERIALIZED (SELECT q_id, n_id FROM v0),
       |${beamCtesSql("g0", "v0", "f0", "", BeamWidth, BeamHops)}
       |SELECT q_id, n_id, round(cos, 4) AS cos, rnk FROM (
       |  SELECT q_id, n_id, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |  FROM v$BeamHops WHERE q_id <> n_id
       |) WHERE rnk <= $K""".stripMargin
  }

  // F25: the beam replayed once per width over the shared graph/entry
  // CTEs, each width its own prefixed per-hop MATERIALIZED blocks,
  // recall legs unioned
  private lazy val oracleSqlBeamSweep: String = {
    val widthBlocks = BeamSweepWidths.map { w =>
      s"""${beamCtesSql("g", "v0", "f0", s"w$w", w, BeamHops)},
         |w${w}top AS MATERIALIZED (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
         |    FROM w${w}v$BeamHops WHERE q_id <> n_id
         |  ) WHERE rnk <= $K
         |)""".stripMargin
    }.mkString(",\n")
    val legs = BeamSweepWidths.map { w =>
      s"""SELECT $w AS beam_width, e.q_id,
         |  coalesce(h.hits, 0) AS hits,
         |  round(coalesce(h.hits, 0)::double / $K, 4) AS recall
         |FROM (SELECT DISTINCT q_id FROM exact) e
         |LEFT JOIN (
         |  SELECT a.q_id, count(*) AS hits FROM w${w}top a
         |  WHERE EXISTS (SELECT 1 FROM exact b
         |    WHERE b.q_id = a.q_id AND b.n_id = a.n_id)
         |  GROUP BY 1
         |) h ON h.q_id = e.q_id""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH g AS MATERIALIZED (
       |  SELECT src_id, nbr_id FROM (${oracleSqlKnnLsh})
       |), e AS (SELECT min(vec_id) AS e_id FROM embeddings),
       |v0 AS MATERIALIZED (
       |  SELECT qe.vec_id AS q_id, e.e_id AS n_id,
       |    ${cosSql("qe.embedding", "ne.embedding")} AS cos
       |  FROM embeddings qe
       |  CROSS JOIN e
       |  JOIN embeddings ne ON ne.vec_id = e.e_id
       |  WHERE qe.vec_id < $NumQueries
       |),
       |f0 AS MATERIALIZED (SELECT q_id, n_id FROM v0),
       |$widthBlocks,
       |exact AS (SELECT q_id, n_id FROM (${oracleSqlBrute}))
       |$legs""".stripMargin
  }

  // F23 three layers: the hnsw oracle with one more chained beam
  // phase; the layer-2 member/graph CTEs mirror the layer-1 ones with
  // the nested modulus, and the global entry coalesces to layer 1
  // when layer 2 is empty at tiny SFs
  private lazy val oracleSqlHnsw3: String = {
    val bandSelects = Tables64.zipWithIndex.map { case (pl, t) =>
      s"SELECT vec_id AS id, $t AS t, ${bucketSql("embedding", pl)} AS bucket FROM embeddings"
    }.mkString("\nUNION ALL\n")
    def layerGraph(m: String, pfx: String): String =
      s"""b$pfx AS MATERIALIZED (
         |  SELECT bb.id, bb.t, bb.bucket FROM bb JOIN $m ON $m.vec_id = bb.id
         |), cand$pfx AS (
         |  SELECT DISTINCT a.id AS src_id, b.id AS nbr_id
         |  FROM b$pfx a JOIN b$pfx b ON a.t = b.t AND a.bucket = b.bucket AND a.id <> b.id
         |), g$pfx AS MATERIALIZED (
         |  SELECT src_id, nbr_id FROM (
         |    SELECT c.src_id, c.nbr_id,
         |      row_number() OVER (PARTITION BY c.src_id
         |        ORDER BY ${cosSql("se.embedding", "ne.embedding")} DESC, c.nbr_id) AS rnk
         |    FROM cand$pfx c
         |    JOIN embeddings se ON se.vec_id = c.src_id
         |    JOIN embeddings ne ON ne.vec_id = c.nbr_id
         |  ) WHERE rnk <= $KnnK
         |)""".stripMargin
    def entryScore(ent: String, vName: String): String =
      s"""$vName AS MATERIALIZED (
         |  SELECT ent.q_id, ent.n_id,
         |    ${cosSql("qe.embedding", "ne.embedding")} AS cos
         |  FROM $ent ent
         |  JOIN embeddings qe ON qe.vec_id = ent.q_id
         |  JOIN embeddings ne ON ne.vec_id = ent.n_id
         |)""".stripMargin
    def argmax(v: String, name: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS r
         |    FROM $v) WHERE r = 1
         |)""".stripMargin
    s"""WITH g0 AS MATERIALIZED (
       |  SELECT src_id, nbr_id FROM (${oracleSqlKnnLsh})
       |), m AS MATERIALIZED (
       |  SELECT vec_id FROM embeddings
       |  WHERE ('0x' || substr(md5('hnsw|' || vec_id), 1, 8))::bigint % $HnswMod = 0
       |), m2 AS MATERIALIZED (
       |  SELECT vec_id FROM embeddings
       |  WHERE ('0x' || substr(md5('hnsw|' || vec_id), 1, 8))::bigint % $Hnsw2Mod = 0
       |), bb AS MATERIALIZED (
       |$bandSelects
       |),
       |${layerGraph("m", "1")},
       |${layerGraph("m2", "2")},
       |e AS (SELECT coalesce((SELECT min(vec_id) FROM m2),
       |  (SELECT min(vec_id) FROM m)) AS e_id),
       |uv0 AS MATERIALIZED (
       |  SELECT qe.vec_id AS q_id, e.e_id AS n_id,
       |    ${cosSql("qe.embedding", "ne.embedding")} AS cos
       |  FROM embeddings qe
       |  CROSS JOIN e
       |  JOIN embeddings ne ON ne.vec_id = e.e_id
       |  WHERE qe.vec_id < $NumQueries
       |),
       |uf0 AS MATERIALIZED (SELECT q_id, n_id FROM uv0),
       |${beamCtesSql("g2", "uv0", "uf0", "u", Hnsw2Width, Hnsw2Hops)},
       |${argmax(s"uv$Hnsw2Hops", "ent1")},
       |${entryScore("ent1", "tv0")},
       |tf0 AS MATERIALIZED (SELECT q_id, n_id FROM tv0),
       |${beamCtesSql("g1", "tv0", "tf0", "t", HnswTopWidth, HnswTopHops)},
       |${argmax(s"tv$HnswTopHops", "ent")},
       |${entryScore("ent", "v0")},
       |f0 AS MATERIALIZED (SELECT q_id, n_id FROM v0),
       |${beamCtesSql("g0", "v0", "f0", "", BeamWidth, BeamHops)}
       |SELECT q_id, n_id, round(cos, 4) AS cos, rnk FROM (
       |  SELECT q_id, n_id, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |  FROM v$BeamHops WHERE q_id <> n_id
       |) WHERE rnk <= $K""".stripMargin
  }

  // F24 MMR: top-MmrCand exact candidates (RAW cosine — the selection
  // ranks on unrounded scores both sides), candidate-pair sims, then
  // MmrK materialized selection iterations
  private lazy val oracleSqlMmr: String = {
    val iters = (2 to MmrK).map { k =>
      s"""pen$k AS MATERIALIZED (
         |  SELECT p.q_id, p.d AS n_id, max(p.sim) AS pen
         |  FROM pair p JOIN sel${k - 1} s ON p.q_id = s.q_id AND p.s = s.n_id
         |  GROUP BY 1, 2
         |),
         |pick$k AS MATERIALIZED (
         |  SELECT q_id, n_id, score, $k AS mmr_rank FROM (
         |    SELECT c.q_id, c.n_id, c.qsim - p.pen AS score,
         |      row_number() OVER (PARTITION BY c.q_id
         |        ORDER BY c.qsim - p.pen DESC, c.n_id) AS r
         |    FROM cand c
         |    JOIN pen$k p ON c.q_id = p.q_id AND c.n_id = p.n_id
         |    WHERE NOT EXISTS (SELECT 1 FROM sel${k - 1} s
         |      WHERE s.q_id = c.q_id AND s.n_id = c.n_id)
         |  ) WHERE r = 1
         |),
         |sel$k AS MATERIALIZED (
         |  SELECT q_id, n_id, score, mmr_rank FROM sel${k - 1}
         |  UNION ALL SELECT q_id, n_id, score, mmr_rank FROM pick$k
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < $NumQueries),
       |n AS (SELECT vec_id AS n_id, embedding AS nv FROM embeddings),
       |cand AS MATERIALIZED (
       |  SELECT q_id, n_id, qsim FROM (
       |    SELECT q_id, n_id, ${cosSql("qv", "nv")} AS qsim,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY ${cosSql("qv", "nv")} DESC, n_id) AS rnk
       |    FROM q, n WHERE q_id <> n_id
       |  ) WHERE rnk <= $MmrCand
       |), pair AS MATERIALIZED (
       |  SELECT a.q_id, a.n_id AS d, b.n_id AS s,
       |    ${cosSql("da.embedding", "db.embedding")} AS sim
       |  FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.n_id <> b.n_id
       |  JOIN embeddings da ON da.vec_id = a.n_id
       |  JOIN embeddings db ON db.vec_id = b.n_id
       |), sel1 AS MATERIALIZED (
       |  SELECT q_id, n_id, qsim AS score, 1 AS mmr_rank FROM (
       |    SELECT q_id, n_id, qsim,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY qsim DESC, n_id) AS r
       |    FROM cand
       |  ) WHERE r = 1
       |),
       |$iters
       |SELECT q_id, n_id, round(score, 4) AS mmr_score, mmr_rank
       |FROM sel$MmrK""".stripMargin
  }

  // F16 exact k-NN graph: the brute shape with q = the md5 hash-range
  // SAMPLE of sources (the same deterministic predicate as
  // knnSampleMember) against the full corpus
  private lazy val oracleSqlKnnExact: String =
    s"""WITH q AS (SELECT vec_id AS src_id, embedding AS qv FROM embeddings
       |  WHERE ('0x' || substr(md5('knns|' || vec_id), 1, 8))::bigint % $KnnSampleMod = 0),
       |n AS (SELECT vec_id AS nbr_id, embedding AS nv FROM embeddings),
       |s AS (
       |  SELECT src_id, nbr_id, ${cosSql("qv", "nv")} AS cos
       |  FROM q, n WHERE src_id <> nbr_id
       |), r AS (
       |  SELECT src_id, nbr_id, cos,
       |    row_number() OVER (PARTITION BY src_id ORDER BY cos DESC, nbr_id) AS rnk
       |  FROM s
       |)
       |SELECT src_id, nbr_id, round(cos, 4) AS cos, rnk FROM r WHERE rnk <= $KnnK""".stripMargin

  // F16 LSH k-NN graph: the ann shape with every vector as a query
  private lazy val oracleSqlKnnLsh: String = {
    val bandSelects = Tables64.zipWithIndex.map { case (pl, t) =>
      s"SELECT vec_id AS id, $t AS t, ${bucketSql("embedding", pl)} AS bucket FROM embeddings"
    }.mkString("\nUNION ALL\n")
    s"""WITH b AS (
       |$bandSelects
       |), cand AS (
       |  SELECT DISTINCT a.id AS src_id, b.id AS nbr_id
       |  FROM b a JOIN b ON a.t = b.t AND a.bucket = b.bucket AND a.id <> b.id
       |), s AS (
       |  SELECT c.src_id, c.nbr_id, ${cosSql("se.embedding", "ne.embedding")} AS cos
       |  FROM cand c
       |  JOIN embeddings se ON se.vec_id = c.src_id
       |  JOIN embeddings ne ON ne.vec_id = c.nbr_id
       |), r AS (
       |  SELECT src_id, nbr_id, cos,
       |    row_number() OVER (PARTITION BY src_id ORDER BY cos DESC, nbr_id) AS rnk
       |  FROM s
       |)
       |SELECT src_id, nbr_id, round(cos, 4) AS cos, rnk FROM r WHERE rnk <= $KnnK""".stripMargin
  }

  /** Mirror of simKnnInsert: incoming×base collisions, both
    * maintenance directions ranked. */
  private lazy val oracleSqlKnnInsert: String = {
    val bandSelects = Tables64.zipWithIndex.map { case (pl, t) =>
      s"SELECT vec_id AS id, $t AS t, ${bucketSql("embedding", pl)} AS bucket FROM embeddings"
    }.mkString("\nUNION ALL\n")
    s"""WITH b AS (
       |$bandSelects
       |), cand AS (
       |  SELECT DISTINCT a.id AS src_id, c.id AS nbr_id
       |  FROM b a JOIN b c ON a.t = c.t AND a.bucket = c.bucket
       |  WHERE a.id % $InsertMod = 0 AND c.id % $InsertMod <> 0
       |), s AS (
       |  SELECT c.src_id, c.nbr_id, ${cosSql("se.embedding", "ne.embedding")} AS cos
       |  FROM cand c
       |  JOIN embeddings se ON se.vec_id = c.src_id
       |  JOIN embeddings ne ON ne.vec_id = c.nbr_id
       |), f AS (
       |  SELECT 'fwd' AS direction, src_id, nbr_id, cos,
       |    row_number() OVER (PARTITION BY src_id ORDER BY cos DESC, nbr_id) AS rnk
       |  FROM s
       |), r AS (
       |  SELECT 'rev' AS direction, nbr_id AS src_id, src_id AS nbr_id, cos,
       |    row_number() OVER (PARTITION BY nbr_id ORDER BY cos DESC, src_id) AS rnk
       |  FROM s
       |)
       |SELECT direction, src_id, nbr_id, round(cos, 4) AS cos, rnk
       |FROM f WHERE rnk <= $KnnK
       |UNION ALL
       |SELECT direction, src_id, nbr_id, round(cos, 4) AS cos, rnk
       |FROM r WHERE rnk <= $KnnK""".stripMargin
  }

  /** Mirror of simKnnDelete: rebuild the stored graph, find sources
    * whose neighbor died, repair their top-k with tombstones
    * excluded. */
  private lazy val oracleSqlKnnDelete: String = {
    val bandSelects = Tables64.zipWithIndex.map { case (pl, t) =>
      s"SELECT vec_id AS id, $t AS t, ${bucketSql("embedding", pl)} AS bucket FROM embeddings"
    }.mkString("\nUNION ALL\n")
    s"""WITH b AS (
       |$bandSelects
       |), cand0 AS (
       |  SELECT DISTINCT a.id AS src_id, c.id AS nbr_id
       |  FROM b a JOIN b c ON a.t = c.t AND a.bucket = c.bucket AND a.id <> c.id
       |), s0 AS (
       |  SELECT c.src_id, c.nbr_id, ${cosSql("se.embedding", "ne.embedding")} AS cos
       |  FROM cand0 c
       |  JOIN embeddings se ON se.vec_id = c.src_id
       |  JOIN embeddings ne ON ne.vec_id = c.nbr_id
       |), g AS (
       |  SELECT src_id, nbr_id FROM (
       |    SELECT src_id, nbr_id,
       |      row_number() OVER (PARTITION BY src_id ORDER BY cos DESC, nbr_id) AS rnk
       |    FROM s0
       |  ) WHERE rnk <= $KnnK
       |), aff AS (
       |  SELECT DISTINCT src_id AS id FROM g
       |  WHERE nbr_id % $DeleteMod = 0 AND src_id % $DeleteMod <> 0
       |), cand AS (
       |  SELECT DISTINCT a.id AS src_id, c.id AS nbr_id
       |  FROM b a JOIN aff ON a.id = aff.id
       |  JOIN b c ON a.t = c.t AND a.bucket = c.bucket
       |  WHERE c.id % $DeleteMod <> 0 AND c.id <> a.id
       |), s AS (
       |  SELECT c.src_id, c.nbr_id, ${cosSql("se.embedding", "ne.embedding")} AS cos
       |  FROM cand c
       |  JOIN embeddings se ON se.vec_id = c.src_id
       |  JOIN embeddings ne ON ne.vec_id = c.nbr_id
       |), r AS (
       |  SELECT src_id, nbr_id, cos,
       |    row_number() OVER (PARTITION BY src_id ORDER BY cos DESC, nbr_id) AS rnk
       |  FROM s
       |)
       |SELECT src_id, nbr_id, round(cos, 4) AS cos, rnk FROM r WHERE rnk <= $KnnK""".stripMargin
  }

  private lazy val oracleSqlAnn: String = {
    val bandSelects = Tables64.zipWithIndex.map { case (pl, t) =>
      s"SELECT vec_id AS id, $t AS t, ${bucketSql("embedding", pl)} AS bucket FROM embeddings"
    }.mkString("\nUNION ALL\n")
    s"""WITH b AS (
       |$bandSelects
       |), q AS (SELECT id AS q_id, t, bucket FROM b WHERE id < $NumQueries),
       |cand AS (
       |  SELECT DISTINCT q.q_id, b.id
       |  FROM q JOIN b ON q.t = b.t AND q.bucket = b.bucket AND q.q_id <> b.id
       |), s AS (
       |  SELECT c.q_id, c.id AS n_id, ${cosSql("qe.embedding", "ne.embedding")} AS cos
       |  FROM cand c
       |  JOIN embeddings qe ON qe.vec_id = c.q_id
       |  JOIN embeddings ne ON ne.vec_id = c.id
       |), r AS (
       |  SELECT q_id, n_id, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |  FROM s
       |)
       |SELECT q_id, n_id, round(cos, 4) AS cos, rnk FROM r WHERE rnk <= $K""".stripMargin
  }

  /** F28 oracle: the ann bucket join restricted to an index of
    * id ≥ NumQueries, top-1 per query, LEFT-joined to the incoming
    * set with the admit verdict. */
  private lazy val oracleSqlAnnAdmit: String = {
    val bandSelects = Tables64.zipWithIndex.map { case (pl, t) =>
      s"SELECT vec_id AS id, $t AS t, ${bucketSql("embedding", pl)} AS bucket FROM embeddings"
    }.mkString("\nUNION ALL\n")
    s"""WITH b AS (
       |$bandSelects
       |), q AS (SELECT id AS q_id, t, bucket FROM b WHERE id < $NumQueries),
       |ix AS (SELECT id, t, bucket FROM b WHERE id >= $NumQueries),
       |cand AS (
       |  SELECT DISTINCT q.q_id, ix.id
       |  FROM q JOIN ix ON q.t = ix.t AND q.bucket = ix.bucket AND q.q_id <> ix.id
       |), s AS (
       |  SELECT c.q_id, c.id AS nn_id, ${cosSql("qe.embedding", "ne.embedding")} AS cos
       |  FROM cand c
       |  JOIN embeddings qe ON qe.vec_id = c.q_id
       |  JOIN embeddings ne ON ne.vec_id = c.id
       |), t1 AS (
       |  SELECT q_id, nn_id, round(cos, 4) AS nn_cos FROM (
       |    SELECT q_id, nn_id, cos,
       |      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nn_id) AS rnk
       |    FROM s
       |  ) WHERE rnk = 1
       |)
       |SELECT e.vec_id, t1.nn_id, t1.nn_cos,
       |  (CASE WHEN t1.nn_cos IS NULL OR t1.nn_cos < $AdmitTau
       |    THEN 1 ELSE 0 END) AS admitted
       |FROM (SELECT vec_id FROM embeddings WHERE vec_id < $NumQueries) e
       |LEFT JOIN t1 ON t1.q_id = e.vec_id""".stripMargin
  }

  /** Generated fixed-iteration DuckDB mirror of kmeansInt8 over the
    * quantized embeddings — shared by sim_kmeans and the semantic-dedup
    * oracle (dedup_semantic composes it as a subquery). */
  lazy val kmeansOracleSql: String = {

      val iterCtes = (1 to KmeansIters).map { i =>
        val centUpdate = if (i < KmeansIters)
          s""",
             |c$i AS MATERIALIZED (
             |  SELECT a.cid, q.dim, floor(sum(q.q)::double / count(*))::bigint AS c
             |  FROM a$i a JOIN qt q ON a.vec_id = q.vec_id
             |  GROUP BY 1, 2
             |)""".stripMargin
        else ""
        s"""d$i AS MATERIALIZED (
           |  SELECT qt.vec_id, c.cid, sum((qt.q - c.c) * (qt.q - c.c))::bigint AS dist
           |  FROM qt JOIN c${i - 1} c ON qt.dim = c.dim
           |  GROUP BY 1, 2
           |),
           |a$i AS MATERIALIZED (
           |  SELECT vec_id, cid, dist FROM (
           |    SELECT vec_id, cid, dist,
           |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS r
           |    FROM d$i
           |  ) WHERE r = 1
           |)$centUpdate""".stripMargin
      }.mkString(",\n")
      s"""WITH ex AS (
         |  SELECT vec_id, unnest(range(0, length(embedding)))::int AS dim, embedding
         |  FROM embeddings
         |), v AS (
         |  SELECT vec_id, dim, embedding[dim + 1]::double AS x FROM ex
         |), m AS (
         |  SELECT vec_id, max(abs(x)) AS maxabs FROM v GROUP BY 1
         |), qt AS MATERIALIZED (
         |  SELECT v.vec_id, v.dim,
         |    CASE WHEN m.maxabs = 0 THEN 0
         |         ELSE round(v.x * 127 / m.maxabs)::int END AS q
         |  FROM v JOIN m ON v.vec_id = m.vec_id
         |), seeds AS (
         |  SELECT vec_id, (row_number() OVER (ORDER BY vec_id) - 1)::int AS cid
         |  FROM (SELECT DISTINCT vec_id FROM qt ORDER BY vec_id LIMIT $KmeansK)
         |), c0 AS MATERIALIZED (
         |  SELECT s.cid, q.dim, q.q::bigint AS c
         |  FROM seeds s JOIN qt q ON s.vec_id = q.vec_id
         |),
         |$iterCtes
         |SELECT vec_id, cid AS cluster, dist AS dist_sq FROM a$KmeansIters""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "sim_quantize" -> oracleSqlQuantize,

    // F17: integer dot over the same quantized codes (nested quantize
    // oracle — drift-proof), per-query rank; plus the nested recall
    // against exact cosine
    "sim_int8_topk" -> oracleSqlInt8,
    "sim_int8_recall" ->
      s"""WITH exact AS (SELECT q_id, n_id FROM (${oracleSqlBrute})),
         |i8 AS (SELECT q_id, n_id FROM (${oracleSqlInt8})),
         |hits AS (
         |  SELECT a.q_id, count(*) AS hits
         |  FROM i8 a WHERE EXISTS (
         |    SELECT 1 FROM exact b WHERE b.q_id = a.q_id AND b.n_id = a.n_id)
         |  GROUP BY a.q_id
         |)
         |SELECT e.q_id, coalesce(h.hits, 0) AS hits,
         |  round(coalesce(h.hits, 0)::double / $K, 4) AS recall
         |FROM (SELECT DISTINCT q_id FROM exact) e
         |LEFT JOIN hits h ON h.q_id = e.q_id""".stripMargin,

    // mirrors Similarity.kmeansInt8 iteration for iteration over the
    // generated quantization CTE: integer distances, floor(Σq/n)
    // centroid updates, min-cid ties — every value exact, no rounding
    // needed anywhere
    "sim_kmeans" -> kmeansOracleSql,

    // mirrors Similarity.centroidDistance: same exploded rows, same
    // per-(label, dim) mean, same (x−μ)² sum — round(4) absorbs the
    // aggregation-order ulp in both reductions
    "sim_centroid_dist" ->
      """WITH ex AS (
        |  SELECT label, vec_id AS id,
        |    unnest(range(0, length(embedding)))::int AS dim, embedding
        |  FROM embeddings
        |), v AS (
        |  SELECT label, id, dim, embedding[dim + 1]::double AS x FROM ex
        |), mu AS (
        |  SELECT label, dim, avg(x) AS mu FROM v GROUP BY 1, 2
        |)
        |SELECT v.label, v.id, round(sqrt(sum((x - mu) * (x - mu))), 4) AS dist
        |FROM v JOIN mu ON v.label = mu.label AND v.dim = mu.dim
        |GROUP BY 1, 2""".stripMargin,

    "sim_topk_brute" -> oracleSqlBrute,

    "sim_matryoshka" -> oracleSqlMatryoshka,

    // recall@k of the prefix funnel vs exact cosine — nested oracles
    // (the sim_ann_recall pattern), drift-proof
    "sim_matryoshka_recall" ->
      s"""WITH exact AS (SELECT q_id, n_id FROM (${oracleSqlBrute})),
         |mt AS (SELECT q_id, n_id FROM (${oracleSqlMatryoshka})),
         |hits AS (
         |  SELECT a.q_id, count(*) AS hits
         |  FROM mt a WHERE EXISTS (
         |    SELECT 1 FROM exact b WHERE b.q_id = a.q_id AND b.n_id = a.n_id)
         |  GROUP BY a.q_id
         |)
         |SELECT e.q_id, coalesce(h.hits, 0) AS hits,
         |  round(coalesce(h.hits, 0)::double / $K, 4) AS recall
         |FROM (SELECT DISTINCT q_id FROM exact) e
         |LEFT JOIN hits h ON h.q_id = e.q_id""".stripMargin,

    // same cosine tree as the brute oracle, threshold instead of rank
    "sim_range" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < $NumQueries),
         |n AS (SELECT vec_id AS n_id, embedding AS nv FROM embeddings),
         |s AS (
         |  SELECT q_id, n_id, ${cosSql("qv", "nv")} AS cos
         |  FROM q, n WHERE q_id <> n_id
         |)
         |SELECT q_id, n_id, round(cos, 4) AS cos FROM s WHERE cos >= $RangeTau""".stripMargin,

    "sim_mips" -> oracleSqlMips,

    "sim_mips_ann" -> oracleSqlMipsAnn,

    // recall@k of the norm-augmentation MIPS reduction vs exact MIPS —
    // nested oracles (the sim_ann_recall pattern), drift-proof
    "sim_mips_ann_recall" ->
      s"""WITH exact AS (SELECT q_id, n_id FROM (${oracleSqlMips})),
         |ann AS (SELECT q_id, n_id FROM (${oracleSqlMipsAnn})),
         |hits AS (
         |  SELECT a.q_id, count(*) AS hits
         |  FROM ann a WHERE EXISTS (
         |    SELECT 1 FROM exact b WHERE b.q_id = a.q_id AND b.n_id = a.n_id)
         |  GROUP BY a.q_id
         |)
         |SELECT q.q_id, coalesce(h.hits, 0) AS hits,
         |  round(coalesce(h.hits, 0)::double / $K, 4) AS recall
         |FROM (SELECT DISTINCT q_id FROM exact) q
         |LEFT JOIN hits h ON q.q_id = h.q_id""".stripMargin,

    "sim_ann_lsh" -> oracleSqlAnn,
    // F28: top-1 evidence + admit verdict, left-joined so
    // no-candidate incoming rows survive with null evidence
    "sim_ann_admit" -> oracleSqlAnnAdmit,
    // F29: the F28 dial — banded vs exact top-1 and the verdict
    // agreement, both sides nested so the oracle cannot drift
    "sim_ann_admit_recall" ->
      s"""WITH banded AS MATERIALIZED ($oracleSqlAnnAdmit),
         |ex AS (
         |  SELECT e.vec_id AS q_id, n.vec_id AS n_id,
         |    ${cosSql("e.embedding", "n.embedding")} AS cos
         |  FROM embeddings e, embeddings n
         |  WHERE e.vec_id < $NumQueries AND n.vec_id >= $NumQueries
         |    AND e.vec_id <> n.vec_id
         |),
         |exact AS (
         |  SELECT q_id AS vec_id, n_id AS exact_nn,
         |    round(cos, 4) AS exact_cos FROM (
         |    SELECT q_id, n_id, cos,
         |      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
         |    FROM ex
         |  ) WHERE rnk = 1
         |)
         |SELECT b.vec_id, b.nn_id, b.nn_cos, x.exact_nn, x.exact_cos,
         |  (CASE WHEN b.nn_id = x.exact_nn THEN 1 ELSE 0 END) AS top1_match,
         |  (CASE WHEN b.admitted =
         |     (CASE WHEN x.exact_cos IS NULL OR x.exact_cos < $AdmitTau
         |        THEN 1 ELSE 0 END)
         |   THEN 1 ELSE 0 END) AS verdict_match
         |FROM banded b LEFT JOIN exact x ON x.vec_id = b.vec_id""".stripMargin,

    // F16: the brute oracle shape with q = ALL vectors (the exact
    // k-NN graph), the ann oracle shape likewise, and the nested
    // recall — all three generated so they cannot drift
    // F22: nested-graph beam recursion + the nested recall
    "sim_beam" -> oracleSqlBeam,
    "sim_mmr" -> oracleSqlMmr,
    "sim_beam_sweep" -> oracleSqlBeamSweep,
    "sim_hnsw" -> oracleSqlHnsw,
    "sim_hnsw3" -> oracleSqlHnsw3,
    "sim_hnsw3_recall" ->
      s"""WITH exact AS (SELECT q_id, n_id FROM (${oracleSqlBrute})),
         |hh AS (SELECT q_id, n_id FROM (${oracleSqlHnsw3})),
         |hits AS (
         |  SELECT a.q_id, count(*) AS hits
         |  FROM hh a WHERE EXISTS (
         |    SELECT 1 FROM exact b WHERE b.q_id = a.q_id AND b.n_id = a.n_id)
         |  GROUP BY a.q_id
         |)
         |SELECT e.q_id, coalesce(h.hits, 0) AS hits,
         |  round(coalesce(h.hits, 0)::double / $K, 4) AS recall
         |FROM (SELECT DISTINCT q_id FROM exact) e
         |LEFT JOIN hits h ON h.q_id = e.q_id""".stripMargin,
    "sim_hnsw_recall" ->
      s"""WITH exact AS (SELECT q_id, n_id FROM (${oracleSqlBrute})),
         |hh AS (SELECT q_id, n_id FROM (${oracleSqlHnsw})),
         |hits AS (
         |  SELECT a.q_id, count(*) AS hits
         |  FROM hh a WHERE EXISTS (
         |    SELECT 1 FROM exact b WHERE b.q_id = a.q_id AND b.n_id = a.n_id)
         |  GROUP BY a.q_id
         |)
         |SELECT e.q_id, coalesce(h.hits, 0) AS hits,
         |  round(coalesce(h.hits, 0)::double / $K, 4) AS recall
         |FROM (SELECT DISTINCT q_id FROM exact) e
         |LEFT JOIN hits h ON h.q_id = e.q_id""".stripMargin,
    "sim_beam_recall" ->
      s"""WITH exact AS (SELECT q_id, n_id FROM (${oracleSqlBrute})),
         |beam AS (SELECT q_id, n_id FROM (${oracleSqlBeam})),
         |hits AS (
         |  SELECT a.q_id, count(*) AS hits
         |  FROM beam a WHERE EXISTS (
         |    SELECT 1 FROM exact b WHERE b.q_id = a.q_id AND b.n_id = a.n_id)
         |  GROUP BY a.q_id
         |)
         |SELECT e.q_id, coalesce(h.hits, 0) AS hits,
         |  round(coalesce(h.hits, 0)::double / $K, 4) AS recall
         |FROM (SELECT DISTINCT q_id FROM exact) e
         |LEFT JOIN hits h ON h.q_id = e.q_id""".stripMargin,

    // F21: the same index-order per-row norm sum, quantile_cont
    "sim_norms" ->
      """WITH n AS (
        |  SELECT label,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> x::double * x::double))) AS nrm
        |  FROM embeddings
        |)
        |SELECT label, count(*) AS n_vectors,
        |  round(quantile_cont(nrm, 0.05), 4) AS norm_p5,
        |  round(quantile_cont(nrm, 0.5), 4) AS norm_p50,
        |  round(quantile_cont(nrm, 0.95), 4) AS norm_p95
        |FROM n GROUP BY label""".stripMargin,

    // F20: pre-filter exact, post-filter ANN, and the nested
    // per-query-denominator recall that exposes the gap between them
    "sim_filtered" -> oracleSqlFilteredBrute,
    "sim_filtered_ann" -> oracleSqlFilteredAnn,
    "sim_filtered_recall" ->
      s"""WITH exact AS (SELECT q_id, n_id FROM (${oracleSqlFilteredBrute})),
         |ann AS (SELECT q_id, n_id FROM (${oracleSqlFilteredAnn})),
         |truth AS (SELECT q_id, count(*) AS n_true FROM exact GROUP BY 1),
         |hits AS (
         |  SELECT a.q_id, count(*) AS hits
         |  FROM ann a WHERE EXISTS (
         |    SELECT 1 FROM exact b WHERE b.q_id = a.q_id AND b.n_id = a.n_id)
         |  GROUP BY a.q_id
         |)
         |SELECT t.q_id, t.n_true, coalesce(h.hits, 0) AS hits,
         |  round(coalesce(h.hits, 0)::double / t.n_true, 4) AS recall
         |FROM truth t LEFT JOIN hits h ON h.q_id = t.q_id""".stripMargin,

    // F19: same per-dim centroid means and three-sum cosine assembly
    "sim_drift" ->
      """WITH ex AS (
        |  SELECT label, vec_id % 2 AS half,
        |    unnest(range(0, length(embedding)))::int AS dim, embedding
        |  FROM embeddings
        |), v AS (
        |  SELECT label, half, dim, embedding[dim + 1]::double AS x FROM ex
        |), cent AS (
        |  SELECT label, half, dim, sum(x) / count(*) AS c
        |  FROM v GROUP BY 1, 2, 3
        |), j AS (
        |  SELECT a.label, a.dim, a.c AS ca, b.c AS cb
        |  FROM cent a JOIN cent b
        |    ON a.label = b.label AND a.dim = b.dim
        |   AND a.half = 0 AND b.half = 1
        |)
        |SELECT label,
        |  round(sum(ca * cb) / (sqrt(sum(ca * ca)) * sqrt(sum(cb * cb))), 4)
        |    AS half_cosine
        |FROM j GROUP BY label""".stripMargin,

    "sim_knn_graph" -> oracleSqlKnnExact,
    "sim_knn_graph_lsh" -> oracleSqlKnnLsh,
    "sim_knn_insert" -> oracleSqlKnnInsert,
    "sim_knn_delete" -> oracleSqlKnnDelete,
    "sim_knn_recall" ->
      s"""WITH exact AS (SELECT src_id, nbr_id FROM (${oracleSqlKnnExact})),
         |lsh AS (SELECT src_id, nbr_id FROM (${oracleSqlKnnLsh})
         |  WHERE ('0x' || substr(md5('knns|' || src_id), 1, 8))::bigint % $KnnSampleMod = 0),
         |hits AS (
         |  SELECT a.src_id, count(*) AS hits
         |  FROM lsh a WHERE EXISTS (
         |    SELECT 1 FROM exact b
         |    WHERE b.src_id = a.src_id AND b.nbr_id = a.nbr_id)
         |  GROUP BY a.src_id
         |)
         |SELECT e.src_id, coalesce(h.hits, 0) AS hits,
         |  round(coalesce(h.hits, 0)::double / $KnnK, 4) AS recall
         |FROM (SELECT DISTINCT src_id FROM exact) e
         |LEFT JOIN hits h ON h.src_id = e.src_id""".stripMargin,

    "sim_ann_recall" ->
      // the brute / ann oracles nest as derived tables (DuckDB allows a
      // WITH clause inside a parenthesized subquery), so this oracle
      // cannot drift from theirs
      s"""WITH brute AS (SELECT q_id, n_id FROM (${oracleSqlBrute})),
         |ann AS (SELECT q_id, n_id FROM (${oracleSqlAnn})),
         |hits AS (
         |  SELECT a.q_id, count(*) AS hits
         |  FROM ann a WHERE EXISTS (
         |    SELECT 1 FROM brute b WHERE b.q_id = a.q_id AND b.n_id = a.n_id)
         |  GROUP BY a.q_id
         |)
         |SELECT q.q_id, coalesce(h.hits, 0) AS hits,
         |  round(coalesce(h.hits, 0)::double / $K, 4) AS recall
         |FROM (SELECT DISTINCT q_id FROM brute) q
         |LEFT JOIN hits h ON q.q_id = h.q_id""".stripMargin,

    "sim_ivf" -> oracleSqlIvf(NProbe),

    // F18: the recall-vs-nprobe curve — each leg nests the
    // parameterized IVF oracle, so the sweep cannot drift from the
    // single-point sim_ivf query
    "sim_ivf_sweep" -> SweepProbes.map { p =>
      s"""SELECT $p AS nprobe, e.q_id, coalesce(h.hits, 0) AS hits,
         |  round(coalesce(h.hits, 0)::double / $K, 4) AS recall
         |FROM (SELECT DISTINCT q_id FROM (${oracleSqlBrute})) e
         |LEFT JOIN (
         |  SELECT a.q_id, count(*) AS hits
         |  FROM (SELECT q_id, n_id FROM (${oracleSqlIvf(p)})) a
         |  WHERE EXISTS (SELECT 1 FROM (${oracleSqlBrute}) b
         |                WHERE b.q_id = a.q_id AND b.n_id = a.n_id)
         |  GROUP BY a.q_id
         |) h ON h.q_id = e.q_id""".stripMargin
    }.mkString("\nUNION ALL\n"),

    "sim_pq" -> oracleSqlPq,

    "sim_ivfpq" -> oracleSqlIvfPq,

    // recall of the COMPOSED approximation vs brute-force cosine —
    // nested oracles (the sim_pq_recall pattern)
    "sim_ivfpq_recall" ->
      s"""WITH brute AS (SELECT q_id, n_id FROM (${oracleSqlBrute})),
         |ivfpq AS (SELECT q_id, n_id FROM (${oracleSqlIvfPq})),
         |hits AS (
         |  SELECT a.q_id, count(*) AS hits
         |  FROM ivfpq a WHERE EXISTS (
         |    SELECT 1 FROM brute b WHERE b.q_id = a.q_id AND b.n_id = a.n_id)
         |  GROUP BY a.q_id
         |)
         |SELECT q.q_id, coalesce(h.hits, 0) AS hits,
         |  round(coalesce(h.hits, 0)::double / $K, 4) AS recall
         |FROM (SELECT DISTINCT q_id FROM brute) q
         |LEFT JOIN hits h ON q.q_id = h.q_id""".stripMargin,

    // recall@k of PQ-ADC vs exact cosine ground truth — nested oracles
    // (the sim_ann_recall pattern), so this cannot drift from either
    "sim_hamming" -> oracleSqlHamming,

    "sim_hamming_recall" ->
      s"""WITH brute AS (SELECT q_id, n_id FROM (${oracleSqlBrute})),
         |ham AS (SELECT q_id, n_id FROM (${oracleSqlHamming})),
         |hits AS (
         |  SELECT a.q_id, count(*) AS hits
         |  FROM ham a WHERE EXISTS (
         |    SELECT 1 FROM brute b WHERE b.q_id = a.q_id AND b.n_id = a.n_id)
         |  GROUP BY a.q_id
         |)
         |SELECT q.q_id, coalesce(h.hits, 0) AS hits,
         |  round(coalesce(h.hits, 0)::double / $K, 4) AS recall
         |FROM (SELECT DISTINCT q_id FROM brute) q
         |LEFT JOIN hits h ON q.q_id = h.q_id""".stripMargin,

    // two-stage stack: K'-candidate Hamming CTE (same generator as
    // sim_hamming, wider k) + exact-cosine rescore of candidates only
    "sim_rerank" ->
      s"""WITH cand AS (SELECT q_id, n_id FROM (${hammingSqlK(RerankCand)})),
         |sc AS (
         |  SELECT c.q_id, c.n_id, ${cosSql("qe.embedding", "ne.embedding")} AS cos
         |  FROM cand c
         |  JOIN embeddings qe ON qe.vec_id = c.q_id
         |  JOIN embeddings ne ON ne.vec_id = c.n_id
         |), r AS (
         |  SELECT q_id, n_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
         |  FROM sc
         |)
         |SELECT q_id, n_id, round(cos, 4) AS cos, rnk FROM r WHERE rnk <= $K""".stripMargin,

    "sim_rerank_recall" ->
      s"""WITH brute AS (SELECT q_id, n_id FROM (${oracleSqlBrute})),
         |cand AS (SELECT q_id, n_id FROM (${hammingSqlK(RerankCand)})),
         |sc AS (
         |  SELECT c.q_id, c.n_id, ${cosSql("qe.embedding", "ne.embedding")} AS cos
         |  FROM cand c
         |  JOIN embeddings qe ON qe.vec_id = c.q_id
         |  JOIN embeddings ne ON ne.vec_id = c.n_id
         |), rr AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
         |    FROM sc) WHERE rnk <= $K
         |), hits AS (
         |  SELECT a.q_id, count(*) AS hits
         |  FROM rr a WHERE EXISTS (
         |    SELECT 1 FROM brute b WHERE b.q_id = a.q_id AND b.n_id = a.n_id)
         |  GROUP BY a.q_id
         |)
         |SELECT q.q_id, coalesce(h.hits, 0) AS hits,
         |  round(coalesce(h.hits, 0)::double / $K, 4) AS recall
         |FROM (SELECT DISTINCT q_id FROM brute) q
         |LEFT JOIN hits h ON q.q_id = h.q_id""".stripMargin,

    "sim_pq_recall" ->
      s"""WITH brute AS (SELECT q_id, n_id FROM (${oracleSqlBrute})),
         |pq AS (SELECT q_id, n_id FROM (${oracleSqlPq})),
         |hits AS (
         |  SELECT a.q_id, count(*) AS hits
         |  FROM pq a WHERE EXISTS (
         |    SELECT 1 FROM brute b WHERE b.q_id = a.q_id AND b.n_id = a.n_id)
         |  GROUP BY a.q_id
         |)
         |SELECT q.q_id, coalesce(h.hits, 0) AS hits,
         |  round(coalesce(h.hits, 0)::double / $K, 4) AS recall
         |FROM (SELECT DISTINCT q_id FROM brute) q
         |LEFT JOIN hits h ON q.q_id = h.q_id""".stripMargin,
  )

  private lazy val oracleSqlMips: String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < $NumQueries),
       |n AS (SELECT vec_id AS n_id, embedding AS nv FROM embeddings),
       |s AS (
       |  SELECT q_id, n_id, ${dotSql("qv", "nv")} AS dot
       |  FROM q, n WHERE q_id <> n_id
       |), r AS (
       |  SELECT q_id, n_id, dot,
       |    row_number() OVER (PARTITION BY q_id ORDER BY dot DESC, n_id) AS rnk
       |  FROM s
       |)
       |SELECT q_id, n_id, round(dot, 4) AS dot, rnk FROM r WHERE rnk <= $K""".stripMargin

  // mirrors Similarity.mipsViaAnn: identical augmentation expressions
  // (‖x‖² in element order, max over identical doubles, the same
  // sqrt(greatest(0, M²−‖x‖²)) appended) and identical 65-dim bucket
  // dots, so buckets — and therefore candidates and ranks — agree
  // bit-for-bit across engines
  private lazy val oracleSqlMipsAnn: String = {
    val itemBuckets = Tables65.zipWithIndex.map { case (pl, t) =>
      s"SELECT id, $t AS t, ${bucketSql("av", pl)} AS bucket FROM items"
    }.mkString("\nUNION ALL\n")
    val queryBuckets = Tables65.zipWithIndex.map { case (pl, t) =>
      s"SELECT id, $t AS t, ${bucketSql("av", pl)} AS bucket FROM qs"
    }.mkString("\nUNION ALL\n")
    s"""WITH base AS (
       |  SELECT vec_id AS id, embedding,
       |    ${dotSql("embedding", "embedding")} AS nsq
       |  FROM embeddings
       |), mx AS (SELECT max(nsq) AS max_nsq FROM base),
       |items AS (
       |  SELECT id, list_append(embedding,
       |    sqrt(greatest(0.0, mx.max_nsq - nsq))) AS av
       |  FROM base, mx
       |), qs AS (
       |  SELECT id, list_append(embedding, 0.0) AS av
       |  FROM base WHERE id < $NumQueries
       |), bi AS (
       |$itemBuckets
       |), bq AS (
       |$queryBuckets
       |), cand AS (
       |  SELECT DISTINCT bq.id AS q_id, bi.id
       |  FROM bq JOIN bi ON bq.t = bi.t AND bq.bucket = bi.bucket AND bq.id <> bi.id
       |), s AS (
       |  SELECT c.q_id, c.id AS n_id, ${dotSql("qe.embedding", "ne.embedding")} AS dot
       |  FROM cand c
       |  JOIN embeddings qe ON qe.vec_id = c.q_id
       |  JOIN embeddings ne ON ne.vec_id = c.id
       |), r AS (
       |  SELECT q_id, n_id, dot,
       |    row_number() OVER (PARTITION BY q_id ORDER BY dot DESC, n_id) AS rnk
       |  FROM s
       |)
       |SELECT q_id, n_id, round(dot, 4) AS dot, rnk FROM r WHERE rnk <= $K""".stripMargin
  }

  // mirrors Similarity.pqTopK: same codebook (sub-vectors of the
  // first PqCodebook ids), same ||a−b||² expression, and the same
  // FIXED-ORDER d0+…+d7 sum (one conditional aggregate per
  // sub-space) so the ADC doubles are bit-identical pre-round
  /** IVF-PQ oracle: the sim_ivf routing CTEs composed with the sim_pq
    * code/distance-table CTEs — candidates from probed lists, ADC over
    * candidates only, all generated from the same constants. */
  private lazy val oracleSqlIvfPq: String = {
    val d2 = (a: String, b: String) =>
      s"${dotSql(a, a)} - 2.0 * ${dotSql(a, b)} + ${dotSql(b, b)}"
    val fixedSum = (0 until PqM)
      .map(i => s"sum(CASE WHEN m = $i THEN d END)").mkString(" + ")
    s"""WITH c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings WHERE vec_id < $NCentroids),
       |v AS (SELECT vec_id AS id, embedding AS vv FROM embeddings),
       |asg AS (
       |  SELECT id, c_id FROM (
       |    SELECT v.id, c.c_id,
       |      row_number() OVER (PARTITION BY v.id
       |        ORDER BY ${cosSql("vv", "cv")} DESC, c.c_id) AS r
       |    FROM v, c) WHERE r = 1
       |),
       |q0 AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < $NumQueries),
       |pr AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q0.q_id, c.c_id,
       |      row_number() OVER (PARTITION BY q0.q_id
       |        ORDER BY ${cosSql("qv", "cv")} DESC, c.c_id) AS r
       |    FROM q0, c) WHERE r <= $NProbe
       |),
       |cand AS (
       |  SELECT pr.q_id, asg.id FROM pr JOIN asg ON pr.c_id = asg.c_id
       |  WHERE pr.q_id <> asg.id
       |),
       |sub AS (
       |  SELECT vec_id AS id, unnest(range(0, $PqM))::int AS m, embedding
       |  FROM embeddings
       |), s2 AS (
       |  SELECT id, m,
       |    embedding[m * $PqSubDim + 1 : (m + 1) * $PqSubDim] AS sv
       |  FROM sub
       |), cb AS (
       |  SELECT id AS c_id, m, sv AS cv FROM s2 WHERE id < $PqCodebook
       |), enc AS (
       |  SELECT id, m, c_id AS code FROM (
       |    SELECT s.id, s.m, c.c_id,
       |      row_number() OVER (PARTITION BY s.id, s.m
       |        ORDER BY ${d2("s.sv", "c.cv")} ASC, c.c_id) AS r
       |    FROM s2 s JOIN cb c ON s.m = c.m
       |  ) WHERE r = 1
       |), dt AS (
       |  SELECT q.id AS q_id, q.m, c.c_id, ${d2("q.sv", "c.cv")} AS d
       |  FROM s2 q JOIN cb c ON q.m = c.m
       |  WHERE q.id < $NumQueries
       |), j AS (
       |  SELECT cand.q_id, enc.id AS n_id, enc.m, dt.d
       |  FROM cand
       |  JOIN enc ON cand.id = enc.id
       |  JOIN dt ON enc.m = dt.m AND enc.code = dt.c_id AND dt.q_id = cand.q_id
       |), a AS (
       |  SELECT q_id, n_id, $fixedSum AS adc FROM j GROUP BY 1, 2
       |), r AS (
       |  SELECT q_id, n_id, adc,
       |    row_number() OVER (PARTITION BY q_id ORDER BY adc ASC, n_id) AS rnk
       |  FROM a
       |)
       |SELECT q_id, n_id, round(adc, 4) AS adc, rnk FROM r WHERE rnk <= $K""".stripMargin
  }

  private lazy val oracleSqlPq: String = {
      val d2 = (a: String, b: String) =>
        s"${dotSql(a, a)} - 2.0 * ${dotSql(a, b)} + ${dotSql(b, b)}"
      val fixedSum = (0 until PqM)
        .map(i => s"sum(CASE WHEN m = $i THEN d END)").mkString(" + ")
      s"""WITH sub AS (
         |  SELECT vec_id AS id, unnest(range(0, $PqM))::int AS m, embedding
         |  FROM embeddings
         |), s2 AS (
         |  SELECT id, m,
         |    embedding[m * $PqSubDim + 1 : (m + 1) * $PqSubDim] AS sv
         |  FROM sub
         |), cb AS (
         |  SELECT id AS c_id, m, sv AS cv FROM s2 WHERE id < $PqCodebook
         |), enc AS (
         |  SELECT id, m, c_id AS code FROM (
         |    SELECT s.id, s.m, c.c_id,
         |      row_number() OVER (PARTITION BY s.id, s.m
         |        ORDER BY ${d2("s.sv", "c.cv")} ASC, c.c_id) AS r
         |    FROM s2 s JOIN cb c ON s.m = c.m
         |  ) WHERE r = 1
         |), dt AS (
         |  SELECT q.id AS q_id, q.m, c.c_id, ${d2("q.sv", "c.cv")} AS d
         |  FROM s2 q JOIN cb c ON q.m = c.m
         |  WHERE q.id < $NumQueries
         |), j AS (
         |  SELECT dt.q_id, enc.id AS n_id, enc.m, dt.d
         |  FROM enc JOIN dt ON enc.m = dt.m AND enc.code = dt.c_id
         |  WHERE dt.q_id <> enc.id
         |), a AS (
         |  SELECT q_id, n_id, $fixedSum AS adc FROM j GROUP BY 1, 2
         |), r AS (
         |  SELECT q_id, n_id, adc,
         |    row_number() OVER (PARTITION BY q_id ORDER BY adc ASC, n_id) AS rnk
         |  FROM a
         |)
         |SELECT q_id, n_id, round(adc, 4) AS adc, rnk FROM r WHERE rnk <= $K""".stripMargin
  }

}
