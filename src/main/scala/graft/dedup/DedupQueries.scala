package graft.dedup

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Driver-facing dedup queries (SURVEY §2 E1-E5) over `documents` /
  * `embeddings`, with DuckDB oracle SQL GENERATED from the same
  * parameters (k, bands, rows, thresholds) the operators run with.
  */
object DedupQueries {

  // shared parameters — both the Spark operators and the oracle SQL
  // are generated from these, so they cannot drift.
  val K = 3
  val Bands = 4
  val RowsPerBand = 3
  val JaccardThreshold = 0.5
  val MaxHamming = 3
  val CosineThreshold = 0.4 // synthetic embeddings are near-orthogonal; 0.4 yields non-trivial pairs

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactDedup(Tables.documents(spark, dir), "doc_id", "text")

  /** Persisted signature tables for this (session, dir) — built once
    * (the write-once / query-many surface); minhash, jaccard and
    * survivors all read them, so the corpus-scale shingle scan runs
    * once per session instead of once per query. */
  private def sigTables(spark: SparkSession, dir: String): Dedup.SignatureTables =
    Dedup.writeSignatureTables(spark, Tables.documents(spark, dir),
      "doc_id", "text", K, Bands, RowsPerBand,
      key = graft.store.GraftStore.dirKey(dir))

  /** Force the persisted signature tables to exist — the bench calls
    * this so the one-time build is paid (and reported) OUTSIDE the
    * per-query read-path timings. */
  def warmStores(spark: SparkSession, dir: String): Unit = {
    sigTables(spark, dir); ()
  }

  /** The E9 verified-pair build, warmed as its OWN labeled thunk: its
    * cost is the fleet's one data-profile-sensitive number (r14
    * verdict), so the bench pins it per round instead of letting it
    * hide inside the dedup family total. */
  def warmContainment(spark: SparkSession, dir: String): Unit = {
    containmentTable(spark, dir); ()
  }

  /** E9 recall DIAL, re-measured against live data (r15 verdict #7:
    * the budget-4 = recall-1.000 measurement lived in SURVEY prose,
    * pinned to one corpus profile — the bench now emits it every
    * round so data drift can't silently erode the valve). Returns
    * (budget, recall, candidateMassRatio, budgetedPairs, exactPairs):
    * recall = verified pairs under the budget / verified pairs at the
    * exact end (budget ≥ maxDf−1 keeps every blocked pair, so the
    * budgeted verified set is a SUBSET and the ratio is a true
    * recall); massRatio = budgeted candidates / exact candidates, the
    * cost side of the dial. One extra exact-end build per bench —
    * bounded by the same rare-shingle blocking, just without the
    * per-shingle budget. */
  def containmentDial(spark: SparkSession, dir: String): (Int, Double, Double, Long, Long) = {
    val sig = spark.table(sigTables(spark, dir).sig).select(col("id"), col("sh"))
    val candB = Dedup.containmentCandidates(sig, ContainmentMaxDf,
      ContainmentRankBudget).count()
    val candE = Dedup.containmentCandidates(sig, ContainmentMaxDf,
      ContainmentMaxDf).count()
    val pairsB = spark.table(containmentTable(spark, dir)).count()
    val pairsE = Dedup.containmentFromSets(sig, ContainmentMaxDf,
      ContainmentThreshold, ContainmentMaxDf).count()
    val recall = if (pairsE == 0) 1.0 else pairsB.toDouble / pairsE
    val mass = if (candE == 0) 1.0 else candB.toDouble / candE
    (ContainmentRankBudget, recall, mass, pairsB, pairsE)
  }

  def dedupMinhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairsFromBanded(spark.table(sigTables(spark, dir).banded))

  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashDf(Tables.documents(spark, dir), "doc_id", "text")

  def dedupJaccardPairs(spark: SparkSession, dir: String): DataFrame = {
    val st = sigTables(spark, dir)
    Dedup.jaccardVerify(
      Dedup.minhashPairsFromBanded(spark.table(st.banded)),
      spark.table(st.sig).select(col("id"), col("sh")),
      JaccardThreshold)
  }

  /** E18: sorted-neighborhood blocking window (each record pairs with
    * the next w−1 in sort order). */
  val SnmWindow = 4

  /** E18: sorted-neighborhood method (Hernández & Stolfo) — the OTHER
    * classic candidate-generation family next to LSH banding: sort the
    * corpus on a domain key (here the normalized text prefix,
    * id-suffixed into a total order) and pair each record with its w−1
    * successors. SNM catches near-dups whose edits live OUTSIDE the
    * key prefix regardless of shingle overlap geometry, and its
    * candidate count is exactly n·(w−1) — linear by construction, the
    * strongest possible scale guarantee. The sort is the distributed
    * rankedAsc (range partitions + per-partition offsets, never a
    * global window); the window join is ONE equi-join after a w−1
    * offset explode; verification reads the persisted shingle sets.
    * Emits every window pair with its exact Jaccard and the matched
    * flag at the family threshold — the recall/precision evidence an
    * SNM-vs-LSH tuning decision needs. */
  def dedupSnmPairs(spark: SparkSession, dir: String): DataFrame = {
    val st = sigTables(spark, dir)
    val d = Tables.documents(spark, dir)
    val keyed = d.select(col("doc_id"),
      concat(substring(regexp_replace(trim(col("text")), " +", " "), 1, 16),
        lit("|"), col("doc_id").cast("string")).as("k"))
    val ranked = graft.graph.Graphs.rankedAsc(keyed.select("k"), "k", "rnk")
    val withRank = keyed.join(ranked, "k").select(col("doc_id"), col("rnk"))
    val cand = withRank
      .select(col("doc_id").as("doc_a"), col("rnk"),
        explode(sequence(lit(1), lit(SnmWindow - 1))).as("off"))
      .withColumn("rnk2", col("rnk") + col("off"))
      .join(withRank.select(col("doc_id").as("doc_b"),
        col("rnk").as("rnk2")), "rnk2")
      .select("doc_a", "doc_b")
    Dedup.jaccardVerify(cand,
        spark.table(st.sig).select(col("id"), col("sh")), 0.0)
      .withColumn("matched",
        (col("jaccard") >= JaccardThreshold).cast("int"))
  }

  /** E19: MULTI-PASS sorted neighborhood — the Hernández-Stolfo recall
    * booster: a single sort key misses near-dups whose edits fall
    * inside the key prefix, so run a second pass on an INDEPENDENT key
    * (here the reversed-text prefix — suffix-anchored, so prefix edits
    * and suffix edits cannot both escape) and union the window pairs.
    * Candidates stay ≤ 2·n·(w−1) — still linear by construction; each
    * pass is the E18 machinery verbatim (distributed rankedAsc + one
    * offset-explode equi-join). Emits the DISTINCT union with exact
    * Jaccard, matched flag, and per-pair pass provenance (found by
    * pass 1, pass 2, or both — the evidence a key-design decision
    * reads). */
  def dedupSnmMulti(spark: SparkSession, dir: String): DataFrame = {
    val st = sigTables(spark, dir)
    val d = Tables.documents(spark, dir)
    val norm = regexp_replace(trim(col("text")), " +", " ")
    def passPairs(key: org.apache.spark.sql.Column): DataFrame = {
      val keyed = d.select(col("doc_id"),
        concat(key, lit("|"), col("doc_id").cast("string")).as("k"))
      val ranked = graft.graph.Graphs.rankedAsc(keyed.select("k"), "k", "rnk")
      val withRank = keyed.join(ranked, "k").select(col("doc_id"), col("rnk"))
      withRank
        .select(col("doc_id").as("doc_a"), col("rnk"),
          explode(sequence(lit(1), lit(SnmWindow - 1))).as("off"))
        .withColumn("rnk2", col("rnk") + col("off"))
        .join(withRank.select(col("doc_id").as("doc_b"),
          col("rnk").as("rnk2")), "rnk2")
        .select("doc_a", "doc_b")
    }
    // r20 (guide §2.6): the two passes are INDEPENDENT — each pays a
    // rankedAsc materialization (checkpoint + counts collect) before
    // its offset join, so running them from two threads lets one
    // pass's jobs back-fill the other's driver round-trips. Output
    // rows unchanged: the union below is order-insensitive (groupBy).
    val Seq(p1, p2) = graft.Overlap(spark)(Seq(
      () => passPairs(substring(norm, 1, 16))
        .withColumn("in_p1", lit(1)).withColumn("in_p2", lit(0)),
      () => passPairs(substring(reverse(norm), 1, 16))
        .withColumn("in_p1", lit(0)).withColumn("in_p2", lit(1))))
    // checkpointed (r20): the verify input AND the provenance join
    // both consume cand — un-materialized, each re-ran BOTH SNM
    // passes (two distributed rank sorts + offset joins). Pair-scale
    // by construction (≤ 2·n·(w−1) rows), so the checkpoint is linear
    // at any corpus size.
    val cand = p1.unionAll(p2)
      .groupBy("doc_a", "doc_b")
      .agg(max(col("in_p1")).as("in_p1"), max(col("in_p2")).as("in_p2"))
      .localCheckpoint(eager = true)
    Dedup.jaccardVerify(cand.select("doc_a", "doc_b"),
        spark.table(st.sig).select(col("id"), col("sh")), 0.0)
      .join(cand, Seq("doc_a", "doc_b"))
      .withColumn("matched",
        (col("jaccard") >= JaccardThreshold).cast("int"))
  }

  /** E16: MinHash estimator-quality audit — for every LSH candidate
    * pair, the signature ESTIMATE of Jaccard (matching hash share
    * over the 12 minhashes) next to the EXACT Jaccard over the
    * stored shingle sets, with the absolute error. The dedup
    * family's recall-dial: every ANN face ships a measured-quality
    * query, and the minhash estimator deserves the same honesty —
    * at 100 TB you tune bands×rows against THIS distribution, not
    * against the textbook expectation. Candidates only (never
    * all-pairs); signatures and sets read from the persisted store. */
  def dedupMinhashQuality(spark: SparkSession, dir: String): DataFrame = {
    val st = sigTables(spark, dir)
    val sig = spark.table(st.sig)
    val n = Bands * RowsPerBand
    val cand = Dedup.minhashPairsFromBanded(spark.table(st.banded))
    def side(tag: String) = sig.select(
      Seq(col("id").as(s"doc_$tag")) ++
        (0 until n).map(i => col(s"h$i").as(s"h$tag$i")) :+
        col("sh").as(s"sh$tag"): _*)
    val matches = (0 until n)
      .map(i => (col(s"ha$i") === col(s"hb$i")).cast("int")).reduce(_ + _)
    val inter = size(array_intersect(col("sha"), col("shb")))
    val uni = size(col("sha")) + size(col("shb")) - inter
    cand.join(side("a"), "doc_a").join(side("b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(matches.cast("double") / n, 4).as("est_jaccard"),
        round(inter.cast("double") / uni, 4).as("true_jaccard"),
        round(abs(matches.cast("double") / n
          - inter.cast("double") / uni), 4).as("abs_err"))
  }

  /** E14: edit-distance verification window (chars of the normalized
    * text) and the accept cut 4·lev ≤ max(len) — i.e. relative edit
    * distance ≤ 0.25, spelled as an integer compare. */
  val EditPrefix = 96

  /** E14: edit-distance-verified near-dup pairs — the CHARACTER-level
    * fuzzy dedup the shingle family can't do (token shingles are
    * blind to within-word typos and OCR noise; Levenshtein sees
    * them). Candidates come from the SAME persisted LSH banding store
    * as E2/E4 (never all-pairs); verification is levenshtein() — a
    * built-in codegen'd expression in both engines — on the first
    * [[EditPrefix]] chars of the whitespace-collapsed text, so the
    * per-pair cost is a fixed O(EditPrefix²) regardless of document
    * length. At 100 TB: candidate count is bounded by LSH bucket
    * sizes, each verification touches ≤2·96 chars, and the prefixes
    * ride the candidate join instead of full documents. */
  def dedupEditPairs(spark: SparkSession, dir: String): DataFrame = {
    val st = sigTables(spark, dir)
    val cand = Dedup.minhashPairsFromBanded(spark.table(st.banded))
    val norm = Tables.documents(spark, dir).select(col("doc_id"),
      substring(regexp_replace(trim(col("text")), " +", " "), 1, EditPrefix)
        .as("p"))
    cand
      .join(norm.select(col("doc_id").as("doc_a"), col("p").as("pa")), "doc_a")
      .join(norm.select(col("doc_id").as("doc_b"), col("p").as("pb")), "doc_b")
      .withColumn("lev", levenshtein(col("pa"), col("pb")))
      .withColumn("_mx", greatest(length(col("pa")), length(col("pb"))))
      .filter(col("_mx") > 0 && col("lev") * 4 <= col("_mx"))
      .select(col("doc_a"), col("doc_b"), col("lev"),
        round(col("lev").cast("double") / col("_mx"), 4).as("edit_ratio"))
  }

  /** E15/G38: dedup impact report — the per-source before/after a
    * curation run actually reports: document and TOKEN keep rates
    * under the E6 survivor policy (token rates matter more than doc
    * rates for a training mix — near-dup clusters skew long). One
    * join of the survivor flags onto per-doc token counts, one
    * source-keyed aggregation; at 100 TB both sides are corpus-scale
    * scans that were already being paid (tokens for G1, survivors for
    * E6) — the report composes them without new heavy work. */
  def dedupImpact(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("source"),
      size(graft.text.TextQueries.tokens(col("text"))).cast("long").as("n_tok"))
    val surv = dedupSurvivors(spark, dir).select(col("doc_id"),
      col("is_kept").cast("long").as("kept"))
    d.join(surv, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("docs_total"),
        sum(col("kept")).as("docs_kept"),
        sum(col("n_tok")).as("tokens_total"),
        sum(col("n_tok") * col("kept")).as("tokens_kept"))
      .select(col("source"), col("docs_total"), col("docs_kept"),
        col("tokens_total"), col("tokens_kept"),
        round(col("docs_kept").cast("double") / col("docs_total"), 4)
          .as("doc_keep_rate"),
        round(col("tokens_kept").cast("double") / col("tokens_total"), 4)
          .as("token_keep_rate"))
  }

  val ContainmentMaxDf = 20
  val ContainmentThreshold = 0.8
  /** E9 valve (r15): deterministic per-shingle pair budget — within a
    * rare shingle only pairs whose lower md5-rank endpoint is ≤ this
    * survive, making the candidate mass LINEAR in the blocked row
    * count instead of quadratic in the df profile. 4 = measured-recall
    * dial setting: on the r15 sf0.1 corpus recall vs the unbudgeted
    * plan is 1.000 at budgets 3..8 (255/256 = 0.996 at 2), with the
    * candidate mass at 64% / 52% / 37% for budgets 4/3/2 — 4 keeps one
    * step of margin above the knee. A true containment pair shares
    * many rare shingles, so it drops only by losing the rank lottery
    * in EVERY one (DedupSpec pins the semantics; the round log records
    * the measurements). */
  val ContainmentRankBudget = 4

  /** E9: containment pairs — computed ONCE per (session, corpus) from
    * the persisted signature store and persisted like every other
    * write-once dedup face ((id, sh) sets are read back, never
    * re-shingled; repeated queries read the verified pair frame). */
  private def containmentTable(spark: SparkSession, dir: String): String = {
    val st = sigTables(spark, dir)
    // the valve parameters are PART OF THE TABLE IDENTITY: the rank
    // budget (and maxDf/threshold) are baked into the persisted rows,
    // so a dial change must miss the cache and rebuild — a name keyed
    // on dir alone would silently serve pairs computed under the OLD
    // budget. Exact-mode escape hatch: rankBudget >= maxDf-1 keeps
    // every blocked pair (per-shingle rank can't exceed df <= maxDf).
    val params = s"b${ContainmentRankBudget}_df${ContainmentMaxDf}_" +
      s"t${(ContainmentThreshold * 100).round}"
    graft.store.GraftStore.ensurePlain(spark,
      s"graft_containment_${params}_${graft.store.GraftStore.dirKey(dir)}") {
      Dedup.containmentFromSets(
        spark.table(st.sig).select(col("id"), col("sh")),
        ContainmentMaxDf, ContainmentThreshold, ContainmentRankBudget)
    }
  }

  def dedupContainment(spark: SparkSession, dir: String): DataFrame =
    spark.table(containmentTable(spark, dir))
      .select("doc_a", "doc_b", "containment", "direction")

  def dedupEmbeddingPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingPairs(Tables.embeddings(spark, dir), "vec_id", "embedding",
      "label", CosineThreshold)

  def dedupSurvivors(spark: SparkSession, dir: String): DataFrame =
    Dedup.survivorsFromPairs(Tables.documents(spark, dir), "doc_id", "text",
      dedupJaccardPairs(spark, dir))

  /** E11: same clusters, quality-aware policy — keep the LONGEST
    * member (exact char count; ties → min doc_id). */
  def dedupBestSurvivor(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Dedup.bestSurvivors(
      dedupSurvivors(spark, dir), "doc_id",
      docs.select(col("doc_id"), length(col("text")).cast("long").as("len")), "len")
  }

  /** E7: INCREMENTAL dedup — the daily-batch production shape: admit
    * only incoming documents (the non-train side of the G5 hash split)
    * that are neither exact nor near duplicates of the HISTORICAL
    * corpus (the train side). Reads the same persisted signature
    * store the in-corpus family uses — at 100 TB the historical side
    * is never re-shingled, only the incoming batch is; candidates come
    * from the (band, bucket) join of the two banded subsets, and only
    * candidates are Jaccard-verified. */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val st = sigTables(spark, dir)
    def isHist(id: org.apache.spark.sql.Column) =
      graft.text.TextQueries.isTrainSplit(id)
    val hashes = Tables.documents(spark, dir).select(col("doc_id"),
      md5(regexp_replace(trim(col("text")), " +", " ")).as("h"))
    val incoming = hashes.filter(!isHist(col("doc_id")))
    val histHashes = hashes.filter(isHist(col("doc_id")))
      .select(col("h"), lit(1).as("_e")).distinct()
    val exact = incoming.join(histHashes, Seq("h"), "left")
      .select(col("doc_id"), col("_e").isNotNull.cast("int").as("is_exact_dup"))
    val banded = spark.table(st.banded)
    val inB = banded.filter(!isHist(col("id")))
      .select(col("band"), col("bucket"), col("id").as("doc_a"))
    val hiB = banded.filter(isHist(col("id")))
      .select(col("band"), col("bucket"), col("id").as("doc_b"))
    val cand = inB.join(hiB, Seq("band", "bucket"))
      .select("doc_a", "doc_b").distinct()
    val nCand = cand.groupBy(col("doc_a").as("doc_id"))
      .agg(count(lit(1)).as("n_candidates"))
    val near = Dedup.jaccardVerify(cand,
        spark.table(st.sig).select(col("id"), col("sh")), JaccardThreshold)
      .select(col("doc_a").as("doc_id")).distinct()
      .withColumn("_n", lit(1))
    exact.join(nCand, Seq("doc_id"), "left").join(near, Seq("doc_id"), "left")
      .select(col("doc_id"), col("is_exact_dup"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("_n").isNotNull.cast("int").as("is_near_dup"),
        (col("is_exact_dup") === 0 && col("_n").isNull).cast("int").as("admit"))
  }

  /** E8: SEMANTIC dedup (the SemDeDup shape, Abbas et al. 2023): the
    * corpus is k-means-clustered in embedding space (F10's
    * exact-integer Lloyd — clusters bound the quadratic pair scan the
    * way LSH bands bound E2's), then only WITHIN-cluster pairs are
    * cosine-compared and each doc with a ≥-threshold partner of
    * smaller id is dropped (the greedy min-id representative rule).
    * Cross-cluster near-dups are missed by design — that is SemDeDup's
    * documented recall trade for never going all-pairs; at 100 TB k
    * grows with n so cluster sizes stay bounded. Emits (vec_id,
    * cluster, is_kept). */
  def dedupSemantic(spark: SparkSession, dir: String): DataFrame = {
    import graft.sim.{Similarity, SimQueries}
    val emb = Tables.embeddings(spark, dir)
    val asg = Similarity.kmeansInt8(
        Similarity.quantizeInt8(emb, "vec_id", "embedding"),
        SimQueries.KmeansK, SimQueries.KmeansIters)
      .select(col("vec_id"), col("cluster"))
    Dedup.semanticSurvivors(emb, asg, "vec_id", "embedding", CosineThreshold)
  }

  /** Tolerance (bps of exact, floored at ±2 absolute) for the theta
    * set-op accuracy flags. */
  val ThetaTolBps = 200

  /** K16 driver query: pairwise source-vocabulary overlap — for every
    * source pair, |vocab(A) ∩ vocab(B)| and |A ∪ B|, answered BOTH
    * ways in one frame (the C25/sim_ann_recall convention): the exact
    * distinct-token self-join as the verification face, and theta
    * sketch intersections/unions (graft_theta per source — ONE
    * sketch row per source, then 190 pairwise scalar set-ops on
    * sketch BYTES) as the 100 TB path, where the raw-token join is
    * the thing you cannot afford and HLL cannot intersect. est_ok
    * pins both estimates within [[ThetaTolBps]] (exact-mode sketches
    * at these cardinalities make them exactly equal; at sampling
    * scale the same plan degrades to the documented ±1/√k). */
  def dedupSourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Column
    graft.functions.VectorFunctions.ensureRegistered(spark)
    def thetaAgg(c: Column): Column = call_function("graft_theta", c)
    def inter(a: Column, b: Column): Column =
      call_function("graft_theta_intersect", a, b)
    def uni(a: Column, b: Column): Column =
      call_function("graft_theta_union_est", a, b)
    val toks = Tables.documents(spark, dir)
      .select(col("source"),
        explode(split(trim(col("text")), " +")).as("t"))
      .filter(col("t") =!= "")
      .distinct()
      .localCheckpoint(eager = true)
    val sk = toks.groupBy("source")
      .agg(thetaAgg(col("t")).as("sk"), count(lit(1)).as("n"))
    val pairs = sk.select(col("source").as("src_a"), col("sk").as("sk_a"),
        col("n").as("n_a"))
      .join(sk.select(col("source").as("src_b"), col("sk").as("sk_b"),
        col("n").as("n_b")), col("src_a") < col("src_b"))
    val exact = toks.select(col("source").as("src_a"), col("t"))
      .join(toks.select(col("source").as("src_b"), col("t")),
        Seq("t")).filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("ov"))
    def ok(est: Column, ex: Column): Column =
      (abs(est - ex) * 10000 <= greatest(lit(2L * 10000), ex * ThetaTolBps))
    pairs.join(exact, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        coalesce(col("ov"), lit(0L)).as("overlap"),
        (col("n_a") + col("n_b") - coalesce(col("ov"), lit(0L))).as("union_size"),
        (ok(inter(col("sk_a"), col("sk_b")), coalesce(col("ov"), lit(0L))) &&
          ok(uni(col("sk_a"), col("sk_b")),
            col("n_a") + col("n_b") - coalesce(col("ov"), lit(0L))))
          .cast("int").as("est_ok"))
  }

  /** E12: LSH banding-parameter tuner — for a fixed signature budget
    * K = b·r, which (bands, rows) splits the S-curve
    * P(candidate | s) = 1 − (1 − s^r)^b best around the target
    * similarity threshold? Expected error is the grid integral of
    * P below the threshold plus (1 − P) above it — the standard
    * Broder/MMDS design calculation, computed IN-PLAN so pipeline
    * configs can be derived next to the data they tune for.
    * Cross-engine determinism: powers are spelled as explicit
    * multiplication chains (1.0·s·s·…, left-assoc — identical IEEE
    * in both engines; pow() would ride each libm's own curve), and
    * each grid term rounds to integer MICRO-units before the sum, so
    * the per-combo error is an order-free exact integer. */
  val LshTuneCombos: Seq[(Int, Int)] =
    Seq((64, 2), (32, 4), (16, 8), (8, 16), (4, 32), (2, 64))
  val LshTuneThreshold = 0.7

  def dedupLshTune(spark: SparkSession, dir: String): DataFrame = {
    val grid = spark.range(0, 101).select((col("id") / 100.0).as("s"))
    val perCombo = LshTuneCombos.map { case (b, r) =>
      val sr = (1 to r).foldLeft(lit(1.0))((acc, _) => acc * col("s"))
      val om = lit(1.0) - sr
      val pNot = (1 to b).foldLeft(lit(1.0))((acc, _) => acc * om)
      val p = lit(1.0) - pNot
      val term = when(col("s") < LshTuneThreshold, p).otherwise(lit(1.0) - p)
      grid.select(lit(b).as("bands"), lit(r).as("rows_per_band"),
        round(term * 1e6).cast("long").as("term_micro"))
    }
    val agg = perCombo.reduce(_ unionAll _)
      .groupBy("bands", "rows_per_band")
      .agg(sum(col("term_micro")).as("err_micro"))
    // 6-row final ranking WITHOUT a global window: rank(x) = 1 +
    // #{combos strictly before x in (err, bands) order}, via a
    // broadcast self-join — no SinglePartition exchange is ever
    // planned, so the J6 fleet tripwire holds with an EMPTY allowlist.
    // (err_micro, bands) is unique per combo, so this equals the old
    // row_number.
    val other = agg.select(col("err_micro").as("o_err"), col("bands").as("o_bands"))
    agg.join(broadcast(other),
        col("o_err") < col("err_micro") ||
          (col("o_err") === col("err_micro") && col("o_bands") < col("bands")),
        "left")
      .groupBy("bands", "rows_per_band", "err_micro")
      .agg((count(col("o_bands")) + lit(1)).cast("int").as("rnk"))
  }

  /** E26: train-split DECONTAMINATION against the held-out split —
    * the GPT-3 appendix-C protocol every published pretraining corpus
    * runs before training: an eval example whose n-gram appears in a
    * training document leaks the benchmark into the weights, so each
    * TRAIN document is audited for word n-grams shared with ANY
    * held-out (val/test) document and dropped or span-redacted before
    * the run. n = [[DecontamN]] here (the protocol runs 8-13 on
    * web-scale text; these synthetic docs are tens of words, so 5
    * keeps the gram space meaningfully populated at oracle SFs).
    * Scale shape: the EVAL side is small BY CONSTRUCTION (the
    * held-out split — 10% here, benchmark-sized in production), so
    * its distinct gram-hash set broadcasts; the train side streams
    * through one explode + one equi-join + a per-doc count — no
    * quadratic stage, and only the 16-byte gram HASH ever shuffles,
    * never the text. Every train doc keeps a row (left join):
    * "contaminated = 0 everywhere" is the certificate a corpus ships
    * with, so the zero row class must exist. */
  val DecontamN = 5

  /** (doc_id, gh) — every word [[DecontamN]]-gram of every document,
    * as its md5 hash (only the 16-byte hash ever shuffles). Shared by
    * the batch audit and the I59 streaming admission gate. */
  private[graft] def docGrams(df: DataFrame): DataFrame = {
    val words = df.select(col("doc_id"), split(trim(col("text")), " +").as("ws"))
    words.select(col("doc_id"), explode(
      when(size(col("ws")) >= DecontamN,
        transform(sequence(lit(1), size(col("ws")) - (DecontamN - 1)),
          i => md5(array_join(slice(col("ws"), i, lit(DecontamN)), " "))))
        .otherwise(array().cast("array<string>"))).as("gh"))
  }

  /** The E26 kernel: audit `docs` against a frozen distinct gram-hash
    * set — one explode + one equi-join + a per-doc count; every input
    * doc keeps a row. */
  def decontaminateAgainst(docs: DataFrame, evalGrams: DataFrame): DataFrame = {
    val hits = docGrams(docs).join(evalGrams, "gh")
      .groupBy("doc_id")
      .agg(countDistinct(col("gh")).as("n_shared_grams"))
    docs.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"),
        (coalesce(col("n_shared_grams"), lit(0L)) > 0)
          .cast("int").as("contaminated"))
  }

  def dedupDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val isTrain = graft.text.TextQueries.isTrainSplit(col("doc_id"))
    decontaminateAgainst(d.filter(isTrain),
      docGrams(d.filter(!isTrain)).select("gh").distinct())
  }

  def queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    "dedup_source_overlap"  -> (dedupSourceOverlap _),
    "dedup_exact"           -> (dedupExact _),
    "dedup_semantic"        -> (dedupSemantic _),
    "dedup_minhash_pairs"   -> (dedupMinhashPairs _),
    "dedup_simhash"         -> (dedupSimhash _),
    "dedup_simhash_pairs"   -> ((s: SparkSession, d: String) =>
      Dedup.simhashPairs(Tables.documents(s, d), "doc_id", "text", MaxHamming)),
    "dedup_jaccard_pairs"   -> (dedupJaccardPairs _),
    "dedup_edit_pairs"      -> (dedupEditPairs _),
    "dedup_impact"          -> (dedupImpact _),
    "dedup_minhash_quality" -> (dedupMinhashQuality _),
    "dedup_containment"     -> (dedupContainment _),
    "dedup_snm_pairs"       -> (dedupSnmPairs _),
    "dedup_snm_multi"       -> (dedupSnmMulti _),
    "dedup_embedding_pairs" -> (dedupEmbeddingPairs _),
    "dedup_survivors"       -> (dedupSurvivors _),
    "dedup_best_survivor"   -> (dedupBestSurvivor _),
    "dedup_substring"       -> (dedupSubstring _),
    "dedup_incremental"     -> (dedupIncremental _),
    "dedup_lsh_tune"        -> (dedupLshTune _),
    "dedup_bloom_cross"     -> (dedupBloomCross _),
    "dedup_decontaminate"   -> (dedupDecontaminate _),
  )

  /** E13: bloom-accelerated cross-corpus membership dedup — "which
    * INCOMING documents already exist in the prior corpus", the
    * admission check every continuously-crawled training pipeline
    * runs per batch. The fingerprint is the prefix-100 md5 (near-dup
    * crawls share openings; the synthetic corpus has zero whole-text
    * exact dups across the split but real prefix collisions, so the
    * query is non-vacuous at every SF). The 100 TB shape: the prior
    * corpus collapses to ONE Bloom sketch via the engine's own
    * BloomFilterAggregate, rides into the incoming scan as a scalar
    * subquery (the InjectRuntimeFilter mechanics, hand-held), and
    * drops ~all non-members BEFORE the membership semi-join — the
    * join's probe side shrinks from |incoming| to |members| + FPs,
    * while the semi-join re-verifies so the RESULT is exact (Bloom
    * has no false negatives; false positives die in the join). */
  def dedupBloomCross(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.ensureRegistered(spark)
    Tables.documents(spark, dir)
      .select(col("doc_id"), md5(substring(col("text"), 1, 100)).as("h"))
      .createOrReplaceTempView("graft_e13_docs")
    spark.sql(
      """WITH existing AS (SELECT h FROM graft_e13_docs WHERE doc_id % 2 = 0),
        |     incoming AS (SELECT doc_id, h FROM graft_e13_docs WHERE doc_id % 2 = 1)
        |SELECT i.doc_id, i.h
        |FROM incoming i
        |WHERE graft_bloom_might_contain(
        |        (SELECT graft_bloom_agg(xxhash64(h), CAST(100000 AS BIGINT)) FROM existing),
        |        xxhash64(i.h))
        |  AND i.h IN (SELECT h FROM existing)""".stripMargin)
  }

  val SubstrW = 30
  val SubstrFlagChars = 50

  /** E10: ExactSubstr spans (Lee et al. 2022) at char-gram width
    * [[SubstrW]], flagged at the paper's ~50-unit span threshold. */
  def dedupSubstring(spark: SparkSession, dir: String): DataFrame =
    Dedup.substringSpans(Tables.documents(spark, dir), "doc_id", "text",
      SubstrW, SubstrFlagChars)

  // --- generated DuckDB oracles -------------------------------------

  /** doc_id + whitespace tokens of collapsed text. */
  private val toksCte =
    "toks AS (SELECT doc_id, string_split(regexp_replace(trim(text), ' +', ' ', 'g'), ' ') AS t FROM documents)"

  /** k-gram shingles with the short-doc fallback, matching
    * Dedup.shingles. */
  private def shinglesCte(k: Int) =
    s"""sh AS (SELECT doc_id,
       |  CASE WHEN length(t) >= $k
       |    THEN list_transform(range(1, length(t) - ${k - 2}), i -> array_to_string(t[i:i+${k - 1}], ' '))
       |    ELSE [array_to_string(t, ' ')] END AS s
       |FROM toks)""".stripMargin

  /** minhash signature columns h0..h{n-1}, matching
    * Dedup.minhashSignature. */
  private def sigCte(numHashes: Int) = {
    val cols = (0 until numHashes).map(i =>
      s"list_aggregate(list_transform(s, x -> md5('$i|' || x)), 'min') AS h$i").mkString(",\n  ")
    s"sig AS (SELECT doc_id,\n  $cols\nFROM sh)"
  }

  private def bandsCte(bands: Int, r: Int) = {
    val parts = (0 until bands).map { b =>
      val cat = (0 until r).map(j => s"h${b * r + j}").mkString(" || ")
      s"SELECT doc_id, $b AS band, md5($cat) AS bucket FROM sig"
    }.mkString("\nUNION ALL\n")
    s"bands AS (\n$parts\n)"
  }

  /** hs + sim CTEs mirroring Dedup.simhashDf (assumes `toks` CTE). */
  private lazy val simhashCtes: String = {
    val bits = (0 until 32).map { j =>
      val p = 1L << j
      s"CASE WHEN list_sum(list_transform(hs, h -> ((h // $p) % 2) * 2 - 1)) > 0 THEN $p ELSE 0 END"
    }.mkString("\n    + ")
    s"""hs AS (SELECT doc_id,
       |  list_transform(t, tok -> ('0x' || substr(md5(tok), 1, 8))::bigint) AS hs
       |FROM toks),
       |sim AS (SELECT doc_id, ($bits)::bigint AS simhash FROM hs)""".stripMargin
  }

  private val candidateSelect =
    """SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
      |WHERE a.doc_id < b.doc_id""".stripMargin

  /** Shared by the survivor-family oracles: exact + jaccard-verified
    * dup pairs closed into components (`comp(id, component)`) via the
    * recursive min-label closure. Callers must open with
    * `WITH RECURSIVE`. */
  private lazy val dupClusterCtes: String =
    s"""$toksCte,
       |${shinglesCte(K)},
       |${sigCte(Bands * RowsPerBand)},
       |${bandsCte(Bands, RowsPerBand)},
       |cand AS ($candidateSelect),
       |ds AS (SELECT doc_id, list_distinct(list_transform(s, x -> md5(x))) AS ds FROM sh),
       |j AS (
       |  SELECT c.doc_a, c.doc_b,
       |    length(list_filter(a.ds, x -> list_contains(b.ds, x))) AS inter,
       |    length(a.ds) + length(b.ds)
       |      - length(list_filter(a.ds, x -> list_contains(b.ds, x))) AS uni
       |  FROM cand c
       |  JOIN ds a ON c.doc_a = a.doc_id
       |  JOIN ds b ON c.doc_b = b.doc_id
       |),
       |jp AS (SELECT doc_a AS u, doc_b AS v FROM j
       |       WHERE round(inter::double / uni, 4) >= $JaccardThreshold),
       |eh AS (SELECT doc_id, md5(regexp_replace(trim(text), ' +', ' ', 'g')) AS h FROM documents),
       |ep AS (
       |  SELECT u, v FROM (
       |    SELECT min(doc_id) OVER (PARTITION BY h) AS u, doc_id AS v FROM eh
       |  ) WHERE u <> v
       |),
       |pairs AS (SELECT u, v FROM ep UNION SELECT u, v FROM jp),
       |und AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
       |closure(id, lbl) AS (
       |  SELECT u, u FROM und
       |  UNION
       |  SELECT und.v, c.lbl FROM closure c JOIN und ON und.u = c.id
       |  WHERE c.lbl < und.v
       |),
       |comp AS (SELECT id, min(lbl) AS component FROM closure GROUP BY id)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // E26: the exact gram-overlap protocol re-derived — same word
    // split, same 5-gram windows, same md5 gram hash, same G5 split
    "dedup_decontaminate" -> {
      val n = DecontamN
      s"""WITH w AS (
         |  SELECT doc_id, string_split_regex(trim(text), ' +') AS ws FROM documents
         |),
         |g AS (
         |  SELECT doc_id, md5(array_to_string(ws[i:i+${n - 1}], ' ')) AS gh
         |  FROM (
         |    SELECT doc_id, ws, unnest(range(1, len(ws) - ${n - 2})) AS i
         |    FROM w WHERE len(ws) >= $n
         |  )
         |),
         |tr AS (
         |  SELECT doc_id FROM documents
         |  WHERE ('0x' || substr(md5('split|' || doc_id), 1, 4))::int < ${graft.text.TextQueries.TrainBucketMax}
         |),
         |ev AS (
         |  SELECT DISTINCT gh FROM g WHERE doc_id NOT IN (SELECT doc_id FROM tr)
         |),
         |hits AS (
         |  SELECT doc_id, count(DISTINCT gh)::bigint AS n_shared_grams
         |  FROM g JOIN ev USING (gh)
         |  WHERE doc_id IN (SELECT doc_id FROM tr)
         |  GROUP BY doc_id
         |)
         |SELECT t.doc_id, coalesce(h.n_shared_grams, 0)::bigint AS n_shared_grams,
         |  CASE WHEN coalesce(h.n_shared_grams, 0) > 0 THEN 1 ELSE 0 END AS contaminated
         |FROM tr t LEFT JOIN hits h USING (doc_id)""".stripMargin
    },
    // E13: exact membership is the contract — the Bloom is an
    // accelerator the oracle must not see
    "dedup_bloom_cross" ->
      """WITH h AS (SELECT doc_id, md5(substr(text, 1, 100)) AS h FROM documents)
        |SELECT doc_id, h FROM h
        |WHERE doc_id % 2 = 1 AND h IN (SELECT h FROM h WHERE doc_id % 2 = 0)""".stripMargin,
    // mirrors dedupLshTune: same combos, same left-assoc 1.0·s·…
    // multiplication chains, same per-term micro-rounding before the
    // (order-free integer) sum, same (err, bands) rank order
    "dedup_lsh_tune" -> {
      val t = LshTuneThreshold
      val branches = LshTuneCombos.map { case (b, r) =>
        val sr = "1.0" + ("*s" * r)
        val om = s"(1.0 - ($sr))"
        val pNot = "1.0" + (s"*$om" * b)
        val p = s"(1.0 - ($pNot))"
        s"""SELECT $b AS bands, $r AS rows_per_band,
           |  round((CASE WHEN s < $t THEN $p ELSE 1.0 - $p END) * 1e6)::bigint AS term_micro
           |FROM grid""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH grid AS (SELECT unnest(range(0, 101)) / 100.0 AS s),
         |terms AS (
         |$branches
         |)
         |SELECT bands, rows_per_band, sum(term_micro)::bigint AS err_micro,
         |  row_number() OVER (ORDER BY sum(term_micro), bands) AS rnk
         |FROM terms GROUP BY 1, 2""".stripMargin
    },
    // same md5 window keys, same duplicated-hash cut, same
    // gaps-and-islands merge (p - row_number), generated from the
    // shared W/flag constants
    "dedup_substring" ->
      s"""WITH g AS MATERIALIZED (
         |  SELECT doc_id, p, md5(substr(text, p::int, $SubstrW)) AS h
         |  FROM (SELECT doc_id, text,
         |          unnest(range(1, length(text) - ${SubstrW - 2})) AS p
         |        FROM documents) s
         |), dup AS (
         |  SELECT doc_id, p,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY p) AS rn
         |  FROM g WHERE h IN (SELECT h FROM g GROUP BY h HAVING count(*) >= 2)
         |), isl AS (
         |  SELECT doc_id, p - rn AS grp, count(*) AS run
         |  FROM dup GROUP BY doc_id, p - rn
         |), agg AS (
         |  SELECT doc_id, sum(run)::bigint AS n_dup_starts,
         |    count(*)::bigint AS n_spans,
         |    (max(run) + ${SubstrW - 1})::bigint AS max_span_chars
         |  FROM isl GROUP BY doc_id
         |)
         |SELECT d.doc_id,
         |  coalesce(n_dup_starts, 0)::bigint AS n_dup_starts,
         |  coalesce(n_spans, 0)::bigint AS n_spans,
         |  coalesce(max_span_chars, 0)::bigint AS max_span_chars,
         |  (CASE WHEN coalesce(max_span_chars, 0) >= $SubstrFlagChars
         |    THEN 1 ELSE 0 END) AS flagged
         |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin,
    // mirrors the EXACT face (distinct-token self-join); est_ok is
    // the constant 1 the in-plan theta flags must hit — the estimate
    // itself is never emitted (engine-specific sketch, the I22/C25
    // convention)
    "dedup_source_overlap" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT DISTINCT source, t FROM (
        |    SELECT source, unnest(string_split_regex(trim(text), ' +')) AS t
        |    FROM documents
        |  ) WHERE t <> ''
        |), n AS (SELECT source, count(*) AS n FROM toks GROUP BY 1),
        |ov AS (
        |  SELECT x.source AS src_a, y.source AS src_b, count(*) AS ov
        |  FROM toks x JOIN toks y ON x.t = y.t AND x.source < y.source
        |  GROUP BY 1, 2
        |)
        |SELECT a.source AS src_a, b.source AS src_b,
        |  a.n::bigint AS n_a, b.n::bigint AS n_b,
        |  coalesce(ov.ov, 0)::bigint AS overlap,
        |  (a.n + b.n - coalesce(ov.ov, 0))::bigint AS union_size,
        |  1 AS est_ok
        |FROM n a JOIN n b ON a.source < b.source
        |LEFT JOIN ov ON ov.src_a = a.source AND ov.src_b = b.source""".stripMargin,
    "dedup_exact" ->
      """WITH h AS (SELECT doc_id,
        |  md5(regexp_replace(trim(text), ' +', ' ', 'g')) AS h FROM documents)
        |SELECT doc_id,
        |  min(doc_id) OVER (PARTITION BY h) AS canonical_id,
        |  count(*) OVER (PARTITION BY h) AS group_size,
        |  (doc_id <> min(doc_id) OVER (PARTITION BY h))::int AS is_dup
        |FROM h""".stripMargin,

    "dedup_minhash_pairs" ->
      s"""WITH $toksCte,
         |${shinglesCte(K)},
         |${sigCte(Bands * RowsPerBand)},
         |${bandsCte(Bands, RowsPerBand)}
         |$candidateSelect""".stripMargin,

    "dedup_simhash" -> s"WITH $toksCte,\n$simhashCtes\nSELECT doc_id, simhash FROM sim",

    "dedup_simhash_pairs" -> {
      val bandSelects = (0 until 4).map { b =>
        s"SELECT doc_id AS id, simhash, $b AS band, (simhash >> ${8 * b}) & 255 AS bucket FROM sim"
      }.mkString("\nUNION ALL\n")
      s"""WITH $toksCte,
         |$simhashCtes,
         |banded AS (
         |$bandSelects
         |)
         |SELECT doc_a, doc_b, hamming FROM (
         |  SELECT DISTINCT a.id AS doc_a, b.id AS doc_b,
         |    bit_count(xor(a.simhash, b.simhash)) AS hamming
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
         |) WHERE hamming <= $MaxHamming""".stripMargin
    },

    // mirrors dedupIncremental: same split predicate as text_split,
    // same band/jaccard CTEs as the in-corpus family (generated from
    // the same constants), candidates restricted to incoming × hist
    "dedup_incremental" -> {
      val thr = JaccardThreshold
      val bkt = "('0x' || substr(md5('split|' || doc_id), 1, 4))::int"
      s"""WITH $toksCte,
         |${shinglesCte(K)},
         |${sigCte(Bands * RowsPerBand)},
         |${bandsCte(Bands, RowsPerBand)},
         |eh AS (SELECT doc_id, $bkt AS bkt,
         |  md5(regexp_replace(trim(text), ' +', ' ', 'g')) AS h FROM documents),
         |inc AS (SELECT doc_id, h FROM eh WHERE bkt >= ${graft.text.TextQueries.TrainBucketMax}),
         |hist_h AS (SELECT DISTINCT h FROM eh WHERE bkt < ${graft.text.TextQueries.TrainBucketMax}),
         |inb AS (SELECT b.doc_id AS doc_a, band, bucket FROM bands b
         |        JOIN eh ON b.doc_id = eh.doc_id WHERE eh.bkt >= ${graft.text.TextQueries.TrainBucketMax}),
         |hib AS (SELECT b.doc_id AS doc_b, band, bucket FROM bands b
         |        JOIN eh ON b.doc_id = eh.doc_id WHERE eh.bkt < ${graft.text.TextQueries.TrainBucketMax}),
         |cand AS (SELECT DISTINCT doc_a, doc_b FROM inb JOIN hib USING (band, bucket)),
         |nc AS (SELECT doc_a, count(*) AS n_candidates FROM cand GROUP BY 1),
         |ds AS (SELECT doc_id, list_distinct(list_transform(s, x -> md5(x))) AS ds FROM sh),
         |j AS (
         |  SELECT c.doc_a,
         |    length(list_filter(a.ds, x -> list_contains(b.ds, x))) AS inter,
         |    length(a.ds) + length(b.ds)
         |      - length(list_filter(a.ds, x -> list_contains(b.ds, x))) AS uni
         |  FROM cand c
         |  JOIN ds a ON c.doc_a = a.doc_id
         |  JOIN ds b ON c.doc_b = b.doc_id
         |),
         |near AS (SELECT DISTINCT doc_a FROM j
         |         WHERE round(inter::double / uni, 4) >= $thr)
         |SELECT i.doc_id,
         |  (i.h IN (SELECT h FROM hist_h))::int AS is_exact_dup,
         |  coalesce(nc.n_candidates, 0) AS n_candidates,
         |  (near.doc_a IS NOT NULL)::int AS is_near_dup,
         |  (i.h NOT IN (SELECT h FROM hist_h) AND near.doc_a IS NULL)::int AS admit
         |FROM inc i
         |LEFT JOIN nc ON i.doc_id = nc.doc_a
         |LEFT JOIN near ON i.doc_id = near.doc_a""".stripMargin
    },

    // E18: row_number over the same prefix|id key, rank-offset window
    // pairs, exact Jaccard over the same shingle sets, no filter
    "dedup_snm_pairs" ->
      s"""WITH $toksCte,
         |${shinglesCte(K)},
         |k AS (
         |  SELECT doc_id,
         |    substr(regexp_replace(trim(text), ' +', ' ', 'g'), 1, 16)
         |      || '|' || doc_id AS k
         |  FROM documents
         |), r AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY k) AS rnk FROM k
         |), cand AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM r a JOIN r b ON b.rnk - a.rnk BETWEEN 1 AND ${SnmWindow - 1}
         |), ds AS (
         |  SELECT doc_id, list_distinct(list_transform(s, x -> md5(x))) AS ds
         |  FROM sh
         |), j AS (
         |  SELECT c.doc_a, c.doc_b,
         |    length(list_filter(a.ds, x -> list_contains(b.ds, x))) AS inter,
         |    length(a.ds) + length(b.ds)
         |      - length(list_filter(a.ds, x -> list_contains(b.ds, x))) AS uni
         |  FROM cand c
         |  JOIN ds a ON c.doc_a = a.doc_id
         |  JOIN ds b ON c.doc_b = b.doc_id
         |)
         |SELECT doc_a, doc_b, round(inter::double / uni, 4) AS jaccard,
         |  (round(inter::double / uni, 4) >= $JaccardThreshold)::int AS matched
         |FROM j""".stripMargin,

    // E19: two ranked passes (prefix key, reversed-prefix key), window
    // pairs each, distinct union with pass provenance, exact Jaccard
    "dedup_snm_multi" ->
      s"""WITH $toksCte,
         |${shinglesCte(K)},
         |nrm AS (
         |  SELECT doc_id, regexp_replace(trim(text), ' +', ' ', 'g') AS nt
         |  FROM documents
         |), r1 AS (
         |  SELECT doc_id, row_number() OVER (
         |    ORDER BY substr(nt, 1, 16) || '|' || doc_id) AS rnk
         |  FROM nrm
         |), r2 AS (
         |  SELECT doc_id, row_number() OVER (
         |    ORDER BY substr(reverse(nt), 1, 16) || '|' || doc_id) AS rnk
         |  FROM nrm
         |), c1 AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM r1 a JOIN r1 b ON b.rnk - a.rnk BETWEEN 1 AND ${SnmWindow - 1}
         |), c2 AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM r2 a JOIN r2 b ON b.rnk - a.rnk BETWEEN 1 AND ${SnmWindow - 1}
         |), cand AS (
         |  SELECT doc_a, doc_b, max(in_p1)::int AS in_p1, max(in_p2)::int AS in_p2
         |  FROM (
         |    SELECT doc_a, doc_b, 1 AS in_p1, 0 AS in_p2 FROM c1
         |    UNION ALL
         |    SELECT doc_a, doc_b, 0, 1 FROM c2
         |  ) GROUP BY 1, 2
         |), ds AS (
         |  SELECT doc_id, list_distinct(list_transform(s, x -> md5(x))) AS ds
         |  FROM sh
         |), j AS (
         |  SELECT c.doc_a, c.doc_b, c.in_p1, c.in_p2,
         |    length(list_filter(a.ds, x -> list_contains(b.ds, x))) AS inter,
         |    length(a.ds) + length(b.ds)
         |      - length(list_filter(a.ds, x -> list_contains(b.ds, x))) AS uni
         |  FROM cand c
         |  JOIN ds a ON c.doc_a = a.doc_id
         |  JOIN ds b ON c.doc_b = b.doc_id
         |)
         |SELECT doc_a, doc_b, round(inter::double / uni, 4) AS jaccard,
         |  in_p1, in_p2,
         |  (round(inter::double / uni, 4) >= $JaccardThreshold)::int AS matched
         |FROM j""".stripMargin,

    "dedup_jaccard_pairs" ->
      s"""WITH $toksCte,
         |${shinglesCte(K)},
         |${sigCte(Bands * RowsPerBand)},
         |${bandsCte(Bands, RowsPerBand)},
         |cand AS ($candidateSelect),
         |ds AS (SELECT doc_id, list_distinct(list_transform(s, x -> md5(x))) AS ds FROM sh),
         |j AS (
         |  SELECT c.doc_a, c.doc_b,
         |    length(list_filter(a.ds, x -> list_contains(b.ds, x))) AS inter,
         |    length(a.ds) + length(b.ds)
         |      - length(list_filter(a.ds, x -> list_contains(b.ds, x))) AS uni
         |  FROM cand c
         |  JOIN ds a ON c.doc_a = a.doc_id
         |  JOIN ds b ON c.doc_b = b.doc_id
         |)
         |SELECT doc_a, doc_b, round(inter::double / uni, 4) AS jaccard
         |FROM j WHERE round(inter::double / uni, 4) >= $JaccardThreshold""".stripMargin,

    // mirrors dedupMinhashQuality: identical sig/band/cand CTEs,
    // matching-hash share vs exact Jaccard over the same md5 sets
    "dedup_minhash_quality" -> {
      val n = Bands * RowsPerBand
      val match_ = (0 until n)
        .map(i => s"(a.h$i = b.h$i)::int").mkString(" + ")
      s"""WITH $toksCte,
         |${shinglesCte(K)},
         |${sigCte(n)},
         |${bandsCte(Bands, RowsPerBand)},
         |cand AS ($candidateSelect),
         |ds AS (SELECT doc_id, list_distinct(list_transform(s, x -> md5(x))) AS ds FROM sh),
         |m AS (
         |  SELECT c.doc_a, c.doc_b,
         |    ($match_)::double / $n AS est,
         |    length(list_filter(da.ds, x -> list_contains(db.ds, x)))::double
         |      / (length(da.ds) + length(db.ds)
         |         - length(list_filter(da.ds, x -> list_contains(db.ds, x)))) AS tru
         |  FROM cand c
         |  JOIN sig a ON c.doc_a = a.doc_id
         |  JOIN sig b ON c.doc_b = b.doc_id
         |  JOIN ds da ON c.doc_a = da.doc_id
         |  JOIN ds db ON c.doc_b = db.doc_id
         |)
         |SELECT doc_a, doc_b, round(est, 4) AS est_jaccard,
         |  round(tru, 4) AS true_jaccard,
         |  round(abs(est - tru), 4) AS abs_err
         |FROM m""".stripMargin
    },

    // mirrors dedupEditPairs: identical LSH candidate CTEs, then
    // levenshtein on the same 96-char normalized prefix with the
    // integer 4·lev ≤ maxlen cut
    "dedup_edit_pairs" ->
      s"""WITH $toksCte,
         |${shinglesCte(K)},
         |${sigCte(Bands * RowsPerBand)},
         |${bandsCte(Bands, RowsPerBand)},
         |cand AS ($candidateSelect),
         |norm AS (SELECT doc_id,
         |  substr(regexp_replace(trim(text), ' +', ' ', 'g'), 1, $EditPrefix) AS p
         |  FROM documents),
         |v AS (
         |  SELECT c.doc_a, c.doc_b, levenshtein(a.p, b.p) AS lev,
         |    greatest(length(a.p), length(b.p)) AS mx
         |  FROM cand c
         |  JOIN norm a ON c.doc_a = a.doc_id
         |  JOIN norm b ON c.doc_b = b.doc_id
         |)
         |SELECT doc_a, doc_b, lev,
         |  round(lev::double / mx, 4) AS edit_ratio
         |FROM v WHERE mx > 0 AND lev * 4 <= mx""".stripMargin,

    // mirrors containmentFromSets over the same hashed-shingle sets:
    // rare-shingle blocking (df in [2, maxDf]), the md5-rank pair
    // budget (min-rank endpoint ≤ budget), then per-pair verify over
    // the same 64-bit rehash of each doc's hashed-shingle set
    "dedup_containment" ->
      s"""WITH $toksCte,
         |${shinglesCte(K)},
         |hd AS (SELECT doc_id, list_distinct(list_transform(s, x -> md5(x))) AS ds FROM sh),
         |hl AS (SELECT doc_id, list_distinct(list_transform(ds,
         |         x -> ('0x' || substr(md5(x), 1, 15))::bigint)) AS dl FROM hd),
         |ex AS (SELECT doc_id, unnest(ds) AS h FROM hd),
         |rare AS (SELECT h FROM ex GROUP BY h
         |         HAVING count(*) >= 2 AND count(*) <= $ContainmentMaxDf),
         |rk AS (SELECT e.doc_id, e.h, row_number() OVER (PARTITION BY e.h
         |         ORDER BY md5(e.h || '|' || e.doc_id::varchar), e.doc_id) AS rk
         |       FROM ex e JOIN rare r ON e.h = r.h),
         |cand AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
         |    greatest(a.doc_id, b.doc_id) AS doc_b
         |  FROM rk a JOIN rk b ON a.h = b.h AND a.rk < b.rk
         |  WHERE a.rk <= $ContainmentRankBudget),
         |v AS (SELECT c.doc_a, c.doc_b,
         |    length(list_filter(a.dl, x -> list_contains(b.dl, x)))::double AS inter,
         |    length(a.dl) AS la, length(b.dl) AS lb
         |  FROM cand c
         |  JOIN hl a ON c.doc_a = a.doc_id
         |  JOIN hl b ON c.doc_b = b.doc_id)
         |SELECT doc_a, doc_b,
         |  round(greatest(inter / la, inter / lb), 4) AS containment,
         |  CASE WHEN inter / la >= inter / lb THEN 'a_in_b' ELSE 'b_in_a' END
         |    AS direction
         |FROM v
         |WHERE round(greatest(inter / la, inter / lb), 4) >= $ContainmentThreshold""".stripMargin,

    // mirrors dedupImpact: the survivor-cluster CTEs + per-source
    // token-weighted keep rates (token counts via the text module's
    // split convention — text_tokens pins the parity)
    "dedup_impact" ->
      s"""WITH RECURSIVE $dupClusterCtes,
         |imp AS (
         |  SELECT d.source,
         |    (coalesce(c.component, d.doc_id) = d.doc_id)::int AS kept,
         |    length(string_split_regex(trim(d.text), ' +')) AS n_tok
         |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
         |)
         |SELECT source, count(*) AS docs_total,
         |  sum(kept)::bigint AS docs_kept,
         |  sum(n_tok)::bigint AS tokens_total,
         |  sum(n_tok * kept)::bigint AS tokens_kept,
         |  round(sum(kept)::double / count(*), 4) AS doc_keep_rate,
         |  round(sum(n_tok * kept)::double / sum(n_tok), 4) AS token_keep_rate
         |FROM imp GROUP BY 1""".stripMargin,

    "dedup_survivors" ->
      s"""WITH RECURSIVE $dupClusterCtes
         |SELECT d.doc_id,
         |  coalesce(comp.component, d.doc_id) AS canonical_id,
         |  (coalesce(comp.component, d.doc_id) = d.doc_id)::int AS is_kept
         |FROM documents d LEFT JOIN comp ON comp.id = d.doc_id""".stripMargin,

    // same cluster derivation, different survivorship policy: keep
    // the LONGEST member (ties → min doc_id), stated as a window rank
    "dedup_best_survivor" ->
      s"""WITH RECURSIVE $dupClusterCtes,
         |cl AS (
         |  SELECT d.doc_id, coalesce(comp.component, d.doc_id) AS cluster_id,
         |    length(d.text)::bigint AS score
         |  FROM documents d LEFT JOIN comp ON comp.id = d.doc_id
         |),
         |r AS (
         |  SELECT doc_id, cluster_id, score,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY score DESC, doc_id) AS rn
         |  FROM cl
         |),
         |k AS (SELECT cluster_id, doc_id AS kept_id FROM r WHERE rn = 1)
         |SELECT cl.doc_id, cl.cluster_id, cl.score, k.kept_id,
         |  (cl.doc_id = k.kept_id)::int AS is_kept
         |FROM cl JOIN k USING (cluster_id)""".stripMargin,

    "dedup_semantic" ->
      // the kmeans assignment is the SAME generated fixed-iteration
      // oracle sim_kmeans verifies against (composed as a subquery);
      // the pair scan mirrors the normalize-then-dot formulation of
      // dedup_embedding_pairs with the cluster as the block key
      s"""WITH asg AS (
         |  SELECT vec_id, cluster FROM (${graft.sim.SimQueries.kmeansOracleSql})
         |), nv AS (
         |  SELECT a.cluster, e.vec_id,
         |    list_transform(e.embedding, x -> x::double
         |      / sqrt(list_sum(list_transform(e.embedding, y -> y::double * y::double)))) AS vn
         |  FROM embeddings e JOIN asg a ON e.vec_id = a.vec_id
         |), removed AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM nv a JOIN nv b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |  WHERE round(list_sum(list_transform(list_zip(a.vn, b.vn), z -> z[1] * z[2])), 4)
         |    >= $CosineThreshold
         |)
         |SELECT n.vec_id, n.cluster,
         |  (r.vec_id IS NULL)::int AS is_kept
         |FROM nv n LEFT JOIN removed r ON n.vec_id = r.vec_id""".stripMargin,

    "dedup_embedding_pairs" ->
      // mirror the Spark formulation EXACTLY (normalize per row, then
      // dot) so floating-point results agree bit-for-bit
      s"""WITH nv AS (
         |  SELECT label AS blk, vec_id AS id,
         |    list_transform(embedding, x -> x::double
         |      / sqrt(list_sum(list_transform(embedding, y -> y::double * y::double)))) AS vn
         |  FROM embeddings
         |), p AS (
         |  SELECT a.blk, a.id AS doc_a, b.id AS doc_b,
         |    round(list_sum(list_transform(list_zip(a.vn, b.vn), z -> z[1] * z[2])), 4) AS cos
         |  FROM nv a JOIN nv b ON a.blk = b.blk AND a.id < b.id
         |)
         |SELECT blk, doc_a, doc_b, cos FROM p WHERE cos >= $CosineThreshold""".stripMargin,
  )
}
