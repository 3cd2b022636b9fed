package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** G31: byte-pair-encoding merge-rule learning — the tokenizer-training
  * step of an LLM data pipeline (Sennrich et al. 2016), Spark-first.
  *
  * The scale insight the original algorithm already contains: BPE
  * never needs the corpus after pretokenization — it trains on the
  * WORD-COUNT table. One distributed pass collapses a 100 TB corpus to
  * vocabulary scale (millions of rows, not billions), and every merge
  * round after that is an aggregation over distinct words weighted by
  * their counts. Each round:
  *   1. adjacent-pair counts: one arrays_zip explode + one sum keyed
  *      on the symbol pair (map-side combined);
  *   2. argmax pair by (count DESC, pair ASC) — a one-row driver
  *      action, the same scalar-guard budget as the SCC loop;
  *   3. greedy left-to-right merge applied to every word: posexplode +
  *      per-word windows mark matches, split consecutive-match runs,
  *      and merge at even offsets within each run (exactly the
  *      non-overlapping leftmost-first semantics of the reference
  *      implementation), then the word's symbol array is rebuilt with
  *      one sort_array(collect_list(struct)). All codegen'd column
  *      work — no higher-order-function lambdas, no UDFs.
  *
  * Determinism: counts are exact integers; ties in the argmax break on
  * the pair itself; merges at a fixed round budget are therefore a
  * pure function of the corpus. BpeSpec pins parity against an
  * independent in-memory reference implementation (the MSF/Kruskal
  * convention), and the driver query ships rows-only.
  */
object Bpe {

  /** Learn `k` merge rules from whitespace-pretokenized text. Returns
    * (rank, left, right, pair_count) — rank 1 is the first merge.
    *
    * COST MODEL (r20, pinned by BpeSpec "G31 cost model"): the merge
    * dependency is inherently sequential — rule r+1's pair counts
    * exist only after rule r is applied — and its input is the
    * DISTINCT-WORD count table, never the corpus, so the loop runs at
    * vocab scale by construction. Below [[BpeLocalMaxWords]] the k
    * rounds run in plain Scala over the collected word table (the
    * componentsGuarded/Louvain guarded-local discipline): 3 actions
    * total — pretokenize checkpoint, guard count, one collect —
    * instead of 2k+2 (the k sequential argmax collects + k merged-
    * table checkpoints whose fixed per-job overhead dominated the
    * bench: ~0.4 s/rule at sf0.1 for frames of a few thousand rows).
    * This is also the production shape: real tokenizer trainers
    * (SentencePiece, HF tokenizers) collect the sampled word counts
    * to one node and loop there. Above the guard the distributed
    * rounds run unchanged except the per-round merge application,
    * which is a zero-shuffle narrow map ([[applyMergesAll]]) instead
    * of the 3-window + regroup [[applyMerge]] plan — at real vocab
    * scale that removes ~4 exchanges of the word table per learned
    * rule. Results are identical on both paths BY CONSTRUCTION
    * (argmax by (count DESC, pair ASC) with Spark's UTF8 binary
    * string order mirrored byte for byte; the same greedy
    * leftmost-first kernel) and pinned by BpeSpec parity tests.
    * Production guidance baked into the faces: train on a bounded
    * sample (every real tokenizer trains on one — the text_bpe driver
    * face trains on the oracle-SF corpus directly because that IS a
    * sample), and learn once — [[cachedMerges]] memoizes rules per
    * (session, corpus key) so the encode faces never re-train. */
  def learnMerges(docs: DataFrame, textCol: String, k: Int): DataFrame =
    learnMergesFrom(pretokenize(docs, textCol), k)

  /** Driver guard for the local merge sweep — the word-count table is
    * vocab-scale (a 100 TB corpus has tens of millions of distinct
    * words, not billions), but only a bounded table may collect:
    * 2²¹ ≈ 2M words × ~50 B ≈ 100 MB driver-side, the same budget
    * class as Graphs.DriverMaxRows. Above it, distributed
    * rounds. */
  val BpeLocalMaxWords: Long = 1L << 21

  /** [[learnMerges]] over an explicit (w, n, syms) word table — the
    * seam that lets the BYTE-level face (G55) train through the exact
    * same merge kernel with a different base alphabet. `localMax`
    * exists for tests to force the distributed path (0) — see the
    * cost-model scaladoc on [[learnMerges]]. */
  def learnMergesFrom(words0: DataFrame, k: Int,
      localMax: Long = BpeLocalMaxWords): DataFrame = {
    val spark = words0.sparkSession
    import spark.implicits._
    var words = words0.localCheckpoint(eager = true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    if (words.count() <= localMax) {
      // guarded-local sweep: identical semantics in plain Scala
      val data = words.select(col("n"), col("syms")).collect()
        .map(r => (r.getLong(0), r.getSeq[String](1).toArray))
      var r = 0
      var exhausted = false
      while (r < k && !exhausted) {
        val counts = new java.util.HashMap[(String, String), Long]()
        data.foreach { case (n, syms) =>
          var i = 0
          while (i + 1 < syms.length) {
            val p = (syms(i), syms(i + 1))
            counts.put(p, counts.getOrDefault(p, 0L) + n)
            i += 1
          }
        }
        if (counts.isEmpty) exhausted = true
        else {
          // argmax by (count DESC, a ASC, b ASC) in Spark's UTF8
          // binary string order — the orderBy the distributed round
          // collects
          var bestA: String = null; var bestB: String = null
          var bestC = Long.MinValue
          counts.forEach { (p, c) =>
            val better = c > bestC || (c == bestC &&
              (utf8Less(p._1, bestA) ||
                (p._1 == bestA && utf8Less(p._2, bestB))))
            if (better) { bestA = p._1; bestB = p._2; bestC = c }
          }
          r += 1
          merges += ((r, bestA, bestB, bestC))
          var j = 0
          while (j < data.length) {
            data(j) = (data(j)._1, mergeOncePieces(data(j)._2, bestA, bestB))
            j += 1
          }
        }
      }
    } else {
      var r = 0
      var exhausted = false
      while (r < k && !exhausted) {
        val multi = words.filter(size(col("syms")) >= 2)
        val pair = explode(arrays_zip(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1))).as("p")
        val counts = multi.select(col("n"), pair)
          .select(col("n"), col("p").getField("0").as("a"), col("p").getField("1").as("b"))
          .groupBy("a", "b").agg(sum(col("n")).as("cnt"))
        // the round's one scalar action: the argmax merge rule
        val best = counts.orderBy(col("cnt").desc, col("a"), col("b")).limit(1).collect()
        if (best.isEmpty) exhausted = true
        else {
          val (a, b, cnt) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
          r += 1
          merges += ((r, a, b, cnt))
          words = applyMergesAll(words, Seq((a, b))).localCheckpoint(eager = true)
        }
      }
    }
    merges.toSeq.toDF("rank", "left", "right", "pair_count")
  }

  /** Spark's string sort order, locally: unsigned lexicographic over
    * UTF-8 bytes (UTF8String.compareTo). Differs from Java's
    * String.compareTo only across the surrogate range — mirrored so
    * the guarded-local argmax ties break exactly like the distributed
    * orderBy. */
  private[text] def utf8LessLocal(x: String, y: String): Boolean =
    utf8Less(x, y)

  private def utf8Less(x: String, y: String): Boolean = {
    if (y == null) return false
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    a.length < b.length
  }

  /** One greedy leftmost-first merge of (a,b) over one word's symbol
    * array — the scalar kernel of [[applyMerge]]'s frame-wide
    * spelling: a left-to-right scan that merges a match and skips its
    * absorbed right symbol is exactly "merge at even offsets within
    * each run of consecutive matches" (pinned by BpeSpec parity). */
  def mergeOncePieces(syms: Array[String], a: String, b: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** The full merge-rule fold applied to every word in ONE narrow
    * map (r20): each word's segmentation under a fixed rule list is
    * independent of every other word, so the k-pass frame fold
    * ([[applyMerge]] per rule: 3 windows + a regroup = ~4 exchanges
    * of the word table, k eager checkpoints) collapses to a single
    * zero-shuffle projection with the rules in the task closure —
    * the per-task-state shape of guide §4.5. The JVM closure is the
    * deliberate trade: it replaces k shuffled passes, not a codegen
    * expression (measured at sf0.1: the 8-rule encode fold fell from
    * ~1.8 s to one pass). Semantics pinned by BpeSpec against the
    * windowed kernel and the independent reference fold. */
  def applyMergesAll(words: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    if (merges.isEmpty) return words
    val ms = merges.toArray
    val applyAll = udf { (syms: Seq[String]) =>
      var cur = syms.toArray
      var i = 0
      while (i < ms.length) {
        cur = mergeOncePieces(cur, ms(i)._1, ms(i)._2); i += 1
      }
      cur.toSeq
    }
    words.select(col("w"), col("n"), applyAll(col("syms")).as("syms"))
  }

  /** Whitespace pretokenization to the word-count table with each
    * word's symbol array — the frame every BPE phase trains on. */
  def pretokenize(docs: DataFrame, textCol: String): DataFrame = docs
    .select(explode(split(trim(col(textCol)), " +")).as("w"))
    .filter(length(col("w")) > 0)
    .groupBy("w").agg(count(lit(1)).as("n"))
    .select(col("w"), col("n"),
      array_remove(split(col("w"), ""), "").as("syms"))

  /** G55: BYTE-level pretokenization — the GPT-2 move (Radford et al.
    * 2019): base symbols are the word's UTF-8 BYTES (rendered as
    * two-char uppercase hex), so the base alphabet is CLOSED at ≤ 256
    * symbols and no input — emoji, CJK, mojibake, binary-ish junk —
    * is ever out-of-vocabulary. Everything downstream (merge
    * learning, encoding) reuses the char-level kernels unchanged: a
    * symbol is just a string, and a merged symbol is the byte
    * sequence's hex concatenation. The corpus-scale shape is
    * IDENTICAL to [[pretokenize]] — one explode + one count keyed on
    * the word — with the byte expansion a codegen'd projection over
    * the vocab-scale word table, never the corpus. */
  def pretokenizeBytes(docs: DataFrame, textCol: String): DataFrame = docs
    .select(explode(split(trim(col(textCol)), " +")).as("w"))
    .filter(length(col("w")) > 0)
    .groupBy("w").agg(count(lit(1)).as("n"))
    .select(col("w"), col("n"), byteSyms(col("w")).as("syms"))

  /** The UTF-8 bytes of a string column as a hex-pair symbol array
    * ("the" → ["74","68","65"]) — pure codegen'd expressions
    * (encode/hex/substr), no UDF. */
  def byteSyms(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val hx = hex(encode(c, "UTF-8"))
    transform(sequence(lit(1), length(encode(c, "UTF-8"))),
      i => hx.substr(i * 2 - 1, lit(2)))
  }

  /** One greedy leftmost-first merge of (a,b) applied to every word of
    * a (w, n, syms) frame — the shared kernel of learn (argmax'd
    * rules) and encode (given rules). */
  def applyMerge(words: DataFrame, a: String, b: String): DataFrame = {
    val wn = Window.partitionBy("w").orderBy("pos")
    val ex = words
      .select(col("w"), col("n"), posexplode(col("syms")).as(Seq("pos", "s")))
      .withColumn("m", (col("s") === a && lead(col("s"), 1).over(wn) === b).cast("int"))
    // consecutive matched positions form runs (overlapping pairs,
    // e.g. "aaa" under a+a); leftmost-first = merge at even offsets
    val mrows = ex.filter(col("m") === 1)
      .withColumn("runkey", col("pos") - row_number().over(wn))
      .withColumn("merge_at",
        ((col("pos") - min(col("pos")).over(
          Window.partitionBy("w", "runkey"))) % 2 === 0).cast("int"))
      .select(col("w").as("w2"), col("pos").as("mpos"), col("merge_at"))
    ex.join(mrows, col("w") === col("w2") && col("pos") === col("mpos"), "left")
      .withColumn("prev_merged",
        coalesce(lag(col("merge_at"), 1).over(wn), lit(0)))
      .filter(col("prev_merged") === 0) // the absorbed right symbol drops
      .withColumn("v",
        when(col("merge_at") === 1, lit(a + b)).otherwise(col("s")))
      .groupBy("w", "n")
      .agg(expr("sort_array(collect_list(struct(pos, v)))").as("arr"))
      .select(col("w"), col("n"), col("arr.v").as("syms"))
  }

  /** G32: the ENCODE half — segment every distinct word under the
    * ranked merge rules. The corpus never re-tokenizes: encoding is a
    * fold of k merges over the VOCABULARY-scale word table, and any
    * downstream corpus pass is a word→pieces dictionary join. Returns
    * (w, n, pieces). */
  def wordPieces(docs: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    wordPiecesFrom(pretokenize(docs, textCol), merges)

  /** [[wordPieces]] over an explicit (w, n, syms) word table — the
    * encode-side twin of [[learnMergesFrom]], so the byte-level faces
    * encode through the identical merge fold. r20: the k sequential
    * windowed passes (one checkpoint per rule) collapsed to the
    * single [[applyMergesAll]] projection — encode is embarrassingly
    * per-word, so it never needed a shuffle at any scale. */
  def wordPiecesFrom(words0: DataFrame,
      merges: Seq[(String, String)]): DataFrame =
    applyMergesAll(words0, merges)
      .select(col("w"), col("n"), col("syms").as("pieces"))

  /** Learned merge rules memoized per (session, key) — the encode face
    * must not re-train (write-once/query-many, the store convention:
    * rules are the tokenizer artifact, learned once per corpus). */
  private val ruleCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, Int), Seq[(String, String)]]
  def cachedMerges(docs: DataFrame, textCol: String, k: Int, key: String): Seq[(String, String)] =
    ruleCache.getOrElseUpdate((docs.sparkSession, key, k),
      learnMerges(docs, textCol, k).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq)

  /** [[cachedMerges]] for the BYTE-level model (G55) — distinct cache
    * key space: the two models' rules must never cross-contaminate. */
  def cachedMergesBytes(docs: DataFrame, textCol: String, k: Int, key: String): Seq[(String, String)] =
    ruleCache.getOrElseUpdate((docs.sparkSession, s"$key#bytes", k),
      learnMergesFrom(pretokenizeBytes(docs, textCol), k).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq)

  /** G32 driver face: encode the vocabulary under the (memoized)
    * learned rules and report the corpus's top piece frequencies —
    * the "what does the learned vocab actually look like" QA query. */
  def topPieces(docs: DataFrame, textCol: String, k: Int, topK: Int,
      cacheKey: String = ""): DataFrame = {
    val learned =
      if (cacheKey.nonEmpty) cachedMerges(docs, textCol, k, cacheKey)
      else learnMerges(docs, textCol, k).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
    rankPieces(wordPieces(docs, textCol, learned), topK)
  }

  /** The shared corpus-piece ranking tail of [[topPieces]] and
    * [[topPiecesSampled]]. */
  private def rankPieces(pieces: DataFrame, topK: Int): DataFrame = {
    val w = Window.orderBy(col("n_tokens").desc, col("piece"))
    pieces.select(col("n"), explode(col("pieces")).as("piece"))
      .groupBy("piece").agg(sum(col("n")).as("n_tokens"))
      .orderBy(col("n_tokens").desc, col("piece")).limit(topK)
      // topK-row final ranking only (the text_bm25 convention)
      .withColumn("rnk", row_number().over(w))
  }

  /** G58: the SAMPLE-FIRST training discipline as an oracled operator
    * (r18 verdict #4) — rules learn on a deterministic hash-range doc
    * sample, the encode applies CORPUS-WIDE. This is how every real
    * tokenizer trains (SentencePiece/tiktoken train on reservoir or
    * hash samples, never the raw corpus): the k sequential driver
    * rounds of [[learnMergesFrom]] then run over a word table built
    * from a BOUNDED slice — at 100 TB the sample predicate is the
    * difference between k vocab-scale aggregations and k
    * corpus-shaped ones — while the corpus pass stays the one
    * dictionary-scale merge fold every word gets anyway. */
  def topPiecesSampled(docs: DataFrame, textCol: String, k: Int,
      topK: Int, samplePred: org.apache.spark.sql.Column): DataFrame = {
    val learned = learnMerges(docs.filter(samplePred), textCol, k)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    rankPieces(wordPieces(docs, textCol, learned), topK)
  }
}
