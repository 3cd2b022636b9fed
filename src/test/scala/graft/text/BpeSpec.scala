package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._
import scala.annotation.tailrec

/** G31: the distributed BPE learner must reproduce the reference
  * greedy merge semantics exactly — pinned against an independent
  * in-memory implementation (the MSF/Kruskal parity convention), on a
  * hand-checkable fixture AND the real sf corpus. */
class BpeSpec extends SparkSpec {

  private def mergeGreedy(syms: List[String], a: String, b: String): List[String] = {
    @tailrec def loop(rest: List[String], acc: List[String]): List[String] = rest match {
      case x :: y :: t if x == a && y == b => loop(t, (a + b) :: acc)
      case x :: t => loop(t, x :: acc)
      case Nil => acc.reverse
    }
    loop(syms, Nil)
  }

  /** Independent reference: word-count BPE, leftmost-first merges. */
  private def refBpe(wordCounts: Map[String, Long], k: Int): Seq[(Int, String, String, Long)] = {
    var ws: Map[String, (List[String], Long)] =
      wordCounts.map { case (w, n) => w -> ((w.map(_.toString).toList, n)) }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 0
    var done = false
    while (r < k && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
      ws.values.foreach { case (syms, n) =>
        syms.zip(syms.drop(1)).foreach(p => counts(p) += n) }
      if (counts.isEmpty) done = true
      else {
        val ((a, b), cnt) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
        r += 1
        out += ((r, a, b, cnt))
        ws = ws.map { case (w, (syms, n)) => w -> ((mergeGreedy(syms, a, b), n)) }
      }
    }
    out.toSeq
  }

  private def learned(df: org.apache.spark.sql.DataFrame): Seq[(Int, String, String, Long)] =
    df.collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1).toSeq

  test("G31 cost model: learning k rules stays within the pinned job budgets on both paths") {
    import spark.implicits._
    // the contract the scaladoc pins (r20, two-path): BPE's merge
    // dependency is sequential, so the DISTRIBUTED learner is ALLOWED
    // 2k+2 driver-blocking ACTIONS (k argmax collects + k merged-table
    // checkpoints + pretokenize checkpoint + the final exhaustion
    // check) — each over the vocab-scale word-count table — and NOT
    // more. Under AQE one action schedules a small constant number of
    // stage-jobs, so the job bound is (2k+2+1 forcing count +1 guard
    // count) × a per-action constant. The GUARDED-LOCAL path (the
    // default below BpeLocalMaxWords) must stay k-INDEPENDENT: one
    // checkpoint + one guard count + one collect + the forcing count.
    val docs = Seq("low low lower lowest", "newer new newest low")
      .toDF("text")
    val k = 4
    val perActionAqeJobs = 4 // measured: a shuffle+collect action runs ≤4 AQE stage-jobs
    val distJobs = countJobs {
      Bpe.learnMergesFrom(Bpe.pretokenize(docs, "text"), k, localMax = 0)
        .count()
    }
    assert(distJobs >= k,
      s"expected at least one job per learned rule, saw $distJobs")
    assert(distJobs <= (2 * k + 4) * perActionAqeJobs,
      s"distributed BPE learning must stay within the pinned O(k)-actions " +
        s"budget (${2 * k + 4} actions x $perActionAqeJobs AQE jobs), saw $distJobs")
    val localJobs = countJobs { Bpe.learnMerges(docs, "text", k).count() }
    assert(localJobs <= 4 * perActionAqeJobs,
      s"guarded-local BPE learning must be k-independent " +
        s"(4 actions x $perActionAqeJobs AQE jobs), saw $localJobs")
  }

  test("G31 r20: the guarded-local learner and the distributed rounds agree rule for rule") {
    import spark.implicits._
    // both paths on the same corpus — including a multibyte word so
    // the local argmax's UTF8-binary tie-break is exercised — must
    // produce identical (rank, left, right, count) rows; the encode
    // fold likewise (single-pass closure vs the windowed kernel)
    val docs = Seq("low low low lower lowest", "ééé élan élan",
      "newer newer wider").toDF("text")
    val words = Bpe.pretokenize(docs, "text")
    val loc = learned(Bpe.learnMergesFrom(words, 6))
    val dist = learned(Bpe.learnMergesFrom(words, 6, localMax = 0))
    assert(loc == dist, s"\nlocal $loc\ndist  $dist")
    val rules = loc.map(m => (m._2, m._3))
    val folded = rules.foldLeft(words) { case (df, (a, b)) =>
      Bpe.applyMerge(df, a, b) }
      .collect().map(r => r.getString(0) -> r.getSeq[String](2).toList).toMap
    val onePass = Bpe.applyMergesAll(words, rules)
      .collect().map(r => r.getString(0) -> r.getSeq[String](2).toList).toMap
    assert(onePass == folded, s"\none-pass $onePass\nfolded  $folded")
  }

  test("G31 classic low/lower/lowest fixture: merges match the reference rule for rule") {
    import spark.implicits._
    val docs = Seq(
      "low low low low low", "lower lower", "lowest lowest lowest",
      "newer newer newer newer newer newer", "wider wider wider").toDF("text")
    val got = learned(Bpe.learnMerges(docs, "text", 6))
    val wc = Seq("low" -> 5L, "lower" -> 2L, "lowest" -> 3L, "newer" -> 6L, "wider" -> 3L).toMap
    val want = refBpe(wc, 6)
    assert(got == want, s"\ngot  $got\nwant $want")
    // the er-heavy corpus must learn e+r first (count 11)
    assert(got.head._2 == "e" && got.head._3 == "r" && got.head._4 == 11L)
  }

  test("G31 overlapping pairs merge leftmost-first (aaa under a+a)") {
    import spark.implicits._
    val docs = Seq("aaa aaa aaa aaa", "ab ab").toDF("text")
    val got = learned(Bpe.learnMerges(docs, "text", 2))
    val want = refBpe(Map("aaa" -> 4L, "ab" -> 2L), 2)
    assert(got == want, s"\ngot  $got\nwant $want")
  }

  test("G32 encode segments words exactly like the reference merge fold") {
    import spark.implicits._
    val docs = Seq(
      "low low low low low", "lower lower", "lowest lowest lowest",
      "newer newer newer newer newer newer", "wider wider wider").toDF("text")
    val wc = Seq("low" -> 5L, "lower" -> 2L, "lowest" -> 3L, "newer" -> 6L, "wider" -> 3L).toMap
    val rules = refBpe(wc, 6).map(m => (m._2, m._3))
    val got = Bpe.wordPieces(docs, "text", rules).collect()
      .map(r => r.getString(0) -> r.getSeq[String](2).toList).toMap
    val want = wc.keys.map { w =>
      w -> rules.foldLeft(w.map(_.toString).toList) {
        case (syms, (a, b)) => mergeGreedy(syms, a, b) }
    }.toMap
    assert(got == want, s"\ngot  $got\nwant $want")
    // segmentation is a partition of each word
    got.foreach { case (w, ps) => assert(ps.mkString == w) }
  }

  test("G32 top pieces are the reference piece frequencies, ranked") {
    import spark.implicits._
    val docs = Seq("low low lower newer newer newest").toDF("text")
    val wc = Map("low" -> 2L, "lower" -> 1L, "newer" -> 2L, "newest" -> 1L)
    val k = 4
    val got = Bpe.topPieces(docs, "text", k, 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toList
    val rules = refBpe(wc, k).map(m => (m._2, m._3))
    val freqs = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    wc.foreach { case (w, n) =>
      rules.foldLeft(w.map(_.toString).toList) {
        case (syms, (a, b)) => mergeGreedy(syms, a, b)
      }.foreach(p => freqs(p) += n)
    }
    val want = freqs.toList.sortBy { case (p, n) => (-n, p) }.take(10)
      .zipWithIndex.map { case ((p, n), i) => (p, n, i + 1) }
    assert(got == want, s"\ngot  $got\nwant $want")
  }

  test("G31 parity with the reference on the real sf corpus") {
    val docs = graft.Tables.documents(spark, sfDir).select("text")
    val got = learned(Bpe.learnMerges(docs, "text", 5))
    val wc = docs.collect().iterator
      .flatMap(_.getString(0).trim.split(" +")).filter(_.nonEmpty)
      .foldLeft(Map.empty[String, Long].withDefaultValue(0L)) {
        (m, w) => m.updated(w, m(w) + 1L) }
    val want = refBpe(wc, 5)
    assert(got == want, s"\ngot  $got\nwant $want")
  }

  test("G55 byte-level BPE: an ASCII corpus reduces to the char learner under the hex renaming; multibyte chars merge their own bytes") {
    import spark.implicits._
    // the hex renaming (fixed-width, monotone per byte) preserves both
    // pair counts (1 byte per ASCII char) and the argmax tie-break's
    // lexicographic order, so the rule SEQUENCES must correspond 1:1 —
    // an independent pin that the byte face is the same kernel, not a
    // re-implementation that could drift
    val docs = Seq("low low lower lowest", "new newer newest low").toDF("text")
    def hexOf(s: String): String =
      s.getBytes("UTF-8").map(b => f"${b & 0xff}%02X").mkString
    val charRules = learned(Bpe.learnMerges(docs, "text", 6))
      .map { case (r, a, b, c) => (r, hexOf(a), hexOf(b), c) }
    val byteRules =
      learned(Bpe.learnMergesFrom(Bpe.pretokenizeBytes(docs, "text"), 6))
    assert(byteRules == charRules,
      s"\nbyte $byteRules\nchar-as-hex $charRules")
    // the reason the face exists: a multibyte char is never OOV — its
    // bytes are base symbols and the learner merges THEM. "ééé é":
    // C3 A9 ×4 → (C3,A9) count 4 beats (A9,C3) count 2
    val uni = Seq("ééé é").toDF("text")
    val r1 = learned(Bpe.learnMergesFrom(Bpe.pretokenizeBytes(uni, "text"), 1))
    assert(r1 == Seq((1, "C3", "A9", 4L)), s"got $r1")
  }

  test("G57 fertility: per-lang ratios equal an independent greedy fold weighted by collected word counts") {
    // rules from the (separately pinned) byte learner; the spec's
    // target is the WEIGHTING — per-lang word counts joined to the
    // encoded dictionary — re-derived with the in-memory fold
    val docs = graft.Tables.documents(spark, sfDir)
    val rules = Bpe.learnMergesFrom(Bpe.pretokenizeBytes(docs, "text"), 8)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    def hexSyms(w: String): List[String] =
      w.getBytes("UTF-8").map(b => f"${b & 0xff}%02X").toList
    def pieces(w: String): Int =
      rules.foldLeft(hexSyms(w)) { case (s, (a, b)) => mergeGreedy(s, a, b) }.size
    val perLang = docs.select("lang", "text").collect()
      .flatMap(r => r.getString(1).trim.split(" +").filter(_.nonEmpty)
        .map(w => (r.getString(0), w)))
      .groupBy(_._1).map { case (lang, ws) =>
        val nw = ws.length.toLong
        val np = ws.iterator.map(x => pieces(x._2).toLong).sum
        val nb = ws.iterator.map(_._2.getBytes("UTF-8").length.toLong).sum
        lang -> ((nw, np,
          BigDecimal(np.toDouble / nw).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
          BigDecimal(nb.toDouble / np).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }
    val got = TextQueries.textBpeFertility(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got == perLang, s"\ngot  $got\nwant $perLang")
  }

  test("G58 sample-first training: an all-true sample degenerates to the full face, and sample-learned rules still encode EVERY corpus word") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sfDir)
    // contract floor: sample ≡ corpus ⇒ identical output (the sampled
    // face is the same operator, parameterized by training scope)
    val full = TextQueries.queries("text_bpe_encode")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val degenerate = Bpe.topPiecesSampled(docs, "text", 8, 30, lit(true))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(degenerate == full)
    // a REAL 1/2 sample: rules come from half the docs, but the encode
    // is corpus-wide — every distinct corpus word is segmented and the
    // piece mass equals the full corpus symbol mass under those rules
    val half = conv(substring(md5(concat(lit("g58|"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long") % 2 === 0
    val sampledRules = Bpe.learnMerges(docs.filter(half), "text", 4)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(sampledRules.nonEmpty)
    val encoded = Bpe.wordPieces(docs, "text", sampledRules)
    assert(encoded.count() ==
      docs.select(explode(split(trim(col("text")), " +")).as("w"))
        .filter(length(col("w")) > 0).select("w").distinct().count(),
      "the encode must cover the whole corpus vocabulary, not the sample")
  }
}
