package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The driver-side rounds of `maximalMatchingGuarded` against the
  * distributed `maximalMatching`, on random graphs from fixed scalacheck
  * seeds, one DataFrame per case: the same rows, the same rounds
  * reported and the same schema. The graphs have self-loops, duplicate
  * rows, shared and null keys, and names mixing BMP characters above the
  * surrogate range with supplementary ones, which order differently in
  * UTF-16 and in UTF-8 (Spark's order). */
class MatchingPropertySpec extends SparkSpec {
  import spark.implicits._

  // "ａ" and "\uE000" sort below "😀" in UTF-8, above it as Java strings
  private val alphabet = Seq("a", "b", "é", "ａ", "\uE000", "😀", "𐀀")
  private val name: Gen[String] = Gen.choose(1, 3).flatMap(n =>
    Gen.listOfN(n, Gen.oneOf(alphabet)).map(_.mkString))
  private def orNull(g: Gen[String]): Gen[String] = Gen.frequency(30 -> g, 1 -> Gen.const(null))

  private case class Case(rows: Seq[(String, String, String)], rounds: Int)

  private val graph: Gen[Case] = for {
    verts <- Gen.choose(1, 10).flatMap(Gen.listOfN(_, name))
    m <- Gen.frequency(1 -> Gen.const(0), 8 -> Gen.choose(1, 30))
    edges <- Gen.listOfN(m, for {
      u <- orNull(Gen.oneOf(verts))
      // a self-loop in about one edge of eight
      v <- Gen.frequency(1 -> Gen.const(u), 7 -> orNull(Gen.oneOf(verts)))
      // keys: mostly unique (prefix ++ endpoints), sometimes shared
      k <- Gen.frequency(6 -> name.map(p => s"$p|$u|$v"), 2 -> name, 1 -> Gen.const(null))
    } yield (u, v, k))
    dups <- Gen.someOf(edges)
    rounds <- Gen.choose(1, 6)
  } yield Case(edges ++ dups, rounds)

  private def run(f: (DataFrame, Int) => DataFrame, df: DataFrame, rounds: Int) = {
    val out = f(df, rounds)
    val got = out.collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
      .sortBy(_.toString).toSeq
    (got, Graphs.lastRoundsExecuted, out.schema)
  }

  test("maximalMatchingGuarded equals maximalMatching in rows, rounds and schema on random graphs") {
    val cases = Gen.listOfN(14, graph).pureApply(Gen.Parameters.default, Seed(7101L))
    val all = Case(Nil, 3) +: cases
    assert(all.exists(_.rows.exists { case (u, v, _) => u != null && u == v }), "no self-loop")
    assert(all.exists(c => c.rows.distinct.size < c.rows.size), "no duplicate row")
    all.zipWithIndex.foreach { case (c, i) =>
      val df = c.rows.toDF("u", "v", "pkey")
      val dist = run(Graphs.maximalMatching, df, c.rounds)
      val local = run((d, r) => Graphs.maximalMatchingGuarded(d, r), df, c.rounds)
      assert(local == dist, s"case $i (${c.rows.size} rows, ${c.rounds} rounds): $c")
    }
    assert(all.exists(c => Graphs.maximalMatchingGuarded(c.rows.toDF("u", "v", "pkey"), c.rounds)
      .collect().nonEmpty))
  }

  test("UTF-8 key order decides the match where UTF-16 order would not") {
    // one path x - y - z: the key of x-y sorts first in UTF-16, the key
    // of y-z in UTF-8, so only Spark's order matches y-z in round 1
    val df = Seq(("x", "y", "😀"), ("y", "z", "ａ")).toDF("u", "v", "pkey")
    val got = Graphs.maximalMatchingGuarded(df, 6).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(got == Set(("y", "z", 1)))
    assert(got == Graphs.maximalMatching(df, 6).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet)
  }

  test("building graph_matching runs at most 3 jobs; over the guard the distributed rounds run") {
    GraphQueries.graphMatching(spark, sfDir).collect() // builds the stored geo graph
    val jobs = countJobs { GraphQueries.graphMatching(spark, sfDir) }
    assert(jobs <= 3, s"$jobs jobs")
    val df = Seq(("a", "b", "1"), ("b", "c", "0"), ("c", "d", "2")).toDF("u", "v", "pkey")
    var over: DataFrame = null
    val overJobs = countJobs { over = Graphs.maximalMatchingGuarded(df, 6, localMax = 0) }
    assert(overJobs > 3, s"$overJobs jobs: the distributed rounds did not run")
    assert(over.collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet ==
      Set(("b", "c", 1)))
  }
}
