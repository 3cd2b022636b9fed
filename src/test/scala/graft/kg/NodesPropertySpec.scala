package graft.kg

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** `GraphBuilder.nodes`, which reads both endpoints of a triple in one
  * scan, against the union of one filtered scan per endpoint
  * ([[TwoScanGraph.nodes]]), on generated triples from a fixed
  * scalacheck seed, one DataFrame per case. The values include null,
  * empty and whitespace-only endpoints and types, `|` inside names and
  * types, and names outside the BMP. */
class NodesPropertySpec extends SparkSpec {
  import spark.implicits._

  private val odd = Seq[String](null, "", " ", "\t ")
  private def orOdd(g: Gen[String]): Gen[String] = Gen.frequency(6 -> g, 1 -> Gen.oneOf(odd))
  private val name = orOdd(Gen.oneOf("Torino", "b|c", "c", "Ｍ", "😀", " x ", "x"))
  private val tpe = orOdd(Gen.oneOf("city", "museum", "art_work", "a|b", "a", "  painter  "))
  private val relation = orOdd(Gen.oneOf("located in", "same-as", "painted"))

  private val triples: Gen[Seq[(String, String, String, String, String)]] =
    Gen.choose(0, 30).flatMap(Gen.listOfN(_,
      Gen.zip(name, tpe, relation, name, tpe)))

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().toSeq.map((r: Row) => r.toString).sorted

  test("GraphBuilder.nodes equals the two-scan union on generated triples") {
    val cases = Gen.listOfN(20, triples).pureApply(Gen.Parameters.default, Seed(8101L))
    assert(cases.flatten.exists(t => odd.contains(t._1)) && cases.flatten.exists(t => odd.contains(t._4)),
      "no null or blank endpoint drawn")
    cases.zipWithIndex.foreach { case (c, i) =>
      val df = c.toDF("subject", "subject_type", "relation", "object", "object_type")
      val (got, want) = (GraphBuilder.nodes(df), TwoScanGraph.nodes(df))
      assert(got.schema == want.schema, s"case $i schema")
      assert(rows(got) == rows(want), s"case $i (${c.size} triples): $c")
    }
  }
}
