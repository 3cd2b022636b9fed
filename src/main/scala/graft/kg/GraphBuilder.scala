package graft.kg

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Property-graph build with MERGE semantics (SURVEY §2 B7-B8).
  *
  * Mirrors the reference's Neo4j loader semantics
  * (Art-Knowledge-Graph-Local/Graph/graph_builder.py:41-93
  * insert_triplets): nodes MERGEd by (normalized label, name), edges by
  * (head, normalized relation, tail); triples with both endpoints empty
  * are dropped; one-sided triples still create their single node.
  *
  * Spark-first: MERGE = distinct/groupBy — a single shuffle keyed on the
  * merge key, instead of the reference's per-row Cypher round-trips. At
  * 100 TB the nodes dedup shuffles (label,name) only, and edge weights
  * come from map-side-combinable counts.
  */
object GraphBuilder {

  private def nonEmpty(c: String) = col(c).isNotNull && trim(col(c)) =!= ""

  /** Distinct nodes: (label, name). Both endpoints of a triple leave
    * one scan of `triples` through one generator, so a cached input is
    * read (and filled) once. */
  def nodes(triples: DataFrame): DataFrame = {
    def end(name: String, tpe: String) =
      struct(Normalize.normalizeLabel(col(tpe)).as("label"), col(name).as("name"))
    triples
      .select(inline(array(end("subject", "subject_type"), end("object", "object_type"))))
      .filter(nonEmpty("name"))
      .distinct()
  }

  /** Distinct weighted edges keyed by TYPED endpoints:
    * (src_label, src, rel, dst_label, dst, weight). Endpoints carry the
    * same normalized label as `nodes`, so an edge joins back to its
    * nodes unambiguously and two same-named entities of different types
    * (a museum and a city both named "Torino") stay distinct — matching
    * the reference's MERGE between typed nodes
    * (Art-Knowledge-Graph-Local/Graph/graph_builder.py:84-90). */
  def edges(triples: DataFrame): DataFrame =
    triples.filter(nonEmpty("subject") && nonEmpty("object"))
      .select(
        Normalize.normalizeLabel(col("subject_type")).as("src_label"),
        col("subject").as("src"),
        Normalize.normalizeRelation(col("relation")).as("rel"),
        Normalize.normalizeLabel(col("object_type")).as("dst_label"),
        col("object").as("dst"))
      .groupBy("src_label", "src", "rel", "dst_label", "dst")
      .agg(count(lit(1)).as("weight"))

  /** neo4j-admin bulk-import CSVs: the scale path for loading. The
    * reference upserts row-by-row over bolt (graph_builder.py:84 MERGE
    * per triple; AWS variant batches UNWIND of 500) — at 100 TB the only
    * viable route is offline bulk import, so we emit the import format:
    * nodes `id:ID,name,:LABEL`, rels `:START_ID,:END_ID,:TYPE,weight`.
    * Node ids are md5(label|name) — stable, mergeable across runs. */
  def exportNeo4jBulk(triples: DataFrame, outDir: String): Unit = {
    val id = (label: String, name: String) => md5(concat_ws("|", col(label), col(name)))
    val n = nodes(triples)
      .select(id("label", "name").as("id:ID"), col("name"), col("label").as(":LABEL"))
    // relationships regroup `edges` on their endpoints' node ids: two
    // typed edges whose ids coincide (a label or name holding `|`) merge
    // and add their weights, as grouping the triples on the ids would.
    // Over a `Pipeline.run` output the nodes read its triples cache and
    // the relationships its edges cache
    val e = edges(triples)
      .groupBy(id("src_label", "src").as(":START_ID"), id("dst_label", "dst").as(":END_ID"),
        col("rel").as(":TYPE"))
      .agg(sum("weight").as("weight"))
    // neo4j-admin import expects ONE header, not one per CSV part:
    // write headerless data parts plus a separate single-line header
    // file per group (the neo4j-admin `--nodes=header.csv,data/` form),
    // so multi-part exports at scale stay parallel AND importable. The
    // header is one line the driver already knows: it is written through
    // the Hadoop FileSystem in the text writer's layout (header/part-00000)
    // instead of by a Spark job.
    def writeGroup(df: DataFrame, sub: String): Unit = {
      df.write.mode("overwrite").option("header", "false").csv(s"$outDir/$sub/data")
      val dir = new Path(s"$outDir/$sub/header")
      val fs = dir.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
      fs.delete(dir, true)
      val os = fs.create(new Path(dir, "part-00000"))
      try os.write((df.columns.mkString(",") + "\n").getBytes(StandardCharsets.UTF_8))
      finally os.close()
    }
    writeGroup(n, "nodes")
    writeGroup(e, "relationships")
  }
}
