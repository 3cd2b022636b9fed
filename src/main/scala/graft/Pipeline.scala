package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{RdfXml, Sources}
import graft.kg.{GraphBuilder, LlmChains, Normalize}

/** End-to-end KG-construction pipeline — the reference's main.py flow
  * (Art-Knowledge-Graph-Local/main.py: ingest → batch → LLM triplet
  * extraction → normalize → standardize → graph load) as one Spark job.
  *
  * Stages:
  *  1. ingest every file in a data directory (CSV/TSV/JSON + RDF/XML)
  *     and union heterogeneously (strings, missing → "");
  *  2. re-batch records as JSON array strings (the LLM prompt payload);
  *  3. run the (pluggable) LLM chain partition-wise and recover
  *     triplets tolerantly; RDF triples bypass the LLM — they are
  *     already (subject, relation, object) shaped, as in the reference;
  *  4. normalize entities + standardize relations;
  *  5. MERGE-build nodes/edges; optionally export neo4j bulk CSVs.
  *
  * Every stage is a narrow or single-shuffle transformation — the whole
  * pipeline is one lazy plan per output, no driver-side loops.
  */
object Pipeline {

  final case class KgOutputs(records: DataFrame, triples: DataFrame,
      nodes: DataFrame, edges: DataFrame)

  /** Driver-side listing of top-level inputs (per-file frames are
    * required because each file has its own schema); the per-file READS
    * are fully distributed. Caveat for million-file landing zones: this
    * one-frame-per-file shape matches the reference's directory layout
    * (tens of files, each its own schema); at landing-zone scale, group
    * files by schema first and hand each GROUP to one reader as a path
    * list — Spark parallelizes the listing and splits within a single
    * load, which a per-file loop would serialize on the driver. */
  private def files(dir: String, ext: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(ext)).map(_.getAbsolutePath).sorted

  def run(spark: SparkSession, dataDir: String,
      chain: LlmChains.Chain = LlmChains.StubChain,
      batchSize: Int = 100): KgOutputs = {
    import spark.implicits._

    // 1. ingest: tabular formats → heterogeneous union of string
    // frames; malformed files degrade to a _corrupt_record-only frame
    // and are skipped, like the reference's try/except per file
    // (data_ingestion_batch.py:121-127)
    val tabular = (
      files(dataDir, ".csv").map(p => Sources.csv(spark, p)) ++
      files(dataDir, ".tsv").map(p => Sources.tsv(spark, p)) ++
      files(dataDir, ".json").map(p => Sources.json(spark, p, multiLine = true))
    ).filter(df => df.columns.nonEmpty && df.columns.toSeq != Seq("_corrupt_record"))
    val records = if (tabular.nonEmpty) Sources.unionHeterogeneous(tabular)
      else spark.emptyDataFrame

    // 2-3. LLM extraction over batched records through `chain`
    val llmTriples =
      if (records.columns.isEmpty) spark.emptyDataFrame
      else {
        // batches of `batchSize` consecutive records of one partition,
        // like the reference's get_batches; the id adds no job or shuffle
        val keyed = records.withColumn("__rid", monotonically_increasing_id())
        val batches = Sources.jsonBatches(keyed, "__rid", batchSize)
        LlmChains.extractFromRecords(batches.select("batch_json").as[String], chain)
      }

    // 3b. RDF/XML triples (already structured → no LLM pass)
    val rdf =
      if (files(dataDir, ".xml").isEmpty) None
      else Some(RdfXml.rdfTriples(spark, s"$dataDir/*.xml")
        .select(col("subject"), lit("entity").as("subject_type"),
          col("xml_label").as("relation"),
          col("object"), lit("entity").as("object_type")))

    val triples = (Option(llmTriples).filter(_.columns.nonEmpty) ++ rdf)
      .reduceOption(_.unionByName(_))
      .getOrElse(spark.emptyDataFrame)

    // 4. normalize + standardize
    val (nv, nt) = Normalize.normalizeEntity(col("object"), col("object_type"))
    val normalized = triples
      .withColumn("__obj", nv).withColumn("__objt", nt)
      .drop("object", "object_type")
      .withColumnRenamed("__obj", "object").withColumnRenamed("__objt", "object_type")
    val standardized = Normalize
      .standardizeRelations(normalized, "relation", "relation_std")
      .drop("relation").withColumnRenamed("relation_std", "relation")

    // 5. MERGE-build
    KgOutputs(records, standardized,
      GraphBuilder.nodes(standardized), GraphBuilder.edges(standardized))
  }
}
