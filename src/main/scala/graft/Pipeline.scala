package graft

import org.apache.hadoop.fs.Path
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
  * Every stage is a narrow or single-shuffle transformation, with no
  * driver-side loops. The standardized triples are persisted and `nodes`
  * and `edges` are built over that one frame, so the first action on any
  * of them fills the cache and every later one reads it: sources,
  * batching, the chain, recovery and normalization run once per run, the
  * chain once per prompt. The caller releases the cache
  * (`KgOutputs.unpersist()`).
  */
object Pipeline {

  /** The pipeline's outputs. `triples` is the standardized triples,
    * persisted (MEMORY_AND_DISK, no job) when `triples`, `nodes` or
    * `edges` is first asked for, and `nodes` and `edges` read that one
    * frame: the outputs hold the cache until `unpersist()`, which the
    * caller owns. `records` is a plain lazy frame, so a caller that reads
    * only the records plans and caches nothing more. */
  final class KgOutputs private[Pipeline] (val records: DataFrame, standardized: DataFrame) {
    // persist() keeps the analyzed plan (a checkpoint would replace it),
    // so the pipeline's stages stay visible in it. A plan without the
    // chain's closure (RDF/XML only) compares equal to an earlier run's
    // over the same files, whose cache would serve that run's rows: drop
    // it first, so these outputs read their files
    lazy val triples: DataFrame = { standardized.unpersist(); standardized.persist() }
    lazy val nodes: DataFrame = GraphBuilder.nodes(triples)
    lazy val edges: DataFrame = GraphBuilder.edges(triples)

    /** Releases the triples cache; the outputs stay usable and recompute
      * from the files when read again. */
    def unpersist(): Unit = standardized.unpersist()
  }

  /** Driver-side listing of top-level inputs by extension (per-file
    * frames are required because each file has its own schema); the
    * per-file READS are fully distributed. The listing goes through the
    * directory's Hadoop FileSystem, like every read, so a `file:` URI or
    * a cluster path lists what the readers see. A missing directory, or
    * one with no supported file, fails here, naming the directory.
    * Caveat for million-file landing zones: this one-frame-per-file
    * shape matches the reference's directory layout (tens of files, each
    * its own schema); at landing-zone scale, group files by schema first
    * and hand each GROUP to one reader as a path list — Spark
    * parallelizes the listing and splits within a single load, which a
    * per-file loop would serialize on the driver. */
  private def inputs(spark: SparkSession, dir: String): Map[String, Seq[String]] = {
    val exts = Seq(".csv", ".tsv", ".json", ".xml")
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.isDirectory(path), s"Pipeline.run: input directory $dir does not exist")
    val names = fs.listStatus(path).map(_.getPath.toString).sorted.toSeq
    val byExt = exts.map(ext => ext -> names.filter(_.endsWith(ext))).toMap
    require(byExt.values.exists(_.nonEmpty),
      s"Pipeline.run: input directory $dir holds no ${exts.mkString(", ")} file")
    byExt
  }

  def run(spark: SparkSession, dataDir: String,
      chain: LlmChains.Chain = LlmChains.StubChain,
      batchSize: Int = 100): KgOutputs = {
    import spark.implicits._

    // 1. ingest: tabular formats → heterogeneous union of string
    // frames; malformed files degrade to a _corrupt_record-only frame
    // and are skipped, like the reference's try/except per file
    // (data_ingestion_batch.py:121-127)
    val files = inputs(spark, dataDir)
    val tabular = (
      files(".csv").map(p => Sources.csv(spark, p)) ++
      files(".tsv").map(p => Sources.tsv(spark, p)) ++
      files(".json").map(p => Sources.json(spark, p, multiLine = true))
    ).filter(df => df.columns.nonEmpty && df.columns.toSeq != Seq("_corrupt_record"))
    val records = if (tabular.nonEmpty) Sources.unionHeterogeneous(tabular)
      else spark.emptyDataFrame

    // 2-3. LLM extraction over batched records through `chain`
    val llmTriples =
      if (records.columns.isEmpty) spark.emptyDataFrame
      else {
        // batches of `batchSize` consecutive records of one partition,
        // like the reference's get_batches; the id adds no job or shuffle.
        // Partition p's ids start at p·2^33, which is not a multiple of
        // `batchSize`: spreading partitions batchSize·2^33 apart keeps
        // each partition's first batch full
        val id = monotonically_increasing_id()
        val rowBits = (1L << 33) - 1
        val keyed = records.withColumn("__rid",
          shiftright(id, 33) * (batchSize.toLong << 33) + id.bitwiseAND(rowBits))
        val batches = Sources.jsonBatches(keyed, "__rid", batchSize)
        LlmChains.extractFromRecords(batches.select("batch_json").as[String], chain)
      }

    // 3b. RDF/XML triples (already structured → no LLM pass)
    val rdf =
      if (files(".xml").isEmpty) None
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

    // 5. MERGE-build, over the one persisted triples frame
    new KgOutputs(records, standardized)
  }
}
