package graft.sources

import scala.collection.immutable.ListMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Driver-facing ingestion queries (SURVEY §2 A1-A7).
  *
  * ing_csv / ing_json are full round-trips: a parquet table is written
  * out in the wire format and read back with the family reader, so the
  * oracle (`SELECT * FROM <table>`) checks both directions including
  * quoting/escaping. ing_rdf has no SQL oracle (DuckDB can't parse
  * RDF/XML) — rows-only check plus IngestSpec's semantic assertions.
  */
object IngestQueries {

  /** Per-JVM unique scratch root: two concurrent (or back-to-back)
    * runs must never write/read the same round-trip directory — a
    * half-overwritten dir was the prime suspect in the r2 bench's
    * transient first-attempt failure. */
  private val runId = java.util.UUID.randomUUID().toString.take(8)

  private def tmp(sub: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_ing_$runId/$sub"

  def ingCsv(spark: SparkSession, dir: String): DataFrame = {
    val nation = Tables.nation(spark, dir)
    val path = tmp("nation_csv")
    nation.write.mode("overwrite").option("header", "true").csv(path)
    Sources.csv(spark, path, schema = Some(nation.schema))
  }

  def ingJson(spark: SparkSession, dir: String): DataFrame = {
    val region = Tables.region(spark, dir)
    val path = tmp("region_jsonl")
    region.write.mode("overwrite").json(path)
    Sources.json(spark, path, schema = Some(region.schema))
  }

  def ingTsv(spark: SparkSession, dir: String): DataFrame = {
    val supplier = Tables.supplier(spark, dir)
    val path = tmp("supplier_tsv")
    supplier.write.mode("overwrite").option("header", "true")
      .option("sep", "\t").csv(path)
    Sources.tsv(spark, path, schema = Some(supplier.schema))
  }

  def ingXml(spark: SparkSession, dir: String): DataFrame = {
    val region = Tables.region(spark, dir)
    val path = tmp("region_xml")
    region.write.mode("overwrite").format("xml").option("rowTag", "record").save(path)
    Sources.xmlRecords(spark, path).select(region.columns.map(
      c => org.apache.spark.sql.functions.col(c)): _*)
  }

  /** A14 as a driver query: nation through the fixed-width wire format
    * and back — the copybook layout (left-justified strings,
    * right-justified numerics) is the writer's contract and the
    * reader re-slices it by (start, len), so the oracle is the
    * round-trip identity like ing_csv/ing_orc. */
  def ingFixedWidth(spark: SparkSession, dir: String): DataFrame = {
    val nation = Tables.nation(spark, dir)
    val layout = Seq(
      ("n_nationkey", 1, 6, "int"),
      ("n_name", 7, 16, "string"),
      ("n_regionkey", 23, 6, "int"))
    val path = tmp("nation_fixed")
    Sources.writeFixedWidth(nation, path, layout)
    Sources.fixedWidth(spark, path, layout)
  }

  /** A23: nested-document normalization — the JSON-feed reality a
    * relational engine has to meet halfway: the producer ships ONE
    * document per order carrying an ARRAY of line items; analytics
    * needs the child grain back. Round trip: denormalize (groupBy +
    * sort_array(collect_list(struct)) — sort_array pins the array
    * order collect_list alone leaves partition-dependent), write
    * JSONL, schema'd read (no inference scan at 100 TB), posexplode
    * back to child rows. The oracle is the IDENTITY on the original
    * lineitem projection, which value-checks both directions
    * including array order and the double round trip through JSON
    * text. Shapes: one keyed agg to nest, a pure explode to unnest —
    * the wire format costs one shuffle total. */
  def ingNested(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_quantity"))
    val nested = li.groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(struct(
        col("l_linenumber").as("ln"), col("l_partkey").as("pk"),
        col("l_quantity").as("qty")))).as("items"))
    val path = tmp(s"orders_nested_${graft.store.GraftStore.dirKey(dir)}")
    nested.write.mode("overwrite").json(path)
    spark.read.schema(nested.schema).json(path)
      .select(col("l_orderkey"), explode(col("items")).as("it"))
      .select(col("l_orderkey"), col("it.ln").as("l_linenumber"),
        col("it.pk").as("l_partkey"), col("it.qty").as("l_quantity"))
  }

  def ingBatches(spark: SparkSession, dir: String): DataFrame =
    Sources.jsonBatches(
      Tables.documents(spark, dir).select("doc_id", "lang", "source", "n_chars"),
      keyCol = "doc_id", batchSize = 100)

  def ingUnion(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(spark, dir).select(
      col("n_name").as("name"), col("n_nationkey").as("key"))
    val r = Tables.region(spark, dir).select(
      col("r_name").as("name"), col("r_regionkey").as("rkey"))
    Sources.unionHeterogeneous(Seq(n, r))
  }

  /** A5 wire face: nation and region written out as SKOS/DC RDF/XML,
    * one document per region file, and read back through the
    * binaryFile extractor (the ing_csv round-trip pattern). Each file
    * exercises the reference's rules: a region Concept labelled by
    * skos:prefLabel with an xml:lang note; nations labelled by
    * skos:altLabel (even keys) or only rdfs:label (odd keys), so the
    * isRelatedTo subject resolves through the fallback chain while the
    * object resolves through the per-FILE label map; a wikidata sameAs
    * that falls back to its URI fragment; and a hexBinary note that is
    * dropped by datatype. */
  def ingRdf(spark: SparkSession, dir: String): DataFrame = {
    def text(c: org.apache.spark.sql.Column) =
      regexp_replace(regexp_replace(regexp_replace(c, "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
    val nk = col("n_nationkey").cast("string")
    val nationXml = concat(
      lit("""<edm:Place rdf:about="g/nation/"""), nk, lit("\">"),
      when(col("n_nationkey") % 2 === 0,
        concat(lit("<skos:altLabel>"), text(col("n_name")), lit("</skos:altLabel>")))
        .otherwise(concat(lit("<rdfs:label>"), text(col("n_name")), lit("</rdfs:label>"))),
      lit("""<edm:isRelatedTo rdf:resource="g/region/"""),
      col("n_regionkey").cast("string"), lit("\"/>"),
      lit("""<owl:sameAs rdf:resource="http://www.wikidata.org/entity/N"""), nk, lit("\"/>"),
      lit("""<skos:note rdf:datatype="http://www.w3.org/2001/XMLSchema#hexBinary">"""),
      hex(col("n_name")), lit("</skos:note>"),
      lit("</edm:Place>"))
    val nations = Tables.nation(spark, dir)
      .select(col("n_regionkey"), col("n_nationkey"), nationXml.as("x"))
      .groupBy(col("n_regionkey"))
      .agg(expr("array_join(transform(sort_array(collect_list(struct(n_nationkey, x))), s -> s.x), '')")
        .as("body"))
      .withColumnRenamed("n_regionkey", "r_regionkey")
    val files = Tables.region(spark, dir).join(nations, Seq("r_regionkey"), "left")
      .select(col("r_regionkey"), concat(
        lit("""<?xml version="1.0" encoding="UTF-8"?>"""),
        lit("""<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#""""),
        lit(""" xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#""""),
        lit(""" xmlns:skos="http://www.w3.org/2004/02/skos/core#""""),
        lit(""" xmlns:owl="http://www.w3.org/2002/07/owl#""""),
        lit(""" xmlns:edm="http://www.europeana.eu/schemas/edm/">"""),
        lit("""<skos:Concept rdf:about="g/region/"""), col("r_regionkey").cast("string"),
        lit("\"><skos:prefLabel xml:lang=\"en\">"), text(col("r_name")),
        lit("""</skos:prefLabel><skos:note xml:lang="en">region """), text(col("r_name")),
        lit("</skos:note></skos:Concept>"),
        coalesce(col("body"), lit("")), lit("</rdf:RDF>")).as("xml"))
    val path = tmp(s"rdf_${graft.store.GraftStore.dirKey(dir)}")
    // one task per region key, so every region's file holds ONE document
    files.repartition(col("r_regionkey"))
      .write.mode("overwrite").partitionBy("r_regionkey").text(path)
    RdfXml.rdfTriples(spark, s"$path/*.txt")
  }

  /** A5's ORACLE face (ing_rdf_synth): the file face (ing_rdf) is
    * rows-only — DuckDB can't read the RDF/XML files it writes — but
    * the PARSER can be value checked end-to-end by feeding it documents
    * whose expected output is a formula (the mm-parser / dHash
    * convention). Each document row becomes one RDF description pair
    * exercising the reference semantics in one place: label PRECEDENCE
    * (prefLabel beats a coexisting title), a non-kept predicate
    * (isShownBy → dropped), a kept literal with and without xml:lang, a
    * hexBinary-typed kept predicate (→ dropped by datatype), resource
    * resolution through the per-file label map (creator → the artist
    * node's dc:title), and the URI-fragment fallback (sameAs → a node
    * with no description). Docs batch 50 to a file-equivalent string so
    * the label map is genuinely per-FILE, artists shared within a
    * batch. The full [[RdfXml.parseFile]] runs — only the binaryFile
    * read (covered by ing_rdf + IngestSpec) is bypassed. */
  def ingRdfSynth(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val id = col("doc_id").cast("string")
    val artist = (col("doc_id") % 7).cast("string")
    def s(x: String) = lit(x)
    val docXml = concat(
      s("""<rdf:Description rdf:about="g/doc"""), id, s("\">"),
      s("""<skos:prefLabel xml:lang="en">doc """), id, s("</skos:prefLabel>"),
      s("<dc:title>ignored title "), id, s("</dc:title>"),
      s("<skos:note>note "), id, s("</skos:note>"),
      s("""<edm:isShownBy rdf:resource="g/img"""), id, s("\"/>"),
      s("""<dc:creator rdf:resource="g/artist"""), artist, s("\"/>"),
      s("""<skos:sameAs rdf:resource="g/ext"""), id, s("\"/>"),
      s("""<skos:note rdf:datatype="http://www.w3.org/2001/XMLSchema#hexBinary">deadbeef</skos:note>"""),
      s("</rdf:Description>"),
      s("""<rdf:Description rdf:about="g/artist"""), artist, s("\">"),
      s("<dc:title>artist "), artist, s("</dc:title>"),
      s("</rdf:Description>"))
    val envelope = (body: org.apache.spark.sql.Column) => concat(
      s("""<?xml version="1.0" encoding="UTF-8"?>"""),
      s("""<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#""""),
      s(""" xmlns:skos="http://www.w3.org/2004/02/skos/core#""""),
      s(""" xmlns:dc="http://purl.org/dc/elements/1.1/""""),
      s(""" xmlns:edm="http://www.europeana.eu/schemas/edm/">"""),
      body, s("</rdf:RDF>"))
    val files = Tables.documents(spark, dir)
      .select((col("doc_id") / 50).cast("long").as("b"),
        struct(col("doc_id"), docXml.as("x")).as("sx"))
      .groupBy("b")
      .agg(expr("array_join(transform(sort_array(collect_list(sx)), s -> s.x), '')").as("body"))
      .select(envelope(col("body")).as("xml"))
    RdfXml.rdfTriplesFromStrings(files.select("xml").as[String])
  }

  /** A8 as a driver query: partitioned parquet write + read-back.
    * Partition columns come back LAST and with inferred types, so the
    * read is re-projected to the original column order and schema —
    * exactly what a consumer of a partitioned lake table does. */
  /** A15: schema-evolution read across parquet drops — two vintages
    * of the same feed directory (the late one grew a column), read
    * back as ONE frame via mergeSchema: pre-evolution rows null the
    * new column, the vintage partition dir becomes a column. This is
    * the reality of every long-lived feed at 100 TB — producers
    * evolve, history doesn't rewrite; mergeSchema pays one footer
    * read per file (metadata, not data) to resolve the union schema.
    * The store-side mirror of this contract is K20's manifest schema
    * evolution. */
  def ingMergeSchema(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(spark, dir)
    val path = tmp(s"nation_vintages_${graft.store.GraftStore.dirKey(dir)}")
    n.filter(col("n_nationkey") % 2 === 0).select("n_nationkey", "n_name")
      .write.mode("overwrite").parquet(s"$path/vintage=1")
    n.filter(col("n_nationkey") % 2 === 1)
      .select("n_nationkey", "n_name", "n_regionkey")
      .write.mode("overwrite").parquet(s"$path/vintage=2")
    spark.read.option("mergeSchema", "true").parquet(path)
      .select(col("n_nationkey"), col("n_name"),
        col("n_regionkey"), col("vintage").cast("int").as("vintage"))
  }

  /** A16: corrupt-file quarantine read — a multi-file parquet feed
    * where one file's bytes are garbage (the truncated-upload /
    * bit-rot reality of any large drop), read back under
    * ignoreCorruptFiles: the healthy files' rows survive, the bad
    * file skips instead of failing the job. The FILE-level sibling of
    * A11/A12's row-level corruption tolerance; at 100 TB one bad
    * object must never kill a million-file scan (the H34/K30 audits
    * find and quarantine it out of band). */
  def ingCorruptFiles(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(spark, dir)
    val path = tmp(s"nation_corrupt_${graft.store.GraftStore.dirKey(dir)}")
    (0 to 2).foreach { p =>
      n.filter(col("n_nationkey") % 3 === p).coalesce(1)
        .write.mode("overwrite").parquet(s"$path/part=$p")
    }
    // clobber part=1's data file with non-parquet bytes
    val root = new org.apache.hadoop.fs.Path(s"$path/part=1")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(root).iterator
      .filter(_.getPath.getName.endsWith(".parquet")).foreach { f =>
        val out = fs.create(f.getPath, true)
        try out.write("not parquet at all".getBytes("UTF-8"))
        finally out.close()
      }
    val prev = spark.conf.getOption("spark.sql.files.ignoreCorruptFiles")
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try
      spark.read.parquet(path)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        // materialize under the flag: the lazy frame would otherwise
        // read after the finally restores it
        .localCheckpoint(eager = true)
    finally prev match {
      case Some(p) => spark.conf.set("spark.sql.files.ignoreCorruptFiles", p)
      case None => spark.conf.unset("spark.sql.files.ignoreCorruptFiles")
    }
  }

  def ingParquet(spark: SparkSession, dir: String): DataFrame = {
    val nation = Tables.nation(spark, dir)
    val path = tmp("nation_parquet_part")
    nation.write.mode("overwrite").partitionBy("n_regionkey").parquet(path)
    val back = spark.read.parquet(path)
    back.select(nation.schema.map(f => back(f.name).cast(f.dataType).as(f.name)): _*)
  }

  /** A9: ORC round-trip — the other columnar wire format a lake speaks
    * (predicate pushdown + column pruning come from Spark's native ORC
    * source exactly as with parquet). */
  def ingOrc(spark: SparkSession, dir: String): DataFrame = {
    val customer = Tables.customer(spark, dir)
    val path = tmp("customer_orc")
    customer.write.mode("overwrite").orc(path)
    spark.read.orc(path)
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
  }

  /** A13: compressed-text round-trip — JSONL written with the gzip
    * codec, read back through the same auto-detected codec path
    * (extension-dispatched, the way a crawl drop actually arrives).
    * Scale note baked into the choice: gzip is NOT splittable — one
    * task per .gz file regardless of size, so a 100 TB drop must
    * arrive as many medium files (or as zstd/bzip2/snappy-framed,
    * which split); this query pins the CODEC path, the A8/K10 stores
    * pin the splittable-layout path. Byte fidelity value-checked by
    * md5 against the table the lines came from. */
  def ingGzip(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "lang", "text")
    val path = tmp(s"docs_gz_${graft.store.GraftStore.dirKey(dir)}")
    docs.write.mode("overwrite").option("compression", "gzip").json(path)
    spark.read.schema("doc_id BIGINT, lang STRING, text STRING").json(path)
      .select(col("doc_id"), col("lang"), md5(col("text")).as("text_md5"))
  }

  /** A17: LZ4-compressed JSONL round-trip — the fast modern codec
    * next to A13's gzip (frame-level LZ4 decompresses ~5× faster; the
    * H31 parser reads the very envelope these files carry — its
    * block-independence flag is what decides splittability). Same
    * byte-fidelity contract: md5 against the source table. */
  def ingLz4(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "lang", "text")
    val path = tmp(s"docs_lz4_${graft.store.GraftStore.dirKey(dir)}")
    docs.write.mode("overwrite").option("compression", "lz4").json(path)
    spark.read.schema("doc_id BIGINT, lang STRING, text STRING").json(path)
      .select(col("doc_id"), col("lang"), md5(col("text")).as("text_md5"))
  }

  /** A10: the `binaryFile` source — the multimodal ingestion front
    * door (images/audio/video land as opaque files; Spark lists and
    * reads them distributed, one row per file with path/length/bytes).
    * Each document's UTF-8 bytes are materialized as a real file by an
    * executor-side foreachPartition (write-once, marker-committed, the
    * idempotent-sink contract), then read back through binaryFile and
    * reduced to oracle-checkable scalars: the id parsed from the path,
    * the byte length, and the content md5 — so listing, distribution,
    * AND byte fidelity are all value-checked against the table the
    * bytes came from.
    *
    * LOCAL-MODE assumption (r7 advice): the executor-side
    * `Files.write` into java.io.tmpdir and the driver-side read of the
    * same path only line up when driver and executors share a
    * filesystem — true in local[n], NOT on a cluster, where the files
    * would land on executor-local disks and the binaryFile read would
    * silently miss them. The cluster shape is the same code with
    * `path` on a DFS (S3/HDFS): `df.write` the bytes (or write via a
    * Hadoop FileSystem handle) and binaryFile-read the shared URI.
    * Spelled with local files HERE because this query's job is to
    * value-check the binaryFile SOURCE hermetically, not to ship a
    * file-materialization sink. */
  def ingBinary(spark: SparkSession, dir: String): DataFrame = {
    // keyed by DATA DIR like every store table: a JVM querying two
    // scale factors must not serve the first one's files to the second
    val path = tmp(s"docs_bin_${graft.store.GraftStore.dirKey(dir)}")
    val marker = new java.io.File(path, "_WRITTEN")
    if (!marker.exists()) {
      new java.io.File(path).mkdirs()
      Tables.documents(spark, dir).select("doc_id", "text")
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          it.foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(path, s"doc_${r.getLong(0)}.bin"),
              r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
        }
      marker.createNewFile()
    }
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin")
      .load(path)
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1).cast("long").as("doc_id"),
        col("length").as("byte_len"),
        md5(col("content")).as("content_md5"))
  }

  /** A11: corrupt-record-TOLERANT JSON parsing — the data-quality
    * contract of a crawl-scale ingestion front door: PERMISSIVE mode
    * with a corrupt-record column, so malformed lines (every 7th here,
    * truncated mid-object by formula) quarantine whole instead of
    * killing the job (FAILFAST) or vanishing (DROPMALFORMED). All
    * in-plan: the line synthesizes via concat, from_json parses with
    * the capture column, and the output carries the parsed fields,
    * the corrupt flag, and the raw line's md5 for the quarantine
    * audit trail. */
  def ingJsonBad(spark: SparkSession, dir: String): DataFrame = {
    val schema = "doc_id BIGINT, lang STRING, _corrupt_record STRING"
    val line = when(col("doc_id") % 7 === 0,
        concat(lit("{\"doc_id\": "), col("doc_id"), lit(", ")))
      .otherwise(concat(lit("{\"doc_id\": "), col("doc_id"),
        lit(", \"lang\": \""), col("lang"), lit("\"}")))
    Tables.documents(spark, dir)
      .select(col("doc_id").as("src_id"), col("lang").as("src_lang"),
        line.as("line"))
      .select(col("src_id"), md5(col("line")).as("line_md5"),
        from_json(col("line"), schema, {
          import scala.jdk.CollectionConverters._
          Map("mode" -> "PERMISSIVE",
            "columnNameOfCorruptRecord" -> "_corrupt_record").asJava
        }).as("p"))
      .select(col("src_id"), col("line_md5"),
        col("p.doc_id").as("parsed_doc_id"),
        col("p.lang").as("parsed_lang"),
        col("p._corrupt_record").isNotNull.cast("int").as("is_corrupt"))
  }

  /** A12: corrupt-tolerant CSV parse — the A11 quarantine contract on
    * the COLUMNAR text format, with the semantics difference that
    * makes CSV worth pinning separately: a damaged row is FIELD-WISE
    * recoverable (PERMISSIVE from_csv keeps every well-typed field
    * and nulls only the untypeable one) where a damaged JSON line
    * loses everything. Every 6th line carries a non-numeric value in
    * the numeric column (broken by formula); the raw line md5 is the
    * quarantine audit key. Zero-shuffle per-row projection. */
  def ingCsvBad(spark: SparkSession, dir: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, n_chars BIGINT, _corrupt_record STRING")
    val line = when(col("doc_id") % 6 === 0,
        concat(col("doc_id"), lit(",xx")))
      .otherwise(concat(col("doc_id"), lit(","), col("n_chars")))
    Tables.documents(spark, dir)
      .select(col("doc_id").as("src_id"), line.as("line"))
      .select(col("src_id"), md5(col("line")).as("line_md5"),
        from_csv(col("line"), schema,
          Map("mode" -> "PERMISSIVE",
            "columnNameOfCorruptRecord" -> "_corrupt_record")).as("p"))
      .select(col("src_id"), col("line_md5"),
        col("p.doc_id").as("parsed_doc_id"),
        col("p.n_chars").as("parsed_n"),
        col("p._corrupt_record").isNotNull.cast("int").as("is_corrupt"))
  }

  /** K19 as a driver query: lineitem re-laid-out range-clustered on
    * l_shipdate (8 files, one disjoint date range each), a file-level
    * zone-map stats table persisted beside it, and a one-year window
    * read through [[graft.store.ZoneMap.prunedRead]] — the scan plans
    * over only the files whose zone intersects the window (~1/8 of
    * them by construction; file-count evidence is engine-specific and
    * lives in ZoneMapSpec, the RESULT is oracled as the plain filtered
    * aggregate it must equal). */
  def ingZonemap(spark: SparkSession, dir: String): DataFrame = {
    import graft.store.{GraftStore, ZoneMap}
    val key = GraftStore.dirKey(dir)
    val path = ZoneMap.ensureRangeLayout(spark, s"li_byship_$key",
      Tables.lineitem(spark, dir), "l_shipdate", 8)
    val statsDf = spark.table(GraftStore.ensureBucketed(
      spark, s"graft_zmstats_$key", 4, Seq("file")) {
      ZoneMap.stats(spark, path, Seq("l_shipdate"))
    })
    val lo = lit("1995-01-01").cast("timestamp")
    val hi = lit("1995-12-31").cast("timestamp")
    ZoneMap.prunedRead(spark, path, statsDf, "l_shipdate", lo, hi)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity")).as("sum_qty"),
        sum(col("l_extendedprice")).as("sum_price"))
  }

  /** K23 as a driver query: the same one-year window as [[ingZonemap]],
    * but the pruning is PLANNER-DRIVEN — lineitem is committed
    * range-clustered into the snapshot store once per session, read
    * back through [[graft.store.SnapshotStore.readIndexed]], and the
    * plain `.filter(...)` alone shrinks the planned file set (the
    * custom FileIndex evaluates the pushed data filters against the
    * per-file zone map; no second predicate pass-in). Oracle: the
    * filtered aggregate it must equal. File-count evidence lives in
    * FileIndexSpec. */
  private val snapCommitted = scala.collection.concurrent.TrieMap.empty[String, Boolean]
  private val cowTables = scala.collection.concurrent.TrieMap.empty[String, (String, Seq[Long])]
  def ingSnapshotIndex(spark: SparkSession, dir: String): DataFrame = {
    import graft.store.{GraftStore, SnapshotStore}
    val key = GraftStore.dirKey(dir)
    val name = s"li_snap_$key"
    snapCommitted.getOrElseUpdate(name, {
      SnapshotStore.commitOverwrite(name,
        Tables.lineitem(spark, dir)
          .repartitionByRange(8, col("l_shipdate"))
          .sortWithinPartitions("l_shipdate"))
      true
    })
    val (_, li) = SnapshotStore.readIndexed(spark, name, Seq("l_shipdate"))
    li.filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") <= lit("1996-12-31").cast("timestamp"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity")).as("sum_qty"),
        sum(col("l_extendedprice")).as("sum_price"))
  }

  /** K25 as a driver query: a per-(returnflag, linestatus) aggregate
    * maintained INCREMENTALLY across two snapshot commits — lineitem
    * lands in the store in two halves (even orderkeys, then odd), the
    * view refreshes after each, and the second refresh aggregates only
    * the appended files (file-scan evidence in IncrementalViewSpec).
    * Measures ship as exact integer cents/centi-units because the
    * incremental merge re-associates the summation — int sums are
    * order-free, double sums are not. Oracle: the one-shot group-by of
    * the whole table, which every refresh must equal. */
  def ingMvInc(spark: SparkSession, dir: String): DataFrame = {
    import graft.store.{GraftStore, IncrementalView, SnapshotStore}
    val key = GraftStore.dirKey(dir)
    val base = s"li_mvbase_$key"
    val mv = s"li_mv_$key"
    val keys = Seq("l_returnflag", "l_linestatus")
    val sums = Seq("qty_c", "price_c")
    snapCommitted.getOrElseUpdate(base, {
      val li = Tables.lineitem(spark, dir).select(
        col("l_returnflag"), col("l_linestatus"), col("l_orderkey"),
        round(col("l_quantity") * 100).cast("long").as("qty_c"),
        round(col("l_extendedprice") * 100).cast("long").as("price_c"))
      SnapshotStore.commitAppend(base, li.filter(col("l_orderkey") % 2 === 0))
      IncrementalView.refresh(spark, base, mv, keys, sums)
      SnapshotStore.commitAppend(base, li.filter(col("l_orderkey") % 2 === 1))
      true
    })
    IncrementalView.refresh(spark, base, mv, keys, sums)
    IncrementalView.read(spark, mv)
  }

  /** K58 as a driver query: MV = orders ⋈ lineitem maintained by
    * delta propagation across STAGGERED appends — orders lands in two
    * halves by orderkey parity, lineitem in two halves by PARTKEY
    * parity (independent of the join key, so every delta term is
    * non-trivial: ΔA⋈B_new and A_old⋈ΔB both produce rows). The
    * A_old⋈B_old bulk is never re-joined after the first build
    * (file-scan evidence in IncrementalViewSpec); the oracle is the
    * one-shot join of the full tables, which every refresh must
    * equal. */
  def ingMvJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.store.{GraftStore, IncrementalView, SnapshotStore}
    val key = GraftStore.dirKey(dir)
    val a = s"ord_mvj_$key"; val b = s"li_mvj_$key"; val mv = s"mvj_$key"
    snapCommitted.getOrElseUpdate(mv, {
      val o = Tables.orders(spark, dir).select(col("o_orderkey").as("okey"),
        col("o_custkey"), col("o_orderpriority"))
      val l = Tables.lineitem(spark, dir).select(col("l_orderkey").as("okey"),
        col("l_linenumber"), col("l_partkey"),
        round(col("l_quantity") * 100).cast("long").as("qty_c"))
      SnapshotStore.commitAppend(a, o.filter(col("okey") % 2 === 0))
      SnapshotStore.commitAppend(b, l.filter(col("l_partkey") % 2 === 0))
      IncrementalView.refreshJoin(spark, a, b, mv, Seq("okey"))
      SnapshotStore.commitAppend(a, o.filter(col("okey") % 2 === 1))
      IncrementalView.refreshJoin(spark, a, b, mv, Seq("okey"))
      SnapshotStore.commitAppend(b, l.filter(col("l_partkey") % 2 === 1))
      true
    })
    IncrementalView.refreshJoin(spark, a, b, mv, Seq("okey"))
    IncrementalView.read(spark, mv)
  }

  /** K62 as an ORACLED face: a three-commit table whose shapes are
    * all derivable — overwrite (natural checkpoint), append (delta),
    * stream batch (delta + #batch header) — read back through
    * SnapshotStore.history. n_files is pinned by coalesce(1) writes
    * and counts the RESOLVED file list (the delta chain walked), rows
    * are the cumulative K41 commit stats; committed_at is wall clock
    * and stays spec-only (K62 spec pins monotonicity). */
  def ingHistory(spark: SparkSession, dir: String): DataFrame = {
    import graft.store.{GraftStore, SnapshotStore}
    val t = s"hist_${GraftStore.dirKey(dir)}"
    snapCommitted.getOrElseUpdate(t, {
      val d = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
      SnapshotStore.commitOverwrite(t,
        d.filter(col("doc_id") % 3 === 0).coalesce(1))
      SnapshotStore.commitAppend(t,
        d.filter(col("doc_id") % 3 === 1).coalesce(1))
      SnapshotStore.commitStreamBatch(t,
        d.filter(col("doc_id") % 3 === 2).coalesce(1), batchId = 7L)
      true
    })
    SnapshotStore.history(spark, t)
      .select(col("version"), col("batch_id"), col("manifest_kind"),
        col("n_files"), col("rows"))
  }

  /** K26: dynamic partition pruning — the runtime file-skipping layer
    * the ENGINE provides when the table is directory-partitioned (the
    * warehouse star-join staple): lineitem lands partitioned by ship
    * month (one directory per month), and a join against a
    * runtime-filtered dimension (urgent-priority order months of 1996)
    * plants a DynamicPruningSubquery on the partition column — the dim
    * side executes first and only the matching month directories are
    * scanned. The static optimizer CANNOT do this (the month set is
    * data-dependent); DPP is why a partitioned 100 TB fact table
    * serves selective star joins at interactive cost. Plan evidence
    * (dynamicpruning expression + partitions actually skipped) is
    * pinned in DppSpec; the RESULT is oracled as the plain join. */
  def ingDpp(spark: SparkSession, dir: String): DataFrame = {
    val path = dppLayout(spark, dir)
    val fact = spark.read.parquet(path)
    val months = Tables.orders(spark, dir)
      .filter(year(col("o_orderdate")) === 1996 &&
        col("o_orderpriority") === "1-URGENT")
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("ship_month"))
      .distinct()
    fact.join(months, "ship_month")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"), sum(col("l_quantity")).as("sum_qty"))
  }

  /** The month-partitioned lineitem layout (memoized per session+dir). */
  def dppLayout(spark: SparkSession, dir: String): String = {
    import graft.store.GraftStore
    val key = GraftStore.dirKey(dir)
    val name = s"li_dpp_$key"
    dppPaths.getOrElseUpdate(name, {
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_dpp_$name"
      Tables.lineitem(spark, dir)
        .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
        .write.mode("overwrite").partitionBy("ship_month").parquet(path)
      path
    })
  }
  private val dppPaths = scala.collection.concurrent.TrieMap.empty[String, String]

  /** K27 as a driver query: keyed semantic diff between two snapshot
    * versions of an orders table whose v0→v1 delta is generated BY
    * FORMULA — v0 drops okey%5=4, v1 drops okey%7=1 and bumps price
    * by 100 cents on okey%3=0 — so inserts/deletes/updates are each
    * derivable without the store, which is exactly what the oracle
    * restates. Exact integer cents (diff equality must be bit-free). */
  def ingSnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    import graft.store.{GraftStore, SnapshotStore}
    val key = GraftStore.dirKey(dir)
    val name = s"ord_diff_$key"
    snapCommitted.getOrElseUpdate(name, {
      val o = Tables.orders(spark, dir).select(
        col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("price_c"),
        col("o_orderstatus"), col("o_orderpriority"))
      SnapshotStore.commitOverwrite(name, o.filter(col("o_orderkey") % 5 =!= 4))
      SnapshotStore.commitOverwrite(name,
        o.filter(col("o_orderkey") % 7 =!= 1)
          .withColumn("price_c", col("price_c") +
            when(col("o_orderkey") % 3 === 0, 100L).otherwise(0L)))
      true
    })
    SnapshotStore.diff(spark, name, 0L, 1L, Seq("o_orderkey"))
  }

  /** K49/K50 driver query: copy-on-write DELETE then keyed MERGE
    * against a range-partitioned snapshot table, with every version's
    * (rows, exact-cents sum) summarized — the oracle re-derives all
    * three versions from the generating formulas alone (delete
    * threshold = min + (max−min) div 4 over the base keys; the merge
    * updates the lowest SURVIVING key by +777 cents and inserts
    * max+1), so a COW rewrite that loses a row, resurrects a deleted
    * one, or double-applies an upsert hash-mismatches a version line.
    * The store-level guarantees (only zone-affected files rewritten,
    * untouched paths carried verbatim, metadata carry) are pinned in
    * SnapshotStoreSpec; this face pins the VISIBLE semantics
    * end-to-end against DuckDB. */
  def ingCow(spark: SparkSession, dir: String): DataFrame = {
    import graft.store.{GraftStore, SnapshotStore}
    val name = s"ord_cow_${GraftStore.dirKey(dir)}"
    // the build memoizes the table NAME and the THREE VERSIONS the
    // mutations return rather than assuming 0/1/2: a metadata no-op
    // delete returns the current version unchanged, and a half-failed
    // build retried in the same session starts over on a FRESH
    // suffixed table (never resumes partial state), so shifted
    // version numbering can never reach the oracle
    val (tbl, vs) = cowTables.getOrElseUpdate(name, {
      val t = LazyList.from(0).map(i => if (i == 0) name else s"${name}_r$i")
        .find(SnapshotStore.versions(_).isEmpty).get
      val o = Tables.orders(spark, dir).select(
        col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("price_c"))
      val v0 = SnapshotStore.commitOverwrite(t,
        o.repartitionByRange(4, col("o_orderkey")))
      val Seq(mn, mx) = o.agg(min("o_orderkey"), max("o_orderkey"))
        .collect().head.toSeq.map(_.asInstanceOf[Long]).toSeq
      val thresh = mn + (mx - mn) / 4
      val v1 = SnapshotStore.deleteWhere(spark, t,
        col("o_orderkey") < thresh)
      val s1 = SnapshotStore.read(spark, t, Some(v1))
      val mk = s1.agg(min("o_orderkey")).collect().head.getLong(0)
      val upd = s1.filter(col("o_orderkey") === mk)
        .select(col("o_orderkey"), (col("price_c") + 777L).as("price_c"))
      val ins = spark.range(1).select(lit(mx + 1L).as("o_orderkey"),
        lit(123L).as("price_c"))
      val v2 = SnapshotStore.mergeKeyed(spark, t, upd.unionByName(ins),
        Seq("o_orderkey"))
      (t, Seq(v0, v1, v2))
    })
    vs.zipWithIndex.map { case (v, i) =>
      SnapshotStore.read(spark, tbl, Some(v))
        .agg(count(lit(1)).as("n_rows"), sum(col("price_c")).as("sum_price_c"))
        .select(lit(i.toLong).as("version"), col("n_rows"), col("sum_price_c")) }
      .reduce(_ unionByName _)
  }

  /** K45 driver query: AS-OF-TIMESTAMP read against the K27 snapshot
    * history — resolve the instant of version 0's OWN commit clock
    * (the ≤ boundary case) and summarize what that read sees; the
    * oracle recomputes the v0 generating filter, so a resolver that
    * lands on the wrong version hash-mismatches both columns. The
    * commit-clock monotonicity the contract rests on is asserted
    * in-query. */
  def ingAsofRead(spark: SparkSession, dir: String): DataFrame = {
    import graft.store.{GraftStore, SnapshotStore}
    ingSnapshotDiff(spark, dir) // ensures the 2-version table exists
    val name = s"ord_diff_${GraftStore.dirKey(dir)}"
    val Seq(v0, v1) = SnapshotStore.versions(name).take(2)
    val t0 = SnapshotStore.commitTimeOf(name, v0).get
    val t1 = SnapshotStore.commitTimeOf(name, v1).get
    require(t1 > t0, s"commit clocks must advance: $t0 -> $t1")
    SnapshotStore.readAsOf(spark, name, t0)
      .agg(count(lit(1)).as("n_rows"),
        sum(col("price_c")).as("sum_price_c"))
      .select(lit(0L).as("version"), col("n_rows"), col("sum_price_c"))
  }

  /** K33 driver query: the metadata-only count against BOTH versions
    * of the K27 snapshot history — the numbers come from parquet
    * FOOTERS of the manifests' file lists (never a data scan) and the
    * oracle recomputes them from the generating filters, so the
    * footer path is value-checked end to end. Driver-side footer jobs
    * produce a 2-row frame — metadata-scale, the index-stats collect
    * convention. */
  def ingFastCount(spark: SparkSession, dir: String): DataFrame = {
    import graft.store.{GraftStore, SnapshotStore}
    ingSnapshotDiff(spark, dir) // ensures the 2-version table exists
    val name = s"ord_diff_${GraftStore.dirKey(dir)}"
    import spark.implicits._
    Seq(0L, 1L).map(v => (v, SnapshotStore.fastCount(spark, name, Some(v))))
      .toDF("version", "n_rows")
  }

  def warmStores(spark: SparkSession, dir: String): Unit = {
    ingZonemap(spark, dir); ingSnapshotIndex(spark, dir); ingMvInc(spark, dir)
    dppLayout(spark, dir); ingSnapshotDiff(spark, dir); ingMvJoin(spark, dir); ()
  }

  /** A18: WARC/1.0 record parse — THE web-crawl container a training
    * pipeline starts from (Common Crawl ships WARC; WET/WAT derive
    * from it). A record is CRLF-separated headers (WARC-Type,
    * WARC-Target-URI, Content-Length, …) then a blank line and
    * exactly Content-Length payload bytes. The parse finds the
    * header/payload boundary with instr(\r\n\r\n), extracts the named
    * headers with anchored regexes, and slices the payload ONLY when
    * the declared Content-Length fits the record (an over-declared
    * length is the truncated-fetch signature — flagged, payload
    * null). Emitting md5(payload) value-checks the slice against the
    * oracle's md5 of the generating text — an off-by-one anywhere in
    * the boundary arithmetic hash-mismatches every row. Pure per-row
    * expressions; zero shuffle at any scale. Offsets here are
    * CHARACTER offsets (the synthetic corpus is ASCII, so they equal
    * the spec's byte offsets; a production reader slices the binary
    * column directly with the same arithmetic). */
  def withWarcRecord(df: DataFrame, binCol: String): DataFrame = {
    val s = decode(col(binCol), "UTF-8")
    val valid = (substring(s, 1, 5) === "WARC/").cast("int")
    def ifOk(c: org.apache.spark.sql.Column) = when(valid === 1, c)
    val out = df
      .withColumn("_s", s)
      .withColumn("_hdrEnd", instr(col("_s"), "\r\n\r\n"))
      .withColumn("_clen", nullif(regexp_extract(col("_s"),
        "(?m)^Content-Length: ([0-9]+)\r\n", 1), lit("")).cast("long"))
    val paylOff = col("_hdrEnd") + 4L
    val fits = col("_hdrEnd") > 0 && col("_clen").isNotNull &&
      paylOff + col("_clen") - 1L <= length(col("_s"))
    out
      .withColumn("valid_warc", valid)
      .withColumn("warc_version", ifOk(
        regexp_extract(col("_s"), "^WARC/([0-9.]+)\r", 1)))
      .withColumn("warc_type", ifOk(
        regexp_extract(col("_s"), "(?m)^WARC-Type: ([a-z]+)\r\n", 1)))
      .withColumn("target_uri", ifOk(nullif(
        regexp_extract(col("_s"), "(?m)^WARC-Target-URI: ([^\r]+)\r\n", 1),
        lit(""))))
      .withColumn("content_length", ifOk(col("_clen")))
      .withColumn("payload", when(valid === 1 && fits,
        substring(col("_s"), paylOff.cast("int"), col("_clen").cast("int"))))
      .withColumn("payload_md5", when(valid === 1 && fits,
        md5(encode(substring(col("_s"), paylOff.cast("int"),
          col("_clen").cast("int")), "UTF-8"))))
      .withColumn("truncated", ifOk((!fits).cast("int")))
      .drop("_s", "_hdrEnd", "_clen")
  }

  /** A18 driver query: synthesize a WARC record per document — the
    * doc's own text as payload (Content-Length = its exact byte
    * length), WARC-Type cycling response/request/warcinfo, the
    * Target-URI header present on non-warcinfo records only (the real
    * convention); every 5th doc over-declares Content-Length by 50
    * (truncated fetch), every 9th is not a WARC record at all. The
    * oracle rebuilds the record text and md5s the same payload. */
  /** The synthetic WARC container shared by [[ingWarc]] and
    * [[ingWarcCorpus]] — one generator, so the composition query can
    * never drift from the parse query's fixture. */
  private[graft] def warcContainer(spark: SparkSession, dir: String): DataFrame =
    warcContainerOf(Tables.documents(spark, dir))

  /** The same container built over an arbitrary (doc_id, text) frame —
    * the streaming WET face's spec drives batch and stream from ONE
    * fixture generator so parity cannot drift. */
  private[graft] def warcContainerOf(d: DataFrame): DataFrame = {
    val garbage = col("doc_id") % 9 === 0
    val truncate = col("doc_id") % 5 === 0
    val wtype = when(col("doc_id") % 3 === 0, "response")
      .when(col("doc_id") % 3 === 1, "request").otherwise("warcinfo")
    val declared = when(truncate, length(col("text")) + 50L)
      .otherwise(length(col("text")).cast("long"))
    val rec = concat(
      lit("WARC/1.0\r\n"),
      lit("WARC-Type: "), wtype, lit("\r\n"),
      when(wtype =!= "warcinfo",
        concat(lit("WARC-Target-URI: http://corpus.local/doc/"),
          col("doc_id").cast("string"), lit("\r\n"))).otherwise(lit("")),
      lit("Content-Length: "), declared.cast("string"), lit("\r\n"),
      lit("\r\n"),
      col("text"))
    val bin = when(garbage, encode(lit("HTTP/1.1 200 OK\r\n\r\nnope"), "UTF-8"))
      .otherwise(encode(rec, "UTF-8"))
    d.select(col("doc_id"), bin.as("_bin"))
  }

  def ingWarc(spark: SparkSession, dir: String): DataFrame =
    withWarcRecord(warcContainer(spark, dir), "_bin")
      .select("doc_id", "valid_warc", "warc_version", "warc_type",
        "target_uri", "content_length", "payload_md5", "truncated")

  /** A18→G24→E1 composition: the WET pipeline in one plan — crawl
    * container in, filtered + deduped training corpus out (the actual
    * first mile of a Common-Crawl-scale pipeline, which until this
    * query only met the G/E families in tests). Record selection is
    * the WET discipline: valid WARC, `response` type, fetch not
    * truncated. The Gopher battery and the E1 whitespace-normalized
    * fingerprint then run ON THE SLICED PAYLOAD — not on the source
    * text — so every downstream number value-checks the A18 boundary
    * arithmetic (payload_md5 rides along as the direct check; the
    * oracle recomputes everything from the generating text, and an
    * off-by-one in the slice mismatches all of it). corpus_keep is
    * the deliverable bit: Gopher-passing AND not a duplicate.
    * Shape: one container scan, the E1 fingerprint window's single
    * hash shuffle, one doc-keyed join — no new shuffle class beyond
    * its parts at any scale. */
  def ingWarcCorpus(spark: SparkSession, dir: String): DataFrame = {
    val wet = withWarcRecord(warcContainer(spark, dir), "_bin")
      .filter(col("valid_warc") === 1 && col("truncated") === 0 &&
        col("warc_type") === "response")
      .select(col("doc_id"), col("target_uri"), col("payload_md5"),
        col("payload").as("text"))
    val gophered = graft.text.TextQueries.gopherRules(
        wet.select("doc_id", "text"))
      .select(col("doc_id"), col("n_words"), col("stop_hits"),
        col("keep").as("gopher_keep"))
    val fp = graft.dedup.Dedup.exactDedup(wet, "doc_id", "text")
      .select(col("doc_id"), col("canonical_id"), col("is_dup"))
    wet.select("doc_id", "target_uri", "payload_md5")
      .join(gophered, "doc_id")
      .join(fp, "doc_id")
      .withColumn("corpus_keep",
        (col("gopher_keep") === 1 && col("is_dup") === 0).cast("int"))
  }

  /** A22: the FETCH-GATED corpus — the crawl first mile as ONE plan,
    * in the order a real pipeline runs it (the reference's
    * `Art-Knowledge-Graph-Local/main.py:1-90` is the same end-to-end
    * chain at laptop scale): A18 WET slice (valid WARC, response, not
    * truncated) → A21 canonicalize the fetch URL → per-canonical-URL
    * uniqueness (two spellings of one URL must not yield two corpus
    * docs) → A20 robots REP gate evaluated on the CANONICAL path
    * (canonicalize-then-check, the crawler order) → G24 Gopher quality
    * → E1 content fingerprint dedup. `corpus_keep` is the deliverable
    * bit: allowed ∧ url-unique ∧ Gopher-passing ∧ not a content dup.
    *
    * Fixture: each WET doc gets a deliberately messy URL (cased
    * scheme/host, default ports on evens, utm params, fragment) whose
    * PATH cycles the four robots-interesting cases against its site's
    * robots body, and whose path slug is doc_id%36 so distinct docs
    * collide on the canonical key. The oracle derives the canonical
    * form from the generating formula directly — so the whole Spark
    * rule chain (canonicalUrl + body parse + longest-prefix REP fold)
    * is value-checked against first principles, not mirrored regexes.
    *
    * Shape at scale: per-row regex work, ONE window shuffle keyed by
    * canonical URL, the E1 fingerprint's hash window, and doc-keyed
    * joins — no new shuffle class beyond its parts. */
  /** A20 REP verdict against a robots.txt BODY column: allowed iff the
    * longest matching Allow prefix is at least as long as the longest
    * matching Disallow prefix (Google's documented tie rule), over the
    * CANONICAL URL's path. A missing/empty body allows everything (no
    * robots.txt = no restrictions). Shared verbatim by the batch A22
    * gate and the I54 streaming gate so the two cannot drift. */
  def repAllowed(robotsBody: org.apache.spark.sql.Column,
      canonical: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val body = coalesce(robotsBody, lit(""))
    val allows = regexp_extract_all(body, lit("(?m)^Allow: ([^\\n]+)$"), lit(1))
    val disallows = regexp_extract_all(body,
      lit("(?m)^Disallow: ([^\\n]+)$"), lit(1))
    val cpath = regexp_extract(canonical, "^[a-z]+://[^/]*([^?]*)", 1)
    def longest(rules: org.apache.spark.sql.Column,
        p: org.apache.spark.sql.Column) =
      coalesce(array_max(transform(filter(rules, r => p.startsWith(r)),
        r => length(r))), lit(-1))
    (longest(allows, cpath) >= longest(disallows, cpath)).cast("int")
  }

  /** The A22 fixture's messy fetch URL for a doc_id column (cased
    * scheme/host, default ports on evens, tracking params, fragment;
    * path cycles the four robots-interesting cases; slug = doc_id%36
    * so distinct docs collide on the canonical key). Package-visible:
    * the I54 StreamingSpec streams the SAME fixture the batch gate
    * computes, so the parity pin can't drift from the generator. */
  private[graft] def gateFixtureUrl(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val slug = (docId % 36).cast("string")
    val site = (docId % 7).cast("string")
    val scheme = when(docId % 4 === 0, "HTTP")
      .when(docId % 4 === 1, "http")
      .when(docId % 4 === 2, "HTTPS").otherwise("https")
    val isHttp = docId % 4 < 2
    val port = when(docId % 2 === 0,
      when(isHttp, ":80").otherwise(":443")).otherwise("")
    val rpath = when(docId % 4 === 0, concat(lit("/private/doc"), slug))
      .when(docId % 4 === 1, concat(lit("/private/pub/doc"), slug))
      .when(docId % 4 === 2, concat(lit("/s"), site, lit("/x"), slug))
      .otherwise(concat(lit("/public/doc"), slug))
    concat(scheme, lit("://WWW.Site"), site, lit(".Example.COM"),
      port, rpath, lit("?utm_source=feed&z=2&a=1&utm_medium=x"), lit("#sec"))
  }

  /** The A22 fixture's per-site robots.txt body (site = a string
    * column holding doc_id%7 or the site ordinal). */
  private[graft] def gateFixtureRobots(site: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(
      lit("User-agent: *\n"),
      lit("Disallow: /private\n"),
      lit("Allow: /private/pub\n"),
      lit("Disallow: /tmp/\n"),
      lit("Disallow: /s"), site, lit("\n"))

  def ingCorpusGate(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wet = withWarcRecord(warcContainer(spark, dir), "_bin")
      .filter(col("valid_warc") === 1 && col("truncated") === 0 &&
        col("warc_type") === "response")
      .select(col("doc_id"), col("payload").as("text"))
    val site = (col("doc_id") % 7).cast("string")
    val url = gateFixtureUrl(col("doc_id"))
    val robots = gateFixtureRobots(site)
    val gated = wet
      .select(col("doc_id"), canonicalUrl(url).as("canonical"), robots.as("__robots"))
      .withColumn("allowed", repAllowed(col("__robots"), col("canonical")))
      .drop("__robots")
      .withColumn("url_unique", (col("doc_id") ===
        min(col("doc_id")).over(Window.partitionBy(col("canonical"))))
        .cast("int"))
    val gophered = graft.text.TextQueries.gopherRules(
        wet.select("doc_id", "text"))
      .select(col("doc_id"), col("keep").as("gopher_keep"))
    val fp = graft.dedup.Dedup.exactDedup(wet, "doc_id", "text")
      .select(col("doc_id"), col("is_dup"))
    gated.join(gophered, "doc_id").join(fp, "doc_id")
      .withColumn("corpus_keep",
        (col("allowed") === 1 && col("url_unique") === 1 &&
          col("gopher_keep") === 1 && col("is_dup") === 0).cast("int"))
      .select("doc_id", "canonical", "allowed", "url_unique",
        "gopher_keep", "is_dup", "corpus_keep")
  }

  /** K53 driver query: OPTIMIZE ZORDER end-to-end — commit an orders
    * projection in an a-linear layout, z-order-rewrite it, and read
    * the OPTIMIZED version back with the K11 Morton key recomputed per
    * row. The oracle re-derives (a, b) from the generating formulas
    * and the z value from an INDEPENDENT spelling of the bit-spread
    * arithmetic in DuckDB — so a lost/duplicated row in the rewrite,
    * or any divergence in the interleave math, hash-mismatches. The
    * layout improvement itself (clustering depth collapse, 2D box
    * pruning) is pinned in SnapshotStoreSpec — file layout is not
    * SQL-observable. */
  def ingZorder(spark: SparkSession, dir: String): DataFrame = {
    import graft.store.{GraftStore, SnapshotStore}
    val name = s"ord_z_${GraftStore.dirKey(dir)}"
    snapCommitted.getOrElseUpdate(name, {
      val o = Tables.orders(spark, dir).select(
        col("o_orderkey"),
        (col("o_custkey") % 256).as("a"),
        (col("o_orderkey") % 256).as("b"))
      SnapshotStore.commitOverwrite(name,
        o.repartitionByRange(4, col("a")))
      SnapshotStore.optimizeZOrder(spark, name, ("a", "b"), files = 4)
      true
    })
    SnapshotStore.read(spark, name)
      .select(col("o_orderkey"), col("a"), col("b"),
        graft.functions.ZOrder.zOrderKey(col("a"), col("b")).as("zval"))
  }

  /** The K11 bit-spread as DuckDB SQL — generated next to the Scala
    * Column arithmetic it mirrors so the two cannot drift. */
  private def spreadSql(x: String): String = {
    var v = s"(($x) & 65535)"
    v = s"((xor($v, ($v << 8))) & 16711935)"
    v = s"((xor($v, ($v << 4))) & 252645135)"
    v = s"((xor($v, ($v << 2))) & 858993459)"
    v = s"((xor($v, ($v << 1))) & 1431655765)"
    v
  }

  /** A21: URL canonicalization — the dedup key normalization every
    * crawl pipeline runs before fetch dedup and per-domain rollups
    * (two spellings of one URL are the single biggest source of
    * phantom "distinct" documents in a crawl): scheme and host
    * lowercase (they are case-insensitive per RFC 3986; the path is
    * NOT), default ports drop (:80 for http, :443 for https),
    * fragments drop (never sent to the server), `utm_*` tracking
    * params drop, and the surviving query params SORT so argument
    * order cannot split a key. Pure per-row regex/array work — zero
    * shuffle at any scale. */
  def canonicalUrl(u: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val noFrag = regexp_replace(u, "#.*$", "")
    val q = regexp_extract(noFrag, "\\?(.*)$", 1)
    val base = regexp_replace(noFrag, "\\?.*$", "")
    val scheme = lower(regexp_extract(base, "^([A-Za-z]+)://", 1))
    val hostport = lower(regexp_extract(base, "^[A-Za-z]+://([^/]*)", 1))
    val host = when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .otherwise(hostport)
    val path = regexp_extract(base, "^[A-Za-z]+://[^/]*(/.*)?$", 1)
    val params = array_join(array_sort(filter(split(q, "&"),
      p => !p.startsWith("utm_") && p =!= "")), "&")
    concat(scheme, lit("://"), host,
      when(path === "", "/").otherwise(path),
      when(params === "", "").otherwise(concat(lit("?"), params)))
  }

  /** A21 driver query: a deliberately messy URL per document (cased
    * scheme/host, default ports on evens, tracking params interleaved
    * with real ones out of order, fragments on every third) →
    * canonical form + the registrable domain (last two host labels,
    * the per-site rollup key). The oracle rebuilds the same mess and
    * canonicalizes it with the identical rule chain in DuckDB — a
    * divergent regex or sort order hash-mismatches every row. */
  def ingUrlCanon(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val scheme = when(col("doc_id") % 4 === 0, "HTTP")
      .when(col("doc_id") % 4 === 1, "http")
      .when(col("doc_id") % 4 === 2, "HTTPS").otherwise("https")
    val isHttp = col("doc_id") % 4 < 2
    val host = concat(lit("WWW.Site"), (col("doc_id") % 7).cast("string"),
      lit(".Example.COM"))
    val port = when(col("doc_id") % 2 === 0,
      when(isHttp, ":80").otherwise(":443")).otherwise("")
    val extra = when(col("doc_id") % 5 === 0, "&b=3").otherwise("")
    val frag = when(col("doc_id") % 3 === 0, "#sec").otherwise("")
    val url = concat(scheme, lit("://"), host, port,
      lit("/Path/"), col("doc_id").cast("string"),
      lit("?utm_source=feed&z=2"), extra, lit("&a=1&utm_medium=x"), frag)
    val canon = canonicalUrl(url)
    d.select(col("doc_id"), url.as("url"), canon.as("canonical"),
      regexp_extract(regexp_extract(canon, "^[a-z]+://([^/]*)", 1),
        "([^.]+\\.[^.]+)$", 1).as("domain"))
  }

  /** A20: robots.txt politeness evaluation — the fetch gate of a
    * polite crawler, REP semantics (RFC 9309): parse the Allow /
    * Disallow lines out of the robots BODY (not a pre-parsed rule
    * table — the parsing is the operator), then for a URL path apply
    * longest-prefix-match with Allow winning ties. Per row: extract
    * both rule lists with one multiline regex each, keep the prefixes
    * that match the path, take each side's longest, compare. No rule
    * matching at all means allowed (REP default-allow). Pure per-row
    * regex + array work, zero shuffle.
    *
    * Driver query fixture: each source's robots carries the shared
    * rules plus one per-source Disallow; paths cycle through the four
    * interesting cases (disallowed-by-prefix, allow-overrides-disallow
    * on the longer match, per-source disallow, no-rule default-allow).
    * The oracle rebuilds body+path and runs the identical extraction
    * and longest-match fold in DuckDB. */
  def ingRobots(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val s = (col("doc_id") % 7).cast("string")
    val robots = concat(
      lit("User-agent: *\n"),
      lit("Disallow: /private\n"),
      lit("Allow: /private/pub\n"),
      lit("Disallow: /tmp/\n"),
      lit("Disallow: /s"), s, lit("\n"))
    val path = when(col("doc_id") % 4 === 0,
        concat(lit("/private/doc"), col("doc_id").cast("string")))
      .when(col("doc_id") % 4 === 1,
        concat(lit("/private/pub/doc"), col("doc_id").cast("string")))
      .when(col("doc_id") % 4 === 2, concat(lit("/s"), s, lit("/x")))
      .otherwise(concat(lit("/public/doc"), col("doc_id").cast("string")))
    val allows = regexp_extract_all(robots, lit("(?m)^Allow: ([^\\n]+)$"), lit(1))
    val disallows = regexp_extract_all(robots,
      lit("(?m)^Disallow: ([^\\n]+)$"), lit(1))
    def longest(rules: org.apache.spark.sql.Column,
        p: org.apache.spark.sql.Column) =
      coalesce(array_max(transform(filter(rules, r => p.startsWith(r)),
        r => length(r))), lit(-1))
    val (la, ld) = (longest(allows, path), longest(disallows, path))
    d.select(col("doc_id"), path.as("path"),
      size(allows).as("n_allow"), size(disallows).as("n_disallow"),
      la.as("longest_allow"), ld.as("longest_disallow"),
      (la >= ld).cast("int").as("allowed"))
  }

  /** A24 fixture: a genuine minimal Delta table built from `orders` —
    * three thirds of the rows as three parquet data files; commit 0
    * (protocol + metaData + add A + add B), commit 1 (remove B +
    * add C). The final live set is therefore o_orderkey % 3 ≠ 1 and
    * version 0's is % 3 ≤ 1 — both derivable predicates, so the
    * replay is value-oracled end to end. Data files are written by
    * the stock parquet writer into per-slice subdirs (Delta paths are
    * table-relative URIs; subdirs are legal and exercised here). */
  private def deltaFixture(spark: SparkSession, dir: String): String = {
    val root = tmp(s"delta_${graft.store.GraftStore.dirKey(dir)}")
    val marker = new java.io.File(root, "_WRITTEN")
    if (!marker.exists()) {
      val base = Tables.orders(spark, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val fs = new Path(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      def writeSlice(sub: String, rem: Int): Seq[String] = {
        base.filter(col("o_orderkey") % 3 === rem)
          .write.mode("overwrite").parquet(s"$root/$sub")
        fs.listStatus(new Path(s"$root/$sub")).iterator
          .map(_.getPath.getName).filter(_.endsWith(".parquet"))
          .map(n => s"$sub/$n").toSeq.sorted
      }
      val a = writeSlice("dataA", 0)
      val b = writeSlice("dataB", 1)
      val c = writeSlice("dataC", 2)
      val schemaJson = base.schema.json.replace("\"", "\\\"")
      def addJson(p: String) =
        s"""{"add":{"path":"$p","size":1,"dataChange":true}}"""
      def removeJson(p: String) =
        s"""{"remove":{"path":"$p","dataChange":true}}"""
      val logDir = new java.io.File(root, "_delta_log")
      logDir.mkdirs()
      def commit(v: Long, lines: Seq[String]): Unit =
        java.nio.file.Files.write(
          java.nio.file.Paths.get(logDir.toString, f"$v%020d.json"),
          lines.mkString("\n").getBytes("UTF-8"))
      commit(0L,
        Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
          s"""{"metaData":{"id":"graft-a24","schemaString":"$schemaJson","partitionColumns":[]}}""") ++
          (a ++ b).map(addJson))
      commit(1L, b.map(removeJson) ++ c.map(addJson))
      marker.createNewFile()
    }
    root
  }

  /** A25 fixture: a genuine minimal Iceberg table over the SAME
    * `orders` thirds as the Delta fixture — snapshot 1 = manifest m1
    * (ADDED A, ADDED B); snapshot 2 = manifest m2 exercising ALL
    * THREE spec status codes (EXISTING A carried, DELETED B dropped,
    * ADDED C). Manifest list + manifests are REAL Avro files written
    * with the stock Apache Avro library; metadata/v1.metadata.json +
    * version-hint.text complete the HadoopCatalog layout. */
  private def icebergFixture(spark: SparkSession, dir: String): String = {
    val root = tmp(s"iceberg_${graft.store.GraftStore.dirKey(dir)}")
    val marker = new java.io.File(root, "_WRITTEN")
    if (!marker.exists()) {
      val base = Tables.orders(spark, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val fs = new Path(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      def writeSlice(sub: String, rem: Int): Seq[String] = {
        base.filter(col("o_orderkey") % 3 === rem)
          .write.mode("overwrite").parquet(s"$root/data/$sub")
        fs.listStatus(new Path(s"$root/data/$sub")).iterator
          .map(_.getPath.getName).filter(_.endsWith(".parquet"))
          .map(n => s"data/$sub/$n").toSeq.sorted
      }
      val a = writeSlice("A", 0)
      val b = writeSlice("B", 1)
      val c = writeSlice("C", 2)
      val mdir = new java.io.File(root, "metadata")
      mdir.mkdirs()

      import org.apache.avro.generic.{GenericData, GenericRecord}
      def writeAvro(file: String, schemaJson: String,
          rows: Seq[org.apache.avro.Schema => GenericRecord]): Unit = {
        val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
        val w = new org.apache.avro.file.DataFileWriter(
          new org.apache.avro.generic.GenericDatumWriter[GenericRecord](schema))
        w.create(schema, new java.io.File(mdir, file))
        try rows.foreach(mk => w.append(mk(schema))) finally w.close()
      }
      val entrySchema =
        """{"type":"record","name":"manifest_entry","fields":[
          |{"name":"status","type":"int"},
          |{"name":"data_file","type":{"type":"record","name":"data_file","fields":[
          |{"name":"file_path","type":"string"},
          |{"name":"record_count","type":"long"}]}}]}""".stripMargin
      def entry(status: Int, path: String)(s: org.apache.avro.Schema): GenericRecord = {
        val r = new GenericData.Record(s)
        val d = new GenericData.Record(s.getField("data_file").schema())
        d.put("file_path", path); d.put("record_count", 1L)
        r.put("status", status); r.put("data_file", d); r
      }
      writeAvro("m1.avro", entrySchema,
        (a ++ b).map(p => entry(1, p) _))
      writeAvro("m2.avro", entrySchema,
        a.map(p => entry(0, p) _) ++ b.map(p => entry(2, p) _) ++
          c.map(p => entry(1, p) _))
      // the REAL format-version-1 manifest-list layout: no `content`
      // field (it arrived in v2) — the reader must probe the writer
      // schema, not call get("content") blind (Avro throws on unknown
      // fields)
      val listSchema =
        """{"type":"record","name":"manifest_file","fields":[
          |{"name":"manifest_path","type":"string"}]}""".stripMargin
      def mf(path: String)(s: org.apache.avro.Schema): GenericRecord = {
        val r = new GenericData.Record(s)
        r.put("manifest_path", path); r
      }
      writeAvro("snap-1.avro", listSchema, Seq(mf("metadata/m1.avro") _))
      writeAvro("snap-2.avro", listSchema, Seq(mf("metadata/m2.avro") _))
      val metaJson =
        s"""{"format-version": 1, "table-uuid": "graft-a25",
           |"location": "$root", "current-schema-id": 0,
           |"schemas": [{"schema-id": 0, "type": "struct", "fields": [
           |  {"id": 1, "name": "o_orderkey", "required": false, "type": "long"},
           |  {"id": 2, "name": "o_custkey", "required": false, "type": "long"},
           |  {"id": 3, "name": "o_totalprice", "required": false, "type": "double"}]}],
           |"current-snapshot-id": 2,
           |"snapshots": [
           |  {"snapshot-id": 1, "timestamp-ms": 1000, "manifest-list": "metadata/snap-1.avro"},
           |  {"snapshot-id": 2, "timestamp-ms": 2000, "manifest-list": "metadata/snap-2.avro"}]}""".stripMargin
      java.nio.file.Files.write(
        java.nio.file.Paths.get(mdir.toString, "v1.metadata.json"),
        metaJson.getBytes("UTF-8"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(mdir.toString, "version-hint.text"),
        "1".getBytes("UTF-8"))
      marker.createNewFile()
    }
    root
  }

  /** A25 driver query: the Iceberg table at its CURRENT snapshot —
    * m2's DELETED entries drop slice B, EXISTING carries A, ADDED
    * surfaces C. */
  def ingIceberg(spark: SparkSession, dir: String): DataFrame =
    IcebergLog.readTable(spark, icebergFixture(spark, dir))

  /** A25 time travel: snapshot 1 — slices A and B only. */
  def ingIcebergAsof(spark: SparkSession, dir: String): DataFrame =
    IcebergLog.readTable(spark, icebergFixture(spark, dir), Some(1L))

  /** A24 driver query: the Delta table read at HEAD — commit 1's
    * removes must drop slice B, its adds must surface slice C. */
  def ingDelta(spark: SparkSession, dir: String): DataFrame =
    DeltaLog.readTable(spark, deltaFixture(spark, dir))

  /** A24 time travel: the table AS OF version 0 — slice B visible,
    * slice C not yet written. */
  def ingDeltaAsof(spark: SparkSession, dir: String): DataFrame =
    DeltaLog.readTable(spark, deltaFixture(spark, dir), Some(0L))

  /** A24 partitioned fixture: the same thirds, but as a PARTITIONED
    * Delta table — `bucket3` lives in the LOG's partitionValues, not
    * in the data files (the Delta layout), so the read must
    * reconstruct it as a typed column. */
  private def deltaPartFixture(spark: SparkSession, dir: String): String = {
    val root = tmp(s"deltap_${graft.store.GraftStore.dirKey(dir)}")
    val marker = new java.io.File(root, "_WRITTEN")
    if (!marker.exists()) {
      val base = Tables.orders(spark, dir)
        .select("o_orderkey", "o_totalprice")
      val fs = new Path(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      def writeSlice(rem: Int): Seq[String] = {
        base.filter(col("o_orderkey") % 3 === rem)
          .write.mode("overwrite").parquet(s"$root/bucket3=$rem")
        fs.listStatus(new Path(s"$root/bucket3=$rem")).iterator
          .map(_.getPath.getName).filter(_.endsWith(".parquet"))
          .map(n => s"bucket3=$rem/$n").toSeq.sorted
      }
      val schemaJson = org.apache.spark.sql.types.StructType(
        base.schema.fields :+ org.apache.spark.sql.types.StructField(
          "bucket3", org.apache.spark.sql.types.StringType))
        .json.replace("\"", "\\\"")
      val adds = (0 to 2).flatMap(rem => writeSlice(rem).map(p =>
        s"""{"add":{"path":"$p","partitionValues":{"bucket3":"$rem"},"size":1,"dataChange":true}}"""))
      val logDir = new java.io.File(root, "_delta_log")
      logDir.mkdirs()
      java.nio.file.Files.write(
        java.nio.file.Paths.get(logDir.toString, f"${0L}%020d.json"),
        (Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
          s"""{"metaData":{"id":"graft-a24p","schemaString":"$schemaJson","partitionColumns":["bucket3"]}}""") ++
          adds).mkString("\n").getBytes("UTF-8"))
      marker.createNewFile()
    }
    root
  }

  /** A24 partitioned read: partition columns reconstructed from the
    * log's partitionValues as typed literals per file group. */
  def ingDeltaPart(spark: SparkSession, dir: String): DataFrame =
    DeltaLog.readTable(spark, deltaPartFixture(spark, dir))

  /** K65 driver query: round-trip the WRITE direction — a store table
    * exports its snapshot as a Delta log (metadata-only, zero data
    * movement) and reads back through the A24 reader. Idempotent
    * across invocations: the store commit happens once per table, a
    * no-change export returns the existing Delta version. */
  def ingDeltaExport(spark: SparkSession, dir: String): DataFrame = {
    val t = s"graft_dexp_${graft.store.GraftStore.dirKey(dir)}"
    if (graft.store.SnapshotStore.versions(t).isEmpty)
      graft.store.SnapshotStore.commitOverwrite(t, Tables.nation(spark, dir))
    graft.store.DeltaExport.export(spark, t)
    DeltaLog.readTable(spark, graft.store.DeltaExport.tablePath(t))
  }

  /** A29 driver query: trailing-comma JSON array round-trip — the
    * documents rows serialized as ONE whole-file JSON array with a
    * trailing comma inside EVERY object and one before the closing
    * bracket (the md5 values contain no braces, so the global
    * injection is well-defined), read back through the lenient
    * reader. */
  def ingJsonLenient(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val path = tmp("json_lenient")
    val rec = to_json(struct(col("doc_id"), col("lang"),
      md5(col("text")).as("text_md5")))
    d.orderBy("doc_id")
      .select(struct(col("doc_id").as("__k"), rec.as("__j")).as("__kv"))
      .agg(concat(lit("[\n"),
        array_join(transform(array_sort(collect_list(col("__kv"))),
          s => regexp_replace(s.getField("__j"), "\\}$", ",}")), ",\n"),
        lit(",\n]")).as("value"))
      .coalesce(1).write.mode("overwrite").text(path)
    Sources.jsonArrayLenient(spark, path,
      org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id long, lang string, text_md5 string"))
  }

  /** A24 column-mapping fixture (r20): a Delta table whose parquet
    * files carry PHYSICAL column names (`col-ok` …) while the log's
    * schemaString maps them to the logical names through
    * `delta.columnMapping.physicalName` metadata — the
    * minReaderVersion-2 'name' mode a vendor-dropped modern table most
    * commonly carries. The read must scan physical and serve logical. */
  private def deltaCmFixture(spark: SparkSession, dir: String): String = {
    val root = tmp(s"deltacm_${graft.store.GraftStore.dirKey(dir)}")
    val marker = new java.io.File(root, "_WRITTEN")
    if (!marker.exists()) {
      import org.apache.spark.sql.types._
      val base = Tables.orders(spark, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val phys = Seq("o_orderkey" -> "col-ok", "o_custkey" -> "col-ck",
        "o_totalprice" -> "col-tp").toMap
      base.select(base.columns.map(c => col(c).as(phys(c))).toSeq: _*)
        .write.mode("overwrite").parquet(s"$root/data")
      val fs = new Path(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val files = fs.listStatus(new Path(s"$root/data")).iterator
        .map(_.getPath.getName).filter(_.endsWith(".parquet"))
        .map(n => s"data/$n").toSeq.sorted
      val logical = StructType(base.schema.fields.zipWithIndex.map {
        case (f, i) => f.copy(metadata = new MetadataBuilder()
          .putString("delta.columnMapping.physicalName", phys(f.name))
          .putLong("delta.columnMapping.id", i + 1L).build())
      })
      val schemaJson = logical.json.replace("\"", "\\\"")
      val logDir = new java.io.File(root, "_delta_log")
      logDir.mkdirs()
      java.nio.file.Files.write(
        java.nio.file.Paths.get(logDir.toString, f"${0L}%020d.json"),
        (Seq("""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
          s"""{"metaData":{"id":"graft-a24cm","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],""" +
            """"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"3"}}}""") ++
          files.map(p =>
            s"""{"add":{"path":"$p","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
          .mkString("\n").getBytes("UTF-8"))
      marker.createNewFile()
    }
    root
  }

  /** A26 driver query: column-mapped (name mode) Delta read — physical
    * parquet names in, logical schema out. */
  def ingDeltaCm(spark: SparkSession, dir: String): DataFrame =
    DeltaLog.readTable(spark, deltaCmFixture(spark, dir))

  /** A24 multi-part checkpoint fixture (r20): the same thirds, but the
    * pre-checkpoint JSON commits are GONE (Delta log cleanup) and the
    * v1 checkpoint is split across TWO parquet parts
    * (`v.checkpoint.i.n.parquet` — the layout of any production table
    * whose checkpoint outgrew one file): part 1 carries
    * protocol+metaData+add(A), part 2 add(B); the JSON tail (v2)
    * removes B and adds C. Live set = A + C. */
  private def deltaCkptMultiFixture(spark: SparkSession, dir: String): String = {
    val root = tmp(s"deltamp_${graft.store.GraftStore.dirKey(dir)}")
    val marker = new java.io.File(root, "_WRITTEN")
    if (!marker.exists()) {
      val base = Tables.orders(spark, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val fs = new Path(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      def writeSlice(sub: String, rem: Int): Seq[String] = {
        base.filter(col("o_orderkey") % 3 === rem)
          .write.mode("overwrite").parquet(s"$root/$sub")
        fs.listStatus(new Path(s"$root/$sub")).iterator
          .map(_.getPath.getName).filter(_.endsWith(".parquet"))
          .map(n => s"$sub/$n").toSeq.sorted
      }
      val a = writeSlice("dataA", 0)
      val b = writeSlice("dataB", 1)
      val c = writeSlice("dataC", 2)
      val schemaJson = base.schema.json
      val logDir = new java.io.File(root, "_delta_log")
      logDir.mkdirs()
      // a checkpoint part = a parquet file of action ROWS (one action
      // per row, exactly the Delta checkpoint shape)
      def ckptPart(name: String,
          rows: Seq[(Option[String], Option[String], Option[Int])]): Unit = {
        import spark.implicits._
        rows.toDF("p", "ss", "mr")
          .select(
            when(col("p").isNotNull, struct(col("p").as("path"))).as("add"),
            when(col("ss").isNotNull,
              struct(col("ss").as("schemaString"))).as("metaData"),
            when(col("mr").isNotNull,
              struct(col("mr").as("minReaderVersion"))).as("protocol"))
          .coalesce(1).write.mode("overwrite").parquet(s"$root/_stage_$name")
        val part = new java.io.File(s"$root/_stage_$name").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.copy(part.toPath,
          java.nio.file.Paths.get(logDir.toString, name))
      }
      ckptPart(f"${1L}%020d.checkpoint.${1}%010d.${2}%010d.parquet",
        (None, None, Some(1)) +: (None, Some(schemaJson), None) +:
          a.map(p => (Some(p), None: Option[String], None: Option[Int])))
      ckptPart(f"${1L}%020d.checkpoint.${2}%010d.${2}%010d.parquet",
        b.map(p => (Some(p), None: Option[String], None: Option[Int])))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(logDir.toString, "_last_checkpoint"),
        s"""{"version":1,"size":${2 + a.size + b.size},"parts":2}"""
          .getBytes("UTF-8"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(logDir.toString, f"${2L}%020d.json"),
        (b.map(p => s"""{"remove":{"path":"$p","dataChange":true}}""") ++
          c.map(p =>
            s"""{"add":{"path":"$p","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
          .mkString("\n").getBytes("UTF-8"))
      marker.createNewFile()
    }
    root
  }

  /** A24 multi-part checkpoint read: both parts form the base, the
    * JSON tail replays on top — without the pre-checkpoint commits. */
  def ingDeltaCkptMulti(spark: SparkSession, dir: String): DataFrame =
    DeltaLog.readTable(spark, deltaCkptMultiFixture(spark, dir))

  /** A25 identity-partitioned Iceberg fixture (r20): `orders` thirds
    * as one snapshot of a table partitioned by identity(bucket3); the
    * data files CARRY bucket3 (the Iceberg contract — unlike Delta),
    * and each manifest entry CARRIES its partition tuple, which is
    * what manifest-level pruning keys on. */
  private def icebergPartFixture(spark: SparkSession, dir: String): String = {
    val root = tmp(s"icebergp_${graft.store.GraftStore.dirKey(dir)}")
    val marker = new java.io.File(root, "_WRITTEN")
    if (!marker.exists()) {
      val base = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_totalprice"),
          (col("o_orderkey") % 3).cast("int").as("bucket3"))
      val fs = new Path(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      def writeBucket(rem: Int): Seq[String] = {
        base.filter(col("bucket3") === rem)
          .write.mode("overwrite").parquet(s"$root/data/b$rem")
        fs.listStatus(new Path(s"$root/data/b$rem")).iterator
          .map(_.getPath.getName).filter(_.endsWith(".parquet"))
          .map(n => s"data/b$rem/$n").toSeq.sorted
      }
      val byBucket = (0 to 2).map(rem => rem -> writeBucket(rem))
      val mdir = new java.io.File(root, "metadata")
      mdir.mkdirs()
      import org.apache.avro.generic.{GenericData, GenericRecord}
      def writeAvro(file: String, schemaJson: String,
          rows: Seq[org.apache.avro.Schema => GenericRecord]): Unit = {
        val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
        val w = new org.apache.avro.file.DataFileWriter(
          new org.apache.avro.generic.GenericDatumWriter[GenericRecord](schema))
        w.create(schema, new java.io.File(mdir, file))
        try rows.foreach(mk => w.append(mk(schema))) finally w.close()
      }
      val entrySchema =
        """{"type":"record","name":"manifest_entry","fields":[
          |{"name":"status","type":"int"},
          |{"name":"data_file","type":{"type":"record","name":"data_file","fields":[
          |{"name":"file_path","type":"string"},
          |{"name":"partition","type":{"type":"record","name":"r102","fields":[
          |{"name":"bucket3","type":["null","int"],"default":null}]}},
          |{"name":"record_count","type":"long"}]}}]}""".stripMargin
      def entry(rem: Int, path: String)(s: org.apache.avro.Schema): GenericRecord = {
        val r = new GenericData.Record(s)
        val d = new GenericData.Record(s.getField("data_file").schema())
        val p = new GenericData.Record(
          d.getSchema.getField("partition").schema())
        p.put("bucket3", rem)
        d.put("file_path", path); d.put("partition", p)
        d.put("record_count", 1L)
        r.put("status", 1); r.put("data_file", d); r
      }
      writeAvro("m1.avro", entrySchema,
        byBucket.flatMap { case (rem, ps) => ps.map(p => entry(rem, p) _) })
      val listSchema =
        """{"type":"record","name":"manifest_file","fields":[
          |{"name":"manifest_path","type":"string"}]}""".stripMargin
      writeAvro("snap-1.avro", listSchema, Seq({ s: org.apache.avro.Schema =>
        val r = new GenericData.Record(s)
        r.put("manifest_path", "metadata/m1.avro"); r
      }))
      val metaJson =
        s"""{"format-version": 1, "table-uuid": "graft-a25p",
           |"location": "$root", "current-schema-id": 0,
           |"schemas": [{"schema-id": 0, "type": "struct", "fields": [
           |  {"id": 1, "name": "o_orderkey", "required": false, "type": "long"},
           |  {"id": 2, "name": "o_totalprice", "required": false, "type": "double"},
           |  {"id": 3, "name": "bucket3", "required": false, "type": "int"}]}],
           |"default-spec-id": 0,
           |"partition-specs": [{"spec-id": 0, "fields": [
           |  {"name": "bucket3", "transform": "identity", "source-id": 3, "field-id": 1000}]}],
           |"current-snapshot-id": 1,
           |"snapshots": [
           |  {"snapshot-id": 1, "timestamp-ms": 1000, "manifest-list": "metadata/snap-1.avro"}]}""".stripMargin
      java.nio.file.Files.write(
        java.nio.file.Paths.get(mdir.toString, "v1.metadata.json"),
        metaJson.getBytes("UTF-8"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(mdir.toString, "version-hint.text"),
        "1".getBytes("UTF-8"))
      marker.createNewFile()
    }
    root
  }

  /** A28 fixture (r20): a format-version-2 Iceberg table with a
    * POSITIONAL DELETE file — one sorted data file of all `orders`
    * thirds plus a delete parquet marking every position whose
    * o_orderkey % 3 == 1 (positions derived by reading the data file
    * back with `_metadata.row_index`, so the fixture can never drift
    * from the reader's own coordinate system). The manifest list
    * carries a content=0 data manifest AND a content=1 delete
    * manifest whose entry declares data_file.content=1 (positional). */
  private def icebergDelFixture(spark: SparkSession, dir: String): String = {
    val root = tmp(s"icebergd_${graft.store.GraftStore.dirKey(dir)}")
    val marker = new java.io.File(root, "_WRITTEN")
    if (!marker.exists()) {
      val base = Tables.orders(spark, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val fs = new Path(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      base.coalesce(1).sortWithinPartitions("o_orderkey")
        .write.mode("overwrite").parquet(s"$root/data/d")
      def only(sub: String): String =
        fs.listStatus(new Path(s"$root/$sub")).iterator
          .map(_.getPath.getName).filter(_.endsWith(".parquet"))
          .toSeq.sorted.head
      val dataRel = s"data/d/${only("data/d")}"
      val dataAbs = new Path(root, dataRel).toUri.getPath
      spark.read.parquet(s"$root/data/d")
        .select(col("o_orderkey"), col("_metadata.row_index").as("pos"))
        .filter(col("o_orderkey") % 3 === 1)
        .select(lit(dataAbs).as("file_path"), col("pos"))
        .coalesce(1).write.mode("overwrite").parquet(s"$root/data/del")
      val delRel = s"data/del/${only("data/del")}"

      val mdir = new java.io.File(root, "metadata")
      mdir.mkdirs()
      import org.apache.avro.generic.{GenericData, GenericRecord}
      def writeAvro(file: String, schemaJson: String,
          rows: Seq[org.apache.avro.Schema => GenericRecord]): Unit = {
        val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
        val w = new org.apache.avro.file.DataFileWriter(
          new org.apache.avro.generic.GenericDatumWriter[GenericRecord](schema))
        w.create(schema, new java.io.File(mdir, file))
        try rows.foreach(mk => w.append(mk(schema))) finally w.close()
      }
      val dataEntrySchema =
        """{"type":"record","name":"manifest_entry","fields":[
          |{"name":"status","type":"int"},
          |{"name":"data_file","type":{"type":"record","name":"data_file","fields":[
          |{"name":"file_path","type":"string"},
          |{"name":"record_count","type":"long"}]}}]}""".stripMargin
      val delEntrySchema =
        """{"type":"record","name":"manifest_entry","fields":[
          |{"name":"status","type":"int"},
          |{"name":"data_file","type":{"type":"record","name":"delete_file","fields":[
          |{"name":"content","type":"int"},
          |{"name":"file_path","type":"string"},
          |{"name":"record_count","type":"long"}]}}]}""".stripMargin
      writeAvro("m1.avro", dataEntrySchema, Seq({ s: org.apache.avro.Schema =>
        val r = new GenericData.Record(s)
        val d = new GenericData.Record(s.getField("data_file").schema())
        d.put("file_path", dataRel); d.put("record_count", 1L)
        r.put("status", 1); r.put("data_file", d); r
      }))
      writeAvro("md.avro", delEntrySchema, Seq({ s: org.apache.avro.Schema =>
        val r = new GenericData.Record(s)
        val d = new GenericData.Record(s.getField("data_file").schema())
        d.put("content", 1); d.put("file_path", delRel)
        d.put("record_count", 1L)
        r.put("status", 1); r.put("data_file", d); r
      }))
      val listSchema =
        """{"type":"record","name":"manifest_file","fields":[
          |{"name":"manifest_path","type":"string"},
          |{"name":"content","type":"int","default":0}]}""".stripMargin
      def mf(path: String, content: Int)(s: org.apache.avro.Schema): GenericRecord = {
        val r = new GenericData.Record(s)
        r.put("manifest_path", path); r.put("content", content); r
      }
      writeAvro("snap-1.avro", listSchema,
        Seq(mf("metadata/m1.avro", 0) _, mf("metadata/md.avro", 1) _))
      val metaJson =
        s"""{"format-version": 2, "table-uuid": "graft-a28",
           |"location": "$root", "current-schema-id": 0,
           |"schemas": [{"schema-id": 0, "type": "struct", "fields": [
           |  {"id": 1, "name": "o_orderkey", "required": false, "type": "long"},
           |  {"id": 2, "name": "o_custkey", "required": false, "type": "long"},
           |  {"id": 3, "name": "o_totalprice", "required": false, "type": "double"}]}],
           |"current-snapshot-id": 1,
           |"snapshots": [
           |  {"snapshot-id": 1, "timestamp-ms": 1000, "manifest-list": "metadata/snap-1.avro"}]}""".stripMargin
      java.nio.file.Files.write(
        java.nio.file.Paths.get(mdir.toString, "v1.metadata.json"),
        metaJson.getBytes("UTF-8"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(mdir.toString, "version-hint.text"),
        "1".getBytes("UTF-8"))
      marker.createNewFile()
    }
    root
  }

  /** A28 driver query: v2 positional deletes applied — the
    * (file_path, pos) rows drop exactly the o_orderkey % 3 == 1
    * positions through the `_metadata.row_index` anti-join. */
  def ingIcebergDeletes(spark: SparkSession, dir: String): DataFrame =
    IcebergLog.readTable(spark, icebergDelFixture(spark, dir))

  /** A25 identity-partitioned PRUNED read: the manifest partition
    * tuples drop buckets 0 and 2 before any parquet is touched; the
    * bucket-pure fixture makes the pruning itself value-oracled (the
    * result IS the bucket3=1 slice). */
  def ingIcebergPart(spark: SparkSession, dir: String): DataFrame =
    IcebergLog.readTablePruned(spark, icebergPartFixture(spark, dir),
      Map("bucket3" -> "1"))

  /** A25 timestamp time travel: AS OF t=1500ms — between snapshot 1
    * (1000) and snapshot 2 (2000), so snapshot 1 serves. */
  def ingIcebergTs(spark: SparkSession, dir: String): DataFrame =
    IcebergLog.readTableAsOf(spark, icebergFixture(spark, dir), 1500L)

  def queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    "ing_csv"     -> (ingCsv _),
    "ing_tsv"     -> (ingTsv _),
    "ing_json"    -> (ingJson _),
    "ing_xml"     -> (ingXml _),
    "ing_batches" -> (ingBatches _),
    "ing_union"   -> (ingUnion _),
    "ing_rdf"     -> (ingRdf _),
    "ing_parquet" -> (ingParquet _),
    "ing_merge_schema" -> (ingMergeSchema _),
    "ing_corrupt_files" -> (ingCorruptFiles _),
    "ing_lz4"     -> (ingLz4 _),
    "ing_warc"    -> (ingWarc _),
    "ing_warc_corpus" -> (ingWarcCorpus _),
    "ing_corpus_gate" -> (ingCorpusGate _),
    "ing_cow"     -> (ingCow _),
    "ing_zorder"  -> (ingZorder _),
    "ing_url_canon" -> (ingUrlCanon _),
    "ing_robots"  -> (ingRobots _),
    "ing_asof"    -> (ingAsofRead _),
    "ing_fastcount" -> (ingFastCount _),
    "ing_orc"     -> (ingOrc _),
    "ing_gzip"    -> (ingGzip _),
    "ing_binary"  -> (ingBinary _),
    "ing_json_bad" -> (ingJsonBad _),
    "ing_csv_bad" -> (ingCsvBad _),
    "ing_zonemap" -> (ingZonemap _),
    "ing_snapshot_index" -> (ingSnapshotIndex _),
    "ing_mv_inc" -> (ingMvInc _),
    "ing_mv_join" -> (ingMvJoin _),
    "ing_history" -> (ingHistory _),
    "ing_dpp" -> (ingDpp _),
    "ing_snapshot_diff" -> (ingSnapshotDiff _),
    "ing_fixed_width" -> (ingFixedWidth _),
    "ing_nested"  -> (ingNested _),
    "ing_rdf_synth" -> (ingRdfSynth _),
    "ing_delta"   -> (ingDelta _),
    "ing_delta_asof" -> (ingDeltaAsof _),
    "ing_delta_part" -> (ingDeltaPart _),
    "ing_delta_export" -> (ingDeltaExport _),
    "ing_delta_cm" -> (ingDeltaCm _),
    "ing_delta_ckpt_multi" -> (ingDeltaCkptMulti _),
    "ing_iceberg" -> (ingIceberg _),
    "ing_iceberg_asof" -> (ingIcebergAsof _),
    "ing_iceberg_part" -> (ingIcebergPart _),
    "ing_iceberg_ts" -> (ingIcebergTs _),
    "ing_iceberg_deletes" -> (ingIcebergDeletes _),
    "ing_json_lenient" -> (ingJsonLenient _),
  )

  def oracleSql: Map[String, String] = Map(
    // mirrors ingJsonBad by the GENERATING formula: the line string,
    // its md5, and which doc_ids are malformed are all derivable
    // without a JSON parser — corrupt rows null their parsed fields
    "ing_json_bad" ->
      """WITH l AS (
        |  SELECT doc_id AS src_id, lang,
        |    CASE WHEN doc_id % 7 = 0
        |      THEN '{"doc_id": ' || doc_id || ', '
        |      ELSE '{"doc_id": ' || doc_id || ', "lang": "' || lang || '"}'
        |    END AS line
        |  FROM documents
        |)
        |SELECT src_id, md5(line) AS line_md5,
        |  CASE WHEN src_id % 7 = 0 THEN NULL ELSE src_id END AS parsed_doc_id,
        |  CASE WHEN src_id % 7 = 0 THEN NULL ELSE lang END AS parsed_lang,
        |  (src_id % 7 = 0)::int AS is_corrupt
        |FROM l""".stripMargin,
    // mirrors ingCsvBad by the generating formula: the typed field
    // survives on corrupt rows (field-wise recovery), the untypeable
    // one nulls, the raw-line md5 is the audit key
    "ing_csv_bad" ->
      """WITH l AS (
        |  SELECT doc_id AS src_id, n_chars,
        |    CASE WHEN doc_id % 6 = 0
        |      THEN doc_id || ',xx'
        |      ELSE doc_id || ',' || n_chars
        |    END AS line
        |  FROM documents
        |)
        |SELECT src_id, md5(line) AS line_md5,
        |  src_id AS parsed_doc_id,
        |  CASE WHEN src_id % 6 = 0 THEN NULL ELSE n_chars END::bigint AS parsed_n,
        |  (src_id % 6 = 0)::int AS is_corrupt
        |FROM l""".stripMargin,

    "ing_csv"  -> "SELECT * FROM nation",

    // A16: the surviving rows — everything except the clobbered
    // part=1 slice
    "ing_corrupt_files" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |WHERE n_nationkey % 3 <> 1""".stripMargin,

    // A15: the evolved union the mergeSchema read must produce —
    // vintage-1 rows null the late column
    "ing_merge_schema" ->
      """SELECT n_nationkey, n_name, NULL::int AS n_regionkey, 1 AS vintage
        |FROM nation WHERE n_nationkey % 2 = 0
        |UNION ALL
        |SELECT n_nationkey, n_name, n_regionkey, 2
        |FROM nation WHERE n_nationkey % 2 = 1""".stripMargin,
    "ing_fixed_width" -> "SELECT * FROM nation",
    // A23: the nest→JSONL→unnest round trip must reproduce the child
    // projection exactly (array order pinned by sort_array)
    "ing_nested" ->
      "SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM lineitem",
    "ing_tsv"  -> "SELECT * FROM supplier",
    "ing_json" -> "SELECT * FROM region",
    "ing_xml"  -> "SELECT * FROM region",
    "ing_batches" ->
      """SELECT doc_id // 100 AS batch_id,
        |  '[' || string_agg(to_json(struct_pack(doc_id := doc_id, lang := lang,
        |       source := source, n_chars := n_chars)), ',' ORDER BY doc_id) || ']' AS batch_json,
        |  count(*) AS n_records
        |FROM documents GROUP BY 1""".stripMargin,
    "ing_union" ->
      """SELECT n_name AS name, n_nationkey::varchar AS key, '' AS rkey FROM nation
        |UNION ALL
        |SELECT r_name, '', r_regionkey::varchar FROM region""".stripMargin,
    "ing_parquet" -> "SELECT * FROM nation",
    // A24: the log replay is value-oracled by the slice predicates —
    // HEAD = commit 1 applied (slice B removed, slice C added)
    "ing_delta" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey % 3 <> 1""".stripMargin,
    // … and AS OF 0 = before commit 1 (slices A and B only)
    "ing_delta_asof" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey % 3 <= 1""".stripMargin,
    // A24 partitioned: bucket3 exists only in the log's
    // partitionValues — the read reconstructs it typed
    "ing_delta_part" ->
      """SELECT o_orderkey, o_totalprice,
        |  (o_orderkey % 3)::varchar AS bucket3 FROM orders""".stripMargin,
    // K65: the exported Delta log over the store's nation snapshot
    // reads back bit-identically
    "ing_delta_export" -> "SELECT * FROM nation",
    // A26: column-mapping name mode — physical parquet names in,
    // logical schema out, all rows
    "ing_delta_cm" ->
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders",
    // A24 multi-part checkpoint: same live set as ing_delta (A + C),
    // but replayed through a two-part checkpoint base
    "ing_delta_ckpt_multi" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey % 3 <> 1""".stripMargin,
    // A25 identity-partition pruning: manifest tuples keep ONLY the
    // bucket3=1 files, and the bucket-pure layout value-oracles it
    "ing_iceberg_part" ->
      """SELECT o_orderkey, o_totalprice,
        |  (o_orderkey % 3)::int AS bucket3 FROM orders
        |WHERE o_orderkey % 3 = 1""".stripMargin,
    // A25 timestamp travel: t=1500 resolves snapshot 1 (A and B)
    "ing_iceberg_ts" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey % 3 <= 1""".stripMargin,
    // A28: v2 positional deletes drop exactly the %3==1 positions
    "ing_iceberg_deletes" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey % 3 <> 1""".stripMargin,
    // A29: trailing-comma JSON array round-trips the documents rows
    "ing_json_lenient" ->
      """SELECT doc_id, lang, md5(text) AS text_md5 FROM documents""",
    // A25: the Iceberg manifest replay, same slice predicates —
    // current snapshot = EXISTING A + DELETED B + ADDED C
    "ing_iceberg" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey % 3 <> 1""".stripMargin,
    "ing_iceberg_asof" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey % 3 <= 1""".stripMargin,
    "ing_orc" ->
      """SELECT c_custkey, c_name, c_nationkey, c_mktsegment
        |FROM customer WHERE c_mktsegment = 'BUILDING'""".stripMargin,
    // the gzip JSONL lines round-trip the documents rows byte-exactly
    "ing_gzip" ->
      """SELECT doc_id, lang, md5(text) AS text_md5 FROM documents""",
    "ing_lz4" ->
      """SELECT doc_id, lang, md5(text) AS text_md5 FROM documents""",
    // mirrors ingWarc by the generating formulas; payload_md5 rebuilds
    // the same md5 the record slice must land on
    "ing_warc" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 9 = 0 THEN 0 ELSE 1 END AS valid_warc,
        |  CASE WHEN doc_id % 9 = 0 THEN NULL ELSE '1.0' END AS warc_version,
        |  CASE WHEN doc_id % 9 = 0 THEN NULL
        |       ELSE CASE doc_id % 3 WHEN 0 THEN 'response'
        |            WHEN 1 THEN 'request' ELSE 'warcinfo' END END AS warc_type,
        |  CASE WHEN doc_id % 9 = 0 OR doc_id % 3 = 2 THEN NULL
        |       ELSE 'http://corpus.local/doc/' || doc_id END AS target_uri,
        |  CASE WHEN doc_id % 9 = 0 THEN NULL
        |       WHEN doc_id % 5 = 0 THEN length(text) + 50
        |       ELSE length(text) END::bigint AS content_length,
        |  CASE WHEN doc_id % 9 = 0 OR doc_id % 5 = 0 THEN NULL
        |       ELSE md5(text) END AS payload_md5,
        |  CASE WHEN doc_id % 9 = 0 THEN NULL
        |       WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END::int AS truncated
        |FROM documents""".stripMargin,

    // A18→G24→E1: the WET composition recomputed from the generating
    // text — the Spark side runs everything on the SLICED payload, so
    // any boundary-arithmetic error mismatches every column here
    "ing_warc_corpus" ->
      s"""WITH wet AS (
         |  SELECT doc_id, 'http://corpus.local/doc/' || doc_id AS target_uri,
         |    md5(text) AS payload_md5, text
         |  FROM documents
         |  WHERE doc_id % 3 = 0 AND doc_id % 9 <> 0 AND doc_id % 5 <> 0
         |), q AS (
         |  SELECT doc_id, target_uri, payload_md5,
         |    ${graft.text.TextQueries.toksSql} AS toks, text
         |  FROM wet
         |), m AS (
         |  SELECT doc_id, target_uri, payload_md5,
         |    length(toks) AS n,
         |    length(regexp_replace(text, '\\s+', '', 'g')) AS nonws,
         |    length(regexp_extract_all(text, '#|\\.\\.\\.')) AS n_sym,
         |    length(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]'))) AS n_alpha,
         |    ${graft.text.TextQueries.countInSql("toks", graft.text.TextQueries.GopherStops)} AS stops
         |  FROM q
         |), g AS (
         |  SELECT doc_id, target_uri, payload_md5, n AS n_words,
         |    stops AS stop_hits,
         |    CAST((n BETWEEN 50 AND 100000) AND (nonws BETWEEN 3*n AND 10*n)
         |      AND n_sym*10 <= n AND n_alpha*5 >= n*4 AND stops >= 2 AS INT)
         |      AS gopher_keep
         |  FROM m
         |), h AS (
         |  SELECT doc_id, md5(regexp_replace(trim(text), ' +', ' ', 'g')) AS h
         |  FROM wet
         |), f AS (
         |  SELECT doc_id, min(doc_id) OVER (PARTITION BY h) AS canonical_id,
         |    (doc_id <> min(doc_id) OVER (PARTITION BY h))::int AS is_dup
         |  FROM h
         |)
         |SELECT g.doc_id, g.target_uri, g.payload_md5, g.n_words, g.stop_hits,
         |  g.gopher_keep, f.canonical_id, f.is_dup,
         |  CAST(g.gopher_keep = 1 AND f.is_dup = 0 AS INT) AS corpus_keep
         |FROM g JOIN f ON g.doc_id = f.doc_id""".stripMargin,

    // A22: the fetch-gated corpus — the canonical URL, robots verdict,
    // Gopher flag and content fingerprint are all re-derived from the
    // GENERATING FORMULAS (the canonical form is written down directly:
    // lowercased scheme/host, port and fragment dropped, utm params
    // filtered and the survivors sorted to 'a=1&z=2'; the REP verdict
    // folds the literal rule lists), so the Spark side's full rule
    // chain is value-checked against first principles
    "ing_corpus_gate" ->
      s"""WITH wet AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE doc_id % 3 = 0 AND doc_id % 9 <> 0 AND doc_id % 5 <> 0
         |), c AS (
         |  SELECT doc_id, text, (doc_id % 7) AS site,
         |    CASE doc_id % 4
         |      WHEN 0 THEN '/private/doc' || (doc_id % 36)
         |      WHEN 1 THEN '/private/pub/doc' || (doc_id % 36)
         |      WHEN 2 THEN '/s' || (doc_id % 7) || '/x' || (doc_id % 36)
         |      ELSE '/public/doc' || (doc_id % 36) END AS path,
         |    (CASE WHEN doc_id % 4 < 2 THEN 'http' ELSE 'https' END)
         |      || '://www.site' || (doc_id % 7) || '.example.com' AS base
         |  FROM wet
         |), r AS (
         |  SELECT doc_id, text, base || path || '?a=1&z=2' AS canonical,
         |    coalesce(list_max(list_transform(list_filter(
         |      ['/private/pub'], x -> starts_with(path, x)),
         |      x -> length(x))), -1) AS la,
         |    coalesce(list_max(list_transform(list_filter(
         |      ['/private', '/tmp/', '/s' || site], x -> starts_with(path, x)),
         |      x -> length(x))), -1) AS ld
         |  FROM c
         |), g0 AS (
         |  SELECT doc_id, ${graft.text.TextQueries.toksSql} AS toks, text
         |  FROM wet
         |), m AS (
         |  SELECT doc_id, length(toks) AS n,
         |    length(regexp_replace(text, '\\s+', '', 'g')) AS nonws,
         |    length(regexp_extract_all(text, '#|\\.\\.\\.')) AS n_sym,
         |    length(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]'))) AS n_alpha,
         |    ${graft.text.TextQueries.countInSql("toks", graft.text.TextQueries.GopherStops)} AS stops
         |  FROM g0
         |), g AS (
         |  SELECT doc_id,
         |    CAST((n BETWEEN 50 AND 100000) AND (nonws BETWEEN 3*n AND 10*n)
         |      AND n_sym*10 <= n AND n_alpha*5 >= n*4 AND stops >= 2 AS INT)
         |      AS gopher_keep
         |  FROM m
         |), h AS (
         |  SELECT doc_id, md5(regexp_replace(trim(text), ' +', ' ', 'g')) AS h
         |  FROM wet
         |), f AS (
         |  SELECT doc_id,
         |    (doc_id <> min(doc_id) OVER (PARTITION BY h))::int AS is_dup
         |  FROM h
         |), u AS (
         |  SELECT doc_id, canonical,
         |    (la >= ld)::int AS allowed,
         |    (doc_id = min(doc_id) OVER (PARTITION BY canonical))::int
         |      AS url_unique
         |  FROM r
         |)
         |SELECT u.doc_id, u.canonical, u.allowed, u.url_unique,
         |  g.gopher_keep, f.is_dup,
         |  CAST(u.allowed = 1 AND u.url_unique = 1 AND g.gopher_keep = 1
         |    AND f.is_dup = 0 AS INT) AS corpus_keep
         |FROM u JOIN g ON u.doc_id = g.doc_id JOIN f ON u.doc_id = f.doc_id""".stripMargin,

    // K53: rows from the OPTIMIZED table re-derived from the orders
    // formulas; z re-spelled as independent DuckDB bit arithmetic
    "ing_zorder" ->
      s"""SELECT o_orderkey,
         |  (o_custkey % 256)::bigint AS a,
         |  (o_orderkey % 256)::bigint AS b,
         |  (${spreadSql("o_custkey % 256")}
         |    | (${spreadSql("o_orderkey % 256")} << 1))::bigint AS zval
         |FROM orders""".stripMargin,

    // K45: the AS-OF read at v0's own commit instant must see exactly
    // the v0 generating filter
    "ing_asof" ->
      """SELECT 0::bigint AS version,
        |  count(*)::bigint AS n_rows,
        |  sum(CAST(round(o_totalprice * 100) AS BIGINT))::bigint AS sum_price_c
        |FROM orders WHERE o_orderkey % 5 <> 4""".stripMargin,

    // A20: rebuild body+path, same multiline extraction, same
    // longest-prefix fold with Allow winning ties (REP semantics)
    "ing_robots" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    'User-agent: *' || chr(10) ||
        |    'Disallow: /private' || chr(10) ||
        |    'Allow: /private/pub' || chr(10) ||
        |    'Disallow: /tmp/' || chr(10) ||
        |    'Disallow: /s' || (doc_id % 7) || chr(10) AS robots,
        |    CASE doc_id % 4
        |      WHEN 0 THEN '/private/doc' || doc_id
        |      WHEN 1 THEN '/private/pub/doc' || doc_id
        |      WHEN 2 THEN '/s' || (doc_id % 7) || '/x'
        |      ELSE '/public/doc' || doc_id END AS path
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, path,
        |    regexp_extract_all(robots, '(?m)^Allow: ([^\n]+)$', 1) AS allows,
        |    regexp_extract_all(robots, '(?m)^Disallow: ([^\n]+)$', 1) AS disallows
        |  FROM f
        |), m AS (
        |  SELECT doc_id, path,
        |    length(allows)::int AS n_allow,
        |    length(disallows)::int AS n_disallow,
        |    coalesce(list_max(list_transform(
        |      list_filter(allows, x -> starts_with(path, x)),
        |      x -> length(x))), -1)::int AS longest_allow,
        |    coalesce(list_max(list_transform(
        |      list_filter(disallows, x -> starts_with(path, x)),
        |      x -> length(x))), -1)::int AS longest_disallow
        |  FROM r
        |)
        |SELECT doc_id, path, n_allow, n_disallow,
        |  longest_allow, longest_disallow,
        |  (longest_allow >= longest_disallow)::int AS allowed
        |FROM m""".stripMargin,

    // A21: rebuild the same messy URL, canonicalize with the identical
    // rule chain (lowercase scheme/host, default-port strip, fragment
    // drop, utm_* filter, param sort)
    "ing_url_canon" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    (CASE doc_id % 4 WHEN 0 THEN 'HTTP' WHEN 1 THEN 'http'
        |          WHEN 2 THEN 'HTTPS' ELSE 'https' END)
        |    || '://WWW.Site' || (doc_id % 7) || '.Example.COM'
        |    || (CASE WHEN doc_id % 2 = 0
        |             THEN (CASE WHEN doc_id % 4 < 2 THEN ':80' ELSE ':443' END)
        |             ELSE '' END)
        |    || '/Path/' || doc_id
        |    || '?utm_source=feed&z=2'
        |    || (CASE WHEN doc_id % 5 = 0 THEN '&b=3' ELSE '' END)
        |    || '&a=1&utm_medium=x'
        |    || (CASE WHEN doc_id % 3 = 0 THEN '#sec' ELSE '' END) AS url
        |  FROM documents
        |), p2 AS (
        |  SELECT doc_id, url,
        |    regexp_extract(regexp_replace(url, '#.*$', ''), '\?(.*)$', 1) AS q,
        |    regexp_replace(regexp_replace(url, '#.*$', ''), '\?.*$', '') AS base
        |  FROM u
        |), p3 AS (
        |  SELECT doc_id, url, q,
        |    lower(regexp_extract(base, '^([A-Za-z]+)://', 1)) AS scheme,
        |    lower(regexp_extract(base, '^[A-Za-z]+://([^/]*)', 1)) AS hostport,
        |    regexp_extract(base, '^[A-Za-z]+://[^/]*(/.*)?$', 1) AS path
        |  FROM p2
        |), p4 AS (
        |  SELECT doc_id, url, scheme, path,
        |    CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |         WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |         ELSE hostport END AS host,
        |    array_to_string(list_sort(list_filter(string_split(q, '&'),
        |      p -> NOT starts_with(p, 'utm_') AND p <> '')), '&') AS params
        |  FROM p3
        |)
        |SELECT doc_id, url,
        |  scheme || '://' || host
        |    || (CASE WHEN path = '' THEN '/' ELSE path END)
        |    || (CASE WHEN params = '' THEN '' ELSE '?' || params END) AS canonical,
        |  regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain
        |FROM p4""".stripMargin,

    // K49/K50: all three versions re-derived from the generating
    // formulas (threshold delete, lowest-surviving-key +777 update,
    // max+1 insert) — COW semantics value-checked end to end
    "ing_cow" ->
      """WITH base AS (
        |  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |  FROM orders
        |), b AS (
        |  SELECT min(o_orderkey) + (max(o_orderkey) - min(o_orderkey)) // 4 AS thresh,
        |         max(o_orderkey) AS mx
        |  FROM base
        |), v1 AS (
        |  SELECT o_orderkey, price_c FROM base, b WHERE o_orderkey >= thresh
        |), mk AS (SELECT min(o_orderkey) AS m FROM v1),
        |v2 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey = (SELECT m FROM mk) THEN price_c + 777
        |         ELSE price_c END AS price_c
        |  FROM v1
        |  UNION ALL
        |  SELECT (SELECT mx FROM b) + 1, 123
        |)
        |SELECT 0::bigint AS version, count(*)::bigint AS n_rows,
        |  sum(price_c)::bigint AS sum_price_c FROM base
        |UNION ALL
        |SELECT 1::bigint, count(*)::bigint, sum(price_c)::bigint FROM v1
        |UNION ALL
        |SELECT 2::bigint, count(*)::bigint, sum(price_c)::bigint FROM v2""".stripMargin,

    // K33: footer-derived counts must equal the generating filters
    "ing_fastcount" ->
      """SELECT 0::bigint AS version,
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 5 <> 4) AS n_rows
        |UNION ALL
        |SELECT 1,
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 7 <> 1)""".stripMargin,
    // independent derivation: the files' bytes ARE the documents' UTF-8
    // text, so length and md5 re-derive from the source table
    "ing_binary" ->
      """SELECT doc_id, octet_length(text::BLOB) AS byte_len,
        |  md5(text) AS content_md5
        |FROM documents""".stripMargin,
    // the pruned zone-map read must equal the plain filtered aggregate
    "ing_zonemap" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |  sum(l_quantity) AS sum_qty,
        |  sum(l_extendedprice) AS sum_price
        |FROM lineitem
        |WHERE l_shipdate >= '1995-01-01' AND l_shipdate <= '1995-12-31'
        |GROUP BY 1""".stripMargin,
    "ing_snapshot_index" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |  sum(l_quantity) AS sum_qty,
        |  sum(l_extendedprice) AS sum_price
        |FROM lineitem
        |WHERE l_shipdate >= '1996-01-01' AND l_shipdate <= '1996-12-31'
        |GROUP BY 1""".stripMargin,
    "ing_dpp" ->
      """WITH m AS (
        |  SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS ship_month
        |  FROM orders
        |  WHERE year(o_orderdate) = 1996 AND o_orderpriority = '1-URGENT'
        |)
        |SELECT l_returnflag, count(*) AS n_rows, sum(l_quantity) AS sum_qty
        |FROM lineitem JOIN m ON strftime(l_shipdate, '%Y-%m') = m.ship_month
        |GROUP BY 1""".stripMargin,
    // mirrors ingSnapshotDiff's generating formula: v0 = keep %5≠4,
    // v1 = keep %7≠1 with +100 cents on %3=0; insert/delete/update
    // membership and images all derive from the moduli
    "ing_snapshot_diff" ->
      """WITH o AS (
        |  SELECT o_orderkey, round(o_totalprice * 100)::bigint AS price_c,
        |    o_orderstatus, o_orderpriority,
        |    round(o_totalprice * 100)::bigint
        |      + CASE WHEN o_orderkey % 3 = 0 THEN 100 ELSE 0 END AS new_price
        |  FROM orders
        |)
        |SELECT 'insert' AS op, o_orderkey, new_price AS price_c,
        |  o_orderstatus, o_orderpriority
        |FROM o WHERE o_orderkey % 5 = 4 AND o_orderkey % 7 <> 1
        |UNION ALL
        |SELECT 'delete', o_orderkey, price_c, o_orderstatus, o_orderpriority
        |FROM o WHERE o_orderkey % 7 = 1 AND o_orderkey % 5 <> 4
        |UNION ALL
        |SELECT 'update', o_orderkey, new_price, o_orderstatus, o_orderpriority
        |FROM o WHERE o_orderkey % 5 <> 4 AND o_orderkey % 7 <> 1
        |  AND o_orderkey % 3 = 0""".stripMargin,
    "ing_mv_inc" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |  sum(round(l_quantity * 100)::bigint)::bigint AS sum_qty_c,
        |  sum(round(l_extendedprice * 100)::bigint)::bigint AS sum_price_c
        |FROM lineitem
        |GROUP BY 1, 2""".stripMargin,
    // K58: every refresh must equal the one-shot join of the full bases
    // K62: the three commit shapes and their cumulative stats are
    // fully derivable from the generating filters
    "ing_history" ->
      """WITH c AS (
        |  SELECT
        |    count(*) FILTER (doc_id % 3 = 0)::bigint AS n0,
        |    count(*) FILTER (doc_id % 3 = 1)::bigint AS n1,
        |    count(*) FILTER (doc_id % 3 = 2)::bigint AS n2
        |  FROM documents
        |)
        |SELECT 0::bigint AS version, NULL::bigint AS batch_id,
        |  'checkpoint' AS manifest_kind, 1 AS n_files, n0 AS "rows" FROM c
        |UNION ALL SELECT 1::bigint, NULL::bigint, 'delta', 2, n0 + n1 FROM c
        |UNION ALL SELECT 2::bigint, 7::bigint, 'delta', 3, n0 + n1 + n2 FROM c""".stripMargin,
    "ing_mv_join" ->
      """SELECT o_orderkey AS okey, o_custkey, o_orderpriority,
        |  l_linenumber, l_partkey, round(l_quantity * 100)::bigint AS qty_c
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey""".stripMargin,
    // A5 oracle face: the expected triples of the formula-built RDF
    // documents, straight from the generating arithmetic — prefLabel
    // precedence (subject label = "doc i" despite the coexisting
    // title), kept literals with/without lang, label-map resolution
    // (creator), fragment fallback (sameAs); isShownBy and the
    // hexBinary note contribute NOTHING (the drop rules)
    "ing_rdf_synth" ->
      """SELECT 'doc ' || doc_id AS subject, 'prefLabel' AS xml_label,
        |  'doc ' || doc_id AS object, 'en' AS lang FROM documents
        |UNION ALL
        |SELECT 'doc ' || doc_id, 'note', 'note ' || doc_id, NULL FROM documents
        |UNION ALL
        |SELECT 'doc ' || doc_id, 'creator', 'artist ' || (doc_id % 7), NULL
        |FROM documents
        |UNION ALL
        |SELECT 'doc ' || doc_id, 'sameAs', 'ext' || doc_id, NULL FROM documents""".stripMargin,
    // ing_rdf: intentionally no oracle (not SQL-expressible) → rows-only.
  )
}
