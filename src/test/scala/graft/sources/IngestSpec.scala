package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

class IngestSpec extends SparkSpec {

  test("A5 RDF/XML extractor: KEEP filter, label resolution, lang, dedup") {
    val df = RdfXml.rdfTriples(spark, s"$kgDataDir/FRA_280_003.xml").cache()
    val rows = df.collect()
    assert(rows.nonEmpty)
    // only KEEP predicates survive
    val preds = rows.map(_.getAs[String]("xml_label")).toSet
    assert(preds.subsetOf(RdfXml.keepPredicates), s"unexpected predicates: $preds")
    // label resolution: the viaf Agent resolves to its first prefLabel,
    // and its wikidata sameAs object falls back to the URI fragment
    assert(rows.exists(r =>
      r.getAs[String]("subject") == "Paul Gauguin" &&
        r.getAs[String]("xml_label") == "sameAs" &&
        r.getAs[String]("object") == "Q37693"))
    // notes carry language tags
    assert(rows.exists(r =>
      r.getAs[String]("xml_label") == "note" && r.getAs[String]("lang") != null))
    // per-file dedup
    assert(df.count() == df.distinct().count())
    // no hexBinary payloads leaked anywhere
    assert(!rows.exists(_.getAs[String]("object").startsWith("#")))
    df.unpersist()
  }

  test("A1/A3/A29 reference data-file parity: the reference's own CSV and JSON samples load with the reference loader's row counts and shapes") {
    // artists.csv — 60 data rows under the header (pandas
    // read_csv dtype=str parity incl. the quoting rules)
    val a1 = Sources.csv(spark, s"$kgDataDir/artists.csv")
    assert(a1.count() == 60L, "pandas reads 60 artists")
    assert(a1.columns.toSeq == Seq("Artist ID", "Name", "Nationality",
      "Gender", "Birth Year", "Death Year"))
    assert(a1.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.StringType), "string-typed like dtype=str")
    // artists2.csv — 12 rows with heavily quoted/comma-laden bios
    val a2 = Sources.csv(spark, s"$kgDataDir/artists2.csv")
    assert(a2.count() == 12L, "pandas reads 12 artists2 rows")
    assert(a2.columns.length == 8)
    // COLLEZIONI_PALAZZO_MADAMA.json — a JSON ARRAY with TRAILING
    // COMMAS after every object's last field: the reference's pandas
    // loader accepts it (5 records), strict Jackson refuses; the
    // lenient reader is the parity face
    val schema = org.apache.spark.sql.types.StructType(
      Seq("Inventario", "Autore", "Ambito culturale", "Datazione",
        "Titolo-soggetto", "Materiali", "Immagine", "lsreferenceby")
        .map(n => org.apache.spark.sql.types.StructField(n,
          org.apache.spark.sql.types.StringType)))
    val j = Sources.jsonArrayLenient(spark,
      s"$kgDataDir/COLLEZIONI_PALAZZO_MADAMA.json", schema)
    val rows = j.collect()
    assert(rows.length == 5, s"pandas reads 5 records, got ${rows.length}")
    assert(rows.head.getAs[String]("Inventario") == "1110/B")
    assert(rows.forall(_.getAs[String]("Inventario") != null),
      "every record must parse — a failed lenient pass yields nulls")
    // and the strict reader really does fail on this file (the gap
    // the lenient face exists to close): PERMISSIVE mode yields no
    // parsed Inventario values
    val strict = Sources.json(spark,
      s"$kgDataDir/COLLEZIONI_PALAZZO_MADAMA.json",
      multiLine = true, schema = Some(schema))
    assert(strict.filter(col("Inventario").isNotNull).count() == 0L,
      "strict Jackson must NOT parse the trailing-comma file — if it " +
        "does, the lenient face is dead code")
  }

  test("A5 all reference samples parse with nonzero triples") {
    val df = RdfXml.rdfTriples(spark, s"$kgDataDir/*.xml")
    val bySrc = df.count()
    assert(bySrc > 100, s"expected hundreds of triples, got $bySrc")
  }

  test("A5 nested nodes, parseType=Resource, and label chain precedence") {
    val xml =
      """<?xml version="1.0"?>
        |<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:skos="http://www.w3.org/2004/02/skos/core#"
        |         xmlns:dc="http://purl.org/dc/elements/1.1/"
        |         xmlns:edm="http://www.europeana.eu/schemas/edm/">
        |  <edm:Agent rdf:about="http://ex.org/a1">
        |    <skos:altLabel>Alt Name</skos:altLabel>
        |    <dc:title>Title Name</dc:title>
        |    <edm:isRelatedTo rdf:resource="http://ex.org/a2"/>
        |    <dc:creator rdf:parseType="Resource">
        |      <skos:prefLabel>Inline Creator</skos:prefLabel>
        |      <skos:note xml:lang="en">a note</skos:note>
        |    </dc:creator>
        |  </edm:Agent>
        |  <edm:Agent rdf:about="http://ex.org/a2">
        |    <skos:prefLabel>Second Agent</skos:prefLabel>
        |  </edm:Agent>
        |</rdf:RDF>""".stripMargin
    val triples = RdfXml.parseFile(xml)
    // altLabel outranks dc:title in the resolution chain
    assert(triples.exists(t => t.subject == "Alt Name" && t.xml_label == "isRelatedTo"
      && t.`object` == "Second Agent"))
    // parseType=Resource bnode: creator triple resolves to the inline label
    assert(triples.exists(t => t.subject == "Alt Name" && t.xml_label == "creator"
      && t.`object` == "Inline Creator"))
    // the bnode's own note survives with its language
    assert(triples.exists(t => t.subject == "Inline Creator" && t.xml_label == "note"
      && t.`object` == "a note" && t.lang == "en"))
  }

  test("A4 record-oriented XML via native source") {
    val dir = Files.createTempDirectory("graft_xml")
    val f = dir.resolve("recs.xml")
    Files.writeString(f,
      """<catalog>
        |  <record><id>1</id><title>First</title></record>
        |  <record><id>2</id><title>Second</title></record>
        |</catalog>""".stripMargin)
    val df = Sources.xmlRecords(spark, f.toString)
    val got = df.select("id", "title").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "First"), (2L, "Second")))
  }

  test("A6 heterogeneous union: all-string, missing cols filled empty") {
    import spark.implicits._
    val a = Seq((1, "x")).toDF("k", "a_only")
    val b = Seq(("y", 2.5)).toDF("b_only", "k2")
    val u = Sources.unionHeterogeneous(Seq(a, b))
    assert(u.schema.fields.forall(_.dataType.typeName == "string"))
    assert(u.columns.toSet == Set("k", "a_only", "b_only", "k2"))
    val rows = u.collect().map(r => u.columns.map(c => r.getAs[String](c)).toSeq).toSet
    assert(rows == Set(Seq("1", "x", "", ""), Seq("", "", "y", "2.5")))
  }

  test("A7 batches: deterministic ids, ordered records, valid JSON arrays") {
    val docs = graft.Tables.documents(spark, sfDir).select("doc_id", "lang")
    val b = Sources.jsonBatches(docs, "doc_id", 10)
    val rows = b.orderBy("batch_id").collect()
    assert(rows.map(_.getAs[Long]("n_records")).forall(_ <= 10))
    val first = rows.head.getAs[String]("batch_json")
    assert(first.startsWith("[{") && first.endsWith("}]"))
    // doc_ids inside batch 0 are 0..9 in order
    val ids = "\"doc_id\":(\\d+)".r.findAllMatchIn(first).map(_.group(1).toInt).toSeq
    assert(ids == ids.sorted && ids.forall(_ < 10))
  }

  test("A1/A2 CSV and TSV round-trip with quoting") {
    import spark.implicits._
    val df = Seq((1, "has,comma", "plain"), (2, "has\"quote", "x"))
      .toDF("id", "tricky", "plain")
    val p = Files.createTempDirectory("graft_csv").toString
    df.write.mode("overwrite").option("header", "true").csv(p + "/c")
    df.write.mode("overwrite").option("header", "true").option("sep", "\t").csv(p + "/t")
    val backC = Sources.csv(spark, p + "/c", schema = Some(df.schema))
    val backT = Sources.tsv(spark, p + "/t", schema = Some(df.schema))
    assert(backC.collect().toSet == df.collect().toSet)
    assert(backT.collect().toSet == df.collect().toSet)
  }

  test("A3 tolerant JSON ingestion: malformed lines land in _corrupt_record") {
    import org.apache.spark.sql.types._
    val p = Files.createTempDirectory("graft_badjson").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(p, "part.jsonl"),
      ("""{"id": 1, "s": "good"}""" + "\n" +
        """{"id": 2 "s": "missing comma"}""" + "\n" +
        """{"id": 3, "s": "also good"}""" + "\n").getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("s", StringType), StructField("_corrupt_record", StringType)))
    val df = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(p).cache()
    // a 100 TB ingest never dies on one bad line: good rows parse,
    // bad lines are quarantined with their raw text for a dead-letter sink
    assert(df.filter(col("_corrupt_record").isNull).count() == 2)
    val bad = df.filter(col("_corrupt_record").isNotNull).collect()
    assert(bad.length == 1 && bad.head.getAs[String]("_corrupt_record").contains("missing comma"))
    df.unpersist()
  }

  test("A12 tolerant CSV parse recovers well-typed fields of damaged rows") {
    import spark.implicits._
    import org.apache.spark.sql.types.StructType
    val schema = StructType.fromDDL("id BIGINT, n BIGINT, _corrupt_record STRING")
    val opts = Map("mode" -> "PERMISSIVE",
      "columnNameOfCorruptRecord" -> "_corrupt_record")
    val df = Seq("1,10", "2,xx", "3").toDF("line")
      .select(from_csv(col("line"), schema, opts).as("p"))
      .select(col("p.id"), col("p.n"),
        col("p._corrupt_record").isNotNull.cast("int").as("bad"))
      .as[(Option[Long], Option[Long], Int)].collect().toSeq
    // the CSV-vs-JSON contract: a damaged row keeps its well-typed
    // fields (id parses on every row); only the untypeable or missing
    // field nulls, and the raw line is quarantined
    assert(df(0) == ((Some(1L), Some(10L), 0)))
    assert(df(1) == ((Some(2L), None, 1)), s"typed field survives: ${df(1)}")
    assert(df(2) == ((Some(3L), None, 1)), s"short row quarantined: ${df(2)}")
  }

  test("A8 dynamic partition overwrite rewrites only the touched partitions") {
    import spark.implicits._
    val p = Files.createTempDirectory("graft_dpo").toString
    val old = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      Seq((1L, "2024-01-01", "a"), (2L, "2024-01-02", "b"))
        .toDF("id", "dt", "s").write.partitionBy("dt").mode("overwrite").parquet(p)
      // the daily re-run overwrites ONLY dt=2024-01-02; dt=01 survives —
      // at 100 TB this is the difference between rewriting one day and
      // truncating the whole table
      Seq((3L, "2024-01-02", "b2"))
        .toDF("id", "dt", "s").write.partitionBy("dt").mode("overwrite").parquet(p)
      val got = spark.read.parquet(p).select("id", "dt", "s")
        .as[(Long, String, String)].collect().toSet
      assert(got == Set((1L, "2024-01-01", "a"), (3L, "2024-01-02", "b2")))
    } finally old match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  test("A8 parquet schema evolution: mergeSchema unions old and new columns") {
    import spark.implicits._
    val p = Files.createTempDirectory("graft_evolve").toString
    Seq((1L, "a")).toDF("id", "s").write.mode("append").parquet(p)
    Seq((2L, "b", 9.5)).toDF("id", "s", "score").write.mode("append").parquet(p)
    val merged = spark.read.option("mergeSchema", "true").parquet(p)
    assert(merged.columns.toSet == Set("id", "s", "score"))
    val byId = merged.select("id", "score").as[(Long, Option[Double])]
      .collect().toMap
    assert(byId(1L).isEmpty && byId(2L).contains(9.5))
  }
}
