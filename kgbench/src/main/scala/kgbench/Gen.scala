package kgbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.time.LocalDateTime
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator. Everything the program reads is written here
  * from `seed`; the same seed gives byte-identical inputs.
  *
  *  - `tables`: sf-shaped parquet tables (region, nation, customer,
  *    supplier, part, orders, lineitem, documents) with the schemas and
  *    value domains of the project's test data, so every registered query
  *    and its DuckDB oracle run on them unchanged.
  *  - `reference`: the reference-shaped landing directory the paper's
  *    pipeline ingests, written from those tables: quoted-field CSV, TSV,
  *    a whole-file JSON array, one malformed JSON file, and SKOS/DC
  *    RDF/XML with label fallbacks, hexBinary literals and language tags.
  *    It also returns the counts and the RDF triples a correct parser
  *    must produce, for the output checks.
  */
object Gen {

  final case class Scale(customers: Int, suppliers: Int, parts: Int,
      orders: Int, lineitems: Int, documents: Int)

  /** Row counts of the project's sf tables at scale factor `sf`. */
  def scale(sf: Double): Scale = Scale(
    customers = math.max(10, (150000 * sf).toInt),
    suppliers = math.max(5, (10000 * sf).toInt),
    parts = math.max(10, (200000 * sf).toInt),
    orders = math.max(10, (1500000 * sf).toInt),
    lineitems = math.max(10, (6000000 * sf).toInt),
    documents = math.max(50, (5000 * sf).toInt))

  final case class Customer(key: Long, name: String, nation: Int, acctbal: Double,
      segment: String, address: String)
  final case class Supplier(key: Long, name: String, nation: Int, acctbal: Double)
  final case class Part(key: Long, name: String, brand: String, ptype: String,
      size: Int, price: Double)
  final case class Order(key: Long, cust: Long, status: String, total: Double,
      date: LocalDateTime, priority: String)

  final case class Tables(dir: String, customers: Seq[Customer],
      suppliers: Seq[Supplier], parts: Seq[Part], orders: Seq[Order], rows: Long)

  /** One RDF triple as `RdfXml.rdfTriples` emits it. */
  final case class RdfRow(subject: String, xml_label: String, `object`: String, lang: String)

  final case class Reference(dir: String, records: Long, expectedRdf: Seq[RdfRow],
      bytes: Long)

  private val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Adjectives = Seq("blue", "old", "small", "new", "hot", "large", "cold", "red")
  private val Nouns = Seq("widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod")
  private val PartTypes = Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Words = Seq("key", "agg", "row", "scan", "slow", "fast", "table", "value",
    "part", "hash", "a", "merge", "batch", "spark", "the", "line", "sort", "window",
    "data", "column", "join", "small", "customer", "query", "order", "filter", "big",
    "group", "stream", "vector")
  private val Langs = Seq("en", "en", "en", "de", "fr", "es", "zh")
  private val Streets = Seq("Via Roma", "Corso Francia", "Via Po", "Piazza Castello",
    "Via Garibaldi", "Corso Vittorio")
  private val Cities = Seq("Torino", "Milano", "Genova", "Asti")
  private val Notes = Seq("Acquired from a private collection",
    "Restored by the museum workshop", "On loan to a partner institution",
    "Catalogued during the inventory campaign", "Shown in the permanent exhibition")

  private val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)

  private def rng(seed: Long, stream: Int) = new Random(seed * 1000003L + stream)
  private def money(r: Random, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  val AllTables: Set[String] = Set("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents")

  /** Generates the sf tables and writes the `only` ones under `dir` (one
    * parquet directory per table). */
  def tables(spark: SparkSession, dir: String, seed: Long, sc: Scale,
      only: Set[String] = AllTables): Tables = {
    val rc = rng(seed, 1)
    val customers = (0 until sc.customers).map { i =>
      val street = s"${Streets(rc.nextInt(Streets.size))} ${1 + rc.nextInt(99)}"
      // the seed picks which addresses carry a comma, i.e. which CSV
      // fields must be quoted
      val address = if (rc.nextDouble() < 0.3) s"$street, ${Cities(rc.nextInt(Cities.size))}" else street
      Customer(i, f"Customer#$i%09d", rc.nextInt(25), money(rc, -999.99, 9999.99),
        Segments(rc.nextInt(Segments.size)), address)
    }
    val rs = rng(seed, 2)
    val suppliers = (0 until sc.suppliers).map(i =>
      Supplier(i, f"Supplier#$i%09d", rs.nextInt(25), money(rs, -999.99, 9999.99)))
    val rp = rng(seed, 3)
    val parts = (0 until sc.parts).map(i =>
      Part(i, s"${Adjectives(rp.nextInt(8))} ${Nouns(rp.nextInt(8))}",
        s"Brand#${1 + rp.nextInt(25)}", PartTypes(rp.nextInt(PartTypes.size)),
        1 + rp.nextInt(50), 900.0 + (i % 1000) / 10.0))
    val ro = rng(seed, 4)
    val orders = (0 until sc.orders).map(i =>
      Order(i, ro.nextInt(sc.customers), Seq("P", "O", "F")(ro.nextInt(3)),
        money(ro, 1000, 500000), day0.plusDays(ro.nextInt(2403)),
        Priorities(ro.nextInt(Priorities.size))))

    def write(name: String, schema: StructType, rows: => Seq[Row]): Unit =
      if (only(name))
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def schema(fields: (String, DataType)*) =
      StructType(fields.map { case (n, t) => StructField(n, t) })

    write("region", schema("r_regionkey" -> IntegerType, "r_name" -> StringType),
      Regions.zipWithIndex.map { case (n, i) => Row(i, n) })
    write("nation", schema("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    write("customer", schema("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
      customers.map(c => Row(c.key, c.name, c.nation, c.acctbal, c.segment)))
    write("supplier", schema("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      suppliers.map(s => Row(s.key, s.name, s.nation, s.acctbal)))
    write("part", schema("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType, "p_size" -> IntegerType,
      "p_retailprice" -> DoubleType),
      parts.map(p => Row(p.key, p.name, p.brand, p.ptype, p.size, p.price)))
    write("orders", schema("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
      orders.map(o => Row(o.key, o.cust, o.status, o.total, o.date, o.priority)))
    val rl = rng(seed, 5)
    write("lineitem", schema("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
      (0 until sc.lineitems).map { _ =>
        val o = orders(rl.nextInt(orders.size))
        Row(o.key, rl.nextInt(sc.parts).toLong, rl.nextInt(sc.suppliers).toLong,
          1 + rl.nextInt(7), (1 + rl.nextInt(50)).toDouble, money(rl, 900, 105000),
          rl.nextInt(11) / 100.0, rl.nextInt(9) / 100.0, Seq("A", "N", "R")(rl.nextInt(3)),
          Seq("O", "F")(rl.nextInt(2)), o.date.plusDays(1 + rl.nextInt(120)))
      })
    val rd = rng(seed, 6)
    write("documents", schema("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
      (0 until sc.documents).map { i =>
        val text = Seq.fill(20 + rd.nextInt(60))(Words(rd.nextInt(Words.size))).mkString(" ")
        Row(i.toLong, text, Langs(rd.nextInt(Langs.size)), s"src${rd.nextInt(20)}",
          text.length.toLong)
      })
    val rows = 5L + 25 + sc.customers + sc.suppliers + sc.parts + sc.orders +
      sc.lineitems + sc.documents
    Tables(dir, customers, suppliers, parts, orders, rows)
  }

  private def writeFile(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(UTF_8))
  }

  private val RdfFiles = 4
  private val HexBinary = "http://www.w3.org/2001/XMLSchema#hexBinary"

  /** Writes the reference-shaped landing directory from the tables. */
  def reference(t: Tables, dir: String, seed: Long): Reference = {
    val root = Paths.get(dir)
    def csvField(s: String) = if (s.contains(",")) "\"" + s + "\"" else s
    writeFile(root.resolve("customers.csv"),
      (Seq("c_custkey,c_name,c_nationkey,c_acctbal,c_mktsegment,c_address") ++
        t.customers.map(c => Seq(c.key.toString, c.name, c.nation.toString,
          c.acctbal.toString, c.segment, c.address).map(csvField).mkString(",")))
        .mkString("", "\n", "\n"))
    writeFile(root.resolve("orders.tsv"),
      (Seq("o_orderkey\to_custkey\to_orderstatus\to_totalprice\to_orderdate\to_orderpriority") ++
        t.orders.map(o => Seq(o.key, o.cust, o.status, o.total, o.date.toLocalDate,
          o.priority).mkString("\t"))).mkString("", "\n", "\n"))
    // a whole-file JSON array (one record per element), the shape only a
    // multiLine reader can split
    writeFile(root.resolve("suppliers.json"),
      t.suppliers.map(s =>
        s"""  {"s_suppkey": ${s.key}, "s_name": "${s.name}", "s_nationkey": ${s.nation}, "s_acctbal": ${s.acctbal}}""")
        .mkString("[\n", ",\n", "\n]\n"))
    // a truncated export: the pipeline must skip it, not fail on it
    writeFile(root.resolve("collection_partial.json"),
      """[{"s_suppkey": 1, "s_name": "Supplier#000000001", "s_nat""")

    val expected = mutable.ArrayBuffer.empty[RdfRow]
    val r = rng(seed, 7)
    t.parts.groupBy(p => (p.key % RdfFiles).toInt).toSeq.sortBy(_._1).foreach { case (f, parts) =>
      val fileRows = mutable.LinkedHashSet.empty[RdfRow]
      val body = new StringBuilder
      def brandId(b: String) = "brand_" + b.stripPrefix("Brand#")
      parts.map(_.brand).distinct.sorted.foreach { b =>
        body ++= s"""  <skos:Concept rdf:about="http://example.org/brand/${brandId(b)}">""" +
          s"<skos:prefLabel>$b</skos:prefLabel></skos:Concept>\n"
        fileRows += RdfRow(b, "prefLabel", b, null)
      }
      parts.sortBy(_.key).foreach { p =>
        val frag = s"part_${p.key}"
        val label = s"${p.name} P${p.key}"
        // the element's own xml:lang is inherited by its literals
        val elemLang = if (r.nextDouble() < 0.2) Some("it") else None
        def litLang(own: Option[String]) = own.orElse(elemLang).orNull
        def langAttr(l: Option[String]) = l.map(x => s""" xml:lang="$x"""").getOrElse("")
        val props = new StringBuilder
        // the seed picks the label each subject resolves through:
        // prefLabel, altLabel, rdfs:label, or none (the URI fragment)
        val mode = r.nextDouble()
        val subject =
          if (mode < 0.55) {
            val l = if (r.nextBoolean()) Some(Seq("en", "it")(r.nextInt(2))) else None
            props ++= s"<skos:prefLabel${langAttr(l)}>$label</skos:prefLabel>"
            fileRows += RdfRow(label, "prefLabel", label, litLang(l))
            if (r.nextDouble() < 0.3) {
              val alias = s"${p.name.split(' ')(1)} P${p.key}"
              props ++= s"<skos:altLabel>$alias</skos:altLabel>"
              fileRows += RdfRow(label, "altLabel", alias, litLang(None))
            }
            label
          } else if (mode < 0.70) {
            props ++= s"<skos:altLabel>$label</skos:altLabel>"
            fileRows += RdfRow(label, "altLabel", label, litLang(None))
            label
          } else if (mode < 0.85) {
            props ++= s"<rdfs:label>$label</rdfs:label>"
            label
          } else frag
        props ++= s"""<dc:creator rdf:resource="http://example.org/brand/${brandId(p.brand)}"/>"""
        fileRows += RdfRow(subject, "creator", p.brand, null)
        if (r.nextDouble() < 0.2) {
          // hexBinary literals are dropped by the extractor
          props ++= s"""<skos:note rdf:datatype="$HexBinary">${f"${p.key}%08X"}</skos:note>"""
        } else {
          val l = Seq(Some("it"), Some("en"), Some("fr"), None)(r.nextInt(4))
          val note = Notes(r.nextInt(Notes.size))
          props ++= s"<skos:note${langAttr(l)}>$note</skos:note>"
          fileRows += RdfRow(subject, "note", note, litLang(l))
        }
        body ++= s"""  <skos:Concept rdf:about="http://example.org/part/$frag"${langAttr(elemLang)}>""" +
          props + "</skos:Concept>\n"
      }
      writeFile(root.resolve(s"parts_$f.xml"),
        """<?xml version="1.0" encoding="UTF-8"?>""" + "\n" +
          """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" """ +
          """xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#" """ +
          """xmlns:skos="http://www.w3.org/2004/02/skos/core#" """ +
          """xmlns:dc="http://purl.org/dc/elements/1.1/">""" + "\n" +
          body + "</rdf:RDF>\n")
      expected ++= fileRows
    }
    val bytes = Files.list(root).toArray.map(p => Files.size(p.asInstanceOf[Path])).sum
    Reference(dir, t.customers.size.toLong + t.orders.size + t.suppliers.size,
      expected.toSeq, bytes)
  }
}
