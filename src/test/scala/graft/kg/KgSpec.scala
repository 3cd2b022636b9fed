package graft.kg

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** JVM-static transport sink: task closures are serialized even in
  * local mode, so the recording queue must live in a static object the
  * deserialized closure resolves back to. */
object RecordingTransport extends Neo4jUpsert.CypherTransport {
  val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
  def send(bs: Iterator[(String, String)]): Unit = bs.foreach(got.add)
}

/** Answers each prompt after a seeded random pause of up to 5 ms, so
  * calls finish out of prompt order. */
final case class JitteryChain(seed: Int) extends LlmChains.Chain {
  def invoke(prompts: Iterator[String]): Iterator[String] = prompts.map { p =>
    Thread.sleep(new scala.util.Random(seed ^ p.hashCode).nextInt(6).toLong)
    s"done:$p"
  }
}

/** Records the most calls it has seen running at once (one JVM-static
  * counter: local-mode tasks share it). */
object OverlapProbe extends LlmChains.Chain {
  val running = new java.util.concurrent.atomic.AtomicInteger
  val most = new java.util.concurrent.atomic.AtomicInteger
  def invoke(prompts: Iterator[String]): Iterator[String] = prompts.map { p =>
    most.accumulateAndGet(running.incrementAndGet(), math.max)
    try { Thread.sleep(20); p } finally running.decrementAndGet()
  }
}

/** Shaped like a simulated model: unsynchronized per-instance state and
  * an accumulator. It fails if two threads ever use one copy at once, or
  * if a copy sees a prompt twice. */
final case class CountingCopyChain(done: org.apache.spark.util.LongAccumulator)
    extends LlmChains.Chain {
  @transient private lazy val seen = scala.collection.mutable.HashSet.empty[String]
  @transient private lazy val busy = new java.util.concurrent.atomic.AtomicBoolean
  def invoke(prompts: Iterator[String]): Iterator[String] = prompts.map { p =>
    if (!busy.compareAndSet(false, true)) throw new IllegalStateException("copy shared by two threads")
    try {
      Thread.sleep(1)
      if (!seen.add(p)) throw new IllegalStateException(s"prompt $p sent twice")
      done.add(1)
      p
    } finally busy.set(false)
  }
}

/** Fails on the prompt "boom"; every other call takes 30 s unless
  * interrupted. */
object FailingChain extends LlmChains.Chain {
  def invoke(prompts: Iterator[String]): Iterator[String] = prompts.map { p =>
    if (p == "boom") throw new IllegalStateException("model refused: boom")
    Thread.sleep(30000)
    p
  }
}

/** The graph build as it was before `nodes` read its input in one scan
  * and the bulk export regrouped `edges`: the reference both are
  * checked against. */
object TwoScanGraph {
  import org.apache.spark.sql.DataFrame

  private def nonEmpty(c: String) = col(c).isNotNull && trim(col(c)) =!= ""

  /** Nodes as the union of a filtered scan per endpoint. */
  def nodes(triples: DataFrame): DataFrame = {
    val subj = triples.filter(nonEmpty("subject"))
      .select(Normalize.normalizeLabel(col("subject_type")).as("label"),
        col("subject").as("name"))
    val obj = triples.filter(nonEmpty("object"))
      .select(Normalize.normalizeLabel(col("object_type")).as("label"),
        col("object").as("name"))
    subj.unionAll(obj).distinct()
  }

  /** The bulk export with relationships aggregated from the triples
    * directly, on the endpoints' md5 ids. */
  def exportNeo4jBulk(triples: DataFrame, outDir: String): Unit = {
    val n = nodes(triples)
      .select(md5(concat_ws("|", col("label"), col("name"))).as("id:ID"),
        col("name"), col("label").as(":LABEL"))
    val labelOf = (side: String, typeCol: String) =>
      md5(concat_ws("|", Normalize.normalizeLabel(col(typeCol)), col(side)))
    val e = triples
      .filter(nonEmpty("subject") && nonEmpty("object"))
      .select(labelOf("subject", "subject_type").as(":START_ID"),
        labelOf("object", "object_type").as(":END_ID"),
        Normalize.normalizeRelation(col("relation")).as(":TYPE"))
      .groupBy(":START_ID", ":END_ID", ":TYPE")
      .agg(count(lit(1)).as("weight"))
    def writeGroup(df: DataFrame, sub: String): Unit = {
      df.write.mode("overwrite").option("header", "false").csv(s"$outDir/$sub/data")
      val header = java.nio.file.Path.of(s"$outDir/$sub/header")
      Files.createDirectories(header)
      Files.writeString(header.resolve("part-00000"), df.columns.mkString(",") + "\n")
    }
    writeGroup(n, "nodes")
    writeGroup(e, "relationships")
  }
}

class KgSpec extends SparkSpec {

  private def triplesDf(rows: (String, String, String, String, String)*) = {
    import spark.implicits._
    rows.toDF("subject", "subject_type", "relation", "object", "object_type")
  }

  test("B7 regression: same-named entities of different types stay distinct in edges") {
    val t = triplesDf(
      ("Mole Antonelliana", "museum", "located in", "Torino", "city"),
      ("Palazzo Madama", "museum", "located in", "Torino", "museum"), // a museum ALSO named Torino
    )
    val e = GraphBuilder.edges(t).collect()
    assert(e.length == 2, "distinct dst types must not collapse into one edge")
    assert(e.map(_.getAs[String]("dst_label")).toSet == Set("City", "Museum"))
    // and nodes joinable from edges on (label, name)
    val n = GraphBuilder.nodes(t)
    val joined = GraphBuilder.edges(t).join(n,
      col("dst_label") === col("label") && col("dst") === col("name"))
    assert(joined.count() == 2)
  }

  test("B7 one-sided triples create their single node, no edge") {
    val t = triplesDf(
      ("OnlySubject", "artist", "painted", "", "painting"),
      ("", "artist", "painted", "OnlyObject", "painting"),
    )
    assert(GraphBuilder.edges(t).count() == 0)
    val names = GraphBuilder.nodes(t).collect().map(_.getAs[String]("name")).toSet
    assert(names == Set("OnlySubject", "OnlyObject"))
  }

  test("B8 neo4j bulk export: single header file, headerless parts, md5 ids") {
    val t = triplesDf(
      ("Gauguin", "artist", "painted", "Femmes de Tahiti", "painting"))
    val out = Files.createTempDirectory("graft_neo4j").toString
    GraphBuilder.exportNeo4jBulk(t, out)
    def readDir(sub: String) = {
      val dir = new java.io.File(s"$out/$sub")
      dir.listFiles().filter(_.getName.endsWith(".csv")).flatMap(f =>
        scala.io.Source.fromFile(f).getLines().toSeq)
    }
    val nodeHeader = readDirText(s"$out/nodes/header")
    assert(nodeHeader == Seq("id:ID,name,:LABEL"))
    val relHeader = readDirText(s"$out/relationships/header")
    assert(relHeader == Seq(":START_ID,:END_ID,:TYPE,weight"))
    val nodeData = readDir("nodes/data")
    assert(nodeData.length == 2)
    assert(nodeData.forall(_.matches("[0-9a-f]{32},.*")), s"md5 ids expected: ${nodeData.toSeq}")
    val relData = readDir("relationships/data")
    assert(relData.length == 1 && relData.head.endsWith(",PAINTED,1"))
    // START/END ids resolve to node ids
    val ids = nodeData.map(_.split(",")(0)).toSet
    val Array(s, e, _, _) = relData.head.split(",")
    assert(ids.contains(s) && ids.contains(e))
  }

  /** Every line of a bulk export, per group and part kind. */
  private def exportLines(dir: String): Map[String, Seq[String]] =
    (for (g <- Seq("nodes", "relationships"); k <- Seq("header", "data"))
      yield s"$g/$k" -> readDirText(s"$dir/$g/$k").sorted).toMap

  /** Exports `t` and the reference; returns the export's lines. */
  private def assertExportsLikeReference(t: org.apache.spark.sql.DataFrame): Map[String, Seq[String]] = {
    val (got, want) = (Files.createTempDirectory("graft_neo4j").toString,
      Files.createTempDirectory("graft_neo4j_ref").toString)
    GraphBuilder.exportNeo4jBulk(t, got)
    TwoScanGraph.exportNeo4jBulk(t, want)
    val (g, w) = (exportLines(got), exportLines(want))
    assert(w("nodes/data").nonEmpty && w("relationships/data").nonEmpty)
    g.keys.foreach(k => assert(g(k) == w(k), s"$k differs from the reference"))
    g
  }

  test("B8 neo4j bulk export writes the reference's lines on the pipeline's triples") {
    val out = graft.Pipeline.run(spark, kgDataDir)
    try assertExportsLikeReference(out.triples)
    finally out.unpersist()
  }

  test("B8 neo4j bulk export writes the reference's lines on odd triples") {
    // "c" typed "a|b" and "b|c" typed "a" share the node id md5("A|b|c"),
    // so their edges to "X" merge into one relationship of weight 2
    val t = triplesDf(
      ("c", "a|b", "painted", "X", "artwork"),
      ("b|c", "a", "painted", "X", "artwork"),
      ("Torino", "city", "located in", "Torino", "museum"),
      ("Torino", "museum", "located in", "Torino", "museum"),
      (null, "artist", "painted", "OnlyObject", "painting"),
      ("OnlySubject", "artist", "painted", "", "painting"),
      ("Blank", "artist", "painted", "  ", null),
      ("\t", null, null, "Tab", ""),
      (" padded ", "art_work", "same-as", "X", "artwork"),
    )
    val rels = assertExportsLikeReference(t)("relationships/data")
    assert(rels.exists(_.endsWith(",PAINTED,2")), s"the colliding ids did not merge: $rels")
  }

  private def readDirText(dir: String): Seq[String] = {
    val d = new java.io.File(dir)
    d.listFiles().filter(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
      .toSeq.flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq)
  }

  test("B9 chain runs partition-wise and tolerant parser survives noise") {
    import spark.implicits._
    val prompts = spark.createDataset(Seq("alpha beta", "gamma delta")).repartition(2)
    val out = LlmChains.invokePartitionwise(prompts, LlmChains.StubChain).collect()
    assert(out.length == 2 && out.forall(_.contains("hope this helps!")))
    val parsed = LlmChains.extractFromRecords(prompts, LlmChains.StubChain).collect()
    assert(parsed.map(_.getAs[String]("subject")).toSet == Set("alpha beta", "gamma delta"))
  }

  test("B9 call window: completions come back once each, in prompt order") {
    import spark.implicits._
    val prompts = (0 until 200).map(i => s"prompt $i")
    val one = spark.createDataset(prompts).coalesce(1)
    val out = LlmChains.invokePartitionwise(one, JitteryChain(7)).collect().toSeq
    assert(out == prompts.map(p => s"done:$p"))
  }

  test("B9 call window: calls overlap, at most CallsInFlight at once") {
    import spark.implicits._
    OverlapProbe.most.set(0)
    val one = spark.createDataset((0 until 64).map(_.toString)).coalesce(1)
    assert(LlmChains.invokePartitionwise(one, OverlapProbe).count() == 64)
    val most = OverlapProbe.most.get()
    assert(most >= 2 && most <= LlmChains.CallsInFlight, s"$most calls ran at once")
  }

  test("B9 call window: every slot copy's accumulator updates reach the Spark driver") {
    import spark.implicits._
    val done = spark.sparkContext.longAccumulator("window.done")
    val prompts = spark.createDataset((0 until 150).map(_.toString)).repartition(2)
    assert(LlmChains.invokePartitionwise(prompts, CountingCopyChain(done)).count() == 150)
    assert(done.value == 150)
  }

  test("B9 call window: a failing call fails the job and no pool thread survives") {
    import spark.implicits._
    val prompts = spark.createDataset("boom" +: (1 to 40).map(_.toString)).coalesce(1)
    val e = intercept[Exception] {
      LlmChains.invokePartitionwise(prompts, FailingChain).collect()
    }
    assert(e.getMessage.contains("model refused: boom"), e.getMessage)
    def poolThreads = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName.startsWith("graft-llm-") && t.isAlive)
    val deadline = System.nanoTime() + 5000000000L
    while (poolThreads.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert(poolThreads.isEmpty, s"pool threads alive: $poolThreads")
  }

  test("B2 one-sided triples survive the tolerant parser") {
    import spark.implicits._
    val noisy = Seq(
      """pre [{"subject":null,"subject_type":null,"relation":"r","object":"tail","object_type":"t"}] post""",
      """[{"subject":"head","subject_type":"t","relation":"r","object":null,"object_type":null}]""",
      """no json here at all""",
    ).toDF("value")
    val got = LlmChains.extractTripletRows(noisy, col("value"))
      .select("subject", "object").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set((null, "tail"), ("head", null)))
  }

  test("B10 UNWIND upsert batches reassemble to the edges and reach the transport") {
    import spark.implicits._
    val triples = Seq(
      ("A", "artist", "painted", "X", "artwork"),
      ("A", "artist", "painted", "Y", "artwork"),
      ("B", "museum", "houses", "X", "artwork"),
    ).toDF("subject", "subject_type", "relation", "object", "object_type")
    val edges = GraphBuilder.edges(triples)
    val batches = Neo4jUpsert.edgeUpsertBatches(edges, numBatches = 4)
    // every batch carries the one statement template, and the union of
    // all rows_json rows is exactly the edge set
    assert(batches.select("cypher").distinct().collect()
      .map(_.getString(0)).toSeq == Seq(Neo4jUpsert.EdgeUnwindCypher))
    val rows = batches.select(explode(from_json(col("rows_json"),
        org.apache.spark.sql.types.ArrayType(edges.schema))).as("r"))
      .select("r.*")
    assert(rows.collect().toSet == edges.collect().toSet)
    assert(batches.agg(sum("n_rows")).first().getLong(0) == edges.count())
    // transport: record what foreachPartition ships. The sink is a
    // JVM-static object (task closures are serialized even in local
    // mode, so a test-local queue would be captured by copy); on a
    // cluster the transport would hold a per-partition bolt session.
    RecordingTransport.got.clear()
    Neo4jUpsert.run(batches, RecordingTransport)
    import scala.jdk.CollectionConverters._
    val sent = RecordingTransport.got.asScala.toSeq
    assert(sent.size == batches.count())
    assert(sent.forall(_._1 == Neo4jUpsert.EdgeUnwindCypher))
  }

  test("B24 fixed-SIZE upsert batches: ceil(n/size) batches, every batch within the payload bound, rows conserved") {
    import spark.implicits._
    // 23 distinct edges, batchSize 5 -> exactly ceil(23/5)=5 batches:
    // four full, one of 3 — the bound B10's fixed COUNT cannot give
    val edges = (0 until 23).map(i =>
      ("Artist", s"a$i", "PAINTED", "Artwork", s"x$i", 1L))
      .toDF("src_label", "src", "rel", "dst_label", "dst", "weight")
    val batchSize = 5
    val batches = Neo4jUpsert.edgeUpsertBatchesBySize(edges, batchSize)
      .collect()
    assert(batches.length == (23 + batchSize - 1) / batchSize,
      "batch count must be ceil(n/batchSize)")
    val sizes = batches.map(r =>
      (r.getLong(r.fieldIndex("batch_id")), r.getLong(r.fieldIndex("n_rows")))).toMap
    assert(sizes.values.forall(_ <= batchSize),
      s"a batch exceeded the payload bound: $sizes")
    assert(sizes.values.sum == 23, "rows conserved across batches")
    assert(sizes.keySet == (0 until 5).map(_.toLong).toSet,
      "batch ids are contiguous from 0")
    // the md5-rank assignment is deterministic: a re-run reproduces
    // byte-identical payloads
    val again = Neo4jUpsert.edgeUpsertBatchesBySize(edges, batchSize)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(again == batches.map(r => (r.getLong(0), r.getString(2))).toSet)
    // and growing the corpus grows the batch COUNT, never the bound
    val more = (0 until 64).map(i =>
      ("Artist", s"b$i", "PAINTED", "Artwork", s"y$i", 1L))
      .toDF("src_label", "src", "rel", "dst_label", "dst", "weight")
    val grown = Neo4jUpsert.edgeUpsertBatchesBySize(edges.unionAll(more), batchSize)
    assert(grown.agg(max("n_rows")).first().getLong(0) <= batchSize)
    assert(grown.count() == (87 + batchSize - 1) / batchSize)
  }

  test("A8 partitioned parquet write round-trips with partition pruning") {
    import spark.implicits._
    val df = Seq((1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2")).toDF("id", "v", "pt")
    val out = Files.createTempDirectory("graft_parq").toString + "/t"
    df.write.partitionBy("pt").mode("overwrite").parquet(out)
    val back = spark.read.parquet(out)
    assert(back.count() == 3)
    val pruned = back.filter(col("pt") === "p1")
    assert(pruned.count() == 2)
    assert(new java.io.File(s"$out/pt=p2").isDirectory, "hive-style partition dirs expected")
  }

  test("B12 relation cardinality classifies all four classes") {
    import spark.implicits._
    val e = Seq(
      ("E", "s1", "one2one", "E", "d1"), ("E", "s2", "one2one", "E", "d2"),
      ("E", "s1", "one2many", "E", "d1"), ("E", "s1", "one2many", "E", "d2"),
      ("E", "s1", "many2one", "E", "d1"), ("E", "s2", "many2one", "E", "d1"),
      ("E", "s1", "many2many", "E", "d1"), ("E", "s1", "many2many", "E", "d2"),
      ("E", "s2", "many2many", "E", "d1"))
      .toDF("src_label", "src", "rel", "dst_label", "dst")
    val out = KgQueries.relCardinality(e)
      .select("rel", "cardinality").as[(String, String)].collect().toMap
    assert(out == Map("one2one" -> "1:1", "one2many" -> "1:N",
      "many2one" -> "N:1", "many2many" -> "N:M"))
  }

  test("B11 maxMidDegree cap excludes hub middles; default off is exact") {
    import spark.implicits._
    // quiet middle m1: one r1 in, one r2 out (1 path). Hub middle m2:
    // 3 r1 in × 3 r2 out (9 paths, fan-in+fan-out = 6).
    val e = (Seq(("E", "a0", "r1", "E", "m1"), ("E", "m1", "r2", "E", "b0")) ++
      (1 to 3).map(i => ("E", s"a$i", "r1", "E", "m2")) ++
      (1 to 3).map(i => ("E", "m2", "r2", "E", s"b$i")))
      .toDF("src_label", "src", "rel", "dst_label", "dst")
    val uncapped = KgQueries.kgTwoHopCapped(e, None)
      .as[(String, String, Long, Long)].collect().toSet
    assert(uncapped == Set(("r1", "r2", 10L, 4L))) // 1 + 9 paths, 4 sources
    val capped = KgQueries.kgTwoHopCapped(e, Some(4L))
      .as[(String, String, Long, Long)].collect().toSet
    assert(capped == Set(("r1", "r2", 1L, 1L)),
      s"hub middle m2 (degree 6) must be capped out: $capped")
  }

  test("B14 reciprocity: symmetric pairs count, one-way and cross-type reversals don't") {
    import spark.implicits._
    val e = Seq(
      ("E", "a", "knows", "E", "b"), ("E", "b", "knows", "E", "a"), // reciprocal pair
      ("E", "a", "knows", "E", "c"),                                // one-way
      ("E", "x", "owns", "E", "y"), ("E", "y", "owns", "F", "x"),   // reverse has WRONG type
    ).toDF("src_label", "src", "rel", "dst_label", "dst")
    val out = KgQueries.reciprocity(e).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out("knows") == ((3L, 2L, 0.6667)), s"knows: ${out("knows")}")
    assert(out("owns") == ((2L, 0L, 0.0)),
      s"typed endpoints must block the F-labeled reversal: ${out("owns")}")
  }

  test("B15 type signatures: per-relation endpoint-type shares sum to 1, polluted tail visible") {
    import spark.implicits._
    val e = Seq(
      ("Artist", "a", "painted", "Artwork", "w1"),
      ("Artist", "b", "painted", "Artwork", "w2"),
      ("Artist", "c", "painted", "Artwork", "w3"),
      ("Museum", "m", "painted", "Artwork", "w4"), // the extraction bug
      ("Artist", "a", "bornIn", "City", "p"),
    ).toDF("src_label", "src", "rel", "dst_label", "dst")
    val out = KgQueries.typeSignatures(e).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        ((r.getLong(3), r.getDouble(4)))).toMap
    assert(out(("painted", "Artist", "Artwork")) == ((3L, 0.75)), s"$out")
    assert(out(("painted", "Museum", "Artwork")) == ((1L, 0.25)),
      "the polluted pair must surface with its share")
    assert(out(("bornIn", "Artist", "City")) == ((1L, 1.0)))
  }

  test("B16 schema violations: dominant pair by count then lexicographic tie, deviants counted") {
    import spark.implicits._
    val e = Seq(
      ("Artist", "a", "painted", "Artwork", "w1"),
      ("Artist", "b", "painted", "Artwork", "w2"),
      ("Artist", "c", "painted", "Artwork", "w3"),
      ("Museum", "m", "painted", "Artwork", "w4"), // the extraction bug
      ("Artist", "a", "bornIn", "City", "p"),      // clean relation
      ("Artist", "x", "tied", "City", "c1"),       // 1-1 tie: lexicographic
      ("Museum", "y", "tied", "City", "c2"),       //   dominant is Artist
    ).toDF("src_label", "src", "rel", "dst_label", "dst")
    val out = KgQueries.schemaViolations(e).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getString(2), r.getString(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))).toMap
    assert(out("painted") == ((4L, "Artist", "Artwork", 3L, 1L, 0.25)), s"$out")
    assert(out("bornIn") == ((1L, "Artist", "City", 1L, 0L, 0.0)),
      "a clean relation reports zero violations")
    assert(out("tied") == ((2L, "Artist", "City", 1L, 1L, 0.5)),
      "equal-count tie must resolve to the lexicographic pair")
  }

  test("B13 entity resolution: spelled variants pair and cluster, labels block, dissimilar names don't") {
    import spark.implicits._
    val nodes = Seq(
      ("Artist", "Pablo Picasso"),
      ("Artist", "Pablo  Picaso"),      // typo + double space variant
      ("Artist", "Claude Monet"),
      ("Museum", "National Gallery"),
      ("Museum", "The National Gallery"), // full-name variant
      ("City",   "National Gallery"),    // same NAME, different label
    ).toDF("label", "name")
    val pairs = EntityResolution.resolutionPairs(nodes, Seq("Artist", "Museum"))
      .select("label", "name_a", "name_b").as[(String, String, String)]
      .collect().toSet
    assert(pairs.contains(("Artist", "Pablo  Picaso", "Pablo Picasso")),
      s"variant pair must survive banding+verification: $pairs")
    assert(pairs.contains(("Museum", "National Gallery", "The National Gallery")),
      s"museum full-name variant must pair: $pairs")
    // label blocking: the City homonym is out of scope AND could never
    // collide with the Museum (label rides in the bucket hash)
    assert(!pairs.exists(p => p._1 == "City"), s"City label excluded: $pairs")
    assert(!pairs.exists(p => p._2 == "Claude Monet" || p._3 == "Claude Monet"),
      s"dissimilar name must not pair: $pairs")
    val clusters = EntityResolution.resolutionClusters(nodes, Seq("Artist", "Museum"))
      .as[(String, String, String, Int)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(clusters(("Artist", "Pablo Picasso")) == (("Pablo  Picaso", 0)) ||
      clusters(("Artist", "Pablo Picasso"))._1 == clusters(("Artist", "Pablo  Picaso"))._1,
      s"variants share one canonical name: $clusters")
    assert(clusters(("Artist", "Claude Monet")) == (("Claude Monet", 1)),
      "singleton keeps its own name as canonical")
    val canonMuseum = clusters(("Museum", "National Gallery"))._1
    assert(canonMuseum == clusters(("Museum", "The National Gallery"))._1,
      s"museum variants merge: $clusters")
  }
}
