package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import graft.SparkSpec
import graft.kg.{GraphBuilder, LlmChains, Neo4jUpsert}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

class PipelineSpec extends SparkSpec {

  test("end-to-end pipeline builds a KG from the reference data directory") {
    val out = Pipeline.run(spark, kgDataDir)
    // tabular: artists.csv + artists2.csv load; the malformed JSON is skipped
    val records = out.records.count()
    assert(records > 0)
    val triples = out.triples
    assert(triples.count() > 100)
    // one completion per batch of up to 100 records of one partition
    val completions = triples.filter(col("relation") === "mentions").count()
    val perPartition = out.records.select(spark_partition_id().as("p"))
      .groupBy("p").count().collect().map(_.getLong(1))
    val bound = perPartition.map(n => (n + 99) / 100).sum
    assert(completions > 0 && completions <= bound,
      s"$completions completions for $records records (at most $bound)")
    // both sources contribute: stub-LLM triples + RDF triples
    val rels = triples.select("relation").distinct().collect().map(_.getString(0)).toSet
    assert(rels.contains("mentions"), "stub-LLM triples missing")
    assert(rels.exists(Set("same as", "note", "is related to")), s"RDF triples missing: $rels")
    // graph is MERGE-built and joinable
    assert(out.nodes.count() > 0 && out.edges.count() > 0)
    val joined = out.edges.join(out.nodes,
      col("src_label") === col("label") && col("src") === col("name"), "left_anti")
    assert(joined.count() == 0, "every edge source must exist as a node")
    out.unpersist()
  }

  test("Pipeline.run lists its directory through Hadoop: a file: URI gives the plain path's records and triples") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val plain = Pipeline.run(spark, kgDataDir)
    val uri = Pipeline.run(spark, s"file://$kgDataDir")
    assert(rows(uri.records) == rows(plain.records))
    assert(rows(uri.triples) == rows(plain.triples))
    assert(rows(uri.triples).size > 100)
    Seq(plain, uri).foreach(_.unpersist())
  }

  test("Pipeline.run fails naming the directory when it is missing or holds no supported file") {
    val empty = Files.createTempDirectory("pipeline-empty")
    Files.writeString(empty.resolve("notes.txt"), "not an input")
    val missing = empty.resolve("missing").toString
    val e1 = intercept[IllegalArgumentException](Pipeline.run(spark, missing))
    assert(e1.getMessage.contains(s"input directory $missing does not exist"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](Pipeline.run(spark, empty.toString))
    assert(e2.getMessage.contains(s"input directory $empty holds no .csv, .tsv, .json, .xml file"),
      e2.getMessage)
  }

  test("RetryingChain retries transient failures with backoff then succeeds") {
    class Flaky(failures: Int) extends LlmChains.Chain {
      // executor-local state: fails the first `failures` calls
      @transient private var n = 0
      def invoke(ps: Iterator[String]): Iterator[String] = ps.map { p =>
        n += 1
        if (n <= failures) throw new RuntimeException(s"rate limited ($n)")
        s"ok:$p"
      }
    }
    val c = LlmChains.RetryingChain(new Flaky(2), maxAttempts = 3, baseDelayMs = 1)
    assert(c.invoke(Iterator("x")).toSeq == Seq("ok:x"))
    val tooFlaky = LlmChains.RetryingChain(new Flaky(5), maxAttempts = 3, baseDelayMs = 1)
    intercept[RuntimeException] { tooFlaky.invoke(Iterator("x")).toSeq }
  }

  test("RetryingChain lets an interrupt through after one attempt") {
    val attempts = new java.util.concurrent.atomic.AtomicInteger
    val entered = new java.util.concurrent.CountDownLatch(1)
    object Blocking extends LlmChains.Chain {
      def invoke(ps: Iterator[String]): Iterator[String] = ps.map { p =>
        attempts.incrementAndGet()
        entered.countDown()
        Thread.sleep(60000)
        p
      }
    }
    val thrown = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val caller = new Thread(() =>
      try LlmChains.RetryingChain(Blocking, maxAttempts = 3, baseDelayMs = 1).invoke(Iterator("x")).toSeq
      catch { case t: Throwable => thrown.set(t) })
    caller.setDaemon(true)
    caller.start()
    entered.await()
    caller.interrupt()
    caller.join(10000)
    assert(!caller.isAlive, "the interrupted call was retried")
    assert(thrown.get().isInstanceOf[InterruptedException], s"threw ${thrown.get()}")
    assert(attempts.get() == 1)
  }

  test("RetryingChain rejects a non-positive attempt budget at construction") {
    Seq(0, -1).foreach { n =>
      val e = intercept[IllegalArgumentException] {
        LlmChains.RetryingChain(LlmChains.StubChain, maxAttempts = n)
      }
      assert(e.getMessage.contains(s"maxAttempts >= 1, got $n"), e.getMessage)
    }
  }

  test("Pipeline.run extracts through the chain it is given") {
    val out = Pipeline.run(spark, kgDataDir, chain = CountingChain)
    val subjects = out.triples.filter(col("relation") === "counted")
      .select("subject").collect().map(_.getString(0))
    assert(CountingChain.calls.get() > 0, "the chain was never invoked")
    assert(subjects.nonEmpty && subjects.forall(_.startsWith("call ")),
      s"the chain's triples are missing: ${subjects.toSeq}")
    assert(out.triples.filter(col("relation") === "mentions").isEmpty,
      "stub triples leaked in place of the given chain's")
    out.unpersist()
  }

  test("Pipeline.run calls the chain once per prompt across all its outputs") {
    val out = Pipeline.run(spark, kgDataDir, chain = CountingChain)
    try {
      val before = CountingChain.calls.get()
      out.nodes.count()
      out.edges.count()
      GraphBuilder.exportNeo4jBulk(out.triples, Files.createTempDirectory("graft_pipeline").toString)
      Neo4jUpsert.run(Neo4jUpsert.edgeUpsertBatchesBySize(out.edges, 500), DiscardingTransport)
      val calls = CountingChain.calls.get() - before
      // one `counted` triple per completion, i.e. per prompt
      val prompts = out.triples.filter(col("relation") === "counted").count()
      assert(prompts > 0 && calls == prompts, s"$calls chain calls for $prompts prompts")
    } finally out.unpersist()
  }

  test("KgOutputs.unpersist releases the triples cache") {
    val out = Pipeline.run(spark, kgDataDir)
    assert(out.triples.storageLevel == StorageLevel.MEMORY_AND_DISK)
    out.nodes.count()
    out.unpersist()
    assert(out.triples.storageLevel == StorageLevel.NONE)
  }

  test("a second Pipeline.run over changed files reads the new rows, not the first run's cache") {
    // the whole landing directory, and its RDF/XML alone (no chain in the plan)
    Seq[String => Boolean](_ => true, _.endsWith(".xml")).foreach { keep =>
      val dir = Files.createTempDirectory("graft_kgdata")
      Files.list(Path.of(kgDataDir)).filter(f => keep(f.getFileName.toString)).forEach(f =>
        Files.copy(f, dir.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING))
      def labels(out: Pipeline.KgOutputs) =
        out.triples.select("subject").union(out.triples.select("object"))
          .collect().map(_.getString(0)).toSet
      val first = Pipeline.run(spark, dir.toString)
      assert(labels(first).contains("The Port of Saint-Tropez"))
      val xml = dir.resolve("ITA_130_027.xml")
      Files.writeString(xml, Files.readString(xml).replace("Saint-Tropez", "Collioure"))
      val second = Pipeline.run(spark, dir.toString)
      val seen = labels(second)
      assert(seen.contains("The Port of Collioure") && !seen.contains("The Port of Saint-Tropez"),
        s"the second run over $dir read the first run's cached triples")
      Seq(first, second).foreach(_.unpersist())
    }
  }
}

/** Consumes every batch and sends nothing. */
object DiscardingTransport extends Neo4jUpsert.CypherTransport {
  def send(batches: Iterator[(String, String)]): Unit = batches.foreach(_ => ())
}

/** Counts its invocations (local mode: tasks share the driver JVM) and
  * answers every prompt with one `counted` triple. */
object CountingChain extends LlmChains.Chain {
  val calls = new java.util.concurrent.atomic.AtomicInteger
  def invoke(prompts: Iterator[String]): Iterator[String] = prompts.map { _ =>
    val n = calls.incrementAndGet()
    s"""[{"subject":"call $n","subject_type":"call","relation":"counted","object":"batch","object_type":"entity"}]"""
  }
}
