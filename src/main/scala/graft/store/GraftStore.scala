package graft.store

import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Write-once / query-many persisted-table surface (SURVEY §3).
  *
  * The production split the reference itself uses (ingestion writes to
  * store, GRAPH/LLM stages read — Art-Knowledge-Graph-AWS runs each
  * stage as a separate job over S3): expensive derived tables
  * (signatures, edge lists) are materialized ONCE as bucketed parquet
  * and every downstream query reads the table instead of recomputing
  * the pipeline. Bucketing by the downstream join key makes repeated
  * joins exchange-free (see BucketingSpec / StoreSpec) — the 100 TB
  * answer to "this query family recomputes its upstream 3×".
  *
  * Tables are registered in the session catalog with data under
  * `baseDir` (a per-JVM unique scratch root by default); `ensure`
  * memoizes per (session, name) so concurrent callers build once.
  */
object GraftStore {

  /** Memo value records the build parameters so a name reused with
    * DIFFERENT parameters fails fast instead of silently serving the
    * stale table built with the old ones (r3 advice). */
  private case class Built(buckets: Int, bucketCols: Seq[String], sortCols: Seq[String])
  private val built = TrieMap.empty[(SparkSession, String), Built]

  /** Per-JVM unique scratch root: parallel runs must never collide. */
  private lazy val defaultBase: String =
    s"${System.getProperty("java.io.tmpdir")}/graft_store_${java.util.UUID.randomUUID().toString.take(8)}"

  /** Ensure bucketed table `name` exists in this session's catalog,
    * building it from `df` on first call; returns the table name.
    * `sortCols` default to the bucket columns so bucket-aligned
    * sort-merge joins skip the sort as well as the exchange. */
  def ensureBucketed(spark: SparkSession, name: String, buckets: Int,
      bucketCols: Seq[String], sortCols: Seq[String] = Nil)
      (df: => DataFrame): String = {
    val sort = if (sortCols.nonEmpty) sortCols else bucketCols
    val params = Built(buckets, bucketCols, sort)
    val memo = built.getOrElseUpdate((spark, name), {
      // repartition on the bucket columns FIRST: bucketBy alone writes
      // one file per (input partition × bucket) — a 64-partition build
      // exploded undh2 into 2048 files and every downstream hop join
      // paid 2048 file opens (r16: graph_bfs spent its 3 s there, not
      // in data). Spark's repartition hash IS the bucketing hash
      // (Murmur3 + pmod), so `buckets` shuffle partitions land each
      // bucket in exactly one task → exactly one file per bucket; the
      // one build-time shuffle buys every downstream read.
      df.repartition(buckets, bucketCols.map(org.apache.spark.sql.functions.col): _*)
        .write.mode("overwrite").format("parquet")
        .option("path", s"$defaultBase/$name")
        .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
        .sortBy(sort.head, sort.tail: _*)
        .saveAsTable(name)
      params
    })
    require(memo == params,
      s"table '$name' was built with $memo but requested with $params — " +
        "use a distinct table name per parameterization")
    name
  }

  /** Ensure an UNBUCKETED catalog table `name` (for tiny derived
    * tables — corpus stats rows, dictionaries small enough that bucket
    * layout buys nothing); memoized like [[ensureBucketed]]. */
  def ensurePlain(spark: SparkSession, name: String)(df: => DataFrame): String = {
    val params = Built(0, Nil, Nil)
    val memo = built.getOrElseUpdate((spark, name), {
      df.write.mode("overwrite").format("parquet")
        .option("path", s"$defaultBase/$name")
        .saveAsTable(name)
      params
    })
    require(memo == params,
      s"table '$name' was built bucketed ($memo) but requested plain — " +
        "use a distinct table name per parameterization")
    name
  }

  /** Force-build (or just touch) a set of ensure-thunks, timing them —
    * lets the bench pay the one-time store build OUTSIDE query timings
    * and report it separately. */
  def timeBuild(thunks: Seq[() => Unit]): Double = {
    val t0 = System.nanoTime()
    thunks.foreach(_.apply())
    (System.nanoTime() - t0) / 1e9
  }

  /** [[timeBuild]] with per-thunk labels — the bench reports each
    * family's one-time store-build cost individually, so a build whose
    * cost is data-profile-sensitive (e.g. the containment pair frame)
    * has a PINNED per-round number instead of hiding in the total. */
  def timeBuildLabeled(thunks: Seq[(String, () => Unit)]): (Double, Seq[(String, Double)]) = {
    val per = thunks.map { case (label, t) =>
      val t0 = System.nanoTime()
      t.apply()
      label -> (System.nanoTime() - t0) / 1e9
    }
    (per.map(_._2).sum, per)
  }

  final case class TableStat(name: String, rows: Long, files: Int, bytes: Long)

  /** Store-size LEDGER (r15 verdict #1): per persisted table, the
    * row / file / byte counts — read from parquet FOOTERS only, so
    * this is a metadata job at any scale. The bench commits the
    * ledger next to `builds{}`: when a store-backed query's cost
    * moves round-over-round with an unchanged plan, the committed
    * artifacts now DECIDE data-drift vs code-drift (the r15
    * kg_ranking_eval 2× was undecidable precisely because no store
    * sizes were recorded). */
  def ledger(spark: SparkSession): Seq[TableStat] = {
    import scala.jdk.CollectionConverters._
    val hconf = spark.sparkContext.hadoopConfiguration
    built.keys.collect { case (s, name) if s eq spark => name }.toSeq.sorted.map { name =>
      val p = new org.apache.hadoop.fs.Path(s"$defaultBase/$name")
      val fs = p.getFileSystem(hconf)
      val files = fs.listStatus(p)
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      var rows = 0L
      files.foreach { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, hconf))
        try rows += r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        finally r.close()
      }
      TableStat(name, rows, files.length, files.map(_.getLen).sum)
    }
  }

  /** Catalog-safe suffix for a data directory. */
  def dirKey(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString

  final case class CompactStats(filesBefore: Int, filesAfter: Int,
    bytes: Long, rows: Long)

  /** K10: small-file compaction — rewrite a parquet directory whose
    * file count has drifted (streaming sinks, per-task writers, and
    * incremental appends leave thousands of KB-size files; at 100 TB
    * the scan-planning and open() overhead dominates) into
    * ceil(bytes / targetBytes) files. The file count comes from the
    * ACTUAL on-disk bytes, not a row estimate; content is preserved
    * (same rows, same schema) and the swap is write-aside + rename so
    * a crash mid-compaction leaves the original directory intact.
    * Single-machine rename semantics mirror what an object-store
    * pipeline does with a staging prefix + pointer flip. */
  def compactParquet(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): CompactStats = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(hconf)
    def parquetFiles() = fs.listStatus(p)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val before = parquetFiles()
    val bytes = before.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(path)
    val staged = new org.apache.hadoop.fs.Path(path + "_compacting")
    df.repartition(nOut).write.mode("overwrite").parquet(staged.toString)
    val rows = spark.read.parquet(staged.toString).count()
    val old = new org.apache.hadoop.fs.Path(path + "_precompact")
    fs.rename(p, old)
    fs.rename(staged, p)
    fs.delete(old, true)
    CompactStats(before.length, parquetFiles().length, bytes, rows)
  }

  /** K21: catalog statistics for a store table — runs ANALYZE TABLE
    * (optionally with per-column stats) so the cost-based optimizer
    * plans from ROW COUNTS and NDVs instead of raw file bytes. At
    * 100 TB this is the difference between "the 2 GB compressed side
    * looks too big to broadcast" and a stats-informed plan; column
    * NDV/min/max additionally feed join-reorder and selectivity
    * estimates under spark.sql.cbo.enabled. Store builds are the
    * natural ANALYZE point: write once, analyze once, every
    * downstream query plans with the numbers. */
  def analyze(spark: SparkSession, name: String, cols: Seq[String] = Nil): Unit = {
    val forCols =
      if (cols.isEmpty) "" else s" FOR COLUMNS ${cols.mkString(", ")}"
    spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS$forCols")
    ()
  }
}
