package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetFooter

/** Named-table access over a scale-factor directory of parquet files.
  *
  * Mirrors the reference's ingestion root (a directory of heterogeneous
  * files — /root/reference/Art-Knowledge-Graph-Local/ingestion/
  * data_ingestion_batch.py:118 `load_all`), but parquet-first: at 100 TB
  * the lake is columnar, and Spark's parquet source gives predicate
  * pushdown + column pruning for free.
  *
  * Building a table's frame runs no Spark job. `spark.read.parquet`
  * infers the schema with one job that reads one footer; [[apply]] reads
  * that same footer on the driver ([[schemaFile]] picks it) and hands the
  * schema to the reader. There is no memo: every call reads the current
  * footer, so a rewritten table never gets a stale schema.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val conf = GraftParquetFooter.hadoopConf(spark)
    schemaFile(spark, new Path(path), conf) match {
      case Some(f) => spark.read.schema(GraftParquetFooter.schema(spark, f, conf)).parquet(path)
      case None => spark.read.parquet(path) // Spark infers, or raises its own error
    }
  }

  /** The file whose footer Spark's non-merging parquet inference reads
    * (`ParquetUtils.inferSchema`): `_common_metadata`, then `_metadata`,
    * then the first data file by path, or `path` itself when it is a
    * file. Names are filtered as `InMemoryFileIndex` filters them. None,
    * so that Spark infers, when there is no such file, when the listing
    * would descend into subdirectories (partition columns come from
    * their names), or when schema merging is on. */
  private def schemaFile(spark: SparkSession, path: Path, conf: Configuration): Option[FileStatus] = {
    val summaries = Seq("_common_metadata", "_metadata")
    def visible(n: String) =
      !((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_")) ||
        summaries.exists(n.startsWith)
    val files =
      try path.getFileSystem(conf).listStatus(path).filter(f => visible(f.getPath.getName))
      catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }
    if (spark.conf.get("spark.sql.parquet.mergeSchema").toBoolean || files.exists(_.isDirectory)) None
    else {
      val byPath = files.sortBy(_.getPath.toString)
      summaries.flatMap(n => byPath.find(_.getPath.getName == n)).headOption
        .orElse(byPath.find(f => !summaries.contains(f.getPath.getName)))
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")

  /** The events table's `ts` has shipped in two physical forms:
    * parquet TIMESTAMP(NANOS) (pandas ns — Spark's vectorized reader
    * rejects it; read nanos as long, integer-DIV to micros, exactly
    * DuckDB's ns→µs read) and native TIMESTAMP(MICROS) (reads as
    * TIMESTAMP_NTZ). Dispatch on the read schema and normalize both
    * to session-TZ TimestampType (session TZ is pinned UTC, so the
    * NTZ cast is instant-preserving) — downstream operators and
    * oracles see one contract regardless of generator vintage. The
    * nanos setting is made before [[apply]], so the footer read sees it. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = apply(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts DIV 1000")))
      case _ =>
        df.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast("timestamp"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** Name-dispatched loader that applies per-table quirks (events'
    * nanosecond-timestamp conversion) — what view registration and
    * generic tooling should use instead of raw apply. */
  def load(s: SparkSession, d: String, name: String): DataFrame =
    if (name == "events") events(s, d) else apply(s, d, name)
}
