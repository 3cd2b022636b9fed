package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** Multi-format ingestion front door (SURVEY §2 A1-A4, A6-A7).
  *
  * Mirrors the reference's loader semantics
  * (Art-Knowledge-Graph-Local/ingestion/data_ingestion_batch.py:15-19
  * load_csv/load_json with dtype=str, :113-160 load_all union,
  * :163-174 get_batches) on Spark's native sources: distributed reads,
  * schema pushdown, and no driver-side materialization anywhere —
  * the reference's pandas.concat becomes unionByName and its
  * json.dumps batching becomes a single-shuffle groupBy on a
  * key-derived batch id.
  */
object Sources {

  /** A1/A2: CSV/TSV. `schema=None` reads everything as strings —
    * pandas `dtype=str` parity — instead of inferSchema (which would
    * cost a second pass over 100 TB and guess types per-file). */
  def csv(spark: SparkSession, path: String, sep: String = ",",
          header: Boolean = true, schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
      .option("sep", sep)
      .option("header", header.toString)
    schema.fold(r.option("inferSchema", "false"))(s => r.schema(s)).csv(path)
  }

  def tsv(spark: SparkSession, path: String, header: Boolean = true,
          schema: Option[StructType] = None): DataFrame =
    csv(spark, path, sep = "\t", header = header, schema = schema)

  /** A3: JSON — json-lines by default; `multiLine=true` for whole-file
    * record arrays (the reference's pd.read_json(lines=False) shape). */
  def json(spark: SparkSession, path: String, multiLine: Boolean = false,
           schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.option("multiLine", multiLine.toString)
    schema.fold(r)(s => r.schema(s)).json(path)
  }

  /** A29 (r20): LENIENT whole-file JSON ARRAY reader — trailing
    * commas before `}` / `]` are dropped before parsing. This is
    * reference parity, not pedantry: the reference's own
    * COLLEZIONI_PALAZZO_MADAMA.json carries trailing commas and its
    * pandas loader accepts them (data_ingestion_batch.py:19
    * load_json), while Spark's Jackson is strict and exposes no
    * toggle. The cleanup is ONE codegen'd regexp_replace, correct by
    * construction: the alternation consumes JSON STRINGS atomically
    * (`"(?:[^"\\]|\\.)*"` — JSON strings cannot contain an unescaped
    * quote), so the trailing-comma branch can only ever match OUTSIDE
    * a string. No state machine, no UDF. Parse is then
    * from_json(array<schema>) + explode, schema-first like every
    * reader here. */
  def jsonArrayLenient(spark: SparkSession, path: String,
      schema: StructType): DataFrame = {
    val cleaned = regexp_replace(col("value"),
      "(\"(?:[^\"\\\\]|\\\\.)*\")|,(\\s*[}\\]])", "$1$2")
    // explode(from_json(...)) in ONE select: projecting the parsed
    // array first lets InferFiltersFromGenerate add `size(a) > 0 AND
    // a IS NOT NULL`, which alias-substitutes through the projection
    // and re-evaluates the whole-file from_json a SECOND time in a
    // scan-level residual filter (2× parse of every file, plus an
    // unpushable data-filter smell). With the generator applied to
    // the expression directly no filter is inferred and the parse
    // runs exactly once inside Generate (same rows: explode of
    // null/empty arrays already yields nothing).
    spark.read.option("wholetext", "true").text(path)
      .select(explode(from_json(cleaned,
        org.apache.spark.sql.types.ArrayType(schema))).as("r"))
      .select(schema.fieldNames.map(n => col("r").getField(n).as(n)).toSeq: _*)
  }

  /** A4: record-oriented XML via Spark 4's native XML source (the
    * xmltodict path of the reference's load_xml, row_tag="record"). */
  def xmlRecords(spark: SparkSession, path: String, rowTag: String = "record"): DataFrame =
    spark.read.format("xml").option("rowTag", rowTag).load(path)

  /** A6: heterogeneous union: every column to string, unionByName with
    * missing columns allowed, nulls → "" — the reference's
    * pd.concat(...).fillna("") (data_ingestion_batch.py:159). */
  def unionHeterogeneous(dfs: Seq[DataFrame]): DataFrame = {
    require(dfs.nonEmpty, "unionHeterogeneous of zero frames")
    val asStrings = dfs.map { df =>
      df.select(df.columns.map(c => col(c).cast(StringType).as(c)): _*)
    }
    val unioned = asStrings.reduce(_.unionByName(_, allowMissingColumns = true))
    unioned.na.fill("")
  }

  /** A14: fixed-width record reader — the mainframe/COBOL-copybook
    * wire format (and the one classic ingestion shape a delimiter
    * reader cannot express). A layout is (name, start 1-based, len,
    * ddl-type); each field is a substring slice, trimmed and cast —
    * all codegen'd projections over spark.read.text, so the scan
    * parallelizes by line splits like any text source. Casts run
    * try_cast-style (null on mismatch) so a bad record degrades to
    * nulls instead of failing the scan — the A11/A12 tolerance
    * convention. */
  def fixedWidth(spark: SparkSession, path: String,
      layout: Seq[(String, Int, Int, String)]): DataFrame = {
    val lines = spark.read.text(path)
    lines.select(layout.map { case (name, start, len, ddl) =>
      val raw = trim(substring(col("value"), start, len))
      (if (ddl.equalsIgnoreCase("string")) raw else raw.try_cast(ddl)).as(name)
    }: _*)
  }

  /** Fixed-width writer for round-trips: left-justify strings,
    * right-justify numerics in their slots (the copybook convention),
    * concatenated in layout order. */
  def writeFixedWidth(df: DataFrame, path: String,
      layout: Seq[(String, Int, Int, String)]): Unit = {
    val line = concat(layout.map { case (name, _, len, ddl) =>
      if (ddl.equalsIgnoreCase("string"))
        rpad(coalesce(col(name).cast("string"), lit("")), len, " ")
      else lpad(coalesce(col(name).cast("string"), lit("")), len, " ")
    }: _*)
    df.select(line.as("value")).write.mode("overwrite").text(path)
  }

  /** A7: re-batch records as JSON array strings (get_batches,
    * batch_size=100) with DETERMINISTIC batch ids derived from a
    * numeric key: batch_id = floor(key / batchSize). Unlike the
    * reference's positional slicing (meaningless under distributed row
    * order), a key-derived id is stable across partitionings and
    * re-runs; the only shuffle is the groupBy(batch_id), and records
    * order inside a batch is pinned by array_sort on the key. */
  def jsonBatches(df: DataFrame, keyCol: String, batchSize: Int): DataFrame = {
    val rec = to_json(struct(df.columns.map(col): _*))
    df.select(
        floor(col(keyCol) / batchSize).cast("long").as("batch_id"),
        struct(col(keyCol).as("__k"), rec.as("__j")).as("__kv"))
      .groupBy("batch_id")
      .agg(
        concat(lit("["),
          array_join(transform(array_sort(collect_list(col("__kv"))), s => s.getField("__j")), ","),
          lit("]")).as("batch_json"),
        count(lit(1)).as("n_records"))
  }
}
