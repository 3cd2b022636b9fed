package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** `Tables` reads each table's schema from one footer on the driver:
  * the schema is Spark's own inferred one, building the frame runs no
  * Spark job, and a path Spark cannot infer fails as Spark fails. */
class TablesSpec extends SparkSpec {

  private val sfDirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")

  test("every table's schema equals spark.read.parquet's, and building its frame runs no job") {
    // the events table's ts may be TIMESTAMP(NANOS), which only reads
    // with this setting; both reads below run under it
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for (dir <- sfDirs; name <- Tables.names) {
      val inferred = spark.read.parquet(s"$dir/$name.parquet").schema
      var df: org.apache.spark.sql.DataFrame = null
      val jobs = countJobs { df = Tables(spark, dir, name) }
      assert(df.schema == inferred, s"$dir/$name")
      assert(jobs == 0, s"$dir/$name: building the frame ran $jobs jobs")
    }
  }

  test("events.ts still reads as a timestamp") {
    for (dir <- sfDirs) {
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType == TimestampType, dir)
      assert(ev.filter(col("ts").isNotNull).limit(1).count() == 1, dir)
    }
  }

  test("a multi-part directory table reads its schema and rows from its files") {
    val dir = Files.createTempDirectory("tables-spec").toString
    spark.range(0, 300, 1, 3)
      .select(col("id"), (col("id") % 7).cast("int").as("k"),
        concat(lit("r"), col("id")).as("s"), (col("id") / 3.0).as("d"))
      .write.parquet(s"$dir/multi.parquet")
    assert(new java.io.File(s"$dir/multi.parquet/_SUCCESS").exists())
    val inferred = spark.read.parquet(s"$dir/multi.parquet")
    var df: org.apache.spark.sql.DataFrame = null
    val jobs = countJobs { df = Tables(spark, dir, "multi") }
    assert(jobs == 0)
    assert(df.schema == inferred.schema)
    assert(df.exceptAll(inferred).isEmpty && inferred.exceptAll(df).isEmpty)
    assert(df.count() == 300)
  }

  test("a missing path and an empty directory fail with spark.read.parquet's error class") {
    val dir = Files.createTempDirectory("tables-spec").toString
    Files.createDirectory(java.nio.file.Paths.get(s"$dir/empty.parquet"))
    for (name <- Seq("missing", "empty")) {
      val spark0 = intercept[Exception](spark.read.parquet(s"$dir/$name.parquet"))
      val ours = intercept[Exception](Tables(spark, dir, name))
      assert(ours.getClass == spark0.getClass, s"$name: $ours vs $spark0")
      assert(ours.getMessage == spark0.getMessage, name)
    }
  }
}
