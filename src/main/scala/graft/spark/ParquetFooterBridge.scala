package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{classic, SparkSession}
import org.apache.spark.sql.types.StructType

/** Minimal `private[parquet]` bridge (the GraftDatasetBridge pattern):
  * `graft.Tables` reads a table's schema from one footer on the driver
  * and converts it with the code Spark's own parquet inference runs
  * (`ParquetFileFormat.readSchema`, the session's binary-as-string,
  * INT96, NTZ and nanos-as-long settings), instead of a schema job. */
object GraftParquetFooter {
  /** The Hadoop configuration Spark's file reads in `spark` see. */
  def hadoopConf(spark: SparkSession): Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** The Spark schema of `file`'s footer, read on the calling thread. */
  def schema(spark: SparkSession, file: FileStatus, conf: Configuration): StructType = {
    val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf), SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchema(Seq(new Footer(file.getPath, meta)), spark).get
  }
}
