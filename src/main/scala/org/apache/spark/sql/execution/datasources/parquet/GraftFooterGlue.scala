package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Minimal bridge into `private[parquet]` surface: the footer read and
  * footer-to-schema conversion that `spark.read.parquet` inference runs,
  * called on the driver instead of inside a Spark job. Same converter and
  * session confs as inference (binaryAsString, int96AsTimestamp,
  * inferTimestampNTZ, nanosAsLong), so the schema is the one inference
  * would give. Like `org.apache.spark.sql.graftglue`, this is the single
  * glue file in this package tree; callers live in `graft.*`.
  */
object GraftFooterGlue {
  /** Schema of the single parquet file at `path`. */
  def schema(spark: SparkSession, path: String): StructType = {
    val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf()
    val p = new Path(path)
    val status = p.getFileSystem(conf).getFileStatus(p)
    val footers = ParquetFileFormat.readParquetFootersInParallel(
      conf, Seq(status), ignoreCorruptFiles = false)
    ParquetFileFormat.readSchema(footers, spark).get
  }
}
