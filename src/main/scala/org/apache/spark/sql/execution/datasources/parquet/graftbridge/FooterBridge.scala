package org.apache.spark.sql.execution.datasources.parquet.graftbridge

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SessionStateHelper
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Bridge into the pieces of Spark's parquet schema inference that are
  * `private[parquet]` / `private[spark]`: the file-listing hidden-name rule
  * and the footer read plus footer-to-schema conversion. Living under the
  * parquet package tree grants the access, as `graftbridge.ColumnBridge`
  * does for `private[sql]` code. [[graft.sources.ParquetRead]] composes
  * them into an in-process inference on the driver.
  */
object FooterBridge {

  /** Spark's listing rule: `_`/`.`-prefixed names are hidden, except the
    * `_metadata` / `_common_metadata` summaries and `k=v`-shaped names.
    */
  def hidden(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)

  /** Session settings under which Spark's inference does something other
    * than convert one footer: schema merging touches every file, and
    * ignoring corrupt files may skip the one picked.
    */
  def touchesManyFooters(spark: SparkSession): Boolean = {
    val conf = SessionStateHelper.getSqlConf(spark)
    conf.isParquetSchemaMergingEnabled || conf.ignoreCorruptFiles
  }

  /** The schema of one parquet file's footer, converted exactly as Spark's
    * inference converts it (same session conf: nanosAsLong, NTZ inference,
    * binary-as-string, INT96, and the Spark schema stored in the footer).
    */
  def footerSchema(spark: SparkSession, file: FileStatus): Option[StructType] = {
    val footers = ParquetFileFormat.readParquetFootersInParallel(
      SessionStateHelper.getHadoopConf(spark), Seq(file), false)
    ParquetFileFormat.readSchema(footers, spark)
  }
}
