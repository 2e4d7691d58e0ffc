package org.apache.spark.sql.execution.datasources.parquet.graftbridge

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetOptions}
import org.apache.spark.sql.types.StructType

/** Parquet schema-resolution bridge for [[graft.sources.DriverFooterParquet]]:
  * `ParquetFileFormat.readSchema` is `private[parquet]`, so this lives
  * under that package — the same pattern as `sql.graftbridge.Bridge` for
  * `private[sql]`. Each call runs, on the driver, a piece of the schema
  * resolution that Spark's own parquet read runs in a job. */
object ParquetBridge {
  private def sessionState(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState

  /** Whether a parquet read under `options` merges every footer's schema
    * (the `mergeSchema` option, else the session conf): Spark's own
    * `ParquetOptions` decides. */
  def mergeSchema(spark: SparkSession, options: Map[String, String]): Boolean =
    new ParquetOptions(options, sessionState(spark).conf).mergeSchema

  /** The data schema Spark's schema-inference job derives from ONE parquet
    * footer, read here on the driver: `ParquetFileFormat.readSchema` takes
    * the Spark row-metadata schema when the file carries one, else converts
    * the parquet schema under the session's binary-as-string, INT96,
    * timestamp-NTZ and nanos-as-long settings. */
  def footerSchema(spark: SparkSession, file: FileStatus,
                   options: Map[String, String]): Option[StructType] = {
    val conf = sessionState(spark).newHadoopConfWithOptions(options)
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchema(Seq(new Footer(file.getPath, footer)), spark)
  }
}
