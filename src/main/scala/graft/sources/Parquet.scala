package graft.sources

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.parquet.graftbridge.ParquetBridge
import org.apache.spark.sql.types.StructType

/** The one parquet read seam: every batch parquet read in the engine that
  * does not bring its own schema goes through [[read]] (`TxLogFormat`
  * reads under the schema its log committed).
  *
  * `spark.read.parquet(path)` resolves its data schema with a one-task
  * Spark job that reads one footer (`SchemaMergeUtils.mergeSchemasInParallel`)
  * even with `mergeSchema` off — ~3-5 ms of task time but ~80-100 ms of
  * wall with its scheduling gap, on every table read. The seam reads the
  * same footer on the driver ([[DriverFooterParquet]]), so resolution
  * starts no job. Everything else is Spark's own read: glob, file listing,
  * partition-type inference (`p=1` stays int, `d=2024-01-01` stays date),
  * options, scan. */
object Parquet {

  def read(spark: SparkSession, path: String): DataFrame = read(spark, Seq(path))

  def read(spark: SparkSession, paths: Seq[String],
           options: Map[String, String] = Map.empty): DataFrame =
    spark.read.format(classOf[DriverFooterParquet].getName)
      .options(options).load(paths: _*)

  private val summaries = Seq("_common_metadata", "_metadata")

  /** The footer `ParquetUtils.inferSchema` touches with `mergeSchema` off:
    * `_common_metadata`, else `_metadata`, else the first data file of the
    * leaf listing sorted by path. */
  private[graft] def footerFile(files: Seq[FileStatus]): Option[FileStatus] = {
    val sorted = files.sortBy(_.getPath.toString)
    summaries.flatMap(n => sorted.find(_.getPath.getName == n)).headOption
      .orElse(sorted.find(f => !summaries.contains(f.getPath.getName)))
  }
}

/** Spark's parquet source with one change: with `mergeSchema` off, the data
  * schema comes from [[Parquet.footerFile]] read on the driver, converted
  * by Spark's own `ParquetFileFormat.readSchema` ([[ParquetBridge]]) — the
  * row-metadata schema and the session's nanos-as-long, INT96 and
  * binary-as-string settings apply exactly as in Spark's job.
  *
  * Spark's own inference (its job, its result, its error) runs instead
  * when `mergeSchema` is on (option or conf), when the listing holds no
  * data file, and when the footer cannot be read or converted. */
class DriverFooterParquet extends ParquetFileFormat {
  override def inferSchema(spark: SparkSession, parameters: Map[String, String],
                           files: Seq[FileStatus]): Option[StructType] = {
    val onDriver =
      if (ParquetBridge.mergeSchema(spark, parameters)) None
      else Parquet.footerFile(files).flatMap { f =>
        try ParquetBridge.footerSchema(spark, f, parameters)
        catch { case scala.util.control.NonFatal(_) => None }
      }
    onDriver.orElse(super.inferSchema(spark, parameters, files))
  }
}
