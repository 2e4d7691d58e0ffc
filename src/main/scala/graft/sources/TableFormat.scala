package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The ACID-table-format seam — the five physical operations every
  * materialization in this engine needs from its storage layer. The
  * reference's north star names "Delta/Iceberg for incremental models";
  * those jars are not available in this build, so the default
  * implementation ([[ParquetDirFormat]]) is partitioned parquet with
  * directory swaps, and EVERY place the engine would benefit from ACID
  * semantics routes through this trait:
  *
  *  - [[graft.pipeline.Pipeline]] table / insert_overwrite / microbatch /
  *    incremental materializations,
  *  - small-files compaction ([[graft.operators.Materialize.compact]] →
  *    Delta/Iceberg `OPTIMIZE`),
  *  - GDPR key deletion ([[graft.operators.Materialize.deleteKeys]] →
  *    `DELETE WHERE` / `MERGE`).
  *
  * Dropping in Delta is one new object: `write` →
  * `df.write.format("delta")`, `overwritePartitions` →
  * `replaceWhere`/dynamic overwrite, `replace` → `MERGE INTO` (no staging
  * swap — the transaction log closes the crash-visibility window the
  * parquet impl documents), `compact` → `OPTIMIZE`, `deleteKeys` →
  * `DELETE`. No operator or pipeline code changes.
  */
trait TableFormat {

  /** Full-table overwrite, optionally directory-partitioned on
    * `partitionBy` with rows clustered (sorted within partitions) on
    * `clusterBy` for min/max skipping. */
  def write(df: DataFrame, path: String, partitionBy: Option[String] = None,
            clusterBy: Seq[String] = Nil): Unit

  /** Replace exactly the partitions PRESENT in `df`; untouched partitions
    * keep their bytes (dbt insert_overwrite / Delta replaceWhere). */
  def overwritePartitions(df: DataFrame, path: String,
                          partitionCol: String): Unit

  /** Replace the whole table with `df` even when `df`'s plan READS the
    * current table (the incremental-merge shape). An ACID format makes
    * this a transaction; the parquet impl stages to a sibling dir and
    * swaps, with a documented crash-visibility window. */
  def replace(spark: SparkSession, df: DataFrame, path: String): Unit

  /** Rewrite so each partition holds ~`targetBytes` files (OPTIMIZE).
    * Returns the files-per-partition budget used. */
  def compact(spark: SparkSession, path: String, partitionCol: String,
              targetBytes: Long = 128L * 1024 * 1024): Map[String, Int]

  /** Delete all rows whose `keyCol` appears in `keys`, rewriting only the
    * partitions that contain them (DELETE WHERE). Returns affected
    * partition values. */
  def deleteKeys(spark: SparkSession, path: String, partitionCol: String,
                 keyCol: String, keys: DataFrame): Seq[String]

  /** Scan the table. */
  def read(spark: SparkSession, path: String): DataFrame

  /** Clone the table at `src` into `dst` without recomputing it — the
    * storage half of `dbt clone`. Default: physical recursive file copy
    * (correct on any format, O(data) cost); ACID formats override with a
    * zero-copy metadata clone ([[TxLogFormat.cloneTable]] hard-links the
    * immutable data files — O(file count) at any table size). `dst` must
    * not already exist. */
  def cloneTable(spark: SparkSession, src: String, dst: String): Unit = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val from = Paths.get(src); val to = Paths.get(dst)
    require(Files.exists(from), s"cloneTable: no table at $src")
    require(!Files.exists(to), s"cloneTable: target $dst already exists")
    val walk = Files.walk(from)
    try walk.iterator.asScala.foreach { p =>
      val t = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else { Files.createDirectories(t.getParent); Files.copy(p, t) }
    } finally walk.close()
  }
}

/** Partitioned-parquet implementation: directory layout for partitioning,
  * staged writes + directory renames for replacement. Correct on a
  * single-writer local/HDFS-style filesystem; the crash-visibility windows
  * in `replace`/`compact`/`deleteKeys` are exactly what a Delta/Iceberg
  * implementation of [[TableFormat]] closes. */
object ParquetDirFormat extends TableFormat {

  def write(df: DataFrame, path: String, partitionBy: Option[String] = None,
            clusterBy: Seq[String] = Nil): Unit = partitionBy match {
    case Some(p) =>
      val sorted =
        if (clusterBy.nonEmpty)
          df.repartition(col(p))
            .sortWithinPartitions(clusterBy.head, clusterBy.tail: _*)
        else df
      sorted.write.mode("overwrite").partitionBy(p).parquet(path)
    case None => df.write.mode("overwrite").parquet(path)
  }

  def overwritePartitions(df: DataFrame, path: String,
                          partitionCol: String): Unit =
    graft.operators.Materialize.incremental(df, path, partitionCol,
      dynamicOverwrite = true)

  def replace(spark: SparkSession, df: DataFrame, path: String): Unit = {
    // stage next to the table: the plan may read `path`, and Spark rightly
    // refuses to overwrite its own input. The swap must not fail silently
    // — a stale table poisons every downstream model.
    val tmp = s"$path._staging"
    df.write.mode("overwrite").parquet(tmp)
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(deleteRec)
      if (!f.delete())
        throw new java.io.IOException(s"failed to delete ${f.getPath}")
    }
    val dir = new java.io.File(path)
    if (dir.exists()) deleteRec(dir)
    if (!new java.io.File(tmp).renameTo(dir))
      throw new java.io.IOException(s"failed to swap table $tmp -> $path")
  }

  def compact(spark: SparkSession, path: String, partitionCol: String,
              targetBytes: Long = 128L * 1024 * 1024): Map[String, Int] =
    graft.operators.Materialize.compact(spark, path, partitionCol, targetBytes)

  def deleteKeys(spark: SparkSession, path: String, partitionCol: String,
                 keyCol: String, keys: DataFrame): Seq[String] =
    graft.operators.Materialize.deleteKeys(spark, path, partitionCol, keyCol, keys)

  def read(spark: SparkSession, path: String): DataFrame =
    Parquet.read(spark, path)
}
