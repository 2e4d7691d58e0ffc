package graft.operators

import graft.sources.Parquet
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical materialization — the Spark re-expression of the reference's
  * `partition_by` / `cluster_by` table config (fct_example.sql:2-4) and of
  * dbt materializations.
  *
  * BigQuery `partition_by` → parquet `partitionBy` directory layout (gives
  * partition pruning on the partition column); `cluster_by` →
  * `sortWithinPartitions` (gives min/max row-group pruning + locality).
  * `incremental` append → `mode("append")` on the same layout; full-refresh
  * `table` → `overwrite`; partition-scoped rebuilds use Spark's dynamic
  * partition overwrite so only touched partitions rewrite — the 100 TB-safe
  * version of incremental merge.
  */
object Materialize {

  /** `materialized='table'` with partition/cluster layout. `format` is any
    * Spark-native columnar source — parquet (default) or ORC both give
    * partition pruning on the directory layout plus min/max row-group /
    * stripe pruning from the within-partition sort. */
  def table(df: DataFrame, path: String, partitionCol: String,
            clusterCols: Seq[String] = Nil,
            format: String = "parquet"): Unit = {
    val partitioned = df.repartition(df.col(partitionCol))
    val clustered =
      if (clusterCols.nonEmpty)
        partitioned.sortWithinPartitions(clusterCols.head, clusterCols.tail: _*)
      else partitioned
    clustered.write.mode("overwrite")
      .partitionBy(partitionCol)
      .format(format).save(path)
  }

  /** Bucketed table: hash-bucket the rows on `bucketCol` into `nBuckets`
    * files per partition, sorted within each bucket. A bucketed scan
    * reports `HashPartitioning(bucketCol, nBuckets)` to the planner, so
    * downstream joins and aggregations ON THE BUCKET KEY need no exchange
    * at all — the 100 TB answer to "this fact joins that fact on the same
    * key every night": pay the shuffle once at write time, never at read
    * time. (BigQuery's `cluster_by` approximates this; Spark bucketing is
    * the exact co-location contract.) Bucketed output requires the table
    * catalog (`saveAsTable`) — bucket metadata lives there, not in the
    * directory layout. */
  def bucketedTable(df: DataFrame, name: String, bucketCol: String,
                    nBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    // a previous JVM's in-memory catalog dies with its table entries but
    // its warehouse directory survives; saveAsTable then refuses the name
    // (LOCATION_ALREADY_EXISTS). Drop both the entry and the orphan dir.
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), name.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, bucketCol)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(name)
  }

  /** Driver query: per-customer order stats computed through BUCKETED
    * tables — both sides bucketed on the customer key with the same bucket
    * count, so the join AND the group-by run exchange-free (PlanSpec pins
    * that no exchange is planned). Result is oracle-identical to the
    * plain join on the raw tables. */
  def bucketedSpend(spark: SparkSession, customer: DataFrame, orders: DataFrame,
                    nBuckets: Int = 8): DataFrame = {
    bucketedTable(customer.select("c_custkey", "c_name"),
      "graft_b_customer", "c_custkey", nBuckets, Seq("c_custkey"))
    bucketedTable(orders.select("o_custkey", "o_totalprice"),
      "graft_b_orders", "o_custkey", nBuckets, Seq("o_custkey"))
    // merge hint: this is the big-big shape (at 100 TB neither side
    // broadcasts); SMJ over co-bucketed sorted tables is exchange-free
    spark.table("graft_b_customer").hint("merge")
      .join(spark.table("graft_b_orders"),
            col("c_custkey") === col("o_custkey"))
      .groupBy("c_custkey", "c_name")
      .agg(count(lit(1)).as("n_orders"),
           graft.util.Det.centsSum(col("o_totalprice")).as("total_spend"))
  }

  /** Small-files compaction — the table-maintenance pass every long-lived
    * incremental table needs: streaming/micro-batch appends leave hundreds
    * of KB-scale files per partition, and at 100 TB the scan's task-per-file
    * overhead dwarfs the data. Rewrites the dataset so each partition
    * directory holds ~`targetBytes`-sized files:
    *
    *  1. one driver-side FILE LISTING (metadata-scale) sums bytes per
    *     partition directory → files-per-partition budget;
    *  2. the budget map broadcasts; every row computes a salt in
    *     [0, budget(partition)) from a hash of itself;
    *  3. ONE `repartition(partitionCol, salt)` shuffle co-locates each
    *     (partition, salt) slice into one task → ~budget files per dir;
    *  4. the rewrite lands in a sibling temp directory first, then swaps in
    *     (Spark refuses to overwrite a path it is reading, and rightly so);
    *     an ACID table format would make this swap a transaction — this is
    *     the seam where Delta/Iceberg `OPTIMIZE` drops in.
    *
    * Row content is untouched (spec-verified); only the file layout
    * changes. */
  def compact(spark: SparkSession, path: String, partitionCol: String,
              targetBytes: Long = 128L * 1024 * 1024): Map[String, Int] = {
    require(targetBytes > 0)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
    // Directory names carry Hive %XX escaping ("flash sale" →
    // "flash%20sale") and nulls land in __HIVE_DEFAULT_PARTITION__; the
    // budget map must key on the COLUMN value or escaped/null partitions
    // would miss the lookup and silently coalesce to one file.
    def unescape(s: String): String =
      "%[0-9A-Fa-f]{2}".r.replaceAllIn(s,
        m => java.util.regex.Matcher.quoteReplacement(
          Integer.parseInt(m.matched.substring(1), 16).toChar.toString))
    val budget: Map[String, Int] = parts.map { p =>
      val bytes = fs.listStatus(p.getPath).filter(_.isFile)
        .map(_.getLen).sum
      unescape(p.getPath.getName.split("=", 2)(1)) ->
        math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    }.toMap
    val df = Parquet.read(spark, path)
    val budgetCol = typedLit(budget)
    val salted = df.withColumn("_salt",
      pmod(xxhash64(df.columns.map(col): _*),
           coalesce(budgetCol(coalesce(col(partitionCol).cast("string"),
                                       lit("__HIVE_DEFAULT_PARTITION__"))),
                    lit(1))))
    val tmp = new org.apache.hadoop.fs.Path(path + "_compact_tmp")
    salted
      .repartition(col(partitionCol), col("_salt"))
      .drop("_salt")
      .write.mode("overwrite")
      .partitionBy(partitionCol).parquet(tmp.toString)
    // Swap with a recovery window instead of a data-loss window: old dirs
    // move ASIDE first (rename, cheap), new dirs move in, THEN the old
    // copies delete. A crash mid-swap leaves every byte on disk in `path`
    // or the two sibling dirs; only an ACID table format closes the
    // visibility gap entirely (this is the OPTIMIZE seam).
    val old = new org.apache.hadoop.fs.Path(path + "_compact_old")
    fs.mkdirs(old)
    parts.foreach(p => fs.rename(p.getPath,
      new org.apache.hadoop.fs.Path(old, p.getPath.getName)))
    fs.listStatus(tmp).filter(_.isDirectory).foreach { d =>
      fs.rename(d.getPath, new org.apache.hadoop.fs.Path(path, d.getPath.getName))
    }
    fs.delete(old, true)
    fs.delete(tmp, true)
    budget
  }

  /** Morton (Z-order) key: interleave the low `bits` bits of two
    * dimensions — x at even positions, y at odd. Rows close in z-value are
    * close in BOTH dimensions, so sorting a table by z-value gives every
    * file a tight min/max range on x AND y simultaneously — the multi-
    * dimensional data-skipping layout behind Delta/Iceberg `OPTIMIZE
    * ZORDER BY`, where a single-column sort can only serve predicates on
    * that one column. Pure bitwise arithmetic: codegen'd, scan-bound,
    * engine-portable (the oracle spells the identical shift/mask terms). */
  def zValue(x: Column, y: Column, bits: Int = 8): Column =
    zValueN(Seq(x, y), bits)

  /** N-dimensional Morton key: bit k of dimension j lands at position
    * k·N + j (round-robin interleave — the 2-D [[zValue]] is the N=2
    * case). Total bits must fit a positive long. */
  def zValueN(cols: Seq[Column], bits: Int = 8): Column = {
    require(cols.nonEmpty && bits >= 1 && cols.size * bits <= 62,
      s"${cols.size} dims x $bits bits must fit a long")
    val n = cols.size
    (for { k <- 0 until bits; (c, j) <- cols.zipWithIndex }
      yield shiftleft(shiftright(c, k).bitwiseAND(1), k * n + j))
      .reduce(_ + _)
  }

  /** Driver query: the Morton key over a 256×256 (customer-bucket ×
    * day-of-year) grid — the key [[zorderCluster]] sorts by, exposed as a
    * query so the bit-interleave itself is oracle-checked cross-engine. */
  def zorderKey(orders: DataFrame): DataFrame =
    orders.select(col("o_orderkey"),
        (col("o_custkey") % 256).cast("long").as("x"),
        ((dayofyear(col("o_orderdate").cast("date")) - 1) % 256).cast("long").as("y"))
      .withColumn("zval", zValue(col("x"), col("y")).cast("long"))

  /** Z-order clustered rewrite: range-partition the table on the Morton
    * key of (xCol, yCol) into `nFiles` files, each sorted by z within.
    * Point/range predicates on EITHER dimension then skip most files on
    * parquet min/max stats alone (spec quantifies the skipping vs a
    * single-column sort). Cost: one range exchange — same price as any
    * global sort, paid once at write time. Both columns must already be
    * integers in [0, 2^bits). */
  def zorderCluster(df: DataFrame, xCol: String, yCol: String, path: String,
                    nFiles: Int, bits: Int = 8): Unit =
    df.withColumn("_z", zValue(col(xCol), col(yCol), bits))
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(path)

  /** Dynamic-partition-pruning join: the fact table materializes
    * partitioned on the join key's directory layout, so when it joins a
    * dimension carrying a selective filter, Catalyst plants a
    * DynamicPruning subquery on the fact SCAN — the dim's broadcast result
    * decides at runtime which partition directories to read AT ALL. At
    * 100 TB this is the difference between scanning 5 years of a
    * date-partitioned fact and scanning the 3 months the dim filter
    * selects; no static predicate could express it because the surviving
    * keys are data-dependent. The spec pins `dynamicpruning` in the scan's
    * PartitionFilters; the oracle is the plain join semantics. */
  def dppJoin(spark: SparkSession, orders: DataFrame,
              path: String = null): DataFrame = {
    // per-run unique temp dir: a fixed /tmp name is stompable by concurrent
    // bench/test runs and squattable on multi-user hosts
    val target = Option(path).getOrElse(
      java.nio.file.Files.createTempDirectory("graft_dpp_orders")
        .resolve("t").toString)
    orders.select("o_orderkey", "o_totalprice", "o_orderpriority")
      .write.mode("overwrite").partitionBy("o_orderpriority").parquet(target)
    val fact = Parquet.read(spark, target)
    import spark.implicits._
    // the dim must be a SOURCE relation: over an in-memory LocalRelation
    // Catalyst folds the tier filter away at optimize time and the pruning
    // rule no longer sees a selective predicate to subquery on
    Seq(("1-URGENT", "hot"), ("2-HIGH", "hot"), ("3-MEDIUM", "warm"),
        ("4-NOT SPECIFIED", "cold"), ("5-LOW", "cold"))
      .toDF("o_orderpriority", "tier")
      .write.mode("overwrite").parquet(target + "_dim")
    val dim = Parquet.read(spark, target + "_dim")
    fact.join(dim.filter(col("tier") === "hot"), "o_orderpriority")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
           graft.util.Det.centsSum(col("o_totalprice")).as("revenue"))
  }

  /** Right-to-erasure (GDPR/CCPA) delete propagation — the table-maintenance
    * op every PII-bearing 100 TB table needs: remove all rows matching a
    * (small) key list while rewriting ONLY the partitions that contain
    * them. Shape:
    *
    *  1. locate affected partitions: a column-pruned scan of
    *     (key, partition) semi-joined against the broadcast key list —
    *     deletion lists are request-sized, never corpus-sized (a real
    *     lakehouse would consult a key→file index / bloom instead of a
    *     scan; this is that seam);
    *  2. rewrite only those partitions with the keys anti-joined out,
    *     landing in a temp dir (Spark rightly refuses to overwrite its own
    *     input);
    *  3. swap the rewritten partition dirs in; untouched partitions keep
    *     their original FILES — byte-identical, never opened for write
    *     (spec-verified).
    *
    * Returns the affected partition values. */
  def deleteKeys(spark: SparkSession, path: String, partitionCol: String,
                 keyCol: String, keys: DataFrame): Seq[String] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val df = Parquet.read(spark, path)
    val affected = df.select(col(partitionCol), col(keyCol))
      .join(broadcast(keys), df(keyCol) === keys(keys.columns.head), "left_semi")
      .select(col(partitionCol).cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq // request-scale, not data-scale
    // NULL partitions live in __HIVE_DEFAULT_PARTITION__ and a null value
    // can't round-trip through the isin()/dir-name path below; refuse
    // loudly rather than silently skip the rows we were asked to erase.
    require(!affected.contains(null),
      s"deleteKeys: NULL values in partition column '$partitionCol' — " +
        "erase rows in the null partition with a full-table rewrite instead")
    if (affected.isEmpty) return Nil
    val tmp = path + "_delete_tmp"
    df.filter(col(partitionCol).cast("string").isin(affected: _*))
      .join(broadcast(keys), df(keyCol) === keys(keys.columns.head), "left_anti")
      .write.mode("overwrite").partitionBy(partitionCol).parquet(tmp)
    // swap only the rewritten partition dirs; everything else stays put.
    // Dir names carry Hive %XX escaping ("flash sale" → "flash%20sale"),
    // so build them with the same escaper Spark's writer uses — raw
    // interpolation would target nonexistent paths for values containing
    // '%', ':', '=', '#', ' ' … and the delete would silently no-op.
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    affected.foreach { v =>
      val dir = s"$partitionCol=${ExternalCatalogUtils.escapePathName(v)}"
      val oldDir = new org.apache.hadoop.fs.Path(path, dir)
      val newDir = new org.apache.hadoop.fs.Path(tmp, dir)
      fs.delete(oldDir, true)
      if (fs.exists(newDir)) fs.rename(newDir, oldDir)
    }
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    affected
  }

  /** Driver query for [[deleteKeys]]: propagate a deletion list (every
    * 97th customer) through a partitioned copy of orders, then report the
    * surviving per-partition counts — oracle = the plain anti-join. */
  def gdprDelete(spark: SparkSession, orders: DataFrame,
                 path: String = null): DataFrame = {
    val target = Option(path).getOrElse(
      java.nio.file.Files.createTempDirectory("graft_gdpr_orders")
        .resolve("t").toString)
    orders.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      .write.mode("overwrite").partitionBy("o_orderpriority").parquet(target)
    val keys = orders.filter(col("o_custkey") % 97 === 0)
      .select(col("o_custkey").as("del_key")).distinct()
    deleteKeys(spark, target, "o_orderpriority", "o_custkey", keys)
    Parquet.read(spark, target)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
           graft.util.Det.centsSum(col("o_totalprice")).as("revenue"))
  }

  /** `materialized='incremental'`: append new rows into the same layout;
    * with `dynamicOverwrite` only the partitions present in `df` rewrite. */
  def incremental(df: DataFrame, path: String, partitionCol: String,
                  dynamicOverwrite: Boolean = false): Unit =
    if (dynamicOverwrite)
      // per-write option — never mutates the session-wide overwrite mode
      df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partitionCol).parquet(path)
    else
      df.write.mode("append").partitionBy(partitionCol).parquet(path)
}
