package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.util.Det._

/** Seed loading — reference: seeds/example_seed.csv (id,name: Alice/Bob).
  * Seeds are tiny static CSVs loaded with an explicit schema (never
  * inferSchema — schema inference is a full extra pass and nondeterministic
  * across files); in production pipelines they'd be broadcast. */
object Seeds {
  def exampleSeed(spark: SparkSession,
                  path: String = "/root/repo/seeds/example_seed.csv"): DataFrame =
    spark.read
      .schema("id BIGINT, name STRING")
      .option("header", "true")
      .csv(path)
}

/** Semi-structured column handling: typed extraction from a JSON string
  * column with `from_json` (schema-on-read — the Spark-native version of
  * BigQuery's JSON_EXTRACT over a raw column). */
object Json {
  def extractProps(events: DataFrame): DataFrame =
    events
      .withColumn("j", from_json(col("props"), StructType(
        Seq(StructField("k", LongType)))))
      .select(col("event_id"), col("user_id"),
              col("j").getField("k").as("k"))
}

/** SCD-2 snapshot, dbt `strategy='timestamp'` — reference:
  * snapshots/example_snapshot.sql (unique_key, updated_at → history rows).
  *
  * Each source row version becomes [valid_from, valid_to) with the open
  * version flagged current. One shuffle (window by key); at scale the
  * window per key is tiny so this is embarrassingly parallel.
  */
object Snapshot {
  /** dbt `strategy='check'`: a new version opens whenever any tracked
    * column changes (detected via md5 over the tracked tuple), regardless
    * of timestamps. Consecutive same-value rows collapse into one version.
    * Here: orders per customer, tracking o_orderstatus. */
  def scd2Check(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    orders
      // hash the tracked column directly: md5(NULL) = NULL, so NULL vs ''
      // stay distinct. For multiple tracked columns, hash each separately
      // and compare the struct — concat_ws would skip NULLs and collapse
      // ('a', NULL) with (NULL, 'a').
      .withColumn("chk", md5(col("o_orderstatus")))
      .withColumn("prev_chk", lag(col("chk"), 1).over(w))
      .filter(col("prev_chk").isNull || col("chk") =!= col("prev_chk"))
      .withColumn("valid_from", col("o_orderdate").cast("date"))
      .withColumn("valid_to",
        lead(col("o_orderdate").cast("date"), 1).over(
          Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
              col("valid_from"), col("valid_to"), col("is_current"))
  }

  /** Generic dbt timestamp-strategy snapshot for ANY frame (the YAML
    * loader's target — reference snapshots/example_snapshot.sql declares
    * `unique_key` + `updated_at`): each key's rows ordered by `updatedAt`
    * become [dbt_valid_from, dbt_valid_to) versions, open version current
    * — dbt's output column names. Rows of one key sharing an updated_at
    * are inherently ambiguous (same in dbt); upstream should dedup them.
    * One window shuffle on the key, same scale shape as [[scd2]]. */
  def scd2Timestamp(df: DataFrame, uniqueKey: String,
                    updatedAt: String): DataFrame = {
    val w = Window.partitionBy(col(uniqueKey)).orderBy(col(updatedAt))
    df.withColumn("dbt_valid_from", col(updatedAt))
      .withColumn("dbt_valid_to", lead(col(updatedAt), 1).over(w))
      .withColumn("dbt_is_current", col("dbt_valid_to").isNull)
  }

  /** Generic dbt check-strategy snapshot for ANY frame (the YAML loader's
    * `strategy='check'` target): a new version opens whenever any of
    * `checkCols` changes between a key's consecutive observations —
    * consecutive same-value observations collapse. dbt orders
    * observations by run cadence; a single-pass build needs the
    * observation order IN the data, so `orderCol` supplies it (the
    * loader maps `updated_at` here). Null-safe change detection: each
    * tracked column hashes separately and the tuple compares with `<=>`,
    * so ('a', NULL) vs (NULL, 'a') is a change and NULL vs NULL is not.
    * Same one-window-shuffle shape as [[scd2Timestamp]]. */
  def scd2CheckCols(df: DataFrame, uniqueKey: String, orderCol: String,
                    checkCols: Seq[String]): DataFrame = {
    require(checkCols.nonEmpty, "scd2CheckCols: check_cols must be non-empty")
    val w = Window.partitionBy(col(uniqueKey)).orderBy(col(orderCol))
    val chk = struct(checkCols.map(c => md5(col(c).cast("string")).as(c)): _*)
    df.withColumn("__chk", chk)
      .withColumn("__prev", lag(col("__chk"), 1).over(w))
      .filter(!(col("__chk") <=> col("__prev")))
      .drop("__chk", "__prev")
      .withColumn("dbt_valid_from", col(orderCol))
      .withColumn("dbt_valid_to", lead(col(orderCol), 1).over(
        Window.partitionBy(col(uniqueKey)).orderBy(col(orderCol))))
      .withColumn("dbt_is_current", col("dbt_valid_to").isNull)
  }

  def scd2(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    orders.select(
      col("o_custkey"), col("o_orderkey"),
      col("o_orderdate").cast("date").as("valid_from"),
      lead(col("o_orderdate").cast("date"), 1).over(w).as("valid_to"),
      lead(col("o_orderkey"), 1).over(w).isNull.as("is_current"),
    )
  }

  /** dbt `invalidate_hard_deletes`: when a tracked entity disappears from
    * the source, its OPEN validity window closes at the run timestamp and
    * it stops being current — without this, deleted rows live forever in
    * the snapshot. One distinct on the live key set + one left join on the
    * key (broadcastable while the entity set is small; shuffle join at
    * scale — the snapshot is already partitioned by the same key, so the
    * exchange reuses it). */
  def invalidateHardDeletes(snapshot: DataFrame, current: DataFrame,
                            key: String = "o_custkey",
                            deletedAt: String = "1998-12-31"): DataFrame = {
    val live = current.select(col(key)).distinct().withColumn("_live", lit(1))
    snapshot.join(live, Seq(key), "left")
      .withColumn("valid_to",
        when(col("_live").isNull && col("is_current"),
          lit(deletedAt).cast("date")).otherwise(col("valid_to")))
      .withColumn("is_current",
        when(col("_live").isNull, lit(false)).otherwise(col("is_current")))
      .drop("_live")
  }
}

/** dbt `on_schema_change` policy for incremental models — reference:
  * dbt_project.yml configures `append_new_columns`; dbt-core also ships
  * `ignore` (the default), `sync_all_columns`, and `fail`. */
sealed trait OnSchemaChange
object OnSchemaChange {
  /** Keep the existing table's schema: new delta columns are dropped,
    * delta rows get NULL for any column they no longer carry. */
  case object Ignore extends OnSchemaChange
  /** Add columns the delta introduced; never drop. Existing rows get NULL
    * for the new columns. */
  case object AppendNewColumns extends OnSchemaChange
  /** Target schema becomes the delta's schema: columns the delta added
    * appear (old rows NULL), columns the delta dropped disappear. */
  case object SyncAllColumns extends OnSchemaChange
  /** Abort the run on any column-set difference. */
  case object Fail extends OnSchemaChange

  /** Projects `base` (the existing table) and `delta` (the new batch) onto
    * the policy's target schema, returning frames safe to unionByName.
    * Columns shared by both sides are assumed type-compatible (dbt
    * semantics — type drift surfaces via [[Diff.schemaDiff]] in CI, not
    * here). Pure projections — no shuffle, no data pass. */
  def align(base: DataFrame, delta: DataFrame,
            policy: OnSchemaChange): (DataFrame, DataFrame) = {
    def project(df: DataFrame, target: Seq[org.apache.spark.sql.types.StructField]) = {
      val have = df.columns.toSet
      df.select(target.map(f =>
        if (have.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)): _*)
    }
    policy match {
      case Ignore => (base, project(delta, base.schema.fields.toSeq))
      case AppendNewColumns =>
        val newCols = delta.schema.fields.filterNot(f => base.columns.contains(f.name))
        val target = base.schema.fields.toSeq ++ newCols
        (project(base, target), project(delta, target))
      case SyncAllColumns => (project(base, delta.schema.fields.toSeq), delta)
      case Fail =>
        val added = delta.columns.toSet -- base.columns
        val removed = base.columns.toSet -- delta.columns
        if (added.nonEmpty || removed.nonEmpty)
          throw new IllegalStateException(
            s"on_schema_change=fail: delta added ${added.toSeq.sorted.mkString(",")} " +
              s"removed ${removed.toSeq.sorted.mkString(",")}")
        (base, delta.select(base.columns.map(col).toIndexedSeq: _*))
    }
  }
}

/** Incremental materialization semantics — reference: dbt_project.yml
  * `on_schema_change: append_new_columns` + incremental merge behavior.
  */
object Incremental {
  /** Upsert merge: delta rows win over base rows on the unique key.
    * Implemented as union + row_number (one shuffle on the key). At 100 TB
    * the delta is small relative to base → prefer partition-overwrite of
    * only touched partitions; semantics identical. */
  def mergeLatest(orders: DataFrame): DataFrame = {
    val base = orders.select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), lit(0).as("src"))
    val delta = orders.filter(col("o_orderkey") % 10 === 0).select(
      col("o_orderkey"), col("o_custkey"),
      lit("U").as("o_orderstatus"),
      (col("o_totalprice") + 1).as("o_totalprice"), lit(1).as("src"))
    val w = Window.partitionBy("o_orderkey").orderBy(col("src").desc)
    base.unionAll(delta)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
  }

  /** dbt's `merge_update_columns` config: a matched key UPDATES only the
    * listed columns from the delta — every other column keeps the base
    * value (audit/created-at columns survive reloads); unmatched delta
    * keys INSERT whole. (`merge_exclude_columns` is the complement: pass
    * the non-excluded set.) One shuffle join on the key; at 100 TB the
    * base side is the big one and the join is the same SMJ any merge
    * pays — column selection is free projection on top. */
  def mergeColumns(base: DataFrame, delta: DataFrame, key: String,
                   updateColumns: Seq[String]): DataFrame = {
    val cols = base.columns.toSeq
    require(delta.columns.toSeq == cols, "merge requires aligned schemas")
    require(updateColumns.forall(cols.contains) && !updateColumns.contains(key))
    // matched-ness via presence markers, NOT key nullness: a null key never
    // matches in the equi-join, and key-IS-NOT-NULL would then claim the
    // (all-null) other side for every non-update column — silently nulling
    // the row's data out
    val d = delta.select(cols.map(c => col(c).as(s"__d_$c")) :+
      lit(true).as("__d_present"): _*)
    val b = base.withColumn("__b_present", lit(true))
    val matchedDelta = col("__d_present").isNotNull
    val matchedBase = col("__b_present").isNotNull
    b.join(d, col(key) === col(s"__d_$key"), "full_outer")
      .select(cols.map {
        case c if c == key =>
          coalesce(col(key), col(s"__d_$key")).as(key)
        case c if updateColumns.contains(c) =>
          when(matchedDelta, col(s"__d_$c")).otherwise(col(c)).as(c)
        case c =>
          when(matchedBase, col(c)).otherwise(col(s"__d_$c")).as(c)
      }: _*)
  }

  /** Driver query for [[mergeColumns]]: the delta flips status to 'U' and
    * bumps the price, but only o_totalprice is in merge_update_columns —
    * updated rows keep their ORIGINAL status; brand-new keys insert whole
    * (status 'N' survives because inserts are never column-filtered). */
  def mergeColumnsQuery(orders: DataFrame): DataFrame = {
    val base = orders.select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"))
    val updates = base.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        lit("U").as("o_orderstatus"), (col("o_totalprice") + 1).as("o_totalprice"))
    val inserts = base.filter(col("o_orderkey") % 1000 === 1)
      .select((col("o_orderkey") + 5000000L).as("o_orderkey"), col("o_custkey"),
        lit("N").as("o_orderstatus"), col("o_totalprice"))
    mergeColumns(base, updates.unionAll(inserts), "o_orderkey",
        updateColumns = Seq("o_totalprice"))
  }

  /** CDC changelog apply — materialize a Debezium/Delta-CDF-style change
    * stream (op ∈ I/U/D, monotone per-key `seq`) onto a base snapshot:
    * the latest op per key wins; a winning D removes the row. One shuffle
    * on the key (window row_number) — the same price as any merge; at
    * 100 TB prefer bucketing base and changelog on the key so the window
    * runs exchange-free on the bucketed scan. Base rows enter as seq-0
    * inserts, so a base-absent key with only a D in the log correctly
    * yields nothing. */
  def cdcApply(base: DataFrame, changes: DataFrame, key: String,
               seqCol: String = "seq", opCol: String = "op"): DataFrame = {
    val tagged = base.withColumn(seqCol, lit(0L)).withColumn(opCol, lit("I"))
    val w = Window.partitionBy(key).orderBy(col(seqCol).desc)
    tagged.unionByName(changes.select(tagged.columns.map(col): _*))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col(opCol) =!= "D")
      .drop("__rn", seqCol, opCol)
  }

  /** Driver query for [[cdcApply]]: updates (seq 1) on every 7th key,
    * deletes (seq 2) on every 13th — a key hit by both loses to the later
    * delete — plus fresh inserts; oracle restates the window semantics. */
  def cdcApplyQuery(orders: DataFrame): DataFrame = {
    val base = orders.select(col("o_orderkey"), col("o_orderstatus"),
      col("o_totalprice"))
    def tag(df: DataFrame, seq: Long, op: String): DataFrame =
      df.withColumn("seq", lit(seq)).withColumn("op", lit(op))
    val upd = tag(base.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
        (col("o_totalprice") + 10).as("o_totalprice")), 1L, "U")
    val del = tag(base.filter(col("o_orderkey") % 13 === 0), 2L, "D")
    val ins = tag(base.filter(col("o_orderkey") % 101 === 0)
      .select((col("o_orderkey") + 6000000L).as("o_orderkey"),
        lit("N").as("o_orderstatus"), col("o_totalprice")), 1L, "I")
    cdcApply(base, upd.unionByName(del).unionByName(ins), "o_orderkey")
  }

  /** `append_new_columns`: a new batch arrives with an extra column; old
    * rows get NULL. Spark-first: unionByName(allowMissingColumns). */
  def schemaEvolution(orders: DataFrame): DataFrame = {
    val cutoff = lit("1998-01-01")
    val base = orders.filter(col("o_orderdate") < cutoff)
      .select(col("o_orderkey"), col("o_totalprice"))
    val delta = orders.filter(col("o_orderdate") >= cutoff)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    base.unionByName(delta, allowMissingColumns = true)
  }

  /** dbt 1.9 `microbatch` incremental strategy: rows carry an `event_time`;
    * the run splits the delta into `granularity` periods and each period is
    * REPLACED wholesale in the target — no unique_key, no merge. A base row
    * whose period the delta touches disappears unless the delta re-emits
    * it; untouched periods are never rewritten. Physically this is dynamic
    * partition overwrite on the period column ([[Materialize.incremental]]),
    * so at 100 TB the anti-join below is partition PRUNING — the delta's
    * period set is tiny (AQE broadcasts it) and base partitions outside it
    * are metadata-skipped, never scanned. */
  def microbatch(base: DataFrame, delta: DataFrame, eventTimeCol: String,
                 granularity: String = "month"): DataFrame = {
    val period = (df: DataFrame) =>
      date_trunc(granularity, col(eventTimeCol).cast("timestamp"))
    val deltaPeriods = delta.select(period(delta).as("__period")).distinct()
    base.withColumn("__period", period(base))
      .join(deltaPeriods, Seq("__period"), "left_anti")
      .drop("__period")
      .unionByName(delta)
  }

  /** `sync_all_columns`: the new batch DROPS a column (o_orderstatus) and
    * ADDS one (o_custkey); the merged table follows the batch's schema —
    * old rows get NULL for the addition, the dropped column disappears. */
  def schemaSync(orders: DataFrame): DataFrame = {
    val cutoff = lit("1998-01-01")
    val base = orders.filter(col("o_orderdate") < cutoff)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    val delta = orders.filter(col("o_orderdate") >= cutoff)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_custkey"))
    val (b, d) = OnSchemaChange.align(base, delta, OnSchemaChange.SyncAllColumns)
    b.unionByName(d)
  }
}

/** dbt data tests — reference: the models' yml (`unique`, `not_null`) plus the
  * other two dbt built-ins. Each test is a distributed aggregate returning a
  * violation count; the suite unions the summary rows. The three tests
  * on `orders` alone share one scan: the row-local counts
  * (`accepted_values`, `not_null`) ride as conditional counts on the
  * per-key aggregate that `unique` needs. `relationships` drops NULL child
  * keys first, as dbt does: a NULL `o_custkey` is `not_null`'s violation,
  * not a dangling reference.
  */
object Checks {
  def testSuite(orders: DataFrame, customer: DataFrame): DataFrame = {
    val onOrders = orders.groupBy("o_orderkey")
      .agg(count(lit(1)).as("n"),
           count(when(!col("o_orderstatus").isin("O", "F", "P"), lit(1))).as("av"),
           count(when(col("o_custkey").isNull, lit(1))).as("nn"))
      .agg(coalesce(sum("av"), lit(0L)).as("av"),
           coalesce(sum("nn"), lit(0L)).as("nn"),
           count(when(col("n") > 1, lit(1))).as("uq"))
      .select(expr("stack(3, 'accepted_values_o_orderstatus', av, " +
        "'not_null_o_custkey', nn, 'unique_o_orderkey', uq) " +
        "AS (test_name, violations)"))
    val relationships =
      orders.filter(col("o_custkey").isNotNull)
        .join(customer, col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("violations"))
        .select(lit("relationships_o_custkey").as("test_name"), col("violations"))
    onOrders.unionAll(relationships)
  }
}

/** dbt `store_failures`: persist the violating ROWS of a test, not just the
  * count — here an accepted_values test over order priority tiers. */
object StoreFailures {
  def priorityFailures(orders: DataFrame,
                       accepted: Seq[String] = Seq("1-URGENT", "2-HIGH", "3-MEDIUM")): DataFrame =
    orders.filter(!col("o_orderpriority").isin(accepted: _*))
      .select(lit("accepted_values_o_orderpriority").as("test_name"),
              col("o_orderkey"), col("o_orderpriority"))
}

/** Column-level data profiling (the dbt-utils / warehouse-profiler
  * staple): null + distinct counts per column from a single aggregate,
  * melted to (column, metric) rows via explode-of-structs (pure Column
  * API — no SQL string interpolation, so any column name is safe).
  *
  * Scale note: N EXACT distinct aggregates in one agg go through Spark's
  * Expand rewrite ((N+1)x row amplification before the shuffle). For wide
  * tables at 100 TB pass `approximate = true` — HLL sketches need no
  * Expand and make this a true single pass. */
object Profile {
  def tableProfile(df: DataFrame, columns: Seq[String],
                   approximate: Boolean = false): DataFrame = {
    require(columns.nonEmpty, "tableProfile needs at least one column")
    def distinctAgg(c: String) =
      if (approximate) approx_count_distinct(col(c), rsd = 0.02)
      else countDistinct(col(c))
    val aggs = columns.flatMap { c =>
      Seq(coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)), lit(0L))
            .as(s"${c}__nulls"),
          distinctAgg(c).as(s"${c}__distinct"))
    }
    val row = df.agg(count(lit(1)).as("__rows"), aggs: _*)
    val melted = explode(array(columns.map(c => struct(
      lit(c).as("column_name"),
      col(s"${c}__nulls").as("n_nulls"),
      col(s"${c}__distinct").as("n_distinct"))): _*)).as("m")
    row.select(col("__rows").as("n_rows"), melted)
      .select(col("m.column_name").as("column_name"), col("n_rows"),
              col("m.n_nulls").as("n_nulls"), col("m.n_distinct").as("n_distinct"))
  }
}

/** Training-corpus curation: budgeted selection and stratified sampling. */
object Curation {
  /** Token-budget selection: per language, take documents in doc_id order
    * until the cumulative estimated-token count exceeds the budget. One
    * data-scale shuffle; the running sum is exact integer tokens, computed
    * as a DISTRIBUTED two-phase prefix sum ([[graft.util.PrefixSum]]) so no
    * single task ever scans a whole language — the per-lang
    * unbounded-preceding window this replaces was the engine's last serial
    * data-scale path (a handful of langs at 100 TB = a few giant
    * single-task sorted scans). */
  def tokenBudget(documents: DataFrame, budgetPerLang: Long = 2000): DataFrame = {
    val est = graft.util.TextNorm.estTokens(col("text"))
    graft.util.PrefixSum.cumSum(
        documents.select(col("doc_id"), col("lang"), est.as("est_tokens")),
        Seq("lang"), "doc_id", "est_tokens", "cum_tokens")
      .filter(col("cum_tokens") <= budgetPerLang)
  }

  /** SPAN-level sequence packing (r14 — [[sequencePack]]'s refinement:
    * that op assigns each doc its STARTING bin and flags boundary
    * spanners; this one emits the full (document, sequence) overlap
    * decomposition a trainer actually consumes — an attention-mask
    * builder needs exactly these spans to reset attention at doc
    * boundaries, and a sequence materializer needs both offsets to
    * place each doc slice without re-deriving global positions):
    *
    *   (doc_id, lang, seq_id, doc_off, seq_off, n_toks)
    *
    * per overlapped sequence — doc_off = the first packed token's
    * offset within the DOC, seq_off = within the SEQUENCE, n_toks = the
    * span length. Same stream definition as [[sequencePack]] (per-lang
    * concatenation in doc_id order, estTokens lengths), so the two ops
    * are mutually checking: a doc's first span sits at (bin_id,
    * bin_offset), it has >1 span iff spans_boundary, and its spans'
    * n_toks sum to its token count (spec-pinned).
    *
    * The per-lang token offsets ride [[graft.util.PrefixSum]]'s
    * two-phase exchange (never a whole-language serial window); every
    * span is then per-row integer arithmetic exploded over the
    * ≤ n/seqLen+1 sequences a doc touches. Exactly SQL-expressible —
    * the oracle states the window cumsum + span arithmetic verbatim. */
  def sequencePackSpans(documents: DataFrame,
                        contextTokens: Long = 2048): DataFrame = {
    require(contextTokens >= 1, s"contextTokens must be positive, got $contextTokens")
    val est = graft.util.TextNorm.estTokens(col("text"))
    val withS = graft.util.PrefixSum.cumSum(
      documents.select(col("doc_id"), col("lang"), est.as("n")),
      Seq("lang"), "doc_id", "n", "s", inclusive = false)
    spanRows(withS, contextTokens)
  }

  /** The span arithmetic shared by [[sequencePackSpans]] and the
    * streaming packing ingest loop: a (doc_id, lang, n, s) frame — n =
    * token count, s = the doc's EXCLUSIVE global token offset within
    * its language stream — exploded into per-(doc, sequence) spans.
    * n = 0 docs (empty text) occupy no tokens and emit no span — the
    * filter sits AFTER the offsets were computed, where they
    * contributed 0, so positions stay aligned with [[sequencePack]]'s. */
  private[graft] def spanRows(withS: DataFrame,
                              contextTokens: Long): DataFrame = {
    val L = lit(contextTokens)
    val spanStart = greatest(col("s"), col("seq_id") * L)
    withS.filter(col("n") > 0)
      .select(col("doc_id"), col("lang"), col("n"), col("s"),
        explode(sequence(expr(s"s div ${contextTokens}L"),
          expr(s"(s + n - 1) div ${contextTokens}L"))).as("seq_id"))
      .select(col("doc_id"), col("lang"), col("seq_id"),
        (spanStart - col("s")).as("doc_off"),
        (spanStart - col("seq_id") * L).as("seq_off"),
        (least(col("s") + col("n"), (col("seq_id") + 1) * L) - spanStart)
          .as("n_toks"))
  }

  /** Packed-sequence MATERIALIZER (r15 — the consumer step
    * [[sequencePackSpans]]'s spans exist for): one row per packed
    * sequence with what a trainer's collator needs to assemble the
    * batch — the ordered token-slice list (which doc, from which doc
    * offset, how many tokens) and the attention-reset boundary list
    * (each span's start offset within the sequence: attention must not
    * cross document boundaries inside a packed sequence). Pure integer
    * arithmetic over the span table + ONE groupBy(lang, seq_id).
    *
    * The lists render as canonical STRINGS ("doc:doc_off:n_toks;…" /
    * "off,off,…"), ordered by seq_off: the cross-engine hash compare
    * lexsorts rows and hashes cell values, so nested arrays (pandas-
    * side unhashable ndarrays) can't adjudicate — the string closed
    * form is engine-portable and total-ordered. collect_list is
    * bounded by construction: a sequence holds at most contextTokens
    * spans (each span ≥ 1 token), so no group outgrows memory at any
    * corpus size; the offsets already rode the distributed prefix sum. */
  def packedSequences(documents: DataFrame,
                      contextTokens: Long = 2048): DataFrame = {
    val spans = sequencePackSpans(documents, contextTokens)
    val sorted = array_sort(collect_list(struct(
      col("seq_off"), col("doc_id"), col("doc_off"), col("n_toks"))))
    spans.groupBy("lang", "seq_id")
      .agg(count(lit(1)).as("n_spans"),
        sum("n_toks").as("n_toks"),
        array_join(transform(sorted, s => concat_ws(":",
          s.getField("doc_id"), s.getField("doc_off"),
          s.getField("n_toks"))), ";").as("slices"),
        array_join(transform(sorted, s =>
          s.getField("seq_off").cast("string")), ",").as("resets"))
  }

  /** End-to-end tokenize → pack (r16 — the composition a training
    * pipeline actually ships, closing the estTokens proxy gap: every
    * packing op so far measured documents in word-count proxies, which
    * a real trainer never sees): the corpus tokenizes with TRAINED
    * merge rules ([[TextAnalysis.bpeTokenizeDocs]] — the fold priced
    * per corpus-distinct word, occurrences riding a join) and the
    * REAL per-doc token counts feed the same per-lang concatenated
    * stream as [[sequencePackSpans]] (distributed prefix sum, integer
    * span arithmetic — no new shuffle shape, only the honest n).
    * Wordless docs occupy no tokens and emit no span, exactly as the
    * n = 0 drop there. Output shape = the span table's:
    * (doc_id, lang, seq_id, doc_off, seq_off, n_toks). `byteLevel`
    * packs on the BYTE tokenizer's counts instead (r17 — the chain
    * accepts either trained tokenizer; rules from
    * [[TextAnalysis.trainBpeBytesMerges]]). */
  def tokenizePack(documents: DataFrame,
                   merges: Seq[(Int, String, String)],
                   contextTokens: Long = 2048,
                   byteLevel: Boolean = false): DataFrame = {
    require(contextTokens >= 1,
      s"contextTokens must be positive, got $contextTokens")
    val toks = (if (byteLevel)
        TextAnalysis.bpeTokenizeDocsBytes(documents, merges)
      else TextAnalysis.bpeTokenizeDocs(documents, merges))
      .select(col("doc_id"), col("n_tokens").as("n"))
    val withN = documents.select(col("doc_id"), col("lang"))
      .join(toks, Seq("doc_id"))
    val withS = graft.util.PrefixSum.cumSum(
      withN, Seq("lang"), "doc_id", "n", "s", inclusive = false)
    spanRows(withS, contextTokens)
  }

  /** Packed TOKEN sequences (r16 — the trainer-ready artifact the whole
    * tokenize → pack chain exists to produce: [[packedSequences]] tells
    * a collator WHERE each slice lives; this materializes the slices'
    * actual token IDS, so one row IS one training sequence): spans come
    * from [[tokenizePack]]'s real-count stream, each span slices its
    * doc's id array ([doc_off, doc_off + n_toks)), and the sequence
    * reassembles in seq_off order — token ids as the canonical
    * comma-joined string, attention-reset boundaries as in
    * [[packedSequences]]. One groupBy(lang, seq_id); the per-sequence
    * collect is bounded by contextTokens TOKENS (the slices tile the
    * sequence), so no group outgrows memory at any corpus size. The
    * ids-by-doc join adds one doc_id-keyed exchange over the tokenized
    * table — the data being materialized; nothing corpus-scale ever
    * leaves the engine.
    *
    * Hot-doc shape (r16 What's-wrong #2 — the r16 form joined the SPAN
    * table against the tokenized table and sliced after the join, so a
    * length-L doc's full `ids` array materialized once PER SPAN:
    * O(L²/ctx) transient bytes, ~500 full-array copies for a 1M-token
    * doc at ctx 2048): spans first group per doc (bounded by L/ctx
    * rows), the ids join then sees ONE row per doc, and every slice is
    * cut from that single array materialization in one in-row
    * `transform` — O(L) bytes per doc however long the doc. Slices
    * still explode BEFORE the groupBy exchange, so shuffle volume is
    * unchanged (the tokens being materialized, exactly once). */
  def packedTokenSequences(documents: DataFrame,
                           merges: Seq[(Int, String, String)],
                           contextTokens: Long = 2048,
                           byteLevel: Boolean = false): DataFrame = {
    require(contextTokens >= 1,
      s"contextTokens must be positive, got $contextTokens")
    val tok = TextAnalysis.bpeTokenizeArr(documents, merges, byteLevel)
      .select(col("doc_id"), col("n_tokens").as("n"), col("ids"))
    val withN = documents.select(col("doc_id"), col("lang"))
      .join(tok.select("doc_id", "n"), Seq("doc_id"))
    val withS = graft.util.PrefixSum.cumSum(
      withN, Seq("lang"), "doc_id", "n", "s", inclusive = false)
    val spans = spanRows(withS, contextTokens)
    val perDoc = spans.groupBy("doc_id", "lang")
      .agg(collect_list(struct(col("seq_id"), col("doc_off"),
        col("seq_off"), col("n_toks"))).as("__sp"))
    val sliced = perDoc.join(tok.select("doc_id", "ids"), Seq("doc_id"))
      .select(col("doc_id"), col("lang"),
        explode(transform(col("__sp"), sp => struct(
          sp.getField("seq_id").as("seq_id"),
          sp.getField("seq_off").as("seq_off"),
          sp.getField("n_toks").as("n_toks"),
          slice(col("ids"), (sp.getField("doc_off") + 1).cast("int"),
            sp.getField("n_toks").cast("int")).as("__slice")))).as("__e"))
      .select(col("doc_id"), col("lang"), col("__e.seq_id").as("seq_id"),
        col("__e.seq_off").as("seq_off"), col("__e.n_toks").as("n_toks"),
        col("__e.__slice").as("__slice"))
    val sorted = array_sort(collect_list(struct(
      col("seq_off"), col("__slice"))))
    sliced.groupBy("lang", "seq_id")
      .agg(count(lit(1)).as("n_spans"),
        sum("n_toks").as("n_toks"),
        array_join(transform(flatten(transform(sorted,
            s => s.getField("__slice"))), i => i.cast("string")), ",")
          .as("token_ids"),
        array_join(transform(sorted,
          s => s.getField("seq_off").cast("string")), ",").as("resets"))
  }

  /** URL canonicalization (r14 — the FIRST dedup key of a crawl
    * pipeline: Dolma/FineWeb drop refetches by URL before any content
    * hashing, and a crawl reaches the same page under casing/port/
    * fragment/tracking-param variants): a deterministic, engine-
    * portable normalization both engines state identically —
    *  1. strip the fragment (`#…` never reaches the server);
    *  2. lowercase scheme + authority (host names are case-insensitive;
    *     the PATH is not — it stays untouched);
    *  3. drop the scheme's OWN default port — `:80` only under `http`,
    *     `:443` only under `https` (r15 ADVICE: an unconditional strip
    *     merged `http://host:443/p` with `http://host/p`, a genuinely
    *     different origin — a false-positive merge urlDedup would then
    *     DROP a distinct document on);
    *  4. drop tracking params (`utm_*`, `gclid`, `fbclid`) and SORT the
    *     surviving query params (param order is not semantic).
    * Non-hierarchical inputs (no `scheme://authority`) pass through
    * unchanged — refuse-to-guess, not a fabricated canonical form. */
  def canonicalUrl(u: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val base = regexp_replace(u, "#.*$", "")
    val pre = regexp_extract(base, "^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?]*", 0)
    val preN = regexp_replace(regexp_replace(lower(pre),
      "^(http://[^/?]*):80$", "$1"), "^(https://[^/?]*):443$", "$1")
    val tail = substring(base, length(pre) + 1, lit(1000000))
    val path = regexp_replace(tail, "\\?.*$", "")
    val query = regexp_extract(tail, "\\?(.*)$", 1)
    val params = array_sort(filter(split(query, "&"), p =>
      p =!= "" && !p.rlike("^(utm_[^=]*|gclid|fbclid)(=|$)")))
    when(pre === "", base).otherwise(
      concat(preN, path,
        when(size(params) > 0, concat(lit("?"), array_join(params, "&")))
          .otherwise(lit(""))))
  }

  /** URL-level dedup over a (…, `urlCol`) frame: attach the canonical
    * form and the keep decision (first doc_id per canonical URL — the
    * refetch-drop rule). The normalization itself is scan-bound string
    * arithmetic. Output = input columns + (url_canonical, keep).
    *
    * Skew shape (r15 — was `min().over(partitionBy(url_canonical))`):
    * crawl refetch counts are heavy-tailed — one hot URL refetched 10⁷
    * times would land in ONE window task, and real crawl rows carry
    * their full payload through that window's exchange + SORT (the
    * sort is the killer: the hot task must buffer/spill every hot
    * row). The keep rule is instead:
    *  1. a map-side-combinable `groupBy(canonical).min` — partial
    *     aggregation shrinks the hot key to one (canonical, min) pair
    *     per input partition BEFORE the exchange, so the min table is
    *     distinct-URL-sized however hot the key;
    *  2. joined back under a SHUFFLE_HASH hint — no sort on the
    *     payload side (rows stream past a small per-partition build
    *     table), and AQE's skew-join split applies to shuffled hash
    *     joins, so the hot partition CAN be split at runtime — a
    *     window never can. AQE still upgrades to broadcast when the
    *     min table is small.
    * Same semantics, measured in SCALE_DEMO_r15 §8 on a planted
    * 40%-hot refetch storm with payload-bearing rows. PlanSpec pins
    * the shape (partial agg, hash join, no Window, no sort). */
  def urlDedup(documents: DataFrame, urlCol: String = "url"): DataFrame = {
    val canon = documents.withColumn("url_canonical",
      canonicalUrl(col(urlCol)))
      // a NULL url has no canonical identity to dedup on — but SQL null
      // never equals null, so a join keyed on url_canonical alone would
      // silently DROP null-url rows the r14 window kept (r15 ADVICE).
      // The join key is a struct giving each null-key row its own
      // doc_id-distinguished key: trivially first-seen, keep = true,
      // url_canonical stays NULL in the output. Collision-proof by
      // type, not by sentinel-string luck: non-null rows carry n = -1,
      // null rows their doc_id ≥ 0.
      .withColumn("__url_key", struct(
        coalesce(col("url_canonical"), lit("")).as("u"),
        when(col("url_canonical").isNull, col("doc_id"))
          .otherwise(lit(-1L)).as("n")))
    val firstSeen = canon.groupBy("__url_key")
      .agg(min(col("doc_id")).as("__first_doc"))
    canon.join(firstSeen.hint("shuffle_hash"), Seq("__url_key"))
      .withColumn("keep", col("doc_id") === col("__first_doc"))
      .select((documents.columns.toSeq :+ "url_canonical" :+ "keep")
        .map(col): _*)
  }

  /** The default lang stage of [[crawlCurate]]: the weak-supervised
    * trained model ([[TextAnalysis.langIdWeak]] — heuristic-confident
    * rows label, the NB model scores everyone), projected to the
    * (doc_id, predicted_lang) drop-in shape. */
  def weakLangStage(docs: DataFrame): DataFrame =
    TextAnalysis.langIdWeak(docs).select("doc_id", "predicted_lang")

  /** The FULL crawl-curation pipeline (r15 capstone; r17 makes the
    * lang stage PLUGGABLE with the trained model as the default, and
    * adds the revisit fate): ingested crawl records — `(doc_id,
    * warc_type, url, payload_digest, html)`, responses AND revisits —
    * flow through
    *  1. revisit resolution FIRST (the CommonCrawl shortcut D91
    *     proved): a `revisit` record carries no payload, so its fate
    *     decides by a digest join against the batch's responses —
    *     `revisit_dup` when the original is present, `revisit_orphan`
    *     when it lives in another segment; refetched-unchanged pages
    *     never reach text extraction at all;
    *  2. the DOMAIN GATE (r17, optional `blockedDomains`): eTLD+1 of
    *     the URL against the blocklist, URL-ONLY and before
    *     extraction — blocked registrants' pages never pay the HTML
    *     kernel or any later stage (`domain_blocked`);
    *  3. block-level boilerplate removal (htmlToMainText);
    *  4. URL dedup (canonical first-seen, skew-safe groupBy-min);
    *  5. exact-content dedup among URL survivors;
    *  6. the LANG STAGE — any `(doc_id, text) => (doc_id,
    *     predicted_lang)` frame function; default = the trained
    *     weak-supervised model ([[weakLangStage]]) — a labeled-fixture
    *     [[TextAnalysis.langIdModel]] plugs in to name languages no
    *     lexicon covers (spec-exercised), and [[TextAnalysis.langId]]
    *     remains available as the heuristic twin;
    *  7. the Gopher gauntlet.
    * Output: ONE per-document fate table (doc_id, url_canonical,
    * predicted_lang, n_words, fate) over every record — fates
    * domain_blocked / url_dup / exact_dup / revisit_dup /
    * revisit_orphan / the gauntlet's first_fail / kept; revisit and
    * blocked rows carry NULL lang and n_words (there is no analyzed
    * body — stating that honestly beats fabricating columns). Stage costs: scan-bound until the
    * canonical-key and digest exchanges; the digest join's response
    * side reduces to its distinct digests before joining, so a
    * syndicated-digest storm cannot fan the revisit side out. */
  def crawlCurate(recs: DataFrame,
                  langStage: DataFrame => DataFrame = weakLangStage,
                  blockedDomains: Seq[String] = Nil)
      : DataFrame = {
    val s = recs.sparkSession
    def none(c: String): DataFrame =
      s.range(0).select(col("id").cast("string").as(c))
    crawlCurateIncremental(recs, none("url_canonical"), none("digest"),
      none("payload_digest"), langStage, blockedDomains)._1
  }

  /** [[crawlCurate]] against PRIOR state — the core the streaming
    * ingest loop ([[graft.streaming.StreamOps.crawlCurateIngestBatch]])
    * drives batch after batch, and that [[crawlCurate]] runs with
    * empty priors (cold single batch ≡ the batch funnel by
    * construction — they are the same code path). The three prior
    * frames extend each first-seen rule across batches:
    *  - `priorUrls` (url_canonical): a canonical seen in ANY earlier
    *    batch makes this batch's arrivals `url_dup` (within-batch
    *    first-seen still breaks ties by min doc_id);
    *  - `priorDigests` (digest): a content digest already claimed by
    *    an earlier batch's URL survivor makes a later syndicated copy
    *    `exact_dup` even at a fresh URL;
    *  - `priorRespDigests` (payload_digest): a revisit whose original
    *    response arrived in an EARLIER batch still resolves
    *    `revisit_dup` — the cross-segment case the batch funnel
    *    cannot see.
    * Returns (report, urlDelta, digestDelta, respDelta): the fate
    * table plus the keys each index does NOT yet hold (anti-joined
    * against the prior — the index stays ONE row per key forever, so
    * the flag joins never fan out and no lifetime-sized distinct runs
    * per batch). The lang stage trains per batch (the weak bootstrap needs
    * no carried model; a deployment wanting frozen scores would
    * persist the model table, the dsirIngest pattern). Scale: every
    * prior join keys the BATCH side against the index side on a
    * single column; at a crawl-lifetime index size the index wants
    * bucketing by its key so only the batch side shuffles — the same
    * shape as the neardup band-index probe. NULL canonicals never
    * match a prior (SQL null inequality), so null-URL rows keep their
    * r16 keep-with-NULL verdict across batches. */
  def crawlCurateIncremental(recs: DataFrame, priorUrls: DataFrame,
      priorDigests: DataFrame, priorRespDigests: DataFrame,
      langStage: DataFrame => DataFrame = weakLangStage,
      blockedDomains: Seq[String] = Nil)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val allResponses = recs.filter(col("warc_type") === "response")
    val revisits = recs.filter(col("warc_type") === "revisit")
    // the DOMAIN GATE decides URL-only and FIRST among response
    // stages (the CCNet/RefinedWeb blocklist, keyed on eTLD+1): a
    // blocked registrant's pages never pay the HTML kernel, the dedup
    // exchanges, or the model — at crawl scale the gate is a literal
    // scan filter, and the blocklist's job is precisely to make the
    // expensive stages never see those bytes. Applies to responses
    // (it exists to stop extraction and keeps); a revisit's fate
    // stays fetch-time identity — the blocked-ness of its original
    // is visible on the original's own row. Non-hierarchical URLs
    // (NULL host) pass the gate: refuse-to-guess, the r16 null-URL
    // stance.
    // the gate's host and verdict are EvalOnce-fenced (the urlDomainsWith
    // rule, r18 — a plain deterministic projection does NOT stop pushdown
    // substitution: the r17 plans showed the filters re-inlining the whole
    // url→host→registrant tree, 10 regexp sites, __host collapsed away):
    // registeredDomain references host ~a dozen times and BOTH fates
    // filter on the verdict, so unfenced each filter re-derived
    // urlHost(url) per reference — the generated predicate that outgrew
    // the JIT on domain_quota_psl. Fenced, urlHost and the registrant
    // chain evaluate once per response row.
    val gated = allResponses
      .withColumn("__host",
        if (blockedDomains.isEmpty) lit(null).cast("string")
        else graft.functions.EvalOnce(urlHost(col("url"))))
      .withColumn("__blocked",
        if (blockedDomains.isEmpty) lit(false)
        else graft.functions.EvalOnce(coalesce(
          registeredDomain(col("__host")).isin(blockedDomains: _*),
          lit(false))))
    val responses = gated.filter(!col("__blocked"))
      .drop("__blocked", "__host")
    val blockedFates = gated.filter(col("__blocked"))
      .select(col("doc_id"), canonicalUrl(col("url")).as("url_canonical"),
        lit(null).cast("string").as("predicted_lang"),
        lit(null).cast("long").as("n_words"),
        lit("domain_blocked").as("fate"))
    // extraction is the funnel's compute-heavy step and EVERY later
    // stage re-reads its output — URL dedup, the content digest, the
    // NB lang stage's ~6 plan branches (tf/model/priors/scoring), the
    // gauntlet. Materialize it once (lazy local checkpoint, same
    // pattern as Dedup's banded reuse): per ingest batch the extracted
    // text is the working set every stage scans anyway, and without
    // this each branch re-runs the HTML kernel over the batch.
    val ext = graft.operators.TextAnalysis.htmlToMainText(
      responses.select("doc_id", "url", "html")).localCheckpoint(false)
    // prior indexes hold each key ONCE (deltas below are anti-joined
    // before appending), so the flag joins cannot fan out and no
    // per-batch distinct over a lifetime-sized index is ever needed
    val priorU = priorUrls.select("url_canonical")
      .withColumn("__pu", lit(true))
    val ud = urlDedup(ext).join(priorU, Seq("url_canonical"), "left")
      .withColumn("keep", col("keep") && col("__pu").isNull)
    val survivors = ud.filter(col("keep"))
      .select(col("doc_id"), md5(lower(trim(col("text")))).as("digest"))
    val firstSeen = survivors.groupBy("digest")
      .agg(min("doc_id").as("__first"))
    val priorD = priorDigests.select("digest").withColumn("__pd", lit(true))
    val contentKeep = survivors.join(firstSeen, Seq("digest"))
      .join(priorD, Seq("digest"), "left")
      .select(col("doc_id"),
        (col("doc_id") === col("__first") && col("__pd").isNull)
          .as("content_keep"))
    val lang = langStage(ext.select("doc_id", "text"))
      .select("doc_id", "predicted_lang")
    val gq = graft.operators.TextAnalysis.gopherQuality(
        ext.select("doc_id", "text"))
      .select(col("doc_id"), col("n_words"), col("first_fail"))
    val respFates = ud.select("doc_id", "url_canonical", "keep")
      // LEFT: a degenerate batch with zero confident weak labels has
      // no trained model — its docs report a NULL lang, they do not
      // vanish from the fate table
      .join(contentKeep, Seq("doc_id"), "left")
      .join(lang, Seq("doc_id"), "left")
      .join(gq, Seq("doc_id"))
      .select(col("doc_id"), col("url_canonical"), col("predicted_lang"),
        col("n_words"),
        when(!col("keep"), lit("url_dup"))
          .when(!col("content_keep"), lit("exact_dup"))
          .when(col("first_fail") =!= "", col("first_fail"))
          .otherwise(lit("kept")).as("fate"))
    // revisit resolution by SEMI/ANTI join — existence is the question,
    // so neither side needs a distinct and a syndicated-digest storm
    // (or a lifetime-sized prior index) cannot fan the revisit side out.
    // Fetch-time digest identity covers EVERY response, blocked included.
    val respSeen = allResponses.select("payload_digest")
      .unionByName(priorRespDigests.select("payload_digest"))
    val revKeyed = revisits.select(col("doc_id"), col("url"),
      col("payload_digest"))
    def revFate(rows: DataFrame, fate: String): DataFrame =
      rows.select(col("doc_id"), canonicalUrl(col("url")).as("url_canonical"),
        lit(null).cast("string").as("predicted_lang"),
        lit(null).cast("long").as("n_words"), lit(fate).as("fate"))
    val revFates = revFate(
        revKeyed.join(respSeen, Seq("payload_digest"), "left_semi"),
        "revisit_dup")
      .unionByName(revFate(
        revKeyed.join(respSeen, Seq("payload_digest"), "left_anti"),
        "revisit_orphan"))
    val report = respFates.unionByName(revFates).unionByName(blockedFates)
    // deltas carry only keys the index does NOT already hold, so the
    // index stays one row per key forever and per-batch append volume
    // is bounded by the batch's NEW keys, not its arrivals. Blocked
    // URLs never claim first-seen (they never compete for a keep);
    // their payload digests DO persist (fetch-time identity).
    val urlDelta = ud.filter(col("url_canonical").isNotNull)
      .select("url_canonical").distinct()
      .join(priorUrls.select("url_canonical"), Seq("url_canonical"),
        "left_anti")
    val digestDelta = survivors.select("digest").distinct()
      .join(priorDigests.select("digest"), Seq("digest"), "left_anti")
    val respDelta = allResponses.select("payload_digest").distinct()
      .join(priorRespDigests.select("payload_digest"),
        Seq("payload_digest"), "left_anti")
    (report, urlDelta, digestDelta, respDelta)
  }

  /** Host of a hierarchical URL (r16 — the key every domain-level
    * curation step needs from RAW crawl URLs: quotas, blocklists,
    * per-site stats all group on it): the authority lowercased, minus
    * userinfo and port. Non-hierarchical inputs yield NULL — refusing
    * to guess, unlike [[canonicalUrl]]'s passthrough, because a host
    * column with free text in it poisons every downstream groupBy.
    * Bracketed IPv6 literals keep their brackets (the port strip stops
    * at the bracket). Scan-bound, RE2-compatible. */
  def urlHost(u: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val auth = regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)", 1)
    val host = lower(regexp_replace(regexp_replace(auth, "^[^@]*@", ""),
      ":[0-9]*$", ""))
    when(auth === "" || auth.isNull, lit(null).cast("string"))
      .otherwise(host)
  }

  /** The two-label public suffixes this build recognizes — a documented
    * SUBSET of the Mozilla Public Suffix List (the full PSL is a data
    * file; the zero-egress build ships the mechanism plus the common
    * entries, and unknown multi-label suffixes fall back honestly to
    * last-two-labels). Swap in the full list for production. */
  val twoLabelSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "net.uk",
    "com.au", "net.au", "org.au", "co.jp", "ne.jp", "or.jp", "ac.jp",
    "com.br", "com.cn", "com.mx", "co.in", "co.za", "com.ar", "com.tr",
    "co.kr", "com.sg", "com.hk", "co.nz", "com.tw")

  /** Registered domain (eTLD+1) of a host under [[twoLabelSuffixes]]:
    * the unit crawl pipelines quota and block on (every subdomain of
    * one registrant is one "domain"). IP literals and single-label
    * hosts pass through whole. NULL host → NULL. */
  def registeredDomain(host: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val parts = split(host, "\\.")
    val n = size(parts)
    val last2 = concat_ws(".", element_at(parts, -2), element_at(parts, -1))
    val last3 = concat_ws(".", element_at(parts, -3),
      element_at(parts, -2), element_at(parts, -1))
    val isIp = host.rlike("^[0-9.]+$") || host.startsWith("[")
    when(host.isNull, lit(null).cast("string"))
      .when(isIp || n <= 2, host)
      .when(last2.isInCollection(twoLabelSuffixes), last3)
      .otherwise(last2)
  }

  /** A parsed Public Suffix List rule set (r17 — the loadable mechanism
    * [[twoLabelSuffixes]] is the zero-input default of: real crawl
    * quotas and blocklists key on eTLD+1 under the full Mozilla PSL,
    * ~9k rules including wildcard `*.ck` and exception `!www.ck`
    * forms, and an unknown multi-label suffix under the subset
    * silently merges distinct registrants). Rules are grouped by label
    * count so each membership probe compares same-arity suffixes, and
    * `wildcard` stores the PARENT suffix (the labels after `*.`).
    * The set is reference data, bounded by the published list — the
    * broadcast-literal exception class, never corpus-scale. */
  final case class PslRules(exact: Map[Int, Set[String]],
                            wildcard: Map[Int, Set[String]],
                            exception: Map[Int, Set[String]]) {
    /** Longest rule, in labels, counting the wildcard's `*`. */
    private[graft] def maxLabels: Int =
      (exact.keys ++ wildcard.keys.map(_ + 1) ++ exception.keys ++
        Seq(1)).max
  }

  object PslRules {
    private def labelsOf(r: String): Int = r.count(_ == '.') + 1

    /** Parse PSL-format lines: `//` comments and blank lines drop, a
      * rule is the text up to the first whitespace (the published file
      * carries trailing annotations), `!rule` is an exception,
      * `*.rule` a wildcard (stored by its parent), anything else
      * exact. Case-insensitive per the spec. */
    def parse(lines: IterableOnce[String]): PslRules = {
      val rules = lines.iterator.map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("//"))
        .map(_.takeWhile(!_.isWhitespace).toLowerCase(java.util.Locale.ROOT))
        .filter(_.nonEmpty).toSeq
      def bySize(rs: Seq[String]): Map[Int, Set[String]] =
        rs.groupBy(labelsOf).view.mapValues(_.toSet).toMap
      PslRules(
        exact = bySize(rules.filterNot(r =>
          r.startsWith("!") || r.startsWith("*."))),
        wildcard = bySize(rules.filter(_.startsWith("*."))
          .map(_.drop(2)).filter(_.nonEmpty)),
        exception = bySize(rules.filter(_.startsWith("!")).map(_.drop(1))))
    }

    /** Load a PSL data file through the session's Hadoop-aware reader
      * (object stores included). The collect is the published list —
      * bounded reference data, not corpus data. */
    def load(spark: org.apache.spark.sql.SparkSession, path: String): PslRules =
      parse(spark.read.textFile(path).collect())
  }

  /** Registered domain (eTLD+1) of a host under a LOADED rule set —
    * the publicsuffix.org algorithm, declaratively: for each candidate
    * tail of `k` labels, an exception match prevails with public-suffix
    * length k−1; otherwise the longest exact (length k) or wildcard
    * (parent match at k labels → length k+1) rule wins; nothing
    * matching falls to the default `*` rule (length 1). The registered
    * domain is the public suffix plus one label; a host that IS a
    * public suffix (or shorter) has no registrant → NULL — stricter
    * than [[twoLabelSuffixes]]'s pass-through default, because under a
    * real rule set "no registrant" is a fact, not a guess. IP literals
    * keep the whole-host identity. Every membership test is an `InSet`
    * hash probe over the broadcast-literal rule set — scan-bound, no
    * join, no shuffle, O(rule-depth) probes per row. */
  def registeredDomain(host: org.apache.spark.sql.Column,
                       rules: PslRules): org.apache.spark.sql.Column = {
    val parts = split(host, "\\.")
    val n = size(parts)
    def cand(k: Int) = array_join(slice(parts, -k, k), ".")
    def inSet(k: Int, m: Map[Int, Set[String]]) =
      m.get(k).filter(_.nonEmpty)
        .map(s => n >= k && cand(k).isInCollection(s))
        .getOrElse(lit(false))
    val maxK = rules.maxLabels
    // exceptions prevail; otherwise the LONGEST exact/wildcard match
    val excLen = (maxK to 1 by -1).foldLeft(lit(null).cast("int")) {
      (acc, k) => when(inSet(k, rules.exception), lit(k - 1)).otherwise(acc)
    }
    val ruleLen = (1 to maxK).foldLeft(lit(1)) { (acc, k) =>
      val hit = when(inSet(k, rules.exact), lit(k))
      val wild = when(inSet(k, rules.wildcard) && n >= k + 1, lit(k + 1))
      greatest(acc, coalesce(hit, lit(1)), coalesce(wild, lit(1)))
    }
    val psLen = coalesce(excLen, ruleLen)
    val isIp = host.rlike("^[0-9.]+$") || host.startsWith("[")
    when(host.isNull, lit(null).cast("string"))
      .when(isIp, host)
      .when(n > psLen,
        array_join(slice(parts, -(psLen + 1), psLen + 1), "."))
      .otherwise(lit(null).cast("string"))
  }

  /** URL → (host, registered domain, blocklist verdict) — the domain
    * gate of a crawl front end (Dolma/RefinedWeb drop blocklisted
    * registrants before any content work; [[domainQuota]] then caps
    * the survivors). Output = input columns + (host, reg_domain,
    * blocked); the blocklist is registrant-level (a blocked domain
    * blocks every subdomain) and NULL-host rows are blocked = false —
    * they carry no domain to judge, and a later stage decides their
    * fate explicitly. Scan-bound string arithmetic, no shuffle. */
  def urlDomains(documents: DataFrame, urlCol: String = "url",
                 blocklist: Seq[String] = Nil): DataFrame =
    urlDomainsWith(documents, urlCol, blocklist, registeredDomain(_))

  /** [[urlDomains]] under a LOADED Public Suffix List rule set (r17) —
    * same output shape, eTLD+1 from the PslRules overload of
    * registeredDomain. */
  def urlDomains(documents: DataFrame, urlCol: String,
                 blocklist: Seq[String], rules: PslRules): DataFrame =
    urlDomainsWith(documents, urlCol, blocklist,
      registeredDomain(_, rules))

  // reg_domain consumes the PROJECTED host column, never a re-derived
  // urlHost(url) subtree (r17): registeredDomain references its host
  // argument ~a dozen times, and with the full regexp url→host chain
  // inlined at every reference the single-stage expression tree blew the
  // generated method past the JIT's compile threshold — whole-stage
  // codegen ran as interpreted bytecode, ~2s per 500-row run (measured;
  // codegen OFF was 2x faster). Staged projections keep each generated
  // method small AND evaluate the regexp chain once per row at any scale
  // (CollapseProject will not re-inline a non-cheap multi-referenced
  // alias).
  private def urlDomainsWith(documents: DataFrame, urlCol: String,
                             blocklist: Seq[String],
                             domOfHost: org.apache.spark.sql.Column =>
                               org.apache.spark.sql.Column): DataFrame =
    documents
      .withColumn("host", urlHost(col(urlCol)))
      // EvalOnce fence: a consumer filtering on reg_domain/blocked (the
      // quota and gate queries do) would otherwise push its predicate
      // below this projection by INLINING the whole host→registrant tree
      // into the predicate — every row then pays the tree twice and the
      // fused predicate method grows past what the JIT compiles (measured
      // ~4 ms/row on domain_quota_psl, scan-bound after the fence)
      .withColumn("reg_domain",
        graft.functions.EvalOnce(domOfHost(col("host"))))
      .withColumn("blocked",
        if (blocklist.isEmpty) lit(false)
        else coalesce(col("reg_domain").isInCollection(blocklist),
          lit(false)))

  /** Packing-efficiency report (r16 — the number a packing run
    * publishes: how much of every context window is real signal): per
    * language over the [[sequencePackSpans]] stream — documents, filled
    * sequences, real tokens, pad tokens (the tail of the LAST sequence;
    * interior sequences are full by construction), utilization in exact
    * integer parts-per-million (n_toks·10⁶ div n_seqs·ctx — integer
    * division, no float seam; the product routes through DECIMAL(38,0)
    * because a per-lang token total past ~9.2·10¹² overflows Long when
    * scaled by 10⁶ — in range for a 100 TB corpus — and the oracle
    * computes the identical widened form, r16 ADVICE), and how many
    * documents SPLIT across a
    * sequence boundary (the attention-reset cost knob: a bigger ctx
    * splits fewer docs but pads more). Two aggregations, both
    * map-side-combinable. */
  def packEfficiency(documents: DataFrame,
                     contextTokens: Long = 2048): DataFrame = {
    val spans = sequencePackSpans(documents, contextTokens)
    val perDoc = spans.groupBy("lang", "doc_id")
      .agg(count(lit(1)).as("k"), sum("n_toks").as("t"))
    val docsAgg = perDoc.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      sum("t").as("n_toks"),
      sum(when(col("k") > 1, 1L).otherwise(0L)).as("split_docs"))
    val seqAgg = spans.groupBy("lang")
      .agg((max("seq_id") + 1).as("n_seqs"))
    docsAgg.join(seqAgg, Seq("lang"))
      .select(col("lang"), col("n_docs"), col("n_seqs"), col("n_toks"),
        (col("n_seqs") * contextTokens - col("n_toks")).as("pad_toks"),
        expr("CAST(CAST(n_toks AS DECIMAL(38,0)) * 1000000 div " +
            s"(CAST(n_seqs AS DECIMAL(38,0)) * ${contextTokens}L) AS BIGINT)")
          .as("util_ppm"),
        col("split_docs"))
  }

  /** Per-domain quota sampling (the CCNet/RefinedWeb cap that stops one
    * crawl-heavy domain from dominating the mix): keep at most
    * `perDomain` documents per source, chosen by a DETERMINISTIC hash
    * order — md5 of the doc id, doc_id as the total-order tiebreak — so
    * the sample is uniform-ish w.r.t. any content attribute, reproducible
    * across runs/engines (no RNG state), and stable under re-partitioning.
    * One shuffle (window by source); the per-domain sort spills, and AQE
    * splits a skewed domain's sort across tasks. Rank rides the output so
    * downstream stages can tighten the quota without re-ranking. */
  def domainQuota(documents: DataFrame, perDomain: Int = 10): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    documents
      .select(col("doc_id"), col("source"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= perDomain)
  }

  /** CCNet-style quality-bucketed deterministic sampling: structural
    * quality (length + word count, the [[graft.operators.TextAnalysis
    * .qualityScore]] signals) buckets each doc head/middle/tail, and each
    * bucket keeps a different fraction — head everything, middle 128/256,
    * tail 26/256 (≈0.1) — CCNet's perplexity-bucket downsampling with the
    * bucket rates as code. The keep decision is a DETERMINISTIC md5 gate:
    * the first two hex chars of md5(doc_id) are uniform over 256 values,
    * and a fixed-length lowercase-hex STRING compare against the bucket's
    * threshold is exact integer-fraction sampling both engines state
    * identically — no RNG state, no float thresholds, no overflow-prone
    * multiplicative hashing (BIGINT overflow silently wraps in one engine
    * and errors in the other; hex compare has no such seam). Scan-bound:
    * bucket + gate are per-row expressions, no shuffle. */
  def qualitySample(documents: DataFrame): DataFrame = {
    val len = length(col("text"))
    val nWords = size(graft.util.TextNorm.words(col("text")))
    val bucket = when(len >= 200 && nWords >= 40, "head")
      .when(len >= 100 && nWords >= 20, "middle")
      .otherwise("tail")
    documents
      .select(col("doc_id"), col("lang"), bucket.as("bucket"),
        substring(md5(col("doc_id").cast("string")), 1, 2).as("g"))
      .filter(col("bucket") === "head" ||
        (col("bucket") === "middle" && col("g") < "80") ||
        (col("bucket") === "tail" && col("g") < "1a"))
      .select(col("doc_id"), col("lang"), col("bucket"))
  }

  /** Corpus composition by source (the CCNet-style mix report that drives
    * per-source caps and rebalancing): document count, estimated LLM
    * tokens, and each source's token share. The group-by partial-aggs on
    * the map side; the share divides by a single broadcast total row, so
    * the whole report is one shuffle of #sources rows. */
  def sourceMix(documents: DataFrame): DataFrame = {
    val per = documents.groupBy("source").agg(
      count(lit(1)).as("docs"),
      sum(graft.util.TextNorm.estTokens(col("text"))).as("est_tokens"))
    val total = per.agg(sum("est_tokens").as("total_tokens"))
    per.crossJoin(broadcast(total))
      .select(col("source"), col("docs"), col("est_tokens"),
        round4(col("est_tokens").cast("double") / col("total_tokens"))
          .as("token_share"))
  }

  /** Per-document curation FUNNEL report — the "why did doc X drop"
    * provenance table every corpus release publishes (a kept/dropped bit
    * alone is undebuggable at corpus scale; [[graft.operators
    * .TextAnalysis.qualityCascade]] gives rule-level provenance WITHIN
    * the quality stage, this gives stage-level provenance ACROSS the
    * pipeline). Stages run in declared order with SEQUENTIAL semantics —
    * each stage evaluates only among survivors of the previous ones,
    * exactly like the real pipeline would, so the funnel counts are the
    * true marginal cost of each stage, not overlapping unconditional
    * flags:
    *
    *  1. dedup:   first occurrence of md5(lower(trim(text))) by doc_id
    *  2. quality: length ≥ 100 and word count ≥ 20
    *  3. quota:   rank ≤ `perDomain` within source under the
    *              [[domainQuota]] md5 order — computed among docs that
    *              passed 1-2
    *  4. budget:  per-lang cumulative est-token cap over docs that
    *              passed 1-3 (the [[tokenBudget]] rule)
    *
    * Every verdict is a boolean over deterministic integer/hash
    * arithmetic, so the whole report is oracle-adjudicable. Shuffle
    * budget: three windows (digest, source, lang) over an id+metadata
    * frame — text never rides an exchange (the digest hashes map-side).
    * Output: (doc_id, pass_dedup, pass_quality, pass_quota, pass_budget,
    * kept) for EVERY input doc. */
  def curationFunnel(documents: DataFrame, perDomain: Int = 15,
                     budgetPerLang: Long = 5000): DataFrame =
    funnelStages(
      documents.select(col("doc_id"), col("lang"), col("source"),
        md5(lower(trim(col("text")))).as("__digest"),
        (length(col("text")) >= 100 &&
          size(graft.util.TextNorm.words(col("text"))) >= 20).as("pass_quality"),
        graft.util.TextNorm.estTokens(col("text")).as("__tok")),
      perDomain, budgetPerLang, extra = Nil)

  /** [[curationFunnel]] with its quality stage decomposed BY RULE — the
    * funnel × cascade composition (r12): stage-level provenance ACROSS
    * the pipeline and rule-level provenance WITHIN quality in one
    * report, so a release note's "31% dropped at quality" further
    * decomposes into which [[graft.operators.TextAnalysis
    * .qualityCascade]] rule did it. The quality verdict IS the cascade's
    * (ordered named predicates, first kill reported) — stricter than the
    * plain funnel's two-predicate gate, so the quota/budget stages rank
    * genuinely different survivor subsets (the composition changes the
    * downstream funnel, it doesn't just annotate it). Both pieces are
    * deterministic, so the composed report stays hash-adjudicated: the
    * oracle restates the cascade's CASE chain inside the funnel's stage
    * CTEs verbatim. One extra (doc, word) shuffle vs the plain funnel —
    * the cascade's repetition signal needs the doc's own word mode;
    * verdict columns otherwise ride the same id+metadata frame (text
    * never crosses an exchange). */
  def curationFunnelCascade(documents: DataFrame, perDomain: Int = 15,
                            budgetPerLang: Long = 5000): DataFrame = {
    val casc = graft.operators.TextAnalysis.qualityCascade(documents)
      .select(col("doc_id"), col("passed").as("pass_quality"),
        col("first_fail").as("quality_fail_rule"))
    funnelStages(
      documents.select(col("doc_id"), col("lang"), col("source"),
        md5(lower(trim(col("text")))).as("__digest"),
        graft.util.TextNorm.estTokens(col("text")).as("__tok"))
        .join(casc, Seq("doc_id")),
      perDomain, budgetPerLang, extra = Seq("quality_fail_rule"))
  }

  /** [[curationFunnel]] with ARRIVAL-order (doc_id) quota semantics
    * instead of the md5 draw — the closed form of the INCREMENTAL
    * funnel ([[incrementalCurationFunnel]]): a growing-corpus loop
    * admits per-source slots first-come (it cannot know a future doc's
    * md5 rank without revising already-published verdicts), so its
    * batch twin must state the same order. Every stage is prefix-stable
    * under doc_id-ordered growth — first-occurrence dedup, per-doc
    * quality, first-k-per-source quota, per-lang running budget — which
    * is exactly what makes the union of per-batch incremental reports
    * equal this closed form (spec-proven). Same shuffle budget and
    * report shape as [[curationFunnel]]. */
  def curationFunnelArrival(documents: DataFrame, perDomain: Int = 15,
                            budgetPerLang: Long = 5000): DataFrame =
    funnelStages(
      documents.select(col("doc_id"), col("lang"), col("source"),
        md5(lower(trim(col("text")))).as("__digest"),
        (length(col("text")) >= 100 &&
          size(graft.util.TextNorm.words(col("text"))) >= 20).as("pass_quality"),
        graft.util.TextNorm.estTokens(col("text")).as("__tok")),
      perDomain, budgetPerLang, extra = Nil, quotaOrder = Seq(col("doc_id")))

  /** One batch of the INCREMENTAL curation funnel — the D35/D36/D47/D49
    * growing-corpus pattern at whole-pipeline granularity, completing
    * the family symmetry from the other side: every dedup family has an
    * incremental screen; this is the incremental screen for the
    * CURATION pipeline itself (a production loop publishes funnel
    * verdicts per crawl batch; it never re-runs the corpus closed form).
    *
    * Persisted state, all APPEND-ONLY per-batch deltas (the caller
    * lands each under one exactly-once tag and reads them back
    * batch-scoped — see [[graft.streaming.StreamOps
    * .curationIngestBatch]]):
    *  - `seenDigests` (digest): every digest ever ingested, pass or
    *    fail (stage 1 is non-cascading exactly like the other
    *    incremental screens: a doc duplicating a DROPPED doc still
    *    drops);
    *  - `quotaCounts` (source, survivors): prior stage-1/2 survivor
    *    counts — the quota rank offset;
    *  - `budgetUsed` (lang, used): prior stage-1/2/3 survivors' token
    *    sum, budget-busters included (the closed form's running sum
    *    does not stop at the cap — once a lang busts, it stays busted).
    *
    * Stage semantics are [[curationFunnelArrival]]'s restricted to the
    * batch plus broadcast prior offsets: rank-within-batch + prior
    * count, running-sum-within-batch + prior used. Against doc_id-
    * ordered batches the union of batch reports EQUALS the arrival
    * closed form on the concatenated corpus (every stage is
    * prefix-stable; spec-proven), and the cold single-batch run IS the
    * closed form — which lets the driver's `curation_funnel_inc` share
    * `curation_funnel_arrival`'s oracle.
    *
    * Scale: per batch everything shuffles batch-sized (digest window,
    * survivor rank, blocked prefix sum); the corpus-scale read is the
    * one-column digest probe (the D35 index-scan shape) and the state
    * offsets are #sources/#langs rows, broadcast. Returns
    * (report, digestDelta, quotaDelta, budgetDelta). */
  def incrementalCurationFunnel(batch: DataFrame, seenDigests: DataFrame,
                                quotaCounts: DataFrame, budgetUsed: DataFrame,
                                perDomain: Int = 15, budgetPerLang: Long = 5000)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val base = batch.select(col("doc_id"), col("lang"), col("source"),
      md5(lower(trim(col("text")))).as("__digest"),
      (length(col("text")) >= 100 &&
        size(graft.util.TextNorm.words(col("text"))) >= 20).as("pass_quality"),
      graft.util.TextNorm.estTokens(col("text")).as("__tok"))
    val byDigest = Window.partitionBy(col("__digest")).orderBy(col("doc_id"))
    // pass_dedup = first occurrence IN THE BATCH and never seen before —
    // the probe is a left join on the one-column index (flag, not
    // filter: failed docs still report), batch-sized on the probe side
    val dedup = base
      .withColumn("__first", row_number().over(byDigest) === 1)
      .join(seenDigests.select(col("digest").as("__digest"))
        .distinct().withColumn("__seen", lit(true)), Seq("__digest"), "left")
      .withColumn("pass_dedup", col("__first") && col("__seen").isNull)
      .drop("__first", "__seen")
    val surv = dedup.filter(col("pass_dedup") && col("pass_quality"))
    // quota: within-batch arrival rank + broadcast prior survivor count
    val bySourceArr = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    val quotaRank = surv.withColumn("__rk", row_number().over(bySourceArr))
      .join(broadcast(quotaCounts.select(col("source"),
        col("survivors").as("__prior"))), Seq("source"), "left")
      .select(col("doc_id"), (coalesce(col("__prior"), lit(0L)) + col("__rk")
        <= perDomain).as("pass_quota"))
    val withQuota = dedup.join(quotaRank, Seq("doc_id"), "left")
      .withColumn("pass_quota", coalesce(col("pass_quota"), lit(false)))
    // budget: within-batch blocked prefix sum + broadcast prior used
    val qpass = withQuota
      .filter(col("pass_dedup") && col("pass_quality") && col("pass_quota"))
    val budget = graft.util.PrefixSum.cumSum(
        qpass.select(col("doc_id"), col("lang"), col("__tok")),
        Seq("lang"), "doc_id", "__tok", "__cum")
      .join(broadcast(budgetUsed.select(col("lang"), col("used").as("__used"))),
        Seq("lang"), "left")
      .select(col("doc_id"), (coalesce(col("__used"), lit(0L)) + col("__cum")
        <= budgetPerLang).as("pass_budget"))
    val report = withQuota.join(budget, Seq("doc_id"), "left")
      .withColumn("pass_budget", coalesce(col("pass_budget"), lit(false)))
      .select(col("doc_id"), col("pass_dedup"), col("pass_quality"),
        col("pass_quota"), col("pass_budget"),
        (col("pass_dedup") && col("pass_quality") && col("pass_quota") &&
          col("pass_budget")).as("kept"))
    // deltas: novel digests only (the read side need never distinct a
    // replayed digest twice); FULL survivor counts and FULL quota-passer
    // token sums — both uncapped, matching the closed form's windows
    val digestDelta = base.select(col("__digest").as("digest")).distinct()
      .join(seenDigests.select(col("digest")), Seq("digest"), "left_anti")
    val quotaDelta = surv.groupBy("source")
      .agg(count(lit(1)).as("survivors"))
    val budgetDelta = qpass.groupBy("lang")
      .agg(sum(col("__tok")).as("used"))
    (report, digestDelta, quotaDelta, budgetDelta)
  }

  /** Stage machinery shared by [[curationFunnel]],
    * [[curationFunnelCascade]] and [[curationFunnelArrival]]: `base`
    * supplies the per-doc quality verdict (plus any `extra` verdict
    * columns to carry into the report, placed after pass_quality) and
    * `quotaOrder` the within-source quota order (md5 draw by default,
    * doc_id arrival for the incremental closed form); the dedup window
    * and blocked budget prefix sum are identical in all reports. */
  private def funnelStages(base: DataFrame, perDomain: Int,
                           budgetPerLang: Long,
                           extra: Seq[String],
                           quotaOrder: Seq[org.apache.spark.sql.Column] =
                             Seq(md5(col("doc_id").cast("string")),
                                 col("doc_id"))): DataFrame = {
    val byDigest = Window.partitionBy(col("__digest")).orderBy(col("doc_id"))
    val dedup = base.withColumn("pass_dedup",
      row_number().over(byDigest) === 1)
    // quota rank among stage-1/2 survivors only: losers rank NULL via a
    // survivors-only window (rank over a filtered self would lose the
    // non-survivor rows, so rank the survivor subset and join it back)
    val bySource = Window.partitionBy(col("source"))
      .orderBy(quotaOrder: _*)
    val quotaRank = dedup.filter(col("pass_dedup") && col("pass_quality"))
      .withColumn("__rk", row_number().over(bySource))
      .select(col("doc_id"), (col("__rk") <= perDomain).as("pass_quota"))
    val withQuota = dedup.join(quotaRank, Seq("doc_id"), "left")
      .withColumn("pass_quota", coalesce(col("pass_quota"), lit(false)))
    // budget among stage-1/2/3 survivors, same subset pattern — the
    // running sum is the distributed two-phase prefix sum (see
    // tokenBudget: no single task scans a whole language)
    val budget = graft.util.PrefixSum.cumSum(
        withQuota
          .filter(col("pass_dedup") && col("pass_quality") && col("pass_quota"))
          .select(col("doc_id"), col("lang"), col("__tok")),
        Seq("lang"), "doc_id", "__tok", "__cum")
      .select(col("doc_id"), (col("__cum") <= budgetPerLang).as("pass_budget"))
    withQuota.join(budget, Seq("doc_id"), "left")
      .withColumn("pass_budget", coalesce(col("pass_budget"), lit(false)))
      .select(Seq(col("doc_id"), col("pass_dedup"), col("pass_quality")) ++
        extra.map(col) ++ Seq(col("pass_quota"), col("pass_budget"),
        (col("pass_dedup") && col("pass_quality") && col("pass_quota") &&
          col("pass_budget")).as("kept")): _*)
  }

  /** The end-to-end curation flagship — every stage is an existing operator
    * expression, composed into ONE declarative plan Catalyst optimizes
    * whole: PII-scrub the text, gate on quality (length + word count),
    * keep only exact-dedup survivors (min doc_id per scrubbed-text digest),
    * then apply the per-language cumulative token budget. Shuffle budget:
    * one window by digest + one window by lang — the scrub/gate stages are
    * scan-bound and fuse into the first exchange's map side. */
  def curationPipeline(documents: DataFrame,
                       budgetPerLang: Long = 5000): DataFrame = {
    val scrubbed = documents.select(col("doc_id"), col("lang"),
      graft.operators.TextAnalysis.piiClean(col("text")).as("t"))
    val gated = scrubbed.filter(
      length(col("t")) >= 100 && size(graft.util.TextNorm.words(col("t"))) >= 20)
    val byDigest = Window.partitionBy(md5(lower(trim(col("t"))))).orderBy("doc_id")
    val survivors = gated
      .withColumn("rn", row_number().over(byDigest))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"),
        graft.util.TextNorm.estTokens(col("t")).as("est_tokens"))
    // budget stage: the distributed two-phase prefix sum (see tokenBudget)
    graft.util.PrefixSum.cumSum(
        survivors, Seq("lang"), "doc_id", "est_tokens", "cum_tokens")
      .filter(col("cum_tokens") <= budgetPerLang)
  }

  /** Context-window sequence packing — the pretraining batch-prep step:
    * documents concatenate in deterministic (lang, doc_id) order and the
    * token stream cuts into fixed `contextTokens` windows, so each doc gets
    * the window its first token lands in (`bin_id`) and its offset inside
    * that window; docs straddling a boundary spill into the next window
    * (`spans_boundary` — exactly how packed pretraining corpora split
    * documents, truncation/continuation being a tokenizer-side choice).
    * One data-scale shuffle, exclusive-prefix-sum arithmetic after — no
    * per-bin state, no driver loop, and bin ids are partition-invariant
    * because the order is total. The exclusive running sum is the
    * distributed two-phase prefix sum (see [[tokenBudget]]): no single
    * task ever scans a whole language. */
  def sequencePack(documents: DataFrame, contextTokens: Long = 2048): DataFrame = {
    val est = graft.util.TextNorm.estTokens(col("text"))
    graft.util.PrefixSum.cumSum(
        documents.select(col("doc_id"), col("lang"), est.as("est_tokens")),
        Seq("lang"), "doc_id", "est_tokens", "cum_before", inclusive = false)
      .select(col("doc_id"), col("lang"), col("est_tokens"),
        // `div` = exact integer division (long `/` would detour via double)
        expr(s"cum_before div $contextTokens").as("bin_id"),
        (col("cum_before") % contextTokens).as("bin_offset"),
        (expr(s"(cum_before + est_tokens - 1) div $contextTokens") >
          expr(s"cum_before div $contextTokens")).as("spans_boundary"))
  }

  /** Stratified sampling by language: deterministic Bernoulli per stratum
    * with the engine-portable md5 draw (same contract as
    * [[temperatureSample]] / trainValTestSplit): the uniform draw is the
    * first 24 bits of md5("seed:doc_id"), kept when it falls below the
    * stratum's fraction scaled to 2^24. Reruns, repartitions, and other
    * engines keep exactly the same rows — oracle-backed, not seeded-RNG
    * approximate. Strata absent from `fractions` sample at 0. Scan-bound:
    * one filter, no shuffle. */
  def stratifiedSample(documents: DataFrame,
                       fractions: Map[String, Double], seed: Long = 42L): DataFrame = {
    val draw = conv(substring(
      md5(concat_ws(":", lit(seed.toString), col("doc_id").cast("string"))),
      1, 6), 16, 10).cast("long")
    val threshold = fractions.foldLeft(lit(0L)) { case (acc, (lang, f)) =>
      when(col("lang") === lang, lit((f * (1L << 24)).toLong)).otherwise(acc)
    }
    documents.filter(draw < threshold)
      .select(col("doc_id"), col("lang"))
  }

  /** Overlapping token-window chunking — the doc→chunk explosion that
    * precedes embedding in a RAG / retrieval corpus build. Chunk i covers
    * words [i·stride, i·stride + size); the last chunk may run short, and
    * every doc emits at least one chunk. Pure per-row array arithmetic
    * (sequence → slice → posexplode): the only data movement is the
    * explode's map-side amplification — no shuffle, no driver involvement,
    * and chunk counts stay exact integers so both engines cut identically. */
  def docChunk(documents: DataFrame, chunkSize: Int = 64, stride: Int = 48): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize)
    val words = graft.util.TextNorm.words(col("text"))
    documents
      .select(col("doc_id"), words.as("w"))
      // nChunks = ceil(max(n-chunkSize,0)/stride) + 1; int division of exact ints
      .withColumn("n_chunks",
        floor((greatest(size(col("w")) - chunkSize, lit(0)) + (stride - 1))
          .cast("double") / stride).cast("long") + 1)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0L), col("n_chunks") - 1),
          i => slice(col("w"), i.cast("int") * stride + 1, lit(chunkSize)))).as(Seq("chunk_idx", "cw")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        size(col("cw")).cast("long").as("n_tokens"),
        array_join(col("cw"), " ").as("chunk_text"))
  }

  /** Temperature-based source rebalancing — the multilingual/multi-source
    * mixing rule from the XLM-R / mT5 recipes: sample sources with
    * probability ∝ n_s^alpha (alpha < 1 upweights small sources), realized
    * here as deterministic per-source keep rates for sampling WITHOUT
    * replacement: `rate_s = (n_min / n_s)^(1−alpha)` — the smallest source
    * keeps everything, the biggest is thinned hardest, and the surviving
    * mix has the temperature-flattened shape.
    *
    * Determinism contract (what makes this oracle-backed rather than a
    * seeded RNG): the per-doc uniform draw is the first 24 bits of
    * md5(doc_id) — an engine-portable hash both Spark and DuckDB compute
    * identically — and the acceptance test is pure integer math against a
    * basis-point rate (the only float, the pow(), is rounded to 4 decimals
    * before use). Reruns, repartitions, and other engines keep exactly the
    * same rows. Plan shape: one #sources-row aggregate → broadcast rate map
    * → scan-bound filter; nothing shuffles the corpus itself. */
  def temperatureSample(documents: DataFrame, alpha: Double = 0.7): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha in (0,1], got $alpha")
    val counts = documents.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val minN = counts.agg(min("n_docs").as("n_min"))
    val rates = counts.crossJoin(broadcast(minN))
      .select(col("source"),
        halfUp(pow(col("n_min").cast("double") / col("n_docs"), 1 - alpha) * 10000)
          .cast("long").as("rate_bp"))
    // draw ∈ [0, 16^6): first 6 hex chars of md5; accept iff
    // draw/16^6 < rate_bp/10^4, cross-multiplied to stay integral
    val draw = conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
      .cast("long")
    documents.join(broadcast(rates), "source")
      .filter(draw * 10000L < col("rate_bp") * 16777216L)
      .select(col("doc_id"), col("source"),
              (col("rate_bp") / 10000.0).as("keep_rate"))
  }

  /** Curation to an EXPLICIT target mixture — the "data recipe" stage a
    * pretraining corpus ships with (target shares per domain), where
    * [[temperatureSample]] only smooths the natural distribution. Each
    * source's unnormalized target weight comes from `targetWeight` (any
    * expression over the source column — a literal map, a parsed id, a
    * joined config table); the output thins source s to
    * `rate_s = (w_s · T) / tok_s` with `T = min_s(tok_s / w_s)` — the
    * LARGEST output volume at which no source is oversampled (sampling
    * without replacement: the binding source keeps everything, rates are
    * ≤ 1 by construction).
    *
    * Same determinism contract as [[temperatureSample]]: rates round to
    * basis points, the per-doc draw is the 24-bit md5(doc_id) integer,
    * acceptance is cross-multiplied integer math. Plan shape: one
    * #sources-row aggregate → 1-row binding-source broadcast → broadcast
    * rate map → scan-bound filter; the corpus never shuffles. */
  def targetMixSample(documents: DataFrame,
                      targetWeight: org.apache.spark.sql.Column): DataFrame = {
    val toks = documents.groupBy("source")
      .agg(sum(col("n_chars")).as("tok"))
      .withColumn("w", targetWeight.cast("long"))
      // a non-positive/null weight means "not in the recipe": its docs are
      // excluded (explicitly, not via a null-poisoned rate downstream)
      .filter(col("w") > 0)
    // binding source s* = argmin tok/w (source-name tiebreak): the one
    // whose full volume pins the output total
    val star = toks
      .orderBy((col("tok").cast("double") / col("w")).asc, col("source"))
      .limit(1).select(col("tok").as("tok_star"), col("w").as("w_star"))
    val rates = toks.crossJoin(broadcast(star))
      .select(col("source"),
        halfUp(lit(10000.0) * col("w") * col("tok_star") /
          (col("w_star") * col("tok"))).cast("long").as("rate_bp"))
    val draw = conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
      .cast("long")
    documents.join(broadcast(rates), "source")
      .filter(draw * 10000L < col("rate_bp") * 16777216L)
      .select(col("doc_id"), col("source"),
              (col("rate_bp") / 10000.0).as("keep_rate"))
  }

  /** DSIR-style importance SELECTION (Xie et al. 2023, arXiv:2302.03169
    * "Data Selection for Language Models via Importance Resampling"):
    * pick the `k` candidate docs whose hashed-unigram distribution looks
    * most like a TARGET slice of the corpus — CONTENT-based selection,
    * where [[temperatureSample]]/[[targetMixSample]] rebalance only by
    * the source LABEL. The deterministic engine-portable reformulation
    * of the paper's machinery:
    *
    *  - feature hashing: bucket(word) = 24-bit md5 integer (the
    *    engine's draw convention) mod `numBuckets` — no tokenizer
    *    state, identical in both engines;
    *  - bucket log-ratios in integer MICRO-NATS: w(b) = round(1e6 ·
    *    ln((ct+1)(Nr+B) / ((cr+1)(Nt+B)))) as a long, computed ONCE per
    *    bucket (B rows), so per-doc scores are exact integer sums —
    *    associative, partitioning-independent, and oracle-comparable
    *    with no float-summation seam (the ln itself is the only float
    *    op, rounded at a fixed scale on identical doubles);
    *  - selection: top-k candidates (docs NOT in the target — the
    *    paper's raw pool) under the (score desc, doc_id) TOTAL order —
    *    a distributed TakeOrderedAndProject, the paper's "top-k
    *    variant" of gumbel resampling (no RNG state, reproducible).
    *
    * Shuffle budget: one B-bucket count aggregate (map-side combined),
    * a 1-row totals broadcast, a B-row weight broadcast joined back to
    * the scan-side occurrence frame, one per-doc aggregate, and the
    * top-k — the corpus text never rides an exchange twice. Wordless
    * docs have no occurrences and never rank. Output:
    * (doc_id, n_words, score_unats, rank), all integers. */
  def dsirSelect(documents: DataFrame,
                 targetPred: org.apache.spark.sql.Column,
                 k: Int = 100, numBuckets: Int = 4096): DataFrame =
    dsirRank(
      dsirScore(documents,
        dsirWeights(documents, targetPred, numBuckets), targetPred,
        numBuckets),
      k)

  /** The (doc_id, __tgt, bucket) occurrence frame — the target flag
    * rides the scan (a per-doc predicate, evaluated before the
    * explode), no docs-frame join back onto the occurrence frame. */
  private def dsirOccurrences(documents: DataFrame,
                              targetPred: org.apache.spark.sql.Column,
                              numBuckets: Int): DataFrame =
    documents
      .select(col("doc_id"), targetPred.as("__tgt"),
        explode(graft.util.TextNorm.words(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .select(col("doc_id"), col("__tgt"),
        (conv(substring(md5(col("word")), 1, 6), 16, 10).cast("long")
          % numBuckets).as("b"))

  /** The B-row (b, w_unats) bucket-weight table fit on `documents` —
    * the DSIR "importance estimator", reusable frozen against later
    * batches ([[graft.streaming.StreamOps.dsirIngestBatch]]). */
  def dsirWeights(documents: DataFrame,
                  targetPred: org.apache.spark.sql.Column,
                  numBuckets: Int = 4096): DataFrame = {
    val cnt = dsirOccurrences(documents, targetPred, numBuckets)
      .groupBy("b").agg(
        sum(when(col("__tgt"), 1L).otherwise(0L)).as("ct"),
        count(lit(1)).as("cr"))
    val tot = cnt.agg(sum("ct").as("nt"), sum("cr").as("nr"))
    // the double products are exact below 2^53 and IEEE-identical above
    // it (same longs, same operation order in both engines)
    cnt.crossJoin(broadcast(tot))
      .select(col("b"), halfUp(log(
        ((col("ct") + 1.0) * (col("nr") + numBuckets)) /
          ((col("cr") + 1.0) * (col("nt") + numBuckets))) * 1e6)
        .cast("long").as("w_unats"))
  }

  /** Score `documents`' candidate (non-target) docs against a weight
    * table: exact integer micro-nat sums, one per-doc aggregate.
    * Buckets absent from `weights` (words never seen at fit time)
    * contribute nothing — the inner join drops them, matching the
    * smoothed estimator's domain. */
  def dsirScore(documents: DataFrame, weights: DataFrame,
                targetPred: org.apache.spark.sql.Column,
                numBuckets: Int = 4096): DataFrame =
    dsirOccurrences(documents, targetPred, numBuckets)
      .filter(!col("__tgt"))
      .join(broadcast(weights), Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("w_unats")).as("score_unats"))

  /** Top-k cut + rank under the (score desc, doc_id) total order; the
    * rank window runs over the k cut rows only. */
  def dsirRank(scores: DataFrame, k: Int): DataFrame =
    scores.orderBy(col("score_unats").desc, col("doc_id")).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score_unats").desc, col("doc_id"))))

  /** Deterministic train/val/test split — the first step of every training
    * pipeline, engine-portable and reshuffle-proof: each doc's 24-bit
    * md5(doc_id) draw lands in [0, 0.8) → train, [0.8, 0.9) → val,
    * [0.9, 1) → test. Thresholds are exact integers at 16^6 scale so no
    * float compare can flip a document between engines; membership is a
    * pure function of the key, so regenerating the corpus (any order, any
    * partitioning, any engine) keeps every doc in its split — the property
    * that prevents silent train/test leakage across pipeline reruns.
    * Scan-bound: no shuffle, no RNG state. */
  def trainValTestSplit(documents: DataFrame,
                        trainFrac: Double = 0.8,
                        valFrac: Double = 0.1): DataFrame = {
    require(trainFrac > 0 && valFrac >= 0 && trainFrac + valFrac < 1)
    val scale = 1L << 24
    val tTrain = (trainFrac * scale).toLong
    val tVal = ((trainFrac + valFrac) * scale).toLong
    val draw = conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
      .cast("long")
    documents.select(col("doc_id"), col("lang"),
        when(draw < tTrain, "train")
          .when(draw < tVal, "val")
          .otherwise("test").as("split"))
  }

  /** LEAKAGE-SAFE split: near-duplicate documents must land in the SAME
    * split — a near-copy of a training doc in the held-out set measures
    * memorization, not generalization (the finding behind every published
    * dedup/decontamination pipeline). The split key is therefore the
    * doc's near-dup CLUSTER canonical id (its own id when unclustered):
    * the whole cluster draws once and moves together, so no pair of
    * near-dups can straddle a split boundary by construction. Same
    * engine-portable md5 24-bit integer draw and exact thresholds as
    * [[trainValTestSplit]]; `clusters` is the
    * [[graft.operators.Dedup.clusters]]/clustersApprox contract — pass
    * the shared/persisted frame so the CC subgraph prices once per corpus
    * generation. One left join whose right side is the clustered-doc set
    * (≪ corpus; AQE broadcasts), everything else scan-bound. */
  def trainValTestSplitSafe(documents: DataFrame, clusters: DataFrame,
                            trainFrac: Double = 0.8,
                            valFrac: Double = 0.1): DataFrame = {
    require(trainFrac > 0 && valFrac >= 0 && trainFrac + valFrac < 1)
    val scale = 1L << 24
    val tTrain = (trainFrac * scale).toLong
    val tVal = ((trainFrac + valFrac) * scale).toLong
    val keyed = documents
      .join(clusters.select(col("doc_id"), col("cluster_id")),
        Seq("doc_id"), "left")
      .withColumn("split_key", coalesce(col("cluster_id"), col("doc_id")))
    val draw = conv(substring(md5(col("split_key").cast("string")), 1, 6),
      16, 10).cast("long")
    keyed.select(col("doc_id"), col("lang"), col("split_key"),
      when(draw < tTrain, "train")
        .when(draw < tVal, "val")
        .otherwise("test").as("split"))
  }

  /** Deterministic EXACT-k uniform sample per stratum: each doc draws
    * md5(doc_id) — an engine-portable pseudo-random tag — and the k
    * smallest draws per language win. Unlike Bernoulli [[stratifiedSample]]
    * the output size is exact and the result is a pure function of the key
    * set (reproducible across engines, partitionings, and reruns — hence
    * oracle-backed). Runs on the custom [[graft.plans.TopKPerKey]] node:
    * one hash exchange + bounded per-key heaps, never a per-group sort. */
  def samplePerGroup(documents: DataFrame, k: Int = 20): DataFrame = {
    val keyed = documents.select(col("lang"), col("doc_id"),
      md5(col("doc_id").cast("string")).as("draw"))
    graft.plans.TopKPerGroup(keyed, Seq("lang"), Seq("draw" -> true, "doc_id" -> true), k)
  }
}

/** Dataset diff — reference: macros/compare_dev_prod.sql (EXCEPT DISTINCT in
  * both directions, tagged with diff_type, row-count SUMMARY block, and a
  * `limit`-capped diff sample). Dev/prod simulated as the same mart built
  * with two bucket thresholds. */
object Diff {
  /** Data diff with reference parity: two summary rows carry the dev/prod
    * row counts (macros/compare_dev_prod.sql:1's SUMMARY block), and the
    * diff rows are capped at `limit` in total (diff_type, id) order —
    * at 100 TB the unbounded diff is itself TB-scale, so the cap is the
    * scale-safety feature, not cosmetics. orderBy+limit plans as
    * TakeOrderedAndProject (bounded per-partition heaps, no global sort). */
  def devProdDiff(orders: DataFrame, limit: Int = 100): DataFrame = {
    val dev  = Relational.fctBucket(orders, 200000.0).select("id", "bucket")
    val prod = Relational.fctBucket(orders, 300000.0).select("id", "bucket")
    val diff = dev.except(prod)
      .select(lit("in_dev_not_in_prod").as("diff_type"), col("id"), col("bucket"))
      .unionAll(
        prod.except(dev).select(lit("in_prod_not_in_dev").as("diff_type"), col("id"), col("bucket")))
      .orderBy("diff_type", "id").limit(limit)
    val summary = dev.agg(count(lit(1)).as("id"))
      .select(lit("summary_dev_rows").as("diff_type"), col("id"),
              lit(null).cast("string").as("bucket"))
      .unionAll(prod.agg(count(lit(1)).as("id"))
        .select(lit("summary_prod_rows").as("diff_type"), col("id"),
                lit(null).cast("string").as("bucket")))
    diff.unionAll(summary)
  }

  /** Schema diff — reference scripts/pr_schema_diff.sh:1-30: columns
    * added/removed/retyped/re-nullabled between a dev and a prod relation.
    * Schemas are driver-side metadata by definition (no data scan), so this
    * is the one operator that legitimately runs on the driver; the result
    * is returned as a DataFrame so it composes with the rest of the CI
    * diff pipeline. Type strings carry an explicit `not null` marker so a
    * tightened/loosened constraint shows up even when the type matches. */
  def schemaDiff(dev: DataFrame, prod: DataFrame): DataFrame = {
    val spark = dev.sparkSession
    import spark.implicits._
    columnDiff(dev.schema, prod.schema)
      .toDF("change", "column_name", "dev_type", "prod_type")
  }

  /** Column-level diff rows (change, column, dev_type, prod_type) — the
    * pure core of [[schemaDiff]], reused per-model by [[prSchemaDiff]]. */
  def columnDiff(dev: org.apache.spark.sql.types.StructType,
                 prod: org.apache.spark.sql.types.StructType)
      : Seq[(String, String, String, String)] = {
    def typeOf(f: org.apache.spark.sql.types.StructField): String =
      f.dataType.simpleString + (if (f.nullable) "" else " not null")
    val d = dev.map(f => f.name -> f).toMap
    val p = prod.map(f => f.name -> f).toMap
    val added = (d.keySet -- p.keySet).toSeq.sorted
      .map(n => ("added_in_dev", n, typeOf(d(n)), null: String))
    val removed = (p.keySet -- d.keySet).toSeq.sorted
      .map(n => ("missing_in_dev", n, null: String, typeOf(p(n))))
    val common = (d.keySet & p.keySet).toSeq.sorted
    val retyped = common
      .filter(n => d(n).dataType != p(n).dataType)
      .map(n => ("type_changed", n, typeOf(d(n)), typeOf(p(n))))
    val renulled = common
      .filter(n => d(n).dataType == p(n).dataType && d(n).nullable != p(n).nullable)
      .map(n => ("nullability_changed", n, typeOf(d(n)), typeOf(p(n))))
    added ++ removed ++ retyped ++ renulled
  }

  // ---- full PR schema diff (reference scripts/pr_schema_diff.sh) --------
  // Beyond columns, the reference CI diffs TABLE TYPE, PARTITIONING and
  // CLUSTERING layout, detects relation MOVEMENT (schema/identifier
  // changes via the two manifests), and lists ORPHANED prod relations not
  // covered by any model/source. All of that is manifest + schema
  // metadata: driver-side by definition, no data scan at any table size.

  private def manifestModels(manifestJson: String)
      : Map[String, com.fasterxml.jackson.databind.JsonNode] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val nodes = om.readTree(manifestJson).get("nodes")
    if (nodes == null) Map.empty
    else {
      val it = nodes.properties().iterator()
      val b = Map.newBuilder[String, com.fasterxml.jackson.databind.JsonNode]
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue.path("resource_type").asText("") == "model")
          b += e.getKey -> e.getValue
      }
      b.result()
    }
  }

  private def jtext(n: com.fasterxml.jackson.databind.JsonNode,
                    field: String): Option[String] = {
    val v = n.path(field)
    if (v.isMissingNode || v.isNull) None else Some(v.asText)
  }

  /** Relation identity `[schema/]identifier` of a manifest model node —
    * matches [[graft.pipeline.Model.relationId]]. */
  private def relationIdOf(n: com.fasterxml.jackson.databind.JsonNode): String =
    jtext(n, "schema").fold("")(_ + "/") +
      jtext(n, "alias").getOrElse(n.path("name").asText)

  private def layoutOf(n: com.fasterxml.jackson.databind.JsonNode)
      : (String, String, String) = {
    val cfg = n.path("config")
    val cluster = {
      val c = cfg.path("cluster_by")
      if (!c.isArray) "" else {
        val it = c.elements(); val b = Seq.newBuilder[String]
        while (it.hasNext) b += it.next().asText
        b.result().mkString(",")
      }
    }
    (cfg.path("materialized").asText(""),
     jtext(cfg, "partition_by").getOrElse(""), cluster)
  }

  /** Per-model PR schema-diff summary, one row per model of the PR
    * manifest — the reference's `schema-summary.md` table
    * (scripts/pr_schema_diff.sh SUMMARY lines): status (OK | NEW_MODEL |
    * REMOVED for prod-only models), movement (UNCHANGED | MOVED:a->b |
    * UNKNOWN without a prod manifest), table-type change, column
    * add/remove/change counts (from the live relation schemas, the
    * INFORMATION_SCHEMA analog), and partitioning/clustering changes. */
  def prSchemaDiff(prManifest: String, prodManifest: Option[String],
                   devSchemas: Map[String, org.apache.spark.sql.types.StructType],
                   prodSchemas: Map[String, org.apache.spark.sql.types.StructType],
                   spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    val pr = manifestModels(prManifest)
    val prod = prodManifest.fold(
      Map.empty[String, com.fasterxml.jackson.databind.JsonNode])(manifestModels)
    val rows = pr.toSeq.sortBy(_._1).map { case (uid, node) =>
      val name = node.path("name").asText
      val pNode = prod.get(uid)
      val status =
        if (prodManifest.isDefined && pNode.isEmpty) "NEW_MODEL" else "OK"
      val moved = (prodManifest, pNode) match {
        case (None, _) => "UNKNOWN"
        case (_, None) => "UNKNOWN"
        case (_, Some(p)) =>
          val (from, to) = (relationIdOf(p), relationIdOf(node))
          if (from == to) "UNCHANGED" else s"MOVED:$from->$to"
      }
      val typeChange = pNode.map(layoutOf(_)._1).filter(_.nonEmpty) match {
        case Some(pt) if pt != layoutOf(node)._1 =>
          s"$pt->${layoutOf(node)._1}"
        case _ => ""
      }
      val (added, removed, changed) =
        (devSchemas.get(name), prodSchemas.get(name)) match {
          case (Some(d), Some(p)) =>
            val diff = columnDiff(d, p)
            (diff.count(_._1 == "added_in_dev").toLong,
             diff.count(_._1 == "missing_in_dev").toLong,
             diff.count(r => r._1 == "type_changed" ||
               r._1 == "nullability_changed").toLong)
          case (Some(d), None) => (d.size.toLong, 0L, 0L) // new relation
          case _ => (0L, 0L, 0L)
        }
      val layoutChanges = pNode.toSeq.flatMap { p =>
        val (_, dPart, dClust) = layoutOf(node)
        val (_, pPart, pClust) = layoutOf(p)
        Seq(
          if (dPart != pPart) Some(s"partition_by:$pPart->$dPart") else None,
          if (dClust != pClust) Some(s"cluster_by:$pClust->$dClust") else None
        ).flatten
      }
      // prod-only models (deleted in the PR) surface as REMOVED rows so a
      // dropped mart is visible in the same report
      (name, status, moved, typeChange, added, removed, changed,
        layoutChanges.size.toLong, layoutChanges.mkString("; "))
    } ++ prod.toSeq.sortBy(_._1).collect {
      case (uid, p) if !pr.contains(uid) =>
        (p.path("name").asText, "REMOVED", "UNKNOWN", "", 0L, 0L, 0L, 0L, "")
    }
    rows.toDF("model", "status", "moved", "type_change", "cols_added",
      "cols_removed", "cols_changed", "layout_changes", "layout_detail")
  }

  /** Orphaned prod relations: directories under the prod warehouse root
    * that no model (by relation identity) or run artifact accounts for —
    * the reference's orphans.md report. Schema-override subdirectories
    * are descended one level so `analytics_staging/x` style relations
    * resolve; partition subdirectories inside a covered relation never
    * surface (the walk stops at the first covered path). */
  def orphanedRelations(prodDir: String, manifestJson: String): Seq[String] = {
    val covered = manifestModels(manifestJson).values.map(relationIdOf).toSet
    val schemaDirs = covered.filter(_.contains("/")).map(_.split("/")(0))
    // engine-owned artifacts are never orphans: docs JSON and the
    // store_failures audit schema (dbt_test__audit)
    val artifacts = Set("manifest.json", "catalog.json", "run_results.json",
      "dbt_test__audit")
    val root = new java.io.File(prodDir)
    val top = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && !artifacts.contains(f.getName))
    top.flatMap { d =>
      if (covered.contains(d.getName)) Nil
      else if (schemaDirs.contains(d.getName))
        Option(d.listFiles()).getOrElse(Array.empty).filter(_.isDirectory)
          .map(c => s"${d.getName}/${c.getName}")
          .filterNot(covered.contains).toSeq
      else Seq(d.getName)
    }.toSeq.sorted
  }
}

/** Source freshness — reference: models/staging/src_example.yml
  * (loaded_at_field + warn_after 24h / error_after 72h). Anchor "now" is a
  * fixed literal so results are reproducible. */
object Freshness {
  def sourceFreshness(events: DataFrame,
                      anchorEpoch: Long = 1706745600L /* 2024-02-01 UTC */,
                      warnH: Long = 24, errorH: Long = 72): DataFrame = {
    val ageSeconds = lit(anchorEpoch) - col("max_ts_s")
    events.groupBy(col("event_type"))
      .agg(max(col("ts_s")).as("max_ts_s"))
      .select(
        col("event_type"), col("max_ts_s"),
        floor(ageSeconds / lit(3600L)).cast("long").as("age_hours"),
        // thresholds compare exact SECONDS (dbt semantics: anything older
        // than warn_after warns) — flooring to hours first would let a
        // source run up to 59m59s past the threshold unnoticed
        when(ageSeconds > errorH * 3600, "error")
          .when(ageSeconds > warnH * 3600, "warn").otherwise("ok").as("status"))
  }

  /** dbt 1.7 METADATA-based source freshness: no `loaded_at_field`, no
    * scan — on a [[graft.sources.TxLogFormat]] table the latest commit is
    * the load event, so freshness is one namespace stat at any table size
    * (the warehouse-side analog of dbt's information_schema last_modified
    * path). Returns (loaded_at_epoch, age_hours, status); thresholds
    * compare exact seconds like [[sourceFreshness]]. */
  def tableFreshness(path: String,
                     anchorEpoch: Long,
                     warnH: Long = 24, errorH: Long = 72): (Long, Long, String) = {
    val loaded = graft.sources.TxLogFormat.lastCommitEpoch(path)
    val age = anchorEpoch - loaded
    val status =
      if (age > errorH * 3600) "error"
      else if (age > warnH * 3600) "warn" else "ok"
    (loaded, age / 3600, status)
  }
}

/** As-of join: for each purchase event, the most recent signup at-or-before
  * it for the same user. Spark-first: instead of a per-row correlated lookup
  * (O(n·m)), a RANGE-framed running max over the union — one shuffle by
  * user, linear scan per partition; the classic union+window as-of that
  * scales to billions of rows.
  */
object AsOf {
  def lastSignupBeforePurchase(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_s")
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("last_signup_ts",
        max(when(col("event_type") === "signup", col("ts_s"))).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_s").as("purchase_ts"),
              col("last_signup_ts"),
              (col("ts_s") - col("last_signup_ts")).as("seconds_since_signup"))
  }
}
