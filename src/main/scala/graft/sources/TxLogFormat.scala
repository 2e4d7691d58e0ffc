package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.graftbridge.Bridge
import java.nio.file.{FileAlreadyExistsException, Files, Path => JPath, Paths}
import java.util.UUID
import scala.jdk.CollectionConverters._

/** Transaction-log [[TableFormat]]: the Delta-lake commit protocol
  * re-expressed on plain parquet + an append-only log, closing the
  * crash-visibility windows [[ParquetDirFormat]] documents — with zero new
  * dependencies (reference north star: "Delta/Iceberg for incremental
  * models", BASELINE.json).
  *
  * Layout: data files are IMMUTABLE uniquely-named parquet files under the
  * table dir (inside Hive-style `col=value` subdirs when partitioned —
  * Spark's own writer lays them out, so partition-value escaping is
  * Spark's, never string-built here). The log lives at
  * `<table>/_txlog/<version>.commit`, one file per commit, each a
  * line-oriented record of `a <relpath>` (add) / `r <relpath>` (remove) /
  * `s <schema-json>` (schema) / `t <app:batch>` (txn tag) / `w <epoch>`
  * (load stamp) / `f <relpath>…` (per-file min/max/null stats) /
  * `fb <relpath>…` (per-file bloom filter) / `m <kind>` (commit marker:
  * `rewrite` for layout-only maintenance, `checkpoint` for a vacuum fold,
  * `clone`) / `dv`/`dvx <relpath>…` (deletion vectors — merge-on-read row
  * deletes, see [[deleteVectors]]) / `c`/`cd` (CHECK constraint declare /
  * drop) / `bi`/`bid` (bloom index declare / drop) actions. `LogState`'s
  * `apply` is the one reader of this grammar.
  *
  * On top of the ACID core this carries the other two pillars of a lake
  * format: '''additive schema evolution''' ([[mergeSchemas]] — appends
  * merge new columns, reads null-fill old files under the committed
  * schema, type changes refuse) and '''data skipping''' ([[scan]] prunes
  * files driver-side from log-recorded footer stats; [[compactClustered]]
  * is the `OPTIMIZE ZORDER` that makes those ranges tight).
  *
  * ACID on a single filesystem:
  *  - '''Atomic + durable''': a commit publishes by hard-linking a fully
  *    written temp file to `<version>.commit` — link creation is an
  *    all-or-nothing namespace op, so readers see a complete commit or
  *    none. A writer crash at ANY earlier point leaves only invisible
  *    orphan data files (reclaimed by [[vacuum]]); the previous snapshot
  *    stays live. There is no moment where the table is missing or mixed —
  *    the window `ParquetDirFormat.replace`/`compact`/`deleteKeys`
  *    carry is gone.
  *  - '''Isolated''': concurrent writers CAS on the version number (link
  *    fails if `<version>.commit` exists → re-resolve and retry);
  *    concurrent readers pin the snapshot listed at read time — data files
  *    are never mutated, so a long query is unaffected by commits landing
  *    under it (snapshot isolation, and time travel via [[readVersion]]).
  *  - On an object store without atomic rename-if-absent this publish
  *    step needs a put-if-absent log store — the same external-LogStore
  *    seam Delta uses for S3; local/HDFS/NFS need nothing.
  *
  * Replace (the incremental-merge shape, where the new plan READS the
  * current table) needs no staging-dir dance at all: new files are written
  * while old ones still exist, then one commit swaps the live set.
  * Deletes are FILE-granular (input_file_name join), so only files that
  * actually contain a doomed key rewrite — the Delta `DELETE` shape — and
  * null/escaped partition values never round-trip through strings.
  */
object TxLogFormat extends TableFormat {

  private val LogDirName = "_txlog"
  private def logDir(path: String): JPath = Paths.get(path, LogDirName)
  private def commitFile(path: String, v: Long): JPath =
    logDir(path).resolve(f"$v%016d.commit")
  private def checkpointFile(path: String, v: Long): JPath =
    logDir(path).resolve(f"$v%016d.checkpoint")

  /** Auto-checkpoint cadence (Delta's `checkpointInterval`): every Nth
    * commit also writes a SIDECAR `<v>.checkpoint` beside the commit file
    * — the full folded state as of v, a pure resolution CACHE. [[fold]]
    * starts from the latest sidecar and reads only the ≤N commits after
    * it, so a never-vacuumed table (e.g. a streaming sink at one commit
    * per micro-batch) pays O(N) per read instead of a linearly growing log
    * fold. Commit history stays fully intact — time travel,
    * [[readChanges]], [[restore]] and [[history]] are unaffected;
    * [[vacuum]] remains the (destructive) space reclaimer. */
  private[graft] val checkpointInterval = 10

  /** Versions of the log's `<v>.<kind>` files present, ascending. */
  private def logVersions(path: String, kind: String): Seq[Long] = {
    val dir = logDir(path)
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator.asScala.map(_.getFileName.toString)
        .filter(_.matches(s"\\d{16}\\.$kind"))
        .map(_.stripSuffix(s".$kind").toLong).toSeq.sorted
      finally s.close()
    }
  }

  /** Sidecar checkpoint versions present, ascending. */
  private def checkpointVersions(path: String): Seq[Long] =
    logVersions(path, "checkpoint")

  /** The sidecar to fold from for a read as of `upTo`, given the commit
    * versions `vs` (dense — slots allocate as prev+1): valid iff every
    * commit in (cp, upTo] is still present, i.e. cp+1 >= the earliest
    * retained commit. A sidecar below a vacuum horizon whose covering
    * commits are gone is rejected (fold falls back to the in-slot vacuum
    * checkpoint, which is self-contained). */
  private def checkpointBase(path: String, upTo: Long, vs: Seq[Long]): Option[Long] =
    vs.headOption.flatMap(first =>
      checkpointVersions(path).filter(v => v <= upTo && v + 1 >= first)
        .lastOption)

  /** Committed versions, ascending. */
  def versions(path: String): Seq[Long] = logVersions(path, "commit")

  private def readLines(file: JPath): Seq[String] =
    Files.readAllLines(file).asScala.toSeq

  // ---- deletion vectors (Delta's merge-on-read DELETE) ----
  //
  // `dv <rel>\t<b64 sorted row positions>` marks rows of an immutable data
  // file deleted WITHOUT rewriting the file: the positions are parquet row
  // indexes within that file (`_metadata.row_index`), the payload is the
  // positions deleted BY THIS COMMIT (a delta — the fold unions them), and
  // `dvx <rel>\t<b64>` RESTATES a file's cumulative vector absolutely
  // (written by checkpoints, which summarize, and [[restore]], which must
  // also un-delete). A file's `r` removal drops its vector — a rewrite
  // (compact / merge / [[purgeDeletes]]) materializes the deletes into the
  // replacement file, so the vector's job is done. Positions are stored as
  // 8-byte big-endian longs; a production object-store format would use a
  // roaring bitmap here (Delta does) — the log shape is identical.

  private def encodePositions(ps: Array[Long]): String = {
    val bb = java.nio.ByteBuffer.allocate(ps.length * 8)
    ps.foreach(bb.putLong)
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  private def decodePositions(s: String): Array[Long] = {
    val bytes = java.util.Base64.getDecoder.decode(s)
    val out = new Array[Long](bytes.length / 8)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    var i = 0
    while (i < out.length) { out(i) = bb.getLong(i * 8); i += 1 }
    out
  }

  /** Union of two sorted distinct position arrays, sorted distinct. */
  private def unionSorted(a: Array[Long], b: Array[Long]): Array[Long] =
    if (a.isEmpty) b else if (b.isEmpty) a
    else (a ++ b).distinct.sorted

  /** `<rel>\t<b64 positions>` of a `dv`/`dvx` line; None when malformed. */
  private def dvBody(body: String): Option[(String, Array[Long])] = {
    val p = body.split("\t", 2)
    if (p.length != 2) None
    else try Some((p(0), decodePositions(p(1))))
    catch { case _: IllegalArgumentException => None }
  }

  /** The log folded as of one version: the single state every reader and
    * writer works from (Delta's snapshot = one replay of checkpoint +
    * later actions). [[apply]] is the one implementation of the line
    * grammar; [[fold]] feeds it a sidecar plus the commits after it,
    * [[commit]] feeds it the lines it just published (so the sidecar
    * checkpoint renders without re-reading the log), and [[readChanges]]
    * steps it commit by commit. Stats stay raw lines
    * (restated verbatim by checkpoints and clones) and parse only where
    * pruning or counting needs them ([[fileStats]]). */
  private final class LogState {
    import scala.collection.mutable
    var version: Long = -1L
    /** LinkedHashSet keeps commit order, so reads are deterministic. */
    val live = mutable.LinkedHashSet[String]()
    var schema: Option[String] = None
    val dvs = mutable.Map[String, Array[Long]]()
    /** CHECK constraints, name → SQL predicate, in declaration order. */
    val constraints = mutable.LinkedHashMap[String, String]()
    /** Bloom-index declarations: column → (numBits, numHashFns). */
    val bloomIndexes = mutable.LinkedHashMap[String, (Int, Int)]()
    /** The exactly-once ledger: every `appId:batchId` tag committed. */
    val txns = mutable.LinkedHashSet[String]()
    /** Payload of the newest `w` line: the last load's epoch second. */
    var loadStamp: Option[String] = None
    /** Newest raw `f` line per file and `fb` line per (file, column).
      * Kept through a file's removal — [[restore]] may re-add it. */
    val statLines = mutable.LinkedHashMap[String, String]()
    val bloomLines = mutable.LinkedHashMap[(String, String), String]()

    def apply(line: String): Unit = {
      val sp = line.indexOf(' ')
      if (sp > 0) {
        val body = line.substring(sp + 1)
        line.substring(0, sp) match {
          case "a" => live += body
          case "r" => live -= body; dvs.remove(body)
          case "s" => schema = Some(body)
          case "t" => txns += body
          case "w" => loadStamp = Some(body)
          case "f" => statLines(body.split("\t", 2)(0)) = line
          case "fb" =>
            val p = body.split("\t", 3)
            if (p.length >= 2) bloomLines((p(0), p(1))) = line
          // `dv` is a per-commit delta (union), `dvx` restates absolutely
          case "dv" => dvBody(body).foreach { case (rel, ps) =>
            dvs(rel) = unionSorted(dvs.getOrElse(rel, Array.empty), ps) }
          case "dvx" => dvBody(body).foreach { case (rel, ps) =>
            if (ps.isEmpty) dvs.remove(rel) else dvs(rel) = ps }
          case "c" =>
            val p = body.split("\t", 2)
            if (p.length == 2) constraints(p(0)) = p(1)
          case "cd" => constraints.remove(body)
          case "bi" =>
            val p = body.split("\t", -1)
            if (p.length == 3) try bloomIndexes(p(0)) = (p(1).toInt, p(2).toInt)
            catch { case _: NumberFormatException => }
          case "bid" => bloomIndexes.remove(body)
          case _ => // `m` markers carry no state
        }
      }
    }

    /** Live files' deletion vectors. */
    def liveDvs: Seq[(String, Array[Long])] =
      dvs.toSeq.filter { case (rel, ps) => live.contains(rel) && ps.nonEmpty }
        .sortBy(_._1)

    /** The state as checkpoint body lines, family by family: load stamp,
      * schema, txn tags, live adds (commit order), live files' stats and
      * bloom filters, constraints, bloom-index declarations, and deletion
      * vectors restated ABSOLUTELY (`dvx`) — a checkpoint is cumulative
      * state, so per-commit deltas must not replay on top of it. Every
      * family restates, or the fold would forget a replayed batch, disable
      * skipping, or disarm enforcement for everything it covers. */
    def body(withTxns: Boolean): Seq[String] =
      loadStamp.map("w " + _).toSeq ++ schema.map("s " + _) ++
        (if (withTxns) txns.toSeq.map("t " + _) else Nil) ++
        live.toSeq.map("a " + _) ++
        statLines.collect { case (rel, l) if live.contains(rel) => l } ++
        bloomLines.collect { case ((rel, _), l) if live.contains(rel) => l } ++
        constraints.map { case (n, e) => s"c $n\t$e" } ++
        bloomIndexes.map { case (c, (bits, k)) => s"bi $c\t$bits\t$k" } ++
        liveDvs.map { case (rel, ps) => s"dvx $rel\t${encodePositions(ps)}" }

    /** Per-file stats parsed from the raw lines. */
    def fileStats(): Map[String, FileStat] = {
      val stats = mutable.Map[String, FileStat]()
      statLines.values.foreach { line =>
        val parts = line.drop(2).split("\t", -1)
        if (parts.length >= 2 && (parts.length - 2) % 4 == 0) try {
          val cols = parts.drop(2).grouped(4).map { g =>
            g(0) -> ColStat(
              if (g(1).isEmpty) None else Some(BigDecimal(g(1))),
              if (g(2).isEmpty) None else Some(BigDecimal(g(2))),
              g(3).toLong)
          }.toMap
          stats(parts(0)) = FileStat(parts(1).toLong, cols)
        } catch { case _: NumberFormatException => }
      }
      // `fb <rel>\t<col>\t<numHashFns>\t<base64 bit words>`
      bloomLines.values.foreach { line =>
        val parts = line.drop(3).split("\t", -1)
        if (parts.length == 4) try {
          val bytes = java.util.Base64.getDecoder.decode(parts(3))
          val bb = java.nio.ByteBuffer.wrap(bytes)
          val words = Array.tabulate(bytes.length / 8)(i => bb.getLong(i * 8))
          val prev = stats.getOrElse(parts(0), FileStat(Long.MaxValue, Map.empty))
          stats(parts(0)) = prev.copy(blooms =
            prev.blooms + (parts(1) -> ((parts(2).toInt, words))))
        } catch { case scala.util.control.NonFatal(_) => }
      }
      stats.toMap
    }
  }

  /** The table as of `upTo` (inclusive): the newest usable sidecar, then
    * only the commits after it — O([[checkpointInterval]]) files per
    * resolution on a checkpointed table. */
  private def fold(path: String, upTo: Long = Long.MaxValue): LogState = {
    val vs = versions(path).filter(_ <= upTo)
    val st = new LogState
    val cp = checkpointBase(path, upTo, vs)
    cp.foreach(c => readLines(checkpointFile(path, c)).foreach(st.apply))
    vs.filter(v => cp.forall(_ < v))
      .foreach(v => readLines(commitFile(path, v)).foreach(st.apply))
    st.version = vs.lastOption.getOrElse(-1L)
    st
  }

  // ---- per-file statistics (Delta-style data skipping) ----

  /** Column stats from one file's footer: min/max as exact decimals of the
    * PHYSICAL value (int days for dates, long micros for int64 timestamps —
    * the same numbers Catalyst literals carry), null count. `min/max ==
    * None` with `nulls == file rows` means a recorded all-null column. */
  private case class ColStat(min: Option[BigDecimal], max: Option[BigDecimal],
                             nulls: Long)
  /** `blooms`: per-column Bloom filter over xxhash64(value) — (numHashFns,
    * bit words); recorded as `fb` lines for columns with a declared bloom
    * index, the equality-skipping companion to min/max (which cannot prune
    * string equality). */
  private case class FileStat(rows: Long, cols: Map[String, ColStat],
                              blooms: Map[String, (Int, Array[Long])] =
                                Map.empty)

  /** `f <rel>\t<rows>[\t<col>\t<min>\t<max>\t<nulls>]*` — empty min/max
    * encodes the all-null case. Only top-level numeric-physical columns
    * (int32/int64/float/double, no decimal/int96) are recorded: their
    * stats order matches Catalyst's comparison order exactly, so pruning
    * can never disagree with the filter it serves. Strings are skipped —
    * safe max-truncation needs successor-string logic that buys little
    * over parquet's own row-group stats. */
  private def statsLine(conf: org.apache.hadoop.conf.Configuration,
                        file: JPath, rel: String): Option[String] = try {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val rd = ParquetFileReader.open(
      HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(file.toUri), conf))
    val (rows, cols) = try {
      val blocks = rd.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val perCol = scala.collection.mutable.LinkedHashMap[String,
        (Option[BigDecimal], Option[BigDecimal], Long, Boolean)]()
      for (b <- blocks; c <- b.getColumns.asScala) {
        val name = c.getPath.toDotString
        val ann = c.getPrimitiveType.getLogicalTypeAnnotation
        val annOk = ann == null ||
          ann.isInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation] ||
          ann.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation] ||
          ann.isInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation]
        // '\t' is the stats-line field separator and '\n'/'\r' would let a
        // column name inject arbitrary LINES into the commit log
        if (!name.contains('.') && !name.contains('\t') &&
            !name.contains('\n') && !name.contains('\r') && annOk) {
          val st = c.getStatistics
          val (mn0, mx0, n0, ok0) = perCol.getOrElse(name,
            (None: Option[BigDecimal], None: Option[BigDecimal], 0L, true))
          val next =
            if (!ok0 || st == null || st.isEmpty || st.getNumNulls < 0)
              (None, None, 0L, false) // stats absent/unreliable → drop column
            else if (!st.hasNonNullValue) {
              // min/max-less chunk: only trustable when the null count
              // PROVES every value is null — float/double chunks holding
              // NaN also come through stat-less (writers drop min/max,
              // PARQUET-1222), and NaN orders ABOVE everything in Spark,
              // so conflating them with all-null would wrongly prune
              if (st.getNumNulls == c.getValueCount)
                (mn0, mx0, n0 + st.getNumNulls, true)
              else (None, None, 0L, false)
            }
            else {
              val v: Option[(BigDecimal, BigDecimal)] =
                c.getPrimitiveType.getPrimitiveTypeName match {
                  case INT32 => Some((
                    BigDecimal(st.genericGetMin.asInstanceOf[java.lang.Integer].toInt),
                    BigDecimal(st.genericGetMax.asInstanceOf[java.lang.Integer].toInt)))
                  case INT64 => Some((
                    BigDecimal(st.genericGetMin.asInstanceOf[java.lang.Long].toLong),
                    BigDecimal(st.genericGetMax.asInstanceOf[java.lang.Long].toLong)))
                  case FLOAT =>
                    // NaN/Infinity have no BigDecimal form; dropping THIS
                    // column's stats (not the whole file's) is conservative
                    val (a, b) = (st.genericGetMin.asInstanceOf[java.lang.Float].toFloat,
                      st.genericGetMax.asInstanceOf[java.lang.Float].toFloat)
                    if (a.isNaN || b.isNaN || a.isInfinite || b.isInfinite) None
                    else Some((BigDecimal(a.toDouble), BigDecimal(b.toDouble)))
                  case DOUBLE =>
                    val (a, b) = (st.genericGetMin.asInstanceOf[java.lang.Double].toDouble,
                      st.genericGetMax.asInstanceOf[java.lang.Double].toDouble)
                    if (a.isNaN || b.isNaN || a.isInfinite || b.isInfinite) None
                    else Some((BigDecimal(a), BigDecimal(b)))
                  case _ => None
                }
              v match {
                case None => (None, None, 0L, false)
                case Some((a, b)) =>
                  (Some(mn0.fold(a)(_.min(a))), Some(mx0.fold(b)(_.max(b))),
                    n0 + st.getNumNulls, true)
              }
            }
          perCol(name) = next
        }
      }
      (rows, perCol.toSeq.collect {
        // all-null only recordable when the null count proves it covers
        // every row; otherwise min/max-less stats prune nothing — omit
        case (n, (Some(mn), Some(mx), nulls, true)) => (n, mn, mx, nulls)
        case (n, (None, None, nulls, true)) if nulls == rows =>
          (n, null, null, nulls)
      })
    } finally rd.close()
    if (cols.isEmpty) None
    else Some((s"f $rel\t$rows" +: cols.map { case (n, mn, mx, nulls) =>
      s"$n\t${Option(mn).map(_.toString).getOrElse("")}" +
        s"\t${Option(mx).map(_.toString).getOrElse("")}\t$nulls"
    }).mkString("\t"))
  } catch { case scala.util.control.NonFatal(_) => None }

  /** `f` stats lines plus `fb` bloom-filter lines (for the base state's
    * declared `bloomIdx`) of the newly staged `rels`. */
  private def statsLines(spark: SparkSession, path: String, rels: Seq[String],
                         bloomIdx: collection.Map[String, (Int, Int)])
      : Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    rels.flatMap(r => statsLine(conf, Paths.get(path, r), r)) ++
      bloomLines(spark, path, rels, bloomIdx)
  }

  // ---- Bloom file-skipping indexes (Delta's bloom filter index) ----
  //
  // `bi <col>\t<numBits>\t<numHashFns>` declares, `bid <col>` drops; a
  // later `bi` redefines.

  /** Declared bloom indexes: column → (numBits, numHashFns). */
  def bloomIndexes(path: String): Map[String, (Int, Int)] =
    fold(path).bloomIndexes.toMap

  /** Declare a bloom filter index on `column` (Delta `CREATE BLOOMFILTER
    * INDEX`): from this commit on, every write also records a per-file
    * Bloom filter of xxhash64(column) — the EQUALITY skipping min/max
    * stats cannot provide for strings — and [[scan]] prunes files whose
    * filter proves the sought value absent. Existing files are NOT
    * back-indexed (same as Delta: rewrite/compact to index history);
    * files without a filter are always kept, so pruning stays strictly
    * conservative. Partition columns are not indexable (their values live
    * in directory names, not file bytes — and directory pruning already
    * serves equality on them); an index declared on one records no
    * filters and scan keeps every file. Sizing via
    * [[graft.functions.BloomAggFunctions.bits]]: default ~4 KB/file/column
    * at 1% fpp for ~25k distinct values. */
  def addBloomIndex(path: String, column: String,
                    numBits: Int = 1 << 15, numHashFns: Int = 5): Long = {
    require(column.nonEmpty && !column.exists(c =>
      c == '\t' || c == '\n' || c == '\r'),
      s"txlog: bloom-index column must be tab/newline-free: '$column'")
    require(numBits >= 64 && Integer.bitCount(numBits) == 1,
      s"txlog: numBits must be a power of two >= 64, got $numBits")
    require(numHashFns >= 1 && numHashFns <= 16,
      s"txlog: numHashFns must be in [1,16], got $numHashFns")
    val st = fold(path)
    require(st.version >= 0, s"txlog: no committed version at $path — write() first")
    commit(path, st, extra = Seq(s"bi $column\t$numBits\t$numHashFns"))
  }

  /** `DROP BLOOMFILTER INDEX`: later writes stop recording filters for
    * `column`. Filters already recorded stay valid for their files and
    * keep pruning until those files are rewritten. */
  def dropBloomIndex(path: String, column: String): Long = {
    val st = fold(path)
    require(st.bloomIndexes.contains(column),
      s"txlog: no bloom index on $column at $path")
    commit(path, st, extra = Seq(s"bid $column"))
  }

  /** Per-file `fb` lines for the newly staged `rels`, one per declared
    * bloom-index column present in the files: ONE Spark job groups the new
    * files by `input_file_name` and OR-merges each column's probe bits
    * (map-side combined — only finished KB-scale filters reach the
    * driver). Runs only when an index is declared; the cost rides the
    * write that benefits, exactly like footer stats. */
  private def bloomLines(spark: SparkSession, path: String, rels: Seq[String],
                         idx: collection.Map[String, (Int, Int)]): Seq[String] = {
    if (idx.isEmpty || rels.isEmpty) return Nil
    try {
      val root = Paths.get(path)
      val df = Parquet.read(spark, rels.map(r => root.resolve(r).toString))
      val cols = idx.keys.toSeq.filter(df.columns.contains)
      if (cols.isEmpty) return Nil
      val aggs = cols.map { c =>
        val (bits, k) = idx(c)
        graft.functions.BloomAggFunctions.bloomBits(
          xxhash64(col(c)), bits, k).as(s"bloom_$c")
      }
      val byFile = df.groupBy(input_file_name().as("_f"))
        .agg(aggs.head, aggs.tail: _*).collect()
      // map absolute URIs back to rel paths by unique staged file NAME
      val byName = rels.map(r => r.split("/").last -> r).toMap
      byFile.toSeq.flatMap { row =>
        byName.get(row.getString(0).split("/").last).toSeq.flatMap { rel =>
          cols.zipWithIndex.flatMap { case (c, i) =>
            val words = row.getSeq[Long](i + 1)
            val bb = java.nio.ByteBuffer.allocate(words.length * 8)
            words.foreach(bb.putLong)
            Some(s"fb $rel\t$c\t${idx(c)._2}\t" +
              java.util.Base64.getEncoder.encodeToString(bb.array()))
          }
        }
      }
    } catch { case scala.util.control.NonFatal(_) => Nil }
    // conservative: a failed bloom build only disables skipping
  }

  // ---- CHECK constraints (Delta-style table invariants) ----
  //
  // `c <name>\t<sql-expr>` declares, `cd <name>` drops; a later `c` with
  // the same name redefines.

  /** Active CHECK constraints: name -> SQL predicate. */
  def constraints(path: String): Map[String, String] =
    fold(path).constraints.toMap

  /** `ALTER TABLE ... ADD CONSTRAINT name CHECK (expr)`: existing rows are
    * validated in one scan first (a table already violating the invariant
    * must not get to claim it), then the declaration commits. From that
    * commit on, EVERY write path (write / replace / overwritePartitions /
    * merge / appendBatch) enforces the predicate INSIDE the write job —
    * a fused `raise_error` guard, the Delta CheckDeltaInvariant shape, so
    * enforcement adds no second pass over the data and a violation aborts
    * before anything becomes visible (the ACID dividend: a failed write
    * leaves only invisible orphans). SQL CHECK semantics: NULL passes —
    * declare `col IS NOT NULL` for dbt's not_null contract. */
  def addConstraint(spark: SparkSession, path: String, name: String,
                    exprSql: String): Long = {
    require(name.nonEmpty && !name.exists(c => c == '\t' || c == '\n' || c == '\r'),
      s"txlog: constraint name must be non-empty without tab/newline: '$name'")
    require(!exprSql.exists(c => c == '\n' || c == '\r'),
      s"txlog: constraint expression must be single-line")
    val st = fold(path)
    require(st.version >= 0, s"txlog: no committed version at $path — write() first")
    if (st.live.nonEmpty) {
      // deletion-vector'd rows are logically gone — they must not block
      val bad = readFiles(spark, path, st.live.toSeq, st.schema, st.dvs)
        .filter(not(coalesce(expr(exprSql).cast("boolean"), lit(true))))
        .limit(1).count()
      require(bad == 0,
        s"txlog: existing rows at $path violate constraint $name ($exprSql)")
    }
    commit(path, st, extra = Seq(s"c $name\t$exprSql"))
  }

  /** `ALTER TABLE ... DROP CONSTRAINT name`. */
  def dropConstraint(path: String, name: String): Long = {
    val st = fold(path)
    require(st.constraints.contains(name),
      s"txlog: no constraint named $name at $path")
    commit(path, st, extra = Seq(s"cd $name"))
  }

  /** Deterministic test seam: runs at the top of every commit attempt. */
  private[graft] var onCommitAttempt: String => Unit = _ => ()

  /** Atomically publish `lines` as `file`: write a temp file, then
    * hard-link it into place. Link creation is an all-or-nothing namespace
    * op that fails if `file` exists, so readers see a complete file or
    * none and the second of two racing writers gets false. */
  private def publish(path: String, file: JPath, lines: Seq[String]): Boolean = {
    val tmp = logDir(path).resolve(s".tmp-${UUID.randomUUID()}")
    Files.writeString(tmp, lines.mkString("", "\n", "\n"))
    try {
      try Files.createLink(file, tmp)
      catch { case _: UnsupportedOperationException =>
        // FS without hard links: move-without-replace still refuses an
        // existing target, just not atomically on every FS.
        Files.move(tmp, file)
      }
      true
    } catch { case _: FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp)
  }

  /** Write the sidecar checkpoint for `st` (a state just advanced to its
    * newly published version) if that version is on the cadence. A
    * sidecar is a pure cache of a deterministic fold: losing the race to
    * another writer (same content) or failing to write it affects nothing
    * but resolution cost, so errors are swallowed. */
  private def maybeAutoCheckpoint(path: String, st: LogState): Unit =
    if (st.version > 0 && st.version % checkpointInterval == 0) try
      publish(path, checkpointFile(path, st.version),
        "m checkpoint" +: st.body(withTxns = true))
    catch { case scala.util.control.NonFatal(_) => () }

  /** Publish one commit with optimistic concurrency. `base` is the state
    * the operation planned from. Every attempt folds the log afresh and
    * refuses (ConcurrentModificationException; the caller re-runs) a
    * commit that conflicts with what landed since — the Delta conflict
    * rule, one for every writer:
    *  - every file it removes or vector-marks is still live: a concurrent
    *    rewrite would strand the marks on a file the table no longer
    *    serves, or replace the same rows twice;
    *  - every removed file's deletion vector equals the base's: the
    *    replacement content was staged from the base, so a vector that
    *    landed since would be silently resurrected;
    *  - a `guarded` write (rows staged under the base's constraint guard)
    *    sees no constraint declared since the base: its rows were never
    *    checked against it, and letting them land would publish the very
    *    rows [[addConstraint]]'s validation scan exists to prevent. Drops
    *    are safe (the guard was merely stricter than required).
    * The content is then hard-linked to the next version slot: the link
    * fails if the slot is taken, so racing writers serialize and the loser
    * retries from a fresh fold. `schema` resolves against each attempt's
    * state — a schema-merging op that loses the race must re-merge against
    * the schema the winner just committed, or its retry would republish
    * the stale merge and silently drop the winner's new columns. Returns
    * the version. */
  private def commit(path: String, base: LogState,
                     adds: Seq[String] = Nil, removes: Seq[String] = Nil,
                     schema: LogState => Option[String] = _ => None,
                     txn: Option[String] = None, stats: Seq[String] = Nil,
                     marker: Option[String] = None, extra: Seq[String] = Nil,
                     guarded: Boolean = false): Long = {
    Files.createDirectories(logDir(path))
    val marks = extra.filter(l => l.startsWith("dv ") || l.startsWith("dvx "))
      .map(_.split(" ", 2)(1).split("\t", 2)(0)).filterNot(adds.toSet)
    def conflict(what: String, files: Iterable[String]): Unit =
      if (files.nonEmpty) throw new java.util.ConcurrentModificationException(
        s"txlog: $what: ${files.take(3).mkString(", ")} at $path — retry")
    var attempt = 0
    while (true) {
      onCommitAttempt(path)
      val st = fold(path)
      conflict("file(s) removed or rewritten by a concurrent commit",
        (removes ++ marks).filterNot(st.live).distinct)
      conflict("deletion vector(s) landed on file(s) this commit staged " +
        "without them", removes.filterNot(r => java.util.Arrays.equals(
          st.dvs.getOrElse(r, Array.empty[Long]),
          base.dvs.getOrElse(r, Array.empty[Long]))))
      if (guarded) conflict("constraint(s) declared after this write's " +
        "guard was built", st.constraints.collect {
          case (n, e) if !base.constraints.get(n).contains(e) => n })
      // `w <epochsec>` records the load time INSIDE the commit content:
      // filesystem mtime is not durable ([[vacuum]] rewrites the horizon
      // commit file in place, which would reset an mtime-based freshness
      // to "just loaded")
      val lines = marker.map("m " + _).toSeq ++
        Seq(s"w ${java.time.Instant.now().getEpochSecond}") ++
        schema(st).map("s " + _) ++ txn.map("t " + _) ++
        removes.map("r " + _) ++ adds.map("a " + _) ++ stats ++ extra
      if (publish(path, commitFile(path, st.version + 1), lines)) {
        lines.foreach(st.apply)
        st.version += 1
        maybeAutoCheckpoint(path, st)
        return st.version
      }
      attempt += 1
      if (attempt > 100) throw new java.util.ConcurrentModificationException(
        s"txlog: lost the commit race $attempt times at $path")
    }
    -1L // unreachable
  }

  /** The one write path for caller rows (write / overwritePartitions /
    * replace / merge / appendBatch): stage `rows` under the base's
    * constraint guard ([[graft.util.RowGuard]] — a violating row throws
    * from inside the write job, leaving only invisible orphans), then
    * commit them as a guarded write removing `removes(adds)`. With
    * `evolve`, `schema` merges additively into the committed one (a type
    * change refuses before anything is staged); otherwise it replaces it. */
  private def writeRows(path: String, base: LogState, rows: DataFrame,
                        schema: StructType, evolve: Boolean,
                        partitionBy: Option[String], clusterBy: Seq[String] = Nil,
                        txn: Option[String] = None)
                       (removes: Seq[String] => Seq[String]): Long = {
    if (evolve) mergeSchemas(base.schema, schema)
    val adds = stageIn(graft.util.RowGuard(rows, base.constraints.toSeq,
      s"at $path"), path, partitionBy, clusterBy)
    commit(path, base, adds, removes(adds), txn = txn, guarded = true,
      stats = statsLines(rows.sparkSession, path, adds, base.bloomIndexes),
      schema = st => Some(
        (if (evolve) mergeSchemas(st.schema, schema) else schema).json))
  }

  /** Write `df` through Spark into a staging dir, then move the parquet
    * files (same-FS rename, cheap) into the table dir under fresh unique
    * names, preserving the partition subdirs Spark laid out. Returns the
    * table-relative paths to feed [[commit]]. Nothing is visible to
    * readers until that commit lands. */
  private def stageIn(df: DataFrame, path: String,
                      partitionBy: Option[String],
                      clusterBy: Seq[String]): Seq[String] = {
    val stage = logDir(path).resolve(s"stage-${UUID.randomUUID()}")
    val shaped = (partitionBy, clusterBy) match {
      case (Some(p), cb) if cb.nonEmpty =>
        df.repartition(col(p)).sortWithinPartitions(cb.head, cb.tail: _*)
      case _ => df
    }
    val writer = shaped.write.mode("overwrite")
    partitionBy.fold(writer)(writer.partitionBy(_)).parquet(stage.toString)
    val root = Paths.get(path)
    val walked = Files.walk(stage)
    val rels = try {
      walked.iterator.asScala
        .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet"))
        .toSeq.map { f =>
          val relDir = stage.relativize(f.getParent).toString
          val name = s"part-${UUID.randomUUID()}.parquet"
          val targetDir = if (relDir.isEmpty) root else root.resolve(relDir)
          Files.createDirectories(targetDir)
          Files.move(f, targetDir.resolve(name))
          if (relDir.isEmpty) name else s"$relDir/$name"
        }
    } finally walked.close()
    deleteRec(stage)
    rels
  }

  private def deleteRec(p: JPath): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator.asScala.toSeq.reverseIterator.foreach(Files.deleteIfExists(_))
    finally s.close()
  }

  private def readAt(spark: SparkSession, path: String, upTo: Long): DataFrame = {
    val df = readIfCommitted(spark, path, upTo)
    require(df.isDefined, s"txlog: no committed version at $path" +
      (if (upTo != Long.MaxValue) s" <= $upTo" else ""))
    df.get
  }

  /** The table as of `upTo`, or None when no commit is at or below it:
    * the cold check and the read from one log resolution. */
  def readIfCommitted(spark: SparkSession, path: String,
                      upTo: Long = Long.MaxValue): Option[DataFrame] = {
    val st = fold(path, upTo)
    if (st.version < 0) None
    else Some(readFiles(spark, path, st.live.toSeq, st.schema, st.dvs))
  }

  /** Live files read with per-row FILE IDENTITY: the committed-schema data
    * columns plus `fnCol` = the file's (unique, staged-UUID) name and
    * `riCol` = the row's parquet row index within it — the address a
    * deletion vector marks. Both ride the scan as generated metadata
    * columns (`_metadata`), costing no extra IO. */
  private def readMeta(spark: SparkSession, path: String, live: Seq[String],
                       schemaJson: Option[String], fnCol: String,
                       riCol: String): DataFrame = {
    val paths = live.map(r => s"$path/$r")
    schemaJson.map(DataType.fromJson(_).asInstanceOf[StructType]) match {
      case Some(s) =>
        spark.read.schema(s).option("basePath", path).parquet(paths: _*)
          .select(s.fieldNames.map(col).toSeq ++ Seq(
            col("_metadata.file_name").as(fnCol),
            col("_metadata.row_index").as(riCol)): _*)
      case None =>
        Parquet.read(spark, paths, Map("basePath" -> path))
          .withColumn(fnCol, col("_metadata.file_name"))
          .withColumn(riCol, col("_metadata.row_index"))
    }
  }

  /** Outstanding vector rows above which the DV anti-join stops
    * broadcasting: ~4M (name, pos) rows ≈ 150+ MB materialized per
    * executor — past that, a shuffled anti-join is cheaper than an
    * oversized broadcast on EVERY read until [[purgeDeletes]]. */
  private val DvBroadcastMaxRows = 4000000L

  /** The deletion-vector positions of `live` files as a (file name,
    * position) frame — broadcast against the masked scan while small
    * (deleted-row scale, KBs in the steady state), plain above
    * [[DvBroadcastMaxRows]]. */
  private def dvFrame(spark: SparkSession, live: Seq[String],
                      dvs: collection.Map[String, Array[Long]]): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    val rows: Seq[Row] = live.flatMap(r =>
      dvs.getOrElse(r, Array.empty[Long]).map(p => Row(r.split("/").last, p)))
    val df = spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("_dv_name", StringType, nullable = false),
      StructField("_dv_pos", LongType, nullable = false))))
    if (rows.length <= DvBroadcastMaxRows) broadcast(df) else df
  }

  private def readFiles(spark: SparkSession, path: String, live: Seq[String],
                        schemaJson: Option[String],
                        dvs: collection.Map[String, Array[Long]] = Map.empty): DataFrame = {
    // merge-on-read: files carrying a deletion vector anti-join their
    // marked (file, row-index) positions out — a broadcast of the vector
    // frame (deleted-row scale, KBs) against only the DV'd files' scan;
    // files without vectors (the steady state after compaction) read
    // plain, paying nothing
    val dvLive = live.filter(r => dvs.get(r).exists(_.nonEmpty))
    if (dvLive.nonEmpty) {
      val plain = live.filterNot(dvLive.toSet)
      val sfx = UUID.randomUUID().toString.take(8)
      val (fn, ri) = (s"_dv_fn_$sfx", s"_dv_ri_$sfx")
      val m = readMeta(spark, path, dvLive, schemaJson, fn, ri)
      val pos = dvFrame(spark, dvLive, dvs)
      val masked = m.join(pos,
          m(fn) === pos("_dv_name") && m(ri) === pos("_dv_pos"), "left_anti")
        .drop(fn, ri)
      return if (plain.isEmpty) masked
        else masked.unionByName(readFiles(spark, path, plain, schemaJson))
    }
    if (live.isEmpty) {
      val schema = schemaJson.map(DataType.fromJson(_).asInstanceOf[StructType])
        .getOrElse(new StructType())
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    } else schemaJson.map(DataType.fromJson(_).asInstanceOf[StructType]) match {
      case Some(s) =>
        // Read under the COMMITTED schema, not a sampled footer: after a
        // schema-evolving append the live set mixes old and new footers —
        // the explicit schema null-fills columns a file predates and types
        // partition values. basePath recovers partition columns from the
        // Hive-style subdirs even though we hand Spark an explicit
        // (snapshot-pinned) file list; Spark still surfaces them LAST
        // regardless of the given schema, so restore the writer's order.
        spark.read.schema(s).option("basePath", path)
          .parquet(live.map(r => s"$path/$r"): _*)
          .select(s.fieldNames.map(col).toSeq: _*)
      case None =>
        Parquet.read(spark, live.map(r => s"$path/$r"), Map("basePath" -> path))
    }
  }

  /** Delta-style additive schema evolution: existing columns keep their
    * position and type (a type change is refused loudly — silent
    * cross-type reads corrupt), columns new in `next` append at the end.
    * A type that differs only in nullability (an array's containsNull, a
    * map's valueContainsNull, a nested field's nullable) is the same
    * type: the committed schema keeps the more nullable of the two, so
    * every committed file reads under it. Old data files simply lack the
    * new columns; [[readAt]]'s explicit committed schema null-fills
    * them, so no rewrite ever happens. */
  private def mergeSchemas(prevJson: Option[String], next: StructType): StructType =
    prevJson.map(DataType.fromJson(_).asInstanceOf[StructType]) match {
      case None => next
      case Some(prev) =>
        val kept = prev.fields.map { p =>
          next.fields.find(_.name == p.name).fold(p) { f =>
            require(Bridge.equalsIgnoreNullability(p.dataType, f.dataType),
              s"txlog: column ${f.name} would change type " +
                s"${p.dataType.simpleString} -> ${f.dataType.simpleString}; " +
                "rewrite the table with write/replace to change a type")
            p.copy(dataType = Bridge.moreNullable(p.dataType, f.dataType))
          }
        }
        StructType(kept ++
          next.fields.filterNot(f => prev.fieldNames.contains(f.name)))
    }

  /** The partial-rewrite ops (overwritePartitions / compact / deleteKeys)
    * assume a consistently partitioned layout; on a table made
    * UNPARTITIONED by [[replace]] they would mix directory depths —
    * partition discovery breaks, or worse, root files stay live next to
    * rewritten copies of their rows. Refuse loudly instead. */
  private def requirePartitioned(path: String, live: Seq[String], op: String): Unit = {
    val flat = live.filterNot(_.contains("/"))
    require(flat.isEmpty,
      s"txlog: $op needs a partitioned table, but $path has " +
        s"${flat.size} root-level data file(s) (e.g. ${flat.head}) — " +
        "rewrite it with write(df, path, partitionBy = Some(...)) first")
  }

  // ---- TableFormat ----

  def write(df: DataFrame, path: String, partitionBy: Option[String] = None,
            clusterBy: Seq[String] = Nil): Unit = {
    val base = fold(path)
    writeRows(path, base, df, df.schema, evolve = false, partitionBy,
      clusterBy)(_ => base.live.toSeq)
  }

  def overwritePartitions(df: DataFrame, path: String,
                          partitionCol: String): Unit = {
    val base = fold(path)
    val live = base.live.toSeq
    requirePartitioned(path, live, "overwritePartitions")
    // untouched partitions' files survive this commit → additive merge,
    // not wholesale replace, so their columns stay readable
    writeRows(path, base, df, df.schema, evolve = true, Some(partitionCol)) {
      adds =>
        // which partitions `df` touched falls straight out of the staged
        // dir names — no collect, no value formatting, escaping untouched
        val newDirs = adds.map(_.split("/", 2)(0)).toSet
        live.filter(r => r.contains("/") && newDirs.contains(r.split("/", 2)(0)))
    }
  }

  def replace(spark: SparkSession, df: DataFrame, path: String): Unit = {
    // `df`'s plan may read the current table; old files stay on disk (and
    // snapshot-pinned readers keep them) until vacuum, so there is no
    // self-overwrite hazard and no staging swap — one commit flips the set.
    val base = fold(path)
    writeRows(path, base, df, df.schema, evolve = false, None)(_ => base.live.toSeq)
  }

  /** Exactly-once batch-tagged MERGE (the [[appendBatch]] contract for
    * upserts — the Delta streaming `foreachBatch MERGE INTO` shape): a
    * replayed `appId:batchId` skips entirely, so a CDC stream upserting
    * per micro-batch is idempotent under failure/restart. Returns None on
    * a skipped replay, Some(files rewritten) otherwise. */
  def mergeBatch(spark: SparkSession, path: String, keyCol: String,
                 source: DataFrame, appId: String, batchId: Long,
                 partitionBy: Option[String] = None): Option[Int] = {
    val tag = s"$appId:$batchId"
    if (committedTxns(path).contains(tag)) None
    else Some(merge(spark, path, keyCol, source, partitionBy, Some(tag)))
  }

  /** `MERGE INTO` (the Delta upsert): target rows whose `keyCol` matches a
    * `source` row are REPLACED by that row, unmatched source rows INSERT —
    * all in ONE atomic commit, so readers see pre-merge or post-merge,
    * never a mix. Physically the Delta shape: only files that actually
    * hold a matched key rewrite (their unmatched rows are carried over);
    * every other file survives untouched — at 100 TB a merge touching 1%
    * of keys rewrites ~1% of files, not the table. The hit-file discovery
    * is one semi-join against the source keys (file-count-scale collect,
    * same as [[deleteKeys]]); AQE broadcasts the key side when small.
    *
    * Schema evolution is additive, like [[appendBatch]]: source columns
    * new to the table append (old rows null-fill on read), missing source
    * columns null-fill on the inserted rows, type changes refuse.
    * `source` must have at most one row per key — with duplicates, each
    * duplicate lands (the multiple-match case Delta rejects; this engine
    * documents it instead of paying a validation agg per merge).
    * Returns the number of files rewritten. */
  def merge(spark: SparkSession, path: String, keyCol: String,
            source: DataFrame, partitionBy: Option[String] = None,
            txn: Option[String] = None): Int = {
    val base = fold(path)
    val (live, prevSchema) = (base.live.toSeq, base.schema)
    require(base.version >= 0, s"txlog: no committed version at $path — write() first")
    require(live.isEmpty ||
        live.exists(_.contains("/")) == partitionBy.isDefined,
      s"txlog: merge partitioning (${partitionBy.getOrElse("none")}) " +
        s"does not match the layout of $path")
    val schema = mergeSchemas(prevSchema, source.schema)
    require(schema.fieldNames.contains(keyCol),
      s"txlog: merge key $keyCol not in table schema")
    val target = readFiles(spark, path, live, prevSchema, base.dvs)
    val srcKeys = source.select(col(keyCol).as("_mk")).distinct()
    val hitFiles = target.withColumn("_file", input_file_name())
      .join(srcKeys, target(keyCol) === srcKeys("_mk"), "left_semi")
      .select("_file").distinct().collect().map(_.getString(0))
    val hitRel = relPaths(path, hitFiles.toSeq)
    // carried-over rows: the hit files' rows whose key is NOT in the source
    val hitSet = hitFiles.toSet
    val kept =
      if (hitSet.isEmpty) null
      else target.withColumn("_file", input_file_name())
        .filter(col("_file").isInCollection(hitSet))
        .drop("_file")
        .join(srcKeys, target(keyCol) === srcKeys("_mk"), "left_anti")
    // align both sides to the merged schema (null-fill missing columns)
    def align(df: DataFrame): DataFrame = df.select(schema.fields.map { f =>
      if (df.columns.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toSeq: _*)
    val out = if (kept == null) align(source) else align(kept).unionAll(align(source))
    writeRows(path, base, out, source.schema, evolve = true, partitionBy,
      txn = txn)(_ => hitRel)
    hitRel.size
  }

  /** `input_file_name()` URIs back to table-relative paths. The URI's
    * %-encoding stacks ON TOP of the Hive escaping in partition dir names,
    * so decode to the on-disk path before relativizing — otherwise a
    * remove entry would name a nonexistent rel path. */
  private def relPaths(path: String, files: Seq[String]): Seq[String] = {
    val root = Paths.get(path).toAbsolutePath
    val rels = files.map { f =>
      val p = if (f.startsWith("file:")) Paths.get(new java.net.URI(f))
              else Paths.get(f)
      root.relativize(p.toAbsolutePath).toString
    }
    require(!rels.exists(_.startsWith("..")),
      s"txlog: hit file outside table root $root")
    rels
  }

  /** Undo Hive's %XX dir-name escaping (partition values round-trip
    * through [[stageIn]]'s Spark-written directory names). */
  private def unescapeHive(s: String): String =
    "%[0-9A-Fa-f]{2}".r.replaceAllIn(s,
      m => java.util.regex.Matcher.quoteReplacement(
        Integer.parseInt(m.matched.substring(1), 16).toChar.toString))

  /** Per-partition file budget for a rewrite to ~`targetBytes` files:
    * (dir → live files, unescaped partition value → file count). */
  private def compactBudget(path: String, live: Seq[String], targetBytes: Long,
                            op: String)
      : (Map[String, Seq[String]], Map[String, Int]) = {
    require(targetBytes > 0)
    requirePartitioned(path, live, op)
    val byDir = live.filter(_.contains("/")).groupBy(_.split("/", 2)(0))
    val budget: Map[String, Int] = byDir.map { case (dir, files) =>
      val bytes = files.map(f => Files.size(Paths.get(path, f))).sum
      unescapeHive(dir.split("=", 2)(1)) ->
        math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    }
    (byDir, budget)
  }

  def compact(spark: SparkSession, path: String, partitionCol: String,
              targetBytes: Long = 128L * 1024 * 1024): Map[String, Int] = {
    // ONE snapshot feeds both the remove list and the rows to rewrite: a
    // second read(path) here could see a concurrent append's file, copy
    // its rows into the compacted output, and leave the original live —
    // silent duplication. readFiles pins exactly the files being replaced.
    val st0 = fold(path)
    val (live, schemaJson) = (st0.live.toSeq, st0.schema)
    val (byDir, budget) = compactBudget(path, live, targetBytes, "compact")
    if (byDir.isEmpty) return budget
    // DV-aware read: the rewrite MATERIALIZES pending deletion vectors
    // (their files are removed, so the fold drops the vectors with them)
    val df = readFiles(spark, path, live, schemaJson, st0.dvs)
    val budgetCol = typedLit(budget)
    // unique helper-column name: a real column named `_salt` must survive
    val saltCol = s"_salt_${UUID.randomUUID().toString.take(8)}"
    val salted = df.withColumn(saltCol,
      pmod(xxhash64(df.columns.map(col): _*),
        coalesce(budgetCol(coalesce(col(partitionCol).cast("string"),
          lit("__HIVE_DEFAULT_PARTITION__"))), lit(1))))
      .repartition(col(partitionCol), col(saltCol))
      .drop(saltCol)
    val adds = stageIn(salted, path, Some(partitionCol), Nil)
    commit(path, st0, adds, byDir.values.flatten.toSeq,
      stats = statsLines(spark, path, adds, st0.bloomIndexes),
      marker = Some("rewrite"))
    budget
  }

  /** `OPTIMIZE ... ZORDER BY (clusterBy)`: compaction that range-clusters
    * instead of hash-salting, so each rewritten file covers a TIGHT
    * min/max range of the cluster key — point/range predicates then skip
    * whole files (and row groups) on parquet stats alone, which at 100 TB
    * is the difference between listing a partition and scanning it.
    *
    * One column clusters by its natural order; several interleave as a
    * Morton key over per-column equi-width 256-bucket codes (one global
    * min/max agg — two scalars per column — prices the grid), giving
    * every file a tight range on EVERY cluster dimension, where a
    * lexicographic multi-column sort serves only the leading one. The
    * file split is one range exchange on (partition, key): sampled
    * boundaries, so per-partition file counts track [[compact]]'s budget
    * approximately rather than exactly — same trade Delta's OPTIMIZE
    * makes. Rows, schema, and history semantics are identical to
    * [[compact]]: one commit, snapshot isolation, old files to [[vacuum]]. */
  def compactClustered(spark: SparkSession, path: String, partitionCol: String,
                       clusterBy: Seq[String],
                       targetBytes: Long = 128L * 1024 * 1024): Map[String, Int] = {
    require(clusterBy.nonEmpty, "txlog: compactClustered needs cluster columns")
    // same single-snapshot discipline as [[compact]]
    val st0 = fold(path)
    val (live, schemaJson) = (st0.live.toSeq, st0.schema)
    val (byDir, budget) = compactBudget(path, live, targetBytes,
      "compactClustered")
    if (byDir.isEmpty) return budget
    val df = readFiles(spark, path, live, schemaJson, st0.dvs)
    val key: Column =
      if (clusterBy.size == 1) col(clusterBy.head)
      else {
        val aggs = clusterBy.flatMap(c =>
          Seq(min(col(c).cast("double")), max(col(c).cast("double"))))
        val stats = df.agg(aggs.head, aggs.tail: _*).head()
        val codes = clusterBy.zipWithIndex.map { case (c, i) =>
          if (stats.isNullAt(2 * i) || stats.isNullAt(2 * i + 1) ||
              stats.getDouble(2 * i + 1) <= stats.getDouble(2 * i)) lit(0L)
          else least(lit(255L), greatest(lit(0L),
            (width_bucket(col(c).cast("double"),
              lit(stats.getDouble(2 * i)), lit(stats.getDouble(2 * i + 1)),
              lit(256)) - 1).cast("long")))
        }
        graft.operators.Materialize.zValueN(codes, 8)
      }
    // unique helper-column name: a real column named `_zc` must survive
    val zc = s"_zc_${UUID.randomUUID().toString.take(8)}"
    val shaped = df.withColumn(zc, key)
      .repartitionByRange(math.max(budget.values.sum, 1),
        col(partitionCol), col(zc))
      .sortWithinPartitions(col(partitionCol), col(zc))
      .drop(zc)
    val adds = stageIn(shaped, path, Some(partitionCol), Nil)
    commit(path, st0, adds, byDir.values.flatten.toSeq,
      stats = statsLines(spark, path, adds, st0.bloomIndexes),
      marker = Some("rewrite"))
    budget
  }

  def deleteKeys(spark: SparkSession, path: String, partitionCol: String,
                 keyCol: String, keys: DataFrame): Seq[String] = {
    val st0 = fold(path)
    require(st0.version >= 0, s"txlog: no committed version at $path")
    requirePartitioned(path, st0.live.toSeq, "deleteKeys")
    val df = readFiles(spark, path, st0.live.toSeq, st0.schema, st0.dvs)
    val k = keys.columns.head
    // FILE-granular delete: only files that actually hold a doomed key
    // rewrite. The collect is file-count scale (the hit list), not row
    // scale — same shape Delta's DELETE uses from its index.
    val hitFiles = df.withColumn("_file", input_file_name())
      .join(broadcast(keys), df(keyCol) === keys(k), "left_semi")
      .select("_file").distinct().collect().map(_.getString(0))
    if (hitFiles.isEmpty) return Nil
    val hitRel = relPaths(path, hitFiles.toSeq)
    val hitSet = hitFiles.toSet
    val kept = df.withColumn("_file", input_file_name())
      .filter(col("_file").isInCollection(hitSet))
      .drop("_file")
      .join(broadcast(keys), df(keyCol) === keys(k), "left_anti")
    val adds = stageIn(kept, path, Some(partitionCol), Nil)
    commit(path, st0, adds, hitRel,
      stats = statsLines(spark, path, adds, st0.bloomIndexes))
    hitRel.flatMap(r => r.split("/", 2) match {
      case Array(dir, _) if dir.contains("=") =>
        Some(unescapeHive(dir.split("=", 2)(1)))
      case _ => None
    }).distinct
  }

  /** `DELETE FROM ... WHERE condition` as a MERGE-ON-READ delete (Delta
    * deletion vectors): no data file is rewritten — the doomed rows'
    * (file, row-index) addresses are located in one column-pruned scan and
    * committed as per-file deletion vectors; every read path (read / scan /
    * time travel / merge / CDF) masks them from then on, [[count]] stays
    * metadata-only, and a later rewrite ([[compact]] / [[merge]] /
    * [[purgeDeletes]]) materializes them physically. At 100 TB this turns
    * a GDPR-delete of k rows from "rewrite every file holding a doomed
    * key" (GBs of write amplification per row, [[deleteKeys]]) into one
    * KB-scale log commit — the write amplification is the VECTOR, not the
    * data.
    *
    * The positions collect is O(deleted rows) — the operation's own output
    * size, NOT table scale; `maxDeletedRows` refuses an accidental
    * bulk delete (use [[deleteKeys]]/[[replace]] to rewrite wholesale).
    * Concurrency: the commit verifies per attempt that every marked file
    * is still live — a racing rewrite of that file would strand positions
    * addressed to rows the table no longer serves from it (the Delta
    * delete-vs-rewrite conflict); losing that check's race throws instead
    * of silently dropping the delete. Returns rows newly marked deleted. */
  def deleteVectors(spark: SparkSession, path: String, condition: Column,
                    maxDeletedRows: Long = 10000000L,
                    txn: Option[String] = None): Long = {
    // a nonpositive cap would make limit() throw (negative) or silently
    // match nothing (zero) — refuse with the actual remedy instead
    require(maxDeletedRows > 0,
      s"txlog: maxDeletedRows must be positive (got $maxDeletedRows) — " +
        "for bulk deletes rewrite with deleteKeys/replace instead")
    val st = fold(path)
    require(st.version >= 0, s"txlog: no committed version at $path")
    if (st.live.isEmpty) return 0L
    val live = st.live.toSeq
    val sfx = UUID.randomUUID().toString.take(8)
    val (fn, ri) = (s"_dv_fn_$sfx", s"_dv_ri_$sfx")
    // address discovery over LIVE rows only (existing vectors masked:
    // re-marking an already-deleted row would inflate the metadata count)
    val meta = readMeta(spark, path, live, st.schema, fn, ri)
    val alive = {
      val pos = dvFrame(spark, live, st.dvs)
      meta.join(pos,
        meta(fn) === pos("_dv_name") && meta(ri) === pos("_dv_pos"),
        "left_anti")
    }
    // cap+1 detects overrun; saturate instead of overflowing when the
    // caller passes Long.MaxValue to mean "no cap"
    val cap =
      if (maxDeletedRows >= Int.MaxValue - 1) Int.MaxValue
      else (maxDeletedRows + 1).toInt
    val doomed = alive.filter(condition).select(col(fn), col(ri))
      .limit(cap).collect()
    require(doomed.length <= maxDeletedRows,
      s"txlog: deleteVectors matched more than $maxDeletedRows rows at " +
        s"$path — a delete this large should rewrite (deleteKeys/replace)")
    if (doomed.isEmpty) return 0L
    val byName = live.map(r => r.split("/").last -> r).toMap
    val lines = doomed.groupBy(_.getString(0)).toSeq.sortBy(_._1)
      .map { case (n, rows) =>
        val rel = byName.getOrElse(n,
          sys.error(s"txlog: scanned file $n missing from snapshot"))
        val ps = rows.map(_.getLong(1)).distinct.sorted.toArray
        s"dv $rel\t${encodePositions(ps)}"
      }
    commit(path, st, txn = txn, extra = lines)
    doomed.length.toLong
  }

  /** Exactly-once batch-tagged DELETE (the [[appendBatch]] contract for
    * deletes): a replayed batch — same `appId:batchId` tag already in the
    * log — skips entirely, so a retention/GDPR stream applying deletion
    * requests via `foreachBatch` is idempotent under failure/restart.
    * Returns None on a skipped replay, Some(rows newly marked) otherwise.
    * A batch that matches nothing commits nothing (its replay is an
    * equally empty no-op). */
  def deleteVectorsBatch(spark: SparkSession, path: String, condition: Column,
                         appId: String, batchId: Long,
                         maxDeletedRows: Long = 10000000L): Option[Long] = {
    val tag = s"$appId:$batchId"
    if (committedTxns(path).contains(tag)) None
    else Some(deleteVectors(spark, path, condition, maxDeletedRows, Some(tag)))
  }

  /** Deletion vectors outstanding per live file (file → deleted-row
    * count) — the observability hook behind "when should I purge". */
  def deletionVectors(path: String): Map[String, Int] = {
    fold(path).liveDvs.map { case (r, ps) => r -> ps.length }.toMap
  }

  /** `REORG TABLE ... APPLY (PURGE)` (Delta): physically rewrite ONLY the
    * files carrying deletion vectors, dropping their marked rows; every
    * vector-free file survives byte-identical. A maintenance rewrite
    * (`m rewrite` — moves no logical data, CDF-silent), the repaying of
    * merge-on-read's read-side debt at the caller's chosen cadence.
    *
    * `minDvFraction`: only files whose deleted-row share reaches it
    * rewrite (Delta's min-ratio heuristic — rewriting a GB file to drop
    * three rows wastes the write; their vectors stay until compaction or
    * a denser delete). Files without recorded row counts conservatively
    * qualify. 0 purges everything vector'd. Returns the number of files
    * rewritten. */
  def purgeDeletes(spark: SparkSession, path: String,
                   partitionBy: Option[String] = None,
                   minDvFraction: Double = 0.0): Int = {
    val st = fold(path)
    require(st.version >= 0, s"txlog: no committed version at $path")
    val stats = st.fileStats()
    val dvd = st.live.toSeq.filter { r =>
      st.dvs.get(r).exists(_.nonEmpty) &&
        stats.get(r).forall(fs => fs.rows <= 0 ||
          st.dvs(r).length.toDouble / fs.rows >= minDvFraction)
    }
    if (dvd.isEmpty) return 0
    require(st.live.exists(_.contains("/")) == partitionBy.isDefined,
      s"txlog: purgeDeletes partitioning (${partitionBy.getOrElse("none")}) " +
        s"does not match the layout of $path")
    val rows = readFiles(spark, path, dvd, st.schema, st.dvs)
    val adds = stageIn(rows, path, partitionBy, Nil)
    commit(path, st, adds, dvd,
      stats = statsLines(spark, path, adds, st.bloomIndexes),
      marker = Some("rewrite"))
    dvd.size
  }

  def read(spark: SparkSession, path: String): DataFrame =
    readAt(spark, path, Long.MaxValue)

  // ---- beyond the trait: the ACID dividends ----

  /** Transaction tags (`appId:batchId`) recorded so far — the replay
    * ledger behind [[appendBatch]]. */
  def committedTxns(path: String): Set[String] = fold(path).txns.toSet

  /** Exactly-once streaming sink primitive (the Delta streaming-sink txn
    * protocol): append `df`'s files in one commit TAGGED with
    * `appId:batchId`; a REPLAYED batch — same tag already in the log —
    * is skipped entirely, so `foreachBatch { (b, id) => appendBatch(b,
    * path, appId, id) }` is idempotent under failure/restart without
    * partition-completeness assumptions. Returns false on a skipped
    * replay. Spark guarantees one live writer per (checkpoint, batch);
    * the tag check rides that single-writer property. */
  def appendBatch(df: DataFrame, path: String, appId: String, batchId: Long,
                  partitionBy: Option[String] = None): Boolean = {
    val tag = s"$appId:$batchId"
    val base = fold(path)
    if (base.txns.contains(tag)) return false
    // an append must match the table's directory layout: flat files next
    // to partition dirs (or vice versa) break partition discovery
    require(base.live.isEmpty ||
        base.live.exists(_.contains("/")) == partitionBy.isDefined,
      s"txlog: appendBatch partitioning (${partitionBy.getOrElse("none")}) " +
        s"does not match the layout of $path")
    // additive schema evolution: a batch may carry new columns (appended)
    // or omit committed ones (null-filled on read) — never a type change
    writeRows(path, base, df, df.schema, evolve = true, partitionBy,
      txn = Some(tag))(_ => Nil)
    true
  }

  /** Time travel: the table exactly as of commit `version`. */
  def readVersion(spark: SparkSession, path: String, version: Long): DataFrame =
    readAt(spark, path, version)

  /** A commit's durable timestamp. A pre-`w` legacy commit reports
    * timestamp 0, which reads as infinitely old (fabricating history in
    * [[readTimestamp]], folding away recent versions in
    * [[vacuumRetainHours]]) — fall back to the commit file's mtime there,
    * like [[lastCommitEpoch]] does. */
  private def effectiveTs(path: String, c: CommitInfo): Long =
    if (c.timestamp > 0) c.timestamp
    else Files.getLastModifiedTime(commitFile(path, c.version))
      .toInstant.getEpochSecond

  /** `TIMESTAMP AS OF` (Delta's other time-travel axis): the table as of
    * the newest commit whose durable load stamp is ≤ `epochSec` —
    * "what did the dashboard show yesterday 09:00" asked the way an
    * auditor asks it. Stamps are the in-content `w` lines (vacuum-safe,
    * not mtime); a timestamp before the earliest retained commit refuses
    * like a vacuumed version. */
  def readTimestamp(spark: SparkSession, path: String,
                    epochSec: Long): DataFrame = {
    val h = describeHistory(path) // newest first
    require(h.nonEmpty, s"txlog: no committed version at $path")
    def effectiveTs(c: CommitInfo): Long = TxLogFormat.effectiveTs(path, c)
    val at = h.find(effectiveTs(_) <= epochSec).getOrElse(
      throw new IllegalArgumentException(
        s"txlog: no retained commit at or before epoch $epochSec at $path " +
          s"(earliest retained: ${effectiveTs(h.last)}) — vacuumed or " +
          "before table creation"))
    readAt(spark, path, at.version)
  }

  /** Data skipping (Delta-style): [[read]] + `.filter(filter)`, but files
    * whose LOG-RECORDED min/max/null-count stats prove they cannot hold a
    * matching row are dropped DRIVER-SIDE, before Spark ever lists them.
    * At 100 TB on an object store this is the difference between
    * footer-probing a million files and opening only the handful a
    * clustered key range maps to — [[compactClustered]] makes the ranges
    * tight, this cashes them in. Pruning is strictly conservative: only
    * And/Or/compare/In/IsNull shapes over recorded numeric columns prune;
    * anything else — unrecorded columns, strings, casts, UDFs, files from
    * before stats existed — keeps the file and lets the residual filter
    * (always applied) decide. Results therefore ALWAYS equal
    * `read(...).filter(filter)`; the spec asserts both that equality and
    * the file-count drop. */
  def scan(spark: SparkSession, path: String, filter: Column): DataFrame = {
    val st = fold(path)
    val (live, schemaJson) = (st.live.toSeq, st.schema)
    require(st.version >= 0, s"txlog: no committed version at $path")
    val stats = st.fileStats()
    // Resolve the predicate against an empty frame of the committed
    // schema: the raw Column is an unresolved function tree, but the
    // ANALYZED filter condition is typed Catalyst comparisons with
    // coercion casts placed — the shapes mayMatch prunes on.
    val pred: Option[org.apache.spark.sql.catalyst.expressions.Expression] =
      schemaJson.flatMap { sj =>
        try {
          val s = DataType.fromJson(sj).asInstanceOf[StructType]
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s)
            .filter(filter).queryExecution.analyzed.collectFirst {
              case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
                f.condition
            }
        } catch { case scala.util.control.NonFatal(_) => None }
      }
    // Read per-scan from the session conf (not a mutable global: a
    // shared object var raced across concurrent scans / parallel test
    // suites, and save/restore around it was not exception-ordered).
    val pruneThreshold =
      spark.conf.get(DistributedPruneThresholdKey, "50000").toInt
    val keep = pred match {
      case Some(p) if live.size < pruneThreshold =>
        live.filter(rel => stats.get(rel).forall(fs => mayMatch(p, fs)))
      case Some(p) =>
        // Distributed prune: above the threshold the per-file mayMatch
        // evaluation (predicate tree × files × columns, plus Bloom
        // probes) is the driver's scaling wall — a 100 TB table is
        // millions of files, and a single-threaded fold over them runs
        // minutes while 1000 executor cores idle. Ship (rel, stat)
        // pairs out and evaluate the SAME mayMatch on executors; the
        // kept set is identical by construction (same predicate, same
        // stats, same function). Deliberately an RDD of the in-memory
        // structs, not a DataFrame of them: encoding the exact-decimal
        // stats through Catalyst rows would squeeze BigDecimal into
        // Decimal(38,18) and could round the very values exactness-of-
        // pruning depends on, while closure serialization ships them
        // bit-exact. Order is restored from `live` so downstream file
        // ordering is byte-identical to the driver-side path.
        val sc = spark.sparkContext
        val predB = sc.broadcast(p)
        val slices = math.min(
          math.max(1, live.size / 10000), sc.defaultParallelism * 4)
        val keptSet = sc
          .parallelize(live.map(r => r -> stats.get(r)), slices)
          .filter { case (_, os) => os.forall(fs => mayMatch(predB.value, fs)) }
          .map(_._1).collect().toSet
        predB.destroy()
        live.filter(keptSet)
      case None => live
    }
    readFiles(spark, path, keep, schemaJson, st.dvs).filter(filter)
  }

  /** Session-conf key for the live-file count at which [[scan]]'s stats
    * pruning moves from the driver-side fold to a distributed evaluation
    * of the same predicate (see the scan body). Default 50000 keeps every
    * small-and-medium table on the zero-job fast path; tests lower it via
    * `spark.conf.set` to cross the boundary. A conf key, not an object
    * var: per-session, thread-safe, no save/restore ordering hazards. */
  val DistributedPruneThresholdKey = "spark.graft.txlog.distributedPruneThreshold"

  /** Metadata-only row count: sums the log-recorded per-file row counts —
    * no data file is opened, the answer costs one driver-side log read at
    * ANY table size (the Delta `SELECT COUNT(*)` fast path). Falls back
    * to a real scan-count only when some live file predates stats. */
  def count(spark: SparkSession, path: String): Long = {
    val st = fold(path)
    require(st.version >= 0, s"txlog: no committed version at $path")
    val live = st.live.toSeq
    val stats = st.fileStats()
    // a bloom-only entry (no `f` line) carries no row count
    if (live.forall(r => stats.get(r).exists(_.rows != Long.MaxValue)))
      // a deletion vector's cardinality is exact metadata: the count stays
      // log-only through merge-on-read deletes
      live.map(r => stats(r).rows -
        st.dvs.getOrElse(r, Array.empty[Long]).length).sum
    else readFiles(spark, path, live, st.schema, st.dvs).count()
  }

  /** `RESTORE TABLE ... TO VERSION`: one commit that swaps the live set
    * back to `version`'s — zero data copy (files are immutable and still
    * on disk until [[vacuum]]), so a bad write is undone in milliseconds
    * at any table size. The restore is itself a new version: history is
    * append-only, the mistake stays auditable, and restoring the restore
    * is possible. Refuses a version vacuum already folded away. */
  def restore(path: String, version: Long): Long = {
    val vs = versions(path)
    require(vs.contains(version),
      s"txlog: version $version of $path is not available " +
        s"(have ${vs.mkString(", ")}) — vacuumed or never committed")
    val stWant = fold(path, version)
    val stNow = fold(path)
    val (wantLive, wantSchema) = (stWant.live.toSeq, stWant.schema)
    val nowLive = stNow.live.toSeq
    val nowSet = stNow.live
    // deletion vectors must restore too: rows vector-deleted AFTER
    // `version` come back (un-delete), vectors as of `version` reinstate —
    // absolute `dvx` restatements per differing file (an empty payload
    // clears). A file re-added by this commit lost its entry when it was
    // removed, so its want-state also restates here.
    val dvx = wantLive.flatMap { rel =>
      val want = stWant.dvs.getOrElse(rel, Array.empty[Long])
      val now =
        if (nowSet(rel)) stNow.dvs.getOrElse(rel, Array.empty[Long])
        else Array.empty[Long]
      if (java.util.Arrays.equals(want, now)) None
      else Some(s"dvx $rel\t${encodePositions(want)}")
    }
    commit(path, stNow, wantLive.filterNot(nowSet),
      nowLive.filterNot(stWant.live), _ => wantSchema, extra = dvx)
  }

  /** Change data feed, file-granular: every row added or removed by the
    * commits in `(sinceVersion, untilVersion]`, tagged `_change_type`
    * (`insert` | `delete`) and `_commit_version` — the primitive an
    * incremental downstream consumer (a microbatch model, a feature
    * refresh, an index update) reads instead of rescanning 100 TB.
    *
    * Maintenance rewrites ([[compact]]/[[compactClustered]]) mark their
    * commit `m rewrite` and are skipped: they move bytes, not data. Other
    * partial rewrites ([[deleteKeys]]) surface a hit file's KEPT rows on
    * both sides — file granularity — so per-row consumers should fold by
    * key; the insert-minus-delete multiset is always the exact diff.
    * Ranges folded into a [[vacuum]] checkpoint (`m checkpoint`) are
    * refused loudly — their per-commit history no longer exists. Old
    * files stay readable until vacuum'd (immutability dividend); the
    * range's schemas must be additive (they are unless [[replace]]
    * changed a column type). Plan size grows with the commit count —
    * checkpoint long histories before feeding them to this. */
  def readChanges(spark: SparkSession, path: String, sinceVersion: Long,
                  untilVersion: Long = Long.MaxValue): DataFrame = {
    val vs = versions(path).filter(v => v > sinceVersion && v <= untilVersion)
    val atUntil = fold(path, untilVersion)
    require(atUntil.version >= 0, s"txlog: no committed version at $path")
    val schemaJson = atUntil.schema
    val schema = schemaJson.map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(new StructType())
    def tag(df: DataFrame, typ: String, v: Long): DataFrame = df
      .withColumn("_change_type", lit(typ))
      .withColumn("_commit_version", lit(v))
    // deletion-vector state entering the range: rows a vector killed in an
    // EARLIER commit were emitted as deletes then — a later removal of the
    // same file must not re-emit them, and a dv delta re-marking them (or a
    // restore restating them) must emit only the genuinely new positions
    val dvState = fold(path, sinceVersion)
    /** One file's rows AT (`keep=true`) or EXCEPT the given positions. */
    def rowsAt(rel: String, ps: Array[Long], keep: Boolean): DataFrame = {
      val sfx = UUID.randomUUID().toString.take(8)
      val (fn, ri) = (s"_dv_fn_$sfx", s"_dv_ri_$sfx")
      val m = readMeta(spark, path, Seq(rel), schemaJson, fn, ri)
      val cond = col(ri).isInCollection(ps)
      (if (keep) m.filter(cond) else m.filter(!cond)).drop(fn, ri)
    }
    val parts = vs.flatMap { v =>
      val lines = readLines(commitFile(path, v))
      require(!lines.contains("m checkpoint"),
        s"txlog: version $v of $path is a vacuum checkpoint — its " +
          "per-commit changes are gone; readChanges from a version >= it, " +
          "or use processChanges(allowFullResync = true) to rebuild")
      def files(p: String) = lines.filter(_.startsWith(p)).map(_.drop(p.length))
      def dvLines(p: String): Seq[(String, Array[Long])] =
        files(p).flatMap(dvBody)
      val out: Seq[DataFrame] =
        if (lines.contains("m rewrite")) Nil // bytes moved, no data change
        else {
          def mk(fs: Seq[String], typ: String) =
            if (fs.isEmpty) None
            else Some(tag(readFiles(spark, path, fs, schemaJson), typ, v))
          // removed files: rows their vector already killed were emitted
          // as deletes when the vector committed — exclude them here
          val removedParts = files("r ").flatMap { rel =>
            dvState.dvs.get(rel).filter(_.nonEmpty) match {
              case Some(dead) => Some(tag(rowsAt(rel, dead, keep = false),
                "delete", v))
              case None => None // whole file emits below
            }
          }
          val removedPlain =
            mk(files("r ").filter(r => dvState.dvs.get(r).forall(_.isEmpty)),
              "delete")
          // dv deltas: newly marked positions are deletes
          val dvParts = dvLines("dv ").flatMap { case (rel, delta) =>
            val before = dvState.dvs.getOrElse(rel, Array.empty[Long])
            val fresh = delta.filterNot(before.contains)
            if (fresh.isEmpty) None
            else Some(tag(rowsAt(rel, fresh, keep = true), "delete", v))
          }
          // dvx restatements (restore): added positions are deletes,
          // dropped positions are re-inserts (the un-delete)
          val dvxParts = dvLines("dvx ").flatMap { case (rel, want) =>
            val before = dvState.dvs.getOrElse(rel, Array.empty[Long])
            val added = want.filterNot(before.contains)
            val dropped = before.filterNot(want.contains)
            Seq(
              if (added.isEmpty) None
              else Some(tag(rowsAt(rel, added, keep = true), "delete", v)),
              if (dropped.isEmpty) None
              else Some(tag(rowsAt(rel, dropped, keep = true), "insert", v))
            ).flatten
          }
          mk(files("a "), "insert").toSeq ++ removedPlain ++ removedParts ++
            dvParts ++ dvxParts
        }
      // advance the vector state through EVERY commit (rewrites too —
      // their `r` lines retire vectors), in the commit's own line order
      lines.foreach(dvState.apply)
      out
    }
    if (parts.isEmpty)
      tag(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema),
        "insert", -1L)
    else parts.reduce(_.union(_))
  }

  /** Incremental consumption over the change feed: reads the cursor file
    * under `cursorDir` for the last processed version, hands `f` exactly
    * the commits that landed since (plus the range bounds), and advances
    * the cursor only AFTER `f` returns. A crash mid-`f` reprocesses the
    * same range on restart — at-least-once always, and exactly-once when
    * `f` is idempotent on the range, e.g. [[appendBatch]] into a
    * downstream txlog table with `batchId = until` (the replay skips).
    * Returns the `(since, until]` range processed, None when caught up.
    * This is the batch-cadence equivalent of a streaming source over the
    * table: downstream models reprocess only new commits, never 100 TB.
    *
    * If a [[vacuum]] checkpoint folded part of the unprocessed range, the
    * per-commit history is gone: by default this throws (so a lagging
    * consumer + aggressive vacuum can't silently lose deltas), and with
    * `allowFullResync = true` it recovers by feeding the checkpoint
    * snapshot as a fresh base load (every row tagged `insert` at the
    * checkpoint version) plus the per-commit feed after it — the sink
    * must treat that batch as a rebuild, not an increment. */
  def processChanges(spark: SparkSession, path: String, cursorDir: String,
                     allowFullResync: Boolean = false)
                    (f: (DataFrame, Long, Long) => Unit): Option[(Long, Long)] = {
    val cursor = Paths.get(cursorDir, "txlog-cursor")
    Files.createDirectories(cursor.getParent)
    val since =
      if (Files.exists(cursor)) Files.readString(cursor).trim.toLong else -1L
    val vs = versions(path)
    val until = vs.lastOption.getOrElse(-1L)
    if (until <= since) return None
    val checkpoints = vs.filter(v => v > since &&
      readLines(commitFile(path, v)).contains("m checkpoint"))
    val feed =
      if (checkpoints.isEmpty) readChanges(spark, path, since, until)
      else if (!allowFullResync)
        throw new IllegalArgumentException(
          s"txlog: vacuum checkpointed version(s) ${checkpoints.mkString(", ")} " +
            s"inside the unprocessed range ($since, $until] of $path — the " +
            "per-commit deltas are gone. Re-run with allowFullResync = true " +
            "to rebuild from the checkpoint snapshot, or vacuum less " +
            "aggressively than the slowest consumer")
      else {
        val cp = checkpoints.max
        val base = readVersion(spark, path, cp)
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(cp))
        if (cp == until) base
        else base.union(readChanges(spark, path, cp, until))
      }
    f(feed, since, until)
    val tmp = cursor.resolveSibling(s".tmp-${UUID.randomUUID()}")
    Files.writeString(tmp, until.toString)
    Files.move(tmp, cursor,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    Some((since, until))
  }

  /** Could a file with these stats hold a row satisfying `e`? Unknown
    * shapes answer true (keep). Comparison semantics mirror Catalyst's
    * over the same physical numbers, so a prune is never a wrong prune. */
  private def mayMatch(e: org.apache.spark.sql.catalyst.expressions.Expression,
                       fs: FileStat): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types._
    // order-preserving casts that are also value-EXACT, so comparing the
    // stored stats (exact decimals of the narrow type) against the casted
    // literal can never disagree with Catalyst: integral widenings,
    // int-or-smaller → double, float → double. long → double is monotone
    // but NOT exact above 2^53 — excluded.
    def exactCast(from: DataType, to: DataType): Boolean = (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (ByteType | ShortType, FloatType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
    def name(x: Expression): Option[String] = x match {
      case a: AttributeReference => Some(a.name)
      case c: Cast if exactCast(c.child.dataType, c.dataType) => name(c.child)
      case _ => None
    }
    // analysis leaves coercion casts UNFOLDED on literals
    // (`cast(300 as bigint)`), so evaluate any foldable side
    def num(x: Expression): Option[BigDecimal] = x match {
      case e if e.foldable => e.eval(null) match {
        case i: java.lang.Integer => Some(BigDecimal(i.toInt))
        case l: java.lang.Long => Some(BigDecimal(l.toLong))
        case s: java.lang.Short => Some(BigDecimal(s.toInt))
        case b: java.lang.Byte => Some(BigDecimal(b.toInt))
        case d: java.lang.Double if !d.isNaN && !d.isInfinite =>
          Some(BigDecimal(d.toDouble))
        case f: java.lang.Float if !f.isNaN && !f.isInfinite =>
          Some(BigDecimal(f.toDouble))
        case d: org.apache.spark.sql.types.Decimal => Some(d.toBigDecimal)
        case _ => None // null, strings, NaN, ±Infinity, intervals, …
      }
      case _ => None
    }
    sealed trait Op
    case object Eq extends Op; case object Gt extends Op
    case object Ge extends Op; case object Lt extends Op
    case object Le extends Op
    def cmp(n: String, lit: BigDecimal, op: Op): Boolean = fs.cols.get(n) match {
      case Some(ColStat(Some(mn), Some(mx), _)) => op match {
        case Eq => lit >= mn && lit <= mx
        case Gt => mx > lit
        case Ge => mx >= lit
        case Lt => mn < lit
        case Le => mn <= lit
      }
      case Some(ColStat(None, None, _)) => false // recorded all-null column
      case _ => true // no stats → keep
    }
    def flip(op: Op): Op = op match {
      case Gt => Lt; case Ge => Le; case Lt => Gt; case Le => Ge; case Eq => Eq
    }
    def binary(a: Expression, b: Expression, op: Op): Boolean =
      (name(a), num(b)) match {
        case (Some(n), Some(l)) => cmp(n, l, op)
        case _ => (name(b), num(a)) match {
          case (Some(n), Some(l)) => cmp(n, l, flip(op))
          case _ => true
        }
      }
    // Bloom equality pruning (fb lines): may the file contain a row where
    // bare-attribute `a` equals foldable `b`? Only an EXACT type match
    // qualifies (no cast unwrapping): the filter was built by hashing the
    // column's own values with xxhash64, and Spark's hash is type-tagged —
    // probing with a differently-typed literal's hash would be garbage.
    // Strings are the target (min/max cannot serve equality there);
    // numerics compose with the range check for free.
    def bloomMay(a: Expression, b: Expression): Boolean = {
      val probe = (a, b) match {
        case (attr: AttributeReference, l) if l.foldable &&
            l.dataType == attr.dataType => Some((attr, l))
        case (l, attr: AttributeReference) if l.foldable &&
            l.dataType == attr.dataType => Some((attr, l))
        case _ => None
      }
      probe.forall { case (attr, l) =>
        fs.blooms.get(attr.name).forall { case (k, words) =>
          val v = l.eval(null)
          if (v == null) true
          else {
            // seed 42 = functions.xxhash64's default, the build-side hash
            val h1 = XxHash64(Seq(Literal(v, l.dataType)), 42L)
              .eval(null).asInstanceOf[Long]
            val h2 = graft.functions.BloomProbe.mix(h1)
            val numBits = words.length * 64L
            (0 until k).forall { i =>
              val pos = java.lang.Math.floorMod(h1 + i * h2, numBits).toInt
              (words(pos >>> 6) & (1L << (pos & 63))) != 0
            }
          }
        }
      }
    }
    e match {
      case And(l, r) => mayMatch(l, fs) && mayMatch(r, fs)
      case Or(l, r) => mayMatch(l, fs) || mayMatch(r, fs)
      case EqualTo(a, b) => binary(a, b, Eq) && bloomMay(a, b)
      case EqualNullSafe(a, b) if num(a).isDefined || num(b).isDefined =>
        binary(a, b, Eq)
      case GreaterThan(a, b) => binary(a, b, Gt)
      case GreaterThanOrEqual(a, b) => binary(a, b, Ge)
      case LessThan(a, b) => binary(a, b, Lt)
      case LessThanOrEqual(a, b) => binary(a, b, Le)
      case In(a, list) => name(a) match {
        case Some(n) =>
          val lits = list.map(num)
          val numericMay =
            if (lits.exists(_.isEmpty)) true
            else lits.flatten.exists(cmp(n, _, Eq))
          numericMay && list.exists(bloomMay(a, _))
        case None => true
      }
      case IsNull(a) => name(a).flatMap(fs.cols.get) match {
        case Some(c) => c.nulls > 0
        case None => true
      }
      case IsNotNull(a) => name(a).flatMap(fs.cols.get) match {
        case Some(c) => c.nulls < fs.rows
        case None => true
      }
      case _ => true
    }
  }

  /** [[TableFormat.cloneTable]]: the zero-copy clone (ignores `spark` —
    * the whole operation is namespace metadata). */
  override def cloneTable(spark: SparkSession, src: String, dst: String): Unit = {
    cloneTable(src, dst); ()
  }

  /** `CREATE TABLE target CLONE source [VERSION AS OF v]` (Delta clone —
    * the engine behind `dbt clone`'s zero-copy CI environments): copies
    * the table AS OF `version` (default: latest) into `target` without
    * copying a byte of data. Data files are immutable, so each live file
    * HARD-LINKS into the target dir; the target gets a fresh single-commit
    * log carrying the source's folded state — live set, committed schema,
    * per-file skipping stats (raw `f`/`fb` lines, so pruning fidelity is
    * identical), CHECK constraints, bloom-index declarations, deletion
    * vectors and the last load stamp (a clone is not a load event). Cost
    * is O(live file count) namespace ops at any table size. Unlike a path-referencing shallow clone (Delta's, which a
    * source-side VACUUM breaks), the link refcount makes the two tables
    * fully independent from the first commit: either side can append,
    * delete, restore, or vacuum without touching the other — shared
    * inodes die only when BOTH sides stop referencing them. Txn tags do
    * NOT carry over (the clone is a new sink identity; an exactly-once
    * stream replaying into it must land its batches). On a hard-link-less
    * FS each file falls back to a copy (an object store would use
    * server-side copy here). Returns the target's committed version (0). */
  def cloneTable(path: String, target: String,
                 version: Long = Long.MaxValue): Long = {
    val vs = versions(path)
    require(vs.nonEmpty, s"txlog: no committed version at $path")
    val upTo = if (version == Long.MaxValue) vs.last else version
    require(vs.contains(upTo),
      s"txlog: version $upTo at $path was vacuumed away or never committed")
    require(versions(target).isEmpty,
      s"txlog: clone target $target already has a commit log")
    val st = fold(path, upTo)
    st.live.foreach { rel =>
      val src = Paths.get(path, rel)
      val dst = Paths.get(target, rel)
      Files.createDirectories(dst.getParent)
      try Files.createLink(dst, src)
      catch { case _: UnsupportedOperationException => Files.copy(src, dst) }
    }
    Files.createDirectories(logDir(target))
    if (!publish(target, commitFile(target, 0L),
        "m clone" +: st.body(withTxns = false)))
      throw new java.util.ConcurrentModificationException(
        s"txlog: a concurrent commit created $target while cloning into it")
    0L
  }

  /** One-call table maintenance — the OPTIMIZE scheduler a lakehouse runs
    * on cadence, applying each maintenance op ONLY where its trigger
    * fires (an already-healthy table commits nothing):
    *
    *  1. [[purgeDeletes]] when outstanding deletion-vector rows exceed
    *     `maxDvRows` — repay merge-on-read's read-side debt before the
    *     anti-join frame grows;
    *  2. [[compact]] (or [[compactClustered]] when `clusterBy` is given)
    *     when any partition's live file count exceeds
    *     `maxFilesPerPartition` — the small-files ceiling that keeps
    *     listing and open costs bounded under streaming appends;
    *  3. [[vacuum]] to `retainVersions` — reclaim unreachable files and
    *     fold the log (time travel keeps the retained window).
    *
    * Every step is the existing idempotent, snapshot-isolated op; content
    * is provably untouched (the ops are rewrite-markered). Returns the
    * report: dv rows purged, partitions compacted, files vacuumed. */
  def maintain(spark: SparkSession, path: String, partitionCol: String,
               clusterBy: Seq[String] = Nil,
               maxDvRows: Long = 100000L,
               maxFilesPerPartition: Int = 8,
               targetBytes: Long = 128L * 1024 * 1024,
               retainVersions: Int = 3): Map[String, Long] = {
    val dvRows = deletionVectors(path).values.map(_.toLong).sum
    val purged =
      if (dvRows > maxDvRows)
        purgeDeletes(spark, path, Some(partitionCol)).toLong
      else 0L
    val byDir = fold(path).live.toSeq.filter(_.contains("/"))
      .groupBy(_.split("/", 2)(0))
    val needsCompact = byDir.exists(_._2.size > maxFilesPerPartition)
    val compacted =
      if (!needsCompact) 0L
      else if (clusterBy.nonEmpty)
        compactClustered(spark, path, partitionCol, clusterBy,
          targetBytes).size.toLong
      else compact(spark, path, partitionCol, targetBytes).size.toLong
    val vacuumed = vacuum(path, retainVersions).toLong
    Map("dv_rows_outstanding" -> dvRows, "files_purged" -> purged,
      "partitions_compacted" -> compacted, "files_vacuumed" -> vacuumed)
  }

  /** Epoch-second mtime of the latest commit — the table's "last loaded
    * at" for metadata-based source freshness (dbt 1.7): on a lake table
    * the commit IS the load event, so freshness costs one namespace stat,
    * never a data scan, at any table size. */
  def lastCommitEpoch(path: String): Long = {
    val vs = versions(path)
    require(vs.nonEmpty, s"txlog: no committed version at $path")
    // the `w` line recorded at write time: durable against [[vacuum]]'s
    // in-place rewrite of the horizon commit (whose fold PRESERVES the
    // original load stamp — a checkpoint is not a load event), where the
    // file's mtime would report a vacuumed stale table as freshly loaded.
    // mtime stays as the fallback for pre-`w` logs.
    readLines(commitFile(path, vs.last))
      .find(_.startsWith("w ")).map(_.drop(2).trim.toLong)
      .getOrElse(Files.getLastModifiedTime(commitFile(path, vs.last))
        .toInstant.getEpochSecond)
  }

  /** Commit history: (version, adds, removes) per commit. */
  def history(path: String): Seq[(Long, Int, Int)] =
    versions(path).map { v =>
      val lines = readLines(commitFile(path, v))
      (v, lines.count(_.startsWith("a ")), lines.count(_.startsWith("r ")))
    }

  /** One retained commit's audit row (`DESCRIBE HISTORY`). `operation` is
    * the commit's marker kind (`write` when unmarked — a data change),
    * `timestamp` the durable in-content load stamp ([[lastCommitEpoch]]'s
    * source), `txnTag` the exactly-once tag if the commit carried one,
    * `dvRows` the row positions this commit NEWLY vector-deleted (`dv`
    * deltas only — `dvx` restatements in checkpoint/restore/clone commits
    * summarize or roll back state, they do not delete). */
  final case class CommitInfo(version: Long, timestamp: Long,
                              operation: String, adds: Int, removes: Int,
                              dvRows: Long, txnTag: Option[String])

  /** `DESCRIBE HISTORY`: the audit trail of every retained commit, newest
    * first — who wrote when, what kind of operation, how much moved.
    * Metadata-only (reads the log, never data files). */
  def describeHistory(path: String): Seq[CommitInfo] =
    versions(path).map { v =>
      val lines = readLines(commitFile(path, v))
      CommitInfo(
        version = v,
        timestamp = lines.find(_.startsWith("w "))
          .map(_.drop(2).trim.toLong).getOrElse(0L),
        operation = lines.find(_.startsWith("m ")).map(_.drop(2))
          .getOrElse("write"),
        adds = lines.count(_.startsWith("a ")),
        removes = lines.count(_.startsWith("r ")),
        dvRows = lines.filter(_.startsWith("dv "))
          .map { l =>
            val p = l.split("\t", 2)
            if (p.length == 2)
              try decodePositions(p(1)).length.toLong
              catch { case _: IllegalArgumentException => 0L }
            else 0L
          }.sum,
        txnTag = lines.find(_.startsWith("t ")).map(_.drop(2)))
    }.reverse

  /** Time-based [[vacuum]] (Delta's `RETAIN n HOURS`): keeps every
    * version whose durable load stamp is within `hours` of now (always
    * at least the latest), then reclaims the rest — retention expressed
    * the way an audit policy states it, instead of a version count that
    * means different durations on different write cadences. */
  def vacuumRetainHours(path: String, hours: Double): Int = {
    val cutoff = java.time.Instant.now().getEpochSecond - (hours * 3600).toLong
    // effectiveTs, not raw timestamp: a legacy pre-`w` commit reports 0
    // and would be treated as infinitely old — the mtime fallback keeps a
    // genuinely recent commit inside the retention window
    val recent = describeHistory(path).count(effectiveTs(path, _) > cutoff)
    vacuum(path, retainVersions = math.max(1, recent))
  }

  /** Every data file some retained version (>= `horizon`) references:
    * the live set at the first retained version plus every file added
    * after it — one forward pass, not one fold per version. */
  private def reachable(path: String, at: LogState, vs: Seq[Long]): Set[String] =
    at.live.toSet ++ vs.filter(_ > at.version).flatMap(v =>
      readLines(commitFile(path, v)).collect {
        case l if l.startsWith("a ") => l.drop(2) })

  /** [[vacuum]] DRY RUN: the data files a vacuum at this retention WOULD
    * reclaim (unreachable from every retained snapshot), without touching
    * anything — the "what am I about to delete" check an operator runs
    * before an aggressive retention change. Metadata-only. */
  def vacuumPreview(path: String, retainVersions: Int = 1): Seq[String] = {
    val vs = versions(path)
    if (vs.isEmpty) return Nil
    val horizon = math.max(vs.head, vs.last - math.max(0, retainVersions - 1))
    val keep = reachable(path, fold(path, horizon), vs)
    dataFiles(path).filterNot(keep).sorted
  }

  /** Table-relative paths of every parquet data file on disk. */
  private def dataFiles(path: String): Seq[String] = {
    val root = Paths.get(path)
    val s = Files.walk(root)
    try s.iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet"))
      .filterNot(_.startsWith(logDir(path)))
      .map(f => root.relativize(f).toString).toSeq
    finally s.close()
  }

  /** Reclaim space: checkpoint the snapshot as of `current -
    * retainVersions + 1` into that version's commit slot (temp file +
    * atomic replacing rename — old and new horizon commit describe the
    * SAME cumulative live set, so a concurrent reader is unaffected), drop
    * the now-redundant older commits, then delete every data file no
    * retained snapshot references and sweep orphaned stage dirs from
    * crashed writers. Time travel stays available for the retained
    * versions. Returns deleted data-file count. */
  def vacuum(path: String, retainVersions: Int = 1): Int = {
    val vs = versions(path)
    if (vs.isEmpty) return 0
    val horizon = math.max(vs.head, vs.last - math.max(0, retainVersions - 1))
    val atHorizon = fold(path, horizon)
    if (vs.head < horizon) {
      // fold everything <= horizon into a checkpoint at the horizon slot,
      // BEFORE deleting older commits — their `add` records are what the
      // later snapshots' live files resolve through. Txn tags carry
      // forward too, or a vacuum between micro-batches would forget a
      // replayed batch was already written.
      val tmp = logDir(path).resolve(s".tmp-${UUID.randomUUID()}")
      Files.writeString(tmp, ("m checkpoint" +: atHorizon.body(withTxns = true))
        .mkString("", "\n", "\n"))
      Files.move(tmp, commitFile(path, horizon),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      vs.filter(_ < horizon).foreach(v => Files.deleteIfExists(commitFile(path, v)))
      // sidecar checkpoints below the horizon reference vacuumed history:
      // drop them so resolution can never fold a base whose covering
      // commits are gone (checkpointBase also guards against the
      // crash-between-deletes window)
      checkpointVersions(path).filter(_ < horizon)
        .foreach(v => Files.deleteIfExists(checkpointFile(path, v)))
    }
    val keep = reachable(path, atHorizon, vs)
    var deleted = 0
    dataFiles(path).filterNot(keep).foreach { rel =>
      Files.deleteIfExists(Paths.get(path, rel)); deleted += 1
    }
    val root = Paths.get(path)
    // empty partition dirs + orphaned stages
    val s2 = Files.walk(root)
    try s2.iterator.asScala.toSeq.reverseIterator
      .filter(p => Files.isDirectory(p) && p != root && p != logDir(path))
      .foreach { p =>
        val l = Files.list(p)
        val empty = try !l.iterator().hasNext finally l.close()
        if (empty) Files.deleteIfExists(p)
      }
    finally s2.close()
    val ld = logDir(path)
    if (Files.isDirectory(ld)) {
      val s3 = Files.list(ld)
      try s3.iterator.asScala.filter(_.getFileName.toString.startsWith("stage-"))
        .toSeq.foreach(deleteRec)
      finally s3.close()
    }
    deleted
  }
}
