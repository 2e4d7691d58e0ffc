package graft

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.Sessions
import graft.streaming.StreamOps

/** Streaming twins must agree with their batch counterparts. */
class StreamingSpec extends SparkSpec {

  test("stream tumbling agg (complete mode, AvailableNow) == batch tumbling") {
    val batch = Sessions.tumbling(Tables.events(spark, sf))
      .collect().map(_.toSeq).toSet
    val stream = StreamOps.runTumbling(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(stream == batch)
  }

  test("stream dedup of a doubled source equals batch per-type counts") {
    val batch = Tables.events(spark, sf).groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val stream = StreamOps.runDedup(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stream == batch)
  }

  test("stream-static enrich equals the batch join aggregate") {
    val events = Tables.events(spark, sf)
    val customer = Tables.customer(spark, sf)
    val batch = events.join(customer, col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
           (sum(round(col("value") * 100, 0).cast("long")) / 100.0).as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val stream = StreamOps.runEnrich(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(stream == batch)
  }

  test("stream-stream interval join equals the batch interval join") {
    val e = Tables.events(spark, sf)
    val su = e.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts_s").as("s_ts"))
    val pu = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts_s").as("p_ts"), col("value"))
    val batch = su.join(pu,
        col("user_id") === col("p_user") &&
        col("p_ts") >= col("s_ts") && col("p_ts") <= col("s_ts") + 3600)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
           (sum(round(col("value") * 100, 0).cast("long")) / 100.0).as("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val stream = StreamOps.runIntervalJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(stream == batch && stream.nonEmpty)
  }

  test("transformWithState running totals equal the batch per-user aggregate") {
    val batch = Tables.events(spark, sf).groupBy("user_id")
      .agg(count(lit(1)).as("n"),
           (sum(round(col("value") * 100, 0).cast("long")) / 100.0).as("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val stream = StreamOps.runRunningTotals(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(stream == batch && stream.nonEmpty)
  }

  test("foreachBatch partitioned sink is idempotent under replay") {
    val out = java.nio.file.Files.createTempDirectory("graft_sink").toString + "/t"
    val first = StreamOps.runPartitionedSink(spark, sf, out)
      .collect().map(_.toSeq).toSet
    assert(first.nonEmpty)
    // replay the whole query over the same source — dynamic partition
    // overwrite must rewrite, not append
    val second = StreamOps.runPartitionedSink(spark, sf, out)
      .collect().map(_.toSeq).toSet
    assert(second == first, "replay changed the sink contents")
    val batch = Tables.events(spark, sf).count()
    assert(first.size.toLong == batch, s"${first.size} vs $batch rows")
  }

  test("watermark drops events later than the allowed lateness") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Long)] // (event_id, epoch seconds)
    val agged = input.toDF().toDF("event_id", "ts_s")
      .withColumn("event_time", timestamp_seconds(col("ts_s")))
      .withWatermark("event_time", "10 minutes")
      .groupBy(window(col("event_time"), "10 minutes"))
      .agg(count(lit(1)).as("n"))
    val name = "wm_test_sink"
    val q = agged.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      val h = 3600L
      input.addData((1L, h), (2L, h + 60))        // window [3600, 4200)
      q.processAllAvailable()
      input.addData((3L, h + 7200))               // advances watermark to h+6600
      q.processAllAvailable()
      input.addData((4L, h + 30))                 // LATE: before watermark
      input.addData((5L, h + 7260))
      q.processAllAvailable()
      val emitted = spark.table(name)
        .select(col("window.start").cast("long"), col("n")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // the [3600, 4200) window was finalized with 2 events; the late 4th
      // event must NOT reopen it
      assert(emitted.get(3600L).contains(2L), s"got $emitted")
    } finally q.stop()
  }

  test("corrupt JSON rows yield nulls, not failures") {
    import spark.implicits._
    val df = Seq("""{"k": 7}""", """not-json""", """{"k": "x"}""")
      .toDF("props").withColumn("event_id", monotonically_increasing_id())
      .withColumn("user_id", lit(1L))
    val out = graft.operators.Json.extractProps(df).collect()
    assert(out.length == 3)
    assert(out.count(_.isNullAt(2)) == 2, "malformed rows should be null")
  }

  test("streaming dedup ingest: cross-batch dedup, first-seen wins, " +
       "replay-safe") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val table = java.nio.file.Files
      .createTempDirectory("graft_ingest_spec").resolve("t").toString
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(StreamOps.dedupIngestBatch(table) _)
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((2L, "aa"), (1L, "aa"), (3L, "bb"))
      q.processAllAvailable()
      input.addData((4L, "aa"), (5L, "cc"), (6L, "cc"))
      q.processAllAvailable()
    } finally q.stop()
    val got = graft.sources.TxLogFormat.read(spark, table)
      .select("survivor_id", "batch_count").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // aa: batch 1 won with min id 1; batch 2's copy (id 4) died at ingest.
    // cc: batch 2's two copies collapsed to min id 5.
    assert(got == Map(1L -> 2L, 3L -> 1L, 5L -> 2L), got.toString)
    // replay safety: re-landing an already-committed batch id is a no-op
    val before = graft.sources.TxLogFormat.versions(table).size
    StreamOps.dedupIngestBatch(table)(
      Seq((7L, "dd")).toDF("doc_id", "text"), 0L)
    assert(graft.sources.TxLogFormat.versions(table).size == before,
      "replayed batch id must not commit")
  }

  test("streaming SEGMENT-dedup ingest: cross-batch segment drops, " +
       "index maintained == recomputed, replay-safe") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_seg_spec")
    val table = root.resolve("corpus").toString
    val index = root.resolve("index").toString
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(StreamOps.segmentIngestBatch(table, index,
        segWords = 3) _)
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L, "a b c d e f"), (2L, "a b c x y z"))
      q.processAllAvailable()
      // batch 2: one doc entirely made of already-ingested segments (it
      // must disappear), one carrying a novel tail
      input.addData((3L, "d e f x y z"), (4L, "x y z p q r"))
      q.processAllAvailable()
    } finally q.stop()
    val got = graft.sources.TxLogFormat.read(spark, table)
      .select("doc_id", "text_dedup", "n_kept", "n_dropped").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq.sortBy(_._1)
    assert(got == Seq(
      (1L, "a b c d e f", 2L, 0L),  // both segments novel in batch 1
      (2L, "x y z", 1L, 1L),        // "a b c" lost to doc 1 in-batch
      (4L, "p q r", 1L, 1L)),       // doc 3 was ALL known segments
      got.toString)
    // the maintained index equals the hash set of every ingested segment
    val idx = graft.sources.TxLogFormat.read(spark, index)
      .collect().map(_.getLong(0)).toSet
    val expect = Seq("a b c", "d e f", "x y z", "p q r")
      .toDF("s").select(xxhash64(col("s"))).collect().map(_.getLong(0)).toSet
    assert(idx == expect)
    // replay: both tables refuse the already-committed batch id
    val vT = graft.sources.TxLogFormat.versions(table).size
    val vI = graft.sources.TxLogFormat.versions(index).size
    StreamOps.segmentIngestBatch(table, index, segWords = 3)(
      Seq((9L, "n n n")).toDF("doc_id", "text"), 0L)
    assert(graft.sources.TxLogFormat.versions(table).size == vT &&
      graft.sources.TxLogFormat.versions(index).size == vI)
  }

  test("streaming NEAR-dup ingest: intra-batch + cross-batch near-dups " +
       "drop, the band index tracks the corpus, replay-safe") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_ndingest_spec")
    val table = root.resolve("corpus").toString
    val index = root.resolve("index").toString
    val textA = "the quick brown fox jumps over the lazy sleeping dog tonight"
    val textB = "completely different content about training data pipelines here"
    val textC = "fresh third document with its own unrelated vocabulary inside"
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(StreamOps.neardupIngestBatch(table, index) _)
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 0: 3 = exact copy of 1 (J=1, caught deterministically)
      input.addData((1L, textA), (2L, textB), (3L, textA))
      q.processAllAvailable()
      // batch 1: 10 = exact copy of corpus doc 1 → dropped via the index
      // probe; 11 is novel → lands
      input.addData((10L, textA), (11L, textC))
      q.processAllAvailable()
    } finally q.stop()
    val corpusIds = graft.sources.TxLogFormat.read(spark, table)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(corpusIds == Set(1L, 2L, 11L), corpusIds.toString)
    // the maintained index must equal the index RECOMPUTED from corpus
    // text — the invariant that lets every future batch skip corpus reads
    val maintained = graft.sources.TxLogFormat.read(spark, index)
      .select("doc_id", "band_idx", "band_hash").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val recomputed = graft.operators.Dedup.bandedSignatures(
        graft.sources.TxLogFormat.read(spark, table))
      .select("doc_id", "band_idx", "band_hash").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(maintained == recomputed, "index diverged from corpus")
    // replay: re-landing a committed batch id is a no-op on BOTH tables
    val vs = (graft.sources.TxLogFormat.versions(table).size,
              graft.sources.TxLogFormat.versions(index).size)
    StreamOps.neardupIngestBatch(table, index)(
      Seq((99L, textC)).toDF("doc_id", "text"), 0L)
    assert((graft.sources.TxLogFormat.versions(table).size,
            graft.sources.TxLogFormat.versions(index).size) == vs,
      "replayed batch id must not commit")
  }

  test("streaming SUBSTRING-dedup ingest: intra-batch + cross-batch drops, " +
       "dropped docs still index their windows, replay-safe") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_ssingest_spec")
    val table = root.resolve("corpus").toString
    val index = root.resolve("index").toString
    def run40(seed: Int) = (0 until 40).map(i => ('a' + (i + seed) % 26).toChar).mkString
    val (r, s, t) = (run40(0), run40(7), run40(13))
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(StreamOps.substringIngestBatch(table, index) _)
      .start()
    try {
      // batch 0: doc 3 shares run r with lower-id doc 1 → intra-batch
      // drop; its OTHER run s must still reach the index
      input.addData((1L, s"A$r"), (2L, "short unrelated"), (3L, s"B$r Q$s"))
      q.processAllAvailable()
      // batch 1: 10 duplicates corpus run r → cross-batch drop; 11 shares
      // s ONLY with the dropped doc 3 → must also drop (global rule);
      // 12 is novel → survives
      input.addData((10L, s"C$r"), (11L, s"D$s"), (12L, s"E$t"))
      q.processAllAvailable()
    } finally q.stop()
    import graft.sources.TxLogFormat
    val ids = TxLogFormat.read(spark, table)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 12L), ids.toString)
    // replay: a committed batch id is a no-op on both tables
    val vs = (TxLogFormat.versions(table).size,
              TxLogFormat.versions(index).size)
    StreamOps.substringIngestBatch(table, index)(
      Seq((99L, s"Z$t")).toDF("doc_id", "text"), 0L)
    assert((TxLogFormat.versions(table).size,
            TxLogFormat.versions(index).size) == vs,
      "replayed batch id must not commit")
  }

  test("streaming HASH-dedup ingest: intra-batch collapse, cross-batch " +
       "index probe, maintained index == recomputed, replay-safe") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.sources.TxLogFormat
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_hashingest_spec")
    val (corpusT, indexT) = (root.resolve("corpus").toString,
      root.resolve("index").toString)
    // hand-built 64-bit sigs: B == A (hamming 0, drops in-batch);
    // C far from A (no chunk agrees)
    val sigA = 0x1111222233334444L
    val sigC = 0x5555666677778888L
    val b0 = Seq(1L -> sigA, 2L -> sigA, 3L -> sigC)
    // D == A (must drop against the CORPUS index, not the batch);
    // E = C with 2 bits flipped inside chunk 0 (3 chunks agree -> found,
    // hamming 2 -> drops); F far from everything (survives)
    val b1 = Seq(10L -> sigA, 11L -> (sigC ^ 0x3L), 12L -> 0x9999aaaabbbbccccL)
    val input = MemoryStream[(Long, Long)]
    val q = input.toDF().toDF("doc_id", "sig").writeStream
      .foreachBatch(StreamOps.hashIngestBatch(corpusT, indexT) _)
      .start()
    try {
      input.addData(b0); q.processAllAvailable()
      assert(TxLogFormat.read(spark, corpusT).select("doc_id")
        .collect().map(_.getLong(0)).toSet == Set(1L, 3L))
      input.addData(b1); q.processAllAvailable()
    } finally q.stop()
    val corpus = TxLogFormat.read(spark, corpusT).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(corpus.keySet == Set(1L, 3L, 12L), corpus.toString)
    // maintained index == the survivors' recomputed chunk rows exactly
    val idx = TxLogFormat.read(spark, indexT).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    val recomputed = graft.operators.Dedup.sigChunks(
        corpus.toSeq.toDF("doc_id", "sig")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    assert(idx == recomputed, s"$idx vs $recomputed")
    // replay: a committed batch id is a strict no-op on BOTH tables
    val vs = (TxLogFormat.versions(corpusT).size,
      TxLogFormat.versions(indexT).size)
    StreamOps.hashIngestBatch(corpusT, indexT)(
      Seq(99L -> 0xdeadL).toDF("doc_id", "sig"), 0L)
    assert((TxLogFormat.versions(corpusT).size,
      TxLogFormat.versions(indexT).size) == vs, "replay must not commit")
  }

  test("streaming MULTI-SIGNATURE ingest (r14): any-frame collapse " +
       "in-batch, cross-batch drop at a SHIFTED slot against the index, " +
       "maintained index == recomputed, replay-safe") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.sources.TxLogFormat
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_vmingest_spec")
    val (corpusT, indexT) = (root.resolve("corpus").toString,
      root.resolve("index").toString)
    val (p0, p1, p2, p3) = (0x0123456789ABCDEFL, 0x0FEDCBA987654321L,
      0x1111222233334444L, 0x5555666677778888L)
    // batch 0: clip 1 = [p0, p1]; clip 2 = [p1, p3] — any-frame match
    // via p1 at DIFFERENT slots, greater id drops in-batch
    val b0 = Seq((1L, 0, p0), (1L, 1, p1), (2L, 0, p1), (2L, 1, p3))
    // batch 1: clip 10 = [p2, p0^3] — must drop against the CORPUS
    // index (its slot-1 frame near clip 1's slot-0 frame, hamming 2);
    // clip 11 = [p3, ~p0] — p3 matched only the DROPPED clip 2, which
    // never indexed, so 11 survives (non-cascading across batches)
    val b1 = Seq((10L, 0, p2), (10L, 1, p0 ^ 3L), (11L, 0, p3), (11L, 1, ~p0))
    val input = MemoryStream[(Long, Int, Long)]
    val q = input.toDF().toDF("doc_id", "slot", "sig").writeStream
      .foreachBatch(StreamOps.multiHashIngestBatch(corpusT, indexT) _)
      .start()
    try {
      input.addData(b0); q.processAllAvailable()
      assert(TxLogFormat.read(spark, corpusT).select("doc_id")
        .collect().map(_.getLong(0)).toSet == Set(1L))
      input.addData(b1); q.processAllAvailable()
    } finally q.stop()
    val corpus = TxLogFormat.read(spark, corpusT).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(corpus.map(_._1).toSet == Set(1L, 11L), corpus.toString)
    // every SURVIVOR slot signature indexed — maintained == recomputed
    val idx = TxLogFormat.read(spark, indexT).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    val recomputed = graft.operators.Dedup.sigChunks(
        corpus.toSeq.toDF("doc_id", "slot", "sig")
          .select(col("doc_id"), col("sig"))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    assert(idx == recomputed, s"$idx vs $recomputed")
    // replay no-op on both tables
    val vs = (TxLogFormat.versions(corpusT).size,
      TxLogFormat.versions(indexT).size)
    StreamOps.multiHashIngestBatch(corpusT, indexT)(
      Seq((99L, 0, 0xdeadL)).toDF("doc_id", "slot", "sig"), 0L)
    assert((TxLogFormat.versions(corpusT).size,
      TxLogFormat.versions(indexT).size) == vs, "replay must not commit")
  }

  test("streaming PACKING ingest (r14): sequences continue across " +
       "batches (id-ordered batches == the batch op on the union), a " +
       "sequence stitches across the batch boundary, replay-safe") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.sources.TxLogFormat
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_packingest_spec")
    val (spansT, totalsT) = (root.resolve("spans").toString,
      root.resolve("totals").toString)
    // est tokens = ceil(len/4): doc 1 -> 10, doc 2 -> 3, doc 3 -> 7,
    // doc 4 -> 5; ctx = 8 so batch 0 ('en': 10+3 = 13 tokens) ends
    // sequence 1 MID-sequence at offset 5 and batch 1's doc 3 must
    // stitch into it; 'de' starts fresh in batch 1
    def txt(n: Int) = "x" * (n * 4)
    val b0 = Seq((1L, "en", txt(10)), (2L, "en", txt(3)))
    val b1 = Seq((3L, "en", txt(7)), (4L, "de", txt(5)))
    val input = MemoryStream[(Long, String, String)]
    val q = input.toDF().toDF("doc_id", "lang", "text").writeStream
      .foreachBatch(StreamOps.packIngestBatch(spansT, totalsT, 8) _)
      .start()
    try {
      input.addData(b0); q.processAllAvailable()
      input.addData(b1); q.processAllAvailable()
    } finally q.stop()
    val got = TxLogFormat.read(spark, spansT).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    // id-ordered batches == the batch operator on the union
    val want = graft.operators.Curation.sequencePackSpans(
        (b0 ++ b1).toDF("doc_id", "lang", "text"), 8).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got == want, s"$got vs $want")
    // the boundary stitch: doc 3 (batch 1) STARTS inside sequence 1 at
    // seq_off 5 (batch 0 left 13 tokens = seq 1 filled to 5)
    assert(got.contains((3L, "en", 1L, 0L, 5L, 3L)), got.toString)
    // totals state is per-lang running sums
    val totals = TxLogFormat.read(spark, totalsT).collect()
      .groupBy(_.getString(0)).map { case (l, rs) =>
        l -> rs.map(_.getLong(1)).sum }
    assert(totals == Map("en" -> 20L, "de" -> 5L), totals.toString)
    // replay: a committed batch id is a strict no-op on BOTH tables
    val vs = (TxLogFormat.versions(spansT).size,
      TxLogFormat.versions(totalsT).size)
    StreamOps.packIngestBatch(spansT, totalsT, 8)(
      Seq((99L, "en", txt(2))).toDF("doc_id", "lang", "text"), 0L)
    assert((TxLogFormat.versions(spansT).size,
      TxLogFormat.versions(totalsT).size) == vs, "replay must not commit")
  }

  test("streaming TOKENIZE-pack ingest (r16): the FROZEN tokenizer " +
       "packs real counts across batches — id-ordered batches == the " +
       "batch op on the union, a sequence stitches across the " +
       "boundary, replay-safe") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.sources.TxLogFormat
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_tokpack_spec")
    val (spansT, totalsT) = (root.resolve("spans").toString,
      root.resolve("totals").toString)
    // the tokenizer trains ONCE on the full corpus (production freezes
    // it before the stream starts), then batches arrive; BPE counts
    // (merges (a,b),(ab,ab): abab->1/word, abc->2, babab->2) make the
    // per-doc n differ from estTokens, so the stitch is over REAL
    // counts: batch 0 'en' = 3+4 = 7 tokens, ctx 8 -> doc 3 stitches
    // into sequence 0 at seq_off 7
    val all = Seq(
      (1L, "en", "abab abab abab"),     // 3 tokens
      (2L, "en", "abc abc"),            // 4 tokens
      (3L, "en", "babab abab babab"),   // 5 tokens, starts at s=7
      (4L, "de", "abab abc"))           // 3 tokens, fresh lang
    val merges = graft.operators.TextAnalysis.trainBpeMerges(
      all.toDF("doc_id", "lang", "text"), nMerges = 2)
    assert(merges == Seq((0, "a", "b"), (1, "ab", "ab")), merges.toString)
    val (b0, b1) = (all.take(2), all.drop(2))
    val input = MemoryStream[(Long, String, String)]
    val q = input.toDF().toDF("doc_id", "lang", "text").writeStream
      .foreachBatch(
        StreamOps.tokenizePackIngestBatch(spansT, totalsT, merges, 8) _)
      .start()
    try {
      input.addData(b0); q.processAllAvailable()
      input.addData(b1); q.processAllAvailable()
    } finally q.stop()
    val got = TxLogFormat.read(spark, spansT).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    val want = graft.operators.Curation.tokenizePack(
        all.toDF("doc_id", "lang", "text"), merges, 8).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got == want, s"$got vs $want")
    // the boundary stitch on REAL counts: doc 3 starts in sequence 0
    // at seq_off 7 (batch 0 left 7 of 8 tokens filled)
    assert(got.contains((3L, "en", 0L, 0L, 7L, 1L)), got.toString)
    // replay: a committed batch id is a strict no-op on BOTH tables
    val vs = (TxLogFormat.versions(spansT).size,
      TxLogFormat.versions(totalsT).size)
    StreamOps.tokenizePackIngestBatch(spansT, totalsT, merges, 8)(
      Seq((99L, "en", "abab")).toDF("doc_id", "lang", "text"), 0L)
    assert((TxLogFormat.versions(spansT).size,
      TxLogFormat.versions(totalsT).size) == vs, "replay must not commit")
  }

  test("streaming WARC-ARCHIVE ingest (r15): only NEW archive files " +
       "parse per batch, earlier segments never re-parse however often " +
       "the listing repeats them, replay-safe") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.sources.{TxLogFormat, Warc}
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_warcingest_spec")
    val landing = root.resolve("landing").toString
    val (recT, procT) = (root.resolve("records").toString,
      root.resolve("processed").toString)
    val b0 = Seq((2L, "first page body"), (12L, "second page body"))
    val b1 = Seq((22L, "third page body"))
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(StreamOps.warcFileIngestBatch(landing, recT, procT) _)
      .start()
    try {
      input.addData(b0); q.processAllAvailable()
      input.addData(b1); q.processAllAvailable()
    } finally q.stop()
    // batch 0 wrote archives for docs 2+12 (files b00000-*), batch 1 for
    // doc 22 — the landing dir lists ALL of them in batch 1, but only
    // the new file parses: the record table holds each page exactly once
    val recs = TxLogFormat.read(spark, recT)
      .select("rec_id", "warc_type", "path").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(recs.length == 9, s"3 pages x 3 records, got ${recs.length}")
    assert(recs.map(_._1).distinct.length == 9, "no record parsed twice")
    val respByDoc = recs.filter(_._2 == "response")
      .map(r => r._1 -> r._3.split("/").last).toMap
    assert(respByDoc.keySet == Set("<urn:graft:doc:2:response>",
      "<urn:graft:doc:12:response>", "<urn:graft:doc:22:response>"))
    // batch-scoped archive names: doc 22's record came from a b00001 file
    assert(respByDoc("<urn:graft:doc:22:response>").startsWith("b00001-"),
      respByDoc.toString)
    assert(respByDoc("<urn:graft:doc:2:response>").startsWith("b00000-"),
      respByDoc.toString)
    // processed-file state holds each archive path exactly once
    val procd = TxLogFormat.read(spark, procT).select("path").collect()
      .map(_.getString(0))
    assert(procd.length == procd.distinct.length &&
      procd.toSet == Warc.listWarcFiles(spark, landing).toSet, procd.toSeq)
    // replay: a committed batch id is a strict no-op on BOTH tables
    val vs = (TxLogFormat.versions(recT).size,
      TxLogFormat.versions(procT).size)
    StreamOps.warcFileIngestBatch(landing, recT, procT)(
      Seq((99L, "replayed")).toDF("doc_id", "text"), 0L)
    assert((TxLogFormat.versions(recT).size,
      TxLogFormat.versions(procT).size) == vs, "replay must not commit")
  }

  test("streaming SEMANTIC ingest: intra-batch greedy collapse, " +
       "cross-batch index probe with candidate-only embedding loads, " +
       "maintained index == recomputed, replay-safe") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.sources.TxLogFormat
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_semingest_spec")
    val (corpusT, indexT) = (root.resolve("corpus").toString,
      root.resolve("index").toString)
    // dim-4 vectors with engineered cosines; recall-1 config (1 plane ×
    // 40 tables) makes every cos ≥ 0.9 pair a deterministic candidate
    def v(a: Float, b: Float, c: Float, d: Float) = Array(a, b, c, d)
    val b0 = Seq((1L, v(1, 0, 0, 0), "x"),
                 (2L, v(1, 0.01f, 0, 0), "x"),   // ≈1: drops in-batch vs 1
                 (3L, v(0, 1, 0, 0), "y"))       // orthogonal: survives
    val b1 = Seq((10L, v(0.99f, 0, 0.01f, 0), "x"), // ≈1 vs CORPUS doc 1
                 (11L, v(0, 0.98f, 0, 0.02f), "y"), // ≈1 vs CORPUS doc 3
                 (12L, v(0, 0, 1, 0), "z"))         // survives
    val ingest = StreamOps.semanticIngestBatch(corpusT, indexT,
      minCos = 0.9, nTables = 40, planesPerTable = 1, dim = 4) _
    val input = MemoryStream[(Long, Array[Float], String)]
    val q = input.toDF().toDF("vec_id", "embedding", "label").writeStream
      .foreachBatch(ingest).start()
    try {
      input.addData(b0); q.processAllAvailable()
      assert(TxLogFormat.read(spark, corpusT).select("vec_id")
        .collect().map(_.getLong(0)).toSet == Set(1L, 3L))
      input.addData(b1); q.processAllAvailable()
    } finally q.stop()
    val corpus = TxLogFormat.read(spark, corpusT)
    assert(corpus.select("vec_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 3L, 12L), corpus.collect().mkString(","))
    // maintained index == the survivors' recomputed bucket rows exactly
    val idx = TxLogFormat.read(spark, indexT)
      .select("vec_id", "table_idx", "bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val recomputed = graft.operators.Similarity.lshBuckets(
        corpus.select("vec_id", "embedding"), 40, 1, 4)
      .select("vec_id", "table_idx", "bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(idx == recomputed, s"index drifted from the survivor set")
    // replay: a committed batch id is a strict no-op on BOTH tables
    val vs = (TxLogFormat.versions(corpusT).size,
      TxLogFormat.versions(indexT).size)
    ingest(Seq((99L, v(0.5f, 0.5f, 0.5f, 0.5f), "w"))
      .toDF("vec_id", "embedding", "label"), 0L)
    assert((TxLogFormat.versions(corpusT).size,
      TxLogFormat.versions(indexT).size) == vs, "replay must not commit")
  }

  test("streaming CONTAINMENT ingest: cross-batch pairs, cap-crossing " +
       "decrements, maintained index == hand-derived, replay-safe") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.Row
    import spark.implicits._
    import graft.sources.TxLogFormat
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_ctingest_spec")
    val (pairsT, indexT, sizesT) = (root.resolve("pairs").toString,
      root.resolve("index").toString, root.resolve("sizes").toString)
    // 3-word shingles by construction: doc "p q r s t" -> {pqr qrs rst}
    val b0 = Seq(1L -> "p q r s t", 2L -> "x y z w v", 3L -> "p q r s u")
    val b1 = Seq(10L -> "x y z w q", // contained-ish in 2: shares xyz yzw
                 11L -> "p q r a",   // 4th doc on pqr ...
                 12L -> "p q r b")   // ... 5th: pqr crosses maxDf=3 HERE
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(
        StreamOps.containmentIngestBatch(pairsT, indexT, sizesT, 0.6, 3) _)
      .start()
    try {
      input.addData(b0); q.processAllAvailable()
      // cold single batch == the batch closed form (the driver-query
      // contract that lets containment_inc share dedup_containment's
      // oracle): (1,3) share {pqr qrs}, 2/min(3,3) = 0.6667
      val cold = TxLogFormat.read(spark, pairsT).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      val closed = graft.operators.Dedup.containmentPairs(
          b0.toDF("doc_id", "text"), 0.6, 3).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(cold == closed && cold == Set((1L, 3L, 2L, 0.6667)), cold.toString)
      input.addData(b1); q.processAllAvailable()
    } finally q.stop()
    // batch 1 emits ONLY the batch-linked pair (2,10) — (1,3) is
    // corpus-corpus (not revisited), and every 11/12 overlap rides the
    // now-overflowed pqr so no pair row can exist for them
    val pairs = TxLogFormat.read(spark, pairsT).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(pairs == Set((1L, 3L, 2L, 0.6667), (2L, 10L, 2L, 0.6667)),
      pairs.toString)
    // maintained index == hand-derived all-time state: pqr hit its 4th
    // distinct doc this batch -> absorbing overflow (NULL); stored p
    // slots are canonical 0 (batch flags are scratch, never persisted)
    // the index key is the shingle's 8-byte hash (r18): hash each
    // hand-derived shingle through the same kernel the ingest loop uses
    def shKey(shingle: String): Long = Seq(shingle).toDF("text")
      .select(explode(graft.functions.TermFunctions.ngramHashes(
        graft.util.TextNorm.words(col("text")), 3))).head.getLong(0)
    val idx = TxLogFormat.read(spark, indexT).collect().map { r =>
      r.getLong(0) -> (if (r.isNullAt(1)) None
        else Some(r.getSeq[Row](1).map(e => (e.getLong(0), e.getLong(1)))))
    }.toMap
    val exp = Map[String, Option[Seq[Long]]](
      "p q r" -> None, "q r s" -> Some(Seq(1L, 3L)), "r s t" -> Some(Seq(1L)),
      "r s u" -> Some(Seq(3L)), "x y z" -> Some(Seq(2L, 10L)),
      "y z w" -> Some(Seq(2L, 10L)), "z w v" -> Some(Seq(2L)),
      "z w q" -> Some(Seq(10L)), "q r a" -> Some(Seq(11L)),
      "q r b" -> Some(Seq(12L)))
      .map { case (k, v) => shKey(k) -> v.map(_.map(d => (d, 0L))) }
    assert(idx == exp, idx.toString)
    // sizes stay EXACTLY |{shingles with all-time df <= maxDf}|: docs 1
    // and 3 each lost pqr from their universe (3 -> 2) when it crossed
    val sizes = TxLogFormat.read(spark, sizesT).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes == Map(1L -> 2L, 2L -> 3L, 3L -> 2L, 10L -> 3L,
                        11L -> 1L, 12L -> 1L), sizes.toString)
    // replay: a committed batch id is a strict no-op on ALL THREE tables
    val vs = (TxLogFormat.versions(pairsT).size,
      TxLogFormat.versions(indexT).size, TxLogFormat.versions(sizesT).size)
    StreamOps.containmentIngestBatch(pairsT, indexT, sizesT, 0.6, 3)(
      Seq((99L, "z z z z z")).toDF("doc_id", "text"), 0L)
    assert((TxLogFormat.versions(pairsT).size,
      TxLogFormat.versions(indexT).size,
      TxLogFormat.versions(sizesT).size) == vs, "replay must not commit")
  }

  test("streaming CONTAINMENT ingest: a crash after a commit PREFIX " +
       "(pairs+sizes landed, index merge lost) replays to the no-crash " +
       "state — the derived-first, index-last order is load-bearing") {
    import spark.implicits._
    import graft.sources.TxLogFormat
    val b0 = Seq(1L -> "p q r s t", 2L -> "x y z w v", 3L -> "p q r s u")
    val b1 = Seq(10L -> "x y z w q", 11L -> "p q r a", 12L -> "p q r b")
    def tables(tag: String) = {
      val root = java.nio.file.Files.createTempDirectory(s"graft_ct_$tag")
      (root.resolve("pairs").toString, root.resolve("index").toString,
        root.resolve("sizes").toString)
    }
    val (cp, ci, cs) = tables("clean")
    val (xp, xi, xs) = tables("crash")
    def run(p: String, i: String, s: String, b: Seq[(Long, String)],
            id: Long): Unit =
      StreamOps.containmentIngestBatch(p, i, s, 0.6, 3)(
        b.toDF("doc_id", "text"), id)
    run(cp, ci, cs, b0, 0); run(cp, ci, cs, b1, 1)     // the no-crash twin
    run(xp, xi, xs, b0, 0)
    // simulate the crash: recompute batch 1 exactly as the ingest would
    // and land ONLY the pairs + sizes commits under the real tag — the
    // process dies before the index merge (b1 crosses pqr past maxDf=3,
    // so the lost-index replay must still produce the decrements)
    val (pf, idxf, szf) = graft.operators.Dedup.incrementalContainment(
      b1.toDF("doc_id", "text"), TxLogFormat.read(spark, xi),
      TxLogFormat.read(spark, xs), 0.6, 3)
    val _ = idxf // the crash loses exactly this commit
    TxLogFormat.appendBatch(pf.localCheckpoint(), xp,
      "graft_containment_ingest", 1)
    TxLogFormat.mergeBatch(spark, xs, "doc_id", szf.localCheckpoint(),
      "graft_containment_ingest", 1)
    // restart: the streaming engine replays batch 1 in full
    run(xp, xi, xs, b1, 1)
    def dump(path: String): Set[String] =
      TxLogFormat.read(spark, path).collect().map(_.toString).toSet
    assert(dump(xp) == dump(cp), s"pairs diverge:\n${dump(xp)}\nvs\n${dump(cp)}")
    assert(dump(xs) == dump(cs), s"sizes diverge:\n${dump(xs)}\nvs\n${dump(cs)}")
    assert(dump(xi) == dump(ci), s"index diverges:\n${dump(xi)}\nvs\n${dump(ci)}")
  }

  test("streaming CONTAINMENT ingest with an uncrossed cap: the union of " +
       "per-batch emissions equals the batch closed form on the full corpus") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.sources.TxLogFormat
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_ctingest_spec2")
    val (pairsT, indexT, sizesT) = (root.resolve("pairs").toString,
      root.resolve("index").toString, root.resolve("sizes").toString)
    val b0 = Seq(1L -> "p q r s t", 2L -> "x y z w v", 3L -> "p q r s u")
    val b1 = Seq(10L -> "x y z w q", 11L -> "p q r a", 12L -> "p q r b")
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(
        StreamOps.containmentIngestBatch(pairsT, indexT, sizesT, 0.6, 100) _)
      .start()
    try {
      input.addData(b0); q.processAllAvailable()
      input.addData(b1); q.processAllAvailable()
    } finally q.stop()
    val pairs = TxLogFormat.read(spark, pairsT).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val closed = graft.operators.Dedup.containmentPairs(
        (b0 ++ b1).toDF("doc_id", "text"), 0.6, 100).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(pairs == closed && pairs.nonEmpty, s"$pairs vs $closed")
  }

  test("streaming DSIR ingest: cold == batch selection, later batches " +
       "score under FROZEN weights (fit-unseen words drop), candidate " +
       "state bounded at k per batch, replay-safe") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.sources.TxLogFormat
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_dsir_spec")
    val (wT, cT) = (root.resolve("w").toString, root.resolve("c").toString)
    val b0 = Seq((1L, "apple banana", "en"), (2L, "apple cherry", "en"),
                 (3L, "apple banana", "de"), (4L, "quartz apple", "de"),
                 (5L, "apple apple", "de"))
    val b1 = Seq((10L, "banana banana", "de"), // both occurrences fit-seen
                 (11L, "banana zebra", "de"))  // zebra unseen -> drops
    val ingest = StreamOps.dsirIngestBatch(wT, cT, col("lang") === "en",
      k = 2) _
    val input = MemoryStream[(Long, String, String)]
    val q = input.toDF().toDF("doc_id", "text", "lang")
      .writeStream.foreachBatch(ingest).start()
    try {
      input.addData(b0); q.processAllAvailable()
      def cand() = TxLogFormat.read(spark, cT).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // cold single batch == the batch selection's top-k (same fit)
      val closed = graft.operators.Curation.dsirSelect(
          b0.toDF("doc_id", "text", "lang"), col("lang") === "en", k = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(cand() == closed && cand().size == 2, s"${cand()} vs $closed")
      input.addData(b1); q.processAllAvailable()
      // hand-derive b1's scores under the FROZEN b0 weights
      val B = 4096
      def bucket(w: String): Long = {
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(w.getBytes("UTF-8")).take(3).map("%02x".format(_)).mkString
        java.lang.Long.parseLong(d, 16) % B
      }
      val occ0 = b0.flatMap { case (_, t, lang) =>
        t.split(" ").map(w => (bucket(w), lang == "en")) }
      val cnt = occ0.groupBy(_._1).map { case (b, os) =>
        b -> (os.count(_._2).toLong, os.size.toLong) }
      val (nt, nr) = (cnt.values.map(_._1).sum, cnt.values.map(_._2).sum)
      def unats(b: Long): Long = {
        val (ct, cr) = cnt(b)
        BigDecimal(math.log(((ct + 1.0) * (nr + B)) /
            ((cr + 1.0) * (nt + B))) * 1e6)
          .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong
      }
      val got = cand()
      assert(got.contains((10L, 2L, 2 * unats(bucket("banana")))),
        s"frozen-weight score wrong: $got")
      assert(got.contains((11L, 1L, unats(bucket("banana")))),
        s"fit-unseen word must drop from count and score: $got")
      assert(got.size == 4, s"state must stay <= k per batch: $got")
    } finally q.stop()
    // replay: a committed batch id is a no-op on both tables
    val vs = Seq(wT, cT).map(TxLogFormat.versions(_).size)
    ingest(Seq((99L, "apple apple", "de")).toDF("doc_id", "text", "lang"), 0L)
    assert(Seq(wT, cT).map(TxLogFormat.versions(_).size) == vs,
      "replayed batch id must not commit")
  }

  test("streaming CURATION-FUNNEL ingest: cross-batch dedup/quota/budget " +
       "carry, union == arrival closed form, cold == closed form, " +
       "replay-safe") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.sources.TxLogFormat
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_cfingest_spec")
    val (repT, digT, quoT, budT) = (root.resolve("report").toString,
      root.resolve("digests").toString, root.resolve("quota").toString,
      root.resolve("budget").toString)
    def clean(tag: String): String =
      (1 to 25).map(i => s"${tag}word$i").mkString(" ")
    val tok = (t: String) => math.ceil(t.length / 4.0).toLong
    // budget fits exactly docs 1 and 3 in lang en: batch-1's doc 12 (the
    // FIRST en quota-passer of its batch) must bust on CARRIED state
    val cap = tok(clean("a")) + tok(clean("b"))
    val b0 = Seq((1L, clean("a"), "en", "s1"), (2L, clean("a"), "en", "s1"),
                 (3L, clean("b"), "en", "s1"))
    val b1 = Seq((10L, clean("c"), "en", "s1"), // s1 slots full -> quota ✗
                 (11L, clean("a"), "en", "s2"), // digest carried -> dedup ✗
                 (12L, clean("d"), "en", "s2")) // quota ✓, budget carried ✗
    val ingest = StreamOps.curationIngestBatch(repT, digT, quoT, budT,
      perDomain = 2, budgetPerLang = cap) _
    val input = MemoryStream[(Long, String, String, String)]
    val q = input.toDF().toDF("doc_id", "text", "lang", "source")
      .writeStream.foreachBatch(ingest).start()
    try {
      input.addData(b0); q.processAllAvailable()
      // cold single batch == the arrival closed form (the driver-query
      // contract that lets curation_funnel_inc share the arrival oracle)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2),
          r.getBoolean(3), r.getBoolean(4), r.getBoolean(5))).toMap
      val cold = rows(TxLogFormat.read(spark, repT))
      val closed0 = rows(graft.operators.Curation.curationFunnelArrival(
        b0.toDF("doc_id", "text", "lang", "source"), 2, cap))
      assert(cold == closed0, s"$cold vs $closed0")
      assert(cold(2L) == ((false, true, false, false, false)), cold.toString)
      input.addData(b1); q.processAllAvailable()
      val got = rows(TxLogFormat.read(spark, repT))
      // every carried-state verdict lands as constructed
      assert(got(10L) == ((true, true, false, false, false)), got.toString)
      assert(got(11L) == ((false, true, false, false, false)), got.toString)
      assert(got(12L) == ((true, true, true, false, false)), got.toString)
      // union of per-batch reports == the arrival closed form on the
      // concatenated corpus (every stage is prefix-stable)
      val closed = rows(graft.operators.Curation.curationFunnelArrival(
        (b0 ++ b1).toDF("doc_id", "text", "lang", "source"), 2, cap))
      assert(got == closed, s"$got vs $closed")
      // a PREMATURE compaction (watermark 0: batch 1's deltas must pass
      // through untouched) folds only the old tail — batch 1's rows keep
      // their batch_id, so a replay of batch 1 would still read correct
      // pre-state; state is NOT yet one row per key
      StreamOps.compactCurationState(spark, digT, quoT, budT, watermark = 0L)
      assert(TxLogFormat.read(spark, budT)
        .filter(col("batch_id") > 0L).count() == 1,
        "batch-1 budget delta must survive a watermark-0 compaction")
      // compact BEHIND the committed watermark: state folds to one row
      // per key, and the NEXT batch's verdicts must be bit-identical
      StreamOps.compactCurationState(spark, digT, quoT, budT, watermark = 1L)
      assert(TxLogFormat.read(spark, quoT).count() == 2)   // s1, s2
      assert(TxLogFormat.read(spark, budT).count() == 1)   // en
      assert(TxLogFormat.read(spark, digT).count() == 4)   // a b c d
      val b2 = Seq((20L, clean("e"), "en", "s2"), // quota ✓ (s2 rank 2),
                                                  // budget carried ✗
                   (21L, clean("b"), "de", "s3")) // digest carried ✗
      input.addData(b2); q.processAllAvailable()
      val got2 = rows(TxLogFormat.read(spark, repT))
      assert(got2(20L) == ((true, true, true, false, false)), got2.toString)
      assert(got2(21L) == ((false, true, false, false, false)), got2.toString)
      val closed2 = rows(graft.operators.Curation.curationFunnelArrival(
        (b0 ++ b1 ++ b2).toDF("doc_id", "text", "lang", "source"), 2, cap))
      assert(got2 == closed2, s"$got2 vs $closed2")
    } finally q.stop()
    // replay: a committed batch id is a strict no-op on ALL FOUR tables
    val vs = Seq(repT, digT, quoT, budT).map(TxLogFormat.versions(_).size)
    ingest(Seq((99L, clean("z"), "en", "s9"))
      .toDF("doc_id", "text", "lang", "source"), 0L)
    assert(Seq(repT, digT, quoT, budT).map(TxLogFormat.versions(_).size) == vs,
      "replayed batch id must not commit")
  }

  test("streaming CRAWL-CURATION ingest (r17): cross-batch URL/content/" +
       "revisit carry, a degenerate unlabeled batch keeps its rows with " +
       "NULL lang, cold == the batch funnel, replay-safe") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.sources.TxLogFormat
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_ccuringest_spec")
    val (repT, uT, dT, rT) = (root.resolve("report").toString,
      root.resolve("urls").toString, root.resolve("digests").toString,
      root.resolve("resp").toString)
    val lex = graft.operators.TextAnalysis.lexicons.toMap
    def body(ws: Seq[String]): String =
      Iterator.continually(ws).flatten.take(60).mkString(" ")
    def page(b: String) = s"<html><body><p>$b</p></body></html>"
    val deB = body(lex("de"))
    val enB = body(lex("en"))
    val zeroB = body(Seq("qqq", "www", "zzz"))   // zero lexicon hits
    val zeroB2 = body(Seq("rrr", "sss", "ttt"))  // zero hits, new digest
    val b0 = Seq(
      (1L, "response", "https://example.com/a?x=1", "d-de", page(deB)),
      (2L, "response", "https://example.com/b?x=1", "d-en", page(enB)),
      (3L, "response", "https://example.com/e?x=1", "d-z0", page(zeroB)))
    // batch 1: EVERY verdict decided by carried state, and the batch
    // itself has zero confident labels (no trainable doc)
    val b1 = Seq(
      // same canonical as doc 1 after case + default-port folding
      (10L, "response", "HTTPS://Example.COM:443/a?x=1", "d-n1", page(zeroB2)),
      // fresh URL, but doc 3's content digest carried from batch 0
      (11L, "response", "https://example.com/c?x=1", "d-n2", page(zeroB)),
      // fresh URL, fresh content: the degenerate-batch survivor
      (12L, "response", "https://example.com/d?x=1", "d-n3", page(zeroB2)),
      // revisit of doc 2's page: the original arrived one batch EARLIER
      (13L, "revisit", "https://example.com/b?x=1", "d-en", ""),
      (14L, "revisit", "https://example.com/y?x=1", "d-gone", ""))
    val ingest = StreamOps.crawlCurateIngestBatch(repT, uT, dT, rT) _
    val input = MemoryStream[(Long, String, String, String, String)]
    val q = input.toDF()
      .toDF("doc_id", "warc_type", "url", "payload_digest", "html")
      .writeStream.foreachBatch(ingest).start()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (Option(r.getString(1)),
        Option(r.getString(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getString(4))).toMap
    try {
      input.addData(b0); q.processAllAvailable()
      // cold single batch through the stream + TxLog roundtrip == the
      // batch funnel (the driver-query contract: shared oracle)
      val cold = rows(TxLogFormat.read(spark, repT))
      val closed = rows(graft.operators.Curation.crawlCurate(
        b0.toDF("doc_id", "warc_type", "url", "payload_digest", "html")))
      assert(cold == closed, s"$cold vs $closed")
      assert(cold(1L)._2.contains("de") && cold(2L)._2.contains("en"))
      input.addData(b1); q.processAllAvailable()
      val got = rows(TxLogFormat.read(spark, repT))
      assert(got(10L)._4 == "url_dup", got.toString)
      assert(got(11L)._4 == "exact_dup", got.toString)
      assert(got(13L)._4 == "revisit_dup",
        "the original response arrived one batch earlier: " + got)
      assert(got(14L)._4 == "revisit_orphan", got.toString)
      // the degenerate batch trains no model: its rows survive with an
      // honest NULL lang instead of vanishing from the fate table
      assert(Seq(10L, 11L, 12L).forall(got(_)._2.isEmpty),
        "no trainable doc in batch 1 -> NULL lang, rows kept: " + got)
      assert(got(12L)._4 != "url_dup" && got(12L)._4 != "exact_dup")
      // deltas are anti-joined: an index holds each key ONCE however
      // many batches re-see it (doc 10 re-saw doc 1's canonical; doc
      // 11 re-saw doc 3's digest; batch 1 re-saw nothing fresh there)
      Seq(uT -> "url_canonical", dT -> "digest", rT -> "payload_digest")
        .foreach { case (t, k) =>
          val idx = TxLogFormat.read(spark, t)
          assert(idx.count() == idx.select(k).distinct().count(),
            s"$k index must stay one row per key")
        }
      // compaction behind the committed watermark collapses the version
      // chain without touching the key sets, and the NEXT batch's
      // carried-state verdicts are identical against the folded indexes
      val keysBefore = Seq(uT -> "url_canonical", dT -> "digest",
        rT -> "payload_digest").map { case (t, k) =>
        TxLogFormat.read(spark, t).select(k).collect().map(_.getString(0)).toSet
      }
      StreamOps.compactCrawlCurateState(spark, uT, dT, rT, watermark = 1L)
      val keysAfter = Seq(uT -> "url_canonical", dT -> "digest",
        rT -> "payload_digest").map { case (t, k) =>
        TxLogFormat.read(spark, t).select(k).collect().map(_.getString(0)).toSet
      }
      assert(keysBefore == keysAfter, "compaction must not change a key set")
      val b2 = Seq(
        (20L, "response", "https://example.com/a?x=1", "d-n4", page(zeroB2)),
        (21L, "revisit", "https://example.com/e?x=1", "d-z0", ""))
      input.addData(b2); q.processAllAvailable()
      val got2 = rows(TxLogFormat.read(spark, repT))
      assert(got2(20L)._4 == "url_dup",
        "carried canonical must survive compaction: " + got2)
      assert(got2(21L)._4 == "revisit_dup",
        "carried response digest must survive compaction: " + got2)
    } finally q.stop()
    // replay: a committed batch id is a strict no-op on ALL FOUR tables
    val vs = Seq(repT, uT, dT, rT).map(TxLogFormat.versions(_).size)
    ingest(Seq((99L, "response", "https://example.com/q?x=1", "d-q",
        page(deB)))
      .toDF("doc_id", "warc_type", "url", "payload_digest", "html"), 0L)
    assert(Seq(repT, uT, dT, rT).map(TxLogFormat.versions(_).size) == vs,
      "replayed batch id must not commit")
  }

  test("end-to-end crawl landing loop (r17): fresh archives only parse " +
       "once per tick, funnel state carries across landings, an empty " +
       "tick commits nothing") {
    import graft.sources.{TxLogFormat, Warc}
    val root = java.nio.file.Files.createTempDirectory("graft_ccur_land_spec")
    val landing = root.resolve("landing").toString
    val (procT, repT, uT, dT, rT) = (root.resolve("proc").toString,
      root.resolve("report").toString, root.resolve("urls").toString,
      root.resolve("digests").toString, root.resolve("resp").toString)
    val lex = graft.operators.TextAnalysis.lexicons.toMap
    def body(ws: Seq[String]): String =
      Iterator.continually(ws).flatten.take(60).mkString(" ")
    def page(b: String): Array[Byte] =
      s"<html><body><p>$b</p></body></html>".getBytes("UTF-8")
    val deB = body(lex("de")); val enB = body(lex("en"))
    val zeroB = body(Seq("qqq", "www", "zzz"))
    val zeroB2 = body(Seq("rrr", "sss", "ttt"))
    Warc.writeSyntheticArchiveMixed(landing, "seg-00000.warc.gz", Iterator(
      ("urn:graft:doc:1", "https://example.com/a?x=1", page(deB), false),
      ("urn:graft:doc:2", "https://example.com/b?x=1", page(enB), false)))
    val tick = StreamOps.crawlLandingTick(spark, landing, procT, repT,
      uT, dT, rT) _
    tick(0L)
    def fates() = TxLogFormat.read(spark, repT).collect()
      .map(r => r.getLong(0) -> (Option(r.getString(2)), r.getString(4)))
      .toMap
    assert(fates()(1L)._1.contains("de") && fates()(2L)._1.contains("en"))
    // a tick with nothing fresh commits to NO table
    def versions() =
      Seq(procT, repT, uT, dT, rT).map(TxLogFormat.versions(_).size)
    val v0 = versions()
    tick(1L)
    assert(versions() == v0, "an empty tick must be a strict no-op")
    // a later landing: a refetch URL variant of archive-0's page, a
    // revisit whose ORIGINAL landed in archive 0, and an orphan
    Warc.writeSyntheticArchiveMixed(landing, "seg-00001.warc.gz", Iterator(
      ("urn:graft:doc:10", "HTTPS://Example.COM:443/a?x=1", page(zeroB),
        false),
      ("urn:graft:doc:13", "https://example.com/b?x=1", page(enB), true),
      ("urn:graft:doc:14", "https://example.com/y?x=1", page(zeroB2),
        true)))
    tick(2L)
    val got = fates()
    assert(got(10L)._2 == "url_dup",
      "canonical carried across landings: " + got)
    assert(got(13L)._2 == "revisit_dup",
      "original landed in an earlier archive: " + got)
    assert(got(14L)._2 == "revisit_orphan", got.toString)
    assert(TxLogFormat.read(spark, procT).count() == 2,
      "both archives processed exactly once")
    // re-ticking changes nothing: both files are marked processed
    val v2 = versions()
    tick(2L); tick(3L)
    assert(versions() == v2, "processed archives must never re-parse")
  }

  test("streaming IVF ingest: cold build, incremental assign, drift-gated " +
       "retrain, vec_id conservation, replay-safe") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_ivfingest_spec")
    val cells = root.resolve("cells").toString
    val index = root.resolve("index").toString
    // deterministic 8-dim corpus: two tight blobs around ±1 (batches 0-1),
    // then a batch shifted to +25 per component — far outside the trained
    // cells, so the running drift statistic must trip the trigger
    def vec(seed: Long, base: Float): Array[Float] =
      Array.tabulate(8)(i => base + ((seed * 31 + i * 7) % 10) / 100.0f)
    val b0 = (0L until 30L).map(i => (i, vec(i, if (i % 2 == 0) 1f else -1f)))
    val b1 = (30L until 40L).map(i => (i, vec(i, if (i % 2 == 0) 1f else -1f)))
    val b2 = (40L until 50L).map(i => (i, vec(i, 25f)))
    val input = MemoryStream[(Long, Array[Float])]
    val q = input.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch(StreamOps.ivfIngestBatch(cells, index,
        nCells = 4, driftTrigger = 1.5) _)
      .start()
    try {
      input.addData(b0); q.processAllAvailable() // cold build
      input.addData(b1); q.processAllAvailable() // same-dist: assign only
      input.addData(b2); q.processAllAvailable() // shifted: retrain
    } finally q.stop()
    import graft.sources.TxLogFormat
    // conservation through build + append + retrain: every vec_id, once
    val gotIds = TxLogFormat.read(spark, cells)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(gotIds.sorted == (0L until 50L).toSeq, s"ids ${gotIds.size}")
    // ledger: one row per batch; batch 1 assigned incrementally (no
    // retrain), batch 2 tripped drift and retrained
    val ledger = TxLogFormat.read(spark, index)
      .select("batch_id", "retrained", "n").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2)))
      .sortBy(_._1)
    assert(ledger.map(x => (x._2, x._3)).toSeq ==
      Seq((true, 30L), (false, 40L), (true, 50L)), ledger.mkString(", "))
    // the retrained centroids cover the shifted blob: its rows' assigned
    // cells hold ONLY shifted rows (a stale index would mix them into the
    // nearest old cell with ±1 vectors)
    val cellOf = TxLogFormat.read(spark, cells)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val shiftedCells = (40L until 50L).map(cellOf).toSet
    assert((0L until 40L).forall(i => !shiftedCells.contains(cellOf(i))),
      "shifted rows share a cell with unshifted rows after retrain")
    // replay: a committed batch id is a strict no-op on both tables
    val vs = (TxLogFormat.versions(cells).size,
              TxLogFormat.versions(index).size)
    StreamOps.ivfIngestBatch(cells, index, nCells = 4, driftTrigger = 1.5)(
      b1.toDF("vec_id", "embedding"), 1L)
    assert((TxLogFormat.versions(cells).size,
            TxLogFormat.versions(index).size) == vs,
      "replayed batch id must not commit")
    // degenerate cold start: a batch of IDENTICAL vectors fits perfectly
    // (trainingCost 0 ⇒ ledger baseline 0). A later identical batch must
    // NOT retrain (drift 1.0, not 0/0 = NaN disabling the gate; not
    // Inf retraining every batch) — and a genuinely shifted batch still
    // trips the gate off the zero baseline (Inf > trigger, one retrain).
    val dCells = root.resolve("dcells").toString
    val dIndex = root.resolve("dindex").toString
    val same = (0L until 8L).map(i => (i, Array.fill(8)(1.0f)))
    def ledgerFlags() = TxLogFormat.read(spark, dIndex)
      .select("batch_id", "retrained").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).sortBy(_._1).toSeq
    StreamOps.ivfIngestBatch(dCells, dIndex, nCells = 2, driftTrigger = 1.5)(
      same.toDF("vec_id", "embedding"), 0L)
    StreamOps.ivfIngestBatch(dCells, dIndex, nCells = 2, driftTrigger = 1.5)(
      (8L until 12L).map(i => (i, Array.fill(8)(1.0f))).toDF("vec_id", "embedding"), 1L)
    assert(ledgerFlags() == Seq(0L -> true, 1L -> false), ledgerFlags().toString)
    StreamOps.ivfIngestBatch(dCells, dIndex, nCells = 2, driftTrigger = 1.5)(
      (12L until 16L).map(i => (i, Array.fill(8)(30.0f))).toDF("vec_id", "embedding"), 2L)
    assert(ledgerFlags() == Seq(0L -> true, 1L -> false, 2L -> true),
      ledgerFlags().toString)
    assert(TxLogFormat.read(spark, dCells).count() == 16)
  }

  test("stream sessionize + flush sentinel = batch sessionize exactly") {
    val events = Tables.events(spark, sf)
    // the epilogue sentinel pushes the final watermark past every open
    // session's timeout, so the backfill emits the COMPLETE session set
    val expected = Sessions.sessionize(events).collect().map(_.toSeq).toSet
    val stream = StreamOps.runSessionize(spark, sf).collect().map(_.toSeq).toSet
    assert(stream == expected,
      s"stream ${stream.size} vs batch ${expected.size} sessions")
  }
}
