package graft

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators._
import graft.pipeline.{Metric, Metrics}

/** Physical-plan assertions: pushdown, pruning, broadcast — the properties
  * that make these plans survive a 100× scale-up. */
class PlanSpec extends SparkSpec {

  private def explained(df: org.apache.spark.sql.DataFrame): String = {
    df.queryExecution.executedPlan.toString
  }

  test("q1 scan pushes the shipdate filter and prunes columns") {
    val plan = Analytics.pricingSummary(Tables.lineitem(spark, sf))
      .queryExecution.sparkPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"no pushed filter in:\n$plan")
    // projection should not include unused columns like l_partkey/l_comment
    assert(!plan.contains("l_partkey"), "scan reads unused column l_partkey")
  }

  test("q5 star join broadcasts every dimension") {
    val df = Analytics.revenueByNation(
      Tables.region(spark, sf), Tables.nation(spark, sf), Tables.customer(spark, sf),
      Tables.supplier(spark, sf), Tables.orders(spark, sf), Tables.lineitem(spark, sf))
    val plan = explained(df)
    val broadcasts = "BroadcastHashJoin|BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(broadcasts >= 4, s"expected >=4 broadcast joins, got $broadcasts in:\n$plan")
    assert(!plan.contains("SortMergeJoin"), "unexpected shuffle join in star query")
  }

  test("text analysis plans are shuffle-free (scan-bound)") {
    Seq(
      TextAnalysis.qualityScore(Tables.documents(spark, sf)),
      TextAnalysis.tokenCount(Tables.documents(spark, sf)),
      TextAnalysis.fingerprint(Tables.documents(spark, sf)),
    ).foreach { df =>
      val plan = explained(df)
      assert(!"Exchange|Repartition|Sort".r.findFirstIn(plan).isDefined,
        s"text op shuffles or sorts:\n$plan")
    }
  }

  test("semantic dedup never plans a nested-loop or cartesian join") {
    Seq(
      Similarity.semanticDedup(Tables.embeddings(spark, sf)),
      Similarity.semanticDedupApprox(Tables.embeddings(spark, sf)),
    ).foreach { df =>
      val plan = explained(df)
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
             !plan.contains("CartesianProduct"),
        s"O(n²) join shape in:\n$plan")
    }
  }

  test("pricing summary uses partial aggregation (map-side combine)") {
    val plan = explained(Analytics.pricingSummary(Tables.lineitem(spark, sf)))
    assert(plan.contains("partial"), s"no partial aggregate in:\n$plan")
  }

  test("q3 top-k plans as TakeOrderedAndProject (bounded heaps, no global sort)") {
    val plan = explained(Analytics.topRevenueOrders(
      Tables.customer(spark, sf), Tables.orders(spark, sf),
      Tables.lineitem(spark, sf)))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k fell back to a global sort:\n$plan")
  }

  test("candidate-pair dedups never plan a nested-loop or cartesian join") {
    Seq(
      Dedup.minhashLsh(Tables.documents(spark, sf)),
      Dedup.simhash(Tables.documents(spark, sf)),
      Dedup.jaccardPairs(Tables.documents(spark, sf)),
    ).foreach { df =>
      val plan = explained(df)
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
             !plan.contains("CartesianProduct"),
        s"O(n²) join shape in:\n$plan")
    }
  }

  test("pair-set operators plan no global sort (range-sample re-execution guard)") {
    // a final orderBy would range-sample the plan and re-execute the verify
    // stage (r5 finding: 3x dedup_minhash cost) — pin its absence
    Seq(
      "minhashLsh" -> Dedup.minhashLsh(Tables.documents(spark, sf)),
      "simhash" -> Dedup.simhash(Tables.documents(spark, sf)),
      "jaccardPairs" -> Dedup.jaccardPairs(Tables.documents(spark, sf)),
      "lshCandidates" -> Similarity.lshCandidates(Tables.embeddings(spark, sf)),
      "verbatimOverlap" -> TextAnalysis.verbatimOverlap(Tables.documents(spark, sf)),
      // staging/mart family (r7 verdict): fact-scale map-only outputs must
      // stay map-only — a presentation orderBy costs a full range exchange
      // plus a bounds-sampling re-execution of the scan
      "stgOrders" -> Relational.stgOrders(Tables.orders(spark, sf)),
      "stgLineitem" -> Relational.stgLineitem(Tables.lineitem(spark, sf)),
      "fctBucket" -> Relational.fctBucket(Tables.orders(spark, sf)),
      "extractProps" -> Json.extractProps(Tables.events(spark, sf)),
      // an operator sorts only when order is its result: every output
      // below is a row multiset, so a trailing orderBy would cost its two
      // jobs (bounds sample + range exchange) for an order nobody reads
      "mergeLatest" -> Incremental.mergeLatest(Tables.orders(spark, sf)),
      "mergeColumnsQuery" -> Incremental.mergeColumnsQuery(Tables.orders(spark, sf)),
      "schemaEvolution" -> Incremental.schemaEvolution(Tables.orders(spark, sf)),
      "schemaSync" -> Incremental.schemaSync(Tables.orders(spark, sf)),
      "scd2" -> Snapshot.scd2(Tables.orders(spark, sf)),
      "scd2Check" -> Snapshot.scd2Check(Tables.orders(spark, sf)),
      "testSuite" -> Checks.testSuite(Tables.orders(spark, sf), Tables.customer(spark, sf)),
      "utilsTests" -> DbtUtils.utilsTests(Tables.orders(spark, sf), Tables.customer(spark, sf)),
      "surrogateKeyQuery" -> DbtUtils.surrogateKeyQuery(Tables.orders(spark, sf)),
      "dateSpine" -> DbtUtils.dateSpine(spark, "1998-01-01", "1998-02-01"),
      "priorityFailures" -> StoreFailures.priorityFailures(Tables.orders(spark, sf)),
      "runningSpend" -> Analytics.runningSpend(Tables.orders(spark, sf)),
      "aggStats" -> Analytics.aggStats(Tables.orders(spark, sf)),
      "customerHasOrders" -> Analytics.customerHasOrders(
        Tables.customer(spark, sf), Tables.orders(spark, sf)),
      "rollupAgg" -> Analytics.rollupAgg(Tables.orders(spark, sf)),
      "setOps" -> Analytics.setOps(Tables.orders(spark, sf)),
      "pivotEventValues" -> Analytics.pivotEventValues(Tables.events(spark, sf)),
      "quantiles" -> Analytics.quantiles(Tables.orders(spark, sf)),
      "customerLtv" -> Analytics.customerLtv(
        Tables.customer(spark, sf), Tables.orders(spark, sf)),
      "cohortRetention" -> Analytics.cohortRetention(Tables.orders(spark, sf)),
      "histogram" -> Analytics.histogram(Tables.orders(spark, sf)),
      "gapFill" -> Analytics.gapFill(Tables.orders(spark, sf)),
      "streaks" -> Analytics.streaks(Tables.events(spark, sf)),
      "sessionize" -> Sessions.sessionize(Tables.events(spark, sf)),
      "tumbling" -> Sessions.tumbling(Tables.events(spark, sf)),
      "funnel" -> Sessions.funnel(Tables.events(spark, sf)),
      "lastSignupBeforePurchase" -> AsOf.lastSignupBeforePurchase(Tables.events(spark, sf)),
      "shipmentsInWindows" -> RangeJoin.shipmentsInWindows(
        Tables.orders(spark, sf), Tables.lineitem(spark, sf)),
      "zorderKey" -> Materialize.zorderKey(Tables.orders(spark, sf)),
      "typedOrderStats" -> graft.functions.TypedAggs.typedOrderStats(
        spark, Tables.orders(spark, sf)),
      "exact" -> Dedup.exact(Tables.documents(spark, sf)),
      "langId" -> TextAnalysis.langId(Tables.documents(spark, sf)),
      "repetitionNgrams" -> TextAnalysis.repetitionNgrams(Tables.documents(spark, sf)),
      "tfidfTopTerms" -> TextAnalysis.tfidfTopTerms(Tables.documents(spark, sf)),
      "perplexityScore" -> TextAnalysis.perplexityScore(Tables.documents(spark, sf)),
      "heavyHittersPerGroupExact" ->
        TextAnalysis.heavyHittersPerGroupExact(Tables.documents(spark, sf)),
      "bm25TopK" -> TextAnalysis.bm25TopK(
        Tables.documents(spark, sf).filter(col("doc_id") % 50 =!= 0),
        Tables.documents(spark, sf).filter(col("doc_id") % 50 === 0)),
      "tokenBudget" -> Curation.tokenBudget(Tables.documents(spark, sf)),
      "domainQuota" -> Curation.domainQuota(Tables.documents(spark, sf)),
      "sourceMix" -> Curation.sourceMix(Tables.documents(spark, sf)),
      "docChunk" -> Curation.docChunk(Tables.documents(spark, sf)),
      "samplePerGroup" -> Curation.samplePerGroup(Tables.documents(spark, sf)),
      "topK" -> Similarity.topK(Tables.embeddings(spark, sf)),
      "semanticDedup" -> Similarity.semanticDedup(Tables.embeddings(spark, sf)),
      "embeddingQuantize" -> Similarity.embeddingQuantize(Tables.embeddings(spark, sf)),
      "Metrics.query" -> Metrics.query(Tables.orders(spark, sf),
        Metric("revenue", "orders", "sum(o_totalprice)",
          dimensions = Seq("o_orderpriority"), timeDimension = Some("o_orderdate")),
        Seq("o_orderpriority"), grain = Some("month")),
      "Metrics.queryAll" -> Metrics.queryAll(Tables.orders(spark, sf),
        Seq(Metric("revenue", "orders", "sum(o_totalprice)",
          dimensions = Seq("o_orderpriority"))), Seq("o_orderpriority")),
    ).foreach { case (name, df) =>
      val sorts = df.queryExecution.optimizedPlan.collect {
        case s: org.apache.spark.sql.catalyst.plans.logical.Sort if s.global => s
      }
      assert(sorts.isEmpty, s"$name plans a global sort: $sorts")
    }
  }

  test("the perfbench dbt DAG's table writes plan no global sort") {
    import graft.pipeline._
    import org.apache.spark.sql.catalyst.plans.logical.Sort
    import org.apache.spark.sql.execution.command.DataWritingCommand
    // the models of perfbench's DbtDag (dbt_marts workload)
    val dag = new Pipeline(Seq(
      Model("stg_orders", Seq("orders"), ViewMat,
        in => Relational.stgOrders(in("orders"))),
      Model("fct_bucket", Seq("stg_orders"), TableMat(Some("bucket"), Seq("id")),
        in => in("stg_orders").select(
          col("order_key").as("id"), col("total_price").as("value"),
          when(col("total_price") > 200000, "high").otherwise("regular").as("bucket"))),
      Model("orders_merged", Seq("orders"), TableMat(),
        in => Incremental.mergeLatest(in("orders"))),
      Model("orders_snapshot", Seq("orders"), TableMat(),
        in => Snapshot.scd2(in("orders"))),
      Model("data_tests", Seq("orders", "customer"), TableMat(),
        in => Checks.testSuite(in("orders"), in("customer")))))
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        if (qe.analyzed.exists(_.isInstanceOf[DataWritingCommand])) {
          writes.add(qe.analyzed); ()
        }
      def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_dag_writes_").toString
    spark.listenerManager.register(listener)
    try {
      dag.run(spark, Map("orders" -> Tables.orders(spark, sf),
        "customer" -> Tables.customer(spark, sf)), dir)
      org.apache.spark.graftbridge.CoreBridge.drainListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val plans = writes.toArray.toSeq
      .map(_.asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan])
    assert(plans.size >= 4, s"expected the 4 TableMat writes, saw ${plans.size}")
    plans.foreach { p =>
      val sorts = p.collect { case s: Sort if s.global => s }
      assert(sorts.isEmpty, s"a table write plans a global sort:\n$p")
    }
  }

  test("candidate generators pin their emit-stage parallelism (user repartition)") {
    // AQE byte-based coalescing shrinks the KB-scale banded/bucketed frames
    // to 1-2 partitions and serializes the pair emit (r5 finding: 2x+).
    // A count-less repartition(keys) is REPARTITION_BY_COL, which AQE
    // coalesces all the same — every fan-out repartition must carry an
    // explicit partition count (graft.util.FanOut: the session width)
    val docs = Tables.documents(spark, sf)
    Seq(
      "minhashLsh" -> Dedup.minhashLsh(docs),
      "simhash" -> Dedup.simhash(docs),
      "jaccardPairs" -> Dedup.jaccardPairs(docs),
      "lshCandidates" -> Similarity.lshCandidates(Tables.embeddings(spark, sf)),
      "semanticDedup" -> Similarity.semanticDedup(Tables.embeddings(spark, sf)),
      "bm25TopK" -> TextAnalysis.bm25TopK(docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0)),
    ).foreach { case (name, df) =>
      val reparts = df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression => r
      }
      assert(reparts.nonEmpty, s"$name lost its emit-parallelism repartition")
      assert(reparts.forall(_.optNumPartitions.contains(
          spark.conf.get("spark.sql.shuffle.partitions").toInt)),
        s"$name has a repartition AQE may coalesce: $reparts")
    }
  }

  test("capped minhash: the banded signature pipeline executes once " +
       "(hot counts, hot mask and bucket members share one checkpoint)") {
    // the maxBandDf path references the banded frame from THREE plans
    // (bucket df counts, per-doc hot-band bitmask, bucket members);
    // correctness never depended on compute-once, but cost does — column
    // pruning specializes the banded frame per consumer, so without a
    // barrier the signature pipeline re-executed behind each (measured,
    // r14). Pin the shape: the signature kernel sits entirely BEHIND the
    // lazy checkpoint ...
    val docs = Tables.documents(spark, sf)
    val df = Dedup.minhashLsh(docs, maxBandDf = 3)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("ExistingRDD"),
      s"capped path lost its banded checkpoint barrier:\n$plan")
    assert(!plan.contains("graft_minhash_row"),
      s"signature pipeline re-executes outside the barrier:\n$plan")
    // ... and each banded row is produced exactly once across all three
    // consumers (a row-counting probe on the banded frame)
    val produced = spark.sparkContext.longAccumulator("banded rows")
    val probe = udf { (_: Long) => produced.add(1); true }
    val banded = Dedup.bandedSignatures(docs)
    val capped = Dedup.minhashLsh(docs, maxBandDf = 3,
      precomputedBanded = Some(banded.filter(probe(col("band_hash")))))
    assert(capped.exceptAll(df).isEmpty && df.exceptAll(capped).isEmpty)
    assert(produced.value == banded.count(),
      s"banded rows produced ${produced.value} times for ${banded.count()} rows")
  }

  test("minhash LSH: no band self-join, no token arrays in the bucket " +
       "aggregate's input") {
    // candidates come from ONE group-by on (band_idx, band_hash) feeding
    // the in-bucket pair kernel — no join on the band key remains. The
    // bucket aggregate's input must not contain the word payload (it
    // re-attaches only after candidate generation + prefilter); the
    // bounded signature (numHashes longs) rides deliberately: the kernel's
    // exactly-once rule and prefilter read it (see minhashLsh)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, Join}
    val df = Dedup.minhashLsh(Tables.documents(spark, sf))
    val plan = df.queryExecution.optimizedPlan
    val bandJoins = plan.collect {
      case j: Join if j.condition.exists(_.references.exists(
        a => a.name == "band_idx" || a.name == "band_hash")) => j
    }
    assert(bandJoins.isEmpty, s"a band self-join is back: $bandJoins")
    val bucketAggs = plan.collect {
      case a: Aggregate if Set("band_idx", "band_hash").subsetOf(
        a.groupingExpressions.flatMap(_.references.map(_.name)).toSet) => a
    }
    assert(bucketAggs.size == 1, s"expected one bucket aggregate: $bucketAggs")
    val cols = bucketAggs.head.child.output.map(_.name.toLowerCase)
    assert(!cols.exists(c => c.startsWith("w") || c.contains("text")),
      s"payload rides the band shuffle: $cols")
    assert(plan.collect { case g: Generate
      if g.generator.isInstanceOf[graft.functions.BucketPairs] => g }.size == 1,
      "candidates no longer come from the bucket-pair kernel")
  }

  test("minhash verify runs in the stage that emits the candidates: with a " +
       "broadcast payload the band exchanges are the only shuffles, and " +
       "none is keyed on a doc id") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.util.PayloadJoin
    val aqe = new AdaptiveSparkPlanHelper {}
    // the keys of every shuffle in the final adaptive plan
    def shuffleKeys(df: org.apache.spark.sql.DataFrame): Seq[Set[String]] = {
      df.collect()
      aqe.collect(df.queryExecution.executedPlan) {
        case s: ShuffleExchangeExec => s.outputPartitioning match {
          case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name)).toSet
          case p => Set(p.toString)
        }
      }
    }
    val band = Set("band_idx", "band_hash")
    val docs = Tables.documents(spark, sf)
    val lsh = shuffleKeys(Dedup.minhashLsh(docs, payloadJoin = PayloadJoin.Broadcast))
    assert(lsh == Seq(band), s"minhashLsh shuffles other than the band exchange: $lsh")
    // the incremental twin: the batch and corpus band sides, nothing more
    val inc = shuffleKeys(Dedup.incrementalMinhash(
      docs.filter(col("doc_id") % 5 =!= 0), docs.filter(col("doc_id") % 5 === 0),
      payloadJoin = PayloadJoin.Broadcast))
    assert(inc.nonEmpty && inc.forall(_ == band),
      s"incrementalMinhash shuffles other than the band exchanges: $inc")
  }

  test("bloom semi join probes on the fact side BELOW the join") {
    // the whole point: non-matching fact rows die at the scan, before the
    // join's exchange — the probe must sit under the semi join's left child
    val df = BloomJoin.semiJoin(
      Tables.orders(spark, sf).select("o_orderkey", "o_custkey"),
      "o_custkey",
      Tables.customer(spark, sf).filter(col("c_acctbal") > 5000), "c_custkey")
    // the exact join is the inner join on the distinct dim keys (__dim_key)
    val exacts = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.condition.exists(_.references.exists(_.name == "__dim_key")) => j
    }
    assert(exacts.nonEmpty, "no exact key join planned")
    // the probe may live in a Filter node or get folded into the scalar
    // bits-attach join's condition — either way it must be in the LEFT
    // (fact) subtree, upstream of the exact join
    val probeBelow = exacts.exists(_.left.exists(_.expressions.exists(
      _.collectFirst { case b: graft.functions.BloomMightContain => b }.isDefined)))
    assert(probeBelow, "bloom probe not under the exact join's fact side")
  }

  test("typed Aggregator lowers to partial aggregation, not a raw-row shuffle") {
    val plan = explained(graft.functions.TypedAggs.typedOrderStats(
      spark, Tables.orders(spark, sf)))
    assert(plan.contains("partial"), s"no partial (map-side) aggregate in:\n$plan")
    assert(!plan.contains("MapGroups"), s"typed agg fell back to mapGroups:\n$plan")
  }

  test("sample_per_group plans on the custom bounded-heap top-k node, no Window") {
    val plan = explained(Curation.samplePerGroup(Tables.documents(spark, sf), 5))
    assert(plan.contains("TopKPerKey"), s"expected the custom node:\n$plan")
    assert(!plan.contains("Window"), s"per-group sample fell back to a window:\n$plan")
  }

  test("bucketed join + group-by run exchange-free") {
    val df = Materialize.bucketedSpend(
      spark, Tables.customer(spark, sf), Tables.orders(spark, sf), nBuckets = 4)
    val plan = explained(df)
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(plan.contains("SortMergeJoin"), s"expected SMJ over bucketed scans:\n$plan")
    assert(exchanges == 0,
      s"bucketed join should not exchange, got $exchanges:\n$plan")
  }

  test("binned range join plans an equi hash join, never a nested loop") {
    val plan = explained(RangeJoin.shipmentsInWindows(
      Tables.orders(spark, sf), Tables.lineitem(spark, sf)))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
           !plan.contains("CartesianProduct"),
      s"range join fell back to O(n*m):\n$plan")
  }

  test("connected components loop state is (id,label) only, no payload") {
    val labels = Dedup.connectedComponents(
      Dedup.jaccardPairs(Tables.documents(spark, sf), 0.5))
    assert(labels.columns.toSeq == Seq("id", "label"))
    val plan = explained(labels)
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("AQE splits a skewed sort-merge join at runtime (skew=true)") {
    import spark.implicits._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ).map(k => k -> scala.util.Try(conf.get(k)).toOption.flatMap(Option(_))).toMap
    try {
      // thresholds scaled down so a test-sized hot key qualifies as skew
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32k")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32k")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      // one pathological key carries 100x the median; the payload must be
      // incompressible AND referenced downstream — skew detection sees
      // COMPRESSED shuffle bytes, and 100k identical key longs lz4 to
      // almost nothing
      val big = spark.range(200000)
        .select(when(col("id") % 2 === 0, 0L).otherwise(col("id")).as("k"),
                xxhash64(col("id")).as("payload"))
      val small = spark.range(2000).select(col("id").as("k"), lit("x").as("tag"))
      // execute THROUGH the handle we inspect: a write/noop spawns its own
      // QueryExecution and the join's would stay un-executed (empty plan)
      val joined = big.hint("merge").join(small, "k")
        .groupBy().agg(max("payload")) // sum would overflow under ANSI
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not split the skewed partition:\n$plan")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  test("perplexity model join reuses the token exchange; aggs are partial") {
    val df = TextAnalysis.perplexityScore(Tables.documents(spark, sf))
    df.collect() // AQE materializes exchange reuse only during execution
    val plan = explained(df)
    // word-count model derives from the same (doc,word) shuffle the scoring
    // join consumes — the tf subtree must not execute twice
    assert(plan.contains("ReusedExchange"),
      s"no exchange reuse between tf and the unigram model:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      "no map-side combine on the token counts")
    // the only nested-loop allowed is the broadcast cross against the
    // single (N, V) totals row; a cartesian of real relations is a bug
    assert(!plan.contains("CartesianProduct"))
    val nlj = "BroadcastNestedLoopJoin BuildRight, Cross".r.findAllIn(plan).size
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size == nlj,
      s"non-broadcast-cross nested loop:\n$plan")
  }

  test("temperature sample never shuffles the corpus (broadcast rates only)") {
    val df = Curation.temperatureSample(Tables.documents(spark, sf))
    val plan = explained(df)
    // the documents scan flows through a broadcast join + filter; the only
    // exchanges are the #sources-row aggregates
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(bhj >= 1, s"rate map not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"corpus shuffled for the rate join:\n$plan")
  }

  test("target-mix sample never shuffles the corpus (broadcast rates only)") {
    val df = Curation.targetMixSample(Tables.documents(spark, sf),
      substring(col("source"), 4, 10).cast("int") % 4 + 1)
    val plan = explained(df)
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(bhj >= 1, s"rate map not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"corpus shuffled for the rate join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
  }

  test("incremental dedup never shuffles the corpus (broadcast membership only)") {
    val docs = Tables.documents(spark, sf)
    val df = Dedup.incrementalExact(docs.filter(col("doc_id") % 3 =!= 0),
                                    docs.filter(col("doc_id") % 3 === 0))
    val plan = explained(df)
    // membership checking is all broadcast: the bloom bits scalar, the
    // candidate semi-probe, and the dup-digest anti-join — a shuffled join
    // would mean corpus-sized rows crossing the wire per batch
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"corpus shuffled for membership join:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"membership joins not broadcast:\n$plan")
  }

  test("txlog reads keep pushdown, pruning, and partition pruning") {
    // the snapshot pins an explicit file list; that must not cost the
    // scan its scale properties
    val t = java.nio.file.Files.createTempDirectory("graft_txplan")
      .resolve("t").toString
    graft.sources.TxLogFormat.write(
      Tables.orders(spark, sf).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"),
      t, Some("o_orderstatus"))
    val df = graft.sources.TxLogFormat.read(spark, t)
      .filter(col("o_totalprice") > 100000.0 && col("o_orderstatus") === "F")
      .select("o_orderkey", "o_totalprice")
    val plan = df.queryExecution.sparkPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice"),
      s"txlog scan lost filter pushdown:\n$plan")
    assert(!plan.contains("o_custkey"), "txlog scan reads pruned column")
    // the o_orderstatus predicate is partition pruning, not a data filter
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderstatus"),
      s"txlog scan lost partition pruning:\n$plan")
    // data-skipping scan: driver-side file pruning must COMPOSE with the
    // parquet-level pushdown, not replace it — the survivors' row groups
    // still skip on footer stats
    val sc = graft.sources.TxLogFormat.scan(spark, t,
        col("o_orderkey") < 500 && col("o_totalprice") > 100000.0)
      .select("o_orderkey", "o_totalprice")
    val scPlan = sc.queryExecution.sparkPlan.toString
    assert(scPlan.contains("PushedFilters: [IsNotNull(o_orderkey"),
      s"txlog data-skipping scan lost parquet pushdown:\n$scPlan")
    assert(!scPlan.contains("o_custkey"),
      "txlog data-skipping scan reads pruned column")
  }

  test("budget running sums never window a whole language (blocked prefix sum)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val cases = Seq(
      "tokenBudget" -> Curation.tokenBudget(Tables.documents(spark, sf)),
      "sequencePack" -> Curation.sequencePack(Tables.documents(spark, sf)),
      "sequencePackSpans" -> Curation.sequencePackSpans(Tables.documents(spark, sf)),
      "curationPipeline" -> Curation.curationPipeline(Tables.documents(spark, sf)),
      "curationFunnel" -> Curation.curationFunnel(Tables.documents(spark, sf)),
    )
    cases.foreach { case (name, df) =>
      val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
      val running = wins.filter(_.windowExpressions.exists { e =>
        val s = e.toString.toLowerCase
        s.contains("unboundedpreceding") && s.contains("sum(")
      })
      // a running-sum window over RAW rows must be block-partitioned (the
      // within-block sum); a running sum partitioned by lang alone is only
      // legal over the #blocks-row partials frame (an Aggregate below it)
      running.foreach { w =>
        val part = w.partitionSpec.flatMap(_.references.map(_.name))
        val blocked = part.exists(_.contains("__blk"))
        val overPartials = w.child.collect { case a: Aggregate => a }.nonEmpty
        assert(blocked || overPartials,
          s"$name regressed to a full-language running-sum window " +
            s"(partition=$part)")
      }
      assert(running.exists(
          _.partitionSpec.flatMap(_.references.map(_.name)).exists(_.contains("__blk"))),
        s"$name lost the block-distributed prefix sum entirely")
      // the offsets side must come back as a broadcast, never a shuffle of
      // the docs frame against the block-partials frame
      assert(explained(df).contains("BroadcastHashJoin"),
        s"$name block offsets not broadcast")
    }
  }

  test("domain quota rank pushes a per-group top-k (WindowGroupLimit)") {
    // Spark 4.1 inserts WindowGroupLimit below the exchange for a
    // row_number() <= k filter: a crawl-heavy domain ships <= k rows per
    // map task, not its full row set. This — not AQE, which only splits
    // JOIN skew — is what makes the quota window skew-safe; pin it so a
    // refactor (e.g. losing the filter-adjacent shape) fails here instead
    // of silently reverting to full per-domain sorts.
    val df = Curation.domainQuota(Tables.documents(spark, sf))
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("WindowGroupLimit"),
      s"domainQuota lost the rank-limit pushdown:\n$opt")
    val phys = explained(df)
    assert(phys.contains("WindowGroupLimit"),
      s"no physical WindowGroupLimit in:\n$phys")
  }

  test("deletion vectors cost nothing on vector-free reads; masked reads " +
       "broadcast the vector frame over only the vector'd files") {
    val t = java.nio.file.Files.createTempDirectory("graft_dvplan")
      .resolve("t").toString
    graft.sources.TxLogFormat.write(
      Tables.orders(spark, sf).select("o_orderkey", "o_totalprice", "o_orderstatus"),
      t, Some("o_orderstatus"))
    // steady state (no vectors): the read is a plain file scan — no join,
    // no metadata columns, pushdown intact
    val plain = graft.sources.TxLogFormat.read(spark, t)
      .filter(col("o_totalprice") > 100000.0)
      .queryExecution.sparkPlan.toString
    assert(!plain.contains("Join"), s"vector-free txlog read plans a join:\n$plain")
    assert(plain.contains("PushedFilters: [IsNotNull(o_totalprice)"),
      s"vector-free txlog read lost pushdown:\n$plain")
    // with vectors outstanding: the mask is a BROADCAST anti-join (never a
    // shuffle of the data side), and after purge the join is gone again
    graft.sources.TxLogFormat.deleteVectors(spark, t, col("o_orderkey") % 50 === 0)
    val masked = graft.sources.TxLogFormat.read(spark, t)
      .queryExecution.sparkPlan.toString
    assert(masked.contains("BroadcastHashJoin") && masked.contains("LeftAnti"),
      s"vector mask is not a broadcast anti-join:\n$masked")
    graft.sources.TxLogFormat.purgeDeletes(spark, t, Some("o_orderstatus"))
    val purged = graft.sources.TxLogFormat.read(spark, t)
      .queryExecution.sparkPlan.toString
    assert(!purged.contains("Join"), s"purged txlog read still joins:\n$purged")
  }

  test("paragraph dedup: segmentation is scan-bound; no global sort on the " +
       "corpus-sized output") {
    val df = Dedup.segmentDedup(Tables.documents(spark, sf))
    val plan = explained(df)
    // two data-scale exchanges: segment first-occurrence + doc reassembly
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 2, s"expected 2 hash exchanges, got $shuffles in:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"corpus-sized output globally sorts:\n$plan")
  }

  test("sketch rollup: both stages aggregate partially (map-side combine)") {
    val df = Analytics.sketchRollup(Tables.events(spark, sf))
    val plan = explained(df)
    // cell build + merge each split into partial/final aggregates around
    // one exchange — sketches cross the wire, never raw rows
    assert("partial_theta_sketch_agg\\(".r.findAllIn(plan).nonEmpty,
      s"cell sketch build is not partial:\n$plan")
    // the merge stage is the bounded-state UNION aggregate, partial
    // too — not collect_list buffering every stored cell per group
    assert("partial_theta_union_agg\\(".r.findAllIn(plan).nonEmpty,
      s"stage-2 merge is not the partial union aggregate:\n$plan")
    assert(!plan.contains("collect_list"),
      s"stage-2 merge still buffers whole cell sketches:\n$plan")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 2, s"expected 2 hash exchanges, got $shuffles in:\n$plan")
  }

  test("sketch rollup from stored cells: one merge exchange, events never " +
       "rescanned") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cells_ps")
      .resolve("c").toString
    graft.sources.TxLogFormat.write(
      Analytics.sketchCells(Tables.events(spark, sf)), dir)
    val df = Analytics.sketchRollupFromCells(
      graft.sources.TxLogFormat.read(spark, dir))
    val plan = explained(df)
    // the stage-2 dashboard query reads ONLY the cell table: its scan is
    // the persisted cells, and the merge pays exactly one exchange
    assert(!plan.contains("events.parquet"),
      s"stored-cell rollup rescans events:\n$plan")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 1, s"expected 1 hash exchange, got $shuffles in:\n$plan")
  }

  test("bigram perplexity: the bigram exchange is reused at runtime, " +
       "aggregation is partial, no global sort") {
    val df = TextAnalysis.perplexityBigram(Tables.documents(spark, sf))
    df.collect() // ReusedExchange appears in the final adaptive plan
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // the model (c12/c1/V) aggregates FROM the scoring side's bigram
    // frequencies — identical exchange subtrees dedupe at execution, so
    // the corpus tokenizes once, not four times
    assert(plan.contains("ReusedExchange"),
      s"bigram model re-tokenizes the corpus:\n$plan")
    assert(plan.contains("partial_count"), s"no map-side combine:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"corpus-sized output globally sorts:\n$plan")
  }

  test("kneser-ney bigram: the bigram exchange is reused at runtime " +
       "(corpus tokenizes once), aggregation is partial, type count " +
       "broadcasts, no global sort") {
    val df = TextAnalysis.perplexityKn(Tables.documents(spark, sf))
    df.collect() // ReusedExchange appears in the final adaptive plan
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // the model (c12 / context totals / continuation counts / ntypes)
    // aggregates FROM the scoring side's bigram frequencies — identical
    // exchange subtrees dedupe at execution
    assert(plan.contains("ReusedExchange"),
      s"KN model re-tokenizes the corpus:\n$plan")
    assert(plan.contains("partial_count"), s"no map-side combine:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"the 1-row type count did not broadcast:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"corpus-sized output globally sorts:\n$plan")
  }

  test("count-pruned kneser-ney keeps the KN plan shape: bigram exchange " +
       "reused, partial aggregation, type count broadcasts, no global " +
       "sort (the pruning aggregates ride the existing context table)") {
    val df = TextAnalysis.perplexityKnPruned(Tables.documents(spark, sf))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("ReusedExchange"),
      s"pruned-KN model re-tokenizes the corpus:\n$plan")
    assert(plan.contains("partial_count"), s"no map-side combine:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"the 1-row type count did not broadcast:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"corpus-sized output globally sorts:\n$plan")
  }

  test("the n-gram models without a pin of their own keep their shape: " +
       "partial aggregation, no cartesian, the exchange reused where the " +
       "model aggregates from the scoring side, no global sort") {
    val docs = Tables.documents(spark, sf)
    // (model, frame, reuses an exchange)
    Seq(
      ("perplexityKnMod", TextAnalysis.perplexityKnMod(docs), true),
      ("perplexityKn3", TextAnalysis.perplexityKn3(docs), true),
      ("perplexityKnCross", TextAnalysis.perplexityKnCross(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0)), true),
      ("langIdModelWide", TextAnalysis.langIdModelWide(docs), false),
    ).foreach { case (name, df, reuses) =>
      df.collect() // ReusedExchange appears in the final adaptive plan
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(plan.contains("partial_sum") || plan.contains("partial_count"),
        s"$name: no map-side combine:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$name: cartesian:\n$plan")
      if (reuses) assert(plan.contains("ReusedExchange"),
        s"$name: the model re-tokenizes the corpus:\n$plan")
      assert(!plan.contains("Exchange rangepartitioning"),
        s"$name: a range exchange:\n$plan")
    }
  }

  test("hashed segment dedup: first occurrence reduces map-side over " +
       "8-byte hashes; no global sort") {
    val df = Dedup.segmentDedupHashed(Tables.documents(spark, sf))
    val plan = explained(df)
    assert(plan.contains("partial_min"),
      s"first-occurrence reduction is not a partial aggregate:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"corpus-sized output globally sorts:\n$plan")
  }

  test("quality cascade: scan-bound — no aggregate, no exchange, no global sort") {
    // r18: the top-word share reduces over the doc's in-row counts array
    // (graft_ngram_counts), so the former (doc, word) groupBy and its
    // exchange are gone; the cascade is one codegen'd scan projection
    val df = TextAnalysis.qualityCascade(Tables.documents(spark, sf))
    val plan = explained(df)
    assert(plan.contains("graft_ngram_counts"),
      s"top-word share no longer reads the in-row counts:\n$plan")
    assert(!plan.contains("Aggregate"), s"an aggregate is back:\n$plan")
    assert(!plan.contains("Exchange"),
      s"the cascade shuffles (or globally sorts):\n$plan")
  }

  test("zorder key is scan-bound whole-stage codegen") {
    val df = operators.Materialize.zorderKey(Tables.orders(spark, sf))
    df.collect() // final adaptive plan carries the codegen annotations
    val core = df.queryExecution.executedPlan.toString
    // codegen spans print as "*(n)" in the adaptive plan's final form;
    // count exchanges only there — the "== Initial Plan ==" echo repeats them
    val finalPlan = core.split("== Initial Plan ==")(0)
    assert("""\*\(\d+\)""".r.findFirstIn(finalPlan).isDefined,
      s"no codegen span:\n$finalPlan")
    val shuffles = "Exchange".r.findAllIn(finalPlan).size
    assert(shuffles <= 1, s"zorder key computation shuffles:\n$finalPlan")
  }

  test("substring dedup pair paths: the bounded aggregate rides the ONE " +
       "window-frame exchange (no df-precount join, no per-doc pre-agg)") {
    // exact path: exchange by window + exchange for the pair count — the
    // per-character frame shuffles exactly once; the df cap must not buy
    // itself a second pass (the draft it replaced cost 2 extra exchanges)
    val exact = Dedup.exactSubstringPairs(Tables.documents(spark, sf))
    val exactPlan = explained(exact)
    assert(exactPlan.contains("graft_bounded_minpos_set"),
      s"bounded aggregate missing from the exact path:\n$exactPlan")
    assert("partial_graft_bounded_minpos_set".r.findAllIn(exactPlan).nonEmpty,
      s"no map-side partial for the bounded agg (cap must bound map-side " +
      s"state too):\n$exactPlan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(exactPlan).size
    assert(exchanges == 2,
      s"exact path should shuffle exactly twice (window agg + pair count), " +
      s"saw $exchanges:\n$exactPlan")
    // hashed path: the fused min-pos fold removed the per-(doc_id, h)
    // pre-aggregation — no exchange may partition on that pair
    val hashed = Dedup.exactSubstringPairsHashed(Tables.documents(spark, sf))
    val hashedPlan = explained(hashed)
    assert(hashedPlan.contains("graft_bounded_minpos_set"))
    assert(!"hashpartitioning\\(doc_id#\\d+L?, h#".r.findAllIn(hashedPlan)
      .hasNext, s"per-(doc,h) pre-aggregation exchange is back:\n$hashedPlan")
  }

  test("containment: one shingle-frame shuffle feeds both branches " +
       "(exchange reuse), never a self-join") {
    val df = Dedup.containmentPairs(Tables.documents(spark, sf))
    df.collect() // AQE materializes exchange reuse only during execution
    val plan = explained(df)
    assert(plan.contains("ReusedExchange"),
      s"universe sizes and shared counts each re-shuffled the raw shingle " +
      s"frame:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"),
      s"containment planned a non-equi join:\n$plan")
  }

  test("oov rate: the vocab cut is a bounded top-V (TakeOrderedAndProject) " +
       "and joins broadcast, never shuffling the corpus against the vocab") {
    val df = TextAnalysis.oovRate(Tables.documents(spark, sf))
    df.collect()
    val plan = explained(df)
    assert(plan.contains("TakeOrderedAndProject"),
      s"vocab cut plans as a global sort:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"vocab membership did not broadcast:\n$plan")
  }

  test("gopher quality: the gate is scan-bound — no join, no aggregate, " +
       "no window, no exchange, no sort") {
    val df = TextAnalysis.gopherQuality(Tables.documents(spark, sf))
    val plan = explained(df)
    assert(!plan.contains("Join"), s"gate plans a join:\n$plan")
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"gate plans an aggregate:\n$plan")
    assert(!plan.contains("Window"), s"gate plans a window:\n$plan")
    assert(!plan.contains("Exchange") && !plan.contains("Sort"),
      s"gate plans an exchange or a sort:\n$plan")
  }

  test("boilerplate removal (r15): the block classifier is scan-bound " +
       "higher-order string arithmetic — no join, no aggregate, no " +
       "window, no hash exchange, no explode") {
    val df = Tables.documents(spark, sf)
      .select(col("doc_id"),
        TextAnalysis.htmlMainText(concat(lit("<p>"), col("text"),
          lit("</p><nav><a href='/'>Home</a></nav>"))).as("text"))
    val plan = explained(df)
    assert(!plan.contains("Join"), s"classifier plans a join:\n$plan")
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"classifier plans an aggregate:\n$plan")
    assert(!plan.contains("Window"), s"classifier plans a window:\n$plan")
    assert(!plan.contains("hashpartitioning"),
      s"classifier plans a hash exchange:\n$plan")
    assert(!plan.contains("Generate"),
      s"blocks explode instead of staying array-valued:\n$plan")
  }

  test("DOM-grade boilerplate removal (r16): same scan-bound shape as " +
       "the regex twin — the tokenizer is one expression in the scan, " +
       "gates stay declarative; no join/aggregate/window/exchange/" +
       "explode, and the kernel call sits in the projection") {
    val df = Tables.documents(spark, sf)
      .select(col("doc_id"),
        TextAnalysis.domMainText(concat(lit("<p>"), col("text"),
          lit("</p><nav><a href='/'>Home</a></nav>"))).as("text"))
    val plan = explained(df)
    assert(!plan.contains("Join"), s"classifier plans a join:\n$plan")
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"classifier plans an aggregate:\n$plan")
    assert(!plan.contains("Window"), s"classifier plans a window:\n$plan")
    assert(!plan.contains("hashpartitioning"),
      s"classifier plans a hash exchange:\n$plan")
    assert(!plan.contains("Generate"),
      s"blocks explode instead of staying array-valued:\n$plan")
    // the tokenizer runs ONCE per row as a plain projection expression
    // (the declarative gates around it are Spark's higher-order
    // functions — the same evaluation class as the regex twin's)
    assert(plan.contains("graft_html_blocks"),
      s"the kernel expression left the scan projection:\n$plan")
  }

  test("dsir select: candidate filter pushed to the scan, weights " +
       "broadcast, top-k bounded (TakeOrderedAndProject, no global sort)") {
    val df = Curation.dsirSelect(Tables.documents(spark, sf),
      col("lang") === "en")
    val plan = explained(df)
    // the NOT-target predicate must reach the candidate-side parquet scan
    assert(plan.contains("PushedFilters: [IsNotNull(lang), Not(EqualTo(lang,en))]"),
      s"candidate filter not pushed:\n$plan")
    // the B-row weight table broadcasts onto the scan-side occurrence
    // frame; the corpus must never shuffle against it
    assert(plan.contains("BroadcastHashJoin"),
      s"weights did not broadcast:\n$plan")
    // the k-cut is a distributed bounded top-k, not a global sort of
    // every candidate score
    assert(plan.contains("TakeOrderedAndProject"),
      s"selection plans as a global sort:\n$plan")
  }

  test("incremental containment: the size attach never shuffles the corpus " +
       "sizes table — every join in the batch pair path is broadcast") {
    import spark.implicits._
    val batch = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    // corpus-SCALE state stand-ins: what matters is the plan shape, which
    // is independent of the row counts — the sizes table must appear only
    // under broadcast semi-probes, never inside a shuffle join
    // the index key is the shingle's 8-byte hash (r18), as the ingest
    // loop stores it: the "alpha beta gamma" shingle through the same kernel
    val sh = Seq("alpha beta gamma").toDF("text")
      .select(explode(graft.functions.TermFunctions.ngramHashes(
        graft.util.TextNorm.words(col("text")), 3))).head.getLong(0)
    val idx = Seq((sh, Seq((1L, 0L), (2L, 0L))))
      .toDF("sh", "ds")
      .select(col("sh"), transform(col("ds"),
        e => struct(e.getField("_1").as("doc_id"), e.getField("_2").as("p")))
        .as("ds"))
    val sizes = Seq((1L, 5L), (2L, 7L)).toDF("doc_id", "n_sh")
    val (pairs, _, _) = Dedup.incrementalContainment(batch, idx, sizes)
    val plan = pairs.queryExecution.sparkPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"a corpus-side frame entered a shuffle join:\n$plan")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"sizes table not pruned through a broadcast semi-probe:\n$plan")
  }

  test("incremental hamming probe: the corpus chunk index is scanned, " +
       "never shuffled — the batch's chunk values broadcast as the prune") {
    import spark.implicits._
    val batch = Seq((10L, 0x1111222233334444L)).toDF("doc_id", "sig")
    val idx = graft.operators.Dedup.sigChunks(
      Seq((1L, 0x1111222233334444L), (2L, 0x5555666677778888L))
        .toDF("doc_id", "sig"))
    val pairs = Dedup.incrementalHammingPairs(batch, idx)
    val plan = pairs.queryExecution.sparkPlan.toString
    // the semi-prune must be a broadcast join (corpus side streams
    // through a scan); the only shuffle join allowed is the hit-sized
    // chunk join the explicit repartition feeds
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"chunk-value prune is not a broadcast semi-join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a corpus-sized frame entered a sort-merge join:\n$plan")
  }

  test("bm25 top-k (r14): vocab df + 1-row stats broadcast, the custom " +
       "bounded-heap node plans, no sort-merge join anywhere") {
    val docs = Tables.documents(spark, sf)
    val df = TextAnalysis.bm25TopK(
      docs.filter(col("doc_id") % 50 =!= 0),
      docs.filter(col("doc_id") % 50 === 0))
    val plan = df.queryExecution.sparkPlan.toString
    assert(plan.contains("TopKPerKey"),
      s"per-query top-k is not the bounded-heap node:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"vocab df table did not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a corpus-scale frame entered a sort-merge join:\n$plan")
  }

  test("bm25 top-k (r15): a vocabulary OVER the broadcast budget falls " +
       "back to the shuffle join on t — a web-scale term table must " +
       "never be a forced driver-side broadcast") {
    val docs = Tables.documents(spark, sf)
    // the sf0.001 frames sit under autoBroadcastJoinThreshold, so the
    // planner broadcasts from SIZE stats with or without a hint —
    // disable that to observe the hint itself
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = TextAnalysis.bm25TopK(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0),
        dfBroadcastBudget = 0L)
      val plan = df.queryExecution.sparkPlan.toString
      // the t-join plans as an exchange-backed join (AQE may still
      // upgrade it at runtime if the vocab proves small — that's the
      // point of the budget: a HINT, not a forced driver materialize)
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"over-budget vocab still forced a broadcast:\n$plan")
      assert(!plan.contains("BroadcastHashJoin [t#"),
        s"the df table still broadcast-joins on t over budget:\n$plan")
      // the shuffled df table scores the same rows
      assert(df.collect().toSet == TextAnalysis.bm25TopK(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0)).collect().toSet)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("bm25 top-k scores one document at a time: no (query_id, doc_id) " +
       "aggregate, no shuffle beyond the df, stats and doc_id ones but ONE " +
       "query_id exchange, and that exchange carries at most " +
       "partitions × queries × k rows") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val aqe = new AdaptiveSparkPlanHelper {}
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val queries = docs.filter(col("doc_id") % 5 === 0)
    val k = 3
    val df = TextAnalysis.bm25TopK(corpus, queries, k = k)
    df.collect()
    val exec = df.queryExecution.executedPlan
    val aggKeys = aqe.collect(exec) { case a: BaseAggregateExec =>
      a.groupingExpressions.flatMap(_.references.map(_.name)).toSet }
    assert(!aggKeys.contains(Set("query_id", "doc_id")),
      s"a (query_id, doc_id) aggregate is back:\n$exec")
    def keys(s: ShuffleExchangeExec): String = s.outputPartitioning match {
      case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name)).mkString(",")
      case p => p.getClass.getSimpleName.stripSuffix("$")
    }
    val shuffles = aqe.collect(exec) { case s: ShuffleExchangeExec => s }
    assert(shuffles.map(keys).sorted == Seq("SinglePartition", "doc_id", "query_id", "t"),
      s"unexpected shuffles ${shuffles.map(keys)}:\n$exec")
    // the df, stats and scoring branches read the one doc_id exchange: the
    // corpus is tokenized once
    val tokenize = aqe.collect(exec) { case p: org.apache.spark.sql.execution.ProjectExec
      if p.projectList.exists(_.exists(_.prettyName == "graft_ngram_counts")) => p }
    assert(tokenize.size == 1, s"the corpus is tokenized ${tokenize.size} times:\n$exec")
    // the partial top-k pass runs before the query_id exchange: it ships
    // at most k rows per (scoring partition, query), fewer than the
    // scored (query, doc) pairs the unsplit node shuffled
    val width = spark.conf.get("spark.sql.shuffle.partitions").toLong
    val nQueries = queries.count()
    val written = shuffles.filter(keys(_) == "query_id").head
      .metrics("shuffleRecordsWritten").value
    def terms(d: org.apache.spark.sql.DataFrame, id: String) =
      d.select(col("doc_id").as(id),
        explode(graft.util.TextNorm.distinctWords(col("text"))).as("t"))
        .filter(col("t") =!= "")
    val pairs = terms(corpus, "doc_id").join(terms(queries, "query_id"), "t")
      .select("query_id", "doc_id").distinct().count()
    assert(written > 0 && written <= width * nQueries * k,
      s"query_id exchange wrote $written rows, bound ${width * nQueries * k}")
    assert(written < pairs, s"the exchange carried every scored pair ($written of $pairs)")
  }

  test("bm25 top-k with default arguments builds lazily: no Spark job " +
       "runs while the frame is built") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val docs = Tables.documents(spark, sf)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    val sc = spark.sparkContext
    org.apache.spark.graftbridge.CoreBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val df = TextAnalysis.bm25TopK(
        docs.filter(col("doc_id") % 50 =!= 0), docs.filter(col("doc_id") % 50 === 0))
      df.queryExecution.executedPlan
      org.apache.spark.graftbridge.CoreBridge.drainListenerBus(sc)
      assert(jobs.get == 0, s"building bm25TopK ran ${jobs.get} Spark job(s)")
      // the listener sees jobs: running the frame starts some
      df.collect()
      org.apache.spark.graftbridge.CoreBridge.drainListenerBus(sc)
      assert(jobs.get > 0, "the job listener saw no job at all")
    } finally sc.removeSparkListener(listener)
  }

  test("bm25 top-k and the minhash band frame: no Filter under the " +
       "corpus scan re-evaluates a text kernel") {
    // Catalyst infers size(arr) > 0 from each explode/size guard and
    // pushes it below the projection by COPYING the kernel call into it:
    // unfenced, graft_ngram_counts (bm25) and the hashed word set (the
    // band frame's minhash input) ran twice per row — scan Filter, then
    // Project. EvalOnce keeps the predicate above the projection.
    import org.apache.spark.sql.catalyst.expressions.XxHash64
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val docs = Tables.documents(spark, sf)
    Seq(
      "bm25TopK" -> TextAnalysis.bm25TopK(docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0)),
      "bandedSignatures" -> Dedup.bandedSignatures(docs)).foreach { case (op, df) =>
      val kernelFilters = df.queryExecution.optimizedPlan.collect {
        case f: Filter if f.condition.exists(e =>
          e.prettyName == "graft_ngram_counts" || e.isInstanceOf[XxHash64]) => f
      }
      assert(kernelFilters.isEmpty,
        s"$op: a pushed-down Filter re-evaluates a text kernel:\n$kernelFilters")
    }
  }

  test("any-match near-dup (r14): the doc-level collapse aggregates the " +
       "VERIFIED match set, not candidates — the hamming filter sits " +
       "under the aggregation, the band join is the one shuffle join") {
    import spark.implicits._
    val slotSigs = Seq((1L, 0, 0x1111222233334444L),
      (2L, 0, 0x1111222233334444L)).toDF("doc_id", "slot", "sig")
    val pairs = Dedup.anyMatchNearDupPairs(slotSigs)
    val plan = pairs.queryExecution.sparkPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      s"band join lost its shuffle-hash hint:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Cartesian"),
      s"unexpected join strategy:\n$plan")
    // partial_min/partial_count: the min-hamming collapse combines
    // map-side — only verified matches reach the exchange
    assert(plan.contains("partial_min"),
      s"doc-pair collapse is not a partial aggregate:\n$plan")
    // the hamming <= r filter must be INSIDE the join output, before the
    // aggregation exchange (candidates never shuffle as candidates)
    val aggIdx = plan.indexOf("partial_min")
    val filtIdx = plan.lastIndexOf("bit_count")
    assert(filtIdx > aggIdx,
      s"verify filter does not precede the collapse in the plan tree:\n$plan")
  }

  test("incremental LSH probe: the corpus bucket index AND the corpus " +
       "vectors are scanned, never shuffled — prunes are broadcast semi-joins") {
    import spark.implicits._
    val batch = Seq((10L, Array.fill(8)(0.5f), "x"))
      .toDF("vec_id", "embedding", "label")
    val corpus = Seq((1L, Array.fill(8)(0.5f), "x"),
                     (2L, Array.fill(8)(-0.5f), "y"))
      .toDF("vec_id", "embedding", "label")
    val idx = Similarity.lshBuckets(corpus, nTables = 4, planesPerTable = 2,
      dim = 8)
    val pairs = Similarity.incrementalLshCandidates(batch, idx,
      corpus.select("vec_id", "embedding"), nTables = 4, planesPerTable = 2,
      dim = 8)
    val plan = pairs.queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"corpus sides not pruned through broadcast semi-probes:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a corpus-sized frame entered a sort-merge join:\n$plan")
  }

  test("incremental curation funnel: state offsets broadcast — the batch " +
       "never shuffles against the quota/budget tables") {
    import spark.implicits._
    val batch = Seq((1L, (1 to 25).map(i => s"w$i").mkString(" "), "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val seen = Seq("d0").toDF("digest")
    val qc = Seq(("s", 1L)).toDF("source", "survivors")
    val bu = Seq(("en", 10L)).toDF("lang", "used")
    val (report, _, _, _) = Curation.incrementalCurationFunnel(
      batch, seen, qc, bu)
    val plan = explained(report)
    assert(plan.contains("BroadcastHashJoin"),
      s"state offsets did not broadcast:\n$plan")
  }

  test("trained lang-ID (r16): the candidate fan-out and model tables " +
       "ride broadcasts — no CartesianProduct, no Window, nothing " +
       "corpus-scale on the driver") {
    import spark.implicits._
    val docs = Seq((1L, "en", "the cat sat"), (2L, "fr", "le chat assis"),
      (3L, "en", "a dog ran"), (4L, "fr", "un chien")).toDF("doc_id", "lang", "text")
    val df = TextAnalysis.langIdModel(docs)
    df.collect()
    val plan = explained(df)
    assert(!plan.contains("CartesianProduct"),
      s"candidate fan-out planned cartesian:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the docs x candidates cross must ride a broadcast:\n$plan")
    assert(!plan.contains("Window"), s"argmax planned a window:\n$plan")
  }

  test("tokenize_pack (r16): the vocabulary apply joins (never " +
       "re-folds per occurrence), doc counts partial-aggregate, and " +
       "no cartesian appears anywhere") {
    import spark.implicits._
    val docs = Seq((1L, "en", "ab ab abc"), (2L, "en", "cc babab"),
      (3L, "fr", "abab cc")).toDF("doc_id", "lang", "text")
    val merges = TextAnalysis.trainBpeMerges(docs, nMerges = 2)
    val df = Curation.tokenizePack(docs, merges, contextTokens = 8)
    df.collect()
    val plan = explained(df)
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    assert(plan.contains("partial_sum"),
      s"doc token counts lost their map-side combine:\n$plan")
  }

  test("crawl-curation incremental (r17): revisit resolution is a " +
       "LeftSemi/LeftAnti pair (existence, never a fan-out join) and " +
       "every index delta anti-joins the prior — no lifetime-sized " +
       "distinct, no cartesian anywhere") {
    import spark.implicits._
    val recs = Seq(
      (1L, "response", "https://e.com/a?x=1", "d1",
        "<html><body><p>the cat sat on the mat</p></body></html>"),
      (2L, "revisit", "https://e.com/a?x=1", "d1", ""),
      (3L, "revisit", "https://e.com/z?x=1", "dz", ""))
      .toDF("doc_id", "warc_type", "url", "payload_digest", "html")
    val prior = (c: String) => Seq("k1").toDF(c)
    val (report, uD, dD, rD) = Curation.crawlCurateIncremental(recs,
      prior("url_canonical"), prior("digest"), prior("payload_digest"))
    report.collect()
    val plan = explained(report)
    assert(plan.contains("LeftSemi"),
      s"revisit_dup must resolve by semi join:\n$plan")
    assert(plan.contains("LeftAnti"),
      s"revisit_orphan must resolve by anti join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    Seq(uD, dD, rD).foreach { d =>
      d.collect()
      val p = explained(d)
      assert(p.contains("LeftAnti"),
        s"index delta must anti-join the prior:\n$p")
    }
  }

  test("url dedup (r15): the keep rule is a map-side-combinable groupBy " +
       "min + join back, never a Window on the canonical key — a hot URL " +
       "refetched 10^7 times must not become one straggler task") {
    import spark.implicits._
    val df = Curation.urlDedup(Seq((1L, "https://e.com/p?a=1"))
      .toDF("doc_id", "url"))
    val plan = explained(df)
    assert(plan.contains("partial_min"),
      s"first-seen rule lost its map-side combine:\n$plan")
    assert(!plan.contains("Window"),
      s"keep rule still runs as a hot-key window:\n$plan")
    // the join back must never SORT the payload side (the window's
    // failure mode reappearing as SMJ) — shuffled hash streams it,
    // and AQE can skew-split a hash join's hot partition
    assert(!plan.contains("SortMergeJoin"),
      s"keep attach sorts the payload side:\n$plan")
  }
}
