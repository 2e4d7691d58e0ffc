package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, TextAnalysis}
import graft.sources.Tables

/** Connected-components dedup clustering + PII scrubbing. */
class ClusterSpec extends SparkSpec {
  import spark.implicits._

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Dedup.connectedComponents(edges.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("connected components: cliques, chains, isolated pairs") {
    val got = cc(Seq(
      (1L, 2L), (2L, 3L), (1L, 3L), // triangle -> 1
      (10L, 11L),                   // pair -> 10
      (20L, 21L), (21L, 22L), (22L, 23L))) // chain -> 20
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L))
  }

  test("connected components: empty edge set yields empty labels, no crash") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.connectedComponents(empty).isEmpty)
  }

  test("connected components never narrow the caller session's width: a " +
       "concurrently planned aggregation keeps the default shuffle " +
       "partitions (r18 — the loop runs on a cloned session)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val default = spark.conf.get("spark.sql.shuffle.partitions")
    // a path long enough for several pointer-jump rounds
    val edges = (0L until 512L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val cc = Future(Dedup.connectedComponents(edges, maxIter = 25).count())
    var checks = 0
    while (!cc.isCompleted) {
      // plan (never execute) an unrelated aggregation on the CALLER session
      // mid-loop: its exchange must stay at the session default width
      val plan = spark.range(1000).groupBy(col("id") % 7).count()
        .queryExecution.executedPlan.toString
      assert(s"hashpartitioning\\([^()]*, $default\\)".r
          .findFirstIn(plan).isDefined,
        s"concurrent plan lost the default width ($default):\n$plan")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == default,
        "CC loop mutated the caller session's shuffle partitions")
      checks += 1
    }
    assert(Await.result(cc, 120.seconds) == 513L)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == default)
    assert(checks > 0, "loop finished before any concurrent plan was checked")
  }

  test("connected components checkpoint an RDD-built pair frame once, and " +
       "reuse a checkpointed one as it is") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val edges = (0L until 40L).map(i => (i, i + 1))
    val reads = spark.sparkContext.longAccumulator("pair-source reads")
    val rdd = spark.sparkContext.parallelize(edges, 2)
      .map { case (a, b) => reads.add(1); Row(a, b) }
    val fromRdd = spark.createDataFrame(rdd, StructType(Seq(
      StructField("doc_a", LongType), StructField("doc_b", LongType))))
    assert(!Dedup.materialized(fromRdd))
    val labels = Dedup.connectedComponents(fromRdd, maxIter = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(labels.length == 41 && labels.forall(_._2 == 0L))
    // the loop reads the source once, for its checkpoint, not per reference
    assert(reads.value == edges.size, s"source read ${reads.value} rows")
    // the memoized shared pair builds are localCheckpoint results
    val shared = edges.toDF("doc_a", "doc_b").localCheckpoint()
    assert(Dedup.materialized(shared))
    assert(!Dedup.materialized(edges.toDF("doc_a", "doc_b")))
  }

  test("connected components free the edge checkpoint they make: after " +
       "two calls the block manager holds only the two label frames") {
    import org.apache.spark.sql.execution.LogicalRDD
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    def cached(): Set[Int] = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    def rddId(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed match { case lr: LogicalRDD => lr.rdd.id }
    val before = cached()
    val edges = (0L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = Seq.fill(2)(Dedup.connectedComponents(edges, maxIter = 10))
    val kept = labels.map(rddId).toSet
    // frees are asynchronous: poll the storage status until they land
    eventually(timeout(30.seconds), interval(100.millis)) {
      assert(cached() -- before == kept)
    }
    assert(labels.forall(_.count() == 41))
  }

  test("connected components require maxIter >= 1 (loop-scratch frees " +
       "assume one materialized round)") {
    val edges = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(edges, maxIter = 0)
    }
  }

  test("connected components: 64-node path converges via pointer jumping") {
    // a path needs O(diameter) rounds under plain propagation; pointer
    // jumping must close a 64-hop chain well inside maxIter=10
    val edges = (0L until 63L).map(i => (i, i + 1))
    val got = Dedup.connectedComponents(
      edges.toDF("doc_a", "doc_b"), maxIter = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 64 && got.forall(_._2 == 0L),
      s"path not fully labeled: ${got.filter(_._2 != 0L).take(5).toSeq}")
  }

  test("connected components match a union-find oracle on real pairs") {
    val pairs = Dedup.jaccardPairs(Tables.documents(spark, sf), 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // driver-side union-find ground truth
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(k => k -> find(k)).toMap
    val got = Dedup.clusters(Tables.documents(spark, sf), 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("cluster sizes sum to the node count; canonical id is in its cluster") {
    val out = Dedup.clusters(Tables.documents(spark, sf), 0.5).collect()
    val byCluster = out.groupBy(_.getLong(1))
    byCluster.foreach { case (cid, rows) =>
      assert(rows.forall(_.getLong(2) == rows.length), s"bad size for $cid")
      assert(rows.map(_.getLong(0)).min == cid, s"canonical id $cid not min")
    }
  }

  test("survivors with a precomputed clusters frame match the recomputing path") {
    val docs = Tables.documents(spark, sf)
    val shared = Dedup.clusters(docs, 0.5).localCheckpoint()
    assert(rows(Dedup.dedupSurvivors(docs, 0.5, Some(shared))) ==
           rows(Dedup.dedupSurvivors(docs, 0.5)))
    assert(rows(Dedup.dedupSurvivorsByQuality(docs, 0.5, Some(shared))) ==
           rows(Dedup.dedupSurvivorsByQuality(docs, 0.5)))
  }

  test("minhash-edge clusters: co-cluster recall >= 0.8 vs exact edges at J>=0.8") {
    val docs = Tables.documents(spark, sf)
    def coPairs(out: Array[org.apache.spark.sql.Row]): Set[(Long, Long)] =
      out.groupBy(_.getLong(1)).values.flatMap { rs =>
        val ids = rs.map(_.getLong(0)).sorted
        for (i <- ids.indices; j <- i + 1 until ids.length) yield (ids(i), ids(j))
      }.toSet
    val exact = coPairs(
      Dedup.clustersFromPairs(Dedup.jaccardPairs(docs, 0.8)).collect())
    val approx = coPairs(Dedup.clustersApprox(docs).collect())
    assert(exact.nonEmpty, "no exact clusters to compare against")
    val recall = exact.intersect(approx).size.toDouble / exact.size
    // CC repairs missed edges transitively, so cluster-level recall must
    // beat the per-pair LSH recall bound (0.7 in ApproxSpec)
    assert(recall >= 0.8, s"co-cluster recall $recall " +
      s"(${approx.size} approx vs ${exact.size} exact co-pairs)")
  }

  test("segment dedup: global first-occurrence wins, docs reassemble in " +
       "position order, all-boilerplate docs disappear") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b c d e f g h i j k"), // 4 segments at k=3 (last short)
      (1L, "a b c x y z"),           // leading segment duplicates doc 0's
      (2L, "a b c d e f"),           // ALL segments duplicate doc 0's
      (3L, "p q r p q r")            // intra-doc duplicate
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup.segmentDedup(docs, segWords = 3)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == Seq(
      (0L, "a b c d e f g h i j k", 4L, 0L),
      (1L, "x y z", 1L, 1L),
      (3L, "p q r", 1L, 1L)))
  }

  test("segment dedup with a real paragraph delimiter: boundaries are the " +
       "delimiter's, reassembly re-joins with it, paths agree") {
    import spark.implicits._
    val docs = Seq(
      (0L, "intro text\n\nshared license block\n\nbody one"),
      (1L, "shared license block\n\nbody two"),
      (2L, "shared license block") // all boilerplate → disappears
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup
      .segmentDedup(docs, delimiter = Some("\n\n"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == Seq(
      (0L, "intro text\n\nshared license block\n\nbody one", 3L, 0L),
      (1L, "body two", 1L, 1L)))
    val hashed = graft.operators.Dedup
      .segmentDedupHashed(docs, delimiter = Some("\n\n"))
      .collect().map(_.toSeq).toSet
    assert(hashed == got.map(t => Seq[Any](t._1, t._2, t._3, t._4)).toSet)
  }

  test("hashed segment dedup equals the exact path row-for-row on the corpus") {
    val docs = Tables.documents(spark, sf)
    val exact = graft.operators.Dedup.segmentDedup(docs)
      .collect().map(_.toSeq).toSet
    val hashed = graft.operators.Dedup.segmentDedupHashed(docs)
      .collect().map(_.toSeq).toSet
    assert(hashed == exact)
  }

  test("leakage-safe split: no near-dup pair straddles a split boundary " +
       "(the naive per-doc split does)") {
    val docs = Tables.documents(spark, sf)
    val clusters = graft.operators.Dedup.clusters(docs).localCheckpoint()
    val pairs = graft.operators.Dedup.jaccardPairs(docs, 0.5)
      .select("doc_a", "doc_b").localCheckpoint()
    def straddlers(split: org.apache.spark.sql.DataFrame): Long =
      pairs
        .join(split.select(col("doc_id").as("doc_a"), col("split").as("sa")),
          "doc_a")
        .join(split.select(col("doc_id").as("doc_b"), col("split").as("sb")),
          "doc_b")
        .filter(col("sa") =!= col("sb")).count()
    val safe = graft.operators.Curation.trainValTestSplitSafe(docs, clusters)
    assert(straddlers(safe) == 0)
    // the hazard is real: the per-doc draw DOES separate near-dups here
    val naive = graft.operators.Curation.trainValTestSplit(docs)
    assert(straddlers(naive) > 0)
  }

  test("pii scrub masks emails, IPs, and phone runs; leaves clean text alone") {
    val docs = Seq(
      (1L, "contact me at jane.doe+spam@example.co.uk today"),
      (2L, "server at 192.168.1.250 rebooted"),
      (3L, "call +1 (555) 123-4567 now"),
      (4L, "nothing sensitive here at all"),
    ).toDF("doc_id", "text")
    val got = TextAnalysis.piiScrub(docs).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getBoolean(2))).toMap
    assert(got(1L) == ("contact me at <EMAIL> today", true))
    assert(got(2L) == ("server at <IP> rebooted", true))
    assert(got(3L) == ("call <PHONE> now", true))
    assert(got(4L) == ("nothing sensitive here at all", false))
  }

  test("repetition score flags repeated text, passes varied text") {
    val docs = Seq(
      (1L, "spam spam spam spam spam spam spam spam spam eggs"), // top=0.9
      (2L, "one two three four five six seven eight nine ten"),  // all distinct
      (3L, "a b a b a b a b a b a b a b a b a b a b"),           // dup=0.9
    ).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.repetitionScore(docs).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getString(3))).toMap
    assert(got(1L) == ((0.9, 0.8, "repetitive")))
    assert(got(2L) == ((0.1, 0.0, "ok")))
    assert(got(3L)._3 == "repetitive" && got(3L)._2 == 0.9)
  }

  test("repetition score: a NULL-text doc has no words and no row " +
       "(the oracle's unnest of NULL drops it too)") {
    val docs = Seq[(Long, String)]((1L, "spam spam eggs"), (2L, null),
      (3L, "")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.repetitionScore(docs).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 3L),
      s"NULL-text doc surfaced: ${got.toSeq}")
  }

  test("source mix: shares sum to ~1, tokens match per-source totals") {
    val docs = Tables.documents(spark, sf)
    val out = graft.operators.Curation.sourceMix(docs).collect()
    assert(out.length == docs.select("source").distinct().count())
    val shareSum = out.map(_.getDouble(3)).sum
    assert(math.abs(shareSum - 1.0) < 0.001, s"shares sum to $shareSum")
    val totalTokens = out.map(_.getLong(2)).sum
    val expected = docs.select(
      sum(ceil(length(col("text")) / 4.0).cast("long"))).head.getLong(0)
    assert(totalTokens == expected)
  }

  test("pii scrub plan is shuffle-free") {
    val df = TextAnalysis.piiScrub(Tables.documents(spark, sf))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Sort"),
      s"pii scrub shuffles or sorts:\n$plan")
  }
}
