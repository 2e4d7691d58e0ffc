package graft

import org.apache.spark.sql.functions._
import graft.plans.TopKPerGroup
import graft.sources.Tables
import graft.functions.VectorFunctions.cosine
import graft.util.Det.round4

class TopKPlanSpec extends SparkSpec {

  private def scored = {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    emb.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round4(cosine(col("embedding"), col("q"))).as("cos_sim"))
  }

  test("TopKPerKey matches the window row_number implementation") {
    val viaWindow = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("query_id")
        .orderBy(col("cos_sim").desc, col("vec_id"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
        .drop("rn").collect().map(_.toSeq).toSet
    }
    val viaCustom = TopKPerGroup(scored, Seq("query_id"),
      Seq("cos_sim" -> false, "vec_id" -> true), 10)
      .collect().map(_.toSeq).toSet
    assert(viaCustom == viaWindow)
  }

  test("TopKPerKey plans as the custom exec node with a single exchange") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.plans.TopKPerKeyExec
    val aqe = new AdaptiveSparkPlanHelper {}
    val df = TopKPerGroup(scored, Seq("query_id"),
      Seq("cos_sim" -> false, "vec_id" -> true), 10)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey ["), s"custom node missing in:\n$plan")
    // a partial pass before the key exchange, a final pass after it
    val passes = aqe.collect(df.queryExecution.executedPlan) {
      case t: TopKPerKeyExec => t.partial }
    assert(passes.sorted == Seq(false, true), s"expected partial + final:\n$plan")
    // the rank window after the node reuses its partitioning: exactly one
    // exchange keyed on query_id in both users of the node
    val docs = Tables.documents(spark, sf)
    Seq(
      "Similarity.topK" -> graft.operators.Similarity.topK(Tables.embeddings(spark, sf)),
      "bm25TopK" -> graft.operators.TextAnalysis.bm25TopK(
        docs.filter(col("doc_id") % 5 =!= 0), docs.filter(col("doc_id") % 5 === 0))
    ).foreach { case (name, q) =>
      q.collect()
      val exec = q.queryExecution.executedPlan
      val byQuery = aqe.collect(exec) {
        case s: ShuffleExchangeExec if (s.outputPartitioning match {
          case h: HashPartitioning => h.expressions.exists(_.references.exists(_.name == "query_id"))
          case _ => false
        }) => s
      }
      assert(byQuery.size == 1, s"$name: ${byQuery.size} query_id exchanges:\n$exec")
    }
  }

  test("partial + final passes keep the window's rows when many rows tie " +
       "at the k-th score") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // 6 keys × 40 rows, scores in {0, 1, 2}: every k below cuts through a
    // run of ties, which the id order then breaks
    val tied = (for (q <- 0L until 6L; id <- 0L until 40L)
      yield (q, id, (id * 7 + q) % 3)).toDF("query_id", "vec_id", "score")
      .repartition(17)
    Seq(1, 5, 12, 14, 40, 41).foreach { k =>
      val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("vec_id"))
      val viaWindow = tied.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k).drop("rn").collect().map(_.toSeq).toSet
      val viaCustom = TopKPerGroup(tied, Seq("query_id"),
        Seq("score" -> false, "vec_id" -> true), k).collect()
      assert(viaCustom.length == viaWindow.size, s"k=$k: a row kept twice or lost")
      assert(viaCustom.map(_.toSeq).toSet == viaWindow, s"k=$k")
    }
  }

  test("TopKPerKey result is invariant to input partitioning") {
    val base = TopKPerGroup(scored, Seq("query_id"),
      Seq("cos_sim" -> false, "vec_id" -> true), 5).collect().map(_.toSeq).toSet
    val repart = TopKPerGroup(scored.repartition(17), Seq("query_id"),
      Seq("cos_sim" -> false, "vec_id" -> true), 5).collect().map(_.toSeq).toSet
    assert(base == repart)
  }

  test("CollectPerKey equals groupBy + collect_list(struct) on unclustered " +
       "input (null keys, repeated rows), without an object aggregate") {
    import spark.implicits._
    import graft.plans.CollectPerKey
    val rows = (0 until 300).map(i =>
      (if (i % 37 == 0) None else Some((i % 23).toLong), s"t${i % 5}", (i % 7).toLong)) ++
      Seq((Some(1L), "t1", 1L), (Some(1L), "t1", 1L))
    val df = rows.toDF("k", "t", "w").repartition(7)
    def norm(r: org.apache.spark.sql.Row) = (Option(r.get(0)),
      r.getSeq[org.apache.spark.sql.Row](1).map(e => (e.getString(0), e.getLong(1))).sorted)
    val want = df.groupBy("k").agg(collect_list(struct(col("t"), col("w"))).as("p"))
      .collect().map(norm).toSet
    val got = CollectPerKey(df, "k", Seq("t", "w"), "p")
    assert(got.columns.toSeq == Seq("k", "p"))
    assert(got.collect().map(norm).toSet == want)
    assert(got.count() == want.size, "a key was emitted twice")
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("CollectPerKey") && !plan.contains("ObjectHashAggregate"),
      s"expected the run walk, no object aggregate:\n$plan")
    intercept[IllegalArgumentException](
      CollectPerKey(df.withColumn("d", col("w").cast("double")), "d", Seq("t"), "p"))
  }
}
