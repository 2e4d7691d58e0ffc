package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Checks, Incremental, Relational, Snapshot}
import graft.pipeline._
import graft.sources.Tables

/** The benchmark's own dbt DAG, run through `Pipeline.run`:
  * `stg_orders` view -> `fct_bucket` table, an incremental merge, an SCD2
  * snapshot and the data-test suite. Each model mirrors a `SparkEntry` op,
  * and `mirrors` names it, so the model's output is checked against that
  * op's oracle. */
object DbtDag {
  val mirrors: Map[String, String] = Map(
    "stg_orders" -> "stg_orders",
    "fct_bucket" -> "pipeline_run",
    "orders_merged" -> "incremental_merge",
    "orders_snapshot" -> "snapshot_scd2",
    "data_tests" -> "test_suite")

  private val models = Seq(
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
      in => Checks.testSuite(in("orders"), in("customer"))))

  def run(s: SparkSession, data: String, targetDir: String,
          hooks: RunHooks): Map[String, DataFrame] =
    new Pipeline(models).run(s, Map("orders" -> Tables.orders(s, data),
      "customer" -> Tables.customer(s, data)), targetDir, hooks)
      .filter { case (k, _) => mirrors.contains(k) }
}
