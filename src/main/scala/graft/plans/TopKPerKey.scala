package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.Bridge

/** Logical top-K-per-group: keep the first `k` rows of every key group
  * under `order`. Built-ins express this as Window(row_number) + Filter —
  * which SORTS every group in full. This operator's physical form keeps a
  * bounded heap per key: O(n log k) work, O(#keys·k) memory, no sort of
  * the long tail — the difference between "sort 10^9 rows per key" and
  * "scan them" at 100 TB.
  */
case class TopKPerKey(keys: Seq[Expression], order: Seq[SortOrder], k: Int,
                      child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

/** Physical bounded-heap top-K-per-group, planned as two passes of this
  * node around one hash exchange on the keys:
  *  - the PARTIAL pass (`partial = true`) runs on the child's partitions
  *    as they are, before the exchange, and keeps each partition's best
  *    `k` rows per key;
  *  - the FINAL pass (`partial = false`) requires the keys' clustered
  *    distribution (EnsureRequirements inserts the exchange) and keeps the
  *    best `k` of what the partial passes sent.
  * A row in a key's global top k is in its partition's top k, so the two
  * passes return the one-pass rows, and the exchange carries at most
  * partitions × keys × k rows instead of every input row. Under a total
  * `order` the result is exact; ties at the k-th row keep some k of the
  * tied rows, as a `row_number` window does. Each pass streams its
  * partition once through per-key heaps of size ≤ k and emits the heaps
  * unsorted. Both passes drop rows only, so they report the child's
  * partitioning: a window or group-by on the keys after the final pass
  * plans no second exchange. */
case class TopKPerKeyExec(keys: Seq[Expression], order: Seq[SortOrder], k: Int,
                          partial: Boolean, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    (if (partial) UnspecifiedDistribution else ClusteredDistribution(keys)) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val kLocal = k
    val keysLocal = keys
    val orderLocal = order
    child.execute().mapPartitions { it =>
      val keyProj = UnsafeProjection.create(keysLocal, childOutput)
      val ord = new LazilyGeneratedOrdering(orderLocal, childOutput)
      // max-heap on the ordering: head = worst retained row per key
      val heapOrd: Ordering[InternalRow] = (a, b) => ord.compare(a, b)
      val heaps = mutable.HashMap[UnsafeRow, mutable.PriorityQueue[InternalRow]]()
      it.foreach { row =>
        val key = keyProj(row)
        // copy the key only when inserting a new group — the hot loop
        // otherwise probes with the reused projection row (no allocation)
        val heap = heaps.getOrElse(key, {
          val h = mutable.PriorityQueue.empty[InternalRow](heapOrd)
          heaps.put(key.copy(), h)
          h
        })
        if (heap.size < kLocal) heap.enqueue(row.copy())
        else if (ord.compare(row, heap.head) < 0) {
          heap.dequeue(); heap.enqueue(row.copy())
        }
      }
      heaps.valuesIterator.flatMap(_.iterator)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

/** Planner strategy for the graft logical nodes: a top-k maps to its
  * partial and final exec passes, a collect-per-key to its run walk. */
object GraftStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k, partial = false,
        TopKPerKeyExec(keys, order, k, partial = true, planLater(child))) :: Nil
    case CollectPerKey(key, values, collected, child) =>
      CollectPerKeyExec(key, values, collected, planLater(child)) :: Nil
    case _ => Nil
  }

  /** Register the strategy on `spark` unless it is there already. */
  private[plans] def install(spark: org.apache.spark.sql.SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(GraftStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ GraftStrategy
}

/** Public API: `TopKPerGroup(df, Seq("query_id"), Seq("cos_sim" -> false,
  * "vec_id" -> true), 10)` — order pairs are (column, ascending). */
object TopKPerGroup {
  def apply(df: DataFrame, keyCols: Seq[String],
            orderCols: Seq[(String, Boolean)], k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(keyCols.nonEmpty, "at least one key column required")
    val spark = df.sparkSession
    GraftStrategy.install(spark)
    val analyzed = df.queryExecution.analyzed
    def attr(name: String): Attribute = analyzed.output
      .find(_.name.equalsIgnoreCase(name))
      .getOrElse(throw new IllegalArgumentException(s"no column '$name'"))
    val keys = keyCols.map(attr)
    // Raw-bytes grouping has no NormalizeFloatingNumbers pass: -0.0/0.0 or
    // NaN bit patterns would split groups. Integer/string keys only.
    keys.foreach { a =>
      require(a.dataType != org.apache.spark.sql.types.FloatType &&
              a.dataType != org.apache.spark.sql.types.DoubleType,
        s"floating-point grouping key '${a.name}' not supported (0.0/-0.0/NaN " +
          "bit patterns would split groups); cast or round to a stable type")
    }
    val order = orderCols.map { case (c, asc) =>
      SortOrder(attr(c), if (asc) Ascending else Descending)
    }
    Bridge.ofRows(spark, TopKPerKey(keys, order, k, analyzed))
  }
}
