package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, CreateStruct, GenericInternalRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, StructField, StructType}

/** Logical collect-per-key: one row per distinct `key`, holding the key
  * and `collected` — an array of `struct(values)`, one element per input
  * row of the key, in no particular order. The result of
  * `groupBy(key).agg(collect_list(struct(values)))`, without its object
  * hash aggregate: that aggregate keeps a hash map of per-key object
  * buffers, serializes them between its partial and final passes even
  * when no exchange separates the two, and past 128 keys per task (the
  * default fallback threshold) sorts its input anyway.
  */
case class CollectPerKey(key: Attribute, values: Seq[Attribute], collected: Attribute,
                         child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = Seq(key, collected)
  override def producedAttributes: AttributeSet = AttributeSet(collected)
  override protected def withNewChildInternal(newChild: LogicalPlan): CollectPerKey =
    copy(child = newChild)
}

/** Physical collect-per-key in one pass over key runs: the child is
  * clustered by the key (an exchange only where its partitioning does not
  * already satisfy that) and sorted by it within each partition, so each
  * key's rows arrive as one run and become one output row. Memory is one
  * run's values; the sort is Spark's (spillable, radix on a long key). */
case class CollectPerKeyExec(key: Attribute, values: Seq[Attribute], collected: Attribute,
                             child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = Seq(key, collected)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = Seq(SortOrder(key, Ascending))
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(key)) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(key, Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val keyLocal = key
    val valuesLocal = values
    val outTypes = output
    child.execute().mapPartitions { it =>
      val keyOf = UnsafeProjection.create(Seq(keyLocal), childOutput)
      val valueOf = UnsafeProjection.create(Seq(CreateStruct(valuesLocal)), childOutput)
      val out = UnsafeProjection.create(outTypes.map(_.dataType).toArray)
      val width = valuesLocal.size
      val rows = it.buffered
      new Iterator[InternalRow] {
        override def hasNext: Boolean = rows.hasNext
        override def next(): InternalRow = {
          val k = keyOf(rows.head).copy()
          val run = mutable.ArrayBuffer.empty[Any]
          while (rows.hasNext && keyOf(rows.head) == k)
            run += valueOf(rows.next()).getStruct(0, width).copy()
          out(new GenericInternalRow(Array[Any](
            if (k.isNullAt(0)) null else k.get(0, keyLocal.dataType),
            new GenericArrayData(run.toArray))))
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): CollectPerKeyExec =
    copy(child = newChild)
}

/** Public API: `CollectPerKey(df, "doc_id", Seq("t", "w"), "postings")` —
  * `(doc_id, postings: array<struct<t, w>>)`, one row per doc_id. */
object CollectPerKey {
  def apply(df: DataFrame, keyCol: String, valueCols: Seq[String], as: String): DataFrame = {
    require(valueCols.nonEmpty, "at least one value column required")
    val spark = df.sparkSession
    GraftStrategy.install(spark)
    val analyzed = df.queryExecution.analyzed
    def attr(name: String): Attribute = analyzed.output
      .find(_.name.equalsIgnoreCase(name))
      .getOrElse(throw new IllegalArgumentException(s"no column '$name'"))
    val key = attr(keyCol)
    // runs are found by the key's bytes, as TopKPerGroup groups
    require(key.dataType != org.apache.spark.sql.types.FloatType &&
            key.dataType != org.apache.spark.sql.types.DoubleType,
      s"floating-point key '${key.name}' not supported (0.0/-0.0/NaN bit patterns " +
        "would split runs); cast or round to a stable type")
    val values = valueCols.map(attr)
    val elem = StructType(values.map(a => StructField(a.name, a.dataType, a.nullable)))
    val collected = AttributeReference(as, ArrayType(elem, containsNull = false),
      nullable = false)()
    Bridge.ofRows(spark, CollectPerKey(key, values, collected, analyzed))
  }
}
