package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra-Gries heavy-hitters summary: at most `k` (item, count) counters
  * over a stream of items, O(k) memory regardless of input size.
  *
  * The exact top-k (`groupBy(item).count.orderBy.limit`) shuffles one row
  * per DISTINCT item — at 100 TB of web text that is billions of grouping
  * keys for an answer that only wants the few hottest. This summary is the
  * sublinear path: each partition folds its items into k counters
  * map-side, and only k-counter summaries ever cross the wire.
  *
  * Merge follows Agarwal et al., "Mergeable Summaries" (PODS'12): add
  * counts pairwise, then subtract the (k+1)-st largest count from every
  * counter and drop the non-positive ones — the result is again a valid
  * MG summary of the union. Deterministic guarantees (any partitioning):
  * `true − n/(k+1) ≤ est ≤ true`, so every item with frequency above
  * n/(k+1) is guaranteed present (spec-verified against exact counts).
  * Estimated counts themselves MAY vary with partition layout (like any
  * MG deployment); consumers rank on them, not hash them.
  *
  * Spark's `approx_top_k` does not replace it: its count is DataSketches'
  * `ItemsSketch.Row.getEstimate` (count + offset), an UPPER bound, so at
  * saturation it would flip the `est ≤ true` contract above.
  */
case class MisraGriesSummary(child: Expression, k: Int,
                             mutableAggBufferOffset: Int = 0,
                             inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.HashMap[String, Long]]
    with UnaryLike[Expression] {

  require(k > 0, "k must be positive")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_heavy_hitters expects a string column, got ${child.dataType.simpleString}")

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  override def update(buf: mutable.HashMap[String, Long],
                      input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val item = v.asInstanceOf[UTF8String].toString
      buf.get(item) match {
        case Some(c) => buf.update(item, c + 1)
        case None if buf.size < k => buf.update(item, 1L)
        case None =>
          // classic MG step: a full table and a new item decrement ALL
          // counters; zeros free their slots. Happens ≤ n/(k+1) times total.
          val dead = mutable.ArrayBuffer.empty[String]
          buf.keysIterator.foreach { key =>
            val c = buf(key) - 1
            if (c == 0) dead += key else buf.update(key, c)
          }
          dead.foreach(buf.remove)
      }
    }
    buf
  }

  override def merge(a: mutable.HashMap[String, Long],
                     b: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    b.foreach { case (item, c) => a.update(item, a.getOrElse(item, 0L) + c) }
    if (a.size > k) {
      val counts = a.values.toArray
      java.util.Arrays.sort(counts)
      val cut = counts(a.size - k - 1) // (k+1)-st largest
      val dead = a.iterator.collect { case (key, c) if c <= cut => key }.toList
      dead.foreach(a.remove)
      a.keysIterator.toList.foreach(key => a.update(key, a(key) - cut))
    }
    a
  }

  override def eval(buf: mutable.HashMap[String, Long]): Any = {
    // deterministic presentation: count desc, then item asc
    val sorted = buf.toArray.sortBy { case (item, c) => (-c, item) }
    new GenericArrayData(sorted.map { case (item, c) =>
      InternalRow(UTF8String.fromString(item), c)
    })
  }

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val items = buf.toArray
    val bytes = items.map { case (s, _) => s.getBytes(StandardCharsets.UTF_8) }
    val bb = ByteBuffer.allocate(4 + bytes.map(_.length + 12).sum)
    bb.putInt(items.length)
    items.indices.foreach { i =>
      bb.putInt(bytes(i).length)
      bb.put(bytes(i))
      bb.putLong(items(i)._2)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = mutable.HashMap.empty[String, Long]
    (0 until n).foreach { _ =>
      val len = bb.getInt
      val sb = new Array[Byte](len)
      bb.get(sb)
      buf.update(new String(sb, StandardCharsets.UTF_8), bb.getLong)
    }
    buf
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("item", StringType, nullable = false),
                   StructField("est_count", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_heavy_hitters"

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesSummary =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesSummary =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MisraGriesSummary =
    copy(child = newChild)
}

object MisraGriesAgg {
  /** Aggregate Column: MG heavy-hitter summary (≤ k (item, est_count) rows,
    * count desc). */
  def heavyHitters(item: Column, k: Int): Column =
    Bridge.column(MisraGriesSummary(Bridge.expression(item), k)
      .toAggregateExpression())
}
