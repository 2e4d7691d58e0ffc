package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-query scores of ONE document: the fused form of the inverted-index
  * probe `queryTerms JOIN postings ON t` plus its `groupBy(query_id,
  * doc_id).sum(w)`, evaluated inside the document's row.
  *
  * `postings` is the document's `array<struct<t: string, w: bigint>>` (a
  * `collect_list` over its weighted postings), `index` the query side's
  * `array<struct<query_id: bigint, terms: array<string>>>` — one element
  * per query, a value that is the same for every row (a scalar
  * subquery), so it reaches the kernel once per task and its term →
  * query-slot map is built once per task. The generator adds each
  * posting's weight into a per-query `long` accumulator for every
  * (query, term) index entry with the posting's term, and emits
  * `(query_id, score_micro)` for each query that shares at least one
  * term with the document — a zero sum included, as the group-by would.
  * Multiplicities are the join's: a term listed twice in the postings, or
  * a (query, term) pair listed twice in the index (twice in one query's
  * terms, or under two elements of the same query), adds twice.
  *
  * Exact: integer adds (`Math.addExact`, as ANSI `sum` overflows), no
  * cap or threshold. Per-row work is Σ over the row's postings of the
  * term's index entries — the join's row count, as in-array adds; memory
  * is the index map plus two arrays of |queries|. A null or empty postings
  * array, a null element and a null term emit nothing (the join drops
  * them); a null index yields no rows; a null index element, a null
  * terms array and a null term add no entry; a null weight or a null
  * query id throws. */
case class TermScores(postings: Expression, index: Expression)
    extends Generator with CodegenFallback with BinaryLike[Expression] {

  override def left: Expression = postings
  override def right: Expression = index
  override def prettyName: String = "graft_term_scores"
  override def supportCodegen: Boolean = false

  override def elementSchema: StructType = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("score_micro", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    (postings.dataType, index.dataType) match {
      case (ArrayType(StructType(Array(StructField(_, StringType, _, _),
              StructField(_, LongType, _, _))), _),
            ArrayType(StructType(Array(StructField(_, LongType, _, _),
              StructField(_, ArrayType(StringType, _), _, _))), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<struct<string, bigint>>, " +
          "array<struct<bigint, array<string>>>), " +
          s"got (${postings.dataType.simpleString}, ${index.dataType.simpleString})")
    }

  // per-task state: the index value it was built from, the term → query
  // slots map, the slots' query ids, and the scoring scratch
  @transient private var builtFrom: ArrayData = _
  @transient private var slotsOf: java.util.HashMap[UTF8String, Array[Int]] = _
  @transient private var queryIds: Array[Long] = _
  @transient private var acc: Array[Long] = _
  @transient private var touched: Array[Int] = _
  @transient private var seen: Array[Boolean] = _

  private def build(ix: ArrayData): Unit = {
    val slotOf = new java.util.HashMap[Long, Integer]()
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    val lists = new java.util.HashMap[UTF8String, scala.collection.mutable.ArrayBuilder.ofInt]()
    var i = 0
    while (i < ix.numElements()) {
      if (!ix.isNullAt(i)) {
        val e = ix.getStruct(i, 2)
        if (e.isNullAt(0))
          throw new IllegalArgumentException(s"$prettyName: null query id in the index")
        if (!e.isNullAt(1)) {
          val q = e.getLong(0)
          var slot = slotOf.get(q)
          if (slot == null) { slot = ids.size; slotOf.put(q, slot); ids += q }
          val terms = e.getArray(1)
          var j = 0
          while (j < terms.numElements()) {
            if (!terms.isNullAt(j)) {
              val t = terms.getUTF8String(j).copy()
              var b = lists.get(t)
              if (b == null) { b = new scala.collection.mutable.ArrayBuilder.ofInt; lists.put(t, b) }
              b += slot.intValue
            }
            j += 1
          }
        }
      }
      i += 1
    }
    slotsOf = new java.util.HashMap[UTF8String, Array[Int]](lists.size * 2)
    lists.forEach((t, b) => { slotsOf.put(t, b.result()); () })
    queryIds = ids.toArray
    acc = new Array[Long](queryIds.length)
    touched = new Array[Int](queryIds.length)
    seen = new Array[Boolean](queryIds.length)
    builtFrom = ix
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val p = postings.eval(input).asInstanceOf[ArrayData]
    val ix = index.eval(input).asInstanceOf[ArrayData]
    if (p == null || ix == null) return Iterator.empty
    if (!(ix eq builtFrom)) build(ix)
    scala.collection.immutable.ArraySeq.unsafeWrapArray(scores(p))
  }

  private def scores(p: ArrayData): Array[InternalRow] = {
    var nt = 0
    var i = 0
    while (i < p.numElements()) {
      if (!p.isNullAt(i)) {
        val e = p.getStruct(i, 2)
        if (!e.isNullAt(0)) {
          val slots = slotsOf.get(e.getUTF8String(0))
          if (slots != null) {
            if (e.isNullAt(1))
              throw new IllegalArgumentException(
                s"$prettyName: null weight for term ${e.getUTF8String(0)}")
            val w = e.getLong(1)
            var j = 0
            while (j < slots.length) {
              val s = slots(j)
              if (!seen(s)) { seen(s) = true; touched(nt) = s; nt += 1 }
              acc(s) = Math.addExact(acc(s), w)
              j += 1
            }
          }
        }
      }
      i += 1
    }
    val out = new Array[InternalRow](nt)
    var k = 0
    while (k < nt) {
      val s = touched(k)
      out(k) = new GenericInternalRow(Array[Any](queryIds(s), acc(s)))
      acc(s) = 0L; seen(s) = false
      k += 1
    }
    out
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TermScores =
    copy(postings = newLeft, index = newRight)
}
