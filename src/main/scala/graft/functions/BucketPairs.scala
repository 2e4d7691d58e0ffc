package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StructField, StructType}

/** MinHash LSH candidate pairs of ONE band bucket, emitted exactly once
  * across all bands: the fused form of the band self-join
  * `x JOIN y ON (band_idx, band_hash) AND x.doc_id < y.doc_id` plus its
  * first-agreeing-band and signature-agreement filters.
  *
  * `members` is the bucket's `array<struct<doc_id: bigint, sig:
  * array<bigint>, hotmask: bigint>>` (a `collect_list` over the bucket),
  * `band` its band index, `width` the rows per band. The generator walks
  * the member pairs i < j in `doc_id` order and emits `(doc_a, doc_b)`,
  * `doc_a < doc_b`, iff
  *  - band `band` is the pair's FIRST agreeing non-hot band: the two
  *    signatures are equal on every position of that band, and no earlier
  *    band with its bit clear in `hotmask_a | hotmask_b` agrees (with a
  *    zero mask: `graft_first_equal_band(sig_a, sig_b, width) = band`);
  *  - and, for `minAgree > 0`, the signatures agree on at least `minAgree`
  *    positions (`graft_equal_positions`).
  * A pair colliding in k buckets therefore surfaces once, from its first
  * agreeing non-hot band, and a band-hash collision without signature
  * agreement never emits. Members sharing a `doc_id` never pair.
  *
  * Pairs stream from an iterator (the generator is interpreted, so
  * `GenerateExec` pulls them one at a time): memory is the bucket's
  * members — ids, signatures and masks, O(members · sig length) — never
  * its pair list. A bucket of f members still costs f(f−1)/2 pair checks,
  * each one pass over at most the signature. Null members, null
  * signatures or signatures of unequal length throw. */
case class BucketPairs(members: Expression, band: Expression,
                       width: Int, minAgree: Int)
    extends Generator with CodegenFallback with BinaryLike[Expression] {
  require(width >= 1, s"graft_bucket_pairs: width must be >= 1, got $width")

  override def left: Expression = members
  override def right: Expression = band
  override def prettyName: String = "graft_bucket_pairs"
  // interpreted on purpose: codegen'd GenerateExec drains a row's whole
  // output into the stage buffer, which would hold a bucket's pair list
  override def supportCodegen: Boolean = false

  override def elementSchema: StructType = StructType(Seq(
    StructField("doc_a", LongType, nullable = false),
    StructField("doc_b", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = {
    val okMembers = members.dataType match {
      case ArrayType(StructType(Array(
          StructField(_, LongType, _, _),
          StructField(_, ArrayType(LongType, _), _, _),
          StructField(_, LongType, _, _))), _) => true
      case _ => false
    }
    if (okMembers && band.dataType == IntegerType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<struct<bigint, array<bigint>, bigint>>, int), " +
        s"got (${members.dataType.simpleString}, ${band.dataType.simpleString})")
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val m = members.eval(input).asInstanceOf[ArrayData]
    val b = band.eval(input)
    if (m == null || b == null) return Iterator.empty
    pairs(m, b.asInstanceOf[Int])
  }

  def pairs(m: ArrayData, b: Int): Iterator[InternalRow] = {
    val n = m.numElements()
    val order = (0 until n).sortBy { k =>
      if (m.isNullAt(k))
        throw new IllegalArgumentException(s"$prettyName: null member at $k")
      m.getStruct(k, 3).getLong(0)
    }.toArray
    val ids = new Array[Long](n)
    val sigs = new Array[Array[Long]](n)
    val masks = new Array[Long](n)
    var k = 0
    while (k < n) {
      val s = m.getStruct(order(k), 3)
      if (s.isNullAt(1))
        throw new IllegalArgumentException(s"$prettyName: null signature for doc ${s.getLong(0)}")
      ids(k) = s.getLong(0)
      sigs(k) = s.getArray(1).toLongArray()
      masks(k) = s.getLong(2)
      if (sigs(k).length != sigs(0).length)
        throw new IllegalArgumentException(
          s"$prettyName: signature length mismatch ${sigs(0).length} vs ${sigs(k).length}")
      k += 1
    }
    new Iterator[InternalRow] {
      private var i = 0
      private var j = 0
      private var ready = false

      private def bandEq(x: Array[Long], y: Array[Long], band: Int): Boolean = {
        var p = band * width
        val end = p + width
        if (end > x.length) return false
        while (p < end && x(p) == y(p)) p += 1
        p == end
      }

      private def emits(a: Int, c: Int): Boolean = {
        if (ids(a) == ids(c)) return false
        val x = sigs(a); val y = sigs(c)
        val hot = masks(a) | masks(c)
        if (((hot >>> b) & 1L) != 0L || !bandEq(x, y, b)) return false
        var e = 0
        while (e < b) {
          if (((hot >>> e) & 1L) == 0L && bandEq(x, y, e)) return false
          e += 1
        }
        if (minAgree <= 0) return true
        var agree = 0; var p = 0
        while (p < x.length) { if (x(p) == y(p)) agree += 1; p += 1 }
        agree >= minAgree
      }

      // advance (i, j) to the next emitting pair, j > i in doc_id order
      private def seek(): Unit = {
        while (!ready && i < n - 1) {
          j += 1
          if (j >= n) { i += 1; j = i }
          else if (emits(i, j)) ready = true
        }
      }

      override def hasNext: Boolean = { seek(); ready }

      override def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException
        ready = false
        new GenericInternalRow(Array[Any](ids(i), ids(j)))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BucketPairs =
    copy(members = newLeft, band = newRight)
}
