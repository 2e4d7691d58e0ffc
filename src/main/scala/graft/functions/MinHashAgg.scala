package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass MinHash signature aggregate: for k seeded hash functions, the
  * running elementwise minimum of every token's hash.
  *
  * The composable form needs k separate `min(xxhash64(t, i))` aggregate
  * columns — k hash+min pipelines and a k-column row. This
  * TypedImperativeAggregate keeps one `Array[Long]` buffer, supports
  * partial aggregation (merge = elementwise min, commutative/associative →
  * partition-invariant), and emits the signature as a single array column.
  *
  * Hashes replicate `functions.xxhash64(t, lit(i))` exactly (seed 42,
  * child-chained), so for null-free token columns signatures are
  * bit-identical to the column form (spec-verified). NULL tokens are
  * SKIPPED here — the aggregate's semantic — whereas the column form's
  * xxhash64 folds a null child into a real hash; don't mix the two forms
  * over nullable token columns.
  */
case class MinHashSignature(child: Expression, numHashes: Int,
                            mutableAggBufferOffset: Int = 0,
                            inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_minhash expects a string token column, got ${child.dataType.simpleString}")

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(numHashes)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String]
      // xxhash64(t, lit(i)) = hash children left-to-right, chaining seeds;
      // the token hash is seed-independent of i — computed once per token.
      val h1 = XxHash64Function.hash(s, StringType, 42L)
      var i = 0
      while (i < numHashes) {
        val h = XxHash64Function.hash(i, IntegerType, h1)
        if (h < buf(i)) buf(i) = h
        i += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < numHashes) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * numHashes)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(numHashes)(bb.getLong)
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_minhash"

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashSignature =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashSignature =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** One-pass SimHash aggregate: per 64-bit position, the running vote sum
  * (+1 if the token hash has the bit set, -1 otherwise); eval folds the
  * vote signs into the final 64-bit signature. Replaces 64 separate
  * `sum(((h >> b) & 1) * 2 - 1)` aggregate columns with one buffer;
  * merge = elementwise add (commutative → partition-invariant). Token
  * hash replicates `functions.xxhash64(t)` (seed 42) exactly. */
case class SimHashSignature(child: Expression,
                            mutableAggBufferOffset: Int = 0,
                            inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_simhash expects a string token column, got ${child.dataType.simpleString}")

  override def createAggregationBuffer(): Array[Long] = new Array[Long](64)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = XxHash64Function.hash(v.asInstanceOf[UTF8String], StringType, 42L)
      var b = 0
      while (b < 64) {
        buf(b) += (((h >>> b) & 1L) * 2L - 1L)
        b += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < 64) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = {
    var sig = 0L
    var b = 0
    while (b < 64) { if (buf(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * 64)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(64)(bb.getLong)
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_simhash"

  override def withNewMutableAggBufferOffset(newOffset: Int): SimHashSignature =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SimHashSignature =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): SimHashSignature =
    copy(child = newChild)
}

/** In-row MinHash signature over one document's token-hash array: for k
  * seeded hash functions, the minimum over the row's elements. Every
  * token of a document lives in its own row, so the signature never
  * needed the explode → group-by(doc_id) → [[MinHashSignature]]
  * aggregate and its exchange; this computes it in place.
  *
  * The input elements are first-level token hashes, `xxhash64(t)` (seed
  * 42) — exactly the per-token hash [[MinHashSignature]] computes before
  * chaining the hash index — so over a non-empty distinct-token array
  * the signature is bit-identical to the aggregate's (spec-pinned,
  * multi-byte tokens included). Null elements are skipped, as the
  * aggregate skips null tokens. An empty array yields all
  * `Long.MaxValue` (the aggregate emits no row for a doc without tokens,
  * so callers drop empty rows first). */
case class MinHashOfHashes(child: Expression, numHashes: Int)
    extends UnaryExpression {
  require(numHashes >= 1, s"graft_minhash_row: numHashes must be >= 1, got $numHashes")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<bigint>, got ${dt.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_row"

  def compute(a: ArrayData): ArrayData = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var t = 0
    while (t < a.numElements()) {
      if (!a.isNullAt(t)) {
        val h1 = a.getLong(t)
        var i = 0
        while (i < numHashes) {
          // = XxHash64Function.hash(i, IntegerType, h1), unboxed
          val h = XXH64.hashInt(i, h1)
          if (h < sig(i)) sig(i) = h
          i += 1
        }
      }
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minHashOfHashes", this, classOf[MinHashOfHashes].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashAgg {
  /** Row Column: MinHash signature of an `array<bigint>` of token hashes
    * (see [[MinHashOfHashes]]). */
  def minhashOfHashes(hashes: Column, numHashes: Int): Column =
    Bridge.column(MinHashOfHashes(Bridge.expression(hashes), numHashes))

  /** Aggregate Column: 64-bit SimHash of the grouped token column. */
  def simhash(token: Column): Column =
    Bridge.column(SimHashSignature(Bridge.expression(token))
      .toAggregateExpression())
}
