package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** In-row n-gram kernels (r18). The token-frequency operators (BM25,
  * the perplexity ladder, the NB language model, TF-IDF, repetition)
  * all opened with the same shape: explode the doc's tokens to a
  * token-scale frame, then `groupBy(doc_id, gram…)` — a full exchange
  * of one row PER TOKEN whose only purpose is to count duplicates that
  * all live in the SAME input row. Every gram of a document sits in its
  * `words` array, so the (doc, gram) frequency table is a pure per-row
  * function: these kernels compute it in place and the operators
  * explode the already-counted rows — the token-scale Exchange
  * disappears from the plan, and every downstream aggregation sees one
  * row per DISTINCT (doc, gram) instead of one per occurrence
  * (guide §2.3 "aggregate before you shuffle" taken to its limit:
  * aggregate before the row even leaves the projection). */

/** Per-row n-gram frequency counts over an `array<string>` of tokens:
  * one `struct<w1…wn, tf>` per DISTINCT consecutive n-gram, counts over
  * the row's full token sequence, first-occurrence order (deterministic
  * per input; every consumer aggregates or joins, so order never
  * reaches a result). With `skipEmpty` (the default) grams containing
  * an EMPTY token are skipped — exactly the `filter(w =!= "")` most
  * explode-side consumers applied; `skipEmpty = false` counts them (the
  * repetitionScore semantics, where "" is a legal word). Null tokens
  * throw (split() never yields null; silently skipping one would shift
  * counts and mask an upstream bug). Rows with fewer than `n` tokens
  * yield an empty array, like the `size(w) >= n` guards the composable
  * forms carried. Bit-equal to
  * `explode → [filter →] groupBy(doc, gram…).count()` (spec-pinned). */
case class NGramCounts(child: Expression, n: Int, skipEmpty: Boolean = true)
    extends UnaryExpression {
  require(n >= 1 && n <= 8, s"graft_ngram_counts: n must be in [1,8], got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${dt.simpleString}")
  }
  override def dataType: DataType = ArrayType(
    StructType((1 to n).map(i => StructField(s"w$i", StringType, nullable = false)) :+
      StructField("tf", LongType, nullable = false)),
    containsNull = false)
  override def prettyName: String = "graft_ngram_counts"

  def compute(a: ArrayData): ArrayData = {
    import NGramCounts.Gram
    val len = a.numElements()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[UTF8String](len)
    var i = 0
    while (i < len) {
      if (a.isNullAt(i))
        throw new IllegalArgumentException(s"$prettyName: null token at $i")
      toks(i) = a.getUTF8String(i)
      i += 1
    }
    val m = new java.util.LinkedHashMap[AnyRef, Array[Long]]()
    i = 0
    while (i <= len - n) {
      var j = 0
      var ok = true
      while (ok && skipEmpty && j < n) { ok = toks(i + j).numBytes() > 0; j += 1 }
      if (ok) {
        val key: AnyRef =
          if (n == 1) toks(i) else new Gram(toks, i, n)
        val cell = m.get(key)
        if (cell == null) m.put(key, Array(1L)) else cell(0) += 1L
      }
      i += 1
    }
    val out = new Array[Any](m.size)
    val it = m.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      val vals = new Array[Any](n + 1)
      e.getKey match {
        case s: UTF8String => vals(0) = s
        case g: Gram =>
          var j = 0
          while (j < n) { vals(j) = g.toks(g.from + j); j += 1 }
      }
      vals(n) = e.getValue()(0)
      out(k) = new GenericInternalRow(vals)
      k += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])

  // the kernel stays one virtual call inside whole-stage codegen (the
  // child is still codegen'd; only the count loop is a method — unlike
  // CodegenFallback, which would re-evaluate the child interpreted)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nGramCounts", this, classOf[NGramCounts].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NGramCounts {
  // composite key over a gram's n token views; hash precomputed once
  private[functions] final class Gram(val toks: Array[UTF8String],
                                      val from: Int, val width: Int) {
    override val hashCode: Int = {
      var h = 1; var i = from
      while (i < from + width) { h = h * 31 + toks(i).hashCode; i += 1 }
      h
    }
    override def equals(o: Any): Boolean = o match {
      case g: Gram =>
        var i = 0
        var eq = g.width == width
        while (eq && i < width) {
          eq = toks(from + i).equals(g.toks(g.from + i)); i += 1
        }
        eq
      case _ => false
    }
  }
}

/** Per-row DISTINCT n-gram hash set over an `array<string>` of tokens —
  * the containment/shingle family's key kernel: each consecutive n-gram
  * hashes to one xxhash64 long (seed-chained over the tokens, exactly
  * `xxhash64(w1…wn)`), deduplicated and SORTED ascending. Replaces the
  * composable `array_distinct(transform(sequence…, i => concat_ws(" ",
  * element_at…)))` — which materialized every shingle as a fresh string
  * per position just to use it as a key — with one pass and zero string
  * building. Tokens come from a single-space `split`, so the
  * token-tuple ↔ joined-string map is a bijection and distinct hashes
  * equal distinct shingle STRINGS up to 64-bit collisions (the hashed
  * candidate-key collision class every hashed path here accepts; the
  * oracle re-verifies emitted values at both SFs). The sorted output
  * doubles as a [[JaccardSortedLongs]] payload. Empty tokens are
  * LEGAL gram members (the string form kept them too); null tokens
  * throw. Rows with fewer than `n` tokens yield an empty array. */
case class NGramHashes(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1 && n <= 16, s"graft_ngram_hashes: n must be in [1,16], got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${dt.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_ngram_hashes"

  def compute(a: ArrayData): ArrayData = {
    val len = a.numElements()
    if (len < n) return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    val nw = len - n + 1
    val hs = new Array[Long](nw)
    var i = 0
    while (i < nw) {
      var h = 42L
      var j = 0
      while (j < n) {
        if (a.isNullAt(i + j))
          throw new IllegalArgumentException(s"$prettyName: null token at ${i + j}")
        val t = a.getUTF8String(i + j)
        h = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(t.getBaseObject, t.getBaseOffset, t.numBytes(), h)
        j += 1
      }
      hs(i) = h
      i += 1
    }
    java.util.Arrays.sort(hs)
    var w = 1
    i = 1
    while (i < nw) {
      if (hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(hs, w))
  }

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nGramHashes", this, classOf[NGramHashes].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column-API entry points for the in-row n-gram and term-scoring kernels. */
object TermFunctions {
  def ngramCounts(tokens: Column, n: Int, skipEmpty: Boolean = true): Column =
    Bridge.column(NGramCounts(Bridge.expression(tokens), n, skipEmpty))

  def ngramHashes(tokens: Column, n: Int): Column =
    Bridge.column(NGramHashes(Bridge.expression(tokens), n))

  /** Generator: one document's `(query_id, score_micro)` sums over its
    * weighted postings and a per-task query-term index (see
    * [[TermScores]]). */
  def termScores(postings: Column, index: Column): Column =
    Bridge.column(TermScores(Bridge.expression(postings), Bridge.expression(index)))
}
