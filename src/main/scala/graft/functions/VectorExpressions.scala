package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, StringType}
import org.apache.spark.sql.SparkSessionExtensions

/** Shared analysis-time input validation for the binary native expressions
  * (ExpectsInputTypes is `private[sql]`, so the check is hand-rolled):
  * wrong-typed SQL input fails analysis instead of producing garbage
  * (e.g. `toFloatArray` over an `array<double>` would reinterpret bytes). */
trait BinaryTypedInputs { self: BinaryExpression =>
  def expectedElementType: DataType
  private def ok(dt: DataType): Boolean = dt match {
    case ArrayType(et, _) => et == expectedElementType // containsNull-agnostic
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two array<${expectedElementType.simpleString}> " +
          s"arguments, got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
}

/** Fused cosine similarity over two float-vector columns.
  *
  * The composable alternative — `aggregate(zip_with(a,b,*),...)` for the dot
  * product plus two more aggregates for the norms — walks each array three
  * times through non-codegen higher-order lambdas. This expression is one
  * primitive loop with whole-stage codegen: dot and both norms accumulate
  * in doubles in a single pass (left-to-right, so results are deterministic
  * and partition-invariant).
  *
  * Error semantics: mismatched dimensions throw (silent truncation would
  * return confident nonsense after a schema drift); zero-norm, empty, or
  * NaN-polluted vectors yield 0.0 — never NaN, which would outrank every
  * row under a desc sort and pass every `>= threshold` filter.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with BinaryTypedInputs {

  override def expectedElementType: DataType = FloatType
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData].toFloatArray()
    val y = b.asInstanceOf[ArrayData].toFloatArray()
    if (x.length != y.length)
      throw new IllegalArgumentException(
        s"graft_cosine: dimension mismatch ${x.length} vs ${y.length}")
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < x.length) {
      val xi = x(i).toDouble; val yi = y(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    val r = dot / (math.sqrt(nx) * math.sqrt(ny))
    if (java.lang.Double.isNaN(r)) 0.0 else r
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny"); val i = ctx.freshName("i")
      val r = ctx.freshName("r")
      s"""
        float[] $x = $a.toFloatArray();
        float[] $y = $b.toFloatArray();
        if ($x.length != $y.length) {
          throw new IllegalArgumentException(
            "graft_cosine: dimension mismatch " + $x.length + " vs " + $y.length);
        }
        double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
        for (int $i = 0; $i < $x.length; $i++) {
          double xi = (double) $x[$i]; double yi = (double) $y[$i];
          $dot += xi * yi; $nx += xi * xi; $ny += yi * yi;
        }
        double $r = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
        ${ev.value} = java.lang.Double.isNaN($r) ? 0.0 : $r;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Set Jaccard similarity |A∩B| / |A∪B| over two string arrays.
  *
  * The composable form — `size(array_intersect(a,b)) /
  * size(array_union(a,b))` — walks both arrays twice and materializes two
  * intermediate arrays per row just to take their sizes. This expression
  * computes true SET semantics in one pass with two hash sets, so inputs
  * with duplicate elements are handled correctly (a naive
  * |A|+|B|-matches union would yield similarities above 1.0). */
case class JaccardSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with BinaryTypedInputs {

  override def expectedElementType: DataType = StringType
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jaccard"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val setA = new java.util.HashSet[Any](x.numElements() * 2)
    var i = 0
    while (i < x.numElements()) { setA.add(x.getUTF8String(i)); i += 1 }
    val setB = new java.util.HashSet[Any](y.numElements() * 2)
    var inter = 0
    i = 0
    while (i < y.numElements()) {
      val e = y.getUTF8String(i)
      if (setB.add(e) && setA.contains(e)) inter += 1
      i += 1
    }
    val union = setA.size + setB.size - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val setA = ctx.freshName("setA"); val setB = ctx.freshName("setB")
      val i = ctx.freshName("i"); val e = ctx.freshName("e")
      val inter = ctx.freshName("inter"); val union = ctx.freshName("union")
      s"""
        java.util.HashSet<Object> $setA = new java.util.HashSet<Object>($a.numElements() * 2);
        for (int $i = 0; $i < $a.numElements(); $i++) {
          $setA.add($a.getUTF8String($i));
        }
        java.util.HashSet<Object> $setB = new java.util.HashSet<Object>($b.numElements() * 2);
        int $inter = 0;
        for (int $i = 0; $i < $b.numElements(); $i++) {
          Object $e = $b.getUTF8String($i);
          if ($setB.add($e) && $setA.contains($e)) $inter++;
        }
        int $union = $setA.size() + $setB.size() - $inter;
        ${ev.value} = ($union == 0) ? 0.0 : ((double) $inter) / $union;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Set-Jaccard over two SORTED `array<bigint>` columns (duplicates
  * allowed — the merge walk counts each distinct value once): the verify
  * kernel of the minhash family at its 100 TB shape. [[JaccardSimilarity]]
  * over word strings builds two hash sets and hashes every word PER PAIR
  * — with millions of candidate pairs each word string is re-hashed
  * millions of times. Hashing each document's words ONCE (xxhash64 per
  * word, sorted) turns the per-pair verify into a branch-predictable
  * O(|a|+|b|) merge walk over primitive longs, no allocation, no
  * hashing. Jaccard over the hashed word sets equals Jaccard over the
  * word sets themselves unless two distinct words of a pair collide in
  * 64 bits (~2⁻⁶⁴ per vocabulary pair — the same collision class every
  * hashed candidate path here already accepts; the oracle gate
  * re-verifies the emitted values at both SFs). A NULL ARRAY yields
  * NULL (the usual null-in/null-out); a NULL ELEMENT is rejected with an
  * IllegalArgumentException naming the side and index — a sorted hash
  * set has no null member, and getLong on a null slot would read
  * whatever bits sit there and return a silently wrong similarity. The
  * element check runs only for inputs whose static type allows nulls
  * (`containsNull`): the minhash and shingle payloads
  * (sort_array(transform(words, xxhash64)), graft_ngram_hashes) are
  * typed null-free, so the verify's hot path pays nothing for it. */
case class JaccardSortedLongs(left: Expression, right: Expression)
    extends BinaryExpression with BinaryTypedInputs {

  override def expectedElementType: DataType = LongType
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jaccard_sorted"

  private def mayHoldNull(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  }
  private lazy val checkLeft = mayHoldNull(left)
  private lazy val checkRight = mayHoldNull(right)

  def rejectNulls(a: ArrayData, side: String): Unit = {
    var i = 0
    while (i < a.numElements()) {
      if (a.isNullAt(i))
        throw new IllegalArgumentException(
          s"$prettyName: null element at index $i of the $side array " +
            "(inputs must be null-free sorted hash arrays)")
      i += 1
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (checkLeft) rejectNulls(x, "left")
    if (checkRight) rejectNulls(y, "right")
    JaccardSortedLongs.walk(x, y)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      lazy val ref = ctx.addReferenceObj("jaccardSorted", this,
        classOf[JaccardSortedLongs].getName)
      val guard =
        (if (checkLeft) s"""$ref.rejectNulls($a, "left");\n""" else "") +
        (if (checkRight) s"""$ref.rejectNulls($b, "right");\n""" else "")
      s"""
        $guard
        ${ev.value} = ${classOf[JaccardSortedLongs].getName}.walk($a, $b);
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object JaccardSortedLongs {
  /** The merge walk behind both `eval` and codegen (a static call from
    * the generated code). `a` and `b` hold the current distinct value of
    * each side: each element is read once, a run of equal values is
    * skipped as it is read, and nothing is allocated. `x` and `y` are
    * sorted and null-free. */
  def walk(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements(); val m = y.numElements()
    var i = 0; var j = 0
    var inter = 0; var union = 0
    var a = if (n > 0) x.getLong(0) else 0L
    var b = if (m > 0) y.getLong(0) else 0L
    while (i < n && j < m) {
      union += 1
      if (a < b) {
        val v = a; i += 1; while (i < n && { a = x.getLong(i); a == v }) i += 1
      } else if (b < a) {
        val v = b; j += 1; while (j < m && { b = y.getLong(j); b == v }) j += 1
      } else {
        inter += 1
        val v = a
        i += 1; while (i < n && { a = x.getLong(i); a == v }) i += 1
        j += 1; while (j < m && { b = y.getLong(j); b == v }) j += 1
      }
    }
    // one side is spent: the other's distinct tail joins the union
    while (i < n) { union += 1; val v = a; i += 1; while (i < n && { a = x.getLong(i); a == v }) i += 1 }
    while (j < m) { union += 1; val v = b; j += 1; while (j < m && { b = y.getLong(j); b == v }) j += 1 }
    if (union == 0) 0.0 else inter.toDouble / union
  }
}

/** Index of the first length-`width` aligned block ("band") on which the two
  * `array<bigint>` MinHash signatures agree on EVERY position; -1 if none.
  *
  * This is the exactly-once trick for LSH candidate generation: a pair
  * colliding in k of b bands surfaces k times from the band-bucket join, and
  * a `dropDuplicates` to fix that re-shuffles the RAW pair set — the largest
  * frame in the whole pipeline (10.1 M rows vs 4.1 M distinct at sf0.1).
  * Keeping only the row whose band_idx equals the first agreeing band is a
  * map-side filter: exactly one row per pair survives, no exchange. Costs
  * carrying the signature on the banded frame (numHashes longs per doc-band
  * row) — bounded and tiny next to the pair set precisely when the pair set
  * is big enough for the dedup shuffle to hurt. */
case class FirstEqualBand(left: Expression, right: Expression, width: Int)
    extends BinaryExpression with BinaryTypedInputs {
  require(width >= 1, s"graft_first_equal_band: width must be >= 1, got $width")

  override def expectedElementType: DataType = LongType
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "graft_first_equal_band"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements())
      throw new IllegalArgumentException(
        s"$prettyName: length mismatch $n vs ${y.numElements()}")
    var band = 0
    while ((band + 1) * width <= n) {
      var j = band * width
      while (j < (band + 1) * width && x.getLong(j) == y.getLong(j)) j += 1
      if (j == (band + 1) * width) return band
      band += 1
    }
    -1
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val band = ctx.freshName("band")
      val j = ctx.freshName("j"); val res = ctx.freshName("res")
      s"""
        int $n = $a.numElements();
        if ($n != $b.numElements()) {
          throw new IllegalArgumentException(
            "graft_first_equal_band: length mismatch " + $n + " vs " + $b.numElements());
        }
        int $res = -1;
        for (int $band = 0; $res < 0 && ($band + 1) * $width <= $n; $band++) {
          int $j = $band * $width;
          while ($j < ($band + 1) * $width && $a.getLong($j) == $b.getLong($j)) $j++;
          if ($j == ($band + 1) * $width) $res = $band;
        }
        ${ev.value} = $res;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Number of positions on which two equal-length `array<bigint>` columns
  * agree — over MinHash signatures this estimates Jaccard as n_equal/k
  * (unbiased, sd sqrt(J(1-J)/k)), making it the standard pre-verify screen:
  * candidates whose estimate sits hopelessly below the threshold skip the
  * payload joins and the exact set verify entirely. */
case class EqualPositions(left: Expression, right: Expression)
    extends BinaryExpression with BinaryTypedInputs {

  override def expectedElementType: DataType = LongType
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "graft_equal_positions"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements())
      throw new IllegalArgumentException(
        s"$prettyName: length mismatch $n vs ${y.numElements()}")
    var c = 0; var i = 0
    while (i < n) { if (x.getLong(i) == y.getLong(i)) c += 1; i += 1 }
    c
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      s"""
        int $n = $a.numElements();
        if ($n != $b.numElements()) {
          throw new IllegalArgumentException(
            "graft_equal_positions: length mismatch " + $n + " vs " + $b.numElements());
        }
        int $c = 0;
        for (int $i = 0; $i < $n; $i++) {
          if ($a.getLong($i) == $b.getLong($i)) $c++;
        }
        ${ev.value} = $c;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The k smallest elements of an `array<bigint>`, ascending — the winnowing
  * fingerprint selector. `slice(array_sort(a), 1, k)` sorts the WHOLE array
  * (O(n log n) + a full copy per row) to keep 4 values; this is one
  * insertion pass over a k-slot buffer, O(n·k) with k tiny, no allocation
  * beyond the k-slot result. Null elements throw (upstream hashes are
  * never null; silently dropping one would shift the selection). */
case class ArrayKMin(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1 && k <= 1024, s"graft_array_kmin: k must be in [1,1024], got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<bigint>, got ${dt.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_array_kmin"

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val m = math.min(k, n)
    val out = new Array[Long](m)
    var size = 0
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i))
        throw new IllegalArgumentException(s"$prettyName: null element at $i")
      val v = arr.getLong(i)
      if (size < m) {
        var j = size - 1
        size += 1
        while (j >= 0 && out(j) > v) { out(j + 1) = out(j); j -= 1 }
        out(j + 1) = v
      } else if (v < out(m - 1)) {
        var j = m - 2
        while (j >= 0 && out(j) > v) { out(j + 1) = out(j); j -= 1 }
        out(j + 1) = v
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val out = ctx.freshName("out"); val size = ctx.freshName("size")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val v = ctx.freshName("v")
      s"""
        int $n = $a.numElements();
        int $m = java.lang.Math.min($k, $n);
        long[] $out = new long[$m];
        int $size = 0;
        for (int $i = 0; $i < $n; $i++) {
          if ($a.isNullAt($i)) {
            throw new IllegalArgumentException("graft_array_kmin: null element at " + $i);
          }
          long $v = $a.getLong($i);
          if ($size < $m) {
            int $j = $size - 1;
            $size++;
            for (; $j >= 0 && $out[$j] > $v; $j--) $out[$j + 1] = $out[$j];
            $out[$j + 1] = $v;
          } else if ($v < $out[$m - 1]) {
            int $j = $m - 2;
            for (; $j >= 0 && $out[$j] > $v; $j--) $out[$j + 1] = $out[$j];
            $out[$j + 1] = $v;
          }
        }
        ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
      """
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-row sliding-window minimum over an `array<bigint>`: out(i) =
  * min(in(i) .. in(min(i+width, n)-1)), window clamped at the tail.
  *
  * This is the winnowing selection kernel (SIGMOD'03): applied to the
  * sliding-window hashes of a document it yields the selected fingerprints
  * WITHOUT leaving the row — the composable alternatives both lose badly:
  * `transform(positions, j => array_min(slice(hashes, j, w)))` re-evaluates
  * the whole hash array per position (HOF lambdas get no subexpression
  * elimination — measured 450µs/position), and posexplode + a rows-between
  * min window function shuffles every (pos, hash) row just to come back to
  * one row per selection. One O(n·width) primitive loop, whole-stage
  * codegen, zero exchanges.
  *
  * Null array elements throw (a null hash is an upstream bug; silently
  * skipping it would shift selections and mask it). */
case class SlidingMin(child: Expression, width: Int) extends UnaryExpression {
  require(width >= 1, s"graft_sliding_min: width must be >= 1, got $width")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<bigint>, got ${dt.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_sliding_min"

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i))
        throw new IllegalArgumentException(s"$prettyName: null element at $i")
      val v = arr.getLong(i)
      // extend preceding windows still covering position i
      var j = math.max(0, i - width + 1)
      while (j < i) { if (v < out(j)) out(j) = v; j += 1 }
      out(i) = v
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val out = ctx.freshName("out")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val v = ctx.freshName("v")
      s"""
        int $n = $a.numElements();
        long[] $out = new long[$n];
        for (int $i = 0; $i < $n; $i++) {
          if ($a.isNullAt($i)) {
            throw new IllegalArgumentException("graft_sliding_min: null element at " + $i);
          }
          long $v = $a.getLong($i);
          for (int $j = java.lang.Math.max(0, $i - ${width - 1}); $j < $i; $j++) {
            if ($v < $out[$j]) $out[$j] = $v;
          }
          $out[$i] = $v;
        }
        ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
      """
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** All sliding-window xxhash64 fingerprints of a string in ONE pass —
  * out(i) = xxhash64(substr(text, i+1, window)) for every full window,
  * bit-identical to the composable
  * `transform(sequence(1, len-window+1), i => xxhash64(substr(text,i,w)))`
  * (spec-pinned): xxhash64 of a substring depends only on its BYTES, so
  * hashing each window's byte range in place over the parent string's
  * buffer gives the same 64-bit values with ZERO per-window allocation —
  * the composable form copies `window` chars into a fresh UTF8String per
  * position (O(len·window) bytes of garbage per document; the dominant
  * per-task cost of the fingerprint family at corpus scale). One
  * code-point offset walk handles multi-byte UTF-8 exactly like
  * `substr`'s code-point addressing. Strings shorter than `window`
  * yield an empty array (the callers' `length >= window` filter makes
  * that unreachable, but the kernel states it anyway). */
case class WindowHashes(child: Expression, window: Int)
    extends UnaryExpression {
  require(window >= 1 && window <= (1 << 20),
    s"graft_window_hashes: window must be in [1, 2^20], got $window")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${dt.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_window_hashes"

  override def nullSafeEval(a: Any): Any = {
    val s = a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val nb = s.numBytes()
    val nc = s.numChars()
    if (nc < window) UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    else {
      // byte offset of each code-point start (+ the end sentinel), the
      // same walk numChars()/substringSQL take
      val starts = new Array[Int](nc + 1)
      var ci = 0
      var bi = 0
      while (bi < nb && ci < nc) {
        starts(ci) = bi
        bi += org.apache.spark.unsafe.types.UTF8String.numBytesForFirstByte(
          org.apache.spark.unsafe.Platform.getByte(base, off + bi))
        ci += 1
      }
      while (ci <= nc) { starts(ci) = nb; ci += 1 }
      val nw = nc - window + 1
      val out = new Array[Long](nw)
      var i = 0
      while (i < nw) {
        out(i) = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(base, off + starts(i),
            starts(i + window) - starts(i), 42L)
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val base = ctx.freshName("base"); val off = ctx.freshName("off")
      val nb = ctx.freshName("nb"); val nc = ctx.freshName("nc")
      val starts = ctx.freshName("starts"); val ci = ctx.freshName("ci")
      val bi = ctx.freshName("bi"); val nw = ctx.freshName("nw")
      val out = ctx.freshName("out"); val i = ctx.freshName("i")
      s"""
        Object $base = $a.getBaseObject();
        long $off = $a.getBaseOffset();
        int $nb = $a.numBytes();
        int $nc = $a.numChars();
        long[] $out;
        if ($nc < $window) {
          $out = new long[0];
        } else {
          int[] $starts = new int[$nc + 1];
          int $ci = 0;
          int $bi = 0;
          while ($bi < $nb && $ci < $nc) {
            $starts[$ci] = $bi;
            $bi += org.apache.spark.unsafe.types.UTF8String.numBytesForFirstByte(
              org.apache.spark.unsafe.Platform.getByte($base, $off + $bi));
            $ci++;
          }
          while ($ci <= $nc) { $starts[$ci] = $nb; $ci++; }
          int $nw = $nc - $window + 1;
          $out = new long[$nw];
          for (int $i = 0; $i < $nw; $i++) {
            $out[$i] = org.apache.spark.sql.catalyst.expressions.XXH64
              .hashUnsafeBytes($base, $off + $starts[$i],
                $starts[$i + $window] - $starts[$i], 42L);
          }
        }
        ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
      """
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column-API entry points for the graft native expressions. */
object VectorFunctions {
  def windowHashes(text: Column, window: Int): Column =
    Bridge.column(WindowHashes(Bridge.expression(text), window))

  def cosine(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarity(Bridge.expression(a), Bridge.expression(b)))

  def jaccard(a: Column, b: Column): Column =
    Bridge.column(JaccardSimilarity(Bridge.expression(a), Bridge.expression(b)))

  def jaccardSortedLongs(a: Column, b: Column): Column =
    Bridge.column(JaccardSortedLongs(Bridge.expression(a), Bridge.expression(b)))

  def slidingMin(a: Column, width: Int): Column =
    Bridge.column(SlidingMin(Bridge.expression(a), width))

  def arrayKMin(a: Column, k: Int): Column =
    Bridge.column(ArrayKMin(Bridge.expression(a), k))

  def firstEqualBand(a: Column, b: Column, width: Int): Column =
    Bridge.column(FirstEqualBand(Bridge.expression(a), Bridge.expression(b), width))

  def equalPositions(a: Column, b: Column): Column =
    Bridge.column(EqualPositions(Bridge.expression(a), Bridge.expression(b)))

  /** Generator: a band bucket's exactly-once `(doc_a, doc_b)` LSH pairs
    * (see [[BucketPairs]]). */
  def bucketPairs(members: Column, band: Column, width: Int, minAgree: Int): Column =
    Bridge.column(BucketPairs(Bridge.expression(members), Bridge.expression(band),
      width, minAgree))
}

/** Session extension registering the native functions for SQL users:
  * `spark.sql.extensions=graft.functions.GraftExtensions` →
  * `SELECT graft_cosine(a.embedding, b.embedding) ...`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  private def arity2(name: String, children: Seq[Expression]): Unit =
    require(children.size == 2,
      s"$name requires exactly 2 arguments, got ${children.size}")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (children: Seq[Expression]) => {
        arity2("graft_cosine", children)
        CosineSimilarity(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_jaccard"),
      new ExpressionInfo(classOf[JaccardSimilarity].getName, "graft_jaccard"),
      (children: Seq[Expression]) => {
        arity2("graft_jaccard", children)
        JaccardSimilarity(children.head, children(1))
      }))
    def litInt(name: String, e: Expression): Int = e match {
      case l if l.foldable && l.dataType == org.apache.spark.sql.types.IntegerType =>
        l.eval().asInstanceOf[Int]
      case other => throw new IllegalArgumentException(
        s"$name: expected an int literal, got $other")
    }
    ext.injectFunction((
      new FunctionIdentifier("graft_array_kmin"),
      new ExpressionInfo(classOf[ArrayKMin].getName, "graft_array_kmin"),
      (children: Seq[Expression]) => {
        arity2("graft_array_kmin", children)
        ArrayKMin(children.head, litInt("graft_array_kmin", children(1)))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_fix_mojibake"),
      new ExpressionInfo(classOf[FixMojibake].getName, "graft_fix_mojibake"),
      (children: Seq[Expression]) => {
        require(children.size == 1,
          s"graft_fix_mojibake requires exactly 1 argument, got ${children.size}")
        FixMojibake(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
      (children: Seq[Expression]) => {
        require(children.size == 1,
          s"graft_nfc requires exactly 1 argument, got ${children.size}")
        NfcNormalize(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_equal_positions"),
      new ExpressionInfo(classOf[EqualPositions].getName, "graft_equal_positions"),
      (children: Seq[Expression]) => {
        arity2("graft_equal_positions", children)
        EqualPositions(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_first_equal_band"),
      new ExpressionInfo(classOf[FirstEqualBand].getName, "graft_first_equal_band"),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          s"graft_first_equal_band requires exactly 3 arguments, got ${children.size}")
        FirstEqualBand(children.head, children(1),
          litInt("graft_first_equal_band", children(2)))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_sliding_min"),
      new ExpressionInfo(classOf[SlidingMin].getName, "graft_sliding_min"),
      (children: Seq[Expression]) => {
        arity2("graft_sliding_min", children)
        val w = children(1) match {
          case e if e.foldable && e.dataType == org.apache.spark.sql.types.IntegerType =>
            e.eval().asInstanceOf[Int]
          case e => throw new IllegalArgumentException(
            s"graft_sliding_min: width must be an int literal, got $e")
        }
        SlidingMin(children.head, w)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_ngram_counts"),
      new ExpressionInfo(classOf[NGramCounts].getName, "graft_ngram_counts"),
      (children: Seq[Expression]) => {
        arity2("graft_ngram_counts", children)
        NGramCounts(children.head, litInt("graft_ngram_counts", children(1)))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_ngram_hashes"),
      new ExpressionInfo(classOf[NGramHashes].getName, "graft_ngram_hashes"),
      (children: Seq[Expression]) => {
        arity2("graft_ngram_hashes", children)
        NGramHashes(children.head, litInt("graft_ngram_hashes", children(1)))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_heavy_hitters"),
      new ExpressionInfo(classOf[MisraGriesSummary].getName, "graft_heavy_hitters"),
      (children: Seq[Expression]) => {
        arity2("graft_heavy_hitters", children)
        MisraGriesSummary(children.head,
          litInt("graft_heavy_hitters", children(1))).toAggregateExpression()
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_cms"),
      new ExpressionInfo(classOf[CountMinSketch].getName, "graft_cms"),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          s"graft_cms requires exactly 3 arguments (item, depth, width), got ${children.size}")
        CountMinSketch(children.head, litInt("graft_cms", children(1)),
          litInt("graft_cms", children(2))).toAggregateExpression()
      }))
    // whole-operator extension: plans graft.plans.TopKPerKey logical nodes
    ext.injectPlannerStrategy(_ => graft.plans.GraftStrategy)
  }
}
