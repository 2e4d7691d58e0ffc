package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{JaccardSortedLongs, MinHashSignature, NGramCounts,
  NGramHashes, SimHashSignature}

/** Plain timed loops over the public text kernels, run on the driver
  * thread against the documents corpus (tokenized and converted once,
  * before any timing). Each kernel repeats over the whole corpus until
  * `budgetNs` is spent and reports the median ns per row (per pair for
  * Jaccard) of the repetitions in the second half, after the JIT has
  * compiled the loop. */
object Kernels {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; s(s.length / 2)
  }

  private def time(rows: Int, budgetNs: Long)(body: => Unit): Double = {
    val reps = Seq.newBuilder[Double]
    val t0 = System.nanoTime()
    var n = 0
    while (n < 6 || System.nanoTime() - t0 < budgetNs) {
      val s = System.nanoTime(); body
      reps += (System.nanoTime() - s).toDouble / rows; n += 1
    }
    val all = reps.result()
    median(all.drop(all.length / 2))
  }

  @volatile private var sink: Long = 0L

  def run(spark: SparkSession, data: String, budgetNs: Long): Map[String, Double] = {
    val texts = graft.sources.Tables.documents(spark, data)
      .orderBy("doc_id").select("text").collect().map(_.getString(0))
    val tokens: Array[Array[UTF8String]] =
      texts.map(_.split(" ").map(UTF8String.fromString))
    val arrays: Array[ArrayData] = tokens.map(t => new GenericArrayData(t.toArray[Any]))
    val tokRows: Array[Array[InternalRow]] = tokens.map(_.map(t => InternalRow(t)))
    val strArr = BoundReference(0, ArrayType(StringType, containsNull = false), nullable = false)
    val str = BoundReference(0, StringType, nullable = true)
    val counts = NGramCounts(strArr, 2)
    val hashes = NGramHashes(strArr, 3)
    val shingles: Array[ArrayData] = arrays.map(hashes.compute)
    val jac = JaccardSortedLongs(strArr, strArr)
    val minhash = MinHashSignature(str, 64)
    val simhash = SimHashSignature(str)
    val rows = arrays.length
    val pairs = rows - 1

    val maxDistinct = arrays.map(a => counts.compute(a).numElements()).max
    Map(
      "functions.ngram_counts.ns_per_row" -> time(rows, budgetNs) {
        var i = 0; while (i < rows) { sink += counts.compute(arrays(i)).numElements(); i += 1 }
      },
      "functions.ngram_hashes.ns_per_row" -> time(rows, budgetNs) {
        var i = 0; while (i < rows) { sink += hashes.compute(arrays(i)).numElements(); i += 1 }
      },
      "functions.jaccard_sorted.ns_per_pair" -> time(pairs, budgetNs) {
        var i = 0
        while (i < pairs) {
          sink += jac.nullSafeEval(shingles(i), shingles(i + 1)).asInstanceOf[Double].toLong
          i += 1
        }
      },
      "functions.minhash_sig.ns_per_row" -> time(rows, budgetNs) {
        var i = 0
        while (i < rows) {
          var buf = minhash.createAggregationBuffer()
          tokRows(i).foreach(r => buf = minhash.update(buf, r))
          sink += buf(0); i += 1
        }
      },
      "functions.simhash_sig.ns_per_row" -> time(rows, budgetNs) {
        var i = 0
        while (i < rows) {
          var buf = simhash.createAggregationBuffer()
          tokRows(i).foreach(r => buf = simhash.update(buf, r))
          sink += simhash.eval(buf).asInstanceOf[Long]; i += 1
        }
      },
      "functions.ngram_counts.max_row_distinct" -> maxDistinct.toDouble,
      "functions.rows" -> rows.toDouble)
  }
}
