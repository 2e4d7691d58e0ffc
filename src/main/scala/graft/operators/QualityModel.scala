package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.util.Det.round4

/** Model-based quality filtering — the classifier stage of the public
  * pretraining pipelines (GPT-3 appendix A / CCNet use a linear model over
  * a high-quality reference corpus; the heuristics in
  * [[TextAnalysis.qualityScore]] are the feature extractors). Training is
  * distributed (MLlib LBFGS — partial gradients tree-aggregate, nothing
  * per-row on the driver) and scoring is a broadcast of the coefficient
  * vector into a scan-bound projection.
  *
  * Weak supervision here: labels come from the structural heuristic gate on
  * a TRAIN SPLIT (doc_id % 5 != 0), the model scores EVERY doc, and the
  * held-out fifth measures generalization (spec-bounded accuracy). Swap the
  * label frame for "sampled from a trusted corpus vs not" to reproduce the
  * published setup — the plumbing is identical. */
object QualityModel {

  /** (doc_id, quality_prob, predicted_ok) for every document. */
  def qualityClassifier(documents: DataFrame, seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.feature.VectorAssembler
    val feats = TextAnalysis.qualityScore(documents)
      .select(col("doc_id"),
        col("n_chars_actual").cast("double").as("f_len"),
        col("n_words").cast("double").as("f_words"),
        col("avg_word_len"), col("punct_ratio"), col("digit_ratio"),
        col("stopword_ratio"),
        (col("quality_flag") === "ok").cast("double").as("label"))
    val assembler = new VectorAssembler()
      .setInputCols(Array("f_len", "f_words", "avg_word_len", "punct_ratio",
        "digit_ratio", "stopword_ratio"))
      .setOutputCol("features").setHandleInvalid("skip")
    val assembled = assembler.transform(feats)
    val train = assembled.filter(col("doc_id") % 5 =!= 0)
    // 10 LBFGS iterations converge on this near-separable objective; each
    // iteration is a full tree-aggregate pass, so the cap is the cost knob
    val lr = new LogisticRegression().setMaxIter(10).setRegParam(0.01)
      .setStandardization(true)
    val model = lr.fit(train)
    val prob1 = org.apache.spark.ml.functions.vector_to_array(col("probability"))(1)
    model.transform(assembled)
      .select(col("doc_id"), round4(prob1).as("quality_prob"),
        (col("prediction") === 1.0).as("predicted_ok"))
  }
}
