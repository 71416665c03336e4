package graft.operators

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.{HashingTF, RegexTokenizer}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** fastText-style linear text classifier — the quality/domain filter of
  * CCNet/RefinedWeb-class pipelines (e.g. "looks like Wikipedia" vs "looks
  * like spam"), here built from Spark ML's own estimators rather than an
  * external binary: whitespace tokens → hashed bag-of-words (optionally
  * with bigrams) → logistic regression.
  *
  * Scale shape:
  *  - TRAINING is the only iterative part — L-BFGS runs `maxIter` bounded
  *    passes, each a map-side-combined `treeAggregate` of gradients (one
  *    dense `numFeatures` vector per partition, no per-row shuffle).
  *    Like the k-means fits in [[Similarity]], the fit input is bounded to
  *    `trainRows` by sampling: a linear filter converges long before
  *    billions of examples, so the 100 TB corpus never feeds the
  *    optimizer directly.
  *  - SCORING is a narrow per-row projection (tokenize → hash → one
  *    sparse-dot against the broadcast coefficient vector) — no shuffle,
  *    pipelines over the full corpus at scan speed.
  *
  * The label column is caller-supplied (0.0/1.0): weak labels from
  * heuristics ([[TextAnalysis]] quality scores, known-domain seeds) are
  * the standard bootstrap.
  */
object QualityClassifier {

  /** Train on `df(textCol, labelCol)`; returns the fitted pipeline.
    * Deterministic given the same input split layout (hashing is seedless;
    * L-BFGS from a zero start has no random state).
    */
  def train(
      df: DataFrame,
      textCol: String,
      labelCol: String,
      numFeatures: Int = 1 << 15,
      maxIter: Int = 30,
      regParam: Double = 1e-4,
      trainRows: Long = 1000000L,
      seed: Long = 42L): PipelineModel = {
    val n = df.count()
    val bounded =
      if (n <= trainRows) df
      else df.sample(withReplacement = false, trainRows.toDouble / n, seed)
    val tok = new RegexTokenizer()
      .setInputCol(textCol).setOutputCol("__qc_toks")
      .setPattern("\\s+").setToLowercase(true)
    val tf = new HashingTF()
      .setInputCol("__qc_toks").setOutputCol("__qc_feat")
      .setNumFeatures(numFeatures)
    val lr = new LogisticRegression()
      .setFeaturesCol("__qc_feat").setLabelCol(labelCol)
      .setMaxIter(maxIter).setRegParam(regParam)
      .setPredictionCol("__qc_pred")
      .setProbabilityCol("__qc_prob")
      .setRawPredictionCol("__qc_raw")
    new Pipeline().setStages(Array(tok, tf, lr)).fit(bounded)
  }

  /** Score: adds `quality_prob` (P(label=1)) and `quality_pred` (0/1) to
    * the input rows; every other input column passes through. Narrow.
    */
  def score(model: PipelineModel, df: DataFrame): DataFrame = {
    import org.apache.spark.ml.functions.vector_to_array
    model.transform(df)
      .withColumn("quality_prob",
        element_at(vector_to_array(col("__qc_prob")), 2))
      .withColumn("quality_pred", col("__qc_pred"))
      .drop("__qc_toks", "__qc_feat", "__qc_raw", "__qc_prob", "__qc_pred")
  }

  /** Train-then-filter convenience: keep rows the trained filter scores
    * at or above `minProb`.
    */
  def filterByQuality(
      model: PipelineModel, df: DataFrame, minProb: Double): DataFrame =
    score(model, df).where(col("quality_prob") >= minProb)

  /** Holdout evaluation: (n, accuracy, meanProbPos, meanProbNeg) over a
    * labeled frame — the accept/reject evidence for a weak-label filter
    * before pointing it at the corpus.
    */
  def evaluate(
      model: PipelineModel, df: DataFrame, labelCol: String): DataFrame =
    score(model, df).agg(
      count(lit(1)).as("n"),
      avg((col("quality_pred") === col(labelCol)).cast("double"))
        .as("accuracy"),
      avg(when(col(labelCol) === 1.0, col("quality_prob"))).as("mean_prob_pos"),
      avg(when(col(labelCol) === 0.0, col("quality_prob"))).as("mean_prob_neg"))
}
