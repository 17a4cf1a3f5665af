package graft.train

import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}

import graft.eval.F1
import graft.model.LangIdModel
import graft.score.Scorer
import graft.text.{Normalize, TokenMatcher}

/** Spark-native training of the substring-feature linear language model.
  *
  * Mirrors the reference's training lifecycle
  * (`/root/reference/train_model.py:70-172`) as distributed plans:
  * stratified deterministic split → feature extraction (one-pass
  * Aho–Corasick, never 700 boolean columns — SURVEY.md §7.4.5) →
  * multinomial logistic regression with balanced class weights
  * (spark.ml, the distributed analog of sklearn's
  * class_weight="balanced") → macro-F1 on the holdout → model export in
  * the reference's JSON schema, importance-reordered.
  */
object Trainer {

  final case class TrainResult(
      model: LangIdModel,
      macroF1: Double,
      nTrain: Long,
      nVal: Long,
  )

  /** Extract the boolean feature vector as an ml sparse vector column.
    * The matcher is built once on the driver and broadcast. */
  def withFeatures(spark: SparkSession, df: DataFrame, textCol: String,
                   tokens: Array[String]): DataFrame = {
    val bc = spark.sparkContext.broadcast(TokenMatcher(tokens))
    val nf = tokens.length
    val featUdf = F.udf { (text: String) =>
      val bits = bc.value.matchBits(Normalize.newlines(text))
      val idx = new scala.collection.mutable.ArrayBuffer[Int](16)
      var i = 0
      while (i < bits.length) { if (bits(i)) idx += i; i += 1 }
      Vectors.sparse(nf, idx.toArray, Array.fill(idx.length)(1.0))
    }
    df.withColumn("features", featUdf(F.col(textCol)))
  }

  /** Balanced class weights: n_samples / (n_classes * count(class)) —
    * sklearn's "balanced" formula, computed distributively. */
  def balancedWeights(df: DataFrame, labelCol: String): Map[String, Double] = {
    val counts = df.groupBy(labelCol).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = counts.values.sum.toDouble
    val k = counts.size
    counts.map { case (c, n) => c -> total / (k * n) }
  }

  /** Full training pipeline. valPct of rows (deterministic md5 bucket of
    * idCols) form the holdout, per SURVEY.md §7.4.3. */
  def train(spark: SparkSession, df: DataFrame, labelCol: String, textCol: String,
            tokens: Array[String], idCol: String,
            valPct: Int = 20, seed: Long = 42L,
            maxIter: Int = 100, regParam: Double = 0.0): TrainResult = {
    val bucket = graft.functions.TextFunctions.md5Bucket(F.col(idCol), 100)
    val feat = withFeatures(spark, df, textCol, tokens)
      .withColumn("is_val", bucket < valPct)
      .cache()
    try {
      val labels = feat.select(labelCol).distinct().collect().map(_.getString(0)).sorted
      val labelIdx = labels.zipWithIndex.toMap
      val weights = balancedWeights(feat.filter(!F.col("is_val")), labelCol)
      // LR infers numClasses from the train split; a class present only in
      // the val split would desync the exported coef matrix — fail fast with
      // a diagnosable error instead of an IndexOutOfBounds at export
      require(weights.keySet == labels.toSet,
        s"classes absent from the train split: ${labels.toSet -- weights.keySet} " +
          "(decrease valPct or supply more rows per class)")
      val idxUdf = F.udf((l: String) => labelIdx(l).toDouble)
      val wUdf = F.udf((l: String) => weights.getOrElse(l, 1.0))
      val prepared = feat
        .withColumn("label", idxUdf(F.col(labelCol)))
        .withColumn("weight", wUdf(F.col(labelCol)))

      val trainDf = prepared.filter(!F.col("is_val"))
      val valDf = prepared.filter(F.col("is_val"))

      val lr = new LogisticRegression()
        .setFamily("multinomial")
        .setMaxIter(maxIter)
        .setRegParam(regParam)
        .setWeightCol("weight")
        .setFeaturesCol("features")
        .setLabelCol("label")
      val fitted = lr.fit(trainDf)

      // export to the reference's model schema (classes sorted, coef rows in
      // class order) and reorder by importance like train_model.py:34-51
      val cm = fitted.coefficientMatrix
      val coef = Array.tabulate(labels.length, tokens.length)((i, j) => cm(i, j))
      val model = LangIdModel(tokens.clone(), labels, coef,
        fitted.interceptVector.toArray).reorderByImportance

      // holdout macro-F1 with OUR scorer (the artifact that ships), not the
      // ml model — catches any export mismatch
      val scorer = new Scorer(model)
      val bcScorer = spark.sparkContext.broadcast(scorer)
      val predUdf = F.udf((text: String) => bcScorer.value.predictLabel(text))
      val scored = valDf.withColumn("pred", predUdf(F.col(textCol)))
      val f1 = F1.macroF1(scored, labelCol, "pred")

      TrainResult(model, f1, trainDf.count(), valDf.count())
    } finally { feat.unpersist(false); () }
  }

  final case class BowResult(
      macroF1: Double,
      vocabSize: Int,
      nCoefficients: Long,
      denseSizeKb: Double,
  )

  /** X5: the bag-of-words alternative the reference TRIED AND REJECTED
    * (`experiments/ex15_train_model.py:60-66`,
    * `experiments/experiments.md:435-439`: 15 min train, F1 92.4%, 157 MB
    * model vs 14 KB for the curated substring features). Implemented for
    * capability parity — a user replaying ex15 can run it — but kept out
    * of the product path for the reference's own reason: the coefficient
    * matrix is vocab x classes instead of curated-tokens x classes, so
    * model size scales with corpus vocabulary (TrainerSpec reproduces the
    * blow-up vs `train` on the fixture corpus).
    *
    * Spark shape: RegexTokenizer -> CountVectorizer (distributed vocab
    * fit on the train split only) -> weighted multinomial LR; holdout
    * macro-F1 on the ml pipeline's own predictions. */
  def trainBagOfWords(spark: SparkSession, df: DataFrame, labelCol: String,
                      textCol: String, idCol: String, valPct: Int = 20,
                      vocabSize: Int = 1 << 18, maxIter: Int = 50,
                      regParam: Double = 0.0): BowResult = {
    import org.apache.spark.ml.feature.{CountVectorizer, RegexTokenizer}
    val bucket = graft.functions.TextFunctions.md5Bucket(F.col(idCol), 100)
    val base = df.withColumn("is_val", bucket < valPct)
    val words = new RegexTokenizer()
      .setInputCol(textCol).setOutputCol("__words")
      .setPattern("\\s+") // whitespace split, lowercased (ex15's analyzer)
      .transform(base)
    val cvModel = new CountVectorizer()
      .setInputCol("__words").setOutputCol("features").setVocabSize(vocabSize)
      .fit(words.filter(!F.col("is_val")))
    val feat = cvModel.transform(words).cache()
    try {
      val labels = feat.select(labelCol).distinct().collect()
        .map(_.getString(0)).sorted
      val labelIdx = labels.zipWithIndex.toMap
      val weights = balancedWeights(feat.filter(!F.col("is_val")), labelCol)
      val idxUdf = F.udf((l: String) => labelIdx(l).toDouble)
      val wUdf = F.udf((l: String) => weights.getOrElse(l, 1.0))
      val prepared = feat
        .withColumn("label", idxUdf(F.col(labelCol)))
        .withColumn("weight", wUdf(F.col(labelCol)))
      val lr = new LogisticRegression()
        .setFamily("multinomial").setMaxIter(maxIter).setRegParam(regParam)
        .setWeightCol("weight").setFeaturesCol("features").setLabelCol("label")
      val fitted = lr.fit(prepared.filter(!F.col("is_val")))
      val backUdf = F.udf((i: Double) => labels(i.toInt))
      val scored = fitted.transform(prepared.filter(F.col("is_val")))
        .withColumn("pred", backUdf(F.col("prediction")))
      val f1 = F1.macroF1(scored, labelCol, "pred")
      val nCoef = cvModel.vocabulary.length.toLong * labels.length
      BowResult(f1, cvModel.vocabulary.length, nCoef, nCoef * 8.0 / 1024.0)
    } finally { feat.unpersist(false); () }
  }

  /** One distributed scoring pass with a per-probe Scorer broadcast,
    * destroyed when the pass's action completes — M4–M6 sweep dozens of
    * probe points, and an undestroyed per-point broadcast accumulates on
    * the driver AND every executor for the life of the session. */
  private def scoredF1(spark: SparkSession, df: DataFrame, labelCol: String,
                       textCol: String, scorer: Scorer): Double = {
    val bc = spark.sparkContext.broadcast(scorer)
    try {
      val predUdf = F.udf((text: String) => bc.value.predictLabel(text))
      F1.macroF1(df.withColumn("pred", predUdf(F.col(textCol))), labelCol, "pred")
    } finally bc.destroy()
  }

  /** M4: F1 as a function of the top-n features (importance-ordered model);
    * each point is a distributed scoring pass (`analyze_model.py:42-85`). */
  def f1Curve(spark: SparkSession, df: DataFrame, labelCol: String, textCol: String,
              model: LangIdModel, steps: Seq[Int]): Seq[(Int, Double)] =
    steps.map { n =>
      n -> scoredF1(spark, df, labelCol, textCol, new Scorer(model.shrink(n)))
    }

  /** M5: F1 after rounding weights to d decimals (`analyze_model.py:88-130`). */
  def roundingCurve(spark: SparkSession, df: DataFrame, labelCol: String, textCol: String,
                    model: LangIdModel, decimals: Seq[Int]): Seq[(Int, Double, Double)] =
    decimals.map { d =>
      val rounded = model.rounded(d)
      (d, scoredF1(spark, df, labelCol, textCol, new Scorer(rounded)),
        rounded.gzippedSizeKb)
    }

  /** M6: drop features until F1 falls by delta (`analyze_model.py:138-196`),
    * binary search instead of the reference's linear backward scan — each
    * probe is a full distributed scoring job, so probes are the cost unit. */
  def findIdealSize(spark: SparkSession, df: DataFrame, labelCol: String, textCol: String,
                    model: LangIdModel, f1Delta: Double = 0.01): (Int, Double) = {
    def scoreAt(n: Int): Double = f1Curve(spark, df, labelCol, textCol, model, Seq(n)).head._2
    val full = scoreAt(model.numFeatures)
    val target = full - f1Delta
    var lo = 1
    var hi = model.numFeatures
    var best = (model.numFeatures, full)
    while (lo < hi) {
      val mid = (lo + hi) / 2
      val f1 = scoreAt(mid)
      if (f1 >= target) { best = (mid, f1); hi = mid } else lo = mid + 1
    }
    best
  }
}
