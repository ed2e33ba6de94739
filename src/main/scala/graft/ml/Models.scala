package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel, Estimator, Transformer}
import org.apache.spark.ml.classification._
import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
import org.apache.spark.ml.linalg.{Vector => MlVector}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Model registry + CV harness (SURVEY.md §2.8 L1-L14): the reference's
  * `factory.py` registry re-expressed over Spark MLlib estimators. Each
  * entry is name → () => Estimator pipeline stage; training composes
  * (assemble → scale → fit) exactly as the reference's per-model
  * preprocessing does (fit on train only — the leak in the reference's
  * logistic_regression.py:37 is deliberately NOT reproduced).
  *
  * Documented gaps vs the reference (SURVEY.md §7.3): rbf-SVM → LinearSVC;
  * XGB/LGBM/CatBoost → GBTClassifier (binary) / RandomForest (multiclass);
  * KNN → [[Knn.predict]] (exact-cosine brute top-k + bounded-heap majority
  * vote, round 8); PyTorch transformer → out of scope.
  */
object Models {

  /** Registry, keyed like final-assignment/src/models/factory.py:28-38. */
  def registry(numClasses: Int, nFeatures: Int = 64): Map[String, () => Estimator[_ <: Transformer]] = {
    val base = Map[String, () => Estimator[_ <: Transformer]](
      "logistic_regression" -> (() => new LogisticRegression()
        .setMaxIter(100).setRegParam(1e-3)),
      "decision_tree" -> (() => new DecisionTreeClassifier().setMaxDepth(8).setSeed(42)),
      "random_forest" -> (() => new RandomForestClassifier()
        .setNumTrees(100).setMaxDepth(8).setSeed(42)),
      // from-scratch sklearn-faithful gaussian NB (GaussianNb.scala) — the
      // reference's GaussianNB numbers are the sklearn algorithm, and the
      // from-scratch form carries its exact var_smoothing rule
      "naive_bayes" -> (() => new GaussianNbEstimator()),
      "mlp" -> (() => new MultilayerPerceptronClassifier()
        .setLayers(Array(nFeatures, 32, numClasses)).setMaxIter(60).setSeed(42)))
    val binaryOnly = Map[String, () => Estimator[_ <: Transformer]](
      "gbt" -> (() => new GBTClassifier().setMaxIter(40).setMaxDepth(5).setSeed(42)),
      "linear_svc" -> (() => new LinearSVC().setMaxIter(50).setRegParam(1e-3)))
    if (numClasses <= 2) base ++ binaryOnly else base
  }

  /** Assemble feature columns (+optional z-scaling) in front of a model. */
  def pipelineFor(model: Estimator[_ <: Transformer], featureCols: Seq[String],
                  labelCol: String, scale: Boolean = true): Pipeline = {
    val assembler = new VectorAssembler()
      .setInputCols(featureCols.toArray).setOutputCol("features_raw")
    val scaler = new StandardScaler().setWithMean(true).setWithStd(true)
      .setInputCol("features_raw").setOutputCol("features")
    val m = model.asInstanceOf[Estimator[_ <: Transformer]]
    m.set(m.getParam("labelCol"), labelCol)
    m.set(m.getParam("featuresCol"), if (scale) "features" else "features_raw")
    new Pipeline().setStages(
      if (scale) Array(assembler, scaler, m) else Array(assembler, m))
  }

  /** Accuracy / F1 of a fitted model's predictions. */
  def evaluate(pred: DataFrame, labelCol: String, metric: String = "accuracy"): Double =
    new MulticlassClassificationEvaluator()
      .setLabelCol(labelCol).setPredictionCol("prediction").setMetricName(metric)
      .evaluate(pred)

  /** M11 + L-family — stratified k-fold CV of every registry model:
    * deterministic md5 fold deal (Split.tagStratifiedKFold), fit on k−1
    * folds / score on the held-out fold, returns the fold-score relation
    * (model, fold, accuracy, f1) the tournament pipelines consume (EP3).
    * Ref: cross-validation/wine_analysis.py:94-116. */
  def crossValidate(df: DataFrame, featureCols: Seq[String], labelCol: String,
                    idCol: String, k: Int = 5, numClasses: Int = 3,
                    models: Option[Seq[String]] = None): Seq[CvResult] = {
    val folded = Split.tagStratifiedKFold(df, idCol, labelCol, k).cache()
    try {
      val reg = registry(numClasses)
      val names = models.getOrElse(reg.keys.toSeq.sorted)
      for (name <- names; fold <- 0 until k) yield {
        val train = folded.filter(col("fold") =!= fold)
        val test = folded.filter(col("fold") === fold)
        val pipe = pipelineFor(reg(name)(), featureCols, labelCol)
        val fitted = pipe.fit(train)
        val pred = fitted.transform(test)
        CvResult(name, fold,
          evaluate(pred, labelCol, "accuracy"),
          evaluate(pred, labelCol, "f1"))
      }
    } finally folded.unpersist()
  }

  /** A19 — summarize fold scores per model (mean ± std), as a DataFrame. */
  def summarizeCv(spark: SparkSession, results: Seq[CvResult]): DataFrame = {
    import spark.implicits._
    results.toDF()
      .groupBy("model")
      .agg(avg("accuracy").as("mean_accuracy"),
        stddev("accuracy").as("std_accuracy"),
        avg("f1").as("mean_f1"))
      .orderBy(desc("mean_accuracy"))
  }

  /** L15 — early stopping analog for gradient boosting: MLlib's GBT has no
    * per-iteration callback, but accepts a validation split via
    * validationIndicatorCol — boosting stops once the validation-loss
    * improvement drops below `tol`, before reaching `maxIter`. Returns the
    * fitted pipeline and the number of trees actually grown.
    * Ref: final-assignment best_score.ipynb cell 0 (early_stopping(100)). */
  def fitGbtWithValidation(train: DataFrame, featureCols: Seq[String],
                           labelCol: String, idCol: String,
                           validationFraction: Double = 0.2, maxIter: Int = 100,
                           tol: Double = 0.01, seed: Int = 42): (PipelineModel, Int) = {
    val tagged = Split.tagHoldout(train, idCol, validationFraction, seed)
      .withColumn("__isVal", col("split") === "test").drop("split")
    // the holdout split and the model share the caller's seed
    val gbt = new GBTClassifier().setMaxIter(maxIter).setMaxDepth(4).setSeed(seed)
      .setValidationIndicatorCol("__isVal")
    gbt.set(gbt.validationTol, tol)
    val fitted = pipelineFor(gbt, featureCols, labelCol).fit(tagged)
    val trees = fitted.stages.last
      .asInstanceOf[GBTClassificationModel].getNumTrees
    (fitted, trees)
  }

  /** L13 — seeded random hyperparameter search for one model family:
    * draws log-uniform regParam / uniform depth style params, fits on a
    * holdout split, returns the trial relation.
    * Ref: final-assignment/experiments/best_score_random_search.py:63-120. */
  def randomSearchLr(df: DataFrame, featureCols: Seq[String], labelCol: String,
                     idCol: String, nTrials: Int, seed: Long = 42L): Seq[(Double, Double)] = {
    val rng = new scala.util.Random(seed)
    val tagged = Split.tagHoldout(df, idCol, 0.25, seed = 42).cache()
    try {
      val train = tagged.filter(col("split") === "train")
      val test = tagged.filter(col("split") === "test")
      (0 until nTrials).map { _ =>
        val regParam = math.pow(10, -5 + 5 * rng.nextDouble()) // loguniform 1e-5..1
        val pipe = pipelineFor(
          new LogisticRegression().setMaxIter(50).setRegParam(regParam),
          featureCols, labelCol)
        val acc = evaluate(pipe.fit(train).transform(test), labelCol)
        (regParam, acc)
      }
    } finally tagged.unpersist()
  }
}

case class CvResult(model: String, fold: Int, accuracy: Double, f1: Double)

/** L6 — Gaussian discriminant analysis (LDA/QDA), absent from MLlib.
  * Fit = one `groupBy(label)` aggregation producing per-class mean vector +
  * covariance (the only driver-side state, O(k·d²) scalars); score = a
  * generated per-row expression over broadcast parameters. Regularized like
  * sklearn's QDA(reg_param): Σ_reg = (1−r)·Σ + r·I.
  * Ref: teamProject/lda_single_model.py:69-73, qda_single_model_search.py.
  */
object Qda {
  import breeze.linalg.{DenseMatrix, DenseVector, inv, det}

  case class ClassStats(label: Double, prior: Double, mean: Array[Double],
                        invCov: Array[Array[Double]], logDet: Double)

  /** Fit per-class Gaussians over `featureCols`. `pooled=true` → LDA
    * (shared covariance); false → QDA. */
  def fit(df: DataFrame, featureCols: Seq[String], labelCol: String,
          regParam: Double = 1e-4, pooled: Boolean = false): Seq[ClassStats] = {
    val d = featureCols.size
    val sumAggs = featureCols.map(c => sum(col(c)).as(s"s_$c")) ++
      (for (i <- 0 until d; j <- i until d) yield
        sum(col(featureCols(i)) * col(featureCols(j))).as(s"ss_${i}_$j")) ++
      Seq(count(lit(1)).cast("double").as("n"))
    val rows = df.groupBy(col(labelCol).cast("double").as("label"))
      .agg(sumAggs.head, sumAggs.tail: _*).collect()
    val total = rows.map(_.getAs[Double]("n")).sum

    // per-class raw moments → mean + covariance
    val perClass = rows.map { r =>
      val n = r.getAs[Double]("n")
      val mean = featureCols.map(c => r.getAs[Double](s"s_$c") / n).toArray
      val cov = DenseMatrix.zeros[Double](d, d)
      for (i <- 0 until d; j <- i until d) {
        val ss = r.getAs[Double](s"ss_${i}_$j")
        val c = ss / n - mean(i) * mean(j)
        cov(i, j) = c; cov(j, i) = c
      }
      (r.getAs[Double]("label"), n, mean, cov)
    }

    val pooledCov: Option[DenseMatrix[Double]] =
      if (pooled) {
        val acc = DenseMatrix.zeros[Double](d, d)
        perClass.foreach { case (_, n, _, cov) => acc += cov * n }
        Some(acc / total)
      } else None

    perClass.map { case (label, n, mean, covRaw) =>
      val cov = pooledCov.getOrElse(covRaw)
      val reg = cov * (1.0 - regParam) + DenseMatrix.eye[Double](d) * regParam
      val ic = inv(reg)
      ClassStats(label, n / total, mean,
        Array.tabulate(d, d)((i, j) => ic(i, j)), math.log(det(reg)))
    }.toSeq.sortBy(_.label)
  }

  /** Score: argmax_k [ log π_k − ½ log|Σ_k| − ½ (x−μ_k)ᵀ Σ_k⁻¹ (x−μ_k) ],
    * generated as a pure Column expression (stays in codegen; parameters
    * are literals — no UDF, no broadcast join). */
  def predictExpr(stats: Seq[ClassStats], featureCols: Seq[String]):
      org.apache.spark.sql.Column = {
    val d = featureCols.size
    val scores = stats.map { cs =>
      val diffs = (0 until d).map(i => col(featureCols(i)) - lit(cs.mean(i)))
      val quad = (for (i <- 0 until d; j <- 0 until d) yield
        diffs(i) * diffs(j) * lit(cs.invCov(i)(j))).reduce(_ + _)
      (cs.label, lit(math.log(cs.prior) - 0.5 * cs.logDet) - quad * 0.5)
    }
    // argmax via a fold over (score, label) structs: every score expression
    // appears exactly ONCE in the plan (a greatest+when chain would copy
    // each O(d²) quadratic form ~2k times and blow up codegen).
    val arr = array(scores.map { case (label, s) =>
      struct(s.as("s"), lit(label).as("l"))
    }: _*)
    aggregate(arr, element_at(arr, 1),
      (acc, x) => when(x.getField("s") > acc.getField("s"), x).otherwise(acc))
      .getField("l")
  }

  /** Wide-feature scorer: the generated expression is O(k·d²) nodes, which
    * stops being codegen-friendly around d ≈ 16; beyond that score via a
    * closure over the broadcast parameter arrays (still one narrow pass). */
  def predictUdf(stats: Seq[ClassStats]): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (xs: Seq[Double]) =>
      var bestLabel = Double.NaN; var bestScore = Double.NegativeInfinity
      stats.foreach { cs =>
        val d = cs.mean.length
        val diff = new Array[Double](d)
        var i = 0
        while (i < d) { diff(i) = xs(i) - cs.mean(i); i += 1 }
        var quad = 0.0
        i = 0
        while (i < d) {
          var j = 0
          val row = cs.invCov(i)
          while (j < d) { quad += diff(i) * diff(j) * row(j); j += 1 }
          i += 1
        }
        val s = math.log(cs.prior) - 0.5 * cs.logDet - 0.5 * quad
        if (s > bestScore) { bestScore = s; bestLabel = cs.label }
      }
      bestLabel
    }
}
