package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.io.Io
import graft.ops.{Cleaning, Num, Relational}
import graft.ml.{Models, Prep, Qda, Split}
import graft.stats.{Metrics, PValues, Tests}
import graft.ensemble.Ensemble

/** The reference's three end-to-end entry points (SURVEY.md §3),
  * re-expressed over the driver test tables. Each is a runnable main:
  *
  *   runMain graft.pipelines.Etl        <sfDir> <outDir>   (EP1)
  *   runMain graft.pipelines.Experiment <sfDir> <outDir>   (EP2)
  *   runMain graft.pipelines.Tournament <sfDir> <outDir>   (EP3)
  */
object PipelineSession {
  def build(sfDir: String): SparkSession = {
    val s = graft.core.Session.local(sfDir, graft.core.Session.envCpus)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** EP1 — ETL: raw survey-shaped data → cleaned, labeled, imputed X/Y
  * splits. Mirrors 1-1.data_processing → 1-2.labeling → basecode over the
  * events table (SURVEY.md §3 EP1 steps 1-9). */
object Etl {
  def run(spark: SparkSession, sfDir: String, outDir: String): DataFrame = {
    val events = Tables(spark, sfDir, "events")

    // (2) conform "two years" on common columns, vertical union
    val y1 = events.filter(dayofmonth(col("ts")) <= 15)
    val y2 = events.filter(dayofmonth(col("ts")) > 15)
    val unioned = Relational.unionOnCommonColumns(y1, y2)

    // (3) codebook-driven sentinel rewrite + (4) type repair
    val clean = unioned
      .withColumn("v", Cleaning.rewriteSentinels(floor(col("value")),
        toMinusOne = Seq(99), toNull = Seq(97, 98)))
      .withColumn("k", get_json_object(col("props"), "$.k").cast("double"))

    // (5) row filter (the age>=19 analog) + demographic-crosstab QA
    val adults = clean.filter(col("value") >= 5.0)
    val qa = Relational.crosstabRowShare(
      adults.withColumn("half", when(dayofmonth(col("ts")) <= 15, "h1").otherwise("h2")),
      Seq("half"), "event_type",
      Seq("click", "view", "signup", "error", "purchase"))
    qa.collect() // tiny QA relation, inspected like the notebook's crosstab

    // (6) drop columns above the null-rate gate (the demo column is ~75%
    // null on this value distribution, so gate at 0.7)
    val masked = adults.withColumn("mostly_null",
      when(col("value") > 20, lit(null)).otherwise(col("value")))
    val gated = Relational.dropMostlyNullCols(masked,
      Seq("v", "k", "mostly_null"), 0.7)

    // (7) label + drop leakage
    val labeled = gated
      .withColumn("label", Cleaning.binarize(col("value"), 50))
      .drop("props")

    // (8) stratified 80/20 split
    val tagged = Split.tagStratifiedHoldout(labeled, "event_id", "label", 0.2)

    // (9) impute (median, fit on train only) and write X/Y outputs
    val train = tagged.filter(col("split") === "train")
    val fitted = Prep.fitImputer(train, Seq("v"), "median")
    val imputed = Prep.impute(tagged, fitted)
    imputed.filter(col("split") === "train")
      .write.mode("overwrite").parquet(s"$outDir/train.parquet")
    imputed.filter(col("split") === "test")
      .write.mode("overwrite").parquet(s"$outDir/test.parquet")
    imputed
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val spark = PipelineSession.build(sfDir)
    val out = run(spark, sfDir, outDir)
    println(s"[etl] wrote ${out.count()} rows to $outDir")
    spark.stop()
  }
}

/** EP2 — experiment harness: config ladder → results store → ensemble →
  * submission + scoring (SURVEY.md §3 EP2). */
object Experiment {
  def run(spark: SparkSession, sfDir: String, outDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables(spark, sfDir, "embeddings")
    val d = 16
    val feats = (0 until d).map(i => s"f$i")
    val df = e.select(
      (col("vec_id") +: (col("label") % 2).cast("double").as("y") +:
        (0 until d).map(i => element_at(col("embedding"), i + 1).cast("double").as(s"f$i"))): _*)
      .cache()
    val tagged = Split.tagHoldout(df, "vec_id", 0.25)
    val train = tagged.filter(col("split") === "train").cache()
    val test = tagged.filter(col("split") === "test").cache()

    // (3) config ladder: LR C-sweep (the overfitting_experiment ladder)
    val configs = Seq(1e-4, 1e-2, 1.0).map(c => ("logistic_regression", s"C_$c", c))
    val results = configs.map { case (model, cfg, c) =>
      val pipe = Models.pipelineFor(
        new org.apache.spark.ml.classification.LogisticRegression()
          .setMaxIter(50).setRegParam(c), feats, "y")
      val fitted = pipe.fit(train)
      val trainAcc = Models.evaluate(fitted.transform(train), "y")
      val testAcc = Models.evaluate(fitted.transform(test), "y")
      (model, cfg, trainAcc, testAcc, trainAcc - testAcc)
    }.toDF("model_type", "config_name", "train_score", "test_score", "overfit_gap")

    // (4) persist results store
    Io.writeJson(results, s"$outDir/results_store")
    val store = Io.readJson(spark, s"$outDir/results_store")

    // (5) best per type + the stacking ensemble (E10) over gaussianized
    // features (M4): fit Yeo-Johnson on train, apply to both, OOF-stack
    val lambdas = graft.ml.Transforms.fitYeoJohnson(train, feats)
    val trainYj = graft.ml.Transforms.applyYeoJohnson(train, lambdas)
    val testYj = graft.ml.Transforms.applyYeoJohnson(test, lambdas)
    val (stack, _) = graft.ml.Stacking.fit(trainYj, feats, "y", "vec_id",
      baseModels = Seq("logistic_regression", "decision_tree"), k = 3)
    val stacked = graft.ml.Stacking.transform(stack, testYj, "vec_id")
    val stackAcc = stacked.filter(col("stack_prediction") === col("y")).count()
      .toDouble / stacked.count()
    import spark.implicits._
    val stackRow = Seq(("stacking_oof", "yj+lr_dt", 0.0, stackAcc, 0.0))
      .toDF("model_type", "config_name", "train_score", "test_score", "overfit_gap")

    // (6) best per type over single models + the stack
    val best = Ensemble.bestPerType(store.unionByName(stackRow))
    best.select(col("model_type"), col("config_name"), col("test_score"))
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val spark = PipelineSession.build(sfDir)
    val out = run(spark, sfDir, outDir).collect()
    out.foreach(r => println(s"[experiment] best: $r"))
    spark.stop()
  }
}

/** EP3 — CV tournament + statistical comparison (SURVEY.md §3 EP3):
  * stratified k-fold CV of the registry models, best-model selection,
  * Wilcoxon signed-rank best-vs-each with significance stars. */
object Tournament {
  def run(spark: SparkSession, sfDir: String, outDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables(spark, sfDir, "embeddings")
    val d = 8
    val feats = (0 until d).map(i => s"f$i")
    val df = e.select(
      (col("vec_id") +: col("label").cast("double").as("y") +:
        (0 until d).map(i => element_at(col("embedding"), i + 1).cast("double").as(s"f$i"))): _*)

    // (3) stratified 5-fold CV over the model registry
    val cv = Models.crossValidate(df, feats, "y", "vec_id", k = 5,
      numClasses = 10, models = Some(Seq("logistic_regression", "decision_tree",
        "random_forest", "naive_bayes")))
    val cvDf = cv.toDF()
    val summary = Models.summarizeCv(spark, cv)

    // (4) best model by mean accuracy
    val bestModel = summary.head.getString(0)

    // (5) Wilcoxon signed-rank best-vs-each on paired fold scores
    val byModel = cv.groupBy(_.model).view.mapValues(_.sortBy(_.fold).map(_.accuracy)).toMap
    val comparisons = byModel.keys.filter(_ != bestModel).toSeq.sorted.map { other =>
      val diffs = byModel(bestModel).zip(byModel(other)).map { case (x, y) => x - y }
      val w = Tests.wilcoxonSignedRank(diffs.toDF("d"), "d").head
      val z = Option(w.getAs[Any]("z")).map(_.toString.toDouble).getOrElse(0.0)
      val p = PValues.oneSidedGreaterFromZ(z)
      (bestModel, other, w.getAs[Double]("w_plus"), z, p, PValues.stars(p))
    }.toDF("best", "other", "w_plus", "z", "p_one_sided", "stars")

    Io.writeSingleCsv(summary, s"$outDir/cv_summary.csv")
    Io.writeSingleCsv(comparisons, s"$outDir/significance.csv")
    comparisons
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val spark = PipelineSession.build(sfDir)
    val out = run(spark, sfDir, outDir)
    out.show(20, false)
    spark.stop()
  }
}
