package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.io.Io
import graft.ml.Models

/** Reference-parity check on the ONE real dataset shipped in the reference
  * checkout (wine-classification-dacon). BASELINE.md publishes stratified
  * 5-fold CV accuracies (seed 42, sklearn): RandomForest 0.6664 ± 0.0081
  * (best), DecisionTree 0.5881, GaussianNB 0.4515 (worst). Fold RNG is not
  * reproducible across sklearn/Spark (SURVEY §7.4), so parity is asserted
  * STATISTICALLY: same ordering, means within a few points.
  */
object WineParitySpec {
  /** Run independent Spark-action-bearing units concurrently on a small
    * fixed pool (guide §2.6 — enough in flight to fill the scheduler,
    * not so many that tiny fits fight for cores), preserving input
    * order. Deterministic per unit ⇒ identical results to sequential. */
  def inParallel[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    import scala.concurrent._
    import scala.concurrent.duration._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(items.map(a => Future(f(a)))), 30.minutes)
    finally pool.shutdown()
  }
}

class WineParitySpec extends AnyFunSuite with ReferenceParity {
  lazy val spark = TestSpark.spark

  val winePath = "/root/reference/wine-classification-dacon/data/train.csv"

  val featureNames = Seq("fixed acidity", "volatile acidity", "citric acid",
    "residual sugar", "chlorides", "free sulfur dioxide",
    "total sulfur dioxide", "density", "pH", "sulphates", "alcohol")

  def wineSchema: StructType = StructType(
    StructField("index", IntegerType) +: StructField("quality", IntegerType) +:
      featureNames.map(n => StructField(n, DoubleType)) :+
      StructField("type", StringType))

  test("wine 5-fold CV reproduces the reference's model ordering and levels") {
    assume(new java.io.File(winePath).exists(), "reference checkout not present")
    val raw = Io.readCsv(spark, winePath, wineSchema)
    // reference prep (wine_analysis.py:57): X = df.drop(index, quality,
    // type) — ELEVEN numeric features, the type column is DROPPED, not
    // encoded. (Feeding NB an extra standardized binary type_idx costs it
    // ~8 accuracy points — its tiny within-class variance dominates the
    // Gaussian likelihood — while the tree models barely notice; that was
    // the round-7 "NB parity gap", a feature-set mismatch, not a model
    // delta.) quality spans 3..9 → shift to dense 0-based labels (gaussian
    // NB scores NaN for empty classes otherwise; accuracy is
    // relabel-invariant).
    val df = raw
      .withColumn("y", (col("quality") - 3).cast("double"))
    val feats = featureNames

    // estimator capacity matched to the sklearn defaults the reference used
    // (unbounded-depth trees; 100-tree forest); NB is the from-scratch
    // sklearn-faithful GaussianNb (measured identical to MLlib's gaussian
    // NB here: both 0.4548 on the 11-feature set)
    import org.apache.spark.ml.classification._
    val estimators = Map[String, () => org.apache.spark.ml.Estimator[_ <: org.apache.spark.ml.Transformer]](
      "random_forest" -> (() => new RandomForestClassifier()
        .setNumTrees(100).setMaxDepth(20).setSeed(42)),
      "decision_tree" -> (() => new DecisionTreeClassifier()
        .setMaxDepth(20).setSeed(42)),
      "naive_bayes" -> (() => new graft.ml.GaussianNbEstimator()))
    val folded = graft.ml.Split.tagStratifiedKFold(df, "index", "y", 5).cache()
    folded.count() // materialize once before the concurrent fits
    // the 15 (model, fold) fits are independent — run them concurrently
    // (optimization-guide §2.6: actions are only sequential because the
    // driver calls them sequentially); results are per-fit deterministic,
    // so the asserts see exactly the sequential outcome
    val cv = WineParitySpec.inParallel(
      for (name <- estimators.keys.toSeq.sorted; fold <- 0 until 5)
        yield (name, fold)) { case (name, fold) =>
      val train = folded.filter(col("fold") =!= fold)
      val test = folded.filter(col("fold") === fold)
      val fitted = Models.pipelineFor(estimators(name)(), feats, "y").fit(train)
      graft.ml.CvResult(name, fold,
        Models.evaluate(fitted.transform(test), "y"),
        Models.evaluate(fitted.transform(test), "y", "f1"))
    }
    val means = cv.groupBy(_.model).view
      .mapValues(rs => rs.map(_.accuracy).sum / rs.size).toMap
    info(s"wine CV means: $means  (reference: rf 0.666, dt 0.588, nb 0.452)")

    // same ranking as the reference tournament
    assert(means("random_forest") > means("decision_tree"))
    assert(means("decision_tree") > means("naive_bayes"))
    // levels statistically comparable to BASELINE.md (±0.05 band for the
    // tree models: different fold RNG + MLlib vs sklearn defaults). NB is
    // deterministic given folds and algorithm-identical to sklearn, so its
    // band is tight: measured 0.4548 vs the published 0.4515.
    assert(math.abs(means("random_forest") - 0.6664) < 0.05,
      s"rf ${means("random_forest")} too far from reference 0.6664")
    assert(math.abs(means("decision_tree") - 0.5881) < 0.06,
      s"dt ${means("decision_tree")} too far from reference 0.5881")
    assert(math.abs(means("naive_bayes") - 0.4515) < 0.02,
      s"nb ${means("naive_bayes")} too far from reference 0.4515")
  }

  test("wine repeated shuffle-split reproduces the reference's RF level") {
    // BASELINE.md: StratifiedShuffleSplit n_splits=40, test_size=0.5 →
    // RandomForest 0.6312 ± 0.0077. 8 seeded 50% holdouts estimate the
    // same mean (smaller n_splits; band widened accordingly).
    assume(new java.io.File(winePath).exists(), "reference checkout not present")
    val raw = Io.readCsv(spark, winePath, wineSchema)
    // same 11-feature X as the 5-fold test (wine_analysis.py:57)
    val df = raw
      .withColumn("y", (col("quality") - 3).cast("double"))
      .cache()
    val feats = featureNames
    import org.apache.spark.ml.classification.RandomForestClassifier
    df.count() // materialize the cache before the concurrent fits
    // 8 independent seeded fits, run concurrently (guide §2.6)
    val accs = WineParitySpec.inParallel(0 until 8) { seed =>
      val tagged = graft.ml.Split.tagStratifiedHoldout(
        df, "index", "y", testFraction = 0.5, seed = seed)
      val fitted = Models.pipelineFor(
        new RandomForestClassifier().setNumTrees(100).setMaxDepth(20).setSeed(42),
        feats, "y").fit(tagged.filter(col("split") === "train"))
      Models.evaluate(fitted.transform(tagged.filter(col("split") === "test")), "y")
    }
    val mean = accs.sum / accs.size
    info(f"wine shuffle-split RF mean over 8 seeds: $mean%.4f (reference: 0.6312)")
    assert(math.abs(mean - 0.6312) < 0.05,
      s"shuffle-split rf $mean too far from reference 0.6312")
    // half-data fits must underperform the 5-fold (80% train) level, as in
    // the reference (0.6312 < 0.6664)
    assert(mean < 0.6664)
  }
}
