package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ml.Boost

/** From-scratch distributed GBDT (SURVEY §2.8 L5): learns a nonlinear
  * target a linear model cannot, and its tree structure is bit-identical
  * under repartitioning (the exact-decimal histogram property). */
class BoostSpec extends AnyFunSuite with ReferenceParity {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** XOR-of-quadrants dataset: deterministic grid, no RNG. A linear
    * model is ~chance here; depth-2 trees express it exactly. */
  private def xorData = {
    val rows = for (i <- 0 until 2000) yield {
      val x1 = ((i * 37) % 201 - 100) / 100.0 + 0.001 // avoid exact 0
      val x2 = ((i * 89) % 201 - 100) / 100.0 + 0.001
      val noise = ((i * 13) % 7) - 3 // deterministic +-3 "noise" feature
      val y = if ((x1 > 0) != (x2 > 0)) 1.0 else 0.0
      (x1, x2, noise.toDouble, y)
    }
    rows.toDF("x1", "x2", "noise", "y")
  }

  test("GBDT learns XOR (nonlinear) to >95% where logistic regression is ~chance") {
    val df = xorData
    val model = Boost.fit(df, Seq("x1", "x2", "noise"), "y",
      numTrees = 20, maxDepth = 2, lr = 0.4)
    val acc = df.select(
        avg(when(model.predictExpr() === col("y"), 1.0).otherwise(0.0)))
      .head().getDouble(0)
    assert(acc > 0.95, s"GBDT accuracy $acc")

    // linear baseline really is near chance on this target
    val lr = new org.apache.spark.ml.classification.LogisticRegression()
      .setMaxIter(50).setFeaturesCol("features").setLabelCol("y")
    val assembled = new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(Array("x1", "x2", "noise")).setOutputCol("features")
      .transform(df)
    val lrAcc = lr.fit(assembled).transform(assembled)
      .select(avg(when(col("prediction") === col("y"), 1.0).otherwise(0.0)))
      .head().getDouble(0)
    assert(lrAcc < 0.65, s"LR unexpectedly solves XOR: $lrAcc")
  }

  test("tree structure is identical under different partitionings") {
    val df = xorData
    val a = Boost.fit(df.repartition(3), Seq("x1", "x2", "noise"), "y",
      numTrees = 5, maxDepth = 3)
    val b = Boost.fit(df.repartition(17), Seq("x1", "x2", "noise"), "y",
      numTrees = 5, maxDepth = 3)
    assert(a.describe == b.describe)
    assert(a.basePrediction == b.basePrediction)
  }

  test("boosting monotonically reduces logistic loss on the training set") {
    val df = xorData
    val model = Boost.fit(df, Seq("x1", "x2", "noise"), "y",
      numTrees = 8, maxDepth = 2, lr = 0.3)
    val losses = (1 to model.trees.size).map { k =>
      val m = model.copy(trees = model.trees.take(k))
      df.select(avg(
          -(col("y") * log(m.probabilityExpr) +
            (lit(1.0) - col("y")) * log(lit(1.0) - m.probabilityExpr))))
        .head().getDouble(0)
    }
    assert(losses.zip(losses.tail).forall { case (a, b) => b <= a + 1e-12 },
      s"loss not monotone: $losses")
    // the noise feature never wins a split on a clean XOR target
    assert(!model.describe.contains("S(2"), model.describe)
  }

  test("early stopping halts when held-out loss stops improving and truncates to the best round") {
    val train = xorData
    // validation labels independent of the features: any confidence the
    // booster gains on train RAISES held-out logloss, so the stop must
    // trigger long before numTrees
    val valid = (0 until 500).map { i =>
      val x1 = ((i * 37) % 201 - 100) / 100.0 + 0.001
      val x2 = ((i * 89) % 201 - 100) / 100.0 + 0.001
      (x1, x2, (((i * 13) % 7) - 3).toDouble, (i % 2).toDouble)
    }.toDF("x1", "x2", "noise", "y")
    val m = Boost.fitEarlyStop(train, valid, Seq("x1", "x2", "noise"), "y",
      numTrees = 25, earlyStoppingRounds = 3, maxDepth = 2, lr = 0.4)
    assert(m.valLosses.nonEmpty)
    assert(m.valLosses.size < 25, s"never stopped: ${m.valLosses}")
    // kept exactly the best-round prefix
    val bestRound = m.valLosses.indexOf(m.valLosses.min) + 1
    assert(m.trees.size == bestRound,
      s"kept ${m.trees.size}, best $bestRound: ${m.valLosses}")
    // and a full no-validation fit would have kept more trees
    assert(m.trees.size < 25)
  }

  test("early stopping is partitioning-invariant (same stop round, same trees)") {
    val train = xorData
    val valid = xorData.limit(400)
    val a = Boost.fitEarlyStop(train.repartition(3), valid,
      Seq("x1", "x2", "noise"), "y", numTrees = 6, earlyStoppingRounds = 2)
    val b = Boost.fitEarlyStop(train.repartition(13), valid.repartition(5),
      Seq("x1", "x2", "noise"), "y", numTrees = 6, earlyStoppingRounds = 2)
    assert(a.describe == b.describe)
    assert(a.valLosses == b.valLosses)
  }

  test("wine CV accuracy lands at the reference's GradientBoosting level") {
    // BASELINE.md: sklearn GradientBoosting, wine 5-fold CV = 0.5836 ±
    // 0.0114. One fold of the same stratified split estimates the level
    // (trains on ~4.4k rows, as the reference's folds do; the band covers
    // single-fold variance — the 2-fold mean measured 0.5588).
    val winePath = "/root/reference/wine-classification-dacon/data/train.csv"
    assume(new java.io.File(winePath).exists(), "reference checkout not present")
    import org.apache.spark.sql.types._
    val featureNames = Seq("fixed acidity", "volatile acidity", "citric acid",
      "residual sugar", "chlorides", "free sulfur dioxide",
      "total sulfur dioxide", "density", "pH", "sulphates", "alcohol")
    val schema = StructType(
      StructField("index", LongType) +: StructField("quality", LongType) +:
        featureNames.map(StructField(_, DoubleType)) :+
        StructField("type", StringType))
    val raw = graft.io.Io.readCsv(spark, winePath, schema)
    val vocab = graft.ml.Prep.fitLabelEncoder(raw, "type")
    val df = graft.ml.Prep.labelEncode(raw, vocab, "type")
      .withColumn("y", (col("quality") - 3).cast("double"))
      .withColumn("type_idx", col("type_idx").cast("double"))
    val feats = featureNames :+ "type_idx"
    val folded = graft.ml.Split.tagStratifiedKFold(df, "index", "y", 5).cache()
    val accs = for (fold <- 0 until 1) yield {
      val model = Boost.fitOvr(
        folded.filter(col("fold") =!= fold), feats, "y", numClasses = 7,
        numTrees = 20, maxDepth = 3, lr = 0.3)
      folded.filter(col("fold") === fold)
        .select(avg(when(model.predictExpr === col("y"), 1.0).otherwise(0.0)))
        .head().getDouble(0)
    }
    val mean = accs.sum / accs.size
    info(f"wine GBDT fold-0 accuracy: $mean%.4f (reference 5-fold mean: 0.5836)")
    assert(math.abs(mean - 0.5836) < 0.07,
      s"GBDT accuracy $mean too far from the reference's 0.5836")
    folded.unpersist()
  }

  test("one-vs-rest GBT handles multiclass") {
    // three classes separated along f0/f1 by more than their unit noise
    val u = (c: Int) => graft.ml.Split.hashUniform(
      concat_ws("#", col("id"), lit(c)), 21)
    val df = spark.range(450).select(col("id"),
      pmod(col("id"), lit(3)).cast("double").as("y"),
      (pmod(col("id"), lit(3)) * 2.0 + u(0)).as("f0"),
      (pmod(col("id"), lit(3)) * -1.5 + u(1)).as("f1"),
      u(2).as("f2")).cache()
    val tagged = graft.ml.Split.tagHoldout(df, "id", 0.25)
    val model = Boost.fitOvr(tagged.filter(col("split") === "train"),
      Seq("f0", "f1", "f2"), "y", numClasses = 3, numTrees = 10)
    val acc = tagged.filter(col("split") === "test")
      .select(avg(when(model.predictExpr === col("y"), 1.0).otherwise(0.0)))
      .head().getDouble(0)
    info(s"ovr-gbt acc=$acc")
    assert(acc > 0.85)
    df.unpersist()
  }

  test("degenerate labels yield a near-constant model, no crash") {
    val df = (0 until 200).map(i => (i.toDouble, 1.0)).toDF("x1", "y")
    val m = Boost.fit(df, Seq("x1"), "y", numTrees = 3, maxDepth = 2)
    val p = df.select(min(m.probabilityExpr), max(m.probabilityExpr)).head()
    assert(p.getDouble(0) > 0.95 && p.getDouble(1) <= 1.0)
  }
}
