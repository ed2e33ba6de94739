package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ml.{Kernel, Models, Split, Tpe}

/** Gap-closer tests: RFF rbf-SVM must beat a linear SVM on a radially-
  * separable problem, and TPE must concentrate trials where scores are
  * high while staying deterministic. */
class KernelTpeSpec extends AnyFunSuite with ReferenceParity {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Concentric-circles data: label = inside/outside radius — the classic
    * problem a LINEAR decision boundary cannot cut but rbf can. */
  def circles(n: Int = 1200) = {
    val u = (c: Int) => Split.hashUniform(concat_ws("#", col("id"), lit(c)), 11)
    spark.range(n).select(col("id"),
        (u(0) * 4.0 - 2.0).as("x"), (u(1) * 4.0 - 2.0).as("y"))
      .withColumn("label",
        when(col("x") * col("x") + col("y") * col("y") < 1.2, 1.0).otherwise(0.0))
  }

  test("RFF rbf-SVM separates circles where LinearSVC cannot") {
    val df = circles().cache()
    val tagged = Split.tagHoldout(df, "id", 0.3, seed = 5)
    val train = tagged.filter(col("split") === "train")
    val test = tagged.filter(col("split") === "test")

    val linear = Models.pipelineFor(
      new org.apache.spark.ml.classification.LinearSVC().setMaxIter(50),
      Seq("x", "y"), "label")
    val accLinear = Models.evaluate(linear.fit(train).transform(test), "label")

    val rbf = Kernel.rbfSvmFit(train, Seq("x", "y"), "label",
      numFeatures = 128, gamma = 1.0)
    val accRbf = Models.evaluate(rbf.transform(test), "label")

    val nys = Kernel.nystromSvmFit(train, Seq("x", "y"), "label",
      numLandmarks = 128, gamma = 1.0)
    val accNys = Models.evaluate(nys.transform(test), "label")

    info(s"linear=$accLinear rbf=$accRbf nystrom=$accNys")
    assert(accRbf > 0.9, s"rbf-SVM should separate circles, got $accRbf")
    assert(accRbf > accLinear + 0.15,
      s"rbf ($accRbf) should clearly beat linear ($accLinear)")
    assert(accNys > 0.9, s"Nyström SVM should separate circles, got $accNys")
  }

  test("RFF map is deterministic and kernel-shaped") {
    // z(x)·z(x) ≈ k(x,x) = 1 for any x
    val df = circles(50)
    val z = df.select(Kernel.rffExpr(Seq("x", "y"), 256, 1.0).as("z"))
      .select(aggregate(transform(col("z"), v => v * v),
        lit(0.0), (a, v) => a + v).as("k"))
      .collect().map(_.getDouble(0))
    z.foreach(k => assert(math.abs(k - 1.0) < 0.35, s"z·z=$k far from 1"))
  }

  test("TPE suggestions concentrate near the good region, deterministically") {
    // synthetic history: score peaks at param 1e-2 (log10 = -2)
    val hist = Seq(-4.5, -4.0, -3.5, -3.0, -2.5, -2.1, -1.9, -1.5, -1.0, -0.5)
      .map(l => Tpe.Trial(math.pow(10, l), 1.0 - math.abs(l + 2.0)))
    val rng1 = new scala.util.Random(9)
    val s1 = Seq.fill(20)(Tpe.suggest(hist, 1e-5, 1.0, rng1))
    val rng2 = new scala.util.Random(9)
    val s2 = Seq.fill(20)(Tpe.suggest(hist, 1e-5, 1.0, rng2))
    assert(s1 == s2, "TPE must be deterministic given a seed")
    val near = s1.count(p => math.abs(math.log10(p) + 2.0) < 1.0)
    info(s"${near}/20 suggestions within 1 decade of the optimum")
    assert(near >= 14, s"only $near/20 suggestions near the optimum")
    assert(s1.forall(p => p >= 1e-5 && p <= 1.0))
  }

  test("GBT validation split stops boosting before maxIter on easy data") {
    val u = (c: Int) => Split.hashUniform(concat_ws("#", col("id"), lit(c)), 13)
    val df = spark.range(800).select(col("id"),
        pmod(col("id"), lit(2)).cast("double").as("y"),
        (pmod(col("id"), lit(2)) * 3.0 + u(0)).as("f0"),
        (pmod(col("id"), lit(2)) * -2.0 + u(1)).as("f1"))
      .cache()
    // on separable data the validation log-loss keeps improving RELATIVELY
    // (the stop rule is improvement < tol·max(err, 0.01)), so a meaningful
    // tol is coarser than MLlib's 0.01 default
    val (fitted, trees) = Models.fitGbtWithValidation(
      df, Seq("f0", "f1"), "y", "id", maxIter = 80, tol = 0.1)
    info(s"stopped at $trees/80 trees")
    assert(trees < 80, s"expected early stop, grew all $trees trees")
    assert(Models.evaluate(fitted.transform(df), "y") > 0.9)
    df.unpersist()
  }

  test("TPE search runs end-to-end and finds a competitive regParam") {
    val u = (c: Int) => Split.hashUniform(concat_ws("#", col("id"), lit(c)), 7)
    val df = spark.range(600).select(col("id"),
        pmod(col("id"), lit(2)).cast("double").as("y"),
        (pmod(col("id"), lit(2)) * 2.0 + u(0)).as("f0"),
        (pmod(col("id"), lit(2)) * -1.0 + u(1)).as("f1"))
      .cache()
    val trials = Tpe.tpeSearchLr(df, Seq("f0", "f1"), "y", "id",
      nTrials = 6, nInit = 3)
    assert(trials.size == 6)
    assert(trials.map(_.score).max > 0.9)
    df.unpersist()
  }

  /** Mean |approx − exact| rbf kernel error over all pairs of the sampled
    * feature vectors, where approx(x,y) = z(x)·z(y) for the given map. */
  private def kernelMae(zs: Array[Array[Double]], xs: Array[Array[Double]],
                        gamma: Double): Double = {
    var sum = 0.0; var cnt = 0
    for (i <- xs.indices; j <- (i + 1) until xs.length) {
      var d2 = 0.0; var k = 0
      while (k < xs(i).length) { val t = xs(i)(k) - xs(j)(k); d2 += t * t; k += 1 }
      val exact = math.exp(-gamma * d2)
      var dot = 0.0; var c = 0
      val n = math.min(zs(i).length, zs(j).length)
      while (c < n) { dot += zs(i)(c) * zs(j)(c); c += 1 }
      sum += math.abs(dot - exact); cnt += 1
    }
    sum / cnt
  }

  private def collectZ(df: org.apache.spark.sql.DataFrame,
                       zCol: org.apache.spark.sql.Column) =
    df.select(zCol.as("z")).collect().map(_.getSeq[Double](0).toArray)

  test("Nyström matches the exact rbf kernel and beats RFF at equal budget") {
    val gamma = 1.0
    val sample = circles(80).cache()
    val xs = sample.select(array(col("x"), col("y")).as("v"))
      .collect().map(_.getSeq[Double](0).toArray)
    val nys = Kernel.nystromFit(sample, Seq("x", "y"), numLandmarks = 64,
      gamma = gamma)
    val zNys = collectZ(sample, nys.expr)
    val zRff = collectZ(sample, Kernel.rffExpr(Seq("x", "y"), 64, gamma))
    val maeNys = kernelMae(zNys, xs, gamma)
    val maeRff = kernelMae(zRff, xs, gamma)
    info(f"kernel MAE over ${xs.length * (xs.length - 1) / 2} pairs: " +
      f"nystrom(m=64)=$maeNys%.5f rff(D=64)=$maeRff%.5f")
    assert(maeNys < 0.02, s"Nyström should near-exactly reconstruct, got $maeNys")
    assert(maeNys < maeRff,
      "Nyström should beat RFF at equal budget on a smooth low-dim kernel")
    // RFF converges too: quadrupling D must shrink its error
    val zRff256 = collectZ(sample, Kernel.rffExpr(Seq("x", "y"), 256, gamma))
    assert(kernelMae(zRff256, xs, gamma) < maeRff)
    sample.unpersist()
  }

  test("kernel parity on the wine fixture: both approximations track exact rbf") {
    // L7 parity probe: the reference's SVC(kernel='rbf') sites
    // (cross-validation/wine_analysis.py:80) compute the EXACT kernel; our
    // scale path approximates it. Quantify that gap on the reference's own
    // data: exact-kernel-on-sample vs the RFF and Nyström feature maps.
    val winePath = "/root/reference/wine-classification-dacon/data/train.csv"
    assume(new java.io.File(winePath).exists(), "reference checkout not present")
    import org.apache.spark.sql.types._
    val names = Seq("fixed acidity", "volatile acidity", "citric acid",
      "residual sugar", "chlorides", "free sulfur dioxide",
      "total sulfur dioxide", "density", "pH", "sulphates", "alcohol")
    val schema = StructType(
      StructField("index", IntegerType) +: StructField("quality", IntegerType) +:
        names.map(n => StructField(n, DoubleType)) :+
        StructField("type", StringType))
    val raw = graft.io.Io.readCsv(spark, winePath, schema)
    // standardize like the reference prep, then gamma = 1/d (sklearn's
    // 'scale' default on standardized data, variance ≈ 1)
    val scaled = graft.ml.Prep.standardScale(raw,
      graft.ml.Prep.fitStandardScaler(raw, names), names)
    val cols = names
    val gamma = 1.0 / cols.size
    val sample = scaled
      .withColumn("__h", md5(concat_ws("|", col("index"))))
      .orderBy("__h").limit(120).cache()
    val xs = sample.select(array(cols.map(col): _*).as("v"))
      .collect().map(_.getSeq[Double](0).toArray)
    val nys = Kernel.nystromFit(sample, cols, numLandmarks = 96, gamma = gamma)
    val zNys = collectZ(sample, nys.expr)
    val zRff = collectZ(sample, Kernel.rffExpr(cols, 256, gamma))
    val maeNys = kernelMae(zNys, xs, gamma)
    val maeRff = kernelMae(zRff, xs, gamma)
    info(f"wine kernel MAE: nystrom(m=96)=$maeNys%.5f rff(D=256)=$maeRff%.5f")
    // parity direction: approximations must sit close to the exact kernel
    // (kernel values span [0,1]; a few percent MAE preserves SVM geometry)
    assert(maeNys < 0.05, s"Nyström too far from exact on wine: $maeNys")
    assert(maeRff < 0.08, s"RFF too far from exact on wine: $maeRff")
    sample.unpersist()
  }
}
