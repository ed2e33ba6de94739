package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.CaseWhen
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
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

  /** Every split, leaf weight (`java.lang.Double.toString`) and held-out
    * loss of `m`, one line per tree, after a line for the prior and one
    * for the loss curve. */
  private def exactLines(name: String, m: Boost.Model): Seq[String] = {
    def go(n: Boost.Node): String = n match {
      case Boost.Leaf(w) => s"L(${java.lang.Double.toString(w)})"
      case Boost.Split(f, b, l, r) => s"S($f<=$b,${go(l)},${go(r)})"
    }
    Seq(s"# $name base=${java.lang.Double.toString(m.basePrediction)} trees=${m.trees.size}",
      "valLosses=" + m.valLosses.map(java.lang.Double.toString).mkString(",")) ++
      m.trees.map(go)
  }

  /** Held-out frame whose labels do not depend on the features. */
  private def noiseValid(n: Int) = (0 until n).map { i =>
    val x1 = ((i * 37) % 201 - 100) / 100.0 + 0.001
    val x2 = ((i * 89) % 201 - 100) / 100.0 + 0.001
    (x1, x2, (((i * 13) % 7) - 3).toDouble, Option((i % 2).toDouble))
  }.toDF("x1", "x2", "noise", "y")

  /** Three classes separated along f0/f1 by more than their unit noise. */
  private def threeClasses = {
    val u = (c: Int) => graft.ml.Split.hashUniform(
      concat_ws("#", col("id"), lit(c)), 21)
    spark.range(450).select(col("id"),
      pmod(col("id"), lit(3)).cast("double").as("y"),
      (pmod(col("id"), lit(3)) * 2.0 + u(0)).as("f0"),
      (pmod(col("id"), lit(3)) * -1.5 + u(1)).as("f1"),
      u(2).as("f2"))
  }

  test("golden fits: every split, leaf weight and held-out loss is pinned exactly") {
    // the reference values in boost-golden.txt were recorded from the
    // per-level SQL form of the fit (gradients and held-out losses cast to
    // DECIMAL(30,12) by Catalyst), which the task-side fold must reproduce
    val feats = Seq("x1", "x2", "noise")
    val wide = xorData.withColumn("s", sin(col("x1") * 7.0 + col("x2"))).repartition(5)
    val fitted = Boost.fit(wide, feats :+ "s", "y", numTrees = 12, maxDepth = 4)
    val stopped = Boost.fitEarlyStop(xorData, noiseValid(500), feats, "y",
      numTrees = 25, earlyStoppingRounds = 3, maxDepth = 2, lr = 0.4)
    assert(stopped.valLosses.size < 25 && stopped.trees.size < stopped.valLosses.size)
    val full = Boost.fitEarlyStop(xorData.repartition(3), xorData.limit(400), feats, "y",
      numTrees = 6, earlyStoppingRounds = 3, maxDepth = 3)
    assert(full.valLosses.size == 6 && full.trees.size == 6)
    val ovr = Boost.fitOvr(threeClasses.repartition(4), Seq("f0", "f1", "f2"), "y",
      numClasses = 3, numTrees = 10)
    val got = exactLines("fit 12x4, 5 partitions", fitted) ++
      exactLines("fitEarlyStop, stops early", stopped) ++
      exactLines("fitEarlyStop, all rounds", full) ++
      ovr.models.zipWithIndex.flatMap { case (m, k) => exactLines(s"fitOvr class $k", m) }
    val src = scala.io.Source.fromResource("graft/boost-golden.txt")
    val want = try src.getLines().toVector finally src.close()
    val diff = got.indices.find(i => i >= want.size || got(i) != want(i))
    assert(diff.isEmpty && got.size == want.size, diff.fold(s"${got.size} lines, want ${want.size}") {
      i => s"line ${i + 1}:\n got  ${got(i)}\n want ${want.lift(i).getOrElse("<none>")}"
    })
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
    def fit(d: DataFrame) =
      Boost.fit(d, Seq("x1", "x2", "noise"), "y", numTrees = 5, maxDepth = 3)
    // hash-partitioned on the 0/1 label: at most 2 of its 64 partitions
    // hold rows, so most per-task histograms stay empty
    val sparse = df.repartition(64, col("y"))
    assert(sparse.rdd.mapPartitions(it => Iterator(it.isEmpty)).collect()
      .count(identity) >= 62)
    val a = fit(df.repartition(3))
    for (d <- Seq(df.repartition(17), df.coalesce(1), df.repartition(64), sparse)) {
      val b = fit(d)
      assert(a.describe == b.describe)
      assert(a.basePrediction == b.basePrediction)
    }
  }

  test("a tree level is one job: a fit submits fewer jobs than two per level") {
    // the shuffle form (groupBy(node, feature, bin).collect()) ran two
    // jobs per level under AQE: the map stage, then the result stage
    val sc = spark.sparkContext
    val key = "graft.boostspec.tag"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) == "fit")) jobs.incrementAndGet()
    }
    val df = xorData
    def jobsOf(numTrees: Int): Int = {
      jobs.set(0)
      sc.setLocalProperty(key, "fit")
      try Boost.fit(df, Seq("x1", "x2", "noise"), "y", numTrees = numTrees, maxDepth = 2)
      finally {
        sc.setLocalProperty(key, null)
        Bridge.drainListenerBus(sc)
      }
      jobs.get
    }
    sc.addSparkListener(listener)
    val (two, three) =
      try (jobsOf(2), jobsOf(3)) finally sc.removeSparkListener(listener)
    info(s"$three jobs for 3 trees of 2 levels, ${three - two} for the third tree")
    assert(three < 2 * 3 * 2, s"$three jobs for 3 trees of 2 levels")
    // the fixed jobs (binning, prior) cancel: what is left is one tree
    assert(three - two <= 2, s"${three - two} jobs for one tree of 2 levels")
  }

  test("the task-side decimal rounding is Spark's CAST(double AS DECIMAL(30,12))") {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(30, 12)
    // ties at the 12th decimal, as short decimal strings: the exact binary
    // value lies on either side of the tie
    val ties = Seq(5e-13, 1.5e-12, 2.5e-12, 0.1234567890125, 0.2500000000005,
      0.0625000000005, 0.3333333333335, 0.6666666666665, 0.9999999999995,
      0.0000000001235, 24.1234567890125, 34.9999999999995)
    // what the fit rounds: gradients |g| <= 1, hessians <= 0.25, losses <= 35
    val fitted = (1 to 120).flatMap { i =>
      val p = 1.0 / (1.0 + StrictMath.exp(-(i - 60) / 4.3))
      Seq(p, p - 1.0, p * (1.0 - p), -StrictMath.log(p), -StrictMath.log(1.0 - p))
    }
    val values = ties ++ ties.map(-_) ++ fitted ++ Seq(0.0, -0.0,
      java.lang.Double.MIN_VALUE, -java.lang.Double.MIN_VALUE, java.lang.Double.MIN_NORMAL,
      math.nextDown(java.lang.Double.MIN_NORMAL), math.nextDown(1.0), -math.nextDown(1.0),
      1.0, -1.0, 0.25, math.nextDown(0.25), -StrictMath.log(1e-15), 35.0,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    val byColumn = values.map(Tuple1(_)).toDF("d").select(col("d").cast(dec))
      .collect().map(r => Option(r.getDecimal(0))).toSeq
    val byLiteral = spark.range(1).select(values.map(v => lit(v).cast(dec)): _*)
      .head().toSeq.map(v => Option(v.asInstanceOf[java.math.BigDecimal]))
    assert(byColumn == byLiteral)
    for ((v, want) <- values.zip(byColumn))
      assert(Option(Boost.toDec(v)) == want, s"$v: ${Boost.toDec(v)}, Spark $want")
    // the values tell the double's exact binary value from its decimal
    // string: a helper rounding new BigDecimal(double) disagrees
    val exactBinary = values.map(v => scala.util.Try(new java.math.BigDecimal(v)
      .setScale(12, java.math.RoundingMode.HALF_UP)).toOption)
    assert(exactBinary.zip(byColumn).count { case (a, b) => a != b } > 0)
  }

  test("a fit plans a fixed number of queries, whatever its tree count") {
    // every tree level folds over one projection planned once per fit: a
    // plan per level added at least two queries with each tree
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = java.util.Collections.synchronizedSet(java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[QueryExecution, java.lang.Boolean]))
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.exists(_.output.exists(_.name == "qplan_x1"))) seen.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val df = xorData.withColumnRenamed("x1", "qplan_x1")
    def queriesOf(numTrees: Int): Int = {
      Bridge.drainListenerBus(spark.sparkContext)
      seen.clear()
      Boost.fit(df, Seq("qplan_x1", "x2", "noise"), "y", numTrees = numTrees, maxDepth = 2)
      Bridge.drainListenerBus(spark.sparkContext)
      seen.size
    }
    spark.listenerManager.register(listener)
    val (two, three) =
      try (queriesOf(2), queriesOf(3)) finally spark.listenerManager.unregister(listener)
    info(s"$two queries for 2 trees, $three for 3")
    assert(two > 0 && two == three, s"$two queries for 2 trees, $three for 3")
  }

  /** The scoring form before threshold compares: each split tested its
    * feature's bin, a sum of one `when` per threshold. */
  private def binSumMargin(m: Boost.Model): Column = {
    def bin(i: Int): Column = m.thresholds(i).foldLeft(lit(0)) { (acc, t) =>
      acc + when(col(m.featureCols(i)) > t, 1).otherwise(0)
    }
    def tree(n: Boost.Node): Column = n match {
      case Boost.Leaf(w) => lit(w)
      case Boost.Split(f, b, l, r) => when(bin(f) <= b, tree(l)).otherwise(tree(r))
    }
    m.trees.map(tree).foldLeft(lit(m.basePrediction))(_ + _)
  }

  private def splitCount(m: Boost.Model): Int = {
    def go(n: Boost.Node): Int = n match {
      case Boost.Leaf(_) => 0
      case Boost.Split(_, _, l, r) => 1 + go(l) + go(r)
    }
    m.trees.map(go).sum
  }

  /** Every column of `m` scored both ways over rows that put each
    * feature on every threshold, next to it, at +-0.0, NaN, null, the
    * infinities and past both ends; doubles must agree bit for bit. */
  private def assertScoresAsBinSums(m: Boost.Model, name: String): Unit = {
    def probes(th: Array[Double]): Seq[Option[Double]] =
      (th.toSeq.flatMap(t => Seq(math.nextDown(t), t, math.nextUp(t))) ++
        Seq(-0.0, 0.0, Double.NaN, Double.PositiveInfinity,
          Double.NegativeInfinity, 1e9, -1e9)).map(Some(_)) :+ None
    val ps = m.thresholds.map(probes)
    // the first two features cross every pair of probes; the others cycle
    val rows = for (i <- ps(0).indices; j <- ps(1 % ps.size).indices) yield
      ps.indices.map {
        case 0 => ps(0)(i)
        case 1 => ps(1)(j)
        case k => ps(k)((i * 7 + j) % ps(k).size)
      }
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(m.featureCols.map(StructField(_, DoubleType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row.fromSeq(r.map(_.getOrElse(null))))), schema)
    val refMargin = binSumMargin(m)
    val refProb = lit(1.0) / (lit(1.0) + exp(-refMargin))
    val got = df.select(m.marginExpr, refMargin, m.probabilityExpr, refProb,
      m.predictExpr(), when(refProb >= 0.5, 1.0).otherwise(0.0)).collect()
    assert(got.length == rows.size)
    for ((r, k) <- got.zipWithIndex; c <- 0 until 6 by 2) {
      val (a, b) = (r.getDouble(c), r.getDouble(c + 1))
      assert(java.lang.Double.doubleToRawLongBits(a) ==
        java.lang.Double.doubleToRawLongBits(b),
        s"$name column $c row ${rows(k)}: $a vs bin-sum $b")
    }
    // counted in the analyzed plan: a Column converts to catalyst
    // expressions only there (Bridge.expression wraps it unconverted)
    val caseWhens = df.select(m.marginExpr).queryExecution.analyzed.expressions
      .map(_.collect { case _: CaseWhen => 1 }.size).sum
    assert(caseWhens > 0 && caseWhens <= splitCount(m),
      s"$name: $caseWhens CaseWhen nodes for ${splitCount(m)} splits")
  }

  test("scoring compares each split's threshold once, bit-identical to the bin sums") {
    val df = xorData.withColumn("const", lit(2.5))
    val fitted = Boost.fit(df, Seq("x1", "x2", "noise", "const"), "y",
      numTrees = 6, maxDepth = 3, lr = 0.4)
    assert(splitCount(fitted) > 6, fitted.describe)
    assertScoresAsBinSums(fitted, "fitted")
    // hand-built: thresholds holding both zeros, a feature with no
    // thresholds at all, and splits at and past the last threshold
    val hand = Boost.Model(Seq("a", "e"), Seq(Array(-1.0, -0.0, 0.0, 3.0), Array.empty),
      0.25, Seq(
        Boost.Split(0, 1, Boost.Leaf(-1.0),
          Boost.Split(0, 2, Boost.Leaf(0.5), Boost.Split(0, 3, Boost.Leaf(2.0), Boost.Leaf(4.0)))),
        Boost.Split(1, 0, Boost.Split(0, 4, Boost.Leaf(0.125), Boost.Leaf(8.0)), Boost.Leaf(16.0)),
        Boost.Split(0, 0, Boost.Leaf(0.75), Boost.Leaf(-0.75))))
    assertScoresAsBinSums(hand, "hand-built")
  }

  test("a null label fails fast, naming the label column") {
    // the null-label row is the only one with x2 > 0: its histogram cell
    // holds no other row
    val df = (0 until 200).map { i =>
      (i.toDouble, if (i == 7) 1.0 else 0.0, if (i == 7) None else Some((i % 2).toDouble))
    }.toDF("x1", "x2", "y")
    val e = intercept[IllegalArgumentException](
      Boost.fit(df, Seq("x1", "x2"), "y", numTrees = 2, maxDepth = 2))
    assert(e.getMessage.contains("label column 'y'"), e.getMessage)
    val ovr = intercept[IllegalArgumentException](
      Boost.fitOvr(df, Seq("x1", "x2"), "y", numClasses = 2, numTrees = 2))
    assert(ovr.getMessage.contains("label column 'y'"), ovr.getMessage)
  }

  test("a null label in the held-out frame fails early stopping, naming the label column") {
    // the held-out loss used to divide its sum by a row count that took in
    // the null-label rows the sum skipped: these 100 rows on 500 shrank
    // every loss by exactly 5/6
    val nulls = (0 until 100).map(_ => (0.5, 0.5, 0.0, Option.empty[Double]))
      .toDF("x1", "x2", "noise", "y")
    val e = intercept[IllegalArgumentException](
      Boost.fitEarlyStop(xorData, noiseValid(500).union(nulls), Seq("x1", "x2", "noise"), "y",
        numTrees = 3, earlyStoppingRounds = 2, maxDepth = 2))
    assert(e.getMessage.contains("label column 'y'"), e.getMessage)
    assert(e.getMessage.contains("100 null"), e.getMessage)
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
    val m = Boost.fitEarlyStop(train, noiseValid(500), Seq("x1", "x2", "noise"), "y",
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
    val df = threeClasses.cache()
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
