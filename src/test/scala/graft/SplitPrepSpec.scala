package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ml.{Prep, Split}
import graft.ensemble.Ensemble

class SplitPrepSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def keyed = (1L to 1000L).map(i => (i, (i % 3).toString, i * 0.5)).toDF("id", "label", "v")

  test("tagModulo is exact") {
    val counts = Split.tagModulo(keyed, "id", 5, 4)
      .groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("test") == 200 && counts("train") == 800)
  }

  test("tagHoldout hits the fraction approximately and deterministically") {
    val t1 = Split.tagHoldout(keyed, "id", 0.25).filter(col("split") === "test").count()
    val t2 = Split.tagHoldout(keyed, "id", 0.25).filter(col("split") === "test").count()
    assert(t1 == t2)
    assert(math.abs(t1 - 250.0) < 60, s"holdout count $t1 far from 250")
  }

  test("stratified k-fold deals folds evenly within each label") {
    val folds = Split.tagStratifiedKFold(keyed, "id", "label", 5)
      .groupBy("label", "fold").count().collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    for (l <- Seq("0", "1", "2"); f <- 0 until 5) {
      val n = folds((l, f))
      val total = (0 until 5).map(ff => folds((l, ff))).sum
      assert(math.abs(n - total / 5.0) <= 1.0)
    }
  }

  test("stratified holdout preserves label shares") {
    val tagged = Split.tagStratifiedHoldout(keyed, "id", "label", 0.2)
    val byLabel = tagged.filter(col("split") === "test")
      .groupBy("label").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // 1000 rows, labels ~333 each → test ≈ 66-67 per label exactly (rank cut)
    byLabel.values.foreach(n => assert(n >= 66 && n <= 67))
  }

  test("bootstrap replicates ≈ ratio × n, deterministically") {
    val n1 = Split.bootstrap(keyed, "id", 1.0, seed = 42).count()
    val n2 = Split.bootstrap(keyed, "id", 1.0, seed = 42).count()
    assert(n1 == n2)
    assert(math.abs(n1 - 1000.0) < 150, s"bootstrap size $n1 far from 1000")
  }

  test("median imputer fills nulls with train median") {
    val train = Seq(Some(1.0), Some(3.0), Some(5.0), None).toDF("v")
    val fitted = Prep.fitImputer(train, Seq("v"), "median")
    assert(fitted.head.getDouble(1) == 3.0)
    val filled = Prep.impute(train, fitted).agg(sum("v")).head.getDouble(0)
    assert(filled == 1 + 3 + 5 + 3)
  }

  test("mode imputer: most frequent non-null value, ties to the smallest") {
    val train = Seq(
      (Some("b"), Some(3), Option.empty[String]), (Some("a"), Some(1), None),
      (Some("b"), Some(3), None), (Some("a"), Some(2), None),
      (None, None, None), (None, Some(3), None), (None, None, None),
      (Some("c"), None, None)).toDF("c", "n", "empty")
    // c: a 2, b 2, c 1 (3 nulls ignored) → "a"; n: 3 three times → "3";
    // an all-null column has no mode
    assert(Prep.fitModeImputer(train, Seq("c", "n", "empty")) ==
      Map("c" -> "a", "n" -> "3", "empty" -> null))
  }

  test("standard scaler gives mean≈0 std≈1") {
    val df = (1 to 100).map(_.toDouble).toDF("v")
    val fitted = Prep.fitStandardScaler(df, Seq("v"))
    val scaled = Prep.standardScale(df, fitted, Seq("v"))
    val r = scaled.agg(avg("v"), stddev("v")).head
    assert(math.abs(r.getDouble(0)) < 1e-9 && math.abs(r.getDouble(1) - 1.0) < 1e-9)
  }

  test("label encoder maps sorted distinct to 0..k-1; unseen → null") {
    val train = Seq("b", "a", "c", "a").toDF("x")
    val vocab = Prep.fitLabelEncoder(train, "x")
    val enc = Prep.labelEncode(Seq("a", "c", "zz").toDF("x"), vocab, "x")
      .collect().map(r => r.getString(0) -> (if (r.isNullAt(1)) -1 else r.getInt(1))).toMap
    assert(enc == Map("a" -> 0, "c" -> 2, "zz" -> -1))
  }

  test("one-hot emits fixed categories") {
    val df = Seq("x", "y").toDF("c")
    val oh = Prep.oneHot(df, "c", Seq("x", "y", "z"))
    assert(oh.columns.toSeq == Seq("c", "c_x", "c_y", "c_z"))
    val row = oh.filter(col("c") === "x").head
    assert(row.getInt(1) == 1 && row.getInt(2) == 0 && row.getInt(3) == 0)
  }

  test("corrMatrix + highCorrDrops drops the later of a perfect pair") {
    val df = (1 to 50).map(i => (i.toDouble, i * 2.0, math.sin(i.toDouble)))
      .toDF("a", "a2", "noise")
    val corr = Prep.corrMatrix(df, Seq("a", "a2", "noise"))
    val c = corr.collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(math.abs(c(("a", "a2")) - 1.0) < 1e-9)
    val drops = Prep.highCorrDrops(corr, Seq("a", "a2", "noise"), 0.99)
    assert(drops == Seq("a2"))
  }

  test("highCorrDrops greedy walk skips pairs whose first column was dropped") {
    // chain a~b hot, b~c hot, a~c NOT hot: greedy drops only b (the (b,c)
    // pair is skipped because b is already gone); the naive "every col_b of
    // a hot pair" reading would also drop c.
    val corr = Seq(
      ("a", "b", 0.997), ("a", "c", 0.90), ("b", "c", 0.996))
      .toDF("col_a", "col_b", "corr")
    assert(Prep.highCorrDrops(corr, Seq("a", "b", "c"), 0.95) == Seq("b"))
  }

  test("ensemble combinators: median, votes, rank weights") {
    val df = Seq((0.2, 0.5, 0.4)).toDF("p1", "p2", "p3")
    val med = df.select(Ensemble.medianOfPredictions(
      Seq(col("p1"), col("p2"), col("p3")))).head.getDouble(0)
    assert(med == 0.4)
    val med2 = df.select(Ensemble.medianOfPredictions(Seq(col("p1"), col("p2"))))
      .head.getDouble(0)
    assert(med2 == (0.2 + 0.5) / 2)

    val votes = Seq((1, 2, 2), (0, 1, 2)).toDF("v1", "v2", "v3")
      .select(Ensemble.hardVote(Seq(col("v1"), col("v2"), col("v3"))).as("w"))
      .collect().map(_.getInt(0))
    assert(votes === Array(2, 0)) // majority; all-distinct tie → smallest

    assert(Ensemble.rankWeights(Seq(0.6, 0.8, 0.7)) == Seq(1.0, 9.0, 4.0))

    val gm = df.select(Ensemble.geometricMean(Seq(col("p2"), col("p2")))).head.getDouble(0)
    assert(math.abs(gm - 0.5) < 1e-9)
  }

  test("geometricMeanScaled is the 1e-6-grid monotone form of geometricMean") {
    val df = Seq((0.2, 0.5, 0.4), (0.9, 0.125, 0.7), (0.011, 0.3, 0.999))
      .toDF("p1", "p2", "p3")
    val ps = Seq(col("p1"), col("p2"), col("p3"))
    val rows = df.select(
      Ensemble.geometricMean(ps).as("g"),
      Ensemble.geometricMeanScaled(ps).as("s")).collect()
    for (r <- rows) {
      // (prod/1e18)^(1/3) recovers the geometric mean up to the per-factor
      // 0.5e-6 quantization (relative ≤ ~5e-5 for probabilities ≥ 0.01)
      val back = math.cbrt(r.getLong(1) / 1e18)
      assert(math.abs(back - r.getDouble(0)) / r.getDouble(0) < 1e-3,
        s"scaled form drifted: $back vs ${r.getDouble(0)}")
    }
    // monotone: ordering by the product matches ordering by the mean
    val byG = rows.sortBy(_.getDouble(0)).map(_.getLong(1)).toSeq
    assert(byG == byG.sorted)
    // probabilities below the grid resolution quantize to a zero factor —
    // the documented edge of the 1e-6 fixed-point form
    val tiny = Seq((1e-12, 0.3, 0.999)).toDF("p1", "p2", "p3")
      .select(Ensemble.geometricMeanScaled(ps)).head.getLong(0)
    assert(tiny == 0L)
  }
}
