package graft.ensemble

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Cleaning

/** Ensemble combinators (SURVEY.md §2.9 E1-E12): pure column algebra over
  * prediction frames keyed by ID. Prediction frames are joined on the key
  * once; every blend below is then a narrow projection (no extra shuffles).
  */
object Ensemble {

  private def predCols(df: DataFrame, idCol: String): Seq[Column] =
    df.columns.filter(_ != idCol).map(col).toSeq

  /** E2 — simple average. Ref: src/ensemble/alternative.py:204-206. */
  def simpleAverage(ps: Seq[Column]): Column =
    ps.reduce(_ + _) / ps.size

  /** E1/E3 — weighted average with normalized weights (reference weights =
    * test_score^k, k ∈ {2,3,4}). Ref: src/ensemble/weighted.py:13-58. */
  def weightedAverage(ps: Seq[Column], weights: Seq[Double]): Column = {
    val z = weights.sum
    ps.zip(weights).map { case (p, w) => p * (w / z) }.reduce(_ + _)
  }

  /** E4 — geometric mean of clipped probabilities.
    * Ref: src/ensemble/alternative.py:208-213. */
  def geometricMean(ps: Seq[Column], eps: Double = 1e-10): Column =
    exp(ps.map(p => log(Cleaning.clip(p, eps, 1 - eps))).reduce(_ + _) / ps.size)

  /** E4, engine-exact form — the geometric-mean statistic with NO libm in
    * the path: each clipped probability quantizes to the 1e-6 integer grid
    * (floor(p·1e6 + 0.5) is the same IEEE multiply/add/floor on any
    * engine), and the result is the exact integer product Π aᵢ. That
    * product is a strictly monotone transform of the geometric mean
    * (gmean = (Πaᵢ)^(1/k) / 1e6), so every ranking / argmax / threshold
    * decision built on it is identical to [[geometricMean]]'s up to the
    * 1e-6 quantization — while the value is bit-reproducible across
    * engines, which log/exp (libm-dependent, measured 1-ulp divergence on
    * 11% of rows vs DuckDB) is not. k ≤ 3 keeps the product < 1e18 in
    * long range. Edge: probabilities below 0.5e-6 quantize to a ZERO
    * factor (the grid's resolution floor) — clip with a larger eps if
    * sub-grid probabilities must stay ranked. */
  def geometricMeanScaled(ps: Seq[Column], eps: Double = 1e-10): Column = {
    require(ps.size <= 3, "product of 1e6-scaled values exceeds long range")
    ps.map(p => floor(Cleaning.clip(p, eps, 1 - eps) * 1e6 + 0.5).cast("long"))
      .reduce(_ * _)
  }

  /** E5 — harmonic mean. Ref: alternative.py:215-220. */
  def harmonicMean(ps: Seq[Column], eps: Double = 1e-10): Column =
    lit(ps.size.toDouble) /
      ps.map(p => lit(1.0) / Cleaning.clip(p, eps, 1 - eps)).reduce(_ + _)

  /** E6 — exact median across the model axis (tiny fixed-size array per
    * row → sort_array + middle element(s); no percentile_approx needed).
    * Ref: alternative.py:222-225. */
  def medianOfPredictions(ps: Seq[Column]): Column = {
    val arr = sort_array(array(ps: _*))
    val n = ps.size
    if (n % 2 == 1) element_at(arr, n / 2 + 1)
    else (element_at(arr, n / 2) + element_at(arr, n / 2 + 1)) / 2.0
  }

  /** E7 — rank-based weights: models sorted by score, weight =
    * (n − rank + 1)². Ref: alternative.py:179-187. */
  def rankWeights(scores: Seq[Double]): Seq[Double] = {
    val n = scores.size
    val ranks = scores.zipWithIndex.sortBy(-_._1).zipWithIndex
      .map { case ((_, orig), rank) => orig -> (rank + 1) }.toMap
    (0 until n).map(i => math.pow(n - ranks(i) + 1.0, 2))
  }

  /** E9 — sequential blend ("boosting"): pred ← (1−lr)·pred + lr·next,
    * clipped each step. Ref: alternative.py:52-118. */
  def sequentialBlend(ps: Seq[Column], lr: Double, eps: Double = 1e-10): Column =
    ps.reduce((acc, p) =>
      Cleaning.clip(acc * (1 - lr) + p * lr, eps, 1 - eps))

  /** E11 — soft voting over per-class probability columns: per class c the
    * mean of models' P(c); argmax with deterministic smallest-class
    * tie-break. `classProbs(c)` = the models' columns for class c.
    * Ref: final-assignment/src/models/ensemble.py:52-67. */
  def softVote(classProbs: Seq[(String, Seq[Column])]): Column = {
    val means = classProbs.map { case (cls, ps) => (cls, simpleAverage(ps)) }
    val best = means.map(_._2).reduce(greatest(_, _))
    means.foldRight(lit(null).cast("string")) { case ((cls, m), acc) =>
      when(m === best, lit(cls)).otherwise(acc)
    }
  }

  /** E11 — hard (majority) voting with smallest-label tie-break. */
  def hardVote(preds: Seq[Column]): Column = {
    val arr = array(preds: _*)
    val distinctVals = array_distinct(sort_array(arr))
    // per candidate value: count of models voting for it
    val counted = transform(distinctVals, v =>
      struct(size(filter(arr, p => p === v)).as("n"), v.as("v")))
    // max by (n, then smallest v): sort by n asc, v desc → last element
    element_at(array_sort(counted, (a, b) =>
      when(a.getField("n") < b.getField("n"), -1)
        .when(a.getField("n") > b.getField("n"), 1)
        .when(a.getField("v") > b.getField("v"), -1)
        .when(a.getField("v") < b.getField("v"), 1)
        .otherwise(0)), -1).getField("v")
  }

  /** E12 — best config per model type from a results-store relation:
    * window max on test_score with deterministic tie-break.
    * Ref: src/ensemble/utils.py:26-74. */
  def bestPerType(results: DataFrame, typeCol: String = "model_type",
                  scoreCol: String = "test_score"): DataFrame = {
    val w = Window.partitionBy(col(typeCol))
      .orderBy(col(scoreCol).desc, col("config_name").asc)
    results.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** W6 — nth-best config per model type. Ref: src/ensemble/utils.py:77-92. */
  def nthBestPerType(results: DataFrame, rank: Int,
                     typeCol: String = "model_type",
                     scoreCol: String = "test_score"): DataFrame = {
    val w = Window.partitionBy(col(typeCol))
      .orderBy(col(scoreCol).desc, col("config_name").asc)
    results.withColumn("rank", row_number().over(w))
      .filter(col("rank") === rank)
  }
}
