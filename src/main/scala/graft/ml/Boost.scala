package graft.ml

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{Decimal, DecimalType}
import scala.reflect.ClassTag

/** From-scratch distributed gradient-boosted trees (SURVEY.md §2.8 L5) —
  * the XGBoost algorithm, not the XGBoost library: second-order (Newton)
  * boosting on a logistic objective, histogram split finding, level-wise
  * growth, shrinkage, and L2 leaf regularization.
  * Ref: teamProject/models/tree_models.py:20-97,
  * final-assignment/src/models/lightgbm_model.py:15-112 (the reference's
  * workhorse models — this closes the semantic gap with a native Spark
  * implementation rather than an MLlib approximation).
  *
  * Scale + determinism design:
  *  - Features are pre-binned once against exact per-feature quantile
  *    thresholds, so every boosting pass works on small ints.
  *  - A fit plans ONE query, the (label, bins) projection of the persisted
  *    binned frame; every tree level and held-out round reuses its RDD, so
  *    Catalyst plans and compiles nothing per level.
  *  - Each tree LEVEL is one single-stage job, no shuffle: per row, a task
  *    computes the finished trees' margin, the gradients (rounded as
  *    `CAST(... AS DECIMAL(30,12))` rounds) and the row's node, at up to
  *    numTrees × maxDepth int compares a row, and folds the frontier's rows
  *    into (node, feature, bin) sums; the driver merges the partials. Only
  *    that O(nodes·features·bins) histogram reaches the driver.
  *  - Gradient/hessian sums accumulate through exact decimals, so split
  *    choices (argmax over gains) are IDENTICAL under any partitioning,
  *    executor count, or AQE plan — the property MLlib's double-summed
  *    trees do not have (BoostSpec pins it).
  *  - Prediction compiles the trees into nested when/otherwise column
  *    expressions with ONE threshold compare per split — whole-stage-
  *    codegen'd, no per-row model object.
  */
object Boost {

  sealed trait Node
  /** Rows with bin(feature) <= bin go left: on the raw value, rows with
    * NOT (x > thresholds(feature)(bin)) — nulls included. */
  case class Split(feature: Int, bin: Int, left: Node, right: Node) extends Node
  case class Leaf(weight: Double) extends Node

  case class Model(featureCols: Seq[String], thresholds: Seq[Array[Double]],
                   basePrediction: Double, trees: Seq[Node],
                   valLosses: Seq[Double] = Nil) {

    /** Thresholds are sorted and distinct, so bin(x) = #{t : x > t} is
      * <= b exactly when x > t_b does not hold; a split at bin b >= the
      * threshold count sends every row left. */
    private def treeExpr(n: Node): Column = n match {
      case Leaf(w) => lit(w)
      case Split(f, b, l, r) if b < thresholds(f).length =>
        when(col(featureCols(f)) > thresholds(f)(b), treeExpr(r))
          .otherwise(treeExpr(l))
      case Split(_, _, l, _) => treeExpr(l)
    }

    /** Raw margin (log-odds) column. */
    def marginExpr: Column =
      trees.map(treeExpr).foldLeft(lit(basePrediction))(_ + _)

    /** P(label = 1) column. */
    def probabilityExpr: Column =
      lit(1.0) / (lit(1.0) + exp(-marginExpr))

    def predictExpr(threshold: Double = 0.5): Column =
      when(probabilityExpr >= threshold, 1.0).otherwise(0.0)

    /** Canonical structure dump (determinism assertions diff this). */
    def describe: String = {
      def go(n: Node): String = n match {
        case Leaf(w) => f"L($w%.6f)"
        case Split(f, b, l, r) => s"S($f<=$b,${go(l)},${go(r)})"
      }
      trees.map(go).mkString(";")
    }
  }

  private val dec = DecimalType(30, 12)

  /** One-vs-rest multiclass wrapper (the reference's sklearn
    * GradientBoosting / LightGBM tasks are multiclass): K binary boosters
    * on (y == k) targets, prediction = argmax of the raw margins
    * (monotone in per-class probability, ties → smallest class). */
  case class OvrModel(models: Seq[Model]) {
    def predictExpr: Column = {
      val margins = models.map(_.marginExpr)
      val best = margins.reduce(greatest(_, _))
      margins.zipWithIndex.foldRight(lit(0.0)) { case ((m, k), acc) =>
        when(m === best, lit(k.toDouble)).otherwise(acc)
      }
    }
  }

  /** Quantile-bin the features ONCE (shared by every binary fit an OVR
    * wrapper runs): exact per-feature thresholds from one percentile
    * pass, bins as small ints, label kept raw as `__label`. */
  private def binFeatures(df: DataFrame, featureCols: Seq[String],
                          labelCol: String, nBins: Int)
      : (DataFrame, Seq[Array[Double]]) = {
    val probs = (1 until nBins).map(_.toDouble / nBins)
    val pArr = probs.mkString("array(", ", ", ")")
    val qRow = df.select(featureCols.map(c =>
      expr(s"percentile(`$c`, $pArr)").as(c)) :+
      count_if(col(labelCol).cast("double").isNull): _*).head()
    // a null label has no gradient: it would count in the prior's n but
    // in no gradient sum, and a histogram cell of null labels alone has no
    // sum at all
    requireLabels("binFeatures", labelCol, qRow.getLong(featureCols.size))
    val thresholds = featureCols.indices.map { i =>
      // percentile() returns NULL for an all-null column — fail with the
      // column name, not an opaque NPE three calls deeper (a CONSTANT
      // column is fine: all its rows share one bin, so it never splits)
      require(!qRow.isNullAt(i),
        s"binFeatures: feature column '${featureCols(i)}' has no non-null " +
          "values (percentile returned NULL)")
      qRow.getSeq[Double](i).distinct.sorted.toArray
    }
    val binned = applyBins(df, featureCols, labelCol, thresholds)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (binned, thresholds)
  }

  private def requireLabels(where: String, labelCol: String, nulls: Long): Unit =
    require(nulls == 0,
      s"$where: label column '$labelCol' has $nulls null (or non-numeric) values")

  /** Bin a dataset against ALREADY-FITTED thresholds (validation /
    * scoring data must never re-fit its own quantiles): the label as the
    * double `__label`, feature i as `__bin_i`, the number of its
    * thresholds below the value. */
  private def applyBins(df: DataFrame, featureCols: Seq[String],
                        labelCol: String,
                        thresholds: Seq[Array[Double]]): DataFrame =
    df.select(col(labelCol).cast("double").as("__label") +:
      featureCols.indices.map { i =>
        thresholds(i).foldLeft(lit(0)) { (acc, t) =>
          acc + when(col(featureCols(i)) > t, 1).otherwise(0)
        }.as(s"__bin_$i")
      }: _*)

  /** Fit `numTrees` depth-`maxDepth` trees on binary labels (0/1).
    * One single-stage histogram job per tree level; `nBins`-quantile
    * histogram split finding; `lambda` = L2 leaf regularization; `lr` =
    * shrinkage; `minChildHess` guards degenerate splits (XGBoost's
    * min_child_weight). */
  def fit(df: DataFrame, featureCols: Seq[String], labelCol: String,
          numTrees: Int = 10, maxDepth: Int = 3, lr: Double = 0.3,
          lambda: Double = 1.0, nBins: Int = 16,
          minChildHess: Double = 1e-3): Model = {
    val (binned, thresholds) = binFeatures(df, featureCols, labelCol, nBins)
    try fitBinned(binned, col("__label"), featureCols, labelCol, thresholds,
      numTrees, maxDepth, lr, lambda, minChildHess)
    finally binned.unpersist()
  }

  /** L15 — GENUINE early stopping (not MLlib's validationIndicatorCol
    * approximation): after every boosting round the held-out logloss is
    * evaluated (one small fold job); training stops once it has not
    * improved for `earlyStoppingRounds` consecutive rounds, and the
    * returned model is truncated to the best round. Validation features
    * bin against the TRAIN-fitted thresholds (no leakage); per-row losses
    * accumulate through exact decimals, so the stopping round is
    * deterministic under any partitioning. `valLosses` records the curve
    * (one entry per round actually trained). A null validation label
    * fails the fit at the first round. */
  def fitEarlyStop(train: DataFrame, valid: DataFrame,
                   featureCols: Seq[String], labelCol: String,
                   numTrees: Int = 50, earlyStoppingRounds: Int = 5,
                   maxDepth: Int = 3, lr: Double = 0.3, lambda: Double = 1.0,
                   nBins: Int = 16, minChildHess: Double = 1e-3): Model = {
    val (binned, thresholds) = binFeatures(train, featureCols, labelCol, nBins)
    val vb = applyBins(valid, featureCols, labelCol, thresholds)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try fitBinned(binned, col("__label"), featureCols, labelCol, thresholds,
      numTrees, maxDepth, lr, lambda, minChildHess,
      valBinned = Some(vb), patience = earlyStoppingRounds)
    finally { binned.unpersist(); vb.unpersist() }
  }

  /** Boosts on the binned frame with `y` as the label; every fold reads one
    * projection per frame (`__y`, then the bins), planned once. */
  private def fitBinned(binned: DataFrame, y: Column, featureCols: Seq[String],
                        labelCol: String, thresholds: Seq[Array[Double]],
                        numTrees: Int, maxDepth: Int, lr: Double, lambda: Double,
                        minChildHess: Double, valBinned: Option[DataFrame] = None,
                        patience: Int = 0): Model = {
    val nFeat = featureCols.size
    def project(df: DataFrame, label: Column): DataFrame =
      df.select(label.as("__y") +: (0 until nFeat).map(i => col(s"__bin_$i")): _*)
    val train = project(binned, y)
    val held = valBinned.map(project(_, col("__label")))
    val prior = train.agg(count(lit(1)), sum("__y")).head()
    val (n, pos) = (prior.getLong(0).toDouble, prior.getDouble(1))
    // log-odds prior, clamped away from degenerate all-one/all-zero labels
    val p0 = math.min(1 - 1e-6, math.max(1e-6, pos / n))
    val base = math.log(p0 / (1 - p0))

    val width = thresholds.map(_.length).max + 1
    val trees = scala.collection.mutable.ArrayBuffer.empty[Node]
    val valLosses = scala.collection.mutable.ArrayBuffer.empty[Double]
    var (bestLoss, bestIdx, stop) = (Double.MaxValue, 0, false)

    for (treeIdx <- 1 to numTrees if !stop) {
      // level-wise growth: nodes of the current level, split in lockstep
      var frontier = Seq(0) // ascending node ids
      val splits = scala.collection.mutable.Map.empty[Int, (Int, Int)]
      val leaves = scala.collection.mutable.Map.empty[Int, Double]

      for (level <- 0 until maxDepth if frontier.nonEmpty) {
        val hist = levelHistogram(train, base, trees.toVector, splits.toMap,
          frontier, nFeat, width)

        val byNode = hist.groupBy(_._1)
        val nextFrontier = scala.collection.mutable.ArrayBuffer.empty[Int]
        for ((node, rows) <- byNode.toSeq.sortBy(_._1)) {
          // per-feature bin vectors (bins with no rows contribute zero)
          val gTot = rows.filter(_._2 == 0).map(_._4).sum
          val hTot = rows.filter(_._2 == 0).map(_._5).sum
          var best: Option[(Double, Int, Int)] = None // (gain, feat, bin)
          for (f <- 0 until nFeat) {
            val bins = rows.filter(_._2 == f).sortBy(_._3)
            var gl = BigDecimal(0); var hl = BigDecimal(0)
            for ((_, _, b, g, h) <- bins.dropRight(1)) { // never split after last bin
              gl += g; hl += h
              val gr = gTot - gl; val hr = hTot - hl
              if (hl.toDouble >= minChildHess && hr.toDouble >= minChildHess) {
                val gain =
                  gl.toDouble * gl.toDouble / (hl.toDouble + lambda) +
                    gr.toDouble * gr.toDouble / (hr.toDouble + lambda) -
                    gTot.toDouble * gTot.toDouble / (hTot.toDouble + lambda)
                // strict > : ties resolve to the FIRST (feature, bin) in
                // deterministic scan order, independent of everything
                if (best.forall(gain > _._1) && gain > 1e-12)
                  best = Some((gain, f, b))
              }
            }
          }
          best match {
            case Some((_, f, b)) if level < maxDepth - 1 =>
              splits(node) = (f, b)
              nextFrontier ++= Seq(2 * node + 1, 2 * node + 2)
            case Some((_, f, b)) => // last level: split, children are leaves
              splits(node) = (f, b)
              val gl = rows.filter(r => r._2 == f && r._3 <= b).map(_._4).sum
              val hl = rows.filter(r => r._2 == f && r._3 <= b).map(_._5).sum
              leaves(2 * node + 1) = -gl.toDouble / (hl.toDouble + lambda) * lr
              leaves(2 * node + 2) =
                -(gTot - gl).toDouble / ((hTot - hl).toDouble + lambda) * lr
            case None =>
              leaves(node) = -gTot.toDouble / (hTot.toDouble + lambda) * lr
          }
        }
        frontier = nextFrontier.toSeq
      }

      // assemble the tree from splits/leaves
      def build(node: Int): Node =
        leaves.get(node) match {
          case Some(w) => Leaf(w)
          case None => splits.get(node) match {
            case Some((f, b)) => Split(f, b, build(2 * node + 1), build(2 * node + 2))
            case None => Leaf(0.0) // unreachable guard
          }
        }
      trees += build(0)

      // early stopping: held-out logloss after this round (decimal-summed)
      for (vr <- held) {
        val parts = runFold(vr, "Boost.heldOutLoss", new LossFold(base, trees.toVector))
        requireLabels("fitEarlyStop (validation frame)", labelCol, parts.map(_._3).sum)
        val sum = parts.map(_._1).foldLeft(java.math.BigDecimal.ZERO)(_ add _)
        val loss = BigDecimal(sum).toDouble / parts.map(_._2).sum
        valLosses += loss
        if (loss < bestLoss - 1e-12) { bestLoss = loss; bestIdx = treeIdx }
        else if (patience > 0 && treeIdx - bestIdx >= patience) stop = true
      }
    }
    val kept = if (held.nonEmpty && patience > 0) trees.take(math.max(bestIdx, 1)) else trees
    Model(featureCols, thresholds, base, kept.toSeq, valLosses.toSeq)
  }

  /** `d` as Spark's `CAST(d AS DECIMAL(30,12))` evaluates it: `Decimal(d)`
    * (the double's shortest decimal string) rounded HALF_UP to 12 places;
    * NaN and the infinities become null, an overflow fails. */
  private[graft] def toDec(d: Double): java.math.BigDecimal =
    if (d.isNaN || d.isInfinite) null
    else {
      val v = Decimal(d)
      require(v.changePrecision(dec.precision, dec.scale), s"$d overflows $dec")
      v.toJavaBigDecimal
    }

  /** Leaf weight of a projected row (`__y`, bins): left when bin <= b. */
  @annotation.tailrec
  private def leafOf(n: Node, r: InternalRow): Double = n match {
    case Leaf(w) => w
    case Split(f, b, l, rt) => leafOf(if (r.getInt(1 + f) <= b) l else rt, r)
  }

  /** P(label = 1) of a projected row with [[Model.probabilityExpr]]'s
    * arithmetic: leaves added in tree order; Spark's `exp` is StrictMath's. */
  private def probability(base: Double, trees: Seq[Node], r: InternalRow): Double =
    1.0 / (1.0 + StrictMath.exp(-trees.foldLeft(base)(_ + leafOf(_, r))))

  /** Node of a projected row in the tree being grown, via its splits so far. */
  @annotation.tailrec
  private def nodeOf(splits: Map[Int, (Int, Int)], node: Int, r: InternalRow): Int =
    splits.get(node) match {
      case Some((f, b)) => nodeOf(splits, 2 * node + (if (r.getInt(1 + f) <= b) 1 else 2), r)
      case None => node
    }

  /** Per-task partial of one tree level's histogram: exact decimal sums
    * of g and h per (frontier node, feature, bin) cell, indexed
    * `(slot * nFeat + feature) * width + bin`. A cell stays null until a
    * row lands in it; null values are skipped, as SQL's sum skips them. */
  private final class LevelHist(cells: Int) extends Serializable {
    val g = new Array[java.math.BigDecimal](cells)
    val h = new Array[java.math.BigDecimal](cells)

    def add(c: Int, gv: java.math.BigDecimal, hv: java.math.BigDecimal): Unit = {
      if (g(c) == null) { g(c) = java.math.BigDecimal.ZERO; h(c) = java.math.BigDecimal.ZERO }
      if (gv != null) g(c) = g(c).add(gv)
      if (hv != null) h(c) = h(c).add(hv)
    }

    def merge(o: LevelHist): LevelHist = {
      for (c <- g.indices if o.g(c) != null) add(c, o.g(c), o.h(c))
      this
    }
  }

  /** A task's fold over its partition of a projection: a named class, as
    * Spark's closure cleaner re-parses a lambda's defining class per job. */
  private abstract class Fold[U] extends ((TaskContext, Iterator[InternalRow]) => U)
    with Serializable

  /** `fold` over every partition of `rows`: one SQL execution, one job. */
  private def runFold[U: ClassTag](rows: DataFrame, name: String, fold: Fold[U]): Array[U] =
    Bridge.withInternalRows(rows, name)(rdd => rdd.sparkContext.runJob(rdd, fold))

  /** Folds the Newton gradients of a task's frontier rows (frontier node →
    * `slot`), rounded by [[toDec]], into a [[LevelHist]]. */
  private final class LevelFold(base: Double, trees: Seq[Node], splits: Map[Int, (Int, Int)],
                                slot: Map[Int, Int], nFeat: Int, width: Int)
      extends Fold[LevelHist] {
    def apply(ctx: TaskContext, rows: Iterator[InternalRow]): LevelHist = {
      val acc = new LevelHist(slot.size * nFeat * width)
      for (r <- rows; s <- slot.get(nodeOf(splits, 0, r))) {
        val p = probability(base, trees, r)
        val g = toDec(p - r.getDouble(0))
        val h = toDec(p * (1.0 - p))
        for (f <- 0 until nFeat) acc.add((s * nFeat + f) * width + r.getInt(1 + f), g, h)
      }
      acc
    }
  }

  /** One tree level's histogram: (node, feature, bin, Σg, Σh) for every
    * cell of the `nodes` frontier that holds rows, from one [[LevelFold]]
    * job. BigDecimal addition is exact, so every sum equals SQL's
    * `sum(decimal(30,12))` under any partitioning. */
  private def levelHistogram(rows: DataFrame, base: Double, trees: Seq[Node],
                             splits: Map[Int, (Int, Int)], nodes: Seq[Int], nFeat: Int,
                             width: Int): Seq[(Int, Int, Int, BigDecimal, BigDecimal)] = {
    val hist = runFold(rows, "Boost.levelHistogram",
      new LevelFold(base, trees, splits, nodes.zipWithIndex.toMap, nFeat, width))
      .foldLeft(new LevelHist(nodes.size * nFeat * width))(_ merge _)
    for ((node, s) <- nodes.zipWithIndex; f <- 0 until nFeat; b <- 0 until width;
         c = (s * nFeat + f) * width + b if hist.g(c) != null)
      yield (node, f, b, BigDecimal(hist.g(c)), BigDecimal(hist.h(c)))
  }

  /** A task's held-out partial: the exact sum of its labelled rows' losses,
    * each rounded by [[toDec]] (Spark's `log` is StrictMath's), their count,
    * and the count of null labels. */
  private final class LossFold(base: Double, trees: Seq[Node])
      extends Fold[(java.math.BigDecimal, Long, Long)] {
    def apply(ctx: TaskContext, rows: Iterator[InternalRow]): (java.math.BigDecimal, Long, Long) = {
      var (sum, n, nulls) = (java.math.BigDecimal.ZERO, 0L, 0L)
      for (r <- rows) if (r.isNullAt(0)) nulls += 1 else {
        val y = r.getDouble(0)
        val p = math.min(1.0 - 1e-15, math.max(1e-15, probability(base, trees, r)))
        val loss = toDec(-(y * StrictMath.log(p) + (1.0 - y) * StrictMath.log(1.0 - p)))
        if (loss != null) sum = sum.add(loss)
        n += 1
      }
      (sum, n, nulls)
    }
  }

  /** One-vs-rest over a SHARED binning (features are quantile-binned and
    * persisted once, not once per class). */
  def fitOvr(df: DataFrame, featureCols: Seq[String], labelCol: String,
             numClasses: Int, numTrees: Int = 20, maxDepth: Int = 3,
             lr: Double = 0.3, lambda: Double = 1.0, nBins: Int = 16): OvrModel = {
    val (binned, thresholds) = binFeatures(df, featureCols, labelCol, nBins)
    // the per-class fits are independent chains over the SAME persisted
    // binned frame — run them concurrently (guide §2.6); each is
    // deterministic, so the models equal the sequential loop's.
    import scala.concurrent._
    import scala.concurrent.duration._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(numClasses, 8))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try OvrModel(Await.result(
      Future.sequence((0 until numClasses).map { k =>
        Future(fitBinned(binned, (col("__label") === k.toDouble).cast("double"),
          featureCols, labelCol, thresholds, numTrees, maxDepth, lr, lambda, 1e-3))
      }), Duration.Inf))
    finally { pool.shutdown(); binned.unpersist() }
  }
}
