package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.DecimalType

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
  *  - Each tree LEVEL is ONE single-stage job, no shuffle: Catalyst
  *    projects the rows (frontier filter, decimal gradients, bins), each
  *    task folds its rows into a histogram of (node, feature, bin) sums,
  *    and `treeAggregate` merges the partials. Only the histogram —
  *    O(nodes·features·bins) cells, data-independent — reaches the
  *    driver; rows never do.
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

  def fitOvr(df: DataFrame, featureCols: Seq[String], labelCol: String,
             numClasses: Int, numTrees: Int = 20, maxDepth: Int = 3,
             lr: Double = 0.3, lambda: Double = 1.0, nBins: Int = 16): OvrModel =
    fitOvrBinned(df, featureCols, labelCol, numClasses, numTrees, maxDepth,
      lr, lambda, nBins)

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
    require(qRow.getLong(featureCols.size) == 0,
      s"binFeatures: label column '$labelCol' has " +
        s"${qRow.getLong(featureCols.size)} null (or non-numeric) values")
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
    try fitBinned(binned.withColumn("__y", col("__label")), featureCols,
      thresholds, numTrees, maxDepth, lr, lambda, minChildHess)
    finally binned.unpersist()
  }

  /** L15 — GENUINE early stopping (not MLlib's validationIndicatorCol
    * approximation): after every boosting round the held-out logloss is
    * evaluated (one small aggregate job); training stops once it has not
    * improved for `earlyStoppingRounds` consecutive rounds, and the
    * returned model is truncated to the best round. Validation features
    * bin against the TRAIN-fitted thresholds (no leakage); per-row losses
    * accumulate through exact decimals, so the stopping round is
    * deterministic under any partitioning. `valLosses` records the curve
    * (one entry per round actually trained). */
  def fitEarlyStop(train: DataFrame, valid: DataFrame,
                   featureCols: Seq[String], labelCol: String,
                   numTrees: Int = 50, earlyStoppingRounds: Int = 5,
                   maxDepth: Int = 3, lr: Double = 0.3, lambda: Double = 1.0,
                   nBins: Int = 16, minChildHess: Double = 1e-3): Model = {
    val (binned, thresholds) = binFeatures(train, featureCols, labelCol, nBins)
    val vb = applyBins(valid, featureCols, labelCol, thresholds)
      .withColumn("__y", col("__label"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try fitBinned(binned.withColumn("__y", col("__label")), featureCols,
      thresholds, numTrees, maxDepth, lr, lambda, minChildHess,
      valBinned = Some(vb), patience = earlyStoppingRounds)
    finally { binned.unpersist(); vb.unpersist() }
  }

  private def fitBinned(binned: DataFrame, featureCols: Seq[String],
                        thresholds: Seq[Array[Double]], numTrees: Int,
                        maxDepth: Int, lr: Double, lambda: Double,
                        minChildHess: Double,
                        valBinned: Option[DataFrame] = None,
                        patience: Int = 0): Model = {
    val prior = binned.agg(count(lit(1)), sum("__y")).head()
    val n = prior.getLong(0).toDouble
    val pos = prior.getDouble(1)
    // log-odds prior, clamped away from degenerate all-one/all-zero labels
    val p0 = math.min(1 - 1e-6, math.max(1e-6, pos / n))
    val base = math.log(p0 / (1 - p0))

    val nFeat = featureCols.size
    val width = thresholds.map(_.length).max + 1
    val binCols = featureCols.indices.map(i => col(s"__bin_$i"))
    var marginDf = binned.withColumn("__f", lit(base))
    val trees = scala.collection.mutable.ArrayBuffer.empty[Node]
    var valDf = valBinned.map(_.withColumn("__f", lit(base))).orNull
    val valLosses = scala.collection.mutable.ArrayBuffer.empty[Double]
    var bestLoss = Double.MaxValue
    var bestIdx = 0
    var stop = false

    for (treeIdx <- 1 to numTrees if !stop) {
      // Newton gradients on the logistic objective (row-local → exact
      // reproducibility; only their SUMS need order-independence)
      val withGrad = marginDf
        .withColumn("__p", lit(1.0) / (lit(1.0) + exp(-col("__f"))))
        .withColumn("__g", col("__p") - col("__y"))
        .withColumn("__h", col("__p") * (lit(1.0) - col("__p")))

      // level-wise growth: nodes of the current level, split in lockstep
      var assigned = withGrad.withColumn("__node", lit(0))
      var frontier = Seq(0) // ascending node ids
      val splits = scala.collection.mutable.Map.empty[Int, (Int, Int)]
      val leaves = scala.collection.mutable.Map.empty[Int, Double]

      for (level <- 0 until maxDepth if frontier.nonEmpty) {
        val hist = levelHistogram(assigned, frontier, binCols, width)

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
        // reassign rows of split nodes to their children
        if (splits.nonEmpty && nextFrontier.nonEmpty) {
          val reassign = frontier.foldLeft(col("__node")) {
            (acc, node) =>
              splits.get(node) match {
                case Some((f, b)) =>
                  when(col("__node") === node,
                    when(binCols(f) <= b, 2 * node + 1).otherwise(2 * node + 2))
                    .otherwise(acc)
                case None => acc
              }
          }
          assigned = assigned.withColumn("__node", reassign)
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
      val tree = build(0)
      trees += tree

      // margin update via the compiled tree expression (codegen'd)
      def treeCol(nd: Node): Column = nd match {
        case Leaf(w) => lit(w)
        case Split(f, b, l, r) =>
          when(binCols(f) <= b, treeCol(l)).otherwise(treeCol(r))
      }
      marginDf = marginDf.withColumn("__f", col("__f") + treeCol(tree))
        .select((Seq(col("__y"), col("__f")) ++ binCols): _*)
      // truncate the growing when-chain lineage every few trees (an eager
      // checkpoint is one extra job; every tree was measured 2× slower)
      if (treeIdx % 4 == 0 && treeIdx < numTrees)
        marginDf = marginDf.localCheckpoint(true)

      // early stopping: held-out logloss after this round (decimal-summed
      // → the stopping decision is partitioning-independent)
      if (valDf != null) {
        valDf = valDf.withColumn("__f", col("__f") + treeCol(tree))
          .select((Seq(col("__y"), col("__f")) ++ binCols): _*)
        if (treeIdx % 4 == 0) valDf = valDf.localCheckpoint(true)
        val p = lit(1.0) / (lit(1.0) + exp(-col("__f")))
        val pc = least(lit(1.0 - 1e-15), greatest(lit(1e-15), p))
        val row = valDf.select(
          sum((-(col("__y") * log(pc) +
            (lit(1.0) - col("__y")) * log(lit(1.0) - pc))).cast(dec)).as("s"),
          count(lit(1)).as("n")).head()
        val loss = BigDecimal(row.getDecimal(0)).toDouble / row.getLong(1)
        valLosses += loss
        if (loss < bestLoss - 1e-12) { bestLoss = loss; bestIdx = treeIdx }
        else if (patience > 0 && treeIdx - bestIdx >= patience) stop = true
      }
    }
    val kept =
      if (valDf != null && patience > 0) trees.take(math.max(bestIdx, 1))
      else trees
    Model(featureCols, thresholds, base, kept.toSeq, valLosses.toSeq)
  }

  /** Per-task partial of one tree level's histogram: exact decimal sums
    * of g and h per (frontier node, feature, bin) cell, in flat arrays
    * indexed `(slot * nFeat + feature) * width + bin`. A cell stays null
    * until a row lands in it, so the cells that hold rows are known, as
    * they would be to a groupBy over the rows; null values are skipped, as
    * SQL's sum skips them. */
  private final class LevelHist(cells: Int) extends Serializable {
    val g = new Array[java.math.BigDecimal](cells)
    val h = new Array[java.math.BigDecimal](cells)

    def add(c: Int, gv: java.math.BigDecimal, hv: java.math.BigDecimal): Unit = {
      if (g(c) == null) { g(c) = java.math.BigDecimal.ZERO; h(c) = java.math.BigDecimal.ZERO }
      if (gv != null) g(c) = g(c).add(gv)
      if (hv != null) h(c) = h(c).add(hv)
    }

    def merge(o: LevelHist): LevelHist = {
      var c = 0
      while (c < g.length) {
        if (o.g(c) != null) {
          if (g(c) == null) { g(c) = o.g(c); h(c) = o.h(c) }
          else { g(c) = g(c).add(o.g(c)); h(c) = h(c).add(o.h(c)) }
        }
        c += 1
      }
      this
    }
  }

  /** One tree level's histogram: (node, feature, bin, Σg, Σh) for every
    * cell of the `nodes` frontier that holds rows. One job with one stage
    * at small partition counts (`treeAggregate` adds a combine stage only
    * at many partitions): Catalyst projects each row — node filter, the
    * gradients cast to `dec` (Spark's own rounding), the bins — and each
    * task folds its rows into a [[LevelHist]]. BigDecimal addition is
    * exact, so every sum equals SQL's `sum(decimal(30,12))` under any
    * partitioning. */
  private def levelHistogram(assigned: DataFrame, nodes: Seq[Int], binCols: Seq[Column],
                             width: Int): Seq[(Int, Int, Int, BigDecimal, BigDecimal)] = {
    val rows = assigned.filter(col("__node").isin(nodes: _*))
      .select((col("__node") +: col("__g").cast(dec) +: col("__h").cast(dec) +: binCols): _*)
    val nFeat = binCols.size
    val slot = nodes.zipWithIndex.toMap
    val (prec, scale) = (dec.precision, dec.scale)
    val hist = Bridge.withInternalRows(rows, "Boost.levelHistogram") {
      _.treeAggregate(new LevelHist(nodes.size * nFeat * width))({ (acc, r) =>
        val g = if (r.isNullAt(1)) null else r.getDecimal(1, prec, scale).toJavaBigDecimal
        val h = if (r.isNullAt(2)) null else r.getDecimal(2, prec, scale).toJavaBigDecimal
        val cell0 = slot(r.getInt(0)) * nFeat
        var f = 0
        while (f < nFeat) {
          acc.add((cell0 + f) * width + r.getInt(3 + f), g, h)
          f += 1
        }
        acc
      }, _ merge _)
    }
    for {
      (node, s) <- nodes.zipWithIndex
      f <- 0 until nFeat
      b <- 0 until width
      c = (s * nFeat + f) * width + b
      if hist.g(c) != null
    } yield (node, f, b, BigDecimal(hist.g(c)), BigDecimal(hist.h(c)))
  }

  /** One-vs-rest over a SHARED binning (features are quantile-binned and
    * persisted once, not once per class). */
  private def fitOvrBinned(df: DataFrame, featureCols: Seq[String],
                           labelCol: String, numClasses: Int, numTrees: Int,
                           maxDepth: Int, lr: Double, lambda: Double,
                           nBins: Int): OvrModel = {
    val (binned, thresholds) = binFeatures(df, featureCols, labelCol, nBins)
    // the per-class binary fits are independent chains over the SAME
    // persisted binned frame — run them concurrently (guide §2.6: actions
    // are only sequential because the driver calls them sequentially).
    // Each fit is deterministic, so the model sequence is identical to
    // the sequential loop.
    import scala.concurrent._
    import scala.concurrent.duration._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(numClasses, 8))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try OvrModel(Await.result(
      Future.sequence((0 until numClasses).map { k =>
        Future(fitBinned(binned.withColumn("__y",
            (col("__label") === k.toDouble).cast("double")),
          featureCols, thresholds, numTrees, maxDepth, lr, lambda, 1e-3))
      }), Duration.Inf))
    finally { pool.shutdown(); binned.unpersist() }
  }
}
