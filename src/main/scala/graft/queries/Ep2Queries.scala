package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ml.{Forest, HistTree, Split}

/** EP2 — the reference's experiment-harness entry point, end to end, in
  * the hash-exact oracle club. Rounds 1-9 verified every STAGE piecewise
  * (q_e_*, q_t1, W2/W6); this query replays the COMPOSITION — the
  * workflow `overfitting_experiment.py` → `ensemble_experiment.py` →
  * `experiments/utils/test.py` actually runs:
  *
  *   1. CONFIG LADDER (overfitting_experiment.py:198-349): per
  *      (model_type, config) fit on train, predict probabilities on
  *      train AND test, metrics = F1 at threshold 0.5 + AUROC, score =
  *      (f1 + auroc)/2, overfitting gap = train − test
  *      (src/utils/metrics.py:11-48).
  *   2. RESULTS STORE: the ladder rows as a relation ('ladder' stage).
  *   3. BEST-PER-TYPE WITH EXCLUSIONS (src/ensemble/utils.py:26-74):
  *      max test_score per model type, ties to the FIRST config in
  *      results order (the reference's strict `>` keeps the first);
  *      the 'tree' family is EXCLUDED — the direct mirror of the
  *      reference's exclude_models=["DecisionTree", ...].
  *   4. SCORE²-WEIGHTED ENSEMBLE (src/ensemble/weighted.py:13-58):
  *      weight each surviving best model by test_score², normalize,
  *      weighted sum of test probabilities, threshold at 0.5.
  *   5. SUBMISSION SCORER (experiments/utils/test.py:18-59): F1 and
  *      AUROC computed on the submitted LABELS (the reference passes
  *      y_pred to roc_auc_score), final = (f1 + auroc)/2.
  *
  * Exactness design — every model in the ladder produces RATIONAL
  * probabilities (one exact-integer division, or a fixed left-associated
  * chain of them), so F1/AUROC/score/weights/ensemble are a fixed
  * sequence of integer ops + IEEE ops on bit-identical operands:
  *
  *   - `tree` (depth 1/2/3): ONE HistTree depth-3 fit on train; a
  *     depth-l config is the level-l PREFIX of that fit (level-wise
  *     greedy growth makes prefixes = shallower fits). Leaf probability
  *     = class-1 count / leaf count over train rows; unreached leaves
  *     fall back to the train prior.
  *   - `forest` (t2_d2 / t4_d2 / t4_d3): ONE md5-bootstrap Forest fit
  *     (T=4, depth=3); configs are (tree-count, depth) prefixes —
  *     bootstrap streams are per-tree-index, so the first T' trees of
  *     the T=4 fit ARE the T'-tree forest. Per-tree leaf probability =
  *     bootstrap-weighted class-1 weight / leaf weight; row probability
  *     = mean over non-abstaining trees in fixed tree order (0.0-filled
  *     COALESCE sum — adding 0.0 is the IEEE identity — divided by the
  *     non-null count), prior if every tree abstains.
  *   - `bnb` (bins 8/32): histogram naive Bayes on the SAME global
  *     train-min/max bins — all-rational NB twin of the reference's
  *     GaussianNB: Laplace-smoothed per-(feature, bin, class) count
  *     ratios, likelihood product in fixed feature order, prob =
  *     s1/(s0 + s1).
  *
  * AUROC is the doubled-midrank integer form: with r2 = 2·midrank
  * (always integer), AUC = (Σ_{y=1} r2 − n1(n1+1)) / (2·n1·n0) — exact
  * integers and ONE double division; the probability RANKING compares
  * doubles that are bit-identical cross-engine. The submission AUROC
  * (over binary labels) uses the closed form from the confusion counts
  * — no window at all.
  *
  * Split: the 20% holdout is FOLD 0 of the stratified md5 5-fold deal
  * (q_m11_kfold's discipline) — same deal text on both engines.
  *
  * Scale: fits are the PLANET-style histogram passes (see ml/Tree,
  * ml/Forest); everything after the ladder is fitted-parameter algebra
  * on an 8-row store plus one broadcast-joined scoring pass per config.
  */
object Ep2Queries extends QueryPack {
  private val D = 4   // quantized embedding dims used as features
  private val K = 5   // stratified fold deal; fold 0 = the 20% holdout
  private val TB = 32 // tree/forest histogram bins
  private val FT = 4      // fitted forest trees (configs take prefixes)
  private val FDepth = 3  // fitted forest depth (configs take prefixes)
  private val Mtry = 2
  private val Seed = 42
  private val NTrials = 8
  private val BnbBins = Seq(8, 32)

  /** Heap level of a node: 0 for the root, 1 for nodes 1-2, ... */
  private def levelOf(node: Int): Int =
    31 - Integer.numberOfLeadingZeros(node + 1)

  /** Quantized binary-labeled frame + the stratified fold deal; split =
    * 'test' on fold 0, 'train' elsewhere. */
  private def ep2Base(s: SparkSession, d: String): DataFrame =
    Split.tagStratifiedKFold(
      Tables(s, d, "embeddings").select(
        col("vec_id"),
        (col("label") % 2).cast("int").as("y"),
        array((0 until D).map(i =>
          floor(element_at(col("embedding"), i + 1).cast("double") * lit(1e6)
            + lit(0.5)).cast("double")): _*).as("x")),
      "vec_id", "y", K)
      .withColumn("split", when(col("fold") === 0, "test").otherwise("train"))
      .localCheckpoint(true)

  /** Process-scoped memo of the RESULTS STORE, keyed by data dir — the
    * reference's harness persists exactly this relation to disk
    * (results_store) and every downstream step reads the store, so a
    * re-query serving the memoized 11 metric rows mirrors the
    * reference's own behavior. The ForestQueries/R9Queries fitted-state
    * discipline: only driver-side result-store rows are kept (O(configs)
    * scalars); the distributed ladder runs once per process per dir. */
  private val storeMemo =
    scala.collection.concurrent.TrieMap[String, Seq[org.apache.spark.sql.Row]]()

  private val storeSchema = org.apache.spark.sql.types.StructType(
    Seq("stage", "model_type", "config_name").map(n =>
      org.apache.spark.sql.types.StructField(n,
        org.apache.spark.sql.types.StringType)) ++
      Seq("train_score", "test_f1", "test_auroc", "test_score", "gap_score",
        "weight").map(n => org.apache.spark.sql.types.StructField(n,
        org.apache.spark.sql.types.DoubleType)))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pipe_ep2" -> ((s, d) => {
      val rows = storeMemo.getOrElseUpdate(d,
        ep2Store(s, d).collect().toSeq)
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), storeSchema)
        .orderBy("stage", "model_type", "config_name")
    }))

  /** The full EP2 workflow as one DataFrame (the memo builder). */
  private def ep2Store(s: SparkSession, d: String): DataFrame = {
    {
      val tagged = ep2Base(s, d)
      val train = tagged.filter(col("split") === "train")

      // train prior (2 bounded longs — fitted-parameter scale)
      val pr = train.agg(sum(col("y")).cast("long").as("pn1"),
        count(lit(1)).as("pn")).head()
      val pn1 = pr.getAs[Long]("pn1")
      val pn = pr.getAs[Long]("pn")
      val pn0 = pn - pn1
      val priorP = pn1.toDouble / pn.toDouble

      // ---- tree family: one depth-3 fit, configs are level prefixes
      val tree3 = HistTree.fit(train, "x", "y", D, depth = FDepth, bins = TB)
      def truncTree(dep: Int) = HistTree.TreeModel(
        tree3.splits.filter(sp => levelOf(sp.node) < dep), Map.empty,
        tree3.mins, tree3.maxs, tree3.bins)
      def treeScored(dep: Int, cfg: String, idx: Int): DataFrame = {
        val leafed = tagged.select(col("vec_id"), col("split"), col("y"),
          truncTree(dep).leafExpr("x").as("leaf"))
        val st = leafed.filter(col("split") === "train")
          .groupBy("leaf")
          .agg(sum(col("y")).cast("long").as("n1"), count(lit(1)).as("n"))
        leafed.join(broadcast(st), Seq("leaf"), "left")
          .select(lit("tree").as("model_type"), lit(cfg).as("config_name"),
            lit(idx).as("cfg_idx"), col("vec_id"), col("split"), col("y"),
            coalesce(col("n1").cast("double") / col("n").cast("double"),
              lit(priorP)).as("prob"))
      }

      // ---- forest family: one (T=4, depth=3) fit, configs are
      // (tree-count, depth) prefixes
      val fm = Forest.fit(train, "vec_id", "x", "y", D, nTrees = FT,
        depth = FDepth, bins = TB, mtry = Mtry, seed = Seed,
        nTrials = NTrials)
      def truncFTree(t: Int, dep: Int) = HistTree.TreeModel(
        fm.trees(t).splits.filter(sp => levelOf(sp.node) < dep), Map.empty,
        fm.trees(t).mins, fm.trees(t).maxs, fm.trees(t).bins)
      def forestScored(tUse: Int, dep: Int, cfg: String, idx: Int): DataFrame = {
        val leafed = tagged.select(
          Seq(col("vec_id"), col("split"), col("y")) ++
            (0 until tUse).map(t => truncFTree(t, dep).leafExpr("x")
              .as(s"leaf_$t")): _*)
        val st = leafed.filter(col("split") === "train")
          .select(col("vec_id"), col("y"),
            posexplode(array((0 until tUse).map(t => col(s"leaf_$t")): _*))
              .as(Seq("t", "leaf")))
          .withColumn("w",
            Forest.weightExpr("vec_id", col("t"), Seed, NTrials).cast("long"))
          .filter(col("w") > 0)
          .groupBy("t", "leaf")
          .agg(sum(col("w") * col("y")).as("w1"), sum(col("w")).as("wt"))
        var cur = leafed
        for (t <- 0 until tUse)
          cur = cur.join(broadcast(st.filter(col("t") === t)
            .select(col("leaf").as(s"leaf_$t"),
              (col("w1").cast("double") / col("wt").cast("double"))
                .as(s"p_$t"))),
            Seq(s"leaf_$t"), "left")
        val sumP = (0 until tUse).map(t => coalesce(col(s"p_$t"), lit(0.0)))
          .reduce(_ + _)
        val cntP = (0 until tUse)
          .map(t => when(col(s"p_$t").isNotNull, 1).otherwise(0)).reduce(_ + _)
        cur.select(lit("forest").as("model_type"), lit(cfg).as("config_name"),
          lit(idx).as("cfg_idx"), col("vec_id"), col("split"), col("y"),
          when(cntP === 0, lit(priorP))
            .otherwise(sumP / cntP.cast("double")).as("prob"))
      }

      // ---- bnb family: histogram NB on the shared train min/max bins
      def bnbScored(bins: Int, cfg: String, idx: Int): DataFrame = {
        val binC = HistTree.binExprs("x", tree3.mins, tree3.maxs, bins)
        val binned = tagged.select(
          Seq(col("vec_id"), col("split"), col("y")) ++
            (0 until D).map(i => binC(i).as(s"c$i")): _*)
        // per-(feature, bin, class) train counts: bounded O(D·bins·2)
        val cnts = binned.filter(col("split") === "train")
          .select(col("y"),
            posexplode(array((0 until D).map(i => col(s"c$i")): _*))
              .as(Seq("f", "b")))
          .groupBy("f", "b", "y").agg(count(lit(1)).as("c"))
          .collect()
          .map(r => (r.getAs[Int]("f"), r.getAs[Int]("b"),
            r.getAs[Int]("y"), r.getAs[Long]("c")))
        def nY(cls: Int): Long = if (cls == 1) pn1 else pn0
        def factor(f: Int, cls: Int): Column = {
          val default = lit(1.0 / (nY(cls) + bins).toDouble)
          cnts.collect { case (`f`, b, `cls`, c) => (b, c) }
            .foldLeft(default: Column) { case (acc, (b, c)) =>
              when(col(s"c$f") === b,
                lit((c + 1).toDouble / (nY(cls) + bins).toDouble))
                .otherwise(acc)
            }
        }
        def sCls(cls: Int): Column = {
          val prior = lit(nY(cls).toDouble / pn.toDouble)
          (0 until D).foldLeft(prior: Column)((acc, i) => acc * factor(i, cls))
        }
        val s1 = sCls(1)
        val s0 = sCls(0)
        binned.select(lit("bnb").as("model_type"), lit(cfg).as("config_name"),
          lit(idx).as("cfg_idx"), col("vec_id"), col("split"), col("y"),
          (s1 / (s0 + s1)).as("prob"))
      }

      // ---- the ladder's scored relation (config order = store order)
      val scoredAll = Seq(
        treeScored(1, "depth1", 0),
        treeScored(2, "depth2", 1),
        treeScored(3, "depth3", 2),
        forestScored(2, 2, "t2_d2", 3),
        forestScored(4, 2, "t4_d2", 4),
        forestScored(4, 3, "t4_d3", 5),
        bnbScored(8, "bins8", 6),
        bnbScored(32, "bins32", 7)).reduce(_.unionByName(_))
        .localCheckpoint(true)

      // ---- metrics per (config, split): F1@0.5 + doubled-midrank AUROC
      val wPart = Window.partitionBy("model_type", "config_name", "split")
      val wTies = Window.partitionBy("model_type", "config_name", "split", "prob")
      val r2d = scoredAll
        .withColumn("minrk", rank().over(wPart.orderBy(col("prob"))))
        .withColumn("cntv", count(lit(1)).over(wTies))
        .withColumn("r2", (col("minrk") * 2 + col("cntv") - 1).cast("long"))
      val met = r2d.groupBy("model_type", "config_name", "cfg_idx", "split")
        .agg(
          sum(when(col("y") === 1, col("r2")).otherwise(0L)).as("s2"),
          sum(when(col("y") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("y") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("y") === 1 && col("prob") >= 0.5, 1L).otherwise(0L))
            .as("tp"),
          sum(when(col("y") === 0 && col("prob") >= 0.5, 1L).otherwise(0L))
            .as("fp"),
          sum(when(col("y") === 1 && col("prob") < 0.5, 1L).otherwise(0L))
            .as("fn"))
      val sc = met.select(col("model_type"), col("config_name"),
          col("cfg_idx"), col("split"),
          ((lit(2L) * col("tp")).cast("double") /
            (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double"))
            .as("f1"),
          ((col("s2") - col("n1") * (col("n1") + 1L)).cast("double") /
            (lit(2L) * col("n1") * col("n0")).cast("double")).as("auroc"))
        .withColumn("score", (col("f1") + col("auroc")) / lit(2.0))

      // ---- the results store (ladder), pivoted train/test
      val ladder = sc.groupBy("model_type", "config_name", "cfg_idx")
        .agg(
          max(when(col("split") === "train", col("score"))).as("train_score"),
          max(when(col("split") === "test", col("f1"))).as("test_f1"),
          max(when(col("split") === "test", col("auroc"))).as("test_auroc"),
          max(when(col("split") === "test", col("score"))).as("test_score"))
        .withColumn("gap_score", col("train_score") - col("test_score"))

      // ---- best per type, tree EXCLUDED (the DecisionTree exclusion)
      val best = ladder.filter(col("model_type") =!= "tree")
        .withColumn("rn", row_number().over(Window.partitionBy("model_type")
          .orderBy(col("test_score").desc, col("cfg_idx"))))
        .filter(col("rn") === 1).drop("rn")

      // ---- score²-weights (one pivoted row: fixed association)
      val wrow = best.agg(
        max(when(col("model_type") === "bnb",
          col("test_score") * col("test_score"))).as("wb"),
        max(when(col("model_type") === "forest",
          col("test_score") * col("test_score"))).as("wf"))

      // ---- weighted ensemble over the test rows of the two best configs
      val testProbs = scoredAll.filter(col("split") === "test")
        .join(broadcast(best.select("model_type", "config_name")),
          Seq("model_type", "config_name"))
        .groupBy("vec_id", "y")
        .agg(max(when(col("model_type") === "bnb", col("prob"))).as("pb"),
          max(when(col("model_type") === "forest", col("prob"))).as("pf"))
      val sub = testProbs.crossJoin(broadcast(wrow))
        .withColumn("pred",
          when((col("wb") / (col("wb") + col("wf"))) * col("pb") +
            (col("wf") / (col("wb") + col("wf"))) * col("pf") >= 0.5,
            1).otherwise(0))

      // ---- submission scorer: F1 + AUROC on the submitted LABELS;
      // binary-predictor AUROC has a windowless closed form from the
      // confusion counts (midrank of the pred=0 block is (m0+1)/2, of
      // the pred=1 block m0 + (m1+1)/2 — doubled to stay integer)
      val subc = sub.agg(
        sum(when(col("y") === 1 && col("pred") === 1, 1L).otherwise(0L))
          .as("tp"),
        sum(when(col("y") === 0 && col("pred") === 1, 1L).otherwise(0L))
          .as("fp"),
        sum(when(col("y") === 1 && col("pred") === 0, 1L).otherwise(0L))
          .as("fn"),
        sum(when(col("pred") === 0, 1L).otherwise(0L)).as("m0"),
        sum(when(col("pred") === 1, 1L).otherwise(0L)).as("m1"),
        sum(when(col("y") === 1, 1L).otherwise(0L)).as("n1s"),
        sum(when(col("y") === 0, 1L).otherwise(0L)).as("n0s"))
      val subm = subc.select(
        ((lit(2L) * col("tp")).cast("double") /
          (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double"))
          .as("f1"),
        ((col("fn") * (col("m0") + 1L) +
          col("tp") * (lit(2L) * col("m0") + col("m1") + 1L) -
          col("n1s") * (col("n1s") + 1L)).cast("double") /
          (lit(2L) * col("n1s") * col("n0s")).cast("double")).as("auroc"))

      // ---- final relation: ladder ∪ best (with weights) ∪ submission
      val nullD = lit(null).cast("double")
      val out = ladder.select(lit("ladder").as("stage"), col("model_type"),
          col("config_name"), col("train_score"), col("test_f1"),
          col("test_auroc"), col("test_score"), col("gap_score"),
          nullD.as("weight"))
        .unionByName(best.crossJoin(broadcast(wrow))
          .select(lit("best").as("stage"), col("model_type"),
            col("config_name"), col("train_score"), col("test_f1"),
            col("test_auroc"), col("test_score"), col("gap_score"),
            when(col("model_type") === "bnb",
              col("wb") / (col("wb") + col("wf")))
              .otherwise(col("wf") / (col("wb") + col("wf"))).as("weight")))
        .unionByName(subm.select(lit("submission").as("stage"),
          lit("ensemble").as("model_type"), lit("weighted").as("config_name"),
          nullD.as("train_score"), col("f1").as("test_f1"),
          col("auroc").as("test_auroc"),
          ((col("f1") + col("auroc")) / lit(2.0)).as("test_score"),
          nullD.as("gap_score"), nullD.as("weight")))
      out.orderBy("stage", "model_type", "config_name")
    }
  }

  // ---- oracle SQL ---------------------------------------------------

  import Sql.hashKey

  /** Base + prior CTEs: quantized features, y = label % 2, the
    * stratified md5 5-fold deal (fold 0 = holdout), train class counts,
    * and the shared train min/max. */
  private def baseCtes: String = {
    def x(i: Int) =
      s"floor(CAST(embedding[${i + 1}] AS DOUBLE)*1000000.0 + 0.5)"
    val baseCols = (0 until D).map(i => s"${x(i)} AS x$i").mkString(", ")
    val mm = (0 until D).map(i =>
      s"MIN(CAST(x$i AS BIGINT)) AS mn$i, MAX(CAST(x$i AS BIGINT)) AS mx$i")
      .mkString(", ")
    s"""e2base AS (SELECT vec_id, y, x0, x1, x2, x3,
       |    CAST((ROW_NUMBER() OVER (PARTITION BY y
       |      ORDER BY ${hashKey("vec_id", Seed)}, vec_id) - 1) % $K
       |      AS INTEGER) AS fold
       |  FROM (SELECT vec_id, CAST(label % 2 AS INTEGER) AS y, $baseCols
       |    FROM embeddings) t),
       |e2n AS (SELECT CAST(SUM(y) AS BIGINT) AS pn1, COUNT(*) AS pn,
       |    CAST(SUM(1 - y) AS BIGINT) AS pn0
       |  FROM e2base WHERE fold != 0),
       |e2mm AS (SELECT $mm FROM e2base WHERE fold != 0)""".stripMargin
  }

  private def binColsSql(bins: Int, out: Int => String): String =
    (0 until D).map(i =>
      s"CAST(greatest(least(floor(((b.x$i - m.mn$i) * $bins.0) / " +
        s"(m.mx$i - m.mn$i + 1.0)), ${bins - 1}.0), 0.0) AS INTEGER) " +
        s"AS ${out(i)}").mkString(",\n    ")

  /** Single-tree fit on train (fold != 0) + routing of ALL rows, one
    * level at a time; after each level: e2a$l (train rows at their
    * nodes), e2r$l (all rows routed), e2lp$l (leaf class counts).
    * Mirrors HistTree.fit stage for stage (R9Queries.treeCtes with the
    * fold dimension degenerate). */
  private def treeChain: String = {
    def assignSel(src: String, best: String) = {
      val pick = "CASE s.f WHEN 0 THEN a.b0 WHEN 1 THEN a.b1 " +
        "WHEN 2 THEN a.b2 ELSE a.b3 END"
      s"""SELECT a.vec_id, a.fold, a.y, a.b0, a.b1, a.b2, a.b3,
         |    CASE WHEN s.node IS NULL THEN a.node
         |         WHEN ($pick) <= s.b THEN 2*a.node + 1
         |         ELSE 2*a.node + 2 END AS node
         |  FROM $src a LEFT JOIN $best s ON s.node = a.node""".stripMargin
    }
    def level(l: Int): String = {
      val melt = (0 until D).map(i =>
        s"SELECT node, y, $i AS f, b$i AS b FROM e2a$l")
        .mkString("\n      UNION ALL ")
      s"""e2cand$l AS (SELECT node, f, b, y, count(*) AS cnt FROM (
         |      $melt) t GROUP BY 1, 2, 3, 4),
         |e2grid$l AS (SELECT n.node, CAST(ff.f AS INTEGER) AS f,
         |    CAST(bb.b AS INTEGER) AS b, l.y
         |  FROM (SELECT DISTINCT node FROM e2a$l) n
         |  CROSS JOIN (SELECT unnest(range(0, $D)) AS f) ff
         |  CROSS JOIN (SELECT unnest(range(0, $TB)) AS b) bb
         |  CROSS JOIN (SELECT DISTINCT y FROM e2base) l),
         |e2cum$l AS (SELECT g.node, g.f, g.b, g.y,
         |    SUM(COALESCE(c.cnt, 0)) OVER (PARTITION BY g.node, g.f, g.y
         |      ORDER BY g.b) AS cum,
         |    SUM(COALESCE(c.cnt, 0)) OVER (PARTITION BY g.node, g.f, g.y)
         |      AS tot
         |  FROM e2grid$l g LEFT JOIN e2cand$l c
         |    ON c.node = g.node AND c.f = g.f AND c.b = g.b AND c.y = g.y),
         |e2sc$l AS (SELECT node, f, b, SUM(cum) AS nl, SUM(tot - cum) AS nr,
         |    SUM(cum*cum) AS sl, SUM((tot - cum)*(tot - cum)) AS sr
         |  FROM e2cum$l GROUP BY 1, 2, 3),
         |e2nt$l AS (SELECT node, SUM(c) AS tn, SUM(c*c) AS st FROM
         |    (SELECT node, y, count(*) AS c FROM e2a$l GROUP BY 1, 2) t
         |  GROUP BY 1),
         |e2tb$l AS (SELECT * FROM (SELECT s.node, s.f, s.b,
         |      ROW_NUMBER() OVER (PARTITION BY s.node ORDER BY
         |        CAST(s.sl*s.nr + s.sr*s.nl AS DOUBLE) /
         |          CAST(s.nl*s.nr AS DOUBLE) DESC, s.f, s.b) AS rn
         |    FROM e2sc$l s JOIN e2nt$l t ON t.node = s.node
         |    WHERE s.nl > 0 AND s.nr > 0
         |      AND t.tn*(s.sl*s.nr + s.sr*s.nl) > t.st*s.nl*s.nr) z
         |  WHERE rn = 1),
         |e2a${l + 1} AS (${assignSel(s"e2a$l", s"e2tb$l")}),
         |e2r${l + 1} AS (${assignSel(s"e2r$l", s"e2tb$l")}),
         |e2lp${l + 1} AS (SELECT node, CAST(SUM(y) AS BIGINT) AS n1,
         |    COUNT(*) AS n
         |  FROM e2a${l + 1} GROUP BY node)""".stripMargin
    }
    s"""e2a0 AS (SELECT b.vec_id, b.fold, b.y, 0 AS node,
       |    ${binColsSql(TB, i => s"b$i")}
       |  FROM e2base b CROSS JOIN e2mm m WHERE b.fold != 0),
       |e2r0 AS (SELECT b.vec_id, b.fold, b.y, 0 AS node,
       |    ${binColsSql(TB, i => s"b$i")}
       |  FROM e2base b CROSS JOIN e2mm m),
       |${(0 until FDepth).map(level).mkString(",\n")}""".stripMargin
  }

  /** Forest fit on train (md5 bootstrap weights, md5-ranked mtry,
    * shared e2mm bins) + routing of ALL rows through all $FT trees;
    * after each level: e2fa$l (weighted train), e2fr$l (all rows
    * routed, per tree), e2flp$l (weighted leaf class counts). Mirrors
    * Forest.fit / ForestQueries.forestCtes with a holdout instead of
    * the cv/fold dimension. */
  private def forestChain: String = {
    val mtryHash =
      s"MD5('$Seed' || ':' || CAST(n.tf AS VARCHAR) || '#' || " +
        s"CAST(n.node AS VARCHAR) || '#' || CAST(ff.f AS VARCHAR))"
    val coin =
      s"substr(MD5('$Seed' || ':' || CAST(b.vec_id AS VARCHAR) || '#' || " +
        s"CAST(fd.tf*$NTrials + dd.d AS VARCHAR)), 1, 8) < '20000000'"
    def assignSel(src: String, best: String) = {
      val pick = "CASE s.f WHEN 0 THEN a.b0 WHEN 1 THEN a.b1 " +
        "WHEN 2 THEN a.b2 ELSE a.b3 END"
      s"""SELECT a.vec_id, a.fold, a.tf, a.y, a.w, a.b0, a.b1, a.b2, a.b3,
         |    CASE WHEN s.node IS NULL THEN a.node
         |         WHEN ($pick) <= s.b THEN 2*a.node + 1
         |         ELSE 2*a.node + 2 END AS node
         |  FROM $src a LEFT JOIN $best s
         |    ON s.tf = a.tf AND s.node = a.node""".stripMargin
    }
    def level(l: Int): String = {
      val melt = (0 until D).map(i =>
        s"SELECT tf, node, y, w, $i AS f, b$i AS b FROM e2fa$l")
        .mkString("\n      UNION ALL ")
      s"""e2fsel$l AS (SELECT tf, node, f FROM (
         |    SELECT n.tf, n.node, ff.f,
         |      ROW_NUMBER() OVER (PARTITION BY n.tf, n.node
         |        ORDER BY $mtryHash, ff.f) AS rn
         |    FROM (SELECT DISTINCT tf, node FROM e2fa$l) n
         |    CROSS JOIN (SELECT CAST(unnest(range(0, $D)) AS INTEGER) AS f)
         |      ff) z
         |  WHERE rn <= $Mtry),
         |e2fcand$l AS (SELECT tf, node, f, b, y, SUM(w) AS cnt FROM (
         |      $melt) t GROUP BY 1, 2, 3, 4, 5),
         |e2fgrid$l AS (SELECT sl.tf, sl.node, sl.f,
         |    CAST(bb.b AS INTEGER) AS b, l.y
         |  FROM e2fsel$l sl
         |  CROSS JOIN (SELECT unnest(range(0, $TB)) AS b) bb
         |  CROSS JOIN (SELECT DISTINCT y FROM e2base) l),
         |e2fcum$l AS (SELECT g.tf, g.node, g.f, g.b, g.y,
         |    SUM(COALESCE(c.cnt, 0)) OVER (PARTITION BY g.tf, g.node, g.f,
         |      g.y ORDER BY g.b) AS cum,
         |    SUM(COALESCE(c.cnt, 0)) OVER (PARTITION BY g.tf, g.node, g.f,
         |      g.y) AS tot
         |  FROM e2fgrid$l g LEFT JOIN e2fcand$l c
         |    ON c.tf = g.tf AND c.node = g.node AND c.f = g.f
         |      AND c.b = g.b AND c.y = g.y),
         |e2fsc$l AS (SELECT tf, node, f, b, SUM(cum) AS nl,
         |    SUM(tot - cum) AS nr,
         |    SUM(cum*cum) AS sl, SUM((tot - cum)*(tot - cum)) AS sr
         |  FROM e2fcum$l GROUP BY 1, 2, 3, 4),
         |e2fnt$l AS (SELECT tf, node, SUM(c) AS tn, SUM(c*c) AS st FROM
         |    (SELECT tf, node, y, SUM(w) AS c FROM e2fa$l GROUP BY 1, 2, 3) t
         |  GROUP BY 1, 2),
         |e2fb$l AS (SELECT * FROM (SELECT s.tf, s.node, s.f, s.b,
         |      ROW_NUMBER() OVER (PARTITION BY s.tf, s.node ORDER BY
         |        CAST(s.sl*s.nr + s.sr*s.nl AS DOUBLE) /
         |          CAST(s.nl*s.nr AS DOUBLE) DESC, s.f, s.b) AS rn
         |    FROM e2fsc$l s JOIN e2fnt$l t ON t.tf = s.tf AND t.node = s.node
         |    WHERE s.nl > 0 AND s.nr > 0
         |      AND t.tn*(s.sl*s.nr + s.sr*s.nl) > t.st*s.nl*s.nr) z
         |  WHERE rn = 1),
         |e2fa${l + 1} AS (${assignSel(s"e2fa$l", s"e2fb$l")}),
         |e2fr${l + 1} AS (${assignSel(s"e2fr$l", s"e2fb$l")}),
         |e2flp${l + 1} AS (SELECT tf, node, CAST(SUM(w*y) AS BIGINT) AS w1,
         |    CAST(SUM(w) AS BIGINT) AS wt
         |  FROM e2fa${l + 1} GROUP BY 1, 2)""".stripMargin
    }
    s"""e2ftr AS (SELECT CAST(unnest(range(0, $FT)) AS INTEGER) AS tf),
       |e2fw AS (SELECT b.vec_id, fd.tf,
       |    SUM(CASE WHEN $coin THEN 1 ELSE 0 END) AS w
       |  FROM e2base b CROSS JOIN e2ftr fd
       |    CROSS JOIN (SELECT unnest(range(0, $NTrials)) AS d) dd
       |  GROUP BY 1, 2),
       |e2fa0 AS (SELECT b.vec_id, b.fold, w.tf, b.y, w.w, 0 AS node,
       |    ${binColsSql(TB, i => s"b$i")}
       |  FROM e2base b JOIN e2fw w ON w.vec_id = b.vec_id
       |    CROSS JOIN e2mm m
       |  WHERE b.fold != 0 AND w.w > 0),
       |e2fr0 AS (SELECT b.vec_id, b.fold, w.tf, b.y, w.w, 0 AS node,
       |    ${binColsSql(TB, i => s"b$i")}
       |  FROM e2base b JOIN e2fw w ON w.vec_id = b.vec_id
       |    CROSS JOIN e2mm m),
       |${(0 until FDepth).map(level).mkString(",\n")}""".stripMargin
  }

  /** Histogram-NB CTEs for bin count `bins`: binned rows + pivoted
    * per-(feature, bin) class counts over train. */
  private def bnbCtes(bins: Int): String = {
    val melt = (0 until D).map(i =>
      s"SELECT $i AS f, c$i AS b, y FROM e2bb$bins WHERE fold != 0")
      .mkString("\n    UNION ALL ")
    s"""e2bb$bins AS (SELECT b.vec_id, b.fold, b.y,
       |    ${binColsSql(bins, i => s"c$i")}
       |  FROM e2base b CROSS JOIN e2mm m),
       |e2bc$bins AS (SELECT f, b,
       |    CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
       |    CAST(SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0
       |  FROM ($melt) t GROUP BY 1, 2)""".stripMargin
  }

  private val prior = "(SELECT CAST(pn1 AS DOUBLE)/CAST(pn AS DOUBLE) FROM e2n)"

  private def treeCfgSql(l: Int, cfg: String, idx: Int): String =
    s"""SELECT 'tree' AS model_type, '$cfg' AS config_name, $idx AS cfg_idx,
       |  r.vec_id, CASE WHEN r.fold = 0 THEN 'test' ELSE 'train' END AS split,
       |  r.y,
       |  COALESCE(CAST(p.n1 AS DOUBLE)/CAST(p.n AS DOUBLE), $prior) AS prob
       |FROM e2r$l r LEFT JOIN e2lp$l p ON p.node = r.node""".stripMargin

  private def forestCfgSql(tUse: Int, l: Int, cfg: String, idx: Int): String = {
    val ps = (0 until tUse)
      .map(t => s"MAX(CASE WHEN tf = $t THEN pt END) AS p$t")
      .mkString(",\n      ")
    val sumP = (0 until tUse).map(t => s"COALESCE(p$t, 0.0)")
      .reduce((a, b) => s"($a + $b)")
    val cnt = (0 until tUse)
      .map(t => s"(CASE WHEN p$t IS NULL THEN 0 ELSE 1 END)")
      .reduce((a, b) => s"($a + $b)")
    s"""SELECT 'forest' AS model_type, '$cfg' AS config_name, $idx AS cfg_idx,
       |  vec_id, CASE WHEN fold = 0 THEN 'test' ELSE 'train' END AS split, y,
       |  CASE WHEN ($cnt) = 0 THEN $prior
       |       ELSE $sumP / CAST($cnt AS DOUBLE) END AS prob
       |FROM (SELECT vec_id, fold, y,
       |      $ps
       |    FROM (SELECT r.vec_id, r.fold, r.y, r.tf,
       |        CAST(p.w1 AS DOUBLE)/CAST(p.wt AS DOUBLE) AS pt
       |      FROM e2fr$l r LEFT JOIN e2flp$l p
       |        ON p.tf = r.tf AND p.node = r.node
       |      WHERE r.tf < $tUse) q
       |    GROUP BY 1, 2, 3) z""".stripMargin
  }

  private def bnbCfgSql(bins: Int, cfg: String, idx: Int): String = {
    def fac(i: Int, cls: Int) =
      s"(CAST(COALESCE(j$i.c$cls, 0) + 1 AS DOUBLE)/" +
        s"CAST(n.pn$cls + $bins AS DOUBLE))"
    def sCls(cls: Int) = (0 until D)
      .foldLeft(s"(CAST(n.pn$cls AS DOUBLE)/CAST(n.pn AS DOUBLE))")(
        (acc, i) => s"($acc * ${fac(i, cls)})")
    val joins = (0 until D)
      .map(i => s"LEFT JOIN e2bc$bins j$i ON j$i.f = $i AND j$i.b = r.c$i")
      .mkString("\n  ")
    s"""SELECT 'bnb' AS model_type, '$cfg' AS config_name, $idx AS cfg_idx,
       |  r.vec_id, CASE WHEN r.fold = 0 THEN 'test' ELSE 'train' END AS split,
       |  r.y,
       |  ${sCls(1)} / (${sCls(0)} + ${sCls(1)}) AS prob
       |FROM e2bb$bins r
       |  $joins
       |  CROSS JOIN e2n n""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "q_pipe_ep2" -> {
      val probUnion = Seq(
        treeCfgSql(1, "depth1", 0),
        treeCfgSql(2, "depth2", 1),
        treeCfgSql(3, "depth3", 2),
        forestCfgSql(2, 2, "t2_d2", 3),
        forestCfgSql(4, 2, "t4_d2", 4),
        forestCfgSql(4, 3, "t4_d3", 5),
        bnbCfgSql(8, "bins8", 6),
        bnbCfgSql(32, "bins32", 7)).mkString("\n  UNION ALL\n  ")
      s"""WITH $baseCtes,
         |$treeChain,
         |$forestChain,
         |${bnbCtes(8)},
         |${bnbCtes(32)},
         |e2prob AS (
         |  $probUnion),
         |e2rk AS (SELECT *,
         |    RANK() OVER (PARTITION BY model_type, config_name, split
         |      ORDER BY prob) AS minrk,
         |    COUNT(*) OVER (PARTITION BY model_type, config_name, split,
         |      prob) AS cntv
         |  FROM e2prob),
         |e2met AS (SELECT model_type, config_name, cfg_idx, split,
         |    CAST(SUM(CASE WHEN y = 1 THEN minrk*2 + cntv - 1 ELSE 0 END)
         |      AS BIGINT) AS s2,
         |    CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    CAST(SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         |    CAST(SUM(CASE WHEN y = 1 AND prob >= 0.5 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS tp,
         |    CAST(SUM(CASE WHEN y = 0 AND prob >= 0.5 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS fp,
         |    CAST(SUM(CASE WHEN y = 1 AND prob < 0.5 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS fn
         |  FROM e2rk GROUP BY 1, 2, 3, 4),
         |e2score AS (SELECT *, (f1 + auroc)/2.0 AS score FROM (
         |  SELECT model_type, config_name, cfg_idx, split,
         |    CAST(2*tp AS DOUBLE)/CAST(2*tp + fp + fn AS DOUBLE) AS f1,
         |    CAST(s2 - n1*(n1 + 1) AS DOUBLE)/CAST(2*n1*n0 AS DOUBLE) AS auroc
         |  FROM e2met) t),
         |e2lad AS (SELECT *, train_score - test_score AS gap_score FROM (
         |  SELECT model_type, config_name, cfg_idx,
         |    MAX(CASE WHEN split = 'train' THEN score END) AS train_score,
         |    MAX(CASE WHEN split = 'test' THEN f1 END) AS test_f1,
         |    MAX(CASE WHEN split = 'test' THEN auroc END) AS test_auroc,
         |    MAX(CASE WHEN split = 'test' THEN score END) AS test_score
         |  FROM e2score GROUP BY 1, 2, 3) t),
         |e2best AS (SELECT * FROM (SELECT *,
         |    ROW_NUMBER() OVER (PARTITION BY model_type
         |      ORDER BY test_score DESC, cfg_idx) AS rn
         |  FROM e2lad WHERE model_type <> 'tree') z WHERE rn = 1),
         |e2w AS (SELECT
         |    MAX(CASE WHEN model_type = 'bnb' THEN test_score*test_score END)
         |      AS wb,
         |    MAX(CASE WHEN model_type = 'forest'
         |      THEN test_score*test_score END) AS wf
         |  FROM e2best),
         |e2ens AS (SELECT p.vec_id, p.y,
         |    MAX(CASE WHEN p.model_type = 'bnb' THEN p.prob END) AS pb,
         |    MAX(CASE WHEN p.model_type = 'forest' THEN p.prob END) AS pf
         |  FROM e2prob p JOIN e2best b ON b.model_type = p.model_type
         |    AND b.config_name = p.config_name
         |  WHERE p.split = 'test' GROUP BY 1, 2),
         |e2sub AS (SELECT e.vec_id, e.y,
         |    CASE WHEN (w.wb/(w.wb + w.wf))*e.pb
         |      + (w.wf/(w.wb + w.wf))*e.pf >= 0.5 THEN 1 ELSE 0 END AS pred
         |  FROM e2ens e CROSS JOIN e2w w),
         |e2subc AS (SELECT
         |    CAST(SUM(CASE WHEN y = 1 AND pred = 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS tp,
         |    CAST(SUM(CASE WHEN y = 0 AND pred = 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS fp,
         |    CAST(SUM(CASE WHEN y = 1 AND pred = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS fn,
         |    CAST(SUM(CASE WHEN pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS m0,
         |    CAST(SUM(CASE WHEN pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS m1,
         |    CAST(SUM(y) AS BIGINT) AS n1s,
         |    CAST(SUM(1 - y) AS BIGINT) AS n0s
         |  FROM e2sub),
         |e2subm AS (SELECT
         |    CAST(2*tp AS DOUBLE)/CAST(2*tp + fp + fn AS DOUBLE) AS f1,
         |    CAST(fn*(m0 + 1) + tp*(2*m0 + m1 + 1) - n1s*(n1s + 1) AS DOUBLE)
         |      /CAST(2*n1s*n0s AS DOUBLE) AS auroc
         |  FROM e2subc)
         |SELECT 'ladder' AS stage, model_type, config_name, train_score,
         |  test_f1, test_auroc, test_score, gap_score,
         |  CAST(NULL AS DOUBLE) AS weight
         |FROM e2lad
         |UNION ALL
         |SELECT 'best', b.model_type, b.config_name, b.train_score,
         |  b.test_f1, b.test_auroc, b.test_score, b.gap_score,
         |  CASE WHEN b.model_type = 'bnb' THEN w.wb/(w.wb + w.wf)
         |       ELSE w.wf/(w.wb + w.wf) END
         |FROM e2best b CROSS JOIN e2w w
         |UNION ALL
         |SELECT 'submission', 'ensemble', 'weighted', CAST(NULL AS DOUBLE),
         |  m.f1, m.auroc, (m.f1 + m.auroc)/2.0, CAST(NULL AS DOUBLE),
         |  CAST(NULL AS DOUBLE)
         |FROM e2subm m
         |ORDER BY stage, model_type, config_name""".stripMargin
    })
}
