package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ml.{ElasticNet, Extras, Forest, HistGbtR, HistTree, IsoForest}

/** Round-10 queries: the SUBSAMPLED-SPLIT-SELECTION path of the
  * hash-exact tree/forest family, oracle-verified.
  *
  * HistTree/Forest fits are exact only while per-node totals keep the
  * score numerator under 2^53 (~3·10⁵ rows). Past a `sampleCap`, the
  * per-level histogram — split selection only — now reads an
  * md5-thresholded uniform row subsample (md5("42:key#sub") prefix
  * under floor(cap/n·2³²)), while binning min/max, node routing and
  * leaf majorities keep FULL data. That predicate is pure (key), so the
  * oracle replays the whole subsampled fit bit-for-bit.
  *
  * These queries FORCE a tiny cap (300) so the subsample path engages
  * at every test scale (500-20 000 rows) — the production default
  * (200 000) would never trigger on test data, and an unexercised
  * scale path is an unverified one.
  *
  * Ref: src/models/decision_tree.py, src/models/random_forest.py (the
  * surfaces being modeled); subsampled split finding is the standard
  * large-scale move of PLANET §4 / LightGBM's histogram sampling.
  */
object R10Queries extends QueryPack {
  private val D = 4
  private val SubCap = 300L

  private[queries] def frame(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "embeddings").select(
      col("vec_id"),
      col("label").cast("int").as("y"),
      array((0 until D).map(i =>
        floor(element_at(col("embedding"), i + 1).cast("double") * lit(1e6)
          + lit(0.5)).cast("double")): _*).as("x"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The subsampled tree FIT as data: split selection sees only the
    // ~cap-row md5 subsample; the split table proves both engines chose
    // identical (feature, bin) argmins from it.
    "q_l_tree_sub_params" -> ((s, d) => {
      val m = HistTree.fit(frame(s, d), "x", "y", D,
        depth = ForestQueries.Depth, bins = ForestQueries.Bins,
        keyCol = Some("vec_id"), sampleCap = SubCap)
      import s.implicits._
      m.splits.map(sp =>
          (sp.node, sp.feature, sp.bin, sp.nLeft, sp.nRight, sp.score))
        .toDF("node", "feature", "threshold_bin", "n_left", "n_right",
          "score")
        .orderBy("node")
    }),

    // The subsampled FOREST end to end: md5-bootstrap weights, mtry on
    // the subsample's node set, splits from the subsampled weighted
    // histogram — then every row votes through all trees (leaf
    // majorities from FULL bootstrap-weighted data). In-sample
    // confusion of the vote.
    "q_l_rf_sub_confusion" -> ((s, d) => {
      val base = frame(s, d).localCheckpoint(true)
      val m = Forest.fit(base, "vec_id", "x", "y", D,
        nTrees = ForestQueries.T, depth = ForestQueries.Depth,
        bins = ForestQueries.Bins, mtry = ForestQueries.Mtry,
        seed = ForestQueries.Seed, nTrials = ForestQueries.NTrials,
        sampleCap = SubCap)
      m.predict(base, "x", "prediction")
        .select(col("y").as("label"), col("prediction"))
        .filter(col("prediction").isNotNull)
        .groupBy("label", "prediction").agg(count(lit(1)).as("n"))
        .orderBy("label", "prediction")
    }),

    // M14 — permutation importance, hash-exact (the impurity twin got
    // q_l_rf_importance in r9; this completes the pair both ways):
    // scorer = the SAME hash-exact forest as q_l_rf_*, permutation =
    // the md5-rank cyclic rotation of ONE feature column
    // (Extras.permuteColumn's discipline: rank all rows by
    // md5("1000:key"), each row takes the rotated row's value — a
    // deterministic uniform permutation with no RNG state), importance
    // = base accuracy − permuted accuracy (abstaining rows dropped on
    // both engines). Ref: wine nb 11 cell 46 (permutation_importance).
    "q_m14_perm_importance" -> ((s, d) => {
      // shares ForestQueries' memoized fit — the scorer IS q_l_rf_*'s
      // model, and the memo stores only driver-side fitted parameters
      val (base, m) = ForestQueries.fitted(s, d)
      val n = base.count()
      // rank ONCE (checkpointed), join the rotated row's WHOLE feature
      // array ONCE, and score base + all D permutations as parallel
      // predictExpr columns — one exchange and one aggregation pass
      // instead of D joins and D+1 aggregation jobs (7.0 → ~1 s idle).
      val ranked = Extras.hashRank(base, "vec_id", PermSeed, "__rn")
        .localCheckpoint(true)
      val shifted = ranked.select(
        (pmod(col("__rn"), lit(n)) + 1).as("__rn"), col("x").as("__xr"))
      var cur = ranked.join(shifted, Seq("__rn"))
      for (i <- 0 until D)
        cur = cur.withColumn(s"__x$i", array((0 until D).map(j =>
          if (j == i) element_at(col("__xr"), i + 1)
          else element_at(col("x"), j + 1)): _*))
      // ONE predictExpr instance scores all variants: exploding the
      // base + D permuted arrays into (variant, x) ROWS means the forest
      // cascade is analyzed/codegen'd once, not D+1 times — the whole
      // cost here is driver-side expression compilation, not the 2k rows
      // (five inlined cascades measured 12.6 s; this shape ~1 s).
      val exploded = cur.select(col("y"), explode(array(
          struct(lit(-1).as("v"), col("x").as("xx")) +:
            (0 until D).map(i =>
              struct(lit(i).as("v"), col(s"__x$i").as("xx"))): _*)).as("e"))
        .select(col("y"), col("e.v").as("v"), col("e.xx").as("xx"))
      val aggd = exploded.withColumn("p", m.predictExpr("xx"))
        .groupBy("v")
        .agg(sum(when(col("y") === col("p"), 1L).otherwise(0L)).as("c"),
          sum(when(col("p").isNotNull, 1L).otherwise(0L)).as("t"))
      val b = aggd.filter(col("v") === -1)
        .select(col("c").as("bc"), col("t").as("bt"))
      aggd.filter(col("v") >= 0).crossJoin(broadcast(b))
        .select(col("v").as("feature"),
          (col("bc").cast("double") / col("bt").cast("double"))
            .as("base_acc"),
          (col("c").cast("double") / col("t").cast("double"))
            .as("perm_acc"))
        .withColumn("importance", col("base_acc") - col("perm_acc"))
        .orderBy("feature")
    }),

    // L5's hash-exact member — squared-error GBDT on the integer label
    // (see ml/GbtExact.scala): the fitted split tables of every round,
    // residual sums included, replayed by one DuckDB statement.
    "q_l_gbt_params" -> ((s, d) => {
      val (m, _) = HistGbtR.fit(frame(s, d), "x", "y", D,
        rounds = GbtRounds, depth = GbtDepth, bins = GbtBins)
      import s.implicits._
      m.splits.map(sp => (sp.round, sp.node, sp.feature, sp.bin,
          sp.nLeft, sp.nRight, sp.sLeft, sp.sRight, sp.score))
        .toDF("round", "node", "feature", "threshold_bin",
          "n_left", "n_right", "s_left", "s_right", "score")
        .orderBy("round", "node")
    }),

    // The boosting TRAINING CURVE as exact integers: per round, the
    // post-update Σr² (round 0 = the F₀ baseline) and the leaf count —
    // monotone SSE descent proven bit-for-bit on both engines.
    "q_l_gbt_curve" -> ((s, d) => {
      val (_, curve) = HistGbtR.fit(frame(s, d), "x", "y", D,
        rounds = GbtRounds, depth = GbtDepth, bins = GbtBins)
      import s.implicits._
      curve.toDF("round", "sse", "n_leaves").orderBy("round")
    }),

    // Elastic-net coefficient path by cyclic coordinate descent (the
    // glmnet algorithm), hash-exact: ONE decimal-exact moment pass over
    // the integer-quantized features, then a fixed unrolled update
    // sequence the oracle spells out CTE by CTE. λ = 0 is the OLS end of
    // the path; the largest λ shrinks coefficients to exact zeros (the
    // soft threshold's CASE arm, not numerics).
    "q_l_enet_path" -> ((s, d) => {
      val fits = ElasticNet.path(frame(s, d), "x", "y", D,
        EnetLambdas, alpha = EnetAlpha, sweeps = EnetSweeps)
      import s.implicits._
      fits.flatMap(f =>
          f.betas.zipWithIndex.map { case (b, j) => (f.lambda, s"b$j", b) }
            :+ ((f.lambda, "icpt", f.intercept)))
        .toDF("lambda", "coef", "value")
        .orderBy("lambda", "coef")
    }),

    // Isolation forest (Liu et al. 2008), hash-exact: md5-deterministic
    // per-tree subsampling, md5-derived split feature + uniform
    // threshold in the node's [min, max], sklearn's average-path
    // adjustment — anomaly rank = ascending average path length. The
    // anomaly-detection member of the from-scratch model family; fit is
    // one (tree, node) min/max aggregation per level (PLANET shape with
    // the tree dimension melted into the key).
    "q_l_iforest" -> ((s, d) => {
      val base = frame(s, d)
      val m = IsoForest.fit(base, "vec_id", "x", D,
        trees = IfTrees, depth = IfDepth, seed = IfSeed,
        sampleFrac = IfFrac)
      graft.ops.Ranking.topKRanked(
          IsoForest.score(m, base, "vec_id", "x"),
          Seq("avg_path" -> false, "vec_id" -> false), 20)
        .select("rank", "vec_id", "avg_path")
        .orderBy("rank")
    }),

    // GBDT CLASSIFICATION, hash-exact — Friedman's LS-Boost on the
    // binary target: squared-error boosting fits E[y|x] = P(y=1|x)
    // directly, so thresholding the regression prediction at 1/2 IS the
    // classifier (the principled probability-regression route; logistic
    // Newton boosting stays in ml/Boost where transcendental gradient
    // sums preclude an oracle). The 0/1 label is scaled ×8 so the
    // INTEGER leaf updates (floorDiv, lr = 1/2) can move in sub-unit
    // probability steps — granularity 1/8, threshold = 4/8 exactly;
    // |r| ≤ ~8 keeps the exact-ranking bound satisfied through sf1.
    // In-sample confusion of the thresholded prediction.
    "q_l_gbt_class" -> ((s, d) => {
      val base = frame(s, d)
        .withColumn("yb", (col("y") % 2).cast("int"))
        .withColumn("ys", (col("yb") * 8).cast("long"))
      val (m, _) = HistGbtR.fit(base, "x", "ys", D,
        rounds = GbtRounds, depth = GbtDepth, bins = GbtBins)
      base.select(col("yb").as("label"),
          when(m.predictExpr("x") >= 4, 1).otherwise(0).as("prediction"))
        .groupBy("label", "prediction").agg(count(lit(1)).as("n"))
        .orderBy("label", "prediction")
    }))

  private val PermSeed = 1000
  private[queries] val GbtRounds = 3
  private[queries] val GbtDepth = 2
  private[queries] val GbtBins = 16
  private val IfTrees = 4
  private val IfDepth = 5
  private val IfSeed = 42
  private val IfFrac = 0.5
  private val EnetLambdas = Seq(0.0, 2.0e4, 2.0e5)
  private val EnetAlpha = 0.5
  private val EnetSweeps = 5

  // ---- oracle SQL ---------------------------------------------------

  /** In-SQL twin of HistTree.subsampleCond: threshold computed from the
    * row count, md5 text identical to Split.hashKey(key#sub, 42). */
  private[queries] def insubSql(nSrc: String, cap: Long = SubCap): String =
    s"CASE WHEN (SELECT n FROM $nSrc) <= $cap THEN TRUE " +
      s"ELSE substr(MD5(CONCAT_WS(':', '42', " +
      s"CAST(b.vec_id AS VARCHAR) || '#sub')), 1, 8) < " +
      s"printf('%08x', CAST(floor((CAST($cap AS DOUBLE) / " +
      s"CAST((SELECT n FROM $nSrc) AS DOUBLE)) * 4294967296.0) AS BIGINT)) " +
      s"END"

  /** Shared prefix: quantized base, row count, global min/max. */
  private[queries] def subBaseCtes: String = {
    def x(i: Int) =
      s"floor(CAST(embedding[${i + 1}] AS DOUBLE)*1000000.0 + 0.5)"
    val baseCols = (0 until D).map(i => s"${x(i)} AS x$i").mkString(", ")
    val mm = (0 until D).map(i =>
      s"MIN(CAST(x$i AS BIGINT)) AS mn$i, MAX(CAST(x$i AS BIGINT)) AS mx$i")
      .mkString(", ")
    s"""stbase AS (SELECT vec_id, CAST(label AS INTEGER) AS y,
       |    $baseCols
       |  FROM embeddings),
       |stn AS (SELECT COUNT(*) AS n FROM stbase),
       |stmm AS (SELECT $mm FROM stbase)""".stripMargin
  }

  /** Single-tree subsampled fit: histogram CTEs read WHERE insub; node
    * assignment keeps all rows. Mirrors HistTree.fit with keyCol set. */
  private def subTreeChain: String = {
    val B = ForestQueries.Bins
    val depth = ForestQueries.Depth
    val binCols = (0 until D).map(i =>
      s"CAST(greatest(least(floor(((b.x$i - m.mn$i) * $B.0) / " +
        s"(m.mx$i - m.mn$i + 1.0)), ${B - 1}.0), 0.0) AS INTEGER) AS b$i")
      .mkString(",\n    ")
    def level(l: Int): String = {
      val melt = (0 until D).map(i =>
        s"SELECT node, y, $i AS f, b$i AS b FROM sta$l WHERE insub")
        .mkString("\n      UNION ALL ")
      s"""stcand$l AS (SELECT node, f, b, y, count(*) AS cnt FROM (
         |      $melt) t GROUP BY 1, 2, 3, 4),
         |stgrid$l AS (SELECT n.node, CAST(ff.f AS INTEGER) AS f,
         |    CAST(bb.b AS INTEGER) AS b, l.y
         |  FROM (SELECT DISTINCT node FROM sta$l WHERE insub) n
         |  CROSS JOIN (SELECT unnest(range(0, $D)) AS f) ff
         |  CROSS JOIN (SELECT unnest(range(0, $B)) AS b) bb
         |  CROSS JOIN (SELECT DISTINCT y FROM stbase) l),
         |stcum$l AS (SELECT g.node, g.f, g.b, g.y,
         |    SUM(COALESCE(c.cnt, 0)) OVER (PARTITION BY g.node, g.f, g.y
         |      ORDER BY g.b) AS cum,
         |    SUM(COALESCE(c.cnt, 0)) OVER (PARTITION BY g.node, g.f, g.y)
         |      AS tot
         |  FROM stgrid$l g LEFT JOIN stcand$l c
         |    ON c.node = g.node AND c.f = g.f AND c.b = g.b AND c.y = g.y),
         |stsc$l AS (SELECT node, f, b, SUM(cum) AS nl, SUM(tot - cum) AS nr,
         |    SUM(cum*cum) AS sl, SUM((tot - cum)*(tot - cum)) AS sr
         |  FROM stcum$l GROUP BY 1, 2, 3),
         |stnt$l AS (SELECT node, SUM(c) AS tn, SUM(c*c) AS st FROM
         |    (SELECT node, y, count(*) AS c FROM sta$l WHERE insub
         |      GROUP BY 1, 2) t
         |  GROUP BY 1),
         |stbest$l AS (SELECT * FROM (SELECT s.node, s.f, s.b, s.nl, s.nr,
         |      CAST(s.sl*s.nr + s.sr*s.nl AS DOUBLE) /
         |        CAST(s.nl*s.nr AS DOUBLE) AS score,
         |      ROW_NUMBER() OVER (PARTITION BY s.node ORDER BY
         |        CAST(s.sl*s.nr + s.sr*s.nl AS DOUBLE) /
         |          CAST(s.nl*s.nr AS DOUBLE) DESC, s.f, s.b) AS rn
         |    FROM stsc$l s JOIN stnt$l t ON t.node = s.node
         |    WHERE s.nl > 0 AND s.nr > 0
         |      AND t.tn*(s.sl*s.nr + s.sr*s.nl) > t.st*s.nl*s.nr) z
         |  WHERE rn = 1),
         |sta${l + 1} AS (SELECT a.vec_id, a.y, a.insub, a.b0, a.b1, a.b2,
         |    a.b3,
         |    CASE WHEN s.node IS NULL THEN a.node
         |         WHEN (CASE s.f WHEN 0 THEN a.b0 WHEN 1 THEN a.b1
         |               WHEN 2 THEN a.b2 ELSE a.b3 END) <= s.b
         |           THEN 2*a.node + 1
         |         ELSE 2*a.node + 2 END AS node
         |  FROM sta$l a LEFT JOIN stbest$l s ON s.node = a.node)"""
        .stripMargin
    }
    s"""sta0 AS (SELECT b.vec_id, b.y, ${insubSql("stn")} AS insub,
       |    0 AS node,
       |    $binCols
       |  FROM stbase b CROSS JOIN stmm m),
       |${(0 until depth).map(level).mkString(",\n")}""".stripMargin
  }

  /** Subsampled forest fit + in-sample routing: fit histograms (fcand,
    * fnt) and the mtry node set read WHERE insub; leaf majorities and
    * the scoring relation keep full (bootstrap-weighted) data. Mirrors
    * Forest.fit with sampleCap set. */
  private def subForestCtes: String = {
    val B = ForestQueries.Bins
    val depth = ForestQueries.Depth
    val T = ForestQueries.T
    val mtry = ForestQueries.Mtry
    val seed = ForestQueries.Seed
    val nTrials = ForestQueries.NTrials
    val binCols = (0 until D).map(i =>
      s"CAST(greatest(least(floor(((b.x$i - m.mn$i) * $B.0) / " +
        s"(m.mx$i - m.mn$i + 1.0)), ${B - 1}.0), 0.0) AS INTEGER) AS b$i")
      .mkString(",\n    ")
    val mtryHash =
      s"MD5('$seed' || ':' || CAST(n.tf AS VARCHAR) || '#' || " +
        s"CAST(n.node AS VARCHAR) || '#' || CAST(ff.f AS VARCHAR))"
    val coin =
      s"substr(MD5('$seed' || ':' || CAST(b.vec_id AS VARCHAR) || '#' || " +
        s"CAST(fd.tf*$nTrials + dd.d AS VARCHAR)), 1, 8) < '20000000'"
    def assignSel(src: String, best: String) = {
      val pick = "CASE s.f WHEN 0 THEN a.b0 WHEN 1 THEN a.b1 " +
        "WHEN 2 THEN a.b2 ELSE a.b3 END"
      s"""SELECT a.vec_id, a.tf, a.y, a.w, a.insub, a.b0, a.b1, a.b2, a.b3,
         |    CASE WHEN s.node IS NULL THEN a.node
         |         WHEN ($pick) <= s.b THEN 2*a.node + 1
         |         ELSE 2*a.node + 2 END AS node
         |  FROM $src a LEFT JOIN $best s
         |    ON s.tf = a.tf AND s.node = a.node""".stripMargin
    }
    def level(l: Int): String = {
      val melt = (0 until D).map(i =>
        s"SELECT tf, node, y, w, $i AS f, b$i AS b FROM sfa$l WHERE insub")
        .mkString("\n      UNION ALL ")
      s"""sfsel$l AS (SELECT tf, node, f FROM (
         |    SELECT n.tf, n.node, ff.f,
         |      ROW_NUMBER() OVER (PARTITION BY n.tf, n.node
         |        ORDER BY $mtryHash, ff.f) AS rn
         |    FROM (SELECT DISTINCT tf, node FROM sfa$l WHERE insub) n
         |    CROSS JOIN (SELECT CAST(unnest(range(0, $D)) AS INTEGER) AS f)
         |      ff) z
         |  WHERE rn <= $mtry),
         |sfcand$l AS (SELECT tf, node, f, b, y, SUM(w) AS cnt FROM (
         |      $melt) t GROUP BY 1, 2, 3, 4, 5),
         |sfgrid$l AS (SELECT sl.tf, sl.node, sl.f,
         |    CAST(bb.b AS INTEGER) AS b, l.y
         |  FROM sfsel$l sl
         |  CROSS JOIN (SELECT unnest(range(0, $B)) AS b) bb
         |  CROSS JOIN (SELECT DISTINCT y FROM stbase) l),
         |sfcum$l AS (SELECT g.tf, g.node, g.f, g.b, g.y,
         |    SUM(COALESCE(c.cnt, 0)) OVER (PARTITION BY g.tf, g.node, g.f,
         |      g.y ORDER BY g.b) AS cum,
         |    SUM(COALESCE(c.cnt, 0)) OVER (PARTITION BY g.tf, g.node, g.f,
         |      g.y) AS tot
         |  FROM sfgrid$l g LEFT JOIN sfcand$l c
         |    ON c.tf = g.tf AND c.node = g.node AND c.f = g.f
         |      AND c.b = g.b AND c.y = g.y),
         |sfsc$l AS (SELECT tf, node, f, b, SUM(cum) AS nl,
         |    SUM(tot - cum) AS nr,
         |    SUM(cum*cum) AS sl, SUM((tot - cum)*(tot - cum)) AS sr
         |  FROM sfcum$l GROUP BY 1, 2, 3, 4),
         |sfnt$l AS (SELECT tf, node, SUM(c) AS tn, SUM(c*c) AS st FROM
         |    (SELECT tf, node, y, SUM(w) AS c FROM sfa$l WHERE insub
         |      GROUP BY 1, 2, 3) t
         |  GROUP BY 1, 2),
         |sfbest$l AS (SELECT * FROM (SELECT s.tf, s.node, s.f, s.b,
         |      s.nl, s.nr,
         |      ROW_NUMBER() OVER (PARTITION BY s.tf, s.node ORDER BY
         |        CAST(s.sl*s.nr + s.sr*s.nl AS DOUBLE) /
         |          CAST(s.nl*s.nr AS DOUBLE) DESC, s.f, s.b) AS rn
         |    FROM sfsc$l s JOIN sfnt$l t ON t.tf = s.tf AND t.node = s.node
         |    WHERE s.nl > 0 AND s.nr > 0
         |      AND t.tn*(s.sl*s.nr + s.sr*s.nl) > t.st*s.nl*s.nr) z
         |  WHERE rn = 1),
         |sfa${l + 1} AS (${assignSel(s"sfa$l", s"sfbest$l")}),
         |sfat${l + 1} AS (${assignSel(s"sfat$l", s"sfbest$l")})"""
        .stripMargin
    }
    s"""sftr AS (SELECT CAST(unnest(range(0, $T)) AS INTEGER) AS tf),
       |sfw AS (SELECT b.vec_id, fd.tf,
       |    SUM(CASE WHEN $coin THEN 1 ELSE 0 END) AS w
       |  FROM stbase b CROSS JOIN sftr fd
       |    CROSS JOIN (SELECT unnest(range(0, $nTrials)) AS d) dd
       |  GROUP BY 1, 2),
       |sfa0 AS (SELECT b.vec_id, w.tf, b.y, w.w, ${insubSql("stn")}
       |      AS insub,
       |    0 AS node,
       |    $binCols
       |  FROM stbase b JOIN sfw w ON w.vec_id = b.vec_id
       |    CROSS JOIN stmm m
       |  WHERE w.w > 0),
       |sfat0 AS (SELECT b.vec_id, w.tf, b.y, w.w, TRUE AS insub, 0 AS node,
       |    $binCols
       |  FROM stbase b JOIN sfw w ON w.vec_id = b.vec_id
       |    CROSS JOIN stmm m),
       |${(0 until depth).map(level).mkString(",\n")},
       |sfleaf AS (SELECT tf, node, y AS pred FROM (SELECT tf, node, y,
       |    ROW_NUMBER() OVER (PARTITION BY tf, node ORDER BY c DESC, y)
       |      AS rn
       |  FROM (SELECT tf, node, y, SUM(w) AS c FROM sfa$depth
       |    GROUP BY 1, 2, 3) t) z
       |  WHERE rn = 1),
       |sfpred AS (SELECT t.vec_id, t.y, l.pred
       |  FROM sfat$depth t JOIN sfleaf l
       |    ON l.tf = t.tf AND l.node = t.node)""".stripMargin
  }

  /** Exact floor division (rounds toward −∞, like Math.floorDiv): the
    * numerator is made divisible first, so `//`'s rounding mode is
    * immaterial. DuckDB's `%` follows the dividend's sign, like Java. */
  private[queries] def floordivSql(a: String, b: String): String =
    s"((($a) - (((($a) % ($b)) + ($b)) % ($b))) // ($b))"

  /** The boosting chain: residuals g0 → per round t (per level:
    * histogram of (Σr, count), variance-gain argmax with the HUGEINT
    * strict-improvement test, reassignment) → leaf stats → floor-div
    * leaf values → updated residuals g$t. Mirrors HistGbtR.fit.
    * `yExpr` is the integer target as an expression over stbase row `b`
    * (regression: the raw label; classification: the scaled binary
    * label); (vec_id, y) ride through every round so consumers can
    * recover the prediction F = target − r_final. */
  private def gbtCtes: String = gbtCtesFor("CAST(b.y AS BIGINT)")

  /** `sub = true` threads the md5 subsample flag through the chain —
    * histogram CTEs (gc / the gg node grid) read WHERE insub, while
    * binning, routing, leaf stats, and residual updates keep every row:
    * the in-SQL twin of HistGbtR.fit with keyCol set. */
  private[queries] def gbtCtesFor(yExpr: String, sub: Boolean = false,
                                  cap: Long = SubCap): String = {
    val B = GbtBins
    val subW = if (sub) " WHERE insub" else ""
    val subCol = if (sub) ", insub" else ""
    val subACol = if (sub) ", a.insub" else ""
    val binCols = (0 until D).map(i =>
      s"CAST(greatest(least(floor(((b.x$i - m.mn$i) * $B.0) / " +
        s"(m.mx$i - m.mn$i + 1.0)), ${B - 1}.0), 0.0) AS INTEGER) AS b$i")
      .mkString(",\n    ")
    def level(t: Int, l: Int): String = {
      val melt = (0 until D).map(i =>
        s"SELECT node, r, $i AS f, b$i AS b FROM ga${t}l$l$subW")
        .mkString("\n      UNION ALL ")
      s"""gc${t}_$l AS (SELECT node, f, b, SUM(r) AS s, COUNT(*) AS c
         |  FROM ($melt) t GROUP BY 1, 2, 3),
         |gg${t}_$l AS (SELECT n.node, CAST(ff.f AS INTEGER) AS f,
         |    CAST(bb.b AS INTEGER) AS b
         |  FROM (SELECT DISTINCT node FROM ga${t}l$l$subW) n
         |  CROSS JOIN (SELECT unnest(range(0, $D)) AS f) ff
         |  CROSS JOIN (SELECT unnest(range(0, $B)) AS b) bb),
         |gm${t}_$l AS (SELECT g.node, g.f, g.b,
         |    SUM(COALESCE(c.s, 0)) OVER (PARTITION BY g.node, g.f
         |      ORDER BY g.b) AS cs,
         |    SUM(COALESCE(c.c, 0)) OVER (PARTITION BY g.node, g.f
         |      ORDER BY g.b) AS cc,
         |    SUM(COALESCE(c.s, 0)) OVER (PARTITION BY g.node, g.f) AS ts,
         |    SUM(COALESCE(c.c, 0)) OVER (PARTITION BY g.node, g.f) AS tc
         |  FROM gg${t}_$l g LEFT JOIN gc${t}_$l c
         |    ON c.node = g.node AND c.f = g.f AND c.b = g.b),
         |gbst${t}_$l AS (SELECT * FROM (SELECT node, f, b,
         |      cc AS nl, tc - cc AS nr, cs AS sl, ts - cs AS sr,
         |      CAST(cs*cs*(tc - cc) + (ts - cs)*(ts - cs)*cc AS DOUBLE) /
         |        CAST(cc*(tc - cc) AS DOUBLE) AS score,
         |      ROW_NUMBER() OVER (PARTITION BY node ORDER BY
         |        CAST(cs*cs*(tc - cc) + (ts - cs)*(ts - cs)*cc AS DOUBLE) /
         |          CAST(cc*(tc - cc) AS DOUBLE) DESC, f, b) AS rn
         |    FROM gm${t}_$l
         |    WHERE cc > 0 AND tc - cc > 0
         |      AND tc*(cs*cs*(tc - cc) + (ts - cs)*(ts - cs)*cc)
         |        > ts*ts*cc*(tc - cc)) z
         |  WHERE rn = 1),
         |ga${t}l${l + 1} AS (SELECT a.vec_id, a.y, a.r,
         |    a.b0, a.b1, a.b2, a.b3$subACol,
         |    CASE WHEN s.node IS NULL THEN a.node
         |         WHEN (CASE s.f WHEN 0 THEN a.b0 WHEN 1 THEN a.b1
         |               WHEN 2 THEN a.b2 ELSE a.b3 END) <= s.b
         |           THEN 2*a.node + 1
         |         ELSE 2*a.node + 2 END AS node
         |  FROM ga${t}l$l a LEFT JOIN gbst${t}_$l s
         |    ON s.node = a.node)""".stripMargin
    }
    def round(t: Int): String =
      s"""ga${t}l0 AS (SELECT vec_id, y, r, b0, b1, b2, b3$subCol, 0 AS node
         |  FROM g${t - 1}),
         |${(0 until GbtDepth).map(l => level(t, l)).mkString(",\n")},
         |gleaf$t AS (SELECT node, SUM(r) AS s, COUNT(*) AS c,
         |    SUM(r*r) AS s2
         |  FROM ga${t}l$GbtDepth GROUP BY node),
         |glv$t AS (SELECT node,
         |    ${floordivSql("s", "2*c")} AS v FROM gleaf$t),
         |g$t AS (SELECT a.vec_id, a.y, a.r - l.v AS r,
         |    a.b0, a.b1, a.b2, a.b3$subACol
         |  FROM ga${t}l$GbtDepth a JOIN glv$t l ON l.node = a.node)"""
        .stripMargin
    val ySum = yExpr.replace("b.y", "y")
    val g0Sub = if (sub) s",\n    ${insubSql("stn", cap)} AS insub" else ""
    s"""gf0 AS (SELECT ${floordivSql(s"SUM($ySum)", "COUNT(*)")}
       |      AS f0 FROM stbase),
       |g0 AS (SELECT b.vec_id, b.y,
       |    $yExpr - (SELECT f0 FROM gf0) AS r,
       |    $binCols$g0Sub
       |  FROM stbase b CROSS JOIN stmm m),
       |${(1 to GbtRounds).map(round).mkString(",\n")}""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "q_l_tree_sub_params" -> {
      val union = (0 until ForestQueries.Depth)
        .map(l => s"SELECT node, f, b, nl, nr, score FROM stbest$l")
        .mkString("\n  UNION ALL ")
      s"""WITH $subBaseCtes,
         |$subTreeChain
         |SELECT node, f AS feature, b AS threshold_bin,
         |  CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
         |  score
         |FROM ($union) u ORDER BY node""".stripMargin
    },

    "q_l_rf_sub_confusion" ->
      s"""WITH $subBaseCtes,
         |$subForestCtes,
         |sfvote AS (SELECT vec_id, y, pred, count(*) AS v FROM sfpred
         |  GROUP BY 1, 2, 3),
         |sfbestv AS (SELECT vec_id, y, pred FROM (SELECT *,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY v DESC, pred)
         |      AS rn FROM sfvote) z WHERE rn = 1)
         |SELECT y AS label, pred AS prediction, count(*) AS n
         |FROM sfbestv GROUP BY 1, 2 ORDER BY label, prediction""".stripMargin,

    // The q_l_rf_* forest fit (ForestQueries.forestCtes) + the md5-rank
    // cyclic rotation of each feature in turn, routed through the same
    // fitted trees; accuracies from the majority votes.
    "q_m14_perm_importance" -> {
      val depth = ForestQueries.Depth
      // the donor's shifted rank is a PLAIN column (m14sh) so the
      // rotation join is a hash equi-join — an expression-with-subquery
      // key nested-loops n² pairs (measured: DuckDB spilled to disk at
      // sf1's 20k rows)
      def permSel(i: Int): String = {
        val cols = (0 until D).map(j =>
          if (j == i) s"s.x$j AS x$j" else s"a.x$j AS x$j").mkString(", ")
        s"""SELECT $i AS pf, a.vec_id, a.y, $cols
           |  FROM m14rk a JOIN m14sh s ON a.rn = s.rnext""".stripMargin
      }
      val binCols = (0 until D).map(i =>
        s"CAST(greatest(least(floor(((p.x$i - m.mn$i) * " +
          s"${ForestQueries.Bins}.0) / (m.mx$i - m.mn$i + 1.0)), " +
          s"${ForestQueries.Bins - 1}.0), 0.0) AS INTEGER) AS b$i")
        .mkString(",\n    ")
      def routeLevel(l: Int): String = {
        val pick = "CASE s.f WHEN 0 THEN a.b0 WHEN 1 THEN a.b1 " +
          "WHEN 2 THEN a.b2 ELSE a.b3 END"
        s"""m14a${l + 1} AS (SELECT a.pf, a.tf, a.vec_id, a.y,
           |    a.b0, a.b1, a.b2, a.b3,
           |    CASE WHEN s.node IS NULL THEN a.node
           |         WHEN ($pick) <= s.b THEN 2*a.node + 1
           |         ELSE 2*a.node + 2 END AS node
           |  FROM m14a$l a LEFT JOIN fbest$l s
           |    ON s.tf = a.tf AND s.node = a.node)""".stripMargin
      }
      s"""WITH ${ForestQueries.forestCtes(cv = false)},
         |m14bv AS (SELECT vec_id, y, pred FROM (SELECT *,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY v DESC, pred)
         |      AS rn FROM (SELECT vec_id, y, pred, count(*) AS v
         |    FROM fpred GROUP BY 1, 2, 3) t) z WHERE rn = 1),
         |m14b AS (SELECT
         |    CAST(SUM(CASE WHEN y = pred THEN 1 ELSE 0 END) AS BIGINT)
         |      AS bc,
         |    COUNT(*) AS bt
         |  FROM m14bv),
         |m14rk AS (SELECT vec_id, y, x0, x1, x2, x3,
         |    ROW_NUMBER() OVER (ORDER BY MD5(CONCAT_WS(':', '$PermSeed',
         |      CAST(vec_id AS VARCHAR))), vec_id) AS rn
         |  FROM fbase),
         |m14n AS (SELECT COUNT(*) AS n FROM fbase),
         |m14sh AS (SELECT *, (rn % (SELECT n FROM m14n)) + 1 AS rnext
         |  FROM m14rk),
         |m14p AS (
         |  ${(0 until D).map(permSel).mkString("\n  UNION ALL\n  ")}),
         |m14a0 AS (SELECT p.pf, fd.tf, p.vec_id, p.y, 0 AS node,
         |    $binCols
         |  FROM m14p p CROSS JOIN ftr fd CROSS JOIN fmm m),
         |${(0 until depth).map(routeLevel).mkString(",\n")},
         |m14pred AS (SELECT t.pf, t.vec_id, t.y, l.pred
         |  FROM m14a$depth t JOIN fleaf l
         |    ON l.tf = t.tf AND l.node = t.node),
         |m14pv AS (SELECT pf, vec_id, y, pred FROM (SELECT *,
         |    ROW_NUMBER() OVER (PARTITION BY pf, vec_id
         |      ORDER BY v DESC, pred) AS rn
         |  FROM (SELECT pf, vec_id, y, pred, count(*) AS v FROM m14pred
         |    GROUP BY 1, 2, 3, 4) t) z WHERE rn = 1),
         |m14pa AS (SELECT pf,
         |    CAST(SUM(CASE WHEN y = pred THEN 1 ELSE 0 END) AS BIGINT) AS c,
         |    COUNT(*) AS t
         |  FROM m14pv GROUP BY pf)
         |SELECT pf AS feature,
         |  CAST(b.bc AS DOUBLE)/CAST(b.bt AS DOUBLE) AS base_acc,
         |  CAST(p.c AS DOUBLE)/CAST(p.t AS DOUBLE) AS perm_acc,
         |  CAST(b.bc AS DOUBLE)/CAST(b.bt AS DOUBLE)
         |    - CAST(p.c AS DOUBLE)/CAST(p.t AS DOUBLE) AS importance
         |FROM m14pa p CROSS JOIN m14b b ORDER BY feature""".stripMargin
    },

    "q_l_gbt_params" -> {
      val union = (1 to GbtRounds).flatMap(t =>
        (0 until GbtDepth).map(l =>
          s"SELECT $t AS round, node, f, b, nl, nr, sl, sr, score " +
            s"FROM gbst${t}_$l"))
        .mkString("\n  UNION ALL ")
      s"""WITH $subBaseCtes,
         |$gbtCtes
         |SELECT round, node, f AS feature, b AS threshold_bin,
         |  CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
         |  CAST(sl AS BIGINT) AS s_left, CAST(sr AS BIGINT) AS s_right,
         |  score
         |FROM ($union) u ORDER BY round, node""".stripMargin
    },

    "q_l_gbt_curve" -> {
      val rounds = (1 to GbtRounds).map(t =>
        s"""SELECT $t AS round,
           |  CAST((SELECT SUM(g.s2 - 2*l.v*g.s + g.c*l.v*l.v)
           |    FROM gleaf$t g JOIN glv$t l ON l.node = g.node) AS BIGINT)
           |    AS sse,
           |  (SELECT COUNT(*) FROM gleaf$t) AS n_leaves""".stripMargin)
        .mkString("\n  UNION ALL ")
      s"""WITH $subBaseCtes,
         |$gbtCtes
         |SELECT round, sse, n_leaves FROM (
         |  SELECT 0 AS round,
         |    CAST((SELECT SUM(r*r) FROM g0) AS BIGINT) AS sse,
         |    CAST(1 AS BIGINT) AS n_leaves
         |  UNION ALL ${"\n  "}$rounds) u
         |ORDER BY round""".stripMargin
    },

    // Elastic net: moments CTE + the UNROLLED coordinate-descent update
    // sequence, one tiny CTE per (λ, sweep, coordinate) — op order
    // mirrors ElasticNet.fitFromMoments statement for statement.
    "q_l_enet_path" -> {
      def ds(e: String) = s"CAST(SUM(CAST(($e) AS DECIMAL(38,0))) AS DOUBLE)"
      val momCols = (Seq(s"CAST(COUNT(*) AS DOUBLE) AS n",
        s"${ds("y")} AS sy") ++
        (0 until D).map(j => s"${ds(s"x$j")} AS sx$j") ++
        (0 until D).map(j => s"${ds(s"x$j * y")} AS sxy$j") ++
        (for (j <- 0 until D; k <- j until D)
          yield s"${ds(s"x$j * x$k")} AS sxx${j}_$k")).mkString(",\n    ")
      def sxx(j: Int, k: Int) = s"sxx${math.min(j, k)}_${math.max(j, k)}"
      def cxx(j: Int, k: Int) = s"(${sxx(j, k)} - sx$j * sx$k / n)"
      def cxy(j: Int) = s"(sxy$j - sx$j * sy / n)"
      def lam(li: Int) = s"${EnetLambdas(li)}E0"
      def l1(li: Int) = s"(n * ${lam(li)} * ${EnetAlpha}E0)"
      def l2(li: Int) = s"(n * ${lam(li)} * ${1.0 - EnetAlpha}E0)"
      // latest beta CTE for coordinate k as of (sweep s, updating j)
      def bref(li: Int, s: Int, j: Int, k: Int): String =
        if (k < j) s"(SELECT v FROM bet${li}_${s}_$k)"
        else if (s > 1) s"(SELECT v FROM bet${li}_${s - 1}_$k)"
        else "0.0E0"
      val upd = (for (li <- EnetLambdas.indices; s <- 1 to EnetSweeps;
                      j <- 0 until D) yield {
        val rho = (0 until D).filter(_ != j)
          .map(k => s" - ${cxx(j, k)} * ${bref(li, s, j, k)}")
          .mkString(cxy(j), "", "")
        s"""bet${li}_${s}_$j AS (SELECT
           |    CASE WHEN rho > t1 THEN (rho - t1) / z
           |         WHEN rho < -t1 THEN (rho + t1) / z
           |         ELSE 0.0E0 END AS v
           |  FROM (SELECT ($rho) AS rho, ${l1(li)} AS t1,
           |      (${cxx(j, j)} + ${l2(li)}) AS z FROM enmom) t)""".stripMargin
      }).mkString(",\n")
      val out = EnetLambdas.indices.flatMap { li =>
        def bFinal(j: Int) = s"(SELECT v FROM bet${li}_${EnetSweeps}_$j)"
        (0 until D).map(j =>
          s"SELECT ${lam(li)} AS lambda, 'b$j' AS coef, ${bFinal(j)} AS value FROM enmom") :+
          (s"SELECT ${lam(li)} AS lambda, 'icpt' AS coef, (sy / n" +
            (0 until D).map(j => s" - sx$j / n * ${bFinal(j)}").mkString +
            ") AS value FROM enmom")
      }.mkString("\n  UNION ALL ")
      s"""WITH $subBaseCtes,
         |enmom AS (SELECT
         |    $momCols
         |  FROM stbase),
         |$upd
         |SELECT lambda, coef, value FROM (
         |  $out) u
         |ORDER BY lambda, coef""".stripMargin
    },

    // Isolation forest: mirrors IsoForest.fit/score level by level —
    // md5 subsample, md5 split feature, uniform threshold in the node's
    // [min, max], identity routing at terminal nodes, sklearn path
    // adjustment, DECIMAL path sums.
    "q_l_iforest" -> {
      def nib(h: String): String =
        (1 to 8).map(i =>
          s"(strpos('0123456789abcdef', substr($h, $i, 1)) - 1) * ${math.pow(16, 8 - i).toLong}")
          .mkString("(", " + ", ")")
      def uni(key: String): String =
        s"((${nib(s"MD5($key)")} + 0.5) / 4294967296.0)"
      def caseF(alias: String, cols: Int => String): String =
        s"CASE $alias.f " + (0 until D - 1).map(i =>
          s"WHEN $i THEN ${cols(i)}").mkString(" ") +
          s" ELSE ${cols(D - 1)} END"
      val xs = (0 until D).map(i => s"x$i").mkString(", ")
      def level(rel: String, l: Int): String = {
        val mnx = (0 until D).map(i =>
          s"MIN(x$i) AS mn$i, MAX(x$i) AS mx$i").mkString(", ")
        val fKey = s"'iff:$IfSeed:' || CAST(tree AS VARCHAR) || ':' || " +
          "CAST(node AS VARCHAR)"
        val uKey = s"'ifu:$IfSeed:' || CAST(tree AS VARCHAR) || ':' || " +
          "CAST(node AS VARCHAR)"
        val mnOf = (i: Int) => s"mn$i"
        val mxOf = (i: Int) => s"mx$i"
        s"""ifst$rel$l AS (SELECT tree, node, COUNT(*) AS n, $mnx
           |  FROM if$rel$l GROUP BY 1, 2),
           |ifsp$rel$l AS (SELECT tree, node, f,
           |    ${caseF("z", mnOf)} AS mn, ${caseF("z", mxOf)} AS mx,
           |    ${uni(uKey)} AS u
           |  FROM (SELECT *,
           |      CAST(${nib(s"MD5($fKey)")} % $D AS INTEGER) AS f
           |    FROM ifst$rel$l) z
           |  WHERE n > 1 AND ${caseF("z", mxOf)} > ${caseF("z", mnOf)}),
           |if$rel${l + 1} AS (SELECT a.tree, a.vec_id, ${
            (0 until D).map(i => s"a.x$i").mkString(", ")},
           |    CASE WHEN s.node IS NULL THEN a.node
           |         WHEN (${caseF("s", i => s"a.x$i")})
           |             < (s.mn + s.u * (s.mx - s.mn))
           |           THEN 2*a.node + 1
           |         ELSE 2*a.node + 2 END AS node
           |  FROM if$rel$l a LEFT JOIN ifsp$rel$l s
           |    ON s.tree = a.tree AND s.node = a.node)""".stripMargin
      }
      // the scoring relation reuses the TRAIN chain's split CTEs
      def scoreLevel(l: Int): String =
        s"""ifS${l + 1} AS (SELECT a.tree, a.vec_id, ${
          (0 until D).map(i => s"a.x$i").mkString(", ")},
           |    CASE WHEN s.node IS NULL THEN a.node
           |         WHEN (${caseF("s", i => s"a.x$i")})
           |             < (s.mn + s.u * (s.mx - s.mn))
           |           THEN 2*a.node + 1
           |         ELSE 2*a.node + 2 END AS node
           |  FROM ifS$l a LEFT JOIN ifspT$l s
           |    ON s.tree = a.tree AND s.node = a.node)""".stripMargin
      val sKey = s"'ifs:$IfSeed:' || CAST(tree AS VARCHAR) || ':' || " +
        "CAST(vec_id AS VARCHAR)"
      s"""WITH $subBaseCtes,
         |iftr AS (SELECT CAST(unnest(range(0, $IfTrees)) AS INTEGER)
         |    AS tree),
         |ifT0 AS (SELECT t.tree, b.vec_id, $xs, 0 AS node
         |  FROM stbase b CROSS JOIN iftr t
         |  WHERE ${uni(sKey)} < $IfFrac),
         |${(0 until IfDepth).map(l => level("T", l)).mkString(",\n")},
         |ifls AS (SELECT tree, node, COUNT(*) AS m FROM ifT$IfDepth
         |  GROUP BY 1, 2),
         |ifS0 AS (SELECT t.tree, b.vec_id, $xs, 0 AS node
         |  FROM stbase b CROSS JOIN iftr t),
         |${(0 until IfDepth).map(scoreLevel).mkString(",\n")},
         |ifpath AS (SELECT s.vec_id,
         |    CAST((length(bin(CAST(s.node + 1 AS BIGINT))) - 1) +
         |      CASE WHEN l.m = 1 THEN 0.0
         |           WHEN l.m = 2 THEN 1.0
         |           ELSE 2.0 * (CAST(CAST(ln(CAST(l.m - 1 AS DOUBLE))
         |               AS DECIMAL(30,12)) AS DOUBLE) + ${IsoForest.Gamma}E0)
         |             - 2.0 * CAST(l.m - 1 AS DOUBLE) / CAST(l.m AS DOUBLE)
         |      END AS DECIMAL(30,12)) AS p
         |  FROM ifS$IfDepth s JOIN ifls l
         |    ON l.tree = s.tree AND l.node = s.node),
         |ifavg AS (SELECT vec_id, COUNT(*) AS nt,
         |    CAST(CAST(SUM(p) AS VARCHAR) AS DOUBLE) AS sp
         |  FROM ifpath GROUP BY 1)
         |SELECT CAST(rn AS INTEGER) AS rank, vec_id, sp / nt AS avg_path
         |FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY sp / nt, vec_id)
         |    AS rn FROM ifavg) t
         |WHERE rn <= 20 ORDER BY rank""".stripMargin
    },

    // The classification chain is the regression chain on the ×8-scaled
    // binary target; the prediction is recovered from the carried
    // residual (F = target − r_final), thresholded at 4/8 = 1/2.
    "q_l_gbt_class" ->
      s"""WITH $subBaseCtes,
         |${gbtCtesFor("CAST((b.y % 2) * 8 AS BIGINT)")}
         |SELECT label, prediction, COUNT(*) AS n FROM (
         |  SELECT y % 2 AS label,
         |    CASE WHEN (CAST((y % 2) * 8 AS BIGINT) - r) >= 4
         |      THEN 1 ELSE 0 END AS prediction
         |  FROM g$GbtRounds) t
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
}
