package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ml.GbtLogit

/** Round-11 queries: LOGISTIC Newton boosting joins the hash-exact model
  * family (the round-10 verdict's one approximated member). See
  * [[graft.ml.GbtLogit]] for why no transcendental is needed: the
  * algebraic sigmoid is a tree of IEEE correctly-rounded operations
  * (×, +, /, sqrt), fixed-point margins make every Newton statistic an
  * exact integer, and the oracle below replays the whole fit — per-round
  * histograms, HUGEINT strict-improvement tests, floor-div Newton
  * leaves, clamped margin updates — bit for bit.
  *
  * Ref: final-assignment/src/models/lightgbm_model.py:15-112 (binary
  * objective), teamProject/models/tree_models.py:20-97.
  */
object R11Queries extends QueryPack {

  private val D = 4
  private val Rounds = 3
  private val Depth = 2
  private val Bins = 16

  private def fitted(s: SparkSession, d: String) = {
    val base = R10Queries.frame(s, d)
      .withColumn("yb", (col("y") % 2).cast("int"))
    (base, GbtLogit.fit(base, "x", "yb", D,
      rounds = Rounds, depth = Depth, bins = Bins))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The fitted logistic-boost split tables: every round's splits with
    // the Newton sufficient statistics (Σg, Σh per side) — the fit
    // itself under the hash.
    "q_l_gbt_logistic" -> ((s, d) => {
      val (_, (m, _)) = fitted(s, d)
      import s.implicits._
      m.splits.map(sp => (sp.round, sp.node, sp.feature, sp.bin,
          sp.nLeft, sp.nRight, sp.gLeft, sp.gRight, sp.hLeft, sp.hRight,
          sp.score))
        .toDF("round", "node", "feature", "threshold_bin",
          "n_left", "n_right", "g_left", "g_right", "h_left", "h_right",
          "score")
        .orderBy("round", "node")
    }),

    // The logistic training curve as exact integers: per round, the
    // post-update Σg² (the quantized Brier residual; round 0 = the
    // F₀ = 0 baseline) and the leaf count — descent proven bit-for-bit.
    "q_l_gbt_logit_curve" -> ((s, d) => {
      val (_, (_, curve)) = fitted(s, d)
      import s.implicits._
      curve.toDF("round", "g2", "n_leaves").orderBy("round")
    }),

    // In-sample confusion of the thresholded margin (F ≥ 0 ⇔ p ≥ 1/2),
    // scored through the MODEL's clamped per-round margin expression —
    // a separate replay path from the fit's internal state.
    "q_l_gbt_logit_confusion" -> ((s, d) => {
      val (base, (m, _)) = fitted(s, d)
      base.select(col("yb").cast("long").as("label"),
          m.predictExpr("x").as("prediction"))
        .groupBy("label", "prediction").agg(count(lit(1)).as("n"))
        .orderBy("label", "prediction")
    }))

  // ---- oracle SQL ---------------------------------------------------

  import R10Queries.floordivSql

  /** The logistic boosting chain. lg0 = binned base with margin fq = 0;
    * per round t: lgd$t derives (p, g, h) from lg${t-1} with the
    * algebraic sigmoid (the EXACT operation sequence of
    * GbtLogit.pExpr), two histogram levels pick Newton splits (HUGEINT
    * strict-improvement, double ranking score with the Scala side's op
    * order), leaf Newton steps floor-divide, margins clamp. lgd$t for
    * t = Rounds+1 derives from the FINAL margins (the curve's last
    * row). */
  private def logitCtes: String = {
    val B = Bins
    val binCols = (0 until D).map(i =>
      s"CAST(greatest(least(floor(((b.x$i - m.mn$i) * $B.0) / " +
        s"(m.mx$i - m.mn$i + 1.0)), ${B - 1}.0), 0.0) AS INTEGER) AS b$i")
      .mkString(",\n    ")
    val bs = (0 until D).map(i => s"b$i").mkString(", ")
    def derive(t: Int): String =
      s"""lgd$t AS (SELECT vec_id, y, $bs, fq, p,
         |    p - 256*y AS g,
         |    GREATEST(1, CAST(floor(CAST(p*(256-p) AS DOUBLE)/256.0)
         |      AS BIGINT)) AS h
         |  FROM (SELECT *,
         |      CAST(floor(256.0*(0.5*(1.0 + x/sqrt(1.0 + x*x))))
         |        AS BIGINT) AS p
         |    FROM (SELECT *, CAST(fq AS DOUBLE)/256.0 AS x
         |      FROM lg${t - 1}) i) j)""".stripMargin
    def level(t: Int, l: Int): String = {
      val melt = (0 until D).map(i =>
        s"SELECT node, g, h, $i AS f, b$i AS b FROM la${t}l$l")
        .mkString("\n      UNION ALL ")
      s"""lc${t}_$l AS (SELECT node, f, b, SUM(g) AS sg, SUM(h) AS sh,
         |    COUNT(*) AS c
         |  FROM ($melt) t GROUP BY 1, 2, 3),
         |lgg${t}_$l AS (SELECT n.node, CAST(ff.f AS INTEGER) AS f,
         |    CAST(bb.b AS INTEGER) AS b
         |  FROM (SELECT DISTINCT node FROM la${t}l$l) n
         |  CROSS JOIN (SELECT unnest(range(0, $D)) AS f) ff
         |  CROSS JOIN (SELECT unnest(range(0, $B)) AS b) bb),
         |lm${t}_$l AS (SELECT g.node, g.f, g.b,
         |    SUM(COALESCE(c.sg, 0)) OVER (PARTITION BY g.node, g.f
         |      ORDER BY g.b) AS csg,
         |    SUM(COALESCE(c.sh, 0)) OVER (PARTITION BY g.node, g.f
         |      ORDER BY g.b) AS csh,
         |    SUM(COALESCE(c.c, 0)) OVER (PARTITION BY g.node, g.f
         |      ORDER BY g.b) AS ccc,
         |    SUM(COALESCE(c.sg, 0)) OVER (PARTITION BY g.node, g.f) AS tsg,
         |    SUM(COALESCE(c.sh, 0)) OVER (PARTITION BY g.node, g.f) AS tsh,
         |    SUM(COALESCE(c.c, 0)) OVER (PARTITION BY g.node, g.f) AS tcc
         |  FROM lgg${t}_$l g LEFT JOIN lc${t}_$l c
         |    ON c.node = g.node AND c.f = g.f AND c.b = g.b),
         |lbst${t}_$l AS (SELECT * FROM (SELECT node, f, b,
         |      ccc AS nl, tcc - ccc AS nr, csg AS gl, tsg - csg AS gr,
         |      csh AS hl, tsh - csh AS hr,
         |      CAST(csg*csg AS DOUBLE)/CAST(csh AS DOUBLE)
         |        + CAST((tsg-csg)*(tsg-csg) AS DOUBLE)
         |          /CAST(tsh-csh AS DOUBLE) AS score,
         |      ROW_NUMBER() OVER (PARTITION BY node ORDER BY
         |        CAST(csg*csg AS DOUBLE)/CAST(csh AS DOUBLE)
         |          + CAST((tsg-csg)*(tsg-csg) AS DOUBLE)
         |            /CAST(tsh-csh AS DOUBLE) DESC, f, b) AS rn
         |    FROM lm${t}_$l
         |    WHERE ccc > 0 AND tcc - ccc > 0
         |      AND (CAST(csg AS HUGEINT)*csg*(tsh-csh)
         |           + CAST(tsg-csg AS HUGEINT)*(tsg-csg)*csh) * tsh
         |        > CAST(tsg AS HUGEINT)*tsg*csh*(tsh-csh)) z
         |  WHERE rn = 1),
         |la${t}l${l + 1} AS (SELECT a.vec_id, a.y, a.g, a.h, a.fq,
         |    ${(0 until D).map(i => s"a.b$i").mkString(", ")},
         |    CASE WHEN s.node IS NULL THEN a.node
         |         WHEN (CASE s.f WHEN 0 THEN a.b0 WHEN 1 THEN a.b1
         |               WHEN 2 THEN a.b2 ELSE a.b3 END) <= s.b
         |           THEN 2*a.node + 1
         |         ELSE 2*a.node + 2 END AS node
         |  FROM la${t}l$l a LEFT JOIN lbst${t}_$l s ON s.node = a.node)"""
        .stripMargin
    }
    def round(t: Int): String =
      s"""${derive(t)},
         |la${t}l0 AS (SELECT vec_id, y, g, h, fq, $bs, 0 AS node
         |  FROM lgd$t),
         |${(0 until Depth).map(l => level(t, l)).mkString(",\n")},
         |lleaf$t AS (SELECT node, SUM(g) AS sg, SUM(h) AS sh,
         |    COUNT(*) AS c
         |  FROM la${t}l$Depth GROUP BY node),
         |llv$t AS (SELECT node,
         |    ${floordivSql("-256*sg", "2*sh")} AS v FROM lleaf$t),
         |lg$t AS (SELECT a.vec_id, a.y, $bs,
         |    CAST(LEAST(2048, GREATEST(-2048, a.fq + l.v)) AS BIGINT)
         |      AS fq
         |  FROM la${t}l$Depth a JOIN llv$t l ON l.node = a.node)"""
        .stripMargin
    s"""lg0 AS (SELECT b.vec_id, CAST(b.y % 2 AS BIGINT) AS y,
       |    $binCols,
       |    CAST(0 AS BIGINT) AS fq
       |  FROM stbase b CROSS JOIN stmm m),
       |${(1 to Rounds).map(round).mkString(",\n")},
       |${derive(Rounds + 1)}""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_l_gbt_logistic" -> {
      val union = (1 to Rounds).flatMap(t =>
        (0 until Depth).map(l =>
          s"SELECT $t AS round, node, f, b, nl, nr, gl, gr, hl, hr, " +
            s"score FROM lbst${t}_$l"))
        .mkString("\n  UNION ALL ")
      s"""WITH ${R10Queries.subBaseCtes},
         |$logitCtes
         |SELECT round, node, f AS feature, b AS threshold_bin,
         |  CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
         |  CAST(gl AS BIGINT) AS g_left, CAST(gr AS BIGINT) AS g_right,
         |  CAST(hl AS BIGINT) AS h_left, CAST(hr AS BIGINT) AS h_right,
         |  score
         |FROM ($union) u ORDER BY round, node""".stripMargin
    },

    "q_l_gbt_logit_curve" -> {
      val rounds = (0 to Rounds).map(t =>
        s"""SELECT $t AS round,
           |  CAST((SELECT SUM(g*g) FROM lgd${t + 1}) AS BIGINT) AS g2,
           |  ${if (t == 0) "CAST(1 AS BIGINT)"
              else s"(SELECT COUNT(*) FROM lleaf$t)"} AS n_leaves"""
          .stripMargin)
        .mkString("\n  UNION ALL ")
      s"""WITH ${R10Queries.subBaseCtes},
         |$logitCtes
         |SELECT round, g2, n_leaves FROM (
         |  $rounds) u
         |ORDER BY round""".stripMargin
    },

    "q_l_gbt_logit_confusion" ->
      s"""WITH ${R10Queries.subBaseCtes},
         |$logitCtes
         |SELECT y AS label,
         |  CASE WHEN fq >= 0 THEN 1 ELSE 0 END AS prediction,
         |  COUNT(*) AS n
         |FROM lg$Rounds GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
}
