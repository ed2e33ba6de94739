package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ml.HistGbtR

/** Round-13 queries: the SUBSAMPLED split-selection route for exact
  * LS-Boost GBT — closing the one hash-exact model family that had no
  * oracle-green path at 100× scale.
  *
  * Round 11 gave trees and forests md5-subsampled split selection
  * (q_l_tree_sub_params / q_l_rf_sub_confusion, ⊕ at every scale), but
  * the LS-Boost trio (q_l_gbt_params/curve/class) kept only the exact
  * path, which REFUSES at sf10's n = 200k (the (n·max|r|)²·n < 2^53
  * ranking guard). These queries verify HistGbtR.fit with keyCol set:
  * the per-round, per-level histograms — and therefore every chosen
  * split — come from the ≈cap-row md5("42:key#sub") subsample, while
  * binning, routing, FULL-data leaf floor-divisions, residual updates,
  * and the SSE curve stay exact integers over all rows. The cap is
  * forced tiny (300) so the path engages at every test scale — an
  * unexercised scale path is an unverified one (the r10 discipline).
  *
  * Ref: final-assignment/src/models/lightgbm_model.py:15-112 (the
  * boosted-tree surface); subsample-for-splits is PLANET §4 /
  * LightGBM's histogram-sampling move.
  */
object R13Queries extends QueryPack {
  private val GbtSubCap = 300L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The subsampled boosting fit as data: every round's split table
    // (subsample-chosen argmins; residual sums from the subsample rows)
    // must match the oracle's replay bit-for-bit.
    "q_l_gbt_sub_params" -> ((s, d) => {
      val (m, _) = HistGbtR.fit(R10Queries.frame(s, d), "x", "y", 4,
        rounds = R10Queries.GbtRounds, depth = R10Queries.GbtDepth,
        bins = R10Queries.GbtBins, keyCol = Some("vec_id"),
        sampleCap = GbtSubCap)
      import s.implicits._
      m.splits.map(sp => (sp.round, sp.node, sp.feature, sp.bin,
          sp.nLeft, sp.nRight, sp.sLeft, sp.sRight, sp.score))
        .toDF("round", "node", "feature", "threshold_bin",
          "n_left", "n_right", "s_left", "s_right", "score")
        .orderBy("round", "node")
    }),

    // The training curve under subsampled splits: per-round FULL-data
    // Σr² (exact integers — leaf values and residual updates never see
    // the subsample) plus the leaf count. Proves the full-data/
    // subsample boundary sits exactly where the design says it does.
    "q_l_gbt_sub_curve" -> ((s, d) => {
      val (_, curve) = HistGbtR.fit(R10Queries.frame(s, d), "x", "y", 4,
        rounds = R10Queries.GbtRounds, depth = R10Queries.GbtDepth,
        bins = R10Queries.GbtBins, keyCol = Some("vec_id"),
        sampleCap = GbtSubCap)
      import s.implicits._
      curve.toDF("round", "sse", "n_leaves").orderBy("round")
    }))

  // ---- oracle SQL ---------------------------------------------------

  private def gbtSubCtes: String =
    R10Queries.gbtCtesFor("CAST(b.y AS BIGINT)", sub = true,
      cap = GbtSubCap)

  def oracles: Map[String, String] = Map(
    "q_l_gbt_sub_params" -> {
      val union = (1 to R10Queries.GbtRounds).flatMap(t =>
        (0 until R10Queries.GbtDepth).map(l =>
          s"SELECT $t AS round, node, f, b, nl, nr, sl, sr, score " +
            s"FROM gbst${t}_$l"))
        .mkString("\n  UNION ALL ")
      s"""WITH ${R10Queries.subBaseCtes},
         |$gbtSubCtes
         |SELECT round, node, f AS feature, b AS threshold_bin,
         |  CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
         |  CAST(sl AS BIGINT) AS s_left, CAST(sr AS BIGINT) AS s_right,
         |  score
         |FROM ($union) u ORDER BY round, node""".stripMargin
    },

    "q_l_gbt_sub_curve" -> {
      val rounds = (1 to R10Queries.GbtRounds).map(t =>
        s"""SELECT $t AS round,
           |  CAST((SELECT SUM(g.s2 - 2*l.v*g.s + g.c*l.v*l.v)
           |    FROM gleaf$t g JOIN glv$t l ON l.node = g.node) AS BIGINT)
           |    AS sse,
           |  (SELECT COUNT(*) FROM gleaf$t) AS n_leaves""".stripMargin)
        .mkString("\n  UNION ALL ")
      s"""WITH ${R10Queries.subBaseCtes},
         |$gbtSubCtes
         |SELECT round, sse, n_leaves FROM (
         |  SELECT 0 AS round,
         |    CAST((SELECT SUM(r*r) FROM g0) AS BIGINT) AS sse,
         |    CAST(1 AS BIGINT) AS n_leaves
         |  UNION ALL ${"\n  "}$rounds) u
         |ORDER BY round""".stripMargin
    })
}
