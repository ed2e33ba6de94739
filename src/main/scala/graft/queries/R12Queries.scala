package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.sim.Similarity

/** Round-12 queries.
  *
  *  - q_v_semantic_dedup_autok: SemDeDup with k auto-sized ∝ n — the
  *    SCALE path of q_v_semantic_dedup, now under the oracle itself.
  *    The fixed-k=16 variant is bit-exact but its within-cluster pair
  *    count grows QUADRATICALLY with the corpus (the sf1 sweep measured
  *    the foot-gun; the sf10 oracle replay of it is infeasible on any
  *    single-node engine). With k = max(16, ceil(n/500)) the expected
  *    cluster size is constant, candidate pairs grow linearly, and the
  *    same DuckDB statement replays sf0.001 through sf10.
  *
  *    The oracle uses the LIST-OP assignment discipline: dist(v, c) =
  *    v·v + c·c − 2·v·c over the 1e6-quantized BIGINT lists
  *    (list_inner_product), every term an exact integer ≤ ~2.6e13 ≪
  *    2^53, so the double image is exact and the (dist, cid) tie-break
  *    is engine-identical — same numbers as the unnest×k×64 join form
  *    of the q_v_semantic_dedup oracle, at a fraction of the rows.
  *    Candidate pairs are pruned by the quantized integer cosine at
  *    threshold − 1e-4 (quantization error ≤ ~1e-5 for the unit-norm
  *    corpus) and only survivors pay the DECIMAL(30,12)-exact rescore —
  *    mirroring the Spark side's fast-prune/exact-rescore split. */
object R12Queries extends QueryPack {

  private[queries] val SemTargetCluster = 500L
  private[queries] val SemThreshold = 0.999

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_v_semantic_dedup_autok" -> ((s, d) => {
      Similarity.semanticDedupKeepAuto(Tables(s, d, "embeddings"),
          threshold = SemThreshold,
          targetClusterSize = SemTargetCluster, iters = 2)
        .orderBy("vec_id")
    })
  )

  /** SemDeDup oracle CTE chain builder, shared by q_v_semantic_dedup
    * (fixed k over the fixture union), q_v_semantic_dedup_autok (auto-k
    * over embeddings), and the q_pipe_ep4 stage-7 oracle.
    *
    * The sf10-replayable evaluation disciplines, measured on the sf10
    * corpus (400k fixture vectors, 5.0e9 within-cluster pairs at k=16):
    *
    *  - quantized vectors as fixed-width DOUBLE[64] ARRAYS:
    *    array_inner_product is SIMD (4.1x the BIGINT-list form, 79.8 s
    *    vs 328 s for 370M pairs) and EXACT here — elements are
    *    integer-valued doubles |q| <= 577,366, so every product
    *    (<= 3.34e11) and every partial sum (<= 2.14e13) sits far below
    *    2^53 regardless of summation order.
    *  - assignment dist = v.v + c.c - 2 v.c over those arrays: exact
    *    integers, so the (dist, cid) tie-break is engine-identical to
    *    the engine's integer compare.
    *  - GRID-blocked pair generation inside each cluster: a pair with
    *    exact cosine >= 0.999 on the unit-norm corpus has
    *    ||a-b|| <= 0.04474, so per-dim |q_a[i]-q_b[i]| <= 44,742 —
    *    bucketing dims 1..g at width 45,000 and probing the 3^g
    *    neighbor cells finds every qualifying pair EXACTLY once (the
    *    per-dim bucket delta is in {-1,0,1}, so one (d1..dg) matches).
    *    The blocking only prunes candidates; the final decimal-exact
    *    >= 0.999 filter is unchanged, so the result set is identical.
    *  - integer-cosine prune at threshold - 1e-4 before the decimal
    *    rescore (quantization error <= ~1e-5 for unit-norm vectors).
    *
    * @param rel    SQL producing (vec_id, embedding) — the dedup input
    * @param kExpr  SQL scalar for the cluster count k
    * @param gridDims dims of grid blocking (0 = plain within-cluster
    *                 join; enough for bounded auto-k clusters) */
  private[queries] def semDedupCtes(rel: String, kExpr: String,
                                    gridDims: Int): String = {
    def assign(cTab: String): String =
      s"""(SELECT vec_id, cid FROM (
         |    SELECT v.vec_id, c.cid,
         |      v.qq + c.qq - 2 * array_inner_product(v.q, c.q) AS dist
         |    FROM qn v, $cTab c)
         |  QUALIFY row_number()
         |    OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1)""".stripMargin
    val (pairFrom, pairCond) =
      if (gridDims <= 0)
        ("a2 a JOIN a2 b ON a.cid = b.cid AND a.vec_id < b.vec_id",
          "")
      else {
        // probe side expands each vector to its 3^g neighbor cells;
        // build side keys on its own cell — every qualifying pair has
        // per-dim bucket delta in {-1,0,1}, so exactly one probe matches
        val cells = (1 to gridDims).map(j =>
          s"CAST(floor(q.q[$j] / 45000.0) AS INTEGER) AS b$j").mkString(", ")
        val probes = (1 to gridDims).map(j =>
          s"(SELECT unnest([-1, 0, 1]) AS d$j) t$j").mkString(", ")
        val probeKeys = (1 to gridDims).map(j => s"g.b$j + d$j AS p$j")
          .mkString(", ")
        val joinKeys = (1 to gridDims).map(j => s"pa.p$j = gb.b$j")
          .mkString(" AND ")
        (s"""(SELECT a2.vec_id, a2.cid, $cells
            |    FROM a2 JOIN qn q USING (vec_id)) gb
            |  JOIN (SELECT g.vec_id, g.cid, $probeKeys
            |    FROM (SELECT a2.vec_id, a2.cid, $cells
            |      FROM a2 JOIN qn q USING (vec_id)) g, $probes) pa
            |  ON pa.cid = gb.cid AND $joinKeys
            |    AND pa.vec_id < gb.vec_id""".stripMargin,
          "")
      }
    val (pA, pB) = if (gridDims <= 0) ("a.vec_id", "b.vec_id")
                   else ("pa.vec_id", "gb.vec_id")
    s"""kk AS ($kExpr),
       |uu AS ($rel),
       |idx AS (SELECT unnest(range(1, 65)) AS i),
       |ql AS (SELECT vec_id, CAST(list_transform(range(1, 65),
       |    i -> CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5)
       |      AS BIGINT) * 1.0) AS DOUBLE[64]) AS q
       |  FROM uu),
       |qn AS (SELECT vec_id, q, array_inner_product(q, q) AS qq FROM ql),
       |init AS (SELECT vec_id,
       |  CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
       |    vec_id) AS INTEGER) AS cid
       |  FROM uu
       |  QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
       |    vec_id) <= (SELECT k FROM kk)),
       |c0 AS (SELECT init.cid, qn.q, qn.qq FROM init JOIN qn USING (vec_id)),
       |a1 AS ${assign("c0")},
       |a1d AS (SELECT a.cid, i, CAST(ql.q[i] AS BIGINT) AS qv
       |  FROM a1 a JOIN ql USING (vec_id), idx),
       |u1 AS (SELECT cid, i, CAST(SUM(qv) // COUNT(*) AS BIGINT) AS cq
       |  FROM a1d GROUP BY cid, i),
       |c0d AS (SELECT cid, i, CAST(q[i] AS BIGINT) AS cq FROM c0, idx),
       |c1d AS (SELECT c0d.cid, c0d.i, COALESCE(u1.cq, c0d.cq) AS cq
       |  FROM c0d LEFT JOIN u1 ON u1.cid = c0d.cid AND u1.i = c0d.i),
       |c1 AS (SELECT cid, CAST(list(cq * 1.0 ORDER BY i) AS DOUBLE[64]) AS q,
       |    CAST(SUM(CAST(cq AS DOUBLE) * cq) AS DOUBLE) AS qq
       |  FROM c1d GROUP BY cid),
       |a2 AS ${assign("c1")},
       |cand AS (SELECT $pA AS id_a, $pB AS id_b
       |  FROM $pairFrom
       |  JOIN qn qa ON qa.vec_id = $pA
       |  JOIN qn qb ON qb.vec_id = $pB
       |  WHERE array_inner_product(qa.q, qb.q)
       |    >= ($SemThreshold - 1.0E-4) * sqrt(qa.qq * qb.qq)$pairCond),
       |n2 AS (SELECT vec_id, CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE)
       |    * CAST(embedding[i] AS DOUBLE) AS DECIMAL(30,12))) AS DOUBLE) AS n2
       |  FROM uu, idx
       |  WHERE vec_id IN (SELECT id_a FROM cand UNION
       |    SELECT id_b FROM cand)
       |  GROUP BY vec_id),
       |dots AS (SELECT id_a, id_b, CAST(SUM(CAST(CAST(ua.embedding[i]
       |      AS DOUBLE) * CAST(ub.embedding[i] AS DOUBLE)
       |      AS DECIMAL(30,12))) AS DOUBLE) AS dot
       |  FROM cand JOIN uu ua ON ua.vec_id = cand.id_a
       |  JOIN uu ub ON ub.vec_id = cand.id_b, idx
       |  GROUP BY id_a, id_b),
       |p AS (SELECT id_a, id_b FROM dots
       |  JOIN n2 na ON na.vec_id = dots.id_a
       |  JOIN n2 nb ON nb.vec_id = dots.id_b
       |  WHERE dot / (sqrt(na.n2) * sqrt(nb.n2)) >= $SemThreshold),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM p
       |  UNION SELECT id_b, id_a FROM p),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
       |lbl AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id)""".stripMargin
  }

  private[queries] val semKeepSelect =
    """SELECT a2.vec_id AS vec_id, a2.cid AS cluster,
      |  (lbl.comp IS NULL OR lbl.comp = a2.vec_id) AS keep
      |FROM a2 LEFT JOIN lbl ON lbl.id = a2.vec_id
      |ORDER BY vec_id""".stripMargin

  def oracles: Map[String, String] = Map(
    "q_v_semantic_dedup_autok" -> (
      "WITH RECURSIVE\n" + semDedupCtes(
        "SELECT vec_id, embedding FROM embeddings",
        s"SELECT GREATEST(16, CAST((COUNT(*) + ${SemTargetCluster - 1}) " +
          s"// $SemTargetCluster AS INTEGER)) AS k FROM embeddings",
        gridDims = 0) + "\n" + semKeepSelect)
  )
}
