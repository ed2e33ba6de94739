package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.Sketches
import graft.sim.Similarity
import graft.text.TextOps

/** Round-7 additions: the end-to-end IVF-PQ ADC search — the last stage of
  * the billion-scale index story (codes + codebooks existed since round 6;
  * this is the SEARCH over them). Every quantity is integer-exact, so the
  * full pipeline (IVF probe → per-subspace Lloyd's fits → lookup-table
  * sums → top-k) is hash-checkable against a SQL replay.
  */
object R7Queries extends QueryPack {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // IVF-PQ ADC search: coarse IVF probe bounds candidates, asymmetric-
    // distance lookup tables score them through their 8 PQ codes alone
    // (the corpus vectors never join back), bounded-heap top-5 per query.
    "q_v_pqadc_ann" -> ((s, d) => {
      val e = Tables(s, d, "embeddings")
      Similarity.pqAdcTopK(e, e.filter(col("vec_id") < 5), k = 5)
        .orderBy("query_id", "rnk")
    }),

    // Two-stage retrieval: ADC recalls top-20 through the compressed
    // index, exact decimal cosine rescoring of ONLY those survivors ranks
    // the final 5 — the production search shape (recall from codes,
    // precision from a per-query-constant float read-back).
    "q_v_pqadc_rerank" -> ((s, d) => {
      val e = Tables(s, d, "embeddings")
      Similarity.pqAdcRerank(e, e.filter(col("vec_id") < 5), k = 5,
        rerankFrom = 20).orderBy("query_id", "rnk")
    }),

    // Exact-substring dedup (Lee et al. 2022): pairs sharing a run of ≥8
    // consecutive normalized tokens, via df-pruned k-gram fingerprints —
    // the dedup modality MinHash/SimHash miss (a verbatim quote inside
    // otherwise-different docs).
    "q_x_substring_dedup" -> ((s, d) => {
      TextOps.sharedSpanPairs(Tables(s, d, "documents"), "doc_id", "text",
        k = 8, maxDocFreq = 16).orderBy("doc_a", "doc_b")
    }),

    // Edit-distance near-dup: lang × minhash-band × length-band composed
    // blocking (the default — within-block candidates stay corpus-linear),
    // thresholded levenshtein verify (banded O(d·L), not the full DP
    // table). Minhash candidacy is part of the contract; the oracle
    // replays it.
    "q_x_edit_neardup" -> ((s, d) => {
      TextOps.editNearDupPairs(Tables(s, d, "documents"), "doc_id", "text",
        maxDist = 32, minhashBands = 4, blockCols = Seq("lang"))
        .orderBy("doc_a", "doc_b")
    }),

    // Residual-encoded IVF-PQ (the form FAISS ships): codebooks train on
    // q(x) − q(centroid(x)), scoring = exact integer dot(q, centroid) +
    // residual lookup-table sum — BIGINT-exact, hash-checkable.
    "q_v_pqr_ann" -> ((s, d) => {
      val e = Tables(s, d, "embeddings")
      Similarity.pqResidualAdcTopK(e, e.filter(col("vec_id") < 5), k = 5)
        .orderBy("query_id", "rnk")
    }),

    // Declarative data-quality constraint suite (the Deequ shape): five
    // checks over lineitem in ONE aggregation pass — completeness, two
    // ranges, a domain, and key uniqueness; report is (check, violations,
    // total, pass), the gate an ingest runs before publishing a partition.
    "q_q_constraints" -> ((s, d) => {
      import graft.ops.Checks
      Checks.constraintReport(Tables(s, d, "lineitem"), Seq(
        Checks.complete("l_orderkey"),
        Checks.inRange("l_quantity", 1, 50),
        Checks.inRange("l_discount", 0.0, 0.1),
        Checks.inSet("l_returnflag", Seq("A", "N", "R")),
        Checks.unique(Seq("l_orderkey", "l_linenumber"))))
    }),

    // Count-Min sketch frequency estimates for the true top-20 users:
    // md5-bucketed counters are engine-stable, so the whole sketch (build
    // + probe) is hash-exact against the SQL replay — est_count ≥
    // true_count always, with visible collision overestimates.
    "q_u_cms_freq" -> ((s, d) => {
      val ev = Tables(s, d, "events")
      val tru = ev.groupBy("user_id").agg(count(lit(1)).as("true_count"))
      val top = tru.orderBy(desc("true_count"), col("user_id")).limit(20)
      val est = Sketches.cmsEstimate(
        Sketches.countMinSketch(ev, "user_id"), top.select("user_id"), "user_id")
      top.join(est, Seq("user_id"))
        .select(col("user_id"), col("true_count"), col("est_count"))
        .orderBy(desc("true_count"), col("user_id"))
    }))

  /** Shared ADC CTE chain (WITH-body through `score`): the q_v_ivf_ann
    * probe CTEs (fast-float cosine argmax — margins far above summation
    * ulp), the q_v_pq_codes per-subspace Lloyd's chains (c1{s} = the
    * codebook the codes in a2{s} were assigned against), then integer LUT
    * sums — BIGINT-exact end to end. */
  /** The coarse IVF structure shared by every compressed-search oracle:
    * md5-picked centroids, full-corpus assignment, per-query probe lists,
    * candidate pairs. */
  private val ivfCtes: String = {
    val cosEC = TextSimQueries.fastCosSql("e.embedding", "c.centroid")
    s"""idx AS (SELECT unnest(range(1, 65)) AS i),
       |cent AS (SELECT * FROM (SELECT ROW_NUMBER() OVER (
       |    ORDER BY md5(CAST(vec_id AS VARCHAR))) AS centroid_id,
       |    embedding AS centroid FROM embeddings) t WHERE centroid_id <= 16),
       |assign AS (SELECT vec_id, centroid_id FROM (
       |  SELECT e.vec_id, c.centroid_id, ROW_NUMBER() OVER (
       |    PARTITION BY e.vec_id ORDER BY $cosEC DESC, c.centroid_id) AS r
       |  FROM embeddings e CROSS JOIN cent c) t WHERE r = 1),
       |probe AS (SELECT query_id, centroid_id FROM (
       |  SELECT e.vec_id AS query_id, c.centroid_id, ROW_NUMBER() OVER (
       |    PARTITION BY e.vec_id ORDER BY $cosEC DESC, c.centroid_id) AS r
       |  FROM embeddings e CROSS JOIN cent c WHERE e.vec_id < 5) t WHERE r <= 4),
       |pairs AS (SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
       |  FROM probe p JOIN assign a ON a.centroid_id = p.centroid_id
       |    AND a.vec_id != p.query_id)""".stripMargin
  }

  private val pqAdcCoreCtes: String = {
    val cbUnion = (0 until 8).map(s =>
      s"SELECT $s AS subspace, cid AS code, dim, cq FROM c1$s")
      .mkString("\n  UNION ALL ")
    val codesUnion = (0 until 8).map(s =>
      s"SELECT vec_id, $s AS subspace, cid AS code FROM a2$s")
      .mkString("\n  UNION ALL ")
    s"""${R6Queries.pqFitCtes},
       |${R6Queries.pqSubspaceCtes},
       |$ivfCtes,
       |cb AS ($cbUnion),
       |codes AS ($codesUnion),
       |qgrid AS (SELECT vec_id AS query_id,
       |  CAST((i - 1) // 8 AS INTEGER) AS subspace,
       |  CAST((i - 1) % 8 AS INTEGER) AS dim,
       |  CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS qq
       |  FROM embeddings, idx WHERE vec_id < 5),
       |lut AS (SELECT query_id, subspace, code,
       |    CAST(SUM(qq * cq) AS BIGINT) AS lut
       |  FROM qgrid JOIN cb USING (subspace, dim) GROUP BY 1, 2, 3),
       |score AS (SELECT p.query_id, p.neighbor_id,
       |    CAST(SUM(l.lut) AS BIGINT) AS adc
       |  FROM pairs p JOIN codes c ON c.vec_id = p.neighbor_id
       |  JOIN lut l ON l.query_id = p.query_id AND l.subspace = c.subspace
       |    AND l.code = c.code
       |  GROUP BY 1, 2)""".stripMargin
  }

  /** DuckDB replay of [[graft.ops.Sketches.cmsBucket]]: first 24 md5 bits
    * of "row:item" via explicit nibble arithmetic (DuckDB has no conv()),
    * mod width — exact integer math, identical to Spark's conv(...,16,10). */
  private def cmsBucketSql(item: String, row: Int, width: Int): String = {
    val h = s"substr(md5('$row:' || CAST($item AS VARCHAR)), 1, 6)"
    val nib = (1 to 6).map(p =>
      s"(strpos('0123456789abcdef', substr($h, $p, 1)) - 1) * ${1L << (4 * (6 - p))}")
      .mkString(" + ")
    s"(CAST($nib AS BIGINT) % $width)"
  }

  /** Residual-PQ CTE chain: IVF assignment → residual grids (integer
    * difference of the embedding grid and the assigned centroid's grid) →
    * the SAME eight Lloyd's chains as q_v_pq_codes, trained on residuals
    * (rq{s} → rc0{s} → ra1{s} → ru1{s} → rc1{s} → ra2{s}) → base-plus-LUT
    * scoring. BIGINT end to end: `//` and Spark's `div` both truncate
    * toward zero, so negative residual means stay bit-identical. */
  private val pqResidualCtes: String = {
    val rChains = (0 until 8).map { s =>
      s"""rq$s AS (SELECT vec_id, CAST(d64 - ${s * 8} AS INTEGER) AS dim, q
         |  FROM rgrid WHERE d64 >= ${s * 8} AND d64 < ${s * 8 + 8}),
         |rc0$s AS (SELECT init.cid, rq$s.dim, rq$s.q AS cq
         |  FROM init JOIN rq$s USING (vec_id)),
         |ra1$s AS ${R6Queries.pqAssignSql(s"rq$s", s"rc0$s")},
         |ru1$s AS (SELECT a.cid, rq$s.dim,
         |    CAST(SUM(rq$s.q) // COUNT(*) AS BIGINT) AS cq
         |  FROM ra1$s a JOIN rq$s USING (vec_id) GROUP BY a.cid, rq$s.dim),
         |rc1$s AS (SELECT rc0$s.cid, rc0$s.dim, COALESCE(ru1$s.cq, rc0$s.cq) AS cq
         |  FROM rc0$s LEFT JOIN ru1$s
         |    ON ru1$s.cid = rc0$s.cid AND ru1$s.dim = rc0$s.dim),
         |ra2$s AS ${R6Queries.pqAssignSql(s"rq$s", s"rc1$s")}""".stripMargin
    }.mkString(",\n")
    val rcbUnion = (0 until 8).map(s =>
      s"SELECT $s AS subspace, cid AS code, dim, cq FROM rc1$s")
      .mkString("\n  UNION ALL ")
    val rcodesUnion = (0 until 8).map(s =>
      s"SELECT vec_id, $s AS subspace, cid AS code FROM ra2$s")
      .mkString("\n  UNION ALL ")
    s"""${R6Queries.pqFitCtes},
       |$ivfCtes,
       |cgrid AS (SELECT centroid_id, CAST(i - 1 AS INTEGER) AS d64,
       |  CAST(floor(CAST(centroid[i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS cg
       |  FROM cent, idx),
       |egrid AS (SELECT vec_id, CAST(i - 1 AS INTEGER) AS d64,
       |  CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS q
       |  FROM embeddings, idx),
       |rgrid AS (SELECT e.vec_id, e.d64, e.q - g.cg AS q
       |  FROM egrid e JOIN assign a USING (vec_id)
       |  JOIN cgrid g ON g.centroid_id = a.centroid_id AND g.d64 = e.d64),
       |$rChains,
       |rcb AS ($rcbUnion),
       |rcodes AS ($rcodesUnion),
       |qgrid64 AS (SELECT vec_id AS query_id, d64, q AS qq FROM egrid
       |  WHERE vec_id < 5),
       |rlut AS (SELECT query_id, CAST(d64 // 8 AS INTEGER) AS subspace,
       |    code, CAST(SUM(qq * cq) AS BIGINT) AS lut
       |  FROM qgrid64 JOIN rcb ON rcb.subspace = CAST(d64 // 8 AS INTEGER)
       |    AND rcb.dim = CAST(d64 % 8 AS INTEGER)
       |  GROUP BY 1, 2, code),
       |qcent AS (SELECT q.query_id, g.centroid_id,
       |    CAST(SUM(q.qq * g.cg) AS BIGINT) AS base
       |  FROM qgrid64 q JOIN cgrid g USING (d64) GROUP BY 1, 2),
       |rscore AS (SELECT p.query_id, p.neighbor_id,
       |    qc.base + CAST(SUM(l.lut) AS BIGINT) AS adc
       |  FROM pairs p JOIN assign a ON a.vec_id = p.neighbor_id
       |  JOIN qcent qc ON qc.query_id = p.query_id
       |    AND qc.centroid_id = a.centroid_id
       |  JOIN rcodes c ON c.vec_id = p.neighbor_id
       |  JOIN rlut l ON l.query_id = p.query_id AND l.subspace = c.subspace
       |    AND l.code = c.code
       |  GROUP BY p.query_id, p.neighbor_id, qc.base)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_v_pqr_ann" ->
      s"""WITH $pqResidualCtes
         |SELECT query_id, neighbor_id, adc, CAST(rn AS INTEGER) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |  ORDER BY adc DESC, neighbor_id) AS rn FROM rscore)
         |WHERE rn <= 5 ORDER BY query_id, rnk""".stripMargin,

    "q_x_substring_dedup" ->
      s"""WITH t AS (SELECT doc_id, ${TextSimQueries.normToksSql} AS t FROM documents),
         |g AS (SELECT doc_id, unnest(CASE WHEN len(t) < 8
         |    THEN [md5(array_to_string(t, ' '))]
         |    ELSE list_distinct(list_transform(range(0, len(t) - 7),
         |      i -> md5(array_to_string(t[i+1:i+8], ' ')))) END) AS gram
         |  FROM t),
         |kept AS (SELECT gram FROM g GROUP BY gram
         |  HAVING count(*) BETWEEN 2 AND 16),
         |gj AS (SELECT doc_id, gram FROM g JOIN kept USING (gram))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  count(*) AS shared_grams
         |FROM gj a JOIN gj b ON a.gram = b.gram AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin,

    // Replays the operator's full contract: minhash 4×4 band candidacy
    // (identical signature spec to q_x_minhash_*) AND the length window
    // AND the thresholded levenshtein — band candidacy is part of the
    // semantics, so the oracle is exact at ANY scale factor, not just
    // where the blocker happens to lose nothing.
    "q_x_edit_neardup" -> {
      val mins = (0 until 16).map(i =>
        s"list_min(list_transform(sh, s -> md5('$i' || ':' || s)))")
        .mkString(",\n   ")
      val bandCase = (0 until 4).map(b =>
        s"WHEN bno = $b THEN sg[${4 * b + 1}:${4 * b + 4}]")
        .mkString(" ")
      // band candidacy via a bucket equi-join on unnested band rows —
      // the OR-of-slices theta-join form nested-loops the per-lang pair
      // space (intractable at sf1; the levenshtein in its filter made
      // DuckDB grind for >1 h); pair set is bit-identical.
      s"""WITH n AS (SELECT doc_id, lang, ${TextSimQueries.normSql} AS norm,
         |    length(${TextSimQueries.normSql}) AS len FROM documents),
         |shx AS (SELECT doc_id, ${TextSimQueries.shinglesSql} AS sh FROM documents),
         |sig AS (SELECT doc_id, [$mins] AS sg FROM shx),
         |bnd AS (SELECT doc_id, bno,
         |    array_to_string(CASE $bandCase END, '|') AS bkey
         |  FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS bno) t),
         |cp AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
         |  FROM bnd x JOIN bnd y
         |    ON x.bno = y.bno AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(levenshtein(a.norm, b.norm) AS INTEGER) AS dist
         |FROM cp JOIN n a ON a.doc_id = cp.da JOIN n b ON b.doc_id = cp.db
         |WHERE a.lang = b.lang AND abs(a.len - b.len) <= 32
         |  AND levenshtein(a.norm, b.norm) <= 32
         |ORDER BY doc_a, doc_b""".stripMargin
    },

    "q_q_constraints" ->
      s"""WITH t AS (SELECT count(*) AS total,
         |  CAST(SUM(CASE WHEN l_orderkey IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) AS v1,
         |  CAST(SUM(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END) AS BIGINT) AS v2,
         |  CAST(SUM(CASE WHEN l_discount BETWEEN 0.0 AND 0.1 THEN 0 ELSE 1 END) AS BIGINT) AS v3,
         |  CAST(SUM(CASE WHEN l_returnflag IN ('A','N','R') THEN 0 ELSE 1 END) AS BIGINT) AS v4,
         |  count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS v5
         |  FROM lineitem)
         |SELECT * FROM (
         |  SELECT 'complete_l_orderkey' AS check_name, v1 AS violations,
         |    total, v1 = 0 AS pass FROM t
         |  UNION ALL SELECT 'range_l_quantity', v2, total, v2 = 0 FROM t
         |  UNION ALL SELECT 'range_l_discount', v3, total, v3 = 0 FROM t
         |  UNION ALL SELECT 'domain_l_returnflag', v4, total, v4 = 0 FROM t
         |  UNION ALL SELECT 'unique_l_orderkey_l_linenumber', v5, total,
         |    v5 = 0 FROM t)
         |ORDER BY check_name""".stripMargin,

    "q_u_cms_freq" -> {
      val cmsUnion = (0 until 4).map(r =>
        s"SELECT $r AS r, ${cmsBucketSql("user_id", r, 512)} AS b, " +
          "count(*) AS cnt FROM events GROUP BY 1, 2").mkString("\n  UNION ALL ")
      val probeUnion = (0 until 4).map(r =>
        s"SELECT user_id, $r AS r, ${cmsBucketSql("user_id", r, 512)} AS b FROM top")
        .mkString("\n  UNION ALL ")
      s"""WITH cms AS ($cmsUnion),
         |tru AS (SELECT user_id, count(*) AS true_count FROM events GROUP BY 1),
         |top AS (SELECT user_id, true_count FROM tru
         |  ORDER BY true_count DESC, user_id LIMIT 20),
         |probes AS ($probeUnion),
         |est AS (SELECT user_id, min(coalesce(cnt, 0)) AS est_count
         |  FROM probes LEFT JOIN cms USING (r, b) GROUP BY 1)
         |SELECT t.user_id, t.true_count, e.est_count
         |FROM top t JOIN est e USING (user_id)
         |ORDER BY true_count DESC, user_id""".stripMargin
    },

    "q_v_pqadc_ann" ->
      s"""WITH $pqAdcCoreCtes
         |SELECT query_id, neighbor_id, adc, CAST(rn AS INTEGER) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |  ORDER BY adc DESC, neighbor_id) AS rn FROM score)
         |WHERE rn <= 5 ORDER BY query_id, rnk""".stripMargin,

    // The ADC chain recalls top-20, then decimal-exact cosine (the
    // q_v_knn_brute discipline) rescores ONLY those survivors to the
    // final 5 — replayed verbatim.
    "q_v_pqadc_rerank" ->
      s"""WITH $pqAdcCoreCtes,
         |coarse AS (SELECT query_id, neighbor_id
         |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY adc DESC, neighbor_id) AS rn FROM score)
         |  WHERE rn <= 20),
         |n2x AS (SELECT vec_id, CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE)
         |    * CAST(embedding[i] AS DOUBLE) AS DECIMAL(30,12))) AS DOUBLE) AS n2
         |  FROM embeddings, idx GROUP BY vec_id),
         |dotsx AS (SELECT query_id, neighbor_id,
         |  CAST(SUM(CAST(CAST(qe.embedding[i] AS DOUBLE)
         |    * CAST(ce.embedding[i] AS DOUBLE) AS DECIMAL(30,12))) AS DOUBLE) AS dot
         |  FROM coarse JOIN embeddings qe ON qe.vec_id = query_id
         |    JOIN embeddings ce ON ce.vec_id = neighbor_id, idx
         |  GROUP BY 1, 2),
         |cosx AS (SELECT query_id, neighbor_id,
         |  dot / (SQRT(nq.n2) * SQRT(nc.n2)) AS cosine
         |  FROM dotsx JOIN n2x nq ON nq.vec_id = query_id
         |    JOIN n2x nc ON nc.vec_id = neighbor_id)
         |SELECT query_id, neighbor_id, cosine, CAST(rn AS INTEGER) AS rnk
         |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |  ORDER BY cosine DESC, neighbor_id) AS rn FROM cosx)
         |WHERE rn <= 5 ORDER BY query_id, rnk""".stripMargin)
}
