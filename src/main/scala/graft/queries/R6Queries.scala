package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.expressions.TopKRows
import graft.sim.Similarity
import graft.text.TextOps

/** Round-6 additions: per-group top-k via the bounded-heap aggregate
  * ([[graft.expressions.TopKRows]]) instead of the window row_number plan.
  * The aggregate participates in partial aggregation, so each map task
  * emits ≤ k rows per group before the exchange — the shuffle carries
  * O(groups·k·tasks) entries instead of the whole fact table, which is the
  * difference between a per-group top-n that survives 100 TB and one that
  * sorts every row. Same oracle shape as a row_number query: the kept set
  * is exactly ORDER BY score DESC, id ASC LIMIT k per group.
  */
object R6Queries extends QueryPack {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_w_topk_agg" -> ((s, d) =>
      Tables(s, d, "orders")
        .groupBy("o_orderpriority")
        .agg(TopKRows.topRows(col("o_totalprice"), col("o_orderkey"), 3).as("top"))
        .select(col("o_orderpriority"), posexplode(col("top")))
        .select(col("o_orderpriority"),
          (col("pos") + 1).cast("long").as("rnk"),
          col("col.id").as("o_orderkey"),
          col("col.score").as("o_totalprice"))
        .orderBy("o_orderpriority", "rnk")),

    // SemDeDup: deterministic-k-means cluster blocking → within-cluster
    // exact-cosine near-dup pairs → connected components → keep the min-id
    // representative. The union plants an exact duplicate of every vector
    // (cosine 1.0 ≥ 0.999; organic pairs top out ~0.51), so the expected
    // keep set is exactly the original ids. The oracle replays the same
    // quantized Lloyd's + decimal cosine + recursive-CTE closure in SQL.
    "q_v_semantic_dedup" -> ((s, d) => {
      val e0 = Fixtures.assertNoAlias(Tables(s, d, "embeddings"), "vec_id")
      val e = e0.unionByName(e0.select(Fixtures.shifted(col("vec_id")).as("vec_id"),
        col("embedding"), col("label")))
      Similarity.semanticDedupKeep(e, threshold = 0.999, k = 16, iters = 2)
        .orderBy("vec_id")
    }),

    // Int8-quantized ANN: symmetric per-dim scales fit in one pass, narrow
    // quantize, then exact INTEGER dot-product top-5 (codegen'd
    // IntDotProduct, broadcast queries, corpus never shuffles). Integer
    // scoring makes the quantized ranking itself hash-exact cross-engine —
    // the memory-bound scale path (4× smaller vectors) with no fuzziness
    // in the verification.
    "q_v_int8_ann" -> ((s, d) => {
      val q8 = Similarity.int8Quantize(Tables(s, d, "embeddings"))
      Similarity.int8TopK(q8, q8.filter(col("vec_id") < 5), k = 5)
        .orderBy("query_id", "rnk")
    }),

    // Incremental-ingestion dedup: the day's batch (src4, plus planted
    // copies of every 20th corpus doc) checked DIRECTIONALLY against the
    // corpus signature index — corpus-index × batch band join, never a
    // self-join over the union. The planted copies must all surface with
    // jaccard 1.0; organic cross-source near-dups ride along.
    "q_x_ingest_dedup" -> ((s, d) => {
      val docs = Fixtures.assertNoAlias(Tables(s, d, "documents"), "doc_id")
      val corpus = docs.filter(col("source") =!= "src4")
      val batch = docs.filter(col("source") === "src4")
        .unionByName(corpus.filter(col("doc_id") % 20 === 0)
          .withColumn("doc_id", Fixtures.shifted(col("doc_id"))))
      TextOps.minhashNearDupAgainst(corpus, batch, "doc_id", "text",
        numHashes = 16, bands = 2, threshold = 0.5)
        .orderBy("batch_id", "corpus_id")
    }),

    // Product-quantization codes: 8 subspaces × 16 codewords over the
    // 64-dim embeddings — 256 bytes → 8 codes per vector, the compression
    // that keeps a billion-vector index in memory. Every per-subspace
    // Lloyd's step is integer-exact, so the full code table hash-matches
    // a SQL replay of 8 independent quantized k-means runs.
    "q_v_pq_codes" -> ((s, d) =>
      Similarity.pqCodes(Tables(s, d, "embeddings"),
        dims = 64, subspaces = 8, codewords = 16, iters = 2)
        .orderBy("vec_id", "subspace")),

    // Deterministic per-group k-sample: rank rows inside each group by an
    // md5-derived uniform score and keep the top 3 via the bounded-heap
    // aggregate — uniform sampling with NO RNG state and no per-group
    // sort; map tasks emit ≤ 3 candidates per group before the exchange.
    // The md5 score makes the keep set identical on any engine and any
    // cluster size (the q_m_hash_sample discipline, now group-bounded).
    "q_m_group_sample" -> ((s, d) => {
      val score = conv(substring(
        md5(concat(lit("smp:"), col("event_id").cast("string"))), 1, 8),
        16, 10).cast("double")
      Tables(s, d, "events")
        .groupBy("event_type")
        .agg(TopKRows.topRows(score, col("event_id"), 3).as("top"))
        .select(col("event_type"), posexplode(col("top")))
        .select(col("event_type"), col("col.id").as("event_id"))
        .orderBy("event_type", "event_id")
    })
  )

  /** Shared PQ-oracle building blocks (also composed by the round-7 PQ-ADC
    * search oracle): `pqFitCtes` = the idx8 index + md5-ordered seed pick;
    * `pqSubspaceCtes` = the eight per-subspace quantized-Lloyd's chains
    * qe{s} → c0{s} → a1{s} → u1{s} → c1{s} (the codebook the codes are
    * assigned against) → a2{s} (the codes). */
  private[queries] def pqAssignSql(qe: String, cTab: String): String =
    s"""(SELECT vec_id, cid FROM (
       |    SELECT $qe.vec_id, c.cid,
       |      SUM(($qe.q - c.cq) * ($qe.q - c.cq)) AS dist
       |    FROM $qe JOIN $cTab c USING (dim)
       |    GROUP BY $qe.vec_id, c.cid)
       |  QUALIFY row_number()
       |    OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1)""".stripMargin

  private[queries] val pqFitCtes: String =
    """idx8 AS (SELECT unnest(range(1, 9)) AS i),
      |init AS (SELECT vec_id,
      |  CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
      |    vec_id) AS INTEGER) AS cid
      |  FROM embeddings
      |  QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
      |    vec_id) <= 16)""".stripMargin

  private[queries] val pqSubspaceCtes: String = (0 until 8).map { s =>
    s"""qe$s AS (SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
       |  CAST(floor(CAST(embedding[i + ${s * 8}] AS DOUBLE) * 1e6 + 0.5)
       |    AS BIGINT) AS q
       |  FROM embeddings, idx8),
       |c0$s AS (SELECT init.cid, qe$s.dim, qe$s.q AS cq
       |  FROM init JOIN qe$s USING (vec_id)),
       |a1$s AS ${pqAssignSql(s"qe$s", s"c0$s")},
       |u1$s AS (SELECT a.cid, qe$s.dim,
       |    CAST(SUM(qe$s.q) // COUNT(*) AS BIGINT) AS cq
       |  FROM a1$s a JOIN qe$s USING (vec_id) GROUP BY a.cid, qe$s.dim),
       |c1$s AS (SELECT c0$s.cid, c0$s.dim, COALESCE(u1$s.cq, c0$s.cq) AS cq
       |  FROM c0$s LEFT JOIN u1$s
       |    ON u1$s.cid = c0$s.cid AND u1$s.dim = c0$s.dim),
       |a2$s AS ${pqAssignSql(s"qe$s", s"c1$s")}""".stripMargin
  }.mkString(",\n")

  val oracles: Map[String, String] = Map(
    "q_w_topk_agg" ->
      """SELECT o_orderpriority, CAST(rn AS BIGINT) AS rnk, o_orderkey, o_totalprice
        |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |        row_number() OVER (PARTITION BY o_orderpriority
        |          ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |      FROM orders)
        |WHERE rn <= 3 ORDER BY o_orderpriority, rnk""".stripMargin,

    // Same quantized Lloyd's as the q_v_kmeans oracle (k=16, one update,
    // then assign), then decimal-exact within-cluster cosine pairs and
    // the recursive-CTE component closure. sf10-replayable form
    // (round-12): the shared R12Queries.semDedupCtes builder — SIMD
    // DOUBLE[64] arrays for the exact integer assignment, and 2-dim
    // GRID blocking inside each cluster (fixed k=16 means ~25k-vector
    // clusters at sf10 = 5.0e9 raw pairs; the grid probes only the
    // 3^2 neighbor cells any cosine>=0.999 pair can span, with the
    // decimal-exact final filter unchanged).
    "q_v_semantic_dedup" -> (
      "WITH RECURSIVE\n" + R12Queries.semDedupCtes(
        """SELECT vec_id, embedding FROM embeddings
          |  UNION ALL SELECT vec_id + 100000000, embedding
          |  FROM embeddings""".stripMargin,
        "SELECT 16 AS k",
        gridDims = 2) + "\n" + R12Queries.semKeepSelect),

    "q_v_int8_ann" ->
      """WITH idx AS (SELECT unnest(range(1, 65)) AS i),
        |x AS (SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
        |    CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, idx),
        |s AS (SELECT dim, MAX(ABS(v)) AS sc FROM x GROUP BY dim),
        |q AS (SELECT vec_id, x.dim, CASE WHEN sc = 0 THEN 0
        |    ELSE CAST(floor(v / sc * 127 + 0.5) AS BIGINT) END AS qv
        |  FROM x JOIN s USING (dim)),
        |d AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    CAST(SUM(a.qv * b.qv) AS BIGINT) AS qdot
        |  FROM q a JOIN q b USING (dim)
        |  WHERE a.vec_id < 5 AND b.vec_id <> a.vec_id
        |  GROUP BY 1, 2)
        |SELECT query_id, neighbor_id, qdot, CAST(rn AS INTEGER) AS rnk
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY qdot DESC, neighbor_id) AS rn FROM d)
        |WHERE rn <= 5 ORDER BY query_id, rnk""".stripMargin,

    // Directional variant of the q_x_minhash_neardup oracle: batch CTE
    // joined against the corpus CTE on band-slice equality (band-key md5
    // equality ⇔ slice equality), same est-prune and exact jaccard.
    "q_x_ingest_dedup" -> {
      // sf10-replayable form (round-12): tokenize ONCE per document into
      // a CTE column (DuckDB does not CSE the three normToksSql copies
      // inside shinglesSql — measured 20x on sf10 docs), shingle every
      // document once and SHARE the rows between the corpus and the
      // batch's planted copies, and compute the 16 minhash minima by
      // md5-hashing each DISTINCT shingle once and re-joining (min over
      // the same multiset — identical signatures, ~9x fewer md5 calls
      // at sf10's dup structure). Band join and exact jaccard unchanged.
      val minCols = (0 until 16).map(i => s"min(h$i)").mkString("[", ", ", "]")
      val hCols = (0 until 16).map(i => s"md5('$i' || ':' || s) AS h$i")
        .mkString(", ")
      val shingles = TextSimQueries.shinglesOfSql("t")
      s"""WITH tokd AS (SELECT doc_id, source,
         |    ${TextSimQueries.normToksSql} AS t FROM documents),
         |shAll AS (SELECT doc_id, source, $shingles AS sh FROM tokd),
         |shc AS (SELECT doc_id, sh FROM shAll WHERE source <> 'src4'),
         |shb AS (SELECT doc_id, sh FROM shAll WHERE source = 'src4'
         |  UNION ALL SELECT doc_id + 100000000, sh FROM shAll
         |  WHERE source <> 'src4' AND doc_id % 20 = 0),
         |ds AS (SELECT DISTINCT s FROM
         |  (SELECT unnest(sh) AS s FROM shAll)),
         |hh AS (SELECT s, $hCols FROM ds),
         |sigc AS (SELECT doc_id, $minCols AS sg FROM
         |  (SELECT doc_id, unnest(sh) AS s FROM shc) w
         |  JOIN hh USING (s) GROUP BY doc_id),
         |sigb AS (SELECT doc_id, $minCols AS sg FROM
         |  (SELECT doc_id, unnest(sh) AS s FROM shb) w
         |  JOIN hh USING (s) GROUP BY doc_id),
         |bndc AS (SELECT doc_id, bno,
         |    array_to_string(CASE WHEN bno = 0 THEN sg[1:8] ELSE sg[9:16] END,
         |      '|') AS bkey
         |  FROM sigc CROSS JOIN (SELECT unnest([0, 1]) AS bno) t),
         |bndb AS (SELECT doc_id, bno,
         |    array_to_string(CASE WHEN bno = 0 THEN sg[1:8] ELSE sg[9:16] END,
         |      '|') AS bkey
         |  FROM sigb CROSS JOIN (SELECT unnest([0, 1]) AS bno) t),
         |cp AS (SELECT DISTINCT x.doc_id AS batch_id, y.doc_id AS corpus_id
         |  FROM bndb x JOIN bndc y ON x.bno = y.bno AND x.bkey = y.bkey),
         |cand AS (SELECT batch_id, corpus_id,
         |    sb2.sh AS shb2, sc2.sh AS shc2,
         |    list_sum(list_transform(range(1, 17),
         |      i -> CASE WHEN b.sg[i] = c.sg[i] THEN 1 ELSE 0 END)) / 16.0
         |      AS est_jaccard
         |  FROM cp JOIN sigb b ON b.doc_id = batch_id
         |    JOIN sigc c ON c.doc_id = corpus_id
         |    JOIN shb sb2 ON sb2.doc_id = batch_id
         |    JOIN shc sc2 ON sc2.doc_id = corpus_id),
         |ex AS (SELECT batch_id, corpus_id, est_jaccard,
         |    len(list_intersect(shb2, shc2))
         |      / CAST(len(list_distinct(list_concat(shb2, shc2))) AS DOUBLE)
         |      AS jaccard
         |  FROM cand WHERE est_jaccard >= 0.25)
         |SELECT batch_id, corpus_id, est_jaccard, jaccard FROM ex
         |WHERE jaccard >= 0.5 ORDER BY batch_id, corpus_id""".stripMargin
    },

    // Eight independent replays of the quantized-Lloyd's CTE (one per
    // subspace; the q_v_kmeans oracle pattern with k=16 over that
    // subspace's 8 components), unioned into the long-form code table.
    "q_v_pq_codes" -> {
      val union = (0 until 8).map(s =>
        s"SELECT vec_id, $s AS subspace, cid AS code FROM a2$s")
        .mkString("\nUNION ALL ")
      s"""WITH $pqFitCtes,
         |$pqSubspaceCtes
         |$union
         |ORDER BY vec_id, subspace""".stripMargin
    },

    // First 8 md5 hex nibbles assembled into the same double the Spark
    // side gets from conv(..., 16, 10): every term is an exact small
    // integer times a power of 16, so the assembled score (< 2^32) is
    // exact in double on both engines.
    "q_m_group_sample" -> {
      val h = "md5('smp:' || CAST(event_id AS VARCHAR))"
      val score = s"""list_sum(list_transform(range(1, 9),
        | i -> (strpos('0123456789abcdef', substr($h, i, 1)) - 1)
        |   * power(16.0, 8 - i)))""".stripMargin
      s"""SELECT event_type, event_id FROM (
         |  SELECT event_type, event_id, row_number() OVER (
         |    PARTITION BY event_type ORDER BY $score DESC, event_id) AS rn
         |  FROM events)
         |WHERE rn <= 3 ORDER BY event_type, event_id""".stripMargin
    }
  )
}
