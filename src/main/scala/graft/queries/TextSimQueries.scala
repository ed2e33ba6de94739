package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.Num.dsum12
import graft.text.TextOps
import graft.sim.Similarity

/** Training-data pipeline queries: text analysis, dedup family, similarity
  * search — over `documents` and `embeddings`. SQL-expressible ops carry a
  * DuckDB oracle (string/list functions mirror the Spark expressions
  * exactly); the LSH join pipelines are rows-only checked here and
  * recall-tested in ScalaTest.
  */
object TextSimQueries extends QueryPack {
  import Sql._

  // ---- shared SQL fragments -------------------------------------------
  /** tokens of raw text (whitespace), as in TextOps.tokens. */
  private[queries] val toksSql = """regexp_split_to_array(trim(text), '\s+')"""
  private val toksLowerSql = """regexp_split_to_array(trim(lower(text)), '\s+')"""
  /** normalized text + its tokens, as in TextOps.normalizeText/tokens. */
  private[queries] val normSql = """lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"""
  private[queries] val normToksSql = s"""regexp_split_to_array(trim($normSql), '\\s+')"""
  /** distinct 3-token shingles of normalized text; the <3-token branch
    * mirrors TextOps.shingles' whole-string fallback (without it, range()
    * is empty for short docs, minhash minima go NULL, and band equality
    * can never match — silently diverging from the engine). */
  private[queries] val shinglesSql =
    s"""(CASE WHEN len($normToksSql) < 3
       | THEN [array_to_string($normToksSql, ' ')]
       | ELSE list_distinct(list_transform(range(0, len($normToksSql) - 2),
       |   i -> array_to_string(($normToksSql)[i+1:i+3], ' '))) END)""".stripMargin

  /** [[shinglesSql]] over an ALREADY-TOKENIZED column — the sf10 oracle
    * discipline: DuckDB does not CSE the three normToksSql occurrences
    * inside shinglesSql (measured 105 s vs 5.4 s for 50k sf10 docs), so
    * scale-gated oracles tokenize ONCE into a CTE column and shingle
    * from it. Same lesson as the engine side's "materialize token
    * arrays before lambdas" (SCALE.md), replayed in the oracle. */
  private[queries] def shinglesOfSql(t: String): String =
    s"""(CASE WHEN len($t) < 3
       | THEN [array_to_string($t, ' ')]
       | ELSE list_distinct(list_transform(range(0, len($t) - 2),
       |   i -> array_to_string(($t)[i+1:i+3], ' '))) END)""".stripMargin

  private def sqlList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("[", ", ", "]")

  /** Language-ID SQL fragments (shared by q_x_lang_id and the corpus
    * pipeline): per-language stopword-hit scores, their max, and the
    * argmax CASE — mirroring TextOps.langScores/langId exactly. */
  private lazy val langProfs = TextOps.LangProfiles.toSeq.sortBy(_._1)
  private[queries] lazy val langScoreColsSql = langProfs.map { case (lang, words) =>
    // normalized tokens, mirroring TextOps.langScores (which tokenizes via
    // normalizeText so expression, fast-UDF, and oracle agree on any text)
    s"""len(list_filter($normToksSql, t -> list_contains(${sqlList(words)}, t)))
       | / CAST(len($normToksSql) AS DOUBLE) AS s_$lang""".stripMargin
  }.mkString(",\n ")
  /** [[langScoreColsSql]] over an already-tokenized column (the sf10
    * tokenize-once discipline — the inline form re-tokenizes the text
    * twice PER LANGUAGE). */
  private[queries] def langScoreColsOfSql(t: String): String =
    langProfs.map { case (lang, words) =>
      s"""len(list_filter($t, w -> list_contains(${sqlList(words)}, w)))
         | / CAST(len($t) AS DOUBLE) AS s_$lang""".stripMargin
    }.mkString(",\n ")

  private[queries] lazy val langBestSql =
    langProfs.map(p => s"s_${p._1}").mkString("GREATEST(", ", ", ")")
  private[queries] lazy val langCaseSql = "CASE " + langProfs.map { case (lang, _) =>
    s"WHEN s_$lang = best AND s_$lang > 0 THEN '$lang'"
  }.mkString(" ") + " ELSE 'und' END"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Text quality features (C4/Gopher-style heuristics), one narrow pass.
    "q_x_quality" -> ((s, d) =>
      TextOps.qualityFeatures(Tables(s, d, "documents"))
        .select("doc_id", "n_chars_m", "n_tokens", "n_unique_tokens",
          "mean_word_len", "stopword_ratio", "alpha_ratio")
        .orderBy("doc_id")),

    // Statistical quality gate: corpus-fitted add-one bigram LM scores
    // each doc's average token log-probability (the CCNet perplexity
    // filter, bigram form). Counts are vocabulary-bounded aggregates;
    // scoring is the BM25 term-join shape; decimal log sums make the
    // score hash-exact cross-engine.
    "q_x_lm_quality" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      TextOps.bigramLmScore(docs, docs.filter(col("doc_id") < 100),
        "doc_id", "text").orderBy("doc_id")
    }),

    // Token counting: whitespace + BPE-ish regex tokenizer.
    "q_x_token_counts" -> ((s, d) =>
      Tables(s, d, "documents").select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_ws"),
        size(TextOps.bpeishTokens(col("text"))).cast("long").as("n_bpeish"))
        .orderBy("doc_id")),

    // Language ID by stopword-profile hit ratio (fast UDF, bit-identical
    // to the expression form the oracle mirrors).
    "q_x_lang_id" -> ((s, d) =>
      Tables(s, d, "documents").select(
        col("doc_id"), col("lang"),
        TextOps.langIdFast(col("text")).as("pred_lang"))
        .orderBy("doc_id")),

    // Document fingerprints (order-sensitive + bag-of-words).
    "q_x_fingerprints" -> ((s, d) =>
      Tables(s, d, "documents").filter(col("doc_id") < 100).select(
        col("doc_id"),
        TextOps.contentFingerprint(col("text")).as("fp_content"),
        TextOps.shingleFingerprint(col("text")).as("fp_shingle"))
        .orderBy("doc_id")),

    // Document-term matrix: top-3 terms per doc by tf (ties → token asc)
    // with corpus document frequency — the exact-count substrate of TF-IDF.
    "q_x_doc_terms" -> ((s, d) => {
      val dtm = TextOps.documentTermMatrix(
        Tables(s, d, "documents").filter(col("doc_id") < 50), "doc_id", "text")
      val w = Window.partitionBy("doc_id")
        .orderBy(col("tf").desc, col("token").asc)
      dtm.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select(col("doc_id"), col("rn"), col("token"), col("tf"), col("df"))
        .orderBy("doc_id", "rn")
    }),

    // Exact dedup over a doubled corpus (proves duplicate rows collapse).
    "q_x_exact_dedup" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      TextOps.exactDedup(docs.unionByName(docs), "doc_id", "text")
        .agg(count(lit(1)).as("n_unique"), sum("doc_id").as("id_sum"))
    }),

    // MinHash signatures (md5-permutation minima — engine-reproducible).
    "q_x_minhash_sigs" -> ((s, d) => {
      val sig = TextOps.minhashSignature(col("text"), 8, 3)
      val cols = (0 until 8).map(i => element_at(sig, i + 1).as(s"mh$i"))
      Tables(s, d, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id") +: cols: _*).orderBy("doc_id")
    }),

    // LSH band keys over the minhash signature (2 bands × 4 rows).
    "q_x_lsh_bands" -> ((s, d) => {
      val sig = TextOps.minhashSignature(col("text"), 8, 3)
      val bands = TextOps.lshBandKeys(sig, 2, 4)
      Tables(s, d, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id"), element_at(bands, 1).as("band0"),
          element_at(bands, 2).as("band1"))
        .orderBy("doc_id")
    }),

    // SimHash fingerprint (16-bit here so the oracle stays tractable).
    "q_x_simhash" -> ((s, d) =>
      Tables(s, d, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id"), TextOps.simhash(col("text"), 16).as("simhash"))
        .orderBy("doc_id")),

    // Exact n-gram Jaccard on consecutive doc pairs.
    "q_x_ngram_jaccard" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val a = docs.filter(col("doc_id") < 100)
        .select(col("doc_id").as("id_a"), col("text").as("text_a"))
      val b = docs.select(col("doc_id").as("id_b"), col("text").as("text_b"))
      a.join(b, col("id_b") === col("id_a") + 1)
        .select(col("id_a"), col("id_b"),
          TextOps.jaccardShingles(col("text_a"), col("text_b"), 3).as("jaccard"))
        .orderBy("id_a")
    }),

    // MinHash+LSH near-dup pipeline. Oracle-checked: the fast UDF signature
    // is bit-identical to the md5-expression form, and band-sharing is
    // expressible as signature-slice equality in SQL.
    "q_x_minhash_neardup" -> ((s, d) => {
      val docs = Fixtures.assertNoAlias(Tables(s, d, "documents"), "doc_id")
      // bands=2 (8 rows/band): the synthetic corpus shares a tiny
      // vocabulary, so shorter bands put most of the corpus into a handful
      // of buckets and the self-join goes quadratic; 8-row bands target
      // the near-exact duplicates this query plants.
      TextOps.minhashNearDupPairs(docs.unionByName(
        docs.select(Fixtures.shifted(col("doc_id")), col("text"), col("lang"),
          col("source"), col("n_chars")).toDF(docs.columns: _*)),
        "doc_id", "text", numHashes = 16, bands = 2, threshold = 0.5)
        .orderBy("id_a", "id_b")
    }),

    // SimHash near-dup pipeline. Small-vocabulary corpora saturate the
    // fingerprint, so the query reports the hamming histogram rather than
    // the (quadratically large) raw pair set. Oracle-checked: with
    // maxHamming < bands the pigeonhole makes banding EXACT, so the SQL
    // oracle can skip the banding and filter all pairs by hamming.
    // 48-bit fingerprint → 12-bit band keys (4096 values): band-key
    // cardinality is what bounds the candidate join — 8-bit keys flooded
    // it ~quadratically on this clustered corpus (measured 3.4 s → the
    // join emitted millions of pairs to keep 4).
    "q_x_simhash_neardup" -> ((s, d) => {
      val docs = Fixtures.assertNoAlias(Tables(s, d, "documents"), "doc_id")
      TextOps.simhashNearDupPairs(docs.unionByName(
        docs.select(Fixtures.shifted(col("doc_id")), col("text"), col("lang"),
          col("source"), col("n_chars")).toDF(docs.columns: _*)),
        "doc_id", "text", bits = 48, bands = 4, maxHamming = 3)
        .groupBy("hamming").agg(count(lit(1)).as("n_pairs"))
        .orderBy("hamming")
    }),

    // Brute-force exact cosine top-k (the ANN baseline), decimal-exact.
    "q_v_knn_brute" -> ((s, d) => {
      val e = Tables(s, d, "embeddings")
      val pairs = e.select(col("vec_id").as("neighbor_id"))
        .crossJoin(broadcast(e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"))))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select("query_id", "neighbor_id")
      exactCosineTopK(e, pairs, k = 5)
    }),

    // Hard-negative mining for embedding training (the triplet/contrastive
    // data op): for each query vector, the top-k most similar vectors of
    // a DIFFERENT label — the negatives that actually move a metric-
    // learning loss. Same brute candidate relation as q_v_knn_brute with
    // the label-mismatch constraint pushed into the pair generator
    // (broadcast query side; corpus never shuffles); at scale the pair
    // relation swaps in lshCandidates unchanged.
    "q_v_hard_negatives" -> ((s, d) => {
      val e = Tables(s, d, "embeddings")
      val pairs = e.select(col("vec_id").as("neighbor_id"),
          col("label").as("__nl"))
        .crossJoin(broadcast(e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("label").as("__ql"))))
        .filter(col("neighbor_id") =!= col("query_id") &&
          col("__nl") =!= col("__ql"))
        .select("query_id", "neighbor_id")
      exactCosineTopK(e, pairs, k = 5)
    }),

    // Hyperplane-LSH ANN. Oracle-checked: the plane constants are driver-
    // computed and inlined into the oracle SQL as literals, the signature
    // dot products accumulate left-to-right doubles in both engines, and
    // the candidate scoring uses decimal-exact cosine on both sides.
    "q_v_lsh_ann" -> ((s, d) => {
      val e = Tables(s, d, "embeddings")
      val pairs = Similarity.lshCandidates(e, e.filter(col("vec_id") < 5),
        nPlanes = 4, nTables = 4)
      exactCosineTopK(e, pairs, k = 5)
    }),

    // Multiprobe hyperplane-LSH ANN (round 9): identical corpus-side
    // index to q_v_lsh_ann, but each query also probes every single-bit-
    // flip bucket per table (Hamming radius 1) — recall at the same index
    // size. The probe set is a deterministic signature function, so the
    // oracle replays it as a per-table bit_count(xor(...)) <= 1 test.
    "q_v_lshmp_ann" -> ((s, d) => {
      val e = Tables(s, d, "embeddings")
      val pairs = Similarity.lshCandidatesMultiprobe(e,
        e.filter(col("vec_id") < 5), nPlanes = 4, nTables = 4)
      exactCosineTopK(e, pairs, k = 5)
    }),

    // IVF ANN. Oracle-checked: centroid pick is an md5-ordered top-N,
    // assignment/probe argmaxes have margins far above any float-summation
    // ulp, and candidate scoring is decimal-exact.
    "q_v_ivf_ann" -> ((s, d) => {
      val e = Tables(s, d, "embeddings")
      val (centroids, assigned) = Similarity.ivfIndex(e, nCentroids = 16)
      val pairs = Similarity.ivfCandidates(assigned, centroids,
        e.filter(col("vec_id") < 5), nProbe = 4)
      exactCosineTopK(e, pairs, k = 5)
    }),

    // Embedding-cosine near-dup pairs, LSH-blocked, decimal-exact cosine.
    // Oracle-checked against an all-pairs SQL scan: safe because qualifying
    // pairs are exact duplicates (same bucket in every table — LSH recall
    // is 1.0 for them) and the organic cosine ceiling (~0.51) is far below
    // the 0.999 threshold.
    "q_x_embed_neardup" -> ((s, d) => {
      val e = Fixtures.assertNoAlias(Tables(s, d, "embeddings"), "vec_id")
      Similarity.cosineNearDupPairsExact(e.unionByName(
        e.select(Fixtures.shifted(col("vec_id")), col("embedding"), col("label"))
          .toDF(e.columns: _*)), threshold = 0.999)
        .orderBy("id_a", "id_b")
    }),

    // Near-dup CLUSTERS: the minhash pair relation closed into connected
    // components (iterative min-label propagation — ops.Graph), so each
    // duplicate group keeps exactly one representative even across
    // transitive chains a~b~c. Output: (component, member count).
    "q_x_neardup_clusters" -> ((s, d) => {
      val docs = Fixtures.assertNoAlias(Tables(s, d, "documents"), "doc_id")
      val pairs = TextOps.minhashNearDupPairs(docs.unionByName(
        docs.select(Fixtures.shifted(col("doc_id")), col("text"), col("lang"),
          col("source"), col("n_chars")).toDF(docs.columns: _*)),
        "doc_id", "text", numHashes = 16, bands = 2, threshold = 0.5)
      graft.ops.Graph.connectedComponents(pairs, "id_a", "id_b")
        .groupBy("comp").agg(count(lit(1)).as("n_members"))
        .orderBy("comp")
    }),

    // End-to-end corpus-cleaning pipeline (the composition a training-data
    // run actually executes): quality gate → language agreement → exact
    // dedup → minhash near-dup removal (drop the larger id of each pair) →
    // per-language corpus stats. Every stage is the already-verified
    // operator; this query verifies their COMPOSITION against one SQL.
    "q_x_corpus_pipeline" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val quality = TextOps.qualityFeatures(docs)
        .filter(col("alpha_ratio") > 0.7 && col("n_tokens").between(20, 2000))
      val langOk = quality.filter(TextOps.langIdFast(col("text")) === col("lang"))
        .select(docs.columns.map(col): _*)
      // the deduped relation feeds the near-dup pair join (both sides, plus
      // the text join-back) AND the final anti-join — persist it or the
      // interpreted lang-ID filter upstream recomputes four times
      val deduped = TextOps.exactDedup(langOk, "doc_id", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pairs = TextOps.minhashNearDupPairs(deduped, "doc_id", "text",
        numHashes = 16, bands = 2, threshold = 0.5)
      // no distinct on the removal list: left_anti ignores duplicate keys
      // on its right side, so the dedup shuffle would be pure overhead
      val kept = deduped.join(
        pairs.select(col("id_b").as("doc_id")), Seq("doc_id"), "left_anti")
      // per-SOURCE stats (the lang labels are metadata noise on this
      // synthetic corpus — nearly all text scores as English); release
      // the deduped cache on return (library-call persist discipline)
      graft.ops.Leaks.releasing(
        kept.groupBy("source").agg(count(lit(1)).as("n_docs"),
            sum(TextOps.tokenCount(col("text")).cast("long")).as("total_tokens"))
          .orderBy("source"),
        deduped)
    }))

  /** Exact top-k cosine over given candidate (query_id, neighbor_id)
    * pairs: products exploded and accumulated through decimal(30,12) —
    * order-independent, oracle-matched. Shared by the brute/LSH/IVF ANN
    * queries (only the candidate generation differs); the fast (codegen
    * fold) path lives in Similarity.bruteForceTopK/lshTopK/ivfTopK. */
  private def exactCosineTopK(e: DataFrame, pairs: DataFrame, k: Int): DataFrame =
    Similarity.exactCosineTopK(e, pairs, k)

  /** Oracle suffix shared by the ANN queries: decimal-exact cosine + rank
    * over a `pairs(query_id, neighbor_id)` CTE. */
  private def exactScoreSql(k: Int): String =
    s"""idx AS (SELECT unnest(range(1, 65)) AS i),
       |n2 AS (SELECT vec_id, CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE)
       |    * CAST(embedding[i] AS DOUBLE) AS DECIMAL(30,12))) AS DOUBLE) AS n2
       |  FROM embeddings, idx GROUP BY vec_id),
       |dots AS (SELECT query_id, neighbor_id,
       |  CAST(SUM(CAST(CAST(qe.embedding[i] AS DOUBLE) * CAST(ce.embedding[i] AS DOUBLE)
       |    AS DECIMAL(30,12))) AS DOUBLE) AS dot
       |  FROM pairs JOIN embeddings qe ON qe.vec_id = query_id
       |    JOIN embeddings ce ON ce.vec_id = neighbor_id, idx
       |  GROUP BY 1, 2),
       |cosx AS (SELECT query_id, neighbor_id,
       |  dot / (SQRT(nq.n2) * SQRT(nc.n2)) AS cosine
       |  FROM dots JOIN n2 nq ON nq.vec_id = query_id
       |    JOIN n2 nc ON nc.vec_id = neighbor_id)
       |SELECT query_id, neighbor_id, cosine, CAST(rn AS INTEGER) AS rank
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |  ORDER BY cosine DESC, neighbor_id) AS rn FROM cosx) t
       |WHERE rn <= $k ORDER BY query_id, rank""".stripMargin

  /** Hyperplane-signature SQL for LSH table `t`: the same driver-computed
    * plane constants as Similarity.hyperplaneSignature(Fast), inlined as
    * double literals; addition order mirrors the JVM fold exactly. */
  private def sigSql(nPlanes: Int, dim: Int, seed: Int): String =
    (0 until nPlanes).map { p =>
      val dot = (0 until dim).map(i =>
        s"CAST(embedding[${i + 1}] AS DOUBLE)*${Similarity.planeConst(seed, p, i)}")
        .mkString(" + ")
      s"CASE WHEN ($dot) > 0 THEN ${1L << p} ELSE 0 END"
    }.mkString("(", " + ", ")")

  /** Shared fixture-union minhash prefix for the q_x_minhash_neardup /
    * q_x_neardup_clusters oracles (sf10 discipline): tokenize once,
    * shingle once per ORIGINAL doc, md5 each distinct shingle once, and
    * give the planted copy (doc_id + 1e8 — identical text) the same sh
    * and sg rows by a union of ids rather than a recomputation.
    * Produces `shx (doc_id, sh)` and `sig (doc_id, sg)`. */
  private lazy val minhashFixtureSigCtes: String = {
    val minCols = (0 until 16).map(i => s"min(h$i)").mkString("[", ", ", "]")
    val hCols = (0 until 16).map(i => s"md5('$i' || ':' || s) AS h$i")
      .mkString(", ")
    s"""tokd AS (SELECT doc_id, $normToksSql AS t FROM documents),
       |sh0 AS (SELECT doc_id, ${shinglesOfSql("t")} AS sh FROM tokd),
       |shx AS (SELECT doc_id, sh FROM sh0
       |  UNION ALL SELECT doc_id + 100000000, sh FROM sh0),
       |shw AS (SELECT doc_id, unnest(sh) AS s FROM sh0),
       |hh AS (SELECT s, $hCols FROM (SELECT DISTINCT s FROM shw)),
       |sig0 AS (SELECT doc_id, $minCols AS sg
       |  FROM shw JOIN hh USING (s) GROUP BY doc_id),
       |sig AS (SELECT doc_id, sg FROM sig0
       |  UNION ALL SELECT doc_id + 100000000, sg FROM sig0)""".stripMargin
  }

  /** Fast double cosine in SQL (assignment/probe argmax only — margins
    * there are far above float-summation ulp differences). Shared with the
    * round-7 PQ-ADC oracle's IVF probe. */
  private[queries] def fastCosSql(a: String, b: String): String =
    s"""(list_sum(list_transform(range(1, 65),
       |    i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
       |  / (SQRT(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |   * SQRT(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_x_quality" ->
      s"""SELECT doc_id,
         | CAST(length(text) AS BIGINT) AS n_chars_m,
         | CAST(len($toksSql) AS BIGINT) AS n_tokens,
         | CAST(len(list_distinct($toksSql)) AS BIGINT) AS n_unique_tokens,
         | CAST(list_sum(list_transform($toksSql, t -> length(t))) AS DOUBLE)
         |   / len($toksSql) AS mean_word_len,
         | len(list_filter($toksLowerSql,
         |   t -> list_contains(${sqlList(TextOps.EnStopwords)}, t)))
         |   / CAST(len($toksLowerSql) AS DOUBLE) AS stopword_ratio,
         | length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
         |   / CAST(length(text) AS DOUBLE) AS alpha_ratio
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_x_lm_quality" ->
      s"""WITH tok AS (SELECT doc_id, $normToksSql AS t FROM documents),
         |uw AS (SELECT unnest(t) AS w1 FROM tok),
         |uni AS (SELECT w1, count(*) AS cu FROM uw GROUP BY 1),
         |vv AS (SELECT COUNT(*) AS v FROM uni),
         |bgs AS (SELECT doc_id, unnest(CASE WHEN len(t) < 2
         |    THEN CAST([] AS VARCHAR[])
         |    ELSE list_transform(range(1, len(t)),
         |      i -> t[i] || ' ' || t[i+1]) END) AS bg
         |  FROM tok),
         |big AS (SELECT bg, count(*) AS cb FROM bgs GROUP BY 1),
         |sc AS (SELECT doc_id, bg, split_part(bg, ' ', 1) AS w1
         |  FROM bgs WHERE doc_id < 100)
         |SELECT doc_id, COUNT(*) AS n_bigrams,
         |  CAST(SUM(CAST(ln(CAST(COALESCE(cb, 0) + 1 AS DOUBLE)
         |      / CAST(COALESCE(cu, 0) + (SELECT v FROM vv) AS DOUBLE))
         |    AS DECIMAL(30,12))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_lp
         |FROM sc LEFT JOIN big USING (bg) LEFT JOIN uni USING (w1)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_x_token_counts" ->
      s"""SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_ws,
         | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
         |   AS BIGINT) AS n_bpeish
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_x_lang_id" ->
      s"""WITH sc AS (SELECT doc_id, lang, $langScoreColsSql FROM documents),
         |b AS (SELECT *, $langBestSql AS best FROM sc)
         |SELECT doc_id, lang, $langCaseSql AS pred_lang
         |FROM b ORDER BY doc_id""".stripMargin,

    "q_x_fingerprints" ->
      s"""SELECT doc_id, md5($normSql) AS fp_content,
         | md5(array_to_string(list_sort(list_distinct($normToksSql)), ' '))
         |   AS fp_shingle
         |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin,

    "q_x_doc_terms" ->
      s"""WITH tok AS (SELECT doc_id, unnest($normToksSql) AS token
         |  FROM documents WHERE doc_id < 50),
         |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
         |dfq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
         |r AS (SELECT tf.doc_id, tf.token, tf.tf, dfq.df,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY tf.doc_id
         |    ORDER BY tf.tf DESC, tf.token) AS INTEGER) AS rn
         |  FROM tf JOIN dfq USING (token))
         |SELECT doc_id, rn, token, tf, df FROM r
         |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin,

    "q_x_exact_dedup" ->
      s"""SELECT COUNT(*) AS n_unique, CAST(SUM(doc_id) AS BIGINT) AS id_sum FROM (
         | SELECT fp, MIN(doc_id) AS doc_id FROM (
         |  SELECT md5($normSql) AS fp, doc_id FROM
         |   (SELECT * FROM documents UNION ALL SELECT * FROM documents) u
         | ) k GROUP BY fp) dedup""".stripMargin,

    "q_x_minhash_sigs" -> {
      val cols = (0 until 8).map(i =>
        s"list_min(list_transform(sh, s -> md5('$i' || ':' || s))) AS mh$i")
        .mkString(",\n ")
      s"""WITH t AS (SELECT doc_id, $shinglesSql AS sh FROM documents WHERE doc_id < 50)
         |SELECT doc_id, $cols FROM t ORDER BY doc_id""".stripMargin
    },

    "q_x_lsh_bands" -> {
      val mh = (0 until 8).map(i =>
        s"list_min(list_transform(sh, s -> md5('$i' || ':' || s)))")
      s"""WITH t AS (SELECT doc_id, $shinglesSql AS sh FROM documents WHERE doc_id < 50),
         |sig AS (SELECT doc_id, ${mh.mkString("[", ", ", "]")} AS sg FROM t)
         |SELECT doc_id,
         | md5('0' || '|' || array_to_string(sg[1:4], ',')) AS band0,
         | md5('1' || '|' || array_to_string(sg[5:8], ',')) AS band1
         |FROM sig ORDER BY doc_id""".stripMargin
    },

    "q_x_simhash" ->
      s"""WITH tok AS (SELECT doc_id, unnest(list_distinct($normToksSql)) AS t
         |  FROM documents WHERE doc_id < 50),
         |bits AS (SELECT doc_id, b,
         |  SUM(CASE WHEN ((strpos('0123456789abcdef',
         |      substr(md5(t), 12 - b // 4, 1)) - 1)
         |      // CAST(power(2, b % 4) AS INTEGER)) % 2 = 1
         |    THEN 1 ELSE -1 END) AS c
         |  FROM tok CROSS JOIN (SELECT unnest(range(0, 16)) AS b) bb
         |  GROUP BY doc_id, b)
         |SELECT doc_id, CAST(SUM(CASE WHEN c > 0
         |  THEN CAST(power(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
         |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_x_ngram_jaccard" ->
      s"""WITH sh AS (SELECT doc_id, $shinglesSql AS sh FROM documents)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         | len(list_intersect(a.sh, b.sh))
         |   / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard
         |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
         |WHERE a.doc_id < 100 ORDER BY id_a""".stripMargin,

    "q_x_minhash_neardup" -> {
      // band candidacy as a BUCKET equi-join (bands unnested to rows,
      // DISTINCT pairs), not an OR-of-slices theta-join: the theta form
      // nested-loops |docs|² pairs — measured intractable at sf1's 100k
      // docs — while this is exactly the engine's bucket shape, with a
      // bit-identical pair set. sf10-replayable form (round-12):
      // tokenize-once + distinct-shingle md5 join (identical minima),
      // and the planted fixture copies SHARE the original's shingle and
      // signature rows instead of recomputing them.
      s"""WITH $minhashFixtureSigCtes,
         |bnd AS (SELECT doc_id, bno,
         |    array_to_string(CASE WHEN bno = 0 THEN sg[1:8] ELSE sg[9:16] END,
         |      '|') AS bkey
         |  FROM sig CROSS JOIN (SELECT unnest([0, 1]) AS bno) t),
         |cp AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bnd x JOIN bnd y
         |    ON x.bno = y.bno AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |cand AS (SELECT id_a, id_b, xa.sh AS sha, xb.sh AS shb,
         |    list_sum(list_transform(range(1, 17),
         |      i -> CASE WHEN a.sg[i] = b.sg[i] THEN 1 ELSE 0 END)) / 16.0
         |      AS est_jaccard
         |  FROM cp JOIN sig a ON a.doc_id = id_a
         |    JOIN sig b ON b.doc_id = id_b
         |    JOIN shx xa ON xa.doc_id = id_a
         |    JOIN shx xb ON xb.doc_id = id_b),
         |ex AS (SELECT id_a, id_b, est_jaccard,
         |    len(list_intersect(sha, shb))
         |      / CAST(len(list_distinct(list_concat(sha, shb))) AS DOUBLE)
         |      AS jaccard
         |  FROM cand WHERE est_jaccard >= 0.25)
         |SELECT id_a, id_b, est_jaccard, jaccard FROM ex
         |WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin
    },

    "q_x_neardup_clusters" -> {
      // same pair CTE as q_x_minhash_neardup, closed transitively with a
      // recursive CTE: comp(v) = MIN over vertices reachable from v.
      s"""WITH RECURSIVE $minhashFixtureSigCtes,
         |bnd AS (SELECT doc_id, bno,
         |    array_to_string(CASE WHEN bno = 0 THEN sg[1:8] ELSE sg[9:16] END,
         |      '|') AS bkey
         |  FROM sig CROSS JOIN (SELECT unnest([0, 1]) AS bno) t),
         |cp AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bnd x JOIN bnd y
         |    ON x.bno = y.bno AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |cand AS (SELECT id_a, id_b, xa.sh AS sha, xb.sh AS shb,
         |    list_sum(list_transform(range(1, 17),
         |      i -> CASE WHEN a.sg[i] = b.sg[i] THEN 1 ELSE 0 END)) / 16.0
         |      AS est_jaccard
         |  FROM cp JOIN sig a ON a.doc_id = id_a
         |    JOIN sig b ON b.doc_id = id_b
         |    JOIN shx xa ON xa.doc_id = id_a
         |    JOIN shx xb ON xb.doc_id = id_b),
         |p AS (SELECT id_a, id_b FROM cand WHERE est_jaccard >= 0.25
         |  AND len(list_intersect(sha, shb))
         |    / CAST(len(list_distinct(list_concat(sha, shb))) AS DOUBLE) >= 0.5),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM p
         |  UNION SELECT id_b, id_a FROM p),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
         |lbl AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id)
         |SELECT comp, COUNT(*) AS n_members FROM lbl
         |GROUP BY comp ORDER BY comp""".stripMargin
    },

    "q_x_simhash_neardup" ->
      """WITH u AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000000, text FROM documents),
        |tok AS (SELECT doc_id, unnest(list_distinct(
        |    regexp_split_to_array(trim(lower(trim(
        |      regexp_replace(text, '\s+', ' ', 'g')))), '\s+'))) AS t FROM u),
        |bits AS (SELECT doc_id, b,
        |  SUM(CASE WHEN ((strpos('0123456789abcdef',
        |      substr(md5(t), 12 - b // 4, 1)) - 1)
        |      // CAST(power(2, b % 4) AS INTEGER)) % 2 = 1
        |    THEN 1 ELSE -1 END) AS c
        |  FROM tok CROSS JOIN (SELECT unnest(range(0, 48)) AS b) bb
        |  GROUP BY doc_id, b),
        |sh AS (SELECT doc_id, CAST(SUM(CASE WHEN c > 0
        |  THEN CAST(power(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS sh
        |  FROM bits GROUP BY doc_id),
        |bnd AS (SELECT doc_id, sh, bno, (sh >> (bno * 12)) & 4095 AS bkey
        |  FROM sh CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS bno) t),
        |cp AS (SELECT DISTINCT x.doc_id AS da, x.sh AS sha,
        |    y.doc_id AS db, y.sh AS shb
        |  FROM bnd x JOIN bnd y
        |    ON x.bno = y.bno AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
        |SELECT CAST(bit_count(xor(sha, shb)) AS INTEGER) AS hamming,
        |  COUNT(*) AS n_pairs
        |FROM cp WHERE bit_count(xor(sha, shb)) <= 3
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // sf10-replayable form (round-12): the brute pair relation is
    // quadratic in the corpus (8e10 pair evaluations at sf10's 400k
    // fixture vectors) — the oracle now replays the ENGINE's hyperplane
    // LSH blocking (same plane constants via sigSql, nPlanes=12,
    // nTables=4, seeds 77+t, matching Similarity.nearDupCandidates)
    // before the Cauchy–Schwarz prefix prune and the decimal-exact
    // rescore. Recall of the blocking for qualifying pairs is 1.0 BY
    // CONSTRUCTION on this fixture: pairs with cosine >= 0.999 are the
    // planted exact duplicates (organic cosines top out ~0.51), and an
    // identical vector lands in the same bucket of every table. The
    // FINAL decimal-exact >= 0.999 filter is unchanged.
    "q_x_embed_neardup" -> {
      val pcols = (1 to 8).map(k =>
        s"CAST(embedding[$k] AS DOUBLE) AS p$k").mkString(", ")
      val pdot = (1 to 8).map(k => s"pa.p$k * pb.p$k").mkString(" + ")
      val sigCols = (0 until 4).map(t =>
        s"${sigSql(nPlanes = 12, dim = 64, seed = 77 + t)} AS s_$t")
        .mkString(",\n    ")
      val bkUnion = (0 until 4).map(t =>
        s"SELECT vec_id, $t AS tno, s_$t AS sig FROM sg")
        .mkString("\n  UNION ALL ")
      s"""WITH u AS (SELECT vec_id, embedding FROM embeddings
         |  UNION ALL SELECT vec_id + 100000000, embedding FROM embeddings),
         |idx AS (SELECT unnest(range(1, 65)) AS i),
         |n2 AS (SELECT vec_id, CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE)
         |    * CAST(embedding[i] AS DOUBLE) AS DECIMAL(30,12))) AS DOUBLE) AS n2
         |  FROM u, idx GROUP BY vec_id),
         |pf AS (SELECT vec_id, embedding, $pcols,
         |    sqrt(greatest(list_sum(list_transform(embedding[9:64],
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 0.0)) AS nr,
         |    sqrt(list_sum(list_transform(embedding,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nf
         |  FROM u),
         |sg AS (SELECT vec_id,
         |    $sigCols
         |  FROM u),
         |bk AS ($bkUnion),
         |cp AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM bk a JOIN bk b ON a.tno = b.tno AND a.sig = b.sig
         |    AND a.vec_id < b.vec_id),
         |cand AS (SELECT id_a, id_b,
         |    pa.embedding AS va, pb.embedding AS vb
         |  FROM cp JOIN pf pa ON pa.vec_id = id_a
         |    JOIN pf pb ON pb.vec_id = id_b
         |  WHERE $pdot + pa.nr * pb.nr >= 0.99899 * pa.nf * pb.nf),
         |dots AS (SELECT id_a, id_b, CAST(SUM(CAST(CAST(va[i] AS DOUBLE)
         |    * CAST(vb[i] AS DOUBLE) AS DECIMAL(30,12))) AS DOUBLE) AS dot
         |  FROM cand, idx GROUP BY id_a, id_b)
         |SELECT id_a, id_b, dot / (sqrt(na.n2) * sqrt(nb.n2)) AS cosine
         |FROM dots JOIN n2 na ON na.vec_id = id_a JOIN n2 nb ON nb.vec_id = id_b
         |WHERE dot / (sqrt(na.n2) * sqrt(nb.n2)) >= 0.999
         |ORDER BY id_a, id_b""".stripMargin
    },

    "q_x_corpus_pipeline" -> {
      val mins = (0 until 16).map(i =>
        s"list_min(list_transform(sh, s -> md5('$i' || ':' || s)))")
        .mkString(",\n   ")
      s"""WITH qd AS (SELECT doc_id, lang, source, text FROM documents
         |  WHERE length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
         |      / CAST(length(text) AS DOUBLE) > 0.7
         |    AND len($toksSql) BETWEEN 20 AND 2000),
         |sc AS (SELECT doc_id, lang, source, text, $langScoreColsSql FROM qd),
         |bb AS (SELECT *, $langBestSql AS best FROM sc),
         |lf AS (SELECT doc_id, lang, source, text FROM bb WHERE $langCaseSql = lang),
         |dd AS (SELECT MIN(doc_id) AS doc_id FROM
         |  (SELECT md5($normSql) AS fp, doc_id FROM lf) k GROUP BY fp),
         |d2 AS (SELECT lf.doc_id, lf.source, lf.text FROM lf JOIN dd USING (doc_id)),
         |shx AS (SELECT doc_id, $shinglesSql AS sh FROM d2),
         |sig AS (SELECT doc_id, sh, [$mins] AS sg FROM shx),
         |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    a.sh AS sha, b.sh AS shb,
         |    list_sum(list_transform(range(1, 17),
         |      i -> CASE WHEN a.sg[i] = b.sg[i] THEN 1 ELSE 0 END)) / 16.0
         |      AS est_jaccard
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |    AND (a.sg[1:8] = b.sg[1:8] OR a.sg[9:16] = b.sg[9:16])),
         |removed AS (SELECT DISTINCT id_b AS doc_id FROM cand
         |  WHERE est_jaccard >= 0.25
         |    AND len(list_intersect(sha, shb))
         |      / CAST(len(list_distinct(list_concat(sha, shb))) AS DOUBLE) >= 0.5),
         |kept AS (SELECT * FROM d2 WHERE doc_id NOT IN (SELECT doc_id FROM removed))
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(len($toksSql)) AS BIGINT) AS total_tokens
         |FROM kept GROUP BY source ORDER BY source""".stripMargin
    },

    "q_v_knn_brute" ->
      s"""WITH pairs AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id
         |  FROM embeddings e CROSS JOIN
         |    (SELECT vec_id FROM embeddings WHERE vec_id < 5) q
         |  WHERE e.vec_id != q.vec_id),
         |${exactScoreSql(5)}""".stripMargin,

    "q_v_hard_negatives" ->
      s"""WITH pairs AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id
         |  FROM embeddings e CROSS JOIN
         |    (SELECT vec_id, label FROM embeddings WHERE vec_id < 5) q
         |  WHERE e.vec_id != q.vec_id AND e.label != q.label),
         |${exactScoreSql(5)}""".stripMargin,

    "q_v_lsh_ann" -> {
      val sigs = (0 until 4).map(t =>
        s"${sigSql(nPlanes = 4, dim = 64, seed = 1042 + t)} AS s_$t")
        .mkString(",\n  ")
      val share = (0 until 4).map(t => s"q.s_$t = c.s_$t").mkString(" OR ")
      s"""WITH sig AS (SELECT vec_id,
         |  $sigs FROM embeddings),
         |q AS (SELECT * FROM sig WHERE vec_id < 5),
         |pairs AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
         |  FROM q JOIN sig c ON c.vec_id != q.vec_id AND ($share)),
         |${exactScoreSql(5)}""".stripMargin
    },

    "q_v_lshmp_ann" -> {
      val sigs = (0 until 4).map(t =>
        s"${sigSql(nPlanes = 4, dim = 64, seed = 1042 + t)} AS s_$t")
        .mkString(",\n  ")
      val share = (0 until 4)
        .map(t => s"bit_count(xor(q.s_$t, c.s_$t)) <= 1").mkString(" OR ")
      s"""WITH sig AS (SELECT vec_id,
         |  $sigs FROM embeddings),
         |q AS (SELECT * FROM sig WHERE vec_id < 5),
         |pairs AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
         |  FROM q JOIN sig c ON c.vec_id != q.vec_id AND ($share)),
         |${exactScoreSql(5)}""".stripMargin
    },

    "q_v_ivf_ann" -> {
      val cosEC = fastCosSql("e.embedding", "c.centroid")
      s"""WITH cent AS (SELECT * FROM (SELECT ROW_NUMBER() OVER (
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
         |    AND a.vec_id != p.query_id),
         |${exactScoreSql(5)}""".stripMargin
    })
}
