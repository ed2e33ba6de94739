package graft.queries

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.text.{Bpe, NbClassifier, TextOps}

/** Tokenizer-training and classifier-distillation queries — the two
  * training-data-pipeline stages the catalog still computed with fixed
  * rules rather than fitting from the corpus:
  *
  *  - q_x_bpe_merges / q_x_bpe_encode: distributed BPE merge-table
  *    training (one corpus pass, then vocabulary-bounded rounds) and
  *    corpus re-tokenization under the fitted table;
  *  - q_x_quality_nb: the CCNet/GPT-3 distillation move — the bigram-LM
  *    perplexity gate's labels train a multinomial NB classifier whose
  *    confusion against the gate is the query output.
  *
  * Both fits are deterministic (count-desc/pair-asc argmax; DECIMAL log
  * sums) so the oracles replay them bit-for-bit: BPE as a K-stage CTE
  * chain (the Lloyd's precedent — each stage = pair counts → argmax →
  * replace-to-fixpoint), NB as one statement sharing q_x_lm_quality's
  * tokenization SQL.
  */
object BpeQueries extends QueryPack {

  /** Merge-table size. Small enough that the oracle chain stays
    * readable; large enough that multi-character subwords ("er$", "ow$")
    * emerge from the corpus at every test scale. */
  val K = 12

  /** Process-scoped memo of the fitted merge table, keyed by data dir —
    * the ForestQueries.fitted discipline: only the O(K) driver-side
    * fitted parameters are stored; each query rebuilds its relations
    * (one corpus pass) and re-scores its own data. */
  private val mergeMemo = TrieMap[String, Seq[Bpe.Merge]]()

  private[queries] def fitted(s: SparkSession, d: String): Bpe.Model = {
    val docs = Tables(s, d, "documents")
    val merges = mergeMemo.getOrElseUpdate(d,
      Bpe.train(docs, "text", K).merges)
    Bpe.Model(merges, Bpe.vocabFor(docs, "text", merges))
  }

  /** Process-scoped distilled NB quality gate (teacher LM median split →
    * NB student): the per-doc gate labels and the compiled per-word
    * log-likelihood relation — the two corpus passes of the
    * distillation — are [[Shared.pinned]], and the label-bounded
    * scalars memoized, so a warm call costs only the scoring map. A
    * streaming ingest over the same dir shares the fitted state by
    * passing the returned model to corpusIngestSink's nbGate. */
  private val nbGateMemo = TrieMap[String, NbClassifier.Compiled]()

  private[queries] def distilledGate(s: SparkSession, d: String)
      : (NbClassifier.Compiled, DataFrame) = {
    val docs = Tables(s, d, "documents")
    val labeled = Shared.pinned(s, "nb_gate_labels|" + d)(
      NbClassifier.lmGateLabels(docs, "doc_id", "text"))
    val compiled = nbGateMemo.getOrElseUpdate(
      System.identityHashCode(s).toString + "|" + d, {
        val counts = NbClassifier.tokenCounts(
          docs.join(labeled, Seq("doc_id")), "text", "gate_label")
        val c0 = NbClassifier.compile(
          NbClassifier.modelFrom(counts, labeled, "gate_label"))
        c0.copy(wordLls =
          Shared.pinned(s, "nb_gate_wordlls|" + d)(c0.wordLls))
      })
    (compiled, labeled)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The learned merge table as data: rank, the symbol pair chosen at
    // that rank, its concatenation, and its corpus-weighted count at
    // selection time — the fit itself under the hash.
    "q_x_bpe_merges" -> ((s, d) => {
      val m = fitted(s, d)
      import s.implicits._
      m.merges.map(g => (g.rank, g.pair, g.merged, g.count))
        .toDF("rank", "pair", "merged", "cnt")
        .orderBy("rank")
    }),

    // Corpus re-tokenized under the fitted table, rolled up per
    // language: word and subword-token totals plus the realized
    // tokens-per-word ratio (the compression the merge table bought).
    // Encode = broadcast vocabulary join; the corpus never shuffles.
    "q_x_bpe_encode" -> ((s, d) => {
      val m = fitted(s, d)
      val docs = Tables(s, d, "documents")
      Bpe.encode(m, docs, "doc_id", "text")
        .join(docs.select("doc_id", "lang"), Seq("doc_id"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_words").as("n_words"),
          sum("n_bpe_tokens").as("n_bpe_tokens"))
        .withColumn("tokens_per_word",
          col("n_bpe_tokens").cast("double") / col("n_words").cast("double"))
        .orderBy("lang")
    }),

    // LM-gate distillation: median-split bigram-LM labels -> multinomial
    // NB fit -> gate-vs-classifier confusion. The classifier is the
    // artifact production would run (one broadcast-join map pass per
    // shard) instead of re-fitting the LM everywhere. The teacher fit +
    // distillation are process-memoized (distilledGate) — warm
    // invocations pay only the scoring map, the same division of labor
    // the streaming ingest runs.
    "q_x_quality_nb" -> ((s, d) => {
      val (m, labeled) = distilledGate(s, d)
      NbClassifier.confusion(m, labeled, Tables(s, d, "documents"),
          "doc_id", "text")
        .orderBy("gate_label", "pred_label")
    }),

    // Kneser-Ney perplexity gate — the smoothing production LM filters
    // actually use (KenLM is modified KN), with a rational d = 3/4
    // discount and add-one continuation smoothing so the model is TOTAL
    // and still EXACTLY normalized (KnLmSpec). Same term-join shape and
    // DECIMAL log sums as q_x_lm_quality.
    "q_x_kn_lm" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      graft.text.TextOps.kneserNeyLmScore(
        docs, docs.filter(col("doc_id") < 100), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Composition: the full training-data LOADER — what actually feeds a
    // trainer once the corpus is curated. Five stages, one hash:
    //   1. mixture RATES per language (q_x_mixture_plan's DoReMi-style
    //      computation: min(1, target·T_total/T_lang));
    //   2. deterministic mixture SAMPLING — keep a doc iff its md5
    //      uniform < floor(rate·2³²) (q_x_weighted_sample's mechanism,
    //      driven by the mixture rate instead of a quality weight);
    //   3. deterministic epoch SHUFFLE of the kept docs (hashRank — the
    //      256-bucket distributed global rank, no single-partition sort);
    //   4. re-tokenization under the FITTED BPE table (the shared
    //      mergeMemo — one fit per process per dir);
    //   5. greedy 512-subword context-window PACKING in shuffle order
    //      (distributed prefix sum), rolled into 16 shard manifests
    //      (n_docs + distinct batches + token totals + id_sum pin the
    //      whole permutation and batch structure at any scale).
    "q_pipe_dataloader" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      // 1. per-language sampling rates
      import s.implicits._
      val perLang = docs.groupBy("lang")
        .agg(sum(TextOps.tokenCount(col("text")).cast("long")).as("tokens"))
      val total = perLang.agg(sum("tokens").as("total_tokens"))
      val rates = perLang
        .join(broadcast(PipeQueries.MixtureTargets.toDF("lang", "target_share")),
          Seq("lang"))
        .crossJoin(broadcast(total))
        .select(col("lang"), least(lit(1.0), col("target_share")
          * col("total_tokens").cast("double") / col("tokens").cast("double"))
          .as("rate"))
      // 2. deterministic mixture sampling
      val uInt = conv(substring(
        graft.ml.Split.hashKey(col("doc_id"), 19), 1, 8), 16, 10).cast("long")
      val kept = docs.join(broadcast(rates), Seq("lang"))
        .filter(uInt < floor(col("rate") * 4294967296.0).cast("long"))
        .select("doc_id", "text")
      // 3+4. fitted-BPE tokenization (inner join drops no-valid-word
      // docs, the q_pipe_tokenize_pack semantic), with the epoch-shuffle
      // ORDER attached as a narrow hash column instead of a materialized
      // rank: hashRank's global rank orders by (md5-bucket, md5, id) ≡
      // (md5, id), and the packer only consumes the rank as a sort key —
      // so the whole rank subplan (bucket window + offsets + join back,
      // plus a second evaluation of the sampled relation) collapses into
      // one expression column; cum_tok per row is identical (guide §2.4).
      val m = fitted(s, d)
      val toks = Bpe.encode(m, kept, "doc_id", "text")
        .select(col("doc_id"),
          graft.ml.Split.hashKey(col("doc_id"), 23).as("__h"),
          col("n_bpe_tokens").as("n_tok"))
      // 5. pack in shuffle order, roll into 16 shards
      graft.ops.Prefix
        .runningSum(toks, Seq(col("__h"), col("doc_id")), col("n_tok"), "cum_tok")
        .withColumn("batch", expr("CAST((cum_tok - n_tok) DIV 512 AS INT)"))
        .groupBy((col("batch") % 16).cast("int").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("batch")).as("n_batches"),
          sum("n_tok").cast("long").as("shard_tokens"),
          sum("doc_id").cast("long").as("id_sum"))
        .orderBy("shard")
    }),

    // Composition: the FITTED tokenizer feeds the context-window packer —
    // train BPE, re-tokenize the corpus under it, then greedy-pack docs
    // into 512-subword batches in doc_id order (q_x_seq_pack's shape, but
    // over learned subword counts instead of whitespace counts). The
    // running total is a distributed prefix sum, never a global window.
    "q_pipe_tokenize_pack" -> ((s, d) => {
      val m = fitted(s, d)
      val toks = Bpe.encode(m, Tables(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_bpe_tokens").as("n_tok"))
      graft.ops.Prefix
        .runningSum(toks, Seq(col("doc_id")), col("n_tok"), "cum_tok")
        .withColumn("batch", expr("CAST((cum_tok - n_tok) DIV 512 AS INT)"))
        .groupBy("batch")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tok").cast("long").as("batch_tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("batch")
    })
  )

  // ---- oracles ------------------------------------------------------

  import TextSimQueries.normToksSql

  /** bpeV0: the symbolized word-frequency relation (one corpus pass). */
  private val bpeBase =
    s"""bpeV0 AS (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
       |    ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') || '${Bpe.Eow} ' AS sym
       |  FROM (SELECT unnest($normToksSql) AS w FROM documents)
       |  WHERE regexp_matches(w, '^[a-z0-9]+${"$"}')
       |  GROUP BY w)""".stripMargin

  /** One training stage: pair counts -> (count DESC, pair ASC) argmax ->
    * replace-to-fixpoint application, mirroring Bpe.train round by
    * round. FixIters nested replaces = the fixpoint (Bpe.FixIters). */
  private def bpeStage(i: Int): String = {
    val rep = (1 to Bpe.FixIters)
      .foldLeft("sym")((acc, _) => s"replace($acc, b.pat, b.rep)")
    s"""bpeP$i AS (
       |  SELECT unnest(list_transform(range(1, len(s)),
       |      j -> s[j] || ' ' || s[j+1])) AS pair, freq
       |  FROM (SELECT freq, string_split(trim(sym), ' ') AS s FROM bpeV$i) t),
       |bpeB$i AS (SELECT ${i + 1} AS rank, pair, CAST(SUM(freq) AS BIGINT) AS cnt
       |  FROM bpeP$i GROUP BY pair ORDER BY cnt DESC, pair LIMIT 1),
       |bpeV${i + 1} AS (
       |  SELECT w, freq, $rep AS sym
       |  FROM bpeV$i CROSS JOIN (SELECT ' ' || pair || ' ' AS pat,
       |    ' ' || replace(pair, ' ', '') || ' ' AS rep FROM bpeB$i) b)""".stripMargin
  }

  private val bpeChain =
    bpeBase + ",\n" + (0 until K).map(bpeStage).mkString(",\n")

  /** 8-hex-char md5 prefix → integer (nibble positional sum). */
  private def nibbleInt(h: String): String =
    (1 to 8).map(i =>
      s"(strpos('0123456789abcdef', substr($h, $i, 1)) - 1) * ${math.pow(16, 8 - i).toLong}")
      .mkString("(", " + ", ")")

  def oracles: Map[String, String] = Map(
    "q_pipe_dataloader" -> {
      val targets = PipeQueries.MixtureTargets
        .map { case (l, s) => s"('$l', $s)" }.mkString(", ")
      val rawToks = """len(regexp_split_to_array(trim(text), '\s+'))"""
      s"""WITH $bpeChain,
         |dlT AS (SELECT lang, CAST(SUM($rawToks) AS BIGINT) AS tokens
         |  FROM documents GROUP BY lang),
         |dlTot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total_tokens
         |  FROM dlT),
         |dlR AS (SELECT dlT.lang, LEAST(1.0,
         |    CAST(target_share AS DOUBLE) * CAST(total_tokens AS DOUBLE)
         |      / CAST(tokens AS DOUBLE)) AS rate
         |  FROM dlT JOIN (VALUES $targets) tg(lang, target_share)
         |    ON tg.lang = dlT.lang, dlTot),
         |dlH AS (SELECT doc_id, lang, text,
         |    MD5(CONCAT_WS(':', '19', CAST(doc_id AS VARCHAR))) AS h
         |  FROM documents),
         |dlK AS (SELECT doc_id, text FROM dlH JOIN dlR USING (lang)
         |  WHERE ${nibbleInt("h")}
         |    < CAST(floor(rate * 4294967296.0) AS BIGINT)),
         |dlP AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY
         |    MD5(CONCAT_WS(':', '23', CAST(doc_id AS VARCHAR))), doc_id)
         |    AS pos
         |  FROM dlK),
         |dlNs AS (SELECT w, len(string_split(trim(sym), ' ')) AS nsym
         |  FROM bpeV$K),
         |dlDw AS (SELECT doc_id, unnest($normToksSql) AS w FROM dlK),
         |dlDoc AS (SELECT d.doc_id, CAST(SUM(nsym) AS BIGINT) AS n_tok
         |  FROM dlDw d JOIN dlNs USING (w)
         |  WHERE regexp_matches(d.w, '^[a-z0-9]+${"$"}')
         |  GROUP BY d.doc_id),
         |dlC AS (SELECT t.doc_id, p.pos, t.n_tok,
         |    SUM(t.n_tok) OVER (ORDER BY p.pos ROWS UNBOUNDED PRECEDING)
         |      AS cum
         |  FROM dlDoc t JOIN dlP p USING (doc_id)),
         |dlB AS (SELECT doc_id, n_tok,
         |    CAST((cum - n_tok) // 512 AS INTEGER) AS batch FROM dlC)
         |SELECT CAST(batch % 16 AS INTEGER) AS shard, COUNT(*) AS n_docs,
         |  COUNT(DISTINCT batch) AS n_batches,
         |  CAST(SUM(n_tok) AS BIGINT) AS shard_tokens,
         |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
         |FROM dlB GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "q_x_bpe_merges" ->
      s"""WITH $bpeChain
         |SELECT rank, pair, replace(pair, ' ', '') AS merged, cnt FROM (
         |  ${(0 until K).map(i => s"SELECT * FROM bpeB$i").mkString("\n  UNION ALL ")})
         |ORDER BY rank""".stripMargin,

    "q_x_bpe_encode" ->
      s"""WITH $bpeChain,
         |bpeNs AS (SELECT w, len(string_split(trim(sym), ' ')) AS nsym
         |  FROM bpeV$K),
         |bpeDw AS (SELECT doc_id, unnest($normToksSql) AS w FROM documents),
         |bpeDoc AS (SELECT d.doc_id, COUNT(*) AS n_words,
         |    CAST(SUM(nsym) AS BIGINT) AS n_bpe
         |  FROM bpeDw d JOIN bpeNs USING (w)
         |  WHERE regexp_matches(d.w, '^[a-z0-9]+${"$"}')
         |  GROUP BY d.doc_id)
         |SELECT doc.lang, COUNT(*) AS n_docs,
         |  CAST(SUM(b.n_words) AS BIGINT) AS n_words,
         |  CAST(SUM(b.n_bpe) AS BIGINT) AS n_bpe_tokens,
         |  CAST(SUM(b.n_bpe) AS DOUBLE) / CAST(SUM(b.n_words) AS DOUBLE)
         |    AS tokens_per_word
         |FROM bpeDoc b JOIN documents doc USING (doc_id)
         |GROUP BY doc.lang ORDER BY doc.lang""".stripMargin,

    "q_x_kn_lm" ->
      s"""WITH tok AS (SELECT doc_id, $normToksSql AS t FROM documents),
         |uni AS (SELECT w1, count(*) AS cu FROM
         |  (SELECT unnest(t) AS w1 FROM tok) GROUP BY 1),
         |vv AS (SELECT COUNT(*) AS v FROM uni),
         |bgs AS (SELECT doc_id, unnest(CASE WHEN len(t) < 2
         |    THEN CAST([] AS VARCHAR[])
         |    ELSE list_transform(range(1, len(t)),
         |      i -> t[i] || ' ' || t[i+1]) END) AS bg
         |  FROM tok),
         |big AS (SELECT bg, count(*) AS cb FROM bgs GROUP BY 1),
         |fwd AS (SELECT split_part(bg, ' ', 1) AS w1, count(*) AS nf,
         |    CAST(SUM(cb) AS BIGINT) AS cu
         |  FROM big GROUP BY 1),
         |rev AS (SELECT split_part(bg, ' ', 2) AS w2, count(*) AS nr
         |  FROM big GROUP BY 1),
         |nb AS (SELECT count(*) AS nbig FROM big),
         |sc AS (SELECT doc_id, bg, split_part(bg, ' ', 1) AS w1,
         |    split_part(bg, ' ', 2) AS w2
         |  FROM bgs WHERE doc_id < 100)
         |SELECT doc_id, COUNT(*) AS n_bigrams,
         |  CAST(SUM(CAST(ln(
         |      CASE WHEN COALESCE(cu, 0) = 0 THEN
         |        CAST(COALESCE(nr, 0) + 1 AS DOUBLE)
         |          / CAST((SELECT nbig FROM nb) + (SELECT v FROM vv) AS DOUBLE)
         |      ELSE
         |        CAST(greatest(4 * COALESCE(cb, 0) - 3, 0) AS DOUBLE)
         |          / CAST(4 * cu AS DOUBLE)
         |        + (CAST(3 * COALESCE(nf, 0) AS DOUBLE)
         |            / CAST(4 * cu AS DOUBLE))
         |          * (CAST(COALESCE(nr, 0) + 1 AS DOUBLE)
         |            / CAST((SELECT nbig FROM nb) + (SELECT v FROM vv) AS DOUBLE))
         |      END
         |    ) AS DECIMAL(30,12))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         |    AS avg_lp
         |FROM sc LEFT JOIN big USING (bg)
         |  LEFT JOIN fwd USING (w1) LEFT JOIN rev USING (w2)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_pipe_tokenize_pack" ->
      s"""WITH $bpeChain,
         |bpeNs AS (SELECT w, len(string_split(trim(sym), ' ')) AS nsym
         |  FROM bpeV$K),
         |bpeDw AS (SELECT doc_id, unnest($normToksSql) AS w FROM documents),
         |bpeDoc AS (SELECT d.doc_id, CAST(SUM(nsym) AS BIGINT) AS n_tok
         |  FROM bpeDw d JOIN bpeNs USING (w)
         |  WHERE regexp_matches(d.w, '^[a-z0-9]+${"$"}')
         |  GROUP BY d.doc_id),
         |cum AS (SELECT doc_id, n_tok, SUM(n_tok) OVER (ORDER BY doc_id
         |  ROWS UNBOUNDED PRECEDING) AS cum_tok FROM bpeDoc)
         |SELECT CAST((cum_tok - n_tok) // 512 AS INTEGER) AS batch,
         |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS batch_tokens,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM cum GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_x_quality_nb" ->
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
         |sc AS (SELECT doc_id, bg, split_part(bg, ' ', 1) AS w1 FROM bgs),
         |lm AS (SELECT doc_id,
         |    CAST(SUM(CAST(ln(CAST(COALESCE(cb, 0) + 1 AS DOUBLE)
         |        / CAST(COALESCE(cu, 0) + (SELECT v FROM vv) AS DOUBLE))
         |      AS DECIMAL(30,12))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         |      AS avg_lp
         |  FROM sc LEFT JOIN big USING (bg) LEFT JOIN uni USING (w1)
         |  GROUP BY doc_id),
         |cut AS (SELECT quantile_cont(avg_lp, 0.5) AS c FROM lm),
         |lab AS (SELECT doc_id, CASE WHEN avg_lp >= (SELECT c FROM cut)
         |    THEN 'hq' ELSE 'lq' END AS gl FROM lm),
         |dtok AS (SELECT t.doc_id, l.gl, unnest(t.t) AS w
         |  FROM tok t JOIN lab l USING (doc_id)),
         |cw AS (SELECT gl, w, count(*) AS c FROM dtok GROUP BY 1, 2),
         |nl AS (SELECT gl, count(*) AS n FROM dtok GROUP BY 1),
         |nbv AS (SELECT count(DISTINCT w) AS v FROM dtok),
         |pri AS (SELECT gl, count(*) AS d FROM lab GROUP BY 1),
         |dnn AS (SELECT count(*) AS dn FROM lab),
         |cands AS (SELECT DISTINCT gl AS cand FROM lab),
         |sco AS (SELECT dt.doc_id, cd.cand,
         |    SUM(CAST(ln(CAST(COALESCE(cw.c, 0) + 1 AS DOUBLE)
         |        / CAST(nl.n + (SELECT v FROM nbv) AS DOUBLE))
         |      AS DECIMAL(30,12))) AS lls
         |  FROM dtok dt CROSS JOIN cands cd
         |  LEFT JOIN cw ON cw.gl = cd.cand AND cw.w = dt.w
         |  JOIN nl ON nl.gl = cd.cand
         |  GROUP BY dt.doc_id, cd.cand),
         |sfin AS (SELECT sco.doc_id, sco.cand,
         |    sco.lls + CAST(ln(CAST(pri.d AS DOUBLE)
         |      / CAST((SELECT dn FROM dnn) AS DOUBLE)) AS DECIMAL(30,12)) AS s
         |  FROM sco JOIN pri ON pri.gl = sco.cand),
         |pred AS (SELECT doc_id, cand AS pred FROM (SELECT *,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s DESC, cand)
         |      AS rn FROM sfin) z WHERE rn = 1)
         |SELECT l.gl AS gate_label, p.pred AS pred_label, count(*) AS n
         |FROM lab l JOIN pred p USING (doc_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )
}
