package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines over the
  * `documents` table (doc_id, text, lang, source, n_chars). All are Column
  * combinators (whole-stage-codegen friendly) or shuffle-on-key relational
  * plans; nothing touches the driver.
  */
object TextOps {

  /** Whitespace tokenizer (the baseline token counter). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** BPE-ish subword-aware token split: words, numbers, and single
    * punctuation marks each count (a practical proxy for BPE token counts
    * without a vocab file). */
  def bpeishTokens(text: Column): Column =
    // words / numbers / single punctuation marks (RE2-compatible pattern —
    // no lookarounds — so the oracle regex is identical)
    regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))

  def tokenCount(text: Column): Column = size(tokens(text))
  def uniqueTokenCount(text: Column): Column = size(array_distinct(tokens(text)))

  /** Quality-score features: length, token stats, punctuation/alpha/digit
    * ratios, stopword ratio, mean word length — the usual pre-training
    * corpus filters (C4/Gopher-style heuristics). */
  val EnStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that",
    "for", "on", "with", "as", "at", "by", "this", "was", "are")

  def stopwordRatio(text: Column, stopwords: Seq[String] = EnStopwords): Column = {
    val toks = tokens(lower(text))
    size(filter(toks, t => t.isin(stopwords: _*))) / size(toks).cast("double")
  }

  def alphaRatio(text: Column): Column =
    length(regexp_replace(text, "[^A-Za-z]", "")) / length(text).cast("double")

  def meanWordLength(text: Column): Column = {
    val toks = tokens(text)
    aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(toks)
  }

  /** Composite quality features frame for the documents table. */
  def qualityFeatures(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_chars_m", length(t).cast("long"))
      .withColumn("n_tokens", tokenCount(t).cast("long"))
      .withColumn("n_unique_tokens", uniqueTokenCount(t).cast("long"))
      .withColumn("mean_word_len", meanWordLength(t))
      .withColumn("stopword_ratio", stopwordRatio(t))
      .withColumn("alpha_ratio", alphaRatio(t))
  }

  /** Gopher-style document quality rules (Rae et al. 2021, appendix A —
    * the rule set MassiveWeb was filtered with, reused by MassiveText /
    * RefinedWeb / Dolma). One narrow codegen'd map pass: each rule is a
    * boolean column; no shuffle until the caller aggregates. Both the
    * token array and the non-empty line array are materialized ONCE
    * before their lambdas (the bigramLmScore O(len²) fix).
    *
    * Rules (flag = true means the rule REJECTS the document):
    *   f_word_count — word count outside [50, 100 000]
    *   f_word_len   — mean word length outside [3, 10]
    *   f_symbol     — (# + …)-to-word ratio > 0.1
    *   f_bullet     — > 90% of lines start with a bullet
    *   f_ellipsis   — > 30% of lines end with "..."
    *   f_alpha      — < 80% of words contain an alphabetic character
    *   f_stop       — < 2 of Gopher's 8 required stop words present
    */
  def gopherFlags(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val requiredStops =
      Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val occurrences = (s: String) =>
      (length(t) - length(replace(t, lit(s)))) / s.length
    df.withColumn("__t", tokens(normalizeText(t)))
      .withColumn("__lines",
        filter(split(t, "\n", -1), l => length(trim(l)) > 0))
      .withColumn("n_words", size(col("__t")).cast("long"))
      .withColumn("__mwl",
        aggregate(col("__t"), lit(0L), (a, w) => a + length(w))
          .cast("double") / col("n_words"))
      .withColumn("f_word_count",
        col("n_words") < 50 || col("n_words") > 100000)
      .withColumn("f_word_len", col("__mwl") < 3.0 || col("__mwl") > 10.0)
      .withColumn("f_symbol",
        (occurrences("#") + occurrences("...")).cast("double") /
          col("n_words") > 0.1)
      .withColumn("f_bullet",
        size(col("__lines")) > 0 &&
          size(filter(col("__lines"),
              l => trim(l).rlike("^[-*•] "))).cast("double") /
            size(col("__lines")) > 0.9)
      .withColumn("f_ellipsis",
        size(col("__lines")) > 0 &&
          size(filter(col("__lines"), l => endswith(trim(l), lit("..."))))
            .cast("double") / size(col("__lines")) > 0.3)
      .withColumn("f_alpha",
        size(filter(col("__t"), w => w.rlike("[a-z]"))).cast("double") /
          col("n_words") < 0.8)
      .withColumn("f_stop",
        size(filter(
          lit(requiredStops.toArray),
          s => array_contains(col("__t"), s))) < 2)
      .drop("__t", "__lines", "__mwl")
  }

  /** CCNet-style statistical quality scoring: an add-one-smoothed bigram
    * language model fitted ON the corpus scores each document's average
    * token log-probability — documents far below the corpus's own
    * statistics (gibberish, wrong-language, boilerplate-free noise) score
    * low and get filtered, the standard perplexity gate of large-scale
    * pipeline cleaning (Wenzek et al. 2020 use a KenLM 5-gram; the bigram
    * form keeps the count relation joinable and the engine dependency-free).
    *
    * avg_lp(doc) = (1/(n−1)) Σᵢ ln((c(wᵢ,wᵢ₊₁)+1) / (c(wᵢ)+V))
    *
    * Scale shape: both count relations are vocabulary-bounded aggregates
    * with map-side combine; scoring explodes each doc's bigrams ONCE and
    * joins the counts by token key (the BM25 term-join shape — the
    * exchange carries (doc_id, w1, bigram) rows, never document text);
    * the per-doc sum accumulates in DECIMAL(30,12) so it is
    * order-independent and the ln() inputs are bit-identical on any
    * engine (the q_x_bm25 discipline).
    *
    * @param corpus relation the model is fitted on
    * @param docs   relation to score (often the same); docs with <2
    *               tokens are dropped (no bigram evidence) */
  def bigramLmScore(corpus: DataFrame, docs: DataFrame,
                    idCol: String, textCol: String): DataFrame = {
    val toks = tokens(normalizeText(col(textCol)))
    // Materialize the token ARRAY as a column before bigramsOf: its
    // lambda indexes the array per element, and Spark does not eliminate
    // common subexpressions across a lambda boundary — element_at over
    // the raw split() expression re-runs the regex split for EVERY
    // bigram, turning tokenization O(len) into O(len²) (measured 37 s →
    // 1.5 s scoring 5 000 sf0.1 docs). Values are identical either way.
    val uni = corpus.select(toks.as("t"))
      .select(explode(col("t")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("cu"))
    // scalar vocabulary size rides along as a literal-free cross join of a
    // one-row aggregate (the triangleCount precedent)
    val vocab = uni.agg(count(lit(1)).as("v"))
    val big = corpus
      .select(toks.as("t"))
      .select(explode(bigramsOf(col("t"))).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("cb"))
    val docBigrams = docs
      .select(col(idCol), toks.as("t"))
      .select(col(idCol), explode(bigramsOf(col("t"))).as("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    docBigrams
      .join(big, Seq("bg"), "left")
      .join(uni, Seq("w1"), "left")
      .crossJoin(vocab)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        (graft.ops.Num.dsum12(
          log((coalesce(col("cb"), lit(0L)) + 1).cast("double") /
            (coalesce(col("cu"), lit(0L)) + col("v")).cast("double")))
          / count(lit(1)).cast("double")).as("avg_lp"))
  }

  /** Interpolated Kneser-Ney bigram LM — the smoothing real perplexity
    * gates use (KenLM is modified KN; Wenzek et al. 2020). Absolute
    * discount d = 3/4, so everything stays RATIONAL:
    *
    *   p(w₂|w₁) = max(4·c₁₂ − 3, 0)/(4·c₁)  +  (3·N₁₊(w₁·))/(4·c₁) · p_cont(w₂)
    *   p_cont(w₂) = (N₁₊(·w₂) + 1) / (|distinct bigrams| + V)
    *
    * where c₁ = Σ_w₂ c₁₂ is the BIGRAM-prefix total (not the unigram
    * count — see the fwd rollup below).
    *
    * The add-one on the continuation counts makes the model TOTAL
    * (unseen words get mass; unseen w₁ backs off to p_cont alone) and
    * — because Σ_w N₁₊(·w) = |distinct bigrams| — preserves EXACT
    * normalization: Σ_{w₂∈V} p(w₂|w₁) = 1 (KnLmSpec pins it). Every
    * ln() input is a fixed sequence of exact-integer-ratio double ops
    * (two divisions, one multiply, one add — mirrored op for op in the
    * oracle), and per-doc sums accumulate in DECIMAL(30,12): the whole
    * score is hash-exact cross-engine, the bigramLmScore discipline.
    *
    * Scale shape: four vocabulary-bounded count relations (uni, big,
    * and the two continuation rollups are aggregates OF aggregates);
    * scoring is the same term-key join as bigramLmScore — the exchange
    * carries (doc, token-key) rows, never text. */
  def kneserNeyLmScore(corpus: DataFrame, docs: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    val toks = tokens(normalizeText(col(textCol)))
    val corpusTok = corpus.select(toks.as("t"))
    val uni = corpusTok.select(explode(col("t")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("cu0"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val big = corpusTok.select(explode(bigramsOf(col("t"))).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("cb"))
    // One prefix rollup gives BOTH the continuation count N₁₊(w₁·) and
    // the context total c(w₁) = Σ_w₂ c(w₁w₂). The context total must
    // come from the BIGRAM relation, not the unigram counts: a
    // document-final token has a unigram count but NO successors, and
    // dividing by its unigram count would leak that mass (caught by
    // KnLmSpec's normalization test — context 'log' summed to 0, not 1).
    val fwd = big
      .select(substring_index(col("bg"), " ", 1).as("w1f"), col("cb"))
      .groupBy("w1f").agg(count(lit(1)).as("nf"), sum("cb").as("cu"))
    val rev = big.select(substring_index(col("bg"), " ", -1).as("w2r"))
      .groupBy("w2r").agg(count(lit(1)).as("nr"))
    val nb = big.agg(count(lit(1)).as("nbig"))
    val docBigrams = docs
      .select(col(idCol), toks.as("t"))
      .select(col(idCol), explode(bigramsOf(col("t"))).as("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
    docBigrams
      .join(big, Seq("bg"), "left")
      .join(fwd, col("w1") === col("w1f"), "left")
      .join(rev, col("w2") === col("w2r"), "left")
      .crossJoin(nb).crossJoin(vocab)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        (graft.ops.Num.dsum12(log(knP(
          coalesce(col("cb"), lit(0L)), coalesce(col("cu"), lit(0L)),
          coalesce(col("nf"), lit(0L)), coalesce(col("nr"), lit(0L)),
          col("nbig"), col("v"))))
          / count(lit(1)).cast("double")).as("avg_lp"))
  }

  /** The KN probability as a fixed double-op sequence (div, div, mult,
    * add) over exact integers — the oracle mirrors it op for op. */
  private[text] def knP(cb: Column, cu: Column, nf: Column, nr: Column,
                        nbig: Column, v: Column): Column = {
    val pcont = (nr + 1).cast("double") / (nbig + v).cast("double")
    val main = greatest(cb * 4 - 3, lit(0L)).cast("double") /
      (cu * 4).cast("double") +
      ((nf * 3).cast("double") / (cu * 4).cast("double")) * pcont
    when(cu === 0, pcont).otherwise(main)
  }

  /** (w1, w2, p) for explicit pairs under the corpus-fitted KN model —
    * the normalization-testing surface (Σ_{w2∈V} p = 1 exactly). */
  def kneserNeyProbs(corpus: DataFrame, pairs: DataFrame,
                     textCol: String): DataFrame = {
    val toks = tokens(normalizeText(col(textCol)))
    val corpusTok = corpus.select(toks.as("t"))
    val uni = corpusTok.select(explode(col("t")).as("uw"))
      .groupBy("uw").agg(count(lit(1)).as("cu0"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val big = corpusTok.select(explode(bigramsOf(col("t"))).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("cb"))
    val fwd = big
      .select(substring_index(col("bg"), " ", 1).as("w1f"), col("cb"))
      .groupBy("w1f").agg(count(lit(1)).as("nf"), sum("cb").as("cu"))
    val rev = big.select(substring_index(col("bg"), " ", -1).as("w2r"))
      .groupBy("w2r").agg(count(lit(1)).as("nr"))
    val nb = big.agg(count(lit(1)).as("nbig"))
    pairs
      .withColumn("bg", concat(col("w1"), lit(" "), col("w2")))
      .join(big, Seq("bg"), "left")
      .join(fwd, col("w1") === col("w1f"), "left")
      .join(rev, col("w2") === col("w2r"), "left")
      .crossJoin(nb).crossJoin(vocab)
      .select(col("w1"), col("w2"), knP(
        coalesce(col("cb"), lit(0L)), coalesce(col("cu"), lit(0L)),
        coalesce(col("nf"), lit(0L)), coalesce(col("nr"), lit(0L)),
        col("nbig"), col("v")).as("p"))
  }

  /** Adjacent token pairs as "w1 w2" strings (tokens are whitespace-split,
    * so the single-space separator is unambiguous). The <2-token guard
    * matters: Spark's sequence(1, 0) counts DOWN, so the unguarded form
    * would fabricate a bigram for single-token docs. */
  private[text] def bigramsOf(toks: Column): Column =
    when(size(toks) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(toks) - 1),
        i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))))

  /** Language ID by stopword-profile hit ratio (n-gram/lexicon heuristic):
    * score(lang) = |tokens ∩ profile(lang)| / |tokens|; argmax wins,
    * deterministic tie-break on language code. Profiles are tiny and ship
    * broadcast inside the generated expression. */
  val LangProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "it", "that", "for", "was"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "por", "con", "los"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "en", "un", "du", "que"),
    "de" -> Seq("der", "die", "und", "das", "nicht", "von", "ist", "des", "ein", "mit"),
    "zh" -> Seq("de", "shi", "le", "zai", "wo", "you", "ta", "zhe", "men", "bu"))

  def langScores(text: Column, profiles: Map[String, Seq[String]] = LangProfiles): Seq[(String, Column)] = {
    // normalizeText (not bare lower) so tokenization is identical across the
    // expression form, the JVM fast path, and the SQL oracle: Spark/DuckDB
    // trim strips only spaces, so un-normalized text with leading/trailing
    // tabs/newlines would grow an empty token (different score denominator)
    val toks = tokens(normalizeText(text))
    profiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      lang -> (size(filter(toks, t => t.isin(words: _*))) / size(toks).cast("double"))
    }
  }

  /** Predicted language = argmax of profile scores (ties → first code). */
  def langId(text: Column, profiles: Map[String, Seq[String]] = LangProfiles): Column = {
    val scores = langScores(text, profiles)
    val best = scores.map(_._2).reduce(greatest(_, _))
    scores.foldRight(lit("und")) { case ((lang, s), acc) =>
      when(s === best && s > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Native fast language ID, BIT-IDENTICAL to [[langId]]: same hit-ratio
    * scores (int/double division), same argmax with sorted-code tie-break,
    * same 'und' fallback — one tight pass over the tokens instead of an
    * interpreted per-profile filter chain, as a codegen'd Catalyst
    * expression ([[graft.expressions.LangIdExpr]] — no ScalaUDF conversion
    * boundary, stays inside the WholeStageCodegen span). */
  def langIdFast(text: Column, profiles: Map[String, Seq[String]] = LangProfiles): Column =
    graft.expressions.TextHashExpressions.langId(text, profiles.toSeq.sortBy(_._1))

  /** JVM mirror of `tokens(normalizeText(text))`, step for step: collapse
    * runs of regex whitespace to one space, strip leading/trailing SPACES
    * only (Spark/DuckDB `trim` semantics — NOT Java `String.trim`, which
    * also eats tabs/newlines and every control char ≤ U+0020 and would make
    * the fast paths diverge from the expression/oracle forms), lowercase
    * with the root locale (Spark's `lower` is locale-independent). */
  private[graft] def normTokens(t: String): Array[String] = {
    var s = t.replaceAll("\\s+", " ")
    var lo = 0; var hi = s.length
    while (lo < hi && s.charAt(lo) == ' ') lo += 1
    while (hi > lo && s.charAt(hi - 1) == ' ') hi -= 1
    s = s.substring(lo, hi).toLowerCase(java.util.Locale.ROOT)
    s.split("\\s+", -1)
  }

  /** Document fingerprints. `contentFingerprint` is order-sensitive
    * (normalized text hash); `shingleFingerprint` is order-insensitive
    * (bag-of-distinct-tokens hash) — catches token-reordered copies. */
  def normalizeText(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  def contentFingerprint(text: Column): Column = md5(normalizeText(text))

  def shingleFingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(normalizeText(text))))))

  /** n-token shingles (overlapping n-grams of the token stream). */
  def shingles(text: Column, n: Int): Column = {
    val toks = tokens(normalizeText(text))
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** Exact Jaccard similarity of the distinct n-gram shingle sets. */
  def jaccardShingles(a: Column, b: Column, n: Int): Column = {
    val sa = array_distinct(shingles(a, n)); val sb = array_distinct(shingles(b, n))
    size(array_intersect(sa, sb)) / size(array_union(sa, sb)).cast("double")
  }

  /** Document-term matrix: (doc, token, tf, df) — the bag-of-words
    * foundation (TF-IDF is `tf * log(N/df)` on top; kept separate because
    * log is libm-divergent across engines while the counts are exact).
    * One explode + one (doc, token) count; df joins back from a token-level
    * count of the SAME relation — two shuffles total, both on small keys. */
  def documentTermMatrix(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val terms = df.select(col(idCol),
        explode(tokens(normalizeText(col(textCol)))).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val docFreq = terms.groupBy("token")
      .agg(count(lit(1)).as("df"))
    terms.join(docFreq, Seq("token"))
      .select(col(idCol), col("token"), col("tf"), col("df"))
  }

  /** Overlapping fixed-size character chunks (the splitter in front of an
    * embedding/pretraining pipeline): starts at 0, size−overlap,
    * 2(size−overlap), …; one narrow explode, no shuffle — chunk rows
    * stream straight into whatever consumes them. */
  def chunkText(df: DataFrame, idCol: String, textCol: String,
                size: Int, overlap: Int): DataFrame = {
    require(overlap < size, "overlap must be smaller than chunk size")
    val step = size - overlap
    val starts = sequence(lit(0), greatest(length(col(textCol)) - 1, lit(0)), lit(step))
    df.select(col(idCol), col(textCol), posexplode(starts).as(Seq("chunk_id", "__start")))
      .select(col(idCol), col("chunk_id"),
        expr(s"substring(`$textCol`, __start + 1, $size)").as("chunk"))
  }

  // ---------------------------------------------------------------- dedup

  /** Exact dedup: keep the smallest doc_id per normalized-content
    * fingerprint. One shuffle on the 128-bit hash — the canonical 100 TB
    * exact-dedup plan (hash first so the shuffle key is 32 bytes, not the
    * document text). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keyed = df.withColumn("__fp", contentFingerprint(col(textCol)))
    // row_number (not semi-join) so true duplicate rows collapse to ONE
    val w = Window.partitionBy("__fp").orderBy(col(idCol))
    keyed.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__fp", "__rn")
  }

  /** MinHash signature as an array of `numHashes` md5-derived minima.
    * Permutation i is "order tokens by md5(i:token)"; the signature entry is
    * that minimum digest. Pure string ops → reproducible on any engine
    * (the DuckDB oracle computes the identical signature). */
  def minhashSignature(text: Column, numHashes: Int, shingleN: Int = 3): Column = {
    val sh = array_distinct(shingles(text, shingleN))
    transform(sequence(lit(0), lit(numHashes - 1)),
      i => array_min(transform(sh, s => md5(concat(i.cast("string"), lit(":"), s)))))
  }

  /** JVM-side shingle set of a normalized text (shared by the fast paths). */
  private[graft] def shingleSet(text: String, n: Int): Array[String] = {
    val toks = normTokens(text)
    if (toks.length < n) Array(toks.mkString(" "))
    else {
      val out = new scala.collection.mutable.HashSet[String]
      var i = 0
      while (i + n <= toks.length) {
        out += toks.slice(i, i + n).mkString(" "); i += 1
      }
      out.toArray
    }
  }

  /** Fast path for the DISTINCT shingle set (SAME elements as
    * `array_distinct(shingles(text, n))` — set order differs, so use only
    * where order is irrelevant: explode-then-aggregate/join pipelines).
    * The HOF expression form is interpreted (no codegen) and dominates
    * wide scans; this is one tight tokenizer pass per row, as a native
    * expression ([[graft.expressions.DistinctShingles]]). */
  def distinctShinglesFast(text: Column, n: Int): Column =
    graft.expressions.TextHashExpressions.distinctShingles(text, n)

  /** MD5 hex digest in a tight JVM loop (MessageDigest is per-call state;
    * the caller reuses one instance per row or per thread). */
  private[graft] def md5Hex(md: java.security.MessageDigest, s: String): String = {
    val hex = "0123456789abcdef"
    val d = md.digest(s.getBytes("UTF-8"))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hex.charAt((d(i) >> 4) & 0xf)
      out(2 * i + 1) = hex.charAt(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Fast native minhash, BIT-IDENTICAL to the [[minhashSignature]]
    * expression (same md5-string permutation minima) — so every oracle
    * written against the expression form also verifies this one.
    *
    * The equivalent higher-order-function chain is INTERPRETED by Spark
    * (no codegen, no CSE across lambdas) and measured ~100× slower
    * (7 ms/doc); the kernel is a tight JVM loop exposed as a codegen'd
    * Catalyst expression ([[graft.expressions.MinHashSignature]]), which
    * drops the former Scala-UDF conversion boundary as well. */
  def minhashSignatureFast(text: Column, numHashes: Int, shingleN: Int = 3): Column =
    graft.expressions.TextHashExpressions.minhash(text, numHashes, shingleN)

  /** Fast signature-agreement estimate (matching minhash positions /
    * numHashes), BIT-IDENTICAL to the zip_with+aggregate expression form:
    * integer match count, one double division. Fully codegen'd
    * ([[graft.expressions.EstJaccard]]) — the interpreted HOF form paid a
    * lambda chain per candidate pair and the band join emits far more
    * candidates than survivors. */
  def estJaccardFast(a: Column, b: Column, numHashes: Int): Column =
    graft.expressions.TextHashExpressions.estJaccard(a, b, numHashes)

  /** Fast path for exact shingle-Jaccard (the verify step — survivors
    * only), as a native expression ([[graft.expressions.JaccardShingles]]). */
  def jaccardShinglesFast(a: Column, b: Column, n: Int): Column =
    graft.expressions.TextHashExpressions.jaccardShingles(a, b, n)

  /** LSH band keys from a minhash signature: md5 of each band's rows.
    * Docs sharing any band key are near-dup candidates. */
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => md5(concat(b.cast("string"), lit("|"),
        concat_ws(",", slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))))))

  /** MinHash+LSH near-duplicate candidate pairs with estimated and exact
    * Jaccard. Plan shape (the scale path):
    *   docs → signature (narrow) → explode band keys → shuffle on band key
    *   → self-join within buckets (only bucket-sized joins, never n²)
    *   → distinct pairs → exact-verify by shingle Jaccard.
    */
  def minhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          numHashes: Int = 16, bands: Int = 4,
                          shingleN: Int = 3, threshold: Double = 0.5): DataFrame = {
    val rowsPerBand = numHashes / bands
    // Signatures are the materialized index: persisted BEFORE banding —
    // otherwise projection collapse inlines the whole shingle+hash pipeline
    // into every band-key expression and recomputes it per band (higher-
    // order functions are interpreted, with no cross-lambda CSE). The band
    // self-join then carries ONLY (band, id, sig) — never document text.
    // spread BEFORE the signature projection: a single-row-group scan
    // would otherwise compute every shingle+hash on 1-2 tasks (§2.5)
    val sigs = graft.core.Sizing.spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol),
        minhashSignatureFast(col(textCol), numHashes, shingleN).as("__sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = sigs.select(col(idCol), col("__sig"),
      explode(lshBandKeys(col("__sig"), bands, rowsPerBand)).as("__band"))
    val left = banded.select(col("__band"), col(idCol).as("id_a"),
      col("__sig").as("sig_a"))
    val right = banded.select(col("__band"), col(idCol).as("id_b"),
      col("__sig").as("sig_b"))
    val candidates = left.join(right, Seq("__band"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        estJaccardFast(col("sig_a"), col("sig_b"), numHashes).as("est_jaccard"))
      // cheap signature-level prune BEFORE the dedup shuffle and before
      // touching any document text
      .filter(col("est_jaccard") >= threshold * 0.5)
      .distinct()
    // exact-verify ONLY the survivors: join texts back by id, with the
    // est-pruned candidate ID relation BROADCAST — (id_a, id_b, est) is
    // ~24 bytes/row and survivor-pair-sized by construction, so both text
    // joins run map-side and document text never crosses an exchange
    // (measured at sf1: 14.1 s → 2.5 s for the whole operator; the
    // shuffle-join form moved every text twice). If a corpus's survivor
    // set ever outgrows broadcast (≈ most docs near-dup of something),
    // the pipeline upstream is wrong before this join is.
    // spread the verify side too: the exact-jaccard projection runs on
    // `a`'s (scan) partitioning after the broadcast joins (§2.5)
    val a = graft.core.Sizing.spread(
      df.select(col(idCol).as("id_a"), col(textCol).as("text_a")))
    val b = df.select(col(idCol).as("id_b"), col(textCol).as("text_b"))
    a.join(broadcast(candidates), Seq("id_a")).join(b, Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("est_jaccard"),
        jaccardShinglesFast(col("text_a"), col("text_b"), shingleN).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Directional near-dup check of an incoming BATCH against an existing
    * CORPUS — the incremental-ingestion dedup a daily pipeline run
    * executes. Same banded-LSH machinery as [[minhashNearDupPairs]], but
    * the join is corpus-index × batch instead of a self-join: at scale the
    * corpus signatures are the persisted index reused across ingests
    * (computed once here, persisted), the day's batch is the small side,
    * and only (band, id, sig) rows meet in the bucket join — document
    * text joins back solely for the est-pruned survivors' exact verify.
    * @return (batch_id, corpus_id, est_jaccard, jaccard) */
  def minhashNearDupAgainst(corpus: DataFrame, batch: DataFrame,
                            idCol: String, textCol: String,
                            numHashes: Int = 16, bands: Int = 2,
                            shingleN: Int = 3, threshold: Double = 0.5): DataFrame = {
    val rowsPerBand = numHashes / bands
    def banded(df: DataFrame, as: String) = {
      val sigs = graft.core.Sizing.spread(df.select(col(idCol), col(textCol)))
        .select(col(idCol).as(as),
          minhashSignatureFast(col(textCol), numHashes, shingleN).as(s"__sig"))
      sigs.select(col(as), col("__sig"),
        explode(lshBandKeys(col("__sig"), bands, rowsPerBand)).as("__band"))
    }
    // corpus signatures are the reusable index — persist so the band join
    // and any later ingest reuse one materialization
    val cBand = banded(corpus, "corpus_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bBand = banded(batch, "batch_id")
      .withColumnRenamed("__sig", "__sig_b")
    val candidates = cBand.join(bBand, Seq("__band"))
      .select(col("batch_id"), col("corpus_id"),
        estJaccardFast(col("__sig_b"), col("__sig"), numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold * 0.5)
      .distinct()
    // ONLY the id-sized candidate relation carries a broadcast hint (it is
    // est-pruned and batch-bounded): corpus text never crosses an exchange
    // — the same map-side verify as the self-join form. The batch-TEXT
    // join stays size-decided: a pathological ingest (huge batch, or a
    // high-dup corpus exploding the survivor set) degrades to a shuffle
    // join of two candidate-bounded relations instead of OOMing the
    // driver/executors on a forced text broadcast.
    val bt = batch.select(col(idCol).as("batch_id"), col(textCol).as("text_b"))
    val ct = corpus.select(col(idCol).as("corpus_id"), col(textCol).as("text_c"))
    ct.join(broadcast(candidates), Seq("corpus_id")).join(bt, Seq("batch_id"))
      .select(col("batch_id"), col("corpus_id"), col("est_jaccard"),
        jaccardShinglesFast(col("text_b"), col("text_c"), shingleN).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** SimHash: per distinct token, bit b contributes +1/−1 by an
    * md5-derived bit; the fingerprint sets bit b iff the sum is positive.
    * Token hash = first 12 md5 hex chars (48 bits), so fingerprints up to
    * 48 bits stay in exact positive-Long space on every engine (a 2⁶³ bit
    * would go sign-negative on the JVM and overflow BIGINT in SQL). Wider
    * fingerprints matter for banding: band-key cardinality is
    * 2^(bits/bands), and an 8-bit band key floods the candidate join on
    * corpora whose fingerprints cluster. */
  def simhash(text: Column, bits: Int = 32): Column = {
    require(bits <= 48, "token hash provides 48 bits")
    val toks = array_distinct(tokens(normalizeText(text)))
    val counts = aggregate(
      toks,
      transform(sequence(lit(0), lit(bits - 1)), _ => lit(0L)),
      (acc, t) => {
        val h = conv(substring(md5(t), 1, 12), 16, 10).cast("long")
        zip_with(acc, sequence(lit(0), lit(bits - 1)),
          (a, b) => a + when(
            pmod((h / pow(lit(2.0), b)).cast("long"), lit(2)) === 1, 1L).otherwise(-1L))
      })
    aggregate(
      zip_with(counts, sequence(lit(0), lit(bits - 1)),
        (c, b) => when(c > 0, pow(lit(2.0), b).cast("long")).otherwise(lit(0L))),
      lit(0L), (a, x) => a + x)
  }

  /** Fast native simhash, BIT-IDENTICAL to the [[simhash]] expression
    * (token hash = first 6 md5 bytes big-endian = first 12 md5 hex chars),
    * so expression-form oracles verify it too. bits ≤ 48 (the 48-bit token
    * hash bounds the usable fingerprint width, as in the expression). A
    * codegen'd Catalyst expression ([[graft.expressions.SimHash64]]) — the
    * former Scala UDF paid a conversion boundary per row and broke the
    * surrounding WholeStageCodegen span. */
  def simhashFast(text: Column, bits: Int = 32): Column =
    graft.expressions.TextHashExpressions.simhash(text, bits)

  /** Hamming distance between two simhash fingerprints. */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: band the fingerprint into `bands` chunks
    * (pigeonhole: ≤k differing bits ⇒ some chunk equal), shuffle on chunk,
    * verify by full Hamming distance. */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          bits: Int = 32, bands: Int = 4, maxHamming: Int = 3): DataFrame = {
    val chunk = bits / bands
    val mask = (1L << chunk) - 1
    // persist: the fingerprint relation feeds both sides of the self-join;
    // spread first — single-row-group scans serialize the hash pass (§2.5)
    val sigs = graft.core.Sizing.spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol), simhashFast(col(textCol), bits).as("__sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = sigs.select(col(idCol), col("__sh"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => concat(b.cast("string"), lit(":"),
          (col("__sh") / pow(lit(2.0), b * chunk)).cast("long")
            .bitwiseAND(mask)))).as("__band"))
    val l = banded.select(col("__band"), col(idCol).as("id_a"), col("__sh").as("sh_a"))
    val r = banded.select(col("__band"), col(idCol).as("id_b"), col("__sh").as("sh_b"))
    // filter BEFORE distinct: the band join emits far more candidate rows
    // than qualifying pairs on saturated corpora, and the dedup only needs
    // to see the survivors
    l.join(r, Seq("__band")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hammingDistance(col("sh_a"), col("sh_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  // ------------------------------------------------------- quality filters

  /** PII redaction patterns (RE2-compatible — no lookarounds — so the
    * DuckDB oracle applies the IDENTICAL regex text). Order matters:
    * emails first (their local parts can contain digits), then IPv4
    * (before the dot-separated phone shapes, so address octets never read
    * as phone groups), then the phone family — +country-prefixed,
    * parenthesized area code, and plain 3-group numbers with dash/dot/
    * space separators — then any remaining long digit run. A heuristic
    * corpus scrub, not a certified PII pass: formats outside these shapes
    * (letter-encoded numbers, spelled-out digits) pass through. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "([0-9]{1,3}\\.){3}[0-9]{1,3}" -> "<IP>",
    "\\+[0-9]{1,3}[ .-][0-9]{1,4}[ .-]?[0-9]{3,4}[ .-]?[0-9]{3,4}" -> "<PHONE>",
    "\\([0-9]{2,4}\\)[ .-]?[0-9]{3,4}[ .-]?[0-9]{4}" -> "<PHONE>",
    "[0-9]{2,4}[ .-][0-9]{3,4}[ .-][0-9]{4}" -> "<PHONE>",
    "[0-9]{8,}" -> "<NUM>")

  /** Scrub PII from a text column (the pre-training privacy pass):
    * sequential regexp_replace chain, one narrow codegen'd projection —
    * at 100 TB this is a pure map stage with no shuffle. */
  def redactPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (acc, (pat, tag)) =>
      regexp_replace(acc, pat, tag)
    }

  /** Duplicate n-gram fraction (the Gopher-style repetition filter):
    * 1 − |distinct n-grams| / |n-grams|, exactly 0.0 for docs shorter than
    * n tokens (single whole-string shingle — same fallback as [[shingles]]).
    * Exact integer counts + one double division — oracle-reproducible. */
  def dupNgramFraction(text: Column, n: Int): Column = {
    val sh = shingles(text, n)
    lit(1.0) - size(array_distinct(sh)) / size(sh).cast("double")
  }

  /** Exact-substring duplicate pairs: documents sharing at least one run
    * of `k` consecutive normalized tokens (the substring-dedup modality of
    * Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better" — distinct from set-based MinHash/SimHash, which miss a long
    * verbatim quote embedded in otherwise-different documents).
    *
    * Shape: each doc emits its DISTINCT k-gram md5 fingerprints (docs
    * shorter than k tokens fall back to one whole-string gram, the
    * [[shingles]] discipline), stop-grams with document frequency >
    * `maxDocFreq` are pruned BEFORE the pair join (boilerplate k-grams —
    * license headers, templates — would otherwise go quadratic), and the
    * self-join carries only (id, gram). `shared_grams` counts distinct
    * shared k-grams — a shared run of L≥k tokens contributes L−k+1, so it
    * monotonically tracks overlap span length. At 100 TB: grams hash-
    * partition like LSH bands, candidates are df-bounded per gram, and
    * text never crosses the exchange. */
  def sharedSpanPairs(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 8, maxDocFreq: Int = 16): DataFrame = {
    // One native tokenizer pass per row (the HOF form re-evaluates the
    // regex split inside every lambda element — measured 20× slower);
    // md5 runs codegen'd on the exploded gram rows, once per gram.
    val g = graft.core.Sizing.spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol).as("id"),
        explode(distinctShinglesFast(col(textCol), k)).as("sh"))
      .select(col("id"), md5(col("sh")).as("gram"))
    val kept = g.groupBy("gram").agg(count(lit(1)).as("gdf"))
      .filter(col("gdf").between(2, maxDocFreq))
      .select("gram")
    val gj = g.join(kept, Seq("gram"))
    gj.toDF("gram", "id_a")
      .join(gj.toDF("gram", "id_b"), Seq("gram"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      .agg(count(lit(1)).as("shared_grams"))
  }

  /** Character classes for the histogram lower bound: merging all chars
    * outside [a-z0-9 space] into one class keeps lev ≥ L1/2 valid (a
    * class-collapsed string is an image under a char map, which can only
    * shrink edit distance). */
  private val HistChars = "abcdefghijklmnopqrstuvwxyz0123456789 "

  /** 38-bucket character histogram of a normalized string: one count per
    * [[HistChars]] class + an everything-else bucket. Built from 37
    * `replace` passes — O(alphabet·L) per DOC (not per pair), fully
    * codegen'd. */
  private def charHist(norm: Column): Column = {
    val counts = HistChars.map(c =>
      length(norm) - length(replace(norm, lit(c.toString), lit(""))))
    array((counts :+ (length(norm) - counts.reduce(_ + _))): _*)
  }

  /** Edit-distance near-dup pairs. The DEFAULT composes three blockers:
    * caller `blockCols` (e.g. lang) × a minhash-LSH band key × the
    * length band — so within-block candidate growth is bounded by
    * near-dup bucket sizes, not corpus size (the round-7 form's
    * length-band-only blocking left within-block pairs quadratic in the
    * corpus). The minhash blocker is RECALL-TYPED and part of the
    * operator's contract: the result is "pairs within `maxDist` edits
    * AMONG minhash band candidates" (`minhashBands` bands over
    * `minhashSigs` md5-permutation minima — the exact q_x_minhash
    * banding, so the DuckDB oracle replays it verbatim). Banding is
    * provably complete w.r.t. that contract: a pair sharing a band key by
    * definition shares it. BECAUSE the two settings differ in RECALL and
    * not just cost, `minhashBands` has no default — every call site
    * names the contract it wants: `minhashBands = 0` is the exhaustive
    * semantics (every pair within blockCols and the length band —
    * provably complete for lev ≤ maxDist, quadratic within blocks; fine
    * for bounded blocks, not for an open corpus), any positive value is
    * the minhash-candidacy-scoped semantics (corpus-linear). Survivors are verified
    * with Spark's THRESHOLDED `levenshtein(a, b, maxDist)` — the banded
    * O(maxDist·L) algorithm that abandons a row once the budget is
    * exceeded, not the full O(L²) table — and candidate-pair ids are
    * deduped BEFORE the text joins back (band-join discipline: the
    * exchange carries ids + band keys only, never document text). */
  def editNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                       maxDist: Int, minhashBands: Int,
                       blockCols: Seq[String] = Nil, minhashSigs: Int = 16,
                       shingleN: Int = 3): DataFrame = {
    val (norm, keyed) = editBlockKeyed(df, idCol, textCol, maxDist, blockCols,
      minhashBands, minhashSigs, shingleN)
    val joinKeys = blockCols :+ "band"
    val left = keyed.select((blockCols.map(col) :+ col("band") :+
      col("id").as("doc_a") :+ col("len").as("la") :+ col("hist").as("ha")): _*)
    val right = keyed.select((blockCols.map(col) :+ col("band") :+
      col("id").as("doc_b") :+ col("len").as("lb") :+ col("hist").as("hb")): _*)
    val cand = left.join(right, joinKeys)
      .filter(col("doc_a") < col("doc_b"))
      .filter(abs(col("la") - col("lb")) <= maxDist)
      .filter(graft.expressions.IntL1Capped.l1Capped(
        col("ha"), col("hb"), 2L * maxDist) <= 2L * maxDist)
      .select("doc_a", "doc_b").distinct()
    cand
      .join(norm.select(col("id").as("doc_a"), col("norm").as("na")), Seq("doc_a"))
      .join(norm.select(col("id").as("doc_b"), col("norm").as("nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("na"), col("nb"), maxDist).as("dist"))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
  }

  /** The (norm, keyed) relations behind [[editNearDupPairs]] — exposed so
    * tests can measure raw within-block candidate growth directly from the
    * band keys, without re-deriving the blocking spec. */
  private[graft] def editBlockKeyed(df: DataFrame, idCol: String,
      textCol: String, maxDist: Int, blockCols: Seq[String],
      minhashBands: Int, minhashSigs: Int,
      shingleN: Int): (DataFrame, DataFrame) = {
    val bw = maxDist + 1
    val composed = minhashBands > 0
    // The RAW signature is the persisted column and the band keys are
    // derived AFTER the persist barrier (the minhashNearDupPairs
    // discipline): `lshBandKeys` is an interpreted higher-order transform
    // that references the signature once per band, and without the
    // barrier projection collapse inlines the whole tokenizer+16-hash
    // pipeline into every band slot — measured at sf0.1: the banded key
    // projection alone cost 3.6 s inlined vs 1.0 s for the signature
    // pass it multiplies.
    val normCols = (blockCols.map(col) :+ col(idCol).as("id") :+
      normalizeText(col(textCol)).as("norm")) ++
      (if (composed)
        Seq(minhashSignatureFast(col(textCol), minhashSigs, shingleN).as("__sig"))
      else Nil)
    val norm = graft.core.Sizing.spread(
        df.select((blockCols.map(col) :+ col(idCol) :+ col(textCol)).distinct: _*))
      .select(normCols: _*)
      .withColumn("len", length(col("norm")))
      .withColumn("hist", charHist(col("norm")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Both lower-bound prefilters run INSIDE the band-join stage, before
    // the pair set ever hits a shuffle: lev(a,b) ≥ max(|len_a−len_b|,
    // Σ|hist_a−hist_b|/2), with the L1 as the codegen'd early-abandon
    // IntL1Capped (O(alphabet) primitive ops/pair, no allocation).
    // Filtering BEFORE the distinct means the exchange only ever carries
    // the survivors (measured at sf1: 17.8 s with pairs distinct-ed
    // first, 4× less with prune-then-distinct). Pure pruning by provable
    // lower bounds: the result — and the oracle replay — is unchanged.
    // The composed band key = minhash band ⊗ length band: each doc emits
    // minhashBands × 2 keys; a pair sharing a minhash band AND within
    // maxDist length difference shares ≥1 composed key (the length bands
    // of width maxDist+1 are a complete cover for |Δlen| ≤ maxDist).
    val lenBands = array((col("len") / bw).cast("long"),
      (col("len") / bw).cast("long") + lit(1L))
    val bandExpr =
      if (composed)
        explode(flatten(transform(
          lshBandKeys(col("__sig"), minhashBands, minhashSigs / minhashBands),
          m => transform(lenBands, lb => concat(m, lit(":"), lb.cast("string"))))))
      else explode(lenBands.cast("array<string>"))
    val keyed = norm.select((blockCols.map(col) :+ col("id") :+ col("len") :+
      col("hist") :+ bandExpr.as("band")): _*)
    (norm, keyed)
  }

  /** PMI bigram collocation scores over a corpus, log-free: PMI =
    * log2(n_ab·N / (n_a·n_b)) is strictly monotone in the integer ratio,
    * so `pmi_ratio` carries the exact ranking without ever calling libm
    * (the BM25/TF-IDF discipline). Unigram counts join the bigram relation
    * on the token key — a shuffle join, since the vocabulary is fact-sized
    * at corpus scale; `minCount` prunes the pair relation BEFORE the joins.
    * Tokenization = normalizeText → whitespace split (the corpus-wide
    * canonical form). */
  def pmiBigrams(df: DataFrame, textCol: String, minCount: Int): DataFrame = {
    val toks = df.select(tokens(normalizeText(col(textCol))).as("toks"))
    val uni = toks.select(explode(col("toks")).as("tok"))
    val n = uni.agg(count(lit(1)).cast("double").as("__n"))
    val uc = uni.groupBy("tok").agg(count(lit(1)).as("n_tok"))
    // size >= 2 guard: Spark's sequence(0, -1) counts DOWN (unlike an
    // empty range), so a 1-token doc would emit null bigrams
    val ab = toks.filter(size(col("toks")) >= 2)
      .select(explode(expr(
        """transform(sequence(0, size(toks) - 2),
          | i -> struct(toks[i] AS a, toks[i + 1] AS b))""".stripMargin))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
    ab
      .join(uc.withColumnRenamed("tok", "a").withColumnRenamed("n_tok", "n_a"),
        Seq("a"))
      .join(uc.withColumnRenamed("tok", "b").withColumnRenamed("n_tok", "n_b"),
        Seq("b"))
      .crossJoin(broadcast(n))
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
        ((col("n_ab").cast("double") * col("__n")) /
          (col("n_a").cast("double") * col("n_b").cast("double")))
          .as("pmi_ratio"))
  }
}
