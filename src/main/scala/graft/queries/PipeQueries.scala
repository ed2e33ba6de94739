package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.Num.{davg, dstddevSamp, dsum}
import graft.ops.Temporal
import graft.text.{Retrieval, TextOps}

/** Round-3 training-data-pipeline pack: PII redaction, repetition
  * filtering, eval-set decontamination, BM25 retrieval, cohort retention,
  * time-series gap fill, and equi-width histograms — each the Spark-first
  * shape of an operation a 100 TB corpus/analytics pipeline runs daily,
  * each with a bit-exact DuckDB oracle.
  */
object PipeQueries extends QueryPack {
  import Sql._

  /** Co-purchase pair counts (part_a < part_b bought in the same order,
    * exact pair count) — the relation BOTH q_j_basket and q_g_triangles
    * consume; [[Shared.pinned]] so the lineitem self-join + pair
    * aggregate runs once per (session, dir). */
  private def coPurchasePairs(s: SparkSession, d: String): DataFrame =
    Shared.pinned(s, "co_purchase_pairs|" + d) {
      val l = Tables(s, d, "lineitem").select("l_orderkey", "l_partkey")
      l.toDF("ok", "part_a").join(l.toDF("ok", "part_b"), Seq("ok"))
        .filter(col("part_a") < col("part_b"))
        .groupBy("part_a", "part_b").agg(count(lit(1)).as("n"))
    }

  /** BM25 query terms with deliberately different document frequencies. */
  private[graft] val Bm25Terms = Seq("spark", "merge", "window")

  /** Target language mixture for the domain-reweighting plan. */
  private[queries] val MixtureTargets = Seq(
    ("de", 0.15), ("en", 0.5), ("es", 0.15), ("fr", 0.1), ("zh", 0.1))

  /** Deterministic synthetic PII suffix (the corpus itself is clean, so
    * both engines append the same fake email/IP/phones/account before
    * redacting — the redaction path is what's under test). Covers every
    * phone shape in TextOps.PiiPatterns: dashed, parenthesized area code,
    * and +country-prefixed. */
  private def piiAugmented = concat(
    col("text"),
    lit(" u"), col("doc_id").cast("string"),
    lit("@ex.com ip 10.1."), (col("doc_id") % 256).cast("string"),
    lit(".7 tel 010-"), (col("doc_id") % 9000 + 1000).cast("string"),
    lit("-"), ((col("doc_id") * 7) % 9000 + 1000).cast("string"),
    lit(" ofc (0"), (col("doc_id") % 90 + 10).cast("string"),
    lit(") "), (col("doc_id") % 9000 + 1000).cast("string"),
    lit("-"), ((col("doc_id") * 3) % 9000 + 1000).cast("string"),
    lit(" intl +82 10-"), ((col("doc_id") * 11) % 9000 + 1000).cast("string"),
    lit("-"), ((col("doc_id") * 13) % 9000 + 1000).cast("string"),
    lit(" acct "), (col("doc_id") + 10000000).cast("string"))

  private val piiAugmentedSql =
    """(text || ' u' || CAST(doc_id AS VARCHAR) ||
      | '@ex.com ip 10.1.' || CAST(doc_id % 256 AS VARCHAR) ||
      | '.7 tel 010-' || CAST(doc_id % 9000 + 1000 AS VARCHAR) ||
      | '-' || CAST((doc_id * 7) % 9000 + 1000 AS VARCHAR) ||
      | ' ofc (0' || CAST(doc_id % 90 + 10 AS VARCHAR) ||
      | ') ' || CAST(doc_id % 9000 + 1000 AS VARCHAR) ||
      | '-' || CAST((doc_id * 3) % 9000 + 1000 AS VARCHAR) ||
      | ' intl +82 10-' || CAST((doc_id * 11) % 9000 + 1000 AS VARCHAR) ||
      | '-' || CAST((doc_id * 13) % 9000 + 1000 AS VARCHAR) ||
      | ' acct ' || CAST(doc_id + 10000000 AS VARCHAR))""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // PII redaction (narrow regexp_replace chain — a pure map stage at any
    // scale). Verified by the md5 of every redacted document plus per-tag
    // counts.
    "q_x_redact" -> ((s, d) => {
      val red = TextOps.redactPii(piiAugmented)
      def nTag(tag: String) =
        size(regexp_extract_all(col("__red"), lit(tag), lit(0))).cast("long")
      Tables(s, d, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), red.as("__red"))
        .select(col("doc_id"), md5(col("__red")).as("red_md5"),
          length(col("__red")).cast("long").as("red_len"),
          nTag("<EMAIL>").as("n_email"), nTag("<IP>").as("n_ip"),
          nTag("<PHONE>").as("n_phone"), nTag("<NUM>").as("n_num"))
        .orderBy("doc_id")
    }),

    // Gopher-style repetition filter: duplicate 3-gram fraction per doc,
    // flagged over 0.5, summarized per source. The mean accumulates
    // PRE-QUANTIZED integers — floor(dup_frac·1e12 + 0.5) is the same IEEE
    // ops on both engines, so no fractional decimal ever reaches a
    // double→decimal cast (dyadic fractions like 1/8192 scale to an exact
    // .5 at 1e-12 and would re-enter the cross-engine decimal tie-break
    // divergence the q_v_centroids fix documents).
    "q_x_repetition" -> ((s, d) =>
      Tables(s, d, "documents")
        .select(col("source"),
          TextOps.dupNgramFraction(col("text"), 3).as("dup_frac"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("dup_frac") > 0.5, 1L).otherwise(0L)).as("n_flagged"),
          ((sum(floor(col("dup_frac") * 1e12 + 0.5)
            .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            .cast("double") / 1e12) / count(lit(1))).as("mean_dup_frac"))
        .orderBy("source")),

    // Eval-set decontamination: distinct 5-gram overlap of every train doc
    // (doc_id % 97 != 0) against the eval docs (doc_id % 97 == 0); top-10
    // most contaminated train docs by exact integer overlap count.
    "q_x_decontam" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val contam = Retrieval.ngramContamination(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 5)
      // TakeOrdered top-10 + self-join rank — never a global-sort window
      graft.ops.Ranking.topKRanked(contam,
          Seq("n_contaminated" -> true, "doc_id" -> false), 10)
        .select(col("rank"), col("doc_id"), col("n_ngrams"),
          col("n_contaminated"), col("contamination"))
        .orderBy("rank")
    }),

    // BM25 retrieval (rational idf — log-free, bit-exact across engines):
    // top-10 docs for a fixed 3-term query.
    "q_x_bm25" -> ((s, d) => {
      val scored = Retrieval.bm25(Tables(s, d, "documents"),
        "doc_id", "text", Bm25Terms)
      graft.ops.Ranking.topKRanked(scored,
          Seq("score" -> true, "doc_id" -> false), 10)
        .select(col("rank"), col("doc_id"), col("score"))
        .orderBy("rank")
    }),

    // Weekly cohort retention: users grouped by first-event week, distinct
    // active users per (cohort_week, week_offset) — exact integer date
    // math (days since 2024-01-01, integer-divided into weeks).
    "q_s_retention" -> ((s, d) => {
      val day = datediff(to_date(col("ts")), lit("2024-01-01"))
      val e = Tables(s, d, "events")
        .select(col("user_id"), floor(day / 7).cast("long").as("week"))
      val cohorts = e.groupBy("user_id").agg(min("week").as("cohort_week"))
      e.join(cohorts, Seq("user_id"))
        .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("cohort_week", "week_offset")
    }),

    // Time-series resample + gap fill: hourly buckets per event type with
    // empty hours present (n = 0) and a forward-filled last bucket sum.
    "q_s_gapfill" -> ((s, d) =>
      Temporal.resampleWithGapFill(
        Tables(s, d, "events").filter(col("event_type").isin("signup", "purchase")),
        "event_type", "ts", "value", widthSeconds = 3600L)
        .orderBy("event_type", "bucket")),

    // Debounce / throttle dedup: keep an event iff ≥300 s passed since the
    // previous event of the same (user, type) — the log-compaction shape
    // (lag window; one shuffle on the key).
    "q_s_debounce" -> ((s, d) => {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts"), col("event_id"))
      Tables(s, d, "events")
        .withColumn("__gap_us",
          graft.ops.Temporal.epochMicros(col("ts")) - graft.ops.Temporal.epochMicros(lag(col("ts"), 1).over(w)))
        .withColumn("__keep",
          (col("__gap_us").isNull || col("__gap_us") >= 300L * 1000000).cast("int"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_total"),
          sum(col("__keep")).cast("long").as("n_kept"))
        .orderBy("event_type")
    }),

    // Session path analysis: event-type transition matrix per user stream
    // (Markov bigram counts) — lag + group count, one shuffle on user.
    "q_s_transitions" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables(s, d, "events")
        .select(col("user_id"), col("event_type").as("to_type"),
          lag(col("event_type"), 1).over(w).as("from_type"))
        .filter(col("from_type").isNotNull)
        .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
        .orderBy("from_type", "to_type")
    }),

    // TPC-H Q3 shape (shipping-priority): selective dim filter broadcast
    // into a fact-fact join, grouped revenue, top-10 — the canonical
    // star-join + top-k plan.
    "q_j_tpch_q3" -> ((s, d) => {
      val cust = Tables(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val ord = Tables(s, d, "orders")
        .filter(col("o_orderdate") < "1998-01-01")
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      val li = Tables(s, d, "lineitem")
        .filter(col("l_shipdate") > "1998-01-01")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),

    // HLL approximate distinct users per event type. The estimator is the
    // engine's md5-register HyperLogLog (Flajolet 2007, m=64) — every
    // register/rank/correction step is bit-reproducible, so the LAST
    // formerly rows-only query now carries a full hash oracle. The
    // DataSketches fast path (approxDistinctPerGroup) remains the
    // production default and keeps its error-bound/merge property tests
    // in SketchSpec — estimates of the two differ only by hash family.
    "q_u_hll_distinct" -> ((s, d) => {
      val ev = Tables(s, d, "events")
      graft.ops.Sketches.hllMd5PerGroup(ev, "event_type", "user_id")
        .join(ev.groupBy("event_type")
          .agg(countDistinct("user_id").as("exact_distinct")),
          Seq("event_type"))
        .orderBy("event_type")
    }),

    // Per-class embedding centroids (the classwise mean vector a nearest-
    // centroid classifier / IVF coarse quantizer fits): one posexplode +
    // one (label, dim) aggregation, first 8 dims. Values quantize to
    // integer 1e-12 units via floor(v*1e12 + 0.5), which is EXACT double
    // arithmetic for float inputs (24-bit mantissa × 5^12 < 2^53), so the
    // half-tie rounding mode is pinned by the expression itself — an
    // engine's decimal-cast tie-breaking (HALF_UP vs round()) never enters.
    // (A direct decimal(30,12) cast diverged on 3 of 128k floats at sf0.1:
    // v*1e12 landing exactly on .5 rounds differently across engines.)
    "q_v_centroids" -> ((s, d) =>
      Tables(s, d, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .filter(col("dim") < 8)
        .groupBy("label", "dim")
        .agg(count(lit(1)).as("n"),
          ((sum(floor(col("v").cast("double") * 1e12 + 0.5)
            .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            .cast("double") / 1e12) / count(lit(1))).as("centroid"))
        .orderBy("label", "dim")),

    // Pivot with MULTIPLE aggregates per cell (count + exact sum) — the
    // pandas pivot_table(aggfunc=[...]) shape; explicit pivot domain so no
    // hidden distinct pass.
    "q_a6b_pivot_multi" -> ((s, d) => {
      val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      val alias = Seq("p1", "p2", "p3", "p4", "p5")
      val piv = Tables(s, d, "orders")
        .groupBy("o_orderstatus")
        .pivot("o_orderpriority", prios)
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum"))
      // empty pivot cells: Spark yields NULL, a conditional COUNT yields 0 —
      // coalesce the counts so both engines agree (sums stay NULL/NULL)
      val cells = prios.zip(alias).flatMap { case (p, a) =>
        Seq(coalesce(col(s"`${p}_n`"), lit(0L)).as(s"${a}_n"),
          col(s"`${p}_sum`").as(s"${a}_sum"))
      }
      piv.select(col("o_orderstatus") +: cells: _*).orderBy("o_orderstatus")
    }),

    // Rolling median (trailing 5-row exact percentile per user) — order
    // statistics inside a moving window frame.
    "q_w_rolling_median" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-4, Window.currentRow)
      Tables(s, d, "events").filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          expr("percentile(value, 0.5)").over(w).as("med5"))
        .orderBy("user_id", "event_id")
    }),

    // Z-score anomaly counts per group: exact-decimal moments → double
    // mean/std, flag |v − mean| > 3σ — two passes, stats broadcast back.
    "q_a_anomaly" -> ((s, d) => {
      val e = Tables(s, d, "events")
      val stats = e.groupBy("event_type").agg(
        count(col("value")).as("n"),
        davg(col("value")).as("mean"),
        dstddevSamp(col("value")).as("std"))
      e.join(broadcast(stats), Seq("event_type"))
        .groupBy("event_type")
        .agg(first(col("n")).as("n"), first(col("mean")).as("mean"),
          first(col("std")).as("std"),
          sum(when(abs(col("value") - col("mean")) > lit(3.0) * col("std"), 1L)
            .otherwise(0L)).as("n_outliers"))
        .orderBy("event_type")
    }),

    // Market-basket co-occurrence: part pairs bought in the same order,
    // top-10 by exact pair count — a self equi-join on the order key whose
    // group sizes bound the pair blowup (never corpus-quadratic).
    // The pair-count relation is Shared.pinned: q_g_triangles walks the
    // IDENTICAL relation, so the self-join + pair aggregate runs once per
    // (session, dir), not per query.
    "q_j_basket" -> ((s, d) =>
      graft.ops.Ranking.topKRanked(coPurchasePairs(s, d),
          Seq("n" -> true, "part_a" -> false, "part_b" -> false), 10)
        .select("rank", "part_a", "part_b", "n")
        .orderBy("rank")),

    // Exact triangle count of the co-purchase graph (parts linked when
    // bought together in ≥2 orders): canonicalized wedge join closed by a
    // semi join — every step an equi-join on a vertex key.
    "q_g_triangles" -> ((s, d) =>
      graft.ops.Graph.triangleCount(
        coPurchasePairs(s, d).filter(col("n") >= 2)
          .select(col("part_a").as("pa"), col("part_b").as("pb")),
        "pa", "pb")),

    // Grouped multi-quantile summary (exact 25/50/75th percentiles per
    // group — the describe() quartile block, distributed).
    "q_a_quantiles" -> ((s, d) =>
      Tables(s, d, "events").groupBy("event_type")
        .agg(expr("percentile(value, 0.25)").as("q25"),
          expr("percentile(value, 0.5)").as("q50"),
          expr("percentile(value, 0.75)").as("q75"),
          count(col("value")).as("n"))
        .orderBy("event_type")),

    // Sessionization with ASSIGNED ids: each event gets its user-session
    // index (cumulative count of >30-min gaps) — the event-level
    // complement of session_window aggregation. Two windows, one shuffle
    // (same partitioning). Output: per-session summaries.
    "q_s_sessionize" -> ((s, d) => {
      val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val e = Tables(s, d, "events")
        .withColumn("__gap_us",
          graft.ops.Temporal.epochMicros(col("ts")) - graft.ops.Temporal.epochMicros(lag(col("ts"), 1).over(byUser)))
        .withColumn("session_id",
          sum(when(col("__gap_us") > 30L * 60 * 1000000, 1L).otherwise(0L))
            .over(run))
      e.groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          min("event_id").as("first_event"), max("event_id").as("last_event"))
        .orderBy("user_id", "session_id")
    }),

    // Ranked dedup keeping the BEST duplicate (longest text, then min id)
    // instead of exactDedup's min-id — the quality-aware representative
    // choice a corpus pipeline actually wants.
    "q_x_dedup_best" -> ((s, d) => {
      val docs = Fixtures.assertNoAlias(Tables(s, d, "documents"), "doc_id")
      val doubled = docs.unionByName(
        docs.select(Fixtures.shifted(col("doc_id")), col("text"), col("lang"),
          col("source"), col("n_chars")).toDF(docs.columns: _*))
      val fp = TextOps.contentFingerprint(col("text"))
      val w = Window.partitionBy("__fp")
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      doubled.withColumn("__fp", fp)
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("id_sum"),
          sum("n_chars").cast("long").as("chars_kept"))
    }),

    // Custom GROUPING SETS (neither cube nor rollup): two disjoint
    // single-dimension groupings in ONE pass over the fact table — Spark
    // expands the sets map-side, so partial aggregation survives.
    "q_a_grouping_sets" -> ((s, d) =>
      Tables(s, d, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .select(coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
          coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
          col("n"), col("sum_price"))
        .orderBy("status", "priority")),

    // Precision/recall curve points (top-50 thresholds): cumulative
    // confusion counts over the per-DISTINCT-SCORE relation, descending —
    // the threshold sweep behind average-precision / PR-AUC. The top-50
    // distinct scores come from TakeOrdered; their cumulative counts and
    // ranks come from a broadcast self-join over those 50 rows (every
    // score above a top-50 score is itself in the top 50, so the join sees
    // the full cumulative history) — no global-sort window anywhere.
    "q_t_pr_curve" -> ((s, d) => {
      val e = Tables(s, d, "events")
        .select(col("value").as("score"),
          (col("event_type") === "purchase").cast("long").as("label"))
      val byScore = e.groupBy("score")
        .agg(count(lit(1)).as("n"), sum("label").as("pos"))
      val totals = e.agg(sum("label").as("p_total"))
      val top = byScore.orderBy(col("score").desc).limit(50)
      val b = top.select(col("score").as("__s2"), col("n").as("__n2"),
        col("pos").as("__p2"))
      top.join(broadcast(b), col("__s2") >= col("score"))
        .groupBy("score")
        .agg(sum("__p2").as("cum_tp"), sum("__n2").as("cum_n"),
          (count(when(col("__s2") > col("score"), 1)) + 1).cast("int").as("rank"))
        .crossJoin(broadcast(totals))
        .select(col("rank"), col("score"),
          (col("cum_tp").cast("double") / col("cum_n").cast("double")).as("precision"),
          (col("cum_tp").cast("double") / col("p_total").cast("double")).as("recall"))
        .orderBy("rank")
    }),

    // Quality-weighted deterministic sampling: keep a doc with probability
    // ∝ its alpha-ratio quality weight, decided by comparing a 32-bit
    // md5-derived uniform against floor(w·2³²) — no RNG state, identical
    // keep-set on any engine/cluster size, stratified report per source.
    // The shape of every "sample the corpus down, biased toward quality"
    // stage in a pretraining data pipeline.
    "q_x_weighted_sample" -> ((s, d) => {
      val uInt = conv(substring(
        graft.ml.Split.hashKey(col("doc_id"), 17), 1, 8), 16, 10).cast("long")
      val w = TextOps.alphaRatio(col("text"))
      Tables(s, d, "documents")
        .select(col("source"), col("text"),
          (uInt < floor(w * 4294967296.0).cast("long")).cast("int").as("keep"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_total"),
          sum(col("keep")).cast("long").as("n_kept"),
          sum(when(col("keep") === 1,
            TextOps.tokenCount(col("text")).cast("long")).otherwise(0L))
            .as("kept_tokens"))
        .orderBy("source")
    }),

    // Data-mixture plan (domain reweighting): per-language token counts
    // vs a target mixture → per-language sampling rate
    // min(1, target·T_total/T_lang) and the planned token budget. The
    // static DoReMi-style rebalancing computation; exact integer token
    // sums, one double division at the end (bit-identical cross-engine).
    "q_x_mixture_plan" -> ((s, d) => {
      import s.implicits._
      val perLang = Tables(s, d, "documents").groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextOps.tokenCount(col("text")).cast("long")).as("tokens"))
      val total = perLang.agg(sum("tokens").as("total_tokens"))
      val targets = MixtureTargets.toDF("lang", "target_share")
      val rate = least(lit(1.0), col("target_share")
        * col("total_tokens").cast("double") / col("tokens").cast("double"))
      perLang.join(broadcast(targets), Seq("lang"))
        .crossJoin(broadcast(total))
        .withColumn("rate", rate)
        .withColumn("planned_tokens",
          floor(col("rate") * col("tokens").cast("double")).cast("long"))
        .select("lang", "n_docs", "tokens", "target_share", "rate",
          "planned_tokens")
        .orderBy("lang")
    }),

    // Deterministic epoch shuffle: every doc's global permutation position
    // (row_number over md5(seed:id)) via the 256-bucket distributed rank —
    // shard assignment and per-shard balance summarized. The reproducible
    // global shuffle a training run needs WITHOUT a single-partition sort.
    "q_x_epoch_shuffle" -> ((s, d) => {
      val ranked = graft.ml.Extras.hashRank(
        Tables(s, d, "documents").select("doc_id"), "doc_id", seed = 5, "pos")
      ranked.withColumn("shard", ((col("pos") - 1) % 8).cast("int"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n"), sum("doc_id").cast("long").as("id_sum"),
          min("pos").cast("long").as("first_pos"),
          max("pos").cast("long").as("last_pos"))
        .orderBy("shard")
    }),

    // Equi-width histogram of order prices: bucket arithmetic in exact
    // integer cents (no float division at bin edges), bounds from one tiny
    // broadcast aggregate — two passes, no driver round-trip.
    "q_a_histogram" -> ((s, d) => {
      val o = Tables(s, d, "orders")
      val cents = round(col("o_totalprice") * 100).cast("long")
      val bounds = o.agg(min(cents).as("lo"), max(cents).as("hi"))
      val nb = 16
      o.select(cents.as("c")).crossJoin(broadcast(bounds))
        .select(least(lit(nb.toLong - 1),
          expr(s"((c - lo) * $nb) DIV (hi - lo + 1)")).as("bucket"),
          col("c"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          (min(col("c")).cast("double") / 100).as("bucket_min"),
          (max(col("c")).cast("double") / 100).as("bucket_max"))
        .orderBy("bucket")
    }))

  /** 8-hex-char md5 prefix → 32-bit integer (the q_x_feature_hash
    * nibble-positional-sum idiom). */
  private def nibbleInt8(h: String): String =
    (1 to 8).map(i =>
      s"(strpos('0123456789abcdef', substr($h, $i, 1)) - 1) * ${math.pow(16, 8 - i).toLong}")
      .mkString("(", " + ", ")")

  val oracles: Map[String, String] = Map(
    "q_u_hll_distinct" ->
      s"""WITH hx AS (SELECT event_type,
         |    substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS h FROM events),
         |hv AS (SELECT event_type, ${nibbleInt8("h")} AS v FROM hx),
         |hr AS (SELECT event_type, v >> 26 AS reg,
         |    CASE WHEN (v & 67108863) = 0 THEN 27
         |         ELSE 27 - length(bin(v & 67108863)) END AS r
         |  FROM hv),
         |hm AS (SELECT event_type, reg, MAX(r) AS mr FROM hr GROUP BY 1, 2),
         |hs AS (SELECT event_type,
         |    CAST(SUM(1.0 / CAST((1::BIGINT << mr) AS DOUBLE)) AS DOUBLE)
         |      + (64 - COUNT(*)) AS s,
         |    64 - COUNT(*) AS v0
         |  FROM hm GROUP BY 1),
         |he AS (SELECT event_type, ${0.709 * 64 * 64} / s AS raw, v0 FROM hs)
         |SELECT e.event_type,
         |  CASE WHEN raw <= 160.0 AND v0 > 0
         |      THEN 64.0 * CAST(CAST(ln(64.0 / v0) AS DECIMAL(30,12)) AS DOUBLE)
         |    WHEN raw > ${4294967296.0 / 30.0}
         |      THEN -4294967296.0 *
         |        CAST(CAST(ln(1.0 - raw / 4294967296.0) AS DECIMAL(30,12))
         |          AS DOUBLE)
         |    ELSE raw END AS approx_distinct,
         |  x.exact_distinct
         |FROM he e JOIN (SELECT event_type,
         |    COUNT(DISTINCT user_id) AS exact_distinct
         |  FROM events GROUP BY 1) x USING (event_type)
         |ORDER BY 1""".stripMargin,
    "q_x_redact" -> {
      val red = TextOps.PiiPatterns.foldLeft(piiAugmentedSql) {
        case (acc, (pat, tag)) => s"regexp_replace($acc, '$pat', '$tag', 'g')"
      }
      s"""WITH r AS (SELECT doc_id, $red AS red FROM documents WHERE doc_id < 200)
         |SELECT doc_id, md5(red) AS red_md5,
         | CAST(length(red) AS BIGINT) AS red_len,
         | CAST(len(regexp_extract_all(red, '<EMAIL>')) AS BIGINT) AS n_email,
         | CAST(len(regexp_extract_all(red, '<IP>')) AS BIGINT) AS n_ip,
         | CAST(len(regexp_extract_all(red, '<PHONE>')) AS BIGINT) AS n_phone,
         | CAST(len(regexp_extract_all(red, '<NUM>')) AS BIGINT) AS n_num
         |FROM r ORDER BY doc_id""".stripMargin
    },

    "q_x_repetition" -> {
      val normToks =
        """regexp_split_to_array(trim(lower(trim(
          |  regexp_replace(text, '\s+', ' ', 'g')))), '\s+')""".stripMargin
      s"""WITH sh AS (SELECT source,
         |  CASE WHEN len($normToks) < 3
         |    THEN [array_to_string($normToks, ' ')]
         |    ELSE list_transform(range(0, len($normToks) - 2),
         |      i -> array_to_string(($normToks)[i+1:i+3], ' ')) END AS grams
         |  FROM documents),
         |f AS (SELECT source,
         |  1.0 - len(list_distinct(grams)) / CAST(len(grams) AS DOUBLE) AS dup_frac
         |  FROM sh)
         |SELECT source, COUNT(*) AS n_docs,
         | CAST(SUM(CASE WHEN dup_frac > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
         | (CAST(SUM(CAST(floor(dup_frac * 1e12 + 0.5) AS DECIMAL(38,0)))
         |    AS DOUBLE) / 1e12) / COUNT(*) AS mean_dup_frac
         |FROM f GROUP BY source ORDER BY source""".stripMargin
    },

    "q_x_decontam" -> {
      val normToks =
        """regexp_split_to_array(trim(lower(trim(
          |  regexp_replace(text, '\s+', ' ', 'g')))), '\s+')""".stripMargin
      val grams5 =
        s"""(CASE WHEN len($normToks) < 5
           | THEN [array_to_string($normToks, ' ')]
           | ELSE list_distinct(list_transform(range(0, len($normToks) - 4),
           |   i -> array_to_string(($normToks)[i+1:i+5], ' '))) END)""".stripMargin
      s"""WITH tg AS (SELECT doc_id, unnest($grams5) AS gram
         |  FROM documents WHERE doc_id % 97 != 0),
         |eg AS (SELECT DISTINCT md5(gram) AS gh FROM
         |  (SELECT unnest($grams5) AS gram FROM documents WHERE doc_id % 97 = 0) t),
         |tr AS (SELECT doc_id, md5(gram) AS gh FROM tg),
         |tot AS (SELECT doc_id, COUNT(*) AS n_ngrams FROM tr GROUP BY doc_id),
         |hit AS (SELECT doc_id, COUNT(*) AS n_contaminated FROM tr
         |  WHERE gh IN (SELECT gh FROM eg) GROUP BY doc_id),
         |j AS (SELECT tot.doc_id, tot.n_ngrams,
         |    COALESCE(hit.n_contaminated, 0) AS n_contaminated,
         |    COALESCE(hit.n_contaminated, 0) / CAST(tot.n_ngrams AS DOUBLE)
         |      AS contamination
         |  FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id)
         |SELECT CAST(rn AS INTEGER) AS rank, doc_id, n_ngrams, n_contaminated,
         |  contamination
         |FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY n_contaminated DESC, doc_id)
         |  AS rn FROM j) t
         |WHERE rn <= 10 ORDER BY rank""".stripMargin
    },

    "q_x_bm25" -> {
      val normToks =
        """regexp_split_to_array(trim(lower(trim(
          |  regexp_replace(text, '\s+', ' ', 'g')))), '\s+')""".stripMargin
      val terms = Bm25Terms.map(t => s"'$t'").mkString("[", ", ", "]")
      // constants interpolated from the SAME Scala doubles the engine uses
      // (shortest-round-trip formatting → DuckDB parses the identical bits)
      val k1 = 1.2; val b = 0.75
      s"""WITH base AS (SELECT doc_id, len($normToks) AS dl, unnest($normToks) AS token
         |  FROM documents),
         |hits AS (SELECT * FROM base WHERE list_contains($terms, token)),
         |tf AS (SELECT doc_id, token, dl, COUNT(*) AS tf FROM hits GROUP BY 1, 2, 3),
         |dfq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
         |corpus AS (SELECT COUNT(*) AS n_docs,
         |    CAST(SUM(len($normToks)) AS BIGINT) AS sum_dl FROM documents),
         |scored AS (SELECT doc_id,
         |    (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
         |      / (CAST(df AS DOUBLE) + 0.5)
         |      * (CAST(tf AS DOUBLE) * ${k1 + 1.0})
         |      / (CAST(tf AS DOUBLE) + $k1 * (${1.0 - b} + $b
         |         * (CAST(dl AS DOUBLE)
         |            / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
         |      AS score_t
         |  FROM tf JOIN dfq USING (token), corpus),
         |agg AS (SELECT doc_id,
         |    CAST(SUM(CAST(score_t AS DECIMAL(30,12))) AS DOUBLE) AS score
         |  FROM scored GROUP BY doc_id)
         |SELECT CAST(rn AS INTEGER) AS rank, doc_id, score
         |FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rn
         |  FROM agg) t
         |WHERE rn <= 10 ORDER BY rank""".stripMargin
    },

    "q_s_debounce" ->
      """WITH e AS (SELECT user_id, event_type, event_id,
        |  CAST(ts AS TIMESTAMP) AS ts FROM events),
        |g AS (SELECT event_type,
        |  epoch_us(ts - LAG(ts) OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts, event_id)) AS gap_us
        |  FROM e)
        |SELECT event_type, COUNT(*) AS n_total,
        | CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us >= 300000000
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM g GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_s_transitions" ->
      """WITH e AS (SELECT user_id, event_type, event_id,
        |  CAST(ts AS TIMESTAMP) AS ts FROM events),
        |g AS (SELECT event_type AS to_type,
        |  LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS from_type
        |  FROM e)
        |SELECT from_type, to_type, COUNT(*) AS n FROM g
        |WHERE from_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_j_tpch_q3" ->
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
         | ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND CAST(o_orderdate AS TIMESTAMP) < TIMESTAMP '1998-01-01'
         |  AND CAST(l_shipdate AS TIMESTAMP) > TIMESTAMP '1998-01-01'
         |GROUP BY 1, 2, 3
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q_s_retention" ->
      // floor(x / 7.0), NOT integer '//': DuckDB's integer division
      // truncates toward zero while the engine's floor(day/7) floors, so
      // the two diverge on any pre-2024 timestamp (-3 // 7 = 0 vs -1);
      // the double division is exact-parity at these magnitudes
      """WITH e AS (SELECT user_id,
        |  CAST(floor(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |    / 7.0) AS BIGINT) AS week
        |  FROM events),
        |c AS (SELECT user_id, MIN(week) AS cohort_week FROM e GROUP BY user_id)
        |SELECT CAST(cohort_week AS BIGINT) AS cohort_week,
        | CAST(e.week - c.cohort_week AS BIGINT) AS week_offset,
        | COUNT(DISTINCT e.user_id) AS n_users
        |FROM e JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_s_gapfill" ->
      // floor(x / w), NOT integer '//' (truncates toward zero): matches the
      // engine's floor(unix_micros/width) for pre-1970 timestamps too.
      // Exact: epoch micros < 2^53, so the double division is bit-parity.
      """WITH e AS (SELECT event_type,
        |  CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 3600000000.0) AS BIGINT)
        |    AS bucket, value
        |  FROM events WHERE event_type IN ('signup', 'purchase')),
        |agg AS (SELECT event_type, bucket, COUNT(*) AS n,
        |  SUM(CAST(value AS DECIMAL(30,6))) AS s
        |  FROM e GROUP BY 1, 2),
        |spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS bucket
        |  FROM (SELECT event_type, MIN(bucket) AS lo, MAX(bucket) AS hi
        |    FROM agg GROUP BY event_type) t),
        |dense AS (SELECT spine.event_type, spine.bucket,
        |  COALESCE(agg.n, 0) AS n, agg.s
        |  FROM spine LEFT JOIN agg
        |    ON agg.event_type = spine.event_type AND agg.bucket = spine.bucket)
        |SELECT event_type, bucket, n,
        | CAST(s AS DOUBLE) AS bucket_sum,
        | CAST(LAST_VALUE(s IGNORE NULLS) OVER (PARTITION BY event_type
        |   ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS ff_last
        |FROM dense ORDER BY event_type, bucket""".stripMargin,

    "q_v_centroids" ->
      // integer 1e-12 quantization mirrored from the engine expression:
      // floor(v*1e12 + 0.5) is exact double arithmetic for floats, so both
      // engines compute the identical integer — no decimal tie-breaking
      """WITH idx AS (SELECT unnest(range(1, 9)) AS i)
        |SELECT label, CAST(i - 1 AS INTEGER) AS dim, COUNT(*) AS n,
        | (CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e12 + 0.5)
        |    AS DECIMAL(38,0))) AS DOUBLE) / 1e12) / COUNT(*) AS centroid
        |FROM embeddings, idx GROUP BY label, i ORDER BY label, dim""".stripMargin,

    "q_a6b_pivot_multi" -> {
      val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      val alias = Seq("p1", "p2", "p3", "p4", "p5")
      val cells = prios.zip(alias).map { case (p, a) =>
        s"""CAST(COUNT(CASE WHEN o_orderpriority = '$p' THEN 1 END) AS BIGINT)
           |   AS ${a}_n,
           | CAST(SUM(CASE WHEN o_orderpriority = '$p'
           |   THEN CAST(o_totalprice AS DECIMAL(30,6)) END) AS DOUBLE) AS ${a}_sum"""
          .stripMargin
      }.mkString(",\n ")
      s"""SELECT o_orderstatus, $cells
         |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
    },

    "q_w_rolling_median" ->
      """WITH e AS (SELECT user_id, event_id, value,
        |  CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_type = 'purchase')
        |SELECT user_id, event_id,
        | quantile_cont(value, 0.5) OVER (PARTITION BY user_id
        |   ORDER BY ts, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS med5
        |FROM e ORDER BY user_id, event_id""".stripMargin,

    "q_a_anomaly" ->
      s"""WITH s AS (SELECT event_type, COUNT(value) AS n,
         |  ${davgSql("value")} AS mean, ${dstddevSql("value")} AS std
         |  FROM events GROUP BY event_type)
         |SELECT events.event_type, s.n, s.mean, s.std,
         | CAST(SUM(CASE WHEN ABS(value - s.mean) > 3.0 * s.std
         |   THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
         |FROM events JOIN s USING (event_type)
         |GROUP BY events.event_type, s.n, s.mean, s.std
         |ORDER BY event_type""".stripMargin,

    "q_j_basket" ->
      """WITH p AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |  COUNT(*) AS n
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2)
        |SELECT CAST(rn AS INTEGER) AS rank, part_a, part_b, n
        |FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY n DESC, part_a, part_b)
        |  AS rn FROM p) t
        |WHERE rn <= 10 ORDER BY rank""".stripMargin,

    "q_g_triangles" ->
      """WITH p AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS n
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2),
        |e AS (SELECT pa AS a, pb AS b FROM p WHERE n >= 2)
        |SELECT COUNT(*) AS n_triangles
        |FROM e e1 JOIN e e2 ON e2.a = e1.b
        |WHERE EXISTS (SELECT 1 FROM e e3 WHERE e3.a = e1.a AND e3.b = e2.b)"""
        .stripMargin,

    "q_a_quantiles" ->
      """SELECT event_type,
        | quantile_cont(value, 0.25) AS q25,
        | quantile_cont(value, 0.5) AS q50,
        | quantile_cont(value, 0.75) AS q75,
        | COUNT(value) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_s_sessionize" ->
      """WITH e AS (SELECT user_id, event_id,
        |  CAST(ts AS TIMESTAMP) AS ts FROM events),
        |g AS (SELECT user_id, event_id, ts,
        |  epoch_us(ts - LAG(ts) OVER w) AS gap_us
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, event_id,
        |  SUM(CASE WHEN gap_us > 1800000000 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM g)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        | COUNT(*) AS n_events,
        | MIN(event_id) AS first_event, MAX(event_id) AS last_event
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_x_dedup_best" ->
      """WITH u AS (SELECT doc_id, text, n_chars FROM documents
        |  UNION ALL SELECT doc_id + 100000000, text, n_chars FROM documents),
        |k AS (SELECT doc_id, n_chars, ROW_NUMBER() OVER (
        |    PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
        |    ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM u)
        |SELECT COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS id_sum,
        | CAST(SUM(n_chars) AS BIGINT) AS chars_kept
        |FROM k WHERE rn = 1""".stripMargin,

    "q_a_grouping_sets" ->
      s"""SELECT COALESCE(o_orderstatus, '(all)') AS status,
         | COALESCE(o_orderpriority, '(all)') AS priority,
         | COUNT(*) AS n, ${dsumSql("o_totalprice")} AS sum_price
         |FROM orders
         |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
         |ORDER BY status, priority""".stripMargin,

    "q_t_pr_curve" ->
      """WITH e AS (SELECT value AS score,
        |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
        |  FROM events),
        |b AS (SELECT score, COUNT(*) AS n, SUM(label) AS pos
        |  FROM e GROUP BY score),
        |c AS (SELECT score,
        |  SUM(pos) OVER (ORDER BY score DESC ROWS UNBOUNDED PRECEDING) AS cum_tp,
        |  SUM(n) OVER (ORDER BY score DESC ROWS UNBOUNDED PRECEDING) AS cum_n,
        |  ROW_NUMBER() OVER (ORDER BY score DESC) AS rank
        |  FROM b),
        |t AS (SELECT SUM(label) AS p_total FROM e)
        |SELECT CAST(rank AS INTEGER) AS rank, score,
        | CAST(cum_tp AS DOUBLE) / CAST(cum_n AS DOUBLE) AS precision,
        | CAST(cum_tp AS DOUBLE) / CAST(p_total AS DOUBLE) AS recall
        |FROM c, t WHERE rank <= 50 ORDER BY rank""".stripMargin,

    "q_x_weighted_sample" -> {
      // 8-hex md5 prefix → integer via nibble positional sum (exact:
      // < 16^8 = 2^32 fits BIGINT), mirroring conv(md5[1:8], 16, 10)
      val nibbleSum = (1 to 8).map(i =>
        s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * ${math.pow(16, 8 - i).toLong}")
        .mkString(" + ")
      s"""WITH t AS (SELECT source, text,
         |  ${hashKey("doc_id", 17)} AS h,
         |  length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
         |    / CAST(length(text) AS DOUBLE) AS w
         |  FROM documents),
         |k AS (SELECT source, text,
         |  CASE WHEN ($nibbleSum) < CAST(floor(w * 4294967296.0) AS BIGINT)
         |    THEN 1 ELSE 0 END AS keep
         |  FROM t)
         |SELECT source, COUNT(*) AS n_total,
         | CAST(SUM(keep) AS BIGINT) AS n_kept,
         | CAST(SUM(CASE WHEN keep = 1
         |   THEN len(regexp_split_to_array(trim(text), '\\s+')) ELSE 0 END)
         |   AS BIGINT) AS kept_tokens
         |FROM k GROUP BY source ORDER BY source""".stripMargin
    },

    "q_x_mixture_plan" -> {
      val vals = MixtureTargets
        .map { case (l, s) => s"('$l', $s)" }.mkString(", ")
      s"""WITH pl AS (SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT)
         |    AS tokens
         |  FROM documents GROUP BY lang),
         |tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total_tokens FROM pl),
         |tg AS (SELECT lang, CAST(target_share AS DOUBLE) AS target_share
         |  FROM (VALUES $vals) v(lang, target_share))
         |SELECT pl.lang, n_docs, tokens, target_share,
         | LEAST(1.0, target_share * CAST(total_tokens AS DOUBLE)
         |   / CAST(tokens AS DOUBLE)) AS rate,
         | CAST(floor(LEAST(1.0, target_share * CAST(total_tokens AS DOUBLE)
         |   / CAST(tokens AS DOUBLE)) * CAST(tokens AS DOUBLE)) AS BIGINT)
         |   AS planned_tokens
         |FROM pl JOIN tg USING (lang), tot ORDER BY lang""".stripMargin
    },

    "q_x_epoch_shuffle" ->
      s"""WITH r AS (SELECT doc_id, ROW_NUMBER() OVER (
         |    ORDER BY ${hashKey("doc_id", 5)}, doc_id) AS pos
         |  FROM documents)
         |SELECT CAST((pos - 1) % 8 AS INTEGER) AS shard, COUNT(*) AS n,
         | CAST(SUM(doc_id) AS BIGINT) AS id_sum,
         | CAST(MIN(pos) AS BIGINT) AS first_pos,
         | CAST(MAX(pos) AS BIGINT) AS last_pos
         |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_a_histogram" ->
      """WITH c AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders),
        |b AS (SELECT MIN(c) AS lo, MAX(c) AS hi FROM c)
        |SELECT LEAST(15, ((c.c - b.lo) * 16) // (b.hi - b.lo + 1)) AS bucket,
        | COUNT(*) AS n,
        | CAST(MIN(c.c) AS DOUBLE) / 100 AS bucket_min,
        | CAST(MAX(c.c) AS DOUBLE) / 100 AS bucket_max
        |FROM c, b GROUP BY 1 ORDER BY 1""".stripMargin)
}
