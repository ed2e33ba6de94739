package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.Num.dsum

/** Round-3 coverage extensions: multi-dimensional aggregation (cube),
  * analytic lead/lag, outer joins, CDC latest-wins compaction,
  * deterministic hash sampling, edit-distance fuzzy matching, TF-IDF
  * retrieval, and funnel analysis — each the Spark-first shape of an
  * operation a large-scale data pipeline runs daily.
  */
object ExtQueries extends QueryPack {
  import Sql._

  /** Fixed retrieval query for q_x_tfidf_search (corpus vocabulary terms
    * with differing document frequencies). */
  private val QueryTokens = Seq("spark", "join", "window")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // CUBE over (status, priority): all four grouping sets in one pass
    // (Spark expands the sets BEFORE the exchange, so partial aggregation
    // still combines map-side). grouping() flags disambiguate a genuine
    // NULL key from a subtotal row — the ADVICE-r2 crosstab lesson.
    "q_a_cube" -> ((s, d) =>
      Tables(s, d, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping(col("o_orderstatus")).cast("int").as("g_status"),
          grouping(col("o_orderpriority")).cast("int").as("g_priority"),
          count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .select(coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
          coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
          col("g_status"), col("g_priority"), col("n"), col("sum_price"))
        .orderBy("g_status", "g_priority", "status", "priority")),

    // Analytic lead/lag: per-user inter-event gaps (exact integer micros —
    // no float time arithmetic), one shuffle on user_id.
    "q_w_lead_lag" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables(s, d, "events")
        .select(col("user_id"), col("event_type"),
          (graft.ops.Temporal.epochMicros(col("ts")) - graft.ops.Temporal.epochMicros(lag(col("ts"), 1).over(w))).as("gap_us"),
          lag(col("event_type"), 1).over(w).as("prev_type"))
        .filter(col("gap_us").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_gaps"),
          sum(col("gap_us")).cast("long").as("sum_gap_us"),
          max(col("gap_us")).as("max_gap_us"),
          count(when(col("event_type") === col("prev_type"), 1)).as("n_repeat"))
        .orderBy("user_id")
    }),

    // Full outer join: customer spine vs per-customer order counts —
    // customers with no orders survive with n_orders = 0 (the pandas
    // merge(how='outer') shape). Result: order-count histogram.
    "q_j_outer" -> ((s, d) => {
      val oc = Tables(s, d, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
      Tables(s, d, "customer")
        .join(oc, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .groupBy("n_orders").agg(count(lit(1)).as("n_customers"))
        .orderBy("n_orders")
    }),

    // CDC latest-wins compaction: one row per key = the newest record
    // (ts desc, event_id desc tie-break) — the upsert-merge shape every
    // incremental 100 TB table maintenance job runs.
    "q_j_latest" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables(s, d, "events")
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .select(col("user_id"), col("ts").as("last_ts"),
          col("event_type").as("last_type"), col("value").as("last_value"))
        .orderBy("user_id")
    }),

    // Deterministic hash sampling (~10%: first md5 hex byte < 0x1a, i.e.
    // 26/256): reproducible on any engine, no RNG state, stratified
    // reporting per event_type. The scalable substitute for seeded
    // sample() when train/eval membership must be stable across runs.
    "q_m_hash_sample" -> ((s, d) =>
      Tables(s, d, "events")
        .select(col("event_type"),
          (substring(md5(concat_ws(":", lit(7), col("event_id"))), 1, 2) <= "19")
            .cast("int").as("in_sample"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_total"), sum(col("in_sample")).cast("long").as("n_sampled"))
        .orderBy("event_type")),

    // Edit-distance fuzzy matching on consecutive docs (normalized prefix):
    // exact integer Levenshtein — the character-level complement of the
    // token-level Jaccard/minhash dedup family.
    "q_x_edit_distance" -> ((s, d) => {
      val norm = lower(trim(regexp_replace(col("text"), "\\s+", " ")))
      val docs = Tables(s, d, "documents")
        .select(col("doc_id"), substring(norm, 1, 80).as("prefix"))
      val a = docs.filter(col("doc_id") < 100)
        .select(col("doc_id").as("id_a"), col("prefix").as("pa"))
      val b = docs.select(col("doc_id").as("id_b"), col("prefix").as("pb"))
      a.join(b, col("id_b") === col("id_a") + 1)
        .select(col("id_a"), col("id_b"),
          levenshtein(col("pa"), col("pb")).as("edit_dist"))
        .orderBy("id_a")
    }),

    // TF-IDF retrieval with integer-scaled idf (w = (N*1e6) DIV df):
    // every score is an exact integer on any engine — no libm log in the
    // ranking path. Plan: tf of the 3 query terms only (filter BEFORE the
    // doc-term aggregation), df + N from tiny broadcast aggregates.
    "q_x_tfidf_search" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val toks = docs.select(col("doc_id"),
        explode(graft.text.TextOps.tokens(
          graft.text.TextOps.normalizeText(col("text")))).as("token"))
        .filter(col("token").isin(QueryTokens: _*))
      val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val df_ = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(broadcast(df_), Seq("token"))
        .crossJoin(broadcast(n))
        .withColumn("w", expr("(n_docs * 1000000) DIV df"))
        .groupBy("doc_id").agg(sum(col("tf") * col("w")).cast("long").as("score"))
      graft.ops.Ranking.topKRanked(scored,
          Seq("score" -> true, "doc_id" -> false), 10)
        .select(col("rank"), col("doc_id"), col("score"))
        .orderBy("rank")
    }),

    // Hybrid-retrieval fusion (RRF): BM25 and integer-idf TF-IDF top-50
    // candidate lists fused by Σ 1/(60+rank). Both candidate lists are
    // k-bounded (topKRanked → TakeOrdered), so the fusion full-outer join
    // touches ≤100 rows no matter the corpus size, and the RRF score is a
    // single fixed-order sum of two exact double divisions.
    "q_x_rrf" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      // ONE tokenize pass feeds both scorers (guide §1.2): the former
      // plan tokenized the corpus three times (bm25's term explode,
      // bm25's N/avgdl aggregate, the tf-idf term explode); both rank
      // lists now score off the same checkpointed (id, dl, hits) frame
      // and the same (doc, term) frequency relation.
      val base = graft.text.Retrieval.queryTermBase(
        docs, "doc_id", "text", QueryTokens)
      val bm = graft.ops.Ranking.topKRanked(
        graft.text.Retrieval.bm25FromBase(base, "doc_id"),
        Seq("score" -> true, "doc_id" -> false), 50)
      val tf = graft.text.Retrieval.queryTermTf(base, "doc_id")
      val df_ = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val n = base.agg(count(lit(1)).as("n_docs"))
      val tfidf = tf.join(broadcast(df_), Seq("token")).crossJoin(broadcast(n))
        .withColumn("w", expr("(n_docs * 1000000) DIV df"))
        .groupBy("doc_id")
        .agg(sum(col("tf") * col("w")).cast("long").as("score"))
      val ti = graft.ops.Ranking.topKRanked(tfidf,
        Seq("score" -> true, "doc_id" -> false), 50)
      graft.text.Retrieval.rrfFuse(bm, ti, "doc_id", k0 = 60, k = 10)
        .select(col("rank"), col("doc_id"), col("rrf"),
          col("rank_a").as("bm25_rank"), col("rank_b").as("tfidf_rank"))
        .orderBy("rank")
    }),

    // Exact decile bucketing WITHOUT a global-sort window: ntileExact
    // range-partitions the order key and turns per-partition row numbers
    // into global ones with driver-side bucket offsets — reproduces SQL
    // NTILE bit-for-bit at full parallelism.
    "q_w_ntile" -> ((s, d) => {
      val bucketed = graft.ops.Ranking.ntileExact(
        Tables(s, d, "orders"),
        Seq(col("o_totalprice"), col("o_orderkey")), 10, "decile")
      bucketed.groupBy("decile")
        .agg(count(lit(1)).as("n"),
          min("o_totalprice").as("lo"), max("o_totalprice").as("hi"),
          dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("decile")
    }),

    // Multiple distinct aggregates in one grouped pass (Spark's Expand-
    // based multi-distinct rewrite — each distinct column shuffles once).
    "q_u_multi_distinct" -> ((s, d) =>
      Tables(s, d, "orders").groupBy("o_orderstatus")
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
          countDistinct(col("o_orderpriority")).as("n_prio"),
          count(lit(1)).as("n"))
        .orderBy("o_orderstatus")),

    // Incremental aggregate maintenance (materialized-view shape): the
    // pre-cutoff partial state merges with the delta's partials and must
    // equal a from-scratch aggregate — exact because the partial sums
    // stay DECIMAL until the final cast (decimal addition is associative;
    // double re-summing would not be). The oracle computes from scratch.
    "q_a_incremental" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(30, 6)
      val o = Tables(s, d, "orders")
      def partials(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("o_orderstatus").agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(dec)).as("s"))
      val pre = partials(o.filter(col("o_orderdate") < "1997-01-01"))
      val delta = partials(o.filter(col("o_orderdate") >= "1997-01-01"))
      pre.unionByName(delta).groupBy("o_orderstatus")
        .agg(sum("n").cast("long").as("n"),
          sum("s").cast("double").as("sum_price"))
        .orderBy("o_orderstatus")
    }),

    // Document chunking: overlapping 200-char windows (step 150) — the
    // splitter in front of an embedding pipeline. Pure narrow explode.
    "q_x_chunking" -> ((s, d) =>
      graft.text.TextOps.chunkText(
        Tables(s, d, "documents").filter(col("doc_id") < 50),
        "doc_id", "text", size = 200, overlap = 50)
        .select(col("doc_id"), col("chunk_id"),
          length(col("chunk")).cast("int").as("chunk_len"),
          md5(col("chunk")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")),

    // Sequence packing: concatenate docs in doc_id order and cut every
    // 2000 tokens — each doc's batch is where its first token lands. The
    // running token total is a DISTRIBUTED prefix sum (ops.Prefix), not a
    // single-partition window; exact integer arithmetic end to end.
    "q_x_seq_pack" -> ((s, d) => {
      val toks = Tables(s, d, "documents").select(col("doc_id"),
        graft.text.TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
      graft.ops.Prefix.runningSum(toks, Seq(col("doc_id")), col("n_tok"), "cum_tok")
        .withColumn("batch", expr("CAST((cum_tok - n_tok) DIV 2000 AS INT)"))
        .groupBy("batch")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tok").cast("long").as("batch_tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("batch")
    }),

    // Runtime Bloom-filter join reduction: lineitem semi-joins the
    // high-value orders through a broadcast Bloom pre-filter (rows the
    // join would drop never reach the shuffle); the exact semi join
    // afterwards makes false positives harmless — the result must equal
    // the plain semi join, which is exactly what the oracle computes.
    "q_j_bloom" -> ((s, d) => {
      val big = Tables(s, d, "orders").filter(col("o_totalprice") > 400000.0)
      graft.ops.Bloom.bloomSemiJoin(
        Tables(s, d, "lineitem"), big, "l_orderkey", "o_orderkey",
        expectedItems = 100000L)
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
    }),

    // Time-based window frame (rangeBetween): per-user trailing 30-minute
    // event count/sum at each event — RANGE frames bound by event-time
    // values, not row offsets.
    "q_w8_range_window" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(graft.ops.Temporal.epochMicros(col("ts")))
        .rangeBetween(-30L * 60 * 1000000, 0)
      Tables(s, d, "events")
        .select(col("user_id"), col("event_id"), col("ts"),
          count(lit(1)).over(w).as("n_30m"),
          sum(col("value").cast("decimal(30,6)")).over(w).cast("double").as("sum_30m"))
        .orderBy("user_id", "ts", "event_id")
    }),

    // percent_rank / cume_dist over a global order (analytic rank family).
    // The (s_acctbal, s_suppkey) order is total (no ties), so
    // rank = row_number = a distributed prefix count and
    // percent_rank = (rank−1)/(n−1), cume_dist = rank/n — full parallelism
    // where a bare Window.orderBy would single-partition the table.
    "q_w9_percent_rank" -> ((s, d) => {
      val sup = Tables(s, d, "supplier").select("s_suppkey", "s_acctbal")
      val ranked = graft.ops.Prefix.runningSum(sup,
        Seq(col("s_acctbal"), col("s_suppkey")), lit(1L), "__rk")
      ranked.crossJoin(broadcast(sup.agg(count(lit(1)).as("__n"))))
        .select(col("s_suppkey"), col("s_acctbal"),
          ((col("__rk") - 1).cast("double") / (col("__n") - 1).cast("double")).as("pr"),
          (col("__rk").cast("double") / col("__n").cast("double")).as("cd"))
        .orderBy("s_suppkey")
    }),

    // Null-safe equality join (<=>): a NULL key matches a NULL key — the
    // pandas merge-on-nullable-column semantics SQL equality silently
    // drops.
    "q_j_nullsafe" -> ((s, d) => {
      val e = Tables(s, d, "events")
      val k = when(col("event_type") =!= "error", col("event_type"))
      val a = e.groupBy(k.as("k")).agg(count(lit(1)).as("n_a"))
      val b = e.filter(col("value") > 100)
        .groupBy(k.as("k")).agg(count(lit(1)).as("n_b"))
      a.join(b, a("k") <=> b("k"), "inner")
        .select(coalesce(a("k"), lit("(null)")).as("k"), col("n_a"), col("n_b"))
        .orderBy("k")
    }),

    // Row-level EXCEPT / INTERSECT set semantics over order-key sets.
    "q_u_except_intersect" -> ((s, d) => {
      val l = Tables(s, d, "lineitem")
      val hi = l.filter(col("l_quantity") > 45).select("l_orderkey").distinct()
      val disc = l.filter(col("l_discount") > 0.05).select("l_orderkey").distinct()
      val ex = hi.except(disc)
        .agg(lit("except").as("op"), count(lit(1)).as("n"),
          sum("l_orderkey").cast("long").as("key_sum"))
      val in = hi.intersect(disc)
        .agg(lit("intersect").as("op"), count(lit(1)).as("n"),
          sum("l_orderkey").cast("long").as("key_sum"))
      ex.unionByName(in).orderBy("op")
    }),

    // Feature hashing (hashing trick): md5-derived bucket per token —
    // engine-reproducible HashingTF. Output = the collision structure of
    // the hashed feature space (buckets, loads, distinct tokens).
    "q_x_feature_hash" -> ((s, d) => {
      val toks = Tables(s, d, "documents").select(col("doc_id"),
        explode(graft.text.TextOps.tokens(
          graft.text.TextOps.normalizeText(col("text")))).as("token"))
      val bucket = pmod(
        conv(substring(md5(col("token")), 1, 8), 16, 10).cast("long"), lit(256))
      toks.groupBy(bucket.as("bucket"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("token")).as("n_tokens"))
        .orderBy("bucket")
    }),

    // TPC-H Q5 shape (local supplier volume): a 6-table star with the
    // region→nation dim chain broadcast into supplier, a composite-key
    // customer join (custkey AND nationkey — "customer and supplier share
    // a nation"), and grouped exact-decimal revenue.
    "q_j_tpch_q5" -> ((s, d) => {
      val asia = Tables(s, d, "region").filter(col("r_name") === "ASIA")
      val nat = Tables(s, d, "nation")
        .join(broadcast(asia), col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val sup = Tables(s, d, "supplier")
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
      val ord = Tables(s, d, "orders")
        .filter(col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1997-01-01")
        .select("o_orderkey", "o_custkey")
      Tables(s, d, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(Tables(s, d, "customer").select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .groupBy("n_name")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // TPC-H Q10 shape (returned-item top customers): selective quarter +
    // returnflag filter, broadcast nation dim, revenue per customer,
    // top-20 via TakeOrdered.
    "q_j_tpch_q10" -> ((s, d) => {
      val ord = Tables(s, d, "orders")
        .filter(col("o_orderdate") >= "1996-10-01" && col("o_orderdate") < "1997-01-01")
        .select("o_orderkey", "o_custkey")
      val li = Tables(s, d, "lineitem").filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val cust = Tables(s, d, "customer")
        .join(broadcast(Tables(s, d, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey", "c_name", "c_acctbal", "n_name")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // TPC-H Q18 shape (large-volume customers): self-aggregated HAVING
    // filter on the fact table, then the surviving order keys join back —
    // the grouped-semi-join pattern; quantity sums exact-decimal so the
    // HAVING threshold cuts identically on any engine.
    "q_a_tpch_q18" -> ((s, d) => {
      val big = Tables(s, d, "lineitem").groupBy("l_orderkey")
        .agg(dsum(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 150.0)
      Tables(s, d, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(Tables(s, d, "customer").select("c_custkey", "c_name"),
          col("o_custkey") === col("c_custkey"))
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate",
          "o_totalprice", "sum_qty")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    }),

    // Funnel analysis: signup → view → click → purchase by first-event
    // times per user, one aggregation pass (min-when per stage), stage
    // counts as one row.
    "q_s_funnel" -> ((s, d) => {
      val e = Tables(s, d, "events")
      val firsts = e.groupBy("user_id").agg(
        min(when(col("event_type") === "view", col("ts"))).as("t_view"),
        min(when(col("event_type") === "click", col("ts"))).as("t_click"),
        min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
      firsts.agg(
        count(lit(1)).as("n_users"),
        count(when(col("t_view").isNotNull, 1)).as("n_view"),
        count(when(col("t_click") > col("t_view"), 1)).as("n_view_click"),
        count(when(col("t_click") > col("t_view") &&
          col("t_purchase") > col("t_click"), 1)).as("n_full_funnel"))
    }))

  val oracles: Map[String, String] = Map(
    "q_a_cube" ->
      s"""SELECT COALESCE(o_orderstatus, '(all)') AS status,
         | COALESCE(o_orderpriority, '(all)') AS priority,
         | CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
         | CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
         | COUNT(*) AS n, ${dsumSql("o_totalprice")} AS sum_price
         |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
         |ORDER BY g_status, g_priority, status, priority""".stripMargin,

    "q_w_lead_lag" ->
      """WITH e AS (SELECT user_id, event_type, event_id,
        |  CAST(ts AS TIMESTAMP) AS ts FROM events),
        |g AS (SELECT user_id, event_type,
        |  epoch_us(ts - LAG(ts) OVER w) AS gap_us,
        |  LAG(event_type) OVER w AS prev_type
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, COUNT(*) AS n_gaps,
        | CAST(SUM(gap_us) AS BIGINT) AS sum_gap_us,
        | MAX(gap_us) AS max_gap_us,
        | COUNT(CASE WHEN event_type = prev_type THEN 1 END) AS n_repeat
        |FROM g WHERE gap_us IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_j_outer" ->
      """WITH oc AS (SELECT o_custkey, COUNT(*) AS n_orders
        |  FROM orders GROUP BY o_custkey)
        |SELECT COALESCE(n_orders, 0) AS n_orders, COUNT(*) AS n_customers
        |FROM customer FULL OUTER JOIN oc ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_j_latest" ->
      """SELECT user_id, CAST(ts AS TIMESTAMP) AS last_ts,
        | event_type AS last_type, value AS last_value
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |  ORDER BY ts DESC, event_id DESC) AS rn FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q_m_hash_sample" ->
      s"""SELECT event_type, COUNT(*) AS n_total,
         | CAST(SUM(CASE WHEN substr(${hashKey("event_id", 7)}, 1, 2) <= '19'
         |   THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_x_edit_distance" ->
      """WITH p AS (SELECT doc_id,
        |  substr(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), 1, 80) AS prefix
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | CAST(levenshtein(a.prefix, b.prefix) AS INTEGER) AS edit_dist
        |FROM p a JOIN p b ON b.doc_id = a.doc_id + 1
        |WHERE a.doc_id < 100 ORDER BY id_a""".stripMargin,

    "q_x_rrf" -> {
      val toksList = QueryTokens.map(t => s"'$t'").mkString("[", ", ", "]")
      val normToks =
        """regexp_split_to_array(trim(lower(trim(
          |  regexp_replace(text, '\s+', ' ', 'g')))), '\s+')""".stripMargin
      val k1 = 1.2; val b = 0.75
      s"""WITH base AS (SELECT doc_id, len($normToks) AS dl,
         |    unnest($normToks) AS token FROM documents),
         |hits AS (SELECT * FROM base WHERE list_contains($toksList, token)),
         |btf AS (SELECT doc_id, token, dl, COUNT(*) AS tf FROM hits
         |  GROUP BY 1, 2, 3),
         |bdf AS (SELECT token, COUNT(*) AS df FROM btf GROUP BY 1),
         |corpus AS (SELECT COUNT(*) AS n_docs,
         |    CAST(SUM(len($normToks)) AS BIGINT) AS sum_dl FROM documents),
         |bsc AS (SELECT doc_id, CAST(SUM(CAST(
         |    (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
         |      / (CAST(df AS DOUBLE) + 0.5)
         |      * (CAST(tf AS DOUBLE) * ${k1 + 1.0})
         |      / (CAST(tf AS DOUBLE) + $k1 * (${1.0 - b} + $b
         |         * (CAST(dl AS DOUBLE)
         |            / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
         |    AS DECIMAL(30,12))) AS DOUBLE) AS score
         |  FROM btf JOIN bdf USING (token), corpus GROUP BY doc_id),
         |brank AS (SELECT doc_id, CAST(rn AS INTEGER) AS rank_a FROM (
         |    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
         |      AS rn FROM bsc) t
         |  WHERE rn <= 50),
         |ttf AS (SELECT doc_id, token, COUNT(*) AS tf FROM hits GROUP BY 1, 2),
         |tdf AS (SELECT token, COUNT(*) AS df FROM ttf GROUP BY 1),
         |tsc AS (SELECT doc_id, CAST(SUM(tf * ((corpus.n_docs * 1000000)
         |      // tdf.df)) AS BIGINT) AS score
         |  FROM ttf JOIN tdf USING (token), corpus GROUP BY doc_id),
         |trank AS (SELECT doc_id, CAST(rn AS INTEGER) AS rank_b FROM (
         |    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
         |      AS rn FROM tsc) t
         |  WHERE rn <= 50),
         |fused AS (SELECT doc_id, rank_a, rank_b,
         |    COALESCE(1.0 / (60.0 + CAST(rank_a AS DOUBLE)), 0.0)
         |    + COALESCE(1.0 / (60.0 + CAST(rank_b AS DOUBLE)), 0.0) AS rrf
         |  FROM brank FULL OUTER JOIN trank USING (doc_id))
         |SELECT CAST(rn AS INTEGER) AS rank, doc_id, rrf,
         |  rank_a AS bm25_rank, rank_b AS tfidf_rank
         |FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS rn
         |  FROM fused) t
         |WHERE rn <= 10 ORDER BY rank""".stripMargin
    },

    "q_x_tfidf_search" -> {
      val toksList = QueryTokens.map(t => s"'$t'").mkString("[", ", ", "]")
      s"""WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(
         |    trim(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))), '\\s+')) AS token
         |  FROM documents),
         |qt AS (SELECT doc_id, token FROM tok
         |  WHERE list_contains($toksList, token)),
         |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM qt GROUP BY 1, 2),
         |dfq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
         |nn AS (SELECT COUNT(*) AS n_docs FROM documents),
         |scored AS (SELECT doc_id,
         |    CAST(SUM(tf * ((nn.n_docs * 1000000) // dfq.df)) AS BIGINT) AS score
         |  FROM tf JOIN dfq USING (token), nn GROUP BY doc_id)
         |SELECT CAST(rn AS INTEGER) AS rank, doc_id, score
         |FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rn
         |  FROM scored) t
         |WHERE rn <= 10 ORDER BY rank""".stripMargin
    },

    "q_w_ntile" ->
      s"""WITH b AS (SELECT o_totalprice,
         |  NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
         |  FROM orders)
         |SELECT CAST(decile AS INTEGER) AS decile, COUNT(*) AS n,
         | MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
         | ${dsumSql("o_totalprice")} AS sum_price
         |FROM b GROUP BY decile ORDER BY decile""".stripMargin,

    "q_u_multi_distinct" ->
      """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_cust,
        | COUNT(DISTINCT o_orderpriority) AS n_prio, COUNT(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_a_incremental" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n,
         | ${dsumSql("o_totalprice")} AS sum_price
         |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_x_chunking" ->
      """SELECT doc_id, CAST(start // 150 AS INTEGER) AS chunk_id,
        | CAST(length(substr(text, start + 1, 200)) AS INTEGER) AS chunk_len,
        | md5(substr(text, start + 1, 200)) AS chunk_md5
        |FROM (SELECT doc_id, text,
        |  unnest(range(0, greatest(length(text), 1), 150)) AS start
        |  FROM documents WHERE doc_id < 50) t
        |ORDER BY doc_id, chunk_id""".stripMargin,

    "q_x_seq_pack" ->
      """WITH t AS (SELECT doc_id,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS n_tok
        |  FROM documents),
        |c AS (SELECT doc_id, n_tok, SUM(n_tok) OVER (ORDER BY doc_id
        |  ROWS UNBOUNDED PRECEDING) AS cum_tok FROM t)
        |SELECT CAST((cum_tok - n_tok) // 2000 AS INTEGER) AS batch,
        | COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS batch_tokens,
        | MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_j_bloom" ->
      s"""SELECT COUNT(*) AS n, ${dsumSql("l_extendedprice")} AS sum_price
         |FROM lineitem WHERE l_orderkey IN
         | (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000.0)""".stripMargin,

    "q_w8_range_window" ->
      """WITH e AS (SELECT user_id, event_id, value,
        |  CAST(ts AS TIMESTAMP) AS ts FROM events)
        |SELECT user_id, event_id, ts,
        | COUNT(*) OVER w AS n_30m,
        | CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER w AS DOUBLE) AS sum_30m
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |  RANGE BETWEEN INTERVAL 30 MINUTE PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts, event_id""".stripMargin,

    "q_w9_percent_rank" ->
      """SELECT s_suppkey, s_acctbal,
        | PERCENT_RANK() OVER w AS pr, CUME_DIST() OVER w AS cd
        |FROM supplier
        |WINDOW w AS (ORDER BY s_acctbal, s_suppkey)
        |ORDER BY s_suppkey""".stripMargin,

    "q_j_nullsafe" ->
      """WITH a AS (SELECT CASE WHEN event_type != 'error' THEN event_type END AS k,
        |  COUNT(*) AS n_a FROM events GROUP BY 1),
        |b AS (SELECT CASE WHEN event_type != 'error' THEN event_type END AS k,
        |  COUNT(*) AS n_b FROM events WHERE value > 100 GROUP BY 1)
        |SELECT COALESCE(a.k, '(null)') AS k, n_a, n_b
        |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
        |ORDER BY k""".stripMargin,

    "q_u_except_intersect" ->
      """WITH hi AS (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_quantity > 45),
        |disc AS (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_discount > 0.05)
        |SELECT 'except' AS op, COUNT(*) AS n,
        |  CAST(SUM(l_orderkey) AS BIGINT) AS key_sum
        |FROM (SELECT * FROM hi EXCEPT SELECT * FROM disc) t
        |UNION ALL
        |SELECT 'intersect', COUNT(*), CAST(SUM(l_orderkey) AS BIGINT)
        |FROM (SELECT * FROM hi INTERSECT SELECT * FROM disc) t
        |ORDER BY op""".stripMargin,

    "q_x_feature_hash" -> {
      // 8-hex-char md5 prefix → integer via nibble positional sum (exact:
      // < 16^8 = 2^32 fits BIGINT), mod 256 — mirrors conv(md5[1:8],16,10)
      val nibbleSum = (1 to 8).map(i =>
        s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * ${math.pow(16, 8 - i).toLong}")
        .mkString(" + ")
      s"""WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(
         |    trim(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))), '\\s+')) AS token
         |  FROM documents),
         |hashed AS (SELECT token, md5(token) AS h FROM tok),
         |bucketed AS (SELECT token, ($nibbleSum) % 256 AS bucket FROM hashed)
         |SELECT CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n,
         | COUNT(DISTINCT token) AS n_tokens
         |FROM bucketed GROUP BY bucket ORDER BY bucket""".stripMargin
    },

    "q_j_tpch_q5" ->
      s"""SELECT n_name,
         | ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
         |WHERE r_name = 'ASIA'
         |  AND CAST(o_orderdate AS TIMESTAMP) >= TIMESTAMP '1996-01-01'
         |  AND CAST(o_orderdate AS TIMESTAMP) < TIMESTAMP '1997-01-01'
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name""".stripMargin,

    "q_j_tpch_q10" ->
      s"""SELECT c_custkey, c_name, c_acctbal, n_name,
         | ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND CAST(o_orderdate AS TIMESTAMP) >= TIMESTAMP '1996-10-01'
         |  AND CAST(o_orderdate AS TIMESTAMP) < TIMESTAMP '1997-01-01'
         |GROUP BY c_custkey, c_name, c_acctbal, n_name
         |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q_a_tpch_q18" ->
      s"""WITH big AS (SELECT l_orderkey,
         |  ${dsumSql("l_quantity")} AS sum_qty
         |  FROM lineitem GROUP BY l_orderkey
         |  HAVING ${dsumSql("l_quantity")} > 150.0)
         |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
         | sum_qty
         |FROM orders
         |JOIN big ON o_orderkey = l_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    "q_s_funnel" ->
      """WITH f AS (SELECT user_id,
        |  MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
        |  MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
        |  MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        |  FROM events GROUP BY user_id)
        |SELECT COUNT(*) AS n_users,
        | COUNT(CASE WHEN t_view IS NOT NULL THEN 1 END) AS n_view,
        | COUNT(CASE WHEN t_click > t_view THEN 1 END) AS n_view_click,
        | COUNT(CASE WHEN t_click > t_view AND t_purchase > t_click THEN 1 END)
        |   AS n_full_funnel
        |FROM f""".stripMargin)
}
