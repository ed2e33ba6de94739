package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.Num.dsum
import graft.text.TextOps

/** Warehouse-maintenance and corpus-statistics operators: SCD2 dimension
  * history construction, PMI bigram collocations (log-free integer-ratio
  * scoring), and a calendar-hierarchy ROLLUP — each one or two shuffles,
  * each with a bit-exact DuckDB oracle.
  */
object WarehouseQueries extends QueryPack {
  import Sql._

  /** The symmetrized, src-partitioned customer↔supplier bipartite edge
    * relation that q_g_communities and q_g_pagerank BOTH iterate over —
    * [[Shared.pinned]] so the lineitem⋈orders build + symmetrize shuffle
    * runs once per (session, dir), not per query, and survives the Bench
    * loop's per-query sweep. */
  private def bipartiteSym(s: SparkSession, d: String): DataFrame =
    Shared.pinned(s, "bipartite_sym|" + d) {
      val edges = Tables(s, d, "lineitem").select("l_orderkey", "l_suppkey")
        .join(Tables(s, d, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      // even/odd encoding ⇒ endpoint spaces disjoint ⇒ the symmetrized
      // union is duplicate-free without a second dedup shuffle
      graft.ops.Graph.symmetrizePlan(edges, "src", "dst",
        edgesDistinct = true)
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // SCD2 (type-2 slowly-changing dimension) build: each event is a state
    // change of the user's `value`; validity = [ts, next ts), open-ended
    // for the current row. One shuffle on the dimension key; the window is
    // partitioned, so the build parallelizes per key at any scale.
    "q_j_scd2" -> ((s, d) =>
      graft.ops.Temporal.scd2(
          Tables(s, d, "events")
            .select(col("user_id"), col("event_id"), col("value"), col("ts")),
          "user_id", "ts", "event_id")
        .orderBy("user_id", "valid_from", "event_id")),

    // Z-order (Morton) clustering key: interleave the bits of two bucketed
    // dimensions so one range-partitioned sort co-locates rows that are
    // close in BOTH — the layout that makes parquet min/max pruning work
    // for filters on either column. Pure integer bit arithmetic (io/Layout
    // .zValue), verified here as a per-bucket histogram of the z-space.
    "q_o_zorder" -> ((s, d) => {
      val a = pmod(col("o_custkey"), lit(1024L))
      val b = pmod(datediff(col("o_orderdate"),
        lit("1992-01-01").cast("date")).cast("long"), lit(1024L))
      Tables(s, d, "orders")
        .select(graft.io.Layout.zValue(a, b, 10).as("z"))
        .withColumn("bucket", expr("z div 65536"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), min("z").as("min_z"), max("z").as("max_z"))
        .orderBy("bucket")
    }),

    // PMI bigram collocations over the document corpus, log-free: PMI =
    // log2(n_ab·N / (n_a·n_b)) is monotone in the integer ratio, so the
    // ranking uses the exact ratio and never calls libm. Unigram counts
    // join the bigram relation on the token key (shuffle joins — the
    // vocabulary is fact-sized at corpus scale); min-support prunes before
    // the joins; final top-30 via TakeOrdered + broadcast rank.
    "q_x_pmi_bigrams" -> ((s, d) =>
      graft.ops.Ranking.topKRanked(
          TextOps.pmiBigrams(Tables(s, d, "documents"), "text", minCount = 5),
          Seq(("pmi_ratio", true), ("a", false), ("b", false)), 30)
        .orderBy("rank")),

    // PageRank over the bipartite customer↔supplier co-order graph —
    // an iterative graph algorithm expressed as three join+agg rounds
    // (Graph.pageRank). Node ids disambiguate the two key spaces
    // (2·custkey / 2·suppkey+1); output = top-20 suppliers by rank.
    // Decimal-quantized contributions make the rank vector bit-exact on
    // any engine, so even the 3-hop fixpoint is oracle-hash-checkable.
    // Synchronous label-propagation communities on the customer-supplier
    // bipartite graph (same even/odd-encoded edge relation as pagerank):
    // 3 deterministic rounds, then the top-20 communities by size with
    // member-id sums pinning the exact membership.
    "q_g_communities" -> ((s, d) => {
      val comms = graft.ops.Graph
        .labelPropagationPre(bipartiteSym(s, d), rounds = 3)
        .groupBy(col("label").as("community"))
        .agg(count(lit(1)).as("n_nodes"),
          sum("node").cast("long").as("node_sum"))
      graft.ops.Ranking.topKRanked(comms,
          Seq("n_nodes" -> true, "community" -> false), 20)
        .select("rank", "community", "n_nodes", "node_sum")
        .orderBy("rank")
    }),

    "q_g_pagerank" -> ((s, d) => {
      graft.ops.Graph.pageRankPre(bipartiteSym(s, d), iters = 3)
        .filter(col("node") % 2 === 1)
        .select(expr("(node - 1) div 2").as("s_suppkey"), col("rank"))
        .orderBy(col("rank").desc, col("s_suppkey"))
        .limit(20)
    }),

    // Robust outlier detection per group: median/MAD z-scores (the
    // outlier rule that survives the skew that wrecks mean/stddev
    // fences). Exact `percentile` both passes (≡ DuckDB QUANTILE_CONT),
    // fitted statistics broadcast back — never a global sort.
    "q_a_mad_outliers" -> ((s, d) => {
      val e = Tables(s, d, "events").select(col("event_type"), col("value"))
      val med = e.groupBy("event_type")
        .agg(expr("percentile(value, 0.5)").as("med"))
      val dev = e.join(broadcast(med), Seq("event_type"))
        .withColumn("dev", abs(col("value") - col("med")))
      val mad = dev.groupBy("event_type")
        .agg(expr("percentile(dev, 0.5)").as("mad"))
      dev.join(broadcast(mad), Seq("event_type"))
        .withColumn("z",
          lit(0.6745) * (col("value") - col("med")) / col("mad"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), max(col("med")).as("med"),
          max(col("mad")).as("mad"),
          sum(when(abs(col("z")) > 3.5, 1L).otherwise(0L)).as("n_outliers"))
        .orderBy("event_type")
    }),

    // Stratified class-rebalancing sample: a fixed per-class keep rate
    // (downsampling the majority classes), decided by the same md5-uniform
    // trick as q_x_weighted_sample — no RNG state, identical keep-set on
    // any cluster size. The class-rebalance stage of a training pipeline.
    "q_m_stratified_sample" -> ((s, d) => {
      val uInt = conv(substring(
        graft.ml.Split.hashKey(col("event_id"), 23), 1, 8), 16, 10).cast("long")
      val frac = when(col("event_type") === "purchase", 1.0)
        .when(col("event_type") === "signup", 0.5)
        .when(col("event_type") === "click", 0.25)
        .when(col("event_type") === "view", 0.125)
        .otherwise(0.0625)
      Tables(s, d, "events")
        .select(col("event_type"),
          (uInt < floor(frac * 4294967296.0).cast("long")).cast("int").as("keep"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_total"),
          sum(col("keep")).cast("long").as("n_kept"),
          (sum(col("keep")).cast("double") / count(lit(1)).cast("double"))
            .as("realized_rate"))
        .orderBy("event_type")
    }),

    // Association rules over co-purchase baskets: support / confidence /
    // lift, all integer-ratio exact (confidence = n_ab/n_a, lift =
    // n_ab·N/(n_a·n_b) — the PMI discipline, no libm). Baskets dedup to
    // (order, item) first so supports count ORDERS; the pair relation is
    // bounded by per-order basket size, never corpus-quadratic; top-20
    // rules via TakeOrdered + broadcast rank.
    "q_j_assoc_rules" -> ((s, d) => {
      // NOTE (r14, measured and kept AS-IS): the plan recomputes the lo
      // scan+distinct 4x and the pair join+aggregate 2x (once per union
      // branch — plans/r14/q_j_assoc_rules_before.txt), but pinning them
      // measured WORSE at bench scale: lazy-checkpointing lo+pairs 2.51
      // -> 3.50 s, pairs alone 2.51 -> 2.66 s (scratch best-of-5, same
      // session) — the duplicated subtrees are cheap broadcast-hash
      // chains while the checkpoint serializes a 600k-row materialization
      // onto the critical path. At a scale where the pair aggregate
      // dominates, revisit pinning `pairs` only.
      val lo = Tables(s, d, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("item"))
        .distinct()
      val nRow = lo.agg(countDistinct(col("ok")).cast("double").as("__n"))
      val isup = lo.groupBy("item").agg(count(lit(1)).as("n_item"))
      val pairs = lo.toDF("ok", "pa").join(lo.toDF("ok", "pb"), Seq("ok"))
        .filter(col("pa") < col("pb"))
        .groupBy("pa", "pb").agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 2)
      val rules = pairs
        .select(col("pa").as("antecedent"), col("pb").as("consequent"), col("n_ab"))
        .union(pairs
          .select(col("pb").as("antecedent"), col("pa").as("consequent"), col("n_ab")))
        .join(isup.select(col("item").as("antecedent"), col("n_item").as("n_ante")),
          Seq("antecedent"))
        .join(isup.select(col("item").as("consequent"), col("n_item").as("n_cons")),
          Seq("consequent"))
        .crossJoin(broadcast(nRow))
        .select(col("antecedent"), col("consequent"), col("n_ab"),
          col("n_ante"), col("n_cons"),
          (col("n_ab").cast("double") / col("n_ante").cast("double"))
            .as("confidence"),
          ((col("n_ab").cast("double") * col("__n")) /
            (col("n_ante").cast("double") * col("n_cons").cast("double")))
            .as("lift"))
      graft.ops.Ranking.topKRanked(rules,
          Seq(("lift", true), ("confidence", true),
            ("antecedent", false), ("consequent", false)), 20)
        .orderBy("rank")
    }),

    // Per-document keyword extraction: top-3 terms by integer-scaled
    // tf·idf (idf = (N·1e6) DIV df over the FULL corpus — exact integers,
    // no libm), ranked inside a doc-partitioned window. The distributed
    // shape: corpus-wide df via one token-key aggregation, scores only for
    // the requested doc subset.
    "q_x_keywords" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val toks = docs.select(col("doc_id"),
        explode(TextOps.tokens(TextOps.normalizeText(col("text")))).as("token"))
      val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val dfAll = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf.filter(col("doc_id") < 30)
        .join(dfAll, Seq("token"))
        .crossJoin(broadcast(n))
        .withColumn("score",
          (col("tf") * expr("(n_docs * 1000000) DIV df")).cast("long"))
      graft.ops.Ranking.topNPerGroup(scored, Seq("doc_id"),
          Seq(col("score").desc, col("token").asc), 3, "rank")
        .select(col("doc_id"), col("rank"), col("token"), col("tf"),
          col("df"), col("score"))
        .orderBy("doc_id", "rank")
    }),

    // Gini diversity (impurity) of the language mix per source: chosen
    // over Shannon entropy because 1 − Σ(nᵢ/n)² is RATIONAL — integer
    // counts squared through exact decimals, one double division at the
    // end — where entropy's per-term logs would re-open the 1-ulp libm
    // divergence the geometric-mean rework closed. Two grouped passes,
    // both key-bounded.
    "q_a_gini_diversity" -> ((s, d) => {
      val c = Tables(s, d, "documents").groupBy("source", "lang")
        .agg(count(lit(1)).as("n_sl"))
      c.groupBy("source")
        .agg(sum(col("n_sl")).as("n"),
          sum(col("n_sl").cast(org.apache.spark.sql.types.DecimalType(19, 0)) *
            col("n_sl").cast(org.apache.spark.sql.types.DecimalType(19, 0)))
            .cast("double").as("__ss"))
        .select(col("source"), col("n"),
          (lit(1.0) - col("__ss") /
            (col("n").cast("double") * col("n").cast("double"))).as("gini"))
        .orderBy("source")
    }),

    // Calendar-hierarchy ROLLUP (year → month → grand total) — the
    // complement of q_a_cube/q_a_grouping_sets: one Expand-based pass,
    // grouping() flags disambiguating genuine NULLs from subtotal rows.
    "q_a_rollup_time" -> ((s, d) =>
      Tables(s, d, "orders")
        .withColumn("y", year(col("o_orderdate")).cast("long"))
        .withColumn("m", month(col("o_orderdate")).cast("long"))
        .rollup(col("y"), col("m"))
        .agg(grouping(col("y")).cast("int").as("g_y"),
          grouping(col("m")).cast("int").as("g_m"),
          count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .select(coalesce(col("y"), lit(-1L)).as("y"),
          coalesce(col("m"), lit(-1L)).as("m"),
          col("g_y"), col("g_m"), col("n"), col("sum_price"))
        .orderBy("g_y", "g_m", "y", "m")))

  // normalized-token fragments identical to TextSimQueries' (TextOps
  // normalizeText → whitespace split)
  private val normSql = """lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"""
  private val normToksSql = s"""regexp_split_to_array(trim($normSql), '\\s+')"""

  val oracles: Map[String, String] = Map(
    "q_o_zorder" -> {
      val terms = (0 until 10).flatMap(i => Seq(
        s"((((o_custkey % 1024) >> $i) & 1) << ${2 * i})",
        s"((((datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 1024) >> $i) & 1) << ${2 * i + 1})"))
        .mkString(" + ")
      s"""WITH z AS (SELECT ($terms) AS z FROM orders)
         |SELECT z // 65536 AS bucket, COUNT(*) AS n,
         |  MIN(z) AS min_z, MAX(z) AS max_z
         |FROM z GROUP BY 1 ORDER BY bucket""".stripMargin
    },

    "q_j_scd2" ->
      """SELECT user_id, event_id, value,
        | CAST(ts AS TIMESTAMP) AS valid_from,
        | LEAD(CAST(ts AS TIMESTAMP)) OVER
        |   (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
        |   AS valid_to,
        | CAST(LEAD(CAST(ts AS TIMESTAMP)) OVER
        |   (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
        |   IS NULL AS INT) AS is_current
        |FROM events
        |ORDER BY user_id, valid_from, event_id""".stripMargin,

    "q_x_pmi_bigrams" ->
      s"""WITH t AS (SELECT $normToksSql AS toks FROM documents),
         |u AS (SELECT unnest(toks) AS tok FROM t),
         |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_total FROM u),
         |uc AS (SELECT tok, COUNT(*) AS n_tok FROM u GROUP BY tok),
         |pairs AS (SELECT unnest(list_transform(range(0, len(toks) - 1),
         |    i -> {'a': toks[i + 1], 'b': toks[i + 2]})) AS p FROM t),
         |ab AS (SELECT p.a AS a, p.b AS b, COUNT(*) AS n_ab
         |  FROM pairs GROUP BY 1, 2 HAVING COUNT(*) >= 5),
         |scored AS (SELECT a, b, n_ab, ua.n_tok AS n_a, ub.n_tok AS n_b,
         |  (CAST(n_ab AS DOUBLE) * n_total) /
         |    (CAST(ua.n_tok AS DOUBLE) * CAST(ub.n_tok AS DOUBLE))
         |    AS pmi_ratio
         |  FROM ab
         |  JOIN uc ua ON ab.a = ua.tok
         |  JOIN uc ub ON ab.b = ub.tok
         |  CROSS JOIN n)
         |SELECT a, b, n_ab, n_a, n_b, pmi_ratio,
         | CAST(rn AS INT) AS rank
         |FROM (SELECT *, ROW_NUMBER() OVER
         |    (ORDER BY pmi_ratio DESC, a, b) AS rn
         |  FROM scored) r
         |WHERE rn <= 30 ORDER BY rank""".stripMargin,

    "q_g_communities" -> {
      // one synchronous LPA round: neighbor-label counts → per-node
      // (count DESC, label ASC) argmax — mirrors Graph.labelPropagation
      def round(prev: String, cur: String): String =
        s"""$cur AS (SELECT node, label FROM (
           |  SELECT s.dst AS node, r.label, COUNT(*) AS c,
           |    ROW_NUMBER() OVER (PARTITION BY s.dst
           |      ORDER BY COUNT(*) DESC, r.label) AS rn
           |  FROM sym s JOIN $prev r ON s.src = r.node
           |  GROUP BY s.dst, r.label) z WHERE rn = 1)""".stripMargin
      s"""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src,
         |    l_suppkey * 2 + 1 AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |sym AS (SELECT src, dst FROM e0
         |  UNION ALL SELECT dst AS src, src AS dst FROM e0),
         |l0 AS (SELECT DISTINCT src AS node, src AS label FROM sym),
         |${round("l0", "l1")},
         |${round("l1", "l2")},
         |${round("l2", "l3")},
         |cm AS (SELECT label AS community, COUNT(*) AS n_nodes,
         |    CAST(SUM(node) AS BIGINT) AS node_sum
         |  FROM l3 GROUP BY 1)
         |SELECT CAST(rn AS INTEGER) AS rank, community, n_nodes, node_sum
         |FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY n_nodes DESC,
         |    community) AS rn FROM cm) t
         |WHERE rn <= 20 ORDER BY rank""".stripMargin
    },

    "q_g_pagerank" -> {
      // one unrolled power-iteration round, mirroring Graph.pageRank's
      // join → decimal-quantized agg → teleport+damp select exactly
      def round(prev: String, cur: String): String =
        s"""$cur AS (SELECT node, 0.15 / nn + 0.85 * agg AS rank
           |  FROM (SELECT s.dst AS node,
           |      CAST(SUM(CAST(r.rank / d.deg AS DECIMAL(30,12))) AS DOUBLE)
           |        AS agg
           |    FROM sym s
           |    JOIN $prev r ON s.src = r.node
           |    JOIN deg d ON s.src = d.src
           |    GROUP BY s.dst) g, n)""".stripMargin
      s"""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src,
         |    l_suppkey * 2 + 1 AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |sym AS (SELECT src, dst FROM e0
         |  UNION SELECT dst AS src, src AS dst FROM e0),
         |deg AS (SELECT src, COUNT(*) AS deg FROM sym GROUP BY src),
         |nodes AS (SELECT DISTINCT src AS node FROM sym),
         |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn FROM nodes),
         |r0 AS (SELECT node, 1.0 / nn AS rank FROM nodes, n),
         |${round("r0", "r1")},
         |${round("r1", "r2")},
         |${round("r2", "r3")}
         |SELECT (node - 1) // 2 AS s_suppkey, rank
         |FROM r3 WHERE node % 2 = 1
         |ORDER BY rank DESC, s_suppkey LIMIT 20""".stripMargin
    },

    "q_a_mad_outliers" ->
      """WITH m AS (SELECT event_type, QUANTILE_CONT(value, 0.5) AS med
        |  FROM events GROUP BY event_type),
        |d AS (SELECT e.event_type, value, med, abs(value - med) AS dev
        |  FROM events e JOIN m USING (event_type)),
        |md AS (SELECT event_type, QUANTILE_CONT(dev, 0.5) AS mad
        |  FROM d GROUP BY event_type)
        |SELECT d.event_type, COUNT(*) AS n, MAX(med) AS med, MAX(mad) AS mad,
        | CAST(SUM(CASE WHEN abs(0.6745 * (value - med) / mad) > 3.5
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM d JOIN md USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin,

    "q_m_stratified_sample" -> {
      // 8-hex md5 prefix → integer via nibble positional sum, mirroring
      // conv(md5[1:8], 16, 10) (same trick as q_x_weighted_sample)
      val nibbleSum = (1 to 8).map(i =>
        s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * ${math.pow(16, 8 - i).toLong}")
        .mkString(" + ")
      s"""WITH t AS (SELECT event_type, ${hashKey("event_id", 23)} AS h,
         |  CASE WHEN event_type = 'purchase' THEN 1.0
         |    WHEN event_type = 'signup' THEN 0.5
         |    WHEN event_type = 'click' THEN 0.25
         |    WHEN event_type = 'view' THEN 0.125
         |    ELSE 0.0625 END AS frac
         |  FROM events),
         |k AS (SELECT event_type,
         |  CASE WHEN ($nibbleSum) < CAST(floor(frac * 4294967296.0) AS BIGINT)
         |    THEN 1 ELSE 0 END AS keep
         |  FROM t)
         |SELECT event_type, COUNT(*) AS n_total,
         | CAST(SUM(keep) AS BIGINT) AS n_kept,
         | CAST(SUM(keep) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         |   AS realized_rate
         |FROM k GROUP BY event_type ORDER BY event_type""".stripMargin
    },

    "q_j_assoc_rules" ->
      """WITH lo AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS item
        |  FROM lineitem),
        |n AS (SELECT CAST(COUNT(DISTINCT ok) AS DOUBLE) AS nn FROM lo),
        |isup AS (SELECT item, COUNT(*) AS n_item FROM lo GROUP BY item),
        |p AS (SELECT a.item AS pa, b.item AS pb, COUNT(*) AS n_ab
        |  FROM lo a JOIN lo b ON a.ok = b.ok AND a.item < b.item
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |r AS (SELECT pa AS antecedent, pb AS consequent, n_ab FROM p
        |  UNION ALL SELECT pb, pa, n_ab FROM p),
        |scored AS (SELECT antecedent, consequent, n_ab,
        |    ua.n_item AS n_ante, uc.n_item AS n_cons,
        |    CAST(n_ab AS DOUBLE) / CAST(ua.n_item AS DOUBLE) AS confidence,
        |    (CAST(n_ab AS DOUBLE) * nn) /
        |      (CAST(ua.n_item AS DOUBLE) * CAST(uc.n_item AS DOUBLE)) AS lift
        |  FROM r
        |  JOIN isup ua ON r.antecedent = ua.item
        |  JOIN isup uc ON r.consequent = uc.item
        |  CROSS JOIN n)
        |SELECT antecedent, consequent, n_ab, n_ante, n_cons, confidence,
        | lift, CAST(rn AS INT) AS rank
        |FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY lift DESC,
        |    confidence DESC, antecedent, consequent) AS rn
        |  FROM scored) t
        |WHERE rn <= 20 ORDER BY rank""".stripMargin,

    "q_x_keywords" ->
      s"""WITH tok AS (SELECT doc_id, unnest($normToksSql) AS token
         |  FROM documents),
         |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
         |dfa AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
         |nn AS (SELECT COUNT(*) AS n_docs FROM documents),
         |scored AS (SELECT doc_id, token, tf, df,
         |    CAST(tf * ((nn.n_docs * 1000000) // df) AS BIGINT) AS score
         |  FROM tf JOIN dfa USING (token), nn
         |  WHERE doc_id < 30),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, token) AS rn FROM scored)
         |SELECT doc_id, CAST(rn AS INT) AS rank, token, tf, df, score
         |FROM r WHERE rn <= 3 ORDER BY doc_id, rank""".stripMargin,

    "q_a_gini_diversity" ->
      """WITH c AS (SELECT source, lang, COUNT(*) AS n_sl
        |  FROM documents GROUP BY source, lang)
        |SELECT source, CAST(SUM(n_sl) AS BIGINT) AS n,
        | 1.0 - CAST(SUM(CAST(n_sl AS DECIMAL(19,0))
        |     * CAST(n_sl AS DECIMAL(19,0))) AS DOUBLE)
        |   / (CAST(SUM(n_sl) AS DOUBLE) * CAST(SUM(n_sl) AS DOUBLE)) AS gini
        |FROM c GROUP BY source ORDER BY source""".stripMargin,

    "q_a_rollup_time" ->
      s"""WITH o AS (SELECT
         |  CAST(year(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT) AS y,
         |  CAST(month(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT) AS m,
         |  o_totalprice FROM orders)
         |SELECT COALESCE(y, -1) AS y, COALESCE(m, -1) AS m,
         | CAST(GROUPING(y) AS INTEGER) AS g_y,
         | CAST(GROUPING(m) AS INTEGER) AS g_m,
         | COUNT(*) AS n, ${dsumSql("o_totalprice")} AS sum_price
         |FROM o GROUP BY ROLLUP(y, m)
         |ORDER BY g_y, g_m, y, m""".stripMargin)
}
