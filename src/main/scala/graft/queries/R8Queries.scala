package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ml.GaussianNb

/** Round-8 queries: the model layer joins the hash-exact oracle club.
  *
  * Every L-family operator so far was verified by property tests (fold
  * bands, parity vs the reference's published levels) because model fits
  * accumulate floating-point moments in engine-specific order. The
  * from-scratch Gaussian NB breaks that barrier: features quantize to
  * integer-valued doubles (floor(x·1e6 + 0.5), the int8/PQ discipline)
  * and moment sums accumulate in BIGINT — order-independent AND exact,
  * with int64 → double casts that round identically on every IEEE
  * engine (wide-DECIMAL → double casts measurably differ in the last
  * ulp between Spark and DuckDB, which is why the decimal-sum
  * discipline is NOT enough here). Every fitted parameter is then a
  * fixed sequence of IEEE scalar ops on bit-identical inputs, so DuckDB
  * replays the ENTIRE fit — priors, means, smoothed variances —
  * bit-for-bit, and the prediction argmax on top of it is replayed as a
  * window rank. Two queries:
  *
  *  - q_l_gnb_params: the fitted parameter table itself, hash-exact
  *    (no transcendentals anywhere in the fit — pure +,*,/,max).
  *  - q_l_gnb_confusion: fit + score + argmax + confusion counts. The
  *    log-likelihood constant uses ln(), where JVM Math.log and libm may
  *    legally differ by 1 ulp — integer confusion counts absorb that
  *    (argmax flips would need a ~1e-15 score margin; MlSpec audits the
  *    actual margins at 9+ orders of magnitude above that).
  *
  * Ref: cross-validation/wine_analysis.py:81 (GaussianNB in the model
  * tournament); the engine form fits on the embeddings table (labels are
  * independent of the vectors, so the confusion matrix is spread — the
  * point is determinism of the fit/score pipeline, not model quality).
  */
object R8Queries extends QueryPack {
  private val D = 4 // embedding dims used as NB features

  def queries: Map[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
    "q_l_gnb_params" -> ((s, d) => {
      val base = featureFrame(s, d)
      val stats = GaussianNb.fitArrayExact(base, "x", "y", D)
      import s.implicits._
      stats.map(cs => (cs.label.toInt, cs.prior,
          cs.mean(0), cs.mean(1), cs.mean(2), cs.mean(3),
          cs.variance(0), cs.variance(1), cs.variance(2), cs.variance(3)))
        .toDF("label", "prior", "m0", "m1", "m2", "m3",
          "v0", "v1", "v2", "v3")
        .orderBy("label")
    }),

    "q_l_gnb_confusion" -> ((s, d) => {
      val base = featureFrame(s, d)
      val stats = GaussianNb.fitArrayExact(base, "x", "y", D)
      base.withColumn("prediction", GaussianNb.predictExpr(stats, "x"))
        .groupBy(col("y").cast("int").as("label"),
          col("prediction").cast("int").as("prediction"))
        .agg(count(lit(1)).as("n"))
        .orderBy("label", "prediction")
    }),

    // k-NN classification (reference: KNeighborsClassifier(n=11) in the
    // wine tournament; SURVEY §7.3 listed KNN as the one registry family
    // without an engine form): exact-cosine brute top-11 + integer
    // majority vote, ties to the smallest label — hash-exact end to end.
    "q_l_knn_predict" -> ((s, d) => {
      val e = Tables(s, d, "embeddings")
      graft.ml.Knn.predictWithTruth(e, e.filter(col("vec_id") < 25), k = 11)
        .select(col("query_id"), col("true_label").cast("int").as("true_label"),
          col("prediction").cast("int").as("prediction"))
        .orderBy("query_id")
    }))

  /** Features quantized to INTEGER-VALUED doubles via floor(x·1e6 + 0.5)
    * (the int8/PQ discipline — identical IEEE ops on any engine): the
    * decimal moment casts in the exact fit are then EXACT instead of
    * rounding at the 12th decimal, where Spark (HALF_UP) and DuckDB
    * (half-even) legally disagree — measured: one of 140 float-backed
    * moment sums at sf0.1 differed by 4 quanta before quantization. */
  private def featureFrame(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables(s, d, "embeddings").select(
      col("vec_id"),
      col("label").cast("double").as("y"),
      array((0 until D).map(i =>
        floor(element_at(col("embedding"), i + 1).cast("double") * lit(1e6)
          + lit(0.5)).cast("double")): _*).as("x"))

  // ---- oracle SQL ---------------------------------------------------

  /** Shared CTE chain computing the bit-exact fit: decimal moment sums
    * per class + ungrouped (for the sklearn var_smoothing epsilon), then
    * parameters via the IDENTICAL scalar-op sequence the Scala fit runs
    * (association order pinned by explicit parentheses). */
  private val fitCtes: String = {
    def x(i: Int) =
      s"floor(CAST(embedding[${i + 1}] AS DOUBLE)*1000000.0 + 0.5)"
    val baseCols = (0 until D).map(i => s"${x(i)} AS x$i").mkString(", ")
    def moments(prefix: String) = (0 until D).map(i =>
      s"CAST(SUM(CAST(x$i AS BIGINT)) AS DOUBLE) AS ${prefix}s$i, " +
        s"CAST(SUM(CAST(x$i*x$i AS BIGINT)) AS DOUBLE) AS ${prefix}ss$i")
      .mkString(",\n    ")
    val gv = (0 until D).map(i =>
      s"greatest(gss$i/total - (gs$i/total)*(gs$i/total), 0)").mkString(",\n      ")
    val vm = (0 until D).map(i =>
      s"c.s$i/c.n AS m$i, " +
        s"greatest(c.ss$i/c.n - (c.s$i/c.n)*(c.s$i/c.n), 0) + g.eps AS v$i")
      .mkString(",\n    ")
    s"""base AS (SELECT vec_id, CAST(label AS DOUBLE) AS y, $baseCols
       |  FROM embeddings),
       |cls AS (SELECT y AS label, CAST(count(*) AS DOUBLE) AS n,
       |    ${moments("")}
       |  FROM base GROUP BY y),
       |gm AS (SELECT CAST(count(*) AS DOUBLE) AS total,
       |    ${moments("g")}
       |  FROM base),
       |geps AS (SELECT total, 1e-9 * greatest(
       |      $gv) AS eps FROM gm),
       |prm AS (SELECT c.label, c.n / g.total AS prior,
       |    $vm
       |  FROM cls c CROSS JOIN geps g)""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "q_l_gnb_params" ->
      s"""WITH $fitCtes
         |SELECT CAST(label AS INTEGER) AS label, prior,
         |  m0, m1, m2, m3, v0, v1, v2, v3
         |FROM prm ORDER BY label""".stripMargin,

    "q_l_gnb_confusion" -> {
      // score with the exact Scala association order:
      // const = ln(prior) - 0.5*((((l0+l1)+l2)+l3)), l_i = ln((2*pi())*v_i)
      // quad  = (((q0+q1)+q2)+q3), q_i = (x_i-m_i)*(x_i-m_i)*(1.0/v_i)
      // score = const - quad*0.5; argmax ties to the lowest label
      def l(i: Int) = s"ln((2*pi())*p.v$i)"
      def q(i: Int) = s"(b.x$i-p.m$i)*(b.x$i-p.m$i)*(1.0/p.v$i)"
      val lsum = s"(((${l(0)}+${l(1)})+${l(2)})+${l(3)})"
      val qsum = s"(((${q(0)}+${q(1)})+${q(2)})+${q(3)})"
      s"""WITH $fitCtes,
         |sc AS (SELECT b.vec_id, b.y, p.label,
         |    (ln(p.prior) - 0.5*$lsum) - $qsum*0.5 AS score
         |  FROM base b CROSS JOIN prm p),
         |pred AS (SELECT vec_id, y, label AS prediction,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY score DESC, label) AS rn
         |  FROM sc)
         |SELECT CAST(y AS INTEGER) AS label,
         |  CAST(prediction AS INTEGER) AS prediction, count(*) AS n
         |FROM pred WHERE rn = 1
         |GROUP BY 1, 2 ORDER BY label, prediction""".stripMargin
    },

    // Replays the q_v_knn_brute decimal-exact cosine chain at k=11, then
    // the integer vote + (votes DESC, label ASC) argmax.
    "q_l_knn_predict" ->
      s"""WITH pairs AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id
         |  FROM embeddings e CROSS JOIN
         |    (SELECT vec_id FROM embeddings WHERE vec_id < 25) q
         |  WHERE e.vec_id != q.vec_id),
         |idx AS (SELECT unnest(range(1, 65)) AS i),
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
         |    JOIN n2 nc ON nc.vec_id = neighbor_id),
         |topk AS (SELECT query_id, neighbor_id
         |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id) AS rn FROM cosx) t
         |  WHERE rn <= 11),
         |votes AS (SELECT t.query_id, e.label, count(*) AS v
         |  FROM topk t JOIN embeddings e ON e.vec_id = t.neighbor_id
         |  GROUP BY 1, 2),
         |pred AS (SELECT query_id, label AS prediction
         |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY v DESC, label) AS r FROM votes) t WHERE r = 1)
         |SELECT q.vec_id AS query_id, CAST(q.label AS INTEGER) AS true_label,
         |  CAST(p.prediction AS INTEGER) AS prediction
         |FROM embeddings q JOIN pred p ON p.query_id = q.vec_id
         |WHERE q.vec_id < 25 ORDER BY query_id""".stripMargin)
}
