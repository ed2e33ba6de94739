package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Approximate/exact nearest-neighbor search over an embedding column
  * (`array<float>`), for the `embeddings` table (vec_id, embedding, label).
  *
  * Two numeric paths:
  *  - `dot`/`cosine`: sequential fold over the array in codegen — the fast
  *    path for ranking (single deterministic left-to-right order).
  *  - `dotExact`/`cosineExact`: per-element products accumulated through
  *    exact decimals — order-independent, bit-identical to any oracle that
  *    also sums exactly. Used by the verification queries.
  */
object Similarity {

  private def dec(c: Column): Column = c.cast(DecimalType(27, 18))

  /** Dot product via the codegen'd native expression — identical
    * left-to-right IEEE sum as [[dotFold]], ~an order of magnitude faster
    * (higher-order functions are interpreted). */
  def dot(a: Column, b: Column): Column =
    graft.expressions.FloatDotProduct.dot(a, b)

  /** Composable higher-order-function form (reference semantics; used to
    * cross-check the native expression). */
  def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Order-independent exact-decimal dot product. Products are exact in
    * decimal(27,18) when inputs are float32 (≤9 significant decimal digits
    * each); the decimal sum is exact, and only the final cast rounds. */
  def dotExact(a: Column, b: Column): Column =
    // the accumulator lambda must return the accumulator's exact type:
    // decimal(38,18) + decimal(38,18) widens to decimal(38,17) under
    // Spark's precision-loss rule, so cast the SUM back (values are far
    // inside the precision; the cast is lossless here)
    aggregate(zip_with(a, b, (x, y) => dec(x.cast("double")) * dec(y.cast("double"))),
      lit(java.math.BigDecimal.ZERO).cast(DecimalType(38, 18)),
      (acc, v) => (acc + v.cast(DecimalType(38, 18))).cast(DecimalType(38, 18)))
      .cast("double")

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Fused single-pass cosine (native expression): one loop accumulates
    * dot, ‖a‖², ‖b‖² — 3× fewer array traversals than composing three
    * dot products, bit-identical results (same per-accumulator IEEE sum
    * order and the same final `dot/(√na·√nb)`). */
  def cosine(a: Column, b: Column): Column =
    graft.expressions.FloatCosine.cosine(a, b)

  /** The composed three-traversal form (parity reference for tests). */
  def cosineComposed(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  def cosineExact(a: Column, b: Column): Column =
    dotExact(a, b) / (sqrt(dotExact(a, a)) * sqrt(dotExact(b, b)))

  /** Per-query top-k ranking through the bounded-heap
    * [[graft.expressions.TopKRows]] aggregate: each map task emits ≤ k
    * (score, id) entries per query before the exchange — the shuffle
    * carries O(queries · k · tasks) heap entries instead of every scored
    * candidate, where a `row_number` window plan would sort and shuffle
    * ALL of them. Kept set = `ORDER BY cosine DESC, neighbor_id ASC LIMIT
    * k` per query (the aggregate's deterministic total order), identical
    * to the window form it replaced — the ANN oracles pin the parity. */
  private def topKByScore(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(graft.expressions.TopKRows
        .topRows(col("cosine"), col("neighbor_id"), k).as("__top"))
      .select(col("query_id"), posexplode(col("__top")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        col("col.score").as("cosine"),
        (col("pos") + 1).cast("int").as("rank"))

  /** Brute-force top-k cosine neighbors for each query vector: broadcast
    * the (small) query set against the corpus, bounded-heap top-k per
    * query. This is the exact baseline; 100 TB plan = broadcast-nested-
    * loop with map-side per-query heaps (no shuffle of the corpus), then
    * a ≤ k·|queries|·tasks shuffle of heap entries.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     exact: Boolean = false): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv")))
    val cos = if (exact) cosineExact(col("__qv"), col(vecCol))
              else cosine(col("__qv"), col(vecCol))
    val scored = corpus.join(q, col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("neighbor_id"), cos.as("cosine"))
    topKByScore(scored, k)
  }

  /** Exact-decimal top-k cosine over an explicit candidate-pair relation —
    * the oracle-exact ranking path shared by the ANN queries and the KNN
    * classifier. Prunes with the CODEGEN'D fast cosine first (exact
    * decimal scoring is ~100× costlier per pair, so only a top-(k+45)
    * margin per query pays it), then decimal-exact rescoring of the
    * survivors. Both stages rank through the bounded-heap TopKRows
    * aggregate — map tasks emit ≤ k' entries per query before the
    * exchange, never a window sort of every pair. Corpus-wide exact norms
    * are computed as an independent subtree so the two branches overlap
    * instead of serializing behind a semi-join (measured: the "norms only
    * for survivors" variant was slower).
    *
    * The prune margin is CERTIFIED, not assumed: a pruned candidate can
    * outrank a survivor only if their fast scores differ by less than the
    * fast-vs-exact error (double accumulation noise plus the decimal
    * quantum on the exact side — an adversarial corpus of decimal-tied
    * near-duplicates can order fast scores against the exact id
    * tie-break; TextSimSpec constructs one). So each query checks the
    * fast-score gap between heap ranks k and k+45: if it is below
    * `pruneEps` (or fewer than k+45 candidates were kept — then nothing
    * was dropped), the query ESCALATES and exact-rescoring runs over its
    * FULL candidate set. Real-data gaps sit many orders above `pruneEps`,
    * so escalation costs one empty semi-join branch in the common case.
    * @return (query_id, neighbor_id, cosine, rank) */
  def exactCosineTopK(e: DataFrame, pairs: DataFrame, k: Int,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      pruneEps: Double = 1e-9): DataFrame = {
    import graft.expressions.TopKRows
    import graft.ops.Num.dsum12
    val fastTop = pairs
      .join(e.select(col(idCol).as("query_id"), col(vecCol).as("qv")), Seq("query_id"))
      .join(e.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("__fc"))
      .groupBy("query_id")
      .agg(TopKRows.topRows(col("__fc"), col("neighbor_id"), k + 45).as("__top"),
        count(lit(1)).as("__nc"))
      // certificate: nothing pruned, or the rank-k vs rank-(k+45) fast
      // gap exceeds the error bound (element_at past the array end is
      // null, so short candidate lists certify through the first clause)
      .withColumn("__ok", col("__nc") <= (k + 45) ||
        (element_at(col("__top"), k).getField("score") -
          element_at(col("__top"), k + 45).getField("score")) > pruneEps)
    val prunedOk = fastTop.filter(col("__ok"))
      .select(col("query_id"), explode(col("__top")).as("__e"))
      .select(col("query_id"), col("__e.id").as("neighbor_id"))
    val escalated = pairs.join(
      broadcast(fastTop.filter(!col("__ok")).select("query_id")),
      Seq("query_id"), "left_semi")
      .select(col("query_id"), col("neighbor_id"))
    val pruned = prunedOk.unionByName(escalated)
    // dot AND both norms off the ONE pair-explode pass (guide §1.2, r14):
    // the pair relation already carries both vectors, so the corpus-wide
    // norm aggregate + two joins back were rework; identical decimal sums
    val cos = pruned
      .join(e.select(col(idCol).as("query_id"), col(vecCol).as("qv")), Seq("query_id"))
      .join(e.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        posexplode(zip_with(col("qv"), col("cv"), (x, y) =>
          struct((x.cast("double") * y.cast("double")).as("xy"),
            (x.cast("double") * x.cast("double")).as("xx"),
            (y.cast("double") * y.cast("double")).as("yy")))))
      .groupBy("query_id", "neighbor_id")
      .agg(dsum12(col("col.xy")).as("dot"),
        dsum12(col("col.xx")).as("n2q"),
        dsum12(col("col.yy")).as("n2c"))
      .select(col("query_id"), col("neighbor_id"),
        (col("dot") / (sqrt(col("n2q")) * sqrt(col("n2c")))).as("cosine"))
    cos.groupBy("query_id")
      .agg(TopKRows.topRows(col("cosine"), col("neighbor_id"), k).as("__top"))
      .select(col("query_id"), posexplode(col("__top")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        col("col.score").as("cosine"), (col("pos") + 1).cast("int").as("rank"))
      .orderBy("query_id", "rank")
  }

  /** Symmetric per-dimension int8 quantization for embedding columns: fit
    * is ONE aggregation pass producing `dims` scale doubles (fitted
    * parameters — the only thing that reaches the driver), apply is a
    * narrow `zip_with` against the scale literals. q = floor(v/s·127 + ½)
    * ∈ [−127, 127] — identical IEEE ops on any engine, so the quantized
    * vectors (and every integer dot product over them) are exactly
    * reproducible in SQL. At 100 TB this is the memory-bound ANN path:
    * 4× smaller vectors, integer kernels, and an exact re-rank can rescore
    * the float originals for survivors only.
    * @return (idCol, qvec: array&lt;int&gt;) */
  def int8Quantize(df: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding", dims: Int = 64): DataFrame = {
    val scales: Seq[Double] = df
      .select(posexplode(slice(col(vecCol), 1, dims)).as(Seq("dim", "v")))
      .groupBy("dim").agg(max(abs(col("v").cast("double"))).as("s"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).sortBy(_._1).map(_._2)
    df.select(col(idCol), zip_with(slice(col(vecCol), 1, dims),
      typedLit(scales),
      (v, s) => when(s === 0d, lit(0)).otherwise(
        floor(v.cast("double") / s * lit(127.0) + lit(0.5)).cast("int")))
      .as("qvec"))
  }

  /** Exact top-k by integer dot product over int8-quantized vectors
    * (codegen'd [[graft.expressions.IntDotProduct]]): broadcast query set,
    * corpus never shuffles, and the per-query ranking runs through the
    * bounded-heap [[graft.expressions.TopKRows]] aggregate — each map task
    * emits ≤ k candidates per query before the exchange, instead of a
    * window plan sorting every scored candidate per query partition. Ties
    * break toward the smaller neighbor id (the aggregate's total order),
    * so the ranking is hash-checkable against SQL. The double score slot
    * is exact for integer dots (|qdot| ≤ dims·127² ≪ 2⁵³).
    * @return (query_id, neighbor_id, qdot, rnk) */
  def int8TopK(quantized: DataFrame, queries: DataFrame, k: Int,
               idCol: String = "vec_id"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col("qvec").as("__q")))
    quantized.join(q, col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        graft.expressions.IntDotProduct.dot(col("__q"), col("qvec")).as("qdot"))
      .groupBy("query_id")
      .agg(graft.expressions.TopKRows
        .topRows(col("qdot"), col("neighbor_id"), k).as("__top"))
      .select(col("query_id"), posexplode(col("__top")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        col("col.score").cast("long").as("qdot"),
        (col("pos") + 1).cast("int").as("rnk"))
  }

  /** Product-quantization codes (Jégou et al. 2011, the FAISS IVF-PQ
    * compression): split the vector into `subspaces` contiguous blocks and
    * assign each block to its nearest per-subspace codeword from a
    * deterministic integer-grid k-means ([[graft.ml.KMeans.assignQuantized]]
    * per block). At subspaces=8, codewords=16 a 64-dim float vector
    * compresses 256 bytes → 8 codes — the representation that lets a
    * billion-vector index live in memory, with asymmetric-distance scoring
    * against per-subspace lookup tables. Training, like the scalar int8
    * path, is one aggregation pass per Lloyd's round per subspace; every
    * step is integer-exact, so the code assignment is bit-reproducible in
    * SQL (same Lloyd's replayed per block).
    * @return (idCol, subspace, code) — long form, one row per block. */
  // (r13) The former perSubspace concurrent-fit helper is gone: 8
  // thread-parallel per-subspace Lloyd's chains still paid 8× the
  // jobs/stages/codegen-units of one chain, and the tiny concurrent
  // tasks contended on the shared codegen cache (q_v_pqr_ann burned 77
  // task-seconds on a 2 000-row corpus). KMeans.fitGridBatch runs every
  // subspace inside ONE pass per fit step instead.

  def pqCodes(df: DataFrame, idCol: String = "vec_id",
              vecCol: String = "embedding", dims: Int = 64,
              subspaces: Int = 8, codewords: Int = 16,
              iters: Int = 2): DataFrame = {
    require(dims % subspaces == 0, "dims must divide into equal subspaces")
    val subDims = dims / subspaces
    // batched: quantize(slice) ≡ slice(quantize) elementwise, so one
    // full-dim grid feeds every subspace's fit and assignment in one
    // chain of passes (KMeans.fitGridBatch doc) — identical codes
    val qfull = df.select(col(idCol),
      graft.ml.KMeans.quantize(col(vecCol), dims, 1e6).as("__qa"))
    val fits = graft.ml.KMeans.fitGridBatch(qfull, idCol, "__qa",
      codewords, iters, subspaces, subDims)
    graft.ml.KMeans.assignGridBatch(qfull, idCol, "__qa", fits, subDims)
      .select(col(idCol), col("subspace"), col("cluster").as("code"))
  }

  /** The matching per-subspace codebooks: (subspace, code, dim, centroid,
    * n) — `dim` is the offset WITHIN the subspace. Same deterministic fit
    * as [[pqCodes]], so codes and codebooks always agree. */
  def pqCodebooks(df: DataFrame, idCol: String = "vec_id",
                  vecCol: String = "embedding", dims: Int = 64,
                  subspaces: Int = 8, codewords: Int = 16,
                  iters: Int = 2): DataFrame = {
    require(dims % subspaces == 0, "dims must divide into equal subspaces")
    val subDims = dims / subspaces
    // batched final-round relation for every subspace at once; same
    // per-slice arithmetic (and the same empty-cluster keep) as the
    // per-subspace kmeansQuantized it replaces
    val qfull = df.select(col(idCol),
      graft.ml.KMeans.quantize(col(vecCol), dims, 1e6).as("__qa"))
    graft.ml.KMeans.kmeansGridBatch(qfull, idCol, "__qa", codewords,
        iters, subspaces, subDims)
      .select(col("subspace"), col("cluster").as("code"), col("dim"),
        (col("cq").cast("double") / 1e6).as("centroid"), col("n"))
  }

  /** End-to-end IVF-PQ ADC search (Jégou et al. 2011 — the FAISS-style
    * billion-scale index query, composing the engine's IVF and PQ pieces):
    *
    *   1. coarse IVF probe ([[ivfIndex]]/[[ivfCandidates]]) bounds the
    *      candidate set to the vectors in each query's `nProbe` nearest
    *      lists — cost ∝ probed lists, never the corpus;
    *   2. per-subspace integer-grid k-means is fitted ONCE per subspace
    *      ([[graft.ml.KMeans.fitQuantized]]) and yields BOTH the corpus
    *      code table (8 codes/vector — the 32× compressed index) and the
    *      asymmetric-distance lookup tables: lut(q, s, c) = Σ_d qq_d·cq_d,
    *      the exact integer dot of the quantized query sub-vector with
    *      codeword c of subspace s;
    *   3. candidates are scored through their CODES ALONE — adc(q, v) =
    *      Σ_s lut(q, s, code(v, s)), a broadcast-LUT join + 8-row sum, the
    *      vectors themselves never joined back — and ranked per query by
    *      the bounded-heap [[graft.expressions.TopKRows]].
    *
    * Every quantity is integer-exact (|qq·cq| ≤ (quant/2)²·dims ≪ 2⁵³), so
    * the full search result is hash-reproducible in SQL: the oracle replays
    * the 8 Lloyd's fits, the lookup-table sums, and the (adc DESC, id ASC)
    * ranking verbatim. At 100 TB this is the memory story completed: the
    * scan side touches 8 bytes of codes per candidate instead of 256 bytes
    * of floats, and an exact re-rank can rescore float originals for the
    * k survivors only.
    * @return (query_id, neighbor_id, adc, rnk) */
  def pqAdcTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                dims: Int = 64, subspaces: Int = 8, codewords: Int = 16,
                iters: Int = 2, nCentroids: Int = 16, nProbe: Int = 4,
                idCol: String = "vec_id", vecCol: String = "embedding",
                quant: Double = 1e6): DataFrame = {
    require(dims % subspaces == 0, "dims must divide into equal subspaces")
    val subDims = dims / subspaces
    val spark = corpus.sparkSession
    import spark.implicits._
    val (centroids, assigned) = ivfIndex(corpus, nCentroids, idCol, vecCol)
    val cands = ivfCandidates(assigned, centroids, queries, nProbe, idCol, vecCol)
    // ONE batched fit covers all subspaces (KMeans.fitGridBatch: one seed
    // TakeOrdered + one update aggregate per iteration + one assignment
    // projection — identical per-slice fixpoints); codes AND lookup
    // tables derive from the SAME centroids (a refit would be
    // deterministic-identical but 2× the cost)
    val qfull = corpus.select(col(idCol),
      graft.ml.KMeans.quantize(col(vecCol), dims, quant).as("__qa"))
    val fits = graft.ml.KMeans.fitGridBatch(qfull, idCol, "__qa",
      codewords, iters, subspaces, subDims)
    val codes = graft.ml.KMeans.assignGridBatch(qfull, idCol, "__qa",
        fits, subDims)
      .select(col(idCol).as("neighbor_id"), col("subspace"),
        col("cluster").as("code"))
    // codebook grid (subspaces·codewords·subDims fitted integers — tiny)
    val cb = fits.zipWithIndex.flatMap { case (cents, s) =>
      cents.flatMap { case (cid, arr) =>
        arr.indices.map(d => (s, cid, d, arr(d)))
      }
    }.toDF("subspace", "code", "dim", "cq")
    // integer LUT per (query, subspace, code): one narrow explode of the
    // quantized query grid against the broadcast codebook
    val qgrid = queries.select(col(idCol).as("query_id"),
        posexplode(graft.ml.KMeans.quantize(col(vecCol), dims, quant))
          .as(Seq("d64", "qq")))
      .select(col("query_id"),
        (col("d64") / subDims).cast("int").as("subspace"),
        (col("d64") % subDims).as("dim"), col("qq"))
    val lut = qgrid.join(broadcast(cb), Seq("subspace", "dim"))
      .groupBy("query_id", "subspace", "code")
      .agg(sum(col("qq") * col("cq")).as("lut"))
    // ADC = table-sum over the candidate's 8 codes; bounded-heap top-k
    cands.join(codes, Seq("neighbor_id"))
      .join(broadcast(lut), Seq("query_id", "subspace", "code"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum("lut").as("adc"))
      .groupBy("query_id")
      .agg(graft.expressions.TopKRows
        .topRows(col("adc").cast("double"), col("neighbor_id"), k).as("__top"))
      .select(col("query_id"), posexplode(col("__top")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        col("col.score").cast("long").as("adc"),
        (col("pos") + 1).cast("int").as("rnk"))
  }

  /** Residual-encoded IVF-PQ ADC search — the form FAISS actually ships
    * (IVFPQ encodes x − centroid(x), not x): after the coarse IVF
    * assignment, each vector's RESIDUAL grid q(x) − q(c(x)) is what the
    * per-subspace codebooks are trained on and what the 8 codes encode.
    * When the corpus CLUSTERS around the IVF centroids, residuals are
    * tighter-spread than raw vectors and the same 16 codewords quantize
    * them with less error — the classical FAISS recall win at identical
    * index bytes. The win is data-dependent: on an unclustered corpus
    * var(x−c) ≈ var(x)+var(c) and residual codes measure WORSE than raw
    * codes (TextSimSpec measures both honestly on the synthetic
    * embeddings: 0.10 vs 0.18 recall@5) — which is why this ships as a
    * second index form next to [[pqAdcTopK]], not a replacement.
    *
    * Scoring uses the inner-product decomposition dot(q, x) = dot(q, c(x))
    * + dot(q, r(x)): the base term is an exact integer dot of the query
    * grid with each PROBED centroid grid (nProbe·|queries| pairs — tiny),
    * and the residual term is the usual per-subspace lookup-table sum over
    * the candidate's codes. Residual grids are integer differences of two
    * quantized grids (never re-rounded), so the whole search — coarse
    * assign, 8 residual Lloyd's fits, LUTs, base + table-sum, ranking —
    * is BIGINT-exact and hash-reproducible in SQL.
    * @return (query_id, neighbor_id, adc, rnk) */
  def pqResidualAdcTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                        dims: Int = 64, subspaces: Int = 8,
                        codewords: Int = 16, iters: Int = 2,
                        nCentroids: Int = 16, nProbe: Int = 4,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        quant: Double = 1e6): DataFrame = {
    require(dims % subspaces == 0, "dims must divide into equal subspaces")
    val subDims = dims / subspaces
    val spark = corpus.sparkSession
    import spark.implicits._
    val (centroids, assigned) = ivfIndex(corpus, nCentroids, idCol, vecCol)
    val cands = ivfCandidates(assigned, centroids, queries, nProbe, idCol, vecCol)
    val cgrid = centroids.select(col("centroid_id"),
      graft.ml.KMeans.quantize(col("centroid"), dims, quant).as("cg"))
    // residual grid per corpus vector (one broadcast join on the
    // nCentroids-row grid — rides the assignment relation, no extra scan).
    // PERSISTED: the batched fit's seed/update/assign passes would
    // otherwise each re-run the upstream IVF assignment (crossJoin +
    // heap argmax). Freed by the caller's Leaks.sweep, the catalog-wide
    // cache discipline.
    val resid = assigned.select(col(idCol), col("centroid_id"),
        graft.ml.KMeans.quantize(col(vecCol), dims, quant).as("qx"))
      .join(broadcast(cgrid), Seq("centroid_id"))
      .select(col(idCol), col("centroid_id"),
        zip_with(col("qx"), col("cg"), (a, b) => a - b).as("rq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize before the fit chain so every pass reads the cache
    resid.count()
    val fits = graft.ml.KMeans.fitGridBatch(resid, idCol, "rq",
      codewords, iters, subspaces, subDims)
    val codes = graft.ml.KMeans.assignGridBatch(resid, idCol, "rq",
        fits, subDims)
      .select(col(idCol).as("neighbor_id"), col("subspace"),
        col("cluster").as("code"))
    val rcb = fits.zipWithIndex.flatMap { case (cents, s) =>
      cents.flatMap { case (cid, arr) =>
        arr.indices.map(d => (s, cid, d, arr(d)))
      }
    }.toDF("subspace", "code", "dim", "cq")
    val qgrid = queries.select(col(idCol).as("query_id"),
      posexplode(graft.ml.KMeans.quantize(col(vecCol), dims, quant))
        .as(Seq("d64", "qq")))
    val lut = qgrid
      .select(col("query_id"), (col("d64") / subDims).cast("int").as("subspace"),
        (col("d64") % subDims).as("dim"), col("qq"))
      .join(broadcast(rcb), Seq("subspace", "dim"))
      .groupBy("query_id", "subspace", "code")
      .agg(sum(col("qq") * col("cq")).as("lut"))
    // base term dot(q, centroid) for the probed lists only
    val qcent = qgrid
      .join(broadcast(cgrid.select(col("centroid_id"),
        posexplode(col("cg")).as(Seq("d64", "cgv")))), Seq("d64"))
      .groupBy("query_id", "centroid_id")
      .agg(sum(col("qq") * col("cgv")).as("base"))
    cands
      .join(assigned.select(col(idCol).as("neighbor_id"), col("centroid_id")),
        Seq("neighbor_id"))
      .join(codes, Seq("neighbor_id"))
      .join(broadcast(lut), Seq("query_id", "subspace", "code"))
      .groupBy("query_id", "neighbor_id", "centroid_id")
      .agg(sum("lut").as("rsum"))
      .join(broadcast(qcent), Seq("query_id", "centroid_id"))
      .select(col("query_id"), col("neighbor_id"),
        (col("base") + col("rsum")).as("adc"))
      .groupBy("query_id")
      .agg(graft.expressions.TopKRows
        .topRows(col("adc").cast("double"), col("neighbor_id"), k).as("__top"))
      .select(col("query_id"), posexplode(col("__top")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        col("col.score").cast("long").as("adc"),
        (col("pos") + 1).cast("int").as("rnk"))
  }

  /** Two-stage compressed retrieval — the complete production shape:
    * [[pqAdcTopK]] recalls `rerankFrom` candidates per query through the
    * 32× compressed index (8 bytes of codes per candidate), then ONLY
    * those ≤ rerankFrom·|queries| survivors pay an exact decimal-cosine
    * rescore against the float originals (order-independent DECIMAL(30,12)
    * accumulation — the oracle discipline), ranked to the final k by the
    * bounded heap. ADC buys the recall at index cost; the exact stage buys
    * the precision at survivor cost — at 100 TB the floats are read back
    * for a per-query constant, never for the corpus.
    * @return (query_id, neighbor_id, cosine, rnk) */
  def pqAdcRerank(corpus: DataFrame, queries: DataFrame, k: Int,
                  rerankFrom: Int,
                  dims: Int = 64, subspaces: Int = 8, codewords: Int = 16,
                  iters: Int = 2, nCentroids: Int = 16, nProbe: Int = 4,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  quant: Double = 1e6): DataFrame = {
    require(rerankFrom >= k, "rerankFrom must be at least k")
    import graft.ops.Num.dsum12
    val coarse = pqAdcTopK(corpus, queries, rerankFrom, dims, subspaces,
        codewords, iters, nCentroids, nProbe, idCol, vecCol, quant)
      .select("query_id", "neighbor_id")
    // dot AND both norms from the ONE pair-explode pass (guide §1.2):
    // the former shape ran two extra corpus-wide norm aggregates (one
    // over ALL corpus vectors for ≤ rerankFrom·|queries| survivors) and
    // joined them back; the per-element (x·y, x², y²) triple rides the
    // same explode, and each dsum12 is the identical order-independent
    // decimal sum of the identical 64 doubles — cosine is bit-unchanged.
    val dots = coarse
      .join(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv")),
        Seq("query_id"))
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv")),
        Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        posexplode(zip_with(col("__qv"), col("__cv"), (x, y) =>
          struct((x.cast("double") * y.cast("double")).as("xy"),
            (x.cast("double") * x.cast("double")).as("xx"),
            (y.cast("double") * y.cast("double")).as("yy")))))
      .groupBy("query_id", "neighbor_id")
      .agg(dsum12(col("col.xy")).as("dot"),
        dsum12(col("col.xx")).as("n2q"),
        dsum12(col("col.yy")).as("n2c"))
    dots
      .select(col("query_id"), col("neighbor_id"),
        (col("dot") / (sqrt(col("n2q")) * sqrt(col("n2c")))).as("cosine"))
      .groupBy("query_id")
      .agg(graft.expressions.TopKRows
        .topRows(col("cosine"), col("neighbor_id"), k).as("__top"))
      .select(col("query_id"), posexplode(col("__top")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        col("col.score").as("cosine"), (col("pos") + 1).cast("int").as("rnk"))
  }

  /** Deterministic pseudo-random hyperplane component for (plane p, dim d):
    * md5-derived uniform in [-0.5, 0.5). Computed ONCE on the driver and
    * embedded as a literal — the generated per-row code is pure mult-adds
    * (the naive version evaluated an md5 per row·plane·dim and dominated
    * the whole benchmark). */
  private[graft] def planeConst(seed: Int, p: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$seed:$p:$d".getBytes("UTF-8"))
      .take(4).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0 - 0.5
  }

  /** Random-hyperplane LSH signature: bit p = sign(v · plane_p). Buckets of
    * equal signature hold vectors with high cosine; probing only the bucket
    * turns ANN into a shuffle-on-short-key join — the scale path.
    *
    * The plane matrix ships as ONE array-literal and the dot products run
    * as higher-order folds: expanding them to per-term expressions (nPlanes
    * × dim multiply nodes) made janino compile times dominate the query. */
  def hyperplaneSignature(vec: Column, nPlanes: Int, dim: Int = 64,
                          seed: Int = 42): Column = {
    val planes = typedLit((0 until nPlanes).map(p =>
      (0 until dim).map(d => planeConst(seed, p, d))))
    aggregate(
      zip_with(planes, sequence(lit(0), lit(nPlanes - 1)), (plane, p) =>
        when(aggregate(zip_with(vec, plane, (x, c) => x.cast("double") * c),
          lit(0.0), (acc, v) => acc + v) > 0,
          pow(lit(2.0), p).cast("long")).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc + v)
  }

  /** Fast path for [[hyperplaneSignature]], BIT-IDENTICAL to the
    * higher-order-function form: the same plane constants, the same
    * left-to-right double accumulation, the same sign test — generated as
    * one primitive nPlanes × dim loop by the native
    * [[graft.expressions.HyperplaneSignature]] expression (the former
    * Scala UDF boxed a Seq[Float] per row and broke the codegen span; the
    * interpreted HOF chain before it dominated the LSH blocking stages'
    * benchmark time). */
  def hyperplaneSignatureFast(vec: Column, nPlanes: Int, dim: Int = 64,
                              seed: Int = 42): Column =
    graft.expressions.HyperplaneSignature.signature(vec, nPlanes, dim, seed)

  /** LSH candidate (query_id, neighbor_id) pairs: rows sharing any of the
    * `nTables` hyperplane buckets, deduped (a pair found by several tables
    * would otherwise be scored several times). Recall grows with fewer
    * planes / more tables; `nTables` OR-amplifies. The blocking stage of
    * [[lshTopK]], exposed for oracle-matched exact scoring. */
  def lshCandidates(corpus: DataFrame, queries: DataFrame,
                    nPlanes: Int = 8, nTables: Int = 4, dim: Int = 64,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    def sig(df: DataFrame, idAs: String) =
      df.select(col(idCol).as(idAs),
        explode(array((0 until nTables).map(t => concat_ws(":", lit(t),
          hyperplaneSignatureFast(col(vecCol), nPlanes, dim, seed = 1042 + t))): _*))
          .as("__bucket"))
    // dedupe candidate ID pairs FIRST (a pair found by several tables is
    // otherwise scored nTables times), then join vectors back once
    sig(corpus, "neighbor_id").join(sig(queries, "query_id"), Seq("__bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id").distinct()
  }

  /** Multiprobe variant of [[lshCandidates]]: each QUERY probes its base
    * bucket plus every single-bit-flip neighbor bucket in every table
    * (Hamming radius 1 — the standard multiprobe move: recall rises at
    * the SAME index size and memory, paying (1+nPlanes)× more lookups on
    * the tiny query side instead of more tables on the corpus side).
    * The corpus-side index is IDENTICAL to the single-probe form, and
    * the probe set is a deterministic function of the signature, so a
    * SQL oracle replays it as bit_count(xor(sig_q, sig_c)) ≤ 1 per
    * table. Measured on sf0.001 embeddings at (4 planes, 8 tables):
    * recall@5 0.78 → 0.98 vs brute force. */
  def lshCandidatesMultiprobe(corpus: DataFrame, queries: DataFrame,
                              nPlanes: Int = 8, nTables: Int = 4, dim: Int = 64,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding"): DataFrame = {
    def sig(t: Int) =
      hyperplaneSignatureFast(col(vecCol), nPlanes, dim, seed = 1042 + t)
    val corp = corpus.select(col(idCol).as("neighbor_id"),
      explode(array((0 until nTables).map(t =>
        concat_ws(":", lit(t), sig(t))): _*)).as("__bucket"))
    val qs = queries.select(col(idCol).as("query_id"),
      explode(flatten(array((0 until nTables).map { t =>
        val s = sig(t)
        array((s +: (0 until nPlanes).map(p => s.bitwiseXOR(lit(1L << p))))
          .map(x => concat_ws(":", lit(t), x)): _*)
      }: _*))).as("__bucket"))
    corp.join(qs, Seq("__bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id").distinct()
  }

  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nPlanes: Int = 8, nTables: Int = 4, dim: Int = 64,
              idCol: String = "vec_id", vecCol: String = "embedding",
              multiprobe: Boolean = false): DataFrame = {
    val pairs =
      if (multiprobe)
        lshCandidatesMultiprobe(corpus, queries, nPlanes, nTables, dim, idCol, vecCol)
      else lshCandidates(corpus, queries, nPlanes, nTables, dim, idCol, vecCol)
    val cands = pairs
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv")),
        Seq("neighbor_id"))
      .join(broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))),
        Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("__qv"), col("__cv")).as("cosine"))
    topKByScore(cands, k)
  }

  /** LSH-blocked candidate ID pairs (id_a < id_b, deduped across tables) —
    * the blocking stage of [[cosineNearDupPairsExact]]. */
  def nearDupCandidates(df: DataFrame, nPlanes: Int = 12, nTables: Int = 4,
                        dim: Int = 64, idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val sigs = df.select(col(idCol), col(vecCol))
      .select(col(idCol), col(vecCol),
        explode(array((0 until nTables).map(t => concat_ws(":", lit(t),
          hyperplaneSignatureFast(col(vecCol), nPlanes, dim, seed = 77 + t))): _*))
          .as("__bucket"))
    val l = sigs.select(col("__bucket"), col(idCol).as("id_a"))
    val r = sigs.select(col("__bucket"), col(idCol).as("id_b"))
    // distinct ID pairs first; vectors join back once for the cosine check
    l.join(r, Seq("__bucket")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Embedding-cosine near-duplicate pairs above a threshold, LSH-blocked
    * (never n² at scale). The surviving pairs' cosines are accumulated
    * through DECIMAL(30,12) per-element products (order-independent, bit-
    * identical to a SQL engine using the same accumulation); only the few
    * candidate pairs pay the exact path. */
  def cosineNearDupPairsExact(df: DataFrame, threshold: Double,
                              nPlanes: Int = 12, nTables: Int = 4, dim: Int = 64,
                              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import graft.ops.Num.dsum12
    // Prune candidates with the CODEGEN'D fast cosine before anything
    // decimal: fast-vs-exact differences are sub-ulp, so a 1e-6 guard band
    // below the threshold cannot drop a true qualifying pair; the exact
    // path then scores only survivors (the oracle exact-scores a wider
    // candidate set and still matches).
    val pruned = nearDupCandidates(df, nPlanes, nTables, dim, idCol, vecCol)
      .join(df.select(col(idCol).as("id_a"), col(vecCol).as("va")), Seq("id_a"))
      .join(df.select(col(idCol).as("id_b"), col(vecCol).as("vb")), Seq("id_b"))
      .filter(cosine(col("va"), col("vb")) >= threshold - 1e-6)
    // dot AND both norms off the ONE pair-explode pass (guide §1.2, r14):
    // the pair relation already carries both vectors, so the former
    // corpus-wide norm aggregate + two joins back were pure rework (a
    // survivors-only norm SEMI-JOIN had been measured slower — this is
    // not that: no extra pass at all); each dsum12 is the identical
    // order-independent decimal sum, so cosines are bit-unchanged
    pruned
      .select(col("id_a"), col("id_b"),
        posexplode(zip_with(col("va"), col("vb"), (x, y) =>
          struct((x.cast("double") * y.cast("double")).as("xy"),
            (x.cast("double") * x.cast("double")).as("xx"),
            (y.cast("double") * y.cast("double")).as("yy")))))
      .groupBy("id_a", "id_b")
      .agg(dsum12(col("col.xy")).as("dot"),
        dsum12(col("col.xx")).as("n2a"),
        dsum12(col("col.yy")).as("n2b"))
      .select(col("id_a"), col("id_b"),
        (col("dot") / (sqrt(col("n2a")) * sqrt(col("n2b")))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023): partition the
    * corpus with deterministic k-means ([[graft.ml.KMeans.assignQuantized]]),
    * find near-duplicate pairs ONLY within each cluster, close them into
    * components, and keep the min-id representative per component.
    *
    * The cluster blocking is what makes embedding near-dup tractable at
    * 100 TB: the quadratic pair search is bounded per cluster instead of
    * corpus-wide (raise k so clusters stay bounded as the corpus grows),
    * and the assignment step itself is narrow — centroid literals inside
    * one expression, no shuffle. Candidate pairs are pruned with the
    * codegen'd fast cosine (1e-6 guard band) and only survivors pay the
    * DECIMAL(30,12)-exact rescoring, so the keep set is bit-identical to a
    * SQL oracle running the same quantized k-means + exact cosine.
    *
    * @return (idCol, cluster, keep) — keep=false exactly for non-minimal
    *         members of a near-duplicate component. */
  /** k for [[semanticDedupKeepAuto]]: enough clusters that the EXPECTED
    * cluster holds `targetClusterSize` vectors, floored at 16. The
    * within-cluster pair search is Σ C(size, 2); with k ∝ n the expected
    * per-cluster size is constant and total candidates grow LINEARLY with
    * the corpus — at a fixed k they grow quadratically (the sf1 sweep
    * measured exactly that foot-gun at k=16). */
  def semDedupAutoK(n: Long, targetClusterSize: Long): Int =
    math.max(16L, (n + targetClusterSize - 1) / targetClusterSize).toInt

  /** [[semanticDedupKeep]] with k auto-sized from one distributed COUNT —
    * the default entry point for a corpus whose size the caller doesn't
    * pin. The explicit-k overload stays for reproducing a fixed clustering
    * (the oracle query pins k=16). */
  def semanticDedupKeepAuto(df: DataFrame, threshold: Double,
                            targetClusterSize: Long = 1000, iters: Int = 2,
                            dim: Int = 64, idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame =
    semanticDedupKeep(df, threshold, semDedupAutoK(df.count(), targetClusterSize),
      iters, dim, idCol, vecCol)

  def semanticDedupKeep(df: DataFrame, threshold: Double, k: Int = 16,
                        iters: Int = 2, dim: Int = 64,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import graft.ops.Num.dsum12
    // assignment feeds both sides of the pair join plus the final output —
    // persist once; the block is released by Leaks.sweep between pipelines
    val assigned = graft.ml.KMeans
      .assignQuantized(df, idCol, vecCol, k, dim, iters)
      .join(df.select(col(idCol), col(vecCol)), Seq(idCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lhs = assigned.select(col("cluster"), col(idCol).as("id_a"), col(vecCol).as("va"))
    val rhs = assigned.select(col("cluster"), col(idCol).as("id_b"), col(vecCol).as("vb"))
    val pruned = lhs.join(rhs, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .filter(cosine(col("va"), col("vb")) >= threshold - 1e-6)
    // dot AND both norms off the ONE pair-explode pass (guide §1.2 —
    // the former shape aggregated norms over the FULL corpus for the few
    // surviving pairs and joined them back twice); each dsum12 is the
    // identical order-independent decimal sum of the identical per-
    // element doubles, so the exact-cosine test is bit-unchanged
    val pairs = pruned
      .select(col("id_a"), col("id_b"),
        posexplode(zip_with(col("va"), col("vb"), (x, y) =>
          struct((x.cast("double") * y.cast("double")).as("xy"),
            (x.cast("double") * x.cast("double")).as("xx"),
            (y.cast("double") * y.cast("double")).as("yy")))))
      .groupBy("id_a", "id_b")
      .agg(dsum12(col("col.xy")).as("dot"),
        dsum12(col("col.xx")).as("n2a"),
        dsum12(col("col.yy")).as("n2b"))
      .filter(col("dot") / (sqrt(col("n2a")) * sqrt(col("n2b"))) >= threshold)
      .select("id_a", "id_b")
    // comp = min reachable id, so the representative test is comp == id;
    // vectors in no near-dup pair never enter the component relation
    val comp = graft.ops.Graph.connectedComponents(pairs, "id_a", "id_b")
    assigned.select(col(idCol), col("cluster"))
      .join(comp.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol), col("cluster"),
        (col("comp").isNull || col("comp") === col(idCol)).as("keep"))
  }

  /** IVF-style ANN: k-means-lite centroids picked as md5-pseudo-random
    * corpus rows (deterministic), vectors assigned to nearest centroid
    * (one narrow pass), queries probe `nProbe` nearest centroids. The
    * centroid set is tiny → broadcast; the corpus shuffles once on
    * centroid id, giving co-partitioned probe joins at scale. */
  def ivfIndex(corpus: DataFrame, nCentroids: Int,
               idCol: String = "vec_id", vecCol: String = "embedding"): (DataFrame, DataFrame) = {
    // Deterministic "sample": smallest nCentroids md5(vec_id) values, via
    // orderBy+limit (executes as TakeOrdered — per-partition top-N + driver
    // merge, never a single-partition sort of the corpus). Centroid ids
    // come from a broadcast self-join rank over the nCentroids-row result
    // (md5 keys are unique), keeping even this tiny step window-free.
    val picked = corpus
      .select(md5(col(idCol).cast("string")).as("__h"), col(vecCol).as("centroid"))
      .orderBy(col("__h")).limit(nCentroids)
    val centroids = picked
      .join(broadcast(picked.select(col("__h").as("__h2"))),
        col("__h2") < col("__h"), "left")
      .groupBy("__h")
      .agg(first("centroid").as("centroid"),
        (count(col("__h2")) + 1).cast("int").as("centroid_id"))
      .select(col("centroid_id"), col("centroid"))
    // argmax through the bounded-heap aggregate (k=1): the former window
    // plan hash-exchanged and SORTED all 16 × |corpus| scored rows; the
    // partial-aggregating groupBy reduces each task to one row per vector
    // BEFORE the exchange — same argmax, same (cosine DESC, centroid_id
    // ASC) tie-break, 16× less shuffle and no sort.
    val assigned = corpus.crossJoin(broadcast(centroids))
      .select(col(idCol), col(vecCol),
        cosine(col(vecCol), col("centroid")).as("__d"), col("centroid_id"))
      .groupBy(idCol)
      .agg(first(vecCol).as(vecCol),
        graft.expressions.TopKRows.topRows(col("__d"), col("centroid_id"), 1)
          .as("__top"))
      .select(element_at(col("__top"), 1).getField("id").cast("int")
          .as("centroid_id"),
        col(idCol), col(vecCol))
    (centroids, assigned)
  }

  /** IVF candidate (query_id, neighbor_id) pairs: each query probes its
    * `nProbe` nearest centroids and meets the vectors assigned there.
    * The blocking stage of [[ivfTopK]], exposed for oracle-matched exact
    * scoring. */
  def ivfCandidates(assigned: DataFrame, centroids: DataFrame, queries: DataFrame,
                    nProbe: Int, idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val qc = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .crossJoin(broadcast(centroids))
      .select(col("query_id"),
        cosine(col("__qv"), col("centroid")).as("__d"), col("centroid_id"))
      .groupBy("query_id")
      .agg(graft.expressions.TopKRows.topRows(col("__d"), col("centroid_id"), nProbe)
        .as("__top"))
      .select(col("query_id"), explode(col("__top")).as("__e"))
      .select(col("__e.id").cast("int").as("centroid_id"), col("query_id"))
    assigned.join(qc, Seq("centroid_id"))
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("neighbor_id")).distinct()
  }

  def ivfTopK(assigned: DataFrame, centroids: DataFrame, queries: DataFrame,
              k: Int, nProbe: Int,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cands = ivfCandidates(assigned, centroids, queries, nProbe, idCol, vecCol)
      .join(assigned.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv")),
        Seq("neighbor_id"))
      .join(broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))),
        Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("__qv"), col("__cv")).as("cosine"))
    topKByScore(cands, k)
  }
}
