package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel

/** Distributed graph helpers for the dedup pipeline: near-duplicate PAIRS
  * become near-duplicate CLUSTERS via connected components, so a corpus can
  * keep exactly one representative per duplicate group (pair-wise removal
  * alone over-keeps on transitive chains a~b~c).
  *
  * No GraphX: the label-propagation loop below is plain DataFrame joins, so
  * Catalyst/AQE handle partitioning and the whole thing scales like any
  * shuffle-on-key plan. Iteration count is the component DIAMETER, which for
  * dedup clusters (cliques or short chains) is 1-3.
  */
object Graph {

  /** `localCheckpoint` pins its RDD at the RDD layer, invisible to
    * `catalog.clearCache()` — without explicit release, every iterative
    * round leaks one rank/label vector for the life of the session
    * (measured in round 4: the accumulated orphans inflated later bench
    * queries 9-26x). The RDD registers in `getPersistentRDDs` at call
    * time, so bracketing the call captures exactly the ids to free once
    * the NEXT round materializes. */
  private def checkpointTracked(df: DataFrame, eager: Boolean)
      : (DataFrame, Set[Int]) = {
    val out = df.localCheckpoint(eager)
    // ids read off the checkpointed frame's own LogicalRDD leaves —
    // NOT a getPersistentRDDs before/after diff, which mis-attributes
    // (and later wrongly unpersists) a checkpoint another driver thread
    // registers concurrently (r14: the q_pipe_ep4 semantic/text overlap)
    (out, Bridge.leafRddIds(out))
  }

  private def unpersistIds(df: DataFrame, ids: Set[Int]): Unit = {
    val sc = df.sparkSession.sparkContext
    ids.foreach(id => sc.getPersistentRDDs.get(id)
      .foreach(Bridge.unpersistQuietly(_, blocking = true)))
  }

  /** Connected components — alternating large-star / small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14). Replaced min-label propagation in round 9: label
    * propagation pays one round per hop of component DIAMETER, while the
    * star alternation contracts path lengths geometrically — O(log d)
    * rounds — so long chains (transitive near-dup runs) stop being the
    * worst case, and short chains/cliques (the common dedup shape)
    * converge in the same 2-3 rounds as before.
    *
    * Input: an undirected edge relation (two id columns, any orientation,
    * duplicates/self-loops allowed). Output: one row per vertex that
    * appears in an edge — (id, comp) with comp = the minimum vertex id
    * reachable (same contract, same hashes as the label-prop form).
    *
    * State is a canonical parent-edge set (a, b), a > b, distinct.
    *  - large-star: each vertex u offers m = min(N(u) ∪ {u}) to its
    *    LARGER neighbors — emit (v, m) for v ∈ N(u), v > u.
    *  - small-star: each vertex a links its smaller neighbors and itself
    *    to m = min of its smaller neighborhood — emit (b, m) and (a, m).
    * Both emit only (bigger, smaller) pairs, so canonical orientation is
    * an invariant and the symmetrize step never needs a distinct. Each
    * round is groupBy-min + join-on-key + distinct — the same
    * shuffle-on-key shape as everything else here; nothing row-level
    * reaches the driver. Fixpoint = the edge set is stable (then it IS
    * the star forest rooted at component minima).
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 25): DataFrame =
    connectedComponentsWithRounds(edges, srcCol, dstCol, maxIter,
      driverShortcut = true)._1

  /** Distinct canonical edge count under which components resolve on the
    * driver instead of iterating star rounds: ~8 MB of id pairs — the
    * same order as a broadcast relation, which Spark routinely collects
    * to the driver. Above it the star loop runs unchanged, so the
    * shortcut is scale-ADAPTIVE, not a local-mode constant: a 100 TB
    * dedup pair relation takes the distributed path, while the common
    * case (near-dup graphs far smaller than the corpus) skips the
    * 10-20 scheduler round-trips the loop costs (r13 measurement: the
    * CC rounds were the majority of q_v_semantic_dedup's 33 jobs on a
    * graph of a few thousand edges). */
  val DriverCcMaxEdges: Long = 1L << 19

  /** Driver union-find over collected canonical edges (a > b or a = b):
    * same contract as the star loop — one row per vertex that appears,
    * comp = min reachable vertex id. */
  private def driverComponents(rows: Array[(Long, Long)])
      : Array[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.get(r)
      var c = x
      while (parent.getOrDefault(c, c) != c) {
        val nxt = parent.get(c); parent.put(c, r); c = nxt
      }
      r
    }
    rows.foreach { case (a, b) =>
      parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb) }
    }
    // roots are unioned toward the smaller id, so find(v) IS the
    // component minimum
    val out = new Array[(Long, Long)](parent.size)
    val it = parent.keySet().iterator()
    var i = 0
    while (it.hasNext) { val v = it.next(); out(i) = (v, find(v)); i += 1 }
    out
  }

  /** As [[connectedComponents]], also returning the number of star rounds
    * run (GraphExtSpec pins the O(log d) behavior on a path graph —
    * `driverShortcut` defaults off here so that behavior stays
    * measurable). */
  def connectedComponentsWithRounds(edges: DataFrame, srcCol: String,
                                    dstCol: String, maxIter: Int = 25,
                                    driverShortcut: Boolean = false)
      : (DataFrame, Int) = {
    // Both star ops compute "min over my neighborhood" as a WINDOW min
    // rather than groupBy + join-back: one exchange per star instead of
    // two, at the cost of a per-partition sort (no map-side combine —
    // fine for dedup graphs whose degrees are bounded by near-dup bucket
    // sizes; a power-law graph would prefer the groupBy form).
    import org.apache.spark.sql.expressions.Window
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
        .toDF("u", "v")
      // no distinct on the output: duplicates are tolerated by
      // small-star's window min and cleaned by ITS distinct
      sym.withColumn("m",
          least(min("v").over(Window.partitionBy("u")), col("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
    }
    def smallStar(e: DataFrame): DataFrame = {
      val j = e.withColumn("m", min("b").over(Window.partitionBy("a")))
      j.filter(col("b") =!= col("m"))
        .select(col("b").as("a"), col("m").as("b"))
        .union(j.select(col("a"), col("m").as("b")))
        .distinct()
    }
    // ONE evaluation of the (possibly expensive) upstream edge plan: the
    // canonical projection KEEPS self-loops here so both the vertex
    // relation and the working edge set derive from this checkpoint —
    // deriving verts from `edges` directly would re-run the upstream
    // pipeline (e.g. minhash pair-gen) two more times
    val (e0, e0Ids) = checkpointTracked(
      edges.select(
          greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("a"),
          least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("b"))
        .distinct(), eager = false)
    val verts = e0.select(col("a").as("id"))
      .union(e0.select(col("b").as("id"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var (e, liveIds) = checkpointTracked(
      e0.filter(col("a") =!= col("b")), eager = false)
    // (count, Σa, Σb) is the per-round signature: each is one aggregate in
    // the SAME job that materializes the round's checkpoint. A signature
    // change proves the edge set changed (skip the comparison job); only a
    // STABLE signature triggers the one deterministic exceptAll confirm —
    // so the set-equality job runs ~once per invocation, not every round.
    def signature(df: DataFrame): (Long, Long, Long) = {
      val r = df.agg(count(lit(1)), sum("a"), sum("b")).head()
      (r.getLong(0),
        if (r.isNullAt(1)) 0L else r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2))
    }
    var sig = signature(e) // materializes both lazy checkpoints (e0 via e)
    if (driverShortcut && sig._1 <= DriverCcMaxEdges) {
      // e0 additionally holds self-loop rows; cap the collect so a
      // degenerate all-self-loop input cannot blow the driver
      val cap = (4L * DriverCcMaxEdges + 1).toInt
      val collected = e0.limit(cap).collect()
      // null ids survive the greatest/least projection and distinct (an
      // all-null edge row is (null, null)); the star loop drops them via
      // its a =!= b filter and the left join never matches them, so the
      // vertex labels itself (null, null). Mirror that here instead of
      // NPE-ing on getLong.
      val rows = collected.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
        .map(r => (r.getLong(0), r.getLong(1)))
      if (collected.length < cap) {
        val spark = edges.sparkSession
        import spark.implicits._
        val nullVertex: Seq[(Option[Long], Option[Long])] =
          if (collected.length > rows.length) Seq((None, None)) else Nil
        val labels = (driverComponents(rows).toSeq
          .map { case (v, c) => (Some(v): Option[Long], Some(c): Option[Long]) }
          ++ nullVertex).toDF("id", "comp")
        verts.unpersist()
        unpersistIds(labels, liveIds ++ (e0Ids -- liveIds))
        return (labels, 0)
      }
    }
    var iter = 0
    var converged = sig._1 == 0
    while (!converged && iter < maxIter) {
      val (next, nextIds) = checkpointTracked(smallStar(largeStar(e)),
        eager = false)
      // FULL aggregate first (no limit-early-exit): it is the materializer
      // of the lazy checkpoint; exceptAll then reuses the pinned blocks.
      // Both sides are distinct sets with canonical orientation, so
      // equal-count + empty-difference ⇔ equal sets ⇔ fixpoint.
      val sigNext = signature(next)
      converged = sigNext == sig && next.exceptAll(e).isEmpty
      unpersistIds(next, liveIds)
      liveIds = nextIds
      e = next
      sig = sigNext
      iter += 1
    }
    // at fixpoint e is (child, root) with root = component minimum; roots
    // and self-loop-only vertices label themselves via the left join
    val labels = verts.join(e.select(col("a").as("id"), col("b").as("__c")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("__c"), col("id")).as("comp"))
    // ONE eager materialization so the vertex cache, e0 (kept alive until
    // here — verts reads its blocks lazily inside this job) and the loop's
    // last checkpoint can all release before returning; the returned frame
    // carries exactly ONE pinned RDD, swept by Leaks.sweep between pipelines
    val (out, _) = checkpointTracked(labels, eager = true)
    verts.unpersist()
    unpersistIds(out, liveIds ++ (e0Ids -- liveIds))
    (out, iter)
  }

  /** Cluster summary of an edge relation: (comp, n_members) — e.g. the
    * size distribution of near-duplicate groups. */
  def componentSizes(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    connectedComponents(edges, srcCol, dstCol)
      .groupBy("comp").agg(count(lit(1)).as("n_members"))

  /** Exact triangle count of an undirected graph (any edge orientation /
    * duplicates in the input). Canonicalizes to a < b, then counts via two
    * equi-joins: wedges (a,b)+(b,c) with a<b<c close into triangles iff
    * (a,c) is an edge. Every join is on a vertex key — at scale the edge
    * relation co-partitions across the three roles and the wedge fan-out
    * is bounded by max canonical out-degree (the standard node-iterator
    * bound; feed pre-thresholded edges for power-law graphs). */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a") < col("b")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val wedges = e.toDF("a", "b")
      .join(e.toDF("b", "c"), Seq("b"))
    // materialize the single-row aggregate NOW so the canonical edge cache
    // can be released before returning — otherwise repeated calls in a
    // long-lived session accumulate cached blocks (the count is O(1) data;
    // eagerness costs nothing a caller could have deferred)
    val n = wedges.join(e.toDF("a", "c"), Seq("a", "c"), "left_semi")
      .agg(count(lit(1)).as("n_triangles")).head().getLong(0)
    e.unpersist()
    val spark = edges.sparkSession
    import spark.implicits._
    Seq(n).toDF("n_triangles")
  }

  /** Canonical symmetric edge relation for the iterative graph operators:
    * (src, dst) longs, both orientations, deduplicated, hash-partitioned
    * on `src` (the per-round join key) and pinned MEMORY_AND_DISK. Built
    * ONCE and shared by [[labelPropagationPre]]/[[pageRankPre]] — a
    * catalog running several graph queries over the same graph pays the
    * symmetrize+dedup+partition shuffle once, not per query. Dedup runs
    * AFTER the repartition so HashPartitioning(src) satisfies the
    * (src, dst) dedup clustering and the whole build is ONE exchange.
    * Caller owns the unpersist. */
  def symmetrize(edges: DataFrame, srcCol: String, dstCol: String,
                 edgesDistinct: Boolean = false): DataFrame =
    symmetrizePlan(edges, srcCol, dstCol, edgesDistinct)
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** The lazy plan behind [[symmetrize]], for callers that pin it their
    * own way (the Shared.pinned process memo checkpoints it instead of
    * persisting). */
  def symmetrizePlan(edges: DataFrame, srcCol: String, dstCol: String,
                     edgesDistinct: Boolean = false): DataFrame = {
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val part = e0.unionByName(
        e0.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src"))
    if (edgesDistinct) part else part.dropDuplicates("src", "dst")
  }

  /** Synchronous label-propagation community detection (Raghavan et al.
    * 2007), made deterministic: label₀(v) = v; each round every node
    * takes the most frequent label among its neighbors, ties broken
    * (count DESC, label ASC). Synchronous updates + the total tie-break
    * make the result independent of partitioning and engine — a K-round
    * fit one SQL CTE chain replays bit-for-bit (the Lloyd's/PageRank
    * precedent; classic asynchronous LPA is RNG-ordered and
    * unreproducible by design).
    *
    * `edgesDistinct`: as in [[pageRank]] — caller guarantees a
    * deduplicated edge list with disjoint endpoint spaces, so the
    * symmetrize-dedup shuffle is skipped. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       rounds: Int = 3,
                       edgesDistinct: Boolean = false): DataFrame = {
    val sym = symmetrize(edges, srcCol, dstCol, edgesDistinct)
    // eager materialization while sym is cached, so the edge relation can
    // release before returning (r10 leaked it for the session's life);
    // the returned frame carries exactly one pinned RDD, swept by
    // Leaks.sweep between pipelines
    val (out, _) = checkpointTracked(labelPropagationPre(sym, rounds),
      eager = true)
    sym.unpersist()
    out
  }

  /** LPA over a pre-built [[symmetrize]]d edge relation. Each round is
    * ONE exchange: the count-then-argmax pair (groupBy(node,label).count
    * exchange + per-node row_number window exchange + sort of the r10
    * form) fuses into a single `mode(label, deterministic = true)` hash
    * aggregate grouped by node — most-frequent value, ties to the LOWEST,
    * which is exactly the (count DESC, label ASC) argmax the oracle
    * replays, computed by an exact per-group count map with map-side
    * partial merge and no sort anywhere. The per-round join is
    * exchange-free: `sym` is src-partitioned, and the label vector
    * arrives node(=src)-partitioned from the previous round's aggregate.
    *
    * Round 1 needs no join at all: labels₀ = identity over a DISTINCT
    * symmetric edge set means every neighbor label has count 1, so the
    * argmax degenerates to min(neighbor id).
    *
    * The whole K-round fit is one LAZY plan — no per-round
    * materialization, no pinned state, nothing to unpersist; at 3 fixed
    * rounds lineage stays shallow. (A delta-propagated variant — only
    * re-propagate changed labels — was built and MEASURED WORSE here:
    * 6.5 s vs 1.5 s at sf0.1, because synchronous LPA on a bipartite
    * graph oscillates, the changed-set never shrinks below ~all nodes
    * within 3 rounds, and the retract/assert explode doubles the rows
    * exchanged. Delta-LPA pays off only past the convergence knee;
    * see SCALE.md round 11.)
    *
    * `sym` is left persisted for the caller to reuse/release. */
  def labelPropagationPre(sym: DataFrame, rounds: Int = 3): DataFrame = {
    var labels = sym.groupBy(col("dst").as("node"))
      .agg(min("src").as("label"))
    for (_ <- 2 to rounds)
      labels = sym
        .join(labels.select(col("node").as("src"), col("label")), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(mode(col("label"), deterministic = true).as("label"))
    labels
  }

  /** Damped PageRank by power iteration — each round is ONE shuffle join
    * of the edge relation with the current rank vector plus ONE grouped
    * aggregation, i.e. the same shuffle-on-key shape as every other
    * operator here; nothing row-level ever reaches the driver.
    *
    * The edge list is symmetrized, so every node has out-degree ≥ 1 and
    * the dangling-mass correction term vanishes. Per-edge contributions
    * rank/deg accumulate through DECIMAL(30,12) (the q_v_centroids
    * discipline), which makes the rank vector BIT-IDENTICAL under any
    * partitioning or executor count — and therefore oracle-checkable
    * against an engine that sums in a different order.
    *
    * `iters` is small and fixed (power iteration converges geometrically
    * at rate `damping`); lineage stays shallow, no checkpointing needed.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 3, damping: Double = 0.85,
               teleport: Double = 0.15,
               edgesDistinct: Boolean = false): DataFrame = {
    // `edgesDistinct`: when the caller guarantees a deduplicated edge list
    // whose two endpoint spaces are disjoint (e.g. a bipartite graph with
    // even/odd node encoding), the symmetrized union cannot contain
    // duplicates and the global distinct — a full extra shuffle — is
    // skipped. symmetrize exchanges the edge list on `src` ONCE and
    // everything downstream (dedup, degree, per-iteration join) reuses
    // that partitioning exchange-free.
    val sym = symmetrize(edges, srcCol, dstCol, edgesDistinct)
    val out = pageRankPre(sym, iters, damping, teleport)
    sym.unpersist()
    out
  }

  /** PageRank over a pre-built [[symmetrize]]d edge relation (shared
    * across graph queries on the same graph). `sym` is left persisted
    * for the caller to reuse/release. */
  def pageRankPre(sym: DataFrame, iters: Int = 3, damping: Double = 0.85,
                  teleport: Double = 0.15): DataFrame = {
    // degree relation doubles as the node list (one row per node) — no
    // separate distinct shuffle; pinned because every iteration joins it
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // node count is a one-row scalar (the triangleCount precedent): the
    // Scala-side divisions below hit the same IEEE ops as the oracle's
    val nD = deg.count().toDouble
    val dec = org.apache.spark.sql.types.DecimalType(30, 12)
    var ranks = deg.select(col("src").as("node"), lit(1.0 / nD).as("rank"))
    for (_ <- 1 to iters) {
      // contribution rank/deg is CONSTANT per source node — divide and
      // decimal-cast ONCE per node, not once per edge (r14, guide §2.3:
      // the per-edge double division + double→Decimal(30,12) conversion
      // was the iteration's hottest expression at |E|/|V| ≈ 9 on the
      // bipartite graph; per-edge work is now one decimal accumulate).
      // The per-edge decimal VALUES are unchanged (same IEEE division,
      // same cast, evaluated on the node relation instead of each edge
      // copy), so every per-dst decimal sum — and the rank vector — is
      // bit-identical. Join alignment: ranks arrives node(=dst)-hash-
      // partitioned from the previous round's groupBy, deg is
      // src-partitioned, sym is src-partitioned — both joins and the
      // groupBy keep the ONE exchange per round.
      val contrib = ranks.join(deg.withColumnRenamed("src", "node"), "node")
        .select(col("node"), (col("rank") / col("deg")).cast(dec).as("__c"))
      ranks = sym.join(contrib, col("src") === col("node"))
        .groupBy("dst")
        .agg(sum(col("__c")).cast("double").as("__in"))
        .select(col("dst").as("node"),
          (lit(teleport / nD) + lit(damping) * col("__in")).as("rank"))
    }
    // ONE eager materialization of the final vector lets the pinned
    // inputs release before returning; the returned frame carries exactly
    // ONE pinned RDD (its own checkpoint), swept by Leaks.sweep between
    // pipelines. NO per-iteration checkpoint: `iters` is small and fixed
    // (round-4 lesson: eager per-round vectors leaked their blocks).
    val out = ranks.localCheckpoint(true)
    deg.unpersist()
    out
  }
}
