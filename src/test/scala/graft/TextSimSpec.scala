package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.text.TextOps
import graft.sim.Similarity

class TextSimSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val sfDir = "/root/testdata/sf0.001"

  test("exactDedup keeps one row per content, min id, collapses dup rows") {
    val df = Seq(
      (3L, "the quick brown fox"),
      (1L, "the  quick brown fox "), // whitespace/normalization dup
      (2L, "something else"),
      (2L, "something else")         // true duplicate row
    ).toDF("id", "text")
    val out = TextOps.exactDedup(df, "id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.map(_._1).sorted.toSeq == Seq(1L, 2L))
  }

  test("jaccardShingles: identical=1, disjoint=0, partial in between") {
    val df = Seq(
      ("a b c d e f", "a b c d e f"),
      ("a b c d e f", "x y z w v u"),
      ("a b c d e f g h", "a b c d e f x y")).toDF("t1", "t2")
    val j = df.select(TextOps.jaccardShingles(col("t1"), col("t2"), 3).as("j"))
      .collect().map(_.getDouble(0))
    assert(j(0) == 1.0 && j(1) == 0.0 && j(2) > 0 && j(2) < 1)
  }

  test("minhash estimates jaccard and LSH finds planted near-dups") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val nearDup = base.replace("sigma", "sigmaX")
    val docs = Seq((0L, base), (1L, nearDup), (2L, "totally different words " +
      "one two three four five six seven eight nine ten eleven twelve"))
      .toDF("doc_id", "text")
    val pairs = TextOps.minhashNearDupPairs(docs, "doc_id", "text",
      numHashes = 32, bands = 16, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._2 == 2L || p._1 == 2L))
  }

  test("fast UDF minhash/simhash are bit-identical to the expression forms") {
    // the oracle SQL is written against the md5-expression forms; the fast
    // JVM UDFs must agree exactly or the near-dup oracles silently drift
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(30)
    val mh = docs.select(
      TextOps.minhashSignature(col("text"), 8).as("e"),
      TextOps.minhashSignatureFast(col("text"), 8).as("f"))
      .collect()
    mh.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
    val sh = docs.select(
      TextOps.simhash(col("text"), 32).as("e"),
      TextOps.simhashFast(col("text"), 32).as("f"))
      .collect()
    sh.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    val li = spark.read.parquet(s"$sfDir/documents.parquet").select(
      TextOps.langId(col("text")).as("e"),
      TextOps.langIdFast(col("text")).as("f"))
      .collect()
    li.foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  test("fast UDFs match expression forms on hostile whitespace and short docs") {
    // leading/trailing tabs/newlines: Java String.trim would strip these but
    // Spark/DuckDB trim strips only spaces — both forms now tokenize through
    // normalizeText semantics so they must agree; plus <3-token docs hit the
    // whole-string shingle fallback
    val hostile = Seq(
      "\tthe cat and the dog sat on the mat\n",
      "  el perro y el gato en la casa  ",
      "\n\ntab\tseparated\ttokens here\t\t",
      "two tokens",
      "one",
      "the and of to in is it that for was").toDF("text")
    val rows = hostile.select(
      TextOps.langId(col("text")).as("le"),
      TextOps.langIdFast(col("text")).as("lf"),
      TextOps.minhashSignature(col("text"), 8).as("me"),
      TextOps.minhashSignatureFast(col("text"), 8).as("mf"),
      TextOps.simhash(col("text"), 32).as("se"),
      TextOps.simhashFast(col("text"), 32).as("sf"))
      .collect()
    rows.foreach { r =>
      assert(r.getString(0) == r.getString(1), s"langId mismatch: $r")
      assert(r.getSeq[String](2) == r.getSeq[String](3), s"minhash mismatch: $r")
      assert(r.getLong(4) == r.getLong(5), s"simhash mismatch: $r")
    }
  }

  test("fast hyperplane signature is bit-identical to the expression form") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(40)
    val rows = e.select(
      Similarity.hyperplaneSignature(col("embedding"), 12, seed = 7).as("a"),
      Similarity.hyperplaneSignatureFast(col("embedding"), 12, seed = 7).as("b"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("simhash: identical → 0 hamming, near-dup closer than unrelated") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val near = base.replace("kappa", "kappaX")
    val far = "completely unrelated content about spark engines and queries"
    val df = Seq((0L, base), (1L, base), (2L, near), (3L, far)).toDF("id", "text")
      .select(col("id"), TextOps.simhash(col("text"), 32).as("sh"))
    val sh = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(sh(0L), sh(1L)) == 0)
    assert(ham(sh(0L), sh(2L)) < ham(sh(0L), sh(3L)))
  }

  test("langId picks the profile language") {
    val df = Seq(
      "the cat and the dog sat on the mat for a while",
      "el perro y el gato en la casa de la abuela con los amigos",
      "der hund und die katze sind nicht von der stadt").toDF("text")
      .select(TextOps.langId(col("text")).as("l"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("en", "es", "de"))
  }

  test("bpeish tokens split words, numbers and punctuation") {
    val n = Seq("hello, world! 42 times").toDF("t")
      .select(size(TextOps.bpeishTokens(col("t"))).as("n")).head.getInt(0)
    // hello , world ! 42 times → 6
    assert(n == 6)
  }

  test("cosine of a vector with itself is 1") {
    val df = Seq((1L, Array(0.6f, 0.8f))).toDF("vec_id", "embedding")
    val c = df.select(Similarity.cosine(col("embedding"), col("embedding")).as("c"))
      .head.getDouble(0)
    assert(math.abs(c - 1.0) < 1e-6)
  }

  test("LSH ANN recall vs brute force on sf0.001 embeddings") {
    val e = graft.core.Tables(spark, sfDir, "embeddings")
    val q = e.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(e, q, 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(e, q, 5, nPlanes = 4, nTables = 8)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    info(s"LSH recall@5 = $recall")
    // measured 0.78 once per-table seeds were fixed (identical tables had
    // made OR-amplification a no-op and recall was 0.16)
    assert(recall >= 0.5, s"LSH recall too low: $recall")
    // multiprobe (Hamming-radius-1 query probes, SAME corpus index) must
    // lift recall to >=0.9 — measured 0.98 at (4 planes, 8 tables)
    val mp = Similarity.lshTopK(e, q, 5, nPlanes = 4, nTables = 8,
        multiprobe = true)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mpRecall = (brute & mp).size.toDouble / brute.size
    info(s"multiprobe LSH recall@5 = $mpRecall")
    assert(mpRecall >= 0.9, s"multiprobe recall too low: $mpRecall")
    assert(mpRecall >= recall, "multiprobe must not lose recall")
  }

  test("IVF ANN recall vs brute force on sf0.001 embeddings") {
    val e = graft.core.Tables(spark, sfDir, "embeddings")
    val q = e.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(e, q, 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (centroids, assigned) = Similarity.ivfIndex(e, 8)
    val ivf = Similarity.ivfTopK(assigned, centroids, q, 5, nProbe = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    info(s"IVF recall@5 = $recall")
    assert(recall >= 0.3, s"IVF recall too low: $recall")
  }

  test("IVF recall is a cluster-structure property: near-perfect on blobs") {
    // the ~0.66 recall above is the ISOTROPIC-data floor (neighbors
    // spread uniformly over clusters, so expected recall ≈ probed mass —
    // the inverted-list assumption simply doesn't hold there; brute/LSH
    // multiprobe are the right index for such data). On a corpus with
    // actual cluster structure — the case IVF exists for — the same
    // operator at the same probe budget recovers nearly everything,
    // because true neighbors share the query's cluster.
    val dims = 32; val kClusters = 16; val perCluster = 30
    val rng = new scala.util.Random(11)
    val centers = Array.fill(kClusters) {
      val v = Array.fill(dims)(rng.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val rows = (0 until kClusters * perCluster).map { i =>
      val c = centers(i % kClusters)
      (i.toLong, c.map(x => x + 0.05f * rng.nextGaussian().toFloat).toSeq)
    }
    val e = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      .localCheckpoint(true)
    val q = e.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(e, q, 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (centroids, assigned) = Similarity.ivfIndex(e, kClusters)
    def recallAt(nProbe: Int): Double = {
      val ivf = Similarity.ivfTopK(assigned, centroids, q, 5, nProbe = nProbe)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (brute & ivf).size.toDouble / brute.size
    }
    val r1 = recallAt(1); val r4 = recallAt(4)
    info(f"blob IVF recall@5: nProbe=1 -> $r1%.2f, nProbe=4 -> $r4%.2f")
    assert(r4 >= 0.9, s"clustered-data IVF recall should be near 1: $r4")
    assert(r4 >= r1, "more probes must not lose recall")
    graft.ops.Leaks.sweep(spark)
  }

  test("exact-cosine paths agree: bruteForceTopK(exact) == two-stage exactCosineTopK") {
    // regression guard for the dotExact decimal-accumulator repair (its
    // lambda must return the accumulator's exact type or analysis fails
    // under the decimal precision-loss rule) — and ranking parity between
    // the single-expression exact path and the shared two-stage
    // prune-then-rescore path the oracles replay
    val e = graft.core.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter(col("vec_id") < 5)
    val direct = Similarity.bruteForceTopK(e, q, 5, exact = true)
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val pairs = e.select(col("vec_id").as("neighbor_id"))
      .crossJoin(broadcast(q.select(col("vec_id").as("query_id"))))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id")
    val staged = Similarity.exactCosineTopK(e, pairs, 5)
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(direct.nonEmpty && direct == staged,
      s"exact paths diverge: ${direct.toSet -- staged.toSet}")
  }

  test("adversarial decimal-tied corpus: the certified prune escalates and stays exact") {
    // 70 candidates engineered so their EXACT-decimal cosines tie
    // bit-for-bit (per-element DECIMAL(30,12) casts collapse b² into one
    // quantum: dot = 1 exactly, n2 = 1 + 1e-12 for every candidate)
    // while their FAST double cosines 1/sqrt(1+b²) order OPPOSITE to the
    // id tie-break (b decreases with id, ~2 double-ulps per step). The
    // exact ranking is therefore ids 1..5 (score ties -> id ASC), but
    // the fast top-(k+45)=50 heap keeps ids 21..70 — an uncertified
    // prune would return 21..25. The rank-k vs rank-(k+45) fast gap here
    // is ~2e-14 < pruneEps, so the query must escalate to a full exact
    // rescore and still return 1..5.
    val d = 8
    val rows = (0L, Array(1.0f) ++ Array.fill(d - 1)(0.0f)) +:
      (1 to 70).map { i =>
        val b = math.sqrt((1.0 + (71 - i) * 0.001) * 1e-12).toFloat
        (i.toLong, Array(1.0f, b) ++ Array.fill(d - 2)(0.0f))
      }
    val e = rows.toDF("vec_id", "embedding")
    val pairs = e.filter(col("vec_id") > 0)
      .select(lit(0L).as("query_id"), col("vec_id").as("neighbor_id"))
    val got = Similarity.exactCosineTopK(e, pairs, 5)
      .select("rank", "neighbor_id").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == Map(1 -> 1L, 2 -> 2L, 3 -> 3L, 4 -> 4L, 5 -> 5L),
      s"near-tie corpus broke the prune: $got")
    // prove the corpus has teeth: with the certificate disabled
    // (pruneEps = 0 certifies any positive gap, i.e. the pre-round-9
    // uncertified behavior) the prune DOES drop the true winners
    val uncert = Similarity.exactCosineTopK(e, pairs, 5, pruneEps = 0.0)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(uncert == Set(21L, 22L, 23L, 24L, 25L),
      s"adversarial corpus no longer defeats an uncertified prune: $uncert")
    // and the same corpus under a WIDE gap (clearly separated scores)
    // must not escalate away correctness either: top-3 of the filler-free
    // ranking equals brute force on a spread-out corpus
    val spread = (0L, Array(1.0f, 0.0f)) +: (1 to 30).map(i =>
      (i.toLong, Array(1.0f, i * 0.05f)))
    val e2 = spread.toDF("vec_id", "embedding")
    val p2 = e2.filter(col("vec_id") > 0)
      .select(lit(0L).as("query_id"), col("vec_id").as("neighbor_id"))
    val got2 = Similarity.exactCosineTopK(e2, p2, 3)
      .select("rank", "neighbor_id").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got2 == Map(1 -> 1L, 2 -> 2L, 3 -> 3L), s"spread corpus: $got2")
  }

  test("embedding near-dup pairs finds planted duplicates") {
    val e = graft.core.Tables(spark, sfDir, "embeddings").limit(50)
    val doubled = e.unionByName(
      e.select((col("vec_id") + 1000).as("vec_id"), col("embedding"), col("label")))
    val pairs = Similarity.cosineNearDupPairsExact(doubled, threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // every planted duplicate (id, id+1000) should be found
    val planted = (0 until 50).map(i => (i.toLong, i + 1000L)).toSet
    val found = pairs.toSet & planted
    info(s"planted near-dups found: ${found.size}/50")
    assert(found.size >= 45)
  }

  test("semanticDedupKeep keeps one representative per transitive dup group") {
    val e = graft.core.Tables(spark, sfDir, "embeddings").limit(60)
    // plant TRIPLES (id, id+1000, id+2000): pairwise cosine 1.0, so the
    // component closure must keep exactly the min id of each chain
    val tripled = e
      .unionByName(e.select((col("vec_id") + 1000).as("vec_id"),
        col("embedding"), col("label")))
      .unionByName(e.select((col("vec_id") + 2000).as("vec_id"),
        col("embedding"), col("label")))
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.semanticDedupKeep(df, threshold = 0.999, k = 4, iters = 2)
        .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val kept = run(tripled)
    assert(kept.size == 180)
    (0 until 60).foreach { i =>
      assert(kept(i.toLong), s"original $i must be kept")
      assert(!kept(i + 1000L) && !kept(i + 2000L), s"copies of $i must drop")
    }
    // and the keep set is invariant under a hostile repartitioning
    val kept2 = run(tripled.repartition(7, col("vec_id")))
    assert(kept2 == kept)
    graft.ops.Leaks.sweep(spark)
  }

  test("int8-quantized ANN recalls the float brute-force neighbors") {
    val e = graft.core.Tables(spark, sfDir, "embeddings")
    val brute = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val q8 = Similarity.int8Quantize(e)
    val int8 = Similarity.int8TopK(q8, q8.filter(col("vec_id") < 10), k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & int8).size.toDouble / brute.size
    info(s"int8 recall@5 = $recall")
    // int8 scores dot products (not cosine), so this is a sanity floor,
    // not parity — the oracle checks the quantized ranking exactly
    assert(recall >= 0.2, s"int8 recall too low: $recall")
    // quantized components stay within the int8 range
    val mx = q8.select(max(array_max(col("qvec"))), min(array_min(col("qvec"))))
      .head()
    assert(mx.getInt(0) <= 127 && mx.getInt(1) >= -127)
  }

  test("PQ codes reconstruct vectors well enough to rank neighbors") {
    val e = graft.core.Tables(spark, sfDir, "embeddings")
    val codes = Similarity.pqCodes(e).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    val books = Similarity.pqCodebooks(e).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getInt(2), r.getDouble(3))).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).sortBy(_._1).map(_._2) }
    val vecs = e.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    // reconstruction: concatenate the 8 chosen codewords per vector
    val recon = vecs.keys.map { id =>
      id -> (0 until 8).flatMap(s => books((s, codes((id, s))))).toArray
    }.toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i => d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val fidelity = vecs.keys.map(id => cos(vecs(id), recon(id))).sum / vecs.size
    info(f"mean cosine(original, PQ reconstruction) = $fidelity%.3f")
    assert(fidelity >= 0.5, f"PQ reconstruction too lossy: $fidelity%.3f")
    // asymmetric ranking through the compression: plant a duplicate of
    // each query vector and require ADC (true query vs reconstructed
    // corpus) to surface it at rank 1 — organic neighbors on this
    // synthetic corpus have sub-quantization-error margins, so top-k
    // recall is the wrong probe; duplicate retrieval is the one a dedup/
    // retrieval pipeline actually needs through 32× compression.
    val doubled = e.unionByName(
      e.select((col("vec_id") + 100000).as("vec_id"), col("embedding"),
        col("label")))
    val codes2 = Similarity.pqCodes(doubled).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    val books2 = Similarity.pqCodebooks(doubled).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getInt(2), r.getDouble(3))).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).sortBy(_._1).map(_._2) }
    val ids2 = vecs.keys.flatMap(id => Seq(id, id + 100000)).toSet
    val recon2 = ids2.map { id =>
      id -> (0 until 8).flatMap(s => books2((s, codes2((id, s))))).toArray
    }.toMap
    val queries = vecs.keys.filter(_ < 20)
    val top1Hits = queries.count { q =>
      val best = ids2.filter(_ != q).toSeq
        .sortBy(id => (-cos(vecs(q), recon2(id)), id)).head
      best == q + 100000
    }
    info(s"planted duplicate at ADC rank 1: $top1Hits/${queries.size} (32x compression)")
    assert(top1Hits >= queries.size * 8 / 10,
      s"PQ-ADC missed planted duplicates: $top1Hits/${queries.size}")
  }

  test("auto-sized SemDeDup k bounds within-cluster candidate growth at 10x input") {
    val e = graft.core.Tables(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    // 10× corpus of genuinely DISTINCT vectors: rotate each copy's
    // dimensions so the copies spread like the originals instead of
    // collapsing onto them (which would inflate pair counts legitimately)
    val tenX = (0 until 10).map { c =>
      e.select((col("vec_id") + c * 1000000L).as("vec_id"),
        concat(slice(col("embedding"), c + 1, 64 - c),
          slice(col("embedding"), 1, c)).as("embedding"))
    }.reduce(_ unionByName _)
    // candidate volume = Σ C(cluster size, 2) under the blocking k-means
    def candidatePairs(df: org.apache.spark.sql.DataFrame, k: Int): Long =
      graft.ml.KMeans.assignQuantized(df, "vec_id", "embedding", k, 64, 2)
        .groupBy("cluster").agg(count(lit(1)).as("s"))
        .agg(sum(col("s") * (col("s") - 1))).head.getLong(0) / 2
    val n = e.count(); val n10 = tenX.count()
    val target = 100L
    val k1 = Similarity.semDedupAutoK(n, target)
    val k10 = Similarity.semDedupAutoK(n10, target)
    // k1 sits on the floor (16 > n/target); at 10× the corpus the auto-k
    // must leave the floor and keep the EXPECTED cluster at ≤ target
    assert(k10 > k1 && k10 * target >= n10,
      s"auto-k must scale with the corpus: $k1 -> $k10 (n10=$n10)")
    val p1 = candidatePairs(e, k1)
    val p10auto = candidatePairs(tenX, k10)
    val p10fixed = candidatePairs(tenX, k1)
    info(s"candidate pairs: n=$n k=$k1 -> $p1; 10n auto k=$k10 -> $p10auto; " +
      s"10n FIXED k=$k1 -> $p10fixed")
    // fixed k grows ~quadratically (100×); auto-k must stay near-linear
    assert(p10auto < p10fixed,
      s"auto-k should beat fixed k at 10x input: $p10auto vs $p10fixed")
    assert(p10auto <= p1 * 35,
      s"auto-k candidate growth not bounded: $p1 -> $p10auto at 10x input")
    // and the auto entry point reproduces the pinned-k operator when the
    // floor applies (n / target <= 16)
    val auto = Similarity.semanticDedupKeepAuto(e, 0.999,
      targetClusterSize = 1000).orderBy("vec_id").collect()
    val pinned = Similarity.semanticDedupKeep(e, 0.999, k = 16)
      .orderBy("vec_id").collect()
    assert(auto.sameElements(pinned))
    graft.ops.Leaks.sweep(spark)
  }

  test("IVF-PQ ADC search surfaces planted duplicates; recall vs brute measured") {
    val e = graft.core.Tables(spark, sfDir, "embeddings")
    val q = e.filter(col("vec_id") < 10)
    // recall of the full compressed search (IVF probe + 32× PQ + ADC)
    // against exact float brute force — a MEASUREMENT (organic neighbors
    // on this synthetic corpus sit inside the quantization error, so the
    // floor is a sanity bound, not parity; the oracle checks the ADC
    // ranking itself exactly)
    val brute = Similarity.bruteForceTopK(e, q, 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val adc = Similarity.pqAdcTopK(e, q, 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & adc).size.toDouble / brute.size
    info(f"IVF-PQ ADC recall@5 vs float brute force = $recall%.2f")
    assert(recall >= 0.1, f"ADC recall collapsed: $recall%.2f")
    // the retrieval a dedup/index pipeline actually needs through the
    // compression: a planted exact duplicate must surface in the top-5
    // (same embedding → same IVF list and same codes → maximal ADC score)
    val doubled = e.unionByName(e.select((col("vec_id") + 100000).as("vec_id"),
      col("embedding"), col("label")))
    val hits = Similarity.pqAdcTopK(doubled, e.filter(col("vec_id") < 20), k = 5)
      .filter(col("neighbor_id") === col("query_id") + 100000).count()
    info(s"planted duplicate in ADC top-5: $hits/20 (32x compression)")
    assert(hits >= 16, s"ADC missed planted duplicates: $hits/20")
    // two-stage retrieval: exact rescoring of the ADC top-20 must not
    // lose recall vs raw ADC@5 — the exact stage can only fix orderings
    // inside the recalled set
    val rerank = Similarity.pqAdcRerank(e, q, k = 5, rerankFrom = 20)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rerankRecall = (brute & rerank).size.toDouble / brute.size
    info(f"ADC->exact rerank recall@5 vs brute = $rerankRecall%.2f (ADC alone: $recall%.2f)")
    assert(rerankRecall >= recall,
      f"exact rerank must not lose recall: $rerankRecall%.2f < $recall%.2f")
    // residual encoding (the FAISS IVFPQ form): codebooks trained on
    // x − centroid(x). MEASURED, not assumed: on THIS corpus (synthetic
    // near-uniform embeddings, no cluster structure) residuals spread as
    // wide as the raw vectors, so the classical recall win doesn't
    // materialize (0.10 vs 0.18 raw at the same index bytes) — residual
    // encoding pays off when the corpus actually clusters around the IVF
    // centroids. The STRUCTURAL guarantees still hold and are asserted:
    // sane recall floor here, and planted duplicates at rank 1 below.
    val residual = Similarity.pqResidualAdcTopK(e, q, 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val residualRecall = (brute & residual).size.toDouble / brute.size
    info(f"residual-PQ ADC recall@5 vs brute = $residualRecall%.2f (raw-vector ADC: $recall%.2f)")
    assert(residualRecall >= 0.05,
      f"residual ADC recall collapsed: $residualRecall%.2f")
    // planted exact duplicates through the residual index: the duplicate
    // shares list AND codes with its query, but its score is dot(q, c+r̂)
    // — reconstruction-accurate, and residual reconstructions are WORSE
    // here (unclustered corpus: var(x−c) ≈ var(x)+var(c)), so a majority
    // floor, not the raw index's 20/20
    val rHits = Similarity.pqResidualAdcTopK(doubled,
        e.filter(col("vec_id") < 20), k = 5)
      .filter(col("neighbor_id") === col("query_id") + 100000).count()
    info(s"planted duplicate in residual-ADC top-5: $rHits/20 (raw index: $hits/20)")
    assert(rHits >= 10, s"residual ADC lost most planted duplicates: $rHits/20")
    graft.ops.Leaks.sweep(spark)
  }

  test("residual IVF-PQ beats raw PQ on a clustered corpus (the case it exists for)") {
    // Gaussian blobs around unit centers, ONE IVF centroid per cluster
    // (nCentroids = kClusters): the coarse quantizer captures the cluster
    // structure, so residuals are tight noise and the residual codebooks
    // spend their 4 bits on a far smaller support than raw-vector
    // codebooks, which must blur 64 cluster patterns into 16 codewords
    // per subspace. Measured across a 5-seed sweep during construction:
    // residual ≥ raw at EVERY seed (e.g. 0.80/0.74/0.74/0.68/0.78 vs
    // 0.76/0.74/0.72/0.66/0.74 @5). The shipped embeddings table is
    // near-uniform (no cluster structure), where the win provably cannot
    // materialize — this fixture supplies it; SCALE.md records the
    // honest converse sweep too (coarse quantizer UNmatched to the
    // cluster count → raw codes win; pick the index form by whether the
    // corpus clusters at the coarse quantizer's resolution).
    val dims = 64; val kClusters = 64; val perCluster = 8
    def fixture(seed: Int) = {
      val rng = new scala.util.Random(seed)
      val centers = Array.fill(kClusters) {
        val v = Array.fill(dims)(rng.nextGaussian())
        val n = math.sqrt(v.map(x => x * x).sum)
        v.map(x => (x / n).toFloat)
      }
      val rows = (0 until kClusters * perCluster).map { i =>
        val c = centers(i % kClusters)
        val v = c.map(x => x + 0.05f * rng.nextGaussian().toFloat)
        (i.toLong, v.toSeq)
      }
      rows.toDF("vec_id", "embedding")
        .select(col("vec_id"),
          col("embedding").cast("array<float>").as("embedding"))
    }
    def topSet(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recalls = Seq(7, 13, 23).map { seed =>
      val e = fixture(seed).cache()
      val q = e.filter(col("vec_id") < 10) // 10 queries across 10 clusters
      val brute = topSet(Similarity.bruteForceTopK(e, q, 5))
      val raw = topSet(Similarity.pqAdcTopK(e, q, 5,
        nCentroids = kClusters, nProbe = 4, iters = 8))
      val res = topSet(Similarity.pqResidualAdcTopK(e, q, 5,
        nCentroids = kClusters, nProbe = 4, iters = 8))
      e.unpersist()
      ((brute & raw).size.toDouble / brute.size,
        (brute & res).size.toDouble / brute.size)
    }
    val rawMean = recalls.map(_._1).sum / recalls.size
    val resMean = recalls.map(_._2).sum / recalls.size
    info(f"clustered corpus recall@5 over ${recalls.size} seeds: residual $resMean%.3f vs raw $rawMean%.3f")
    assert(resMean >= rawMean,
      f"residual encoding must win on clustered data: $resMean%.3f < $rawMean%.3f")
    assert(resMean >= 0.6, f"residual recall on clustered data too low: $resMean%.3f")
    graft.ops.Leaks.sweep(spark)
  }

  test("directional ingest dedup surfaces every planted corpus copy") {
    val docs = graft.core.Tables(spark, sfDir, "documents")
    val corpus = docs.filter(col("source") =!= "src0")
    val planted = corpus.filter(col("doc_id") % 10 === 0)
    val batch = docs.filter(col("source") === "src0")
      .unionByName(planted.withColumn("doc_id", col("doc_id") + 50000))
    val pairs = TextOps.minhashNearDupAgainst(corpus, batch, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    val expect = planted.select("doc_id").collect().map(_.getLong(0)).toSet
    // every planted (copy, original) pair found with exact jaccard 1.0
    val found = pairs.filter { case (b, c, j) => b == c + 50000 && j == 1.0 }
      .map(_._2).toSet
    assert(found == expect, s"missing: ${(expect -- found).take(5)}")
    // directional: every pair is batch-side id × corpus-side id
    val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    val corpusIds = corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(pairs.forall { case (b, c, _) =>
      batchIds.contains(b) && corpusIds.contains(c) })
    graft.ops.Leaks.sweep(spark)
  }

  test("bigramLmScore: corpus-typical text outscores gibberish; edge docs handled") {
    // corpus of repetitive natural-ish sentences + one gibberish doc whose
    // bigrams never occur elsewhere: the LM (fitted on everything) must
    // rank the gibberish far below every in-distribution doc — the CCNet
    // perplexity-gate signal
    val normal = (0 until 40).map(i =>
      (i.toLong, s"the cat sat on the mat and the dog sat on the rug $i"))
    val corpus = (normal ++ Seq(
        (100L, "zxq wvu plk mno qrs tuv bcd efg hij klm"),
        (101L, "single"),        // 1 token -> no bigrams -> dropped
        (102L, "two tokens")))   // exactly one bigram
      .toDF("doc_id", "text")
    val scored = TextOps.bigramLmScore(corpus, corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2))).toMap
    assert(!scored.contains(101L), "single-token doc must be dropped")
    assert(scored(102L)._1 == 1L)
    val gib = scored(100L)._2
    val normals = normal.map(_._1).map(id => scored(id)._2)
    assert(normals.forall(_ > gib),
      s"gibberish avg_lp $gib must be below every normal doc (min ${normals.min})")
    graft.ops.Leaks.sweep(spark)
  }

  test("sharedSpanPairs finds embedded verbatim runs and prunes stop-grams") {
    val quote = "one two three four five six seven eight nine ten"
    val docs = Seq(
      (0L, s"opening words here $quote closing words here"),
      (1L, s"completely different frame $quote and another ending"),
      (2L, "no overlap with anything at all in this document body text"),
      // a MinHash-style near-dup of doc 2 with most tokens changed would
      // NOT pair: substring dedup needs a verbatim k-run, not set overlap
      (3L, "no overlap with anything at all gets cut well before k run")
    ).toDF("doc_id", "text")
    val pairs = TextOps.sharedSpanPairs(docs, "doc_id", "text", k = 8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // the shared 10-token run contributes 10-8+1 = 3 shared 8-grams
    assert(pairs.keySet == Set((0L, 1L)), s"got ${pairs.keySet}")
    assert(pairs((0L, 1L)) == 3L)
    // boilerplate pruning: a template gram pasted into > maxDocFreq docs
    // produces ZERO pairs instead of a quadratic blow-up
    val boiler = (0L until 8L).map(i => (i, s"$quote unique$i")).toDF("doc_id", "text")
    val pruned = TextOps.sharedSpanPairs(boiler, "doc_id", "text",
      k = 8, maxDocFreq = 4).count()
    assert(pruned == 0L)
  }

  test("editNearDupPairs (exhaustive mode): exact distances, band-boundary pairs not lost") {
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val docs = Seq(
      (0L, base),
      (1L, base.replace("quick", "quack")),        // distance 1
      (2L, base + " " + ("x" * 40)),               // len diff 41 > maxDist
      (3L, "an entirely different sentence about structured streaming state")
    ).toDF("doc_id", "text").withColumn("lang", lit("en"))
    // minhashBands = 0: the provably-complete length-band-only semantics
    val out = TextOps.editNearDupPairs(docs, "doc_id", "text",
      maxDist = 8, blockCols = Seq("lang"), minhashBands = 0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(out.keySet == Set((0L, 1L)), s"got ${out.keySet}")
    assert(out((0L, 1L)) == 1)
    // blocking completeness: lengths chosen to straddle a band boundary
    // (bw = maxDist+1 = 9: len 8 -> band 0, len 12 -> band 1) — the
    // two-key emission must still produce the candidate
    val edge = Seq((0L, "aaaabbbb"), (1L, "aaaabbbbcccc")).toDF("doc_id", "text")
    val e = TextOps.editNearDupPairs(edge, "doc_id", "text", maxDist = 8,
      minhashBands = 0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(e == Map((0L, 1L) -> 4))
  }

  /** Deterministic synthetic corpus: n unique 60-token docs of identical
    * length (every doc lands in the same length band — the worst case for
    * length-only blocking) + one planted single-char-edit dup per 10 docs.
    * Token sets are pairwise disjoint across base docs (stride argument:
    * 31·Δi = 7·Δt has no solution with |Δt| < 31), so unique docs share
    * no shingles. */
  private def editCorpus(n: Int) = {
    val rows = (0L until n.toLong).flatMap { i =>
      val toks = (0 until 60).map(t => f"w${(i * 421 + t * 7) % 10000000}%07d")
      val text = toks.mkString(" ")
      val self = Seq((i, text))
      if (i % 10 == 0) self :+ (n + i, text.replaceFirst("w", "v"))
      else self
    }
    rows.toDF("doc_id", "text")
  }

  test("editNearDupPairs composed default: high planted-dup recall, candidates grow linearly") {
    import org.apache.spark.sql.DataFrame
    def candidatePairs(df: DataFrame, bands: Int): Long = {
      // raw within-block pair count straight off the band keys:
      // Σ_bucket C(size, 2) — what the band join would enumerate
      val (_, keyed) = TextOps.editBlockKeyed(df, "doc_id", "text",
        maxDist = 8, blockCols = Nil, minhashBands = bands, minhashSigs = 16,
        shingleN = 3)
      keyed.groupBy("band").count()
        .agg(sum(col("count") * (col("count") - 1) / 2)).head().getDouble(0).toLong
    }
    val small = editCorpus(200).cache()
    val big = editCorpus(2000).cache()
    // recall (the documented contract is minhash-candidacy-scoped, so
    // this is a MEASURED recall floor, not completeness): a 1-char edit
    // on a 60-token doc changes ≤3 of 58 shingles → est jaccard ≈ 0.95 →
    // per-band match ~0.81, any-of-4 ~99.9%. Deterministic given md5.
    val found = TextOps.editNearDupPairs(small, "doc_id", "text", maxDist = 8,
        minhashBands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0L until 200L by 10).map(i => (i, 200L + i)).toSet
    val recall = (planted & found).size.toDouble / planted.size
    info(s"planted-dup recall under composed default: $recall")
    assert(recall >= 0.9, s"recall $recall; missing ${planted -- found}")
    // scale: composed blocking keeps candidate growth ~linear at 10×
    // input, while length-band-only growth is quadratic on this corpus
    val cSmall = candidatePairs(small, 4); val cBig = candidatePairs(big, 4)
    val lSmall = candidatePairs(small, 0); val lBig = candidatePairs(big, 0)
    info(s"composed candidates: $cSmall -> $cBig; length-only: $lSmall -> $lBig")
    assert(cBig <= 20L * math.max(cSmall, 1L),
      s"composed blocking must stay ~linear: $cSmall -> $cBig")
    assert(lBig >= 50L * math.max(lSmall, 1L),
      s"length-only blocking should be quadratic on this corpus: $lSmall -> $lBig")
    small.unpersist(); big.unpersist()
  }

  test("embed near-dup: LSH blocking recall is 1.0 vs BRUTE FORCE, and " +
    "the fixture's organic cosines stay under the margin") {
    // The r12 q_x_embed_neardup oracle replays the engine's own LSH
    // blocking (the sf10-feasible discipline), so the oracle no longer
    // verifies blocking recall INDEPENDENTLY — that proof lives here,
    // at the scales where exhaustive comparison is tractable: the full
    // O(n²) exact-cosine pair relation vs the blocked operator, plus
    // the fixture margin the blocking's recall argument rests on
    // (qualifying pairs are planted EXACT duplicates, which land in
    // the same bucket of every hyperplane table by construction; a
    // future fixture with ORGANIC near-dups above ~0.9 would void that
    // argument, and this test is what catches it).
    import graft.queries.Fixtures
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val e0 = spark.read.parquet(s"/root/testdata/$sf/embeddings.parquet")
        .select("vec_id", "embedding")
      val u = Fixtures.assertNoAlias(e0, "vec_id").unionByName(
        e0.select(Fixtures.shifted(col("vec_id")).as("vec_id"),
          col("embedding")))
      // brute force via the codegen'd fast cosine: fast-vs-exact differs
      // sub-ulp while every comparison here has ~0.5 of margin (planted
      // duplicates score 1.0, organic pairs < 0.52, thresholds at 0.999
      // and 0.9) — the decimal-exact explode form computed the same sets
      // in ~100× the time (8M pairs × 64-dim posexplode on the test
      // session) and was the single slowest test in the suite
      val brute = u.select(col("vec_id").as("id_a"), col("embedding").as("va"))
        .crossJoin(u.select(col("vec_id").as("id_b"), col("embedding").as("vb")))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          Similarity.cosine(col("va"), col("vb")).as("cosine"))
      val bruteQual = brute.filter(col("cosine") >= 0.999)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val blocked = Similarity.cosineNearDupPairsExact(u, threshold = 0.999)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(blocked == bruteQual,
        s"$sf: blocking recall hole: missed ${bruteQual -- blocked}, " +
          s"extra ${blocked -- bruteQual}")
      assert(bruteQual.nonEmpty, s"$sf: fixture planted no qualifying pairs")
      // organic margin: excluding the planted (id, id+Stride) pairs,
      // cosines must stay far below the 0.999 threshold
      val organicMax = brute
        .filter(col("id_b") =!= col("id_a") + lit(Fixtures.Stride))
        .agg(max("cosine")).head.getDouble(0)
      assert(organicMax < 0.9,
        s"$sf: organic cosine $organicMax erodes the recall margin — " +
          "the blocked oracle's fixture argument no longer holds")
    }
  }
}
