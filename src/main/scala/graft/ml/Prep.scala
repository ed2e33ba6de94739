package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Num._

/** Train/test splitting and fold assignment (SURVEY.md §2.7 M9-M13).
  * All splits are DETERMINISTIC given a seed: fold/row assignment is a
  * function of (key, seed) via md5 — reproducible across runs, engines and
  * cluster sizes, unlike positional RNG splits (SURVEY.md §7.4 hard part 1).
  */
object Split {

  /** Deterministic per-key "random" order key: md5(seed:key). Lexicographic
    * order on the fixed-length hex digest == numeric order on the 128-bit
    * hash, so it is expressible identically on any engine (incl. the
    * DuckDB oracle) without hex→int conversion. */
  def hashKey(key: Column, seed: Int): Column =
    md5(concat_ws(":", lit(seed), key))

  /** Uniform pseudo-random in [0,1) from a key column + seed (numeric
    * variant, for sampling ratios). */
  def hashUniform(key: Column, seed: Int): Column =
    conv(substring(hashKey(key, seed), 1, 8), 16, 10).cast("double") / 4294967296.0

  /** M9 — train/test split by key hash (≈ testFraction to test): the first
    * 8 hex digits of the hash, compared against the fraction's fixed hex
    * threshold (string compare ≡ numeric compare on fixed-width hex). */
  def tagHoldout(df: DataFrame, keyCol: String, testFraction: Double,
                 seed: Int = 42): DataFrame = {
    val threshold = f"${math.floor(testFraction * 4294967296.0).toLong}%08x"
    df.withColumn("split",
      when(substring(hashKey(col(keyCol), seed), 1, 8) < threshold, "test")
        .otherwise("train"))
  }

  /** M9 stratified — per-label exact-fraction holdout: rank rows within
    * each label by hash, cut at the per-label quantile. Deterministic,
    * value-identical to `row_number().over(partitionBy(label))` — but
    * computed SCALABLY: a window partitioned by a low-cardinality label
    * funnels the whole table into #labels tasks (measured at sf10: 2
    * tasks × 5M-row sorts, 15 s per execution — the ep1-chain
    * bottleneck), so the global per-label rank is decomposed instead as
    *
    *   rank = (# rows of the label in strictly-smaller hash BUCKETS)
    *        + (rank within this row's (label, bucket) micro-partition),
    *
    * with bucket = the hash's first 16 bits. The bucket histogram is a
    * ≤65536×labels aggregate (map-side combined, broadcast back), and
    * the in-bucket window sorts ~n/65536 rows per task at full shuffle
    * parallelism. Every term is a pure row-value function — no
    * partition-id dependence, nothing to pin, bit-stable under any
    * partitioning. */
  def tagStratifiedHoldout(df: DataFrame, keyCol: String, labelCol: String,
                           testFraction: Double, seed: Int = 42): DataFrame = {
    val withB = df
      .withColumn("__h", hashKey(col(keyCol), seed))
      // coalesce marks the bucket non-nullable (md5/conv never return
      // null here): otherwise the inner join's isnotnull pushdown lands
      // in only ONE branch and defeats the exchange reuse below
      .withColumn("__b", coalesce(
        conv(substring(col("__h"), 1, 4), 16, 10).cast("int"), lit(0)))
    // ONE pass up to the (label, bucket) exchange; both the offsets
    // branch and the main branch hang off the SAME ranked frame, so
    // Spark's ReuseExchange computes the expensive upstream (scan,
    // parse, md5) once — the per-bucket counts are read back as
    // max(in-bucket rank) from the shuffled data, not re-aggregated
    // from source (measured: the separate histogram scan doubled the
    // chain's small-scale wall).
    val wb = Window.partitionBy(col(labelCol), col("__b"))
      .orderBy(col("__h"), col(keyCol))
    val ranked = withB.withColumn("__ib", row_number().over(wb))
    val wc = Window.partitionBy("__l").orderBy("__cb")
    val offsets = ranked
      .groupBy(col(labelCol).as("__l"), col("__b").as("__cb"))
      .agg(max("__ib").as("__c"))
      .withColumn("__cum", sum("__c").over(wc))
      .withColumn("__prev", (col("__cum") - col("__c")).cast("long"))
      .withColumn("__n", sum("__c").over(Window.partitionBy("__l")))
    ranked.join(broadcast(offsets),
        col(labelCol) <=> col("__l") && col("__b") === col("__cb"))
      .withColumn("__rn", col("__ib").cast("long") + col("__prev"))
      .withColumn("split",
        when(col("__rn") <= col("__n") * testFraction, "test")
          .otherwise("train"))
      .drop("__h", "__b", "__l", "__cb", "__c", "__cum", "__prev",
        "__ib", "__rn", "__n")
  }

  /** M10 — deterministic modulo split (`i % k != holdout` → train).
    * Ref: iris_analysis.ipynb cell 7. */
  def tagModulo(df: DataFrame, keyCol: String, k: Int, holdout: Int): DataFrame =
    df.withColumn("split",
      when(pmod(col(keyCol), lit(k)) === holdout, "test").otherwise("train"))

  /** M11 — stratified K-fold assignment: within each label, order by key
    * hash and deal rows round-robin to folds (exactly balanced per label).
    * Ref: src/ensemble/stacking.py:44,53. */
  def tagStratifiedKFold(df: DataFrame, keyCol: String, labelCol: String,
                         k: Int, seed: Int = 42): DataFrame = {
    val w = Window.partitionBy(col(labelCol))
      .orderBy(hashKey(col(keyCol), seed), col(keyCol))
    df.withColumn("fold", pmod(row_number().over(w) - 1, lit(k)))
  }

  /** M13 — bootstrap resample (sampling with replacement at `ratio`× the
    * input size, in distribution): each row is replicated c times with
    * c ~ Binomial(nTrials, ratio/nTrials) ≈ Poisson(ratio), decided by
    * deterministic per-(row, trial) hashes. Narrow (no shuffle), exactly
    * reproducible for a given seed. Ref: src/ensemble/alternative.py:130-139. */
  def bootstrap(df: DataFrame, keyCol: String, ratio: Double = 1.0,
                seed: Int = 42, nTrials: Int = 8): DataFrame = {
    val threshold = f"${math.floor(ratio / nTrials * 4294967296.0).toLong}%08x"
    // unrolled per-trial expressions, NOT a transform/aggregate lambda chain:
    // higher-order functions are interpreted (no codegen), and the md5-per-
    // trial loop dominated this operator's benchmark time
    val copies = Seq.tabulate(nTrials) { d =>
      when(substring(hashKey(concat_ws("#", col(keyCol), lit(d)), seed), 1, 8)
        < threshold, 1).otherwise(0)
    }.reduce(_ + _)
    // sequence(1,0) would yield [1,0] (negative step), so guard zero copies
    df.withColumn("__rep",
        explode(when(copies >= 1, sequence(lit(1), copies))
          .otherwise(array().cast("array<int>"))))
      .drop("__rep")
  }
}

/** Imputation / scaling / encoding as fit-on-train → apply-to-both
  * transforms (SURVEY.md §2.4 A12-A14, §2.7 M1-M7). The fitted state is a
  * tiny per-column relation (medians/means/modes/vocab) — broadcast to the
  * apply side; never a driver-side row materialization. */
object Prep {

  /** A13/A14 — fit numeric imputation values on `train` (median or mean)
    * for `cols`; returns (column, fill_value) relation. Exact median via
    * `percentile` (not approx) so oracles match. */
  def fitImputer(train: DataFrame, cols: Seq[String],
                 strategy: String = "median"): DataFrame = {
    val aggs = cols.map { c =>
      (strategy match {
        case "median" => expr(s"percentile(`$c`, 0.5)")
        case "mean"   => davg(col(c))
      }).as(c)
    }
    train.agg(aggs.head, aggs.tail: _*)
      .unpivot(Array.empty[Column], cols.map(col).toArray, "column", "fill_value")
  }

  /** Apply fitted fill values (collected: O(#cols) scalars, not row data). */
  def impute(df: DataFrame, fitted: DataFrame): DataFrame = {
    val fills = fitted.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    fills.foldLeft(df) { case (acc, (c, v)) =>
      acc.withColumn(c, coalesce(col(c), lit(v)))
    }
  }

  /** A12 — mode imputation for categorical columns: deterministic mode
    * (most frequent, ties → smallest value) per column, fitted on train.
    * Ref: legacy/modeling.py:116-122. */
  def fitModeImputer(train: DataFrame, cols: Seq[String]): Map[String, String] =
    cols.map { c =>
      val top = train.filter(col(c).isNotNull)
        .groupBy(col(c).cast("string").as("v")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("v").asc).limit(1).collect()
      c -> (if (top.isEmpty) null else top(0).getString(0))
    }.toMap

  /** M1 — z-score scaling: fit (mean, std) on train via exact sums, apply
    * as a generated expression. Ref: src/models/logistic_regression.py:22-23. */
  def fitStandardScaler(train: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c => Seq(
      davg(col(c)).as(s"${c}__mean"), dstddevSamp(col(c)).as(s"${c}__std")))
    train.agg(aggs.head, aggs.tail: _*)
  }

  def standardScale(df: DataFrame, fitted: DataFrame, cols: Seq[String]): DataFrame = {
    val row = fitted.collect()(0)
    cols.foldLeft(df) { (acc, c) =>
      val m = row.getAs[Double](s"${c}__mean"); val s = row.getAs[Double](s"${c}__std")
      acc.withColumn(c, (col(c) - m) / s)
    }
  }

  /** M2 — robust scaling (median / IQR), exact percentiles. */
  def fitRobustScaler(train: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c => Seq(
      expr(s"percentile(`$c`, 0.5)").as(s"${c}__med"),
      (expr(s"percentile(`$c`, 0.75)") - expr(s"percentile(`$c`, 0.25)")).as(s"${c}__iqr")))
    train.agg(aggs.head, aggs.tail: _*)
  }

  def robustScale(df: DataFrame, fitted: DataFrame, cols: Seq[String]): DataFrame = {
    val row = fitted.collect()(0)
    cols.foldLeft(df) { (acc, c) =>
      acc.withColumn(c,
        (col(c) - row.getAs[Double](s"${c}__med")) / row.getAs[Double](s"${c}__iqr"))
    }
  }

  /** M3 — min-max scaling to [0,1]. */
  def fitMinMaxScaler(train: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c => Seq(
      min(col(c)).cast("double").as(s"${c}__min"),
      max(col(c)).cast("double").as(s"${c}__max")))
    train.agg(aggs.head, aggs.tail: _*)
  }

  def minMaxScale(df: DataFrame, fitted: DataFrame, cols: Seq[String]): DataFrame = {
    val row = fitted.collect()(0)
    cols.foldLeft(df) { (acc, c) =>
      val lo = row.getAs[Double](s"${c}__min"); val hi = row.getAs[Double](s"${c}__max")
      acc.withColumn(c, (col(c) - lo) / (hi - lo))
    }
  }

  /** M7 — ordinal/label encode: sorted-distinct → 0..k-1 dictionary, fitted
    * on train, applied by broadcast join (unseen → null, sklearn raises —
    * we surface null instead). The 0-based index is a distributed prefix
    * count over the distinct-value relation — a million-category vocabulary
    * fits this plan, where a global row_number window would not.
    * Ref: wine nb 03 cell 10. */
  def fitLabelEncoder(train: DataFrame, c: String): DataFrame = {
    val distinctVals = train.select(col(c)).filter(col(c).isNotNull).distinct()
      .withColumn("__one", lit(1L))
    graft.ops.Prefix.runningSum(distinctVals, Seq(col(c)), col("__one"), "__rk")
      .withColumn(s"${c}_idx", (col("__rk") - 1).cast("int"))
      .drop("__one", "__rk")
  }

  def labelEncode(df: DataFrame, vocab: DataFrame, c: String): DataFrame =
    df.join(broadcast(vocab), Seq(c), "left")

  /** M6 — one-hot encode with a FIXED category list (fit on train ⇒
    * train/test column sets agree by construction, avoiding the
    * reference's reconciliation dance at legacy/overfitting_experiment.py:128-144). */
  def oneHot(df: DataFrame, c: String, categories: Seq[String]): DataFrame =
    categories.foldLeft(df) { (acc, v) =>
      acc.withColumn(s"${c}_$v", when(col(c) === v, 1).otherwise(0))
    }

  /** A15/A16 — Pearson correlation matrix over `cols` in ONE aggregation
    * pass (all pairwise exact-decimal sums), returned as a (col_a, col_b,
    * corr) relation. O(k²) aggregate expressions, one shuffle-free pass —
    * the 100 TB shape (k is column count, not row count). */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    val pairs = for (i <- cols.indices; j <- cols.indices if i < j)
      yield (cols(i), cols(j))
    val aggs = pairs.map { case (a, b) =>
      dcorr(col(a), col(b)).as(s"$a|$b")
    }
    val onerow = df.agg(aggs.head, aggs.tail: _*)
    onerow.unpivot(Array.empty[Column], pairs.map(p => col(s"`${p._1}|${p._2}`")).toArray,
        "pair", "corr")
      .select(split(col("pair"), "\\|").getItem(0).as("col_a"),
        split(col("pair"), "\\|").getItem(1).as("col_b"), col("corr"))
  }

  /** A15/A16 fast path for FIXED-POINT data: exact Pearson from integer
    * moments. The caller supplies each column as a scaled-integer
    * expression (e.g. `round(x*100)` for 2-dp money); Pearson is
    * scale/shift invariant, so the scaling leaves r unchanged while making
    * every moment an exact integer. Two-level aggregation: per-partition
    * Long partial sums (overflow-free while partitionRows·maxProduct <
    * 2⁶³ — e.g. 10⁹ rows/partition at products ≤ 10⁸), then an exact
    * decimal(38,0) combine of the ~numPartitions partials. Integer sums
    * are order-independent, so the result is plan-deterministic AND
    * exact — and the per-row work is long arithmetic (codegen'd), not
    * decimal accumulation (measured ~10× cheaper at 600k rows). */
  def corrMatrixLong(df: DataFrame, cols: Seq[(String, Column)]): DataFrame = {
    val names = cols.map(_._1)
    val base = df.select(spark_partition_id().as("__pid") +:
      cols.map { case (n, e) => e.cast("long").as(n) }: _*)
    val pairs = for (i <- names.indices; j <- names.indices if i < j)
      yield (names(i), names(j))
    val partialAggs: Seq[Column] =
      (names.map(n => sum(col(n)).as(s"s_$n")) ++
        names.map(n => sum(col(n) * col(n)).as(s"ss_$n")) ++
        pairs.map { case (a, b) => sum(col(a) * col(b)).as(s"sp_${a}|${b}") }) :+
        count(lit(1)).as("cnt")
    val partials = base.groupBy("__pid").agg(partialAggs.head, partialAggs.tail: _*)
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val momentCols = partials.columns.filter(_ != "__pid")
    val finalAggs = momentCols.map(c => sum(col(s"`$c`").cast(dec)).as(c))
    val row = partials.agg(finalAggs.head, finalAggs.tail: _*).head()
    def m(name: String): BigInt =
      BigInt(row.getDecimal(momentCols.indexOf(name)).toBigInteger)
    val n = m("cnt")
    val spark = df.sparkSession
    import spark.implicits._
    pairs.map { case (a, b) =>
      val num = n * m(s"sp_${a}|${b}") - m(s"s_$a") * m(s"s_$b")
      val denx = n * m(s"ss_$a") - m(s"s_$a") * m(s"s_$a")
      val deny = n * m(s"ss_$b") - m(s"s_$b") * m(s"s_$b")
      val r = num.doubleValue / (math.sqrt(denx.doubleValue) * math.sqrt(deny.doubleValue))
      (a, b, r)
    }.toDF("col_a", "col_b", "corr")
  }

  /** A16 — greedy high-correlation pruning: walking pairs in column order,
    * drop the second column of any pair with |r| > threshold whose first
    * column survives (matches the reference's upper-triangle walk).
    * Ref: teamProject/utils/preprocessing.py:110-137. */
  def highCorrDrops(corr: DataFrame, cols: Seq[String], threshold: Double): Seq[String] = {
    val hot = corr.filter(abs(col("corr")) > threshold)
      .select("col_a", "col_b").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val idx = cols.zipWithIndex.toMap
    val sorted = hot.sortBy { case (a, b) => (idx(a), idx(b)) }
    val dropped = scala.collection.mutable.LinkedHashSet[String]()
    sorted.foreach { case (a, b) =>
      if (!dropped.contains(a) && !dropped.contains(b)) dropped += b
    }
    dropped.toSeq
  }
}
