package graft.ml

import org.apache.spark.ml.feature.{PCA, VectorAssembler}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Remaining model-surface items from SURVEY.md §2.7-2.8 that need
  * composition rather than a single MLlib estimator. */
object Extras {

  /** Global 1..n rank by a hash key WITHOUT any single-partition window:
    * rank inside 256 hash-prefix buckets in parallel, then add per-bucket
    * offsets computed by a broadcast self-join over the 256 bucket-count
    * rows (graft.ops.Prefix.bucketOffsets — bounded by construction). The
    * bucket is a PREFIX of the order key, so bucket order is consistent
    * with the global order. Adds `rankCol`; `__h` is the order key.
    * Public surface: the deterministic epoch-shuffle position every
    * training-data pipeline needs (oracle: row_number over md5(seed:key)). */
  def hashRank(df: DataFrame, keyCol: String, seed: Int,
               rankCol: String): DataFrame = {
    val bucketed = df
      .withColumn("__h", Split.hashKey(col(keyCol), seed))
      .withColumn("__b", substring(col("__h"), 1, 2))
    val wLocal = Window.partitionBy(col("__b"))
      .orderBy(col("__h"), col(keyCol))
    val cnts = bucketed.groupBy("__b").agg(count(lit(1)).as("__n"))
    val offsets = graft.ops.Prefix.bucketOffsets(cnts, "__b", Seq("__n" -> "__off"))
    bucketed.withColumn("__lr", row_number().over(wLocal))
      .join(broadcast(offsets), Seq("__b"))
      .withColumn(rankCol, col("__off") + col("__lr"))
      .drop("__h", "__b", "__lr", "__off")
  }

  /** Permute ONE feature column (deterministic md5-rank rotation — a
    * derangement-free but uniform permutation), the step M14 permutation
    * importance repeats per feature (the catalog's exact M14 is
    * `q_m14_perm_importance` in R10Queries). Distributed: the
    * permutation is a self-join on shifted ranks, never a driver
    * materialization nor a single-partition global sort (see [[hashRank]]).
    * Ref: wine nb 11 cell 46. */
  def permuteColumn(df: DataFrame, idCol: String, c: String, seed: Int): DataFrame = {
    val ranked = hashRank(df, idCol, seed, "__rn")
    val n = df.count()
    val shifted = ranked.select(
      (pmod(col("__rn"), lit(n)) + 1).as("__rn"), col(c).as("__perm"))
    ranked.join(shifted, Seq("__rn"))
      .drop(c, "__rn").withColumnRenamed("__perm", c)
  }

  /** M15 — PCA projection of assembled features to `k` components. */
  def pcaProject(df: DataFrame, featureCols: Seq[String], k: Int,
                 out: String = "pca"): DataFrame = {
    val assembled = new VectorAssembler().setInputCols(featureCols.toArray)
      .setOutputCol("__feat").transform(df)
    val model = new PCA().setInputCol("__feat").setOutputCol(out).setK(k)
      .fit(assembled)
    model.transform(assembled).drop("__feat")
      .withColumn(out, vector_to_array(col(out)))
  }
}
