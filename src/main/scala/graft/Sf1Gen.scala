package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev harness: synthesize an sf1-scale dataset (10x sf0.1) under the repo
  * so the full catalog can be dry-run at the next scale factor (SCALE.md).
  *
  * NOT a naive 10x replication — keys shift consistently so foreign-key
  * joins keep their sf0.1 selectivity (orders copy i references customer
  * copy i), and the text/vector tables are perturbed per copy so
  * similarity workloads scale LINEARLY the way a real 10x corpus does:
  *
  *  - documents: every word in copy i>0 gets a per-copy prefix — within a
  *    copy, shingle structure (and thus the near-dup pair set) is exactly
  *    sf0.1's; across copies, zero shared shingles. Pair counts scale 10x,
  *    not 100x (a verbatim replication would make every doc a 10-way
  *    exact duplicate — LSH buckets would blow up quadratically, which is
  *    a dedup stress test, not a scale-up).
  *  - embeddings: copy i circularly rotates the vector by i dims — norms
  *    and within-copy distances preserved, cross-copy similarity
  *    decorrelated.
  *
  * region/nation stay fixed (dimensions don't grow with scale factor).
  * Output: testdata-sf1/<table>.parquet directories (gitignored).
  */
object Sf1Gen {
  val Copies = 10

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("testdata-sf1")
    val spark = graft.core.Session.local(src, graft.core.Session.envCpus)
    spark.sparkContext.setLogLevel("WARN")

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    // key-space stride = max+1, computed from data (never collide copies)
    def stride(t: String, c: String): Long = {
      val row = read(t).agg(max(col(c))).head()
      require(!row.isNullAt(0), s"table $t is empty: max($c) is null")
      row.getAs[Number](0).longValue + 1L
    }

    val oOff = stride("orders", "o_orderkey")
    val cOff = stride("customer", "c_custkey")
    val sOff = stride("supplier", "s_suppkey")
    val pOff = stride("part", "p_partkey")
    val eOff = stride("events", "event_id")
    val uOff = stride("events", "user_id")
    val dOff = stride("documents", "doc_id")
    val vOff = stride("embeddings", "vec_id")

    /** Union `Copies` key-shifted images of `df`. `shift` maps (df, copy
      * index) to that copy's frame; copy 0 is always the original. */
    def replicate(df: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until Copies).map(i => if (i == 0) df else shift(df, i))
        .reduce(_ unionByName _)

    def bump(c: String, off: Long, i: Int) = col(c) + lit(off * i)

    def write(t: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[sf1gen] $t -> ${spark.read.parquet(s"$out/$t.parquet").count()} rows")
    }

    write("region", read("region"))
    write("nation", read("nation"))
    write("customer", replicate(read("customer")) { (df, i) =>
      df.withColumn("c_custkey", bump("c_custkey", cOff, i)) })
    write("supplier", replicate(read("supplier")) { (df, i) =>
      df.withColumn("s_suppkey", bump("s_suppkey", sOff, i)) })
    write("part", replicate(read("part")) { (df, i) =>
      df.withColumn("p_partkey", bump("p_partkey", pOff, i)) })
    write("orders", replicate(read("orders")) { (df, i) =>
      df.withColumn("o_orderkey", bump("o_orderkey", oOff, i))
        .withColumn("o_custkey", bump("o_custkey", cOff, i)) })
    write("lineitem", replicate(read("lineitem")) { (df, i) =>
      df.withColumn("l_orderkey", bump("l_orderkey", oOff, i))
        .withColumn("l_partkey", bump("l_partkey", pOff, i))
        .withColumn("l_suppkey", bump("l_suppkey", sOff, i)) })
    // same time range at 10x event density — scale grows the user
    // population, not the clock
    write("events", replicate(read("events")) { (df, i) =>
      df.withColumn("event_id", bump("event_id", eOff, i))
        .withColumn("user_id", bump("user_id", uOff, i)) })
    write("documents", replicate(read("documents")) { (df, i) =>
      df.withColumn("doc_id", bump("doc_id", dOff, i))
        .withColumn("text", concat_ws(" ",
          transform(split(col("text"), " "), w => concat(lit(s"c$i"), w))))
        .withColumn("n_chars", length(col("text"))) })
    write("embeddings", replicate(read("embeddings")) { (df, i) =>
      val n = size(col("embedding"))
      // rotate by i mod dim — safe for vectors shorter than the copy count
      val r = pmod(lit(i), n)
      df.withColumn("vec_id", bump("vec_id", vOff, i))
        .withColumn("embedding",
          concat(slice(col("embedding"), r + lit(1), n - r),
            slice(col("embedding"), lit(1), r))) })
    spark.stop()
  }
}
