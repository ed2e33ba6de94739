package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ml.{Extras, Split}

class ExtrasSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** learnable 3-class data. */
  def learnable(n: Int = 600) = {
    val u = (c: Int) => Split.hashUniform(concat_ws("#", col("id"), lit(c)), 21)
    spark.range(n).select(col("id").as("vec_id"),
      pmod(col("id"), lit(3)).cast("double").as("y"),
      (pmod(col("id"), lit(3)) * 2.0 + u(0)).as("f0"),
      (pmod(col("id"), lit(3)) * -1.5 + u(1)).as("f1"),
      u(2).as("f2"))
  }

  test("permuteColumn preserves the multiset of values") {
    val df = learnable(100)
    val perm = Extras.permuteColumn(df, "vec_id", "f0", seed = 5)
    assert(perm.count() == 100)
    val a = df.select("f0").collect().map(_.getDouble(0)).sorted
    val b = perm.select("f0").collect().map(_.getDouble(0)).sorted
    assert(a === b)
    // and it is not the identity permutation
    val moved = df.select("vec_id", "f0").join(
      perm.select(col("vec_id"), col("f0").as("f0p")), Seq("vec_id"))
      .filter(col("f0") =!= col("f0p")).count()
    assert(moved > 50)
  }

  test("PCA projects to k components capturing the class direction") {
    val df = learnable(300)
    val out = Extras.pcaProject(df, Seq("f0", "f1", "f2"), k = 2)
    assert(out.select("pca").head.getSeq[Double](0).size == 2)
    // first component separates classes: corr(|pc1|, y) strong
    val c = out.select(element_at(col("pca"), 1).as("pc1"), col("y"))
      .agg(abs(corr(col("pc1"), col("y")))).head.getDouble(0)
    info(s"corr(pc1, y)=$c")
    assert(c > 0.7)
  }
}
