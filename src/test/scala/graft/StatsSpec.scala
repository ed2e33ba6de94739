package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.stats._

/** Reference constants independently computed with plain (non-Spark,
  * non-DuckDB) arithmetic on the fixtures below. */
class StatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val a = Seq(2.1, 3.5, 1.2, 4.8, 3.3, 2.9, 5.1, 0.7, 3.8, 2.2)
  val b = Seq(3.0, 4.1, 2.5, 5.5, 4.0, 3.1, 6.2, 1.0, 4.5, 2.8)

  def twoGroups = (a.map(("a", _)) ++ b.map(("b", _))).toDF("g", "v")
  def paired = a.zip(b).map { case (x, y) => x - y }.toDF("d")

  test("welch t-test matches independent computation") {
    val r = Tests.welchT(twoGroups, "v", "g", "a", "b").head
    assert(math.abs(r.getAs[Double]("t") - (-1.0735554365027022)) < 1e-9)
    assert(math.abs(r.getAs[Double]("df") - 17.946117184820753) < 1e-9)
  }

  test("paired t-test matches") {
    val r = Tests.pairedT(paired, "d").head
    assert(math.abs(r.getAs[Double]("t") - (-6.773005957975713)) < 1e-9)
  }

  test("spearman matches") {
    val df = a.zip(b).toDF("x", "y")
    val rho = Tests.spearman(df, "x", "y").head.getDouble(0)
    assert(math.abs(rho - 0.9878787878787879) < 1e-9)
  }

  test("mann-whitney matches") {
    val r = Tests.mannWhitneyU(twoGroups, "v", "g", "a", "b").head
    assert(r.getAs[Double]("u1") == 37.0)
    assert(math.abs(r.getAs[Double]("z") - (-0.9827076298239908)) < 1e-9)
  }

  test("wilcoxon signed-rank matches") {
    val r = Tests.wilcoxonSignedRank(paired, "d").head
    assert(r.getAs[Double]("w_plus") == 0.0)
    assert(r.getAs[Double]("n") == 10.0)
    // |d| ties: 0.7×3, 0.6×2 → tie term Σ(τ³−τ) = 30;
    // z = (0 − 27.5) / sqrt(10·11·21/24 − 30/48)
    assert(math.abs(r.getAs[Double]("z") - (-27.5 / math.sqrt(95.625))) < 1e-9)
  }

  test("wilcoxon exact tail matches the classical tables (no ties)") {
    // ranks of |d| are 1..5; positives at ranks {2,3,4,5} → W+ = 14;
    // exact one-sided p = P(W+ ≥ 14) = 2/32 (classical n=5 table)
    val d5 = Seq(0.1, 0.2, -0.05, 0.3, 0.15).toDF("d")
    val r = Tests.wilcoxonSignedRankExact(d5, "d").head
    assert(r.getAs[Double]("w_plus") == 14.0)
    assert(r.getAs[Long]("n") == 5L)
    assert(r.getAs[Double]("p_greater") == 0.0625)
    // all-positive distinct: W+ = 15, p = 1/32
    val allPos = Seq(0.1, 0.2, 0.3, 0.4, 0.5).toDF("d")
    val r2 = Tests.wilcoxonSignedRankExact(allPos, "d").head
    assert(r2.getAs[Double]("w_plus") == 15.0)
    assert(r2.getAs[Double]("p_greater") == 1.0 / 32)
    // n=10, W+ = 8 (positive only at rank 8): P(W+ ≤ 8) = 25/1024 —
    // the published one-sided critical value at α = 0.025
    val d10 = (1 to 10).map(i => if (i == 8) 8.0 else -i.toDouble).toDF("d")
    val r3 = Tests.wilcoxonSignedRankExact(d10, "d").head
    assert(r3.getAs[Double]("w_plus") == 8.0)
    assert(r3.getAs[Double]("p_less") == 25.0 / 1024)
  }

  test("wilcoxon exact tail matches brute-force enumeration with ties") {
    val diffs = Seq(0.5, 0.5, -0.5, 1.0, 1.0, -2.0)
    val r = Tests.wilcoxonSignedRankExact(diffs.toDF("d"), "d").head
    // brute force: midrank |d| (doubled to stay integer), enumerate all
    // 2^m sign assignments, count those reaching the observed W2+
    val absd = diffs.map(math.abs)
    val r2s = diffs.map { d =>
      val below = absd.count(_ < math.abs(d))
      val tied = absd.count(_ == math.abs(d))
      2L * (below + 1) + tied - 1
    }
    val w2obs = diffs.zip(r2s).collect { case (d, r2) if d > 0 => r2 }.sum
    val m = diffs.length
    val sums = (0 until (1 << m)).map(mask =>
      r2s.indices.collect { case i if (mask & (1 << i)) != 0 => r2s(i) }.sum)
    val pG = sums.count(_ >= w2obs).toDouble / (1 << m)
    val pL = sums.count(_ <= w2obs).toDouble / (1 << m)
    assert(r.getAs[Double]("w_plus") == w2obs.toDouble / 2)
    assert(r.getAs[Double]("p_greater") == pG)
    assert(r.getAs[Double]("p_less") == pL)
    assert(r.getAs[Double]("p_two_sided") == math.min(1.0, 2 * math.min(pG, pL)))
  }

  test("wilcoxon exact agrees with the large-n operator's W+ and refuses past the bound") {
    val r = Tests.wilcoxonSignedRankExact(paired, "d").head
    val rn = Tests.wilcoxonSignedRank(paired, "d").head
    assert(r.getAs[Double]("w_plus") == rn.getAs[Double]("w_plus"))
    assert(r.getAs[Double]("p_greater") == 1.0) // W+ = 0 → every mask ≥ 0
    val big = (1 to 30).map(_.toDouble).toDF("d")
    intercept[IllegalArgumentException] {
      Tests.wilcoxonSignedRankExact(big, "d", maxN = 25)
    }
  }

  test("wilcoxon exact at n=40 reproduces the published critical values") {
    // published two-sided critical values of T = min(W+, W−) at n = 40:
    // T₀.₀₅ = 264 and T₀.₀₁ = 220 (standard signed-rank tables) — i.e.
    // 2·P(W ≤ 264) ≤ .05 < 2·P(W ≤ 265) and 2·P(W ≤ 220) ≤ .01 <
    // 2·P(W ≤ 221). Construct n = 40 distinct-magnitude diffs whose
    // negative ranks sum to exactly the target T, so W− = T.
    def diffsWithWMinus(t: Long): Seq[Double] = {
      // greedy: take ranks 40, 39, ... while they fit, then the remainder
      var rem = t
      val neg = scala.collection.mutable.Set[Int]()
      var r = 40
      while (rem > 0 && r >= 1) {
        if (r <= rem && !neg(r)) { neg += r; rem -= r }
        r -= 1
      }
      assert(rem == 0, s"cannot realize T=$t")
      (1 to 40).map(i => if (neg(i)) -i.toDouble else i.toDouble)
    }
    def p2(t: Long): Double = Tests
      .wilcoxonSignedRankExact(diffsWithWMinus(t).toDF("d"), "d")
      .head.getAs[Double]("p_two_sided")
    val (p264, p265) = (p2(264), p2(265))
    val (p220, p221) = (p2(220), p2(221))
    assert(p264 <= 0.05 && p265 > 0.05, s"T=264/265 gave $p264 / $p265")
    assert(p220 <= 0.01 && p221 > 0.01, s"T=220/221 gave $p220 / $p221")
    // the exact fractions themselves (independent python DP over the
    // 2^40 sign assignments): 2·P(W ≤ 264) and 2·P(W ≤ 220)
    assert(math.abs(p264 - 0.049760567819248536) < 1e-12, s"p264=$p264")
    assert(math.abs(p220 - 0.009781997654499719) < 1e-12, s"p220=$p220")
    // W− reported as constructed
    val r264 = Tests
      .wilcoxonSignedRankExact(diffsWithWMinus(264).toDF("d"), "d").head
    assert(r264.getAs[Double]("w_minus") == 264.0)
    assert(r264.getAs[Long]("n") == 40L)
  }

  test("wilcoxon exact BigInt path (n=70) integrates to 1 and is symmetric") {
    // past the long fast path (m > 62): balanced ±ranks → W+ = W− →
    // p_greater = p_less by symmetry, p_two_sided = 1 only if the mass
    // at the center is included on both sides — check the invariants
    // rather than a table (none published this deep).
    val diffs = (1 to 70).map(i =>
      if (i % 2 == 0) -i.toDouble else i.toDouble)
    val r = Tests.wilcoxonSignedRankExact(diffs.toDF("d"), "d").head
    val (pg, pl) = (r.getAs[Double]("p_greater"), r.getAs[Double]("p_less"))
    assert(r.getAs[Long]("n") == 70L)
    // P(W ≥ w) + P(W ≤ w) = 1 + P(W = w) ≥ 1
    assert(pg + pl >= 1.0 && pg + pl < 1.1)
    // observed W+ = odd-rank sum 1225, W− = 1260: W+ below center →
    // p_greater on the heavier side
    assert(r.getAs[Double]("w_plus") == 1225.0)
    assert(r.getAs[Double]("w_minus") == 1260.0)
    assert(pg > pl)
  }

  test("kruskal-wallis matches") {
    val r = Tests.kruskalWallis(twoGroups, "v", "g").head
    assert(math.abs(r.getAs[Double]("h") - 0.9657142857142915) < 1e-9)
    assert(r.getAs[Long]("dof") == 1L)
  }

  test("anova F matches") {
    val r = Tests.anovaF(twoGroups, "v", "g").head
    assert(math.abs(r.getAs[Double]("f") - 1.1525212752445202) < 1e-9)
  }

  test("chi2 on a known contingency table") {
    // obs = [[10,20,30],[6,9,17]] → chi2 = 0.27157465150403504, dof = 2
    val rows = for {
      (r, i) <- Seq(Seq(10, 20, 30), Seq(6, 9, 17)).zipWithIndex
      (n, j) <- r.zipWithIndex
      _ <- 1 to n
    } yield (s"r$i", s"c$j")
    val r = Tests.chi2(rows.toDF("a", "b"), "a", "b").head
    // dsum accumulates cell terms at 6-decimal precision → 1e-5 tolerance
    assert(math.abs(r.getAs[Double]("chi2") - 0.27157465150403504) < 1e-5)
    assert(r.getAs[Long]("dof") == 2L)
  }

  test("auroc matches pairwise-count definition") {
    val y = Seq(0, 1, 0, 1, 1, 0, 1, 0, 1, 1)
    val s = Seq(0.2, 0.7, 0.4, 0.8, 0.6, 0.3, 0.9, 0.75, 0.65, 0.55)
    // pos scores {0.7,0.8,0.6,0.9,0.65,0.55}, neg {0.2,0.4,0.3,0.75} → 20/24
    val auc = Metrics.auroc(y.zip(s).toDF("y", "s"), "y", "s").head.getDouble(0)
    assert(math.abs(auc - 20.0 / 24.0) < 1e-12)
  }

  test("binary metrics and macro F1 on a hand case") {
    val df = Seq((1, 1), (1, 0), (0, 1), (0, 0), (1, 1)).toDF("label", "pred")
    val m = Metrics.binaryMetrics(df, "label", "pred").head
    assert(m.getAs[Long]("tp") == 2 && m.getAs[Long]("fp") == 1
      && m.getAs[Long]("fn") == 1 && m.getAs[Long]("tn") == 1)
    assert(math.abs(m.getAs[Double]("f1") - 2.0 * 2 / (2 * 2 + 1 + 1)) < 1e-12)

    // labels [a,a,b,c], preds [a,b,b,b]: f1 = 2/3, 1/2, 0 → macro 0.38888…
    val mc = Seq(("a", "a"), ("a", "b"), ("b", "b"), ("c", "b")).toDF("l", "p")
    val macroF1 = Metrics.macroF1(mc, "l", "p").head.getDouble(0)
    assert(math.abs(macroF1 - (2.0 / 3 + 0.5) / 3) < 1e-6)
  }

  test("combined score is (F1 + AUROC) / 2 at the given threshold") {
    // the auroc fixture above: AUROC = 20/24
    val y = Seq(0, 1, 0, 1, 1, 0, 1, 0, 1, 1)
    val s = Seq(0.2, 0.7, 0.4, 0.8, 0.6, 0.3, 0.9, 0.75, 0.65, 0.55)
    val df = y.zip(s).toDF("y", "s")
    def score(t: Double) = {
      val r = Metrics.combinedScore(df, "y", "s", t).head
      (r.getAs[Double]("f1"), r.getAs[Double]("auroc"), r.getAs[Double]("score"))
    }
    // threshold 0.5: tp 6, fp 1 (0.75), fn 0 → F1 = 12/13
    val (f1, auc, sc) = score(0.5)
    assert(math.abs(f1 - 12.0 / 13) < 1e-12 && math.abs(auc - 20.0 / 24) < 1e-12)
    assert(math.abs(sc - 137.0 / 156) < 1e-12)
    // threshold 0.7: tp 3, fp 1, fn 3 → F1 = 6/10
    assert(math.abs(score(0.7)._3 - (0.6 + 20.0 / 24) / 2) < 1e-12)
  }

  test("p-value approximations are sane") {
    assert(math.abs(PValues.normalCdf(1.959963985) - 0.975) < 1e-4)
    assert(math.abs(PValues.twoSidedFromZ(1.959963985) - 0.05) < 1e-3)
    assert(math.abs(PValues.chi2Sf(3.841458821, 1) - 0.05) < 5e-3)
    assert(math.abs(PValues.twoSidedFromT(2.0, 60) - 0.0499) < 2e-3)
    assert(PValues.stars(0.0001) == "***" && PValues.stars(0.2) == "ns")
  }

  test("exact tails match closed-form references to 1e-12 at small df") {
    // references are EXACT finite formulas evaluated independently:
    // A&S 26.7.3/4 trig forms for integer-df t, the finite e^{-x/2}·poly /
    // erfc forms for chi², erfc for the normal, and the integer-parameter
    // binomial form of I_x(a,b) — the same values scipy returns.
    def ≈(a: Double, b: Double, tol: Double = 1e-12) =
      assert(math.abs(a - b) < tol, s"$a vs $b")
    // Student t two-sided, df 1…19 — the small-n region where the old
    // Hill approximation drifted in the 3rd decimal
    ≈(PValues.twoSidedFromT(2.5, 1), 0.24223788318168682)
    ≈(PValues.twoSidedFromT(2.0, 2), 0.18350341907227397)
    ≈(PValues.twoSidedFromT(1.3, 4), 0.26345159647122396)
    ≈(PValues.twoSidedFromT(0.7, 5), 0.5151489483148164)
    ≈(PValues.twoSidedFromT(2.0, 10), 0.0733880347707403)
    ≈(PValues.twoSidedFromT(4.2, 17), 0.0006016232046723857)
    ≈(PValues.twoSidedFromT(2.1, 19), 0.04931439824327344)
    // chi² upper tail, odd and even dof
    ≈(PValues.chi2Sf(3.5, 2), 0.17377394345044514)
    ≈(PValues.chi2Sf(10.2, 4), 0.03719015404964539)
    ≈(PValues.chi2Sf(0.8, 7), 0.9974439534153424)
    ≈(PValues.chi2Sf(25.0, 9), 0.002971180485917622)
    ≈(PValues.chi2Sf(5.99, 1), 0.014387202374007146)
    ≈(PValues.chi2Sf(12.3, 6), 0.055601201779395225)
    // normal CDF through Q(1/2, z²/2)
    ≈(PValues.normalCdf(1.96), 0.9750021048517795)
    ≈(PValues.normalCdf(-0.5), 0.3085375387259869)
    ≈(PValues.normalCdf(3.1), 0.9990323967867817)
    ≈(PValues.normalCdf(-2.575), 0.005012004331761337)
    ≈(PValues.normalCdf(0.0), 0.5)
    // incomplete beta at integer parameters (binomial closed form)
    ≈(PValues.regBetaI(0.3, 2, 4), 0.47178)
    ≈(PValues.regBetaI(0.5, 3, 3), 0.5)
    ≈(PValues.regBetaI(0.7, 5, 2), 0.420175)
    ≈(PValues.regBetaI(0.25, 1, 6), 0.822021484375)
    // F upper tail consistency: F(1, d2) ≡ t²(d2) two-sided
    ≈(PValues.fSf(4.0, 1, 10), PValues.twoSidedFromT(2.0, 10))
    ≈(PValues.fSf(2.5 * 2.5, 1, 1), PValues.twoSidedFromT(2.5, 1))
    // complementarity
    ≈(PValues.regGammaP(4.5, 3.0) + PValues.regGammaQ(4.5, 3.0), 1.0)
  }
}
