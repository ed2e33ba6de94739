package sparkbench

import org.apache.spark.sql.Row

class DigestSpec extends Spec {

  private val rows = Seq(Row(1L, "a", 0.1 + 0.2), Row(2L, null, Seq(1.5f, 2.5f)),
    Row(3L, "c", Row(new java.math.BigDecimal("1.50"), Map("k" -> 1))))

  test("row order does not change the digest") {
    assert(Digest.of(rows) == Digest.of(rows.reverse))
  }

  test("duplicates count: a multiset, not a set") {
    assert(Digest.of(rows :+ rows.head) != Digest.of(rows))
  }

  test("a changed value changes the digest") {
    assert(Digest.of(rows.updated(0, Row(1L, "b", 0.3))) != Digest.of(rows))
  }

  test("doubles compare at 9 significant digits") {
    assert(Digest.canonical(0.1 + 0.2) == Digest.canonical(0.3))
    assert(Digest.canonical(1.0000001) != Digest.canonical(1.0000002))
    assert(Digest.canonical(-0.0) == Digest.canonical(0.0))
    assert(Digest.canonical(new java.math.BigDecimal("1.50")) == "1.5")
  }
}
