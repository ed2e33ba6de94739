package sparkbench

class StatsSpec extends Spec {

  private def ms(n: Int) = (1 to n).map(_.toDouble)

  test("p95 needs 200 samples: exactly 10 lie beyond it") {
    val t = Stats.tail(ms(200)).get
    assert(t.percentile == 95 && t.samples == 200)
    assert(t.value == 190.0)
    assert(ms(200).count(_ > t.value) == 10)
  }

  test("fewer samples give the highest percentile that keeps 10 beyond it") {
    for (n <- Seq(11, 15, 30, 48, 100, 150, 199)) {
      val t = Stats.tail(ms(n)).get
      assert(t.samples == n)
      assert(ms(n).count(_ > t.value) >= 10, s"n=$n p=${t.percentile}")
      // one percentile higher would leave fewer than 10 beyond it
      if (t.percentile < 95) {
        val rank = math.ceil((t.percentile + 1) * n / 100.0).toInt
        assert(n - rank < 10, s"n=$n p=${t.percentile}")
      }
    }
    assert(Stats.tail(ms(100)).get.percentile == 90)
    assert(Stats.tail(ms(30)).get.percentile == 66)
  }

  test("more samples than needed stay at p95") {
    val t = Stats.tail(ms(1000)).get
    assert(t.percentile == 95 && t.value == 950.0)
  }

  test("ten or fewer samples support no tail") {
    assert(Stats.tail(ms(10)).isEmpty)
    assert(Stats.tail(Nil).isEmpty)
  }

  test("the tail ignores input order") {
    val xs = scala.util.Random.shuffle(ms(120))
    assert(Stats.tail(xs) == Stats.tail(ms(120)))
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }
}
