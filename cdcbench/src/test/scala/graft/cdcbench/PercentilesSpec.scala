package graft.cdcbench

import org.scalatest.funsuite.AnyFunSuite

class PercentilesSpec extends AnyFunSuite {

  private val hundred = (1 to 100).map(_.toDouble)

  test("nearest-rank values") {
    assert(Percentiles.of(hundred, 50) == 50.0)
    assert(Percentiles.of(hundred, 90) == 90.0)
    assert(Percentiles.of(scala.util.Random.shuffle(hundred), 90) == 90.0)
    assert(Percentiles.of((1 to 20).map(_.toDouble), 50) == 10.0)
    assert(Percentiles.of((1 to 1000).map(_.toDouble), 99) == 990.0)
  }

  test("refuses a percentile with fewer than ten samples beyond it") {
    val e = intercept[IllegalArgumentException](Percentiles.of(hundred.take(99), 90))
    assert(e.getMessage.contains("need 100 samples"))
    intercept[IllegalArgumentException](Percentiles.of(hundred.take(19), 50))
    intercept[IllegalArgumentException](Percentiles.of(hundred, 99))
    intercept[IllegalArgumentException](Percentiles.of(hundred, 100))
  }

  test("samplesFor is the smallest count that is accepted") {
    for (p <- Seq(50.0, 90.0, 99.0)) {
      val n = Percentiles.samplesFor(p)
      Percentiles.of(Seq.fill(n)(1.0), p)
      intercept[IllegalArgumentException](Percentiles.of(Seq.fill(n - 1)(1.0), p))
    }
    assert(Percentiles.samplesFor(90) == 100)
  }

  test("plain median of a few set-up rounds") {
    assert(Percentiles.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Percentiles.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }
}
