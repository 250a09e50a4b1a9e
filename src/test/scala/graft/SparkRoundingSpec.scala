package graft

import org.scalatest.funsuite.AnyFunSuite
import java.lang.Double.doubleToRawLongBits
import graft.operators.PcaSolve.{roundAway, sparkRound, sparkRoundDecimal}

/** The engine's one JVM copy of each rounding rule: sparkRound is
  * Spark SQL's round() on a double, roundAway the SQL roundAway
  * quantizer (Prim.roundAway), negative-zero normalization included;
  * sparkRound's fast path returns the BigDecimal path's bits. */
class SparkRoundingSpec extends AnyFunSuite {

  test("roundAway turns a negative value that rounds to zero into +0.0, bit for bit") {
    assert(java.lang.Double.doubleToRawLongBits(roundAway(-1e-9, 6)) == 0L)
  }

  test("sparkRound leaves NaN and infinities unchanged") {
    assert(sparkRound(Double.NaN, 6).isNaN)
    assert(sparkRound(Double.PositiveInfinity, 6) == Double.PositiveInfinity)
  }

  test("sparkRound rounds half up on the shortest decimal form, roundAway on the binary value") {
    // 1.005 is 1.00499999999999989... in binary, and 1.005 * 100 is
    // 100.49999999999999
    assert(sparkRound(1.005, 2) == 1.01)
    assert(roundAway(1.005, 2) == 1.0)
  }

  /** The values among `xs` where sparkRound and its BigDecimal path
    * differ in any bit at `dec` places, with both results. */
  private def mismatches(xs: Iterator[Double], dec: Int): Seq[String] =
    xs.filter(x => doubleToRawLongBits(sparkRound(x, dec)) !=
        doubleToRawLongBits(sparkRoundDecimal(x, dec)))
      .take(5).map(x => s"$x at $dec: ${sparkRound(x, dec)} vs ${sparkRoundDecimal(x, dec)}")
      .toSeq

  test("the fast path equals the BigDecimal path on a million random values at dec 4 and 6") {
    for (dec <- Seq(4, 6)) {
      val rnd = new scala.util.Random(1000 + dec)
      // uniform, scaled gaussians from 1e-9 to 1e9, and arbitrary bit patterns
      val xs = Iterator.fill(400000)(rnd.nextDouble() * 2 - 1) ++
        Iterator.fill(400000)(rnd.nextGaussian() * math.pow(10, rnd.nextInt(19) - 9)) ++
        Iterator.fill(200000)(java.lang.Double.longBitsToDouble(rnd.nextLong()))
      assert(mismatches(xs, dec).isEmpty)
    }
  }

  test("the fast path equals the BigDecimal path within 3 ulp of sampled half-points") {
    for (dec <- Seq(4, 6)) {
      val rnd = new scala.util.Random(2000 + dec)
      val halves = Iterator.fill(100000) {
        // k + 1/2 units of 10^-dec, k up to 10^8 so some fall back
        val k = (rnd.nextDouble() * math.pow(10, rnd.nextInt(9))).toLong
        val h = java.math.BigDecimal.valueOf(k).add(java.math.BigDecimal.valueOf(5, 1))
          .movePointLeft(dec).doubleValue()
        if (rnd.nextBoolean()) h else -h
      }
      val near = halves.flatMap { h =>
        Iterator.iterate(h)(math.nextUp).take(4) ++ Iterator.iterate(h)(math.nextDown).slice(1, 4)
      }
      assert(mismatches(near, dec).isEmpty)
    }
  }

  test("the fast path equals the BigDecimal path on zeros, tiny negatives, non-finite and fallback values") {
    val specials = Seq(0.0, -0.0, -1e-9, -4.9e-7, -5e-7, -5.1e-7, -4.9e-5, -5e-5,
      Double.MinPositiveValue, -Double.MinPositiveValue, java.lang.Double.MIN_NORMAL,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, Double.MaxValue,
      -Double.MaxValue, 9.9999995, 10.0, 999.99995, 1000.0, 1e7, -1e7, 123456789.123456789,
      0.1234565, 2.0000005, 1.005, 1e300, -1e-300)
    for (dec <- Seq(4, 6)) {
      assert(mismatches(specials.iterator, dec).isEmpty)
      assert(mismatches(specials.iterator.map(x => x / math.pow(10, dec)), dec).isEmpty)
    }
    assert(doubleToRawLongBits(sparkRound(-1e-9, 6)) == 0L, "a negative that rounds to zero is +0.0")
    assert(sparkRound(Double.NaN, 4).isNaN)
  }
}
