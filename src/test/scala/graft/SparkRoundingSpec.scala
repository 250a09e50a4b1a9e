package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.PcaSolve.{roundAway, sparkRound}

/** The engine's one JVM copy of each rounding rule: sparkRound is
  * Spark SQL's round() on a double, roundAway the SQL roundAway
  * quantizer (Prim.roundAway), negative-zero normalization included. */
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
}
