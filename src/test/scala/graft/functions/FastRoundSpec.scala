package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSuite

/** Ground truth for [[Round3]]: Spark's OWN `round(col, 3)` evaluated
  * through a real plan (codegen path), not a re-derivation of what
  * Spark is believed to do. Randomized similarity-range and
  * wide-exponent inputs plus the k/1000 (±0.0005, ±ulps) boundary
  * lattice must agree BIT-for-bit. */
class FastRoundSpec extends AnyFunSuite with GraftSuite {

  test("round3 matches Spark round(x, 3) bit-for-bit through a real plan") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    def nudge(v: Double, ulps: Int): Double =
      (0 until math.abs(ulps)).foldLeft(v)((a, _) =>
        if (ulps > 0) math.nextUp(a) else math.nextDown(a))
    val xs: Seq[Double] =
      Seq.fill(150000)(rnd.nextDouble() * 2.4 - 1.2) ++
      Seq.fill(150000)((rnd.nextDouble() * 2 - 1) *
        math.pow(10.0, rnd.nextInt(25) - 12)) ++
      Seq.fill(200000) {
        val k = rnd.nextInt(4000001) - 2000000
        val half = if (rnd.nextBoolean()) 0.0005 else 0.0
        nudge(k.toDouble / 1000.0 + half, rnd.nextInt(7) - 3)
      } ++
      Seq(0.0, -0.0, Double.NaN, Double.PositiveInfinity,
        Double.NegativeInfinity, Double.MinPositiveValue, 5.0e-4, -5.0e-4,
        2147483.6479999, 2147483.6481, 4.5035996273704961e12, 1.7e305)
    val out = xs.toDF("x")
      .select(call_function("round3", col("x")).as("fast"),
        round(col("x"), 3).as("ref"))
      .collect()
    val mismatches = out.count { r =>
      java.lang.Double.doubleToLongBits(r.getDouble(0)) !=
        java.lang.Double.doubleToLongBits(r.getDouble(1))
    }
    assert(mismatches == 0,
      s"$mismatches bit mismatches between round3 and round(x, 3) over ${xs.size} inputs")
  }
}
