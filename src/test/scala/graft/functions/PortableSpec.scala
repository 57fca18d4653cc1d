package graft.functions

import org.apache.spark.sql.functions._

class PortableSpec extends graft.SparkSpec {
  import spark.implicits._

  // half-boundary values of both signs at 0, 1 and 6 digits, plus
  // ordinary ones; every value is checked against the hand formula
  private val xs = Seq(2.5, -2.5, 1.5, -1.5, 0.25, -0.25, 0.0000005, -0.0000005,
    0.0000015, -0.0000015, 1.2345675, -1.2345675, 0.0, 3.14159265358979)

  private def hand(x: Double, d: Int): Double = math.floor(x * math.pow(10, d) + 0.5)

  test("toGrid, fromGrid and quant match the half-up hand formula on both signs") {
    for (d <- Seq(0, 1, 6)) {
      val got = xs.toDF("x").select(col("x"), Portable.toGrid(col("x"), d).as("g"),
          Portable.fromGrid(Portable.toGrid(col("x"), d), d).as("back"),
          Portable.quant(col("x"), d).as("q"))
        .as[(Double, Long, Double, Double)].collect()
      got.foreach { case (x, g, back, q) =>
        assert(g == hand(x, d).toLong, s"toGrid($x, $d)")
        assert(back == hand(x, d).toLong.toDouble / math.pow(10, d), s"fromGrid($x, $d)")
        assert(q == hand(x, d) / math.pow(10, d), s"quant($x, $d)")
      }
    }
    // half-up rounds a tie toward +infinity on both signs
    val half = Seq(2.5, -2.5, 0.25, -0.25).toDF("x")
      .select(Portable.toGrid(col("x"), 0), Portable.quant(col("x"), 1))
      .as[(Long, Double)].collect().toSeq
    assert(half == Seq((3L, 2.5), (-2L, -2.5), (0L, 0.3), (0L, -0.2)))
  }

  test("a grid sum is the same under any partitioning") {
    val vals = (0 until 2000).map(i => (i * 0.123456789 - 97.5) / 7.0).toDF("x")
    def gridSum(n: Int): Double =
      vals.repartition(n).agg(Portable.fromGrid(sum(Portable.toGrid(col("x"), 6)), 6))
        .head().getDouble(0)
    val one = gridSum(1)
    assert(one == gridSum(7))
    assert(one == vals.as[Double].collect().map(hand(_, 6).toLong).sum.toDouble / 1e6)
  }
}
