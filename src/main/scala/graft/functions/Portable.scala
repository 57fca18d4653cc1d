package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine-portable quantization.
  *
  * `round(x, n)` is NOT portable across engines: given the same double,
  * JVM BigDecimal half-up and C++ `round(x*10^n)/10^n` disagree on
  * half-boundary values (observed on real data: 144/60k rows of a
  * `round(price/count, 4)` differed by 1e-4 between Spark and DuckDB).
  *
  * `floor(x * 10^n + 0.5) / 10^n` is pure IEEE-754 arithmetic — identical
  * bit-for-bit in every engine given the same input double. All floating
  * outputs of the query surface are quantized with this; the DuckDB oracle
  * uses the literal same formula.
  */
object Portable {
  def quant(c: Column, digits: Int): Column = {
    val s = math.pow(10, digits)
    floor(c * lit(s) + lit(0.5)) / lit(s)
  }

  /** 4 decimals: sums / money-like outputs. */
  def q4(c: Column): Column = quant(c, 4)

  /** 6 decimals: ratios / scores / similarities. */
  def q6(c: Column): Column = quant(c, 6)

  /** The exact-integer-grid sum (SURVEY §5), the one construction behind
    * every mergeable score fold (BM25, the bigram LM, the classifier's
    * margins and gradients, PQ `recon_err` and ADC, JS drift, PageRank):
    * each term goes half-up onto the 10^-digits grid as a LONG
    * (`toGrid`), the longs sum in any order, and the sum is rescaled once
    * (`fromGrid`). Integer addition is associative, so the aggregate is
    * order-free, bit-identical in every engine and partitioning, and
    * map-side combines as a plain `partial_sum` with no ordered buffer.
    * Each term drifts at most half a grid cell (5e-7 at 6 digits) from
    * its unquantized value; a caller states its own overflow headroom.
    */
  def toGrid(c: Column, digits: Int): Column =
    floor(c * lit(scale(digits)) + lit(0.5)).cast("long")

  /** A [[toGrid]] sum back on the real line: one IEEE division. */
  def fromGrid(c: Column, digits: Int): Column =
    c.cast("double") / lit(scale(digits))

  /** The driver-side [[fromGrid]] of a collected grid sum. */
  def fromGrid(g: Long, digits: Int): Double = g.toDouble / scale(digits)

  private def scale(digits: Int): Double = math.pow(10, digits)

  /** The SQL spelling for oracle queries. */
  def sql(expr: String, digits: Int): String = {
    val s = "1" + ("0" * digits)
    s"floor(($expr) * $s.0 + 0.5) / $s.0"
  }
}
