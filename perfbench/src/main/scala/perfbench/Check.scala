package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Result comparison with the rules of `tools/check.py`: columns compared
  * by name in sorted order, rows sorted, equal row counts, float columns
  * equal within 1e-9 relative (NaN equals NaN), every other value equal
  * as text. */
object Check {
  final case class Table(cols: Seq[String], floatCol: Seq[Boolean], rows: Seq[Seq[Any]])

  def collect(df: DataFrame): Table = {
    val fields = df.schema.fields.sortBy(_.name)
    val sel = df.select(fields.map(f => df.col("`" + f.name + "`")): _*)
    val isFloat = fields.map(f => f.dataType == DoubleType || f.dataType == FloatType).toSeq
    // bounded: benchmark outputs are sized for a driver-side compare
    val rows = sel.collect().toSeq.map { r =>
      fields.indices.map(i => if (isFloat(i)) num(r, i) else text(r.get(i)))
    }
    Table(fields.map(_.name).toSeq, isFloat, sortRows(rows))
  }

  /** A table built on the driver: `cols` as (name, is float) in any
    * order, rows in the same column order (floats as Double, every other
    * value as the text `collect` gives it). */
  def of(cols: Seq[(String, Boolean)], rows: Seq[Seq[Any]]): Table = {
    val order = cols.indices.sortBy(i => cols(i)._1)
    Table(order.map(cols(_)._1), order.map(cols(_)._2), sortRows(rows.map(r => order.map(r))))
  }

  private def num(r: Row, i: Int): Any =
    if (r.isNullAt(i)) null else r.get(i) match {
      case f: Float => f.toDouble
      case d: Double => d
    }

  private def text(v: Any): String = v match {
    case null => "null"
    case a: scala.collection.Seq[_] => a.map(text).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(text).mkString("{", ",", "}")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case o => o.toString
  }

  private def sortRows(rows: Seq[Seq[Any]]): Seq[Seq[Any]] =
    rows.sortWith { (a, b) =>
      var i = 0
      var c = 0
      while (c == 0 && i < a.size) { c = cmp(a(i), b(i)); i += 1 }
      c < 0
    }

  private def cmp(x: Any, y: Any): Int = (x, y) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (a: Double, b: Double) => java.lang.Double.compare(a, b)
    case (a: String, b: String) => a.compareTo(b)
    case _ => 0
  }

  /** Problems found comparing `got` with `want`; empty when they match. */
  def diff(got: Table, want: Table): Seq[String] = {
    if (got.cols != want.cols)
      return Seq(s"columns differ: got=${got.cols.mkString(",")} want=${want.cols.mkString(",")}")
    if (got.rows.size != want.rows.size)
      return Seq(s"row count: got=${got.rows.size} want=${want.rows.size}")
    got.cols.indices.flatMap { c =>
      val bad = got.rows.indices.count { r =>
        val (a, b) = (got.rows(r)(c), want.rows(r)(c))
        if (got.floatCol(c)) (a, b) match {
          case (x: Double, y: Double) =>
            !(x.isNaN && y.isNaN) && !(math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y))))
          case _ => a != b
        } else a != b
      }
      if (bad > 0) Some(s"col ${got.cols(c)}: $bad mismatches") else None
    }
  }
}
