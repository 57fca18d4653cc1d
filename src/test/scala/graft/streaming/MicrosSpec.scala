package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.functions.{col, unix_micros}

class MicrosSpec extends SparkSpec {
  import spark.implicits._

  // whole seconds, sub-ms fractions and the µs next to the epoch, on both
  // sides of 1970
  private val micros = Seq(-31535999876544L, -1499877L, -1000000L, -999999L, -1L, 0L,
    1L, 999L, 1000L, 1499877L, 1700000000123456L)

  test("Micros round-trips and agrees with Spark's unix_micros before and after 1970") {
    micros.foreach(us => assert(Micros.us(Micros.ts(us)) == us, s"round trip of $us"))
    val spark = micros.map(Micros.ts).toDF("t").select(unix_micros(col("t")))
      .as[Long].collect().toSeq
    assert(spark == micros)
    // -1.5 s built by java.sql itself, with a sub-ms fraction: the
    // truncating division read this as -499877
    val t = new Timestamp(-1500)
    t.setNanos(500123000)
    assert(Micros.us(t) == -1499877L)
    assert(Micros.ts(-1499877L) == t)
  }
}
