package graft.streaming

import java.sql.Timestamp

/** Epoch microseconds ⇄ `java.sql.Timestamp`, exact to the microsecond
  * on both sides of 1970. `getTime` alone truncates to milliseconds,
  * which would coarsen the µs event times parquet carries. The division
  * floors: a pre-1970 instant's whole second lies below it, and its
  * sub-second part (`getNanos`) is never negative.
  *
  * A top-level object, so the stateful streaming closures call it as a
  * static module and capture nothing that fails to serialize.
  */
object Micros {

  /** Epoch microseconds of `t`. */
  def us(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  /** The Timestamp at epoch microsecond `us`. */
  def ts(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }
}
