package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable hash helpers.
  *
  * Everything is built on md5 hex strings so results are reproducible in any
  * engine (the DuckDB oracle uses the same construction). Used by the decode
  * ops (cf. reference OpenSea log decoding, decode_utls.py:69-120) and by the
  * MinHash / SimHash / fingerprint dedup family.
  */
object HashFns {

  /** First `nHex` hex chars of md5(col) as an unsigned integral value.
    * nHex <= 15 so the result always fits in a signed 64-bit long.
    */
  def md5Long(c: Column, nHex: Int): Column = {
    require(nHex >= 1 && nHex <= 15, "md5Long supports 1..15 hex chars")
    hexField(c, 1, nHex)
  }

  /** Hex substring of md5 decoded to long — the portable "decode a hex
    * payload field" primitive (analog of slicing an EVM log topic).
    */
  def hexField(c: Column, start: Int, len: Int): Column =
    conv(substring(md5(c), start, len), 16, 10).cast("bigint")
}
