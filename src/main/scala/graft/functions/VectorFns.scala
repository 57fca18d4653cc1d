package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ArrayMath

/** Dense-vector math over `array<float>` / `array<double>` columns using
  * codegen'd higher-order functions (no UDFs): the hot path of the ANN /
  * embedding-dedup operators stays inside whole-stage codegen.
  */
object VectorFns {

  /** Cast to array<double> so accumulation happens in double precision. */
  def asDouble(v: Column): Column = v.cast("array<double>")

  /** Fused native loop (codegen'd Catalyst expression) — the hot path.
    * Same left-to-right summation order as the portable HOF fold, so
    * results are bit-identical to [[dotHof]] / the DuckDB oracle.
    */
  def dot(a: Column, b: Column): Column = ArrayMath.dotNative(a, b)

  /** Portable higher-order-function formulation (kept as the reference
    * spelling of the semantics; ~5x slower than [[dot]]).
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm2(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity of `a` and `b` from their precomputed norms `an`
    * and `bn`, rounded to 6 decimals: dot/(|a|*|b|) in double (the DuckDB
    * `list_cosine_similarity` formula). Every cosine the embedding family
    * ranks on is this one, so ties and thresholds replay in any engine.
    * Callers compute the norms once per vector, before any pair join.
    * A zero-norm vector has no cosine: the row fails the job with
    * "`op`: zero-norm vector has no cosine", naming the calling operator.
    */
  def cosine(a: Column, an: Column, b: Column, bn: Column, op: String): Column =
    when(an * bn === 0, raise_error(lit(s"$op: zero-norm vector has no cosine")))
      .otherwise(Portable.q6(dot(a, b) / (an * bn)))

  /** Squared L2 distance rounded to 6 decimals: the ordered left-to-right
    * fold of squared component deltas (the PQ `dist2` contract), so any
    * engine replays it bit-for-bit.
    */
  def dist2(u: Column, v: Column): Column =
    Portable.q6(aggregate(zip_with(u, v, (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, y) => acc + y))

  /** The (shortest, longest) vector length in `vecCol`: one bounded 1-row
    * aggregate. A frame with no (non-null) vectors reads (0, 0). When
    * vectors exist and every one is empty, fails naming `op`: an empty
    * vector has no cosine, projection or subspace.
    */
  def dims(emb: DataFrame, vecCol: String, op: String): (Int, Int) = {
    val r = emb.agg(min(size(col(vecCol))), max(size(col(vecCol)))).head()
    if (r.isNullAt(1)) (0, 0)
    else {
      require(r.getInt(1) >= 1, s"$op needs non-empty vectors (every $vecCol is empty)")
      (r.getInt(0), r.getInt(1))
    }
  }

  /** Driver-side mirror of `HashFns.md5Long(s, 1) % 2 == 0` — the first
    * md5 hex char's parity, as a ±1.0 sign. Must stay value-identical to
    * the column form: the srp sign matrix is built from it ONCE on the
    * driver while the DuckDB oracle still re-derives every sign from
    * `substr(md5(...), 1, 1)`.
    */
  private def md5SignParity(s: String): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if (((d(0) >> 4) & 0xF) % 2 == 0) 1.0 else -1.0
  }

  /** Sign-random-projection bucket: `nBits`-bit signature from deterministic
    * ±1 projection vectors (seeded by md5, portable + reproducible). Groups
    * near-identical vectors into the same bucket so near-dup search joins
    * within buckets instead of an unbounded cross join — the 100 TB path.
    *
    * The sign matrix is a CONSTANT (`nBits` × `dim`) and is built ONCE as
    * driver literals — the [[graft.operators.Projection]] construction.
    * The per-row form this replaced re-derived every sign with an md5 of
    * `"seed:b:i"` INSIDE the projection lambda: nBits·dim md5 string
    * digests per vector, which benchmarked the 4-bit bucket pass at 16×
    * the cost of the exact pair square it exists to avoid (sf1, r11).
    * Values are bit-identical either way (the driver parity mirrors
    * `md5Long(_, 1) % 2`, spec-pinned), so the oracle replay — and the
    * strict `proj > 0` bit rule and index-ordered fold — are unchanged.
    * `dim` must be ≥ every row's vector length (shorter rows slice the
    * sign row; a LONGER row would zip against null signs and poison the
    * fold, hence derived by callers as the longest length from [[dims]]).
    */
  def srpBucket(v: Column, nBits: Int, seed: String, dim: Int): Column = {
    require(dim >= 1, s"srpBucket needs dim >= 1, got $dim")
    val bits = (0 until nBits).map { b =>
      val signs = (0 until dim).map(i => md5SignParity(s"$seed:$b:$i"))
      val proj = aggregate(
        zip_with(v, slice(typedLit(signs), lit(1), size(v)), (x, s) => x * s),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a + b)
  }
}
