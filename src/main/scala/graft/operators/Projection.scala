package graft.operators

import graft.functions.{Portable, VectorFns}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic random projection (Achlioptas-style ±1 matrix) — the
  * dimensionality-reduction step in front of the ANN / near-dup family:
  * at 100 TB, halving (or quartering) the embedding width halves every
  * downstream shuffle, centroid broadcast, and pairwise dot product,
  * while the Johnson–Lindenstrauss bound keeps relative distances. The
  * same construction underlies [[graft.functions.VectorFns.srpBucket]]'s
  * sign buckets; here the full projected vector is materialized.
  *
  * Scale shape: the projection matrix is (outDim × inDim) signs derived
  * from md5 — computed ONCE on the driver (inDim is a bounded scalar
  * collect, the Fuzzy.scala precedent) and shipped as a plan literal, so
  * executors do zero hashing: each row is one fused codegen'd
  * transform/zip_with/fold over the literal matrix. No shuffle at all —
  * the operator is a pure projection.
  *
  * Determinism contract (SURVEY §5): sign(j,i) is the parity of the
  * first hex char of md5("salt:j:i") — byte-identical in any engine; a
  * ±1 multiply is an exact IEEE sign flip, and the component sum folds
  * in ELEMENT order, so the DuckDB oracle replays every double
  * bit-for-bit before the final q6 quantization.
  */
object Projection {

  /** The ±1 projection matrix ([[VectorFns.signMatrix]]). */
  def signMatrix(outDim: Int, inDim: Int, salt: String): Seq[Seq[Double]] =
    VectorFns.signMatrix(outDim, inDim, salt)

  /** Project every vector to `outDim` components; output exploded as
    * (idCol, out_pos, component) with component quantized to 6 decimals.
    * All vectors must share one non-zero dimension (checked); a frame
    * with no rows projects to no rows.
    */
  def randomProject(emb: DataFrame, idCol: String, vecCol: String,
                    outDim: Int, salt: String): DataFrame = {
    require(outDim >= 1, "outDim must be >= 1")
    // bounded scalar collect (dim check + matrix sizing), never row data
    val (shortest, inDim) = VectorFns.dims(emb, vecCol, "randomProject")
    require(inDim == shortest,
      s"randomProject: vectors must share one dimension (saw $shortest..$inDim)")
    val signs = typedLit(signMatrix(outDim, inDim, salt))
    emb.select(col(idCol), VectorFns.asDouble(col(vecCol)).as("__v"))
      .select(col(idCol), posexplode(transform(signs, (row: Column) =>
        Portable.q6(aggregate(
          zip_with(col("__v"), row, (x: Column, s: Column) => x * s),
          lit(0.0), (acc: Column, y: Column) => acc + y)))))
      .select(col(idCol), col("pos").cast("int").as("out_pos"),
        col("col").as("component"))
  }
}
