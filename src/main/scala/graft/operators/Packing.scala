package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-shard layout: deterministic corpus shuffle and sequence
  * packing — the last mile between a cleaned corpus and what a trainer
  * actually reads.
  *
  * Both operators are pure functions of (doc_id, salt): re-running them on
  * the same corpus reproduces the same shards and the same sequence
  * boundaries bit-for-bit, on any partitioning, so a resumed or re-sharded
  * training run sees the same data order (the same determinism contract as
  * [[Sampling.hashSample]]).
  */
object Packing {

  /** Assign every doc to one of `nShards` training shards and give it a
    * deterministic position inside the shard — a reproducible global
    * shuffle of the corpus. Shard membership and order both derive from
    * the md5 coin, never from input order.
    *
    * Scale: one hash shuffle on `shard`. The within-shard sort
    * parallelizes across shards, so size `nShards` >= the cluster's
    * useful parallelism at 100 TB (1024+), not the handful used in tests.
    */
  def shardAssign(df: DataFrame, idCol: String, nShards: Int,
                  salt: String = "shard"): DataFrame = {
    require(nShards >= 1, "nShards must be positive")
    // the order key is the shared md5 coin ([[Sampling.hashLong]]) —
    // DuckDB-replayable as ('0x'||substr(md5(...),1,8))::BIGINT
    val keyed = df.withColumn("__h", Sampling.hashLong(col(idCol), salt))
      .withColumn("shard", pmod(col("__h"), lit(nShards.toLong)).cast("int"))
    Rankings.rankWithin(keyed, Seq("shard"), Seq(col("__h"), col(idCol)), "pos")
      .withColumn("pos", col("pos") - 1).drop("__h")
  }

  /** Pack the shuffled corpus into fixed `budget`-token training sequences
    * (concatenate-and-cut packing, document splitting allowed): within a
    * shard, docs concatenate in shuffle order and the token stream is cut
    * every `budget` tokens. Emits per doc its token offset in the shard
    * stream, the sequence its first token lands in, and how many
    * sequences it spans — everything a shard writer needs to materialize
    * the packed examples.
    *
    * One window (running token sum in shuffle order) over the same
    * shard-partitioning as [[shardAssign]] — no second shuffle when
    * composed. Deterministic: same corpus, same boundaries.
    */
  def packSequences(sharded: DataFrame, tokenCol: String, budget: Long): DataFrame = {
    require(budget >= 1, "budget must be positive")
    val w = Window.partitionBy(col("shard")).orderBy(col("pos"))
    // `div` is Spark's INTEGER division: `/` on longs yields DOUBLE, which
    // is exact only below 2^53 — a shard token stream past ~9e15 tokens
    // would misplace a cut where an integer oracle would not. The cuts
    // must be bit-exact at ANY stream length.
    sharded
      .withColumn("start_tok", sum(col(tokenCol)).over(w) - col(tokenCol))
      .withColumn("seq_id", expr(s"start_tok div ${budget}L"))
      .withColumn("n_seqs_spanned",
        when(col(tokenCol) === 0, lit(1L)).otherwise(
          expr(s"(start_tok + $tokenCol - 1) div ${budget}L") -
            col("seq_id") + 1L))
  }

  /** Split long documents into fixed-width token chunks with stride
    * overlap — the OTHER trainer-prep layout besides concatenate-and-cut
    * ([[packSequences]]): each example is one chunk of one doc, chunk i
    * starting at token i·stride, the final chunk short, overlap =
    * width − stride giving every token at least one full-context view.
    * Docs shorter than one window yield exactly one chunk.
    *
    * All codegen'd built-ins (split / sequence / explode / slice /
    * array_join), no shuffle at all — a pure projection the scan
    * parallelism carries at any corpus size.
    */
  def chunkDocs(docs: DataFrame, idCol: String, textCol: String,
                width: Int, stride: Int): DataFrame = {
    require(width >= 1 && stride >= 1 && stride <= width,
      "need 1 <= stride <= width")
    docs
      .select(col(idCol).as("doc_id"),
        graft.functions.TextFns.words(col(textCol)).as("__w"))
      .withColumn("__len", size(col("__w")))
      .withColumn("__nc", when(col("__len") <= width, lit(1)).otherwise(
        expr(s"CAST((__len - $width + $stride - 1) div $stride AS INT) + 1")))
      .select(col("doc_id"), col("__w"), col("__len"),
        explode(sequence(lit(0), col("__nc") - 1)).as("chunk_idx"))
      .withColumn("first_tok", (col("chunk_idx") * stride).cast("long"))
      .withColumn("n_tokens",
        least(lit(width.toLong), col("__len") - col("first_tok")).cast("long"))
      .select(col("doc_id"), col("chunk_idx"), col("first_tok"), col("n_tokens"),
        array_join(slice(col("__w"), col("first_tok").cast("int") + 1,
          col("n_tokens").cast("int")), " ").as("chunk_text"))
  }

  /** Materialize the packed training sequences [[packSequences]] only
    * describes: explode each doc's sequence span into per-(shard, seq_id)
    * SLICE rows — (doc, offset inside the doc, slice length, offset inside
    * the sequence) — and aggregate them into one row per packed sequence:
    * exactly what a shard writer serializes. Every sequence holds exactly
    * `budget` tokens except each shard's tail, and each doc's slices
    * concatenate back to the doc (PackingSpec-proven; q72 oracle-checked).
    *
    * Scale: the explode emits sum(n_seqs_spanned) rows — corpus tokens /
    * budget + one per doc, i.e. linear in the corpus with no skew beyond
    * the shard layout itself. The per-sequence aggregate groups by
    * (shard, seq_id), which EXTENDS the shard partitioning already in
    * place — hashpartitioning(shard) satisfies the aggregate's clustered
    * distribution, so no new exchange at all: the whole
    * shardAssign → packSequences → packWrite pipeline is ONE shuffle
    * (PlanSpec-pinned). All expressions are codegen'd built-ins.
    */
  def packWrite(packed: DataFrame, idCol: String, tokenCol: String,
                budget: Long): DataFrame = {
    require(budget >= 1, "budget must be positive")
    val b = lit(budget)
    val slices = packed
      // generators must be top-level select items: explode the span index
      // first, then shift by the doc's first sequence
      .select(col("shard"), col(idCol), col(tokenCol), col("start_tok"),
        col("seq_id").as("__seq0"),
        explode(sequence(lit(0L), col("n_seqs_spanned") - 1)).as("__s"))
      .withColumn("seq_id", col("__seq0") + col("__s"))
      // slice of THIS doc landing in THIS sequence, in stream coordinates:
      // [max(start_tok, seq_id·budget), min(start_tok + n, (seq_id+1)·budget))
      .withColumn("__from", greatest(col("start_tok"), col("seq_id") * b))
      .withColumn("__until",
        least(col("start_tok") + col(tokenCol), (col("seq_id") + 1) * b))
      .select(col("shard"), col("seq_id"), col(idCol),
        (col("__from") - col("start_tok")).as("doc_offset"),
        (col("__until") - col("__from")).as("slice_len"),
        (col("__from") - col("seq_id") * b).as("seq_offset"),
        col("__from").as("__order"))
    // one row per packed sequence; slice order inside the sequence is the
    // stream order (__order is unique per non-empty slice; (order, id)
    // breaks the tie among zero-length slices deterministically)
    slices.groupBy(col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_slices"),
        sum(col("slice_len")).as("seq_tokens"),
        min(struct(col("__order"), col(idCol))).getField(idCol).as("first_doc"),
        max(struct(col("__order"), col(idCol))).getField(idCol).as("last_doc"))
  }
}
