package graft.operators

import graft.Caches
import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE (byte-pair-encoding) merge training — the tokenizer-
  * induction step of an LLM data pipeline, re-expressed Spark-first. The
  * classic trainer trick makes this cheap at 100 TB: after ONE corpus
  * aggregation into (word, freq), every iteration — pair counting, merge
  * selection, merge application — runs on the VOCABULARY table, whose
  * size is corpus-independent. Per merge the only driver state is the
  * single winning pair (a bounded 1-row collect, the Incremental
  * terminal-ts contract).
  *
  * Determinism contract (SURVEY §5): pair counts are exact integers;
  * the winner ties-break on the joined "a b" pair string, which (symbols
  * never contain spaces, and ' ' sorts below every symbol byte) orders
  * identically to the (a, b) tuple; merge application is a LEFT FOLD
  * over the symbol string ("greedy leftmost non-overlapping", the
  * standard BPE application order) with string-suffix tests both engines
  * evaluate identically — so the DuckDB oracle replays the whole
  * trained trajectory merge-for-merge.
  */
object Bpe {

  final case class MergeRule(rank: Int, left: String, right: String, count: Long)

  /** (word, freq) vocabulary of the corpus: the one corpus-sized pass. */
  def wordVocab(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextFns.words(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** Initial segmentation: single characters + the '</w>' end marker. */
  private def charSeg(word: Column): Column =
    concat(trim(regexp_replace(word, "(.)", "$1 ")), lit(" </w>"))

  /** Apply one learned merge (a, b) -> ab to a spaced symbol string via
    * a left fold — greedy leftmost non-overlapping, like the reference
    * BPE application.
    */
  private def applyMerge(tokens: Column, a: String, b: String): Column =
    aggregate(split(tokens, " "), lit(""), (acc: Column, x: Column) =>
      when(acc === "", x)
        .when((acc === a || acc.endsWith(" " + a)) && x === b,
          concat(substring(acc, lit(1), length(acc) - lit(a.length)), lit(a + b)))
        .otherwise(concat(acc, lit(" "), x)))

  /** Train `nMerges` BPE merges over a (word, freq) vocabulary. Returns
    * the learned rules in rank order plus the final segmentation
    * (word, freq, tokens, n_tokens). The vocabulary is held for the
    * duration of training (each iteration's pair count re-reads it) AND
    * past return — the returned segmentation's lazy plan reads it;
    * lifetimes follow [[graft.Caches]].
    */
  def train(vocab: DataFrame, nMerges: Int): (Seq[MergeRule], DataFrame) = {
    require(nMerges >= 1, "nMerges must be >= 1")
    val v = Caches.hold(vocab)
    var seg = v.select(col("word"), col("freq"), charSeg(col("word")).as("tokens"))
    val rules = Seq.newBuilder[MergeRule]
    for (r <- 1 to nMerges) {
      val syms = split(col("tokens"), " ")
      val pairs = seg.select(col("freq"), explode(zip_with(
          slice(syms, lit(1), size(syms) - 1),
          slice(syms, lit(2), size(syms) - 1),
          (x: Column, y: Column) => concat(x, lit(" "), y))).as("pair"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
      // 1-row bounded collect: the winning pair of this iteration
      val top = pairs.orderBy(col("cnt").desc, col("pair").asc).limit(1).collect()(0)
      val Array(a, b) = top.getAs[String]("pair").split(" ", 2)
      rules += MergeRule(r, a, b, top.getAs[Long]("cnt"))
      seg = seg.withColumn("tokens", applyMerge(col("tokens"), a, b))
    }
    (rules.result(),
      seg.withColumn("n_tokens", size(split(col("tokens"), " ")).cast("long")))
  }

  /** Tokenize the CORPUS with a trained segmentation — the serving step
    * after [[train]]. The same vocabulary trick that makes training
    * corpus-independent makes encoding cheap: the per-WORD segmentation
    * (vocabulary-sized) BROADCASTS onto the corpus's exploded tokens,
    * so no merge rule ever re-applies per occurrence — each word's fold
    * ran once, at training time. Per document the token stream
    * reassembles in position order (exact strings — no float anywhere),
    * one corpus shuffle on the doc id.
    *
    * Output: (idCol, n_words, n_bpe_tokens, tokenized) — tokenized is
    * the space-joined BPE symbol stream in document order.
    */
  def encodeCorpus(docs: DataFrame, idCol: String, textCol: String,
                   seg: DataFrame): DataFrame = {
    val id = col(idCol)
    docs.select(id, posexplode(TextFns.words(col(textCol))))
      .select(id, col("pos"), col("col").as("word"))
      .join(broadcast(seg.select(col("word"), col("tokens"), col("n_tokens"))),
        Seq("word"), "left")
      // train-then-serve on a DIFFERENT corpus: words outside the trained
      // vocabulary fall back to their character segmentation + the </w>
      // end-of-word marker (the BPE base alphabet — exactly the
      // zero-merges-applied form) instead of silently dropping from the
      // token stream (ADVICE r07)
      .withColumn("tokens", coalesce(col("tokens"),
        concat(trim(regexp_replace(col("word"), "(.)", "$1 ")), lit(" </w>"))))
      .withColumn("n_tokens", coalesce(col("n_tokens"),
        (length(col("word")) + 1).cast("long")))
      .groupBy(id)
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_tokens")).as("n_bpe_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tokens")))),
          (x: Column) => x.getField("tokens")), " ").as("tokenized"))
  }
}
