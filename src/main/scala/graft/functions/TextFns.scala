package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text analysis primitives for the LLM-training-data pipeline ops:
  * tokenization, shingling, language-ID keyword sets, quality features.
  * All codegen'd built-ins (split/transform/sequence), no UDFs.
  */
object TextFns {

  /** Whitespace tokens, in document order. */
  def words(text: Column): Column = split(text, " ")

  /** Word n-grams in document order; empty array for docs shorter than n.
    *
    * Built from n shifted `slice`s zipped together: linear in document
    * length. (The naive `transform(sequence(...), i -> element_at(w, i+k))`
    * formulation re-evaluates the embedded `split` for every element —
    * quadratic per row; measured 5x slower on the shingling stage.)
    */
  def shingles(text: Column, n: Int): Column = shinglesOfWords(words(text), n)

  /** Same over an already-tokenized words array — callers that can
    * materialize the array in a prior projection avoid re-running the
    * tokenizer per slice (see Similarity.shingleSets).
    */
  def shinglesOfWords(w: Column, n: Int): Column = {
    if (n == 1) w
    else {
      val len = size(w) - (n - 1)
      val slices = (0 until n).map(k => slice(w, lit(k + 1), len))
      val joined = slices.reduceLeft((acc, s) => zip_with(acc, s, (a, b) => concat(a, lit(" "), b)))
      when(size(w) >= n, joined).otherwise(array().cast("array<string>"))
    }
  }

  /** Keyword sets for the heuristic language-ID op. The test corpus is a
    * synthetic bag-of-words vocabulary, so "languages" are vocabulary
    * registers; the operator shape (token → keyword-set score → argmax) is
    * the real n-gram language-ID pipeline.
    */
  val langKeywords: Map[String, Seq[String]] = Map(
    "plain"    -> Seq("the", "a", "fast", "slow", "small", "big", "key", "value"),
    "sparkish" -> Seq("spark", "stream", "batch", "window", "vector", "row", "column", "dup"),
    "sqlish"   -> Seq("table", "join", "query", "filter", "group", "agg", "sort", "merge")
  )

  /** Number of tokens of `text` that appear in `keywords` (multiset count). */
  def keywordHits(text: Column, keywords: Seq[String]): Column =
    size(filter(words(text), w => w.isin(keywords.map(k => k: Any): _*)))

  /** The q26 quality features over (text, n_chars) as a struct
    * (n_words, uniq_ratio, stop_ratio, avg_word_len, quality_score):
    * unique-word ratio, stopword ratio, length and word-length
    * saturations, score weighted 0.3/0.3/0.2/0.2. ONE definition shared
    * by q26 and the q47 corpus pipeline so the formula can't drift
    * between them; every term is q6-quantized for cross-engine
    * determinism.
    */
  def qualityFeatures(text: Column, nChars: Column): Column = {
    val w = words(text)
    val nWords = size(w).cast("bigint")
    val uniqRatio = Portable.q6(size(array_distinct(w)) / nWords)
    val stopRatio = Portable.q6(keywordHits(text, Seq("the", "a")) / nWords)
    val avgWl = Portable.q6((nChars - nWords + 1) / nWords)
    struct(
      nWords.as("n_words"),
      uniqRatio.as("uniq_ratio"),
      stopRatio.as("stop_ratio"),
      avgWl.as("avg_word_len"),
      Portable.q6(uniqRatio * 0.3 + (lit(1.0) - stopRatio) * 0.3 +
        least(nWords / 100.0, lit(1.0)) * 0.2 +
        least(avgWl / 8.0, lit(1.0)) * 0.2).as("quality_score"))
  }

  /** PII redaction patterns, applied in order (email before phone before
    * generic digit runs, so the specific token wins over <NUM>). Kept in
    * the Java-regex / RE2 common subset: the DuckDB oracle runs the same
    * patterns verbatim (with its 'g' flag — Spark's regexp_replace is
    * global by default, DuckDB's is first-match-only).
    */
  val piiRedactions: Seq[(String, String)] = Seq(
    "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}" -> "<EMAIL>",
    "[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}" -> "<PHONE>",
    "[0-9]{4,}" -> "<NUM>")

  /** Apply every redaction: a chain of codegen'd regexp_replace — a pure
    * projection, no shuffle, linear in text length.
    */
  def scrubPII(text: Column): Column =
    piiRedactions.foldLeft(text) { case (t, (re, tok)) => regexp_replace(t, re, tok) }
}
