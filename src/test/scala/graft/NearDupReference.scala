package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** Plain-Scala MinHash-LSH near-duplicate reference, written from the
  * definitions in the q21/q74 oracle SQL with no graft or Spark code:
  * distinct word 3-shingles (words split on single spaces), per shingle
  * a = the first 8 hex digits of its md5 and b = the next 8, 12 seeds with
  * minhash(s) = min((a + s * (2b + 1)) mod 2^32), bands of 3 seeds, and the
  * exact Jaccard of the distinct shingle sets of every candidate pair.
  * Rows are (id_a, id_b, size_a, size_b, intersection, jaccard).
  */
object NearDupReference {
  type Pair = (Long, Long, Long, Long, Long, Double)

  /** Distinct word n-grams; empty below n words. */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val w = text.split(" ", -1)
    (0 to w.length - n).map(i => w.slice(i, i + n).mkString(" ")).toSet
  }

  private def md5Halves(s: String): (Long, Long) = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
    def word(from: Int) = (from until from + 4).foldLeft(0L)((x, i) => x << 8 | (d(i) & 0xff))
    (word(0), word(4))
  }

  /** (band, band key) of a non-empty shingle set: the '_'-joined minima of
    * each run of 3 consecutive seeds. */
  def bandKeys(set: Set[String]): Seq[(Int, String)] = {
    val hs = set.toSeq.map(md5Halves)
    val mins = (0 until 12).map(s => hs.map { case (a, b) => (a + s * (2 * b + 1)) % 4294967296L }.min)
    mins.grouped(3).zipWithIndex.map { case (m, band) => (band, m.mkString("_")) }.toSeq
  }

  private def keyed(sets: Seq[(Long, Set[String])]): Seq[((Int, String), Long)] =
    sets.filter(_._2.nonEmpty).flatMap { case (id, s) => bandKeys(s).map(_ -> id) }

  /** Pairs (a < b) where a `probes` entry shares a band key with another
    * id in `all`, verified on `current` sets; a side with no shingles
    * drops the pair. */
  private def verified(probes: Seq[((Int, String), Long)], all: Seq[((Int, String), Long)],
                       current: Map[Long, Set[String]]): Set[Pair] = {
    val byKey = all.groupMap(_._1)(_._2)
    val cands = probes.flatMap { case (k, a) =>
      byKey(k).filter(_ != a).map(b => (math.min(a, b), math.max(a, b)))
    }.toSet
    cands.collect { case (a, b) if current(a).nonEmpty && current(b).nonEmpty =>
      val (sa, sb) = (current(a), current(b))
      val i = sa.count(sb).toLong
      val j = i * 1.0 / (sa.size + sb.size - i)
      (a, b, sa.size.toLong, sb.size.toLong, i, math.floor(j * 1e6 + 0.5) / 1e6)
    }
  }

  /** The batch form: every candidate pair of the corpus. With a cap, a
    * shingle present in more than `maxShingleDF` documents is dropped
    * from every set first. */
  def pairs(docs: Seq[(Long, String)], maxShingleDF: Int = Int.MaxValue): Set[Pair] = {
    val raw = docs.map { case (id, t) => id -> shingles(t) }
    val df = raw.flatMap(_._2).groupBy(identity).map { case (s, occ) => s -> occ.size }
    val sets = raw.map { case (id, s) => id -> s.filter(df(_) <= maxShingleDF) }
    val k = keyed(sets)
    verified(k, k, sets.toMap)
  }

  /** The incremental form: pairs with an incoming member. Base bands come
    * from the base text (a re-ingested id keeps its old bands); sets are
    * the current version, incoming text winning. */
  def incrementalPairs(base: Seq[(Long, String)], incoming: Seq[(Long, String)]): Set[Pair] = {
    def sets(d: Seq[(Long, String)]) = d.map { case (id, t) => id -> shingles(t) }
    val inc = keyed(sets(incoming))
    verified(inc, inc ++ keyed(sets(base)), (sets(base) ++ sets(incoming)).toMap)
  }
}
