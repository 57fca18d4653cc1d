package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.collection.mutable

/** Reference results computed on the driver in plain Scala, from the
  * definitions in the oracle SQL of `graft.SparkEntry.oracleSql`, without
  * any graft or Spark code, so a logic error in the program cannot repeat
  * itself in the reference. Inputs are small enough to hold in memory. */
object Oracle {
  private def r6(x: Double): Double = math.floor(x * 1000000.0 + 0.5) / 1000000.0

  /** q01: every event but the `error` ones, five columns, plus the date
    * partition column `d` the fact table is written under. */
  def cleanFacts(events: Seq[Inputs.Event]): Check.Table =
    Check.of(Seq("event_id" -> false, "ts" -> false, "user_id" -> false, "event_type" -> false,
      "value" -> true, "d" -> false),
      events.filter(_.kind != "error").map { e =>
        Seq(e.id.toString, Inputs.microTs(e.tsUs).toString, e.user.toString, e.kind, e.value,
          java.time.LocalDate.ofEpochDay(Math.floorDiv(e.tsUs, Inputs.DayUs)).toString)
      })

  /** Distinct word 3-shingles of each document with at least three words
    * (words split on single spaces, as `string_split(text, ' ')`). */
  def shingles(docs: Seq[(Long, String)]): Map[Long, Set[String]] =
    docs.flatMap { case (id, text) =>
      val w = text.split(" ", -1)
      if (w.length < 3) None
      else Some(id -> (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet)
    }.toMap

  /** Columns of a near-duplicate pair row. */
  val PairCols: Seq[(String, Boolean)] = Seq("id_a" -> false, "id_b" -> false, "size_a" -> false,
    "size_b" -> false, "intersection" -> false, "jaccard" -> true)

  /** q21: MinHash near-duplicate pairs, as rows in [[PairCols]] order. Per
    * shingle a = the first 8 hex digits of its md5, b = the next 8; 12
    * seeds, minhash(s) = min((a + s * (2b + 1)) mod 2^32); bands of 3
    * seeds; a candidate pair shares one band's key; each candidate is
    * reported with its shingle set sizes, intersection and Jaccard
    * (rounded to 1e-6). */
  def minHashPairs(docs: Seq[(Long, String)]): Seq[(Long, Long, Seq[Any])] = {
    val sh = shingles(docs)
    val md5 = MessageDigest.getInstance("MD5")
    val ab = mutable.Map.empty[String, (Long, Long)]
    def hash(s: String): (Long, Long) = ab.getOrElseUpdate(s, {
      val d = md5.digest(s.getBytes(UTF_8))
      def word(from: Int) = (from until from + 4).foldLeft(0L)((x, i) => x << 8 | (d(i) & 0xff))
      (word(0), word(4))
    })
    val buckets = mutable.Map.empty[(Int, String), mutable.Buffer[Long]]
    sh.foreach { case (id, set) =>
      val hs = set.toSeq.map(hash)
      val mins = (0 until 12).map(s => hs.map { case (a, b) => (a + s * (2 * b + 1)) % 4294967296L }.min)
      (0 until 4).foreach { band =>
        buckets.getOrElseUpdate((band, mins.slice(band * 3, band * 3 + 3).mkString("_")),
          mutable.Buffer.empty) += id
      }
    }
    val pairs = buckets.values.flatMap { ids =>
      val s = ids.distinct.sorted
      for (i <- s.indices; j <- i + 1 until s.size) yield (s(i), s(j))
    }.toSet
    pairs.toSeq.map { case (a, b) =>
      val (sa, sb) = (sh(a), sh(b))
      val inter = sa.count(sb)
      (a, b, Seq(a.toString, b.toString, sa.size.toString, sb.size.toString, inter.toString,
        r6(inter * 1.0 / (sa.size + sb.size - inter))))
    }
  }
}
