package graft.operators

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.functions._

class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("deltaAfter the terminal ts returns only rows after it") {
    val existing = Seq((1L, ts("2024-01-01 00:00:00")), (2L, ts("2024-01-02 00:00:00")))
      .toDF("id", "ts")
    val incoming = Seq((2L, ts("2024-01-02 00:00:00")), (3L, ts("2024-01-03 00:00:00")))
      .toDF("id", "ts")
    val out = Incremental.deltaAfter(incoming, "ts", Incremental.terminalTs(existing, "ts"))
      .select("id").as[Long].collect()
    assert(out.toSeq == Seq(3L))
  }

  test("deltaAfter an empty target's terminal ts loads everything") {
    val existing = Seq.empty[(Long, Timestamp)].toDF("id", "ts")
    val incoming = Seq((1L, ts("2024-01-01 00:00:00"))).toDF("id", "ts")
    assert(Incremental.terminalTs(existing, "ts").isEmpty)
    assert(Incremental.deltaAfter(incoming, "ts", Incremental.terminalTs(existing, "ts"))
      .count() == 1)
  }

  test("deltaAfter with no boundary keeps every incoming row") {
    val incoming = Seq((2L, ts("2024-01-02 00:00:00")), (3L, ts("2024-01-03 00:00:00")))
      .toDF("id", "ts")
    assert(Incremental.deltaAfter(incoming, "ts", None).count() == 2)
  }

  test("firstTouchInsert equals the full rebuild, boundary ties included (q144 contract)") {
    // keys in both halves (state wins), keys only in the delta (insert),
    // keys only in the state (pass through), and a SAME-TIMESTAMP tie
    // inside the delta broken by event_id — the full first-touch rule
    val all = Seq(
      // key (1, "view"): first at 01-01, more in the delta → state wins
      (101L, 1L, "view", ts("2024-01-01 00:00:00")),
      (102L, 1L, "view", ts("2024-01-03 00:00:00")),
      // key (1, "buy"): delta-only, tie on ts → lower event_id wins
      (202L, 1L, "buy", ts("2024-01-03 05:00:00")),
      (201L, 1L, "buy", ts("2024-01-03 05:00:00")),
      // key (2, "view"): state-only
      (301L, 2L, "view", ts("2024-01-01 12:00:00")),
      // key (3, "view"): delta-only, single row
      (401L, 3L, "view", ts("2024-01-04 00:00:00"))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val boundary = ts("2024-01-02 00:00:00")
    def firsts(df: org.apache.spark.sql.DataFrame) =
      Dedup.firstByKey(df, Seq("user_id", "event_type"), "ts", "event_id")
        .select(col("user_id"), col("event_type"),
          col("event_id").as("first_event_id"), col("ts").as("first_ts"))
    val state = firsts(all.where(col("ts") <= lit(boundary)))
    val delta = Incremental.deltaAfter(all, "ts", Some(boundary))
    val inc = Incremental.firstTouchInsert(state, firsts(delta),
        Seq("user_id", "event_type"))
      .as[(Long, String, Long, Timestamp)].collect().toSet
    val rebuild = firsts(all).as[(Long, String, Long, Timestamp)].collect().toSet
    assert(inc == rebuild, s"incremental diverged: ${inc.diff(rebuild)} / ${rebuild.diff(inc)}")
    assert(inc.exists(_._3 == 201L), "delta tie must break on event_id")
    assert(inc.exists(_._3 == 101L) && inc.exists(_._3 == 301L) && inc.exists(_._3 == 401L))
  }

  test("firstTouchInsert appends only unseen keys") {
    // single key; the delta's duplicate of key 1 keeps the state row
    val state = Seq((1L, "a")).toDF("k", "v")
    val delta = Seq((1L, "dup"), (2L, "new")).toDF("k", "v")
    val out = Incremental.firstTouchInsert(state, delta, Seq("k"))
      .as[(Long, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, "a"), (2L, "new")))
  }
}

class ArrayMathSpec extends SparkSpec {
  import spark.implicits._

  test("dotNative matches the portable HOF fold bit-for-bit") {
    val df = Seq((Array(1.5, -2.0, 3.25), Array(0.5, 4.0, -1.0))).toDF("a", "b")
    val (nat, hof) = df.select(
      graft.functions.VectorFns.dot(org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b")),
      graft.functions.VectorFns.dotHof(org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b")))
      .as[(Double, Double)].collect().head
    assert(nat == hof)
    assert(nat == 1.5 * 0.5 + -2.0 * 4.0 + 3.25 * -1.0)
  }

  test("md5Halves matches the portable conv(substring(md5)) construction") {
    import org.apache.spark.sql.functions._
    val strs = Seq("", "a", "hello world", "shingle one two", "ünïcodé ∂øc",
      "x" * 1000) ++ (0 until 200).map(i => s"doc $i tail")
    val df = strs.toDF("s")
    val mismatches = df.select(
        org.apache.spark.sql.graft.HashExprs.md5Halves(col("s")).as("h"),
        conv(substring(md5(col("s")), 1, 8), 16, 10).cast("bigint").as("a"),
        conv(substring(md5(col("s")), 9, 8), 16, 10).cast("bigint").as("b"))
      .where(element_at(col("h"), 1) =!= col("a") || element_at(col("h"), 2) =!= col("b"))
      .count()
    assert(mismatches == 0)
  }
}
