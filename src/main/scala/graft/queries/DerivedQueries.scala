package graft.queries

import graft.operators._
import graft.sources.Tables
import graft.functions.Portable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.asof.AsOfJoinApi

/** Round-2 reference-derived surface (SURVEY.md §2, rows 34-40): the
  * derived tables the round-1 audit found unrepresented — per-group top-N
  * feed scoring, the insider portfolio join, snapshot / SCD2 membership
  * history, structured nested-JSON metadata parsing, variable-length
  * calldata decode, and the reference-parity left-outer as-of join.
  *
  * Same determinism contract as CoreQueries: unique-id tiebreaks in every
  * window, floor-quantized floats (q4 sums / q6 ratios), identical column
  * aliases on both engines.
  */
object DerivedQueries {
  private type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "q34_feed_score" -> { (s, d) =>
      // update_post feed score (update_etl.py:1182-1199): per collection,
      // sum of the top-3 insight scores. Insight scores are the q11
      // construction; the top-3 filter plans as WindowGroupLimit (partial
      // per-group limit before the shuffle — O(groups × k) shuffle rows).
      val agg = Tables(s, d).events.groupBy(col("user_id"), col("event_type"))
        .agg(max(to_date(col("ts"))).as("last_day"),
          count(lit(1)).as("n_events"),
          Portable.q4(sum(col("value"))).as("total_value"))
      val scalars = agg.agg(max(col("last_day")).as("maxd"), max(col("total_value")).as("max_total"))
      val insight = agg.crossJoin(broadcast(scalars))
        .select(col("user_id"), col("event_type"),
          Portable.q6(pow(lit(0.8), datediff(col("maxd"), col("last_day")) + 1) * 1.2 +
            col("total_value") / col("max_total") * 2).as("score"))
      Rankings.topKPerGroup(insight, Seq("event_type"),
          Seq(col("score").desc, col("user_id").asc), 3, "rnk")
        .groupBy(col("event_type"))
        .agg(Portable.q6(sum(col("score"))).as("feed_importance_score"),
          count(lit(1)).as("n_top_insights"))
    },

    "q35_insider_portfolio" -> { (s, d) =>
      // update_insider_portfolio (update_etl.py:927-946): the insider
      // cohort enriched with its full ranked holdings. The cohort is
      // bounded by k (top-50) regardless of SF, so the broadcast hint is
      // scale-safe; holdings stay on their user_id shuffle.
      val ev = Tables(s, d).events
      val purch = ev.where(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(Portable.q4(sum(col("value"))).as("total_purchase_value"),
          count(lit(1)).as("n_purchases"))
        .where(col("n_purchases") >= 5)
      val insiders = Rankings.topK(purch,
          Seq(col("total_purchase_value").desc, col("user_id").asc), 50)
        .select(col("user_id"), col("rank").as("insider_rank"))
      val base = ev.where(col("event_type").isin("purchase", "click", "view"))
        .groupBy(col("user_id"), col("event_type"))
        .agg(Portable.q4(sum(col("value"))).as("collection_worth"),
          count(lit(1)).as("num_tokens"))
      val tot = base.groupBy(col("user_id"))
        .agg(Portable.q4(sum(col("collection_worth"))).as("total_worth"))
      val holdings = Rankings.rankWithin(base.join(tot, "user_id"), Seq("user_id"),
          Seq(col("collection_worth").desc, col("event_type")), "collection_rank_in_portfolio")
        .withColumn("collection_pct_total",
          Portable.q6(col("collection_worth") / col("total_worth")))
      holdings.join(broadcast(insiders), "user_id")
        .select(col("user_id").as("insider_id"), col("insider_rank"),
          col("event_type").as("collection_id"), col("num_tokens"),
          col("collection_worth"), col("collection_rank_in_portfolio"),
          col("total_worth"), col("collection_pct_total"))
    },

    "q36_membership_snapshot" -> { (s, d) =>
      // insider_to_circle_mapping daily snapshot (update_etl.py:905-920):
      // history flips is_current=false, today's snapshot inserts true.
      // Two simulated days: the last and second-to-last event dates.
      val ev = Tables(s, d).events
        .select(to_date(col("ts")).as("day"), col("user_id"), col("value"))
      val scal = ev.agg(max(col("day")).as("maxd"))
      val daily = ev.crossJoin(broadcast(scal))
        .groupBy(col("user_id"), col("day"), col("maxd"))
        .agg(Portable.q4(sum(col("value"))).as("member_worth"))
      def snap(cond: org.apache.spark.sql.Column) = Rankings.rankWithin(daily.where(cond),
          Seq("day"), Seq(col("member_worth").desc, col("user_id")), "member_rank")
        .select(col("user_id"), col("member_rank"), col("member_worth"),
          col("day").as("created_at"))
      val history = snap(col("day") === date_sub(col("maxd"), 1))
      val today = snap(col("day") === col("maxd"))
      Merge.snapshotMerge(history, today, "created_at")
        .select(col("user_id"), col("member_rank"), col("member_worth"),
          col("created_at").cast("timestamp").as("created_at"), col("is_current"))
    },

    "q37_metadata_json" -> { (s, d) =>
      // parse_metadata_json (update_etl.py:1380-1398): nested-JSON profile
      // documents parsed with an explicit from_json schema — nested
      // user.username, the nullable metadata object, and the sameAs-list
      // twitter-handle fallback. The JSON docs are built deterministically
      // from customer so the decode is oracle-checkable end to end.
      val docs = Tables(s, d).customer.select(
        col("c_custkey").as("id"),
        to_json(struct(
          col("c_name").as("displayName"),
          struct(
            lower(regexp_replace(col("c_name"), "[^a-zA-Z0-9]+", "_")).as("username"),
            col("c_acctbal").as("balance")).as("user"),
          when(col("c_custkey") % 3 =!= 0, struct(
            concat(lit("user"), col("c_custkey").cast("string")).as("twitterUsername"),
            concat(lit("https://example.com/"), col("c_custkey").cast("string")).as("websiteUrl")))
            .as("metadata"),
          when(col("c_custkey") % 2 === 0,
            array(concat(lit("https://twitter.com/tw"), col("c_custkey").cast("string")),
              concat(lit("https://blog.example.com/"), col("c_custkey").cast("string"))))
            .otherwise(array(concat(lit("https://blog.example.com/"), col("c_custkey").cast("string"))))
            .as("sameAs"))).as("doc"))
      JsonOps.parseProfile(docs, "doc")
    },

    "q38_calldata_decode" -> { (s, d) =>
      // decode_utls.py:126-175: length-prefixed hex payload exploded into
      // one row per decoded element. Payload = md5(text) (32 hex chars):
      // version byte, count byte (mod 6 + 1 elements), 4-hex elements.
      val p = Tables(s, d).documents.select(col("doc_id"), md5(col("text")).as("payload"))
      Decode.explodeHexArray(p, "doc_id", "payload", maxElems = 6, elemHexWidth = 4)
    },

    "q39_scd2_tier" -> { (s, d) =>
      // collection_to_circle_mapping validity intervals (update_etl.py:
      // 1094-1124): SCD2 history over a simulated re-tiering — tiers from
      // events up to (maxd - 4) are current; tiers over all events arrive
      // as the new state effective maxd.
      val ev = Tables(s, d).events
        .select(to_date(col("ts")).as("day"), col("user_id"), col("value"))
      // 1-row scalar pull (same pattern as Incremental's terminal ts)
      val maxd = ev.agg(max(col("day"))).first().getDate(0)
      val cutoff = java.sql.Date.valueOf(maxd.toLocalDate.minusDays(4))
      def tiers(df: DataFrame) = df.groupBy(col("user_id"))
        .agg(Portable.q4(sum(col("value"))).as("tv"))
        .select(col("user_id"),
          when(col("tv") >= 300, "high").otherwise("low").as("tier"))
      val current = tiers(ev.where(col("day") <= lit(cutoff)))
        .withColumn("started_at", lit(cutoff))
        .withColumn("ended_at", lit(null).cast("date"))
      val incoming = tiers(ev)
      Merge.scd2Merge(current, incoming, "user_id", Seq("tier"), lit(maxd))
        .select(col("user_id"), col("tier"),
          col("started_at").cast("timestamp").as("started_at"),
          col("ended_at").cast("timestamp").as("ended_at"))
    },

    "q40_trading_roi_left" -> { (s, d) =>
      // Reference-parity trade ROI (update_etl.py:710): inclusive sell
      // bound (sell.ts >= buy.ts) and LEFT join — unmatched buys survive
      // with gain against the user's current (latest view) value, the
      // floor-price coalesce analog.
      val ev = Tables(s, d).events
      val curr = Dedup.latestByKey(ev.where(col("event_type") === "view"),
          Seq("user_id"), "ts", "event_id")
        .select(col("user_id").as("curr_user"), col("value").as("curr_value"))
      AsOf.matchNextLeft(ev, keyCol = "user_id", tsCol = "ts", idCol = "event_id",
        sideCol = "event_type", buySide = "purchase", sellSide = "view",
        valueCol = "value", fallback = curr,
        fallbackKeyCol = "curr_user", fallbackValCol = "curr_value")
    },

    "q48_shadow_trades" -> { (s, d) =>
      // shadow_trade (adhoc create_shadow_trade.sql): the paper-trading
      // ledger. Each entry leg (cohort member's purchase, composite key
      // user × token k) matches its FIRST later exit on the same key;
      // open positions mark to the latest market value of the token.
      // P/L is realized (exit) or unrealized (mark), relative to entry.
      // The cohort is an ordered-LIMIT top-20 (bounded k → broadcast-safe
      // at every SF). The match is the outer as-of merge join on the
      // composite key; the Long.MaxValue bound puts every exit at the
      // entry's own ts at or before it, so exit_ts > entry_ts.
      val ev = Tables(s, d).events
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      val purch = ev.where(col("event_type") === "purchase" && col("value") > 0)
      val cohort = Rankings.topK(
          purch.groupBy(col("user_id"))
            .agg(Portable.q4(sum(col("value"))).as("tot")),
          Seq(col("tot").desc, col("user_id").asc), 20)
        .select(col("user_id"))
      val entries = purch.join(broadcast(cohort), Seq("user_id"))
        .select(col("user_id"), col("k"), col("event_id").as("entry_event_id"),
          col("ts").as("entry_ts"), col("value").as("entry_value"),
          lit(Long.MaxValue).as("__bound"))
      val exits = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("k"), col("ts").as("exit_ts"),
          col("event_id").as("exit_event_id"), col("value").as("exit_value"))
      val matched = AsOfJoinApi.asOfJoin(entries, exits, Seq("user_id", "k"),
        "entry_ts", "exit_ts", "__bound", "exit_event_id", outer = true)
      val marks = Dedup.latestByKey(ev.where(col("event_type") === "view"),
          Seq("k"), "ts", "event_id")
        .select(col("k"), col("value").as("mark_value"))
      matched.join(marks, Seq("k"), "left")
        .select(col("user_id"), col("k"), col("entry_event_id"), col("entry_ts"),
          col("entry_value"), col("exit_event_id"), col("exit_ts"), col("exit_value"),
          col("mark_value"),
          Portable.q6((coalesce(col("exit_value"), col("mark_value")) - col("entry_value"))
            / col("entry_value")).as("pnl_pct"),
          when(col("exit_event_id").isNotNull, "realized").otherwise("open").as("status"))
        .where(col("pnl_pct").isNotNull && col("pnl_pct") >= -1)
    },

    "q49_shadow_summary" -> { (s, d) =>
      // shadow_trade_summary: per (insider, token) position rollup —
      // earliest entry and mean P/L over the ledger.
      queries("q48_shadow_trades")(s, d)
        .groupBy(col("user_id"), col("k"))
        .agg(min(col("entry_ts")).as("first_entry_ts"),
          Portable.q6(avg(col("pnl_pct"))).as("avg_pnl_pct"),
          count(lit(1)).as("n_positions"))
    }
  )

  val oracles: Map[String, String] = Map(
    "q34_feed_score" ->
      """WITH agg AS (
        |  SELECT user_id, event_type, max(CAST(ts AS DATE)) AS last_day,
        |         count(*) AS n_events, floor((sum(value)) * 10000.0 + 0.5) / 10000.0 AS total_value
        |  FROM events GROUP BY 1, 2),
        |scalars AS (SELECT max(last_day) AS maxd, max(total_value) AS max_total FROM agg),
        |ins AS (
        |  SELECT user_id, event_type,
        |    floor((power(0.8, datediff('day', last_day, maxd) + 1) * 1.2 +
        |          total_value / max_total * 2) * 1000000.0 + 0.5) / 1000000.0 AS score
        |  FROM agg CROSS JOIN scalars),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY score DESC, user_id) AS rnk
        |  FROM ins)
        |SELECT event_type, floor((sum(score)) * 1000000.0 + 0.5) / 1000000.0 AS feed_importance_score,
        |  count(*) AS n_top_insights
        |FROM ranked WHERE rnk <= 3 GROUP BY 1""".stripMargin,

    "q35_insider_portfolio" ->
      """WITH purch AS (
        |  SELECT user_id, floor((sum(value)) * 10000.0 + 0.5) / 10000.0 AS total_purchase_value,
        |         count(*) AS n_purchases
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1 HAVING count(*) >= 5),
        |insiders AS (
        |  SELECT user_id, CAST(row_number() OVER (ORDER BY total_purchase_value DESC, user_id) AS INT) AS insider_rank
        |  FROM purch ORDER BY total_purchase_value DESC, user_id LIMIT 50),
        |base AS (
        |  SELECT user_id, event_type, floor((sum(value)) * 10000.0 + 0.5) / 10000.0 AS collection_worth,
        |         count(*) AS num_tokens
        |  FROM events WHERE event_type IN ('purchase','click','view') GROUP BY 1, 2),
        |tot AS (SELECT user_id, floor((sum(collection_worth)) * 10000.0 + 0.5) / 10000.0 AS total_worth
        |        FROM base GROUP BY 1)
        |SELECT b.user_id AS insider_id, i.insider_rank, b.event_type AS collection_id,
        |  b.num_tokens, b.collection_worth,
        |  CAST(row_number() OVER (PARTITION BY b.user_id ORDER BY b.collection_worth DESC, b.event_type) AS INT)
        |    AS collection_rank_in_portfolio,
        |  t.total_worth,
        |  floor((b.collection_worth / t.total_worth) * 1000000.0 + 0.5) / 1000000.0 AS collection_pct_total
        |FROM base b JOIN tot t ON b.user_id = t.user_id JOIN insiders i ON b.user_id = i.user_id""".stripMargin,

    "q36_membership_snapshot" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, user_id,
        |         floor((sum(value)) * 10000.0 + 0.5) / 10000.0 AS member_worth
        |  FROM events GROUP BY 1, 2),
        |prev AS (
        |  SELECT user_id, CAST(row_number() OVER (ORDER BY member_worth DESC, user_id) AS INT) AS member_rank,
        |         member_worth, day AS created_at
        |  FROM daily WHERE day = (SELECT max(CAST(ts AS DATE)) FROM events) - 1),
        |cur AS (
        |  SELECT user_id, CAST(row_number() OVER (ORDER BY member_worth DESC, user_id) AS INT) AS member_rank,
        |         member_worth, day AS created_at
        |  FROM daily WHERE day = (SELECT max(CAST(ts AS DATE)) FROM events))
        |SELECT user_id, member_rank, member_worth, CAST(created_at AS TIMESTAMP) AS created_at,
        |       false AS is_current
        |FROM prev
        |UNION ALL
        |SELECT user_id, member_rank, member_worth, CAST(created_at AS TIMESTAMP) AS created_at,
        |       true AS is_current
        |FROM cur""".stripMargin,

    "q37_metadata_json" ->
      """SELECT c_custkey AS id,
        |  c_name AS display_name,
        |  lower(regexp_replace(c_name, '[^a-zA-Z0-9]+', '_', 'g')) AS username,
        |  c_acctbal AS balance,
        |  CASE WHEN c_custkey % 3 <> 0 THEN 'user' || c_custkey
        |       WHEN c_custkey % 2 = 0 THEN 'tw' || c_custkey END AS twitter_username,
        |  CASE WHEN c_custkey % 3 <> 0 THEN 'https://example.com/' || c_custkey END AS website,
        |  c_custkey % 3 <> 0 AS has_metadata
        |FROM customer""".stripMargin,

    "q38_calldata_decode" ->
      """WITH p AS (SELECT doc_id, md5(text) AS payload FROM documents),
        |h AS (SELECT doc_id, payload,
        |        CAST(('0x' || substr(payload, 1, 2))::INT AS INT) AS version,
        |        (('0x' || substr(payload, 3, 2))::INT % 6) + 1 AS n_elems
        |      FROM p)
        |SELECT doc_id, version, n_elems,
        |  CAST(unnest(range(0, n_elems)) AS INT) AS elem_idx,
        |  unnest(list_transform(range(0, n_elems),
        |    i -> ('0x' || substr(payload, CAST(5 + i * 4 AS INT), 4))::BIGINT)) AS elem_value
        |FROM h""".stripMargin,

    "q39_scd2_tier" -> Scd2TierSql,

    "q40_trading_roi_left" ->
      """WITH seq AS (
        |  SELECT user_id, ts, event_id, event_type, value FROM events
        |  WHERE event_type IN ('purchase','view')),
        |nxt AS (
        |  SELECT *, min(CASE WHEN event_type = 'view' THEN ts END) OVER
        |    (PARTITION BY user_id ORDER BY ts
        |     RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_sell_ts
        |  FROM seq),
        |buys AS (
        |  SELECT user_id, event_id AS buy_event_id, ts AS buy_ts, value AS buy_value, next_sell_ts
        |  FROM nxt WHERE event_type = 'purchase'),
        |sells AS (
        |  SELECT user_id AS sk, event_id AS sell_event_id, ts AS sell_ts, value AS sell_value
        |  FROM seq WHERE event_type = 'view'),
        |m AS (
        |  SELECT b.user_id, b.buy_event_id, b.buy_ts, b.buy_value,
        |         s.sell_event_id, s.sell_ts, s.sell_value,
        |         row_number() OVER (PARTITION BY b.buy_event_id ORDER BY s.sell_event_id ASC NULLS LAST) AS rn
        |  FROM buys b LEFT JOIN sells s ON b.user_id = s.sk AND b.next_sell_ts = s.sell_ts),
        |curr AS (
        |  SELECT user_id AS cu, value AS curr_value FROM (
        |    SELECT user_id, value,
        |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE event_type = 'view') WHERE rn = 1)
        |SELECT m.user_id, m.buy_event_id, m.buy_ts, m.buy_value,
        |  m.sell_event_id, m.sell_ts, m.sell_value,
        |  floor((coalesce(m.sell_value, c.curr_value) - m.buy_value) * 10000.0 + 0.5) / 10000.0 AS gain,
        |  m.sell_event_id IS NOT NULL AS matched
        |FROM m LEFT JOIN curr c ON m.user_id = c.cu
        |WHERE m.rn = 1""".stripMargin,

    "q48_shadow_trades" ->
      (ShadowLedgerSql +
        "\nSELECT * FROM led WHERE pnl_pct IS NOT NULL AND pnl_pct >= -1"),

    "q49_shadow_summary" ->
      (ShadowLedgerSql + """
        |SELECT user_id, k, min(entry_ts) AS first_entry_ts,
        |  floor(avg(pnl_pct) * 1000000.0 + 0.5) / 1000000.0 AS avg_pnl_pct,
        |  count(*) AS n_positions
        |FROM (SELECT * FROM led WHERE pnl_pct IS NOT NULL AND pnl_pct >= -1)
        |GROUP BY user_id, k""".stripMargin)
  )

  /** q39's oracle as a shared fragment: ExtendedQueries' q53 point-in-time
    * lookup embeds the identical SCD2 table as a CTE, so both oracles stay
    * one definition. (`def`, not `val`: the oracles map initializes first
    * during object construction.)
    */
  private[queries] def Scd2TierSql: String =
      """WITH bounds AS (
        |  SELECT max(CAST(ts AS DATE)) AS maxd, max(CAST(ts AS DATE)) - 4 AS cutoff FROM events),
        |early AS (
        |  SELECT user_id,
        |    CASE WHEN floor((sum(value)) * 10000.0 + 0.5) / 10000.0 >= 300 THEN 'high' ELSE 'low' END AS tier
        |  FROM events WHERE CAST(ts AS DATE) <= (SELECT cutoff FROM bounds) GROUP BY 1),
        |incoming AS (
        |  SELECT user_id,
        |    CASE WHEN floor((sum(value)) * 10000.0 + 0.5) / 10000.0 >= 300 THEN 'high' ELSE 'low' END AS tier
        |  FROM events GROUP BY 1)
        |SELECT e.user_id, e.tier,
        |  CAST((SELECT cutoff FROM bounds) AS TIMESTAMP) AS started_at,
        |  CAST(NULL AS TIMESTAMP) AS ended_at
        |FROM early e JOIN incoming i ON e.user_id = i.user_id AND e.tier = i.tier
        |UNION ALL
        |SELECT e.user_id, e.tier,
        |  CAST((SELECT cutoff FROM bounds) AS TIMESTAMP) AS started_at,
        |  CAST((SELECT maxd FROM bounds) AS TIMESTAMP) AS ended_at
        |FROM early e JOIN incoming i ON e.user_id = i.user_id AND e.tier <> i.tier
        |UNION ALL
        |SELECT i.user_id, i.tier,
        |  CAST((SELECT maxd FROM bounds) AS TIMESTAMP) AS started_at,
        |  CAST(NULL AS TIMESTAMP) AS ended_at
        |FROM incoming i JOIN early e ON i.user_id = e.user_id AND e.tier <> i.tier
        |UNION ALL
        |SELECT i.user_id, i.tier,
        |  CAST((SELECT maxd FROM bounds) AS TIMESTAMP) AS started_at,
        |  CAST(NULL AS TIMESTAMP) AS ended_at
        |FROM incoming i LEFT JOIN early e ON i.user_id = e.user_id
        |WHERE e.user_id IS NULL""".stripMargin

  /** Shared CTE chain of the shadow-trade ledger (q48 full table, q49
    * summary): one SQL body, two terminal SELECTs. (`def`, not `val`: the
    * oracles map above initializes first during object construction.)
    */
  private def ShadowLedgerSql: String =
    """WITH ev AS (SELECT user_id, event_id, ts, event_type, value,
      |    CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INT) AS k FROM events),
      |purch AS (SELECT * FROM ev WHERE event_type = 'purchase' AND value > 0),
      |cohort AS (SELECT user_id FROM (
      |    SELECT user_id,
      |      row_number() OVER (ORDER BY floor(sum(value) * 10000.0 + 0.5) / 10000.0 DESC, user_id) AS rnk
      |    FROM purch GROUP BY user_id) WHERE rnk <= 20),
      |entries AS (SELECT p.user_id, p.k, p.event_id AS entry_event_id,
      |    p.ts AS entry_ts, p.value AS entry_value
      |  FROM purch p JOIN cohort c ON p.user_id = c.user_id),
      |exits AS (SELECT user_id, k, ts AS exit_ts, event_id AS exit_event_id, value AS exit_value
      |  FROM ev WHERE event_type = 'view'),
      |m AS (SELECT e.user_id, e.k, e.entry_event_id, e.entry_ts, e.entry_value,
      |    x.exit_event_id, x.exit_ts, x.exit_value,
      |    row_number() OVER (PARTITION BY e.entry_event_id
      |      ORDER BY x.exit_ts ASC NULLS LAST, x.exit_event_id ASC NULLS LAST) AS rn
      |  FROM entries e LEFT JOIN exits x
      |    ON e.user_id = x.user_id AND e.k = x.k AND x.exit_ts > e.entry_ts),
      |marks AS (SELECT k, value AS mark_value FROM (
      |    SELECT k, value, row_number() OVER (PARTITION BY k ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM ev WHERE event_type = 'view') WHERE rn = 1),
      |led AS (SELECT m.user_id, m.k, m.entry_event_id, m.entry_ts, m.entry_value,
      |    m.exit_event_id, m.exit_ts, m.exit_value, mk.mark_value,
      |    floor(((coalesce(m.exit_value, mk.mark_value) - m.entry_value) / m.entry_value) * 1000000.0 + 0.5) / 1000000.0 AS pnl_pct,
      |    CASE WHEN m.exit_event_id IS NOT NULL THEN 'realized' ELSE 'open' END AS status
      |  FROM m LEFT JOIN marks mk ON m.k = mk.k WHERE m.rn = 1)""".stripMargin
}
