package graft.queries

import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.Portable
import org.apache.spark.sql.functions._

/** The reference-derived ETL surface (SURVEY.md §2, rows 1-19).
  *
  * Determinism contract shared with the DuckDB oracle: every window /
  * LIMIT has a unique-id tiebreak; every floating aggregate is rounded
  * (4 decimals for sums, 6 for ratios/scores); all column names aliased
  * identically on both sides.
  */
object CoreQueries {
  private type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "q01_ingest_clean" -> { (s, d) =>
      // filtered-projection ingest (receipt_status filter analog) —
      // the filter and 5-column projection both push to the parquet scan.
      Tables(s, d).events
        .where(col("event_type") =!= "error")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    },

    "q02_value_by_user" -> { (s, d) =>
      // per-key rollup (trade price per trx analog): one hash-agg shuffle
      // with map-side partial aggregation.
      Tables(s, d).events.groupBy(col("user_id"))
        .agg(Portable.q4(sum(col("value"))).as("total_value"),
          count(lit(1)).as("n_events"),
          Portable.q4(avg(col("value"))).as("avg_value"))
    },

    "q03_latest_event" -> { (s, d) =>
      Dedup.latestByKey(Tables(s, d).events, Seq("user_id"), "ts", "event_id")
        .select(col("user_id"), col("event_id").as("last_event_id"), col("ts").as("last_ts"),
          col("event_type").as("last_event_type"), col("value").as("last_value"))
    },

    "q04_first_touch" -> { (s, d) =>
      Dedup.firstByKey(Tables(s, d).events, Seq("user_id", "event_type"), "ts", "event_id")
        .select(col("user_id"), col("event_type"),
          col("event_id").as("first_event_id"), col("ts").as("first_ts"))
    },

    "q05_enriched_lineitems" -> { (s, d) =>
      // nft_trx_union analog: the big fact joins on the orderkey shuffle;
      // only the FIXED-cardinality dim (nation, 25 rows at every SF) gets a
      // broadcast hint. part/customer grow linearly with SF — a forced
      // broadcast OOMs executors at the 100 TB design point, so AQE picks
      // broadcast-vs-shuffle for them from measured sizes at runtime.
      val t = Tables(s, d)
      // lineitemSpread: the single-split scan would otherwise push all
      // 600k probe rows through the broadcast-join chain on ONE task;
      // spreading on l_orderkey also pre-partitions the num_parts groupBy
      // (same key -> no second exchange). See Tables.documentsSpread.
      val li = t.lineitemSpread
      val counts = li.groupBy(col("l_orderkey"))
        .agg(countDistinct(col("l_partkey")).as("num_parts"))
      li
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(counts, "l_orderkey")
        .join(t.part, col("l_partkey") === col("p_partkey"))
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .select(
          col("l_orderkey").as("orderkey"), col("l_linenumber").as("linenumber"),
          col("o_custkey").as("custkey"), col("p_brand").as("brand"), col("n_name").as("nation"),
          when(col("l_returnflag") === "R", "return")
            .when(col("l_quantity") >= 45, "bulk")
            .when(col("o_orderpriority").like("1-%"), "urgent")
            .otherwise("standard").as("action"),
          when(col("o_orderpriority") === "1-URGENT", "ETH")
            .when(col("o_orderpriority") === "2-HIGH", "WETH")
            .when(col("o_orderpriority") === "3-MEDIUM", "USDC")
            .when(col("o_orderpriority") === "4-NOT SPECIFIED", "SAND")
            .otherwise("MANA").as("payment_symbol"),
          col("num_parts").as("num_parts_in_order"),
          Portable.q4(col("o_totalprice") / col("num_parts")).as("price_per_part"))
    },

    "q06_floor_price" -> { (s, d) =>
      // part grows with SF — no forced broadcast; AQE decides (see q05).
      val t = Tables(s, d)
      val priced = t.lineitemSpread.join(t.part, col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("brand"), col("l_extendedprice"))
      Rankings.percentileDisc(priced, Seq("brand"), "l_extendedprice", 0.2, "floor_price")
    },

    "q07_token_ownership" -> { (s, d) =>
      // nft_ownership analog: JSON attribute parse + latest-owner dedup.
      val tok = Tables(s, d).events
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      Dedup.latestByKey(tok, Seq("event_type", "k"), "ts", "event_id")
        .select(col("event_type"), col("k"),
          col("user_id").as("owner_user_id"), col("ts").as("last_ts"))
    },

    "q08_user_worth_rank" -> { (s, d) =>
      val base = Tables(s, d).events
        .where(col("event_type").isin("purchase", "click", "view"))
        .groupBy(col("user_id"), col("event_type"))
        .agg(Portable.q4(sum(col("value"))).as("worth"), count(lit(1)).as("n_events"))
      // the rank order includes user_id (unique) so rank() == row_number():
      // globalRank computes it distributed (range partition + offsets)
      // instead of a single-partition global window — the per-user
      // aggregate grows with the data, and at 100 TB it would not fit
      // one task (Rankings.globalRank scaladoc)
      val tot = Rankings.globalRank(
        base.groupBy(col("user_id")).agg(Portable.q4(sum(col("worth"))).as("total_worth")),
        Seq(col("total_worth").desc, col("user_id")), "user_rank")
      Rankings.rankWithin(base.join(tot, "user_id"), Seq("user_id"),
          Seq(col("worth").desc, col("event_type")), "rnk_in_user")
        .withColumn("pct_of_total", Portable.q6(col("worth") / col("total_worth")))
        .select(col("user_id"), col("event_type"), col("worth"), col("n_events"),
          col("total_worth"), col("user_rank"), col("rnk_in_user"), col("pct_of_total"))
    },

    "q09_trading_roi" -> { (s, d) =>
      // native AsOfJoin plan (custom LogicalPlan/Strategy/SparkPlan): one
      // shuffle+sort per side + streaming merge; output proven identical
      // to the composed window+join+dedup form (AsOf.matchNext).
      AsOf.matchNextNative(Tables(s, d).events, keyCol = "user_id", tsCol = "ts",
        idCol = "event_id", sideCol = "event_type", buySide = "purchase",
        sellSide = "view", valueCol = "value")
    },

    "q10_top_users" -> { (s, d) =>
      val agg = Tables(s, d).events.where(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(Portable.q4(sum(col("value"))).as("total_purchase_value"), count(lit(1)).as("n_purchases"))
        .where(col("n_purchases") >= 5)
      Rankings.topK(agg, Seq(col("total_purchase_value").desc, col("user_id").asc), 200)
    },

    "q11_insight_score" -> { (s, d) =>
      val agg = Tables(s, d).events.groupBy(col("user_id"), col("event_type"))
        .agg(max(to_date(col("ts"))).as("last_day"),
          count(lit(1)).as("n_events"),
          Portable.q4(sum(col("value"))).as("total_value"))
      val scalars = agg.agg(max(col("last_day")).as("maxd"), max(col("total_value")).as("max_total"))
      // date outputs cast to timestamp: parquet DATE reaches the driver's
      // pandas compare as `object` while DuckDB DATE arrives datetime64 —
      // same values, dtype warning; timestamp lands identically on both.
      agg.crossJoin(broadcast(scalars))
        .select(col("user_id"), col("event_type"),
          col("last_day").cast("timestamp").as("last_day"),
          col("n_events"), col("total_value"),
          Portable.q6(pow(lit(0.8), datediff(col("maxd"), col("last_day")) + 1) * 1.2 +
            col("total_value") / col("max_total") * 2).as("score"))
    },

    "q12_daily_action_rollup" -> { (s, d) =>
      val ev = Tables(s, d).events
      def leg(tpe: String, action: String) = ev.where(col("event_type") === tpe)
        .groupBy(to_date(col("ts")).as("d"), col("user_id"))
        .agg(count(lit(1)).as("n"), Portable.q4(sum(col("value"))).as("total"))
        .select(col("d").cast("timestamp").as("d"), col("user_id"),
          lit(action).as("action"), col("n"), col("total"))
      leg("purchase", "buy").unionAll(leg("view", "sell"))
    },

    "q13_new_users" -> { (s, d) =>
      // anti-join novelty: registered users with no activity yet (the
      // reference's mark-new-contracts anti-join shape, update_etl.py:177).
      val t = Tables(s, d)
      t.customer.select(col("c_custkey").as("user_id"))
        .join(t.events.select(col("user_id")).distinct(), Seq("user_id"), "left_anti")
    },

    "q14_activity_gaps" -> { (s, d) =>
      Gaps.activitySummary(Tables(s, d).events, "user_id", "ts")
        .select(col("user_id"),
          col("first_day").cast("timestamp").as("first_day"),
          col("last_day").cast("timestamp").as("last_day"),
          col("n_days_active"),
          col("n_days_span").cast("bigint").as("n_days_span"),
          col("n_days_missing").cast("bigint").as("n_days_missing"))
    },

    "q15_profile_merge" -> { (s, d) =>
      val t = Tables(s, d)
      val src = Dedup.latestByKey(
        t.events.where(col("event_type") === "signup"), Seq("user_id"), "ts", "event_id")
        .select(col("user_id"), col("value"))
      Merge.coalesceMerge(t.customer, src, targetKey = "c_custkey", sourceKey = "user_id",
        updateCols = Map("c_acctbal" -> "value"))
    },

    "q16_decode_hex" -> { (s, d) =>
      import graft.functions.HashFns
      Tables(s, d).documents.select(
        col("doc_id"),
        substring(md5(col("text")), 1, 8).as("hex8"),
        HashFns.hexField(col("text"), 1, 8).as("decoded"),
        HashFns.hexField(col("text"), 1, 2).cast("int").as("version"),
        HashFns.hexField(col("text"), 3, 6).as("payload"))
    },

    "q17_username_normalize" -> { (s, d) =>
      Tables(s, d).customer.select(
        col("c_custkey").as("id"),
        col("c_name").as("raw_name"),
        lower(trim(regexp_replace(col("c_name"), "[@#/]", ""))).as("norm_name"),
        regexp_extract(col("c_name"), "([0-9]+)$", 1).cast("bigint").as("name_num"))
    },

    "q18_cooccur_jaccard" -> { (s, d) =>
      val sets = Tables(s, d).events.select(col("event_type"), col("user_id"))
      Similarity.jaccardPairs(sets, "event_type", "user_id")
        .select(col("key_a").as("type_a"), col("key_b").as("type_b"),
          col("size_a"), col("size_b"), col("intersection"), col("jaccard"))
    },

    "q19_sessionize" -> { (s, d) =>
      Sessionize.sessions(Tables(s, d).events, "user_id", "ts", "event_id", "value", 1800)
    },

    "q31_missing_dates" -> { (s, d) =>
      // the explicit per-key calendar holes (check_table_for_date_gaps
      // returning the actual gap dates, etl_utls.py:340)
      Gaps.missingDates(Tables(s, d).events, "user_id", "ts")
        .withColumn("day", col("day").cast("timestamp"))
    },

    "q32_salted_rollup" -> { (s, d) =>
      // two-phase salted aggregation: same result as a plain rollup, hot
      // keys spread over 16 reducers before the shuffle (Skew.saltedSum)
      Skew.saltedSum(Tables(s, d).events, Seq("event_type"), "value", 16)
        .select(col("event_type"), Portable.q4(col("sum_value")).as("total_value"),
          col("n_rows"))
    }
  )

  val oracles: Map[String, String] = Map(
    "q01_ingest_clean" ->
      "SELECT event_id, ts, user_id, event_type, value FROM events WHERE event_type <> 'error'",

    "q02_value_by_user" ->
      """SELECT user_id, floor((sum(value)) * 10000.0 + 0.5) / 10000.0 AS total_value, count(*) AS n_events,
        | floor((avg(value)) * 10000.0 + 0.5) / 10000.0 AS avg_value FROM events GROUP BY user_id""".stripMargin,

    "q03_latest_event" ->
      """SELECT user_id, event_id AS last_event_id, ts AS last_ts,
        | event_type AS last_event_type, value AS last_value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events) WHERE rn = 1""".stripMargin,

    "q04_first_touch" ->
      """SELECT user_id, event_type, event_id AS first_event_id, ts AS first_ts
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
        |      FROM events) WHERE rn = 1""".stripMargin,

    "q05_enriched_lineitems" ->
      """WITH counts AS (
        |  SELECT l_orderkey, count(DISTINCT l_partkey) AS num_parts FROM lineitem GROUP BY 1)
        |SELECT l.l_orderkey AS orderkey, l.l_linenumber AS linenumber, o.o_custkey AS custkey,
        |  p.p_brand AS brand, n.n_name AS nation,
        |  CASE WHEN l.l_returnflag = 'R' THEN 'return'
        |       WHEN l.l_quantity >= 45 THEN 'bulk'
        |       WHEN o.o_orderpriority LIKE '1-%' THEN 'urgent'
        |       ELSE 'standard' END AS action,
        |  CASE o.o_orderpriority WHEN '1-URGENT' THEN 'ETH' WHEN '2-HIGH' THEN 'WETH'
        |       WHEN '3-MEDIUM' THEN 'USDC' WHEN '4-NOT SPECIFIED' THEN 'SAND'
        |       ELSE 'MANA' END AS payment_symbol,
        |  c.num_parts AS num_parts_in_order,
        |  floor((o.o_totalprice / c.num_parts) * 10000.0 + 0.5) / 10000.0 AS price_per_part
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN counts c ON l.l_orderkey = c.l_orderkey
        |JOIN part p ON l.l_partkey = p.p_partkey
        |JOIN customer cu ON o.o_custkey = cu.c_custkey
        |JOIN nation n ON cu.c_nationkey = n.n_nationkey""".stripMargin,

    "q06_floor_price" ->
      """SELECT p.p_brand AS brand,
        | percentile_disc(0.2) WITHIN GROUP (ORDER BY l.l_extendedprice) AS floor_price
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey GROUP BY 1""".stripMargin,

    "q07_token_ownership" ->
      """SELECT event_type, k, user_id AS owner_user_id, ts AS last_ts
        |FROM (SELECT event_type, CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INT) AS k,
        |             user_id, ts, event_id,
        |             row_number() OVER (PARTITION BY event_type,
        |               CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INT)
        |               ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events) WHERE rn = 1""".stripMargin,

    "q08_user_worth_rank" ->
      """WITH base AS (
        |  SELECT user_id, event_type, floor((sum(value)) * 10000.0 + 0.5) / 10000.0 AS worth, count(*) AS n_events
        |  FROM events WHERE event_type IN ('purchase','click','view') GROUP BY 1, 2),
        |tot AS (
        |  SELECT user_id, floor((sum(worth)) * 10000.0 + 0.5) / 10000.0 AS total_worth,
        |    CAST(rank() OVER (ORDER BY floor((sum(worth)) * 10000.0 + 0.5) / 10000.0 DESC, user_id) AS INT) AS user_rank
        |  FROM base GROUP BY user_id)
        |SELECT b.user_id, b.event_type, b.worth, b.n_events, t.total_worth, t.user_rank,
        |  CAST(row_number() OVER (PARTITION BY b.user_id ORDER BY b.worth DESC, b.event_type) AS INT) AS rnk_in_user,
        |  floor((b.worth / t.total_worth) * 1000000.0 + 0.5) / 1000000.0 AS pct_of_total
        |FROM base b JOIN tot t ON b.user_id = t.user_id""".stripMargin,

    "q09_trading_roi" ->
      """WITH seq AS (
        |  SELECT user_id, ts, event_id, event_type, value FROM events
        |  WHERE event_type IN ('purchase','view')),
        |nxt AS (
        |  SELECT *, min(CASE WHEN event_type = 'view' THEN ts END) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_sell_ts
        |  FROM seq),
        |buys AS (
        |  SELECT user_id, event_id AS buy_event_id, ts AS buy_ts, value AS buy_value, next_sell_ts
        |  FROM nxt WHERE event_type = 'purchase' AND next_sell_ts IS NOT NULL),
        |sells AS (
        |  SELECT user_id AS sk, event_id AS sell_event_id, ts AS sell_ts, value AS sell_value
        |  FROM seq WHERE event_type = 'view'),
        |matched AS (
        |  SELECT b.user_id, b.buy_event_id, b.buy_ts, b.buy_value,
        |         s.sell_event_id, s.sell_ts, s.sell_value,
        |         row_number() OVER (PARTITION BY b.buy_event_id ORDER BY s.sell_event_id) AS rn
        |  FROM buys b JOIN sells s ON b.user_id = s.sk AND b.next_sell_ts = s.sell_ts)
        |SELECT user_id, buy_event_id, buy_ts, buy_value, sell_event_id, sell_ts, sell_value,
        |  floor((sell_value - buy_value) * 10000.0 + 0.5) / 10000.0 AS gain
        |FROM matched WHERE rn = 1""".stripMargin,

    "q10_top_users" ->
      """WITH agg AS (
        |  SELECT user_id, floor((sum(value)) * 10000.0 + 0.5) / 10000.0 AS total_purchase_value, count(*) AS n_purchases
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1 HAVING count(*) >= 5)
        |SELECT user_id, total_purchase_value, n_purchases,
        |  CAST(row_number() OVER (ORDER BY total_purchase_value DESC, user_id) AS INT) AS rank
        |FROM agg ORDER BY total_purchase_value DESC, user_id LIMIT 200""".stripMargin,

    "q11_insight_score" ->
      """WITH agg AS (
        |  SELECT user_id, event_type, max(CAST(ts AS DATE)) AS last_day,
        |         count(*) AS n_events, floor((sum(value)) * 10000.0 + 0.5) / 10000.0 AS total_value
        |  FROM events GROUP BY 1, 2),
        |scalars AS (SELECT max(last_day) AS maxd, max(total_value) AS max_total FROM agg)
        |SELECT user_id, event_type, CAST(last_day AS TIMESTAMP) AS last_day, n_events, total_value,
        |  floor((power(0.8, datediff('day', last_day, maxd) + 1) * 1.2 +
        |        total_value / max_total * 2) * 1000000.0 + 0.5) / 1000000.0 AS score
        |FROM agg CROSS JOIN scalars""".stripMargin,

    "q12_daily_action_rollup" ->
      """SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS d, user_id, 'buy' AS action, count(*) AS n,
        |  floor((sum(value)) * 10000.0 + 0.5) / 10000.0 AS total
        |FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
        |UNION ALL
        |SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS d, user_id, 'sell' AS action, count(*) AS n,
        |  floor((sum(value)) * 10000.0 + 0.5) / 10000.0 AS total
        |FROM events WHERE event_type = 'view' GROUP BY 1, 2""".stripMargin,

    "q13_new_users" ->
      """SELECT c.c_custkey AS user_id FROM customer c
        |LEFT JOIN (SELECT DISTINCT user_id FROM events) e ON c.c_custkey = e.user_id
        |WHERE e.user_id IS NULL""".stripMargin,

    "q14_activity_gaps" ->
      """SELECT user_id, CAST(min(CAST(ts AS DATE)) AS TIMESTAMP) AS first_day,
        |  CAST(max(CAST(ts AS DATE)) AS TIMESTAMP) AS last_day,
        |  count(DISTINCT CAST(ts AS DATE)) AS n_days_active,
        |  CAST(datediff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE))) + 1 AS BIGINT) AS n_days_span,
        |  CAST(datediff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE))) + 1
        |    - count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days_missing
        |FROM events GROUP BY user_id""".stripMargin,

    "q15_profile_merge" ->
      """WITH src AS (
        |  SELECT user_id, value FROM (
        |    SELECT user_id, value,
        |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE event_type = 'signup') WHERE rn = 1)
        |SELECT coalesce(t.c_custkey, s.user_id) AS id, t.c_name AS c_name,
        |  t.c_nationkey AS c_nationkey, t.c_mktsegment AS c_mktsegment,
        |  coalesce(s.value, t.c_acctbal) AS c_acctbal,
        |  t.c_custkey IS NULL AS is_new, s.user_id IS NOT NULL AS updated
        |FROM customer t FULL OUTER JOIN src s ON t.c_custkey = s.user_id""".stripMargin,

    "q16_decode_hex" ->
      """SELECT doc_id, substr(md5(text), 1, 8) AS hex8,
        |  ('0x' || substr(md5(text), 1, 8))::BIGINT AS decoded,
        |  ('0x' || substr(md5(text), 1, 2))::INT AS version,
        |  ('0x' || substr(md5(text), 3, 6))::BIGINT AS payload
        |FROM documents""".stripMargin,

    "q17_username_normalize" ->
      """SELECT c_custkey AS id, c_name AS raw_name,
        |  lower(trim(regexp_replace(c_name, '[@#/]', '', 'g'))) AS norm_name,
        |  CAST(regexp_extract(c_name, '([0-9]+)$', 1) AS BIGINT) AS name_num
        |FROM customer""".stripMargin,

    "q18_cooccur_jaccard" ->
      """WITH s AS (SELECT DISTINCT event_type AS key, user_id AS member FROM events),
        |sizes AS (SELECT key, count(*) AS sz FROM s GROUP BY 1),
        |inter AS (
        |  SELECT a.key AS type_a, b.key AS type_b, count(*) AS intersection
        |  FROM s a JOIN s b ON a.member = b.member AND a.key < b.key GROUP BY 1, 2)
        |SELECT i.type_a, i.type_b, sa.sz AS size_a, sb.sz AS size_b, i.intersection,
        |  floor((i.intersection * 1.0 / (sa.sz + sb.sz - i.intersection)) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
        |FROM inter i JOIN sizes sa ON i.type_a = sa.key JOIN sizes sb ON i.type_b = sb.key""".stripMargin,

    "q19_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts > lag(ts) OVER w + INTERVAL 1800 SECOND THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq FROM flagged)
        |SELECT user_id, session_seq, min(ts) AS session_start, max(ts) AS session_end,
        |  count(*) AS n_events, floor((sum(value)) * 10000.0 + 0.5) / 10000.0 AS total_value
        |FROM sess GROUP BY 1, 2""".stripMargin,

    "q31_missing_dates" ->
      """WITH span AS (SELECT user_id, min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
        |              FROM events GROUP BY 1),
        |cal AS (SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day FROM span),
        |act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
        |SELECT c.user_id, CAST(c.day AS TIMESTAMP) AS day FROM cal c
        |LEFT JOIN act a ON c.user_id = a.user_id AND c.day = a.day
        |WHERE a.user_id IS NULL""".stripMargin,

    "q32_salted_rollup" ->
      """SELECT event_type, floor((sum(value)) * 10000.0 + 0.5) / 10000.0 AS total_value,
        |  count(*) AS n_rows
        |FROM events GROUP BY 1""".stripMargin
  )
}
