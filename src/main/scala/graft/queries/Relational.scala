package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational operator coverage (aggregation, joins of every
  * flavor, top-k, window functions, set ops, rollup, sessionization).
  *
  * The reference (`digitalocean/firebolt`) deliberately implements none
  * of these — README.md:47-49 ("It is not an analytics tool") — but the
  * north star requires the engine to exercise them over the driver
  * testdata, and on Spark they come from Catalyst. Every query is
  * written DataFrame-first so Catalyst can push filters/prune columns,
  * with explicit broadcast hints for dimension tables (scale design:
  * dims stay broadcastable at 100 TB; fact-fact joins shuffle on keys).
  *
  * Floating-point discipline: every aggregated double is `round`-ed in
  * BOTH the Spark program and the DuckDB oracle so cross-engine
  * summation-order differences (~1e-12) cannot flip the driver's hash
  * compare. Raw (non-aggregated) doubles pass through exactly.
  */
object Relational {

  def defs: Map[String, Q] = Map(
    // ---- TPC-H Q1-style scan + aggregate (map-side partial agg) ----
    "q1_agg" -> Q(
      (s, dir) => {
        Tables(s, dir, "lineitem")
          .filter(col("l_shipdate") <= lit("1998-09-02"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            round(sum("l_quantity"), 2).as("sum_qty"),
            round(sum("l_extendedprice"), 2).as("sum_base_price"),
            round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
              .as("sum_disc_price"),
            round(avg("l_discount"), 4).as("avg_disc"),
            count(lit(1)).as("count_order"))
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  round(sum(l_quantity),2) AS sum_qty,
             |  round(sum(l_extendedprice),2) AS sum_base_price,
             |  round(sum(l_extendedprice*(1.0-l_discount)),4) AS sum_disc_price,
             |  round(avg(l_discount),4) AS avg_disc,
             |  count(*) AS count_order
             |FROM lineitem
             |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
             |GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    // ---- star join: fact shuffles, dims broadcast ----
    "q2_join_star" -> Q(
      (s, dir) => {
        val o = Tables(s, dir, "orders")
        val c = Tables(s, dir, "customer")
        val n = Tables(s, dir, "nation")
        val r = Tables(s, dir, "region")
        o.join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg(
            round(sum("o_totalprice"), 2).as("revenue"),
            count(lit(1)).as("n_orders"))
      },
      Some("""SELECT r_name, n_name, round(sum(o_totalprice),2) AS revenue, count(*) AS n_orders
             |FROM orders
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name, n_name""".stripMargin)),

    // ---- top-k: TakeOrderedAndProject, never a full global sort ----
    "q3_topk" -> Q(
      (s, dir) =>
        Tables(s, dir, "orders")
          .select("o_orderkey", "o_totalprice")
          .orderBy(desc("o_totalprice"), asc("o_orderkey"))
          .limit(10),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),

    // ---- window: rank within partition, deterministic tie-break ----
    "q4_window_rank" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(desc("value"), asc("event_id"))
        Tables(s, dir, "events")
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 3)
          .select("user_id", "event_id", "rnk")
      },
      Some("""SELECT user_id, event_id, rnk FROM (
             |  SELECT user_id, event_id,
             |    row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rnk
             |  FROM events) WHERE rnk <= 3""".stripMargin)),

    // ---- distinct aggregation ----
    "q5_distinct" -> Q(
      (s, dir) =>
        Tables(s, dir, "events").agg(
          countDistinct("user_id").as("users"),
          countDistinct("event_type").as("types"),
          count(lit(1)).as("n")),
      Some("""SELECT count(DISTINCT user_id) AS users,
             |  count(DISTINCT event_type) AS types, count(*) AS n
             |FROM events""".stripMargin)),

    // ---- filter + projection (must reach the parquet scan) ----
    "q6_filter_pushdown" -> Q(
      (s, dir) =>
        Tables(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1997-01-01") && col("l_discount") > 0.05)
          .select(
            col("l_orderkey"), col("l_linenumber"),
            round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("net")),
      Some("""SELECT l_orderkey, l_linenumber,
             |  round(l_extendedprice*(1.0-l_discount),4) AS net
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' AND l_discount > 0.05""".stripMargin)),

    // ---- rollup (grouping sets) ----
    "q7_rollup" -> Q(
      (s, dir) =>
        Tables(s, dir, "lineitem")
          .rollup("l_returnflag", "l_linestatus")
          .agg(round(sum("l_quantity"), 2).as("qty"), count(lit(1)).as("n"))
          .select(
            coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
            coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
            col("qty"), col("n")),
      Some("""SELECT coalesce(l_returnflag,'ALL') AS rf, coalesce(l_linestatus,'ALL') AS ls,
             |  round(sum(l_quantity),2) AS qty, count(*) AS n
             |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin)),

    // ---- semi join ----
    "q8_semi_join" -> Q(
      (s, dir) => {
        val c = Tables(s, dir, "customer")
        val big = Tables(s, dir, "orders").filter(col("o_totalprice") > 480000)
        c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
          .select("c_custkey", "c_name")
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 480000)""".stripMargin)),

    // ---- anti join ----
    "q9_anti_join" -> Q(
      (s, dir) => {
        val c = Tables(s, dir, "customer")
        val o = Tables(s, dir, "orders").filter(col("o_totalprice") > 480000)
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select("c_custkey", "c_mktsegment")
      },
      Some("""SELECT c_custkey, c_mktsegment FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 480000)""".stripMargin)),

    // ---- set operations: INTERSECT + EXCEPT, tagged and unioned ----
    "q10_setops" -> Q(
      (s, dir) => {
        val e = Tables(s, dir, "events")
        val hi = e.filter(col("value") > 100).select("event_type")
        val lo = e.filter(col("user_id") < 10).select("event_type")
        hi.intersect(lo).withColumn("op", lit("i"))
          .union(hi.except(lo).withColumn("op", lit("e")))
          .select("op", "event_type")
      },
      Some("""SELECT 'i' AS op, event_type FROM (
             |  SELECT event_type FROM events WHERE value > 100
             |  INTERSECT SELECT event_type FROM events WHERE user_id < 10)
             |UNION ALL
             |SELECT 'e' AS op, event_type FROM (
             |  SELECT event_type FROM events WHERE value > 100
             |  EXCEPT SELECT event_type FROM events WHERE user_id < 10)""".stripMargin)),

    // ---- tumbling time window (hour buckets as strings: no tz/unit skew) ----
    "q11_tumbling_window" -> Q(
      (s, dir) =>
        Tables(s, dir, "events")
          .groupBy(date_format(col("ts"), "yyyy-MM-dd HH").as("hr"))
          .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value")),
      Some("""SELECT strftime(ts, '%Y-%m-%d %H') AS hr, count(*) AS n,
             |  round(sum(value),2) AS sum_value
             |FROM events GROUP BY 1""".stripMargin)),

    // ---- sliding time window (2h width, 1h slide → each event in
    //      exactly two windows; Spark's native window(); oracle
    //      enumerates the two containing window starts) ----
    "q16_sliding_window" -> Q(
      (s, dir) =>
        Tables(s, dir, "events")
          .groupBy(window(col("ts"), "2 hours", "1 hour"))
          .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
          .select(
            date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("wstart"),
            col("n"), col("sum_value")),
      Some("""WITH w AS (
             |  SELECT time_bucket(INTERVAL '1 hour', ts) - to_hours(k) AS wstart, value
             |  FROM events, (VALUES (0),(1)) t(k))
             |SELECT strftime(wstart, '%Y-%m-%d %H:%M') AS wstart,
             |  count(*) AS n, round(sum(value),2) AS sum_value
             |FROM w GROUP BY 1""".stripMargin)),

    // ---- as-of (point-in-time) join: latest signup at or before each
    //      event, via the union+carry-forward formulation (one shuffle,
    //      no range explosion); oracle is DuckDB's native ASOF JOIN ----
    "q17_asof_join" -> Q(
      (s, dir) => {
        val e = Tables(s, dir, "events")
        val left = e.filter(col("event_type") =!= "signup")
          .select(col("user_id"), col("ts"), col("event_id").as("ev_id"))
        // unique (user_id, ts) on the right so tie order is defined
        val right = e.filter(col("event_type") === "signup")
          .groupBy("user_id", "ts").agg(max("event_id").as("asof_id"))
        graft.operators.Temporal.asofJoin(left, right, "user_id", "ts")
          .select("ev_id", "user_id", "asof_id")
      },
      Some("""WITH l AS (SELECT user_id, ts, event_id AS ev_id FROM events WHERE event_type <> 'signup'),
             |r AS (SELECT user_id, ts, max(event_id) AS asof_id FROM events
             |      WHERE event_type = 'signup' GROUP BY user_id, ts)
             |SELECT l.ev_id, l.user_id, r.asof_id
             |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin)),

    // ---- as-of join with a staleness tolerance: matches older than
    //      6h are treated as no match (null, left-outer semantics) —
    //      same single-shuffle carry-forward plan, the tolerance rides
    //      in the carried struct for free ----
    "q30_asof_tolerance" -> Q(
      (s, dir) => {
        val e = Tables(s, dir, "events")
        val left = e.filter(col("event_type") =!= "signup")
          .select(col("user_id"), col("ts"), col("event_id").as("ev_id"))
        val right = e.filter(col("event_type") === "signup")
          .groupBy("user_id", "ts").agg(max("event_id").as("asof_id"))
        graft.operators.Temporal.asofJoin(left, right, "user_id", "ts",
            toleranceSeconds = Some(21600L))
          .select("ev_id", "user_id", "asof_id")
      },
      Some("""WITH l AS (SELECT user_id, ts, event_id AS ev_id FROM events WHERE event_type <> 'signup'),
             |r AS (SELECT user_id, ts, max(event_id) AS asof_id FROM events
             |      WHERE event_type = 'signup' GROUP BY user_id, ts)
             |SELECT l.ev_id, l.user_id,
             |  CASE WHEN epoch_ns(l.ts)//1000000000 - epoch_ns(r.ts)//1000000000 <= 21600
             |       THEN r.asof_id END AS asof_id
             |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin)),

    // ---- forward as-of join: the EARLIEST right row at-or-after each
    //      left row (next-signup semantics). Oracle is an independent
    //      correlated ORDER BY/LIMIT subquery, not a re-derivation of
    //      the carry algorithm ----
    "q31_asof_forward" -> Q(
      (s, dir) => {
        val e = Tables(s, dir, "events")
        val left = e.filter(col("event_type") =!= "signup")
          .select(col("user_id"), col("ts"), col("event_id").as("ev_id"))
        val right = e.filter(col("event_type") === "signup")
          .groupBy("user_id", "ts").agg(max("event_id").as("asof_id"))
        graft.operators.Temporal.asofJoin(left, right, "user_id", "ts",
            direction = "forward")
          .select("ev_id", "user_id", "asof_id")
      },
      Some("""WITH l AS (SELECT user_id, ts, event_id AS ev_id FROM events WHERE event_type <> 'signup'),
             |r AS (SELECT user_id, ts, max(event_id) AS asof_id FROM events
             |      WHERE event_type = 'signup' GROUP BY user_id, ts)
             |SELECT l.ev_id, l.user_id,
             |  (SELECT r.asof_id FROM r
             |   WHERE r.user_id = l.user_id AND r.ts >= l.ts
             |   ORDER BY r.ts LIMIT 1) AS asof_id
             |FROM l""".stripMargin)),

    // ---- duration-capped sessionization: sessions split at a 30-min
    //      inactivity gap AND every 60 min of elapsed time from the
    //      island start (the bounded-session variant real analytics
    //      ships — unbounded sessions never close for always-on users).
    //      Integer epoch-second arithmetic throughout, so island ids,
    //      sub-splits, and bounds are engine-exact ----
    "q32_capped_sessions" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
        val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val e = Tables(s, dir, "events")
          .withColumn("sec", graft.functions.EpochTime.epochSeconds(col("ts")))
          .withColumn("gap", col("sec") - lag("sec", 1).over(w))
          .withColumn("newisland",
            when(col("gap").isNull || col("gap") > 1800, 1L).otherwise(0L))
          .withColumn("island", sum("newisland").over(run))
        val iw = Window.partitionBy("user_id", "island")
        e.withColumn("island_start", min("sec").over(iw))
          .withColumn("sub", floor((col("sec") - col("island_start")) / 3600L).cast("long"))
          .groupBy("user_id", "island", "sub")
          .agg(count(lit(1)).as("n_events"),
            min("sec").as("start_sec"), max("sec").as("end_sec"))
      },
      Some("""WITH d AS (SELECT user_id, event_id,
             |  CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
             |g AS (SELECT user_id, event_id, sec,
             |  sec - lag(sec) OVER w AS gap
             |  FROM d WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
             |i AS (SELECT user_id, event_id, sec,
             |  CAST(sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
             |    OVER (PARTITION BY user_id ORDER BY sec, event_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
             |  FROM g),
             |s AS (SELECT user_id, sec, island,
             |  (sec - min(sec) OVER (PARTITION BY user_id, island)) // 3600 AS sub
             |  FROM i)
             |SELECT user_id, island, CAST(sub AS BIGINT) AS sub,
             |  count(*) AS n_events,
             |  min(sec) AS start_sec, max(sec) AS end_sec
             |FROM s GROUP BY user_id, island, sub""".stripMargin)),

    // ---- forward-fill imputation (gap filling): carry the last
    //      non-null observation forward per user — running last_value
    //      IGNORE NULLS, one shuffle on the partition key ----
    "q33_forward_fill" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val v = when(pmod(col("event_id"), lit(7)) === 0, lit(null))
          .otherwise(col("value"))
        Tables(s, dir, "events").select(
          col("event_id"), col("user_id"),
          round(last(v, ignoreNulls = true).over(w), 2).as("filled"))
      },
      Some("""SELECT event_id, user_id,
             |  round(last_value(CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END IGNORE NULLS)
             |    OVER (PARTITION BY user_id ORDER BY event_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS filled
             |FROM events""".stripMargin)),

    // ---- interval-overlap join (interval × interval, no equi-key):
    //      signup windows overlapping purchase windows — bucketed hash
    //      join with first-shared-bucket emission (no pair distinct);
    //      oracle is DuckDB's inequality join ----
    "q36_interval_overlap" -> Q(
      (s, dir) => {
        val e = Tables(s, dir, "events")
        val sw = e.filter(col("event_type") === "signup" && pmod(col("event_id"), lit(2)) === 0)
          .select(col("event_id").as("s_id"), col("ts").as("s_start"),
            (col("ts") + expr("INTERVAL 30 MINUTES")).as("s_end"))
        val pw = e.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("ts").as("p_start"),
            (col("ts") + expr("INTERVAL 15 MINUTES")).as("p_end"))
        graft.operators.Temporal.intervalOverlapJoin(
            sw, "s_start", "s_end", pw, "p_start", "p_end", bucketSeconds = 1800L,
            maxBucketsPerInterval = Some(64L))
          .select("s_id", "p_id")
      },
      Some("""SELECT s.event_id AS s_id, p.event_id AS p_id
             |FROM (SELECT event_id, ts AS s_start, ts + INTERVAL 30 MINUTE AS s_end
             |      FROM events WHERE event_type = 'signup' AND event_id % 2 = 0) s
             |JOIN (SELECT event_id, ts AS p_start, ts + INTERVAL 15 MINUTE AS p_end
             |      FROM events WHERE event_type = 'purchase') p
             |  ON s.s_start <= p.p_end AND p.p_start <= s.s_end""".stripMargin)),

    // ---- nearest as-of join: the closest signup in EITHER direction
    //      (floor-second distance, ties backward) — the imputation
    //      variant of point-in-time matching. Oracle composes DuckDB's
    //      backward-native ASOF with a correlated forward lookup and
    //      applies the identical integer distance rule ----
    "q35_asof_nearest" -> Q(
      (s, dir) => {
        val e = Tables(s, dir, "events")
        val left = e.filter(col("event_type") =!= "signup")
          .select(col("user_id"), col("ts"), col("event_id").as("ev_id"))
        val right = e.filter(col("event_type") === "signup")
          .groupBy("user_id", "ts").agg(max("event_id").as("asof_id"))
        graft.operators.Temporal.asofJoin(left, right, "user_id", "ts",
            direction = "nearest")
          .select("ev_id", "user_id", "asof_id")
      },
      Some("""WITH l AS (SELECT user_id, ts, event_id AS ev_id FROM events WHERE event_type <> 'signup'),
             |r AS (SELECT user_id, ts, max(event_id) AS rid FROM events
             |      WHERE event_type = 'signup' GROUP BY user_id, ts),
             |b AS (SELECT l.ev_id, l.user_id, l.ts, r.rid AS b_id, r.ts AS b_ts
             |      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts),
             |f AS (SELECT b.*,
             |  (SELECT r.rid FROM r WHERE r.user_id = b.user_id AND r.ts > b.ts
             |   ORDER BY r.ts LIMIT 1) AS f_id,
             |  (SELECT r.ts FROM r WHERE r.user_id = b.user_id AND r.ts > b.ts
             |   ORDER BY r.ts LIMIT 1) AS f_ts
             |  FROM b)
             |SELECT ev_id, user_id,
             |  CASE WHEN b_id IS NULL THEN f_id
             |       WHEN f_id IS NULL THEN b_id
             |       WHEN epoch_us(ts)//1000000 - epoch_us(b_ts)//1000000
             |            <= epoch_us(f_ts)//1000000 - epoch_us(ts)//1000000
             |       THEN b_id ELSE f_id END AS asof_id
             |FROM f""".stripMargin)),

    // ---- null-safe equi-join (<=>): null keys MATCH null keys — the
    //      semantics dirty dimension keys need; still hash-joinable
    //      (Catalyst treats <=> as an equi-condition, no nested loop) ----
    "q34_nullsafe_join" -> Q(
      (s, dir) => {
        val e = Tables(s, dir, "events").select(
          col("event_id"),
          when(pmod(col("event_id"), lit(5)) === 0, lit(null))
            .otherwise(pmod(col("user_id"), lit(50))).as("k"))
        val d = e.groupBy("k").agg(count(lit(1)).as("grp_n"))
        e.as("l").join(d.as("r"), col("l.k") <=> col("r.k"))
          .select(col("l.event_id"), col("l.k").as("k"), col("grp_n"))
      },
      Some("""WITH e AS (SELECT event_id,
             |  CASE WHEN event_id % 5 = 0 THEN NULL ELSE user_id % 50 END AS k FROM events),
             |d AS (SELECT k, count(*) AS grp_n FROM e GROUP BY k)
             |SELECT e.event_id, e.k, CAST(d.grp_n AS BIGINT) AS grp_n
             |FROM e JOIN d ON e.k IS NOT DISTINCT FROM d.k""".stripMargin)),

    // ---- range (interval-containment) join, no equi-key: purchases
    //      inside 30-minute windows opened by signups; bucketed hash
    //      join instead of a nested-loop; oracle is DuckDB's inequality
    //      (IE) join ----
    "q18_range_join" -> Q(
      (s, dir) => {
        val e = Tables(s, dir, "events")
        val points = e.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("ts"))
        val intervals = e.filter(col("event_type") === "signup")
          .select(col("event_id").as("i_id"), col("ts").as("start_ts"),
            (col("ts") + expr("INTERVAL 30 MINUTES")).as("end_ts"))
        graft.operators.Temporal.rangeJoin(
            points, "ts", intervals, "start_ts", "end_ts", bucketSeconds = 1800L,
            maxBucketsPerInterval = Some(64L))
          .select("p_id", "i_id")
      },
      Some("""SELECT p.event_id AS p_id, i.event_id AS i_id
             |FROM (SELECT event_id, ts FROM events WHERE event_type = 'purchase') p
             |JOIN (SELECT event_id, ts AS start_ts, ts + INTERVAL 30 MINUTE AS end_ts
             |      FROM events WHERE event_type = 'signup') i
             |  ON p.ts >= i.start_ts AND p.ts <= i.end_ts""".stripMargin)),

    // ---- sessionization (gaps-and-islands, 30 min inactivity gap) ----
    "q12_sessions" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("event_id")
        Tables(s, dir, "events")
          .withColumn("sec", graft.functions.EpochTime.epochSeconds(col("ts")))
          .withColumn("gap", col("sec") - lag("sec", 1).over(w))
          .withColumn("newsess",
            when(col("gap").isNull || col("gap") > 1800, 1).otherwise(0))
          .groupBy("user_id")
          .agg(sum("newsess").as("n_sessions"), count(lit(1)).as("n_events"))
      },
      Some("""WITH d AS (
             |  SELECT user_id,
             |    CAST(floor(epoch(ts)) AS BIGINT)
             |      - lag(CAST(floor(epoch(ts)) AS BIGINT))
             |        OVER (PARTITION BY user_id ORDER BY event_id) AS gap
             |  FROM events)
             |SELECT user_id,
             |  CAST(sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
             |  count(*) AS n_events
             |FROM d GROUP BY user_id""".stripMargin)),

    // ---- lag/lead ----
    "q13_lag_lead" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("event_id")
        Tables(s, dir, "events")
          .withColumn("prev", lag("value", 1).over(w))
          .withColumn("next", lead("value", 1).over(w))
          .select(
            col("event_id"), col("user_id"),
            round(col("value") - col("prev"), 2).as("delta_prev"),
            round(col("next") - col("value"), 2).as("delta_next"))
      },
      Some("""SELECT event_id, user_id,
             |  round(value - lag(value) OVER w, 2) AS delta_prev,
             |  round(lead(value) OVER w - value, 2) AS delta_next
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY event_id)""".stripMargin)),

    // ---- sliding frame aggregate (moving average) ----
    "q14_moving_avg" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("event_id")
          .rowsBetween(-3, Window.currentRow)
        Tables(s, dir, "events")
          .select(
            col("event_id"), col("user_id"),
            round(avg("value").over(w), 4).as("mavg"))
      },
      Some("""SELECT event_id, user_id,
             |  round(avg(value) OVER (PARTITION BY user_id ORDER BY event_id
             |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS mavg
             |FROM events""".stripMargin)),

    // ---- exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    //      quantile_cont); the approximate path for 100 TB is
    //      percentile_approx / approx_count_distinct, spec-bounded in
    //      ApproxSpec since sketches never hash-match across engines ----
    "q15_percentiles" -> Q(
      (s, dir) =>
        Tables(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            round(percentile(col("l_quantity"), lit(0.5)), 4).as("p50_qty"),
            round(percentile(col("l_quantity"), lit(0.95)), 4).as("p95_qty"),
            round(percentile(col("l_extendedprice"), lit(0.9)), 4).as("p90_price")),
      Some("""SELECT l_returnflag,
             |  round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
             |  round(quantile_cont(l_quantity, 0.95), 4) AS p95_qty,
             |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // ---- native session_window (the streaming-stateful session
    //      operator, exercised in batch): session = events whose
    //      [ts, ts+30min) windows chain; end = last ts + gap. Oracle
    //      re-derives via gaps-and-islands with the SAME split rule
    //      (diff >= 30min starts a new session) ----
    "q19_session_window" -> Q(
      (s, dir) =>
        Tables(s, dir, "events")
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"),
            date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
            date_format(col("sw.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
            col("n_events")),
      Some("""WITH d AS (SELECT user_id, ts,
             |  CASE WHEN lag(ts) OVER w IS NULL
             |         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
             |       THEN 1 ELSE 0 END AS newsess
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
             |i AS (SELECT user_id, ts,
             |  sum(newsess) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess
             |  FROM d)
             |SELECT user_id,
             |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
             |  strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
             |  count(*) AS n_events
             |FROM i GROUP BY user_id, sess""".stripMargin)),

    // ---- cube: all grouping-set combinations over two dimensions ----
    "q20_cube" -> Q(
      (s, dir) =>
        Tables(s, dir, "events")
          .cube(col("event_type"), pmod(col("user_id"), lit(10)).as("decile"))
          .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value")),
      Some("""SELECT event_type, user_id % 10 AS decile,
             |  count(*) AS n, round(sum(value),2) AS sum_value
             |FROM events GROUP BY CUBE (event_type, decile)""".stripMargin)),

    // ---- rank-function family: dense_rank / percent_rank / cume_dist
    //      over a tied ordering (floor of value), ntile over the
    //      tie-broken unique ordering (ntile on a tied order would be
    //      nondeterministic row assignment) ----
    "q21_rank_family" -> Q(
      (s, dir) => {
        val tied = Window.partitionBy("event_type")
          .orderBy(floor(col("value")).desc)
        val uniq = Window.partitionBy("event_type")
          .orderBy(floor(col("value")).desc, col("event_id").asc)
        Tables(s, dir, "events")
          .select(col("event_id"), col("event_type"),
            dense_rank().over(tied).cast("long").as("drank"),
            percent_rank().over(tied).as("prank"),
            cume_dist().over(tied).as("cdist"),
            ntile(4).over(uniq).cast("long").as("quartile"))
      },
      Some("""SELECT event_id, event_type,
             |  dense_rank() OVER wt AS drank,
             |  percent_rank() OVER wt AS prank,
             |  cume_dist() OVER wt AS cdist,
             |  ntile(4) OVER wu AS quartile
             |FROM events
             |WINDOW wt AS (PARTITION BY event_type ORDER BY floor(value) DESC),
             |       wu AS (PARTITION BY event_type ORDER BY floor(value) DESC, event_id)""".stripMargin)),

    // ---- semi-structured: typed JSON extraction from the props column
    //      (from_json with an explicit schema — codegen'd, no UDF);
    //      oracle uses DuckDB's json_extract. Integer sum output cast
    //      to BIGINT (DuckDB types it HUGEINT otherwise) ----
    "q22_json_props" -> Q(
      (s, dir) =>
        Tables(s, dir, "events")
          .select(col("event_type"),
            expr("from_json(props, 'k LONG').k").as("k"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("k").as("sum_k"), max("k").as("max_k")),
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(sum(CAST(json_extract(props,'$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             |  max(CAST(json_extract(props,'$.k') AS BIGINT)) AS max_k
             |FROM events GROUP BY event_type""".stripMargin)),

    // ---- unpivot (wide → long): three lineitem measures melted into
    //      (measure, value) rows; oracle is DuckDB UNPIVOT ----
    "q23_unpivot" -> Q(
      (s, dir) =>
        Tables(s, dir, "lineitem")
          .filter(col("l_orderkey") < 100)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"), col("l_extendedprice"), col("l_discount"))
          .unpivot(
            Array(col("l_orderkey"), col("l_linenumber")),
            Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
            "measure", "val"),
      Some("""UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
             |         FROM lineitem WHERE l_orderkey < 100)
             |ON l_quantity, l_extendedprice, l_discount
             |INTO NAME measure VALUE val""".stripMargin)),

    // ---- pivot (long → wide): event counts per user decile, one
    //      column per event type. Explicit value list keeps the output
    //      schema static (the distributed contract: no driver-side
    //      distinct scan to discover columns) ----
    "q24_pivot" -> Q(
      (s, dir) =>
        Tables(s, dir, "events")
          .groupBy(pmod(col("user_id"), lit(10)).as("decile"))
          .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
          .agg(count(lit(1)))
          // pivot leaves NULL in cells with no (decile, type) rows even
          // for count; the oracle's sum(CASE) says 0 — fill so a sparse
          // grid at another SF can't hash-mismatch
          .na.fill(0L, Seq("click", "error", "purchase", "signup", "view")),
      Some("""SELECT user_id % 10 AS decile,
             |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
             |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
             |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
             |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
             |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
             |FROM events GROUP BY decile""".stripMargin)),

    // ---- explicit grouping sets (finer than rollup/cube: exactly the
    //      requested combinations, one shuffle with a grouping-id
    //      expand — no wasted intermediate levels at scale) ----
    "q25_grouping_sets" -> Q(
      (s, dir) => {
        // grouping-set columns must be plain attributes — an expression
        // in the set list doesn't unify with the grouping column and
        // gets nulled out of every set, so materialize decile first
        Tables(s, dir, "events")
          .withColumn("decile", pmod(col("user_id"), lit(10)))
          .groupingSets(
            Seq(Seq(col("event_type"), col("decile")), Seq(col("event_type")), Seq()),
            col("event_type"), col("decile"))
          .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
          .select(
            coalesce(col("event_type"), lit("ALL")).as("et"),
            coalesce(col("decile"), lit(-1L)).as("decile"),
            col("n"), col("total"))
      },
      Some("""SELECT coalesce(event_type,'ALL') AS et,
             |  coalesce(user_id % 10, -1) AS decile,
             |  count(*) AS n, round(sum(value),2) AS total
             |FROM events
             |GROUP BY GROUPING SETS ((event_type, user_id % 10), (event_type), ())""".stripMargin)),

    // ---- correlated EXISTS / NOT EXISTS subqueries (Catalyst rewrites
    //      them to semi/anti joins — same shuffle shape as q8/q9, but
    //      exercised through the SQL subquery planner) ----
    "q26_exists_subquery" -> Q(
      (s, dir) => {
        Tables(s, dir, "customer").createOrReplaceTempView("v_customer")
        Tables(s, dir, "orders").createOrReplaceTempView("v_orders")
        s.sql("""SELECT c_custkey, c_name FROM v_customer c
                |WHERE EXISTS (SELECT 1 FROM v_orders o
                |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
                |  AND NOT EXISTS (SELECT 1 FROM v_orders o2
                |                  WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F'
                |                    AND o2.o_totalprice < 50000)""".stripMargin)
      },
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders o
             |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
             |  AND NOT EXISTS (SELECT 1 FROM orders o2
             |                  WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F'
             |                    AND o2.o_totalprice < 50000)""".stripMargin)),

    // ---- window frame functions: first/last/nth over an explicit
    //      unbounded frame (default frames differ subtly across
    //      engines, so the frame is always spelled out) ----
    "q27_frame_functions" -> Q(
      (s, dir) => {
        // event_id is unique, so the frame order is engine-identical
        // (ts alone could tie and reorder across engines)
        val w = Window.partitionBy("user_id").orderBy(col("event_id").asc)
        val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables(s, dir, "events").select(
          col("event_id"), col("user_id"),
          first(col("event_type")).over(full).as("first_et"),
          last(col("event_type")).over(full).as("last_et"),
          nth_value(col("event_type"), 2).over(full).as("second_et"))
      },
      Some("""SELECT event_id, user_id,
             |  first_value(event_type) OVER w AS first_et,
             |  last_value(event_type) OVER w AS last_et,
             |  nth_value(event_type, 2) OVER w AS second_et
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY event_id
             |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin)),

    // ---- correlated scalar subquery (rewritten by Catalyst to an
    //      aggregate + left outer join — one shuffle on the correlation
    //      key, no per-row subquery execution) ----
    "q29_scalar_subquery" -> Q(
      (s, dir) => {
        Tables(s, dir, "customer").createOrReplaceTempView("v_customer")
        Tables(s, dir, "orders").createOrReplaceTempView("v_orders")
        s.sql("""SELECT c_custkey, c_name,
                |  round((SELECT max(o_totalprice) FROM v_orders o
                |         WHERE o.o_custkey = c.c_custkey), 2) AS max_price,
                |  (SELECT count(*) FROM v_orders o2
                |   WHERE o2.o_custkey = c.c_custkey) AS n_orders
                |FROM v_customer c""".stripMargin)
      },
      Some("""SELECT c_custkey, c_name,
             |  round((SELECT max(o_totalprice) FROM orders o
             |         WHERE o.o_custkey = c.c_custkey), 2) AS max_price,
             |  CAST((SELECT count(*) FROM orders o2
             |        WHERE o2.o_custkey = c.c_custkey) AS BIGINT) AS n_orders
             |FROM customer c""".stripMargin)),

    // ---- salted hot-key aggregation: event_type has only 5 values
    //      over the whole corpus — the canonical hot-reducer shape.
    //      Two-stage (key, salt) → key aggregation; values summed as
    //      integer cents so the result is exact regardless of partial
    //      grouping order, proving salted == direct via the oracle ----
    "q28_salted_hot_agg" -> Q(
      (s, dir) => {
        val e = Tables(s, dir, "events")
          .select(col("event_type"),
            round(col("value") * 100).cast("long").as("cents"))
        graft.operators.Skew.saltedAgg(e, Seq("event_type"), n = 16, sums = Seq("cents"))
          .select(col("event_type"), col("cnt"), col("sum_cents"))
      },
      Some("""SELECT event_type, count(*) AS cnt,
             |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
             |FROM events GROUP BY event_type""".stripMargin))
  )
}
