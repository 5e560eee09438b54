package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Join-shaped coverage. The reference itself has no joins (SURVEY §2.4
  * note) — these exercise the engine surface an analytics user expects:
  * broadcast dimension joins, semi/anti joins, and the spark.sql string
  * API over registered views.
  */
object JoinQueries extends QuerySet {
  import Parity._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Banded point-in-interval range join (ops/RangeJoin): lineitem ship
    // days against 30-day windows opened by a sampled set of orders. The
    // bin equi-join replaces the nested-loop theta join Spark would
    // otherwise plan; the oracle states the plain BETWEEN join.
    "j06_range_join" -> ((s, d) => {
      val epoch = lit("1970-01-01")
      val li = Tables.lineitem(s, d).select(col("l_quantity"),
        datediff(col("l_shipdate"), epoch).as("ship_day"))
      val iv = Tables.orders(s, d).filter(col("o_custkey") % 1000 === 0)
        .select(col("o_orderkey"),
          datediff(col("o_orderdate"), epoch).as("start_day"))
        .withColumn("end_day", col("start_day") + 30)
      graft.ops.RangeJoin.pointInInterval(li, iv,
          "ship_day", "start_day", "end_day", binWidth = 32)
        .agg(count(lit(1)).as("n_pairs"),
          dsum(col("l_quantity")).as("sum_qty"),
          countDistinct(col("o_orderkey")).as("n_intervals"))
    }),

    // Banded interval-overlap join: lineitem [ship, receipt] windows of
    // a sampled supplier set against 14-day order windows. Each true
    // overlap is emitted from exactly one bin (left-edge rule), so the
    // banded join needs no distinct — the oracle states the plain
    // overlap theta join.
    "j07_interval_overlap" -> ((s, d) => {
      val epoch = lit("1970-01-01")
      val li = Tables.lineitem(s, d).filter(col("l_suppkey") % 100 === 0)
        .select(col("l_orderkey"), col("l_quantity"),
          datediff(col("l_shipdate"), epoch).as("a_start"))
        .withColumn("a_end", col("a_start") + 7)
      val iv = Tables.orders(s, d).filter(col("o_custkey") % 500 === 0)
        .select(col("o_orderkey"),
          datediff(col("o_orderdate"), epoch).as("b_start"))
        .withColumn("b_end", col("b_start") + 14)
      graft.ops.RangeJoin.intervalOverlap(li, iv,
          "a_start", "a_end", "b_start", "b_end", binWidth = 16)
        .agg(count(lit(1)).as("n_pairs"),
          dsum(col("l_quantity")).as("sum_qty"),
          countDistinct(col("o_orderkey")).as("n_b"),
          countDistinct(col("l_orderkey")).as("n_a"))
    }),

    // Geo radius self-join: the ~2000 synthetic event locations (w12's
    // lattice refined by user bucket) paired within 500 great-circle
    // km via the 3-D chord grid — blocking only prunes (chord-cell
    // theorem + exact haversine verify), so the oracle is the plain
    // θ-join over all point pairs.
    "j10_geo_radius_join" -> ((s, d) => {
      val u = col("user_id") % 20
      val pts = Tables.events(s, d)
        .filter(col("user_id").isNotNull)
        // k is LONG: the 50x asymptote probe grows k proportionally, and
        // k*1000 / k*53 in int arithmetic wrap past 2^31 (observed
        // ARITHMETIC_OVERFLOW under ANSI at 50x of sf0.1).
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .filter(col("k").isNotNull)
        .select((col("k") * 1000 + u).as("pid"),
          (((col("k") * 37 + u * 13) % 180 - 90).cast("double") + 0.5)
            .as("lat"),
          (((col("k") * 53 + u * 29) % 360 - 180).cast("double") + 0.5)
            .as("lon"))
        .distinct()
      graft.ops.Journey.geoRadiusSelfJoinCached(pts, "pid", "lat", "lon",
          500.0)
        .df.orderBy(col("pid_a"), col("pid_b"))
    }),

    // Broadcast dimension join: fact scan stays shuffle-free.
    "j01_broadcast_join" -> ((s, d) =>
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("p_brand"))),

    // Left-semi / left-anti (EXISTS / NOT EXISTS).
    "j02_semi_anti" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).select(col("o_custkey"))
      val withOrders = c.join(o, col("c_custkey") === col("o_custkey"),
        "left_semi").agg(count(lit(1)).as("n_with"))
      val withoutOrders = c.join(o, col("c_custkey") === col("o_custkey"),
        "left_anti").agg(count(lit(1)).as("n_without"))
      withOrders.crossJoin(broadcast(withoutOrders))
    }),

    // Set operations: INTERSECT / EXCEPT / UNION over key sets.
    "j05_setops" -> ((s, d) => {
      val a = Tables.orders(s, d).select(col("o_custkey").as("k")).distinct()
      val b = Tables.customer(s, d).filter(col("c_acctbal") > 5000)
        .select(col("c_custkey").as("k")).distinct()
      a.intersect(b).agg(count(lit(1)).as("n_intersect"))
        .crossJoin(broadcast(
          a.except(b).agg(count(lit(1)).as("n_except"))))
        .crossJoin(broadcast(
          a.union(b).distinct().agg(count(lit(1)).as("n_union"))))
    }),

    // Backward as-of join (point-in-time feature join): every purchase
    // event gets the most recent prior view value for its user. Right
    // side deduped per (user, ts) by max event_id so matches are
    // unambiguous. Checked against DuckDB's native ASOF JOIN.
    "j04_asof_join" -> ((s, d) => {
      val ev = Tables.eventsMicros(s, d)
      val purchases = ev.filter(col("event_type") === "purchase" &&
        // CAP: slice cover=asof
        col("user_id") < 100)
        .select("event_id", "user_id", "ts_us")
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max_by(col("value"), col("event_id")).as("value"))
      graft.ops.AsOfJoin.backward(purchases, views,
        keyCol = "user_id", leftTime = "ts_us", rightTime = "ts_us",
        rightValueCols = Seq("value"))
        .select(col("event_id"), col("user_id"),
          col("asof_value"))
        .orderBy(col("event_id"))
    }),

    // Forward as-of: the next view at-or-after each purchase (the
    // "next event after" lookup). Same one-shuffle union-window shape
    // as j04, frame ahead instead of behind.
    "j08_asof_forward" -> ((s, d) => {
      val ev = Tables.eventsMicros(s, d)
      val purchases = ev.filter(col("event_type") === "purchase" &&
        // CAP: slice cover=asof
        col("user_id") < 100)
        .select("event_id", "user_id", "ts_us")
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max_by(col("value"), col("event_id")).as("value"))
      graft.ops.AsOfJoin.forward(purchases, views,
        keyCol = "user_id", leftTime = "ts_us", rightTime = "ts_us",
        rightValueCols = Seq("value"))
        .select(col("event_id"), col("user_id"), col("asof_value"))
        .orderBy(col("event_id"))
    }),

    // Nearest as-of: closest view either way, ties backward (the
    // pandas merge_asof direction='nearest' shape); the matched view
    // timestamp rides along so the oracle pins WHICH row won, not
    // just its value.
    "j09_asof_nearest" -> ((s, d) => {
      // the matched time is an OUTPUT column here, and DuckDB's parquet
      // reader resolves ts to microseconds — so the whole join runs on
      // epoch-µs (Tables.tsMicros) on both sides
      val ev = Tables.eventsMicros(s, d)
      val purchases = ev.filter(col("event_type") === "purchase" &&
        // CAP: slice cover=asof
        col("user_id") < 100)
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("value"),
          col("ts_us"))
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max_by(col("value"), col("event_id")).as("value"))
      graft.ops.AsOfJoin.nearest(purchases, views,
        keyCol = "user_id", leftTime = "ts_us", rightTime = "ts_us",
        rightValueCols = Seq("value"))
        .select(col("event_id"), col("user_id"), col("asof_time"),
          col("asof_value"))
        .orderBy(col("event_id"))
    }),

    // The SQL string surface over registered temp views. The views fan
    // out past the single-row-group test files so the map-side partial
    // aggregate runs core-wide (no-op on split production scans).
    "j03_sql_revenue" -> ((s, d) => {
      graft.ops.Layout.fanOut(Tables.orders(s, d))
        .createOrReplaceTempView("v_orders")
      graft.ops.Layout.fanOut(Tables.lineitem(s, d))
        .createOrReplaceTempView("v_lineitem")
      s.sql(
        """SELECT o.o_orderkey, o.o_orderpriority,
             CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
                      (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS revenue
           FROM v_orders o JOIN v_lineitem l ON o.o_orderkey = l.l_orderkey
           GROUP BY o.o_orderkey, o.o_orderpriority
           ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""")
    })
  )

  def oracle: Map[String, String] = Map(
    "j10_geo_radius_join" ->
      """WITH e AS (SELECT DISTINCT
                      CAST(json_extract(props, '$.k') AS BIGINT) AS k,
                      user_id % 20 AS u
                    FROM events
                    WHERE json_extract(props, '$.k') IS NOT NULL
                      AND user_id IS NOT NULL),
         p AS (SELECT k * 1000 + u AS pid,
                 CAST((k * 37 + u * 13) % 180 - 90 AS DOUBLE) + 0.5
                   AS lat,
                 CAST((k * 53 + u * 29) % 360 - 180 AS DOUBLE) + 0.5
                   AS lon
               FROM e),
         d AS (SELECT a.pid AS pid_a, b.pid AS pid_b,
                 2.0 * 6371.0 * asin(sqrt(
                   sin(((b.lat - a.lat) * (pi() / 180.0)) / 2)
                     * sin(((b.lat - a.lat) * (pi() / 180.0)) / 2)
                   + cos(a.lat * (pi() / 180.0))
                     * cos(b.lat * (pi() / 180.0))
                     * sin(((b.lon - a.lon) * (pi() / 180.0)) / 2)
                     * sin(((b.lon - a.lon) * (pi() / 180.0)) / 2)))
                   AS km
               FROM p a JOIN p b ON a.pid < b.pid)
         SELECT pid_a, pid_b, round(km, 6) AS km
         FROM d WHERE km <= 500.0 ORDER BY pid_a, pid_b""",
    "j08_asof_forward" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'purchase' AND user_id < 100),
            v AS (SELECT user_id, ts, arg_max(value, event_id) AS value
                  FROM events WHERE event_type = 'view'
                  GROUP BY user_id, ts)
         SELECT p.event_id, p.user_id, v.value AS asof_value
         FROM p ASOF LEFT JOIN v
           ON p.user_id = v.user_id AND p.ts <= v.ts
         ORDER BY p.event_id""",
    "j09_asof_nearest" ->
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts
                    FROM events
                    WHERE event_type = 'purchase' AND user_id < 100),
            v AS (SELECT user_id, epoch_us(ts) AS ts,
                         arg_max(value, event_id) AS value
                  FROM events WHERE event_type = 'view'
                  GROUP BY user_id, epoch_us(ts)),
            b AS (SELECT p.event_id, v.ts AS bt, v.value AS bv
                  FROM p ASOF LEFT JOIN v
                    ON p.user_id = v.user_id AND p.ts >= v.ts),
            f AS (SELECT p.event_id, v.ts AS ft, v.value AS fv
                  FROM p ASOF LEFT JOIN v
                    ON p.user_id = v.user_id AND p.ts <= v.ts)
         SELECT p.event_id, p.user_id,
                CASE WHEN ft IS NULL OR
                          (bt IS NOT NULL AND p.ts - bt <= ft - p.ts)
                     THEN bt ELSE ft END AS asof_time,
                CASE WHEN ft IS NULL OR
                          (bt IS NOT NULL AND p.ts - bt <= ft - p.ts)
                     THEN bv ELSE fv END AS asof_value
         FROM p JOIN b USING (event_id) JOIN f USING (event_id)
         ORDER BY p.event_id""",
    "j06_range_join" ->
      s"""WITH p AS (
            SELECT l_quantity,
                   date_diff('day', TIMESTAMP '1970-01-01', l_shipdate)
                     AS ship_day
            FROM lineitem),
          iv AS (
            SELECT o_orderkey,
                   date_diff('day', TIMESTAMP '1970-01-01', o_orderdate)
                     AS start_day,
                   date_diff('day', TIMESTAMP '1970-01-01', o_orderdate) + 30
                     AS end_day
            FROM orders WHERE o_custkey % 1000 = 0)
          SELECT COUNT(*) AS n_pairs,
                 ${sqlSum("l_quantity")} AS sum_qty,
                 CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_intervals
          FROM p JOIN iv ON ship_day BETWEEN start_day AND end_day""",
    "j07_interval_overlap" ->
      s"""WITH a AS (
            SELECT l_orderkey, l_quantity,
                   date_diff('day', TIMESTAMP '1970-01-01', l_shipdate)
                     AS a_start,
                   date_diff('day', TIMESTAMP '1970-01-01', l_shipdate) + 7
                     AS a_end
            FROM lineitem WHERE l_suppkey % 100 = 0),
          b AS (
            SELECT o_orderkey,
                   date_diff('day', TIMESTAMP '1970-01-01', o_orderdate)
                     AS b_start,
                   date_diff('day', TIMESTAMP '1970-01-01', o_orderdate) + 14
                     AS b_end
            FROM orders WHERE o_custkey % 500 = 0)
          SELECT COUNT(*) AS n_pairs,
                 ${sqlSum("l_quantity")} AS sum_qty,
                 CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_b,
                 CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_a
          FROM a JOIN b ON a_start <= b_end AND b_start <= a_end""",
    "j01_broadcast_join" ->
      s"""SELECT p_brand, COUNT(*) AS n,
            ${sqlSum("l_extendedprice")} AS sum_price
          FROM lineitem JOIN part ON l_partkey = p_partkey
          GROUP BY p_brand ORDER BY p_brand""",
    "j02_semi_anti" ->
      """SELECT
           (SELECT COUNT(*) FROM customer
            WHERE c_custkey IN (SELECT o_custkey FROM orders)) AS n_with,
           (SELECT COUNT(*) FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)) AS n_without""",
    "j05_setops" ->
      """WITH a AS (SELECT DISTINCT o_custkey AS k FROM orders),
            b AS (SELECT DISTINCT c_custkey AS k FROM customer
                  WHERE c_acctbal > 5000)
         SELECT (SELECT COUNT(*) FROM (SELECT k FROM a INTERSECT SELECT k FROM b))
                  AS n_intersect,
                (SELECT COUNT(*) FROM (SELECT k FROM a EXCEPT SELECT k FROM b))
                  AS n_except,
                (SELECT COUNT(*) FROM (SELECT k FROM a UNION SELECT k FROM b))
                  AS n_union""",
    "j04_asof_join" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'purchase' AND user_id < 100),
            v AS (SELECT user_id, ts, arg_max(value, event_id) AS value
                  FROM events WHERE event_type = 'view'
                  GROUP BY user_id, ts)
         SELECT p.event_id, p.user_id, v.value AS asof_value
         FROM p ASOF LEFT JOIN v
           ON p.user_id = v.user_id AND p.ts >= v.ts
         ORDER BY p.event_id""",
    "j03_sql_revenue" ->
      """SELECT o.o_orderkey, o.o_orderpriority,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
                    (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS revenue
         FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         GROUP BY o.o_orderkey, o.o_orderpriority
         ORDER BY revenue DESC, o_orderkey ASC LIMIT 10"""
  )
}
