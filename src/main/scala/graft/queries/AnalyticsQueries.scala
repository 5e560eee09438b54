package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Cleaning, LogGrammar}

/** The dashboard/evaluation read path — SURVEY §3.3
  * (`FD/evaluation.py:97-179`) — as ONE composite query: render rows as
  * consumer-log blocks (S6), parse them back through the block grammar
  * (S7, F10-F16), clean (P6), then compute the live-metrics row (A2-A4,
  * A12) and the fraud-pattern row (P7, A5 with pandas tie-break, A4) in
  * a single plan. The oracle restates the whole lifecycle directly over
  * orders.
  */
object AnalyticsQueries extends QuerySet {
  import Parity._

  /** The §3.3 synth+parse pipeline (S6 render → S7/F13-F16 parse →
    * P6 clean) as a frame transform — STATELESS column expressions
    * only, so the same code runs the batch read path (e01) and the
    * streaming one (st20).
    *
    * Synthesizes actual/predicted/probability so they disagree
    * (accuracy < 100) — actual from custkey, prediction from status.
    */
  private def parsedBlocks(o: DataFrame): DataFrame = {
    val block = LogGrammar.formatBlock(
      txnId = concat(lit("TXN"), col("o_orderkey")),
      custId = concat(lit("CUST"), col("o_custkey")),
      amount = round(col("o_totalprice"), 2),
      typ = col("o_orderpriority"),
      merchant = concat(lit("MERC"), col("o_custkey") % 1000),
      location = concat(lit("LOC"), col("o_custkey") % 50),
      device = concat(lit("DEV"), col("o_orderkey") % 900),
      date = date_format(col("o_orderdate"), "yyyy-MM-dd"),
      time = lit("12:00:00"),
      prediction = (col("o_orderstatus") === "F").cast("int"),
      actual = (col("o_custkey") % 3 === 0).cast("int"),
      probability = (col("o_custkey") % 10000) / 10000.0)
    val parsed = o.select(block.as("block"))
      .transform(b => Cleaning.validBlocks(b, "block"))
      .select(LogGrammar.parseBlock(col("block")).as("m"))
      .select(
        LogGrammar.actualOf(col("m")).as("actual_fraud"),
        LogGrammar.predictedOf(col("m")).as("predicted_fraud"),
        LogGrammar.probabilityOf(col("m")).as("probability"),
        LogGrammar.amountOf(col("m")).as("amount"),
        col("m").getItem("location").as("location"),
        col("m").getItem("type").as("typ"))
    Cleaning.dropNulls(parsed,
      Seq("actual_fraud", "predicted_fraud", "probability"))
  }

  /** The §3.3 battery over the bounded (location, typ, actual,
    * predicted) pre-aggregation — A2/A3/A4/A12 live metrics plus the
    * P7/A5/A4 fraud-pattern row — shared by the batch (e01) and
    * streaming (st20) read paths. Decimal partial sums keep the
    * money/probability totals exact, so results are bit-identical to
    * direct aggregation over the row frame.
    */
  private def evalBattery(preAgg: DataFrame): DataFrame = {
    // A2/A3/A4/A12: the live-metrics aggregate
    val metrics = preAgg.agg(
      sum(col("cnt")).as("total_transactions"),
      sum(col("actual_fraud") * col("cnt")).as("actual_fraud_total"),
      sum(col("predicted_fraud") * col("cnt")).as("predicted_fraud_total"),
      (sum(col("prob_dec")).cast("double") / sum(col("cnt")))
        .as("avg_probability"),
      (sum(when(col("actual_fraud") === col("predicted_fraud"),
          col("cnt").cast("double")).otherwise(0.0)) /
        sum(col("cnt")) * 100).as("accuracy"))

    // P7 + A5 (mode, pandas tie-break) + A4: fraud-pattern mining
    val fraudPairs = Cleaning.filterFraud(preAgg, "actual_fraud")
    val modeLoc = fraudPairs.groupBy(col("location"))
      .agg(sum(col("cnt")).as("count"))
      .orderBy(col("count").desc, col("location").asc).limit(1)
      .select(col("location").as("common_fraud_location"))
    val modeType = fraudPairs.groupBy(col("typ"))
      .agg(sum(col("cnt")).as("count"))
      .orderBy(col("count").desc, col("typ").asc).limit(1)
      .select(col("typ").as("common_fraud_type"))
    val fraudAvg = fraudPairs.agg(
      sum(col("amt_dec")).cast("double").as("sum_fraud_amount"))

    // each side is ≤ 1 row; the hints make that contract explicit to
    // the CartesianGuard interlock (Verify/Bench plan with it on)
    metrics.crossJoin(broadcast(modeLoc))
      .crossJoin(broadcast(modeType)).crossJoin(broadcast(fraudAvg))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e01_eval_metrics" -> ((s, d) => {
      // single-file scan → one task; the format→parse round trip is the
      // most compute-amplifying pipeline in the suite, so fan the narrow
      // order rows across cores first (no-op on a split scan)
      val o = graft.ops.Layout.fanOut(Tables.orders(s, d))

      // codegen-stage split: format+filter+parse fused with the partial
      // aggregate generates a processNext past HotSpot's 8000-byte JIT
      // ceiling — the fused stage would run interpreted (~50× slower).
      // An exchange caps each stage under the limit so the whole path
      // stays JIT'd — and it shuffles the SIX typed columns (~50 B/row),
      // not the parsed map (~300 B/row): projections and the null-drop
      // run before the exchange, so at the 50× probe scale the shuffle
      // writes 6× fewer bytes for the same stage split.
      val clean = parsedBlocks(o)
        .repartition(s.sparkContext.defaultParallelism)

      // Four consumers (live metrics, two fraud modes, fraud amount sum)
      // all derive from ONE map-side-combining pre-aggregation keyed by
      // (location, typ, actual, predicted) — cardinality ≤ |loc|×|typ|×4
      // (~1000 rows). Decimal partial sums keep the money/probability
      // totals exact (dsum parity: cast before arithmetic), so results
      // are bit-identical to direct aggregation over the row frame.
      // The pre-agg lands in a LOCAL relation (bounded collect): the
      // four consumers become four broadcast subtrees of one plan whose
      // exchanges execute as CONCURRENT jobs, so with a lazily
      // persisted/cached frame they'd race to materialize it, each
      // re-running the 150k-row parse. materializeBounded counts first
      // — the ~1000-row cardinality is a DOMAIN assumption (closed
      // location/type sets), and a high-cardinality column must fall
      // back to the eagerly-persisted distributed frame, not collect
      // unbounded rows onto the driver.
      val preAgg = graft.ops.Layout.materializeBounded(
        clean.groupBy(
          col("location"), col("typ"),
          col("actual_fraud"), col("predicted_fraud"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("probability").cast("decimal(18,6)")).as("prob_dec"),
          sum(dec(col("amount"))).as("amt_dec")))
      evalBattery(preAgg)
    }),

    // §2.6 × §3.3 — the dashboard tick as a STREAMING query (the r8
    // verdict's st20 mandate): the reference re-reads the whole
    // consumer log per tick (`FD/evaluation.py:102-104`); here the
    // parsed-block stream maintains TWO domain-bounded complete-mode
    // states — the (location, typ, actual, predicted) pre-agg
    // (≤ |loc|×|typ|×4 ≈ 1000 rows) and the per-distinct-probability
    // label histogram (the a17b PR-curve state, ≤ 10000 thresholds × 2
    // — score cardinality, never row count) — and the tick itself is a
    // batch collapse of those sinks: e01's live-metrics/fraud-pattern
    // row PLUS the reference's threshold-search battery
    // (`FD/evaluation.py:90-146`: PR-optimal threshold, adjusted
    // precision/recall/accuracy, rank-sum ROC AUC). Incremental cost
    // per tick is the sink size, independent of corpus size; the
    // oracle restates the whole lifecycle over orders, so streamed
    // counts must reproduce the batch answer bit for bit.
    "st20_stream_eval_metrics" -> ((s, d) => {
      val schema = s.read.parquet(s"$d/orders.parquet").schema
      val qn1 = "st20_preagg_sink"
      val qn2 = "st20_hist_sink"
      // streaming state-partition sizing (the st07 rule): both states
      // are domain-bounded (~1k / ~20k rows), so Tables.streamParts, not
      // the batch default. The two states run as CONCURRENT queries over
      // the same source — the production shape (one app, N stateful
      // consumers of one topic), and at bench time the two parse passes
      // overlap instead of serializing (11.0 → 6.5 s at sf0.1) — so
      // this is not a single Tables.drain
      val (preagg, hist) = Tables.isolated(s,
          "spark.sql.shuffle.partitions" -> Tables.streamParts) { c =>
        def src = c.readStream.schema(schema)
          .option("pathGlobFilter", "orders.parquet").parquet(d)
        val q1 = parsedBlocks(src)
          .groupBy(col("location"), col("typ"),
            col("actual_fraud"), col("predicted_fraud"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("probability").cast("decimal(18,6)")).as("prob_dec"),
            sum(dec(col("amount"))).as("amt_dec"))
          .writeStream.format("memory").queryName(qn1)
          .outputMode("complete").start()
        val q2 = parsedBlocks(src)
          .groupBy(col("probability").as("p"))
          .agg(count(lit(1)).cast("double").as("cnt"),
            sum(col("actual_fraud").cast("double")).as("pos"))
          .writeStream.format("memory").queryName(qn2)
          .outputMode("complete").start()
        try { q1.processAllAvailable(); q2.processAllAvailable() }
        finally { q1.stop(); q2.stop() }
        (c.table(qn1), c.table(qn2))
      }
      evalBattery(preagg)
        .crossJoin(broadcast(graft.ops.Aggregates.thresholdBattery(hist)))
    }),

    // Cohort retention: bucket each user by first-touch day, count
    // distinct users active per (cohort, day-offset) cell. Two key
    // exchanges (user, then cell), integer day arithmetic throughout.
    // RFM segment matrix over event spend: per user recency /
    // frequency / monetary, each scored 1–5 by the integer equidepth
    // value-rank rule (recency reversed: 5 = most recent).
    "e06_rfm" -> ((s, d) =>
      graft.ops.Journey.rfmSegmentsCached(
        Tables.eventsMicros(s, d).filter(col("value").isNotNull)
          .select(col("user_id"), col("ts_us"),
            round(col("value") * 100).cast("bigint").as("cents")),
        "user_id", "ts_us", "cents")
        .df.orderBy(col("r_score"), col("f_score"), col("m_score"))),

    // Marketing attribution over the as-of machinery: each purchase
    // credits its LAST view-touch within a 7-day lookback (and, for
    // comparison, its FIRST touch inside the same window — forward
    // as-of from the window start, validated ≤ purchase time);
    // untouched purchases fall to 'direct'. Touches dedupe per (user,
    // ts) by max event id; channel = props.k mod 3.
    "e07_attribution" -> ((s, d) => {
      val W = 7L * 86400000000L
      val ev = Tables.eventsMicros(s, d)
      val purchases = ev
        .filter(col("event_type") === "purchase" &&
          col("user_id").isNotNull && col("value").isNotNull)
        .select(col("event_id"), col("user_id"), col("ts_us"),
          round(col("value") * 100).cast("bigint").as("cents"))
      val touches = ev
        .filter(col("event_type") === "view" && col("user_id").isNotNull)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .filter(col("k").isNotNull)
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max_by(col("k"), col("event_id")).as("k"))
        .select(col("user_id"), col("ts_us"),
          concat(lit("ch"), col("k") % 3).as("channel"),
          col("ts_us").as("tts"))
      val lastT = graft.ops.AsOfJoin.backward(purchases, touches,
          keyCol = "user_id", leftTime = "ts_us", rightTime = "ts_us",
          rightValueCols = Seq("channel", "tts"))
        .select(col("cents"),
          when(col("asof_tts").isNotNull &&
            col("ts_us") - col("asof_tts") <= W, col("asof_channel"))
            .otherwise("direct").as("channel"))
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("last_n"),
          sum(col("cents")).as("last_cents"))
      val firstT = graft.ops.AsOfJoin.forward(
          purchases.withColumn("ws", col("ts_us") - W), touches,
          keyCol = "user_id", leftTime = "ws", rightTime = "ts_us",
          rightValueCols = Seq("channel", "tts"))
        .select(col("cents"),
          when(col("asof_tts").isNotNull &&
            col("asof_tts") <= col("ts_us"), col("asof_channel"))
            .otherwise("direct").as("channel"))
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("first_n"),
          sum(col("cents")).as("first_cents"))
      lastT.join(firstT, Seq("channel"), "full_outer")
        .select(col("channel"),
          coalesce(col("last_n"), lit(0L)).as("last_n"),
          coalesce(col("last_cents"), lit(0L)).as("last_cents"),
          coalesce(col("first_n"), lit(0L)).as("first_n"),
          coalesce(col("first_cents"), lit(0L)).as("first_cents"))
        .orderBy(col("channel"))
    }),

    "e02_cohort_retention" -> ((s, d) =>
      graft.ops.Journey.cohortRetention(
        Tables.eventsMicros(s, d)
          .select(col("user_id"), col("ts_us").as("tus")),
        "user_id", "tus", 86400000000L)
        .orderBy(col("cohort"), col("offset"))),

    // Event-level sessionization (the ASSIGNMENT form of w03): every
    // event gets its user's session index, sessions then roll up to a
    // session-size histogram with exact integer durations. One key
    // exchange + per-key sort; deterministic under timestamp ties
    // (equal-ts events always share a session: gap 0 < threshold).
    "e04_sessionize" -> ((s, d) => {
      val sess = graft.ops.Journey.sessionize(
        Tables.eventsMicros(s, d).select(col("user_id"), col("ts_us")),
        "user_id", "ts_us", gapMicros = 1800000000L)
      sess.groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("session_size"),
          (max(col("ts_us")) - min(col("ts_us"))).as("dur"))
        .groupBy(col("session_size"))
        .agg(count(lit(1)).as("n_sessions"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("dur")).as("sum_duration_us"))
        .orderBy(col("session_size"))
    }),

    // First-order event-type transition matrix per user journey: per
    // (prev, cur) pair, count + row-normalized probability — integer
    // counts, one exact division. Ties in the per-user order resolve
    // by event_id on both sides.
    "e05_transitions" -> ((s, d) =>
      graft.ops.Journey.transitionMatrix(
        Tables.eventsMicros(s, d)
          .filter(col("user_id").isNotNull && col("ts_us").isNotNull)
          .select(col("user_id"), col("ts_us"), col("event_id"),
            col("event_type")),
        "user_id", "ts_us", "event_id", "event_type")
        .orderBy(col("prev_state"), col("state"))),

    // Ordered conversion funnel view → click → purchase: stage i is
    // the earliest matching event at-or-after stage i-1's time; every
    // stage joins and aggregates on the SAME user key. Lags stay
    // exact integer micros inside the aggregate.
    "e03_funnel" -> ((s, d) =>
      graft.ops.Journey.funnel(
        Tables.eventsMicros(s, d)
          .select(col("user_id"), col("ts_us").as("tus"),
            col("event_type")),
        "user_id", "tus", Seq(
          "view" -> (col("event_type") === "view"),
          "click" -> (col("event_type") === "click"),
          "purchase" -> (col("event_type") === "purchase")))
        .orderBy(col("stage_idx")))
  )

  def oracle: Map[String, String] = Map(
    "e07_attribution" ->
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS t,
                      CAST(round(value * 100) AS BIGINT) AS cents
                    FROM events
                    WHERE event_type = 'purchase'
                      AND user_id IS NOT NULL AND value IS NOT NULL),
         tc AS (SELECT user_id, epoch_us(ts) AS t,
                  'ch' || (arg_max(CAST(json_extract(props, '$.k')
                                        AS INT), event_id) % 3)
                    AS channel
                FROM events
                WHERE event_type = 'view' AND user_id IS NOT NULL
                  AND json_extract(props, '$.k') IS NOT NULL
                GROUP BY user_id, epoch_us(ts)),
         lastj AS (SELECT p.event_id, p.cents,
                     CASE WHEN tc.t IS NOT NULL
                               AND p.t - tc.t <= 604800000000
                          THEN tc.channel ELSE 'direct' END AS channel
                   FROM p ASOF LEFT JOIN tc
                     ON p.user_id = tc.user_id AND p.t >= tc.t),
         firstj AS (SELECT p.event_id, p.cents,
                      CASE WHEN tc.t IS NOT NULL AND tc.t <= p.t
                           THEN tc.channel ELSE 'direct' END AS channel
                    FROM p ASOF LEFT JOIN tc
                      ON p.user_id = tc.user_id
                     AND p.t - 604800000000 <= tc.t),
         la AS (SELECT channel, COUNT(*) AS last_n,
                  CAST(SUM(cents) AS BIGINT) AS last_cents
                FROM lastj GROUP BY channel),
         fa AS (SELECT channel, COUNT(*) AS first_n,
                  CAST(SUM(cents) AS BIGINT) AS first_cents
                FROM firstj GROUP BY channel)
         SELECT COALESCE(la.channel, fa.channel) AS channel,
                COALESCE(last_n, 0) AS last_n,
                COALESCE(last_cents, 0) AS last_cents,
                COALESCE(first_n, 0) AS first_n,
                COALESCE(first_cents, 0) AS first_cents
         FROM la FULL OUTER JOIN fa ON la.channel = fa.channel
         ORDER BY channel""",
    "e06_rfm" ->
      """WITH pe AS (SELECT user_id AS e,
                       MAX(epoch_us(ts) // 86400000000) AS lastd,
                       COUNT(*) AS f,
                       SUM(CAST(round(value * 100) AS BIGINT)) AS m
                     FROM events
                     WHERE user_id IS NOT NULL AND ts IS NOT NULL
                       AND value IS NOT NULL
                     GROUP BY 1),
         an AS (SELECT MAX(lastd) AS gmax, COUNT(*) AS nn FROM pe),
         sc AS (SELECT e, gmax - lastd AS r, f, m, nn FROM pe, an),
         rv AS (SELECT r, COUNT(*) AS cnt FROM sc GROUP BY r),
         rr AS (SELECT r, 1 + ((SUM(cnt) OVER (ORDER BY r
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - cnt) * 5) // nn AS s
                FROM rv, an),
         fv AS (SELECT f, COUNT(*) AS cnt FROM sc GROUP BY f),
         fr AS (SELECT f, 1 + ((SUM(cnt) OVER (ORDER BY f
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - cnt) * 5) // nn AS s
                FROM fv, an),
         mv AS (SELECT m, COUNT(*) AS cnt FROM sc GROUP BY m),
         mr AS (SELECT m, 1 + ((SUM(cnt) OVER (ORDER BY m
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - cnt) * 5) // nn AS s
                FROM mv, an)
         SELECT CAST(6 - rr.s AS BIGINT) AS r_score,
                CAST(fr.s AS BIGINT) AS f_score,
                CAST(mr.s AS BIGINT) AS m_score,
                COUNT(*) AS n_entities,
                CAST(SUM(sc.m) AS BIGINT) AS sum_cents
         FROM sc JOIN rr ON sc.r = rr.r
                 JOIN fr ON sc.f = fr.f
                 JOIN mr ON sc.m = mr.m
         GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    "e05_transitions" ->
      """WITH h AS (SELECT event_type,
                      lag(event_type) OVER (PARTITION BY user_id
                        ORDER BY epoch_us(ts), event_id) AS prev
                    FROM events
                    WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         p AS (SELECT prev AS prev_state, event_type AS state,
                 COUNT(*) AS n
               FROM h WHERE prev IS NOT NULL GROUP BY 1, 2),
         t AS (SELECT prev_state, SUM(n) AS row_n
               FROM p GROUP BY prev_state)
         SELECT p.prev_state, p.state, p.n,
                CAST(p.n AS DOUBLE) / CAST(t.row_n AS DOUBLE) AS p
         FROM p JOIN t ON p.prev_state = t.prev_state
         ORDER BY p.prev_state, p.state""",
    "e04_sessionize" ->
      """WITH d AS (
           SELECT user_id, epoch_us(ts) AS t,
                  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                            >= 1800000000 THEN 1 ELSE 0 END AS brk
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))),
         s AS (
           SELECT user_id, t,
                  -- RANGE, not ROWS: tied rows share the cumulative brk
                  -- (tie-order-invariant, matching Spark's co-session
                  -- rule for equal timestamps at a session boundary)
                  SUM(brk) OVER (PARTITION BY user_id ORDER BY t
                    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - 1 AS sid
           FROM d),
         g AS (SELECT user_id, sid, COUNT(*) AS n,
                      MAX(t) - MIN(t) AS dur
               FROM s GROUP BY user_id, sid)
         SELECT n AS session_size, COUNT(*) AS n_sessions,
                COUNT(DISTINCT user_id) AS n_users,
                CAST(SUM(dur) AS BIGINT) AS sum_duration_us
         FROM g GROUP BY 1 ORDER BY 1""",
    "e02_cohort_retention" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS b
                    FROM events),
           f AS (SELECT user_id, MIN(b) AS cohort FROM e GROUP BY 1)
         SELECT f.cohort, e.b - f.cohort AS offset,
                COUNT(DISTINCT e.user_id) AS n_active
         FROM e JOIN f ON e.user_id = f.user_id
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "e03_funnel" ->
      """WITH e AS (SELECT user_id AS u, epoch_us(ts) AS t, event_type
                    FROM events),
           s0 AS (SELECT u, MIN(t) AS st FROM e
                  WHERE event_type = 'view' GROUP BY u),
           s1 AS (SELECT e.u, MIN(e.t) AS st, MIN(s0.st) AS pt
                  FROM e JOIN s0 ON e.u = s0.u
                  WHERE e.event_type = 'click' AND e.t >= s0.st
                  GROUP BY e.u),
           s2 AS (SELECT e.u, MIN(e.t) AS st, MIN(s1.st) AS pt
                  FROM e JOIN s1 ON e.u = s1.u
                  WHERE e.event_type = 'purchase' AND e.t >= s1.st
                  GROUP BY e.u)
         SELECT * FROM (
           SELECT CAST(0 AS BIGINT) AS stage_idx, 'view' AS stage,
                  COUNT(*) AS n_entities,
                  CAST(NULL AS BIGINT) AS sum_lag_us FROM s0
           UNION ALL
           SELECT CAST(1 AS BIGINT), 'click', COUNT(*),
                  CAST(SUM(st - pt) AS BIGINT) FROM s1
           UNION ALL
           SELECT CAST(2 AS BIGINT), 'purchase', COUNT(*),
                  CAST(SUM(st - pt) AS BIGINT) FROM s2)
         ORDER BY stage_idx""",
    "e01_eval_metrics" ->
      s"""$lifecycleCtes
          SELECT * FROM metrics, mode_loc, mode_type, fraud_avg""",
    // e01's lifecycle plus the threshold-search battery: PR-optimal
    // threshold (the a17 recipe over base), the adjusted confusion
    // metrics at proba >= t_opt, and the a16 rank-sum ROC AUC — every
    // division a single fixed-order expression over integer-valued
    // doubles, matching the Spark battery bit for bit.
    "st20_stream_eval_metrics" ->
      s"""$lifecycleCtes,
          perth AS (
            SELECT probability AS th,
                   CAST(SUM(CAST(actual_fraud AS DOUBLE)) AS DOUBLE) AS pos,
                   CAST(SUM(1 - CAST(actual_fraud AS DOUBLE)) AS DOUBLE) AS neg
            FROM base GROUP BY probability),
          totals AS (
            SELECT CAST(SUM(pos) AS DOUBLE) AS total_pos,
                   CAST(SUM(pos + neg) AS DOUBLE) AS n
            FROM perth),
          curve AS (
            SELECT th,
              SUM(pos) OVER (ORDER BY th DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
              SUM(neg) OVER (ORDER BY th DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
              total_pos
            FROM perth CROSS JOIN totals),
          f AS (
            SELECT th, tp / (tp + fp) AS prec, tp / total_pos AS rec
            FROM curve),
          opt AS (
            SELECT th AS optimal_threshold,
                   2 * prec * rec / (prec + rec) AS best_f1
            FROM f WHERE prec + rec <> 0
            ORDER BY 2 * prec * rec / (prec + rec) DESC, th ASC LIMIT 1),
          adj AS (
            SELECT
              CAST(SUM(CASE WHEN th >= optimal_threshold
                            THEN pos ELSE 0 END) AS DOUBLE) AS tp,
              CAST(SUM(CASE WHEN th >= optimal_threshold
                            THEN neg ELSE 0 END) AS DOUBLE) AS fp
            FROM perth CROSS JOIN opt),
          ranked AS (
            SELECT CAST(actual_fraud AS DOUBLE) AS y,
                   RANK() OVER (ORDER BY probability) +
                     (COUNT(*) OVER (PARTITION BY probability) - 1) / 2.0
                     AS r
            FROM base),
          auc AS (
            SELECT CASE WHEN SUM(y) = 0 OR SUM(1 - y) = 0 THEN NULL
                        ELSE (SUM(CASE WHEN y = 1 THEN r ELSE 0.0 END) -
                              SUM(y) * (SUM(y) + 1) / 2.0) /
                             (SUM(y) * SUM(1 - y))
                   END AS roc_auc
            FROM ranked),
          battery AS (
            SELECT optimal_threshold, best_f1, roc_auc,
                   CASE WHEN tp + fp = 0 THEN 0.0
                        ELSE tp / (tp + fp) END AS precision_adj,
                   CASE WHEN total_pos = 0 THEN 0.0
                        ELSE tp / total_pos END AS recall_adj,
                   (tp + (n - total_pos - fp)) / n * 100 AS accuracy_adj,
                   CAST(tp + fp AS BIGINT) AS predicted_adjusted_total
            FROM adj CROSS JOIN opt CROSS JOIN totals CROSS JOIN auc)
          SELECT * FROM metrics, mode_loc, mode_type, fraud_avg, battery"""
  )

  /** The shared §3.3 lifecycle CTE block: the synthesized base frame
    * plus the live-metrics / fraud-pattern consumers — e01's oracle
    * verbatim; st20 appends the threshold-battery CTEs.
    */
  private def lifecycleCtes: String =
    s"""WITH base AS (
          SELECT CASE WHEN o_custkey % 3 = 0 THEN 1 ELSE 0 END AS actual_fraud,
                 CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS predicted_fraud,
                 (o_custkey % 10000) / 10000.0 AS probability,
                 ROUND(o_totalprice, 2) AS amount,
                 'LOC' || CAST(o_custkey % 50 AS VARCHAR) AS location,
                 o_orderpriority AS typ
          FROM orders),
        metrics AS (
          SELECT COUNT(*) AS total_transactions,
                 CAST(SUM(actual_fraud) AS BIGINT) AS actual_fraud_total,
                 CAST(SUM(predicted_fraud) AS BIGINT) AS predicted_fraud_total,
                 CAST(SUM(CAST(probability AS DECIMAL(18,6))) AS DOUBLE) /
                   COUNT(*) AS avg_probability,
                 AVG(CASE WHEN actual_fraud = predicted_fraud
                          THEN 1.0 ELSE 0.0 END) * 100 AS accuracy
          FROM base),
        mode_loc AS (
          SELECT location AS common_fraud_location FROM base
          WHERE actual_fraud = 1
          GROUP BY location ORDER BY COUNT(*) DESC, location ASC LIMIT 1),
        mode_type AS (
          SELECT typ AS common_fraud_type FROM base
          WHERE actual_fraud = 1
          GROUP BY typ ORDER BY COUNT(*) DESC, typ ASC LIMIT 1),
        fraud_avg AS (
          SELECT ${sqlSum("amount")} AS sum_fraud_amount
          FROM base WHERE actual_fraud = 1)"""
}
