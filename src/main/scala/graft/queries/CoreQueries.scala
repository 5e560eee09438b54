package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ops.Aggregates

/** A query set: named DataFrame queries + DuckDB oracle SQL (driver
  * contract, see SparkEntry). Column names/aliases MUST match between the
  * two — the driver sorts columns by name before hashing values.
  */
trait QuerySet {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracle: Map[String, String]
}

/** Shared oracle-parity helpers.
  *
  * Money/double aggregates: summing IEEE doubles is order-dependent, and
  * Spark's partial aggregation order differs from DuckDB's sequential scan.
  * Casting each addend to DECIMAL(18,2) before the sum makes the aggregate
  * exact and engine-independent; the final cast back to double is a single
  * deterministic conversion. Averages divide the exact decimal sum by the
  * count in double space — also deterministic.
  */
object Parity {
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast("double")
  def davg(c: Column): Column = dsum(c) / count(lit(1))
  /** Decimal-space value: cast BEFORE arithmetic. Casting a *computed*
    * double (e.g. price*(1-disc)) to decimal is engine-dependent at
    * halfway points — DuckDB scales-then-rounds the binary double while
    * Spark rounds its exact decimal expansion. Raw stored columns are
    * never near a rounding boundary, so cast them first and do the
    * arithmetic in exact decimal in both engines.
    */
  def dec(c: Column): Column = c.cast(DecimalType(18, 2))
  /** DuckDB spelling of dsum/davg. */
  def sqlSum(expr: String): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(18,2))) AS DOUBLE)"
  def sqlAvg(expr: String): String = s"${sqlSum(expr)} / COUNT(*)"
  def sqlDec(expr: String): String = s"CAST($expr AS DECIMAL(18,2))"
}

/** Slice-0 core queries — the grouped-aggregate / window / conditional
  * backbone of SURVEY §2.4 + §2.3 expressed over the driver testdata.
  */
object CoreQueries extends QuerySet {
  import Parity._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A2/A3/A4 + F6: pricing-summary style grouped aggregate over lineitem.
    "a02_grouped_agg" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n"),
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"),
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          davg(col("l_quantity")).as("avg_qty"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // A1: the consumer's per-class running counters as a grouped count.
    "a01_counters" -> ((s, d) =>
      Aggregates.classCounters(Tables.events(s, d), "event_type")
        .orderBy(col("event_type"))),

    // A5: mode with pandas Series.mode()[0] tie-break (count desc, value asc).
    "a05_mode" -> ((s, d) =>
      Aggregates.modePerGroup(
        Tables.events(s, d).withColumn("bucket", col("user_id") % 10),
        "event_type", "bucket")
        .orderBy(col("event_type"))),

    // A5 single-pass variant: the TypedImperativeAggregate mode — one
    // shuffle with map-side partials instead of count + window. Same
    // oracle semantics as a05.
    "a05b_mode_single_pass" -> ((s, d) =>
      Tables.events(s, d).withColumn("bucket", col("user_id") % 10)
        .groupBy(col("bucket"))
        .agg(graft.functions.ModeAgg.mode(col("event_type")).as("mode_value"))
        .orderBy(col("bucket"))),

    // A7: last value per key (counts.log reverse scan) via max_by.
    "a07_last_per_key" -> ((s, d) =>
      Aggregates.lastPerKey(
        // CAP: slice cover=a07
        Tables.events(s, d).filter(col("user_id") < 50),
        "user_id", "event_id", "value")
        .orderBy(col("user_id"))),

    // A6: top-k by value with deterministic tie-break.
    "a06_topk" -> ((s, d) =>
      Aggregates.topK(Tables.orders(s, d), "o_totalprice", 10, "o_orderkey")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))),

    // A6 grouped variant: top-3 line items by price per return flag.
    "a21_topk_per_group" -> ((s, d) =>
      Aggregates.topKPerGroup(
        Tables.lineitem(s, d).select(col("l_returnflag"),
          col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")),
        "l_returnflag", "l_extendedprice", 3,
        Seq("l_orderkey", "l_linenumber"))
        .orderBy(col("l_returnflag"), col("l_extendedprice").desc,
          col("l_orderkey"), col("l_linenumber"))),

    // Two-pass exact heavy hitters: Misra-Gries candidates (capacity >
    // cardinality here, so the guarantee is unconditional) + exact
    // re-count; oracle states the plain GROUP BY top-10.
    "a22_heavy_hitters" -> ((s, d) =>
      Aggregates.exactTopKByFreq(
        Tables.lineitem(s, d)
          .select(concat(lit("P"), col("l_partkey") % 397).as("bucket")),
        "bucket", k = 10, capacity = 1000)),

    // A8: tail-N by ordinal, re-sorted ascending for display.
    "a08_tailn" -> ((s, d) =>
      Aggregates.tailN(Tables.events(s, d), "event_id", 10)
        .select(col("event_id"), col("event_type"), col("value"))),

    // F2/F4: datetime component extraction + grouped rollup over orders.
    "f04_time_extract" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("y"), col("m"))),

    // F8/F9/F11: conditional banding + display label + currency format.
    "f08_conditional" -> ((s, d) =>
      Tables.lineitem(s, d)
        .withColumn("band",
          when(col("l_extendedprice") >= 5000, "FRAUD").otherwise("VALID"))
        .groupBy(col("band"))
        .agg(
          count(lit(1)).as("n"),
          format_string("$%.2f", round(min(col("l_extendedprice")), 2)).as("min_disp"),
          format_string("$%.2f", round(max(col("l_extendedprice")), 2)).as("max_disp"))
        .orderBy(col("band"))),

    // A9: confusion counts tn/fp/fn/tp as four conditional sums.
    "a09_confusion" -> ((s, d) =>
      Aggregates.confusionCounts(
        Tables.lineitem(s, d)
          .withColumn("label", (col("l_returnflag") === "R").cast("int"))
          .withColumn("pred", (col("l_discount") > 0.05).cast("int")),
        "label", "pred"))
  )

  def oracle: Map[String, String] = Map(
    "a02_grouped_agg" ->
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
          ${sqlSum("l_quantity")} AS sum_qty,
          ${sqlSum("l_extendedprice")} AS sum_price,
          CAST(SUM(${sqlDec("l_extendedprice")} * (1 - ${sqlDec("l_discount")})) AS DOUBLE) AS sum_disc_price,
          ${sqlAvg("l_quantity")} AS avg_qty
          FROM lineitem GROUP BY l_returnflag, l_linestatus
          ORDER BY l_returnflag, l_linestatus""",
    "a01_counters" ->
      """SELECT event_type, COUNT(*) AS cnt FROM events
         GROUP BY event_type ORDER BY event_type""",
    "a05_mode" ->
      """SELECT event_type, bucket AS mode_value FROM (
           SELECT event_type, bucket,
                  ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY cnt DESC, bucket ASC) AS rn
           FROM (SELECT event_type, user_id % 10 AS bucket, COUNT(*) AS cnt
                 FROM events GROUP BY 1, 2))
         WHERE rn = 1 ORDER BY event_type""",
    "a05b_mode_single_pass" ->
      """SELECT bucket, mode_value FROM (
           SELECT bucket, event_type AS mode_value,
                  ROW_NUMBER() OVER (PARTITION BY bucket
                                     ORDER BY cnt DESC, event_type ASC) AS rn
           FROM (SELECT user_id % 10 AS bucket, event_type, COUNT(*) AS cnt
                 FROM events GROUP BY 1, 2))
         WHERE rn = 1 ORDER BY bucket""",
    "a07_last_per_key" ->
      """SELECT user_id, value AS last_value, event_id AS last_ord FROM (
           SELECT user_id, value, event_id,
                  ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY event_id DESC) AS rn
           FROM events WHERE user_id < 50)
         WHERE rn = 1 ORDER BY user_id""",
    "a06_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""",
    "a22_heavy_hitters" ->
      """SELECT 'P' || CAST(l_partkey % 397 AS VARCHAR) AS bucket,
                COUNT(*) AS freq
         FROM lineitem
         GROUP BY bucket
         ORDER BY freq DESC, bucket ASC LIMIT 10""",
    "a21_topk_per_group" ->
      """SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber
         FROM (
           SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber,
                  ROW_NUMBER() OVER (
                    PARTITION BY l_returnflag
                    ORDER BY l_extendedprice DESC, l_orderkey ASC,
                             l_linenumber ASC) AS rn
           FROM lineitem)
         WHERE rn <= 3
         ORDER BY l_returnflag, l_extendedprice DESC, l_orderkey,
                  l_linenumber""",
    "a08_tailn" ->
      """SELECT event_id, event_type, value FROM (
           SELECT event_id, event_type, value FROM events
           ORDER BY event_id DESC LIMIT 10)
         ORDER BY event_id ASC""",
    "f04_time_extract" ->
      s"""SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS y,
           CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS m,
           COUNT(*) AS n, ${sqlSum("o_totalprice")} AS sum_price
          FROM orders GROUP BY 1, 2 ORDER BY y, m""",
    "f08_conditional" ->
      """SELECT band, COUNT(*) AS n,
           printf('$%.2f', ROUND(MIN(l_extendedprice), 2)) AS min_disp,
           printf('$%.2f', ROUND(MAX(l_extendedprice), 2)) AS max_disp
         FROM (SELECT CASE WHEN l_extendedprice >= 5000 THEN 'FRAUD'
                           ELSE 'VALID' END AS band, l_extendedprice
               FROM lineitem)
         GROUP BY band ORDER BY band""",
    "a09_confusion" ->
      """SELECT
           CAST(SUM(CASE WHEN label = 0 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
           CAST(SUM(CASE WHEN label = 0 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(SUM(CASE WHEN label = 1 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           CAST(SUM(CASE WHEN label = 1 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp
         FROM (SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS label,
                      CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS pred
               FROM lineitem)"""
  )
}
