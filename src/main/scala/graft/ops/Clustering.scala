package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** HASH-EXACT k-means — Lloyd's algorithm (1957/1982) in integer
  * fixed-point over 2-d quantized features, the fraud-segmentation /
  * price-band clustering the reference approximates with manual
  * thresholds. Unlike MLlib's KMeans (random init, double centroids —
  * spec-gated territory), every quantity here is an integer decision:
  *
  *  - points are integer-valued (cents, counts — caller quantizes);
  *  - init is the deterministic grid midpoint rule
  *    `c_j = min + ((2j+1)·(max−min)) div 2k` per axis;
  *  - assignment minimizes the EXACT integer squared distance
  *    `(x−cx)² + (y−cy)²`, ties to the lowest centroid index;
  *  - the update is the TRUNCATED integer mean (`div` ≡ DuckDB `//`,
  *    both truncate toward zero), so centroids stay integers.
  *
  * Every iteration is therefore bit-reproducible on any engine, and
  * the m20 oracle replays all of it — init, `iters` assign/update
  * rounds, and the final inertia — as unrolled SQL (the g02 PageRank
  * discipline applied to clustering).
  *
  * Scale shape: the corpus collapses ONCE to the distinct-value
  * histogram `(x, y, w)` (one map-side-combinable agg — the w08/w13
  * trick: all later work scales with DISTINCT pairs, not rows); each
  * iteration is ONE scan of that histogram with the k centroids bound
  * as LITERALS into a `least`-of-structs argmin expression (k rows
  * round-trip the driver per iteration — they always did, as the
  * materialized centroid relation), feeding a k-group aggregation.
  * r13: the previous shape crossJoined the broadcast centroid table
  * into k·|hist| candidate rows and re-grouped them by (x, y) — a
  * full histogram-sized SHUFFLE per iteration that the literal argmin
  * eliminates (plan: 3 exchanges/iter → 1 k-group exchange/iter; all
  * integer decisions identical, m20 oracle + ClusteringSpec pin it).
  * ALL update arithmetic stays in Spark SQL (the collected rows are
  * only re-bound as next-round literals), so cross-engine division
  * and overflow semantics are unchanged.
  *
  * Output per cluster: `(j, n, cx, cy, inertia)` — population, the
  * integer centroid, and the exact within-cluster squared-distance sum
  * (DECIMAL(38,0)-accumulated, emitted as its exact double for the
  * oracle hash).
  */
object Clustering {

  def kmeansExact2d(df: DataFrame, xCol: String, yCol: String,
                    k: Int, iters: Int): DataFrame =
    kmeansExact2dCached(df, xCol, yCol, k, iters).df

  /** [[kmeansExact2d]] with its release handle — the form the bench
    * queries run. Past the driver gate's bound the distinct-value
    * histogram stays pinned (every Lloyd iteration rescans it against
    * the centroid literals) until `release()`; the plain form leaves
    * that pin to the session's clearCache.
    */
  def kmeansExact2dCached(df: DataFrame, xCol: String, yCol: String,
                          k: Int, iters: Int): Cached = {
    require(k >= 2 && iters >= 1, "k >= 2 and iters >= 1")
    val hist = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(xCol).cast("long").as("__x"),
        col(yCol).cast("long").as("__y"))
      .groupBy(col("__x"), col("__y")).agg(count(lit(1)).as("__w"))
    // r14 driver gate (the Graph.Local engine): when the distinct-value
    // histogram passes the row+byte-budget collect, every Lloyd round
    // is pure integer algebra over it — init div rule, exact-d2 argmin,
    // truncated decimal means, inertia decimal sum — replayed on the
    // driver (Local doc; ClusteringSpec pins both paths bit-for-bit).
    // Past the bound the literal-argmin loop ([[kmeansFrames]]) runs
    // unchanged on the pinned collect fallback.
    Layout.gateCached(hist)(rows =>
      Some(Local.kmeans(df.sparkSession, rows, k, iters)))(
      kmeansFrames(_, k, iters))
  }

  /** The distributed Lloyd loop over the `(__x, __y, __w)` histogram
    * the gate pinned.
    */
  private def kmeansFrames(hist: DataFrame, k: Int, iters: Int): Cached = {
    val dec38 = DecimalType(38, 0)
    val spark = hist.sparkSession
    // grid-midpoint init: j-th centroid at the center of the j-th of k
    // equal spans — deterministic, data-dependent only through min/max.
    // The init arithmetic runs in Spark SQL over the 1-row bounds
    // frame (div semantics stay the engine's own), collected as the
    // first literal centroid set.
    var cent: Array[(Long, Long, Long)] = spark.range(k).toDF("__j")
      .crossJoin(broadcast(hist.agg(min(col("__x")).as("__xmin"),
        max(col("__x")).as("__xmax"),
        min(col("__y")).as("__ymin"), max(col("__y")).as("__ymax"))))
      .select(col("__j"),
        expr(s"__xmin + ((2 * __j + 1) * (__xmax - __xmin)) div ${2 * k}")
          .as("__cx"),
        expr(s"__ymin + ((2 * __j + 1) * (__ymax - __ymin)) div ${2 * k}")
          .as("__cy"))
      .collect()
      // empty input: the bounds are null — zero centroids, zero output
      // rows (the pre-r13 shape: every join over the empty histogram
      // vanished); keep that contract without null arithmetic
      .filter(r => !r.isNullAt(1) && !r.isNullAt(2))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    if (cent.isEmpty) {
      import org.apache.spark.sql.types._
      val out = spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        StructType(Seq(StructField("j", LongType),
          StructField("n", LongType), StructField("cx", LongType),
          StructField("cy", LongType),
          StructField("inertia", DoubleType))))
      return Cached(out, Seq.empty)
    }
    // winner per histogram cell: least() over k (d2, j) structs — the
    // struct order (distance, then index) IS the min_by tie rule
    def assigned: DataFrame = {
      val cands = cent.map { case (j, cx, cy) =>
        val d2 = (col("__x") - lit(cx)) * (col("__x") - lit(cx)) +
          (col("__y") - lit(cy)) * (col("__y") - lit(cy))
        struct(d2.as("__d2"), lit(j).as("__j"))
      }
      val win = if (cands.length == 1) cands.head else least(cands: _*)
      hist.withColumn("__win", win)
        .select(col("__x"), col("__y"), col("__w"),
          col("__win.__j").as("__j"), col("__win.__d2").as("__d2"))
    }
    for (_ <- 1 to iters) {
      // k rows to the driver, re-bound as the next round's literals —
      // no lineage to cut: every pass re-derives from the persisted
      // histogram and constants only
      cent = assigned
        .groupBy(col("__j"))
        .agg(sum(col("__w")).as("__n"),
          // cast BEFORE the multiply (the inertia rule below): x·w
          // in long overflows past 2^63 at real feature magnitudes
          sum(col("__x").cast(dec38) * col("__w")).as("__sx"),
          sum(col("__y").cast(dec38) * col("__w")).as("__sy"))
        .select(col("__j"),
          expr("CAST(__sx div __n AS BIGINT)").as("__cx"),
          expr("CAST(__sy div __n AS BIGINT)").as("__cy"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
    }
    val centDf = spark.createDataFrame(cent.toSeq)
      .toDF("j", "cx", "cy")
    val out = assigned
      .groupBy(col("__j").as("j"))
      .agg(sum(col("__w")).as("n"),
        // cast BEFORE the multiply: d2·w can pass 2^63 (d2 ~ 1e14 ×
        // histogram weights) — long overflow would corrupt silently
        sum(col("__d2").cast(dec38) * col("__w")).cast("double")
          .as("inertia"))
      .join(broadcast(centDf), Seq("j"))
      .select(col("j"), col("n"), col("cx"), col("cy"), col("inertia"))
    Cached(out, Seq.empty)
  }

  /** Driver-local EXACT replica of the Lloyd loop over the collected
    * histogram — [[Graph.Local]]'s discipline applied to m20: Long
    * arithmetic via add/subtract/multiplyExact (≡ ANSI overflow
    * throws), truncating divisions (JVM `/` ≡ Spark `div` ≡ BigInt `/`
    * — all toward zero), decimal(38,0) sums as BigInt, the final
    * inertia double via BigDecimal.doubleValue (≡ Decimal.toDouble),
    * centroid casts via longValueExact (≡ ANSI CAST AS BIGINT).
    * Clusters that win no cell drop out of the centroid set exactly
    * like the distributed groupBy's missing keys.
    */
  private[graft] object Local {
    import org.apache.spark.sql.{Row, SparkSession}
    import org.apache.spark.sql.types._
    import java.math.{BigDecimal => JBD}
    import scala.collection.mutable

    def kmeans(spark: SparkSession, rows: Array[Row], k: Int,
               iters: Int): DataFrame = {
      val schema = StructType(Seq(
        StructField("j", LongType), StructField("n", LongType),
        StructField("cx", LongType), StructField("cy", LongType),
        StructField("inertia", DoubleType)))
      def frame(out: Seq[Row]): DataFrame =
        spark.createDataFrame(java.util.Arrays.asList(out: _*), schema)
      val cells = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      if (cells.isEmpty) return frame(Nil)
      var xmin = Long.MaxValue; var xmax = Long.MinValue
      var ymin = Long.MaxValue; var ymax = Long.MinValue
      cells.foreach { case (x, y, _) =>
        if (x < xmin) xmin = x; if (x > xmax) xmax = x
        if (y < ymin) ymin = y; if (y > ymax) ymax = y
      }
      var cent: Array[(Long, Long, Long)] = Array.tabulate(k) { ji =>
        val j = ji.toLong
        (j,
          Math.addExact(xmin, Math.multiplyExact(2L * j + 1L,
            Math.subtractExact(xmax, xmin)) / (2L * k)),
          Math.addExact(ymin, Math.multiplyExact(2L * j + 1L,
            Math.subtractExact(ymax, ymin)) / (2L * k)))
      }
      def d2(x: Long, y: Long, cx: Long, cy: Long): Long = {
        val dx = Math.subtractExact(x, cx)
        val dy = Math.subtractExact(y, cy)
        Math.addExact(Math.multiplyExact(dx, dx),
          Math.multiplyExact(dy, dy))
      }
      // least() of (d2, j) structs in ascending-j order: strict < keeps
      // the lowest index on ties
      def assign(x: Long, y: Long): (Long, Long) = {
        var bj = cent(0)._1; var bd = d2(x, y, cent(0)._2, cent(0)._3)
        var i = 1
        while (i < cent.length) {
          val d = d2(x, y, cent(i)._2, cent(i)._3)
          if (d < bd) { bd = d; bj = cent(i)._1 }
          i += 1
        }
        (bj, bd)
      }
      var it = 0
      while (it < iters) {
        val agg = mutable.TreeMap.empty[Long, (Long, BigInt, BigInt)]
        cells.foreach { case (x, y, w) =>
          val (j, _) = assign(x, y)
          val (n, sx, sy) = agg.getOrElse(j, (0L, BigInt(0), BigInt(0)))
          agg(j) = (Math.addExact(n, w),
            sx + BigInt(x) * BigInt(w), sy + BigInt(y) * BigInt(w))
        }
        cent = agg.toArray.map { case (j, (n, sx, sy)) =>
          (j, (sx / BigInt(n)).bigInteger.longValueExact(),
            (sy / BigInt(n)).bigInteger.longValueExact())
        }
        it += 1
      }
      val fin = mutable.TreeMap.empty[Long, (Long, BigInt)]
      cells.foreach { case (x, y, w) =>
        val (j, d) = assign(x, y)
        val (n, s) = fin.getOrElse(j, (0L, BigInt(0)))
        fin(j) = (Math.addExact(n, w), s + BigInt(d) * BigInt(w))
      }
      val cmap = cent.map(c => c._1 -> ((c._2, c._3))).toMap
      frame(fin.toSeq.map { case (j, (n, s)) =>
        val (cx, cy) = cmap(j)
        Row(j, n, cx, cy, new JBD(s.bigInteger).doubleValue())
      })
    }
  }
}
