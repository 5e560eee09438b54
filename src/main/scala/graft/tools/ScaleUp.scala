package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-probe corpus generator: writes a `factor`× testdata directory
  * by unioning shifted copies of an existing sf dir, so the bench can
  * measure how query time scales with row count beyond the largest
  * shipped scale factor (`SPARK_GRAFT_SF_DIR=<out> SPARK_GRAFT_ONLY=…
  * graft.Bench`).
  *
  * Copies are made ORGANIC, not degenerate: every key column shifts by
  * `copy × 10^7` (disjoint id spaces — per-user/per-doc densities stay
  * constant, the graph becomes `factor` disjoint subgraphs), document
  * texts get a per-copy salt token (so cross-copy texts are near- but
  * not exact duplicates — verbatim replication would collapse under
  * dedup and fake sublinear scaling), and embeddings get a tiny
  * per-copy additive jitter (same geometry, no cross-copy exact
  * duplicates). Timestamps are left untouched: scale-up grows
  * per-window row counts, the stress the windowed operators must
  * absorb.
  *
  * Usage: runMain graft.tools.ScaleUp <inSfDir> <outDir> [factor]
  */
object ScaleUp {
  private val IdOff = 10000000L

  def main(args: Array[String]): Unit = {
    val in = args(0)
    val out = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.jobs.Jobs.session("graft-scaleup")

    // the shipped testdata is one parquet FILE per table (queries use
    // pathGlobFilter="<t>.parquet" on the dir); write a staging
    // directory, then move the single part file into place — a
    // directory named <t>.parquet would make those globs match nothing
    // and silently feed the probe empty streams
    def writeSingleFile(df: DataFrame, name: String): Unit = {
      val tmp = s"$out/__stage_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file under $tmp"))
      val dest = new java.io.File(s"$out/$name.parquet")
      dest.delete()
      require(part.renameTo(dest), s"rename ${part.getPath} -> $dest")
      new java.io.File(tmp).listFiles().foreach(_.delete())
      new java.io.File(tmp).delete()
      ()
    }

    def copies(name: String)(shift: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$in/$name.parquet")
      writeSingleFile(
        (0 until factor).map(k => shift(base, k)).reduce(_ unionByName _),
        name)
    }

    copies("events") { (df, k) =>
      df.withColumn("event_id", col("event_id") + k * IdOff)
        .withColumn("user_id", col("user_id") + k * IdOff)
        // the co-attribute key must shift WITH the copy: organic 10×
        // growth grows the attribute domain too, and a verbatim props
        // column multiplies per-attr density by `factor`, growing the
        // co-attr pair graph quadratically — a skew artifact of the
        // generator, not a property of the probed operators
        .withColumn("props",
          when(get_json_object(col("props"), "$.k").isNotNull,
            format_string("{\"k\": %d}",
              get_json_object(col("props"), "$.k").cast("int")
                + lit(k * 100000)))
            .otherwise(col("props")))
    }
    copies("documents") { (df, k) =>
      df.withColumn("doc_id", col("doc_id") + k * IdOff)
        .withColumn("text", concat(lit(s"s$k "), col("text")))
    }
    copies("embeddings") { (df, k) =>
      df.withColumn("vec_id", col("vec_id") + k * IdOff)
        .withColumn("embedding",
          transform(col("embedding"), v => v + lit(k * 1e-4f)))
    }
    copies("orders") { (df, k) =>
      df.withColumn("o_orderkey", col("o_orderkey") + k * IdOff)
        .withColumn("o_custkey", col("o_custkey") + k * IdOff)
    }
    // lineitem scales too (round 10 — the r10 probe found the
    // verbatim pass-through made every lineitem-based arm vacuous:
    // a43/a46/m22 and the smote probe measured parquet pushdown over a
    // FIXED table). Values stay verbatim — copies shift only the key — so
    // the distinct-cell histograms the a4x ops contract on stay
    // SF-invariant while row counts scale: exactly the regime the
    // histogram-discipline claims are about.
    copies("lineitem") { (df, k) =>
      df.withColumn("l_orderkey", col("l_orderkey") + k * IdOff)
    }
    // remaining tables pass through verbatim (dims and tables the
    // probe queries don't scale against)
    Seq("customer", "supplier", "part", "nation", "region")
      .foreach { t =>
        writeSingleFile(spark.read.parquet(s"$in/$t.parquet"), t)
      }
    spark.stop()
  }
}
