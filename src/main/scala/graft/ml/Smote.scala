package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ArrayMath

/** True SMOTE — SURVEY §2.5 M4 (`FD/model.py:102-104`), the full
  * kNN-interpolation semantics (synthetic minority rows on the segment
  * between a point and one of its k nearest same-class neighbors), built
  * distributed:
  *
  *   1. random-projection LSH buckets the minority class (seeded
  *      hyperplanes, floor(v·r / w) keys — scan-local, codegen'd dot);
  *   2. neighbor candidates come from equi-joins on (table, bucket) —
  *      the shuffle is on bucket keys, never a minority × minority
  *      cross join;
  *   3. exact top-k by squared distance (‖a‖²−2a·b+‖b‖²) per point;
  *   4. each synthetic sample picks a deterministic pseudo-random
  *      neighbor and gap u ∈ [0,1):  x' = x + u · (nbr − x).
  *
  * Points whose buckets yield no neighbor fall back to cloning
  * (u·0 — the degenerate SMOTE case imblearn hits at k > class size).
  * Like the reference's sklearn SMOTE, this runs on the encoded,
  * pre-scaling feature matrix, so interpolated categorical codes are
  * non-integral — faithfully reproducing that (documented) artifact.
  */
object Smote {

  /** Oversample every non-majority class up to the majority count.
    * `maxBucketCandidates` caps the neighbor pool per LSH bucket — one
    * dense bucket (many identical/near-identical minority rows) would
    * otherwise make the candidate equi-join quadratic in that bucket.
    * `candTarget` (default 2k) drives the ADAPTIVE table count (r10
    * verdict mandate #2): per point, hash tables are consulted in
    * order and a table is joined only while the capped pool
    * contribution of the earlier tables is still below the target —
    * a point in a dense bucket finds its k neighbors in table 0 and
    * never pays the other tables' candidate fan-out. On the lattice-
    * dense probe corpus this plus the 64-row pool cap cuts the
    * pre-dedup candidate volume ~12× (SCALEPROBE §r11 A/B) with the
    * synthesis contract (SmoteSpec hull/determinism) unchanged; 64 =
    * 12.8k pool candidates for the default k, generous for an
    * LSH-localized neighbor pick. The Cached form returns the
    * persisted per-class minority frames for release after the
    * consuming action; [[oversample]] is the plain one-shot wrapper
    * (same contract as the Dedup pipelines).
    */
  def oversampleCached(df: DataFrame, labelCol: String,
                       featureCols: Seq[String],
                       k: Int = 5, numTables: Int = 3,
                       bucketWidth: Double = 2.0, seed: Long = 42L,
                       maxBucketCandidates: Int = 64,
                       candTarget: Int = 0): graft.ops.Cached = {
    val counts = df.groupBy(col(labelCol)).count()
      .collect().map(r => r.get(0) -> r.getLong(1)).toMap
    require(counts.size >= 2, "need at least two classes") // P9 guard
    val majority = counts.values.max

    val results = counts.filter(_._2 < majority).map { case (cls, cnt) =>
      synthesize(df.filter(col(labelCol) === cls), featureCols,
        need = majority - cnt, k, numTables, bucketWidth, seed,
        maxBucketCandidates, candTarget)
    }
    graft.ops.Cached(results.map(_._1).foldLeft(df)(_ unionByName _),
      results.map(_._2).toSeq)
  }

  def oversample(df: DataFrame, labelCol: String, featureCols: Seq[String],
                 k: Int = 5, numTables: Int = 3, bucketWidth: Double = 2.0,
                 seed: Long = 42L, maxBucketCandidates: Int = 64,
                 candTarget: Int = 0): DataFrame =
    oversampleCached(df, labelCol, featureCols, k, numTables, bucketWidth,
      seed, maxBucketCandidates, candTarget).df

  /** Minority frame prepared for the LSH pipeline: feature vector,
    * squared norm, synthetic id — persisted (caller releases).
    */
  private def prepare(minority: DataFrame,
                      featureCols: Seq[String]): DataFrame = {
    val fv = array(featureCols.map(col(_).cast("double")): _*)
    minority
      .withColumn("__fv", fv)
      .withColumn("__n2", ArrayMath.dot(col("__fv"), col("__fv")))
      .withColumn("__id", monotonically_increasing_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Pre-dedup candidate pairs `(id, nbr_id, d2)` — the frame whose
    * volume is THE SMOTE scale term (the r10 probe's 184 M-row agg
    * input). Shape notes:
    *
    * Candidate POOL side capped per (table, bucket): a pathologically
    * dense bucket stays O(|bucket| × cap), not O(|bucket|²). Points
    * keep their full left-side presence, so everyone still finds
    * neighbors within the (deterministic, id-ordered) capped pool.
    *
    * ADAPTIVE table count (candTarget doc above): per point, keep
    * table t only while the EARLIER tables' capped pool contribution
    * is still below the target — a dense-bucket point stops after
    * table 0 instead of paying every table's fan-out. Two window
    * passes over the numTables·n bucketed frame (bucket size, then
    * per-point running contribution) — negligible next to the
    * candidate join volume they prevent. Deterministic: bucket sizes
    * and the t-ascending order are data-defined.
    */
  private def lshCandidates(base: DataFrame, dim: Int, k: Int,
                            numTables: Int, bucketWidth: Double,
                            seed: Long, maxBucketCandidates: Int,
                            candTarget: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    // seeded unit-ish hyperplanes for the projection tables
    val planes: Seq[Seq[Double]] =
      Seq.fill(numTables)(Seq.fill(dim)(rnd.nextGaussian()))

    // LSH bucketing: (table, floor(v·r / w))
    val bucketed = base.select(col("__id"), col("__fv"), col("__n2"),
      explode(array(planes.zipWithIndex.map { case (p, t) =>
        struct(lit(t).as("t"),
          floor(ArrayMath.dot(col("__fv"), typedLit(p)) / bucketWidth)
            .as("bucket"))
      }: _*)).as("bk"))
      .select(col("__id"), col("__fv"), col("__n2"),
        col("bk.t"), col("bk.bucket"))

    val poolW = Window.partitionBy(col("t"), col("bucket"))
      .orderBy(col("__id").asc)
    val candPool = bucketed
      .withColumn("__bn", row_number().over(poolW))
      .filter(col("__bn") <= maxBucketCandidates)
      .drop("__bn")

    val target = if (candTarget > 0) candTarget else 2 * k
    val wBk = Window.partitionBy(col("t"), col("bucket"))
    val wPt = Window.partitionBy(col("__id")).orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val leftAdaptive = bucketed
      .withColumn("__bsz", count(lit(1)).over(wBk))
      .withColumn("__prev", coalesce(sum(least(col("__bsz") - 1,
          lit(maxBucketCandidates.toLong))).over(wPt), lit(0L)))
      .filter(col("__prev") < target)
      .drop("__bsz", "__prev")
    leftAdaptive.as("a").join(candPool.as("b"),
        col("a.t") === col("b.t") && col("a.bucket") === col("b.bucket") &&
          col("a.__id") =!= col("b.__id"))
      .select(col("a.__id").as("id"), col("b.__id").as("nbr_id"),
        (col("a.__n2") - lit(2.0) * ArrayMath.dot(col("a.__fv"), col("b.__fv"))
          + col("b.__n2")).as("d2"))
  }

  private def synthesize(minority: DataFrame, featureCols: Seq[String],
                         need: Long, k: Int, numTables: Int,
                         bucketWidth: Double, seed: Long,
                         maxBucketCandidates: Int, candTarget: Int)
      : (DataFrame, DataFrame) = {
    val base = prepare(minority, featureCols)
    val cnt = base.count() // also materializes the persisted frame
    val copiesPerRow = (need.toDouble / cnt)

    // candidates via bucket equi-join: up to numTables × cap rows PER
    // POINT to find k neighbors. The r10 probe measured the original
    // shape (dropDuplicates + a sort-based per-id window, each
    // shuffling that full volume) at e(10) = 1.31 superlinear; this is
    // the topKFinish discipline instead — dedup is a hash agg (d2 is
    // identical across tables, so min(d2) IS the value; map-side
    // partials collapse same-pair rows before the shuffle) and the
    // top-k is the bounded mergeable TopKAgg heap (≤ k rows per point
    // per partition ship; no sort). Ordering rule unchanged:
    // score = −d2 desc, tie nbr_id asc ≡ (d2 asc, nbr_id asc).
    // Candidate rows carry only (id, nbr_id, d2) — the neighbor
    // vector re-joins from `base` over the n·k result, not the
    // n·tables·cap candidate volume.
    val cand = lshCandidates(base, featureCols.length, k, numTables,
        bucketWidth, seed, maxBucketCandidates, candTarget)
      .groupBy(col("id"), col("nbr_id")).agg(min(col("d2")).as("d2"))
    val knn = cand
      .groupBy(col("id"))
      .agg(graft.functions.TopKAgg.topK(-col("d2"), col("nbr_id"), k)
        .as("__tk"))
      .select(col("id"), explode(col("__tk")).as("__e"))
      .select(col("id"), col("__e.id").as("__nbr"),
        col("__e.rank").as("__rn"))
      .join(base.select(col("__id").as("__nbr"),
        col("__fv").as("nbr_fv")), Seq("__nbr"))
      .select(col("id"), col("__rn"), col("nbr_fv"))

    // integer + bernoulli-fractional copies per source row (explode)
    val sources = base
      .withColumn("__copies",
        (floor(lit(copiesPerRow)) +
          (rand(seed + 1) < (lit(copiesPerRow) - floor(lit(copiesPerRow))))
            .cast("int")).cast("int"))
      .filter(col("__copies") > 0)
      .withColumn("__j", explode(expr("sequence(1, __copies)")))
      .withColumn("__u", rand(seed + 2))

    // deterministic pseudo-random neighbor slot per (row, copy), drawn
    // over the neighbors the point ACTUALLY has (≤ k): a uniform pick
    // over 1..k would miss the join with probability (k−m)/k for a
    // point with m < k neighbors and silently clone instead of
    // interpolate — cloning is reserved for points with NO neighbor
    val nbrCount = knn.groupBy(col("id").as("__nid"))
      .agg(max(col("__rn")).as("__m"))
    val picked = sources
      .join(nbrCount, sources("__id") === col("__nid"), "left")
      .drop("__nid")
      .withColumn("__pick",
        (pmod(xxhash64(col("__id"), col("__j")),
          least(lit(k), coalesce(col("__m"), lit(1)))) + 1).cast("int"))

    val joined = picked.join(knn,
        picked("__id") === knn("id") && picked("__pick") === knn("__rn"),
        "left")
      .withColumn("__synth",
        when(col("nbr_fv").isNull, col("__fv")) // no neighbor → clone
          .otherwise(zip_with(col("__fv"), col("nbr_fv"),
            (x, y) => x + col("__u") * (y - x))))

    // unpack synthetic features back into the original columns
    val unpacked = featureCols.zipWithIndex.foldLeft(joined) {
      case (d, (c, i)) => d.withColumn(c, element_at(col("__synth"), i + 1))
    }
    (unpacked.select(minority.columns.map(col).toIndexedSeq: _*), base)
  }
}
