package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.storage.StorageLevel

/** Physical-layout operators for the 100 TB path: skew-tolerant
  * aggregation, co-located (bucketed) joins, range layout.
  *
  * These encode the three standing answers to "would this plan survive a
  * 100× scale-up": a hot key melts a single reducer → salt it; a
  * repeated big join on the same key shuffles every query → bucket both
  * sides once; range queries scan everything → range-partition so
  * pruning has boundaries to work with.
  */
object Layout {

  /** Round-robin fan-out for compute-amplifying pipelines (block
    * formatting, hash signatures, per-row kernels): when the upstream
    * scan yields fewer partitions than cores — a single small parquet
    * file, a single row group, a collapsed coalesce — every downstream
    * projection runs on one task no matter how wide the cluster is.
    * Repartitioning the NARROW input rows (cheap to shuffle) before the
    * expensive projection restores full parallelism. No-op when the
    * plan already has at least `min` partitions, so applying it to a
    * properly-split 100 TB scan costs nothing.
    *
    * The decision is PLAN-SIDE (`Bridge.estimateScanPartitions`): file
    * sizes vs `maxPartitionBytes` for scans, actual block counts for
    * materialized caches — never `df.rdd`, which would finalize the
    * physical plan outside AQE and can eagerly materialize upstream
    * stages. Plans whose partitioning AQE already owns (anything past a
    * shuffle) estimate None and pass through untouched — a deliberate
    * contract change from the `.rdd` probe: AQE sizes post-shuffle
    * partitions by bytes, and callers feeding a compute-amplifying
    * kernel from a post-shuffle frame should `repartition` explicitly
    * (or pass `min`) rather than have fanOut bypass AQE's view.
    */
  def fanOut(df: DataFrame, min: Int = 0): DataFrame = {
    val target =
      if (min > 0) min else df.sparkSession.sparkContext.defaultParallelism
    org.apache.spark.sql.graft.Bridge.estimateScanPartitions(df) match {
      case Some(est) if est < target => df.repartition(target)
      case _ => df
    }
  }

  /** Giant-bucket guard for banded LSH self-joins: a degenerate bucket
    * (empty docs, boilerplate pages, zero vectors) with n rows explodes
    * into n²/2 pairs INSIDE one join group — the skew AQE cannot split,
    * because it is not partition skew but key-group blowup. This caps it
    * the way `Smote.synthesize` caps its candidate pool: count rows per
    * bucket key, and sub-split any bucket above `maxBucket` into
    * ⌈n/maxBucket⌉ deterministic salt groups (id-hash), so the join adds
    * `__salt` equality and within-bucket pair counts drop from O(n²) to
    * O(n·maxBucket). Cold buckets keep salt 0 — zero behavior change.
    *
    * The trade is explicit: pairs across salt groups of a HOT bucket are
    * not generated (other bands can still catch them). That loses recall
    * only inside degenerate buckets — where production dedup pipelines
    * routinely drop the bucket outright; salting keeps partial recall
    * instead. Use [[bucketStats]] to see what got split.
    */
  def capBuckets(banded: DataFrame, keyCols: Seq[String], idCol: String,
                 maxBucket: Int): DataFrame =
    saltJoin(banded, hotFrame(banded, keyCols, maxBucket), keyCols, idCol,
      maxBucket)

  /** [[capBuckets]] with the hot-key frame PERSISTED, probed, and
    * returned for caller-managed release. The hot frame is small by
    * construction (≤ rows/maxBucket keys, usually EMPTY), so after
    * pinning it one cheap probe decides the plan shape: no hot buckets
    * → the salt column is a constant and the guard join disappears
    * from the main plan entirely (the self-join's salt equality
    * constant-folds away) — healthy corpora pay one counting pass and
    * zero extra stages; only genuinely degenerate corpora pay the
    * salt-split join. Eager by design (the probe runs the count job at
    * call time — the [[graft.ops.Similarity.ivfIndex]] fit-collect
    * precedent); pair with [[graft.ops.Cached]] to release `hot`.
    * Callers that cannot manage a release use [[capBuckets]], which
    * stays fully lazy and persist-free.
    */
  def capBucketsCached(banded: DataFrame, keyCols: Seq[String],
                       idCol: String, maxBucket: Int)
      : (DataFrame, DataFrame) = {
    val hot = hotFrame(banded, keyCols, maxBucket)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val capped =
      if (hot.isEmpty) banded.withColumn("__salt", lit(0L))
      else saltJoin(banded, hot, keyCols, idCol, maxBucket)
    (capped, hot)
  }

  /** Materialize a pre-aggregate ONCE for multi-consumer plans, with a
    * cardinality guard. Concurrent consumer subtrees (the e01 pattern:
    * four broadcast branches over one grouped frame) would race to
    * materialize a lazily-cached frame, each re-running the expensive
    * upstream pipeline — a local relation runs it exactly once. But
    * collecting is only safe when the aggregate's cardinality is
    * domain-bounded, and a comment is not a guard: this counts first
    * (one cheap job that eagerly materializes the persisted frame) and
    * only collects at or below `maxRows`. Above it, the already-
    * materialized persisted frame is returned instead — consumers can
    * no longer race (the count pinned the blocks), and the driver never
    * holds an unbounded row set. The fallback's cache is bounded by the
    * aggregate's size and lives until `spark.catalog.clearCache()` or
    * session end; callers needing an explicit handle should persist
    * themselves and wrap in [[Cached]].
    */
  def materializeBounded(df: DataFrame, maxRows: Long = 100000L): DataFrame = {
    collectBounded(df, maxRows) match {
      case Right(rows) => df.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows: _*), df.schema)
      case Left(persisted) => persisted
    }
  }

  /** Driver-heap budget for [[collectBounded]], in estimated COLLECTED
    * bytes (boxed Rows, not parquet bytes). A row-count bound alone is
    * not a memory bound: 10M rows of two longs pass a 10M-row cap but
    * cost ~1 GB of boxed driver heap. The effective row cap is
    * min(maxRows, budget / estimated-bytes-per-row), so wide schemas
    * collect proportionally fewer rows and anything past the budget
    * takes the distributed fallback. Conf-overridable (not a local
    * tuning constant — on a production driver with a bigger heap the
    * budget scales with it).
    */
  val CollectBudgetKey = "spark.graft.collect.budgetBytes"
  private val collectBudgetDefault = 256L << 20

  /** Estimated JVM heap bytes for one collected GenericRow: object +
    * values-array headers (~48 B) plus, per field, a reference and a
    * boxed value (~16 B + the type's catalyst defaultSize). An
    * estimate, deliberately conservative for primitives; variable
    * types (strings, arrays) still undercount pathological values,
    * which is why the budget default stays far under the heap.
    */
  private def rowBytesEstimate(schema: org.apache.spark.sql.types.StructType)
      : Long =
    48L + schema.fields.map(f => 16L + f.dataType.defaultSize.toLong).sum

  /** Count-then-collect under a driver-heap guard. The effective row
    * cap is min(`maxRows`, budget ÷ estimated boxed-row bytes), the
    * budget being [[CollectBudgetKey]]. `df` is persisted first and the
    * count materializes it; then
    *   - `Right(rows)` when the count fits the cap: the collect reads
    *     that cache and releases it, so nothing stays pinned (a frame
    *     the caller had already persisted shares the one cache entry,
    *     so it is released too);
    *   - `Left(persisted)` past the cap: the eagerly materialized
    *     frame comes back still pinned, and the caller owns its
    *     unpersist.
    */
  def collectBounded(df: DataFrame, maxRows: Long)
      : Either[DataFrame, Array[Row]] = {
    val persisted = df.persist(StorageLevel.MEMORY_AND_DISK)
    // count-then-collect, deliberately: an A/B against a single
    // limit(maxRows+1).collect() probe REGRESSED the loop-heavy
    // queries (g09 3.7 → 5.3 s, g11 4.0 → 5.1 s at sf0.1) —
    // CollectLimit's incremental partition scans (1, 4, 16, …) launch
    // more jobs than the count it saves, and the count's full-width
    // cache materialization is what the second job then reads.
    val budget = df.sparkSession.conf
      .get(CollectBudgetKey, collectBudgetDefault.toString).toLong
    val effMax = math.min(maxRows, budget / rowBytesEstimate(df.schema))
    val n = persisted.count()
    if (n <= effMax) {
      val rows = persisted.collect()
      persisted.unpersist(blocking = false)
      Right(rows)
    } else Left(persisted)
  }

  /** Row bound of every driver gate ([[gate]]) and of the bounded
    * collects that continue one (the Louvain levels); [[collectBounded]]
    * additionally caps it by the byte budget.
    */
  val GateRows = 10000000L

  /** [[gate]]'s default column-type check: every column BIGINT. The
    * driver replicas read `getLong`, and the gated ops are generic, so
    * a caller with other key types keeps the distributed path.
    */
  val allBigint: Seq[DataType] => Boolean = _.forall(_ == LongType)

  /** DRIVER GATE: run an op as exact driver algebra over the collected
    * rows of `frame` while they are bounded, else as its distributed
    * twin. The decision, in order:
    *   - `accepts` checks the column types (default [[allBigint]]); on
    *     a refusal `distributed(frame)` runs and no job is launched;
    *   - one [[collectBounded]] at [[GateRows]] and the byte budget; past
    *     it `distributed` gets the PINNED frame, already materialized by
    *     the count;
    *   - a null anywhere in the rows runs `distributed(frame)`: a null
    *     never equi-joins and groupBy keeps a null key group, frame
    *     semantics the replicas do not model;
    *   - otherwise `local(rows)`; `None` declines (seeds that do not
    *     collect, say) and runs `distributed(frame)`.
    * The pin is released once `distributed` returns, so the result must
    * not read it lazily ([[gateCached]] hands it to the result instead).
    * A frame the caller had persisted stays persisted on every branch;
    * when `frame` itself is that frame, the fits branch drops its
    * blocks (collectBounded shares the cache entry) and its next use
    * recomputes them. Specs force the distributed path by setting [[CollectBudgetKey]]
    * to 1.
    */
  def gate[A](frame: DataFrame, accepts: Seq[DataType] => Boolean = allBigint)
      (local: Array[Row] => Option[A])(distributed: DataFrame => A): A = {
    val (out, pin) = gated(frame, accepts, local, distributed)
    pin.foreach(_.unpersist(blocking = false))
    out
  }

  /** [[gate]] for ops returning a [[Cached]] handle: the pin joins the
    * distributed result's `backing`, so `release()` frees it after the
    * consuming action.
    */
  def gateCached(frame: DataFrame,
                 accepts: Seq[DataType] => Boolean = allBigint)
      (local: Array[Row] => Option[DataFrame])
      (distributed: DataFrame => Cached): Cached = {
    val (out, pin) = gated(frame, accepts,
      rows => local(rows).map(Cached(_, Seq.empty)), distributed)
    out.copy(backing = out.backing ++ pin)
  }

  /** [[gate]] with no continuation: the gated rows, or None. */
  def gateRows(frame: DataFrame,
               accepts: Seq[DataType] => Boolean = allBigint)
      : Option[Array[Row]] =
    gate[Option[Array[Row]]](frame, accepts)(rows => Some(Some(rows)))(
      _ => None)

  /** [[gate]]'s decision. The pin comes back beside the result when the
    * gate made it, and not when the caller had persisted `frame`.
    */
  private def gated[A](frame: DataFrame,
                       accepts: Seq[DataType] => Boolean,
                       local: Array[Row] => Option[A],
                       distributed: DataFrame => A)
      : (A, Option[DataFrame]) =
    if (!accepts(frame.schema.map(_.dataType))) (distributed(frame), None)
    else {
      val callerLevel = frame.storageLevel
      val callerPinned = callerLevel != StorageLevel.NONE
      collectBounded(frame, GateRows) match {
        case Right(rows) =>
          // collectBounded released the cache entry a caller-persisted
          // frame shares: register it again
          if (callerPinned) frame.persist(callerLevel)
          val out = if (rows.exists(_.anyNull)) None else local(rows)
          (out.getOrElse(distributed(frame)), None)
        case Left(pinned) =>
          (distributed(pinned), if (callerPinned) None else Some(pinned))
      }
    }

  /** Per-key populations above the cap — ≤ rows/maxBucket keys and
    * usually empty, so the guard join broadcasts under AQE.
    */
  private def hotFrame(banded: DataFrame, keyCols: Seq[String],
                       maxBucket: Int): DataFrame = {
    require(maxBucket > 0, s"maxBucket must be positive, got $maxBucket")
    banded.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBucket)
  }

  private def saltJoin(banded: DataFrame, hot: DataFrame,
                       keyCols: Seq[String], idCol: String,
                       maxBucket: Int): DataFrame =
    banded.join(hot, keyCols, "left")
      .withColumn("__salt",
        when(col("__n").isNull, lit(0L)).otherwise(
          pmod(xxhash64(col(idCol)),
            ceil(col("__n").cast("double") / maxBucket).cast("long"))))
      .drop("__n")

  /** Hot-bucket diagnostic for the banded joins: population per bucket
    * key above `minSize`, largest first — run before/after a dedup pass
    * to see which buckets [[capBuckets]] split (or to pick `maxBucket`).
    */
  def bucketStats(banded: DataFrame, keyCols: Seq[String],
                  minSize: Long = 1000L): DataFrame =
    banded.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minSize)
      .orderBy(col("n").desc)

  /** Two-phase salted count/sum for skewed grouping keys: the partial
    * aggregate on (key, salt) spreads a hot key over `saltBuckets`
    * reducers, then a cheap final aggregate on key merges partials.
    * AQE's skew handling covers joins; aggregation skew still lands a
    * hot key on one reducer — this is the explicit fix for the additive
    * shapes (count/sum; min/max merge the same way).
    */
  def saltedCountSum(df: DataFrame, key: Column, valueCol: Column,
                     saltBuckets: Int = 16): DataFrame = {
    val partial = df
      .withColumn("__salt", (rand(42) * saltBuckets).cast("int"))
      .groupBy(key.as("key"), col("__salt"))
      .agg(count(lit(1)).as("n"), sum(valueCol).as("s"))
    partial.groupBy(col("key"))
      .agg(sum(col("n")).as("n"), sum(col("s")).as("s"))
  }

  /** Write both sides of a recurring equi-join bucketed on the join key:
    * subsequent joins between the saved tables are shuffle-free
    * (SortMergeJoin over pre-bucketed scans). Requires a catalog
    * (`spark.sql.warehouse.dir`); buckets must match on both sides.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int, path: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet")
    // explicit location → external table (bucket spec still lives in
    // the session catalog, so scans keep outputPartitioning and
    // co-bucketed joins stay exchange-free); default = warehouse dir
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Small-file COMPACTION PLAN: assign each file to an output bin of
    * roughly `targetBytes` by greedy in-order packing within its
    * partition group — the planning half of the compaction job every
    * 100-TB table needs once streaming/incremental writes have littered
    * it with kilobyte files (the execution half is a grouped rewrite of
    * each bin, which is just `repartition` + write).
    *
    * Deterministic and engine-portable: files pack in `idCol` order and
    * a file's bin is `floor(prefix_bytes / targetBytes)` — the running
    * total BEFORE the file — so a file larger than the target closes
    * its bin and oversized files land alone. One prefix-sum window per
    * group (parallel across groups, never a global sort), so the plan
    * costs a single shuffle over the file INVENTORY — metadata rows,
    * not data.
    *
    * Output: input columns + `bin` (0-based within group).
    */
  def compactionPlan(files: DataFrame, groupCol: String, idCol: String,
                     bytesCol: String, targetBytes: Long): DataFrame = {
    require(targetBytes >= 1, "targetBytes >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    // integral div (not `/`, which is double division and loses
    // exactness once prefix sums pass 2^52 on a real table)
    files
      .withColumn("__prefix",
        coalesce(sum(col(bytesCol).cast("long")).over(w), lit(0L)))
      .withColumn("bin", expr(s"__prefix div ${targetBytes}L"))
      .drop("__prefix")
  }

  /** Range-partitioned parquet layout: `repartitionByRange` + partition
    * column directory layout so min/max pruning and partition pruning
    * both engage for range predicates.
    */
  def writeRangeLayout(df: DataFrame, path: String, rangeCol: String,
                       partitions: Int): Unit =
    df.repartitionByRange(partitions, col(rangeCol))
      .write.mode("overwrite")
      .parquet(path)

  /** Morton (Z-order) key over two pre-scaled coordinates: interleave
    * the low `bits` bits of `a` (odd positions) and `b` (even
    * positions). Inputs must already be non-negative integers below
    * 2^bits — use [[writeZOrdered]] for the min/max scaling that gets
    * arbitrary numeric columns there. Pure integer arithmetic
    * (shift/mod/multiply), so the key is engine-portable and stays
    * inside whole-stage codegen; with bits ≤ 31 the result fits a LONG.
    */
  def zValue(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    // bit positions never overlap, so a sum of the shifted bits is the
    // interleave — no BIT_OR needed, which keeps the DuckDB oracle to
    // plain arithmetic
    (0 until bits).map { i =>
      (shiftright(a, i) % 2) * lit(1L << (2 * i + 1)) +
        (shiftright(b, i) % 2) * lit(1L << (2 * i))
    }.reduce(_ + _)
  }

  /** Z-order-clustered parquet layout: rows are range-partitioned AND
    * sorted by the Morton interleave of two dimensions, so every file
    * (and every row group inside it) covers a small RECTANGLE of the
    * (a,b) value space instead of a thin slice of one dimension. A
    * range layout on `a` alone makes predicates on `a` prune and
    * predicates on `b` scan everything; the Z layout gives BOTH columns
    * tight per-file min/max, so a 2-D range predicate skips the files
    * (and row groups) whose rectangle misses the query box — the
    * multi-dimensional analogue of [[writeRangeLayout]], and the
    * standard lakehouse answer to "we filter on two keys".
    *
    * Each dimension is scaled to [0, 2^bits) with an equi-WIDTH
    * min/max transform computed in one bounded aggregate (4 scalars on
    * the driver, never rows). Equi-width keeps the transform a pure
    * per-row expression; heavily skewed dimensions can pre-quantize
    * through [[Aggregates.equidepthBins]] first. The Z key is dropped
    * before the write — pruning works off the parquet min/max of the
    * ORIGINAL columns, the key only steers placement.
    */
  def writeZOrdered(df: DataFrame, path: String, colA: String,
                    colB: String, bits: Int = 12, files: Int = 16): Unit = {
    val r = df.agg(
      min(col(colA)).cast("double"), max(col(colA)).cast("double"),
      min(col(colB)).cast("double"), max(col(colB)).cast("double")).head()
    require(!r.anyNull, s"z-order columns $colA/$colB are all-null")
    val n = 1L << bits
    def scaled(c: String, lo: Double, hi: Double): Column = {
      val span = math.max(hi - lo, java.lang.Double.MIN_VALUE)
      // least() folds the single max-value row back into the top cell
      least(floor((col(c).cast("double") - lit(lo)) / lit(span) * lit(n))
        .cast("long"), lit(n - 1))
    }
    val z = zValue(scaled(colA, r.getDouble(0), r.getDouble(1)),
      scaled(colB, r.getDouble(2), r.getDouble(3)), bits)
    df.withColumn("__z", z)
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite")
      .parquet(path)
  }

  /** Hive-style partition-directory layout (`path/col=value/…`): the
    * storage shape that turns an equality/IN predicate on the partition
    * column into PARTITION PRUNING — pruned directories are never
    * listed, let alone read, which is the difference between scanning
    * one language's shard and scanning 100 TB. Rows are pre-shuffled
    * onto their partition values so each directory is written by the
    * tasks owning it (small-files control: ~1 file per value per write,
    * not one per upstream task).
    */
  def writePartitioned(df: DataFrame, path: String,
                       partCols: Seq[String]): Unit = {
    require(partCols.nonEmpty, "need at least one partition column")
    df.repartition(partCols.map(col): _*)
      .write.mode("overwrite")
      .partitionBy(partCols: _*)
      .parquet(path)
  }

  /** Parquet write with a BLOOM FILTER on `bloomCol` — the layout for
    * point-lookup columns whose values min-max statistics cannot
    * prune (a high-cardinality id scattered across the value range:
    * every row group's [min, max] spans the probe, but a bloom says
    * "definitely not here" for most groups). `ndv` sizes the filter.
    * Spark passes the options through to parquet-mr per column.
    * Dictionary encoding is disabled on the SAME column: parquet-mr
    * silently skips the bloom when every page stays dictionary-
    * encoded (the dictionary is already an exact membership filter),
    * and a true high-NDV id overflows the dictionary anyway — forcing
    * it off makes the layout behave at test scale exactly as it would
    * at production NDV. The s12 gate proves the filter is actually IN
    * the footer (parquet-hadoop metadata API, LayoutSpec) and that
    * values survive the rewrite exactly (oracle).
    */
  def writeBloomFiltered(df: DataFrame, path: String, bloomCol: String,
                         ndv: Long = 100000L): Unit =
    df.write.mode("overwrite")
      .option(s"parquet.bloom.filter.enabled#$bloomCol", "true")
      .option(s"parquet.bloom.filter.expected.ndv#$bloomCol",
        ndv.toString)
      .option(s"parquet.enable.dictionary#$bloomCol", "false")
      .parquet(path)
}
