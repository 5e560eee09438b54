package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided parquet testdata (TESTDATA.md).
  *
  * Plain `spark.read.parquet` — column pruning and predicate pushdown
  * reach the scan through Catalyst, so callers just select/filter and the
  * scan narrows itself (`PushedFilters`/`ReadSchema` in explain).
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")

  /** Stateful-stream shuffle parallelism for the st-family harnesses:
    * 2 keeps per-batch fixed overhead negligible at oracle scale
    * (sf0.01-0.1, 4 staged micro-batches), but a scaled corpus wants
    * the state stores spread wider — the 50x reorder probe measured
    * st23 118 -> 46 s moving window-vector state from 2 to 8 stores.
    * Probes set SPARK_GRAFT_STREAM_PARTS; the driver default stays 2.
    */
  def streamParts: String =
    sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTS", "2")

  /** Runs `body` on a child of `s` (`newSession`: same SparkContext,
    * cache and files; its own conf, temp views, temp functions and
    * stream manager) with `conf` applied, so a query can pin session
    * conf without touching the caller's. The child first gets every
    * `s.conf.getAll` entry
    * whose value differs from its own — by difference, because
    * `isModifiable` is false for unregistered keys like
    * `spark.graft.stageDir` and the collect budget, while every static
    * key is equal on both sides. When `body` returns or throws, the
    * `conf` keys go back to the caller's values on the child, so
    * frames `body` returns are planned under the caller's conf.
    */
  def isolated[A](s: SparkSession, conf: (String, String)*)(
      body: SparkSession => A): A = {
    val child = s.newSession()
    val callerConf = s.conf.getAll
    val childConf = child.conf.getAll
    callerConf.foreach { case (k, v) =>
      if (!childConf.get(k).contains(v)) child.conf.set(k, v)
    }
    conf.foreach { case (k, v) => child.conf.set(k, v) }
    try body(child)
    finally conf.foreach { case (k, _) =>
      callerConf.get(k) match {
        case Some(v) => child.conf.set(k, v)
        case None => child.conf.unset(k)
      }
    }
  }

  /** Bounded Structured Streaming drain: starts `stream` into a memory
    * sink named `name` on an [[isolated]] child session, processes all
    * available input, stops the query, and returns the sink table.
    * Stateful drains pass `"spark.sql.shuffle.partitions" ->
    * streamParts`: the state-store partition count is fixed when the
    * query starts. The sink's temp view lives in the child's catalog,
    * never the caller's, so concurrent drains may share a name.
    */
  def drain(s: SparkSession, name: String, outputMode: String,
            conf: (String, String)*)(
      stream: SparkSession => DataFrame): DataFrame =
    isolated(s, conf: _*) { c =>
      val q = stream(c).writeStream.format("memory").queryName(name)
        .outputMode(outputMode).start()
      try q.processAllAvailable() finally q.stop()
      c.table(name)
    }

  /** Per-run staging directory for queries that write intermediate
    * files (streaming file sources, format round-trips). Base comes
    * from `spark.graft.stageDir` (default: the JVM temp dir); the
    * Spark application id is the run nonce, so two concurrent
    * `graft.Verify`/CI invocations — separate SparkSessions by
    * construction — stage into disjoint trees instead of clobbering
    * each other's parquet mid-read. Memory-sink names need no nonce:
    * [[drain]] registers each sink in its own child session.
    */
  def stageDir(s: SparkSession, name: String): String = {
    val base = s.conf.getOption("spark.graft.stageDir")
      .getOrElse(System.getProperty("java.io.tmpdir", "/tmp"))
    s"$base/graft_stage_${s.sparkContext.applicationId}/$name"
  }

  /** Stage `df` as the single parquet file `$stage/$name.parquet`
    * with the given mtime — file stream sources order batches by
    * modification time, so a sequence of stageOne calls with
    * ascending mtimes + `maxFilesPerTrigger=1` is a deterministic
    * micro-batch schedule (the st19 late-audit recipe, shared).
    */
  def stageOne(stage: String, df: DataFrame, name: String,
               mtime: Long): Unit = {
    val tmp = s"$stage/__tmp_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file under $tmp"))
    val dest = new java.io.File(s"$stage/$name.parquet")
    dest.delete()
    require(part.renameTo(dest), s"rename failed: $dest")
    require(dest.setLastModified(mtime), s"mtime failed: $dest")
    new java.io.File(tmp).listFiles().foreach(_.delete())
    new java.io.File(tmp).delete()
  }

  /** Epoch-micros BIGINT expression for an events-shaped `ts` column,
    * adaptive to the type the parquet reader actually produced. The
    * shipped testdata has drifted between TIMESTAMP(NANOS) (read as
    * epoch-nanos LONG under `spark.sql.legacy.parquet.nanosAsLong`) and
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as TIMESTAMP_NTZ);
    * hard-coding either assumption breaks every event-time query the
    * next time the physical type flips. All entry points pin the
    * session timezone to UTC, so the NTZ→TZ cast is an identity on the
    * wall-clock reading and this matches DuckDB's `epoch_us(ts)`.
    */
  def tsMicros(dt: DataType, name: String = "ts"): Column = dt match {
    // integral `div`, NOT `/`: epoch-nanos exceed 2^53, double loses µs
    case LongType         => expr(s"`$name` div 1000")
    case TimestampNTZType => unix_micros(col(name).cast(TimestampType))
    case TimestampType    => unix_micros(col(name))
    case other => throw new IllegalArgumentException(
      s"events.ts read as unsupported type $other — expected LONG (nanos), " +
        "TIMESTAMP or TIMESTAMP_NTZ")
  }

  /** events with an extra `ts_us` epoch-micros BIGINT column — the one
    * event-time accessor every time-based query goes through.
    */
  def eventsMicros(s: SparkSession, d: String): DataFrame = {
    val df = events(s, d)
    df.withColumn("ts_us", tsMicros(df.schema("ts").dataType))
  }

  /** documents/embeddings feed compute-amplifying per-row kernels
    * (tokenize/shingle/hash/dot), and the testdata ships them as
    * single-row-group files — one scan task. `Layout.fanOut` restores
    * core-width parallelism before the kernels; it is a no-op on a
    * properly split production scan, and filters still push through the
    * round-robin exchange to the scan.
    */
  def documents(s: SparkSession, d: String): DataFrame =
    graft.ops.Layout.fanOut(load(s, d, "documents"))
  def embeddings(s: SparkSession, d: String): DataFrame =
    graft.ops.Layout.fanOut(load(s, d, "embeddings"))
}
