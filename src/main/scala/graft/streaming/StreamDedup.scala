package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, OutputMode}

import graft.ops.{Dedup, TextAnalysis}

/** Streaming MinHash-LSH deduplication — dedup the crawl AS IT ARRIVES
  * instead of in a nightly batch sweep.
  *
  * Shape: each incoming document computes its MinHash signature and
  * band keys scan-locally (pure column expressions — the same kernels
  * the batch [[graft.ops.Dedup]] paths use), then every (band, bucket)
  * key runs through `flatMapGroupsWithState`: the FIRST document to
  * claim a bucket wins it forever (state = winner id), and every
  * document emits one verdict per band — `ok` iff it is the bucket's
  * winner. A document survives dedup iff it wins ALL its buckets;
  * losing any band means some earlier document already covered that
  * slice of its signature (the LSH collision = near-duplicate signal,
  * the aggressive drop-on-collision rule streaming crawl dedup uses —
  * there is no exact-Jaccard verify join here, because the verify side
  * would need the full text of every previously kept document in
  * state).
  *
  * Determinism contract: within one micro-batch the winner is the
  * smallest id (an order proxy, since rows in a batch have no arrival
  * order); across batches the winner is whoever claimed the bucket
  * first. When ids arrive in nondecreasing order — a replayed log, a
  * single bounded source — the kept set is therefore exactly the batch
  * rule "keep d iff d = min(id) in every one of its buckets", which is
  * what the st05 oracle states in SQL. Out-of-order arrival diverges
  * by design: streaming decisions are emitted once and never retracted.
  *
  * Replay (at-least-once) is idempotent end-to-end: a redelivered
  * winner re-emits `ok = true`, a redelivered loser re-emits
  * `ok = false` — verdicts never conflict across deliveries, so the
  * downstream kept-set aggregation (`GROUP BY id HAVING min(ok)`) is
  * stable without an upstream exactly-once stage.
  *
  * Scale shape: state is ONE long per distinct (band, bucket) — the
  * corpus's bucket vocabulary, not its documents — and the only
  * shuffle is the groupByKey on the band key, ∝ bands × docs rows of
  * (key, id) pairs.
  *
  * BUCKET EVICTION (r11 verdict mandate #1, the [[KeyedState]]
  * horizon applied to the vocabulary): with `tsCol` +
  * `evictHorizonUs = H > 0` each claim re-arms its bucket's timeout
  * at the bucket's event-time high-water mark + H, and a bucket
  * unclaimed for a horizon EXPIRES: its winner is forgotten, so the
  * next document to hash there claims it fresh. That is the TTL trade
  * stated plainly: near-duplicates separated by more than the horizon
  * are no longer linked (both kept), in exchange for state bounded by
  * the horizon's active vocabulary instead of the corpus's. Arrivals
  * older than the watermark (maxEventTime − H) are dropped by the
  * engine — their bucket may already be gone. With the horizon off
  * (0, the default) a claim never expires and `tsCol` is not read.
  *
  * Dead-letter stance (as [[StreamVelocity.trailingCounts]]): a
  * document without an id, or without an event time under eviction,
  * has no defined claim and drops before the state function.
  */
object StreamDedup {

  /** One per-band verdict: `id` wins (`ok`) or loses its bucket. */
  case class BandVerdict(id: Long, band: Int, ok: Boolean)

  /** Internal band-key row shape with event time (public: Catalyst's
    * deserializer codegen cannot reference a private class).
    */
  case class BandRowT(key: String, id: Long, ts: Long)

  /** Bucket state: the bucket's winner and its event-time high-water
    * mark (what the eviction timer re-arms from).
    */
  case class BucketState(winner: Long, hwm: Long)

  /** Per-bucket first-claim verdicts for a streaming document frame.
    *
    * `portable = true` uses the md5 signature/band kernels (engine-
    * reproducible — the st05 oracle recomputes them in DuckDB);
    * `false` uses the XXH64 production kernels. Emits one row per
    * distinct (id, band) per delivery, append mode.
    */
  def bandVerdicts(docs: DataFrame, textCol: String, idCol: String,
                   shingleSize: Int = 3, numHashes: Int = 8,
                   bands: Int = 4,
                   portable: Boolean = false,
                   tsCol: String = "",
                   evictHorizonUs: Long = 0L): Dataset[BandVerdict] = {
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes,
      s"bands ($bands) must divide numHashes ($numHashes)")
    require(evictHorizonUs >= 0L,
      s"evictHorizonUs must be >= 0, got $evictHorizonUs")
    require(evictHorizonUs == 0L || tsCol.nonEmpty,
      "bucket eviction needs an event-time column (tsCol)")
    val spark = docs.sparkSession
    import spark.implicits._
    // stage shingles → signature → band keys as separate projections:
    // the signature references the shingle column numHashes times and
    // the band keys reference the signature bands times — inlined into
    // one expression tree the shingle pass would recompute
    // numHashes × bands times per row (CollapseProject keeps a
    // multi-referenced non-cheap column staged, the batch paths'
    // layout)
    val sig =
      if (portable) Dedup.minhashSignaturePortable(col("sh"), numHashes)
      else Dedup.minhashSignature(col("sh"), numHashes)
    val bk =
      if (portable) Dedup.bandKeysPortable(col("sig"), bands, rowsPerBand)
      else Dedup.bandKeys(col("sig"), bands, rowsPerBand)
    val ts = if (evictHorizonUs > 0L) col(tsCol).cast("long") else lit(0L)
    val keyed = docs.select(col(idCol).cast("long").as("id"), ts.as("ts"),
        Dedup.shingles(TextAnalysis.tokens(col(textCol)), shingleSize)
          .as("sh"))
      .filter(col("id").isNotNull && col("ts").isNotNull)
      .select(col("id"), col("ts"), sig.as("sig"))
      .select(col("id"), col("ts"), explode(bk).as("bk"))
      .select(concat_ws("|", col("bk.band"), col("bk.bucket")).as("key"),
        col("id"), col("ts"))
    KeyedState.watermark(keyed, col("ts"), evictHorizonUs).as[BandRowT]
      .groupByKey(_.key)
      .flatMapGroupsWithState[BucketState, BandVerdict](
        OutputMode.Append(), KeyedState.timeout(evictHorizonUs)) {
        (key: String, rows: Iterator[BandRowT],
         state: GroupState[BucketState]) =>
          KeyedState.step(state, evictHorizonUs) { prev =>
            val band = key.substring(0, key.indexOf('|')).toInt
            val arr = rows.toArray
            val ids = arr.map(_.id).distinct
            val s0 = prev.getOrElse(BucketState(ids.min, Long.MinValue))
            val hwm = math.max(s0.hwm, arr.map(_.ts).max)
            (BucketState(s0.winner, hwm), hwm,
              ids.iterator.map(id => BandVerdict(id, band, id == s0.winner)))
          }
      }
  }

  /** Batch finisher over an append-sink verdict table: the kept set —
    * documents that won every band — with conflict-free verdicts, so
    * replays collapse under the min().
    */
  def keptIds(verdicts: DataFrame): DataFrame =
    verdicts.groupBy(col("id"))
      .agg(min(col("ok")).as("kept"))
      .filter(col("kept"))
      .select(col("id"))
}
