package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The keyed event-time protocol every per-entity streaming state
  * speaks ([[StreamVelocity]], [[StreamSketch]], [[StreamDedup]]). An
  * operator supplies only its fold; how a key tracks event time, holds
  * late rows and expires is decided here.
  *
  * HIGH-WATER MARK AND `ooo`: each key carries its event-time
  * high-water mark across micro-batches. A row arriving strictly
  * below it is an out-of-order arrival; the ordered fold counts it in
  * the `ooo` column every emission carries. Within one batch the
  * event-time sort makes order moot, so only cross-batch regressions
  * count. Values keep their as-of-arrival semantics (nothing is
  * retracted), but a monitor alarming on `ooo > 0` sees a violated
  * ordered-arrival assumption instead of silently shifted numbers.
  *
  * BOUNDED-LATENESS REORDER ([[ordered]], `maxLateness = L > 0`): an
  * event is HELD while its ts is within L of the key's high-water
  * mark and RELEASED (folded, and emitted where the operator emits
  * per event) exactly once, when the high-water mark passes `ts + L`,
  * in strict event-time order. Under the contract (every arrival has
  * `ts >= hwm − L` at its batch) the released fold sequence equals
  * the fully ordered run's, so a shuffled batch schedule gives
  * bit-equal output (ReorderSpec). Arrivals more than L late fall
  * back to the L = 0 semantics: folded as-of-arrival, counted in
  * `ooo`. Two invariants carry the order proof: held entries always
  * satisfy `ts >= hwm − L`, and a release needs `ts < hwm − L`
  * strictly, so no legal future arrival, not even a same-instant tie,
  * can precede a released event. At L = 0 every row is released at
  * once: rows below the high-water mark count in `ooo`, then the whole
  * batch folds in sorted order. The held buffer adds per-key
  * rate × L events of state.
  *
  * PUNCTUATION: at L > 0 a row with a null payload advances the key's
  * high-water mark and releases accordingly but folds and emits
  * nothing itself: the per-key end-of-stream flush a bounded run (or
  * a Kafka control message) uses to drain the buffer. At L = 0 the
  * operators' projections drop or coalesce null payloads instead.
  *
  * EVICTION (`horizonUs = H > 0`): the rows carry an `__evt` watermark
  * column delayed by H and the state runs under `EventTimeTimeout`
  * instead of `NoTimeout`. Each batch a key re-arms its timeout at
  * `hwm + H` ([[evictAtMs]]), so a key is EVICTED, its state removed,
  * once the watermark strictly passes its high-water mark plus the
  * horizon. By design:
  *
  *   - total state is bounded by the keys active within one horizon
  *     of the stream head, not by the keys ever seen;
  *   - arrivals older than the watermark are dropped by the engine
  *     before the fold runs (their key may already be gone);
  *     arrivals late but within the horizon fold as above;
  *   - an evicted key that reappears re-seeds from the operator's
  *     zero: counts and `ooo` restart, history past the horizon is
  *     forgotten (the TTL contract);
  *   - with the horizon off (0, the default) nothing times out.
  *
  * EVICTION × REORDER (both > 0, `H ≥ L` required by the operators):
  * a timed-out key DRAINS first, folding and emitting its held buffer
  * in event-time order exactly as a punctuation at the horizon would
  * have, and only then is removed. Any later legal arrival has
  * `ts ≥ watermark > hwm + H ≥` every held ts, so nothing that could
  * precede a drained event can still arrive: eviction is a forced
  * end-of-life punctuation, and every held event emits exactly once.
  * (Production Kafka runs want `H ≫ L`: evict at hours, reorder at
  * minutes.)
  */
object KeyedState {

  /** Timeout re-arm instant for [[GroupState.setTimeoutTimestamp]]:
    * strictly after `hwm + horizon` at the state store's ms
    * resolution, so the eviction rule reads "watermark PASSES the
    * key's high-water mark + horizon". Rows reaching the function
    * satisfy ts ≥ watermark (the engine's late filter), so this is
    * always in the watermark's future, as setTimeoutTimestamp needs.
    */
  private[streaming] def evictAtMs(hwmUs: Long, horizonUs: Long): Long =
    (hwmUs + horizonUs) / 1000L + 1L

  /** `rows` with the eviction clock declared: an `__evt` column at
    * event time `evtUs` (epoch µs) under a watermark delayed by the
    * horizon. It rides in the plan past `.as[T]`. Horizon 0 returns
    * `rows` unchanged.
    */
  private[streaming] def watermark(rows: DataFrame, evtUs: Column,
                                   horizonUs: Long): DataFrame =
    if (horizonUs == 0L) rows
    else rows.withColumn("__evt", timestamp_micros(evtUs))
      .withWatermark("__evt", s"$horizonUs microseconds")

  private[streaming] def timeout(horizonUs: Long): GroupStateTimeout =
    if (horizonUs == 0L) GroupStateTimeout.NoTimeout
    else GroupStateTimeout.EventTimeTimeout()

  /** One invocation of a keyed state function. A timed-out key emits
    * `expire(state)` and is removed. Otherwise `update` maps the prior
    * state (None for a new or re-seeded key) to the new state, the
    * event time to re-arm the eviction timer from, and the emissions.
    * `update` only runs for a key with rows in this batch.
    */
  private[streaming] def step[S, U](
      state: GroupState[S], horizonUs: Long,
      expire: S => Seq[U] = (_: S) => Nil)(
      update: Option[S] => (S, Long, Iterator[U])): Iterator[U] =
    if (state.hasTimedOut) {
      val out = expire(state.get)
      state.remove()
      out.iterator
    } else {
      val prev = state.getOption
      val (s, hwm, out) = update(prev)
      // an unchanged state is not rewritten: a claimed LSH bucket keeps
      // its winner, so without eviction the store sees only new claims
      if (!prev.contains(s)) state.update(s)
      if (horizonUs > 0L)
        state.setTimeoutTimestamp(evictAtMs(hwm, horizonUs))
      out
    }

  /** State of an [[ordered]] fold: the operator's accumulator, the
    * held events in event-time order, the high-water mark and `ooo`.
    */
  private[streaming] case class Held[A, P](acc: A, buf: Seq[P], hwm: Long,
                                           ooo: Long)

  /** The ordered fold behind `ewmaStates`, `cusumStates` and
    * `trailingCounts`. `rows` decodes as `P` and carries the event
    * time (epoch µs) in a `ts` column; `order` is event-time order
    * with the operator's tie-break, and `live` is false for a
    * punctuation row. `fold(key, acc, run, ooo)` folds one released
    * run, already in `order`, and returns the new accumulator and the
    * run's emissions.
    */
  private[streaming] def ordered[P <: Product : TypeTag, A : TypeTag,
                                 U <: Product : TypeTag](
      rows: DataFrame, key: P => Long, ts: P => Long, live: P => Boolean,
      order: Ordering[P], zero: A, maxLateness: Long, horizonUs: Long)(
      fold: (Long, A, Seq[P], Long) => (A, Seq[U])): Dataset[U] = {
    implicit val pEnc: Encoder[P] = Encoders.product[P]
    implicit val uEnc: Encoder[U] = Encoders.product[U]
    implicit val kEnc: Encoder[Long] = Encoders.scalaLong
    implicit val sEnc: Encoder[Held[A, P]] = Encoders.product[Held[A, P]]
    watermark(rows, col("ts"), horizonUs).as[P]
      .groupByKey(key)
      .flatMapGroupsWithState[Held[A, P], U](
        OutputMode.Append(), timeout(horizonUs)) {
        (k: Long, in: Iterator[P], state: GroupState[Held[A, P]]) =>
          step(state, horizonUs,
              (s: Held[A, P]) => fold(k, s.acc, s.buf, s.ooo)._2) { prev =>
            val s0 = prev.getOrElse(
              Held(zero, Vector.empty[P], Long.MinValue, 0L))
            val incoming = in.toVector
            val hwm = incoming.foldLeft(s0.hwm)((h, r) => math.max(h, ts(r)))
            val (late, ok) = incoming.filter(live).partition(r =>
              s0.hwm != Long.MinValue && ts(r) < s0.hwm - maxLateness)
            val ooo = s0.ooo + late.length
            val merged = (s0.buf ++ ok).sorted(order)
            val (rel, hold) =
              if (maxLateness == 0L) (merged, Vector.empty[P])
              else merged.partition(r => ts(r) < hwm - maxLateness)
            // late rows fold first: they sit strictly below every held
            // ts (the buffer invariant), so this is event-time order
            // among the batch's folds, and as-of-arrival relative to
            // runs already released
            val (acc, out) = fold(k, s0.acc, late.sorted(order) ++ rel, ooo)
            (Held(acc, hold, hwm, ooo), hwm, out.iterator)
          }
      }
  }
}
