package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, OutputMode}

/** Misra–Gries heavy hitters as per-entity `flatMapGroupsWithState`
  * STATE — the frequency sibling of
  * [[StreamVelocity.kllQuantileStates]]: an Append-mode per-entity
  * top-items monitor ("which items dominate THIS key's stream"),
  * where st26 held the summary in a complete-mode aggregation buffer.
  * State per entity is ≤ k (item, count) pairs regardless of stream
  * length, and the Misra–Gries guarantee — every item with
  * c·(k+1) > n retained, estimate in [c − n/(k+1), c] — is
  * merge-order-free (Agarwal et al. 2012), so it holds across the
  * state store's batch boundaries and the gate booleans are
  * deterministic even though the retained SET depends on arrival
  * order (the a50/st26 stance).
  *
  * Update rule = [[graft.functions.HeavyHittersAgg]]'s exactly
  * (increment / insert-below-k / decrement-all), restated here over a
  * plain Map because the aggregate's buffer lifecycle is tied to the
  * expression tree; long items only (the state-store shape).
  *
  * Eviction (r12 verdict mandate #1): with `evictHorizonUs > 0` (and
  * `tsUsCol` naming the event-time column) the state expires by the
  * [[KeyedState]] horizon — an entity silent past hwm + horizon drops
  * its (n, counters) entirely and re-seeds fresh on reappearance (n
  * restarts at the new arrivals; the monitor answers "what dominates
  * THIS key's recent stream", so evicted history must not bias the
  * estimates back in). With the horizon off the state never expires
  * and `tsUsCol` is not read. Rows fold in arrival order: the
  * retained set is order-dependent, so nothing sorts here.
  */
object StreamSketch {

  case class ItemEventT(grp: String, item: Long, ts: Long)
  case class HhEntry(item: Long, est: Long)
  case class HhRow(grp: String, n: Long, hh: Seq[HhEntry])
  case class HhEvState(n: Long, hwm: Long, items: Map[Long, Long])

  /** The Misra–Gries batch fold: `buf` mutated in place over `items`,
    * returning the number of items folded.
    */
  private def mgFold(items: Iterator[Long],
                     buf: mutable.HashMap[Long, Long], k: Int): Long = {
    var seen = 0L
    items.foreach { it =>
      seen += 1L
      buf.get(it) match {
        case Some(c) => buf(it) = c + 1L
        case None if buf.size < k => buf(it) = 1L
        case None =>
          // decrement-all; amortized O(1) per input over the run
          val dead = mutable.ArrayBuffer.empty[Long]
          buf.foreach { case (key, c) =>
            if (c == 1L) dead += key else buf(key) = c - 1L
          }
          dead.foreach(buf.remove)
      }
    }
    seen
  }

  private def hhEmit(grp: String, n: Long,
                     buf: mutable.HashMap[Long, Long]): HhRow = {
    val sorted = buf.toArray.sortWith { (x, y) =>
      if (x._2 != y._2) x._2 > y._2 else x._1 < y._1
    }
    HhRow(grp, n, sorted.toSeq.map { case (i, c) => HhEntry(i, c) })
  }

  def hhStates(events: DataFrame, keyCol: String, itemCol: String,
               k: Int, tsUsCol: String = null,
               evictHorizonUs: Long = 0L): Dataset[HhRow] = {
    require(k >= 1 && k <= 65536, s"k in [1, 65536], got $k")
    require(evictHorizonUs >= 0L,
      s"evictHorizonUs must be >= 0, got $evictHorizonUs")
    require(evictHorizonUs == 0L || tsUsCol != null,
      "evictHorizonUs needs tsUsCol: event-time eviction is keyed on " +
        "the event-time column")
    val spark = events.sparkSession
    import spark.implicits._
    val ts =
      if (evictHorizonUs > 0L) col(tsUsCol).cast("long") else lit(Long.MinValue)
    val rows = events.select(col(keyCol).cast("string").as("grp"),
        col(itemCol).cast("long").as("item"), ts.as("ts"))
      .filter(col("grp").isNotNull && col("item").isNotNull &&
        col("ts").isNotNull)
    KeyedState.watermark(rows, col("ts"), evictHorizonUs).as[ItemEventT]
      .groupByKey(_.grp)
      .flatMapGroupsWithState[HhEvState, HhRow](
        OutputMode.Append(), KeyedState.timeout(evictHorizonUs)) {
        (grp: String, rows: Iterator[ItemEventT],
         state: GroupState[HhEvState]) =>
          KeyedState.step(state, evictHorizonUs) { prev =>
            val s0 = prev.getOrElse(HhEvState(0L, Long.MinValue, Map.empty))
            val buf = mutable.HashMap.empty[Long, Long]
            buf ++= s0.items
            val arr = rows.toArray
            val hwm = arr.foldLeft(s0.hwm)((h, r) => math.max(h, r.ts))
            val n = s0.n + mgFold(arr.iterator.map(_.item), buf, k)
            (HhEvState(n, hwm, buf.toMap), hwm, Iterator(hhEmit(grp, n, buf)))
          }
      }
  }
}
