package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Spark's own per-batch record of the streaming queries, read through a
  * `StreamingQueryListener`. Queries are told apart by start order: the
  * serving topology starts its scored sink first and its counters second.
  */
final class ProgressLog extends StreamingQueryListener {
  import StreamingQueryListener._

  private val started = mutable.ArrayBuffer.empty[java.util.UUID]
  private val progress = mutable.Map.empty[java.util.UUID, mutable.ArrayBuffer[StreamingQueryProgress]]

  override def onQueryStarted(e: QueryStartedEvent): Unit = synchronized {
    started += e.id
    progress(e.id) = mutable.ArrayBuffer.empty
  }

  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    // idle polls also report progress; only executed batches carry addBatch
    if (e.progress.durationMs.containsKey("addBatch"))
      progress.getOrElseUpdate(e.progress.id, mutable.ArrayBuffer.empty) += e.progress
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  def queriesStarted: Int = synchronized(started.size)

  /** Executed batches of the `i`-th started query, in batch order. */
  def batches(i: Int): Seq[StreamingQueryProgress] = synchronized {
    if (i >= started.size) Nil
    else progress(started(i)).toSeq.sortBy(_.batchId)
  }

  def rowsCommitted(i: Int): Long = batches(i).map(_.numInputRows).sum
}

object ProgressLog {
  def commitMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble +
      p.durationMs.get("triggerExecution").doubleValue

  def asBatches(ps: Seq[StreamingQueryProgress]): Seq[Stats.Batch] =
    ps.map(p => Stats.Batch(p.numInputRows, commitMs(p)))
}

/** Job, task, shuffle and spill totals per tag, read through a
  * `SparkListener`. A job is tagged with the `perfbench.tag` local
  * property of the thread that submitted it (stream threads inherit it
  * from the thread that started the query).
  */
final class JobLog extends SparkListener {
  final class Totals {
    val jobs = new AtomicLong; val tasks = new AtomicLong
    val shuffleWrite = new AtomicLong; val spill = new AtomicLong
  }
  private val stageTag = new ConcurrentHashMap[Int, String]
  private val totals = new ConcurrentHashMap[String, Totals]

  private def of(tag: String): Totals = totals.computeIfAbsent(tag, _ => new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(JobLog.TagKey)))
      .getOrElse("untagged")
    of(tag).jobs.incrementAndGet()
    e.stageIds.foreach(stageTag.put(_, tag))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t = of(Option(stageTag.get(e.stageId)).getOrElse("untagged"))
    t.tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      t.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      t.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def get(tag: String): Totals = of(tag)
}

object JobLog {
  val TagKey = "perfbench.tag"
}
