package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}

import graft.SparkEntry
import graft.jobs.Jobs

/** `query_mix`: the analyst side. A closed loop runs one
  * `SparkEntry.queries` entry at a time over generated tables, each
  * driven by the forced action, in a fixed order. No serving layer runs
  * beside it; the dashboard reads its counter log only after the timed
  * passes.
  */
object Mix {
  /** The mix: the collect-gated community and clustering ops, a
    * stream-harness query (the counters topology as a drained stream), a
    * forced-action heavyweight, and the `a02_grouped_agg` canary. Kept to
    * what one pass runs in a few seconds, so a run holds three timed
    * passes; an odd count keeps the median execution inside one query's
    * times instead of between two.
    */
  val queries = Seq("a02_grouped_agg", "g18_louvain_full", "m20_kmeans",
    "st01_stream_counters", "m16_logistic_irls")

  /** Dashboard reads of the counter log, taken back to back after the
    * timed passes.
    */
  val dashboardReads = 10

  /** Table size, in units of 10,000 events ([[Inputs.writeTables]]). */
  val scale = 1

  /** Rows and an order-insensitive content hash of the forced result:
    * one traversal of `toRdd`, so no output column can be pruned.
    */
  def forced(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L; var h = 0L
      it.foreach { r =>
        val u = proj(r)
        n += 1
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
      }
      Iterator.single((n, h))
    }.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
  }

  def readExpected(f: File): Map[String, (Long, Long)] =
    if (!f.exists) Map.empty
    else scala.io.Source.fromFile(f, "UTF-8").getLines().filter(_.nonEmpty).map { l =>
      val Array(q, n, h) = l.split('\t'); q -> (n.toLong, h.toLong)
    }.toMap

  /** A counter log as `Scorer.counterWriter` leaves it: one small file
    * per batch of complete-mode snapshot lines, seeded running totals.
    */
  def stageCounts(dir: File, files: Int, seed: Long): Unit = {
    dir.mkdirs()
    val rnd = new scala.util.Random(seed)
    var fraud = 0L; var valid = 0L
    (1 to files).foreach { k =>
      fraud += rnd.nextInt(10); valid += 100 + rnd.nextInt(100)
      Files.write(new File(dir, f"part-$k%05d.txt").toPath,
        s"Fraud Count: $fraud\nNon-Fraud Count: $valid\n".getBytes(StandardCharsets.UTF_8))
    }
  }

  def run(ctx: Serve.Ctx, expectedFile: File, record: Boolean, rec: Record): Unit = {
    val spark = Jobs.session("graft-mix")
    spark.conf.set("spark.graft.stageDir", new File(ctx.work, "stage").getPath)
    val times = (1 to 3).map { i =>
      val dir = new File(ctx.work, s"mix-data-$i"); Inputs.rmrf(dir)
      Clock.time {
        Inputs.writeTables(spark, dir.getPath, scale)
        stageCounts(new File(dir, "counts_log"), 40, ctx.seed)
      }._2
    }
    rec.put("setup_s", Stats.median(times))
    rec.put("setup.gen_s", Stats.median(times))
    val data = new File(ctx.work, "mix-data-3").getPath
    Clock.mark("tables staged")
    val expected = readExpected(expectedFile)
    val observed = mutable.LinkedHashMap.empty[String, (Long, Long)]

    def once(q: String): Option[Double] = {
      spark.sparkContext.setLocalProperty(JobLog.TagKey, q)
      try {
        val (out, s) = Clock.time(forced(SparkEntry.queries(q)(spark, data)))
        observed.get(q).filter(_ != out).foreach(o =>
          rec.problem(s"$q: result changed between runs in one session: $o then $out"))
        observed(q) = out
        expected.get(q) match {
          case _ if record => Some(s)
          case Some(e) if e != out => rec.problem(s"$q: rows/hash $out, recorded $e"); None
          case None => rec.problem(s"$q: no recorded rows/hash"); None
          case _ => Some(s)
        }
      } catch { case NonFatal(e) =>
        rec.problem(s"$q threw: $e"); None
      } finally spark.sparkContext.setLocalProperty(JobLog.TagKey, null)
    }

    final case class Pass(total: Double, times: Map[String, Double])
    def pass(): Pass = {
      val ts = queries.map { q =>
        val t = once(q)
        rec.tally(1, if (t.isEmpty) 1 else 0)
        q -> t
      }
      Pass(ts.flatMap(_._2).sum, ts.collect { case (q, Some(t)) => q -> t }.toMap)
    }

    // warm-up pass: codegen and JIT settle before the loop is timed
    queries.foreach(once)
    Clock.mark("warm-up pass done")
    val plain = mutable.ArrayBuffer.empty[Pass]
    val began = System.nanoTime()
    while (plain.size < 3 || (System.nanoTime() - began) / 1e9 < ctx.seconds) plain += pass()
    Clock.mark(s"${plain.size} timed passes done")
    // the dashboard's read, on its own after the mix, so it neither
    // competes with the queries nor waits for them
    val dashboard = new Serve.Reads(spark)
    dashboard.warm(s"$data/counts_log")
    (1 to dashboardReads).foreach(_ => dashboard.read(s"$data/counts_log"))
    rec.tally(dashboard.attempted, dashboard.failed)

    // per-query medians over the passes: one slow execution of one query
    // does not move the mix
    val perQuery = queries.flatMap { q =>
      val ts = plain.flatMap(_.times.get(q)).toSeq
      if (ts.isEmpty) None else Some(q -> Stats.median(ts))
    }
    rec.put("mix_s", perQuery.map(_._2).sum)
    rec.put("mix_passes", plain.size.toDouble)
    perQuery.foreach { case (q, t) => rec.put(s"queries.${q}_s", t) }
    // an event here is one analyst report: one pass of the whole mix
    val reports = plain.map(_.total).toSeq
    rec.put("events_per_s", reports.size / reports.sum)
    val ms = reports.map(_ * 1000)
    rec.put("event_latency_p50_ms", Stats.quantile(ms, 0.5))
    val (rank, tail) = Stats.tail(ms, 0.99)
    rec.put("event_latency_p99_ms", tail)
    rec.put("event_latency_tail_rank", rank)
    rec.put("event_samples", ms.size.toDouble)
    val reads = dashboard.latenciesMs.toSeq
    if (reads.isEmpty) rec.problem("the dashboard completed no read")
    else rec.put("dashboard_read_p50_ms", Stats.median(reads))
    val canary = plain.flatMap(_.times.get("a02_grouped_agg")).map(_ * 1000).toSeq
    canary.zipWithIndex.foreach { case (v, i) => rec.put(s"host.canary_a02_ms_$i", v) }
    if (canary.nonEmpty) rec.put("host.canary_a02_ms", Stats.median(canary))

    if (ctx.trace) {
      // the same passes again with a SparkListener attributing each job
      val jobs = new JobLog
      spark.sparkContext.addSparkListener(jobs)
      val traced = Seq(pass(), pass())
      spark.stop() // drains the listener bus, so the job totals are final
      rec.put("trace.overhead_pct",
        100 * (Stats.median(traced.map(_.total)) / Stats.median(plain.map(_.total).toSeq) - 1))
      queries.foreach { q =>
        val t = jobs.get(q)
        traced.flatMap(_.times.get(q)).headOption.foreach(_ =>
          rec.put(s"queries.${q}_s", Stats.median(traced.flatMap(_.times.get(q)))))
        rec.put(s"queries.$q.jobs", t.jobs.get.toDouble / traced.size)
        rec.put(s"queries.$q.shuffle_bytes", t.shuffleWrite.get.toDouble / traced.size)
        rec.put(s"queries.$q.spill_bytes", t.spill.get.toDouble / traced.size)
      }
      rec.put("spark.jobs", queries.map(jobs.get(_).jobs.get).sum.toDouble)
      rec.put("spark.tasks", queries.map(jobs.get(_).tasks.get).sum.toDouble)
      rec.put("spark.shuffle_write_bytes", queries.map(jobs.get(_).shuffleWrite.get).sum.toDouble)
    }
    if (record) {
      Files.write(expectedFile.toPath, observed.map { case (q, (n, h)) => s"$q\t$n\t$h" }
        .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      System.err.println(s"[perfbench] recorded ${observed.size} results to $expectedFile")
    }
  }
}
