package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.jobs.{Jobs, ScoreMain}
import graft.ml.TrainingJob
import graft.streaming.{Scorer, WireFormat}

/** The serving workload. It runs `graft.jobs.ScoreMain` itself on
  * staged wire files, so whatever topology ScoreMain wires up is what
  * gets measured; the benchmark only watches it from outside.
  */
object Serve {
  /** The backlog left by the outage, staged as files of `perFile` lines. */
  val backlogEvents = 25000
  val perFile = 500

  /** Live: one file of `livePerTick` events every `liveTickMs`
    * (200 events/s). The rate is set by the tail rule: a p99 with ten
    * samples beyond it needs 1,000 events in a 10 s run, and 200 events/s
    * gives 2,000. That is still a small share of the rate the catch-up
    * shows the system can take, so per-batch costs, not per-row work,
    * set the latency.
    */
  val liveTickMs = 100.0
  val livePerTick = 20

  /** One dashboard read every 2 s, as the reference dashboard refreshes
    * (`FD/dashboard.py:123`). The scored query's 2 s trigger fires on
    * multiples of 2 s of wall time (Spark aligns processing-time
    * triggers), so every read of a 2 s reader lands at the same point of
    * the batch cycle, and that point decides both how long the read waits
    * for task slots and how much it delays the batch. On a free phase it
    * differs from run to run; the reads start `dashboardPhaseMs` into the
    * cycle instead, after the scored query's batch has usually committed,
    * beside the counters query's writes.
    */
  val dashboardEveryMs = 2000L
  val dashboardPhaseMs = 1500L

  /** Open-loop validity: a generator that runs late, or files left
    * unconsumed when it stops, mean the numbers describe the host or an
    * overload, not the serving loop at the offered rate.
    */
  val maxLatenessMs = 1000.0
  val maxLatenessP99Ms = 250.0
  val maxUnconsumedFiles = 50

  final case class Ctx(work: File, modelDir: String, seed: Long, seconds: Int, trace: Boolean)

  def session(): SparkSession = Jobs.session("graft-score")

  /** Timed dashboard reads, `Scorer.lastCounts(...).collect()`; a read
    * that throws counts as failed.
    */
  final class Reads(spark: SparkSession) {
    val latenciesMs = mutable.ArrayBuffer.empty[Double]
    /** Start of each read within the 2 s trigger cycle, in ms. */
    val phasesMs = mutable.ArrayBuffer.empty[Double]
    @volatile var attempted = 0L
    @volatile var failed = 0L

    /** An untimed read: the first one in a JVM plans and generates
      * code for the query, which a long-running dashboard pays once.
      */
    def warm(path: String): Unit = scala.util.Try(Scorer.lastCounts(spark, path).collect())

    def read(path: String): Unit = {
      attempted += 1
      val t0 = System.nanoTime()
      val phase = (System.currentTimeMillis() % dashboardEveryMs).toDouble
      try {
        Scorer.lastCounts(spark, path).collect()
        latenciesMs.synchronized { latenciesMs += (System.nanoTime() - t0) / 1e6; phasesMs += phase }
      } catch { case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] dashboard read failed: $e")
      }
    }
  }

  /** Polls the counter log on the dashboard's cadence and phase while
    * the serving loop runs.
    */
  final class Dashboard(spark: SparkSession, target: () => Option[String]) extends Thread("dashboard") {
    val reads = new Reads(spark)
    @volatile private var running = true
    setDaemon(true)

    override def run(): Unit = {
      spark.sparkContext.setLocalProperty(JobLog.TagKey, "dashboard")
      target().foreach(reads.warm)
      while (running) {
        val now = System.currentTimeMillis()
        val next = now - now % dashboardEveryMs + dashboardPhaseMs +
          (if (now % dashboardEveryMs < dashboardPhaseMs) 0 else dashboardEveryMs)
        while (running && System.currentTimeMillis() < next) Thread.sleep(5)
        if (running) target().foreach(reads.read)
      }
    }

    def finish(): Unit = { running = false; join() }
  }

  def countsReady(sink: File): Option[String] = {
    val d = new File(sink, "counts_log")
    val ready = Option(d.listFiles()).exists(_.exists(f => f.getName.startsWith("part-")))
    if (ready) Some(d.getPath) else None
  }

  /** One ScoreMain call, with the benchmark's listeners attached to the
    * session ScoreMain picks up. `during` runs beside it with the
    * session and the progress log, and returns a hook that is called
    * once ScoreMain has returned.
    */
  final case class Call(progress: ProgressLog, jobs: Option[JobLog], startMs: Double)

  def scoreMain(src: File, sink: File, modelDir: String, followS: Int, trace: Boolean)
               (during: (SparkSession, ProgressLog) => () => Unit): Call = {
    val spark = session()
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val jobs = if (trace) Some(new JobLog) else None
    jobs.foreach(spark.sparkContext.addSparkListener)
    spark.sparkContext.setLocalProperty(JobLog.TagKey, "serve")
    val after = during(spark, progress)
    val start = Clock.nowMs
    val args = Array(src.getPath, modelDir, sink.getPath) ++
      (if (followS > 0) Array("--follow", followS.toString) else Array.empty[String])
    try ScoreMain.main(args) finally after()
    Call(progress, jobs, start)
  }

  /** Visible time (both queries committed) of every line, by arrival index. */
  def visible(call: Call, nLines: Int): Array[Double] = {
    require(call.progress.queriesStarted == 2,
      s"ScoreMain started ${call.progress.queriesStarted} queries, expected 2")
    Stats.visibleTimes((0 until 2).map(q =>
      Stats.commitTimes(ProgressLog.asBatches(call.progress.batches(q)), nLines)))
  }

  // ---------------------------------------------------------------- checks

  /** The batch twin of the serving loop over every staged line: the
    * same decode, dead-letter split and scorer, as one batch job.
    */
  final case class Twin(valid: Long, corrupt: Long, hash: BigDecimal, fraud: Long, nonFraud: Long)

  private def rowHash(df: DataFrame): BigDecimal = {
    val r = df.agg(sum(xxhash64(col("Transaction_ID"), col("Customer_ID"),
      col("Transaction_Amount"), col("Transaction_Date"), col("Transaction_Time"))
      .cast("decimal(38,0)"))).head()
    if (r.isNullAt(0)) BigDecimal(0) else BigDecimal(r.getDecimal(0))
  }

  def twin(spark: SparkSession, src: File, modelDir: String): Twin = {
    val decoded = WireFormat.decodeFrame(spark.read.text(new File(src, "wire").getPath), "value")
      .persist()
    val (features, model) = TrainingJob.load(spark, modelDir)
    val valid = WireFormat.valid(decoded)
    val counts = Scorer.score(valid, features, model).groupBy("prediction_label").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val out = Twin(valid.count(), WireFormat.corrupt(decoded).count(), rowHash(valid),
      counts.getOrElse("FRAUD", 0L), counts.getOrElse("VALID", 0L))
    decoded.unpersist()
    out
  }

  /** Checks one ScoreMain output against the twin; returns the number
    * of events that are missing, double-counted or miscounted.
    */
  def check(spark: SparkSession, sink: File, t: Twin, rec: Record, what: String): Long = {
    val scored = spark.read.parquet(new File(sink, "scored").getPath)
    val n = scored.count()
    if (n != t.valid) rec.problem(s"$what: scored sink has $n rows, ${t.valid} valid events staged")
    else if (rowHash(scored) != t.hash) rec.problem(s"$what: scored sink content differs from the staged valid events")
    val last = Scorer.lastCounts(spark, new File(sink, "counts_log").getPath).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val fraud = last.getOrElse("Fraud Count", 0L)
    val nonFraud = last.getOrElse("Non-Fraud Count", 0L)
    if (fraud != t.fraud || nonFraud != t.nonFraud)
      rec.problem(s"$what: lastCounts fraud=$fraud non-fraud=$nonFraud, batch twin ${t.fraud}/${t.nonFraud}")
    if (fraud + nonFraud != t.valid)
      rec.problem(s"$what: counters total ${fraud + nonFraud}, ${t.valid} valid events staged")
    math.abs(n - t.valid) + math.abs(fraud - t.fraud) + math.abs(nonFraud - t.nonFraud)
  }

  // ------------------------------------------------------------- per-layer

  private val durationKeys = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch",
    "walCommit", "commitOffsets", "triggerExecution")

  /** Spark's own per-batch split for both queries of the given calls. */
  def progressLayers(calls: Seq[Call], rec: Record): Unit = {
    Seq("scored" -> 0, "counters" -> 1).foreach { case (name, q) =>
      val bs = calls.flatMap(_.progress.batches(q))
      rec.put(s"stream.$name.batches", bs.size.toDouble)
      durationKeys.foreach { k =>
        val ds = bs.flatMap(b => Option(b.durationMs.get(k)).map(_.doubleValue))
        if (ds.nonEmpty) {
          rec.put(s"stream.$name.${k}_p50_ms", Stats.median(ds))
          rec.put(s"stream.$name.${k}_sum_ms", ds.sum)
        }
      }
    }
    val states = calls.flatMap(_.progress.batches(1)).flatMap(_.stateOperators.headOption)
    states.lastOption.foreach { s =>
      rec.put("stream.counters.state_rows", s.numRowsTotal.toDouble)
      rec.put("stream.counters.state_memory_bytes", s.memoryUsedBytes.toDouble)
    }
    rec.put("stream.counters.state_commit_ms", states.map(_.commitTimeMs.toDouble).sum)
  }

  def jobLayers(calls: Seq[Call], rec: Record): Unit = {
    val ts = calls.flatMap(_.jobs).map(_.get("serve"))
    rec.put("spark.jobs", ts.map(_.jobs.get).sum.toDouble)
    rec.put("spark.tasks", ts.map(_.tasks.get).sum.toDouble)
    rec.put("spark.shuffle_write_bytes", ts.map(_.shuffleWrite.get).sum.toDouble)
  }

  /** The read side in isolation, on a finished sink. */
  def readLayers(spark: SparkSession, sink: File, rec: Record): Unit = {
    val counts = new File(sink, "counts_log")
    rec.put("streaming.counts_files",
      Option(counts.listFiles()).map(_.count(_.getName.startsWith("part-"))).getOrElse(0).toDouble)
    val ms = (1 to 3).map(_ => Clock.time(Scorer.lastCounts(spark, counts.getPath).collect())._2 * 1000)
    rec.put("streaming.read_lastcounts_ms", Stats.median(ms))
  }

  // ------------------------------------------------------------- workloads

  private def setupRepeated(ctx: Ctx, rec: Record, name: String)(make: (SparkSession, File) => Unit): File = {
    val spark = session()
    val times = (1 to 3).map { i =>
      val dir = new File(ctx.work, s"$name-src-$i"); Inputs.rmrf(dir)
      Clock.time(make(spark, dir))._2
    }
    rec.put("setup_s", Stats.median(times))
    rec.put("setup.gen_s", Stats.median(times))
    Clock.mark(s"$name inputs staged")
    new File(ctx.work, s"$name-src-3")
  }

  /** `Jobs.session` as `SPARK_GRAFT_CPUS=1` would build it, for the
    * single-thread baseline; ScoreMain picks up the active session.
    */
  private def singleThreadSession(): SparkSession = {
    val s = SparkSession.builder().master("local[1]").appName("graft-score")
      .config("spark.sql.shuffle.partitions", "1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One restart of the consumer after an outage: ScoreMain starts on a
    * staged backlog, every backlog event due at the call; once both
    * queries have committed it, an open-loop generator drops one small
    * file per tick for `seconds` while the dashboard polls.
    */
  final case class Phase(call: Call, sink: File, due: Array[Double], late: Array[Double],
                         dashboard: Dashboard, unconsumedFiles: Int)

  private def phase(ctx: Ctx, lines: Array[String], name: String, traced: Boolean): Phase = {
    val ticks = liveTicks(ctx)
    val src = new File(ctx.work, s"serve-$name"); Inputs.rmrf(src)
    Inputs.stage(src, lines.take(backlogEvents), perFile)
    val wire = new File(src, "wire")
    val first = backlogEvents / perFile
    val sink = new File(ctx.work, s"serve-$name-sink"); Inputs.rmrf(sink)
    val due = new Array[Double](ticks)
    val late = new Array[Double](ticks)
    var dashboard: Dashboard = null
    var unconsumedFiles = 0
    val call = scoreMain(src, sink, ctx.modelDir, ctx.seconds + 2, traced) { (spark, progress) =>
      dashboard = new Dashboard(spark, () => countsReady(sink))
      val gen = new Thread(() => {
        while (progress.rowsCommitted(0) < backlogEvents || progress.rowsCommitted(1) < backlogEvents)
          Thread.sleep(5)
        dashboard.start()
        Clock.mark("backlog committed, generator starts")
        val t0 = Clock.nowMs + 100
        (0 until ticks).foreach { k =>
          due(k) = t0 + k * liveTickMs
          val wait = due(k) - Clock.nowMs
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          late(k) = Clock.nowMs - due(k)
          val from = backlogEvents + k * livePerTick
          Inputs.dropFile(wire, f"part-${first + k}%06d.json", lines.slice(from, from + livePerTick).toSeq)
        }
        val done = math.min(progress.rowsCommitted(0), progress.rowsCommitted(1))
        unconsumedFiles = math.ceil((lines.length - done).toDouble / livePerTick).toInt
        dashboard.finish()
      }, "generator")
      gen.setDaemon(true); gen.start()
      () => gen.join()
    }
    Clock.mark(s"serve phase $name done")
    Phase(call, sink, due, late, dashboard, unconsumedFiles)
  }

  private def liveTicks(ctx: Ctx): Int = math.round(ctx.seconds * 1000 / liveTickMs).toInt

  /** Catch-up rate, catch-up latencies and live latencies of one phase. */
  final case class Measured(rate: Double, catchUpMs: Seq[Double], liveMs: Seq[Double])

  private def measure(p: Phase, lines: Array[String]): Measured = {
    val vis = visible(p.call, lines.length)
    def ok(i: Int) = !Inputs.isCorrupt(lines(i)) && !vis(i).isNaN
    val backlog = (0 until backlogEvents).filter(ok)
    val live = (backlogEvents until lines.length).filter(ok)
    val catchUp = backlog.map(i => vis(i) - p.call.startMs)
    Measured(backlog.size / (catchUp.max / 1000), catchUp,
      live.map(i => vis(i) - p.due((i - backlogEvents) / livePerTick)))
  }

  /** `serve`: see [[phase]]. Traced runs serve the same traffic a second
    * time with a `SparkListener` attached, then drain the backlog once
    * more on a single-thread session as the baseline.
    */
  def serve(ctx: Ctx, rec: Record): Unit = {
    val ticks = liveTicks(ctx)
    var lines: Array[String] = Array.empty
    val backlogSrc = setupRepeated(ctx, rec, "serve") { (spark, dir) =>
      lines = Inputs.wireLines(spark, backlogEvents + ticks * livePerTick, ctx.seed)
      Inputs.stage(dir, lines.take(backlogEvents), perFile)
    }
    val n = lines.length
    val twinSrc = new File(ctx.work, "serve-twin"); Inputs.rmrf(twinSrc)
    Inputs.stage(twinSrc, lines, perFile)
    val (t, twinS) = Clock.time(twin(session(), twinSrc, ctx.modelDir))
    // the corrupt lines actually staged, counted by the generator's own
    // rule: the decoder must dead-letter exactly these and pass the rest
    val staged = lines.count(Inputs.isCorrupt).toLong
    if (t.corrupt != staged || n - t.valid != staged)
      rec.problem(s"dead letters ${t.corrupt} and ${n - t.valid} lines not valid, $staged corrupt lines staged")
    Clock.mark("batch twin done")

    def checked(p: Phase, what: String): Measured = {
      val m = measure(p, lines)
      val seen = (m.catchUpMs.size + m.liveMs.size).toLong
      val bad = check(session(), p.sink, t, rec, what) + math.abs(t.valid - seen)
      if (bad > 0) rec.problem(s"$what: $bad events missing, double-counted or miscounted")
      rec.tally(t.valid, math.min(bad, t.valid))
      m
    }
    val plain = phase(ctx, lines, "plain", traced = false)
    val m = checked(plain, "serve")
    Seq("scored" -> 0, "counters" -> 1).foreach { case (name, q) =>
      plain.call.progress.batches(q).headOption.foreach { b =>
        rec.put(s"catchup.$name.rows", b.numInputRows.toDouble)
        rec.put(s"catchup.$name.start_ms",
          java.time.Instant.parse(b.timestamp).toEpochMilli - plain.call.startMs)
        b.durationMs.forEach((k, v) => rec.put(s"catchup.$name.${k}_ms", v.doubleValue))
      }
    }
    rec.put("mix_s", twinS)
    rec.put("events_per_s", m.rate)
    rec.put("catchup_s", m.catchUpMs.max / 1000)
    rec.put("event_latency_p50_ms", Stats.quantile(m.liveMs, 0.5))
    val (rank, p99) = Stats.tail(m.liveMs, 0.99)
    rec.put("event_latency_p99_ms", p99)
    rec.put("event_latency_tail_rank", rank)
    rec.put("event_samples", m.liveMs.size.toDouble)
    val dash = plain.dashboard.reads
    val reads = dash.latenciesMs.toSeq
    rec.tally(dash.attempted, dash.failed)
    rec.put("dashboard_reads", reads.size.toDouble)
    reads.zip(dash.phasesMs).zipWithIndex.foreach { case ((ms, ph), i) =>
      rec.put(s"dashboard.read_ms_$i", ms); rec.put(s"dashboard.phase_ms_$i", ph) }
    if (reads.isEmpty) rec.problem("the dashboard completed no read")
    else rec.put("dashboard_read_p50_ms", Stats.median(reads))
    val lateMax = plain.late.max
    // a validity gate, not a reported tail: the plain p99, whatever the
    // sample count
    val lateP99 = Stats.quantile(plain.late.toSeq, 0.99)
    rec.put("gen.lateness_max_ms", lateMax)
    rec.put("gen.lateness_p99_ms", lateP99)
    rec.put("gen.unconsumed_files", plain.unconsumedFiles.toDouble)
    if (lateMax > maxLatenessMs || lateP99 > maxLatenessP99Ms)
      rec.problem(f"invalid run: generator lateness max $lateMax%.1f ms, p99 $lateP99%.1f ms")
    if (plain.unconsumedFiles > maxUnconsumedFiles)
      rec.problem(s"invalid run: ${plain.unconsumedFiles} files unconsumed when the generator stopped")
    Clock.mark("checks done")

    if (ctx.trace) {
      val traced = phase(ctx, lines, "traced", traced = true)
      val tm = checked(traced, "traced serve")
      rec.put("trace.overhead_pct",
        100 * (Stats.quantile(tm.liveMs, 0.5) / Stats.quantile(m.liveMs, 0.5) - 1))
      rec.put("trace.catchup_overhead_pct", 100 * (m.rate / tm.rate - 1))
      progressLayers(Seq(traced.call), rec); jobLayers(Seq(traced.call), rec)
      val spark = session()
      readLayers(spark, traced.sink, rec)
      Layers.serve(spark, backlogSrc, ctx.modelDir, new File(ctx.work, "layers"), rec)
      spark.stop()
      singleThreadSession()
      val one = new File(ctx.work, "serve-local1-sink"); Inputs.rmrf(one)
      val call = scoreMain(backlogSrc, one, ctx.modelDir, 0, trace = false)((_, _) => () => ())
      val vis = visible(call, backlogEvents)
      val done = (0 until backlogEvents).filterNot(i => Inputs.isCorrupt(lines(i)) || vis(i).isNaN)
      rec.put("baseline.local1_events_per_s",
        done.size / ((done.map(vis).max - call.startMs) / 1000))
    }
    Clock.mark("serve done")
  }
}
