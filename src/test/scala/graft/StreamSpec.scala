package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.gen.TransactionGen
import graft.ml.TrainingJob
import graft.schema.Transaction
import graft.streaming.{Scorer, WireFormat}

/** Streaming semantics — SURVEY §2.6 / §3.2: decode, micro-batch scoring,
  * running counters with state, checkpoint restart, counts.log sink.
  */
class StreamSpec extends SparkSpec {
  import spark.implicits._

  lazy val artifacts = TrainingJob.run(
    TransactionGen.batch(spark, 1500, seed = 42), fast = true)

  def txns(n: Int, seed: Long): Seq[Transaction] =
    TransactionGen.batch(spark, n, seed = seed).as[Transaction]
      .collect().toSeq

  test("streaming HLL registers merge across micro-batches ≡ batch") {
    import graft.ops.Aggregates
    val stream = MemoryStream[Long](spark)
    val (reg, rank) = Aggregates.hllRegRank("k")
    val q = stream.toDF().withColumnRenamed("value", "k")
      .select(reg.as("reg"), rank.as("rk"))
      .groupBy(col("reg")).agg(max(col("rk")).as("r"))
      .writeStream.format("memory").queryName("hll_merge_sink")
      .outputMode("complete").start()
    try {
      // overlapping batches: the register max must merge, not reset
      stream.addData(1L to 300L: _*)
      q.processAllAvailable()
      stream.addData(200L to 500L: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = Aggregates.hllEstimateFromRegisters(
      spark.table("hll_merge_sink")).collect()(0)
    val batch = Aggregates.distinctSketchesPortable(
      (1L to 500L).toDF("k"), "k").collect()(0)
    assert(streamed.getLong(streamed.fieldIndex("hll_s")) ==
      batch.getLong(batch.fieldIndex("hll_s")))
    assert(streamed.getDouble(streamed.fieldIndex("hll_raw_est")) ==
      batch.getDouble(batch.fieldIndex("hll_raw_est")))
  }

  test("streaming CMS cells merge across micro-batches ≡ batch sketch") {
    import graft.ops.Aggregates
    val stream = MemoryStream[Long](spark)
    val q = Aggregates.cmsCells(
      stream.toDF().select((col("value") % 17).as("k")), "k")
      .writeStream.format("memory").queryName("cms_merge_sink")
      .outputMode("complete").start()
    try {
      // disjoint batches (counts SUM across batches — unlike the HLL
      // register max, replaying a row would double-count; the driver's
      // file source is exactly-once per file): cells must accumulate,
      // not reset
      stream.addData(1L to 400L: _*)
      q.processAllAvailable()
      stream.addData(401L to 900L: _*)
      q.processAllAvailable()
    } finally q.stop()
    val all = (1L to 900L).toDF("value").select((col("value") % 17).as("k"))
    val streamed = spark.table("cms_merge_sink")
      .as[(Int, Int, Long)].collect().toSet
    val batch = Aggregates.cmsCells(all, "k")
      .as[(Int, Int, Long)].collect().toSet
    assert(streamed == batch)
    // state bound: never more than depth × width cells
    assert(streamed.size <= 4 * 256)
    // probe finish over streamed cells: CMS estimate ≥ exact, always
    val probed = Aggregates.cmsProbeTopK(spark.table("cms_merge_sink"),
      all, "k").collect()
    assert(probed.forall(r =>
      r.getAs[Long]("n_cms") >= r.getAs[Long]("n_exact")))
  }

  test("streaming EWMA continues the fold across batches ≡ batch, bit-exact") {
    import graft.ops.Velocity
    import graft.streaming.StreamVelocity
    val stream = MemoryStream[(Long, Long, Long, Double)](spark)
    val df = stream.toDF().toDF("user", "ts", "id", "v")
    val q = StreamVelocity.ewmaStates(df, "user", "ts", "id", "v", 1, 4)
      .toDF.writeStream.format("memory").queryName("ewma_sink")
      .outputMode("append").start()
    try {
      stream.addData((1L, 10L, 1L, 8.0), (1L, 20L, 2L, 16.0),
        (2L, 5L, 3L, 1.0))
      q.processAllAvailable()
      stream.addData((1L, 30L, 4L, 24.0)) // per-key nondecreasing ts
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("ewma_sink").groupBy($"user")
      .agg(max($"n").as("n"), max_by($"ewma", $"n").as("e"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2))).toMap
    val batch = Velocity.ewmaFinal(
      Seq((1L, 10L, 1L, 8.0), (1L, 20L, 2L, 16.0), (1L, 30L, 4L, 24.0),
        (2L, 5L, 3L, 1.0)).toDF("k", "t", "i", "v"),
      "k", "t", "i", "v", 1, 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2))).toMap
    // == on the doubles deliberately: the fold sequence is identical,
    // so the state crossing the batch boundary must be bit-equal
    assert(streamed == batch)
    assert(streamed(1L) == ((3L, 13.5)))
  }

  test("streaming CUSUM continues the integer fold across batches ≡ batch") {
    import graft.ops.Velocity
    import graft.streaming.StreamVelocity
    val stream = MemoryStream[(Long, Long, Long, Double)](spark)
    val df = stream.toDF().toDF("user", "ts", "id", "v")
    val q = StreamVelocity.cusumStates(df, "user", "ts", "id", "v",
        targetCents = 1000L, hCents = 500L)
      .toDF.writeStream.format("memory").queryName("cusum_sink")
      .outputMode("append").start()
    try {
      stream.addData((1L, 10L, 1L, 12.0), (1L, 20L, 2L, 14.0))
      q.processAllAvailable()
      stream.addData((1L, 30L, 3L, 11.0)) // continues post-alarm state
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("cusum_sink").groupBy($"user")
      .agg(max($"n").as("n"), max_by($"alarms", $"n").as("al"),
        max_by($"sp", $"n").as("sp"), max_by($"sn", $"n").as("sn"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val batch = Velocity.cusumFinal(
      Seq((1L, 10L, 1L, 12.0), (1L, 20L, 2L, 14.0), (1L, 30L, 3L, 11.0))
        .toDF("k", "t", "i", "v"), "k", "t", "i", "v", 1000L, 500L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(streamed == batch)
    assert(streamed(1L) == ((3L, 1L, 100L, 0L)))
  }

  test("out-of-order arrivals fire the ooo counter; values stay " +
      "as-of-arrival (r9 mandate #6)") {
    import graft.streaming.StreamVelocity
    val stream = MemoryStream[(Long, Long, String)](spark)
    val df = stream.toDF().toDF("user", "ts", "tag")
    val q = StreamVelocity.trailingCounts(df, "user", "ts", "tag",
        windowMicros = 100L)
      .toDF.writeStream.format("memory").queryName("ooo_sink")
      .outputMode("append").start()
    try {
      stream.addData((1L, 50L, "a"), (1L, 60L, "b"), (2L, 10L, "x"))
      q.processAllAvailable()
      // batch 2: ts=40 < key 1's high-water mark 60 → 1 violation;
      // key 2 stays ordered
      stream.addData((1L, 40L, "c"), (2L, 20L, "y"))
      q.processAllAvailable()
      // batch 3: two more regressions for key 1 → counter accumulates
      stream.addData((1L, 30L, "d"), (1L, 35L, "e"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("ooo_sink").collect()
      .map(r => (r.getAs[Long]("user"), r.getAs[Long]("ts")) ->
        (r.getAs[Int]("velN"), r.getAs[Long]("ooo"))).toMap
    // batch 1: in-order, counter 0
    assert(rows((1L, 50L)) == ((1, 0L)) && rows((1L, 60L)) == ((2, 0L)))
    assert(rows((2L, 10L)) == ((1, 0L)))
    // batch 2: the late event still gets its documented as-of-arrival
    // count (50 and 60 sit inside (−60, 40] → no; window 100 → 50, 60
    // both > 40−100 → count 3), and the violation is visible
    assert(rows((1L, 40L)) == ((3, 1L)), rows.toString)
    assert(rows((2L, 20L)) == ((2, 0L)))
    // batch 3: both rows below hwm 60 → cumulative counter 3
    assert(rows((1L, 30L))._2 == 3L && rows((1L, 35L))._2 == 3L)

    // ewma/cusum carry the same counter
    val s2 = MemoryStream[(Long, Long, Long, Double)](spark)
    val q2 = StreamVelocity.ewmaStates(
        s2.toDF().toDF("user", "ts", "id", "v"), "user", "ts", "id", "v",
        1, 4)
      .toDF.writeStream.format("memory").queryName("ooo_ewma_sink")
      .outputMode("append").start()
    try {
      s2.addData((1L, 100L, 1L, 8.0))
      q2.processAllAvailable()
      s2.addData((1L, 90L, 2L, 16.0)) // regression
      q2.processAllAvailable()
    } finally q2.stop()
    val e = spark.table("ooo_ewma_sink").orderBy($"n").collect()
      .map(r => (r.getAs[Long]("n"), r.getAs[Long]("ooo")))
    assert(e.toSeq == Seq((1L, 0L), (2L, 1L)), e.mkString(","))
  }

  test("wire codec round trip + corrupt payload → dead letter") {
    val df = TransactionGen.batch(spark, 50, seed = 1)
    val decoded = WireFormat.decodeFrame(WireFormat.encodeFrame(df))
    assert(decoded.schema.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)))
    assert(decoded.agg(sum("Transaction_Amount")).first.getDouble(0) ==
      df.agg(sum("Transaction_Amount")).first.getDouble(0))

    val junk = Seq("not json at all", """{"broken": """).toDF("value")
    val decodedJunk = WireFormat.decodeFrame(junk)
    assert(WireFormat.corrupt(decodedJunk).count() == 2)
    // valid rows survive alongside junk
    val mixed = WireFormat.encodeFrame(df.limit(3)).union(junk)
    val out = WireFormat.decodeFrame(mixed)
    assert(WireFormat.corrupt(out).count() == 2 && out.count() == 5)
  }

  test("micro-batch scoring over MemoryStream matches batch scoring") {
    val stream = MemoryStream[Transaction](spark)
    val scoredStream = Scorer.score(stream.toDF(),
      artifacts.features, artifacts.production)
    val q = scoredStream
      .select("Transaction_ID", "prediction_label", "fraud_probability")
      .writeStream.format("memory").queryName("scored_mem")
      .outputMode("append").start()
    try {
      val batch1 = txns(40, seed = 7)
      stream.addData(batch1: _*)
      q.processAllAvailable()
      val got = spark.table("scored_mem")
      assert(got.count() == 40)
      // streaming result == batch result on the same rows
      val batchScored = Scorer.score(batch1.toDF(),
        artifacts.features, artifacts.production)
        .select("Transaction_ID", "prediction_label")
      val joined = spark.table("scored_mem").as("s")
        .join(batchScored.as("b"), Seq("Transaction_ID"))
        .filter($"s.prediction_label" =!= $"b.prediction_label")
      assert(joined.count() == 0)
    } finally q.stop()
  }

  test("running counters accumulate across micro-batches (complete mode)") {
    val stream = MemoryStream[Transaction](spark)
    val counters = Scorer.counters(Scorer.score(stream.toDF(),
      artifacts.features, artifacts.production))
    val q = counters.writeStream.format("memory").queryName("counters_mem")
      .outputMode("complete").start()
    try {
      stream.addData(txns(30, seed = 11): _*)
      q.processAllAvailable()
      val c1 = spark.table("counters_mem").agg(sum("cnt")).first.getLong(0)
      assert(c1 == 30)
      stream.addData(txns(20, seed = 12): _*)
      q.processAllAvailable()
      val c2 = spark.table("counters_mem").agg(sum("cnt")).first.getLong(0)
      assert(c2 == 50) // all-time totals, not per-batch
    } finally q.stop()
  }

  test("checkpointed counters survive a restart (A1 state recovery)") {
    val dir = Files.createTempDirectory("graft-stream").toString
    val srcDir = s"$dir/src"; val ckpt = s"$dir/ckpt"; val txt = s"$dir/counts"
    TransactionGen.batch(spark, 24, seed = 21)
      .write.mode("append").parquet(srcDir)

    def startQuery() = {
      val src = spark.readStream
        .schema(graft.schema.Transactions.wireSchema).parquet(srcDir)
      val scored = Scorer.score(src, artifacts.features, artifacts.production)
      Scorer.counterWriter(scored, txt, ckpt).start()
    }

    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()
    val after1 = Scorer.lastCounts(spark, txt)
      .agg(sum("last_value")).first.getLong(0)
    assert(after1 == 24)

    // restart from checkpoint with more source data
    TransactionGen.batch(spark, 16, seed = 22)
      .withColumn("Transaction_ID", concat(lit("TXNB"), col("Transaction_ID")))
      .write.mode("append").parquet(srcDir)
    val q2 = startQuery()
    q2.processAllAvailable(); q2.stop()
    val after2 = Scorer.lastCounts(spark, txt)
      .agg(sum("last_value")).first.getLong(0)
    assert(after2 == 40, s"state lost on restart: $after2") // 24 + 16
  }

  test("mapGroupsWithState counters track all-time totals per label") {
    val stream = MemoryStream[Transaction](spark)
    val scored = Scorer.score(stream.toDF(),
      artifacts.features, artifacts.production)
    val updates = graft.streaming.StatefulCounters.counters(scored)
    val q = graft.streaming.StatefulCounters
      .toMemorySink(updates, "stateful_counters").start()
    try {
      stream.addData(txns(20, seed = 41): _*)
      q.processAllAvailable()
      stream.addData(txns(12, seed = 42): _*)
      q.processAllAvailable()
      // latest update per label carries the all-time running total
      val latest = spark.table("stateful_counters")
        .groupBy($"label").agg(max($"count").as("c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(latest.values.sum == 32, latest.toString)
      assert(latest.keySet.subsetOf(Set("FRAUD", "VALID")))
    } finally q.stop()
  }

  test("streaming dedup drops redeliveries across micro-batches") {
    val stream = MemoryStream[Transaction](spark)
    val deduped = Scorer.dedupStream(stream.toDF(), "Time",
      Seq("Transaction_ID"), watermarkDelay = "1 hour")
    val q = deduped.select("Transaction_ID")
      .writeStream.format("memory").queryName("dedup_sink")
      .outputMode("append").start()
    try {
      val batch = txns(15, seed = 51)
      stream.addData(batch: _*)
      q.processAllAvailable()
      stream.addData(batch.take(10): _*) // redelivery of 10 rows
      q.processAllAvailable()
      val distinctIds = batch.map(_.Transaction_ID).distinct.size
      assert(spark.table("dedup_sink").count() == distinctIds)
    } finally q.stop()
  }

  test("streaming session windows merge sessions split across batches") {
    // one user's events arrive 10 minutes apart but in SEPARATE
    // micro-batches — the session-window state must merge them into
    // one session; a second user's two events 40 minutes apart must
    // stay two sessions even when they arrive together
    val stream = MemoryStream[(Long, Long)](spark)
    val ev = stream.toDF().toDF("user_id", "t_us")
      .withColumn("t", timestamp_micros($"t_us"))
      .withWatermark("t", "10 minutes")
    val q = ev.groupBy(session_window($"t", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("st_session_sink")
      .outputMode("complete").start()
    try {
      val min = 60L * 1000000L
      stream.addData((1L, 0L), (2L, 0L), (2L, 40L * min))
      q.processAllAvailable()
      // batch 2: user 1's continuation (10 min later) and an OVERLAP
      // bridge — an event between two of user 2's sessions but within
      // 30 min of BOTH, which must merge them into one
      stream.addData((1L, 10L * min), (2L, 20L * min))
      q.processAllAvailable()
      val got = spark.table("st_session_sink")
        .select($"user_id", $"n").orderBy($"user_id", $"n")
        .as[(Long, Long)].collect().toSeq
      // user 1: one merged 2-event session; user 2: the bridge fused
      // both singletons into one 3-event session
      assert(got == Seq((1L, 2L), (2L, 3L)), s"got $got")
    } finally q.stop()
  }

  test("streaming LSH dedup: bucket claims persist, replay is idempotent") {
    import graft.streaming.StreamDedup
    val stream = MemoryStream[(Long, String)](spark)
    val docs = stream.toDF().toDF("doc_id", "text")
    val verdicts = StreamDedup.bandVerdicts(docs, "text", "doc_id",
      shingleSize = 3, numHashes = 8, bands = 4, portable = true)
    val q = verdicts.toDF().writeStream.format("memory")
      .queryName("st_lsh_sink").outputMode("append").start()
    try {
      val tA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
      val tB = "one two three four five six seven eight nine ten eleven"
      stream.addData((10L, tA), (20L, tB))
      q.processAllAvailable()
      // batch 2: an identical-text copy of 10 (all four bands collide →
      // dropped by cross-batch state), a REPLAY of 10 (idempotent), and
      // a SMALLER id with 20's text — first-arrival wins, so 5 loses:
      // streaming decisions are emitted once and never retracted
      stream.addData((30L, tA), (10L, tA), (5L, tB))
      q.processAllAvailable()
      val kept = StreamDedup.keptIds(spark.table("st_lsh_sink"))
        .as[Long].collect().toSet
      assert(kept == Set(10L, 20L), s"kept $kept")
      // replayed winner re-emitted only consistent verdicts
      val v10 = spark.table("st_lsh_sink").filter($"id" === 10L)
        .select($"ok").as[Boolean].collect()
      assert(v10.nonEmpty && v10.forall(identity))
    } finally q.stop()
  }

  test("streaming LSH dedup over one ordered batch equals the batch rule") {
    import graft.streaming.StreamDedup
    import graft.ops.{Dedup, TextAnalysis}
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text").filter($"doc_id" < 120)
    val corpus = base.union(base.filter($"doc_id" % 4 === 0)
      .select(($"doc_id" + 1000000).as("doc_id"),
        expr("substring(text, instr(text, ' ') + 1)").as("text")))
    // batch statement of the rule: keep d iff d = min(id) in every
    // one of its band buckets
    val banded = corpus.select($"doc_id".as("id"),
        explode(Dedup.bandKeysPortable(
          Dedup.minhashSignaturePortable(
            Dedup.shingles(TextAnalysis.tokens($"text"), 3), 8), 4, 2))
          .as("bk"))
      .select($"id", $"bk.band", $"bk.bucket")
    val wins = banded.groupBy($"band", $"bucket")
      .agg(min($"id").as("w"))
    val batchKept = banded.join(wins, Seq("band", "bucket"))
      .groupBy($"id").agg(min(($"id" === $"w").cast("int")).as("allwin"))
      .filter($"allwin" === 1).select($"id").as[Long].collect().toSet

    val rows = corpus.as[(Long, String)].collect().toSeq
    val stream = MemoryStream[(Long, String)](spark)
    val docs = stream.toDF().toDF("doc_id", "text")
    val verdicts = StreamDedup.bandVerdicts(docs, "text", "doc_id",
      shingleSize = 3, numHashes = 8, bands = 4, portable = true)
    val q = verdicts.toDF().writeStream.format("memory")
      .queryName("st_lsh_eq_sink").outputMode("append").start()
    try {
      stream.addData(rows: _*)
      q.processAllAvailable()
      val streamKept = StreamDedup.keptIds(spark.table("st_lsh_eq_sink"))
        .as[Long].collect().toSet
      assert(streamKept == batchKept,
        s"stream ${streamKept.size} vs batch ${batchKept.size}: " +
          s"diff ${(streamKept diff batchKept) ++ (batchKept diff streamKept)}")
    } finally q.stop()
  }

  test("stream-stream interval join matches pairs within the horizon") {
    import java.sql.Timestamp
    import graft.streaming.Attribution
    // offset clear of epoch 0: the initial watermark is exactly
    // 1970-01-01T00:00, and a row AT the watermark counts as late
    def t(min: Long) = new Timestamp(86400000L + min * 60000L)
    val clicks = MemoryStream[(Long, Long, Timestamp)](spark)
    val buys = MemoryStream[(Long, Long, Timestamp)](spark)
    val joined = Attribution.intervalJoin(
      clicks.toDF().toDF("click_id", "user_id", "ct"),
      buys.toDF().toDF("buy_id", "user_id", "pt"),
      keyCol = "user_id", leftTimeCol = "ct", rightTimeCol = "pt",
      horizon = "10 minutes", watermark = "1 hour")
    val q = joined.select($"click_id", $"buy_id")
      .writeStream.format("memory").queryName("st_attr_sink")
      .outputMode("append").start()
    try {
      // user 1: click@0 → buys at +5 (match) and +20 (outside horizon);
      // a second click@15 catches the +20 buy. user 2: buy BEFORE the
      // click (never matches). user 3: click with no buy at all.
      clicks.addData((100L, 1L, t(0)), (101L, 1L, t(15)),
        (102L, 2L, t(10)), (103L, 3L, t(0)))
      buys.addData((200L, 1L, t(5)), (201L, 1L, t(20)), (202L, 2L, t(2)))
      q.processAllAvailable()
      val pairs = spark.table("st_attr_sink")
        .as[(Long, Long)].collect().toSet
      assert(pairs == Set((100L, 200L), (101L, 201L)), pairs.toString)
    } finally q.stop()
  }

  test("left-outer interval join emits unmatched clicks after the watermark closes") {
    import java.sql.Timestamp
    import graft.streaming.Attribution
    def t(min: Long) = new Timestamp(86400000L + min * 60000L)
    val clicks = MemoryStream[(Long, Long, Timestamp)](spark)
    val buys = MemoryStream[(Long, Long, Timestamp)](spark)
    val joined = Attribution.intervalJoin(
      clicks.toDF().toDF("click_id", "user_id", "ct"),
      buys.toDF().toDF("buy_id", "user_id", "pt"),
      keyCol = "user_id", leftTimeCol = "ct", rightTimeCol = "pt",
      horizon = "10 minutes", watermark = "1 hour",
      joinType = "left_outer")
    val q = joined.select($"click_id", $"buy_id")
      .writeStream.format("memory").queryName("st_attr_outer_sink")
      .outputMode("append").start()
    try {
      // user 1 converts; user 2's buy precedes the click; user 3 never
      // buys. 2 and 3 must surface as null-buy rows — but only after
      // the watermark (min across BOTH streams) passes ct + horizon.
      clicks.addData((100L, 1L, t(0)), (102L, 2L, t(10)), (103L, 3L, t(0)))
      buys.addData((200L, 1L, t(5)), (202L, 2L, t(2)))
      q.processAllAvailable()
      val matchedOnly = spark.table("st_attr_outer_sink")
        .as[(Long, Option[Long])].collect().toSet
      assert(matchedOnly == Set((100L, Some(200L))), matchedOnly.toString)
      // sentinel on both streams drags the watermark past the horizon;
      // the buy PRECEDES the click so the sentinels never match each
      // other (and the sentinel click itself stays unflushed in state)
      clicks.addData((900L, 99L, t(300)))
      buys.addData((901L, 99L, t(299)))
      q.processAllAvailable()
      val all = spark.table("st_attr_outer_sink")
        .as[(Long, Option[Long])].collect().toSet
      assert(all == Set((100L, Some(200L)), (102L, None), (103L, None)),
        all.toString)
    } finally q.stop()
  }

  test("intervalJoin rejects colliding non-key column names") {
    import java.sql.Timestamp
    val a = Seq((1L, new Timestamp(0L), "x")).toDF("k", "t1", "dup")
    val b = Seq((1L, new Timestamp(0L), "y")).toDF("k", "t2", "dup")
    val e = intercept[IllegalArgumentException] {
      graft.streaming.Attribution.intervalJoin(a, b, "k", "t1", "t2",
        "10 minutes", "1 hour")
    }
    assert(e.getMessage.contains("dup"))
  }

  test("watermark closes event-time windows in append mode") {
    import java.sql.Timestamp
    val stream = MemoryStream[(Timestamp, Double)](spark)
    val q = stream.toDF().toDF("t", "v")
      .withWatermark("t", "10 minutes")
      .groupBy(window($"t", "1 hour")).agg(sum($"v").as("s"))
      .writeStream.format("memory").queryName("wm_sink")
      .outputMode("append").start()
    try {
      def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      stream.addData((ts(1, 10), 1.0), (ts(1, 40), 2.0))
      q.processAllAvailable()
      // watermark = 01:40 - 10min = 01:30 < window end 02:00 → withheld
      assert(spark.table("wm_sink").count() == 0)
      stream.addData((ts(2, 30), 5.0))
      q.processAllAvailable()
      // watermark = 02:20 ≥ 02:00 → the 01:00 window closes and emits
      val rows = spark.table("wm_sink")
        .select(unix_timestamp($"window.start").as("w"), $"s").collect()
      assert(rows.length == 1 && rows(0).getDouble(1) == 3.0)
      // a straggler behind the watermark is dropped, not double-counted
      stream.addData((ts(1, 50), 100.0))
      q.processAllAvailable()
      assert(spark.table("wm_sink").count() == 1)
    } finally q.stop()
  }

  test("scored stream lands in parquet + formatted text blocks") {
    val dir = Files.createTempDirectory("graft-sink").toString
    val stream = MemoryStream[Transaction](spark)
    val scoredStream = Scorer.score(stream.toDF(),
      artifacts.features, artifacts.production)
    val q = Scorer.sinkWriter(scoredStream, s"$dir/parquet", s"$dir/ckpt",
      textLogPath = Some(s"$dir/log")).start()
    try {
      stream.addData(txns(10, seed = 31): _*)
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/parquet").count() == 10)
      val text = spark.read.text(s"$dir/log")
      assert(text.filter($"value".contains("Fraud Prediction:")).count() == 10)
      assert(text.filter($"value".startsWith("Amount: $")).count() == 10)
    } finally q.stop()
  }

  test("kafka endpoints carry the reference transport config to DSV2") {
    // the connector jar is not on this offline classpath, so the
    // strongest honest check: (a) the option maps are exactly the
    // reference's transport contract, (b) the endpoints wire those
    // options all the way into DataSource resolution (the failure is
    // the missing provider, not bad options or a broken plan).
    assert(WireFormat.kafkaSourceOptions("broker:9092") == Map(
      "kafka.bootstrap.servers" -> "broker:9092",
      "subscribe" -> "fraud_topic",
      "startingOffsets" -> "latest"))
    assert(WireFormat.kafkaSinkOptions("broker:9092", "fraud_topic", "/ck") == Map(
      "kafka.bootstrap.servers" -> "broker:9092",
      "topic" -> "fraud_topic",
      "checkpointLocation" -> "/ck"))
    val srcErr = intercept[Exception] {
      WireFormat.fromKafka(spark, "broker:9092")
    }
    assert(srcErr.getMessage.toLowerCase.contains("kafka"))
    val stream = MemoryStream[Transaction](spark)
    val sinkErr = intercept[Exception] {
      WireFormat.toKafka(stream.toDF(), "broker:9092", "fraud_topic",
        Files.createTempDirectory("graft-kafka-ck").toString).start()
    }
    assert(sinkErr.getMessage.toLowerCase.contains("kafka"))
  }

  test("streaming velocity: cross-batch state, tie peers, window evict") {
    import graft.streaming.StreamVelocity
    case class Ev(user: Long, ts: Long, tag: String)
    val stream = MemoryStream[(Long, Long, String)](spark)
    val qn = "vel_spec_sink"
    val q = StreamVelocity.trailingCounts(
        stream.toDF.toDF("u", "t", "et"), "u", "t", "et",
        windowMicros = 15L)
      .toDF.writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try {
      // batch 1: user 1 at t=0 and a same-instant PAIR at t=10 (both
      // peers must count each other — the RANGE-frame rule); user 2
      // isolated. Out-of-order within the batch on purpose.
      stream.addData((1L, 10L, "a"), (1L, 0L, "a"), (1L, 10L, "b"),
        (2L, 100L, "a"))
      q.processAllAvailable()
      // batch 2: t=20 — the t=0 event has left the 15µs window, the
      // two t=10 peers remain in state from batch 1
      stream.addData((1L, 20L, "a"))
      q.processAllAvailable()
      val got = spark.table(qn)
        .as[(Long, Long, String, Int, Long)].collect()
        .map(r => (r._1, r._2, r._3) -> r._4).toMap
      assert(got === Map(
        (1L, 0L, "a") -> 1,   // alone
        (1L, 10L, "a") -> 3,  // 0 in window + both peers
        (1L, 10L, "b") -> 3,  // same count for the peer
        (1L, 20L, "a") -> 3,  // 0 evicted, {10, 10, 20}
        (2L, 100L, "a") -> 1  // key isolation
      ), got.toString)
    } finally q.stop()
  }

  test("KafkaSmoke probe takes the skip path on this connector-less classpath") {
    // the probe must report absent (not throw), and the skip message
    // must name the artifact a deploy engineer needs to add — the
    // self-verifying half of the Kafka deploy story; the round-trip
    // half executes only where the provider resolves
    assert(!graft.jobs.KafkaSmoke.providerPresent(spark))
    assert(graft.jobs.KafkaSmoke.skipMessage.contains("spark-sql-kafka"))
  }

  test("streaming Holt-Winters continues the ring fold across batches " +
      "≡ batch, bit-exact") {
    import graft.streaming.StreamVelocity
    val stream = MemoryStream[(String, Long, Long)](spark)
    val df = stream.toDF().toDF("grp", "day", "cents")
    val qn = "hw_sink"
    val q = StreamVelocity.hwStates(df, "grp", "day", "cents", period = 2)
      .toDF.writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try {
      stream.addData(("g", 1L, 10L), ("g", 2L, 20L))
      q.processAllAvailable()
      stream.addData(("g", 3L, 30L)) // ring state crosses the boundary
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(qn).filter($"n" === 3L)
      .select($"l", $"b", $"sNext", $"sLast")
      .as[(Long, Long, Long, Long)].head()
    // the HoltSpec hand-computed values: the batch fold's exact state
    assert(got == ((18730000L, 2349000L, 2100000L, 3381000L)))
  }

  test("KLL quantile state survives the state-store round trip and " +
      "stays rank-exact under capacity") {
    import graft.streaming.StreamVelocity
    val stream = MemoryStream[(String, Double)](spark)
    val df = stream.toDF().toDF("grp", "v")
    val qn = "kll_state_sink"
    val q = StreamVelocity.kllQuantileStates(df, "grp", "v",
        capacity = 64, percents = Seq(50, 90))
      .toDF.writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try {
      stream.addData((1 to 10).map(i => ("g", i.toDouble)): _*)
      q.processAllAvailable()
      // the serialized compactor hierarchy crosses the store here
      stream.addData((11 to 20).map(i => ("g", i.toDouble)): _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(qn).filter($"n" === 20L)
      .select(explode($"q").as("e"))
      .select($"e.p", $"e.est").as[(Int, Double)].collect().toMap
    // n = 20 < capacity: no compaction ever fired, so the integer
    // rank rule is exact — p50 -> rank 10 -> 10.0, p90 -> rank 18
    assert(got == Map(50 -> 10.0, 90 -> 18.0), got.toString)
  }

  test("Misra-Gries state: counts continue across batches, the summary " +
      "stays <= k entries, the hot item survives") {
    import graft.streaming.StreamSketch
    val stream = MemoryStream[(String, Long)](spark)
    val df = stream.toDF().toDF("grp", "item")
    val qn = "hh_state_sink"
    val q = StreamSketch.hhStates(df, "grp", "item", k = 2)
      .toDF.writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try {
      // batch 1: item 7 hot, a distinct tail churns the counters
      stream.addData(Seq(7L, 7L, 7L, 1L, 2L).map(("g", _)): _*)
      q.processAllAvailable()
      // batch 2: more of item 7 plus more tail — the summary crossed
      // the state store between these
      stream.addData(Seq(7L, 7L, 3L, 4L).map(("g", _)): _*)
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.table(qn).filter($"n" === 9L)
      .select(explode($"hh").as("e")).select($"e.item", $"e.est")
      .as[(Long, Long)].collect().toMap
    // MG theorem at k=2, n=9: item 7 (c=5, 5*3 > 9) MUST be retained
    // with est in [5 - 9/3, 5] = [2, 5]; at most 2 entries total
    assert(last.size <= 2 && last.contains(7L), last.toString)
    assert(last(7L) >= 2L && last(7L) <= 5L, last.toString)
  }

  test("streaming chunk-pack: the shard offset crosses the batch " +
      "boundary, so a straddle spanning batches is detected") {
    import graft.streaming.StreamPack
    val stream = MemoryStream[(Long, Long)](spark)
    val df = stream.toDF().toDF("doc_id", "ntok")
    val qn = "pack_state_sink"
    val q = StreamPack.chunkPackStates(df, "doc_id", "ntok",
        capacity = 10L, nShards = 1)
      .toDF.writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try {
      stream.addData((1L, 4L), (2L, 5L)) // offset ends batch 1 at 9
      q.processAllAvailable()
      stream.addData((3L, 3L)) // spans tokens 9..11 -> straddles a cut
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.table(qn).filter($"nDocs" === 3L)
      .select($"nTokens", $"nBins", $"nStraddling", $"ooo")
      .as[(Long, Long, Long, Long)].head()
    assert(last == ((12L, 2L, 1L, 0L)), last.toString)
  }

  test("streaming next-fit: the OPEN BIN crosses the batch boundary — " +
      "a doc arriving next batch that would overflow it closes it " +
      "exactly as the batch fold (r12 mandate #6)") {
    import graft.streaming.StreamPack
    val stream = MemoryStream[(Long, Long)](spark)
    val df = stream.toDF().toDF("doc_id", "ntok")
    val qn = "nf_state_sink"
    val q = StreamPack.nextFitStates(df, "doc_id", "ntok",
        capacity = 10L, nShards = 1)
      .toDF.writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try {
      stream.addData((1L, 4L), (2L, 5L)) // open bin ends batch 1 at 9
      q.processAllAvailable()
      stream.addData((3L, 3L), (4L, 12L)) // 3 overflows -> bin 2; 12
      q.processAllAvailable()             // oversize -> bin 3 alone
      stream.addData((5L, 6L))            // 12 + 6 > 10 -> bin 4
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table(qn)
      .select($"nDocs", $"nBins", $"lastFill", $"nOversize", $"effPpm",
        $"ooo")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(rows == Set(
      (2L, 1L, 9L, 0L, 900000L, 0L),
      (4L, 3L, 12L, 1L, 24L * 1000000L / 30L, 0L),
      (5L, 4L, 6L, 1L, 30L * 1000000L / 40L, 0L)), rows.toString)
    // and the final tick equals the batch op on the union of batches
    val batch = graft.ops.Packing.nextFitStats(
      Seq((1L, 4L), (2L, 5L), (3L, 3L), (4L, 12L), (5L, 6L))
        .toDF("doc_id", "ntok"), "doc_id", "ntok", 10L, 1)
      .select($"n_docs", $"n_bins", $"last_fill", $"n_oversize",
        $"eff_ppm").as[(Long, Long, Long, Long, Long)].head()
    assert(batch == ((5L, 4L, 6L, 1L, 30L * 1000000L / 40L)),
      batch.toString)
  }

  test("streaming chunk-pack: a late smaller id counts into ooo — the " +
      "staging contract is monitored, not assumed (ADVICE r12)") {
    import graft.streaming.StreamPack
    val stream = MemoryStream[(Long, Long)](spark)
    val df = stream.toDF().toDF("doc_id", "ntok")
    val qn = "pack_ooo_sink"
    val q = StreamPack.chunkPackStates(df, "doc_id", "ntok",
        capacity = 10L, nShards = 1)
      .toDF.writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try {
      stream.addData((5L, 4L), (6L, 5L))
      q.processAllAvailable()
      // doc 2 arrives AFTER doc 6 was folded: it lands at offset 9
      // (where the batch op would have put it at 0) and ooo flags it
      stream.addData((2L, 3L))
      q.processAllAvailable()
      // a duplicate of the high-water id is also a violation
      stream.addData((6L, 2L), (9L, 1L))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table(qn).select($"nDocs", $"ooo")
      .as[(Long, Long)].collect().toMap
    assert(rows(2L) == 0L, rows.toString)
    assert(rows(3L) == 1L, rows.toString)
    assert(rows(5L) == 2L, rows.toString)
  }

  // === state eviction (r11 verdict mandate #1) ========================
  // Event-time-timeout eviction as a TESTED code path: a key idle past
  // the horizon leaves the state store (numRowsTotal observably drops)
  // and re-seeds cleanly on reappearance (count restarts at 1, ooo at
  // 0). Horizon off keeps the round-11 NoTimeout paths byte-identical —
  // every other test in this suite runs them.

  /** Latest reported state-store row count for `q`. */
  private def lastStateRows(
      q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    q.recentProgress.reverse.find(_.stateOperators.nonEmpty)
      .map(_.stateOperators(0).numRowsTotal)
      .getOrElse(sys.error("no state operator progress reported"))

  test("eviction horizon: an idle EWMA key leaves the store and " +
      "re-seeds cleanly (n and ooo restart)") {
    import graft.streaming.StreamVelocity
    val H = 2000000L // 2 s
    val stream = MemoryStream[(Long, Long, Long, Double)](spark)
    val df = stream.toDF().toDF("user", "ts", "id", "v")
    val qn = "ewma_evict_sink"
    val q = StreamVelocity.ewmaStates(df, "user", "ts", "id", "v",
        aNum = 1, aDen = 2, evictHorizonUs = H)
      .toDF.writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try {
      // b1: both keys live; user 1 hwm = 2 s
      stream.addData((1L, 2000000L, 1L, 8.0), (2L, 2000000L, 2L, 1.0))
      q.processAllAvailable()
      assert(lastStateRows(q) == 2L)
      // b2: a within-horizon LATE row for user 1 — folds as-of-arrival
      // and fires ooo (proving the counter was nonzero before eviction)
      stream.addData((1L, 1500000L, 3L, 16.0))
      q.processAllAvailable()
      // b3/b4: user 2 advances the watermark past user 1's
      // hwm + horizon (wm = 10s - 2s = 8s > 2s + 2s) -> user 1 evicts
      stream.addData((2L, 10000000L, 4L, 2.0))
      q.processAllAvailable()
      stream.addData((2L, 11000000L, 5L, 3.0))
      q.processAllAvailable()
      assert(lastStateRows(q) == 1L, "user 1 must have been evicted")
      // b5: user 1 reappears above the watermark -> fresh state
      stream.addData((1L, 12000000L, 6L, 9.0))
      q.processAllAvailable()
      assert(lastStateRows(q) == 2L)
    } finally q.stop()
    val got = spark.table(qn).filter($"user" === 1L)
      .select($"n", $"ewma", $"ooo")
      .as[(Long, Double, Long)].collect().toSet
    assert(got == Set(
      (1L, 8.0, 0L),   // b1 seed
      (2L, 12.0, 1L),  // b2 late fold: (8 + 16)/2, ooo fired
      (1L, 9.0, 0L)),  // b5 re-seed: count AND ooo restart
      got.toString)
  }

  test("eviction horizon: trailing-count window state evicts " +
      "(store shrinks) and restarts empty") {
    import graft.streaming.StreamVelocity
    val stream = MemoryStream[(Long, Long, String)](spark)
    val df = stream.toDF().toDF("user", "ts", "tag")
    val qn = "vel_evict_sink"
    val q = StreamVelocity.trailingCounts(df, "user", "ts", "tag",
        windowMicros = 1000000L, evictHorizonUs = 2000000L)
      .toDF.writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try {
      stream.addData((1L, 2000000L, "a"), (1L, 2000001L, "a"),
        (2L, 2000000L, "b"))
      q.processAllAvailable()
      assert(lastStateRows(q) == 2L)
      stream.addData((2L, 10000000L, "b"))
      q.processAllAvailable()
      stream.addData((2L, 11000000L, "b"))
      q.processAllAvailable()
      assert(lastStateRows(q) == 1L, "user 1's window vector evicted")
      stream.addData((1L, 12000000L, "a"))
      q.processAllAvailable()
    } finally q.stop()
    val u1 = spark.table(qn).filter($"user" === 1L)
      .select($"ts", $"velN").as[(Long, Int)].collect().toMap
    assert(u1 == Map(2000000L -> 1, 2000001L -> 2, 12000000L -> 1),
      u1.toString)
    // the horizon >= window precondition is loud
    intercept[IllegalArgumentException] {
      StreamVelocity.trailingCounts(df, "user", "ts", "tag",
        windowMicros = 5000000L, evictHorizonUs = 2000000L)
    }
  }

  test("eviction horizon: CUSUM and Holt states re-seed after the " +
      "horizon passes") {
    import graft.streaming.StreamVelocity
    val cs = MemoryStream[(Long, Long, Long, Double)](spark)
    val cq = StreamVelocity.cusumStates(
        cs.toDF().toDF("user", "ts", "id", "v"), "user", "ts", "id", "v",
        targetCents = 1000L, hCents = 100000L, evictHorizonUs = 2000000L)
      .toDF.writeStream.format("memory").queryName("cusum_evict_sink")
      .outputMode("append").start()
    try {
      cs.addData((1L, 2000000L, 1L, 20.0), (1L, 2000001L, 2L, 30.0))
      cq.processAllAvailable()
      cs.addData((2L, 10000000L, 3L, 10.0))
      cq.processAllAvailable()
      cs.addData((2L, 11000000L, 4L, 10.0))
      cq.processAllAvailable()
      cs.addData((1L, 12000000L, 5L, 20.0)) // re-seed
      cq.processAllAvailable()
    } finally cq.stop()
    val cGot = spark.table("cusum_evict_sink").filter($"user" === 1L)
      .select($"n", $"sp").as[(Long, Long)].collect().toSet
    // continuation would read (3, 4000): sp restarts at 1000, n at 1
    assert(cGot.contains((2L, 3000L)) && cGot.contains((1L, 1000L)) &&
      !cGot.exists(_._1 == 3L), cGot.toString)

    val hs = MemoryStream[(String, Long, Long)](spark)
    val hq = StreamVelocity.holtStates(
        hs.toDF().toDF("grp", "day", "cents"), "grp", "day", "cents",
        evictHorizonDays = 5L)
      .toDF.writeStream.format("memory").queryName("holt_evict_sink")
      .outputMode("append").start()
    try {
      // days start at 10: day 0 sits AT the initial watermark (epoch
      // 0) and the event-time late filter would drop it
      hs.addData(("a", 10L, 10L), ("a", 11L, 20L))
      hq.processAllAvailable()
      hs.addData(("b", 40L, 5L))
      hq.processAllAvailable()
      hs.addData(("b", 41L, 5L))
      hq.processAllAvailable()
      hs.addData(("a", 50L, 7L)) // re-seed: l = 7e6, b = 0, n = 1
      hq.processAllAvailable()
    } finally hq.stop()
    val hGot = spark.table("holt_evict_sink").filter($"grp" === "a")
      .select($"n", $"l", $"b").as[(Long, Long, Long)].collect().toSet
    assert(hGot.contains((2L, 13000000L, 900000L)) &&
      hGot.contains((1L, 7000000L, 0L)) && !hGot.exists(_._1 == 3L),
      hGot.toString)

    // Holt-Winters ring state: same horizon recipe, the ring resets
    val hws = MemoryStream[(String, Long, Long)](spark)
    val hwq = StreamVelocity.hwStates(
        hws.toDF().toDF("grp", "day", "cents"), "grp", "day", "cents",
        period = 2, evictHorizonDays = 5L)
      .toDF.writeStream.format("memory").queryName("hw_evict_sink")
      .outputMode("append").start()
    try {
      hws.addData(("a", 10L, 10L), ("a", 11L, 20L))
      hwq.processAllAvailable()
      hws.addData(("b", 40L, 5L))
      hwq.processAllAvailable()
      hws.addData(("b", 41L, 5L))
      hwq.processAllAvailable()
      hws.addData(("a", 50L, 7L)) // re-seed: fresh zero ring
      hwq.processAllAvailable()
    } finally hwq.stop()
    val hwGot = spark.table("hw_evict_sink").filter($"grp" === "a")
      .select($"n", $"l", $"sLast").as[(Long, Long, Long)].collect().toSet
    assert(hwGot.contains((2L, 13000000L, 2100000L)) &&
      hwGot.contains((1L, 7000000L, 0L)) && !hwGot.exists(_._1 == 3L),
      hwGot.toString)
  }

  test("eviction horizon: Holt and Holt-Winters states re-arm from the " +
      "carried high-water mark, not from a batch of older days") {
    import graft.streaming.StreamVelocity
    // horizon 5 days. Batch 1 sets a's mark at day 10 (evict after the
    // watermark passes day 15); batch 2 brings a an older, still legal
    // day 8 while b moves the watermark to day 14; batch 3 (b only)
    // moves it to day 15. Re-armed from day 8, a would evict at day 13
    // and batch 4 would re-seed it to n = 1.
    def run(name: String, start: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame): Set[Long] = {
      val in = MemoryStream[(String, Long, Long)](spark)
      val q = start(in.toDF().toDF("grp", "day", "cents"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        Seq(Seq(("a", 10L, 10L), ("b", 10L, 5L)),
            Seq(("a", 8L, 20L), ("b", 19L, 5L)),
            Seq(("b", 20L, 5L)),
            Seq(("a", 16L, 7L))).foreach { rows =>
          in.addData(rows: _*); q.processAllAvailable()
        }
      } finally q.stop()
      spark.table(name).filter($"grp" === "a").select($"n").as[Long]
        .collect().toSet
    }
    val holt = run("holt_rearm_sink", df => StreamVelocity.holtStates(
      df, "grp", "day", "cents", evictHorizonDays = 5L).toDF)
    assert(holt == Set(1L, 2L, 3L), holt.toString)
    val hw = run("hw_rearm_sink", df => StreamVelocity.hwStates(
      df, "grp", "day", "cents", period = 2, evictHorizonDays = 5L).toDF)
    assert(hw == Set(1L, 2L, 3L), hw.toString)
  }

  test("eviction horizon: an idle KLL quantile state leaves the store " +
      "and re-seeds as a FRESH sketch (r12 mandate: no exceptions " +
      "among per-entity states)") {
    import graft.streaming.StreamVelocity
    val stream = MemoryStream[(String, Double, Long)](spark)
    val df = stream.toDF().toDF("grp", "v", "ts")
    val qn = "kll_evict_sink"
    val q = StreamVelocity.kllQuantileStates(df, "grp", "v",
        capacity = 16, percents = Seq(50), tsUsCol = "ts",
        evictHorizonUs = 2000000L)
      .toDF.writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try {
      stream.addData(("a", 1.0, 2000000L), ("a", 3.0, 2000000L),
        ("b", 9.0, 2000000L))
      q.processAllAvailable()
      assert(lastStateRows(q) == 2L)
      // b advances the watermark past a's hwm + horizon -> a evicts
      stream.addData(("b", 9.0, 10000000L))
      q.processAllAvailable()
      stream.addData(("b", 9.0, 11000000L))
      q.processAllAvailable()
      assert(lastStateRows(q) == 1L, "grp a's sketch must have evicted")
      // a re-seeds: the evicted 1.0/3.0 history must NOT leak back in
      stream.addData(("a", 100.0, 12000000L))
      q.processAllAvailable()
      assert(lastStateRows(q) == 2L)
    } finally q.stop()
    val aRows = spark.table(qn).filter($"grp" === "a")
      .select($"n", explode($"q").as("e")).select($"n", $"e.est")
      .as[(Long, Double)].collect().toSet
    assert(aRows == Set((2L, 1.0), (1L, 100.0)), aRows.toString)
  }

  test("eviction horizon: an idle Misra-Gries state leaves the store " +
      "and re-seeds (n and counters restart)") {
    import graft.streaming.StreamSketch
    val stream = MemoryStream[(String, Long, Long)](spark)
    val df = stream.toDF().toDF("grp", "item", "ts")
    val qn = "hh_evict_sink"
    val q = StreamSketch.hhStates(df, "grp", "item", k = 2,
        tsUsCol = "ts", evictHorizonUs = 2000000L)
      .toDF.writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try {
      stream.addData(("a", 7L, 2000000L), ("a", 7L, 2000000L),
        ("b", 1L, 2000000L))
      q.processAllAvailable()
      assert(lastStateRows(q) == 2L)
      stream.addData(("b", 1L, 10000000L))
      q.processAllAvailable()
      stream.addData(("b", 1L, 11000000L))
      q.processAllAvailable()
      assert(lastStateRows(q) == 1L, "grp a's counters must have evicted")
      // re-seed: n restarts, item 7's old count must not survive
      stream.addData(("a", 5L, 12000000L))
      q.processAllAvailable()
      assert(lastStateRows(q) == 2L)
    } finally q.stop()
    val aRows = spark.table(qn).filter($"grp" === "a")
      .select($"n", $"hh").as[(Long, Seq[(Long, Long)])].collect().toSet
    assert(aRows == Set((2L, Seq((7L, 2L))), (1L, Seq((5L, 1L)))),
      aRows.toString)
  }

  test("eviction x reorder: a timed-out key DRAINS its held buffer " +
      "(exactly-once, event-time order) before removing, then re-seeds") {
    import graft.streaming.StreamVelocity
    val L = 2000000L  // 2 s reorder bound
    val H = 4000000L  // 4 s horizon >= max(L, window)
    val stream = MemoryStream[(Long, Long, String)](spark)
    val df = stream.toDF().toDF("user", "ts", "tag")
    val qn = "vel_drain_sink"
    val q = StreamVelocity.trailingCounts(df, "user", "ts", "tag",
        windowMicros = 1000000L, maxLateness = L, evictHorizonUs = H)
      .toDF.writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try {
      // both user-1 events sit within L of its hwm -> HELD, no output
      stream.addData((1L, 5000000L, "a"), (1L, 5500000L, "b"),
        (2L, 5000000L, "x"))
      q.processAllAvailable()
      assert(spark.table(qn).filter($"user" === 1L).count() == 0L,
        "buffered events must not emit before release")
      // user 2 advances the watermark (delay = H) past user 1's
      // hwm + H -> user 1 drains: both held events emit ONCE, ordered
      stream.addData((2L, 20000000L, "x"))
      q.processAllAvailable()
      stream.addData((2L, 21000000L, "x"))
      q.processAllAvailable()
      assert(lastStateRows(q) == 1L, "user 1 drained and removed")
      stream.addData((1L, 22000000L, "c")) // re-seed: empty window
      q.processAllAvailable()
      // the re-seeded event is itself HELD (reorder semantics); a
      // later event pushes hwm past ts + L and releases it
      stream.addData((1L, 26000000L, "d"))
      q.processAllAvailable()
    } finally q.stop()
    val u1 = spark.table(qn).filter($"user" === 1L)
      .select($"ts", $"velN", $"ooo").as[(Long, Int, Long)].collect()
      .sortBy(_._1).toSeq
    assert(u1 == Seq((5000000L, 1, 0L), (5500000L, 2, 0L),
      (22000000L, 1, 0L)), u1.toString)
    // horizon under the lateness bound is rejected loudly
    intercept[IllegalArgumentException] {
      StreamVelocity.trailingCounts(df, "user", "ts", "tag",
        windowMicros = 1000000L, maxLateness = 5000000L,
        evictHorizonUs = 2000000L)
    }
  }

  test("eviction x reorder: EWMA and CUSUM drains fold the buffer " +
      "into the final emission") {
    import graft.streaming.StreamVelocity
    val stream = MemoryStream[(Long, Long, Long, Double)](spark)
    val df = stream.toDF().toDF("user", "ts", "id", "v")
    val qn = "ewma_drain_sink"
    val q = StreamVelocity.ewmaStates(df, "user", "ts", "id", "v",
        aNum = 1, aDen = 2, maxLateness = 2000000L,
        evictHorizonUs = 4000000L)
      .toDF.writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try {
      stream.addData((1L, 5000000L, 1L, 8.0), (1L, 5500000L, 2L, 16.0),
        (2L, 5000000L, 3L, 1.0))
      q.processAllAvailable()
      stream.addData((2L, 20000000L, 4L, 2.0))
      q.processAllAvailable()
      stream.addData((2L, 21000000L, 5L, 3.0))
      q.processAllAvailable()
      stream.addData((1L, 22000000L, 6L, 9.0)) // re-seed (held)
      q.processAllAvailable()
      stream.addData((1L, 26000000L, 7L, 11.0)) // releases the 9.0
      q.processAllAvailable()
    } finally q.stop()
    val u1 = spark.table(qn).filter($"user" === 1L)
      .select($"n", $"ewma").as[(Long, Double)].collect().toSet
    // drain: seed 8.0 then (8 + 16)/2 = 12.0 at n = 2; re-seed 9.0
    assert(u1 == Set((2L, 12.0), (1L, 9.0)), u1.toString)
  }

  test("bucket eviction: an expired LSH bucket is reclaimed by the " +
      "next arrival, then defends its new claim") {
    import graft.streaming.StreamDedup
    val stream = MemoryStream[(Long, String, Long)](spark)
    val df = stream.toDF().toDF("id", "text", "ts")
    val qn = "dedup_evict_sink"
    val textX = "alpha beta gamma delta epsilon zeta"
    val q = StreamDedup.bandVerdicts(df, "text", "id",
        tsCol = "ts", evictHorizonUs = 2000000L)
      .toDF.writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try {
      stream.addData((1L, textX, 2000000L))
      q.processAllAvailable()
      assert(lastStateRows(q) > 0L)
      // advance the watermark far past id 1's buckets + horizon with
      // an unrelated doc, then once more so the timeouts fire
      stream.addData((2L, "one two three four five six", 10000000L))
      q.processAllAvailable()
      stream.addData((2L, "one two three four five six", 11000000L))
      q.processAllAvailable()
      // id 3 re-claims textX's (expired) buckets; id 4 then loses to 3
      stream.addData((3L, textX, 12000000L))
      q.processAllAvailable()
      stream.addData((4L, textX, 12500000L))
      q.processAllAvailable()
    } finally q.stop()
    val verdict = spark.table(qn).groupBy($"id")
      .agg(min($"ok").as("kept")).as[(Long, Boolean)].collect().toMap
    // without eviction id 3 would lose every bucket to id 1
    assert(verdict(3L), s"id 3 must reclaim the expired buckets: $verdict")
    assert(!verdict(4L), s"id 4 must lose to id 3's fresh claim: $verdict")
    assert(verdict(1L) && verdict(2L), verdict.toString)
  }

  test("LSH dedup drops a null-id row and, under eviction, a null-ts " +
      "row instead of failing the query") {
    import graft.streaming.StreamDedup
    val textA = "alpha beta gamma delta epsilon zeta"
    val textB = "one two three four five six"
    Seq(2000000L, 0L).foreach { horizon =>
      val stream = MemoryStream[(Option[Long], String, Option[Long])](spark)
      val df = stream.toDF().toDF("id", "text", "ts")
      val qn = s"dedup_null_sink_$horizon"
      val q = StreamDedup.bandVerdicts(df, "text", "id", tsCol = "ts",
          evictHorizonUs = horizon)
        .toDF.writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      try {
        stream.addData((None, textA, Some(1000000L)),
          (Some(1L), textA, Some(1000000L)), (Some(2L), textB, None),
          (Some(3L), textB, Some(1500000L)))
        q.processAllAvailable()
        assert(q.exception.isEmpty && q.isActive)
      } finally q.stop()
      val ids = spark.table(qn).select($"id").as[Long].collect().toSet
      // with the horizon off the clock is not read, so id 2 claims too
      val want = if (horizon > 0L) Set(1L, 3L) else Set(1L, 2L, 3L)
      assert(ids == want, s"horizon $horizon: $ids")
    }
  }
}
