package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.gen.TransactionGen
import graft.ml.TrainingJob
import graft.ops.{Aggregates, Cleaning, LogGrammar}
import graft.schema.Transactions
import graft.streaming.{Scorer, WireFormat}

/** Runnable entry points mirroring the reference's processes — a user of
  * the reference maps each script onto one main:
  *
  *   `python model.py`     → `graft.jobs.TrainMain <csv|gen:N> <modelDir>`
  *   `python producer.py`  → `graft.jobs.ProduceMain <outDir|kafka:host:topic> [rate] [seconds]`
  *   `python consumer.py`  → `graft.jobs.ScoreMain <srcDir|kafka:host:topic> <modelDir> <sinkDir>`
  *   `python dashboard.py` → `graft.jobs.MetricsMain <sinkDir>` (read path)
  *
  * File-based source/sink works out of the box (and is what tests/CI
  * drive); `kafka:` endpoints need the spark-sql-kafka connector on the
  * deploy classpath.
  */
object Jobs {
  /** Paths a scan lists on the driver before it lists them with a Spark
    * job instead. A streaming file source hands each batch its new files
    * as explicit paths; at Spark's default of 32, a restart over a
    * 50-file backlog launched a 50-task listing job (about 1 s of
    * getBatch, on the task slots the scoring needs) to stat 50 local
    * files.
    */
  private val ListOnDriverPaths = 4096

  /** The one session builder for every main — the serving jobs, Verify,
    * Bench, Explain, the probes and ScaleUp — so the suite and the
    * oracle check the program configured exactly as it serves.
    * `SPARK_GRAFT_CPUS` (default 4) sets the local thread count and the
    * shuffle partitions; `SPARK_GRAFT_MASTER` overrides the master.
    */
  def session(app: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet has carried TIMESTAMP(NANOS), which Spark rejects
      // by default; read it as epoch-nanos long (queries convert)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // fall back to per-operator execution (compiled expressions,
      // JIT-able) for stages whose fused processNext would exceed
      // HotSpot's 8000-byte JIT ceiling and run interpreted (~50x slower)
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      // the cartesian interlock plans every query: an unhinted cross
      // join fails at plan time instead of surviving local mode and
      // dying on a cluster
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config(graft.plans.CartesianGuard.ConfKey, "true")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        ListOnDriverPaths.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Batch training (`FD/model.py`): CSV (S5) or generated input →
  * preprocess → balance → 3 models → metrics + persisted artifacts.
  */
object TrainMain {
  def main(args: Array[String]): Unit = {
    val Array(input, modelDir) = args.take(2)
    val spark = Jobs.session("graft-train")
    val raw: DataFrame =
      if (input.startsWith("gen:"))
        TransactionGen.batch(spark, input.stripPrefix("gen:").toLong)
      else
        spark.read.option("header", "true")
          .schema(Transactions.wireSchema).csv(input)
    val fast = args.length > 2 && args(2) == "--fast"
    val artifacts = TrainingJob.run(raw, Some(modelDir), fast = fast)
    artifacts.metrics.show(truncate = false)
    spark.stop()
  }
}

/** Producer (`FD/producer.py`): rate-source transaction stream → JSON
  * wire format → file dir (or Kafka). Positional `[rate] [seconds]`:
  * emits `rate` rows per second (default 1) for `seconds` (default 10),
  * then stops.
  */
object ProduceMain {
  def main(args: Array[String]): Unit = {
    val out = args(0)
    val rate = if (args.length > 1) args(1).toInt else 1
    val seconds = if (args.length > 2) args(2).toLong else 10L
    val spark = Jobs.session("graft-produce")
    val txns = TransactionGen.stream(spark, rowsPerSecond = rate)
    val writer =
      if (out.startsWith("kafka:")) {
        val Array(_, host, topic) = out.split(":", 3)
        WireFormat.toKafka(txns, host, topic,
          graft.queries.Tables.stageDir(spark, "produce-ckpt"))
      } else
        WireFormat.encodeFrame(txns).writeStream.format("text")
          .option("path", s"$out/wire")
          .option("checkpointLocation", s"$out/ckpt")
          .trigger(Trigger.ProcessingTime("2 seconds"))
    val q = writer.start()
    q.awaitTermination(seconds * 1000)
    q.stop()
    spark.stop()
  }
}

/** Consumer (`FD/consumer.py`): wire stream → decode → score with the
  * persisted model → parquet + counter-snapshot sinks. Processes
  * everything currently available, then stops (streaming-with-finite-
  * input; pass `--follow S` to keep tailing for S seconds).
  */
object ScoreMain {
  def main(args: Array[String]): Unit = {
    val spark = Jobs.session("graft-score")
    try run(spark, args) finally spark.stop()
  }

  /** The consumer on a given session: `main` without the session's
    * build and stop.
    */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val Array(src, modelDir, sinkDir) = args.take(3)
    val (features, model) = TrainingJob.load(spark, modelDir)
    val wire =
      if (src.startsWith("kafka:")) {
        val Array(_, host, topic) = src.split(":", 3)
        WireFormat.fromKafka(spark, host, topic)
      } else
        WireFormat.decodeFrame(
          spark.readStream.text(s"$src/wire").withColumnRenamed("value", "v"),
          "v")
    // drop undecodable messages before scoring (decodeFrame's contract:
    // corrupt JSON → all-null row, filtered by the caller) — the
    // reference consumer logs-and-continues; scoring an all-null row
    // would instead throw or pollute the counters
    val scored = Scorer.score(WireFormat.valid(wire), features, model)
    val q1 = Scorer.sinkWriter(scored, s"$sinkDir/scored",
      s"$sinkDir/ckpt-scored").start()
    val q2 = Scorer.counterWriter(scored, s"$sinkDir/counts_log",
      s"$sinkDir/ckpt-counts").start()
    val follow = args.indexOf("--follow") match {
      case i if i >= 0 && args.length > i + 1 => args(i + 1).toLong
      case _ => 0L
    }
    try {
      q1.processAllAvailable(); q2.processAllAvailable()
      if (follow > 0) { Thread.sleep(follow * 1000)
        q1.processAllAvailable(); q2.processAllAvailable() }
    } finally { q1.stop(); q2.stop() }
  }
}

/** Dashboard read path (`FD/dashboard.py` + `evaluation.py`): live
  * metrics + fraud patterns + latest counters + the newest sink rows as
  * consumer-log blocks, computed from the structured sink.
  */
object MetricsMain {
  def main(args: Array[String]): Unit = {
    val spark = Jobs.session("graft-metrics")
    try run(spark, args(0)) finally spark.stop()
  }

  /** `main` on a given session. */
  def run(spark: SparkSession, sinkDir: String): Unit = {
    val sink = spark.read.parquet(s"$sinkDir/scored")
    val scored = sink
      .withColumn("label", col("Is_Fraud").cast("int"))
      .withColumn("pred", col("prediction").cast("int"))

    println("== live metrics ==")
    scored.agg(
      count(lit(1)).as("total_transactions"),
      sum(col("label")).as("actual_fraud_total"),
      sum(col("pred")).as("predicted_fraud_total"),
      avg(col("fraud_probability")).as("avg_probability"),
      (avg((col("label") === col("pred")).cast("double")) * 100)
        .as("accuracy")).show(truncate = false)

    println("== fraud patterns ==")
    val fraud = Cleaning.filterFraud(scored, "label")
    Aggregates.modePerGroup(
      fraud.withColumn("g", lit(1)), "g", "Transaction_Location")
      .select(col("mode_value").as("common_fraud_location")).show()
    fraud.agg(avg("Transaction_Amount").as("avg_fraud_amount")).show()

    println("== latest counters ==")
    Scorer.lastCounts(spark, s"$sinkDir/counts_log").show()

    println("== last 10 log blocks ==")
    Cleaning.validBlocks(Scorer.newestBlocks(sink, 10))
      .select(LogGrammar.parseBlock(col("block")).getItem("transaction_id")
        .as("txn"))
      .show()
  }
}
