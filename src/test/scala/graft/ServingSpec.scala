package graft

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.gen.TransactionGen
import graft.jobs.{MetricsMain, ScoreMain}
import graft.ml.TrainingJob
import graft.ops.LogGrammar
import graft.streaming.{Scorer, WireFormat}

/** The serving path as `ScoreMain` wires it: the parquet sink and the
  * per-batch counter snapshots, their replay after a crash between the
  * write and the commit, the driver-side counter read, and the
  * consumer-log tail rendered from the sink when it is read.
  */
class ServingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val modelDir: String = {
    val dir = Files.createTempDirectory("graft-serving-model").toString
    TrainingJob.run(TransactionGen.batch(spark, 1500, seed = 42),
      Some(dir), fast = true)
    dir
  }
  private lazy val (features, model) = TrainingJob.load(spark, modelDir)

  private val dropCols = Seq("features", "features_raw", "rawPrediction",
    "probability")

  /** `n` wire lines of generated transactions, ids prefixed by `tag`. */
  private def wireLines(n: Int, seed: Long, tag: String): Seq[String] =
    WireFormat.encodeFrame(TransactionGen.batch(spark, n, seed = seed)
        .withColumn("Transaction_ID", concat(lit(tag), col("Transaction_ID"))))
      .as[String].collect().toSeq

  /** One wire file, renamed into place so the file source never lists
    * it half written.
    */
  private def dropWire(src: String, name: String, lines: Seq[String]): Unit = {
    val wire = Paths.get(src, "wire"); Files.createDirectories(wire)
    val tmp = wire.resolve(s"_$name")
    Files.write(tmp, lines.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, wire.resolve(name))
  }

  /** Label counts of the batch scorer over every line: the twin the
    * streamed counters must equal.
    */
  private def twinCounts(lines: Seq[String]): Map[String, Long] = {
    val decoded = WireFormat.valid(WireFormat.decodeFrame(lines.toDF("value")))
    Scorer.score(decoded, features, model).groupBy("prediction_label").count()
      .as[(String, Long)].collect().map {
        case ("FRAUD", n) => "Fraud Count" -> n
        case (_, n) => "Non-Fraud Count" -> n
      }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  private def lastCounts(dir: String): Map[String, Long] =
    Scorer.lastCounts(spark, dir).as[(String, Long)].collect().toMap

  private def snapshotNames(dir: String): Seq[String] =
    Option(new File(dir).list()).toSeq.flatten.filter(_.startsWith("part-"))
      .sorted

  test("lastCounts reads only the newest snapshot, on the driver") {
    val dir = Files.createTempDirectory("graft-counts").toString
    def put(name: String, text: String): Unit =
      Files.write(Paths.get(dir, name), text.getBytes(StandardCharsets.UTF_8))
    assert(Scorer.lastCounts(spark, dir).collect().isEmpty)
    put("part-00001.txt", "Fraud Count: 1\nNon-Fraud Count: 10\n")
    put("part-00000000000000000003.txt",
      "Fraud Count: 3\nNon-Fraud Count: torn\n Non-Fraud Count : 30\nnoise\n")
    put(".part-00000000000000000009.txt.tmp", "Fraud Count: 99\n")
    put("_SUCCESS", "")
    val group = "graft-lastcounts"
    spark.sparkContext.setJobGroup(group, "driver-side counter read")
    val got = try Scorer.lastCounts(spark, dir).collect()
      finally spark.sparkContext.clearJobGroup()
    assert(got.map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("Fraud Count" -> 3L, "Non-Fraud Count" -> 30L))
    assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group).isEmpty)
    assert(Scorer.lastCounts(spark, dir).schema.map(f => (f.name, f.dataType.sql)) ==
      Seq("key" -> "STRING", "last_value" -> "BIGINT"))
  }

  test("counter snapshots add to the newest one below the batch id, keep " +
      "two, and a replay rewrites identical bytes") {
    val dir = Files.createTempDirectory("graft-snapshots").toString
    def batch(labels: String*): DataFrame = labels.toDF("prediction_label")
    def bytes(id: Long) =
      Files.readAllBytes(Paths.get(dir, f"part-$id%020d.txt")).toSeq
    // left by an abandoned checkpoint: the next write drops it
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, f"part-${7L}%020d.txt"),
      "Fraud Count: 70\n".getBytes(StandardCharsets.UTF_8))
    Scorer.writeCountsBatch(batch("FRAUD", "VALID", "VALID"), 0L, dir)
    assert(snapshotNames(dir) == Seq(f"part-${0L}%020d.txt"))
    Scorer.writeCountsBatch(batch("VALID"), 1L, dir)
    Scorer.writeCountsBatch(batch(), 2L, dir)
    Scorer.writeCountsBatch(batch("FRAUD", "FRAUD"), 3L, dir)
    assert(snapshotNames(dir) == Seq(2L, 3L).map(i => f"part-$i%020d.txt"))
    assert(new String(bytes(3L).toArray, StandardCharsets.UTF_8) ==
      "Fraud Count: 3\nNon-Fraud Count: 3\n")
    val before = bytes(3L)
    Scorer.writeCountsBatch(batch("FRAUD", "FRAUD"), 3L, dir)
    assert(bytes(3L) == before)
    assert(lastCounts(dir) == Map("Fraud Count" -> 3L, "Non-Fraud Count" -> 3L))
  }

  test("a crash between the write and the commit replays both serving " +
      "sinks exactly once") {
    val dir = Files.createTempDirectory("graft-replay").toString
    val src = s"$dir/src"; val counts = s"$dir/counts_log"
    val batches = Seq(wireLines(30, 51, "A") :+ "not json at all",
      wireLines(25, 52, "B"), wireLines(20, 53, "C") :+ """{"broken": """)
    def start() = {
      val wire = WireFormat.decodeFrame(spark.readStream.text(s"$src/wire"))
      val scored = Scorer.score(WireFormat.valid(wire), features, model)
      (Scorer.sinkWriter(scored, s"$dir/scored", s"$dir/ckpt-scored").start(),
        Scorer.counterWriter(scored, counts, s"$dir/ckpt-counts").start())
    }
    Files.createDirectories(Paths.get(src, "wire"))
    val (s1, c1) = start()
    try batches.zipWithIndex.foreach { case (lines, i) =>
      dropWire(src, f"part-$i%06d.json", lines)
      s1.processAllAvailable(); c1.processAllAvailable()
    } finally { s1.stop(); c1.stop() }
    // the window after the data write and before the commit: the last
    // batch is in the offset log, its output written, its commit lost
    Seq("ckpt-scored", "ckpt-counts").foreach { c =>
      val last = new File(s"$dir/$c/commits").list().filter(_.forall(_.isDigit))
        .map(_.toLong).max
      assert(last == 2L)
      Files.delete(Paths.get(dir, c, "commits", last.toString))
      Files.deleteIfExists(Paths.get(dir, c, "commits", s".$last.crc"))
    }
    val (s2, c2) = start()
    try { s2.processAllAvailable(); c2.processAllAvailable() }
    finally { s2.stop(); c2.stop() }
    assert(s2.recentProgress.exists(_.batchId == 2L) &&
      c2.recentProgress.exists(_.batchId == 2L), "batch 2 was not replayed")

    val all = batches.flatten
    assert(lastCounts(counts) == twinCounts(all))
    val ids = spark.read.parquet(s"$dir/scored").select("Transaction_ID")
      .as[String].collect()
    assert(ids.length == 75 && ids.distinct.length == 75)
    assert(snapshotNames(counts).size <= 2, snapshotNames(counts).toString)
  }

  test("ScoreMain serves staged wire files with corrupt lines; MetricsMain " +
      "reads its sink without a consumer log") {
    val dir = Files.createTempDirectory("graft-scoremain").toString
    val src = s"$dir/src"; val sink = s"$dir/sink"
    val first = wireLines(40, 61, "P") ++ Seq("not json at all", """{"x": """)
    val second = """{"broken": """ +: wireLines(35, 62, "Q")
    dropWire(src, "part-000000.json", first)
    dropWire(src, "part-000001.json", second)
    ScoreMain.run(spark, Array(src, modelDir, sink))

    val valid = WireFormat.valid(WireFormat.decodeFrame((first ++ second).toDF("value")))
    val rows = spark.read.parquet(s"$sink/scored")
    assert(rows.count() == 75)
    assert(rows.select("Transaction_ID").as[String].collect().sorted.toSeq ==
      valid.select("Transaction_ID").as[String].collect().sorted.toSeq)
    assert(lastCounts(s"$sink/counts_log") == twinCounts(first ++ second))
    assert(snapshotNames(s"$sink/counts_log").nonEmpty)
    assert(!new File(s"$sink/consumer_log").exists)

    val out = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(out, true, "UTF-8")) {
      MetricsMain.run(spark, sink)
    }
    val printed = out.toString("UTF-8")
    assert(printed.contains("== last 10 log blocks =="), printed)
    val newest = rows.filter(col("batch_id") === rows.agg(max("batch_id")).first().get(0))
      .select("Transaction_ID").as[String].collect()
    assert(newest.exists(printed.contains), printed)
  }

  test("the consumer-log tail rendered from the sink parses back to the " +
      "newest sink rows") {
    val dir = Files.createTempDirectory("graft-blocks").toString
    def scored(n: Int, seed: Long, tag: String) = Scorer.score(
      TransactionGen.batch(spark, n, seed = seed)
        .withColumn("Transaction_ID", concat(lit(tag), col("Transaction_ID"))),
      features, model)
    Scorer.writeSinkBatch(scored(6, 71, "O"), 0L, s"$dir/scored", None, dropCols)
    Scorer.writeSinkBatch(scored(8, 72, "N"), 1L, s"$dir/scored", None, dropCols)
    val sink = spark.read.parquet(s"$dir/scored")
    val ids = sink.select("Transaction_ID").as[String].collect().toSet
    val newest = sink.filter(col("batch_id") === 1)
      .select("Transaction_ID").as[String].collect().toSet
    val parsed = Scorer.newestBlocks(sink, 10)
      .select(LogGrammar.parseBlock(col("block")).getItem("transaction_id"))
      .as[String].collect()
    assert(parsed.length == 10 && parsed.distinct.length == 10)
    assert(newest.subsetOf(parsed.toSet) && parsed.toSet.subsetOf(ids))
  }
}
