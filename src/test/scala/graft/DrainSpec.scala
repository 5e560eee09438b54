package graft

import java.util.concurrent.{CyclicBarrier, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ops.Layout
import graft.queries.Tables

/** The child-session drain ([[Tables.isolated]] / [[Tables.drain]]):
  * concurrent drains under one sink name, the caller's conf left as it
  * was (also when the stream closure throws), runtime-set graft keys
  * reaching the child, the sink kept out of the caller's catalog, and
  * two registry stream queries run concurrently. A source scan keeps
  * the drain and conf decisions in `Tables`.
  */
class DrainSpec extends SparkSpec {
  private val parts = "spark.sql.shuffle.partitions"

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private def twice[A](a: => A, b: => A): (A, A) = {
    val fa = Future(a)
    val fb = Future(b)
    (Await.result(fa, Duration(5, TimeUnit.MINUTES)),
      Await.result(fb, Duration(5, TimeUnit.MINUTES)))
  }

  /** A staged single-file `events.parquet` with the columns st01 and
    * st07 read: ids, 40 users, a click/view/purchase mix, and event
    * times 7 s apart, so clicks and purchases meet within st07's
    * 10-minute horizon.
    */
  private lazy val eventsDir: String = {
    val dir = Tables.stageDir(spark, "drain_spec_events")
    val ev = spark.range(3000).select(
      col("id").as("event_id"),
      (col("id") % 40).as("user_id"),
      timestamp_micros(lit(1700000000000000L) + col("id") * 7000000L)
        .as("ts"),
      element_at(array(lit("click"), lit("view"), lit("purchase")),
        (pmod(xxhash64(col("id")), lit(3L)) + 1).cast("int"))
        .as("event_type"))
    Tables.stageOne(dir, ev, "events", System.currentTimeMillis())
    dir
  }

  private def counts(c: org.apache.spark.sql.SparkSession): DataFrame =
    c.readStream.schema(c.read.parquet(s"$eventsDir/events.parquet").schema)
      .option("pathGlobFilter", "events.parquet").parquet(eventsDir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))

  test("concurrent drains under one sink name each equal the batch groupBy") {
    val batch = sorted(spark.read.parquet(s"$eventsDir/events.parquet")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n")))
    val before = spark.conf.getAll
    val barrier = new CyclicBarrier(2)
    def run(n: String) = sorted(
      Tables.drain(spark, "drain_spec_sink", "complete", parts -> n) { c =>
        assert(c.conf.get(parts) == n)
        // both children are live before either query starts
        barrier.await(2, TimeUnit.MINUTES)
        counts(c)
      })
    val (one, three) = twice(run("1"), run("3"))
    assert(one == batch)
    assert(three == batch)
    assert(spark.conf.getAll == before)
  }

  test("the caller's conf is unchanged, also when the stream closure throws") {
    val before = spark.conf.getAll
    Tables.drain(spark, "drain_spec_ok", "complete", parts -> "1",
      "spark.sql.adaptive.enabled" -> "false")(counts).collect()
    assert(spark.conf.getAll == before)
    val e = intercept[IllegalStateException] {
      Tables.drain(spark, "drain_spec_throw", "complete", parts -> "1",
        Layout.CollectBudgetKey -> "7") { _ =>
        throw new IllegalStateException("stream build failed")
      }
    }
    assert(e.getMessage == "stream build failed")
    assert(spark.conf.getAll == before)
  }

  test("runtime-set graft keys are visible inside the child session") {
    val keys = Seq("spark.graft.stageDir" -> "drain-spec-stage",
      Layout.CollectBudgetKey -> "1")
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val seen = Tables.isolated(spark) { c =>
        assert(!(c eq spark))
        keys.map { case (k, _) => k -> c.conf.getOption(k) }
      }
      assert(seen == keys.map { case (k, v) => k -> Some(v) })
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("an override goes back to the caller's value once the body returns") {
    val caller = spark.conf.get(parts)
    val (inside, child) = Tables.isolated(spark, parts -> "1",
      Layout.CollectBudgetKey -> "9") { c => (c.conf.get(parts), c) }
    assert(inside == "1")
    assert(child.conf.get(parts) == caller)
    assert(child.conf.getOption(Layout.CollectBudgetKey) ==
      spark.conf.getOption(Layout.CollectBudgetKey))
  }

  test("the sink table lives in the child, never the caller's catalog") {
    val out = Tables.drain(spark, "drain_spec_private", "complete")(counts)
    assert(out.count() == 40)
    assert(!spark.catalog.tableExists("drain_spec_private"))
    assert(out.sparkSession.catalog.tableExists("drain_spec_private"))
  }

  test("st01 and st07 run concurrently equal their sequential runs") {
    val q = SparkEntry.queries
    def st01 = q("st01_stream_counters")(spark, eventsDir).collect().toSeq
    def st07 = q("st07_stream_stream_join")(spark, eventsDir).collect().toSeq
    val prev = spark.conf.get(parts)
    spark.conf.set(parts, "5")
    try {
      val (seq01, seq07) = (st01, st07)
      assert(seq01.map(_.getLong(1)).sum == 3000L)
      assert(seq07.nonEmpty)
      val (con01, con07) = twice(st01, st07)
      assert(con01 == seq01)
      assert(con07 == seq07)
      assert(spark.conf.get(parts) == "5")
    } finally spark.conf.set(parts, prev)
  }

  test("queries keep drain and conf decisions in Tables (source scan)") {
    val dir = new java.io.File("src/main/scala/graft/queries")
    val files = dir.listFiles().filter(_.getName.endsWith(".scala"))
      .filterNot(_.getName == "Tables.scala")
    assert(files.length > 10, s"no query sources under $dir")
    val key = "^\\s*\"(\\w+)\" -> \\(\\(".r
    // (file, enclosing registry entry, line) for every line containing
    // `needle`
    def hits(needle: String): Seq[(String, String, String)] =
      files.toSeq.flatMap { f =>
        val lines = scala.io.Source.fromFile(f, "UTF-8").getLines().toVector
        var entry = ""
        lines.flatMap { l =>
          key.findFirstMatchIn(l).foreach(m => entry = m.group(1))
          if (l.contains(needle)) Some((f.getName, entry, l.trim)) else None
        }
      }
    val confSets = hits("conf.set(").filterNot { case (f, _, l) =>
      f == "SourceQueries.scala" && l == "s.conf.set(stampKey, d)"
    }
    assert(confSets.isEmpty, s"conf.set outside Tables: $confSets")
    val drainers = Set("st08_stream_outer_join", "st20_stream_eval_metrics")
    for (needle <- Seq("processAllAvailable", "format(\"memory\")")) {
      val stray = hits(needle).filterNot { case (_, e, _) => drainers(e) }
      assert(stray.isEmpty, s"$needle outside Tables.drain: $stray")
    }
  }
}
