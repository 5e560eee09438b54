package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gen.TransactionGen
import graft.streaming.WireFormat

/** Everything the program under test reads, made from the seed. */
object Inputs {

  /** One line in `corruptEvery` is a truncated JSON document: the
    * dead-letter path must drop it and the scorer must never see it.
    */
  val corruptEvery = 97

  /** `n` wire-format lines for `seed`, in arrival order, with the
    * corrupt share mixed in at seeded positions.
    */
  def wireLines(spark: SparkSession, n: Int, seed: Long): Array[String] = {
    val lines = WireFormat.encodeFrame(
      TransactionGen.batch(spark, n.toLong, seed = seed,
        baseEpoch = 1735689600L + seed % 100000L * 2L))
      .collect().map(_.getString(0))
    val rnd = new scala.util.Random(seed)
    val bad = lines.indices.grouped(corruptEvery).map(g => g(rnd.nextInt(g.size))).toSet
    lines.indices.map(i => if (bad(i)) lines(i).take(lines(i).length / 2) else lines(i)).toArray
  }

  def isCorrupt(line: String): Boolean = !line.endsWith("}")

  /** Write `lines` as one wire file, atomically: the file source never
    * lists a half-written file because it ignores `_`-prefixed names
    * until the rename.
    */
  def dropFile(dir: File, name: String, lines: Seq[String]): Unit = {
    val tmp = new File(dir, s"_$name")
    Files.write(tmp.toPath, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp.toPath, new File(dir, name).toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Stage `lines` as `<src>/wire/part-NNNNN.json`, `perFile` lines
    * each; returns the number of files. Names sort in arrival order and
    * modification times ascend, so the file source reads in that order.
    */
  def stage(src: File, lines: Array[String], perFile: Int, first: Int = 0): Int = {
    val wire = new File(src, "wire"); wire.mkdirs()
    val groups = lines.grouped(perFile).toSeq
    groups.zipWithIndex.foreach { case (g, k) => dropFile(wire, f"part-${first + k}%06d.json", g.toSeq) }
    groups.size
  }

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }

  // ---------------- the analyst-side tables ----------------

  /** The `events` and `lineitem` tables the query mix reads, in the
    * shape of the repository's test corpus (same columns, types and value
    * domains) at `scale` × 10,000 events; `lineitem` is smaller than the
    * corpus's ratio so a mix pass stays within a few seconds. The content
    * is fixed: the expected row counts and hashes in `expected_mix.tsv`
    * were recorded from it.
    */
  def writeTables(spark: SparkSession, dir: String, scale: Int,
                  only: Set[String] = Set("events", "lineitem")): Unit = {
    val seed = 20240101L
    def u(k: Int) = rand(seed + k)
    def pick(vs: Seq[String], k: Int) =
      element_at(array(vs.map(lit): _*), (floor(u(k) * vs.size) + 1).cast("int"))
    val nEvents = 10000L * scale
    val nLines = 10000L * scale
    val nUsers = 150L * scale
    val parts = 2
    // one file per table, named like the test corpus: queries that
    // stream a table select it with a file-name glob
    def single(name: String)(df: DataFrame): Unit =
      graft.queries.Tables.stageOne(dir, df, name, 1704067200000L)
    def day(from: String, offset: org.apache.spark.sql.Column) =
      date_add(lit(from).cast("date"), offset.cast("int")).cast("timestamp_ntz")
    if (only("events")) single("events")(spark.range(0, nEvents, 1, parts).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + (u(1) * 30 * 86400 * 1e6).cast("long"))
        .cast("timestamp_ntz").as("ts"),
      (floor(u(2) * nUsers)).cast("long").as("user_id"),
      pick(Seq("click", "view", "purchase", "signup", "error"), 3).as("event_type"),
      round(u(4) * 490 + 0.01, 2).as("value"),
      concat(lit("{\"k\": "), floor(u(5) * 100).cast("int").cast("string"), lit("}")).as("props")))
    if (only("lineitem")) single("lineitem")(spark.range(0, nLines, 1, parts).select(
      floor(u(21) * nLines / 4).cast("long").as("l_orderkey"),
      floor(u(22) * 2000 * scale).cast("long").as("l_partkey"),
      floor(u(23) * 100 * scale).cast("long").as("l_suppkey"),
      (floor(u(24) * 7) + 1).cast("int").as("l_linenumber"),
      (floor(u(25) * 50) + 1).cast("double").as("l_quantity"),
      round(u(26) * 104000 + 900, 2).as("l_extendedprice"),
      (floor(u(27) * 11) / 100).as("l_discount"),
      (floor(u(28) * 9) / 100).as("l_tax"),
      pick(Seq("A", "N", "R"), 29).as("l_returnflag"),
      pick(Seq("O", "F"), 30).as("l_linestatus"),
      day("1995-01-02", floor(u(31) * 2500)).as("l_shipdate")))
  }
}
