package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.ops.{Cached, Dedup, Graph, Layout}

/** The driver gate ([[Layout.gate]]): one case per branch of the
  * decision — fits, type refusal, null row, local decline, refused
  * collect — plus the caller's own cache surviving every branch, and
  * null endpoints declining the local path end to end.
  */
class DriverGateSpec extends SparkSpec {
  import spark.implicits._

  private def edges: DataFrame = Seq((1L, 2L), (2L, 3L)).toDF("u", "v")

  private def uv(df: DataFrame): DataFrame = df.select($"u", $"v")

  private def nothingCached(): Boolean =
    spark.sharedState.cacheManager.isEmpty

  private def withBudget[A](bytes: String)(body: => A): A = {
    val prev = spark.conf.getOption(Layout.CollectBudgetKey)
    spark.conf.set(Layout.CollectBudgetKey, bytes)
    try body
    finally prev.fold(spark.conf.unset(Layout.CollectBudgetKey))(
      spark.conf.set(Layout.CollectBudgetKey, _))
  }

  /** Run `body` under its own job group; returns its value and the
    * number of Spark jobs it launched.
    */
  private def jobsOf[A](group: String)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try {
      val out = body
      (out, sc.statusTracker.getJobIdsForGroup(group).length)
    } finally sc.clearJobGroup()
  }

  test("gate: a bounded frame runs the local continuation, nothing " +
      "left cached") {
    spark.catalog.clearCache()
    val (out, jobs) = jobsOf("gate-fits") {
      Layout.gate(uv(edges))(rows => Some(rows.map(_.getLong(1)).sum))(
        _ => fail("distributed must not run"))
    }
    assert(out === 5L)
    assert(jobs > 0, "the count and collect jobs are seen")
    assert(nothingCached())
  }

  test("gate: a refused column type hands over the unpinned frame " +
      "without running a job") {
    spark.catalog.clearCache()
    val ints = Seq((1, 2), (2, 3)).toDF("u", "v")
    val (src, jobs) = jobsOf("gate-type") {
      Layout.gate[DataFrame](ints)(_ => fail("local must not run"))(
        identity)
    }
    assert(src eq ints)
    assert(jobs === 0)
    assert(src.storageLevel === StorageLevel.NONE)
    assert(nothingCached())
  }

  test("gate: a null row hands over the unpinned frame") {
    spark.catalog.clearCache()
    val withNull = Seq((1L, Some(2L)), (2L, None)).toDF("u", "v")
    val src = Layout.gate[DataFrame](withNull)(
      _ => fail("local must not run"))(identity)
    assert(src eq withNull)
    assert(src.storageLevel === StorageLevel.NONE)
    assert(nothingCached())
  }

  test("gate: a declining local continuation hands over the unpinned " +
      "frame") {
    spark.catalog.clearCache()
    val sel = uv(edges)
    val src = Layout.gate[DataFrame](sel)(_ => None)(identity)
    assert(src eq sel)
    assert(src.storageLevel === StorageLevel.NONE)
    assert(nothingCached())
  }

  test("gate: a refused collect hands over the pinned frame and frees " +
      "it on return; gateCached frees it on release()") {
    spark.catalog.clearCache()
    withBudget("1") {
      val n = Layout.gate[Long](uv(edges))(_ => fail("no local")) { p =>
        assert(p.storageLevel.useMemory, "distributed reads the pin")
        p.count()
      }
      assert(n === 2L)
      assert(nothingCached(), "gate releases its pin on return")

      val c = Layout.gateCached(uv(edges))(_ => fail("local must not run"))(
        p => Cached(p.filter($"u" > 1L), Seq.empty))
      assert(c.backing.size === 1 && c.backing.head.storageLevel.useMemory)
      assert(c.df.count() === 1L)
      c.release()
      assert(nothingCached())
    }
  }

  test("gate: a frame the caller persisted stays cached on every branch") {
    spark.catalog.clearCache()
    val base = Seq((1L, Some(2L)), (2L, Some(3L)), (3L, None))
      .toDF("u", "v").persist()
    base.count()
    val nonNull = base.filter($"v".isNotNull)
    def stillCached(branch: String): Unit =
      assert(base.storageLevel.useMemory,
        s"$branch released the caller's frame")

    Layout.gate(uv(nonNull))(rows => Some(rows.length))(_ => -1)
    stillCached("fits")
    Layout.gate(base.select($"u".cast("int"), $"v"))(_ => Some(0))(_ => -1)
    stillCached("type refusal")
    Layout.gate(uv(base))(_ => Some(0))(_ => -1)
    stillCached("null row")
    Layout.gate(uv(nonNull))(_ => None)(_ => -1)
    stillCached("local decline")
    withBudget("1") {
      Layout.gate(uv(nonNull))(_ => Some(0L))(_.count())
      stillCached("refused collect")
      // the caller pinned the gated frame itself: the gate neither
      // frees it on return nor hands it to release()
      val own = uv(nonNull).persist()
      own.count()
      Layout.gate(own)(_ => Some(0L))(_.count())
      assert(own.storageLevel.useMemory)
      val c = Layout.gateCached(own)(_ => None)(p => Cached(p, Seq.empty))
      c.release()
      assert(own.storageLevel.useMemory)
      own.unpersist(blocking = true)
    }
    stillCached("every branch")
    base.unpersist(blocking = true)
  }

  /** Sorted rows with nulls spelled out, so null-keyed rows compare. */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.mkString(",")).sorted

  test("null endpoints decline the local path end to end: Graph and " +
      "Dedup components equal the budget-forced distributed run") {
    spark.catalog.clearCache()
    val graphEdges = Seq((1L, Some(2L)), (2L, Some(3L)), (4L, None),
      (5L, Some(6L))).toDF("u", "v")
    val pairs = graphEdges.select($"u".as("id_a"), $"v".as("id_b"))
    val graph = rows(Graph.connectedComponents(graphEdges, rounds = 3))
    val dedup = rows(Dedup.connectedComponents(pairs))
    // the replicas read ids with getLong, which throws on a null, so
    // both runs are the distributed frames': node 4, whose one edge
    // ends in null, stays its own component, and the pair frame keeps
    // its null id as a group of its own
    Seq(graph, dedup).foreach { out =>
      assert(out.contains("4,4") && !out.exists(_.startsWith("0,")),
        out.mkString(" | "))
    }
    assert(dedup.contains("null,null"), dedup.mkString(" | "))
    withBudget("1") {
      assert(rows(Graph.connectedComponents(graphEdges, rounds = 3)) ===
        graph)
      assert(rows(Dedup.connectedComponents(pairs)) === dedup)
    }
    spark.catalog.clearCache()
  }
}
