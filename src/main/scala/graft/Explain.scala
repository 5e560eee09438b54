package graft

/** Plan inspector: prints `explain("formatted")` for the named queries
  * (or all), for pushdown/broadcast/codegen review — the per-operator
  * "would this plan survive 100×?" audit loop.
  *
  * Usage: runMain graft.Explain <sfDir> [query...]
  *
  * Plans under the serving session ([[graft.jobs.Jobs.session]]); the
  * recorded `plans/` files were taken at `SPARK_GRAFT_CPUS=8`.
  *
  * When specific queries are named they are also EXECUTED and the
  * post-AQE plan is printed with shuffle/broadcast/reuse counts (the
  * all-queries sweep stays explain-only — executing ~100 queries is
  * Bench's job).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val execute = args.length > 1
    val spark = graft.jobs.Jobs.session("graft-explain")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        df.explain("formatted")
        if (execute) {
          // execute without materializing on the driver: row-heavy
          // queries (d10 emits one row per document) would make a
          // collect() unbounded at larger SFs; the post-AQE plan is
          // available from queryExecution after any full execution
          df.foreach(_ => ())
          val plan = df.queryExecution.executedPlan.toString
          println(s"---------- $n: executed (post-AQE) ----------")
          println(plan)
          def count(p: String) = p.r.findAllIn(plan).length
          // negative lookbehinds keep the shuffle-exchange figure (the
          // number the 100× audit cares about) from absorbing
          // BroadcastExchange/ReusedExchange, and HashAggregate from
          // absorbing ObjectHashAggregate
          println(s"[explain] shuffleExchanges=" +
            count("(?<!Broadcast)(?<!Reused)Exchange ") +
            s" reused=${count("ReusedExchange")}" +
            s" hashAggregates=${count("(?<!Object)HashAggregate")}" +
            s" broadcasts=${count("BroadcastExchange")}" +
            s" codegenStages=${"\\*\\((\\d+)\\)".r
              .findAllMatchIn(plan).map(_.group(1)).toSet.size}")
        }
      } catch { case e: Throwable => println(s"(failed: ${e.getMessage})") }
    }
    spark.stop()
  }
}
