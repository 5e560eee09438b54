package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import graft.SparkEntry
import graft.jobs.Jobs

/** One benchmark run in one JVM; `run.py` builds the classpath, starts
  * this, and prints the final result line from what it reports.
  *
  * {{{
  *   perfbench.Main --workload serve|query_mix
  *     --seed N --seconds S --trace 0|1 --work DIR --model DIR
  *     --expected FILE [--record]
  * }}}
  *
  * With `--trace 1` part of the measured work runs a second time with a
  * `SparkListener` attached; the per-layer values come from the traced
  * part and `trace.overhead_pct` compares it with the untraced part.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val flags = argv.toSet
    val workload = args("workload")
    val work = new File(args("work"))
    val ctx = Serve.Ctx(work, args("model"), args("seed").toLong, args("seconds").toInt,
      trace = args("trace") == "1")
    val expected = new File(args("expected"))

    Clock.mark(s"$workload seed ${ctx.seed} trace ${ctx.trace}")
    val out = new Record
    val os = ManagementFactory.getOperatingSystemMXBean
    out.put("host.nproc", Runtime.getRuntime.availableProcessors.toDouble)
    out.put("host.load_before", os.getSystemLoadAverage)
    workload match {
      case "serve" => Serve.serve(ctx, out)
      case "query_mix" => Mix.run(ctx, expected, flags("--record"), out)
      case other => sys.error(s"unknown workload $other")
    }
    if (workload != "query_mix") Canary.sample(new File(work, "canary"), out)
    out.put("host.load_after", os.getSystemLoadAverage)
    Clock.mark("done")
    println("PERFBENCH_RESULT " + out.json)
  }

  /** `a02_grouped_agg` on a small fixed table after the workload: a
    * reading of the host's speed to put beside the numbers (the query
    * mix runs a02 itself and reports its samples).
    */
  object Canary {
    def sample(dir: File, rec: Record): Unit = {
      val spark = Jobs.session("graft-canary")
      Inputs.rmrf(dir)
      Inputs.writeTables(spark, dir.getPath, 1, only = Set("lineitem"))
      val ms = (1 to 3).map(_ => Clock.time(
        Mix.forced(SparkEntry.queries("a02_grouped_agg")(spark, dir.getPath)))._2 * 1000)
      ms.zipWithIndex.foreach { case (v, i) => rec.put(s"host.canary_a02_ms_$i", v) }
      rec.put("host.canary_a02_ms", Stats.median(ms))
    }
  }
}
