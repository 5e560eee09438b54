package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Probe

/** Source scans that keep decisions in one place each: how a session
  * is configured (`Jobs.session`, the only builder), how a keyed state
  * tracks event time and expires (`graft.streaming.KeyedState`), and
  * where a capped query's asymptote story lives (a `CAP:` cover naming
  * another query or a `graft.tools.Probe` case).
  */
class SourceScanSpec extends AnyFunSuite {
  private def files(root: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    val dir = new File(root)
    assert(dir.isDirectory, s"no $root")
    walk(dir)
  }

  private def lines(f: File): Vector[String] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().toVector finally src.close()
  }

  test("every CAP cover names another query or a Probe case") {
    val marker =
      "//\\s*CAP:\\s*(slice|baseline|probe)(?:\\s+cover=([A-Za-z0-9_./-]+))?".r
    val entry = "\"([a-z0-9_]+)\" ->".r
    val covers = files("src/main/scala/graft/queries")
      .filter(_.getName.endsWith(".scala")).flatMap { f =>
        var query = ""
        lines(f).zipWithIndex.flatMap { case (l, i) =>
          entry.findFirstMatchIn(l).foreach(m => query = m.group(1))
          marker.findFirstMatchIn(l)
            .map(m => (s"${f.getName}:${i + 1}", query, Option(m.group(2))))
        }
      }
    assert(covers.size > 20, s"too few CAP covers found: $covers")
    val bad = covers.filterNot {
      case (_, query, Some(cover)) =>
        Probe.cases.contains(cover) ||
          (cover != query && SparkEntry.queries.contains(cover))
      case _ => false
    }
    assert(bad.isEmpty, s"CAP covers naming no other query or Probe case: $bad")
  }

  test("Jobs.session is the only SparkSession builder under src") {
    // ExtensionsSmoke runs in its own JVM to prove the injection path
    // on a session it builds itself
    val needle = "SparkSession" + ".builder" // split: this file is scanned too
    val builders = (files("src/main/scala") ++ files("src/test/scala"))
      .filter(_.getName.endsWith(".scala"))
      .filterNot(_.getName == "ExtensionsSmoke.scala")
      .flatMap(f => lines(f).filter(_.contains(needle)).map(_ => f.getPath))
    assert(builders == Seq("src/main/scala/graft/jobs/Jobs.scala"))
  }

  test("the keyed event-time protocol lives only in KeyedState") {
    val protocol = Seq("hasTimedOut", "setTimeoutTimestamp",
      "GroupStateTimeout.EventTimeTimeout")
    val hits = files("src/main/scala").filter(_.getName.endsWith(".scala"))
      .filterNot(_.getPath == "src/main/scala/graft/streaming/KeyedState.scala")
      .flatMap { f =>
        lines(f).zipWithIndex.flatMap { case (l, i) =>
          protocol.filter(l.contains).map(p => s"${f.getPath}:${i + 1}: $p")
        }
      }
    assert(hits.isEmpty, s"keyed-state protocol outside KeyedState: $hits")
  }

  test("the retired Bench session knobs appear nowhere in src or tools") {
    val retired = Seq("HUGE_LIMIT", "EXTENSIONS", "FAIL_CARTESIAN",
      "STATESTORE").map("SPARK_GRAFT_" + _)
    val hits = (files("src") ++ files("tools")).flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath),
        "UTF-8")
      retired.filter(text.contains).map(k => s"${f.getPath}: $k")
    }
    assert(hits.isEmpty, s"retired knobs still referenced: $hits")
  }
}
