package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.gen.TransactionGen
import graft.jobs.Jobs
import graft.ml.TrainingJob

/** Trains and persists the production artifacts ScoreMain serves, at the
  * program's full (non-fast) settings on a fixed generated set. Part of
  * the build: a full training takes longer than a whole run may.
  *
  * {{{ perfbench.Train <modelDir> }}} — also writes `<modelDir>.train_s`.
  */
object Train {
  val rows = 2000L

  def main(args: Array[String]): Unit = {
    val dir = new File(args(0))
    val spark = Jobs.session("graft-train")
    val (_, s) = Clock.time(TrainingJob.run(TransactionGen.batch(spark, rows, seed = 42L),
      Some(dir.getPath), fast = false))
    Files.write(new File(dir.getPath + ".train_s").toPath,
      s.toString.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
