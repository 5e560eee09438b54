package perfbench

import java.io.File

import org.apache.spark.ml.classification.GBTClassificationModel
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ml.{FeaturePipeline, TrainingJob, TreeScorer}
import graft.streaming.{Scorer, WireFormat}

/** Isolated per-row layers of the scoring path, each a forced call on
  * the staged wire files. Every prefix re-reads the files, so each layer
  * is reported as its prefix's time minus the previous prefix's.
  */
object Layers {
  val reps = 3

  /** Wall time of the forced action: every output column is computed,
    * unlike `count()`, which may prune the work away.
    */
  def forcedMs(df: DataFrame): Double =
    Clock.time(df.queryExecution.toRdd.count())._2 * 1000

  private def med(f: => Double): Double = Stats.median((1 to reps).map(_ => f))

  def serve(spark: SparkSession, src: File, modelDir: String, scratch: File, rec: Record): Unit = {
    rec.put("jobs.model_load_ms", med(Clock.time(TrainingJob.load(spark, modelDir))._2 * 1000))
    val (features, model) = TrainingJob.load(spark, modelDir)
    val decoded = WireFormat.valid(WireFormat.decodeFrame(
      spark.read.text(new File(src, "wire").getPath), "value"))
    val featured = features.transform(
      FeaturePipeline.withRequiredFeatures(TrainingJob.servePreprocess(decoded)))
    val scored = Scorer.score(decoded, features, model)
    val gbt = model.asInstanceOf[GBTClassificationModel]
    val names = Seq.tabulate(gbt.numFeatures)(i => s"f$i")
    val unpacked = featured.withColumn("__f", vector_to_array(col("features")))
      .select(col("*") +: names.indices.map(i => col("__f").getItem(i).as(names(i))): _*)
    val treeScored = TreeScorer.scoreGbt(unpacked, TreeScorer.fromGbt(gbt, names))

    val decode = med(forcedMs(decoded))
    val feat = med(forcedMs(featured))
    val mllib = med(forcedMs(scored))
    val tree = med(forcedMs(treeScored))
    var n = 0
    val sink = med {
      n += 1
      val dir = new File(scratch, s"sink-$n"); Inputs.rmrf(dir)
      Clock.time(Scorer.writeSinkBatch(scored, 0L, new File(dir, "scored").getPath,
        Some(new File(dir, "text").getPath),
        Seq("features", "features_raw", "rawPrediction", "probability")))._2 * 1000
    }
    rec.put("wire.decode_ms", decode)
    rec.put("ml.features_ms", feat - decode)
    rec.put("ml.model_mllib_ms", mllib - feat)
    rec.put("ml.model_treescorer_ms", tree - feat)
    rec.put("streaming.sink_write_ms", sink - mllib)
  }
}
