package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Jsons
import graft.jobs.Jobs
import graft.ops.{Aggregates, AsOfJoin, Dedup, FuzzyJoin, Packing, Similarity, SortedNeighborhood}
import graft.queries.Tables
import graft.streaming.{StreamSketch, StreamVelocity}

/** Uncapped scale probes. Each case runs the operator a capped driver
  * query calls (or a knob the suite pins) over the FULL tables of a
  * corpus dir — a shipped sf dir or a [[ScaleUp]] copy — so the
  * query's asymptote story is measured, not argued. The `cover=` of a
  * `CAP:` marker in `graft/queries` names the case that carries it.
  *
  * Every timed arm runs once untimed (JIT, codegen and scan warm-up),
  * then `reps` timed passes (default 1), each on a cleared cache, and
  * prints one JSON line:
  * `{"probe":<case>,"dir":…,<arm settings>,<figures>,"secs":…}` —
  * `secs` is the fastest pass, the figures are that pass's result.
  *
  * Usage: SPARK_GRAFT_CPUS=32 runMain graft.tools.Probe <case> <dir> [args…]
  *
  *  - `a07 [reps]`   [[Aggregates.lastPerKey]] over all users (a07)
  *  - `asof [reps]`  [[AsOfJoin.backward]] purchases × views over all
  *                   users (j04/j08/j09: the three directions share the
  *                   one-shuffle union-window shape)
  *  - `f02 [reps]`   the format → concat → parse timestamp round trip
  *                   on every event (f02)
  *  - `lsh [reps]`   [[Similarity.cosineNearDupsLSH]], the scale path of
  *                   n03's exact all-pairs and n04b's portable twin
  *  - `proj [reps]`  [[Similarity.randomProject]] (n09)
  *  - `sn [reps]`    [[SortedNeighborhood.multiPass]] on d21's names
  *  - `entity`       [[FuzzyJoin.resolveEntities]] on d15's names and
  *                   noisy twins, plus the blocked candidate-pair volume
  *  - `cdc`          [[Dedup.cdcChunkCoverage]] on d19's documents and
  *                   noisy-prefix copies
  *  - `lof exact|ann|dbscan [nPlanes]`  n16 / n16b / n18: brute LOF, LOF
  *                   on the IVF kNN, DBSCAN on the same kNN cut at
  *                   d2 ≤ 1.3. Grow nPlanes with the corpus (≈ log₂(n/150))
  *                   so the cell size stays constant.
  *  - `pca`          the production covariance feeding the power
  *                   iteration (n10/n19/n20)
  *  - `prefix d14|d20|d14h|d20h`  one prefix-filter join (`h`: hashed
  *                   tokens). No warm-up pass: one run per JVM keeps the
  *                   exploded corpus's shuffle spill to one copy on disk.
  *  - `vocab`        d14 and d20 with the document-frequency vocabulary
  *                   broadcast vs shuffled (the `broadcastVocab` knob)
  *  - `coreset [k]`  [[Similarity.kCenterCoreset]] at k (default 64)
  *  - `pack [nShards] [reps]`  the three packing folds at any shard
  *                   count (default 8, the count t29/t30 pin)
  *  - `smote`        [[graft.ml.Smote.oversampleCached]] on a lineitem
  *                   2-class frame (l_quantity ≤ 2 is the minority)
  *  - `reorder [latenessMinsCsv] [reps]`  the bounded-lateness reorder
  *                   buffer (st23/st24) per lateness L: state rows and
  *                   bytes as L grows
  *  - `churn [epochs] [residents] [reps]`  kll/hh sketch states under a
  *                   rotating population, eviction horizon on and off
  */
object Probe {
  type Figures = Seq[(String, Any)]

  /** What a case sees: the session, its corpus dir and its own args. */
  final class Ctx(val spark: SparkSession, name: String, val dir: String,
                  args: Seq[String]) {
    def arg(i: Int, default: String): String = args.lift(i).getOrElse(default)
    def int(i: Int, default: Int): Int = arg(i, default.toString).toInt

    /** Times `pass` (see the object doc) and prints its JSON line,
      * `settings` first.
      */
    def time(settings: Figures = Nil, reps: Int = 1, warm: Boolean = true)(
        pass: => Figures): Unit = {
      def once(): (Double, Figures) = {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val figures = pass
        ((System.nanoTime() - t0) / 1e9, figures)
      }
      if (warm) once()
      val (secs, figures) = Seq.fill(reps)(once()).minBy(_._1)
      println((Seq("probe" -> name, "dir" -> dir) ++ settings ++ figures :+
        ("secs" -> math.rint(secs * 1000) / 1000))
        .map { case (k, v) => Jsons.quote(k) + ":" + json(v) }
        .mkString("{", ",", "}"))
    }
  }

  private def json(v: Any): String = v match {
    case null => "null"
    case s: String => Jsons.quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case d: java.math.BigDecimal => d.toPlainString
    case x @ (_: Int | _: Long | _: Boolean) => x.toString
    case other => Jsons.quote(other.toString)
  }

  /** The first row of `df`, by column name. */
  private def first(df: DataFrame): Figures = {
    val r = df.collect().head
    r.schema.fieldNames.toSeq.zip(r.toSeq)
  }

  /** A case timing one aggregate frame; its only arg is `[reps]`. */
  private def frame(f: (SparkSession, String) => DataFrame): Ctx => Unit =
    c => c.time(reps = c.int(0, 1))(first(f(c.spark, c.dir)))

  /** d15/d21's names: a document's first three tokens. */
  private def names(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"),
      array_join(slice(split(trim(lower(col("text"))), "\\s+"), 1, 3),
        " ").as("name"))

  /** Ids of the noisy twins; past ScaleUp's 50× id range (4.9e8). */
  private val TwinOff = 1000000000L

  private def docs(c: Ctx): DataFrame =
    Tables.documents(c.spark, c.dir).select(col("doc_id"), col("text"))

  private def embeddings(c: Ctx): DataFrame =
    Tables.embeddings(c.spark, c.dir).select(col("vec_id"), col("embedding"))

  /** Drains `stream` on a child session at the stream partition count
    * and reports the state store's rows and bytes over the run's
    * progress reports, then `sink`'s figures on the drained rows.
    */
  private def drainState(c: Ctx, name: String,
      sink: DataFrame => Figures = df => Seq("out_rows" -> df.count()))(
      stream: SparkSession => DataFrame): Figures =
    Tables.isolated(c.spark,
        "spark.sql.shuffle.partitions" -> Tables.streamParts) { s =>
      val q = stream(s).writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val states = q.recentProgress.toSeq.map(_.stateOperators.toSeq)
        .filter(_.nonEmpty)
      def peak(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
        if (states.isEmpty) -1L else states.map(_.map(f).sum).max
      Seq("state_rows_final" ->
          (if (states.isEmpty) -1L else states.last.map(_.numRowsTotal).sum),
        "state_rows_max" -> peak(_.numRowsTotal),
        "state_bytes_max" -> peak(_.memoryUsedBytes),
        "parts" -> Tables.streamParts.toInt) ++ sink(s.table(name))
    }

  private[graft] val cases: Map[String, Ctx => Unit] = Map(
    "a07" -> frame((s, dir) =>
      Aggregates.lastPerKey(Tables.events(s, dir),
        "user_id", "event_id", "value")
        .agg(count(lit(1)).as("n"),
          sum(round(col("last_value"), 2).cast("decimal(27,2)")).as("s"))),

    "asof" -> frame { (s, dir) =>
      val ev = Tables.eventsMicros(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts_us")
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max_by(col("value"), col("event_id")).as("value"))
      AsOfJoin.backward(purchases, views, keyCol = "user_id",
        leftTime = "ts_us", rightTime = "ts_us",
        rightValueCols = Seq("value"))
        .agg(count(lit(1)).as("n"), count(col("asof_value")).as("matched"))
    },

    "f02" -> frame { (s, dir) =>
      val ts = timestamp_micros(col("ts_us"))
      Tables.eventsMicros(s, dir)
        .withColumn("ds", date_format(ts, "yyyy-MM-dd"))
        .withColumn("tstr", date_format(ts, "HH:mm:ss"))
        .withColumn("parsed",
          to_timestamp(concat_ws(" ", col("ds"), col("tstr")),
            "yyyy-MM-dd HH:mm:ss"))
        .agg(count(col("parsed")).as("n"),
          sum(unix_timestamp(col("parsed"))).as("s"))
    },

    "lsh" -> frame((s, dir) =>
      Similarity.cosineNearDupsLSH(
        Tables.embeddings(s, dir).select("vec_id", "embedding"),
        "vec_id", "embedding", threshold = 0.9)
        .agg(count(lit(1)).as("n_pairs"))),

    "proj" -> frame((s, dir) =>
      Similarity.randomProject(Tables.embeddings(s, dir),
        "vec_id", "embedding", outDim = 16, seed = 42L)
        .select(explode(col("proj")).as("v"))
        .agg(sum(round(col("v"), 7).cast("decimal(27,7)")).as("s"))),

    // prefixChars=4 + idBits=30 key up to 1.07e9 docs (ScaleUp's 50×
    // copies reach doc_id ~4.9e8)
    "sn" -> frame((s, dir) =>
      SortedNeighborhood.multiPass(
        names(s, dir).filter(col("name").isNotNull), "doc_id",
        Seq("fwd" -> col("name"), "rev" -> reverse(col("name"))),
        w = 12, prefixChars = 4, idBits = 30)
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("found_fwd"), 1L).otherwise(0L)).as("n_fwd"),
          sum(when(col("found_rev"), 1L).otherwise(0L)).as("n_rev"))),

    "entity" -> { c =>
      val base = names(c.spark, c.dir)
      val in = base.union(base.select((col("doc_id") + TwinOff).as("doc_id"),
        expr("substring(name, 2)").as("name")))
      // the cost driver: pairs sharing the 8-char blocking suffix that
      // the levenshtein verify runs over
      val candPairs = in.select(expr("right(name, 8)").as("bk"))
        .groupBy("bk").count()
        .agg(sum(expr("count * (count - 1) / 2")).cast("long"))
        .first().getLong(0)
      c.time(Seq("block_cand_pairs" -> candPairs)) {
        val ents = FuzzyJoin.resolveEntities(in, "doc_id", "name",
          blockChars = 8, maxDist = 2)
        Seq("members" -> ents.count(),
          "entities" -> ents.select("entity_id").distinct().count())
      }
    },

    "cdc" -> { c =>
      val d = docs(c)
      val in = d.union(d.select((col("doc_id") + TwinOff).as("doc_id"),
        concat(lit("zq noise prefix "), col("text")).as("text")))
      c.time()(first(Dedup.cdcChunkCoverage(in, "doc_id", "text", g = 3)
        .agg(count(lit(1)).as("docs"), sum(col("n_chunks")).as("chunks"),
          sum(col("n_shared_chunks")).as("shared_chunks"),
          sum(col("shared_toks")).as("shared_toks"))))
    },

    "lof" -> { c =>
      val mode = c.arg(0, "exact")
      val nPlanes = c.int(1, 4)
      val emb = embeddings(c)
      def knn(k: Int) = Similarity.ivfTopKL2Portable(emb, emb,
          "vec_id", "embedding", k = k, nPlanes = nPlanes, nprobe = 3)
        .select(col("query_id").as("p"), col("vec_id").as("o"),
          (-col("negl2")).as("d2"))
      c.time(Seq("mode" -> mode, "n_planes" -> nPlanes,
          "n_in" -> emb.count())) {
        val out = mode match {
          case "exact" => Similarity.lofOutliers(emb, "vec_id", "embedding", k = 5)
          case "ann" => Similarity.lofFromKnn(knn(5), k = 5)
          case "dbscan" =>
            Similarity.dbscanFromPairs(
              knn(10).filter(col("d2") <= 1.3).select("p", "o"),
              emb.select(col("vec_id")), minPts = 3).df
          case other => sys.error(s"lof mode must be exact|ann|dbscan, got $other")
        }
        Seq("n_out" -> out.count())
      }
    },

    "pca" -> { c =>
      val emb = Tables.embeddings(c.spark, c.dir)
      c.time(Seq("n" -> emb.count())) {
        val out = Similarity.pcaPowerFromCov(
          Similarity.covarianceMatrix(emb, "embedding"), rounds = 8).collect()
        Seq("dim" -> out.length, "l1" -> out.head.getAs[Double]("l1"),
          "evr" -> out.head.getAs[Double]("evr"))
      }
    },

    "prefix" -> { c =>
      val op = c.arg(0, "d14")
      val d = docs(c)
      d.count() // warm the scan; the op itself runs once
      c.time(Seq("op" -> op), warm = false) {
        val h = op.endsWith("h")
        Seq("pairs" -> (op.stripSuffix("h") match {
          case "d14" => Dedup.setSimilarityJoin(d, "text", "doc_id", 3, 3, 5,
            hashTokens = h)
          case "d20" => Dedup.containmentJoin(d, "text", "doc_id", 3, 4, 5,
            hashTokens = h)
          case _ => sys.error(s"prefix op must be d14|d20|d14h|d20h, got $op")
        }).count())
      }
    },

    "vocab" -> { c =>
      val d = docs(c)
      for (op <- Seq("d14", "d20"); bv <- Seq(true, false))
        c.time(Seq("op" -> op,
            "vocab" -> (if (bv) "broadcast" else "shuffle"))) {
          Seq("pairs" -> (if (op == "d14")
            Dedup.setSimilarityJoin(d, "text", "doc_id", 3, 3, 5,
              broadcastVocab = bv)
          else
            Dedup.containmentJoin(d, "text", "doc_id", 3, 4, 5,
              broadcastVocab = bv)).count())
        }
    },

    "coreset" -> { c =>
      val k = c.int(0, 64)
      val emb = embeddings(c)
      c.time(Seq("k" -> k))(first(Similarity.kCenterCoreset(emb, "vec_id",
        "embedding", k).agg(sum(col("vec_id")).as("picksum"))))
    },

    "pack" -> { c =>
      val nShards = c.int(0, 8)
      val toks = Tables.documents(c.spark, c.dir)
        .filter(col("text").isNotNull && col("doc_id").isNotNull &&
          length(trim(col("text"))) > 0)
        .select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("ntok"))
      for ((form, fold) <- Seq("chunk" -> Packing.chunkPackStats _,
          "nextfit" -> Packing.nextFitStats _, "ffd" -> Packing.ffdStats _))
        c.time(Seq("form" -> form, "shards" -> nShards), c.int(1, 1)) {
          first(fold(toks, "doc_id", "ntok", 512L, nShards)
            .agg(sum(col("n_docs")).as("docs"), sum(col("n_bins")).as("bins")))
        }
    },

    "smote" -> { c =>
      val in = Tables.lineitem(c.spark, c.dir)
        .select((col("l_quantity") <= 2.0).cast("int").as("label"),
          col("l_quantity").cast("double").as("x_qty"),
          col("l_discount").cast("double").as("x_disc"),
          col("l_tax").cast("double").as("x_tax"))
      val nIn = in.count()
      c.time(Seq("n_in" -> nIn)) {
        val out = graft.ml.Smote.oversampleCached(in, "label",
          Seq("x_qty", "x_disc", "x_tax"))
        val n = try out.df.count() finally out.release()
        Seq("n_out" -> n, "n_synth" -> (n - nIn))
      }
    },

    // The st23 staging with L parametric: events split into three
    // mtime-ordered files on JITTERED event time (deterministic ±L/2
    // xxhash64 of event_id, so the cross-batch overlap band and the
    // held buffer grow ∝ rate × L), plus a per-user punctuation file
    // past max + L that drains every buffer. st23's oracle row owns
    // output correctness; this reads the time and state axes.
    "reorder" -> { c =>
      val s = c.spark
      for (lm <- c.arg(0, "15,60,360").split(",").map(_.toInt).toSeq) {
        val lateUs = lm * 60000000L
        lazy val stage = {
          val jit = lateUs / 2
          val dir = Tables.stageDir(s, s"reorder_L$lm")
          val ev = Tables.eventsMicros(s, c.dir)
            .filter(col("user_id").isNotNull && col("ts_us").isNotNull &&
              col("event_type").isNotNull)
            .select(col("user_id"), col("ts_us"), col("event_type"),
              (col("ts_us") + pmod(xxhash64(col("event_id")),
                lit(2 * jit + 1)) - jit).as("__pt"))
          val st = ev.agg(min(col("__pt")), max(col("__pt")),
            max(col("ts_us"))).first()
          val (mnPt, mxPt, mxTs) = (st.getLong(0), st.getLong(1), st.getLong(2))
          val span = (mxPt - mnPt) / 3 + 1
          val base = System.currentTimeMillis()
          (0 until 3).foreach { i =>
            Tables.stageOne(dir,
              ev.filter(col("__pt") >= mnPt + i * span &&
                  col("__pt") < mnPt + (i + 1) * span)
                .select(col("user_id"), col("ts_us"), col("event_type")),
              s"b$i", base - 240000 + i * 60000)
          }
          Tables.stageOne(dir,
            ev.select(col("user_id")).distinct()
              .withColumn("ts_us", lit(mxTs + lateUs + 1))
              .withColumn("event_type", lit(null).cast("string")),
            "b3", base - 60000)
          dir
        }
        c.time(Seq("lateness_min" -> lm), c.int(1, 1)) {
          drainState(c, s"reorder_probe_L$lm", df => first(
              df.agg(count(lit(1)).as("out_rows"),
                max(col("ooo")).as("ooo_max")))) { cs =>
            StreamVelocity.trailingCounts(
              cs.readStream.schema(cs.read.parquet(s"$stage/b0.parquet").schema)
                .option("maxFilesPerTrigger", "1").parquet(stage),
              "user_id", "ts_us", "event_type",
              windowMicros = 3600L * 1000000L, maxLateness = lateUs).toDF()
          }
        }
      }
    },

    // Each of `epochs` equal event-time spans re-keys its events to
    // `epoch·10⁶ + user % residents`: every epoch brings `residents`
    // new entities, one staged file per epoch. With a one-epoch
    // horizon the state should plateau near 2 × residents (current +
    // draining epoch); with it off it grows to epochs × residents.
    "churn" -> { c =>
      val s = c.spark
      val epochs = c.int(0, 10)
      val residents = c.arg(1, "500").toLong
      val ev = Tables.eventsMicros(s, c.dir)
        .filter(col("user_id").isNotNull && col("ts_us").isNotNull &&
          col("value").isNotNull)
        .select(col("user_id"), col("ts_us"), col("value"))
      val st = ev.agg(min(col("ts_us")), max(col("ts_us"))).first()
      val (mn, mx) = (st.getLong(0), st.getLong(1))
      val span = (mx - mn) / epochs + 1
      lazy val stage = {
        val dir = Tables.stageDir(s, "churn")
        val keyed = ev
          .withColumn("__epoch", expr(s"(ts_us - ${mn}L) div ${span}L"))
          .withColumn("entity", (col("__epoch") * 1000000L +
            pmod(col("user_id"), lit(residents))).cast("string"))
          .withColumn("item", pmod(col("user_id"), lit(1000L)))
        val base = System.currentTimeMillis()
        (0 until epochs).foreach { i =>
          Tables.stageOne(dir,
            keyed.filter(col("__epoch") === i.toLong)
              .select(col("entity"), col("ts_us"), col("value"), col("item")),
            f"b$i%02d", base - 1200000 + i * 60000)
        }
        dir
      }
      for (variant <- Seq("kll", "hh"); horizon <- Seq(true, false))
        c.time(Seq("variant" -> variant, "horizon" -> horizon,
            "epochs" -> epochs, "residents" -> residents,
            "entities_total" -> epochs * residents), c.int(2, 1)) {
          drainState(c, s"churn_$variant") { cs =>
            val src = cs.readStream
              .schema(cs.read.parquet(s"$stage/b00.parquet").schema)
              .option("maxFilesPerTrigger", "1").parquet(stage)
            val tsUs = if (horizon) "ts_us" else null
            val evict = if (horizon) span else 0L
            if (variant == "kll")
              StreamVelocity.kllQuantileStates(src, "entity", "value",
                capacity = 256, percents = Seq(50, 99), tsUsCol = tsUs,
                evictHorizonUs = evict).toDF()
            else
              StreamSketch.hhStates(src, "entity", "item", k = 16,
                tsUsCol = tsUs, evictHorizonUs = evict).toDF()
          }
        }
    })

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && cases.contains(args(0)),
      "usage: Probe <case> <dir> [args…]; cases: " +
        cases.keys.toSeq.sorted.mkString(" "))
    val spark = Jobs.session(s"graft-probe-${args(0)}")
    try cases(args(0))(new Ctx(spark, args(0), args(1), args.drop(2).toSeq))
    finally spark.stop()
  }
}
