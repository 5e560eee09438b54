package graft

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ops.Velocity
import graft.streaming.StreamVelocity

/** Generated inputs through the ordered fold of
  * `graft.streaming.KeyedState` (ewmaStates, cusumStates,
  * trailingCounts). Plain ScalaCheck generators over fixed seeds, as
  * in PropertySpec. Per seed: random per-key events with ties, cut
  * into random event-time-ordered batches at L = 0, must equal the
  * batch folds of `ops/Velocity`; the same events jittered within L
  * across batches and shuffled inside each, at L > 0 with a closing
  * punctuation, must equal that ordered run bit for bit.
  */
class KeyedStateSpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  /** (user, ts, id, value): ids unique, ts on a coarse grid so
    * same-instant peers occur, cents-exact values.
    */
  type Ev = (Long, Long, Long, Double)

  private val L = 50L
  private val window = 100L

  private val events: Gen[Seq[Ev]] = for {
    n <- Gen.chooseNum(24, 40)
    rows <- Gen.listOfN(n, Gen.zip(Gen.chooseNum(1L, 3L),
      Gen.chooseNum(0L, 15L), Gen.chooseNum(0L, 99999L)))
  } yield rows.zipWithIndex.map { case ((u, t, c), i) =>
    (u, t * 10L, i.toLong, c / 100.0)
  }

  /** Event-time-ordered batches cut only where ts changes, so no
    * same-instant tie spans a batch boundary.
    */
  private def orderedBatches(evs: Seq[Ev], seed: Long): Seq[Seq[Ev]] = {
    val sorted = evs.sortBy(e => (e._2, e._3))
    val cuts = sample(Gen.listOfN(sorted.length, Gen.prob(0.3)), seed)
    val starts = 0 +: sorted.indices.drop(1).filter(i =>
      cuts(i) && sorted(i)._2 != sorted(i - 1)._2)
    (starts :+ sorted.length).sliding(2).map { case Seq(a, b) =>
      sorted.slice(a, b)
    }.toSeq
  }

  /** Each event arrives at ts + jitter in [0, L]: every earlier
    * arrival has ts ≤ this event's ts + L, the reorder contract. The
    * jitter sits on the ts grid, so arrivals exactly L late (the
    * release boundary) are common. Random cuts on the arrival order,
    * random order among equal arrival times and inside a batch.
    */
  private def shuffledBatches(evs: Seq[Ev], seed: Long): Seq[Seq[Ev]] = {
    val keys = sample(Gen.listOfN(evs.length,
      Gen.zip(Gen.chooseNum(0L, L / 10L), Gen.prob(0.15),
        Gen.chooseNum(0, 1 << 20))), seed)
    val arrivals = evs.zip(keys).sortBy { case (e, (j, _, r)) =>
      (e._2 + j * 10L, r)
    }
    val starts = 0 +: arrivals.indices.drop(1).filter(i => arrivals(i)._2._2)
    (starts :+ arrivals.length).sliding(2).map { case Seq(a, b) =>
      arrivals.slice(a, b).sortBy(_._2._3).map(_._1)
    }.toSeq
  }

  private def run[T: Encoder](cols: Seq[String], batches: Seq[Seq[T]],
                              sink: String)(
      op: DataFrame => Dataset[_]): DataFrame = {
    val stream = MemoryStream[T](spark)
    val q = op(stream.toDF().toDF(cols: _*)).toDF.writeStream
      .format("memory").queryName(sink).outputMode("append").start()
    try batches.foreach { b =>
      stream.addData(b)
      q.processAllAvailable()
    } finally q.stop()
    spark.table(sink)
  }

  private def punct(evs: Seq[Ev]): Long = evs.map(_._2).max + L + 1L

  private val seeds = Seq(11L, 12L)

  test("ewmaStates: generated batches ≡ batch fold at L = 0, and " +
      "shuffled within L ≡ ordered at L > 0, bit-exact") {
    seeds.foreach { seed =>
      val evs = sample(events, seed)
      def last(df: DataFrame): Map[Long, (Long, Double, Long)] =
        df.groupBy($"user").agg(max($"n"), max_by($"ewma", $"n"),
            max($"ooo"))
          .as[(Long, Long, Double, Long)].collect()
          .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      val cols = Seq("user", "ts", "id", "v")
      val ordered = last(run(cols, orderedBatches(evs, seed),
          s"ks_e_ord_$seed") { df =>
        StreamVelocity.ewmaStates(df, "user", "ts", "id", "v", 1, 4)
      })
      val batch = Velocity.ewmaFinal(evs.toDF(cols: _*), "user", "ts",
          "id", "v", 1, 4)
        .as[(Long, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, 0L))).toMap
      assert(ordered == batch, s"seed $seed")
      val flush = evs.map(_._1).distinct
        .map(u => (u, punct(evs), -1L, Option.empty[Double]))
      val shuffled = last(run(cols,
          shuffledBatches(evs, seed).map(_.map(e =>
            (e._1, e._2, e._3, Option(e._4)))) :+ flush,
          s"ks_e_shuf_$seed") { df =>
        StreamVelocity.ewmaStates(df, "user", "ts", "id", "v", 1, 4,
          maxLateness = L)
      })
      assert(shuffled == ordered, s"seed $seed")
    }
  }

  test("cusumStates: generated batches ≡ batch fold at L = 0, and " +
      "shuffled within L ≡ ordered at L > 0") {
    seeds.foreach { seed =>
      val evs = sample(events, seed)
      def last(df: DataFrame): Map[Long, (Long, Long, Long, Long, Long)] =
        df.groupBy($"user").agg(max($"n"), max_by($"alarms", $"n"),
            max_by($"sp", $"n"), max_by($"sn", $"n"), max($"ooo"))
          .as[(Long, Long, Long, Long, Long, Long)].collect()
          .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
      def cusum(df: DataFrame, lateness: Long) =
        StreamVelocity.cusumStates(df, "user", "ts", "id", "v",
          targetCents = 50000L, hCents = 80000L, maxLateness = lateness)
      val cols = Seq("user", "ts", "id", "v")
      val ordered = last(run(cols, orderedBatches(evs, seed),
        s"ks_c_ord_$seed")(cusum(_, 0L)))
      val batch = Velocity.cusumFinal(evs.toDF(cols: _*), "user", "ts",
          "id", "v", 50000L, 80000L)
        .as[(Long, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5, 0L))).toMap
      assert(ordered == batch, s"seed $seed")
      val flush = evs.map(_._1).distinct
        .map(u => (u, punct(evs), -1L, Option.empty[Double]))
      val shuffled = last(run(cols,
        shuffledBatches(evs, seed).map(_.map(e =>
          (e._1, e._2, e._3, Option(e._4)))) :+ flush,
        s"ks_c_shuf_$seed")(cusum(_, L)))
      assert(shuffled == ordered, s"seed $seed")
    }
  }

  test("trailingCounts: generated batches ≡ the RANGE count at L = 0, " +
      "and shuffled within L ≡ ordered at L > 0, once per event") {
    seeds.foreach { seed =>
      val evs = sample(events, seed)
      def tagged(b: Seq[Ev]) = b.map(e => (e._1, e._2, e._3.toString))
      def rows(df: DataFrame): Seq[(Long, Long, String, Int, Long)] =
        df.select($"user", $"ts", $"tag", $"velN", $"ooo")
          .as[(Long, Long, String, Int, Long)].collect().toSeq.sorted
      def vel(df: DataFrame, lateness: Long) =
        StreamVelocity.trailingCounts(df, "user", "ts", "tag",
          windowMicros = window, maxLateness = lateness)
      val cols = Seq("user", "ts", "tag")
      val ordered = rows(run(cols, orderedBatches(evs, seed).map(tagged),
        s"ks_v_ord_$seed")(vel(_, 0L)))
      val batch = Velocity.trailing(tagged(evs).toDF(cols: _*)
          .withColumn("one", lit(1)), "user", "ts", "one", window)
        .select($"user", $"ts", $"tag", $"vel_n".cast("int"), lit(0L))
        .as[(Long, Long, String, Int, Long)].collect().toSeq.sorted
      assert(ordered == batch, s"seed $seed")
      val flush = evs.map(_._1).distinct.map(u => (u, punct(evs), null: String))
      val shuffled = rows(run(cols,
        shuffledBatches(evs, seed).map(tagged) :+ flush,
        s"ks_v_shuf_$seed")(vel(_, L)))
      assert(shuffled == ordered, s"seed $seed")
    }
  }
}
