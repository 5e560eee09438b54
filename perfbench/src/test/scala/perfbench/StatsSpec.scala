package perfbench

import org.scalatest.funsuite.AnyFunSuite

import Stats.Batch

class StatsSpec extends AnyFunSuite {

  test("commit times: each row takes the commit of the first batch whose cumulative rows exceed its index") {
    // batches read 3, 0, 2 and 4 rows; the empty batch covers nothing
    val bs = Seq(Batch(3, 100.0), Batch(0, 150.0), Batch(2, 200.0), Batch(4, 300.0))
    assert(Stats.commitTimes(bs, 9).toSeq == Seq(100.0, 100.0, 100.0, 200.0, 200.0, 300.0, 300.0, 300.0, 300.0))
  }

  test("commit times: rows past the last batch stay uncovered, surplus batch rows are ignored") {
    val short = Stats.commitTimes(Seq(Batch(2, 10.0)), 4)
    assert(short.take(2).toSeq == Seq(10.0, 10.0))
    assert(short.drop(2).forall(_.isNaN))
    assert(Stats.commitTimes(Seq(Batch(5, 10.0), Batch(5, 20.0)), 3).toSeq == Seq(10.0, 10.0, 10.0))
    assert(Stats.commitTimes(Nil, 2).forall(_.isNaN))
  }

  test("visible time is the later commit of the two queries, NaN if either never committed the row") {
    // the scored sink commits every 2 s in big batches, the counters run back to back
    val scored = Stats.commitTimes(Seq(Batch(4, 2000.0), Batch(4, 4000.0)), 8)
    val counters = Stats.commitTimes(Seq(Batch(2, 900.0), Batch(3, 2500.0), Batch(2, 4100.0)), 8)
    val vis = Stats.visibleTimes(Seq(scored, counters))
    assert(vis.take(7).toSeq == Seq(2000.0, 2000.0, 2500.0, 2500.0, 4000.0, 4100.0, 4100.0))
    assert(vis(7).isNaN)
  }

  test("tail rank: the highest percentile with at least ten samples beyond it") {
    assert(Stats.tailRank(2000, 0.99) == 0.99)
    assert(Stats.tailRank(1000, 0.99) == 0.99)
    assert(math.abs(Stats.tailRank(500, 0.99) - 0.98) < 1e-12)
    assert(math.abs(Stats.tailRank(100, 0.99) - 0.90) < 1e-12)
    assert(Stats.tailRank(15, 0.99) == 0.5)
  }

  test("tail value leaves exactly ten samples above it") {
    val xs = (1 to 500).map(_.toDouble)
    val (rank, v) = Stats.tail(xs, 0.99)
    assert(math.abs(rank - 0.98) < 1e-12)
    assert(v == 490.0)
    assert(xs.count(_ > v) == 10)
    val (r1k, v1k) = Stats.tail((1 to 1000).map(_.toDouble), 0.99)
    assert(math.abs(r1k - 0.99) < 1e-12 && v1k == 990.0)
  }

  test("quantile is nearest-rank and median averages the middle pair") {
    assert(Stats.quantile(Seq(5.0, 1.0, 3.0), 0.5) == 3.0)
    assert(Stats.quantile(Seq(4.0, 1.0, 3.0, 2.0), 0.5) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("latency from a hand-built progress sequence, due times one tick apart") {
    // ten events, two per file, files due every 100 ms from t=0; the
    // query commits files 0-1 at 450 ms and files 2-4 at 900 ms
    val commits = Stats.commitTimes(Seq(Batch(4, 450.0), Batch(6, 900.0)), 10)
    val lat = (0 until 10).map(i => commits(i) - (i / 2) * 100.0)
    assert(lat == Seq(450.0, 450.0, 350.0, 350.0, 700.0, 700.0, 600.0, 600.0, 500.0, 500.0))
    assert(Stats.quantile(lat, 0.5) == 500.0)
    assert(Stats.tail(lat, 0.99) == (0.5, 500.0))
  }
}
