package perfbench

/** The reporting rules, kept pure so the unit tests can pin them on
  * hand-built inputs.
  */
object Stats {

  /** Median of a non-empty sample (mean of the middle pair when even). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The percentile actually reported for a requested tail percentile:
    * the highest one, at most `want`, that still has at least `beyond`
    * samples above it (never below the median). With 2000 samples p99
    * stands; with 500 it degrades to p98; with 15 it is the median.
    */
  def tailRank(n: Int, want: Double, beyond: Int = 10): Double =
    math.max(0.5, math.min(want, 1.0 - beyond.toDouble / n))

  /** Nearest-rank value at quantile `q` in (0, 1]: the smallest sample
    * with at least a `q` share of the samples at or below it.
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val i = math.ceil(q * s.size - 1e-9).toInt - 1
    s(math.min(s.size - 1, math.max(0, i)))
  }

  /** [[quantile]] at the [[tailRank]] of `want`: (rank used, value). */
  def tail(xs: Seq[Double], want: Double, beyond: Int = 10): (Double, Double) = {
    val q = tailRank(xs.size, want, beyond)
    (q, quantile(xs, q))
  }

  /** One micro-batch as the benchmark sees it in
    * `StreamingQueryProgress`: the source rows it read and the wall
    * time (epoch ms) at which it committed.
    */
  final case class Batch(inputRows: Long, commitMs: Double)

  /** The commit time of each input row, by arrival index: the rows of a
    * file source are read in arrival order, so row `i` is covered by
    * the first batch whose cumulative `numInputRows` exceeds `i`. Rows
    * that no batch covers get NaN.
    */
  def commitTimes(batches: Seq[Batch], nRows: Int): Array[Double] = {
    val out = Array.fill(nRows)(Double.NaN)
    var covered = 0L
    batches.foreach { b =>
      val upto = math.min(nRows.toLong, covered + b.inputRows).toInt
      var i = covered.toInt
      while (i < upto) { out(i) = b.commitMs; i += 1 }
      covered += b.inputRows
    }
    out
  }

  /** An event is visible once every query that consumes it has
    * committed it: the later of the per-query commit times, NaN if any
    * query never covered it.
    */
  def visibleTimes(perQuery: Seq[Array[Double]]): Array[Double] =
    perQuery.reduce { (a, b) =>
      a.indices.map(i => if (a(i).isNaN || b(i).isNaN) Double.NaN
        else math.max(a(i), b(i))).toArray
    }
}
