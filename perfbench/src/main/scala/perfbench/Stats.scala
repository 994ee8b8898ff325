package perfbench

/** Order statistics used by every workload. */
object Stats {

  /** Linear-interpolated percentile (numpy's default), `pct` in 0..100. */
  def percentile(xs: Seq[Double], pct: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val k = (s.length - 1) * pct / 100.0
    val lo = k.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (k - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The tail percentile a sample of `n` supports: the highest one, up to
    * 99, that still leaves at least ten samples beyond it. */
  def tailPct(n: Int): Double = math.max(50.0, math.min(99.0, 100.0 * (1.0 - 10.0 / n)))

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.length)

  /** Fisher–Yates shuffle driven by `rng`. */
  def shuffled[A](xs: Seq[A], rng: java.util.Random): IndexedSeq[A] = {
    val a = scala.collection.mutable.ArrayBuffer.from(xs)
    for (i <- a.indices.reverse) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toIndexedSeq
  }
}

/** Wall-clock timing of one call. */
object Clock {
  def timed[A](body: => A): (A, Long) = {
    val t0 = System.nanoTime()
    val r = body
    (r, System.nanoTime() - t0)
  }
}
