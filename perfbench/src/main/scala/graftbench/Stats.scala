package graftbench

/** Order statistics for the benchmark's reported figures. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** (q1, q2, q3) exactly as Python's `statistics.quantiles(xs, n=4)`
    * (its default "exclusive" method), so the spread this benchmark reports
    * is the one a reader recomputes from the saved per-run values.
    */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.length >= 2, "quartiles need at least two values")
    val s = xs.sorted.toIndexedSeq
    val m = s.length + 1
    def cut(i: Int): Double = {
      val j = math.min(math.max(i * m / 4, 1), s.length - 1)
      val delta = i * m - j * 4
      (s(j - 1) * (4 - delta) + s(j) * delta) / 4.0
    }
    (cut(1), cut(2), cut(3))
  }
}
