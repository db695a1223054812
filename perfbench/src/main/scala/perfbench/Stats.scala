package perfbench

/** Order statistics and interval arithmetic shared by the workloads and
  * the trace. Pure functions: the unit tests pin them down. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail latency: the nearest-rank percentile `pct` whose value has
    * `beyond` samples strictly above its rank, out of `n`. */
  final case class Tail(pct: Double, value: Double, beyond: Int, n: Int)

  /** The highest nearest-rank percentile that keeps at least `minBeyond`
    * samples beyond it; None when there are too few samples for any. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[Tail] = {
    val s = xs.sorted
    val n = s.size
    val i = n - 1 - minBeyond // 0-based rank with exactly minBeyond above
    if (i < 0) None
    else Some(Tail(100.0 * (i + 1) / n, s(i), n - 1 - i, n))
  }

  /** Throughput of a run whose steps each make the same calls:
    * `opsPerStep` over the sum, across call names, of each name's median
    * latency less the time stolen from it. `calls` maps a call name to
    * its (latency, stolen) samples. A call slowed by a passing hiccup
    * moves no median. */
  def opsPerS(opsPerStep: Double, calls: Iterable[Seq[(Double, Double)]]): Double =
    opsPerStep / calls.map(c => median(c.map { case (t, st) => math.max(0.0, t - st) })).sum

  type Iv = (Long, Long)

  /** Sorted, disjoint union of half-open intervals. */
  def union(ivs: Seq[Iv]): List[Iv] =
    ivs.filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft(List.empty[Iv]) {
        case ((a0, b0) :: rest, (a, b)) if a <= b0 => (a0, math.max(b0, b)) :: rest
        case (acc, iv) => iv :: acc
      }.reverse

  def length(ivs: Seq[Iv]): Long = union(ivs).map { case (a, b) => b - a }.sum

  /** Parts of `base` not covered by any interval in `cut`. */
  def subtract(base: Seq[Iv], cut: Seq[Iv]): List[Iv] = {
    val c = union(cut)
    union(base).flatMap { case (a, b) =>
      val (pieces, cur) = c.foldLeft((List.empty[Iv], a)) {
        case ((acc, x), (ca, cb)) =>
          if (cb <= x || ca >= b) (acc, x)
          else (if (ca > x) (x, ca) :: acc else acc, math.max(x, cb))
      }
      (if (cur < b) (cur, b) :: pieces else pieces).reverse
    }
  }
}
