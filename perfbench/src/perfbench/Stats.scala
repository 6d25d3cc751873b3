package perfbench

/** Order statistics with the benchmark's reporting rule: a percentile is
  * reported only when at least ten samples lie beyond it, and always
  * together with its sample count. */
object Stats {

  /** Percentiles considered for the tail, highest first. */
  val Ladder: Seq[Double] = Seq(99.9, 99.0, 98.0, 95.0, 90.0, 80.0, 75.0, 50.0)

  /** Nearest-rank percentile of an ascending array. */
  def pct(sorted: Array[Double], p: Double): Double = {
    require(sorted.nonEmpty, "percentile of no samples")
    sorted(rank(sorted.length, p) - 1)
  }
  /** 1-based nearest rank of percentile p among n samples. */
  def rank(n: Int, p: Double): Int = math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)
  /** Samples strictly after the nearest-rank position of p. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  final case class Pick(p: Double, value: Double, n: Int)

  /** The highest percentile of the ladder with at least ten samples
    * beyond it, or None when there are fewer than 20 samples. */
  def tail(xs: Seq[Double]): Option[Pick] = {
    val s = xs.toArray.sorted
    Ladder.find(p => beyond(s.length, p) >= 10).map(p => Pick(p, pct(s, p), s.length))
  }
  /** The median, when at least ten samples lie beyond it. */
  def p50(xs: Seq[Double]): Option[Pick] = {
    val s = xs.toArray.sorted
    if (beyond(s.length, 50.0) >= 10) Some(Pick(50.0, pct(s, 50.0), s.length)) else None
  }

  /** Plain median (for per-layer summaries of a few values). */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Open-loop accounting for one request, all times in ns on one clock.
    * `due` is when the schedule said to send it, `sent` when the generator
    * handed it to the worker pool, `start` when a worker called the engine,
    * `end` when the call returned. Latency counts from `due`, so a stall
    * also charges the requests queued behind it. */
  final case class Req(due: Long, sent: Long, start: Long, end: Long, ok: Boolean) {
    def latencyMs: Double = (end - due) / 1e6
    def queueMs: Double = (start - due) / 1e6
    def lateMs: Double = math.max(0L, sent - due) / 1e6
  }

  /** Latency samples for percentiles: a failed request counts as a miss
    * of the limit (+infinity), so it can only raise a percentile. */
  def latencies(reqs: Seq[Req]): Seq[Double] =
    reqs.map(r => if (r.ok) r.latencyMs else Double.PositiveInfinity)

  /** Requests that missed the latency limit, failures included. */
  def misses(reqs: Seq[Req], limitMs: Double): Int =
    reqs.count(r => !r.ok || r.latencyMs > limitMs)

  /** Seeded Poisson arrival offsets (ns from the start of the phase). */
  def poissonDue(seed: Long, ratePerS: Double, n: Int): Array[Long] = {
    val r = Gen.rng(seed, 99L, 0L)
    var t = 0.0
    Array.fill(n) { t += -math.log(1.0 - r.nextDouble()) / ratePerS; (t * 1e9).toLong }
  }
}
