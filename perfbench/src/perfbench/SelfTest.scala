package perfbench

/** Self-tests of the benchmark's own code (no Spark, no engine run):
  *
  *     python3 perfbench/run.py --selftest
  *
  * Runs every test and exits non-zero if any failed. */
object SelfTest {
  private var failures = 0
  private def expect(name: String, ok: Boolean, detail: => String = ""): Unit =
    if (ok) println(s"ok   $name")
    else { failures += 1; println(s"FAIL $name ${detail}") }

  def main(args: Array[String]): Unit = {
    percentiles()
    openLoop()
    selfTime()
    generator()
    checker()
    if (failures > 0) { println(s"$failures self-test(s) failed"); sys.exit(1) }
    println("all self-tests passed")
  }

  private def percentiles(): Unit = {
    val xs = (1 to 1000).map(_.toDouble)
    val t = Stats.tail(xs).get
    expect("p99 needs 10 samples beyond it: chosen at n=1000", t.p == 99.0 && t.value == 990.0,
      t.toString)
    expect("p99.9 is not chosen at n=1000", Stats.beyond(1000, 99.9) < 10)
    val t100 = Stats.tail((1 to 100).map(_.toDouble)).get
    expect("n=100 gives p90 = 90 with n reported", t100.p == 90.0 && t100.value == 90.0 &&
      t100.n == 100, t100.toString)
    expect("n=19 has no reportable percentile", Stats.tail((1 to 19).map(_.toDouble)).isEmpty &&
      Stats.p50((1 to 19).map(_.toDouble)).isEmpty)
    expect("n=20 reports its median", Stats.p50((1 to 20).map(_.toDouble)).map(_.value)
      .contains(10.0))
    expect("order of input does not matter",
      Stats.tail(xs.reverse) == Stats.tail(xs))
  }

  private def openLoop(): Unit = {
    val ms = 1000000L
    val r = Stats.Req(due = 100 * ms, sent = 103 * ms, start = 110 * ms, end = 130 * ms, ok = true)
    expect("latency counts from the due time", r.latencyMs == 30.0, r.latencyMs.toString)
    expect("queue time is due to call", r.queueMs == 10.0)
    expect("generator lateness is due to hand-off", r.lateMs == 3.0)
    val early = r.copy(sent = 99 * ms)
    expect("a request sent early is not late", early.lateMs == 0.0)
    val failed = r.copy(ok = false)
    val lat = Stats.latencies(Seq(r, failed))
    expect("a failed request counts as +infinity", lat(1).isPosInfinity)
    expect("a failed request misses the limit", Stats.misses(Seq(r, failed), 1000.0) == 1)
    // a stall charges every request queued behind it
    val reqs = (0 until 30).map(i => Stats.Req(i * 10 * ms, i * 10 * ms,
      math.max(i * 10, 200) * ms, (math.max(i * 10, 200) + 5) * ms, ok = true))
    expect("requests due during a stall carry the stall", reqs(0).latencyMs == 205.0 &&
      reqs(25).latencyMs == 5.0)
    val due = Stats.poissonDue(7L, 100.0, 20000)
    val rate = due.length / (due.last / 1e9)
    expect("seeded Poisson schedule has the asked rate", math.abs(rate - 100.0) < 3.0, rate.toString)
    expect("schedule is ascending and repeatable", due.sliding(2).forall(p => p(0) <= p(1)) &&
      due.sameElements(Stats.poissonDue(7L, 100.0, 20000)))
  }

  private def span(id: Long, parent: Long, start: Long, end: Long): Span = {
    val s = new Span(id, s"s$id", parent, -1L, start)
    s.end = end
    s
  }

  private def selfTime(): Unit = {
    val root = span(1, 0, 0, 100)
    expect("no children: self time is the duration", Trace.selfNs(root, Nil) == 100)
    val kids = Seq(span(2, 1, 10, 30), span(3, 1, 20, 50), span(4, 1, 70, 80))
    expect("overlapping children are counted once", Trace.selfNs(root, kids) == 100 - 40 - 10,
      Trace.selfNs(root, kids).toString)
    val spill = Seq(span(5, 1, 90, 150))
    expect("a child is clipped to its parent", Trace.selfNs(root, spill) == 90)
    expect("covered() of disjoint intervals sums them",
      Trace.covered(0, 10, Seq((1.0, 2.0), (4.0, 6.0))) == 3.0)
  }

  private def generator(): Unit = {
    val v1 = new Gen.Vocab(11L)
    val v1b = new Gen.Vocab(11L)
    val v2 = new Gen.Vocab(12L)
    val a = (0L until 200L).map(Gen.row(v1, 11L, _))
    val b = (0L until 200L).reverse.map(Gen.row(v1b, 11L, _)).reverse
    val c = (0L until 200L).map(Gen.row(v2, 12L, _))
    expect("same seed gives the same bytes, in any order", a == b)
    expect("a different seed gives different bytes", a.zip(c).forall(p => p._1.content != p._2.content))
    val d1 = (0L until 100L).map(Gen.doc(v1, 11L, _, 100L))
    expect("documents are deterministic", d1 == (0L until 100L).map(Gen.doc(v1b, 11L, _, 100L)))
    val q1 = (0L until 200L).map(Gen.query(v1, 11L, 1000L, _))
    expect("queries are deterministic", q1 == (0L until 200L).map(Gen.query(v1b, 11L, 1000L, _)))
    expect("the query mix covers every kind", Layers.kinds.forall(k => q1.exists(_.label == k)))
    val paths = (0L until 2000L).map(Gen.row(v1, 11L, _).path)
    expect("paths are unique", paths.distinct.size == paths.size)
    val lens = (0L until 2000L).map(i => Engine.tokenize(Gen.row(v1, 11L, i).content).length)
    expect("file length spans the log-normal range", lens.min >= 15 && lens.max > 400,
      s"${lens.min}..${lens.max}")
    val t0 = System.nanoTime()
    (0L until 5000L).foreach(Gen.row(v1, 11L, _))
    println(f"info generator: ${5000 / ((System.nanoTime() - t0) / 1e9)}%.0f rows/s on one thread")
  }

  private def checker(): Unit = {
    val want: Seq[Checks.H] = Seq((1, 10L, 3.5), (2, 11L, 2.25), (3, 12L, 1.0))
    expect("identical top-k passes", Checks.diffHits(want, want).isEmpty)
    expect("a dropped hit is caught", Checks.diffHits(want, want.take(2)).isDefined)
    expect("a reordered hit is caught", Checks.diffHits(want,
      Seq((1, 11L, 3.5), (2, 10L, 2.25), (3, 12L, 1.0))).isDefined)
    expect("a rescored hit is caught (one ulp)", Checks.diffHits(want,
      Seq((1, 10L, 3.5), (2, 11L, Math.nextUp(2.25)), (3, 12L, 1.0))).isDefined)
    val w = Seq(("a", 3.0), ("b", 2.0), ("c", 1.0), ("d", 1.0))
    expect("ties at rank k may differ in key", Checks.diffUpToTies(w,
      Seq(("a", 3.0), ("b", 2.0), ("c", 1.0), ("e", 1.0)), 4).isEmpty)
    expect("a tie above rank k may not", Checks.diffUpToTies(
      Seq(("a", 3.0), ("b", 3.0), ("c", 1.0)),
      Seq(("a", 3.0), ("x", 3.0), ("c", 1.0)), 3).isDefined)
    expect("a dropped hit is caught up to ties", Checks.diffUpToTies(w, w.take(3), 4).isDefined)
    expect("a rescored hit is caught up to ties", Checks.diffUpToTies(w,
      Seq(("a", 3.0), ("b", 2.1), ("c", 1.0), ("d", 1.0)), 4).isDefined)
    expect("scores agree to 1e-6", Checks.diffUpToTies(w,
      Seq(("a", 3.0000004), ("b", 2.0), ("c", 1.0), ("d", 1.0)), 4).isEmpty)
  }
}
