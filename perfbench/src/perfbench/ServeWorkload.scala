package perfbench

import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

/** `serve`: BM25 top-10 through the resident serving tier. Per-partition
  * WAND walks, codec decode and the driver merge carry the load; build
  * runs only in set-up.
  *
  * Set-up builds and writes a positional index, opens it with
  * `IndexStorage.read` + `new ServingSearcher`, and warms it with an
  * untimed closed loop. The measured phase is `Windows` windows, each an
  * open loop followed by a closed loop, so both loops sample the same host
  * conditions and a disturbance that hits one window moves one of eight
  * values. The open loop has seeded Poisson arrivals at a fixed rate,
  * served by nproc workers, each request timed from when it was due; the
  * closed loop has nproc clients. Each metric is the median over the
  * windows. A smaller `probe` runs one window over the index of the
  * `build` workload, in its traced run. */
object ServeWorkload {
  val Docs = 15000L
  val K = 10
  /** Open-loop arrival rate: about a third of the closed-loop capacity
    * measured on the commit that introduced the benchmark. Fixed, so that a
    * faster engine shows as lower latency at the same load. */
  val RatePerS = 50.0
  /** Latency limit of the open loop (about 4x that commit's p50). A failed
    * request counts as a miss. */
  val LimitMs = 60.0
  /** At least this many open-loop requests, so that the p99 has ten
    * samples beyond it. */
  val MinOpen = 1000
  /** Share of the run's seconds spent in the open loop. */
  val OpenShare = 5.0 / 6
  val Windows = 8
  val Pool = 4000
  /** Untimed closed loop before the first timer: long enough that the JIT
    * has compiled most of the query path. */
  val WarmSeconds = 8.0
  /** The probe: a shorter warm-up and one window of this many requests. */
  val ProbeWarmSeconds = 3.0
  val ProbeOpen = 300
  val ProbeClosedSeconds = 1.0

  def run(c: Ctx): Unit = {
    val segDir = c.setup("build + write index") {
      val b = c.span("SegmentBuilder.build")(
        Engine.buildRows(c.spark, c.rows(0, Docs), c.nproc, positional = true))
      val d = c.span("IndexStorage.write")(Engine.write(b.seg, s"${c.work}/index"))
      Engine.unpersist(b.seg)
      d
    }
    session(c, segDir, Docs, timed = true)
  }

  /** Serves the index another workload wrote from `docs` generated rows,
    * after its measured phase, for the serving-tier per-layer metrics; sets
    * no end-to-end metric. */
  def probe(c: Ctx, segDir: String, docs: Long): Unit = session(c, segDir, docs, timed = false)

  private def session(c: Ctx, segDir: String, docs: Long, timed: Boolean): Unit = {
    val opened = c.mark()
    val (seg, serving) = c.setup("open index") {
      val seg = c.span("IndexStorage.read")(Engine.read(c.spark, segDir))
      (seg, c.span("ServingSearcher.new")(Engine.serving(c.spark, seg)))
    }
    val queries = c.setup("generate queries")(
      Array.tabulate(Pool)(q => Gen.query(c.vocab, c.seed, docs, q.toLong)))
    val served = new ConcurrentHashMap[Int, Long]()
    val inconsistent = new AtomicLong(0L)
    def serve(idx: Int, req: Long): Boolean =
      c.attempt(c.span("ServingSearcher.hits", req)(
        Engine.servingHits(serving, queries(idx % Pool), K))) match {
        case Some(hits) =>
          val d = Checks.digest(hits)
          val prev: Long = served.putIfAbsent(idx % Pool, d) // 0 when absent
          if (prev != 0L && prev != d) inconsistent.incrementAndGet()
          true
        case None => false
      }
    c.setup("warm-up closed loop") {
      closedLoop(c, if (timed) WarmSeconds else ProbeWarmSeconds, Pool / 2,
        (i, _) => Engine.servingHits(serving, queries(i % Pool), K))
    }

    val from = c.mark()
    if (timed) c.startTimed()
    val (n, windows, closedSeconds) =
      if (timed) (math.max(MinOpen, math.round(RatePerS * c.seconds * OpenShare).toInt), Windows,
        c.seconds * (1 - OpenShare) / Windows)
      else (ProbeOpen, 1, ProbeClosedSeconds)
    val due = Stats.poissonDue(c.seed, RatePerS, n)
    val reqs = new Array[Stats.Req](n)
    val pool = Executors.newFixedThreadPool(c.nproc)
    val windowP50 = new Array[Double](windows)
    val windowQps = new Array[Double](windows)
    for (w <- 0 until windows) {
      val (lo, hi) = (n * w / windows, n * (w + 1) / windows)
      val t0 = System.nanoTime() + 20000000L - due(lo)
      val pending = (lo until hi).map { i =>
        val dueAt = t0 + due(i)
        var now = System.nanoTime()
        while (now < dueAt) { LockSupport.parkNanos(dueAt - now); now = System.nanoTime() }
        val sent = now
        pool.submit((() => {
          val start = System.nanoTime()
          val ok = serve(i, i.toLong)
          reqs(i) = Stats.Req(dueAt, sent, start, System.nanoTime(), ok)
        }): Runnable)
      }
      pending.foreach(_.get())
      windowP50(w) = Stats.median(Stats.latencies(reqs.slice(lo, hi).toSeq))
      // the closed loop replays the open loop's queries: every repeat must
      // return the top-k served the first time
      windowQps(w) = closedLoop(c, closedSeconds, w * 100000, (j, req) => serve(j, req + n))
    }
    pool.shutdown()
    if (timed) c.stopTimed()

    val p50 = Stats.median(windowP50.toSeq)
    val qps = Stats.median(windowQps.toSeq)
    val lat = Stats.latencies(reqs.toSeq)
    val tail = Stats.tail(lat)
    if (timed) {
      c.res.e2e("throughput_per_s") = (qps, "1/s")
      c.res.e2e("latency_ms") = (p50, "ms")
    }
    val who = if (timed) "" else s"serve probe over $docs docs: "
    c.res.note(f"${who}query_p50_ms=$p50%.3f (median of $windows windows of about " +
      f"${n / windows} open-loop requests at $RatePerS%.0f/s: " +
      f"${windowP50.map(v => f"$v%.1f").mkString(", ")}); " +
      f"pooled p50=${Stats.p50(lat).map(_.value).getOrElse(Double.NaN)}%.3f over $n; " +
      tail.fold("no tail percentile")(t => f"query_p${t.p}%s_ms=${t.value}%.3f over ${t.n}") +
      s"; misses of the ${LimitMs} ms limit=${Stats.misses(reqs.toSeq, LimitMs)}")
    c.res.note(f"${who}query_qps=$qps%.1f (median of $windows closed-loop windows of " +
      f"$closedSeconds%.2f s with ${c.nproc} clients: ${windowQps.map(v => f"$v%.0f").mkString(", ")})")
    val late = Stats.tail(reqs.map(_.lateMs).toSeq)
    c.res.note(f"${who}open loop: generator late p${late.map(_.p).getOrElse(0.0)}=" +
      f"${late.map(_.value).getOrElse(0.0)}%.3f ms, max=${reqs.map(_.lateMs).max}%.3f ms")
    c.res.check("serve: repeated queries return identical top-k", inconsistent.get == 0,
      s"${inconsistent.get} repeats differed")
    c.res.note(f"${who}served top-k digest: ${Checks.combine(served)}%016x over " +
      s"${served.size} distinct queries")

    c.setup("check sample against Searcher")(Checks.serving(c, seg, serving, queries, K))
    if (c.tracer.on) {
      c.tracer.drain()
      val spans = c.spansSince("ServingSearcher.hits", from).filter(s => s.req >= 0 && s.req < n)
      layers(c, spans, reqs, queries)
      c.res.layer("index.open_ms", (c.spansSince("IndexStorage.read", opened) ++
        c.spansSince("ServingSearcher.new", opened)).map(_.durNs / 1e6).sum)
      if (timed) {
        Kernels.tokenize(c)
        Kernels.codec(c, seg)
      }
      Kernels.wand(c, seg)
    }
    Engine.closeServing(serving)
  }

  /** nproc clients, each issuing its next query when the previous one
    * returns, for `seconds`; returns completed queries per second. Client
    * t issues query numbers from + t, from + t + nproc, ... */
  def closedLoop(c: Ctx, seconds: Double, from: Int, call: (Int, Long) => Any): Double = {
    val done = new AtomicLong(0L)
    val start = System.nanoTime()
    val stop = start + (seconds * 1e9).toLong
    val ends = new Array[Long](c.nproc)
    val threads = (0 until c.nproc).map { t =>
      val th = new Thread(() => {
        var m = 0
        while (System.nanoTime() < stop) {
          val j = from + t + c.nproc * m
          call(j, j.toLong)
          done.incrementAndGet()
          m += 1
        }
        ends(t) = System.nanoTime()
      })
      th.start()
      th
    }
    threads.foreach(_.join())
    done.get / ((ends.max - start) / 1e9)
  }

  private def layers(c: Ctx, spans: Seq[Span], reqs: Array[Stats.Req], queries: Array[Q]): Unit = {
    val t = c.tracer
    val per = spans.map(s => (s, t.jobsOf(s))).filter(_._2.nonEmpty)
    def med(f: ((Span, Seq[JobRec])) => Double): Double = Stats.median(per.map(f))
    c.res.layer("search.dispatch_ms", med { case (s, js) => js.head.startMs - s.startMs })
    c.res.layer("search.merge_ms", med { case (s, js) => s.endMs - js.map(_.endMs).max })
    // CPU time of the longest task: task run times are whole ms, walks are shorter
    c.res.layer("search.walk_ms", med { case (_, js) =>
      t.tasksOf(js).map(_.cpuNs / 1e6).foldLeft(0.0)(math.max) })
    c.res.layer("search.task_wait_ms", med { case (_, js) =>
      t.tasksOf(js).map(_.launchMs - js.head.startMs).foldLeft(0L)(math.max).toDouble })
    c.res.layer("search.gc_ms", if (per.isEmpty) 0.0
      else per.map { case (_, js) => t.tasksOf(js).map(_.gcMs).sum.toDouble }.sum / per.size)
    c.res.layer("search.queue_ms", Stats.tail(reqs.map(_.queueMs).toSeq).map(_.value).getOrElse(0.0))
    c.res.layer("search.generator_late_ms",
      Stats.tail(reqs.map(_.lateMs).toSeq).map(_.value).getOrElse(0.0))
    c.res.layer("search.p99_ms",
      Stats.tail(Stats.latencies(reqs.toSeq)).map(_.value).getOrElse(0.0))
    val byKind = reqs.indices.groupBy(i => queries(i % Pool).label)
    Layers.kinds.foreach { k =>
      val ls = byKind.getOrElse(k, Nil).map(i => reqs(i).latencyMs)
      c.res.layer(s"search.p50_ms.$k", Stats.median(ls))
    }
  }
}
