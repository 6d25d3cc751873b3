package perfbench

/** Per-layer metrics derived from spans and the Spark work filed under
  * them. Each is the median over the spans given. */
object Spans {
  private def med(xs: Seq[Double]): Double = Stats.median(xs)

  /** Build-layer metrics of `SegmentBuilder.build` or `LsmIndex.append` spans. */
  def build(c: Ctx, spans: Seq[Span]): Unit = if (spans.nonEmpty) {
    val t = c.tracer
    def tasks(s: Span) = t.tasksOf(t.jobsOf(s))
    c.res.layer("build.wall_ms", med(spans.map(_.durNs / 1e6)))
    c.res.layer("build.driver_serial_ms", med(spans.map(t.driverSerialMs)))
    c.res.layer("build.jobs", med(spans.map(t.jobsOf(_).size.toDouble)))
    c.res.layer("build.task_cpu_ms", med(spans.map(tasks(_).map(_.cpuNs).sum / 1e6)))
    c.res.layer("build.task_gc_ms", med(spans.map(tasks(_).map(_.gcMs).sum.toDouble)))
    c.res.layer("build.shuffle_bytes", med(spans.map(tasks(_).map(_.shuffleBytes).sum.toDouble)))
    c.res.layer("build.spill_bytes", med(spans.map(tasks(_).map(_.spillBytes).sum.toDouble)))
    c.res.layer("build.stage_skew", med(spans.map(s => t.stageSkew(t.jobsOf(s)))))
  }
}
