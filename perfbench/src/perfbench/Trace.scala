package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced call: name, start, end, parent span and request id. Times
  * are ns on System.nanoTime; `startMs`/`endMs` put them on the epoch-ms
  * clock Spark's listener events use. */
final class Span(val id: Long, val name: String, val parent: Long,
                 val req: Long, val start: Long) {
  @volatile var end: Long = -1L
  def durNs: Long = end - start
  def startMs: Double = Trace.toEpochMs(start)
  def endMs: Double = Trace.toEpochMs(end)
}

final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long, runMs: Long,
                         cpuNs: Long, gcMs: Long, shuffleBytes: Long, spillBytes: Long) {
  def durMs: Long = finishMs - launchMs
}
final class JobRec(val jobId: Int, val group: String, val startMs: Long,
                   val stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

object Trace {
  private val nanoBase = System.nanoTime()
  private val msBase = System.currentTimeMillis().toDouble
  def toEpochMs(nano: Long): Double = msBase + (nano - nanoBase) / 1e6

  /** Length of the part of [lo, hi) covered by the union of `ivs`. */
  def covered(lo: Double, hi: Double, ivs: Seq[(Double, Double)]): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** A span's self time: its duration minus the part of it that its
    * children cover (overlapping children are counted once). */
  def selfNs(s: Span, children: Seq[Span]): Long =
    s.durNs - covered(s.start.toDouble, s.end.toDouble,
      children.map(c => (c.start.toDouble, c.end.toDouble))).toLong
}

object Tracer {
  /** The local property Spark files a job's group id under. */
  final val GroupKey = "spark.jobGroup.id"
}

/** Spans around every engine call the benchmark makes, and (only when
  * tracing) a SparkListener that files job, stage and task records. A
  * span sets the Spark job group of its thread, so jobs it starts carry
  * its id; jobs started on engine-owned threads (which keep a stale
  * inherited group) are attributed by time to the innermost span open at
  * their start. With tracing off `span` just runs its body. */
final class Tracer(val on: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong(0L)
  private val current = new ThreadLocal[Span]
  val spans = new ConcurrentLinkedQueue[Span]()
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  if (on) sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.GroupKey)))
        .getOrElse("")
      jobs.put(e.jobId, new JobRec(e.jobId, g, e.time, e.stageIds))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null && i != null)
        tasks.add(TaskRec(e.stageId, i.launchTime, i.finishTime, m.executorRunTime,
          m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  })

  def span[T](name: String, req: Long = -1L)(body: => T): T =
    if (!on) body
    else {
      val parent = current.get()
      val s = new Span(ids.incrementAndGet(), name, if (parent == null) 0L else parent.id,
        if (req >= 0 || parent == null) req else parent.req, System.nanoTime())
      val prevGroup = sc.getLocalProperty(Tracer.GroupKey)
      sc.setLocalProperty(Tracer.GroupKey, s"span-${s.id}")
      current.set(s)
      try body
      finally {
        s.end = System.nanoTime()
        current.set(parent)
        sc.setLocalProperty(Tracer.GroupKey, prevGroup)
        spans.add(s)
      }
    }

  /** Waits until the listener has seen every posted event. */
  def drain(): Unit = if (on) {
    org.apache.spark.BenchAccess.drainListeners(sc)
    index = null
  }

  // ── attribution, after the run ───────────────────────────────────────

  /** Span and job attribution, rebuilt after each `drain`, so that spans
    * recorded after a first read are attributed too. */
  private final class Index {
    val byId: Map[Long, Span] = spans.asScala.map(s => s.id -> s).toMap
    val children: Map[Long, Seq[Span]] = spans.asScala.toSeq.groupBy(_.parent)
    /** Each finished job's span. */
    val jobSpan: Map[Int, Span] = {
      val all = spans.asScala.toSeq
      jobs.asScala.values.filter(_.endMs >= 0).flatMap { j =>
        val byGroup = if (j.group.startsWith("span-"))
          byId.get(j.group.stripPrefix("span-").toLong)
            .filter(s => j.startMs >= s.startMs - 1 && j.startMs <= s.endMs + 1)
          else None
        byGroup.orElse {
          val open = all.filter(s => s.startMs - 1 <= j.startMs && j.startMs <= s.endMs + 1)
          if (open.isEmpty) None else Some(open.minBy(_.durNs))
        }.map(j.jobId -> _)
      }.toMap
    }
    val spanJobs: Map[Long, Seq[JobRec]] =
      jobSpan.toSeq.groupBy(_._2.id).map { case (id, js) =>
        id -> js.map(p => jobs.get(p._1)).sortBy(_.startMs) }
    val jobTasks: Map[Int, Seq[TaskRec]] =
      tasks.asScala.toSeq.groupBy(t => stageJob.getOrDefault(t.stageId, -1))
  }
  @volatile private var index: Index = null
  private def idx: Index = {
    if (index == null) index = new Index
    index
  }

  def named(name: String): Seq[Span] = spans.asScala.toSeq.filter(_.name == name).sortBy(_.start)
  def kids(s: Span): Seq[Span] = idx.children.getOrElse(s.id, Nil)
  def selfNs(s: Span): Long = Trace.selfNs(s, kids(s))
  /** Jobs of a span and of its descendants. */
  def jobsOf(s: Span): Seq[JobRec] =
    idx.spanJobs.getOrElse(s.id, Nil) ++ kids(s).flatMap(jobsOf)
  def tasksOf(js: Seq[JobRec]): Seq[TaskRec] = js.flatMap(j => idx.jobTasks.getOrElse(j.jobId, Nil))

  /** Span wall time not covered by any of its running jobs, in ms. */
  def driverSerialMs(s: Span): Double =
    s.durNs / 1e6 - Trace.covered(s.startMs, s.endMs,
      jobsOf(s).map(j => (j.startMs.toDouble, j.endMs.toDouble)))

  /** max/median task time in the longest stage of these jobs. */
  def stageSkew(js: Seq[JobRec]): Double = {
    val ts = tasksOf(js)
    if (ts.isEmpty) 0.0
    else {
      val longest = ts.groupBy(_.stageId).values
        .maxBy(st => st.map(_.finishMs).max - st.map(_.launchMs).min)
      val d = longest.map(_.durMs.toDouble)
      val med = Stats.median(d)
      if (med <= 0) 1.0 else d.max / med
    }
  }

  /** Spans as JSON lines: the trace file written at exit. */
  def jsonLines(): Iterator[String] = spans.asScala.toSeq.sortBy(_.start).iterator.map { s =>
    val js = idx.spanJobs.getOrElse(s.id, Nil).map(_.jobId).mkString(",")
    f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"req":${s.req},""" +
      f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,""" +
      f""""self_ms":${selfNs(s) / 1e6}%.3f,"jobs":[$js]}"""
  }
}
