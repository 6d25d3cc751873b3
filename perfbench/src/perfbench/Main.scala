package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}

/** What a run reports. End-to-end metrics carry units; per-layer metrics
  * are filled only by a traced run and default to 0 for a layer the
  * workload does not exercise. */
final class Result {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  Layers.names.foreach(n => layers(n) = 0.0)
  var attempted = 0L
  var failed = 0L
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val info = mutable.ArrayBuffer.empty[String]

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = synchronized {
    checks += ((name, ok, if (ok) "" else detail))
  }
  def layer(name: String, v: Double): Unit = {
    require(layers.contains(name), s"unknown per-layer metric $name")
    layers(name) = v
  }
  def note(line: String): Unit = synchronized { info += line }
  def correct: Boolean = checks.nonEmpty && checks.forall(_._2)
}

/** Names of the per-layer metrics, in report order. */
object Layers {
  val kinds = Seq("FREE", "AND", "OR", "PHRASE", "NEAR", "BOOL", "PREFIX", "NEEDLE")
  val e2e = Seq("setup_s", "heap_mb", "throughput_per_s", "latency_ms")
  val names: Seq[String] = Seq(
    "tokenize.ns_per_token",
    "build.wall_ms", "build.driver_serial_ms", "build.jobs", "build.task_cpu_ms",
    "build.task_gc_ms", "build.shuffle_bytes", "build.spill_bytes", "build.stage_skew",
    "build.postings", "build.tokens",
    "codec.pack_ns_per_posting", "codec.decode_ns_per_posting",
    "index.write_ms", "index.bytes", "index.bytes_per_input_byte", "index.open_ms",
    "index.live_segments_before", "index.live_segments_after", "index.write_amp",
    "index.maintain_ms", "index.maintain_driver_serial_ms", "index.tombstones",
    "search.dispatch_ms", "search.walk_ms", "search.task_wait_ms", "search.merge_ms",
    "search.queue_ms", "search.generator_late_ms", "search.gc_ms", "search.p99_ms",
    "search.wand_topk_us", "search.wand_exhaustive_us") ++
    kinds.map(k => s"search.p50_ms.$k") ++ Seq(
    "search.plan_ms", "search.jobs_per_query",
    "api.append_ms", "api.delete_ms", "api.first_query_ms", "api.cached_query_ms",
    "api.query_p90_ms",
    "pipeline.jaccard_ms", "pipeline.containment_ms", "pipeline.shuffle_bytes",
    "pipeline.spill_bytes", "pipeline.stage_skew", "pipeline.driver_serial_ms",
    "pipeline.jaccard_pairs", "pipeline.containment_pairs") ++
    e2e.map(m => s"overhead.$m")
}

/** Everything a workload needs. `work` is a scratch directory inside the
  * checkout, removed by the launcher after the run. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val nproc: Int, val work: String, val tracer: Tracer,
                val res: Result) {
  lazy val vocab: Gen.Vocab = new Gen.Vocab(seed)
  def span[T](name: String, req: Long = -1L)(body: => T): T = tracer.span(name, req)(body)

  /** Runs one untimed set-up step and notes its wall time. */
  def setup[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally res.note(f"setup $name%-24s ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private var timedFrom = Double.MaxValue
  /** Marks the end of set-up: the next operation is timed. */
  def startTimed(): Unit = {
    timedFrom = Trace.toEpochMs(System.nanoTime())
    res.e2e("setup_s") = ((System.currentTimeMillis() - jvmStartMs) / 1000.0, "s")
    Host.mark()
  }
  /** Spans of the measured phase with this name. */
  def timedSpans(name: String): Seq[Span] = spansSince(name, timedFrom)
  /** The current time, for `spansSince`. */
  def mark(): Double = Trace.toEpochMs(System.nanoTime())
  def spansSince(name: String, fromMs: Double): Seq[Span] =
    tracer.named(name).filter(_.startMs >= fromMs)

  /** Repetitions of a batch operation that takes about `opSeconds`: at
    * least one, more for longer runs. A fixed count, so that a faster
    * engine does not do different work. */
  def reps(opSeconds: Double): Int = math.max(1, (seconds / opSeconds).toInt)
  /** Marks the end of the measured phase: records the host context and
    * the heap retained after a full GC, while everything the workload
    * measured (a resident index, an open LSM) is still reachable. The
    * pause lets Spark's ContextCleaner drop blocks of unreachable
    * datasets. */
  def stopTimed(): Unit = {
    res.note(Host.line())
    System.gc(); Thread.sleep(500); System.gc()
    res.e2e("heap_mb") = (ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      1048576.0, "MB")
  }

  /** Generated rows [from, until) as a Dataset, one task per core. */
  def generate[T: Encoder](from: Long, until: Long)(row: (Gen.Vocab, Long) => T): Dataset[T] = {
    import spark.implicits._
    val vB = spark.sparkContext.broadcast(vocab)
    spark.range(from, until, 1, nproc).as[Long]
      .mapPartitions(it => { val v = vB.value; it.map(i => row(v, i)) })
  }
  /** Generated source files [from, until). */
  def rows(from: Long, until: Long): Dataset[SrcRow] = {
    import spark.implicits._
    val s = seed
    generate(from, until)((v, i) => Gen.row(v, s, i))
  }

  /** Runs `op`, counting it as attempted and, if it throws, as failed. */
  def attempt[T](op: => T): Option[T] = {
    synchronized(res.attempted += 1)
    try Some(op)
    catch {
      case e: Exception =>
        synchronized(res.failed += 1)
        res.note(s"operation failed: $e")
        None
    }
  }

  def rmTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
  }

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }
}

/** Host context recorded with every run, to explain an outlying one. Not
  * gated. */
object Host {
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def cpu: Array[Long] = {
    val l = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1)
    l.map(_.toLong)
  }
  private def load1: String =
    Files.readString(Paths.get("/proc/loadavg")).trim.split(" ").head
  private var at: (Long, Long, Array[Long], String) = null
  def mark(): Unit = at = (gcMs, jitMs, try cpu catch { case _: Exception => Array.empty[Long] },
    try load1 catch { case _: Exception => "?" })
  def line(): String = {
    val (g0, j0, c0, l0) = at
    val c1 = try cpu catch { case _: Exception => Array.empty[Long] }
    val steal = if (c0.length > 7 && c1.length > 7) {
      val d = c1.zip(c0).map { case (a, b) => a - b }
      val tot = d.take(8).sum
      if (tot > 0) f"${100.0 * d(7) / tot}%.2f%%" else "0%"
    } else "?"
    s"host: load1_start=$l0 load1_end=${try load1 catch { case _: Exception => "?" }} " +
      s"steal=$steal gc_ms=${gcMs - g0} jit_ms=${jitMs - j0} " +
      s"cpus=${Runtime.getRuntime.availableProcessors}"
  }
}

object Main {
  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(name)
    require(i >= 0 && i + 1 < args.length, s"missing $name")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toDouble
    val trace = arg(args, "--trace") == "1"
    val nproc = arg(args, "--nproc").toInt
    val work = arg(args, "--work")
    val out = Paths.get(arg(args, "--out"))
    val traceFile = arg(args, "--trace-file")
    val run: Ctx => Unit = workload match {
      case "build" => BuildWorkload.run
      case "serve" => ServeWorkload.run
      case "lsm" => LsmWorkload.run
      case "neardup" => NeardupWorkload.run
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.default.parallelism", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.checkpoint.dir", s"$work/checkpoint")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoint")
    val res = new Result
    val tracer = new Tracer(trace, spark.sparkContext)
    val ctx = new Ctx(spark, seed, seconds, nproc, work, tracer, res)
    try {
      run(ctx)
      if (trace) {
        tracer.drain()
        Files.write(Paths.get(traceFile), tracer.jsonLines().toSeq.asJava)
        spanSummary(tracer).foreach(res.note)
      }
    } catch {
      case e: Throwable =>
        res.check("workload completed", ok = false, e.toString)
        e.printStackTrace()
    }
    writeResult(out, workload, res)
    spark.stop()
  }

  /** Per span name: calls, total and self time. */
  private def spanSummary(t: Tracer): Seq[String] =
    t.spans.asScala.toSeq.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      f"span $n%-28s calls=${ss.size}%5d total_ms=${ss.map(_.durNs).sum / 1e6}%10.1f " +
        f"self_ms=${ss.map(t.selfNs).sum / 1e6}%10.1f"
    }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  private def writeResult(out: Path, workload: String, r: Result): Unit = {
    val e2e = r.e2e.map { case (k, (v, u)) => s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)}}" }
    val layers = r.layers.map { case (k, v) => s"${str(k)}:${num(v)}" }
    val checks = r.checks.map { case (n, ok, d) => s"{\"name\":${str(n)},\"ok\":$ok,\"detail\":${str(d)}}" }
    val json = s"""{"workload":${str(workload)},"correct":${r.correct},""" +
      s""""attempted":${r.attempted},"failed":${r.failed},""" +
      s""""e2e":{${e2e.mkString(",")}},"layers":{${layers.mkString(",")}},""" +
      s""""checks":[${checks.mkString(",")}],"info":[${r.info.map(str).mkString(",")}]}"""
    Files.writeString(out, json)
  }
}
