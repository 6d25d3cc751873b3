package graft.tools

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import graft.build.{BuildParams, SegmentBuilder}
import graft.corpus.{DatasetCorpusSource, Synthesizer}

/** Ad-hoc build profiler: per-Spark-job wall clock, summed task CPU and
  * shuffle-write bytes for one segment build over the synthetic corpus
  * (wall time alone hides a job whose tasks burn CPU on several cores).
  * Not part of the driver contract. */
object BuildProfile {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val docs = args.headOption.map(_.toLong).getOrElse(20000L)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new ConcurrentHashMap[Int, (String, Long)]()
    // per job: summed task CPU ns and shuffle-write bytes, filed through
    // the stage → job map taken at job start
    val stageJob = new ConcurrentHashMap[Int, Int]()
    val jobCpuNs = new ConcurrentHashMap[Int, AtomicLong]()
    val jobShuffleBytes = new ConcurrentHashMap[Int, AtomicLong]()
    // Serial decomposition: wall time NOT covered by any running job is
    // driver-side serial (codegen compile, plan analysis, collects'
    // driver half, scheduling gaps) — the Amdahl term of the scaling
    // criterion. Track a running-jobs count and accumulate uncovered
    // gaps between a trial's jobs.
    val running = new java.util.concurrent.atomic.AtomicInteger(0)
    val lastIdle = new java.util.concurrent.atomic.AtomicLong(-1L)
    val gapNanos = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = {
        if (running.getAndIncrement() == 0) {
          val idleSince = lastIdle.get()
          if (idleSince >= 0) gapNanos.addAndGet((s.time - idleSince) * 1000000L)
        }
        s.stageIds.foreach(st => stageJob.put(st, s.jobId))
        jobCpuNs.put(s.jobId, new AtomicLong(0L))
        jobShuffleBytes.put(s.jobId, new AtomicLong(0L))
        jobs.put(s.jobId, (Option(s.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(s.properties).flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?"), s.time))
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) Option(stageJob.get(t.stageId)).foreach { job =>
          jobCpuNs.get(job).addAndGet(t.taskMetrics.executorCpuTime)
          jobShuffleBytes.get(job).addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        if (running.decrementAndGet() == 0) lastIdle.set(e.time)
        val (desc, t0) = jobs.getOrDefault(e.jobId, ("?", e.time))
        val cpuMs = Option(jobCpuNs.get(e.jobId)).map(_.get / 1e6).getOrElse(0.0)
        val shuffle = Option(jobShuffleBytes.get(e.jobId)).map(_.get).getOrElse(0L)
        println(f"[job ${e.jobId}%3d] ${(e.time - t0) / 1000.0}%7.2fs  " +
          f"cpu=$cpuMs%9.0fms  shuffleWrite=$shuffle%12dB  $desc")
      }
    })

    val trials = sys.env.getOrElse("SPARK_GRAFT_TRIALS", "1").toInt
    val times = (1 to trials).map { t =>
      gapNanos.set(0L); lastIdle.set(-1L)
      val t0 = System.nanoTime()
      val (seg, report) = SegmentBuilder.build(spark,
        DatasetCorpusSource(Synthesizer.corpus(spark, docs, 400)),
        BuildParams(numPartitions = sys.env.getOrElse("SPARK_GRAFT_PARTS", cpus).toInt,
          bucketSize = 1L << 12,
          positional = sys.env.getOrElse("SPARK_GRAFT_POSITIONAL", "0") == "1"))
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"TOTAL trial=$t $sec%.2fs  uncoveredGaps=${gapNanos.get / 1e9}%.2fs  report=${report.json}")
      seg.unpersist()
      spark.sharedState.cacheManager.clearCache()
      sec
    }
    println(f"BEST ${times.min}%.2fs  docsPerSecBest=${docs / times.min}%.0f cpus=$cpus")
    spark.stop()
  }
}
