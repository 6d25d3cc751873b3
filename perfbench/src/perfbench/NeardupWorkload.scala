package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Dataset

/** `neardup`: the near-duplicate pipeline, which bypasses the index today.
  * The driver rows are called by name, so a rewrite of their
  * implementation needs no benchmark change.
  *
  * Set-up writes a `documents.parquet` with planted edited copies (~3%),
  * docs contained whole in larger docs (~1%) and a shared license-header
  * block (~5%, the hot-shingle skew), and warms both rows on a small
  * table from another seed, then runs both rows untimed over the table
  * itself: the JIT keeps compiling the pipeline for several passes. Timed:
  * `dedup_jaccard` then `dedup_containment`, `c.reps` times; the metrics
  * come from the median pass. */
object NeardupWorkload {
  val Docs = 1500L
  val WarmDocs = 300L
  val WarmPasses = 2
  /** The thresholds the two driver rows use. */
  val JaccardTau = 0.5
  val ContainmentTau = 0.8

  private def docs(c: Ctx, seed: Long, n: Long): Dataset[DocRow] = {
    import c.spark.implicits._
    c.generate(0, n)((v, i) => Gen.doc(v, seed, i, n))
  }

  def run(c: Ctx): Unit = {
    val dir = s"${c.work}/docs"
    val warm = s"${c.work}/warm"
    c.setup("generate documents")(docs(c, c.seed, Docs).write.parquet(s"$dir/documents.parquet"))
    c.setup("warm-up rows") {
      docs(c, c.seed ^ 0x5EEDL, WarmDocs).write.parquet(s"$warm/documents.parquet")
      Engine.driverRow(c.spark, "dedup_jaccard", warm)
      Engine.driverRow(c.spark, "dedup_containment", warm)
      (1 to WarmPasses).foreach { _ =>
        Engine.driverRow(c.spark, "dedup_jaccard", dir)
        Engine.driverRow(c.spark, "dedup_containment", dir)
      }
    }

    c.startTimed()
    val passes = mutable.ArrayBuffer.empty[(Double, Double)]
    var first: (Set[(Long, Long, Double)], Set[(Long, Long, Double)]) = null
    (0 until c.reps(4.0)).foreach { _ =>
      val ta = System.nanoTime()
      val jac = c.attempt(c.span("dedup_jaccard")(Engine.driverRow(c.spark, "dedup_jaccard", dir)))
      val tb = System.nanoTime()
      val con = c.attempt(c.span("dedup_containment")(
        Engine.driverRow(c.spark, "dedup_containment", dir)))
      val tc = System.nanoTime()
      passes += (((tb - ta) / 1e6, (tc - tb) / 1e6))
      val out = (jac.toSeq.flatten.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet,
        con.toSeq.flatten.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
      if (first == null) first = out
      else c.res.check(s"neardup: pass ${passes.size} equals pass 1", out == first)
    }
    c.stopTimed()
    val wall = passes.map(p => p._1 + p._2)
    val median = Stats.median(wall.toSeq)
    c.res.e2e("throughput_per_s") = (Docs / (median / 1e3), "1/s")
    c.res.e2e("latency_ms") = (median, "ms")
    c.res.note(f"neardup_docs_per_s=${Docs / (median / 1e3)}%.1f from the median of " +
      f"${passes.size} passes of $Docs docs (${wall.map(w => f"$w%.0f").mkString(", ")} ms); " +
      f"jaccard pairs=${first._1.size}, " +
      f"containment pairs=${first._2.size}")

    c.setup("verify pairs")(verify(c, dir, first._1, first._2))
    if (c.tracer.on) {
      c.tracer.drain()
      val t = c.tracer
      val jac = c.timedSpans("dedup_jaccard")
      val con = c.timedSpans("dedup_containment")
      val all = jac ++ con
      val js = all.flatMap(t.jobsOf)
      c.res.layer("pipeline.jaccard_ms", Stats.median(jac.map(_.durNs / 1e6)))
      c.res.layer("pipeline.containment_ms", Stats.median(con.map(_.durNs / 1e6)))
      c.res.layer("pipeline.shuffle_bytes", t.tasksOf(js).map(_.shuffleBytes).sum.toDouble / all.size)
      c.res.layer("pipeline.spill_bytes", t.tasksOf(js).map(_.spillBytes).sum.toDouble / all.size)
      c.res.layer("pipeline.stage_skew", Stats.median(all.map(s => t.stageSkew(t.jobsOf(s)))))
      c.res.layer("pipeline.driver_serial_ms", Stats.median(all.map(t.driverSerialMs)))
      c.res.layer("pipeline.jaccard_pairs", first._1.size.toDouble)
      c.res.layer("pipeline.containment_pairs", first._2.size.toDouble)
      Kernels.tokenize(c)
      // the LSM API, relational search and compaction layers, which only
      // the ungated `lsm` workload loads heavily
      LsmWorkload.probe(c)
    }
  }

  /** Recomputes every reported pair from `Dedup.shingles` on the driver,
    * and requires every planted pair whose true value reaches the
    * threshold. */
  private def verify(c: Ctx, dir: String, jac: Set[(Long, Long, Double)],
                     con: Set[(Long, Long, Double)]): Unit = {
    val sh: Map[Long, Set[String]] = Engine.shingles(
      c.spark.read.parquet(s"$dir/documents.parquet"))
      .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).toSet }
    def inter(a: Long, b: Long): Int = {
      val (x, y) = (sh.getOrElse(a, Set.empty[String]), sh.getOrElse(b, Set.empty[String]))
      if (x.size < y.size) x.count(y) else y.count(x)
    }
    def jacOf(a: Long, b: Long): Double = {
      val i = inter(a, b)
      i.toDouble / (sh.getOrElse(a, Set.empty).size + sh.getOrElse(b, Set.empty).size - i)
    }
    def conOf(sub: Long, sup: Long): Double =
      inter(sub, sup).toDouble / math.max(1, sh.getOrElse(sub, Set.empty).size)
    val badJ = jac.filter { case (a, b, v) =>
      !(a < b) || math.abs(jacOf(a, b) - v) > 1e-6 || jacOf(a, b) < JaccardTau }
    c.res.check("neardup: every jaccard pair recomputes from the shingles", badJ.isEmpty,
      badJ.take(3).map { case (a, b, v) => s"($a,$b) reported $v, is ${jacOf(a, b)}" }.mkString("; "))
    val badC = con.filter { case (a, b, v) =>
      a == b || math.abs(conOf(a, b) - v) > 1e-6 || conOf(a, b) < ContainmentTau }
    c.res.check("neardup: every containment pair recomputes from the shingles", badC.isEmpty,
      badC.take(3).map { case (a, b, v) => s"($a,$b) reported $v, is ${conOf(a, b)}" }.mkString("; "))

    val jKeys = jac.map(p => (p._1, p._2))
    val cKeys = con.map(p => (p._1, p._2))
    val planted = (0L until Docs).map(i => i -> Gen.role(c.seed, i, Docs))
    val edits = planted.collect { case (i, Gen.Edited(of)) if of != i => (math.min(i, of), math.max(i, of)) }
    val subs = planted.collect { case (i, Gen.Container(sub)) if sub != i => (sub, i) }
    val missJ = edits.filter(p => jacOf(p._1, p._2) >= JaccardTau && !jKeys(p))
    val missC = subs.filter(p => conOf(p._1, p._2) >= ContainmentTau && !cKeys(p))
    c.res.check(s"neardup: all ${edits.size} planted edited copies found", missJ.isEmpty,
      missJ.take(3).mkString(", "))
    c.res.check(s"neardup: all ${subs.size} planted contained docs found", missC.isEmpty,
      missC.take(3).mkString(", "))
    c.res.note(s"planted pairs below their threshold by construction: " +
      s"${edits.count(p => jacOf(p._1, p._2) < JaccardTau)} edited, " +
      s"${subs.count(p => conOf(p._1, p._2) < ContainmentTau)} contained")
  }
}
