package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, udf}

/** `lsm`: writes beside reads on the multi-segment LSM path. The build
  * layer does many small builds here instead of one large one; the search
  * layer runs the relational multi-segment path with tombstones,
  * result-cache invalidation and per-query planning. Compaction and purge
  * are measured here, and by a smaller `probe` in the traced run of a
  * gated workload.
  *
  * Set-up builds a base segment with `LsmIndex.append` and warms every
  * operation once. Timed, single-threaded: `rounds` rounds of append,
  * delete of about 2% of live docs by a seeded predicate, and queries of
  * which about a quarter repeat an earlier query of the same epoch (the
  * result-cache path); then `maintain()` to convergence. */
object LsmWorkload {
  final case class Plan(baseDocs: Long, appendDocs: Long, warmDocs: Long, rounds: Int,
                        freshPerRound: Int, repeatsPerRound: Int, warmQueries: Int,
                        freshChecks: Int)
  val Full = Plan(baseDocs = 4000, appendDocs = 300, warmDocs = 200, rounds = 2,
    freshPerRound = 9, repeatsPerRound = 3, warmQueries = 2, freshChecks = 6)
  /** One append/delete/query/maintain cycle, for the per-layer metrics of
    * the LSM API, relational search and compaction. */
  val Probe = Plan(baseDocs = 1000, appendDocs = 200, warmDocs = 0, rounds = 1,
    freshPerRound = 6, repeatsPerRound = 2, warmQueries = 0, freshChecks = 1)
  val K = 10

  private val Kinds = Set("FREE", "AND", "OR", "NEEDLE")

  def run(c: Ctx): Unit = cycle(c, Full, s"${c.work}/lsm", timed = true)
  /** Runs `Probe` after another workload's measured phase; sets no
    * end-to-end metric. */
  def probe(c: Ctx): Unit = cycle(c, Probe, s"${c.work}/lsm-probe", timed = false)

  private def cycle(c: Ctx, p: Plan, dir: String, timed: Boolean): Unit = {
    val total = p.baseDocs + p.warmDocs + p.appendDocs * p.rounds
    val gen = c.setup("generate keys")(
      (0L until total).map(i => Gen.row(c.vocab, c.seed, i)).toArray)
    val alive = mutable.LinkedHashSet.empty[Long]
    val deletedAt = mutable.Map.empty[String, Int] // path -> round of its delete
    val lsm = Engine.lsm(c.spark, dir, c.nproc)
    var next = 0L
    var round = 0
    def append(n: Long): Double = {
      val t0 = System.nanoTime()
      c.attempt(c.span("LsmIndex.append")(Engine.lsmAppend(lsm, c.rows(next, next + n))))
      val ms = (System.nanoTime() - t0) / 1e6
      (next until next + n).foreach(alive += _)
      next += n
      ms
    }
    def delete(): Double = {
      val r = round
      val s = c.seed
      val pred = udf((path: String) => Gen.deleted(s, r, path))
      val want = alive.filter(i => Gen.deleted(c.seed, r, gen(i.toInt).path)).toSeq
      val t0 = System.nanoTime()
      val got = c.attempt(c.span("LsmIndex.delete")(Engine.lsmDelete(lsm, pred(col("path")))))
      val ms = (System.nanoTime() - t0) / 1e6
      c.res.check(s"lsm: round $r delete count", got.contains(want.size.toLong),
        s"deleted $got, want ${want.size}")
      want.foreach { i => alive -= i; deletedAt(gen(i.toInt).path) = r }
      ms
    }
    val queries = Iterator.from(0).map(q => Gen.query(c.vocab, c.seed, p.baseDocs, q.toLong))
      .filter(q => Kinds(q.label)).take(p.warmQueries + p.freshPerRound * p.rounds).toArray
    final case class Call(round: Int, q: Q, cached: Boolean, first: Boolean, ms: Double,
                          docIds: Seq[Long])
    val calls = mutable.ArrayBuffer.empty[Call]
    def queryRound(fresh: Array[Q], repeats: Int): Unit = {
      val rr = Gen.rng(c.seed, 77L, round.toLong)
      val half = math.max(1, fresh.length / 2)
      val order = fresh.map((_, false)) ++ Array.fill(repeats)((fresh(rr.nextInt(half)), true))
      // repeats go after their original, spread over the second half of the round
      val mixed = order.take(half) ++
        scala.util.Random.javaRandomToRandom(new java.util.Random(rr.nextLong()))
          .shuffle(order.drop(half).toSeq)
      mixed.zipWithIndex.foreach { case ((q, cached), j) =>
        val t0 = System.nanoTime()
        val hits = c.attempt(c.span("LsmIndex.hits")(Engine.lsmHits(lsm, q, K)))
        calls += Call(round, q, cached, j == 0, (System.nanoTime() - t0) / 1e6,
          hits.toSeq.flatten.map(_.docId))
      }
    }

    c.setup("base segment")(append(p.baseDocs))
    if (p.warmDocs > 0) c.setup("warm-up round") {
      append(p.warmDocs); delete(); queryRound(queries.take(p.warmQueries), 1)
    }
    calls.clear()

    val written = new DirWatch(dir)
    val from = c.mark()
    if (timed) c.startTimed()
    val appendMs = mutable.ArrayBuffer.empty[Double]
    var appendedBytes = 0L
    while (round < p.rounds) {
      round += 1
      appendedBytes += (next until next + p.appendDocs)
        .map(i => gen(i.toInt).content.getBytes(StandardCharsets.UTF_8).length.toLong).sum
      appendMs += append(p.appendDocs)
      written.scan()
      delete()
      written.scan()
      queryRound(queries.slice(p.warmQueries + p.freshPerRound * (round - 1),
        p.warmQueries + p.freshPerRound * round), p.repeatsPerRound)
    }
    val segsBefore = Engine.lsmLiveSegmentCount(dir)
    val tombstones = Engine.lsmTombstones(c.spark, dir)
    val keysBefore = c.setup("docmap before maintain")(
      Engine.lsmLiveSegments(lsm).flatMap(Engine.docKeys).toMap)
    val t0 = System.nanoTime()
    c.attempt(c.span("LsmIndex.maintain")(Engine.lsmMaintain(lsm)))
    val maintainMs = (System.nanoTime() - t0) / 1e6
    if (timed) c.stopTimed()
    written.scan()

    val lat = calls.map(_.ms).toSeq
    val p50 = Stats.p50(lat)
    val tail = Stats.tail(lat)
    val appendRate = p.appendDocs * p.rounds / (appendMs.sum / 1e3)
    if (timed) {
      c.res.e2e("throughput_per_s") = (appendRate, "1/s")
      c.res.e2e("latency_ms") = (p50.map(_.value).getOrElse(Double.NaN), "ms")
    }
    c.res.note(f"${if (timed) "" else "lsm probe: "}append_docs_per_s=$appendRate%.1f; " +
      p50.fold("no lsm_query_p50_ms, ")(m => f"lsm_query_p50_ms=${m.value}%.3f, ") +
      tail.fold("no tail")(t => f"lsm_query_p${t.p}_ms=${t.value}%.3f") +
      s" over ${lat.size} queries (${calls.count(_.cached)} repeats); " +
      f"maintain_s=${maintainMs / 1e3}%.3f")

    c.setup("checks")(check(c, lsm, dir, gen, alive, deletedAt, keysBefore,
      calls.map(cl => (cl.round, cl.q, cl.docIds)).toSeq, p.freshChecks))

    c.res.layer("index.maintain_ms", maintainMs)
    c.res.layer("index.live_segments_before", segsBefore)
    c.res.layer("index.live_segments_after", Engine.lsmLiveSegmentCount(dir))
    c.res.layer("index.tombstones", tombstones.toDouble)
    c.res.layer("index.write_amp", written.bytes.toDouble / appendedBytes)
    c.res.layer("api.query_p90_ms", tail.map(_.value).getOrElse(0.0))
    if (c.tracer.on) {
      c.tracer.drain()
      val t = c.tracer
      def since(name: String) = c.spansSince(name, from)
      if (timed) Spans.build(c, since("LsmIndex.append"))
      c.res.layer("api.append_ms", Stats.median(since("LsmIndex.append").map(_.durNs / 1e6)))
      c.res.layer("api.delete_ms", Stats.median(since("LsmIndex.delete").map(_.durNs / 1e6)))
      val qs = since("LsmIndex.hits").zip(calls)
      c.res.layer("api.first_query_ms", Stats.median(qs.filter(_._2.first).map(_._1.durNs / 1e6)))
      c.res.layer("api.cached_query_ms", Stats.median(qs.filter(_._2.cached).map(_._1.durNs / 1e6)))
      val uncached = qs.filterNot(_._2.cached).map(_._1).map(s => (s, t.jobsOf(s)))
      c.res.layer("search.plan_ms", Stats.median(uncached.filter(_._2.nonEmpty)
        .map { case (s, js) => js.head.startMs - s.startMs }))
      c.res.layer("search.jobs_per_query",
        uncached.map(_._2.size.toDouble).sum / math.max(1, uncached.size))
      t.named("LsmIndex.maintain").lastOption.foreach(s =>
        c.res.layer("index.maintain_driver_serial_ms", t.driverSerialMs(s)))
      if (timed) {
        Kernels.tokenize(c)
        Kernels.codec(c, Engine.lsmLiveSegments(lsm).head)
      }
    }
  }

  private def check(c: Ctx, lsm: Engine.Lsm, dir: String, gen: Array[SrcRow],
                    alive: collection.Set[Long], deletedAt: collection.Map[String, Int],
                    keysBefore: Map[Long, (String, String)],
                    calls: Seq[(Int, Q, Seq[Long])], freshChecks: Int): Unit = {
    val stale = calls.flatMap { case (r, q, ids) =>
      ids.flatMap(keysBefore.get).filter(k => deletedAt.get(k._2).exists(_ <= r))
        .map(k => s"round $r '${q.text}' -> ${k._2}")
    }
    c.res.check("lsm: no deleted doc in any hit", stale.isEmpty, stale.take(3).mkString("; "))
    val segs = Engine.lsmLiveSegments(lsm)
    val live = segs.map(Engine.numDocs).sum
    c.res.check("lsm: live docs after maintain == appended - deleted", live == alive.size,
      s"$live live, want ${alive.size}")
    val tomb = Engine.lsmTombstones(c.spark, dir)
    c.res.check("lsm: no tombstones after maintain", tomb == 0, s"$tomb remain")

    // a fresh build over the surviving rows ranks the sample the same way
    val keysAfter = segs.flatMap(Engine.docKeys).toMap
    val ids = alive.toSeq
    val v = c.vocab
    val s = c.seed
    import c.spark.implicits._
    val fresh = Engine.buildRows(c.spark,
      c.spark.createDataset(ids).repartition(c.nproc).map(i => Gen.row(v, s, i)),
      c.nproc, positional = false)
    val freshKeys = Engine.docKeys(fresh.seg)
    val searcher = Engine.searcher(c.spark, fresh.seg)
    calls.filter(_._1 == calls.last._1).map(_._2).distinct.take(freshChecks).foreach { q =>
      val got = Engine.lsmHits(lsm, q, K).toSeq.map(h => (keysAfter(h.docId)._2, h.score))
      val want = Engine.searcherHits(searcher, q, K).toSeq.map(h => (freshKeys(h.docId)._2, h.score))
      val d = Checks.diffUpToTies(want, got, K)
      c.res.check(s"lsm: '${q.text}' after maintain == fresh build", d.isEmpty, d.getOrElse(""))
    }
    Engine.unpersist(fresh.seg)
  }
}

/** Bytes written under a directory: files new or changed since the last
  * scan are counted at their current size. */
final class DirWatch(dir: String) {
  private val seen = mutable.Map.empty[String, (Long, Long)]
  var bytes = 0L
  scan()
  bytes = 0L
  def scan(): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
        val key = (Files.size(f), Files.getLastModifiedTime(f).toMillis)
        if (!seen.get(f.toString).contains(key)) { bytes += key._1; seen(f.toString) = key }
      }
      finally s.close()
    }
  }
}
