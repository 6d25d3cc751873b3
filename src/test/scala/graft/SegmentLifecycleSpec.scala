package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.build.{BuildParams, Segment, SegmentBuilder}
import graft.corpus.{DatasetCorpusSource, Synthesizer}
import graft.index.{ChunkedIndexer, Compaction, IndexStorage}
import graft.search.Searcher

/** Storage round-trip, chunked resume, and log-structured merge —
  * SURVEY §5.4 / §2.6. The load-bearing property: a chunked build,
  * a resumed build, and a merged pair are all BYTE-IDENTICAL (postings)
  * or rank-identical (queries) to the single-segment build. */
class SegmentLifecycleSpec extends SparkSpec {

  val params: BuildParams = BuildParams(numPartitions = 8, bucketSize = 64)

  def fingerprint(s: Segment): Seq[(Int, Long, Int, String)] = {
    import spark.implicits._
    s.postings.map(pl => (pl.bucket, pl.termId, pl.numDocs,
      java.util.Base64.getEncoder.encodeToString(
        java.security.MessageDigest.getInstance("SHA-256").digest(pl.bytes))))
      .collect().sortBy(r => (r._1, r._2)).toSeq
  }

  lazy val full: Segment =
    SegmentBuilder.build(spark, DatasetCorpusSource(Synthesizer.tiny(spark)), params)._1

  test("storage round-trip preserves artifacts and query results") {
    val dir = Files.createTempDirectory("graft-idx").toString
    IndexStorage.write(full, dir)
    val loaded = IndexStorage.read(spark, IndexStorage.segDir(dir, 0).toString)
    assert(loaded.stats == full.stats)
    assert(fingerprint(loaded) == fingerprint(full))
    assert(loaded.docs.count() == full.docs.count())
    // a query through the loaded (on-disk, bucket-partitioned) segment
    val sLoaded = new Searcher(spark, loaded)
    val sMem = new Searcher(spark, full)
    val term = full.dict.orderBy(desc("df")).limit(1).collect().head.term
    val a = sLoaded.hits("FREE", term, 10).collect().map(h => (h.docId, h.score)).toSeq
    val b = sMem.hits("FREE", term, 10).collect().map(h => (h.docId, h.score)).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("a stats.json with the legacy salting keys still reads") {
    val dir = Files.createTempDirectory("graft-legacy").toString
    val seg = IndexStorage.write(full, dir)
    val stats = seg.resolve("stats.json")
    val json = Files.readString(stats)
    assert(!json.contains("saltThreshold") && !json.contains("numSalts"))
    Files.writeString(stats, json.replace(""""docIdHwm":""",
      """"saltThreshold":1048576,"numSalts":16,"docIdHwm":"""))
    val loaded = IndexStorage.read(spark, seg.toString)
    assert(loaded.stats == full.stats)
    assert(loaded.params == full.params)
    assert(fingerprint(loaded) == fingerprint(full))
  }

  test("chunked build resumes: only missing chunks rebuilt, artifacts byte-identical") {
    val dir = Files.createTempDirectory("graft-chunked").toString
    val src = DatasetCorpusSource(Synthesizer.tiny(spark))
    val indexer = new ChunkedIndexer(dir, chunkDocs = 64, params)
    val (dirs1, built1) = indexer.build(spark, src)
    assert(built1 == dirs1.size && built1 == 4) // 200 docs / 64
    val fps = dirs1.map(d => fingerprint(IndexStorage.read(spark, d)))

    // simulate a crash that lost chunk 2: delete it, resume
    val lost = Paths.get(dirs1(2))
    import scala.jdk.CollectionConverters._
    Files.walk(lost).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    val (dirs2, built2) = indexer.build(spark, src)
    assert(built2 == 1, "resume must rebuild ONLY the lost chunk")
    val fps2 = dirs2.map(d => fingerprint(IndexStorage.read(spark, d)))
    assert(fps2 == fps, "resumed chunk must be byte-identical")
  }

  test("merge of two chunk segments equals the single-segment build bit-for-bit") {
    val dir = Files.createTempDirectory("graft-merge").toString
    val src = DatasetCorpusSource(Synthesizer.tiny(spark))
    // two chunks of 100 docs each (bucketSize 64 ⇒ chunk 1 starts mid-bucket;
    // exercises the slice-aware doclen blocks)
    val indexer = new ChunkedIndexer(dir, chunkDocs = 100, params.copy(bucketSize = 100))
    val (dirs, _) = indexer.build(spark, src)
    assert(dirs.size == 2)
    val segA = IndexStorage.read(spark, dirs(0))
    val segB = IndexStorage.read(spark, dirs(1))
    val (merged, _) = Compaction.mergeAll(spark, Seq(segA, segB),
      params.copy(bucketSize = 100, segId = 99))

    val mono = SegmentBuilder.build(spark, src, params.copy(bucketSize = 100))._1
    assert(merged.stats == mono.stats)
    assert(fingerprint(merged) == fingerprint(mono),
      "merged postings must be byte-identical to a from-scratch build")
    val dm = merged.dict.collect().sortBy(_.termId).toSeq
    val dd = mono.dict.collect().sortBy(_.termId).toSeq
    assert(dm == dd)

    // rank identity through the merged segment
    val sM = new Searcher(spark, merged)
    val sF = new Searcher(spark, mono)
    val terms = mono.dict.orderBy(desc("cf")).limit(3).collect().map(_.term)
    val q = terms.mkString(" ")
    val a = sM.hits("FREE", q, 20).collect().map(h => (h.rank, h.docId, h.score)).toSeq
    val b = sF.hits("FREE", q, 20).collect().map(h => (h.rank, h.docId, h.score)).toSeq
    assert(a == b && a.nonEmpty)

    // merge-on-read across the UN-merged pair (global stats, exhaustive
    // walk) must be rank-identical too — scores bit-equal to the mono build
    val multi = new graft.search.MultiSearcher(spark, Seq(segA, segB))
    for ((kind, text) <- Seq(("FREE", q), ("AND", terms.take(2).mkString(" AND ")),
      ("OR", terms.mkString(" OR ")))) {
      val m = multi.hits(kind, text, 20).collect()
        .map(h => (h.rank, h.docId, java.lang.Double.doubleToLongBits(h.score))).toSeq
      val f = sF.hits(kind, text, 20).collect()
        .map(h => (h.rank, h.docId, java.lang.Double.doubleToLongBits(h.score))).toSeq
      assert(m == f && m.nonEmpty, s"multi-segment vs merged: $kind '$text'")
    }
    merged.unpersist(); mono.unpersist()
  }
}
