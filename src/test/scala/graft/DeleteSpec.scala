package graft

import org.apache.spark.sql.functions._

import graft.build.{BuildParams, SegmentBuilder}
import graft.corpus.{DatasetCorpusSource, Synthesizer}
import graft.index.{IndexStorage, SegmentMerger}
import graft.search.{ExactScorer, Searcher}

/** LSM deletes: query-time tombstone filtering (global stats unchanged)
  * and compaction-time purge (stats, df, impacts all recomputed). */
class DeleteSpec extends SparkSpec {

  lazy val seg = {
    val (s, _) = SegmentBuilder.build(spark,
      DatasetCorpusSource(Synthesizer.corpus(spark, 400L)),
      BuildParams(numPartitions = 4, bucketSize = 64, positional = true))
    s
  }
  lazy val searcher = new Searcher(spark, seg)

  private def deletedSet: Set[Long] =
    seg.docs.filter(col("docId") % 5 === 2)
      .select(col("docId")).collect().map(_.getLong(0)).toSet

  private def deletedDs = {
    import spark.implicits._
    val ids = deletedSet.toSeq.sorted
    spark.createDataset(ids)
  }

  test("deletedHits == global ranking minus tombstones (same global stats)") {
    val terms = seg.dict.orderBy(desc("df")).limit(3).collect().map(_.term)
    val dels = deletedSet
    assert(dels.nonEmpty)
    for (q <- Seq(s"${terms(0)} ${terms(1)}", s"${terms(0)} AND ${terms(1)}",
        s"(${terms(0)} OR ${terms(1)}) AND ${terms(2)}")) {
      val kind = graft.search.QueryParser.parse(q)._1
      val got = searcher.deletedHits(kind, q, 10, "t5", deletedDs).collect()
        .map(h => (h.docId, h.score)).toSeq
      // oracle: full exhaustive ranking, tombstoned docs dropped, top 10
      val want = searcher.hitsExhaustive(kind, q, seg.stats.numDocs.toInt)
        .collect().filter(h => !dels(h.docId))
        .sortBy(h => (-h.score, h.docId)).take(10)
        .map(h => (h.docId, h.score)).toSeq
      assert(got.nonEmpty && got == want, s"kind=$kind q=$q")
      assert(got.forall(h => !dels(h._1)))
    }
  }

  test("tombstones compose with a fielded filter") {
    val lang = seg.docs.groupBy(col("lang")).count()
      .orderBy(desc("count")).limit(1).collect().head.getString(0)
    val langDocs = seg.docs.filter(col("lang") === lang)
      .select(col("docId")).collect().map(_.getLong(0)).toSet
    val dels = deletedSet
    val terms = seg.dict.orderBy(desc("df")).limit(2).collect().map(_.term)
    val q = s"${terms(0)} ${terms(1)}"
    val got = searcher.fieldedDeletedHits("FREE", q, 10, "lang", lang,
      "t5", deletedDs).collect().map(h => (h.docId, h.score)).toSeq
    val want = searcher.hitsExhaustive("FREE", q, seg.stats.numDocs.toInt)
      .collect().filter(h => langDocs(h.docId) && !dels(h.docId))
      .sortBy(h => (-h.score, h.docId)).take(10)
      .map(h => (h.docId, h.score)).toSeq
    assert(got.nonEmpty && got == want)
  }

  test("purge == building from scratch over the surviving corpus") {
    import spark.implicits._
    val dels = deletedSet
    val (purged, report) = SegmentMerger.purge(spark, seg, deletedDs, seg.params)
    assert(report.numDocs == seg.stats.numDocs - dels.size)

    // survivors keep their docIds; deleted docs vanish from the docmap
    val purgedIds = purged.docs.select(col("docId")).collect().map(_.getLong(0)).toSet
    assert(purgedIds.intersect(dels).isEmpty)
    assert(purgedIds.size.toLong == report.numDocs)

    // fresh build over the filtered corpus (dense ids reassigned — the
    // (repo, path) key is the stable identity across the two id spaces)
    val byId = seg.docs.select(col("docId"), col("path")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val keepPaths = byId.filterNot { case (id, _) => dels(id) }.values.toSet
    val corpus = Synthesizer.corpus(spark, 400L).filter(r => keepPaths(r.path))
    val (fresh, _) = SegmentBuilder.build(spark, DatasetCorpusSource(corpus),
      seg.params.copy(segId = 99L))

    // identical statistics
    assert(purged.stats.numDocs == fresh.stats.numDocs)
    assert(math.abs(purged.stats.avgDocLen - fresh.stats.avgDocLen) < 1e-12)
    assert(purged.stats.numTerms == fresh.stats.numTerms)
    assert(purged.stats.numPostings == fresh.stats.numPostings)

    // identical dictionaries (dense ids over the surviving vocabulary)
    val dictP = purged.dict.collect().sortBy(_.termId).map(e => (e.termId, e.term, e.df, e.cf))
    val dictF = fresh.dict.collect().sortBy(_.termId).map(e => (e.termId, e.term, e.df, e.cf))
    assert(dictP.toSeq == dictF.toSeq)

    // identical ranked results (scores exact; docs matched by path)
    val terms = fresh.dict.orderBy(desc("df")).limit(2).collect().map(_.term)
    val q = s"${terms(0)} ${terms(1)}"
    val freshPath = fresh.docs.select(col("docId"), col("path")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val hitsP = new Searcher(spark, purged).hits("FREE", q, 10).collect()
      .map(h => (byId(h.docId), h.score)).toSeq
    val hitsF = new Searcher(spark, fresh).hits("FREE", q, 10).collect()
      .map(h => (freshPath(h.docId), h.score)).toSeq
    assert(hitsP.nonEmpty && hitsP == hitsF)

    // positional artifacts survive the purge: phrase queries still work
    val hp = new Searcher(spark, purged).hits("PHRASE", "\"" + q + "\"", 5).collect()
    val hf = new Searcher(spark, fresh).hits("PHRASE", "\"" + q + "\"", 5).collect()
    assert(hp.map(h => (byId(h.docId), h.score)).toSeq ==
      hf.map(h => (freshPath(h.docId), h.score)).toSeq)

    fresh.unpersist(); purged.unpersist()
  }

  test("purged postings contain no deleted doc and no dead term") {
    val dels = deletedSet
    val (purged, _) = SegmentMerger.purge(spark, seg, deletedDs, seg.params)
    val rows = ExactScorer.decodedPostings(spark, purged).collect()
    assert(rows.nonEmpty && rows.forall(r => !dels(r._2)))
    val liveTids = purged.dict.collect().map(_.termId).toSet
    assert(rows.map(_._1).toSet.subsetOf(liveTids))
    // every dict term still has at least one posting (dead terms dropped)
    assert(liveTids.subsetOf(rows.map(_._1).toSet))
    purged.unpersist()
  }

  test("positional purge postings equal the reference index over the survivors") {
    import spark.implicits._
    val dels = deletedSet
    val (purged, _) = SegmentMerger.purge(spark, seg, deletedDs, seg.params)
    // survivors keep their docIds: the reference indexes them at those ids
    val survivors = seg.docs.join(Synthesizer.corpus(spark, 400L), Seq("repo", "path", "commit"))
      .select($"docId", $"content").as[(Long, String)].collect().toSeq
      .filterNot(r => dels(r._1))
    val ref = new ReferenceIndex(survivors, seg.params.bucketSize, positional = true)
    def fingerprint(pls: Seq[graft.model.PostingList]) =
      pls.map(pl => (pl.bucket, pl.termId, pl.numDocs, pl.lastDocIds.toSeq,
        pl.maxImpacts.toSeq, pl.offsets.toSeq, pl.bytes.toSeq)).sortBy(r => (r._1, r._2))
    assert(fingerprint(purged.postings.collect().toSeq) == fingerprint(ref.postings))
    assert(purged.dict.collect().sortBy(_.termId).toSeq == ref.dict)
    assert(purged.stats.numDocs == ref.numDocs && purged.stats.avgDocLen == ref.avgdl)
    purged.unpersist()
  }

  test("serving tier deleted hits are bit-identical to the relational path") {
    val serving = new graft.search.ServingSearcher(spark, seg)
    val terms = seg.dict.orderBy(desc("df")).limit(2).collect().map(_.term)
    for ((kind, q) <- Seq(("FREE", s"${terms(0)} ${terms(1)}"),
        ("AND", s"${terms(0)} AND ${terms(1)}"))) {
      val got = serving.deletedHits(kind, q, 10, "t5", deletedDs)
        .map(h => (h.rank, h.docId, h.score)).toSeq
      val want = searcher.deletedHits(kind, q, 10, "t5-rel", deletedDs).collect()
        .map(h => (h.rank, h.docId, h.score)).toSeq
      assert(got.nonEmpty && got == want, s"kind=$kind")
    }
    serving.close()
  }

  test("compact applies the delete log to a stored segment and clears it") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString
    IndexStorage.write(seg, dir)
    assert(!SegmentMerger.compact(spark, dir, seg.params.segId),
      "empty delete log must be a no-op")
    val dels = deletedSet
    IndexStorage.appendTombstones(spark, dir, deletedDs)
    assert(SegmentMerger.compact(spark, dir, seg.params.segId))
    // consumed batches cleared; replacement committed
    assert(IndexStorage.readTombstones(spark, dir).count() == 0L)
    val re = IndexStorage.read(spark,
      IndexStorage.segDir(dir, seg.params.segId).toString)
    assert(re.stats.numDocs == seg.stats.numDocs - dels.size)
    val ids = re.docs.select(col("docId")).collect().map(_.getLong(0)).toSet
    assert(ids.intersect(dels).isEmpty)
    // queries over the re-read compacted segment == in-memory purge
    val (purged, _) = SegmentMerger.purge(spark, seg, deletedDs, seg.params)
    val terms = seg.dict.orderBy(desc("df")).limit(2).collect().map(_.term)
    val q = s"${terms(0)} ${terms(1)}"
    val got = new Searcher(spark, re).hits("FREE", q, 10).collect()
      .map(h => (h.docId, h.score)).toSeq
    val want = new Searcher(spark, purged).hits("FREE", q, 10).collect()
      .map(h => (h.docId, h.score)).toSeq
    assert(got.nonEmpty && got == want)
    purged.unpersist()
  }

  test("tombstone log: append, read-union-distinct, clear") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-del").toString
    assert(IndexStorage.readTombstones(spark, dir).count() == 0L)
    IndexStorage.appendTombstones(spark, dir, spark.createDataset(Seq(1L, 2L, 3L)))
    IndexStorage.appendTombstones(spark, dir, spark.createDataset(Seq(3L, 7L)))
    val got = IndexStorage.readTombstones(spark, dir).collect().sorted.toSeq
    assert(got == Seq(1L, 2L, 3L, 7L))
    IndexStorage.clearTombstones(dir)
    assert(IndexStorage.readTombstones(spark, dir).count() == 0L)
  }
}
