package graft.index

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.build.{BuildParams, BuildReport, Segment, SegmentBuilder}
import graft.build.SegmentBuilder.{RunBuilder, TermRun}
import graft.codec.PostingCodec
import graft.model._

/** Log-structured segment rewrite — SURVEY §2.3 I7: merges
  * (`Compaction.mergeAll`) and tombstone purges.
  *
  * Segments hold disjoint, ordered docId ranges (ChunkedIndexer), but a
  * rewritten index needs GLOBAL statistics: df, idf, and avgdl all
  * change, and the per-posting impacts baked into the block-max metadata
  * with them. A rewrite therefore re-scores: every stored posting list
  * becomes a term run over the live documents (`segmentRuns`), and the
  * runs go through the builder's one posting writer
  * (`SegmentBuilder.encodeRuns`) — the dictionary is rebuilt from them,
  * termIds re-assigned densely over the surviving vocabulary, and every
  * list re-packed under the new stats. Queries over a rewritten segment
  * then prune with exactly-valid block maxima; for un-merged
  * multi-segment reads use the exhaustive (unpruned) path, whose scores
  * the stale bounds cannot corrupt.
  */
object SegmentMerger {

  /** Every stored posting list of `segs` as a term run over the `live`
    * docs. A list is already the sorted run of one (bucket, term): it is
    * joined to its own segment's dictionary on termId (one row per
    * list), cogrouped by bucket with the live docs' (docId, docLen),
    * decoded, and its live postings re-appended to a RunBuilder. A list
    * with no live posting left emits no run, so a dead term drops out of
    * the rebuilt dictionary. */
  private def segmentRuns(spark: SparkSession, segs: Seq[Segment], live: Dataset[Doc],
                          params: BuildParams): Dataset[TermRun] = {
    import spark.implicits._
    val bucketSize = params.bucketSize
    val positional = params.positional
    val lists = segs.map { s =>
      SegmentBuilder.joinDict(s.postings.toDF(),
        s.dict.select($"termId", $"term"), s.stats.numTerms, "termId")
        .select($"term", struct($"bucket", $"termId", $"numDocs", $"lastDocIds",
          $"maxImpacts", $"offsets", $"bytes").as("list"))
    }.reduce(_ unionByName _).as[(String, PostingList)]
    val lens = live.select($"docId", $"docLen").as[(Long, Int)]
    lists.groupByKey(_._2.bucket)
      .cogroup(lens.groupByKey(d => (d._1 / bucketSize).toInt)) { (bucket, ls, ds) =>
        val docs = ds.toArray
        if (docs.isEmpty) Iterator.empty[TermRun]
        else {
          // dl(docId - first), -1 where the doc is not live; ≤ bucketSize
          val first = docs.iterator.map(_._1).min
          val dl = Array.fill((docs.iterator.map(_._1).max - first + 1).toInt)(-1)
          docs.foreach { case (id, len) => dl((id - first).toInt) = len }
          ls.flatMap { case (term, pl) =>
            val c = new PostingCodec.Cursor(pl.numDocs, pl.lastDocIds,
              pl.maxImpacts, pl.offsets, pl.bytes, positional)
            val run = new RunBuilder
            var i = 0
            while (i < pl.numDocs) {
              val off = c.docId - first
              if (off >= 0 && off < dl.length && dl(off.toInt) >= 0)
                run.add(c.docId, c.tf, dl(off.toInt), if (positional) c.positions() else null)
              c.next()
              i += 1
            }
            if (run.n == 0) None else Some(TermRun(bucket, term, run.n, run.cf, run.bytes()))
          }
        }
      }
  }

  /** Rewrite `segs` down to the (persisted) `docs`: their postings
    * re-encoded under the statistics of `docs`, with `doclens` computed
    * once the postings are written and `meta` re-stamped with
    * params.segId. */
  private[index] def rewrite(spark: SparkSession, segs: Seq[Segment],
                             docs: Dataset[Doc], meta: Dataset[SegmentMeta],
                             params: BuildParams)
                            (doclens: => Dataset[DocLenBlock]): (Segment, BuildReport) = {
    import spark.implicits._
    val t0 = System.nanoTime()
    segs.foreach { s =>
      require(s.params.bucketSize == params.bucketSize,
        "segment rewrites require a uniform bucketSize")
      require(s.params.positional == params.positional,
        "segment rewrites require a uniform positional codec version")
    }
    val (numDocs, totalTokens) = docs
      .agg(count(lit(1)), coalesce(sum($"docLen".cast("long")), lit(0L)))
      .as[(Long, Long)].head()
    val avgdl = if (numDocs == 0) 1.0 else totalTokens.toDouble / numDocs
    val runs = segmentRuns(spark, segs, docs, params)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val enc = SegmentBuilder.encodeRuns(spark, runs, numDocs, avgdl, params)
    runs.unpersist()
    val blocks = doclens
    val buildMillis = (System.nanoTime() - t0) / 1000000
    enc.segment(docs, blocks,
      meta.withColumn("segId", lit(params.segId)).as[SegmentMeta],
      numDocs, avgdl, totalTokens, params, buildMillis)
  }

  /** Compaction-time tombstone PURGE — the other half of LSM deletes
    * (query-time filtering is Searcher.deletedHits). Rewrites one
    * segment without the deleted documents under RECOMPUTED global
    * statistics (df/cf per term, N, avgdl — and with them every baked
    * impact and block maximum); terms whose postings all died drop out
    * of the dictionary and termIds re-densify in term order (I1
    * invariant preserved). Surviving documents KEEP their docIds, so
    * doclen blocks carry over unchanged — entries at deleted offsets are
    * unreferenced (the Lucene posture: id re-densification happens only
    * in a full rebuild, not per compaction).
    *
    * Scale shape: one anti-join of the docmap against the delete set
    * (broadcast when small — the common case), then the rewrite's
    * per-bucket cogroup of posting lists with the surviving doc lengths;
    * no driver collect of anything corpus-sized. */
  def purge(spark: SparkSession, s: Segment, deleted: Dataset[Long],
            params: BuildParams): (Segment, BuildReport) = {
    import spark.implicits._
    val docs = s.docs.join(deleted.toDF("docId"), Seq("docId"), "left_anti").as[Doc]
      .persist(StorageLevel.MEMORY_AND_DISK)
    rewrite(spark, Seq(s), docs, s.meta, params)(s.doclens)
  }

  /** Apply the index's persisted tombstone log to one committed segment
    * — the background-compaction step of the LSM lifecycle: read the
    * delete log, purge, atomically replace the segment directory, clear
    * the consumed batches. Returns false (no work) when the log is
    * empty. Crash ordering: the purged segment commits BEFORE the log
    * clears — a crash between the two re-applies already-purged deletes
    * on the next compact, which is a no-op, never a loss. */
  def compact(spark: SparkSession, indexDir: String, segId: Long): Boolean = {
    val deleted = IndexStorage.readTombstones(spark, indexDir)
    if (deleted.isEmpty) return false
    val seg = IndexStorage.read(spark, IndexStorage.segDir(indexDir, segId).toString)
    val (purged, _) = purge(spark, seg, deleted, seg.params)
    IndexStorage.write(purged, indexDir)
    purged.unpersist()
    IndexStorage.clearTombstones(indexDir)
    true
  }
}
