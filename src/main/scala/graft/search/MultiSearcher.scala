package graft.search

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.build.Segment
import graft.model._

/** Merge-on-read queries across multiple un-compacted segments —
  * the LSM read path before SegmentMerger compaction runs.
  *
  * BM25 statistics must be GLOBAL for scores to be comparable across
  * segments: N and avgdl combine from the segment stats; df per query
  * term sums across the per-segment dictionaries (each segment has its
  * own termId space, so idf maps are keyed per segment). Because stored
  * block maxima were computed under per-segment stats, they are NOT valid
  * bounds under global stats — this path therefore always uses the
  * exhaustive per-bucket walk (OrWalk.Exhaustive); compact with
  * SegmentMerger to get WAND pruning back. Results are rank-identical to
  * querying the merged segment (proven in SegmentLifecycleSpec).
  */
final class MultiSearcher(spark: SparkSession, segments: Seq[Segment]) {
  import spark.implicits._

  require(segments.nonEmpty)
  private val searchers = segments.map(s => new Searcher(spark, s))

  private lazy val (numDocs: Long, avgdl: Double) = QueryPlan.globalStats(segments)

  def hits(kind: String, text: String, k: Int, qid: Long = 0L): Dataset[Hit] =
    hitsInternal(kind, text, k, qid, None)

  /** Fielded (`lang:x`-style) queries across segments: each segment
    * builds and caches its own per-bucket bitset from ITS docmap (the
    * Searcher.docFilter mechanism); global statistics, same
    * filter-doesn't-rescale contract as the single-segment path. */
  def fieldedHits(kind: String, text: String, k: Int, field: String,
                  value: String, qid: Long = 0L): Dataset[Hit] =
    hitsInternal(kind, text, k, qid, None, Some((field, value)))

  /** Fielded + live tombstones — both per-segment bitsets compose. */
  def fieldedDeletedHits(kind: String, text: String, k: Int, field: String,
                         value: String, tag: String,
                         deleted: => Dataset[Long], qid: Long = 0L): Dataset[Hit] =
    hitsInternal(kind, text, k, qid, Some((tag, () => deleted)),
      Some((field, value)))

  /** Merge-on-read with a tombstone set excluded — live deletes over an
    * un-compacted multi-segment index. DocId ranges are disjoint across
    * segments, so every segment probes the SAME global tombstone bitset
    * (built once per tag per segment, buckets outside a segment's range
    * are simply never probed). Scores keep the pre-delete global stats. */
  def deletedHits(kind: String, text: String, k: Int, tag: String,
                  deleted: => Dataset[Long], qid: Long = 0L): Dataset[Hit] =
    hitsInternal(kind, text, k, qid, Some((tag, () => deleted)))

  /** Each segment resolves the kind against ITS OWN dictionary (PREFIX/
    * REGEX/BOOL patterns expand per segment; termId spaces differ); a BOOL
    * compiles over each segment's own slot layout, a term or phrase member
    * missing there being constant-false — correct, since it truly does
    * not occur in that segment's docs. */
  private def hitsInternal(kind: String, text: String, k: Int, qid: Long,
                           tomb: Option[(String, () => Dataset[Long])],
                           fielded: Option[(String, String)] = None): Dataset[Hit] = {
    val plans = QueryPlan.lowerGlobal(kind, text, k, numDocs, avgdl, segments,
      searchers.map(_.entriesFor(kind, text)), searchers.map(s => s.expand _))
    val scored = searchers.zip(plans).collect { case (searcher, Some(plan)) =>
      searcher.scoredRaw(plan,
        fielded.map { case (f, v) => searcher.docFilter(f, v) }.orNull,
        tomb.map { case (tag, d) => searcher.tombstoneFilter(tag, d()) }.orNull)
    }
    if (scored.isEmpty) return spark.emptyDataset[Hit]
    val all = scored.reduce(_ union _)
    searchers.head.rankTopK(all.toDF("docId", "score"), k, qid)
  }
}
