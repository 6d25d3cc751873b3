package graft.api

import org.apache.spark.sql.{Column, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.build.{BuildParams, DocIds, Segment, SegmentBuilder}
import graft.index.{Compaction, IndexStorage, SegmentMerger}
import graft.model.{CorpusRow, Hit, NumberedRow}
import graft.search.MultiSearcher

/** The complete LSM index lifecycle behind one handle — what a user of
  * the library operates day to day:
  *
  *   - `append(rows)`  — new documents become a new segment (docIds
  *     allocated above the committed high-watermark, bucket-aligned —
  *     the StreamIndexer id contract, so streamed and appended segments
  *     interleave safely)
  *   - `delete(pred)`  — tombstones into the persistent delete log;
  *     visible to the next query (merge-on-read filtering)
  *   - `upsert(rows)`  — delete-by-natural-key (repo, path) + append
  *   - `hits(...)`     — tombstone-aware merge-on-read search across
  *     every live segment, global BM25 statistics
  *   - `maintain()`    — apply the delete log to every live segment
  *     (purge, stats rescored), then size-tiered merge rounds to
  *     convergence under Compaction's crash protocol
  *
  * Single-writer, many-reader: mutations go through this handle (the
  * segment/searcher cache invalidates on mutation); concurrent readers
  * on other handles stay crash-consistent via the manifest/intent rules
  * but observe mutations only on re-open. Crash safety: every mutation
  * is an atomic commit (segment tmp+rename, delete-log batch rename,
  * Compaction's intent protocol); a crash between upsert's delete and
  * append loses only the append (the delete is durable — re-run the
  * upsert, which is idempotent by natural key).
  */
final class LsmIndex(spark: SparkSession, val indexDir: String,
                     params: BuildParams = BuildParams(),
                     retainSnapshots: Int = 0) {
  import spark.implicits._

  // mutation counter: cache epoch + unique tombstone-bitset tags
  private var epoch = 0L
  private var cached: Option[(Seq[Segment], MultiSearcher)] = None
  private def invalidate(): Unit = { epoch += 1; cached = None }

  /** Live segments per the crash-consistent registry rules. */
  def liveSegments(): Seq[Segment] = reader()._1

  private def reader(): (Seq[Segment], MultiSearcher) =
    cached.getOrElse {
      val segs = Compaction.listLive(indexDir).map(s =>
        IndexStorage.read(spark, IndexStorage.segDir(indexDir, s.segId).toString))
      require(segs.nonEmpty, s"no committed segments under $indexDir")
      val r = (segs, new MultiSearcher(spark, segs))
      cached = Some(r)
      r
    }

  // ── result cache ─────────────────────────────────────────────────────
  // Repeated identical queries are the norm on a serving index (hot
  // queries, dashboard refreshes); materialized hit arrays are ≤k rows.
  // The cache key carries the mutation epoch, so ANY append / delete /
  // upsert / maintain invalidates every entry implicitly — a stale
  // epoch's keys simply never match again. Bounded FIFO (CacheMax).
  private val resultCache = new java.util.LinkedHashMap[
      (Long, String, String, Int), Array[Hit]](64, 0.75f, false) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[(Long, String, String, Int), Array[Hit]]): Boolean =
      size() > LsmIndex.CacheMax
  }

  /** Tombstone-aware top-k: live deletes are excluded inside the walks;
    * scores keep the pre-purge global statistics (the standard
    * merge-on-read posture — `maintain()` rescores). Results are served
    * from the epoch-keyed cache when the same (kind, text, k) repeats
    * against an unmutated index. */
  def hits(kind: String, text: String, k: Int, qid: Long = 0L): Dataset[Hit] = {
    val key = (epoch, kind, text, k)
    val hitRows = resultCache.synchronized {
      Option(resultCache.get(key))
    }.getOrElse {
      val (_, multi) = reader()
      val tomb = IndexStorage.readTombstones(spark, indexDir)
      val rows = (if (tomb.isEmpty) multi.hits(kind, text, k, qid)
        else multi.deletedHits(kind, text, k, s"$indexDir#$epoch", tomb, qid))
        .collect()
      resultCache.synchronized { resultCache.put(key, rows) }
      rows
    }
    spark.createDataset(hitRows.toSeq.map(h => h.copy(qid = qid)))
  }

  /** Fielded (`lang:x`-style) tombstone-aware top-k — the per-segment
    * bitset filters and the live-delete bitsets compose. */
  def fieldedHits(kind: String, text: String, k: Int, field: String,
                  value: String, qid: Long = 0L): Dataset[Hit] = {
    val (_, multi) = reader()
    val tomb = IndexStorage.readTombstones(spark, indexDir)
    if (tomb.isEmpty) multi.fieldedHits(kind, text, k, field, value, qid)
    else multi.fieldedDeletedHits(kind, text, k, field, value,
      s"$indexDir#$epoch", tomb, qid)
  }

  /** Append a batch of documents as a new segment; returns its segId
    * (-1 for an empty batch). Ids start at the bucket-aligned committed
    * high-watermark — collision-free with every prior segment,
    * including orphans and streamed appends. */
  def append(rows: Dataset[CorpusRow]): Long = {
    if (rows.isEmpty) return -1L
    val committed = Compaction.scanSegments(indexDir)
    val nextSeg = committed.map(_.segId).foldLeft(-1L)(math.max) + 1
    val hwm = committed.map(_.docIdHwm).foldLeft(0L)(math.max)
    val bs = params.bucketSize
    val base = ((hwm + bs - 1) / bs) * bs
    val (numbered0, ranges0, free) = DocIds.assign(rows, params.numPartitions)
    try {
      val numbered = numbered0.map(r => NumberedRow(r.docId + base,
        r.repo, r.path, r.commit, r.lang, r.content))
      val ranges = ranges0.map(r => r.copy(firstId = r.firstId + base))
      val (seg, _) = SegmentBuilder.buildFromNumbered(spark, numbered, ranges,
        snapshotId = nextSeg, inputFiles = Array.empty,
        params.copy(segId = nextSeg))
      IndexStorage.write(seg, indexDir)
      seg.unpersist()
    } finally free()
    invalidate()
    nextSeg
  }

  /** Tombstone every live document matching `pred` (a predicate over
    * the docmap columns: docId, repo, path, commit, lang, sha256,
    * docLen). Returns the number of newly deleted docs. Durable on
    * return (atomic delete-log batch). */
  def delete(pred: Column): Long = {
    val (segs, _) = reader()
    val ids = segs.map(_.docs.filter(pred).select($"docId").as[Long])
      .reduce(_ union _)
    deleteIds(ids)
  }

  /** Matched term positions for the top-k docs of a tombstone-aware
    * query across every live segment — the highlight surface on the LSM
    * read path. Each segment expands the kind against ITS OWN vocabulary
    * (the X23 per-segment expansion rule) and its cursors gallop only to
    * the hit docs it owns (disjoint docId ranges make foreign ids
    * no-ops); deleted docs never rank, so they never highlight.
    * Positions are 1-based over the filtered token stream. */
  def highlights(kind: String, text: String, k: Int): org.apache.spark.sql.DataFrame = {
    val top = hits(kind, text, k).collect().map(_.docId)
    val (segs, _) = reader()
    val parts = segs.map { seg =>
      val s = new graft.search.Searcher(spark, seg)
      val entries = s.entriesFor(kind, text)
      val bT = spark.sparkContext.broadcast(entries.map(e => e.termId -> e.term).toMap)
      s.matchedPositions(entries, top)
        .map { case (d, tid, p) => (d, bT.value(tid), (p + 1).toLong) }
    }
    parts.reduce(_ union _).toDF("docId", "term", "pos")
      .orderBy("docId", "term", "pos")
  }

  /** Delete-by-query (the Elasticsearch `_delete_by_query` surface):
    * tombstone every live document matching `(kind, text)` under the
    * kind's FULL semantics — boolean grammar, phrase/proximity atoms,
    * pattern expansions included. The match set comes from each
    * segment's own presence walk (termId pushdown + bucket pruning —
    * never a corpus scan; per-segment pattern expansion keeps the X23
    * cross-segment df rule); already-tombstoned ids dedupe through the
    * same delete-log append as [[delete]]. Returns newly deleted docs;
    * an empty match set (an OOV query included) deletes nothing and
    * commits no delete-log batch. */
  def deleteByQuery(kind: String, text: String): Long = {
    val (segs, _) = reader()
    deleteIds(segs.map(seg =>
        new graft.search.Searcher(spark, seg).matchDocIds(kind, text).as[Long])
      .reduce(_ union _))
  }

  private def deleteIds(ids: Dataset[Long]): Long = {
    val already = IndexStorage.readTombstones(spark, indexDir)
    val fresh = ids.except(already)
    val n = fresh.count()
    if (n > 0) {
      IndexStorage.appendTombstones(spark, indexDir, fresh)
      invalidate()
    }
    n
  }

  /** Replace-by-natural-key: tombstone every live doc whose
    * (repo, path) appears in `rows`, then append `rows` as a new
    * segment. Returns (deleted, new segId). The new versions win every
    * subsequent query; old versions purge at the next `maintain()`. */
  def upsert(rows: Dataset[CorpusRow]): (Long, Long) = {
    val keys = rows.select($"repo", $"path").distinct()
    val (segs, _) = reader()
    val existing = segs.map(_.docs
        .join(broadcast(keys), Seq("repo", "path"))
        .select($"docId").as[Long])
      .reduce(_ union _)
    val deleted = deleteIds(existing)
    (deleted, append(rows))
  }

  /** Background maintenance: (1) apply the delete log to every live
    * segment — each purge commits atomically and re-applying is a
    * no-op, so a crash mid-sweep only re-purges; the log clears AFTER
    * the sweep; (2) size-tiered merge rounds until the policy finds
    * nothing to do. Returns the segIds produced by the merge rounds. */
  def maintain(policy: Compaction.Policy = Compaction.Policy()): Seq[Long] = {
    val tomb = IndexStorage.readTombstones(spark, indexDir)
    if (!tomb.isEmpty) {
      // a purge rewrites segment dirs IN PLACE — a snapshot barrier:
      // older generations would read rewritten bytes, so they expire NOW
      if (retainSnapshots > 0) Compaction.expireSnapshots(indexDir, 0)
      val tombCached = tomb.cache()
      tombCached.count()
      Compaction.listLive(indexDir).foreach { st =>
        val seg = IndexStorage.read(spark,
          IndexStorage.segDir(indexDir, st.segId).toString)
        // only rewrite segments that actually hold deleted docs
        val touched = seg.docs.join(tombCached.toDF("docId"), "docId")
          .limit(1).count() > 0
        if (touched) {
          val (purged, _) = SegmentMerger.purge(spark, seg, tombCached, seg.params)
          IndexStorage.write(purged, indexDir)
          purged.unpersist()
        }
      }
      IndexStorage.clearTombstones(indexDir)
      tombCached.unpersist()
      invalidate()
    }
    val out = Seq.newBuilder[Long]
    var made = Compaction.run(spark, indexDir, policy,
      retainInputs = retainSnapshots > 0)
    while (made.nonEmpty) {
      out ++= made
      made = Compaction.run(spark, indexDir, policy,
        retainInputs = retainSnapshots > 0)
    }
    if (retainSnapshots > 0) Compaction.expireSnapshots(indexDir, retainSnapshots)
    if (out.result().nonEmpty) invalidate()
    out.result()
  }

  // ── snapshots (time travel) ──────────────────────────────────────────

  /** Commit a snapshot of the CURRENT index state: the live segment set
    * and the delete-log high-watermark. Readable via [[hitsAt]] until
    * expired. Snapshots survive appends and compactions (merge inputs
    * are retained on disk while referenced); `maintain()` with live
    * tombstones purges segments in place and therefore expires all
    * older generations first. Requires `retainSnapshots > 0`. */
  def snapshot(): Long = {
    require(retainSnapshots > 0,
      "snapshots need retainSnapshots > 0 at LsmIndex construction")
    Compaction.commitSnapshot(indexDir,
      Compaction.listLive(indexDir).map(_.segId),
      IndexStorage.tombstoneBatchCount(indexDir))
  }

  /** Committed snapshot generations, ascending. */
  def generations(): Seq[Long] = Compaction.generations(indexDir)

  /** Tombstone-aware top-k AS OF snapshot `gen`: exactly the segments
    * and the delete-log prefix the generation pinned, with that state's
    * own global statistics. */
  def hitsAt(gen: Long, kind: String, text: String, k: Int,
             qid: Long = 0L): Dataset[Hit] = {
    val (ids, delK) = Compaction.readSnapshot(indexDir, gen)
    val segs = ids.map(id =>
      IndexStorage.read(spark, IndexStorage.segDir(indexDir, id).toString))
    require(segs.nonEmpty, s"snapshot $gen references no segments")
    val multi = new MultiSearcher(spark, segs)
    val tomb = IndexStorage.readTombstonesUpTo(spark, indexDir, delK)
    if (tomb.isEmpty) multi.hits(kind, text, k, qid)
    else multi.deletedHits(kind, text, k, s"$indexDir@g$gen#$delK", tomb, qid)
  }

  /** Expire all but the newest `keepLast` snapshots and reclaim every
    * segment directory no retained generation or the live set needs. */
  def expireSnapshots(keepLast: Int = retainSnapshots): (Seq[Long], Seq[Long]) =
    Compaction.expireSnapshots(indexDir, keepLast)
}

object LsmIndex {
  /** Result-cache capacity (entries are ≤k driver-side hit rows). */
  final val CacheMax = 256
}
