package perfbench

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}

import graft.SparkEntry
import graft.api.LsmIndex
import graft.build.{BuildParams, SegmentBuilder}
import graft.codec.PostingCodec
import graft.corpus.{DatasetCorpusSource, ParquetCorpusSource}
import graft.index.{Compaction, IndexStorage}
import graft.model.{CorpusRow, PostingList}
import graft.pipeline.Dedup
import graft.search.{Searcher, ServingSearcher, Wand}
import graft.tokenize.Tokenizer

/** The one file through which the benchmark calls the engine.
  *
  * Workloads see only these functions and the aliases below, so an engine
  * API change (a searcher consolidation, a Dedup rewrite) re-points this
  * file alone. Every function here is a public engine entry point or a
  * thin reshaping of one. */
object Engine {
  type Segment = graft.build.Segment
  type Hit = graft.model.Hit
  type Serving = ServingSearcher
  type Lsm = LsmIndex
  type Packed = PostingCodec.Packed

  /** Build settings every workload uses: one partition per core and
    * 4096-doc buckets (the engine's own profiling tools use the same). */
  def params(nproc: Int, positional: Boolean): BuildParams =
    BuildParams(numPartitions = nproc, bucketSize = 1L << 12, positional = positional)

  /** A built segment with the build report's exact counts. */
  final case class Built(seg: Segment, docs: Long, postings: Long, tokens: Long)

  private def built(r: (Segment, graft.build.BuildReport)): Built =
    Built(r._1, r._2.numDocs, r._2.numPostings, r._2.totalTokens)

  def buildParquet(spark: SparkSession, corpusDir: String, nproc: Int,
                   positional: Boolean): Built =
    built(SegmentBuilder.build(spark, ParquetCorpusSource(corpusDir),
      params(nproc, positional)))

  def buildRows(spark: SparkSession, rows: Dataset[SrcRow], nproc: Int,
                positional: Boolean): Built = {
    import spark.implicits._
    built(SegmentBuilder.build(spark, DatasetCorpusSource(rows.as[CorpusRow]),
      params(nproc, positional)))
  }

  /** Writes the segment under `indexDir`; returns the segment directory. */
  def write(seg: Segment, indexDir: String): String =
    IndexStorage.write(seg, indexDir).toString
  def read(spark: SparkSession, segDir: String): Segment = IndexStorage.read(spark, segDir)
  def unpersist(seg: Segment): Unit = seg.unpersist()
  def numDocs(seg: Segment): Long = seg.stats.numDocs

  // ── serving tier and its relational reference ────────────────────────

  def serving(spark: SparkSession, seg: Segment): Serving = new ServingSearcher(spark, seg)
  def servingHits(s: Serving, q: Q, k: Int): Array[Hit] = s.hits(q.kind, q.text, k)
  def closeServing(s: Serving): Unit = s.close()

  def searcher(spark: SparkSession, seg: Segment): Searcher = new Searcher(spark, seg)
  def searcherHits(s: Searcher, q: Q, k: Int): Array[Hit] =
    s.hits(q.kind, q.text, k).collect()
  def searcherHitsExhaustive(s: Searcher, q: Q, k: Int): Array[Hit] =
    s.hitsExhaustive(q.kind, q.text, k).collect()

  /** docId -> (repo, path) of a segment's docmap. */
  def docKeys(seg: Segment): Map[Long, (String, String)] =
    seg.docs.collect().iterator.map(d => d.docId -> ((d.repo, d.path))).toMap

  // ── LSM lifecycle ─────────────────────────────────────────────────────

  def lsm(spark: SparkSession, indexDir: String, nproc: Int): Lsm =
    new LsmIndex(spark, indexDir, params(nproc, positional = false))
  def lsmAppend(l: Lsm, rows: Dataset[SrcRow]): Long = {
    import rows.sparkSession.implicits._
    l.append(rows.as[CorpusRow])
  }
  /** `pred` sees the docmap columns (docId, repo, path, commit, lang, ...). */
  def lsmDelete(l: Lsm, pred: Column): Long = l.delete(pred)
  def lsmHits(l: Lsm, q: Q, k: Int): Array[Hit] = l.hits(q.kind, q.text, k).collect()
  def lsmMaintain(l: Lsm): Seq[Long] = l.maintain()
  def lsmLiveSegments(l: Lsm): Seq[Segment] = l.liveSegments()
  def lsmLiveSegmentCount(indexDir: String): Int = Compaction.listLive(indexDir).size
  def lsmTombstones(spark: SparkSession, indexDir: String): Long =
    IndexStorage.readTombstones(spark, indexDir).count()

  // ── pipeline ──────────────────────────────────────────────────────────

  /** A driver row by name, over the `documents.parquet` under `dir`. */
  def driverRow(spark: SparkSession, name: String, dir: String): Array[Row] =
    SparkEntry.queries(name)(spark, dir).collect()
  /** Distinct word 3-shingles per doc, as the dedup rows define them. */
  def shingles(docs: DataFrame): Array[(Long, String)] = Dedup.shingles(docs, 3).collect()

  // ── kernels ───────────────────────────────────────────────────────────

  def tokenize(content: String): Array[String] = Tokenizer.tokenize(content)

  def pack(ids: Array[Long], tfs: Array[Int], impacts: Array[Double]): Packed =
    PostingCodec.pack(ids, tfs, impacts)
  def decodeAll(p: Packed, positional: Boolean): (Array[Long], Array[Int]) =
    PostingCodec.decodeAll(p, positional)

  /** Posting lists collected from a built segment, as codec inputs. */
  final case class Lists(positional: Boolean, avgdl: Double, numDocs: Long,
                         lists: Array[PostingList],
                         doclens: Map[Int, (Long, Array[Int])],
                         df: Map[Long, Long])

  /** The posting lists of the `nTerms` highest-df terms of the segment. */
  def headLists(seg: Segment, nTerms: Int): Lists = {
    val spark = seg.docs.sparkSession
    import spark.implicits._
    val head = seg.dict.orderBy($"df".desc, $"termId".asc).limit(nTerms).collect()
    val ids = head.map(_.termId)
    val lists = seg.postings.filter($"termId".isin(ids.toSeq: _*)).collect()
    val lens = seg.doclens.collect().map(b => b.bucket -> ((b.firstDocId, b.lens))).toMap
    Lists(seg.params.positional, seg.stats.avgDocLen, seg.stats.numDocs, lists, lens,
      head.map(e => e.termId -> e.df).toMap)
  }

  def packed(pl: PostingList): Packed =
    PostingCodec.Packed(pl.numDocs, pl.lastDocIds, pl.maxImpacts, pl.offsets, pl.bytes)

  /** Runs the block-max WAND kernel (or the exhaustive one) over every
    * bucket of the collected head-term lists as one OR query; returns the
    * per-bucket top-k (docId, score) concatenated. */
  def wandTopK(l: Lists, k: Int, exhaustive: Boolean): Array[(Long, Double)] =
    l.lists.groupBy(_.bucket).toArray.sortBy(_._1).flatMap { case (bucket, pls) =>
      val (first, lens) = l.doclens(bucket)
      val cursors = pls.sortBy(_.termId).map(pl => new Wand.TermCursor(pl.termId,
        graft.model.BM25.idf(l.numDocs, l.df(pl.termId)), pl, l.positional))
      val out = if (exhaustive) Wand.topKOrExhaustive(cursors, lens, first, l.avgdl, k)
        else Wand.topK(cursors, lens, first, l.avgdl, k)
      out.map(s => (s.docId, s.score))
    }
}
