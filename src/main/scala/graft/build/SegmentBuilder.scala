package graft.build

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.codec.PostingCodec
import graft.corpus.CorpusSource
import graft.model._
import graft.tokenize.Tokenizer

/** Build parameters. numPartitions sizes the docId and dictionary range
  * sorts: raise it with the cluster's core count. bucketSize bounds a
  * bucket's doc-length array (~4 MB at the default 1M docs/bucket) and
  * with it a hot term's posting group. */
final case class BuildParams(
    numPartitions: Int = 32,
    bucketSize: Long = 1L << 20,
    segId: Long = 0L,
    /** Store per-posting term positions (codec v2) — enables phrase
      * queries at ~1.5-2x posting bytes; scoring walks skip position
      * bytes without decoding them. */
    positional: Boolean = false)

/** The built index for one segment — all artifacts as typed Datasets.
  * `stats` is driver-side (tiny, broadcast at query time). */
final case class Segment(
    docs: Dataset[Doc],
    dict: Dataset[DictEntry],
    postings: Dataset[PostingList],
    doclens: Dataset[DocLenBlock],
    stats: CorpusStats,
    meta: Dataset[SegmentMeta],
    params: BuildParams) {
  def unpersist(): Unit = {
    docs.unpersist(); dict.unpersist(); postings.unpersist(); doclens.unpersist()
  }
}

/** Build metrics — SURVEY §2.3 I9 / BASELINE.md micro-metrics. */
final case class BuildReport(
    numDocs: Long,
    numTerms: Long,
    numPostings: Long,
    totalTokens: Long,
    bytesCompressed: Long,
    buildMillis: Long) {
  def docsPerSec: Double = numDocs * 1000.0 / math.max(1, buildMillis)
  def termsPerSec: Double = totalTokens * 1000.0 / math.max(1, buildMillis)
  def postingsPerSec: Double = numPostings * 1000.0 / math.max(1, buildMillis)
  def json: String =
    s"""{"numDocs":$numDocs,"numTerms":$numTerms,"numPostings":$numPostings,""" +
      s""""totalTokens":$totalTokens,"bytesCompressed":$bytesCompressed,""" +
      s""""buildMillis":$buildMillis,"docsPerSec":$docsPerSec,""" +
      s""""termsPerSec":$termsPerSec,"postingsPerSec":$postingsPerSec}"""
}

/** Single-segment inverted-index build — SURVEY.md §3 EP1, Spark-first.
  *
  * One posting writer: every segment — fresh build, merge, compaction,
  * purge — is encoded from term runs, `TermRun(bucket, term, n, cf,
  * bytes)`: the delta+VByte postings of one (bucket, term) over a
  * disjoint docId range. A fresh build cuts them from the corpus
  * (`termRuns`), a merge or purge from stored posting lists
  * (`SegmentMerger.segmentRuns`); `encodeRuns` is the shared tail.
  *
  * Shuffle budget of a fresh build (explicit, per the north rule):
  *   1. repartitionByRange(repo,path,commit) — deterministic docIds (P4/P5)
  *   then one narrow pass per id partition tokenizes each row and appends
  *   it straight to its per-(bucket, term) run. DocIds ascend within a
  *   partition (ids are sort ranks), so NO sort is needed and the pass
  *   emits a bucket's runs when the bucket changes — memory is bounded by
  *   one bucket's runs. Only the runs are cached (~5 B/posting incl. doc
  *   length); no per-(doc, term) row is ever materialized.
  *   2. groupBy(term) over the runs sums n/cf — the dictionary (I1), dense
  *      termIds by range sort; totalTokens = Σcf falls out of the job that
  *      materializes the runs.
  *   3. runs ⋈ dict on term (broadcast below DictBroadcastLimit, else
  *      sort-merge), then groupByKey(bucket, termId) shuffles ONLY the
  *      packed run bytes; each group concatenates its runs, recomputes
  *      impacts and packs once — the classic local-index/merge build
  *      (e.g. Zobel & Moffat ACM CS'06 §5). Hot terms need no salting: a
  *      group holds at most bucketSize postings in at most one run per id
  *      partition (or per merged segment).
  *   4. docs: sha256 + token count in one narrow map over the numbered
  *      rows; groupByKey(bucket) builds the doc-length blocks.
  */
/** Side-track pool of the build: the docs/doclens jobs run here, beside
  * the dict/postings jobs. A cached pool: one thread per build in flight
  * (concurrent chunked/streaming builds each get one), and a thread idle
  * for 60 s exits. */
private object BuildPool {
  val ec: ExecutionContext = ExecutionContext.fromExecutorService(
    java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-build-side")
      t.setDaemon(true)
      t
    }))
}

/** Spark job descriptions (what `tools/BuildProfile` and the Spark UI
  * print per job). Descriptions are thread-local; `described` restores
  * the caller's own afterwards. */
private[graft] object JobDescription {
  private val Key = "spark.job.description"
  def described[T](sc: SparkContext, desc: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Key)
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(prev)
  }
}

object SegmentBuilder {

  /** One posting run, keyed by the term string: postings of one
    * (bucket, term) over a disjoint docId range, delta+VByte bytes of
    * (gap, tf, dl[, positions]); `n` postings, `cf` = Σtf. The only
    * input of the posting writer. */
  final case class TermRun(bucket: Int, term: String, n: Int, cf: Long, bytes: Array[Byte])

  /** A term run after the dictionary join: its term's dense id and df. */
  final case class IdRun(bucket: Int, termId: Long, df: Long, n: Int, bytes: Array[Byte])

  /** The posting writer's output: dictionary, posting lists and totals. */
  private[graft] final case class Encoded(
      dict: Dataset[DictEntry], postings: Dataset[PostingList],
      numTerms: Long, numPostings: Long, bytesCompressed: Long) {
    def segment(docs: Dataset[Doc], doclens: Dataset[DocLenBlock],
                meta: Dataset[SegmentMeta], numDocs: Long, avgdl: Double,
                totalTokens: Long, params: BuildParams,
                buildMillis: Long): (Segment, BuildReport) =
      (Segment(docs, dict, postings, doclens,
        CorpusStats(numDocs, avgdl, numTerms, numPostings), meta, params),
        BuildReport(numDocs, numTerms, numPostings, totalTokens,
          bytesCompressed, buildMillis))
  }

  def build(spark: SparkSession, source: CorpusSource,
            params: BuildParams = BuildParams()): (Segment, BuildReport) = {
    val corpus = source.read(spark)
    val (numbered, ranges, freeNumbered) = DocIds.assign(corpus, params.numPartitions)
    try buildFromNumbered(spark, numbered, ranges, source.snapshotId,
      source.inputFiles(spark), params)
    finally freeNumbered()
  }

  /** Build one segment from already-numbered rows. Chunked/resumed builds
    * pass a docId-range slice of a globally numbered corpus here — ids
    * derive from global sort position, never task scheduling, so a
    * resumed chunk reproduces byte-identical artifacts (SURVEY §2.6 R3).
    * `numbered` must hold ascending docIds within each partition (true
    * of DocIds.assign's output and of any filter over it); the
    * RunBuilder's require rejects anything else. */
  def buildFromNumbered(spark: SparkSession, numbered: Dataset[NumberedRow],
                        ranges: Array[PartRange], snapshotId: Long,
                        inputFiles: Array[String], params: BuildParams)
      : (Segment, BuildReport) = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val sc = spark.sparkContext
    val numDocs = ranges.map(_.count).sum

    // ── DocMap: sha256 invariant + docLen, one narrow map (zero-token
    // docs get 0); independent of the term side, so its jobs run on their
    // own thread and interleave with the dictionary/encode jobs — the
    // driver-side job gaps are corpus-size-invariant, and overlapping
    // them is what moves the N→4N scaling efficiency. (Concurrent actions
    // on one SparkSession are supported; job descriptions are
    // thread-local.)
    val tokenCount = udf((content: String) => Tokenizer.tokenize(content).length)
    val docs = numbered
      .select($"docId", $"repo", $"path", $"commit", $"lang",
        sha2($"content", 256).as("sha256"), tokenCount($"content").as("docLen"))
      .as[Doc]
      .persist(StorageLevel.MEMORY_AND_DISK)
    val docsTrack: Future[Dataset[DocLenBlock]] = Future {
      JobDescription.described(sc, "graft: docs materialize + doclen blocks") {
        val doclens = doclenBlocks(docs, params.bucketSize)
          .persist(StorageLevel.MEMORY_AND_DISK)
        doclens.count()
        doclens
      }
    }(BuildPool.ec)

    // ── P6/P7/P8 + I1 input: term runs ────────────────────────────────
    // totalTokens: Σ docLen ≡ Σ tf ≡ Σ cf, taken in the same narrow scan
    // that materializes the cache, so no docs-side job sits on the
    // critical path before the dictionary can start. numDocs is already
    // known exactly from the id ranges. avgdl stays sum(docLen)/N, the
    // definition the DuckDB oracle reproduces exactly (SURVEY §5.5).
    val runs = termRuns(numbered, params.bucketSize, params.positional)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val totalTokens = JobDescription.described(sc,
        "graft: tokenize + term runs materialize + totalTokens") {
      runs.agg(coalesce(sum($"cf"), lit(0L))).as[Long].head()
    }
    val avgdl = if (numDocs == 0) 1.0 else totalTokens.toDouble / numDocs
    val enc = encodeRuns(spark, runs, numDocs, avgdl, params)
    val doclens = Await.result(docsTrack, Duration.Inf)
    runs.unpersist()

    val buildMillis = (System.nanoTime() - t0) / 1000000
    val metaRows = ranges.map(r => SegmentMeta(params.segId, snapshotId,
      r.partId, r.firstId, r.count, 0L, 0L, 0L, 0L, Array.empty[String])) :+
      SegmentMeta(params.segId, snapshotId, -1, 0L, numDocs, enc.numTerms,
        enc.numPostings, enc.bytesCompressed, buildMillis, inputFiles)
    enc.segment(docs, doclens, spark.createDataset(metaRows.toSeq), numDocs,
      avgdl, totalTokens, params, buildMillis)
  }

  /** The one posting writer, shared by fresh builds, merges and purges:
    * term runs (persisted by the caller) → the dictionary (groupBy term
    * summing n/cf, dense termIds in term sort order — I1) → the packed
    * posting lists (I3–I6) and their totals. */
  private[graft] def encodeRuns(spark: SparkSession, runs: Dataset[TermRun],
                                numDocs: Long, avgdl: Double,
                                params: BuildParams): Encoded = {
    import spark.implicits._
    val sc = spark.sparkContext
    val (dict0, dictRanges, freeDictSort) =
      JobDescription.described(sc, "graft: dictionary agg + dense termIds") {
        val dictAgg = runs.groupBy($"term")
          .agg(sum($"n").as("df"), sum($"cf").as("cf"))
          .repartitionByRange(params.numPartitions, $"term")
          .sortWithinPartitions($"term")
          .as[(String, Long, Long)]
        DocIds.denseIds(dictAgg) { (id, r) => DictEntry(id, r._1, r._2, r._3) }
      }
    val dict = dict0.persist(StorageLevel.MEMORY_AND_DISK)
    val numTerms = dictRanges.map(_.count).sum // free: no extra count job
    val (postings, numPostings, bytesCompressed) =
      JobDescription.described(sc, "graft: posting encode + stats agg") {
        val postings = mergeTermRuns(spark, runs, dict, numTerms, numDocs, avgdl,
          params.positional).persist(StorageLevel.MEMORY_AND_DISK)
        val (n, bytes) = postings
          .agg(coalesce(sum($"numDocs".cast("long")), lit(0L)),
            coalesce(sum(length($"bytes").cast("long")), lit(0L)))
          .as[(Long, Long)].head()
        (postings, n, bytes)
      }
    freeDictSort()
    Encoded(dict, postings, numTerms, numPostings, bytesCompressed)
  }

  /** One document's token count and its distinct terms as
    * (term, tf, occurrence indices over the filtered token stream —
    * ascending, length tf — or null unless positional). One document's
    * tokens live in one row, so per-doc tf needs no (doc, term) shuffle. */
  private def docTerms(content: String, positional: Boolean)
      : (Int, Iterator[(String, Int, Array[Int])]) = {
    val toks = Tokenizer.tokenize(content)
    var i = 0
    val terms = if (positional) {
      val occ = new mutable.HashMap[String, mutable.ArrayBuilder.ofInt]()
      while (i < toks.length) {
        occ.getOrElseUpdate(toks(i), new mutable.ArrayBuilder.ofInt) += i
        i += 1
      }
      occ.iterator.map { case (t, b) => val ps = b.result(); (t, ps.length, ps) }
    } else {
      val counts = new mutable.HashMap[String, Int]()
      while (i < toks.length) {
        counts.update(toks(i), counts.getOrElse(toks(i), 0) + 1)
        i += 1
      }
      counts.iterator.map { case (t, c) => (t, c, null: Array[Int]) }
    }
    (toks.length, terms)
  }

  /** Vocabularies below this join the dictionary by broadcast (a
    * map-side hash join: the runs never shuffle on term); a 100 TB-scale
    * vocabulary above it takes a sort-merge join. */
  val DictBroadcastLimit: Long = 4L << 20

  /** Left join of `rows` to the dictionary columns `dict` on `key` —
    * broadcast below DictBroadcastLimit terms, else sort-merge — failing
    * the task on a row whose key the dictionary lacks, where an inner
    * join would drop it silently. The broadcast side is read through an
    * RDD boundary: it is the same (cached) rows, but the dictionary's own
    * build shuffles stay out of the plan of everything encoded from it. */
  private[graft] def joinDict(rows: DataFrame, dict: DataFrame, numTerms: Long,
                              key: String): DataFrame = {
    val side =
      if (numTerms > DictBroadcastLimit) dict
      else broadcast(dict.sparkSession.createDataFrame(dict.rdd, dict.schema))
    // dictionary columns are never null: a null marks a key with no entry
    val probe = dict.columns.filter(_ != key).head
    rows.join(side, Seq(key), "left").withColumn(probe,
      when(col(probe).isNull, raise_error(concat(
        lit(s"$key not in dictionary: '"), col(key).cast("string"), lit("'"))))
        .otherwise(col(probe)))
  }

  /** Growable VByte stream for one term run. Appends must be in strictly
    * ascending docId order. */
  private[graft] final class RunBuilder {
    private var prev = -1L
    var n = 0
    var cf = 0L
    private var buf = new Array[Byte](48)
    private var pos = 0
    @inline private def ensure(extra: Int): Unit =
      if (pos + extra > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length << 1, pos + extra))
    def add(docId: Long, tf: Int, dl: Int, ps: Array[Int]): Unit = {
      require(docId > prev, s"term runs require ascending docIds: $docId after $prev")
      ensure((3 + (if (ps == null) 0 else ps.length)) * graft.codec.VByte.MaxBytes)
      pos = graft.codec.VByte.encode(docId - prev, buf, pos)
      pos = graft.codec.VByte.encode(tf.toLong, buf, pos)
      pos = graft.codec.VByte.encode(dl.toLong, buf, pos)
      if (ps != null) {
        var pprev = -1L
        var j = 0
        while (j < ps.length) {
          pos = graft.codec.VByte.encode(ps(j) - pprev, buf, pos)
          pprev = ps(j)
          j += 1
        }
      }
      prev = docId
      n += 1
      cf += tf
    }
    def bytes(): Array[Byte] = java.util.Arrays.copyOf(buf, pos)
  }

  /** The run pass over one id partition: tokenize each row and append
    * its per-doc (tf, dl[, positions]) to its bucket's per-term
    * RunBuilder. DocIds ascend within a partition, so a bucket is done
    * when the next row's bucket differs: its runs are emitted then and
    * only one bucket's runs are ever held. */
  private def termRuns(numbered: Dataset[NumberedRow], bucketSize: Long,
                       positional: Boolean): Dataset[TermRun] = {
    import numbered.sparkSession.implicits._
    numbered.mapPartitions { rows =>
      val in = rows.buffered
      var lastDoc = -1L
      new Iterator[Iterator[TermRun]] {
        override def hasNext: Boolean = in.hasNext
        override def next(): Iterator[TermRun] = {
          val bucket = (in.head.docId / bucketSize).toInt
          val open = new mutable.HashMap[String, RunBuilder]()
          while (in.hasNext && in.head.docId / bucketSize == bucket) {
            val r = in.next()
            require(r.docId > lastDoc,
              s"term runs require ascending docIds per partition: ${r.docId} after $lastDoc")
            lastDoc = r.docId
            val (dl, terms) = docTerms(r.content, positional)
            terms.foreach { case (t, tf, ps) =>
              open.getOrElseUpdate(t, new RunBuilder).add(r.docId, tf, dl, ps)
            }
          }
          open.iterator.map { case (t, b) => TermRun(bucket, t, b.n, b.cf, b.bytes()) }
        }
      }.flatten
    }
  }

  /** The encode: each run finds its termId and df by joining the
    * dictionary on term, then only packed run bytes shuffle, grouped by
    * (bucket, termId), into mergeRunBytes. */
  private def mergeTermRuns(spark: SparkSession, runs: Dataset[TermRun],
                            dict: Dataset[DictEntry], numTerms: Long,
                            numDocs: Long, avgdl: Double,
                            positional: Boolean): Dataset[PostingList] = {
    import spark.implicits._
    joinDict(runs.toDF(), dict.select($"term", $"termId", $"df"), numTerms, "term")
      .select($"bucket", $"termId", $"df", $"n", $"bytes").as[IdRun]
      .groupByKey(r => (r.bucket, r.termId))
      .mapGroups { (key: (Int, Long), it: Iterator[IdRun]) =>
        mergeRunBytes(key._1, key._2, it, numDocs, avgdl, positional)
      }
  }

  /** Decode a (bucket, termId)'s runs — sorted by first docId, ranges
    * must be disjoint — into full arrays, compute impacts, pack once. */
  private def mergeRunBytes(bucket: Int, termId: Long, runsIt: Iterator[IdRun],
                            numDocs: Long, avgdl: Double,
                            positional: Boolean): PostingList = {
    import graft.codec.VByte
    val runs = runsIt.toArray.sortBy(r => VByte.decode(r.bytes, 0) - 1)
    val total = runs.map(_.n).sum
    val ids = new Array[Long](total)
    val tfs = new Array[Int](total)
    val imps = new Array[Double](total)
    val poss = if (positional) new Array[Array[Int]](total) else null
    val idf = BM25.idf(numDocs, runs.head.df)
    var i = 0
    var last = -1L
    runs.foreach { run =>
      val c = new VByte.Cursor(run.bytes, 0)
      var prev = -1L
      var j = 0
      while (j < run.n) {
        prev += c.read()
        val tf = c.read().toInt
        val dl = c.read().toInt
        require(prev > last,
          s"overlapping docId ranges across runs of (bucket=$bucket, termId=$termId)")
        if (positional) {
          val ps = new Array[Int](tf)
          var p = -1L
          var x = 0
          while (x < tf) { p += c.read(); ps(x) = p.toInt; x += 1 }
          poss(i) = ps
        }
        ids(i) = prev
        tfs(i) = tf
        imps(i) = BM25.impact(idf, tf, dl, avgdl)
        last = prev
        i += 1
        j += 1
      }
    }
    val packed = PostingCodec.pack(ids, tfs, imps, poss)
    PostingList(bucket, termId, packed.numDocs, packed.lastDocIds,
      packed.maxImpacts, packed.offsets, packed.bytes)
  }

  /** Per-bucket doc-length blocks. firstDocId = the segment's first docId
    * in the bucket (chunk slices may start mid-bucket). Holes are
    * allowed — a merge over PURGED segments sees gaps where deleted
    * docIds used to be — and fill with 0, which no walk ever reads (the
    * ids are gone from every posting list); the array stays bounded by
    * bucketSize regardless of hole count. */
  def doclenBlocks(docs: Dataset[Doc], bucketSize: Long): Dataset[DocLenBlock] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select($"docId", $"docLen", ($"docId" / bucketSize).cast("int").as("bucket"))
      .as[(Long, Int, Int)]
      .groupByKey(_._3)
      .mapGroups { (bucket, it) =>
        val rows = it.toArray.sortBy(_._1)
        val first = rows.head._1
        val lens = new Array[Int]((rows.last._1 - first + 1).toInt)
        var i = 0
        while (i < rows.length) {
          lens((rows(i)._1 - first).toInt) = rows(i)._2
          i += 1
        }
        DocLenBlock(bucket, first, lens)
      }
  }
}
