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

/** Build parameters. Defaults sized for local[32] tests; at cluster scale
  * raise numPartitions to the cluster's core count multiple and keep
  * bucketSize so a bucket's doc-length array fits comfortably in one task
  * (~4 MB at the default 1M docs/bucket). */
final case class BuildParams(
    numPartitions: Int = 32,
    bucketSize: Long = 1L << 20,
    /** Terms with df above this get the salted two-stage shuffle
      * (SURVEY §2.3 I4) — row-encode fallback path only; the map-side
      * run path needs no salting (a term's per-partition runs are
      * already the partial aggregation salting approximates). */
    saltThreshold: Long = 1L << 20,
    numSalts: Int = 16,
    segId: Long = 0L,
    /** Store per-posting term positions (codec v2) — enables phrase
      * queries at ~1.5-2x posting bytes; scoring walks skip position
      * bytes without decoding them. */
    positional: Boolean = false,
    /** Tokenize straight into map-side packed posting RUNS keyed by
      * term, and cache and shuffle only their compressed bytes
      * (~5 B/posting) instead of per-(doc, term) rows — the classic
      * local-index-then-merge build. Requires per-partition ascending
      * docIds (true for numbered rows) and a dictionary of at most
      * DictBroadcastLimit terms; a larger one falls back to the row
      * path. Off switches fresh builds to the row path (test
      * cross-check); merges always take it. */
    mapSideRuns: Boolean = true)

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
  * Shuffle budget (explicit, per the north rule):
  *   1. repartitionByRange(repo,path,commit) — deterministic docIds (P4/P5)
  *   2. RUN path (default, fresh builds): one narrow pass per id
  *      partition tokenizes each row and appends it straight to a
  *      per-(bucket, term) delta+VByte RUN keyed by the term string; each
  *      run also carries its posting count `n` (the partition's df share)
  *      and `cf` (Σtf). DocIds ascend within a partition (ids are sort
  *      ranks), so NO sort is needed and the pass flushes a bucket's runs
  *      when the bucket changes — memory is bounded by one bucket's runs.
  *      Only the runs are cached (~5 B/posting incl. doc length); no
  *      per-(doc, term) row is ever materialized. Then:
  *      a. groupBy(term) over the runs sums n/cf — the dictionary (I1),
  *         dense termIds by range sort; totalTokens = Σcf falls out of
  *         the job that materializes the runs;
  *      b. groupByKey(bucket, term) shuffles ONLY the packed run bytes;
  *         each group resolves its termId once (binary search against
  *         the broadcast term array), concatenates its runs (disjoint
  *         ascending docId ranges), recomputes impacts and re-packs — the
  *         classic local-index/merge build (e.g. Zobel & Moffat ACM CS'06
  *         §5). Hot terms need no salting: a term's ≤numPartitions runs
  *         per bucket ARE its partial aggregation.
  *   3. ROW path (mapSideRuns = false, a dictionary over
  *      DictBroadcastLimit, merges/compactions via encodePostings): per-doc
  *      (docId, term, tf, dl[, pos]) rows, groupBy(term) for the
  *      dictionary, tf⋈dict on term (broadcast below DictBroadcastLimit,
  *      else sort-merge), then repartition(bucket,termId[,salt]) +
  *      sortWithinPartitions — posting runs (I3/I4); hot terms
  *      (df > saltThreshold) take the salted two-stage path: partial runs
  *      per salt, k-way merged per term.
  *   4. docs: sha256 + token count in one narrow map over the numbered
  *      rows; groupByKey(bucket) builds the doc-length blocks.
  *   Both posting plans produce byte-identical artifacts (asserted in
  *   IndexBuildSpec): the run path re-packs from the same full arrays
  *   with impacts recomputed by the same IEEE expression.
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

  /** One map-side posting run, keyed by the term string: a partition's
    * postings of one (bucket, term), delta+VByte bytes of
    * (gap, tf, dl[, positions]); `n` postings, `cf` = Σtf. The only
    * per-posting data the run path caches and shuffles. */
  final case class TermRun(bucket: Int, term: String, n: Int, cf: Long, bytes: Array[Byte])

  /** Build-time intermediate: one posting before encoding. */
  final case class PRow(bucket: Int, termId: Long, docId: Long, tf: Int, impact: Double)
  /** Positional variant — `pos` rides the same shuffle. */
  final case class PRowP(bucket: Int, termId: Long, docId: Long, tf: Int,
                         impact: Double, pos: Array[Int])
  /** Stage-1 output of the salted path: one sorted partial run. */
  final case class PartialRun(
      bucket: Int, termId: Long, salt: Int,
      docIds: Array[Long], tfs: Array[Int], impacts: Array[Double])
  /** Positional partial run (salted hot-term path of a positional build). */
  final case class PartialRunP(
      bucket: Int, termId: Long, salt: Int,
      docIds: Array[Long], tfs: Array[Int], impacts: Array[Double],
      positions: Array[Array[Int]])

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
    * of DocIds.assign's output and of any filter over it) for the run
    * path; the RunBuilder's require rejects anything else. */
  def buildFromNumbered(spark: SparkSession, numbered: Dataset[NumberedRow],
                        ranges: Array[PartRange], snapshotId: Long,
                        inputFiles: Array[String], params: BuildParams)
      : (Segment, BuildReport) = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val sc = spark.sparkContext
    val callerDesc = sc.getLocalProperty("spark.job.description")
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

    // ── P6/P7/P8 + I1 input: term runs (default) or tf rows ───────────
    // totalTokens: Σ docLen ≡ Σ tf ≡ Σ cf, taken in the same narrow scan
    // that materializes the cache, so no docs-side job sits on the
    // critical path before the dictionary can start. numDocs is already
    // known exactly from the id ranges. avgdl stays sum(docLen)/N, the
    // definition the DuckDB oracle reproduces exactly (SURVEY §5.5).
    val runs: Dataset[TermRun] =
      if (params.mapSideRuns)
        termRuns(numbered, params.bucketSize, params.positional)
          .persist(StorageLevel.MEMORY_AND_DISK)
      else null
    var tf: DataFrame = null
    val (termStats, totalTokens) = if (runs != null) {
      sc.setJobDescription("graft: tokenize + term runs materialize + totalTokens")
      (runs.select($"term", $"n", $"cf"),
        runs.agg(coalesce(sum($"cf"), lit(0L))).as[Long].head())
    } else {
      tf = tfRows(numbered, params.positional).persist(StorageLevel.MEMORY_AND_DISK)
      sc.setJobDescription("graft: tf materialize + totalTokens")
      (tf.select($"term", lit(1).as("n"), $"tf".as("cf")),
        tf.agg(coalesce(sum($"tf".cast("long")), lit(0L))).as[Long].head())
    }
    val avgdl = if (numDocs == 0) 1.0 else totalTokens.toDouble / numDocs

    // ── I1: dictionary with dense termIds in term sort order ──────────
    sc.setJobDescription("graft: dictionary agg + dense termIds")
    val dictAgg = termStats.groupBy($"term")
      .agg(sum($"n").as("df"), sum($"cf").as("cf"))
      .repartitionByRange(params.numPartitions, $"term")
      .sortWithinPartitions($"term")
      .as[(String, Long, Long)]
    val (dict0, dictRanges, freeDictSort) = DocIds.denseIds(dictAgg) { (id, r) =>
      DictEntry(id, r._1, r._2, r._3)
    }
    val dict = dict0.persist(StorageLevel.MEMORY_AND_DISK)
    val numTerms = dictRanges.map(_.count).sum // free: no extra count job

    // ── I3/I4/I5/I6: encode ───────────────────────────────────────────
    sc.setJobDescription("graft: posting encode + stats agg")
    val encoded =
      if (runs != null && numTerms <= DictBroadcastLimit)
        mergeTermRuns(spark, runs, dict, numDocs, avgdl, params)
      else {
        // row path; a dictionary too large to broadcast re-derives the tf
        // rows the run pass never materialized
        if (tf == null) {
          runs.unpersist()
          tf = tfRows(numbered, params.positional).persist(StorageLevel.MEMORY_AND_DISK)
        }
        encodePostings(spark, tf, dict, numDocs, avgdl, params, numTermsHint = numTerms)
      }
    val postings = encoded.persist(StorageLevel.MEMORY_AND_DISK)
    val (numPostings, bytesCompressed) = postings
      .agg(coalesce(sum($"numDocs".cast("long")), lit(0L)),
        coalesce(sum(length($"bytes").cast("long")), lit(0L)))
      .as[(Long, Long)].head()

    val doclens = Await.result(docsTrack, Duration.Inf)
    sc.setJobDescription(callerDesc)

    freeDictSort()
    if (runs != null) runs.unpersist()
    if (tf != null) tf.unpersist()

    val buildMillis = (System.nanoTime() - t0) / 1000000
    val metaRows = ranges.map(r => SegmentMeta(params.segId, snapshotId,
      r.partId, r.firstId, r.count, 0L, 0L, 0L, 0L, Array.empty[String])) :+
      SegmentMeta(params.segId, snapshotId, -1, 0L, numDocs, numTerms,
        numPostings, bytesCompressed, buildMillis, inputFiles)
    val meta = spark.createDataset(metaRows.toSeq)

    val stats = CorpusStats(numDocs, avgdl, numTerms, numPostings)
    val report = BuildReport(numDocs, numTerms, numPostings, totalTokens,
      bytesCompressed, buildMillis)
    (Segment(docs, dict, postings, doclens, stats, meta, params), report)
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

  /** The row path's per-(doc, term) rows, (docId, term, tf, dl[, pos]). */
  private def tfRows(numbered: Dataset[NumberedRow], positional: Boolean): DataFrame = {
    import numbered.sparkSession.implicits._
    if (positional)
      numbered.flatMap { r =>
        val (dl, terms) = docTerms(r.content, positional = true)
        terms.map { case (t, tf, ps) => TermFreqPos(r.docId, t, tf, dl, ps) }
      }.toDF()
    else
      numbered.flatMap { r =>
        val (dl, terms) = docTerms(r.content, positional = false)
        terms.map { case (t, tf, _) => TermFreq(r.docId, t, tf, dl) }
      }.toDF()
  }

  /** Vocabularies below this broadcast: the run path resolves termIds
    * against the broadcast term array, and the row path's tf⋈dict join
    * collapses to a map-side hash join (the tf side, the largest dataset
    * of a row build, then never shuffles on term). A 100 TB-scale
    * vocabulary exceeds this and takes the row path's sort-merge join. */
  val DictBroadcastLimit: Long = 4L << 20

  /** The row path: (docId, term, tf, dl[, pos]) rows + dictionary →
    * packed posting lists, the I3 (cold, single shuffle) / I4 (hot,
    * salted two-stage) split. `tfDf` needs columns (docId, term, tf, dl)
    * (+ pos for positional params) in any row order. Shared by the fresh
    * build's row path and SegmentMerger's/Compaction's re-encode. */
  def encodePostings(spark: SparkSession, tfDf: DataFrame,
                     dict: Dataset[DictEntry], numDocs: Long, avgdl: Double,
                     params: BuildParams, numTermsHint: Long = -1L): Dataset[PostingList] = {
    import spark.implicits._
    val bucketSize = params.bucketSize
    val dictSlim = dict.select($"termId", $"term", $"df")
    val numTerms = if (numTermsHint >= 0) numTermsHint else dict.count()
    val dictSide =
      if (numTerms <= DictBroadcastLimit) broadcast(dictSlim) else dictSlim
    // impact computed as native Column arithmetic — stays inside
    // whole-stage codegen, no typed ser/deser of the posting-scale rows.
    // The expression tree mirrors BM25.impact/idf term-for-term (same
    // association order ⇒ bit-identical IEEE doubles as the query-time
    // Scala recomputation; upperFloat adds an ulp of slack regardless).
    val idfCol = log(lit(1.0) + (lit(numDocs) - $"df" + lit(0.5)) / ($"df" + lit(0.5)))
    val impactCol = idfCol * $"tf" * lit(BM25.K1Plus1) /
      ($"tf" + lit(BM25.K1) * (lit(BM25.OneMinusB) + lit(BM25.B) * $"dl" / lit(avgdl)))
    val positional = params.positional
    val baseCols = Seq(
      expr(s"CAST(docId DIV $bucketSize AS INT)").as("bucket"),
      $"termId", $"docId", $"tf", impactCol.as("impact")) ++
      (if (positional) Seq(col("pos")) else Nil)
    val pre = tfDf
      .join(dictSide, Seq("term"))
      .select((baseCols :+ $"df"): _*)

    // The hot/cold split is a PLAN fork: each branch re-scans tf and
    // re-runs the join, so when the dictionary says no term can cross
    // the salt threshold (max df — one ~ms agg on the cached dict), the
    // hot branch would still cost a full corpus pass that provably
    // yields zero rows. Skip it, and the whole encode is one scan + one
    // shuffle. At skewed-corpus scale maxDf exceeds the threshold and
    // the dual-path plan comes back automatically.
    val maxDf: Long = dict.agg(coalesce(max($"df"), lit(0L))).as[Long].head()

    def packCold(df: DataFrame): Dataset[PostingList] = {
      val sorted = df
        .repartition(params.numPartitions, $"bucket", $"termId")
        .sortWithinPartitions($"bucket", $"termId", $"docId")
      if (positional) sorted.as[PRowP].mapPartitions(groupRunsPos)
      else sorted.as[PRow].mapPartitions(groupRuns)
    }

    if (maxDf <= params.saltThreshold) return packCold(pre.drop("df"))

    val cold = pre.filter($"df" <= params.saltThreshold).drop("df")
    val hot = pre.filter($"df" > params.saltThreshold).drop("df")
    val coldLists = packCold(cold)

    val numSalts = params.numSalts
    val hotSorted = hot
      .withColumn("salt", pmod(hash($"docId"), lit(numSalts)))
      .repartition(params.numPartitions, $"bucket", $"termId", $"salt")
      .sortWithinPartitions($"bucket", $"termId", $"salt", $"docId")
    val hotLists =
      if (positional)
        hotSorted
          .select($"bucket", $"termId", $"docId", $"tf", $"impact", $"pos", $"salt")
          .as[(Int, Long, Long, Int, Double, Array[Int], Int)]
          .mapPartitions(groupPartialRunsPos)
          .groupByKey(r => (r.bucket, r.termId))
          .mapGroups((key: (Int, Long), runs: Iterator[PartialRunP]) =>
            mergeRunsPos(key._1, key._2, runs))
      else
        hotSorted
          .select($"bucket", $"termId", $"docId", $"tf", $"impact", $"salt")
          .as[(Int, Long, Long, Int, Double, Int)]
          .mapPartitions(groupPartialRuns)
          .groupByKey(r => (r.bucket, r.termId))
          .mapGroups((key: (Int, Long), runs: Iterator[PartialRun]) =>
            mergeRuns(key._1, key._2, runs))

    coldLists.union(hotLists)
  }

  /** Growable VByte stream for one map-side run. Appends must be in
    * strictly ascending docId order (ascending ids within a partition). */
  private final class RunBuilder {
    private var prev = -1L
    var n = 0
    var cf = 0L
    private var buf = new Array[Byte](48)
    private var pos = 0
    @inline private def ensure(extra: Int): Unit =
      if (pos + extra > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length << 1, pos + extra))
    def add(docId: Long, tf: Int, dl: Int, ps: Array[Int]): Unit = {
      require(docId > prev,
        s"run path requires ascending docIds per partition: $docId after $prev")
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
              s"run path requires ascending docIds per partition: ${r.docId} after $lastDoc")
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

  /** The run path's encode: only packed run bytes shuffle, grouped by
    * (bucket, term); each group resolves its termId and df ONCE by binary
    * search against the broadcast term array — dense termIds are assigned
    * in term sort order (I1), so the termId IS the array index — then
    * mergeRunBytes concatenates, recomputes impacts with the SAME IEEE
    * expression as the row path's codegen column, and packs the list. */
  private def mergeTermRuns(spark: SparkSession, runs: Dataset[TermRun],
                            dict: Dataset[DictEntry], numDocs: Long,
                            avgdl: Double, params: BuildParams): Dataset[PostingList] = {
    import spark.implicits._
    val entries = dict.select($"termId", $"term", $"df")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    entries.indices.foreach { i =>
      require(entries(i)._1 == i, s"dict termIds not dense at $i: ${entries(i)}")
      require(i == 0 || entries(i - 1)._2 < entries(i)._2,
        "dict terms not in sort order — run path requires I1 term-ordered ids")
    }
    val bcTerms = spark.sparkContext.broadcast(entries.map(_._2))
    val bcDfs = spark.sparkContext.broadcast(entries.map(_._3))
    val positional = params.positional
    runs.groupByKey(r => (r.bucket, r.term))
      .mapGroups { (key: (Int, String), it: Iterator[TermRun]) =>
        val tid = java.util.Arrays.binarySearch(
          bcTerms.value.asInstanceOf[Array[AnyRef]], key._2)
        require(tid >= 0, s"term not in dictionary: '${key._2}'")
        mergeRunBytes(key._1, tid.toLong, it, bcDfs.value(tid), numDocs, avgdl, positional)
      }
  }

  /** Decode a (bucket,term)'s runs — sorted by first docId, ranges must
    * be disjoint — into full arrays, recompute impacts, pack once. The
    * output is byte-identical to the row path's pack of the same list. */
  private def mergeRunBytes(bucket: Int, termId: Long, runsIt: Iterator[TermRun],
                            df: Long, numDocs: Long, avgdl: Double,
                            positional: Boolean): PostingList = {
    import graft.codec.VByte
    val runs = runsIt.toArray.sortBy(r => VByte.decode(r.bytes, 0) - 1)
    val total = runs.map(_.n).sum
    val ids = new Array[Long](total)
    val tfs = new Array[Int](total)
    val imps = new Array[Double](total)
    val poss = if (positional) new Array[Array[Int]](total) else null
    val idf = BM25.idf(numDocs, df)
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
    packList(bucket, termId, ids, tfs, imps, poss)
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

  /** Streaming run-grouper: consecutive (bucket,termId) rows — sorted by
    * the upstream sortWithinPartitions — into packed posting lists.
    * Iterator→iterator: never materializes the partition (SURVEY §4.3). */
  private def groupRuns(it: Iterator[PRow]): Iterator[PostingList] =
    new Iterator[PostingList] {
      private val in = it.buffered
      override def hasNext: Boolean = in.hasNext
      override def next(): PostingList = {
        val head = in.next()
        val ids = mutable.ArrayBuilder.make[Long]
        val tfs = mutable.ArrayBuilder.make[Int]
        val imps = mutable.ArrayBuilder.make[Double]
        ids += head.docId; tfs += head.tf; imps += head.impact
        while (in.hasNext && in.head.bucket == head.bucket && in.head.termId == head.termId) {
          val r = in.next()
          ids += r.docId; tfs += r.tf; imps += r.impact
        }
        packList(head.bucket, head.termId, ids.result(), tfs.result(), imps.result())
      }
    }

  /** Positional twin of groupRuns. */
  private def groupRunsPos(it: Iterator[PRowP]): Iterator[PostingList] =
    new Iterator[PostingList] {
      private val in = it.buffered
      override def hasNext: Boolean = in.hasNext
      override def next(): PostingList = {
        val head = in.next()
        val ids = mutable.ArrayBuilder.make[Long]
        val tfs = mutable.ArrayBuilder.make[Int]
        val imps = mutable.ArrayBuilder.make[Double]
        val poss = mutable.ArrayBuilder.make[Array[Int]]
        ids += head.docId; tfs += head.tf; imps += head.impact; poss += head.pos
        while (in.hasNext && in.head.bucket == head.bucket && in.head.termId == head.termId) {
          val r = in.next()
          ids += r.docId; tfs += r.tf; imps += r.impact; poss += r.pos
        }
        packList(head.bucket, head.termId, ids.result(), tfs.result(),
          imps.result(), poss.result())
      }
    }

  /** Stage-1 of the salted path: partial sorted runs per (bucket,termId,salt). */
  private def groupPartialRuns(it: Iterator[(Int, Long, Long, Int, Double, Int)])
      : Iterator[PartialRun] =
    new Iterator[PartialRun] {
      private val in = it.buffered
      override def hasNext: Boolean = in.hasNext
      override def next(): PartialRun = {
        val (b, t, d0, tf0, imp0, s) = in.next()
        val ids = mutable.ArrayBuilder.make[Long]
        val tfs = mutable.ArrayBuilder.make[Int]
        val imps = mutable.ArrayBuilder.make[Double]
        ids += d0; tfs += tf0; imps += imp0
        while (in.hasNext && in.head._1 == b && in.head._2 == t && in.head._6 == s) {
          val r = in.next()
          ids += r._3; tfs += r._4; imps += r._5
        }
        PartialRun(b, t, s, ids.result(), tfs.result(), imps.result())
      }
    }

  /** Positional twin of groupPartialRuns. */
  private def groupPartialRunsPos(
      it: Iterator[(Int, Long, Long, Int, Double, Array[Int], Int)])
      : Iterator[PartialRunP] =
    new Iterator[PartialRunP] {
      private val in = it.buffered
      override def hasNext: Boolean = in.hasNext
      override def next(): PartialRunP = {
        val (b, t, d0, tf0, imp0, pos0, s) = in.next()
        val ids = mutable.ArrayBuilder.make[Long]
        val tfs = mutable.ArrayBuilder.make[Int]
        val imps = mutable.ArrayBuilder.make[Double]
        val poss = mutable.ArrayBuilder.make[Array[Int]]
        ids += d0; tfs += tf0; imps += imp0; poss += pos0
        while (in.hasNext && in.head._1 == b && in.head._2 == t && in.head._7 == s) {
          val r = in.next()
          ids += r._3; tfs += r._4; imps += r._5; poss += r._6
        }
        PartialRunP(b, t, s, ids.result(), tfs.result(), imps.result(), poss.result())
      }
    }

  /** Stage-2: k-way merge of ≤numSalts disjoint sorted runs (heap merge —
    * salts interleave docIds, so concatenation would be wrong). */
  private def mergeRuns(bucket: Int, termId: Long,
                        runsIt: Iterator[PartialRun]): PostingList = {
    val runs = runsIt.toArray
    val total = runs.map(_.docIds.length).sum
    val ids = new Array[Long](total)
    val tfs = new Array[Int](total)
    val imps = new Array[Double](total)
    implicit val ord: Ordering[(Long, Int, Int)] = Ordering.by[(Long, Int, Int), Long](_._1).reverse
    val heap = mutable.PriorityQueue.empty[(Long, Int, Int)] // (docId, runIdx, pos) min-heap
    runs.indices.foreach { r => if (runs(r).docIds.nonEmpty) heap.enqueue((runs(r).docIds(0), r, 0)) }
    var i = 0
    while (heap.nonEmpty) {
      val (d, r, p) = heap.dequeue()
      ids(i) = d; tfs(i) = runs(r).tfs(p); imps(i) = runs(r).impacts(p)
      i += 1
      if (p + 1 < runs(r).docIds.length) heap.enqueue((runs(r).docIds(p + 1), r, p + 1))
    }
    packList(bucket, termId, ids, tfs, imps)
  }

  /** Positional k-way heap merge. */
  private def mergeRunsPos(bucket: Int, termId: Long,
                           runsIt: Iterator[PartialRunP]): PostingList = {
    val runs = runsIt.toArray
    val total = runs.map(_.docIds.length).sum
    val ids = new Array[Long](total)
    val tfs = new Array[Int](total)
    val imps = new Array[Double](total)
    val poss = new Array[Array[Int]](total)
    implicit val ord: Ordering[(Long, Int, Int)] = Ordering.by[(Long, Int, Int), Long](_._1).reverse
    val heap = mutable.PriorityQueue.empty[(Long, Int, Int)]
    runs.indices.foreach { r => if (runs(r).docIds.nonEmpty) heap.enqueue((runs(r).docIds(0), r, 0)) }
    var i = 0
    while (heap.nonEmpty) {
      val (d, r, p) = heap.dequeue()
      ids(i) = d; tfs(i) = runs(r).tfs(p); imps(i) = runs(r).impacts(p)
      poss(i) = runs(r).positions(p)
      i += 1
      if (p + 1 < runs(r).docIds.length) heap.enqueue((runs(r).docIds(p + 1), r, p + 1))
    }
    packList(bucket, termId, ids, tfs, imps, poss)
  }

  private def packList(bucket: Int, termId: Long, ids: Array[Long],
                       tfs: Array[Int], imps: Array[Double],
                       poss: Array[Array[Int]] = null): PostingList = {
    val packed = PostingCodec.pack(ids, tfs, imps, poss)
    PostingList(bucket, termId, packed.numDocs, packed.lastDocIds,
      packed.maxImpacts, packed.offsets, packed.bytes)
  }
}
