package graft.search

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

import graft.build.Segment
import graft.model._

/** Low-latency serving mode over one segment — the plan-reuse tier.
  *
  * The Dataset query path pays ~200-300 ms of Catalyst analysis +
  * two-stage scheduling per query because the term-id literals change
  * every call (a new `isin` ⇒ a new plan). A serving tier wants the
  * Lucene posture instead: index artifacts pinned in memory, one fixed
  * execution shape per query. Here the segment's posting lists are held
  * executor-side as a bucket-partitioned RDD of per-partition hash
  * indexes (termId → its lists), the dictionary and doc-length arrays
  * are resident exactly like Searcher's serving mode, and each query is
  * ONE pre-planned job: per-partition O(|q|) lookups, the SAME Wand
  * walks as the relational path, a ≤k-per-partition candidate merge on
  * the driver. No Catalyst in the loop, no shuffle, no corpus scan.
  *
  * RDD use is deliberate and confined to this class (input_hint: "no
  * RDD unless forced"): a fixed physical plan across literal-parameter
  * changes is the one thing Catalyst cannot give. Correctness is bound
  * to the relational path in ServingSpec: hits are bit-identical to
  * Searcher's for every query in the committed query set.
  *
  * At cluster scale each executor holds its partitions' lists resident
  * (MEMORY_AND_DISK), so a query touches every partition with O(|q|)
  * work — the classic term-sharded serving fan-out, with the driver as
  * the aggregator.
  */
final class ServingSearcher(spark: SparkSession, segment: Segment) {
  private val sc = spark.sparkContext
  private val stats: CorpusStats = segment.stats
  private val positional = segment.params.positional

  // this tier ASSUMES a resident dictionary + doc-length array (the
  // per-shard serving posture). Enforce the bound it assumes instead of
  // OOMing past it — a shard above these limits must be split, or served
  // through the relational Searcher (which has cogroup fallbacks).
  require(stats.numTerms <= ServingSearcher.MaxResidentTerms,
    s"ServingSearcher serves shards up to ${ServingSearcher.MaxResidentTerms} " +
      s"terms (got ${stats.numTerms}); split the shard or use Searcher")
  require(stats.numDocs <= ServingSearcher.MaxResidentDocs,
    s"ServingSearcher serves shards up to ${ServingSearcher.MaxResidentDocs} " +
      s"docs (got ${stats.numDocs}); split the shard or use Searcher")

  private val dictCache: Map[String, DictEntry] =
    segment.dict.collect().map(e => e.term -> e).toMap

  private val doclensB = sc.broadcast(
    segment.doclens.collect().map(b => b.bucket -> (b.firstDocId, b.lens)).toMap)

  /** Per-partition termId → posting-lists hash index, bucket-partitioned
    * so one bucket's lists co-reside. Built once, reused every query. */
  private val parts: RDD[Map[Long, Array[PostingList]]] = {
    val base = segment.postings.rdd
    val n = math.max(1, base.getNumPartitions)
    base.map(pl => (pl.bucket, pl))
      .partitionBy(new HashPartitioner(n))
      .mapPartitions(it => Iterator.single(it.map(_._2).toArray.groupBy(_.termId)),
        preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
  }
  parts.count() // pin now, not on first query

  def close(): Unit = { parts.unpersist(false); doclensB.destroy() }

  /** Top-k hits, same contract and bit-identical results as
    * Searcher.hits (ServingSpec). Returns driver-side rows — the
    * serving tier's natural shape. */
  def hits(kind: String, text: String, k: Int, qid: Long = 0L): Array[Hit] =
    hitsImpl(kind, text, k, qid, 0L, Long.MaxValue)

  /** "Did you mean" at serving latency — same ranking contract as
    * Searcher.suggest over the resident dictionary. */
  def suggest(word: String, k: Int, maxDist: Int = 1): Array[(String, Long)] = {
    val w = word.trim.toLowerCase
    if (w.isEmpty) return Array.empty
    dictCache.valuesIterator
      .filter(e => math.abs(e.term.length - w.length) <= maxDist &&
        Searcher.editDistance(e.term, w, maxDist) <= maxDist)
      .toArray
      .sortBy(e => (-e.df, e.term)).take(k).map(e => e.term -> e.df)
  }

  /** Phrase suggester at serving latency — the Searcher.suggestPhrase
    * contract (per-token levenshtein candidates ranked df desc/term asc,
    * candidate phrases ranked by the JM-smoothed unigram LM) over the
    * resident dictionary, zero Spark jobs. */
  def suggestPhrase(text: String, n: Int, maxDist: Int = 1,
                    perTok: Int = 3, lambda: Double = 0.9)
      : Array[(String, Double)] = {
    require(perTok >= 1 && perTok <= 4 && n >= 1, "phrase-suggest bounds")
    val toks = graft.tokenize.Tokenizer.tokenize(text)
    if (toks.isEmpty) return Array.empty
    require(toks.length <= 8,
      s"phrase suggestions are for short queries (got ${toks.length} tokens)")
    val total = totalCf.toDouble
    val v = stats.numTerms.toDouble
    def lnP(cf: Long): Double =
      math.log(lambda * cf / total + (1.0 - lambda) / v)
    val cands: Array[Array[(String, Long)]] = toks.map { t =>
      val w = t.trim.toLowerCase
      val es = dictCache.valuesIterator
        .filter(e => math.abs(e.term.length - w.length) <= maxDist &&
          Searcher.editDistance(e.term, w, maxDist) <= maxDist)
        .toArray.sortBy(e => (-e.df, e.term)).take(perTok)
      if (es.isEmpty) Array(t -> 0L) else es.map(e => e.term -> e.cf)
    }
    val phrases = cands.foldLeft(Array(("", 0.0))) { (acc, cs) =>
      for { (p, s) <- acc; (t, cf) <- cs }
        yield (if (p.isEmpty) t else s"$p $t", s + lnP(cf))
    }
    phrases
      .map { case (p, s) => (p, math.floor(s * 1e6 + 0.5) / 1e6) }
      .sortBy { case (p, s) => (-s, p) }
      .take(n)
  }

  /** Autocomplete at serving latency — same normalization and ranking
    * contract as Searcher.complete over the resident dictionary. */
  def complete(prefix: String, k: Int): Array[(String, Long)] = {
    val pieces = graft.tokenize.Tokenizer.tokenizeUnfiltered(prefix.trim.stripSuffix("*"))
    val p = if (pieces.isEmpty) "" else pieces.last
    if (p.isEmpty) return Array.empty
    dictCache.valuesIterator.filter(_.term.startsWith(p)).toArray
      .sortBy(e => (-e.df, e.term)).take(k).map(e => e.term -> e.df)
  }

  /** LM-Dirichlet retrieval at serving latency — bit-identical to
    * Searcher.lmdHits (LmdSpec): the pluggable-similarity surface with
    * p_t from the RESIDENT dictionary's exact Σcf, exhaustive-by-design
    * union walk (LM scores have no stored per-list bound). */
  def lmdHits(text: String, mu: Double, k: Int, qid: Long = 0L): Array[Hit] =
    run(QueryPlan.lmd(segment, lookup, text, mu, k, totalCf), qid)

  /** Span-first at serving latency — bit-identical to
    * Searcher.spanFirstHits (SpanFirstSpec). */
  def spanFirstHits(text: String, n: Int, k: Int, qid: Long = 0L): Array[Hit] =
    run(QueryPlan.spanFirst(segment, lookup, text, n, k), qid)

  /** Span-not at serving latency — bit-identical to
    * Searcher.spanNotHits (SpanNotSpec). */
  def spanNotHits(incText: String, excText: String, window: Int, k: Int,
                  qid: Long = 0L): Array[Hit] =
    run(QueryPlan.spanNot(segment, lookup, incText, excText, window, k), qid)

  /** Intervals at serving latency — bit-identical to
    * Searcher.intervalsHits (IntervalsSpec): ordered terms within a gap
    * budget, optionally not_containing a filter term. */
  def intervalsHits(text: String, maxGaps: Int, notText: String, k: Int,
                    qid: Long = 0L): Array[Hit] =
    run(QueryPlan.intervals(segment, lookup, text, maxGaps, notText,
      containing = false, k), qid)

  /** Intervals `containing` at serving latency — bit-identical to
    * Searcher.intervalsContainingHits (IntervalsSpec). */
  def intervalsContainingHits(text: String, maxGaps: Int, containText: String,
                              k: Int, qid: Long = 0L): Array[Hit] =
    run(QueryPlan.intervals(segment, lookup, text, maxGaps, containText,
      containing = true, k), qid)

  /** Intervals `any_of` at serving latency — bit-identical to
    * Searcher.intervalsAnyHits (IntervalsSpec). */
  def intervalsAnyHits(text: String, maxGaps: Int, notText: String, k: Int,
                       qid: Long = 0L): Array[Hit] =
    run(QueryPlan.intervalsAny(segment, lookup, text, maxGaps, notText, k), qid)

  /** search_after pagination at serving latency — same cursor contract
    * and bit-identical pages as Searcher.hitsAfter (PageSpec). */
  def hitsAfter(kind: String, text: String, k: Int, afterScore: Double,
                afterDocId: Long, qid: Long = 0L): Array[Hit] =
    hitsImpl(kind, text, k, qid, 0L, Long.MaxValue,
      after = Wand.Scored(afterDocId, afterScore))

  /** Scoped (docId-range) top-k — same range-view semantics as
    * Searcher.scopedHits, same global statistics. */
  def scopedHits(kind: String, text: String, k: Int, lo: Long, hi: Long,
                 qid: Long = 0L): Array[Hit] =
    hitsImpl(kind, text, k, qid, lo, hi)

  /** Fielded top-k (`lang:x`) — same bitset-filter semantics as
    * Searcher.fieldedHits, at serving latency. Bitsets build once per
    * (field, value) and stay broadcast. */
  def fieldedHits(kind: String, text: String, k: Int, field: String,
                  value: String, qid: Long = 0L): Array[Hit] =
    hitsImpl(kind, text, k, qid, 0L, Long.MaxValue, docFilterB(field, value))

  private val filterCache = scala.collection.concurrent.TrieMap
    .empty[(String, String), org.apache.spark.broadcast.Broadcast[Map[Int, Array[Long]]]]
  private[search] def docFilterB(field: String, value: String) =
    filterCache.getOrElseUpdate((field, value),
      sc.broadcast(ServingSearcher.bucketBitsets(segment, field, value)))

  /** Live-delete top-k — same tombstone semantics as
    * Searcher.deletedHits (scores keep pre-delete global statistics),
    * at serving latency: the tombstone bitset builds once per `tag` and
    * stays broadcast, exactly like the field filters it composes with. */
  def deletedHits(kind: String, text: String, k: Int, tag: String,
                  deleted: => org.apache.spark.sql.Dataset[Long],
                  qid: Long = 0L): Array[Hit] =
    hitsImpl(kind, text, k, qid, 0L, Long.MaxValue,
      rejectB = tombstoneB(tag, deleted))

  private val tombstoneCache = scala.collection.concurrent.TrieMap
    .empty[String, org.apache.spark.broadcast.Broadcast[Map[Int, Array[Long]]]]
  private[search] def tombstoneB(tag: String,
                                 deleted: => org.apache.spark.sql.Dataset[Long]) =
    tombstoneCache.getOrElseUpdate(tag,
      sc.broadcast(ServingSearcher.idBitsets(segment, deleted)))

  private type Bits = org.apache.spark.broadcast.Broadcast[Map[Int, Array[Long]]]

  private def hitsImpl(kind: String, text: String, k: Int, qid: Long,
                       lo: Long, hi: Long, acceptB: Bits = null,
                       rejectB: Bits = null, after: Wand.Scored = null)
      : Array[Hit] = {
    val entries = entriesFor(kind, text)
    run(QueryPlan.lower(kind, text, entries, QueryPlan.idf(entries, stats.numDocs),
      stats.avgDocLen, k, positional, expand)
      .map(_.copy(lo = lo, hi = hi, after = after)), qid, acceptB, rejectB)
  }

  private def run(plan: Option[QueryPlan], qid: Long, acceptB: Bits = null,
                  rejectB: Bits = null): Array[Hit] =
    plan.fold(Array.empty[Hit])(p =>
      ServingSearcher.rankMerge(rawScored(p, acceptB, rejectB), p.k, qid))

  private lazy val totalCf: Long = dictCache.valuesIterator.map(_.cf).sum

  /** Distinct terms resolved against the resident dictionary. */
  private def lookup(terms: Array[String]): Array[DictEntry] =
    terms.flatMap(dictCache.get).sortBy(_.termId)

  /** A boolean prefix/regex leaf expanded against the resident dictionary. */
  private[search] def expand(p: BoolQuery.Pattern): Array[DictEntry] = {
    val matches: String => Boolean =
      if (p.isRegex) { val re = java.util.regex.Pattern.compile(p.raw); re.matcher(_).matches() }
      else if (p.raw.isEmpty) _ => false // `*` alone: no expansion
      else _.startsWith(p.raw)
    dictCache.valuesIterator.filter(e => matches(e.term))
      .toArray.sortBy(_.termId).take(Searcher.MaxExpansion)
  }

  /** The dictionary entries a query's kind matches against, under this
    * segment's own vocabulary — the same expansion rules as
    * Searcher.entriesFor (the shared fuzzy/stem cores, one cap), shared
    * with the multi-segment tier, which re-derives GLOBAL idf from them. */
  private[search] def entriesFor(kind: String, text: String): Array[DictEntry] = {
    val terms = QueryParser.termsFor(kind, text)
    kind match {
      case "PREFIX" => expand(BoolQuery.Pattern(terms.head, isRegex = false))
      // WILD arrives glob→regex-translated
      case "REGEX" | "WILD" => expand(BoolQuery.Pattern(terms.head, isRegex = true))
      case "FUZZY" =>
        Searcher.fuzzyExpand(dictCache.valuesIterator, terms.head, QueryParser.fuzzyDist(text))
      case "STEM" => Stem.expand(dictCache.valuesIterator, terms.head)
      case "BOOL" => QueryPlan.boolEntries(BoolQuery.parse(text), lookup, expand)
      case _ => lookup(terms.distinct)
    }
  }

  /** One serving job over this segment's resident partitions: per
    * partition, the plan's lists grouped by bucket, each bucket walked
    * by Wand.eval; unranked per-bucket candidates come back. The closure
    * captures only locals. */
  private[search] def rawScored(plan: QueryPlan, acceptB: Bits = null,
                                rejectB: Bits = null): Array[Wand.Scored] = {
    val dlB = doclensB
    val bs = segment.params.bucketSize
    val (loBucket, hiBucket) = plan.bucketRange(bs)
    val tids = plan.tids
    sc.runJob(parts, (it: Iterator[Map[Long, Array[PostingList]]]) =>
      if (!it.hasNext) Array.empty[Wand.Scored]
      else {
        val idx = it.next()
        val acceptBits = if (acceptB == null) null else acceptB.value
        val rejectBits = if (rejectB == null) null else rejectB.value
        tids.flatMap(t => idx.getOrElse(t, Array.empty[PostingList]))
          .filter(pl => !plan.scoped || (pl.bucket >= loBucket && pl.bucket <= hiBucket))
          .groupBy(_.bucket).iterator.flatMap { case (bucket, lists) =>
            val accept = Wand.bucketFilter(bucket, bs, acceptBits, rejectBits)
            dlB.value.get(bucket) match {
              case Some((first, lens)) if !(accept eq Wand.RejectAll) =>
                Wand.eval(plan, lists, first, lens, accept)
              case _ => Array.empty[Wand.Scored]
            }
          }.toArray
      }).flatten
  }
}

/** Multi-segment serving tier — merge-on-read over un-compacted segments
  * (the live LSM read path: base segment + streamed appends), at serving
  * latency. Statistics are GLOBAL exactly as in MultiSearcher: N and
  * avgdl combine across segments, per-term df sums across the segment
  * dictionaries, and — because stored block maxima are not valid bounds
  * under global stats — every segment walks exhaustively
  * (OrWalk.Exhaustive). docId ranges are disjoint by construction
  * (StreamIndexer's high-watermark base), so per-segment candidates
  * merge by (score desc, docId). Bit-identity to MultiSearcher's
  * relational merge-on-read path is proven in ServingSpec.
  */
final class MultiServingSearcher(spark: SparkSession, segments: Seq[Segment]) {
  require(segments.nonEmpty)
  private val servers = segments.map(new ServingSearcher(spark, _))

  private val (numDocs: Long, avgdl: Double) = QueryPlan.globalStats(segments)

  def close(): Unit = servers.foreach(_.close())

  def hits(kind: String, text: String, k: Int, qid: Long = 0L): Array[Hit] =
    hitsImpl(kind, text, k, qid, None)

  /** Fielded queries across segments at serving latency — each server's
    * per-bucket bitset builds once from its own docmap and stays
    * broadcast; same semantics as MultiSearcher.fieldedHits. */
  def fieldedHits(kind: String, text: String, k: Int, field: String,
                  value: String, qid: Long = 0L): Array[Hit] =
    hitsImpl(kind, text, k, qid, None, Some((field, value)))

  /** Live deletes over the un-compacted multi-segment index at serving
    * latency — same semantics as MultiSearcher.deletedHits (scores keep
    * the pre-delete global statistics). Each segment's server builds and
    * caches its own broadcast bitset from the SAME global tombstone set;
    * disjoint docId ranges mean foreign buckets are never probed. */
  def deletedHits(kind: String, text: String, k: Int, tag: String,
                  deleted: => org.apache.spark.sql.Dataset[Long],
                  qid: Long = 0L): Array[Hit] =
    hitsImpl(kind, text, k, qid, Some((tag, () => deleted)))

  private def hitsImpl(kind: String, text: String, k: Int, qid: Long,
                       tomb: Option[(String, () => org.apache.spark.sql.Dataset[Long])],
                       fielded: Option[(String, String)] = None)
      : Array[Hit] = {
    val plans = QueryPlan.lowerGlobal(kind, text, k, numDocs, avgdl, segments,
      servers.map(_.entriesFor(kind, text)), servers.map(s => s.expand _))
    val all = servers.zip(plans).flatMap {
      case (srv, Some(plan)) =>
        srv.rawScored(plan,
          fielded.map { case (f, v) => srv.docFilterB(f, v) }.orNull,
          tomb.map { case (tag, d) => srv.tombstoneB(tag, d()) }.orNull)
      case _ => Array.empty[Wand.Scored]
    }.toArray
    ServingSearcher.rankMerge(all, k, qid)
  }
}

object ServingSearcher {
  /** Resident-dictionary bound (≈ tens of MB driver-side at 4M terms). */
  final val MaxResidentTerms: Long = 1L << 22
  /** Resident doc-length bound — matches Searcher.DoclenResidentLimit. */
  final val MaxResidentDocs: Long = 16L << 20

  /** Per-bucket docId bitsets for a docmap field predicate, built
    * executor-side and collected as ≤ bucketSize/8-byte blocks (driver
    * residency numDocs/8 bytes — the resident-doclens regime this tier
    * already enforces). Shared with Searcher.docFilter. */
  private[search] def bucketBitsets(segment: Segment, field: String,
                                    value: String): Map[Int, Array[Long]] = {
    val spark = segment.docs.sparkSession
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    idBitsets(segment, segment.docs.filter(col(field) === value)
      .select(col("docId")).as[Long])
  }

  /** The same per-bucket bitsets over an arbitrary docId set — the
    * tombstone variant. */
  private[search] def idBitsets(segment: Segment,
                                ids: org.apache.spark.sql.Dataset[Long]): Map[Int, Array[Long]] = {
    val spark = ids.sparkSession
    import spark.implicits._
    val bs = segment.params.bucketSize
    ids
      .groupByKey(d => (d / bs).toInt)
      .mapGroups { (bucket, it) =>
        val bits = new Array[Long](((bs + 63) / 64).toInt)
        it.foreach { d =>
          val off = (d - bucket.toLong * bs).toInt
          bits(off >> 6) |= 1L << (off & 63)
        }
        (bucket, bits)
      }
      .collect().toMap
  }

  /** (score desc, docId asc) merge of per-partition/per-segment
    * candidates into ranked top-k hits. */
  private[search] def rankMerge(all: Array[Wand.Scored], k: Int,
                                qid: Long): Array[Hit] = {
    java.util.Arrays.sort(all,
      Ordering.by[Wand.Scored, (Double, Long)](s => (-s.score, s.docId)))
    all.take(k).zipWithIndex.map { case (s, i) => Hit(qid, i + 1, s.docId, s.score) }
  }
}
