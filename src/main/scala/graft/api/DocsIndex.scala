package graft.api

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.build.{BuildParams, BuildReport, Segment, SegmentBuilder}
import graft.corpus.DatasetCorpusSource
import graft.model.{CorpusRow, Hit}
import graft.search.Searcher

/** Fulltext index over the driver testdata `documents` table — the bridge
  * between the engine (which indexes (repo,path,commit,lang,content)
  * corpora) and the DuckDB-verified query surface in SparkEntry.
  *
  * Mapping: repo := source, path := zero-padded doc_id (so string order
  * == numeric order and the id survives the round-trip), commit :=
  * constant snapshot marker, content := text. One index per sfDir is
  * built once and cached for the whole Verify/Bench run.
  */
object DocsIndex {

  private val cache = TrieMap.empty[String, (Segment, Searcher, BuildReport)]

  /** Drop memoized segments (tests only: a suite-level clearCache()
    * uncaches the datasets a memoized segment still references). */
  private[graft] def reset(): Unit = {
    cache.clear(); purgedCache.clear(); compactedCache.clear()
  }

  def documents(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  def corpus(spark: SparkSession, sfDir: String): Dataset[CorpusRow] = {
    import spark.implicits._
    documents(spark, sfDir).select(
      col("source").as("repo"),
      lpad(col("doc_id").cast("string"), 12, "0").as("path"),
      lit("snapshot0").as("commit"),
      col("lang"),
      col("text").as("content")).as[CorpusRow]
  }

  def get(spark: SparkSession, sfDir: String): (Segment, Searcher, BuildReport) =
    cache.getOrElseUpdate(sfDir, {
      val params = BuildParams(
        numPartitions = spark.sparkContext.defaultParallelism,
        bucketSize = 1L << 12, // small buckets: testdata is tiny, exercise >1 bucket
        positional = true)     // phrase queries over the documents surface
      val (seg0, report) = SegmentBuilder.build(
        spark, DatasetCorpusSource(corpus(spark, sfDir)), params)
      // serving-side compaction: the testdata index is a few MB — re-cache
      // it in a handful of partitions so each query's scan is a handful of
      // tasks, not numPartitions empty ones (a production serving tier
      // sizes cached partitions the same way)
      val seg = seg0.copy(
        postings = seg0.postings.repartition(4).cache(),
        doclens = seg0.doclens.repartition(2).cache(),
        docs = seg0.docs.repartition(4).cache(),
        // the dict must be re-cached too: seg0.unpersist() drops seg0's
        // cached dict, and a seg that still referenced it would recompute
        // the full tokenize+agg lineage on EVERY dict access (ft_dict
        // went 0.98s -> 4.91s in round 2 before this copy was added)
        dict = seg0.dict.repartition(1).cache())
      seg.postings.count(); seg.doclens.count(); seg.docs.count(); seg.dict.count()
      seg0.unpersist()
      (seg, new Searcher(spark, seg), report)
    })

  private val prunedCache = TrieMap.empty[String, (Segment, Searcher)]

  /** Statically pruned view of the sfDir index (IndexPruner, Carmel et
    * al. SIGIR'01): each posting list keeps its top half by impact
    * (minKeep 8). One build per sfDir per JVM, cached and counted like
    * the main segment. Kept postings score exactly as on the full
    * index; tail recall is the documented trade. */
  def getPruned(spark: SparkSession, sfDir: String): (Segment, Searcher) =
    prunedCache.getOrElseUpdate(sfDir, {
      val (seg, _, _) = get(spark, sfDir)
      val pseg0 = graft.index.IndexPruner.prune(spark, seg, 0.5, minKeep = 8)
      val pseg = pseg0.copy(postings = pseg0.postings.repartition(4).cache())
      pseg.postings.count()
      (pseg, new Searcher(spark, pseg))
    })

  /** Ranked top-k over the PRUNED index — same rounded-rank contract as
    * rankedHits; deliberately approximate at the tail (no SQL twin; the
    * exactness gates live in IndexPrunerSpec). */
  def prunedRankedHits(spark: SparkSession, sfDir: String, kind: String,
                       text: String, k: Int): DataFrame = {
    val (_, searcher) = getPruned(spark, sfDir)
    ranked(spark, sfDir, k)(searcher.hits(kind, text, _))
  }

  /** docId → original doc_id (the zero-padded path round-trips). */
  def withDocId(seg: Segment): DataFrame = docmap(seg, "doc_id")

  /** Top-k hits re-ranked by (round(score,6) desc, doc_id) — the rounded
    * ordering both engines can reproduce bit-identically. Fetches
    * [[TieSlack]] hits beyond k on the exact ordering so a rounding tie
    * at the k-boundary cannot change the selected set. */
  def rankedHits(spark: SparkSession, sfDir: String, kind: String,
                 text: String, k: Int): DataFrame = {
    val (_, searcher, _) = get(spark, sfDir)
    ranked(spark, sfDir, k)(searcher.hits(kind, text, _))
  }

  /** [[rankedHits]] through the MaxScore pruning strategy — identical
    * results to the WAND path by construction (the CORRECTNESS gate
    * shares ft_bm25_topk's oracle). */
  def maxScoreRankedHits(spark: SparkSession, sfDir: String, kind: String,
                         text: String, k: Int): DataFrame = {
    val (_, searcher, _) = get(spark, sfDir)
    ranked(spark, sfDir, k)(searcher.hitsMaxScore(kind, text, _))
  }

  /** rankedHits through the zero-hit relaxation ladder
    * (Searcher.relaxedHits): OOV terms drop, then highest-df terms,
    * until the conjunction matches. */
  def relaxedRankedHits(spark: SparkSession, sfDir: String, text: String,
                        k: Int): DataFrame = {
    val (_, searcher, _) = get(spark, sfDir)
    ranked(spark, sfDir, k)(searcher.relaxedHits(text, _))
  }

  /** Auto-correcting search (the "search instead for …" flow): run the
    * FREE query as typed; if it matches nothing, correct it to the
    * phrase suggester's top suggestion (Searcher.suggestPhrase — the
    * deterministic LM-ranked candidate) and run that instead. The
    * zero-hit probe is one k=1 job; the correction is dictionary-sized
    * driver work (the X49 regime); the re-query is one ordinary WAND
    * walk — never a corpus pass. */
  def autocorrectRankedHits(spark: SparkSession, sfDir: String, text: String,
                            k: Int): DataFrame = {
    val (_, searcher, _) = get(spark, sfDir)
    import spark.implicits._
    val query =
      if (!searcher.hits("FREE", text, 1).isEmpty) Some(text)
      else searcher.suggestPhrase(text, 1).headOption.map(_._1)
    ranked(spark, sfDir, k)(n =>
      query.fold(spark.emptyDataset[Hit])(searcher.hits("FREE", _, n)))
  }

  /** Field-sorted results (the ES `sort` surface): the query's match
    * set ordered by a docmap field instead of BM25 — "newest first" /
    * "longest first" result views. Matching uses the kind's unscored
    * walk (termId pushdown, no scoring, no doc lengths); the sort
    * is a top-k over match-set-sized rows — Catalyst plans
    * TakeOrderedAndProject (per-partition partial top-k + driver
    * merge), never a full sort. Tie-break doc_id asc. */
  def sortedMatches(spark: SparkSession, sfDir: String, kind: String,
                    text: String, k: Int): DataFrame = {
    matched(spark, sfDir, kind, text, "doc_id", "docLen")
      .select(col("doc_id"), col("docLen").cast("long").as("dl"))
      .orderBy(col("dl").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Numeric histogram aggregation over a query's FULL match set (the
    * ES histogram-agg shape, the numeric sibling of facets): matching
    * docs bucketed by docLen in `width`-token bins, one count per
    * non-empty bin. The match set comes from the kind's own presence
    * walk (Searcher.matchDocIds — termId pushdown, unscored walk);
    * the docmap join + hash agg touch match-set-sized data only. */
  def lenHistogram(spark: SparkSession, sfDir: String, kind: String,
                   text: String, width: Int): DataFrame = {
    require(width >= 1, "histogram bin width must be positive")
    matched(spark, sfDir, kind, text, "docLen")
      .select(lenBin(width))
      .groupBy(col("bin")).agg(count(lit(1)).as("n_docs"))
      .orderBy("bin")
  }

  /** Extended-stats aggregation over a query's FULL match set (the ES
    * `extended_stats` agg over a numeric field, here docLen): count,
    * min, max, sum, mean, population variance, population std-dev.
    * The match set comes from the kind's presence walk
    * (Searcher.matchDocIds — termId pushdown, unscored walk); the
    * docmap join + the single-row agg touch match-set-sized data only,
    * and the agg itself is partial+final (one row leaves each task).
    * Cross-engine determinism: sums are EXACT Longs (docLen and its
    * square), so mean = sum/n and var = sumsq/n − (sum/n)² are each one
    * IEEE division/multiply from exact integers — no Σ-of-doubles order
    * drift; both round under the explicit floor(x·1e6+0.5)/1e6 rule
    * (the sigterms lesson: ratios of small integers DO land on exact
    * 6-dp halves). An empty match set (an OOV query included) is one
    * row: n_docs 0 and every other column NULL, as SQL aggregates an
    * empty input. */
  def lenExtendedStats(spark: SparkSession, sfDir: String, kind: String,
                       text: String): DataFrame = {
    val dl = col("docLen").cast("long")
    val mean = col("sum_dl").cast("double") / col("n_docs")
    val variance = col("sumsq").cast("double") / col("n_docs") - mean * mean
    matched(spark, sfDir, kind, text, "docLen")
      .agg(
        count(lit(1)).as("n_docs"),
        min(dl).as("min_dl"),
        max(dl).as("max_dl"),
        sum(dl).as("sum_dl"),
        sum(dl * dl).as("sumsq"))
      .select(col("n_docs"), col("min_dl"), col("max_dl"), col("sum_dl"),
        rnd6(mean).as("avg_dl"),
        rnd6(variance).as("var_dl"),
        rnd6(sqrt(variance)).as("std_dl"))
  }

  /** Top-hits aggregation (the ES `top_hits` inside a `terms` agg —
    * "the best k docs per group"): the query's FULL scored match set,
    * grouped by a docmap field (lang), top `perGroup` per group by the
    * rounded-score contract. Scoring the whole match set is inherent to
    * the operator (ES does the same), so the walk is the exhaustive
    * disjunctive one — still termId-pushed and bucket-pruned. The
    * per-group top-k is EXACT TWO-STAGE: a partition-local partial
    * top-perGroup per group (mapPartitions, bounded output
    * ≤ P·|groups|·perGroup rows), then a final per-group merge — the
    * TakeOrderedAndProject shape generalized to groups, so the only
    * group-keyed shuffle moves the partial winners, never the match
    * set, and group-key skew (few langs) is bounded by the partial. */
  def topHitsByLang(spark: SparkSession, sfDir: String, kind: String,
                    text: String, perGroup: Int): DataFrame = {
    require(perGroup >= 1, "perGroup must be positive")
    val (seg, searcher, _) = get(spark, sfDir)
    val spark2 = spark
    import spark2.implicits._
    val hits = searcher.hitsExhaustive(kind, text, seg.stats.numDocs.toInt)
    val scored = hits.join(docmap(seg, "doc_id", "lang"), Seq("docId"))
      .select(col("lang"), col("doc_id"), round(col("score"), 6).as("score"))
      .as[(String, Long, Double)]
    val perG = perGroup
    def top(rows: Iterator[(String, Long, Double)])
        : Iterator[(String, Long, Double)] =
      rows.toSeq.groupBy(_._1).iterator.flatMap { case (_, xs) =>
        xs.sortBy { case (_, d, s) => (-s, d) }.take(perG)
      }
    scored
      .mapPartitions(top)                       // partial winners
      .groupByKey(_._1).flatMapGroups { (_, it) => // final merge
        top(it).toSeq.sortBy { case (_, d, s) => (-s, d) }
          .zipWithIndex
          .map { case ((l, d, s), i) => (l, d, s, i + 1L) }
      }
      .toDF("lang", "doc_id", "score", "grank")
      .orderBy(col("lang"), col("grank"))
  }

  /** Bucket-script + bucket-selector pipeline aggregations (X170 — ES
    * `bucket_script` and `bucket_selector` composed): per-lang buckets
    * of the query's FULL match set carry an exact count and docLen sum;
    * the script metric avg_len = len_sum / n_docs is ONE IEEE division
    * of two exact Longs (no Σ-of-doubles drift), rounded by the
    * explicit 6-dp half-up rule; the selector keeps buckets with
    * n_docs ≥ `minDocs`. Match set from the unscored walk (termId
    * pushdown); one partial+final hash agg keyed by lang —
    * bucket-table-sized output. */
  def langBucketScript(spark: SparkSession, sfDir: String, kind: String,
                       text: String, minDocs: Long): DataFrame = {
    matched(spark, sfDir, kind, text, "lang", "docLen")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("docLen")).cast("long").as("len_sum"))
      .filter(col("n_docs") >= minDocs)
      .select(col("lang"), col("n_docs"), col("len_sum"),
        rnd6(col("len_sum").cast("double") / col("n_docs").cast("double"))
          .as("avg_len"))
      .orderBy("lang")
  }

  /** Top-metrics aggregation (X171 — the ES `top_metrics` agg under a
    * `terms` agg): per lang bucket of the match set, the metrics of the
    * single top document by the sort (docLen desc, doc_id asc) — the
    * "value at the top of a sort" surface distinct from top_hits'
    * score ranking. Same no-Window two-stage per-group argmax as X70
    * (map-side partial winners, tiny final merge). */
  def topMetricsByLang(spark: SparkSession, sfDir: String, kind: String,
                       text: String): DataFrame = {
    import spark.implicits._
    def best(it: Iterator[(String, Long, Long)])
        : Iterator[(String, Long, Long)] =
      it.toSeq.groupBy(_._1).iterator.map { case (_, xs) =>
        xs.minBy { case (_, d, len) => (-len, d) }
      }
    matched(spark, sfDir, kind, text, "lang", "doc_id", "docLen")
      .select(col("lang"), col("doc_id"), col("docLen").cast("long"))
      .as[(String, Long, Long)]
      .mapPartitions(best)                        // partial argmax
      .groupByKey(_._1).mapGroups((_, it) =>      // final merge
        best(it).next())
      .toDF("lang", "top_doc_id", "top_doclen")
      .orderBy("lang")
  }

  /** LM-Dirichlet ranked hits (the pluggable-similarity surface) — see
    * Searcher.lmdHits. */
  def lmdRankedHits(spark: SparkSession, sfDir: String, text: String,
                    mu: Double, k: Int): DataFrame = {
    val (_, searcher, _) = get(spark, sfDir)
    ranked(spark, sfDir, k)(searcher.lmdHits(text, mu, _))
  }

  /** Boosting query (the ES `boosting` query / Lucene BoostingQuery):
    * rank by the positive query's BM25, but docs that ALSO match the
    * negative query have their score multiplied by `negBoost` ∈ [0, 1)
    * — demotion without exclusion ("prefer docs about X that are not
    * about Y"). Windowed like every multiplier that has no per-list
    * bound (the X30/X61 argument): the positive walk stays WAND-pruned
    * and only the top-`window` rows pay the demotion. The negative
    * membership probe is the negative query's own presence walk
    * (termId pushdown, unscored walk) filtered to the ≤window
    * candidate ids — match-set-sized at worst, window-sized out. */
  def boostingRankedHits(spark: SparkSession, sfDir: String, posKind: String,
                         posText: String, negKind: String, negText: String,
                         negBoost: Double, window: Int, k: Int): DataFrame = {
    require(negBoost >= 0.0 && negBoost < 1.0,
      s"negative boost must be in [0, 1), got $negBoost")
    val base = rankedHits(spark, sfDir, posKind, posText, window)
      .select(col("doc_id"), col("score"))
    val ids = base.select(col("doc_id")).collect().map(_.getLong(0))
    if (ids.isEmpty)
      return spark.range(0).select(
        lit(0L).as("doc_id"), lit(0.0).as("bm25"),
        lit(0.0).as("boosted"), lit(0L).as("rank"))
    val negIds = matched(spark, sfDir, negKind, negText, "doc_id")
      .filter(col("doc_id").isin(ids.toSeq: _*))
      .select(col("doc_id")).collect().map(_.getLong(0))
    val negLit = typedLit(negIds.toSeq.sorted)
    withRank(base
      .select(col("doc_id"), col("score").as("bm25"),
        round(col("score") *
          when(array_contains(negLit, col("doc_id")), lit(negBoost))
            .otherwise(lit(1.0)), 6).as("boosted"))
      .orderBy(col("boosted").desc, col("doc_id").asc)
      .limit(k))
  }

  /** Span-first ranked hits (Lucene SpanFirstQuery): every query term
    * within the first `n` tokens — see Searcher.spanFirstHits. */
  def spanFirstRankedHits(spark: SparkSession, sfDir: String, text: String,
                          n: Int, k: Int): DataFrame = {
    val (_, searcher, _) = get(spark, sfDir)
    ranked(spark, sfDir, k)(searcher.spanFirstHits(text, n, _))
  }

  /** Span-not ranked hits (the Lucene SpanNotQuery surface): include
    * term occurrences away from the exclude term — see
    * Searcher.spanNotHits. */
  def spanNotRankedHits(spark: SparkSession, sfDir: String, incText: String,
                        excText: String, window: Int, k: Int): DataFrame = {
    val (_, searcher, _) = get(spark, sfDir)
    ranked(spark, sfDir, k)(searcher.spanNotHits(incText, excText, window, _))
  }

  /** Intervals ranked hits (the Lucene/ES `intervals` algebra: ordered
    * source with max_gaps + optional not_containing filter) — see
    * Searcher.intervalsHits. */
  def intervalsRankedHits(spark: SparkSession, sfDir: String, text: String,
                          maxGaps: Int, notText: String, k: Int): DataFrame = {
    val (_, searcher, _) = get(spark, sfDir)
    ranked(spark, sfDir, k)(searcher.intervalsHits(text, maxGaps, notText, _))
  }

  /** Intervals ranked hits wrapped in `containing` (the dual of
    * not_containing): ordered terms within the gap budget with a filter
    * occurrence INSIDE some minimized interval — see
    * Searcher.intervalsContainingHits. */
  def intervalsContainingRankedHits(spark: SparkSession, sfDir: String,
                                    text: String, maxGaps: Int,
                                    containText: String, k: Int): DataFrame = {
    val (_, searcher, _) = get(spark, sfDir)
    ranked(spark, sfDir, k)(
      searcher.intervalsContainingHits(text, maxGaps, containText, _))
  }

  /** Intervals ranked hits with `any_of` slot alternatives (slot syntax
    * `alt1|alt2`, e.g. "fast|slow merge") — see
    * Searcher.intervalsAnyHits. */
  def intervalsAnyRankedHits(spark: SparkSession, sfDir: String, text: String,
                             maxGaps: Int, notText: String, k: Int): DataFrame = {
    val (_, searcher, _) = get(spark, sfDir)
    ranked(spark, sfDir, k)(searcher.intervalsAnyHits(text, maxGaps, notText, _))
  }

  /** Term vectors for one document (the ES `_termvectors` API): per
    * distinct term of the doc, its in-doc frequency, 1-based positions
    * over the filtered token stream (the highlight coordinate space),
    * and the collection statistics (df, cf) from the term dictionary.
    * Posture: ES computes un-stored term vectors by re-analyzing the
    * one document — same here: ONE pushdown-pruned row read (doc_id
    * predicate reaches the parquet scan), a flatMap tokenize of that
    * single row, and a broadcast dict join for the collection stats.
    * Nothing corpus-sized moves; the inverted index is never decoded
    * (doc→terms is the forward direction, which is exactly why ES
    * re-analyzes too). */
  def termVectors(spark: SparkSession, sfDir: String, docId: Long): DataFrame = {
    val (seg, _, _) = get(spark, sfDir)
    val spark2 = spark
    import spark2.implicits._
    val doc = documents(spark, sfDir)
      .filter(col("doc_id") === docId).select(col("text")).as[String]
    val toks = doc.flatMap { t =>
      graft.tokenize.Tokenizer.tokenize(t).iterator.zipWithIndex
        .map { case (w, i) => (w, i + 1L) }
    }.toDF("term", "pos")
    val tf = toks.groupBy(col("term")).agg(count(lit(1)).as("tf"))
    toks.join(tf, Seq("term"))
      .join(broadcast(seg.dict.select(col("term"), col("df"), col("cf"))),
        Seq("term"))
      .select(col("term"), col("tf"), col("df"), col("cf"), col("pos"))
      .orderBy(col("term"), col("pos"))
  }

  /** Deterministic random-score sampling of a query's match set (the ES
    * `function_score` `random_score` with seed + field: reproducible
    * "random" ordering — the shape behind randomized result audits and
    * unbiased corpus sampling of a filter's matches). The score of a
    * matching doc is the 15-hex-char md5 prefix of "seed:doc_id" — the
    * md5-portable hash family every curation twin already uses — so the
    * ordering is fully determined by (seed, doc_id) and identical across
    * engines, cluster sizes, and runs. Match set from the kind's
    * unscored walk (termId pushdown); the hash +
    * TakeOrderedAndProject top-k touch match-set-sized data only, all
    * inside whole-stage codegen (built-in md5/conv, no UDF). */
  def randomScoredHits(spark: SparkSession, sfDir: String, kind: String,
                       text: String, seed: Long, k: Int): DataFrame = {
    withRank(matched(spark, sfDir, kind, text, "doc_id")
      .select(col("doc_id"), seeded(seed).as("rand"))
      .orderBy(col("rand").desc, col("doc_id").asc)
      .limit(k))
  }

  /** Filters aggregation (the ES `filters` agg): named exact match
    * counts in one batched job — see Searcher.matchCountsBatch. */
  def filtersAgg(spark: SparkSession, sfDir: String,
                 filters: Seq[(String, String, String)]): DataFrame = {
    val (_, searcher, _) = get(spark, sfDir)
    val counts = searcher.matchCountsBatch(filters)
    val spark2 = spark
    import spark2.implicits._
    filters.map { case (name, _, _) => (name, counts.getOrElse(name, 0L)) }
      .toDF("name", "cnt").orderBy(col("name"))
  }

  /** Adjacency-matrix aggregation (the ES `adjacency_matrix` agg):
    * named match counts plus every pairwise-intersection count ("a&b",
    * names lexicographic) in one batched scan — see
    * Searcher.adjacencyCounts. Zero buckets are reported explicitly. */
  def adjacencyAgg(spark: SparkSession, sfDir: String,
                   filters: Seq[(String, String, String)]): DataFrame = {
    val (_, searcher, _) = get(spark, sfDir)
    val counts = searcher.adjacencyCounts(filters)
    val names = filters.map(_._1).sorted
    val keys = names ++ (for {
      i <- names.indices
      j <- (i + 1) until names.length
    } yield s"${names(i)}&${names(j)}")
    val spark2 = spark
    import spark2.implicits._
    keys.map(k => (k, counts.getOrElse(k, 0L)))
      .toDF("name", "cnt").orderBy(col("name"))
  }

  /** Rare-terms aggregation (the ES `rare_terms` agg, exact form):
    * every dictionary term with document frequency ≤ `maxDocCount`,
    * ordered by term — the long-tail/typo/contaminant surface the
    * frequency-ordered `terms` agg structurally cannot show. ES bounds
    * the error of its CuckooFilter approximation; the dictionary IS the
    * exact answer here, so this is the oracle form (the
    * exact-is-the-oracle posture of ft_cardinality). Execution is
    * dictionary-sized: one pushdown-filtered scan of the term
    * dictionary, ZERO corpus or postings work at query time. */
  def rareTerms(spark: SparkSession, sfDir: String,
                maxDocCount: Long): DataFrame = {
    require(maxDocCount >= 1, s"maxDocCount must be >= 1, got $maxDocCount")
    val (seg, _, _) = get(spark, sfDir)
    seg.dict.filter(col("df") <= maxDocCount)
      .select(col("term"), col("df"))
      .orderBy(col("term"))
  }

  /** Diversified sampler (the ES `diversified_sampler` agg, exact
    * global form): a deterministic pseudo-random sample of a query's
    * match set with AT MOST `perValue` docs per `lang` — the
    * de-biased relevance-feedback / inspection sample that plain
    * sampling skews toward the dominant domain. Selection is the
    * random_score hash family (md5-portable 15-hex prefix of
    * "seed:doc_id", ascending, doc_id tiebreak), so the sample is
    * reproducible and seed-sensitive. Scale: match set from the kind's
    * unscored walk (termId pushdown); per-lang capping is
    * the EXACT TWO-STAGE top-k (partition-local partial winners, then a
    * per-lang final merge) — the lang-keyed shuffle moves ≤ P·|langs|·m
    * rows, never the match set. */
  def diversifiedSample(spark: SparkSession, sfDir: String, kind: String,
                        text: String, seed: Long, perValue: Int): DataFrame = {
    require(perValue >= 1, s"perValue must be >= 1, got $perValue")
    import spark.implicits._
    val perV = perValue
    def top(rows: Iterator[(String, Long, Long)])
        : Iterator[(String, Long, Long)] =
      rows.toSeq.groupBy(_._1).iterator.flatMap { case (_, xs) =>
        xs.sortBy { case (_, d, h) => (h, d) }.take(perV)
      }
    matched(spark, sfDir, kind, text, "doc_id", "lang")
      .select(col("lang"), col("doc_id"), seeded(seed).as("rand"))
      .as[(String, Long, Long)]
      .mapPartitions(top)                          // partial winners
      .groupByKey(_._1).flatMapGroups((_, it) => top(it))
      .toDF("lang", "doc_id", "rand")
      .orderBy(col("lang"), col("rand"), col("doc_id"))
  }

  /** Composite aggregation (the ES `composite` agg): the paginated
    * multi-source bucket walk — buckets keyed by (lang, docLen bin)
    * over a query's match set, in strict key order, resuming AFTER a
    * given key. THE way to stream an unbounded bucket space out of an
    * engine page by page (a terms agg must materialize + sort all
    * buckets; composite pages deterministically). `after` = None is the
    * first page. Scale: match set from the presence walk; the bucket
    * agg is match-set-sized (partial+final); the after-key predicate
    * prunes BEFORE the agg (fewer groups materialize); the page is
    * TakeOrderedAndProject (partial top-size per partition), never a
    * full sort. */
  def compositeAgg(spark: SparkSession, sfDir: String, kind: String,
                   text: String, binWidth: Int,
                   after: Option[(String, Long)], size: Int): DataFrame = {
    require(binWidth >= 1, s"binWidth must be >= 1, got $binWidth")
    require(size >= 1, s"page size must be >= 1, got $size")
    val keyed = matched(spark, sfDir, kind, text, "lang", "docLen")
      .select(col("lang"), lenBin(binWidth))
    val paged = after match {
      case Some((aLang, aBin)) => keyed.filter(
        col("lang") > aLang ||
          (col("lang") === aLang && col("bin") > aBin))
      case None => keyed
    }
    paged.groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("bin"))
      .limit(size)
  }

  /** Percentiles aggregation (the ES `percentiles` agg over docLen,
    * EXACT nearest-rank form): for each requested percentile p, the
    * value at 1-based rank ceil(p/100 · n) of the ascending docLen sort
    * of the query's match set — the deterministic definition (ES defaults
    * to t-digest approximation; the exact form IS the oracle, the
    * ft_cardinality posture). Scale: the match set NEVER sorts —
    * docLen has bounded cardinality, so the plan is one match-set-sized
    * hash agg to a (docLen → count) HISTOGRAM (partial+final, output ≤
    * |distinct lengths| rows) + a driver-side cumulative walk over that
    * tiny table. All integer arithmetic — no float drift anywhere. */
  def lenPercentiles(spark: SparkSession, sfDir: String, kind: String,
                     text: String, pcts: Seq[Int]): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      s"percentiles must be in [1, 100], got $pcts")
    import spark.implicits._
    val (hist, n) = lenHist(spark, sfDir, kind, text)
    if (n == 0L) return spark.range(0).select(
      lit(0L).as("pct"), lit(0L).as("value"))
    pcts.sorted.map(p => (p.toLong, nearestRank(hist, n, p)))
      .toDF("pct", "value").orderBy(col("pct"))
  }

  /** Range aggregation (the ES `range` agg over docLen): named [lo, hi)
    * ranges (hi = None ⇒ unbounded, reported as Long.MaxValue) with
    * exact match-set counts; ES semantics preserved — EVERY requested
    * range is reported, empty ranges count 0, a doc can land in
    * overlapping ranges more than
    * once. Scale: ONE match-set-sized hash agg (partial+final) computes
    * all range counters as conditional sums in a single pass — the
    * range table never joins the corpus; the row pivot is a `stack`
    * over the one-row aggregate (no per-range recompute, no collect). */
  def lenRanges(spark: SparkSession, sfDir: String, kind: String,
                text: String,
                ranges: Seq[(String, Long, Option[Long])]): DataFrame = {
    require(ranges.nonEmpty, "range agg needs at least one range")
    require(ranges.forall { case (_, lo, hi) => hi.forall(_ > lo) },
      s"every range needs hi > lo, got $ranges")
    require(ranges.forall(!_._1.contains("'")),
      "range keys must not contain quotes")
    val dl = col("docLen").cast("long")
    val aggCols = ranges.zipWithIndex.map { case ((_, lo, hi), i) =>
      val pred = hi match {
        case Some(h) => dl >= lo && dl < h
        case None    => dl >= lo
      }
      coalesce(sum(when(pred, 1L)), lit(0L)).as(s"c$i")
    }
    val one = matched(spark, sfDir, kind, text, "docLen")
      .agg(aggCols.head, aggCols.drop(1): _*)
    // unbounded hi encodes as Long.MaxValue in the OUTPUT row (never
    // NULL — the verify hash treats NULL as NaN, and NaN != NaN)
    val stackArgs = ranges.zipWithIndex.map { case ((key, lo, hi), i) =>
      s"'$key', ${lo}L, ${hi.getOrElse(Long.MaxValue)}L, c$i"
    }.mkString(", ")
    one.selectExpr(s"stack(${ranges.length}, $stackArgs) " +
        "AS (range_key, lo, hi, n_docs)")
      .orderBy(col("lo"), col("range_key"))
  }

  /** Weighted-average aggregation (the ES `weighted_avg` agg): mean of
    * n_chars weighted by docLen over the query's match set — the exact
    * integer form (both sums are exact Longs; the single division is
    * one IEEE op, floor(x·1e6+0.5)/1e6-rounded — the X63 regime). Docs
    * with weight 0 contribute nothing to either sum, matching ES's
    * value·weight semantics. An empty match set (an OOV query
    * included) is one row: n_docs 0, w_sum and wavg NULL. Scale:
    * match-set-sized joins + a single-row partial+final agg. */
  def weightedAvgChars(spark: SparkSession, sfDir: String, kind: String,
                       text: String): DataFrame = {
    val dl = col("docLen").cast("long")
    matched(spark, sfDir, kind, text, "doc_id", "docLen")
      .join(documents(spark, sfDir).select(col("doc_id"), col("n_chars")),
        Seq("doc_id"))
      .agg(count(lit(1)).as("n_docs"), sum(dl).as("w_sum"),
        sum(col("n_chars") * dl).as("vw_sum"))
      .select(col("n_docs"), col("w_sum"),
        rnd6(col("vw_sum").cast("double") / col("w_sum")).as("wavg"))
  }

  /** Pipeline aggregations (ES `cumulative_sum` + `derivative` parent
    * pipeline aggs) over the [[lenHistogram]] buckets: running doc
    * total and first-difference per bin (NULL for the first bucket,
    * the ES derivative rule). Scale: pipeline aggs run on the REDUCED
    * bucket table by definition (≤ |distinct bins| rows), so the
    * unpartitioned ordered window is bucket-table-sized — the
    * match-set pass is the histogram's own partial+final agg. */
  def lenHistogramPipeline(spark: SparkSession, sfDir: String, kind: String,
                           text: String, width: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = lenHistogram(spark, sfDir, kind, text, width)
    val w = Window.orderBy("bin")
    // first-bucket derivative is undefined in ES (no row emitted for
    // it); here the row set is deterministic, so it reports 0 — the
    // explicit-zero posture, and NULL would break the verify hash
    hist.select(col("bin"), col("n_docs"),
        sum(col("n_docs")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("cum_docs"),
        coalesce(col("n_docs") - lag(col("n_docs"), 1).over(w), lit(0L))
          .as("deriv"))
      .orderBy("bin")
  }

  /** Sliding-window pipeline aggregations (ES `moving_fn` with the
    * unweighted-average function + `serial_diff`) over the
    * [[lenHistogram]] buckets: per bin, the trailing moving average of
    * `window` buckets (current bucket inclusive — the pinned window
    * convention, documented because ES's `shift` parameter makes the
    * endpoint configurable) and the `lag`-step serial difference
    * (ES serial_diff; buckets without a lag partner report 0, the
    * explicit-zero posture of the derivative pipeline). Determinism:
    * the window average is an exact-Long window sum over an exact-Long
    * window count — one IEEE division, floor(x·1e6+0.5)/1e6-rounded.
    * Scale: pipeline aggs run on the REDUCED bucket table by
    * definition, so the unpartitioned ordered window is
    * bucket-table-sized; the corpus-scale work is the histogram's own
    * partial+final agg. */
  def lenHistogramMoving(spark: SparkSession, sfDir: String, kind: String,
                         text: String, width: Int, window: Int,
                         lag: Int): DataFrame = {
    require(window >= 1, "moving window must be positive")
    require(lag >= 1, "serial-diff lag must be positive")
    import org.apache.spark.sql.expressions.Window
    val hist = lenHistogram(spark, sfDir, kind, text, width)
    val w = Window.orderBy("bin")
    val trail = w.rowsBetween(-(window - 1).toLong, Window.currentRow)
    hist.select(col("bin"), col("n_docs"),
        rnd6(sum(col("n_docs")).over(trail).cast("double") /
          count(lit(1)).over(trail)).as("mov_avg"),
        coalesce(col("n_docs") - lag2(col("n_docs"), lag, w), lit(0L))
          .as("sdiff"))
      .orderBy("bin")
  }

  private def lag2(c: org.apache.spark.sql.Column, n: Int,
                   w: org.apache.spark.sql.expressions.WindowSpec) =
    org.apache.spark.sql.functions.lag(c, n).over(w)

  /** Moving percentiles (the ES `moving_percentiles` pipeline agg over
    * the X87 histogram buckets): per bin, the EXACT q-percentile of the
    * bucket counts in the trailing current-inclusive window — the
    * shared X82 nearest-rank rule (element at rank ceil(q·m/100) of the
    * sorted m-value window), pinned exact where ES slides TDigest
    * sketches. Scale is the X94 regime: the window (and its per-row
    * sorted copy — ≤`window` Longs) lives on the REDUCED bucket table,
    * ≤|bins| rows by construction; integer ranks make the value
    * cross-engine exact with no float path at all. */
  def lenHistogramMovingPct(spark: SparkSession, sfDir: String, kind: String,
                            text: String, width: Int, window: Int,
                            q: Int): DataFrame = {
    require(window >= 1, "moving window must be positive")
    require(q >= 1 && q <= 100, s"percentile must be in [1,100], got $q")
    import org.apache.spark.sql.expressions.Window
    val hist = lenHistogram(spark, sfDir, kind, text, width)
    val trail = Window.orderBy("bin")
      .rowsBetween(-(window - 1).toLong, Window.currentRow)
    hist.select(col("bin"), col("n_docs"),
        sort_array(collect_list(col("n_docs")).over(trail)).as("wl"))
      .select(col("bin"), col("n_docs"),
        element_at(col("wl"),
          ceil(lit(q) * size(col("wl")) / lit(100.0)).cast("int"))
          .as("mov_pct"))
      .orderBy("bin")
  }

  /** Percentile-ranks aggregation (the ES `percentile_ranks` agg, exact
    * cumulative form): for each probe value v, the percentage of the
    * match set's docLen values ≤ v — the inverse surface of
    * [[lenPercentiles]] (X82). ES interpolates TDigest centroids; the
    * exact cumulative count is pinned here (exact-is-the-oracle).
    * Determinism: the cumulative count is an exact Long; the one IEEE
    * tree 100·cum/n is floor(x·1e6+0.5)/1e6-rounded. Scale: the X82
    * regime — ONE match-set-sized partial+final agg to the bounded
    * (docLen → count) histogram, then a driver walk; zero further
    * corpus passes. */
  def lenPercentileRanks(spark: SparkSession, sfDir: String, kind: String,
                         text: String, values: Seq[Long]): DataFrame = {
    require(values.nonEmpty, "percentile_ranks needs at least one value")
    import spark.implicits._
    val (hist, n) = lenHist(spark, sfDir, kind, text)
    if (n == 0L) return spark.range(0).select(
      lit(0L).as("value"), lit(0.0).as("pct_rank"))
    values.sorted.map { v =>
      val cum = hist.iterator.takeWhile(_._1 <= v).map(_._2).sum
      (v, rnd6(100.0 * cum / n))
    }.toDF("value", "pct_rank").orderBy(col("value"))
  }

  /** Bucket-sort + normalize pipeline aggregations (ES `bucket_sort`
    * with from/size over count-desc order, composed with `normalize`
    * method percent_of_sum) over the [[lenHistogram]] buckets: every
    * bucket's share of the TOTAL match set is computed first (the ES
    * pipeline ordering — normalize sees every bucket, the cut happens
    * after), then buckets re-order by (n_docs desc, bin asc — pinned
    * total order) and the page [from, from+size) is kept. Determinism:
    * share = 100·n_docs/Σ — exact Longs, one IEEE tree, floor-rounded.
    * Scale: the X87 regime — pipeline aggs run on the REDUCED bucket
    * table (≤|bins| rows), so the unpartitioned share window and the
    * sort/cut are bucket-table-sized; the corpus pass is the
    * histogram's own partial+final agg. */
  def lenHistogramBucketSort(spark: SparkSession, sfDir: String,
                             kind: String, text: String, width: Int,
                             from: Int, size: Int): DataFrame = {
    require(from >= 0, "bucket_sort from must be >= 0")
    require(size >= 1, "bucket_sort size must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val hist = lenHistogram(spark, sfDir, kind, text, width)
    val all = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    hist.select(col("bin"), col("n_docs"),
        rnd6(lit(100.0) * col("n_docs") / sum(col("n_docs")).over(all))
          .as("pct_of_sum"))
      .orderBy(col("n_docs").desc, col("bin").asc)
      .offset(from)
      .limit(size)
  }

  /** String-stats aggregation (the ES `string_stats` agg with
    * show_distribution's entropy) over the match set's `source` field:
    * value count, min/max/avg length, and the Shannon entropy (log
    * base 2) of the field's character distribution — the
    * keyword-field-profile surface (skew/noise detection on ids, tags,
    * source labels). Determinism: lengths are exact Longs (avg = one
    * IEEE division, floor-rounded); entropy derives driver-side from
    * the exact (char → count) histogram in ascending char order — a
    * fixed summation order over a bounded charset — floor-rounded at
    * the boundary (the Σ-of-ln regime: ≤|charset| addends, 1e-6 round
    * vs ~1e-14 noise). Scale: one match-set-sized single-row agg for
    * the lengths + one match-set-sized hash agg to the bounded char
    * histogram (≤|charset| rows out — the collect is charset-sized,
    * never corpus-sized). */
  def stringStats(spark: SparkSession, sfDir: String, kind: String,
                  text: String): DataFrame = {
    import spark.implicits._
    val vals = matched(spark, sfDir, kind, text, "repo").select(col("repo").as("s"))
    val lens = vals.agg(count(lit(1)).as("n"),
      min(length(col("s"))).as("minl"),
      max(length(col("s"))).as("maxl"),
      sum(length(col("s")).cast("long")).as("suml")).collect().head
    val n = lens.getLong(0)
    if (n == 0L) return spark.range(0).select(
      lit(0L).as("n_values"), lit(0L).as("min_len"), lit(0L).as("max_len"),
      lit(0.0).as("avg_len"), lit(0.0).as("entropy"))
    val hist = vals.select(explode(split(col("s"), "")).as("ch"))
      .groupBy("ch").agg(count(lit(1)).as("c"))
      .as[(String, Long)].collect().sortBy(_._1)
    val total = hist.map(_._2).sum.toDouble
    val ln2 = math.log(2.0)
    val ent = -hist.map { case (_, c) =>
      val p = c / total; p * math.log(p) / ln2
    }.sum
    Seq((n, lens.getInt(1).toLong, lens.getInt(2).toLong,
      rnd6(lens.getLong(3).toDouble / n), rnd6(ent)))
      .toDF("n_values", "min_len", "max_len", "avg_len", "entropy")
  }

  /** Stats-bucket pipeline aggregation (ES `stats_bucket`, subsuming
    * the avg_bucket / min_bucket / max_bucket / sum_bucket siblings):
    * one row of bucket-count statistics over the [[lenHistogram]]
    * buckets — how concentrated the match set's length distribution is.
    * sum_docs is the match-set size by construction (every matching doc
    * lands in exactly one bin — asserted as a law in EntrySpec).
    * Determinism: counts are exact Longs; avg = one IEEE division,
    * floor-rounded. Scale: the X87 regime — the pipeline agg runs on
    * the REDUCED bucket table (≤|bins| rows); the corpus pass is the
    * histogram's own partial+final agg. */
  def statsBucket(spark: SparkSession, sfDir: String, kind: String,
                  text: String, width: Int): DataFrame = {
    lenHistogram(spark, sfDir, kind, text, width)
      .agg(count(lit(1)).as("n_buckets"), min(col("n_docs")).as("min_docs"),
        max(col("n_docs")).as("max_docs"), sum(col("n_docs")).as("sum_docs"))
      .select(col("n_buckets"), col("min_docs"), col("max_docs"),
        col("sum_docs"),
        rnd6(col("sum_docs").cast("double") / col("n_buckets")).as("avg_docs"))
  }

  /** Multi-terms aggregation (the ES `multi_terms` agg): compound
    * (lang, docLen-bin) buckets of the query's match set ordered by
    * descending doc count — the "top compound buckets" sibling of the
    * key-ordered, paginating composite agg (X79). Tie-break
    * (lang ASC, bin ASC) is pinned so the top-k cut is total-order
    * deterministic. Scale: one match-set-sized partial+final hash agg;
    * the ordered cut is TakeOrderedAndProject over the REDUCED bucket
    * table (partial top-k per partition, never a full sort). */
  def multiTermsAgg(spark: SparkSession, sfDir: String, kind: String,
                    text: String, width: Int, k: Int): DataFrame = {
    require(width >= 1 && k >= 1, "multi_terms needs width >= 1, k >= 1")
    matched(spark, sfDir, kind, text, "lang", "docLen")
      .select(col("lang"), lenBin(width))
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("lang").asc, col("bin").asc)
      .limit(k)
  }

  /** Median-absolute-deviation aggregation (the ES
    * `median_absolute_deviation` agg, exact form): MAD = median of
    * |docLen − median(docLen)| over the match set, both medians under
    * the engine's pinned nearest-rank rule (smallest value whose
    * cumulative count reaches ceil(p·n/100) — the X82 percentiles
    * regime, so this exact form is the oracle and ES's TDigest is the
    * approximation). Scale: ONE match-set-sized partial+final agg
    * produces the (docLen, count) value histogram (≤ |distinct docLen|
    * rows — a bounded domain); both medians then derive from that
    * histogram driver-side with zero further corpus passes. */
  def lenMad(spark: SparkSession, sfDir: String, kind: String,
             text: String): DataFrame = {
    import spark.implicits._
    val (hist, n) = lenHist(spark, sfDir, kind, text)
    if (n == 0L) return spark.range(0).select(
      lit(0L).as("n_docs"), lit(0L).as("median"), lit(0L).as("mad"))
    val med = nearestRank(hist, n, 50)
    val devHist = hist.map { case (v, c) => (math.abs(v - med), c) }
      .groupBy(_._1).map { case (d, xs) => (d, xs.map(_._2).sum) }
      .toArray.sortBy(_._1)
    Seq((n, med, nearestRank(devHist, n, 50))).toDF("n_docs", "median", "mad")
  }

  /** Boxplot aggregation (the ES `boxplot` agg, exact form): min, q1,
    * median, q3, max and the interquartile range of the match set's
    * docLen, quartiles under the same pinned nearest-rank rule as
    * [[lenPercentiles]] (ES documents exactly this reduction to the
    * percentiles machinery). Same execution regime as [[lenMad]]: one
    * bounded-domain value-histogram agg, driver-side rank walk. */
  def lenBoxplot(spark: SparkSession, sfDir: String, kind: String,
                 text: String): DataFrame = {
    import spark.implicits._
    val (hist, n) = lenHist(spark, sfDir, kind, text)
    if (n == 0L) return spark.range(0).select(
      lit(0L).as("n_docs"), lit(0L).as("min_dl"), lit(0L).as("q1"),
      lit(0L).as("q2"), lit(0L).as("q3"), lit(0L).as("max_dl"),
      lit(0L).as("iqr"))
    val q1 = nearestRank(hist, n, 25)
    val q2 = nearestRank(hist, n, 50)
    val q3 = nearestRank(hist, n, 75)
    Seq((n, hist.head._1, q1, q2, q3, hist.last._1, q3 - q1))
      .toDF("n_docs", "min_dl", "q1", "q2", "q3", "max_dl", "iqr")
  }

  /** Two-sample Welch t-statistic (the ES `t_test` agg, `heteroscedastic`
    * type) over the docLen of TWO queries' match sets:
    * t = (ā − b̄) / √(s²ₐ/nₐ + s²ᵦ/nᵦ) with SAMPLE variances
    * s² = (Σx² − (Σx)²/n)/(n−1). ES reports the p-value; the output
    * here is pinned to the t-statistic itself — the CDF lookup has no
    * portable SQL form, and the statistic is the deterministic part.
    * Determinism: per-side n/Σx/Σx² are EXACT Longs; every derived
    * quantity is a fixed tree of IEEE ops over those integers, mirrored
    * literally in the DuckDB twin, floor(x·1e6+0.5)/1e6-rounded.
    * Scale: two presence walks + two single-row partial+final aggs —
    * nothing larger than the match sets moves, and the final cross of
    * two 1-row frames is trivial. */
  def lenTTest(spark: SparkSession, sfDir: String, kindA: String,
               textA: String, kindB: String, textB: String): DataFrame = {
    def side(kind: String, text: String, tag: String): DataFrame = {
      val dl = col("docLen").cast("long")
      matched(spark, sfDir, kind, text, "docLen")
        .agg(count(lit(1)).as(s"n_$tag"), sum(dl).as(s"sum_$tag"),
          sum(dl * dl).as(s"sumsq_$tag"))
    }
    val a = side(kindA, textA, "a"); val b = side(kindB, textB, "b")
    def meanOf(tag: String) =
      col(s"sum_$tag").cast("double") / col(s"n_$tag")
    def varOf(tag: String) =
      (col(s"sumsq_$tag").cast("double") -
        col(s"sum_$tag").cast("double") * col(s"sum_$tag") / col(s"n_$tag")) /
        (col(s"n_$tag") - 1)
    a.crossJoin(b).select(
      col("n_a"), col("n_b"),
      rnd6(meanOf("a")).as("mean_a"), rnd6(meanOf("b")).as("mean_b"),
      rnd6((meanOf("a") - meanOf("b")) /
        sqrt(varOf("a") / col("n_a") + varOf("b") / col("n_b"))).as("t_stat"))
  }

  /** Matrix-stats aggregation (the ES `matrix_stats` agg) over a query's
    * match set, fields (docLen, n_chars): per-field mean/variance plus
    * covariance and Pearson correlation. Same execution regime as
    * [[lenExtendedStats]]: presence-walk match set, docmap + documents
    * join touch match-set-sized data, single-row partial+final agg.
    * Determinism: all five sums are EXACT Longs; every derived moment is
    * a fixed tree of IEEE ops over those integers, floor-rounded. An
    * empty match set (an OOV query included) is one row: n_docs 0 and
    * every moment NULL. */
  def matrixStats(spark: SparkSession, sfDir: String, kind: String,
                  text: String): DataFrame = {
    val x = col("docLen").cast("long")
    val y = col("n_chars")
    val n = col("n_docs").cast("double")
    def mean(s: Column) = s.cast("double") / n
    val meanX = mean(col("sum_x")); val meanY = mean(col("sum_y"))
    val varX = col("sxx").cast("double") / n - meanX * meanX
    val varY = col("syy").cast("double") / n - meanY * meanY
    val cov = col("sxy").cast("double") / n - meanX * meanY
    matched(spark, sfDir, kind, text, "doc_id", "docLen")
      .join(documents(spark, sfDir).select(col("doc_id"), col("n_chars")),
        Seq("doc_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(x).as("sum_x"), sum(y).as("sum_y"),
        sum(x * x).as("sxx"), sum(y * y).as("syy"),
        sum(x * y).as("sxy"))
      .select(col("n_docs"),
        rnd6(meanX).as("mean_dl"), rnd6(meanY).as("mean_nc"),
        rnd6(varX).as("var_dl"), rnd6(varY).as("var_nc"),
        rnd6(cov).as("cov"),
        rnd6(cov / sqrt(varX * varY)).as("corr"))
  }

  /** Cardinality aggregation (the ES `cardinality` agg) over a query's
    * match set: exact distinct count of a docmap field (lang) — the
    * exact form IS the oracle; the approximate HLL++ scale path
    * (`approx_count_distinct`) is proven within its error bound against
    * this exact form in SketchSpec. Match-set-sized agg, skew-free.
    * An empty match set (an OOV query included) is one row,
    * n_langs 0. */
  def langCardinality(spark: SparkSession, sfDir: String, kind: String,
                      text: String): DataFrame =
    matched(spark, sfDir, kind, text, "lang")
      .agg(countDistinct(col("lang")).as("n_langs"))

  /** Batched multi-query rankedHits (msearch): every query of the batch
    * answered in ONE job over ONE union-pushdown postings scan
    * (Searcher.batchHits), each re-ranked by the same rounded contract
    * as [[rankedHits]]. The ≤|batch|·(k+[[TieSlack]])-row hit set
    * BROADCASTS into the docmap join (the Q9 side discipline). */
  def msearchRankedHits(spark: SparkSession, sfDir: String,
                        queries: Seq[(Long, String, String)], k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (seg, searcher, _) = get(spark, sfDir)
    broadcast(searcher.batchHits(queries, k + TieSlack).toDF())
      .join(withDocId(seg), Seq("docId"))
      .select(col("qid"), col("doc_id"), round(col("score"), 6).as("score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
      .filter(col("rank") <= k)
      .orderBy(col("qid"), col("rank"))
  }

  /** rankedHits restricted to one source/repo: the (repo, path, commit)
    * sort order makes a repo a CONTIGUOUS docId range, so the scope is a
    * cursor-range view + bucket pruning, not a filter pass. Scores keep
    * global corpus statistics. */
  def scopedRankedHits(spark: SparkSession, sfDir: String, kind: String,
                       text: String, k: Int, source: String): DataFrame = {
    import org.apache.spark.sql.functions.{max => fmax, min => fmin}
    val (seg, searcher, _) = get(spark, sfDir)
    val range = seg.docs.filter(col("repo") === source)
      .agg(fmin(col("docId")), fmax(col("docId")))
      .collect().headOption.filter(!_.isNullAt(0))
    import spark.implicits._
    // unknown source: no docs in scope — empty result, not a k=0 query
    ranked(spark, sfDir, k)(n => range.fold(spark.emptyDataset[Hit])(r =>
      searcher.scopedHits(kind, text, n, r.getLong(0), r.getLong(1) + 1)))
  }

  /** Fielded query surface: `lang:x` / `repo:y` atoms anywhere in the
    * query text, combined with any query kind for the remainder.
    * `repo:` resolves to the contiguous docId-range scope (X7);
    * `lang:` to a per-bucket docmap bitset probed inside the walks;
    * both compose. Scores keep GLOBAL corpus statistics. */
  def fieldedRankedHits(spark: SparkSession, sfDir: String, query: String,
                        k: Int): DataFrame = {
    import graft.search.QueryParser
    val (fields, rest) = QueryParser.parseFields(query)
    val (kind, _) = QueryParser.parse(rest)
    val (seg, searcher, _) = get(spark, sfDir)
    // numeric range atom `len:lo..hi` (inclusive, over the docmap's
    // docLen) and path glob atom `path:src/*`: one bitset probe via the
    // generalized predicate filter; lang:/repo: constraints fold into
    // the same predicate (one bitset, filters compose by conjunction)
    val LenRe = """(\d+)\.\.(\d+)""".r
    if (fields.contains("len") || fields.contains("path")) {
      var pred: org.apache.spark.sql.Column = lit(true)
      var tag = ""
      fields.get("len").foreach {
        case LenRe(lo, hi) =>
          pred = pred && col("docLen") >= lo.toLong && col("docLen") <= hi.toLong
          tag += s"len:$lo..$hi"
        case bad =>
          throw new IllegalArgumentException(
            s"len: atom must be lo..hi (inclusive), got 'len:$bad'")
      }
      fields.get("path").foreach { g =>
        pred = pred && col("path").like(QueryParser.globToLike(g))
        tag += s"|path:$g"
      }
      fields.get("lang").foreach { l =>
        pred = pred && col("lang") === l; tag += s"|lang:$l"
      }
      fields.get("repo").foreach { r =>
        pred = pred && col("repo") === r; tag += s"|repo:$r"
      }
      return ranked(spark, sfDir, k)(searcher.predFieldedHits(kind, rest, _, tag, pred))
    }
    (fields.get("repo"), fields.get("lang")) match {
      case (None, None) => rankedHits(spark, sfDir, kind, rest, k)
      case (None, Some(l)) =>
        ranked(spark, sfDir, k)(searcher.fieldedHits(kind, rest, _, "lang", l))
      case (Some(r), langOpt) =>
        import org.apache.spark.sql.functions.{max => fmax, min => fmin}
        val range = seg.docs.filter(col("repo") === r)
          .agg(fmin(col("docId")), fmax(col("docId")))
          .collect().headOption.filter(!_.isNullAt(0))
        import spark.implicits._
        ranked(spark, sfDir, k)(n => range.fold(spark.emptyDataset[Hit]) { row =>
          val (lo, hi) = (row.getLong(0), row.getLong(1) + 1)
          langOpt match {
            case Some(l) => searcher.scopedFieldedHits(kind, rest, n, lo, hi, "lang", l)
            case None => searcher.scopedHits(kind, rest, n, lo, hi)
          }
        })
    }
  }

  /** Matched term positions for the top-k docs of a query — the
    * snippet/highlight surface, in the oracle's coordinate space:
    * positions are 1-based over the filtered token stream (the engine's
    * 0-based index positions + 1 == DuckDB row_number over the same
    * stream). The top-k doc set is selected by the SAME rounded ranking
    * as rankedHits, so both engines pick identical docs. */
  def highlights(spark: SparkSession, sfDir: String, kind: String,
                 text: String, k: Int): DataFrame = {
    val (seg, searcher, _) = get(spark, sfDir)
    val top = rankedHits(spark, sfDir, kind, text, k)
      .select(col("doc_id")).collect().map(_.getLong(0))
    // ≤k rows: doc_id (external) → docId (dense internal) via the docmap
    val idByDocId = withDocId(seg)
      .filter(col("doc_id").isin(top.toSeq: _*))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the kind's own expansion rules (FUZZY/PREFIX/REGEX/BOOL-pattern
    // hits must highlight the EXPANDED terms' positions, not the raw
    // operand — which for an expansion kind is not even a vocab term)
    val entries = searcher.entriesFor(kind, text)
    val termByTid = entries.map(e => e.termId -> e.term).toMap
    val spark2 = spark
    import spark2.implicits._
    val bId = spark.sparkContext.broadcast(idByDocId)
    searcher.matchedPositions(entries, idByDocId.keys.toArray)
      .map { case (d, tid, p) => (bId.value(d), termByTid(tid), (p + 1).toLong) }
      .toDF("doc_id", "term", "pos")
      .orderBy("doc_id", "term", "pos")
  }

  /** Snippet/fragment extraction — the Elasticsearch highlighter's
    * fragment surface: for every matched position of [[highlights]], the
    * ±`w`-token window of the document's (filtered) token stream around
    * the match, joined back into a display string. One row per
    * (doc, term, position) with its fragment.
    *
    * Scale posture: the position set is bounded by the top-k docs (the
    * highlight regime — galloping cursor decode, never a full-list
    * decode); fragment assembly re-tokenizes ONLY those ≤k documents,
    * via a broadcast of the ≤k-doc position rows into a pushdown-pruned
    * read of their texts. Window slicing happens executor-side per row;
    * nothing corpus-sized moves. */
  def snippets(spark: SparkSession, sfDir: String, kind: String,
               text: String, k: Int, w: Int): DataFrame = {
    require(w >= 0, "snippet window must be non-negative")
    // bounded by the top-k docs' matched positions — the MMR/rescore
    // regime: assemble driver-side rather than re-running the highlight
    // pipeline once per join side
    val rows = highlights(spark, sfDir, kind, text, k).collect()
    val ids = rows.map(_.getLong(0)).distinct.toSeq
    // doc_id IN (≤k ids) pushes into the parquet scan (row-group pruning)
    val tokensById: Map[Long, Array[String]] =
      if (ids.isEmpty) Map.empty
      else documents(spark, sfDir)
        .filter(col("doc_id").isin(ids.map(Long.box): _*))
        .select(col("doc_id"), col("text")).collect()
        .map(r => r.getLong(0) ->
          graft.tokenize.Tokenizer.tokenize(r.getString(1))).toMap
    val out = rows.map { r =>
      val (d, term, pos) = (r.getLong(0), r.getString(1), r.getLong(2))
      val toks = tokensById(d)
      val frag = toks.slice(math.max(0, pos.toInt - 1 - w),
        math.min(toks.length, pos.toInt + w)).mkString(" ")
      (d, term, pos, frag)
    }
    val spark2 = spark
    import spark2.implicits._
    out.toSeq.toDF("doc_id", "term", "pos", "snippet")
      .orderBy("doc_id", "term", "pos")
  }

  /** Per-term BM25 score breakdown for the top-k docs of a query — the
    * Lucene `explain` surface (why did this doc score what it scored).
    * One row per (hit doc × matched query term) with the stored tf, the
    * doc length, the term's idf, and the term's BM25 contribution; the
    * doc's score is the sum of its contrib rows. The top-k doc set is
    * selected by the SAME rounded ranking as rankedHits, so both engines
    * pick identical docs; the tf decode touches only the query's termIds
    * and the ≤k hit docs' buckets ([[Searcher.matchedTfs]] — pushdown +
    * galloping cursor, never a full-list decode). */
  def explain(spark: SparkSession, sfDir: String, kind: String,
              text: String, k: Int): DataFrame = {
    val (seg, searcher, _) = get(spark, sfDir)
    val top = rankedHits(spark, sfDir, kind, text, k)
      .select(col("doc_id")).collect().map(_.getLong(0))
    val docRows = docmap(seg, "doc_id", "docLen")
      .filter(col("doc_id").isin(top.toSeq: _*)).collect()
    val extById = docRows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dlById = docRows.map(r => r.getLong(0) -> r.getInt(2)).toMap
    val entries = searcher.entriesFor(kind, text)
    val termByTid = entries.map(e => e.termId -> e.term).toMap
    // query-time term boosts scale the explained contribution exactly as
    // they scale the walk's score (pattern-LEAF weights inside BOOL apply
    // per expansion and are reported at 1.0 here — the one explain gap)
    val boosts = graft.search.QueryParser.boosts(kind, text)
    val idfByTid = entries.map(e =>
      e.termId -> (graft.model.BM25.idf(seg.stats.numDocs, e.df) *
        boosts.getOrElse(e.term, 1.0))).toMap
    val avgdl = seg.stats.avgDocLen
    val bExt = spark.sparkContext.broadcast(extById)
    val bDl = spark.sparkContext.broadcast(dlById)
    val spark2 = spark
    import spark2.implicits._
    searcher.matchedTfs(entries, extById.keys.toArray)
      .map { case (d, tid, tf) =>
        val dl = bDl.value(d)
        val idf = idfByTid(tid)
        (bExt.value(d), termByTid(tid), tf.toLong, dl.toLong, idf,
          graft.model.BM25.impact(idf, tf, dl, avgdl))
      }
      .toDF("doc_id", "term", "tf", "dl", "idf", "contrib")
      .withColumn("idf", round(col("idf"), 6))
      .withColumn("contrib", round(col("contrib"), 6))
      .orderBy("doc_id", "term")
  }

  /** Synonym-expanded search: rewrite the query against the equivalence
    * classes ([[graft.search.Synonyms]]) and rank through the ordinary
    * BOOL path — the index never changes, every tier inherits the
    * expansion. */
  def synonymRankedHits(spark: SparkSession, sfDir: String, kind: String,
                        text: String, k: Int,
                        syn: Map[String, Seq[String]]): DataFrame = {
    val (k2, t2) = graft.search.Synonyms.rewrite(kind, text, syn)
    rankedHits(spark, sfDir, k2, t2, k)
  }

  /** Deterministic tombstone fixture shared with the DuckDB twins: the
    * documents whose external `doc_id % 7 == 3` (≈14% of the corpus) are
    * deleted. Returns INTERNAL docIds via the docmap. */
  def deletedDocIds(spark: SparkSession, sfDir: String): Dataset[Long] = {
    import spark.implicits._
    val (seg, _, _) = get(spark, sfDir)
    seg.docs.filter(col("path").cast("long") % 7 === 3)
      .select(col("docId")).as[Long]
  }

  /** Index-time sorting (X165 — Lucene `IndexSorting` / ES
    * `index.sort`): a second index whose docIds are assigned in
    * (n_chars DESC, doc_id ASC) order, by encoding the sort key into
    * the build's natural key (repo = zero-padded 1e9 − n_chars; the
    * (repo, path, commit) range sort then IS the static-field sort).
    * Sorted-by-signal queries early-terminate: the first k matches of
    * a docId-ordered walk are the answer, and postings past the k-th
    * match are never decoded (Searcher.earlyHits: each bucket's unscored
    * walk stops at k). Built once per sfDir; Bench bills it
    * as `sorted_build`. */
  private val sortedIdxCache = TrieMap.empty[String, (Segment, Searcher)]

  private def sortedIndex(spark: SparkSession, sfDir: String): (Segment, Searcher) =
    sortedIdxCache.getOrElseUpdate(sfDir, {
      val spark2 = spark
      import spark2.implicits._
      val src = documents(spark, sfDir).select(
        lpad((lit(999999999L) - col("n_chars")).cast("string"), 10, "0").as("repo"),
        lpad(col("doc_id").cast("string"), 12, "0").as("path"),
        lit("snapshot0").as("commit"),
        col("lang"),
        col("text").as("content")).as[CorpusRow]
      val params = BuildParams(
        numPartitions = spark.sparkContext.defaultParallelism,
        bucketSize = 1L << 12)
      val (s0, _) = SegmentBuilder.build(spark, DatasetCorpusSource(src), params)
      val s = s0.copy(
        docs = s0.docs.repartition(4).cache(),
        dict = s0.dict.repartition(1).cache(),
        postings = s0.postings.repartition(4).cache())
      s.docs.count(); s.dict.count(); s.postings.count()
      s0.docs.unpersist(); s0.dict.unpersist(); s0.postings.unpersist()
      (s, new Searcher(spark, s))
    })

  /** Top-k of the match set by the INDEX SORT (n_chars desc, doc_id
    * asc) — early-terminated, never scored. Output (doc_id, n_chars,
    * rank). */
  def sortedIndexRankedHits(spark: SparkSession, sfDir: String, kind: String,
                            text: String, k: Int): DataFrame = {
    val (seg, searcher) = sortedIndex(spark, sfDir)
    withRank(searcher.earlyHits(kind, text, k)
      .join(seg.docs.select(col("docId"),
        col("path").cast("long").as("doc_id"),
        (lit(999999999L) - col("repo").cast("long")).as("n_chars")), Seq("docId"))
      .orderBy(col("docId").asc).limit(k)
      .select(col("doc_id"), col("n_chars")))
  }

  /** Term-range query (X166 — Lucene TermRangeQuery `[lo TO hi]`):
    * the dictionary interval expands (contiguous term-sorted range
    * scan, deterministic cap) and the expansion runs the ordinary
    * disjunctive BM25 walk — the PREFIX recipe with an interval
    * instead of a prefix. */
  def termRangeRankedHits(spark: SparkSession, sfDir: String, lo: String,
                          hi: String, k: Int): DataFrame = {
    val (_, searcher, _) = get(spark, sfDir)
    val entries = searcher.dictLookupRange(lo, hi)
    import spark.implicits._
    if (entries.isEmpty)
      return Seq.empty[(Long, Double, Long)].toDF("doc_id", "score", "rank")
    ranked(spark, sfDir, k)(
      searcher.hits("OR", entries.map(_.term).mkString(" OR "), _))
  }

  /** The full LIVE LSM read path, end-to-end through the facade
    * (X162): the corpus is APPENDED as two on-disk segments through an
    * `LsmIndex` handle (disjoint bucket-aligned docId ranges), the
    * mod-7 tombstone fixture goes through `delete` into the durable
    * delete log, and the query runs `LsmIndex.fieldedHits` —
    * merge-on-read across both segments with GLOBAL statistics, the
    * per-segment `lang` docmap bitset AND the live tombstone bitset
    * composing inside every walk. Scores keep pre-delete full-corpus
    * statistics (filter-doesn't-rescale), so the DuckDB twin is the
    * standard BM25 SQL with the two filters on the RESULT set only.
    * Built once per sfDir; Bench bills it as `lsm_build`. */
  private val lsmLiveCache = TrieMap.empty[String, graft.api.LsmIndex]

  private def lsmLive(spark: SparkSession, sfDir: String): graft.api.LsmIndex =
    lsmLiveCache.getOrElseUpdate(sfDir, {
      val params = BuildParams(
        numPartitions = spark.sparkContext.defaultParallelism,
        bucketSize = 1L << 12,
        positional = true)
      val dir = java.nio.file.Files.createTempDirectory("graft-lsm-live").toString
      val handle = new graft.api.LsmIndex(spark, dir, params)
      val all = corpus(spark, sfDir)
      val half = all.count() / 2
      // deterministic two-segment split on the external id
      handle.append(all.filter(col("path").cast("long") < half))
      handle.append(all.filter(col("path").cast("long") >= half))
      // the shared mod-7 tombstone fixture, through the durable log
      handle.delete(col("path").cast("long") % 7 === 3)
      handle
    })

  def lsmLiveRankedHits(spark: SparkSession, sfDir: String, kind: String,
                        text: String, k: Int, field: String,
                        value: String): DataFrame = {
    val idx = lsmLive(spark, sfDir)
    val docMap = idx.liveSegments().map(withDocId).reduce(_ unionByName _)
    topK(docMap, idx.fieldedHits(kind, text, k + TieSlack, field, value), k)
  }

  /** Top-k with the tombstone fixture excluded — LIVE deletes: scores
    * keep the full-corpus statistics (filter-doesn't-rescale, the
    * pre-compaction posture); excluded docs are skipped inside the walks
    * via the per-bucket tombstone bitset. */
  def deletedRankedHits(spark: SparkSession, sfDir: String, kind: String,
                        text: String, k: Int): DataFrame = {
    val (_, searcher, _) = get(spark, sfDir)
    ranked(spark, sfDir, k)(searcher.deletedHits(kind, text, _, "mod7",
        deletedDocIds(spark, sfDir)))
  }

  /** The same tombstones COMPACTED away: the purged segment carries
    * recomputed statistics (N, avgdl, df — and re-baked impacts/block
    * maxima), so scores differ from the live-delete path exactly as an
    * LSM engine's do after a merge. Built once per sfDir. */
  private val purgedCache = TrieMap.empty[String, (Segment, Searcher)]

  def purgedRankedHits(spark: SparkSession, sfDir: String, kind: String,
                       text: String, k: Int): DataFrame = {
    val (segP, searcherP) = purgedCache.getOrElseUpdate(sfDir, {
      val (seg, _, _) = get(spark, sfDir)
      val (p0, _) = graft.index.SegmentMerger.purge(spark, seg,
        deletedDocIds(spark, sfDir), seg.params.copy(segId = seg.params.segId + 1))
      val p = p0.copy(
        docs = p0.docs.repartition(4).cache(),
        dict = p0.dict.repartition(1).cache(),
        postings = p0.postings.repartition(4).cache())
      p.docs.count(); p.dict.count(); p.postings.count()
      p0.docs.unpersist(); p0.dict.unpersist(); p0.postings.unpersist()
      (p, new Searcher(spark, p))
    })
    rankedSeg(segP, k)(searcherP.hits(kind, text, _))
  }

  /** Page `skip/k .. skip/k + 1` of the rounded ranking — the SQL-parity
    * pagination surface (rank window over one fetch of skip+k+slack,
    * re-based rank). The ENGINE's deep-paging path is
    * Searcher.hitsAfter / ServingSearcher.hitsAfter: an exact-space
    * (score, docId) cursor filtered inside the walks at O(k) memory per
    * page (PageSpec proves page-concatenation ≡ deep fetch); this
    * surface stays in ROUNDED space because the DuckDB twin can only
    * reproduce the rounded order. */
  def pagedRankedHits(spark: SparkSession, sfDir: String, kind: String,
                      text: String, k: Int, skip: Int): DataFrame = {
    val (_, searcher, _) = get(spark, sfDir)
    ranked(spark, sfDir, skip + k)(searcher.hits(kind, text, _))
      .filter(col("rank") > skip)
      .select(col("doc_id"), col("score"), (col("rank") - skip).as("rank"))
  }

  /** The same ranking served through a SIZE-TIERED-COMPACTED index: the
    * corpus is chunk-indexed into on-disk segments (the LSM write path),
    * Compaction.run merges them down to one under a force-merge policy,
    * and queries go through the compacted segment's WAND-pruned path.
    * Ranking is bit-identical to the monolithic index (CompactionSpec's
    * byte-identity proof), so the DuckDB twin is the standard BM25 SQL
    * over the full corpus. Built once per sfDir; Bench bills the
    * chunk-build + merge rounds as `compact_build`. */
  private val compactedCache = TrieMap.empty[String, (Segment, Searcher)]

  def compactedRankedHits(spark: SparkSession, sfDir: String, kind: String,
                          text: String, k: Int): DataFrame = {
    val (segC, searcherC) = compactedCache.getOrElseUpdate(sfDir, {
      import graft.index.{ChunkedIndexer, Compaction, IndexStorage}
      val params = BuildParams(
        numPartitions = spark.sparkContext.defaultParallelism,
        bucketSize = 1L << 12,
        positional = true)
      val dir = java.nio.file.Files.createTempDirectory("graft-compacted").toString
      new ChunkedIndexer(dir, chunkDocs = 1L << 12, params)
        .build(spark, DatasetCorpusSource(corpus(spark, sfDir)))
      // force-merge posture: tier everything together until one remains
      val policy = Compaction.Policy(tierFactor = 1e9, minMerge = 2, maxMerge = 16)
      while (Compaction.run(spark, dir, policy).nonEmpty) ()
      val live = Compaction.listLive(dir)
      require(live.size == 1,
        s"compaction must converge to one segment, got ${live.map(_.segId)}")
      val c0 = IndexStorage.read(spark,
        IndexStorage.segDir(dir, live.head.segId).toString)
      val c = c0.copy(
        docs = c0.docs.repartition(4).cache(),
        dict = c0.dict.repartition(1).cache(),
        postings = c0.postings.repartition(4).cache(),
        doclens = c0.doclens.repartition(2).cache())
      c.docs.count(); c.dict.count(); c.postings.count(); c.doclens.count()
      (c, new Searcher(spark, c))
    })
    rankedSeg(segC, k)(searcherC.hits(kind, text, _))
  }

  /** Result collapsing: the best hit per source ("repo"), top `kRepos`
    * sources by their best hit — Searcher.collapsedHits with the docId
    * mapped back to the table's doc_id and a rank column. */
  def collapsedRankedHits(spark: SparkSession, sfDir: String, kind: String,
                          text: String, kRepos: Int): DataFrame = {
    val (seg, searcher, _) = get(spark, sfDir)
    // broadcast the ≤kRepos collapsed side, never the corpus-sized docmap
    withRank(broadcast(searcher.collapsedHits(kind, text, kRepos))
      .join(withDocId(seg), Seq("docId"))
      .select(col("repo").as("source"), col("doc_id"), col("score"))
      .orderBy(col("score").desc, col("source").asc))
  }

  /** Parent-child scored join (ES `has_child`): rank sources by an
    * aggregate (`score_mode` max|sum|avg) of their matching documents'
    * BM25 scores, keeping sources with ≥ `minChildren` matches — see
    * Searcher.hasChildHits. */
  def hasChildRankedHits(spark: SparkSession, sfDir: String, kind: String,
                         text: String, scoreMode: String, minChildren: Int,
                         kRepos: Int): DataFrame = {
    val (_, searcher, _) = get(spark, sfDir)
    withRank(searcher.hasChildHits(kind, text, scoreMode, minChildren, kRepos)
      .select(col("repo").as("source"), col("n_children"), col("score"))
      .orderBy(col("score").desc, col("source").asc))
  }

  /** Parent-child scored join, child side (ES `has_parent`, score mode
    * `score`): return every CHILD document whose parent (source) ranks
    * among the top `kParents` under the [[hasChildRankedHits]] parent
    * scoring, each child inheriting its parent's score and rank — the
    * ES semantics where a parent-level query gates and scores the
    * children. Plan: the parent table is ≤ kParents rows, broadcast
    * into one semi-scoring join against the docmap — the corpus pays
    * exactly one narrow pass beyond the parent ranking itself. */
  def hasParentRankedHits(spark: SparkSession, sfDir: String, kind: String,
                          text: String, scoreMode: String, minChildren: Int,
                          kParents: Int): DataFrame = {
    val parents = hasChildRankedHits(spark, sfDir, kind, text, scoreMode,
      minChildren, kParents)
    documents(spark, sfDir).select(col("doc_id"), col("source"))
      .join(org.apache.spark.sql.functions.broadcast(
        parents.select(col("source"), col("score").as("parent_score"),
          col("rank").as("parent_rank"))), Seq("source"))
      .select(col("doc_id"), col("source"), col("parent_score"),
        col("parent_rank"))
      .orderBy("parent_rank", "doc_id")
  }

  /** More-like-this: rank the corpus by BM25 over the `m` most
    * informative terms of document `seedDocId` (Searcher.mltTerms),
    * excluding the seed itself. The seed text is ONE pushdown-pruned row
    * read; term selection is driver-side against the cached dict; the
    * ranking is the ordinary FREE WAND walk — so MLT costs exactly one
    * extra point lookup over a normal query. One hit beyond the
    * [[TieSlack]] covers the excluded seed. */
  def mltRankedHits(spark: SparkSession, sfDir: String, seedDocId: Long,
                    m: Int, k: Int): DataFrame = {
    val (seg, searcher, _) = get(spark, sfDir)
    import spark.implicits._
    val seedText = documents(spark, sfDir)
      .filter(col("doc_id") === seedDocId).select(col("text"))
      .collect().headOption.map(_.getString(0)).getOrElse("")
    val sel = searcher.mltTerms(seedText, m)
    val hits =
      if (sel.isEmpty) spark.emptyDataset[Hit]
      else searcher.hits("FREE", sel.mkString(" "), k + TieSlack + 1)
    topK(withDocId(seg).filter(col("doc_id") =!= seedDocId), hits, k)
  }

  /** Hybrid lexical+vector search fused by Reciprocal Rank Fusion
    * (Cormack et al. SIGIR'09): rrf(d) = Σ_lists 1/(C + rank_d) over the
    * BM25 top-`kEach` for `text` and the exact-cosine top-`kEach`
    * neighbors of `seedVecId`'s embedding; a doc absent from a list
    * contributes 0 from it. Rank-based fusion needs NO score
    * normalization (BM25 and cosine live on incomparable scales), which
    * is why RRF is the production default for hybrid retrieval.
    *
    * Scale posture: each leg is its own already-scale-shaped operator
    * (WAND walk; broadcast-query cosine pass — swap in AnnIndex for the
    * LSH leg at corpus scale); the fusion joins two ≤kEach-row sides —
    * driver-trivial, broadcast by size. C = 60, the paper's constant. */
  /** Hard-negative mining — the BM25-negatives recipe of contrastive
    * retrieval training (DPR, Karpukhin et al. EMNLP 2020; ANCE): for
    * every seed document, the top-k documents that score high under the
    * seed's most-informative terms (the MLT selection) but are NOT the
    * seed and NOT an exact duplicate of it — lexically close non-copies,
    * the negatives that actually teach an embedding model.
    *
    * Scale posture: ALL seeds run through ONE batched job
    * (Searcher.batchHits — union-termId pushdown scan, the X38 shape),
    * so mining 10k seeds costs one scan, not 10k jobs; the exclusion
    * join touches only the ≤|seeds|·(k+[[TieSlack]]+1) candidate rows
    * (broadcast into the docmap/text joins), and duplicate detection is TEXT
    * equality against the broadcast seed texts (the D1 exact-dup
    * criterion, evaluated candidate-side — no corpus-scale dedup run).
    * Output (seed_id, doc_id, score, rank), the rounded contract. */
  def mineNegatives(spark: SparkSession, sfDir: String, seedIds: Seq[Long],
                    m: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (seg, searcher, _) = get(spark, sfDir)
    val seeds: Map[Long, String] = documents(spark, sfDir)
      .filter(col("doc_id").isin(seedIds.map(Long.box): _*))
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val queries = seedIds.flatMap { id =>
      val sel = searcher.mltTerms(seeds.getOrElse(id, ""), m)
      if (sel.isEmpty) None else Some((id, "FREE", sel.mkString(" ")))
    }
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("seed_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("score",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("rank",
          org.apache.spark.sql.types.LongType))))
    if (queries.isEmpty) return empty
    val bcSeeds = spark.sparkContext.broadcast(seeds)
    val isSeedCopy = udf { (qid: Long, text: String) =>
      bcSeeds.value.get(qid).contains(text)
    }
    broadcast(searcher.batchHits(queries, k + TieSlack + 1).toDF())
      .join(withDocId(seg), Seq("docId"))
      .join(documents(spark, sfDir).select(col("doc_id"), col("text")),
        Seq("doc_id"))
      .filter(col("qid") =!= col("doc_id"))
      .filter(!isSeedCopy(col("qid"), col("text")))
      .select(col("qid").as("seed_id"), col("doc_id"),
        round(col("score"), 6).as("score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("seed_id"))
          .orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
      .filter(col("rank") <= k)
      .orderBy(col("seed_id"), col("rank"))
  }

  /** Pseudo-relevance feedback (Rocchio SMART 1971; the Lucene
    * MoreLikeThis interesting-terms selection; the blind-feedback family
    * RM3 belongs to): run the query, take the top `fbDocs` under the
    * rounded contract, select the `fbTerms` most interesting NEW terms
    * from those docs by cfFb(t)·idf(t) — cfFb = Σtf over the feedback
    * docs, an INTEGER, so each selection weight is ONE exact product
    * (order-independent across engines; floor-rounded, term-asc ties) —
    * then re-run expanded: original terms at weight 1, expansion terms
    * at weight 0.5 (exactly representable), through the X24 boost
    * machinery.
    *
    * Scale posture: the feedback set is fbDocs-sized (driver-trivial);
    * term extraction re-tokenizes ONLY those docs; the expanded query is
    * (|q|+fbTerms)-termed — one more WAND walk, never a corpus pass. */
  def prfRankedHits(spark: SparkSession, sfDir: String, text: String,
                    fbDocs: Int, fbTerms: Int, k: Int): DataFrame = {
    require(fbDocs >= 1 && fbTerms >= 0 && k >= 1, "prf params must be positive")
    val (seg, searcher, _) = get(spark, sfDir)
    import spark.implicits._
    val orig = graft.search.QueryParser.termsFor("FREE", text).distinct
    val fbIds = ranked(spark, sfDir, fbDocs)(searcher.hits("FREE", text, _))
      .select(col("doc_id")).collect().map(_.getLong(0))
    if (fbIds.isEmpty)
      return ranked(spark, sfDir, k)(_ => spark.emptyDataset[Hit])
    val fbTexts = documents(spark, sfDir)
      .filter(col("doc_id").isin(fbIds.map(Long.box): _*))
      .select(col("text")).as[String].collect()
    val cfFb = scala.collection.mutable.Map.empty[String, Long]
    fbTexts.foreach { txt =>
      graft.tokenize.Tokenizer.tokenize(txt).foreach { t =>
        if (!orig.contains(t)) cfFb.update(t, cfFb.getOrElse(t, 0L) + 1L)
      }
    }
    val n = seg.stats.numDocs
    val expansion = searcher.dictLookup(cfFb.keys.toArray.sorted)
      .map { e =>
        (rnd6(cfFb(e.term) * graft.model.BM25.idf(n, e.df)), e.term)
      }
      .sortBy { case (w, t) => (-w, t) }
      .take(fbTerms).map(_._2)
    val expanded = (orig ++ expansion.map(t => s"$t^0.5")).mkString(" ")
    ranked(spark, sfDir, k)(searcher.hits("FREE", expanded, _))
  }

  /** Ranking evaluation (the Elasticsearch Ranking Evaluation API /
    * trec_eval offline loop): per-query precision@k, reciprocal rank,
    * and nDCG@k for an eval set, judged against DETERMINISTIC qrels —
    * relevant(q, d) ⇔ d contains ALL of q's terms (conjunctive
    * containment: the exact-match documents a disjunctive BM25 ranking
    * is supposed to surface first). No external judgments needed, so
    * the whole loop is reproducible and oracle-checkable.
    *
    * Scale posture: the rankings come from ONE batched union-pushdown
    * job (the X38 msearch shape — 10k eval queries cost one scan); the
    * qrels are per-query conjunctive presence walks (query-set-sized
    * job count, each with termId pushdown); metrics aggregate ≤|q|·k
    * ranked rows joined against the qrel marks — never corpus-sized.
    * IDCG is computed driver-side per query (≤k ln terms). Binary
    * gains; Σln sums ride the bm25-twin 1e-15 regime, far inside the
    * explicit floor(x·1e6+0.5)/1e6 round. */
  def rankEval(spark: SparkSession, sfDir: String,
               queries: Seq[(Long, String)], k: Int): DataFrame = {
    require(queries.nonEmpty && k >= 1, "rankEval needs queries and k >= 1")
    val ln2 = math.log(2.0)
    val ranked = msearchRankedHits(spark, sfDir,
      queries.map { case (id, t) => (id, "FREE", t) }, k)
    // qrels: one (qid, doc_id) frame over the per-query AND match sets
    val rels = queries.map { case (id, t) =>
      matched(spark, sfDir, "AND", t, "doc_id")
        .select(lit(id).as("qid"), col("doc_id"))
    }.reduce(_ union _)
    val rByQid: Map[Long, Long] = rels.groupBy(col("qid")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def idcg(r: Long): Double = {
      var s = 0.0
      var i = 1L
      val lim = math.min(r, k.toLong)
      while (i <= lim) { s += ln2 / math.log(i + 1.0); i += 1 }
      s
    }
    import spark.implicits._
    val meta = queries.map { case (id, _) =>
      val r = rByQid.getOrElse(id, 0L)
      (id, r, idcg(r))
    }.toDF("qid", "n_rel", "idcg")
    // the qrel set is corpus-sized for a weak conjunction; the ranked set
    // is ≤|q|·k rows — semi-join rels down through a BROADCAST of the
    // bounded side first, so no corpus-scale shuffle reaches the mark join
    val relHits = rels.join(
      broadcast(ranked.select(col("qid"), col("doc_id"))),
      Seq("qid", "doc_id"), "left_semi")
    val marked = ranked
      .join(broadcast(relHits.withColumn("rel", lit(1))),
        Seq("qid", "doc_id"), "left")
      .withColumn("rel", coalesce(col("rel"), lit(0)))
    val agg = marked.groupBy(col("qid")).agg(
      (sum(col("rel")) / lit(k.toDouble)).as("prec_raw"),
      max(when(col("rel") === 1, lit(1.0) / col("rank"))).as("rr_raw"),
      sum(when(col("rel") === 1,
        lit(ln2) / log(col("rank") + lit(1.0)))).as("dcg_raw"))
    meta.join(agg, Seq("qid"), "left")
      .select(col("qid"), col("n_rel"),
        rnd6(coalesce(col("prec_raw"), lit(0.0))).as("prec"),
        rnd6(coalesce(col("rr_raw"), lit(0.0))).as("rr"),
        rnd6(when(col("idcg") > 0,
          coalesce(col("dcg_raw"), lit(0.0)) / col("idcg"))
          .otherwise(lit(0.0))).as("ndcg"))
      .orderBy(col("qid"))
  }

  /** Learning-to-rank feature export (the ES LTR-plugin / offline
    * ranker-training surface): one row per (eval query, top-k candidate
    * doc) with the feature vector a ranker trains on — the BM25 score
    * and rank, the number of matched query terms, the total matched tf,
    * the doc length, and the summed idf of the matched terms
    * (floor-rounded; Σ taken in ascending termId order).
    *
    * Scale posture: candidates come from ONE batched union-pushdown job
    * (the X38 msearch shape — 10k training queries cost one scan); the
    * tf decode is ONE [[graft.search.Searcher.matchedTfs]] job over the
    * UNION of the batch's termIds, galloping only to the ≤|Q|·k
    * candidate docs' buckets; feature assembly touches ≤|Q|·k·|q| rows
    * — never corpus-sized. */
  def ltrFeatures(spark: SparkSession, sfDir: String,
                  queries: Seq[(Long, String)], k: Int): DataFrame = {
    require(queries.nonEmpty && k >= 1, "ltrFeatures needs queries and k >= 1")
    val (seg, searcher, _) = get(spark, sfDir)
    val ranked = msearchRankedHits(spark, sfDir,
        queries.map { case (id, t) => (id, "FREE", t) }, k)
      .select(col("qid"), col("doc_id"), col("score"), col("rank"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val spark2 = spark
    import spark2.implicits._
    if (ranked.isEmpty)
      return Seq.empty[(Long, Long, Long, Double, Long, Long, Long, Double)]
        .toDF("qid", "doc_id", "rank", "bm25", "n_matched", "sum_tf", "dl",
          "sum_idf_matched")
    val extIds = ranked.map(_._2).distinct.toSeq
    val docRows = docmap(seg, "doc_id", "docLen")
      .filter(col("doc_id").isin(extIds.map(Long.box): _*)).collect()
    val intByExt = docRows.map(r => r.getLong(1) -> r.getLong(0)).toMap
    val dlByExt = docRows.map(r => r.getLong(1) -> r.getInt(2)).toMap
    val entriesByQid = queries.map { case (id, t) =>
      id -> searcher.dictLookup(
        graft.search.QueryParser.termsFor("FREE", t).distinct.sorted)
    }.toMap
    val allEntries = entriesByQid.values.flatten.toArray
      .distinctBy(_.termId).sortBy(_.termId)
    val n = seg.stats.numDocs
    // ONE galloping decode job for the whole batch
    val tfByIntTid: Map[(Long, Long), Int] =
      searcher.matchedTfs(allEntries, intByExt.values.toArray).collect()
        .map { case (d, tid, tf) => (d, tid) -> tf }.toMap
    val out = ranked.map { case (qid, ext, bm25, rank) =>
      val internal = intByExt(ext)
      val matched = entriesByQid(qid)
        .filter(e => tfByIntTid.contains((internal, e.termId)))
      var sumIdf = 0.0
      matched.foreach(e => sumIdf += graft.model.BM25.idf(n, e.df))
      val sumTf = matched.map(e =>
        tfByIntTid((internal, e.termId)).toLong).sum
      (qid, ext, rank, bm25, matched.length.toLong, sumTf,
        dlByExt(ext).toLong, rnd6(sumIdf))
    }
    out.toSeq.toDF("qid", "doc_id", "rank", "bm25", "n_matched", "sum_tf",
        "dl", "sum_idf_matched")
      .orderBy("qid", "rank")
  }

  /** Minimum-should-match ranked surface: top-k docs matching at least
    * `minMatch` distinct query terms (Searcher.msmHits), rounded-rank
    * contract. */
  def msmRankedHits(spark: SparkSession, sfDir: String, text: String,
                    minMatch: Int, k: Int): DataFrame = {
    val (_, searcher, _) = get(spark, sfDir)
    ranked(spark, sfDir, k)(searcher.msmHits(text, minMatch, _))
  }

  /** Match-phrase-prefix ranked surface (Searcher.phrasePrefixHits):
    * fixed leading terms + a live-prefix last token, rounded-rank
    * contract. */
  def phrasePrefixRankedHits(spark: SparkSession, sfDir: String,
                             text: String, k: Int): DataFrame = {
    val (_, searcher, _) = get(spark, sfDir)
    ranked(spark, sfDir, k)(searcher.phrasePrefixHits(text, _))
  }

  /** Constant-score surface (Searcher.constHits): the first k matching
    * docs in index order, each scoring exactly `boost` — the filter
    * context. Index order is (source, doc_id): the build's global
    * (repo, path, commit) sort with the zero-padded doc_id path. */
  def constRankedHits(spark: SparkSession, sfDir: String, kind: String,
                      text: String, boost: Double, k: Int): DataFrame = {
    val (seg, searcher, _) = get(spark, sfDir)
    searcher.constHits(kind, text, boost, k)
      .join(withDocId(seg), Seq("docId"))
      .select(col("doc_id"), col("score"))
      .orderBy("doc_id")
  }

  /** Capped total-hits surface (Searcher.matchCountCapped): exact
    * min(count, cap) with genuinely bounded per-bucket work. */
  def cappedCounts(spark: SparkSession, sfDir: String,
                   qs: Seq[(String, String, String, Long)]): DataFrame = {
    val (_, searcher, _) = get(spark, sfDir)
    val spark2 = spark
    import spark2.implicits._
    qs.map { case (tag, kind, text, cap) =>
      (tag, searcher.matchCountCapped(kind, text, cap))
    }.toDF("q", "n_docs").orderBy("q")
  }

  /** Disjunction-max ranked surface (Searcher.disMaxHits): best
    * single-term contribution + tie · rest, rounded-rank contract. */
  def disMaxRankedHits(spark: SparkSession, sfDir: String, text: String,
                       tie: Double, k: Int): DataFrame = {
    val (_, searcher, _) = get(spark, sfDir)
    ranked(spark, sfDir, k)(searcher.disMaxHits(text, tie, _))
  }

  /** Common-terms ranked surface (Searcher.commonTermsHits): rare terms
    * required, common terms optional-but-scoring, rounded-rank
    * contract. */
  def commonTermsRankedHits(spark: SparkSession, sfDir: String, text: String,
                            maxDfFrac: Double, k: Int): DataFrame = {
    val (_, searcher, _) = get(spark, sfDir)
    ranked(spark, sfDir, k)(searcher.commonTermsHits(text, maxDfFrac, _))
  }

  /** Significant-terms aggregation (the Elasticsearch `significant_terms`
    * surface — "what is unusual about the documents matching this
    * query"): terms over-represented in the query's match set
    * (foreground) relative to the whole corpus (background), scored by
    * JLH = (fgPct − bgPct) · (fgPct / bgPct) and capped at `topN`.
    *
    * Scale posture: the foreground pass re-tokenizes ONLY the matched
    * documents (match-set-sized, never corpus-sized — the narrow join
    * hits → docmap → text), the per-term aggregation is vocabulary-
    * bounded (partial+final hash agg), and the background df arrives
    * from the dictionary — the already-built small artifact. At 100 TB
    * a broad query would be wrapped in a sampler (the ES posture); the
    * aggregation itself never materializes more than (fg vocabulary)
    * rows. Rounding uses the explicit floor(x·1e6+0.5)/1e6 tie rule
    * (ratios of small integers DO land on exact 6-dp halves, where
    * Spark rounds half-up and DuckDB half-even). */
  def significantTerms(spark: SparkSession, sfDir: String, kind: String,
                       text: String, topN: Int): DataFrame = {
    val (seg, _, _) = get(spark, sfDir)
    import spark.implicits._
    val fgIds = matched(spark, sfDir, kind, text, "doc_id").select(col("doc_id"))
    val fgN = fgIds.count()
    if (fgN == 0L)
      return Seq.empty[(String, Long, Long, Double)].toDF("term", "fg_df", "bg_df", "sig")
    val bgN = seg.stats.numDocs
    val fgTerms = fgIds
      .join(documents(spark, sfDir).select(col("doc_id"), col("text")),
        Seq("doc_id"))
      .select(col("text")).as[String]
      .flatMap(t => graft.tokenize.Tokenizer.tokenize(t).distinct)
      .toDF("term")
      .groupBy(col("term")).agg(count(lit(1)).as("fg_df"))
    fgTerms
      .join(seg.dict.select(col("term"), col("df").as("bg_df")), Seq("term"))
      .withColumn("fg_pct", col("fg_df") / lit(fgN.toDouble))
      .withColumn("bg_pct", col("bg_df") / lit(bgN.toDouble))
      .filter(col("fg_pct") > col("bg_pct"))
      .withColumn("sig", rnd6((col("fg_pct") - col("bg_pct")) *
        (col("fg_pct") / col("bg_pct"))))
      .select(col("term"), col("fg_df"), col("bg_df"), col("sig"))
      .orderBy(col("sig").desc, col("term").asc)
      .limit(topN)
      .orderBy(col("sig").desc, col("term").asc)
  }

  /** MMR-diversified results (Maximal Marginal Relevance, Carbonell &
    * Goldstein SIGIR'98 — the standard result-diversification re-rank):
    * the BM25 top-`window` re-orders greedily by
    * mmr = λ·rel − (1−λ)·max cos-similarity to the already-selected set,
    * so near-duplicate hits stop crowding the first page.
    *
    * The corpus-scale walk stays pure BM25 (WAND-prunable — MMR's
    * pairwise term has no per-list upper bound, which is exactly why
    * production diversification is WINDOWED, the X30 rescore argument);
    * the greedy loop touches ≤window rows driver-side with ≤window²
    * rounded cosines. Deterministic and cross-engine-reproducible: rel
    * is the rounded BM25 score, every cosine rounds to 6 dp before
    * combining (both engines provably agree there — the ann oracles),
    * λ = 0.75 exactly representable, selection compares (rounded mmr
    * desc, doc_id asc). */
  def mmrRankedHits(spark: SparkSession, sfDir: String, kind: String,
                    text: String, k: Int, window: Int,
                    lambda: Double = 0.75): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    require(k <= window, s"k=$k must fit the rescore window=$window")
    val top = rankedHits(spark, sfDir, kind, text, window)
      .select(col("doc_id"), col("score")).as[(Long, Double)].collect()
    val ids = top.map(_._1)
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id").isin(ids.map(Long.box): _*))
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .collect().toMap
    val r6 = graft.search.Searcher.round6 _
    val remaining = scala.collection.mutable.LinkedHashMap(top.map {
      case (id, rel) => id -> rel
    }: _*)
    val sel = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Long)]
    while (sel.length < math.min(k, top.length) && remaining.nonEmpty) {
      val scored = remaining.iterator.map { case (id, rel) =>
        val mmr =
          if (sel.isEmpty) r6(lambda * rel)
          else {
            // a doc with no embedding row carries no redundancy signal:
            // its cosine to anything is 0 (rank purely by relevance) —
            // embeddings can lag the corpus (sf0.1 covers 2000 of 5000)
            val maxCos = sel.iterator.map { case (sid, _, _) =>
              (vecs.get(id), vecs.get(sid)) match {
                case (Some(a), Some(b)) => r6(graft.pipeline.Ann.cosine(a, b))
                case _ => 0.0
              }
            }.max
            r6(lambda * rel - (1.0 - lambda) * maxCos)
          }
        (id, mmr)
      }.toArray
      val (bid, bmmr) = scored.minBy { case (id, m) => (-m, id) }
      sel += ((bid, bmmr, sel.length + 1L))
      remaining.remove(bid)
    }
    sel.toSeq.toDF("doc_id", "mmr", "rank")
  }

  def hybridRankedHits(spark: SparkSession, sfDir: String, kind: String,
                       text: String, seedVecId: Long, kEach: Int,
                       k: Int): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val ft = rankedHits(spark, sfDir, kind, text, kEach)
      .select(col("doc_id"), col("rank").as("ft_rank"))
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
    val seedVec = emb.filter(col("vec_id") === seedVecId).collect()
      .headOption.map(_._2)
      .getOrElse(throw new IllegalArgumentException(s"no embedding $seedVecId"))
    val ann = graft.pipeline.Ann
      .bruteTopK(emb, Array((seedVecId, seedVec)), kEach)
      .select(col("neighbor_id").as("doc_id"), col("rank").as("ann_rank"))
    val rrf = round(
      coalesce(lit(1.0) / (lit(60) + col("ft_rank")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(60) + col("ann_rank")), lit(0.0)), 6)
    withRank(ft.join(ann, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), rrf.as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
      .limit(k))
  }

  /** Linear hybrid retriever (the Elasticsearch `linear` retriever —
    * the modern alternative to RRF fusion): min-max normalize each
    * retriever's scores over ITS OWN retrieved window (lexical BM25
    * top-`kEach`; exact-cosine vector top-`kEach` around a seed
    * embedding), then fuse as `wText·normText + wVec·normVec`, a doc
    * missing from one side contributing 0 there. Normalization is
    * pinned: norm = (s − min)/(max − min) over the ≤kEach-row window,
    * degenerate all-equal windows normalize to 1.0 (every doc is the
    * best), inputs are the 6-dp rounded scores both tiers already emit
    * — so the fused score is a fixed tree of IEEE ops on
    * cross-engine-identical inputs. The min/max aggs and the fusion
    * join run on the two ≤kEach-row windows (broadcast), never the
    * corpus — the corpus-scale work is exactly the two retrievers'
    * own walks. */
  def hybridLinearRankedHits(spark: SparkSession, sfDir: String, kind: String,
                             text: String, seedVecId: Long, kEach: Int,
                             wText: Double, wVec: Double, k: Int): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    def minmax(df: DataFrame, c: String, out: String): DataFrame = {
      val stats = df.agg(min(col(c)).as("mn"), max(col(c)).as("mx"))
      df.crossJoin(broadcast(stats))
        .withColumn(out, when(col("mx") === col("mn"), lit(1.0))
          .otherwise((col(c) - col("mn")) / (col("mx") - col("mn"))))
        .select(col("doc_id"), col(out))
    }
    val ft = minmax(
      rankedHits(spark, sfDir, kind, text, kEach)
        .select(col("doc_id"), col("score")), "score", "ft_norm")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
    val seedVec = emb.filter(col("vec_id") === seedVecId).collect()
      .headOption.map(_._2)
      .getOrElse(throw new IllegalArgumentException(s"no embedding $seedVecId"))
    val ann = minmax(
      graft.pipeline.Ann.bruteTopK(emb, Array((seedVecId, seedVec)), kEach)
        .select(col("neighbor_id").as("doc_id"), col("cos")), "cos", "ann_norm")
    val fused = round(
      lit(wText) * coalesce(col("ft_norm"), lit(0.0)) +
        lit(wVec) * coalesce(col("ann_norm"), lit(0.0)), 6)
    withRank(ft.join(ann, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), fused.as("fused"))
      .orderBy(col("fused").desc, col("doc_id").asc)
      .limit(k))
  }

  /** Re-rank window (the Lucene/Elasticsearch rescore pattern and the
    * shape every learning-to-rank deployment uses): retrieve the BM25
    * top-`window`, then re-order ONLY that window by a blended function
    * score — here BM25 + `lengthWeight` · ln(1 + n_chars), a stand-in
    * for any per-doc static signal (pagerank, recency, quality). The
    * expensive corpus-scale walk stays pure BM25 (prunable by WAND);
    * the function score touches ≤window rows — which is why production
    * rescoring is windowed rather than folded into the base walk (an
    * arbitrary signal has no per-list upper bound, so it would disable
    * pruning). The ≤window side is broadcast into the docmap join. */
  def rescoredRankedHits(spark: SparkSession, sfDir: String, kind: String,
                         text: String, window: Int, k: Int,
                         lengthWeight: Double): DataFrame =
    rescoreWindow(spark, sfDir, kind, text, window, k)(
      round(col("score") +
        lit(lengthWeight) * log(lit(1.0) + col("n_chars")), 6).as("blended"))

  /** Decay scoring (the Elasticsearch `function_score` decay family —
    * gauss/exp/linear(origin, offset, scale, decay) over a numeric doc
    * field, here n_chars): the BM25 top-`window` is re-ordered by
    * bm25 · m(d) with d = max(0, |x − origin| − offset) and, per the ES
    * parameterization exactly (each shape's m equals decayRate at
    * distance offset + scale):
    *  - gauss:  m = exp(−d² / (2σ²)),       σ² = scale² / (−2·ln decay)
    *  - exp:    m = exp(−λ·d),              λ  = −ln(decay) / scale
    *  - linear: m = max(0, (s − d) / s),    s  = scale / (1 − decay)
    * Same windowed shape (and the same reasoning) as
    * [[rescoredRankedHits]]: a decay multiplier has no per-list upper
    * bound, so folding it into the walk would disable WAND pruning;
    * ≤window rows pay it instead, broadcast into the signal join. */
  /** Term suggester (the ES `term` suggester, suggest_mode=missing —
    * the default): for each input term ABSENT from the dictionary, the
    * top-n dictionary terms within Levenshtein distance ≤ maxDist,
    * ranked (distance asc, df desc, term asc); input terms that exist
    * are not suggested for at all (the "missing" rule). Scale: ONE
    * narrow dictionary pass — broadcast of the |q|-sized input list,
    * codegen'd built-in `levenshtein` (no UDF) behind a cheap
    * length-difference pre-filter; the windows rank only the filtered
    * candidate set (≤ |q|·|near terms| rows). */
  def termSuggest(spark: SparkSession, sfDir: String, terms: Seq[String],
                  maxDist: Int, topN: Int): DataFrame = {
    require(terms.nonEmpty && maxDist >= 1 && maxDist <= 2 && topN >= 1,
      s"need terms, maxDist in [1,2], topN >= 1; got $terms/$maxDist/$topN")
    import org.apache.spark.sql.expressions.Window
    val (seg, _, _) = get(spark, sfDir)
    val spark2 = spark
    import spark2.implicits._
    val inputDf = terms.map(_.trim.toLowerCase).distinct.toDF("input_term")
    val cand = seg.dict.toDF().select(col("term"), col("df"))
      .crossJoin(broadcast(inputDf))
      .filter(abs(length(col("term")) - length(col("input_term"))) <= maxDist)
      .withColumn("dist", levenshtein(col("term"), col("input_term")))
      .filter(col("dist") <= maxDist)
    val w = Window.partitionBy("input_term")
    cand
      .withColumn("min_dist", min(col("dist")).over(w))
      .filter(col("min_dist") > 0) // suggest_mode=missing
      .withColumn("rank", row_number().over(
        w.orderBy(col("dist").asc, col("df").desc, col("term").asc))
        .cast("long"))
      .filter(col("rank") <= topN)
      .select(col("input_term"), col("term").as("suggestion"),
        col("dist").cast("long").as("dist"), col("df"), col("rank"))
      .orderBy(col("input_term"), col("rank"))
  }

  /** Pinned query (ES `pinned` / Google-style promoted results): the
    * given ids rank 1..p IN THE GIVEN ORDER regardless of relevance
    * (score 0.0 — they did not earn a BM25 score), organic hits follow
    * from rank p+1 with pinned ids EXCLUDED (the ES dedup rule); pinned
    * ids absent from the index are dropped (ES pins only existing
    * docs). Scale: existence check = one pushdown-filtered docmap scan
    * over a |pinned|-sized IN list; organic = the standard rankedHits
    * walk with |pinned| slack; the pinned rows themselves are a
    * driver-side literal. */
  def pinnedRankedHits(spark: SparkSession, sfDir: String,
                       pinned: Seq[Long], kind: String, text: String,
                       k: Int): DataFrame = {
    require(pinned.nonEmpty && pinned.size <= k,
      s"need 1..k pinned ids, got ${pinned.size} for k=$k")
    require(pinned.distinct.size == pinned.size, "pinned ids must be unique")
    val (seg, _, _) = get(spark, sfDir)
    val spark2 = spark
    import spark2.implicits._
    val existing = withDocId(seg)
      .filter(col("doc_id").isin(pinned: _*))
      .select(col("doc_id")).as[Long].collect().toSet
    val kept = pinned.filter(existing)
    // pinned rows did not earn a BM25 score: 0.0 (below any organic
    // score — BM25 with smoothed idf is strictly positive), never NULL
    val pinnedRows = kept.zipWithIndex.map { case (id, i) =>
      (id, i + 1L, 0.0)
    }
    val organic = rankedHits(spark, sfDir, kind, text, k)
      .filter(!col("doc_id").isin(pinned: _*))
      .orderBy(col("rank"))
      .limit(k - kept.size)
      .select(col("doc_id"), col("score")).as[(Long, Double)].collect()
      .zipWithIndex.map { case ((id, s), i) =>
        (id, kept.size + i + 1L, s)
      }
    (pinnedRows ++ organic).toDF("doc_id", "rank", "score")
      .orderBy(col("rank"))
  }

  /** Static-signal boost (ES `rank_feature` query with the `saturation`
    * function, Lucene FeatureField): total = bm25 + boost·f/(f+pivot)
    * over the static per-doc feature f = n_chars — the
    * pagerank/stars/recency-style authority signal added as a should
    * clause. Executed in the X30/X61 rescore-window shape: the additive
    * signal is bounded by `boost` but the walk's block maxima don't
    * carry it, so the top-`window` BM25 candidates are re-scored and
    * re-ranked — exactly ES's rescore practice. f ≥ 0 required;
    * saturation is monotone, bounded, and equals boost/2 at f = pivot
    * (the Lucene endpoint law). */
  def rankFeatureRankedHits(spark: SparkSession, sfDir: String,
                            kind: String, text: String, window: Int,
                            k: Int, pivot: Double, boost: Double): DataFrame = {
    require(pivot > 0.0 && boost >= 0.0,
      s"need pivot > 0 and boost >= 0, got pivot=$pivot boost=$boost")
    val sat = lit(boost) * col("n_chars") / (col("n_chars") + lit(pivot))
    rescoreWindow(spark, sfDir, kind, text, window, k)(
      round(sat, 6).as("feature"), round(col("score") + sat, 6).as("total"))
  }

  def decayRankedHits(spark: SparkSession, sfDir: String, kind: String,
                      text: String, window: Int, k: Int, origin: Double,
                      offset: Double, scale: Double,
                      decayRate: Double, shape: String = "gauss"): DataFrame = {
    require(scale > 0.0 && decayRate > 0.0 && decayRate < 1.0,
      s"need scale > 0 and decayRate in (0,1), got scale=$scale decay=$decayRate")
    val dist = greatest(lit(0.0), abs(col("n_chars") - lit(origin)) - lit(offset))
    val mult = shape match {
      case "gauss" =>
        val sigma2 = scale * scale / (-2.0 * math.log(decayRate))
        exp((dist * dist) / lit(-2.0 * sigma2))
      case "exp" =>
        exp(dist * lit(math.log(decayRate) / scale))
      case "linear" =>
        greatest(lit(0.0), lit(1.0) - dist * lit((1.0 - decayRate) / scale))
      case other =>
        throw new IllegalArgumentException(
          s"decay shape must be gauss|exp|linear, got '$other'")
    }
    rescoreWindow(spark, sfDir, kind, text, window, k)(
      round(col("score") * mult, 6).as("decayed"))
  }

  /** Hits a ranked surface fetches beyond k on the exact ordering, so a
    * rounding tie at the k-boundary cannot change the rounded top-k. */
  private val TieSlack = 50

  /** The rounded top-k of a walk asked for k + [[TieSlack]] hits over the
    * sfDir index: (doc_id, score, rank) — see [[rankedHits]]. */
  private def ranked(spark: SparkSession, sfDir: String, k: Int)(
      walk: Int => Dataset[Hit]): DataFrame =
    rankedSeg(get(spark, sfDir)._1, k)(walk)

  /** [[ranked]] over another view of the corpus (the purged and
    * compacted segments), whose docIds map through its own docmap. */
  private def rankedSeg(seg: Segment, k: Int)(walk: Int => Dataset[Hit]): DataFrame =
    topK(withDocId(seg), walk(k + TieSlack), k)

  /** `hits` mapped through a docmap and cut to the rounded top-k by
    * (round(score, 6) desc, doc_id asc), with its rank. */
  private def topK(docMap: DataFrame, hits: Dataset[Hit], k: Int): DataFrame =
    withRank(hits.join(docMap, Seq("docId"))
      .select(col("doc_id"), round(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k))

  /** An ordered frame with a 1-based positional `rank` column appended:
    * one Dataset pass over a single partition. No Window (an unpartitioned
    * one gathers the rows all the same and warns) and no RDD round trip,
    * which would cut the upstream plan, and its Exchanges, out of
    * `executedPlan`. */
  private def withRank(ordered: DataFrame): DataFrame =
    ordered.coalesce(1).mapPartitions { it =>
      var r = 0L
      it.map { row => r += 1; Row.fromSeq(row.toSeq :+ r) }
    }(Encoders.row(ordered.schema.add("rank", LongType, nullable = false)))

  /** The rescore window (the X30 shape): the BM25 top-`window`,
    * broadcast into the static n_chars signal, projected to
    * (doc_id, bm25, cols…) and re-ranked by the last of `cols` desc,
    * doc_id asc. */
  private def rescoreWindow(spark: SparkSession, sfDir: String, kind: String,
                            text: String, window: Int, k: Int)(
      cols: Column*): DataFrame = {
    val base = rankedHits(spark, sfDir, kind, text, window)
      .select(col("doc_id"), col("score"))
    val signal = documents(spark, sfDir).select(col("doc_id"), col("n_chars"))
    val scored = broadcast(base).join(signal, Seq("doc_id"))
      .select(col("doc_id") +: col("score").as("bm25") +: cols: _*)
    withRank(scored.orderBy(col(scored.columns.last).desc, col("doc_id").asc)
      .limit(k))
  }

  /** docId → the docmap columns a surface reads; `doc_id` is the
    * external id the zero-padded path carries. */
  private def docmap(seg: Segment, cols: String*): DataFrame =
    seg.docs.select(col("docId") +: cols.map {
      case "doc_id" => col("path").cast("long").as("doc_id")
      case c => col(c)
    }: _*)

  /** A query's match set (the kind's unscored walk: termId pushdown, no
    * scoring, no doc lengths) joined to the docmap columns `cols`. A
    * query with no match, an OOV one included, is the same frame without
    * rows, so each surface reports an empty match set one way. */
  private def matched(spark: SparkSession, sfDir: String, kind: String,
                      text: String, cols: String*): DataFrame = {
    val (seg, searcher, _) = get(spark, sfDir)
    searcher.matchDocIds(kind, text).join(docmap(seg, cols: _*), Seq("docId"))
  }

  /** The match set's docLen histogram, (docLen, count) ascending, and
    * its total n: one match-set-sized partial+final agg whose output is
    * bounded by the distinct lengths, collected to the driver. */
  private def lenHist(spark: SparkSession, sfDir: String, kind: String,
                      text: String): (Array[(Long, Long)], Long) = {
    import spark.implicits._
    val hist = matched(spark, sfDir, kind, text, "docLen")
      .groupBy(col("docLen").cast("long")).agg(count(lit(1)))
      .as[(Long, Long)].collect().sortBy(_._1)
    (hist, hist.map(_._2).sum)
  }

  /** Nearest-rank percentile of an ascending (value, count) histogram
    * holding n values: the smallest value whose cumulative count reaches
    * ceil(p/100 · n), the ceiling in integer form (no floats). */
  private def nearestRank(hist: Array[(Long, Long)], n: Long, p: Int): Long = {
    val rank = (p.toLong * n + 99L) / 100L
    var cum = 0L
    var i = 0
    while (i < hist.length && cum + hist(i)._2 < rank) { cum += hist(i)._2; i += 1 }
    hist(math.min(i, hist.length - 1))._1
  }

  /** A docLen bin of `width` tokens, as the `bin` column. */
  private def lenBin(width: Int): Column =
    (floor(col("docLen") / width) * width).cast("long").as("bin")

  /** The md5-portable random score of `doc_id` under `seed`: the first
    * 15 hex chars of md5("seed:doc_id") as a Long. */
  private def seeded(seed: Long): Column =
    conv(substring(md5(concat(lit(seed.toString), lit(":"),
      col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long")

  /** The 6-dp rounding both engines reproduce: floor(x·1e6 + 0.5)/1e6.
    * Neither engine's round(x, 6) serves: Spark's is HALF_UP, DuckDB's
    * half-even, and ratios of small integers do land on exact 6-dp
    * halves. */
  private def rnd6(c: Column): Column = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
  private def rnd6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
}
