package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.DocsIndex
import graft.pipeline.{Ann, AnnIndex, Bpe, Curation, Dedup, Multimodal, Percolator, TextStats, Unigram}
import graft.search.ExactScorer

/** Driver contract — SURVEY.md §2.7. Every implemented operator from
  * SURVEY §2 gets a `queries` entry; each SQL-expressible one gets a
  * DuckDB oracle twin in `oracleSql` with IDENTICAL column names/types
  * and rounding (the driver sorts columns by name and hashes values).
  *
  * Conventions shared by both engines:
  *  - fulltext tokenization of `documents.text` (pure "[a-z ]" words) ≡
  *    split on ' ' + drop tokens shorter than 2 chars — exactly what
  *    graft.tokenize.Tokenizer does on that charset;
  *  - every derived double is `round(x, 6)` (or coarser for big sums) at
  *    the output boundary, and rankings order by the ROUNDED value with
  *    an id tie-break, so cross-engine float summation order can't flip
  *    a row hash;
  *  - every integer output is BIGINT in both engines.
  */
object SparkEntry {

  /** Flagship: build the fulltext index over sf0.001 documents and answer
    * a free-text BM25 query through the block-max WAND path. */
  def entry(spark: SparkSession): DataFrame =
    DocsIndex.rankedHits(spark, "/root/testdata/sf0.001", "FREE", "fast merge sort", 10)

  private def embeddings(s: SparkSession, dir: String) = {
    import s.implicits._
    s.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
  }

  /** Persisted ANN indexes, one build per (sfDir, param-profile) per JVM
    * — the query path then runs against the parquet bucket artifact, the
    * way a serving pipeline would. `topk` trades few tables for speed;
    * `neardup` uses short signatures × many tables because the dedup
    * threshold (cos ≥ 0.4) sits far below the near-duplicate regime and
    * per-pair collision probability at that angle is ~0.16 per 4-plane
    * table. */
  private val annCache = scala.collection.concurrent.TrieMap.empty[(String, String), AnnIndex]
  private def annIndex(s: SparkSession, dir: String, profile: String): AnnIndex =
    annCache.getOrElseUpdate((dir, profile), {
      val p = profile match {
        case "topk" => AnnIndex.Params(tables = 8, planesPerTable = 8, dim = 64)
        case _ => AnnIndex.Params(tables = 48, planesPerTable = 4, dim = 64, seed = 7000L)
      }
      val out = java.nio.file.Files.createTempDirectory(s"graft-ann-$profile").toString
      AnnIndex.build(s, embeddings(s, dir), out, p)
    })

  private val ivfCache = scala.collection.concurrent.TrieMap.empty[String, graft.pipeline.IvfIndex]
  private def ivfIndex(s: SparkSession, dir: String): graft.pipeline.IvfIndex =
    ivfCache.getOrElseUpdate(dir, {
      val out = java.nio.file.Files.createTempDirectory("graft-ivf").toString
      graft.pipeline.IvfIndex.build(s, embeddings(s, dir), out,
        graft.pipeline.IvfIndex.Params(nlist = 16, iters = 10, dim = 64))
    })

  private val pqCache = scala.collection.concurrent.TrieMap.empty[String, graft.pipeline.PqIndex]
  private def pqIndex(s: SparkSession, dir: String): graft.pipeline.PqIndex =
    pqCache.getOrElseUpdate(dir, {
      val out = java.nio.file.Files.createTempDirectory("graft-pq").toString
      graft.pipeline.PqIndex.build(s, embeddings(s, dir), out,
        graft.pipeline.PqIndex.Params(m = 8, ksub = 64, iters = 10, dim = 64))
    })

  private val ivfPqCache = scala.collection.concurrent.TrieMap.empty[String, graft.pipeline.IvfPqIndex]
  private def ivfPqIndex(s: SparkSession, dir: String): graft.pipeline.IvfPqIndex =
    ivfPqCache.getOrElseUpdate(dir, {
      val out = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
      graft.pipeline.IvfPqIndex.build(s, embeddings(s, dir), out,
        graft.pipeline.IvfPqIndex.Params(nlist = 16, m = 8, ksub = 64,
          iters = 10, dim = 64))
    })

  private val sq8Cache = scala.collection.concurrent.TrieMap
    .empty[String, (graft.pipeline.Sq8.Stats, org.apache.spark.sql.DataFrame)]
  private def sq8Index(s: SparkSession, dir: String)
      : (graft.pipeline.Sq8.Stats, org.apache.spark.sql.DataFrame) =
    sq8Cache.getOrElseUpdate(dir, {
      val st = graft.pipeline.Sq8.train(embeddings(s, dir))
      val codes = graft.pipeline.Sq8.codes(embeddings(s, dir), st).cache()
      codes.count()
      (st, codes)
    })

  /** Force the one-time ANN index builds NOW — Bench calls this before
    * the timed query loop so index construction is billed as its own
    * `ann_build` metric, not smeared into `ann_lsh`/`ann_ivf`/`ann_pq`/
    * `dedup_embed_lsh` query times. */
  def prebuildAnnIndexes(s: SparkSession, dir: String): Unit = {
    annIndex(s, dir, "topk")
    annIndex(s, dir, "neardup")
    ivfIndex(s, dir)
    pqIndex(s, dir)
    ivfPqIndex(s, dir)
    sq8Index(s, dir)
    ()
  }

  /** Persisted trigram substring index per sfDir (one build per JVM) —
    * the query path reads the (tri, bucket)-sorted parquet artifact with
    * the needle's trigrams pushed down, the way the term index works. */
  private val triCache = scala.collection.concurrent.TrieMap.empty[String, graft.search.TrigramIndex]
  private def triIndex(s: SparkSession, dir: String): graft.search.TrigramIndex =
    triCache.getOrElseUpdate(dir, {
      val out = java.nio.file.Files.createTempDirectory("graft-tri").toString
      graft.search.TrigramIndex.build(s, DocsIndex.documents(s, dir), out,
        graft.search.TrigramIndex.Params(bucketSize = 1L << 12,
          numPartitions = s.sparkContext.defaultParallelism))
    })

  /** Force the one-time trigram-index build NOW — Bench bills it as
    * `tri_build`, so `ft_substr` times the candidate-intersection +
    * verify query, not index construction. */
  def prebuildTrigrams(s: SparkSession, dir: String): Unit = {
    triIndex(s, dir)
    ()
  }

  /** Force the one-time tombstone-purge compaction NOW — same reasoning
    * as [[prebuildAnnIndexes]]: Bench bills it as `purge_build`, so
    * `ft_purged` times the query, not the compaction. */
  def prebuildPurged(s: SparkSession, dir: String): Unit = {
    DocsIndex.purgedRankedHits(s, dir, "FREE", "fast", 1).count()
    ()
  }

  /** Force the one-time two-segment LSM build + delete-log write NOW —
    * billed by Bench as `lsm_build`, so `ft_lsm_live` times the
    * merge-on-read query, not the lifecycle. */
  def prebuildLsmLive(s: SparkSession, dir: String): Unit = {
    DocsIndex.lsmLiveRankedHits(s, dir, "FREE", "fast", 1, "lang", "fr").count()
    ()
  }

  /** Force the one-time signal-sorted index build NOW — billed by
    * Bench as `sorted_build`, so `ft_sorted_index` times the
    * early-terminated walk, not the second index build. */
  def prebuildSortedIndex(s: SparkSession, dir: String): Unit = {
    DocsIndex.sortedIndexRankedHits(s, dir, "FREE", "fast", 1).count()
    ()
  }

  /** Force the chunk-index + size-tiered-compaction build NOW — billed
    * by Bench as `compact_build` so `ft_compacted` times the query
    * through the compacted segment, not the LSM lifecycle. */
  def prebuildCompacted(s: SparkSession, dir: String): Unit = {
    DocsIndex.compactedRankedHits(s, dir, "FREE", "fast", 1).count()
    ()
  }

  /** Trained BPE merge table, one per sfDir per JVM (the merge loop is
    * a one-time vocabulary build, not query work). */
  private val bpeCache = scala.collection.concurrent.TrieMap.empty[String, org.apache.spark.sql.DataFrame]
  private def bpeMerges(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    bpeCache.getOrElseUpdate(dir, {
      val m = Bpe.trainOn(s, DocsIndex.documents(s, dir), numMerges = 40).cache()
      m.count()
      m
    })

  /** Trained unigram-LM piece table, one per sfDir per JVM (same
    * one-time-vocabulary posture as [[bpeCache]]). */
  private val unigramCache = scala.collection.concurrent.TrieMap.empty[String, org.apache.spark.sql.DataFrame]
  private def unigramVocab(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    unigramCache.getOrElseUpdate(dir, {
      val v = Unigram.trainOn(s, DocsIndex.documents(s, dir),
        vocabSize = 120, maxPieceLen = 5).cache()
      v.count()
      v
    })

  /** SymSpell delete-neighborhood index over the dictionary, one per
    * sfDir per JVM — a one-time sidecar build like the trigram/ANN
    * indexes (billed separately by Bench as `symspell_build`). */
  private val symspellCache = scala.collection.concurrent.TrieMap.empty[String, org.apache.spark.sql.DataFrame]
  private def symspellIndex(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    symspellCache.getOrElseUpdate(dir, {
      val (seg, _, _) = DocsIndex.get(s, dir)
      val idx = graft.search.SymSpell.buildIndex(
        seg.dict.toDF().select(col("term"), col("df")), maxDist = 2).cache()
      idx.count()
      idx
    })

  /** Force the one-time SymSpell index build NOW (Bench billing). */
  def prebuildSymspell(s: SparkSession, dir: String): Unit = {
    symspellIndex(s, dir)
    ()
  }

  /** Force the one-time static index pruning NOW — billed by Bench as
    * `prune_build` so `ft_pruned` times the query over the pruned
    * postings, not the prune pass itself. */
  def prebuildPruned(s: SparkSession, dir: String): Unit = {
    DocsIndex.getPruned(s, dir)
    ()
  }

  // ───────────────────────── shared SQL fragments ─────────────────────
  /** Tokenize + tf + dl + stats CTEs over `documents` (DuckDB dialect). */
  /** Tokenize + tf + dl + stats CTEs over a documents source (DuckDB
    * dialect). `docsSrc` defaults to the full table; the purged-index
    * twin passes a filtered subquery so every statistic (N, avgdl, df)
    * recomputes over the survivors, exactly as SegmentMerger.purge does. */
  private def tokCtesOver(docsSrc: String): String =
    s"""WITH docs_src AS (
      |  SELECT * FROM $docsSrc
      |), tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM docs_src
      |), tok2 AS (
      |  SELECT doc_id, term FROM tok WHERE length(term) >= 2
      |), tf AS (
      |  SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok2 GROUP BY 1, 2
      |), dl AS (
      |  SELECT doc_id, count(*)::BIGINT AS dl FROM tok2 GROUP BY 1
      |), alldl AS (
      |  SELECT d.doc_id, coalesce(dl.dl, 0)::BIGINT AS dl
      |  FROM docs_src d LEFT JOIN dl ON d.doc_id = dl.doc_id
      |), stats AS (
      |  SELECT count(*)::BIGINT AS n, sum(dl) * 1.0 / count(*) AS avgdl FROM alldl
      |), df AS (
      |  SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf FROM tf GROUP BY 1
      |)""".stripMargin

  private val tokCtes: String = tokCtesOver("documents")

  /** The S-stemmer (Harman 1991) as a SQL CASE over expression `x` —
    * rule-for-rule identical to graft.search.Stem.sStem (which is WHY
    * the engine uses the S-stemmer and not Porter: these three rules
    * have a portable SQL form, Porter's measure conditions do not). */
  private def sStemSql(x: String): String =
    s"""CASE
       |  WHEN length($x) > 3 AND $x LIKE '%ies'
       |       AND $x NOT LIKE '%eies' AND $x NOT LIKE '%aies'
       |    THEN substr($x, 1, length($x) - 3) || 'y'
       |  WHEN length($x) > 2 AND $x LIKE '%es'
       |       AND $x NOT LIKE '%aes' AND $x NOT LIKE '%ees' AND $x NOT LIKE '%oes'
       |    THEN substr($x, 1, length($x) - 1)
       |  WHEN length($x) > 1 AND $x LIKE '%s'
       |       AND $x NOT LIKE '%us' AND $x NOT LIKE '%ss'
       |    THEN substr($x, 1, length($x) - 1)
       |  ELSE $x END""".stripMargin

  /** BM25 top-k twin: free-text/OR = any term; AND requires all terms.
    * `exclude` filters result docs WITHOUT touching the statistics CTEs
    * (the live-delete twin); `docsSrc` narrows the corpus itself so the
    * statistics recompute (the purge twin). */
  private def bm25Sql(terms: Seq[String], conjunctive: Boolean, k: Int,
                      docsSrc: String = "documents",
                      exclude: String = ""): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    val having = if (conjunctive) s"HAVING count(*) = ${terms.length}" else ""
    s"""${tokCtesOver(docsSrc)}, sc AS (
       |  SELECT tf.doc_id,
       |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
       |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
       |  FROM tf
       |  JOIN df USING (term)
       |  JOIN alldl USING (doc_id)
       |  CROSS JOIN stats
       |  WHERE tf.term IN ($inList) $exclude
       |  GROUP BY tf.doc_id
       |  $having
       |)
       |SELECT doc_id, round(score, 6) AS score,
       |       row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
       |FROM sc ORDER BY score DESC, doc_id LIMIT $k""".stripMargin
  }

  /** Phrase twin: positions = row_number over the length-filtered token
    * stream (exactly the engine's position space), consecutive-position
    * self-joins select the phrase docs, then the standard BM25 CTEs
    * score the phrase's distinct terms — identical to the engine's
    * phrase scoring contract (Wand's conjunction walk: BM25 over the
    * distinct terms). */
  private def phraseSql(terms: Seq[String], k: Int): String = {
    val joins = (1 until terms.length).map(i =>
      s"JOIN tokp a$i ON a$i.doc_id = a0.doc_id AND a$i.pos = a0.pos + $i").mkString("\n  ")
    val conds = terms.zipWithIndex.map { case (t, i) => s"a$i.term = '$t'" }.mkString(" AND ")
    val inList = terms.distinct.map(t => s"'$t'").mkString(", ")
    s"""$tokCtes, w2 AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
       |), rawtok AS (
       |  SELECT doc_id, ws[p] AS term, p FROM w2, unnest(range(1, len(ws) + 1)) t(p)
       |), tokp AS (
       |  SELECT doc_id, term, row_number() OVER (PARTITION BY doc_id ORDER BY p) AS pos
       |  FROM rawtok WHERE length(term) >= 2
       |), phr AS (
       |  SELECT DISTINCT a0.doc_id FROM tokp a0
       |  $joins
       |  WHERE $conds
       |), sc AS (
       |  SELECT tf.doc_id,
       |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
       |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
       |  FROM tf
       |  JOIN df USING (term)
       |  JOIN alldl USING (doc_id)
       |  CROSS JOIN stats
       |  WHERE tf.term IN ($inList)
       |    AND tf.doc_id IN (SELECT doc_id FROM phr)
       |  GROUP BY tf.doc_id
       |)
       |SELECT doc_id, round(score, 6) AS score,
       |       row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
       |FROM sc ORDER BY score DESC, doc_id LIMIT $k""".stripMargin
  }

  /** NEAR/w twin (two terms): docs with occurrences within w tokens of
    * each other in the filtered stream, scored like the phrase twin. */
  private def nearSql(t1: String, t2: String, w: Int, k: Int): String =
    s"""$tokCtes, w2 AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
       |), rawtok AS (
       |  SELECT doc_id, ws[p] AS term, p FROM w2, unnest(range(1, len(ws) + 1)) t(p)
       |), tokp AS (
       |  SELECT doc_id, term, row_number() OVER (PARTITION BY doc_id ORDER BY p) AS pos
       |  FROM rawtok WHERE length(term) >= 2
       |), nearDocs AS (
       |  SELECT DISTINCT a.doc_id FROM tokp a
       |  JOIN tokp b ON b.doc_id = a.doc_id AND abs(a.pos - b.pos) <= $w
       |  WHERE a.term = '$t1' AND b.term = '$t2'
       |), sc AS (
       |  SELECT tf.doc_id,
       |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
       |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
       |  FROM tf
       |  JOIN df USING (term)
       |  JOIN alldl USING (doc_id)
       |  CROSS JOIN stats
       |  WHERE tf.term IN ('$t1', '$t2')
       |    AND tf.doc_id IN (SELECT doc_id FROM nearDocs)
       |  GROUP BY tf.doc_id
       |)
       |SELECT doc_id, round(score, 6) AS score,
       |       row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
       |FROM sc ORDER BY score DESC, doc_id LIMIT $k""".stripMargin

  /** Nested-boolean twin: presence pivot per candidate term, the WHERE
    * clause mirrors the query's paren/precedence structure, and matching
    * docs score standard BM25 over their PRESENT candidate terms —
    * exactly the contract of Wand's union walk under a BOOL plan. */
  private def boolSql(terms: Seq[String], whereClause: String, k: Int): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    val pivots = terms.map(t =>
      s"max(CASE WHEN term = '$t' THEN 1 ELSE 0 END) AS p_$t").mkString(",\n  ")
    s"""$tokCtes, pres AS (
       |  SELECT doc_id,
       |  $pivots
       |  FROM tf WHERE term IN ($inList) GROUP BY doc_id
       |), boolmatch AS (
       |  SELECT doc_id FROM pres WHERE $whereClause
       |), sc AS (
       |  SELECT tf.doc_id,
       |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
       |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
       |  FROM tf
       |  JOIN df USING (term)
       |  JOIN alldl USING (doc_id)
       |  CROSS JOIN stats
       |  WHERE tf.term IN ($inList)
       |    AND tf.doc_id IN (SELECT doc_id FROM boolmatch)
       |  GROUP BY tf.doc_id
       |)
       |SELECT doc_id, round(score, 6) AS score,
       |       row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
       |FROM sc ORDER BY score DESC, doc_id LIMIT $k""".stripMargin
  }

  /** PREFIX twin: OR-scored over every vocabulary term LIKE 'p%'. */
  private def prefixSql(prefix: String, k: Int): String =
    s"""$tokCtes, sc AS (
       |  SELECT tf.doc_id,
       |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
       |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
       |  FROM tf
       |  JOIN df USING (term)
       |  JOIN alldl USING (doc_id)
       |  CROSS JOIN stats
       |  WHERE tf.term LIKE '$prefix%'
       |  GROUP BY tf.doc_id
       |)
       |SELECT doc_id, round(score, 6) AS score,
       |       row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
       |FROM sc ORDER BY score DESC, doc_id LIMIT $k""".stripMargin

  /** Shared CTE block computing exact 3-gram Jaccard pairs ≥ 0.5 as
    * `jpairs(doc_a, doc_b, jac)` — reused by the pair query and the
    * clustering twin. */
  private val jaccardCtes: String =
    """w AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |), sh AS (
      |  SELECT DISTINCT doc_id, ws[p] || ' ' || ws[p+1] || ' ' || ws[p+2] AS s
      |  FROM w, unnest(range(1, greatest(len(ws) - 1, 1))) t(p)
      |  WHERE len(ws) >= 3
      |), sz AS (
      |  SELECT doc_id, count(*)::BIGINT AS n FROM sh GROUP BY 1
      |), inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS i
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |), jpairs AS (
      |  SELECT doc_a, doc_b, round(i * 1.0 / (sa.n + sb.n - i), 6) AS jac
      |  FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
      |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5
      |)""".stripMargin

  private val jaccardSql: String =
    s"""WITH $jaccardCtes
       |SELECT doc_a, doc_b, jac FROM jpairs ORDER BY doc_a, doc_b""".stripMargin

  /** Ranking-evaluation twin: one metrics subquery per eval query —
    * rankings via the standard bm25 CTE, qrels = conjunctive containment
    * (HAVING count == |terms|), IDCG over a range() series. The ln(2)
    * constant is INJECTED as the engine's own double literal so both
    * engines divide by bit-identical numerators; Σln rides the bm25-twin
    * 1e-15 regime inside the explicit floor round. */
  private def rankEvalSql(queries: Seq[(Long, Seq[String])], k: Int): String = {
    val ln2 = math.log(2.0)
    val parts = queries.map { case (id, ts) =>
      val dts = ts.distinct
      val termList = dts.map(t => s"'$t'").mkString(", ")
      s"""SELECT CAST($id AS BIGINT) AS qid, n_rel, prec, rr, ndcg FROM (
         |$tokCtes, sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE tf.term IN ($termList)
         |  GROUP BY tf.doc_id
         |), ranked AS (
         |  SELECT doc_id, rank FROM (
         |    SELECT doc_id,
         |           row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
         |    FROM sc)
         |  WHERE rank <= $k
         |), rel AS (
         |  SELECT doc_id FROM tf WHERE term IN ($termList)
         |  GROUP BY doc_id HAVING count(*) = ${dts.length}
         |), rstat AS (
         |  SELECT count(*)::BIGINT AS n_rel FROM rel
         |), idcgv AS (
         |  -- constant range bound: DuckDB table functions reject
         |  -- subquery arguments, so the min(R, k) cut moves into a CASE
         |  SELECT coalesce(sum(CASE WHEN i <= least(n_rel, $k)
         |                       THEN $ln2 / ln(i + 1) END), 0.0) AS idcg
         |  FROM range(1, $k + 1) t(i) CROSS JOIN rstat
         |), m AS (
         |  SELECT count(CASE WHEN r.doc_id IS NOT NULL THEN 1 END) * 1.0 / $k AS prec_raw,
         |         max(CASE WHEN r.doc_id IS NOT NULL THEN 1.0 / rank END) AS rr_raw,
         |         sum(CASE WHEN r.doc_id IS NOT NULL THEN $ln2 / ln(rank + 1) END) AS dcg_raw
         |  FROM ranked LEFT JOIN rel r USING (doc_id)
         |)
         |SELECT (SELECT n_rel FROM rstat) AS n_rel,
         |       floor(prec_raw * 1e6 + 0.5) / 1e6 AS prec,
         |       floor(coalesce(rr_raw, 0.0) * 1e6 + 0.5) / 1e6 AS rr,
         |       floor((CASE WHEN idcg > 0 THEN coalesce(dcg_raw, 0.0) / idcg
         |              ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS ndcg
         |FROM m CROSS JOIN idcgv
         |)""".stripMargin
    }
    parts.mkString("SELECT qid, n_rel, prec, rr, ndcg FROM (\n",
      "\nUNION ALL\n", "\n) ORDER BY qid")
  }

  /** Hard-negative-mining twin: one MLT-style subquery per seed (the
    * ft_mlt oracle shape + the exact-copy text exclusion), unioned with
    * the seed id — each subquery carries its own WITH scope, the
    * ft_msearch embedding pattern. */
  private def mineNegSql(seeds: Seq[Long], m: Int, k: Int): String = {
    val parts = seeds.map { id =>
      s"""SELECT CAST($id AS BIGINT) AS seed_id, doc_id, score, rank FROM (
         |$tokCtes, seedtf AS (SELECT term, tf FROM tf WHERE doc_id = $id),
         |sel AS (SELECT s.term FROM seedtf s JOIN df USING (term)
         |        ORDER BY s.tf * 1.0 / df DESC, s.term LIMIT $m),
         |sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE tf.term IN (SELECT term FROM sel) AND tf.doc_id <> $id
         |  GROUP BY tf.doc_id
         |), ex AS (
         |  SELECT sc.doc_id, sc.score FROM sc
         |  JOIN docs_src d ON d.doc_id = sc.doc_id
         |  WHERE d.text <> (SELECT text FROM docs_src WHERE doc_id = $id)
         |)
         |SELECT doc_id, round(score, 6) AS score,
         |       row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
         |FROM ex ORDER BY score DESC, doc_id LIMIT $k)""".stripMargin
    }
    parts.mkString("SELECT seed_id, doc_id, score, rank FROM (\n",
      "\nUNION ALL\n", "\n) ORDER BY seed_id, rank")
  }

  /** MMR twin: the greedy selection unrolled as k chained CTE stages —
    * stage i picks the (rounded-mmr desc, doc_id) argmax among the
    * window docs not yet selected, with the max-cosine penalty computed
    * against the running selection. Exact: rel and every cosine round
    * to 6 dp before combining, exactly as DocsIndex.mmrRankedHits. */
  private def mmrSql(terms: Seq[String], window: Int, k: Int,
                     lambda: Double): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    val lam = lambda
    val om = 1.0 - lambda
    val sb = new StringBuilder
    sb.append(
      s"""$tokCtes, sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE tf.term IN ($inList)
         |  GROUP BY tf.doc_id
         |), we AS (
         |  SELECT w.doc_id, w.rel, e.embedding::DOUBLE[] AS v
         |  FROM (SELECT doc_id, round(score, 6) AS rel
         |        FROM sc ORDER BY round(score, 6) DESC, doc_id LIMIT $window) w
         |  JOIN embeddings e ON e.vec_id = w.doc_id
         |), s1 AS (
         |  SELECT doc_id, round($lam * rel, 6) AS mmr,
         |         CAST(1 AS BIGINT) AS rank, v
         |  FROM we ORDER BY rel DESC, doc_id LIMIT 1
         |), sel1 AS (SELECT * FROM s1)""".stripMargin)
    (2 to k).foreach { i =>
      sb.append(
        s""", s$i AS (
           |  SELECT c.doc_id,
           |         round($lam * c.rel - $om * (
           |           SELECT max(round(list_cosine_similarity(c.v, s.v), 6))
           |           FROM sel${i - 1} s), 6) AS mmr,
           |         CAST($i AS BIGINT) AS rank, c.v
           |  FROM we c
           |  WHERE c.doc_id NOT IN (SELECT doc_id FROM sel${i - 1})
           |  ORDER BY mmr DESC, c.doc_id LIMIT 1
           |), sel$i AS (SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM s$i)""".stripMargin)
    }
    sb.append(s"\nSELECT doc_id, mmr, rank FROM sel$k ORDER BY rank")
    sb.toString
  }

  /** Decay-family twin: the ft_decay CTE stack with the shape's
    * multiplier expression over dd = max(0, |n_chars − origin| − offset)
    * spliced in (`DD` is the distance placeholder). */
  private def decaySql(multSql: String): String =
    s"""$tokCtes, sc AS (
       |  SELECT tf.doc_id,
       |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
       |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
       |  FROM tf
       |  JOIN df USING (term)
       |  JOIN alldl USING (doc_id)
       |  CROSS JOIN stats
       |  WHERE tf.term IN ('fast', 'merge', 'sort', 'table')
       |  GROUP BY tf.doc_id
       |),
       |win AS (SELECT doc_id, round(score, 6) AS bm25 FROM (
       |  SELECT doc_id, score, row_number() OVER (
       |    ORDER BY round(score, 6) DESC, doc_id) AS rank FROM sc)
       |  WHERE rank <= 50),
       |dec AS (
       |  SELECT doc_id, bm25,
       |         round(bm25 * ${multSql.replace("DD",
                 "greatest(0.0, abs(n_chars - 0.0) - 100.0)")}, 6) AS decayed
       |  FROM win JOIN documents USING (doc_id))
       |SELECT doc_id, bm25, decayed,
       |       row_number() OVER (ORDER BY decayed DESC, doc_id) AS rank
       |FROM dec ORDER BY decayed DESC, doc_id LIMIT 15""".stripMargin

  private val embedDupSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
      |SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
      |       round(list_cosine_similarity(a.v, b.v), 6) AS cos
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(a.v, b.v) >= 0.4
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Exact cosine top-10 over the embeddings — the oracle for both the
    * brute-force baseline and the IVF path at full probe width. */
  private val annTopkSql: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
      |           FROM embeddings WHERE vec_id < 5),
      |sc AS (SELECT q.query_id, e.vec_id AS neighbor_id,
      |              round(list_cosine_similarity(q.v, e.embedding::DOUBLE[]), 6) AS cos
      |       FROM q, embeddings e WHERE e.vec_id <> q.query_id)
      |SELECT query_id, neighbor_id, cos, rank FROM (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      |  FROM sc)
      |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** Exact 3-NN join over ALL vectors — the oracle for Ann.knnJoin. */
  private val knnJoinSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |sc AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |              round(list_cosine_similarity(a.v, b.v), 6) AS cos
      |       FROM e a JOIN e b ON b.vec_id <> a.vec_id)
      |SELECT query_id, neighbor_id, cos, rank FROM (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      |  FROM sc)
      |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  // ─────────────────────────── queries ────────────────────────────────
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ── fulltext engine over `documents` (SURVEY §2.1–§2.4) ──
    "ft_dict" -> ((s, dir) => {
      val (seg, _, _) = DocsIndex.get(s, dir)
      seg.dict.select(col("termId").as("term_id"), col("term"), col("df"), col("cf"))
        .orderBy("term_id")
    }),
    "ft_doclen" -> ((s, dir) => {
      val (seg, _, _) = DocsIndex.get(s, dir)
      DocsIndex.withDocId(seg)
        .join(seg.docs.select(col("docId"), col("docLen")), "docId")
        .select(col("doc_id"), col("docLen").cast("long").as("dl"))
        .orderBy("doc_id")
    }),
    "ft_stats" -> ((s, dir) => {
      val (seg, _, _) = DocsIndex.get(s, dir)
      val st = seg.stats
      s.createDataFrame(Seq(
        (st.numDocs, st.numTerms, st.numPostings,
          BigDecimal(st.avgDocLen).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
        .toDF("num_docs", "num_terms", "num_postings", "avgdl")
    }),
    "ft_topterms" -> ((s, dir) => {
      val (seg, _, _) = DocsIndex.get(s, dir)
      seg.dict.select(col("term"), col("df"), col("cf"))
        .orderBy(col("cf").desc, col("term")).limit(15)
    }),
    // Zipf rank-frequency diagnostics (Zipf'49; the corpus-statistics
    // health check — natural text slopes near −1): exact least squares
    // of ln(cf) on ln(rank) over the top-30 dictionary rows. Both
    // engines sum 30 mirrored doubles; the 6-dp boundary absorbs
    // associativity (the BM25-twin precedent). Runs on the REDUCED
    // dictionary — corpus-scale work is the dict build it reuses.
    "ft_zipf" -> ((s, dir) => {
      val (seg, _, _) = DocsIndex.get(s, dir)
      val ranked = seg.dict.select(col("term"), col("cf"))
        .orderBy(col("cf").desc, col("term")).limit(30)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("cf").desc, col("term"))))
        .select(log(col("rank").cast("double")).as("x"),
          log(col("cf").cast("double")).as("y"))
      ranked
        .agg(count(lit(1)).cast("double").as("n"), sum("x").as("sx"),
          sum("y").as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("n").cast("long").as("n_terms"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
          round((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")) /
            col("n"), 6).as("intercept"))
    }),
    "ft_postings" -> ((s, dir) => {
      val (seg, _, _) = DocsIndex.get(s, dir)
      ExactScorer.decodedPostings(s, seg).toDF("termId", "docId", "tf")
        .join(seg.dict.select(col("termId"), col("term")), "termId")
        .join(DocsIndex.withDocId(seg), "docId")
        .select(col("doc_id"), col("term"), col("tf").cast("long").as("tf"))
        .orderBy("doc_id", "term")
    }),
    "ft_sha256" -> ((s, dir) => {
      val (seg, _, _) = DocsIndex.get(s, dir)
      DocsIndex.withDocId(seg)
        .join(seg.docs.select(col("docId"), col("sha256").as("sha")), "docId")
        .select(col("doc_id"), col("sha")).orderBy("doc_id")
    }),
    "ft_bm25_topk" -> ((s, dir) =>
      DocsIndex.rankedHits(s, dir, "FREE", "fast merge sort table", 20)),
    // BM25F (Robertson CIKM'04): weighted-field pseudo-frequencies
    // merged BEFORE saturation — body (text, w=1) + keyword field
    // (source, w=3); relational oracle-path form, exact Long tf̃/dl̃
    "ft_bm25f" -> ((s, dir) =>
      graft.search.Bm25f.rankedHits(DocsIndex.documents(s, dir),
        Seq(("text", 1L), ("source", 3L)),
        Seq("fast", "merge", "src0"), 20)),
    // BM25+ (Lv & Zhai CIKM'11): per-matched-term idf·δ lift fixes
    // long-document over-penalization; δ=1, the paper's default
    "ft_bm25plus" -> ((s, dir) =>
      graft.search.Bm25f.bm25PlusHits(DocsIndex.documents(s, dir),
        "text", Seq("fast", "merge", "sort"), 1.0, 20)),
    // the SAME query through the MaxScore pruning strategy (Turtle &
    // Flood '95) instead of block-max WAND — identical results by
    // construction, so it shares ft_bm25_topk's oracle verbatim
    "ft_bm25_maxscore" -> ((s, dir) =>
      DocsIndex.maxScoreRankedHits(s, dir, "FREE", "fast merge sort table", 20)),
    "ft_bm25_and" -> ((s, dir) =>
      DocsIndex.rankedHits(s, dir, "AND", "key AND value AND hash", 20)),
    "ft_bm25_or" -> ((s, dir) =>
      DocsIndex.rankedHits(s, dir, "OR", "scan OR window OR batch", 20)),
    // MMR diversification: BM25 top-20 window re-ordered greedily by
    // λ·rel − (1−λ)·max-cos-to-selected (λ=0.75), top-5 out
    "ft_mmr" -> ((s, dir) =>
      DocsIndex.mmrRankedHits(s, dir, "FREE", "fast merge sort table",
        5, 20)),
    // query relaxation: 'zzznovel' is out-of-vocabulary, so the AND
    // relaxes to (fast AND merge) — the zero-hit recovery ladder; the
    // oracle scores exactly that rung, so a wrong rung choice hash-fails
    "ft_relax" -> ((s, dir) =>
      DocsIndex.relaxedRankedHits(s, dir, "fast AND merge AND zzznovel", 10)),
    // batched multi-query execution (msearch): three queries, ONE job,
    // one union-pushdown scan — per query bit-identical to rankedHits
    "ft_msearch" -> ((s, dir) =>
      DocsIndex.msearchRankedHits(s, dir, Seq(
        (1L, "FREE", "fast merge sort"),
        (2L, "AND", "key AND value AND hash"),
        (3L, "OR", "stream OR table")), 10)),
    // learning-to-rank feature export: per (query, candidate) the
    // feature vector a ranker trains on — candidates from one batched
    // job, tf decode from one galloping pass over the union termId set
    "ltr_features" -> ((s, dir) =>
      DocsIndex.ltrFeatures(s, dir, Seq(
        (1L, "fast merge"),
        (2L, "dup scan")), 10)),
    "ft_phrase" -> ((s, dir) =>
      DocsIndex.rankedHits(s, dir, "PHRASE", "\"part filter\"", 20)),
    "ft_phrase3" -> ((s, dir) =>
      DocsIndex.rankedHits(s, dir, "PHRASE", "\"big order scan\"", 10)),
    "ft_near" -> ((s, dir) =>
      DocsIndex.rankedHits(s, dir, "NEAR", "merge NEAR/3 sort", 20)),
    // ordered proximity: 'merge' strictly before 'sort', span <= 4
    "ft_onear" -> ((s, dir) =>
      DocsIndex.rankedHits(s, dir, "ONEAR", "merge BEFORE/4 sort", 20)),
    "ft_prefix" -> ((s, dir) =>
      DocsIndex.rankedHits(s, dir, "PREFIX", "s*", 20)),
    // fuzzy term query (Lucene FuzzyQuery): edit-distance dictionary
    // expansion — sow~1 matches docs with 'row' or 'slow'
    "ft_fuzzy" -> ((s, dir) =>
      DocsIndex.rankedHits(s, dir, "FUZZY", "sow~1", 20)),
    // stemmed retrieval (kind STEM): 'queries' S-stems to 'query' and
    // expands to every vocabulary term sharing that stem — inflection-
    // tolerant matching over the UNSTEMMED index
    "ft_stem" -> ((s, dir) =>
      DocsIndex.rankedHits(s, dir, "STEM", "stem:queries", 15)),
    "ft_scoped" -> ((s, dir) =>
      DocsIndex.scopedRankedHits(s, dir, "FREE", "fast merge sort", 10, "src7")),
    "ft_regex" -> ((s, dir) =>
      DocsIndex.rankedHits(s, dir, "REGEX", "re:(fast|slow|merge)", 20)),
    // general wildcard (Lucene WildcardQuery): `s?a*` expands to
    // {scan, small, spark} — both glob metachars, mid-word constraint
    "ft_wildcard" -> ((s, dir) =>
      DocsIndex.rankedHits(s, dir, "WILD", "s?a*", 20)),
    // minimum_should_match: ≥2 of the 4 terms — the recall/precision
    // dial between OR (1) and AND (all)
    "ft_msm" -> ((s, dir) =>
      DocsIndex.msmRankedHits(s, dir, "fast merge sort table", 2, 20)),
    // disjunction-max (Lucene dis_max): best single-term contribution
    // + 0.3 · the rest — rewards the strongest match, not many weak ones
    "ft_dismax" -> ((s, dir) =>
      DocsIndex.disMaxRankedHits(s, dir, "fast merge sort table", 0.3, 20)),
    // match_phrase_prefix (search-as-you-type): "fast s" = the phrase
    // fast·<any s-term>, one compiled walk over all variants
    "ft_phrase_prefix" -> ((s, dir) =>
      DocsIndex.phrasePrefixRankedHits(s, dir, "fast s", 20)),
    // statically pruned index (Carmel SIGIR'01): same query as
    // ft_bm25_topk over posting lists cut to their top half by impact —
    // deliberately approximate at the tail, so no SQL twin; exactness
    // gates (kept-set brute force, keepFrac=1 identity, recall) live in
    // IndexPrunerSpec
    "ft_pruned" -> ((s, dir) =>
      DocsIndex.prunedRankedHits(s, dir, "FREE", "fast merge sort table", 20)),
    // significant terms: what is UNUSUAL about docs matching the query,
    // JLH-scored against the corpus background
    "ft_sigterms" -> ((s, dir) =>
      DocsIndex.significantTerms(s, dir, "FREE", "fast merge", 15)),
    "ft_bool_nested" -> ((s, dir) =>
      DocsIndex.rankedHits(s, dir, "BOOL", "(fast OR slow) AND merge", 20)),
    "ft_bool_not" -> ((s, dir) =>
      DocsIndex.rankedHits(s, dir, "BOOL", "merge AND NOT slow", 20)),
    "ft_bool_phrase" -> ((s, dir) =>
      DocsIndex.rankedHits(s, dir, "BOOL", "(\"fast merge\" OR slow) AND table", 20)),
    "ft_bool_near" -> ((s, dir) =>
      DocsIndex.rankedHits(s, dir, "BOOL", "(\"merge sort\"~3 OR slow) AND table", 20)),
    // ordered-proximity atom: merge strictly before sort within 3
    "ft_bool_onear" -> ((s, dir) =>
      DocsIndex.rankedHits(s, dir, "BOOL", "(\"merge sort\"~>3 OR slow) AND table", 20)),
    "ft_bool_prefix" -> ((s, dir) =>
      DocsIndex.rankedHits(s, dir, "BOOL", "(s* OR slow) AND table", 20)),
    "ft_bool_regex" -> ((s, dir) =>
      DocsIndex.rankedHits(s, dir, "BOOL", "(re:(fast|slow) OR batch) AND NOT table", 20)),
    "ft_boosted" -> ((s, dir) =>
      DocsIndex.rankedHits(s, dir, "FREE", "fast^2 merge sort^0.5", 20)),
    "ft_bool_boost" -> ((s, dir) =>
      DocsIndex.rankedHits(s, dir, "BOOL", "(\"fast merge\"^2 OR slow) AND table", 20)),
    "ft_highlight" -> ((s, dir) =>
      DocsIndex.highlights(s, dir, "FREE", "fast merge", 10)),
    // snippet fragments: each matched position of the top-8 docs with
    // its ±2-token window over the filtered token stream (the ES
    // highlighter fragment surface)
    "ft_snippets" -> ((s, dir) =>
      DocsIndex.snippets(s, dir, "FREE", "slow table", 8, 2)),
    "ft_facets" -> ((s, dir) => {
      val (_, searcher, _) = DocsIndex.get(s, dir)
      searcher.facets("FREE", "fast merge", "lang").orderBy("lang")
    }),
    "ft_facets_bool" -> ((s, dir) => {
      val (_, searcher, _) = DocsIndex.get(s, dir)
      searcher.facets("BOOL", "(\"fast merge\" OR slow) AND table", "lang")
        .orderBy("lang")
    }),
    "ft_count_bool" -> ((s, dir) => {
      val (_, searcher, _) = DocsIndex.get(s, dir)
      val b = searcher.matchCount("BOOL", "(\"fast merge\" OR slow) AND table")
      val ph = searcher.matchCount("PHRASE", "\"fast merge\"")
      val nr = searcher.matchCount("NEAR", "merge NEAR/3 sort")
      s.createDataFrame(Seq(("bool_pm", b), ("phrase_fm", ph),
        ("near_ms3", nr))).toDF("q", "n_docs").orderBy("q")
    }),
    // sparse tf-idf document vectors (top-5 terms per doc) — the
    // feature-export surface a training pipeline reads; a full-corpus
    // decode by definition (it IS the export job), one window shuffle
    "ft_docvec" -> ((s, dir) => {
      val (seg, _, _) = DocsIndex.get(s, dir)
      val n = seg.stats.numDocs
      import org.apache.spark.sql.expressions.Window
      ExactScorer.decodedPostings(s, seg).toDF("termId", "docId", "tf")
        .join(seg.dict.select(col("termId"), col("term"), col("df")), "termId")
        .join(DocsIndex.withDocId(seg), "docId")
        .withColumn("tfidf", round(col("tf") *
          expr(graft.model.BM25.idfSql(n.toString, "df")), 6))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("doc_id"))
            .orderBy(col("tfidf").desc, col("term").asc)).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("doc_id"), col("term"), col("tfidf"), col("rank"))
        .orderBy("doc_id", "rank")
    }),
    // trigram substring ("grep") search: the needle crosses token
    // boundaries mid-word — invisible to every word-aligned query kind
    "ft_substr" -> ((s, dir) =>
      triIndex(s, dir).grep(DocsIndex.documents(s, dir), "rge so")
        .orderBy("doc_id")),
    // regex grep with the Cox literal-alternation trigram prefilter:
    // candidates = union of the two literals' intersection sets, then
    // full-regex verification on candidates only
    "ft_grep_regex" -> ((s, dir) =>
      triIndex(s, dir).grepRegex(DocsIndex.documents(s, dir), "merge (sort|scan)")
        .orderBy("doc_id")),
    // synonym expansion as a query rewrite: merge≡join, fast≡quick;
    // `fast AND merge` evaluates as (fast OR quick) AND (join OR merge)
    // through the ordinary BOOL walk
    "ft_synonym" -> ((s, dir) =>
      DocsIndex.synonymRankedHits(s, dir, "AND", "fast AND merge", 20,
        graft.search.Synonyms.parse(Seq("merge, join", "fast, quick")))),
    // score explanation: per-(hit doc × term) BM25 breakdown of the
    // ft_bm25_topk ranking's top 10
    "ft_explain" -> ((s, dir) =>
      DocsIndex.explain(s, dir, "FREE", "fast merge sort table", 10)),
    "ft_fielded" -> ((s, dir) =>
      DocsIndex.fieldedRankedHits(s, dir, "lang:fr fast merge sort", 20)),
    "ft_fielded_combo" -> ((s, dir) =>
      DocsIndex.fieldedRankedHits(s, dir, "repo:src3 lang:en fast merge sort", 10)),
    // numeric range atom: docLen constrained to [40, 120] via the
    // generalized predicate bitset (one probe inside the walks)
    "ft_fielded_range" -> ((s, dir) =>
      DocsIndex.fieldedRankedHits(s, dir, "len:40..120 fast merge sort", 20)),
    // path glob atom (the code-search `path:` filter): docmap paths are
    // zero-padded doc_ids, so this glob selects doc_ids 100..199
    "ft_fielded_path" -> ((s, dir) =>
      DocsIndex.fieldedRankedHits(s, dir, "path:0000000001* fast merge sort", 20)),
    // common-terms query: 'dup' (df 25/500) is required at cutoff 0.3,
    // 'the'/'merge' (df ~0.8N) are optional but score when present
    "ft_common_terms" -> ((s, dir) =>
      DocsIndex.commonTermsRankedHits(s, dir, "the dup merge", 0.3, 20)),
    // auto-correct flow: "past tabl" matches nothing as typed (both
    // tokens OOV), so the phrase suggester's top candidate runs instead
    "ft_autocorrect" -> ((s, dir) =>
      DocsIndex.autocorrectRankedHits(s, dir, "past tabl", 20)),
    // histogram aggregation: the FREE match set bucketed by docLen in
    // 10-token bins — the numeric sibling of the lang facets
    "ft_len_hist" -> ((s, dir) =>
      DocsIndex.lenHistogram(s, dir, "FREE", "fast merge", 10)),
    // extended-stats aggregation over the same match set: exact Long
    // sums, mean/variance/std rounded under the floor tie rule
    "ft_extstats" -> ((s, dir) =>
      DocsIndex.lenExtendedStats(s, dir, "FREE", "fast merge")),
    // range aggregation: named docLen ranges [lo, hi) over the match
    // set, last range unbounded — all ranges reported, empties count 0
    "ft_range_agg" -> ((s, dir) =>
      DocsIndex.lenRanges(s, dir, "FREE", "fast merge",
        Seq(("short", 0L, Some(30L)), ("mid", 30L, Some(60L)),
          ("long", 60L, None)))),
    // weighted-avg aggregation: mean n_chars weighted by docLen (exact
    // Long sums, one floor-rounded division)
    "ft_weighted_avg" -> ((s, dir) =>
      DocsIndex.weightedAvgChars(s, dir, "FREE", "fast merge")),
    // pipeline aggs over the 10-token histogram: cumulative_sum +
    // derivative (first bucket NULL, the ES rule)
    "ft_hist_pipeline" -> ((s, dir) =>
      DocsIndex.lenHistogramPipeline(s, dir, "FREE", "fast merge", 10)),
    // deterministic random_score (seed 42): md5-portable hash ordering
    // of the match set — reproducible unbiased sampling of a filter
    "ft_random" -> ((s, dir) =>
      DocsIndex.randomScoredHits(s, dir, "FREE", "fast merge", 42L, 20)),
    // matrix-stats aggregation: covariance/correlation of (docLen,
    // n_chars) over the match set, exact integer moments
    "ft_matrixstats" -> ((s, dir) =>
      DocsIndex.matrixStats(s, dir, "FREE", "fast merge")),
    // cardinality aggregation: exact distinct langs of the match set
    // (the HLL++ approximate sibling is bound-checked in SketchSpec)
    "ft_cardinality" -> ((s, dir) =>
      DocsIndex.langCardinality(s, dir, "FREE", "fast merge")),
    // filters aggregation: 4 named match counts in ONE union-pushdown
    // job (ES filters agg; the msearch batching argument for counting)
    "ft_filters_agg" -> ((s, dir) =>
      DocsIndex.filtersAgg(s, dir, Seq(
        ("has_fast", "FREE", "fast"),
        ("fast_and_merge", "AND", "fast merge"),
        ("fast_or_table", "OR", "fast OR table"),
        ("sor_prefix", "PREFIX", "sor*")))),
    // adjacency matrix: 3 named filters -> 3 singles + 3 pairwise
    // intersections in ONE batched scan (ES adjacency_matrix agg)
    "ft_adjacency" -> ((s, dir) =>
      DocsIndex.adjacencyAgg(s, dir, Seq(
        ("a_fast", "FREE", "fast"),
        ("b_sort", "FREE", "sort"),
        ("c_merge_table", "AND", "merge table")))),
    // rare-terms agg: the exact long-tail surface (df <= 100 against
    // the ~380-df body), straight off the dictionary — zero corpus work
    "ft_rare_terms" -> ((s, dir) => DocsIndex.rareTerms(s, dir, 100)),
    // diversified sampler: <=3 docs per lang from the match set, chosen
    // by the seeded portable hash — reproducible de-biased sampling
    "ft_sampler_div" -> ((s, dir) =>
      DocsIndex.diversifiedSample(s, dir, "OR", "fast merge", 7L, 3)),
    // composite agg page 2: (lang, docLen/16 bin) buckets of the match
    // set in key order, resuming strictly after the ('de', 48) bucket
    "ft_composite" -> ((s, dir) =>
      DocsIndex.compositeAgg(s, dir, "OR", "fast merge", 16,
        Some(("de", 48L)), 10)),
    // exact nearest-rank percentiles of the match set's docLen (the ES
    // percentiles agg; exact form = the oracle, t-digest is the approx)
    "ft_percentiles" -> ((s, dir) =>
      DocsIndex.lenPercentiles(s, dir, "FREE", "fast merge",
        Seq(25, 50, 75, 95))),
    // sliding-window pipeline aggs over the 10-token histogram:
    // moving_fn(unweightedAvg, window 3, current-inclusive — pinned)
    // + serial_diff(lag 2), absent-lag buckets report 0
    "ft_mov_avg" -> ((s, dir) =>
      DocsIndex.lenHistogramMoving(s, dir, "FREE", "fast merge", 10, 3, 2)),
    // moving percentiles (ES moving_percentiles, exact nearest-rank):
    // per bin, the window-3 trailing MEDIAN of bucket counts
    "ft_mov_pct" -> ((s, dir) =>
      DocsIndex.lenHistogramMovingPct(s, dir, "FREE", "fast merge", 10, 3, 50)),
    // multi_terms agg: top-10 (lang, docLen/16 bin) compound buckets by
    // doc count desc — the count-ordered sibling of ft_composite
    "ft_multiterms" -> ((s, dir) =>
      DocsIndex.multiTermsAgg(s, dir, "FREE", "fast merge", 16, 10)),
    // median-absolute-deviation agg, exact nearest-rank form (the ES
    // TDigest agg's oracle): MAD = median of |dl - median(dl)|
    "ft_mad" -> ((s, dir) =>
      DocsIndex.lenMad(s, dir, "FREE", "fast merge")),
    // boxplot agg: min/q1/median/q3/max/IQR under the same pinned
    // nearest-rank rule as ft_percentiles
    "ft_boxplot" -> ((s, dir) =>
      DocsIndex.lenBoxplot(s, dir, "FREE", "fast merge")),
    // Welch t_test agg between two match sets' docLen ('fast' docs vs
    // 'merge' docs): exact Long moments, mirrored IEEE tree, 6-dp round
    "ft_ttest" -> ((s, dir) =>
      DocsIndex.lenTTest(s, dir, "FREE", "fast", "FREE", "merge")),
    // percentile_ranks agg (inverse of ft_percentiles): % of match-set
    // docLens <= each probe value, exact cumulative form
    "ft_pct_ranks" -> ((s, dir) =>
      DocsIndex.lenPercentileRanks(s, dir, "FREE", "fast merge",
        Seq(40L, 80L, 120L, 100000L))),
    // bucket_sort + normalize(percent_of_sum) pipeline aggs: histogram
    // buckets by count desc, page [1, 5), shares computed pre-cut
    "ft_bucket_sort" -> ((s, dir) =>
      DocsIndex.lenHistogramBucketSort(s, dir, "FREE", "fast merge",
        10, 1, 4)),
    // string_stats agg over the match set's source field: lengths +
    // char-distribution Shannon entropy (log2), exact counts
    "ft_string_stats" -> ((s, dir) =>
      DocsIndex.stringStats(s, dir, "FREE", "fast merge")),
    // stats_bucket pipeline agg (subsumes avg/min/max/sum_bucket):
    // bucket-count stats over the 10-token histogram
    "ft_stats_bucket" -> ((s, dir) =>
      DocsIndex.statsBucket(s, dir, "FREE", "fast merge", 10)),
    // term vectors of doc 7 (the ES _termvectors API): tf + positions
    // from re-analysis of the one doc, df/cf from the dictionary
    "ft_termvectors" -> ((s, dir) =>
      DocsIndex.termVectors(s, dir, 7L)),
    // span-first: both terms within the first 25 tokens (the
    // imports/header heuristic), conjunctive BM25 ranking
    "ft_spanfirst" -> ((s, dir) =>
      DocsIndex.spanFirstRankedHits(s, dir, "fast merge", 25, 20)),
    // span-not: 'merge' occurrences with no 'sort' within 3 tokens —
    // "A away from B" (Lucene SpanNotQuery)
    "ft_span_not" -> ((s, dir) =>
      DocsIndex.spanNotRankedHits(s, dir, "merge", "sort", 3, 20)),
    // intervals query (Lucene/ES intervals algebra): 'merge' then
    // 'sort' IN ORDER with ≤4 tokens between them, not_containing
    // 'fast' inside the interval
    "ft_intervals" -> ((s, dir) =>
      DocsIndex.intervalsRankedHits(s, dir, "merge sort", 4, "fast", 20)),
    // intervals any_of: (fast OR slow) then 'merge' IN ORDER with ≤4
    // tokens between them, not_containing 'table' inside the interval
    // (the Lucene/ES intervals any_of combinator under an ordered source)
    "ft_intervals_any" -> ((s, dir) =>
      DocsIndex.intervalsAnyRankedHits(s, dir, "fast|slow merge", 4,
        "table", 20)),
    // intervals containing (the not_containing dual): 'merge' then
    // 'sort' IN ORDER with ≤4 tokens between them, where some minimized
    // interval CONTAINS a 'fast' occurrence
    "ft_intervals_within" -> ((s, dir) =>
      DocsIndex.intervalsContainingRankedHits(s, dir, "merge sort", 4,
        "fast", 20)),
    // boosting query: rank by "fast merge sort", demote docs that also
    // contain "table" to 0.3× (ES boosting / Lucene BoostingQuery)
    "ft_boosting" -> ((s, dir) =>
      DocsIndex.boostingRankedHits(s, dir, "FREE", "fast merge sort",
        "FREE", "table", 0.3, 50, 15)),
    // LM-Dirichlet similarity (μ=2000): the Lucene pluggable-similarity
    // surface over the same query as ft_bm25_topk
    "ft_lmd" -> ((s, dir) =>
      DocsIndex.lmdRankedHits(s, dir, "fast merge sort table", 2000.0, 20)),
    // top-hits aggregation: best 3 docs per language of the match set
    // (ES terms-agg + top_hits), exact two-stage per-group top-k
    "ft_tophits" -> ((s, dir) =>
      DocsIndex.topHitsByLang(s, dir, "FREE", "fast merge sort", 3)),
    // field-sorted results: the AND match set ordered longest-first
    // instead of by BM25 (the ES sort surface)
    "ft_sortby" -> ((s, dir) =>
      DocsIndex.sortedMatches(s, dir, "AND", "fast merge", 15)),
    "ft_deleted" -> ((s, dir) =>
      DocsIndex.deletedRankedHits(s, dir, "FREE", "fast merge sort table", 20)),
    // the LIVE LSM read path end-to-end through the facade (X162):
    // two appended segments + durable delete log + lang bitset filter,
    // merge-on-read with global stats — the only kind×tier cell that
    // was previously scalatest-only
    "ft_lsm_live" -> ((s, dir) =>
      DocsIndex.lsmLiveRankedHits(s, dir, "FREE", "fast merge sort", 20,
        "lang", "fr")),
    "ft_purged" -> ((s, dir) =>
      DocsIndex.purgedRankedHits(s, dir, "FREE", "fast merge sort table", 20)),
    "ft_compacted" -> ((s, dir) =>
      DocsIndex.compactedRankedHits(s, dir, "AND", "key AND value AND hash", 20)),
    "ft_page2" -> ((s, dir) =>
      DocsIndex.pagedRankedHits(s, dir, "FREE", "fast merge sort table", 20, 20)),
    "ft_suggest" -> ((s, dir) => {
      val (_, searcher, _) = DocsIndex.get(s, dir)
      val rows = searcher.suggest("mrege", 5, maxDist = 2)
      s.createDataFrame(rows.toSeq).toDF("term", "df")
    }),
    // phrase suggester: per-token edit-distance candidates (df desc,
    // term asc, top 3) → cartesian phrases ranked by the JM-smoothed
    // unigram LM likelihood — multi-word "did you mean"
    "ft_suggest_phrase" -> ((s, dir) => {
      val (_, searcher, _) = DocsIndex.get(s, dir)
      val rows = searcher.suggestPhrase("past tabl", 5)
      import org.apache.spark.sql.expressions.Window
      s.createDataFrame(rows.toSeq).toDF("suggestion", "score")
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("suggestion").asc)).cast("long"))
    }),
    // autocomplete: top-5 completions of prefix "s" by (df desc, term) —
    // the typeahead surface; 6 vocabulary terms start with "s", so the
    // k-cut is genuinely exercised
    "ft_complete" -> ((s, dir) => {
      val (_, searcher, _) = DocsIndex.get(s, dir)
      val rows = searcher.complete("s", 5)
      s.createDataFrame(rows.toSeq).toDF("term", "df")
    }),
    // more-like-this: top-5 informative terms of doc 7, BM25-ranked
    // disjunction over the corpus minus the seed itself
    "ft_mlt" -> ((s, dir) =>
      DocsIndex.mltRankedHits(s, dir, 7L, 5, 15)),
    // hard-negative mining (DPR/ANCE BM25 negatives): three seeds, one
    // batched job, exact-copy candidates excluded per seed
    "mine_negatives" -> ((s, dir) =>
      DocsIndex.mineNegatives(s, dir, Seq(7L, 42L, 100L), 5, 10)),
    // pseudo-relevance feedback (Rocchio / MoreLikeThis interesting
    // terms): top-5 feedback docs, 3 expansion terms at weight 0.5
    "ft_prf" -> ((s, dir) =>
      DocsIndex.prfRankedHits(s, dir, "dup scan", 5, 3, 15)),
    // ranking evaluation (ES rank_eval / trec_eval): prec@10, RR, nDCG@10
    // against conjunctive-containment qrels. q2-q4 carry the needle term
    // `dup` (df ~40x below the rest), so their small qrel sets force
    // FRACTIONAL metrics (a constant-output bug cannot pass); q5's
    // qrels are empty (OOV in the conjunction) — the zero-metrics edge
    "ft_rankeval" -> ((s, dir) =>
      DocsIndex.rankEval(s, dir, Seq(
        1L -> "fast merge sort", 2L -> "dup merge sort", 3L -> "dup key value",
        4L -> "dup scan", 5L -> "zzz merge"), 10)),
    // result collapsing: best hit per source, top-8 sources
    "ft_collapse" -> ((s, dir) =>
      DocsIndex.collapsedRankedHits(s, dir, "FREE", "fast merge sort table", 8)),
    // parent-child scored join (ES has_child, score_mode=sum): sources
    // ranked by the SUM of their matching docs' BM25 scores for
    // "fast merge", keeping sources with >= 3 matching docs
    "ft_haschild" -> ((s, dir) =>
      DocsIndex.hasChildRankedHits(s, dir, "FREE", "fast merge", "sum", 3, 8)),
    // has_parent (score mode `score`): children of the top-8 parents
    // under the same parent scoring, inheriting parent score/rank
    "ft_hasparent" -> ((s, dir) =>
      DocsIndex.hasParentRankedHits(s, dir, "FREE", "fast merge", "sum", 3, 8)),
    // hybrid lexical+vector: BM25 top-30 for the text ∪ exact-cosine
    // top-30 neighbors of doc 7's embedding, fused by RRF (C = 60)
    "hybrid_rrf" -> ((s, dir) =>
      DocsIndex.hybridRankedHits(s, dir, "FREE", "fast merge sort table",
        7L, 30, 15)),
    // linear hybrid retriever (ES `linear`, the normalized-score
    // alternative to RRF): min-max normalize each retriever's top-30
    // window, fuse 0.7·text + 0.3·vector
    "hybrid_linear" -> ((s, dir) =>
      DocsIndex.hybridLinearRankedHits(s, dir, "FREE", "fast merge sort table",
        7L, 30, 0.7, 0.3, 15)),
    // re-rank window: BM25 top-50, re-ordered by BM25 + 0.1·ln(1+n_chars)
    "ft_rescore" -> ((s, dir) =>
      DocsIndex.rescoredRankedHits(s, dir, "FREE", "fast merge sort table",
        50, 15, 0.1)),
    // gaussian decay (ES function_score gauss on n_chars): full score
    // inside |x| ≤ 100, multiplier 0.5 at distance 100 + 300
    "ft_decay" -> ((s, dir) =>
      DocsIndex.decayRankedHits(s, dir, "FREE", "fast merge sort table",
        50, 15, origin = 0.0, offset = 100.0, scale = 300.0,
        decayRate = 0.5)),
    // the other two ES decay shapes over the same query/window/params —
    // exp never reaches 0 (long-tail demotion), linear hard-zeroes past
    // origin+offset+scale/(1-decay)
    "ft_decay_exp" -> ((s, dir) =>
      DocsIndex.decayRankedHits(s, dir, "FREE", "fast merge sort table",
        50, 15, origin = 0.0, offset = 100.0, scale = 300.0,
        decayRate = 0.5, shape = "exp")),
    "ft_decay_lin" -> ((s, dir) =>
      DocsIndex.decayRankedHits(s, dir, "FREE", "fast merge sort table",
        50, 15, origin = 0.0, offset = 100.0, scale = 300.0,
        decayRate = 0.5, shape = "linear")),
    // pinned query: docs 7 then 3 promoted in that order (score NULL),
    // the nonexistent id drops, organic follows from rank 3 ex-pinned
    "ft_pinned" -> ((s, dir) =>
      DocsIndex.pinnedRankedHits(s, dir, Seq(7L, 3L, 999999999L),
        "FREE", "fast merge", 15)),
    // rank_feature saturation boost: bm25 + 2·nc/(nc+1000) over the
    // top-50 window — the static-authority-signal rescore
    "ft_rank_feature" -> ((s, dir) =>
      DocsIndex.rankFeatureRankedHits(s, dir, "FREE", "fast merge sort table",
        50, 15, pivot = 1000.0, boost = 2.0)),
    // term suggester (suggest_mode=missing): 'fsat'/'merg' are OOV and
    // get dictionary candidates within distance 2; 'table' exists → none
    "ft_term_suggest" -> ((s, dir) =>
      DocsIndex.termSuggest(s, dir, Seq("fsat", "merg", "table"), 2, 5)),
    // SymSpell delete-neighborhood suggester — the SCALE path next to
    // ft_term_suggest's dictionary scan: equi-join on precomputed
    // delete variants, exact Levenshtein verify on candidates only;
    // output contract identical (missing mode, dist/df/term ranking)
    "ft_symspell" -> ((s, dir) =>
      graft.search.SymSpell.suggest(symspellIndex(s, dir),
        Seq("qery", "osrt", "scan"), 2, 5)),
    // percolation (reverse search): 5 stored queries across the kinds,
    // matched against every document in one narrow pass
    "percolate" -> ((s, dir) => {
      val qs = Seq(
        Percolator.compile("p1", "FREE", "fast merge"),
        Percolator.compile("p2", "AND", "key AND value AND hash"),
        Percolator.compile("p3", "PHRASE", "\"fast merge\""),
        Percolator.compile("p4", "NEAR", "fast NEAR/3 sort"),
        Percolator.compile("p5", "BOOL", "(fast OR slow) AND NOT window"))
      Percolator.percolate(s, DocsIndex.documents(s, dir), qs)
        .orderBy("query_id", "doc_id")
    }),
    "ft_count" -> ((s, dir) => {
      val (_, searcher, _) = DocsIndex.get(s, dir)
      val and = searcher.matchCount("AND", "key AND value AND hash")
      val free = searcher.matchCount("FREE", "fast merge sort")
      val none = searcher.matchCount("FREE", "zzznotaterm")
      s.createDataFrame(Seq(("and_kvh", and), ("free_fms", free),
        ("zero", none))).toDF("q", "n_docs").orderBy("q")
    }),
    // capped total hits (ES track_total_hits: N / terminate_after):
    // exact min(count, cap), per-bucket walks stop at the cap
    "ft_count_capped" -> ((s, dir) =>
      DocsIndex.cappedCounts(s, dir, Seq(
        ("bool_cap40", "BOOL", "(fast OR slow) AND merge", 40L),
        ("kvh_cap3", "AND", "key AND value AND hash", 3L),
        ("or_cap25", "FREE", "fast merge sort", 25L),
        ("or_uncapped", "FREE", "fast merge sort", 1000000L)))),
    // constant_score filter context: first 25 matches in index order,
    // every one scoring exactly the boost
    "ft_const" -> ((s, dir) =>
      DocsIndex.constRankedHits(s, dir, "BOOL", "(fast OR slow) AND merge",
        1.5, 25)),

    // ── dedup family (training-data pipeline) ──
    "dedup_exact" -> ((s, dir) =>
      Dedup.exactDups(DocsIndex.documents(s, dir)).orderBy("text_sha")),
    // the exact threshold join: PPJoin-style candidates from rarest-first
    // prefix shingles, each verified by intersecting the two docs'
    // shingle records (one candidate/verify path, no all-pairs form)
    "dedup_jaccard" -> ((s, dir) =>
      Dedup.jaccardPairs(DocsIndex.documents(s, dir), 3, 0.5)
        .select(col("doc_a"), col("doc_b"), round(col("jac"), 6).as("jac"))
        .orderBy("doc_a", "doc_b")),
    // kept as its own row under its historical name: the same call, so
    // it shares dedup_jaccard's oracle
    "dedup_jaccard_prefix" -> ((s, dir) =>
      Dedup.jaccardPairs(DocsIndex.documents(s, dir), 3, 0.5)
        .select(col("doc_a"), col("doc_b"), round(col("jac"), 6).as("jac"))
        .orderBy("doc_a", "doc_b")),
    // LSH candidates, verified by the same record intersection
    "dedup_minhash" -> ((s, dir) =>
      Dedup.minhashLshPairs(DocsIndex.documents(s, dir), 3, 64, 16, 0.5)
        .select(col("doc_a"), col("doc_b"), round(col("jac"), 6).as("jac"))
        .orderBy("doc_a", "doc_b")),
    // asymmetric n-gram CONTAINMENT (X181 — Broder SEQUENCES'97): the
    // subset-duplication detector symmetric Jaccard misses (a doc
    // quoted whole inside a 10x larger one has J~0.1 but C=1.0);
    // prefix filtering on the contained side only, then the same
    // record-intersection verification as dedup_jaccard
    "dedup_containment" -> ((s, dir) =>
      Dedup.containmentPairs(DocsIndex.documents(s, dir), 3, 0.8)
        .select(col("doc_sub"), col("doc_sup"),
          round(col("containment"), 6).as("containment"))
        .orderBy("doc_sub", "doc_sup")),
    // deterministic two-pass heavy hitters (X182 — Misra-Gries'82):
    // per-partition capacity-k summaries union to a guaranteed
    // candidate superset, exact pass-2 counts keep cnt*256 >= N —
    // output is exact, so the twin is the plain HAVING aggregation
    "heavy_hitters" -> ((s, dir) =>
      graft.pipeline.HeavyHitters.heavyHitters(
        DocsIndex.documents(s, dir), 256L, 4096)),
    // chunk-level exact duplication (Lee et al. exact-substring family):
    // 4-word stride-4 chunks, dup = chunk in >= 2 distinct docs
    "dedup_chunks" -> ((s, dir) =>
      Dedup.chunkDups(DocsIndex.documents(s, dir), 4, 0.2).orderBy("doc_id")),
    "dedup_simhash" -> ((s, dir) => // no SQL twin: signature uses murmur3
      Dedup.simhashPairs(DocsIndex.documents(s, dir), 3)
        .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
        .orderBy("doc_a", "doc_b")),
    // the PORTABLE simhash sibling: md5-derived 60-bit signatures make
    // the signature — and the whole banded pair set — SQL-expressible,
    // closing the family's oracle gap (dedup_simhash stays as the
    // murmur3 scalatest-gated variant)
    "dedup_simhash_md5" -> ((s, dir) =>
      Dedup.simhashPairsPortable(DocsIndex.documents(s, dir), 3)
        .orderBy("doc_a", "doc_b")),
    // semantic dedup (SemDeDup): k-means cells + within-cell cosine
    // pairs, lowest-centroid-cos survivor per group (no SQL twin:
    // clustering is approximate by design — within-cell pair exactness,
    // the keep rule, drop counting, and determinism are pinned in
    // SemDedupSpec)
    "dedup_semantic" -> ((s, dir) =>
      graft.pipeline.SemDedup.prune(s, embeddings(s, dir),
        graft.pipeline.SemDedup.Params(nlist = 16, iters = 10, dim = 64,
          tau = 0.4))), // the corpus's near-dup regime (the dedup_embed tau)
    // labeled corpus clustering: k-means cells sized + labeled by their
    // top cluster-tf·idf terms (no SQL twin: clustering is approximate
    // by design — assignment, label rule, cohesion exactness, and
    // determinism are pinned in ClusteringSpec)
    "cluster_topics" -> ((s, dir) =>
      graft.pipeline.Clustering.clusterTopics(s,
        DocsIndex.documents(s, dir)
          .select(col("doc_id"), col("text").as("content")),
        embeddings(s, dir),
        graft.pipeline.IvfIndex.Params(nlist = 8, iters = 10, dim = 64),
        topTerms = 5)
        // driver-compare needs scalar-only columns (its pandas
        // sort_values chokes on array cells) — space-join the label
        // terms; the engine API keeps the typed array
        .select(col("list"), col("n_docs"), col("cohesion"),
          concat_ws(" ", col("terms")).as("terms"))
        .orderBy("list")),
    "dedup_embed" -> ((s, dir) =>
      Ann.nearDupPairs(embeddings(s, dir), 0.4).orderBy("doc_a", "doc_b")),
    // the scale path: persisted LSH buckets + exact-cosine verify — same
    // output contract as dedup_embed (48 four-plane tables give a
    // per-pair miss probability < 3e-4 at cos = 0.4, deterministic seed)
    "dedup_embed_lsh" -> ((s, dir) =>
      annIndex(s, dir, "neardup").nearDupPairs(0.4).orderBy("doc_a", "doc_b")),
    // pairs -> duplicate GROUPS: connected components (large-star/
    // small-star) with the min doc_id as the deterministic canonical
    "dedup_clusters" -> ((s, dir) =>
      graft.pipeline.Components.connectedComponents(
        Dedup.minhashLshPairs(DocsIndex.documents(s, dir), 3, 64, 16, 0.5))
        .orderBy("doc_id")),
    // the materialized dedup: the corpus minus every non-canonical
    // near-dup (survivor = min doc_id per cluster) — what a training
    // pipeline actually feeds downstream
    "dedup_corpus" -> ((s, dir) =>
      Dedup.dedupedCorpus(
          DocsIndex.documents(s, dir).select(col("doc_id"), col("lang")),
          Dedup.minhashLshPairs(DocsIndex.documents(s, dir), 3, 64, 16, 0.5))
        .orderBy("doc_id")),
    // quality-aware retention: same clusters, but the survivor is the
    // highest-quality member (tie min id) — the keep-best policy
    "dedup_keep_best" -> ((s, dir) =>
      Dedup.keepBest(
          DocsIndex.documents(s, dir),
          Dedup.minhashLshPairs(DocsIndex.documents(s, dir), 3, 64, 16, 0.5))
        .orderBy("doc_id")),

    // ── similarity search ──
    "ann_topk" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val qs = emb.filter(_._1 < 5).collect().sortBy(_._1)
      Ann.bruteTopK(emb, qs, 10)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),
    // the SAME exact top-k through the native Catalyst expression
    // (graft.functions.CosineF32, whole-stage codegen over ArrayData —
    // no typed-path deserialization, no UDF boxing); shares ann_topk's
    // oracle because the scores are bit-identical by construction
    "ann_topk_native" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val qs = emb.filter(_._1 < 5).collect().sortBy(_._1)
      Ann.bruteTopKNative(emb, qs, 10)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),
    // filtered vector search (the "kNN with a metadata filter" surface
    // every vector store ships): PRE-filter semantics — candidates are
    // restricted BEFORE ranking, so k results are guaranteed whenever ≥k
    // vectors pass. The filter is a semi join of the embedding table
    // against the docmap predicate (co-partitionable at 100 TB; here one
    // narrow join), then the same broadcast-queries exact pass
    // radius (similarity-threshold) vector search: every neighbor of
    // queries 0..4 with rounded cosine >= 0.3, unbounded by k
    "ann_radius" -> ((s, dir) => {
      import s.implicits._
      val emb = embeddings(s, dir)
      val qs = emb.filter(_._1 < 5).collect().sortBy(_._1)
      graft.pipeline.Ann.radius(emb, qs, 0.3)
    }),
    "ann_filtered" -> ((s, dir) => {
      import s.implicits._
      val emb = embeddings(s, dir)
      val qs = emb.filter(_._1 < 5).collect().sortBy(_._1)
      val allowed = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("lang") === "en").select(col("doc_id").as("vec_id"))
      val filtered = emb.toDF().join(allowed, "vec_id")
        .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      Ann.bruteTopK(filtered, qs, 10)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),
    "ann_lsh" -> ((s, dir) => { // no SQL twin: approximate (recall tested in scalatest)
      val qs = embeddings(s, dir).filter(_._1 < 5).collect().sortBy(_._1)
      annIndex(s, dir, "topk").topK(qs, 10)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),
    // nProbe = nlist: every list probed, so the IVF walk (train → assign
    // → persisted list scan → probe join → rank) is EXACTLY brute-force
    // top-k and shares its oracle. The testdata embeddings are soft
    // clusters (max pairwise cos 0.51) where any pruning genuinely drops
    // true neighbors (measured recall 0.82 at nProbe=8/16); pruned-probe
    // recall is gated in IvfSpec on clustered data instead.
    "ann_ivf" -> ((s, dir) => {
      val qs = embeddings(s, dir).filter(_._1 < 5).collect().sortBy(_._1)
      ivfIndex(s, dir).topK(qs, 10, nProbe = 16)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),
    // product-quantization ADC scan (no SQL twin: approximate by design
    // — quantization error; ADC identity, determinism, and recall vs
    // the exact brute force are pinned in PqSpec)
    "ann_pq" -> ((s, dir) => {
      val qs = embeddings(s, dir).filter(_._1 < 5).collect().sortBy(_._1)
      pqIndex(s, dir).topK(qs, 10)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),
    // composed IVF-PQ (FAISS IndexIVFPQ): coarse router prunes the scan
    // to nProbe/nlist of a 32×-compressed code table (no SQL twin:
    // approximate by design — routing misses + quantization error; the
    // residual-ADC identity, determinism, probe pushdown, and recall vs
    // exact brute force are pinned in IvfPqSpec)
    "ann_ivfpq" -> ((s, dir) => {
      val qs = embeddings(s, dir).filter(_._1 < 5).collect().sortBy(_._1)
      ivfPqIndex(s, dir).topK(qs, 10, nProbe = 4)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),
    // scalar (int8) quantization scan (FAISS IndexScalarQuantizer
    // QT_8bit): per-dim affine codes 4× smaller than the floats, scored
    // asymmetrically against the reconstruction. Unlike PQ/IVF-PQ the
    // quantizer is closed-form, so this is the one quantized-ANN path
    // with a full DuckDB twin (oracle mirrors train/encode/reconstruct
    // operation-for-operation)
    "ann_sq8" -> ((s, dir) => {
      val qs = embeddings(s, dir).filter(_._1 < 5).collect().sortBy(_._1)
      val (st, codes) = sq8Index(s, dir)
      graft.pipeline.Sq8.topK(codes, st, qs, 10)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),
    // Matryoshka two-tier retrieval (MRL, Kusupati et al. NeurIPS'22):
    // candidates from a prefix-16-of-64-dim cosine scan (a quarter of
    // the multiply-adds), exact full-dim rescore of the k·3 survivors
    "ann_matryoshka" -> ((s, dir) => {
      val qs = embeddings(s, dir).filter(_._1 < 5).collect().sortBy(_._1)
      Ann.truncatedTopK(embeddings(s, dir), qs, 10, 16, 3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),
    // fully PORTABLE LSH top-k: md5-parity ±1 hyperplanes over the SQ8
    // integer codes — approximate retrieval that is nonetheless
    // bit-identical cross-engine (closing the ann_lsh family's oracle
    // gap; the float-hyperplane AnnIndex stays the recall-gated path)
    "ann_lsh_md5" -> ((s, dir) => {
      val qs = embeddings(s, dir).filter(_._1 < 5).collect().sortBy(_._1)
      val (st, codes) = sq8Index(s, dir)
      graft.pipeline.LshPortable.topK(codes, embeddings(s, dir), st, qs, 10,
        graft.pipeline.LshPortable.Params(tables = 8, planes = 10, dim = 64))
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),
    // oversampled quantized retrieval + exact float rescore (the ES
    // knn rescore_vector / FAISS IndexRefineFlat pattern): the SQ8 code
    // table answers the corpus-scale scan at a quarter of the bytes for
    // k·3 candidates; exact float cosine re-ranks only those
    "ann_sq8_rescore" -> ((s, dir) => {
      val qs = embeddings(s, dir).filter(_._1 < 5).collect().sortBy(_._1)
      val (st, codes) = sq8Index(s, dir)
      graft.pipeline.Sq8.topKRescored(codes, st, embeddings(s, dir), qs, 10, 3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),
    // exact kNN JOIN (the kNN-graph step of semantic curation): every
    // vector's 3 nearest neighbors via block-pair partial top-k heaps
    "knn_join" -> ((s, dir) =>
      Ann.knnJoin(embeddings(s, dir), 3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")),

    // ── text analysis ──
    "text_quality" -> ((s, dir) =>
      TextStats.quality(DocsIndex.documents(s, dir)).orderBy("doc_id")),
    "lang_id" -> ((s, dir) =>
      TextStats.langId(DocsIndex.documents(s, dir)).orderBy("doc_id")),
    "token_count" -> ((s, dir) =>
      TextStats.tokenCounts(DocsIndex.documents(s, dir)).orderBy("doc_id")),
    "fingerprint" -> ((s, dir) =>
      TextStats.fingerprint(DocsIndex.documents(s, dir)).orderBy("doc_id")),
    // winnowing fingerprints (MOSS): 4-word shingles, window 5, min-hash
    // per window with the rightmost tie rule — position-aware dedup
    // fingerprints with the k+w-1 shared-substring detection guarantee
    "winnow" -> ((s, dir) =>
      TextStats.winnow(DocsIndex.documents(s, dir), 4, 5)
        .orderBy("doc_id", "pos")),
    // count-min sketch heavy hitters (Cormode & Muthukrishnan 2005):
    // the exact top-15 terms probed against the fixed-memory 4×512
    // grid — est ≥ cf by the CMS guarantee, byte-equal cross-engine
    // via the md5-portable hash family
    "cms_topterms" -> ((s, dir) => {
      import graft.pipeline.Cms
      val docs = DocsIndex.documents(s, dir)
      val p = Cms.Params(depth = 4, width = 512)
      val exact = docs
        .select(explode(filter(split(col("text"), " "),
          w => length(w) >= 2)).as("term"))
        .groupBy("term").agg(count(lit(1)).as("cf"))
        .orderBy(col("cf").desc, col("term")).limit(15)
      exact.join(Cms.estimate(Cms.sketch(docs, p), exact.select("term"), p),
          "term")
        .select(col("term"), col("cf"), col("est"))
        .orderBy(col("cf").desc, col("term"))
    }),

    // ── curation layer: decontamination / PII / repetition / mixing ──
    // benchmark partition = source 'src0'; 3-gram overlap >= 0.5 flags
    "decontam" -> ((s, dir) =>
      Curation.decontaminate(DocsIndex.documents(s, dir), "src0", 3, 0.5)
        .orderBy("doc_id")),
    // bloom-prefiltered blocklist check (Bloom, CACM 1970): src0's
    // sha256 set as the m-bit image, ONE narrow broadcast-bitset
    // corpus pass, exact verify over the positive survivors only —
    // false positives (deterministic under the md5-portable hashes)
    // carry exact = false
    "bloom_prefilter" -> ((s, dir) => {
      val docs = DocsIndex.documents(s, dir)
      val block = docs.filter(col("source") === "src0")
        .select(sha2(col("text"), 256).as("key"))
      graft.pipeline.Bloom.prefilter(docs, block,
        graft.pipeline.Bloom.Params(bits = 1 << 16, hashes = 4))
    }),
    // scrub synthetic PII injected by a pure-SQL-portable expression (the
    // testdata carries none), so counts are nonzero and the redaction
    // path is genuinely exercised end-to-end
    "pii_scrub" -> ((s, dir) => {
      val aug = concat(col("text"), lit(" contact dev"),
        col("doc_id").cast("string"), lit("@example.com from 10.0."),
        (col("doc_id") % 256).cast("string"), lit(".7"))
      Curation.piiScrub(DocsIndex.documents(s, dir)
        .select(col("doc_id"), aug.as("text"))).orderBy("doc_id")
    }),
    // secret scanning (X163): testdata carries no credentials, so the
    // detectors are exercised by DETERMINISTIC PORTABLE injection (the
    // pii_scrub recipe) — an AKIA key on every 7th doc, a ghp_ token
    // on every 5th, both derived from md5(doc_id) on both engines
    "secret_scan" -> ((s, dir) => {
      val md = md5(col("doc_id").cast("string"))
      val aug = concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" AKIA"), upper(substring(md, 1, 16)))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" ghp_"), md, substring(md, 1, 4))).otherwise(lit("")))
      Curation.secretScan(DocsIndex.documents(s, dir)
        .select(col("doc_id"), aug.as("text"))).orderBy("doc_id")
    }),
    "rep_quality" -> ((s, dir) =>
      Curation.repetitionStats(DocsIndex.documents(s, dir), 2, 0.2)
        .orderBy("doc_id")),
    // model-based quality filter (linear classifier apply): the inline
    // hash-weight instance — codegen columns, zero shuffles; proven
    // row-identical to the broadcast-weight-map path in CurationSpec
    "quality_model" -> ((s, dir) =>
      Curation.hashedQuality(DocsIndex.documents(s, dir)).orderBy("doc_id")),
    // CCNet-style LM perplexity filter: unigram JM-smoothed corpus LM,
    // keep = perplexity ≤ 29.2 (the corpus median sits at ~29.1, so the
    // flag genuinely splits the table)
    "lm_perplexity" -> ((s, dir) =>
      Curation.lmPerplexity(DocsIndex.documents(s, dir), 0.9, 29.2)
        .orderBy("doc_id")),
    "strat_sample" -> ((s, dir) =>
      Curation.stratifiedSample(DocsIndex.documents(s, dir),
        Seq("en" -> 50, "de" -> 100, "fr" -> 25), 10).orderBy("doc_id")),
    // temperature-smoothed domain mixture (q ∝ p^0.5): per-lang shares,
    // per-doc sampling weights, and the 10k-doc budget allocation
    "mixture_weights" -> ((s, dir) =>
      Curation.mixtureWeights(DocsIndex.documents(s, dir), 0.5, 10000L)),
    // the mixture APPLIED: deterministic per-domain downsampling to the
    // smoothed target (max-weight domain keeps everything)
    "mixture_sample" -> ((s, dir) =>
      Curation.mixtureSample(DocsIndex.documents(s, dir), 0.5)),
    // the UP-sampling side: repetition manifest (min-weight domain
    // repeats exactly once, under-represented domains repeat more)
    "mixture_repeat" -> ((s, dir) =>
      Curation.mixtureRepeat(DocsIndex.documents(s, dir), 0.5)),
    // RAG chunk manifest: 32-token windows, 8-token overlap
    "chunk_docs" -> ((s, dir) =>
      Curation.chunkDocs(DocsIndex.documents(s, dir), 32, 8)
        .orderBy(col("doc_id"), col("chunk_id"))),
    // leakage-safe split: the key is the source repo, so clones stay on
    // one side; 90/10 by md5(source) bucket
    "split_by_repo" -> ((s, dir) =>
      Curation.groupSplit(DocsIndex.documents(s, dir), 90).orderBy("doc_id")),
    "seq_pack" -> ((s, dir) =>
      Curation.packSequences(s, DocsIndex.documents(s, dir), 128)
        .orderBy("seq_id", "doc_id")),
    // deterministic epoch shuffle: seeded md5 permutation into 4 shards
    // with dense per-shard positions — the reproducible training order
    "epoch_shuffle" -> ((s, dir) =>
      Curation.epochShuffle(DocsIndex.documents(s, dir), 7L, 4)
        .orderBy("shard", "pos")),
    // z-order layout clustering (the Delta OPTIMIZE ZORDER class):
    // per-file skipping stats of the Morton (source-rank, n_chars)
    // curve vs the naive id-order layout — narrow per-file n_chars
    // spans are the data-skipping win the curve buys
    "zorder_layout" -> ((s, dir) => {
      import graft.pipeline.Layout
      val docs = DocsIndex.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val n = docs.count()
      val naive = docs.select(col("doc_id"),
        expr(s"CAST(doc_id * 8 div $n AS BIGINT)").as("file"))
      Layout.fileStats(docs, Layout.zorder(docs, 8), "zorder")
        .union(Layout.fileStats(docs, naive, "docid"))
        .orderBy("layout", "file")
    }),
    // BPE vocabulary training (Sennrich ACL'16, word-frequency-table
    // form): one corpus shuffle, merges learned driver-side. The merge
    // loop is iterative — no SQL twin; the hand-computed Sennrich
    // fixture + parallelism-invariance gates live in BpeSpec
    "bpe_merges" -> ((s, dir) => bpeMerges(s, dir).orderBy("rank")),
    // per-doc token counts under the learned BPE vocab — the budget
    // number a training pipeline plans with (spec-gated like the
    // trainer; encode is deterministic given the merges)
    "bpe_tokens" -> ((s, dir) =>
      Bpe.tokenCounts(s, DocsIndex.documents(s, dir), bpeMerges(s, dir))
        .orderBy("doc_id")),
    // unigram-LM vocabulary (Kudo ACL'18, hard-EM / Viterbi variant):
    // the SECOND subword trainer next to BPE — iterative, no SQL twin;
    // DP-vs-exhaustive + monotonicity + order-invariance in UnigramSpec
    "unigram_vocab" -> ((s, dir) =>
      unigramVocab(s, dir).orderBy(col("cnt").desc, col("piece"))),
    // per-doc token counts under the unigram vocab (Viterbi segmenter,
    // broadcast piece table, one narrow pass) — spec-gated like the
    // trainer
    "unigram_tokens" -> ((s, dir) =>
      Unigram.tokenCounts(s, DocsIndex.documents(s, dir),
          unigramVocab(s, dir), maxPieceLen = 5)
        .orderBy("doc_id")),
    // DSIR importance resampling (Xie et al. NeurIPS 2023): hashed-
    // unigram importance weights of every raw doc under the src0-target
    // feature LM over the raw feature LM; keep = rounded weight > 0
    "dsir_sample" -> ((s, dir) =>
      Curation.dsirWeights(DocsIndex.documents(s, dir), "src0", 64, 0.0)
        .orderBy("doc_id")),
    // GloVe-style co-occurrence table: ordered in-doc pairs within a
    // 2-token window, corpus-wide counts, floor 5
    "cooc_pairs" -> ((s, dir) =>
      Curation.cooccurrence(s, DocsIndex.documents(s, dir), 2, 5L)
        .orderBy("term_a", "term_b")),
    // PPMI collocation scoring (Church & Hanks) over the same window-2
    // pair table: phrase-mining signal, marginals unfloored, output
    // pairs floored at 5 — same reporting set as cooc_pairs
    "ppmi_colloc" -> ((s, dir) =>
      Curation.ppmiCollocations(s, DocsIndex.documents(s, dir), 2, 5L)),
    // Dunning G² significance over the same pair table — the TEST
    // companion to PPMI's effect size (PMI overrates rare pairs)
    "colloc_llr" -> ((s, dir) =>
      Curation.llrCollocations(s, DocsIndex.documents(s, dir), 2, 5L)),

    // ── multimodal plumbing (decode stubbed; see Multimodal scaladoc) ──
    // container-header parse — the NON-stub half of image decode:
    // real PNG chunk layout, dimensions recovered by byte arithmetic
    // (substring+hex+conv, codegen) while the oracle recomputes the
    // planted ground truth from the source row
    "mm_dims" -> ((s, dir) =>
      Multimodal.parseContainerHeader(
          Multimodal.ingestPng(DocsIndex.documents(s, dir)))
        .orderBy("id")),
    // the audio sibling (X161): real RIFF/WAVE layout, LITTLE-endian
    // fields recovered by byte arithmetic; oracle recomputes the
    // planted acoustics from the source row
    "mm_wav_dims" -> ((s, dir) =>
      Multimodal.parseWavHeader(
          Multimodal.ingestWav(DocsIndex.documents(s, dir)))
        .orderBy("id")),
    "mm_features" -> ((s, dir) => {
      import s.implicits._
      Multimodal.extractFeatures(
        Multimodal.ingest(DocsIndex.documents(s, dir)))
        .select(col("id").as("doc_id"), col("nBytes").cast("long").as("n_bytes"),
          col("sha256").as("sha"))
        .orderBy("doc_id")
    }),
    // REAL pixel decode (X178): zlib-compressed IDAT inflated with
    // java.util.zip.Inflater, scanline filter bytes stripped+verified;
    // the twin recomputes dims from octet_length and hashes the SOURCE
    // text — a hash match proves container→inflate→defilter bit-exact
    "mm_png_pixels" -> ((s, dir) =>
      Multimodal.decodePngPixels(
          Multimodal.ingestPngZlib(DocsIndex.documents(s, dir)))
        .orderBy("id")),
    // REAL PCM sample decode (X179): the data chunk as 16-bit LE
    // signed samples, exact Long stats; twin recomputes the same
    // stats from the source text's bytes (ASCII corpus ⇒ ord == byte)
    "mm_wav_pcm" -> ((s, dir) =>
      Multimodal.wavPcmStats(
          Multimodal.ingestWav(DocsIndex.documents(s, dir)))
        .orderBy("id")),

    // ── SQL surface: registered tokenizer UDF + explode = UDTF shape ──
    "ft_sql_udtf" -> ((s, dir) => {
      graft.api.SqlSurface.register(s)
      DocsIndex.documents(s, dir).createOrReplaceTempView("graft_documents")
      s.sql("""SELECT doc_id, tok AS term, count(*) AS tf
               FROM graft_documents
               LATERAL VIEW explode(graft_tokenize(text)) t AS tok
               GROUP BY doc_id, tok ORDER BY doc_id, term""")
    }),

    // ── relational sweep over the TPC-H-ish tables (SURVEY §2.5) ──
    "q1_agg" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"),
          round(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")),
    "q_join_rev" -> ((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val customer = s.read.parquet(s"$dir/customer.parquet")
      val nation = s.read.parquet(s"$dir/nation.parquet")
      orders.join(customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("revenue"))
        .orderBy("n_name")
    }),
    "q_window_top3" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      s.read.parquet(s"$dir/orders.parquet")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
        .orderBy("o_custkey", "rn")
    }),
    "q_topk_orders" -> ((s, dir) =>
      s.read.parquet(s"$dir/orders.parquet")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))),
    "q_semi_join" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey")).orderBy("c_custkey")
    }),
    "q_anti_join" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey")).orderBy("c_custkey")
    }),
    "q_setop" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      o.filter(col("o_orderstatus") === "P").select(col("o_custkey")).distinct()
        .except(o.filter(col("o_orderstatus") === "F").select(col("o_custkey")).distinct())
        .orderBy("o_custkey")
    }),
    // cube (the rollup sibling: ALL grouping-set combinations)
    "q_cube" -> ((s, dir) =>
      s.read.parquet(s"$dir/orders.parquet")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("sum_price"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("pri"),
          col("cnt"), col("sum_price"))
        .orderBy("st", "pri")),
    // pivot/crosstab: daily event counts widened to one column per type
    "q_pivot" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("day")),
    "q_rollup" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("cnt"), col("sum_qty"))
        .orderBy("rf", "ls")),
    // exact percentiles (sort-based Spark `percentile`, the linear-
    // interpolation definition DuckDB's quantile_cont shares); the
    // sketch rung — approx_percentile (Greenwald-Khanna) — is gated
    // against this exact path in SketchSpec, the ann_lsh posture for
    // approximate operators
    "q_percentile" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"))
        .agg(round(expr("percentile(l_extendedprice, 0.5)"), 6).as("p50"),
          round(expr("percentile(l_extendedprice, 0.95)"), 6).as("p95"),
          round(expr("percentile(l_extendedprice, 0.99)"), 6).as("p99"))
        .orderBy("l_returnflag")),
    "q_window_frame" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"),
          round(sum(col("o_totalprice")).over(w), 2).as("run_rev"))
        .orderBy("o_orderkey")
    }),
    "q_intersect" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      o.filter(col("o_orderstatus") === "P").select(col("o_custkey")).distinct()
        .intersect(o.filter(col("o_orderstatus") === "O").select(col("o_custkey")).distinct())
        .orderBy("o_custkey")
    }),
    "q_events_daily" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 4).as("sum_value"))
        .orderBy("day", "event_type")),
    "q_events_json" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(avg("k"), 6).as("avg_k"))
        .orderBy("event_type")),
    // auto date histogram (ES auto_date_histogram): bucket by the
    // smallest minute/hour/day/week rung whose span-bucket count fits
    // the target (40) — interval chosen from ONE min/max agg
    "q_events_auto" -> ((s, dir) =>
      graft.pipeline.Events.autoDateHistogram(
        s.read.parquet(s"$dir/events.parquet"), 40)),
    // gap-filled daily histogram (ES date_histogram min_doc_count=0 +
    // extended_bounds 2023-12-29..2024-02-02): every day in the widened
    // span reported, empty edge days zero-filled
    "q_events_gapfill" -> ((s, dir) =>
      graft.pipeline.Events.gapFilledDaily(
        s.read.parquet(s"$dir/events.parquet"), Some(19720L), Some(19755L))),
    // serial differencing (X183 — ES derivative + serial_diff pipeline
    // aggs): day-over-day and lag-7 seasonal differences over the
    // dense daily spine (calendar lags, first lag-k days NULL)
    "q_events_serial_diff" -> ((s, dir) =>
      graft.pipeline.Events.serialDiff(
        s.read.parquet(s"$dir/events.parquet"), 7)),
    // absence detection (CEP "A not followed by B": clicks with no
    // purchase by the same user within 6h — the abandonment signal);
    // one user-keyed RANGE-frame window, no self-join
    "q_events_absence" -> ((s, dir) =>
      graft.pipeline.Events.absence(
        s.read.parquet(s"$dir/events.parquet"), "click", "purchase", 21600L)),
    // sample-based approximate aggregation (BlinkDB, EuroSys'13): mean
    // n_chars per lang from the deterministic 20% md5-bucket sample
    // WITH its 95% CI, exact mean alongside — the 1%-scan-instead-of-
    // full-corpus posture with a quantified accuracy contract
    "aqp_mean" -> ((s, dir) =>
      graft.pipeline.Aqp.sampledMean(DocsIndex.documents(s, dir), 200000)),
    // KMV/theta distinct-count sketch (Beyer et al. SIGMOD'07): per
    // event_type exact distinct users AND the k=64 sketch estimate —
    // md5-portable, so even the estimates are byte-equal cross-engine —
    // plus the merged ALL union sketch
    "kmv_users" -> ((s, dir) =>
      graft.pipeline.Kmv.distinctEstimates(
        s.read.parquet(s"$dir/events.parquet")
          .select(col("event_type"), col("user_id")), 64)),
    // daily-count anomaly flags (2σ control chart over the trailing 7
    // days, self-excluded) — the σ test is exact-Long cross-multiplied,
    // no float path at all
    "q_events_anomaly" -> ((s, dir) =>
      graft.pipeline.Events.dailyAnomaly(
        s.read.parquet(s"$dir/events.parquet"), 7)),
    // cumulative cardinality (ES cumulative_cardinality pipeline agg):
    // per day, distinct users + first-time users + EXACT cumulative
    // distinct users to date via the first-seen decomposition
    "q_events_cumcard" -> ((s, dir) =>
      graft.pipeline.Events.cumulativeCardinality(
        s.read.parquet(s"$dir/events.parquet"))),
    // first-order Markov transition matrix over per-user sequences
    // (path analysis): (src, dst) counts + per-source probabilities
    "q_events_markov" -> ((s, dir) =>
      graft.pipeline.Events.transitionMatrix(
        s.read.parquet(s"$dir/events.parquet"))),
    // rolling 7-day distinct actives (WAU) — exact sliding
    // window-distinct via bounded presence-row expansion
    "q_events_actives" -> ((s, dir) =>
      graft.pipeline.Events.rollingActiveUsers(
        s.read.parquet(s"$dir/events.parquet"), 7)),
    // top length-3 adjacent paths (user-flow Sankey view, one step
    // deeper than the transition matrix)
    "q_events_paths3" -> ((s, dir) =>
      graft.pipeline.Events.topPaths3(
        s.read.parquet(s"$dir/events.parquet"), 20)),
    // Efraimidis-Spirakis weighted sampling without replacement:
    // top-50 by u^(1/n_chars) under the md5-portable draw
    "wrs_sample" -> ((s, dir) =>
      Curation.weightedSample(DocsIndex.documents(s, dir), 50, "wrs")),
    // 2-D skyline (Pareto frontier): parts maximizing size while
    // minimizing price — two-phase partition-local sweep + final sweep
    "q_skyline" -> ((s, dir) =>
      graft.pipeline.Skyline.skyline(
          s.read.parquet(s"$dir/part.parquet"),
          "p_partkey", "p_size", "p_retailprice")
        .orderBy("p_partkey")),
    // rendezvous shard routing (Thaler & Ravishankar): md5-portable
    // highest-random-weight doc→shard assignment, 8 shards, zero
    // shuffles; the minimal-disruption law is gated in RoutingSpec
    "shard_route" -> ((s, dir) =>
      graft.pipeline.Routing.rendezvousRoute(
          s, DocsIndex.documents(s, dir), 8)
        .orderBy("doc_id")),
    // three-criteria skyline (SFS — sort-filter-skyline): maximize
    // size, minimize price AND name length; output-sensitive frontier
    // scan where the 2-D running-minimum sweep no longer applies
    "q_skyline3" -> ((s, dir) =>
      graft.pipeline.Skyline.skyline3(
          s.read.parquet(s"$dir/part.parquet")
            .withColumn("name_len", length(col("p_name")).cast("long")),
          "p_partkey", "p_size", "p_retailprice", "name_len")
        .orderBy("p_partkey")),
    // UNPIVOT (melt) — the inverse of q_pivot: wide per-flag totals to
    // long (flag, metric, value) rows via the native unpivot operator
    "q_unpivot" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_price")), "metric", "value")
        .orderBy("l_returnflag", "metric")),
    // cohort retention triangle: users cohorted by first-activity day,
    // returning share per day-offset 1..7
    "q_retention" -> ((s, dir) =>
      graft.pipeline.Events.retention(
        s.read.parquet(s"$dir/events.parquet"), 7)),
    // ordered funnel (view -> click -> purchase, each step within 6h of
    // the previous): per step, users reaching it + conversion pct
    "q_funnel" -> ((s, dir) =>
      graft.pipeline.Events.funnel(s.read.parquet(s"$dir/events.parquet"),
        Seq("view", "click", "purchase"), 21600L)),
    // sessionization (session_window batch form): per-user sessions cut
    // at >6h inactivity gaps, rolled up to session stats
    "q_sessions" -> ((s, dir) =>
      graft.pipeline.Events.sessionize(
        s.read.parquet(s"$dir/events.parquet"), 21600L)),
    // as-of join (merge_asof / DuckDB ASOF JOIN / kdb aj): each purchase
    // event joined to the user's most recent STRICTLY-prior click — the
    // one-shuffle union+window form, no pair expansion
    "q_asof" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      def side(t: String) = ev.filter(col("event_type") === t)
        .select(col("user_id").as("key"), col("ts"), col("event_id").as("id"))
      graft.pipeline.AsOf.asOfPrior(side("purchase"), side("click"))
        .select(col("id").as("event_id"), col("key").as("user_id"),
          col("prior_id").as("prior_event_id"), col("gap_us"))
        .orderBy("event_id")
    }),
    // the FORWARD as-of (X164): each purchase's NEXT click strictly
    // after it — merge_asof direction='forward'
    "q_asof_next" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      def side(t: String) = ev.filter(col("event_type") === t)
        .select(col("user_id").as("key"), col("ts"), col("event_id").as("id"))
      graft.pipeline.AsOf.asOfNext(side("purchase"), side("click"))
        .select(col("id").as("event_id"), col("key").as("user_id"),
          col("next_id").as("next_event_id"), col("gap_us"))
        .orderBy("event_id")
    }),
    // the streaming windowed-agg operator on a bounded frame (watermark
    // is a no-op in batch) — its unbounded behavior (late-event drop,
    // state finalization) is covered in StreamingSpec
    "q_events_hourly" -> ((s, dir) =>
      graft.streaming.StreamStats.windowedCounts(
        s.read.parquet(s"$dir/events.parquet"), "1 hour", "1 hour")
        .orderBy("win_start", "event_type")),

    // pairwise association rules (Apriori level 2): support ≥ 3 rules
    // over orders-as-baskets with confidence and lift. CAP CONTRACT:
    // the engine drops (and COUNTS, via the `dropped` accumulator)
    // baskets over maxGroup=10k items; the DuckDB twin enumerates
    // uncapped, so the oracle is valid iff the count is 0 — TPC-H
    // baskets are ≤7 lines, asserted in MarketBasketSpec.
    "assoc_rules" -> ((s, dir) =>
      graft.pipeline.MarketBasket.rules(s, dir, minSupport = 3L)),

    // distributed ridge regression (normal equations from ONE exact-
    // integer sufficient-statistics pass; pinned Cramer solve): per-doc
    // token-count prediction + residual
    "ols_fit" -> ((s, dir) =>
      graft.pipeline.Regression.fitPredict(DocsIndex.documents(s, dir))),

    // band (interval-range) join: ALL same-user (purchase, click)
    // pairs with the click ≤1h before the purchase — bucketed form
    // (user, epoch-bucket) with 2× replication, skew-safe
    "q_band_join" -> ((s, dir) =>
      graft.pipeline.Events.bandJoin(
        s.read.parquet(s"$dir/events.parquet"), "purchase", "click", 3600L)),

    // ── iterative graph analytics (pipeline/Graph.scala) ──
    // PageRank (5 damped iterations, GraphX unnormalized convention)
    // over the customer↔supplier bipartite graph
    "graph_pagerank" -> ((s, dir) =>
      graft.pipeline.Graph.pageRank(
          graft.pipeline.Graph.customerSupplierEdges(s, dir), iters = 5)
        .select(col("node").cast("long").as("node"), col("pr"))
        .orderBy("node")),
    // BFS minimum hop distance from customer #1, 3 expansion rounds
    "graph_bfs" -> ((s, dir) =>
      graft.pipeline.Graph.bfs(
          graft.pipeline.Graph.customerSupplierEdges(s, dir),
          source = 2L, maxHops = 3)
        .select(col("node").cast("long").as("node"), col("dist"))
        .orderBy("node")),
    // weighted SSSP (bounded Bellman-Ford, 3 relaxation rounds) from
    // customer #1 over link-strength-weighted edges — exact Long costs
    "graph_sssp" -> ((s, dir) =>
      graft.pipeline.Graph.sssp(
          graft.pipeline.Graph.customerSupplierWeightedEdges(s, dir),
          source = 2L, maxEdges = 3)
        .orderBy("node")),
    // per-part triangle counts over the repeated-co-purchase graph
    // (degree-ordered wedge join — Suri & Vassilvitskii WWW'11)
    "graph_triangles" -> ((s, dir) =>
      graft.pipeline.Graph.triangleCounts(
          graft.pipeline.Graph.partCopurchaseEdges(s, dir))
        .select(col("node").cast("long").as("node"), col("triangles"))
        .orderBy("node")),
    // GROUPING SETS — the non-cube subtotal lattice (flag×status,
    // flag-only, grand total) in one pass
    "q_grouping_sets" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq.empty[org.apache.spark.sql.Column]),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("cnt"), col("sum_qty"))
        .orderBy("rf", "ls")),

    // ── round-4 additions ──────────────────────────────────────────
    // index-time sorting (X165): early-terminated top-k by the index
    // sort (n_chars desc) over the signal-sorted second index
    "ft_sorted_index" -> ((s, dir) =>
      DocsIndex.sortedIndexRankedHits(s, dir, "AND", "fast AND merge", 20)),
    // TermRangeQuery (X166): the dictionary interval [si, sz] expands
    // (contiguous term-sorted range scan) into the ordinary OR walk
    "ft_term_range" -> ((s, dir) =>
      DocsIndex.termRangeRankedHits(s, dir, "si", "sz", 20)),
    // bucket_script + bucket_selector pipeline aggs (X170): per-lang
    // avg_len metric, buckets with >= 3 matching docs kept
    "ft_bucket_script" -> ((s, dir) =>
      DocsIndex.langBucketScript(s, dir, "FREE", "fast merge sort", 3L)),
    // top_metrics agg (X171): per-lang metrics of the top doc by
    // (docLen desc, doc_id) — value-at-top-of-sort, not top_hits score
    "ft_top_metrics" -> ((s, dir) =>
      DocsIndex.topMetricsByLang(s, dir, "FREE", "fast merge sort")),
    // date_range agg (X167): named half-open day ranges, count + exact
    // cents value sum per range, empties reported
    "q_events_daterange" -> ((s, dir) =>
      graft.pipeline.Events.dateRangeAgg(
        s.read.parquet(s"$dir/events.parquet"),
        Seq(("early", None, Some(19733L)), ("late", Some(19743L), None),
          ("mid", Some(19733L), Some(19743L))))),
    // rate agg (X168): per (month, type) events-per-day rate, exact
    // calendar day count
    "q_events_rate" -> ((s, dir) =>
      graft.pipeline.Events.rateAgg(
        s.read.parquet(s"$dir/events.parquet"))),
    // change_point agg, exact step form (X169): the largest
    // day-over-day jump in the daily count series
    "q_events_changepoint" -> ((s, dir) =>
      graft.pipeline.Events.changePoint(
        s.read.parquet(s"$dir/events.parquet"))),
    // TPC-H Q3 (shipping priority, adapted to the testdata columns):
    // urgent BUILDING-segment revenue — 3-way join with date range
    // predicates on both fact sides; revenue in EXACT cents (one Long
    // sum, order-independent) divided once at the end
    "q3_shipping" -> ((s, dir) => {
      val cents = floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        * lit(100.0) + lit(0.5)).cast("long")
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val ord = s.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_orderpriority"))
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
        .select(col("l_orderkey"), cents.as("cents"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("o_orderpriority"))
        .agg((sum(col("cents")) / lit(100.0)).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),
    // TPC-H Q5 (local supplier volume): the 6-table join with the
    // same-nation customer/supplier predicate, ASIA + 2-year window
    "q5_region_volume" -> ((s, dir) => {
      val cents = floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        * lit(100.0) + lit(0.5)).cast("long")
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_suppkey"), cents.as("cents"))
      val ord = s.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_nationkey"))
      val supp = s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey"), col("s_nationkey"))
      val nat = s.read.parquet(s"$dir/nation.parquet")
      val reg = s.read.parquet(s"$dir/region.parquet")
        .filter(col("r_name") === "ASIA")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg((sum(col("cents")) / lit(100.0)).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name").asc)
    }),
    // TPC-H Q18 (large-volume customers — X180): the suite's skew-
    // shape probe. The l_orderkey aggregation is the largest-key-count
    // groupBy in the relational sweep and the HAVING keeps only heavy
    // baskets; the heavy set then drives an orders semi-join. AQE is
    // on in the harness: its skew handling would SPLIT an oversized
    // post-shuffle partition at runtime, and with TPC-H's uniform
    // basket sizes its observed action is partition COALESCING (no
    // genuine skew to split) — the shape is what a skewed corpus would
    // exercise. basket sums are integer-valued doubles ≤ a few
    // hundred, exact under any order ⇒ the strict > threshold and the
    // BIGINT cast are engine-portable. Deterministic total order:
    // (o_totalprice desc, o_orderdate, o_orderkey) — o_orderkey is
    // unique per row.
    "q18_top_customers" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_quantity"))
      val heavy = li.groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("basket_qty"))
        .filter(col("basket_qty") > lit(250.0))
      val ord = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_totalprice"))
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_name"))
      ord.join(heavy, col("o_orderkey") === col("l_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("o_totalprice"),
          col("basket_qty").cast("long").as("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderdate").asc,
          col("o_orderkey").asc)
        .limit(100)
    }),
    // Apriori level-3 rules (X173): {x,y} -> z over orders-as-baskets,
    // support >= 2, confidence vs the pair, lift vs the consequent.
    // Same basket-cap contract as assoc_rules: over-cap baskets are
    // counted, twin is uncapped, valid iff the count stays 0.
    "assoc_triples" -> ((s, dir) =>
      graft.pipeline.MarketBasket.tripleRules(s, dir, 2L)),
    // k-core membership (X174): synchronous peel to the unique
    // fixpoint over the co-purchase graph; the twin unrolls the same
    // bounded number of idempotent rounds
    "graph_kcore" -> ((s, dir) =>
      graft.pipeline.Graph.kcore(
        graft.pipeline.Graph.partCopurchaseEdges(s, dir)
          .select(col("a"), col("b")), 3, maxRounds = 24)),
    // WordPiece apply (X175): greedy longest-match piece counts under
    // the deterministic corpus-derived vocab — rows-only (iterative
    // longest-match has no SQL form; golden-gated in WordPieceSpec)
    "wordpiece_tokens" -> ((s, dir) =>
      graft.pipeline.WordPiece.pieceCounts(DocsIndex.documents(s, dir), 30)),
    // remaining rank-window built-ins as a named row (ntile /
    // percent_rank / cume_dist — exact rational outputs)
    "q_window_ntile" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"),
          ntile(4).over(w).as("quartile"),
          (floor(percent_rank().over(w) * lit(1e6) + lit(0.5)) / lit(1e6))
            .as("pct_rank"),
          (floor(cume_dist().over(w) * lit(1e6) + lit(0.5)) / lit(1e6))
            .as("cume"))
        .filter(col("quartile") === 1)
        .orderBy("o_orderstatus", "o_orderkey")
    }))

  // ─────────────────────────── oracle SQL ─────────────────────────────
  def oracleSql: Map[String, String] = Map(
    "ft_dict" ->
      s"""$tokCtes
         |SELECT (row_number() OVER (ORDER BY term) - 1)::BIGINT AS term_id,
         |       term, df, cf
         |FROM df ORDER BY term""".stripMargin,
    "ft_doclen" ->
      s"""$tokCtes
         |SELECT doc_id, dl FROM alldl ORDER BY doc_id""".stripMargin,
    "ft_stats" ->
      s"""$tokCtes
         |SELECT (SELECT n FROM stats) AS num_docs,
         |       (SELECT count(*)::BIGINT FROM df) AS num_terms,
         |       (SELECT count(*)::BIGINT FROM tf) AS num_postings,
         |       (SELECT round(avgdl, 6) FROM stats) AS avgdl""".stripMargin,
    "ft_topterms" ->
      s"""$tokCtes
         |SELECT term, df, cf FROM df ORDER BY cf DESC, term LIMIT 15""".stripMargin,
    // Zipf twin: same top-30, same ln/least-squares trees
    "ft_zipf" ->
      s"""$tokCtes, top AS (
         |  SELECT cf, row_number() OVER (ORDER BY cf DESC, term) AS rank
         |  FROM df ORDER BY cf DESC, term LIMIT 30
         |), xy AS (
         |  SELECT ln(rank::DOUBLE) AS x, ln(cf::DOUBLE) AS y FROM top
         |), s AS (
         |  SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
         |         sum(x * y) AS sxy, sum(x * x) AS sxx
         |  FROM xy
         |)
         |SELECT n::BIGINT AS n_terms,
         |       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
         |       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
         |             / n, 6) AS intercept
         |FROM s""".stripMargin,
    "ft_postings" ->
      s"""$tokCtes
         |SELECT doc_id, term, tf FROM tf ORDER BY doc_id, term""".stripMargin,
    "ft_sha256" ->
      "SELECT doc_id, sha256(text) AS sha FROM documents ORDER BY doc_id",
    "ft_bm25_topk" -> bm25Sql(Seq("fast", "merge", "sort", "table"), conjunctive = false, 20),
    // MaxScore shares WAND's oracle — rank identity across strategies
    // is exactly the claim
    "ft_bm25_maxscore" -> bm25Sql(Seq("fast", "merge", "sort", "table"), conjunctive = false, 20),
    // BM25F twin: weighted-field token stream (text w=1 ∪ source w=3),
    // tf̃/dl̃ as exact Long sums, then the standard BM25 expression —
    // textually the same IEEE tree as bm25Sql on the merged stream
    "ft_bm25f" ->
      """WITH ftok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
        |         1::BIGINT AS w
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, unnest(string_split(source, ' ')) AS term,
        |         3::BIGINT AS w
        |  FROM documents
        |), ftok2 AS (
        |  SELECT * FROM ftok WHERE length(term) >= 2
        |), tf AS (
        |  SELECT doc_id, term, sum(w)::BIGINT AS tf FROM ftok2 GROUP BY 1, 2
        |), dl AS (
        |  SELECT doc_id, sum(w)::BIGINT AS dl FROM ftok2 GROUP BY 1
        |), alldl AS (
        |  SELECT d.doc_id, coalesce(dl.dl, 0)::BIGINT AS dl
        |  FROM documents d LEFT JOIN dl ON d.doc_id = dl.doc_id
        |), stats AS (
        |  SELECT count(*)::BIGINT AS n, sum(dl) * 1.0 / count(*) AS avgdl
        |  FROM alldl
        |), df AS (
        |  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1
        |), sc AS (
        |  SELECT tf.doc_id,
        |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
        |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
        |  FROM tf
        |  JOIN df USING (term)
        |  JOIN alldl USING (doc_id)
        |  CROSS JOIN stats
        |  WHERE tf.term IN ('fast', 'merge', 'src0')
        |  GROUP BY tf.doc_id
        |)
        |SELECT doc_id, floor(score * 1e6 + 0.5) / 1e6 AS score,
        |       row_number() OVER (ORDER BY floor(score * 1e6 + 0.5) DESC, doc_id) AS rank
        |FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // BM25+ twin: the standard BM25 CTEs with the (sat + δ) lift,
    // δ=1 — same IEEE tree, same floor(x·1e6+0.5) boundary
    "ft_bm25plus" ->
      s"""$tokCtes, sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) *
         |             (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
         |              + 1.0)) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE tf.term IN ('fast', 'merge', 'sort')
         |  GROUP BY tf.doc_id
         |)
         |SELECT doc_id, floor(score * 1e6 + 0.5) / 1e6 AS score,
         |       row_number() OVER (ORDER BY floor(score * 1e6 + 0.5) DESC, doc_id) AS rank
         |FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // rendezvous-routing twin: per-(doc, shard) md5 weights from the
    // identical hex, argmax by (weight desc, shard) per doc
    "shard_route" ->
      """WITH w AS (
        |  SELECT doc_id, s AS shard,
        |         ('0x' || substr(md5(doc_id::VARCHAR || '#' || s::VARCHAR),
        |                         1, 15))::BIGINT AS weight
        |  FROM documents, unnest(range(0, 8)) t(s)
        |), best AS (
        |  SELECT doc_id, shard, weight,
        |         row_number() OVER (PARTITION BY doc_id
        |                            ORDER BY weight DESC, shard) AS rn
        |  FROM w
        |)
        |SELECT doc_id, shard::INTEGER AS shard, weight
        |FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "ft_bm25_and" -> bm25Sql(Seq("key", "value", "hash"), conjunctive = true, 20),
    "ft_bm25_or" -> bm25Sql(Seq("scan", "window", "batch"), conjunctive = false, 20),
    // MMR twin: the greedy unrolled as 5 chained argmax stages
    "ft_mmr" -> mmrSql(Seq("fast", "merge", "sort", "table"), 20, 5, 0.75),
    // hard-negative twin: per-seed MLT subqueries + copy exclusion
    "mine_negatives" -> mineNegSql(Seq(7L, 42L, 100L), 5, 10),
    // PRF twin: feedback set by rounded rank, expansion by EXACT
    // Σtf·idf products (integer cf × one ln — order-independent),
    // boosted re-query with the ft_boosted CASE shape
    "ft_prf" ->
      s"""$tokCtes, sc0 AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE tf.term IN ('dup', 'scan')
         |  GROUP BY tf.doc_id
         |), fb AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id,
         |           row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rnk
         |    FROM sc0)
         |  WHERE rnk <= 5
         |), cf AS (
         |  SELECT term, sum(tf)::BIGINT AS cfv FROM tf
         |  WHERE doc_id IN (SELECT doc_id FROM fb)
         |    AND term NOT IN ('dup', 'scan')
         |  GROUP BY term
         |), sel AS (
         |  SELECT term FROM (
         |    SELECT cf.term,
         |           floor(cfv * ln(1.0 + (n - df + 0.5) / (df + 0.5)) * 1e6 + 0.5)
         |             / 1e6 AS w
         |    FROM cf JOIN df USING (term) CROSS JOIN stats)
         |  ORDER BY w DESC, term LIMIT 3
         |), sc AS (
         |  SELECT tf.doc_id,
         |         sum((CASE WHEN tf.term IN ('dup', 'scan') THEN 1.0
         |              ELSE 0.5 END)
         |             * ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE tf.term IN ('dup', 'scan')
         |     OR tf.term IN (SELECT term FROM sel)
         |  GROUP BY tf.doc_id
         |)
         |SELECT doc_id, round(score, 6) AS score,
         |       row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
         |FROM sc ORDER BY score DESC, doc_id LIMIT 15""".stripMargin,
    // rank-eval twin: per-query bm25 ranking + containment qrels + metrics
    "ft_rankeval" -> rankEvalSql(Seq(
      1L -> Seq("fast", "merge", "sort"), 2L -> Seq("dup", "merge", "sort"),
      3L -> Seq("dup", "key", "value"), 4L -> Seq("dup", "scan"),
      5L -> Seq("zzz", "merge")), 10),
    // relaxation twin: the ladder deterministically lands on
    // (fast AND merge) for this corpus — scoring THAT rung; if the
    // engine relaxed differently the hashes would disagree
    "ft_relax" -> bm25Sql(Seq("fast", "merge"), conjunctive = true, 10),
    // msearch twin: each batched query is its own bm25 subquery (the
    // exact per-query oracle), tagged with its qid and unioned
    "ft_msearch" ->
      s"""SELECT qid, doc_id, score, rank FROM (
         |  SELECT CAST(1 AS BIGINT) AS qid, * FROM (
         |${bm25Sql(Seq("fast", "merge", "sort"), conjunctive = false, 10)})
         |  UNION ALL
         |  SELECT CAST(2 AS BIGINT) AS qid, * FROM (
         |${bm25Sql(Seq("key", "value", "hash"), conjunctive = true, 10)})
         |  UNION ALL
         |  SELECT CAST(3 AS BIGINT) AS qid, * FROM (
         |${bm25Sql(Seq("stream", "table"), conjunctive = false, 10)})
         |) ORDER BY qid, rank""".stripMargin,
    "ft_phrase" -> phraseSql(Seq("part", "filter"), 20),
    "ft_phrase3" -> phraseSql(Seq("big", "order", "scan"), 10),
    "ft_near" -> nearSql("merge", "sort", 3, 20),
    // ordered variant: b strictly AFTER a, within the window
    "ft_onear" ->
      s"""$tokCtes, w2 AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
         |), rawtok AS (
         |  SELECT doc_id, ws[p] AS term, p FROM w2, unnest(range(1, len(ws) + 1)) t(p)
         |), tokp AS (
         |  SELECT doc_id, term, row_number() OVER (PARTITION BY doc_id ORDER BY p) AS pos
         |  FROM rawtok WHERE length(term) >= 2
         |), oDocs AS (
         |  SELECT DISTINCT a.doc_id FROM tokp a
         |  JOIN tokp b ON b.doc_id = a.doc_id
         |    AND b.pos > a.pos AND b.pos - a.pos <= 4
         |  WHERE a.term = 'merge' AND b.term = 'sort'
         |), sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE tf.term IN ('merge', 'sort')
         |    AND tf.doc_id IN (SELECT doc_id FROM oDocs)
         |  GROUP BY tf.doc_id
         |)
         |SELECT doc_id, round(score, 6) AS score,
         |       row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
         |FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "ft_prefix" -> prefixSql("s", 20),
    // fuzzy twin: DuckDB's levenshtein IS the engine's pinned edit
    // metric (the ft_suggest pairing), OR-scored over the expansion
    "ft_fuzzy" ->
      s"""$tokCtes, sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE levenshtein(tf.term, 'sow') <= 1
         |  GROUP BY tf.doc_id
         |)
         |SELECT doc_id, round(score, 6) AS score,
         |       row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
         |FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // stemmed retrieval: the S-stemmer (Harman 1991) as ONE SQL CASE —
    // the exact same rules graft.search.Stem.sStem applies, so the twin
    // selects the identical expansion, OR-scored with each term's stats
    "ft_stem" ->
      s"""$tokCtes, sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE ${sStemSql("tf.term")} = ${sStemSql("'queries'")}
         |  GROUP BY tf.doc_id
         |)
         |SELECT doc_id, round(score, 6) AS score,
         |       row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
         |FROM sc ORDER BY score DESC, doc_id LIMIT 15""".stripMargin,
    "ft_regex" ->
      s"""$tokCtes, sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE regexp_full_match(tf.term, '(fast|slow|merge)')
         |  GROUP BY tf.doc_id
         |)
         |SELECT doc_id, round(score, 6) AS score,
         |       row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
         |FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // wildcard twin: the glob as a LIKE pattern (`?`→`_`, `*`→`%`) —
    // BM25 OR over the expansion, the ft_regex shape
    "ft_wildcard" ->
      s"""$tokCtes, sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE tf.term LIKE 's_a%'
         |  GROUP BY tf.doc_id
         |)
         |SELECT doc_id, round(score, 6) AS score,
         |       row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
         |FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // minimum_should_match twin: BM25 over matched terms, HAVING the
    // distinct-match count meet the threshold (tf is one row per
    // (doc, term), so count(*) IS the distinct clause count)
    "ft_msm" ->
      s"""$tokCtes, sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE tf.term IN ('fast', 'merge', 'sort', 'table')
         |  GROUP BY tf.doc_id
         |  HAVING count(*) >= 2
         |)
         |SELECT doc_id, round(score, 6) AS score,
         |       row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
         |FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // phrase-prefix twin: variants derived IN SQL (df terms LIKE the
    // prefix), phrase presence via consecutive positions, scored over
    // every present expression term (the BOOL contract)
    "ft_phrase_prefix" ->
      s"""$tokCtes, w2 AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
         |), rawtok AS (
         |  SELECT doc_id, ws[p] AS term, p FROM w2, unnest(range(1, len(ws) + 1)) t(p)
         |), tokp AS (
         |  SELECT doc_id, term, row_number() OVER (PARTITION BY doc_id ORDER BY p) AS pos
         |  FROM rawtok WHERE length(term) >= 2
         |), exp AS (
         |  SELECT term FROM df WHERE term LIKE 's%'
         |), phr AS (
         |  SELECT DISTINCT a0.doc_id FROM tokp a0
         |  JOIN tokp a1 ON a1.doc_id = a0.doc_id AND a1.pos = a0.pos + 1
         |  WHERE a0.term = 'fast' AND a1.term IN (SELECT term FROM exp)
         |), sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE (tf.term = 'fast' OR tf.term IN (SELECT term FROM exp))
         |    AND tf.doc_id IN (SELECT doc_id FROM phr)
         |  GROUP BY tf.doc_id
         |)
         |SELECT doc_id, round(score, 6) AS score,
         |       row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
         |FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // dis_max twin: per-(doc, term) BM25 contributions combined as
    // max + tie·(sum − max) instead of the plain sum
    "ft_dismax" ->
      s"""$tokCtes, sc AS (
         |  SELECT tf.doc_id,
         |         max(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) +
         |         0.3 * (sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |                    (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) -
         |                max(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |                    (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE tf.term IN ('fast', 'merge', 'sort', 'table')
         |  GROUP BY tf.doc_id
         |)
         |SELECT doc_id, round(score, 6) AS score,
         |       row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
         |FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // auto-correct twin: SELF-DERIVING — the correction is chosen in SQL
    // by the same per-token candidate rule + LM ranking as the phrase
    // suggester, then the corrected terms feed the ordinary BM25 CTEs
    "ft_autocorrect" ->
      s"""$tokCtes, tot AS (
         |  SELECT sum(cf) * 1.0 AS total, count(*) * 1.0 AS v FROM df
         |), c0 AS (
         |  SELECT term, cf FROM df WHERE levenshtein(term, 'past') <= 1
         |  ORDER BY df DESC, term LIMIT 3
         |), c1 AS (
         |  SELECT term, cf FROM df WHERE levenshtein(term, 'tabl') <= 1
         |  ORDER BY df DESC, term LIMIT 3
         |), best AS (
         |  SELECT c0.term AS t0, c1.term AS t1
         |  FROM c0 CROSS JOIN c1 CROSS JOIN tot
         |  ORDER BY floor((ln(0.9 * c0.cf / tot.total + 0.1 / tot.v)
         |                + ln(0.9 * c1.cf / tot.total + 0.1 / tot.v)) * 1e6 + 0.5)
         |             / 1e6 DESC,
         |           c0.term || ' ' || c1.term
         |  LIMIT 1
         |), qt AS (
         |  SELECT t0 AS term FROM best UNION SELECT t1 FROM best
         |), sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE tf.term IN (SELECT term FROM qt)
         |  GROUP BY tf.doc_id
         |)
         |SELECT doc_id, round(score, 6) AS score,
         |       row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
         |FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // field-sorted twin: the conjunctive match set ordered by dl desc
    "ft_sortby" ->
      s"""$tokCtes, m AS (
         |  SELECT doc_id FROM tf WHERE term IN ('fast', 'merge')
         |  GROUP BY doc_id HAVING count(*) = 2
         |)
         |SELECT m.doc_id, dl FROM m JOIN alldl USING (doc_id)
         |ORDER BY dl DESC, doc_id LIMIT 15""".stripMargin,
    // histogram twin: the FREE match set (any query term) joined to the
    // shared dl CTE, integer-divided into 10-token bins
    "ft_len_hist" ->
      s"""$tokCtes, m AS (
         |  SELECT DISTINCT doc_id FROM tf WHERE term IN ('fast', 'merge')
         |)
         |SELECT (dl // 10) * 10 AS bin, count(*)::BIGINT AS n_docs
         |FROM m JOIN alldl USING (doc_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // range-agg twin: same [lo, hi) predicates as correlated counts over
    // the match set's dl — every range reported, empties 0
    "ft_range_agg" ->
      s"""$tokCtes, m AS (
         |  SELECT DISTINCT doc_id FROM tf WHERE term IN ('fast', 'merge')
         |), j AS (
         |  SELECT dl FROM m JOIN alldl USING (doc_id)
         |)
         |SELECT r.range_key, r.lo, r.hi,
         |       (SELECT count(*) FROM j
         |        WHERE dl >= r.lo AND dl < r.hi)::BIGINT AS n_docs
         |FROM (VALUES ('short', 0::BIGINT, 30::BIGINT),
         |             ('mid', 30::BIGINT, 60::BIGINT),
         |             ('long', 60::BIGINT, 9223372036854775807::BIGINT))
         |  r(range_key, lo, hi)
         |ORDER BY lo, range_key""".stripMargin,
    // weighted-avg twin: exact integer sums, one floor-rounded division
    "ft_weighted_avg" ->
      s"""$tokCtes, m AS (
         |  SELECT DISTINCT doc_id FROM tf WHERE term IN ('fast', 'merge')
         |), agg AS (
         |  SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS w_sum,
         |         sum(n_chars * dl)::BIGINT AS vw_sum
         |  FROM m JOIN alldl USING (doc_id) JOIN documents USING (doc_id)
         |)
         |SELECT n_docs, w_sum,
         |       floor(vw_sum::DOUBLE / w_sum * 1e6 + 0.5) / 1e6 AS wavg
         |FROM agg""".stripMargin,
    // pipeline-agg twin: running sum + first difference over the
    // histogram buckets, first-bucket derivative NULL
    "ft_hist_pipeline" ->
      s"""$tokCtes, m AS (
         |  SELECT DISTINCT doc_id FROM tf WHERE term IN ('fast', 'merge')
         |), h AS (
         |  SELECT (dl // 10) * 10 AS bin, count(*)::BIGINT AS n_docs
         |  FROM m JOIN alldl USING (doc_id) GROUP BY 1
         |)
         |SELECT bin, n_docs,
         |       sum(n_docs) OVER (ORDER BY bin
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
         |         AS cum_docs,
         |       coalesce(n_docs - lag(n_docs) OVER (ORDER BY bin),
         |                0)::BIGINT AS deriv
         |FROM h ORDER BY bin""".stripMargin,
    // top-hits twin: per-lang row_number over the rounded BM25 scores
    "ft_tophits" ->
      s"""$tokCtes, sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE tf.term IN ('fast', 'merge', 'sort')
         |  GROUP BY tf.doc_id
         |), r AS (
         |  SELECT d.lang, sc.doc_id, round(sc.score, 6) AS score,
         |         row_number() OVER (PARTITION BY d.lang
         |           ORDER BY round(sc.score, 6) DESC, sc.doc_id) AS grank
         |  FROM sc JOIN documents d USING (doc_id))
         |SELECT lang, doc_id, score, grank FROM r
         |WHERE grank <= 3 ORDER BY lang, grank""".stripMargin,
    // LM-Dirichlet twin: p_t = cf/Σcf from the dictionary CTE, per-term
    // 0-clamp, docs dropped when every contribution clamps — byte-equal
    // under the Σ-of-ln 1e-15 regime inside the 6-dp round
    "ft_lmd" ->
      s"""$tokCtes, tot AS (SELECT sum(cf)::BIGINT AS total FROM df),
         |sc AS (
         |  SELECT tf.doc_id,
         |         sum(greatest(0.0,
         |             ln(1.0 + tf / (2000.0 * (df.cf / tot.total))) +
         |             ln(2000.0 / (dl + 2000.0)))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN tot
         |  WHERE tf.term IN ('fast', 'merge', 'sort', 'table')
         |  GROUP BY tf.doc_id
         |  HAVING sum(greatest(0.0,
         |             ln(1.0 + tf / (2000.0 * (df.cf / tot.total))) +
         |             ln(2000.0 / (dl + 2000.0)))) > 0.0
         |)
         |SELECT doc_id, round(score, 6) AS score,
         |       row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
         |FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // boosting twin: the decay CTE stack with the multiplier driven by
    // negative-query membership instead of a numeric field
    "ft_boosting" ->
      s"""$tokCtes, sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE tf.term IN ('fast', 'merge', 'sort')
         |  GROUP BY tf.doc_id
         |),
         |win AS (SELECT doc_id, round(score, 6) AS bm25 FROM (
         |  SELECT doc_id, score, row_number() OVER (
         |    ORDER BY round(score, 6) DESC, doc_id) AS rank FROM sc)
         |  WHERE rank <= 50),
         |neg AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'table'),
         |dec AS (
         |  SELECT doc_id, bm25,
         |         round(bm25 * CASE WHEN doc_id IN (SELECT doc_id FROM neg)
         |                           THEN 0.3 ELSE 1.0 END, 6) AS boosted
         |  FROM win)
         |SELECT doc_id, bm25, boosted,
         |       row_number() OVER (ORDER BY boosted DESC, doc_id) AS rank
         |FROM dec ORDER BY boosted DESC, doc_id LIMIT 15""".stripMargin,
    // span-first twin: 1-based first position ≤ 25 for EVERY term (the
    // engine's 0-based first < n), then the conjunctive BM25 CTEs
    "ft_spanfirst" ->
      bm25Sql(Seq("fast", "merge"), conjunctive = true, k = 20,
        exclude =
          """AND tf.doc_id IN (
            |  SELECT doc_id FROM (
            |    SELECT doc_id, term,
            |           row_number() OVER (PARTITION BY doc_id ORDER BY p) AS pos
            |    FROM (SELECT doc_id, ws[p] AS term, p
            |          FROM (SELECT doc_id, string_split(text, ' ') AS ws
            |                FROM documents) w2,
            |               unnest(range(1, len(ws) + 1)) t(p)) rawtok
            |    WHERE length(term) >= 2) tokp
            |  WHERE term IN ('fast', 'merge') AND pos <= 25
            |  GROUP BY doc_id HAVING count(DISTINCT term) = 2)""".stripMargin),
    // span-not twin: an include occurrence survives when NO exclude
    // position falls in its ±3 window; scoring = BM25 of the include
    // term only over the surviving docs
    "ft_span_not" ->
      s"""$tokCtes, w2 AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
         |), rawtok AS (
         |  SELECT doc_id, ws[p] AS term, p FROM w2, unnest(range(1, len(ws) + 1)) t(p)
         |), tokp AS (
         |  SELECT doc_id, term, row_number() OVER (PARTITION BY doc_id ORDER BY p) AS pos
         |  FROM rawtok WHERE length(term) >= 2
         |), okDocs AS (
         |  SELECT DISTINCT i.doc_id FROM tokp i
         |  WHERE i.term = 'merge' AND NOT EXISTS (
         |    SELECT 1 FROM tokp e
         |    WHERE e.doc_id = i.doc_id AND e.term = 'sort'
         |      AND e.pos BETWEEN i.pos - 3 AND i.pos + 3)
         |), sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE tf.term = 'merge'
         |    AND tf.doc_id IN (SELECT doc_id FROM okDocs)
         |  GROUP BY tf.doc_id
         |)
         |SELECT doc_id, round(score, 6) AS score,
         |       row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
         |FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // intervals twin: per start occurrence of 'merge' the GREEDY chain
    // end is the min 'sort' position after it (greedy is optimal for
    // both the gap budget and the containment window — the pinned
    // matching rule); gaps = e − s − 1 for two terms; the
    // not_containing filter is a NOT EXISTS over [s, e]; scoring = BM25
    // over the two ordered terms (the filter term never scores)
    "ft_intervals" ->
      s"""$tokCtes, w2 AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
         |), rawtok AS (
         |  SELECT doc_id, ws[p] AS term, p FROM w2, unnest(range(1, len(ws) + 1)) t(p)
         |), tokp AS (
         |  SELECT doc_id, term, row_number() OVER (PARTITION BY doc_id ORDER BY p) AS pos
         |  FROM rawtok WHERE length(term) >= 2
         |), spans AS (
         |  SELECT a.doc_id, a.pos AS s,
         |         (SELECT min(b.pos) FROM tokp b
         |          WHERE b.doc_id = a.doc_id AND b.term = 'sort'
         |            AND b.pos > a.pos) AS e
         |  FROM tokp a WHERE a.term = 'merge'
         |), okDocs AS (
         |  SELECT DISTINCT doc_id FROM spans
         |  WHERE e IS NOT NULL AND (e - s - 1) <= 4
         |    AND NOT EXISTS (SELECT 1 FROM tokp c
         |                    WHERE c.doc_id = spans.doc_id AND c.term = 'fast'
         |                      AND c.pos BETWEEN s AND e)
         |), sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE tf.term IN ('merge', 'sort')
         |    AND tf.doc_id IN (SELECT doc_id FROM okDocs)
         |  GROUP BY tf.doc_id
         |)
         |SELECT doc_id, round(score, 6) AS score,
         |       row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
         |FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // intervals containing twin: same greedy spans as ft_intervals,
    // EXISTS (instead of NOT EXISTS) a filter occurrence inside [s, e]
    "ft_intervals_within" ->
      s"""$tokCtes, w2 AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
         |), rawtok AS (
         |  SELECT doc_id, ws[p] AS term, p FROM w2, unnest(range(1, len(ws) + 1)) t(p)
         |), tokp AS (
         |  SELECT doc_id, term, row_number() OVER (PARTITION BY doc_id ORDER BY p) AS pos
         |  FROM rawtok WHERE length(term) >= 2
         |), spans AS (
         |  SELECT a.doc_id, a.pos AS s,
         |         (SELECT min(b.pos) FROM tokp b
         |          WHERE b.doc_id = a.doc_id AND b.term = 'sort'
         |            AND b.pos > a.pos) AS e
         |  FROM tokp a WHERE a.term = 'merge'
         |), okDocs AS (
         |  SELECT DISTINCT doc_id FROM spans
         |  WHERE e IS NOT NULL AND (e - s - 1) <= 4
         |    AND EXISTS (SELECT 1 FROM tokp c
         |                WHERE c.doc_id = spans.doc_id AND c.term = 'fast'
         |                  AND c.pos BETWEEN s AND e)
         |), sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE tf.term IN ('merge', 'sort')
         |    AND tf.doc_id IN (SELECT doc_id FROM okDocs)
         |  GROUP BY tf.doc_id
         |)
         |SELECT doc_id, round(score, 6) AS score,
         |       row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
         |FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // intervals any_of twin: starts = every occurrence of EITHER slot-0
    // alternative (the merged any_of position list); per start the
    // greedy chain end is the min 'merge' position after it; gap budget
    // and not_containing as in ft_intervals; scoring = BM25 over the
    // PRESENT alternative terms of each matching doc (the BOOL
    // contract — whichever variant matched, every present query term
    // scores; tf rows exist only for present terms so the IN-list
    // filter is exactly presence)
    "ft_intervals_any" ->
      s"""$tokCtes, w2 AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
         |), rawtok AS (
         |  SELECT doc_id, ws[p] AS term, p FROM w2, unnest(range(1, len(ws) + 1)) t(p)
         |), tokp AS (
         |  SELECT doc_id, term, row_number() OVER (PARTITION BY doc_id ORDER BY p) AS pos
         |  FROM rawtok WHERE length(term) >= 2
         |), spans AS (
         |  SELECT a.doc_id, a.pos AS s,
         |         (SELECT min(b.pos) FROM tokp b
         |          WHERE b.doc_id = a.doc_id AND b.term = 'merge'
         |            AND b.pos > a.pos) AS e
         |  FROM tokp a WHERE a.term IN ('fast', 'slow')
         |), okDocs AS (
         |  SELECT DISTINCT doc_id FROM spans
         |  WHERE e IS NOT NULL AND (e - s - 1) <= 4
         |    AND NOT EXISTS (SELECT 1 FROM tokp c
         |                    WHERE c.doc_id = spans.doc_id AND c.term = 'table'
         |                      AND c.pos BETWEEN s AND e)
         |), sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE tf.term IN ('fast', 'slow', 'merge')
         |    AND tf.doc_id IN (SELECT doc_id FROM okDocs)
         |  GROUP BY tf.doc_id
         |)
         |SELECT doc_id, round(score, 6) AS score,
         |       row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
         |FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // term-vectors twin: positions = row_number over the length-filtered
    // token stream of doc 7 (the engine's coordinate space), df/cf from
    // the corpus-wide dictionary CTE
    "ft_termvectors" ->
      s"""$tokCtes, w2 AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
         |  WHERE doc_id = 7
         |), rawtok AS (
         |  SELECT doc_id, ws[p] AS term, p FROM w2, unnest(range(1, len(ws) + 1)) t(p)
         |), tokp AS (
         |  SELECT doc_id, term, row_number() OVER (PARTITION BY doc_id ORDER BY p) AS pos
         |  FROM rawtok WHERE length(term) >= 2
         |), tv AS (
         |  SELECT term, count(*)::BIGINT AS tf FROM tokp GROUP BY 1
         |)
         |SELECT tokp.term, tv.tf, df.df, df.cf, tokp.pos
         |FROM tokp
         |JOIN tv ON tv.term = tokp.term
         |JOIN df ON df.term = tokp.term
         |ORDER BY tokp.term, tokp.pos""".stripMargin,
    // matrix-stats twin: the engine's exact expression tree over the
    // same five integer sums (raw variances feed corr, inside the round)
    "ft_matrixstats" ->
      s"""$tokCtes, m AS (
         |  SELECT DISTINCT doc_id FROM tf WHERE term IN ('fast', 'merge')
         |), agg AS (
         |  SELECT count(*)::BIGINT AS n_docs,
         |         sum(dl)::BIGINT AS sum_x, sum(n_chars)::BIGINT AS sum_y,
         |         sum(dl * dl)::BIGINT AS sxx,
         |         sum(n_chars * n_chars)::BIGINT AS syy,
         |         sum(dl * n_chars)::BIGINT AS sxy
         |  FROM m JOIN alldl USING (doc_id) JOIN documents USING (doc_id)
         |), d AS (
         |  SELECT n_docs,
         |         sum_x::DOUBLE / n_docs AS mx, sum_y::DOUBLE / n_docs AS my,
         |         sxx::DOUBLE / n_docs - (sum_x::DOUBLE / n_docs) * (sum_x::DOUBLE / n_docs) AS vx,
         |         syy::DOUBLE / n_docs - (sum_y::DOUBLE / n_docs) * (sum_y::DOUBLE / n_docs) AS vy,
         |         sxy::DOUBLE / n_docs - (sum_x::DOUBLE / n_docs) * (sum_y::DOUBLE / n_docs) AS cv
         |  FROM agg
         |)
         |SELECT n_docs,
         |       floor(mx * 1e6 + 0.5) / 1e6 AS mean_dl,
         |       floor(my * 1e6 + 0.5) / 1e6 AS mean_nc,
         |       floor(vx * 1e6 + 0.5) / 1e6 AS var_dl,
         |       floor(vy * 1e6 + 0.5) / 1e6 AS var_nc,
         |       floor(cv * 1e6 + 0.5) / 1e6 AS cov,
         |       floor(cv / sqrt(vx * vy) * 1e6 + 0.5) / 1e6 AS corr
         |FROM d""".stripMargin,
    // filters-agg twin: each named count as its own CTE; the prefix
    // filter counts through its dictionary expansion (term LIKE)
    "ft_filters_agg" ->
      s"""$tokCtes, c1 AS (
         |  SELECT count(DISTINCT doc_id)::BIGINT AS cnt FROM tf WHERE term = 'fast'
         |), c2 AS (
         |  SELECT count(*)::BIGINT AS cnt FROM (
         |    SELECT doc_id FROM tf WHERE term IN ('fast', 'merge')
         |    GROUP BY doc_id HAVING count(DISTINCT term) = 2)
         |), c3 AS (
         |  SELECT count(DISTINCT doc_id)::BIGINT AS cnt FROM tf
         |  WHERE term IN ('fast', 'table')
         |), c4 AS (
         |  SELECT count(DISTINCT doc_id)::BIGINT AS cnt FROM tf
         |  WHERE term LIKE 'sor%'
         |)
         |SELECT * FROM (
         |  SELECT 'fast_and_merge' AS name, cnt FROM c2
         |  UNION ALL SELECT 'fast_or_table', cnt FROM c3
         |  UNION ALL SELECT 'has_fast', cnt FROM c1
         |  UNION ALL SELECT 'sor_prefix', cnt FROM c4
         |) ORDER BY name""".stripMargin,
    // adjacency-matrix twin: one distinct-doc CTE per filter, pair
    // counts by joining the member sets
    "ft_adjacency" ->
      s"""$tokCtes, fa AS (
         |  SELECT DISTINCT doc_id FROM tf WHERE term = 'fast'
         |), fb AS (
         |  SELECT DISTINCT doc_id FROM tf WHERE term = 'sort'
         |), fc AS (
         |  SELECT doc_id FROM tf WHERE term IN ('merge', 'table')
         |  GROUP BY doc_id HAVING count(DISTINCT term) = 2
         |)
         |SELECT * FROM (
         |  SELECT 'a_fast' AS name,
         |         (SELECT count(*) FROM fa)::BIGINT AS cnt
         |  UNION ALL SELECT 'b_sort',
         |         (SELECT count(*) FROM fb)::BIGINT
         |  UNION ALL SELECT 'c_merge_table',
         |         (SELECT count(*) FROM fc)::BIGINT
         |  UNION ALL SELECT 'a_fast&b_sort',
         |         (SELECT count(*) FROM fa JOIN fb USING (doc_id))::BIGINT
         |  UNION ALL SELECT 'a_fast&c_merge_table',
         |         (SELECT count(*) FROM fa JOIN fc USING (doc_id))::BIGINT
         |  UNION ALL SELECT 'b_sort&c_merge_table',
         |         (SELECT count(*) FROM fb JOIN fc USING (doc_id))::BIGINT
         |) ORDER BY name""".stripMargin,
    // rare-terms twin: the df CTE IS the dictionary
    "ft_rare_terms" ->
      s"""$tokCtes
         |SELECT term, df FROM df WHERE df <= 100 ORDER BY term""".stripMargin,
    // diversified-sampler twin: per-lang row_number over the portable
    // seeded hash, capped at 3
    "ft_sampler_div" ->
      s"""$tokCtes, m AS (
         |  SELECT DISTINCT doc_id FROM tf WHERE term IN ('fast', 'merge')
         |), h AS (
         |  SELECT doc_id,
         |         ('0x' || substr(md5('7:' || doc_id::VARCHAR), 1, 15))::BIGINT AS rand
         |  FROM m
         |), l AS (
         |  SELECT d.lang, h.doc_id, h.rand,
         |         row_number() OVER (PARTITION BY d.lang
         |                            ORDER BY h.rand, h.doc_id) AS rn
         |  FROM h JOIN documents d USING (doc_id)
         |)
         |SELECT lang, doc_id, rand FROM l WHERE rn <= 3
         |ORDER BY lang, rand, doc_id""".stripMargin,
    // composite-agg twin: after-key predicate BEFORE the bucket agg,
    // key-ordered page of 10
    "ft_composite" ->
      s"""$tokCtes, m AS (
         |  SELECT DISTINCT doc_id FROM tf WHERE term IN ('fast', 'merge')
         |), k AS (
         |  SELECT d.lang, ((a.dl // 16) * 16)::BIGINT AS bin
         |  FROM m JOIN documents d USING (doc_id)
         |         JOIN alldl a USING (doc_id)
         |)
         |SELECT lang, bin, count(*)::BIGINT AS n_docs FROM k
         |WHERE lang > 'de' OR (lang = 'de' AND bin > 48)
         |GROUP BY 1, 2 ORDER BY 1, 2 LIMIT 10""".stripMargin,
    // percentiles twin: same integer nearest-rank rule ((p·n+99)//100)
    // read off the ascending docLen sort
    "ft_percentiles" ->
      s"""$tokCtes, m AS (
         |  SELECT DISTINCT doc_id FROM tf WHERE term IN ('fast', 'merge')
         |), s AS (
         |  SELECT dl, row_number() OVER (ORDER BY dl) AS rn,
         |         count(*) OVER () AS n
         |  FROM m JOIN alldl USING (doc_id)
         |)
         |SELECT p.pct::BIGINT AS pct, s.dl::BIGINT AS value
         |FROM (VALUES (25), (50), (75), (95)) p(pct)
         |JOIN s ON s.rn = (p.pct * s.n + 99) // 100
         |ORDER BY pct""".stripMargin,
    // moving_fn + serial_diff twin: trailing 3-bucket window average
    // (current-inclusive) + 2-step difference over the histogram
    "ft_mov_avg" ->
      s"""$tokCtes, m AS (
         |  SELECT DISTINCT doc_id FROM tf WHERE term IN ('fast', 'merge')
         |), h AS (
         |  SELECT (dl // 10) * 10 AS bin, count(*)::BIGINT AS n_docs
         |  FROM m JOIN alldl USING (doc_id) GROUP BY 1
         |)
         |SELECT bin, n_docs,
         |       floor(sum(n_docs) OVER tw::DOUBLE / count(*) OVER tw
         |             * 1e6 + 0.5) / 1e6 AS mov_avg,
         |       coalesce(n_docs - lag(n_docs, 2) OVER (ORDER BY bin),
         |                0)::BIGINT AS sdiff
         |FROM h
         |WINDOW tw AS (ORDER BY bin ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
         |ORDER BY bin""".stripMargin,
    // moving-percentiles twin: the same trailing window as ft_mov_avg,
    // exact nearest-rank pick from the per-row sorted window list
    // (1-based index ceil(q*m/100) in both engines)
    "ft_mov_pct" ->
      s"""$tokCtes, m AS (
         |  SELECT DISTINCT doc_id FROM tf WHERE term IN ('fast', 'merge')
         |), h AS (
         |  SELECT (dl // 10) * 10 AS bin, count(*)::BIGINT AS n_docs
         |  FROM m JOIN alldl USING (doc_id) GROUP BY 1
         |), wins AS (
         |  SELECT bin, n_docs, list(n_docs) OVER (
         |    ORDER BY bin ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS wl
         |  FROM h
         |)
         |SELECT bin, n_docs,
         |       list_sort(wl)[CAST(ceil(50 * len(wl) / 100.0) AS INT)]::BIGINT
         |         AS mov_pct
         |FROM wins ORDER BY bin""".stripMargin,
    // multi_terms twin: compound buckets, count-desc with the pinned
    // (lang, bin) tie-break, top 10
    "ft_multiterms" ->
      s"""$tokCtes, m AS (
         |  SELECT DISTINCT doc_id FROM tf WHERE term IN ('fast', 'merge')
         |)
         |SELECT d.lang, (dl // 16) * 16 AS bin, count(*)::BIGINT AS n_docs
         |FROM m JOIN alldl USING (doc_id) JOIN documents d USING (doc_id)
         |GROUP BY 1, 2
         |ORDER BY n_docs DESC, lang, bin LIMIT 10""".stripMargin,
    // MAD twin: both medians under the shared nearest-rank rule
    "ft_mad" ->
      s"""$tokCtes, m AS (
         |  SELECT DISTINCT doc_id FROM tf WHERE term IN ('fast', 'merge')
         |), j AS (
         |  SELECT dl FROM m JOIN alldl USING (doc_id)
         |), s AS (
         |  SELECT dl, row_number() OVER (ORDER BY dl) AS rn,
         |         count(*) OVER () AS n
         |  FROM j
         |), med AS (
         |  SELECT dl AS mdn, n FROM s WHERE rn = (50 * n + 99) // 100
         |), d AS (
         |  SELECT abs(j.dl - med.mdn) AS dev FROM j CROSS JOIN med
         |), s2 AS (
         |  SELECT dev, row_number() OVER (ORDER BY dev) AS rn,
         |         count(*) OVER () AS n
         |  FROM d
         |)
         |SELECT med.n::BIGINT AS n_docs, med.mdn::BIGINT AS median,
         |       (SELECT dev FROM s2
         |        WHERE rn = (50 * s2.n + 99) // 100)::BIGINT AS mad
         |FROM med""".stripMargin,
    // boxplot twin: quartiles via the shared nearest-rank rule
    "ft_boxplot" ->
      s"""$tokCtes, m AS (
         |  SELECT DISTINCT doc_id FROM tf WHERE term IN ('fast', 'merge')
         |), j AS (
         |  SELECT dl FROM m JOIN alldl USING (doc_id)
         |), s AS (
         |  SELECT dl, row_number() OVER (ORDER BY dl) AS rn,
         |         count(*) OVER () AS n
         |  FROM j
         |), q AS (
         |  SELECT (SELECT n FROM s LIMIT 1)::BIGINT AS n_docs,
         |         (SELECT min(dl) FROM j)::BIGINT AS min_dl,
         |         (SELECT dl FROM s WHERE rn = (25 * n + 99) // 100)::BIGINT AS q1,
         |         (SELECT dl FROM s WHERE rn = (50 * n + 99) // 100)::BIGINT AS q2,
         |         (SELECT dl FROM s WHERE rn = (75 * n + 99) // 100)::BIGINT AS q3,
         |         (SELECT max(dl) FROM j)::BIGINT AS max_dl
         |)
         |SELECT n_docs, min_dl, q1, q2, q3, max_dl,
         |       (q3 - q1)::BIGINT AS iqr FROM q""".stripMargin,
    // Welch t_test twin: exact Long moments per side, the Spark IEEE
    // expression tree mirrored operation-for-operation
    "ft_ttest" ->
      s"""$tokCtes, ja AS (
         |  SELECT dl FROM (SELECT DISTINCT doc_id FROM tf
         |                  WHERE term IN ('fast')) ma
         |  JOIN alldl USING (doc_id)
         |), jb AS (
         |  SELECT dl FROM (SELECT DISTINCT doc_id FROM tf
         |                  WHERE term IN ('merge')) mb
         |  JOIN alldl USING (doc_id)
         |), sa AS (
         |  SELECT count(*)::BIGINT AS n_a, sum(dl)::BIGINT AS sum_a,
         |         sum(dl * dl)::BIGINT AS sumsq_a FROM ja
         |), sb AS (
         |  SELECT count(*)::BIGINT AS n_b, sum(dl)::BIGINT AS sum_b,
         |         sum(dl * dl)::BIGINT AS sumsq_b FROM jb
         |)
         |SELECT n_a, n_b,
         |       floor(sum_a::DOUBLE / n_a * 1e6 + 0.5) / 1e6 AS mean_a,
         |       floor(sum_b::DOUBLE / n_b * 1e6 + 0.5) / 1e6 AS mean_b,
         |       floor((sum_a::DOUBLE / n_a - sum_b::DOUBLE / n_b) /
         |             sqrt(((sumsq_a::DOUBLE - sum_a::DOUBLE * sum_a / n_a)
         |                   / (n_a - 1)) / n_a +
         |                  ((sumsq_b::DOUBLE - sum_b::DOUBLE * sum_b / n_b)
         |                   / (n_b - 1)) / n_b) * 1e6 + 0.5) / 1e6 AS t_stat
         |FROM sa CROSS JOIN sb""".stripMargin,
    // percentile_ranks twin: exact cumulative share per probe value,
    // same 100*cum/n IEEE tree + floor rule
    "ft_pct_ranks" ->
      s"""$tokCtes, m AS (
         |  SELECT DISTINCT doc_id FROM tf WHERE term IN ('fast', 'merge')
         |), j AS (
         |  SELECT dl FROM m JOIN alldl USING (doc_id)
         |), nn AS (
         |  SELECT count(*)::BIGINT AS n FROM j
         |)
         |SELECT v.value::BIGINT AS value,
         |       floor(100.0 * (SELECT count(*) FROM j WHERE dl <= v.value)
         |             / nn.n * 1e6 + 0.5) / 1e6 AS pct_rank
         |FROM (VALUES (40), (80), (120), (100000)) v(value)
         |CROSS JOIN nn
         |ORDER BY v.value""".stripMargin,
    // bucket_sort + normalize twin: percent_of_sum over ALL buckets,
    // count-desc order, LIMIT/OFFSET page
    "ft_bucket_sort" ->
      s"""$tokCtes, m AS (
         |  SELECT DISTINCT doc_id FROM tf WHERE term IN ('fast', 'merge')
         |), h AS (
         |  SELECT (dl // 10) * 10 AS bin, count(*)::BIGINT AS n_docs
         |  FROM m JOIN alldl USING (doc_id) GROUP BY 1
         |)
         |SELECT bin, n_docs,
         |       floor(100.0 * n_docs / sum(n_docs) OVER ()
         |             * 1e6 + 0.5) / 1e6 AS pct_of_sum
         |FROM h
         |ORDER BY n_docs DESC, bin LIMIT 4 OFFSET 1""".stripMargin,
    // string_stats twin: exact length moments + char-histogram entropy
    // (log2), both floor-rounded at the boundary
    "ft_string_stats" ->
      s"""$tokCtes, m AS (
         |  SELECT DISTINCT doc_id FROM tf WHERE term IN ('fast', 'merge')
         |), v AS (
         |  SELECT d.source AS s FROM m JOIN documents d USING (doc_id)
         |), ls AS (
         |  SELECT count(*)::BIGINT AS n_values,
         |         min(length(s))::BIGINT AS min_len,
         |         max(length(s))::BIGINT AS max_len,
         |         sum(length(s))::BIGINT AS sum_len FROM v
         |), hc AS (
         |  SELECT count(*)::BIGINT AS c
         |  FROM (SELECT unnest(string_split(s, '')) AS ch FROM v)
         |  GROUP BY ch
         |), et AS (
         |  SELECT floor(-sum((c::DOUBLE / t.tt) * log2(c::DOUBLE / t.tt))
         |               * 1e6 + 0.5) / 1e6 AS entropy
         |  FROM hc CROSS JOIN (SELECT sum(c)::DOUBLE AS tt FROM hc) t
         |)
         |SELECT n_values, min_len, max_len,
         |       floor(sum_len::DOUBLE / n_values * 1e6 + 0.5) / 1e6 AS avg_len,
         |       entropy
         |FROM ls CROSS JOIN et""".stripMargin,
    // stats_bucket twin: one reduction over the histogram's bucket table
    "ft_stats_bucket" ->
      s"""$tokCtes, m AS (
         |  SELECT DISTINCT doc_id FROM tf WHERE term IN ('fast', 'merge')
         |), h AS (
         |  SELECT (dl // 10) * 10 AS bin, count(*)::BIGINT AS n_docs
         |  FROM m JOIN alldl USING (doc_id) GROUP BY 1
         |)
         |SELECT count(*)::BIGINT AS n_buckets, min(n_docs)::BIGINT AS min_docs,
         |       max(n_docs)::BIGINT AS max_docs, sum(n_docs)::BIGINT AS sum_docs,
         |       floor(sum(n_docs)::DOUBLE / count(*) * 1e6 + 0.5) / 1e6
         |         AS avg_docs
         |FROM h""".stripMargin,
    // epoch-shuffle twin: the same md5 15-hex-prefix hash of
    // "7:doc_id", shard = hash mod 4, dense rank within the shard
    "epoch_shuffle" ->
      """WITH h AS (
        |  SELECT doc_id,
        |         ('0x' || substr(md5('7:' || doc_id::VARCHAR), 1, 15))::BIGINT
        |           AS hv
        |  FROM documents
        |)
        |SELECT doc_id, (hv % 4)::BIGINT AS shard,
        |       (row_number() OVER (PARTITION BY hv % 4 ORDER BY hv, doc_id)
        |        - 1)::BIGINT AS pos
        |FROM h ORDER BY shard, pos""".stripMargin,
    // z-order twin: identical dense source ranks, 16-bit interleave
    // (correlated bit sum over range(16)), prefix files, and the same
    // id-order baseline — stats byte-equal
    "zorder_layout" ->
      """WITH ranks AS (
        |  SELECT source, row_number() OVER (ORDER BY source) - 1 AS xr
        |  FROM (SELECT DISTINCT source FROM documents)
        |), dims AS (
        |  SELECT (SELECT count(*) FROM ranks) AS s,
        |         min(n_chars) AS lo, max(n_chars) AS hi
        |  FROM documents
        |), d AS (
        |  SELECT doc_id, d0.source, n_chars,
        |         CASE WHEN dims.s > 1
        |              THEN xr * 65535 // (dims.s - 1) ELSE 0 END AS xs,
        |         CASE WHEN dims.hi > dims.lo
        |              THEN (n_chars - dims.lo) * 65535 // (dims.hi - dims.lo)
        |              ELSE 0 END AS ys
        |  FROM documents d0 JOIN ranks USING (source), dims
        |), z AS (
        |  SELECT doc_id, source, n_chars,
        |    (SELECT sum((((xs >> b.b) & 1) << (2 * b.b))
        |              + (((ys >> b.b) & 1) << (2 * b.b + 1)))
        |     FROM range(16) b(b))::BIGINT AS z
        |  FROM d
        |), za AS (SELECT doc_id, source, n_chars, z >> 29 AS file FROM z),
        |na AS (SELECT doc_id, source, n_chars,
        |         (doc_id * 8 // (SELECT count(*) FROM documents))::BIGINT AS file
        |       FROM documents),
        |stats AS (
        |  SELECT 'zorder' AS layout, file, count(*)::BIGINT AS n_docs,
        |         count(DISTINCT source)::BIGINT AS n_sources,
        |         min(n_chars)::BIGINT AS nc_lo, max(n_chars)::BIGINT AS nc_hi
        |  FROM za GROUP BY 2
        |  UNION ALL
        |  SELECT 'docid', file, count(*)::BIGINT, count(DISTINCT source)::BIGINT,
        |         min(n_chars)::BIGINT, max(n_chars)::BIGINT
        |  FROM na GROUP BY 2
        |)
        |SELECT * FROM stats ORDER BY layout, file""".stripMargin,
    // mixture-sample twin: the weights CTE stack + the strat_sample
    // md5 micro-bucket, integer-vs-integer compare
    "mixture_sample" ->
      s"""WITH c AS (
         |  SELECT lang AS domain, count(*)::BIGINT AS n_docs
         |  FROM documents GROUP BY 1
         |), t AS (
         |  SELECT sum(n_docs)::DOUBLE AS n_total FROM c
         |), pp AS (
         |  SELECT domain, n_docs, n_docs::DOUBLE / n_total AS p FROM c, t
         |), z AS (
         |  SELECT sum(power(p, 0.5)) AS z FROM pp
         |), w AS (
         |  SELECT domain,
         |         floor(power(p, 0.5) / z / p * 1e6 + 0.5) / 1e6 AS weight
         |  FROM pp, z
         |), mx AS (
         |  SELECT max(weight) AS max_w FROM w
         |), r AS (
         |  SELECT domain,
         |         floor(weight / max_w * 1e6 + 0.5)::BIGINT AS r_micro
         |  FROM w, mx
         |)
         |SELECT d.doc_id, d.lang AS domain
         |FROM documents d JOIN r ON r.domain = d.lang
         |WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 6))::BIGINT
         |        % 1000000 < r.r_micro
         |ORDER BY d.doc_id""".stripMargin,
    // mixture-repeat twin: the same weights stack normalized by the MIN
    // weight; copies = floor(r) + the md5 micro-bucket fractional extra
    "mixture_repeat" ->
      s"""WITH c AS (
         |  SELECT lang AS domain, count(*)::BIGINT AS n_docs
         |  FROM documents GROUP BY 1
         |), t AS (
         |  SELECT sum(n_docs)::DOUBLE AS n_total FROM c
         |), pp AS (
         |  SELECT domain, n_docs, n_docs::DOUBLE / n_total AS p FROM c, t
         |), z AS (
         |  SELECT sum(power(p, 0.5)) AS z FROM pp
         |), w AS (
         |  SELECT domain,
         |         floor(power(p, 0.5) / z / p * 1e6 + 0.5) / 1e6 AS weight
         |  FROM pp, z
         |), mn AS (
         |  SELECT min(weight) AS min_w FROM w
         |), r AS (
         |  SELECT domain,
         |         floor(weight / min_w * 1e6 + 0.5)::BIGINT AS r_micro
         |  FROM w, mn
         |), e AS (
         |  SELECT d.doc_id, d.lang AS domain,
         |         (r_micro // 1000000) + CASE WHEN
         |           ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 6))::BIGINT
         |             % 1000000 < r_micro % 1000000 THEN 1 ELSE 0 END
         |           AS n_copies
         |  FROM documents d JOIN r ON r.domain = d.lang
         |)
         |SELECT doc_id, domain, cc.c AS copy_id
         |FROM e, unnest(range(0, n_copies)) cc(c)
         |ORDER BY doc_id, copy_id""".stripMargin,
    // chunk twin: same integer chunk-count/stride arithmetic over the
    // filtered token count
    "chunk_docs" ->
      s"""$tokCtes, nc AS (
         |  SELECT doc_id, dl,
         |         greatest(1, (dl - 8 + 23) // 24) AS n_chunks
         |  FROM alldl WHERE dl > 0
         |)
         |SELECT doc_id, cc.c AS chunk_id,
         |       cc.c * 24 + 1 AS tok_start,
         |       least(32, dl - (cc.c * 24 + 1) + 1) AS n_toks
         |FROM nc, unnest(range(0, n_chunks)) cc(c)
         |ORDER BY doc_id, chunk_id""".stripMargin,
    // mixture twin: identical expression tree (pow from exact integer
    // shares, one Σ-of-doubles over |domains| values, floor-rounded)
    "mixture_weights" ->
      s"""WITH c AS (
         |  SELECT lang AS domain, count(*)::BIGINT AS n_docs
         |  FROM documents GROUP BY 1
         |), t AS (
         |  SELECT sum(n_docs)::DOUBLE AS n_total FROM c
         |), pp AS (
         |  SELECT domain, n_docs, n_docs::DOUBLE / n_total AS p FROM c, t
         |), z AS (
         |  SELECT sum(power(p, 0.5)) AS z FROM pp
         |)
         |SELECT domain, n_docs,
         |       floor(p * 1e6 + 0.5) / 1e6 AS p,
         |       floor(power(p, 0.5) / z * 1e6 + 0.5) / 1e6 AS q,
         |       floor(power(p, 0.5) / z / p * 1e6 + 0.5) / 1e6 AS weight,
         |       floor(10000 * (power(p, 0.5) / z) + 0.5)::BIGINT AS expected
         |FROM pp, z ORDER BY domain""".stripMargin,
    // cardinality twin: exact distinct count
    "ft_cardinality" ->
      s"""$tokCtes, m AS (
         |  SELECT DISTINCT doc_id FROM tf WHERE term IN ('fast', 'merge')
         |)
         |SELECT count(DISTINCT lang)::BIGINT AS n_langs
         |FROM m JOIN documents USING (doc_id)""".stripMargin,
    // random_score twin: the same md5 15-hex-prefix hash of "42:doc_id"
    "ft_random" ->
      s"""$tokCtes, m AS (
         |  SELECT DISTINCT doc_id FROM tf WHERE term IN ('fast', 'merge')
         |), h AS (
         |  SELECT doc_id,
         |         ('0x' || substr(md5('42:' || doc_id::VARCHAR), 1, 15))::BIGINT AS rand
         |  FROM m
         |)
         |SELECT doc_id, rand,
         |       row_number() OVER (ORDER BY rand DESC, doc_id) AS rank
         |FROM h ORDER BY rand DESC, doc_id LIMIT 20""".stripMargin,
    // extended stats: exact integer sums, then single-division doubles
    // under the explicit floor tie rule — the engine's identical tree
    "ft_extstats" ->
      s"""$tokCtes, m AS (
         |  SELECT DISTINCT doc_id FROM tf WHERE term IN ('fast', 'merge')
         |), agg AS (
         |  SELECT count(*)::BIGINT AS n_docs,
         |         min(dl)::BIGINT AS min_dl, max(dl)::BIGINT AS max_dl,
         |         sum(dl)::BIGINT AS sum_dl, sum(dl * dl)::BIGINT AS sumsq
         |  FROM m JOIN alldl USING (doc_id)
         |)
         |SELECT n_docs, min_dl, max_dl, sum_dl,
         |       floor(sum_dl::DOUBLE / n_docs * 1e6 + 0.5) / 1e6 AS avg_dl,
         |       floor((sumsq::DOUBLE / n_docs -
         |              (sum_dl::DOUBLE / n_docs) * (sum_dl::DOUBLE / n_docs))
         |             * 1e6 + 0.5) / 1e6 AS var_dl,
         |       floor(sqrt(sumsq::DOUBLE / n_docs -
         |              (sum_dl::DOUBLE / n_docs) * (sum_dl::DOUBLE / n_docs))
         |             * 1e6 + 0.5) / 1e6 AS std_dl
         |FROM agg""".stripMargin,
    // LTR feature twin: per query its own bm25 top-k CTE (the msearch
    // shape), features aggregated over the matched tf rows; sum_idf on
    // the floor round (Σ-of-ln rides the 1e-15 regime)
    "ltr_features" ->
      s"""$tokCtes, sc1 AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf JOIN df USING (term) JOIN alldl USING (doc_id) CROSS JOIN stats
         |  WHERE tf.term IN ('fast', 'merge') GROUP BY tf.doc_id
         |), r1 AS (
         |  SELECT doc_id, round(score, 6) AS score,
         |         row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
         |  FROM sc1 ORDER BY score DESC, doc_id LIMIT 10
         |), f1 AS (
         |  SELECT 1::BIGINT AS qid, r.doc_id, r.rank, r.score AS bm25,
         |         count(*)::BIGINT AS n_matched, sum(tf.tf)::BIGINT AS sum_tf,
         |         min(dl)::BIGINT AS dl,
         |         floor(sum(ln(1.0 + (n - df + 0.5) / (df + 0.5))) * 1e6 + 0.5)
         |           / 1e6 AS sum_idf_matched
         |  FROM r1 r
         |  JOIN tf ON tf.doc_id = r.doc_id AND tf.term IN ('fast', 'merge')
         |  JOIN df USING (term)
         |  JOIN alldl ON alldl.doc_id = r.doc_id
         |  CROSS JOIN stats
         |  GROUP BY r.doc_id, r.rank, r.score
         |), sc2 AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf JOIN df USING (term) JOIN alldl USING (doc_id) CROSS JOIN stats
         |  WHERE tf.term IN ('dup', 'scan') GROUP BY tf.doc_id
         |), r2 AS (
         |  SELECT doc_id, round(score, 6) AS score,
         |         row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
         |  FROM sc2 ORDER BY score DESC, doc_id LIMIT 10
         |), f2 AS (
         |  SELECT 2::BIGINT AS qid, r.doc_id, r.rank, r.score AS bm25,
         |         count(*)::BIGINT AS n_matched, sum(tf.tf)::BIGINT AS sum_tf,
         |         min(dl)::BIGINT AS dl,
         |         floor(sum(ln(1.0 + (n - df + 0.5) / (df + 0.5))) * 1e6 + 0.5)
         |           / 1e6 AS sum_idf_matched
         |  FROM r2 r
         |  JOIN tf ON tf.doc_id = r.doc_id AND tf.term IN ('dup', 'scan')
         |  JOIN df USING (term)
         |  JOIN alldl ON alldl.doc_id = r.doc_id
         |  CROSS JOIN stats
         |  GROUP BY r.doc_id, r.rank, r.score
         |)
         |SELECT * FROM (SELECT * FROM f1 UNION ALL SELECT * FROM f2)
         |ORDER BY qid, rank""".stripMargin,
    // common-terms twin: requiredness computed from df IN SQL (df <
    // 0.3·N — the same cutoff rule as the engine), scoring over every
    // present query term, required or not
    "ft_common_terms" ->
      s"""$tokCtes, req AS (
         |  SELECT term FROM df CROSS JOIN stats
         |  WHERE term IN ('the', 'dup', 'merge') AND df < 0.3 * n
         |), sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE tf.term IN ('the', 'dup', 'merge')
         |  GROUP BY tf.doc_id
         |  HAVING count(DISTINCT CASE WHEN tf.term IN (SELECT term FROM req)
         |                             THEN tf.term END)
         |         = (SELECT count(*) FROM req)
         |)
         |SELECT doc_id, round(score, 6) AS score,
         |       row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
         |FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // significant-terms twin: JLH over the FREE match set (any query
    // term) vs the corpus background; the explicit floor tie rule —
    // these ratios of small integers DO land on exact 6-dp halves
    "ft_sigterms" ->
      s"""$tokCtes, fg AS (
         |  SELECT DISTINCT doc_id FROM tf WHERE term IN ('fast', 'merge')
         |), fgn AS (
         |  SELECT count(*)::BIGINT AS fgn FROM fg
         |), fgdf AS (
         |  SELECT term, count(*)::BIGINT AS fg_df
         |  FROM tf WHERE doc_id IN (SELECT doc_id FROM fg) GROUP BY 1
         |), scored AS (
         |  SELECT term, fg_df, df AS bg_df,
         |         floor((fg_df * 1.0 / fgn - df * 1.0 / n) *
         |               ((fg_df * 1.0 / fgn) / (df * 1.0 / n)) * 1e6 + 0.5)
         |           / 1e6 AS sig
         |  FROM fgdf JOIN df USING (term) CROSS JOIN fgn CROSS JOIN stats
         |  WHERE fg_df * 1.0 / fgn > df * 1.0 / n
         |)
         |SELECT term, fg_df, bg_df, sig
         |FROM scored ORDER BY sig DESC, term LIMIT 15""".stripMargin,
    "ft_bool_nested" -> boolSql(Seq("fast", "slow", "merge"),
      "(p_fast = 1 OR p_slow = 1) AND p_merge = 1", 20),
    "ft_bool_not" -> boolSql(Seq("merge", "slow"),
      "p_merge = 1 AND p_slow = 0", 20),
    // phrase atom inside the boolean grammar: the "fast merge" leaf is
    // the PHRASE predicate (consecutive positions); scoring unchanged —
    // BM25 over the expression's present distinct terms
    "ft_bool_phrase" ->
      s"""$tokCtes, w2 AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
         |), rawtok AS (
         |  SELECT doc_id, ws[p] AS term, p FROM w2, unnest(range(1, len(ws) + 1)) t(p)
         |), tokp AS (
         |  SELECT doc_id, term, row_number() OVER (PARTITION BY doc_id ORDER BY p) AS pos
         |  FROM rawtok WHERE length(term) >= 2
         |), phr AS (
         |  SELECT DISTINCT a0.doc_id FROM tokp a0
         |  JOIN tokp a1 ON a1.doc_id = a0.doc_id AND a1.pos = a0.pos + 1
         |  WHERE a0.term = 'fast' AND a1.term = 'merge'
         |), boolmatch AS (
         |  SELECT doc_id FROM alldl
         |  WHERE (doc_id IN (SELECT doc_id FROM phr)
         |         OR doc_id IN (SELECT doc_id FROM tf WHERE term = 'slow'))
         |    AND doc_id IN (SELECT doc_id FROM tf WHERE term = 'table')
         |), sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE tf.term IN ('fast', 'merge', 'slow', 'table')
         |    AND tf.doc_id IN (SELECT doc_id FROM boolmatch)
         |  GROUP BY tf.doc_id
         |)
         |SELECT doc_id, round(score, 6) AS score,
         |       row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
         |FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "ft_facets" ->
      s"""$tokCtes
         |SELECT d.lang, count(DISTINCT tf.doc_id)::BIGINT AS n_docs
         |FROM tf JOIN documents d ON tf.doc_id = d.doc_id
         |WHERE tf.term IN ('fast', 'merge')
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // facet counts over the EXACT boolean match set (phrase-leaf
    // presence included) — the engine no longer degrades facet/count
    // surfaces to any-term semantics for BOOL/PHRASE/NEAR
    "ft_facets_bool" ->
      s"""$tokCtes, w2 AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
         |), rawtok AS (
         |  SELECT doc_id, ws[p] AS term, p FROM w2, unnest(range(1, len(ws) + 1)) t(p)
         |), tokp AS (
         |  SELECT doc_id, term, row_number() OVER (PARTITION BY doc_id ORDER BY p) AS pos
         |  FROM rawtok WHERE length(term) >= 2
         |), phr AS (
         |  SELECT DISTINCT a0.doc_id FROM tokp a0
         |  JOIN tokp a1 ON a1.doc_id = a0.doc_id AND a1.pos = a0.pos + 1
         |  WHERE a0.term = 'fast' AND a1.term = 'merge'
         |), boolmatch AS (
         |  SELECT doc_id FROM alldl
         |  WHERE (doc_id IN (SELECT doc_id FROM phr)
         |         OR doc_id IN (SELECT doc_id FROM tf WHERE term = 'slow'))
         |    AND doc_id IN (SELECT doc_id FROM tf WHERE term = 'table')
         |)
         |SELECT d.lang, count(*)::BIGINT AS n_docs
         |FROM boolmatch b JOIN documents d ON b.doc_id = d.doc_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // match totals for the positional-predicate kinds: boolean with a
    // phrase leaf, bare phrase, and a NEAR window (max-min span <= 3)
    "ft_count_bool" ->
      s"""$tokCtes, w2 AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
         |), rawtok AS (
         |  SELECT doc_id, ws[p] AS term, p FROM w2, unnest(range(1, len(ws) + 1)) t(p)
         |), tokp AS (
         |  SELECT doc_id, term, row_number() OVER (PARTITION BY doc_id ORDER BY p) AS pos
         |  FROM rawtok WHERE length(term) >= 2
         |), phr AS (
         |  SELECT DISTINCT a0.doc_id FROM tokp a0
         |  JOIN tokp a1 ON a1.doc_id = a0.doc_id AND a1.pos = a0.pos + 1
         |  WHERE a0.term = 'fast' AND a1.term = 'merge'
         |), boolmatch AS (
         |  SELECT doc_id FROM alldl
         |  WHERE (doc_id IN (SELECT doc_id FROM phr)
         |         OR doc_id IN (SELECT doc_id FROM tf WHERE term = 'slow'))
         |    AND doc_id IN (SELECT doc_id FROM tf WHERE term = 'table')
         |)
         |SELECT 'bool_pm' AS q, (SELECT count(*) FROM boolmatch)::BIGINT AS n_docs
         |UNION ALL
         |SELECT 'near_ms3', (SELECT count(DISTINCT m.doc_id) FROM tokp m
         |   JOIN tokp srt ON srt.doc_id = m.doc_id
         |   WHERE m.term = 'merge' AND srt.term = 'sort'
         |     AND abs(m.pos - srt.pos) <= 3)::BIGINT
         |UNION ALL
         |SELECT 'phrase_fm', (SELECT count(*) FROM phr)::BIGINT
         |ORDER BY q""".stripMargin,
    "ft_highlight" ->
      s"""$tokCtes, w2 AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
         |), rawtok AS (
         |  SELECT doc_id, ws[p] AS term, p FROM w2, unnest(range(1, len(ws) + 1)) t(p)
         |), tokp AS (
         |  SELECT doc_id, term, row_number() OVER (PARTITION BY doc_id ORDER BY p) AS pos
         |  FROM rawtok WHERE length(term) >= 2
         |), sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE tf.term IN ('fast', 'merge')
         |  GROUP BY tf.doc_id
         |), topd AS (
         |  SELECT doc_id FROM sc ORDER BY round(score, 6) DESC, doc_id LIMIT 10
         |)
         |SELECT t.doc_id, t.term, t.pos::BIGINT AS pos
         |FROM tokp t
         |WHERE t.term IN ('fast', 'merge') AND t.doc_id IN (SELECT doc_id FROM topd)
         |ORDER BY doc_id, term, pos""".stripMargin,
    // snippet fragments: the highlight twin plus a per-doc token list;
    // the fragment is the 1-based inclusive [pos-2, pos+2] slice of the
    // filtered stream — the exact window DocsIndex.snippets cuts
    "ft_snippets" ->
      s"""$tokCtes, w2 AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
         |), rawtok AS (
         |  SELECT doc_id, ws[p] AS term, p FROM w2, unnest(range(1, len(ws) + 1)) t(p)
         |), tokp AS (
         |  SELECT doc_id, term, row_number() OVER (PARTITION BY doc_id ORDER BY p) AS pos
         |  FROM rawtok WHERE length(term) >= 2
         |), sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE tf.term IN ('slow', 'table')
         |  GROUP BY tf.doc_id
         |), topd AS (
         |  SELECT doc_id FROM sc ORDER BY round(score, 6) DESC, doc_id LIMIT 8
         |), la AS (
         |  SELECT doc_id, list(term ORDER BY pos) AS l FROM tokp
         |  WHERE doc_id IN (SELECT doc_id FROM topd) GROUP BY doc_id
         |)
         |SELECT t.doc_id, t.term, t.pos::BIGINT AS pos,
         |       array_to_string(
         |         l[greatest(1, t.pos - 2):least(len(l), t.pos + 2)], ' ') AS snippet
         |FROM tokp t JOIN la USING (doc_id)
         |WHERE t.term IN ('slow', 'table') AND t.doc_id IN (SELECT doc_id FROM topd)
         |ORDER BY doc_id, term, pos""".stripMargin,
    // sparse tf-idf doc vectors: same idf form the engine pins (BM25
    // Robertson–Spärck-Jones smoothed), ranked on the ROUNDED value
    // with a term tie-break so both engines pick identical rows
    "ft_docvec" ->
      s"""$tokCtes, v AS (
         |  SELECT tf.doc_id, tf.term,
         |         round(tf * ln(1.0 + (n - df + 0.5) / (df + 0.5)), 6) AS tfidf
         |  FROM tf JOIN df USING (term) CROSS JOIN stats
         |)
         |SELECT doc_id, term, tfidf, rank FROM (
         |  SELECT doc_id, term, tfidf,
         |         row_number() OVER (
         |           PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
         |  FROM v)
         |WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,
    // substring grep: non-overlapping occurrence count = the
    // replace-all count, the expression both engines evaluate literally
    "ft_substr" ->
      """SELECT doc_id,
        |       ((length(text) - length(replace(text, 'rge so', ''))) / 6)::BIGINT
        |         AS n_occur
        |FROM documents WHERE contains(text, 'rge so')
        |ORDER BY doc_id""".stripMargin,
    // regex grep: leftmost non-overlapping match count, the rule both
    // RE2 (DuckDB) and java.util.regex (Spark) implement for this
    // metachar-free alternation
    "ft_grep_regex" ->
      """SELECT doc_id,
        |       len(regexp_extract_all(text, 'merge (sort|scan)'))::BIGINT
        |         AS n_match
        |FROM documents WHERE regexp_matches(text, 'merge (sort|scan)')
        |ORDER BY doc_id""".stripMargin,
    // synonym rewrite of `fast AND merge` with merge≡join, fast≡quick:
    // presence-pivot over the expanded expression, BM25 over the present
    // distinct terms (quick is out-of-vocabulary: pivot 0, no score rows)
    "ft_synonym" -> boolSql(Seq("fast", "quick", "join", "merge"),
      "(p_fast = 1 OR p_quick = 1) AND (p_join = 1 OR p_merge = 1)", 20),
    // score explanation: per-(top-10 doc × matched term) BM25 breakdown
    // of the ft_bm25_topk ranking
    "ft_explain" ->
      s"""$tokCtes, sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE tf.term IN ('fast', 'merge', 'sort', 'table')
         |  GROUP BY tf.doc_id
         |), topd AS (
         |  SELECT doc_id FROM sc ORDER BY round(score, 6) DESC, doc_id LIMIT 10
         |)
         |SELECT tf.doc_id, tf.term, tf.tf, dl,
         |       round(ln(1.0 + (n - df + 0.5) / (df + 0.5)), 6) AS idf,
         |       round(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS contrib
         |FROM tf
         |JOIN df USING (term)
         |JOIN alldl USING (doc_id)
         |CROSS JOIN stats
         |WHERE tf.term IN ('fast', 'merge', 'sort', 'table')
         |  AND tf.doc_id IN (SELECT doc_id FROM topd)
         |ORDER BY doc_id, term""".stripMargin,
    "ft_fielded" ->
      s"""$tokCtes, sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE tf.term IN ('fast', 'merge', 'sort')
         |    AND tf.doc_id IN (SELECT doc_id FROM documents WHERE lang = 'fr')
         |  GROUP BY tf.doc_id
         |)
         |SELECT doc_id, round(score, 6) AS score,
         |       row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
         |FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "ft_fielded_combo" ->
      s"""$tokCtes, sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE tf.term IN ('fast', 'merge', 'sort')
         |    AND tf.doc_id IN (SELECT doc_id FROM documents
         |                      WHERE source = 'src3' AND lang = 'en')
         |  GROUP BY tf.doc_id
         |)
         |SELECT doc_id, round(score, 6) AS score,
         |       row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
         |FROM sc ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // numeric range atom len:40..120 — docLen == the dl CTE (ft_doclen
    // pins the equality); statistics stay global (filter-doesn't-rescale)
    "ft_fielded_range" ->
      bm25Sql(Seq("fast", "merge", "sort"), conjunctive = false, k = 20,
        exclude =
          "AND tf.doc_id IN (SELECT doc_id FROM alldl WHERE dl BETWEEN 40 AND 120)"),
    // path glob: the docmap path is lpad(doc_id, 12, '0'), so the glob
    // 0000000001* is the LIKE prefix below (doc_ids 100..199)
    "ft_fielded_path" ->
      bm25Sql(Seq("fast", "merge", "sort"), conjunctive = false, k = 20,
        exclude = "AND lpad(CAST(tf.doc_id AS VARCHAR), 12, '0') " +
          "LIKE '0000000001%'"),
    // live deletes: result docs filtered, statistics CTEs untouched —
    // the filter-doesn't-rescale contract of Searcher.deletedHits
    "ft_deleted" ->
      bm25Sql(Seq("fast", "merge", "sort", "table"), conjunctive = false,
        k = 20, exclude = "AND tf.doc_id % 7 <> 3"),
    // LSM live read path: tombstone AND fielded filters compose on the
    // result set; statistics CTEs stay full-corpus (filter-doesn't-
    // rescale through the facade too)
    "ft_lsm_live" ->
      bm25Sql(Seq("fast", "merge", "sort"), conjunctive = false, k = 20,
        exclude = "AND tf.doc_id % 7 <> 3 AND tf.doc_id IN " +
          "(SELECT doc_id FROM documents WHERE lang = 'fr')"),
    // compacted deletes: the corpus itself narrows, so N/avgdl/df (and
    // with them every score) recompute — SegmentMerger.purge semantics
    "ft_purged" ->
      bm25Sql(Seq("fast", "merge", "sort", "table"), conjunctive = false,
        k = 20, docsSrc = "(SELECT * FROM documents WHERE doc_id % 7 <> 3)"),
    // served through the size-tiered-compacted index — rank-identical to
    // the monolithic build (Compaction.mergeAll byte-identity), so the
    // twin is the plain conjunctive BM25 over the full corpus
    "ft_compacted" ->
      bm25Sql(Seq("key", "value", "hash"), conjunctive = true, 20),
    // page 2 of the ft_bm25_topk ranking: rank window re-based — DuckDB
    // allows a WITH-CTE query as a derived table
    "ft_page2" ->
      s"""SELECT doc_id, score, rank - 20 AS rank FROM (
         |${bm25Sql(Seq("fast", "merge", "sort", "table"), conjunctive = false, 40)}
         |) WHERE rank > 20""".stripMargin,
    // NEAR atom inside the boolean grammar: the "merge sort"~3 leaf is
    // the minimal-span predicate (one occurrence of each distinct term
    // within a 3-token window — for two terms, |pa − pb| ≤ 3)
    "ft_bool_near" ->
      s"""$tokCtes, w2 AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
         |), rawtok AS (
         |  SELECT doc_id, ws[p] AS term, p FROM w2, unnest(range(1, len(ws) + 1)) t(p)
         |), tokp AS (
         |  SELECT doc_id, term, row_number() OVER (PARTITION BY doc_id ORDER BY p) AS pos
         |  FROM rawtok WHERE length(term) >= 2
         |), nearDocs AS (
         |  SELECT DISTINCT a.doc_id FROM tokp a
         |  JOIN tokp b ON b.doc_id = a.doc_id AND abs(a.pos - b.pos) <= 3
         |  WHERE a.term = 'merge' AND b.term = 'sort'
         |), boolmatch AS (
         |  SELECT doc_id FROM alldl
         |  WHERE (doc_id IN (SELECT doc_id FROM nearDocs)
         |         OR doc_id IN (SELECT doc_id FROM tf WHERE term = 'slow'))
         |    AND doc_id IN (SELECT doc_id FROM tf WHERE term = 'table')
         |), sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE tf.term IN ('merge', 'sort', 'slow', 'table')
         |    AND tf.doc_id IN (SELECT doc_id FROM boolmatch)
         |  GROUP BY tf.doc_id
         |)
         |SELECT doc_id, round(score, 6) AS score,
         |       row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
         |FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // ordered-proximity atom: same shape as ft_bool_near, but b strictly
    // AFTER a within the window
    "ft_bool_onear" ->
      s"""$tokCtes, w2 AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
         |), rawtok AS (
         |  SELECT doc_id, ws[p] AS term, p FROM w2, unnest(range(1, len(ws) + 1)) t(p)
         |), tokp AS (
         |  SELECT doc_id, term, row_number() OVER (PARTITION BY doc_id ORDER BY p) AS pos
         |  FROM rawtok WHERE length(term) >= 2
         |), oDocs AS (
         |  SELECT DISTINCT a.doc_id FROM tokp a
         |  JOIN tokp b ON b.doc_id = a.doc_id
         |    AND b.pos > a.pos AND b.pos - a.pos <= 3
         |  WHERE a.term = 'merge' AND b.term = 'sort'
         |), boolmatch AS (
         |  SELECT doc_id FROM alldl
         |  WHERE (doc_id IN (SELECT doc_id FROM oDocs)
         |         OR doc_id IN (SELECT doc_id FROM tf WHERE term = 'slow'))
         |    AND doc_id IN (SELECT doc_id FROM tf WHERE term = 'table')
         |), sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE tf.term IN ('merge', 'sort', 'slow', 'table')
         |    AND tf.doc_id IN (SELECT doc_id FROM boolmatch)
         |  GROUP BY tf.doc_id
         |)
         |SELECT doc_id, round(score, 6) AS score,
         |       row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
         |FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // prefix atom inside the boolean grammar: the s* leaf is present iff
    // ANY vocabulary term starting with 's' is present; scoring over the
    // expanded ∪ fixed candidate terms present in each matching doc
    "ft_bool_prefix" ->
      s"""$tokCtes, boolmatch AS (
         |  SELECT doc_id FROM alldl
         |  WHERE (doc_id IN (SELECT doc_id FROM tf WHERE term LIKE 's%')
         |         OR doc_id IN (SELECT doc_id FROM tf WHERE term = 'slow'))
         |    AND doc_id IN (SELECT doc_id FROM tf WHERE term = 'table')
         |), sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE (tf.term LIKE 's%' OR tf.term IN ('slow', 'table'))
         |    AND tf.doc_id IN (SELECT doc_id FROM boolmatch)
         |  GROUP BY tf.doc_id
         |)
         |SELECT doc_id, round(score, 6) AS score,
         |       row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
         |FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // regex atom inside the boolean grammar: the re:(fast|slow) leaf is
    // present iff ANY vocabulary term fully matching the pattern is
    // present (same anchored semantics as the REGEX kind); 'table' is in
    // the scored set but never present in a NOT-table match
    "ft_bool_regex" ->
      s"""$tokCtes, boolmatch AS (
         |  SELECT doc_id FROM alldl
         |  WHERE (doc_id IN (SELECT doc_id FROM tf
         |                    WHERE regexp_full_match(term, '(fast|slow)'))
         |         OR doc_id IN (SELECT doc_id FROM tf WHERE term = 'batch'))
         |    AND doc_id NOT IN (SELECT doc_id FROM tf WHERE term = 'table')
         |), sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE (regexp_full_match(tf.term, '(fast|slow)')
         |         OR tf.term IN ('batch', 'table'))
         |    AND tf.doc_id IN (SELECT doc_id FROM boolmatch)
         |  GROUP BY tf.doc_id
         |)
         |SELECT doc_id, round(score, 6) AS score,
         |       row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
         |FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // query-time boosts: each term's BM25 contribution computed with its
    // weight multiplied INTO the idf (the engine's FP association:
    // TermCursor.idf = idf * boost); ranks compare on the 6-dp rounding
    "ft_boosted" ->
      s"""$tokCtes, sc AS (
         |  SELECT tf.doc_id,
         |         sum((CASE tf.term WHEN 'fast' THEN 2.0 WHEN 'sort' THEN 0.5
         |              ELSE 1.0 END)
         |             * ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE tf.term IN ('fast', 'merge', 'sort')
         |  GROUP BY tf.doc_id
         |)
         |SELECT doc_id, round(score, 6) AS score,
         |       row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
         |FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // boosted phrase leaf inside the boolean grammar: presence identical
    // to ft_bool_phrase; both phrase members score at weight 2
    "ft_bool_boost" ->
      s"""$tokCtes, w2 AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
         |), rawtok AS (
         |  SELECT doc_id, ws[p] AS term, p FROM w2, unnest(range(1, len(ws) + 1)) t(p)
         |), tokp AS (
         |  SELECT doc_id, term, row_number() OVER (PARTITION BY doc_id ORDER BY p) AS pos
         |  FROM rawtok WHERE length(term) >= 2
         |), phr AS (
         |  SELECT DISTINCT a0.doc_id FROM tokp a0
         |  JOIN tokp a1 ON a1.doc_id = a0.doc_id AND a1.pos = a0.pos + 1
         |  WHERE a0.term = 'fast' AND a1.term = 'merge'
         |), boolmatch AS (
         |  SELECT doc_id FROM alldl
         |  WHERE (doc_id IN (SELECT doc_id FROM phr)
         |         OR doc_id IN (SELECT doc_id FROM tf WHERE term = 'slow'))
         |    AND doc_id IN (SELECT doc_id FROM tf WHERE term = 'table')
         |), sc AS (
         |  SELECT tf.doc_id,
         |         sum((CASE WHEN tf.term IN ('fast', 'merge') THEN 2.0
         |              ELSE 1.0 END)
         |             * ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE tf.term IN ('fast', 'merge', 'slow', 'table')
         |    AND tf.doc_id IN (SELECT doc_id FROM boolmatch)
         |  GROUP BY tf.doc_id
         |)
         |SELECT doc_id, round(score, 6) AS score,
         |       row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
         |FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // more-like-this: term selection by (tf/df desc, term asc) — an
    // exactly portable integer-ratio ordering (see Searcher.mltTerms) —
    // then standard BM25 over the selected terms, seed excluded
    "ft_mlt" ->
      s"""$tokCtes, seedtf AS (SELECT term, tf FROM tf WHERE doc_id = 7),
         |sel AS (SELECT s.term FROM seedtf s JOIN df USING (term)
         |        ORDER BY s.tf * 1.0 / df DESC, s.term LIMIT 5),
         |sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE tf.term IN (SELECT term FROM sel) AND tf.doc_id <> 7
         |  GROUP BY tf.doc_id
         |)
         |SELECT doc_id, round(score, 6) AS score,
         |       row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
         |FROM sc ORDER BY score DESC, doc_id LIMIT 15""".stripMargin,
    // percolation: per stored query, the exact match set — presence for
    // FREE/AND/BOOL, consecutive positions for PHRASE, |Δpos| ≤ w for
    // the 2-term NEAR (minimal span over one pick per term)
    "percolate" ->
      s"""$tokCtes, w2 AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
         |), rawtok AS (
         |  SELECT doc_id, ws[p] AS term, p FROM w2, unnest(range(1, len(ws) + 1)) t(p)
         |), tokp AS (
         |  SELECT doc_id, term, row_number() OVER (PARTITION BY doc_id ORDER BY p) AS pos
         |  FROM rawtok WHERE length(term) >= 2
         |)
         |SELECT doc_id, query_id FROM (
         |  SELECT DISTINCT doc_id, 'p1' AS query_id FROM tf
         |  WHERE term IN ('fast', 'merge')
         |  UNION ALL
         |  SELECT doc_id, 'p2' FROM tf WHERE term IN ('key', 'value', 'hash')
         |  GROUP BY doc_id HAVING count(DISTINCT term) = 3
         |  UNION ALL
         |  SELECT DISTINCT a0.doc_id, 'p3' FROM tokp a0
         |  JOIN tokp a1 ON a1.doc_id = a0.doc_id AND a1.pos = a0.pos + 1
         |  WHERE a0.term = 'fast' AND a1.term = 'merge'
         |  UNION ALL
         |  SELECT DISTINCT a.doc_id, 'p4' FROM tokp a
         |  JOIN tokp b ON b.doc_id = a.doc_id AND abs(b.pos - a.pos) <= 3
         |  WHERE a.term = 'fast' AND b.term = 'sort'
         |  UNION ALL
         |  SELECT doc_id, 'p5' FROM documents
         |  WHERE doc_id IN (SELECT doc_id FROM tf WHERE term IN ('fast', 'slow'))
         |    AND doc_id NOT IN (SELECT doc_id FROM tf WHERE term = 'window')
         |) ORDER BY query_id, doc_id""".stripMargin,
    // hybrid RRF: both legs' rank CTEs mirror their standalone oracles
    // (bm25 rank window; cosine rank window excluding the seed), fused
    // by 1/(60+rank) with 0 for a missing list
    "hybrid_rrf" ->
      s"""$tokCtes, sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE tf.term IN ('fast', 'merge', 'sort', 'table')
         |  GROUP BY tf.doc_id
         |),
         |ftr AS (SELECT doc_id, rank AS ft_rank FROM (
         |  SELECT doc_id, row_number() OVER (
         |    ORDER BY round(score, 6) DESC, doc_id) AS rank FROM sc)
         |  WHERE rank <= 30),
         |qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 7),
         |cs AS (SELECT e.vec_id AS doc_id,
         |              round(list_cosine_similarity(qv.v, e.embedding::DOUBLE[]), 6) AS cos
         |       FROM embeddings e, qv WHERE e.vec_id <> 7),
         |anr AS (SELECT doc_id, rank AS ann_rank FROM (
         |  SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS rank
         |  FROM cs) WHERE rank <= 30),
         |fused AS (
         |  SELECT coalesce(ftr.doc_id, anr.doc_id) AS doc_id,
         |         round(coalesce(1.0 / (60 + ft_rank), 0) +
         |               coalesce(1.0 / (60 + ann_rank), 0), 6) AS rrf
         |  FROM ftr FULL OUTER JOIN anr ON ftr.doc_id = anr.doc_id
         |)
         |SELECT doc_id, rrf,
         |       row_number() OVER (ORDER BY rrf DESC, doc_id) AS rank
         |FROM fused ORDER BY rrf DESC, doc_id LIMIT 15""".stripMargin,
    // linear-hybrid twin: the same two top-30 windows as hybrid_rrf,
    // min-max normalized over the 6-dp rounded scores each window
    // already carries (degenerate all-equal window → 1.0), fused as
    // 0.7·text + 0.3·vector with absent sides contributing 0
    "hybrid_linear" ->
      s"""$tokCtes, sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE tf.term IN ('fast', 'merge', 'sort', 'table')
         |  GROUP BY tf.doc_id
         |),
         |ftk AS (SELECT doc_id, s FROM (
         |  SELECT doc_id, round(score, 6) AS s, row_number() OVER (
         |    ORDER BY round(score, 6) DESC, doc_id) AS rn FROM sc)
         |  WHERE rn <= 30),
         |ftn AS (SELECT doc_id,
         |               CASE WHEN mx = mn THEN 1.0
         |                    ELSE (s - mn) / (mx - mn) END AS ft_norm
         |        FROM ftk, (SELECT min(s) AS mn, max(s) AS mx FROM ftk)),
         |qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 7),
         |cs AS (SELECT e.vec_id AS doc_id,
         |              round(list_cosine_similarity(qv.v, e.embedding::DOUBLE[]), 6) AS c
         |       FROM embeddings e, qv WHERE e.vec_id <> 7),
         |ank AS (SELECT doc_id, c FROM (
         |  SELECT doc_id, c, row_number() OVER (ORDER BY c DESC, doc_id) AS rn
         |  FROM cs) WHERE rn <= 30),
         |ann AS (SELECT doc_id,
         |               CASE WHEN mx = mn THEN 1.0
         |                    ELSE (c - mn) / (mx - mn) END AS ann_norm
         |        FROM ank, (SELECT min(c) AS mn, max(c) AS mx FROM ank)),
         |fused AS (
         |  SELECT coalesce(ftn.doc_id, ann.doc_id) AS doc_id,
         |         round(0.7 * coalesce(ft_norm, 0.0) +
         |               0.3 * coalesce(ann_norm, 0.0), 6) AS fused
         |  FROM ftn FULL OUTER JOIN ann ON ftn.doc_id = ann.doc_id
         |)
         |SELECT doc_id, fused,
         |       row_number() OVER (ORDER BY fused DESC, doc_id) AS rank
         |FROM fused ORDER BY fused DESC, doc_id LIMIT 15""".stripMargin,
    // re-rank window: the bm25 rank window (same CTE as the standalone
    // oracles) re-ordered by the blended function score
    "ft_rescore" ->
      s"""$tokCtes, sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE tf.term IN ('fast', 'merge', 'sort', 'table')
         |  GROUP BY tf.doc_id
         |),
         |win AS (SELECT doc_id, round(score, 6) AS bm25 FROM (
         |  SELECT doc_id, score, row_number() OVER (
         |    ORDER BY round(score, 6) DESC, doc_id) AS rank FROM sc)
         |  WHERE rank <= 50)
         |SELECT doc_id, bm25,
         |       round(bm25 + 0.1 * ln(1.0 + n_chars), 6) AS blended,
         |       row_number() OVER (
         |         ORDER BY round(bm25 + 0.1 * ln(1.0 + n_chars), 6) DESC,
         |                  doc_id) AS rank
         |FROM win JOIN documents USING (doc_id)
         |ORDER BY blended DESC, doc_id LIMIT 15""".stripMargin,
    // gaussian-decay twin: same windowed CTE as ft_rescore, multiplier
    // exp(−d²/(2σ²)) with 2σ² = scale²/ln 2 (decayRate 0.5, ES form)
    // σ² = 300²/(−2·ln 0.5) ⇒ exp(−d²/(2σ²)) = exp(−d²·ln2/90000)
    "ft_decay" -> decaySql("exp(-pow(DD, 2) * ln(2) / 90000.0)"),
    // λ = −ln(0.5)/300 ⇒ exp(−λd) = exp(−d·ln2/300)
    "ft_decay_exp" -> decaySql("exp(-DD * ln(2) / 300.0)"),
    // s = 300/(1−0.5) = 600 ⇒ max(0, 1 − d/600)
    "ft_decay_lin" -> decaySql("greatest(0.0, 1.0 - DD / 600.0)"),
    // pinned twin: the promoted ids in their given order (NULL score),
    // then the organic rounded-rank walk excluding them
    "ft_pinned" ->
      s"""$tokCtes, sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE tf.term IN ('fast', 'merge')
         |  GROUP BY tf.doc_id
         |), org AS (
         |  SELECT doc_id, round(score, 6) AS score,
         |         row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rn
         |  FROM sc WHERE doc_id NOT IN (7, 3)
         |)
         |SELECT doc_id, rank, score FROM (
         |  SELECT p.doc_id, p.rank, 0.0::DOUBLE AS score
         |  FROM (VALUES (7::BIGINT, 1::BIGINT), (3::BIGINT, 2::BIGINT))
         |    p(doc_id, rank)
         |  UNION ALL
         |  SELECT doc_id, rn + 2 AS rank, score FROM org WHERE rn <= 13
         |) ORDER BY rank""".stripMargin,
    // term-suggester twin: DuckDB levenshtein over the df dictionary,
    // the "missing" rule as a HAVING min(dist) > 0 semi join
    "ft_term_suggest" ->
      s"""$tokCtes, inp AS (
         |  SELECT * FROM (VALUES ('fsat'), ('merg'), ('table')) i(input_term)
         |), cand AS (
         |  SELECT i.input_term, d.term AS suggestion,
         |         levenshtein(d.term, i.input_term)::BIGINT AS dist, d.df
         |  FROM df d, inp i
         |  WHERE abs(length(d.term) - length(i.input_term)) <= 2
         |    AND levenshtein(d.term, i.input_term) <= 2
         |), missing AS (
         |  SELECT input_term FROM cand GROUP BY 1 HAVING min(dist) > 0
         |), ranked AS (
         |  SELECT input_term, suggestion, dist, df,
         |         row_number() OVER (PARTITION BY input_term
         |           ORDER BY dist, df DESC, suggestion) AS rank
         |  FROM cand JOIN missing USING (input_term)
         |)
         |SELECT input_term, suggestion, dist, df, rank
         |FROM ranked WHERE rank <= 5
         |ORDER BY input_term, rank""".stripMargin,
    // SymSpell twin: the same dictionary-scan brute force as
    // ft_term_suggest — candidate completeness of the delete
    // neighborhood IS the cross-engine claim
    "ft_symspell" ->
      s"""$tokCtes, inp AS (
         |  SELECT * FROM (VALUES ('qery'), ('osrt'), ('scan')) i(input_term)
         |), cand AS (
         |  SELECT i.input_term, d.term AS suggestion,
         |         levenshtein(d.term, i.input_term)::BIGINT AS dist, d.df
         |  FROM df d, inp i
         |  WHERE levenshtein(d.term, i.input_term) <= 2
         |), missing AS (
         |  SELECT input_term FROM cand GROUP BY 1 HAVING min(dist) > 0
         |), ranked AS (
         |  SELECT input_term, suggestion, dist, df,
         |         row_number() OVER (PARTITION BY input_term
         |           ORDER BY dist, df DESC, suggestion) AS rank
         |  FROM cand JOIN missing USING (input_term)
         |)
         |SELECT input_term, suggestion, dist, df, rank
         |FROM ranked WHERE rank <= 5
         |ORDER BY input_term, rank""".stripMargin,
    // rank_feature twin: the decay windowed CTE, additive saturation
    // boost 2·nc/(nc+1000) on the rounded bm25
    "ft_rank_feature" ->
      s"""$tokCtes, sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE tf.term IN ('fast', 'merge', 'sort', 'table')
         |  GROUP BY tf.doc_id
         |),
         |win AS (SELECT doc_id, round(score, 6) AS bm25 FROM (
         |  SELECT doc_id, score, row_number() OVER (
         |    ORDER BY round(score, 6) DESC, doc_id) AS rank FROM sc)
         |  WHERE rank <= 50),
         |rf AS (
         |  SELECT doc_id, bm25,
         |         round(2.0 * n_chars / (n_chars + 1000.0), 6) AS feature,
         |         round(bm25 + 2.0 * n_chars / (n_chars + 1000.0), 6) AS total
         |  FROM win JOIN documents USING (doc_id))
         |SELECT doc_id, bm25, feature, total,
         |       row_number() OVER (ORDER BY total DESC, doc_id) AS rank
         |FROM rf ORDER BY total DESC, doc_id LIMIT 15""".stripMargin,
    // result collapse: per-source best doc by (rounded score desc,
    // doc_id asc), then the top-8 sources by (score desc, source asc)
    "ft_collapse" ->
      s"""$tokCtes, sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE tf.term IN ('fast', 'merge', 'sort', 'table')
         |  GROUP BY tf.doc_id
         |),
         |per AS (
         |  SELECT d.source, sc.doc_id, round(sc.score, 6) AS score,
         |         row_number() OVER (PARTITION BY d.source
         |           ORDER BY round(sc.score, 6) DESC, sc.doc_id) AS rn
         |  FROM sc JOIN documents d USING (doc_id)
         |)
         |SELECT source, doc_id, score,
         |       row_number() OVER (ORDER BY score DESC, source) AS rank
         |FROM per WHERE rn = 1
         |ORDER BY score DESC, source LIMIT 8""".stripMargin,
    // has_child twin: per-doc BM25 (presence-scored FREE) → exact Long
    // MICROS of the 6-dp rounded score (floor(x*1e6+0.5) = the engine's
    // Math.round — Long sums are order-free where Σ-of-doubles is not)
    // → per-source (count, sum) → score_mode=sum as one exact-int-to-
    // double division, min_children filter, (score desc, source) order
    "ft_haschild" ->
      s"""$tokCtes, sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE tf.term IN ('fast', 'merge')
         |  GROUP BY tf.doc_id
         |), mic AS (
         |  SELECT doc_id, CAST(floor(round(score, 6) * 1e6 + 0.5) AS BIGINT) AS m
         |  FROM sc
         |), rep AS (
         |  SELECT d.source, count(*)::BIGINT AS n_children, sum(mic.m) AS sm
         |  FROM mic JOIN documents d USING (doc_id)
         |  GROUP BY d.source
         |)
         |SELECT source, n_children, sm::DOUBLE / 1e6 AS score,
         |       row_number() OVER (ORDER BY sm::DOUBLE / 1e6 DESC, source) AS rank
         |FROM rep WHERE n_children >= 3
         |ORDER BY score DESC, source LIMIT 8""".stripMargin,
    // has_parent twin: the ft_haschild parent CTE chain, its top-8 rows
    // joined back to ALL their children, score/rank inherited
    "ft_hasparent" ->
      s"""$tokCtes, sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE tf.term IN ('fast', 'merge')
         |  GROUP BY tf.doc_id
         |), mic AS (
         |  SELECT doc_id, CAST(floor(round(score, 6) * 1e6 + 0.5) AS BIGINT) AS m
         |  FROM sc
         |), rep AS (
         |  SELECT d.source, count(*)::BIGINT AS n_children, sum(mic.m) AS sm
         |  FROM mic JOIN documents d USING (doc_id)
         |  GROUP BY d.source
         |), par AS (
         |  SELECT source, sm::DOUBLE / 1e6 AS parent_score,
         |         row_number() OVER (ORDER BY sm::DOUBLE / 1e6 DESC, source)
         |           AS parent_rank
         |  FROM rep WHERE n_children >= 3
         |  ORDER BY parent_score DESC, source LIMIT 8
         |)
         |SELECT d.doc_id, d.source, p.parent_score, p.parent_rank
         |FROM documents d JOIN par p USING (source)
         |ORDER BY parent_rank, doc_id""".stripMargin,
    // "did you mean": vocabulary within Levenshtein distance 2 of the
    // typo, ranked by document frequency — DuckDB's levenshtein() is the
    // same unit-cost metric as the engine's banded DP
    "ft_suggest" ->
      s"""$tokCtes
         |SELECT term, df FROM df
         |WHERE levenshtein(term, 'mrege') <= 2
         |ORDER BY df DESC, term LIMIT 5""".stripMargin,
    // phrase suggester: identical per-token candidate rule and unigram
    // LM; Σcf == Σdl (the build invariant), V = vocabulary size
    "ft_suggest_phrase" ->
      s"""$tokCtes, tot AS (
         |  SELECT sum(cf) * 1.0 AS total, count(*) * 1.0 AS v FROM df
         |), c0 AS (
         |  SELECT term, cf FROM df WHERE levenshtein(term, 'past') <= 1
         |  ORDER BY df DESC, term LIMIT 3
         |), c1 AS (
         |  SELECT term, cf FROM df WHERE levenshtein(term, 'tabl') <= 1
         |  ORDER BY df DESC, term LIMIT 3
         |)
         |SELECT suggestion, score,
         |       row_number() OVER (ORDER BY score DESC, suggestion) AS rank
         |FROM (
         |  SELECT c0.term || ' ' || c1.term AS suggestion,
         |         floor((ln(0.9 * c0.cf / tot.total + 0.1 / tot.v)
         |              + ln(0.9 * c1.cf / tot.total + 0.1 / tot.v)) * 1e6 + 0.5)
         |           / 1e6 AS score
         |  FROM c0 CROSS JOIN c1 CROSS JOIN tot)
         |ORDER BY score DESC, suggestion LIMIT 5""".stripMargin,
    // autocomplete: prefix completions ranked by popularity (df desc,
    // term asc) — the deterministic typeahead contract
    "ft_complete" ->
      s"""$tokCtes
         |SELECT term, df FROM df
         |WHERE term LIKE 's%'
         |ORDER BY df DESC, term LIMIT 5""".stripMargin,
    // total-match counts ("about N results"): presence semantics only —
    // AND = all terms present, FREE = any, absent term = 0
    "ft_count" ->
      s"""$tokCtes
         |SELECT 'and_kvh' AS q,
         |       (SELECT count(*) FROM (
         |          SELECT doc_id FROM tf WHERE term IN ('key','value','hash')
         |          GROUP BY doc_id HAVING count(*) = 3))::BIGINT AS n_docs
         |UNION ALL
         |SELECT 'free_fms',
         |       (SELECT count(DISTINCT doc_id) FROM tf
         |        WHERE term IN ('fast','merge','sort'))::BIGINT
         |UNION ALL
         |SELECT 'zero', 0::BIGINT
         |ORDER BY q""".stripMargin,
    // capped-count twin: exact counts clamped by least(cap, count) —
    // the engine's per-bucket early stop provably returns the same
    "ft_count_capped" ->
      s"""$tokCtes, boolm AS (
         |  SELECT DISTINCT doc_id FROM tf
         |  WHERE term = 'merge'
         |    AND (doc_id IN (SELECT doc_id FROM tf WHERE term = 'fast')
         |      OR doc_id IN (SELECT doc_id FROM tf WHERE term = 'slow'))
         |), kvh AS (
         |  SELECT doc_id FROM tf WHERE term IN ('key','value','hash')
         |  GROUP BY doc_id HAVING count(*) = 3
         |), fms AS (
         |  SELECT DISTINCT doc_id FROM tf
         |  WHERE term IN ('fast','merge','sort')
         |)
         |SELECT 'bool_cap40' AS q,
         |       least(40, (SELECT count(*) FROM boolm))::BIGINT AS n_docs
         |UNION ALL SELECT 'kvh_cap3', least(3, (SELECT count(*) FROM kvh))::BIGINT
         |UNION ALL SELECT 'or_cap25', least(25, (SELECT count(*) FROM fms))::BIGINT
         |UNION ALL SELECT 'or_uncapped', (SELECT count(*) FROM fms)::BIGINT
         |ORDER BY q""".stripMargin,
    // constant-score twin: the filter context — first 25 matches in
    // the engine's index order (source, doc_id), all scoring the boost
    "ft_const" ->
      s"""$tokCtes
         |SELECT doc_id, 1.5 AS score FROM (
         |  SELECT d.doc_id FROM documents d
         |  WHERE d.doc_id IN (SELECT doc_id FROM tf WHERE term = 'merge')
         |    AND (d.doc_id IN (SELECT doc_id FROM tf WHERE term = 'fast')
         |      OR d.doc_id IN (SELECT doc_id FROM tf WHERE term = 'slow'))
         |  ORDER BY d.source, d.doc_id LIMIT 25)
         |ORDER BY doc_id""".stripMargin,
    "ft_scoped" ->
      s"""$tokCtes, sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE tf.term IN ('fast', 'merge', 'sort')
         |    AND tf.doc_id IN (SELECT doc_id FROM documents WHERE source = 'src7')
         |  GROUP BY tf.doc_id
         |)
         |SELECT doc_id, round(score, 6) AS score,
         |       row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
         |FROM sc ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "dedup_exact" ->
      """SELECT sha256(text) AS text_sha, count(*)::BIGINT AS cnt,
        |       list_sort(list(doc_id)) AS ids
        |FROM documents GROUP BY text HAVING count(*) > 1
        |ORDER BY text_sha""".stripMargin,
    "dedup_jaccard" -> jaccardSql,
    // prefix-filtered join: identical output by the prefix theorem
    "dedup_jaccard_prefix" -> jaccardSql,
    "dedup_minhash" -> jaccardSql, // LSH banding at J≈0.99 pairs: recall 1 − (1−J⁴)¹⁶ ≈ 1
    // containment twin: the quadratic directed form over the same
    // shingle CTEs — denominator is the CONTAINED side's size only
    "dedup_containment" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id, ws[p] || ' ' || ws[p+1] || ' ' || ws[p+2] AS s
        |  FROM w, unnest(range(1, greatest(len(ws) - 1, 1))) t(p)
        |  WHERE len(ws) >= 3
        |), sz AS (
        |  SELECT doc_id, count(*)::BIGINT AS n FROM sh GROUP BY 1
        |), inter AS (
        |  SELECT a.doc_id AS doc_sub, b.doc_id AS doc_sup, count(*)::BIGINT AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT doc_sub, doc_sup, round(i * 1.0 / sa.n, 6) AS containment
        |FROM inter JOIN sz sa ON doc_sub = sa.doc_id
        |WHERE i * 1.0 / sa.n >= 0.8
        |ORDER BY doc_sub, doc_sup""".stripMargin,
    // heavy-hitters twin: the EXACT aggregation the two-pass MG
    // computes (pass-1 candidates are a guaranteed superset, pass-2 is
    // exact, so approximation never reaches the output)
    "heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split(text, ' '),
        |                            w -> length(w) >= 2)) AS term
        |  FROM documents
        |), n AS (SELECT count(*)::BIGINT AS n FROM toks),
        |tf AS (SELECT term, count(*)::BIGINT AS cnt FROM toks GROUP BY 1)
        |SELECT term, cnt FROM tf, n
        |WHERE cnt * 256 >= n
        |ORDER BY cnt DESC, term""".stripMargin,
    "dedup_chunks" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |c AS (SELECT doc_id, list_aggregate(ws[p:p+3], 'string_agg', ' ') AS chunk
        |      FROM ws, unnest(range(1, len(ws) - 3 + 1, 4)) t(p) WHERE len(ws) >= 4),
        |pd AS (SELECT chunk, doc_id, count(*)::BIGINT AS occ FROM c GROUP BY 1, 2),
        |f AS (SELECT *, count(*) OVER (PARTITION BY chunk) AS ndocs FROM pd),
        |agg AS (SELECT doc_id, sum(occ)::BIGINT AS n_chunks,
        |               sum(CASE WHEN ndocs >= 2 THEN occ ELSE 0 END)::BIGINT AS n_dup_chunks
        |        FROM f GROUP BY 1)
        |SELECT d.doc_id,
        |       coalesce(n_chunks, 0)::BIGINT AS n_chunks,
        |       coalesce(n_dup_chunks, 0)::BIGINT AS n_dup_chunks,
        |       CASE WHEN coalesce(n_chunks, 0) > 0
        |            THEN round(n_dup_chunks * 1.0 / n_chunks, 6) ELSE 0.0 END AS dup_frac,
        |       (CASE WHEN coalesce(n_chunks, 0) > 0
        |             THEN round(n_dup_chunks * 1.0 / n_chunks, 6) ELSE 0.0 END <= 0.2)
        |         AS keep
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // portable-simhash twin: identical md5 bit rule (bit b set iff the
    // tf-weighted ± sum over words' hash-bit-b signs is >= 0), then the
    // exact all-pairs hamming filter — the banding only ACCELERATES
    // candidate generation (pigeonhole-complete at <= 3), so the pair
    // sets coincide
    "dedup_simhash_md5" ->
      s"""$tokCtes,
         |wh AS (SELECT DISTINCT term,
         |         ('0x' || substr(md5(term), 1, 15))::BIGINT AS h FROM tf),
         |bits AS (
         |  SELECT t.doc_id, b.b,
         |    CASE WHEN sum(CASE WHEN (wh.h >> b.b) & 1 = 1
         |                       THEN t.tf ELSE -t.tf END) >= 0
         |         THEN 1::BIGINT ELSE 0::BIGINT END AS bit
         |  FROM tf t JOIN wh USING (term), range(60) b(b)
         |  GROUP BY 1, 2
         |),
         |sig AS (SELECT doc_id, sum(bit << b)::BIGINT AS sig FROM bits GROUP BY 1)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       bit_count(xor(a.sig, b.sig))::BIGINT AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    // transitive closure of the exact-Jaccard pair graph (recursive CTE)
    // — component = min reachable doc_id, the same canonical rule
    "dedup_clusters" ->
      s"""WITH RECURSIVE $jaccardCtes,
         |edges AS (
         |  SELECT doc_a AS u, doc_b AS v FROM jpairs
         |  UNION SELECT doc_b, doc_a FROM jpairs
         |),
         |reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
         |)
         |SELECT u AS doc_id, least(u, min(v))::BIGINT AS component
         |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin,
    // materialized dedup twin: the cluster closure's non-canonical
    // members anti-joined out of the corpus
    "dedup_corpus" ->
      s"""WITH RECURSIVE $jaccardCtes,
         |edges AS (
         |  SELECT doc_a AS u, doc_b AS v FROM jpairs
         |  UNION SELECT doc_b, doc_a FROM jpairs
         |),
         |reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
         |),
         |losers AS (
         |  SELECT u AS doc_id FROM reach GROUP BY u HAVING least(u, min(v)) <> u
         |)
         |SELECT doc_id, lang FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM losers)
         |ORDER BY doc_id""".stripMargin,
    // keep-best twin: the cluster closure + the text_quality composite,
    // winner = row_number over (quality desc, doc_id) per component,
    // singletons pass through with n_members 1
    "dedup_keep_best" ->
      s"""WITH RECURSIVE $jaccardCtes,
         |edges AS (
         |  SELECT doc_a AS u, doc_b AS v FROM jpairs
         |  UNION SELECT doc_b, doc_a FROM jpairs
         |),
         |reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
         |),
         |comp AS (
         |  SELECT u AS doc_id, least(u, min(v))::BIGINT AS component
         |  FROM reach GROUP BY u
         |),
         |q AS (
         |  SELECT doc_id,
         |    round(least(len(string_split(text,' ')) / 100.0, 1.0)
         |          * (len(list_distinct(string_split(text,' '))) * 1.0
         |             / len(string_split(text,' ')))
         |          * (1.0 - len(list_filter(string_split(text,' '),
         |               w -> w IN ('the','a','of','and','in','to','is'))) * 1.0
         |               / len(string_split(text,' '))), 6) AS quality
         |  FROM documents
         |),
         |winners AS (
         |  SELECT doc_id, n_members, quality FROM (
         |    SELECT c.doc_id, q.quality,
         |           count(*) OVER (PARTITION BY c.component)::BIGINT AS n_members,
         |           row_number() OVER (PARTITION BY c.component
         |             ORDER BY q.quality DESC, c.doc_id) AS rn
         |    FROM comp c JOIN q USING (doc_id))
         |  WHERE rn = 1
         |),
         |singles AS (
         |  SELECT q.doc_id, 1::BIGINT AS n_members, q.quality
         |  FROM q WHERE q.doc_id NOT IN (SELECT doc_id FROM comp)
         |)
         |SELECT * FROM winners UNION ALL SELECT * FROM singles
         |ORDER BY doc_id""".stripMargin,
    "dedup_embed" -> embedDupSql,
    // the LSH path is exact-verified, and at these parameters its recall
    // on the testdata is total — so it shares the exact oracle, the same
    // pairing dedup_minhash/dedup_jaccard use
    "dedup_embed_lsh" -> embedDupSql,
    "ann_topk" -> annTopkSql,
    // the native-expression plan shares ann_topk's oracle verbatim —
    // bit-identity across the typed and codegen paths IS the claim
    "ann_topk_native" -> annTopkSql,
    // radius twin: the brute cosine CTE with the >= threshold on the
    // SAME 6-dp rounded value
    "ann_radius" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
        |           FROM embeddings WHERE vec_id < 5)
        |SELECT q.query_id, e.vec_id AS neighbor_id,
        |       round(list_cosine_similarity(q.v, e.embedding::DOUBLE[]), 6) AS cos
        |FROM q, embeddings e
        |WHERE e.vec_id <> q.query_id
        |  AND round(list_cosine_similarity(q.v, e.embedding::DOUBLE[]), 6) >= 0.3
        |ORDER BY query_id, cos DESC, neighbor_id""".stripMargin,
    // filtered kNN twin: the brute-force CTE with the candidate side
    // pre-filtered by the docmap predicate (queries stay unfiltered)
    "ann_filtered" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
        |           FROM embeddings WHERE vec_id < 5),
        |sc AS (SELECT q.query_id, e.vec_id AS neighbor_id,
        |              round(list_cosine_similarity(q.v, e.embedding::DOUBLE[]), 6) AS cos
        |       FROM q, embeddings e
        |       WHERE e.vec_id <> q.query_id
        |         AND e.vec_id IN (SELECT doc_id FROM documents WHERE lang = 'en'))
        |SELECT query_id, neighbor_id, cos, rank FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM sc)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "knn_join" -> knnJoinSql,
    // exact at nProbe = nlist (every inverted list probed) — shares the
    // brute-force oracle, the same pairing dedup_embed_lsh uses
    "ann_ivf" -> annTopkSql,
    // SQ8 twin: the affine quantizer is closed-form, so the oracle
    // mirrors train (per-dim min/max), encode (floor(x·255/range+0.5)),
    // reconstruct, and the asymmetric cosine operation-for-operation
    "ann_sq8" ->
      """WITH st AS (
        |  SELECT pos, min(v) AS mn, max(v) AS mx FROM (
        |    SELECT generate_subscripts(embedding, 1) AS pos,
        |           unnest(embedding)::DOUBLE AS v
        |    FROM embeddings) GROUP BY pos
        |),
        |xd AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
        |         unnest(embedding)::DOUBLE AS v
        |  FROM embeddings
        |),
        |rec AS (
        |  SELECT x.vec_id, x.pos,
        |    CASE WHEN st.mx > st.mn
        |      THEN st.mn + floor((x.v - st.mn) / (st.mx - st.mn) * 255.0 + 0.5)
        |                   * (st.mx - st.mn) / 255.0
        |      ELSE st.mn END AS xhat
        |  FROM xd x JOIN st USING (pos)
        |),
        |recl AS (
        |  SELECT vec_id, list(xhat ORDER BY pos) AS vhat FROM rec GROUP BY vec_id
        |),
        |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
        |      FROM embeddings WHERE vec_id < 5),
        |sc AS (SELECT q.query_id, r.vec_id AS neighbor_id,
        |              round(list_cosine_similarity(q.v, r.vhat), 6) AS cos
        |       FROM q, recl r WHERE r.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id, cos, rank FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM sc)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    // matryoshka twin: prefix-slice cosine candidates + full-dim rescore
    "ann_matryoshka" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
        |           FROM embeddings WHERE vec_id < 5),
        |sc AS (SELECT q.query_id, e.vec_id AS neighbor_id,
        |         round(list_cosine_similarity(q.v[1:16],
        |               (e.embedding::DOUBLE[])[1:16]), 6) AS pcos
        |       FROM q, embeddings e WHERE e.vec_id <> q.query_id),
        |cand AS (SELECT query_id, neighbor_id FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY query_id ORDER BY pcos DESC, neighbor_id) AS rank
        |    FROM sc)
        |  WHERE rank <= 30),
        |ex AS (SELECT c.query_id, c.neighbor_id,
        |         round(list_cosine_similarity(q.v, e.embedding::DOUBLE[]), 6) AS cos
        |       FROM cand c JOIN q USING (query_id)
        |       JOIN embeddings e ON e.vec_id = c.neighbor_id)
        |SELECT query_id, neighbor_id, cos, rank FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM ex)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    // portable-LSH twin: md5-parity signs × SQ8 integer codes — exact
    // integer projections, so even the approximate bucket structure
    // (and thus the whole candidate/result set) reproduces byte-equal
    "ann_lsh_md5" ->
      """WITH st AS (
        |  SELECT pos, min(v) AS mn, max(v) AS mx FROM (
        |    SELECT generate_subscripts(embedding, 1) AS pos,
        |           unnest(embedding)::DOUBLE AS v
        |    FROM embeddings) GROUP BY pos
        |),
        |xd AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
        |         unnest(embedding)::DOUBLE AS v
        |  FROM embeddings
        |),
        |code AS (
        |  SELECT x.vec_id, x.pos,
        |    CASE WHEN st.mx > st.mn
        |      THEN CAST(floor((x.v - st.mn) / (st.mx - st.mn) * 255.0 + 0.5) AS BIGINT)
        |      ELSE 0 END AS c
        |  FROM xd x JOIN st USING (pos)
        |),
        |sg AS (
        |  SELECT rt.t, rp.p, rd.d,
        |    CASE WHEN ('0x' || substr(md5(rt.t::VARCHAR || ':' || rp.p::VARCHAR
        |                                  || ':' || rd.d::VARCHAR), 1, 15))::BIGINT
        |              & 1 = 1 THEN 1 ELSE -1 END AS s
        |  FROM range(8) rt(t), range(10) rp(p), range(64) rd(d)
        |),
        |proj AS (
        |  SELECT c.vec_id, sg.t, sg.p, sum(sg.s * c.c) AS acc
        |  FROM code c JOIN sg ON sg.d = c.pos - 1
        |  GROUP BY 1, 2, 3
        |),
        |sig AS (
        |  SELECT vec_id, t,
        |         sum(CASE WHEN acc >= 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS sig
        |  FROM proj GROUP BY 1, 2
        |),
        |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
        |      FROM embeddings WHERE vec_id < 5),
        |cand AS (
        |  SELECT DISTINCT qs.vec_id AS query_id, cs.vec_id AS neighbor_id
        |  FROM sig qs JOIN sig cs ON qs.t = cs.t AND qs.sig = cs.sig
        |  WHERE qs.vec_id < 5 AND cs.vec_id <> qs.vec_id
        |),
        |sc AS (SELECT c.query_id, c.neighbor_id,
        |              round(list_cosine_similarity(q.v, e.embedding::DOUBLE[]), 6) AS cos
        |       FROM cand c JOIN q USING (query_id)
        |       JOIN embeddings e ON e.vec_id = c.neighbor_id)
        |SELECT query_id, neighbor_id, cos, rank FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM sc)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    // rescore twin: the ann_sq8 CTE stack widened to k·3 candidates,
    // then exact float cosine re-ranked over the candidate set only
    "ann_sq8_rescore" ->
      """WITH st AS (
        |  SELECT pos, min(v) AS mn, max(v) AS mx FROM (
        |    SELECT generate_subscripts(embedding, 1) AS pos,
        |           unnest(embedding)::DOUBLE AS v
        |    FROM embeddings) GROUP BY pos
        |),
        |xd AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
        |         unnest(embedding)::DOUBLE AS v
        |  FROM embeddings
        |),
        |rec AS (
        |  SELECT x.vec_id, x.pos,
        |    CASE WHEN st.mx > st.mn
        |      THEN st.mn + floor((x.v - st.mn) / (st.mx - st.mn) * 255.0 + 0.5)
        |                   * (st.mx - st.mn) / 255.0
        |      ELSE st.mn END AS xhat
        |  FROM xd x JOIN st USING (pos)
        |),
        |recl AS (
        |  SELECT vec_id, list(xhat ORDER BY pos) AS vhat FROM rec GROUP BY vec_id
        |),
        |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
        |      FROM embeddings WHERE vec_id < 5),
        |sc AS (SELECT q.query_id, r.vec_id AS neighbor_id,
        |              round(list_cosine_similarity(q.v, r.vhat), 6) AS qcos
        |       FROM q, recl r WHERE r.vec_id <> q.query_id),
        |cand AS (SELECT query_id, neighbor_id FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY query_id ORDER BY qcos DESC, neighbor_id) AS rank
        |    FROM sc)
        |  WHERE rank <= 30),
        |ex AS (SELECT c.query_id, c.neighbor_id,
        |              round(list_cosine_similarity(q.v, e.embedding::DOUBLE[]), 6) AS cos
        |       FROM cand c JOIN q USING (query_id)
        |       JOIN embeddings e ON e.vec_id = c.neighbor_id)
        |SELECT query_id, neighbor_id, cos, rank FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM ex)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "text_quality" ->
      """SELECT doc_id,
        |  len(string_split(text,' '))::BIGINT AS n_tokens,
        |  len(list_distinct(string_split(text,' ')))::BIGINT AS n_types,
        |  round((length(text) - len(string_split(text,' ')) + 1) * 1.0
        |        / len(string_split(text,' ')), 6) AS avg_word_len,
        |  round(len(list_distinct(string_split(text,' '))) * 1.0
        |        / len(string_split(text,' ')), 6) AS ttr,
        |  round(len(list_filter(string_split(text,' '),
        |        w -> w IN ('the','a','of','and','in','to','is'))) * 1.0
        |        / len(string_split(text,' ')), 6) AS stop_ratio,
        |  round(least(len(string_split(text,' ')) / 100.0, 1.0)
        |        * (len(list_distinct(string_split(text,' '))) * 1.0
        |           / len(string_split(text,' ')))
        |        * (1.0 - len(list_filter(string_split(text,' '),
        |             w -> w IN ('the','a','of','and','in','to','is'))) * 1.0
        |             / len(string_split(text,' '))), 6) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,
    "lang_id" ->
      """WITH c AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(string_split(text,' '),
        |        w -> w IN ('the','a','and','of','is')))::BIGINT AS en_c,
        |    len(list_filter(string_split(text,' '),
        |        w -> w IN ('der','die','das','und','ist')))::BIGINT AS de_c,
        |    len(list_filter(string_split(text,' '),
        |        w -> w IN ('le','la','et','les','est')))::BIGINT AS fr_c
        |  FROM documents)
        |SELECT doc_id, en_c AS en_hits,
        |  CASE WHEN en_c >= (CASE WHEN de_c >= fr_c THEN de_c ELSE fr_c END) THEN 'en'
        |       WHEN de_c >= fr_c THEN 'de' ELSE 'fr' END AS lang_guess,
        |  (CASE WHEN en_c >= (CASE WHEN de_c >= fr_c THEN de_c ELSE fr_c END) THEN 'en'
        |        WHEN de_c >= fr_c THEN 'de' ELSE 'fr' END) = lang AS agrees
        |FROM c ORDER BY doc_id""".stripMargin,
    "token_count" ->
      """SELECT doc_id,
        |  len(string_split(text,' '))::BIGINT AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-z]+'))::BIGINT AS alpha_tokens,
        |  (length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')))::BIGINT AS n_vowels
        |FROM documents ORDER BY doc_id""".stripMargin,
    "fingerprint" ->
      """SELECT doc_id,
        |  list_min(list_transform(string_split(text,' '),
        |    w -> ('0x' || substr(md5(w), 1, 15))::BIGINT)) AS min_word_hash,
        |  sha256(text) AS text_sha
        |FROM documents ORDER BY doc_id""".stripMargin,
    // winnowing twin: same md5-48-bit gram hash; per window-start the
    // min hash, rightmost occurrence on ties (max pos among minima)
    "winnow" ->
      """WITH w2 AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |), g AS (
        |  SELECT doc_id, p,
        |         ('0x' || substr(md5(array_to_string(ws[p:p+3], ' ')), 1, 12))::BIGINT AS h
        |  FROM w2, unnest(range(1, len(ws) - 4 + 2)) t(p)
        |  WHERE len(ws) >= 4
        |), nstart AS (
        |  SELECT doc_id, greatest(1, max(p) - 5 + 1) AS lastp FROM g GROUP BY 1
        |), mn AS (
        |  SELECT g.doc_id, g.p AS s, min(g2.h) AS mh
        |  FROM g
        |  JOIN nstart USING (doc_id)
        |  JOIN g g2 ON g2.doc_id = g.doc_id AND g2.p BETWEEN g.p AND g.p + 4
        |  WHERE g.p <= nstart.lastp
        |  GROUP BY g.doc_id, g.p
        |), sel AS (
        |  SELECT m.doc_id, max(g.p) AS pos, m.mh AS h
        |  FROM mn m
        |  JOIN g ON g.doc_id = m.doc_id AND g.p BETWEEN m.s AND m.s + 4
        |        AND g.h = m.mh
        |  GROUP BY m.doc_id, m.s, m.mh
        |)
        |SELECT DISTINCT doc_id, pos::BIGINT AS pos, h FROM sel
        |ORDER BY doc_id, pos""".stripMargin,
    // count-min twin: the identical 4×512 md5 grid (cells from every
    // token occurrence), probed by the exact top-15 terms
    "cms_topterms" ->
      s"""$tokCtes,
         |cells AS (
         |  SELECT r.i,
         |         ('0x' || substr(md5(r.i::VARCHAR || ':' || t.term), 1, 15))::BIGINT
         |           % 512 AS bucket,
         |         count(*)::BIGINT AS cnt
         |  FROM tok2 t, range(4) r(i) GROUP BY 1, 2
         |),
         |top AS (SELECT term, cf FROM df ORDER BY cf DESC, term LIMIT 15),
         |pc AS (SELECT term, r.i,
         |         ('0x' || substr(md5(r.i::VARCHAR || ':' || term), 1, 15))::BIGINT
         |           % 512 AS bucket
         |       FROM top, range(4) r(i)),
         |est AS (SELECT pc.term, min(coalesce(c.cnt, 0))::BIGINT AS est
         |        FROM pc LEFT JOIN cells c ON pc.i = c.i AND pc.bucket = c.bucket
         |        GROUP BY pc.term)
         |SELECT t.term, t.cf, e.est FROM top t JOIN est e USING (term)
         |ORDER BY cf DESC, term""".stripMargin,
    // bloom twin: the identical md5 position rule — a doc is positive
    // iff EVERY one of its (distinct) positions was set by some
    // blocklist key; exact = sha membership in the blocklist itself
    "bloom_prefilter" ->
      """WITH bl AS (
        |  SELECT DISTINCT sha256(text) AS key FROM documents WHERE source = 'src0'
        |), setpos AS (
        |  SELECT DISTINCT ('0x' || substr(md5(r.i::VARCHAR || ':' || key), 1, 15))::BIGINT
        |           % 65536 AS pos
        |  FROM bl, range(4) r(i)
        |), dk AS (
        |  SELECT doc_id, sha256(text) AS key FROM documents
        |), dp AS (
        |  SELECT DISTINCT doc_id, key,
        |         ('0x' || substr(md5(r.i::VARCHAR || ':' || key), 1, 15))::BIGINT
        |           % 65536 AS pos
        |  FROM dk, range(4) r(i)
        |), m AS (
        |  SELECT d.doc_id, d.key, count(*) AS tot, count(s.pos) AS hit
        |  FROM dp d LEFT JOIN setpos s USING (pos) GROUP BY 1, 2
        |)
        |SELECT doc_id, (key IN (SELECT key FROM bl)) AS exact
        |FROM m WHERE tot = hit ORDER BY doc_id""".stripMargin,
    "decontam" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id, source, ws[p] || ' ' || ws[p+1] || ' ' || ws[p+2] AS g
        |  FROM w, unnest(range(1, greatest(len(ws) - 1, 1))) t(p)
        |  WHERE len(ws) >= 3
        |),
        |bench AS (SELECT DISTINCT g FROM g WHERE source = 'src0'),
        |agg AS (
        |  SELECT t.doc_id, count(*)::BIGINT AS n_grams,
        |         sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hits
        |  FROM (SELECT doc_id, g FROM g WHERE source <> 'src0') t
        |  LEFT JOIN bench b USING (g) GROUP BY 1
        |)
        |SELECT d.doc_id,
        |       coalesce(n_grams, 0)::BIGINT AS n_grams,
        |       coalesce(n_hits, 0)::BIGINT AS n_hits,
        |       CASE WHEN coalesce(n_grams, 0) > 0
        |            THEN round(n_hits * 1.0 / n_grams, 6) ELSE 0.0 END AS overlap,
        |       (CASE WHEN coalesce(n_grams, 0) > 0
        |             THEN round(n_hits * 1.0 / n_grams, 6) ELSE 0.0 END >= 0.5)
        |         AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d
        |LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "pii_scrub" ->
      """WITH aug AS (SELECT doc_id,
        |  text || ' contact dev' || doc_id || '@example.com from 10.0.' ||
        |    (doc_id % 256) || '.7' AS text
        |  FROM documents),
        |red AS (SELECT doc_id, text,
        |  regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g') AS clean
        |  FROM aug)
        |SELECT doc_id,
        |  len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
        |  len(regexp_extract_all(text,
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}'))::BIGINT AS n_ips,
        |  length(clean)::BIGINT AS clean_len,
        |  sha256(clean) AS clean_sha
        |FROM red ORDER BY doc_id""".stripMargin,
    "rep_quality" ->
      """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
        |g AS (SELECT doc_id, ws[p] || ' ' || ws[p+1] AS g
        |      FROM w, unnest(range(1, greatest(len(ws), 1))) t(p) WHERE len(ws) >= 2),
        |pg AS (SELECT doc_id, g, count(*)::BIGINT AS c FROM g GROUP BY 1, 2),
        |pd AS (SELECT doc_id, sum(c)::BIGINT AS n_grams, max(c)::BIGINT AS top_gram_count,
        |              sum(CASE WHEN c >= 2 THEN c ELSE 0 END)::BIGINT AS dup_occ
        |       FROM pg GROUP BY 1)
        |SELECT d.doc_id,
        |       coalesce(n_grams, 0)::BIGINT AS n_grams,
        |       coalesce(top_gram_count, 0)::BIGINT AS top_gram_count,
        |       CASE WHEN coalesce(n_grams, 0) > 0
        |            THEN round(dup_occ * 1.0 / n_grams, 6) ELSE 0.0 END AS dup_ratio,
        |       (CASE WHEN coalesce(n_grams, 0) > 0
        |             THEN round(dup_occ * 1.0 / n_grams, 6) ELSE 0.0 END <= 0.2) AS keep
        |FROM documents d LEFT JOIN pd USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // model-based quality filter: per-token md5 hash weights on a 2^-10
    // grid (token sums EXACT ⇒ order-independent), mean-pooled; the
    // rounding tie rule is spelled out (floor(x·1e6+0.5)/1e6) because a
    // mean can land exactly on a 6-dp half where round() tie rules
    // differ across engines; keep compares on the rounded score
    "quality_model" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |), t2 AS (
        |  SELECT doc_id, term,
        |         (('0x' || substr(md5(term), 1, 6))::BIGINT % 2001 - 1000) / 1024.0 AS wt
        |  FROM tok WHERE length(term) >= 2
        |), s AS (
        |  SELECT doc_id, sum(wt) AS swt, count(*)::BIGINT AS dl
        |  FROM t2 GROUP BY 1
        |), q AS (
        |  SELECT d.doc_id,
        |         floor((CASE WHEN coalesce(dl, 0) = 0 THEN 0.0 ELSE swt / dl END) * 1e6 + 0.5) / 1e6 AS quality
        |  FROM documents d LEFT JOIN s USING (doc_id)
        |)
        |SELECT doc_id, quality, (quality > 0.0) AS keep
        |FROM q ORDER BY doc_id""".stripMargin,
    // unigram JM-smoothed LM perplexity over the token stream (repeats
    // included — the LM convention); Σ ln carries ~1e-15 relative error
    // (the bm25-twin regime), far inside the 6-dp round
    "lm_perplexity" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |), tok2 AS (
        |  SELECT doc_id, term FROM tok WHERE length(term) >= 2
        |), lm AS (
        |  SELECT term, count(*)::BIGINT AS cf FROM tok2 GROUP BY 1
        |), tot AS (
        |  SELECT sum(cf) * 1.0 AS total, count(*) * 1.0 AS v FROM lm
        |), sc AS (
        |  SELECT t.doc_id,
        |         sum(-ln(0.9 * lm.cf / tot.total + 0.1 / tot.v)) AS s,
        |         count(*)::BIGINT AS n
        |  FROM tok2 t JOIN lm USING (term) CROSS JOIN tot
        |  GROUP BY t.doc_id
        |), q AS (
        |  SELECT d.doc_id,
        |         CASE WHEN sc.n IS NULL THEN 1.0 ELSE round(exp(sc.s / sc.n), 6) END AS perplexity
        |  FROM documents d LEFT JOIN sc USING (doc_id)
        |)
        |SELECT doc_id, perplexity, (perplexity <= 29.2) AS keep
        |FROM q ORDER BY doc_id""".stripMargin,
    // DSIR: same md5 feature hash, same add-one smoothing; the twin sums
    // per token where the engine sums per bucket — identical values, and
    // the ~1e-15 ln drift sits far inside the 6-dp floor round
    "dsir_sample" ->
      """WITH tok AS (
        |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS term FROM documents
        |), tok2 AS (
        |  SELECT doc_id, source, term FROM tok WHERE length(term) >= 2
        |), tb AS (
        |  SELECT doc_id, source,
        |         ('0x' || substr(md5(term), 1, 6))::BIGINT % 64 AS b
        |  FROM tok2
        |), tgt AS (
        |  SELECT b, count(*)::BIGINT AS c FROM tb WHERE source = 'src0' GROUP BY 1
        |), rawc AS (
        |  SELECT b, count(*)::BIGINT AS c FROM tb WHERE source <> 'src0' GROUP BY 1
        |), tots AS (
        |  SELECT (SELECT coalesce(sum(c), 0) FROM tgt) + 64.0 AS tt,
        |         (SELECT coalesce(sum(c), 0) FROM rawc) + 64.0 AS tr
        |), lam AS (
        |  SELECT bs.b, ln((coalesce(tgt.c, 0) + 1.0) / tots.tt)
        |             - ln((coalesce(rawc.c, 0) + 1.0) / tots.tr) AS l
        |  FROM (SELECT unnest(range(0, 64)) AS b) bs
        |  LEFT JOIN tgt USING (b) LEFT JOIN rawc USING (b) CROSS JOIN tots
        |), sc AS (
        |  SELECT tb.doc_id, sum(lam.l) AS s, count(*)::BIGINT AS n
        |  FROM tb JOIN lam USING (b) WHERE tb.source <> 'src0' GROUP BY 1
        |)
        |SELECT d.doc_id, coalesce(sc.n, 0)::BIGINT AS n_toks,
        |       floor(coalesce(sc.s, 0.0) * 1e6 + 0.5) / 1e6 AS weight,
        |       (floor(coalesce(sc.s, 0.0) * 1e6 + 0.5) / 1e6 > 0.0) AS keep
        |FROM documents d LEFT JOIN sc USING (doc_id)
        |WHERE d.source <> 'src0' ORDER BY doc_id""".stripMargin,
    "strat_sample" ->
      """SELECT doc_id, lang, bucket FROM (
        |  SELECT doc_id, lang,
        |         ('0x' || substr(md5(doc_id::VARCHAR), 1, 6))::BIGINT % 100 AS bucket
        |  FROM documents)
        |WHERE bucket < CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 100
        |                         WHEN 'fr' THEN 25 ELSE 10 END
        |ORDER BY doc_id""".stripMargin,
    "split_by_repo" ->
      """SELECT doc_id, source,
        |       CASE WHEN ('0x' || substr(md5(source), 1, 6))::BIGINT % 100 < 90
        |            THEN 'train' ELSE 'eval' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "seq_pack" ->
      """WITH dl AS (SELECT doc_id,
        |    len(list_filter(string_split(text,' '), t -> length(t) >= 2))::BIGINT AS dl
        |  FROM documents),
        |o AS (SELECT doc_id, dl, (sum(dl) OVER (ORDER BY doc_id) - dl)::BIGINT AS off
        |      FROM dl WHERE dl > 0),
        |spans AS (SELECT doc_id, dl, off,
        |                 unnest(range(off // 128, (off + dl - 1) // 128 + 1)) AS seq_id
        |          FROM o)
        |SELECT seq_id::BIGINT AS seq_id, doc_id,
        |       greatest(0, seq_id * 128 - off)::BIGINT AS tok_start,
        |       (least(dl, (seq_id + 1) * 128 - off) -
        |        greatest(0, seq_id * 128 - off))::BIGINT AS n_toks
        |FROM spans ORDER BY seq_id, doc_id""".stripMargin,
    // ordered in-doc pairs at distance 1..2 over the filtered token
    // stream (positions = row_number over the split stream, the same
    // coordinate space the positional index stores)
    "cooc_pairs" ->
      """WITH w2 AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |), rawtok AS (
        |  SELECT doc_id, ws[p] AS term, p FROM w2, unnest(range(1, len(ws) + 1)) t(p)
        |), tokp AS (
        |  SELECT doc_id, term, row_number() OVER (PARTITION BY doc_id ORDER BY p) AS pos
        |  FROM rawtok WHERE length(term) >= 2
        |)
        |SELECT a.term AS term_a, b.term AS term_b, count(*)::BIGINT AS n
        |FROM tokp a JOIN tokp b
        |  ON b.doc_id = a.doc_id AND b.pos > a.pos AND b.pos - a.pos <= 2
        |GROUP BY 1, 2 HAVING count(*) >= 5
        |ORDER BY term_a, term_b""".stripMargin,
    // PPMI twin: same unfloored pair table for marginals, identical
    // IEEE expression tree ((n̂·N̂)/(r̂·ĉ), casts first, ln, clamp,
    // explicit half-up 6-dp round), output pairs floored at 5
    "ppmi_colloc" ->
      """WITH w2 AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |), rawtok AS (
        |  SELECT doc_id, ws[p] AS term, p FROM w2, unnest(range(1, len(ws) + 1)) t(p)
        |), tokp AS (
        |  SELECT doc_id, term, row_number() OVER (PARTITION BY doc_id ORDER BY p) AS pos
        |  FROM rawtok WHERE length(term) >= 2
        |), pairs AS (
        |  SELECT a.term AS term_a, b.term AS term_b, count(*)::BIGINT AS n
        |  FROM tokp a JOIN tokp b
        |    ON b.doc_id = a.doc_id AND b.pos > a.pos AND b.pos - a.pos <= 2
        |  GROUP BY 1, 2
        |), tot AS (SELECT sum(n)::DOUBLE AS nn FROM pairs),
        | rm AS (SELECT term_a, sum(n)::DOUBLE AS row_n FROM pairs GROUP BY 1),
        | cm AS (SELECT term_b, sum(n)::DOUBLE AS col_n FROM pairs GROUP BY 1)
        |SELECT p.term_a, p.term_b, p.n,
        |       floor(greatest(ln(p.n::DOUBLE * tot.nn / (rm.row_n * cm.col_n)),
        |                      0.0) * 1e6 + 0.5) / 1e6 AS ppmi
        |FROM pairs p
        |JOIN rm ON rm.term_a = p.term_a
        |JOIN cm ON cm.term_b = p.term_b
        |CROSS JOIN tot
        |WHERE p.n >= 5
        |ORDER BY p.term_a, p.term_b""".stripMargin,
    "mm_features" ->
      """SELECT doc_id, octet_length(encode(text))::BIGINT AS n_bytes,
        |       sha256(text) AS sha
        |FROM documents ORDER BY doc_id""".stripMargin,
    // container-parse twin: the PLANTED dimension rule recomputed from
    // the source — the Spark side must recover it from the bytes
    // coalesce(text, '') mirrors ingestPng's Option(text).getOrElse("")
    // — both sides treat a null-text document as an empty payload, so
    // the twin cannot diverge if one ever enters the corpus
    "mm_dims" ->
      """SELECT doc_id AS id,
        |       (octet_length(encode(coalesce(text, ''))) % 1024 + 16)::BIGINT AS width,
        |       (octet_length(encode(coalesce(text, ''))) % 767 + 9)::BIGINT AS height,
        |       8::BIGINT AS bit_depth, 2::BIGINT AS color_type,
        |       octet_length(encode(coalesce(text, '')))::BIGINT AS n_payload
        |FROM documents ORDER BY doc_id""".stripMargin,
    // WAV twin: the planted PCM header fields recomputed from the
    // source payload length (same coalesce convention as mm_dims)
    "mm_wav_dims" ->
      """WITH src AS (
        |  SELECT doc_id, octet_length(encode(coalesce(text, ''))) AS n
        |  FROM documents
        |)
        |SELECT doc_id AS id, 1::BIGINT AS fmt_tag,
        |       (n % 2 + 1)::BIGINT AS channels,
        |       (n % 32000 + 8000)::BIGINT AS sample_rate,
        |       ((n % 32000 + 8000) * (n % 2 + 1) * 2)::BIGINT AS byte_rate,
        |       ((n % 2 + 1) * 2)::BIGINT AS block_align,
        |       16::BIGINT AS bits_per_sample,
        |       n::BIGINT AS data_len
        |FROM src ORDER BY doc_id""".stripMargin,
    // pixel-decode twin: dims from the planted rule, pixel bytes ==
    // the source payload (the short-last-row scanline layout keeps
    // that invariant), so sha256(text) IS the pixel hash ground truth
    "mm_png_pixels" ->
      """WITH src AS (
        |  SELECT doc_id, coalesce(text, '') AS t,
        |         octet_length(encode(coalesce(text, ''))) AS n
        |  FROM documents
        |)
        |SELECT doc_id AS id,
        |       (n % 256 + 16)::BIGINT AS width,
        |       ((n + (n % 256 + 16) - 1) // (n % 256 + 16))::BIGINT AS height,
        |       n::BIGINT AS n_pixel_bytes,
        |       sha256(t) AS pixel_sha256
        |FROM src ORDER BY doc_id""".stripMargin,
    // PCM twin: the same 16-bit LE sample arithmetic over the source
    // text's bytes (corpus is pure ASCII, so ord(char) == byte value;
    // the >=32768 sign branch is mirrored though ASCII high bytes
    // < 0x80 can never trip it). A trailing odd byte is ignored on
    // both sides (n_samples = n // 2).
    "mm_wav_pcm" ->
      """WITH src AS (
        |  SELECT doc_id, coalesce(text, '') AS t,
        |         octet_length(encode(coalesce(text, ''))) AS n
        |  FROM documents
        |), samp AS (
        |  SELECT s.doc_id,
        |         ord(substr(s.t, (2 * i.i - 1)::INT, 1)) +
        |         256 * ord(substr(s.t, (2 * i.i)::INT, 1)) AS u
        |  FROM src s, UNNEST(range(1, s.n // 2 + 1)) AS i(i)
        |), sgn AS (
        |  SELECT doc_id,
        |         CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS v
        |  FROM samp
        |)
        |SELECT s.doc_id AS id, (s.n // 2)::BIGINT AS n_samples,
        |       coalesce(g.sum_v, 0)::BIGINT AS sum_pcm,
        |       coalesce(g.min_v, 0)::BIGINT AS min_pcm,
        |       coalesce(g.max_v, 0)::BIGINT AS max_pcm
        |FROM src s LEFT JOIN (
        |  SELECT doc_id, sum(v) AS sum_v, min(v) AS min_v, max(v) AS max_v
        |  FROM sgn GROUP BY doc_id
        |) g USING (doc_id)
        |ORDER BY id""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_price,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*)::BIGINT AS cnt
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_join_rev" ->
      """SELECT n_name, count(*)::BIGINT AS n_orders,
        |       round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_window_top3" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_setop" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_custkey""".stripMargin,
    "ft_sql_udtf" ->
      s"""$tokCtes
         |SELECT doc_id, term, tf FROM tf ORDER BY doc_id, term""".stripMargin,
    // cube twin: GROUP BY CUBE with the same ALL-coalesce render
    "q_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS st,
        |       coalesce(o_orderpriority, 'ALL') AS pri,
        |       count(*)::BIGINT AS cnt, round(sum(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY st, pri""".stripMargin,
    // pivot twin: conditional aggregation (FILTER) — deterministic and
    // engine-portable where PIVOT syntax is not
    "q_pivot" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day,
        |       count(*) FILTER (WHERE event_type = 'click')::BIGINT AS click,
        |       count(*) FILTER (WHERE event_type = 'error')::BIGINT AS error,
        |       count(*) FILTER (WHERE event_type = 'purchase')::BIGINT AS purchase,
        |       count(*) FILTER (WHERE event_type = 'signup')::BIGINT AS signup,
        |       count(*) FILTER (WHERE event_type = 'view')::BIGINT AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |       coalesce(l_linestatus, 'ALL') AS ls,
        |       count(*)::BIGINT AS cnt, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    // exact percentiles: Spark `percentile` and DuckDB quantile_cont
    // share the linear-interpolation definition over the sorted values
    "q_percentile" ->
      """SELECT l_returnflag,
        |       round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
        |       round(quantile_cont(l_extendedprice, 0.95), 6) AS p95,
        |       round(quantile_cont(l_extendedprice, 0.99), 6) AS p99
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_window_frame" ->
      """SELECT o_orderkey, o_custkey,
        |       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |         ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_rev
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin,
    "q_events_daily" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
        |       count(*)::BIGINT AS cnt, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_events_json" ->
      """SELECT event_type, count(*)::BIGINT AS cnt,
        |       round(avg(json_extract_string(props, '$.k')::BIGINT), 6) AS avg_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_events_hourly" ->
      """SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS win_start,
        |       event_type, count(*)::BIGINT AS cnt,
        |       round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // retention twin: the same first-seen decomposition + integer
    // epoch-day arithmetic + floor-rounded pct
    "q_retention" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id,
        |         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day
        |  FROM events
        |), fs AS (
        |  SELECT user_id, min(day) AS cohort FROM act GROUP BY 1
        |), sizes AS (
        |  SELECT cohort, count(*)::BIGINT AS cohort_users FROM fs GROUP BY 1
        |), ret AS (
        |  SELECT fs.cohort, act.day - fs.cohort AS day_offset,
        |         count(*)::BIGINT AS returning
        |  FROM act JOIN fs USING (user_id)
        |  WHERE act.day - fs.cohort BETWEEN 1 AND 7
        |  GROUP BY 1, 2
        |)
        |SELECT strftime(epoch_ms(ret.cohort * 86400000), '%Y-%m-%d')
        |         AS cohort_day,
        |       ret.day_offset, sizes.cohort_users, ret.returning,
        |       floor(ret.returning * 100.0 / sizes.cohort_users * 1e6 + 0.5)
        |         / 1e6 AS pct
        |FROM ret JOIN sizes USING (cohort)
        |ORDER BY cohort_day, day_offset""".stripMargin,
    // funnel twin: the same per-start greedy chains as nested min()
    // subqueries (the intervals-twin pattern over time instead of
    // positions), furthest step maxed per user
    "q_funnel" ->
      """WITH v AS (SELECT user_id, epoch_us(ts) AS t FROM events
        |           WHERE event_type = 'view'),
        |c AS (SELECT user_id, epoch_us(ts) AS t FROM events
        |      WHERE event_type = 'click'),
        |p AS (SELECT user_id, epoch_us(ts) AS t FROM events
        |      WHERE event_type = 'purchase'),
        |chain AS (
        |  SELECT v.user_id, v.t AS t1,
        |         (SELECT min(c.t) FROM c
        |          WHERE c.user_id = v.user_id AND c.t > v.t
        |            AND c.t <= v.t + 21600000000::BIGINT) AS t2
        |  FROM v
        |), chain3 AS (
        |  SELECT user_id, t2,
        |         CASE WHEN t2 IS NULL THEN NULL ELSE
        |           (SELECT min(p.t) FROM p
        |            WHERE p.user_id = chain.user_id AND p.t > t2
        |              AND p.t <= t2 + 21600000000::BIGINT) END AS t3
        |  FROM chain
        |), per_user AS (
        |  SELECT user_id,
        |         max(CASE WHEN t3 IS NOT NULL THEN 3
        |                  WHEN t2 IS NOT NULL THEN 2 ELSE 1 END) AS furthest
        |  FROM chain3 GROUP BY 1
        |), counts AS (
        |  SELECT furthest, count(*)::BIGINT AS n FROM per_user GROUP BY 1
        |)
        |SELECT s.step,
        |       CASE s.step WHEN 1 THEN 'view' WHEN 2 THEN 'click'
        |            ELSE 'purchase' END AS event_type,
        |       (SELECT coalesce(sum(n), 0) FROM counts
        |        WHERE furthest >= s.step)::BIGINT AS n_users,
        |       floor((SELECT coalesce(sum(n), 0) FROM counts
        |              WHERE furthest >= s.step) * 100.0
        |             / (SELECT sum(n) FROM counts) * 1e6 + 0.5) / 1e6
        |         AS pct_of_first
        |FROM (SELECT unnest(range(1, 4)) AS step) s
        |ORDER BY step""".stripMargin,
    // sessionization twin: identical lag-flag/running-sum windows over
    // the same total (ts, event_id) per-user order
    "q_sessions" ->
      """WITH f AS (
        |  SELECT user_id, ts, event_id, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
        |                   > 21600000000::BIGINT THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sid AS (
        |  SELECT user_id, ts, value,
        |         CAST(sum(is_new) OVER (
        |           PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS session_id
        |  FROM f
        |)
        |SELECT user_id, session_id, count(*)::BIGINT AS n_events,
        |       (max(epoch_us(ts)) - min(epoch_us(ts)))::BIGINT AS duration_us,
        |       round(sum(value), 4) AS sum_value
        |FROM sid GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // as-of twin: the SAME union + keyed-window carry-forward (total
    // (ts, side, id) order, frame ending 1 PRECEDING ⇒ strict-<), kept
    // deliberately over DuckDB's native ASOF JOIN whose equal-ts
    // tie-break is not pinned
    "q_asof" ->
      """WITH u AS (
        |  SELECT user_id AS k, ts AS t, 0 AS side, event_id AS id,
        |         NULL::BIGINT AS rid, NULL::TIMESTAMP AS rt
        |  FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, ts, 1, event_id, event_id, ts
        |  FROM events WHERE event_type = 'click'
        |), c AS (
        |  SELECT k, t, side, id,
        |         last_value(rid IGNORE NULLS) OVER w AS prior_event_id,
        |         last_value(rt IGNORE NULLS) OVER w AS prior_t
        |  FROM u
        |  WINDOW w AS (PARTITION BY k ORDER BY t, side, id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |)
        |SELECT id AS event_id, k AS user_id, prior_event_id,
        |       (epoch_us(t) - epoch_us(prior_t))::BIGINT AS gap_us
        |FROM c WHERE side = 0 ORDER BY event_id""".stripMargin,
    // forward as-of twin: side encoding flipped (right = 0 < left = 1)
    // so an equal-ts right row sorts OUTSIDE the following frame —
    // strict-> from the frame bound, smallest-id tie via first_value
    "q_asof_next" ->
      """WITH u AS (
        |  SELECT user_id AS k, ts AS t, 1 AS side, event_id AS id,
        |         NULL::BIGINT AS rid, NULL::TIMESTAMP AS rt
        |  FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, ts, 0, event_id, event_id, ts
        |  FROM events WHERE event_type = 'click'
        |), c AS (
        |  SELECT k, t, side, id,
        |         first_value(rid IGNORE NULLS) OVER w AS next_event_id,
        |         first_value(rt IGNORE NULLS) OVER w AS next_t
        |  FROM u
        |  WINDOW w AS (PARTITION BY k ORDER BY t, side, id
        |               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
        |)
        |SELECT id AS event_id, k AS user_id, next_event_id,
        |       (epoch_us(next_t) - epoch_us(t))::BIGINT AS gap_us
        |FROM c WHERE side = 1 ORDER BY event_id""".stripMargin,
    // cumulative-cardinality twin: the same first-seen decomposition —
    // cumulative distinct to day D = #{users with min event day <= D},
    // running-summed over the reduced day table
    "q_events_cumcard" ->
      """WITH daily AS (
        |  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |         count(DISTINCT user_id)::BIGINT AS daily_users
        |  FROM events GROUP BY 1
        |), fs AS (
        |  SELECT user_id, min(strftime(date_trunc('day', ts), '%Y-%m-%d')) AS day
        |  FROM events GROUP BY 1
        |), nu AS (
        |  SELECT day, count(*)::BIGINT AS new_users FROM fs GROUP BY 1
        |)
        |SELECT d.day, d.daily_users,
        |       coalesce(nu.new_users, 0)::BIGINT AS new_users,
        |       CAST(sum(coalesce(nu.new_users, 0)) OVER (
        |         ORDER BY d.day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |         AS cum_users
        |FROM daily d LEFT JOIN nu USING (day)
        |ORDER BY d.day""".stripMargin,
    // auto-date-histogram twin: the same span-bucket ladder rule in
    // integer epoch-second floor division (`//`), then the histogram
    // truncated by the CHOSEN rung via a CASE over date_trunc
    "q_events_auto" ->
      """WITH mm AS (
        |  SELECT floor(epoch(min(ts)))::BIGINT AS lo,
        |         floor(epoch(max(ts)))::BIGINT AS hi
        |  FROM events
        |), u AS (
        |  SELECT CASE WHEN (hi // 60) - (lo // 60) + 1 <= 40 THEN 'minute'
        |              WHEN (hi // 3600) - (lo // 3600) + 1 <= 40 THEN 'hour'
        |              WHEN (hi // 86400) - (lo // 86400) + 1 <= 40 THEN 'day'
        |              ELSE 'week' END AS unit
        |  FROM mm
        |)
        |SELECT strftime(CASE (SELECT unit FROM u)
        |         WHEN 'minute' THEN date_trunc('minute', ts)
        |         WHEN 'hour' THEN date_trunc('hour', ts)
        |         WHEN 'day' THEN date_trunc('day', ts)
        |         ELSE date_trunc('week', ts) END, '%Y-%m-%d %H:%M:%S') AS bucket,
        |       (SELECT unit FROM u) AS interval,
        |       count(*)::BIGINT AS cnt, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    // AQP twin: identical md5 micro-bucket membership, exact-Long
    // moments, and the same mean/variance/CI expression tree
    "aqp_mean" ->
      """WITH h AS (
        |  SELECT lang, n_chars,
        |         ('0x' || substr(md5(doc_id::VARCHAR), 1, 6))::BIGINT
        |           % 1000000 AS hb
        |  FROM documents
        |), samp AS (
        |  SELECT lang, count(*)::BIGINT AS n, sum(n_chars)::BIGINT AS s1,
        |         sum(n_chars * n_chars)::BIGINT AS s2
        |  FROM h WHERE hb < 200000 GROUP BY 1 HAVING count(*) >= 2
        |), ex AS (
        |  SELECT lang, sum(n_chars)::BIGINT AS es1, count(*)::BIGINT AS en
        |  FROM documents GROUP BY 1
        |)
        |SELECT s.lang, s.n AS n_sample,
        |       round(s.s1 / s.n::DOUBLE, 6) AS mean_est,
        |       round(1.96 * sqrt(greatest(0.0,
        |         (s.s2 - s.s1 * s.s1 / s.n::DOUBLE) / (s.n::DOUBLE - 1))
        |         / s.n::DOUBLE), 6) AS ci95,
        |       round(e.es1 / e.en::DOUBLE, 6) AS mean_exact
        |FROM samp s JOIN ex e USING (lang) ORDER BY lang""".stripMargin,
    // KMV twin: same md5 member hashes, same (h, member)-ranked k-min
    // selection, same single-division estimator
    "kmv_users" ->
      """WITH base AS (
        |  SELECT DISTINCT event_type AS scope, user_id AS member FROM events
        |), wa AS (
        |  SELECT scope, member FROM base
        |  UNION
        |  SELECT 'ALL', member FROM (SELECT DISTINCT member FROM base)
        |), h AS (
        |  SELECT scope, member,
        |         ('0x' || substr(md5('u:' || member::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM wa
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY scope ORDER BY h, member) AS r
        |  FROM h
        |), nex AS (SELECT scope, count(*)::BIGINT AS n_exact FROM h GROUP BY 1),
        |kth AS (SELECT scope, h AS hk FROM r WHERE r = 64)
        |SELECT n.scope, n.n_exact,
        |       CASE WHEN k.hk IS NULL THEN n.n_exact::DOUBLE
        |            ELSE floor(63.0 * 1152921504606846976.0 / k.hk * 1e4 + 0.5)
        |                 / 1e4
        |       END AS n_est
        |FROM nex n LEFT JOIN kth k USING (scope) ORDER BY scope""".stripMargin,
    // anomaly twin: identical trailing ROWS frame + the exact-Long
    // cross-multiplied 2σ rule
    "q_events_anomaly" ->
      """WITH daily AS (
        |  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d,
        |         count(*)::BIGINT AS cnt
        |  FROM events GROUP BY 1
        |), x AS (
        |  SELECT d, cnt,
        |    count(cnt) OVER w AS n,
        |    coalesce(sum(cnt) OVER w, 0)::BIGINT AS s1,
        |    coalesce(sum(cnt * cnt) OVER w, 0)::BIGINT AS s2
        |  FROM daily
        |  WINDOW w AS (ORDER BY d ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
        |)
        |SELECT strftime(to_timestamp(d * 86400), '%Y-%m-%d') AS day, cnt,
        |       n::BIGINT AS n_base,
        |       (n >= 2 AND (n * cnt - s1) * (n * cnt - s1)
        |                   > 4 * (n * s2 - s1 * s1)) AS anomalous
        |FROM x ORDER BY day""".stripMargin,
    // absence twin: identical value-RANGE frame over epoch micros —
    // inclusive [t, t+w] B-count, zero means abandoned
    "q_events_absence" ->
      """WITH ab AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |), x AS (
        |  SELECT *, sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY us
        |          RANGE BETWEEN CURRENT ROW AND 21600000000 FOLLOWING) AS nb
        |  FROM ab
        |)
        |SELECT event_id, user_id, us AS ts_us FROM x
        |WHERE event_type = 'click' AND nb = 0 ORDER BY event_id""".stripMargin,
    // gap-fill twin: same integer epoch-day buckets, dense range() spine,
    // least/greatest bounds widening, zero-filled absences
    // serial-diff twin: same dense spine, both lags over the reduced
    // daily table (calendar lags by construction)
    "q_events_serial_diff" ->
      """WITH d AS (
        |  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d FROM events
        |), agg AS (
        |  SELECT d, count(*)::BIGINT AS cnt FROM d GROUP BY 1
        |), mm AS (SELECT min(d) AS lo, max(d) AS hi FROM agg),
        |spine AS (SELECT unnest(range(mm.lo, mm.hi + 1)) AS d FROM mm),
        |s AS (
        |  SELECT s.d, coalesce(a.cnt, 0)::BIGINT AS cnt
        |  FROM spine s LEFT JOIN agg a USING (d)
        |)
        |SELECT strftime(to_timestamp(d * 86400), '%Y-%m-%d') AS day, cnt,
        |       cnt - lag(cnt, 1) OVER (ORDER BY d) AS deriv,
        |       cnt - lag(cnt, 7) OVER (ORDER BY d) AS sdiff
        |FROM s ORDER BY day""".stripMargin,
    "q_events_gapfill" ->
      """WITH d AS (
        |  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d, value FROM events
        |), agg AS (
        |  SELECT d, count(*)::BIGINT AS cnt, round(sum(value), 4) AS sum_value
        |  FROM d GROUP BY 1
        |), mm AS (
        |  SELECT least(min(d), 19720) AS lo, greatest(max(d), 19755) AS hi FROM d
        |), spine AS (
        |  SELECT unnest(range(mm.lo, mm.hi + 1)) AS d FROM mm
        |)
        |SELECT strftime(to_timestamp(s.d * 86400), '%Y-%m-%d') AS day,
        |       coalesce(a.cnt, 0)::BIGINT AS cnt,
        |       coalesce(a.sum_value, 0) AS sum_value
        |FROM spine s LEFT JOIN agg a USING (d) ORDER BY day""".stripMargin,

    // association-rules twin: same order-distinct baskets, pair counts
    // via the a<b self-join, both orientations unioned, same pinned
    // ratio trees
    "assoc_rules" ->
      """WITH lp AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |), n AS (
        |  SELECT count(DISTINCT l_orderkey)::DOUBLE AS n_orders FROM lp
        |), ic AS (
        |  SELECT l_partkey AS item, count(*)::BIGINT AS n_item
        |  FROM lp GROUP BY 1
        |), pc AS (
        |  SELECT x.l_partkey AS a, y.l_partkey AS b, count(*)::BIGINT AS n_ab
        |  FROM lp x JOIN lp y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 3
        |), dir AS (
        |  SELECT a AS ante, b AS cons, n_ab FROM pc
        |  UNION ALL
        |  SELECT b, a, n_ab FROM pc
        |)
        |SELECT d.ante, d.cons, d.n_ab AS support,
        |       floor((d.n_ab::DOUBLE / ia.n_item::DOUBLE) * 1e6 + 0.5) / 1e6
        |         AS confidence,
        |       floor(((d.n_ab::DOUBLE * n.n_orders) /
        |              (ia.n_item::DOUBLE * ib.n_item::DOUBLE)) * 1e6 + 0.5)
        |         / 1e6 AS lift
        |FROM dir d
        |JOIN ic ia ON ia.item = d.ante
        |JOIN ic ib ON ib.item = d.cons
        |CROSS JOIN n
        |ORDER BY ante, cons""".stripMargin,
    // ridge-regression twin: identical exact-Long sufficient stats,
    // identical Cramer expression tree (mirrored operation-for-
    // operation from Regression.solve — do not reassociate), identical
    // prediction tree; λ = 1 added to the Long BEFORE widening
    "ols_fit" ->
      """WITH f AS (
        |  SELECT doc_id, n_chars::BIGINT AS x1,
        |         (length(text) - length(replace(text, ' ', '')))::BIGINT AS x2,
        |         len(list_filter(string_split(text, ' '),
        |             t -> length(t) >= 2))::BIGINT AS y
        |  FROM documents
        |), s AS (
        |  SELECT count(*)::BIGINT AS n, sum(x1)::BIGINT AS sx1,
        |         sum(x2)::BIGINT AS sx2, sum(y)::BIGINT AS sy,
        |         sum(x1 * x1)::BIGINT AS sx1x1, sum(x1 * x2)::BIGINT AS sx1x2,
        |         sum(x2 * x2)::BIGINT AS sx2x2, sum(x1 * y)::BIGINT AS sx1y,
        |         sum(x2 * y)::BIGINT AS sx2y
        |  FROM f
        |), m AS (
        |  SELECT n::DOUBLE AS a11, sx1::DOUBLE AS a12, sx2::DOUBLE AS a13,
        |         (sx1x1 + 1)::DOUBLE AS a22, sx1x2::DOUBLE AS a23,
        |         (sx2x2 + 1)::DOUBLE AS a33,
        |         sy::DOUBLE AS c1, sx1y::DOUBLE AS c2, sx2y::DOUBLE AS c3
        |  FROM s
        |), d AS (
        |  SELECT *, a11 * (a22 * a33 - a23 * a23)
        |          - a12 * (a12 * a33 - a23 * a13)
        |          + a13 * (a12 * a23 - a22 * a13) AS det
        |  FROM m
        |), b AS (
        |  SELECT (c1 * (a22 * a33 - a23 * a23)
        |        - a12 * (c2 * a33 - a23 * c3)
        |        + a13 * (c2 * a23 - a22 * c3)) / det AS b0,
        |         (a11 * (c2 * a33 - a23 * c3)
        |        - c1 * (a12 * a33 - a23 * a13)
        |        + a13 * (a12 * c3 - c2 * a13)) / det AS b1,
        |         (a11 * (a22 * c3 - c2 * a23)
        |        - a12 * (a12 * c3 - c2 * a13)
        |        + c1 * (a12 * a23 - a22 * a13)) / det AS b2
        |  FROM d
        |)
        |SELECT f.doc_id,
        |       floor((b.b0 + b.b1 * f.x1 + b.b2 * f.x2) * 1e6 + 0.5) / 1e6
        |         AS pred,
        |       floor((f.y - (b.b0 + b.b1 * f.x1 + b.b2 * f.x2)) * 1e6 + 0.5)
        |         / 1e6 AS resid
        |FROM f, b ORDER BY f.doc_id""".stripMargin,
    // band-join twin: the plain range join — the bucketed decomposition
    // (bucket ∈ {b, b+1} + exact re-filter) is provably lossless, so
    // the naive form is the oracle
    "q_band_join" ->
      """SELECT a.event_id AS a_event_id, b.event_id AS b_event_id,
        |       a.user_id AS user_id,
        |       (epoch_us(a.ts) - epoch_us(b.ts))::BIGINT AS gap_us
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND a.event_type = 'purchase' AND b.event_type = 'click'
        | AND b.ts >= a.ts - INTERVAL 1 HOUR AND b.ts <= a.ts
        |ORDER BY a_event_id, b_event_id""".stripMargin,
    // PageRank twin: identical edge construction and the same 5 damped
    // iterations unrolled as chained CTEs; both engines iterate at full
    // double precision and round only at the output boundary
    "graph_pagerank" -> pagerankOracle(5),
    // BFS twin: 3 min-merge expansion rounds unrolled (expanding the
    // full settled table each round ≡ frontier-only expansion under the
    // min-merge — re-expanded nodes can only produce non-improving
    // distances)
    "graph_bfs" ->
      (graphEdgesCte +
        """,
          | d0 AS (SELECT 2::BIGINT AS node, 0::BIGINT AS dist),
          | d1 AS (SELECT node, min(dist) AS dist FROM (
          |   SELECT node, dist FROM d0
          |   UNION ALL
          |   SELECT e.dst, d0.dist + 1 FROM d0 JOIN e ON e.src = d0.node)
          |   GROUP BY node),
          | d2 AS (SELECT node, min(dist) AS dist FROM (
          |   SELECT node, dist FROM d1
          |   UNION ALL
          |   SELECT e.dst, d1.dist + 1 FROM d1 JOIN e ON e.src = d1.node)
          |   GROUP BY node),
          | d3 AS (SELECT node, min(dist) AS dist FROM (
          |   SELECT node, dist FROM d2
          |   UNION ALL
          |   SELECT e.dst, d2.dist + 1 FROM d2 JOIN e ON e.src = d2.node)
          |   GROUP BY node)
          |SELECT node::BIGINT AS node, dist::BIGINT AS dist
          |FROM d3 ORDER BY node""".stripMargin),
    // weighted-SSSP twin: 3 Bellman-Ford relaxation rounds unrolled
    // over the link-strength-weighted edge list — all-Long path sums,
    // so the min-merge is exact in both engines
    "graph_sssp" ->
      """WITH e0 AS (
        |  SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
        |         count(*)::BIGINT AS w
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |  GROUP BY 1, 2
        |), e AS (
        |  SELECT src, dst, w FROM e0
        |  UNION ALL SELECT dst, src, w FROM e0
        |), d0 AS (SELECT 2::BIGINT AS node, 0::BIGINT AS dist),
        | d1 AS (SELECT node, min(dist) AS dist FROM (
        |   SELECT node, dist FROM d0
        |   UNION ALL
        |   SELECT e.dst, d0.dist + e.w FROM d0 JOIN e ON e.src = d0.node)
        |   GROUP BY node),
        | d2 AS (SELECT node, min(dist) AS dist FROM (
        |   SELECT node, dist FROM d1
        |   UNION ALL
        |   SELECT e.dst, d1.dist + e.w FROM d1 JOIN e ON e.src = d1.node)
        |   GROUP BY node),
        | d3 AS (SELECT node, min(dist) AS dist FROM (
        |   SELECT node, dist FROM d2
        |   UNION ALL
        |   SELECT e.dst, d2.dist + e.w FROM d2 JOIN e ON e.src = d2.node)
        |   GROUP BY node)
        |SELECT node::BIGINT AS node, dist::BIGINT AS dist
        |FROM d3 ORDER BY node""".stripMargin,
    // triangle twin: same repeated-co-purchase edge set (canonical a<b
    // part pairs sharing >= 2 orders), triangles enumerated by the
    // id-ordered triple join — corner counts are orientation-free,
    // so the Spark side's degree-ordered enumeration must agree exactly
    "graph_triangles" ->
      """WITH lp AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |), p0 AS (
        |  SELECT x.l_partkey AS a, y.l_partkey AS b, count(*) AS n
        |  FROM lp x JOIN lp y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |  GROUP BY 1, 2
        |), e AS (
        |  SELECT a, b FROM p0 WHERE n >= 2
        |), tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1
        |  JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        |)
        |SELECT node::BIGINT AS node, count(*)::BIGINT AS triangles
        |FROM (SELECT x AS node FROM tri
        |      UNION ALL SELECT y FROM tri
        |      UNION ALL SELECT z FROM tri)
        |GROUP BY node ORDER BY node""".stripMargin,
    "q_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |       coalesce(l_linestatus, 'ALL') AS ls,
        |       count(*)::BIGINT AS cnt,
        |       round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |                        (l_returnflag), ())
        |ORDER BY rf, ls""".stripMargin,
    // Dunning-G² twin: same unfloored marginals as the PPMI twin, the
    // four contingency terms mirrored and summed in written order
    "colloc_llr" ->
      """WITH w2 AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |), rawtok AS (
        |  SELECT doc_id, ws[p] AS term, p FROM w2, unnest(range(1, len(ws) + 1)) t(p)
        |), tokp AS (
        |  SELECT doc_id, term, row_number() OVER (PARTITION BY doc_id ORDER BY p) AS pos
        |  FROM rawtok WHERE length(term) >= 2
        |), pairs AS (
        |  SELECT a.term AS term_a, b.term AS term_b, count(*)::BIGINT AS n
        |  FROM tokp a JOIN tokp b
        |    ON b.doc_id = a.doc_id AND b.pos > a.pos AND b.pos - a.pos <= 2
        |  GROUP BY 1, 2
        |), tot AS (SELECT sum(n)::DOUBLE AS nn, sum(n)::BIGINT AS ni FROM pairs),
        | rm AS (SELECT term_a, sum(n)::BIGINT AS row_n FROM pairs GROUP BY 1),
        | cm AS (SELECT term_b, sum(n)::BIGINT AS col_n FROM pairs GROUP BY 1)
        |SELECT p.term_a, p.term_b, p.n,
        |  floor(2.0 * (
        |      CASE WHEN p.n > 0 THEN p.n::DOUBLE *
        |        ln(p.n::DOUBLE * tot.nn / (rm.row_n::DOUBLE * cm.col_n::DOUBLE))
        |        ELSE 0.0 END
        |    + CASE WHEN rm.row_n - p.n > 0 THEN (rm.row_n - p.n)::DOUBLE *
        |        ln((rm.row_n - p.n)::DOUBLE * tot.nn /
        |           (rm.row_n::DOUBLE * (tot.ni - cm.col_n)::DOUBLE))
        |        ELSE 0.0 END
        |    + CASE WHEN cm.col_n - p.n > 0 THEN (cm.col_n - p.n)::DOUBLE *
        |        ln((cm.col_n - p.n)::DOUBLE * tot.nn /
        |           ((tot.ni - rm.row_n)::DOUBLE * cm.col_n::DOUBLE))
        |        ELSE 0.0 END
        |    + CASE WHEN tot.ni - rm.row_n - cm.col_n + p.n > 0
        |        THEN (tot.ni - rm.row_n - cm.col_n + p.n)::DOUBLE *
        |        ln((tot.ni - rm.row_n - cm.col_n + p.n)::DOUBLE * tot.nn /
        |           ((tot.ni - rm.row_n)::DOUBLE * (tot.ni - cm.col_n)::DOUBLE))
        |        ELSE 0.0 END
        |  ) * 1e6 + 0.5) / 1e6 AS llr
        |FROM pairs p
        |JOIN rm ON rm.term_a = p.term_a
        |JOIN cm ON cm.term_b = p.term_b
        |CROSS JOIN tot
        |WHERE p.n >= 5
        |ORDER BY p.term_a, p.term_b""".stripMargin,
    // paths-3 twin: two leads over the same tie-broken order
    "q_events_paths3" ->
      """WITH t AS (
        |  SELECT event_type AS a,
        |         lead(event_type, 1) OVER (PARTITION BY user_id
        |                                   ORDER BY ts, event_id) AS b,
        |         lead(event_type, 2) OVER (PARTITION BY user_id
        |                                   ORDER BY ts, event_id) AS c
        |  FROM events
        |)
        |SELECT a, b, c, count(*)::BIGINT AS cnt
        |FROM t WHERE b IS NOT NULL AND c IS NOT NULL
        |GROUP BY 1, 2, 3 ORDER BY cnt DESC, a, b, c LIMIT 20""".stripMargin,
    // Markov-transition twin: adjacent pairs via lead() over the same
    // (ts, event_id)-tie-broken per-user order; probability = one
    // Long/Long double division, explicit half-up 6-dp round
    "q_events_markov" ->
      """WITH t AS (
        |  SELECT event_type AS src,
        |         lead(event_type) OVER (PARTITION BY user_id
        |                                ORDER BY ts, event_id) AS dst
        |  FROM events
        |), c AS (
        |  SELECT src, dst, count(*)::BIGINT AS n
        |  FROM t WHERE dst IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT src, dst, n,
        |       floor(n::DOUBLE / (sum(n) OVER (PARTITION BY src))::DOUBLE
        |             * 1e6 + 0.5) / 1e6 AS p
        |FROM c ORDER BY src, dst""".stripMargin,
    // rolling-actives twin: same presence distinct + trailing-window
    // join, exact UTC epoch-day integer arithmetic
    "q_events_actives" ->
      """WITH pres AS (
        |  SELECT DISTINCT user_id,
        |         (epoch_us(ts) // 86400000000)::BIGINT AS day
        |  FROM events
        |), days AS (SELECT DISTINCT day FROM pres)
        |SELECT strftime(to_timestamp(d.day * 86400), '%Y-%m-%d') AS day,
        |       count(DISTINCT p.user_id)::BIGINT AS active_users
        |FROM days d JOIN pres p ON p.day BETWEEN d.day - 6 AND d.day
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // A-ES twin: identical md5 draw, mirrored ln((h+1)/2^60)/w tree,
    // half-up 6-dp boundary BEFORE the (key desc, doc_id) order
    "wrs_sample" ->
      """WITH h AS (
        |  SELECT doc_id, n_chars::BIGINT AS w,
        |         ('0x' || substr(md5('wrs:' || doc_id::VARCHAR), 1, 15))
        |           ::BIGINT::DOUBLE AS hv
        |  FROM documents WHERE n_chars >= 1
        |)
        |SELECT doc_id, w,
        |       floor(ln((hv + 1.0) / 1152921504606846976.0) / w * 1e6 + 0.5)
        |         / 1e6 AS skey
        |FROM h ORDER BY skey DESC, doc_id LIMIT 50""".stripMargin,
    // skyline twin: the NOT EXISTS dominance definition itself —
    // b dominates a iff ≥ on size, ≤ on price, strict on one; exact
    // value comparisons only, no arithmetic
    "q_skyline" ->
      """SELECT a.p_partkey, a.p_size, a.p_retailprice
        |FROM part a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part b
        |  WHERE b.p_size >= a.p_size
        |    AND b.p_retailprice <= a.p_retailprice
        |    AND (b.p_size > a.p_size OR b.p_retailprice < a.p_retailprice))
        |ORDER BY a.p_partkey""".stripMargin,
    // 3-D skyline twin: the NOT EXISTS dominance definition over the
    // three criteria
    "q_skyline3" ->
      """WITH t AS (
        |  SELECT p_partkey, p_size, p_retailprice,
        |         length(p_name)::BIGINT AS name_len
        |  FROM part
        |)
        |SELECT a.p_partkey, a.p_size, a.p_retailprice, a.name_len
        |FROM t a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM t b
        |  WHERE b.p_size >= a.p_size
        |    AND b.p_retailprice <= a.p_retailprice
        |    AND b.name_len <= a.name_len
        |    AND (b.p_size > a.p_size OR b.p_retailprice < a.p_retailprice
        |         OR b.name_len < a.name_len))
        |ORDER BY a.p_partkey""".stripMargin,
    // unpivot twin: the UNION ALL expansion (metric name order is the
    // Spark values order; the final sort pins it anyway)
    "q_unpivot" ->
      """WITH a AS (
        |  SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
        |         round(sum(l_extendedprice), 2) AS sum_price
        |  FROM lineitem GROUP BY 1
        |)
        |SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM a
        |UNION ALL
        |SELECT l_returnflag, 'sum_price' AS metric, sum_price AS value FROM a
        |ORDER BY l_returnflag, metric""".stripMargin,

    // ── round-4 twins ──────────────────────────────────────────────
    // index-sorting twin: the match set ordered by the INDEX SORT
    // (n_chars desc, doc_id) — the engine recovers this by taking the
    // FIRST k docIds of the sort-built index, never scoring
    "ft_sorted_index" ->
      s"""$tokCtes, m AS (
         |  SELECT d.doc_id, d.n_chars FROM documents d
         |  WHERE d.doc_id IN (SELECT doc_id FROM tf WHERE term = 'fast')
         |    AND d.doc_id IN (SELECT doc_id FROM tf WHERE term = 'merge')
         |)
         |SELECT doc_id, n_chars::BIGINT AS n_chars,
         |       row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rank
         |FROM m ORDER BY n_chars DESC, doc_id LIMIT 20""".stripMargin,
    // term-range twin: the BM25 OR walk over every vocabulary term in
    // [si, sz] — BETWEEN replaces the IN list of the expanded form
    "ft_term_range" ->
      s"""$tokCtes, sc AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
         |             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN alldl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE tf.term >= 'si' AND tf.term <= 'sz'
         |  GROUP BY tf.doc_id
         |)
         |SELECT doc_id, round(score, 6) AS score,
         |       row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
         |FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // bucket_script/bucket_selector twin: per-lang exact count + dl
    // sum over the any-term match set, ratio metric, selector >= 3
    "ft_bucket_script" ->
      s"""$tokCtes, m AS (
         |  SELECT DISTINCT doc_id FROM tf
         |  WHERE term IN ('fast', 'merge', 'sort')
         |), b AS (
         |  SELECT d.lang, count(*)::BIGINT AS n_docs,
         |         sum(alldl.dl)::BIGINT AS len_sum
         |  FROM m JOIN documents d USING (doc_id)
         |  JOIN alldl USING (doc_id)
         |  GROUP BY 1
         |)
         |SELECT lang, n_docs, len_sum,
         |       floor(len_sum::DOUBLE / n_docs::DOUBLE * 1e6 + 0.5) / 1e6
         |         AS avg_len
         |FROM b WHERE n_docs >= 3 ORDER BY lang""".stripMargin,
    // top_metrics twin: per-lang argmax by (dl desc, doc_id) over the
    // match set
    "ft_top_metrics" ->
      s"""$tokCtes, m AS (
         |  SELECT DISTINCT doc_id FROM tf
         |  WHERE term IN ('fast', 'merge', 'sort')
         |), j AS (
         |  SELECT d.lang, m.doc_id, alldl.dl
         |  FROM m JOIN documents d USING (doc_id)
         |  JOIN alldl USING (doc_id)
         |), r AS (
         |  SELECT lang, doc_id, dl,
         |         row_number() OVER (PARTITION BY lang
         |                            ORDER BY dl DESC, doc_id) AS rn
         |  FROM j
         |)
         |SELECT lang, doc_id AS top_doc_id, dl::BIGINT AS top_doclen
         |FROM r WHERE rn = 1 ORDER BY lang""".stripMargin,
    // date_range twin: identical day/cents arithmetic, one aggregate
    // per named range, empties reported
    "q_events_daterange" ->
      """WITH e AS (
        |  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events
        |)
        |SELECT * FROM (
        |  SELECT 'early' AS range_key, -1::BIGINT AS from_day,
        |         19733::BIGINT AS to_day,
        |         sum(CASE WHEN d < 19733 THEN 1 ELSE 0 END)::BIGINT AS cnt,
        |         sum(CASE WHEN d < 19733 THEN cents ELSE 0 END)::BIGINT
        |           / 100.0 AS val_sum
        |  FROM e
        |  UNION ALL
        |  SELECT 'late', 19743::BIGINT, -1::BIGINT,
        |         sum(CASE WHEN d >= 19743 THEN 1 ELSE 0 END)::BIGINT,
        |         sum(CASE WHEN d >= 19743 THEN cents ELSE 0 END)::BIGINT
        |           / 100.0
        |  FROM e
        |  UNION ALL
        |  SELECT 'mid', 19733::BIGINT, 19743::BIGINT,
        |         sum(CASE WHEN d >= 19733 AND d < 19743 THEN 1 ELSE 0 END)::BIGINT,
        |         sum(CASE WHEN d >= 19733 AND d < 19743 THEN cents ELSE 0 END)
        |           ::BIGINT / 100.0
        |  FROM e
        |) ORDER BY range_key""".stripMargin,
    // rate twin: per (month, type) count / exact calendar day count,
    // half-up 6-dp
    "q_events_rate" ->
      """SELECT strftime(ts, '%Y-%m') AS month, event_type,
        |       count(*)::BIGINT AS cnt,
        |       floor(count(*)::DOUBLE
        |             / date_part('day', last_day(min(ts)))::DOUBLE
        |             * 1e6 + 0.5) / 1e6 AS per_day
        |FROM events GROUP BY 1, 2 ORDER BY month, event_type""".stripMargin,
    // change-point twin: the same largest-step argmax with the
    // earliest-day tie-break
    "q_events_changepoint" ->
      """WITH daily AS (
        |  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d,
        |         count(*)::BIGINT AS cnt
        |  FROM events GROUP BY 1
        |), x AS (
        |  SELECT d, cnt, lag(cnt) OVER (ORDER BY d) AS prev_cnt FROM daily
        |)
        |SELECT strftime(to_timestamp(d * 86400), '%Y-%m-%d') AS day, cnt,
        |       prev_cnt, abs(cnt - prev_cnt)::BIGINT AS jump
        |FROM x WHERE prev_cnt IS NOT NULL
        |ORDER BY jump DESC, d LIMIT 1""".stripMargin,
    // ntile/percent_rank/cume_dist twin: identical window with the
    // unique (price desc, key) order; exact rational outputs rounded
    // by the shared half-up rule
    "q_window_ntile" ->
      """WITH r AS (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice,
        |         ntile(4) OVER w AS quartile,
        |         floor(percent_rank() OVER w * 1e6 + 0.5) / 1e6 AS pct_rank,
        |         floor(cume_dist() OVER w * 1e6 + 0.5) / 1e6 AS cume
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_orderstatus
        |               ORDER BY o_totalprice DESC, o_orderkey)
        |)
        |SELECT * FROM r WHERE quartile = 1
        |ORDER BY o_orderstatus, o_orderkey""".stripMargin,
    // secret-scan twin: identical md5-derived injection, identical
    // portable detector regexes, global redaction, sha witness
    "secret_scan" ->
      """WITH aug AS (SELECT doc_id,
        |  text ||
        |  CASE WHEN doc_id % 7 = 0
        |       THEN ' AKIA' || upper(substr(md5(doc_id::VARCHAR), 1, 16))
        |       ELSE '' END ||
        |  CASE WHEN doc_id % 5 = 0
        |       THEN ' ghp_' || md5(doc_id::VARCHAR)
        |            || substr(md5(doc_id::VARCHAR), 1, 4)
        |       ELSE '' END AS text
        |  FROM documents),
        |red AS (SELECT doc_id, text,
        |  regexp_replace(regexp_replace(text,
        |    'AKIA[0-9A-Z]{16}', '<AWS_KEY>', 'g'),
        |    'ghp_[A-Za-z0-9]{36}', '<GH_TOKEN>', 'g') AS clean
        |  FROM aug)
        |SELECT doc_id,
        |  len(regexp_extract_all(text, 'AKIA[0-9A-Z]{16}'))::BIGINT
        |    AS n_aws_keys,
        |  len(regexp_extract_all(text, 'ghp_[A-Za-z0-9]{36}'))::BIGINT
        |    AS n_gh_tokens,
        |  length(clean)::BIGINT AS clean_len,
        |  sha256(clean) AS clean_sha
        |FROM red ORDER BY doc_id""".stripMargin,
    // Apriori-L3 twin: triple counts by 3-way self-join on the basket,
    // the three antecedent-pair orientations, shared IEEE ratio trees
    "assoc_triples" ->
      """WITH lp AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |), n_orders AS (
        |  SELECT count(DISTINCT l_orderkey)::BIGINT AS no FROM lp
        |), items AS (
        |  SELECT l_partkey AS item, count(*)::BIGINT AS n_item
        |  FROM lp GROUP BY 1
        |), pairs AS (
        |  SELECT x.l_partkey AS pa, y.l_partkey AS pb, count(*)::BIGINT AS n_ab
        |  FROM lp x JOIN lp y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |  GROUP BY 1, 2
        |), triples AS (
        |  SELECT x.l_partkey AS a, y.l_partkey AS b, z.l_partkey AS c,
        |         count(*)::BIGINT AS n_abc
        |  FROM lp x
        |  JOIN lp y ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |  JOIN lp z ON x.l_orderkey = z.l_orderkey AND y.l_partkey < z.l_partkey
        |  GROUP BY 1, 2, 3
        |  HAVING count(*) >= 2
        |), directed AS (
        |  SELECT a AS ante1, b AS ante2, c AS cons, n_abc FROM triples
        |  UNION ALL
        |  SELECT a, c, b, n_abc FROM triples
        |  UNION ALL
        |  SELECT b, c, a, n_abc FROM triples
        |)
        |SELECT d.ante1, d.ante2, d.cons, d.n_abc AS support,
        |       floor(d.n_abc::DOUBLE / p.n_ab::DOUBLE * 1e6 + 0.5) / 1e6
        |         AS confidence,
        |       floor((d.n_abc::DOUBLE * no::DOUBLE) /
        |             (p.n_ab::DOUBLE * i.n_item::DOUBLE) * 1e6 + 0.5) / 1e6
        |         AS lift
        |FROM directed d
        |JOIN pairs p ON p.pa = d.ante1 AND p.pb = d.ante2
        |JOIN items i ON i.item = d.cons
        |CROSS JOIN n_orders
        |ORDER BY d.ante1, d.ante2, d.cons""".stripMargin,
    // k-core twin: the same synchronous peel unrolled a fixed 24
    // rounds — idempotent once converged, and the Spark side REQUIRES
    // convergence within the same bound, so equality is exact
    "graph_kcore" -> kcoreOracle(3, 24),
    // TPC-H Q3 twin (exact-cents revenue, identical IEEE per row)
    "q3_shipping" ->
      """SELECT l_orderkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |       o_orderpriority,
        |       sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0
        |                      + 0.5) AS BIGINT)) / 100.0 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    // TPC-H Q5 twin: same 6-table join incl. the same-nation predicate
    "q5_region_volume" ->
      """SELECT n_name,
        |       sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0
        |                      + 0.5) AS BIGINT)) / 100.0 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin,
    // TPC-H Q18 twin: group-per-order form with the customer attached
    // — identical to the HAVING-subquery classic because the basket
    // sum is the same value either way (exact integer-valued doubles)
    "q18_top_customers" ->
      """SELECT c_name, c_custkey, o_orderkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |       o_totalprice,
        |       CAST(sum(l_quantity) AS BIGINT) AS total_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1, 2, 3, 4, 5
        |HAVING sum(l_quantity) > 250
        |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
        |LIMIT 100""".stripMargin)

  /** Shared CTE: the bidirectional customer↔supplier edge list, node-
    * encoded custkey→2k / suppkey→2k+1 — must stay textually in sync
    * with [[graft.pipeline.Graph.customerSupplierEdges]]. */
  private val graphEdgesCte: String =
    """WITH e0 AS (
      |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |), e AS (
      |  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
      |)""".stripMargin

  /** The k-core peel unrolled `rounds` times over the co-purchase
    * graph — each round keeps only edges whose BOTH endpoints have
    * surviving degree ≥ k. Idempotent once converged (the Spark side
    * requires convergence within the same bound). */
  private def kcoreOracle(k: Int, rounds: Int): String = {
    // every round references its predecessor three times; MATERIALIZED
    // stops DuckDB's CTE inlining from exploding the tree 3^rounds
    // (the SQL mirror of the localCheckpoint in Graph.kcore)
    val roundCtes = (1 to rounds).map { i =>
      s""",
         | keep$i AS MATERIALIZED (
         |  SELECT src FROM s${i - 1} GROUP BY src HAVING count(*) >= $k),
         | s$i AS MATERIALIZED (
         |  SELECT s.src, s.dst FROM s${i - 1} s
         |  WHERE s.src IN (SELECT src FROM keep$i)
         |    AND s.dst IN (SELECT src FROM keep$i))""".stripMargin
    }.mkString
    s"""WITH lp AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
       |), p0 AS MATERIALIZED (
       |  SELECT x.l_partkey AS a, y.l_partkey AS b, count(*) AS n
       |  FROM lp x JOIN lp y
       |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
       |  GROUP BY 1, 2
       |), e AS MATERIALIZED (
       |  SELECT a, b FROM p0 WHERE n >= 2
       |), s0 AS MATERIALIZED (
       |  SELECT a AS src, b AS dst FROM e
       |  UNION ALL SELECT b, a FROM e
       |)$roundCtes
       |SELECT src AS node, count(*)::BIGINT AS deg
       |FROM s$rounds GROUP BY src ORDER BY node""".stripMargin
  }

  private def pagerankOracle(iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      s""",
         | r$i AS (
         |  SELECT e.dst AS node, 0.15 + 0.85 * sum(r.pr / deg.outdeg) AS pr
         |  FROM e JOIN deg ON deg.src = e.src
         |  JOIN r${i - 1} r ON r.node = e.src
         |  GROUP BY e.dst)""".stripMargin
    }.mkString
    graphEdgesCte +
      """,
        | deg AS (SELECT src, count(*)::DOUBLE AS outdeg FROM e GROUP BY 1),
        | r0 AS (SELECT src AS node, 1.0::DOUBLE AS pr FROM deg)""".stripMargin +
      iterCtes +
      s"\nSELECT node::BIGINT AS node, round(pr, 6) AS pr FROM r$iters ORDER BY node"
  }
}
