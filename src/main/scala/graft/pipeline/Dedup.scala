package graft.pipeline

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.pipeline.Lineage._

/** Deduplication operators over a (doc_id, text) table — the
  * training-data-pipeline layer. Exact, n-gram-Jaccard (exact pairwise),
  * MinHash+LSH (the 100 TB scale path), and SimHash.
  *
  * Scale posture: `jaccardPairs` is the small-scale oracle (its shingle
  * self-join is quadratic in hot shingles); at cluster scale use
  * `minhashLshPairs`: signatures are computed in one NARROW pass
  * (a doc's text is one row), so candidate generation's only
  * corpus-scale shuffle is the band-bucket groupBy — pair dedup happens
  * at the source via first-collision ownership, not a second shuffle.
  * Both end in the same exact-Jaccard verification (a candidate-scale
  * join against the shingle table), so LSH output ⊆ exact output with
  * recall governed by (bands, rowsPerBand).
  */
object Dedup {

  /** Word n-gram shingles, distinct per doc. Raw single-space split —
    * pinned, shared with the DuckDB oracle SQL (SparkEntry). */
  def shingles(docs: DataFrame, n: Int = 3): Dataset[(Long, String)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select($"doc_id", $"text").as[(Long, String)].flatMap { case (id, text) =>
      val ws = text.split(" ")
      if (ws.length < n) Iterator.empty
      else (0 to ws.length - n).iterator
        .map(i => (id, ws.slice(i, i + n).mkString(" ")))
    }.distinct()
  }

  /** Exact duplicate groups by content hash (hash-groupBy; the only
    * shuffle is on the 64-hex digest — skew-free by construction). */
  def exactDups(docs: DataFrame): DataFrame =
    docs.groupBy(sha2(col("text"), 256).as("text_sha"))
      .agg(count(lit(1)).as("cnt"), sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(col("cnt") > 1)
      .select(col("text_sha"), col("cnt"), col("ids"))

  /** Exact pairwise n-gram Jaccard ≥ tau. Output (doc_a < doc_b, jac). */
  def jaccardPairs(docs: DataFrame, n: Int = 3, tau: Double = 0.5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sh = shingles(docs, n).toDF("doc_id", "shingle").cache()
    val sz = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.as("a").join(sh.as("b"), "shingle")
      .filter($"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg(count(lit(1)).as("i"))
    val out = inter
      .join(sz.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(sz.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
      .withColumn("jac", $"i" / ($"na" + $"nb" - $"i"))
      .filter($"jac" >= tau)
      .select($"doc_a", $"doc_b", $"jac")
      // snapshot the pair-sized result, release the cached shingle
      // table now (no reliance on CacheManager LRU). Without a checkpoint
      // dir this is a localCheckpoint, whose blocks the ContextCleaner
      // frees when the frame is dropped; with one it is a reliable
      // checkpoint, whose files stay in that dir after the frame is gone
      .cutLineage()
    sh.unpersist()
    out
  }

  /** Exact Jaccard ≥ tau via PREFIX FILTERING (Chaudhuri, Ganti &
    * Kaushik ICDE'06; Xiao et al. WWW'08 PPJoin) — the SCALE path for
    * the exact threshold join next to [[jaccardPairs]]' every-shared-
    * shingle inverted join: J(a,b) ≥ τ forces overlap ≥ ⌈τ·max(|a|,|b|)⌉
    * (from i ≥ τ(na+nb−i) and i ≤ min), so under ANY global token
    * order a qualifying pair must share a token inside EACH side's
    * first |s| − ⌈τ·|s|⌉ + 1 tokens. Candidates therefore come from a
    * self-join of PREFIX tokens only — and because the global order is
    * rarest-first (df asc), prefix tokens are precisely the tokens
    * with the SHORTEST posting lists: the quadratic-in-df blowup of
    * the naive join concentrates on exactly the tokens the prefix
    * excludes. Exact verification then runs on the candidate set only.
    *
    * Output contract identical to [[jaccardPairs]] (doc_a < doc_b,
    * jac ≥ tau) — equality is asserted in DedupSpec/PipelineSpec and
    * the driver query shares the quadratic form's DuckDB oracle
    * verbatim. */
  def jaccardPairsPrefix(docs: DataFrame, n: Int = 3,
                         tau: Double = 0.5): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau in (0,1], got $tau")
    val spark = docs.sparkSession
    import spark.implicits._
    val sh = shingles(docs, n).toDF("doc_id", "shingle").cache()
    val prefix = prefixShingles(sh, tau)
    val cand = prefix.as("x").join(prefix.as("y"), "shingle")
      .filter($"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"))
      .distinct()
    val a = sh.toDF("doc_a", "shingle")
    val b = sh.toDF("doc_b", "shingle")
    val inter = cand.join(a, "doc_a").join(b, Seq("doc_b", "shingle"))
      .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("i"))
    val sz = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val out = inter
      .join(sz.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(sz.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
      .withColumn("jac", $"i" / ($"na" + $"nb" - $"i"))
      .filter($"jac" >= tau)
      .select($"doc_a", $"doc_b", $"jac")
      // snapshot + release the cached shingle table (see jaccardPairs
      // for where the snapshot lives and what frees it)
      .cutLineage()
    sh.unpersist()
    out
  }

  /** Asymmetric n-gram CONTAINMENT pairs (X181 — Broder's containment
    * coefficient from "On the resemblance and containment of
    * documents", SEQUENCES'97): directed (doc_sub, doc_sup) with
    * C(sub→sup) = |S_sub ∩ S_sup| / |S_sub| ≥ tau. The SUBSET-duplication
    * detector symmetric Jaccard structurally misses: a document quoted
    * whole inside a 10× larger one has J ≈ 0.1 but C = 1.0 — exactly
    * the nested-scrape / quoted-README shape a training-data dedup
    * pass needs to catch.
    *
    * Scale path: prefix filtering on the CONTAINED side only —
    * i ≥ ⌈τ·|S_sub|⌉ forces a shared shingle inside sub's first
    * |S_sub| − ⌈τ·|S_sub|⌉ + 1 shingles under the global rarest-first
    * (df asc) order, so candidates come from sub-PREFIX ⋈ sup-ALL.
    * The containing side carries no size bound (that is what makes
    * containment asymmetric), but the join stays shallow for the
    * PPJoin reason: prefix shingles are by construction the RAREST,
    * so Σ over prefix tokens of df is small. Exact verification runs
    * on candidates only; output contract mirrors [[jaccardPairs]]
    * (raw-ratio threshold, caller rounds). */
  def containmentPairs(docs: DataFrame, n: Int = 3,
                       tau: Double = 0.8): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau in (0,1], got $tau")
    val spark = docs.sparkSession
    import spark.implicits._
    val sh = shingles(docs, n).toDF("doc_id", "shingle").cache()
    val prefix = prefixShingles(sh, tau).withColumnRenamed("doc_id", "doc_sub")
    val cand = prefix.join(sh.toDF("doc_sup", "shingle"), "shingle")
      .filter($"doc_sub" =!= $"doc_sup")
      .select($"doc_sub", $"doc_sup").distinct()
    val a = sh.toDF("doc_sub", "shingle")
    val b = sh.toDF("doc_sup", "shingle")
    val inter = cand.join(a, "doc_sub").join(b, Seq("doc_sup", "shingle"))
      .groupBy($"doc_sub", $"doc_sup").agg(count(lit(1)).as("i"))
    val sz = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val out = inter
      .join(sz.toDF("doc_sub", "nsub"), "doc_sub")
      .withColumn("containment", $"i" / $"nsub")
      .filter($"containment" >= tau)
      .select($"doc_sub", $"doc_sup", $"containment")
      // snapshot + release the cached shingle table (see jaccardPairs
      // for where the snapshot lives and what frees it)
      .cutLineage()
    sh.unpersist()
    out
  }

  /** Each doc's prefix shingles under the global rarest-first (df asc,
    * then shingle) order: the first |s| − c + 1 of its |s| shingles, where
    * c is the least overlap the callers' verification can accept. That
    * verification tests `i / |s| >= tau` (or a Jaccard ratio it bounds)
    * in Double, so c is found by that same test rather than by
    * `ceil(|s|·tau)`, which rounds up past an accepted overlap: at
    * tau = 0.55 and |s| = 100, `100 * 0.55` is 55.00000000000001 and the
    * ceiling is 56, yet 55 / 100 >= 0.55 holds. */
  private def prefixShingles(sh: DataFrame, tau: Double): DataFrame = {
    val dfT = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy(col("doc_id"))
    val sz = col("sz")
    val c = ceil(sz * tau)
    val need = when((c - 1) / sz >= tau, c - 1).otherwise(c)
    sh.join(dfT, "shingle")
      .withColumn("rn", row_number().over(
        wDoc.orderBy(col("df").asc, col("shingle").asc)))
      .withColumn("sz", count(lit(1)).over(wDoc))
      .filter(col("rn") <= sz - need + 1)
      .select(col("doc_id"), col("shingle"))
  }

  @inline private def hash32(s: String, seed: Int): Int =
    MurmurHash3.stringHash(s, seed)

  /** MinHash signatures computed in ONE NARROW pass over documents: a
    * document's text lives in a single row, so its distinct shingles AND
    * its full signature fit inside one map — no (doc, shingle) distinct
    * shuffle, no per-doc groupByKey. sig(d)(p) = min over distinct
    * shingles of h_p(shingle); docs with fewer than n words emit nothing
    * (they have no shingles — same domain as [[shingles]]). */
  def minhashSignatures(docs: DataFrame, n: Int, numHashes: Int)
      : Dataset[(Long, Array[Int])] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select($"doc_id", $"text").as[(Long, String)].mapPartitions { it =>
      it.flatMap { case (id, text) =>
        val ws = text.split(" ")
        if (ws.length < n) Iterator.empty
        else {
          val sig = Array.fill(numHashes)(Int.MaxValue)
          val seen = new scala.collection.mutable.HashSet[String]
          var i = 0
          while (i <= ws.length - n) {
            val s = ws.slice(i, i + n).mkString(" ")
            if (seen.add(s)) {
              var p = 0
              while (p < numHashes) {
                val h = hash32(s, p * 0x9e3779b9 + 1)
                if (h < sig(p)) sig(p) = h
                p += 1
              }
            }
            i += 1
          }
          Iterator.single((id, sig))
        }
      }
    }
  }

  /** Band slices equal ⇒ first band where they agree; -1 if none. */
  private def firstSharedBand(sa: Array[Int], sb: Array[Int],
                              bands: Int, rows: Int): Int = {
    var b = 0
    while (b < bands) {
      var eq = true
      var r = b * rows
      val end = r + rows
      while (eq && r < end) { if (sa(r) != sb(r)) eq = false; r += 1 }
      if (eq) return b
      b += 1
    }
    -1
  }

  /** LSH candidate pairs (pre-verification): the band-bucket groupBy is
    * the ONLY corpus-scale shuffle on this path — signatures are narrow
    * ([[minhashSignatures]]) and duplicate pairs are eliminated at the
    * source by first-collision ownership (a pair is emitted only by the
    * FIRST band on which the two signatures agree), not by a second
    * corpus-scale distinct. bucketCap bounds the quadratic pair expansion
    * inside a degenerate bucket, and every dropped bucket is COUNTED in
    * `dropped` — silent truncation in a dedup pipeline is a data-quality
    * hazard, so callers can gate on the count being 0. */
  def minhashCandidates(docs: DataFrame, n: Int = 3, numHashes: Int = 64,
                        bands: Int = 16, bucketCap: Int = 10000,
                        dropped: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(numHashes % bands == 0)
    val rows = numHashes / bands
    val sigs = minhashSignatures(docs, n, numHashes)
    val buckets = sigs.flatMap { case (id, sig) =>
      (0 until bands).iterator.map { b =>
        val key = MurmurHash3.arrayHash(sig.slice(b * rows, (b + 1) * rows), b)
        (b.toLong << 32 | (key & 0xffffffffL), id, sig)
      }
    }
    val acc = dropped
    val nBands = bands
    buckets.groupByKey(_._1).flatMapGroups { (key, it) =>
      val band = (key >>> 32).toInt
      val rs = it.map(r => (r._2, r._3)).toArray.sortBy(_._1)
      if (rs.length > bucketCap) { acc.foreach(_.add(1L)); Iterator.empty }
      else if (rs.length < 2) Iterator.empty
      else for {
        i <- rs.indices.iterator
        j <- (i + 1 until rs.length).iterator
        if rs(i)._1 != rs(j)._1
        // first-collision ownership: exactly one band emits each pair
        if firstSharedBand(rs(i)._2, rs(j)._2, nBands, rows) == band
      } yield (rs(i)._1, rs(j)._1)
    }.toDF("doc_a", "doc_b")
  }

  /** MinHash + LSH banding near-dup pairs, exact-Jaccard verified.
    * bands × rowsPerBand must equal numHashes. Candidate generation is
    * one narrow signature pass + one band-bucket shuffle
    * ([[minhashCandidates]]); the shingle table is materialized ONLY for
    * the exact-Jaccard verification join, which genuinely needs it. */
  def minhashLshPairs(docs: DataFrame, n: Int = 3, numHashes: Int = 64,
                      bands: Int = 16, tau: Double = 0.5,
                      bucketCap: Int = 10000,
                      dropped: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    val candidates = minhashCandidates(docs, n, numHashes, bands, bucketCap, dropped)
    verifyJaccard(candidates, shingles(docs, n).toDF("doc_id", "shingle"), tau)
  }

  /** Exact-Jaccard verification of candidate pairs (LSH post-filter). */
  private def verifyJaccard(pairs: DataFrame, sh: DataFrame, tau: Double): DataFrame = {
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val shA = sh.toDF("doc_a", "sh")
    val shB = sh.toDF("doc_b", "sh")
    pairs
      .join(shA, Seq("doc_a"))
      .join(shB, Seq("doc_b", "sh")) // equi-join on (doc_b, shingle) ⇒ intersection rows
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("i"))
      .join(sz.toDF("doc_a", "na"), "doc_a")
      .join(sz.toDF("doc_b", "nb"), "doc_b")
      .withColumn("jac", col("i") / (col("na") + col("nb") - col("i")))
      .filter(col("jac") >= tau)
      .select(col("doc_a"), col("doc_b"), col("jac"))
  }

  /** 64-bit SimHash over tf-weighted word hashes. */
  def simhash64(text: String): Long = {
    val acc = new Array[Int](64)
    val counts = new scala.collection.mutable.HashMap[String, Int]()
    text.split(" ").foreach(w => if (w.nonEmpty) counts.update(w, counts.getOrElse(w, 0) + 1))
    counts.foreach { case (w, tf) =>
      val h = (hash32(w, 0x1234567).toLong << 32) | (hash32(w, 0x89abcdf).toLong & 0xffffffffL)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += tf else acc(b) -= tf
        b += 1
      }
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (acc(b) >= 0) sig |= (1L << b); b += 1 }
    sig
  }

  /** SimHash near-dup pairs with hamming distance ≤ maxHamming, found via
    * 4-chunk banding (any pair at distance ≤ 3 shares ≥ 1 of 4 16-bit
    * chunks — pigeonhole), then exact hamming verification. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(maxHamming <= 3, "4-chunk banding guarantees recall only to distance 3")
    // single consumer (chunks) — no cache: a cached sig table would
    // sit in the shared CacheManager until LRU eviction
    val sigs = docs.select($"doc_id", $"text").as[(Long, String)]
      .map { case (id, t) => (id, simhash64(t)) }
    val chunks = sigs.flatMap { case (id, sig) =>
      (0 until 4).iterator.map(c => ((c.toLong << 16) | ((sig >>> (c * 16)) & 0xffffL), id, sig))
    }
    val pairs = chunks.groupByKey(_._1).flatMapGroups { (_, it) =>
      val rows = it.map(r => (r._2, r._3)).toArray.sortBy(_._1)
      for {
        i <- rows.indices.iterator
        j <- (i + 1 until rows.length).iterator
        if rows(i)._1 != rows(j)._1
        h = java.lang.Long.bitCount(rows(i)._2 ^ rows(j)._2)
        if h <= maxHamming
      } yield (rows(i)._1, rows(j)._1, h)
    }.distinct()
    pairs.toDF("doc_a", "doc_b", "hamming")
  }

  /** Portable 60-bit SimHash (Charikar STOC'02 sign-random-projection,
    * applied hash-wise per Manku et al. WWW'07) over tf-weighted word
    * hashes from the md5-portable family (md5 15-hex prefix — the same
    * digest DuckDB computes): bit b is set iff Σ_w ±tf(w) ≥ 0 with the
    * sign taken from bit b of hash(w). Tokens follow the fulltext
    * convention (split ' ', drop length < 2). Returns None for a doc
    * with no tokens — pinned: a signal-free doc's degenerate all-ones
    * signature would band every such doc together, so they are excluded
    * from the pair search in BOTH engines. */
  def simhash60(text: String): Option[Long] = {
    val counts = new scala.collection.mutable.HashMap[String, Int]()
    text.split(" ").foreach(w =>
      if (w.length >= 2) counts.update(w, counts.getOrElse(w, 0) + 1))
    if (counts.isEmpty) return None
    val acc = new Array[Long](60)
    counts.foreach { case (w, tf) =>
      val h = PortableHash.md5HexPrefixLong(w, 15)
      var b = 0
      while (b < 60) {
        if (((h >>> b) & 1L) == 1L) acc(b) += tf else acc(b) -= tf
        b += 1
      }
    }
    var sig = 0L
    var b = 0
    while (b < 60) { if (acc(b) >= 0L) sig |= (1L << b); b += 1 }
    Some(sig)
  }

  /** SimHash near-dup pairs over the PORTABLE [[simhash60]] signature,
    * banded into 4×15-bit chunks (pigeonhole-complete to hamming ≤ 3 —
    * the [[simhashPairs]] regime and the same scale posture: banded
    * candidate generation, never all-pairs). Unlike the murmur3
    * [[simhashPairs]] (scalatest-gated only), every step here —
    * tokenize, tf weights, md5 bit rule, recovered pair set — has an
    * exact ANSI-SQL form, so the operator is DuckDB-oracled end to end
    * (`dedup_simhash_md5`), closing the simhash family's oracle gap. */
  def simhashPairsPortable(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(maxHamming >= 0 && maxHamming <= 3,
      "4-chunk banding guarantees recall only to distance 3")
    val sigs = docs.select($"doc_id", $"text").as[(Long, String)]
      .flatMap { case (id, t) => simhash60(t).map(s => (id, s)) }
    val chunks = sigs.flatMap { case (id, sig) =>
      (0 until 4).iterator
        .map(c => ((c.toLong << 15) | ((sig >>> (c * 15)) & 0x7fffL), id, sig))
    }
    val pairs = chunks.groupByKey(_._1).flatMapGroups { (_, it) =>
      val rows = it.map(r => (r._2, r._3)).toArray.sortBy(_._1)
      for {
        i <- rows.indices.iterator
        j <- (i + 1 until rows.length).iterator
        if rows(i)._1 != rows(j)._1
        h = java.lang.Long.bitCount(rows(i)._2 ^ rows(j)._2)
        if h <= maxHamming
      } yield (rows(i)._1, rows(j)._1, h.toLong)
    }.distinct()
    pairs.toDF("doc_a", "doc_b", "hamming")
  }

  /** Chunk-level exact duplication (the scalable coarse form of exact
    * substring dedup, Lee et al. 2022 "Deduplicating Training Data Makes
    * Language Models Better" — their suffix-array exact-substring pass
    * approximated by fixed-stride chunk hashing, the variant production
    * pipelines run at corpus scale): split every doc into consecutive
    * `w`-word chunks (stride w, trailing partial chunk dropped), call a
    * chunk DUPLICATED when it occurs in ≥ 2 distinct docs, and score
    * each doc by the fraction of its chunks (with multiplicity) that are
    * duplicated. `keep` = dup_frac ≤ theta, compared on the ROUNDED
    * value so cross-engine float noise cannot flip a row.
    *
    * Scale posture: chunking is a pure narrow column expression
    * (whole-stage codegen, no UDF). Three key-aggregated shuffles: a
    * (chunk, doc) hash agg with map-side partials, a chunk-partitioned
    * window for the distinct-doc count (sort-based, spills past memory),
    * and the final doc_id agg. Every stage is count-aggregated — no pair
    * expansion, so a corpus-wide hot chunk costs one sorted partition of
    * per-doc counters, not the quadratic blowup the shingle self-join
    * has. */
  def chunkDups(docs: DataFrame, w: Int = 8, theta: Double = 0.2): DataFrame = {
    require(w > 0, s"chunk width must be positive, got $w")
    val ws = split(col("text"), " ")
    val chunks = when(size(ws) >= w,
      transform(sequence(lit(1), size(ws) - lit(w - 1), lit(w)),
        i => concat_ws(" ", slice(ws, i, lit(w)))))
      .otherwise(array().cast("array<string>"))
    val c = docs.select(col("doc_id"), explode(chunks).as("chunk"))
    // one row per (chunk, doc) with multiplicity, then chunk-level ndocs
    val perDoc = c.groupBy(col("chunk"), col("doc_id"))
      .agg(count(lit(1)).as("occ"))
    val flagged = perDoc
      .withColumn("ndocs", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("chunk"))))
    val agg = flagged.groupBy(col("doc_id")).agg(
      sum(col("occ")).as("n_chunks"),
      sum(when(col("ndocs") >= 2, col("occ")).otherwise(0L)).as("n_dup_chunks"))
    val frac = when(col("n_chunks") > 0,
      round(col("n_dup_chunks").cast("double") / col("n_chunks"), 6))
      .otherwise(lit(0.0))
    docs.select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"),
        frac.as("dup_frac"),
        (frac <= theta).as("keep"))
  }

  /** Materialized deduplication — the operator every flag/pair/cluster
    * op above feeds: the corpus with every NON-CANONICAL near-duplicate
    * removed. Duplicate groups come from [[Components.connectedComponents]]
    * over the supplied near-dup `pairs`; each group's survivor is its
    * minimum doc_id (the canonical rule shared with the cluster oracle).
    *
    * Scale posture: the loser set is bounded by the PAIR volume (every
    * loser appears in at least one pair), which the LSH paths keep
    * capped and counted — corpus-scale-small, so Catalyst broadcasts it
    * into a left_anti join (the R2 resume-diff shape); the components
    * rounds are O(log n) in the pair graph only. */
  /** Quality-aware near-dup retention: within each duplicate cluster
    * (connected component of `pairs`) keep the member with the HIGHEST
    * quality score (tie: lowest doc_id) instead of [[dedupedCorpus]]'s
    * positional min-id canonical — the keep-longest/keep-best policy
    * production curation pipelines apply to near-dup groups (near-dups
    * differ, so the survivor choice changes the corpus). Emits the full
    * surviving corpus as (doc_id, n_members, quality); untouched docs
    * survive with n_members = 1. Scale: components is the existing
    * bounded op; quality is a narrow codegen pass; the winner is a
    * partial+final max_by on the component key (one bounded shuffle);
    * singletons are a doc_id-keyed anti join (co-partitionable). */
  def keepBest(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val comp = Components.connectedComponents(pairs)
    val q = TextStats.quality(docs).select(col("doc_id"), col("quality"))
    val member = comp.join(q, Seq("doc_id"))
    val winners = member.groupBy(col("component"))
      .agg(
        max_by(struct(col("doc_id"), col("quality")),
          struct(col("quality"), (-col("doc_id")).as("neg"))).as("w"),
        count(lit(1)).as("n_members"))
      .select(col("w.doc_id").as("doc_id"), col("n_members"),
        col("w.quality").as("quality"))
    val singles = q.join(comp.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit(1L).as("n_members"), col("quality"))
    winners.unionByName(singles)
  }

  def dedupedCorpus(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val losers = Components.connectedComponents(pairs)
      .filter(col("doc_id") =!= col("component"))
      .select(col("doc_id"))
    docs.join(losers, Seq("doc_id"), "left_anti")
  }
}
