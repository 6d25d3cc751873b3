package graft.pipeline

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Deduplication operators over a (doc_id, text) table — the
  * training-data-pipeline layer. Exact, n-gram-Jaccard and containment
  * (exact threshold joins), MinHash+LSH (the 100 TB scale path), and
  * SimHash.
  *
  * Scale posture: the exact joins and MinHash share one candidate/verify
  * split (PPJoin-style filter-then-verify). [[records]] builds every
  * doc's distinct shingles in one NARROW pass (a doc's text is one row),
  * then two key-aggregated shuffles — by shingle for its df, by doc for
  * the rarest-first record. Candidates come from a join of PREFIX
  * shingles only; because the order is rarest-first, prefix shingles are
  * the ones with the shortest doc lists, so a boilerplate shingle in
  * every doc never pairs its docs up. Verification joins each candidate
  * pair to its two records and intersects them inside the task — one row
  * per pair, not one per shared shingle. `minhashLshPairs` swaps the
  * prefix join for LSH banding: signatures are narrow
  * ([[minhashSignatures]]) and its only corpus-scale candidate shuffle
  * is the band-bucket groupBy, so LSH output ⊆ exact output with recall
  * governed by (bands, rowsPerBand). Every operator returns a lazy
  * frame: no cache, no checkpoint; within one plan the reused exchanges
  * cover the records' second use. Corpus-sized join sides carry a
  * `merge` hint: their size estimate comes from the compressed input
  * scan, and a broadcast relation stays on the heap until the
  * ContextCleaner frees it.
  */
object Dedup {

  /** Distinct word n-grams of one text, first occurrence first. Raw
    * single-space split — pinned, shared with the DuckDB oracle SQL
    * (SparkEntry). */
  private def textShingles(text: String, n: Int): Array[String] = {
    val ws = text.split(" ")
    if (ws.length < n) Array.empty
    else (0 to ws.length - n).iterator.map(i => ws.slice(i, i + n).mkString(" "))
      .distinct.toArray
  }

  /** Word n-gram shingles, distinct per doc. */
  def shingles(docs: DataFrame, n: Int = 3): Dataset[(Long, String)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select($"doc_id", $"text").as[(Long, String)].flatMap { case (id, text) =>
      textShingles(text, n).iterator.map(s => (id, s))
    }.distinct()
  }

  /** Every doc's record (doc_id, shingles): its distinct shingles in the
    * global rarest-first order (df ascending, then shingle). One narrow
    * pass emits each row's distinct shingles, the shingle aggregate
    * collects each shingle's distinct docs (its df), and the doc
    * aggregate sorts each doc's shingles by (df, shingle). Both drop
    * duplicates, so two rows sharing a doc_id make one record over the
    * union of their shingles. Docs with fewer than n words have no
    * record. The frame stays hash-partitioned by doc_id, so joins on it
    * shuffle only their other side. */
  private def records(docs: DataFrame, n: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select($"doc_id", $"text").as[(Long, String)]
      .flatMap { case (id, text) => textShingles(text, n).iterator.map(s => (s, id)) }
      .toDF("shingle", "doc_id")
      .groupBy($"shingle").agg(collect_set($"doc_id").as("ids"))
      .select(explode($"ids").as("doc_id"), size($"ids").as("df"), $"shingle")
      .groupBy($"doc_id").agg(sort_array(collect_list(struct($"df", $"shingle"))).as("r"))
      .select($"doc_id", $"r.shingle".as("shingles"))
      .hint("merge")
  }

  /** A shingle's 64-bit candidate join key. Equal shingles share it, and
    * a collision only adds a candidate that [[verify]] rejects, so keying
    * by hash loses no pair. */
  private def shingleKey(s: String): Long =
    (hash32(s, 0x3c6ef372).toLong << 32) | (hash32(s, 0x1b873593) & 0xffffffffL)

  /** Each record's shingles as (key, doc_id, sz), the first `take(sz)` of
    * them in rarest-first order. */
  private def keyed(recs: DataFrame)(take: Int => Int): DataFrame = {
    import recs.sparkSession.implicits._
    recs.as[(Long, Array[String])].flatMap { case (id, sh) =>
      sh.iterator.take(take(sh.length)).map(x => (shingleKey(x), id, sh.length))
    }.toDF("key", "doc_id", "sz").hint("merge")
  }

  /** How many of a doc's first shingles under the rarest-first order a
    * qualifying pair must share one of: |s| − c + 1 of its |s| shingles,
    * where c is the least overlap the verification can accept. That
    * verification tests `i / |s| >= tau` (or a Jaccard ratio it bounds)
    * in Double, so c is found by that same test rather than by
    * `ceil(|s|·tau)`, which rounds up past an accepted overlap: at
    * tau = 0.55 and |s| = 100, `100 * 0.55` is 55.00000000000001 and the
    * ceiling is 56, yet 55 / 100 >= 0.55 holds. */
  private def prefixLength(s: Int, tau: Double): Int = {
    val c = math.ceil(s * tau).toInt
    val need = if ((c - 1).toDouble / s >= tau) c - 1 else c
    s - need + 1
  }

  /** |x ∩ y| of two docs' distinct shingles. */
  private def overlap(xs: Array[String], ys: Array[String]): Int = {
    val (small, large) = if (xs.length <= ys.length) (xs, ys) else (ys, xs)
    val set = new java.util.HashSet[String](small.length * 2)
    small.foreach(set.add)
    large.count(set.contains)
  }

  private val jaccard: (Int, Int, Int) => Double = (i, na, nb) => i.toDouble / (na + nb - i)

  /** Exact verification of candidate pairs (x, y), which may repeat:
    * each distinct pair joins both docs' records and intersects them in
    * the task. Keeps the pairs whose `score(i, |x|, |y|)` reaches tau, as
    * (x, y, score) under `names`. The distinct runs on the x-partitioning
    * the first join needs, so it adds no shuffle. */
  private def verify(pairs: DataFrame, recs: DataFrame, tau: Double,
                     names: (String, String, String))
                    (score: (Int, Int, Int) => Double): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    pairs.toDF("x", "y").repartition($"x").dropDuplicates("x", "y")
      .join(recs.toDF("x", "xs"), "x")
      .join(recs.toDF("y", "ys"), "y")
      .select("x", "y", "xs", "ys")
      .as[(Long, Long, Array[String], Array[String])]
      .flatMap { case (x, y, xs, ys) =>
        val v = score(overlap(xs, ys), xs.length, ys.length)
        if (v >= tau) Iterator.single((x, y, v)) else Iterator.empty
      }
      .toDF(names._1, names._2, names._3)
  }

  /** Exact duplicate groups by content hash (hash-groupBy; the only
    * shuffle is on the 64-hex digest — skew-free by construction). */
  def exactDups(docs: DataFrame): DataFrame =
    docs.groupBy(sha2(col("text"), 256).as("text_sha"))
      .agg(count(lit(1)).as("cnt"), sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(col("cnt") > 1)
      .select(col("text_sha"), col("cnt"), col("ids"))

  /** Exact pairwise n-gram Jaccard ≥ tau, by PREFIX FILTERING (Chaudhuri,
    * Ganti & Kaushik ICDE'06; Xiao et al. WWW'08 PPJoin). J(a,b) ≥ τ
    * forces overlap ≥ τ·max(|a|,|b|) (from i ≥ τ(na+nb−i) and i ≤ min),
    * so under ANY global order a qualifying pair shares a shingle inside
    * EACH side's [[prefixLength]] first shingles, and min/max ≥ τ. The
    * candidates are the prefix ⋈ prefix pairs that pass that size
    * filter; [[verify]] computes `i/(na+nb−i)` exactly.
    * Output (doc_a < doc_b, jac). */
  def jaccardPairs(docs: DataFrame, n: Int = 3, tau: Double = 0.5): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau in (0,1], got $tau")
    val spark = docs.sparkSession
    import spark.implicits._
    val recs = records(docs, n)
    val pre = keyed(recs)(prefixLength(_, tau))
    val cand = pre.as("x").join(pre.as("y"), "key")
      .filter($"x.doc_id" < $"y.doc_id" &&
        least($"x.sz", $"y.sz") / greatest($"x.sz", $"y.sz") >= tau)
      .select($"x.doc_id", $"y.doc_id")
    verify(cand, recs, tau, ("doc_a", "doc_b", "jac"))(jaccard)
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
    * Prefix filtering on the CONTAINED side only: C ≥ τ forces a shared
    * shingle inside sub's [[prefixLength]] first shingles, so candidates
    * come from sub-PREFIX ⋈ sup-ALL. The containing side carries no size
    * bound (that is what makes containment asymmetric), but the join
    * stays shallow for the PPJoin reason: prefix shingles are by
    * construction the RAREST, so Σ over prefix shingles of df is small.
    * [[verify]] computes `i/nsub` exactly; output contract mirrors
    * [[jaccardPairs]] (raw-ratio threshold, caller rounds). */
  def containmentPairs(docs: DataFrame, n: Int = 3,
                       tau: Double = 0.8): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau in (0,1], got $tau")
    val spark = docs.sparkSession
    import spark.implicits._
    val recs = records(docs, n)
    val sub = keyed(recs)(prefixLength(_, tau)).select($"key", $"doc_id".as("doc_sub"))
    val sup = keyed(recs)(identity).select($"key", $"doc_id".as("doc_sup"))
    val cand = sub.join(sup, "key")
      .filter($"doc_sub" =!= $"doc_sup")
      .select($"doc_sub", $"doc_sup")
    verify(cand, recs, tau, ("doc_sub", "doc_sup", "containment"))(
      (i, nsub, _) => i.toDouble / nsub)
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
    docs.select($"doc_id", $"text").as[(Long, String)].flatMap { case (id, text) =>
      val sh = textShingles(text, n)
      if (sh.isEmpty) Iterator.empty
      else {
        val sig = Array.fill(numHashes)(Int.MaxValue)
        sh.foreach { s =>
          var p = 0
          while (p < numHashes) {
            val h = hash32(s, p * 0x9e3779b9 + 1)
            if (h < sig(p)) sig(p) = h
            p += 1
          }
        }
        Iterator.single((id, sig))
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
    * ([[minhashCandidates]]); the shingle records are built ONLY for the
    * exact-Jaccard [[verify]], the same one [[jaccardPairs]] ends in. */
  def minhashLshPairs(docs: DataFrame, n: Int = 3, numHashes: Int = 64,
                      bands: Int = 16, tau: Double = 0.5,
                      bucketCap: Int = 10000,
                      dropped: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    val candidates = minhashCandidates(docs, n, numHashes, bands, bucketCap, dropped)
    verify(candidates, records(docs, n), tau, ("doc_a", "doc_b", "jac"))(jaccard)
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
