package graft

import org.apache.spark.sql.functions._

import graft.build.{BuildParams, Segment, SegmentBuilder}
import graft.corpus.{DatasetCorpusSource, Synthesizer}
import graft.model._
import graft.search.{ExactScorer, Searcher}
import graft.tokenize.Tokenizer

/** End-to-end single-segment build + query — SURVEY §5.2/§5.3:
  * invariants, rank-identity of the WAND path vs the exact scorer,
  * byte-identity to a driver-side reference index, determinism across
  * parallelism. */
class IndexBuildSpec extends SparkSpec {

  // small bucketSize so the tiny corpus spans several buckets
  lazy val params: BuildParams = BuildParams(numPartitions = 8, bucketSize = 64)
  lazy val built: (Segment, graft.build.BuildReport) = {
    val corpus = Synthesizer.tiny(spark)
    SegmentBuilder.build(spark, DatasetCorpusSource(corpus), params)
  }
  lazy val seg: Segment = built._1

  test("docIds are dense 0..N-1 in (repo,path,commit) order") {
    import spark.implicits._
    val ids = seg.docs.select("docId").as[Long].collect().sorted
    assert(ids.toSeq == (0L until seg.stats.numDocs).toSeq)
    val keys = seg.docs.orderBy("docId")
      .select("repo", "path", "commit").as[(String, String, String)].collect()
    assert(keys.toSeq == keys.sortBy(k => (k._1, k._2, k._3)).toSeq,
      "docId order must equal key order")
  }

  test("sha256 invariant: docmap hash equals source content hash per row") {
    import spark.implicits._
    val src = Synthesizer.tiny(spark)
      .select($"repo", $"path", $"commit", sha2($"content", 256).as("h"))
    val joinedBad = seg.docs.join(src, Seq("repo", "path", "commit"))
      .filter($"sha256" =!= $"h").count()
    assert(joinedBad == 0)
    assert(src.count() == seg.stats.numDocs)
  }

  test("dictionary invariants: dense termIds in term order; df/cf consistent with decoded postings") {
    import spark.implicits._
    val d = seg.dict.orderBy("termId").collect()
    assert(d.map(_.termId).toSeq == d.indices.map(_.toLong))
    assert(d.map(_.term).toSeq == d.map(_.term).sorted.toSeq)
    // df == number of decoded postings per term; cf == Σtf
    val dec = ExactScorer.decodedPostings(spark, seg)
      .groupByKey(_._1).mapGroups { (tid, it) =>
        var n = 0L; var cf = 0L
        it.foreach { r => n += 1; cf += r._3 }
        (tid, n, cf)
      }.collect().sortBy(_._1)
    assert(dec.length == d.length)
    dec.zip(d).foreach { case ((tid, n, cf), e) =>
      assert(tid == e.termId && n == e.df && cf == e.cf,
        s"term ${e.term}: dict(df=${e.df},cf=${e.cf}) decoded(df=$n,cf=$cf)")
    }
  }

  test("Σcf == ΣdocLen == total tokens") {
    import spark.implicits._
    val sumCf = seg.dict.agg(sum($"cf")).as[Long].head()
    val sumDl = seg.docs.agg(sum($"docLen".cast("long"))).as[Long].head()
    assert(sumCf == sumDl)
    assert(built._2.totalTokens == sumDl)
  }

  test("doclen blocks cover every doc with correct lengths") {
    import spark.implicits._
    val fromBlocks = seg.doclens.flatMap { b =>
      b.lens.indices.map(i => (b.firstDocId + i, b.lens(i)))
    }.collect().toMap
    val fromDocs = seg.docs.select($"docId", $"docLen").as[(Long, Int)].collect().toMap
    assert(fromBlocks == fromDocs)
  }

  /** Query mix: hot per-lang keyword, mid, rare, needle, absent. */
  def queryTerms(): Seq[String] = {
    import spark.implicits._
    val byDf = seg.dict.orderBy(desc("df")).limit(200).collect()
    val hot = byDf.head.term
    val mid = byDf(byDf.length / 2).term
    val rare = seg.dict.orderBy(asc("df")).limit(1).collect().head.term
    val needle = seg.dict.filter($"term".startsWith("uniq")).limit(1)
      .collect().headOption.map(_.term)
    Seq(hot, mid, rare) ++ needle.toSeq
  }

  test("rank identity: WAND == exhaustive == exact scorer, bit-identical scores") {
    val ts = queryTerms()
    val queries = Seq(
      ("FREE", ts.take(2).mkString(" ")),
      ("FREE", ts.mkString(" ")),
      ("FREE", ts.last),
      ("OR", ts.take(3).mkString(" OR ")),
      ("AND", ts.take(2).mkString(" AND ")),
      ("AND", s"${ts.head} AND zzz_no_such_term"),
      ("FREE", "zzz_no_such_term"))
    val searcher = new Searcher(spark, seg)
    for ((kind, text) <- queries; k <- Seq(1, 10, 100)) {
      val wand = searcher.hits(kind, text, k).collect()
        .map(h => (h.rank, h.docId, java.lang.Double.doubleToLongBits(h.score)))
      val exh = searcher.hitsExhaustive(kind, text, k).collect()
        .map(h => (h.rank, h.docId, java.lang.Double.doubleToLongBits(h.score)))
      val exact = ExactScorer.topK(spark, seg, text, kind, k).collect()
        .map(h => (h.rank, h.docId, java.lang.Double.doubleToLongBits(h.score)))
      assert(wand.toSeq == exact.toSeq, s"WAND vs exact: $kind '$text' k=$k")
      assert(exh.toSeq == exact.toSeq, s"exhaustive vs exact: $kind '$text' k=$k")
    }
  }

  test("AND results are exactly the docs containing all terms") {
    import spark.implicits._
    val ts = queryTerms().take(2)
    val searcher = new Searcher(spark, seg)
    val got = searcher.hits("AND", ts.mkString(" "), 1000).collect()
      .map(_.docId).toSet
    val src = Synthesizer.tiny(spark)
    val want = seg.docs.join(
      src, Seq("repo", "path", "commit"))
      .select($"docId", $"content").as[(Long, String)].collect()
      .filter { case (_, c) =>
        val toks = Tokenizer.tokenize(c).toSet
        ts.forall(toks.contains)
      }.map(_._1).toSet
    assert(got == want)
  }

  private def fingerprint(pls: Seq[PostingList]): Seq[(Int, Long, Int, String, Seq[Float])] =
    pls.map(pl => (pl.bucket, pl.termId, pl.numDocs,
      java.util.Base64.getEncoder.encodeToString(
        java.security.MessageDigest.getInstance("SHA-256").digest(pl.bytes)),
      pl.maxImpacts.toSeq))
      .sortBy(r => (r._1, r._2))

  private def fingerprint(s: Segment): Seq[(Int, Long, Int, String, Seq[Float])] =
    fingerprint(s.postings.collect().toSeq)

  /** The reference index over the tiny corpus, numbered by key order. */
  private def tinyReference(positional: Boolean): ReferenceIndex = {
    val rows = ReferenceIndex.numbered(Synthesizer.tiny(spark).collect().toSeq)
    new ReferenceIndex(rows.map { case (id, r) => (id, r.content) }, params.bucketSize, positional)
  }

  test("run build is byte-identical to the reference index (incl. block maxima)") {
    assert(fingerprint(seg) == fingerprint(tinyReference(positional = false).postings))
  }

  test("positional run build is byte-identical to the positional reference index") {
    val corpus = Synthesizer.tiny(spark)
    val (segRuns, _) = SegmentBuilder.build(spark, DatasetCorpusSource(corpus),
      params.copy(positional = true))
    assert(fingerprint(segRuns) == fingerprint(tinyReference(positional = true).postings))
    segRuns.unpersist()
  }

  test("run build equals the reference index over many flushes and zero-token docs") {
    import spark.implicits._
    // paths sort in i order, so docId == i; bucketSize 8 puts docs 16 and
    // 40 (zero-token) and 8, 24, ... (with tokens) on a bucket's first id
    val bucketSize = 8L
    val zeroToken = Set(16L, 40L) ++ (0L until 150L).filter(_ % 11 == 5)
    val vocab = Seq("alpha", "beta", "gamma", "parseHttp", "XMLReader", "request2", "hot")
    val rows = (0 until 150).map { i =>
      val content =
        if (!zeroToken(i.toLong)) (0 until 3 + i % 7).map(j => vocab((i * 3 + j * j) % vocab.size))
          .mkString(" ") + s" uniq$i hot"
        else if (i % 2 == 0) "--- !!! ;; {}"
        else "123 4567 89 x"
      CorpusRow("r", f"src/f$i%04d.scala", "c1", "scala", content)
    }
    val corpus = rows.toDS()
    def doclens(blocks: Seq[DocLenBlock]): Seq[(Int, Long, Seq[Int])] =
      blocks.map(b => (b.bucket, b.firstDocId, b.lens.toSeq)).sortBy(_._1)
    for (positional <- Seq(false, true)) {
      val p = BuildParams(numPartitions = 4, bucketSize = bucketSize, positional = positional)
      val (runSeg, runRep) = SegmentBuilder.build(spark, DatasetCorpusSource(corpus), p)
      val ref = new ReferenceIndex(rows.indices.map(i => (i.toLong, rows(i).content)),
        bucketSize, positional)
      val parts = runSeg.meta.collect().filter(_.partId >= 0)
      assert(parts.length == 4 && parts.forall { m =>
        (m.firstDocId + m.numDocs - 1) / bucketSize - m.firstDocId / bucketSize + 1 >= 3
      }, s"every id partition must span >= 3 buckets: ${parts.map(m => (m.firstDocId, m.numDocs)).toSeq}")
      assert(fingerprint(runSeg) == fingerprint(ref.postings), s"positional=$positional")
      assert(runSeg.dict.collect().sortBy(_.termId).toSeq == ref.dict)
      assert(runSeg.docs.collect().sortBy(_.docId).toSeq ==
        rows.indices.map(i => ReferenceIndex.doc(i.toLong, rows(i), ref.docLens(i.toLong))))
      assert(doclens(runSeg.doclens.collect().toSeq) == doclens(ref.doclens))
      assert(runRep.totalTokens == ref.totalTokens && runRep.numPostings == ref.numPostings)
      val zeroLen = runSeg.docs.filter($"docLen" === 0).select($"docId").as[Long].collect().toSet
      assert(zeroLen == zeroToken, s"positional=$positional")
      runSeg.unpersist()
    }
  }

  test("a key missing from the dictionary fails the dictionary join loudly") {
    import spark.implicits._
    val dict = Seq(("alpha", 0L), ("beta", 1L)).toDF("term", "termId")
    val rows = Seq(("alpha", 7), ("gamma", 8)).toDF("term", "n")
    // broadcast (small vocabulary) and sort-merge (numTerms above the limit)
    for (numTerms <- Seq(2L, SegmentBuilder.DictBroadcastLimit + 1)) {
      val joined = SegmentBuilder.joinDict(rows, dict, numTerms, "term")
      val err = intercept[Exception](joined.collect())
      assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage).contains("term not in dictionary: 'gamma'")),
        s"numTerms=$numTerms: $err")
      assert(SegmentBuilder.joinDict(rows.filter($"term" === "alpha"), dict, numTerms, "term")
        .select($"termId").as[Long].collect().toSeq == Seq(0L))
    }
  }

  test("duplicate corpus rows dedup inside the id-assignment sort (no extra shuffle)") {
    import spark.implicits._
    val base = Synthesizer.tiny(spark)
    val withDups = base.union(base.limit(37)).union(base.limit(5))
    val (numbered, ranges, free) = graft.build.DocIds.assign(withDups, 8)
    val rows = numbered.collect().sortBy(_.docId)
    assert(rows.length == 200, "dups must collapse to the 200 unique keys")
    assert(rows.map(_.docId).toSeq == (0L until 200L))
    assert(ranges.map(_.count).sum == 200)
    val keys = rows.map(r => (r.repo, r.path, r.commit))
    assert(keys.distinct.length == 200)
    assert(keys.sorted.toSeq == keys.toSeq, "order must still be the global key order")
    free()
  }

  test("resident and cogroup doclen modes are rank-identical") {
    val ts = queryTerms()
    val resident = new Searcher(spark, seg)
    val cogrouped = new Searcher(spark, seg, residentDoclens = false)
    for ((kind, text) <- Seq(("FREE", ts.mkString(" ")), ("AND", ts.take(2).mkString(" AND ")))) {
      val a = resident.hits(kind, text, 25).collect()
        .map(h => (h.rank, h.docId, java.lang.Double.doubleToLongBits(h.score))).toSeq
      val b = cogrouped.hits(kind, text, 25).collect()
        .map(h => (h.rank, h.docId, java.lang.Double.doubleToLongBits(h.score))).toSeq
      assert(a == b && a.nonEmpty, s"$kind '$text'")
    }
  }

  test("determinism: different parallelism yields identical artifacts") {
    val corpus = Synthesizer.tiny(spark)
    val (seg2, _) = SegmentBuilder.build(spark, DatasetCorpusSource(corpus),
      params.copy(numPartitions = 3))
    import spark.implicits._
    val a = seg.docs.select($"docId", $"repo", $"path", $"sha256", $"docLen")
      .as[(Long, String, String, String, Int)].collect().sortBy(_._1).toSeq
    val b = seg2.docs.select($"docId", $"repo", $"path", $"sha256", $"docLen")
      .as[(Long, String, String, String, Int)].collect().sortBy(_._1).toSeq
    assert(a == b)
    val da = seg.dict.collect().sortBy(_.termId).toSeq
    val db = seg2.dict.collect().sortBy(_.termId).toSeq
    assert(da == db)
    seg2.unpersist()
  }
}
