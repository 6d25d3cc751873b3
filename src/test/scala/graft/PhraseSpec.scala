package graft

import graft.build.{BuildParams, SegmentBuilder}
import graft.corpus.{DatasetCorpusSource, Synthesizer}
import graft.index.Compaction
import graft.model.BM25
import graft.search.{QueryParser, Searcher}
import graft.tokenize.Tokenizer

/** Phrase queries over positional postings (codec v2) — checked against
  * a from-first-principles oracle: tokenize every document, scan for the
  * consecutive phrase, score distinct terms with BM25. */
class PhraseSpec extends SparkSpec {

  lazy val corpus = Synthesizer.corpus(spark, 300L).collect()

  lazy val (seg, _) = SegmentBuilder.build(spark,
    DatasetCorpusSource(Synthesizer.corpus(spark, 300L)),
    BuildParams(numPartitions = 4, bucketSize = 64, positional = true))

  lazy val searcher = new Searcher(spark, seg)

  /** Docs whose filtered token stream contains the phrase consecutively. */
  private def bruteDocs(phrase: Array[String]): Set[String] =
    corpus.iterator.flatMap { r =>
      val toks = Tokenizer.tokenize(r.content)
      val hit = toks.indices.exists(i =>
        i + phrase.length <= toks.length &&
          phrase.indices.forall(j => toks(i + j) == phrase(j)))
      if (hit) Some(r.repo + "/" + r.path) else None
    }.toSet

  private def keyOf(docId: Long): String = {
    val row = seg.docs.filter(s"docId = $docId")
      .select("repo", "path").collect().head
    row.getString(0) + "/" + row.getString(1)
  }

  /** Phrases actually present: adjacent token runs from real documents. */
  lazy val presentPhrases: Seq[Array[String]] = {
    val toks = Tokenizer.tokenize(corpus(5).content)
    val toks2 = Tokenizer.tokenize(corpus(100).content)
    Seq(
      toks.slice(3, 5), toks.slice(10, 13),
      toks2.slice(0, 2), toks2.slice(7, 10))
      .filter(_.length >= 2)
  }

  /** A phrase from a real document whose first term comes back (`x y x`):
    * two slot cursors walk one posting list, and the term scores once. */
  lazy val repeatedPhrase: Array[String] = {
    val found = corpus.iterator.map(r => Tokenizer.tokenize(r.content))
      .flatMap(t => (0 until t.length - 2).iterator
        .filter(i => t(i) == t(i + 2) && t(i) != t(i + 1)).map(i => t.slice(i, i + 3)))
      .nextOption()
    assert(found.nonEmpty, "the corpus must hold an x y x token run")
    found.get
  }

  test("phrase hits == brute-force consecutive-token scan, scores are BM25 over distinct terms") {
    (presentPhrases :+ repeatedPhrase).foreach { phrase =>
      val text = "\"" + phrase.mkString(" ") + "\""
      val hits = searcher.hits("PHRASE", text, 1000).collect()
      val got = hits.map(h => keyOf(h.docId)).toSet
      val want = bruteDocs(phrase)
      assert(want.nonEmpty, s"test phrase '${phrase.mkString(" ")}' must occur")
      assert(got == want,
        s"phrase '${phrase.mkString(" ")}': got ${got.size} want ${want.size}")

      // scores = the AND-query scores of the same docs (distinct terms)
      val andText = phrase.distinct.mkString(" AND ")
      val andScores =
        if (phrase.distinct.length > 1)
          searcher.hits("AND", andText, 1000).collect()
            .map(h => h.docId -> h.score).toMap
        else
          searcher.hits("FREE", phrase.head, 1000).collect()
            .map(h => h.docId -> h.score).toMap
      hits.foreach { h =>
        assert(andScores.contains(h.docId))
        assert(andScores(h.docId) == h.score,
          s"phrase score must be bit-identical to AND score for doc ${h.docId}")
      }
    }
  }

  /** Docs whose token stream has one occurrence of each term within a
    * w-token minimal span. */
  private def bruteNear(terms: Array[String], w: Int): Set[String] =
    corpus.iterator.flatMap { r =>
      val toks = Tokenizer.tokenize(r.content)
      val posOf = terms.map(t => toks.indices.filter(i => toks(i) == t).toArray)
      val hit = posOf.forall(_.nonEmpty) && {
        // exhaustive minimal span (test-side oracle, small lists)
        val combos = posOf.foldLeft(Seq(Seq.empty[Int]))((acc, ps) =>
          acc.flatMap(c => ps.map(c :+ _)))
        combos.exists(c => c.max - c.min <= w)
      }
      if (hit) Some(r.repo + "/" + r.path) else None
    }.toSet

  test("NEAR hits == brute-force minimal-span scan; scores equal AND scores") {
    val pairs = Seq((Array("hash", "map"), 4), (Array("get", "value"), 6),
      (Array(Tokenizer.tokenize(corpus(5).content)(3),
        Tokenizer.tokenize(corpus(5).content)(10)), 8))
    pairs.foreach { case (ts0, w) =>
      val ts = ts0.distinct
      if (ts.length == 2) {
        val text = s"${ts(0)} NEAR/$w ${ts(1)}"
        val hits = searcher.hits("NEAR", text, 1000).collect()
        val got = hits.map(h => keyOf(h.docId)).toSet
        val want = bruteNear(ts, w)
        assert(got == want, s"'$text': got ${got.size} want ${want.size}")
        val andScores = searcher.hits("AND", s"${ts(0)} AND ${ts(1)}", 1000)
          .collect().map(h => h.docId -> h.score).toMap
        hits.foreach(h => assert(andScores(h.docId) == h.score))
      }
    }
  }

  test("PREFIX expands the dictionary and ranks exactly like the expanded OR") {
    val prefix = "re" // several code tokens start with re- in the synth corpus
    val expanded = seg.dict.collect().map(_.term).filter(_.startsWith(prefix))
    assert(expanded.length >= 2, s"need >=2 terms for prefix '$prefix': ${expanded.toSeq}")
    val viaPrefix = searcher.hits("PREFIX", s"$prefix*", 500).collect()
      .map(h => (h.rank, h.docId, h.score)).toSeq
    val viaOr = searcher.hits("OR", expanded.mkString(" OR "), 500).collect()
      .map(h => (h.rank, h.docId, h.score)).toSeq
    assert(viaPrefix == viaOr, "prefix must equal the expanded OR bit-identically")
    assert(searcher.hits("PREFIX", "zzznothing*", 10).count() == 0)
  }

  test("REGEX expands like PREFIX and ranks exactly like the expanded OR") {
    val expanded = seg.dict.collect().map(_.term).filter(_.matches("re.*"))
    assert(expanded.length >= 2, expanded.toSeq.toString)
    val viaRegex = searcher.hits("REGEX", "re:re.*", 500).collect()
      .map(h => (h.rank, h.docId, h.score)).toSeq
    val viaOr = searcher.hits("OR", expanded.mkString(" OR "), 500).collect()
      .map(h => (h.rank, h.docId, h.score)).toSeq
    assert(viaRegex == viaOr, "regex must equal the expanded OR bit-identically")
    val (kind, terms) = QueryParser.parse("re:(foo|bar)baz")
    assert(kind == "REGEX" && terms.head == "(foo|bar)baz")
    // a pattern ending in * must stay REGEX, not misparse as PREFIX
    assert(QueryParser.parse("re:ab*")._1 == "REGEX")
    assert(QueryParser.parse("re:ab*")._2.head == "ab*")
    assert(searcher.hits("REGEX", "re:zzz.*qqq", 10).count() == 0)
  }

  test("scoped search == global results filtered to the repo's docId range") {
    import org.apache.spark.sql.functions.col
    val repo = corpus(57).repo
    val range = seg.docs.filter(col("repo") === repo)
      .agg(org.apache.spark.sql.functions.min(col("docId")),
        org.apache.spark.sql.functions.max(col("docId")))
      .collect().head
    val (lo, hi) = (range.getLong(0), range.getLong(1) + 1)
    // the repo is contiguous in docId space (P4 sort order)
    assert(seg.docs.filter(col("docId") >= lo && col("docId") < hi)
      .filter(col("repo") =!= repo).count() == 0)
    // use terms that provably occur inside the scoped repo
    val inRepo = Tokenizer.tokenize(corpus(57).content).distinct
    Seq(("FREE", s"${inRepo(0)} ${inRepo(1)} ${inRepo(2)}"),
      ("AND", s"${inRepo(0)} AND ${inRepo(1)}"),
      ("OR", s"${inRepo(3)} OR ${inRepo(4)}")).foreach { case (kind, text) =>
      val scoped = searcher.scopedHits(kind, text, 10, lo, hi).collect()
        .map(h => (h.rank, h.docId, h.score)).toSeq
      val want = searcher.hitsExhaustive(kind, text, 100000).collect()
        .filter(h => h.docId >= lo && h.docId < hi)
        .sortBy(h => (-h.score, h.docId)).take(10).zipWithIndex
        .map { case (h, i) => (i + 1, h.docId, h.score) }.toSeq
      assert(scoped == want, s"$kind '$text': scoped=$scoped want=$want")
      assert(scoped.nonEmpty, s"$kind '$text' should hit inside $repo")
    }
    // scoped phrase also works (range view composes with position checks)
    val phrase = presentPhrases.head
    val text = "\"" + phrase.mkString(" ") + "\""
    val scopedP = searcher.scopedHits("PHRASE", text, 100, lo, hi).collect()
    val allP = searcher.hits("PHRASE", text, 100000).collect()
      .filter(h => h.docId >= lo && h.docId < hi).map(h => (h.docId, h.score)).toSet
    assert(scopedP.map(h => (h.docId, h.score)).toSet == allP)
  }

  test("phrase with absent adjacency or unknown term returns empty") {
    val toks = Tokenizer.tokenize(corpus(5).content)
    // reversed adjacent pair is (almost surely) not a phrase; verify brute
    val reversed = Array(toks(4), toks(3))
    if (bruteDocs(reversed).isEmpty)
      assert(searcher.hits("PHRASE", "\"" + reversed.mkString(" ") + "\"", 10).count() == 0)
    assert(searcher.hits("PHRASE", "\"zzzunknownterm " + toks(3) + "\"", 10).count() == 0)
  }

  test("QueryParser recognizes quoted phrases and keeps slot order") {
    val (kind, terms) = QueryParser.parse("\"fooBar baz\"")
    assert(kind == "PHRASE")
    assert(terms.toSeq == Seq("foo", "bar", "baz"))
    assert(QueryParser.termsFor("PHRASE", "\"get get value\"").toSeq ==
      Seq("get", "get", "value"), "duplicates are slots, not a bag")
  }

  test("positional segments merge and answer phrases identically") {
    import org.apache.spark.sql.functions.col
    val params = BuildParams(numPartitions = 4, bucketSize = 64, positional = true)
    val src = Synthesizer.corpus(spark, 300L)
    val (numbered, ranges, free) = graft.build.DocIds.assign(src, 4)
    try {
      val half = 150L
      val (segA, _) = SegmentBuilder.buildFromNumbered(spark,
        numbered.filter(r => r.docId < half),
        Array(graft.build.PartRange(0, 0, half)), 0L, Array.empty, params)
      val (segB, _) = SegmentBuilder.buildFromNumbered(spark,
        numbered.filter(r => r.docId >= half),
        Array(graft.build.PartRange(1, half, 300L - half)), 0L, Array.empty,
        params.copy(segId = 1))
      val (merged, _) = Compaction.mergeAll(spark, Seq(segA, segB), params.copy(segId = 2))
      val phrase = presentPhrases.head
      val text = "\"" + phrase.mkString(" ") + "\""
      val fromMerged = new Searcher(spark, merged).hits("PHRASE", text, 1000)
        .collect().map(h => (h.docId, h.score)).sortBy(_._1).toSeq
      val fromSingle = searcher.hits("PHRASE", text, 1000)
        .collect().map(h => (h.docId, h.score)).sortBy(_._1).toSeq
      assert(fromMerged == fromSingle,
        "merged positional segment must answer phrases bit-identically")
      // merge-on-read (LSM multi-segment) phrase path, global stats
      val fromMulti = new graft.search.MultiSearcher(spark, Seq(segA, segB))
        .hits("PHRASE", text, 1000)
        .collect().map(h => (h.docId, h.score)).sortBy(_._1).toSeq
      assert(fromMulti == fromSingle,
        "multi-segment phrase reads must be bit-identical to the compacted read")
      segA.unpersist(); segB.unpersist(); merged.unpersist()
    } finally free()
  }
}
