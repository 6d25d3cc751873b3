package graft

import graft.build.{BuildParams, SegmentBuilder}
import graft.corpus.{DatasetCorpusSource, Synthesizer}
import graft.search.Searcher
import graft.tokenize.Tokenizer

/** Intervals queries (the Lucene/ES intervals algebra: ordered source
  * with max_gaps + optional not_containing filter). The engine walks
  * per-start GREEDY chains; the spec's brute force enumerates ALL
  * ordered position combinations — passing proves the greedy rule
  * decides the existential exactly (the optimality argument in
  * Wand.intervalsMatch), plus the phrase-degeneration and
  * filter-monotonicity laws and the validation surface. */
class IntervalsSpec extends SparkSpec {

  lazy val seg = SegmentBuilder.build(spark,
    DatasetCorpusSource(Synthesizer.tiny(spark)),
    BuildParams(numPartitions = 4, bucketSize = 64, positional = true))._1
  lazy val searcher = new Searcher(spark, seg)
  lazy val toksByDoc: Map[Long, Array[String]] = {
    import org.apache.spark.sql.functions.col
    val c = Synthesizer.tiny(spark).toDF()
      .select(col("repo"), col("path"), col("content"))
    import spark.implicits._
    seg.docs.join(c, Seq("repo", "path"))
      .select(col("docId"), col("content")).as[(Long, String)]
      .collect().map { case (d, t) => d -> Tokenizer.tokenize(t) }.toMap
  }

  /** ∃ ANY strictly-increasing ordered chain (one position per term,
    * all combinations — not just greedy) with ≤ g gaps and no filter
    * position inside [first, last]. */
  private def bruteMatch(toks: Array[String], terms: Seq[String], g: Int,
                         not: Option[String]): Boolean = {
    val posOf = terms.map(t => toks.zipWithIndex.collect { case (w, i) if w == t => i })
    if (posOf.exists(_.isEmpty)) return false
    val notPos = not.map(t => toks.zipWithIndex.collect { case (w, i) if w == t => i })
      .getOrElse(Array.empty[Int])
    def chains(i: Int, prev: Int): Iterator[Int] =
      if (i == terms.length) Iterator(prev)
      else posOf(i).iterator.filter(_ > prev).flatMap(p => chains(i + 1, p))
    posOf.head.iterator.exists { s =>
      chains(1, s).exists { e =>
        e - s + 1 - terms.length <= g && !notPos.exists(q => q >= s && q <= e)
      }
    }
  }

  private def pickPair: Seq[String] = {
    val pair = toksByDoc.values.flatMap(_.distinct.take(12))
      .groupBy(identity).view.mapValues(_.size).toSeq
      .filter(_._2 >= 2).sortBy(_._1).take(2).map(_._1)
    assume(pair.length == 2)
    pair
  }

  test("intervalsHits == all-chains brute force across gap budgets") {
    val pair = pickPair
    val q = s"${pair(0)} ${pair(1)}"
    val n = seg.stats.numDocs.toInt
    val andHits = searcher.hitsExhaustive("AND", s"${pair(0)} AND ${pair(1)}", n)
      .collect()
    // the filter term: something that co-occurs with the pair somewhere
    val filterTerm = toksByDoc.values.flatMap(_.distinct)
      .find(t => !pair.contains(t) && toksByDoc.values.exists(ts =>
        ts.contains(t) && ts.contains(pair(0)))).get
    for (g <- Seq(0, 1, 3, 8, 1000); not <- Seq(None, Some(filterTerm))) {
      val want = {
        val ok = toksByDoc.collect {
          case (d, toks) if bruteMatch(toks, pair, g, not) => d
        }.toSet
        andHits.filter(h => ok(h.docId))
          .sortBy(h => (-h.score, h.docId)).take(10)
          .map(h => (h.docId, h.score)).toSeq
      }
      val got = searcher.intervalsHits(q, g, not.getOrElse(""), 10).collect()
        .map(h => (h.docId, h.score)).toSeq
      assert(got == want, s"g=$g not=$not")
    }
  }

  test("max_gaps=0 with no filter degrades to PHRASE bit-identically") {
    val pair = pickPair
    val q = s"${pair(0)} ${pair(1)}"
    val phrase = searcher.hits("PHRASE", s""""$q"""", 10).collect()
      .map(h => (h.docId, h.score)).toSeq
    val got = searcher.intervalsHits(q, 0, "", 10).collect()
      .map(h => (h.docId, h.score)).toSeq
    assert(got == phrase)
  }

  test("filtered hits are a subset of unfiltered; OOV filter is neutral") {
    val pair = pickPair
    val q = s"${pair(0)} ${pair(1)}"
    val n = seg.stats.numDocs.toInt
    val unfiltered = searcher.intervalsHits(q, 5, "", n).collect()
      .map(h => h.docId -> h.score).toMap
    val filterTerm = toksByDoc.values.flatMap(_.distinct)
      .find(t => !pair.contains(t)).get
    val filtered = searcher.intervalsHits(q, 5, filterTerm, n).collect()
    filtered.foreach(h =>
      assert(unfiltered.get(h.docId).contains(h.score),
        s"filtered hit ${h.docId} missing or rescored"))
    val oov = searcher.intervalsHits(q, 5, "zzzqqqxx", n).collect()
      .map(h => h.docId -> h.score).toMap
    assert(oov == unfiltered)
  }

  test("serving-tier intervals == relational intervals, bit-identical") {
    val pair = pickPair
    val q = s"${pair(0)} ${pair(1)}"
    val filterTerm = toksByDoc.values.flatMap(_.distinct)
      .find(t => !pair.contains(t)).get
    val srv = new graft.search.ServingSearcher(spark, seg)
    try {
      for (g <- Seq(0, 3, 1000); not <- Seq("", filterTerm)) {
        val rel = searcher.intervalsHits(q, g, not, 10).collect()
          .map(h => (h.docId, h.score)).toSeq
        val got = srv.intervalsHits(q, g, not, 10)
          .map(h => (h.docId, h.score)).toSeq
        assert(got == rel, s"g=$g not='$not'")
      }
      assert(srv.intervalsHits(s"${pair(0)} zzzqqqxx", 3, "", 10).isEmpty)
      // containing + any_of parity on the same fixtures
      val Seq(a, b, c) = pickTriple
      val filt3 = toksByDoc.values.flatMap(_.distinct)
        .find(t => !Seq(a, b, c).contains(t)).get
      for (g <- Seq(0, 3, 1000)) {
        val relC = searcher.intervalsContainingHits(q, g, filterTerm, 10)
          .collect().map(h => (h.docId, h.score)).toSeq
        val gotC = srv.intervalsContainingHits(q, g, filterTerm, 10)
          .map(h => (h.docId, h.score)).toSeq
        assert(gotC == relC, s"containing g=$g")
        val relA = searcher.intervalsAnyHits(s"$a|$c $b", g, filt3, 10)
          .collect().map(h => (h.docId, h.score)).toSeq
        val gotA = srv.intervalsAnyHits(s"$a|$c $b", g, filt3, 10)
          .map(h => (h.docId, h.score)).toSeq
        assert(gotA == relA, s"any g=$g")
      }
      assert(srv.intervalsContainingHits(q, 3, "zzzqqqxx", 10).isEmpty)
      assert(srv.intervalsAnyHits(s"zzzqqqxx|qqqzzzyy ${pair(1)}", 3, "", 10)
        .isEmpty)
    } finally srv.close()
  }

  /** containing brute force: the PINNED minimized-source rule — ∃ start
    * whose per-start GREEDY chain fits the budget AND holds a filter
    * position inside [s, e]. (Unlike not_containing, greedy here is the
    * rule itself, not an optimization of an all-chains existential.) */
  private def bruteContain(toks: Array[String], terms: Seq[String], g: Int,
                           filter: String): Boolean = {
    val posOf = terms.map(t => toks.zipWithIndex.collect { case (w, i) if w == t => i })
    if (posOf.exists(_.isEmpty)) return false
    val fPos = toks.zipWithIndex.collect { case (w, i) if w == filter => i }
    posOf.head.exists { s =>
      var prev = s
      var ok = true
      for (i <- 1 until terms.length if ok) {
        posOf(i).find(_ > prev) match {
          case Some(p) => prev = p
          case None => ok = false
        }
      }
      ok && prev - s + 1 - terms.length <= g &&
        fPos.exists(q => q >= s && q <= prev)
    }
  }

  test("containing == per-start greedy brute force; partition law") {
    val pair = pickPair
    val q = s"${pair(0)} ${pair(1)}"
    val n = seg.stats.numDocs.toInt
    val andHits = searcher.hitsExhaustive("AND", s"${pair(0)} AND ${pair(1)}", n)
      .collect()
    val filterTerm = toksByDoc.values.flatMap(_.distinct)
      .find(t => !pair.contains(t) && toksByDoc.values.exists(ts =>
        ts.contains(t) && ts.contains(pair(0)))).get
    for (g <- Seq(0, 1, 3, 8, 1000)) {
      val want = {
        val ok = toksByDoc.collect {
          case (d, toks) if bruteContain(toks, pair, g, filterTerm) => d
        }.toSet
        andHits.filter(h => ok(h.docId))
          .sortBy(h => (-h.score, h.docId)).take(10)
          .map(h => (h.docId, h.score)).toSeq
      }
      val got = searcher.intervalsContainingHits(q, g, filterTerm, 10)
        .collect().map(h => (h.docId, h.score)).toSeq
      assert(got == want, s"g=$g")
      // partition law: containing ∪ not_containing = unfiltered doc set,
      // with identical scores (the filter never rescales)
      val unf = searcher.intervalsHits(q, g, "", n).collect()
        .map(h => h.docId -> h.score).toMap
      val notC = searcher.intervalsHits(q, g, filterTerm, n).collect()
        .map(h => h.docId -> h.score).toMap
      val cont = searcher.intervalsContainingHits(q, g, filterTerm, n)
        .collect().map(h => h.docId -> h.score).toMap
      assert((notC.keySet ++ cont.keySet) == unf.keySet, s"g=$g partition")
      (notC ++ cont).foreach { case (d, s) => assert(unf(d) == s) }
    }
    // OOV filter can never be contained; filter among query terms rejected
    assert(searcher.intervalsContainingHits(q, 3, "zzzqqqxx", 10)
      .collect().isEmpty)
    intercept[IllegalArgumentException](
      searcher.intervalsContainingHits(q, 3, pair(0), 10))
  }

  /** any_of brute force: slot i's eligible positions = the UNION of its
    * alternatives' positions; otherwise the ordered all-chains rule. */
  private def bruteMatchAny(toks: Array[String], slots: Seq[Seq[String]],
                            g: Int, not: Option[String]): Boolean = {
    val posOf = slots.map(alts =>
      toks.zipWithIndex.collect { case (w, i) if alts.contains(w) => i })
    if (posOf.exists(_.isEmpty)) return false
    val notPos = not.map(t => toks.zipWithIndex.collect { case (w, i) if w == t => i })
      .getOrElse(Array.empty[Int])
    def chains(i: Int, prev: Int): Iterator[Int] =
      if (i == slots.length) Iterator(prev)
      else posOf(i).iterator.filter(_ > prev).flatMap(p => chains(i + 1, p))
    posOf.head.iterator.exists { s =>
      chains(1, s).exists { e =>
        e - s + 1 - slots.length <= g && !notPos.exists(q => q >= s && q <= e)
      }
    }
  }

  private def pickTriple: Seq[String] = {
    val ts = toksByDoc.values.flatMap(_.distinct.take(12))
      .groupBy(identity).view.mapValues(_.size).toSeq
      .filter(_._2 >= 2).sortBy(_._1).take(3).map(_._1)
    assume(ts.length == 3)
    ts
  }

  test("any_of intervals == all-chains brute force over merged alternatives") {
    val Seq(a, b, c) = pickTriple
    val n = seg.stats.numDocs.toInt
    // the BOOL scoring contract: every present alternative term scores —
    // exactly the exhaustive OR walk's per-doc score
    val orHits = searcher.hitsExhaustive("OR", s"$a $b $c", n).collect()
    val filterTerm = toksByDoc.values.flatMap(_.distinct)
      .find(t => !Seq(a, b, c).contains(t) && toksByDoc.values.exists(ts =>
        ts.contains(t) && ts.contains(a))).get
    // (a OR c) then b; then (a OR c) then (b OR c), where c is an
    // alternative of both slots and walks one cursor shared by them
    val inputs = Seq(Seq(Seq(a, c), Seq(b)), Seq(Seq(a, c), Seq(b, c)))
    for (slots <- inputs; g <- Seq(0, 1, 3, 8, 1000);
         not <- Seq(None, Some(filterTerm))) {
      val q = slots.map(_.mkString("|")).mkString(" ")
      val want = {
        val ok = toksByDoc.collect {
          case (d, toks) if bruteMatchAny(toks, slots, g, not) => d
        }.toSet
        orHits.filter(h => ok(h.docId))
          .sortBy(h => (-h.score, h.docId)).take(10)
          .map(h => (h.docId, h.score)).toSeq
      }
      val got = searcher.intervalsAnyHits(q, g, not.getOrElse(""), 10)
        .collect().map(h => (h.docId, h.score)).toSeq
      assert(got == want, s"q=$q g=$g not=$not")
    }
  }

  test("single-alternative slots degrade to plain intervals bit-identically") {
    val pair = pickPair
    val q = s"${pair(0)} ${pair(1)}"
    for (g <- Seq(0, 3, 1000)) {
      val plain = searcher.intervalsHits(q, g, "", 10).collect()
        .map(h => (h.docId, h.score)).toSeq
      val any = searcher.intervalsAnyHits(q, g, "", 10).collect()
        .map(h => (h.docId, h.score)).toSeq
      assert(any == plain, s"g=$g")
    }
  }

  test("any_of: OOV alternatives drop from their slot; all-OOV slot is empty") {
    val pair = pickPair
    val q = s"${pair(0)} ${pair(1)}"
    val withOov = searcher.intervalsAnyHits(
      s"${pair(0)}|zzzqqqxx ${pair(1)}", 3, "", 10).collect()
      .map(h => (h.docId, h.score)).toSeq
    val plain = searcher.intervalsAnyHits(q, 3, "", 10).collect()
      .map(h => (h.docId, h.score)).toSeq
    assert(withOov == plain)
    assert(searcher.intervalsAnyHits(s"zzzqqqxx|qqqzzzyy ${pair(1)}", 3, "", 10)
      .collect().isEmpty)
    // duplicate alternatives collapse (same result as the single form)
    val dup = searcher.intervalsAnyHits(
      s"${pair(0)}|${pair(0)} ${pair(1)}", 3, "", 10).collect()
      .map(h => (h.docId, h.score)).toSeq
    assert(dup == plain)
  }

  test("any_of validation") {
    val pair = pickPair
    intercept[IllegalArgumentException](
      searcher.intervalsAnyHits(s"${pair(0)}|${pair(1)}", 3, "", 10)) // 1 slot
    intercept[IllegalArgumentException](
      searcher.intervalsAnyHits(s"${pair(0)} ${pair(1)}", -1, "", 10))
    intercept[IllegalArgumentException]( // filter among the alternatives
      searcher.intervalsAnyHits(s"${pair(0)}|${pair(1)} ${pair(1)}", 3,
        pair(0), 10))
  }

  test("validation + OOV query term") {
    val pair = pickPair
    val q = s"${pair(0)} ${pair(1)}"
    intercept[IllegalArgumentException](searcher.intervalsHits(q, -1, "", 10))
    intercept[IllegalArgumentException](
      searcher.intervalsHits(pair(0), 3, "", 10)) // < 2 terms
    intercept[IllegalArgumentException](
      searcher.intervalsHits(q, 3, pair(0), 10)) // filter among query terms
    assert(searcher.intervalsHits(s"${pair(0)} zzzqqqxx", 3, "", 10)
      .collect().isEmpty)
  }
}
