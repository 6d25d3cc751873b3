package graft

import graft.build.{BuildParams, SegmentBuilder}
import graft.corpus.DatasetCorpusSource
import graft.model.CorpusRow
import graft.search.Searcher

/** Index-time sorting + early termination (X165) and term-range
  * expansion (X166).
  *
  * The sorted index encodes a static signal into the build's natural
  * key, so docId order IS the signal order; `Searcher.earlyHits`
  * (each bucket's unscored walk stopped at k) must then return exactly
  * the brute-force top-k by the signal, and its result for any k is a
  * PREFIX of the full match set in docId order.
  * `dictLookupRange` must expand exactly the vocabulary interval. */
class SortedIndexSpec extends SparkSpec {

  // signal = a planted "length" per doc, DESCENDING in the repo key
  // like DocsIndex.sortedIndex does with n_chars
  private val texts = Seq(
    /* doc 0 */ "fast merge sort table stream",
    /* doc 1 */ "fast merge apart sort follows later",
    /* doc 2 */ "merge fast reversed pair here",
    /* doc 3 */ "fast alone in this one",
    /* doc 4 */ "merge alone in this one",
    /* doc 5 */ "nothing relevant here",
    /* doc 6 */ "fast merge again together",
    /* doc 7 */ "sort table fast merge tail slow",
    /* doc 8 */ "slow sort alone",
    /* doc 9 */ "fast merge slow sort mixed bag here")
  private val signal = Seq(50L, 10L, 80L, 30L, 70L, 20L, 60L, 40L, 90L, 55L)

  lazy val seg = {
    import spark.implicits._
    val docs = texts.zipWithIndex.map { case (text, i) =>
      CorpusRow(f"${999999999L - signal(i)}%010d", f"$i%012d", "c0", "txt", text)
    }
    SegmentBuilder.build(spark, DatasetCorpusSource(docs.toDS()),
      BuildParams(numPartitions = 4, bucketSize = 4))._1
  }
  lazy val searcher = new Searcher(spark, seg)

  private def docIdOf(extId: Int): Long =
    seg.docs.filter(s"path = '${f"$extId%012d"}'")
      .select("docId").collect().head.getLong(0)

  private def bruteTop(pred: String => Boolean, k: Int): Seq[Int] =
    texts.zipWithIndex.filter { case (t, _) => pred(t) }
      .map { case (_, i) => i }
      .sortBy(i => (-signal(i), i.toLong)).take(k)

  test("earlyHits over the sort-built index == brute-force top-k by the signal") {
    import spark.implicits._
    val extByDocId = seg.docs
      .select($"docId", $"path").as[(Long, String)].collect()
      .map { case (d, p) => d -> p.toLong.toInt }.toMap
    for (k <- Seq(1, 2, 3, 5, 20)) {
      val gotAnd = searcher.earlyHits("AND", "fast AND merge", k)
        .as[Long].collect().toSeq.map(extByDocId)
      val wantAnd = bruteTop(t => t.contains("fast") && t.contains("merge"), k)
      assert(gotAnd == wantAnd, s"AND k=$k: $gotAnd vs $wantAnd")
      val gotOr = searcher.earlyHits("FREE", "slow table", k)
        .as[Long].collect().toSeq.map(extByDocId)
      val wantOr = bruteTop(t =>
        t.split(" ").contains("slow") || t.split(" ").contains("table"), k)
      assert(gotOr == wantOr, s"FREE k=$k: $gotOr vs $wantOr")
    }
  }

  test("earlyHits: zero-hit and missing-conjunct queries return empty") {
    assert(searcher.earlyHits("FREE", "zzznothere", 5).count() == 0)
    assert(searcher.earlyHits("AND", "fast AND zzznothere", 5).count() == 0)
  }

  test("earlyHits over each k is a strict prefix of the full match set") {
    import spark.implicits._
    for ((kind, q) <- Seq("AND" -> "fast AND merge", "FREE" -> "slow table")) {
      val full = searcher.earlyHits(kind, q, Int.MaxValue / 2).as[Long].collect()
      for (k <- 1 to full.length) {
        val some = searcher.earlyHits(kind, q, k).as[Long].collect()
        assert(some.toSeq == full.take(k).toSeq, s"k=$k prefix property")
      }
    }
  }

  test("earlyHits plan: termId pushdown reaches the postings source; " +
    "global k via TakeOrderedAndProject") {
    val plan = searcher.earlyHits("AND", "fast AND merge", 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"global first-k must be a TakeOrdered, not a full sort:\n$plan")
    assert(plan.contains("termId"),
      s"termId predicate must appear in the scan path:\n$plan")
  }

  test("dictLookupRange expands exactly the vocabulary interval, termId order") {
    val vocab = seg.dict.collect().map(_.term).sorted
    val lo = "me"; val hi = "so"
    val want = vocab.filter(t => t >= lo && t <= hi).toSeq
    val got = searcher.dictLookupRange(lo, hi).map(_.term).toSeq
    assert(got == want.sorted, s"$got vs $want") // termId order == term order
    assert(searcher.dictLookupRange("zz", "zzz").isEmpty)
    intercept[IllegalArgumentException](searcher.dictLookupRange("b", "a"))
  }
}
