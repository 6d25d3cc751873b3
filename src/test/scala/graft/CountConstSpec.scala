package graft

import graft.build.{BuildParams, SegmentBuilder}
import graft.corpus.DatasetCorpusSource
import graft.model.CorpusRow
import graft.search.Searcher

/** Capped total-hits counts (Searcher.matchCountCapped) and the
  * constant-score filter context (Searcher.constHits): the cap clamps
  * exactly (min(count, cap) for every cap), positional atoms count
  * correctly, and constant-score returns the first-k match set in docId
  * order with the boost as every score. */
class CountConstSpec extends SparkSpec {

  private val texts = Seq(
    "fast merge sort table stream",
    "fast merge apart sort follows later",
    "merge fast reversed pair here",
    "fast alone in this one",
    "merge alone in this one",
    "nothing relevant here",
    "fast merge again together",
    "sort table fast merge tail")

  lazy val seg = {
    import spark.implicits._
    val docs = texts.zipWithIndex
      .map { case (text, i) => CorpusRow("r0", f"f$i%03d.txt", "c0", "txt", text) }
    SegmentBuilder.build(spark, DatasetCorpusSource(docs.toDS()),
      BuildParams(numPartitions = 4, bucketSize = 4, positional = true))._1
  }
  lazy val searcher = new Searcher(spark, seg)

  test("capped counts clamp exactly across kinds and caps") {
    val cases = Seq(
      ("FREE", "fast merge"),
      ("AND", "fast AND merge"),
      ("BOOL", "(fast OR sort) AND merge"),
      ("BOOL", "\"fast merge\" OR table"))
    for ((kind, q) <- cases) {
      val exact = searcher.matchCount(kind, q)
      assert(exact > 0, s"$q should match on the planted corpus")
      for (cap <- 1L to exact + 2) {
        val got = searcher.matchCountCapped(kind, q, cap)
        assert(got == math.min(exact, cap), s"$kind '$q' cap=$cap got=$got")
      }
    }
  }

  test("positional atoms: the capped count sees phrase semantics, not bags") {
    // "fast merge" as a PHRASE matches fewer docs than fast AND merge
    val phraseExact = searcher.matchCount("PHRASE", "\"fast merge\"")
    val andExact = searcher.matchCount("AND", "fast AND merge")
    assert(phraseExact < andExact)
    assert(searcher.matchCountCapped("BOOL", "\"fast merge\"", 100) == phraseExact)
  }

  test("OOV and empty queries count zero; cap must be positive") {
    assert(searcher.matchCountCapped("FREE", "zzznotaterm", 10) == 0L)
    assert(searcher.matchCountCapped("AND", "fast AND zzznotaterm", 10) == 0L)
    assert(intercept[IllegalArgumentException](
      searcher.matchCountCapped("FREE", "fast", 0)).getMessage.contains("cap"))
  }

  test("constant-score: first-k match set in docId order, boost as score") {
    val matchIds = searcher.matchDocIds("AND", "fast AND merge")
      .collect().map(_.getLong(0)).sorted
    assert(matchIds.length == 5)
    for (k <- 1 to matchIds.length + 1) {
      val got = searcher.constHits("AND", "fast AND merge", 2.5, k)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
        .sortBy(_._1)
      assert(got.map(_._1).toSeq == matchIds.take(k).toSeq, s"k=$k")
      assert(got.forall(_._2 == 2.5))
    }
    assert(searcher.constHits("AND", "fast AND zzz", 1.0, 5).isEmpty)
  }

  test("match sets, counts and first-k agree with the scored walk per kind") {
    import spark.implicits._
    // "together" and "tail" are in bucket 1 only: a conjunct whose list
    // is missing from bucket 0
    val cases = Seq(
      "FREE" -> "fast table",
      "OR" -> "merge OR stream",
      "AND" -> "fast AND together",
      "PHRASE" -> "\"fast merge\"",
      "NEAR" -> "merge NEAR/2 sort",
      "ONEAR" -> "fast BEFORE/3 tail",
      "BOOL" -> "(\"fast merge\" OR alone) AND NOT table",
      "PREFIX" -> "ta*")
    for ((kind, q) <- cases) {
      val want = searcher.hits(kind, q, 100).collect().map(_.docId).sorted
      assert(want.nonEmpty, s"$kind '$q' should match on the planted corpus")
      val got = searcher.matchDocIds(kind, q).as[Long].collect().sorted
      assert(got.toSeq == want.toSeq, s"$kind '$q' match set")
      assert(searcher.matchCount(kind, q) == want.length, s"$kind '$q' count")
      for (k <- 1 to want.length + 1) {
        val first = searcher.constHits(kind, q, 1.0, k)
          .select("docId").as[Long].collect().sorted
        assert(first.toSeq == want.take(k).toSeq, s"$kind '$q' k=$k")
      }
    }
  }
}
