package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.build.BuildParams
import graft.corpus.{DatasetCorpusSource, Synthesizer}
import graft.index.{ChunkedIndexer, IndexStorage}
import graft.search.{MultiSearcher, MultiServingSearcher}

/** Multi-segment serving parity: the low-latency tier over an
  * un-compacted 2-segment (chunked) index must be bit-identical to the
  * relational merge-on-read path (MultiSearcher) for every query kind —
  * the live LSM read path at serving latency. */
class MultiServingSpec extends SparkSpec {

  lazy val (segA, segB) = {
    val dir = Files.createTempDirectory("graft-mserve").toString
    val params = BuildParams(numPartitions = 8, bucketSize = 100, positional = true)
    val indexer = new ChunkedIndexer(dir, chunkDocs = 100, params)
    val (dirs, _) = indexer.build(spark,
      DatasetCorpusSource(Synthesizer.tiny(spark)))
    assert(dirs.size == 2)
    (IndexStorage.read(spark, dirs(0)), IndexStorage.read(spark, dirs(1)))
  }

  test("multi-segment serving hits == MultiSearcher merge-on-read, all kinds") {
    val segs = Seq(segA, segB)
    val multi = new MultiSearcher(spark, segs)
    val serving = new MultiServingSearcher(spark, segs)
    val terms = segA.dict.orderBy(desc("cf")).limit(3).collect().map(_.term)
    // a phrase that occurs: the first two tokens of a corpus file
    val phrase = graft.tokenize.Tokenizer.tokenize(
      Synthesizer.tiny(spark).head().content).take(2).mkString(" ")
    val t0 = terms(0)
    val queries = Seq(
      ("FREE", terms.mkString(" ")),
      ("AND", terms.take(2).mkString(" AND ")),
      ("OR", terms.mkString(" OR ")),
      ("BOOL", s"(${terms(0)} OR ${terms(1)}) AND ${terms(2)}"),
      ("NEAR", s"${terms(0)} NEAR/5 ${terms(1)}"),
      ("ONEAR", s"${terms(0)} BEFORE/5 ${terms(1)}"),
      ("PREFIX", terms(0).take(2) + "*"),
      ("PHRASE", "\"" + phrase + "\""),
      ("FUZZY", t0.dropRight(1) + "q~1"),
      ("STEM", s"stem:${t0}s"),
      ("REGEX", s"re:${t0.take(2)}.*"),
      ("WILD", s"${t0.take(1)}*${t0.takeRight(1)}"),
      ("FREE", "zzznotaterm"))
    var nonEmpty = 0
    queries.foreach { case (kind, text) =>
      val rel = multi.hits(kind, text, 20).collect()
        .map(h => (h.rank, h.docId, h.score)).toSeq
      val srv = serving.hits(kind, text, 20)
        .map(h => (h.rank, h.docId, h.score)).toSeq
      assert(srv == rel, s"$kind '$text': serving ${srv.take(3)} vs rel ${rel.take(3)}")
      if (rel.nonEmpty) nonEmpty += 1
    }
    serving.close()
    assert(nonEmpty >= 4, "fixture queries must mostly hit")
  }

  test("multi-segment fieldedHits: filtered-global oracle + serving parity") {
    import spark.implicits._
    val segs = Seq(segA, segB)
    val multi = new MultiSearcher(spark, segs)
    val serving = new MultiServingSearcher(spark, segs)
    val total = segs.map(_.stats.numDocs).sum.toInt
    val lang = segs.flatMap(_.docs.select(col("lang")).as[String].collect())
      .groupBy(identity).maxBy(_._2.size)._1
    val langDocs = segs.flatMap(_.docs.filter(col("lang") === lang)
      .select(col("docId")).collect().map(_.getLong(0))).toSet
    val terms = segA.dict.orderBy(desc("cf")).limit(3).collect().map(_.term)
    var nonEmpty = 0
    for ((kind, text) <- Seq(("FREE", terms.mkString(" ")),
        ("AND", terms.take(2).mkString(" AND ")),
        ("BOOL", s"(${terms(0)} OR ${terms(1)}) AND ${terms(2)}"))) {
      // oracle: the unfiltered global ranking restricted to the lang —
      // scores unchanged (filter-doesn't-rescale)
      val want = multi.hits(kind, text, total).collect()
        .filter(h => langDocs(h.docId))
        .sortBy(h => (-h.score, h.docId)).take(10)
        .map(h => (h.docId, h.score)).toSeq
      val got = multi.fieldedHits(kind, text, 10, "lang", lang).collect()
        .map(h => (h.docId, h.score)).toSeq
      assert(got == want, s"$kind '$text'")
      val srv = serving.fieldedHits(kind, text, 10, "lang", lang)
        .map(h => (h.rank, h.docId, h.score)).toSeq
      val rel = multi.fieldedHits(kind, text, 10, "lang", lang).collect()
        .map(h => (h.rank, h.docId, h.score)).toSeq
      assert(srv == rel, s"$kind '$text' serving mismatch")
      if (got.nonEmpty) nonEmpty += 1
    }
    serving.close()
    assert(nonEmpty >= 2)
  }

  test("multi-segment deletedHits: oracle + serving parity") {
    import spark.implicits._
    val segs = Seq(segA, segB)
    val multi = new MultiSearcher(spark, segs)
    val serving = new MultiServingSearcher(spark, segs)
    // tombstones straddle both segments' docId ranges
    val total = segs.map(_.stats.numDocs).sum
    val dels = segs.flatMap(_.docs.filter(col("docId") % 3 === 1)
      .select(col("docId")).collect().map(_.getLong(0))).toSet
    assert(dels.nonEmpty)
    val delDs = spark.createDataset(dels.toSeq.sorted)
    val terms = segA.dict.orderBy(desc("cf")).limit(3).collect().map(_.term)
    val queries = Seq(
      ("FREE", terms.mkString(" ")),
      ("AND", terms.take(2).mkString(" AND ")),
      ("PHRASE", "\"" + terms.take(2).mkString(" ") + "\""))
    var nonEmpty = 0
    queries.foreach { case (kind, text) =>
      // oracle: the exhaustive pre-delete global ranking (k = corpus size)
      // minus tombstones — scores must keep the pre-delete statistics
      val want = multi.hits(kind, text, total.toInt).collect()
        .filter(h => !dels(h.docId))
        .sortBy(h => (-h.score, h.docId)).take(10)
        .map(h => (h.docId, h.score)).toSeq
      val got = multi.deletedHits(kind, text, 10, "m3", delDs).collect()
        .map(h => (h.docId, h.score)).toSeq
      assert(got == want, s"$kind '$text'")
      assert(got.forall(h => !dels(h._1)))
      // serving tier bit-identical (ranks included)
      val srv = serving.deletedHits(kind, text, 10, "m3", delDs)
        .map(h => (h.rank, h.docId, h.score)).toSeq
      val rel = multi.deletedHits(kind, text, 10, "m3b", delDs).collect()
        .map(h => (h.rank, h.docId, h.score)).toSeq
      assert(srv == rel, s"$kind '$text' serving mismatch")
      if (got.nonEmpty) nonEmpty += 1
    }
    serving.close()
    assert(nonEmpty >= 2)
  }
}
