package graft

import java.nio.file.{Files, Path}

import org.apache.spark.CheckpointDirs

import graft.pipeline.Dedup
import graft.pipeline.Lineage._

/** The exact near-dup joins on inputs at the edge of their contract,
  * against the brute-force [[DedupReference]], and their promise to leave
  * nothing in the checkpoint dir. */
class DedupSpec extends SparkSpec {

  test("two rows sharing a doc_id join as one doc over the union of their shingles") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"),
      (1L, "d e f g h i"),   // same id: its shingles join doc 1's set
      (2L, "a b c d e f g h i"),
      (3L, "d e f g h i"),
      (4L, "a b c d e f")).toDF("doc_id", "text")
    assert(DedupReference.mismatches(docs, Seq(0.3, 0.5, 0.8, 1.0)).isEmpty)
    // doc 1 is the union, so it equals doc 2 exactly (J = 1) rather than
    // matching either of its rows alone
    val jac = Dedup.jaccardPairs(docs, 3, 1.0).as[(Long, Long, Double)].collect()
    assert(jac.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("docs with fewer than three words or empty text have no pairs") {
    import spark.implicits._
    val docs = Seq(
      (1L, ""), (2L, "a"), (3L, "a b"), (4L, "a b"), (5L, ""),
      (6L, "a b c"), (7L, "a b c"), (8L, "a b c d")).toDF("doc_id", "text")
    assert(DedupReference.mismatches(docs, Seq(0.3, 0.5, 0.55, 1.0)).isEmpty)
    val ids = Dedup.containmentPairs(docs, 3, 0.5).as[(Long, Long, Double)]
      .collect().flatMap(p => Seq(p._1, p._2)).toSet
    assert(ids.subsetOf(Set(6L, 7L, 8L)), s"shingle-free docs paired: $ids")
  }

  test("a shingle in every doc neither pairs the corpus up nor hides real pairs") {
    import spark.implicits._
    // every doc opens with the same three words; docs 2k and 2k+1 share
    // their tails as well
    val docs = (0L until 40L).map { i =>
      val tail = (0 until 6).map(w => s"t${i / 2}w$w").mkString(" ")
      (i, s"license header here $tail u$i")
    }.toDF("doc_id", "text")
    assert(DedupReference.mismatches(docs, Seq(0.3, 0.5, 0.55, 0.8)).isEmpty)
    val jac = Dedup.jaccardPairs(docs, 3, 0.5).as[(Long, Long, Double)].collect()
    assert(jac.map(p => (p._1, p._2)).toSet == (0L until 40L by 2).map(i => (i, i + 1)).toSet)
  }

  test("dedup_jaccard, dedup_jaccard_prefix and dedup_containment leave no " +
    "checkpoint files behind") {
    val root = Files.createTempDirectory("graft-checkpoint")
    def entries(): Seq[Path] = {
      val s = Files.walk(root)
      try s.toArray.toSeq.map(_.asInstanceOf[Path]).filter(_ != root)
      finally s.close()
    }
    try CheckpointDirs.withCheckpointDir(spark.sparkContext, root.toString) {
      // setCheckpointDir makes one empty subdir of its own
      val before = entries()
      for (row <- Seq("dedup_jaccard", "dedup_jaccard_prefix", "dedup_containment")) {
        assert(SparkEntry.queries(row)(spark, ExchangeCountSpec.sf).collect().nonEmpty, row)
        assert(entries() == before, s"$row left checkpoint files: ${entries().diff(before)}")
      }
      // the check can see a leak: a reliable checkpoint does leave files
      spark.range(10).toDF().cutLineage().collect()
      assert(entries() != before)
    } finally {
      val s = Files.walk(root)
      try s.toArray.toSeq.map(_.asInstanceOf[Path]).reverse.foreach(Files.delete)
      finally s.close()
    }
  }
}
