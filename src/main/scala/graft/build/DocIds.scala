package graft.build

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, Dataset, Encoder}
import org.apache.spark.storage.StorageLevel

import graft.model.{CorpusRow, NumberedRow}

/** One id-assignment partition's docId range — the per-partition lineage
  * unit recorded in the segment manifest (SURVEY §2.6). */
final case class PartRange(partId: Int, firstId: Long, count: Long)

/** Deterministic dense id assignment — SURVEY.md §2.2 P4/P5.
  *
  * Ids are the GLOBAL RANK of the row under a total key order, derived by
  * range-repartition + in-partition sort, a per-partition count pass, a
  * driver-side prefix scan, and a second mapPartitions that adds
  * `offset(pid) + localIndex`. Because the id is the sort rank, it is
  * invariant to partition boundaries, task scheduling, cluster size, and
  * resume — the property BASELINE.json's rank-identity contract rests on.
  *
  * NOT `monotonically_increasing_id` (not dense, not stable) and NOT
  * `zipWithIndex` on RDD (input_hint: no RDD unless forced).
  */
object DocIds {

  /** Generic dense-rank assignment over an already range-sorted dataset.
    *
    * `sorted` MUST be persisted by this method (it is) before the count
    * pass: range partitioning samples its input, so an unpersisted plan
    * could repartition differently between the two passes.
    *
    * Returns the numbered dataset (persisted), the per-partition ranges,
    * and a handle to unpersist the intermediate.
    */
  def denseIds[T, U: Encoder](sorted0: Dataset[T])(f: (Long, T) => U)
      : (Dataset[U], Array[PartRange], () => Unit) = {
    val sorted = sorted0.persist(StorageLevel.MEMORY_AND_DISK)
    import sorted.sparkSession.implicits._
    val counts: Map[Int, Long] = sorted
      .mapPartitions(it => Iterator.single((TaskContext.getPartitionId(), {
        var n = 0L; while (it.hasNext) { it.next(); n += 1 }; n
      })))
      .collect().toMap
    val numParts = sorted.rdd.getNumPartitions
    val offsets = new Array[Long](numParts)
    var acc = 0L
    val ranges = (0 until numParts).map { pid =>
      offsets(pid) = acc
      val c = counts.getOrElse(pid, 0L)
      acc += c
      PartRange(pid, offsets(pid), c)
    }.toArray
    val out = sorted.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      var next = offsets(pid)
      it.map { t => val id = next; next += 1; f(id, t) }
    }
    (out, ranges, () => { sorted.unpersist(); () })
  }

  /** Assign docIds by global (repo, path, commit) order with exact-key
    * dedup folded into the SAME range shuffle: equal keys are adjacent
    * after the range-sort, so both the count pass and the numbering pass
    * simply skip a row whose key equals its predecessor's — no separate
    * dropDuplicates shuffle of the full corpus (it would move every
    * content byte a second time; at 100 TB that is the difference
    * between 4 and 5 corpus-wide shuffles).
    * numPartitions sizes shuffle 1 of the build (SURVEY §3 EP1). */
  def assign(corpus: Dataset[CorpusRow], numPartitions: Int)
      : (Dataset[NumberedRow], Array[PartRange], () => Unit) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val keys: Seq[Column] = Seq($"repo", $"path", $"commit")
    // content as a 4th in-partition sort key: among duplicate natural
    // keys the dedup below keeps the FIRST row, and without a tie-break
    // "first" would be whichever the shuffle happened to emit — making
    // the surviving sha256/docLen nondeterministic across runs and
    // breaking the byte-identical resume contract (R3). Comparing on
    // content costs nothing extra: it is only consulted when the 3-key
    // prefix ties, and the bytes are already in the row. Range
    // partitioning stays on the 3 natural keys, so equal keys still
    // co-locate and both passes see them adjacently.
    val sorted = corpus
      .repartitionByRange(numPartitions, keys: _*)
      .sortWithinPartitions((keys :+ $"content"): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)

    @inline def sameKey(a: CorpusRow, b: CorpusRow): Boolean =
      a.repo == b.repo && a.path == b.path && a.commit == b.commit

    // the range sample and the shuffle run inside this count's jobs
    val counts: Map[Int, Long] = JobDescription.described(spark.sparkContext,
        "graft: docId range sort + count") {
      sorted
        .mapPartitions { it =>
          var n = 0L
          var prev: CorpusRow = null
          while (it.hasNext) {
            val r = it.next()
            if (prev == null || !sameKey(prev, r)) n += 1
            prev = r
          }
          Iterator.single((TaskContext.getPartitionId(), n))
        }
        .collect().toMap
    }
    val numParts = sorted.rdd.getNumPartitions
    val offsets = new Array[Long](numParts)
    var acc = 0L
    val ranges = (0 until numParts).map { pid =>
      offsets(pid) = acc
      val c = counts.getOrElse(pid, 0L)
      acc += c
      PartRange(pid, offsets(pid), c)
    }.toArray
    val out = sorted.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      var next = offsets(pid)
      var prev: CorpusRow = null
      it.flatMap { r =>
        val dup = prev != null && sameKey(prev, r)
        prev = r
        if (dup) None
        else {
          val id = next; next += 1
          Some(NumberedRow(id, r.repo, r.path, r.commit, r.lang, r.content))
        }
      }
    }
    (out, ranges, () => { sorted.unpersist(); () })
  }
}
