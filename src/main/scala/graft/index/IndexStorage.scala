package graft.index

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.build.{BuildParams, JobDescription, Segment}
import graft.model._

/** On-disk segment layout + atomic commit protocol — SURVEY §2.1 S3/S4,
  * §2.6 R1.
  *
  * ```
  * indexDir/seg-<id>/
  *   docs/ dict/ postings/ doclens/ meta/     (parquet)
  *   stats.json                               (tiny driver-side stats)
  * ```
  *
  * Atomicity: everything is written under `seg-<id>.tmp` and the
  * directory is renamed into place last — a crashed build leaves only a
  * `.tmp` that the resume path ignores and overwrites. `exists` therefore
  * doubles as the completed-chunk predicate for resume (R2: pending =
  * planned anti-join completed).
  *
  * Postings are written partitionBy(bucket) and sorted by termId inside
  * each file, so query-time scans get directory-level bucket pruning AND
  * parquet row-group min/max pruning on the termId filter.
  */
object IndexStorage {

  def segDir(indexDir: String, segId: Long): Path =
    Paths.get(indexDir, f"seg-$segId%05d")

  def exists(indexDir: String, segId: Long): Boolean =
    Files.exists(segDir(indexDir, segId).resolve("stats.json"))

  def write(segment: Segment, indexDir: String): Path = {
    val finalDir = segDir(indexDir, segment.params.segId)
    val tmp = Paths.get(finalDir.toString + ".tmp")
    if (Files.exists(tmp)) deleteRec(tmp)
    Files.createDirectories(tmp)

    val sc = segment.docs.sparkSession.sparkContext
    def described(artifact: String)(write: => Unit): Unit =
      JobDescription.described(sc, s"graft: write $artifact")(write)
    described("docs")(segment.docs.write.parquet(tmp.resolve("docs").toString))
    described("dict")(segment.dict.write.parquet(tmp.resolve("dict").toString))
    described("postings")(segment.postings
      .sortWithinPartitions(col("bucket"), col("termId"))
      .write.partitionBy("bucket")
      .parquet(tmp.resolve("postings").toString))
    described("doclens")(segment.doclens.write.parquet(tmp.resolve("doclens").toString))
    described("meta")(segment.meta.write.parquet(tmp.resolve("meta").toString))

    val st = segment.stats
    val p = segment.params
    // docId high-watermark: 1 + max docId this segment may contain,
    // derived from the per-partition lineage rows (partId >= 0). Streamed
    // segments start at an aligned base > 0, so sum-of-numDocs across
    // segments UNDERCOUNTS the watermark — persisting it here is what
    // makes StreamIndexer's next-base computation collision-free.
    val hwm = segment.meta.collect().iterator
      .filter(_.partId >= 0)
      .map(m => m.firstDocId + m.numDocs)
      .foldLeft(st.numDocs)(math.max)
    Files.writeString(tmp.resolve("stats.json"),
      s"""{"numDocs":${st.numDocs},"avgDocLen":${st.avgDocLen},""" +
        s""""numTerms":${st.numTerms},"numPostings":${st.numPostings},""" +
        s""""bucketSize":${p.bucketSize},"segId":${p.segId},""" +
        s""""numPartitions":${p.numPartitions},"docIdHwm":$hwm,""" +
        s""""positional":${if (p.positional) 1 else 0}}""")
    // the old directory (if replacing — compaction) is removed only now,
    // AFTER every dataset materialized into tmp: the replacement segment
    // may lazily READ from the directory it replaces, and the complete
    // tmp bounds the non-atomic delete+move window (a crash between the
    // two leaves tmp intact for the caller to re-move)
    if (Files.exists(finalDir)) deleteRec(finalDir)
    Files.move(tmp, finalDir, StandardCopyOption.ATOMIC_MOVE)
    finalDir
  }

  /** Driver-side-only segment stats (no Spark jobs, no parquet reads) —
    * what StreamIndexer's per-batch state scan needs: parsing one tiny
    * JSON per segment keeps the scan O(segments) file reads instead of
    * O(segments) parquet-footer jobs. `docIdHwm` = 1 + max docId the
    * segment can contain (defaults to numDocs for pre-watermark
    * segments, whose ids start at 0). */
  final case class SegStats(segId: Long, numDocs: Long, docIdHwm: Long,
                            bucketSize: Long)

  def readStatsOnly(dir: Path): SegStats = {
    val json = Files.readString(dir.resolve("stats.json"))
    def num(key: String, default: Option[String] = None): String = {
      val m = java.util.regex.Pattern.compile("\"" + key + "\":([-0-9.eE]+)").matcher(json)
      if (m.find()) m.group(1)
      else default.getOrElse(sys.error(s"missing $key in stats.json"))
    }
    val numDocs = num("numDocs").toLong
    SegStats(num("segId").toLong, numDocs,
      num("docIdHwm", Some(numDocs.toString)).toLong, num("bucketSize").toLong)
  }

  def read(spark: SparkSession, dir: String): Segment = {
    import spark.implicits._
    val d = Paths.get(dir)
    val json = Files.readString(d.resolve("stats.json"))
    def numOpt(key: String, default: Option[String]): String = {
      val m = java.util.regex.Pattern.compile("\"" + key + "\":([-0-9.eE]+)").matcher(json)
      if (m.find()) m.group(1)
      else default.getOrElse(sys.error(s"missing $key in stats.json"))
    }
    def num(key: String): String = numOpt(key, None)
    val stats = CorpusStats(num("numDocs").toLong, num("avgDocLen").toDouble,
      num("numTerms").toLong, num("numPostings").toLong)
    val params = BuildParams(
      numPartitions = num("numPartitions").toInt,
      bucketSize = num("bucketSize").toLong,
      segId = num("segId").toLong,
      positional = numOpt("positional", Some("0")).toInt == 1)
    Segment(
      spark.read.schema(Encoders.product[Doc].schema)
        .parquet(d.resolve("docs").toString).as[Doc],
      spark.read.schema(Encoders.product[DictEntry].schema)
        .parquet(d.resolve("dict").toString).as[DictEntry],
      // no explicit schema: partitionBy moved `bucket` to the dir key
      spark.read.parquet(d.resolve("postings").toString)
        .select($"bucket".cast("int").as("bucket"), $"termId", $"numDocs",
          $"lastDocIds", $"maxImpacts", $"offsets", $"bytes")
        .as[PostingList],
      spark.read.schema(Encoders.product[DocLenBlock].schema)
        .parquet(d.resolve("doclens").toString).as[DocLenBlock],
      stats,
      spark.read.schema(Encoders.product[SegmentMeta].schema)
        .parquet(d.resolve("meta").toString).as[SegmentMeta],
      params)
  }

  /** Append-only tombstone log beside the segments:
    * `indexDir/deletes/del-<n>/` parquet batches of deleted docIds.
    * Each append is atomic (tmp + rename, like segments); readers union
    * every committed batch. A merge/purge that consumed the log removes
    * the consumed batches (caller's responsibility, after the purged
    * segment commits — crash between the two leaves only harmless
    * re-application of deletes already purged). */
  def appendTombstones(spark: SparkSession, indexDir: String,
                       docIds: org.apache.spark.sql.Dataset[Long]): Path = {
    val delDir = Paths.get(indexDir, "deletes")
    Files.createDirectories(delDir)
    val n = listTombstoneBatches(delDir).map(p =>
      p.getFileName.toString.stripPrefix("del-").toLong + 1).foldLeft(0L)(math.max)
    val finalDir = delDir.resolve(f"del-$n%05d")
    val tmp = Paths.get(finalDir.toString + ".tmp")
    if (Files.exists(tmp)) deleteRec(tmp)
    docIds.toDF("docId").coalesce(1).write.parquet(tmp.toString)
    Files.move(tmp, finalDir, StandardCopyOption.ATOMIC_MOVE)
    finalDir
  }

  /** All live tombstones: the union of committed delete batches
    * (distinct — a docId deleted twice is one tombstone). */
  def readTombstones(spark: SparkSession, indexDir: String)
      : org.apache.spark.sql.Dataset[Long] = {
    import spark.implicits._
    val batches = listTombstoneBatches(Paths.get(indexDir, "deletes"))
    if (batches.isEmpty) spark.emptyDataset[Long]
    else spark.read.parquet(batches.map(_.toString): _*)
      .select(col("docId")).distinct().as[Long]
  }

  /** Committed tombstone-batch count — the delete-log high-watermark a
    * snapshot generation pins (Compaction.commitSnapshot). */
  def tombstoneBatchCount(indexDir: String): Long =
    listTombstoneBatches(Paths.get(indexDir, "deletes")).size.toLong

  /** Tombstones of the FIRST `firstK` committed batches only — the
    * snapshot-pinned view of the delete log (batches commit in del-N
    * order, so a prefix is exactly "deletes as of then"). */
  def readTombstonesUpTo(spark: SparkSession, indexDir: String,
                         firstK: Long): org.apache.spark.sql.Dataset[Long] = {
    import spark.implicits._
    val batches = listTombstoneBatches(Paths.get(indexDir, "deletes"))
      .take(firstK.toInt)
    if (batches.isEmpty) spark.emptyDataset[Long]
    else spark.read.parquet(batches.map(_.toString): _*)
      .select(col("docId")).distinct().as[Long]
  }

  /** Drop tombstone batches a committed purge consumed. */
  def clearTombstones(indexDir: String): Unit =
    listTombstoneBatches(Paths.get(indexDir, "deletes")).foreach(deleteRec)

  private def listTombstoneBatches(delDir: Path): Seq[Path] =
    if (!Files.isDirectory(delDir)) Seq.empty
    else {
      val s = Files.list(delDir)
      try s.iterator().asScala
        .filter(p => p.getFileName.toString.matches("del-\\d+"))
        .toSeq.sortBy(_.toString)
      finally s.close()
    }

  private def deleteRec(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val children = Files.list(p)
      try children.forEach(deleteRec) finally children.close()
    }
    Files.deleteIfExists(p)
  }
}
