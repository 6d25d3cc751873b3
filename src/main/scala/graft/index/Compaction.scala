package graft.index

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

import graft.build.{BuildParams, BuildReport, Segment, SegmentBuilder}

/** Size-tiered compaction over a stored multi-segment index — the LSM
  * background-maintenance loop (the policy family of Lucene's
  * TieredMergePolicy and Cassandra's size-tiered compaction strategy).
  *
  * Chunked and streamed builds accumulate segments; merge-on-read
  * (MultiSearcher) keeps queries correct over any number of them but
  * pays per-segment dictionary lookups and loses WAND pruning (global
  * stats invalidate stored block maxima). Compaction restores the
  * single-segment fast path by merging segments of SIMILAR size — the
  * tiering rule that bounds per-document rewrite amplification to
  * O(log N) over an index's lifetime, vs O(N) for always-merge-into-one.
  *
  * ## Registry + crash protocol
  *
  * The live segment set is committed in `indexDir/segments.json`;
  * segments appended after the manifest was last written (streaming
  * appends don't rewrite it) have segIds above its high-watermark —
  * StreamIndexer allocates monotonically — and fold back into the live
  * set. A compaction round is made crash-safe by a write-ahead intent
  * file (`compaction.inflight`, recording planned output and input ids)
  * committed BEFORE any merge output:
  *
  *   repair → write inflight → commit merged dirs → commit manifest
  *          → delete inputs → delete inflight
  *
  * `repair` resolves a crashed round from the intent file: outputs the
  * manifest references roll FORWARD (delete leftover inputs); outputs it
  * doesn't roll BACK (delete the outputs — the inputs remain
  * authoritative until the manifest says otherwise). `listLive` applies
  * the same rule without mutating anything, so concurrent readers never
  * see an input and its merged output at the same time.
  */
object Compaction {

  /** Tiering knobs. `tierFactor` is the max size ratio (in documents)
    * between the largest and smallest member of one merge; `minMerge`
    * suppresses merges too small to pay for their rewrite; `maxMerge`
    * caps fan-in so one merge's shuffle stays bounded. */
  final case class Policy(tierFactor: Double = 4.0, minMerge: Int = 2,
                          maxMerge: Int = 10) {
    require(tierFactor >= 1.0 && minMerge >= 2 && maxMerge >= minMerge)
  }

  private def manifestPath(indexDir: String): Path =
    Paths.get(indexDir, "segments.json")
  private def inflightPath(indexDir: String): Path =
    Paths.get(indexDir, "compaction.inflight")

  /** Atomically commit the live segId set. */
  def writeManifest(indexDir: String, live: Seq[Long]): Unit =
    atomicWrite(manifestPath(indexDir),
      live.sorted.mkString("{\"live\":[", ",", "]}"))

  def readManifest(indexDir: String): Option[Seq[Long]] =
    if (!Files.exists(manifestPath(indexDir))) None
    else Some(readIdArray(Files.readString(manifestPath(indexDir)), "live"))

  // ── snapshot generations (time-travel reads; Lucene
  // IndexDeletionPolicy / Iceberg snapshot family) ─────────────────────
  // `segments-<gen>.json` is a CLOSED manifest: the exact live segId set
  // plus the delete-log high-watermark (committed tombstone batches) at
  // commit time. Snapshots survive appends (closed list) and compactions
  // (merge inputs are retained while any snapshot may reference them —
  // see `run(retainInputs)`); a purge (`LsmIndex.maintain` with live
  // tombstones) rewrites segment dirs IN PLACE and is therefore a
  // snapshot barrier — callers expire snapshots across it.

  private def snapshotPath(indexDir: String, gen: Long): Path =
    Paths.get(indexDir, f"segments-$gen%05d.json")

  /** Committed snapshot generations, ascending. */
  def generations(indexDir: String): Seq[Long] = {
    val dir = Paths.get(indexDir)
    if (!Files.isDirectory(dir)) return Seq.empty
    val listing = Files.list(dir)
    try listing.iterator().asScala
      .map(_.getFileName.toString)
      .collect { case n if n.matches("segments-\\d+\\.json") =>
        n.stripPrefix("segments-").stripSuffix(".json").toLong }
      .toSeq.sorted
    finally listing.close()
  }

  /** Atomically commit a new snapshot generation; returns its gen id. */
  def commitSnapshot(indexDir: String, live: Seq[Long],
                     deleteBatches: Long): Long = {
    val gen = generations(indexDir).foldLeft(0L)(math.max) + 1
    atomicWrite(snapshotPath(indexDir, gen),
      live.sorted.mkString("{\"live\":[", ",", "],") +
        s""""deletes":$deleteBatches}""")
    gen
  }

  /** A snapshot's (segIds, tombstone-batch high-watermark). */
  def readSnapshot(indexDir: String, gen: Long): (Seq[Long], Long) = {
    val p = snapshotPath(indexDir, gen)
    require(Files.exists(p), s"no snapshot generation $gen under $indexDir")
    val json = Files.readString(p)
    val m = java.util.regex.Pattern.compile("\"deletes\":(\\d+)").matcher(json)
    require(m.find(), s"missing deletes watermark in $json")
    (readIdArray(json, "live"), m.group(1).toLong)
  }

  /** Expire all but the newest `keepLast` snapshots, then reclaim every
    * committed segment directory at or below the current manifest's
    * high-watermark that neither the current live set nor any retained
    * snapshot references (segments ABOVE the high-watermark are open
    * appends — never touched). Returns (expired gens, reclaimed segIds). */
  def expireSnapshots(indexDir: String, keepLast: Int): (Seq[Long], Seq[Long]) = {
    require(keepLast >= 0)
    val gens = generations(indexDir)
    val drop = gens.dropRight(keepLast)
    drop.foreach(g => Files.deleteIfExists(snapshotPath(indexDir, g)))
    val current = readManifest(indexDir).getOrElse(Seq.empty)
    if (current.isEmpty) return (drop, Seq.empty)
    val hwm = current.max
    val refs = (generations(indexDir)
      .flatMap(g => readSnapshot(indexDir, g)._1) ++ current).toSet
    val reclaim = scanSegments(indexDir).map(_.segId)
      .filter(id => id <= hwm && !refs(id))
    reclaim.foreach(deleteSegDir(indexDir, _))
    (drop, reclaim)
  }

  /** The crashed-round intent, if one exists: (outputs, inputs). */
  def readInflight(indexDir: String): Option[(Seq[Long], Seq[Long])] =
    if (!Files.exists(inflightPath(indexDir))) None
    else {
      val json = Files.readString(inflightPath(indexDir))
      Some((readIdArray(json, "outputs"), readIdArray(json, "inputs")))
    }

  private def readIdArray(json: String, key: String): Seq[Long] = {
    val m = java.util.regex.Pattern
      .compile("\"" + key + "\":\\[([0-9,\\s]*)\\]").matcher(json)
    require(m.find(), s"missing $key array in $json")
    m.group(1).split(",").iterator.map(_.trim)
      .filter(_.nonEmpty).map(_.toLong).toSeq
  }

  private def atomicWrite(p: Path, content: String): Unit = {
    val tmp = Paths.get(p.toString + ".tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Every committed `seg-N` directory in the index, driver-side stats
    * only (one tiny JSON read per segment, no Spark jobs). */
  def scanSegments(indexDir: String): Seq[IndexStorage.SegStats] = {
    val dir = Paths.get(indexDir)
    if (!Files.isDirectory(dir)) return Seq.empty
    val listing = Files.list(dir)
    try listing.iterator().asScala
      .filter(p => p.getFileName.toString.matches("seg-\\d+") &&
        Files.exists(p.resolve("stats.json")))
      .map(IndexStorage.readStatsOnly)
      .toSeq.sortBy(_.segId)
    finally listing.close()
  }

  /** The LIVE segment set: manifest ∩ committed, plus committed segments
    * above the manifest's high-watermark (post-manifest appends), MINUS
    * any in-flight merge output the manifest doesn't reference yet (its
    * inputs are still the authoritative copy). Read-only — a reader's
    * view is crash-consistent without repair. */
  def listLive(indexDir: String): Seq[IndexStorage.SegStats] = {
    val committed = scanSegments(indexDir)
    val manifested = readManifest(indexDir)
    val base = manifested match {
      case None => committed
      case Some(ids) =>
        val live = ids.toSet
        val hwm = if (ids.isEmpty) -1L else ids.max
        committed.filter(s => live(s.segId) || s.segId > hwm)
    }
    readInflight(indexDir) match {
      case None => base
      case Some((outputs, _)) =>
        val manifestSet = manifested.getOrElse(Seq.empty).toSet
        base.filterNot(s => outputs.contains(s.segId) && !manifestSet(s.segId))
    }
  }

  /** Resolve a crashed compaction round from the intent file: roll each
    * output FORWARD (delete its inputs) if the manifest references it,
    * BACK (delete the output) if not; then clear the intent. No-op
    * without an intent file. Returns (rolledForward, rolledBack). */
  def repair(indexDir: String,
             retainInputs: Boolean = false): (Seq[Long], Seq[Long]) =
    readInflight(indexDir) match {
      case None => (Seq.empty, Seq.empty)
      case Some((outputs, inputs)) =>
        val manifestSet = readManifest(indexDir).getOrElse(Seq.empty).toSet
        val (fwd, back) = outputs.partition(manifestSet)
        // forward: the merged output is committed AND manifested — the
        // consumed inputs are garbage whether or not their dirs remain
        // (unless snapshots may still reference them: retainInputs —
        // expireSnapshots reclaims later)
        if (fwd.nonEmpty && !retainInputs)
          inputs.foreach(id => deleteSegDir(indexDir, id))
        // back: the round never manifested — outputs (possibly
        // partially written) are garbage, inputs stay authoritative
        back.foreach(id => deleteSegDir(indexDir, id))
        Files.deleteIfExists(inflightPath(indexDir))
        (if (fwd.nonEmpty) inputs else Seq.empty, back)
    }

  private def deleteSegDir(indexDir: String, segId: Long): Unit = {
    val d = IndexStorage.segDir(indexDir, segId)
    if (Files.exists(d))
      Files.walk(d).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    val tmp = Paths.get(d.toString + ".tmp")
    if (Files.exists(tmp))
      Files.walk(tmp).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  /** Pure size-tiered planning: sort by size (numDocs), sweep ascending,
    * grouping while a segment stays within `tierFactor` of its group's
    * SMALLEST member and the group is under `maxMerge`; emit groups of
    * at least `minMerge`. A lone huge segment is never rewritten just to
    * absorb a small one outside its tier — that is the amplification
    * bound tiering exists for. */
  def plan(segs: Seq[IndexStorage.SegStats], policy: Policy): Seq[Seq[Long]] = {
    val sorted = segs.sortBy(s => (s.numDocs, s.segId))
    val groups = Seq.newBuilder[Seq[Long]]
    var cur = List.empty[IndexStorage.SegStats]
    def flush(): Unit = {
      if (cur.length >= policy.minMerge) groups += cur.reverse.map(_.segId)
      cur = Nil
    }
    sorted.foreach { s =>
      val fits = cur.nonEmpty &&
        s.numDocs.toDouble <= policy.tierFactor * math.max(1L, cur.last.numDocs) &&
        cur.length < policy.maxMerge
      if (cur.isEmpty || fits) cur = s :: cur
      else { flush(); cur = s :: Nil }
    }
    flush()
    groups.result()
  }

  /** N-way log-structured merge in one pass: a pairwise fold of k
    * segments would re-decode and re-encode every posting k−1 times;
    * here each segment's posting lists become term runs over its own
    * docs and go through ONE dictionary rebuild and ONE encode under the
    * merged global statistics (`SegmentMerger.rewrite`). Requires
    * pairwise-disjoint docId ranges (chunk and stream segments, by
    * construction). Byte-identity to the from-scratch single-segment
    * build is proven in CompactionSpec. */
  def mergeAll(spark: SparkSession, segs: Seq[Segment],
               params: BuildParams): (Segment, BuildReport) = {
    require(segs.nonEmpty)
    val docs = segs.map(_.docs).reduce(_ unionByName _)
      .persist(StorageLevel.MEMORY_AND_DISK)
    SegmentMerger.rewrite(spark, segs, docs,
      segs.map(_.meta).reduce(_ unionByName _), params) {
      val doclens = SegmentBuilder.doclenBlocks(docs, params.bucketSize)
        .persist(StorageLevel.MEMORY_AND_DISK)
      doclens.count()
      doclens
    }
  }

  /** One compaction round under the crash protocol above. New segIds are
    * allocated above every committed id (monotonic — collision-free with
    * concurrent streaming appends, which allocate the same way). Returns
    * the new segIds (empty = nothing to merge). */
  def run(spark: SparkSession, indexDir: String,
          policy: Policy = Policy(),
          retainInputs: Boolean = false): Seq[Long] = {
    repair(indexDir, retainInputs)
    val live = listLive(indexDir)
    val plans = plan(live, policy)
    if (plans.isEmpty) return Seq.empty
    // allocate above every COMMITTED id (incl. non-live orphans) so a
    // rolled-back output id is never reused for a different doc set
    val base = scanSegments(indexDir).map(_.segId).max + 1
    val outputs = plans.indices.map(base + _.toLong)
    val inputs = plans.flatten
    atomicWrite(inflightPath(indexDir),
      outputs.mkString("{\"outputs\":[", ",", "],") +
        inputs.mkString("\"inputs\":[", ",", "]}"))
    plans.zip(outputs).foreach { case (group, outId) =>
      val segs = group.map(id =>
        IndexStorage.read(spark, IndexStorage.segDir(indexDir, id).toString))
      val (merged, _) = mergeAll(spark, segs,
        segs.head.params.copy(segId = outId))
      IndexStorage.write(merged, indexDir)
      merged.unpersist()
    }
    writeManifest(indexDir,
      live.map(_.segId).filterNot(inputs.toSet) ++ outputs)
    // snapshot retention: consumed inputs stay on disk while an older
    // generation may reference them; expireSnapshots reclaims them
    if (!retainInputs) inputs.foreach(id => deleteSegDir(indexDir, id))
    Files.deleteIfExists(inflightPath(indexDir))
    outputs
  }
}
