package graft.model

/** Core data model — SURVEY.md §1.2. All artifacts are typed Datasets of
  * these case classes (product encoders); storage is parquet, one
  * directory per artifact per segment.
  *
  * The reference tree at /root/reference was empty at survey time
  * (SURVEY.md §0), so shapes are pinned from BASELINE.json's input_hint
  * and north_star rather than cited file:line.
  */

/** Authoritative input shape — BASELINE.json:15 `input_hint`:
  * "(repo:string, path:string, commit:string, lang:string, content:string)". */
final case class CorpusRow(
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String)

/** Corpus row + its assigned dense docId (SURVEY §2.2 P4/P5) — the
  * intermediate carried from id-assignment into tokenization. */
final case class NumberedRow(
    docId: Long,
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String)

/** DocMap entry: docId → natural key + sha256 invariant + token count. */
final case class Doc(
    docId: Long,
    repo: String,
    path: String,
    commit: String,
    lang: String,
    sha256: String,
    docLen: Int)

/** Dictionary entry; termIds dense, assigned in term sort order. */
final case class DictEntry(termId: Long, term: String, df: Long, cf: Long)

/** Block-compressed posting list for one (bucket, termId) —
  * delta+VByte payload in `bytes`, parallel block arrays = block-max
  * skip metadata (SURVEY §2.3 I5/I6; layout doc in graft.codec.PostingCodec). */
final case class PostingList(
    bucket: Int,
    termId: Long,
    numDocs: Int,
    lastDocIds: Array[Long],
    maxImpacts: Array[Float],
    offsets: Array[Int],
    bytes: Array[Byte])

/** Per-bucket forward doc-length array: lens(i) = docLen of docId
  * firstDocId + i. Loaded only for buckets touched by a query; lets the
  * WAND walk score candidates without a per-doc join. */
final case class DocLenBlock(bucket: Int, firstDocId: Long, lens: Array[Int])

/** Tiny global stats, broadcast at query time. */
final case class CorpusStats(
    numDocs: Long,
    avgDocLen: Double,
    numTerms: Long,
    numPostings: Long)

/** Per-build-partition lineage + metrics row (SURVEY §2.6 R1, §2.3 I9). */
final case class SegmentMeta(
    segId: Long,
    snapshotId: Long,
    partId: Int,
    firstDocId: Long,
    numDocs: Long,
    numTerms: Long,
    numPostings: Long,
    bytesCompressed: Long,
    buildMillis: Long,
    inputFiles: Array[String])

/** A parsed query. kind ∈ {AND, OR, FREE}. */
final case class Query(qid: Long, kind: String, text: String, k: Int)

/** One ranked result. Rank-identity contract: ordered by
  * (score DESC, docId ASC), scores exact Doubles. */
final case class Hit(qid: Long, rank: Int, docId: Long, score: Double)

/** BM25 — single source of truth for build-time impacts (block-max
  * metadata), the exact scorer, and the WAND walk. Constants pinned by
  * BASELINE.json:6 (k1=1.2, b=0.75); idf pinned to the smoothed
  * Robertson–Spärck-Jones form (SURVEY §2.4, [P:RZ09]):
  * idf = ln(1 + (N - df + 0.5)/(df + 0.5)) — always >= 0.
  *
  * Determinism contract: all arithmetic in Double; per-doc accumulation
  * strictly in ascending termId order everywhere, so sums are
  * bit-identical across runs and cluster sizes (SURVEY §2.4).
  */
object BM25 extends Serializable {
  final val K1 = 1.2
  final val B = 0.75
  /** Literal constants (NOT computed) so the SQL twins' decimal literals
    * parse to bit-identical doubles in every engine. */
  final val K1Plus1 = 2.2
  final val OneMinusB = 0.25

  @inline def idf(numDocs: Long, df: Long): Double =
    math.log(1.0 + (numDocs - df + 0.5) / (df + 0.5))

  /** Per-(term, doc) score contribution. */
  @inline def impact(idf: Double, tf: Int, dl: Int, avgdl: Double): Double =
    idf * tf * K1Plus1 / (tf + K1 * (OneMinusB + B * dl / avgdl))

  /** SQL fragment computing the same impact — shared by the exact-scorer
    * DataFrame path and the DuckDB oracle twins, so the formula cannot
    * drift between engines. Column names are parameters. */
  def impactSql(idfCol: String, tfCol: String, dlCol: String, avgdlCol: String): String =
    s"$idfCol * $tfCol * 2.2 / ($tfCol + 1.2 * (0.25 + 0.75 * $dlCol / $avgdlCol))"

  def idfSql(nCol: String, dfCol: String): String =
    s"ln(1.0 + ($nCol - $dfCol + 0.5) / ($dfCol + 0.5))"
}
