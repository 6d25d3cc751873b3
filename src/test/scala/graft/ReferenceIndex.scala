package graft

import java.nio.charset.StandardCharsets.UTF_8

import graft.codec.PostingCodec
import graft.model._
import graft.tokenize.Tokenizer

/** Driver-side reference index over (docId, content) rows: what a
  * segment over exactly these documents must hold, computed without
  * Spark and without term runs — tokens, the dictionary (dense termIds
  * in term byte order), N and avgdl, BM25 impacts, and
  * `PostingCodec.pack` per (bucket, termId), with positions when
  * `positional`. Specs compare built, merged and purged segments to it. */
final class ReferenceIndex(rows: Seq[(Long, String)], bucketSize: Long,
                           positional: Boolean) {
  /** Per doc, ascending docId: (docId, docLen, term → occurrence indices). */
  private val parsed: Seq[(Long, Int, Map[String, Array[Int]])] =
    rows.sortBy(_._1).map { case (id, content) =>
      val toks = Tokenizer.tokenize(content)
      (id, toks.length, toks.indices.groupBy(toks(_)).map { case (t, is) => t -> is.sorted.toArray })
    }

  val docLens: Map[Long, Int] = parsed.map(d => d._1 -> d._2).toMap
  val numDocs: Long = parsed.size.toLong
  val totalTokens: Long = parsed.map(_._2.toLong).sum
  val avgdl: Double = if (numDocs == 0) 1.0 else totalTokens.toDouble / numDocs

  val dict: Seq[DictEntry] = {
    val byTerm = parsed.flatMap(_._3.iterator.map { case (t, ps) => t -> ps.length })
      .groupBy(_._1)
    byTerm.keys.toSeq.sortWith(ReferenceIndex.byteLess).zipWithIndex.map { case (t, i) =>
      DictEntry(i.toLong, t, byTerm(t).size.toLong, byTerm(t).map(_._2.toLong).sum)
    }
  }

  val postings: Seq[PostingList] = {
    val entry = dict.map(e => e.term -> e).toMap
    parsed
      .flatMap { case (id, _, terms) => terms.map { case (t, ps) => (entry(t), id, ps) } }
      .groupBy { case (e, id, _) => ((id / bucketSize).toInt, e.termId) }
      .toSeq.sortBy(_._1)
      .map { case ((bucket, termId), ps) =>
        val sorted = ps.sortBy(_._2)
        val idf = BM25.idf(numDocs, sorted.head._1.df)
        val packed = PostingCodec.pack(
          sorted.map(_._2).toArray,
          sorted.map(_._3.length).toArray,
          sorted.map(p => BM25.impact(idf, p._3.length, docLens(p._2), avgdl)).toArray,
          if (positional) sorted.map(_._3).toArray else null)
        PostingList(bucket, termId, packed.numDocs, packed.lastDocIds,
          packed.maxImpacts, packed.offsets, packed.bytes)
      }
  }

  def numPostings: Long = postings.map(_.numDocs.toLong).sum

  /** Doc-length blocks: per bucket from its first docId, holes 0. */
  def doclens: Seq[DocLenBlock] =
    docLens.toSeq.groupBy(d => (d._1 / bucketSize).toInt).toSeq.sortBy(_._1).map {
      case (bucket, ds) =>
        val first = ds.map(_._1).min
        val lens = new Array[Int]((ds.map(_._1).max - first + 1).toInt)
        ds.foreach { case (id, len) => lens((id - first).toInt) = len }
        DocLenBlock(bucket, first, lens)
    }
}

object ReferenceIndex {
  /** Spark's string order: unsigned UTF-8 bytes. */
  def byteLess(a: String, b: String): Boolean =
    java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8)) < 0

  /** Corpus rows with their docIds: the rank under (repo, path, commit)
    * byte order, as `DocIds.assign` numbers rows with distinct keys. */
  def numbered(rows: Seq[CorpusRow]): Seq[(Long, CorpusRow)] = {
    def key(r: CorpusRow) = Seq(r.repo, r.path, r.commit)
    def less(a: CorpusRow, b: CorpusRow): Boolean = key(a).zip(key(b))
      .find { case (x, y) => x != y }.exists { case (x, y) => byteLess(x, y) }
    require(rows.map(key).distinct.size == rows.size, "reference rows need distinct keys")
    rows.sortWith(less).zipWithIndex.map { case (r, i) => (i.toLong, r) }
  }

  def sha256Hex(content: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(content.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** The docmap entry a build assigns to `r` at `docId`. */
  def doc(docId: Long, r: CorpusRow, docLen: Int): Doc =
    Doc(docId, r.repo, r.path, r.commit, r.lang, sha256Hex(r.content), docLen)
}
