package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

/** Output checks. A failed check makes the run report `correct: false`;
  * the benchmark never adjusts its data to make one pass. */
object Checks {

  /** One ranked hit as compared: rank, docId and the exact score. */
  type H = (Int, Long, Double)
  def hs(hits: Array[Engine.Hit]): Seq[H] = hits.toSeq.map(h => (h.rank, h.docId, h.score))

  def digest(hits: Array[Engine.Hit]): Long =
    hits.foldLeft(0x51ED2701L) { (acc, h) =>
      Gen.splitmix(acc ^ Gen.splitmix(h.rank.toLong) ^ Gen.splitmix(h.docId) ^
        java.lang.Double.doubleToLongBits(h.score))
    }
  /** Order-independent digest of per-query digests. */
  def combine(m: ConcurrentHashMap[Int, Long]): Long =
    m.asScala.foldLeft(0L) { case (acc, (q, d)) => acc + Gen.splitmix(q.toLong * 31 + d) }

  /** Bit-for-bit comparison of two top-k lists; None when identical.
    * Catches a dropped or extra hit, a reordering and a rescoring. */
  def diffHits(want: Seq[H], got: Seq[H]): Option[String] =
    if (want.size != got.size) Some(s"${got.size} hits, want ${want.size}")
    else want.zip(got).collectFirst {
      case (w, g) if w._1 != g._1 || w._2 != g._2 ||
        java.lang.Double.doubleToLongBits(w._3) != java.lang.Double.doubleToLongBits(g._3) =>
        s"got $g, want $w"
    }

  /** Comparison on (key, score to 1e-6) up to ties at rank k: scores must
    * agree rank by rank, and keys must agree within every group of tied
    * scores except a group that the cut at rank k truncates. */
  def diffUpToTies(want: Seq[(String, Double)], got: Seq[(String, Double)],
                   k: Int): Option[String] = {
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-6
    if (want.size != got.size) return Some(s"${got.size} hits, want ${want.size}")
    val w = want.sortBy(h => (-h._2, h._1))
    val g = got.sortBy(h => (-h._2, h._1))
    w.indices.find(i => !close(w(i)._2, g(i)._2)) match {
      case Some(i) => Some(f"rank ${i + 1}: score ${g(i)._2}%.6f, want ${w(i)._2}%.6f")
      case None =>
        // tie groups over ranks
        val groups = w.indices.foldLeft(List.empty[List[Int]]) {
          case (cur :: done, i) if close(w(cur.head)._2, w(i)._2) => (i :: cur) :: done
          case (acc, i) => List(i) :: acc
        }.map(_.reverse).reverse
        groups.filterNot(gr => w.size == k && gr.contains(k - 1)).collectFirst {
          case gr if gr.map(w(_)._1).toSet != gr.map(g(_)._1).toSet =>
            s"ranks ${gr.head + 1}-${gr.last + 1}: ${gr.map(g(_)._1).mkString(",")} " +
              s"want ${gr.map(w(_)._1).mkString(",")}"
        }
    }
  }

  /** For the first query of every kind in the pool: the serving tier
    * equals the relational Searcher bit for bit, FREE/OR also equal the
    * exhaustive (unpruned) evaluation, a phrase taken from a document
    * matches, and a needle matches exactly one document. */
  def serving(c: Ctx, seg: Engine.Segment, serving: Engine.Serving, queries: Array[Q],
              k: Int): Unit = {
    val s = Engine.searcher(c.spark, seg)
    val sample = Layers.kinds.flatMap(kind => queries.find(_.label == kind))
    sample.foreach { q =>
      val srv = hs(Engine.servingHits(serving, q, k))
      val rel = hs(Engine.searcherHits(s, q, k))
      c.res.check(s"serve: ServingSearcher == Searcher for ${q.label} '${q.text}'",
        diffHits(rel, srv).isEmpty, diffHits(rel, srv).getOrElse(""))
      if (q.kind == "FREE" || q.kind == "OR") {
        val exh = hs(Engine.searcherHitsExhaustive(s, q, k))
        c.res.check(s"serve: ServingSearcher == exhaustive for ${q.label} '${q.text}'",
          diffHits(exh, srv).isEmpty, diffHits(exh, srv).getOrElse(""))
      }
      if (q.label == "PHRASE")
        c.res.check(s"serve: phrase '${q.text}' from a document matches", srv.nonEmpty)
      if (q.label == "NEEDLE")
        c.res.check(s"serve: needle '${q.text}' matches one document", srv.size == 1,
          s"${srv.size} hits")
    }
  }
}
