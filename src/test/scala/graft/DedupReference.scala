package graft

import org.apache.spark.sql.DataFrame

import graft.pipeline.Dedup

/** Brute-force near-dup reference over driver-side shingle sets: every
  * pair of docs, exact set intersection, the same Double formulas as
  * `Dedup`. The oracle the exact joins are checked against. */
object DedupReference {

  /** Distinct word n-grams of one text (raw single-space split). */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val ws = text.split(" ")
    if (ws.length < n) Set.empty else ws.sliding(n).map(_.mkString(" ")).toSet
  }

  /** Each doc_id's shingle set, unioned over rows sharing the id; docs
    * without shingles are absent. */
  def shingleSets(docs: DataFrame, n: Int = 3): Map[Long, Set[String]] =
    docs.select("doc_id", "text").collect().toSeq
      .groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.flatMap(r => shingles(r.getString(1), n)).toSet }
      .filter(_._2.nonEmpty)

  /** (a < b, J) for every pair with J = i / (na + nb − i) ≥ tau. */
  def jaccardPairs(sets: Map[Long, Set[String]], tau: Double): Set[(Long, Long, Double)] =
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      i = (sa & sb).size
      j = i.toDouble / (sa.size + sb.size - i) if j >= tau
    } yield (a, b, j)).toSet

  /** (sub ≠ sup, C) for every ordered pair with C = i / |sub| ≥ tau. */
  def containmentPairs(sets: Map[Long, Set[String]], tau: Double): Set[(Long, Long, Double)] =
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a != b
      c = (sa & sb).size.toDouble / sa.size if c >= tau
    } yield (a, b, c)).toSet

  /** Where `Dedup.jaccardPairs` and `Dedup.containmentPairs` over `docs`
    * differ from the reference, or repeat a pair, at each of `taus`. */
  def mismatches(docs: DataFrame, taus: Seq[Double]): Seq[String] = {
    import docs.sparkSession.implicits._
    val sets = shingleSets(docs)
    taus.flatMap { tau =>
      val jac = Dedup.jaccardPairs(docs, 3, tau).as[(Long, Long, Double)].collect()
      val con = Dedup.containmentPairs(docs, 3, tau).as[(Long, Long, Double)].collect()
      Seq(
        (s"jaccard tau=$tau", jac, jaccardPairs(sets, tau)),
        (s"containment tau=$tau", con, containmentPairs(sets, tau))
      ).collect {
        case (what, got, want) if got.toSet != want || got.length != want.size =>
          s"$what: extra ${got.toSet.diff(want)}, missing ${want.diff(got.toSet)}, " +
            s"${got.length - got.toSet.size} repeated"
      }
    }
  }
}
