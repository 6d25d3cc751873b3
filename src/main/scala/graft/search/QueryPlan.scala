package graft.search

import graft.build.Segment
import graft.model.{BM25, DictEntry}

/** One query, lowered once for the per-bucket kernel ([[Wand.eval]]).
  *
  * A plan is per segment: termIds are that segment's, and `idf`/`avgdl`
  * are whatever statistics the tier scores under (the segment's own, or
  * the global ones of a multi-segment read). `slots` are the scored
  * termIds in slot order — ascending termId for the bag-of-terms walks
  * and BOOL, QUERY order (repeats included) for PHRASE, BEFORE and
  * intervals. Filter-only terms (span-not's exclude, the intervals
  * filter) ride in the [[QueryPlan.Shape]]; they are fetched but never
  * score. `[lo, hi)` is the docId-range scope and `after` the
  * search_after cursor (null = first page).
  *
  * Every tier only fetches the plan's posting lists and doc lengths per
  * bucket and calls [[Wand.eval]]; all kind logic lives here. */
private[search] final case class QueryPlan(
    slots: Array[Long],
    idf: Map[Long, Double],
    boost: Map[Long, Double],
    avgdl: Double,
    k: Int,
    positional: Boolean,
    shape: QueryPlan.Shape,
    lo: Long = 0L,
    hi: Long = Long.MaxValue,
    after: Wand.Scored = null) {

  /** Every termId whose posting list the walk reads, ascending. */
  def tids: Array[Long] = (slots ++ shape.filterTids).distinct.sorted

  /** Query-time weight of a term (`merge^2`); 1.0 when unboosted. */
  def boostOf(tid: Long): Double =
    if (boost == null) 1.0 else boost.getOrElse(tid, 1.0)

  def scoped: Boolean = lo > 0L || hi != Long.MaxValue

  /** Inclusive bucket range of the scope. Bounds stay Long until clamped:
    * an open-ended scope (hi = Long.MaxValue) must not overflow to a
    * negative Int bucket. */
  def bucketRange(bucketSize: Long): (Int, Int) =
    (math.min(lo / bucketSize, Int.MaxValue.toLong).toInt,
      math.min((hi - 1) / bucketSize, Int.MaxValue.toLong).toInt)
}

private[search] object QueryPlan {

  /** The disjunctive walk: block-max WAND, MaxScore (the independently
    * pruned cross-check), or exhaustive — required under global
    * multi-segment statistics, where stored block maxima are not bounds. */
  sealed trait OrWalk extends Serializable
  object OrWalk {
    case object Wand extends OrWalk
    case object MaxScore extends OrWalk
    case object Exhaustive extends OrWalk
  }

  /** One case per per-bucket walk. */
  sealed trait Shape extends Serializable {
    def filterTids: Array[Long] = Array.emptyLongArray
  }
  final case class Or(walk: OrWalk) extends Shape
  case object And extends Shape
  case object Phrase extends Shape
  final case class Near(window: Int) extends Shape
  /** BEFORE/w: slots must match at increasing positions in query order. */
  final case class Ordered(window: Int) extends Shape
  final case class SpanFirst(n: Int) extends Shape
  /** The single slot must occur with no `exclude` within `window` tokens. */
  final case class SpanNot(exclude: Long, window: Int) extends Shape {
    override def filterTids: Array[Long] = Array(exclude)
  }
  /** Ordered slots within `maxGaps`; `filter` is not_containing, or
    * containing when `containing` is set. */
  final case class Intervals(maxGaps: Int, filter: Option[Long],
                             containing: Boolean) extends Shape {
    override def filterTids: Array[Long] = filter.toArray
  }
  /** Ordered slots of alternatives (`any_of`), not_containing `filter`. */
  final case class IntervalsAny(alts: Array[Array[Long]], maxGaps: Int,
                                filter: Option[Long]) extends Shape {
    override def filterTids: Array[Long] = filter.toArray
  }
  /** Presence predicate over the slots, extended by positional atoms
    * (`defs` slot indices, `wins` windows: 0 phrase, > 0 NEAR, < 0 BEFORE). */
  final case class Bool(eval: Array[Boolean] => Boolean,
                        defs: Array[Array[Int]], wins: Array[Int]) extends Shape
  final case class Lmd(mu: Double, p: Map[Long, Double]) extends Shape
  final case class DisMax(tie: Double) extends Shape

  type Expand = BoolQuery.Pattern => Array[DictEntry]

  def idf(entries: Array[DictEntry], numDocs: Long): Map[Long, Double] =
    entries.map(e => e.termId -> BM25.idf(numDocs, e.df)).toMap

  private def needPositional(positional: Boolean, what: String): Unit =
    require(positional, s"$what need a positional index (BuildParams.positional)")

  /** Lowers a query of a parsed kind over one segment's resolved
    * `entries` (ascending termId; the kind's own expansion). None =
    * provably empty: no entry, or AND/PHRASE/NEAR/ONEAR missing a term. */
  def lower(kind: String, text: String, entries: Array[DictEntry],
            idf: Map[Long, Double], avgdl: Double, k: Int,
            positional: Boolean, expand: Expand,
            or: OrWalk = OrWalk.Wand): Option[QueryPlan] = {
    if (kind == "BOOL")
      return bool(BoolQuery.parse(text), text, entries, idf, avgdl, k,
        positional, expand)
    val terms = QueryParser.termsFor(kind, text)
    val needAll = kind == "AND" || kind == "PHRASE" || kind == "NEAR" ||
      kind == "ONEAR"
    if (entries.isEmpty || (needAll && entries.length < terms.distinct.length))
      return None
    lazy val inQueryOrder = {
      val byTerm = entries.map(e => e.term -> e.termId).toMap
      terms.map(byTerm)
    }
    val tids = entries.map(_.termId)
    val (slots, shape) = kind match {
      case "PHRASE" =>
        needPositional(positional, "phrase queries")
        (inQueryOrder, Phrase)
      case "NEAR" =>
        needPositional(positional, "proximity queries")
        (tids, Near(QueryParser.nearWindow(text)))
      case "ONEAR" => // QUERY order: the ordering IS the constraint
        needPositional(positional, "proximity queries")
        (inQueryOrder, Ordered(QueryParser.orderedWindow(text)))
      case "AND" => (tids, And)
      case _ => (tids, Or(or))
    }
    Some(QueryPlan(slots, idf, tidBoosts(entries, QueryParser.boosts(kind, text)),
      avgdl, k, positional, shape))
  }

  /** The BOOL plan compile: presence predicate over the ascending-termId
    * slots of `entries` (fixed terms ∪ this segment's pattern expansions,
    * see [[boolEntries]]), positional atoms, and the grammar's boosts with
    * pattern-leaf weights applied to this segment's own expansion. None =
    * unsatisfiable under this vocabulary. */
  def bool(ast: BoolQuery.Expr, text: String, entries: Array[DictEntry],
           idf: Map[Long, Double], avgdl: Double, k: Int,
           positional: Boolean, expand: Expand): Option[QueryPlan] = {
    if (entries.isEmpty || !BoolQuery.satisfiable(ast, entries.map(_.term).toSet))
      return None
    val atoms = BoolQuery.posAtoms(ast)
    if (atoms.nonEmpty)
      needPositional(positional, "phrase/NEAR atoms in a boolean query")
    // every atom is absent from the all-false vector whatever the slot
    // layout, so the empty layout decides this for every segment
    require(!BoolQuery.matchesEmpty(ast, Map.empty, 0),
      s"pure-negative boolean query '$text' matches a corpus-sized " +
        "complement; add a positive requirement (a AND NOT x)")
    val slot = entries.map(_.term).zipWithIndex.toMap
    val patEntries = BoolQuery.patterns(ast).map(p => p -> expand(p)).toMap
    val eval = BoolQuery.compile(ast, slot, atoms.zipWithIndex.toMap,
      entries.length, patEntries.map { case (p, es) => p -> es.flatMap(e => slot.get(e.term)) })
    val shape =
      if (atoms.isEmpty) Bool(eval, null, null)
      else Bool(eval, atoms.map(_._1.map(t => slot.getOrElse(t, -1)).toArray),
        atoms.map(_._2))
    Some(QueryPlan(entries.map(_.termId), idf,
      tidBoosts(entries, boolTermBoosts(ast, patEntries)), avgdl, k,
      positional, shape))
  }

  /** A boolean expression's entries: fixed-term lookups ∪ per-pattern
    * dictionary expansions, deduped, ascending termId. */
  def boolEntries(ast: BoolQuery.Expr, lookup: Array[String] => Array[DictEntry],
                  expand: Expand): Array[DictEntry] =
    (lookup(BoolQuery.terms(ast)) ++ BoolQuery.patterns(ast).flatMap(expand))
      .distinctBy(_.termId).sortBy(_.termId)

  /** A plan over `entries` with no boosts. */
  def of(entries: Array[DictEntry], idf: Map[Long, Double], avgdl: Double,
         k: Int, positional: Boolean, shape: Shape): QueryPlan =
    QueryPlan(entries.map(_.termId), idf, null, avgdl, k, positional, shape)

  // ── the per-kind query surfaces, shared by Searcher and ServingSearcher;
  // `lookup` resolves distinct terms against the segment's dictionary

  /** LM-Dirichlet: p_t = cf_t / Σcf, the exhaustive union walk. */
  def lmd(seg: Segment, lookup: Array[String] => Array[DictEntry],
          text: String, mu: Double, k: Int, totalCf: Long): Option[QueryPlan] = {
    require(mu > 0.0, s"Dirichlet mu must be positive, got $mu")
    val entries = lookup(QueryParser.termsFor("FREE", text).distinct)
    if (entries.isEmpty) return None
    val p = entries.map(e => e.termId -> e.cf / totalCf.toDouble).toMap
    Some(of(entries, idf(entries, seg.stats.numDocs), seg.stats.avgDocLen, k,
      seg.params.positional, Lmd(mu, p)))
  }

  def spanFirst(seg: Segment, lookup: Array[String] => Array[DictEntry],
                text: String, n: Int, k: Int): Option[QueryPlan] = {
    require(n >= 1, s"span-first bound must be >= 1, got $n")
    needPositional(seg.params.positional, "span-first queries")
    val terms = QueryParser.termsFor("FREE", text).distinct
    val entries = lookup(terms)
    if (entries.isEmpty || entries.length < terms.length) None
    else Some(of(entries, idf(entries, seg.stats.numDocs), seg.stats.avgDocLen,
      k, positional = true, SpanFirst(n)))
  }

  /** An out-of-vocabulary exclude degenerates to the plain term query. */
  def spanNot(seg: Segment, lookup: Array[String] => Array[DictEntry],
              incText: String, excText: String, window: Int,
              k: Int): Option[QueryPlan] = {
    require(window >= 0, s"span-not window must be >= 0, got $window")
    needPositional(seg.params.positional, "span-not queries")
    val incTerms = QueryParser.termsFor("FREE", incText).distinct
    val excTerms = QueryParser.termsFor("FREE", excText).distinct
    require(incTerms.length == 1,
      s"span-not include must be a single term, got '$incText'")
    require(excTerms.length == 1,
      s"span-not exclude must be a single term, got '$excText'")
    require(incTerms.head != excTerms.head,
      "span-not include and exclude must differ")
    val inc = lookup(incTerms)
    if (inc.isEmpty) return None
    val shape = lookup(excTerms).headOption match {
      case Some(exc) => SpanNot(exc.termId, window)
      case None => Or(OrWalk.Wand)
    }
    Some(of(inc, idf(inc, seg.stats.numDocs), seg.stats.avgDocLen, k,
      positional = true, shape))
  }

  /** Ordered terms within a gap budget, optionally (not_)containing one
    * filter term. Any OOV ordered term ⇒ empty; an OOV not_containing
    * filter is no filter, an OOV containing filter ⇒ empty. */
  def intervals(seg: Segment, lookup: Array[String] => Array[DictEntry],
                text: String, maxGaps: Int, filterText: String,
                containing: Boolean, k: Int): Option[QueryPlan] = {
    require(maxGaps >= 0, s"max_gaps must be >= 0, got $maxGaps")
    needPositional(seg.params.positional, "intervals queries")
    val terms = QueryParser.termsFor("FREE", text)
    require(terms.length >= 2,
      s"intervals need >= 2 ordered terms, got '$text'")
    val entries = lookup(terms.distinct)
    if (entries.length < terms.distinct.length) return None
    val filter = intervalsFilter(lookup, filterText, containing, terms,
      "the ordered query terms")
    if (containing && filter.isEmpty) return None // nothing to contain
    val byTerm = entries.map(e => e.term -> e.termId).toMap
    Some(QueryPlan(terms.map(byTerm), idf(entries, seg.stats.numDocs), null,
      seg.stats.avgDocLen, k, positional = true,
      Intervals(maxGaps, filter, containing)))
  }

  /** Ordered `any_of` slots (`fast|slow merge`): OOV alternatives drop
    * from their slot, a slot with none left ⇒ empty. */
  def intervalsAny(seg: Segment, lookup: Array[String] => Array[DictEntry],
                   text: String, maxGaps: Int, notText: String,
                   k: Int): Option[QueryPlan] = {
    require(maxGaps >= 0, s"max_gaps must be >= 0, got $maxGaps")
    needPositional(seg.params.positional, "intervals queries")
    val slotTerms = QueryParser.intervalsAnySlots(text)
    require(slotTerms.length >= 2,
      s"intervals need >= 2 ordered slots, got '$text'")
    val allAlts = slotTerms.flatten.distinct
    val entries = lookup(allAlts)
    val byTerm = entries.map(e => e.term -> e.termId).toMap
    val alts = slotTerms.map(_.flatMap(byTerm.get))
    if (alts.exists(_.isEmpty)) return None
    val filter = intervalsFilter(lookup, notText, containing = false, allAlts,
      "the slot alternatives")
    Some(of(entries, idf(entries, seg.stats.numDocs), seg.stats.avgDocLen, k,
      positional = true, IntervalsAny(alts, maxGaps, filter)))
  }

  private def intervalsFilter(lookup: Array[String] => Array[DictEntry],
                              text: String, containing: Boolean,
                              terms: Array[String], what: String): Option[Long] = {
    val ts = QueryParser.termsFor("FREE", text).distinct
    val name = if (containing) "containing" else "not_containing"
    if (containing) require(ts.length == 1, s"$name must be a single term, got '$text'")
    else require(ts.length <= 1, s"$name must be empty or a single term, got '$text'")
    require(ts.isEmpty || !terms.contains(ts.head), s"$name term must differ from $what")
    lookup(ts).headOption.map(_.termId)
  }

  // ── global statistics for the multi-segment tiers

  /** Combined N and avgdl over `segments`, recomputed from docLens: a
    * segment's avgdl·N recovers its token total only up to FP division. */
  def globalStats(segments: Seq[Segment]): (Long, Double) = {
    import org.apache.spark.sql.functions._
    val totals = segments.map { s =>
      val spark = s.docs.sparkSession
      import spark.implicits._
      s.docs.agg(count(lit(1)), coalesce(sum($"docLen".cast("long")), lit(0L)))
        .as[(Long, Long)].head()
    }
    val n = totals.map(_._1).sum
    val tok = totals.map(_._2).sum
    (n, if (n == 0) 1.0 else tok.toDouble / n)
  }

  /** Lowers one query over every segment of a merge-on-read index under
    * GLOBAL statistics: df per term string sums across the segments'
    * own `entries` (termId spaces differ per segment), and every walk is
    * exhaustive (stored block maxima are not bounds under global idf).
    * A segment lacking a term an AND/PHRASE/NEAR needs, or under whose
    * vocabulary a BOOL is unsatisfiable, gets None — docId ranges are
    * disjoint, so per-segment evaluation is exact. */
  def lowerGlobal(kind: String, text: String, k: Int, numDocs: Long,
                  avgdl: Double, segments: Seq[Segment],
                  entries: Seq[Array[DictEntry]],
                  expands: Seq[Expand]): Seq[Option[QueryPlan]] = {
    val none = segments.map(_ => Option.empty[QueryPlan])
    val positional = segments.forall(_.params.positional)
    // positional requirements surface here, before any walk
    if (kind == "BOOL") {
      if (BoolQuery.posAtoms(BoolQuery.parse(text)).nonEmpty)
        require(positional, "phrase/NEAR atoms in a boolean query need " +
          "positional segments (BuildParams.positional)")
    } else {
      if (QueryParser.termsFor(kind, text).isEmpty) return none
      if (kind == "PHRASE" || kind == "NEAR" || kind == "ONEAR")
        require(positional,
          s"$kind queries need positional segments (BuildParams.positional)")
    }
    val df: Map[String, Long] = entries.flatten
      .groupBy(_.term).map { case (t, es) => t -> es.map(_.df).sum }
    segments.indices.map { i =>
      val es = entries(i)
      lower(kind, text, es,
        es.map(e => e.termId -> BM25.idf(numDocs, df(e.term))).toMap, avgdl, k,
        segments(i).params.positional, expands(i), OrWalk.Exhaustive)
    }
  }

  // ── boosts

  /** term-string weights → termId weights over the resolved entries;
    * null when no term deviates from 1.0 (walks skip weight lookups). */
  def tidBoosts(entries: Array[DictEntry], m: Map[String, Double]): Map[Long, Double] =
    if (m.isEmpty) null
    else {
      val b = entries.flatMap(e => m.get(e.term).map(e.termId -> _)).toMap
      if (b.isEmpty) null else b
    }

  /** Effective per-term weights of a boolean query: the grammar's fixed-
    * term maxima combined with each boosted Pattern leaf's weight applied
    * to ITS per-segment expansion (max across mentions, unboosted = 1.0). */
  private def boolTermBoosts(ast: BoolQuery.Expr,
                             patEntries: Map[BoolQuery.Pattern, Array[DictEntry]])
      : Map[String, Double] = {
    val (tm, pm) = BoolQuery.boostMaps(ast)
    if (pm.isEmpty) return tm
    val eff = scala.collection.mutable.Map.empty[String, Double] ++ tm
    patEntries.foreach { case (p, es) =>
      val w = pm.getOrElse(p, 1.0)
      es.foreach(e => eff(e.term) = math.max(eff.getOrElse(e.term, 1.0), w))
    }
    eff.filter(_._2 != 1.0).toMap
  }
}
