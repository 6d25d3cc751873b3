package graft.search

import scala.collection.mutable

import graft.codec.PostingCodec
import graft.model.{BM25, PostingList}

/** The per-bucket walks of every query kind — SURVEY.md §2.4. Four walks
  * carry them all, and one mapping (`walk`) puts each [[QueryPlan.Shape]]
  * onto one of them under one of two terminals: [[eval]] ranks the
  * matches into a top-k, [[matches]] hands them out unscored up to a
  * limit (match sets, counts, first-k). The walks:
  *
  *  - [[topK]]: block-max WAND (Broder et al., CIKM'03, with block-max
  *    skipping per Ding & Suel, SIGIR'11), the default disjunctive top-k;
  *  - [[topKMaxScore]]: MaxScore, the independently pruned disjunction;
  *  - `conjunction`: a galloping intersection over slots of alternative
  *    cursors with a per-document match predicate (AND, PHRASE, NEAR,
  *    BEFORE, span-first, span-not, intervals and their `any_of` form);
  *  - `union`: document-at-a-time over the union of the lists with a
  *    presence predicate (exhaustive OR, BOOL, dis-max, LM-Dirichlet,
  *    and every unscored OR).
  *
  * Iterator+heap walks with data-dependent skipping are not relational,
  * so they run inside a typed `mapGroups`/`cogroup` lambda (SURVEY §4.2);
  * everything here is pure Scala with zero Spark deps, unit-testable
  * without a session.
  *
  * Determinism contract (rank-identity, SURVEY §2.4): scored docIds are
  * strictly ascending during the walk; per-doc accumulation iterates
  * cursors in ascending termId order; all arithmetic in Double. Ties at
  * the k-boundary resolve to the smaller docId because an equal-score
  * later (larger) docId never replaces an incumbent.
  *
  * Pruning uses `ub >= theta` to evaluate (strict `<` skips): Float block
  * maxima are rounded UP at build time (PostingCodec.upperFloat), so a
  * skipped candidate provably scores below the current k-th entry.
  */
object Wand {

  /** One query term's posting cursor + scoring state. `positional` must
    * match the segment's codec version (BuildParams.positional).
    *
    * `[lo, hi)` is an optional docId-range VIEW: the cursor starts at
    * the first posting ≥ lo and reads as exhausted once past hi. Because
    * docIds are the global (repo, path, commit) sort rank, a repo (or
    * repo prefix) is a CONTIGUOUS range — scoped search costs a block
    * skip, not a filter pass, and every walk works unchanged.
    *
    * `boost` is the query-time weight of this term (`merge^2`): it
    * scales the effective idf (so every exact-scoring walk picks it up
    * through [[idf]]) AND the stored block-max bounds below — a per-list
    * bound times a non-negative constant is still a valid per-list upper
    * bound, so WAND pruning stays sound under boosts. */
  final class TermCursor(val termId: Long, idf0: Double, pl: PostingList,
                         positional: Boolean = false,
                         lo: Long = 0L, hi: Long = Long.MaxValue,
                         boost: Double = 1.0) {
    /** Effective idf: the caller's statistical idf times the boost. */
    val idf: Double = idf0 * boost
    val cursor = new PostingCodec.Cursor(pl.numDocs, pl.lastDocIds,
      pl.maxImpacts, pl.offsets, pl.bytes, positional)
    if (lo > 0L) cursor.nextGeq(lo)
    private val lastDocIds = pl.lastDocIds
    private val maxImpacts = pl.maxImpacts
    /** Whole-list score upper bound (boost-scaled). */
    val listMax: Double = cursor.listMax.toDouble * boost

    @inline def docId: Long = cursor.docId
    @inline def exhausted: Boolean = cursor.exhausted || cursor.docId >= hi
    @inline def tf: Int = cursor.tf
    /** Current posting's term positions (positional lists only). */
    def positions(): Array[Int] = cursor.positions()
    def next(): Unit = cursor.next()
    def nextGeq(t: Long): Unit = cursor.nextGeq(t)

    /** Shallow (metadata-only) lookup of the block containing the first
      * posting >= target: its max impact (boost-scaled) and last docId.
      * Does not move the decode position. Requires target <= last docId
      * of the list. */
    def shallowBlock(target: Long): (Double, Long) = {
      var lo = 0
      var hi = lastDocIds.length - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (lastDocIds(mid) < target) lo = mid + 1 else hi = mid
      }
      (maxImpacts(lo).toDouble * boost, lastDocIds(lo))
    }
  }

  /** Result heap entry. */
  final case class Scored(docId: Long, score: Double)

  /** Fixed-size top-k min-heap on score. Ascending-docId insertion order
    * makes (score asc) eviction implement the (score desc, docId asc)
    * total order: equal-score later docIds are rejected at insert.
    *
    * `after` is an optional search_after cursor: only candidates
    * STRICTLY after it in (score desc, docId asc) order are accepted —
    * deep pagination at O(k) heap memory per page, any depth (the
    * page's predecessors are filtered at offer, never buffered). Sound
    * under WAND pruning: pruning skips only sub-theta candidates, and
    * theta comes from already-accepted post-cursor entries. */
  final class TopK(k: Int, after: Scored = null) {
    private implicit val ord: Ordering[Scored] =
      Ordering.by[Scored, (Double, Long)](s => (-s.score, s.docId))
    private val heap = mutable.PriorityQueue.empty[Scored] // head = worst
    // k <= 0: heap stays empty — theta must not touch heap.head, and a
    // +Inf theta lets WAND's pivot test terminate the walk immediately
    def theta: Double =
      if (k <= 0) Double.PositiveInfinity
      else if (heap.size < k) Double.NegativeInfinity
      else heap.head.score
    def offer(docId: Long, score: Double): Unit = {
      if (k <= 0) return
      if (after != null &&
          !(score < after.score || (score == after.score && docId > after.docId)))
        return
      if (heap.size < k) heap.enqueue(Scored(docId, score))
      else if (score > heap.head.score) { heap.dequeue(); heap.enqueue(Scored(docId, score)) }
    }
    /** Results ordered (score desc, docId asc). */
    def result(): Array[Scored] =
      heap.dequeueAll.toArray.sortBy(s => (-s.score, s.docId))
  }

  /** Runs `plan`'s walk over one bucket and returns its top-k: `lists`
    * are the bucket's posting lists of the plan's termIds (any subset, any
    * order), `lens` its doc lengths from `firstDocId`, `accept` the
    * bucket's doc filter (null = none; see [[bucketFilter]]). The scored
    * terminal of [[walk]], the one kernel dispatch every tier calls. */
  private[search] def eval(plan: QueryPlan, lists: Array[PostingList],
                           firstDocId: Long, lens: Array[Int],
                           accept: Long => Boolean): Array[Scored] = {
    val top = new TopK(plan.k, plan.after)
    walk(plan, lists, firstDocId, lens, accept, Long.MaxValue, top)(
      ranker(top, lens, firstDocId, plan.avgdl, plan.shape))
    top.result()
  }

  /** The unscored terminal of [[walk]]: hands each doc that matches
    * `plan` over one bucket to `hit` in docId order, stops after `limit`
    * matches and returns their number. No doc lengths are read and
    * nothing is scored, so a match set, a (capped) count or the first k
    * matches cost one walk bounded by the limit. */
  private[search] def matches(plan: QueryPlan, lists: Array[PostingList],
                              accept: Long => Boolean, limit: Long)
                             (hit: Long => Unit): Long =
    walk(plan, lists, 0L, null, accept, limit, null)((d, _) => hit(d))

  /** The one shape→walk mapping. Conjunctive shapes build one cursor per
    * slot (a repeated phrase term walks its own cursor) and match nothing
    * in a bucket missing a slot; the position checks decode only the
    * aligned doc's occurrence lists, and a filter term (span-not's
    * exclude, the intervals filter) is optional per bucket, skip-scanned
    * to the aligned doc, and never scores (filter-doesn't-rescale). Every
    * other shape runs the union under the plan's predicate. `top` is the
    * scored terminal's heap, which block-max WAND and MaxScore fill
    * themselves; unscored (null), every OR runs the union. */
  private def walk(plan: QueryPlan, lists: Array[PostingList], firstDocId: Long,
                   lens: Array[Int], accept: Long => Boolean, limit: Long,
                   top: TopK)(hit: OnMatch): Long = {
    import QueryPlan._
    val byTid = lists.map(pl => pl.termId -> pl).toMap
    def cursor(tid: Long) = new TermCursor(tid, plan.idf(tid), byTid(tid),
      plan.positional, plan.lo, plan.hi, plan.boostOf(tid))
    def filter(tid: Option[Long]) = tid.flatMap(byTid.get).map(pl =>
      new TermCursor(pl.termId, 0.0, pl, plan.positional, plan.lo, plan.hi)).orNull
    def present = plan.slots.filter(byTid.contains).map(cursor)
    def conj(slots: Array[Array[TermCursor]])(matches: Long => Boolean) =
      conjunction(slots, accept, limit)(matches)(hit)
    def all(matches: Array[Array[TermCursor]] => Long => Boolean): Long =
      if (!plan.slots.forall(byTid.contains)) 0L
      else { val slots = plan.slots.map(t => Array(cursor(t))); conj(slots)(matches(slots)) }
    def any(slots: Array[TermCursor], pred: Array[Boolean] => Boolean,
            defs: Array[Array[Int]], wins: Array[Int]) =
      union(slots, pred, defs, wins, accept, limit)(hit)
    plan.shape match {
      case Or(OrWalk.Wand) if top != null =>
        wand(present, lens, firstDocId, plan.avgdl, top, accept); 0L
      case Or(OrWalk.MaxScore) if top != null =>
        maxScore(present, lens, firstDocId, plan.avgdl, top, accept); 0L
      case Or(_) | Lmd(_, _) | DisMax(_) => any(present.sortBy(_.termId), AnyPresent, null, null)
      case Bool(pred, defs, wins) =>
        // a slot with no list in this bucket stays null (never present)
        any(plan.slots.map(t => if (byTid.contains(t)) cursor(t) else null), pred, defs, wins)
      case And => all(_ => _ => true)
      // ∃ p: p+i ∈ positions(slot i) for every i
      case Phrase => all(s => _ => stairMatch(s.length, s(_)(0).positions()))
      // one occurrence of every term inside a w-token window
      case Near(w) => all(s => d => minSpan(s.map(positionsAt(_, d))) <= w)
      // the same, picking strictly increasing positions in query order
      case Ordered(w) => all(s => d => orderedSpan(s.map(positionsAt(_, d))) <= w)
      // every term within the first n tokens (positions ascend)
      case SpanFirst(n) => all(s => _ => s.forall(_(0).positions()(0) < n))
      // some include occurrence with no exclude within w tokens of it
      case SpanNot(exc, w) =>
        val not = filter(Some(exc))
        all(s => d => {
          val qs = filterPositions(not, d)
          qs == null || spaced(s(0)(0).positions(), qs, w)
        })
      case Intervals(gaps, f, containing) =>
        val not = filter(f)
        // containing: a bucket without the filter term has no match
        if (containing && (not == null || not.exhausted)) 0L
        else all(s => d => {
          val notPos = filterPositions(not, d)
          (!containing || notPos != null) &&
            intervalsMatch(s.map(positionsAt(_, d)), notPos, gaps, containing)
        })
      case IntervalsAny(alts, gaps, f) =>
        // one cursor per distinct termId, shared across slots; a slot
        // with no alternative in this bucket kills the bucket
        val shared = mutable.Map.empty[Long, TermCursor]
        val slots = alts.map(_.filter(byTid.contains)
          .map(t => shared.getOrElseUpdate(t, cursor(t))))
        if (slots.exists(_.isEmpty)) 0L
        else {
          val not = filter(f)
          conj(slots)(d =>
            intervalsMatch(slots.map(positionsAt(_, d)), filterPositions(not, d), gaps))
        }
    }
  }

  /** A walk's per-match callback: the matched docId and the cursors that
    * may sit on it (null or elsewhere-positioned entries are skipped),
    * called while every cursor on the doc still sits there. */
  private trait OnMatch { def apply(d: Long, on: Array[TermCursor]): Unit }

  /** The scored terminal's callback: scores a matched doc over the cursors
    * on it, in array order (ascending termId), and offers it to `top`.
    * `combine` picks the score:
    *  - the BM25 sum for every shape but the two below;
    *  - `DisMax(tie)` (Lucene DisjunctionMaxQuery): the best single BM25
    *    contribution plus `tie` times the rest — tie = 0 is the pure max,
    *    tie = 1 the plain sum;
    *  - `Lmd(mu, p)` (Zhai & Lafferty SIGIR'01, Lucene
    *    LMDirichletSimilarity): Σ_t max(0, ln(1 + tf/(μ·p_t)) +
    *    ln(μ/(dl+μ))) with p_t = cf_t/|C|; a doc whose every term clamps
    *    to zero is dropped. An LM score has no stored per-list bound
    *    (block maxima are BM25 impacts), hence the unpruned union. */
  private def ranker(top: TopK, lens: Array[Int], firstDocId: Long, avgdl: Double,
                     combine: QueryPlan.Shape): OnMatch = {
    val disMax = combine match { case c: QueryPlan.DisMax => c; case _ => null }
    val lmd = combine match { case c: QueryPlan.Lmd => c; case _ => null }
    (d, on) => {
      val dl = lens((d - firstDocId).toInt)
      val dlTerm = if (lmd == null) 0.0 else math.log(lmd.mu / (dl + lmd.mu))
      var sum = 0.0
      var best = 0.0
      var i = 0
      while (i < on.length) {
        val c = on(i)
        if (c != null && !c.exhausted && c.docId == d) {
          if (lmd == null) {
            val s = BM25.impact(c.idf, c.tf, dl, avgdl)
            sum += s
            if (s > best) best = s
          } else {
            val s = math.log(1.0 + c.tf / (lmd.mu * lmd.p(c.termId))) + dlTerm
            if (s > 0.0) sum += s
          }
        }
        i += 1
      }
      if (disMax != null) top.offer(d, best + disMax.tie * (sum - best))
      else if (lmd == null || sum > 0.0) top.offer(d, sum)
    }
  }

  /** Sentinel doc filter: the bucket has no accepted doc — skip its walk. */
  private[search] val RejectAll: Long => Boolean = _ => false

  /** One bucket's doc filter from per-bucket docId bitsets: `acceptBits`
    * (fielded filter; a bucket without a bitset accepts nothing) and
    * `rejectBits` (tombstones; a bucket without one rejects nothing).
    * null = no filter; [[RejectAll]] = skip the bucket. */
  private[search] def bucketFilter(bucket: Int, bucketSize: Long,
                                   acceptBits: Map[Int, Array[Long]],
                                   rejectBits: Map[Int, Array[Long]]): Long => Boolean = {
    val base = bucket.toLong * bucketSize
    def probe(bits: Array[Long]): Long => Boolean =
      d => { val off = (d - base).toInt; (bits(off >> 6) & (1L << (off & 63))) != 0L }
    val acc =
      if (acceptBits == null) null
      else acceptBits.get(bucket) match {
        case None => return RejectAll
        case Some(bits) => probe(bits)
      }
    val rej = if (rejectBits == null) null else rejectBits.get(bucket).map(probe).orNull
    if (rej == null) acc
    else if (acc == null) d => !rej(d)
    else d => acc(d) && !rej(d)
  }

  /** Block-max WAND top-k over one bucket's postings. `lens(d - firstDocId)`
    * is the doc length. Emits up to k (docId, score), ordered. */
  def topK(terms: Array[TermCursor], lens: Array[Int], firstDocId: Long,
           avgdl: Double, k: Int,
           accept: Long => Boolean = null,
           after: Scored = null): Array[Scored] = {
    val top = new TopK(k, after)
    wand(terms, lens, firstDocId, avgdl, top, accept)
    top.result()
  }

  private def wand(terms: Array[TermCursor], lens: Array[Int], firstDocId: Long,
                   avgdl: Double, topk: TopK, accept: Long => Boolean): Unit = {
    // live cursors ordered by current docId (insertion-sorted per advance)
    var live = terms.filter(!_.exhausted).sortBy(_.docId)
    while (live.nonEmpty) {
      val theta = topk.theta
      // pivot: first prefix whose Σ listMax reaches theta
      var acc = 0.0
      var p = -1
      var i = 0
      while (i < live.length && p < 0) {
        acc += live(i).listMax
        if (acc >= theta) p = i
        i += 1
      }
      if (p < 0) return // no prefix can reach theta
      val pivotDoc = live(p).docId
      // extend the prefix over every cursor already on pivotDoc, so the
      // block-max refinement sums ALL lists that could score it
      while (p + 1 < live.length && live(p + 1).docId == pivotDoc) p += 1
      // block-max refinement: Σ shallow block maxima over the prefix
      var bmAcc = 0.0
      var minBlockLast = Long.MaxValue
      i = 0
      while (i <= p) {
        val (bm, bl) = live(i).shallowBlock(pivotDoc)
        bmAcc += bm
        if (bl < minBlockLast) minBlockLast = bl
        i += 1
      }
      if (bmAcc < theta) {
        // current blocks cannot reach theta: jump past the nearest block end
        var target = minBlockLast + 1
        if (p + 1 < live.length && live(p + 1).docId < target)
          target = live(p + 1).docId
        if (target <= pivotDoc) target = pivotDoc + 1
        live = advance(live, target)
      } else if (live(0).docId == pivotDoc) {
        // all prefix cursors aligned on pivotDoc: score it exactly —
        // ascending termId order for bit-identical Double sums
        val dl = lens((pivotDoc - firstDocId).toInt)
        var score = 0.0
        val matched = live.filter(_.docId == pivotDoc).sortBy(_.termId)
        var j = 0
        while (j < matched.length) {
          val c = matched(j)
          score += BM25.impact(c.idf, c.tf, dl, avgdl)
          j += 1
        }
        if (accept == null || accept(pivotDoc)) topk.offer(pivotDoc, score)
        live = advance(live, pivotDoc + 1)
      } else {
        // align: move all cursors before the pivot up to pivotDoc
        live = advance(live, pivotDoc, upToPivotOnly = true)
      }
    }
  }

  /** MaxScore top-k (Turtle & Flood, IP&M 31(6) 1995; the DAAT
    * formulation surveyed by Mallia et al., ECIR'19) — the SECOND
    * independent pruning strategy next to block-max WAND [[topK]], kept
    * precisely because two different prunings that must agree
    * bit-for-bit are a strong correctness check on both.
    *
    * Terms sort ASCENDING by whole-list upper bound; with prefix sums
    * UB(i) = Σ_{j≤i} listMax(j), every term j with UB(j) ≤ θ is
    * NON-ESSENTIAL: a document matching only terms 0..j cannot enter
    * the heap. Candidates therefore drive from the essential lists
    * alone; non-essential lists are probed per candidate by nextGeq in
    * DESCENDING bound order with a running partial-score + remaining-UB
    * early exit (sound: the bound only overestimates). As θ rises the
    * essential boundary moves right and whole lists stop being walked.
    *
    * Bit-identity with [[topK]]/[[topKOrExhaustive]]: the early-exit
    * partial sums decide only survival; a SURVIVING candidate's offered
    * score is recomputed over its matched terms in ascending-termId
    * order — the same summation order every other walk pins. */
  def topKMaxScore(terms: Array[TermCursor], lens: Array[Int],
                   firstDocId: Long, avgdl: Double, k: Int,
                   accept: Long => Boolean = null,
                   after: Scored = null): Array[Scored] = {
    val top = new TopK(k, after)
    maxScore(terms, lens, firstDocId, avgdl, top, accept)
    top.result()
  }

  private def maxScore(terms: Array[TermCursor], lens: Array[Int], firstDocId: Long,
                       avgdl: Double, topk: TopK, accept: Long => Boolean): Unit = {
    val sorted = terms.filter(!_.exhausted).sortBy(_.listMax)
    val n = sorted.length
    if (n == 0) return
    val prefix = new Array[Double](n)
    var i = 0
    var acc = 0.0
    while (i < n) { acc += sorted(i).listMax; prefix(i) = acc; i += 1 }
    // matched (termId, idf, tf) triples of the current candidate
    val mTid = new Array[Long](n)
    val mIdf = new Array[Double](n)
    val mTf = new Array[Int](n)
    var first = 0
    while (first < n) {
      val theta = topk.theta
      while (first < n && prefix(first) <= theta) first += 1
      if (first >= n) return
      // candidate: min docId among live essential cursors
      var cand = Long.MaxValue
      i = first
      while (i < n) {
        val c = sorted(i)
        if (!c.exhausted && c.docId < cand) cand = c.docId
        i += 1
      }
      if (cand == Long.MaxValue) return
      val dl = lens((cand - firstDocId).toInt)
      var nm = 0
      var partial = 0.0
      i = first
      while (i < n) {
        val c = sorted(i)
        if (!c.exhausted && c.docId == cand) {
          mTid(nm) = c.termId; mIdf(nm) = c.idf; mTf(nm) = c.tf
          partial += BM25.impact(c.idf, c.tf, dl, avgdl)
          nm += 1
        }
        i += 1
      }
      // probe non-essential lists, largest bound first, early exit on
      // partial + remaining-UB ≤ θ (an equal-score candidate can never
      // displace a heap entry, so ≤ is the sharp abandon test)
      var rem = if (first > 0) prefix(first - 1) else 0.0
      var j = first - 1
      var alive = partial + rem > theta || topk.theta == Double.NegativeInfinity
      while (j >= 0 && alive) {
        val c = sorted(j)
        rem -= c.listMax
        if (!c.exhausted) {
          if (c.docId < cand) c.nextGeq(cand)
          if (!c.exhausted && c.docId == cand) {
            mTid(nm) = c.termId; mIdf(nm) = c.idf; mTf(nm) = c.tf
            partial += BM25.impact(c.idf, c.tf, dl, avgdl)
            nm += 1
          }
        }
        if (partial + rem <= topk.theta &&
            topk.theta != Double.NegativeInfinity) alive = false
        j -= 1
      }
      if (alive && (accept == null || accept(cand))) {
        // offered score: ascending-termId summation, the pinned order
        var score = 0.0
        var a = 0
        while (a < nm) { // selection sort walk — nm is ≤ |q|, tiny
          var best = -1
          var bestTid = Long.MaxValue
          var b = 0
          while (b < nm) {
            if (mTid(b) >= 0 && mTid(b) < bestTid) { bestTid = mTid(b); best = b }
            b += 1
          }
          score += BM25.impact(mIdf(best), mTf(best), dl, avgdl)
          mTid(best) = -1L
          a += 1
        }
        topk.offer(cand, score)
      }
      // advance every cursor sitting on the candidate
      i = 0
      while (i < n) {
        val c = sorted(i)
        if (!c.exhausted && c.docId == cand) c.next()
        i += 1
      }
    }
  }

  private def advance(live: Array[TermCursor], target: Long,
                      upToPivotOnly: Boolean = false): Array[TermCursor] = {
    var i = 0
    while (i < live.length && live(i).docId < target) {
      live(i).nextGeq(target)
      i += 1
    }
    live.filter(!_.exhausted).sortBy(_.docId)
  }

  /** Conjunctive (AND) top-k: the conjunction walk with no position check. */
  def topKAnd(terms: Array[TermCursor], lens: Array[Int], firstDocId: Long,
              avgdl: Double, k: Int,
              accept: Long => Boolean = null,
              after: Scored = null): Array[Scored] = {
    val top = new TopK(k, after)
    conjunction(terms.map(Array(_)), accept, Long.MaxValue)(_ => true)(
      ranker(top, lens, firstDocId, avgdl, QueryPlan.And))
    top.result()
  }

  /** Exhaustive disjunctive top-k (no pruning): the union walk under the
    * BM25 sum. The safe path for multi-segment reads, where stored block
    * maxima are not valid bounds (SURVEY §2.3 I7 note), and the in-bucket
    * oracle of [[topK]] and [[topKMaxScore]]. */
  def topKOrExhaustive(terms: Array[TermCursor], lens: Array[Int],
                       firstDocId: Long, avgdl: Double, k: Int,
                       accept: Long => Boolean = null,
                       after: Scored = null): Array[Scored] = {
    val top = new TopK(k, after)
    val or = QueryPlan.Or(QueryPlan.OrWalk.Exhaustive)
    union(terms.sortBy(_.termId), AnyPresent, null, null, accept, Long.MaxValue)(
      ranker(top, lens, firstDocId, avgdl, or))
    top.result()
  }

  /** The union predicate of the disjunctive shapes: every candidate doc
    * is some slot's current doc, so it always matches. */
  private val AnyPresent: Array[Boolean] => Boolean = _ => true

  /** Galloping conjunction over `slots`, each a set of ALTERNATIVE
    * cursors (one for a plain slot; an `any_of` slot's alternatives, a
    * cursor possibly shared with another slot). A slot sits on the min
    * docId over its live cursors; every slot is driven to the running
    * target by nextGeq's block skips until all agree. An aligned doc
    * that passes `accept` and `matches` goes to `hit` with the distinct
    * termIds' cursors in ascending termId order — so a repeated phrase
    * term scores once, and an `any_of` doc scores every present
    * alternative (the BOOL contract). Stops after `limit` hits and
    * returns their number. */
  private def conjunction(slots: Array[Array[TermCursor]],
                          accept: Long => Boolean, limit: Long)
                         (matches: Long => Boolean)(hit: OnMatch): Long = {
    if (slots.isEmpty || slots.exists(_.forall(_.exhausted))) return 0L
    var hits = 0L
    val scoring: Array[TermCursor] = {
      val seen = mutable.Set.empty[Long]
      slots.flatten.filter(c => seen.add(c.termId)).sortBy(_.termId)
    }
    var target = slots.map(_.filterNot(_.exhausted).map(_.docId).min).max
    var done = false
    while (!done && hits < limit) {
      var aligned = true
      var i = 0
      while (i < slots.length && !done) {
        val alts = slots(i)
        var slotDoc = Long.MaxValue
        var j = 0
        while (j < alts.length) {
          val c = alts(j)
          if (!c.exhausted) {
            c.nextGeq(target)
            if (!c.exhausted && c.docId < slotDoc) slotDoc = c.docId
          }
          j += 1
        }
        if (slotDoc == Long.MaxValue) done = true // slot fully exhausted
        else if (slotDoc > target) { target = slotDoc; aligned = false }
        i += 1
      }
      if (!done && aligned) {
        if ((accept == null || accept(target)) && matches(target)) {
          hit(target, scoring)
          hits += 1
        }
        target += 1
      }
    }
    hits
  }

  /** Document-at-a-time over the union of `slots`, indexed by slot
    * (ascending termId); a null slot has no list in this bucket and is
    * never present. Each candidate doc (the min docId over the live
    * cursors) gets a presence vector, extended by the positional atoms
    * `defs` (slot indices; a -1 slot never matches) with `wins` (0 the
    * consecutive-position staircase of a phrase, w ≥ 1 the minimal-span
    * sweep of NEAR, w ≤ −1 the ordered sweep with window −w of BEFORE).
    * A doc that passes `accept` and `eval` goes to `hit` with the slots;
    * the walk stops after `limit` hits and returns their number. */
  private def union(slots: Array[TermCursor], eval: Array[Boolean] => Boolean,
                    defs: Array[Array[Int]], wins: Array[Int],
                    accept: Long => Boolean, limit: Long)
                   (hit: OnMatch): Long = {
    val n = slots.length
    val nAtoms = if (defs == null) 0 else defs.length
    val present = new Array[Boolean](n + nAtoms)
    // atom positions, read per candidate (atoms need a positional segment)
    val posArrs = if (nAtoms == 0) null else new Array[Array[Int]](n)
    var hits = 0L
    var d = Long.MaxValue
    var i = 0
    while (i < n) {
      val c = slots(i)
      if (c != null && !c.exhausted && c.docId < d) d = c.docId
      i += 1
    }
    while (d != Long.MaxValue && hits < limit) {
      i = 0
      while (i < n) {
        val c = slots(i)
        present(i) = c != null && !c.exhausted && c.docId == d
        if (present(i) && posArrs != null) posArrs(i) = c.positions()
        i += 1
      }
      var j = 0
      while (j < nAtoms) {
        val defn = defs(j)
        val win = wins(j)
        present(n + j) = defn.nonEmpty && defn.forall(x => x >= 0 && present(x)) && (
          if (win == 0) stairMatch(defn.length, x => posArrs(defn(x)))
          else if (win < 0) orderedSpan(defn.map(posArrs)) <= -win
          else minSpan(defn.map(posArrs)) <= win)
        j += 1
      }
      if ((accept == null || accept(d)) && eval(present)) { hit(d, slots); hits += 1 }
      // step the cursors on d and find the next candidate in one pass
      d = Long.MaxValue
      i = 0
      while (i < n) {
        val c = slots(i)
        if (present(i)) c.next()
        if (c != null && !c.exhausted && c.docId < d) d = c.docId
        i += 1
      }
    }
    hits
  }

  /** A slot's positions on the aligned doc `d`: its one cursor's, or the
    * merged ascending positions of every alternative on `d` (disjoint by
    * construction — one token holds one term), so the greedy position
    * checks stay exact over `any_of` slots. */
  private def positionsAt(alts: Array[TermCursor], d: Long): Array[Int] =
    if (alts.length == 1) alts(0).positions()
    else {
      val on = alts.filter(c => !c.exhausted && c.docId == d)
      if (on.length == 1) on(0).positions()
      else {
        val merged = Array.concat(on.map(_.positions()): _*)
        java.util.Arrays.sort(merged)
        merged
      }
    }

  /** The filter term's positions on `d`, or null when the doc (or the
    * bucket: `f` null) has none; `f` only ever skips forward to `d`. */
  private def filterPositions(f: TermCursor, d: Long): Array[Int] =
    if (f == null || f.exhausted) null
    else {
      f.nextGeq(d)
      if (!f.exhausted && f.docId == d) f.positions() else null
    }

  /** ∃ p ∈ ps with no q ∈ qs inside [p − w, p + w] — a two-pointer merge
    * over the two ascending lists, O(|ps| + |qs|). */
  private def spaced(ps: Array[Int], qs: Array[Int], w: Int): Boolean = {
    var j = 0
    var i = 0
    while (i < ps.length) {
      while (j < qs.length && qs(j) < ps(i) - w) j += 1
      if (j >= qs.length || qs(j) > ps(i) + w) return true
      i += 1
    }
    false
  }

  /** ∃ start s ∈ lists(0) whose GREEDY ordered chain (smallest next
    * position per slot, strictly increasing) ends at e with
    * (e − s + 1 − m) ≤ maxGaps and no `notPos` position inside [s, e].
    * Greedy is optimal for BOTH criteria: any valid chain from s ends
    * at e' ≥ e, so it has at least as many gaps and a ⊇ containment
    * window — per-start greedy enumeration therefore decides the
    * existential exactly (the same rule the SQL twin evaluates with a
    * per-start min() subquery). Every pointer only advances (greedy
    * ends are non-decreasing in s), so the sweep is O(total positions). */
  private def intervalsMatch(lists: Array[Array[Int]], notPos: Array[Int],
                             maxGaps: Int,
                             mustContain: Boolean = false): Boolean = {
    val m = lists.length
    val idx = new Array[Int](m)
    var ni = 0
    var s = 0
    while (s < lists(0).length) {
      val start = lists(0)(s)
      var prev = start
      var i = 1
      var ok = true
      while (i < m && ok) {
        while (idx(i) < lists(i).length && lists(i)(idx(i)) <= prev) idx(i) += 1
        if (idx(i) >= lists(i).length) ok = false
        else prev = lists(i)(idx(i))
        i += 1
      }
      if (!ok) return false // later starts chain even further right
      if (prev - start + 1 - m <= maxGaps) {
        if (notPos == null) { if (!mustContain) return true }
        else {
          // `ni` only moves right: starts ascend, so positions below the
          // current start can never serve a later interval either
          while (ni < notPos.length && notPos(ni) < start) ni += 1
          val inside = ni < notPos.length && notPos(ni) <= prev
          if (mustContain) { if (inside) return true } // containing
          else if (!inside) return true // not_containing
        }
      }
      s += 1
    }
    false
  }

  /** Minimal (last − first) over one pick per list with picks strictly
    * increasing left to right. Greedy chain per start position; every
    * pointer only advances, so the sweep is O(total positions). */
  private def orderedSpan(lists: Array[Array[Int]]): Int = {
    if (lists.length == 1) return 0
    val idx = new Array[Int](lists.length)
    var best = Int.MaxValue
    var s = 0
    while (s < lists(0).length) {
      var prev = lists(0)(s)
      var i = 1
      var ok = true
      while (i < lists.length && ok) {
        while (idx(i) < lists(i).length && lists(i)(idx(i)) <= prev) idx(i) += 1
        if (idx(i) >= lists(i).length) ok = false
        else prev = lists(i)(idx(i))
        i += 1
      }
      if (!ok) return best
      val span = prev - lists(0)(s)
      if (span < best) best = span
      s += 1
    }
    best
  }

  /** Minimal max-min over one pick per sorted list (classic k-pointer
    * sweep: always advance the list holding the minimum). */
  private def minSpan(lists: Array[Array[Int]]): Int = {
    val idx = new Array[Int](lists.length)
    var best = Int.MaxValue
    var exhausted = false
    while (!exhausted) {
      var mn = Int.MaxValue; var mx = Int.MinValue; var mnList = -1
      var i = 0
      while (i < lists.length) {
        val v = lists(i)(idx(i))
        if (v < mn) { mn = v; mnList = i }
        if (v > mx) mx = v
        i += 1
      }
      if (mx - mn < best) best = mx - mn
      idx(mnList) += 1
      if (idx(mnList) >= lists(mnList).length) exhausted = true
    }
    best
  }

  /** ∃ p: p+i ∈ pos(i) for every i < n — intersects the stair-cased
    * ascending position lists left to right, each step a linear merge
    * bounded by the shorter list; no later list is read once no start
    * survives. */
  private def stairMatch(n: Int, pos: Int => Array[Int]): Boolean = {
    var cand = pos(0)
    var i = 1
    while (i < n && cand.nonEmpty) {
      val ps = pos(i)
      val out = mutable.ArrayBuilder.make[Int]
      var a = 0; var b = 0
      while (a < cand.length && b < ps.length) {
        val want = cand(a) + i
        if (ps(b) == want) { out += cand(a); a += 1; b += 1 }
        else if (ps(b) < want) b += 1
        else a += 1
      }
      cand = out.result()
      i += 1
    }
    cand.nonEmpty
  }
}
