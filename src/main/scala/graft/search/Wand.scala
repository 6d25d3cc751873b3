package graft.search

import scala.collection.mutable

import graft.codec.PostingCodec
import graft.model.{BM25, PostingList}

/** Block-max WAND top-k walk over one bucket — SURVEY.md §2.4 Q7.
  *
  * Algorithm per Broder et al., CIKM'03 (WAND) with block-max skipping per
  * Ding & Suel, SIGIR'11. Inherently an iterator+heap walk with
  * data-dependent skipping — not relational, so it runs inside a typed
  * `mapGroups`/`cogroup` lambda (SURVEY §4.2); everything here is pure
  * Scala with zero Spark deps, unit-testable without a session.
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

  /** Runs `plan`'s walk over one bucket: `lists` are the bucket's posting
    * lists of the plan's termIds (any subset, any order), `lens` its doc
    * lengths from `firstDocId`, `accept` the bucket's doc filter (null =
    * none; see [[bucketFilter]]). The one kernel dispatch every tier
    * calls. Cursors are built in slot order, one per slot (a repeated
    * phrase term walks its own cursor); a walk that needs every slot
    * returns nothing for a bucket missing one. */
  private[search] def eval(plan: QueryPlan, lists: Array[PostingList],
                           firstDocId: Long, lens: Array[Int],
                           accept: Long => Boolean): Array[Scored] = {
    import QueryPlan._
    val byTid = lists.map(pl => pl.termId -> pl).toMap
    def cursor(tid: Long) = new TermCursor(tid, plan.idf(tid), byTid(tid),
      plan.positional, plan.lo, plan.hi, plan.boostOf(tid))
    // filter terms constrain matching only: they never score
    def filter(tid: Option[Long]) = tid.flatMap(byTid.get).map(pl =>
      new TermCursor(pl.termId, 0.0, pl, plan.positional, plan.lo, plan.hi)).orNull
    def present = plan.slots.filter(byTid.contains).map(cursor)
    def allSlots(walk: Array[TermCursor] => Array[Scored]): Array[Scored] =
      if (plan.slots.forall(byTid.contains)) walk(plan.slots.map(cursor))
      else Array.empty
    val (avgdl, k, after) = (plan.avgdl, plan.k, plan.after)
    plan.shape match {
      case Or(OrWalk.Wand) => Wand.topK(present, lens, firstDocId, avgdl, k, accept, after)
      case Or(OrWalk.MaxScore) =>
        Wand.topKMaxScore(present, lens, firstDocId, avgdl, k, accept, after)
      case Or(OrWalk.Exhaustive) =>
        Wand.topKOrExhaustive(present, lens, firstDocId, avgdl, k, accept, after)
      case Lmd(mu, p) => Wand.topKLmd(present, lens, firstDocId, k, mu, p, accept, after)
      case DisMax(tie) => Wand.topKDisMax(present, lens, firstDocId, avgdl, k, tie, accept, after)
      case Bool(pred, defs, wins) =>
        // a slot with no list in this bucket stays null (never present)
        val slots = plan.slots.map(t => if (byTid.contains(t)) cursor(t) else null)
        Wand.topKBool(slots, lens, firstDocId, avgdl, k, pred, accept, after, defs, wins)
      case SpanNot(exc, w) =>
        // the include list is required, the exclude list optional
        if (!byTid.contains(plan.slots(0))) Array.empty
        else Wand.topKSpanNot(cursor(plan.slots(0)), filter(Some(exc)), lens,
          firstDocId, avgdl, k, w, w, accept, after)
      case IntervalsAny(alts, gaps, f) =>
        // one cursor per distinct termId, shared across slots; a slot
        // with no alternative in this bucket kills the bucket
        val shared = mutable.Map.empty[Long, TermCursor]
        val slotCs = alts.map(_.filter(byTid.contains)
          .map(t => shared.getOrElseUpdate(t, cursor(t))))
        if (slotCs.exists(_.isEmpty)) Array.empty
        else Wand.topKIntervalsAny(slotCs, lens, firstDocId, avgdl, k, gaps,
          filter(f), accept, after)
      case And => allSlots(Wand.topKAnd(_, lens, firstDocId, avgdl, k, accept, after))
      case Phrase => allSlots(Wand.topKPhrase(_, lens, firstDocId, avgdl, k, accept, after))
      case Near(w) => allSlots(Wand.topKNear(_, lens, firstDocId, avgdl, k, w, accept, after))
      case Ordered(w) =>
        allSlots(Wand.topKONear(_, lens, firstDocId, avgdl, k, w, accept, after))
      case SpanFirst(n) =>
        allSlots(Wand.topKSpanFirst(_, lens, firstDocId, avgdl, k, n, accept, after))
      case Intervals(gaps, f, containing) =>
        allSlots(Wand.topKIntervals(_, lens, firstDocId, avgdl, k, gaps, filter(f),
          accept, after, mustContain = containing))
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
    val topk = new TopK(k, after)
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
      if (p < 0) return topk.result() // no prefix can reach theta
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
    topk.result()
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
    val topk = new TopK(k, after)
    val sorted = terms.filter(!_.exhausted).sortBy(_.listMax)
    val n = sorted.length
    if (n == 0) return topk.result()
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
      if (first >= n) return topk.result()
      // candidate: min docId among live essential cursors
      var cand = Long.MaxValue
      i = first
      while (i < n) {
        val c = sorted(i)
        if (!c.exhausted && c.docId < cand) cand = c.docId
        i += 1
      }
      if (cand == Long.MaxValue) return topk.result()
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
    topk.result()
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

  /** Conjunctive (AND) evaluation: k-way galloping intersection, exact
    * scoring of every intersecting doc — SURVEY §2.4 Q4. */
  def topKAnd(terms: Array[TermCursor], lens: Array[Int], firstDocId: Long,
              avgdl: Double, k: Int,
              accept: Long => Boolean = null,
              after: Scored = null): Array[Scored] = {
    if (terms.isEmpty || terms.exists(_.exhausted)) return Array.empty
    val topk = new TopK(k, after)
    val byTermId = terms.sortBy(_.termId)
    var target = terms.map(_.docId).max
    var done = false
    while (!done) {
      // drive all cursors to target (galloping via nextGeq's block skips)
      var aligned = true
      var i = 0
      while (i < terms.length && !done) {
        terms(i).nextGeq(target)
        if (terms(i).exhausted) done = true
        else if (terms(i).docId > target) { target = terms(i).docId; aligned = false }
        i += 1
      }
      if (!done && aligned) {
        val dl = lens((target - firstDocId).toInt)
        var score = 0.0
        var j = 0
        while (j < byTermId.length) {
          score += BM25.impact(byTermId(j).idf, byTermId(j).tf, dl, avgdl)
          j += 1
        }
        if (accept == null || accept(target)) topk.offer(target, score)
        target += 1
      }
    }
    topk.result()
  }

  /** Phrase evaluation over positional postings — SURVEY §2.4 extension
    * (codec v2). `slots` holds ONE cursor per phrase position, in phrase
    * order (a repeated term gets an independent cursor over the same
    * list). Docs are aligned with the same galloping intersection as
    * AND; an aligned doc matches iff some start position p has
    * slot i's positions containing p+i for every i (consecutive terms in
    * the filtered token stream). Matching docs score standard BM25 over
    * the phrase's DISTINCT terms — identical to the AND score, so the
    * SQL twin can score relationally. */
  def topKPhrase(slots: Array[TermCursor], lens: Array[Int], firstDocId: Long,
                 avgdl: Double, k: Int,
                 accept: Long => Boolean = null,
                 after: Scored = null): Array[Scored] = {
    if (slots.isEmpty || slots.exists(_.exhausted)) return Array.empty
    val topk = new TopK(k, after)
    // distinct-term cursors in ascending termId order — deterministic sum
    val distinctSlots: Array[TermCursor] = {
      val seen = mutable.Set.empty[Long]
      slots.filter(c => seen.add(c.termId)).sortBy(_.termId)
    }
    var target = slots.map(_.docId).max
    var done = false
    while (!done) {
      var aligned = true
      var i = 0
      while (i < slots.length && !done) {
        slots(i).nextGeq(target)
        if (slots(i).exhausted) done = true
        else if (slots(i).docId > target) { target = slots(i).docId; aligned = false }
        i += 1
      }
      if (!done && aligned) {
        if ((accept == null || accept(target)) && phraseMatches(slots)) {
          val dl = lens((target - firstDocId).toInt)
          var score = 0.0
          var j = 0
          while (j < distinctSlots.length) {
            score += BM25.impact(distinctSlots(j).idf, distinctSlots(j).tf, dl, avgdl)
            j += 1
          }
          topk.offer(target, score)
        }
        target += 1
      }
    }
    topk.result()
  }

  /** Proximity (NEAR/w) evaluation over positional postings: docs where
    * one occurrence of EVERY distinct term fits inside a w-token window
    * (minimal span ≤ w). Docs align via the same galloping intersection
    * as AND; matches score standard BM25 over the distinct terms. */
  def topKNear(terms: Array[TermCursor], lens: Array[Int], firstDocId: Long,
               avgdl: Double, k: Int, window: Int,
               accept: Long => Boolean = null,
               after: Scored = null): Array[Scored] = {
    if (terms.isEmpty || terms.exists(_.exhausted)) return Array.empty
    val topk = new TopK(k, after)
    val byTermId = terms.sortBy(_.termId)
    var target = terms.map(_.docId).max
    var done = false
    while (!done) {
      var aligned = true
      var i = 0
      while (i < terms.length && !done) {
        terms(i).nextGeq(target)
        if (terms(i).exhausted) done = true
        else if (terms(i).docId > target) { target = terms(i).docId; aligned = false }
        i += 1
      }
      if (!done && aligned) {
        if ((accept == null || accept(target)) &&
            minSpan(byTermId.map(_.positions())) <= window) {
          val dl = lens((target - firstDocId).toInt)
          var score = 0.0
          var j = 0
          while (j < byTermId.length) {
            score += BM25.impact(byTermId(j).idf, byTermId(j).tf, dl, avgdl)
            j += 1
          }
          topk.offer(target, score)
        }
        target += 1
      }
    }
    topk.result()
  }

  /** Span-first evaluation (Lucene SpanFirstQuery over term spans — "the
    * term appears near the start of the doc", the title/header heuristic
    * when no field boundaries exist): docs where EVERY distinct slot
    * term has an occurrence within the first `n` tokens of the filtered
    * token stream (ascending positions ⇒ positions()(0) is the first
    * occurrence; 0-based first < n ⇔ 1-based first ≤ n). Alignment is
    * the same galloping conjunction as NEAR; matches score standard
    * BM25 over the distinct terms (filter-doesn't-rescale). */
  def topKSpanFirst(slots: Array[TermCursor], lens: Array[Int],
                    firstDocId: Long, avgdl: Double, k: Int, n: Int,
                    accept: Long => Boolean = null,
                    after: Scored = null): Array[Scored] = {
    if (slots.isEmpty || slots.exists(_.exhausted)) return Array.empty
    val topk = new TopK(k, after)
    val byTermId = slots.sortBy(_.termId)
    var target = slots.map(_.docId).max
    var done = false
    while (!done) {
      var aligned = true
      var i = 0
      while (i < slots.length && !done) {
        slots(i).nextGeq(target)
        if (slots(i).exhausted) done = true
        else if (slots(i).docId > target) { target = slots(i).docId; aligned = false }
        i += 1
      }
      if (!done && aligned) {
        if ((accept == null || accept(target)) &&
            byTermId.forall(_.positions()(0) < n)) {
          val dl = lens((target - firstDocId).toInt)
          var score = 0.0
          var j = 0
          while (j < byTermId.length) {
            score += BM25.impact(byTermId(j).idf, byTermId(j).tf, dl, avgdl)
            j += 1
          }
          topk.offer(target, score)
        }
        target += 1
      }
    }
    topk.result()
  }

  /** Span-not (Lucene SpanNotQuery, single-term include/exclude form):
    * a document matches when the INCLUDE term has at least one
    * occurrence with NO exclude-term occurrence within `pre` tokens
    * before / `post` tokens after it. Unlike every conjunctive walk the
    * exclude cursor is OPTIONAL — a document (or whole bucket) without
    * the exclude term matches on the include term alone, so the walk is
    * driven by the include cursor; the exclude cursor only ever
    * advances via nextGeq to the include's current doc (skip-scan, no
    * decode of non-aligned docs). The per-doc check is a two-pointer
    * merge over the two sorted position arrays, O(|P|+|Q|). Scoring is
    * BM25 of the include term only — the NEAR/PHRASE
    * filter-doesn't-rescale rule. */
  def topKSpanNot(inc: TermCursor, exc: TermCursor, lens: Array[Int],
                  firstDocId: Long, avgdl: Double, k: Int, pre: Int,
                  post: Int, accept: Long => Boolean = null,
                  after: Scored = null): Array[Scored] = {
    if (inc == null || inc.exhausted) return Array.empty
    val topk = new TopK(k, after)
    while (!inc.exhausted) {
      val d = inc.docId
      if (accept == null || accept(d)) {
        var hasFree = true
        if (exc != null && !exc.exhausted) {
          exc.nextGeq(d)
          if (!exc.exhausted && exc.docId == d) {
            val ps = inc.positions()
            val qs = exc.positions()
            hasFree = false
            var i = 0
            var j = 0
            while (i < ps.length && !hasFree) {
              val lo = ps(i) - pre
              val hi = ps(i) + post
              while (j < qs.length && qs(j) < lo) j += 1
              if (j >= qs.length || qs(j) > hi) hasFree = true
              i += 1
            }
          }
        }
        if (hasFree) {
          val dl = lens((d - firstDocId).toInt)
          topk.offer(d, BM25.impact(inc.idf, inc.tf, dl, avgdl))
        }
      }
      inc.nextGeq(d + 1)
    }
    topk.result()
  }

  /** Ordered proximity (`a BEFORE/w b …`, kind ONEAR): conjunction walk
    * like [[topKNear]], but the span must pick strictly INCREASING
    * positions in QUERY order (`slots` arrive in query order, not termId
    * order). Scoring is unchanged: BM25 over the distinct terms — the
    * same filter-doesn't-rescale rule as NEAR/PHRASE. */
  def topKONear(slots: Array[TermCursor], lens: Array[Int], firstDocId: Long,
                avgdl: Double, k: Int, window: Int,
                accept: Long => Boolean = null,
                after: Scored = null): Array[Scored] = {
    if (slots.isEmpty || slots.exists(_.exhausted)) return Array.empty
    val topk = new TopK(k, after)
    val byTermId = slots.sortBy(_.termId)
    var target = slots.map(_.docId).max
    var done = false
    while (!done) {
      var aligned = true
      var i = 0
      while (i < slots.length && !done) {
        slots(i).nextGeq(target)
        if (slots(i).exhausted) done = true
        else if (slots(i).docId > target) { target = slots(i).docId; aligned = false }
        i += 1
      }
      if (!done && aligned) {
        if ((accept == null || accept(target)) &&
            orderedSpan(slots.map(_.positions())) <= window) {
          val dl = lens((target - firstDocId).toInt)
          var score = 0.0
          var j = 0
          while (j < byTermId.length) {
            score += BM25.impact(byTermId(j).idf, byTermId(j).tf, dl, avgdl)
            j += 1
          }
          topk.offer(target, score)
        }
        target += 1
      }
    }
    topk.result()
  }

  /** Intervals query (the Lucene/ES `intervals` algebra: an `ordered`
    * source with `max_gaps`, optionally wrapped in `not_containing`):
    * docs align via the same galloping conjunction as ONEAR over the
    * ordered slots; an aligned doc matches iff some start occurrence's
    * GREEDY ordered chain has ≤ maxGaps non-matching tokens inside the
    * interval AND (when a filter cursor is given) contains no filter
    * occurrence — see [[intervalsMatch]] for why greedy decides the
    * existential exactly. The filter cursor is OPTIONAL per bucket
    * (skip-scanned like span-not's exclude; a doc without it is
    * unfiltered). Scoring is BM25 over the distinct slot terms — the
    * NEAR/PHRASE filter-doesn't-rescale rule; the filter term never
    * scores. */
  def topKIntervals(slots: Array[TermCursor], lens: Array[Int],
                    firstDocId: Long, avgdl: Double, k: Int, maxGaps: Int,
                    not: TermCursor,
                    accept: Long => Boolean = null,
                    after: Scored = null,
                    mustContain: Boolean = false): Array[Scored] = {
    if (slots.isEmpty || slots.exists(_.exhausted)) return Array.empty
    // `containing` mode: a doc without the filter term can never match
    // (some greedy interval must CONTAIN a filter occurrence), so the
    // filter cursor is REQUIRED, not optional
    if (mustContain && (not == null || not.exhausted)) return Array.empty
    val topk = new TopK(k, after)
    val distinctSlots: Array[TermCursor] = {
      val seen = mutable.Set.empty[Long]
      slots.filter(c => seen.add(c.termId)).sortBy(_.termId)
    }
    var target = slots.map(_.docId).max
    var done = false
    while (!done) {
      var aligned = true
      var i = 0
      while (i < slots.length && !done) {
        slots(i).nextGeq(target)
        if (slots(i).exhausted) done = true
        else if (slots(i).docId > target) { target = slots(i).docId; aligned = false }
        i += 1
      }
      if (!done && aligned) {
        if (accept == null || accept(target)) {
          var notPos: Array[Int] = null
          if (not != null && !not.exhausted) {
            not.nextGeq(target)
            if (!not.exhausted && not.docId == target) notPos = not.positions()
          }
          val matched =
            if (mustContain)
              notPos != null &&
                intervalsMatch(slots.map(_.positions()), notPos, maxGaps,
                  mustContain = true)
            else intervalsMatch(slots.map(_.positions()), notPos, maxGaps)
          if (matched) {
            val dl = lens((target - firstDocId).toInt)
            var score = 0.0
            var j = 0
            while (j < distinctSlots.length) {
              score += BM25.impact(distinctSlots(j).idf, distinctSlots(j).tf, dl, avgdl)
              j += 1
            }
            topk.offer(target, score)
          }
        }
        target += 1
      }
    }
    topk.result()
  }

  /** Intervals query with per-slot term ALTERNATIVES (the Lucene/ES
    * `intervals` algebra's `any_of` combinator under an `ordered`
    * source): slot i matches at any position of ANY of its alternative
    * terms, and the ordered chain + gap budget + optional
    * `not_containing` filter evaluate over the per-slot MERGED position
    * lists. Greedy stays exact: [[intervalsMatch]] only assumes each
    * slot's eligible positions form one ascending list, and the union
    * of a slot's alternative position lists is exactly that (two terms
    * can never share a token position). Doc alignment is a conjunction
    * of per-slot disjunctions: a slot's cursor block advances together
    * and the slot's docId is the min over its live cursors. Scoring is
    * the BOOL contract (topKBool): BM25 over every PRESENT distinct
    * alternative term, accumulated in ascending termId order; the
    * filter term never scores. */
  def topKIntervalsAny(slotAlts: Array[Array[TermCursor]], lens: Array[Int],
                       firstDocId: Long, avgdl: Double, k: Int, maxGaps: Int,
                       not: TermCursor,
                       accept: Long => Boolean = null,
                       after: Scored = null): Array[Scored] = {
    if (slotAlts.isEmpty ||
        slotAlts.exists(sa => sa.isEmpty || sa.forall(_.exhausted)))
      return Array.empty
    val topk = new TopK(k, after)
    // one scoring cursor per distinct termId (a term repeated across
    // slots shares its slot instance — same postings, same state)
    val scoreCursors: Array[TermCursor] = {
      val seen = mutable.Set.empty[Long]
      slotAlts.flatten.filter(c => seen.add(c.termId)).sortBy(_.termId)
    }
    var target = slotAlts.map(_.filterNot(_.exhausted).map(_.docId).min).max
    var done = false
    while (!done) {
      var aligned = true
      var i = 0
      while (i < slotAlts.length && !done) {
        val sa = slotAlts(i)
        var slotDoc = Long.MaxValue
        var j = 0
        while (j < sa.length) {
          val c = sa(j)
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
        if (accept == null || accept(target)) {
          var notPos: Array[Int] = null
          if (not != null && !not.exhausted) {
            not.nextGeq(target)
            if (!not.exhausted && not.docId == target) notPos = not.positions()
          }
          val lists = slotAlts.map { sa =>
            val present = sa.filter(c => !c.exhausted && c.docId == target)
            if (present.length == 1) present(0).positions()
            else {
              // merge the alternatives' ascending lists (disjoint by
              // construction — one token holds one term)
              val merged = Array.concat(present.map(_.positions()): _*)
              java.util.Arrays.sort(merged)
              merged
            }
          }
          if (intervalsMatch(lists, notPos, maxGaps)) {
            val dl = lens((target - firstDocId).toInt)
            var score = 0.0
            var j = 0
            while (j < scoreCursors.length) {
              val c = scoreCursors(j)
              if (!c.exhausted && c.docId == target)
                score += BM25.impact(c.idf, c.tf, dl, avgdl)
              j += 1
            }
            topk.offer(target, score)
          }
        }
        target += 1
      }
    }
    topk.result()
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

  /** ∃ p: p+i ∈ positions(slot i) for all i — intersect the stair-cased
    * position lists left to right (all lists ascending, so each step is
    * a linear merge bounded by the shortest list). */
  private def phraseMatches(slots: Array[TermCursor]): Boolean = {
    var cand = slots(0).positions()
    var i = 1
    while (i < slots.length && cand.nonEmpty) {
      val ps = slots(i).positions()
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

  /** Nested-boolean evaluation: document-at-a-time over the union of the
    * query's posting lists. `slots` is indexed by the GLOBAL distinct-term
    * slot order (ascending termId); entries may be null when this bucket
    * has no list for that slot (the term is simply absent here). For each
    * candidate doc the presence vector is evaluated by `eval` (compiled
    * from the BoolQuery AST); matching docs score standard BM25 over
    * their PRESENT query terms — ascending-termId accumulation, so
    * `a AND b` through this walk is bit-identical to topKAnd. */
  def topKBool(slots: Array[TermCursor], lens: Array[Int], firstDocId: Long,
               avgdl: Double, k: Int,
               eval: Array[Boolean] => Boolean,
               accept: Long => Boolean = null,
               after: Scored = null,
               phraseDefs: Array[Array[Int]] = null,
               phraseWins: Array[Int] = null): Array[Scored] = {
    val topk = new TopK(k, after)
    val n = slots.length
    val nPhrases = if (phraseDefs == null) 0 else phraseDefs.length
    val present = new Array[Boolean](n + nPhrases)
    // phrase atoms: slot position arrays captured BEFORE cursors advance
    // (positional cursors only — callers require a positional segment)
    val posArrs = if (nPhrases == 0) null else new Array[Array[Int]](n)
    var anyLive = slots.exists(c => c != null && !c.exhausted)
    while (anyLive) {
      var d = Long.MaxValue
      var i = 0
      while (i < n) {
        val c = slots(i)
        if (c != null && !c.exhausted && c.docId < d) d = c.docId
        i += 1
      }
      java.util.Arrays.fill(present, false)
      val dl = lens((d - firstDocId).toInt)
      var score = 0.0
      i = 0
      anyLive = false
      while (i < n) {
        val c = slots(i)
        if (c != null && !c.exhausted) {
          if (c.docId == d) {
            present(i) = true
            if (posArrs != null) posArrs(i) = c.positions()
            // slots are ascending-termId: deterministic Double sum order
            score += BM25.impact(c.idf, c.tf, dl, avgdl)
            c.next()
          }
          if (!c.exhausted) anyLive = true
        }
        i += 1
      }
      // positional slots extend the presence vector: window 0 = the
      // consecutive-position staircase (phrase), window w ≥ 1 = the
      // minimal-span sweep over distinct-term positions (NEAR), window
      // w ≤ −1 = the ordered sweep with window −w (BEFORE); a def
      // with a missing (-1) slot can never match
      var j = 0
      while (j < nPhrases) {
        val defn = phraseDefs(j)
        val win = if (phraseWins == null) 0 else phraseWins(j)
        var ok = defn.length > 0
        var x = 0
        while (ok && x < defn.length) { ok = defn(x) >= 0 && present(defn(x)); x += 1 }
        present(n + j) = ok && (
          if (win == 0) stairMatch(posArrs, defn)
          else if (win < 0) orderedSpan(defn.map(posArrs)) <= -win
          else minSpan(defn.map(posArrs)) <= win)
        j += 1
      }
      if ((accept == null || accept(d)) && eval(present)) topk.offer(d, score)
    }
    topk.result()
  }

  /** ∃ p: p+i ∈ posArrs(defn(i)) for all i — [[phraseMatches]] over
    * pre-captured position arrays addressed by slot index. */
  private def stairMatch(posArrs: Array[Array[Int]], defn: Array[Int]): Boolean = {
    var cand = posArrs(defn(0))
    var i = 1
    while (i < defn.length && cand.nonEmpty) {
      val ps = posArrs(defn(i))
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

  /** Exhaustive disjunctive evaluation (no pruning) — the safe path for
    * multi-segment reads where stored block maxima are not valid bounds
    * (SURVEY §2.3 I7 note); also the in-bucket oracle for WAND tests. */
  def topKOrExhaustive(terms: Array[TermCursor], lens: Array[Int],
                       firstDocId: Long, avgdl: Double, k: Int,
                       accept: Long => Boolean = null,
                       after: Scored = null): Array[Scored] = {
    val topk = new TopK(k, after)
    val byTermId = terms.sortBy(_.termId)
    var live = byTermId.filter(!_.exhausted)
    while (live.nonEmpty) {
      var d = Long.MaxValue
      var i = 0
      while (i < live.length) { if (live(i).docId < d) d = live(i).docId; i += 1 }
      val dl = lens((d - firstDocId).toInt)
      var score = 0.0
      i = 0
      while (i < live.length) {
        if (live(i).docId == d) { score += BM25.impact(live(i).idf, live(i).tf, dl, avgdl); live(i).next() }
        i += 1
      }
      if (accept == null || accept(d)) topk.offer(d, score)
      live = live.filter(!_.exhausted)
    }
    topk.result()
  }

  /** LM-Dirichlet scoring walk (Zhai & Lafferty SIGIR'01; the exact
    * Lucene LMDirichletSimilarity formulation, which is the pluggable
    * non-BM25 similarity every Lucene/ES deployment can switch to):
    * per matched term, s_t(d) = max(0, ln(1 + tf/(μ·p_t)) +
    * ln(μ/(dl+μ))) with p_t = cf_t/|C| (the collection unigram LM),
    * doc score = Σ_t s_t(d); docs whose every contribution clamps to
    * zero are dropped (Lucene's per-term 0-clamp). An LM score has no
    * per-list upper bound stored in the index (block maxima are BM25
    * impacts), so this walk is document-at-a-time exhaustive over the
    * union — the same plan shape as [[topKOrExhaustive]], same termId
    * pushdown + bucket pruning upstream. */
  def topKLmd(terms: Array[TermCursor], lens: Array[Int], firstDocId: Long,
              k: Int, mu: Double, pByTid: Long => Double,
              accept: Long => Boolean = null,
              after: Scored = null): Array[Scored] = {
    val topk = new TopK(k, after)
    val byTermId = terms.sortBy(_.termId)
    var live = byTermId.filter(!_.exhausted)
    while (live.nonEmpty) {
      var d = Long.MaxValue
      var i = 0
      while (i < live.length) { if (live(i).docId < d) d = live(i).docId; i += 1 }
      val dl = lens((d - firstDocId).toInt)
      val dlTerm = math.log(mu / (dl + mu))
      var score = 0.0
      i = 0
      while (i < live.length) {
        if (live(i).docId == d) {
          val s = math.log(1.0 +
            live(i).tf / (mu * pByTid(live(i).termId))) + dlTerm
          if (s > 0.0) score += s
          live(i).next()
        }
        i += 1
      }
      if (score > 0.0 && (accept == null || accept(d))) topk.offer(d, score)
      live = live.filter(!_.exhausted)
    }
    topk.result()
  }

  /** First `k` matching docIds in docId order, then STOP — the
    * early-termination consumer of index-time sorting (Lucene
    * `IndexSorting` / ES `index.sort`): over an index whose docIds were
    * assigned in a chosen static-field order, the first k matches of a
    * docId-ordered walk ARE the top-k by that sort, and every posting
    * past the k-th match is never decoded. Same document-at-a-time
    * frontier as [[countMatches]]; no doc lengths, no scoring. */
  def firstK(slots: Array[TermCursor], eval: Array[Boolean] => Boolean,
             k: Int): Array[Long] = {
    require(k >= 1, s"firstK needs k >= 1, got $k")
    val n = slots.length
    val present = new Array[Boolean](n)
    // grow lazily: k is an upper bound, not a size hint (callers may
    // pass a huge cap to mean "the whole match set")
    val out = new scala.collection.mutable.ArrayBuffer[Long](math.min(k, 64))
    var found = 0
    var anyLive = slots.exists(c => c != null && !c.exhausted)
    while (anyLive && found < k) {
      var d = Long.MaxValue
      var i = 0
      while (i < n) {
        val c = slots(i)
        if (c != null && !c.exhausted && c.docId < d) d = c.docId
        i += 1
      }
      java.util.Arrays.fill(present, false)
      i = 0
      anyLive = false
      while (i < n) {
        val c = slots(i)
        if (c != null && !c.exhausted) {
          if (c.docId == d) { present(i) = true; c.next() }
          if (!c.exhausted) anyLive = true
        }
        i += 1
      }
      if (eval(present)) { out += d; found += 1 }
    }
    out.toArray
  }

  /** Capped presence count over one bucket — the early-termination
    * primitive behind `terminate_after` / `track_total_hits: N`. Same
    * document-at-a-time union walk and presence vector as [[topKBool]]
    * (positional atoms included) but with NO doc lengths and NO scoring,
    * and the walk RETURNS as soon as `cap` matches are seen — per-bucket
    * work is bounded by the cap, not by the match-set size. */
  def countMatches(slots: Array[TermCursor],
                   eval: Array[Boolean] => Boolean, cap: Long,
                   phraseDefs: Array[Array[Int]] = null,
                   phraseWins: Array[Int] = null): Long = {
    val n = slots.length
    val nPhrases = if (phraseDefs == null) 0 else phraseDefs.length
    val present = new Array[Boolean](n + nPhrases)
    val posArrs = if (nPhrases == 0) null else new Array[Array[Int]](n)
    var count = 0L
    var anyLive = slots.exists(c => c != null && !c.exhausted)
    while (anyLive && count < cap) {
      var d = Long.MaxValue
      var i = 0
      while (i < n) {
        val c = slots(i)
        if (c != null && !c.exhausted && c.docId < d) d = c.docId
        i += 1
      }
      java.util.Arrays.fill(present, false)
      i = 0
      anyLive = false
      while (i < n) {
        val c = slots(i)
        if (c != null && !c.exhausted) {
          if (c.docId == d) {
            present(i) = true
            if (posArrs != null) posArrs(i) = c.positions()
            c.next()
          }
          if (!c.exhausted) anyLive = true
        }
        i += 1
      }
      var j = 0
      while (j < nPhrases) {
        val defn = phraseDefs(j)
        val win = if (phraseWins == null) 0 else phraseWins(j)
        var ok = defn.length > 0
        var x = 0
        while (ok && x < defn.length) { ok = defn(x) >= 0 && present(defn(x)); x += 1 }
        present(n + j) = ok && (
          if (win == 0) stairMatch(posArrs, defn)
          else if (win < 0) orderedSpan(defn.map(posArrs)) <= -win
          else minSpan(defn.map(posArrs)) <= win)
        j += 1
      }
      if (eval(present)) count += 1
    }
    count
  }

  /** Disjunction-max evaluation (the Lucene DisjunctionMaxQuery
    * combiner): per-doc score = best single-term BM25 contribution plus
    * `tie` times the sum of the remaining contributions — tie = 0 is the
    * pure max ("best field" reading), tie = 1 degrades to the plain
    * disjunctive sum. Exhaustive document-at-a-time walk (same shape as
    * [[topKOrExhaustive]]); for tie ≤ 1 the dis-max score is bounded by
    * the plain sum, so the stored block maxima WOULD remain sound
    * bounds, but the combiner is cheap enough that the exhaustive walk
    * (the msm / common-terms regime) keeps this path simple.
    *
    * Determinism: contributions accumulate in ascending termId order
    * (`terms` pre-sorted below); max is order-independent. */
  def topKDisMax(terms: Array[TermCursor], lens: Array[Int],
                 firstDocId: Long, avgdl: Double, k: Int, tie: Double,
                 accept: Long => Boolean = null,
                 after: Scored = null): Array[Scored] = {
    val topk = new TopK(k, after)
    val byTermId = terms.sortBy(_.termId)
    var live = byTermId.filter(!_.exhausted)
    while (live.nonEmpty) {
      var d = Long.MaxValue
      var i = 0
      while (i < live.length) { if (live(i).docId < d) d = live(i).docId; i += 1 }
      val dl = lens((d - firstDocId).toInt)
      var sum = 0.0
      var best = 0.0
      i = 0
      while (i < live.length) {
        if (live(i).docId == d) {
          val c = BM25.impact(live(i).idf, live(i).tf, dl, avgdl)
          sum += c
          if (c > best) best = c
          live(i).next()
        }
        i += 1
      }
      if (accept == null || accept(d)) topk.offer(d, best + tie * (sum - best))
      live = live.filter(!_.exhausted)
    }
    topk.result()
  }
}
