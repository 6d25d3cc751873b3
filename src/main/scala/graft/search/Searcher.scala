package graft.search

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.build.Segment
import graft.model._
import graft.tokenize.Tokenizer

/** Flat boolean/free-text query parsing — SURVEY §2.4 Q1. Grammar pinned
  * in FIXTURES.md: `t AND t AND …`, `t OR t OR …`, else free text (bag of
  * words, BM25-ranked = OR). Query text goes through the SAME tokenizer
  * as documents (the uppercase connectives tokenize away). */
object QueryParser {
  /** Split on BOTH uppercase connectives: a mixed query like
    * `a AND b OR c` is classified OR (disjunction is the safe reading of
    * a flat grammar), and the embedded AND is grammar that must not
    * tokenize into the search term "and" — stripping only the
    * classifying connective would silently change query semantics. */
  private def operandTerms(t: String): Array[String] =
    t.split("\\s+(?:AND|OR)\\s+").flatMap(Tokenizer.tokenize).distinct.sorted

  private val NearRe = "\\s+NEAR/(\\d+)\\s+".r
  private val BeforeRe = "\\s+BEFORE/(\\d+)\\s+".r
  // any single digit: fuzzyDist clamps to 2, so `word~3` still parses
  // FUZZY (at the cap) instead of silently degrading to free text
  private val FuzzyRe = "[^\\s\"~]+~[0-9]".r

  def parse(text: String): (String, Array[String]) = {
    val t = text.trim
    if (t.length > 1 && t.startsWith("\"") && t.endsWith("\""))
      ("PHRASE", termsFor("PHRASE", t))
    else if (NearRe.findFirstIn(t).isDefined)
      ("NEAR", termsFor("NEAR", t))
    else if (BeforeRe.findFirstIn(t).isDefined)
      ("ONEAR", termsFor("ONEAR", t))
    else if (t.startsWith("re:")) // before PREFIX: a pattern may end in *
      ("REGEX", Array(t.stripPrefix("re:").trim))
    else if (t.startsWith("stem:")) // stemmed match: expansion kind STEM
      ("STEM", termsFor("STEM", t))
    else if (t.endsWith("*") && !t.dropRight(1).contains("*") &&
      !t.contains("?") && !t.contains(" "))
      ("PREFIX", termsFor("PREFIX", t))
    else if (!t.contains(" ") && t.exists(c => c == '*' || c == '?') &&
      t.exists(c => c != '*' && c != '?'))
      // general wildcard (Lucene WildcardQuery): `f*st`, `te?t`, `*fix` —
      // any glob that isn't the PREFIX fast path; an all-wildcard token
      // (`*`, `??`) falls through to free text (no whole-dict expansion)
      ("WILD", termsFor("WILD", t))
    else if (FuzzyRe.matches(t)) // one bare word + ~d (Lucene FuzzyQuery)
      ("FUZZY", termsFor("FUZZY", t))
    else if (BoolQuery.isNested(t))
      // parens or mixed AND/OR: the nested grammar (precedence: AND binds
      // tighter than OR). Malformed nesting (unbalanced parens pasted
      // from code) falls back to free text rather than erroring.
      try ("BOOL", termsFor("BOOL", t))
      catch { case _: IllegalArgumentException => ("FREE", Tokenizer.queryTerms(t)) }
    else if (t.split("\\s+AND\\s+").length > 1 && !t.contains(" OR "))
      ("AND", operandTerms(t))
    else if (t.split("\\s+OR\\s+").length > 1)
      ("OR", operandTerms(t))
    else ("FREE", Tokenizer.queryTerms(t))
  }

  private val FieldRe = "^(lang|repo|len|path):(\\S+)$".r

  /** Extract fielded atoms (`lang:v`, `repo:v`) from a query; returns
    * (fields, remaining query text). `repo:` maps to the contiguous
    * docId-range scope (X7); `lang:` to the docmap bitset filter;
    * `path:` is a glob over the docmap path (LIKE-translated, the
    * code-search `file:`/`path:` atom). A field repeated last-wins;
    * atoms can sit anywhere in the query. */
  def parseFields(text: String): (Map[String, String], String) = {
    val parts = text.trim.split("\\s+").filter(_.nonEmpty)
    val fields = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val rest = new StringBuilder
    parts.foreach {
      case FieldRe(f, v) => fields(f) = v
      case w => if (rest.nonEmpty) rest += ' '; rest ++= w
    }
    (fields.toMap, rest.toString)
  }

  /** Default NEAR window when kind "NEAR" is forced on text that has no
    * `NEAR/w` connective (e.g. a Query fixture) — adjacent-token span. */
  final val DefaultNearWindow = 1

  /** Edit-distance bound of a FUZZY query (`sow~1`): the trailing `~d`
    * digit, clamped to [0, 2] (the Lucene FuzzyQuery cap — wider bounds
    * expand to most of the vocabulary and stop meaning "typo").
    * Defaults to 1 when kind "FUZZY" is forced on suffix-free text. */
  def fuzzyDist(text: String): Int = {
    val m = "~([0-9])\\s*$".r.findFirstMatchIn(text.trim)
    m.map(x => math.min(2, x.group(1).toInt)).getOrElse(1)
  }

  /** Window of a NEAR query: the max w over `NEAR/w` connectives (flat
    * grammar — one window governs the whole term set). Falls back to
    * [[DefaultNearWindow]] instead of throwing on connective-free text. */
  def nearWindow(text: String): Int = {
    val ws = NearRe.findAllMatchIn(text).map(_.group(1).toInt)
    if (ws.isEmpty) DefaultNearWindow else ws.max
  }

  /** Window of an ordered-proximity query (`a BEFORE/w b`): max w over
    * `BEFORE/w` connectives, same default rule as [[nearWindow]]. */
  def orderedWindow(text: String): Int = {
    val ws = BeforeRe.findAllMatchIn(text).map(_.group(1).toInt)
    if (ws.isEmpty) DefaultNearWindow else ws.max
  }

  /** Terms of a query whose kind is already known: the uppercase
    * connective is grammar, not a term, and must never be tokenized into
    * one (an AND query would otherwise short-circuit to ∅ on the
    * out-of-vocabulary token "and"). PHRASE terms keep document order
    * and duplicates — they are position slots, not a bag. */
  private val BoostSufRe = "(.*)\\^(\\d+(?:\\.\\d+)?)".r

  /** Peel a numeric `^b` boost suffix off one query word (`merge^2` →
    * ("merge", 2.0)); words without one weigh 1.0. The tokenizer already
    * DROPS the suffix from term extraction (`^` is a separator and the
    * number a filtered piece), so only weight extraction lives here. */
  def splitBoost(w: String): (String, Double) = w match {
    case BoostSufRe(body, b) if body.nonEmpty && !body.startsWith("re:") =>
      (body, b.toDouble)
    case _ => (w, 1.0)
  }

  /** Query-time term weights (`merge^2 sort^0.5`) for the kinds that
    * support them: FREE/AND/OR peel per-word suffixes (every tokenizer
    * piece of a boosted word inherits its weight); BOOL delegates to the
    * grammar's [[BoolQuery.boostMaps]] fixed-term map (pattern-leaf
    * weights need per-segment expansion — callers combine those
    * separately). A term mentioned several times takes the MAX weight,
    * an unboosted mention counting 1.0; entries at exactly 1.0 are
    * pruned, so an empty map means "no boosts". */
  def boosts(kind: String, text: String): Map[String, Double] = kind match {
    case "FREE" | "AND" | "OR" =>
      // per-WORD suffixes (boost binds to the preceding word, not to a
      // whole multi-word operand); the uppercase connectives are grammar
      val words = text.trim.split("\\s+").filter(w => w != "AND" && w != "OR")
      val m = scala.collection.mutable.Map.empty[String, Double]
      words.foreach { w0 =>
        val (body, b) = splitBoost(w0.trim)
        Tokenizer.tokenize(body).foreach(t =>
          m(t) = math.max(m.getOrElse(t, 0.0), b))
      }
      m.filter(_._2 != 1.0).toMap
    case "BOOL" => BoolQuery.boostMaps(BoolQuery.parse(text))._1
    case _ => Map.empty
  }

  /** Ordered intervals slots with `any_of` alternatives: slots are
    * whitespace-separated, alternatives within a slot are separated by
    * `|` (the Lucene intervals `any_of` combinator), each alternative
    * normalized through the tokenizer and required to stay ONE term
    * (an alternative is a dictionary atom, not a phrase). Duplicate
    * alternatives within a slot collapse. */
  def intervalsAnySlots(text: String): Array[Array[String]] =
    text.trim.split("\\s+").filter(_.nonEmpty).map { slot =>
      val alts = slot.split('|').filter(_.nonEmpty).map { alt =>
        val ts = Tokenizer.tokenize(alt)
        require(ts.length == 1,
          s"intervals any_of alternative must be one term, got '$alt'")
        ts.head
      }.distinct
      require(alts.nonEmpty, s"empty any_of slot in '$text'")
      alts
    }

  def termsFor(kind: String, text: String): Array[String] = kind match {
    case "AND" | "OR" => operandTerms(text)
    case "PHRASE" => Tokenizer.tokenize(text.trim.stripPrefix("\"").stripSuffix("\""))
    case "NEAR" =>
      text.trim.split("\\s+NEAR/\\d+\\s+").flatMap(Tokenizer.tokenize).distinct.sorted
    case "ONEAR" =>
      // ordered proximity: operand ORDER is the match constraint — never
      // sorted; a repeated term is rejected (slots must pick distinct
      // positions, which the one-cursor-per-term walk cannot express)
      val ts = text.trim.split("\\s+BEFORE/\\d+\\s+").flatMap(Tokenizer.tokenize)
      require(ts.distinct.length == ts.length,
        s"ONEAR requires distinct terms, got ${ts.mkString(" ")}")
      ts
    case "PREFIX" =>
      // normalize through the tokenizer's boundary rules: dictionary
      // terms are post-split lowercase pieces, so a prefix containing
      // split chars (underscores, camel humps, digit boundaries) could
      // never match raw — the LAST unfiltered piece is the live prefix
      // (e.g. `get_val*` expands terms starting with "val")
      val pieces = Tokenizer.tokenizeUnfiltered(text.trim.stripSuffix("*"))
      Array(if (pieces.isEmpty) "" else pieces.last)
    case "REGEX" => Array(text.trim.stripPrefix("re:").trim)
    case "WILD" =>
      // wildcard desugars to an anchored regex (Lucene WildcardQuery runs
      // the same automaton as RegexpQuery over the translated glob):
      // `*` → `.*`, `?` → `.`, everything else quoted. The operand stays
      // raw-lowercase like REGEX — glob metachars make tokenizer-boundary
      // normalization ambiguous, so the pattern matches post-split
      // dictionary terms as written.
      Array(QueryParser.globToRegex(text.trim.toLowerCase))
    case "FUZZY" =>
      // same normalization rule as PREFIX: dictionary terms are
      // post-split lowercase pieces, so the operand must be one too
      val body = text.trim.replaceAll("~[0-9]\\s*$", "")
      val pieces = Tokenizer.tokenizeUnfiltered(body)
      Array(if (pieces.isEmpty) "" else pieces.last)
    case "STEM" =>
      // PREFIX/FUZZY normalization: the operand must be a post-split
      // lowercase piece before it can stem against dictionary terms
      val body = text.trim.stripPrefix("stem:")
      val pieces = Tokenizer.tokenizeUnfiltered(body)
      Array(if (pieces.isEmpty) "" else pieces.last)
    case "BOOL" => BoolQuery.terms(BoolQuery.parse(text))
    case _ => Tokenizer.queryTerms(text)
  }

  /** Glob → anchored-regex translation: `*` → `.*`, `?` → `.`, every
    * other character regex-quoted. One shared rewrite so WILD rides the
    * REGEX machinery identically on every read tier (relational,
    * serving, multi-segment, percolator, boolean atoms). */
  def globToRegex(glob: String): String = {
    val sb = new StringBuilder(glob.length + 8)
    glob.foreach {
      case '*' => sb.append(".*")
      case '?' => sb.append('.')
      case c if "\\^$.|+()[]{}".indexOf(c.toInt) >= 0 =>
        sb.append('\\').append(c)
      case c => sb.append(c)
    }
    sb.toString
  }

  /** Glob → SQL LIKE pattern (`*`→`%`, `?`→`_`, LIKE metacharacters
    * escaped with `\`) — the `path:` atom's docmap predicate, shared
    * with the DuckDB twin so both engines filter identically. */
  def globToLike(glob: String): String = {
    val sb = new StringBuilder(glob.length + 8)
    glob.foreach {
      case '*' => sb.append('%')
      case '?' => sb.append('_')
      case c if c == '%' || c == '_' || c == '\\' =>
        sb.append('\\').append(c)
      case c => sb.append(c)
    }
    sb.toString
  }
}

/** Query evaluation over one built segment — SURVEY.md §3 EP2.
  *
  * Plan shape: postings scan filtered to the query's termIds (parquet
  * predicate pushdown when the segment is on disk) → collect the touched
  * bucket ids (tiny job) → cogroup with ONLY those buckets' doc-length
  * blocks → per-bucket block-max WAND / intersection walk emitting ≤k
  * hits → global `orderBy(score desc, docId).limit(k)` which Catalyst
  * plans as TakeOrderedAndProject. The heavy posting bytes never shuffle:
  * only ≤|q| posting rows per touched bucket move.
  */
// NOT Serializable on purpose: it holds a SparkSession, and the walk
// lambdas below close over locals only — the marker would invite an
// accidental whole-object capture later.
final class Searcher(spark: SparkSession, segment: Segment,
                     residentDoclens: Boolean = true) {
  import spark.implicits._

  private val stats: CorpusStats = segment.stats

  /** Vocabularies up to this size are cached driver-side so repeated
    * queries skip the dict-scan job entirely (a serving-layer would hold
    * the term dictionary resident; 2^20 entries ≈ tens of MB). */
  private val DictCacheLimit = 1L << 20
  private lazy val dictCache: Option[Map[String, DictEntry]] =
    if (stats.numTerms <= DictCacheLimit)
      Some(segment.dict.collect().map(e => e.term -> e).toMap)
    else None

  /** Dict lookup for query terms: cached map, or a filtered scan
    * returning ≤|q| rows (broadcast-join equivalent at this cardinality). */
  def dictLookup(terms: Array[String]): Array[DictEntry] =
    if (terms.isEmpty) Array.empty
    else dictCache match {
      case Some(m) => terms.flatMap(m.get).sortBy(_.termId)
      case None =>
        segment.dict.filter($"term".isin(terms.toSeq: _*)).collect().sortBy(_.termId)
    }

  /** Prefix expansion: every dictionary term starting with `prefix`,
    * capped DETERMINISTICALLY at `maxExpansion` in term (= termId) sort
    * order — at corpus scale an unbounded wildcard could expand to
    * millions of lists. The dict is term-sorted, so the uncached scan is
    * a contiguous range (parquet min/max prunes it). */
  def dictLookupPrefix(prefix: String, maxExpansion: Int = Searcher.MaxExpansion): Array[DictEntry] =
    if (prefix.isEmpty) Array.empty // `*` alone must not expand the whole dict
    else (dictCache match {
      case Some(m) => m.valuesIterator.filter(_.term.startsWith(prefix)).toArray
      case None => segment.dict.filter($"term".startsWith(prefix)).collect()
    }).sortBy(_.termId).take(maxExpansion)

  /** Term-range expansion (Lucene TermRangeQuery, `[lo TO hi]`
    * inclusive): every vocabulary term in the string interval. The
    * dictionary is term-sorted with termIds dense in term order (I1),
    * so this is a CONTIGUOUS dictionary range scan like PREFIX — and
    * the same deterministic cap in termId order applies. */
  def dictLookupRange(lo: String, hi: String,
                      maxExpansion: Int = Searcher.MaxExpansion): Array[DictEntry] = {
    require(lo <= hi, s"term range needs lo <= hi, got [$lo, $hi]")
    (dictCache match {
      case Some(m) => m.valuesIterator
        .filter(e => e.term >= lo && e.term <= hi).toArray
      case None => segment.dict.filter($"term" >= lo && $"term" <= hi).collect()
    }).sortBy(_.termId).take(maxExpansion)
  }

  /** Regex expansion (anchored full-term match), same deterministic cap
    * as prefix. Unlike prefix there is no contiguous dict range — the
    * uncached path is a full dictionary scan (dictionary-sized, not
    * corpus-sized: the vocabulary is the small artifact by design). */
  def dictLookupRegex(pattern: String, maxExpansion: Int = Searcher.MaxExpansion): Array[DictEntry] = {
    val re = java.util.regex.Pattern.compile(pattern)
    (dictCache match {
      case Some(m) => m.valuesIterator.filter(e => re.matcher(e.term).matches()).toArray
      case None => segment.dict.filter($"term".rlike("^(?:" + pattern + ")$")).collect()
    }).sortBy(_.termId).take(maxExpansion)
  }

  /** Fuzzy expansion (Lucene FuzzyQuery): every vocabulary term within
    * `maxDist` Levenshtein edits of `word`, capped DETERMINISTICALLY at
    * `maxExpansion` in termId order like prefix/regex expansion. A
    * dictionary-sized scan with a length-band prefilter before any DP
    * runs — the vocabulary is the small artifact by design. */
  def dictLookupFuzzy(word: String, maxDist: Int,
                      maxExpansion: Int = Searcher.MaxExpansion): Array[DictEntry] = {
    val w = word.trim.toLowerCase
    if (w.isEmpty) return Array.empty
    val vocab = dictCache match {
      case Some(m) => m.valuesIterator
      case None => segment.dict
        .filter(abs(length($"term") - lit(w.length)) <= maxDist)
        .collect().iterator
    }
    Searcher.fuzzyExpand(vocab, w, maxDist, maxExpansion)
  }

  /** Stemmed expansion (kind STEM): vocabulary terms sharing the
    * operand's S-stem, capped like every expansion. A dictionary-sized
    * scan (the vocabulary is the small artifact by design); the uncached
    * path can prune to terms within 3 chars of the stem's length — an
    * S-stem changes length by at most 2. */
  def dictLookupStem(word: String,
                     maxExpansion: Int = Searcher.MaxExpansion): Array[DictEntry] = {
    val w = word.trim.toLowerCase
    if (w.isEmpty) return Array.empty
    val target = Stem.sStem(w)
    val vocab = dictCache match {
      case Some(m) => m.valuesIterator
      case None => segment.dict
        .filter(abs(length($"term") - lit(target.length)) <= 3)
        .collect().iterator
    }
    Stem.expand(vocab, w, maxExpansion)
  }

  /** "Did you mean": vocabulary terms within `maxDist` Levenshtein edit
    * distance of `word`, ranked (df desc, term asc) — the zero-hit
    * recovery surface. A dictionary-sized scan like regex expansion
    * (the vocabulary is the small artifact by design); a length band
    * prunes before any distance is computed, and the DP itself
    * early-exits when a row's minimum exceeds the bound. */
  def suggest(word: String, k: Int, maxDist: Int = 1): Array[(String, Long)] =
    suggestEntries(word, k, maxDist).map(e => e.term -> e.df)

  private def suggestEntries(word: String, k: Int,
                             maxDist: Int): Array[DictEntry] = {
    val w = word.trim.toLowerCase
    if (w.isEmpty) return Array.empty
    val band = (e: DictEntry) => math.abs(e.term.length - w.length) <= maxDist
    val cands = (dictCache match {
      case Some(m) => m.valuesIterator.filter(band).toArray
      case None => segment.dict
        .filter(abs(length($"term") - lit(w.length)) <= maxDist).collect()
    }).filter(e => Searcher.editDistance(e.term, w, maxDist) <= maxDist)
    cands.sortBy(e => (-e.df, e.term)).take(k)
  }

  /** Total corpus token count Σcf — equal to ΣdocLen by the build
    * invariant, computed exactly (Long) from the dictionary. */
  private lazy val totalCf: Long = dictCache match {
    case Some(m) => m.valuesIterator.map(_.cf).sum
    case None => segment.dict.agg(sum($"cf")).collect().head.getLong(0)
  }

  /** Phrase suggester (the Elasticsearch phrase-suggest surface —
    * multi-word "did you mean"): per query token, the top `perTok`
    * vocabulary candidates within edit distance `maxDist` ranked by the
    * [[suggest]] contract (df desc, term asc; a token with no candidate
    * survives as itself — the JM smoothing prices its absence); the
    * cartesian candidate phrases are then ranked by their log-likelihood
    * under the Jelinek-Mercer-smoothed unigram corpus LM (the
    * Curation.lmPerplexity model over the INDEX dictionary's cf):
    * score = Σ ln(λ·cf(t)/Σcf + (1−λ)/V), floor-rounded at 6 dp, ties
    * broken by suggestion text. Everything is dictionary-sized
    * driver-side work — the X22 suggest regime; the candidate space is
    * bounded by perTok^|q| (|q| capped at 8, perTok at 4).
    *
    * The edit metric is DuckDB's `levenshtein` and the LM is portable
    * arithmetic over exact integers, so the twin is exact. */
  def suggestPhrase(text: String, n: Int, maxDist: Int = 1,
                    perTok: Int = 3, lambda: Double = 0.9)
      : Array[(String, Double)] = {
    require(perTok >= 1 && perTok <= 4 && n >= 1, "phrase-suggest bounds")
    val toks = Tokenizer.tokenize(text)
    if (toks.isEmpty) return Array.empty
    require(toks.length <= 8,
      s"phrase suggestions are for short queries (got ${toks.length} tokens)")
    val total = totalCf.toDouble
    val v = segment.stats.numTerms.toDouble
    def lnP(cf: Long): Double =
      math.log(lambda * cf / total + (1.0 - lambda) / v)
    val cands: Array[Array[(String, Long)]] = toks.map { t =>
      val es = suggestEntries(t, perTok, maxDist)
      if (es.isEmpty) Array(t -> 0L) else es.map(e => e.term -> e.cf)
    }
    val phrases = cands.foldLeft(Array(("", 0.0))) { (acc, cs) =>
      for { (p, s) <- acc; (t, cf) <- cs }
        yield (if (p.isEmpty) t else s"$p $t", s + lnP(cf))
    }
    phrases
      .map { case (p, s) => (p, math.floor(s * 1e6 + 0.5) / 1e6) }
      .sortBy { case (p, s) => (-s, p) }
      .take(n)
  }

  /** Autocomplete (the search-box typeahead surface): vocabulary terms
    * starting with `prefix`, ranked (df desc, term asc) — most-used
    * completions first, the inverse of suggest's recovery ranking but
    * the same popularity contract. The operand normalizes through the
    * tokenizer's boundary rules exactly like PREFIX queries (dictionary
    * terms are post-split lowercase pieces — the LAST unfiltered piece
    * is the live prefix, so `get_val` completes "val"). Scale: the dict
    * is term-sorted, so the uncached scan is a contiguous range (parquet
    * min/max prunes it); dictionary-sized at worst, never corpus-sized. */
  def complete(prefix: String, k: Int): Array[(String, Long)] = {
    val pieces = graft.tokenize.Tokenizer.tokenizeUnfiltered(prefix.trim.stripSuffix("*"))
    val p = if (pieces.isEmpty) "" else pieces.last
    if (p.isEmpty) return Array.empty // bare `*` must not rank the whole dict
    val cands = dictCache match {
      case Some(m) => m.valuesIterator.filter(_.term.startsWith(p)).toArray
      case None => segment.dict.filter($"term".startsWith(p)).collect()
    }
    cands.sortBy(e => (-e.df, e.term)).take(k).map(e => e.term -> e.df)
  }

  /** More-like-this term selection (the Lucene MoreLikeThis family): the
    * `m` most informative in-vocabulary terms of `seedText`, ordered by
    * (tf/df desc, term asc). The selection weight is deliberately tf/df,
    * NOT tf·idf: a ratio of two small exact integers is a correctly
    * rounded IEEE division and therefore BIT-IDENTICAL in every engine,
    * whereas ln() may differ at the last ulp across libms and flip a
    * boundary tie — and df is a monotone inverse of idf, so for equal tf
    * the ordering is the tf·idf ordering anyway. Out-of-vocabulary seed
    * terms carry no signal and are dropped. The caller runs the returned
    * terms as a FREE query (BM25-ranked disjunction), excluding the seed
    * document itself. */
  def mltTerms(seedText: String, m: Int): Array[String] = {
    // raw token stream, NOT queryTerms: queryTerms dedupes (a query has
    // no use for repeats), but MLT's whole signal is the seed's tf
    val toks = graft.tokenize.Tokenizer.tokenize(seedText)
    val tf = toks.groupBy(identity).map { case (t, g) => t -> g.length }
    dictLookup(tf.keys.toArray.sorted)
      .map(e => (tf(e.term).toDouble / e.df, e.term))
      .sortBy { case (w, t) => (-w, t) }
      .take(m).map(_._2)
  }

  /** Per-bucket docId bitsets for a docmap field predicate — the
    * fielded-query filter (`lang:scala`). Built once per (field, value)
    * and broadcast; bucket-local bitsets are computed executor-side in a
    * mapGroups, then collected as ≤ bucketSize/8-byte blocks (driver
    * residency is numDocs/8 bytes — the same regime as the resident
    * doclens; past DoclenResidentLimit a cogroup-style distribution of
    * these blocks is the scale path, like doclens). */
  private val filterCache =
    scala.collection.concurrent.TrieMap
      .empty[(String, String), org.apache.spark.broadcast.Broadcast[Map[Int, Array[Long]]]]

  private[search] def docFilter(field: String, value: String)
      : org.apache.spark.broadcast.Broadcast[Map[Int, Array[Long]]] =
    filterCache.getOrElseUpdate((field, value),
      bitsetBlocks(segment.docs.filter(col(field) === value).select($"docId").as[Long]))

  /** Bitset filter over an arbitrary docmap predicate, cached by `tag`
    * (callers must make the tag a faithful key for the predicate) — the
    * generalization of [[docFilter]] behind numeric range atoms
    * (`len:lo..hi`) and composed field constraints. Same residency
    * regime as docFilter. */
  private[search] def docFilterWhere(tag: String,
                                     pred: org.apache.spark.sql.Column)
      : org.apache.spark.broadcast.Broadcast[Map[Int, Array[Long]]] =
    filterCache.getOrElseUpdate(("__where", tag),
      bitsetBlocks(segment.docs.filter(pred).select($"docId").as[Long]))

  /** Top-k restricted to docs whose docmap row satisfies `pred` —
    * fielded queries generalized to arbitrary (e.g. numeric range)
    * constraints. Scores keep GLOBAL corpus statistics, the filter is a
    * bitset probe inside the walks, exactly like [[fieldedHits]]. */
  def predFieldedHits(kind: String, text: String, k: Int, tag: String,
                      pred: org.apache.spark.sql.Column,
                      qid: Long = 0L): Dataset[Hit] =
    hitsImpl(kind, text, k, qid,
      acceptB = docFilterWhere(tag, pred))

  /** Per-bucket bitset blocks over an arbitrary docId set — the shared
    * mechanism behind field filters and tombstones. Bucket-local bitsets
    * are computed executor-side; driver residency is ≤ numDocs/8 bytes
    * (the resident-doclens regime; cogroup distribution of the blocks is
    * the stated 100 TB path, like doclens). */
  private def bitsetBlocks(ids: Dataset[Long])
      : org.apache.spark.broadcast.Broadcast[Map[Int, Array[Long]]] =
    spark.sparkContext.broadcast(ServingSearcher.idBitsets(segment, ids))

  /** Tombstone bitsets (LSM live deletes): built once per tag and probed
    * inside every walk as a REJECT filter — a deleted doc is skipped
    * before scoring/offering. Global statistics (idf, avgdl, N) keep the
    * pre-delete values until a merge-time purge rewrites the segment
    * (SegmentMerger.purge) — the standard live-delete posture: filters
    * don't rescale, compaction does. */
  private val tombstoneCache =
    scala.collection.concurrent.TrieMap
      .empty[String, org.apache.spark.broadcast.Broadcast[Map[Int, Array[Long]]]]

  private[search] def tombstoneFilter(tag: String, deleted: => Dataset[Long])
      : org.apache.spark.broadcast.Broadcast[Map[Int, Array[Long]]] =
    tombstoneCache.getOrElseUpdate(tag, bitsetBlocks(deleted))

  /** Top-k hits for a query. kind ∈ {AND, OR, FREE, PHRASE, NEAR,
    * PREFIX}; OR/FREE rank by BM25 with block-max WAND pruning; AND
    * intersects then ranks; PHRASE/NEAR (positional segments only)
    * intersect with consecutive-position / minimal-span verification
    * then rank like AND; PREFIX expands against the dictionary and
    * ranks like OR. */
  def hits(kind: String, text: String, k: Int, qid: Long = 0L): Dataset[Hit] =
    hitsImpl(kind, text, k, qid)

  /** search_after pagination: the next k hits STRICTLY after the cursor
    * `(afterScore, afterDocId)` in (score desc, docId asc) order — page
    * N+1 given page N's last hit. O(k) heap memory per page at any
    * depth (the predecessors are filtered at offer inside the walks,
    * never buffered), the posture deep paging needs at corpus scale
    * where `hits(offset + k)` would buffer the whole prefix. */
  def hitsAfter(kind: String, text: String, k: Int, afterScore: Double,
                afterDocId: Long, qid: Long = 0L): Dataset[Hit] =
    hitsImpl(kind, text, k, qid,
      after = Wand.Scored(afterDocId, afterScore))

  /** Fielded query + search_after cursor — filters and paging compose. */
  def fieldedHitsAfter(kind: String, text: String, k: Int, field: String,
                       value: String, afterScore: Double, afterDocId: Long,
                       qid: Long = 0L): Dataset[Hit] =
    hitsImpl(kind, text, k, qid,
      acceptB = docFilter(field, value),
      after = Wand.Scored(afterDocId, afterScore))

  /** Top-k restricted to docs whose docmap `field` equals `value` —
    * fielded queries (`lang:x terms…`). Scores keep GLOBAL corpus
    * statistics (standard filter-doesn't-rescale semantics); the filter
    * is pushed into the per-bucket walks as a bitset probe, so no
    * separate filter pass or join runs. */
  def fieldedHits(kind: String, text: String, k: Int, field: String,
                  value: String, qid: Long = 0L): Dataset[Hit] =
    hitsImpl(kind, text, k, qid,
      acceptB = docFilter(field, value))

  /** Fielded + scoped combined: docId-range view AND docmap filter. */
  def scopedFieldedHits(kind: String, text: String, k: Int, lo: Long,
                        hi: Long, field: String, value: String,
                        qid: Long = 0L): Dataset[Hit] =
    hitsImpl(kind, text, k, qid, lo = lo, hi = hi,
      acceptB = docFilter(field, value))

  /** Top-k with a tombstone set excluded — live deletes before the next
    * purge. Scores keep the segment's (pre-delete) global statistics;
    * the exclusion is a per-bucket bitset probe inside the walks, built
    * once per `tag` and reused across queries (a serving tier holds the
    * live-delete bitset resident exactly like this). */
  def deletedHits(kind: String, text: String, k: Int, tag: String,
                  deleted: => Dataset[Long], qid: Long = 0L): Dataset[Hit] =
    hitsImpl(kind, text, k, qid,
      rejectB = tombstoneFilter(tag, deleted))

  /** Fielded query with tombstones excluded — filters compose. */
  def fieldedDeletedHits(kind: String, text: String, k: Int, field: String,
                         value: String, tag: String,
                         deleted: => Dataset[Long], qid: Long = 0L): Dataset[Hit] =
    hitsImpl(kind, text, k, qid,
      acceptB = docFilter(field, value),
      rejectB = tombstoneFilter(tag, deleted))

  /** Disjunctive top-k through the MaxScore pruning strategy
    * (Wand.topKMaxScore) instead of block-max WAND — identical results
    * by construction; kept as an independently-pruned cross-check and
    * for bound-shape comparisons. Non-OR kinds fall back to their
    * ordinary walks. */
  def hitsMaxScore(kind: String, text: String, k: Int, qid: Long = 0L): Dataset[Hit] =
    hitsImpl(kind, text, k, qid, QueryPlan.OrWalk.MaxScore)

  /** Exhaustive (unpruned) evaluation — correctness oracle for WAND. */
  def hitsExhaustive(kind: String, text: String, k: Int, qid: Long = 0L): Dataset[Hit] =
    hitsImpl(kind, text, k, qid, QueryPlan.OrWalk.Exhaustive)

  /** Query relaxation (the zero-hit recovery ladder of e-commerce /
    * enterprise search; Lucene's minimum_should_match family): a
    * conjunctive query that matches NOTHING relaxes stepwise until it
    * matches —
    *   1. out-of-vocabulary terms drop first (they make the AND
    *      unsatisfiable outright);
    *   2. while the AND is empty and ≥2 terms remain, the LEAST
    *      informative term drops: highest df, ties by term asc —
    *      deterministic, so both engines pick the same rung.
    * Returns the final rung's conjunctive hits (global stats, the
    * filter-doesn't-rescale rule). Each rung probe costs one k=1 job;
    * the ladder is ≤|q| rungs — query-sized, never corpus-sized. */
  def relaxedHits(text: String, k: Int, qid: Long = 0L): Dataset[Hit] = {
    val plan = relaxPlan(text)
    if (plan.isEmpty) spark.emptyDataset[Hit]
    else hits("AND", plan.mkString(" AND "), k, qid)
  }

  /** The rung [[relaxedHits]] lands on — the relaxed query's surviving
    * terms (sorted), for callers that surface "showing results for …"
    * and for the spec's brute force. Empty = every term was OOV. */
  def relaxPlan(text: String): Array[String] = {
    val terms = QueryParser.termsFor("AND", text)
    var kept = dictLookup(terms.distinct) // OOV terms drop here
    if (kept.isEmpty) return Array.empty
    def andText(es: Array[DictEntry]): String =
      es.map(_.term).sorted.mkString(" AND ")
    while (kept.length > 1 && hits("AND", andText(kept), 1).isEmpty) {
      val drop = kept.minBy(e => (-e.df, e.term)) // highest df, term asc
      kept = kept.filterNot(_.termId == drop.termId)
    }
    kept.map(_.term).sorted
  }

  /** Minimum-should-match (Lucene/Elasticsearch `minimum_should_match`):
    * top-k documents matching at least `minMatch` DISTINCT query terms,
    * BM25-scored over the terms each document matches. `minMatch = 1` is
    * the disjunction, `minMatch = |terms|` the conjunction; everything
    * between is the recall/precision dial a disjunctive query exposes.
    * An out-of-vocabulary term counts as an unmatchable clause (it can
    * never be present) — the Lucene reading — so a query whose in-dict
    * terms number fewer than `minMatch` is provably empty without a job.
    *
    * Runs the compiled-presence walk (the BOOL machinery) with the
    * predicate "popcount ≥ minMatch" over ascending-termId slots —
    * document-at-a-time per bucket, same termId pushdown and bucket
    * pruning as every other kind, ≤k rows leave each bucket. */
  def msmHits(text: String, minMatch: Int, k: Int, qid: Long = 0L): Dataset[Hit] = {
    require(minMatch >= 1, s"minMatch must be >= 1, got $minMatch")
    val entries = dictLookup(QueryParser.termsFor("OR", text).distinct)
    if (entries.isEmpty || entries.length < minMatch)
      return spark.emptyDataset[Hit]
    val eval: Array[Boolean] => Boolean = p => {
      var c = 0
      var i = 0
      while (i < p.length) { if (p(i)) c += 1; i += 1 }
      c >= minMatch
    }
    run(Some(planOf(entries, k, QueryPlan.Bool(eval, null, null))), qid)
  }

  /** Disjunction-max query (the Lucene DisjunctionMaxQuery surface —
    * the "best field" combiner behind Elasticsearch `dis_max` and
    * `multi_match`): top-k documents under score = best single-term BM25
    * contribution + `tie` · (sum of the others). Where a plain OR
    * rewards a doc for matching MANY query terms weakly, dis-max rewards
    * the STRONGEST single match, with `tie` ∈ [0, 1] dialing between the
    * two readings (tie = 1 IS the disjunction — asserted bit-identical
    * in DisMaxSpec). OOV terms drop out exactly as in the disjunction.
    *
    * Same execution regime as [[msmHits]]: exhaustive document-at-a-time
    * walk per bucket with termId pushdown + bucket pruning; only the
    * per-doc combiner differs (Wand's union walk under `DisMax`). */
  def disMaxHits(text: String, tie: Double, k: Int, qid: Long = 0L): Dataset[Hit] = {
    require(tie >= 0.0 && tie <= 1.0, s"tie must be in [0, 1], got $tie")
    val entries = dictLookup(QueryParser.termsFor("OR", text).distinct)
    if (entries.isEmpty) spark.emptyDataset[Hit]
    else run(Some(planOf(entries, k, QueryPlan.DisMax(tie))), qid)
  }

  /** Filters aggregation (the ES `filters` agg): exact match counts for
    * N named queries in ONE job over ONE union-pushdown postings scan —
    * the msearch batching argument (X38) applied to counting: each
    * touched bucket is visited once and every query's unscored walk
    * runs against the bucket's already-fetched lists, versus N
    * independent count jobs each paying its own scan and scheduling.
    * Supported kinds: FREE/OR (any term), AND (all terms); pattern
    * kinds count through their dictionary expansions like everywhere
    * else. Output is one Long per (query, bucket) — query-set-sized,
    * never match-set-sized. */
  def matchCountsBatch(queries: Seq[(String, String, String)])
      : Map[String, Long] = {
    require(queries.nonEmpty, "matchCountsBatch needs at least one filter")
    require(queries.map(_._1).distinct.size == queries.size,
      "filter names must be unique")
    countAll(queries.map { case (name, kind, text) =>
      name -> countPlan("matchCountsBatch", kind, text)
    })
  }

  /** Adjacency-matrix aggregation (the ES `adjacency_matrix` agg):
    * exact match counts for N named filters AND every pairwise
    * intersection, keyed "a&b" with the two names in lexicographic
    * order (the ES bucket-key convention). Same execution regime as
    * [[matchCountsBatch]] — ONE union-pushdown postings scan for the
    * whole matrix, each touched bucket visited once; an intersection
    * key is a BOOL plan over the UNION of its two filters' slots with a
    * composed predicate (A-part AND B-part over per-filter presence
    * masks), so the N + N(N-1)/2 counts cost one scan, never N² jobs.
    * Output is (key × bucket)-sized Longs — query-set-sized, never
    * match-set-sized. Zero counts (incl. OOV/dead filters and their
    * pairs) are reported explicitly, not omitted as ES does — a count
    * contract wants a deterministic row set. */
  def adjacencyCounts(filters: Seq[(String, String, String)])
      : Map[String, Long] = {
    require(filters.size >= 2, "adjacencyCounts needs at least two filters")
    require(filters.map(_._1).distinct.size == filters.size,
      "filter names must be unique")
    require(filters.forall(f => !f._1.contains("&")),
      "filter names must not contain '&' (the intersection-key separator)")
    val base = filters.sortBy(_._1).map { case (name, kind, text) =>
      name -> countPlan("adjacencyCounts", kind, text)
    }
    val pairs = for (i <- base.indices; j <- (i + 1) until base.length)
      yield s"${base(i)._1}&${base(j)._1}" ->
        base(i)._2.flatMap(a => base(j)._2.map(b => both(a, b)))
    countAll(base ++ pairs)
  }

  /** The plan of a counting or first-k surface (`what`): the kind
    * checked, then lowered; None = matches nothing. */
  private def countPlan(what: String, kind: String, text: String): Option[QueryPlan] = {
    val kinds = Seq("FREE", "OR", "AND", "PREFIX", "REGEX", "WILD")
    require(kinds.contains(kind), s"$what supports ${kinds.mkString("/")}, got $kind")
    lower(kind, text, 0)
  }

  /** Exact counts of named plans in one job; a None plan counts zero. */
  private def countAll(named: Seq[(String, Option[QueryPlan])])
      : Map[String, Long] = {
    val live = named.collect { case (name, Some(p)) => name -> p }
    named.map(_._1 -> 0L).toMap ++
      live.map(_._1).zip(matchCounts(live.map(_._2).toArray, Long.MaxValue))
  }

  /** The plan matching what both `a` and `b` match: a BOOL plan over the
    * union of their slots whose predicate is all (AND) or any of each
    * one's slots. */
  private def both(a: QueryPlan, b: QueryPlan): QueryPlan = {
    val slots = (a.slots ++ b.slots).distinct.sorted
    def part(p: QueryPlan) =
      (p.shape == QueryPlan.And, p.slots.map(java.util.Arrays.binarySearch(slots, _)))
    val (ca, pa) = part(a)
    val (cb, pb) = part(b)
    a.copy(slots = slots, idf = a.idf ++ b.idf, boost = null, shape = QueryPlan.Bool(
      p => Searcher.present(p, ca, pa) && Searcher.present(p, cb, pb), null, null))
  }

  /** LM-Dirichlet retrieval (Zhai & Lafferty SIGIR'01; Lucene
    * LMDirichletSimilarity — the standard pluggable alternative to
    * BM25): disjunctive top-k under the Dirichlet-smoothed query
    * likelihood, p_t = cf_t/Σcf from the dictionary (exact Longs), the
    * per-term 0-clamp per Lucene. Execution is the exhaustive
    * union walk (LM scores have no stored per-list bound — block maxima
    * are BM25 impacts, so WAND soundly cannot prune here); termId
    * pushdown + bucket pruning still bound the scan. */
  def lmdHits(text: String, mu: Double, k: Int, qid: Long = 0L): Dataset[Hit] =
    run(QueryPlan.lmd(segment, dictLookup, text, mu, k, totalCf), qid)

  /** Span-first query (Lucene SpanFirstQuery): top-k docs where every
    * query term occurs within the first `n` tokens of the filtered
    * token stream — the "matches near the start of the file" heuristic
    * (imports/package/header hits in code search). Execution is the
    * phrase/NEAR regime: positional index required, termId pushdown +
    * bucket pruning, the position check reads only the aligned doc's
    * already-decoded occurrence list; scoring is standard BM25 over the
    * distinct terms (filter-doesn't-rescale). */
  def spanFirstHits(text: String, n: Int, k: Int, qid: Long = 0L): Dataset[Hit] =
    run(QueryPlan.spanFirst(segment, dictLookup, text, n, k), qid)

  /** Span-not query (the Lucene SpanNotQuery surface, single-term
    * include/exclude): top-k BM25 over documents where `incText`'s term
    * occurs at least once with NO occurrence of `excText`'s term within
    * `window` tokens on either side — "matches of A away from B", the
    * negative-context filter (e.g. `lock` not next to `unlock`, a call
    * site not preceded by its guard). Positional index required. An
    * out-of-vocabulary EXCLUDE degenerates to the plain term query (by
    * definition nothing is ever excluded); an OOV INCLUDE is empty.
    * Scoring is BM25 of the include term only (the NEAR/PHRASE
    * filter-doesn't-rescale rule) — Wand's conjunction walk over the
    * one include slot, the exclude skip-scanned to each include doc and
    * checked by a two-pointer position merge. */
  def spanNotHits(incText: String, excText: String, window: Int, k: Int,
                  qid: Long = 0L): Dataset[Hit] =
    run(QueryPlan.spanNot(segment, dictLookup, incText, excText, window, k), qid)

  /** Intervals query (the Lucene/ES `intervals` algebra: `ordered`
    * source with `max_gaps`, optionally wrapped in `not_containing` a
    * single filter term): top-k BM25 over documents where the query
    * terms occur IN ORDER with at most `maxGaps` non-matching tokens
    * inside the interval, and — when `notText` is non-empty — at least
    * one such interval contains no occurrence of the filter term.
    * Matching rule (pinned, shared with the SQL twin): a doc matches
    * iff some start occurrence's GREEDY ordered chain fits the gap
    * budget and avoids the filter; greedy is optimal for both criteria
    * so the existential is exact (Wand.intervalsMatch). An
    * out-of-vocabulary filter term degenerates to the unfiltered
    * intervals query (nothing can be contained); any OOV query term ⇒
    * empty (ordered conjunction). Scoring: BM25 over the distinct
    * query terms (the filter-doesn't-rescale rule — the filter term
    * never scores). */
  def intervalsHits(text: String, maxGaps: Int, notText: String, k: Int,
                    qid: Long = 0L): Dataset[Hit] =
    run(QueryPlan.intervals(segment, dictLookup, text, maxGaps, notText,
      containing = false, k), qid)

  /** Intervals query wrapped in `containing` (the dual of
    * [[intervalsHits]]'s `not_containing` — the other filter of the
    * Lucene/ES intervals algebra): top-k BM25 over documents where the
    * ordered terms fit the gap budget AND some such (greedy, minimized)
    * interval CONTAINS an occurrence of the filter term. The pinned
    * matching rule stays per-start greedy chains — the algebra's
    * minimized source intervals — so the existential keeps its exact
    * SQL form (EXISTS instead of NOT EXISTS). A document without the
    * filter term can never match (the filter cursor is REQUIRED, unlike
    * not_containing's optional one); an OOV filter term ⇒ empty.
    * Scoring: BM25 over the distinct ordered terms; the filter term
    * never scores (filter-doesn't-rescale). */
  def intervalsContainingHits(text: String, maxGaps: Int, containText: String,
                              k: Int, qid: Long = 0L): Dataset[Hit] =
    run(QueryPlan.intervals(segment, dictLookup, text, maxGaps, containText,
      containing = true, k), qid)

  /** Intervals query with `any_of` slot alternatives (the Lucene/ES
    * `intervals` algebra: an `ordered` source whose slots are `any_of`
    * disjunctions, optionally wrapped in `not_containing`): slot syntax
    * is `alt1|alt2` within the whitespace-separated ordered sequence,
    * e.g. "fast|slow merge" = (fast OR slow) then merge. A document
    * matches when some start occurrence's greedy ordered chain over the
    * per-slot MERGED alternative position lists fits the gap budget and
    * avoids the filter term — greedy stays exact because a slot's
    * eligible positions are still one ascending list
    * (Wand's conjunction walk over slots of alternative cursors, a
    * cursor shared by the slots it appears in). Out-of-vocabulary
    * alternatives drop from their slot; a slot with NO in-vocabulary
    * alternative ⇒ empty (ordered conjunction). Scoring is the BOOL
    * contract: BM25 over every present distinct alternative term
    * (whichever variant matched); the filter term never scores. */
  def intervalsAnyHits(text: String, maxGaps: Int, notText: String, k: Int,
                       qid: Long = 0L): Dataset[Hit] =
    run(QueryPlan.intervalsAny(segment, dictLookup, text, maxGaps, notText, k), qid)

  /** Match-phrase-prefix (the Elasticsearch `match_phrase_prefix` /
    * Lucene MultiPhraseQuery surface — "search-as-you-type" over a
    * phrase): the LAST token of `text` is a live prefix, expanded
    * against the vocabulary under the PREFIX normalization rules and
    * the standard deterministic expansion cap; a document matches when
    * the fixed leading terms followed by ANY expansion occur
    * consecutively. Desugars to an OR of phrase atoms over the boolean
    * grammar, so scoring is the BOOL contract: BM25 over every present
    * expression term (fixed ∪ expansions), whichever variant matched —
    * one compiled-presence walk, not one job per variant. */
  def phrasePrefixHits(text: String, k: Int, qid: Long = 0L,
                       maxExpansion: Int = Searcher.MaxExpansion): Dataset[Hit] = {
    val pieces = Tokenizer.tokenizeUnfiltered(text.trim.stripSuffix("*"))
    if (pieces.isEmpty) return spark.emptyDataset[Hit]
    val prefix = pieces.last
    // leading pieces pass the indexer's own token filter (the pieces
    // are already boundary-split, so only the length/number rules apply)
    val fixed = pieces.init.filter(p =>
      p.length >= Tokenizer.MinLen && p.length <= Tokenizer.MaxLen &&
        !p.forall(_.isDigit)).toList
    if (fixed.nonEmpty)
      require(segment.params.positional,
        "phrase-prefix queries need a positional index (BuildParams.positional)")
    val expansions = dictLookupPrefix(prefix, maxExpansion)
    if (expansions.isEmpty) return spark.emptyDataset[Hit]
    val ast: BoolQuery.Expr = BoolQuery.Or(expansions.map { e =>
      if (fixed.isEmpty) BoolQuery.Term(e.term): BoolQuery.Expr
      else BoolQuery.Phrase(fixed :+ e.term): BoolQuery.Expr
    }.toList)
    run(boolPlan(ast, text, k), qid)
  }

  /** Common-terms query (the Lucene CommonTermsQuery surface — the
    * scale-era answer to stopword lists): query terms split by document
    * frequency at `maxDfFrac`·N — RARE terms (df strictly below the
    * cutoff) are required (conjunctive), COMMON terms are optional but
    * still score when present. A stopword-heavy query thus stays as
    * selective as its informative terms while "the"-class terms only
    * nudge ranking. When every term is common the query degrades to the
    * plain disjunction (the Lucene rule: nothing left to require).
    *
    * Same machinery as [[msmHits]]: the compiled-presence walk with a
    * required-slot mask over ascending-termId slots; scoring is BM25
    * over ALL present distinct terms (required and optional alike). OOV
    * terms are unmatchable and ignored — they are neither required nor
    * scorable. */
  def commonTermsHits(text: String, maxDfFrac: Double, k: Int,
                      qid: Long = 0L): Dataset[Hit] = {
    require(maxDfFrac > 0.0 && maxDfFrac <= 1.0,
      s"maxDfFrac must be in (0, 1], got $maxDfFrac")
    val entries = dictLookup(QueryParser.termsFor("OR", text).distinct)
    if (entries.isEmpty) return spark.emptyDataset[Hit]
    val cutoff = maxDfFrac * stats.numDocs
    val required: Array[Boolean] = entries.map(_.df < cutoff)
    val eval: Array[Boolean] => Boolean =
      if (!required.exists(identity)) { p =>
        var any = false
        var i = 0
        while (i < p.length) { if (p(i)) any = true; i += 1 }
        any
      } else { p =>
        var ok = true
        var i = 0
        while (i < p.length) { if (required(i) && !p(i)) ok = false; i += 1 }
        ok
      }
    run(Some(planOf(entries, k, QueryPlan.Bool(eval, null, null))), qid)
  }

  /** The query's full match set as (docId) rows under the kind's own
    * semantics — the FOREGROUND set for aggregations that need more than
    * facet counts (significant terms). A query `lower` proves empty (an
    * OOV term under AND, an unsatisfiable BOOL) is the empty frame, so
    * callers aggregate one shape whether or not any doc matched. */
  def matchDocIds(kind: String, text: String): DataFrame =
    lower(kind, text, 0).fold(spark.emptyDataset[Long])(matchIds(_, Long.MaxValue))
      .toDF("docId")

  /** Batched multi-query execution ("msearch" — the offline query-log
    * shape: replay an eval set, mine hard negatives for 10k training
    * queries): N queries answered in ONE job over ONE postings scan.
    *
    * Per query the result is BIT-IDENTICAL to `hits` (MsearchSpec); what
    * batching changes is the plan: the scan's pushed predicate is the
    * UNION of every query's termIds and each touched bucket is visited
    * once, with every query's walk run against the bucket's lists —
    * versus N independent jobs each paying its own scan, shuffle, and
    * scheduling. At 10k queries the union-termId scan reads each posting
    * list ONCE for all queries that share the term (cursor decode is
    * per-query, the bytes and I/O are amortized).
    *
    * Supports the term-entry kinds (FREE/OR/AND and the PREFIX/REGEX/
    * FUZZY expansions) with boosts; a query with no satisfiable entries
    * contributes no rows, exactly like `hits`. Positional and boolean
    * kinds keep their dedicated walks — batch those through
    * [[graft.pipeline.Percolator]] when the corpus side is the stream.
    *
    * Scale: per (query, bucket) the walk emits ≤k rows, so the post-walk
    * exchange carries ≤ |queries|·k rows per bucket into a per-query
    * window rank — never corpus-sized. Query plans resolve driver-side
    * against the cached dict (the ServingSearcher discipline). */
  def batchHits(queries: Seq[(Long, String, String)], k: Int): Dataset[Hit] = {
    require(queries.nonEmpty, "batchHits needs at least one query")
    require(queries.map(_._1).distinct.size == queries.size,
      "batchHits qids must be unique")
    val allowed = Set("FREE", "OR", "AND", "PREFIX", "REGEX", "WILD",
      "FUZZY", "STEM")
    val plans: Array[(Long, QueryPlan)] =
      queries.iterator.flatMap { case (qid, kind, text) =>
        require(allowed.contains(kind),
          s"batchHits supports ${allowed.mkString("/")}, got $kind")
        // unsatisfiable: contributes no rows, like hits()
        lower(kind, text, k).map(qid -> _)
      }.toArray
    if (plans.isEmpty) return spark.emptyDataset[Hit]
    val raw = perBucket(fetch(plans.map(_._2))) { (_, plIt, firstDocId, lens) =>
      val lists = plIt.toArray
      plans.iterator.flatMap { case (qid, plan) =>
        Wand.eval(plan, lists, firstDocId, lens, null)
          .iterator.map(s => (qid, s.docId, s.score))
      }
    }
    raw.toDF("qid", "docId", "score")
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"qid").orderBy($"score".desc, $"docId".asc)))
      .filter($"rank" <= k)
      .select($"qid", $"rank", $"docId", $"score").as[Hit]
  }

  /** Top-k restricted to the docId range `[lo, hi)` — scoped search
    * (e.g. one repo, one repo prefix: contiguous by the P4 sort order).
    * Scores keep GLOBAL corpus statistics (idf/avgdl), the standard
    * filter-doesn't-rescale semantics; the restriction is pushed all the
    * way down: bucket pruning on the postings scan + a range view on
    * every cursor (block skips, no filter pass). */
  def scopedHits(kind: String, text: String, k: Int, lo: Long, hi: Long,
                 qid: Long = 0L): Dataset[Hit] =
    hitsImpl(kind, text, k, qid, lo = lo, hi = hi)

  private type AcceptB = org.apache.spark.broadcast.Broadcast[Map[Int, Array[Long]]]

  private def hitsImpl(kind: String, text: String, k: Int, qid: Long,
                       or: QueryPlan.OrWalk = QueryPlan.OrWalk.Wand,
                       lo: Long = 0L, hi: Long = Long.MaxValue,
                       acceptB: AcceptB = null, rejectB: AcceptB = null,
                       after: Wand.Scored = null): Dataset[Hit] =
    run(lower(kind, text, k, or).map(_.copy(lo = lo, hi = hi, after = after)),
      qid, acceptB, rejectB)

  /** A query of a parsed kind lowered over this segment under its own
    * statistics; None = provably empty. */
  private def lower(kind: String, text: String, k: Int,
                    or: QueryPlan.OrWalk = QueryPlan.OrWalk.Wand): Option[QueryPlan] = {
    val entries = entriesFor(kind, text) // ONE expansion dispatch, every caller
    QueryPlan.lower(kind, text, entries, QueryPlan.idf(entries, stats.numDocs),
      stats.avgDocLen, k, segment.params.positional, expand, or)
  }

  /** A boolean expression (parsed, or synthesized as by
    * [[phrasePrefixHits]]) lowered over this segment; None = unsatisfiable
    * under this vocabulary. */
  private def boolPlan(ast: BoolQuery.Expr, text: String, k: Int): Option[QueryPlan] = {
    val entries = QueryPlan.boolEntries(ast, dictLookup, expand)
    QueryPlan.bool(ast, text, entries, QueryPlan.idf(entries, stats.numDocs),
      stats.avgDocLen, k, segment.params.positional, expand)
  }

  /** A per-bucket k that keeps a bucket's whole match set: a bucket
    * holds ≤ bucketSize docs. */
  private def bucketK: Int = math.min(segment.params.bucketSize, Int.MaxValue.toLong).toInt

  /** A plan over `entries` under this segment's statistics, no boosts. */
  private def planOf(entries: Array[DictEntry], k: Int,
                     shape: QueryPlan.Shape): QueryPlan =
    QueryPlan.of(entries, QueryPlan.idf(entries, stats.numDocs), stats.avgDocLen,
      k, segment.params.positional, shape)

  private def run(plan: Option[QueryPlan], qid: Long, acceptB: AcceptB = null,
                  rejectB: AcceptB = null): Dataset[Hit] =
    plan.fold(spark.emptyDataset[Hit])(p =>
      rankTopK(scoredRaw(p, acceptB, rejectB).toDF("docId", "score"), p.k, qid))

  /** A boolean prefix/regex leaf expanded against this segment's
    * dictionary (the PREFIX/REGEX-kind machinery). */
  private[search] def expand(p: BoolQuery.Pattern): Array[DictEntry] =
    if (p.isRegex) dictLookupRegex(p.raw) else dictLookupPrefix(p.raw)

  /** Doc-length arrays up to this many documents stay resident
    * (broadcast once per searcher) — the Lucene-style serving posture: a
    * shard's doc values live in memory. Above it, the doclens dataset is
    * cogrouped in per query (the 100 TB path, where no single node could
    * hold the forward array). */
  private val DoclenResidentLimit = 16L << 20
  private lazy val doclenResident
      : Option[org.apache.spark.broadcast.Broadcast[Map[Int, (Long, Array[Int])]]] =
    if (residentDoclens && stats.numDocs <= DoclenResidentLimit)
      Some(spark.sparkContext.broadcast(
        segment.doclens.collect().map(b => b.bucket -> (b.firstDocId, b.lens)).toMap))
    else None

  /** Per-bucket walk emitting unranked (docId, score): the plan's lists
    * grouped by bucket, each bucket walked by Wand.eval — the building
    * block shared with MultiSearcher, whose plans carry GLOBAL (cross-
    * segment) statistics instead of this segment's own. */
  private[search] def scoredRaw(plan: QueryPlan, acceptB: AcceptB = null,
                                rejectB: AcceptB = null): Dataset[(Long, Double)] = {
    val bs = segment.params.bucketSize
    perBucket(fetch(Seq(plan))) { (bucket, plIt, firstDocId, lens) =>
      // a bucket with no accepted doc skips its walk (and decode) entirely
      val accept = Wand.bucketFilter(bucket, bs,
        if (acceptB == null) null else acceptB.value,
        if (rejectB == null) null else rejectB.value)
      if (accept eq Wand.RejectAll) Iterator.empty
      else Wand.eval(plan, plIt.toArray, firstDocId, lens, accept)
        .iterator.map(s => (s.docId, s.score))
    }
  }

  /** Each touched bucket's matches of `plan` in docId order, at most
    * `limit` per bucket: the unscored walk, which reads no doc lengths. */
  private def matchIds(plan: QueryPlan, limit: Long): Dataset[Long] =
    perBucket(fetch(Seq(plan)), lens = false) { (_, plIt, _, _) =>
      val out = new scala.collection.mutable.ArrayBuilder.ofLong
      Wand.matches(plan, plIt.toArray, null, limit)(out += _)
      out.result().iterator
    }

  /** Every plan's match count in one job over their shared fetch, each
    * bucket's walk stopped after `limit` matches: one Long per plan leaves
    * a bucket, never a docId, and the per-partition sums fold into the
    * driver's without a second shuffle. */
  private def matchCounts(plans: Array[QueryPlan], limit: Long): Array[Long] = {
    val n = plans.length
    if (n == 0) return Array.empty
    perBucket(fetch(plans), lens = false) { (_, plIt, _, _) =>
      val lists = plIt.toArray
      Iterator(plans.map(Wand.matches(_, lists, null, limit)(_ => ())))
    }.rdd.fold(new Array[Long](n)) { (sums, counts) =>
      var i = 0
      while (i < n) { sums(i) += counts(i); i += 1 }
      sums
    }
  }

  /** The postings the plans' walks read — the one postings fetch of
    * every query walk: termId pushdown over the union of their termIds
    * and, when every plan is scoped, bucket pruning to the scopes' hull
    * before any decode. The bounds stay Int so the filter literals match
    * the partition column (a cast would defeat pruning). */
  private def fetch(plans: Seq[QueryPlan]): Dataset[PostingList] = {
    val pls = segment.postings
      .filter($"termId".isin(plans.flatMap(_.tids).distinct.sorted: _*))
    val ranges = plans.map(_.bucketRange(segment.params.bucketSize))
    (if (plans.forall(_.scoped))
      pls.filter($"bucket" >= ranges.map(_._1).min && $"bucket" <= ranges.map(_._2).max)
    else pls).as[PostingList]
  }

  /** Runs `walk` once per touched bucket with that bucket's posting lists
    * and doc lengths (`lens`; without them the walk gets null). Resident
    * mode: one scan + one tiny shuffle of ≤|q| rows per bucket. Cogroup
    * mode: doclens arrive co-partitioned, pruned to the touched buckets by
    * a lazy broadcast semi-join. */
  private def perBucket[T: org.apache.spark.sql.Encoder](pls: Dataset[PostingList],
                                                         lens: Boolean = true)(
      walk: (Int, Iterator[PostingList], Long, Array[Int]) => Iterator[T]): Dataset[T] =
    if (!lens) pls.groupByKey(_.bucket).flatMapGroups(walk(_, _, 0L, null))
    else doclenResident match {
      case Some(bc) =>
        pls.groupByKey(_.bucket).flatMapGroups { (bucket, plIt) =>
          bc.value.get(bucket) match {
            case Some((first, lens)) => walk(bucket, plIt, first, lens)
            case None => Iterator.empty
          }
        }
      case None =>
        val dlb = segment.doclens
          .join(broadcast(pls.select($"bucket").distinct()), Seq("bucket"), "left_semi")
          .as[DocLenBlock]
        pls.groupByKey(_.bucket).cogroup(dlb.groupByKey(_.bucket)) {
          (bucket, plIt, dlIt) =>
            if (!dlIt.hasNext || !plIt.hasNext) Iterator.empty
            else {
              val dl = dlIt.next()
              walk(bucket, plIt, dl.firstDocId, dl.lens)
            }
        }
    }

  /** Global top-k + dense rank. orderBy+limit plans as
    * TakeOrderedAndProject (per-partition partial top-k, driver merge);
    * rank is then assigned by position in a narrow single-partition pass —
    * no window exchange (≤k rows; coalesce(1) guards the ordering). */
  private[search] def rankTopK(hitsDf: DataFrame, k: Int, qid: Long): Dataset[Hit] = {
    hitsDf
      .orderBy($"score".desc, $"docId".asc)
      .limit(k)
      .select($"docId", $"score")
      .as[(Long, Double)]
      .coalesce(1)
      .mapPartitions { it =>
        var r = 0
        it.map { case (d, s) => r += 1; Hit(qid, r, d, s) }
      }
  }

  def search(q: Query): Dataset[Hit] = {
    val (kind, _) = if (q.kind == "PARSE") QueryParser.parse(q.text) else (q.kind, null)
    hits(kind, q.text, q.k, q.qid)
  }

  /** Matched positions for highlighting/snippets: for each (docId in
    * `docIds`) × (query term in `entries`), the term's occurrence
    * positions in that document — decoded from the positional index
    * (codec v2), which stores exactly this. Positions are 0-based indices
    * over the filtered token stream (the index's position space).
    *
    * Returns (docId, termId, pos) rows. */
  def matchedPositions(entries: Array[DictEntry], docIds: Array[Long])
      : Dataset[(Long, Long, Int)] = {
    require(segment.params.positional,
      "highlighting needs a positional index (BuildParams.positional)")
    atDocs(entries, docIds)(_.positions())
  }

  /** Matched term frequencies for scoring explanations: for each
    * (docId in `docIds`) × (query term in `entries`), the stored tf. Works
    * on positional and non-positional segments alike (tf rides the v1
    * stream).
    *
    * Returns (docId, termId, tf) rows. */
  def matchedTfs(entries: Array[DictEntry], docIds: Array[Long])
      : Dataset[(Long, Long, Int)] =
    atDocs(entries, docIds)(c => Array(c.tf))

  /** (docId, termId, value) rows of `entries`' lists at `docIds`, one per
    * value `read` takes from the aligned posting. The scan touches ONLY
    * the query's termIds and the target docs' buckets (both pushed down);
    * inside each posting list the cursor GALLOPS to the target docIds —
    * no full-list decode. */
  private def atDocs(entries: Array[DictEntry], docIds: Array[Long])(
      read: graft.codec.PostingCodec.Cursor => Array[Int]): Dataset[(Long, Long, Int)] = {
    if (entries.isEmpty || docIds.isEmpty)
      return spark.emptyDataset[(Long, Long, Int)]
    val bs = segment.params.bucketSize
    val positional = segment.params.positional
    val byBucket: Map[Int, Array[Long]] =
      docIds.groupBy(d => (d / bs).toInt).map { case (b, ds) => b -> ds.sorted }
    val bcast = spark.sparkContext.broadcast(byBucket)
    segment.postings
      .filter($"termId".isin(entries.map(_.termId).toSeq: _*) &&
        $"bucket".isin(byBucket.keys.toSeq: _*))
      .as[PostingList]
      .flatMap { pl =>
        val targets = bcast.value.getOrElse(pl.bucket, Array.empty[Long])
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
        val c = new graft.codec.PostingCodec.Cursor(
          pl.numDocs, pl.lastDocIds, pl.maxImpacts, pl.offsets, pl.bytes, positional)
        var i = 0
        while (i < targets.length && !c.exhausted) {
          c.nextGeq(targets(i))
          if (!c.exhausted && c.docId == targets(i))
            read(c).foreach(v => out += ((targets(i), pl.termId, v)))
          i += 1
        }
        out
      }
  }

  /** The dictionary entries a query's kind actually matches against —
    * the kind's own expansion rules: PREFIX/REGEX expand against the
    * vocabulary, BOOL takes its fixed terms ∪ pattern-leaf expansions
    * (a hit matched via `s*` must explain/highlight the expanded term),
    * everything else is a plain lookup. Shared by the highlight and
    * explain surfaces so neither under-reports expansion kinds. */
  def entriesFor(kind: String, text: String): Array[DictEntry] = {
    val terms = QueryParser.termsFor(kind, text)
    kind match {
      case "PREFIX" => dictLookupPrefix(terms.head)
      // WILD arrives pre-translated (termsFor ran globToRegex), so the
      // regex expansion path serves both kinds unchanged
      case "REGEX" | "WILD" => dictLookupRegex(terms.head)
      case "FUZZY" => dictLookupFuzzy(terms.head, QueryParser.fuzzyDist(text))
      case "STEM" => dictLookupStem(terms.head)
      case "BOOL" => QueryPlan.boolEntries(BoolQuery.parse(text), dictLookup, expand)
      case _ => dictLookup(terms.distinct)
    }
  }

  /** Top-k hits WITH their matched positions — the snippet/highlight
    * surface every code-search UI needs. Uses the same expansion rules
    * as [[hits]] for the given kind. */
  def highlight(kind: String, text: String, k: Int): DataFrame = {
    val entries = entriesFor(kind, text)
    val hitDocs = hits(kind, text, k).collect().map(_.docId)
    // entries are already driver-side: map termId → term in a narrow
    // projection instead of a dict join
    val termByTid = entries.map(e => e.termId -> e.term).toMap
    matchedPositions(entries, hitDocs)
      .map { case (d, tid, p) => (d, termByTid(tid), p) }
      .toDF("docId", "term", "pos")
  }

  /** Facet counts over ALL matching documents (not just top-k) — the
    * code-search sidebar: how many hits per lang / per repo. Matching =
    * the kind's own semantics (OR: any term; AND: all terms; BOOL/PHRASE/
    * NEAR/ONEAR with their positional checks). The doc set is the
    * unscored walk's ([[matchDocIds]]: termId pushdown, one walk per
    * bucket, no scoring, no doc lengths), then one hash aggregation
    * against the docmap; an empty match set has no facet rows. */
  def facets(kind: String, text: String, facetCol: String): DataFrame =
    matchDocIds(kind, text).join(segment.docs, "docId")
      .groupBy(col(facetCol))
      .agg(count(lit(1)).as("n_docs"))

  /** Total matching documents — the "about N results" surface every
    * search UI shows: each touched bucket's unscored walk counts its
    * matches and only the per-bucket counts leave it — no docId shuffle,
    * no scoring, no docmap join. */
  def matchCount(kind: String, text: String): Long =
    lower(kind, text, 0).fold(0L)(p => matchCounts(Array(p), Long.MaxValue).head)

  /** Total matching documents with a global cap — the Elasticsearch
    * `track_total_hits: N` / `terminate_after` surface ("more than N
    * results"). Returns min(true count, cap) EXACTLY: each bucket's
    * unscored walk stops as soon as it has counted `cap` matches, and
    * min(Σ per-bucket capped counts, cap) = min(true count, cap) — if
    * any bucket hit its cap the sum already reached `cap`; otherwise
    * every bucket counted exactly. Early termination is genuine: work
    * per bucket is bounded by the cap, not the match-set size. Supports
    * FREE/OR/AND and the full boolean grammar (positional atoms included
    * on positional segments). */
  def matchCountCapped(kind: String, text: String, cap: Long): Long = {
    require(cap >= 1L, s"cap must be >= 1, got $cap")
    require(Set("FREE", "OR", "AND", "BOOL").contains(kind),
      s"matchCountCapped supports FREE/OR/AND/BOOL, got $kind")
    lower(kind, text, 0).fold(0L)(p => math.min(matchCounts(Array(p), cap).head, cap))
  }

  /** Early-terminated retrieval over a SORT-BUILT index (X165 — the
    * consumer of Lucene `IndexSorting` / ES `index.sort`): the first
    * `k` matching docIds in docId order. Built with docIds assigned in
    * a chosen static-field order, first-k IS top-k by that sort — and
    * each bucket's unscored walk STOPS after k matches, so per-bucket
    * work is bounded by k, not the match-set size; postings past the
    * k-th match are never decoded. Buckets run in parallel (each emits
    * ≤k docIds); the global answer is the k smallest via
    * TakeOrderedAndProject over ≤ k·buckets-touched rows. Kinds:
    * FREE/OR (any term), AND (all terms), pattern kinds through their
    * dictionary expansions. */
  def earlyHits(kind: String, text: String, k: Int): DataFrame = {
    require(k >= 1, s"earlyHits needs k >= 1, got $k")
    firstMatches(countPlan("earlyHits", kind, text), k)
  }

  /** Constant-score query (Lucene ConstantScoreQuery / the Elasticsearch
    * `constant_score` filter context): every matching document scores
    * exactly `boost` — matching is pure filtering, so there is no BM25,
    * no doclens join, and no per-doc float work at all. Results are the
    * FIRST k matches in docId order (the only deterministic order when
    * every score ties), found as [[earlyHits]] finds them. Supports every
    * kind [[matchCount]] supports (FREE/OR/AND/PHRASE/NEAR/ONEAR/BOOL and
    * pattern kinds). */
  def constHits(kind: String, text: String, boost: Double, k: Int): DataFrame =
    firstMatches(lower(kind, text, 0), k).withColumn("score", lit(boost))

  /** The first `k` docIds `plan` matches, in docId order: per-bucket
    * unscored walks stopped at k, then a global TakeOrderedAndProject. */
  private def firstMatches(plan: Option[QueryPlan], k: Int): DataFrame =
    plan match {
      case None => Seq.empty[Long].toDF("docId")
      case Some(p) => matchIds(p, k).toDF("docId").orderBy($"docId".asc).limit(k)
    }

  /** Result collapsing (the field-collapse / diversified-results surface:
    * Elasticsearch `collapse`, Lucene grouping): the single best hit per
    * repo, for the `kRepos` best repos by their best hit. FREE/AND/OR.
    *
    * Plan, built for the 100 TB shape: the per-bucket walk scores ALL
    * matching docs (the facets/matchCount regime — an exhaustive walk
    * with per-bucket k = bucketSize, so nothing escapes the bucket), and
    * because the (repo,path,commit) build sort makes every repo a
    * CONTIGUOUS docId range (X7), each scored doc resolves to its repo
    * with a binary search over the broadcast repo-boundary array — so
    * the per-repo best is pre-combined MAP-SIDE by the typed reduce, and
    * the only exchange after the walk carries ≤ (repos touched) rows per
    * partition, never the match set. Best-per-repo compares ROUNDED
    * (6 dp) scores with docId-asc tie-break, so the selected doc is
    * bit-reproducible cross-engine; final order = (score desc, repo asc).
    *
    * The repo-boundary collect is #repos driver rows (16 B each) —
    * guarded by [[CollapseRepoLimit]], the dict-cache residency regime.
    */
  def collapsedHits(kind: String, text: String, kRepos: Int): DataFrame =
    repoScored("collapse", kind, text) match {
      case None => Seq.empty[(String, Long, Double)].toDF("repo", "docId", "score")
      case Some((repos, scored)) =>
        scored
          .groupByKey(_._1)
          .reduceGroups { (x, y) =>
            if (x._3 > y._3) x
            else if (x._3 < y._3) y
            else if (x._2 < y._2) x else y
          }
          .map { case (idx, (_, docId, score)) => (repos(idx), docId, score) }
          .toDF("repo", "docId", "score")
          .orderBy($"score".desc, $"repo".asc)
          .limit(kRepos)
    }

  /** Parent-child scored join (the Elasticsearch `has_child` query over
    * a join field / Lucene ToParentBlockJoinQuery): rank PARENTS (repos)
    * by an aggregate of their matching children's BM25 scores —
    * `score_mode` max | sum | avg — keeping only parents with at least
    * `minChildren` matching children. FREE/OR/AND child queries.
    *
    * Plan (the collapse regime, X27): the per-bucket walk scores ALL
    * matching children exhaustively; each child resolves to its parent
    * with a binary search over the broadcast repo-boundary array (repos
    * are contiguous docId ranges, X7), so per-parent partials
    * (sum, count, max) pre-combine MAP-SIDE and the only post-walk
    * exchange carries ≤ (parents touched) rows per partition — never
    * the match set. Determinism across parallelism: per-child scores
    * enter the aggregate as exact Long MICROS of the 6-dp rounded score
    * (Long sums are order-free, unlike Σ-of-doubles); `sum`/`max` are
    * one exact-integer-to-double division, `avg` = micros-mean rounded
    * to the nearest micro (floor(sm/n + 0.5), one IEEE division) — the
    * X63/X86 exact-integer regime applied to scores. */
  def hasChildHits(kind: String, text: String, scoreMode: String,
                   minChildren: Int, kRepos: Int): DataFrame = {
    require(Set("max", "sum", "avg")(scoreMode),
      s"score_mode must be max|sum|avg, got $scoreMode")
    require(minChildren >= 1, s"min_children must be >= 1, got $minChildren")
    val mode = scoreMode
    repoScored("has_child", kind, text) match {
      case None => Seq.empty[(String, Long, Double)].toDF("repo", "n_children", "score")
      case Some((repos, scored)) =>
        scored
          .map { case (idx, _, score) =>
            val micros = Math.round(score * 1e6)
            (idx, micros, 1L, micros)
          }
          .groupByKey(_._1)
          .reduceGroups { (x, y) =>
            (x._1, x._2 + y._2, x._3 + y._3, math.max(x._4, y._4))
          }
          .map { case (idx, (_, sm, n, mx)) =>
            val score = mode match {
              case "max" => mx / 1e6
              case "sum" => sm / 1e6
              case "avg" => math.floor(sm.toDouble / n + 0.5) / 1e6
            }
            (repos(idx), n, score)
          }
          .toDF("repo", "n_children", "score")
          .filter($"n_children" >= minChildren)
          .orderBy($"score".desc, $"repo".asc)
          .limit(kRepos)
    }
  }

  /** Every match of a FREE/OR/AND query as (repo index, docId, 6-dp
    * rounded BM25), with the repo names by index; None = provably empty.
    * The walk scores ALL matching docs (per-bucket k = bucketSize, so
    * nothing escapes the bucket), and since repos are contiguous docId
    * ranges (X7) each doc resolves to its repo by a binary search over
    * the broadcast repo-boundary array. The boundary collect is #repos
    * driver rows, guarded by [[Searcher.CollapseRepoLimit]]. */
  private def repoScored(what: String, kind: String, text: String)
      : Option[(Array[String], Dataset[(Int, Long, Double)])] = {
    require(kind == "FREE" || kind == "OR" || kind == "AND",
      s"$what supports FREE/OR/AND, got $kind")
    val terms = QueryParser.termsFor(kind, text).distinct
    val entries = dictLookup(terms)
    if (entries.isEmpty || (kind == "AND" && entries.length < terms.length))
      return None
    val bounds: Array[(Long, String)] = segment.docs
      .groupBy($"repo").agg(min($"docId").as("lo"))
      .orderBy($"lo").select($"lo", $"repo")
      .as[(Long, String)].collect()
    require(bounds.length <= Searcher.CollapseRepoLimit,
      s"$what boundary array (${bounds.length} repos) exceeds " +
        s"${Searcher.CollapseRepoLimit} — shard the $what by repo range")
    val bc = spark.sparkContext.broadcast(bounds.map(_._1))
    val scored = scoredRaw(planOf(entries, bucketK,
      if (kind == "AND") QueryPlan.And else QueryPlan.Or(QueryPlan.OrWalk.Exhaustive)))
      .mapPartitions { it =>
        val l = bc.value
        it.map { case (docId, score) =>
          var a = 0; var b = l.length - 1
          while (a < b) { // last boundary <= docId
            val m = (a + b + 1) >>> 1
            if (l(m) <= docId) a = m else b = m - 1
          }
          (a, docId, Searcher.round6(score))
        }
      }
    Some((bounds.map(_._2), scored))
  }

  /** Hits joined back to the doc map (SURVEY §2.4 Q9). The HITS side is
    * broadcast — it is ≤k rows by construction, while the docmap is
    * corpus-sized (10^12 rows at the design point): broadcasting the
    * docmap would OOM at scale. */
  def topDocs(kind: String, text: String, k: Int): DataFrame =
    broadcast(hits(kind, text, k))
      .join(segment.docs, Seq("docId"))
      .orderBy($"rank")
      .select($"rank", $"docId", $"score", $"repo", $"path", $"commit", $"lang")
}

object Searcher {
  /** An adjacency pair's presence test: all (`conj`) or any of the slots
    * at `idx` matched the candidate. */
  private[search] def present(p: Array[Boolean], conj: Boolean, idx: Array[Int]): Boolean = {
    var i = 0
    if (conj) { while (i < idx.length && p(idx(i))) i += 1; i == idx.length }
    else { while (i < idx.length && !p(idx(i))) i += 1; i < idx.length }
  }

  /** Deterministic dictionary-expansion cap shared by every expansion
    * kind (prefix/regex/fuzzy) and every tier — ONE constant, so the
    * serving tier's bit-parity with the relational tier cannot drift
    * through a tuned copy. */
  final val MaxExpansion = 1024

  /** Fuzzy expansion core shared by the relational and serving tiers:
    * length band → banded Levenshtein DP → deterministic termId-order
    * cap. Empty operand expands to nothing. */
  def fuzzyExpand(vocab: Iterator[DictEntry], word: String, maxDist: Int,
                  cap: Int = MaxExpansion): Array[DictEntry] = {
    val w = word.trim.toLowerCase
    if (w.isEmpty) Array.empty
    else vocab.filter(e => math.abs(e.term.length - w.length) <= maxDist &&
        editDistance(e.term, w, maxDist) <= maxDist)
      .toArray.sortBy(_.termId).take(cap)
  }

  /** Collapse keeps a sorted repo-boundary Long array resident on the
    * driver and executors (8 B/repo) — 1M repos = 8 MB, the same
    * residency regime as [[Searcher.DictCacheLimit]]. */
  private[search] val CollapseRepoLimit = 1L << 20

  /** Spark's round(col, 6) (BigDecimal HALF_UP) as a JVM-side scalar, so
    * reductions that compare rounded scores agree bit-for-bit with the
    * relational/oracle rounding. */
  private[graft] def round6(x: Double): Double =
    BigDecimal.valueOf(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Plain Levenshtein distance (unit insert/delete/substitute — the
    * same metric as DuckDB's `levenshtein`, keeping the suggest oracle
    * exact), with an early exit once every cell of a row exceeds
    * `bound` (banded DP: O(|a|·|b|) worst case, O(bound·|a|) typical). */
  def editDistance(a: String, b: String, bound: Int): Int = {
    if (a == b) return 0
    if (math.abs(a.length - b.length) > bound) return bound + 1
    var prev = Array.tabulate(b.length + 1)(identity)
    var cur = new Array[Int](b.length + 1)
    var i = 1
    while (i <= a.length) {
      cur(0) = i
      var rowMin = i
      var j = 1
      while (j <= b.length) {
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
        if (cur(j) < rowMin) rowMin = cur(j)
        j += 1
      }
      if (rowMin > bound) return bound + 1
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(b.length)
  }
}

/** Exact relational BM25 scorer — SURVEY §2.4 Q6: the no-pruning oracle
  * path, computed from DECODED postings (so it also exercises the codec
  * round-trip), the dictionary, and doc lengths. Per-doc accumulation is
  * done in a typed mapGroups in ascending termId order so scores are
  * bit-identical with the WAND path (rank-identity contract).
  */
object ExactScorer {

  /** Decode all posting lists back to (termId, docId, tf) rows. */
  def decodedPostings(spark: SparkSession, segment: Segment): Dataset[(Long, Long, Int)] = {
    import spark.implicits._
    val positional = segment.params.positional
    segment.postings.as[PostingList].flatMap { pl =>
      val c = new graft.codec.PostingCodec.Cursor(
        pl.numDocs, pl.lastDocIds, pl.maxImpacts, pl.offsets, pl.bytes, positional)
      val out = new Array[(Long, Long, Int)](pl.numDocs)
      var i = 0
      while (i < pl.numDocs) { out(i) = (pl.termId, c.docId, c.tf); c.next(); i += 1 }
      out.toSeq
    }
  }

  /** Top-k by exact scoring of every matching document. */
  def topK(spark: SparkSession, segment: Segment, text: String, kind: String,
           k: Int, qid: Long = 0L): Dataset[Hit] = {
    import spark.implicits._
    val terms = QueryParser.termsFor(kind, text)
    val searcher = new Searcher(spark, segment)
    val entries = searcher.dictLookup(terms)
    val conjunctive = kind == "AND"
    if (entries.isEmpty || (conjunctive && entries.length < terms.length))
      return spark.emptyDataset[Hit]
    val idfByTid = entries.map(e => e.termId -> BM25.idf(segment.stats.numDocs, e.df)).toMap
    val tidSet = entries.map(_.termId).toSet
    val nTerms = entries.length
    val avgdl = segment.stats.avgDocLen

    val dl = segment.docs.select($"docId", $"docLen")
    val matches = decodedPostings(spark, segment)
      .filter(r => tidSet.contains(r._1))
      .toDF("termId", "docId", "tf")
      .join(dl, Seq("docId"))
      .select($"docId", $"termId", $"tf", $"docLen")
      .as[(Long, Long, Int, Int)]

    val scoredDocs = matches.groupByKey(_._1).mapGroups { (docId, it) =>
      val rows = it.toArray.sortBy(_._2) // ascending termId — determinism
      var score = 0.0
      var i = 0
      while (i < rows.length) {
        score += BM25.impact(idfByTid(rows(i)._2), rows(i)._3, rows(i)._4, avgdl)
        i += 1
      }
      (docId, score, rows.length)
    }
    val filtered =
      if (conjunctive) scoredDocs.filter(_._3 == nTerms) else scoredDocs
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy($"score".desc, $"docId".asc)
    filtered.toDF("docId", "score", "n")
      .orderBy($"score".desc, $"docId".asc)
      .limit(k)
      .withColumn("rank", row_number().over(w))
      .select(lit(qid).as("qid"), $"rank", $"docId", $"score")
      .as[Hit]
  }
}
