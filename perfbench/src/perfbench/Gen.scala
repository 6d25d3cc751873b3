package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** One generated source file, in the engine's corpus input shape
  * (repo, path, commit, lang, content). Kept local so that the generator
  * does not depend on any engine type. */
final case class SrcRow(repo: String, path: String, commit: String,
                        lang: String, content: String)

/** One generated row of the `documents` table the dedup rows read. */
final case class DocRow(doc_id: Long, text: String, lang: String,
                        source: String, n_chars: Long)

/** A generated query: `kind` is the engine query kind, `label` the mix
  * class it was drawn for (NEEDLE is a FREE query on a unique token). */
final case class Q(label: String, kind: String, text: String)

/** The benchmark's own seeded input generator (the FIXTURES.md §A shape).
  *
  * Every row's random draws come from a SplittableRandom seeded with
  * mix(seed, stream, row index), so a row depends only on the seed and its
  * index: regenerating at any parallelism gives the same bytes, and a
  * different seed gives different bytes. The engine's own synthesizer is
  * deliberately not used, so an engine change cannot change the inputs. */
object Gen {

  def splitmix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def mix(seed: Long, stream: Long, i: Long): Long =
    splitmix(splitmix(splitmix(seed) ^ stream) ^ i)
  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(mix(seed, stream, i))

  // random streams: one per purpose, so adding draws to one never shifts another
  final val SVocab = 1L
  final val SRow = 2L
  final val SDoc = 3L
  final val SQuery = 4L
  final val SDelete = 5L

  final val Langs = Array("scala", "java", "py", "go", "md")
  private val LangCum = Array(4, 7, 10, 12, 13) // weights 4:3:3:2:1
  private val Ext = Map("scala" -> ".scala", "java" -> ".java", "py" -> ".py",
    "go" -> ".go", "md" -> ".md")

  /** Statement templates per language: `$i` is an identifier, `$T` a type
    * name. The literal words are the per-language hot tokens. */
  private val Templates: Map[String, Array[String]] = Map(
    "scala" -> Array(
      "def $i($i: $T): $T = $i.$i($i)",
      "val $i = $i($i, $i)",
      "import $i.$i.$T",
      "object $T extends $T {",
      "  if ($i == $i) return $i"),
    "java" -> Array(
      "public $T $i($T $i) {",
      "  return $i.$i($i);",
      "import $i.$i.$T;",
      "  private final $T $i = new $T($i);",
      "public class $T implements $T {"),
    "py" -> Array(
      "def $i(self, $i, $i):",
      "    return self.$i($i)",
      "import $i",
      "from $i import $T",
      "    self.$i = $i.$i($i)"),
    "go" -> Array(
      "func $i($i $T) $T {",
      "\treturn $i.$i($i)",
      "import \"$i/$i\"",
      "package $i",
      "\t$i := $i($i, $i)"),
    "md" -> Array(
      "# $T $i",
      "the $i and the $i of $i",
      "see $i for $i"))

  private def literalWords(t: String): Int =
    t.replace("$i", " ").replace("$T", " ").split("[^A-Za-z]+").count(_.length >= 2)
  private val TemplateWords: Map[String, Array[Int]] =
    Templates.map { case (l, ts) => l -> ts.map(literalWords) }

  private val Letters = "abcdefghijklmnopqrstuvwxyz"
  private def letters(r: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder(n)
    var k = 0
    while (k < n) { sb.append(Letters.charAt(r.nextInt(26))); k += 1 }
    sb.toString
  }

  /** Log-normal length, clamped. */
  def logNormal(r: SplittableRandom, median: Double, sigma: Double,
                lo: Int, hi: Int): Int =
    math.max(lo, math.min(hi, math.round(median * math.exp(sigma * r.nextGaussian())).toInt))

  /** The seeded vocabulary: 2k lowercase roots, a 50k pool of camelCase /
    * snake_case compounds of 2-3 roots, and a Zipf(1.07) CDF over the pool
    * (rank 0 hottest). */
  final class Vocab(val seed: Long) extends Serializable {
    val roots: Array[String] = {
      val r = rng(seed, SVocab, 0)
      val seen = new java.util.HashSet[String]()
      val out = new ArrayBuffer[String](2000)
      while (out.size < 2000) {
        val w = letters(r, 3 + r.nextInt(6))
        if (seen.add(w)) out += w
      }
      out.toArray
    }
    /** parts(i): the roots of pool identifier i, in order. */
    val parts: Array[Array[String]] = {
      val r = rng(seed, SVocab, 1)
      Array.fill(50000)(Array.fill(2 + r.nextInt(2))(roots(r.nextInt(roots.length))))
    }
    val snake: Array[Boolean] = {
      val r = rng(seed, SVocab, 2)
      Array.fill(parts.length)(r.nextBoolean())
    }
    private val cdf: Array[Double] = {
      val w = Array.tabulate(parts.length)(k => 1.0 / math.pow(k + 1, 1.07))
      val c = new Array[Double](w.length)
      var acc = 0.0
      var k = 0
      while (k < w.length) { acc += w(k); c(k) = acc; k += 1 }
      c.map(_ / acc)
    }
    def zipf(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val k = java.util.Arrays.binarySearch(cdf, u)
      math.min(parts.length - 1, if (k >= 0) k else -k - 1)
    }
    private val idents: Array[String] = Array.tabulate(parts.length) { k =>
      if (snake(k)) parts(k).mkString("_")
      else parts(k).head + parts(k).tail.map(_.capitalize).mkString
    }
    private val typeNames: Array[String] = parts.map(_.map(_.capitalize).mkString)
    def ident(k: Int): String = idents(k)
    def typeName(k: Int): String = typeNames(k)
    /** A Zipf-drawn query term: one root of a Zipf-drawn identifier. */
    def term(r: SplittableRandom): String = {
      val p = parts(zipf(r))
      p(r.nextInt(p.length))
    }
  }

  private def pickLang(r: SplittableRandom): String = {
    val x = r.nextInt(13)
    Langs(LangCum.indexWhere(x < _))
  }

  def sha40(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString.take(40)

  /** Whether row i carries a needle, and its token (10 random letters:
    * never a root, so exactly one document matches it). */
  def needle(seed: Long, i: Long): Option[String] = {
    val r = rng(seed, SRow, i)
    if (r.nextInt(100) == 0) Some(letters(r, 10)) else None
  }

  /** Source file number i. Median ~130 tokens, log-normal in [20, 2000]. */
  def row(v: Vocab, seed: Long, i: Long): SrcRow = {
    val nd = needle(seed, i)
    val r = rng(seed, SRow, i ^ 0x5DEECE66DL)
    val lang = pickLang(r)
    val target = logNormal(r, 130, 0.9, 20, 2000)
    val ts = Templates(lang)
    val tw = TemplateWords(lang)
    val sb = new StringBuilder(target * 9)
    var toks = 0
    val needleAt = if (nd.isDefined) r.nextInt(target) else -1
    var placed = false
    while (toks < target) {
      if (!placed && toks >= needleAt && nd.isDefined) {
        sb.append("// marker uniq_").append(nd.get).append('\n')
        toks += 3
        placed = true
      }
      val t = r.nextInt(ts.length)
      val tpl = ts(t)
      toks += tw(t)
      var c = 0
      while (c < tpl.length) {
        if (tpl.charAt(c) == '$' && c + 1 < tpl.length &&
            (tpl.charAt(c + 1) == 'i' || tpl.charAt(c + 1) == 'T')) {
          val k = v.zipf(r)
          sb.append(if (tpl.charAt(c + 1) == 'i') v.ident(k) else v.typeName(k))
          toks += v.parts(k).length
          c += 2
        } else { sb.append(tpl.charAt(c)); c += 1 }
      }
      sb.append('\n')
    }
    if (!placed && nd.isDefined) sb.append("// marker uniq_").append(nd.get).append('\n')
    val repo = f"repo${i / 1000}%04d"
    val dir = v.ident(v.zipf(r))
    val file = v.ident(v.zipf(r))
    SrcRow(repo, s"src/$dir/${file}_$i${Ext(lang)}", sha40(s"$seed/$repo"), lang,
      sb.toString)
  }

  // ── documents table for the near-duplicate rows ──────────────────────

  /** Role of documents-table row i. */
  sealed trait Role
  case object Base extends Role
  /** An edited copy of base doc `of` (about one word in 20 replaced). */
  final case class Edited(of: Long) extends Role
  /** A fresh larger doc that embeds base doc `sub` whole. */
  final case class Container(sub: Long) extends Role

  private def rawRole(seed: Long, i: Long): Int = {
    val x = rng(seed, SDoc, i).nextInt(100)
    if (x < 3) 1 else if (x < 4) 2 else 0
  }
  private def baseOf(seed: Long, i: Long, n: Long): Long = {
    val r = rng(seed, SDoc, i ^ 0x7F4A7C15L)
    var j = r.nextLong(n)
    while (rawRole(seed, j) != 0) j = r.nextLong(n)
    j
  }
  def role(seed: Long, i: Long, n: Long): Role = rawRole(seed, i) match {
    case 1 => Edited(baseOf(seed, i, n))
    case 2 => Container(baseOf(seed, i, n))
    case _ => Base
  }
  /** About 5% of docs start with the same license-header block. */
  def hasHeader(seed: Long, i: Long): Boolean =
    rng(seed, SDoc, i ^ 0x1234567L).nextInt(100) < 5
  def header(v: Vocab): Array[String] = {
    val r = rng(v.seed, SDoc, -1L)
    Array.fill(40)(v.term(r))
  }

  private def body(v: Vocab, r: SplittableRandom, n: Int): Array[String] = {
    val out = new ArrayBuffer[String](n + 3)
    while (out.size < n) out ++= v.parts(v.zipf(r))
    out.toArray
  }

  /** Words of a base doc: optional header + a log-normal body
    * (median 70 words, at least 20 so that an edited copy of it keeps
    * Jaccard well above 0.5). */
  private def baseWords(v: Vocab, seed: Long, i: Long): Array[String] = {
    val r = rng(seed, SDoc, i ^ 0x3C6EF372L)
    val b = body(v, r, logNormal(r, 70, 0.6, 20, 400))
    if (hasHeader(seed, i)) header(v) ++ b else b
  }

  def docWords(v: Vocab, seed: Long, i: Long, n: Long): Array[String] =
    role(seed, i, n) match {
      case Base => baseWords(v, seed, i)
      case Edited(of) =>
        val r = rng(seed, SDoc, i ^ 0x3C6EF372L)
        baseWords(v, seed, of).map(w => if (r.nextInt(20) == 0) v.term(r) else w)
      case Container(sub) =>
        val r = rng(seed, SDoc, i ^ 0x3C6EF372L)
        val inner = baseWords(v, seed, sub)
        val outer = body(v, r, 2 * inner.length + 20)
        val at = r.nextInt(outer.length)
        outer.take(at) ++ inner ++ outer.drop(at)
    }

  def doc(v: Vocab, seed: Long, i: Long, n: Long): DocRow = {
    val text = docWords(v, seed, i, n).mkString(" ")
    val r = rng(seed, SDoc, i ^ 0x2545F491L)
    DocRow(i, text, pickLang(r), f"src${r.nextInt(50)}%02d", text.length.toLong)
  }

  // ── queries ───────────────────────────────────────────────────────────

  /** Identifier parts of a generated file, in order, split by the
    * generator's own construction rule (never by the engine tokenizer). */
  private val IdentRe = "[A-Za-z]+(?:_[a-z]+)+|[a-z]+(?:[A-Z][a-z]+)+|(?:[A-Z][a-z]+){2,}".r
  def identParts(content: String): Array[Array[String]] =
    IdentRe.findAllIn(content).map(id =>
      id.split("_|(?<=[a-z])(?=[A-Z])").map(_.toLowerCase).filter(_.nonEmpty)).toArray

  /** The kind of query q: every 20 consecutive queries hold exactly 8
    * FREE, 3 AND, 3 OR, 2 PHRASE, 1 NEAR, 1 BOOL, 1 PREFIX and 1 NEEDLE
    * (40/15/15/10/5/5/5/5%), so the mix does not vary with the seed. */
  private val Mix = Array("FREE", "AND", "OR", "FREE", "PHRASE", "FREE", "NEAR", "AND",
    "FREE", "OR", "BOOL", "FREE", "PHRASE", "AND", "FREE", "PREFIX", "OR", "FREE",
    "NEEDLE", "FREE")

  /** Query q over corpus rows [0, nDocs). Terms are Zipf-drawn, so head
    * terms with long posting lists are common; PHRASE and NEAR texts come
    * from generated documents, so they match. */
  def query(v: Vocab, seed: Long, nDocs: Long, q: Long): Q = {
    val r = rng(seed, SQuery, q)
    def terms(n: Int): Seq[String] = Seq.fill(n)(v.term(r)).distinct
    def fromDoc(): Array[Array[String]] = {
      var ps = Array.empty[Array[String]]
      while (ps.length < 2) ps = identParts(row(v, seed, r.nextLong(nDocs)).content)
      ps
    }
    Mix((q % Mix.length).toInt) match {
      case "FREE" => Q("FREE", "FREE", terms(2 + r.nextInt(3)).mkString(" "))
      case "AND" => Q("AND", "AND", terms(2 + r.nextInt(2)).mkString(" AND "))
      case "OR" => Q("OR", "OR", terms(2 + r.nextInt(4)).mkString(" OR "))
      case "PHRASE" =>
        val ps = fromDoc()
        Q("PHRASE", "PHRASE", "\"" + ps(r.nextInt(ps.length)).mkString(" ") + "\"")
      case "NEAR" =>
        val ps = fromDoc()
        val j = r.nextInt(ps.length - 1)
        Q("NEAR", "NEAR", s"${ps(j).head} NEAR/6 ${ps(j + 1).last}")
      case "BOOL" =>
        val t = terms(3)
        if (t.size < 3) Q("BOOL", "BOOL", s"(${t.head} OR ${v.roots(r.nextInt(2000))}) AND ${t.last}")
        else Q("BOOL", "BOOL", s"(${t(0)} OR ${t(1)}) AND ${t(2)}")
      case "PREFIX" => Q("PREFIX", "PREFIX", v.term(r).take(3) + "*")
      case _ =>
        var j = r.nextLong(nDocs)
        while (needle(seed, j).isEmpty) j = r.nextLong(nDocs)
        Q("NEEDLE", "FREE", needle(seed, j).get)
    }
  }

  /** The deletion predicate of round `round`: about 2% of paths. */
  def deleted(seed: Long, round: Int, path: String): Boolean =
    (splitmix(mix(seed, SDelete, round.toLong) ^ path.hashCode.toLong) & 0x7fffffffL) % 50 == 0
}
