package graft.corpus

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.model.CorpusRow

/** Deterministic synthetic source-code corpus — FIXTURES.md §A.
  *
  * Determinism rule (FIXTURES.md): every random draw is seeded by
  * sha256(s"$repo/$path") — a row's content depends only on its natural
  * key, never on generation order or partitioning. Regenerating at any
  * parallelism yields byte-identical tables, which is what makes the
  * per-row sha256 invariant test meaningful (BASELINE.json input_hint).
  *
  * No external data; the word pool is built from a fixed 2k-root
  * vocabulary expanded into camelCase/snake_case compounds (exercises the
  * code-aware splitting of graft.tokenize.Tokenizer), drawn Zipf-ish so
  * hot terms exist (exercises hot-term posting groups, SURVEY §2.3 I10).
  */
object Synthesizer extends Serializable {

  final val Langs: Array[(String, Int)] =
    Array(("scala", 4), ("java", 3), ("py", 3), ("go", 2), ("md", 1))

  /** Fixed 2k-root vocabulary: root_i = consonant-vowel syllables from a
    * deterministic expansion of the index. */
  val Roots: Array[String] = {
    val cons = "bcdfghklmnprstvz"
    val vow = "aeiou"
    val out = new Array[String](2000)
    var i = 0
    while (i < 2000) {
      val sb = new StringBuilder
      var x = i + 7919 // offset so root 0 isn't degenerate
      var s = 0
      while (s < 3) {
        sb.append(cons.charAt(x % cons.length))
        x /= cons.length
        sb.append(vow.charAt(x % vow.length))
        x /= vow.length
        s += 1
      }
      out(i) = sb.toString
      i += 1
    }
    out
  }

  /** 50k-identifier pool: compounds of 1–3 roots joined camelCase or
    * snake_case (alternating deterministically). Zipf-ish draws over this
    * pool use the skewed index trick in [[zipfIndex]]. */
  val Pool: Array[String] = {
    val out = new Array[String](50000)
    var i = 0
    while (i < 50000) {
      val nParts = 1 + (i % 3)
      val parts = Array.tabulate(nParts)(p => Roots((i * 31 + p * 7907) % Roots.length))
      out(i) =
        if (i % 2 == 0) // camelCase
          parts.head + parts.tail.map(_.capitalize).mkString
        else parts.mkString("_")
      i += 1
    }
    out
  }

  /** Per-lang guaranteed-hot tokens (FIXTURES.md: exercises skew). */
  val HotTokens: Map[String, Array[String]] = Map(
    "scala" -> Array("def", "val", "import", "object", "extends", "match"),
    "java" -> Array("public", "static", "void", "import", "return", "class"),
    "py" -> Array("def", "self", "import", "return", "class", "none"),
    "go" -> Array("func", "package", "import", "return", "type", "struct"),
    "md" -> Array("the", "and", "for", "with", "code", "example"))

  def sha256Hex(s: String): String = {
    val d = MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8))
    val sb = new StringBuilder(64)
    d.foreach(b => sb.append(f"${b & 0xff}%02x"))
    sb.toString
  }

  /** First 8 bytes of sha256(key) as a Long — the per-row RNG seed. */
  private def seedOf(key: String): Long = {
    val d = MessageDigest.getInstance("SHA-256")
      .digest(key.getBytes(StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v
  }

  /** Zipf(s≈1.07)-flavored index into [0, n): maps a uniform draw through
    * a power curve so low indices are hot. Pure function of the draw. */
  @inline private def zipfIndex(u: Double, n: Int): Int = {
    val x = math.pow(u, 3.2) // heavier head than tail
    math.min(n - 1, (x * n).toInt)
  }

  private def ext(lang: String): String = lang match {
    case "py" => ".py"
    case "go" => ".go"
    case "md" => ".md"
    case l => "." + l
  }

  /** Deterministic content for one (repo, path, lang): templated
    * function/class bodies; ~1% of files embed a unique needle token
    * `uniq_<sha8>`; length log-normal-ish in [20, 2000] tokens. */
  def contentFor(repo: String, path: String, lang: String): String = {
    val rng = new java.util.SplittableRandom(seedOf(s"$repo/$path"))
    val hot = HotTokens(lang)
    // log-normal-ish token count in [20, 2000]
    val nTokens = {
      val g = rng.nextGaussian()
      math.max(20, math.min(2000, math.exp(4.6 + 0.9 * g).toInt))
    }
    val sb = new StringBuilder(nTokens * 8)
    sb.append(lang match {
      case "scala" => s"package ${repo.replace('-', '.')}\n"
      case "java" => s"package ${repo.replace('-', '.')};\n"
      case "py" => "import os\n"
      case "go" => s"package main\n"
      case _ => s"# ${path}\n"
    })
    var t = 0
    var col = 0
    while (t < nTokens) {
      val tok =
        if (rng.nextDouble() < 0.18) hot(rng.nextInt(hot.length))
        else Pool(zipfIndex(rng.nextDouble(), Pool.length))
      sb.append(tok)
      t += 1
      col += 1
      if (col >= 8) { sb.append(if (rng.nextDouble() < 0.3) " {\n  " else "\n"); col = 0 }
      else sb.append(if (rng.nextDouble() < 0.1) "(" else " ")
    }
    // ~1% needle files, marker derived from the key — globally unique
    if (rng.nextDouble() < 0.01)
      sb.append("\nuniq_").append(sha256Hex(s"$repo/$path").substring(0, 8)).append("\n")
    sb.toString
  }

  /** One fully-derived row from its ordinal. Pure function — safe to call
    * from any partition at any parallelism. */
  def rowFor(i: Long, filesPerRepo: Int): CorpusRow = {
    val repo = f"repo${i / filesPerRepo}%04d"
    val langIdx = {
      // weighted cycle over Langs (total weight 13)
      val w = (i % 13).toInt
      var acc = 0; var j = 0
      while (j < Langs.length && acc + Langs(j)._2 <= w) { acc += Langs(j)._2; j += 1 }
      math.min(j, Langs.length - 1)
    }
    val lang = Langs(langIdx)._1
    val fileNo = i % filesPerRepo
    val dirWord = Pool(((i * 131) % 997).toInt)
    val fileWord = Pool(((i * 31 + 17) % 4999).toInt)
    val path = s"src/$dirWord/$fileWord$fileNo${ext(lang)}"
    val commit = sha256Hex(repo).substring(0, 40)
    CorpusRow(repo, path, commit, lang, contentFor(repo, path, lang))
  }

  /** Distributed generation: `spark.range` → map. Deterministic at any
    * parallelism by the seeding rule above. */
  def corpus(spark: SparkSession, numDocs: Long, filesPerRepo: Int = 40,
             partitions: Int = 0): Dataset[CorpusRow] = {
    import spark.implicits._
    val p = if (partitions > 0) partitions
            else spark.sparkContext.defaultParallelism
    spark.range(0, numDocs, 1, p).map(i => rowFor(i, filesPerRepo))
  }

  /** FIXTURES.md scales. */
  def tiny(spark: SparkSession): Dataset[CorpusRow] = corpus(spark, 200L)
  def small(spark: SparkSession): Dataset[CorpusRow] = corpus(spark, 20000L, 400)
  def bench(spark: SparkSession): Dataset[CorpusRow] = corpus(spark, 200000L, 1000)
}
