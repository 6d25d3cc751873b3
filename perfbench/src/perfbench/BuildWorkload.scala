package perfbench

import java.nio.charset.StandardCharsets

/** `build`: headline index-build throughput. Tokenize, build and codec
  * encode do almost all the work; search is absent.
  *
  * Set-up writes the corpus to parquet and runs untimed warm-up builds of
  * a slice of it: the first builds in a JVM are slow while the JIT
  * compiles the build path. Timed: positional `SegmentBuilder.build`
  * (numPartitions = nproc) + `IndexStorage.write` of the whole corpus,
  * `c.reps` times. */
object BuildWorkload {
  /** Large enough that the per-build fixed cost is a minority of a build:
    * warm builds of 15k, 30k and 60k docs took 6.1, 8.2 and 14.4 s, about
    * 3.3 s fixed and 0.185 ms per doc, so a fixed quarter here. */
  val Docs = 60000L
  val WarmDocs = 10000L
  val WarmBuilds = 2

  def run(c: Ctx): Unit = {
    import c.spark.implicits._
    val corpus = s"${c.work}/corpus"
    val warmCorpus = s"${c.work}/corpus-warm"
    c.setup("generate corpus") {
      c.rows(0, Docs).write.parquet(corpus)
      c.rows(0, WarmDocs).write.parquet(warmCorpus)
    }
    // the independent expectation: per-doc token and distinct-term counts
    val (expTokens, expPostings, inputBytes) = c.setup("expected counts")(c.spark.read.parquet(corpus)
      .select($"content").as[String]
      .map { s =>
        val t = Engine.tokenize(s)
        (t.length.toLong, t.distinct.length.toLong, s.getBytes(StandardCharsets.UTF_8).length.toLong)
      }
      .reduce((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3)))

    var lastDir = ""
    /** One build + write; returns its wall time in ms. */
    def buildOnce(i: Int, dir: String, docs: Long): Option[Double] = c.attempt {
      val ts = System.nanoTime()
      val b = c.span("SegmentBuilder.build")(
        Engine.buildParquet(c.spark, dir, c.nproc, positional = true))
      val segDir = c.span("IndexStorage.write")(Engine.write(b.seg, s"${c.work}/index-$i"))
      val wall = (System.nanoTime() - ts) / 1e6
      Engine.unpersist(b.seg)
      c.res.check(s"build $i: segment docs == corpus rows", b.docs == docs, s"${b.docs} != $docs")
      if (docs == Docs) {
        c.res.check(s"build $i: postings == independent aggregation", b.postings == expPostings,
          s"${b.postings} != $expPostings")
        c.res.check(s"build $i: tokens == independent aggregation", b.tokens == expTokens,
          s"${b.tokens} != $expTokens")
      }
      if (c.tracer.on) {
        c.res.layer("build.postings", b.postings.toDouble)
        c.res.layer("build.tokens", b.tokens.toDouble)
      }
      if (lastDir.nonEmpty) c.rmTree(lastDir)
      lastDir = segDir
      wall
    }
    c.setup("warm-up builds")((1 to WarmBuilds).foreach(i => buildOnce(-i, warmCorpus, WarmDocs)))

    c.startTimed()
    val walls = (0 until c.reps(16.0)).flatMap(i => buildOnce(i, corpus, Docs))
    c.stopTimed()
    val indexBytes = c.dirBytes(lastDir)
    c.res.e2e("throughput_per_s") = (Docs * walls.size / (walls.sum / 1e3), "1/s")
    c.res.e2e("latency_ms") = (walls.sum / walls.size, "ms")
    c.res.note(f"build_docs_per_s=${Docs * walls.size / (walls.sum / 1e3)}%.1f over ${walls.size} " +
      f"builds of $Docs docs (${walls.map(w => f"$w%.0f").mkString(", ")} ms); " +
      f"index_bytes_per_input_byte=${indexBytes.toDouble / inputBytes}%.4f")

    if (c.tracer.on) {
      c.tracer.drain()
      Spans.build(c, c.timedSpans("SegmentBuilder.build"))
      c.res.layer("index.write_ms", Stats.median(c.timedSpans("IndexStorage.write").map(_.durNs / 1e6)))
      c.res.layer("index.bytes", indexBytes.toDouble)
      c.res.layer("index.bytes_per_input_byte", indexBytes.toDouble / inputBytes)
      Kernels.tokenize(c)
      Kernels.codec(c, Engine.read(c.spark, lastDir))
      // the serving-tier layers, which only the ungated `serve` workload
      // loads heavily
      ServeWorkload.probe(c, lastDir, Docs)
    }
  }
}
