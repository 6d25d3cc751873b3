package graft

/** Driver-contract smoke: `SparkEntry.entry` must return rows on sf0.001,
  * and every `oracleSql` key must have a `queries` entry. */
class EntrySpec extends SparkSpec {

  test("entry returns rows on sf0.001") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.toSet == Set("doc_id", "score", "rank"))
  }

  test("every oracleSql key has a queries entry; names are well-formed") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracle without query: ${o.diff(q)}")
    assert(q.forall(_.matches("[a-z0-9_]+")))
    // rows-only (un-oracled) queries are the deliberately approximate
    // ops (murmur3/LSH/PQ signatures, pruned-tail recall), the
    // iterative-trainer surfaces (BPE/unigram), and the iterative
    // longest-match apply (WordPiece) — each exact-gated in scalatest
    assert(q.diff(o) == Set("dedup_simhash", "ann_lsh", "ann_pq",
      "ann_ivfpq", "dedup_semantic", "ft_pruned", "bpe_merges",
      "bpe_tokens", "cluster_topics", "unigram_vocab", "unigram_tokens",
      "wordpiece_tokens"),
      q.diff(o).toString)
  }

  test("snippets cut the exact ±2-token window around each matched position") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val textById = graft.api.DocsIndex.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = graft.api.DocsIndex.snippets(spark, sf, "FREE", "slow table", 8, 2)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (d, term, pos, snip) =
        (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3))
      val toks = graft.tokenize.Tokenizer.tokenize(textById(d))
      assert(toks(pos.toInt - 1) == term, s"doc $d pos $pos")
      val want = toks.slice(math.max(0, pos.toInt - 3),
        math.min(toks.length, pos.toInt + 2)).mkString(" ")
      assert(snip == want, s"doc $d pos $pos: '$snip' vs '$want'")
    }
  }

  test("autocorrect is the identity when the query matches as typed") {
    val sf = "/root/testdata/sf0.001"
    val a = graft.api.DocsIndex.autocorrectRankedHits(spark, sf, "fast merge", 10)
      .collect().map(_.toSeq).toSeq
    val b = graft.api.DocsIndex.rankedHits(spark, sf, "FREE", "fast merge", 10)
      .collect().map(_.toSeq).toSeq
    assert(a == b && a.nonEmpty)
    // zero-hit path: both tokens OOV -> corrected query returns rows
    val c = graft.api.DocsIndex.autocorrectRankedHits(spark, sf, "past tabl", 10)
    assert(c.count() > 0)
  }

  test("lenHistogram == brute-force docLen binning of the match set") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val got = graft.api.DocsIndex.lenHistogram(spark, sf, "FREE", "fast merge", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val docs = graft.api.DocsIndex.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
    val want = docs.flatMap { r =>
      val toks = graft.tokenize.Tokenizer.tokenize(r.getString(1))
      if (toks.contains("fast") || toks.contains("merge"))
        Some((toks.length / 10).toLong * 10)
      else None
    }.groupBy(identity).map { case (b, xs) => (b, xs.length.toLong) }
      .toSeq.sortBy(_._1)
    assert(got == want && got.nonEmpty)
  }

  test("ann radius == brute-force threshold scan; topK-consistency law") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val spark2 = spark
    import spark2.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
    val qs = emb.filter(_._1 < 3).collect().sortBy(_._1)
    val theta = 0.25
    val got = graft.pipeline.Ann.radius(emb, qs, theta).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val all = emb.collect()
    val want = (for {
      (qid, qv) <- qs.toSeq
      (vid, v) <- all if vid != qid
      c = BigDecimal.valueOf(graft.pipeline.Ann.cosine(qv, v))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if c >= theta
    } yield (qid, vid, c)).sortBy(r => (r._1, -r._3, r._2))
    assert(got == want && got.nonEmpty)
    assert(got.forall(_._3 >= theta))
    assert(!got.exists(r => r._1 == r._2)) // self excluded
    // consistency: radius results above a top-k's floor appear in top-k
    val topk = graft.pipeline.Ann.bruteTopK(emb, qs, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    qs.foreach { case (qid, _) =>
      val r5 = got.filter(_._1 == qid).sortBy(r => (-r._3, r._2)).take(5)
      r5.foreach(r => assert(topk((qid, r._2)), s"radius top row $r not in topK"))
    }
  }

  test("lenHistogramMovingPct == brute-force sorted-window nearest rank") {
    val sf = "/root/testdata/sf0.001"
    for (q <- Seq(25, 50, 100); win <- Seq(1, 3)) {
      val got = graft.api.DocsIndex
        .lenHistogramMovingPct(spark, sf, "FREE", "fast merge", 10, win, q)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val hist = graft.api.DocsIndex
        .lenHistogram(spark, sf, "FREE", "fast merge", 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
      val want = hist.indices.map { i =>
        val wl = hist.slice(math.max(0, i - win + 1), i + 1).map(_._2).sorted
        val idx = math.ceil(q * wl.length / 100.0).toInt
        (hist(i)._1, hist(i)._2, wl(idx - 1))
      }
      assert(got == want && got.nonEmpty, s"q=$q win=$win")
      // laws: window 1 is the identity; q=100 is the window max
      if (win == 1) assert(got.forall(r => r._3 == r._2))
      if (q == 100) got.indices.foreach { i =>
        assert(got(i)._3 == hist.slice(math.max(0, i - win + 1), i + 1)
          .map(_._2).max)
      }
    }
  }

  test("hybridLinear == brute-force min-max fusion of the two windows") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val got = graft.api.DocsIndex.hybridLinearRankedHits(spark, sf, "FREE",
      "fast merge sort table", 7L, 30, 0.7, 0.3, 15)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def norm(xs: Seq[(Long, Double)]): Map[Long, Double] = {
      val (mn, mx) = (xs.map(_._2).min, xs.map(_._2).max)
      xs.map { case (d, s) =>
        d -> (if (mx == mn) 1.0 else (s - mn) / (mx - mn))
      }.toMap
    }
    val ft = norm(graft.api.DocsIndex.rankedHits(spark, sf, "FREE",
      "fast merge sort table", 30)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    val spark2 = spark
    import spark2.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
    val seed = emb.filter(col("vec_id") === 7L).collect().head._2
    val ann = norm(graft.pipeline.Ann.bruteTopK(emb, Array((7L, seed)), 30)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq)
    val want = (ft.keySet ++ ann.keySet).toSeq.map { d =>
      val f = 0.7 * ft.getOrElse(d, 0.0) + 0.3 * ann.getOrElse(d, 0.0)
      (d, BigDecimal.valueOf(f).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
    }.sortBy { case (d, s) => (-s, d) }.take(15)
    assert(got == want && got.nonEmpty)
    // laws: fused in [0, 1]; each window's champion carries norm 1.0
    assert(got.forall(r => r._2 >= 0.0 && r._2 <= 1.0))
    assert(ft.values.max == 1.0 && ann.values.max == 1.0)
  }

  test("sortedMatches == the AND match set ordered longest-first") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val got = graft.api.DocsIndex.sortedMatches(spark, sf, "AND", "fast merge", 15)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = graft.api.DocsIndex.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .flatMap { r =>
        val toks = graft.tokenize.Tokenizer.tokenize(r.getString(1))
        if (toks.contains("fast") && toks.contains("merge"))
          Some((r.getLong(0), toks.length.toLong))
        else None
      }
      .sortBy { case (id, dl) => (-dl, id) }.take(15).toSeq
    assert(got == want && got.size == 15)
  }

  test("ltrFeatures == brute-force features; candidates == the ranking") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val got = graft.api.DocsIndex.ltrFeatures(spark, sf, Seq(1L -> "fast merge"), 10)
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getDouble(7)))
    assert(got.length == 10)
    // candidates, ranks and bm25 == the per-query ranked surface
    val ranked = graft.api.DocsIndex.rankedHits(spark, sf, "FREE", "fast merge", 10)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(1))).toSeq
    assert(got.map(t => (t._1, t._2, t._3)).toSeq == ranked)
    // brute-force features from the raw texts
    val texts = graft.api.DocsIndex.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> graft.tokenize.Tokenizer.tokenize(r.getString(1)))
      .toMap
    val n = texts.size.toLong
    def df(t: String) = texts.values.count(_.contains(t)).toLong
    val idf = Map("fast" -> graft.model.BM25.idf(n, df("fast")),
      "merge" -> graft.model.BM25.idf(n, df("merge")))
    got.foreach { case (id, _, _, nm, stf, dl, sidf) =>
      val toks = texts(id)
      val m = Seq("fast", "merge").filter(toks.contains)
      assert(nm == m.length.toLong, s"doc $id n_matched")
      assert(stf == m.map(t => toks.count(_ == t).toLong).sum, s"doc $id sum_tf")
      assert(dl == toks.length.toLong, s"doc $id dl")
      val want = math.floor(m.map(idf).sum * 1e6 + 0.5) / 1e6
      assert(sidf == want, s"doc $id sum_idf")
    }
  }

  test("gaussian decay: identity inside the offset, halved at offset+scale") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val chars = graft.api.DocsIndex.documents(spark, sf)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = graft.api.DocsIndex.decayRankedHits(spark, sf, "FREE",
      "fast merge sort table", 50, 15, origin = 0.0, offset = 100.0,
      scale = 300.0, decayRate = 0.5).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (d, bm25, dec) = (r.getLong(0), r.getDouble(1), r.getDouble(2))
      val x = chars(d).toDouble
      if (x <= 100.0) assert(dec == bm25, s"doc $d inside offset")
      else {
        assert(dec < bm25, s"doc $d must decay")
        val dist = x - 100.0
        val want = math.floor(bm25 *
          math.exp(-dist * dist * math.log(2) / 90000.0) * 1e6 + 0.5) / 1e6
        assert(math.abs(dec - want) <= 1e-6, s"doc $d: $dec vs $want")
      }
    }
  }

  test("exp and linear decay shapes follow the ES parameterization") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val chars = graft.api.DocsIndex.documents(spark, sf)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def run(shape: String) = graft.api.DocsIndex.decayRankedHits(spark, sf,
      "FREE", "fast merge sort table", 50, 15, origin = 0.0, offset = 100.0,
      scale = 300.0, decayRate = 0.5, shape = shape).collect()
    def check(shape: String, mult: Double => Double): Unit =
      run(shape).foreach { r =>
        val (d, bm25, dec) = (r.getLong(0), r.getDouble(1), r.getDouble(2))
        val dist = math.max(0.0, chars(d).toDouble - 100.0)
        if (dist == 0.0) assert(dec == bm25, s"$shape doc $d inside offset")
        else {
          val want = BigDecimal(bm25 * mult(dist))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          assert(math.abs(dec - want) <= 1e-6, s"$shape doc $d: $dec vs $want")
        }
      }
    check("exp", d => math.exp(d * math.log(0.5) / 300.0))
    check("linear", d => math.max(0.0, 1.0 - d * 0.5 / 300.0))
    // each shape's multiplier equals decayRate at distance offset+scale:
    // a doc at exactly that distance halves under every shape (checked
    // analytically — the three formulas all evaluate to 0.5 at d=300)
    assert(math.abs(math.exp(-300.0 * 300.0 * math.log(2) / 90000.0) - 0.5) < 1e-12)
    assert(math.abs(math.exp(300.0 * math.log(0.5) / 300.0) - 0.5) < 1e-12)
    assert(math.abs((1.0 - 300.0 * 0.5 / 300.0) - 0.5) < 1e-12)
    intercept[IllegalArgumentException] {
      graft.api.DocsIndex.decayRankedHits(spark, sf, "FREE", "fast", 10, 5,
        0.0, 0.0, 1.0, 0.5, shape = "triangle")
    }
  }

  test("lenExtendedStats == brute-force stats of the match set") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val got = graft.api.DocsIndex.lenExtendedStats(spark, sf, "FREE",
      "fast merge").collect().head
    val docs = graft.api.DocsIndex.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
    val dls = docs.flatMap { r =>
      val toks = graft.tokenize.Tokenizer.tokenize(r.getString(1))
      if (toks.contains("fast") || toks.contains("merge"))
        Some(toks.length.toLong)
      else None
    }
    assert(dls.nonEmpty)
    def rnd6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val n = dls.length.toLong
    val sum = dls.sum
    val sumsq = dls.map(d => d * d).sum
    assert(got.getLong(0) == n)
    assert(got.getLong(1) == dls.min && got.getLong(2) == dls.max)
    assert(got.getLong(3) == sum)
    val mean = sum.toDouble / n
    val variance = sumsq.toDouble / n - mean * mean
    assert(got.getDouble(4) == rnd6(mean))
    assert(got.getDouble(5) == rnd6(variance))
    assert(got.getDouble(6) == rnd6(math.sqrt(variance)))
    assert(variance > 0.0)
  }

  test("an OOV query gives the same rows as an in-vocabulary query matching nothing") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    import graft.api.DocsIndex
    val sf = "/root/testdata/sf0.001"
    val toks = DocsIndex.documents(spark, sf).select(col("text")).collect()
      .map(r => graft.tokenize.Tokenizer.tokenize(r.getString(0)))
    // some document holds every term of this corpus, so no AND of its
    // terms is empty: the in-vocabulary query with no match is a
    // two-term phrase that no document holds
    val vocab = toks.flatten.distinct.sorted
    val bigrams = toks.flatMap(_.sliding(2).map(_.mkString(" "))).toSet
    val phrase = (for (a <- vocab; b <- vocab if a != b && !bigrams(s"$a $b"))
      yield s"$a $b").head
    val (_, searcher, _) = DocsIndex.get(spark, sf)
    val oov = ("AND", "zzz_not_a_term fast")
    val none = ("PHRASE", "\"" + phrase + "\"")
    assert(searcher.dictLookup(Array("zzz")).isEmpty)
    assert(searcher.matchCount(none._1, none._2) == 0L, phrase)
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq
    val surfaces: Seq[(String, (String, String) => DataFrame)] = Seq(
      "sortedMatches" -> (DocsIndex.sortedMatches(spark, sf, _, _, 10)),
      "lenHistogram" -> (DocsIndex.lenHistogram(spark, sf, _, _, 20)),
      "lenHistogramPipeline" -> (DocsIndex.lenHistogramPipeline(spark, sf, _, _, 20)),
      "lenHistogramMoving" -> (DocsIndex.lenHistogramMoving(spark, sf, _, _, 20, 3, 1)),
      "lenHistogramMovingPct" ->
        (DocsIndex.lenHistogramMovingPct(spark, sf, _, _, 20, 3, 50)),
      "lenHistogramBucketSort" ->
        (DocsIndex.lenHistogramBucketSort(spark, sf, _, _, 20, 0, 5)),
      "statsBucket" -> (DocsIndex.statsBucket(spark, sf, _, _, 20)),
      "lenExtendedStats" -> (DocsIndex.lenExtendedStats(spark, sf, _, _)),
      "langBucketScript" -> (DocsIndex.langBucketScript(spark, sf, _, _, 1L)),
      "topMetricsByLang" -> (DocsIndex.topMetricsByLang(spark, sf, _, _)),
      "boostingRankedHits" -> (DocsIndex.boostingRankedHits(spark, sf,
        "FREE", "fast", _, _, 0.5, 20, 10)),
      "randomScoredHits" -> (DocsIndex.randomScoredHits(spark, sf, _, _, 42L, 10)),
      "diversifiedSample" -> (DocsIndex.diversifiedSample(spark, sf, _, _, 42L, 2)),
      "compositeAgg" -> (DocsIndex.compositeAgg(spark, sf, _, _, 20, None, 10)),
      "lenPercentiles" -> (DocsIndex.lenPercentiles(spark, sf, _, _, Seq(50, 90))),
      "lenRanges" -> (DocsIndex.lenRanges(spark, sf, _, _,
        Seq(("short", 0L, Some(20L)), ("long", 20L, None)))),
      "weightedAvgChars" -> (DocsIndex.weightedAvgChars(spark, sf, _, _)),
      "lenPercentileRanks" ->
        (DocsIndex.lenPercentileRanks(spark, sf, _, _, Seq(10L, 30L))),
      "stringStats" -> (DocsIndex.stringStats(spark, sf, _, _)),
      "multiTermsAgg" -> (DocsIndex.multiTermsAgg(spark, sf, _, _, 20, 5)),
      "lenMad" -> (DocsIndex.lenMad(spark, sf, _, _)),
      "lenBoxplot" -> (DocsIndex.lenBoxplot(spark, sf, _, _)),
      "lenTTest" -> (DocsIndex.lenTTest(spark, sf, _, _, "FREE", "fast")),
      "matrixStats" -> (DocsIndex.matrixStats(spark, sf, _, _)),
      "langCardinality" -> (DocsIndex.langCardinality(spark, sf, _, _)),
      "significantTerms" -> (DocsIndex.significantTerms(spark, sf, _, _, 5)),
      "Searcher.facets" -> (searcher.facets(_, _, "lang")))
    for ((name, f) <- surfaces) {
      val (o, e) = (rows(f.tupled(oov)), rows(f.tupled(none)))
      assert(o == e, s"$name: OOV $o vs no match $e")
    }
    // the aggregates over a whole match set keep their one row when it
    // is empty, as their DuckDB twins do
    for (name <- Seq("lenExtendedStats", "weightedAvgChars", "matrixStats",
        "langCardinality")) {
      val one = rows(surfaces.toMap.apply(name).tupled(oov))
      assert(one.length == 1 && one.head.head == 0L, s"$name: $one")
    }
    // an OOV delete-by-query deletes nothing and commits no delete batch
    val dir = java.nio.file.Files.createTempDirectory("graft-oov-lsm").toString
    val lsm = new graft.api.LsmIndex(spark, dir, graft.build.BuildParams(
      numPartitions = 4, bucketSize = 1L << 12, positional = true))
    lsm.append(DocsIndex.corpus(spark, sf))
    assert(lsm.deleteByQuery(oov._1, oov._2) == 0L)
    assert(lsm.deleteByQuery(none._1, none._2) == 0L)
    assert(graft.index.IndexStorage.tombstoneBatchCount(dir) == 0L)
  }

  test("randomScoredHits == brute-force md5 ordering of the match set") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val got = graft.api.DocsIndex.randomScoredHits(spark, sf, "FREE",
      "fast merge", 42L, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val docs = graft.api.DocsIndex.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
    val want = docs.flatMap { r =>
      val toks = graft.tokenize.Tokenizer.tokenize(r.getString(1))
      if (toks.contains("fast") || toks.contains("merge")) {
        val id = r.getLong(0)
        Some((id, graft.pipeline.PortableHash.md5HexPrefixLong(s"42:$id", 15)))
      } else None
    }.sortBy { case (d, h) => (-h, d) }.take(10)
      .zipWithIndex.map { case ((d, h), i) => (d, h, i + 1L) }.toSeq
    assert(got == want && got.nonEmpty)
    // different seed -> different order (reproducibility is per-seed)
    val other = graft.api.DocsIndex.randomScoredHits(spark, sf, "FREE",
      "fast merge", 43L, 10).collect().map(_.getLong(0)).toSeq
    assert(other != got.map(_._1))
  }

  test("termVectors == re-analysis of the doc + dictionary stats") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val got = graft.api.DocsIndex.termVectors(spark, sf, 7L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got.nonEmpty)
    val text = graft.api.DocsIndex.documents(spark, sf)
      .filter(col("doc_id") === 7L).select(col("text")).head().getString(0)
    val toks = graft.tokenize.Tokenizer.tokenize(text)
    val (seg, _, _) = graft.api.DocsIndex.get(spark, sf)
    val dict = seg.dict.collect().map(e => e.term -> (e.df, e.cf)).toMap
    val tf = toks.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val want = toks.zipWithIndex
      .map { case (t, i) => (t, tf(t), dict(t)._1, dict(t)._2, i + 1L) }
      .sortBy(x => (x._1, x._5)).toSeq
    assert(got == want)
  }

  test("boosting query demotes negative-matching docs by exactly negBoost") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val rows = graft.api.DocsIndex.boostingRankedHits(spark, sf, "FREE",
      "fast merge sort", "FREE", "table", 0.3, 50, 15).collect()
    assert(rows.nonEmpty)
    val negSet = graft.api.DocsIndex.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .filter(r => graft.tokenize.Tokenizer.tokenize(r.getString(1))
        .contains("table"))
      .map(_.getLong(0)).toSet
    var sawNeg = false; var sawPos = false
    rows.foreach { r =>
      val (d, bm25, boosted) = (r.getLong(0), r.getDouble(1), r.getDouble(2))
      if (negSet(d)) {
        sawNeg = true
        val want = BigDecimal(bm25 * 0.3)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(boosted == want, s"doc $d demotion")
      } else { sawPos = true; assert(boosted == bm25, s"doc $d identity") }
    }
    assert(sawNeg && sawPos, "fixture must exercise both branches")
    // output ordered by (boosted desc, doc_id asc) with dense ranks
    val order = rows.map(r => (-r.getDouble(2), r.getLong(0))).toSeq
    assert(order == order.sorted)
    assert(rows.map(_.getLong(3)).toSeq == (1L to rows.length).toSeq)
    intercept[IllegalArgumentException] {
      graft.api.DocsIndex.boostingRankedHits(spark, sf, "FREE", "fast",
        "FREE", "table", 1.0, 10, 5)
    }
  }

  test("topHitsByLang == brute-force per-group top-k of the match set") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val got = graft.api.DocsIndex.topHitsByLang(spark, sf, "FREE",
      "fast merge sort", 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSeq
    assert(got.nonEmpty)
    val (seg, searcher, _) = graft.api.DocsIndex.get(spark, sf)
    val byDocId = seg.docs
      .select(col("docId"), col("path").cast("long").as("doc_id"), col("lang"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val all = searcher.hitsExhaustive("FREE", "fast merge sort",
        seg.stats.numDocs.toInt).collect()
      .map { h =>
        val s = BigDecimal(h.score)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        val (extId, lang) = byDocId(h.docId)
        (lang, extId, s)
      }
    val want = all.groupBy(_._1).toSeq.flatMap { case (_, xs) =>
      xs.sortBy(x => (-x._3, x._2)).take(3).zipWithIndex
        .map { case ((l, d, s), i) => (l, d, s, i + 1L) }
    }.sortBy(x => (x._1, x._4))
    assert(got == want)
    // every lang of the match set is represented
    assert(got.map(_._1).distinct.sorted ==
      all.map(_._1).distinct.sorted.toSeq)
  }

  test("ann_filtered: every neighbor passes the filter; subset-of-unfiltered law") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("ann_filtered")(spark, sf).collect()
    assert(rows.nonEmpty)
    val en = graft.api.DocsIndex.documents(spark, sf)
      .filter(col("lang") === "en").select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet
    assert(rows.forall(r => en(r.getLong(1))), "neighbors must pass the filter")
    // pre-filter law: the filtered top-k == the unfiltered ranking
    // restricted to allowed neighbors, per query
    val unf = SparkEntry.queries("ann_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val gotByQ = rows.map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    gotByQ.foreach { case (q, got) =>
      // compare against the allowed prefix of the unfiltered list where
      // it is long enough to determine the same set
      val allowedPrefix = unf.filter(x => x._1 == q && en(x._2)).map(_._2)
      val overlap = got.map(_._2).toSeq.intersect(allowedPrefix.toSeq)
      assert(overlap == allowedPrefix.take(overlap.length).toSeq)
    }
  }

  test("matrixStats and langCardinality == brute force over the match set") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val docs = graft.api.DocsIndex.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars")).collect()
    val matched = docs.filter { r =>
      val t = graft.tokenize.Tokenizer.tokenize(r.getString(1))
      t.contains("fast") || t.contains("merge")
    }
    assert(matched.nonEmpty)
    def rnd6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val xs = matched.map(r =>
      graft.tokenize.Tokenizer.tokenize(r.getString(1)).length.toLong)
    val ys = matched.map(_.getLong(3))
    val n = matched.length.toDouble
    val (mx, my) = (xs.sum / n, ys.sum / n)
    val vx = xs.map(x => x * x).sum / n - mx * mx
    val vy = ys.map(y => y * y).sum / n - my * my
    val cv = xs.zip(ys).map { case (x, y) => x * y }.sum / n - mx * my
    val got = graft.api.DocsIndex.matrixStats(spark, sf, "FREE", "fast merge")
      .collect().head
    assert(got.getLong(0) == matched.length)
    assert(got.getDouble(1) == rnd6(mx) && got.getDouble(2) == rnd6(my))
    assert(got.getDouble(3) == rnd6(vx) && got.getDouble(4) == rnd6(vy))
    assert(got.getDouble(5) == rnd6(cv))
    assert(got.getDouble(6) == rnd6(cv / math.sqrt(vx * vy)))
    assert(math.abs(got.getDouble(6)) <= 1.0 + 1e-9)
    val card = graft.api.DocsIndex.langCardinality(spark, sf, "FREE",
      "fast merge").collect().head.getLong(0)
    assert(card == matched.map(_.getString(2)).distinct.length.toLong)
  }

  test("filtersAgg == per-filter brute-force counts; batch == singles") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("ft_filters_agg")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val docs = graft.api.DocsIndex.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) ->
        graft.tokenize.Tokenizer.tokenize(r.getString(1)).toSet)
    def cnt(p: Set[String] => Boolean) = docs.count(d => p(d._2)).toLong
    assert(got("has_fast") == cnt(_.contains("fast")))
    assert(got("fast_and_merge") ==
      cnt(t => t.contains("fast") && t.contains("merge")))
    assert(got("fast_or_table") ==
      cnt(t => t.contains("fast") || t.contains("table")))
    assert(got("sor_prefix") == cnt(_.exists(_.startsWith("sor"))))
    assert(got.values.exists(_ > 0))
    // the batch must agree with the single-query count surface
    val (_, searcher, _) = graft.api.DocsIndex.get(spark, sf)
    assert(got("has_fast") ==
      searcher.matchCountCapped("FREE", "fast", Long.MaxValue))
    // an OOV filter counts zero instead of failing the batch
    val withOov = searcher.matchCountsBatch(Seq(
      ("ok", "FREE", "fast"), ("oov", "AND", "zzz_not_a_term fast")))
    assert(withOov("ok") > 0 && withOov("oov") == 0L)
  }

  test("adjacencyAgg == brute-force singles and pairwise intersections") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("ft_adjacency")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val docs = graft.api.DocsIndex.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => graft.tokenize.Tokenizer.tokenize(r.getString(1)).toSet)
    def cnt(p: Set[String] => Boolean) = docs.count(p).toLong
    val fa = (t: Set[String]) => t.contains("fast")
    val fb = (t: Set[String]) => t.contains("sort")
    val fc = (t: Set[String]) => t.contains("merge") && t.contains("table")
    assert(got("a_fast") == cnt(fa))
    assert(got("b_sort") == cnt(fb))
    assert(got("c_merge_table") == cnt(fc))
    assert(got("a_fast&b_sort") == cnt(t => fa(t) && fb(t)))
    assert(got("a_fast&c_merge_table") == cnt(t => fa(t) && fc(t)))
    assert(got("b_sort&c_merge_table") == cnt(t => fb(t) && fc(t)))
    assert(got.size == 6 && got("a_fast&b_sort") > 0)
    // a dead (OOV) filter zeroes itself and every pair it touches,
    // without failing the batch
    val (_, searcher, _) = graft.api.DocsIndex.get(spark, sf)
    val withOov = searcher.adjacencyCounts(Seq(
      ("ok", "FREE", "fast"), ("oov", "AND", "zzz_not_a_term fast")))
    assert(withOov("ok") > 0 && withOov("oov") == 0L &&
      withOov("ok&oov") == 0L)
  }

  test("rareTerms == brute-force df<=max tail; subset/threshold laws") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("ft_rare_terms")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val df = graft.api.DocsIndex.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .flatMap(r => graft.tokenize.Tokenizer.tokenize(r.getString(1))
        .distinct.map(_ -> 1L))
      .groupBy(_._1).map { case (t, xs) => t -> xs.length.toLong }
    val expect = df.filter(_._2 <= 100L).toSeq.sortBy(_._1)
    assert(got.toSeq == expect)
    assert(got.nonEmpty && got.forall(_._2 <= 100L) &&
      got.map(_._1).sorted.sameElements(got.map(_._1)))
  }

  test("diversifiedSample == brute-force per-lang hash cap; seed-sensitive") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("ft_sampler_div")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    def hash15(seed: Long, id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$seed:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val docs = graft.api.DocsIndex.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        graft.tokenize.Tokenizer.tokenize(r.getString(2)).toSet))
    val m = docs.filter(d => d._3.contains("fast") || d._3.contains("merge"))
    val expect = m.map(d => (d._2, d._1, hash15(7L, d._1)))
      .groupBy(_._1).toSeq.flatMap { case (_, xs) =>
        xs.sortBy(x => (x._3, x._2)).take(3)
      }.sortBy(x => (x._1, x._3, x._2))
    assert(got.toSeq == expect)
    assert(got.groupBy(_._1).forall(_._2.length <= 3))
    val other = graft.api.DocsIndex.diversifiedSample(
      spark, sf, "OR", "fast merge", 8L, 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(other.toSeq != got.toSeq, "seed must change the sample")
  }

  test("compositeAgg pages partition the full bucket list in key order") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    // full bucket list = one unbounded first page
    val all = graft.api.DocsIndex.compositeAgg(
      spark, sf, "OR", "fast merge", 16, None, Int.MaxValue).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // brute force from raw text
    val docs = graft.api.DocsIndex.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map { r =>
        val toks = graft.tokenize.Tokenizer.tokenize(r.getString(2))
        (r.getString(1), toks.length.toLong, toks.toSet)
      }
    val expect = docs
      .filter(d => d._3.contains("fast") || d._3.contains("merge"))
      .map(d => (d._1, d._2 / 16 * 16))
      .groupBy(identity).toSeq
      .map { case ((l, b), xs) => (l, b, xs.length.toLong) }
      .sortBy(x => (x._1, x._2))
    assert(all == expect)
    // paging: walking size-3 pages by after-key reconstructs the list
    var after: Option[(String, Long)] = None
    val walked = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Long)]
    var page = 0
    while ({
      val rows = graft.api.DocsIndex.compositeAgg(
        spark, sf, "OR", "fast merge", 16, after, 3).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      walked ++= rows
      after = rows.lastOption.map(r => (r._1, r._2))
      page += 1
      rows.nonEmpty && page < 50
    }) ()
    assert(walked.toSeq == all)
  }

  test("lenPercentiles == brute-force nearest-rank over the match set") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("ft_percentiles")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val dls = graft.api.DocsIndex.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => graft.tokenize.Tokenizer.tokenize(r.getString(1)))
      .filter(t => t.contains("fast") || t.contains("merge"))
      .map(_.length.toLong).sorted
    val n = dls.length.toLong
    val expect = Seq(25, 50, 75, 95).map { p =>
      val rank = (p.toLong * n + 99L) / 100L
      (p.toLong, dls((rank - 1).toInt))
    }
    assert(got == expect && n > 0)
    // p=100 is the max; p=1 is rank ceil(n/100); percentiles are monotone
    val edges = graft.api.DocsIndex.lenPercentiles(
      spark, sf, "FREE", "fast merge", Seq(1, 100)).collect()
      .map(r => r.getLong(1))
    assert(edges.last == dls.max &&
      edges.head == dls(((n + 99L) / 100L - 1L).toInt))
    assert(got.map(_._2) == got.map(_._2).sorted)
  }

  test("mixtureSample == brute-force per-domain hash acceptance") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("mixture_sample")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val docs = graft.api.DocsIndex.documents(spark, sf)
      .select(col("doc_id"), col("lang")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val counts = docs.groupBy(_._2).map { case (l, xs) => l -> xs.length.toLong }
    val n = counts.values.sum.toDouble
    val z = counts.values.map(c => math.pow(c / n, 0.5)).sum
    def rnd6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val weight = counts.map { case (l, c) =>
      val p = c / n; l -> rnd6(math.pow(p, 0.5) / z / p)
    }
    val maxW = weight.values.max
    val rMicro = weight.map { case (l, w) =>
      l -> math.floor(w / maxW * 1e6 + 0.5).toLong
    }
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(6), 16) % 1000000L
    }
    val expect = docs.filter { case (id, l) => bucket(id) < rMicro(l) }
      .sortBy(_._1).toSeq
    assert(got == expect && got.nonEmpty)
    // the max-weight (most under-represented) domain keeps everything
    val keepAll = rMicro.maxBy(_._2)._1
    val all = docs.filter(_._2 == keepAll).map(_._1).toSet
    assert(all.subsetOf(got.filter(_._2 == keepAll).map(_._1).toSet))
    // every other domain is strictly thinned toward the target
    assert(got.size < docs.length)
  }

  test("chunkDocs: coverage, overlap, and manifest laws") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("chunk_docs")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val dls = graft.api.DocsIndex.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) ->
        graft.tokenize.Tokenizer.tokenize(r.getString(1)).length.toLong)
      .toMap
    assert(got.nonEmpty)
    got.groupBy(_._1).foreach { case (id, chunks) =>
      val dl = dls(id)
      val sorted = chunks.sortBy(_._2)
      // chunk ids dense from 0; starts advance by the stride
      assert(sorted.map(_._2).toSeq == (0L until sorted.length.toLong))
      sorted.foreach { case (_, c, start, nt) =>
        assert(start == c * 24 + 1 && nt >= 1 && nt <= 32)
        assert(start + nt - 1 <= dl)
      }
      // full coverage: last chunk reaches the end, consecutive chunks
      // overlap by exactly 8 (or the doc has one chunk)
      assert(sorted.last._3 + sorted.last._4 - 1 == dl)
      sorted.toSeq.sliding(2).foreach {
        case Seq(a, b) =>
          assert(a._3 + a._4 - 1 >= b._3 - 1, s"gap in doc $id")
        case _ =>
      }
    }
    // every non-empty doc appears
    assert(got.map(_._1).toSet == dls.filter(_._2 > 0).keySet)
  }

  private def matchDls(sf: String): Seq[Long] = {
    import org.apache.spark.sql.functions.col
    graft.api.DocsIndex.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => graft.tokenize.Tokenizer.tokenize(r.getString(1)))
      .filter(t => t.contains("fast") || t.contains("merge"))
      .map(_.length.toLong).toSeq
  }

  test("lenRanges == brute-force [lo,hi) counts; ES range-agg laws") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("ft_range_agg")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val dls = matchDls(sf)
    val expect = Seq(("short", 0L, Some(30L)), ("long", 60L, None),
      ("mid", 30L, Some(60L))).map { case (k, lo, hi) =>
      (k, lo, hi.getOrElse(Long.MaxValue),
        dls.count(d => d >= lo && hi.forall(d < _)).toLong)
    }.sortBy(r => (r._2, r._1))
    assert(got.toSeq == expect)
    // disjoint covering ranges partition the match set
    assert(got.map(_._4).sum == dls.length.toLong && dls.nonEmpty)
    // empty ranges still report (count 0); overlap counts a doc twice
    val extra = graft.api.DocsIndex.lenRanges(spark, sf, "FREE",
      "fast merge", Seq(("none", 1000000L, Some(1000001L)),
        ("all", 0L, None), ("dup_all", 0L, None))).collect()
      .map(r => (r.getString(0), r.getLong(3))).toMap
    assert(extra("none") == 0L && extra("all") == dls.length.toLong &&
      extra("dup_all") == dls.length.toLong)
  }

  test("weightedAvgChars == brute-force exact-sum weighted mean") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("ft_weighted_avg")(spark, sf).collect()
    val rows = graft.api.DocsIndex.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("n_chars")).collect()
      .map(r => (graft.tokenize.Tokenizer.tokenize(r.getString(1)),
        r.getLong(2)))
      .filter { case (t, _) => t.contains("fast") || t.contains("merge") }
    val wSum = rows.map(_._1.length.toLong).sum
    val vwSum = rows.map { case (t, nc) => nc * t.length.toLong }.sum
    val wavg = math.floor(vwSum.toDouble / wSum * 1e6 + 0.5) / 1e6
    assert(got.length == 1 && rows.nonEmpty)
    assert(got(0).getLong(0) == rows.length.toLong &&
      got(0).getLong(1) == wSum && got(0).getDouble(2) == wavg)
  }

  test("lenHistogramPipeline == brute-force cumsum/derivative laws") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("ft_hist_pipeline")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val dls = matchDls(sf)
    val hist = dls.groupBy(d => d / 10 * 10).map { case (b, xs) =>
      (b, xs.length.toLong)
    }.toSeq.sortBy(_._1)
    val expect = hist.zipWithIndex.map { case ((b, n), i) =>
      (b, n, hist.take(i + 1).map(_._2).sum,
        if (i == 0) 0L else n - hist(i - 1)._2)
    }
    assert(got.toSeq == expect && expect.nonEmpty)
    // pipeline laws: first derivative 0 (explicit-zero), last cumsum = n
    assert(got.head._4 == 0L && got.last._3 == dls.length.toLong)
  }

  test("mixtureRepeat == brute-force repetition manifest; repeat laws") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("mixture_repeat")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val docs = graft.api.DocsIndex.documents(spark, sf)
      .select(col("doc_id"), col("lang")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val counts = docs.groupBy(_._2).map { case (l, xs) => l -> xs.length.toLong }
    val n = counts.values.sum.toDouble
    val z = counts.values.map(c => math.pow(c / n, 0.5)).sum
    def rnd6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val weight = counts.map { case (l, c) =>
      val p = c / n; l -> rnd6(math.pow(p, 0.5) / z / p)
    }
    val minW = weight.values.min
    val rMicro = weight.map { case (l, w) =>
      l -> math.floor(w / minW * 1e6 + 0.5).toLong
    }
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(6), 16) % 1000000L
    }
    val expect = docs.flatMap { case (id, l) =>
      val r = rMicro(l)
      val nc = r / 1000000L + (if (bucket(id) < r % 1000000L) 1L else 0L)
      (0L until nc).map(c => (id, l, c))
    }.sortBy(r => (r._1, r._3)).toSeq
    assert(got == expect && got.nonEmpty)
    // every doc appears at least once; the min-weight (most
    // over-represented) domain repeats exactly once per doc
    assert(got.map(_._1).toSet == docs.map(_._1).toSet)
    val once = rMicro.minBy(_._2)._1
    assert(rMicro(once) == 1000000L)
    assert(got.filter(_._2 == once).groupBy(_._1).values.forall(_.size == 1))
    // some under-represented doc repeats (the manifest grows the corpus)
    assert(got.size > docs.length)
  }

  test("pinnedRankedHits: promoted order, existence drop, organic tail") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("ft_pinned")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == 15)
    // pinned ids first, in the GIVEN order, unscored; nonexistent id gone
    assert(got(0) == ((7L, 1L, 0.0)) && got(1) == ((3L, 2L, 0.0)))
    assert(!got.map(_._1).contains(999999999L))
    // organic tail = rankedHits minus the pinned ids, order preserved
    val organic = graft.api.DocsIndex.rankedHits(
        spark, sf, "FREE", "fast merge", 15).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .filter(r => r._1 != 7L && r._1 != 3L).take(13)
    assert(got.drop(2).map(_._1).toSeq == organic.map(_._1).toSeq)
    assert(got.drop(2).map(_._3).toSeq == organic.map(_._2).toSeq)
    assert(got.drop(2).forall(_._3 > 0.0))
    assert(got.map(_._2).toSeq == (1L to 15L))
  }

  test("rankFeatureRankedHits == brute-force saturation rescore; laws") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("ft_rank_feature")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4)))
    val nc = graft.api.DocsIndex.documents(spark, sf)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    def rnd(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val win = graft.api.DocsIndex.rankedHits(
        spark, sf, "FREE", "fast merge sort table", 50).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val expect = win.map { case (id, b) =>
      val f = 2.0 * nc(id) / (nc(id) + 1000.0)
      (id, b, rnd(f), rnd(b + f))
    }.sortBy(r => (-r._4, r._1)).take(15)
      .zipWithIndex.map { case ((id, b, f, t), i) => (id, b, f, t, i + 1L) }
    assert(got.toSeq == expect.toSeq && got.nonEmpty)
    // boost = 0 collapses to the plain BM25 ordering bit-identically
    val zero = graft.api.DocsIndex.rankFeatureRankedHits(
        spark, sf, "FREE", "fast merge sort table", 50, 15, 1000.0, 0.0)
      .collect().map(r => (r.getLong(0), r.getDouble(3)))
    val plain = graft.api.DocsIndex.rankedHits(
        spark, sf, "FREE", "fast merge sort table", 15).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(zero.toSeq == plain.toSeq)
  }

  test("termSuggest == brute-force Levenshtein over the dictionary") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("ft_term_suggest")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val docTokens = graft.api.DocsIndex.documents(spark, sf)
      .select(col("text")).collect()
      .map(r => graft.tokenize.Tokenizer.tokenize(r.getString(0)).distinct)
    val df = docTokens.flatten.groupBy(identity)
      .map { case (t, xs) => t -> xs.length.toLong }
    val expect = Seq("fsat", "merg").flatMap { inp =>
      assert(!df.contains(inp), s"test input '$inp' must be OOV")
      df.toSeq.map { case (t, d) =>
          (t, graft.search.Searcher.editDistance(t, inp, 2).toLong, d)
        }
        .filter(_._2 <= 2L)
        .sortBy { case (t, dist, d) => (dist, -d, t) }
        .take(5).zipWithIndex
        .map { case ((t, dist, d), i) => (inp, t, dist, d, i + 1L) }
    }
    assert(got.toSeq == expect && got.nonEmpty)
    // 'table' exists in the dictionary -> suggest_mode=missing skips it
    assert(df.contains("table") && !got.exists(_._1 == "table"))
  }

  test("keepBest == brute-force per-cluster quality argmax; laws") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val docs = graft.api.DocsIndex.documents(spark, sf)
    val got = SparkEntry.queries("dedup_keep_best")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val pairs = graft.pipeline.Dedup
      .minhashLshPairs(docs, 3, 64, 16, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val quality = graft.pipeline.TextStats.quality(docs)
      .select(col("doc_id"), col("quality")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    // driver union-find over the pair graph
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = (pairs.flatMap(p => Seq(p._1, p._2)).distinct)
      .groupBy(find)
    val winners = members.values.map { ms =>
      val best = ms.minBy(id => (-quality(id), id))
      (best, ms.length.toLong, quality(best))
    }.toSeq
    val singles = quality.keySet.diff(
        members.values.flatten.toSet)
      .map(id => (id, 1L, quality(id))).toSeq
    val expect = (winners ++ singles).sortBy(_._1)
    assert(got == expect && winners.nonEmpty)
    // exactly one survivor per cluster; winner quality bounds its cluster
    members.values.foreach { ms =>
      val kept = got.filter(g => ms.contains(g._1))
      assert(kept.size == 1)
      assert(ms.forall(quality(_) <= kept.head._3))
    }
  }

  test("mixtureWeights == brute-force temperature mixture; alpha laws") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("mixture_weights")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getLong(5)))
    val counts = graft.api.DocsIndex.documents(spark, sf)
      .select(col("lang")).collect().map(_.getString(0))
      .groupBy(identity).map { case (l, xs) => l -> xs.length.toLong }
    val n = counts.values.sum.toDouble
    val z = counts.values.map(c => math.pow(c / n, 0.5)).sum
    def rnd6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val expect = counts.toSeq.sortBy(_._1).map { case (l, c) =>
      val p = c / n
      val q = math.pow(p, 0.5) / z
      (l, c, rnd6(p), rnd6(q), rnd6(q / p),
        math.floor(10000 * q + 0.5).toLong)
    }
    assert(got.toSeq == expect)
    // α smoothing up-samples the tail (weight > 1) and down-samples the
    // head (weight < 1); α = 1 is the identity mixture
    val minority = got.minBy(_._2)
    val majority = got.maxBy(_._2)
    assert(minority._5 > 1.0 && majority._5 < 1.0)
    val id = graft.pipeline.Curation.mixtureWeights(
      graft.api.DocsIndex.documents(spark, sf), 1.0, 10000L).collect()
    assert(id.forall(r => r.getDouble(4) == 1.0),
      "alpha=1 must keep natural proportions")
    intercept[IllegalArgumentException] {
      graft.pipeline.Curation.mixtureWeights(
        graft.api.DocsIndex.documents(spark, sf), 0.0, 10L)
    }
  }

  test("lenHistogramMoving == brute-force window ops over the histogram") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("ft_mov_avg")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSeq
    val hist = graft.api.DocsIndex.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => graft.tokenize.Tokenizer.tokenize(r.getString(1)))
      .filter(t => t.contains("fast") || t.contains("merge"))
      .map(t => t.length / 10 * 10L)
      .groupBy(identity).map { case (b, xs) => (b, xs.length.toLong) }
      .toSeq.sortBy(_._1)
    def rnd6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val expect = hist.zipWithIndex.map { case ((bin, n), i) =>
      val win = hist.slice(math.max(0, i - 2), i + 1).map(_._2)
      val sdiff = if (i >= 2) n - hist(i - 2)._2 else 0L
      (bin, n, rnd6(win.sum.toDouble / win.length), sdiff)
    }
    assert(got == expect && got.size >= 3)
    // law: the first bucket's moving average is its own count
    assert(got.head._3 == got.head._2.toDouble)
  }

  test("multiTermsAgg == brute-force compound top-k by count") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("ft_multiterms")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val buckets = graft.api.DocsIndex.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .flatMap { r =>
        val toks = graft.tokenize.Tokenizer.tokenize(r.getString(2))
        if (toks.contains("fast") || toks.contains("merge"))
          Some((r.getString(1), toks.length / 16 * 16L))
        else None
      }
      .groupBy(identity).map { case ((l, b), xs) => (l, b, xs.length.toLong) }
      .toSeq.sortBy { case (l, b, n) => (-n, l, b) }.take(10)
    assert(got == buckets && got.nonEmpty)
    // law: counts are non-increasing down the page
    assert(got.map(_._3) == got.map(_._3).sortBy(-_))
  }

  test("lenMad + lenBoxplot == brute-force nearest-rank forms") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val dls = graft.api.DocsIndex.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => graft.tokenize.Tokenizer.tokenize(r.getString(1)))
      .filter(t => t.contains("fast") || t.contains("merge"))
      .map(_.length.toLong).sorted
    val n = dls.length.toLong
    def nr(sorted: Seq[Long], p: Int): Long = {
      val rank = (p.toLong * n + 99L) / 100L
      sorted((rank - 1).toInt)
    }
    val med = nr(dls, 50)
    val devs = dls.map(d => math.abs(d - med)).sorted
    val mad = SparkEntry.queries("ft_mad")(spark, sf).collect().head
    assert((mad.getLong(0), mad.getLong(1), mad.getLong(2)) ==
      ((n, med, nr(devs, 50))))
    val bp = SparkEntry.queries("ft_boxplot")(spark, sf).collect().head
    val (q1, q3) = (nr(dls, 25), nr(dls, 75))
    assert((bp.getLong(0), bp.getLong(1), bp.getLong(2), bp.getLong(3),
      bp.getLong(4), bp.getLong(5), bp.getLong(6)) ==
      ((n, dls.min, q1, med, q3, dls.max, q3 - q1)))
    // laws: quartiles are monotone and bounded by the extremes
    assert(dls.min <= q1 && q1 <= med && med <= q3 && q3 <= dls.max)
  }

  test("lenTTest == brute-force Welch t over the two match sets") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("ft_ttest")(spark, sf).collect().head
    val docs = graft.api.DocsIndex.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => graft.tokenize.Tokenizer.tokenize(r.getString(1)))
    def sideOf(term: String): Array[Long] =
      docs.filter(_.contains(term)).map(_.length.toLong)
    val a = sideOf("fast"); val b = sideOf("merge")
    def rnd6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def moments(xs: Array[Long]): (Long, Long, Long) =
      (xs.length.toLong, xs.sum, xs.map(x => x * x).sum)
    val (na, sa, qa) = moments(a); val (nb, sb, qb) = moments(b)
    val (ma, mb) = (sa.toDouble / na, sb.toDouble / nb)
    val va = (qa.toDouble - sa.toDouble * sa / na) / (na - 1)
    val vb = (qb.toDouble - sb.toDouble * sb / nb) / (nb - 1)
    val t = (ma - mb) / math.sqrt(va / na + vb / nb)
    assert(got.getLong(0) == na && got.getLong(1) == nb)
    assert(got.getDouble(2) == rnd6(ma) && got.getDouble(3) == rnd6(mb))
    assert(got.getDouble(4) == rnd6(t))
    // law: swapping the sides negates the unrounded statistic
    val swapped = graft.api.DocsIndex.lenTTest(
      spark, sf, "FREE", "merge", "FREE", "fast").collect().head
    assert(math.abs(swapped.getDouble(4) + got.getDouble(4)) <= 2e-6)
  }

  test("lenPercentileRanks == brute-force cumulative shares") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("ft_pct_ranks")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val dls = graft.api.DocsIndex.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => graft.tokenize.Tokenizer.tokenize(r.getString(1)))
      .filter(t => t.contains("fast") || t.contains("merge"))
      .map(_.length.toLong)
    val n = dls.length
    val expect = Seq(40L, 80L, 120L, 100000L).map { v =>
      (v, math.floor(100.0 * dls.count(_ <= v) / n * 1e6 + 0.5) / 1e6)
    }
    assert(got == expect && got.nonEmpty)
    // laws: cumulative shares are monotone in v; a probe ≥ max is 100%
    assert(got.map(_._2) == got.map(_._2).sorted)
    assert(got.last._2 == 100.0)
  }

  test("lenHistogramBucketSort == brute-force count-desc page with shares") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("ft_bucket_sort")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val hist = graft.api.DocsIndex.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => graft.tokenize.Tokenizer.tokenize(r.getString(1)))
      .filter(t => t.contains("fast") || t.contains("merge"))
      .map(t => t.length / 10 * 10L)
      .groupBy(identity).map { case (b, xs) => (b, xs.length.toLong) }.toSeq
    val total = hist.map(_._2).sum
    def rnd6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val full = hist.map { case (b, c) => (b, c, rnd6(100.0 * c / total)) }
      .sortBy { case (b, c, _) => (-c, b) }
    val expect = full.slice(1, 5)
    assert(got == expect && got.nonEmpty)
    // law: shares are normalized over ALL buckets (pre-cut), so the
    // full ordering's shares sum to ~100
    assert(math.abs(full.map(_._3).sum - 100.0) <= 1e-4)
  }

  test("stringStats == brute-force lengths + char entropy") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("ft_string_stats")(spark, sf).collect().head
    val srcs = graft.api.DocsIndex.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .flatMap { r =>
        val toks = graft.tokenize.Tokenizer.tokenize(r.getString(2))
        if (toks.contains("fast") || toks.contains("merge"))
          Some(r.getString(1))
        else None
      }
    def rnd6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val n = srcs.length.toLong
    assert(got.getLong(0) == n && n > 0)
    assert(got.getLong(1) == srcs.map(_.length).min.toLong)
    assert(got.getLong(2) == srcs.map(_.length).max.toLong)
    assert(got.getDouble(3) ==
      rnd6(srcs.map(_.length.toLong).sum.toDouble / n))
    val chars = srcs.flatMap(_.toSeq)
    val t = chars.length.toDouble
    val ent = -chars.groupBy(identity).toSeq.sortBy(_._1).map {
      case (_, xs) =>
        val p = xs.length / t; p * math.log(p) / math.log(2.0)
    }.sum
    assert(math.abs(got.getDouble(4) - rnd6(ent)) <= 1e-6)
    // laws: entropy is non-negative and bounded by log2(|distinct chars|)
    assert(got.getDouble(4) >= 0.0)
    assert(got.getDouble(4) <=
      math.log(chars.distinct.length.toDouble) / math.log(2.0) + 1e-9)
  }

  test("statsBucket == brute-force reduction; sum_docs is the match count") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("ft_stats_bucket")(spark, sf).collect().head
    val hist = graft.api.DocsIndex.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => graft.tokenize.Tokenizer.tokenize(r.getString(1)))
      .filter(t => t.contains("fast") || t.contains("merge"))
      .map(t => t.length / 10 * 10L)
      .groupBy(identity).map { case (b, xs) => (b, xs.length.toLong) }.toSeq
    def rnd6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    assert(got.getLong(0) == hist.length.toLong)
    assert(got.getLong(1) == hist.map(_._2).min)
    assert(got.getLong(2) == hist.map(_._2).max)
    assert(got.getLong(3) == hist.map(_._2).sum)
    assert(got.getDouble(4) ==
      rnd6(hist.map(_._2).sum.toDouble / hist.length))
    // law: every matching doc lands in exactly one bin
    val matchCount = graft.api.DocsIndex.documents(spark, sf)
      .select(col("text")).collect()
      .map(r => graft.tokenize.Tokenizer.tokenize(r.getString(0)))
      .count(t => t.contains("fast") || t.contains("merge"))
    assert(got.getLong(3) == matchCount.toLong)
  }

  test("all queries run and return rows on sf0.001") {
    val sf = "/root/testdata/sf0.001"
    val empties = Seq("dedup_exact", "q_anti_join") // legitimately empty at this sf
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n >= 0, name)
      if (!empties.contains(name))
        assert(n > 0, s"$name returned no rows at sf0.001")
    }
  }
}
