package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.{Ann, AnnIndex, Dedup, MediaRow, Multimodal, TextStats}

/** Training-data pipeline operators — dedup, ANN, text stats, multimodal
  * plumbing. Approximate paths (MinHash-LSH, SimHash banding, vector LSH)
  * are checked against their exact brute-force counterparts. */
class PipelineSpec extends SparkSpec {

  /** Small synthetic doc table with planted near-duplicates. */
  lazy val docs: DataFrame = {
    import spark.implicits._
    val rng = new java.util.SplittableRandom(7)
    val vocab = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "la", "mu", "nu", "xi", "omicron")
    val base = (0 until 60).map { i =>
      (i.toLong, Array.fill(30 + rng.nextInt(20))(vocab(rng.nextInt(vocab.length))).mkString(" "))
    }
    // plant near-dups: docs 100+i = doc i with one word changed
    val dups = (0 until 10).map { i =>
      val ws = base(i)._2.split(" ")
      ws(ws.length / 2) = "mutated"
      ((100 + i).toLong, ws.mkString(" "))
    }
    // plant one exact dup pair
    val exact = Seq((200L, base(0)._2))
    (base ++ dups ++ exact).toDF("doc_id", "text")
  }

  /** Two docs whose overlap sits exactly on tau = 0.55: doc A is 102
    * distinct words (100 shingles), doc B is A's last 57 words (55
    * shingles, all shared), so J = 55/100 and C(A→B) = 55/100. In Double,
    * 100 * 0.55 rounds up past 55, so a `ceil(|s|·tau)` prefix is one
    * shingle short and holds none of the shared ones. */
  lazy val thresholdFixture: DataFrame = {
    import spark.implicits._
    val a = (0 until 102).map(i => f"fx$i%03d")
    Seq((300L, a.mkString(" ")), (301L, a.takeRight(57).mkString(" ")))
      .toDF("doc_id", "text")
  }

  test("exact dedup finds the planted exact duplicate") {
    val groups = Dedup.exactDups(docs).collect()
    assert(groups.length == 1)
    assert(groups.head.getSeq[Long](groups.head.fieldIndex("ids")).toSeq == Seq(0L, 200L))
  }

  test("jaccard and containment joins == the brute-force reference at " +
    "several taus; prefix candidates prune vs all-pairs") {
    import spark.implicits._
    assert(DedupReference.mismatches(docs.union(thresholdFixture),
      Seq(0.3, 0.5, 0.55, 0.8)).isEmpty)
    // J(A, B) = 55/100 sits exactly on tau = 0.55
    assert(Dedup.jaccardPairs(thresholdFixture, 3, 0.55)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSeq ==
      Seq((300L, 301L)))
    // pruning sanity: for a corpus of distinct docs sharing one common
    // stopword-ish shingle, the prefix join must not generate the
    // all-pairs candidate set of the naive inverted join
    val many = (1L to 40L).map(i =>
      (i, s"common shared shingle unique$i word$i tail$i distinct$i"))
      .toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(many, 3, 0.8)
    assert(pairs.count() == 0L) // no pair is actually >= 0.8
  }

  test("minhash-LSH pairs == exact jaccard pairs on planted near-dups") {
    val exact = Dedup.jaccardPairs(docs, 3, 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, 3, 64, 16, 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "planted near-dups must surface")
    assert(lsh == exact, s"LSH recall/precision failure: ${lsh.diff(exact)} / ${exact.diff(lsh)}")
  }

  test("simhash banding finds exactly the brute-force hamming<=3 pairs") {
    import spark.implicits._
    val got = Dedup.simhashPairs(docs, 3)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sigs = docs.select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, t) => (id, Dedup.simhash64(t)) }
    val want = (for {
      i <- sigs.indices; j <- (i + 1) until sigs.length
      a = if (sigs(i)._1 < sigs(j)._1) sigs(i) else sigs(j)
      b = if (sigs(i)._1 < sigs(j)._1) sigs(j) else sigs(i)
      if java.lang.Long.bitCount(a._2 ^ b._2) <= 3
    } yield (a._1, b._1)).toSet
    assert(got == want)
    assert(want.nonEmpty, "planted near-dups should collide in simhash space")
  }

  test("portable simhash banding == brute force over simhash60; " +
       "token-free docs are excluded; validation") {
    import spark.implicits._
    // 300 has no tokens at all; 301 only length-1 tokens — both excluded
    val withEmpty = docs.union(
      Seq((300L, ""), (301L, "x y z")).toDF("doc_id", "text"))
    val got = Dedup.simhashPairsPortable(withEmpty, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(Dedup.simhash60("") == None && Dedup.simhash60("x y z") == None)
    val sigs = docs.select($"doc_id", $"text").as[(Long, String)].collect()
      .flatMap { case (id, t) => Dedup.simhash60(t).map(s => (id, s)) }
    val want = (for {
      i <- sigs.indices; j <- (i + 1) until sigs.length
      a = if (sigs(i)._1 < sigs(j)._1) sigs(i) else sigs(j)
      b = if (sigs(i)._1 < sigs(j)._1) sigs(j) else sigs(i)
      h = java.lang.Long.bitCount(a._2 ^ b._2)
      if h <= 3
    } yield (a._1, b._1, h.toLong)).toSet
    assert(got == want)
    assert(want.nonEmpty, "planted near-dups should collide in simhash space")
    assert(!got.exists(p => p._1 >= 300L || p._2 >= 300L))
    // signatures use only the low 60 bits
    assert(sigs.forall { case (_, s) => (s >>> 60) == 0L })
    intercept[IllegalArgumentException](
      Dedup.simhashPairsPortable(docs, 4))
  }

  test("matryoshka two-tier retrieval: covering params ≡ brute force; " +
       "exact full-dim scores; recall floor at half the dims") {
    val all = embeddings.collect()
    val qs = all.filter(_._1 < 12)
    // dPrime = dim and a corpus-covering oversample: bit-identical
    val covering = Ann.truncatedTopK(embeddings, qs, 10, 16, 12).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val exact = Ann.bruteTopK(embeddings, qs, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(covering.sortBy(t => (t._1, t._4)).toSeq ==
      exact.sortBy(t => (t._1, t._4)).toSeq)
    // half the dims, 3× oversample: exact emitted scores + recall floor
    val embMap = all.toMap
    val qmap = qs.toMap
    val got = Ann.truncatedTopK(embeddings, qs, 10, 8, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    got.foreach { case (qid, nid, cos) =>
      val want = math.rint(Ann.cosine(qmap(qid), embMap(nid)) * 1e6) / 1e6
      assert(cos == want, s"($qid,$nid) emitted $cos != full-dim $want")
    }
    val exactSets = exact.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val gotSets = got.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val recalls = qs.map { case (qid, _) =>
      exactSets(qid).intersect(gotSets.getOrElse(qid, Set.empty)).size
    }
    assert(recalls.sum >= qs.length * 7, s"avg recall: ${recalls.toSeq}")
    intercept[IllegalArgumentException](
      Ann.truncatedTopK(embeddings, qs, 10, 0, 3))
    intercept[IllegalArgumentException](
      Ann.truncatedTopK(embeddings, qs, 10, 8, 0))
  }

  lazy val embeddings = {
    import spark.implicits._
    val rng = new java.util.SplittableRandom(11)
    // 8 cluster centers, 120 points jittered around them
    val centers = Array.fill(8)(Array.fill(16)(rng.nextGaussian().toFloat))
    (0 until 120).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => x + 0.1f * rng.nextGaussian().toFloat))
    }.toDS()
  }

  lazy val annDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-annidx").toString
    AnnIndex.build(spark, embeddings, d,
      AnnIndex.Params(tables = 8, planesPerTable = 8, dim = 16))
    d
  }

  test("persisted ANN index top-k has high recall vs brute force") {
    val qs = embeddings.collect().filter(_._1 < 8)
    val brute = Ann.bruteTopK(embeddings, qs, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val idx = AnnIndex.load(spark, annDir)
    val lsh = idx.topK(qs, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(lsh).size.toDouble / brute.size
    assert(recall >= 0.8, s"LSH recall $recall too low")
  }

  test("ANN index near-dup pairs == exact pairs at high-sim threshold") {
    val d = java.nio.file.Files.createTempDirectory("graft-anndup").toString
    val idx = AnnIndex.build(spark, embeddings, d,
      AnnIndex.Params(tables = 32, planesPerTable = 4, dim = 16, seed = 7000L))
    val exact = Ann.nearDupPairs(embeddings, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = idx.nearDupPairs(0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.nonEmpty, "cluster structure must yield high-sim pairs")
    assert(lsh == exact,
      s"missing: ${exact.diff(lsh).take(5)}; extra: ${lsh.diff(exact).take(5)}")
  }

  test("ANN near-dup bucket drops are counted, never silent") {
    val idx = AnnIndex.load(spark, annDir)
    val acc = spark.sparkContext.longAccumulator("graft.ann.droppedBuckets")
    val out = idx.nearDupPairs(0.8, bucketCap = 1, dropped = Some(acc)).collect()
    assert(out.isEmpty, "cap=1 drops every bucket with >=2 members")
    assert(acc.value > 0, "dropped buckets must be counted")
  }

  test("minhash LSH bucket drops are counted, never silent") {
    val acc = spark.sparkContext.longAccumulator("graft.dedup.droppedBuckets")
    val out = Dedup.minhashLshPairs(docs, 3, 64, 16, 0.5,
      bucketCap = 1, dropped = Some(acc)).collect()
    assert(out.isEmpty)
    assert(acc.value > 0)
  }

  test("exact embedding near-dup is a distributed block-pair plan, no cartesian") {
    val q = Ann.nearDupPairs(embeddings, 0.8)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"exact path must be the block-pair join, not a row-pair product:\n$plan")
    assert(plan.contains("Join"), s"block-pair join expected:\n$plan")
    // sanity: block path == per-pair brute force computed test-side
    val vs = embeddings.collect()
    val want = (for {
      i <- vs.indices; j <- (i + 1) until vs.length
      c = Ann.cosine(vs(i)._2, vs(j)._2) if c >= 0.8
    } yield (math.min(vs(i)._1, vs(j)._1), math.max(vs(i)._1, vs(j)._1))).toSet
    val got = q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
  }

  test("brute-force ANN ranks the query's own cluster first") {
    val qs = embeddings.collect().filter(_._1 < 2)
    val top = Ann.bruteTopK(embeddings, qs, 5).collect()
    top.groupBy(_.getLong(0)).foreach { case (qid, rows) =>
      // same cluster = same id mod 8
      val sameCluster = rows.count(r => r.getLong(1) % 8 == qid % 8)
      assert(sameCluster >= 4, s"query $qid: only $sameCluster/5 from own cluster")
    }
  }

  test("multimodal: batch extraction preserves rows, bytes and hashes") {
    import spark.implicits._
    val media = Multimodal.ingest(docs)
    val feats = Multimodal.extractFeatures(media, batchSize = 7).collect()
    assert(feats.length == docs.count())
    val byId = feats.map(f => f.id -> f).toMap
    docs.select($"doc_id", $"text").as[(Long, String)].collect().foreach { case (id, t) =>
      val f = byId(id)
      assert(f.nBytes == t.getBytes("UTF-8").length)
      assert(f.featureDim == 64)
      assert(math.abs(f.featureNorm - 1.0) < 1e-6) // L2-normalized stub features
    }
  }

  test("multimodal: container header parse recovers the planted fields " +
    "from raw bytes; signature and layout are real PNG") {
    import spark.implicits._
    val media = Multimodal.ingestPng(docs)
    // byte-level layout check on one row, driver-side
    val row = media.filter(_.id == 0L).head()
    val b = row.bytes
    assert((b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G',
      "PNG signature")
    assert(new String(b.slice(12, 16), "US-ASCII") == "IHDR")
    assert(new String(b.slice(37, 41), "US-ASCII") == "IDAT")
    // the distributed byte-arithmetic parse == the planted rule
    val got = Multimodal.parseContainerHeader(media)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    val want = docs.select($"doc_id", $"text").as[(Long, String)].collect()
      .toSeq.sortBy(_._1).map { case (id, t) =>
        val n = t.getBytes("UTF-8").length
        (id, (n % 1024 + 16).toLong, (n % 767 + 9).toLong, 8L, 2L, n.toLong)
      }
    assert(got == want)
  }

  test("multimodal: RIFF/WAVE header parse recovers the planted PCM " +
    "fields from raw little-endian bytes; layout is real WAV") {
    import spark.implicits._
    val media = Multimodal.ingestWav(docs)
    // byte-level layout check on one row, driver-side
    val row = media.filter(_.id == 0L).head()
    val b = row.bytes
    assert(new String(b.slice(0, 4), "US-ASCII") == "RIFF")
    assert(new String(b.slice(8, 12), "US-ASCII") == "WAVE")
    assert(new String(b.slice(12, 16), "US-ASCII") == "fmt ")
    assert(new String(b.slice(36, 40), "US-ASCII") == "data")
    // RIFF chunk size (LE32 at offset 4) = 36 + payload bytes
    val riffLen = (b(4) & 0xff) | ((b(5) & 0xff) << 8) |
      ((b(6) & 0xff) << 16) | ((b(7) & 0xff) << 24)
    assert(riffLen == b.length - 8)
    // the distributed byte-arithmetic parse == the planted rule
    val got = Multimodal.parseWavHeader(media)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq.sortBy(_._1)
    val want = docs.select($"doc_id", $"text").as[(Long, String)].collect()
      .toSeq.sortBy(_._1).map { case (id, t) =>
        val n = t.getBytes("UTF-8").length
        val ch = (n % 2 + 1).toLong
        val sr = (n % 32000 + 8000).toLong
        (id, 1L, ch, sr, sr * ch * 2, ch * 2, 16L, n.toLong)
      }
    assert(got == want)
  }

  test("containment == brute force; catches the planted SUBSET dup " +
    "that symmetric jaccard misses at the same threshold") {
    import spark.implicits._
    // doc 1 is quoted whole inside the much larger doc 2: J is small,
    // C(1->2) = 1.0
    val small = (1 to 12).map(i => s"w$i").mkString(" ")
    val big = small + " " + (100 to 190).map(i => s"x$i").mkString(" ")
    val other = (500 to 540).map(i => s"y$i").mkString(" ")
    val local = Seq((1L, small), (2L, big), (3L, other)).toDF("doc_id", "text")
    val tau = 0.8
    val got = Dedup.containmentPairs(local, 3, tau)
      .as[(Long, Long, Double)].collect().toSeq.sortBy(p => (p._1, p._2))
    val want = DedupReference.containmentPairs(DedupReference.shingleSets(local), tau)
      .toSeq.sortBy(p => (p._1, p._2))
    assert(got == want)
    assert(got.map(p => (p._1, p._2)) == Seq((1L, 2L)),
      s"exactly the planted subset pair: $got")
    // jaccard at the same threshold must NOT flag it (the asymmetry is
    // the point of the operator)
    val j = Dedup.jaccardPairs(local, 3, tau).count()
    assert(j == 0L)
    // the threshold fixture: C(A→B) = 55/100 sits exactly on tau = 0.55
    val fixWant = DedupReference.containmentPairs(
      DedupReference.shingleSets(thresholdFixture), 0.55)
    val fixGot = Dedup.containmentPairs(thresholdFixture, 3, 0.55)
      .as[(Long, Long, Double)].collect().toSet
    assert(fixGot == fixWant)
    assert(fixWant.map(p => (p._1, p._2)) == Set((300L, 301L), (301L, 300L)))
    // corpus-scale sanity: prefix-filtered == exhaustive on sf0.001
    val docs = graft.api.DocsIndex.documents(spark, "/root/testdata/sf0.001")
    val fast = Dedup.containmentPairs(docs, 3, 0.8)
      .as[(Long, Long, Double)].collect().toSet
    val slow = DedupReference.containmentPairs(DedupReference.shingleSets(docs), 0.8)
    assert(fast == slow, s"prefix path diverges: ${fast.size} vs ${slow.size}")
  }

  test("multimodal: zlib IDAT inflates back to the exact payload; " +
    "filter bytes strip clean; pixel sha256 == sha256(source bytes)") {
    import spark.implicits._
    // include a non-ASCII doc so multi-byte UTF-8 (high-bit bytes)
    // rides through the deflate→inflate→defilter path too
    val local = Seq((0L, "hello png world " * 40), (1L, ""), (2L, "x"),
      (3L, "naïve café ☕ " * 23), (4L, "a" * 255 + "b" * 17))
      .toDF("doc_id", "text")
    val got = Multimodal.decodePngPixels(Multimodal.ingestPngZlib(local))
      .as[(Long, Long, Long, Long, String)].collect().toSeq.sortBy(_._1)
    val want = local.as[(Long, String)].collect().toSeq.sortBy(_._1)
      .map { case (id, t) =>
        val p = t.getBytes("UTF-8")
        val w = p.length % 256 + 16
        val h = (p.length + w - 1) / w
        val sha = java.security.MessageDigest.getInstance("SHA-256")
          .digest(p).map(x => f"${x & 0xff}%02x").mkString
        (id, w.toLong, h.toLong, p.length.toLong, sha)
      }
    assert(got == want)
    // the compressed container is genuinely smaller than the raw wrap
    // for the repetitive doc (i.e. DEFLATE actually ran)
    val zip = Multimodal.ingestPngZlib(local).filter(_.id == 0L).head()
    assert(zip.bytes.length < 640 + 45,
      s"IDAT not compressed: ${zip.bytes.length}")
  }

  test("multimodal: WAV PCM stats decode signed 16-bit LE samples " +
    "exactly (sign extension, odd tail ignored, empty pinned to 0s)") {
    import spark.implicits._
    // hand-built payloads exercise what ASCII corpora cannot: negative
    // samples (high byte >= 0x80) and the odd trailing byte
    def wav(id: Long, payload: Array[Byte]): MediaRow = {
      val n = payload.length
      val bb = java.nio.ByteBuffer.allocate(44 + n)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + n)
        .put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1.toShort).putShort(1.toShort).putInt(8000)
        .putInt(16000).putShort(2.toShort).putShort(16.toShort)
      bb.put("data".getBytes("US-ASCII")).putInt(n).put(payload)
      MediaRow(id, "audio", bb.array(), Map.empty)
    }
    val rows = Seq(
      wav(0L, Array[Byte](0x00, 0x80.toByte,          // -32768
                          0xff.toByte, 0x7f.toByte,   // 32767
                          0x01, 0x00,                 // 1
                          0x2a)),                     // odd tail: ignored
      wav(1L, Array.empty[Byte]),
      wav(2L, Array[Byte](0xfe.toByte, 0xff.toByte))) // -2
    val got = Multimodal.wavPcmStats(spark.createDataset(rows))
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got == Seq(
      (0L, 3L, 0L, -32768L, 32767L),
      (1L, 0L, 0L, 0L, 0L),
      (2L, 1L, -2L, -2L, -2L)), s"got $got")
    // and over the corpus-planted containers the stats equal a
    // driver-side brute force on the source bytes
    val media = Multimodal.ingestWav(docs)
    val dist = Multimodal.wavPcmStats(media)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    val brute = docs.select($"doc_id", $"text").as[(Long, String)].collect()
      .toSeq.sortBy(_._1).map { case (id, t) =>
        val p = t.getBytes("UTF-8")
        val ss = (0 until p.length / 2).map(i =>
          (((p(2 * i) & 0xff) | ((p(2 * i + 1) & 0xff) << 8)).toShort).toLong)
        if (ss.isEmpty) (id, 0L, 0L, 0L, 0L)
        else (id, ss.length.toLong, ss.sum, ss.min, ss.max)
      }
    assert(dist == brute)
  }

  test("chunkDups == brute-force chunk duplication") {
    val w = 4
    val rows = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def chunksOf(t: String): Seq[String] =
      t.split(" ").grouped(w).filter(_.length == w).map(_.mkString(" ")).toSeq
    val all = rows.flatMap { case (id, t) => chunksOf(t).map(c => (id, c)) }
    val ndocs = all.distinct.groupBy(_._2).view.mapValues(_.length).toMap
    val want = rows.map { case (id, t) =>
      val cs = chunksOf(t)
      val dup = cs.count(c => ndocs(c) >= 2)
      val frac = if (cs.isEmpty) 0.0
        else BigDecimal(dup.toDouble / cs.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (id, cs.size.toLong, dup.toLong, frac, frac <= 0.2)
    }.sortBy(_._1).toSeq
    val got = Dedup.chunkDups(docs, w, 0.2).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4))).toSeq
    assert(got == want)
    // the planted exact dup pair (0, 200) must be fully duplicated
    val full = got.filter(r => r._1 == 0L || r._1 == 200L)
    assert(full.nonEmpty && full.forall(r => r._4 == 1.0 && !r._5))
  }

  test("quality/langid/fingerprint are deterministic and sane") {
    val q = TextStats.quality(docs).collect()
    assert(q.forall(r => r.getDouble(r.fieldIndex("ttr")) <= 1.0))
    val docsWithLang = docs.withColumn("lang", lit("en"))
    val l = TextStats.langId(docsWithLang).collect()
    assert(l.nonEmpty)
    val f1 = TextStats.fingerprint(docs).collect().map(_.toSeq).toSeq
    val f2 = TextStats.fingerprint(docs).collect().map(_.toSeq).toSeq
    assert(f1 == f2)
  }

  test("dedupedCorpus keeps exactly one canonical per duplicate group") {
    val pairs = Dedup.jaccardPairs(docs, 3, 0.5)
    val got = Dedup.dedupedCorpus(docs, pairs).collect()
      .map(_.getLong(0)).toSet
    // brute-force union-find over the exact pairs
    val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val all = docs.collect().map(_.getLong(0)).toSet
    val want = all.filter(id => find(id) == id)
    assert(got == want, s"missing ${want.diff(got)}; extra ${got.diff(want)}")
    // the planted exact copy is gone, its canonical survives
    assert(got(0L) && !got(200L))
    assert(got.size < all.size)
  }

  test("winnow == brute-force robust winnowing; shared substrings collide") {
    val (k, w) = (3, 4)
    def brute(text: String): Set[(Long, Long)] = {
      val ws = text.split(" ", -1)
      val n = ws.length - k + 1
      if (n < 1) Set.empty
      else {
        val h = Array.tabulate(n)(i =>
          TextStats.gramHash(ws.slice(i, i + k).mkString(" ")))
        (0 to math.max(0, n - w)).map { s =>
          val end = math.min(s + w, n)
          // rightmost minimum of the window
          val best = (s until end).maxBy(j => (-h(j), j))
          ((best + 1).toLong, h(best))
        }.toSet
      }
    }
    val rows = TextStats.winnow(docs, k, w).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // rows are distinct WITHOUT a post-explode shuffle (per-doc set)
    assert(rows.length == rows.toSet.size)
    val got = rows.groupBy(_._1)
      .map { case (id, rs) => id -> rs.map(r => (r._2, r._3)).toSet }
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.keySet == texts.keySet.filter(id => brute(texts(id)).nonEmpty))
    got.foreach { case (id, fps) =>
      assert(fps == brute(texts(id)), s"doc $id")
    }
    // the exact-dup pair (0, 200) shares its full fingerprint HASH set —
    // the detection property the operator exists for
    val h0 = got(0L).map(_._2)
    assert(h0.nonEmpty && h0 == got(200L).map(_._2))
    // a near-dup (one mutated word) still shares most hashes
    val shared = got(1L).map(_._2).intersect(got(101L).map(_._2))
    assert(shared.size * 2 > got(1L).size)
  }
}
