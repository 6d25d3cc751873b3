package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.build.{BuildParams, SegmentBuilder}
import graft.corpus.{DatasetCorpusSource, Synthesizer}
import graft.index.IndexStorage

/** Physical-plan assertions — SURVEY §4.1: the declarative plan must
  * actually get predicate pushdown, partition pruning, and broadcast
  * joins; "it returns the right rows" is not evidence the 100 TB plan is
  * right. */
class PlanSpec extends SparkSpec {

  lazy val dir: String = {
    val d = Files.createTempDirectory("graft-plan").toString
    val (seg, _) = SegmentBuilder.build(spark,
      DatasetCorpusSource(Synthesizer.tiny(spark)),
      BuildParams(numPartitions = 4, bucketSize = 64))
    IndexStorage.write(seg, d)
    seg.unpersist()
    d
  }

  test("postings scan: termId filter pushes to parquet, bucket filter prunes partitions") {
    val loaded = IndexStorage.read(spark, IndexStorage.segDir(dir, 0).toString)
    val q = loaded.postings.filter(col("termId") === 7L && col("bucket") === 1)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("termId"),
      s"termId must reach the parquet scan:\n$plan")
    // bucket is the partitionBy key: it must appear as a partition filter,
    // not a data filter
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(plan.contains("PartitionFilters") ||
      q.queryExecution.executedPlan.collectLeaves().toString.contains("bucket"),
      s"bucket must prune directories:\n$plan\n$optimized")
  }

  test("column pruning: dict-only projection reads no posting bytes") {
    val loaded = IndexStorage.read(spark, IndexStorage.segDir(dir, 0).toString)
    val q = loaded.postings.select(col("termId"), col("numDocs"))
    val plan = q.queryExecution.executedPlan.toString
    val m = "ReadSchema: ([^\n]*)".r.findFirstMatchIn(plan)
    assert(m.isDefined && !m.get.group(1).contains("bytes"),
      s"projection must not read the bytes column:\n$plan")
  }

  test("query plans: resident mode has no doclens join; cogroup mode broadcasts buckets") {
    val loaded = IndexStorage.read(spark, IndexStorage.segDir(dir, 0).toString)
    val term = loaded.dict.orderBy(desc("df")).limit(1).collect().head.term

    val resident = new graft.search.Searcher(spark, loaded).hits("FREE", term, 10)
    val rPlan = resident.queryExecution.executedPlan.toString
    assert(!rPlan.contains("CoGroup"),
      s"resident mode must not cogroup doclens:\n$rPlan")
    assert(rPlan.contains("TakeOrderedAndProject") || rPlan.contains("GlobalLimit"),
      s"global top-k must plan as TakeOrdered/limit:\n$rPlan")

    val cogrouped = new graft.search.Searcher(spark, loaded, residentDoclens = false)
      .hits("FREE", term, 10)
    val cPlan = cogrouped.queryExecution.executedPlan.toString
    assert(cPlan.contains("CoGroup"), s"cogroup mode must CoGroup:\n$cPlan")
    assert(cPlan.contains("BroadcastExchange") || cPlan.contains("BroadcastHashJoin"),
      s"bucket semi-join must broadcast the tiny side:\n$cPlan")
  }

  test("unscored walks read no doc lengths and keep the termId pushdown") {
    val loaded = IndexStorage.read(spark, IndexStorage.segDir(dir, 0).toString)
    val terms = loaded.dict.orderBy(desc("df")).limit(2).collect().map(_.term)
    val searcher = new graft.search.Searcher(spark, loaded, residentDoclens = false)
    val plans = Seq(
      "matchDocIds" -> searcher.matchDocIds("FREE", terms(0)),
      "earlyHits" -> searcher.earlyHits("AND", terms.mkString(" AND "), 5))
    for ((what, df) <- plans) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CoGroup"), s"$what must not cogroup doc lengths:\n$plan")
      assert(plan.contains("PushedFilters") && plan.contains("termId"),
        s"$what: termId must reach the parquet scan:\n$plan")
    }
  }

  test("ANN top-k: signature predicate pushes into the bucket scan; no corpus re-hash") {
    import spark.implicits._
    val rng = new java.util.SplittableRandom(3)
    val emb = (0 until 100).map(i =>
      (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat))).toDS()
    val d = Files.createTempDirectory("graft-annplan").toString
    val idx = graft.pipeline.AnnIndex.build(spark, emb, d,
      graft.pipeline.AnnIndex.Params(tables = 4, planesPerTable = 6, dim = 16))
    val q = idx.topK(emb.collect().filter(_._1 < 3), 5)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("sig"),
      s"(table,sig) predicate must reach the bucket parquet scan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"query side must broadcast against the bucket table:\n$plan")
    // the executed plan reads the PERSISTED buckets — it must not carry
    // a per-row signature recomputation (no flatMap over the raw
    // embeddings dataset in the query DAG)
    assert(!plan.contains("DeserializeToObject") || !plan.contains("MapPartitions"),
      s"query plan must not re-hash the corpus:\n$plan")
    // candidate scoring uses the NATIVE CosineF32 expression — a Scala
    // UDF here would fence whole-stage codegen on a candidate set that
    // is corpus-fraction-sized for IVF probes (VERDICT r3 §wrong 2)
    assert(!plan.contains("ScalaUDF") && plan.contains("graft_cosine"),
      s"ANN scoring must use the native cosine expression, not a UDF:\n$plan")
  }

  test("IVF probe scoring uses the native cosine expression, not a UDF") {
    import spark.implicits._
    val emb = (0L until 40L).map(i =>
      (i, Array.tabulate(16)(j => ((i * 31 + j * 7) % 13 - 6).toFloat)))
      .toDS()
    val d = java.nio.file.Files.createTempDirectory("ivf-plan").toString
    val idx = graft.pipeline.IvfIndex.build(spark, emb, d,
      graft.pipeline.IvfIndex.Params(nlist = 4, iters = 3, dim = 16))
    val plan = idx.topK(emb.collect().filter(_._1 < 3), 5, 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF") && plan.contains("graft_cosine"),
      s"IVF scoring must use the native cosine expression, not a UDF:\n$plan")
  }

  test("collapse and rescore broadcast their bounded side, never the corpus") {
    val sf = "/root/testdata/sf0.001"
    // collapse: the ≤kRepos collapsed rows are BuildLeft into the docmap
    val cPlan = graft.api.DocsIndex
      .collapsedRankedHits(spark, sf, "FREE", "fast merge", 5)
      .queryExecution.executedPlan.toString
    assert(cPlan.contains("BroadcastHashJoin") && cPlan.contains("BuildLeft"),
      s"collapsed side must broadcast:\n$cPlan")
    // rescore: the ≤window BM25 rows are BuildLeft into the signal join
    val rPlan = graft.api.DocsIndex
      .rescoredRankedHits(spark, sf, "FREE", "fast merge", 50, 10, 0.1)
      .queryExecution.executedPlan.toString
    assert(rPlan.contains("BroadcastHashJoin") && rPlan.contains("BuildLeft"),
      s"rescore window must broadcast:\n$rPlan")
  }

  test("rankEval marks qrels through broadcast joins, never a corpus shuffle") {
    val sf = "/root/testdata/sf0.001"
    val plan = graft.api.DocsIndex
      .rankEval(spark, sf, Seq(1L -> "dup scan", 2L -> "fast merge"), 10)
      .queryExecution.executedPlan.toString
    // the semi-join filter and the mark join carry the bounded (≤|q|·k)
    // ranked side as a broadcast (the qrel DERIVATION itself may join
    // corpus-sized sets — that mapping is inherent to counting R)
    assert(plan.contains("BroadcastHashJoin"),
      s"qrel mark must broadcast the ranked side:\n$plan")
  }

  test("dsir scoring and winnow are shuffle-free narrow passes") {
    val sf = "/root/testdata/sf0.001"
    // dsirWeights: the feature LMs train eagerly at construction (one
    // bounded bucket-keyed agg); the RETURNED scoring frame must be a
    // pure narrow pass — scan → filter → project, zero exchanges
    val dPlan = graft.pipeline.Curation
      .dsirWeights(graft.api.DocsIndex.documents(spark, sf), "src0", 64, 0.0)
      .queryExecution.executedPlan.toString
    assert(!dPlan.contains("Exchange"),
      s"dsir scoring must not shuffle:\n$dPlan")
    // winnow: per-doc window sweep inside one narrow pass; the explode
    // must not be followed by any distinct/exchange
    val wPlan = graft.pipeline.TextStats
      .winnow(graft.api.DocsIndex.documents(spark, sf), 4, 5)
      .queryExecution.executedPlan.toString
    assert(!wPlan.contains("Exchange"),
      s"winnow must not shuffle:\n$wPlan")
  }

  test("events ops: as-of is one exchange; funnel pushes its type filter") {
    val sf = "/root/testdata/sf0.001"
    val ev = spark.read.parquet(s"$sf/events.parquet")
    def side(t: String) = ev.filter(col("event_type") === t)
      .select(col("user_id").as("key"), col("ts"), col("event_id").as("id"))
    // as-of: the union + keyed window must cost exactly ONE shuffle —
    // the key hashpartitioning for the window sort; a join-based plan
    // (range replicate, broadcast-nested-loop) would show more
    val aPlan = graft.pipeline.AsOf.asOfPrior(side("purchase"), side("click"))
      .queryExecution.executedPlan.toString
    val nEx = "(?<!Broadcast)Exchange".r.findAllIn(aPlan).length
    assert(nEx == 1, s"as-of must shuffle exactly once, saw $nEx:\n$aPlan")
    assert(!aPlan.contains("NestedLoop"), s"as-of must not pair-expand:\n$aPlan")
    // funnel/sessionize inputs: the event_type pushdown reaches parquet
    val fPlan = ev.filter(col("event_type")
        .isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_type"), col("ts"))
      .queryExecution.executedPlan.toString
    assert(fPlan.contains("PushedFilters") && fPlan.contains("event_type"),
      s"funnel type filter must push down:\n$fPlan")
    // sessionize: one user-keyed exchange serves window AND rollup
    val sPlan = graft.pipeline.Events.sessionize(ev, 21600L)
      .queryExecution.executedPlan.toString
    val sEx = "(?<!Broadcast)Exchange".r.findAllIn(sPlan).length
    // window exchange + the final orderBy's range exchange are expected;
    // the groupBy must NOT add a third (partitioning reused)
    assert(sEx <= 2, s"sessionize must reuse the keyed partitioning, saw $sEx:\n$sPlan")
  }

  test("termVectors: the doc_id predicate reaches the documents scan") {
    val sf = "/root/testdata/sf0.001"
    val q = graft.api.DocsIndex.termVectors(spark, sf, 7L)
    val plan = q.queryExecution.executedPlan.toString
    // single-row re-analysis: the one-doc read must be a pushed parquet
    // filter, not a post-scan filter over the corpus
    assert(plan.contains("PushedFilters") && plan.contains("doc_id"),
      s"doc_id must reach the parquet scan:\n$plan")
    // the dict stats join must broadcast (the dict is the small artifact)
    assert(plan.contains("BroadcastHashJoin"),
      s"dict join must broadcast:\n$plan")
  }

  test("topHitsByLang: per-group top-k runs without a Window operator") {
    val sf = "/root/testdata/sf0.001"
    val q = graft.api.DocsIndex.topHitsByLang(spark, sf, "FREE", "fast merge", 3)
    val plan = q.queryExecution.executedPlan.toString
    // the exact two-stage shape: partial winners + per-group final merge
    // (mapPartitions + flatMapGroups), never a WindowExec over the full
    // match set (which would shuffle match-set-sized data by few keys)
    assert(!plan.contains("Window"),
      s"top-hits must not use a window over the match set:\n$plan")
    assert(plan.contains("MapGroups") || plan.contains("mapGroups"),
      s"expect the per-group final merge:\n$plan")
  }

  test("splitByRepo and randomScore stay narrow / bounded") {
    val sf = "/root/testdata/sf0.001"
    // groupSplit: scan → project, zero exchanges
    val gPlan = graft.pipeline.Curation
      .groupSplit(graft.api.DocsIndex.documents(spark, sf), 90)
      .queryExecution.executedPlan.toString
    assert(!gPlan.contains("Exchange"),
      s"groupSplit must not shuffle:\n$gPlan")
    // randomScoredHits: the only shuffle above the walk is the global
    // top-k (TakeOrderedAndProject), never a sort of the match set
    val rPlan = graft.api.DocsIndex
      .randomScoredHits(spark, sf, "FREE", "fast merge", 42L, 10)
      .queryExecution.executedPlan.toString
    assert(rPlan.contains("TakeOrderedAndProject"),
      s"random top-k must be TakeOrderedAndProject:\n$rPlan")
  }

  test("sketch/layout/events additions keep their promised shuffle shapes") {
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val ev = spark.read.parquet(s"$sf/events.parquet")
    // count-min: map-side partial agg before ONE exchange (linearity)
    val cPlan = graft.pipeline.Cms
      .sketch(docs, graft.pipeline.Cms.Params(4, 512))
      .queryExecution.executedPlan.toString
    val cEx = "(?<!Broadcast)Exchange".r.findAllIn(cPlan).length
    assert(cEx == 1, s"cms sketch must shuffle exactly once, saw $cEx:\n$cPlan")
    val firstAgg = cPlan.indexOf("HashAggregate")
    val exch = cPlan.indexOf("Exchange")
    assert(firstAgg >= 0 && exch >= 0 && cPlan.indexOf("HashAggregate", exch) >= 0,
      s"cms must partial-aggregate map-side:\n$cPlan")
    // bloom prefilter: the corpus pass is a narrow filter — no exchange
    // upstream of the positives (the join exchanges only survivors)
    val block = docs.filter(col("source") === "src0")
      .select(sha2(col("text"), 256).as("key"))
    val bWords = graft.pipeline.Bloom.build(block,
      graft.pipeline.Bloom.Params(1 << 12, 4))
    assert(bWords.length == (1 << 12) / 64)
    // absence: ONE user-keyed exchange serves the RANGE window (the
    // final orderBy adds its range exchange; nothing else)
    val aPlan = graft.pipeline.Events.absence(ev, "click", "purchase", 21600L)
      .queryExecution.executedPlan.toString
    val aEx = "(?<!Broadcast)Exchange".r.findAllIn(aPlan).length
    assert(aEx <= 2, s"absence must shuffle once (+orderBy), saw $aEx:\n$aPlan")
    assert(aPlan.contains("PushedFilters") && aPlan.contains("event_type"),
      s"absence type filter must push down:\n$aPlan")
    // z-order: the source-rank join must broadcast (the rank table is
    // |sources|-sized), leaving the corpus pass narrow
    val zPlan = graft.pipeline.Layout.zorder(
        docs.select(col("doc_id"), col("source"), col("n_chars")), 8)
      .queryExecution.executedPlan.toString
    assert(zPlan.contains("BroadcastHashJoin"),
      s"zorder rank join must broadcast:\n$zPlan")
    // gap-fill: the corpus contributes via ONE day-keyed agg; the spine
    // join must not shuffle the corpus again
    val gPlan = graft.pipeline.Events.gapFilledDaily(ev)
      .queryExecution.executedPlan.toString
    val gAggs = "HashAggregate".r.findAllIn(gPlan).length
    assert(gAggs >= 2, s"gapfill needs partial+final day agg:\n$gPlan")
  }

  test("TPC-H style join picks broadcast for the small dimension") {
    val sf = "/root/testdata/sf0.001"
    val q = SparkEntry.queries("q_join_rev")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"nation join must broadcast:\n$plan")
  }

  test("lineitem agg: partial aggregation before the exchange") {
    val sf = "/root/testdata/sf0.001"
    val q = SparkEntry.queries("q1_agg")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), plan)
    val firstAgg = plan.indexOf("HashAggregate")
    val exchange = plan.indexOf("Exchange")
    assert(exchange >= 0 && plan.indexOf("HashAggregate", exchange) >= 0,
      s"expect partial agg below the exchange and final above:\n$plan")
  }

  test("TPC-H Q18: one basket-agg shuffle with map-side partials; the " +
    "customer dimension broadcasts; AQE is armed for runtime skew") {
    val sf = "/root/testdata/sf0.001"
    val q = SparkEntry.queries("q18_top_customers")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    // the heavy-basket groupBy partial-aggregates before its exchange
    // (the skew-shape probe's one unavoidable corpus shuffle)
    val ex = "(?<!Broadcast)Exchange".r.findAllIn(plan).length
    assert(ex == 1, s"q18 must shuffle exactly once (the basket agg), saw $ex:\n$plan")
    val firstAgg = plan.indexOf("HashAggregate")
    val exchange = plan.indexOf("Exchange")
    assert(firstAgg >= 0 && exchange >= 0 &&
      plan.indexOf("HashAggregate", exchange) >= 0,
      s"basket agg must partial-combine map-side:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"customer/orders joins must broadcast at this scale:\n$plan")
    // AQE note (VERDICT r4 item 7): with adaptive execution on, an
    // oversized post-shuffle partition would be SPLIT at runtime; at
    // TPC-H's uniform basket sizes its observed action is coalescing.
    // The plan must be adaptive so that machinery is actually armed.
    assert(plan.contains("AdaptiveSparkPlan"),
      s"q18 must run under AQE for runtime skew handling:\n$plan")
  }

  test("graph and band-join additions keep their promised shuffle shapes") {
    val sf = "/root/testdata/sf0.001"
    // band join: a true equi-join on (user_id, bucket) — never the
    // key-only-on-user plan whose range predicate degenerates to a
    // per-user cross filter, and never a nested-loop/cartesian
    val bPlan = graft.pipeline.Events.bandJoin(
        spark.read.parquet(s"$sf/events.parquet"), "purchase", "click", 3600L)
      .queryExecution.executedPlan.toString
    assert(!bPlan.contains("CartesianProduct") &&
      !bPlan.contains("BroadcastNestedLoopJoin"),
      s"band join must stay an equi-join:\n$bPlan")
    assert(bPlan.contains("bucket"), s"bucket must be a join key:\n$bPlan")
    assert(bPlan.contains("PushedFilters") && bPlan.contains("event_type"),
      s"type filters must push to the scan:\n$bPlan")

    // pageRank: the returned ranks are a materialized snapshot (a
    // localCheckpoint RDD scan — O(1) lineage, nothing cached left
    // behind in the CacheManager, NOT a replan of the iteration chain)
    val edges = graft.pipeline.Graph.customerSupplierEdges(spark, sf)
    val prPlan = graft.pipeline.Graph.pageRank(edges, iters = 2)
      .queryExecution.executedPlan.toString
    assert(prPlan.contains("Scan ExistingRDD"),
      s"ranks must come from the checkpoint snapshot:\n$prPlan")
    assert(!prPlan.contains("Join") && !prPlan.contains("Exchange"),
      s"reading ranks must not replay the iteration chain:\n$prPlan")

    // edge construction: only the join/id columns reach the scans
    val ePlan = edges.queryExecution.executedPlan.toString
    assert(!ePlan.contains("o_comment") && !ePlan.contains("l_quantity"),
      s"edge build must prune to key columns:\n$ePlan")

    // triangles: the closing-edge check must be a semi join (never
    // materializing per-wedge rows past the probe)
    val tPlan = graft.pipeline.Graph.triangleCounts(
        graft.pipeline.Graph.partCopurchaseEdges(spark, sf))
      .queryExecution.executedPlan.toString
    assert(tPlan.contains("LeftSemi"), s"closing edge must semi-join:\n$tPlan")
    assert(!tPlan.contains("CartesianProduct"), s"no cartesian:\n$tPlan")
  }

  test("skyline, routing, and symspell keep their promised plan shapes") {
    val sf = "/root/testdata/sf0.001"
    import spark.implicits._

    // skyline phase 1 is shuffle-free: the ONLY exchange in the plan is
    // the single-partition gather of the already-pruned local skylines
    val skPlan = graft.pipeline.Skyline.skyline(
        spark.read.parquet(s"$sf/part.parquet"),
        "p_partkey", "p_size", "p_retailprice")
      .queryExecution.executedPlan.toString
    val nEx = "Exchange".r.findAllIn(skPlan).size
    assert(skPlan.contains("SinglePartition"),
      s"phase 2 gathers to one partition:\n$skPlan")
    assert(nEx <= 2, // SinglePartition exchange (+AQE read wrapper)
      s"local sweep must not shuffle (found $nEx exchanges):\n$skPlan")
    assert(!skPlan.contains("p_name"),
      s"skyline must prune to its three columns:\n$skPlan")

    // rendezvous routing: a single narrow map — zero exchanges
    val rPlan = graft.pipeline.Routing.rendezvousRoute(
        spark, spark.read.parquet(s"$sf/documents.parquet"), 8)
      .queryExecution.executedPlan.toString
    assert(!rPlan.contains("Exchange"),
      s"routing must be a narrow map:\n$rPlan")
    assert(!rPlan.contains("text"),
      s"routing must read only doc_id:\n$rPlan")

    // symspell: the probe side broadcasts; no corpus-dict cross join
    val dict = Seq(("query", 4L), ("sort", 3L), ("scan", 2L))
      .toDF("term", "df")
    val idx = graft.search.SymSpell.buildIndex(dict, 2)
    val sPlan = graft.search.SymSpell.suggest(idx, Seq("qery"), 2, 5)
      .queryExecution.executedPlan.toString
    assert(sPlan.contains("BroadcastHashJoin") ||
      sPlan.contains("BroadcastExchange"),
      s"probe side must broadcast:\n$sPlan")
    assert(!sPlan.contains("CartesianProduct") &&
      !sPlan.contains("BroadcastNestedLoopJoin"),
      s"no dictionary cross join:\n$sPlan")
  }
}
