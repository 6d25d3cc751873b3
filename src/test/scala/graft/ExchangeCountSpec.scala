package graft

/** Shuffle-volume regression gates (VERDICT r4 item 6): the committed
  * non-broadcast Exchange count of each of the most expensive driver
  * rows' plans. A future edit that introduces an avoidable shuffle on
  * one of these paths fails HERE instead of waiting for a bench diff.
  *
  * Counting convention: occurrences of `Exchange` not preceded by
  * `Broadcast` in `executedPlan.toString` at sf0.001 — the same proxy
  * PlanSpec uses. Where the plan embeds cached index lineage
  * (`InMemoryTableScan` prints its child plan), the count covers the
  * BUILD lineage too; that is deliberate — an extra build shuffle is
  * as much a regression as a query one. Bounds are the measured r5
  * values; lower is always fine (`<=`).
  *
  * Excluded by design, with reasons:
  *  - iterative drivers (graph_*, dedup_clusters …): they return
  *    localCheckpoint snapshots, so the final plan is a LogicalRDD
  *    scan — string counts see zero of the real work;
  *  - ft_purged: the purged-segment cache prints the whole purge
  *    cogroup lineage (~8k Exchange strings for a plan that executes
  *    a handful of stages) — the string proxy is meaningless there.
  */
class ExchangeCountSpec extends SparkSpec {
  import ExchangeCountSpec._

  test("top driver rows stay within their committed shuffle budgets") {
    val over = bounds.flatMap { case (name, max) =>
      val n = exchanges(name)(spark)
      if (n > max) Some(s"$name: $n exchanges > committed $max") else None
    }
    assert(over.isEmpty,
      "shuffle-budget regressions:\n" + over.mkString("\n") +
        "\nIf the new shuffle is INTENTIONAL, re-measure with " +
        "sbt \"Test/runMain graft.tools.CountExchanges\" and update the " +
        "committed bound WITH a justification in the commit message.")
  }
}

/** The gated rows and the counting rule, shared with the re-measure tool
  * (`graft.tools.CountExchanges`), so both count the same thing. */
object ExchangeCountSpec {

  val sf = "/root/testdata/sf0.001"

  /** (driver row, committed max non-broadcast Exchange count). */
  val bounds: Seq[(String, Int)] = Seq(
    "q1_agg" -> 2,
    "q3_shipping" -> 1,
    "q5_region_volume" -> 2,
    "q18_top_customers" -> 1,
    "assoc_rules" -> 11,
    "assoc_triples" -> 15,
    "dedup_jaccard" -> 13,
    "dedup_jaccard_prefix" -> 13,
    "dedup_minhash" -> 8,
    "dedup_containment" -> 13,
    "dedup_keep_best" -> 4,
    "dedup_corpus" -> 2,
    "dedup_semantic" -> 3,
    "knn_join" -> 4,
    "ft_lsm_live" -> 2,
    "ft_pinned" -> 1,
    "ft_mad" -> 0,
    "ft_mmr" -> 0,
    "ft_bm25_topk" -> 53,
    "ft_prefix" -> 53,
    "ft_phrase3" -> 53,
    "ft_phrase_prefix" -> 53,
    "ft_prf" -> 53,
    "ft_multiterms" -> 54,
    "ft_matrixstats" -> 84,
    "ft_postings" -> 103)

  private val exchange = "(?<!Broadcast)Exchange".r

  /** Non-broadcast `Exchange` occurrences in a driver row's executed plan
    * at sf0.001. */
  def exchanges(name: String)(spark: org.apache.spark.sql.SparkSession): Int =
    exchange.findAllIn(SparkEntry.queries(name)(spark, sf)
      .queryExecution.executedPlan.toString).length
}
