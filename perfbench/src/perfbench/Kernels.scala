package perfbench

/** Per-layer kernel timings taken in a traced run, after the measured
  * phase: the tokenizer, the posting codec and the two WAND kernels. Each
  * is repeated and the median kept. */
object Kernels {

  private def medianNs(reps: Int)(body: => Unit): Double = {
    body // untimed warm-up pass
    Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0).toDouble
    })
  }

  /** `Tokenizer.tokenize` over a fixed 2k-doc sample of the corpus. */
  def tokenize(c: Ctx): Unit = {
    val docs = (0L until 2000L).map(i => Gen.row(c.vocab, c.seed, i).content).toArray
    val tokens = docs.map(d => Engine.tokenize(d).length.toLong).sum
    val ns = medianNs(5)(docs.foreach(Engine.tokenize))
    c.res.layer("tokenize.ns_per_token", ns / tokens)
  }

  /** Decode, then re-pack, the head-term posting lists of a built segment. */
  def codec(c: Ctx, seg: Engine.Segment): Unit = {
    val l = Engine.headLists(seg, 32)
    val packs = l.lists.map(Engine.packed)
    val decoded = packs.map(Engine.decodeAll(_, l.positional))
    val postings = decoded.map(_._1.length.toLong).sum
    val decNs = medianNs(7)(packs.foreach(Engine.decodeAll(_, l.positional)))
    val impacts = decoded.map(_._2.map(_.toDouble))
    val packNs = medianNs(7)(decoded.indices.foreach(i =>
      Engine.pack(decoded(i)._1, decoded(i)._2, impacts(i))))
    val roundTrip = decoded.indices.forall { i =>
      val (ids, tfs) = Engine.decodeAll(Engine.pack(decoded(i)._1, decoded(i)._2, impacts(i)),
        positional = false)
      ids.sameElements(decoded(i)._1) && tfs.sameElements(decoded(i)._2)
    }
    c.res.check("codec: pack/decodeAll round trip of the head-term lists", roundTrip)
    c.res.layer("codec.decode_ns_per_posting", decNs / postings)
    c.res.layer("codec.pack_ns_per_posting", packNs / postings)
  }

  /** The same head-term cursors through block-max WAND and through the
    * exhaustive kernel; their ratio shows whether pruning pays here. */
  def wand(c: Ctx, seg: Engine.Segment): Unit = {
    val l = Engine.headLists(seg, 6)
    val pruned = Engine.wandTopK(l, 10, exhaustive = false)
    val full = Engine.wandTopK(l, 10, exhaustive = true)
    c.res.check("wand: topK equals topKOrExhaustive on the head terms",
      pruned.sameElements(full), s"${pruned.take(3).mkString} vs ${full.take(3).mkString}")
    c.res.layer("search.wand_topk_us",
      medianNs(9)(Engine.wandTopK(l, 10, exhaustive = false)) / 1e3)
    c.res.layer("search.wand_exhaustive_us",
      medianNs(9)(Engine.wandTopK(l, 10, exhaustive = true)) / 1e3)
  }
}
