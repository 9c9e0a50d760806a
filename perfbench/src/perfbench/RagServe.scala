package perfbench

import graft.api.Graft
import scala.collection.mutable

/** Read-only serving: one closed-loop client searching a built
  * RagIndex over a Zipf-vocabulary repository.
  */
object RagServe extends Workload {
  val nDocs = 200
  val warmDocs = 40
  val builds = 2
  val nQueries = 400
  val k = 10
  val vocab = 4000
  val recheck = 4
  val quantized = Seq("sq8_rerank", "pq_rerank")
  // one round of the timed mix: searches 80% int16, 10% sq8_rerank,
  // 10% pq_rerank, then a packContextFor of three queries
  val round = Seq.fill(4)("int16") ++ Seq("sq8_rerank") ++
    Seq.fill(4)("int16") ++ Seq("pq_rerank", "pack")

  def primary(name: String): Boolean = name == "pipeline.search.int16"

  def run(ctx: Ctx, jvm: JvmCounters) = {
    val z = new Corpus.Zipf(vocab, 1.07)
    val queries = Corpus.queries(ctx.seed ^ QuerySeed, nQueries, vocab)
    val (docs, corpus, warmDf) = ctx.span("inputs") {
      val docs = Corpus.repo(ctx.seed, nDocs, 1L, z, 40, 160)
      (docs, ragFrame(ctx, "rag", docs), ragFrame(ctx, "rag_warm",
        Corpus.repo(ctx.seed ^ WarmSeed, warmDocs, 1L, z, 40, 160)))
    }
    ctx.report("inputs") = Map("docs" -> nDocs, "vocab" -> vocab,
      "type_mix" -> docs.groupBy(d => d.path.split('.').last)
        .map { case (t, ds) => t -> ds.size },
      "queries" -> nQueries,
      "query_term_classes" -> queries.flatMap(_._2).groupBy(identity)
        .map { case (c, xs) => c -> xs.size })
    ctx.mark("inputs")

    // JIT warm-up of the build path on a disjoint seed
    ctx.span("warmup")(ragIndex(ctx, warmDf, "warm"))
    ctx.mark("warmup")

    // set-up: setup_s is the median of the builds; the last one serves
    var idx: Graft.RagIndex = null
    ctx.span("setup")(for (b <- 0 until builds)
      ctx.op("pipeline.build")(ragIndex(ctx, corpus, s"idx$b"))
        .foreach(idx = _))
    val buildsMs = ctx.msOf("pipeline.build")
    val setupS = Stats.median(buildsMs) / 1e3
    // outside setup_s, on warm-up queries: the first search of each
    // quantized tier mints its layouts; an int16 search and a pack then
    // pay the fresh index's one-time costs and warm the serving JIT
    val primeQs = Corpus.queries(ctx.seed ^ WarmSeed, 3, vocab).map(_._1)
    val primeMs = ctx.span("prime") {
      ctx.op("pipeline.tier_mint")(quantized.foreach(t =>
        idx.search(primeQs.head, k, tier = t).collect()))
      Map("int16" -> ctx.timed(idx.search(primeQs.head, k).collect())._2,
        "pack" -> ctx.timed(idx.packContextFor(primeQs).collect())._2)
    }
    ctx.mark("setup")

    jvm.start()
    val first = mutable.LinkedHashMap[Int, Seq[(Long, Double)]]()
    var next, served = 0
    def take(): Int = { next += 1; (next - 1) % nQueries }
    def step(call: String): Unit =
      if (call == "pack") {
        val qs = Seq.fill(3)(queries(take())._1)
        ctx.op("pipeline.pack_context")(
          idx.packContextFor(qs).collect()).foreach { rows =>
          ctx.check("context pack non-empty", rows.nonEmpty)
          served += qs.size
        }
      } else {
        val qi = take()
        ctx.op(s"pipeline.search.$call")(
          hits(ctx, idx.search(queries(qi)._1, k, tier = call), k))
          .foreach { hs =>
            if (call == "int16") first.getOrElseUpdate(qi, hs)
            served += 1
          }
      }
    val t0 = System.nanoTime()
    val rounds = ctx.loop(t0) { _ =>
      ctx.span("serve.round")(round.foreach(step))
      true
    }
    val elapsedS = (System.nanoTime() - t0) / 1e9
    ctx.mark("timed")
    val searchMs = ctx.msOf("pipeline.search.int16")

    // output check: the first searches asked again give the same hits
    val again = ctx.span("checks")(first.take(recheck).toSeq.map {
      case (qi, hs) =>
        val hs2 = hits(ctx, idx.search(queries(qi)._1, k), k)
        ctx.check("repeat query answers equal", hs == hs2)
        qi -> hs2
    })
    ctx.report("output_hash") = Stats.setHash(again.flatMap {
      case (qi, hs) => hs.map { case (c, r) => f"$qi:$c:$r%.9f" } }).toString
    ctx.mark("checks")

    val tail = Stats.tail(searchMs)
    ctx.report("serve") = Map(
      "serve_p50_ms" -> Stats.median(searchMs),
      "serve_tail_ms" -> tail.map(_._2),
      "serve_tail_percentile" -> tail.map(_._1),
      "serve_samples" -> searchMs.size, "serve_ms" -> searchMs,
      "serve_p50_ms_by_tier" -> quantized.map(t =>
        t -> Stats.median(ctx.msOf(s"pipeline.search.$t"))).toMap,
      "pack_context_p50_ms" -> Stats.median(ctx.msOf("pipeline.pack_context")),
      "rounds" -> rounds, "queries_served" -> served,
      "build_ms" -> buildsMs, "build_docs_per_s" -> nDocs / setupS,
      "tier_mint_ms" -> ctx.msOf("pipeline.tier_mint"),
      "first_calls_ms" -> primeMs)

    if (ctx.traced) {
      for (t <- "int16" +: quantized)
        ctx.layer(s"pipeline.serve_ms.$t") =
          Stats.median(ctx.msOf(s"pipeline.search.$t", tracedOnly = true))
      tail.foreach(t => ctx.layer("pipeline.serve_tail_ms") = t._2)
      ctx.layer("pipeline.pack_context_ms") =
        Stats.median(ctx.msOf("pipeline.pack_context", tracedOnly = true))
      ctx.layer("pipeline.build_s") = setupS
      ctx.layer("pipeline.tier_mint_s") =
        Stats.median(ctx.msOf("pipeline.tier_mint")) / 1e3
      // the write path, traced: one wave of arrivals and victims
      val writer = new IngestUpdate.Writer(ctx, idx,
        docs.filter(IngestUpdate.isMd).map(_.id))
      val arr = IngestUpdate.arrivalsOf(ctx.seed, 0, z)
      writer.wave(arr, ctx.span("inputs")(ragFrame(ctx, "wave0", arr)))
      writer.compact()
      writer.layers()
      Probes.ingest(ctx, corpus)
    }
    e2e(setupS, Stats.median(searchMs), served / elapsedS)
  }
}
