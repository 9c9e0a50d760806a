package perfbench

import graft.api.Graft
import scala.collection.mutable

/** Batch throughput: the training-data curation chain over a seeded
  * corpus with near-dup families, contamination and non-English docs:
  * curationFunnel → groupSplit → bloomDecontaminate → embed →
  * tableCommit of the survivors.
  */
object CurateBatch extends Workload {
  val nDocs = 1200
  val warmDocs = 600
  val commits = 5
  val passes = 3
  val warmPasses = 1
  val vocab = 8000
  val benchMod = 97L
  val editShare = 0.05

  val primaryOps = Seq("pipeline.curate_funnel", "dedup.group_split",
    "dedup.decontaminate", "embed", "sources.commit")
  def primary(name: String): Boolean = primaryOps.contains(name)

  private def corpus(seed: Long, n: Int, z: Corpus.Zipf) =
    Corpus.curation(seed, n, 1L, z, editShare, benchMod)

  /** One curation pass; returns the pass's output rows as strings. */
  def pass(ctx: Ctx, docs: org.apache.spark.sql.DataFrame, n: Long,
      planted: Corpus.Curation, root: String): Seq[String] = {
    import ctx.spark.implicits._
    val out = mutable.ArrayBuffer[String]()
    ctx.op("pipeline.curate_funnel")(
      Graft.curationFunnel(docs, "doc_id", "text").collect()).foreach { rs =>
      ctx.check("funnel n_out <= n_in", rs.forall(r =>
        r.getAs[Long]("n_out") <= r.getAs[Long]("n_in")))
      ctx.check("funnel input is the corpus",
        rs.headOption.exists(_.getAs[Long]("n_in") == n))
      out ++= rs.map(r => s"f:${r.getAs[String]("stage")}:" +
        s"${r.getAs[Long]("n_out")}:${r.getAs[Long]("toks_out")}")
    }
    val split = ctx.op("dedup.group_split")(
      Graft.groupSplit(docs, "doc_id", "text").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")))
      .getOrElse(Array.empty[(Long, String)])
    ctx.check("group split covers every doc once",
      split.map(_._1).distinct.length == n && split.length == n)
    out ++= split.map { case (d, s) => s"s:$d:$s" }
    val contam = ctx.op("dedup.decontaminate")(
      Graft.bloomDecontaminate(docs, "doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getLong(1)))
      .getOrElse(Array.empty[(Long, Long)])
    val found = contam.map(_._1).toSet
    ctx.check("planted contamination found",
      planted.contamIds.forall(found.contains))
    out ++= contam.map { case (t, b) => s"c:$t:$b" }
    val keep = split.collect { case (d, "train") if !found(d) => d }
    val survivors = docs.join(keep.toSeq.toDF("doc_id"), "doc_id")
    val emb = ctx.op("embed")(Graft.embed(survivors, "doc_id", "text")
      .localCheckpoint(eager = true))
    emb.foreach { e =>
      ctx.op("sources.commit")(Graft.tableCommit(e, root, "vec_id",
        replace = true)).foreach { v =>
        val rows = Graft.tableLog(root).snapshot(v).map(_.nRows).sum
        ctx.check("committed survivors", rows == keep.length)
        out += s"v:$rows"
      }
    }
    out.toSeq
  }

  def run(ctx: Ctx, jvm: JvmCounters) = {
    import ctx.spark.implicits._
    val z = new Corpus.Zipf(vocab, 1.07)
    val planted = corpus(ctx.seed, nDocs, z)
    val raw = ctx.span("inputs")(
      ctx.land("curate", planted.rows.toDF("doc_id", "text")))
    ctx.report("inputs") = Map("docs" -> nDocs, "vocab" -> vocab,
      "near_dup_share" -> planted.dupIds.size.toDouble / nDocs,
      "contamination_share" -> planted.contamIds.size.toDouble / nDocs,
      "non_en_share" -> planted.deIds.size.toDouble / nDocs,
      "bench_docs" -> planted.benchIds.size)

    ctx.mark("inputs")
    // JIT warm-up on a disjoint seed: one whole pass; the first timed
    // pass still runs a little slower, and the per-stage medians below
    // absorb it
    ctx.span("warmup") {
      val warm = corpus(ctx.seed ^ WarmSeed, warmDocs, z)
      val warmDf = ctx.land("curate_warm", warm.rows.toDF("doc_id", "text"))
      val probe = new Ctx(ctx.spark, ctx.seed, ctx.seconds, false, ctx.work)
      for (_ <- 0 until warmPasses)
        pass(probe, warmDf, warmDocs, warm, ctx.scratch("warm_out"))
    }
    ctx.mark("warmup")

    // set-up proper: land the raw corpus as a versioned table
    val rawRoot = ctx.scratch("raw")
    val docs = ctx.span("setup") {
      for (_ <- 0 until commits)
        ctx.op("sources.land")(Graft.tableCommit(raw, rawRoot, "doc_id",
          replace = true))
      val log = Graft.tableLog(rawRoot)
      log.read(ctx.spark, raw.schema, log.latestVersion.get)
    }
    val setupS = Stats.median(ctx.msOf("sources.land")) / 1e3

    ctx.mark("setup")
    jvm.start()
    val passMs = mutable.ArrayBuffer[Double]()
    var firstOut: Seq[String] = Nil
    val outRoot = ctx.scratch("curated")
    // at least `passes` passes, then until the time budget is spent; a
    // traced run's overhead compares its untraced passes with the
    // traced ones after the first
    ctx.loop(System.nanoTime(), min = passes) { p =>
      val (out, ms) = ctx.timed(ctx.span("curate_pass")(
        pass(ctx, docs, nDocs, planted, outRoot)))
      if (p == 0) firstOut = out
      else ctx.check("repeat pass output equal", out == firstOut)
      passMs += ms
      true
    }
    ctx.mark("timed")
    // a pass's latency is the sum of its stages' medians over the
    // passes: a burst of load from other tenants slows one stage of
    // one pass, not the figure
    val passP50 = primaryOps.map(o => Stats.median(ctx.msOf(o))).sum
    ctx.report("output_hash") = Stats.setHash(firstOut).toString
    ctx.report("curate") = Map("passes" -> passMs.size,
      "pass_ms" -> passMs, "pass_p50_ms" -> passP50,
      "op_ms" -> primaryOps.map(o => o -> ctx.msOf(o)).toMap,
      "curate_docs_per_s" -> nDocs / (passP50 / 1e3),
      "survivors" -> firstOut.lastOption.getOrElse(""))

    if (ctx.traced) {
      def p50t(name: String) =
        Stats.median(ctx.msOf(name, tracedOnly = true)) / 1e3
      ctx.layer("pipeline.curate_funnel_s") = p50t("pipeline.curate_funnel")
      ctx.layer("dedup.group_split_s") = p50t("dedup.group_split")
      ctx.layer("dedup.decontaminate_s") = p50t("dedup.decontaminate")
      ctx.layer("sources.commit_s") = p50t("sources.commit")
      val embRows = firstOut.lastOption.map(_.stripPrefix("v:").toDouble)
      embRows.foreach(r => ctx.layer("embed.rows_per_s") = r / p50t("embed"))
      ctx.op("dedup.lsh_pairs")(Graft.minhashLshPairs(docs, "doc_id",
        "text").count()).foreach(c =>
        ctx.layer("dedup.pairs_verified") = c.toDouble)
    }
    e2e(setupS, passP50, nDocs / (passP50 / 1e3))
  }
}
