package perfbench

import graft.api.Graft
import graft.functions.{Text, Vectors}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The per-layer metrics of a traced run, named `<module>.<metric>`.
  * A traced run reports every one; a layer the workload leaves idle
  * reads 0.
  */
object Layers {
  val names: Seq[String] = Seq(
    "pipeline.serve_ms.int16", "pipeline.serve_ms.sq8_rerank",
    "pipeline.serve_ms.pq_rerank", "pipeline.serve_tail_ms",
    "pipeline.pack_context_ms", "pipeline.build_s", "pipeline.tier_mint_s",
    "pipeline.add_s",
    "pipeline.remove_s", "pipeline.fresh_search_ms",
    "pipeline.bytes_written_per_input_byte", "pipeline.curate_funnel_s",
    "ingest.normalize_s", "ingest.chunk_s", "embed.rows_per_s",
    "dedup.group_split_s", "dedup.decontaminate_s",
    "dedup.pairs_verified", "streams.gm_step_s", "streams.gm_compact_s",
    "sources.commit_s",
    "expressions.tokenize_rows_per_s", "expressions.minhash_rows_per_s",
    "expressions.cosine_rows_per_s",
    "expressions.centroid_top1_rows_per_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_s",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "spark.codegen_compiles", "spark.driver_gap_ms",
    "spark.driver_gap_share", "spark.task_wall_ratio", "staging.first_touch",
    "state.files_written", "state.bytes_written",
    "jvm.heap_peak_mb", "jvm.gc_s", "jvm.jit_s",
    "trace.overhead_share", "trace.uncovered_share")

  def unit(n: String): String =
    if (n.endsWith("rows_per_s")) "1/s"
    else if (n.contains("_ms")) "ms"
    else if (n.endsWith("_s")) "s"
    else if (n.endsWith("_bytes") || n == "state.bytes_written") "B"
    else if (n.endsWith("_mb")) "MB"
    else if (n.endsWith("_share") || n.endsWith("_ratio") ||
      n.endsWith("per_input_byte")) "ratio"
    else "count"

  /** Timed-phase calls that are the workload's own operations. */
  private def timedCalls(ctx: Ctx): Seq[Call] =
    ctx.calls.toSeq.filter(c => !setup(c.name) && !c.name.startsWith("probe."))

  private val setup = Set("pipeline.build", "pipeline.tier_mint", "sources.land")

  /** Spark counters per traced call of the workload's primary
    * operations, first-touch work, JVM and tracing figures.
    */
  def common(ctx: Ctx, jvm: JvmCounters, primary: String => Boolean): Unit = {
    val traced = timedCalls(ctx).filter(c => c.spark.isDefined && primary(c.name))
    val ds = traced.map(_.spark.get)
    val n = math.max(1, ds.size).toDouble
    val wallMs = traced.map(_.ms).sum
    val gapMs = traced.map(c => math.max(0.0, c.ms - c.spark.get.jobUnionMs)).sum
    ctx.layer("spark.jobs") = ds.map(_.jobs).sum / n
    ctx.layer("spark.stages") = ds.map(_.stages).sum / n
    ctx.layer("spark.tasks") = ds.map(_.tasks).sum / n
    ctx.layer("spark.task_s") = ds.map(_.taskS).sum / n
    ctx.layer("spark.shuffle_read_bytes") = ds.map(_.shuffleRead).sum / n
    ctx.layer("spark.shuffle_write_bytes") = ds.map(_.shuffleWrite).sum / n
    ctx.layer("spark.spill_bytes") = ds.map(_.spill).sum / n
    ctx.layer("spark.codegen_compiles") = ds.map(_.codegen).sum / n
    ctx.layer("spark.driver_gap_ms") = gapMs / n
    ctx.layer("spark.driver_gap_share") = gapMs / math.max(1e-9, wallMs)
    ctx.layer("spark.task_wall_ratio") =
      ds.map(_.taskS).sum * 1e3 / math.max(1e-9, wallMs)
    ctx.layer("staging.first_touch") = timedCalls(ctx).map(_.firstTouch).sum
    ctx.layer("jvm.heap_peak_mb") = jvm.heapPeakMb
    ctx.layer("jvm.gc_s") = jvm.gcS
    ctx.layer("jvm.jit_s") = jvm.jitS
    // overhead: per call name, traced median over untraced median; the
    // first call of a name (always traced) still carries warm-up cost
    val byName = timedCalls(ctx).groupBy(_.name).values.flatMap { cs =>
      val (t, u) = cs.tail.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some(Stats.median(t.map(_.ms)) / Stats.median(u.map(_.ms)) - 1)
    }.toSeq
    if (byName.nonEmpty) ctx.layer("trace.overhead_share") = Stats.median(byName)
    // every call runs under a root span (a phase, a serve round, a
    // pass, a wave), untraced ones too, so what no span covers is the
    // harness's own glue between them
    val spans = ctx.tracer.spans
    if (spans.nonEmpty)
      ctx.layer("trace.uncovered_share") = ctx.tracer.uncoveredShare(
        spans.map(_.t0).min, spans.map(_.t1).max)
    ctx.report("trace") = Map(
      "traced_calls" -> traced.size, "untraced_calls" ->
        timedCalls(ctx).count(!_.traced),
      "setup_first_touch" ->
        ctx.calls.filter(c => setup(c.name)).map(_.firstTouch).sum,
      "unmapped_tasks" -> ctx.counters.map(_.unmappedTasks),
      "drain_timeouts" -> ctx.counters.map(_.drainTimeouts),
      "per_call" -> traced.groupBy(_.name).map { case (k, cs) =>
        k -> Map("calls" -> cs.size,
          "wall_ms" -> Stats.median(cs.map(_.ms)),
          "driver_gap_ms" -> Stats.median(cs.map(c =>
            c.ms - c.spark.get.jobUnionMs)),
          "jobs" -> Stats.median(cs.map(_.spark.get.jobs.toDouble)),
          "tasks" -> Stats.median(cs.map(_.spark.get.tasks.toDouble)),
          "task_s" -> Stats.median(cs.map(_.spark.get.taskS)),
          "codegen_compiles" -> Stats.median(cs.map(_.spark.get.codegen.toDouble)),
          "first_touch" -> cs.map(_.firstTouch).sum)
      })
  }
}

/** Isolated probes that traced runs add after the workload. */
object Probes {
  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Normalize and chunk of a RAG corpus, each materialized alone. */
  def ingest(ctx: Ctx, corpus: DataFrame): Unit = ctx.span("probe.ingest") {
    val norm = Graft.ragNormalize(corpus, "doc_id", "filepath", "lang",
      "text").localCheckpoint(eager = true)
    ctx.op("probe.normalize")(noop(Graft.ragNormalize(corpus, "doc_id",
      "filepath", "lang", "text")))
    ctx.op("probe.chunk")(noop(Graft.chunk(norm, "doc_id", "body", 200, 100)))
    val chunks = Graft.chunk(norm, "doc_id", "body", 200, 100)
      .withColumn("chunk_id", col("doc_id") * 1000000L + col("start"))
      .localCheckpoint(eager = true)
    val rows = chunks.count().toDouble
    ctx.op("probe.embed")(noop(Graft.embed(chunks, "chunk_id", "chunk")))
    ctx.layer("ingest.normalize_s") = Stats.median(ctx.msOf("probe.normalize")) / 1e3
    ctx.layer("ingest.chunk_s") = Stats.median(ctx.msOf("probe.chunk")) / 1e3
    ctx.layer("embed.rows_per_s") =
      rows / (Stats.median(ctx.msOf("probe.embed")) / 1e3)
  }

  /** Rows/s of the hot expressions over a cached frame, so scan and
    * shuffle costs stay out: the median of three passes each.
    */
  def expressions(ctx: Ctx): Unit = ctx.span("probe.expressions") {
    val spark = ctx.spark
    import spark.implicits._
    val rows = 20000
    val dim = 64
    val rng = new java.util.SplittableRandom(ctx.seed)
    val z = new Corpus.Zipf(4000, 1.07)
    val base = (0 until rows).map { i =>
      (i.toLong, Corpus.sentence(Corpus.words(rng, z, 60).toSeq),
        Array.fill(dim)(rng.nextGaussian()))
    }.toDF("id", "text", "v")
      .withColumn("tk", Text.tokenize(col("text")))
      .withColumn("sh", Text.shinglesFast(5)(col("tk")))
      .cache()
    base.count()
    val q = typedLit(Seq.fill(dim)(rng.nextGaussian()))
    val cents = new graft.expressions.PlaneMatrix(
      Array.fill(64 * dim)(rng.nextGaussian()), dim)
    val exprs = Seq(
      "tokenize" -> Text.tokenize(col("text")),
      "minhash" -> Text.minhashSig(col("sh")),
      "cosine" -> Vectors.cosine(col("v"), q),
      "centroid_top1" -> Vectors.centroidTop1(col("v"), cents))
    for ((name, e) <- exprs) {
      for (_ <- 0 until 3)
        ctx.op(s"probe.expr.$name")(noop(base.select(e.as("x"))))
      ctx.layer(s"expressions.${name}_rows_per_s") =
        rows / (Stats.median(ctx.msOf(s"probe.expr.$name")) / 1e3)
    }
    base.unpersist()
  }
}
