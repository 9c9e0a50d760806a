package perfbench

import graft.api.Graft

/** A workload: set-up, a timed phase of `ctx.seconds`, output checks.
  * Returns the end-to-end metrics; fills `ctx.layer` on traced runs.
  */
trait Workload {
  def run(ctx: Ctx, jvm: JvmCounters): Seq[(String, (Double, String))]

  /** The calls whose Spark counters the traced run reports. */
  def primary(name: String): Boolean

  /** Seed offsets: the JIT warm-up inputs are disjoint from the
    * measured ones, and each input stream has its own generator.
    */
  val WarmSeed = 0x5DEECE66DL
  val QuerySeed = 0x2545F491L

  def ragFrame(ctx: Ctx, name: String, docs: Seq[Corpus.Doc]) = {
    import ctx.spark.implicits._
    ctx.land(name, docs.toDF("doc_id", "filepath", "lang", "text"))
  }

  def ragIndex(ctx: Ctx, df: org.apache.spark.sql.DataFrame,
      root: String): Graft.RagIndex =
    Graft.ragIndex(df, "doc_id", "filepath", "lang", "text",
      stateRoot = Some(ctx.scratch(root)))

  /** Hits of one search, checked: non-empty, at most `k`, sorted by
    * descending `rrf`. Returns (chunk_id, rrf) in rank order.
    */
  def hits(ctx: Ctx, df: org.apache.spark.sql.DataFrame,
      k: Int): Seq[(Long, Double)] = {
    val hs = df.collect().toSeq.map(r =>
      r.getAs[Long]("chunk_id") -> r.getAs[Double]("rrf"))
    ctx.check("hits non-empty", hs.nonEmpty)
    ctx.check("hits at most k", hs.size <= k)
    ctx.check("hits sorted by rrf",
      hs.map(_._2).sliding(2).forall(p => p.size < 2 || p(0) >= p(1)))
    hs
  }

  def e2e(setupS: Double, opP50Ms: Double, itemsPerS: Double) = Seq(
    "setup_s" -> (setupS, "s"),
    "op_p50_ms" -> (opP50Ms, "ms"),
    "items_per_s" -> (itemsPerS, "1/s"))
}
