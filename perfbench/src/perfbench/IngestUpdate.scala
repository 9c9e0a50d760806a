package perfbench

import graft.api.Graft
import java.util.SplittableRandom
import org.apache.spark.sql.DataFrame
import scala.collection.mutable

/** Writes beside reads: waves of arrivals through group maintenance
  * and `RagIndex.add`, a seeded set of victims through `remove`, then
  * the first search after the wave (write-to-visible latency).
  */
object IngestUpdate extends Workload {
  val nBase = 240
  val builds = 3
  val waves = 8
  val arrivals = 24
  val victims = 6
  val k = 10
  val vocab = 4000
  private val indexable = Set("md", "mdx", "ipynb", "py", "sql")

  def primary(name: String): Boolean = Set("streams.gm_step",
    "pipeline.add", "pipeline.remove", "pipeline.fresh_search")(name)

  /** Arrivals of wave `w`: indexable types only, entry 0 is the
    * wave's markdown marker doc.
    */
  def arrivalsOf(seed: Long, w: Int, z: Corpus.Zipf): Seq[Corpus.Doc] =
    Corpus.repo(seed * 31 + w, arrivals, 1000000L * (w + 1), z, 40, 120,
      (i, t) => if (i == 0 || !indexable(t)) "md" else t)

  def isMd(d: Corpus.Doc): Boolean =
    d.path.endsWith(".md") && !d.path.contains("/.")

  /** Files under a directory tree: path -> (size, mtime). */
  def files(root: String): Map[String, (Long, Long)] = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(f => f.toString -> (java.nio.file.Files.size(f),
            java.nio.file.Files.getLastModifiedTime(f).toMillis)).toMap
      } finally s.close()
    }
  }

  /** Count and bytes of the files new or changed between snapshots. */
  def written(a: Map[String, (Long, Long)],
      b: Map[String, (Long, Long)]): (Int, Long) = {
    val w = b.filter { case (p, v) => !a.get(p).contains(v) }
    (w.size, w.values.map(_._1).sum)
  }

  /** A write session over a built index: group maintenance in front
    * of `add`, seeded victims among the live markdown docs.
    */
  final class Writer(ctx: Ctx, idx: Graft.RagIndex, liveMd: Seq[Long]) {
    private val gmRoot = ctx.scratch("gm")
    private val gm = Graft.groupMaintenance(ctx.spark,
      stateRoot = Some(gmRoot))
    private val rng = new SplittableRandom(ctx.seed ^ QuerySeed)
    private val live = mutable.ArrayBuffer[Long]() ++= liveMd
    private val removed = mutable.Set[Long]()
    val waveMs = mutable.ArrayBuffer[Double]()
    val wrote = mutable.ArrayBuffer[(Int, Long)]()
    private var inBytes = 0L
    var stepped = 0

    /** One wave; returns the fresh search's hits. */
    def wave(arr: Seq[Corpus.Doc], df: DataFrame): Seq[(Long, Double)] =
      ctx.span("wave") {
        val vs = (0 until victims).map(_ => live.remove(rng.nextInt(live.size)))
        val before = files(idx.root) ++ files(gmRoot)
        var fresh: Seq[(Long, Double)] = Nil
        val (_, ms) = ctx.timed {
          ctx.op("streams.gm_step")(gm.step(df, "doc_id", "text"))
          ctx.op("pipeline.add")(idx.add(df, "doc_id", "filepath", "lang",
            "text")).foreach(n =>
            ctx.check("add indexes every arrival", n == arr.size))
          ctx.op("pipeline.remove")(idx.remove(vs)).foreach(n =>
            ctx.check("remove drops every victim", n == vs.size))
          removed ++= vs
          // the marker plus two victims: a removed doc would rank first
          val q = (arr.head.id +: vs.take(2)).map(Corpus.tokenOf).mkString(" ")
          ctx.op("pipeline.fresh_search")(hits(ctx, idx.search(q, k), k))
            .foreach { hs =>
              val srcs = hs.map(_._1 / 1000000L)
              ctx.check("wave marker found by the fresh search",
                srcs.contains(arr.head.id))
              ctx.check("removed ids never returned",
                !srcs.exists(removed.contains))
              fresh = hs
            }
        }
        wrote += written(before, files(idx.root) ++ files(gmRoot))
        inBytes += arr.map(_.text.getBytes("UTF-8").length.toLong).sum
        live ++= arr.filter(isMd).map(_.id)
        stepped += arr.size
        waveMs += ms
        fresh
      }

    def compact(): Unit =
      ctx.op("streams.gm_compact")(gm.compact().collect()).foreach(g =>
        ctx.check("groups cover at most the arrivals", g.length <= stepped))

    /** Per-layer figures of the write path (traced runs). */
    def layers(): Unit = {
      def p50t(name: String) =
        Stats.median(ctx.msOf(name, tracedOnly = true)) / 1e3
      ctx.layer("pipeline.add_s") = p50t("pipeline.add")
      ctx.layer("pipeline.remove_s") = p50t("pipeline.remove")
      ctx.layer("pipeline.fresh_search_ms") =
        p50t("pipeline.fresh_search") * 1e3
      ctx.layer("pipeline.bytes_written_per_input_byte") =
        wrote.map(_._2).sum.toDouble / math.max(1L, inBytes)
      ctx.layer("state.files_written") = Stats.median(wrote.map(_._1.toDouble))
      ctx.layer("state.bytes_written") = Stats.median(wrote.map(_._2.toDouble))
      ctx.layer("streams.gm_step_s") = p50t("streams.gm_step")
      ctx.layer("streams.gm_compact_s") = p50t("streams.gm_compact")
    }
  }

  def run(ctx: Ctx, jvm: JvmCounters) = {
    val z = new Corpus.Zipf(vocab, 1.07)
    val base = Corpus.repo(ctx.seed, nBase, 1L, z, 40, 120)
    val (baseDf, warmDf) = ctx.span("inputs")((ragFrame(ctx, "base", base),
      ragFrame(ctx, "warm",
        Corpus.repo(ctx.seed ^ WarmSeed, nBase / 4, 1L, z, 40, 120))))
    ctx.report("inputs") = Map("base_docs" -> nBase, "vocab" -> vocab,
      "arrivals_per_wave" -> arrivals, "victims_per_wave" -> victims,
      "type_mix" -> base.groupBy(d => d.path.split('.').last)
        .map { case (t, ds) => t -> ds.size })
    ctx.mark("inputs")

    // set-up: the first build is the JIT warm-up on a disjoint seed;
    // setup_s is the median of the measured builds after it
    ctx.span("warmup")(ragIndex(ctx, warmDf, "warm"))
    var idx: Graft.RagIndex = null
    ctx.span("setup")(for (b <- 0 until builds)
      ctx.op("pipeline.build")(ragIndex(ctx, baseDf, s"idx$b"))
        .foreach(idx = _))
    val buildsMs = ctx.msOf("pipeline.build")
    val setupS = Stats.median(buildsMs) / 1e3
    val writer = new Writer(ctx, idx, base.filter(isMd).map(_.id))
    ctx.mark("setup")

    jvm.start()
    var firstWave: Seq[(Long, Double)] = Nil
    val n = ctx.loop(System.nanoTime()) { w =>
      val arr = arrivalsOf(ctx.seed, w, z)
      val df = ctx.span("inputs")(ragFrame(ctx, s"wave$w", arr))
      val fresh = writer.wave(arr, df)
      if (w == 0) firstWave = fresh
      w + 1 < waves
    }
    writer.compact()
    ctx.mark("timed")
    ctx.report("output_hash") = Stats.setHash(firstWave.map {
      case (c, r) => f"$c:$r%.9f" }).toString

    def p50s(name: String) = Stats.median(ctx.msOf(name)) / 1e3
    ctx.report("ingest") = Map(
      "waves" -> n, "wave_p50_s" -> Stats.median(writer.waveMs) / 1e3,
      "build_docs_per_s" -> nBase / setupS,
      "add_p50_s" -> p50s("pipeline.add"),
      "remove_p50_s" -> p50s("pipeline.remove"),
      "dedup_step_p50_s" -> p50s("streams.gm_step"),
      "fresh_search_p50_ms" -> Stats.median(ctx.msOf("pipeline.fresh_search")),
      "files_written_per_wave" -> writer.wrote.map(_._1),
      "bytes_written_per_wave" -> writer.wrote.map(_._2),
      "build_ms" -> buildsMs)

    if (ctx.traced) {
      ctx.layer("pipeline.build_s") = setupS
      writer.layers()
      Probes.ingest(ctx, baseDf)
    }
    e2e(setupS, Stats.median(writer.waveMs),
      writer.stepped / (writer.waveMs.sum / 1e3))
  }
}
