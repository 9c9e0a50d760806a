package graft.tools

import java.util.concurrent.ConcurrentHashMap

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one diagnostic runner over [[graft.SparkEntry.queries]]: runs
  * each named query and prints one JSON line splitting its wall time
  * into layers.
  *
  * Usage: `runMain graft.tools.Profile <sfDir> <q1,q2,...> [--copies N] [--plan]`
  *
  * The session is `GraftSession.build()`, so `SPARK_GRAFT_CPUS` sets
  * the core count. Each line carries:
  *  - `query`, `rows`, `wall_s`;
  *  - `job_union_s`: the union of the query's job intervals, and
  *    `driver_gap_s` = `wall_s` − `job_union_s` (planning, file
  *    listing, driver-side work between jobs);
  *  - `phases`: seconds per label, the union of the intervals of the
  *    jobs whose `spark.job.description` is that label
  *    (`Pipeline.labeled` and every `Concurrent.settleAll` thunk set
  *    it; the terminal collect runs under `<query>: collect`); jobs
  *    without one go under `unlabelled`;
  *  - `jobs`: id, label and interval of each job;
  *  - `stages`: per stage that ran, its name (the call site), its job
  *    (the first job that listed it), label, tasks, summed task run time, shuffle bytes
  *    read and written, spill bytes, summed scheduler delay, and its
  *    interval (`start_s`/`end_s` from the query's start);
  *  - `codegen_compiles`: whole-stage codegen compilations during the
  *    query (Spark's `CodegenMetrics`).
  *
  * `--copies N` runs the queries on an N× copy of `sfDir`, made once
  * into a scratch dir that the run deletes at exit ([[replicate]]).
  * `--plan` adds `plan`: the executed plan, final after adaptive
  * re-planning, because the rows are collected through the Dataset's
  * own `QueryExecution` (`count()` would plan a new one and leave this
  * one's adaptive plan unexecuted).
  */
object Profile {

  final case class Options(sfDir: String, names: Seq[String], copies: Int,
      plan: Boolean)

  def parse(args: Array[String]): Options = {
    val usage = "usage: Profile <sfDir> <q1,q2,...> [--copies N] [--plan]"
    def go(rest: List[String], o: Options): Options = rest match {
      case Nil => o
      case "--plan" :: tail => go(tail, o.copy(plan = true))
      case "--copies" :: n :: tail if n.toIntOption.exists(_ >= 1) =>
        go(tail, o.copy(copies = n.toInt))
      case other :: _ => throw new IllegalArgumentException(s"bad argument '$other'; $usage")
    }
    args.toList match {
      case dir :: names :: rest if !dir.startsWith("--") && !names.startsWith("--") =>
        go(rest, Options(dir, names.split(',').toSeq.filter(_.nonEmpty), 1, plan = false))
      case _ => throw new IllegalArgumentException(usage)
    }
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = graft.GraftSession.build()
    try {
      val dir = if (o.copies > 1) replicate(spark, o.sfDir, o.copies) else o.sfDir
      try o.names.foreach(n => println(toJson(profile(spark, dir, n, o.plan))))
      finally if (dir != o.sfDir) graft.Staging.release(dir)
    } finally spark.stop()
  }

  def toJson(line: Map[String, Any]): String =
    org.json4s.jackson.Serialization.write(line)(org.json4s.DefaultFormats)

  /** Run query `name` on `dir` and return its profile line (see above). */
  def profile(spark: SparkSession, dir: String, name: String,
      plan: Boolean = false): ListMap[String, Any] = {
    val query = graft.SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"no query named '$name'"))
    val sc = spark.sparkContext
    // events of earlier work must not reach this query's recorder
    org.apache.spark.ListenerBusDrain(sc)
    val rec = new Recorder
    sc.addSparkListener(rec)
    val compiles0 = compiles
    val (df, rows, w0, w1) =
      try {
        val w0 = System.currentTimeMillis()
        val df = query(spark, dir)
        val rows = graft.operators.Pipeline.labeled(spark, s"$name: collect")(
          df.collect().length)
        val w1 = System.currentTimeMillis()
        org.apache.spark.ListenerBusDrain(sc)
        (df, rows, w0, w1)
      } finally sc.removeSparkListener(rec)
    val compiled = compiles - compiles0
    val planText = if (plan) Some(df.queryExecution.executedPlan.toString) else None
    spark.catalog.clearCache()

    def secs(ms: Long): Double = ms / 1e3
    def clip(iv: (Long, Long)): (Long, Long) = (math.max(iv._1, w0), math.min(iv._2, w1))
    val jobs = rec.jobs.asScala.toSeq.sortBy(_._1).map { case (id, j) =>
      (id, j.label, clip((j.t0, if (j.t1 < 0) w1 else j.t1)))
    }
    val phases = jobs.groupBy(_._2).toSeq.sortBy(_._1).map { case (label, js) =>
      label -> secs(unionLength(js.map(_._3)))
    }
    val jobUnion = unionLength(jobs.map(_._3))
    val labelOf = jobs.map(j => j._1 -> j._2).toMap
    val stages = rec.stages.asScala.toSeq.filter(_._2.completed).sortBy(_._1).map { case (id, s) =>
      val job: Int = rec.stageJob.getOrDefault(id, -1)
      ListMap("stage" -> id, "name" -> s.name, "job" -> job,
        "label" -> labelOf.getOrElse(job, unlabelled),
        "tasks" -> s.tasks, "task_s" -> secs(s.runMs),
        "shuffle_read_bytes" -> s.shuffleRead, "shuffle_write_bytes" -> s.shuffleWrite,
        "spill_bytes" -> s.spill, "scheduler_delay_s" -> secs(s.delayMs),
        "start_s" -> secs(s.t0 - w0), "end_s" -> secs(s.t1 - w0))
    }
    ListMap[String, Any]("query" -> name, "rows" -> rows,
      "wall_s" -> secs(w1 - w0), "job_union_s" -> secs(jobUnion),
      "driver_gap_s" -> secs(w1 - w0 - jobUnion),
      "phases" -> ListMap(phases: _*),
      "jobs" -> jobs.map { case (id, label, (a, b)) =>
        ListMap("job" -> id, "label" -> label, "start_s" -> secs(a - w0), "end_s" -> secs(b - w0))
      },
      "stages" -> stages, "codegen_compiles" -> compiled) ++
      planText.map("plan" -> _)
  }

  private val unlabelled = "unlabelled"

  private def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Total length covered by a set of intervals. */
  private[graft] def unionLength(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    ivs.filter(iv => iv._2 > iv._1).sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  /** Materialize an `n`× copy of the sf dir `sfDir` into a fresh
    * `Staging.scratch` dir and return it; the caller releases it.
    * Copy `c` of each table shifts its id column by `c` × (max id + 1):
    *  - `documents` suffixes every token that is not a marker word
    *    (`TextAnalysis.profiles`) with `x<c>`, so the copies share no
    *    other token: candidate structure and true near-duplicate pairs
    *    replicate per copy, and the language and quality signals (marker
    *    ratios) keep their values. `n_chars` is recomputed.
    *  - `embeddings` multiply each dim by copy `c`'s fixed ±1 pattern:
    *    norms and within-copy cosines are kept exactly, cross-copy
    *    cosines decorrelate; dims are unchanged.
    *  - every other file is copied as it is.
    */
  def replicate(spark: SparkSession, sfDir: String, n: Int): String = {
    val out = graft.Staging.scratch(s"profile_x$n")
    try {
      graft.Fs.list(sfDir).foreach { e =>
        def write(f: (DataFrame, Int) => DataFrame, id: String): Unit =
          copies(spark.read.parquet(e.path), id, n)(f)
            .write.parquet(s"$out/${e.name}")
        e.name match {
          case "documents.parquet" => write(disjointVocabulary, "doc_id")
          case "embeddings.parquet" => write(signFlipped, "vec_id")
          case _ => graft.Fs.copy(e.path, s"$out/${e.name}")
        }
      }
      out
    } catch {
      case e: Throwable =>
        graft.Staging.release(out)
        throw e
    }
  }

  private def copies(t: DataFrame, id: String, n: Int)(
      f: (DataFrame, Int) => DataFrame): DataFrame = {
    val stride = t.agg(max(col(id))).head().getLong(0) + 1
    (0 until n).map(c => f(t, c).withColumn(id, col(id) + lit(c * stride)))
      .reduce(_ unionByName _)
  }

  private def disjointVocabulary(docs: DataFrame, c: Int): DataFrame = {
    val keep = graft.operators.TextAnalysis.profiles.flatMap(_._2).distinct.mkString("|")
    val out = docs.withColumn("text",
      regexp_replace(col("text"), s"\\b(?!(?:$keep)\\b)([a-z0-9]+)\\b", s"$$1x$c"))
    if (docs.columns.contains("n_chars"))
      out.withColumn("n_chars", length(col("text")).cast(docs.schema("n_chars").dataType))
    else out
  }

  private def signFlipped(vecs: DataFrame, c: Int): DataFrame = {
    val dim = vecs.agg(max(size(col("embedding")))).head().getInt(0)
    val rnd = new scala.util.Random(c)
    val signs = typedLit(Seq.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0))
    vecs.withColumn("embedding",
      transform(col("embedding"), (x, i) => x * element_at(signs, i + 1))
        .cast(vecs.schema("embedding").dataType))
  }

  /** One stage's figures, summed over its attempts. */
  private final class Stage {
    var t0 = Long.MaxValue
    var t1, tasks, runMs, shuffleRead, shuffleWrite, spill, delayMs = 0L
    var name = ""
    var completed = false
  }

  private final class Job(val label: String, val t0: Long) {
    @volatile var t1 = -1L
  }

  /** Records jobs, stage→job attribution and per-stage task figures.
    * Events arrive on the one listener-bus thread, and a stage's task
    * ends before its completion, so the per-stage sums need no lock.
    */
  private final class Recorder extends SparkListener {
    val jobs = new ConcurrentHashMap[Int, Job]()
    val stageJob = new ConcurrentHashMap[Int, Integer]()
    val stages = new ConcurrentHashMap[Int, Stage]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val label = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse(unlabelled)
      jobs.put(e.jobId, new Job(label, e.time))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.t1 = e.time)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stages.computeIfAbsent(e.stageId, _ => new Stage)
      val info = e.taskInfo
      s.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        s.runMs += m.executorRunTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        // Spark UI's scheduler delay: task duration not spent running,
        // deserializing, serializing the result or fetching it
        s.delayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val s = stages.computeIfAbsent(i.stageId, _ => new Stage)
      i.submissionTime.foreach(t => s.t0 = math.min(s.t0, t))
      i.completionTime.foreach(t => s.t1 = math.max(s.t1, t))
      s.name = i.name
      s.completed = true
    }
  }
}
