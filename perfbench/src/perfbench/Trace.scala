package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.json4s.jackson.Serialization
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed span: `trace` groups the spans of one top-level call. */
final case class Span(id: Int, parent: Int, trace: Int, name: String,
    t0: Long, var t1: Long = -1L) {
  def ms: Double = (t1 - t0) / 1e6
}

/** In-memory span recorder for the benchmark's own calls (single
  * driver thread). Spans nest by call structure; a span with parent
  * -1 opens a new trace. The log is written once, at the end.
  */
final class Tracer {
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  private var traces = 0

  def span[T](name: String)(f: => T): T = {
    val parent = stack.headOption
    val trace = parent.map(_.trace).getOrElse { traces += 1; traces }
    val s = Span(spans.size, parent.map(_.id).getOrElse(-1), trace, name,
      System.nanoTime())
    spans += s
    stack = s :: stack
    try f finally { s.t1 = System.nanoTime(); stack = stack.tail }
  }

  /** Span time minus the time of its direct children, by span id. */
  def selfMs: Map[Int, Double] = {
    val child = spans.filter(_.parent >= 0).groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(_.ms).sum }
    spans.map(s => s.id -> (s.ms - child.getOrElse(s.id, 0.0))).toMap
  }

  /** Share of [t0, t1] that no top-level span covers. */
  def uncoveredShare(t0: Long, t1: Long): Double = {
    val roots = spans.filter(s => s.parent < 0 && s.t1 > t0 && s.t0 < t1)
      .map(s => (math.max(s.t0, t0), math.min(s.t1, t1)))
    1.0 - Stats.unionLength(roots.toSeq).toDouble / math.max(1L, t1 - t0)
  }

  def write(path: String): Unit = {
    val self = selfMs
    val base = spans.headOption.map(_.t0).getOrElse(0L)
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(Serialization.write(Map("id" -> s.id, "parent" -> s.parent,
        "trace" -> s.trace, "name" -> s.name,
        "start_ms" -> (s.t0 - base) / 1e6, "end_ms" -> (s.t1 - base) / 1e6,
        "self_ms" -> self(s.id))))
    } finally w.close()
  }
}

/** Spark-side counters of one call, from the benchmark's listener. */
final case class SparkDelta(jobs: Long, stages: Long, tasks: Long,
    taskS: Double, shuffleRead: Long, shuffleWrite: Long, spill: Long,
    codegen: Long, jobUnionMs: Double)

/** The benchmark's own listener. Stages map to jobs through
  * `SparkListenerJobStart.stageIds`; each job's wall interval comes
  * from its start and end events, so driver gap = call wall time minus
  * the union of the call's job intervals.
  */
final class SparkCounters(sc: SparkContext) extends SparkListener {
  private val jobs, stages, tasks, runNs, shR, shW, spill = new AtomicLong
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobSpan = new ConcurrentHashMap[Int, Array[Long]]()
  @volatile var unmappedTasks = 0L
  @volatile var drainTimeouts = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobSpan.put(e.jobId, Array(e.time, -1L))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.get(e.jobId)).foreach(_(1) = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet(); ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (!stageJob.containsKey(e.stageId)) unmappedTasks += 1
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      runNs.addAndGet(m.executorRunTime * 1000000L)
      shR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  // Janino compilations: a whole-stage codegen cache miss compiles a
  // new class, which the JIT then compiles again
  private def snap = Array(jobs.get, stages.get, tasks.get, runNs.get,
    shR.get, shW.get, spill.get,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount)

  /** Run `f`, drain the bus (bounded), and return its counters. */
  def measure[T](f: => T): (T, SparkDelta) = {
    val a = snap
    val w0 = System.currentTimeMillis()
    val r = f
    val w1 = System.currentTimeMillis()
    if (!org.apache.spark.PerfbenchBus.drain(sc, 10000L)) drainTimeouts += 1
    val b = snap
    val ivs = jobSpan.values.asScala.toSeq
      .filter(iv => iv(1) >= w0 && iv(0) <= w1)
      .map(iv => (math.max(iv(0), w0), math.min(iv(1), w1)))
    (r, SparkDelta(b(0) - a(0), b(1) - a(1), b(2) - a(2),
      (b(3) - a(3)) / 1e9, b(4) - a(4), b(5) - a(5), b(6) - a(6),
      b(7) - a(7), Stats.unionLength(ivs).toDouble))
  }
}

object Stats {
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN on an empty sample. */
  def quantile(xs: Iterable[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.toIndexedSeq.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest whole percentile with at least 10 samples above it,
    * as (percentile, value); None below 11 samples.
    */
  def tail(xs: Iterable[Double]): Option[(Int, Double)] =
    if (xs.size < 11) None
    else {
      val s = xs.toIndexedSeq.sorted
      val p = (99 to 50 by -1).find(p =>
        s.count(_ > quantile(s, p / 100.0)) >= 10).getOrElse(50)
      Some(p -> quantile(s, p / 100.0))
    }

  def unionLength(ivs: Seq[(Long, Long)]): Long = {
    var total, end = 0L
    var open = false
    ivs.filter(iv => iv._2 > iv._1).sortBy(_._1).foreach { case (a, b) =>
      if (!open || a > end) { total += b - a; end = b; open = true }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  /** Order-independent 64-bit hash of a set of rows. */
  def setHash(rows: Iterable[String]): Long =
    rows.foldLeft(0L)((h, r) => h + scala.util.hashing.MurmurHash3
      .stringHash(r).toLong * 0x9E3779B97F4A7C15L + r.length)
}
