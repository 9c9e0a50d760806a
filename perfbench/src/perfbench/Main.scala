package perfbench

import graft.api.Graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** One call of the timed phase. `spark` is set on traced calls. */
final case class Call(name: String, ms: Double, traced: Boolean,
    spark: Option[SparkDelta], firstTouch: Long)

/** The state one workload run shares with the harness: the session,
  * the seed, the clock, the correctness tally and, on traced runs,
  * the span recorder and the listener.
  */
final class Ctx(val spark: SparkSession, val seed: Long,
    val seconds: Int, val traced: Boolean, val work: String) {
  val tracer = new Tracer
  val counters: Option[SparkCounters] =
    if (traced) Some(new SparkCounters(spark.sparkContext)) else None
  counters.foreach(spark.sparkContext.addSparkListener)
  var attempted, failed = 0L
  val checks = mutable.LinkedHashMap[String, Array[Int]]()
  val calls = ArrayBuffer[Call]()
  val report = mutable.LinkedHashMap[String, Any]()
  val layer = mutable.LinkedHashMap[String, Double]()
  private val seen = mutable.Map[String, Int]().withDefaultValue(0)
  private var lastMark = System.nanoTime()
  val phases = mutable.LinkedHashMap[String, Double]()

  /** Close the current phase of the run under `name` (wall seconds). */
  def mark(name: String): Unit = {
    val t = System.nanoTime()
    phases(name) = (t - lastMark) / 1e9
    lastMark = t
  }

  /** Count one output check; a failed check counts as a failed op. */
  def check(name: String, ok: Boolean): Unit = {
    val c = checks.getOrElseUpdate(name, Array(0, 0))
    c(1) += 1
    if (ok) c(0) += 1
    else { failed += 1; System.err.println(s"perfbench: check failed: $name") }
  }

  def firstTouch: Long = graft.Staging.stagedKeys + graft.Registries.gen

  /** Run one measured call. On traced runs the calls of each name
    * alternate between traced (span + listener) and untraced (listener
    * detached), so tracing overhead is traced minus untraced; the first
    * call of a name is always traced. A throwing call counts as failed.
    */
  def op[T](name: String)(f: => T): Option[T] = {
    attempted += 1
    val k = seen(name); seen(name) = k + 1
    val traceThis = traced && k % 2 == 0
    val ft0 = firstTouch
    try {
      val (r, ms, d) =
        if (traceThis) {
          val ((r, ms), d) = counters.get.measure(tracer.span(name)(timed(f)))
          (r, ms, Some(d))
        } else if (traced) {
          val sc = spark.sparkContext
          sc.removeSparkListener(counters.get)
          val (r, ms) = try timed(f) finally sc.addSparkListener(counters.get)
          (r, ms, None)
        } else { val (r, ms) = timed(f); (r, ms, None) }
      calls += Call(name, ms, traceThis, d, firstTouch - ft0)
      Some(r)
    } catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"perfbench: $name failed: $e")
        e.printStackTrace()
        None
    }
  }

  /** A span around a group of calls (traced runs only). */
  def span[T](name: String)(f: => T): T =
    if (traced) tracer.span(name)(f) else f

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def msOf(name: String, tracedOnly: Boolean = false): Seq[Double] =
    calls.filter(c => c.name == name && (c.traced || !tracedOnly))
      .map(_.ms).toSeq

  /** Run `f(i)` until it returns false or the time budget is spent,
    * at least `min` times. Returns the number of calls.
    */
  def loop(t0: Long, min: Int = 1)(f: Int => Boolean): Int = {
    var i = 0
    var more = true
    while (more && (i < min || System.nanoTime() - t0 < seconds * 1e9)) {
      more = f(i); i += 1
    }
    i
  }

  /** Land driver-built rows as parquet under the run dir; the program
    * reads only that file.
    */
  def land(name: String, df: DataFrame): DataFrame = {
    val p = s"$work/inputs/$name"
    df.write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }

  def scratch(name: String): String = {
    val d = new java.io.File(s"$work/state/$name")
    d.mkdirs()
    d.getPath
  }
}

object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val traced = a("trace") == "1"
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.build(a("cpus"))
    val ctx = new Ctx(spark, seed, seconds, traced, a("work"))
    ctx.phases("session") = (System.nanoTime() - t0) / 1e9
    val e2e = mutable.LinkedHashMap[String, (Double, String)]()
    try {
      val w = workload match {
        case "rag_serve" => RagServe
        case "ingest_update" => IngestUpdate
        case "curate_batch" => CurateBatch
      }
      val jvm = new JvmCounters
      e2e ++= w.run(ctx, jvm)
      if (traced) {
        Layers.common(ctx, jvm, w.primary)
        Probes.expressions(ctx)
        ctx.tracer.write(a("spans"))
        ctx.mark("trace_probes")
      }
      expected(a.get("expected"), workload, seed, ctx)
    } finally {
      Graft.releaseCaches()
      spark.stop()
    }
    ctx.report("phases_s") = ctx.phases
    ctx.report("checks") = ctx.checks.map { case (k, v) =>
      k -> s"${v(0)}/${v(1)}" }
    val ok = ctx.failed == 0 && e2e.values.forall(v => v._1 > 0)
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    import org.json4s.jackson.Serialization.write
    println(write(Map("report" -> ctx.report)))
    val metrics =
      if (traced) Layers.names.map(n => n -> Map("value" ->
        ctx.layer.get(n).filterNot(_.isNaN).getOrElse(0.0),
        "unit" -> Layers.unit(n)))
      else e2e.toSeq.map { case (n, (v, u)) =>
        n -> Map("value" -> v, "unit" -> u) }
    println(write(mutable.LinkedHashMap("correct" -> ok,
      "attempted" -> math.max(1L, ctx.attempted), "failed" -> ctx.failed,
      "metrics" -> mutable.LinkedHashMap(metrics: _*))))
  }

  /** Compare the run's output hash with the one recorded for this
    * workload and seed, when the record has one.
    */
  private def expected(path: Option[String], workload: String,
      seed: Long, ctx: Ctx): Unit = {
    val got = ctx.report.get("output_hash").map(_.toString)
    val want = path.filter(p => new java.io.File(p).exists).flatMap { p =>
      val s = scala.io.Source.fromFile(p, "UTF-8")
      try org.json4s.jackson.JsonMethods.parse(s.mkString) \
          s"$workload:$seed" match {
        case org.json4s.JString(h) => Some(h)
        case _ => None
      } finally s.close()
    }
    ctx.report("output_hash_recorded") = want.getOrElse("none")
    want.foreach(w => ctx.check("output hash equals the recorded hash",
      got.contains(w)))
  }
}

/** Heap peak, GC time and JIT compile time from the start of the timed
  * phase to the end of the run's calls.
  */
final class JvmCounters {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val jit = ManagementFactory.getCompilationMXBean
  private var gc0, jit0 = 0L
  def start(): Unit = {
    pools.foreach(_.resetPeakUsage())
    gc0 = gcs.map(_.getCollectionTime).sum
    jit0 = jit.getTotalCompilationTime
  }
  def heapPeakMb: Double = pools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  def gcS: Double = (gcs.map(_.getCollectionTime).sum - gc0) / 1000.0
  def jitS: Double = (jit.getTotalCompilationTime - jit0) / 1000.0
}
