package graft.tools

import org.apache.spark.scheduler._

/** Per-JOB wall-clock profile of one or more named queries (guide
  * §1.1/§1.5): installs a SparkListener that records every job's
  * description and wall time — wall time per job ONLY, no task or
  * stage accounting (perfbench's traced run maps stages to jobs
  * through `SparkListenerJobStart.stageIds` for that split) — runs
  * each query, and prints the jobs in submission order plus a
  * summary. The gap between Σ job time and wall time is DRIVER time
  * (planning, file listing, driver-side collects between jobs) —
  * exactly the split the optimization guide says to measure before
  * touching anything.
  *
  * Usage: runMain graft.tools.JobProfile <sfDir> <q1,q2,...>
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1)
    val spark = graft.GraftSession.build()
    case class J(id: Int, desc: String, t0: Long, var t1: Long = 0L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        jobs.put(e.jobId, J(e.jobId, d, e.time))
        order.add(e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId); if (j != null) j.t1 = e.time
      }
    }
    spark.sparkContext.addSparkListener(listener)
    names.split(',').foreach { name =>
      jobs.clear(); order.clear()
      val w0 = System.nanoTime()
      val n = graft.SparkEntry.queries(name)(spark, sfDir).count()
      val wall = (System.nanoTime() - w0) / 1e9
      spark.catalog.clearCache()
      // listener bus is async — give it a moment to drain
      Thread.sleep(300)
      println(f"%n== $name: $n rows, wall $wall%.2f s ==")
      import scala.jdk.CollectionConverters._
      var sum = 0.0
      for (id <- order.asScala) {
        val j = jobs.get(id)
        val dt = if (j.t1 > 0) (j.t1 - j.t0) / 1e3 else -1.0
        if (dt >= 0) sum += dt
        val d = if (j.desc.length > 90) j.desc.take(90) else j.desc
        println(f"  job ${j.id}%4d  $dt%7.3f s  $d")
      }
      println(f"  -- jobs $sum%.2f s of wall $wall%.2f s " +
        f"(driver/gaps ${wall - sum}%.2f s, ${jobs.size} jobs)")
    }
    spark.stop()
  }
}
