package graft

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}

/** [[Concurrent.settleAll]]'s contract: every thunk settles before a
  * failure rethrows, the first failure in input order wins with the
  * rest suppressed onto it, results keep input order, each thunk's
  * jobs carry its label, and a nested call cannot starve on the pool.
  */
class ConcurrentSpec extends SparkSpec {

  /** A Spark job of about `ms` milliseconds (4 tasks sleeping at once). */
  private def sleepJob(ms: Long): Long =
    spark.sparkContext.parallelize(1 to 4, 4)
      .map { x => Thread.sleep(ms); x }.count()

  test("a failure rethrows only after every sibling's Spark job ended") {
    val siblingDone = new AtomicBoolean(false)
    val siblingJobEnds = new ConcurrentLinkedQueue[Long]()
    val listener = new SparkListener {
      private val sibling = new ConcurrentLinkedQueue[Int]()
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.job.description") ==
            "concurrent-spec: slow sibling") sibling.add(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (sibling.contains(e.jobId)) siblingJobEnds.add(e.time)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val e = intercept[IllegalStateException] {
        Concurrent.settleAll[Any](spark)(Seq(
          "concurrent-spec: fail" -> (() =>
            throw new IllegalStateException("injected")),
          "concurrent-spec: slow sibling" -> (() => {
            sleepJob(1000)
            siblingDone.set(true)
          })))
      }
      val caughtAt = System.currentTimeMillis()
      assert(e.getMessage == "injected")
      assert(siblingDone.get, "rethrew while the sibling thunk was still running")
      // job status reaches the status tracker through the listener bus
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
        "a Spark job outlived the call")
      assert(siblingJobEnds.size == 1 && siblingJobEnds.peek() <= caughtAt,
        s"sibling job ended at ${siblingJobEnds.asScala}, after the rethrow at $caughtAt")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("two failures: the first in input order is rethrown, the other suppressed") {
    val e = intercept[IllegalStateException] {
      Concurrent.settleAll[Unit](spark)(Seq(
        // fails LAST, but comes first in input order
        "concurrent-spec: first" -> (() => {
          Thread.sleep(300); throw new IllegalStateException("first")
        }),
        "concurrent-spec: ok" -> (() => ()),
        "concurrent-spec: second" -> (() =>
          throw new IllegalArgumentException("second"))))
    }
    assert(e.getMessage == "first")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("second"))
  }

  test("results come back in input order") {
    val n = 6
    val out = Concurrent.settleAll(spark)((0 until n).map { i =>
      s"concurrent-spec: result $i" -> (() => {
        Thread.sleep(50L * (n - i)) // the last input finishes first
        i
      })
    })
    assert(out == (0 until n))
  }

  test("each thunk's jobs carry its label as the job description") {
    val seen = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties.getProperty("concurrent.spec.thunk")).foreach(t =>
          seen.add(t -> String.valueOf(e.properties.getProperty("spark.job.description"))))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Concurrent.settleAll(spark)((0 until 3).map { i =>
        s"concurrent-spec: label $i" -> (() => {
          val sc = spark.sparkContext
          sc.setLocalProperty("concurrent.spec.thunk", s"$i")
          spark.range(10).count()
          // a nested label covers its own jobs, then the thunk's label
          // is back for the next one
          sc.setLocalProperty("concurrent.spec.thunk", s"$i/inner")
          operators.Pipeline.labeled(spark, s"concurrent-spec: inner $i") {
            spark.range(10).count()
          }
          sc.setLocalProperty("concurrent.spec.thunk", s"$i")
          spark.range(10).count()
          sc.setLocalProperty("concurrent.spec.thunk", null)
        })
      })
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      val jobs = seen.asScala.toSeq
      assert(jobs.map(_._1).toSet ==
        (0 until 3).flatMap(i => Seq(s"$i", s"$i/inner")).toSet, jobs)
      jobs.foreach { case (thunk, desc) =>
        val want =
          if (thunk.endsWith("/inner")) s"concurrent-spec: inner ${thunk.stripSuffix("/inner")}"
          else s"concurrent-spec: label $thunk"
        assert(desc == want, s"thunk $thunk ran a job labelled '$desc'")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a settleAll nested inside a thunk completes (no pool starvation)") {
    // 8 outer thunks each wait on 2 inner ones: a pool of fixed size
    // 8 or less would fill with waiting outer thunks and never run
    // an inner one — the guard turns such a deadlock into a failure
    val caller = Executors.newSingleThreadExecutor()
    try {
      val call = caller.submit(() =>
        Concurrent.settleAll(spark)((0 until 8).map { i =>
          s"concurrent-spec: outer $i" -> (() =>
            Concurrent.settleAll(spark)((0 until 2).map { j =>
              s"concurrent-spec: inner $i.$j" -> (() => 10 * i + j)
            }).sum)
        }))
      val out = call.get(60, TimeUnit.SECONDS)
      assert(out == (0 until 8).map(i => 20 * i + 1))
    } finally caller.shutdownNow()
  }

  test("no concurrency primitive is hand-rolled outside graft/Concurrent.scala") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"$root not found")
    val banned = "scala\\.concurrent|\\bExecutors\\.".r
    val walk = java.nio.file.Files.walk(root)
    val hits =
      try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filterNot(_.endsWith(java.nio.file.Paths.get("graft", "Concurrent.scala")))
        .flatMap { f =>
          java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
            case (line, i) if banned.findFirstIn(line).isDefined =>
              s"$f:${i + 1}: ${line.trim}"
          }
        }.toList
      finally walk.close()
    assert(hits.isEmpty,
      "run concurrent work through graft.Concurrent.settleAll:\n" + hits.mkString("\n"))
  }
}
