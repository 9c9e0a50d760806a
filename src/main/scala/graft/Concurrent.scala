package graft

import java.util.concurrent.{Callable, ExecutionException, Executors,
  ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession

/** The one way graft overlaps independent Spark jobs from the driver
  * (guide §2.6: jobs submitted from separate threads share the
  * executors, so one chain's stage tails back-fill the cores another
  * frees).
  *
  * Thunks run on one daemon pool, threads named `graft-concurrent-<n>`,
  * created on demand and reused while idle. The pool has no size
  * bound on purpose: a thunk may itself call [[settleAll]] (the index
  * build's sparse chain forks again), and a fixed pool its caller has
  * filled would leave that inner call waiting forever. The call sites
  * bound the live fan-out: at most 6 jobs in a delete wave, `pqM`
  * subspace trainings, one copy per table of a cloned root.
  */
object Concurrent {
  private val pool = Executors.newCachedThreadPool(new ThreadFactory {
    private val n = new AtomicInteger(0)
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"graft-concurrent-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })

  /** Run every `(label, thunk)` concurrently and settle them all.
    *
    *  - Each thunk runs under `Pipeline.labeled(spark, label)`, so its
    *    Spark jobs carry `label` as their job description.
    *  - The call returns only after EVERY thunk has finished, with the
    *    results in input order.
    *  - If any thunk threw, the first failure in input order is
    *    rethrown, with every other failure attached to it by
    *    `addSuppressed`.
    *
    * So no job a thunk started outlives the call, and a caller's
    * cleanup or retry never races a sibling that is still writing.
    */
  def settleAll[T](spark: SparkSession)(jobs: Seq[(String, () => T)]): Seq[T] = {
    val running = jobs.map { case (label, f) =>
      pool.submit(new Callable[T] {
        def call(): T = graft.operators.Pipeline.labeled(spark, label)(f())
      })
    }
    val settled = running.map { r =>
      try Right(r.get()) catch { case e: ExecutionException => Left(e.getCause) }
    }
    settled.collectFirst { case Left(first) => first }.foreach { first =>
      settled.foreach {
        case Left(e) if e ne first => first.addSuppressed(e)
        case _                     => ()
      }
      throw first
    }
    settled.collect { case Right(v) => v }
  }
}
