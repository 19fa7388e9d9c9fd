package graft.operators

import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession

/** Driver fan-out for independent Spark jobs (guide §2.6 "overlap
  * independent jobs"): the one place a query runs eager work from
  * several driver threads at once.
  *
  * Each call gets its own daemon pool, one thread per job, shut down on
  * return — no shared pool whose size caps the overlap or whose stale
  * threads carry another caller's job group. Workers inherit the
  * caller's Spark local properties, so an enclosing job group (Bench's
  * warm group) still reaches their jobs, and each call tags its jobs
  * with a tag of its own. On the first failure every sibling job under
  * that tag is cancelled; the call waits for all workers and throws the
  * first failure with the others attached as suppressed exceptions. */
object Par {
  private val calls = new AtomicLong()

  /** Run `jobs` concurrently; results in input order. */
  def all[T](spark: SparkSession)(jobs: (() => T)*): Seq[T] = {
    val sc = spark.sparkContext
    val tag = s"graft-par-${calls.incrementAndGet()}"
    // each submit below starts its worker from THIS thread, and Spark's
    // local properties are inheritable: workers begin with a copy of the
    // caller's job group, description and tags
    val pool = Executors.newFixedThreadPool(math.max(1, jobs.size), (r: Runnable) => {
      val t = new Thread(r, tag)
      t.setDaemon(true)
      t
    })
    try {
      val done = new ExecutorCompletionService[T](pool)
      val futures = jobs.map(job => done.submit(() => {
        sc.addJobTag(tag)
        job()
      }))
      var first: Throwable = null
      var pending = jobs.size
      while (pending > 0) {
        val f = done.poll(100, TimeUnit.MILLISECONDS)
        if (f != null) {
          pending -= 1
          try f.get() catch { case e: ExecutionException =>
            if (first == null) first = e.getCause
            else first.addSuppressed(e.getCause)
          }
        }
        // re-cancel while waiting: a sibling may submit its next job
        // after the previous cancel
        if (first != null) sc.cancelJobsWithTag(tag)
      }
      if (first != null) throw first
      futures.map(_.get())
    } finally pool.shutdownNow(): Unit
  }
}
