package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{JobFailed, JobResult, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import graft.operators.Par

/** The driver fan-out primitive: input-order results, sibling
  * cancellation on failure, every failure reported. */
class ParSpec extends SparkSpec {

  test("Par.all returns results in input order") {
    // later jobs finish first: completion order is the reverse of input
    val out = Par.all(spark)((1 to 6).map(i => () => {
      Thread.sleep((6 - i) * 30L); i
    }): _*)
    assert(out === (1 to 6))
    val counts = Par.all(spark)(
      () => spark.range(10).count(), () => spark.range(3).count())
    assert(counts === Seq(10L, 3L))
  }

  test("Par.all: one failure cancels a running sibling job and reports every failure") {
    val sc = spark.sparkContext
    val siblingDesc = "par-spec-long-sibling"
    val siblingJobs = ConcurrentHashMap.newKeySet[Int]()
    val results = new ConcurrentHashMap[Int, JobResult]()
    val siblingRunning = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.job.description") == siblingDesc) {
          siblingJobs.add(e.jobId): Unit
          siblingRunning.countDown()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        results.put(e.jobId, e.jobResult): Unit
    }
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val err = intercept[IllegalStateException] {
        Par.all(spark)(
          () => {
            assert(siblingRunning.await(60, TimeUnit.SECONDS))
            throw new IllegalStateException("boom-a")
          },
          () => {
            sc.setJobDescription(siblingDesc)
            // runs ~60 s unless killed; a killed task sees isInterrupted
            sc.parallelize(1 to 4, 4).map { x =>
              val deadline = System.nanoTime() + 60L * 1000000000L
              while (!TaskContext.get().isInterrupted() &&
                  System.nanoTime() < deadline) Thread.sleep(20)
              x
            }.count()
          },
          () => {
            // fails only after the sibling's job has ended: a second,
            // later failure that must still be reported
            val deadline = System.nanoTime() + 60L * 1000000000L
            while (!siblingJobs.stream().anyMatch(results.containsKey(_)) &&
                System.nanoTime() < deadline) Thread.sleep(20)
            throw new UnsupportedOperationException("boom-c")
          })
      }
      val secs = (System.nanoTime() - t0) / 1e9
      assert(err.getMessage === "boom-a", "the first failure is the one thrown")
      val suppressed = err.getSuppressed.toSeq
      assert(suppressed.exists(_.getMessage == "boom-c"), suppressed)
      assert(suppressed.exists(_.isInstanceOf[org.apache.spark.SparkException]),
        s"the cancelled sibling's failure is reported: $suppressed")
      assert(secs < 45, s"the sibling was cancelled, not waited out ($secs s)")
      assert(!siblingJobs.isEmpty)
      siblingJobs.forEach { id =>
        assert(results.get(id).isInstanceOf[JobFailed], s"job $id: ${results.get(id)}")
      }
    } finally sc.removeSparkListener(listener)
  }

  test("Par.all workers run inside the caller's job group") {
    val sc = spark.sparkContext
    sc.setJobGroup("par-spec-group", "outer")
    try {
      val groups = Par.all(spark)(
        () => sc.getLocalProperty("spark.jobGroup.id"),
        () => sc.getLocalProperty("spark.jobGroup.id"))
      assert(groups === Seq("par-spec-group", "par-spec-group"))
    } finally sc.clearJobGroup()
  }
}
