package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{JobFailed, JobResult, SparkListener,
  SparkListenerJobEnd, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** Failure contract of the concurrent warm-up ([[graft.operators.Warm]]):
  * the first failed build stops every sibling chain, cancelling only the
  * warm's own jobs on the shared session. */
class WarmSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("a failed warm chain cancels its siblings' jobs and returns promptly") {
    val sc = spark.sparkContext
    val started = new CountDownLatch(1)
    val ended = new ConcurrentHashMap[Int, JobResult]()
    @volatile var warmJob = -1
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            Option(p.getProperty("spark.job.tags")).exists(_.contains("graft-warm")))) {
          warmJob = e.jobId
          started.countDown()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.put(e.jobId, e.jobResult)
    }
    sc.addSparkListener(listener)
    try {
      // the sibling: one job whose tasks run for two minutes unless killed
      val long: () => Any = () => sc.parallelize(1 to 2, 2).map { i =>
        val deadline = System.nanoTime() + TimeUnit.MINUTES.toNanos(2)
        while (System.nanoTime() < deadline && !TaskContext.get().isInterrupted())
          Thread.sleep(20)
        i
      }.count()
      val boom: () => Any = () => {
        assert(started.await(60, TimeUnit.SECONDS), "the sibling's job never started")
        throw new IllegalStateException("boom")
      }
      val t0 = System.nanoTime()
      val e = intercept[IllegalStateException] {
        graft.operators.Warm.run(spark, Seq(Seq("long" -> long), Seq("boom" -> boom)))
      }
      val seconds = (System.nanoTime() - t0) / 1e9
      assert(e.getMessage == "boom")
      assert(seconds < 30, s"Warm.run took $seconds s to surface the failure")
      // the listener bus is asynchronous: wait for the sibling's job end
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      while (!ended.containsKey(warmJob) && System.nanoTime() < deadline) Thread.sleep(50)
      assert(ended.get(warmJob).isInstanceOf[JobFailed],
        s"the sibling's job $warmJob ended with ${ended.get(warmJob)}, not cancelled")
    } finally sc.removeSparkListener(listener)
  }
}
