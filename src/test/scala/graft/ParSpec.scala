package graft

import org.scalatest.funsuite.AnyFunSuite

/** Failure safety of the overlapped driver-side chains. */
class ParSpec extends AnyFunSuite with SparkSpec {

  test("Par: a failing chain cancels its sibling's jobs and rethrows; no job stays active") {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.CountDownLatch(1)
    val t0 = System.nanoTime()
    val err = intercept[IllegalStateException] {
      Par.pair(spark)(
        // a long job that only ends by cancellation
        sc.parallelize(1 to 4, 4).map { x =>
          Thread.sleep(60000); x }.count(), {
          // fail once the sibling's job is running
          while (sc.statusTracker.getActiveJobIds.isEmpty) Thread.sleep(20)
          started.countDown()
          throw new IllegalStateException("injected chain failure")
        })
    }
    assert(err.getMessage == "injected chain failure")
    assert(started.getCount == 0)
    assert(sc.statusTracker.getActiveJobIds.isEmpty,
      s"jobs still active: ${sc.statusTracker.getActiveJobIds.toSeq}")
    assert((System.nanoTime() - t0) / 1e9 < 30, "the sibling job was not cancelled")
  }
}
