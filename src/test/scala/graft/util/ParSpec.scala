package graft.util

import graft.SparkFunSuite

class ParSpec extends SparkFunSuite {

  test("awaitAll fails fast and cancels the sibling Spark jobs") {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val err = intercept[IllegalStateException] {
      Par.awaitAll[Long](Seq(
        // a sibling job whose tasks would run for a minute
        () => sc.parallelize(1 to 4, 4).map { x => Thread.sleep(60000L); x.toLong }.count(),
        () => { Thread.sleep(500L); throw new IllegalStateException("boom") }))
    }
    assert(err.getMessage === "boom")
    assert((System.nanoTime() - t0) / 1e9 < 20.0, "awaitAll waited for the slow sibling")
    // the sibling's job is cancelled, not left running
    val deadline = System.nanoTime() + 20L * 1000000000L
    while (sc.statusTracker.getActiveJobIds().nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100L)
    assert(sc.statusTracker.getActiveJobIds().isEmpty, "sibling job still running")
  }

  test("awaitAll returns results in thunk order") {
    assert(Par.awaitAll(Seq(() => { Thread.sleep(200L); 1 }, () => 2, () => 3)) === Seq(1, 2, 3))
  }
}
