package graft

import scala.jdk.CollectionConverters._

class OverlapSpec extends SparkSpec {

  private def poolThreads: Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSet
      .filter(_.getName.startsWith("graft-overlap-"))

  test("Overlap: a throwing branch cancels its sibling's job, reaches the caller, and no pool thread survives") {
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Overlap(spark)(Seq(
        // ~20 s of work if nobody cancels it: 2 tasks of 2000 × 10 ms
        () => spark.sparkContext.parallelize(1 to 4000, 2)
          .foreach(_ => Thread.sleep(10)),
        () => { Thread.sleep(500); throw new IllegalStateException("branch failed") }))
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage == "branch failed")
    assert(poolThreads.isEmpty, s"pool threads alive: $poolThreads")
    assert(secs < 15, s"the sibling's job was waited out, not cancelled: $secs s")
  }
}
