package graft.ops

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite

/** [[Par.jobs]] must not make a commit wait for a doomed sibling: the
  * first failure cancels the call's job group and is rethrown with the
  * later failures attached.
  */
class ParSpec extends AnyFunSuite with SparkTestBase {

  test("a failing thunk cancels a sibling's long job and returns early") {
    val started = new java.util.concurrent.CountDownLatch(1)
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Par.jobs(
        () => {
          started.await(60, java.util.concurrent.TimeUnit.SECONDS)
          Thread.sleep(500) // let the sibling's tasks start sleeping
          throw new IllegalStateException("boom")
        },
        () => {
          started.countDown()
          // ~30 s of work on 4 slots if nothing cancels it.
          spark.sparkContext.parallelize(1 to 1200, 4)
            .map { x => Thread.sleep(100); x }.count(): Unit
        })
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage == "boom")
    assert(secs < 15, s"Par.jobs waited $secs s for the cancelled sibling")
    assert(e.getSuppressed.exists(s =>
      String.valueOf(s.getMessage).toLowerCase.contains("cancel")),
      e.getSuppressed.map(_.getMessage).mkString("; "))
    // The session still runs jobs afterwards (only the group was cancelled).
    assert(spark.range(10).count() == 10L)
  }

  test("each thunk runs on a thread named after its index") {
    val names = new java.util.concurrent.ConcurrentHashMap[Int, String]
    Par.jobs((0 until 3).map(i => () => { names.put(i, Thread.currentThread.getName); () }): _*)
    assert((0 until 3).map(names.get) == Seq("graft-par-0", "graft-par-1", "graft-par-2"))
  }
}
