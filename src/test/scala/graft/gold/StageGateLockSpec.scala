package graft.gold

import java.nio.file.Files
import java.time.Instant
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}

import org.scalatest.funsuite.AnyFunSuite

/** The state-file lock under two spellings of one directory: writers of
  * one process that reach the state file through a symlink and through
  * its real path must share one lock. Keyed by spelling, both would enter
  * and the second same-JVM `FileChannel.lock` would throw
  * OverlappingFileLockException instead of waiting.
  */
class StageGateLockSpec extends AnyFunSuite {

  test("recordSuccess through a symlink and the real path: every stage " +
      "lands and no call throws") {
    val base = Files.createTempDirectory("stage-gate-lock")
    val real = Files.createDirectory(base.resolve("real"))
    val link = Files.createSymbolicLink(base.resolve("link"), real)
    val spellings = Seq(real, link).map(_.resolve("ETL_state.tsv"))
    val (threads, perThread) = (8, 25)
    val t0 = Instant.parse("2024-01-01T00:00:00Z")
    val errs = new ConcurrentLinkedQueue[Throwable]()
    val go = new CountDownLatch(1)
    val workers = (0 until threads).map { t => new Thread(() => {
      go.await()
      (0 until perThread).foreach { i =>
        try StageGate.recordSuccess(spellings((t + i) % 2), s"stage_${t}_$i", t0)
        catch { case e: Throwable => errs.add(e) }
      }
    }) }
    workers.foreach(_.start()); go.countDown(); workers.foreach(_.join())
    val thrown = errs.size
    assert(thrown == 0, s"$thrown calls threw, first: ${errs.peek()}")
    val want = (for (t <- 0 until threads; i <- 0 until perThread)
      yield s"stage_${t}_$i").toSet
    val lost = (want -- StageGate.readState(spellings.head).keySet).size
    assert(lost == 0, s"$lost stages lost")
  }
}
