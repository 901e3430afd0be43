package graft.streaming

import java.nio.file.Files

import graft.SparkTestBase
import graft.gold.GoldSink
import graft.text.CountMin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

class StreamingCountMinSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private val batch1 = Seq("a", "b", "a", "c", "a")
  private val batch2 = Seq("b", "a", "d", "d")

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("stream across a restart equals one batch sketch over all rows") {
    val root = Files.createTempDirectory("graft_scm").toString
    val ckpt = Files.createTempDirectory("graft_scm_ckpt").toString
    val mon = new StreamingCountMin(root, "item", d = 3, w = 64)

    val mem = MemoryStream[String](spark)
    val stream = mem.toDF().toDF("item")

    mem.addData(batch1: _*)
    val q1 = mon.writer(stream, ckpt).start()
    q1.processAllAvailable(); q1.stop()

    mem.addData(batch2: _*)
    val q2 = mon.writer(stream, ckpt).start()
    q2.processAllAvailable(); q2.stop()

    val all = (batch1 ++ batch2).toDF("item")
    assert(canon(mon.sketch(spark).get) ==
      canon(CountMin.build(all, "item", d = 3, w = 64)))
    // Point estimates over all history: one-sided guarantee + exactness
    // on this tiny universe (no forced collisions at w=64, but est >= true
    // must hold unconditionally).
    val est = mon.estimates(spark, all, "item").get
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth = Map("a" -> 4L, "b" -> 2L, "c" -> 1L, "d" -> 2L)
    truth.foreach { case (k, t) => assert(est(k) >= t, s"$k: ${est(k)} < $t") }
    assert(est.values.sum >= truth.values.sum)
  }

  test("replayed batch id is a no-op; a fresh id DOES add (sum semantics)") {
    val root = Files.createTempDirectory("graft_scm2").toString
    val mon = new StreamingCountMin(root, "item", d = 3, w = 64)
    val b = batch1.toDF("item")
    mon.mergeBatch(b, 0L)
    val once = canon(mon.sketch(spark).get)
    mon.mergeBatch(b, 0L) // replay: batch-id log guards the non-idempotent sum
    assert(canon(mon.sketch(spark).get) == once)
    mon.mergeBatch(b, 1L) // out-of-band re-add under a fresh id: counts double
    val est = mon.estimates(spark, Seq("a").toDF("item"), "item").get
      .head.getLong(1)
    assert(est >= 6L, s"expected doubled count for 'a', got $est")
  }

  test("withWriteLock serializes read-merge-swap: 20 racing increments, " +
      "zero lost updates") {
    // Four threads × five increments against ONE store, each increment a
    // full read-merge-swap (read current sum, commit sum+1 under the
    // next batch id) inside withWriteLock. Without real mutual
    // exclusion two threads read the same state and one increment is
    // silently lost — the exact interleaving the advisor's
    // concurrent-backfill scenario hits; with it, the final state is
    // exactly 20 and the batch log advanced once per commit.
    val root = Files.createTempDirectory("graft_bg_race").toString
    val store = new GoldSink(root)
    import org.apache.spark.sql.functions.sum
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 4).map(_ => new Thread(() =>
      (0 until 5).foreach { _ =>
        try store.withWriteLock {
          val cur = store.read(spark, "data")
            .map(_.agg(sum("n")).head.getLong(0)).getOrElse(0L)
          store.publish(Map("data" -> Seq(cur + 1L).toDF("n")), Some(store.committedBatchId + 1))
        } catch { case t: Throwable => errs.add(t) }
      }))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"writer threw: ${errs.peek()}")
    val got = store.read(spark, "data").get.agg(sum("n")).head.getLong(0)
    assert(got == 20L, s"lost ${20 - got} updates")
    // Ids started at committedBatchId(-1) + 1 = 0, so 20 commits land the
    // log at 19 — one advance per commit, none skipped or repeated.
    assert(store.committedBatchId == 19L)
  }

  test("withWriteLock is reentrant: a holding thread can nest it " +
      "(backfill loop wrapping mergeBatch) without " +
      "OverlappingFileLockException") {
    val root = Files.createTempDirectory("graft_bg_reent").toString
    val store = new GoldSink(root)
    val got = store.withWriteLock {
      store.withWriteLock { // same thread, same store: must just run
        store.publish(Map("data" -> Seq(1L).toDF("n")), Some(0L))
        41 + 1
      }
    }
    assert(got == 42)
    // ...and the lock still excludes OTHER threads after release.
    import org.apache.spark.sql.functions.sum
    val t = new Thread(() => store.withWriteLock {
      val cur = store.read(spark, "data").map(_.agg(sum("n")).head.getLong(0)).get
      store.publish(Map("data" -> Seq(cur + 1L).toDF("n")), Some(1L))
    })
    t.start(); t.join()
    assert(store.read(spark, "data").get.agg(sum("n")).head.getLong(0) == 2L)
  }

  test("state stays bounded at d*w cells regardless of volume") {
    val root = Files.createTempDirectory("graft_scm3").toString
    val mon = new StreamingCountMin(root, "item", d = 2, w = 16)
    mon.mergeBatch((0 until 500).map(i => s"item$i").toDF("item"), 0L)
    mon.mergeBatch((0 until 500).map(i => s"other$i").toDF("item"), 1L)
    assert(mon.sketch(spark).get.count() <= 2L * 16)
  }
}
