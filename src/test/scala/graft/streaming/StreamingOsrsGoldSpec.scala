package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import java.time.{ZoneOffset, ZonedDateTime}

import graft.{OsrsPipeline, SparkTestBase}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** The T7 streaming variant end-to-end (SURVEY §7.2 step 8): two
  * micro-batches of raw fixture lines — across a checkpointed query
  * RESTART and with a re-delivered duplicate — must publish gold tables
  * identical to one batch [[OsrsPipeline.run]] over the same distinct
  * rows. Identical generators by construction; this spec pins the
  * accumulate/rebuild/publish plumbing and the stop-resume seam.
  */
class StreamingOsrsGoldSpec extends AnyFunSuite with SparkTestBase {

  private def ts(s: String) = Timestamp.valueOf(s)

  private val batch1: Seq[(Long, Timestamp, String)] = Seq(
    (1L, ts("2024-01-10 10:00:00"), "Hans received a drop: Abyssal whip (2,500,000 coins) from Abyssal demon."),
    (2L, ts("2024-01-11 10:00:00"), "Bob received a drop: Rune platebody (39,000 coins)"),
    (3L, ts("2024-01-12 10:00:00"), "Hans received a clue item: Ranger boots (30,000,000 coins)"),
    (4L, ts("2024-01-25 10:00:00"), "Hans has reached Attack level 99."))

  private val batch2: Seq[(Long, Timestamp, String)] = Seq(
    // re-delivery of row 3 (same id, ts, content): dropped by the
    // watermark dedup AND idempotent in the keyed store — belt and braces.
    (3L, ts("2024-01-12 10:00:00"), "Hans received a clue item: Ranger boots (30,000,000 coins)"),
    (5L, ts("2024-01-26 10:00:00"), "Bob received a drop: Twisted bow (1,000,000,000 coins) from Chambers."),
    (6L, ts("2024-01-27 10:00:00"), "Carol has a funny feeling like she's being followed: Pet snakeling"),
    (7L, ts("2024-01-28 10:00:00"), "Bob has reached Defence level 90."))

  private val runTime =
    ZonedDateTime.of(2024, 2, 5, 12, 0, 0, 0, ZoneOffset.UTC)

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("two micro-batches across a restart equal one batch run; " +
      "re-delivered duplicate is dropped") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_sosrs").toString
    val ckpt = Files.createTempDirectory("graft_sosrs_ckpt").toString
    val gold = new StreamingOsrsGold(root, runTime)

    val mem = MemoryStream[(Long, Timestamp, String)](spark)
    val stream = mem.toDF().toDF("id", "timestamp", "raw_content")

    mem.addData(batch1: _*)
    val q1 = gold.writer(stream, ckpt).start()
    q1.processAllAvailable(); q1.stop()

    // Gold is live after the first batch with batch-1 content only.
    val afterB1 = canon(gold.readTable(spark, "valuable_drops_summary").get)
    val batchOnlyB1 = OsrsPipeline.run(
      batch1.toDF("id", "timestamp", "raw_content"), runTime)
    assert(afterB1 == canon(batchOnlyB1("valuable_drops_summary")))
    assert(afterB1.nonEmpty)

    // RESTART: a new query over the same checkpoint picks up only new data.
    mem.addData(batch2: _*)
    val q2 = gold.writer(stream, ckpt).start()
    q2.processAllAvailable(); q2.stop()

    val allRows = (batch1 ++ batch2).distinct
    val expect = OsrsPipeline.run(
      allRows.toDF("id", "timestamp", "raw_content"), runTime)
    for (t <- Seq("valuable_drops_summary", "recent_achievements")) {
      val got = canon(gold.readTable(spark, t).get)
      assert(got == canon(expect(t)), t)
      assert(got.nonEmpty, t)
    }
    // The raw store holds exactly the seven distinct messages (the
    // re-delivered row folded into its key).
    assert(gold.rawStore.read(spark).get.count() == 7L)
  }

  test("replayed batch id heals a crash between store commit and publish") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_sosrs2").toString
    val gold = new StreamingOsrsGold(root, runTime)
    val df1 = batch1.toDF("id", "timestamp", "raw_content")
    gold.applyBatch(df1, batchId = 0L)
    val live = canon(gold.readTable(spark, "valuable_drops_summary").get)
    // Replay of the same batch id: store merge no-ops, rebuild re-publishes
    // the identical table (new slot, same content).
    gold.applyBatch(df1, batchId = 0L)
    assert(canon(gold.readTable(spark, "valuable_drops_summary").get) == live)
    assert(gold.rawStore.read(spark).get.count() == 4L)
  }

  test("applyBatch releases its silver caches") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_sosrs3").toString
    val gold = new StreamingOsrsGold(root, runTime)
    // Ids, not a count: the ContextCleaner may drop RDDs an earlier suite
    // leaked mid-test. Every RDD the batches persisted must be gone.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Seq(batch1, batch2, batch1).zipWithIndex.foreach { case (rows, i) =>
      gold.applyBatch(rows.toDF("id", "timestamp", "raw_content"), i.toLong)
    }
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
    assert(gold.rawStore.read(spark).get.count() == 7L)
  }
}
