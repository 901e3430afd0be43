package graft.streaming

import java.time.ZonedDateTime

import graft.OsrsPipeline
import graft.gold.GoldSink
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}

/** The OSRS gold path as ONE streaming query (SURVEY.md §7.2 step 8 — the
  * T7 streaming variant): raw Discord lines in, the full report set out,
  * continuously.
  *
  *   readStream → watermark + keyed dedup ([[StreamingIngest.dedupedRaw]])
  *     → foreachBatch { accumulate raw → full gold rebuild → blue/green }
  *
  * Report semantics force the rebuild shape: period boundaries move every
  * run and every report aggregates ALL history, so no incremental agg
  * state can express them (same reasoning as
  * [[StreamingIngest.goldRebuildWriter]]). The streaming contribution is
  * the exactly-once ACCUMULATION: each micro-batch upserts into a
  * [[StreamingGold]]-keyed raw store (key = id, last-write-wins by
  * timestamp — a replayed batch merges to the identical table), and the
  * rebuild runs [[OsrsPipeline.run]]'s two steps over the full store — the
  * SAME compiled parse trees and report generators as batch, so streaming and
  * batch outputs are identical by construction, not by parallel
  * implementation. [[GoldSink.publish]] swaps the report set atomically;
  * readers never see a half-written gold layer.
  *
  * Crash safety: the store merge is replay-idempotent (batch-id log), and
  * the rebuild runs on every batch INCLUDING replays — a crash between
  * store commit and gold publish is healed by the replay re-deriving and
  * re-publishing the same tables (rebuild is a pure function of the
  * store). Stop/resume rides on the stream checkpoint: a restarted query
  * resumes from the last committed micro-batch.
  *
  * Scale: the store upsert shuffles (id, timestamp)-keyed raw lines; the
  * rebuild is the batch pipeline's own distributed plan. Clan-scale gold
  * rebuilds in seconds; a corpus-scale deployment would partition the
  * store by arrival date and rebuild only affected report periods.
  */
class StreamingOsrsGold(
    rootDir: String,
    runTime: ZonedDateTime,
    config: OsrsPipeline.Config = OsrsPipeline.Config(),
    tableNames: Seq[String] = Seq("valuable_drops_summary", "recent_achievements")) {

  /** Exactly-once raw accumulation: one row per message id. */
  val rawStore = new StreamingGold(s"$rootDir/raw_store",
    keys = Seq("id"), versionCol = "timestamp")

  /** Blue/green published report set. */
  val sink = new GoldSink(s"$rootDir/gold")

  /** Merge one micro-batch into the store, then rebuild + publish gold
    * from the full accumulated history. Public for manual backfill — the
    * store merge makes double application converge.
    *
    * [[GoldSink.publish]] locks the gold store itself, so two publishes
    * never tear one standby slot. The WHOLE sequence still runs under the
    * raw store's write lock (reentrant with mergeBatch's own) to order
    * batches: an unserialized backfill beside a live trigger could finish
    * a rebuild of OLDER state last and overwrite the newer published gold
    * until the next trigger.
    *
    * The rebuild materializes its silver caches once
    * ([[OsrsPipeline.silver]]), then publishes every table concurrently,
    * one driver thread per table ([[GoldSink.publish]]). The caches are
    * released once the publish returns or fails, so a long-lived session
    * holds no cached relation between batches.
    */
  def applyBatch(batch: DataFrame, batchId: Long): Unit =
    rawStore.withWriteLock {
      rawStore.mergeBatch(batch, batchId)
      rawStore.read(batch.sparkSession).foreach { stored =>
        val silver = OsrsPipeline.silver(stored.select("id", "timestamp", "raw_content"), config)
        try {
          val tables = OsrsPipeline.reports(silver, runTime, config)
          sink.publish(tableNames.map(n => n -> tables(n)).toMap)
        } finally silver.unpersist()
      }
    }

  /** The live published report table, once any batch has committed. */
  def readTable(spark: org.apache.spark.sql.SparkSession,
      name: String): Option[DataFrame] = sink.read(spark, name)

  /** One streaming query over a raw (id, timestamp, raw_content) stream. */
  def writer(
      rawStream: DataFrame,
      checkpointDir: String,
      watermarkDelay: String = "10 minutes",
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    StreamingIngest.dedupedRaw(rawStream, watermarkDelay).writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (b: Dataset[Row], id: Long) => applyBatch(b.toDF(), id) }
}
