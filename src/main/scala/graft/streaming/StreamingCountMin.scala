package graft.streaming

import graft.gold.GoldSink
import graft.text.CountMin
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Continuous frequency monitoring: a Count-Min sketch maintained across
  * micro-batches — "how often has THIS url/token/item appeared, over all
  * history" at d×w bounded state, the companion to
  * [[StreamingDistinct]]'s cardinality monitor.
  *
  * Per batch the stream contributes its cell-count DELTA
  * ([[CountMin.build]] — map-side combined, ≤ d·w rows), summed into the
  * stored table (CMS merge IS addition). Unlike the HLL store's
  * max-merge, SUM is NOT idempotent — exactly-once rests entirely on the
  * batch-id log of its [[GoldSink]] store (one table, `data`): a
  * replayed micro-batch (same id) returns before touching state, and the
  * data+marker swap is atomic, so a crash can never double-count.
  * Out-of-band double application under a fresh id WILL double-count — by design: that is what "add this
  * batch" means for a counter (the spec pins both behaviours).
  *
  * The accumulated table is BIT-IDENTICAL to one batch [[CountMin.build]]
  * over the concatenation of every batch ever seen (addition is
  * associative/commutative), so every estimate carries Count-Min's
  * unconditional one-sided guarantee est ≥ true over the full history.
  */
class StreamingCountMin(
    rootDir: String,
    itemCol: String,
    d: Int = 4,
    w: Int = 1024) {

  private val store = new GoldSink(rootDir)

  def committedBatchId: Long = store.committedBatchId

  /** Add one micro-batch's counts. Replays (batchId ≤ committed) no-op.
    * Runs under the store's write lock: sum state is non-idempotent, so
    * an interleaved concurrent writer would silently UNDERCOUNT — the
    * lock serializes the whole check→build→merge→swap instead.
    */
  def mergeBatch(batch: DataFrame, batchId: Long): Unit =
    store.withWriteLock {
      if (batchId > committedBatchId) {
        val delta = CountMin.build(batch, itemCol, d, w)
        val merged = sketch(batch.sparkSession)
          .map(CountMin.merge(_, delta)).getOrElse(delta)
        store.publish(Map("data" -> merged), Some(batchId))
      }
    }

  /** The live (depth, bucket, cnt) sketch table. */
  def sketch(spark: SparkSession): Option[DataFrame] = store.read(spark, "data")

  /** Frequency upper bounds for `probes(probeCol)` over ALL history. */
  def estimates(spark: SparkSession, probes: DataFrame,
      probeCol: String): Option[DataFrame] =
    sketch(spark).map(CountMin.estimate(_, probes, probeCol, d, w))

  def writer(stream: DataFrame, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (b: Dataset[Row], id: Long) => mergeBatch(b.toDF(), id) }
}
