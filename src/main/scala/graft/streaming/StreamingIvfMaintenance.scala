package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.ops.IvfIndex

/** Continuous ANN-index maintenance: a `foreachBatch` sink that keeps a
  * persisted [[graft.ops.IvfIndex]] fresh under streaming ingest — the
  * missing piece between the batch build/append/delete/compact life
  * cycle and a retrieval service whose corpus never stops arriving.
  *
  * Stream contract: rows carry (idCol, vecCol, opCol) with opCol of
  * 'add' or 'delete'. Each micro-batch applies through
  * [[IvfIndex.applyMaintenanceBatch]]: adds are codebook-assigned and
  * appended only under the `list=` partitions the batch touches, deletes
  * tombstone. The batch application is IDEMPOTENT (adds anti-joined
  * against the already-stored ids of the touched lists, deletes land
  * only stored, not-yet-tombstoned ids), so Structured Streaming's
  * at-least-once `foreachBatch` replay after a crash converges to the
  * same index a single delivery would have produced — the replay stance
  * of [[StreamingGold]], achieved per-row instead of via a batch-id log
  * because an IVF append has no atomic snapshot swap to hang a marker
  * on.
  *
  * Life-cycle notes carried over from the batch ops, not new here: the
  * index must exist ([[IvfIndex.write]]) before the stream starts; a
  * CROSS-batch delete is terminal until [[IvfIndex.compact]] folds its
  * tombstone (an add of a tombstoned id lands masked until then), while
  * a SAME-batch delete+add is an update, and an update batch commits
  * ONE new list tree from one partitioned write (survivors minus the
  * batch's deletes, plus its guarded adds — no compact-then-append, no
  * rebuild fallback), leaving one file per touched list and no
  * tombstones; appends of update-free batches accumulate small files
  * per touched list, so run compact on the usual maintenance cadence —
  * it is safe to do so between micro-batches (each compact commits the
  * next `ivf_v{n}` generation behind its `_GRAFT_COMMIT` marker, and
  * readers and the next batch resolve the new generation).
  */
object StreamingIvfMaintenance {

  /** The foreachBatch body, exposed for direct (batch, id) application
    * in tests and manual backfills. `retain` passes through to the
    * tree an update-carrying batch commits, so a retention discipline
    * on the tree survives maintenance.
    */
  def writer(path: String, idCol: String, vecCol: String,
      opCol: String,
      strictLiveCheck: Boolean = false,
      retain: Int = 1): (DataFrame, Long) => Unit =
    (batch, _) => IvfIndex.applyMaintenanceBatch(
      batch.sparkSession, path, batch, idCol, vecCol, opCol,
      strictLiveCheck = strictLiveCheck, retain = retain)

  /** Wire a maintenance stream into the index at `path`. Caller starts
    * it: `sink(stream, path, ckpt, ...).start()`. `strictLiveCheck`
    * passes through to [[IvfIndex.applyMaintenanceBatch]] — set it when
    * the feed may carry RE-EMBEDDED vectors for live ids (the default
    * guard only catches replays; a changed vector assigning to a
    * different list would otherwise land the id live twice).
    */
  def sink(stream: DataFrame, path: String, checkpointDir: String,
      idCol: String, vecCol: String,
      opCol: String,
      strictLiveCheck: Boolean = false,
      retain: Int = 1): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(writer(path, idCol, vecCol, opCol, strictLiveCheck,
        retain))
}
