package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.ops.PqIndex

/** Continuous IVF-PQ index maintenance: a `foreachBatch` sink that keeps
  * a persisted [[graft.ops.PqIndex]] fresh under streaming ingest — the
  * last of the four persisted families to get a maintenance writer
  * ([[StreamingIvfMaintenance]], [[StreamingGraphMaintenance]],
  * [[StreamingMaxSimMaintenance]]), possible since appends became exact
  * under the FROZEN stored codebooks ([[PqIndex.append]] — FAISS
  * `IndexIVFPQ.add`).
  *
  * Stream contract: rows carry (idCol, vecCol, opCol) with opCol of
  * 'add' or 'delete'. Each micro-batch applies through
  * [[PqIndex.applyMaintenanceBatch]]: adds are stored-model encoded,
  * stored-centroid routed, and appended behind a touched-cell replay
  * guard; deletes tombstone only stored, not-yet-tombstoned ids
  * (replay-safe); a SAME-batch delete+add is
  * an UPDATE, and an update batch commits ONE new generation from one
  * partitioned write (survivors minus the batch's deletes, plus its
  * guarded adds, codebooks and model cloned) — no compact-then-append
  * and no rebuild fallback, even when the batch re-embeds every stored
  * row. Structured Streaming's at-least-once `foreachBatch` redelivery
  * therefore converges to the single-delivery index.
  *
  * What maintenance does NOT do, stated honestly: the codebooks stay
  * frozen. Every append/update is EXACT under them, but a corpus that
  * drifts away from the fit distribution quantizes worse (recall, not
  * correctness) — schedule refit + [[PqIndex.write]] rebuilds on the
  * usual cadence, exactly like production FAISS deployments retrain
  * their quantizers. The index must exist before the stream starts;
  * cross-batch deletes stay terminal until a compact, which always
  * rewrites (folding masks and merging appended small files) and is
  * safe between micro-batches; `retain` passes through so a retention
  * discipline survives maintenance. These are [[StreamingIvfMaintenance]]'s
  * rules: both indexes run one maintenance lifecycle.
  */
object StreamingPqMaintenance {

  /** The foreachBatch body, exposed for direct (batch, id) application
    * in tests and manual backfills.
    */
  def writer(path: String, idCol: String, vecCol: String,
      opCol: String,
      retain: Int = 1): (DataFrame, Long) => Unit =
    (batch, _) => PqIndex.applyMaintenanceBatch(
      batch.sparkSession, path, batch, idCol, vecCol, opCol,
      retain = retain)

  /** Wire a maintenance stream into the index at `path`. Caller starts
    * it: `sink(stream, path, ckpt, ...).start()`.
    */
  def sink(stream: DataFrame, path: String, checkpointDir: String,
      idCol: String, vecCol: String,
      opCol: String,
      retain: Int = 1): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(writer(path, idCol, vecCol, opCol, retain))
}
