package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.ops.{IvfLists, MaxSimIndex}

/** Continuous token-index maintenance: a `foreachBatch` sink that keeps
  * a persisted [[graft.ops.MaxSimIndex]] fresh under streaming document
  * ingest — the late-interaction member of the index-maintenance
  * family ([[StreamingIvfMaintenance]], [[StreamingGraphMaintenance]]).
  *
  * Stream contract: one row per TOKEN — (idCol, posCol, vecCol), the
  * [[graft.ops.MaxSim]] input layout (a document upstream explodes into
  * its token rows before the sink). With `opCol` set, each row
  * additionally carries 'add' / 'delete' (a delete row needs only the
  * id — one delete row tombstones the whole document through
  * [[MaxSimIndex.delete]]; without opCol, every row is an add). Each
  * micro-batch's adds apply through [[MaxSimIndex.append]], whose
  * ROW-level (t, id, pos) replay guard makes Structured Streaming's
  * at-least-once `foreachBatch` replay converge to the single-delivery
  * index — and heals a batch whose previous attempt tore mid-append.
  * CROSS-batch deletes are TERMINAL until [[MaxSimIndex.compact]]
  * folds them (the IVF stance) — a later re-add of a masked id needs a
  * compact first. A SAME-batch delete(x)+add(x) is an UPDATE and the
  * writer sequences the recipe itself: deletes apply, the index
  * compacts (folding the masks inside the batch boundary), then the
  * adds append fresh — one token-tree rewrite per update-carrying
  * batch, paid only when one is present (logged). Replay-safe: a
  * redelivered update re-deletes the re-added rows, re-folds, and
  * re-appends identical tokens — same index, one wasted rewrite.
  * Re-embeds of a live id without a delete row remain rebuilds.
  *
  * The index must exist before the stream starts ([[MaxSimIndex.write]]
  * lands an initial generation even over an empty token table; reads
  * fall back to the canonical schema until the first append).
  * Single-writer assumption, as everywhere in the maintenance family.
  */
object StreamingMaxSimMaintenance {

  /** The foreachBatch body, exposed for direct (batch, id) application
    * in tests and manual backfills. `retain` passes through to the
    * compact an update-carrying batch triggers.
    */
  def writer(path: String, idCol: String, posCol: String,
      vecCol: String, opCol: Option[String] = None,
      retain: Int = 1): (DataFrame, Long) => Unit =
    (batch, _) => {
      val s = batch.sparkSession
      val adds = opCol match {
        case None => batch
        case Some(oc) =>
          // One aggregate says whether the batch deletes and whether a
          // same-id delete+add (an update) needs its masks folded inside
          // the batch, so the re-added rows land live.
          val shape = IvfLists.classify(batch, idCol, vecCol, oc)
          if (shape.deletes) MaxSimIndex.delete(s, path,
            batch.filter(col(oc) === "delete").select(col(idCol)), idCol)
          if (shape.update) {
            System.err.println("[graft] StreamingMaxSimMaintenance: " +
              "same-id delete+add (update) — compacting before the " +
              "append (one token-tree rewrite, the pure-mask price)")
            MaxSimIndex.compact(s, path, retain)
          }
          batch.filter(col(oc) === "add")
      }
      MaxSimIndex.append(s, path, adds, idCol, posCol, vecCol)
    }

  /** Wire a token-maintenance stream into the index at `path`. Caller
    * starts it: `sink(stream, path, ckpt, ...).start()`.
    */
  def sink(stream: DataFrame, path: String, checkpointDir: String,
      idCol: String, posCol: String, vecCol: String,
      opCol: Option[String] = None,
      retain: Int = 1): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(writer(path, idCol, posCol, vecCol, opCol, retain))
}
