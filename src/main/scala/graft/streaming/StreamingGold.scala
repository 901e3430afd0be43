package graft.streaming

import graft.gold.GoldSink
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Exactly-once streaming UPSERT into a keyed gold table — the
  * `foreachBatch` merge sink that turns an at-least-once micro-batch
  * stream into a transactionally consistent last-write-wins table on
  * plain parquet.
  *
  * Structured Streaming replays a micro-batch after a crash (same
  * `batchId`, same data), so the sink must make re-application a no-op.
  * Two mechanisms compose to exactly-once:
  *
  *   1. **Batch-id log.** The committed `batchId` is recorded IN the
  *      published snapshot (a `_committed_batch` marker next to the data,
  *      swapped by the same atomic pointer move). A replayed batch whose
  *      id is ≤ the committed id returns without touching anything —
  *      state and marker move together, so a crash between "wrote data"
  *      and "wrote marker" cannot happen.
  *   2. **Deterministic merge.** current ∪ batch reduced to one row per
  *      key by lexicographic max of (`versionCol`, tie-break columns) —
  *      a partial-agg'd groupBy, so even a double-applied batch (e.g.
  *      manual backfill) converges to the same table.
  *
  * The store is a [[graft.gold.GoldSink]] holding one table, `data`:
  * readers always see a complete snapshot; the pointer swap is the commit
  * point. On a table format with ACID merge (Delta/Iceberg) steps
  * collapse into `MERGE INTO` + the format's own idempotent-write txn
  * id — this class is that contract on bare directories.
  *
  * Scale: the merge shuffles (key, version) — one key-partitioned
  * aggregation over current ∪ increment. Gold keyed tables are orders of
  * magnitude smaller than the event stream feeding them; for gold tables
  * that themselves approach the corpus size, partition the table and
  * rewrite only the partitions the batch touches.
  */
class StreamingGold(
    rootDir: String,
    keys: Seq[String],
    versionCol: String) {

  require(keys.nonEmpty, "merge needs at least one key column")

  private val store = new GoldSink(rootDir)

  /** Batch id recorded in the LIVE snapshot; -1 before the first commit. */
  def committedBatchId: Long = store.committedBatchId

  /** The live merged table, if any batch has committed. */
  def read(spark: SparkSession): Option[DataFrame] = store.read(spark, "data")

  /** Run `f` under the store's write lock — for COMPOSITE operations
    * (replay check + reads + stages + [[mergeBatch]]) that must
    * serialize as one unit against other writers; reentrant with
    * mergeBatch's own lock, so the composite can call it directly.
    */
  def withWriteLock[T](f: => T): T = store.withWriteLock(f)

  /** Apply one micro-batch: merge into the standby slot and swap. Replays
    * (batchId ≤ committed) are no-ops. Safe to call directly for manual
    * backfill — idempotence comes from the merge, not the caller, and
    * the whole check→merge→swap runs under the store's write lock, so a
    * backfill beside a live query serializes instead of silently
    * dropping one writer's merge.
    *
    * `deletes` (optional, CDC): key rows to REMOVE from the current
    * table before the batch merges in — deletes apply first, so a
    * delete + re-add of the same key in one batch is an update, and a
    * replayed delete of an already-gone key is a no-op (anti-join
    * semantics). Delete batches are assumed key-table-tiny (broadcast).
    */
  def mergeBatch(batch: DataFrame, batchId: Long,
      deletes: Option[DataFrame] = None): Unit =
    store.withWriteLock {
      if (batchId > committedBatchId) {
        val spark = batch.sparkSession
        val base = read(spark).map { current =>
          deletes match {
            case Some(d) => current.join(
              broadcast(d.select(keys.map(col).toIndexedSeq: _*).distinct()),
              keys, "left_anti")
            case None => current
          }
        }
        val merged = base match {
          case Some(current) => merge(current.unionByName(batch))
          case None => merge(batch)
        }
        store.publish(Map("data" -> merged), Some(batchId))
      }
    }

  /** One row per key: lexicographic max of (version, non-key columns) —
    * deterministic even when two rows share the version.
    */
  private def merge(all: DataFrame): DataFrame = {
    val others = all.columns.filterNot(c => keys.contains(c) || c == versionCol)
    val payload = struct((col(versionCol) +: others.map(col)).toIndexedSeq: _*)
    all.groupBy(keys.map(col): _*)
      .agg(max(payload).as("__m"))
      .select(keys.map(col) ++ (versionCol +: others.toSeq).map(c =>
        col(s"__m.$c").as(c)): _*)
  }

  /** Remove stale slot directories no pointer references (the standby of
    * the standby after repeated swaps never exists — but a crashed write
    * can leave one). Never touches the live slot.
    */
  def vacuum(): Unit = store.vacuum()

  /** Streaming writer: at-least-once `foreachBatch` + this sink's replay
    * guard = exactly-once end to end.
    */
  def writer(stream: DataFrame, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        mergeBatch(batch.toDF(), id)
      }
}
