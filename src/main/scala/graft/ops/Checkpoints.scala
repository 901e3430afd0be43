package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Observation}

/** Explicit lifecycle for `localCheckpoint` blocks.
  *
  * `Dataset.localCheckpoint` persists the internal-row RDD, but hands back
  * no release handle — `Dataset.unpersist` only touches the catalog cache,
  * so each checkpoint's blocks live until the async GC-driven
  * ContextCleaner notices the RDD died. In an iterative operator that
  * checkpoints every round this retains every round's working set at once;
  * across a long-lived session it is a storage leak that degrades later
  * queries (observed: identical queries 5-30× slower at the tail of a
  * 164-query single-JVM run than in a fresh session).
  *
  * [[release]] gives loops the missing handle: once round r+1 has been
  * MATERIALIZED by an action, round r's blocks are provably dead (local
  * checkpoints truncate lineage — nothing recomputes through them) and can
  * be dropped immediately. Only call it after such an action; unpersisting
  * a local checkpoint that a live plan still needs fails that plan, since
  * truncated lineage cannot recompute.
  */
object Checkpoints {

  /** Drop the block storage behind a `localCheckpoint`'d DataFrame.
    *
    * Only call this on frames the caller itself obtained from
    * `localCheckpoint`: any `LogicalRDD`-rooted frame (`createDataFrame`
    * over a user RDD, reliable `checkpoint`) exposes its backing RDD the
    * same way, and releasing an RDD someone else still relies on forces
    * recomputation — or, for truncated lineage, failure. Frames whose
    * plan is not RDD-rooted, or whose RDD holds no storage, are a no-op.
    */
  def release(df: DataFrame): Unit =
    GraftColumnBridge.checkpointRdd(df)
      .filter(_.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
      .foreach(_.unpersist(blocking = false))

  /** Drop the block storage behind EVERY `localCheckpoint` anywhere in a
    * frame's plan — the handle for checkpoints an operator buried under
    * projections before returning (a beam search's final beam, a kNN
    * build's final edges), where [[release]]'s root-only match cannot
    * reach them.
    *
    * Sharper safety contract than [[release]]: the caller asserts that
    * every RDD-rooted leaf in this plan is dead — typically "the
    * pipeline's outputs are all written/collected and nothing will read
    * through this frame again". Releasing a leaf some OTHER live frame
    * shares fails that frame (truncated lineage cannot recompute), so
    * only call this on plans whose producers this caller alone consumed.
    */
  def releaseTree(df: DataFrame): Unit =
    GraftColumnBridge.checkpointRdds(df)
      .filter(_.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
      .foreach(_.unpersist(blocking = false))

  /** Eagerly checkpoint `df` and keep it only when non-empty — an empty
    * frame's checkpoint is released before the reference is dropped
    * (discarding it without release leaks its blocks until GC). The
    * shape every tombstone-fold reader needs: "materialize the pending
    * mask once, or prove there is none".
    */
  def eagerNonEmpty(df: DataFrame): Option[DataFrame] = {
    val c = df.localCheckpoint(eager = true)
    if (c.isEmpty) { release(c); None } else Some(c)
  }

  /** Eagerly checkpoint `df` and count on the pass that writes the
    * checkpoint: each of `counts` (a `count(...)` aggregate) is observed
    * with no extra Spark job. The counts travel the listener bus, so
    * they are waited for, bounded: `None` when they do not arrive. An
    * observed row without values means adaptive execution dropped the
    * observed subtree as empty, so every count is 0.
    */
  def eagerCounted(df: DataFrame, counts: Column*): (DataFrame, Option[Seq[Long]]) = {
    val seen = Observation()
    val c = df.observe(seen, counts.head, counts.tail: _*)
      .localCheckpoint(eager = true)
    val r = scala.util.Try(scala.concurrent.Await.result(seen.future,
      scala.concurrent.duration.Duration(5, "s"))).toOption
    (c, r.map(row => counts.indices.map(i =>
      if (row.length == 0) 0L else row.getLong(i))))
  }
}
