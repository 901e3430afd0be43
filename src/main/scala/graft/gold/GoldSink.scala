package graft.gold

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.ops.{LocalFs, Par}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one blue/green snapshot of named parquet tables (reference
  * `src/3_transform_data.py:771-798`, reader side
  * `src/5_post_pbs_to_discord.py:327-353`): two sibling slots, `gold_a`
  * and `gold_b`; the writer rebuilds the one the `current` pointer does
  * NOT reference, then swaps the pointer atomically, so readers always
  * see a complete snapshot. It serves the gold report set and, with one
  * table named `data`, the keyed stores of [[graft.streaming.StreamingGold]]
  * and [[graft.streaming.StreamingCountMin]].
  *
  * The reference compares file mtimes to pick the target; a pointer file
  * is the same contract without mtime races. On a table format with
  * snapshot isolation this whole class collapses into `overwrite` — kept
  * explicit here because the environment is plain parquet directories.
  *
  * Exactly-once for micro-batch writers: a publish given a batch id
  * records it as `_committed_batch` INSIDE the slot, so marker and data
  * go live in the same swap — a crash between "wrote data" and "wrote
  * marker" cannot happen. Callers check [[committedBatchId]] first to
  * make replays no-ops. That check→merge→publish sequence is not atomic
  * on its own: two writers on one root (a manual backfill beside a live
  * query) could interleave and silently drop one merge. Writers run the
  * whole sequence inside [[withWriteLock]] (`<root>/_writer.lock`,
  * [[graft.ops.LocalFs.withWriteLock]]), which [[publish]] also takes
  * itself.
  *
  * A publish writes its tables concurrently, one driver thread per table
  * ([[graft.ops.Par.jobs]]): each write is driver-bound (analysis,
  * planning, AQE) over a handful of small tasks, so overlapping them lets
  * one table's planning run while another's tasks execute. The caller
  * must hand over tables whose shared upstream is already materialized
  * (an eagerly loaded cache or checkpoint, as [[graft.OsrsPipeline.silver]]
  * returns); tables over one lazy cache would race to build it.
  */
class GoldSink(rootDir: String) {

  private val pointer = Paths.get(rootDir, "current")
  private val slots = Seq("gold_a", "gold_b")

  def currentSlot: Option[String] =
    if (Files.exists(pointer)) Some(Files.readString(pointer).trim) else None

  def standbySlot: String =
    currentSlot match {
      case Some(s) if slots.contains(s) => slots.find(_ != s).get
      case _ => slots.head
    }

  private def slotDir(slot: String): Path = Paths.get(rootDir, slot)

  /** Reader entry: the live gold directory, if published. */
  def liveDir: Option[String] = currentSlot.map(slotDir(_).toString)

  /** Batch id recorded in the LIVE snapshot; -1 before the first publish
    * that carried one.
    */
  def committedBatchId: Long =
    currentSlot.map { s =>
      val marker = slotDir(s).resolve("_committed_batch")
      if (Files.exists(marker)) Files.readString(marker).trim.toLong else -1L
    }.getOrElse(-1L)

  /** Serialize a whole read-merge-publish against every other writer of
    * this root: the store's `_writer.lock`, reentrant, so the sequence
    * can call [[publish]] inside it.
    */
  def withWriteLock[T](f: => T): T =
    LocalFs.withWriteLock(Paths.get(rootDir, "_writer.lock"))(f)

  /** Rebuild the standby slot with the given tables, then swap. Returns the
    * directory that now holds the live gold layer.
    *
    * Runs under [[withWriteLock]], so two publishes to one root never
    * write one standby slot at once. The standby is cleaned first: a
    * table dropped from this publish set would otherwise linger from two
    * publishes ago and be served as current. Every table is then written
    * at once, each from its own thread; `_committed_batch` is written
    * only when `batchId` is given. The pointer swaps only after every
    * write has landed. The first failed write cancels the others and is
    * rethrown (later failures suppressed onto it); the pointer then still
    * names the previous slot, whose tables stay live, and the next
    * publish clears the half-written standby.
    */
  def publish(tables: Map[String, DataFrame], batchId: Option[Long] = None): String =
    withWriteLock {
      val target = standbySlot
      val targetDir = slotDir(target)
      deleteTree(targetDir)
      Files.createDirectories(targetDir)
      Par.jobs(tables.toSeq.map { case (name, df) =>
        () => df.write.mode("overwrite").parquet(targetDir.resolve(name).toString)
      }: _*)
      batchId.foreach(id => Files.writeString(targetDir.resolve("_committed_batch"), id.toString))
      LocalFs.replaceAtomically(pointer, target)
      targetDir.toString
    }

  /** The live snapshot's `table`, if any publish has landed.
    *
    * Freshness window: the returned frame is LAZY and anchored to the
    * slot directory that was live at call time. Publishes alternate two
    * slots, so a frame evaluated two or more publishes later reads a slot
    * that has been overwritten — FileNotFoundException or torn metadata.
    * Consume (or `.localCheckpoint()`) within one publish; dashboards
    * holding frames across triggers must re-call read() per render.
    */
  def read(spark: SparkSession, table: String): Option[DataFrame] =
    liveDir.map(d => spark.read.parquet(Paths.get(d, table).toString))

  /** Remove stale slot directories no pointer references (a crashed
    * publish can leave one). Never touches the live slot — which requires
    * the write lock: an unserialized vacuum could read the pointer just
    * before a concurrent publish's swap and delete the slot that has just
    * gone live.
    */
  def vacuum(): Unit = withWriteLock {
    val live = currentSlot
    slots.filterNot(live.contains).map(slotDir).foreach(deleteTree)
  }

  private def deleteTree(dir: Path): Unit =
    if (Files.exists(dir))
      Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
}
