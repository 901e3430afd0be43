package graft.gold

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.ops.Par
import org.apache.spark.sql.DataFrame

/** Blue/green gold sink (`/root/reference/src/3_transform_data.py:771-798`,
  * reader side `src/5_post_pbs_to_discord.py:327-353`): two sibling gold
  * directories; the writer rebuilds the one the `current` pointer does NOT
  * reference, then swaps the pointer atomically, so readers always see a
  * complete snapshot.
  *
  * The reference compares file mtimes to pick the target; a pointer file
  * is the same contract without mtime races. On a table format with
  * snapshot isolation this whole class collapses into `overwrite` — kept
  * explicit here because the environment is plain parquet directories.
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

  /** Rebuild the standby slot with the given tables, then swap. Returns the
    * directory that now holds the live gold layer.
    *
    * Every table is written at once, each from its own thread. The pointer
    * swaps only after every write has landed. The first failed write
    * cancels the others and is rethrown (later failures suppressed onto
    * it); the pointer then still names the previous slot, whose tables
    * stay live, and the next publish clears the half-written standby.
    */
  def publish(tables: Map[String, DataFrame]): String = {
    val target = standbySlot
    val targetDir = Paths.get(rootDir, target)
    // Clean the standby FIRST: a table dropped from this publish set
    // would otherwise linger from two publishes ago and be served under
    // liveDir as if current — per-table overwrite only replaces names
    // present in THIS set. Safe to delete: the standby is by definition
    // not the slot the pointer references.
    if (Files.exists(targetDir)) {
      import scala.jdk.CollectionConverters._
      Files.walk(targetDir).iterator().asScala.toSeq.reverse
        .filterNot(_ == targetDir)
        .foreach(p => Files.deleteIfExists(p))
    }
    Files.createDirectories(targetDir)
    Par.jobs(tables.toSeq.map { case (name, df) =>
      () => df.write.mode("overwrite").parquet(targetDir.resolve(name).toString)
    }: _*)
    val tmp = Paths.get(rootDir, "current.tmp")
    Files.writeString(tmp, target)
    Files.move(tmp, pointer, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    targetDir.toString
  }

  /** Reader entry: the live gold directory, if published. */
  def liveDir: Option[String] = currentSlot.map(s => Paths.get(rootDir, s).toString)
}
