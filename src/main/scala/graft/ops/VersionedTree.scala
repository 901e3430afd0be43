package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

/** Recursive tree clone for index-generation BRANCHING: hard-links
  * files when source and destination live on the local filesystem and
  * falls back to a byte copy otherwise (object stores, cross-device) —
  * a branch of a serving index must be metadata work, never a data
  * rewrite, or snapshotting a 100 TB tree costs a 100 TB write.
  *
  * Safe to share inodes BECAUSE every index writer here is
  * append-or-new-file only: appends land new part files, deletes land
  * new tombstone files, rebuilds land new generation DIRECTORIES, and
  * superseded generations are deleted by UNLINK (the branch's links
  * keep the shared bytes alive). Nothing ever modifies a committed
  * file in place — the immutability contract all of parquet-on-Spark
  * already assumes.
  */
private[ops] object TreeClone {

  /** Clone `from` into `to` (created), skipping files named `skip`
    * (commit markers — the CALLER re-creates them last, so a torn clone
    * can never look committed). Source and destination resolve their
    * OWN filesystems — a cross-filesystem branch (object store → local,
    * or vice versa) takes the byte-copy path instead of throwing
    * Wrong-FS or landing trees on the source's filesystem; hard links
    * apply only when both sides are local.
    */
  def linkOrCopy(from: org.apache.hadoop.fs.Path,
      to: org.apache.hadoop.fs.Path,
      conf: org.apache.hadoop.conf.Configuration,
      skip: Set[String] = Set.empty): Unit = {
    val sfs = from.getFileSystem(conf)
    val dfs = to.getFileSystem(conf)
    dfs.mkdirs(to)
    sfs.listStatus(from).foreach { st =>
      val name = st.getPath.getName
      if (!skip.contains(name)) {
        val dst = new org.apache.hadoop.fs.Path(to, name)
        if (st.isDirectory) linkOrCopy(st.getPath, dst, conf, skip)
        else {
          val linked = sfs.getScheme == "file" && dfs.getScheme == "file" &&
            (try {
              java.nio.file.Files.createLink(
                java.nio.file.Paths.get(dst.toUri.getPath),
                java.nio.file.Paths.get(st.getPath.toUri.getPath))
              true
            } catch { case _: Exception => false })
          if (!linked)
            org.apache.hadoop.fs.FileUtil.copy(sfs, st.getPath, dfs, dst,
              false, conf): Unit
        }
      }
    }
  }
}

/** Prefix-versioned two-phase commit for indexes whose generation is
  * MORE THAN ONE parquet tree (so parquet's own `_SUCCESS` cannot be the
  * commit point): each generation lives under `<prefix>_v{n}/`, a
  * `_GRAFT_COMMIT` marker is written only after every tree of the
  * generation landed, readers resolve the highest COMMITTED version, and
  * a crash mid-write leaves the previous generation live with the torn
  * one as skipped-past garbage (numbered past, never resurrected).
  * The one generation lifecycle of the four persisted index families:
  * [[IvfIndex]] (`ivf_v{n}`: centroids + lists), [[PqIndex]]
  * (`pq_v{n}`: centroids + lists + model), [[GraphIndex]]
  * (`graph_v{n}`: nodes + edges) and [[MaxSimIndex]] (`tokens_v{n}`:
  * token tree + meta). Each family's pending deletes live in its
  * generation's `tombstones/` tree, written by [[VersionedTree.tombstone]]
  * and masked out by [[VersionedTree.masked]].
  *
  * Single-writer assumption, like every maintenance op here.
  */
private[ops] final class VersionedTree(prefix: String) {

  private val re = s"${java.util.regex.Pattern.quote(prefix)}_v\\d+"

  private def fsOf(spark: SparkSession, path: String) = {
    val root = new org.apache.hadoop.fs.Path(path)
    (root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
  }

  def committedVersions(spark: SparkSession, path: String): Seq[Int] = {
    val (fs, root) = fsOf(spark, path)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.map(_.getPath)
      .filter(p => p.getName.matches(re) &&
        fs.exists(new org.apache.hadoop.fs.Path(p, "_GRAFT_COMMIT")))
      .map(_.getName.stripPrefix(s"${prefix}_v").toInt)
  }

  /** Highest committed generation name, e.g. "graph_v3". */
  def liveVersion(spark: SparkSession, path: String): String = {
    val live = committedVersions(spark, path)
    require(live.nonEmpty, s"no committed $prefix generation under $path")
    s"${prefix}_v${live.max}"
  }

  /** Next-generation numbering must pass UNCOMMITTED leftovers too — a
    * crashed writer's torn tree may hold the highest number.
    */
  private def maxVersion(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Int =
    if (!fs.exists(root)) 0
    else fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.matches(re))
      .map(_.stripPrefix(s"${prefix}_v").toInt)
      .foldLeft(0)(math.max)

  /** Write the next generation: `writeTrees` receives the generation
    * directory and must land every tree under it; only after it returns
    * is the commit marker created and superseded generations deleted —
    * readers never lose a resolvable live tree.
    *
    * `retain` keeps the newest N COMMITTED generations (default 1 —
    * live only): a retention > 1 buys [[rollback]] and
    * point-in-time [[branch]]es at the cost of N copies' storage —
    * hard-link-shared where the writers linked, full bytes where they
    * wrote. Torn (uncommitted) trees are always deleted regardless of
    * retention; they are garbage, not history.
    */
  def commitNext(spark: SparkSession, path: String, retain: Int = 1)(
      writeTrees: String => Unit): String = {
    require(retain >= 1, s"retain must be >= 1, got $retain")
    val (fs, root) = fsOf(spark, path)
    val next = s"${prefix}_v${maxVersion(fs, root) + 1}"
    writeTrees(s"$path/$next")
    fs.create(new org.apache.hadoop.fs.Path(s"$path/$next/_GRAFT_COMMIT"))
      .close()
    val keep = committedVersions(spark, path).sorted.reverse.take(retain)
      .map(v => s"${prefix}_v$v").toSet
    fs.listStatus(root).toSeq.map(_.getPath)
      .filter(p => p.getName.matches(re) && !keep.contains(p.getName))
      .foreach(p => fs.delete(p, true))
    next
  }

  /** Retire the LIVE generation so the previous committed one becomes
    * live again — the bad-index-shipped undo, possible only when the
    * superseding commit ran with `retain` > 1. Whole-generation
    * semantics: rollback undoes COMMITS (rebuilds, compactions,
    * maintenance generations) including the retired generation's own
    * tombstone masks; in-place appends into the surviving generation's
    * trees are part of that generation and are not unwound.
    *
    * Number reuse, stated: the NEXT commit after a rollback re-numbers
    * into the retired slot (maxVersion no longer sees it), so a reader
    * that resolved the old generation name before the rollback could
    * pair it with the recommitted tree's content — the same
    * resolve-then-read grace-period caveat as a compaction's
    * retirement; the single-writer owns sequencing rollbacks against
    * in-flight probes, exactly as with rebuilds.
    */
  def rollback(spark: SparkSession, path: String): String = {
    val vs = committedVersions(spark, path).sorted
    require(vs.size >= 2, s"rollback needs a retained previous $prefix " +
      s"generation under $path (found ${vs.size}; commit with retain > 1)")
    val (fs, _) = fsOf(spark, path)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$path/${prefix}_v${vs.max}"), true)
    s"${prefix}_v${vs(vs.size - 2)}"
  }

  /** BRANCH: snapshot `srcPath`'s live generation into `dstPath` as
    * that tree's own next generation — hard-links on a local
    * filesystem ([[TreeClone]]), so the snapshot is metadata-sized.
    * The clone carries the generation's FULL live state including any
    * pending tombstones (a branch sees exactly what the source's
    * readers see), but the source's commit marker is never cloned —
    * the branch commits through [[commitNext]]'s own marker, so a torn
    * branch stays invisible like any torn write. The branch is an
    * independent single-writer tree afterwards: mutations (deletes,
    * maintenance batches, compaction) land new generations under
    * `dstPath` and never touch `srcPath` — the experiment/tenant
    * snapshot-of-a-serving-index primitive.
    *
    * `dstPath` must hold no committed generation: branch is a
    * FRESH-SNAPSHOT primitive, and committing into an existing tree
    * would silently delete its history (commitNext's default retain=1
    * keeps only the newest commit). Torn (uncommitted) leftovers under
    * dstPath are fine — the clone numbers past them like any writer.
    */
  def branch(spark: SparkSession, srcPath: String,
      dstPath: String): String = {
    require(committedVersions(spark, dstPath).isEmpty,
      s"branch target $dstPath already holds committed $prefix " +
        "generations — branch snapshots into a FRESH tree (branching " +
        "over an existing index would delete its history)")
    val live = liveVersion(spark, srcPath)
    commitNext(spark, dstPath) { gen =>
      TreeClone.linkOrCopy(
        new org.apache.hadoop.fs.Path(s"$srcPath/$live"),
        new org.apache.hadoop.fs.Path(gen),
        spark.sparkContext.hadoopConfiguration,
        skip = Set("_GRAFT_COMMIT"))
    }
  }
}

private[ops] object VersionedTree {

  /** Generation `gen`'s pending tombstones (the `gen/tombstones` tree
    * [[tombstone]] appends to), None when no delete landed there. Read
    * with the footer-pinned schema ([[IvfLists.read]]), so no
    * schema-inference job; tiny by the compaction-bounded assumption.
    * The tree holds one id column.
    */
  def tombstones(spark: SparkSession, gen: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$gen/tombstones")
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      Some(IvfLists.read(spark, p.toString))
    else None
  }

  /** `frame` minus generation `gen`'s tombstones and the optional `also`
    * ids, broadcast-anti-joined on column `key`, in `frame`'s column
    * order — the one mask of all four families. Both masks are one id
    * column, renamed to `key`, so a graph masks `nbr` as well as `id`.
    */
  def masked(spark: SparkSession, gen: String, frame: DataFrame,
      key: String, also: Option[DataFrame] = None): DataFrame =
    (tombstones(spark, gen) ++ also).map(_.toDF(key))
      .reduceOption(_ unionByName _)
      .fold(frame)(m => frame.join(broadcast(m), Seq(key), "left_anti")
        .select(frame.columns.toSeq.map(col): _*))

  /** Append the ids in `ids`' `idCol` to generation `gen`'s tombstones,
    * as the one long column `key` — the one tombstone writer of the four
    * families. Replay-safe: only ids present in `stored`'s `key` column
    * and not yet tombstoned land, so a redelivered delete, or a delete
    * of a never-stored id, appends nothing. The presence check is one
    * slim `key` scan with the batch broadcast, checkpointed once, and
    * the append runs only when something is left.
    */
  def tombstone(spark: SparkSession, gen: String, ids: DataFrame,
      idCol: String, stored: DataFrame, key: String): Unit = {
    val batch = masked(spark, gen,
      ids.select(col(idCol).cast("long").as(key)).distinct(), key)
    Checkpoints.eagerNonEmpty(stored.select(col(key))
        .join(broadcast(batch), Seq(key), "left_semi").distinct())
      .foreach { present =>
        present.coalesce(1).write.mode("append").parquet(s"$gen/tombstones")
        Checkpoints.release(present)
      }
  }
}
