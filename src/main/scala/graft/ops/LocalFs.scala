package graft.ops

import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, StandardCopyOption, StandardOpenOption}

/** Local-filesystem primitives, one copy each instead of the drifted
  * ones callers used to carry. The recursive delete and newest-mtime
  * serve scaffolding hygiene (rehearsal cleanup, the stale-tmp sweep,
  * specs) through java.io.File: those trees are java.io.tmpdir scratch,
  * never data the engine computes over (engine-side deletes go through
  * the Hadoop FileSystem, e.g. SimilarityQueries.deleteTree). The write
  * lock and the atomic replace are the local commit of
  * [[graft.gold.GoldSink]], [[graft.gold.StageGate]] and small state
  * files: java.nio-local, where `FileChannel.lock` and an atomic rename
  * are reliable.
  */
object LocalFs {

  /** Recursive delete; a missing path or failed delete is a no-op (these
    * trees are scaffolding — leaking one costs disk, never correctness).
    */
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }

  def deleteRecursively(path: String): Unit =
    deleteRecursively(new java.io.File(path))

  /** Newest lastModified anywhere in a tree — the age signal for sweep
    * guards: parquet writes land in nested partition subdirectories
    * without refreshing the root mtime, so a root-only check would
    * misread an actively-written tree as stale.
    */
  def newestMtime(f: java.io.File): Long = {
    val own = f.lastModified()
    if (!f.isDirectory) own
    else Option(f.listFiles()).getOrElse(Array.empty)
      .foldLeft(own)((m, c) => math.max(m, newestMtime(c)))
  }

  /** Replace `path` with `body` (UTF-8) so that no reader ever sees a
    * torn file: write the sibling `<name>.tmp`, then atomically rename
    * it over `path`. Creates the parent directory.
    */
  def replaceAtomically(path: Path, body: String): Unit = {
    Option(path.getParent).foreach(Files.createDirectories(_))
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    Files.writeString(tmp, body)
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  // FileChannel.lock is per JVM: a second attempt from another thread
  // THROWS OverlappingFileLockException instead of blocking, so one
  // monitor per lock file serializes the threads in front of it.
  private val monitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  // The lock files the current thread holds (reentrancy, see withWriteLock).
  private val heldKeys: ThreadLocal[scala.collection.mutable.Set[String]] =
    ThreadLocal.withInitial(() => scala.collection.mutable.Set.empty[String])

  /** Run `f` holding the exclusive write lock `lockFile` names — against
    * other threads of this JVM via a shared monitor, against other
    * processes via an OS `FileChannel.lock` on the file (blocking;
    * released even when `f` throws). Reentrant per thread.
    */
  def withWriteLock[T](lockFile: Path)(f: => T): T = {
    // The monitor key resolves SYMLINKS, not just ".."/".": two writers
    // spelling one lock differently (classically /var vs /private/var
    // tmpdirs) would otherwise get distinct monitors, both enter, and the
    // second FileChannel.lock throws. toRealPath needs the directory to
    // exist, hence createDirectories first.
    val dir = Files.createDirectories(lockFile.toAbsolutePath.getParent)
    val key = dir.toRealPath().resolve(lockFile.getFileName).toString
    monitors.computeIfAbsent(key, _ => new Object).synchronized {
      // Reentrant: a nested withWriteLock from the HOLDING thread (a
      // backfill loop wrapping mergeBatch calls, each of which takes the
      // lock itself) just runs `f` instead of throwing on a second lock.
      if (heldKeys.get.contains(key)) f
      else {
        val ch = FileChannel.open(lockFile,
          StandardOpenOption.CREATE, StandardOpenOption.WRITE)
        try {
          val lock = ch.lock()
          heldKeys.get.add(key)
          try f finally {
            heldKeys.get.remove(key)
            lock.release()
          }
        } finally ch.close()
      }
    }
  }
}
