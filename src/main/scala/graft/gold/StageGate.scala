package graft.gold

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{Duration, Instant}

import scala.util.control.NonFatal

import graft.ops.LocalFs

/** Per-stage run gating + tolerated-failure policy (SURVEY.md §2.1 S15 /
  * §2.6 T5; reference `src/run_all_etl.py:117-176`): a state file records
  * each stage's last successful run; a stage re-runs only after its
  * minimum interval; a TOLERATED stage (the reference's price fetcher,
  * `:145-155`) may fail without failing the pipeline, and only a SUCCESS
  * advances its state entry.
  *
  * The state file is the reference's `ETL_state.json` contract re-expressed
  * dependency-free: one `stage\tISO-instant` line per stage, written via
  * temp-file + atomic rename (the reference rewrites JSON in place). A
  * missing or unreadable file means "run everything", exactly like the
  * `except ... Will attempt to run all scripts` branch (`:132-133`).
  */
object StageGate {

  /** Last successful run per stage; corrupt/missing file → empty. */
  def readState(statePath: Path): Map[String, Instant] =
    try {
      if (!Files.exists(statePath)) return Map.empty
      new String(Files.readAllBytes(statePath), StandardCharsets.UTF_8)
        .split("\n", -1).toSeq.filter(_.nonEmpty)
        .map { l => val Array(k, v) = l.split("\t", 2); k -> Instant.parse(v) }
        .toMap
    } catch { case NonFatal(_) => Map.empty }

  /** `run_all_etl.py:121-131`: run unless the stage succeeded within the
    * minimum interval.
    */
  def shouldRun(statePath: Path, stage: String, minInterval: Duration, now: Instant): Boolean =
    readState(statePath).get(stage)
      .forall(last => !now.isBefore(last.plus(minInterval)))

  /** Record a successful run, preserving other stages' entries
    * (`:160-175`). The read-modify-write runs under the write lock
    * `<state>.lock` ([[LocalFs.withWriteLock]]: threads of one process
    * and other processes alike), so concurrently finishing stages cannot
    * drop each other's entries; the atomic replace additionally prevents
    * readers from ever seeing a torn file.
    */
  def recordSuccess(statePath: Path, stage: String, now: Instant): Unit =
    LocalFs.withWriteLock(statePath.resolveSibling(statePath.getFileName.toString + ".lock")) {
      val next = readState(statePath) + (stage -> now)
      LocalFs.replaceAtomically(statePath,
        next.toSeq.sortBy(_._1).map { case (k, v) => s"$k\t$v" }.mkString("\n"))
    }

  /** Outcome of a gated stage attempt. */
  sealed trait Outcome[+T]
  case class Ran[T](result: T) extends Outcome[T]
  case object Skipped extends Outcome[Nothing]
  case class Failed(error: Throwable) extends Outcome[Nothing]

  /** Retention cleanup for run logs / summary files (reference
    * `src/run_all_etl.py:25-53`): delete FILES in `directory` whose name
    * carries a `YYYY-MM-DD` stamp older than `retentionDays` before `now`.
    * Matching the reference exactly: only regular files are considered,
    * only the FIRST date-looking token in the name counts, an unparsable
    * date (e.g. `2024-13-45`) skips the file, a name with no date is left
    * alone, and a missing directory is a no-op. Subdirectories are never
    * touched — data tables live in directories and must not be in scope
    * of a log sweep. Returns the deleted file names.
    */
  def cleanupOldFiles(directory: Path, retentionDays: Int,
      now: Instant = Instant.now()): Seq[String] = {
    if (!Files.exists(directory)) return Seq.empty
    val datePat = java.util.regex.Pattern.compile("(\\d{4}-\\d{2}-\\d{2})")
    val cutoff = now.minus(Duration.ofDays(retentionDays.toLong))
    val deleted = Seq.newBuilder[String]
    val stream = Files.list(directory)
    try {
      stream.iterator().forEachRemaining { item =>
        if (Files.isRegularFile(item)) {
          val m = datePat.matcher(item.getFileName.toString)
          if (m.find()) {
            try {
              val d = java.time.LocalDate.parse(m.group(1))
              if (d.atStartOfDay(java.time.ZoneOffset.UTC).toInstant
                  .isBefore(cutoff)) {
                Files.delete(item)
                deleted += item.getFileName.toString
              }
            } catch {
              case _: java.time.format.DateTimeParseException => // skip
            }
          }
        }
      }
    } finally stream.close()
    deleted.result()
  }

  /** Run `body` iff the gate is open; on success advance the state. When
    * `tolerateFailure` (the price-fetcher policy, `:145-155`) a failure is
    * captured as [[Failed]] — state NOT advanced, nothing thrown — so the
    * rest of the pipeline proceeds; otherwise the failure propagates.
    */
  def runGated[T](
      statePath: Path,
      stage: String,
      minInterval: Duration,
      now: Instant,
      tolerateFailure: Boolean = false)(body: => T): Outcome[T] = {
    if (!shouldRun(statePath, stage, minInterval, now)) return Skipped
    try {
      val r = body
      recordSuccess(statePath, stage, now)
      Ran(r)
    } catch {
      case NonFatal(e) if tolerateFailure => Failed(e)
    }
  }
}
