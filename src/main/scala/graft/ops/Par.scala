package graft.ops

import org.apache.spark.SparkContext

/** Overlap INDEPENDENT Spark actions from driver threads (guide §2.6):
  * actions are only sequential because driver code calls them
  * sequentially, so a commit that must land two or three parquet trees
  * can submit each write from its own thread and let the scheduler
  * back-fill executors freed by one job's straggler tail with the next
  * job's tasks. Wall clock for a commit drops from Σ(writes) toward
  * max(writes).
  *
  * Contract: the thunks must be independent (no thunk reads what another
  * writes) and every shared upstream frame must already be materialized
  * (eager checkpoint or a prior action) — two concurrent jobs racing to
  * materialize one lazy cache duplicate its compute (the r18 SetSimJoin
  * lesson). The thunks run under one job group per call, and the first
  * failure (or an interrupt of the caller) cancels its running and
  * later jobs, so a commit never waits for a doomed tree. All threads
  * are joined before returning, and the first failure is rethrown with
  * the later ones suppressed — a caller's commit marker lands strictly
  * after every tree landed, or not at all.
  *
  * Call sites: the tree writes of a Graph/Pq/Ivf commit, and
  * [[graft.gold.GoldSink.publish]], which writes every table of a gold
  * set from its own thread before the pointer swap. Thread `graft-par-i`
  * runs the i-th thunk, so JFR, jstack and driver logs can attribute the
  * concurrent driver work.
  */
object Par {

  def jobs(thunks: (() => Unit)*): Unit = {
    if (thunks.sizeIs <= 1) { thunks.foreach(_()); return }
    val sc = SparkContext.getOrCreate()
    val group = s"graft-par-${java.util.UUID.randomUUID()}"
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val ts = thunks.zipWithIndex.map { case (t, i) =>
      val th = new Thread(() => {
        sc.setJobGroup(group, "graft.ops.Par")
        try t() catch {
          case e: Throwable =>
            errs.add(e) // before the cancel: its fallout queues behind
            if (failed.compareAndSet(false, true))
              sc.cancelJobGroupAndFutureJobs(group)
        }
      }, s"graft-par-$i")
      th.setDaemon(true)
      th.start()
      th
    }
    try ts.foreach(_.join())
    catch {
      case e: InterruptedException =>
        sc.cancelJobGroupAndFutureJobs(group)
        throw e
    }
    if (!errs.isEmpty) {
      val first = errs.poll()
      errs.forEach(first.addSuppressed(_))
      throw first
    }
  }
}
