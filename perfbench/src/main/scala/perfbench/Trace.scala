package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Span recorder plus a SparkListener that charges every job, stage and
  * task to the span open around the public call that caused it.
  *
  * Attribution is by time: the benchmark is a closed loop with one client,
  * so at any instant at most one chain of nested spans is open, and a job
  * belongs to the innermost span whose interval holds the job's submit
  * time. Stages follow their first job, tasks follow their stage. Spark is
  * lazy, so each layer's span ends with an action over that layer's output.
  * Spans stay in memory and are written when the run ends.
  */
final class Trace(runId: String, enabled: Boolean) {

  final case class Span(id: Int, name: String, parent: Int, start: Long, var end: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]

  /** Run `f` inside a span named `name` (a layer, or an operation). */
  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
        System.currentTimeMillis(), -1L)
      spans += s
      open = s :: open
      try f
      finally {
        s.end = System.currentTimeMillis()
        open = open.tail
      }
    }

  // ------------------------------------------------------------- listener

  private final case class Job(id: Int, time: Long, stages: Seq[Int])
  private final case class Stage(id: Int, submit: Long, complete: Long, shuffleBytes: Long)
  private final class TaskAgg { var n = 0L; var runMs = 0L; var launchSum = 0L; var failed = 0L }

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stages = mutable.ArrayBuffer.empty[Stage]
  private val tasks = mutable.Map.empty[Int, TaskAgg]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (e.properties != null && e.properties.getProperty("perfbench.barrier") != null) ()
      else jobs += Job(e.jobId, e.time, e.stageIds)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      val shuffle = if (m == null) 0L
        else m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead
      stages += Stage(i.stageId, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L), shuffle)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val a = tasks.getOrElseUpdate(e.stageId, new TaskAgg)
      a.n += 1
      a.runMs += e.taskInfo.duration
      a.launchSum += e.taskInfo.launchTime
      if (!e.taskInfo.successful) a.failed += 1
    }
  }

  def attach(sc: SparkContext): Unit = if (enabled) sc.addSparkListener(listener)

  /** Wait until every event posted so far has reached the listener: run a
    * marked one-task job and wait for its end event, which the listener
    * bus delivers after all earlier events.
    */
  def drain(sc: SparkContext): Unit = if (enabled) {
    val done = new java.util.concurrent.CountDownLatch(1)
    val probe = new SparkListener {
      @volatile private var barrierJob = -1
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("perfbench.barrier") != null)
          barrierJob = e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == barrierJob) done.countDown()
    }
    sc.addSparkListener(probe)
    sc.setLocalProperty("perfbench.barrier", "1")
    try {
      sc.parallelize(Seq(1), 1).count()
      done.await(60, java.util.concurrent.TimeUnit.SECONDS)
    } finally {
      sc.setLocalProperty("perfbench.barrier", null)
      sc.removeSparkListener(probe)
    }
    sc.removeSparkListener(listener)
  }

  // ------------------------------------------------------------ reporting

  /** Innermost span open at `t`. */
  private def spanAt(t: Long): Option[Span] =
    spans.filter(s => s.start <= t && t <= s.end).maxByOption(s => (s.start, s.id))

  final class Totals {
    var calls = 0L; var wallMs = 0L; var driverMs = 0L; var jobs = 0L; var stages = 0L
    var tasks = 0L; var taskMs = 0L; var waitMs = 0L; var shuffleBytes = 0L; var failedTasks = 0L
  }

  /** Per-span job and stage counts, and totals per span name (self cost:
    * work is charged to the innermost span only).
    */
  def totals(): (Map[Int, (Long, Long)], Map[String, Totals]) = synchronized {
    val jobSpan = jobs.flatMap(j => spanAt(j.time).map(s => j.id -> s.id)).toMap
    val stageSpan = mutable.Map.empty[Int, Int]
    jobs.sortBy(_.id).foreach(j => jobSpan.get(j.id).foreach(s =>
      j.stages.foreach(st => if (!stageSpan.contains(st)) stageSpan(st) = s)))
    val perSpan = mutable.Map.empty[Int, (Long, Long)].withDefaultValue((0L, 0L))
    jobSpan.values.foreach(s => perSpan(s) = (perSpan(s)._1 + 1, perSpan(s)._2))
    val byName = mutable.LinkedHashMap.empty[String, Totals]
    val stageIntervals = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, Long)]]
    spans.foreach { s =>
      val t = byName.getOrElseUpdate(s.name, new Totals)
      t.calls += 1
      t.wallMs += s.end - s.start
    }
    stages.foreach { st =>
      stageSpan.get(st.id).foreach { sid =>
        val s = spans(sid)
        val t = byName(s.name)
        perSpan(sid) = (perSpan(sid)._1, perSpan(sid)._2 + 1)
        t.stages += 1
        t.shuffleBytes += st.shuffleBytes
        stageIntervals.getOrElseUpdate(sid, mutable.ArrayBuffer.empty) += (st.submit -> st.complete)
        tasks.get(st.id).foreach { a =>
          t.tasks += a.n
          t.taskMs += a.runMs
          t.waitMs += a.launchSum - a.n * st.submit
          t.failedTasks += a.failed
        }
      }
    }
    jobSpan.values.foreach(sid => byName(spans(sid).name).jobs += 1)
    // Driver time: span time during which none of its own stages ran.
    spans.foreach { s =>
      val busy = union(stageIntervals.getOrElse(s.id, Nil).toSeq.map { case (a, b) =>
        (math.max(a, s.start), math.min(b, s.end)) }.filter { case (a, b) => b > a })
      val child = spans.filter(_.parent == s.id).map(c => c.end - c.start).sum
      byName(s.name).driverMs += math.max(0L, s.end - s.start - child - busy)
    }
    (perSpan.toMap, byName.toMap)
  }

  private def union(xs: Seq[(Long, Long)]): Long = {
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    xs.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  def spanList: Seq[Span] = spans.toSeq

  /** Spans as JSON lines: name, start, end, parent and run id. */
  def spanLines: Seq[String] = spans.toSeq.map(s =>
    Json.obj("run" -> runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ms" -> s.start, "end_ms" -> s.end))
}
