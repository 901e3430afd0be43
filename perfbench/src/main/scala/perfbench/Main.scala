package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run: `--workload <name> --seed <n> --seconds <s> --trace <0|1>`.
  *
  * Prints, as its last stdout line, one JSON object with `correct`,
  * `attempted`, `failed` and `metrics` (end-to-end metrics untraced,
  * per-layer metrics traced). The detailed record of the run (latencies,
  * checks, job/stage ledger, spans, host load) goes under `--out`.
  */
object Main {

  val EndToEnd = Seq("setup_s" -> "s", "op_p50_s" -> "s", "op_cpu_s" -> "s",
    "bytes_stored_ratio" -> "ratio")

  val Layers = Seq("ingest", "parse", "enrich", "reports", "gold", "streaming",
    "ops.IvfIndex", "ops.PqIndex", "ml.KMeans")

  val LayerFields = Seq("calls" -> "count", "wall_s" -> "s", "driver_s" -> "s",
    "jobs" -> "count", "stages" -> "count", "tasks" -> "count", "task_s" -> "s",
    "wait_s" -> "s", "shuffle_mb" -> "MB", "failed_tasks" -> "count")

  /** Layer counts recorded at the layer boundaries, with their units. */
  val LayerCounts = Seq(
    "parse.parsed_ratio" -> "ratio", "ingest.append_ratio" -> "ratio",
    "gold.files_written" -> "count", "gold.bytes_written" -> "bytes",
    "streaming.store_rows" -> "count", "streaming.write_amp" -> "ratio",
    "ops.IvfIndex.rows_scanned_per_result" -> "ratio",
    "ops.PqIndex.rows_scanned_per_result" -> "ratio",
    "ops.IvfIndex.write_amp" -> "ratio", "ops.PqIndex.write_amp" -> "ratio",
    "ops.IvfIndex.live_files" -> "count", "ops.PqIndex.live_files" -> "count",
    "ops.probe_p50_s" -> "s", "ops.maint_p50_s" -> "s", "ops.recall_at_10" -> "ratio")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val out = Paths.get(opts("out")).toAbsolutePath
    val cores = opts.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    val work = out.resolve(s"work_${workload}_${seed}_$traced")
    Ctx.deleteTree(work)
    Files.createDirectories(work)

    val t0 = System.nanoTime()
    val load0 = Host.loadavg()
    val canary = Host.canary(cores)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val runId = s"$workload-$seed-${if (traced) "traced" else "untraced"}-${System.currentTimeMillis()}"
    val trace = new Trace(runId, traced)
    trace.attach(spark.sparkContext)
    val ctx = new Ctx(spark, seed, seconds, trace, traced, work)
    ctx.info("phase_s.start") = (System.nanoTime() - t0) / 1e9

    val outcome = try {
      workload match {
        case "osrs_refresh" => Osrs.refresh(ctx)
        case "index_maintenance" => Index.maintenance(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      None
    } catch {
      case e: Throwable =>
        ctx.fail("run", s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
        Some(e)
    }
    trace.drain(spark.sparkContext)
    ctx.info("peak_rss_mb") = Host.peakRssMb()
    ctx.info("phase_s.total") = (System.nanoTime() - t0) / 1e9

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      "cores" -> cores, "loadavg_start" -> load0, "loadavg_end" -> Host.loadavg(),
      "canary_1t_s" -> canary._1, "canary_nt_s" -> canary._2,
      "op_latencies_s" -> ctx.latencies.toSeq, "op_cpu_s" -> ctx.cpuTimes.toSeq,
      "setup_runs_s" -> ctx.setups.toSeq,
      "op_p90_s" -> ctx.p90, "checks" -> ctx.checks.toSeq.map { case (n, ok, d) =>
        Map("check" -> n, "ok" -> ok, "detail" -> d) },
      "info" -> ctx.info)

    val e2e = Map("setup_s" -> ctx.median(ctx.setups), "op_p50_s" -> ctx.median(ctx.latencies),
      "op_cpu_s" -> ctx.median(ctx.cpuTimes),
      "bytes_stored_ratio" -> ctx.bytesStoredRatio)
    if (!traced) EndToEnd.foreach { case (n, u) => metrics(n) = (e2e(n), u) }
    else {
      val (perSpan, byName) = trace.totals()
      for (l <- Layers; (f, u) <- LayerFields) {
        val t = byName.get(l)
        val v = t.map { t => f match {
          case "calls" => t.calls.toDouble
          case "wall_s" => t.wallMs / 1e3
          case "driver_s" => t.driverMs / 1e3
          case "jobs" => t.jobs.toDouble
          case "stages" => t.stages.toDouble
          case "tasks" => t.tasks.toDouble
          case "task_s" => t.taskMs / 1e3
          case "wait_s" => t.waitMs / 1e3
          case "shuffle_mb" => t.shuffleBytes / 1e6
          case "failed_tasks" => t.failedTasks.toDouble
        } }.getOrElse(0.0)
        metrics(s"$l.$f") = (v, u)
      }
      LayerCounts.foreach { case (n, u) => metrics(n) = (ctx.layerValue(n), u) }
      EndToEnd.foreach { case (n, u) => metrics(s"traced.$n") = (e2e(n), u) }
      record("ledger") = ctx.ledger(perSpan)
      Files.write(out.resolve(s"spans_${workload}_$seed.jsonl"), trace.spanLines.asJava)
    }
    record("metrics") = metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    Files.writeString(out.resolve(s"record_${workload}_${seed}_${if (traced) 1 else 0}.json"),
      Json.value(record) + "\n")

    spark.stop()
    Ctx.deleteTree(work)
    val correct = ctx.failed == 0 && outcome.isEmpty
    println(Json.obj("correct" -> correct, "attempted" -> math.max(1, ctx.attempted),
      "failed" -> ctx.failed, "metrics" -> metrics.map { case (k, (v, u)) =>
        k -> collection.immutable.ListMap("value" -> v, "unit" -> u) }))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}

/** State shared by a run's workload: timing, checks, counts. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val trace: Trace, val traced: Boolean, val dir: Path) {

  val latencies = mutable.ArrayBuffer.empty[Double]
  val cpuTimes = mutable.ArrayBuffer.empty[Double]
  val setups = mutable.ArrayBuffer.empty[Double]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0
  var failed = 0
  var bytesStoredRatio = 0.0
  private val values = mutable.Map.empty[String, Double]

  def setLayerValue(n: String, v: Double): Unit = values(n) = v
  def layerValue(n: String): Double = values.getOrElse(n, 0.0)

  def fail(what: String, detail: String): Unit = {
    attempted += 1
    failed += 1
    checks += ((what, false, detail))
    System.err.println(s"[perfbench] FAILED $what: $detail")
  }

  /** An output check: counted as attempted, and as failed when false. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    if (ok) { attempted += 1; checks += ((name, true, "")) } else fail(name, detail)

  private def now(): Double = System.nanoTime() / 1e9

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this process has used, on every thread. */
  private def cpu(): Double = os.getProcessCpuTime / 1e9

  def timed[T](f: => T): (T, Double) = { val t0 = now(); val r = f; (r, now() - t0) }

  /** Time a phase of the run into the record (not a metric). */
  def phase[T](name: String)(f: => T): T = {
    val (r, s) = timed(f)
    info(s"phase_s.$name") = s
    r
  }

  /** Repeat a set-up `n` times, recording each duration; keep the last state. */
  def setup[T](n: Int)(f: Int => T): T = {
    var last: Option[T] = None
    (0 until n).foreach { i =>
      val (r, s) = timed(trace.span("setup")(f(i)))
      setups += s
      last = Some(r)
    }
    last.get
  }

  /** Closed loop: run `op` back to back, at least `minOps` times and until
    * the run's seconds are spent. A traced run makes exactly `minOps`
    * calls, so its job and stage counts repeat exactly.
    */
  def loop(name: String, minOps: Int)(op: Int => Unit): Int = {
    val start = now()
    var i = 0
    while (i < minOps || (!traced && now() - start < seconds)) {
      val c0 = cpu()
      val (_, s) = timed(trace.span(s"op.$name")(op(i)))
      cpuTimes += cpu() - c0
      attempted += 1
      latencies += s
      i += 1
    }
    info("ops") = i
    i
  }

  def median(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it. */
  def p90: Option[Double] =
    if (latencies.size < 100) None else Some(latencies.sorted.apply((latencies.size * 0.9).toInt))

  /** Jobs and stages per operation span (its whole subtree). */
  def ledger(perSpan: Map[Int, (Long, Long)]): Seq[Map[String, Any]] = {
    val spans = trace.spanList
    val children = spans.groupBy(_.parent)
    def subtree(id: Int): Seq[Int] = id +: children.getOrElse(id, Nil).flatMap(c => subtree(c.id))
    spans.filter(s => s.name.startsWith("op.") || s.name == "setup").map { s =>
      val ids = subtree(s.id)
      val (j, st) = ids.map(perSpan.getOrElse(_, (0L, 0L))).foldLeft((0L, 0L)) {
        case ((a, b), (c, d)) => (a + c, b + d) }
      Map("op" -> s.name, "jobs" -> j, "stages" -> st, "wall_s" -> (s.end - s.start) / 1e3)
    }
  }

  def path(rel: String): String = dir.resolve(rel).toString

  /** Order-insensitive digest of a table's rows. */
  def digest(df: DataFrame): String =
    Gen.digest(df.collect().map(_.toString).sorted.iterator)
}

object Ctx {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  /** Files and bytes under `p`, parquet data files only when `dataOnly`. */
  def du(p: String, dataOnly: Boolean = false): (Long, Long) = {
    val root = Paths.get(p)
    if (!Files.exists(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try {
        val fs = s.iterator().asScala.filter(Files.isRegularFile(_))
          .filter(f => !dataOnly || f.getFileName.toString.endsWith(".parquet")).toSeq
        (fs.size.toLong, fs.map(Files.size).sum)
      } finally s.close()
    }
  }
}

/** Host facts recorded with each run, to tell a contended window apart. */
object Host {
  def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+").take(3).mkString(" ")
    catch { case _: Exception => "" }

  /** Peak resident set of this JVM (VmHWM). */
  def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    catch { case _: Exception => 0.0 }

  private def spin(): Double = {
    val t0 = System.nanoTime()
    var x = 0L
    var i = 0
    while (i < 50000000) { x += i ^ (x >>> 3); i += 1 }
    if (x == 42) println("")
    (System.nanoTime() - t0) / 1e9
  }

  /** The same spin on one thread, then on `n` threads at once: a quiet
    * host gives about equal times.
    */
  def canary(n: Int): (Double, Double) = {
    spin()
    val one = spin()
    val t0 = System.nanoTime()
    val ts = (1 to n).map { _ =>
      val t = new Thread(() => spin(): Unit); t.start(); t
    }
    ts.foreach(_.join())
    (one, (System.nanoTime() - t0) / 1e9)
  }
}
