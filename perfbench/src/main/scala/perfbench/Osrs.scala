package perfbench

import graft.OsrsPipeline
import graft.enrich.Enrichment
import graft.gold.GoldSink
import graft.ingest.IncrementalIngest
import graft.parse.ParseEngine
import graft.reports._
import graft.streaming.StreamingOsrsGold
import org.apache.spark.sql.DataFrame

/** The OSRS refresh: the reference's 15-minute cron run. Set-up ingests
  * 90% of a seeded Discord log into the keyed raw store; each operation
  * applies a delta of 1% of the history (with resent ids and out-of-order
  * timestamps) and republishes every dashboard table.
  */
object Osrs {

  /** Messages in the history: the store preloads the first 90%. */
  val RefreshHistory = 4000L
  /** Refreshes per run (more when the run's seconds allow). */
  val RefreshOps = 1

  /** The dashboard: one report of each generator family with a single
    * output table (a broadcast and a chat leaderboard, one timeseries,
    * collection log, personal bests, recent achievements) and the two
    * metadata tables, 8 tables. The reference's full default set repeats
    * these generators with other filters, and the detailed report adds
    * five period tables of one filter; each table costs a fixed set of
    * jobs, so the full set would only multiply the run time.
    */
  val config: OsrsPipeline.Config = OsrsPipeline.Config(
    leaderboards = OsrsPipeline.defaultLeaderboards.filter(l =>
      Set("valuable_drops_summary", "big_gzers_summary").contains(l.reportName)),
    detailed = Seq.empty,
    timeseries = OsrsPipeline.defaultTimeseries.take(1),
    mappingRules = Seq(MappingRule("Hans", Seq("Iron Hans", "Hans1"), None, None)),
    exclusionRanges = Seq(ExclusionRange(
      java.sql.Timestamp.valueOf("2024-02-10 00:00:00"),
      java.sql.Timestamp.valueOf("2024-02-12 00:00:00"), Seq("All Broadcasts"))))

  private def rawFrame(ctx: Ctx, ms: Seq[Gen.Msg]): DataFrame = {
    import ctx.spark.implicits._
    ms.map(_.row).toDF("id", "timestamp", "raw_content")
  }

  /** Write generated rows as the parquet input the engine reads. */
  private def stage(ctx: Ctx, ms: Seq[Gen.Msg], rel: String): (DataFrame, Long) = {
    rawFrame(ctx, ms).coalesce(1).write.mode("overwrite").parquet(ctx.path(rel))
    (ctx.spark.read.parquet(ctx.path(rel)), Ctx.du(ctx.path(rel), dataOnly = true)._2)
  }

  /** Same seed → identical lines; another seed → different lines. */
  private def checkDeterminism(ctx: Ctx, gen: Long => Seq[Gen.Msg]): Unit = {
    def d(s: Long) = Gen.digest(gen(s).iterator.map(m => s"${m.id}\t${m.ts}\t${m.content}"))
    val a = d(ctx.seed)
    ctx.check("generator: same seed gives identical input", a == d(ctx.seed))
    ctx.check("generator: another seed changes the input", a != d(ctx.seed + 1))
    ctx.info("input_digest") = a
  }

  /** Digest of every table of the live gold layer. */
  private def goldDigests(ctx: Ctx, liveDir: String, names: Seq[String]): Map[String, String] =
    names.map(n => n -> ctx.digest(ctx.spark.read.parquet(s"$liveDir/$n"))).toMap

  private def expectDigests(ctx: Ctx, ms: Seq[Gen.Msg]): Map[String, String] = {
    val distinct = ms.groupBy(_.id).values.map(_.head).toSeq.sortBy(_.id)
    OsrsPipeline.run(rawFrame(ctx, distinct), Gen.RunTime, config)
      .map { case (n, df) => n -> ctx.digest(df) }
  }

  private def compareGold(ctx: Ctx, what: String, got: Map[String, String],
      want: Map[String, String]): Unit = {
    val bad = want.keys.filter(n => !got.get(n).contains(want(n))).toSeq.sorted
    ctx.check(what, bad.isEmpty && got.keySet == want.keySet,
      s"tables differing: ${bad.mkString(", ")}; published ${got.size} of ${want.size}")
  }

  // -------------------------------------------------------------- layers

  /** [[OsrsPipeline.run]] called one public step at a time, each step in its
    * layer's span and closed by an action over its output, so the listener
    * can charge the work to the layer that did it.
    */
  def tracedPipeline(ctx: Ctx, raw: DataFrame, rawRows: Long): (Map[String, DataFrame], () => Unit) = {
    val t = ctx.trace
    val periods = Periods.compute(Gen.RunTime, config.weekStartDay, config.customLookbackDays)
    val (pChat, pB) = t.span("parse") {
      val p = ParseEngine.parse(raw, config.parse)
      val chat = p.chat.cache()
      val b = p.broadcasts.cache()
      chat.count(); b.count()
      val unparsed = p.unparsed.count()
      ctx.setLayerValue("parse.parsed_ratio", 1.0 - unparsed.toDouble / math.max(1L, rawRows))
      (chat, b)
    }
    val (chat, broadcasts) = t.span("enrich") {
      // No price history reaches the refresh (applyBatch passes none),
      // so the value override is skipped there as it is in OsrsPipeline.run.
      val b = Enrichment.applyUsernameMapping(
        Enrichment.applyExclusionFilters(pB, config.exclusionRanges), config.mappingRules).cache()
      val c = Enrichment.applyUsernameMapping(pChat, config.mappingRules, Seq("Username")).cache()
      b.count(); c.count()
      (c, b)
    }
    val tables = t.span("reports") {
      val all = config.leaderboards.map(rc =>
          rc.reportName -> Reports.leaderboard(chat, broadcasts, rc, periods)) ++
        config.detailed.flatMap(rc => Reports.detailed(broadcasts, rc, periods)) ++
        config.timeseries.map(rc => rc.reportName -> Reports.timeseries(broadcasts, rc)) ++
        Seq("collection_log_summary" ->
          CollectionLog.generate(broadcasts, config.clog, config.clogHist, periods),
          "personal_bests_summary" -> PersonalBests.generate(broadcasts, config.pb, config.pbHist),
          "recent_achievements" -> Reports.recentAchievements(broadcasts, config.recent)) ++
        OsrsPipeline.metadataTables(ctx.spark, periods, config)
      all.map { case (n, df) =>
        val (c, secs) = ctx.timed { val c = df.cache(); c.count(); c }
        ctx.info(s"reports_s.$n") = secs
        n -> c
      }.toMap
    }
    val release = () => (Seq(pChat, pB, chat, broadcasts) ++ tables.values).foreach(_.unpersist())
    (tables, release)
  }

  private def publish(ctx: Ctx, sink: GoldSink, tables: Map[String, DataFrame]): String =
    ctx.trace.span("gold") {
      val live = sink.publish(tables)
      if (ctx.traced) {
        val (files, bytes) = Ctx.du(live)
        ctx.setLayerValue("gold.files_written", ctx.layerValue("gold.files_written") + files)
        ctx.setLayerValue("gold.bytes_written", ctx.layerValue("gold.bytes_written") + bytes)
      }
      live
    }

  // ------------------------------------------------------------- refresh

  private val RefreshSetups = 3
  private def storeRoot(ctx: Ctx): String = ctx.path(s"refresh_${RefreshSetups - 1}")

  def refresh(ctx: Ctx): Unit = {
    val preload = (RefreshHistory * 9) / 10
    val delta = RefreshHistory / 100
    val genPre = (s: Long) => Gen.messages(s, 1, preload + 1, RefreshHistory, 0)
    checkDeterminism(ctx, genPre)
    val tableNames = OsrsPipeline.run(ctx.spark.emptyDataFrame.selectExpr(
      "cast(null as long) id", "cast(null as timestamp) timestamp", "cast(null as string) raw_content"),
      Gen.RunTime, config).keys.toSeq.sorted

    var applied = Seq.empty[Gen.Msg]
    var inputBytes = 0L
    val gold = ctx.setup(RefreshSetups) { i =>
      val root = ctx.path(s"refresh_$i")
      val g = new StreamingOsrsGold(root, Gen.RunTime, config, tableNames)
      val ms = genPre(ctx.seed)
      val (pre, bytes) = stage(ctx, ms, s"input/preload_$i")
      // First load: the idempotent append drops the log's resent ids.
      val fresh = ctx.trace.span("ingest") {
        val rows = IncrementalIngest.rowsToAppend(pre.limit(0), pre, Seq("id")).cache()
        val n = rows.count()
        ctx.setLayerValue("ingest.append_ratio", n.toDouble / ms.size)
        rows
      }
      ctx.trace.span("streaming")(g.rawStore.mergeBatch(fresh, 0L))
      fresh.unpersist()
      applied = ms
      inputBytes = bytes
      if (i > 0) Ctx.deleteTree(java.nio.file.Paths.get(ctx.path(s"refresh_${i - 1}")))
      g
    }
    ctx.info("preload") = Gen.describe(applied)

    def deltaOf(i: Int): Seq[Gen.Msg] = {
      val from = preload + 1 + i * delta
      Gen.messages(ctx.seed, from, from + delta, RefreshHistory, i + 1L)
    }
    // The reference gold for the planned refreshes; computing it first also
    // warms the report plans before any refresh is timed.
    var want = ctx.phase("reference")(expectDigests(ctx, applied ++ (0 until RefreshOps).flatMap(deltaOf)))

    var lastBatch: (DataFrame, Long) = null
    val ops = ctx.loop("refresh", minOps = RefreshOps) { i =>
      val batchId = i + 1L
      val ms = deltaOf(i)
      val (batch, bytes) = stage(ctx, ms, s"input/delta_$batchId")
      applied ++= ms
      inputBytes += bytes
      lastBatch = (batch, batchId)
      if (ctx.traced) applyTraced(ctx, gold, tableNames, batch, batchId, bytes)
      else gold.applyBatch(batch, batchId)
    }
    if (ops > RefreshOps) want = expectDigests(ctx, applied)

    ctx.phase("checks")(compareGold(ctx, "refreshed gold equals OsrsPipeline.run over every applied message",
      goldDigests(ctx, gold.sink.liveDir.get, tableNames), want))
    // Redelivery: applyBatch is the store merge, then a rebuild that the
    // check above shows is a pure function of the store; so a redelivered
    // batch id leaves gold unchanged exactly when its merge leaves the
    // store unchanged.
    def store() = ctx.digest(gold.rawStore.read(ctx.spark).get)
    val (committed, before) = (gold.rawStore.committedBatchId, store())
    gold.rawStore.mergeBatch(lastBatch._1, lastBatch._2)
    ctx.check("a redelivered batch id leaves the store, so gold, unchanged",
      gold.rawStore.committedBatchId == committed && store() == before,
      s"committed batch ${gold.rawStore.committedBatchId} (was $committed)")
    ctx.bytesStoredRatio = Ctx.du(storeRoot(ctx))._2.toDouble / inputBytes
  }

  /** [[StreamingOsrsGold.applyBatch]] as its public steps in the same
    * order: store merge, pipeline run, publish.
    */
  private def applyTraced(ctx: Ctx, gold: StreamingOsrsGold, names: Seq[String],
      batch: DataFrame, batchId: Long, batchBytes: Long): Unit = {
    val (stored, rows) = ctx.trace.span("streaming") {
      gold.rawStore.mergeBatch(batch, batchId)
      val stored = gold.rawStore.read(ctx.spark).get.select("id", "timestamp", "raw_content")
      val rows = stored.count()
      ctx.setLayerValue("streaming.store_rows", rows.toDouble)
      // A merge rewrites the whole store into the slot it then makes live.
      val store = java.nio.file.Paths.get(storeRoot(ctx), "raw_store")
      val slot = java.nio.file.Files.readString(store.resolve("current")).trim
      val rewritten = Ctx.du(store.resolve(slot).toString, dataOnly = true)._2
      ctx.setLayerValue("streaming.write_amp", rewritten.toDouble / batchBytes)
      (stored, rows)
    }
    val (tables, release) = tracedPipeline(ctx, stored, rows)
    publish(ctx, gold.sink, names.map(n => n -> tables(n)).toMap)
    release()
  }
}
