package graft

import java.time.ZonedDateTime

import graft.enrich.Enrichment
import graft.ops.Par
import graft.parse.{OsrsPatterns, ParseConfig, ParseEngine, ValueOverride}
import graft.reports._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end silver→gold pipeline with the reference's default report set
  * (`/root/reference/src/config.example.toml:224-351`,
  * `src/3_transform_data.py:766-870`): exclusions → username remap →
  * 9 leaderboards, 3×5 detailed tables, 3 timeseries, collection log,
  * personal bests, recent achievements, and the two metadata tables.
  *
  * One driver program, one SparkSession; stage boundaries are DataFrame
  * hand-offs instead of the reference's per-stage OS processes + SQLite
  * files. The enriched silver frames are cached once ([[silver]]) and
  * every report is an independent lazy DAG over them ([[reports]]).
  */
object OsrsPipeline {

  case class Config(
      parse: ParseConfig = OsrsPatterns.default,
      mappingRules: Seq[MappingRule] = Seq.empty,
      exclusionRanges: Seq[ExclusionRange] = Seq.empty,
      valueOverrides: Seq[ValueOverride] = Seq.empty,
      weekStartDay: java.time.DayOfWeek = java.time.DayOfWeek.MONDAY,
      customLookbackDays: Int = 14,
      topDropsLimit: Int = 50,
      leaderboards: Seq[LeaderboardReportDef] = defaultLeaderboards,
      detailed: Seq[DetailedReportDef] = defaultDetailed,
      timeseries: Seq[TimeseriesReportDef] = defaultTimeseries,
      clog: CollectionLogDef = CollectionLogDef(
        Seq("Collection Log", "Valuable Drop", "Raid Loot", "Clue Scroll Item"),
        Some("Collection Log")),
      clogHist: ClogHistoricalData = ClogHistoricalData(Seq.empty),
      pb: PersonalBestsDef = PersonalBestsDef(),
      pbHist: PbHistoricalData = PbHistoricalData(Seq.empty),
      recent: RecentAchievementsDef = RecentAchievementsDef(
        Seq("Level Up", "Quest", "Diary", "Combat Task",
          "Combat Achievement Tier", "Pet", "HC Life Lost"), 15))

  /** The reference's nine leaderboard reports. */
  val defaultLeaderboards: Seq[LeaderboardReportDef] = Seq(
    LeaderboardReportDef("valuable_drops_summary",
      broadcastTypes = Seq("Valuable Drop", "Raid Loot", "Clue Scroll Item"),
      groupByColumn = "Username", countColumn = Some("Username"),
      valueColumn = Some("Item_Value")),
    LeaderboardReportDef("pvp_kills_summary", broadcastTypes = Seq("PvP Kill"),
      groupByColumn = "Username", countColumn = Some("Username"),
      valueColumn = Some("Item_Value")),
    LeaderboardReportDef("pvp_deaths_summary", broadcastTypes = Seq("PvP Death"),
      groupByColumn = "Username", countColumn = Some("Username"),
      valueColumn = Some("Item_Value")),
    LeaderboardReportDef("kicked_by_player_summary",
      broadcastTypes = Seq("Clan Expelled"), groupByColumn = "Username",
      countColumn = Some("Username"), valueColumn = None),
    LeaderboardReportDef("kicker_summary", broadcastTypes = Seq("Clan Expelled"),
      groupByColumn = "Action_By", countColumn = Some("Action_By"), valueColumn = None),
    LeaderboardReportDef("stolen_whips_summary", broadcastTypes = Seq("Valuable Drop"),
      itemNameFilter = Some("Abyssal whip"), groupByColumn = "Username",
      countColumn = Some("Username"), valueColumn = Some("Item_Value")),
    LeaderboardReportDef("menaces_111_summary", sourceTable = "chat",
      searchPhrases = Seq("111"), groupByColumn = "Username",
      countColumn = Some("Content"), valueColumn = None),
    LeaderboardReportDef("big_gzers_summary", sourceTable = "chat",
      searchPhrases = Seq("gz", "grats", "gratz"), groupByColumn = "Username",
      countColumn = Some("Content"), valueColumn = None),
    LeaderboardReportDef("cya_hick_crew_summary", sourceTable = "chat",
      searchPhrases = Seq("cya hick"), groupByColumn = "Username",
      countColumn = Some("Content"), valueColumn = None))

  val defaultDetailed: Seq[DetailedReportDef] = Seq(
    DetailedReportDef("valuable_drops_detail",
      Seq("Valuable Drop", "Clue Scroll Item", "Raid Loot")),
    DetailedReportDef("pvp_kills_detail", Seq("PvP Kill")),
    DetailedReportDef("pvp_deaths_detail", Seq("PvP Death")))

  val defaultTimeseries: Seq[TimeseriesReportDef] = Seq(
    TimeseriesReportDef("valuable_drops_timeseries",
      Seq("Valuable Drop", "Clue Scroll Item", "Raid Loot")),
    TimeseriesReportDef("pvp_kills_timeseries", Seq("PvP Kill")),
    TimeseriesReportDef("pvp_deaths_timeseries", Seq("PvP Death")))

  /** The price sub-DAG behind its 24 h stage gate with the tolerated-
    * failure policy (`run_all_etl.py:117-155`): fetch at most once per
    * `minInterval`; a skipped or failed fetch yields None and the pipeline
    * proceeds on constant overrides — only a successful fetch advances the
    * state entry. Pass the result straight to [[run]]'s `itemPrices`.
    */
  def gatedItemPrices(
      statePath: java.nio.file.Path,
      now: java.time.Instant,
      minInterval: java.time.Duration = java.time.Duration.ofHours(24))(
      fetch: => DataFrame): Option[DataFrame] =
    graft.gold.StageGate.runGated(
      statePath, "price_fetcher", minInterval, now, tolerateFailure = true)(fetch) match {
      case graft.gold.StageGate.Ran(df) => Some(df)
      case _ => None
    }

  /** The enriched silver frames every report reads, both cached and
    * already materialized, so concurrent readers (the table writes of
    * [[graft.gold.GoldSink.publish]]) share the loaded buffers instead of
    * racing to build them. The caller owns the caches:
    * [[Silver.unpersist]] releases them.
    */
  case class Silver(broadcasts: DataFrame, chat: DataFrame) {
    def unpersist(): Unit = { broadcasts.unpersist(); chat.unpersist() }
  }

  /** Silver step: raw frame (id, timestamp, raw_content) → parsed and
    * enriched broadcasts and chat. `itemPrices` feeds the as-of value
    * override (empty frame = constants only). Both caches are loaded
    * before this returns, one concurrent job each.
    */
  def silver(
      raw: DataFrame,
      config: Config = Config(),
      itemPrices: Option[DataFrame] = None): Silver = {
    val parsed = ParseEngine.parse(raw, config.parse)

    var broadcasts = parsed.broadcasts
    itemPrices.filter(_ => config.valueOverrides.nonEmpty).foreach { prices =>
      broadcasts = Enrichment.applyValueOverrides(broadcasts, config.valueOverrides, prices)
    }
    broadcasts = Enrichment.applyExclusionFilters(broadcasts, config.exclusionRanges)
    broadcasts = Enrichment.applyUsernameMapping(broadcasts, config.mappingRules)
    val chat = Enrichment.applyUsernameMapping(
      parsed.chat, config.mappingRules, Seq("Username"))

    // Every report reads these two frames — cache once, like the
    // reference's in-memory pandas frames, but spill-safe — and load both
    // now, so reports written concurrently read a materialized cache.
    val (b, c) = (broadcasts.cache(), chat.cache())
    Par.jobs(() => b.count(), () => c.count())
    Silver(b, c)
  }

  /** Reports step: silver → map of gold tables, each a lazy DAG over it. */
  def reports(
      silver: Silver,
      runTime: ZonedDateTime,
      config: Config = Config()): Map[String, DataFrame] = {
    val periods = Periods.compute(runTime, config.weekStartDay, config.customLookbackDays)
    val Silver(broadcasts, chat) = silver

    val leaderboardTables = config.leaderboards.map(rc =>
      rc.reportName -> Reports.leaderboard(chat, broadcasts, rc, periods)).toMap
    val detailedTables = config.detailed.flatMap(rc =>
      Reports.detailed(broadcasts, rc, periods)).toMap
    val timeseriesTables = config.timeseries.map(rc =>
      rc.reportName -> Reports.timeseries(broadcasts, rc)).toMap
    val clogTable = Map("collection_log_summary" ->
      CollectionLog.generate(broadcasts, config.clog, config.clogHist, periods))
    val pbTable = Map("personal_bests_summary" ->
      PersonalBests.generate(broadcasts, config.pb, config.pbHist))
    val recentTable = Map("recent_achievements" ->
      Reports.recentAchievements(broadcasts, config.recent))

    val metadata = metadataTables(broadcasts.sparkSession, periods, config)

    leaderboardTables ++ detailedTables ++ timeseriesTables ++
      clogTable ++ pbTable ++ recentTable ++ metadata
  }

  /** Full run: raw frame (id, timestamp, raw_content) → map of gold tables,
    * [[silver]] then [[reports]]. The silver caches stay alive for as long
    * as the returned tables may be read; a long-lived caller that is done
    * with them uses the two steps and unpersists the silver itself.
    */
  def run(
      raw: DataFrame,
      runTime: ZonedDateTime,
      config: Config = Config(),
      itemPrices: Option[DataFrame] = None): Map[String, DataFrame] =
    reports(silver(raw, config, itemPrices), runTime, config)

  /** `run_metadata` + `dashboard_config` kv tables
    * (`3_transform_data.py:56-99`); list/dict values JSON-encoded.
    */
  def metadataTables(
      spark: SparkSession,
      periods: Seq[Period],
      config: Config): Map[String, DataFrame] = {
    import spark.implicits._
    val byKey = periods.map(p => p.key -> p).toMap
    val runMeta = Seq(byKey("All_Time").end.toInstant.toString)
      .toDF("last_updated_utc")

    def j(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def jarr(xs: Seq[String]): String = xs.map(j).mkString("[", ", ", "]")
    val pbGroups = config.pbHist.records.map(_.group).distinct
    val pbItemOrders = pbGroups.map(g =>
      j(g) + ": " + jarr(config.pbHist.records.filter(_.group == g).map(_.task)))
      .mkString("{", ", ", "}")
    val clogGroups = config.clogHist.groups.map(_._1)
    val clogItemOrders = config.clogHist.groups.map { case (t, items) =>
      j(t) + ": " + jarr(items)
    }.mkString("{", ", ", "}")

    val kv = Seq(
      "custom_lookback_days" -> config.customLookbackDays.toString,
      "top_drops_limit" -> config.topDropsLimit.toString,
      "label_prev_week" -> byKey("Prev_Week").label,
      "label_prev_month" -> byKey("Prev_Month").label,
      "label_ytd" -> byKey("YTD").label,
      "label_custom_days" -> byKey("Custom_Days").label,
      "pb_other_group_name" -> config.pbHist.otherGroupName,
      "pb_group_order" -> jarr(pbGroups),
      "pb_item_orders" -> pbItemOrders,
      "clog_other_group_name" -> config.clogHist.otherGroupName,
      "clog_group_order" -> jarr(clogGroups),
      "clog_item_orders" -> clogItemOrders).toDF("key", "value")

    Map("run_metadata" -> runMeta, "dashboard_config" -> kv)
  }
}
