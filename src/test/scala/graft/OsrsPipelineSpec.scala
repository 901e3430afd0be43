package graft

import java.sql.Timestamp
import java.time.{ZonedDateTime, ZoneOffset}

import graft.parse.ValueOverride
import graft.reports._
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end golden test: raw messages → parse → enrich (value override
  * via as-of price, exclusion window, username remap) → every report
  * family, with hand-computed expected values.
  */
class OsrsPipelineSpec extends AnyFunSuite with SparkTestBase {

  private def ts(s: String) = Timestamp.valueOf(s)

  private val raw: Seq[(Long, Timestamp, String)] = Seq(
    (1L, ts("2024-01-10 10:00:00"), "Hans received a drop: Abyssal whip (2,500,000 coins) from Abyssal demon."),
    (2L, ts("2024-01-11 10:00:00"), "Hansje received a drop: Rune platebody (39,000 coins)"),
    (3L, ts("2024-01-12 10:00:00"), "Hans received a clue item: Ranger boots (30,000,000 coins)"),
    (4L, ts("2024-01-16 10:00:00"), "Bob received a drop: Twisted bow (1,000,000,000 coins) from Chambers."),
    (5L, ts("2024-01-18 10:00:00"), "Bob received a new collection log item: Hellpuppy (1/1577)"),
    (6L, ts("2024-01-19 10:00:00"), "Bob received a new collection log item: Hellpuppy (2/1577)"),
    (7L, ts("2024-01-20 10:00:00"), "Hans received a new collection log item: 72 x Onyx bolts (500/1577)"),
    (8L, ts("2024-01-21 10:00:00"), "Hans has achieved a new Zulrah personal best: 0:54"),
    (9L, ts("2024-01-21 10:00:10"), "Bob has achieved a new Zulrah personal best: 0:54.4"),
    (10L, ts("2024-01-22 10:00:00"), "Carol has achieved a new Zulrah personal best: 1:10"),
    (11L, ts("2024-01-23 10:00:00"), "Cheater has achieved a new Corp personal best: 0:10"),
    (12L, ts("2024-01-25 10:00:00"), "Hans has reached Attack level 99."),
    (13L, ts("2024-01-26 10:00:00"), "Dave has left the clan."),
    (14L, ts("2024-01-26 11:00:00"), "<:Owner:1>**Hans**: gz"),
    (15L, ts("2024-01-27 10:00:00"), "Hans received a rare drop: Twisted bow"))

  private val config = OsrsPipeline.Config(
    mappingRules = Seq(MappingRule("Hans", Seq("Hansje"),
      Some(ts("2024-01-01 00:00:00")), Some(ts("2024-02-01 00:00:00")))),
    exclusionRanges = Seq(ExclusionRange(
      ts("2024-01-15 00:00:00"), ts("2024-01-17 00:00:00"), Seq("All Broadcasts"))),
    valueOverrides = Seq(ValueOverride("Twisted bow", Some(1500000000L), Some("20997"))),
    clogHist = ClogHistoricalData(
      groups = Seq("Pets" -> Seq("Hellpuppy")),
      initialCounts = Map("Hellpuppy" -> 2L)),
    pbHist = PbHistoricalData(
      records = Seq(
        HistoricalPbRecord("Bosses", "Zulrah", "0:00", Seq.empty, None),
        HistoricalPbRecord("Bosses", "Jad", "1:00", Seq("OldGuy"), None),
        HistoricalPbRecord("Bosses", "Sara Brain", "0:30", Seq("X"), None)),
      blacklist = Seq(
        PbBlacklistRule("Cheater", None, None),
        PbBlacklistRule("X", Some("Sara Brain"), None))))

  private lazy val gold: Map[String, DataFrame] = {
    import spark.implicits._
    val rawDf = raw.toDF("id", "timestamp", "raw_content")
    val prices = Seq(
      ("20997", ts("2024-01-25 00:00:00"), 1400000000L),
      ("20997", ts("2024-01-28 00:00:00"), 1300000000L))
      .toDF("item_id", "timestamp", "avg_high_price")
    OsrsPipeline.run(rawDf,
      ZonedDateTime.of(2024, 2, 5, 12, 0, 0, 0, ZoneOffset.UTC),
      config, Some(prices))
  }

  private def rowsBy(df: DataFrame, key: String): Map[String, Row] =
    df.collect().map(r => r.getString(r.fieldIndex(key)) -> r).toMap

  private def l(r: Row, c: String): Long = r.getLong(r.fieldIndex(c))

  test("leaderboard: remap folds Hansje into Hans, exclusion drops Bob, " +
      "as-of price fills the rare drop") {
    val lb = rowsBy(gold("valuable_drops_summary"), "Username")
    assert(lb.keySet == Set("Hans"))
    val hans = lb("Hans")
    assert(l(hans, "Count_All_Time") == 4)
    // 2,500,000 + 39,000 + 30,000,000 + as-of price 1,400,000,000
    assert(l(hans, "Value_All_Time") == 1432539000L)
    assert(l(hans, "Count_Prev_Week") == 0) // Jan 29 – Feb 5: nothing
    assert(l(hans, "Count_Custom_Days") == 1) // only the Jan 27 rare drop
    assert(l(hans, "Value_Custom_Days") == 1400000000L)
  }

  test("chat leaderboard counts content matches") {
    val gz = rowsBy(gold("big_gzers_summary"), "Username")
    assert(l(gz("Hans"), "Count_All_Time") == 1)
  }

  test("timeseries: gap-free daily buckets with cumulative, W labeled on Sunday") {
    val t = gold("valuable_drops_timeseries").collect()
    val daily = t.filter(_.getString(5) == "D").sortBy(_.getTimestamp(0).getTime)
    assert(daily.length == 18) // Jan 10 .. Jan 27 inclusive, zero-filled
    assert(daily.map(r => l(r, "Count")).sum == 4)
    assert(l(daily.last, "Cumulative_Count") == 4)
    assert(daily.count(r => l(r, "Count") == 0) == 14)

    val weekly = t.filter(_.getString(5) == "W").sortBy(_.getTimestamp(0).getTime)
    assert(weekly.map(_.getTimestamp(0).toString.substring(0, 10)).toSeq ==
      Seq("2024-01-14", "2024-01-21", "2024-01-28")) // Sunday labels
    assert(weekly.map(r => l(r, "Count")).toSeq == Seq(3, 0, 1))
    assert(weekly.map(r => l(r, "Cumulative_Count")).toSeq == Seq(3, 3, 4))
  }

  test("collection log: dedup keeps first Hellpuppy, quantity parse, " +
      "historical counts, ungrouped → catch-all") {
    val rows = gold("collection_log_summary").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val hellpuppy = rows(("Pets", "Hellpuppy"))
    assert(l(hellpuppy, "All_Time_Count") == 3) // 1 deduped drop + 2 historical
    assert(l(hellpuppy, "YTD_Count") == 1)
    assert(l(hellpuppy, "Custom_Days_Count") == 0) // Jan 18 < Jan 22
    val bolts = rows(("Miscellaneous Drops", "Onyx bolts"))
    assert(l(bolts, "All_Time_Count") == 72)
  }

  test("personal bests: similarity+window co-holders, 0:00 sentinel, " +
      "blacklists, missing-task backfill") {
    val pb = rowsBy(gold("personal_bests_summary"), "Task")
    val zulrah = pb("Zulrah")
    assert(zulrah.getString(zulrah.fieldIndex("Holder")) == "Bob, Hans")
    assert(zulrah.getString(zulrah.fieldIndex("Time")) == "0:54")
    assert(zulrah.getString(zulrah.fieldIndex("Date")) == "2024-01-21")
    assert(zulrah.getString(zulrah.fieldIndex("Group")) == "Bosses")

    val jad = pb("Jad") // historical only
    assert(jad.getString(jad.fieldIndex("Holder")) == "OldGuy")
    assert(jad.getString(jad.fieldIndex("Time")) == "1:00")
    assert(jad.isNullAt(jad.fieldIndex("Date")))

    assert(!pb.contains("Corp")) // global blacklist killed the only record

    val sara = pb("Sara Brain") // task blacklist → backfilled placeholder
    assert(sara.getString(sara.fieldIndex("Holder")) == "")
    assert(sara.getString(sara.fieldIndex("Time")) == "0:00")
  }

  test("recent achievements: derived Maxed Skill (99) category") {
    val recent = gold("recent_achievements").collect()
    val types = recent.map(r => r.getString(r.fieldIndex("Broadcast_Type"))).toSet
    assert(types == Set("Level Up", "Maxed Skill (99)"))
  }

  test("metadata: period labels") {
    val kv = gold("dashboard_config").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(kv("label_prev_month") == "January 2024")
    assert(kv("label_prev_week") == "Week 5")
    assert(kv("label_ytd") == "Year-to-Date (2024)")
    assert(gold("run_metadata").head.getString(0).startsWith("2024-02-05T12:00"))
  }

  test("silver returns both frames cached and already loaded") {
    import org.apache.spark.sql.classic
    import spark.implicits._
    // A prefix of the fixture: the plans differ from `gold`'s silver, so
    // neither cache entry is shared with (or released from) the other tests.
    val s = OsrsPipeline.silver(raw.take(12).toDF("id", "timestamp", "raw_content"), config)
    try {
      val cacheManager = spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
      for ((name, df) <- Seq("broadcasts" -> s.broadcasts, "chat" -> s.chat)) {
        val cached = cacheManager.lookupCachedData(df.asInstanceOf[classic.Dataset[_]])
        assert(cached.isDefined, s"$name is not cached")
        assert(cached.get.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded,
          s"$name is cached but not loaded")
      }
    } finally s.unpersist()
  }
}
