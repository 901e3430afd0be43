package graft.reports

import graft.ops.TimeSeries
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The config-driven report generators (silver → gold): leaderboards with
  * period pivots, detailed tables, timeseries with cumulative sums, recent
  * achievements. Collection log and personal bests live in their own files.
  *
  * The reference materializes one groupby per period and left-merges five
  * frames (`3_transform_data.py:275-288`); every generator here is a
  * SINGLE-PASS conditional aggregation — one shuffle per report regardless
  * of period count, the shape that survives a 100× scale-up.
  */
object Reports {

  private def inPeriod(p: Period): Column = {
    val ts = col("Timestamp")
    p.start.map(s => ts >= lit(s) && ts < lit(p.end)).getOrElse(ts < lit(p.end))
  }

  /** Leaderboard summary (`3_transform_data.py:225-299`): filters, then
    * Count_/Value_ columns for All_Time + each period, zeros never null.
    * pandas `count` counts NON-NULL values of the configured column —
    * reproduced with count(col), not count(*).
    */
  def leaderboard(
      chat: DataFrame,
      broadcasts: DataFrame,
      rc: LeaderboardReportDef,
      periods: Seq[Period]): DataFrame = {
    val source = if (rc.sourceTable == "chat") chat else broadcasts
    var df = source
    if (rc.broadcastTypes.nonEmpty)
      df = df.filter(col("Broadcast_Type").isin(rc.broadcastTypes.map(lit): _*))
    rc.itemNameFilter.foreach(n => df = df.filter(col("Item_Name") === n))
    if (rc.searchPhrases.nonEmpty)
      df = df.filter(col("Content").rlike("(?i)" + rc.searchPhrases.mkString("|")))

    val valueCol = rc.valueColumn.map(v => coalesce(col(v).cast("long"), lit(0L)))
    val aggs: Seq[Column] = periods.flatMap { p =>
      val suffix = if (p.key == "All_Time") "All_Time" else p.key
      val cnt = rc.countColumn.map(c =>
        count(when(inPeriod(p), col(c))).as(s"Count_$suffix"))
      val value = valueCol.map(v =>
        sum(when(inPeriod(p), v).otherwise(0L)).as(s"Value_$suffix"))
      cnt.toSeq ++ value.toSeq
    }
    require(aggs.nonEmpty, s"no aggregations configured for ${rc.reportName}")
    df.groupBy(col(rc.groupByColumn)).agg(aggs.head, aggs.tail: _*)
  }

  /** Detailed per-period tables (`3_transform_data.py:301-332`): silver
    * columns, type filter, Item_Value null→0, sorted Timestamp desc.
    * Returns one DataFrame per period keyed `prefix_period`.
    */
  def detailed(
      broadcasts: DataFrame,
      rc: DetailedReportDef,
      periods: Seq[Period]): Map[String, DataFrame] = {
    val base = broadcasts
      .filter(col("Broadcast_Type").isin(rc.broadcastTypes.map(lit): _*))
      .withColumn("Item_Value", coalesce(col("Item_Value"), lit(0L)))
    periods.map { p =>
      val name = s"${rc.reportNamePrefix}_${p.key.toLowerCase}"
      name -> base.filter(inPeriod(p)).orderBy(col("Timestamp").desc)
    }.toMap
  }

  /** Timeseries report (`3_transform_data.py:334-390`): per configured
    * frequency, tumbling buckets of Count (non-null Username) and
    * Total_Value, pandas-`resample` parity (empty buckets emitted so the
    * cumulative series is gap-free; weekly buckets are Mon–Sun labeled
    * with the SUNDAY, matching pandas 'W' = W-SUN right-labeled).
    *
    * Plan shape: ONE plan for every frequency. Each event is exploded into
    * one row per frequency, tagged with that frequency's constants
    * (`__f` = index, label, spine step, label shift) and its bucket; then
    * one bucket aggregate, one per-frequency min/max spine, one left join
    * and one running-sum window partitioned by `__f`. Each window
    * partition holds one row per bucket of one frequency (time range /
    * bucket width: ~14.6k rows for a decade of 6 h buckets), so it never
    * grows with the event count. The index keeps a repeated frequency a
    * series of its own, as a per-frequency union would.
    */
  def timeseries(
      broadcasts: DataFrame,
      rc: TimeseriesReportDef): DataFrame = {
    val tags = rc.frequencies.zipWithIndex.map { case (freq, i) =>
      val (bucketCol, spineStep, labelShiftDays) = freq match {
        case "6h" | "6H" => (TimeSeries.bucket(col("Timestamp"), 21600L), 21600L, 0)
        case "D" => (TimeSeries.bucket(col("Timestamp"), 86400L), 86400L, 0)
        case "W" => (date_trunc("week", col("Timestamp")), 604800L, 6)
        case other => sys.error(s"unsupported frequency $other")
      }
      struct(struct(lit(i).as("i"), lit(freq).as("freq"), lit(spineStep).as("step"),
        lit(labelShiftDays).as("shift")).as("f"), bucketCol.as("bucket"))
    }
    val bucketed = broadcasts
      .filter(col("Broadcast_Type").isin(rc.broadcastTypes.map(lit): _*))
      .select(explode(array(tags: _*)).as("__t"), col("Username"),
        coalesce(col("Item_Value"), lit(0L)).as("Item_Value"))
      .groupBy(col("__t.f").as("__f"), col("__t.bucket").as("__bucket"))
      .agg(count(col("Username")).as("Count"), sum("Item_Value").as("Total_Value"))

    val spine = bucketed
      .groupBy("__f")
      .agg(min("__bucket").as("lo"), max("__bucket").as("hi"))
      .select(col("__f"), explode(sequence(col("lo"), col("hi"),
        make_dt_interval(lit(0), lit(0), lit(0), col("__f.step")))).as("__bucket"))

    val running = Window.partitionBy("__f").orderBy("__bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val n = coalesce(col("Count"), lit(0L))
    val total = coalesce(col("Total_Value"), lit(0L))
    spine.join(bucketed, Seq("__f", "__bucket"), "left")
      .select(
        timestamp_seconds(unix_timestamp(col("__bucket")) + col("__f.shift") * 86400L).as("Date"),
        n.as("Count"), total.as("Total_Value"),
        sum(n).over(running).as("Cumulative_Count"),
        sum(total).over(running).as("Cumulative_Value"),
        col("__f.freq").as("Frequency"))
  }

  /** Recent achievements (`3_transform_data.py:735-763`): derived
    * Maxed Skill (99) / Maxed Combat categories unioned with the source,
    * top `limitPerType` per type by Timestamp desc (raw_log_id tiebreak
    * replaces pandas frame order for determinism).
    */
  def recentAchievements(
      broadcasts: DataFrame,
      rc: RecentAchievementsDef): DataFrame = {
    val source = broadcasts.filter(col("Broadcast_Type").isin(rc.sourceTypes.map(lit): _*))
    val levelups = source
      .filter(col("Broadcast_Type") === "Level Up")
      .withColumn("New_Level", coalesce(col("New_Level"), lit(0)))
    val maxed99 = levelups
      .filter(col("New_Level") === 99 && !(col("Skill") <=> "Combat"))
      .withColumn("Broadcast_Type", lit("Maxed Skill (99)"))
    val maxedCombat = levelups
      .filter(col("New_Level") === 126 && col("Skill") === "Combat")
      .withColumn("Broadcast_Type", lit("Maxed Combat"))

    val combined = source.unionByName(maxed99).unionByName(maxedCombat)
    val w = Window.partitionBy("Broadcast_Type")
      .orderBy(col("Timestamp").desc, col("raw_log_id").asc)
    combined
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= rc.limitPerType)
      .drop("__rn")
  }
}
