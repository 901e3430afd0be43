package graft.reports

import java.sql.Timestamp

import graft.SparkTestBase
import graft.ops.TimeSeries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Reports.timeseries]] (one plan for every frequency) against the
  * per-frequency formulation it replaced: one bucket aggregate, spine,
  * left join and year-partitioned cumulative sum per frequency, stacked
  * with `unionByName`. Same rows, same schema, on multi-year input with
  * empty buckets, null Item_Value and null Username.
  */
class TimeseriesEquivalenceSpec extends AnyFunSuite with SparkTestBase {

  private def reference(broadcasts: DataFrame, rc: TimeseriesReportDef): DataFrame = {
    val source = broadcasts
      .filter(col("Broadcast_Type").isin(rc.broadcastTypes.map(lit): _*))
      .withColumn("Item_Value", coalesce(col("Item_Value"), lit(0L)))
    rc.frequencies.map { freq =>
      val (bucketCol, spineStep, labelShiftDays) = freq match {
        case "6h" | "6H" => (TimeSeries.bucket(col("Timestamp"), 21600L), 21600L, 0)
        case "D" => (TimeSeries.bucket(col("Timestamp"), 86400L), 86400L, 0)
        case "W" => (date_trunc("week", col("Timestamp")), 604800L, 6)
      }
      val bucketed = source
        .select(bucketCol.as("__bucket"), col("Username"), col("Item_Value"))
        .groupBy("__bucket")
        .agg(count(col("Username")).as("Count"), sum("Item_Value").as("Total_Value"))
      val full = TimeSeries.spine(bucketed, "__bucket", spineStep)
        .join(bucketed, Seq("__bucket"), "left")
        .select(col("__bucket"),
          coalesce(col("Count"), lit(0L)).as("Count"),
          coalesce(col("Total_Value"), lit(0L)).as("Total_Value"))
      TimeSeries.gapFreeCumulative(full, "__bucket",
        Seq("Count" -> "Cumulative_Count", "Total_Value" -> "Cumulative_Value"))
        .withColumn("Date", timestamp_seconds(
          unix_timestamp(col("__bucket")) + labelShiftDays * 86400L))
        .withColumn("Frequency", lit(freq))
        .select("Date", "Count", "Total_Value",
          "Cumulative_Count", "Cumulative_Value", "Frequency")
    }.reduce(_.unionByName(_))
  }

  /** Three years of sparse events: long empty stretches (so every spine
    * fills gaps, daily and weekly included), a year boundary inside a
    * week, null values, null usernames and a filtered-out type.
    */
  private lazy val events: DataFrame = {
    import spark.implicits._
    val base = Timestamp.valueOf("2022-03-01 00:00:00").getTime
    val rows = (0 until 400).map { i =>
      // Quadratic stride (gaps widen from minutes to days) plus a 30-day
      // hole in the middle, so every frequency has empty buckets.
      val minutes = i.toLong * i * 10L + i * 7919L % 97L + (if (i >= 200) 30L * 1440L else 0L)
      val ts = new Timestamp(base + minutes * 60000L)
      val tpe = if (i % 9 == 0) "Pet" else if (i % 2 == 0) "Valuable Drop" else "Raid Loot"
      val user = if (i % 17 == 0) null else s"u${i % 5}"
      val value = if (i % 6 == 0) None else Some(1000L * (i % 13) + i)
      (ts, tpe, user, value)
    } ++ Seq(
      (Timestamp.valueOf("2022-12-31 23:00:00"), "Raid Loot", "u1", Some(5L)),
      (Timestamp.valueOf("2023-01-01 01:00:00"), "Raid Loot", "u2", None))
    rows.toDF("Timestamp", "Broadcast_Type", "Username", "Item_Value")
  }

  private def canon(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  for (freqs <- Seq(Seq("6h", "D", "W"), Seq("D"))) {
    test(s"one plan equals the per-frequency union: ${freqs.mkString(",")}") {
      val rc = TimeseriesReportDef("t", Seq("Valuable Drop", "Raid Loot"), freqs)
      val got = Reports.timeseries(events, rc)
      val want = reference(events, rc)
      assert(got.schema.map(f => (f.name, f.dataType)) == want.schema.map(f => (f.name, f.dataType)))
      assert(canon(got) == canon(want))
      // The fixture spans three years with gaps in every frequency.
      val years = got.select(year(col("Date"))).distinct().count()
      assert(years >= 3, s"fixture covers $years years")
      assert(got.filter(col("Count") === 0).select("Frequency").distinct().count() == freqs.size)
      assert(got.filter(col("Total_Value") === 0 && col("Count") > 0).count() > 0,
        "null Item_Value rows reach a non-empty bucket")
    }
  }

  test("weekly labels fall on Sunday") {
    val rc = TimeseriesReportDef("t", Seq("Valuable Drop", "Raid Loot"), Seq("6h", "D", "W"))
    val weekly = Reports.timeseries(events, rc).filter(col("Frequency") === "W")
    assert(weekly.count() > 100)
    // Spark's dayofweek: 1 = Sunday.
    assert(weekly.filter(dayofweek(col("Date")) =!= 1).count() == 0)
  }

  test("no matching events gives an empty report") {
    val rc = TimeseriesReportDef("t", Seq("No Such Type"))
    assert(Reports.timeseries(events, rc).count() == 0)
  }
}
