package graft.reports

import java.sql.Timestamp
import java.time.{ZonedDateTime, ZoneOffset}

import graft.SparkTestBase
import graft.ops.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[CollectionLog.generate]] (struct-min dedup, universe folded into the
  * period aggregate, one broadcast group join) against the formulation it
  * replaced: row_number keep-first, a distinct universe with two joins, and
  * grouped ∪ ungrouped-anti-join joined back to the counts.
  */
class CollectionLogEquivalenceSpec extends AnyFunSuite with SparkTestBase {

  private def reference(
      broadcasts: DataFrame,
      clogDef: CollectionLogDef,
      hist: ClogHistoricalData,
      periods: Seq[Period]): DataFrame = {
    val spark = broadcasts.sparkSession
    import spark.implicits._
    var src = broadcasts.filter(col("Broadcast_Type").isin(clogDef.sourceTypes.map(lit): _*))
    val flatExcludes = hist.excludeRules.flatten
    if (flatExcludes.nonEmpty)
      src = src.filter(!col("Item_Name").isin(flatExcludes.map(lit): _*))
    src = clogDef.deduplicationType match {
      case Some(t) =>
        Dedup.keepFirst(src.filter(col("Broadcast_Type") === t), Seq("Username", "Item_Name"),
          Seq(col("Timestamp").asc, col("raw_log_id").asc))
          .unionByName(src.filter(!(col("Broadcast_Type") <=> t)))
      case None => src
    }
    val (nameCol, qtyCol) = CollectionLog.parseQuantity(col("Item_Name"))
    val parsed = src
      .filter(col("Item_Name").isNotNull)
      .select(nameCol.as("Item_Name"), qtyCol.as("__qty"), col("Timestamp"))
    val aggs = periods.map { p =>
      val in = p.start
        .map(s => col("Timestamp") >= lit(s) && col("Timestamp") < lit(p.end))
        .getOrElse(col("Timestamp") < lit(p.end))
      sum(when(in, col("__qty")).otherwise(0L)).as(s"${p.key}_Count")
    }
    val dbCounts = parsed.groupBy("Item_Name").agg(aggs.head, aggs.tail: _*)
    val histCounts = hist.initialCounts.toSeq.toDF("Item_Name", "__hist")
    val universe = dbCounts.select("Item_Name")
      .unionByName(histCounts.select("Item_Name")).distinct()
    val countCols = periods.map(p => s"${p.key}_Count")
    val counts = universe
      .join(dbCounts, Seq("Item_Name"), "left")
      .join(broadcast(histCounts), Seq("Item_Name"), "left")
      .select(Seq(col("Item_Name")) ++ countCols.map {
        case "All_Time_Count" =>
          (coalesce(col("All_Time_Count"), lit(0L)) +
            coalesce(col("__hist"), lit(0L))).as("All_Time_Count")
        case c => coalesce(col(c), lit(0L)).as(c)
      }: _*)
    val grouped = hist.groups
      .flatMap { case (title, items) => items.map(i => (title, i)) }
      .toDF("Group", "Item_Name")
    val groupedItems = hist.groups.flatMap(_._2).distinct.toDF("Item_Name")
    val ungrouped = counts
      .filter(col("All_Time_Count") > 0)
      .join(groupedItems, Seq("Item_Name"), "left_anti")
      .select(lit(hist.otherGroupName).as("Group"), col("Item_Name"))
    grouped.unionByName(ungrouped)
      .join(counts, Seq("Item_Name"), "left")
      .select(Seq(col("Group"), col("Item_Name")) ++
        countCols.map(c => coalesce(col(c), lit(0L)).as(c)): _*)
  }

  private val runTime = ZonedDateTime.of(2024, 2, 5, 12, 0, 0, 0, ZoneOffset.UTC)
  private val periods = Periods.compute(runTime)
  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val broadcasts: DataFrame = {
    import spark.implicits._
    Seq(
      // Dedup type: the second Hellpuppy of each user is a duplicate.
      (1L, ts("2023-06-01 10:00:00"), "Collection Log", "Bob", "Hellpuppy"),
      (2L, ts("2024-01-30 10:00:00"), "Collection Log", "Bob", "Hellpuppy"),
      (3L, ts("2024-01-31 10:00:00"), "Collection Log", "Hans", "Hellpuppy"),
      // Tie on Timestamp: raw_log_id settles which row is first.
      (5L, ts("2024-01-20 10:00:00"), "Collection Log", "Hans", "72 x Onyx bolts"),
      (4L, ts("2024-01-20 10:00:00"), "Collection Log", "Hans", "72 x Onyx bolts"),
      (6L, ts("2024-01-20 11:00:00"), "Collection Log", "Carol", "72 x Onyx bolts"),
      // A null Timestamp sorts first in the dedup: the kept row counts in
      // no period.
      (7L, null, "Collection Log", "Dave", "Dragon pickaxe"),
      (8L, ts("2024-02-01 10:00:00"), "Collection Log", "Dave", "Dragon pickaxe"),
      // Other source types are never deduplicated.
      (9L, ts("2024-01-25 10:00:00"), "Valuable Drop", "Bob", "1,234 x Coins"),
      (10L, ts("2024-01-25 10:00:00"), "Valuable Drop", "Bob", "1,234 x Coins"),
      (11L, ts("2024-02-03 10:00:00"), "Raid Loot", "Eve", "Twisted bow"),
      (12L, ts("2024-02-03 10:00:00"), "Raid Loot", "Eve", "Twisted bow"),
      // Flat excludes.
      (13L, ts("2024-01-25 10:00:00"), "Valuable Drop", "Bob", "Bones"),
      (14L, ts("2024-01-26 10:00:00"), "Collection Log", "Bob", "Ashes"),
      // Ungrouped, but every drop is after the run: All_Time_Count is 0.
      (15L, ts("2024-03-01 10:00:00"), "Valuable Drop", "Bob", "Future drop"),
      // Not a source type; and a null item name.
      (16L, ts("2024-01-25 10:00:00"), "Pet", "Bob", "Tangleroot"),
      (17L, ts("2024-01-25 10:00:00"), "Valuable Drop", "Bob", null))
      .toDF("raw_log_id", "Timestamp", "Broadcast_Type", "Username", "Item_Name")
  }

  private val clogDef = CollectionLogDef(
    Seq("Collection Log", "Valuable Drop", "Raid Loot"), Some("Collection Log"))

  private val hist = ClogHistoricalData(
    groups = Seq(
      "Pets" -> Seq("Hellpuppy", "Tangleroot"), // Tangleroot: grouped, no drops
      "Raids" -> Seq("Twisted bow", "Dragon pickaxe"),
      "Wilderness" -> Seq("Dragon pickaxe")), // listed in two groups
    initialCounts = Map(
      "Hellpuppy" -> 2L,
      "Abyssal whip" -> 4L, // historical only, ungrouped
      "Zero count" -> 0L), // historical only, All_Time_Count 0
    excludeRules = Seq(Seq("Bones"), Seq("Ashes")),
    otherGroupName = "Misc")

  private def canon(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def assertSame(d: CollectionLogDef, h: ClogHistoricalData): Seq[String] = {
    val got = CollectionLog.generate(broadcasts, d, h, periods)
    val want = reference(broadcasts, d, h, periods)
    assert(got.columns.toSeq == want.columns.toSeq)
    assert(got.schema.map(_.dataType) == want.schema.map(_.dataType))
    val g = canon(got)
    assert(g == canon(want))
    g
  }

  test("equals the reference formulation on every fixture case") {
    val rows = assertSame(clogDef, hist)
    def row(group: String, item: String) = rows.filter(_.startsWith(s"[$group,$item,"))
    assert(row("Pets", "Hellpuppy") == Seq("[Pets,Hellpuppy,4,1,1,1,1]"))
    assert(row("Pets", "Tangleroot") == Seq("[Pets,Tangleroot,0,0,0,0,0]"))
    assert(row("Raids", "Dragon pickaxe") == Seq("[Raids,Dragon pickaxe,0,0,0,0,0]"))
    assert(row("Wilderness", "Dragon pickaxe") == Seq("[Wilderness,Dragon pickaxe,0,0,0,0,0]"))
    assert(row("Raids", "Twisted bow") == Seq("[Raids,Twisted bow,2,2,0,2,2]"))
    assert(row("Misc", "Onyx bolts") == Seq("[Misc,Onyx bolts,144,144,144,0,0]"))
    assert(row("Misc", "Coins") == Seq("[Misc,Coins,2468,2468,2468,0,2468]"))
    assert(row("Misc", "Abyssal whip") == Seq("[Misc,Abyssal whip,4,0,0,0,0]"))
    assert(!rows.exists(r => r.contains(",Future drop,") || r.contains(",Zero count,")))
    assert(!rows.exists(r => r.contains(",Bones,") || r.contains(",Ashes,")))
  }

  test("no dedup type, and no historical data") {
    assertSame(clogDef.copy(deduplicationType = None), hist)
    assert(assertSame(clogDef, ClogHistoricalData(Seq.empty)).forall(_.startsWith("[Miscellaneous Drops,")))
  }
}
