package graft.reports

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Collection-log summary (`/root/reference/src/3_transform_data.py:392-514`):
  * filter source types → item-name exclusion rules → keep-first dedup for
  * the configured type only → "72 x Onyx bolts" quantity parse → per-period
  * quantity sums over the item universe (DB ∪ historical ∪ grouped) →
  * historical initial counts folded into All_Time → group structure join
  * with ungrouped items routed to the catch-all group.
  *
  * Output: Group, Item_Name, {All_Time,YTD,Prev_Month,Prev_Week,
  * Custom_Days}_Count — items repeat across groups by design.
  *
  * Plan shape: at most two shuffles and no window. The keep-first dedup is
  * a `min(struct(Timestamp, raw_log_id))` aggregate per (Username,
  * Item_Name). The item universe rides in the one period aggregate: the
  * historical and grouped names are config-sized rows with a null
  * Timestamp (so no period counts them) and their historical count. The
  * group structure is one broadcast left join against that aggregate.
  */
object CollectionLog {

  /** `"72 x Onyx bolts"` → (name, qty); qty defaults to 1. Anchored like
    * the reference's `re.match` (`:434-453`).
    */
  def parseQuantity(itemName: Column): (Column, Column) = {
    val pat = """^([\d,]+)\s*x\s*(.+)"""
    val qtyStr = regexp_extract(trim(itemName), pat, 1)
    val name = when(qtyStr =!= "", trim(regexp_extract(trim(itemName), pat, 2)))
      .otherwise(trim(itemName))
    val qty = when(qtyStr =!= "", regexp_replace(qtyStr, ",", "").cast("long"))
      .otherwise(lit(1L))
    (name, qty)
  }

  def generate(
      broadcasts: DataFrame,
      clogDef: CollectionLogDef,
      hist: ClogHistoricalData,
      periods: Seq[Period]): DataFrame = {
    val spark = broadcasts.sparkSession
    import spark.implicits._

    var src = broadcasts.filter(col("Broadcast_Type").isin(clogDef.sourceTypes.map(lit): _*))

    // Flat exclusion list (the clog variant of the rules is a plain
    // blacklist — reference flattens the rule sets, `:409-422`).
    val flatExcludes = hist.excludeRules.flatten
    if (flatExcludes.nonEmpty)
      src = src.filter(!col("Item_Name").isin(flatExcludes.map(lit): _*))

    // Keep-first dedup per (Username, Item_Name) for the dedup type only.
    // pandas drop_duplicates keeps first in FRAME order ≈ parse order; the
    // deterministic form orders by (Timestamp, raw_log_id). Only the kept
    // row's Timestamp is read below, and the struct minimum puts a null
    // Timestamp first, as the ascending sort did.
    src = clogDef.deduplicationType match {
      case Some(t) =>
        src.filter(col("Broadcast_Type") === t)
          .groupBy("Username", "Item_Name")
          .agg(min(struct(col("Timestamp"), col("raw_log_id"))).as("__first"))
          .select(col("Item_Name"), col("__first.Timestamp").as("Timestamp"))
          .unionByName(src.filter(!(col("Broadcast_Type") <=> t))
            .select("Item_Name", "Timestamp"))
      case None => src
    }

    // Item universe = DB items ∪ historical keys ∪ grouped items. The
    // config-side names join the period aggregate as rows that no period
    // counts; only All_Time adds their historical count.
    val (nameCol, qtyCol) = parseQuantity(col("Item_Name"))
    val configNames = (hist.initialCounts.keys ++ hist.groups.flatMap(_._2)).toSeq.distinct
    val universe = configNames
      .map(n => (n, hist.initialCounts.getOrElse(n, 0L)))
      .toDF("Item_Name", "__hist")
      .select(col("Item_Name"), lit(0L).as("__qty"),
        lit(null).cast("timestamp").as("Timestamp"), col("__hist"))
    val rows = src
      .filter(col("Item_Name").isNotNull)
      .select(nameCol.as("Item_Name"), qtyCol.as("__qty"), col("Timestamp"),
        lit(0L).as("__hist"))
      .unionByName(universe)

    // Single-pass period pivot of quantity sums.
    val aggs = periods.map { p =>
      val in = p.start
        .map(s => col("Timestamp") >= lit(s) && col("Timestamp") < lit(p.end))
        .getOrElse(col("Timestamp") < lit(p.end))
      val q = when(in, col("__qty")).otherwise(0L)
      val name = s"${p.key}_Count"
      sum(if (name == "All_Time_Count") q + col("__hist") else q).as(name)
    }
    val counts = rows.groupBy("Item_Name").agg(aggs.head, aggs.tail: _*)

    // Group structure (an item may belong to several groups); an item in no
    // group is kept only with a positive All_Time_Count, in the catch-all.
    val grouped = hist.groups
      .flatMap { case (title, items) => items.map(i => (title, i)) }
      .toDF("Group", "Item_Name")
    counts
      .join(broadcast(grouped), Seq("Item_Name"), "left")
      .filter(col("Group").isNotNull || col("All_Time_Count") > 0)
      .select(Seq(coalesce(col("Group"), lit(hist.otherGroupName)).as("Group"),
        col("Item_Name")) ++ periods.map(p => col(s"${p.key}_Count")): _*)
  }
}
