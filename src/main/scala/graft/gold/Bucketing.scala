package graft.gold

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed (pre-shuffled) storage for co-located joins and shuffle-free
  * aggregation (SURVEY.md §4): writing a table bucketed by its join/group
  * key means every downstream `groupBy(key)` or equi-join with an
  * identically-bucketed table reads data ALREADY hash-distributed —
  * Catalyst drops the Exchange entirely (and the sort, when the bucket
  * sort matches). At 100 TB this converts the silver→gold joins from
  * full-table shuffles into per-bucket local work; the shuffle is paid
  * ONCE, at write time, instead of per query.
  *
  * What Spark requires for the exchange to disappear, encoded here so
  * callers can't half-configure it:
  *   - both sides bucketed on the JOIN KEY with compatible bucket
  *     counts (equal, or one a multiple of the other);
  *   - `spark.sql.sources.bucketing.enabled` (default true) and the
  *     table read through the catalog (`spark.table`), not raw parquet
  *     paths — plain parquet directories cannot carry bucket metadata;
  *   - one FILE per bucket (enforced by repartitioning on the key
  *     before the write) — otherwise Spark may disable bucketed reads
  *     or scan multiple files per bucket task.
  *
  * The plan-shape contract (no shuffle when both sides are bucketed; one
  * Exchange when only one side is) is asserted in BucketingSpec and
  * BucketedJoinSpec — the same "the physical plan is part of the
  * contract" stance as PlanShapeSpec.
  */
object Bucketing {

  /** Write `df` as a catalog table bucketed and sorted on `key`, one file
    * per bucket, replacing any previous version.
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.repartition(buckets, df(key))
      .write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Read a bucketed table through the catalog (bucket metadata only
    * flows this way — a raw parquet read loses it).
    */
  def read(spark: SparkSession, table: String): DataFrame = spark.table(table)

  /** True when the physical plan contains no SHUFFLE — the assertion that
    * a bucketed layout is actually being exploited (plans regress
    * silently when bucket columns/counts drift). A BroadcastExchange is
    * not a shuffle and doesn't count against the layout.
    */
  def isShuffleFree(df: DataFrame): Boolean =
    !df.queryExecution.executedPlan.toString.linesIterator.exists(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))
}
