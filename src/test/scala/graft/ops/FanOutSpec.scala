package graft.ops

import java.nio.file.Files

import graft.SparkTestBase
import org.apache.spark.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[FanOut]] decides from the planned scan width, without running
  * anything: a multi-file input as `ScaleRehearsal inflate` writes it
  * (F copies of a one-row-group table, one file per copy) is left alone
  * once it plans at least `defaultParallelism` partitions, and a
  * one-row-group input is fanned out.
  */
class FanOutSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  /** Whether the plan Spark would run (the adaptive wrapper's initial
    * plan) round-robins its input.
    */
  private def roundRobin(df: DataFrame): Boolean =
    (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).collect {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }.exists(_.isInstanceOf[RoundRobinPartitioning])

  private lazy val dir = {
    val d = Files.createTempDirectory("fanout").toString
    (0L until 400L).map(i => (i, s"text $i")).toDF("id", "text")
      .coalesce(1).write.parquet(s"$d/one.parquet")
    val base = spark.read.parquet(s"$d/one.parquet")
    val copies = spark.sparkContext.defaultParallelism + 2
    (0 until copies)
      .map(c => base.select((col("id") + lit(c * 400L)).as("id"), col("text")))
      .reduce(_ unionAll _)
      .write.parquet(s"$d/inflated.parquet")
    d
  }

  /** Runs `f` with every file its own scan partition, as files of
    * production size are: these test files are a few KB, and Spark packs
    * files below its 4 MB open cost together.
    */
  private def filePerPartition[T](f: => T): T = {
    val key = "spark.sql.files.openCostInBytes"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, spark.conf.get("spark.sql.files.maxPartitionBytes"))
    try f finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("an inflated multi-file input plans wide enough: no round-robin, " +
    "and deciding runs no job")(filePerPartition {
    val wide = spark.read.parquet(s"$dir/inflated.parquet")
      .select(col("id"), upper(col("text")).as("t"))
    val (out, jobs) = JobCount(spark.sparkContext)(FanOut(wide))
    assert(jobs == 0)
    assert(!roundRobin(out), out.queryExecution.executedPlan.toString)
    assert(out.count() == 400L * (spark.sparkContext.defaultParallelism + 2))
  })

  test("a one-row-group input still fans out")(filePerPartition {
    val narrow = spark.read.parquet(s"$dir/one.parquet")
      .select(col("id"), upper(col("text")).as("t"))
    val out = FanOut(narrow)
    assert(roundRobin(out), out.queryExecution.executedPlan.toString)
    assert(out.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
  })

  test("an input with an exchange of its own fans out without running it") {
    val agg = spark.read.parquet(s"$dir/one.parquet")
      .groupBy((col("id") % 7).as("g")).count()
    val (out, jobs) = JobCount(spark.sparkContext)(FanOut(agg))
    assert(jobs == 0)
    assert(roundRobin(out), out.queryExecution.executedPlan.toString)
  }
}
