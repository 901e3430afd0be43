package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution
import org.apache.spark.sql.execution.{FileSourceScanExec, LeafExecNode, SparkPlan,
  UnionExec}

/** Round-robin fan-out for a frame about to enter CPU-heavy NARROW work
  * (guide §2.5 "input skew": one huge unsplittable input → repartition
  * right after the read).
  *
  * The driver fixtures ship one parquet row group per table, so a scan
  * plans a single populated partition and everything narrow above it —
  * shingle explodes, O(|block|²) pair scoring, long-regex extraction —
  * runs on ONE core regardless of the session's width. One exchange of
  * the input unlocks every core.
  *
  * This is deliberately an OPERATOR-SITE decision, not a load-time one:
  * a blanket rebalance in Tables.load was measured to double the suite
  * (a pinned repartition defeats AQE partition coalescing, so every
  * cheap query paid a 32-task micro-stage per table reference). Callers
  * assert their downstream per-row work dominates one exchange of the
  * input — true for the sites below at ANY scale, because the same
  * ratio (work per row ≫ shuffle cost per row) holds when both grow.
  *
  * Identity when the input already plans >= defaultParallelism
  * partitions (the production case — many files / row groups), so no
  * exchange is added at scale. The width is read off the physical plan
  * before execution (`queryExecution.sparkPlan`): the leaf scans' planned
  * splits through narrow operators. Nothing runs — building the frame's
  * RDD instead would execute its exchange stages under adaptive
  * execution. An input that needs an exchange of its own, or whose
  * leaves cannot be sized, fans out.
  */
object FanOut {

  def apply(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val width = scala.util.Try(planned(df.queryExecution.sparkPlan)).getOrElse(0)
    if (width < target) df.repartition(target) else df
  }

  /** Tasks `plan` runs with: its leaves' partitions through operators
    * that need no redistribution; 0 past any other operator.
    */
  private def planned(plan: SparkPlan): Int = plan match {
    case s: FileSourceScanExec => s.inputRDD.getNumPartitions
    case l: LeafExecNode => l.execute().getNumPartitions
    case u: UnionExec => u.children.map(planned).sum
    case p if p.children.size == 1 &&
        p.requiredChildDistribution.forall(_ == UnspecifiedDistribution) =>
      planned(p.children.head)
    case _ => 0
  }
}
