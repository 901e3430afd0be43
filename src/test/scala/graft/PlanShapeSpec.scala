package graft

import graft.graph.PageRank
import graft.text.{HashedLinear, InvertedIndex}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape audits for the round's new operators: the physical plan is
  * part of the contract (a correct result through the wrong plan fails at
  * 100 TB), so the shapes argued in the Scaladoc are asserted here.
  */
class PlanShapeSpec extends AnyFunSuite with SparkTestBase {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Physical operators of the plan Spark would run (the adaptive
    * wrapper's initial plan, before any stage executes).
    */
  private def operators(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] =
    (df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).collect { case p => p }

  private def countOf[T: scala.reflect.ClassTag](df: org.apache.spark.sql.DataFrame): Int =
    operators(df).count(implicitly[scala.reflect.ClassTag[T]].runtimeClass.isInstance)

  test("HashedLinear: weight join broadcasts; no sort-merge anywhere") {
    import spark.implicits._
    val docs = (0L until 100L).map(i => (i, s"a b c d$i")).toDF("id", "text")
    val plan = planOf(HashedLinear.score(docs, "id", "text",
      HashedLinear.syntheticWeights(spark, 4096), 4096))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("PageRank iteration: partial aggregation on the contribution sum") {
    import spark.implicits._
    val edges = (0L until 64L).map(i => (i, (i * 7 + 1) % 64)).toDF("s", "d")
    val plan = planOf(PageRank.ranks(edges, "s", "d", 1))
    // The dst-keyed contribution sum must be map-side combined: a
    // partial_sum before the exchange, final after.
    assert(plan.contains("partial_sum"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("InvertedIndex: both aggregations partial; posting sort is per-row") {
    import spark.implicits._
    val docs = (0L until 100L).map(i => (i, s"x y z${i % 5}")).toDF("id", "text")
    val plan = planOf(InvertedIndex.build(docs, "id", "text"))
    assert(plan.contains("partial_count"), plan)
    // No global Sort node: ordering lives inside sort_array per row.
    assert(!plan.split('\n').exists(l => l.trim.startsWith("Sort ")), plan)
  }

  test("media sniff is a single map-only projection over the scan") {
    import spark.implicits._
    val df = Seq(Tuple1("RIFFxxxxWAVE".getBytes("US-ASCII"))).toDF("b")
      .select(graft.multimodal.Multimodal.sniffMime(col("b")).as("mime"))
    val plan = planOf(df)
    assert(!plan.contains("Exchange"), plan)
  }

  test("k-means assignment is map-only: literal centroids, no join, no shuffle") {
    import spark.implicits._
    val df = (0L until 40L).map(i =>
      (i, Array.tabulate(4)(d => (i % 7 + d).toFloat))).toDF("vec_id", "embedding")
    val model = graft.ml.KMeans.fit(df, "vec_id", "embedding", 3, 1)
    val plan = planOf(graft.ml.KMeans.assign(df, "vec_id", "embedding", model))
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Join"), plan)
  }

  /** Expression nodes of the optimized plan, subqueries included — built
    * with `executePlan`, never run.
    */
  private def expressionNodes(df: org.apache.spark.sql.DataFrame): Int =
    spark.sessionState.executePlan(df.queryExecution.logical).optimizedPlan
      .collectWithSubqueries { case p =>
        p.expressions.map(_.collect { case e => e }.size).sum
      }.sum

  test("codebook kernel: k-means and PQ plans do not grow with k") {
    import spark.implicits._
    import graft.ml.KMeans.KMeansModel
    val dims = 8
    val df = (0L until 32L).map(i =>
      (i, Array.tabulate(dims)(d => ((i * 7 + d) % 5).toDouble)))
      .toDF("vec_id", "embedding")
    val cent = df.filter(col("vec_id") % 8 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))
    def book(k: Int, width: Int, s: Int) = KMeansModel(1000L,
      Array.tabulate(k)(j => Array.tabulate(width)(d => (j * 31L + d * 7 + s) % 997)))
    def nodes(k: Int): Seq[Int] = {
      val pq = graft.ml.Pq.PqModel(dims, Array.tabulate(2)(s => book(k, dims / 2, s)))
      val path = java.nio.file.Files.createTempDirectory("pq_plan").toString
      graft.ops.PqIndex.write(spark, path, df, "vec_id", "embedding", cent, pq)
      Seq(expressionNodes(graft.ml.Pq.encode(df, "vec_id", "embedding", pq)),
        expressionNodes(graft.ml.KMeans.assign(df, "vec_id", "embedding",
          book(k, dims, 0))),
        expressionNodes(graft.ops.PqIndex.topK(spark, path,
          df.filter(col("vec_id") < 4), "vec_id", "embedding", k = 3,
          candidateK = 6)))
    }
    val (small, large) = (nodes(16), nodes(256))
    assert(small == large, s"k = 16: $small, k = 256: $large")
  }

  test("PQ ADC search: probe side broadcast, corpus never carries vectors") {
    import spark.implicits._
    val df = (0L until 40L).map(i =>
      (i, Array.tabulate(4)(d => (i % 7 + d).toFloat))).toDF("vec_id", "embedding")
    val model = graft.ml.Pq.fit(df, "vec_id", "embedding", 4, 2, 2, 1)
    val codes = graft.ml.Pq.encode(df, "vec_id", "embedding", model)
    val plan = planOf(graft.ml.Pq.adcTopK(
      df.filter(col("vec_id") < 2), codes, "vec_id", "embedding", model, 3))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("weighted sampling is a TakeOrderedAndProject, not a global sort") {
    import spark.implicits._
    val df = (0L until 200L).map(i => (i, 1.0 + i % 5)).toDF("id", "w")
    val plan = planOf(graft.ops.Sharding.weightedSample(df, "id", "w", 10))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("label propagation round: votes and argmax both partially aggregated") {
    import spark.implicits._
    val edges = (0L until 60L).map(i => (i, (i * 3 + 1) % 20)).toDF("s", "d")
    val plan = planOf(
      graft.graph.LabelPropagation.communities(edges, "s", "d", 1))
    assert(plan.contains("partial_count") || plan.contains("partial_max_by"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("group trend: one aggregation, five sufficient statistics, no window") {
    import spark.implicits._
    val df = (0 until 100).map(i => (s"g${i % 3}", i.toLong, i * 0.5))
      .toDF("g", "x", "y")
    val plan = planOf(graft.ops.Regression.groupTrend(df, Seq("g"), "x", "y"))
    assert(plan.contains("partial_"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("DSIR scoring: model joins broadcast; counts partially aggregated") {
    import spark.implicits._
    val docs = (0L until 80L).map(i => (i, s"w${i % 9} w${(i + 1) % 9} end"))
      .toDF("id", "text")
    val plan = planOf(graft.text.Dsir.importanceWeights(
      docs, "id", "text", isTarget = col("id") % 4 === 0, buckets = 64))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("partial_count") || plan.contains("partial_sum"), plan)
    assert(!plan.contains("CartesianProduct") ||
      plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("sequence packing: no single-partition global window") {
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, i % 7 + 1)).toDF("doc_id", "n")
    val plan = planOf(graft.ops.SeqPack.concatChunk(df, "doc_id", col("n"), 16))
    // The cumsum window must be keyed on the range tile, never empty-
    // partitioned (which would serialize the table through one task).
    assert(!plan.contains("Window [") || plan.contains("__pid"), plan)
    assert(plan.contains("partitionBy") || plan.contains("__pid"), plan)
    // Base offsets ride a broadcast, not a shuffle join.
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("random projection is map-only: literal matrix, no join, no shuffle") {
    import spark.implicits._
    val df = (0L until 50L).map(i =>
      (i, Array.tabulate(8)(d => (i + d).toFloat))).toDF("vec_id", "embedding")
    val plan = planOf(df.select(col("vec_id"),
      graft.ops.RandomProjection.project(col("embedding"), 4, 8)))
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("duplicated-span removal: hash count partial; doc windows keyed; no cartesian") {
    import spark.implicits._
    val docs = (0L until 60L).map(i =>
      (i, (0 until 20).map(t => s"w${(i * 3 + t) % 11}").mkString(" ")))
      .toDF("doc_id", "text")
    val plan = planOf(graft.text.DupSpans.removeDuplicatedSpans(
      docs, "doc_id", "text", L = 4))
    // Duplicate detection must combine map-side (a window repeated 1000x
    // in a partition ships once).
    assert(plan.contains("partial_count"), plan)
    // Islands windows are doc-keyed, never empty-partitioned.
    assert(!plan.split('\n').exists(l =>
      l.contains("Window") && l.contains("partitionBy=[]")), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("candidate-blocked bitmap intersection never builds the all-pairs join") {
    import spark.implicits._
    val m = (for (k <- 'a' to 'j'; i <- 0L until 30L)
      yield (k.toString, i)).toDF("k", "ord")
    val bm = graft.ops.BitmapIndex.build(m, "k", "ord")
    val cand = Seq(("a", "b"), ("c", "d")).toDF("key_a", "key_b")
    val plan = planOf(graft.ops.BitmapIndex.intersectCounts(bm, cand))
    // Pair generation is candidate-keyed equi-joins; the word-only join
    // of the all-pairs form must be absent.
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("partial_sum"), plan)
  }

  test("exact AUC: range-tiled prefix sum, no single-partition sort/window") {
    import spark.implicits._
    val df = (0 until 300).map(i => ((i % 9).toLong, i % 2 == 0)).toDF("s", "y")
    val plan = planOf(graft.ml.Eval.aucExact(df, col("s"), col("y")))
    val lines = plan.split('\n').map(_.trim)
    // Raw rows reduce via a partial agg before any Sort/Window — the
    // rank statistic only ever sees ≤#distinct-scores rows.
    assert(plan.contains("partial_sum"), plan)
    val windowLine = lines.indexWhere(_.contains("Window"))
    val aggLines = lines.zipWithIndex.filter(_._1.contains("partial_sum")).map(_._2)
    assert(windowLine >= 0 && aggLines.nonEmpty, plan)
    assert(aggLines.max > windowLine, plan)
    // The cumulative window is TILE-LOCAL (partitioned by the
    // quantile-literal tile id), so a continuous score (|distinct| ≈ n)
    // never lands in one giant sorted partition: every Window in the
    // plan carries __pid in its partition spec, and no exchange below
    // the window is SinglePartition (the only SinglePartition exchange
    // allowed is the final 1-row global aggregate at the very top).
    lines.filter(_.contains("Window")).foreach { w =>
      assert(w.contains("__pid"), s"global window found:\n$w\n$plan")
    }
    val winIdx = lines.indexWhere(_.contains("Window"))
    lines.zipWithIndex.drop(winIdx).foreach { case (l, i) =>
      if (l.contains("Exchange SinglePartition"))
        fail(s"SinglePartition exchange below the window (line $i):\n$plan")
    }
    // And the tiling exchange is keyed on the tile id.
    assert(plan.contains("hashpartitioning(__pid"), plan)
  }

  test("ROC points: descending range tiles, every window tile-keyed") {
    import spark.implicits._
    val df = (0 until 300).map(i => (i + 1.0 / (i + 2.0), i % 2 == 0))
      .toDF("s", "y") // continuous: |distinct| = n
    val plan = planOf(graft.ml.Eval.rocPoints(df, col("s"), col("y")))
    val lines = plan.split('\n').map(_.trim)
    assert(plan.contains("partial_sum"), plan)
    assert(plan.contains("hashpartitioning(__pid"), plan)
    // Both cumulative legs (tp, fp) ride tile-local windows; no window
    // may run unpartitioned, and nothing below a window may exchange to
    // a single partition (rocPoints has per-threshold output — there is
    // no final 1-row aggregate to excuse one).
    val winIdx = lines.indexWhere(_.contains("Window"))
    assert(winIdx >= 0, plan)
    lines.filter(_.contains("Window")).foreach { w =>
      assert(w.contains("__pid"), s"global window found:\n$w\n$plan")
    }
    // The ONLY SinglePartition exchange allowed is the one feeding the
    // 1-row totals aggregate (keys=[] over the already-reduced distinct-
    // score frame) — bounded by construction. Anything else would mean a
    // leg of the curve computation funneled into one partition.
    lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition"))
      .foreach { case (_, i) =>
        val ctx = lines.slice(math.max(0, i - 2), math.min(lines.length, i + 3))
        assert(ctx.exists(_.contains("HashAggregate(keys=[]")),
          s"SinglePartition exchange outside the totals aggregate (line $i):\n$plan")
      }
  }

  test("NN-Descent: final ranking windows node-keyed, never a cartesian") {
    import spark.implicits._
    val corpus = (0L until 60L)
      .map(i => (i, Array.tabulate(8)(d => (i % 5 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val out = graft.ops.NnDescent.knnGraph(corpus, "vec_id", "embedding",
      k = 3, rounds = 1)
    val plan = planOf(out)
    val lines = plan.split('\n').map(_.trim)
    // The per-node top-k rides a node-keyed window — a kNN graph must
    // never sort the corpus globally — and nothing in the operator is
    // ever an unbucketed pair enumeration.
    lines.filter(_.contains("Window")).foreach { w =>
      assert(w.contains("id#"), s"unkeyed window:\n$w\n$plan")
    }
    assert(!plan.contains("Exchange SinglePartition"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("kaplanMeier: both cumulative legs tile-keyed, no single-partition window") {
    import spark.implicits._
    // Seconds-precision durations: |distinct| = n, the shape that used to
    // funnel both cumulatives into one sorted partition.
    val df = (0 until 300).map(i => (i.toLong * 13 + i % 3, i % 4 != 0))
      .toDF("dur", "obs")
    val plan = planOf(graft.ops.Experiment.kaplanMeier(df, col("dur"), col("obs")))
    val lines = plan.split('\n').map(_.trim)
    // Subjects collapse to distinct durations by a map-side-combined agg.
    assert(plan.contains("partial_sum"), plan)
    // Risk set (descending) and survival (ascending) both ride tile-local
    // windows over the quantile-literal tile id; no window may run
    // unpartitioned and nothing may exchange to a single partition —
    // kaplanMeier's output is per-death-time, so there is no 1-row global
    // aggregate to excuse one.
    assert(lines.exists(_.contains("Window")), plan)
    lines.filter(_.contains("Window")).foreach { w =>
      assert(w.contains("__pid"), s"global window found:\n$w\n$plan")
    }
    assert(!plan.contains("Exchange SinglePartition"), plan)
    assert(plan.contains("hashpartitioning(__pid"), plan)
  }

  test("skyline front2d: sweep tile-keyed, no single-partition window") {
    import spark.implicits._
    // Unique d1 per row: |distinct d1| = n, the shape that used to run
    // one unpartitioned running-max sweep over the whole distinct table.
    val df = (0 until 300).map(i => (i.toLong, (i.toLong * 37) % 101))
      .toDF("d1", "d2")
    val plan = planOf(graft.ops.Skyline.front2d(df, "d1", "d2"))
    val lines = plan.split('\n').map(_.trim)
    // The exclusive running max rides a tile-local window over the
    // quantile-literal tile id; the cross-tile mass arrives through the
    // broadcast offset join, so no window is unpartitioned and nothing
    // exchanges to a single partition.
    assert(lines.exists(_.contains("Window")), plan)
    lines.filter(_.contains("Window")).foreach { w =>
      assert(w.contains("__pid"), s"global window found:\n$w\n$plan")
    }
    assert(!plan.contains("Exchange SinglePartition"), plan)
    assert(plan.contains("hashpartitioning(__pid"), plan)
    // Survivors broadcast back onto the fact table.
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("CUSUM: one series-keyed exchange, no single-partition window") {
    import spark.implicits._
    val df = (0 until 200).map(i => (s"k${i % 4}", i.toLong, (i % 7).toLong))
      .toDF("k", "t", "v")
    val plan = planOf(graft.ops.TimeSeries.cusum(df, "k", "t", "v", 2L, 10L))
    val lines = plan.split('\n').map(_.trim)
    // Every window is keyed by the series column — the closed form never
    // needs a global sort — and the plan carries exactly ONE exchange
    // (hashpartitioning on k); both frames reuse it.
    lines.filter(_.contains("Window")).foreach { w =>
      assert(w.contains("k#"), s"unkeyed window:\n$w\n$plan")
    }
    assert(!plan.contains("Exchange SinglePartition"), plan)
    val exchanges = lines.count(_.contains("Exchange "))
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
  }

  test("lag autocovariance: one window, one partial-agg'd shuffle, no self-join") {
    import spark.implicits._
    val df = (0 until 200).map(i => (s"k${i % 3}", i.toLong, (i % 11).toLong))
      .toDF("k", "t", "v")
    val plan = planOf(graft.ops.TimeSeries.lagCovariance(df, "k", "t", "v",
      Seq(1, 2, 3)))
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("partial_sum"), plan)
    // Exactly one Window operator no matter how many lags were asked for.
    assert(plan.split('\n').count(_.contains("Window")) == 1, plan)
  }

  test("PCA covariance fit is one aggregate: no explode, no join") {
    import spark.implicits._
    import org.apache.spark.sql.GraftColumnBridge
    val df = (0 until 50).map(i => Tuple1(Array(i.toFloat, (i % 5).toFloat)))
      .toDF("v")
    val agg = GraftColumnBridge.column(
      graft.expr.CovarianceAgg(GraftColumnBridge.expression(df.col("v")))
        .toAggregateExpression())
    val plan = planOf(df.select(agg.as("s")))
    assert(!plan.contains("Generate"), plan) // no explode of dims/pairs
    assert(!plan.contains("Join"), plan)
    // Partial buffers combine before the single exchange.
    assert(plan.split('\n').count(_.contains("Exchange")) == 1, plan)
  }

  test("PSI drift: inputs reduce per side; no row-to-row join of slices") {
    import spark.implicits._
    val ref = (0 until 200).map(i => (i % 13).toDouble).toDF("v")
    val cur = (0 until 200).map(i => (i % 7).toDouble).toDF("v")
    val plan = planOf(graft.ops.Drift.psiBins(ref, cur, "v", 8))
    // The per-side binned counts sit behind the lazy checkpoint (the
    // final plan roots at its RDD), so what must hold HERE: the totals
    // join is a broadcast of the 1-row frame, never a sort-merge, and
    // the totals aggregation itself is partial before its exchange.
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("BroadcastExchange"), plan)
    assert(plan.contains("partial_sum"), plan)
  }

  test("HyperANF round: register merge is a partial-agg'd keyed max; " +
      "no cartesian, no global sort") {
    import spark.implicits._
    val edges = (0L until 64L).map(i => (i, (i * 7 + 1) % 64)).toDF("s", "d")
    val plan = planOf(graft.graph.HyperAnf.ballRegisters(edges, "s", "d",
      rounds = 1))
    // The per-(node, reg) max must combine map-side: registers collapse
    // before the exchange, so a round's shuffle carries O(|E| + n·m)
    // scalar rows, never multiplied copies.
    assert(plan.contains("partial_max"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.split('\n').exists(l => l.trim.startsWith("Sort ")) ||
      plan.contains("SortMergeJoin"), plan)
  }

  test("FS linkage EM round statistics aggregate with map-side combine") {
    import spark.implicits._
    val pairs = (0 until 64).map(i => (i % 3 == 0, i % 5 == 0))
      .toDF("g1", "g2")
    // One EM round's aggregation plan: reproduce the internal shape by
    // running fieldWeights and asserting on the (collected) params —
    // the plan audit runs on the same aggregate expression.
    val wq = floor(lit(0.5) * when(col("g1"), lit(0.9)).otherwise(lit(0.1)) /
      (lit(0.5) * when(col("g1"), lit(0.9)).otherwise(lit(0.1)) +
        lit(0.5) * when(col("g1"), lit(0.2)).otherwise(lit(0.8))) *
      lit(1e9)).cast("long")
    val plan = planOf(pairs.agg(sum(wq).as("sw"), count(lit(1)).as("n")))
    assert(plan.contains("partial_sum"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("timeseries report: one window and no union, whatever the frequency count") {
    import spark.implicits._
    import org.apache.spark.sql.execution.UnionExec
    import org.apache.spark.sql.execution.window.WindowExec
    val bc = (0 until 50).map(i => (new java.sql.Timestamp(i * 5000000L), "Valuable Drop",
      s"u${i % 3}", i.toLong)).toDF("Timestamp", "Broadcast_Type", "Username", "Item_Value")
    for (freqs <- Seq(Seq("D"), Seq("6h", "D", "W"))) {
      val df = graft.reports.Reports.timeseries(bc,
        graft.reports.TimeseriesReportDef("t", Seq("Valuable Drop"), freqs))
      assert(countOf[WindowExec](df) == 1, df.queryExecution.executedPlan)
      assert(countOf[UnionExec](df) == 0, df.queryExecution.executedPlan)
    }
  }

  test("collection log: no window, no sort-merge join, at most two shuffles") {
    import spark.implicits._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.reports._
    val bc = (0 until 50).map(i => (i.toLong, new java.sql.Timestamp(i * 5000000L),
      if (i % 2 == 0) "Collection Log" else "Valuable Drop", s"u${i % 3}", s"${i % 4} x Item_${i % 7}"))
      .toDF("raw_log_id", "Timestamp", "Broadcast_Type", "Username", "Item_Name")
    val df = CollectionLog.generate(bc,
      CollectionLogDef(Seq("Collection Log", "Valuable Drop"), Some("Collection Log")),
      ClogHistoricalData(Seq("G" -> Seq("Item_1", "Item_2"), "H" -> Seq("Item_2")),
        Map("Item_9" -> 3L), Seq(Seq("Item_5"))),
      Periods.compute(java.time.ZonedDateTime.of(2024, 2, 5, 12, 0, 0, 0, java.time.ZoneOffset.UTC)))
    val plan = df.queryExecution.executedPlan
    assert(countOf[WindowExec](df) == 0, plan)
    assert(countOf[SortMergeJoinExec](df) == 0, plan)
    assert(countOf[ShuffleExchangeExec](df) <= 2, plan)
  }
}
