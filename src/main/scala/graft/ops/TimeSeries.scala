package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tumbling-window time-series with pandas-`resample` parity.
  *
  * Reference semantics (`/root/reference/src/3_transform_data.py:367-386`):
  * bucket events into 6h/daily/weekly windows, aggregate Count + Total_Value,
  * then cumulative-sum within each frequency. pandas `resample` emits EMPTY
  * intermediate buckets (Count=0) so the cumulative series is gap-free;
  * Spark's groupBy only emits non-empty buckets, so we left-join a generated
  * date spine (`sequence` + `explode`) to restore the empty buckets before
  * the cumulative window.
  *
  * Scale notes: the groupBy shuffles once on the bucket key; the spine is
  * generated on the driver-side boundaries (two scalars) and broadcast —
  * its cardinality is (time range / bucket), tiny even at 100 TB of events.
  * The cumulative sums run per-year ([[TimeSeries.gapFreeCumulative]]), so
  * no window ever moves more than one year of buckets to one partition.
  */
object TimeSeries {

  /** Cumulative sums over the (already gap-free) bucket table WITHOUT a
    * single-partition window: a running sum partitioned by `year(dateCol)`
    * plus each year's base offset (the total of all prior years, built by
    * a years×years triangle join over the per-year aggregate — a handful
    * of rows, broadcast back). Bucket rows are one-per-bucket, but at a
    * century of 6h buckets × many frequencies an unpartitioned WindowExec
    * serializes the whole report; this shape never does.
    *
    * `sums` maps source column → cumulative output column. Addition is
    * long/decimal exact, so results are bit-identical to the global
    * ordered window.
    */
  def gapFreeCumulative(full: DataFrame, dateCol: String,
      sums: Seq[(String, String)]): DataFrame = {
    val withYr = full.withColumn("__yr", year(col(dateCol)))
    val wIn = Window.partitionBy("__yr").orderBy(dateCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val running = sums.foldLeft(withYr) { case (df, (src, dst)) =>
      df.withColumn(dst, sum(col(src)).over(wIn))
    }
    val totalAggs = sums.map { case (src, dst) => sum(col(src)).as(s"__t_$dst") }
    val yearTotals = withYr.groupBy("__yr")
      .agg(totalAggs.head, totalAggs.tail: _*)
    val baseAggs = sums.map { case (_, dst) =>
      sum(col(s"b.__t_$dst")).as(s"__b_$dst") }
    val bases = yearTotals.alias("a")
      .join(yearTotals.alias("b"), col("b.__yr") < col("a.__yr"), "left")
      .groupBy(col("a.__yr").as("__yr"))
      .agg(baseAggs.head, baseAggs.tail: _*)
    val out = running.join(broadcast(bases), Seq("__yr"))
    sums.foldLeft(out) { case (df, (_, dst)) =>
      df.withColumn(dst, col(dst) + coalesce(col(s"__b_$dst"), lit(0)))
    }.drop("__yr" +: sums.map { case (_, dst) => s"__b_$dst" }: _*)
  }

  /** Floor `ts` to an aligned bucket of `seconds` (epoch-aligned, UTC). */
  def bucket(ts: Column, seconds: Long): Column =
    timestamp_seconds(floor(unix_timestamp(ts) / seconds) * seconds)

  /** Gap-free bucket spine between min and max observed bucket, inclusive. */
  def spine(df: DataFrame, bucketCol: String, seconds: Long): DataFrame =
    df.agg(min(col(bucketCol)).as("lo"), max(col(bucketCol)).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr(s"INTERVAL $seconds SECONDS"))).as(bucketCol))

  /** One frequency: bucketed counts/sums, gap-filled, with cumulative cols. */
  def resample(
      events: DataFrame,
      tsCol: String,
      valueCol: String,
      seconds: Long,
      freqLabel: String): DataFrame = {
    val bucketed = events
      .select(bucket(col(tsCol), seconds).as("Date"),
        col(valueCol).cast("decimal(18,2)").as("__v"))
      .groupBy("Date")
      .agg(count(lit(1)).as("Count"), sum("__v").as("Total_Value"))

    val full = spine(bucketed, "Date", seconds)
      .join(bucketed, Seq("Date"), "left")
      .select(col("Date"),
        coalesce(col("Count"), lit(0L)).as("Count"),
        coalesce(col("Total_Value"), lit(0).cast("decimal(18,2)")).as("Total_Value"))

    gapFreeCumulative(full, "Date",
      Seq("Count" -> "Cumulative_Count", "Total_Value" -> "Cumulative_Value"))
      .withColumn("Cumulative_Value", col("Cumulative_Value").cast("decimal(18,2)"))
      .withColumn("Frequency", lit(freqLabel))
  }

  /** Linear interpolation of a sparse daily series over its gap-free date
    * spine — the sensor/metric gap-fill primitive (missing days get the
    * straight line between the nearest observations; edges forward/back
    * fill).
    *
    * Never a global single-partition window: forward/backward neighbor
    * scans run per `chunk` (caller-chosen, MUST be non-decreasing in
    * `dateCol` — e.g. a week or year index), and chunk boundaries are
    * stitched with a tiny per-chunk summary table (first/last observation
    * per chunk, triangle-joined exactly like [[gapFreeCumulative]]'s base
    * offsets, then broadcast back). Carried values are the original
    * doubles — no arithmetic — so the result is bit-identical to the
    * global-window formulation regardless of chunk granularity.
    *
    * `series` columns: `dateCol` (date, distinct) + `valueCol` (double,
    * non-null). Output: dateCol, `valueCol` (filled), `interpolated`
    * (1 where the spine row had no observation).
    */
  def interpolateLinear(series: DataFrame, dateCol: String, valueCol: String,
      chunk: Column): DataFrame = {
    val d = col(dateCol)
    val spine = series
      .agg(min(d).as("lo"), max(d).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr("INTERVAL 1 DAY"))).as(dateCol))
    val full = spine.join(series, Seq(dateCol), "left")
      .withColumn("__ck", chunk)

    // In-chunk nearest observation on each side (value + its date).
    val wF = Window.partitionBy("__ck").orderBy(d.asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wB = Window.partitionBy("__ck").orderBy(d.desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val v = col(valueCol)
    val obsDate = when(v.isNotNull, d)
    val scanned = full
      .withColumn("__pv", last(v, ignoreNulls = true).over(wF))
      .withColumn("__pd", last(obsDate, ignoreNulls = true).over(wF))
      .withColumn("__nv", last(v, ignoreNulls = true).over(wB))
      .withColumn("__nd", last(obsDate, ignoreNulls = true).over(wB))

    // Chunk summaries (observations only) → carry-in/out across chunks.
    val sums = series.withColumn("__ck", chunk).groupBy("__ck")
      .agg(min(d).as("__f_d"), min_by(v, d).as("__f_v"),
        max(d).as("__l_d"), max_by(v, d).as("__l_v"))
    val chunks = full.select(col("__ck")).distinct()
    val carryIn = chunks.alias("a")
      .join(sums.alias("b"), col("b.__ck") < col("a.__ck"), "left")
      .groupBy(col("a.__ck").as("__ck"))
      .agg(max_by(col("b.__l_v"), col("b.__l_d")).as("__ci_v"),
        max(col("b.__l_d")).as("__ci_d"))
    val carryOut = chunks.alias("a")
      .join(sums.alias("b"), col("b.__ck") > col("a.__ck"), "left")
      .groupBy(col("a.__ck").as("__ck"))
      .agg(min_by(col("b.__f_v"), col("b.__f_d")).as("__co_v"),
        min(col("b.__f_d")).as("__co_d"))

    val g = scanned
      .join(broadcast(carryIn), Seq("__ck"))
      .join(broadcast(carryOut), Seq("__ck"))
      .withColumn("__gpv", coalesce(col("__pv"), col("__ci_v")))
      .withColumn("__gpd", coalesce(col("__pd"), col("__ci_d")))
      .withColumn("__gnv", coalesce(col("__nv"), col("__co_v")))
      .withColumn("__gnd", coalesce(col("__nd"), col("__co_d")))

    g.withColumn("interpolated", v.isNull.cast("int"))
      .withColumn(valueCol,
        when(v.isNotNull, v)
          .when(col("__gpv").isNull, col("__gnv"))
          .when(col("__gnv").isNull, col("__gpv"))
          .otherwise(col("__gpv") + (col("__gnv") - col("__gpv")) *
            (datediff(d, col("__gpd")).cast("double") /
              datediff(col("__gnd"), col("__gpd")).cast("double"))))
      .select(d, col(valueCol), col("interpolated"))
  }

  /** Monotone week index (days since epoch / 7) — a safe `chunk` argument
    * for [[interpolateLinear]] (unlike `weekofyear`, which wraps).
    */
  def weekChunk(dateCol: Column): Column = floor(unix_date(dateCol) / 7)

  /** Trailing `windowDays`-day moving aggregate over a gap-free daily
    * series WITHOUT any ordered window: each day's value is scattered
    * onto the `windowDays` target dates it contributes to (explode of a
    * tiny 0..w-1 range), then one partial-agg'd shuffle on the target
    * date rebuilds every window. Wholly key-partitioned — the fan-out is
    * the window width, never the series length, so a century-long series
    * costs w× its size spread over all executors instead of one
    * partition's sort. Target dates past the series end are dropped;
    * near the start the window is naturally truncated (fewer
    * contributors), mirroring `ROWS w-1 PRECEDING` on a gap-free spine.
    *
    * Output: dateCol, `w_sum` (same type as `valueCol`'s sum — use an
    * exact type like decimal for cross-engine parity), `w_days`
    * (contributing-day count; divide for the moving average).
    */
  def trailingWindow(daily: DataFrame, dateCol: String, valueCol: String,
      windowDays: Int): DataFrame = {
    val hi = daily.agg(max(col(dateCol)).as("__hi"))
    daily
      .withColumn("__off", explode(sequence(lit(0), lit(windowDays - 1))))
      .withColumn("__t", date_add(col(dateCol), col("__off")))
      .crossJoin(broadcast(hi))
      .filter(col("__t") <= col("__hi"))
      .groupBy(col("__t").as(dateCol))
      .agg(sum(col(valueCol)).as("w_sum"), count(lit(1)).as("w_days"))
  }

  /** Lag-k autocovariance sufficient statistics per series, for ACF-based
    * seasonality/anomaly screens over metric series: for each key and each
    * lag ℓ emits (n_pairs, acov_num = n·Σx_t·x_{t+ℓ} − Σx_t·Σx_{t+ℓ}) over
    * the aligned ROW pairs. All-integer when `valueCol` is integral, so
    * the statistic is engine-exact; divide by n²·(sample var terms)
    * downstream for the normalized ACF when a float is acceptable.
    *
    * Expects one row per (key, time) on a gap-free spine (run
    * [[resample]]/[[spine]] first) — lags are in ROWS, not time units.
    *
    * Scale shape: ONE keyed window (partition by series, in-partition
    * sort) computes every lead, then the lag axis explodes a
    * literal-length array and one partial-agg'd shuffle reduces per
    * (key, lag) — the series is scanned once however many lags are
    * requested, and no self-join of the series against itself appears.
    */
  def lagCovariance(df: DataFrame, keyCol: String, timeCol: String,
      valueCol: String, lags: Seq[Int]): DataFrame = {
    require(lags.nonEmpty && lags.forall(_ >= 1), "lags must be >= 1")
    // A fractional series would silently truncate under the long cast and
    // zero the statistic — demand integers (pre-quantize floats upstream).
    df.schema(valueCol).dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"lagCovariance needs an integral value column (got $valueCol: " +
          s"$other); quantize fractional series to fixed point first")
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col(timeCol))
    val leads = df
      .select(col(keyCol), col(timeCol), col(valueCol).cast("long").as("__v"))
      .select(col(keyCol) +: col("__v") +:
        lags.map(l => lead(col("__v"), l).over(w).as(s"__v$l")): _*)
    val entries = lags.map(l =>
      struct(lit(l).as("lag"), col(s"__v$l").as("vl")))
    leads
      .select(col(keyCol), col("__v"), explode(array(entries: _*)).as("e"))
      .filter(col("e.vl").isNotNull)
      .groupBy(col(keyCol), col("e.lag").as("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("__v") * col("e.vl")).as("__sxy"),
        sum(col("__v")).as("__sx"), sum(col("e.vl")).as("__sy"))
      .select(col(keyCol), col("lag"), col("n_pairs"),
        (col("n_pairs") * col("__sxy") - col("__sx") * col("__sy"))
          .as("acov_num"))
  }

  /** Gap-based sessionization: a new session starts when the delta to the
    * previous event of the same user exceeds `gapSeconds`. Single shuffle on
    * user, in-partition sort — the classic scalable formulation.
    */
  /** Exponentially-weighted moving average in INTEGER FIXED-POINT: the
    * recurrence `r_t = (α·v_t·scale + (1−α)·r_{t-1}) div den` with
    * α = alphaNum/alphaDen, r_0 = v_0·scale. Floats make EWMA
    * accumulation-order- and engine-dependent; integer floor division
    * makes every step bit-exact (the [[graft.graph.PageRank]] contract),
    * which is what puts a genuinely SEQUENTIAL recurrence under the
    * DuckDB oracle gate (`q_ewma`, a recursive CTE).
    *
    * EWMA is inherently sequential per series, so the honest distributed
    * shape is one shuffle keyed by series + an in-partition SORTED group
    * iterator (`flatMapSortedGroups` — Spark sorts within partitions,
    * never collects a group into memory): O(1) state per series, series
    * count parallelizes, series length streams. A skewed series costs one
    * partition's sort, same profile as any keyed window.
    *
    * @param df   (keyCol, timeCol, valueCol) rows; timeCol/valueCol must
    *             cast to long (pre-bucket timestamps upstream)
    * @return (keyCol, timeCol, ewma_fp) — ewma in `scale` fixed-point
    */
  def ewmaFixedPoint(df: DataFrame, keyCol: String, timeCol: String,
      valueCol: String, alphaNum: Long, alphaDen: Long,
      scale: Long = 1000000L): DataFrame = {
    require(alphaNum > 0 && alphaNum <= alphaDen, "need 0 < alpha <= 1")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(keyCol).cast("string"), col(timeCol).cast("long"),
        col(valueCol).cast("long")).toDF("_1", "_2", "_3")
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapSortedGroups($"_2") { (key, it) =>
        var prev = 0L
        var first = true
        it.map { case (_, t, v) =>
          val r =
            if (first) { first = false; v * scale }
            else Math.floorDiv(alphaNum * v * scale + (alphaDen - alphaNum) * prev,
              alphaDen)
          prev = r
          (key, t, r)
        }
      }.toDF(keyCol, timeCol, "ewma_fp")
  }

  /** Holt's linear-trend smoothing (double exponential smoothing) in
    * INTEGER FIXED-POINT, plus an h-step-ahead forecast — the next rung
    * above [[ewmaFixedPoint]] when the series has drift an EWMA would
    * systematically lag. Recurrences with α = alphaNum/alphaDen,
    * β = betaNum/betaDen, in `scale` fixed-point:
    *
    *   l_t = (αN·v_t·scale + (αD−αN)·(l_{t−1} + b_{t−1})) quot αD
    *   b_t = (βN·(l_t − l_{t−1}) + (βD−βN)·b_{t−1}) quot βD
    *   forecast_t = l_t + horizon·b_t
    *
    * with l_0 = v_0·scale, b_0 = 0. `quot` is division TRUNCATING toward
    * zero — deliberately, not floor: the trend term goes NEGATIVE on
    * falling series, and DuckDB's integer `//` truncates while Java's
    * floorDiv floors, so truncation is the one semantics both engines
    * share bit-for-bit (JVM long `/` == DuckDB `//`). That puts this
    * genuinely sequential recurrence under the oracle gate like
    * [[ewmaFixedPoint]].
    *
    * Same distributed shape: one shuffle keyed by series, an in-partition
    * sorted group iterator, O(1) state per series; series count
    * parallelizes, series length streams.
    *
    * @return (keyCol, timeCol, level_fp, trend_fp, forecast_fp) in
    *         `scale` fixed-point
    */
  def holtFixedPoint(df: DataFrame, keyCol: String, timeCol: String,
      valueCol: String, alphaNum: Long, alphaDen: Long,
      betaNum: Long, betaDen: Long, horizon: Long,
      scale: Long = 1000000L): DataFrame = {
    require(alphaNum > 0 && alphaNum <= alphaDen, "need 0 < alpha <= 1")
    require(betaNum > 0 && betaNum <= betaDen, "need 0 < beta <= 1")
    require(horizon >= 0, s"horizon must be non-negative, got $horizon")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(keyCol).cast("string"), col(timeCol).cast("long"),
        col(valueCol).cast("long")).toDF("_1", "_2", "_3")
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapSortedGroups($"_2") { (key, it) =>
        var l = 0L
        var b = 0L
        var first = true
        it.map { case (_, t, v) =>
          if (first) { first = false; l = v * scale; b = 0L }
          else {
            val lPrev = l
            l = (alphaNum * v * scale +
              (alphaDen - alphaNum) * (lPrev + b)) / alphaDen
            b = (betaNum * (l - lPrev) + (betaDen - betaNum) * b) / betaDen
          }
          (key, t, l, b, l + horizon * b)
        }
      }.toDF(keyCol, timeCol, "level_fp", "trend_fp", "forecast_fp")
  }

  /** One-sided CUSUM change-point statistics per series (Page 1954), both
    * directions, in exact integers: with deviations d_t = v_t − target,
    * the high-side statistic s_t = max(0, s_{t−1} + d_t) — sequential on
    * its face — has the closed form
    *
    *   s_t = c_t − min(0, min_{i≤t} c_i),   c_t = Σ_{i≤t} d_i
    *
    * (and the low side is the same identity on −d), so the WHOLE
    * recurrence becomes two frames over ONE series-keyed sorted window:
    * a running sum and a running min. No sequential group iterator, no
    * state — unlike EWMA/Holt this one parallelizes into plain windows,
    * which is why it gets the window form rather than
    * `flatMapSortedGroups`. `alarm` fires when either side exceeds
    * `threshold` — the classic level-shift monitor that pairs with
    * [[graft.streaming.StreamingAnomaly]]'s z-score spikes.
    *
    * @return (keyCol, timeCol, cusum_high, cusum_low, alarm)
    */
  def cusum(df: DataFrame, keyCol: String, timeCol: String,
      valueCol: String, target: Long, threshold: Long): DataFrame = {
    require(threshold > 0, s"threshold must be positive, got $threshold")
    // Ordered by (time, deviation): the deviation tiebreak makes tied
    // timestamps deterministic across repartitions AND matches
    // [[graft.streaming.StreamingCusum]]'s (t, value) in-batch sort
    // (deviation is value minus a constant, so the orders coincide) —
    // without it the batch/streaming bit-parity contract breaks on
    // duplicate timestamps.
    val w = Window.partitionBy(keyCol).orderBy(col(timeCol), col("__d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // low side: s'_t = max(0, s'_{t−1} − d_t) = max(0, max_{i≤t} c_i) − c_t
    // (the same identity applied to −d, with running max playing the min's
    // role). Both frames share one partitioning and ordering, so the plan
    // is a single series-keyed exchange + sort.
    df.select(col(keyCol), col(timeCol).cast("long").as(timeCol),
        (col(valueCol).cast("long") - lit(target)).as("__d"))
      .withColumn("__c", sum(col("__d")).over(w))
      .withColumn("__lo", min(col("__c")).over(w))
      .withColumn("__hi", max(col("__c")).over(w))
      .select(col(keyCol), col(timeCol),
        (col("__c") - least(lit(0L), col("__lo"))).as("cusum_high"),
        (greatest(lit(0L), col("__hi")) - col("__c")).as("cusum_low"))
      .withColumn("alarm",
        col("cusum_high") > threshold || col("cusum_low") > threshold)
  }

  /** Offline change-point detection by depth-limited binary segmentation
    * (Scott & Knott's recursive splitting with the CUSUM mean-shift
    * statistic): per series, the best split of a segment maximizes the
    * cumulative deviation |Σ_{i≤t} y_i − (t/n)·Σ y| — the point where the
    * running sum strays furthest from the straight line to the total.
    * Each depth splits every current segment at its best point, so depth
    * d yields ≤ 2^d − 1 change points per series.
    *
    * EXACT INTEGER arithmetic throughout: the deviation is scaled by n
    * (|n·cum_t − t·total|, all longs), so there is no float in the split
    * criterion and the (dev DESC, time ASC) tie-break is engine-exact.
    * `n·cum` needs n·Σ|y| ≲ 2^63: fine for any per-series daily/hourly
    * aggregate (n is the SERIES length — days — not the row count).
    *
    * Relational shape per depth: one series×segment-keyed window pass
    * (rank + running sum), a same-key count/total aggregate joined back,
    * and a row_number()=1 selection — all partitioned by (key, segment),
    * never a global sort. The depth loop is a driver-side constant like
    * the iterative graph ops; re-segmentation is a broadcast-joined
    * comparison against the found split points.
    *
    * `timeCol` must be UNIQUE per key (pre-aggregate to the bucket
    * grain first, like [[theilSen]]'s xCol): the windows order by time
    * alone, and duplicate (key, time) rows would make the running sum —
    * and therefore the chosen split — partition-dependent.
    *
    * @param minSeg   smallest allowed child segment (both sides), ≥ 1
    * @return (keyCol, depth, timeCol = last row of the left child,
    *         dev = the scaled deviation |n·cum − t·total| at the split)
    */
  def changePoints(df: DataFrame, keyCol: String, timeCol: String,
      valueCol: String, depth: Int = 2, minSeg: Int = 2): DataFrame = {
    require(depth >= 1 && depth <= 6, s"depth 1..6, got $depth")
    require(minSeg >= 1, s"minSeg must be >= 1, got $minSeg")
    // Enforced, not coerced: a silent cast("long") on a fractional
    // series (e.g. a per-day average shifting 0.4 → 0.9) would truncate
    // every value and report "no change point" with no error. Fractional
    // series pre-quantize to a fixed integer grid (the milli-unit
    // convention), which is also what keeps the deviation arithmetic
    // exact.
    val yType = df.schema(valueCol).dataType
    require(Seq[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType).contains(yType),
      s"value column $valueCol must be integral (got $yType) — quantize " +
        "fractional series to a fixed grid (e.g. milli-units) first")
    var cur = df.select(col(keyCol), col(timeCol),
      col(valueCol).cast("long").as("__y"))
      .withColumn("__seg", lit(0L))
    var cps: DataFrame = null
    val pinned = scala.collection.mutable.ListBuffer.empty[DataFrame]
    for (d <- 1 to depth) {
      val wOrd = Window.partitionBy(col(keyCol), col("__seg"))
        .orderBy(col(timeCol))
      val rows = cur
        .withColumn("__rn", row_number().over(wOrd).cast("long"))
        .withColumn("__cum", sum(col("__y")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val stats = cur.groupBy(col(keyCol), col("__seg"))
        .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__tot"))
      val scored = rows.join(stats, Seq(keyCol, "__seg"))
        .withColumn("__dev",
          abs(col("__cum") * col("__n") - col("__rn") * col("__tot")))
        // Split AFTER row t: left size t, right size n − t, both ≥ minSeg.
        .filter(col("__rn") >= minSeg && col("__rn") <= col("__n") - minSeg)
      val wBest = Window.partitionBy(col(keyCol), col("__seg"))
        .orderBy(col("__dev").desc, col(timeCol).asc)
      // best is ≤ one row per (key, segment) — broadcast-sized by
      // construction — but it hangs off this depth's full window pass:
      // truncate so cps' union and the next depth's re-segmentation
      // don't re-instantiate every earlier depth's subtree (the same
      // per-round discipline as Mmr and the iterative graph ops).
      val best = scored
        .withColumn("__r", row_number().over(wBest))
        .filter(col("__r") === 1 && col("__dev") > 0) // flat segment: no cp
        .select(col(keyCol), col("__seg"), col(timeCol).as("__cp_t"),
          col("__dev").as("dev"), lit(d).as("depth"))
        .localCheckpoint(false)
      pinned += best
      cps = if (cps == null) best else cps.unionByName(best)
      if (d < depth) {
        // Children get 2·seg / 2·seg+1 — unique across depths.
        cur = cur.join(
          broadcast(best.select(col(keyCol), col("__seg"), col("__cp_t"))),
          Seq(keyCol, "__seg"), "left")
          .withColumn("__seg",
            when(col("__cp_t").isNotNull && col(timeCol) > col("__cp_t"),
              col("__seg") * 2 + 1).otherwise(col("__seg") * 2))
          .drop("__cp_t")
          .localCheckpoint(false)
        pinned += cur
      }
    }
    // Eager finalize + explicit release (the Checkpoints contract, as in
    // Mmr.select): one action materializes the chain; the per-depth cur
    // frames (input-sized!) and best frames are then provably dead — the
    // returned frame reads only its own blocks. Without this every call
    // pinned depth re-segmented copies of the series table until the
    // GC-driven ContextCleaner ran.
    val out = cps.select(col(keyCol), col("depth"),
      col("__cp_t").as(timeCol), col("dev"))
      .localCheckpoint(true)
    pinned.foreach(Checkpoints.release)
    out
  }

  /** Theil–Sen robust trend per series: slope = median of all pairwise
    * slopes (y_j − y_i)/(x_j − x_i), intercept = median of (y_i −
    * slope·x_i). Breakdown point ~29% — one bad week in a year of daily
    * counts barely moves it, where OLS chases it.
    *
    * Shape: a within-series pair join (x_a < x_b) then two exact-median
    * passes (Spark `percentile` ↔ DuckDB `quantile_cont`, the proven
    * parity pair), the second over a broadcast of the per-series slopes.
    * Pairs are O(n²) in the SERIES length — fine for the per-key
    * daily/weekly aggregates this is meant for (n ≤ a few thousand);
    * for longer series the scale path is the repeated-median or a
    * uniform pair sample, both one-line variants of the same join.
    *
    * @param xCol numeric (castable to double); must be unique per key
    * @return (keyCol, n, slope, intercept) — unrounded doubles
    */
  def theilSen(df: DataFrame, keyCol: String, xCol: String,
      yCol: String): DataFrame = {
    val base = df.select(col(keyCol).as("__k"),
      col(xCol).cast("double").as("__x"), col(yCol).cast("double").as("__y"))
    // try_divide, not `/`: downstream null-filters push INTO the join
    // condition, where the slope can be evaluated before the
    // `__x < __x` predicate has excluded equal-x pairs — under ANSI a
    // plain divide then throws DIVIDE_BY_ZERO on rows the join was
    // about to drop. try_divide yields NULL there (filtered anyway) and
    // is bit-identical on every surviving pair.
    val pairs = base.alias("a").join(base.alias("b"),
      col("a.__k") === col("b.__k") && col("a.__x") < col("b.__x"))
      .select(col("a.__k").as("__k"),
        try_divide(col("b.__y") - col("a.__y"),
          col("b.__x") - col("a.__x")).as("__s"))
    // Medians via Quantiles.groupBoundsExact — the SPILLABLE rank-window
    // path, bit-identical to `percentile`/`quantile_cont` (same lerp
    // tree). Spark's `percentile` aggregate holds every group member in
    // one task's buffer — with O(n²) slope rows per key that is exactly
    // the OOM shape the Quantiles module exists to avoid. No broadcast
    // hint on the slope join either: one row per KEY is unbounded in the
    // number of series; both sides arrive keyed, AQE picks the join.
    val slopes = Quantiles.groupBoundsExact(pairs, "__s", Seq("__k"),
      Seq(0.5))
      .select(col("__k"), element_at(col("__qs"), 1).as("slope"))
    val resid = base.join(slopes, Seq("__k"))
      .select(col("__k"),
        (col("__y") - col("slope") * col("__x")).as("__r"))
    val intercepts = Quantiles.groupBoundsExact(resid, "__r", Seq("__k"),
      Seq(0.5))
      .select(col("__k"), element_at(col("__qs"), 1).as("intercept"))
    base.groupBy("__k").agg(count(lit(1)).as("n"))
      .join(slopes, Seq("__k")).join(intercepts, Seq("__k"))
      .select(col("__k").as(keyCol), col("n"), col("slope"),
        col("intercept"))
  }

  def sessionize(events: DataFrame, userCol: String, tsCol: String,
      gapSeconds: Long): DataFrame = {
    val byUser = Window.partitionBy(userCol).orderBy(tsCol)
    // Gap compare in µs epochs (unix_micros ↔ DuckDB epoch_us); whole-second
    // unix_timestamp would truncate fractional gaps and flip boundary rows.
    events
      .withColumn("__prev", lag(col(tsCol), 1).over(byUser))
      .withColumn("__new_session",
        when(col("__prev").isNull ||
          unix_micros(col(tsCol)) - unix_micros(col("__prev")) > gapSeconds * 1000000L, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum("__new_session").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__prev", "__new_session")
  }
}
