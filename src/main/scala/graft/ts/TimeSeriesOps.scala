package graft.ts

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Time-series operator library (SURVEY.md §2.5–§2.6, W1–W10).
  *
  * Every operator is a pure `Column`/`Window` composition — Catalyst sees
  * through all of it (predicate pushdown, whole-stage codegen), and every
  * window partitions by ticker so the plan scales horizontally across
  * tickers/keys with a single hash shuffle.
  *
  * Pandas-compatibility notes are called out per function; the pandas
  * semantics (null handling in particular) are part of the spec the
  * reference's golden tests pin down (SURVEY.md §7.4).
  */
object TimeSeriesOps {

  /** Standard per-key, time-ordered window. */
  def keyed(partition: String = "ticker", order: String = "date"): WindowSpec =
    Window.partitionBy(partition).orderBy(order)

  private def rows(w: WindowSpec, lo: Long, hi: Long): WindowSpec =
    w.rowsBetween(lo, hi)

  /** Rolling mean with pandas `rolling(n).mean()` semantics (reference
    * custom_strats.py:38-39): the result is null until `n` non-null
    * observations fill the window (pandas default `min_periods = n`).
    * Spark's `avg` ignores nulls, so the count guard is required
    * (SURVEY.md §2.6 W5).
    */
  def rollingMean(c: Column, n: Int, w: WindowSpec): Column = {
    val frame = rows(w, -(n - 1).toLong, 0)
    when(count(c).over(frame) === n, avg(c).over(frame))
  }

  /** Rolling sum / min / max with the same min_periods=n guard. */
  def rollingSum(c: Column, n: Int, w: WindowSpec): Column = {
    val frame = rows(w, -(n - 1).toLong, 0)
    when(count(c).over(frame) === n, sum(c).over(frame))
  }
  def rollingMin(c: Column, n: Int, w: WindowSpec): Column = {
    val frame = rows(w, -(n - 1).toLong, 0)
    when(count(c).over(frame) === n, min(c).over(frame))
  }
  def rollingMax(c: Column, n: Int, w: WindowSpec): Column = {
    val frame = rows(w, -(n - 1).toLong, 0)
    when(count(c).over(frame) === n, max(c).over(frame))
  }
  def rollingStd(c: Column, n: Int, w: WindowSpec): Column = {
    val frame = rows(w, -(n - 1).toLong, 0)
    when(count(c).over(frame) === n, stddev_samp(c).over(frame))
  }

  /** Lag / pandas `shift(1)` (reference custom_strats.py:47-48, W1). */
  def shift(c: Column, n: Int, w: WindowSpec): Column = lag(c, n).over(w)

  /** Percent change, pandas `pct_change()` ≡ x / lag(x) − 1 (reference
    * strats.py:730-773, W2). First row is null, as in pandas. A zero
    * previous value yields null (pandas yields ±inf; under ANSI Spark a
    * raw division would error instead — null is the engine-safe choice,
    * and downstream aggregates skip it like pandas skips NaN).
    */
  def pctChange(c: Column, w: WindowSpec): Column =
    c / nullif(lag(c, 1).over(w), lit(0.0)) - 1

  private def running(w: WindowSpec): WindowSpec =
    w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** Cumulative sum (reference strats.py:570-571, W6). */
  def cumSum(c: Column, w: WindowSpec): Column = sum(c).over(running(w))

  /** Cumulative max — running peak for drawdown (reference
    * strats.py:702-703, W7).
    */
  def cumMax(c: Column, w: WindowSpec): Column = max(c).over(running(w))

  def cumMin(c: Column, w: WindowSpec): Column = min(c).over(running(w))

  /** Cumulative product (reference finance_data.py:38-39, W8) via an exact
    * sequential-multiply aggregator (graft.functions.ProductAgg) so results
    * match a left-to-right product bit-for-bit — `exp(sum(log))` would
    * drift and break sign/zero handling.
    */
  def cumProd(c: Column, w: WindowSpec): Column =
    graft.functions.GraftFunctions.product(c).over(running(w))

  /** Log-cumulative return, `np.log(pct + 1).cumsum()` (reference
    * finance_data.py:69-73, W9). The reference adds 1 BEFORE the log
    * (np.log, not log1p), so this does too — the 1+x rounding is part of
    * the observable semantics. Spark's `log` yields null for non-positive
    * input where numpy yields -inf, so the value-drops-to-zero case
    * (pct == -1) is pinned to -Infinity explicitly.
    *
    * The log itself is [[graft.functions.IntrinsicLog]] (the Math.log
    * HotSpot intrinsic), not Spark's built-in `log` (StrictMath/fdlibm):
    * measured on the real sf0.1 inputs, fdlibm sits 1 ulp from DuckDB's
    * glibc `ln` on 7.2 % of inputs vs the intrinsic's 0.06 % — the
    * difference between a documented float32-boundary residual and an
    * exact sweep.
    */
  def logCumReturn(c: Column, w: WindowSpec): Column = {
    val pct = pctChange(c, w)
    // A sign flip (pct < -1, i.e. value/prev < 0) is pinned to NaN on
    // BOTH sides: Math.log(negative) is NaN on the JVM while DuckDB's
    // ln() raises an out-of-range ERROR, so leaving it implicit is a
    // latent cross-engine divergence. The NaN then poisons the running
    // sum identically in both engines (numpy semantics: log of a
    // negative gross return is undefined, and every cumulative value
    // after it is too).
    val lr = when(pct === -1.0, lit(Double.NegativeInfinity))
      .when(pct < -1.0, lit(Double.NaN))
      .otherwise(when(pct.isNotNull,
        graft.functions.MathFunctions.intrinsicLog(pct + lit(1.0))))
    sum(lr).over(running(w))
  }

  /** Exponentially-weighted mean over the running frame, pandas
    * `ewm(span=s, adjust=False, ignore_na=True).mean()`: α = 2/(span+1),
    * y₀ = x₀, yₜ = (1−α)yₜ₋₁ + αxₜ, nulls skipped. NOTE: pandas'
    * DEFAULT is ignore_na=False, where interior NaNs widen the decay
    * gap — this op implements the ignore_na=True variant (a null
    * contributes nothing and the previous mean carries). Sequential-
    * exact (the fold runs in row order, like cumProd) — not
    * exp-of-log-sum, which would drift.
    */
  def ewmMean(c: Column, span: Int, w: WindowSpec): Column = {
    require(span >= 1, s"span must be >= 1, got $span")
    graft.functions.GraftFunctions.ewm(c, 2.0 / (span + 1)).over(running(w))
  }

  /** Forward-fill then zero-fill, pandas `.ffill().fillna(0)` (reference
    * strats.py:562-565, W10).
    */
  def ffillZero(c: Column, w: WindowSpec): Column =
    coalesce(last(c, ignoreNulls = true).over(running(w)), lit(0.0))

  /** Forward-fill only (nulls before the first observation stay null). */
  def ffill(c: Column, w: WindowSpec): Column =
    last(c, ignoreNulls = true).over(running(w))

  /** Pandas `.last("<n>Y")` (reference tests/test_strat.py:7,
    * finance_data.py:38): "nY" parses as n × YearEnd, so the cutoff is
    * Dec 31 of `year(max(date)) − n`, and pandas slices with
    * `searchsorted(side="right")` — strictly *after* the cutoff. Computed
    * per ticker with a window max — no driver-side collect, scales to any
    * number of keys (W4).
    */
  def lastYears(df: DataFrame, years: Int, dateCol: String = "date",
      tickerCol: String = "ticker"): DataFrame = {
    val maxD = max(col(dateCol)).over(Window.partitionBy(tickerCol))
    val cutoff = make_date(year(maxD) - years, lit(12), lit(31))
    df.withColumn("__cutoff", cutoff)
      .filter(col(dateCol).cast("date") > col("__cutoff"))
      .drop("__cutoff")
  }

  /** `.last("<n>Y")` over the WHOLE frame (no per-key partitioning).
    * A constant-key window would be constant-folded by Catalyst into an
    * unpartitioned window — `Exchange SinglePartition`, i.e. the entire
    * table serialized through one task. Instead the global cutoff is a
    * scalar aggregate (one partial-agg job) broadcast back via a
    * single-row cross join — both sides of the filter stay fully
    * parallel at any scale.
    */
  def lastYearsGlobal(df: DataFrame, years: Int,
      dateCol: String = "date"): DataFrame = {
    val cutoffDf = df.agg(
      make_date(year(max(col(dateCol))) - years, lit(12), lit(31))
        .as("__cutoff"))
    df.crossJoin(broadcast(cutoffDf))
      .filter(col(dateCol).cast("date") > col("__cutoff"))
      .drop("__cutoff")
  }

  /** Last n rows per ticker by date — pandas `.tail(n)` (reference
    * strats.py:592-597, J8/W3). Planned as a ranked window, not a
    * collect.
    */
  def tail(df: DataFrame, n: Int, dateCol: String = "date",
      tickerCol: String = "ticker"): DataFrame = {
    val w = Window.partitionBy(tickerCol).orderBy(col(dateCol).desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__rn")
  }

  /** All rows with date ≤ `asOf` then last n — the reference's index-slice
    * `market_data.loc[:last].tail(n)` (reference strats.py:592-597).
    */
  def sliceTail(df: DataFrame, asOf: Column, n: Int, dateCol: String = "date",
      tickerCol: String = "ticker"): DataFrame =
    tail(df.filter(col(dateCol) <= asOf), n, dateCol, tickerCol)

  /** Gap-based sessionization: a new session starts when the gap to the
    * previous event exceeds `gapSeconds`. session_id = running count of
    * session starts per key (1-based) — a pure two-window expression
    * (lag + running sum of an exact integer flag), deterministic in any
    * engine, one shuffle on the key.
    */
  def sessionize(df: DataFrame, gapSeconds: Long, keyCol: String = "user_id",
      tsCol: String = "ts", out: String = "session_id"): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(tsCol)
    val prev = lag(unix_micros(col(tsCol)), 1).over(w)
    val isStart = when(
      prev.isNull || unix_micros(col(tsCol)) - prev > gapSeconds * 1000000L,
      1L).otherwise(0L)
    df.withColumn(out,
      sum(isStart).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Ordered-funnel analysis — the event-analytics staple: for each
    * key, step i completes at the EARLIEST event of `steps(i)` strictly
    * after step i−1's completion (step 0 at the key's earliest
    * `steps(0)` event); the key converts when the last step completes
    * within `horizonUs` microseconds of step 0. One row per key:
    * `step0_us .. step{k-1}_us` (null from the first incomplete step —
    * the chain enforces the prefix property), `steps_completed`,
    * `converted` (false, never null, when incomplete).
    *
    * Shape: only STEP-TYPED rows enter the window exchange — the
    * step-type filter sits under the windows, so it pushes into the
    * scan (among hundreds of event types, a 3-step funnel shuffles the
    * ~3 relevant types, not the corpus; at 100 TB that is the ~100×
    * difference between the exchange you'd want and one that drags
    * every event along). Each step is then a conditional min window
    * over the same partitioning with an UNBOUNDED frame and no
    * ordering — k chained Window operators reuse the one exchange, no
    * sort anywhere, no event-list collection (per-window state is one
    * timestamp); the dedup to one row per key is a hash aggregation
    * riding the same partitioning. The all-keys output (zero-step keys
    * included, matching the unfiltered formulation row-for-row) comes
    * from a null-safe left join of the distinct-key universe — a
    * map-side-combined keys-only aggregate whose exchange carries one
    * key per task, never event rows. Step count is capped at 8 (each
    * step adds a window pass; a funnel deeper than that is a modeling
    * smell, and the cap bounds the plan).
    */
  def funnel(df: DataFrame, keyCol: String, typeCol: String,
      tsCol: String, steps: Seq[String], horizonUs: Long): DataFrame = {
    require(steps.nonEmpty && steps.size <= 8,
      s"steps must be 1..8 events, got ${steps.size}")
    require(steps.distinct.size == steps.size,
      s"funnel steps must be distinct, got $steps")
    require(horizonUs > 0, s"horizonUs must be positive, got $horizonUs")
    val w = Window.partitionBy(col("__k"))
    var acc = df.select(col(keyCol).as("__k"), col(typeCol).as("__t"),
        unix_micros(col(tsCol)).as("__us"))
      .filter(col("__t").isin(steps: _*))
    steps.zipWithIndex.foreach { case (s, i) =>
      val cond =
        if (i == 0) col("__t") === s
        else col("__t") === s && col("__us") > col(s"__s${i - 1}")
      acc = acc.withColumn(s"__s$i", min(when(cond, col("__us"))).over(w))
    }
    val stepCols = steps.indices.map(i =>
      min(col(s"__s$i")).as(s"step${i}_us"))
    val chained = acc.groupBy(col("__k"))
      .agg(stepCols.head, stepCols.tail: _*)
    // null-safe (<=>): the unfiltered formulation groups null keys into
    // one row, and a plain equi-join would silently drop it
    df.select(col(keyCol)).distinct()
      .join(chained, col(keyCol) <=> col("__k"), "left")
      .drop("__k")
      .withColumn("steps_completed",
        steps.indices.map(i => when(col(s"step${i}_us").isNotNull, 1L)
          .otherwise(0L)).reduce(_ + _))
      .withColumn("converted", coalesce(
        col(s"step${steps.size - 1}_us") - col("step0_us") <= horizonUs,
        lit(false)))
  }

  /** Per-step funnel reporting over [[funnel]]'s output — the summary a
    * daily conversion dashboard runs: one row per step with the reach
    * count, conversion rates vs the previous step and vs step 0, and
    * the exact median time from the previous step in whole seconds.
    *
    * Median discipline (the lmQualityBuckets shape — no step's gaps are
    * ever sorted whole, and no unbounded percentile buffer): gaps
    * quantize to seconds (bounded domain ≪ keys), ONE hash aggregation
    * builds the per-(step, gap_s) histogram, cumulative counts run over
    * the HISTOGRAM, and the median is read off the two middle positions
    * — integer arithmetic end-to-end, so the result is bit-identical
    * cross-engine ((v1+v2)/2.0 with v1, v2 the lower/upper middle
    * gap-seconds). Rates are exact bigint-over-bigint divisions,
    * null (not NaN/inf) when the denominator is 0 — cross-engine-safe.
    */
  def funnelSummary(df: DataFrame, keyCol: String, typeCol: String,
      tsCol: String, steps: Seq[String], horizonUs: Long): DataFrame = {
    // the per-key step table is the BUILD the summary derives from —
    // session-memoized ([[graft.ops.BuildMemo]] discipline), so a
    // dashboard refreshing several summary views (or the funnel row
    // and its summary twin in one suite) derives the chained-window
    // funnel once; plan-keyed, so a changed input or parameter set
    // rebuilds
    val perKey = funnel(df, keyCol, typeCol, tsCol, steps, horizonUs)
    val f = graft.ops.BuildMemo.frame(Seq(perKey), "funnel")(perKey)
    val perStep = f.select(explode(array(steps.zipWithIndex.map {
      case (s, i) =>
        struct(lit(i.toLong).as("step_idx"), lit(s).as("step_name"),
          col(s"step${i}_us").isNotNull.as("reached"),
          (if (i == 0) lit(null).cast("long")
           else col(s"step${i}_us") - col(s"step${i - 1}_us"))
            .as("gap_us"))
    }: _*)).as("e")).select(col("e.*"))
    // ONE corpus-side aggregation builds the (step, gap-second) cell
    // table (`div` keeps the quantization integral; a null cell carries
    // the gap-less rows' reach counts) — the funnel subtree is evaluated
    // once, and everything downstream is histogram-sized
    val cells = perStep.groupBy(col("step_idx"), col("step_name"),
        expr("gap_us div 1000000").as("gap_s"))
      .agg(sum(when(col("reached"), 1L).otherwise(0L)).as("__r"),
        count(col("gap_us")).as("__c"))
    val counts = cells.groupBy(col("step_idx"), col("step_name"))
      .agg(sum(col("__r")).as("n_reached"))
    val hist = cells.filter(col("gap_s").isNotNull)
      .select(col("step_idx"), col("gap_s"), col("__c"))
    val wCum = Window.partitionBy(col("step_idx")).orderBy(col("gap_s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("step_idx"))
    val med = hist
      .withColumn("__cum", sum(col("__c")).over(wCum))
      .withColumn("__n", sum(col("__c")).over(wAll))
      .groupBy(col("step_idx"))
      .agg(
        // `div`, not `/`: Spark's / on longs is DOUBLE division, and
        // an integer cum compared to x.5 would shift the middle
        // positions on even counts
        min(when(col("__cum") >= expr("(__n + 1L) div 2L"),
          col("gap_s"))).as("__v1"),
        min(when(col("__cum") >= expr("__n div 2L + 1L"),
          col("gap_s"))).as("__v2"))
      .select(col("step_idx").as("__mi"),
        ((col("__v1") + col("__v2")) / lit(2.0)).as("med_gap_s"))
    val wPrev = Window.orderBy(col("step_idx")) // ≤ 8 rows — driver-tiny
    counts
      .join(med, col("step_idx") === col("__mi"), "left").drop("__mi")
      .withColumn("__prev", lag(col("n_reached"), 1).over(wPrev))
      .withColumn("__n0", first(col("n_reached")).over(
        wPrev.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("step_idx"), col("step_name"), col("n_reached"),
        when(col("__prev") > 0L,
          col("n_reached").cast("double") / col("__prev"))
          .as("conv_from_prev"),
        when(col("__n0") > 0L,
          col("n_reached").cast("double") / col("__n0"))
          .as("conv_from_first"),
        col("med_gap_s"))
  }

  /** Cohort retention matrix — the other daily-driver event-analytics
    * report next to [[funnel]]/[[funnelSummary]]: users are cohorted by
    * the `unit` ("day" | "week" | "month" date_trunc field) of their
    * FIRST event, and each (cohort, periods-since) cell counts the
    * distinct users active that many periods later.
    *
    * Plan shape: one distinct over (user, period) and one per-user min
    * — both partial-aggregable — then a user-keyed equi-join (both
    * sides already hash-partitioned by user, AQE co-locates) and a
    * cells-sized aggregation. Nothing holds unbounded state; the
    * matrix itself is |cohorts| × |periods| rows.
    *
    * `retention` = active/cohort_size — one division of two exact
    * longs, bit-stable across engines.
    */
  def cohortRetention(df: DataFrame, userCol: String, tsCol: String,
      unit: String = "week"): DataFrame = {
    // day/week: the gap in days is an exact multiple of the period (both
    // ends are unit-truncated) so the double division is exact; month:
    // calendar months have no fixed day width — months_between of two
    // month-truncated timestamps is a whole (exactly-representable)
    // double, matching DuckDB's date_diff('month', ...)
    val periodNo: (Column, Column) => Column = unit match {
      case "day" | "week" =>
        val periodDays = if (unit == "day") 1L else 7L
        (w, cw) => (datediff(w, cw).cast("long") / periodDays).cast("long")
      case "month" =>
        (w, cw) => months_between(w, cw).cast("long")
      case other => throw new IllegalArgumentException(
        s"unit must be day, week or month, got '$other'")
    }
    val period = date_trunc(unit, col(tsCol))
    val act = df.where(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol).as("__u"), period.as("__w")).distinct()
    val cohort = act.groupBy(col("__u"))
      .agg(min(col("__w")).as("__cw"))
    val sizes = cohort.groupBy(col("__cw"))
      .agg(count(lit(1)).as("cohort_size"))
    act.join(cohort, "__u")
      .groupBy(col("__cw"),
        periodNo(col("__w"), col("__cw")).as("period_no"))
      .agg(count_distinct(col("__u")).cast("long").as("active_users"))
      .join(sizes, "__cw")
      .select(unix_micros(col("__cw")).as("cohort_us"),
        col("period_no"), col("active_users"), col("cohort_size"),
        (col("active_users").cast("double") /
          col("cohort_size").cast("double")).as("retention"))
      .orderBy(col("cohort_us"), col("period_no"))
  }
}
