package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.GraftQuery
import graft.engine.Shared
import graft.engine.Tables.load

/** Time-series analytics over the daily order-revenue series plus
  * event-level survival analysis — the monitoring/forecast-prep family
  * (seasonal profile, autocorrelation, CUSUM change-point detection,
  * Kaplan-Meier time-to-conversion).
  *
  * 100 TB design: every operator here collapses the corpus FIRST
  * through one map-side-combined aggregate to a DOMAIN-bounded series
  * (calendar days / duration days / day-of-week), and only then runs
  * windows or self-joins on that bounded relation — the documented
  * exception to the "windows only on high-cardinality keys" rule: the
  * windowed INPUT, not the partition key, is what must stay bounded.
  * A century of daily grain is ~37k rows regardless of corpus size.
  *
  * Exactness: revenue quantizes to integer cents at the source; all
  * moments/cumulatives are BIGINT or DECIMAL(38,0) sums of exact
  * integers, and every emitted double is a single IEEE division (or a
  * DECIMAL→double cast) of the same exact integers on both engines, so
  * the DuckDB oracles hash-match bit for bit.
  */
object TimeSeries {

  private val dec38 = DecimalType(38, 0)

  /** Shared series: one row per order date, revenue in exact cents.
    * One map-side-combined aggregate — the only pass over the corpus.
    */
  def dailyRevenue(orders: DataFrame): DataFrame =
    orders
      .select(to_date(col("o_orderdate")).as("day"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      .groupBy("day")
      .agg(sum("cents").as("cents"))

  // Session-memoized day-grain revenue series per (session, dir)
  // (graft.engine.Shared `ts.daily`) — the sharedEdges pattern applied
  // to this family: EVERY registered time-series key starts from the
  // identical dailyRevenue aggregate (a full orders scan), and the STL
  // pair additionally re-nested it 4× inside one plan
  // (q_seasonal_anomalies: 8 orders scans / 8 single-partition windows
  // statically, 4.31 s at sf0.1 when its own stl subtree keys at
  // 0.63 s). The relation is DAY-DOMAIN-bounded (a century is ~37k rows
  // — never corpus-scale), so an EAGER localCheckpoint is the right
  // materialization: the plan truncates to one compact leaf,
  // per-reference re-derivation disappears, and a d-row relation is
  // safe to re-derive on executor loss at any scale. The explicit
  // repartition keeps the tiny relation spread (AQE would coalesce it
  // to ONE partition — the measured theilSen/siegelTrend single-core
  // trap). Per-key bench numbers for the family are attribution (first
  // key pays the scan) — the Bench docstring's shared-memo caveat
  // applies. Divide guards are unaffected by the lineage cut: every
  // denominator in this family derives from aggregates/windows ABOVE
  // the day grain.
  private[graft] def sharedDailyRevenue(s: SparkSession, dir: String): DataFrame =
    Shared("ts.daily", s, dir) {
      dailyRevenue(load(s, dir, "orders"))
        .repartition(s.sparkContext.defaultParallelism)
        .localCheckpoint()
    }

  // Session-memoized STL decomposition per (session, dir)
  // (graft.engine.Shared `ts.stl`, whose build reads `ts.daily`) —
  // decompose is seasonalAnomalies' exact prefix (anomalies = residual
  // z-scores OVER the decompose output), yet each key compiled and ran
  // its own copy of the window/CASE pipeline; the anomalies key's
  // measured cost was DOMINATED by that cold whole-stage-codegen
  // (4.40 s in the r12 pin vs 1.21 s for the same chain warm). One
  // checkpointed copy of the day-domain relation (≤ 37k rows/century —
  // never corpus-scale) serves both keys. Same lifecycle and
  // attribution caveats as [[sharedDailyRevenue]].
  private[graft] def sharedStlResidual(s: SparkSession, dir: String): DataFrame =
    Shared("ts.stl", s, dir) {
      stlCore(load(s, dir, "orders"), Some(sharedDailyRevenue(s, dir)))
        .localCheckpoint()
    }

  // ---- day-of-week seasonal profile -----------------------------------

  /** Seasonal index per day-of-week (0 = Sunday, matching DuckDB's
    * `dayofweek`): mean daily revenue of that weekday over the global
    * mean daily revenue. Classical multiplicative-decomposition
    * seasonality in its exact form — both means are single IEEE
    * divisions of exact BIGINT sums, and the index is one further
    * double division, so the oracle matches bit for bit.
    */
  def seasonality(orders: DataFrame,
      sharedDaily: Option[DataFrame] = None): DataFrame = {
    val daily = sharedDaily.getOrElse(dailyRevenue(orders))
    val tot = daily.agg(sum("cents").as("total_cents"),
      count(lit(1)).as("total_days"))
    val avgDow = col("sum_cents").cast("double") / col("n_days").cast("double")
    val avgAll = col("total_cents").cast("double") / col("total_days").cast("double")
    daily
      .select((dayofweek(col("day")) - 1).cast("long").as("dow"), col("cents"))
      .groupBy("dow")
      .agg(count(lit(1)).as("n_days"), sum("cents").as("sum_cents"))
      .crossJoin(broadcast(tot))
      .select(col("dow"), col("n_days"), col("sum_cents"),
        avgDow.as("avg_cents"),
        (avgDow / avgAll).as("seasonal_index"))
      .orderBy("dow")
  }

  // ---- autocorrelation ------------------------------------------------

  /** Autocorrelation of the daily revenue series at lags 1..maxLag.
    *
    * Exact-integer form: with n days and revenue sum S, the n-scaled
    * deviation dᵗ = n·xᵗ − S is an exact BIGINT (n·Σdᵗ ≡ 0), so
    *
    *   acf(k) = Σₜ dᵗ·dᵗ₊ₖ / Σₜ dᵗ²
    *
    * with both sums DECIMAL(38,0) over exact products and ONE double
    * division at the end. Lag alignment is an equi-join on calendar
    * day + k (gap days simply produce no pair — same on both engines).
    * Integer bound: |d| ≤ days·max_daily_cents, so the BIGINT form
    * holds while days²·daily_cents < 2⁶³ and the DECIMAL(38,0) sums
    * while days·d² < 10³⁸ — decades past any daily-grain series (a
    * century is 37k days).
    *
    * 100 TB design: the corpus collapses to the day grain first; the
    * lag fan-out (explode × maxLag) and self-join run on the bounded
    * series only, with the 1-row stats broadcast.
    */
  def acf(orders: DataFrame, maxLag: Int = 7,
      sharedDaily: Option[DataFrame] = None): DataFrame = {
    val daily = sharedDaily.getOrElse(dailyRevenue(orders))
    val stats = daily.agg(count(lit(1)).as("n"), sum("cents").as("s"))
    val dev = daily.crossJoin(broadcast(stats))
      .select(col("day"), (col("n") * col("cents") - col("s")).as("d"))
    val den = dev
      .agg(sum(col("d").cast(dec38) * col("d").cast(dec38)).as("den"))
    val lagged = dev
      .select(col("day"), col("d"),
        explode(sequence(lit(1), lit(maxLag))).as("lag"))
      .withColumn("tday", date_add(col("day"), col("lag")))
    lagged
      .join(dev.select(col("day").as("tday"), col("d").as("d2")), "tday")
      .groupBy("lag")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("d").cast(dec38) * col("d2").cast(dec38)).as("num"))
      .crossJoin(broadcast(den))
      .select(col("lag").cast("long").as("lag"), col("n_pairs"),
        // den = Σd² is 0 for an all-constant daily series — a real
        // (if degenerate) input. Spark x/0 is NULL, DuckDB is NaN, so
        // nullif on BOTH engines keeps the gate exact (D3 audit).
        (col("num").cast("double") /
          nullif(col("den").cast("double"), lit(0.0))).as("acf"))
      .orderBy("lag")
  }

  /** Ljung-Box portmanteau white-noise test over the daily revenue
    * series (Ljung & Box 1978): Q = n(n+2)·Σ_{k≤h} r²ₖ/(n−k) with the
    * same exact-integer r numerators/denominator as [[acf]]. The ≤h
    * per-lag terms fold ascending-k through an ordered
    * `aggregate(sort_array(collect_list))` so the double summation
    * order is pinned (DuckDB mirrors with a cumulative window, which
    * streams in the same order). The flag compares against the χ²(7)
    * 95th percentile plan literal matching the default h = 7; a caller
    * with a different maxLag should apply their own threshold to
    * q_stat (the statistic itself is h-generic).
    */
  def ljungBox(orders: DataFrame, maxLag: Int = 7,
      sharedDaily: Option[DataFrame] = None): DataFrame = {
    val daily = sharedDaily.getOrElse(dailyRevenue(orders))
    val stats = daily.agg(count(lit(1)).as("n"), sum("cents").as("s"))
    val dev = daily.crossJoin(broadcast(stats))
      .select(col("day"), col("n"), (col("n") * col("cents") - col("s")).as("d"))
    val den = dev
      .agg(sum(col("d").cast(dec38) * col("d").cast(dec38)).as("den"))
    val lagged = dev
      .select(col("day"), col("n"), col("d"),
        explode(sequence(lit(1), lit(maxLag))).as("lag"))
      .withColumn("tday", date_add(col("day"), col("lag")))
    val terms = lagged
      .join(dev.select(col("day").as("tday"), col("d").as("d2")), "tday")
      .groupBy("lag")
      .agg(first(col("n")).as("n"),
        sum(col("d").cast(dec38) * col("d2").cast(dec38)).as("num"))
      .crossJoin(broadcast(den))
      .select(col("lag"), col("n"),
        // den = 0 for an all-constant series (nullif both engines —
        // D3 audit); n − lag ≥ 1 whenever the lag group exists (a pair
        // needs day span > lag) but the same nullif keeps the
        // degenerate algebra engine-identical for free.
        ((col("num").cast("double") /
          nullif(col("den").cast("double"), lit(0.0))) *
          (col("num").cast("double") /
            nullif(col("den").cast("double"), lit(0.0))) /
          nullif((col("n") - col("lag")).cast("double"), lit(0.0)))
          .as("term"))
    // chi2(7) 95th percentile = 14.067140 (plan literal)
    terms
      .agg(first(col("n")).as("n"),
        count(lit(1)).as("h"),
        aggregate(sort_array(collect_list(struct(col("lag"), col("term")))),
          lit(0.0), (acc, x) => acc + x.getField("term")).as("tsum"))
      .select(col("n").as("n_days"), col("h"),
        (col("n").cast("double") * (col("n") + 2L).cast("double") *
          col("tsum")).as("q_stat"),
        (col("n").cast("double") * (col("n") + 2L).cast("double") *
          col("tsum") > 14.067140).cast("int").as("reject_white_noise"))
  }

  // ---- CUSUM change-point ---------------------------------------------

  /** One-sided CUSUM upward-shift statistic over the daily revenue
    * series (Page 1954). The textbook recursion
    * Sₜ = max(0, Sₜ₋₁ + (xₜ − μ − slack)) has the closed form
    *
    *   Sₜ = cumₜ − min(0, min_{j≤t} cumⱼ),   cumₜ = Σ_{i≤t} zᵢ
    *
    * (z = n-scaled deviation minus slack), which is two cumulative
    * windows over the day domain instead of a sequential loop — the
    * [[graft.streaming.EventOps]] streaming twin keeps the recursion's
    * O(1) state instead.
    *
    * Self-fit parameters, exact cross-engine: μ enters as the n-scaled
    * deviation d = n·x − S (no division), and slack = n·σ/2 computes as
    * floor(sqrt(den/n)/2) — sqrt is IEEE-correctly-rounded, so the
    * floor is deterministic on both engines. Flag threshold is the
    * conventional h = 4σ, i.e. 8·slack in the scaled units.
    */
  def cusum(orders: DataFrame,
      sharedDaily: Option[DataFrame] = None): DataFrame = {
    val daily = sharedDaily.getOrElse(dailyRevenue(orders))
    val stats = daily.agg(count(lit(1)).as("n"), sum("cents").as("s"))
    val dev = daily.crossJoin(broadcast(stats))
      .select(col("day"), col("cents"), col("n"),
        (col("n") * col("cents") - col("s")).as("dv"))
    val slackDf = dev.agg(
      floor(sqrt(sum(col("dv").cast(dec38) * col("dv").cast(dec38))
        .cast("double") / first(col("n")).cast("double")) / 2)
        .cast("long").as("slack"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dev.crossJoin(broadcast(slackDf))
      .select(col("day"), col("cents"), col("n"), col("slack"),
        (col("dv") - col("slack")).as("z"))
      .withColumn("cum", sum(col("z")).over(w))
      .withColumn("runmin", least(lit(0L), min(col("cum")).over(w)))
      .select(col("day"), col("cents").as("daily_cents"),
        ((col("cum") - col("runmin")).cast("double") / col("n").cast("double"))
          .as("cusum"),
        ((col("cum") - col("runmin")) > col("slack") * 8).cast("int")
          .as("shift_flag"))
      .orderBy("day")
  }

  // ---- trend / seasonal / residual decomposition ----------------------

  /** Classical additive decomposition of the daily revenue series
    * (the STL shape with a moving-average trend and day-of-week
    * seasonal — Cleveland et al. 1990 fit loess; the classical form
    * is Hyndman & Athanasopoulos ch. 3): trend = centered ±3-day
    * moving average, seasonal = per-weekday mean of the detrended
    * series, residual = the rest.
    *
    * Exactness with a VARYING edge-window width: the trend frame is
    * RANGE ±3 on the day number, so edge/gap windows hold n₇ ∈ 1..7
    * present days. The detrended value (x − sum₇/n₇) scales by
    * 420 = lcm(1..7) into the exact integer du = (n₇x − sum₇)·(420/n₇),
    * so the weekday seasonal mean is one division of two exact BIGINTs
    * and every emitted double is IEEE-pinned.
    *
    * 100 TB design: day-domain windows only (the corpus collapsed in
    * [[dailyRevenue]]); the 7-row seasonal table broadcasts back.
    */
  def stlDecompose(orders: DataFrame,
      sharedDaily: Option[DataFrame] = None,
      sharedStl: Option[DataFrame] = None): DataFrame =
    sharedStl.getOrElse(stlCore(orders, sharedDaily)).orderBy("day")

  /** [[stlDecompose]] without the presentation sort — the shape both
    * the registered decompose key (plus ORDER BY) and the anomalies
    * key (as its moment/score input) consume, so the session memo can
    * hold ONE relation for the pair.
    */
  private def stlCore(orders: DataFrame,
      sharedDaily: Option[DataFrame] = None): DataFrame = {
    val daily = sharedDaily.getOrElse(dailyRevenue(orders))
      .withColumn("day_num", datediff(col("day"), lit("1970-01-01")))
    val wT = Window.orderBy("day_num").rangeBetween(-3, 3)
    val det = daily
      .withColumn("n7", count(lit(1)).over(wT))
      .withColumn("sum7", sum(col("cents")).over(wT))
      .withColumn("du",
        (col("n7") * col("cents") - col("sum7")) * (lit(420L) / col("n7")).cast("long"))
      .withColumn("dow", (dayofweek(col("day")) - 1).cast("long"))
    val seasonal = det.groupBy("dow")
      .agg((sum("du").cast("double") / (count(lit(1)) * 420L).cast("double"))
        .as("seasonal"))
    det.join(broadcast(seasonal), "dow")
      .select(col("day"), col("cents").as("daily_cents"),
        (col("sum7").cast("double") / col("n7").cast("double")).as("trend"),
        col("seasonal"),
        (col("du").cast("double") / 420.0 - col("seasonal")).as("residual"))
  }

  /** Seasonality-aware daily anomaly flags: [[stlDecompose]]'s
    * residuals scored as z-values against the residual distribution —
    * the "unusual FOR a Monday" detector a raw daily z-score cannot
    * express. Residual doubles (already bit-identical cross-engine)
    * quantize to milli-cents, so the moments are exact integer sums
    * (squares through DECIMAL(38,0)/HUGEINT) and z is one shared IEEE
    * formula; flags fire at |z| > 3.
    */
  def seasonalAnomalies(orders: DataFrame,
      sharedDaily: Option[DataFrame] = None,
      sharedStl: Option[DataFrame] = None): DataFrame = {
    // residuals are in CENTS (daily-revenue scale), so milli-cent
    // quantization is already far below any decision boundary; the
    // squared sums still go through DECIMAL(38,0)/HUGEINT because a
    // big day's residual alone squares past 2^63
    // eager lineage cut on the day-domain residual relation: the plan
    // otherwise nests the stl pipeline 4× (res feeds the moments agg
    // AND the scored output; inside stl, det feeds seasonal AND the
    // final select), and the measured cold cost of this key was
    // DOMINATED by whole-stage-codegen compiling those duplicated
    // window/CASE pipelines (probe: full chain 1.21 s warm / 0.06 s
    // hot vs 6.75 s cold in the bench). One checkpointed copy of the
    // ~day-count rows compiles one pipeline; the moments + z tail is
    // trivial. Safe at any scale: the relation is day-domain bounded.
    // With `sharedStl` (the session memo both this key and
    // q_stl_decompose consume) the relation is ALREADY a checkpoint
    // leaf — the ru projection on top is trivial and needs no second
    // materialization.
    val base = sharedStl.getOrElse(
        stlCore(orders, sharedDaily).localCheckpoint())
    val res = base
      .withColumn("ru", floor(col("residual") * 1000 + 0.5).cast("long"))
    val m = res.agg(count(lit(1)).as("n"),
      sum("ru").as("s1"),
      sum(col("ru").cast(dec38) * col("ru").cast(dec38)).as("s2"))
    val mean = col("s1").cast("double") / col("n").cast("double")
    val varp = col("s2").cast("double") / col("n").cast("double") - mean * mean
    res.crossJoin(broadcast(m))
      .select(col("day"), col("daily_cents"), col("residual"),
        when(varp <= 0.0, 0.0)
          .otherwise((col("ru").cast("double") - mean) / sqrt(varp)).as("z"))
      .select(col("day"), col("daily_cents"), col("residual"), col("z"),
        (abs(col("z")) > 3.0).cast("int").as("is_anomaly"))
      .orderBy("day")
  }

  // ---- Kaplan-Meier survival ------------------------------------------

  /** Kaplan-Meier time-to-conversion with right censoring (Kaplan &
    * Meier 1958): per user, entry = first event, "death" = first
    * purchase; users who never purchase are censored at the study end
    * (max ts in the data). Durations are whole days, so the life table
    * domain is bounded by the observation window.
    *
    * Survival S(t) = Π_{s≤t} (n_s − d_s)/n_s with the deaths-first
    * convention (censored at t are still at risk at t). Each ratio is
    * one IEEE division of exact BIGINTs; the cumulative product folds
    * ascending-day via `aggregate(collect_list over window)` — a left
    * fold in frame order, matching DuckDB's streaming window `product`
    * multiplication order, so the doubles are bit-identical.
    *
    * 100 TB design: one shuffle to the user grain, one aggregate to
    * the duration-day domain; the cumulative windows run on that
    * bounded life table only.
    */
  def survivalKm(events: DataFrame): DataFrame = {
    val perUser = events.groupBy("user_id").agg(
      min(col("ts")).as("entry"),
      min(when(col("event_type") === "purchase", col("ts"))).as("conv"))
    val studyEnd = events.agg(max(col("ts")).as("study_end"))
    val durations = perUser.crossJoin(broadcast(studyEnd))
      .select(
        when(col("conv").isNotNull,
          datediff(to_date(col("conv")), to_date(col("entry"))))
          .otherwise(datediff(to_date(col("study_end")), to_date(col("entry"))))
          .cast("long").as("t"),
        col("conv").isNotNull.cast("long").as("ev"))
    val total = durations.agg(count(lit(1)).as("tot"))
    val w = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    durations
      .groupBy("t")
      .agg(sum("ev").as("d"), sum(lit(1L) - col("ev")).as("c"))
      .crossJoin(broadcast(total))
      .withColumn("cumdc", sum(col("d") + col("c")).over(w))
      .select(col("t"), col("d").as("n_events"), col("c").as("n_censored"),
        (col("tot") - col("cumdc") + col("d") + col("c")).as("n_risk"))
      .withColumn("ratio",
        (col("n_risk") - col("n_events")).cast("double") /
          col("n_risk").cast("double"))
      .withColumn("survival",
        aggregate(collect_list(col("ratio")).over(w), lit(1.0),
          (acc, x) => acc * x))
      .select(col("t"), col("n_risk"), col("n_events"), col("n_censored"),
        col("survival"))
      .orderBy("t")
  }

  // ---- registered queries ---------------------------------------------

  /** Shared daily-series SQL fragment for the oracles. */
  /** Theil-Sen robust trend of the daily revenue series (Theil 1950,
    * Sen 1968): slope = MEDIAN of all pairwise slopes
    * (yⱼ−yᵢ)/(xⱼ−xᵢ), intercept = median residual at that slope —
    * the 29%-breakdown-point line OLS ([[graft.operators.RelationalOps]]'s
    * linreg) cannot give: one corrupted billing day drags a
    * least-squares fit but not a median of millions of pair slopes.
    * Both medians cross the DECIMAL(18,6) percentile bridge (the RFM
    * cut discipline), and each slope is ONE IEEE division of exact
    * integer deltas, so the compare path carries no fold-order hazard.
    * Like rankStats, construction runs one eager driver job (the
    * slope median) so the residual pass can use it as a plan literal.
    *
    * 100 TB shape: the corpus collapses to the bounded day grain in
    * one map-side-combined aggregate BEFORE the quadratic pair
    * fan-out, which is (days choose 2) — 2.9M pairs for the fixture's
    * ~2.4k days, 6.7M for a decade — independent of row count. The
    * pair join broadcasts one copy of the bounded series (nested-loop
    * on a bounded side, never a corpus cartesian), and the slope
    * median is a distributed sort + rank selection, never a single
    * percentile buffer. Past ~30k days the d² pair VOLUME itself is
    * the limit — [[siegelTrend]] is the registered scale path with
    * per-anchor bounded buffers.
    */
  def theilSen(orders: DataFrame,
      sharedDaily: Option[DataFrame] = None): DataFrame = {
    // repartition + one materialization of the bounded day grain: AQE
    // coalesces the daily aggregate to ONE partition, which would run
    // the whole d² pair fan-out AND the percentile partials on a
    // single core (measured: the dominant cost at sf0.1); the explicit
    // count is exempt from AQE coalescing, and the checkpoint stops
    // the slope and residual jobs from re-scanning the orders corpus.
    val xy = sharedDaily.getOrElse(dailyRevenue(orders))
      .select(datediff(col("day"), lit("1992-01-01").cast("date"))
        .cast("long").as("x"), col("cents").as("y"))
      .repartition(orders.sparkSession.sparkContext.defaultParallelism)
      .localCheckpoint()
    val slopes = xy.select(col("x").as("x1"), col("y").as("y1"))
      .join(broadcast(xy.select(col("x").as("x2"), col("y").as("y2"))),
        col("x1") < col("x2"))
      .select(((col("y2") - col("y1")).cast(DoubleType) /
        (col("x2") - col("x1")).cast(DoubleType)).as("slope"))
    // Exact median by DISTRIBUTED Tungsten sort + rank selection, not
    // a percentile aggregate: percentile funnels all d²/2 slopes into
    // one OpenHashMap buffer on a single task (measured 10.5 s vs
    // 2.5 s at sf0.1, bit-identical result). The interpolation is
    // percentile/quantile_cont's own formula — lower + (upper−lower)
    // · 0.5 at the two middle ranks — and the DECIMAL(18,6) bridge
    // runs through the SAME Spark cast on a 1-row plan, so the
    // compare-path value is unchanged.
    val nPairs = slopes.count()
    // Degenerate input (fewer than two distinct days → zero slope
    // pairs) stays QUERYABLE (r8 ADVICE): return the same schema with
    // null slope/intercept instead of throwing, matching what a SQL
    // engine's percentile-over-empty would produce. Real calendars
    // never hit this; the guard exists so ad-hoc slices don't crash.
    if (nPairs == 0) {
      return xy.agg(count(lit(1)).as("n_days"))
        .select(lit(0L).as("n_pairs"), col("n_days"),
          lit(null).cast(DoubleType).as("slope_cents_per_day"),
          lit(null).cast(DoubleType).as("intercept_cents"))
    }
    val (loIdx, hiIdx) = ((nPairs - 1) / 2, nPairs / 2)
    val picks = slopes.orderBy("slope").select("slope").rdd
      .zipWithIndex().filter { case (_, i) => i == loIdx || i == hiIdx }
      .map(_._1.getDouble(0)).collect().sorted
    val rawSlope = picks(0) + (picks(picks.length - 1) - picks(0)) * 0.5
    val slope = xy.sparkSession.range(1)
      .select(lit(rawSlope).cast(DecimalType(18, 6)).cast(DoubleType))
      .head().getDouble(0)
    xy.select((col("y") - lit(slope) * col("x")).as("r"))
      .agg(count(lit(1)).as("n_days"),
        expr("percentile(r, 0.5)").cast(DecimalType(18, 6))
          .cast(DoubleType).as("intercept_cents"))
      .select(lit(nPairs).as("n_pairs"), col("n_days"),
        lit(slope).as("slope_cents_per_day"), col("intercept_cents"))
  }

  /** Siegel repeated-median trend (Siegel 1982, "Robust regression
    * using repeated medians") — [[theilSen]]'s SCALE PATH: slope =
    * median over points i of ( median over j≠i of slope(i,j) ), a
    * 50%-breakdown estimator whose pair fan-out is the same d² rows
    * but is GROUPED BY the anchor point, so no single percentile
    * buffer ever holds more than d−1 slopes — the per-point medians
    * parallelize across the day domain and the outer median sees d
    * values. Intercept = median residual at the repeated-median slope
    * (same as theilSen). Every median crosses the DECIMAL(18,6)
    * bridge, inner medians included, so the outer percentile and the
    * residual pass consume engine-identical doubles.
    *
    * 100 TB shape: corpus → bounded day grain first (one map-side
    * combined aggregate); the whole bounded series broadcasts as ONE
    * collect_list array, so each anchor's d−1 slopes and their median
    * evaluate inside whole-stage codegen over d rows — d buffers of
    * d−1 values distributed across the cluster, zero d²-row shuffle —
    * the shape that survives a 30k-day decade where theilSen's single
    * 450M-slope percentile buffer does not.
    */
  def siegelTrend(orders: DataFrame,
      sharedDaily: Option[DataFrame] = None): DataFrame = {
    // materialize the bounded day grain ONCE (localCheckpoint, eager):
    // the estimator's three jobs (series array, slope median, residual
    // median) would otherwise each re-scan the orders corpus — measured
    // 4 scans → 1 at sf0.1 (6.4 s → ~2 s). A d-row relation is safe to
    // re-derive on executor loss, so the non-fault-tolerant local
    // checkpoint is the right materialization at any scale.
    // The explicit repartition matters: AQE coalesces the tiny daily
    // aggregate to ONE partition, which would serialize the d
    // per-point median computations onto a single core (measured 4 s
    // single-threaded vs 0.2 s spread at sf0.1). A user-specified
    // partition count is exempt from AQE coalescing, so the d rows
    // stay spread across the cluster.
    val xy = sharedDaily.getOrElse(dailyRevenue(orders))
      .select(datediff(col("day"), lit("1992-01-01").cast("date"))
        .cast("long").as("x"), col("cents").as("y"))
      .repartition(orders.sparkSession.sparkContext.defaultParallelism)
      .localCheckpoint()
    // The series is bounded by the DAY domain, so one collect_list row
    // (d structs) broadcasts it and each anchor's d−1 slopes + median
    // run INSIDE whole-stage codegen — no d²-row shuffle, no
    // percentile buffers. Interpolation mirrors percentile /
    // quantile_cont exactly: lo + (hi − lo) * 0.5, not (lo + hi) / 2
    // (one extra rounding step — a last-ulp cross-engine hazard).
    val series = xy.agg(collect_list(struct(col("x"), col("y"))).as("pts"))
    val perPoint = xy.select(col("x").as("ax"), col("y").as("ay"))
      .crossJoin(broadcast(series))
      .select(expr(
        """sort_array(transform(filter(pts, p -> p.x <> ax),
          |  p -> CAST(p.y - ay AS DOUBLE) / CAST(p.x - ax AS DOUBLE)))"""
          .stripMargin).as("sl"))
      .select(expr(
        """CASE WHEN size(sl) = 0 THEN NULL
          |     WHEN size(sl) % 2 = 1
          |       THEN element_at(sl, CAST(size(sl) div 2 + 1 AS INT))
          |     ELSE element_at(sl, CAST(size(sl) div 2 AS INT)) +
          |          (element_at(sl, CAST(size(sl) div 2 + 1 AS INT)) -
          |           element_at(sl, CAST(size(sl) div 2 AS INT))) * 0.5D END"""
          .stripMargin)
        .cast(DecimalType(18, 6)).cast(DoubleType).as("ms"))
    val m = perPoint.agg(count(lit(1)).as("n_points"),
      expr("percentile(ms, 0.5)").cast(DecimalType(18, 6))
        .cast(DoubleType).as("slope_cpd")).head()
    val (nPoints, slope) = (m.getLong(0), m.getDouble(1))
    xy.select((col("y") - lit(slope) * col("x")).as("r"))
      .agg(count(lit(1)).as("n_days"),
        expr("percentile(r, 0.5)").cast(DecimalType(18, 6))
          .cast(DoubleType).as("intercept_cents"))
      .select(lit(nPoints).as("n_points"), col("n_days"),
        lit(slope).as("slope_cents_per_day"), col("intercept_cents"))
  }

  private val dailySql =
    """SELECT CAST(o_orderdate AS DATE) AS day,
      |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1""".stripMargin

  /** Shared oracle core for the STL family (no ORDER BY so wrappers
    * can reuse it as a subquery).
    */
  private lazy val stlOracleCore: String =
    s"""WITH daily AS ($dailySql),
           |d AS (SELECT day, cents,
           |        CAST(datediff('day', DATE '1970-01-01', day) AS BIGINT) AS day_num
           |      FROM daily),
           |t AS (SELECT day, cents, day_num,
           |        CAST(count(*) OVER (ORDER BY day_num RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS n7,
           |        CAST(sum(cents) OVER (ORDER BY day_num RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS sum7
           |      FROM d),
           |e AS (SELECT day, cents, n7, sum7,
           |        (n7 * cents - sum7) * (420 // n7) AS du,
           |        CAST(dayofweek(day) AS BIGINT) AS dow
           |      FROM t),
           |s AS (SELECT dow, CAST(sum(du) AS DOUBLE) / CAST(count(*) * 420 AS DOUBLE) AS seasonal
           |      FROM e GROUP BY dow)
           |SELECT day, cents AS daily_cents,
           |       CAST(sum7 AS DOUBLE) / CAST(n7 AS DOUBLE) AS trend,
           |       seasonal,
           |       CAST(du AS DOUBLE) / 420.0 - seasonal AS residual
           |FROM e JOIN s USING (dow)""".stripMargin

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q_theil_sen",
      "Theil-Sen robust daily-revenue trend: median pairwise slope + median-residual intercept (DECIMAL bridge)",
      (s, dir) => theilSen(load(s, dir, "orders"),
        sharedDaily = Some(sharedDailyRevenue(s, dir))),
      Some(
        s"""WITH daily AS ($dailySql),
           |xy AS (
           |  SELECT CAST(datediff('day', DATE '1992-01-01', day) AS BIGINT) AS x, cents AS y
           |  FROM daily),
           |sl AS (
           |  SELECT CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
           |  FROM xy a JOIN xy b ON a.x < b.x),
           |m AS (
           |  SELECT count(*) AS n_pairs,
           |         CAST(CAST(quantile_cont(slope, 0.5) AS DECIMAL(18,6)) AS DOUBLE) AS slope_cpd
           |  FROM sl),
           |res AS (SELECT y - (SELECT slope_cpd FROM m) * x AS r FROM xy),
           |i AS (
           |  SELECT count(*) AS n_days,
           |         CAST(CAST(quantile_cont(r, 0.5) AS DECIMAL(18,6)) AS DOUBLE) AS intercept_cents
           |  FROM res)
           |SELECT n_pairs, n_days, slope_cpd AS slope_cents_per_day, intercept_cents
           |FROM m, i ORDER BY n_pairs""".stripMargin)),
    GraftQuery("q_siegel_trend",
      "Siegel repeated-median trend: per-point slope medians then median-of-medians — the bounded-buffer scale path for q_theil_sen",
      (s, dir) => siegelTrend(load(s, dir, "orders"),
        sharedDaily = Some(sharedDailyRevenue(s, dir))),
      Some(
        s"""WITH daily AS ($dailySql),
           |xy AS (
           |  SELECT CAST(datediff('day', DATE '1992-01-01', day) AS BIGINT) AS x, cents AS y
           |  FROM daily),
           |sl AS (
           |  SELECT a.x AS x1, CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
           |  FROM xy a JOIN xy b ON a.x <> b.x),
           |pp AS (
           |  SELECT x1, CAST(CAST(quantile_cont(slope, 0.5) AS DECIMAL(18,6)) AS DOUBLE) AS ms
           |  FROM sl GROUP BY x1),
           |m AS (
           |  SELECT count(*) AS n_points,
           |         CAST(CAST(quantile_cont(ms, 0.5) AS DECIMAL(18,6)) AS DOUBLE) AS slope_cpd
           |  FROM pp),
           |res AS (SELECT y - (SELECT slope_cpd FROM m) * x AS r FROM xy),
           |i AS (
           |  SELECT count(*) AS n_days,
           |         CAST(CAST(quantile_cont(r, 0.5) AS DECIMAL(18,6)) AS DOUBLE) AS intercept_cents
           |  FROM res)
           |SELECT n_points, n_days, slope_cpd AS slope_cents_per_day, intercept_cents
           |FROM m, i ORDER BY n_points""".stripMargin)),
    GraftQuery("q_seasonality",
      "day-of-week seasonal index of daily revenue (exact cents sums, one IEEE division per mean)",
      (s, dir) => seasonality(load(s, dir, "orders"),
        sharedDaily = Some(sharedDailyRevenue(s, dir))),
      Some(
        s"""WITH daily AS ($dailySql),
           |tot AS (SELECT CAST(sum(cents) AS BIGINT) AS total_cents, count(*) AS total_days FROM daily),
           |d AS (SELECT CAST(dayofweek(day) AS BIGINT) AS dow, count(*) AS n_days,
           |             CAST(sum(cents) AS BIGINT) AS sum_cents
           |      FROM daily GROUP BY 1)
           |SELECT dow, n_days, sum_cents,
           |       CAST(sum_cents AS DOUBLE) / CAST(n_days AS DOUBLE) AS avg_cents,
           |       (CAST(sum_cents AS DOUBLE) / CAST(n_days AS DOUBLE)) /
           |       (CAST(total_cents AS DOUBLE) / CAST(total_days AS DOUBLE)) AS seasonal_index
           |FROM d, tot ORDER BY dow""".stripMargin)),
    GraftQuery("q_acf",
      "autocorrelation of daily revenue at lags 1..7 (n-scaled integer deviations, DECIMAL(38,0) moment sums)",
      (s, dir) => acf(load(s, dir, "orders"),
        sharedDaily = Some(sharedDailyRevenue(s, dir))),
      Some(
        s"""WITH daily AS ($dailySql),
           |st AS (SELECT count(*) AS n, CAST(sum(cents) AS BIGINT) AS s FROM daily),
           |dev AS (SELECT day, CAST(n * cents - s AS BIGINT) AS d FROM daily, st),
           |den AS (SELECT sum(CAST(d AS HUGEINT) * CAST(d AS HUGEINT)) AS den FROM dev),
           |pairs AS (
           |  SELECT l.lag, a.d AS d1, b.d AS d2
           |  FROM (SELECT CAST(x AS BIGINT) AS lag FROM range(1, 8) t(x)) l
           |  CROSS JOIN dev a
           |  JOIN dev b ON b.day = a.day + CAST(l.lag AS INT)),
           |nums AS (
           |  SELECT lag, count(*) AS n_pairs,
           |         sum(CAST(d1 AS HUGEINT) * CAST(d2 AS HUGEINT)) AS num
           |  FROM pairs GROUP BY lag)
           |SELECT lag, n_pairs, CAST(num AS DOUBLE) / nullif(CAST(den AS DOUBLE), 0.0) AS acf
           |FROM nums, den ORDER BY lag""".stripMargin)),
    GraftQuery("q_ljung_box",
      "Ljung-Box white-noise portmanteau test at h=7 over daily revenue (ordered term fold, chi2 flag)",
      (s, dir) => ljungBox(load(s, dir, "orders"),
        sharedDaily = Some(sharedDailyRevenue(s, dir))),
      Some(
        s"""WITH daily AS ($dailySql),
           |st AS (SELECT count(*) AS n, CAST(sum(cents) AS BIGINT) AS s FROM daily),
           |dev AS (SELECT day, n, CAST(n * cents - s AS BIGINT) AS d FROM daily, st),
           |den AS (SELECT sum(CAST(d AS HUGEINT) * CAST(d AS HUGEINT)) AS den FROM dev),
           |pairs AS (
           |  SELECT l.lag, a.n, a.d AS d1, b.d AS d2
           |  FROM (SELECT CAST(x AS BIGINT) AS lag FROM range(1, 8) t(x)) l
           |  CROSS JOIN dev a
           |  JOIN dev b ON b.day = a.day + CAST(l.lag AS INT)),
           |nums AS (
           |  SELECT lag, any_value(n) AS n,
           |         sum(CAST(d1 AS HUGEINT) * CAST(d2 AS HUGEINT)) AS num
           |  FROM pairs GROUP BY lag),
           |terms AS (
           |  SELECT lag, n,
           |         (CAST(num AS DOUBLE) / nullif(CAST(den AS DOUBLE), 0.0)) *
           |         (CAST(num AS DOUBLE) / nullif(CAST(den AS DOUBLE), 0.0)) /
           |         nullif(CAST(n - lag AS DOUBLE), 0.0) AS term
           |  FROM nums, den),
           |c AS (
           |  SELECT n,
           |         sum(term) OVER (ORDER BY lag ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tsum,
           |         count(*) OVER () AS h,
           |         row_number() OVER (ORDER BY lag DESC) AS rn
           |  FROM terms)
           |SELECT n AS n_days, CAST(h AS BIGINT) AS h,
           |       CAST(n AS DOUBLE) * CAST(n + 2 AS DOUBLE) * tsum AS q_stat,
           |       CAST(CAST(n AS DOUBLE) * CAST(n + 2 AS DOUBLE) * tsum > 14.067140 AS INT) AS reject_white_noise
           |FROM c WHERE rn = 1 ORDER BY n_days""".stripMargin)),
    GraftQuery("q_cusum",
      "one-sided CUSUM change-point stat over daily revenue (closed-form cum - running-min, self-fit slack = sigma/2)",
      (s, dir) => cusum(load(s, dir, "orders"),
        sharedDaily = Some(sharedDailyRevenue(s, dir))),
      Some(
        s"""WITH daily AS ($dailySql),
           |st AS (SELECT count(*) AS n, CAST(sum(cents) AS BIGINT) AS s FROM daily),
           |d AS (SELECT day, cents, n, CAST(n * cents - s AS BIGINT) AS dv FROM daily, st),
           |sl AS (SELECT CAST(floor(sqrt(CAST(sum(CAST(dv AS HUGEINT) * CAST(dv AS HUGEINT)) AS DOUBLE)
           |                 / CAST(any_value(n) AS DOUBLE)) / 2) AS BIGINT) AS slack FROM d),
           |z AS (SELECT day, cents, n, slack, dv - slack AS z FROM d, sl),
           |c AS (SELECT day, cents, n, slack,
           |        CAST(sum(z) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
           |      FROM z),
           |r AS (SELECT day, cents, n, slack, cum,
           |        least(CAST(0 AS BIGINT),
           |              CAST(min(cum) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)) AS runmin
           |      FROM c)
           |SELECT day, cents AS daily_cents,
           |       CAST(cum - runmin AS DOUBLE) / CAST(n AS DOUBLE) AS cusum,
           |       CAST(cum - runmin > slack * 8 AS INT) AS shift_flag
           |FROM r ORDER BY day""".stripMargin)),
    GraftQuery("q_stl_decompose",
      "classical additive trend/seasonal/residual decomposition of daily revenue (lcm-scaled exact integers)",
      (s, dir) => stlDecompose(load(s, dir, "orders"),
        sharedStl = Some(sharedStlResidual(s, dir))),
      Some(stlOracleCore + " ORDER BY day")),
    GraftQuery("q_seasonal_anomalies",
      "seasonality-aware daily anomaly flags: STL residual z-scores from exact micro-unit moments, |z| > 3",
      (s, dir) => seasonalAnomalies(load(s, dir, "orders"),
        sharedStl = Some(sharedStlResidual(s, dir))),
      Some(
        s"""WITH stl AS (SELECT * FROM ($stlOracleCore)),
           |q AS (SELECT day, daily_cents, residual,
           |        CAST(floor(residual * 1000 + 0.5) AS BIGINT) AS ru
           |      FROM stl),
           |m AS (SELECT count(*) AS n, CAST(sum(ru) AS BIGINT) AS s1,
           |             sum(CAST(ru AS HUGEINT) * CAST(ru AS HUGEINT)) AS s2 FROM q),
           |zz AS (
           |  SELECT day, daily_cents, residual,
           |         CASE WHEN (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) -
           |                    (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) *
           |                    (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))) <= 0.0 THEN 0.0
           |              ELSE (CAST(ru AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) /
           |                   sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) -
           |                        (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) *
           |                        (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))) END AS z
           |  FROM q, m)
           |SELECT day, daily_cents, residual, z,
           |       CAST(abs(z) > 3.0 AS INT) AS is_anomaly
           |FROM zz ORDER BY day""".stripMargin)),
    GraftQuery("q_survival_km",
      "Kaplan-Meier time-to-first-purchase with right censoring (life table over the bounded duration-day domain)",
      (s, dir) => survivalKm(load(s, dir, "events")),
      Some(
        """WITH pu AS (
          |  SELECT user_id, min(ts) AS entry,
          |         min(CASE WHEN event_type = 'purchase' THEN ts END) AS conv
          |  FROM events GROUP BY 1),
          |se AS (SELECT max(ts) AS study_end FROM events),
          |dur AS (
          |  SELECT CAST(CASE WHEN conv IS NOT NULL
          |              THEN datediff('day', CAST(entry AS DATE), CAST(conv AS DATE))
          |              ELSE datediff('day', CAST(entry AS DATE), CAST(study_end AS DATE)) END AS BIGINT) AS t,
          |         CAST(conv IS NOT NULL AS BIGINT) AS ev
          |  FROM pu, se),
          |byt AS (SELECT t, CAST(sum(ev) AS BIGINT) AS d, CAST(sum(1 - ev) AS BIGINT) AS c FROM dur GROUP BY t),
          |tot AS (SELECT count(*) AS tot FROM dur),
          |base AS (
          |  SELECT t, d AS n_events, c AS n_censored,
          |         tot - CAST(sum(d + c) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          |           + d + c AS n_risk
          |  FROM byt, tot),
          |r AS (SELECT t, n_risk, n_events, n_censored,
          |        CAST(n_risk - n_events AS DOUBLE) / CAST(n_risk AS DOUBLE) AS ratio FROM base)
          |SELECT t, n_risk, n_events, n_censored,
          |       product(ratio) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS survival
          |FROM r ORDER BY t""".stripMargin)),
  )
}
