package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.GraftQuery
import graft.engine.Tables.load

/** Revenue / customer-base analytics: RFM segmentation, month-over-
  * month growth, cohort lifetime value, inter-order gap distribution,
  * and Wilson confidence intervals — the reporting family a warehouse
  * serves daily.
  *
  * 100 TB design: every key reduces the corpus FIRST (per-customer /
  * per-(nation, month) / per-(cohort, age) keyed aggregates, map-side
  * combined), then works on the reduced relation; lag/cumsum windows
  * partition per nation or cohort over bounded month domains, and
  * quantile cuts ride a broadcast 1-row cross join (the
  * surprisal-buckets pattern), never a global rank window.
  */
object RevenueOps {

  private def cents(c: Column): Column =
    floor(c * 100 + 0.5).cast("long")

  /** Exact percentile cut rounded through DECIMAL(18,6) — the
    * established cross-engine bridge to DuckDB's `quantile_cont`.
    */
  private def pct(c: String, p: Double): Column =
    expr(s"percentile($c, $p)").cast(DecimalType(18, 6)).cast(DoubleType)

  // ---- RFM segmentation -----------------------------------------------

  /** RFM segmentation (Hughes 1994): per customer, Recency = days
    * since last order vs the dataset's reference day, Frequency =
    * order count, Monetary = exact lifetime cents; each scored 1-3 by
    * exact tercile cuts (3 best: most recent / most often / most
    * spent), concatenated into the 27-cell segment label.
    *
    * Scale note: `percentile` buffers per-DISTINCT-value counts, fine
    * for the bounded recency/frequency axes but proportional to
    * distinct lifetime totals on the monetary axis. Past ~10⁸
    * customers either pre-quantize monetary to a coarser grain before
    * the cut aggregate or swap [[pct]] for `approx_percentile` with a
    * documented tolerance — the scoring/labeling stages are unchanged
    * by where the cuts come from.
    */
  def rfm(s: SparkSession, dir: String): DataFrame = {
    val orders = load(s, dir, "orders")
    val per = orders.groupBy("o_custkey").agg(
      max(to_date(col("o_orderdate"))).as("last_day"),
      count(lit(1)).as("frequency"),
      sum(cents(col("o_totalprice"))).as("monetary_cents"))
    val ref = orders.agg(max(to_date(col("o_orderdate"))).as("ref_day"))
    val base = per.crossJoin(broadcast(ref))
      .select(col("o_custkey").as("custkey"),
        datediff(col("ref_day"), col("last_day")).cast("long").as("recency_days"),
        col("frequency"), col("monetary_cents"))
    val cuts = base.agg(
      pct("recency_days", 0.3333).as("r33"), pct("recency_days", 0.6667).as("r66"),
      pct("frequency", 0.3333).as("f33"), pct("frequency", 0.6667).as("f66"),
      pct("monetary_cents", 0.3333).as("m33"), pct("monetary_cents", 0.6667).as("m66"))
    val r = when(col("recency_days") <= col("r33"), 3)
      .when(col("recency_days") <= col("r66"), 2).otherwise(1)
    val f = when(col("frequency") <= col("f33"), 1)
      .when(col("frequency") <= col("f66"), 2).otherwise(3)
    val m = when(col("monetary_cents") <= col("m33"), 1)
      .when(col("monetary_cents") <= col("m66"), 2).otherwise(3)
    base.crossJoin(broadcast(cuts))
      .select(col("custkey"), col("recency_days"), col("frequency"),
        col("monetary_cents"),
        r.as("r_score"), f.as("f_score"), m.as("m_score"),
        concat(r.cast("string"), f.cast("string"), m.cast("string"))
          .as("segment"))
      .orderBy("custkey")
  }

  // ---- month-over-month growth ----------------------------------------

  /** Month-over-month revenue growth per nation: lag window over the
    * bounded month domain within each nation; growth is one IEEE
    * division of exact cents (null for each nation's first month).
    */
  def momGrowth(s: SparkSession, dir: String): DataFrame = {
    val monthly = load(s, dir, "orders")
      .join(load(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("nationkey"),
        trunc(to_date(col("o_orderdate")), "month").as("month"),
        cents(col("o_totalprice")).as("c"))
      .groupBy("nationkey", "month").agg(sum("c").as("cents"))
    val w = Window.partitionBy("nationkey").orderBy("month")
    monthly
      .withColumn("prev_cents", lag(col("cents"), 1).over(w))
      .select(col("nationkey"), col("month"), col("cents"), col("prev_cents"),
        ((col("cents") - col("prev_cents")).cast("double") /
          col("prev_cents").cast("double")).as("growth"))
      .orderBy("nationkey", "month")
  }

  /** Year-over-year growth with calendar alignment: each (nation,
    * month) cell against the SAME month one year earlier — a lag-12
    * row offset would silently misalign on any gap month, so the
    * comparison is an equi-join on the shifted month key instead.
    * Left join keeps cells with no prior-year baseline (growth null).
    */
  def yoyGrowth(s: SparkSession, dir: String): DataFrame = {
    val monthly = load(s, dir, "orders")
      .join(load(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("nationkey"),
        trunc(to_date(col("o_orderdate")), "month").as("month"),
        cents(col("o_totalprice")).as("c"))
      .groupBy("nationkey", "month").agg(sum("c").as("cents"))
    val prior = monthly.select(col("nationkey"),
      add_months(col("month"), 12).as("month"),
      col("cents").as("prev_year_cents"))
    monthly.join(prior, Seq("nationkey", "month"), "left")
      .select(col("nationkey"), col("month"), col("cents"),
        col("prev_year_cents"),
        ((col("cents") - col("prev_year_cents")).cast("double") /
          col("prev_year_cents").cast("double")).as("yoy_growth"))
      .orderBy("nationkey", "month")
  }

  // ---- cohort lifetime value ------------------------------------------

  /** Cohort LTV curve: customers cohorted by first-order month; each
    * (cohort, age-in-months) cell carries that month's revenue, the
    * running cumulative, and cumulative revenue per cohort member —
    * the triangle the retention view prices. Cumsum windows run per
    * cohort over the bounded age domain.
    */
  def cohortLtv(s: SparkSession, dir: String): DataFrame = {
    val orders = load(s, dir, "orders")
      .select(col("o_custkey"),
        trunc(to_date(col("o_orderdate")), "month").as("month"),
        cents(col("o_totalprice")).as("c"))
    val firstOrder = orders.groupBy("o_custkey")
      .agg(min(col("month")).as("cohort"))
    val cohortSize = firstOrder.groupBy("cohort")
      .agg(count(lit(1)).as("n_customers"))
    val cells = orders.join(firstOrder, "o_custkey")
      .select(col("cohort"),
        floor(months_between(col("month"), col("cohort"))).cast("long").as("age"),
        col("c"))
      .groupBy("cohort", "age").agg(sum("c").as("revenue_cents"))
    val w = Window.partitionBy("cohort").orderBy("age")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.join(cohortSize, "cohort")
      .withColumn("cum_cents", sum(col("revenue_cents")).over(w))
      .select(col("cohort"), col("age"), col("n_customers"),
        col("revenue_cents"), col("cum_cents"),
        (col("cum_cents").cast("double") / col("n_customers").cast("double"))
          .as("ltv_per_user"))
      .orderBy("cohort", "age")
  }

  // ---- inter-order gap distribution -----------------------------------

  /** Distribution of gaps (whole days) between a customer's
    * consecutive orders: per-customer lag window, then a
    * domain-bounded histogram with exact shares — purchase-cadence
    * profiling.
    */
  def interarrival(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("day"), col("o_orderkey"))
    val gaps = load(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("day"))
      .withColumn("prev", lag(col("day"), 1).over(w))
      .where(col("prev").isNotNull)
      .select(datediff(col("day"), col("prev")).cast("long").as("gap_days"))
    val total = gaps.agg(count(lit(1)).as("total"))
    gaps.groupBy("gap_days").agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(total))
      .select(col("gap_days"), col("n_pairs"),
        (col("n_pairs").cast("double") / col("total").cast("double"))
          .as("share"))
      .orderBy("gap_days")
  }

  // ---- revenue concentration (Pareto ratio) ---------------------------

  /** Revenue concentration: the share of total revenue contributed by
    * customers above the p80 lifetime-spend cut (the "80/20" check),
    * plus the top cohort's size. The cut rides the percentile →
    * DECIMAL(18,6) broadcast bridge (same caveat as [[rfm]]'s monetary
    * axis at extreme scale); everything else is two exact conditional
    * sums and single IEEE divisions.
    */
  def paretoShare(s: SparkSession, dir: String): DataFrame = {
    val per = load(s, dir, "orders").groupBy("o_custkey")
      .agg(sum(cents(col("o_totalprice"))).as("m"))
    val cut = per.agg(pct("m", 0.8).as("p80"))
    per.crossJoin(broadcast(cut))
      .agg(
        count(lit(1)).as("n_customers"),
        sum((col("m") > col("p80")).cast("long")).as("n_top"),
        sum("m").as("total_cents"),
        sum(when(col("m") > col("p80"), col("m")).otherwise(0L)).as("top_cents"))
      .select(col("n_customers"), col("n_top"), col("total_cents"), col("top_cents"),
        (col("n_top").cast("double") / col("n_customers").cast("double"))
          .as("top_customer_share"),
        (col("top_cents").cast("double") / col("total_cents").cast("double"))
          .as("top_revenue_share"))
  }

  // ---- spend-decile concentration report ------------------------------

  /** Lorenz-style decile report: customers bucketed by the nine exact
    * decile cuts of lifetime spend (broadcast 1-row, same bridge as
    * [[rfm]]); per decile, the customer count, revenue, and exact
    * revenue share. Ties on a cut fall to the lower bucket on both
    * engines (strict > against each cut).
    */
  def decileReport(s: SparkSession, dir: String): DataFrame = {
    val per = load(s, dir, "orders").groupBy("o_custkey")
      .agg(sum(cents(col("o_totalprice"))).as("m"))
    val cutCols = (1 to 9).map(i => pct("m", i / 10.0).as(s"d$i"))
    val cuts = per.agg(cutCols.head, cutCols.tail: _*)
    val decile = (1 to 9).foldLeft(lit(1)) {
      case (acc, i) => acc + (col("m") > col(s"d$i")).cast("int")
    }
    val total = per.agg(sum("m").as("total_cents"))
    per.crossJoin(broadcast(cuts))
      .select(decile.as("decile"), col("m"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_customers"), sum("m").as("revenue_cents"))
      .crossJoin(broadcast(total))
      .select(col("decile").cast("long").as("decile"),
        col("n_customers"), col("revenue_cents"),
        (col("revenue_cents").cast("double") / col("total_cents").cast("double"))
          .as("revenue_share"))
      .orderBy("decile")
  }

  // ---- Wilson confidence intervals ------------------------------------

  /** 95% Wilson score interval (Wilson 1927) for each event type's
    * high-value rate (value > 250) — the ranking-safe proportion CI
    * (never leaves [0,1], sane at small n). Both engines evaluate the
    * IDENTICAL expression tree over exact counts: one division for p,
    * then IEEE mul/div/sqrt only (the oracle pins z to DOUBLE — a bare
    * 1.96 literal is DECIMAL in DuckDB and squares exactly, one ulp
    * off the double product).
    */
  def wilsonCi(s: SparkSession, dir: String): DataFrame = {
    val z = lit(1.96)
    val agg = load(s, dir, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum((col("value") > 250).cast("long")).as("successes"))
    val n = col("n").cast("double")
    val p = col("successes").cast("double") / n
    val denom = lit(1.0) + z * z / n
    val center = p + z * z / (lit(2.0) * n)
    // p = s/n ≤ 1 exactly (correctly-rounded division of s ≤ n), so
    // the argument is provably ≥ 0 — greatest(·, 0) is a numeric no-op
    // that makes the D4 audit's non-negativity structural. Mirrored in
    // the oracle so the expression trees stay identical.
    val half = z * sqrt(greatest(
      p * (lit(1.0) - p) / n + z * z / (lit(4.0) * n * n), lit(0.0)))
    agg.select(col("event_type"), col("n"), col("successes"),
        p.as("p"),
        ((center - half) / denom).as("ci_lo"),
        ((center + half) / denom).as("ci_hi"))
      .orderBy("event_type")
  }

  // ---- categorical association (Cramér's V) ---------------------------

  /** Association between two categorical columns — here customer
    * nation × market segment — as the χ² statistic over the bounded
    * contingency table plus Cramér's V = sqrt(χ²/(n·(min(r,c)−1))).
    * All counts exact; E = row·col/n enters as one IEEE division per
    * cell and the χ² terms sum through an ordered fold over the
    * bounded cell list (the [[graft.ext.TimeSeries.ljungBox]]
    * pattern); the summed χ² additionally rounds through
    * DECIMAL(18,8) on both engines because DuckDB's windowed double
    * sum is not a strict left fold at contingency-table sizes (the
    * same bridge the percentile cuts use).
    */
  def cramersV(s: SparkSession, dir: String): DataFrame = {
    val cells = load(s, dir, "customer")
      .groupBy(col("c_nationkey").as("r"), col("c_mktsegment").as("cc"))
      .agg(count(lit(1)).as("o"))
    val rows = cells.groupBy("r").agg(sum("o").as("rtot"))
    val cols = cells.groupBy("cc").agg(sum("o").as("ctot"))
    val tot = cells.agg(sum(col("o")).as("n"),
      countDistinct(col("r")).as("nr"), countDistinct(col("cc")).as("nc"))
    val term = {
      val e = col("rtot").cast("double") * col("ctot").cast("double") /
        col("n").cast("double")
      (col("o").cast("double") - e) * (col("o").cast("double") - e) / e
    }
    cells.join(rows, "r").join(cols, "cc").crossJoin(broadcast(tot))
      .select(col("r"), col("cc"), col("n"), col("nr"), col("nc"),
        term.as("term"))
      .agg(first(col("n")).as("n"), first(col("nr")).as("n_rows"),
        first(col("nc")).as("n_cols"),
        aggregate(
          sort_array(collect_list(struct(col("r"), col("cc"), col("term")))),
          lit(0.0), (acc, x) => acc + x.getField("term"))
          .cast(DecimalType(18, 8)).cast("double").as("chi2"))
      .select(col("n"), col("n_rows"), col("n_cols"), col("chi2"),
        // a single-category table (min(r, c) = 1) zeroes the V
        // denominator, where V is UNDEFINED: the explicit CASE yields
        // NULL on both engines (a nullif inside greatest would be
        // SWALLOWED — greatest skips NULLs on Spark AND DuckDB 1.0,
        // reporting a misleading V = 0). greatest pins the FP domain
        // inside the defined branch for the D4 audit.
        sqrt(when(
          col("n").cast("double") *
            (least(col("n_rows"), col("n_cols")) - lit(1L))
              .cast("double") > 0.0,
          greatest(col("chi2") / (col("n").cast("double") *
            (least(col("n_rows"), col("n_cols")) - lit(1L))
              .cast("double")), lit(0.0))))
          .as("cramers_v"))
  }

  /** Population Stability Index between two eras of the order-value
    * distribution — the standard production drift gate (PSI < 0.1
    * stable, > 0.25 act): bucket order cents into `buckets` fixed
    * cells from the GLOBAL min/max, add-one-smooth both eras' bucket
    * masses, and sum (pa − pb)·log-ratio per bucket. The log is
    * BIT-QUANTIZED — bits = floor(log2((ca+1)(Nb+B))) −
    * floor(log2((cb+1)(Na+B))), the surprisal/DSIR recipe — so every
    * per-bucket term is ONE double product of an exact integer and two
    * exact single-division shares ("PSI in bits"; natural-log PSI ≈
    * bits·ln 2 with the same decision thresholds rescaled). The total
    * is an ORDERED fold over the ≤B bucket rows through the
    * DECIMAL(18,8) bridge (the cramersV discipline — never a
    * shuffle-ordered double sum).
    *
    * 100 TB shape: one conditional-sum census per bucket (map-side
    * combined, both eras in one scan), a broadcast 1-row range and a
    * broadcast 1-row total; everything past the scan is B rows.
    */
  def psiDrift(s: SparkSession, dir: String, buckets: Int = 10): DataFrame = {
    val split = lit("1998-01-01").cast("timestamp")
    val base = load(s, dir, "orders")
      .select((col("o_orderdate") < split).as("era_a"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
    val rng = base.agg(min("cents").as("lo"), max("cents").as("hi"))
    val cells = base.crossJoin(broadcast(rng))
      .withColumn("bucket",
        floor((col("cents") - col("lo")) * buckets /
          (col("hi") - col("lo") + 1)).cast("long"))
      .groupBy("bucket")
      .agg(sum(when(col("era_a"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("era_a"), 1L).otherwise(0L)).as("cb"))
    val totals = cells.agg(sum("ca").as("na"), sum("cb").as("nb"))
    val b = lit(buckets.toLong)
    val terms = cells.crossJoin(broadcast(totals))
      .select(col("bucket"), col("ca"), col("cb"),
        ((col("ca") + 1L).cast(DoubleType) /
          (col("na") + b).cast(DoubleType)).as("pa"),
        ((col("cb") + 1L).cast(DoubleType) /
          (col("nb") + b).cast(DoubleType)).as("pb"),
        // Products widened to DECIMAL(38,0) (HUGEINT in the oracle):
        // a BIGINT (ca+1)*(nb+B) wraps silently past 2^63 under
        // non-ANSI Spark at 100 TB-era counts, while DuckDB raises —
        // the markovStationary silent-divergence class.
        (floor(log2((col("ca") + 1L).cast(DecimalType(38, 0)) *
            (col("nb") + b))).cast("long") -
          floor(log2((col("cb") + 1L).cast(DecimalType(38, 0)) *
            (col("na") + b))).cast("long"))
          .as("bits"))
      .withColumn("term", (col("pa") - col("pb")) * col("bits"))
    val total = terms.agg(
      aggregate(
        sort_array(collect_list(struct(col("bucket"), col("term")))),
        lit(0.0), (acc, x) => acc + x.getField("term"))
        .cast(DecimalType(18, 8)).cast(DoubleType).as("psi_bits"))
    terms.crossJoin(broadcast(total))
      .select(col("bucket"), col("ca"), col("cb"), col("pa"), col("pb"),
        col("bits"), col("term"), col("psi_bits"))
      .orderBy("bucket")
  }

  // ---- registered queries ---------------------------------------------

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q_rfm",
      "RFM customer segmentation: exact tercile cuts (broadcast, no rank window), 27-cell segment labels",
      rfm,
      Some(
        """WITH per AS (
          |  SELECT o_custkey AS custkey,
          |         max(CAST(o_orderdate AS DATE)) AS last_day,
          |         count(*) AS frequency,
          |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS monetary_cents
          |  FROM orders GROUP BY 1),
          |ref AS (SELECT max(CAST(o_orderdate AS DATE)) AS ref_day FROM orders),
          |base AS (
          |  SELECT custkey,
          |         CAST(datediff('day', last_day, ref_day) AS BIGINT) AS recency_days,
          |         frequency, monetary_cents
          |  FROM per, ref),
          |cuts AS (
          |  SELECT CAST(CAST(quantile_cont(recency_days, 0.3333) AS DECIMAL(18,6)) AS DOUBLE) AS r33,
          |         CAST(CAST(quantile_cont(recency_days, 0.6667) AS DECIMAL(18,6)) AS DOUBLE) AS r66,
          |         CAST(CAST(quantile_cont(frequency, 0.3333) AS DECIMAL(18,6)) AS DOUBLE) AS f33,
          |         CAST(CAST(quantile_cont(frequency, 0.6667) AS DECIMAL(18,6)) AS DOUBLE) AS f66,
          |         CAST(CAST(quantile_cont(monetary_cents, 0.3333) AS DECIMAL(18,6)) AS DOUBLE) AS m33,
          |         CAST(CAST(quantile_cont(monetary_cents, 0.6667) AS DECIMAL(18,6)) AS DOUBLE) AS m66
          |  FROM base),
          |sc AS (
          |  SELECT custkey, recency_days, frequency, monetary_cents,
          |         CASE WHEN recency_days <= r33 THEN 3 WHEN recency_days <= r66 THEN 2 ELSE 1 END AS r_score,
          |         CASE WHEN frequency <= f33 THEN 1 WHEN frequency <= f66 THEN 2 ELSE 3 END AS f_score,
          |         CASE WHEN monetary_cents <= m33 THEN 1 WHEN monetary_cents <= m66 THEN 2 ELSE 3 END AS m_score
          |  FROM base, cuts)
          |SELECT custkey, recency_days, frequency, monetary_cents,
          |       r_score, f_score, m_score,
          |       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) || CAST(m_score AS VARCHAR) AS segment
          |FROM sc ORDER BY custkey""".stripMargin)),
    GraftQuery("q_mom_growth",
      "month-over-month revenue growth per nation (lag over the bounded month domain, exact cents)",
      momGrowth,
      Some(
        """WITH m AS (
          |  SELECT c.c_nationkey AS nationkey,
          |         CAST(date_trunc('month', CAST(o.o_orderdate AS DATE)) AS DATE) AS month,
          |         CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
          |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          |  GROUP BY 1, 2)
          |SELECT nationkey, month, cents,
          |       lag(cents, 1) OVER (PARTITION BY nationkey ORDER BY month) AS prev_cents,
          |       CAST(cents - lag(cents, 1) OVER (PARTITION BY nationkey ORDER BY month) AS DOUBLE) /
          |         CAST(lag(cents, 1) OVER (PARTITION BY nationkey ORDER BY month) AS DOUBLE) AS growth
          |FROM m ORDER BY nationkey, month""".stripMargin)),
    GraftQuery("q_yoy_growth",
      "calendar-aligned year-over-year revenue growth per nation (shifted-month equi-join, gap-safe)",
      yoyGrowth,
      Some(
        """WITH m AS (
          |  SELECT c.c_nationkey AS nationkey,
          |         CAST(date_trunc('month', CAST(o.o_orderdate AS DATE)) AS DATE) AS month,
          |         CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
          |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          |  GROUP BY 1, 2),
          |p AS (SELECT nationkey, CAST(month + INTERVAL 12 MONTH AS DATE) AS month,
          |             cents AS prev_year_cents FROM m)
          |SELECT m.nationkey, m.month, m.cents, p.prev_year_cents,
          |       CAST(m.cents - p.prev_year_cents AS DOUBLE) /
          |         CAST(p.prev_year_cents AS DOUBLE) AS yoy_growth
          |FROM m LEFT JOIN p ON m.nationkey = p.nationkey AND m.month = p.month
          |ORDER BY m.nationkey, m.month""".stripMargin)),
    GraftQuery("q_cohort_ltv",
      "cohort lifetime-value triangle: first-order-month cohorts x age, cumulative revenue per member",
      cohortLtv,
      Some(
        """WITH o AS (
          |  SELECT o_custkey,
          |         CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month,
          |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
          |  FROM orders),
          |fo AS (SELECT o_custkey, min(month) AS cohort FROM o GROUP BY 1),
          |cs AS (SELECT cohort, count(*) AS n_customers FROM fo GROUP BY 1),
          |cells AS (
          |  SELECT fo.cohort,
          |         CAST(datediff('month', fo.cohort, o.month) AS BIGINT) AS age,
          |         CAST(sum(o.c) AS BIGINT) AS revenue_cents
          |  FROM o JOIN fo USING (o_custkey)
          |  GROUP BY 1, 2),
          |cum AS (
          |  SELECT cohort, age, revenue_cents,
          |         CAST(sum(revenue_cents) OVER (PARTITION BY cohort ORDER BY age
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
          |  FROM cells)
          |SELECT cohort, age, n_customers, revenue_cents, cum_cents,
          |       CAST(cum_cents AS DOUBLE) / CAST(n_customers AS DOUBLE) AS ltv_per_user
          |FROM cum JOIN cs USING (cohort)
          |ORDER BY cohort, age""".stripMargin)),
    GraftQuery("q_interarrival",
      "inter-order gap distribution: per-customer lag window, domain-bounded day histogram with exact shares",
      interarrival,
      Some(
        """WITH g AS (
          |  SELECT CAST(datediff('day',
          |           lag(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey
          |             ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
          |           CAST(o_orderdate AS DATE)) AS BIGINT) AS gap_days
          |  FROM orders),
          |gg AS (SELECT gap_days FROM g WHERE gap_days IS NOT NULL),
          |tot AS (SELECT count(*) AS total FROM gg)
          |SELECT gap_days, count(*) AS n_pairs,
          |       CAST(count(*) AS DOUBLE) / CAST(any_value(total) AS DOUBLE) AS share
          |FROM gg, tot GROUP BY gap_days ORDER BY gap_days""".stripMargin)),
    GraftQuery("q_psi_drift",
      "Population Stability Index between order-value eras: bit-quantized log-ratio, ordered-fold total",
      (s, dir) => psiDrift(s, dir),
      Some(
        """WITH base AS (
          |  SELECT o_orderdate < TIMESTAMP '1998-01-01' AS era_a,
          |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
          |  FROM orders),
          |rng AS (SELECT min(cents) AS lo, max(cents) AS hi FROM base),
          |cells AS (
          |  SELECT CAST(floor((cents - lo) * 10 / (hi - lo + 1)) AS BIGINT) AS bucket,
          |         CAST(sum(CASE WHEN era_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
          |         CAST(sum(CASE WHEN era_a THEN 0 ELSE 1 END) AS BIGINT) AS cb
          |  FROM base, rng GROUP BY 1),
          |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb FROM cells),
          |terms AS (
          |  SELECT bucket, ca, cb,
          |         CAST(ca + 1 AS DOUBLE) / CAST(na + 10 AS DOUBLE) AS pa,
          |         CAST(cb + 1 AS DOUBLE) / CAST(nb + 10 AS DOUBLE) AS pb,
          |         CAST(floor(log2(CAST(ca + 1 AS HUGEINT) * (nb + 10))) AS BIGINT) -
          |           CAST(floor(log2(CAST(cb + 1 AS HUGEINT) * (na + 10))) AS BIGINT) AS bits
          |  FROM cells, tot),
          |t2 AS (SELECT *, (pa - pb) * bits AS term FROM terms),
          |tt AS (
          |  SELECT bucket, ca, cb, pa, pb, bits, term,
          |         CAST(CAST(sum(term) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(18,8)) AS DOUBLE) AS cum,
          |         row_number() OVER (ORDER BY bucket DESC) AS rn
          |  FROM t2),
          |total AS (SELECT cum AS psi_bits FROM tt WHERE rn = 1)
          |SELECT bucket, ca, cb, pa, pb, bits, term, psi_bits
          |FROM t2, total ORDER BY bucket""".stripMargin)),
    GraftQuery("q_cramers_v",
      "chi-square + Cramer's V association of nation x segment (bounded contingency, ordered term fold)",
      cramersV,
      Some(
        """WITH cells AS (
          |  SELECT c_nationkey AS r, c_mktsegment AS cc, count(*) AS o
          |  FROM customer GROUP BY 1, 2),
          |rws AS (SELECT r, CAST(sum(o) AS BIGINT) AS rtot FROM cells GROUP BY 1),
          |cls AS (SELECT cc, CAST(sum(o) AS BIGINT) AS ctot FROM cells GROUP BY 1),
          |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
          |               count(DISTINCT r) AS nr, count(DISTINCT cc) AS nc FROM cells),
          |terms AS (
          |  SELECT r, cc, n, nr, nc,
          |    (CAST(o AS DOUBLE) - CAST(rtot AS DOUBLE) * CAST(ctot AS DOUBLE) / CAST(n AS DOUBLE)) *
          |    (CAST(o AS DOUBLE) - CAST(rtot AS DOUBLE) * CAST(ctot AS DOUBLE) / CAST(n AS DOUBLE)) /
          |    (CAST(rtot AS DOUBLE) * CAST(ctot AS DOUBLE) / CAST(n AS DOUBLE)) AS term
          |  FROM cells JOIN rws USING (r) JOIN cls USING (cc), tot),
          |c AS (SELECT n, nr, nc,
          |        CAST(CAST(sum(term) OVER (ORDER BY r, cc ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(18,8)) AS DOUBLE) AS chi2,
          |        row_number() OVER (ORDER BY r DESC, cc DESC) AS rn
          |      FROM terms)
          |SELECT n, CAST(nr AS BIGINT) AS n_rows, CAST(nc AS BIGINT) AS n_cols, chi2,
          |       sqrt(CASE WHEN CAST(n AS DOUBLE) * CAST(least(nr, nc) - 1 AS DOUBLE) > 0.0
          |            THEN greatest(chi2 / (CAST(n AS DOUBLE) * CAST(least(nr, nc) - 1 AS DOUBLE)), 0.0) END) AS cramers_v
          |FROM c WHERE rn = 1 ORDER BY n""".stripMargin)),
    GraftQuery("q_decile_report",
      "Lorenz-style spend-decile concentration: customers bucketed by nine exact decile cuts, revenue shares",
      decileReport,
      Some(
        """WITH per AS (
          |  SELECT o_custkey,
          |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS m
          |  FROM orders GROUP BY 1),
          |cuts AS (
          |  SELECT CAST(CAST(quantile_cont(m, 0.1) AS DECIMAL(18,6)) AS DOUBLE) AS d1,
          |         CAST(CAST(quantile_cont(m, 0.2) AS DECIMAL(18,6)) AS DOUBLE) AS d2,
          |         CAST(CAST(quantile_cont(m, 0.3) AS DECIMAL(18,6)) AS DOUBLE) AS d3,
          |         CAST(CAST(quantile_cont(m, 0.4) AS DECIMAL(18,6)) AS DOUBLE) AS d4,
          |         CAST(CAST(quantile_cont(m, 0.5) AS DECIMAL(18,6)) AS DOUBLE) AS d5,
          |         CAST(CAST(quantile_cont(m, 0.6) AS DECIMAL(18,6)) AS DOUBLE) AS d6,
          |         CAST(CAST(quantile_cont(m, 0.7) AS DECIMAL(18,6)) AS DOUBLE) AS d7,
          |         CAST(CAST(quantile_cont(m, 0.8) AS DECIMAL(18,6)) AS DOUBLE) AS d8,
          |         CAST(CAST(quantile_cont(m, 0.9) AS DECIMAL(18,6)) AS DOUBLE) AS d9
          |  FROM per),
          |b AS (
          |  SELECT CAST(1 + CAST(m > d1 AS INT) + CAST(m > d2 AS INT) + CAST(m > d3 AS INT) +
          |             CAST(m > d4 AS INT) + CAST(m > d5 AS INT) + CAST(m > d6 AS INT) +
          |             CAST(m > d7 AS INT) + CAST(m > d8 AS INT) + CAST(m > d9 AS INT) AS BIGINT) AS decile,
          |         m
          |  FROM per, cuts),
          |tot AS (SELECT CAST(sum(m) AS BIGINT) AS total_cents FROM per)
          |SELECT decile, count(*) AS n_customers,
          |       CAST(sum(m) AS BIGINT) AS revenue_cents,
          |       CAST(CAST(sum(m) AS BIGINT) AS DOUBLE) / CAST(any_value(total_cents) AS DOUBLE) AS revenue_share
          |FROM b, tot GROUP BY decile ORDER BY decile""".stripMargin)),
    GraftQuery("q_pareto_share",
      "revenue concentration: share of revenue from customers above the p80 lifetime-spend cut",
      paretoShare,
      Some(
        """WITH per AS (
          |  SELECT o_custkey,
          |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS m
          |  FROM orders GROUP BY 1),
          |cut AS (SELECT CAST(CAST(quantile_cont(m, 0.8) AS DECIMAL(18,6)) AS DOUBLE) AS p80 FROM per),
          |agg AS (
          |  SELECT count(*) AS n_customers,
          |         CAST(sum(CAST(m > p80 AS BIGINT)) AS BIGINT) AS n_top,
          |         CAST(sum(m) AS BIGINT) AS total_cents,
          |         CAST(sum(CASE WHEN m > p80 THEN m ELSE 0 END) AS BIGINT) AS top_cents
          |  FROM per, cut)
          |SELECT n_customers, n_top, total_cents, top_cents,
          |       CAST(n_top AS DOUBLE) / CAST(n_customers AS DOUBLE) AS top_customer_share,
          |       CAST(top_cents AS DOUBLE) / CAST(total_cents AS DOUBLE) AS top_revenue_share
          |FROM agg ORDER BY n_customers""".stripMargin)),
    GraftQuery("q_wilson_ci",
      "95% Wilson score interval per event type's high-value rate (identical IEEE expression tree both engines)",
      wilsonCi,
      Some(
        """WITH a AS (
          |  SELECT event_type, count(*) AS n,
          |         CAST(sum(CAST(value > 250 AS BIGINT)) AS BIGINT) AS successes
          |  FROM events GROUP BY 1),
          |d AS (
          |  SELECT event_type, n, successes,
          |         CAST(n AS DOUBLE) AS nd,
          |         CAST(successes AS DOUBLE) / CAST(n AS DOUBLE) AS p,
          |         CAST(1.96 AS DOUBLE) AS z
          |  FROM a)
          |SELECT event_type, n, successes, p,
          |       (p + z * z / (2.0 * nd) -
          |        z * sqrt(greatest(p * (1.0 - p) / nd + z * z / (4.0 * nd * nd), 0.0))) /
          |       (1.0 + z * z / nd) AS ci_lo,
          |       (p + z * z / (2.0 * nd) +
          |        z * sqrt(greatest(p * (1.0 - p) / nd + z * z / (4.0 * nd * nd), 0.0))) /
          |       (1.0 + z * z / nd) AS ci_hi
          |FROM d ORDER BY event_type""".stripMargin)),
  )
}
