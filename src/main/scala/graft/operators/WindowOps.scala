package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftQuery
import graft.engine.Tables.load

/** Sorts, limits, top-k and window functions (SURVEY.md §2.5 — absent
  * from the reference, declared Tier B there). All oracle-checked.
  *
  * Scale notes: `orderBy().limit(n)` plans as TakeOrderedAndProject —
  * per-partition top-n then a single driver merge of n·P rows, no global
  * sort. row_number top-k shuffles once on the partition key; no global
  * ordering is ever required.
  */
object WindowOps {

  private val dec12 = DecimalType(12, 2)
  private val dec18 = DecimalType(18, 2)

  /** ORDER BY … LIMIT n → TakeOrderedAndProject (no full sort at scale). */
  def sortLimit(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "orders")
      .select(
        col("o_orderkey"),
        col("o_totalprice").cast(dec12).cast(DoubleType).as("total_price"),
        col("o_orderpriority"))
      .orderBy(col("total_price").desc, col("o_orderkey"))
      .limit(100)

  /** Top-k per group via row_number window + filter. */
  def topkWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    load(s, dir, "customer")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 5)
      .select(
        col("c_mktsegment"), col("rn"), col("c_custkey"), col("c_name"),
        col("c_acctbal").cast(dec12).cast(DoubleType).as("acctbal"))
      .orderBy("c_mktsegment", "rn")
  }

  /** Running total: sum over ROWS UNBOUNDED PRECEDING..CURRENT ROW. */
  def runningTotal(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    load(s, dir, "orders")
      .select(
        col("o_custkey"), col("o_orderkey"),
        col("o_totalprice").cast(dec12).cast(DoubleType).as("price"),
        sum(col("o_totalprice").cast(dec12)).over(w).cast(dec18)
          .cast(DoubleType).as("running_total"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** lag/lead over an ordered per-key window. */
  def lagLead(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    load(s, dir, "orders")
      .select(
        col("o_custkey"), col("o_orderkey"),
        col("o_totalprice").cast(dec12).cast(DoubleType).as("price"),
        lag(col("o_totalprice").cast(dec12), 1).over(w)
          .cast(DoubleType).as("prev_price"),
        lead(col("o_totalprice").cast(dec12), 1).over(w)
          .cast(DoubleType).as("next_price"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** RANGE-framed window: per-customer trailing-90-day spend —
    * value-based frames (all orders whose day number lies in
    * [current − 90, current]), not row counts. Partitioned by
    * o_custkey, a HIGH-cardinality key: at 100 TB the window shuffles
    * once on custkey and every core gets work. (A low-cardinality
    * partition key — e.g. the 5-value o_orderpriority — would funnel
    * the table into 5 giant sort buffers; that shape is a scale-killer
    * and deliberately avoided here.)
    */
  def rangeWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("day_num"))
      .rangeBetween(-90, Window.currentRow)
    load(s, dir, "orders")
      .withColumn("day_num",
        datediff(col("o_orderdate"), lit("1992-01-01").cast(DateType)))
      .select(
        col("o_custkey"), col("o_orderkey"), col("day_num"),
        sum(col("o_totalprice").cast(dec12)).over(w).cast(dec18)
          .cast(DoubleType).as("trailing_90d"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Ratio-to-report: each order's share of its customer's total spend —
    * an unordered full-partition window aggregate (no sort inside the
    * frame, just one shuffle on the high-cardinality o_custkey). Shares
    * divide DECIMAL(18,2)-exact sums once, as doubles, at the end.
    */
  def ratioToReport(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
    load(s, dir, "orders")
      .select(
        col("o_custkey"), col("o_orderkey"),
        col("o_totalprice").cast(dec12).as("price"),
        sum(col("o_totalprice").cast(dec12)).over(w).cast(dec18).as("cust_total"))
      .select(
        col("o_custkey"), col("o_orderkey"),
        col("price").cast(DoubleType).as("price"),
        col("cust_total").cast(DoubleType).as("cust_total"),
        (col("price").cast(DoubleType) / col("cust_total").cast(DoubleType))
          .as("share"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** SCD Type-2 dimension history from a change-event stream — the
    * warehouse transform that turns "user's attribute over time" into
    * [valid_from, valid_to) rows with an open `is_current` interval
    * (the reference's pipeline feeds a Redshift-style warehouse where
    * this shape is the standard history table). Consecutive duplicate
    * attribute values collapse first (type-2 versions only on change),
    * then `lead()` over the surviving change rows closes each interval.
    *
    * Scale: both windows hash-partition on `user_id` — high cardinality,
    * so every core gets work — and share one shuffle+sort (same
    * partitioning AND ordering ⇒ Spark plans a single Exchange+Sort
    * feeding both Window operators). Timestamps travel as exact epoch
    * micros; NULL attribute values fold to '' BEFORE the lag-compare so
    * both engines agree on change boundaries.
    */
  def scd2(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val e = load(s, dir, "events")
      .select(
        col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        coalesce(col("event_type"), lit("")).as("attr"))
    e.withColumn("prev", lag(col("attr"), 1).over(w))
      .where(col("prev").isNull || col("prev") =!= col("attr"))
      .select(
        col("user_id"), col("event_id"), col("attr"),
        col("ts_us").as("valid_from_us"),
        lead(col("ts_us"), 1).over(w).as("valid_to_us"),
        lead(col("ts_us"), 1).over(w).isNull.as("is_current"))
      .orderBy("user_id", "valid_from_us", "event_id")
  }

  /** SCD2 point-in-time lookup — the standard USE of the history table
    * [[scd2]] builds: each fact row joined to the dimension version
    * valid at its timestamp, composed from the as-of machinery
    * ([[AsOfJoin.asOfJoinLast]]: union + one window, ONE shuffle, no
    * join operator at all). The oracle is the self-consistency
    * invariant: a fact's as-of attribute must equal its own event's
    * attribute — the collapsed dimension history reconstructs every
    * fact's state exactly. (Deterministic because (user_id, ts) is
    * unique in the fixture; simultaneous changes would make "the attr
    * at ts" genuinely ambiguous.)
    */
  def scd2Lookup(s: SparkSession, dir: String): DataFrame = {
    val dim = scd2(s, dir)
      .select(col("user_id"), col("valid_from_us").as("ts_us"), col("attr"))
    val facts = load(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"))
    AsOfJoin.asOfJoinLast(facts, dim, "user_id", "ts_us", Seq("attr"))
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("asof_attr"))
      .orderBy("user_id", "event_id")
  }

  /** Rank-statistics family: rank, dense_rank, percent_rank, cume_dist,
    * ntile(4) per market segment, ordered by (c_acctbal DESC, c_custkey).
    *
    * A naive `Window.partitionBy(c_mktsegment)` funnels the whole table
    * into 5 single-task sort buffers — the low-cardinality-partition
    * scale-killer [[rangeWindow]]'s doc warns about. Instead the exact
    * same answers come out of a TWO-PASS ranking (the
    * ext/TrainingPrep.sequencePack prefix-sum pattern applied to ranks):
    *
    *   1. bucket each row by a deterministic balance range — a pure,
    *      order-preserving function of c_acctbal, so bucket order ==
    *      DESC balance order and ties never straddle buckets — and
    *      aggregate per-(segment, bucket) row counts (one map-side-
    *      combined shuffle, O(segments × buckets) rows to the driver);
    *   2. turn counts into cumulative per-bucket rank offsets and
    *      per-segment totals (driver, O(segments × buckets)), broadcast
    *      both as literal maps, and run row_number() in a window
    *      partitioned by (segment, bucket) — each bucket sorts its
    *      ~n/buckets slice independently in parallel.
    *
    * The (c_acctbal DESC, c_custkey) ordering is TOTAL (custkey is
    * unique), so rank == dense_rank == row_number == bucket offset +
    * local row_number, percent_rank = (rnk−1)/(n−1), cume_dist = rnk/n,
    * and ntile(4) is the standard balanced-bucket formula over (rnk, n)
    * — all exact, no approximation. Bucket count tracks
    * spark.sql.shuffle.partitions, so per-task slice size stays ~n/P at
    * any scale. Plan shape (no Window partitioned by the bare 5-value
    * segment key) is pinned in PlanRulesSpec.
    *
    * Like [[graft.ext.TrainingPrep.sequencePack]], pass 1 runs two
    * eager O(k)-result driver jobs (bounds + counts) at CONSTRUCTION
    * time, and the source is scanned twice more than the lazy window
    * formulation — both scans prune to the two pass-1 columns; that is
    * the inherent, bounded price of the two-pass shape.
    */
  def rankStats(s: SparkSession, dir: String): DataFrame = {
    rankStatsOf(load(s, dir, "customer"),
      s.sessionState.conf.numShufflePartitions)
  }

  /** df-level core of [[rankStats]] (needs c_mktsegment, c_custkey,
    * c_acctbal) — separable so the NULL-parity spec can drive it with
    * synthetic rows the fixture doesn't contain.
    */
  def rankStatsOf(customer: DataFrame, parts: Int): DataFrame = {
    val cust = customer
      .select(col("c_mktsegment"), col("c_custkey"),
        col("c_acctbal").cast(DoubleType).as("bal"))

    // NULL parity with the window formulation this replaces: a NULL
    // balance buckets to the EXTRA bucket `parts` — after every real
    // bucket, i.e. the NULLS LAST position `ORDER BY bal DESC` gives it
    // on both engines — via an EXPLICIT isNull branch (least() SKIPS
    // nulls, so the earlier coalesce-fallback formulation never fired
    // and NULLs silently merged into bucket parts−1; ranks stayed
    // correct only because desc NULLS-LAST ordering inside the merged
    // bucket still sorted them behind the reals). A NULL segment
    // becomes its own group via a sentinel key string (concat_ws would
    // silently drop the NULL and collide with a real segment; NUL
    // appears in no realistic value, and BOTH passes group on this
    // same segKey, so even a pathological real-NUL segment merges
    // consistently in counts AND window).
    val segKey = coalesce(col("c_mktsegment"), lit("\u0000"))

    // Pass 1: per-(segment, balance-range bucket) row counts. The bucket
    // id is monotone non-increasing in balance (floor((hi−bal)/width)),
    // so ascending bucket == descending balance, and equal balances land
    // in the same bucket (the custkey tiebreak stays bucket-local).
    // NaN parity with the naive window: Spark orders NaN GREATER than
    // every double, so under DESC a NaN balance ranks FIRST — it gets
    // the dedicated bucket −1 (before every real bucket; all members tie
    // and the custkey tiebreak decides, same as the window). NaN is also
    // excluded from the bounds scan — min/max would otherwise poison to
    // NaN and turn every bucket id NULL.
    val balNoNan = when(isnan(col("bal")), lit(null)).otherwise(col("bal"))
    val bounds = cust.agg(min(balNoNan), max(balNoNan)).head()
    val (lo, hi) =
      if (bounds.isNullAt(0)) (0.0, 0.0)
      else (bounds.getDouble(0), bounds.getDouble(1))
    val width = math.max((hi - lo) / parts, java.lang.Double.MIN_NORMAL)
    val bkt = when(isnan(col("bal")), lit(-1))
      .when(col("bal").isNull, lit(parts))
      .otherwise(least(
        floor((lit(hi) - col("bal")) / lit(width)).cast(IntegerType),
        lit(parts - 1)))

    val counts = cust
      .groupBy(segKey.as("seg"), bkt.as("bkt"))
      .agg(count(lit(1)).as("cnt"))
      .collect() // O(segments × buckets) rows — driver-safe at any scale
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .sortBy { case (seg, b, _) => (seg, b) }
    val offsets = scala.collection.mutable.Map.empty[String, Long]
    val totals = scala.collection.mutable.Map.empty[String, Long]
    counts.foreach { case (seg, b, cnt) =>
      val before = totals.getOrElse(seg, 0L)
      offsets(s"$seg:$b") = before
      totals(seg) = before + cnt
    }

    // Pass 2: local row_number per (segment, bucket) + broadcast offset.
    // Partitioned on segKey (not the raw column): pass 1 counted groups
    // under segKey, so pass 2 must window under the IDENTICAL grouping
    // or a NULL segment and a sentinel-valued segment would share one
    // offset while ranking as two partitions.
    val w = Window.partitionBy(segKey, col("bkt"))
      .orderBy(col("bal").desc, col("c_custkey"))
    val n = element_at(typedLit(totals.toMap), segKey)
    val rnk = (row_number().over(w).cast(LongType) +
      element_at(typedLit(offsets.toMap),
        concat(segKey, lit(":"), col("bkt").cast(StringType))))
      .cast(IntegerType)
    // ntile(k): first n%k buckets hold n/k+1 rows, the rest n/k.
    val k = 4
    val q = (n / k).cast(IntegerType)
    val r = (n % k).cast(IntegerType)
    val quartile = when(col("rnk") <= r * (q + 1),
        (col("rnk") - 1) / (q + 1) + 1)
      .otherwise(r + (col("rnk") - r * (q + 1) - 1) / q + 1)
      .cast(IntegerType)
    cust
      .withColumn("bkt", bkt)
      .withColumn("rnk", rnk)
      .select(
        col("c_mktsegment"), col("c_custkey"),
        col("rnk"),
        col("rnk").as("drnk"), // total order: dense_rank == rank
        when(n === 1, lit(0.0))
          .otherwise((col("rnk") - 1).cast(DoubleType) /
            (n - 1).cast(DoubleType)).as("prnk"),
        (col("rnk").cast(DoubleType) / n.cast(DoubleType)).as("cdist"),
        quartile.as("quartile"))
      .orderBy("c_mktsegment", "rnk")
  }

  /** first_value / last_value / nth_value over an explicit full-partition
    * frame (the default frame ends at CURRENT ROW, which makes
    * last_value a footgun — pin the frame on both sides).
    */
  def firstLastWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    load(s, dir, "orders")
      .select(
        col("o_custkey"), col("o_orderkey"),
        first(col("o_orderkey")).over(w).as("first_order"),
        last(col("o_orderkey")).over(w).as("last_order"),
        nth_value(col("o_orderkey"), 2).over(w).as("second_order"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Dyadic-decay trailing EWMA of per-customer spend: weights 2⁻ⁱ over
    * the last 8 orders, computed entirely in BIGINT cent-units
    * (Σ cents·2^(7-i), one double division by the weight mass at the
    * end) — the cross-engine float discipline applied to exponential
    * smoothing. The divisor is the weight mass of the lags actually
    * PRESENT, so a key's warm-up rows average over the orders that
    * exist instead of being zero-padded toward 0 (a first order of
    * $100 reports an EWMA of $100, not $50). Eight lags share ONE
    * window spec, so Spark plans a single Window operator over one
    * (o_custkey) shuffle; the frame is row-bounded, so state per key
    * is 8 values at any scale.
    */
  def ewmaOf(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val cents = floor(col("o_totalprice") * 100 + 0.5).cast(LongType)
    val units = (1 to 7).foldLeft(cents * lit(128L)) { (acc, i) =>
      acc + coalesce(lag(cents, i).over(w), lit(0L)) * lit(1L << (7 - i))
    }
    val mass = (1 to 7).foldLeft(lit(128L)) { (acc, i) =>
      acc + when(lag(cents, i).over(w).isNotNull, lit(1L << (7 - i)))
        .otherwise(lit(0L))
    }
    orders
      .select(
        col("o_custkey"), col("o_orderkey"),
        col("o_totalprice").cast(dec12).cast(DoubleType).as("price"),
        (units.cast(DoubleType) / (mass * lit(100L)).cast(DoubleType))
          .as("ewma"))
      .orderBy("o_custkey", "o_orderkey")
  }

  def ewmaDyadic(s: SparkSession, dir: String): DataFrame =
    ewmaOf(load(s, dir, "orders"))

  /** Rolling z-score anomaly flag: each order's price against its own
    * trailing-8 window statistics — the streaming-adjacent "is this
    * point anomalous for THIS key" detector (the QC family's per-corpus
    * z, scoped to a moving frame). Moments accumulate as exact BIGINT
    * cent sums inside one ROWS-framed window (s², bounded: 8·(10⁹)²
    * < 2⁶³); the double conversion happens once in a shared formula,
    * variance clamped ≥ 0 against FP cancellation (the outlierDocs
    * discipline). One shuffle on the high-cardinality customer key.
    */
  def rollingZscore(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(-7, Window.currentRow)
    val cents = floor(col("o_totalprice") * 100 + 0.5).cast(LongType)
    load(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_totalprice").cast(dec12).cast(DoubleType).as("price"),
        cents.as("cents"),
        count(lit(1)).over(w).as("n"),
        sum(cents).over(w).as("s1"),
        sum(cents * cents).over(w).as("s2"))
      .select(col("o_custkey"), col("o_orderkey"), col("price"),
        expr(
          """CASE WHEN n < 2 THEN 0.0 ELSE
            |  CASE WHEN greatest(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
            |         - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)), 0.0) = 0.0
            |  THEN 0.0
            |  ELSE (CAST(cents AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
            |       / sqrt(greatest(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
            |         - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)), 0.0))
            |  END END""".stripMargin).as("z"))
      .select(col("o_custkey"), col("o_orderkey"), col("price"), col("z"),
        (abs(col("z")) > 2.0).cast("int").as("is_anomaly"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Time-weighted average (TWAP): each event's value is "held" until
    * the user's next event; the per-user average weights each value by
    * its holding duration — the right mean for irregularly-sampled
    * series, where the arithmetic mean over-counts burst periods.
    *
    * Exactness: values quantize to milli-units ONCE (deterministic
    * floor both engines), durations are exact epoch-micro BIGINTs, and
    * the value×duration products sum as DECIMAL(38,0) (per-term
    * ≤ 5e5·1e13 ≈ 5e18 would overflow a BIGINT sum; decimal sums are
    * exact and order-free cross-engine). ONE double division at the
    * end. Scale: a lead() window + one aggregate, both on the
    * high-cardinality user key — one shuffle total, O(1) state per row.
    */
  def twap(s: SparkSession, dir: String): DataFrame = {
    // tus is epoch-micros of ts — same total order, already projected
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
    load(s, dir, "events")
      .select(col("user_id"),
        unix_micros(col("ts")).as("tus"),
        floor(col("value") * 1000 + 0.5).cast(LongType).as("vmilli"),
        col("event_id"))
      .withColumn("nxt", lead(col("tus"), 1).over(w))
      .where(col("nxt").isNotNull)
      .groupBy("user_id")
      .agg(
        sum((col("vmilli").cast(DecimalType(38, 0)) * (col("nxt") - col("tus")))
          .cast(DecimalType(38, 0))).as("num"),
        sum(col("nxt") - col("tus")).cast(LongType).as("held_us"),
        count(lit(1)).as("n_held"))
      .where(col("held_us") > 0)
      .select(col("user_id"), col("n_held"), col("held_us"),
        (col("num").cast(DoubleType) /
          (col("held_us").cast(DoubleType) * 1000.0)).as("twap"))
      .orderBy("user_id")
  }

  /** Trailing distinct-count via a windowed BITMAP — the O(1)-state
    * replacement for collect_set-over-window: event types dictionary-
    * encode through a tiny global dense_rank (O(#types) rows, broadcast
    * back), each row contributes `1 << tid`, and the trailing-5 frame
    * reduces with `bit_or` (an associative aggregate Spark evaluates in
    * constant window state) — `bit_count` of the OR is the exact
    * distinct count. collect_set over the same frame would hold the
    * set per row and cannot map-side combine. One window shuffle on
    * the high-cardinality user key; the dictionary join is a broadcast.
    * Caps at 64 types per bitmap word — beyond that, the bitmap_* ops
    * family (q_bitmap_distinct) is the multi-word form.
    */
  def rollingDistinct(s: SparkSession, dir: String): DataFrame = {
    val events = load(s, dir, "events")
    val dict = events.select(col("event_type")).distinct()
      .withColumn("tid",
        row_number().over(Window.orderBy(col("event_type"))).cast(LongType) - 1)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-4, Window.currentRow)
    events.join(broadcast(dict), "event_type")
      .select(col("user_id"), col("event_id"), col("ts"),
        call_function("shiftleft", lit(1L), col("tid").cast("int")).as("bit"))
      .select(col("user_id"), col("event_id"),
        bit_count(bit_or(col("bit")).over(w)).cast(IntegerType)
          .as("n_distinct_5"))
      .orderBy("user_id", "event_id")
  }

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q_twap",
      "per-user time-weighted average (hold-until-next weighting, exact DECIMAL(38,0) value-duration sums)",
      twap,
      Some(
        """WITH e AS (
          |  SELECT user_id, epoch_us(ts) AS tus,
          |         CAST(floor(value * 1000 + 0.5) AS BIGINT) AS vmilli,
          |         lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
          |  FROM events),
          |s AS (
          |  SELECT user_id,
          |         sum(CAST(vmilli AS HUGEINT) * (nxt - tus)) AS num,
          |         CAST(sum(nxt - tus) AS BIGINT) AS held_us,
          |         count(*) AS n_held
          |  FROM e WHERE nxt IS NOT NULL GROUP BY user_id)
          |SELECT user_id, n_held, held_us,
          |       CAST(num AS DOUBLE) / (CAST(held_us AS DOUBLE) * 1000.0) AS twap
          |FROM s WHERE held_us > 0 ORDER BY user_id""".stripMargin)),
    GraftQuery("q_rolling_distinct",
      "trailing-5 distinct event types per user: windowed bitmap bit_or + popcount (O(1) window state)",
      rollingDistinct,
      Some(
        """WITH d AS (
          |  SELECT event_type,
          |         CAST(row_number() OVER (ORDER BY event_type) AS BIGINT) - 1 AS tid
          |  FROM (SELECT DISTINCT event_type FROM events)),
          |e AS (SELECT event_id, user_id, ts, tid FROM events JOIN d USING (event_type))
          |SELECT user_id, event_id,
          |       CAST(bit_count(bit_or(CAST(1 AS BIGINT) << CAST(tid AS INT))
          |         OVER (PARTITION BY user_id ORDER BY ts, event_id
          |               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS INT) AS n_distinct_5
          |FROM e ORDER BY user_id, event_id""".stripMargin)),
    GraftQuery("q_ewma",
      "dyadic-decay trailing EWMA (8-order half-life weights, exact BIGINT units, present-weight mass divisor)",
      ewmaDyadic,
      Some(
        """WITH c AS (
          |  SELECT o_custkey, o_orderkey, o_orderdate,
          |         CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
          |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
          |  FROM orders),
          |u AS (
          |  SELECT o_custkey, o_orderkey, price,
          |         cents * 128
          |           + COALESCE(lag(cents, 1) OVER win, 0) * 64
          |           + COALESCE(lag(cents, 2) OVER win, 0) * 32
          |           + COALESCE(lag(cents, 3) OVER win, 0) * 16
          |           + COALESCE(lag(cents, 4) OVER win, 0) * 8
          |           + COALESCE(lag(cents, 5) OVER win, 0) * 4
          |           + COALESCE(lag(cents, 6) OVER win, 0) * 2
          |           + COALESCE(lag(cents, 7) OVER win, 0) AS units,
          |         128
          |           + CASE WHEN lag(cents, 1) OVER win IS NOT NULL THEN 64 ELSE 0 END
          |           + CASE WHEN lag(cents, 2) OVER win IS NOT NULL THEN 32 ELSE 0 END
          |           + CASE WHEN lag(cents, 3) OVER win IS NOT NULL THEN 16 ELSE 0 END
          |           + CASE WHEN lag(cents, 4) OVER win IS NOT NULL THEN 8 ELSE 0 END
          |           + CASE WHEN lag(cents, 5) OVER win IS NOT NULL THEN 4 ELSE 0 END
          |           + CASE WHEN lag(cents, 6) OVER win IS NOT NULL THEN 2 ELSE 0 END
          |           + CASE WHEN lag(cents, 7) OVER win IS NOT NULL THEN 1 ELSE 0 END AS mass
          |  FROM c
          |  WINDOW win AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
          |SELECT o_custkey, o_orderkey, price,
          |       CAST(units AS DOUBLE) / CAST(mass * 100 AS DOUBLE) AS ewma
          |FROM u
          |ORDER BY o_custkey, o_orderkey""".stripMargin)),
    GraftQuery("q_rolling_zscore",
      "trailing-8 rolling z-score anomaly flag per customer (exact BIGINT moments, one clamped double conversion)",
      rollingZscore,
      Some(
        """WITH c AS (
          |  SELECT o_custkey, o_orderkey, o_orderdate,
          |         CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
          |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
          |  FROM orders),
          |m AS (
          |  SELECT o_custkey, o_orderkey, price, cents,
          |         count(*) OVER win AS n,
          |         CAST(sum(cents) OVER win AS BIGINT) AS s1,
          |         CAST(sum(cents * cents) OVER win AS BIGINT) AS s2
          |  FROM c
          |  WINDOW win AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          |                 ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)),
          |z AS (
          |  SELECT o_custkey, o_orderkey, price,
          |         CASE WHEN n < 2 THEN 0.0 ELSE
          |           CASE WHEN greatest(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
          |                  - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)), 0.0) = 0.0
          |           THEN 0.0
          |           ELSE (CAST(cents AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
          |                / sqrt(greatest(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
          |                  - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)), 0.0))
          |           END END AS z
          |  FROM m)
          |SELECT o_custkey, o_orderkey, price, z,
          |       CAST(abs(z) > 2.0 AS INT) AS is_anomaly
          |FROM z ORDER BY o_custkey, o_orderkey""".stripMargin)),
    GraftQuery("q_sort_limit", "ORDER BY + LIMIT → TakeOrderedAndProject",
      sortLimit,
      Some(
        """SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total_price, o_orderpriority
          |FROM orders ORDER BY total_price DESC, o_orderkey LIMIT 100""".stripMargin)),
    GraftQuery("q_topk_window", "top-k per group via row_number window",
      topkWindow,
      Some(
        """SELECT c_mktsegment, rn, c_custkey, c_name, acctbal FROM (
          |  SELECT c_mktsegment, c_custkey, c_name,
          |         CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS acctbal,
          |         CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS rn
          |  FROM customer
          |) WHERE rn <= 5 ORDER BY c_mktsegment, rn""".stripMargin)),
    GraftQuery("q_window_running", "running total window (ROWS UNBOUNDED PRECEDING)",
      runningTotal,
      Some(
        """SELECT o_custkey, o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
          |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
          |         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(18,2)) AS DOUBLE) AS running_total
          |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin)),
    GraftQuery("q_first_last_window", "first/last/nth_value over a pinned full frame",
      firstLastWindow,
      Some(
        """SELECT o_custkey, o_orderkey,
          |       first_value(o_orderkey) OVER w AS first_order,
          |       last_value(o_orderkey) OVER w AS last_order,
          |       nth_value(o_orderkey, 2) OVER w AS second_order
          |FROM orders
          |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
          |ORDER BY o_custkey, o_orderkey""".stripMargin)),
    GraftQuery("q_range_window", "RANGE-framed trailing-90-day window sum per customer",
      rangeWindow,
      Some(
        """SELECT o_custkey, o_orderkey,
          |       CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS day_num,
          |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
          |         PARTITION BY o_custkey
          |         ORDER BY date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
          |         RANGE BETWEEN 90 PRECEDING AND CURRENT ROW) AS DECIMAL(18,2)) AS DOUBLE) AS trailing_90d
          |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin)),
    GraftQuery("q_rank_stats", "rank/dense_rank/percent_rank/cume_dist/ntile in one window",
      rankStats,
      Some(
        """SELECT c_mktsegment, c_custkey,
          |       CAST(rank() OVER w AS INTEGER) AS rnk,
          |       CAST(dense_rank() OVER w AS INTEGER) AS drnk,
          |       percent_rank() OVER w AS prnk,
          |       cume_dist() OVER w AS cdist,
          |       CAST(ntile(4) OVER w AS INTEGER) AS quartile
          |FROM customer
          |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
          |ORDER BY c_mktsegment, rnk""".stripMargin)),
    GraftQuery("q_ratio_to_report", "share-of-total window analytic (unordered full-partition frame)",
      ratioToReport,
      Some(
        """WITH b AS (
          |  SELECT o_custkey, o_orderkey,
          |         CAST(o_totalprice AS DECIMAL(12,2)) AS price,
          |         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
          |              OVER (PARTITION BY o_custkey) AS DECIMAL(18,2)) AS cust_total
          |  FROM orders)
          |SELECT o_custkey, o_orderkey,
          |       CAST(price AS DOUBLE) AS price,
          |       CAST(cust_total AS DOUBLE) AS cust_total,
          |       CAST(price AS DOUBLE) / CAST(cust_total AS DOUBLE) AS share
          |FROM b ORDER BY o_custkey, o_orderkey""".stripMargin)),
    GraftQuery("q_scd2", "SCD Type-2 history: collapse unchanged runs, lead()-closed validity intervals",
      scd2,
      Some(
        """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
          |                  coalesce(event_type, '') AS attr FROM events),
          |w AS (SELECT user_id, event_id, ts_us, attr,
          |             lag(attr) OVER (PARTITION BY user_id ORDER BY ts_us NULLS FIRST, event_id NULLS FIRST) AS prev
          |      FROM e),
          |ch AS (SELECT user_id, event_id, ts_us, attr FROM w WHERE prev IS NULL OR prev <> attr)
          |SELECT user_id, event_id, attr, ts_us AS valid_from_us,
          |       lead(ts_us) OVER wd AS valid_to_us,
          |       (lead(ts_us) OVER wd IS NULL) AS is_current
          |FROM ch
          |WINDOW wd AS (PARTITION BY user_id ORDER BY ts_us NULLS FIRST, event_id NULLS FIRST)
          |ORDER BY user_id, valid_from_us, event_id""".stripMargin)),
    GraftQuery("q_scd2_lookup", "point-in-time dimension lookup: as-of over SCD2 history reconstructs each fact's state",
      scd2Lookup,
      Some(
        """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
          |       coalesce(event_type, '') AS asof_attr
          |FROM events ORDER BY user_id, event_id""".stripMargin)),
    GraftQuery("q_lag_lead", "lag/lead over ordered per-key window",
      lagLead,
      Some(
        """SELECT o_custkey, o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
          |       CAST(lag(CAST(o_totalprice AS DECIMAL(12,2)), 1) OVER w AS DOUBLE) AS prev_price,
          |       CAST(lead(CAST(o_totalprice AS DECIMAL(12,2)), 1) OVER w AS DOUBLE) AS next_price
          |FROM orders
          |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
          |ORDER BY o_custkey, o_orderkey""".stripMargin)),
  )
}
