package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftQuery
import graft.engine.Tables
import graft.engine.Tables.load

/** Tier A relational operators (SURVEY.md §2.1–2.8), re-grounded on the
  * driver testdata. Shapes mirror the reference's single curated query
  * (k8s/codes/variables.py:18-89): 3-way positional UNION ALL, a
  * five-relation left-outer join chain ending in a composite two-key
  * join whose keys come from different left-side relations, lenient
  * casts, `M/d/yyyy` date round-trips, currency-string cleanup, NVL.
  *
  * Determinism contract: every oracle-checked query ends in an explicit
  * ORDER BY over non-null keys, pins the type of every computed column,
  * and does all float arithmetic in decimal (doubles only pass through
  * untouched or convert exactly), so Spark and DuckDB agree bit-for-bit.
  *
  * Output-type contract (round 2): computed DECIMAL columns are cast to
  * DOUBLE in the FINAL projection of every registered query. Decimal
  * arithmetic stays internal (matching the reference's
  * `cast(... as decimal(10,2))`, variables.py:40), but the driver's
  * canonical row hash renders Spark's parquet Decimal differently from
  * DuckDB's float64 even when values are identical — Decimal→double
  * converts exactly at these magnitudes on both engines.
  */
object RelationalOps {

  private val dec5 = DecimalType(5, 2)
  private val dec10 = DecimalType(10, 2)
  private val dec12 = DecimalType(12, 2)
  private val dec18 = DecimalType(18, 2)

  /** CSV fixture read with the reference's exact options: `sep=","`,
    * `header=True`, UTF-8, and NO inferSchema ⇒ all columns StringType
    * (csv-to-parquet.py:38-44). That all-string ingest is what makes the
    * curated query's lenient casts load-bearing.
    */
  def csvScanAllString(spark: SparkSession, path: String): DataFrame =
    graft.engine.CsvToParquet.readCsvAllString(spark, path)

  val customersCsvPath = "/root/repo/fixtures/adventureworks/AdventureWorks_Customers.csv"

  // ---- builders -----------------------------------------------------

  /** S2: bare parquet scan (transformation.py:32-36). */
  def parquetScan(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "nation").orderBy("n_nationkey")

  /** S1: all-string CSV scan of the AdventureWorks Customers fixture. */
  def csvScan(s: SparkSession, dir: String): DataFrame =
    csvScanAllString(s, customersCsvPath).orderBy("CustomerKey")

  /** A1: count(*) validation query (etl_aws_vini.py:244-256). */
  def countStar(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "lineitem").agg(count(lit(1)).as("cnt"))

  /** lineitem split three ways by ship year, mirroring
    * Sales_2015/16/17 → UNION ALL (variables.py:19-24, positional).
    *
    * The three branches are disjoint filters of ONE table, so the union
    * is hand-merged into a single scan with a disjunctive predicate —
    * identical rows (Catalyst does not merge union branches itself, and
    * the naive form read lineitem three times). The 3-way positional
    * UNION ALL semantics stay pinned by q_union_all/q_join_chain's
    * oracles (whose SQL keeps the literal UNION ALL text) and by
    * q_curated, which executes the reference's UNION ALL SQL verbatim;
    * the DataFrame `.union` API itself is demonstrated by
    * [[unionDistinct]].
    */
  private def allSales(s: SparkSession, dir: String): DataFrame = {
    val li = load(s, dir, "lineitem")
    val y = year(col("l_shipdate"))
    li.where(y <= 1996 || y === 1997 || y === 1998 || y >= 1999)
  }

  /** U1: 3-way positional UNION ALL. */
  def unionAll(s: SparkSession, dir: String): DataFrame =
    allSales(s, dir)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast(IntegerType).as("qty"),
        year(col("l_shipdate")).as("ship_year"))
      .orderBy("l_orderkey", "l_linenumber", "qty", "ship_year")

  /** P1/F4: projection with per-column cast + alias (variables.py:26-60). */
  def projectCast(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "lineitem")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast(IntegerType).as("qty"),
        col("l_extendedprice").cast(dec12).cast(DoubleType).as("price"),
        col("l_shipdate").cast(DateType).as("ship_date"),
        col("l_returnflag").as("flag"))
      .orderBy("l_orderkey", "l_linenumber", "qty", "price", "ship_date", "flag")

  /** F4+: numeric cast matrix. Documents a REAL cross-engine semantic
    * difference: Spark's double→int cast TRUNCATES toward zero while
    * DuckDB's ROUNDS — the oracle applies trunc() first so both sides
    * state Spark's (and Java's) semantics. long→string and double→string
    * renderings agree when the double is integral-valued or short.
    */
  def numericCasts(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "orders")
      .select(
        col("o_orderkey"),
        col("o_totalprice").cast(IntegerType).as("price_int"),
        col("o_totalprice").cast(LongType).as("price_long"),
        col("o_orderkey").cast(StringType).as("key_str"),
        col("o_orderkey").cast(DoubleType).as("key_dbl"),
        (col("o_totalprice") > 200000).cast(IntegerType).as("is_big"))
      .orderBy("o_orderkey")

  /** F5: lenient string→decimal/int casts — garbage in, NULL out
    * (Spark 3.1 semantics the reference depends on; GraftSession pins
    * ansi=false to preserve them on Spark 4).
    */
  def castDecimal(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "orders")
      .select(
        col("o_orderkey"),
        format_string("%.2f", col("o_totalprice")).as("price_str"),
        format_string("%.2f", col("o_totalprice")).cast(dec10).cast(DoubleType).as("price_dec"),
        col("o_orderpriority").cast(dec10).cast(DoubleType).as("garbage_dec"),
        col("o_orderstatus").cast(IntegerType).as("garbage_int"))
      .orderBy("o_orderkey")

  /** F1–F3: `M/d/yyyy` string round-trip via
    * unix_timestamp → from_unixtime → cast date (variables.py:27-28).
    */
  def dateParse(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "orders")
      .select(
        col("o_orderkey"),
        date_format(col("o_orderdate"), "M/d/yyyy").as("us_date"),
        from_unixtime(
          unix_timestamp(date_format(col("o_orderdate"), "M/d/yyyy"), "M/d/yyyy"),
          "yyyy-MM-dd").cast(DateType).as("parsed_date"))
      .orderBy("o_orderkey")

  /** F6: nested replace() currency cleanup (variables.py:40:
    * `cast(replace(replace(AnnualIncome,'$',''),',','') as decimal(10,2))`).
    */
  def replaceCurrency(s: SparkSession, dir: String): DataFrame = {
    // Build the "$1,234.56" currency string from the DECIMAL-cast value so
    // rounding is pinned (HALF_UP) on both engines, then strip it back.
    val currency = concat(lit("$"), format_number(col("c_acctbal").cast(dec12), 2))
    load(s, dir, "customer")
      .select(
        col("c_custkey"),
        currency.as("income_str"),
        regexp_replace(regexp_replace(currency, lit("\\$"), lit("")), lit(","), lit(""))
          .cast(dec12).cast(DoubleType).as("acctbal_dec"))
      .orderBy("c_custkey")
  }

  /** F7: NVL default after a failed left join (variables.py:60:
    * `NVL(f.ReturnQuantity, 0)`). Customer filtered to one segment so
    * most orders miss ⇒ NULL path exercised.
    */
  def nvlAfterJoin(s: SparkSession, dir: String): DataFrame = {
    val o = load(s, dir, "orders")
    val c = load(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
    o.join(c, o("o_custkey") === c("c_custkey"), "left_outer")
      .select(
        col("o_orderkey"),
        coalesce(col("c_acctbal").cast(dec12), lit(0).cast(dec12))
          .cast(DoubleType).as("acctbal0"),
        coalesce(col("c_name"), lit("unknown")).as("name0"))
      .orderBy("o_orderkey")
  }

  /** P3: predicate filter; pushed to the parquet scan by Catalyst. */
  def filterPredicate(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "lineitem")
      .where(
        col("l_shipdate") >= lit("1998-01-01").cast(TimestampType)
          && col("l_returnflag") === "R"
          && col("l_discount") > 0.05)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice").cast(dec12).cast(DoubleType).as("price"),
        col("l_returnflag"))
      .orderBy("l_orderkey", "l_linenumber", "price", "l_returnflag")

  /** J1: LEFT outer equi-join, single key (variables.py:62-66). */
  def leftJoin(s: SparkSession, dir: String): DataFrame = {
    val o = load(s, dir, "orders")
    val c = load(s, dir, "customer")
    o.join(c, o("o_custkey") === c("c_custkey"), "left_outer")
      .select(
        col("o_orderkey"), col("o_custkey"),
        col("c_name"), col("c_mktsegment"))
      .orderBy("o_orderkey")
  }

  /** J3 fan-out half: LEFT join against a non-unique right side — row
    * multiplication is intended behavior (variables.py:79-83; Returns is
    * not unique on its key pair).
    */
  def joinFanout(s: SparkSession, dir: String): DataFrame = {
    val n = load(s, dir, "nation")
    val sup = load(s, dir, "supplier")
    n.join(sup, n("n_nationkey") === sup("s_nationkey"), "left_outer")
      .select(col("n_nationkey"), col("n_name"), col("s_suppkey"), col("s_name"))
      .orderBy(col("n_nationkey"), col("s_suppkey").asc_nulls_first)
  }

  /** J3: composite 2-column key whose columns come from two different
    * left-side relations (variables.py:79-83: `a.TerritoryKey =
    * f.TerritoryKey AND c.ProductKey = f.ProductKey`).
    */
  def leftJoinComposite(s: SparkSession, dir: String): DataFrame = {
    val a = load(s, dir, "lineitem").as("a")
    val b = load(s, dir, "orders").as("b")
    val c = load(s, dir, "customer").as("c")
    val f = load(s, dir, "supplier").as("f")
    a.join(b, col("a.l_orderkey") === col("b.o_orderkey"), "left_outer")
      .join(c, col("b.o_custkey") === col("c.c_custkey"), "left_outer")
      .join(f,
        col("a.l_suppkey") === col("f.s_suppkey")
          && col("c.c_nationkey") === col("f.s_nationkey"),
        "left_outer")
      .select(
        col("a.l_orderkey").as("l_orderkey"),
        col("a.l_linenumber").as("l_linenumber"),
        col("f.s_name").as("supplier_name"),
        coalesce(col("f.s_acctbal").cast(dec12), lit(0).cast(dec12))
          .cast(DoubleType).as("supp_acctbal"))
      .orderBy(col("l_orderkey"), col("l_linenumber"),
        col("supplier_name").asc_nulls_first, col("supp_acctbal"))
  }

  /** J+: LEFT SEMI join — customers having at least one open order
    * (EXISTS semantics: no fan-out, left columns only).
    */
  def semiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = load(s, dir, "customer")
    val o = load(s, dir, "orders").where(col("o_orderstatus") === "O")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy("c_custkey")
  }

  /** J+: LEFT ANTI join — customers with no order at all (NOT EXISTS). */
  def antiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = load(s, dir, "customer")
    val o = load(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")
  }

  /** J+: FULL OUTER join with unmatched rows on BOTH sides — a
    * negative-balance customer slice against per-customer order counts,
    * so some customers have no orders (left-only) and most order rows
    * have no surviving customer (right-only). The coalesced key is
    * unique per row, making the ORDER BY total. Scale: a plain
    * shuffle-on-key SortMergeJoin; FULL OUTER just keeps both null
    * sides, no extra pass.
    */
  def fullOuterJoin(s: SparkSession, dir: String): DataFrame = {
    val c = load(s, dir, "customer").where(col("c_acctbal") < 0)
      .select(col("c_custkey"), col("c_name"))
    val o = load(s, dir, "orders")
      .groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
    c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        col("c_name"), col("n_orders"))
      .orderBy("custkey")
  }

  /** W+: CDC/upsert apply — merge a change batch (I/U/D ops keyed on
    * the snapshot key) into a snapshot: the MERGE INTO a warehouse runs
    * on every load, expressed as pure relational composition (no
    * transactional format needed): `base ANTI-JOIN change-keys  UNION
    * ALL  changes WHERE op != 'D'`. One shuffle each side of the
    * anti-join; at 100 TB the change batch is small → AQE broadcasts
    * it. The demo derives a deterministic change batch from the
    * snapshot itself (key mod 7: 0→delete, 1→update price+100,
    * 2→insert under key+10⁹) so the DuckDB oracle replays it exactly.
    */
  def cdcApply(s: SparkSession, dir: String): DataFrame = {
    val base = load(s, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"),
      col("o_totalprice").cast(dec12).cast(DoubleType).as("price"),
      col("o_orderstatus"))
    // ONE derivation pass, not three filtered scans: op assigned by
    // key class, key/price adjusted per op in the same projection
    val op = when(col("o_orderkey") % 7 === 0, "D")
      .when(col("o_orderkey") % 7 === 1, "U")
      .when(col("o_orderkey") % 7 === 2, "I")
    val changes = base
      .withColumn("op", op)
      .where(col("op").isNotNull)
      .select(col("op"),
        when(col("op") === "I", col("o_orderkey") + 1000000000L)
          .otherwise(col("o_orderkey")).as("o_orderkey"),
        col("o_custkey"),
        when(col("op") === "U", col("price") + 100d)
          .otherwise(col("price")).as("price"),
        col("o_orderstatus"))
    base.join(changes.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
      .unionByName(changes.where(col("op") =!= "D").drop("op"))
      .orderBy("o_orderkey")
  }

  /** J+: scalar subquery — orders priced above the global average
    * (the average computed in decimal for cross-engine exactness).
    */
  def scalarSubquery(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    // price > avg stated as price × count > sum: exact decimal/integer
    // arithmetic on both engines (an AVG would round — Spark decimal
    // HALF_UP vs DuckDB double — and a half-cent boundary could flip)
    s.sql(
      """SELECT o_orderkey,
        |       CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total_price
        |FROM orders
        |WHERE CAST(o_totalprice AS DECIMAL(12,2)) * (SELECT COUNT(*) FROM orders) >
        |      (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,2))) FROM orders)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** C+: CORRELATED scalar subqueries — each order compared to ITS
    * customer's average. Catalyst decorrelates these into aggregates +
    * joins (no per-row re-execution); the same rewrite DuckDB's
    * decorrelator applies, which is what makes the oracle comparable.
    * "price > avg" is stated as "price × count > sum" so EVERY
    * operation is exact decimal/integer arithmetic: an AVG would round
    * (Spark: decimal HALF_UP; DuckDB: avg-of-decimal returns a double)
    * and half-cent-boundary customers could flip rows between engines.
    */
  def correlatedSubquery(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(
      """SELECT o.o_orderkey, o.o_custkey,
        |       CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total_price
        |FROM orders o
        |WHERE CAST(o.o_totalprice AS DECIMAL(12,2)) *
        |      (SELECT COUNT(*) FROM orders i WHERE i.o_custkey = o.o_custkey) >
        |      (SELECT SUM(CAST(i.o_totalprice AS DECIMAL(12,2)))
        |       FROM orders i WHERE i.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** C+: LATERAL correlated subquery — top-2 orders PER customer via a
    * correlated ORDER BY/LIMIT, the SQL-standard alternative to the
    * row_number window for top-n-per-group. Catalyst plans the lateral
    * as a join after decorrelation; customers without orders drop out
    * (inner lateral semantics).
    */
  def lateralTopN(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(
      """SELECT c.c_custkey, t.o_orderkey,
        |       CAST(CAST(t.o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total_price
        |FROM customer c,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
        |         WHERE o.o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |ORDER BY c_custkey, total_price DESC, o_orderkey""".stripMargin)
  }

  /** A+: collect_list with pinned ordering — per-segment sorted key list,
    * emitted as a CSV string (deterministic; array outputs defeat the
    * driver's canonicalization). collect_list order is
    * partition-dependent, so the sort AFTER collection is what makes
    * this reproducible — the pattern any grouped-gather needs at scale.
    */
  def collectSorted(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "customer")
      .where(col("c_custkey") < 200)
      .groupBy("c_mktsegment")
      .agg(concat_ws(",", sort_array(collect_list(col("c_custkey")))).as("custkeys"))
      .orderBy("c_mktsegment")

  /** U+: UNION with distinct semantics (vs the reference's UNION ALL). */
  def unionDistinct(s: SparkSession, dir: String): DataFrame = {
    val o = load(s, dir, "orders")
    o.where(col("o_orderstatus") === "F").select(col("o_custkey"))
      .union(o.where(col("o_orderpriority") === "1-URGENT").select(col("o_custkey")))
      .distinct()
      .orderBy("o_custkey")
  }

  /** J+: intentional CROSS JOIN of two small dims (125 rows) — the one
    * place a cartesian product is legitimate; anything larger should be
    * a keyed join (the plan audit asserts no accidental cartesians).
    */
  def crossJoinDims(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "region").select(col("r_regionkey"), col("r_name"))
      .crossJoin(load(s, dir, "nation").select(col("n_nationkey"), col("n_name")))
      .orderBy("r_regionkey", "n_nationkey")

  /** U+: INTERSECT (distinct set semantics) of two key projections. */
  def intersectKeys(s: SparkSession, dir: String): DataFrame = {
    val li = load(s, dir, "lineitem")
    li.where(col("l_returnflag") === "R").select(col("l_orderkey"))
      .intersect(li.where(col("l_linestatus") === "F").select(col("l_orderkey")))
      .orderBy("l_orderkey")
  }

  /** U+: EXCEPT (distinct set semantics) of two key projections. */
  def exceptKeys(s: SparkSession, dir: String): DataFrame = {
    val o = load(s, dir, "orders")
    o.select(col("o_custkey"))
      .except(o.where(col("o_orderstatus") === "F").select(col("o_custkey")))
      .orderBy("o_custkey")
  }

  /** A+: ROLLUP with grouping_id — subtotal rows per returnflag and a
    * grand total; NULL group keys are rollup artifacts, disambiguated by
    * the grouping id exactly as a warehouse report would.
    */
  def rollupAgg(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping_id().as("gid"),
        count(lit(1)).as("cnt"),
        sum(col("l_quantity").cast(dec12)).cast(dec18).cast(DoubleType).as("sum_qty"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** A+: static pivot — per-priority totals pivoted on order status.
    * Pivot values are pinned (F/O/P) so the output schema is static and
    * the oracle expresses the same thing with FILTER aggregates.
    */
  def pivotStatus(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(sum(col("o_totalprice").cast(dec12)).cast(dec18).cast(DoubleType))
      .orderBy("o_orderpriority")

  /** A+: unpivot/melt — the inverse of [[pivotStatus]]: wide per-status
    * totals back to (priority, status, total) long form.
    */
  def unpivotStatus(s: SparkSession, dir: String): DataFrame =
    pivotStatus(s, dir)
      .unpivot(
        Array(col("o_orderpriority")),
        Array(col("F"), col("O"), col("P")),
        "o_orderstatus", "total")
      .where(col("total").isNotNull)
      .orderBy("o_orderpriority", "o_orderstatus")

  /** F+: date/time function sweep — truncation, component extraction,
    * arithmetic, month boundaries.
    */
  def dateFuncs(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "orders")
      .select(
        col("o_orderkey"),
        col("o_orderdate").cast(DateType).as("d"),
        date_trunc("month", col("o_orderdate")).cast(DateType).as("month_start"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("dom"),
        last_day(col("o_orderdate")).as("month_end"),
        date_add(col("o_orderdate").cast(DateType), 30).as("plus30"),
        datediff(lit("1998-12-31").cast(DateType), col("o_orderdate").cast(DateType))
          .as("days_to_end"))
      .orderBy("o_orderkey")

  /** F+: conditional expressions — CASE, nullif, nvl2, greatest/least. */
  def conditionalFuncs(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "orders")
      .select(
        col("o_orderkey"),
        when(col("o_orderstatus") === "F", "finished")
          .when(col("o_orderstatus") === "O", "open")
          .otherwise("other").as("status_label"),
        expr("nullif(o_orderstatus, 'P')").as("status_not_p"),
        expr("nvl2(nullif(o_orderstatus, 'P'), 'has', 'none')").as("nvl2_label"),
        greatest(col("o_totalprice"), lit(100000.0)).as("price_floor"),
        least(col("o_totalprice"), lit(100000.0)).as("price_cap"))
      .orderBy("o_orderkey")

  /** A+: exact percentiles (linear interpolation) per group. Both
    * engines interpolate in double with differently-ordered IEEE ops, so
    * the output is pinned through DECIMAL(18,6) on both sides — last-ulp
    * jitter cannot flip a 6-dp rounding at these magnitudes.
    */
  def percentiles(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        expr("percentile(o_totalprice, 0.5)").cast(DecimalType(18, 6))
          .cast(DoubleType).as("med"),
        expr("percentile(o_totalprice, 0.9)").cast(DecimalType(18, 6))
          .cast(DoubleType).as("p90"))
      .orderBy("o_orderpriority")

  /** A+: approximate percentiles — the SKETCH companion of
    * [[percentiles]] (exactly as [[graft.ext.Dedup.approxDistinct]]
    * companions the exact count). At 100 TB `approx_percentile` is the
    * quantile operator: bounded memory per partition, mergeable
    * sketches, no per-group value sort. Sketch internals are
    * engine-specific (Spark Greenwald-Khanna vs DuckDB t-digest) →
    * rows-only in the gate; the unit suite bounds the rank error
    * against the exact key.
    */
  def approxPercentiles(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        expr("approx_percentile(o_totalprice, 0.5, 1000)").as("approx_med"),
        expr("approx_percentile(o_totalprice, 0.9, 1000)").as("approx_p90"))
      .orderBy("o_orderpriority")

  /** Gate-visible CONTAINMENT TWIN of [[approxPercentiles]]: each
    * engine checks ITS OWN sketch value against exact ±1%-rank
    * percentile bounds and emits the boolean — the sketch guarantee
    * itself becomes the oracle-compared value, so the gate proves both
    * sketches land where a quantile sketch must, without comparing
    * engine-specific sketch internals. The ±1% window is 10× Spark's
    * configured Greenwald-Khanna bound (accuracy=1000 → ±0.1% ranks)
    * and comfortably covers DuckDB's t-digest (≈±0.25% worst-case at
    * the median with default compression), while a broken sketch —
    * wrong quantile, unmerged partials — misses by whole percentiles.
    *
    * Bounds are DISCRETE percentiles (actual order statistics), not
    * interpolated: GK returns a data ELEMENT, and on a small or
    * sparsely-valued group an interpolated bound can sit strictly
    * between elements, failing a perfectly correct sketch (2 rows at
    * {0, 100}: interpolated [49, 51] contains neither). Element-valued
    * bounds make the containment hold at any group size on both
    * engines.
    */
  def approxPercentileTwin(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        expr("approx_percentile(o_totalprice, 0.5, 1000)").as("amed"),
        expr("approx_percentile(o_totalprice, 0.9, 1000)").as("ap90"),
        expr("percentile_disc(0.49) WITHIN GROUP (ORDER BY o_totalprice)").as("lo_med"),
        expr("percentile_disc(0.51) WITHIN GROUP (ORDER BY o_totalprice)").as("hi_med"),
        expr("percentile_disc(0.89) WITHIN GROUP (ORDER BY o_totalprice)").as("lo_p90"),
        expr("percentile_disc(0.91) WITHIN GROUP (ORDER BY o_totalprice)").as("hi_p90"))
      .select(
        col("o_orderpriority"),
        (col("amed") >= col("lo_med") && col("amed") <= col("hi_med"))
          .as("med_in_bounds"),
        (col("ap90") >= col("lo_p90") && col("ap90") <= col("hi_p90"))
          .as("p90_in_bounds"))
      .orderBy("o_orderpriority")

  /** F+: higher-order array functions — filter / exists / aggregate /
    * zip_with over per-order quantity arrays. INTEGER arrays on
    * purpose: HOF folds are sequential per row so integer math is
    * exact and hash-stable cross-engine (double HOF sums would carry
    * fold-order jitter). Arrays built with sort_array(collect_list)
    * — collect_list order is shuffle-dependent, the sort pins it.
    */
  def hofFuncs(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("l_quantity").cast("int"))).as("qs"))
      .select(
        col("l_orderkey"),
        expr("size(filter(qs, x -> x > 25))").as("n_over25"),
        expr("CAST(exists(qs, x -> x >= 50) AS INT)").as("has_max"),
        expr("aggregate(qs, 0L, (a, x) -> a + x)").as("total_qty"),
        expr("""aggregate(
                  zip_with(qs, reverse(qs), (a, b) -> a + b),
                  0L, (a, x) -> a + x)""").as("palindrome_sum"))
      .orderBy("l_orderkey")

  /** F+: fuzzy string matching via edit distance — successive-doc
    * Levenshtein on normalized 40-char prefixes (the dedup-adjacent
    * "how close are these titles" primitive; row-local O(n·m) per
    * pair, codegen, no shuffle beyond the deterministic pairing join).
    */
  def editDistance(s: SparkSession, dir: String): DataFrame = {
    // The prefix projection feeds both self-join sides and the differing
    // join keys (id1 vs id1+1) block ReuseExchange, so the normalize
    // runs twice. Persisting it measured 11.1 -> 6.6 s at the 10x
    // fixture when normalizeText was two regex passes — but with the
    // native graft_norm_text the recompute is cheap and the persist is
    // a wash (3.0 vs 3.1 s same fixture), so it was removed: the
    // doctrine is persist only for EXPENSIVE row-local upstreams.
    val docs = load(s, dir, "documents")
      .select(col("doc_id"),
        substring(graft.functions.TextOps.normalizeText(col("text")), 1, 40).as("p"))
    val a = docs.select(col("doc_id").as("id1"), col("p").as("p1"))
    val b = docs.select(col("doc_id").as("id2"), col("p").as("p2"))
    a.join(b, col("id2") === col("id1") + 1)
      .select(col("id1"), col("id2"),
        levenshtein(col("p1"), col("p2")).cast("long").as("edit_dist"))
      .orderBy("id1")
  }

  /** A+: statistical aggregates (mean / variance / stddev) computed
    * from EXACT integer moments: n, Σx, Σx² accumulate exactly (the
    * squared moment in DECIMAL(38,0), matching the oracle's HUGEINT)
    * (order-independent), then one division and one sqrt. IEEE pins
    * the four basic ops and sqrt to exact rounding, so the derived
    * doubles are
    * bit-identical cross-engine — unlike built-in stddev over doubles,
    * whose partition-order-dependent summation drifts in the last ulps
    * between a 32-partition Spark run and single-threaded DuckDB.
    */
  def statsAgg(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("q"))
      .groupBy("l_returnflag")
      // Σq² and the (nΣq² − (Σq)²) formula run in DECIMAL(38,0) —
      // exact like the oracle's HUGEINT path at ANY corpus size,
      // where a BIGINT (Σq)² wraps past ~3×10¹³ rows (the psiDrift
      // widening rule); one correctly-rounded cast to double at the
      // end keeps the outputs bit-identical.
      .agg(count(lit(1)).as("n"), sum("q").as("sum_q"),
        sum(col("q").cast("decimal(38,0)") * col("q")).as("sumsq_q"))
      .select(
        col("l_returnflag"), col("n"), col("sum_q"),
        (col("sum_q").cast("double") / col("n").cast("double")).as("mean_q"),
        // n·Σq² − (Σq)² ≥ 0 exactly (decimal arithmetic, Cauchy-Schwarz)
        // but the n(n−1) denominator is 0 for a single-row group, where
        // sample stddev is UNDEFINED: the explicit CASE yields NULL on
        // both engines (a nullif inside greatest would be SWALLOWED —
        // greatest skips NULLs on Spark AND DuckDB 1.0, turning the
        // undefined case into a misleading 0.0). greatest pins the FP
        // domain inside the defined branch for the D4 audit.
        sqrt(when(
          (col("n").cast("decimal(38,0)") * (col("n") - 1))
            .cast("double") > 0.0,
          greatest(((col("n") * col("sumsq_q") -
            col("sum_q").cast("decimal(38,0)") * col("sum_q"))
            .cast("double")) /
            (col("n").cast("decimal(38,0)") * (col("n") - 1))
              .cast("double"), lit(0.0)))).as("stddev_q"))
      .orderBy("l_returnflag")

  /** J+: null-safe equality join (`<=>` / IS NOT DISTINCT FROM) — NULL
    * keys match each other instead of vanishing, the semantics lenient
    * ETL needs when join keys come from failed casts.
    */
  def nullSafeJoin(s: SparkSession, dir: String): DataFrame = {
    val orders = load(s, dir, "orders")
      // orders with a digit-9-bearing key get a NULL bucket — a
      // deterministic NULL population on both sides
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 9 === 0, lit(null).cast("long"))
          .otherwise(col("o_orderkey") % 97).as("bucket"))
    val dim = s.range(0, 97).select(col("id").as("bucket"))
      .unionAll(s.range(1).select(lit(null).cast("long").as("bucket")))
      .withColumn("bucket_name",
        coalesce(concat(lit("b"), col("bucket")), lit("unparsed")))
    orders.join(dim, orders("bucket") <=> dim("bucket"))
      .select(col("o_orderkey"), col("bucket_name"))
      .orderBy("o_orderkey")
  }

  /** F+: map-typed columns — map_from_entries / element_at /
    * map_filter / transform_values / map_keys. The map is built from
    * sort_array'd (linenumber, quantity) entries so its internal order
    * is pinned (Spark maps preserve insertion order; collect_list alone
    * is shuffle-dependent). The testdata repeats linenumbers within an
    * order, and map_from_entries THROWS on duplicate keys — quantities
    * are summed per (order, line) first (the general pre-aggregate-
    * your-keys pattern any map build needs). All outputs are scalars —
    * map/array columns don't survive the driver's canonicalization.
    */
  def mapFuncs(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "lineitem")
      .select(col("l_orderkey"),
        col("l_linenumber").cast("int").as("ln"),
        col("l_quantity").cast("int").as("q"))
      .groupBy("l_orderkey", "ln")
      .agg(sum("q").cast("int").as("v"))
      .groupBy(col("l_orderkey"))
      .agg(map_from_entries(sort_array(collect_list(struct(
        col("ln").as("k"), col("v"))))).as("m"))
      .select(
        col("l_orderkey"),
        size(col("m")).as("n_lines"),
        element_at(col("m"), 1).as("qty_line1"),
        expr("size(map_filter(m, (k, v) -> v > 25))").as("n_big"),
        expr("""aggregate(map_values(transform_values(m, (k, v) -> k * v)),
                          0L, (a, x) -> a + x)""").as("weighted_qty"),
        expr("concat_ws(',', transform(map_keys(m), k -> CAST(k AS STRING)))")
          .as("line_keys"))
      .orderBy("l_orderkey")

  /** F+: bitwise functions — AND/OR/XOR, shifts, popcount. Integer
    * domain: exact on both engines by construction.
    */
  def bitwiseFuncs(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "orders")
      .select(
        col("o_orderkey"),
        col("o_orderkey").bitwiseAND(lit(255)).as("and_255"),
        col("o_orderkey").bitwiseOR(lit(16)).as("or_16"),
        col("o_orderkey").bitwiseXOR(col("o_custkey")).as("xor_cust"),
        shiftleft(col("o_orderkey"), 2).as("shl2"),
        shiftright(col("o_orderkey"), 3).as("shr3"),
        bit_count(col("o_orderkey")).as("popcount"))
      .orderBy("o_orderkey")

  /** A+: Pearson correlation + population covariance from integer
    * moments (the [[statsAgg]] technique extended to cross-moments).
    * Built-in corr()/covar_pop() stream doubles and drift in the last
    * ulps with partition order; here n, Σx, Σy, Σx², Σy², Σxy accumulate
    * as longs (order-independent, exact while each SUM fits 2⁶³ —
    * quadrillions of rows for these domains), and each sum is cast to
    * double BEFORE any product: long·long cross-terms like n·Σx² wrap
    * past 2⁶³ around sf50, whereas double products can't overflow, and
    * long→double conversion is the same correctly-rounded operation on
    * both engines. The final expressions then use only IEEE-pinned ops
    * in the SAME tree shape as the oracle (sqrt(a)·sqrt(b), not
    * sqrt(a·b) — correct rounding is per-operation, not per-formula),
    * so outputs are bit-identical cross-engine at ANY scale, and exact
    * below 2⁵³.
    */
  def corrCovar(s: SparkSession, dir: String): DataFrame = {
    val (n, sx, sy) = (col("n").cast("double"),
      col("sx").cast("double"), col("sy").cast("double"))
    val (sxx, syy, sxy) = (col("sxx").cast("double"),
      col("syy").cast("double"), col("sxy").cast("double"))
    load(s, dir, "lineitem")
      .select(col("l_returnflag"),
        col("l_quantity").cast("long").as("x"),
        col("l_linenumber").cast("long").as("y"))
      .groupBy("l_returnflag")
      // moment accumulations in DECIMAL(38,0) (the oracle's sums are
      // HUGEINT already): Σx², Σxy wrap BIGINT at 100 TB-era row
      // counts; the double formula below is unchanged — each widened
      // sum still converts to double exactly once.
      .agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
        sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"))
      .select(
        col("l_returnflag"), col("n"),
        ((n * sxy - sx * sy) / (n * n)).as("covar_pop"),
        // a group with constant x (or y) zeroes its variance term —
        // and double rounding can push the exact-zero slightly
        // negative. greatest pins the sqrt domain; nullif makes the
        // zero-variance group NULL on both engines (Spark x/0 = NULL
        // vs DuckDB NaN otherwise — the D3/D4 audit class).
        ((n * sxy - sx * sy) /
          nullif(sqrt(greatest(n * sxx - sx * sx, lit(0.0))) *
            sqrt(greatest(n * syy - sy * sy, lit(0.0))), lit(0.0)))
          .as("corr_xy"))
      .orderBy("l_returnflag")
  }

  /** Per-group ordinary least squares (closed-form simple regression)
    * from the [[corrCovar]] exact-integer-moment regime: slope =
    * (nΣxy − ΣxΣy)/(nΣx² − (Σx)²), intercept = (Σy − slope·Σx)/n,
    * r² = (nΣxy − ΣxΣy)² / ((nΣx² − (Σx)²)(nΣy² − (Σy)²)). Moments
    * are exact sums in one map-side-combined aggregate — the product
    * moments in DECIMAL(38,0) (y = whole dollars: a BIGINT Σy² wraps
    * near 10⁹ rows, far below the 100 TB design point; the oracle's
    * HUGEINT sums were always exact); each engine evaluates the
    * IDENTICAL double formula once over identical integers.
    */
  def linReg(s: SparkSession, dir: String): DataFrame = {
    val (n, sx, sy) = (col("n").cast("double"),
      col("sx").cast("double"), col("sy").cast("double"))
    val (sxx, syy, sxy) = (col("sxx").cast("double"),
      col("syy").cast("double"), col("sxy").cast("double"))
    // constant-x groups zero the slope denominator: nullif on both
    // engines (Spark x/0 = NULL vs DuckDB NaN — the D3 audit class)
    val slope = (n * sxy - sx * sy) / nullif(n * sxx - sx * sx, lit(0.0))
    load(s, dir, "lineitem")
      .select(col("l_returnflag"),
        col("l_quantity").cast("long").as("x"),
        floor(col("l_extendedprice")).cast("long").as("y"))
      .groupBy("l_returnflag")
      // DECIMAL(38,0) moment sums (oracle: HUGEINT): Σy² at
      // whole-dollar magnitudes wraps BIGINT near ~10⁹ rows — far
      // below the 100 TB design point. Formula unchanged (doubles).
      .agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
        sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"))
      .select(
        col("l_returnflag"), col("n"),
        slope.as("slope"),
        ((sy - slope * sx) / n).as("intercept"),
        (((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
          nullif((n * sxx - sx * sx) * (n * syy - sy * sy), lit(0.0)))
          .as("r2"))
      .orderBy("l_returnflag")
  }

  /** A+: population skewness + excess kurtosis from raw integer
    * moments, same regime as [[corrCovar]]: Σx..Σx⁴ accumulate exactly
    * in DECIMAL(38,0) (order-independent), each sum converts to double once
    * (identical correctly-rounded conversion on both engines), and the
    * central-moment formulas below use only IEEE-pinned ops in the
    * exact tree shape the oracle mirrors. Built-in skewness()/
    * kurtosis() stream doubles and drift with partition order.
    */
  def skewKurt(s: SparkSession, dir: String): DataFrame = {
    val n = col("n").cast("double")
    val s1 = col("s1").cast("double"); val s2 = col("s2").cast("double")
    val s3 = col("s3").cast("double"); val s4 = col("s4").cast("double")
    val mu = s1 / n
    val m2 = s2 / n - mu * mu
    val m3 = s3 / n - lit(3.0) * mu * (s2 / n) + lit(2.0) * mu * mu * mu
    val m4 = s4 / n - lit(4.0) * mu * (s3 / n) +
      lit(6.0) * mu * mu * (s2 / n) - lit(3.0) * mu * mu * mu * mu
    load(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("x"))
      .groupBy("l_returnflag")
      // DECIMAL(38,0) raw moments (oracle: HUGEINT): Σx⁴ has only
      // ~2.4× headroom inside BIGINT at a 100 TB lineitem even with
      // x ≤ 50 — widen at the design point, don't document the cliff.
      .agg(count(lit(1)).as("n"), sum("x").as("s1"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("s2"),
        sum(col("x").cast("decimal(38,0)") * col("x") * col("x")).as("s3"),
        sum(col("x").cast("decimal(38,0)") * col("x") * col("x") * col("x"))
          .as("s4"))
      .select(col("l_returnflag"), col("n"),
        // constant-x groups have m2 = 0 (and rounding can push the
        // double formula a hair negative): greatest pins the sqrt
        // domain, nullif makes the degenerate group NULL on both
        // engines (the D3/D4 audit class).
        (m3 / nullif(sqrt(greatest(m2, lit(0.0))) * m2, lit(0.0)))
          .as("skew_pop"),
        (m4 / nullif(m2 * m2, lit(0.0)) - lit(3.0)).as("kurt_excess"))
      .orderBy("l_returnflag")
  }

  /** F+: str_to_map — parse "k=v;k=v" config strings into a map and
    * look keys up. The config string is assembled deterministically
    * from event columns, so the oracle can reconstruct the lookups
    * without a map type (DuckDB has no str_to_map).
    */
  def strToMap(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "events")
      // coalesce each component: concat null-propagates, so one NULL
      // column would nuke the whole cfg string (and diverge from an
      // oracle projecting the raw columns). "uid=" parses to '', which
      // the lenient BIGINT cast turns back into NULL.
      .select(col("event_id"),
        concat(lit("type="), coalesce(col("event_type"), lit("")),
          lit(";uid="), coalesce(col("user_id").cast("string"), lit("")))
          .as("cfg"))
      // parse ONCE, look up twice: a projected map column instead of a
      // str_to_map call per extracted key (codegen subexpression
      // elimination is not guaranteed across Alias boundaries)
      .select(col("event_id"), expr("str_to_map(cfg, ';', '=')").as("m"))
      .select(col("event_id"),
        col("m").getItem("type").as("cfg_type"),
        col("m").getItem("uid").cast("bigint").as("cfg_uid"))
      .orderBy("event_id")

  /** F+: posexplode — positional explode of the first five normalized
    * tokens per document (the UDTF surface: one input row → (pos, val)
    * rows with the ordinal kept).
    */
  def posExplodeTokens(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(col("doc_id"),
        split(graft.functions.TextOps.normalizeText(col("text")), " ").as("toks"))
      .selectExpr("doc_id", "posexplode(slice(toks, 1, 5)) AS (pos, tok)")
      .orderBy("doc_id", "pos")

  /** U+: INTERSECT ALL / EXCEPT ALL — bag semantics (multiplicity
    * min / difference), distinct from the set-semantics pair above.
    */
  def intersectAllKeys(s: SparkSession, dir: String): DataFrame = {
    val li = load(s, dir, "lineitem")
    li.where(col("l_returnflag") === "R").select(col("l_orderkey"))
      .intersectAll(li.where(col("l_linestatus") === "F").select(col("l_orderkey")))
      .orderBy("l_orderkey")
  }

  def exceptAllKeys(s: SparkSession, dir: String): DataFrame = {
    val o = load(s, dir, "orders")
    o.select(col("o_custkey"))
      .exceptAll(o.where(col("o_orderstatus") === "F").select(col("o_custkey")))
      .orderBy("o_custkey")
  }

  /** Snapshot diff — the table-reconciliation primitive behind "what
    * changed between yesterday's load and today's": per primary key,
    * a status (added / removed / changed / unchanged) and the
    * comma-joined list of columns whose values differ (null-safe
    * comparison throughout, so NULL→value and value→NULL both count
    * as changes and NULL==NULL does not).
    *
    * 100 TB shape: ONE co-keyed shuffle (the full-outer sort-merge
    * join on the pk, AQE-planned); every status/changed-column
    * computation is row-local on the joined row. Snapshots already
    * bucketed/partitioned by pk diff shuffle-free. No window, no
    * driver state, output linear in the union of keys.
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame, pk: String,
      cols: Seq[String]): DataFrame = {
    def side(df: DataFrame, p: String) =
      df.select((pk +: cols).map(c => col(c).as(p + c)): _*)
    val o = side(oldSnap, "o_s_")
    val n = side(newSnap, "n_s_")
    val same = cols.map(c => col("o_s_" + c) <=> col("n_s_" + c))
    val status = when(col("o_s_" + pk).isNull, "added")
      .when(col("n_s_" + pk).isNull, "removed")
      .when(same.reduce(_ && _), "unchanged")
      .otherwise("changed")
    val changed = when(
      col("o_s_" + pk).isNull || col("n_s_" + pk).isNull, lit(""))
      .otherwise(concat_ws(",", cols.map(c =>
        when(!(col("o_s_" + c) <=> col("n_s_" + c)), lit(c))): _*))
    o.join(n, col("o_s_" + pk) === col("n_s_" + pk), "full_outer")
      .select(
        coalesce(col("o_s_" + pk), col("n_s_" + pk)).as("pk"),
        status.as("status"), changed.as("changed_cols"))
      .orderBy("pk")
  }

  /** Registered diff: two deterministic snapshot views of orders —
    * "old" drops keys ≡0 (mod 7), "new" drops keys ≡0 (mod 5) and
    * bumps totalprice on keys ≡0 (mod 3) — so all four statuses occur
    * on every fixture SF.
    */
  def snapshotDiffQuery(s: SparkSession, dir: String): DataFrame = {
    val orders = load(s, dir, "orders")
    val oldSnap = orders.where(col("o_orderkey") % 7 =!= 0)
    val newSnap = orders.where(col("o_orderkey") % 5 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")))
    snapshotDiff(oldSnap, newSnap, "o_orderkey",
      Seq("o_custkey", "o_orderstatus", "o_totalprice"))
  }

  /** A+: explicit GROUPING SETS — the general form rollup/cube sugar
    * over; run through spark.sql like the reference's query style.
    */
  def groupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(
      """SELECT l_returnflag, l_linestatus,
        |       CAST(GROUPING_ID(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |       count(*) AS cnt
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)
  }

  /** A+: FILTER clauses on aggregates — per-group conditional counts and
    * sums without a self-join or CASE pyramid.
    */
  def aggFilter(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(
      """SELECT l_returnflag,
        |       count(*) AS cnt,
        |       count(*) FILTER (WHERE l_discount > 0.05) AS cnt_discounted,
        |       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) FILTER (WHERE l_linestatus = 'F') AS DECIMAL(18,2)) AS DOUBLE) AS qty_f
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  /** A+: CUBE — all grouping combinations (the 2^n superset of ROLLUP's
    * prefixes), disambiguated by the grouping bitmask.
    */
  def cubeAgg(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping_id().as("gid"),
        count(lit(1)).as("cnt"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** C1/S4: WITH-clause with two chained CTEs over registered temp views,
    * run through spark.sql — the reference's exact execution style
    * (transformation.py:30-41). The SQL string is ANSI enough that the
    * identical text is the DuckDB oracle.
    */
  val cteSql: String =
    """WITH order_rev AS (
      |  SELECT l_orderkey,
      |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS revenue
      |  FROM lineitem GROUP BY l_orderkey
      |), cust_rev AS (
      |  SELECT o.o_custkey AS o_custkey,
      |         CAST(CAST(SUM(r.revenue) AS DECIMAL(18,2)) AS DOUBLE) AS cust_revenue,
      |         COUNT(*) AS n_orders
      |  FROM orders o JOIN order_rev r ON o.o_orderkey = r.l_orderkey
      |  GROUP BY o.o_custkey
      |)
      |SELECT o_custkey, cust_revenue, n_orders FROM cust_rev ORDER BY o_custkey""".stripMargin

  def cte(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(cteSql)
  }

  /** A-extra: grouped aggregation with exact decimal arithmetic (partial
    * map-side aggregation comes free from Spark; at scale this is the
    * two-phase partial/final pattern).
    */
  def groupAgg(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("l_quantity").cast(dec12)).cast(dec18).cast(DoubleType).as("sum_qty"),
        sum(col("l_extendedprice").cast(dec12)).cast(dec18).cast(DoubleType).as("sum_price"),
        sum(col("l_extendedprice").cast(dec12)
          * (lit(1).cast(dec5) - col("l_discount").cast(dec5)))
          .cast(DecimalType(22, 4)).cast(DoubleType).as("revenue"),
        (sum(col("l_quantity").cast(dec12)).cast(DoubleType) / count(lit(1)))
          .as("avg_qty"),
        min(col("l_shipdate").cast(DateType)).as("min_ship"),
        max(col("l_shipdate").cast(DateType)).as("max_ship"))
      .orderBy("l_returnflag", "l_linestatus")

  /** J4 + C1 + U1 + P1 + F4-F7 in one: the flagship — the reference's
    * curated query shape (variables.py:18-89) transplanted onto testdata.
    * 3-way UNION ALL ≈ Sales_2015/16/17; five LEFT joins ending in the
    * two-sided composite supplier join ≈ the Returns join.
    */
  def joinChain(s: SparkSession, dir: String): DataFrame = {
    val a = allSales(s, dir).as("a")
    val b = load(s, dir, "orders").as("b")
    val c = load(s, dir, "customer").as("c")
    val n = load(s, dir, "nation").as("n")
    val r = load(s, dir, "region").as("r")
    val f = load(s, dir, "supplier").as("f")
    a.join(b, col("a.l_orderkey") === col("b.o_orderkey"), "left_outer")
      .join(c, col("b.o_custkey") === col("c.c_custkey"), "left_outer")
      .join(n, col("c.c_nationkey") === col("n.n_nationkey"), "left_outer")
      .join(r, col("n.n_regionkey") === col("r.r_regionkey"), "left_outer")
      .join(f,
        col("a.l_suppkey") === col("f.s_suppkey")
          && col("c.c_nationkey") === col("f.s_nationkey"),
        "left_outer")
      .select(
        col("a.l_orderkey").as("l_orderkey"),
        col("a.l_linenumber").as("l_linenumber"),
        col("a.l_quantity").cast(IntegerType).as("qty"),
        col("a.l_extendedprice").cast(dec12).cast(DoubleType).as("price"),
        col("a.l_shipdate").cast(DateType).as("ship_date"),
        col("b.o_orderstatus").as("order_status"),
        col("b.o_totalprice").cast(dec12).cast(DoubleType).as("total_price"),
        col("b.o_orderdate").cast(DateType).as("order_date"),
        col("c.c_name").as("customer_name"),
        col("c.c_mktsegment").as("mktsegment"),
        col("c.c_acctbal").cast(dec12).cast(DoubleType).as("acctbal"),
        col("n.n_name").as("nation_name"),
        col("r.r_name").as("region_name"),
        col("f.s_name").as("supplier_name"),
        coalesce(col("f.s_acctbal").cast(dec12), lit(0).cast(dec12))
          .cast(DoubleType).as("supplier_acctbal"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("qty"), col("price"),
        col("supplier_name").asc_nulls_first, col("supplier_acctbal"))
  }

  // ---- oracle SQL (DuckDB dialect, SURVEY.md §7.6) --------------------

  private val joinChainOracle =
    """WITH all_sales AS (
      |  SELECT * FROM lineitem WHERE year(l_shipdate) <= 1996
      |  UNION ALL
      |  SELECT * FROM lineitem WHERE year(l_shipdate) IN (1997, 1998)
      |  UNION ALL
      |  SELECT * FROM lineitem WHERE year(l_shipdate) >= 1999
      |), info AS (
      |  SELECT a.l_orderkey AS l_orderkey, a.l_linenumber AS l_linenumber,
      |    CAST(a.l_quantity AS INTEGER) AS qty,
      |    CAST(CAST(a.l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
      |    CAST(a.l_shipdate AS DATE) AS ship_date,
      |    b.o_orderstatus AS order_status,
      |    CAST(CAST(b.o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total_price,
      |    CAST(b.o_orderdate AS DATE) AS order_date,
      |    c.c_name AS customer_name, c.c_mktsegment AS mktsegment,
      |    CAST(CAST(c.c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS acctbal,
      |    n.n_name AS nation_name, r.r_name AS region_name,
      |    f.s_name AS supplier_name,
      |    CAST(COALESCE(CAST(f.s_acctbal AS DECIMAL(12,2)), CAST(0 AS DECIMAL(12,2))) AS DOUBLE) AS supplier_acctbal
      |  FROM all_sales a
      |  LEFT JOIN orders b ON a.l_orderkey = b.o_orderkey
      |  LEFT JOIN customer c ON b.o_custkey = c.c_custkey
      |  LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
      |  LEFT JOIN supplier f ON a.l_suppkey = f.s_suppkey AND c.c_nationkey = f.s_nationkey
      |)
      |SELECT * FROM info
      |ORDER BY l_orderkey, l_linenumber, qty, price, supplier_name NULLS FIRST, supplier_acctbal""".stripMargin

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q_parquet_scan", "S2 parquet scan (transformation.py:32-36)",
      parquetScan,
      Some("SELECT * FROM nation ORDER BY n_nationkey")),
    GraftQuery("q_csv_scan", "S1 all-string CSV scan (csv-to-parquet.py:38-44)",
      csvScan,
      Some(s"SELECT * FROM read_csv('$customersCsvPath', header=true, all_varchar=true) ORDER BY CustomerKey")),
    GraftQuery("q_count_star", "A1 count(*) validation (etl_aws_vini.py:244-256)",
      countStar,
      Some("SELECT count(*) AS cnt FROM lineitem")),
    GraftQuery("q_union_all", "U1 3-way positional UNION ALL (variables.py:19-24)",
      unionAll,
      Some(
        """WITH s AS (
          |  SELECT l_orderkey, l_linenumber, CAST(l_quantity AS INTEGER) AS qty,
          |         CAST(year(l_shipdate) AS INTEGER) AS ship_year
          |  FROM lineitem WHERE year(l_shipdate) <= 1996
          |  UNION ALL
          |  SELECT l_orderkey, l_linenumber, CAST(l_quantity AS INTEGER),
          |         CAST(year(l_shipdate) AS INTEGER)
          |  FROM lineitem WHERE year(l_shipdate) IN (1997, 1998)
          |  UNION ALL
          |  SELECT l_orderkey, l_linenumber, CAST(l_quantity AS INTEGER),
          |         CAST(year(l_shipdate) AS INTEGER)
          |  FROM lineitem WHERE year(l_shipdate) >= 1999
          |)
          |SELECT * FROM s ORDER BY l_orderkey, l_linenumber, qty, ship_year""".stripMargin)),
    GraftQuery("q_project_cast", "P1/F4 cast-and-alias projection (variables.py:26-60)",
      projectCast,
      Some(
        """SELECT l_orderkey, l_linenumber, CAST(l_quantity AS INTEGER) AS qty,
          |       CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
          |       CAST(l_shipdate AS DATE) AS ship_date,
          |       l_returnflag AS flag
          |FROM lineitem ORDER BY l_orderkey, l_linenumber, qty, price, ship_date, flag""".stripMargin)),
    GraftQuery("q_numeric_casts", "numeric cast matrix (trunc-vs-round documented)",
      numericCasts,
      Some(
        """SELECT o_orderkey,
          |       CAST(trunc(o_totalprice) AS INTEGER) AS price_int,
          |       CAST(trunc(o_totalprice) AS BIGINT) AS price_long,
          |       CAST(o_orderkey AS VARCHAR) AS key_str,
          |       CAST(o_orderkey AS DOUBLE) AS key_dbl,
          |       CAST(o_totalprice > 200000 AS INTEGER) AS is_big
          |FROM orders ORDER BY o_orderkey""".stripMargin)),
    GraftQuery("q_cast_decimal", "F5 lenient string→decimal/int casts",
      castDecimal,
      Some(
        """SELECT o_orderkey,
          |       printf('%.2f', o_totalprice) AS price_str,
          |       CAST(TRY_CAST(printf('%.2f', o_totalprice) AS DECIMAL(10,2)) AS DOUBLE) AS price_dec,
          |       CAST(TRY_CAST(o_orderpriority AS DECIMAL(10,2)) AS DOUBLE) AS garbage_dec,
          |       TRY_CAST(o_orderstatus AS INTEGER) AS garbage_int
          |FROM orders ORDER BY o_orderkey""".stripMargin)),
    GraftQuery("q_date_parse", "F1-F3 M/d/yyyy round-trip (variables.py:27-28)",
      dateParse,
      Some(
        """SELECT o_orderkey,
          |       strftime(o_orderdate, '%-m/%-d/%Y') AS us_date,
          |       CAST(strptime(strftime(o_orderdate, '%-m/%-d/%Y'), '%-m/%-d/%Y') AS DATE) AS parsed_date
          |FROM orders ORDER BY o_orderkey""".stripMargin)),
    GraftQuery("q_replace", "F6 nested replace currency cleanup (variables.py:40)",
      replaceCurrency,
        // DuckDB's format() refuses thousand separators for non-integers,
        // so the "$1,234.56" string is assembled from the integer part
        // (grouped) + 2-digit fraction of the DECIMAL-cast value.
        Some(
          """WITH d AS (SELECT c_custkey, CAST(c_acctbal AS DECIMAL(12,2)) AS d FROM customer),
            |cur AS (
            |  SELECT c_custkey,
            |         '$' || CASE WHEN d < 0 THEN '-' ELSE '' END
            |             || format('{:,}', CAST(trunc(abs(d)) AS BIGINT))
            |             || '.' || lpad(CAST(CAST(abs(d) * 100 AS BIGINT) % 100 AS VARCHAR), 2, '0') AS income_str
            |  FROM d)
            |SELECT c_custkey, income_str,
            |       CAST(CAST(replace(replace(income_str, '$', ''), ',', '') AS DECIMAL(12,2)) AS DOUBLE) AS acctbal_dec
            |FROM cur ORDER BY c_custkey""".stripMargin)),
    GraftQuery("q_nvl", "F7 NVL default after failed left join (variables.py:60)",
      nvlAfterJoin,
      Some(
        """SELECT o_orderkey,
          |       CAST(COALESCE(CAST(c_acctbal AS DECIMAL(12,2)), CAST(0 AS DECIMAL(12,2))) AS DOUBLE) AS acctbal0,
          |       COALESCE(c_name, 'unknown') AS name0
          |FROM orders LEFT JOIN (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING') c
          |  ON o_custkey = c_custkey
          |ORDER BY o_orderkey""".stripMargin)),
    GraftQuery("q_filter", "P3 pushed-down predicate filter",
      filterPredicate,
      Some(
        """SELECT l_orderkey, l_linenumber,
          |       CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) AS price, l_returnflag
          |FROM lineitem
          |WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_returnflag = 'R' AND l_discount > 0.05
          |ORDER BY l_orderkey, l_linenumber, price, l_returnflag""".stripMargin)),
    GraftQuery("q_left_join", "J1 LEFT equi-join single key (variables.py:62-66)",
      leftJoin,
      Some(
        """SELECT o_orderkey, o_custkey, c_name, c_mktsegment
          |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
          |ORDER BY o_orderkey""".stripMargin)),
    GraftQuery("q_join_fanout", "J3 fan-out left join, non-unique right (variables.py:79-83)",
      joinFanout,
      Some(
        """SELECT n_nationkey, n_name, s_suppkey, s_name
          |FROM nation LEFT JOIN supplier ON n_nationkey = s_nationkey
          |ORDER BY n_nationkey, s_suppkey NULLS FIRST""".stripMargin)),
    GraftQuery("q_left_join_composite", "J3 composite key from two left relations (variables.py:79-83)",
      leftJoinComposite,
      Some(
        """SELECT a.l_orderkey AS l_orderkey, a.l_linenumber AS l_linenumber,
          |       f.s_name AS supplier_name,
          |       CAST(COALESCE(CAST(f.s_acctbal AS DECIMAL(12,2)), CAST(0 AS DECIMAL(12,2))) AS DOUBLE) AS supp_acctbal
          |FROM lineitem a
          |LEFT JOIN orders b ON a.l_orderkey = b.o_orderkey
          |LEFT JOIN customer c ON b.o_custkey = c.c_custkey
          |LEFT JOIN supplier f ON a.l_suppkey = f.s_suppkey AND c.c_nationkey = f.s_nationkey
          |ORDER BY l_orderkey, l_linenumber, supplier_name NULLS FIRST, supp_acctbal""".stripMargin)),
    GraftQuery("q_cte", "C1 chained CTEs via spark.sql over temp views (variables.py:19-88)",
      cte, Some(cteSql)),
    GraftQuery("q_group_agg", "grouped agg, exact decimal arithmetic (Tier B §2.4)",
      groupAgg,
      Some(
        """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
          |       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
          |       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price,
          |       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(5,2)) - CAST(l_discount AS DECIMAL(5,2)))) AS DECIMAL(22,4)) AS DOUBLE) AS revenue,
          |       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
          |       min(CAST(l_shipdate AS DATE)) AS min_ship,
          |       max(CAST(l_shipdate AS DATE)) AS max_ship
          |FROM lineitem GROUP BY l_returnflag, l_linestatus
          |ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    GraftQuery("q_join_chain", "J4 flagship: UNION ALL + 5 left joins + casts (variables.py:18-89)",
      joinChain, Some(joinChainOracle)),
    GraftQuery("q_collect_sorted", "grouped gather: sorted collect_list as CSV string",
      collectSorted,
      Some(
        """SELECT c_mktsegment,
          |       list_aggregate(list_sort(list(c_custkey)), 'string_agg', ',') AS custkeys
          |FROM customer WHERE c_custkey < 200
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
    GraftQuery("q_union_distinct", "UNION with distinct semantics",
      unionDistinct,
      Some(
        """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
          |UNION
          |SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
          |ORDER BY o_custkey""".stripMargin)),
    GraftQuery("q_cross_join", "intentional small-dim CROSS JOIN (125 rows)",
      crossJoinDims,
      Some(
        """SELECT r_regionkey, r_name, n_nationkey, n_name
          |FROM region CROSS JOIN nation
          |ORDER BY r_regionkey, n_nationkey""".stripMargin)),
    GraftQuery("q_semi_join", "LEFT SEMI join (EXISTS, no fan-out)",
      semiJoin,
      Some(
        """SELECT c_custkey, c_name, c_mktsegment FROM customer c
          |WHERE EXISTS (SELECT 1 FROM orders o
          |              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
          |ORDER BY c_custkey""".stripMargin)),
    GraftQuery("q_anti_join", "LEFT ANTI join (NOT EXISTS)",
      antiJoin,
      Some(
        """SELECT c_custkey, c_name FROM customer c
          |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
          |ORDER BY c_custkey""".stripMargin)),
    GraftQuery("q_cdc_apply", "CDC/upsert apply: anti-join + union-all MERGE with I/U/D change batch",
      cdcApply,
      Some(
        """WITH base AS (
          |  SELECT o_orderkey, o_custkey,
          |         CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
          |         o_orderstatus
          |  FROM orders),
          |changes AS (
          |  SELECT 'D' AS op, o_orderkey, o_custkey, price, o_orderstatus
          |  FROM base WHERE o_orderkey % 7 = 0
          |  UNION ALL
          |  SELECT 'U', o_orderkey, o_custkey, price + 100, o_orderstatus
          |  FROM base WHERE o_orderkey % 7 = 1
          |  UNION ALL
          |  SELECT 'I', o_orderkey + 1000000000, o_custkey, price, o_orderstatus
          |  FROM base WHERE o_orderkey % 7 = 2)
          |SELECT o_orderkey, o_custkey, price, o_orderstatus FROM base
          |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM changes)
          |UNION ALL
          |SELECT o_orderkey, o_custkey, price, o_orderstatus FROM changes WHERE op <> 'D'
          |ORDER BY o_orderkey""".stripMargin)),
    GraftQuery("q_full_outer_join", "FULL OUTER join keeping unmatched rows on both sides",
      fullOuterJoin,
      Some(
        """WITH c AS (SELECT c_custkey, c_name FROM customer WHERE c_acctbal < 0),
          |o AS (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey)
          |SELECT coalesce(c_custkey, o_custkey) AS custkey, c_name, n_orders
          |FROM c FULL OUTER JOIN o ON c_custkey = o_custkey
          |ORDER BY custkey""".stripMargin)),
    GraftQuery("q_scalar_subquery", "scalar subquery in a predicate (above-average filter, exact arithmetic)",
      scalarSubquery,
      Some(
        """SELECT o_orderkey,
          |       CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total_price
          |FROM orders
          |WHERE CAST(o_totalprice AS DECIMAL(12,2)) * (SELECT COUNT(*) FROM orders) >
          |      (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,2))) FROM orders)
          |ORDER BY o_orderkey""".stripMargin)),
    GraftQuery("q_correlated_subquery", "correlated scalar subqueries (above own customer's average, exact arithmetic), decorrelated by Catalyst",
      correlatedSubquery,
      Some(
        """SELECT o.o_orderkey, o.o_custkey,
          |       CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total_price
          |FROM orders o
          |WHERE CAST(o.o_totalprice AS DECIMAL(12,2)) *
          |      (SELECT COUNT(*) FROM orders i WHERE i.o_custkey = o.o_custkey) >
          |      (SELECT SUM(CAST(i.o_totalprice AS DECIMAL(12,2)))
          |       FROM orders i WHERE i.o_custkey = o.o_custkey)
          |ORDER BY o_orderkey""".stripMargin)),
    GraftQuery("q_lateral_topn", "LATERAL correlated subquery: top-2 orders per customer",
      lateralTopN,
      Some(
        """SELECT c.c_custkey, t.o_orderkey,
          |       CAST(CAST(t.o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total_price
          |FROM customer c,
          |LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
          |         WHERE o.o_custkey = c.c_custkey
          |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
          |ORDER BY c_custkey, total_price DESC, o_orderkey""".stripMargin)),
    GraftQuery("q_intersect", "INTERSECT distinct set semantics (§2.6 Tier B)",
      intersectKeys,
      Some(
        """SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
          |INTERSECT
          |SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'F'
          |ORDER BY l_orderkey""".stripMargin)),
    GraftQuery("q_except", "EXCEPT distinct set semantics (§2.6 Tier B)",
      exceptKeys,
      Some(
        """SELECT o_custkey FROM orders
          |EXCEPT
          |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
          |ORDER BY o_custkey""".stripMargin)),
    GraftQuery("q_pivot", "static pivot on order status (conditional-agg equivalent)",
      pivotStatus,
      Some(
        """SELECT o_orderpriority,
          |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) FILTER (o_orderstatus = 'F') AS DECIMAL(18,2)) AS DOUBLE) AS "F",
          |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) FILTER (o_orderstatus = 'O') AS DECIMAL(18,2)) AS DOUBLE) AS "O",
          |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) FILTER (o_orderstatus = 'P') AS DECIMAL(18,2)) AS DOUBLE) AS "P"
          |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    GraftQuery("q_unpivot", "unpivot/melt back to long form (inverse of q_pivot)",
      unpivotStatus,
      Some(
        """WITH wide AS (
          |  SELECT o_orderpriority,
          |         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) FILTER (o_orderstatus = 'F') AS DECIMAL(18,2)) AS DOUBLE) AS "F",
          |         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) FILTER (o_orderstatus = 'O') AS DECIMAL(18,2)) AS DOUBLE) AS "O",
          |         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) FILTER (o_orderstatus = 'P') AS DECIMAL(18,2)) AS DOUBLE) AS "P"
          |  FROM orders GROUP BY o_orderpriority)
          |SELECT o_orderpriority, o_orderstatus, total FROM (
          |  SELECT o_orderpriority, 'F' AS o_orderstatus, "F" AS total FROM wide
          |  UNION ALL SELECT o_orderpriority, 'O', "O" FROM wide
          |  UNION ALL SELECT o_orderpriority, 'P', "P" FROM wide)
          |WHERE total IS NOT NULL
          |ORDER BY o_orderpriority, o_orderstatus""".stripMargin)),
    GraftQuery("q_date_funcs", "date truncation/extraction/arithmetic sweep",
      dateFuncs,
      Some(
        """SELECT o_orderkey,
          |       CAST(o_orderdate AS DATE) AS d,
          |       CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
          |       CAST(year(o_orderdate) AS INTEGER) AS y,
          |       CAST(month(o_orderdate) AS INTEGER) AS m,
          |       CAST(day(o_orderdate) AS INTEGER) AS dom,
          |       last_day(CAST(o_orderdate AS DATE)) AS month_end,
          |       CAST(o_orderdate AS DATE) + 30 AS plus30,
          |       CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS INTEGER) AS days_to_end
          |FROM orders ORDER BY o_orderkey""".stripMargin)),
    GraftQuery("q_conditional_funcs", "CASE/nullif/nvl2/greatest/least sweep",
      conditionalFuncs,
      Some(
        """SELECT o_orderkey,
          |       CASE WHEN o_orderstatus = 'F' THEN 'finished'
          |            WHEN o_orderstatus = 'O' THEN 'open'
          |            ELSE 'other' END AS status_label,
          |       nullif(o_orderstatus, 'P') AS status_not_p,
          |       CASE WHEN nullif(o_orderstatus, 'P') IS NOT NULL THEN 'has' ELSE 'none' END AS nvl2_label,
          |       greatest(o_totalprice, 100000.0) AS price_floor,
          |       least(o_totalprice, 100000.0) AS price_cap
          |FROM orders ORDER BY o_orderkey""".stripMargin)),
    GraftQuery("q_percentile", "exact linear-interpolation percentiles per group",
      percentiles,
      Some(
        """SELECT o_orderpriority,
          |       CAST(CAST(quantile_cont(o_totalprice, 0.5) AS DECIMAL(18,6)) AS DOUBLE) AS med,
          |       CAST(CAST(quantile_cont(o_totalprice, 0.9) AS DECIMAL(18,6)) AS DOUBLE) AS p90
          |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    GraftQuery("q_approx_percentile", "approx quantile sketch (engine-specific values -> rows-only; error unit-bounded vs q_percentile)",
      approxPercentiles, None),
    GraftQuery("q_approx_percentile_twin",
      "sketch-guarantee containment check: each engine's approx quantile lands inside exact +-1%-rank bounds",
      approxPercentileTwin,
      Some(
        """SELECT o_orderpriority,
          |       approx_quantile(o_totalprice, 0.5) >= quantile_disc(o_totalprice, 0.49)
          |       AND approx_quantile(o_totalprice, 0.5) <= quantile_disc(o_totalprice, 0.51) AS med_in_bounds,
          |       approx_quantile(o_totalprice, 0.9) >= quantile_disc(o_totalprice, 0.89)
          |       AND approx_quantile(o_totalprice, 0.9) <= quantile_disc(o_totalprice, 0.91) AS p90_in_bounds
          |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    GraftQuery("q_stats_agg", "mean/stddev from exact integer moments (bit-identical cross-engine)",
      statsAgg,
      Some(
        """SELECT l_returnflag,
          |       count(*) AS n,
          |       CAST(sum(q) AS BIGINT) AS sum_q,
          |       CAST(CAST(sum(q) AS BIGINT) AS DOUBLE) / count(*) AS mean_q,
          |       sqrt(CASE WHEN CAST(count(*) * (count(*) - 1) AS DOUBLE) > 0.0
          |            THEN greatest(CAST(count(*) * CAST(sum(q*q) AS BIGINT) - CAST(sum(q) AS BIGINT) * CAST(sum(q) AS BIGINT) AS DOUBLE)
          |                 / CAST(count(*) * (count(*) - 1) AS DOUBLE), 0.0) END) AS stddev_q
          |FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q FROM lineitem)
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    GraftQuery("q_null_safe_join", "null-safe equality join: NULL keys match (IS NOT DISTINCT FROM)",
      nullSafeJoin,
      Some(
        """WITH o AS (
          |  SELECT o_orderkey,
          |         CASE WHEN o_orderkey % 9 = 0 THEN NULL ELSE o_orderkey % 97 END AS bucket
          |  FROM orders),
          |dim AS (
          |  SELECT CAST(unnest(range(0, 97)) AS BIGINT) AS bucket
          |  UNION ALL SELECT NULL)
          |SELECT o.o_orderkey,
          |       coalesce('b' || dim.bucket, 'unparsed') AS bucket_name
          |FROM o JOIN dim ON o.bucket IS NOT DISTINCT FROM dim.bucket
          |ORDER BY o.o_orderkey""".stripMargin)),
    GraftQuery("q_hof_funcs", "higher-order array functions: filter/exists/aggregate/zip_with (exact int math)",
      hofFuncs,
      Some(
        """SELECT l_orderkey,
          |       CAST(len(list_filter(qs, x -> x > 25)) AS INT) AS n_over25,
          |       CAST(len(list_filter(qs, x -> x >= 50)) > 0 AS INT) AS has_max,
          |       CAST(list_sum(qs) AS BIGINT) AS total_qty,
          |       CAST(list_sum(list_transform(range(1, len(qs) + 1),
          |                     i -> qs[i] + qs[len(qs) + 1 - i])) AS BIGINT) AS palindrome_sum
          |FROM (SELECT l_orderkey, list(CAST(l_quantity AS INT) ORDER BY CAST(l_quantity AS INT)) AS qs
          |      FROM lineitem GROUP BY l_orderkey)
          |ORDER BY l_orderkey""".stripMargin)),
    GraftQuery("q_edit_distance", "Levenshtein fuzzy matching of successive docs (40-char normalized prefixes)",
      editDistance,
      Some(
        """WITH p AS (
          |  SELECT doc_id,
          |         substring(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), 1, 40) AS p
          |  FROM documents)
          |SELECT a.doc_id AS id1, b.doc_id AS id2,
          |       CAST(levenshtein(a.p, b.p) AS BIGINT) AS edit_dist
          |FROM p a JOIN p b ON b.doc_id = a.doc_id + 1
          |ORDER BY id1""".stripMargin)),
    GraftQuery("q_map_funcs", "map-typed columns: map_from_entries/element_at/map_filter/transform_values",
      mapFuncs,
      Some(
        """SELECT l_orderkey,
          |       CAST(count(*) AS INT) AS n_lines,
          |       CAST(max(CASE WHEN ln = 1 THEN v END) AS INT) AS qty_line1,
          |       CAST(count(*) FILTER (WHERE v > 25) AS INT) AS n_big,
          |       CAST(sum(ln * v) AS BIGINT) AS weighted_qty,
          |       string_agg(CAST(ln AS VARCHAR), ',' ORDER BY ln) AS line_keys
          |FROM (SELECT l_orderkey, CAST(l_linenumber AS INT) AS ln,
          |             CAST(CAST(sum(CAST(l_quantity AS INT)) AS BIGINT) AS INT) AS v
          |      FROM lineitem GROUP BY l_orderkey, CAST(l_linenumber AS INT))
          |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin)),
    GraftQuery("q_bitwise", "bitwise AND/OR/XOR, shifts, popcount (exact integer domain)",
      bitwiseFuncs,
      Some(
        """SELECT o_orderkey,
          |       o_orderkey & 255 AS and_255,
          |       o_orderkey | 16 AS or_16,
          |       xor(o_orderkey, o_custkey) AS xor_cust,
          |       o_orderkey << 2 AS shl2,
          |       o_orderkey >> 3 AS shr3,
          |       CAST(bit_count(o_orderkey) AS INT) AS popcount
          |FROM orders ORDER BY o_orderkey""".stripMargin)),
    GraftQuery("q_corr_covar", "Pearson corr + covar_pop from exact integer moments (bit-identical cross-engine)",
      corrCovar,
      Some(
        """WITH m AS (
          |  SELECT l_returnflag,
          |         CAST(count(*) AS DOUBLE) AS n,
          |         CAST(CAST(sum(x) AS BIGINT) AS DOUBLE) AS sx,
          |         CAST(CAST(sum(y) AS BIGINT) AS DOUBLE) AS sy,
          |         CAST(CAST(sum(x*x) AS BIGINT) AS DOUBLE) AS sxx,
          |         CAST(CAST(sum(y*y) AS BIGINT) AS DOUBLE) AS syy,
          |         CAST(CAST(sum(x*y) AS BIGINT) AS DOUBLE) AS sxy
          |  FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
          |               CAST(l_linenumber AS BIGINT) AS y FROM lineitem)
          |  GROUP BY l_returnflag)
          |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
          |       (n * sxy - sx * sy) / (n * n) AS covar_pop,
          |       (n * sxy - sx * sy)
          |         / nullif(sqrt(greatest(n * sxx - sx * sx, 0.0)) * sqrt(greatest(n * syy - sy * sy, 0.0)), 0.0) AS corr_xy
          |FROM m ORDER BY l_returnflag""".stripMargin)),
    GraftQuery("q_linreg", "per-group closed-form OLS (slope/intercept/r2) from exact integer moments",
      linReg,
      Some(
        """WITH m AS (
          |  SELECT l_returnflag,
          |         CAST(count(*) AS DOUBLE) AS n,
          |         CAST(count(*) AS BIGINT) AS n_out,
          |         CAST(CAST(sum(x) AS BIGINT) AS DOUBLE) AS sx,
          |         CAST(CAST(sum(y) AS BIGINT) AS DOUBLE) AS sy,
          |         CAST(CAST(sum(x*x) AS BIGINT) AS DOUBLE) AS sxx,
          |         CAST(CAST(sum(y*y) AS BIGINT) AS DOUBLE) AS syy,
          |         CAST(CAST(sum(x*y) AS BIGINT) AS DOUBLE) AS sxy
          |  FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
          |               CAST(floor(l_extendedprice) AS BIGINT) AS y FROM lineitem)
          |  GROUP BY l_returnflag)
          |SELECT l_returnflag, n_out AS n,
          |       (n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0.0) AS slope,
          |       (sy - (n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0.0) * sx) / n AS intercept,
          |       ((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
          |         nullif((n * sxx - sx * sx) * (n * syy - sy * sy), 0.0) AS r2
          |FROM m ORDER BY l_returnflag""".stripMargin)),
    GraftQuery("q_skew_kurt", "population skewness + excess kurtosis from exact integer moments",
      skewKurt,
      Some(
        """WITH m AS (
          |  SELECT l_returnflag,
          |         CAST(count(*) AS DOUBLE) AS n,
          |         CAST(CAST(sum(x) AS BIGINT) AS DOUBLE) AS s1,
          |         CAST(CAST(sum(x*x) AS BIGINT) AS DOUBLE) AS s2,
          |         CAST(CAST(sum(x*x*x) AS BIGINT) AS DOUBLE) AS s3,
          |         CAST(CAST(sum(x*x*x*x) AS BIGINT) AS DOUBLE) AS s4
          |  FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x FROM lineitem)
          |  GROUP BY l_returnflag),
          |c AS (SELECT l_returnflag, n, s1 / n AS mu, s2, s3, s4 FROM m),
          |cm AS (SELECT l_returnflag, n,
          |              s2 / n - mu * mu AS m2,
          |              s3 / n - 3.0 * mu * (s2 / n) + 2.0 * mu * mu * mu AS m3,
          |              s4 / n - 4.0 * mu * (s3 / n) + 6.0 * mu * mu * (s2 / n) - 3.0 * mu * mu * mu * mu AS m4
          |       FROM c)
          |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
          |       m3 / nullif(sqrt(greatest(m2, 0.0)) * m2, 0.0) AS skew_pop,
          |       m4 / nullif(m2 * m2, 0.0) - 3.0 AS kurt_excess
          |FROM cm ORDER BY l_returnflag""".stripMargin)),
    GraftQuery("q_str_to_map", "str_to_map config-string parse + key lookups",
      strToMap,
      // coalesce mirrors the Spark side's null-safe cfg build: a NULL
      // event_type round-trips as '' and a NULL user_id stays NULL
      Some(
        """SELECT event_id, coalesce(event_type, '') AS cfg_type, user_id AS cfg_uid
          |FROM events ORDER BY event_id""".stripMargin)),
    GraftQuery("q_posexplode", "posexplode: positional UDTF over first 5 normalized tokens",
      posExplodeTokens,
      Some(
        """WITH d AS (
          |  SELECT doc_id,
          |         str_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ') AS toks
          |  FROM documents)
          |SELECT doc_id, CAST(i - 1 AS INT) AS pos, toks[i] AS tok
          |FROM d, unnest(range(1, least(len(toks), 5) + 1)) AS t(i)
          |ORDER BY doc_id, pos""".stripMargin)),
    GraftQuery("q_intersect_all", "INTERSECT ALL bag semantics",
      intersectAllKeys,
      Some(
        """SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
          |INTERSECT ALL
          |SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'F'
          |ORDER BY l_orderkey""".stripMargin)),
    GraftQuery("q_except_all", "EXCEPT ALL bag semantics",
      exceptAllKeys,
      Some(
        """SELECT o_custkey FROM orders
          |EXCEPT ALL
          |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
          |ORDER BY o_custkey""".stripMargin)),
    GraftQuery("q_snapshot_diff",
      "snapshot reconciliation: per-pk added/removed/changed/unchanged status + changed-column list from one full-outer co-keyed join",
      snapshotDiffQuery,
      Some(
        """WITH o AS (
          |  SELECT o_orderkey AS pk, o_custkey, o_orderstatus, o_totalprice
          |  FROM orders WHERE o_orderkey % 7 <> 0),
          |n AS (
          |  SELECT o_orderkey AS pk, o_custkey, o_orderstatus,
          |         CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1.0
          |              ELSE o_totalprice END AS o_totalprice
          |  FROM orders WHERE o_orderkey % 5 <> 0),
          |j AS (
          |  SELECT coalesce(o.pk, n.pk) AS pk, o.pk AS opk, n.pk AS npk,
          |         o.o_custkey AS oc, n.o_custkey AS nc,
          |         o.o_orderstatus AS os, n.o_orderstatus AS ns,
          |         o.o_totalprice AS op, n.o_totalprice AS np
          |  FROM o FULL OUTER JOIN n ON o.pk = n.pk)
          |SELECT pk,
          |  CASE WHEN opk IS NULL THEN 'added'
          |       WHEN npk IS NULL THEN 'removed'
          |       WHEN (oc IS NOT DISTINCT FROM nc)
          |        AND (os IS NOT DISTINCT FROM ns)
          |        AND (op IS NOT DISTINCT FROM np) THEN 'unchanged'
          |       ELSE 'changed' END AS status,
          |  CASE WHEN opk IS NULL OR npk IS NULL THEN ''
          |       ELSE concat_ws(',',
          |         CASE WHEN NOT (oc IS NOT DISTINCT FROM nc) THEN 'o_custkey' END,
          |         CASE WHEN NOT (os IS NOT DISTINCT FROM ns) THEN 'o_orderstatus' END,
          |         CASE WHEN NOT (op IS NOT DISTINCT FROM np) THEN 'o_totalprice' END)
          |       END AS changed_cols
          |FROM j ORDER BY pk""".stripMargin)),
    GraftQuery("q_cube", "CUBE over two keys + grouping bitmask",
      cubeAgg,
      Some(
        """SELECT l_returnflag, l_linestatus,
          |       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
          |       count(*) AS cnt
          |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
          |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),
    GraftQuery("q_grouping_sets", "explicit GROUPING SETS with grouping bitmask",
      groupingSets,
      Some(
        """SELECT l_returnflag, l_linestatus,
          |       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
          |       count(*) AS cnt
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
          |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),
    GraftQuery("q_agg_filter", "FILTER clauses on aggregates",
      aggFilter,
      Some(
        """SELECT l_returnflag,
          |       count(*) AS cnt,
          |       count(*) FILTER (WHERE l_discount > 0.05) AS cnt_discounted,
          |       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) FILTER (WHERE l_linestatus = 'F') AS DECIMAL(18,2)) AS DOUBLE) AS qty_f
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    GraftQuery("q_rollup", "ROLLUP subtotals + grouping_id (§2.4 Tier B)",
      rollupAgg,
      Some(
        """SELECT l_returnflag, l_linestatus,
          |       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
          |       count(*) AS cnt,
          |       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty
          |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
          |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),
  )
}
