package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables.load

/** Scale utilities for the 100 TB design notes (SURVEY §7.5): skew-salted
  * joins, bucketed co-located joins, and partitioned sinks. These are
  * engine API, exercised by ScaleOpsSpec; they have no reference-grounded
  * query keys of their own (the reference ran at AdventureWorks scale and
  * needed none of them — at 100 TB they are what keeps the same logical
  * plans alive).
  */
object ScaleOps {

  /** Skew-salted LEFT equi-join: the left (large, skewed) side gets a
    * random-but-deterministic salt in [0, buckets); the right side is
    * exploded `buckets`× so every (key, salt) pair can match. Same result
    * as a plain equi-join, but a hot key's rows spread over `buckets`
    * reducers instead of one straggler.
    *
    * AQE's skew-join handles most cases at runtime (GraftSession enables
    * it); explicit salting remains for deterministic layout control and
    * for non-sort-merge paths AQE won't split.
    */
  def saltedLeftJoin(left: DataFrame, right: DataFrame, key: String,
      buckets: Int): DataFrame = {
    require(buckets > 0)
    // content-derived salt: stable across task re-execution even when the
    // input's row order is shuffle-dependent (monotonically_increasing_id
    // would re-salt rows differently on a retried map task and corrupt
    // the join — the SPARK-23207 failure class). Rows with identical full
    // content share a salt; a hot KEY still spreads because its rows
    // differ in the other columns.
    val salted = left.withColumn("__salt",
      pmod(xxhash64(left.columns.map(col).toIndexedSeq: _*), lit(buckets)))
    val exploded = right
      .withColumn("__salt", explode(sequence(lit(0), lit(buckets - 1))))
    salted.join(exploded, Seq(key, "__salt"), "left_outer").drop("__salt")
  }

  /** q_salted_join: the skew-salted join on the driver's correctness
    * surface — its oracle is the PLAIN left join, proving the salting
    * rewrite is semantics-preserving, not just fast.
    */
  def saltedJoinQuery(s: SparkSession, dir: String): DataFrame = {
    val orders = load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey").as("k"))
    val customer = load(s, dir, "customer")
      .select(col("c_custkey").as("k"), col("c_name"))
    saltedLeftJoin(orders, customer, "k", buckets = 8)
      .select(col("o_orderkey"), col("c_name"))
      .orderBy(col("o_orderkey"), col("c_name").asc_nulls_first)
  }

  /** q_partitioned_sink: the 100 TB sink pattern on the driver's
    * correctness surface — write orders `partitionBy(o_orderpriority)`,
    * read back with a partition-column predicate (pruned to ONE
    * directory — PartitionFilters, asserted in ScaleOpsSpec), and
    * project. The oracle reads the original table directly, proving the
    * partitioned round-trip is lossless. This is the replacement for the
    * reference's `coalesce(1)` single-file sink (SURVEY §7.4 risk 7).
    */
  def partitionedSinkQuery(spark: SparkSession, dir: String): DataFrame = {
    val orders = load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderpriority"))
    // applicationId in the path: two concurrent drivers (e.g. Bench and
    // Verify on the same SF) must not overwrite each other's sink
    // mid-read. Per-app dirs would otherwise accumulate forever, so
    // prune siblings idle > 2h (old enough that no live driver owns them)
    val root = new java.io.File("/tmp/graft_sink")
    val cutoff = System.currentTimeMillis() - 2L * 3600 * 1000
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.lastModified() < cutoff)
      .foreach { d =>
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
          f.delete(); ()
        }
        rm(d)
      }
    val path = root.getPath + "/" + spark.sparkContext.applicationId + "/" +
      dir.replaceAll("[^A-Za-z0-9]", "_") + "/orders_by_priority"
    writePartitioned(orders, path, "o_orderpriority")
    partitionPrunedRead(spark, path)
  }

  /** The read side of [[partitionedSinkQuery]], separated so tests can
    * assert the plan's PartitionFilters.
    */
  def partitionPrunedRead(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
      .where(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").as("total_price"), col("o_orderpriority"))
      .orderBy("o_orderkey")

  /** Key-skew diagnostic: top-N heaviest keys with their corpus share
    * and the skew factor (top count / mean count) — the pre-join report
    * that decides whether a key needs salting ([[saltedLeftJoin]]) or
    * AQE skew handling. One aggregation plus a driver-side top-N merge
    * (TakeOrderedAndProject): no global sort, no second scan.
    */
  def keySkewReport(df: DataFrame, key: String, topN: Int = 10): DataFrame = {
    val counts = df.groupBy(col(key)).agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(
      sum("cnt").as("total"), count(lit(1)).as("n_keys"))
    counts.crossJoin(broadcast(totals))
      .select(
        col(key), col("cnt"),
        (col("cnt").cast("double") / col("total").cast("double")).as("share"),
        (col("cnt").cast("double") *
          col("n_keys").cast("double") / col("total").cast("double"))
          .as("skew_factor"))
      // nulls LAST on the tiebreak: Spark's asc default is nulls first,
      // DuckDB's is nulls last — a NULL key tied at the top-N boundary
      // would otherwise select different rows per engine
      .orderBy(col("cnt").desc, col(key).asc_nulls_last)
      .limit(topN)
  }

  /** q_skew_report over lineitem's supplier key. */
  def skewReportQuery(spark: SparkSession, dir: String): DataFrame =
    keySkewReport(load(spark, dir, "lineitem"), "l_suppkey")

  /** Cross-engine-exact Morton codes over (custkey bucket, order-day
    * bucket): the sort key [[writeZOrdered]] lays files out by. The
    * registered query pins `graft_zorder`'s bit interleave against
    * DuckDB's explicit shift-and-sum arithmetic, row for row.
    */
  def zorderQuery(spark: SparkSession, dir: String): DataFrame = {
    load(spark, dir, "orders")
      .select(
        col("o_orderkey"),
        (col("o_custkey") % 1024).as("x"),
        (datediff(col("o_orderdate"),
          lit("1992-01-01").cast(org.apache.spark.sql.types.DateType))
          .cast("long") % 1024).as("y"))
      .withColumn("zval", expr("graft_zorder(x, y)"))
      .orderBy("o_orderkey")
  }

  /** Z-ordered sink: range-partition + sort on the 2-D Morton code of
    * (`c1`, `c2`), so every output file covers a narrow range of BOTH
    * columns and parquet footer min/max prunes on either predicate —
    * what [[writeSorted]] does for one column, extended to two.
    * (A single-column sort leaves the second column full-span in every
    * file: footers prune nothing for filters on it.) Inputs are
    * bucketed into [0, 2^21) by the caller-supplied expressions.
    */
  def writeZOrdered(df: DataFrame, path: String, c1: Column, c2: Column,
      nFiles: Int): Unit = {
    // graft_zorder is a session temp function; register (idempotent) so
    // the writer works on a plain SparkSession like every other sink here
    graft.functions.HashExprs.register(df.sparkSession)
    df.withColumn("__zx", c1).withColumn("__zy", c2)
      .withColumn("__z", expr("graft_zorder(__zx, __zy)"))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z", "__zx", "__zy")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** [[writeZOrdered]] with the order-10 Hilbert index as the layout
    * key: strictly unit-step locality (no Morton seam jumps), so file
    * ranges are contiguous square-ish tiles and min/max stats narrow
    * further on both columns. Inputs are bucket ids in [0, 1024).
    */
  def writeHilbertOrdered(df: DataFrame, path: String, c1: Column,
      c2: Column, nFiles: Int): Unit = {
    graft.functions.HashExprs.register(df.sparkSession)
    df.withColumn("__hx", c1).withColumn("__hy", c2)
      .withColumn("__h", expr("graft_hilbert(__hx, __hy)"))
      .repartitionByRange(nFiles, col("__h"))
      .sortWithinPartitions("__h")
      .drop("__h", "__hx", "__hy")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Data-skipping manifest — the min/max granule statistics every
    * lakehouse table format (parquet footers, Delta/Iceberg manifests)
    * prunes with. Granule = calendar month of `l_shipdate` (the
    * date-partitioned layout [[writePartitioned]] produces); per
    * granule the manifest records row count plus min/max of the sort
    * key (as epoch micros — cross-engine-exact) and of
    * `l_extendedprice` (a second stat column: multi-column manifests
    * prune on any recorded column). `skippable` evaluates a Q6-style
    * ship-date window [1997-03-01, 1997-09-30) against the STATS ALONE
    * (max < lo OR min > hi) — exactly the footer check a scan planner
    * runs before touching data.
    *
    * 100 TB design: the manifest is one map-side-combined aggregate,
    * output rows = granule count (thousands, not billions); planners
    * keep it broadcast-sized. The companion spec pins the soundness
    * guarantee: no row matching the predicate lives in a skippable
    * granule.
    */
  def minmaxIndex(spark: SparkSession, dir: String): DataFrame = {
    // epoch-micros window bounds, written as the same numeric literals
    // in the oracle (timestamp-literal parsing differences can't bite)
    val lo = lit(857174400000000L) // 1997-03-01 00:00 UTC
    val hi = lit(875577600000000L) // 1997-09-30 00:00 UTC
    load(spark, dir, "lineitem")
      .select(
        (year(col("l_shipdate")) * 100 + month(col("l_shipdate")))
          .cast("long").as("granule"),
        // parquet reads the column as TIMESTAMP_NTZ; the session is
        // pinned UTC, so casting to instant-typed TIMESTAMP is identity
        // and epoch micros match DuckDB's epoch_us on the naive value
        unix_micros(col("l_shipdate").cast("timestamp")).as("ship_us"),
        col("l_extendedprice"))
      .groupBy("granule")
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("ship_us")).as("min_ship_us"),
        max(col("ship_us")).as("max_ship_us"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"))
      .withColumn("skippable",
        (col("max_ship_us") < lo || col("min_ship_us") > hi).cast("int"))
      .orderBy("granule")
  }

  /** Distributed Bloom-filter build + membership sweep — the classic
    * 100 TB semi-join reduction: build a compact filter over the small
    * side's keys, broadcast it, drop non-matching big-side rows before
    * the shuffle. Sized from the data — 8 bits per key, word-aligned,
    * in pure integer arithmetic both engines repeat exactly (a fixed m
    * saturates on bigger fixtures: fill → 1 and the measured fp rate
    * degenerates to ~1); k=4 positions from md5(key:i) via the shared
    * [[graft.functions.HashExprs.md5Uint32]] recipe. The filter is materialized as its SET-BIT POSITION SET
    * — semantically identical to the bitmap and directly
    * oracle-comparable; a production build ORs fixed-size bitmaps via a
    * mergeable aggregate (the [[graft.ext.Dedup]] bitmap-distinct
    * machinery) instead of shuffling positions.
    *
    * One summary row pins the whole structure: exact bit count + an
    * md5 digest of the sorted positions, the zero-false-negative
    * guarantee swept over every present key (orders.o_custkey ⊆
    * customer.c_custkey in this fixture), and the measured
    * false-positive rate on a known-absent probe set (present keys
    * shifted past the key domain by max(c_custkey)+1, COMPUTED from
    * the data — a fixed literal shift would silently collide with
    * real keys on a larger fixture and inflate the measured rate).
    * Collects nothing data-sized: every aggregate is bitmap- or
    * 1-row-bounded. The callable production build is [[buildBloom]];
    * this digest is its oracle-comparable twin.
    */
  def bloomFilter(spark: SparkSession, dir: String): DataFrame = {
    val kHashes = 4
    val keys = load(spark, dir, "customer")
      .select("c_custkey").distinct()
    // size the filter from the data: 8 bits/key (fp ≈ 2.4% at k=4),
    // word-aligned, in PURE INTEGER arithmetic both engines repeat
    // exactly — a fixed m saturates at larger fixtures (fill → 1,
    // fp → 1) and the measured rate stops meaning anything
    val mDf = keys.agg(count(lit(1)).as("nk"))
      .select(expr("((nk * 8 + 63) div 64) * 64").cast("long").as("m"))
    def positions(df: DataFrame, keyCol: String): DataFrame =
      df.select(col(keyCol).cast("string").as("kstr"))
        .select(col("kstr"),
          explode(sequence(lit(0), lit(kHashes - 1))).as("i"))
        .crossJoin(broadcast(mDf))
        .select(col("kstr"), bloomPos(col("kstr"), col("i"), col("m")).as("pos"))
    val bits = positions(keys, "c_custkey").select("pos").distinct()
    val bitStats = bits.agg(
      count(lit(1)).as("n_bits_set"),
      md5(concat_ws(",", sort_array(collect_list(col("pos")))))
        .as("bits_digest"))
    val nKeys = keys.agg(count(lit(1)).as("n_keys"))
    def membership(probes: DataFrame, label: String): DataFrame =
      positions(probes, "probe")
        .join(broadcast(bits.withColumn("hit", lit(1))), Seq("pos"), "left")
        .groupBy("kstr")
        .agg(sum(when(col("hit").isNull, 1L).otherwise(0L)).as("misses"))
        .agg(
          count(lit(1)).as(s"n_${label}_probes"),
          sum(when(col("misses") === 0L, 1L).otherwise(0L))
            .as(s"n_${label}_in"))
    val present = load(spark, dir, "orders")
      .select(col("o_custkey").as("probe")).distinct()
    // shift past the KEY DOMAIN (o_custkey ⊆ c_custkey), derived from
    // the data so a bigger fixture cannot alias shifted probes onto
    // real keys
    val shiftDf = keys.agg((max(col("c_custkey")) + 1L).as("shift"))
    val absent = present.crossJoin(broadcast(shiftDf))
      .select((col("probe") + col("shift")).as("probe"))
    nKeys
      .crossJoin(broadcast(mDf))
      .crossJoin(bitStats)
      .crossJoin(membership(present, "present"))
      .crossJoin(membership(absent, "absent"))
      .select(
        col("n_keys"), col("m"), col("n_bits_set"), col("bits_digest"),
        col("n_present_probes"), col("n_present_in"),
        col("n_absent_probes"), col("n_absent_in"),
        (col("n_absent_in").cast("double") /
          col("n_absent_probes").cast("double")).as("fp_rate"))
  }

  /** THE Bloom hash-position recipe — one definition shared by the
    * digest build ([[bloomFilter]]), the production build
    * ([[buildBloom]]) and the membership probe ([[bloomMightContain]]).
    * Build and probe MUST compute bit-identical positions or the
    * zero-false-negative guarantee dies; a single definition removes
    * the drift surface.
    */
  private def bloomPos(key: Column, i: Column, m: Column): Column =
    pmod(graft.functions.HashExprs.md5Uint32(
      concat(key.cast("string"), lit(":"), i.cast("string"))), m)

  /** Production Bloom build — the mergeable fixed-size-bitmap aggregate
    * that [[bloomFilter]]'s position-set digest stands in for on the
    * correctness surface. Keys hash to `kHashes` positions via the same
    * shared md5Uint32 recipe (m sized from the data at `bitsPerKey`
    * bits/key, word-aligned); positions reduce per 64-bit WORD through
    * a `bit_or` aggregate — map-side combined, associatively mergeable,
    * bounded state, no position-set shuffle and no collect_list of
    * O(m) anywhere. The collected result IS the filter: ceil(m/64)
    * longs, the O(filter-size) driver materialization any broadcast
    * semi-join needs before shipping the predicate ([[bloomMightContain]]).
    * Equality with the digest's position-set semantics and the
    * zero-false-negative sweep are spec-pinned in ScaleOpsSpec.
    */
  /** Hard ceiling on a built filter's driver footprint: 2³³ bits =
    * 1 GiB of words. A Bloom build is INHERENTLY an O(m) driver
    * materialization (the array is what gets broadcast), so past this
    * point the operator must fail loudly instead of OOMing the driver
    * mid-collect — at 8 bits/key the ceiling is ~10⁹ distinct keys;
    * beyond that a broadcast bitmap is the wrong semi-join tool
    * (shuffle the join or shard the filter).
    */
  val maxBloomBits: Long = 1L << 33

  def buildBloom(keys: DataFrame, keyCol: String, bitsPerKey: Int = 8,
      kHashes: Int = 4, maxBits: Long = maxBloomBits): (Long, Array[Long]) = {
    val distinct = keys.select(col(keyCol).cast("string").as("kstr")).distinct()
    val m = distinct.agg(count(lit(1)).as("nk"))
      .select(expr(s"((nk * $bitsPerKey + 63) div 64) * 64").cast("long"))
      .head().getLong(0)
    require(m <= maxBits,
      s"buildBloom: $m bits (${m / 8 / (1L << 20)} MiB) exceeds the " +
        s"$maxBits-bit driver ceiling — too many distinct keys " +
        "for a broadcastable Bloom; use a shuffle semi-join instead")
    val words = distinct
      .select(col("kstr"), explode(sequence(lit(0), lit(kHashes - 1))).as("i"))
      .select(bloomPos(col("kstr"), col("i"), lit(m)).as("pos"))
      .select(floor(col("pos") / 64).cast("int").as("widx"),
        pmod(col("pos"), lit(64)).cast("int").as("bit"))
      .groupBy("widx")
      .agg(bit_or(call_function("shiftleft", lit(1L), col("bit"))).as("word"))
      .collect()
    val arr = Array.fill((m / 64).toInt)(0L)
    words.foreach(r => arr(r.getInt(0)) = r.getLong(1))
    (m, arr)
  }

  /** Granule-level Bloom skip index: [[minmaxIndex]]'s manifest idea
    * applied to POINT lookups — min/max stats cannot skip a granule for
    * an equality probe on an unsorted key, a per-granule Bloom filter
    * can. Per month-granule of orders: a filter over its distinct
    * customer keys (same shared [[bloomPos]] recipe, m sized per
    * granule at 8 bits/key) plus the skip decision for a data-derived
    * probe (min customer key). Digest columns are aggregate-only
    * (set-bit count + position sum) — no collect_list anywhere, so the
    * manifest build is a pair of map-side-combined aggregates at any
    * scale; zero false negatives by the shared-recipe argument
    * (probe and build positions are the same expression).
    */
  def bloomSkipIndex(spark: SparkSession, dir: String): DataFrame = {
    val kHashes = 4
    val orders = load(spark, dir, "orders")
    val granule = expr(
      "CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)")
    val gk = orders.select(granule.as("granule"), col("o_custkey")).distinct()
    val sizes = gk.groupBy("granule").agg(count(lit(1)).as("n_keys"))
      .withColumn("m", expr("((n_keys * 8 + 63) div 64) * 64").cast("long"))
    val bits = gk.join(sizes, "granule")
      .select(col("granule"), col("m"),
        explode(sequence(lit(0), lit(kHashes - 1))).as("i"), col("o_custkey"))
      .select(col("granule"),
        bloomPos(col("o_custkey"), col("i"), col("m")).as("pos"))
      .distinct()
    val stats = bits.groupBy("granule").agg(
      count(lit(1)).as("n_bits_set"),
      sum(col("pos")).as("pos_sum"))
    val probeDf = orders.agg(min(col("o_custkey")).as("probe"))
    val probePos = sizes.crossJoin(broadcast(probeDf))
      .select(col("granule"),
        explode(sequence(lit(0), lit(kHashes - 1))).as("i"),
        col("probe"), col("m"))
      .select(col("granule"), bloomPos(col("probe"), col("i"), col("m")).as("pos"))
    val hits = probePos
      .join(bits.withColumn("hit", lit(1)), Seq("granule", "pos"), "left")
      .groupBy("granule")
      .agg(sum(when(col("hit").isNull, 1L).otherwise(0L)).as("misses"))
    sizes.join(stats, "granule").join(hits, "granule")
      .select(col("granule"), col("n_keys"), col("m"),
        col("n_bits_set"), col("pos_sum"),
        (col("misses") === 0L).cast("int").as("probe_hit"))
      .orderBy("granule")
  }

  /** Membership predicate over a [[buildBloom]] filter: true iff all
    * `kHashes` positions are set. The words array travels as a plan
    * literal (implicitly broadcast), so the probe is row-local — the
    * pre-shuffle semi-join reduction this structure exists for.
    * False positives possible (≈2.4% at 8 bits/key, k=4), false
    * negatives never — spec-pinned.
    */
  def bloomMightContain(m: Long, words: Array[Long], kHashes: Int,
      key: Column): Column =
    (0 until kHashes).map { i =>
      val pos = bloomPos(key, lit(i), lit(m))
      call_function("shiftrightunsigned",
        try_element_at(typedlit(words.toSeq),
          (floor(pos / 64) + 1).cast("int")),
        pmod(pos, lit(64)).cast("int"))
        .bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)

  /** Bloom-prefiltered join — the runtime-filter / semi-join-reduction
    * pattern that makes selective dim-fact joins cheap at 100 TB: build
    * a Bloom filter over the FILTERED dim side's join keys
    * ([[buildBloom]] — mergeable bit_or aggregate, O(filter-size)
    * driver collect), ship it as a plan literal, and drop fact rows
    * row-locally BEFORE the shuffle ([[bloomMightContain]]). Only
    * ~sel + fp of the fact side ever enters the exchange; the exact
    * equi-join afterwards kills the false positives, so the RESULT is
    * exactly the plain join — the filter moves bytes, never semantics.
    * (Spark's own `spark.sql.optimizer.runtime.bloomFilter` does this
    * rewrite automatically for suitable plans; this is the explicit,
    * inspectable form with the build/probe recipe shared via
    * [[bloomPos]] so false negatives are structurally impossible.)
    */
  def bloomPrefilteredJoin(fact: DataFrame, dim: DataFrame,
      factKey: String, dimKey: String): DataFrame = {
    val (m, words) = buildBloom(dim, dimKey)
    val pruned = fact.where(bloomMightContain(m, words, 4, col(factKey)))
    pruned.join(dim, col(factKey) === col(dimKey))
  }

  /** q_bloom_join: orders prefiltered by a Bloom over BUILDING-segment
    * customer keys, then exactly joined — hash-identical to the plain
    * filtered join.
    */
  def bloomJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    val orders = load(spark, dir, "orders")
    val dim = load(spark, dir, "customer")
      .where(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"), col("c_name"))
    bloomPrefilteredJoin(orders, dim, "o_custkey", "c_custkey")
      .select(col("o_orderkey"), col("o_custkey"), col("c_name"),
        col("o_orderpriority"))
      .orderBy(col("o_orderkey"))
  }

  /** Incremental aggregate maintenance — the pattern that makes a
    * 100 TB daily pipeline affordable: yesterday's materialized
    * per-key aggregate (`base`) merges with an aggregate over ONLY the
    * new partition (`delta`) via a full-outer coalesce-sum, instead of
    * rescanning history. Correct exactly when the aggregate is
    * algebraic (count/sum/min/max here; mergeable sketches — HLL,
    * Bloom, CMS — extend it to distincts). The registered query proves
    * the contract the pattern depends on: merge(base, delta) is
    * hash-identical to the full recompute.
    */
  def mergeAggregates(base: DataFrame, delta: DataFrame,
      key: String): DataFrame =
    base.withColumnRenamed("n_events", "bn").withColumnRenamed("sum_micro", "bs")
      .join(delta.withColumnRenamed("n_events", "dn")
        .withColumnRenamed("sum_micro", "ds"), Seq(key), "full_outer")
      .select(col(key),
        (coalesce(col("bn"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .as("n_events"),
        (coalesce(col("bs"), lit(0L)) + coalesce(col("ds"), lit(0L)))
          .as("sum_micro"))

  private def eventAgg(events: DataFrame): DataFrame =
    events.groupBy("user_id").agg(
      count(lit(1)).as("n_events"),
      sum(floor(col("value") * 1000000 + 0.5).cast("long")).as("sum_micro"))

  /** q_incremental_agg: per-user totals maintained incrementally across
    * a mid-January cutoff == one-shot recompute over the full table.
    */
  def incrementalAggQuery(s: SparkSession, dir: String): DataFrame = {
    val events = load(s, dir, "events")
    val cutoff = lit("2024-01-16 00:00:00").cast("timestamp")
    val base = eventAgg(events.where(col("ts") < cutoff))
    val delta = eventAgg(events.where(col("ts") >= cutoff))
    mergeAggregates(base, delta, "user_id").orderBy("user_id")
  }

  /** Hilbert twin of [[zorderQuery]]: the same (custkey bucket,
    * order-day bucket) inputs through the order-10 Hilbert index —
    * strictly unit-step locality where the Morton code jumps at
    * quadrant seams, so a Hilbert-sorted layout keeps per-file min/max
    * even narrower. Oracle: the xy2d quadrant-rotation walk unrolled
    * into ten generated CTE levels of pure integer CASE arithmetic.
    */
  def hilbertQuery(spark: SparkSession, dir: String): DataFrame = {
    load(spark, dir, "orders")
      .select(
        col("o_orderkey"),
        (col("o_custkey") % 1024).as("x"),
        (datediff(col("o_orderdate"),
          lit("1992-01-01").cast(org.apache.spark.sql.types.DateType))
          .cast("long") % 1024).as("y"))
      .withColumn("hval", expr("graft_hilbert(x, y)"))
      .orderBy("o_orderkey")
  }

  /** DuckDB mirror of [[graft.functions.HashImpls.hilbert]]: one CTE
    * per bit level s = 512..1 carrying (x, y, d) through the standard
    * flip-and-swap rotation. Generated, so the ten levels cannot drift
    * from each other.
    */
  private[operators] def hilbertOracleSql: String = {
    val base =
      """WITH h512 AS (
        |  SELECT o_orderkey,
        |         CAST(o_custkey % 1024 AS BIGINT) AS x,
        |         CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 1024 AS BIGINT) AS y,
        |         CAST(0 AS BIGINT) AS d
        |  FROM orders)""".stripMargin
    val levels = (9 to 0 by -1).map { i =>
      val s = 1L << i
      val prev = if (i == 9) "h512" else s"lvl${1L << (i + 1)}"
      val rx = s"(CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END)"
      val ry = s"(CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END)"
      s"""lvl$s AS (
         |  SELECT o_orderkey,
         |         CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1 THEN ${s - 1} - y ELSE y END) ELSE x END AS x,
         |         CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1 THEN ${s - 1} - x ELSE x END) ELSE y END AS y,
         |         d + ${s * s} * xor(3 * $rx, $ry) AS d
         |  FROM $prev)""".stripMargin
    }
    (base +: levels).mkString(",\n") +
      "\nSELECT o_orderkey, CAST(o_custkey % 1024 AS BIGINT) AS x,\n" +
      "       CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 1024 AS BIGINT) AS y,\n" +
      "       lvl1.d AS hval\n" +
      "FROM orders JOIN lvl1 USING (o_orderkey)\nORDER BY o_orderkey"
  }

  /** Equi-join output-cardinality estimation from two count-min
    * sketches (Cormode & Muthukrishnan 2005 §4.2): |A ⋈ B| = Σₖ aₖ·bₖ
    * is estimated by the minimum over the d hash rows of the sketch
    * inner product Σ_w cmsA[i][w]·cmsB[i][w] — an upper bound that is
    * exact when no keys collide. The cost-based-optimizer primitive
    * for 100 TB joins: each side reduces to a d×w counter grid
    * (map-side-combined, mergeable, O(d·w) broadcastable), so the
    * estimate costs two scans and NO cross-table shuffle, while the
    * exact answer needs the key-partitioned join this estimate exists
    * to size. Emitted side by side with the exact count so the
    * one-sided guarantee (est ≥ exact) is oracle-checked arithmetic.
    * Count products sum in DECIMAL(38,0) (HUGEINT in the oracle) and
    * the counts emit as DOUBLE — overflow-free at any corpus size.
    */
  def joinSizeEstimate(s: SparkSession, dir: String,
      depth: Int = 4, width: Long = 1024L): DataFrame = {
    val a = load(s, dir, "events")
      .select(col("user_id").as("key")).groupBy("key")
      .agg(count(lit(1)).as("ca"))
    val b = load(s, dir, "orders")
      .select(col("o_custkey").as("key")).groupBy("key")
      .agg(count(lit(1)).as("cb"))
    def posCol(k: Column, i: Column): Column =
      pmod(graft.functions.HashExprs.md5Uint32(
        concat(k.cast("string"), lit(":"), i.cast("string"))), lit(width))
    def cms(cnts: DataFrame, cName: String): DataFrame = cnts
      .select(col("key"), col(cName),
        explode(sequence(lit(0), lit(depth - 1))).as("i"))
      .withColumn("pos", posCol(col("key"), col("i")))
      .groupBy("i", "pos").agg(sum(col(cName)).as(cName))
    // DECIMAL(38,0) dot products (HUGEINT in the oracle) and DOUBLE
    // outputs: Σ(ca·cb) IS the join cardinality — a skewed key pair
    // puts it past 2⁶³ long before 100 TB, so neither the accumulation
    // nor the output column may live in BIGINT (the psiDrift widening
    // rule). Both engines round the same exact integer to double.
    val est = cms(a, "ca").join(cms(b, "cb"), Seq("i", "pos"))
      .groupBy("i")
      .agg(sum(col("ca").cast("decimal(38,0)") * col("cb")).as("dot"))
      .agg(min(col("dot")).as("cms_est"))
    val exact = a.join(b, "key")
      .agg(coalesce(sum(col("ca").cast("decimal(38,0)") * col("cb")),
        lit(0L).cast("decimal(38,0)")).as("exact_pairs"))
    // Empty join ⇒ NULL ratio (not Inf/NaN), mirrored in the oracle.
    exact.crossJoin(broadcast(est)).select(
      col("exact_pairs").cast("double").as("exact_pairs"),
      col("cms_est").cast("double").as("cms_est"),
      when(col("exact_pairs") === 0, lit(null).cast("double"))
        .otherwise(col("cms_est").cast("double") /
          col("exact_pairs").cast("double"))
        .as("overestimate_ratio"))
  }

  val queries: Seq[graft.GraftQuery] = Seq(
    graft.GraftQuery("q_hilbert",
      "order-10 Hilbert index vs a ten-level unrolled quadrant-rotation oracle (unit-step locality layout)",
      hilbertQuery,
      Some(hilbertOracleSql)),
    graft.GraftQuery("q_join_size_est",
      "join-cardinality estimation from two count-min sketches (inner-product upper bound vs exact)",
      (s, dir) => joinSizeEstimate(s, dir),
      Some(
        """WITH a AS (SELECT user_id AS key, count(*) AS ca FROM events GROUP BY 1),
          |b AS (SELECT o_custkey AS key, count(*) AS cb FROM orders GROUP BY 1),
          |cmsa AS (
          |  SELECT t.i, ('0x' || substring(md5(CAST(key AS VARCHAR) || ':' || CAST(t.i AS VARCHAR)), 25, 8))::BIGINT % 1024 AS pos,
          |         CAST(sum(ca) AS BIGINT) AS ca
          |  FROM a, range(4) t(i) GROUP BY 1, 2),
          |cmsb AS (
          |  SELECT t.i, ('0x' || substring(md5(CAST(key AS VARCHAR) || ':' || CAST(t.i AS VARCHAR)), 25, 8))::BIGINT % 1024 AS pos,
          |         CAST(sum(cb) AS BIGINT) AS cb
          |  FROM b, range(4) t(i) GROUP BY 1, 2),
          |dots AS (
          |  SELECT cmsa.i, sum(CAST(cmsa.ca AS HUGEINT) * cmsb.cb) AS dot
          |  FROM cmsa JOIN cmsb ON cmsa.i = cmsb.i AND cmsa.pos = cmsb.pos
          |  GROUP BY 1),
          |est AS (SELECT CAST(min(dot) AS DOUBLE) AS cms_est FROM dots),
          |ex AS (SELECT CAST(COALESCE(sum(CAST(ca AS HUGEINT) * cb), 0) AS DOUBLE) AS exact_pairs
          |       FROM a JOIN b USING (key))
          |SELECT exact_pairs, cms_est,
          |       CASE WHEN exact_pairs = 0 THEN NULL
          |            ELSE cms_est / exact_pairs END AS overestimate_ratio
          |FROM ex, est ORDER BY exact_pairs""".stripMargin)),
    graft.GraftQuery("q_incremental_agg",
      "incremental aggregate maintenance: base+delta coalesce-sum merge == full recompute (algebraic aggregates)",
      incrementalAggQuery,
      Some(
        """SELECT user_id, count(*) AS n_events,
          |       CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_micro
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),
    graft.GraftQuery("q_bloom_join",
      "Bloom-prefiltered dim-fact join (runtime-filter semi-join reduction) == plain filtered join",
      bloomJoinQuery,
      Some(
        """SELECT o_orderkey, o_custkey, c_name, o_orderpriority
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |WHERE c_mktsegment = 'BUILDING'
          |ORDER BY o_orderkey""".stripMargin)),
    graft.GraftQuery("q_salted_join", "skew-salted left join == plain join (semantics-preserving rewrite)",
      saltedJoinQuery,
      Some(
        """SELECT o_orderkey, c_name
          |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
          |ORDER BY o_orderkey, c_name NULLS FIRST""".stripMargin)),
    graft.GraftQuery("q_partitioned_sink", "partitionBy sink + partition-pruned read-back == direct table read",
      partitionedSinkQuery,
      Some(
        """SELECT o_orderkey, o_custkey, o_totalprice AS total_price, o_orderpriority
          |FROM orders WHERE o_orderpriority = '1-URGENT'
          |ORDER BY o_orderkey""".stripMargin)),
    graft.GraftQuery("q_skew_report", "top-N key-skew diagnostic: share + skew factor per heavy key",
      skewReportQuery,
      Some(
        """WITH c AS (SELECT l_suppkey, count(*) AS cnt FROM lineitem GROUP BY l_suppkey),
          |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS n_keys FROM c)
          |SELECT l_suppkey, cnt,
          |       CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS share,
          |       CAST(cnt AS DOUBLE) * CAST(n_keys AS DOUBLE) / CAST(total AS DOUBLE) AS skew_factor
          |FROM c, t ORDER BY cnt DESC, l_suppkey LIMIT 10""".stripMargin)),
    graft.GraftQuery("q_zorder", "native graft_zorder Morton codes == DuckDB shift-and-sum bit arithmetic",
      zorderQuery,
      Some(
        """WITH b AS (
          |  SELECT o_orderkey,
          |         o_custkey % 1024 AS x,
          |         CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) % 1024 AS y
          |  FROM orders)
          |SELECT o_orderkey, x, y,
          |       CAST(list_sum(list_transform(range(0, 31), i -> ((x >> i) & 1) << (2*i))) +
          |            list_sum(list_transform(range(0, 31), i -> ((y >> i) & 1) << (2*i + 1))) AS BIGINT) AS zval
          |FROM b ORDER BY o_orderkey""".stripMargin)),
    graft.GraftQuery("q_minmax_index", "data-skipping manifest: per-month min/max granule stats + stats-only Q6-window skip flags",
      minmaxIndex,
      Some(
        """SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS granule,
          |       count(*) AS n_rows,
          |       min(epoch_us(l_shipdate)) AS min_ship_us,
          |       max(epoch_us(l_shipdate)) AS max_ship_us,
          |       min(l_extendedprice) AS min_price,
          |       max(l_extendedprice) AS max_price,
          |       CAST(max(epoch_us(l_shipdate)) < 857174400000000 OR
          |            min(epoch_us(l_shipdate)) > 875577600000000 AS INT) AS skippable
          |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),
    graft.GraftQuery("q_bloom_skip_index", "granule-level Bloom skip manifest: per-month filters over customer keys + point-probe skip decision",
      bloomSkipIndex,
      Some(
        """WITH gk AS (
          |  SELECT DISTINCT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS granule,
          |         o_custkey
          |  FROM orders),
          |sizes AS (
          |  SELECT granule, count(*) AS n_keys,
          |         CAST(((count(*) * 8 + 63) // 64) * 64 AS BIGINT) AS m
          |  FROM gk GROUP BY granule),
          |bits AS (
          |  SELECT DISTINCT granule,
          |         ('0x' || substring(md5(CAST(o_custkey AS VARCHAR) || ':' || CAST(t.i AS VARCHAR)), 25, 8))::BIGINT % s.m AS pos
          |  FROM gk JOIN sizes s USING (granule), range(4) t(i)),
          |stats AS (
          |  SELECT granule, count(*) AS n_bits_set, CAST(sum(pos) AS BIGINT) AS pos_sum
          |  FROM bits GROUP BY granule),
          |probe AS (SELECT min(o_custkey) AS probe FROM orders),
          |ppos AS (
          |  SELECT s.granule,
          |         ('0x' || substring(md5(CAST(p.probe AS VARCHAR) || ':' || CAST(t.i AS VARCHAR)), 25, 8))::BIGINT % s.m AS pos
          |  FROM sizes s, probe p, range(4) t(i)),
          |hits AS (
          |  SELECT pp.granule,
          |         sum(CASE WHEN b.pos IS NULL THEN 1 ELSE 0 END) AS misses
          |  FROM ppos pp LEFT JOIN bits b ON b.granule = pp.granule AND b.pos = pp.pos
          |  GROUP BY pp.granule)
          |SELECT s.granule, s.n_keys, s.m, st.n_bits_set, st.pos_sum,
          |       CAST(h.misses = 0 AS INT) AS probe_hit
          |FROM sizes s JOIN stats st USING (granule) JOIN hits h ON h.granule = s.granule
          |ORDER BY s.granule""".stripMargin)),
    graft.GraftQuery("q_bloom_filter", "distributed Bloom build (8 bits/key, k=4, md5 positions): digest + zero-false-negative sweep + measured fp rate",
      bloomFilter,
      Some(
        """WITH keys AS (SELECT DISTINCT c_custkey FROM customer),
          |nk AS (SELECT count(*) AS n_keys FROM keys),
          |mm AS (SELECT CAST(((n_keys * 8 + 63) // 64) * 64 AS BIGINT) AS m FROM nk),
          |bits AS (
          |  SELECT DISTINCT ('0x' || substring(md5(CAST(c_custkey AS VARCHAR) || ':' || CAST(t.i AS VARCHAR)), 25, 8))::BIGINT % mm.m AS pos
          |  FROM keys, range(4) t(i), mm),
          |bstats AS (
          |  SELECT count(*) AS n_bits_set,
          |         md5(list_aggregate(list_sort(list(pos)), 'string_agg', ',')) AS bits_digest
          |  FROM bits),
          |present AS (SELECT DISTINCT o_custkey AS probe FROM orders),
          |absent AS (SELECT probe + (SELECT max(c_custkey) + 1 FROM customer) AS probe FROM present),
          |pp AS (
          |  SELECT p.probe,
          |         sum(CASE WHEN b.pos IS NULL THEN 1 ELSE 0 END) AS misses
          |  FROM (SELECT probe, ('0x' || substring(md5(CAST(probe AS VARCHAR) || ':' || CAST(t.i AS VARCHAR)), 25, 8))::BIGINT % mm.m AS pos
          |        FROM present, range(4) t(i), mm) p
          |  LEFT JOIN bits b USING (pos) GROUP BY p.probe),
          |pstats AS (
          |  SELECT count(*) AS n_present_probes,
          |         CAST(sum(CASE WHEN misses = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_present_in
          |  FROM pp),
          |ap AS (
          |  SELECT a.probe,
          |         sum(CASE WHEN b.pos IS NULL THEN 1 ELSE 0 END) AS misses
          |  FROM (SELECT probe, ('0x' || substring(md5(CAST(probe AS VARCHAR) || ':' || CAST(t.i AS VARCHAR)), 25, 8))::BIGINT % mm.m AS pos
          |        FROM absent, range(4) t(i), mm) a
          |  LEFT JOIN bits b USING (pos) GROUP BY a.probe),
          |astats AS (
          |  SELECT count(*) AS n_absent_probes,
          |         CAST(sum(CASE WHEN misses = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_absent_in
          |  FROM ap)
          |SELECT n_keys, m, n_bits_set, bits_digest,
          |       n_present_probes, n_present_in,
          |       n_absent_probes, n_absent_in,
          |       CAST(n_absent_in AS DOUBLE) / CAST(n_absent_probes AS DOUBLE) AS fp_rate
          |FROM nk CROSS JOIN mm CROSS JOIN bstats CROSS JOIN pstats CROSS JOIN astats
          |ORDER BY n_keys""".stripMargin)),
  )

  /** Write both sides bucketed on the join key so a later join is
    * co-located: no Exchange on either side of the SortMergeJoin.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
      numBuckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(numBuckets, key)
      .sortBy(key)
      .saveAsTable(table)

  /** Join two same-bucketed catalog tables on their bucket key. The
    * `merge` hint pins SortMergeJoin (at demo scale the planner would
    * otherwise broadcast, which disables bucket use); with matching
    * bucket specs the SMJ needs no shuffle Exchange on either side —
    * the co-located join pattern for repeatedly-joined 100 TB tables.
    */
  def bucketedJoin(spark: SparkSession, leftTable: String,
      rightTable: String, key: String): DataFrame =
    spark.table(leftTable).hint("merge")
      .join(spark.table(rightTable).hint("merge"), Seq(key))

  /** Partitioned sink: `partitionBy` layout so downstream reads prune by
    * partition column — the 100 TB replacement for `coalesce(1)`
    * (SURVEY §7.4 risk 7).
    */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCol)
      .parquet(path)

  /** Sorted sink: range-partition on `sortCol`, sort within each
    * partition, write. Every output file then covers a narrow,
    * non-overlapping `sortCol` range, so its parquet footer min/max
    * lets a selective reader skip whole files/row-groups — the
    * Z-order-lite layout a 100 TB table wants on its hottest filter
    * column. (An unsorted write gives every file ≈ the full value
    * range: footers prune nothing.) `nFiles` sizes the layout;
    * repartitionByRange samples ranges, so data skew in `sortCol`
    * still yields balanced files.
    */
  def writeSorted(df: DataFrame, path: String, sortCol: String,
      nFiles: Int): Unit =
    df.repartitionByRange(nFiles, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Small-file compaction of ONE parquet directory (a table, or the
    * single partition directory a compaction scheduler hands each
    * worker): rewrite to ceil(totalBytes / targetFileBytes) files.
    * Streaming sinks and over-parallel writers accrete thousands of
    * KB-sized files per partition; at 100 TB that turns every scan into
    * a metadata storm (one task + one open per tiny file). Returns the
    * file count written. Write-then-swap into place is the caller's
    * transactional concern; this writes to a fresh `outDir`.
    */
  def compact(spark: SparkSession, inDir: String, outDir: String,
      targetFileBytes: Long = 128L << 20): Int = {
    val path = new org.apache.hadoop.fs.Path(inDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.listStatus(path)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
    // guard the documented one-directory contract: a partitionBy ROOT
    // has only subdirectories here — sizing would see 0 bytes while the
    // recursive read loads every partition, silently funneling the
    // whole table into one file and folding partition columns away
    require(totalBytes > 0L,
      s"compact: no parquet files directly under $inDir — pass one leaf " +
        "(partition) directory, not a partitioned table root")
    val nFiles = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    // repartition (round-robin shuffle), not coalesce: coalesce(n) caps
    // the READ parallelism of the whole job, repartition keeps the scan
    // wide and only funnels at the write
    spark.read.parquet(inDir).repartition(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(outDir)
    nFiles
  }
}
