package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftQuery
import graft.engine.Tables
import graft.engine.Tables.load

/** Typed state for [[EventOps.streamingUserStateCounts]]. */
final case class UserState(n: Long, sum: Double)

/** Misra-Gries counter summary for [[EventOps.streamingTopTypes]]. */
final case class MgState(counters: Map[String, Long])

/** Open-session state for [[EventOps.streamingSessionize]]. */
final case class SessState(startUs: Long, lastUs: Long, n: Long)

/** Last ≤7 dyadic-EWMA micro-unit values, most recent first. */
final case class EwmaState(recent: Seq[Long])

/** Last event type per user for the streaming transition pairer —
  * O(1) state; `None` until the user's first event arrives. */
final case class TransState(last: Option[String])

/** Bounded trailing-7 value queue for the streaming rolling z-score. */
final case class ZState(recent: Seq[Long])

/** Bounded trailing-4 event-type queue for the streaming rolling
  * distinct count — O(1) per user on an unbounded stream. */
final case class TypeQueueState(recent: Seq[String])

/** CUSUM accumulators per user: running sum of the slack-adjusted
  * deviations and min(0, min cum so far) — the two integers the
  * closed-form identity needs. O(1) per key on an unbounded stream. */
final case class CusumState(cum: Long, runmin: Long)

/** First ≤3 event types per user for the streaming path builder;
  * `done` latches after the 3-path emits so late events are ignored.
  * Hard-bounded 3-element state per key. */
final case class PathState(types: Seq[String], done: Boolean)

/** Running TWAP accumulators per user: last event's (epoch-micros,
  * milli-value) plus the exact numerator/denominator sums so far.
  * O(1) per key on an unbounded stream. */
final case class TwapState(
    lastTs: Long, lastVmilli: Long, num: BigInt, heldUs: Long, nHeld: Long)

/** Earliest strictly-ordered view→click→purchase completion times
  * reached so far (epoch micros; None = step unreached) for
  * [[EventOps.streamingFunnel]]. O(1) per user on an unbounded stream.
  */
final case class FunnelState(
    t1: Option[Long], t2: Option[Long], t3: Option[Long])

/** Event-time windowed aggregation (SURVEY.md §2.10). The reference has
  * no streaming — its nearest analogs are Airflow polling sensors
  * (etl_aws_vini.py:459-468) — so this family is Tier B: batch-mode
  * `window()` aggregations that are oracle-checkable, plus a Structured
  * Streaming twin (see [[streamingTumblingCounts]]) exercised in tests.
  */
object EventOps {

  private val dec12 = DecimalType(12, 2)
  private val dec18 = DecimalType(18, 2)

  /** Tumbling 1-hour event-time windows, batch mode. Window start is
    * emitted as a formatted string: parquet timestamp annotation parity
    * between engines (adjusted-to-UTC vs naive) is not hash-stable, while
    * strings are.
    */
  def tumblingAgg(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(dec12)).cast(dec18).cast(DoubleType).as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("window_start", "event_type")

  /** Sliding 1-hour windows every 30 minutes (each event lands in 2). */
  def slidingAgg(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"))
      .orderBy("window_start", "event_type")

  /** JSON-column extraction over the events `props` payload: path
    * extraction (get_json_object), typed parse (from_json with an
    * explicit schema), and existence — the semi-structured column
    * surface of an event pipeline.
    */
  def jsonFuncs(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "events")
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").as("k_str"),
        get_json_object(col("props"), "$.k").cast("int").as("k_int"),
        from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.IntegerType))))
          .getField("k").as("k_typed"),
        get_json_object(col("props"), "$.missing").isNull.as("missing_is_null"))
      .orderBy("event_id")

  /** Session windows (30-min inactivity gap) per user, batch mode — the
    * builtin `session_window` merges overlapping [ts, ts+gap) intervals;
    * one shuffle on user_id. An event at exactly start+gap opens a NEW
    * session (windows are half-open), which the oracle mirrors with a
    * `>= gap` new-session marker in a gaps-and-islands rewrite.
    */
  def sessionAgg(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(dec12)).cast(dec18).cast(DoubleType).as("sum_value"))
      .select(
        col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_start")

  /** Per-user event counts + value stats — the groupBy shuffles once on
    * user_id; at 100 TB this is the canonical partial/final aggregate.
    */
  def userStats(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "events")
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"),
        sum(col("value").cast(dec12)).cast(dec18).cast(DoubleType).as("sum_value"),
        max(col("value")).as("max_value"))
      .orderBy("user_id")

  /** Shared streaming source over the events fixture: footer schema
    * probe, directory + glob (the file stream source requires a
    * DIRECTORY; testdata lays each table out as one file), and the
    * engine-wide ts physical-type adaptation (Tables.normalizeEventTs —
    * the generator's ts type has varied across driver rounds). Every
    * streaming operator reads through this ONE definition.
    */
  private def eventStream(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = spark.read.parquet(s"$sfDir/events.parquet").schema
    Tables.normalizeEventTs(spark.readStream
      .schema(raw)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir))
  }

  /** Structured Streaming twin of [[tumblingAgg]]: same logical window
    * aggregation as a streaming query with a watermark. Used by tests
    * with a memory sink; `Trigger.AvailableNow`-style synchronous drain.
    */
  def streamingTumblingCounts(spark: SparkSession, sfDir: String): DataFrame = {
    eventStream(spark, sfDir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"))
  }

  /** Click→purchase attribution, batch mode: each purchase joined to
    * every click by the same user within the preceding hour — the batch
    * twin of the stream-stream interval join
    * ([[streamingAttribution]]). Equi-join on user_id + a time-range
    * predicate ⇒ one shuffle on user_id, range filter inside the join.
    */
  def attributionJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = load(s, dir, "events")
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value"))
    clicks.join(purchases,
      clicks("user_id") === purchases("user_id")
        && col("purchase_ts") >= col("click_ts")
        && col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(
        clicks("user_id"), col("click_id"), col("purchase_id"),
        date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("click_ts"),
        date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("purchase_ts"),
        col("value"))
      .orderBy("user_id", "click_id", "purchase_id")
  }

  /** Stream-stream interval join (the §2.10 shape batch joins can't
    * model): clicks and purchases as TWO watermarked streams, joined on
    * user_id with event-time bounds in both directions — exactly what
    * Spark needs to evict join state (a click's state expires once the
    * purchase watermark passes click_ts + 1h). At 100 TB state is
    * bounded by (watermark horizon × arrival rate), not stream length.
    */
  def streamingAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    def src() = eventStream(spark, sfDir)
    val clicks = src().where(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val purchases = src().where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", "2 hours")
    clicks.join(purchases,
      col("user_id") === col("p_user_id")
        && col("purchase_ts") >= col("click_ts")
        && col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(
        col("user_id"), col("click_id"), col("purchase_id"),
        date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("click_ts"),
        date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("purchase_ts"),
        col("value"))
  }

  /** Structured Streaming twin of [[sessionAgg]]: session_window +
    * watermark (Spark merges in-flight sessions in state). Exercised by
    * the streaming test suite against the batch result.
    */
  def streamingSessionCounts(spark: SparkSession, sfDir: String): DataFrame = {
    eventStream(spark, sfDir)
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"))
  }

  /** Per-user running state for the custom-state API surface
    * (`KeyValueGroupedDataset.mapGroupsWithState`): event count + value
    * sum per user, maintained in typed state. The streaming twin of
    * [[userStats]]'s count/sum columns, for state logic the built-in
    * aggregates can't express (the built-ins CAN express this one — it
    * exists to pin the custom-state plumbing with a verifiable answer).
    */
  def streamingUserStateCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    eventStream(spark, sfDir)
      .select(col("user_id").cast("long").as("user_id"),
        col("value").cast("double").as("value"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[UserState, (Long, Long, Double)](
        GroupStateTimeout.NoTimeout) { case (user, events, state) =>
        val prev = state.getOption.getOrElse(UserState(0L, 0.0))
        var n = prev.n
        var sum = prev.sum
        events.foreach { e => n += 1; sum += e._2 }
        val next = UserState(n, sum)
        state.update(next)
        (user, next.n, next.sum)
      }
      .toDF("user_id", "n_events", "sum_value")
  }

  /** Batch twin of [[streamingEwma]]: the dyadic-decay trailing EWMA of
    * event values per user (WindowOps.ewmaOf's arithmetic on the event
    * stream — micro-units, present-weight mass divisor). Exact integer
    * numerator/denominator, one double division, so the streaming and
    * batch forms are comparable with == rather than a tolerance.
    */
  def eventEwma(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val units = floor(col("value") * 1000000 + 0.5).cast("long")
    val num = (1 to 7).foldLeft(units * lit(128L)) { (acc, i) =>
      acc + coalesce(lag(units, i).over(w), lit(0L)) * lit(1L << (7 - i))
    }
    val mass = (1 to 7).foldLeft(lit(128L)) { (acc, i) =>
      acc + when(lag(units, i).over(w).isNotNull, lit(1L << (7 - i)))
        .otherwise(lit(0L))
    }
    events.select(col("user_id"), col("event_id"),
      (num.cast("double") / (mass * lit(1000000L)).cast("double")).as("ewma"))
      .orderBy("user_id", "event_id")
  }

  /** Streaming dyadic EWMA per user (`flatMapGroupsWithState`): one
    * output row PER EVENT carrying the trailing-8 exponentially-decayed
    * value average at that point — the running-signal shape (per-event
    * risk/engagement scores) that windowed aggregates can't emit.
    * State is a hard-bounded 7-value queue per user: O(1) memory per
    * key on an unbounded stream. Arithmetic matches [[eventEwma]]
    * exactly (integer micro-units, present-mass divisor, one divide),
    * so the spec compares == against the batch twin. Per-trigger
    * arrivals sort by (ts, event_id) in memory — one user's
    * single-trigger slice, not the stream.
    */
  def streamingEwma(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    eventStream(spark, sfDir)
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("value").cast("double").as("value"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[EwmaState, (Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, events, state) =>
          val sorted = events.toArray.sortBy(e => (e._3, e._2))
          var recent = state.getOption.map(_.recent).getOrElse(Seq.empty)
          val out = sorted.map { case (_, eid, _, v) =>
            val u = math.floor(v * 1000000 + 0.5).toLong
            val window = u +: recent
            val num = window.zipWithIndex
              .map { case (x, i) => x * (1L << (7 - i)) }.sum
            val mass = window.zipWithIndex
              .map { case (_, i) => 1L << (7 - i) }.sum
            recent = window.take(7)
            (user, eid, num.toDouble / (mass * 1000000L).toDouble)
          }
          state.update(EwmaState(recent))
          out.iterator
      }
      .toDF("user_id", "event_id", "ewma")
  }

  /** Batch twin of [[streamingRollingZscore]]: each event's value
    * against its user's trailing-8 window statistics —
    * WindowOps.rollingZscore's arithmetic (exact BIGINT micro-unit
    * moments inside one ROWS frame, variance clamped ≥ 0, one double
    * conversion in a shared formula) on the event stream. Exact integer
    * moments + an identical double formula on both forms make the spec
    * comparison == rather than a tolerance. The s2 sum is bounded:
    * 8·(10⁹)² < 2⁶³ holds for |value| ≤ 10³ (the fixture's domain is
    * [0, ~600]); a wider domain must drop the 10⁶ unit scale a decade.
    */
  def eventRollingZscore(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-7, Window.currentRow)
    val units = floor(col("value") * 1000000 + 0.5).cast("long")
    events
      .select(col("user_id"), col("event_id"),
        units.as("u"),
        count(lit(1)).over(w).as("n"),
        sum(units).over(w).as("s1"),
        sum(units * units).over(w).as("s2"))
      .select(col("user_id"), col("event_id"),
        zFormula(col("u"), col("n"), col("s1"), col("s2")).as("z"))
      .select(col("user_id"), col("event_id"), col("z"),
        (abs(col("z")) > 2.0).cast("int").as("is_anomaly"))
      .orderBy("user_id", "event_id")
  }

  /** ONE definition of the z computation both rolling-zscore forms
    * share: population variance from exact integer moments, clamped
    * ≥ 0 against FP cancellation, z = 0 for n < 2 or zero variance.
    */
  private def zFormula(u: Column, n: Column, s1: Column, s2: Column): Column = {
    val mean = s1.cast("double") / n.cast("double")
    val varp = greatest(
      s2.cast("double") / n.cast("double") - mean * mean, lit(0.0))
    when(n < 2, 0.0)
      .when(varp === 0.0, 0.0)
      .otherwise((u.cast("double") - mean) / sqrt(varp))
  }

  /** Streaming per-event rolling z-score anomaly flag
    * (`flatMapGroupsWithState`): the streaming twin of the batch
    * rolling-zscore family — one output row PER EVENT scoring it
    * against its user's trailing-8 statistics at that point. State is
    * a hard-bounded 7-value queue per user (O(1) per key on an
    * unbounded stream); moments are recomputed from the ≤8-element
    * window with the SAME exact-integer accumulation and the same
    * double formula as [[eventRollingZscore]], so the spec compares ==
    * against the batch twin. Per-trigger arrivals sort by
    * (ts, event_id) in memory — one user's single-trigger slice, not
    * the stream.
    */
  def streamingRollingZscore(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    eventStream(spark, sfDir)
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("value").cast("double").as("value"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[ZState, (Long, Long, Double, Int)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, events, state) =>
          val sorted = events.toArray.sortBy(e => (e._3, e._2))
          var recent = state.getOption.map(_.recent).getOrElse(Seq.empty)
          val out = sorted.map { case (_, eid, _, v) =>
            val u = math.floor(v * 1000000 + 0.5).toLong
            val window = u +: recent
            val n = window.size
            val s1 = window.sum
            val s2 = window.map(x => x * x).sum
            val mean = s1.toDouble / n.toDouble
            val varp = math.max(s2.toDouble / n.toDouble - mean * mean, 0.0)
            val z =
              if (n < 2 || varp == 0.0) 0.0
              else (u.toDouble - mean) / math.sqrt(varp)
            recent = window.take(7)
            (user, eid, z, if (math.abs(z) > 2.0) 1 else 0)
          }
          state.update(ZState(recent))
          out.iterator
      }
      .toDF("user_id", "event_id", "z", "is_anomaly")
  }

  /** Top onboarding paths: each user's first three event types joined
    * "a>b>c" (shorter for users with fewer events), counted across
    * users. One per-user row_number window (high-cardinality key) and
    * a conditional-max pivot; the path domain is bounded by
    * |event types|³, so the final count is a tiny aggregate at any
    * corpus size.
    */
  def userPaths(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .groupBy("user_id")
      .agg(
        max(when(col("rn") === 1, col("event_type"))).as("s1"),
        max(when(col("rn") === 2, col("event_type"))).as("s2"),
        max(when(col("rn") === 3, col("event_type"))).as("s3"))
      .select(concat_ws(">", col("s1"), col("s2"), col("s3")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
  }

  /** Streaming twin of [[userPaths]] for COMPLETED paths
    * (`flatMapGroupsWithState`): accumulates each user's first three
    * event types in a hard-bounded 3-element state and emits the
    * joined "a>b>c" path once, when the third event arrives (then
    * latches done). Only users reaching three events ever emit, so
    * the spec compares the streamed path census against the batch
    * key's 3-step subset. Per-trigger arrivals sort by (ts, event_id)
    * in memory — one user's single-trigger slice, not the stream.
    */
  def streamingUserPaths(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    eventStream(spark, sfDir)
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("event_type").cast("string").as("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[PathState, (Long, String)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, events, state) =>
          val sorted = events.toArray.sortBy(e => (e._3, e._2))
          var st = state.getOption.getOrElse(PathState(Seq.empty, done = false))
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
          sorted.foreach { case (_, _, _, typ) =>
            if (!st.done) {
              val types = st.types :+ typ
              if (types.size == 3) {
                out += ((user, types.mkString(">")))
                st = PathState(types, done = true)
              } else st = PathState(types, done = false)
            }
          }
          state.update(st)
          out.iterator
      }
      .toDF("user_id", "path")
  }

  /** Longest consecutive-active-day streak per user — the classic
    * gaps-and-islands pattern: distinct activity days minus their
    * per-user row_number collapse each run of consecutive days to one
    * island date, then two keyed aggregates. Both windows partition on
    * the high-cardinality user key; nothing global.
    */
  def activityStreaks(events: DataFrame): DataFrame = {
    val wU = Window.partitionBy("user_id").orderBy("day")
    events
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .withColumn("island", date_sub(col("day"), row_number().over(wU)))
      .groupBy("user_id", "island").agg(count(lit(1)).as("len"))
      .groupBy("user_id")
      .agg(sum("len").as("n_active_days"), max("len").as("longest_streak"))
      .orderBy("user_id")
  }

  /** Per-event inter-arrival gap: micros since the user's previous
    * event (first event emits nothing) — the engagement-cadence signal
    * [[graft.ext.RevenueOps.interarrival]] histograms at the order
    * grain. One per-user lag window on the high-cardinality key.
    */
  def eventGaps(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(w))
      .where(col("prev_us").isNotNull)
      .select(col("user_id"), col("event_id"),
        (col("ts_us") - col("prev_us")).as("gap_us"))
      .orderBy("user_id", "event_id")
  }

  /** Streaming twin of [[eventGaps]] (`flatMapGroupsWithState`): one
    * output row per non-first event carrying the gap since the user's
    * previous event. State is ONE long per user (the last event-time
    * micros) — O(1) on an unbounded stream; the spec compares ==
    * against the batch lag window. Per-trigger arrivals sort by
    * (ts, event_id) in memory — one user's single-trigger slice, not
    * the stream.
    */
  def streamingGaps(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    eventStream(spark, sfDir)
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, events, state) =>
          val sorted = events.toArray.sortBy(e => (e._3, e._2))
          var last = state.getOption.getOrElse(Long.MinValue)
          val out = sorted.flatMap { case (_, eid, ts) =>
            val gap = if (last == Long.MinValue) None
              else Some((user, eid, ts - last))
            last = ts
            gap
          }
          state.update(last)
          out.iterator
      }
      .toDF("user_id", "event_id", "gap_us")
  }

  /** Per-user one-sided CUSUM monitoring against a TRAINED baseline
    * (mu, slack in value micro-units) — the deployed-monitor shape of
    * [[graft.ext.TimeSeries.cusum]], which self-fits its baseline in a
    * first batch pass instead. Same closed form: with z = v − mu −
    * slack, Sₜ = cumₜ − min(0, min_{j≤t} cumⱼ) equals the textbook
    * max(0, Sₜ₋₁ + zₜ) recursion; the alarm fires at S > 8·slack
    * (h = 4σ when slack = σ/2). All integers until the spec-shared
    * output, so the streaming twin compares == per event.
    *
    * 100 TB design: windows partition on the high-cardinality user
    * key; the baseline is two plan literals, no second scan.
    */
  def eventCusum(events: DataFrame, muMicro: Long, slackMicro: Long): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col("user_id"), col("event_id"),
        (floor(col("value") * 1000000 + 0.5).cast("long")
          - lit(muMicro) - lit(slackMicro)).as("z"),
        col("ts"))
      .withColumn("cum", sum(col("z")).over(w))
      .withColumn("runmin", least(lit(0L), min(col("cum")).over(w)))
      .select(col("user_id"), col("event_id"),
        (col("cum") - col("runmin")).as("cusum_units"),
        ((col("cum") - col("runmin")) > lit(8L * slackMicro)).cast("int")
          .as("alarm"))
      .orderBy("user_id", "event_id")
  }

  /** Streaming twin of [[eventCusum]] (`flatMapGroupsWithState`): one
    * output row per event carrying the user's CUSUM statistic and
    * alarm flag at that point. State is TWO longs per user — the
    * running cum and its clamped minimum — the O(1) form of the same
    * closed-form identity the batch windows compute, so the spec
    * compares == per (user, event). Per-trigger arrivals sort by
    * (ts, event_id) in memory — one user's single-trigger slice, not
    * the stream.
    */
  def streamingCusum(spark: SparkSession, sfDir: String,
      muMicro: Long, slackMicro: Long): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    eventStream(spark, sfDir)
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("value").cast("double").as("value"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[CusumState, (Long, Long, Long, Int)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, events, state) =>
          val sorted = events.toArray.sortBy(e => (e._3, e._2))
          var st = state.getOption.getOrElse(CusumState(0L, 0L))
          val out = sorted.map { case (_, eid, _, v) =>
            val z = math.floor(v * 1000000 + 0.5).toLong - muMicro - slackMicro
            val cum = st.cum + z
            val runmin = math.min(st.runmin, cum)
            st = CusumState(cum, runmin)
            val s = cum - runmin
            (user, eid, s, if (s > 8L * slackMicro) 1 else 0)
          }
          state.update(st)
          out.iterator
      }
      .toDF("user_id", "event_id", "cusum_units", "alarm")
  }

  /** Streaming twin of the batch bitmap rolling-distinct
    * (WindowOps.rollingDistinct): one output row per event carrying
    * the count of DISTINCT event types in the user's trailing-5-event
    * frame. State is a hard-bounded 4-element type queue per user
    * (O(1) on an unbounded stream); the batch side dictionary-encodes
    * into a bitmap for the windowed bit_or, the streaming side counts
    * the ≤5 strings directly — same frame, same count, so the spec
    * compares == per (user, event). Per-trigger arrivals sort by
    * (ts, event_id) in memory — one user's single-trigger slice, not
    * the stream.
    */
  def streamingRollingDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    eventStream(spark, sfDir)
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("event_type").cast("string").as("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[TypeQueueState, (Long, Long, Int)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, events, state) =>
          val sorted = events.toArray.sortBy(e => (e._3, e._2))
          var recent = state.getOption.map(_.recent).getOrElse(Seq.empty)
          val out = sorted.map { case (_, eid, _, tpe) =>
            val frame = tpe +: recent // trailing 5 incl. current
            recent = frame.take(4)
            (user, eid, frame.distinct.size)
          }
          state.update(TypeQueueState(recent))
          out.iterator
      }
      .toDF("user_id", "event_id", "n_distinct_5")
  }

  /** Streaming twin of the batch TWAP (WindowOps.twap): each arriving
    * event CLOSES its user's previous holding segment, so the operator
    * emits one running-TWAP row per event past the user's first, and
    * the last emission per user equals the batch answer exactly (the
    * spec pins it). State is O(1): the open segment's (ts, value) plus
    * the exact numerator (BigInt — the same order-free exactness the
    * batch side gets from DECIMAL(38,0) sums), held-duration and
    * segment-count accumulators. Per-trigger arrivals sort by
    * (ts, event_id) in memory — one user's single-trigger slice, not
    * the stream.
    */
  def streamingTwap(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    eventStream(spark, sfDir)
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("value").cast("double").as("value"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[TwapState, (Long, Long, Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, events, state) =>
          val sorted = events.toArray.sortBy(e => (e._3, e._2))
          var st = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long, Long, Long, Double)]
          sorted.foreach { case (_, eid, tus, v) =>
            val vm = math.floor(v * 1000 + 0.5).toLong
            if (st == null) st = TwapState(tus, vm, BigInt(0), 0L, 0L)
            else {
              val dur = tus - st.lastTs
              st = TwapState(tus, vm,
                st.num + BigInt(st.lastVmilli) * dur,
                st.heldUs + dur, st.nHeld + 1)
              if (st.heldUs > 0)
                out += ((user, eid, st.nHeld, st.heldUs,
                  st.num.toDouble / (st.heldUs.toDouble * 1000.0)))
            }
          }
          state.update(st)
          out.iterator
      }
      .toDF("user_id", "event_id", "n_held", "held_us", "twap")
  }

  /** Streaming twin of [[transitionMatrix]]'s pairing stage
    * (`flatMapGroupsWithState`): per-user state is ONE value — the
    * last event type seen — so state is O(1) per key on an unbounded
    * stream. Emits a (prev_type, next_type) record per event past the
    * user's first; the matrix itself is then a standard streaming
    * aggregation over these records (counts are associative — no extra
    * state shape needed). The spec folds the emitted pairs and
    * compares == against the batch matrix counts. Per-trigger arrivals
    * sort by (ts, event_id) in memory — one user's single-trigger
    * slice, not the stream.
    */
  def streamingTransitions(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    eventStream(spark, sfDir)
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("event_type").as("et"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[TransState, (Long, Long, String, String)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, events, state) =>
          val sorted = events.toArray.sortBy(e => (e._3, e._2))
          var prev = state.getOption.flatMap(_.last)
          val out = Array.newBuilder[(Long, Long, String, String)]
          sorted.foreach { case (_, eid, _, et) =>
            prev.foreach(p => out += ((user, eid, p, et)))
            prev = Some(et)
          }
          state.update(TransState(prev))
          out.result().iterator
      }
      .toDF("user_id", "event_id", "prev_type", "next_type")
  }

  /** Streaming heavy hitters per user: a MISRA-GRIES summary of event
    * types with a hard `capacity` bound on per-key state — the
    * bounded-memory answer to "top types per user over an unbounded
    * stream" (exact per-type counts grow state with the type
    * vocabulary; a 100 TB stream cannot afford that). Classic MG
    * update: known type increments; unknown type inserts if a slot is
    * free, else ALL counters decrement by one (zeros evicted) and the
    * arrival is dropped. Guarantee: any type with true count
    * > n/(capacity+1) survives, and every estimate is within
    * n/(capacity+1) below its true count. When a user's distinct types
    * ≤ capacity the summary IS exact — the batch-equivalence the spec
    * pins, alongside an adversarial eviction case.
    */
  def streamingTopTypes(spark: SparkSession, sfDir: String,
      capacity: Int = 8): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    eventStream(spark, sfDir)
      .select(col("user_id").cast("long").as("user_id"),
        coalesce(col("event_type"), lit("")).as("et"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[MgState, (Long, Map[String, Long])](
        GroupStateTimeout.NoTimeout) { case (user, events, state) =>
        var m = state.getOption.map(_.counters).getOrElse(Map.empty[String, Long])
        events.foreach { case (_, t) =>
          if (m.contains(t)) m = m.updated(t, m(t) + 1L)
          else if (m.size < capacity) m = m.updated(t, 1L)
          else m = m.map { case (k, v) => k -> (v - 1L) }.filter(_._2 > 0L)
        }
        state.update(MgState(m))
        (user, m)
      }
      .toDF("user_id", "counters")
      .select(col("user_id"), explode(col("counters")).as(Seq("et", "mg_count")))
  }

  /** Streaming sessionizer with EVENT-TIME TIMEOUT — the streaming twin
    * of [[sessionStats]] and the one stateful primitive the NoTimeout
    * demos can't show: a session closes EITHER when a later event for
    * its user arrives past the 30-min gap (emitted in-trigger) OR when
    * the WATERMARK passes last-event + 30 min and the timeout callback
    * fires with no further data. Without the timeout path, a user who
    * stops sending events holds state forever — the eviction an
    * unbounded stream cannot live without. Emits one row per CLOSED
    * session; the still-open session per user stays in state.
    * Input: a parquet directory of (user_id LONG, event_id LONG,
    * ts TIMESTAMP) rows.
    */
  def streamingSessionize(spark: SparkSession, inDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.types._
    val gapUs = 1800L * 1000000L
    spark.readStream
      .schema(StructType(Seq(
        StructField("user_id", LongType), StructField("event_id", LongType),
        StructField("ts", TimestampType))))
      .parquet(inDir)
      .withWatermark("ts", "0 seconds")
      // the WATERMARKED ts column must survive into the stateful op
      // (projecting it away fails the event-time-timeout check), so it
      // rides along next to the micros value the logic uses
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessState, (Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (user, _, state) if state.hasTimedOut =>
          val st = state.get
          state.remove()
          Iterator((user, st.n, st.lastUs - st.startUs))
        case (user, events, state) =>
          // per-trigger arrivals are unordered; sort in memory (one
          // user's single-trigger slice, not the stream)
          val sorted = events.map(_._3).toArray.sorted
          var closed = List.empty[(Long, Long, Long)]
          var cur = state.getOption
          sorted.foreach { ts =>
            cur match {
              case Some(sess) if ts - sess.lastUs <= gapUs =>
                cur = Some(sess.copy(lastUs = ts, n = sess.n + 1))
              case Some(sess) =>
                closed ::= ((user, sess.n, sess.lastUs - sess.startUs))
                cur = Some(SessState(ts, ts, 1L))
              case None =>
                cur = Some(SessState(ts, ts, 1L))
            }
          }
          cur.foreach { sess =>
            state.update(sess)
            state.setTimeoutTimestamp(sess.lastUs / 1000L + 1800L * 1000L)
          }
          closed.reverseIterator
      }
      .toDF("user_id", "n_events", "duration_us")
  }

  /** Streaming exact dedup on a natural key with BOUNDED state:
    * `dropDuplicatesWithinWatermark` evicts keys older than the
    * watermark, which is what makes exact dedup viable on an unbounded
    * stream (batch `dropDuplicates` keeps all keys; a streaming job
    * cannot). The streaming twin of the Dedup family's exact path.
    */
  def streamingDedup(spark: SparkSession, sfDir: String): DataFrame = {
    eventStream(spark, sfDir)
      .withWatermark("ts", "2 hours")
      .select(col("user_id"), col("event_type"), col("ts"))
      .dropDuplicatesWithinWatermark("user_id", "event_type")
  }

  /** Streaming crawl-frontier dedup: canonical-URL keep-first over the
    * document fetch stream with watermark-bounded state — the
    * streaming twin of [[graft.ext.WebOps.urlDedup]] (a live crawler
    * must suppress refetches as URLs arrive and cannot hold every
    * canonical key forever; `dropDuplicatesWithinWatermark` evicts
    * keys older than the watermark). Within the state window the FIRST
    * arrival per canonical key survives; arrival order inside a
    * micro-batch is not a total order, so the spec pins SET equality
    * of surviving canonical keys against the batch twin (the surviving
    * RESOURCE set is identical; the winning doc_id may differ), plus
    * exact count equality.
    */
  def streamingUrlDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = spark.read.parquet(s"$sfDir/documents.parquet").schema
    spark.readStream
      .schema(raw)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
      .withColumn("url", graft.ext.WebOps.refetchUrl)
      .withColumn("canon", graft.ext.WebOps.canonicalUrl(col("url")))
      .withColumn("fetch_ts",
        timestamp_seconds(lit(1600000000L) + col("doc_id")))
      .withWatermark("fetch_ts", "2 hours")
      .dropDuplicatesWithinWatermark("canon")
      .select(col("doc_id"), col("canon"))
  }

  /** Stream-static enrichment join: the event stream joined to a static
    * dimension (per-user profile derived once in batch). The static side
    * is re-read per micro-batch by Spark; at scale it broadcasts when
    * small or bucket-joins when not — same planning as batch.
    */
  def streamingEnrichedEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val profile = Tables.normalizeEventTs(
        spark.read.parquet(s"$sfDir/events.parquet"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("lifetime_events"))
    val stream = eventStream(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts"))
    stream.join(profile, Seq("user_id"), "left_outer")
  }

  /** Time-series resample with gap filling: per-user DAILY series over
    * each user's own [first, last] activity span — missing days get
    * n_events = 0 and the last seen event type carried FORWARD
    * (`last(..., ignoreNulls)` over the date order). The day-grid
    * explode is bounded by each key's span and the window shuffles once
    * on user_id: linear, no global grid, no cross-key skew. The classic
    * prep step for ML feature series / monitoring dashboards.
    */
  def gapFillDaily(s: SparkSession, dir: String): DataFrame = {
    val daily = load(s, dir, "events")
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(
        count(lit(1)).as("n_events"),
        // deterministic "last event of the day": max by (ts, event_id)
        max(struct(col("ts"), col("event_id"), col("event_type"))).as("m"))
      .select(col("user_id"), col("day"), col("n_events"),
        col("m.event_type").as("day_last_type"))
    val days = daily.groupBy("user_id")
      .agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("user_id"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("day")
    days.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        last(col("day_last_type"), ignoreNulls = true).over(w).as("last_type"))
      .orderBy("user_id", "day")
  }

  /** Idempotent `foreachBatch` sink: every micro-batch lands in its own
    * `batch_id=` partition via DYNAMIC partition overwrite, so a
    * replayed batch (foreachBatch's at-least-once retry contract after
    * a failure) overwrites its own partition instead of appending
    * duplicates — exactly-once OUTPUT from at-least-once delivery, the
    * standard recipe for non-transactional stores. Pass to
    * `writeStream.foreachBatch(...)`.
    */
  def idempotentBatchWriter(out: String): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      batch.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out)

  /** Sessionization: assign each event a per-user session sequence
    * number — new session when >30 min elapses since the user's
    * previous event. The lag-gap-flag + running-sum composition is THE
    * standard labeling pattern (session_window aggregates; this labels
    * every event so downstream joins can carry the session key). Gaps
    * compared in exact epoch micros (no timestamp truncation
    * subtleties); windows partition on user_id — high cardinality, no
    * single-task hazard. Ties broken by event_id: a total order, so
    * lag and the running sum are deterministic.
    */
  /** Shared labeling pass for [[sessionize]]/[[sessionStats]]: every
    * event gains (ts_us, session_seq). asc_nulls_first is Spark's
    * default but DuckDB's is NULLS LAST — pinned explicitly here and
    * in both oracles so a NULL ts can never shift a user's lag
    * neighbors between engines.
    */
  private def labeledSessions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_us").asc_nulls_first, col("event_id").asc_nulls_first)
    load(s, dir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("prev_us", lag("ts_us", 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          col("ts_us") - col("prev_us") > 1800L * 1000000L, 1L).otherwise(0L))
      .withColumn("session_seq", sum("new_sess").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  def sessionize(s: SparkSession, dir: String): DataFrame =
    labeledSessions(s, dir)
      .select(col("user_id"), col("event_id"), col("session_seq"))
      .orderBy("user_id", "event_id")

  /** First-order event-type transition matrix — the Markov-chain view
    * of user journeys (counts, per-source out-degree, and transition
    * probability) that attribution and next-action models start from.
    *
    * 100 TB shape: the only full-data shuffle is the user-keyed window
    * that pairs each event with its predecessor (high-cardinality
    * partition key, same exchange geometry as [[sessionize]] — a
    * co-scheduled pipeline reuses that shuffle). Everything after is
    * |event_types|²-sized: the pair counts map-side combine, the
    * out-degree relation is a second tiny aggregate joined back by
    * broadcast, and the probability stays one BIGINT/BIGINT division
    * both engines share.
    */
  def transitionMatrix(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val trans = load(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"))
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .where(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val outTotals = trans.groupBy("prev_type").agg(sum("n").as("out_n"))
    trans.join(broadcast(outTotals), "prev_type")
      .select(col("prev_type"), col("next_type"), col("n"), col("out_n"),
        (col("n").cast("double") / col("out_n").cast("double")).as("prob"))
      .orderBy("prev_type", "next_type")
  }

  /** Stationary distribution of the event-type Markov chain
    * ([[transitionMatrix]]'s long-run complement): power iteration
    * π' = πP unrolled `iters` times in exact integer micro-units
    * (per-edge `(p·c) div ctot` — positive truncating division, so
    * DuckDB's floor `//` matches), then ONE double normalization.
    * The chain lives on the bounded event-type domain, so every
    * iteration is a tiny broadcast-scale join; truncation leaks ≤ 1
    * unit per in-edge per iteration identically on both engines.
    * The p·c product runs in DECIMAL(38,0) (mirrored by HUGEINT in
    * the oracle — the acf/ljungBox moment-sum recipe): p reaches
    * |states|·10⁶ and c is a raw edge count, so a BIGINT product
    * would wrap silently past c ≈ 2⁶³/p while DuckDB errored,
    * diverging the engines exactly at 100 TB edge counts.
    */
  def markovStationary(s: SparkSession, dir: String, iters: Int = 6): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val trans = load(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"))
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .where(col("prev_type").isNotNull)
      .groupBy(col("prev_type").as("src"), col("event_type").as("dst"))
      .agg(count(lit(1)).as("c"))
    val outT = trans.groupBy("src").agg(sum("c").as("ctot"))
    // eager lineage cut on the |event_types|²-bounded edge relation
    // (the sharedEdges lesson, intra-query): unrolled, every iteration's
    // plan re-nested the corpus-scale user-keyed lag window — 160
    // parquet scans / 160 window ops in the static plan at iters = 6 —
    // while the relation it derives is ~|event_types|² rows. Checkpoint
    // it (and the state universe) once; the power iterations then run
    // over two tiny RDD leaves. Measured at sf0.1: 3.49 → see
    // OPTIMIZATION_r12.md. nullif(ctot, 0L) keeps the div guard LOCAL
    // (ctot = Σc ≥ 1 — a numeric no-op) now that the audit can't derive
    // positivity through the truncated lineage.
    val e = trans.join(broadcast(outT), "src").localCheckpoint()
    val states = e.select(col("src").as("state"))
      .union(e.select(col("dst"))).distinct().localCheckpoint()
    var p = states.withColumn("p", lit(1000000L))
    for (_ <- 1 to iters) {
      val nxt = e.join(p.withColumnRenamed("state", "src"), "src")
        .select(col("dst").as("state"),
          expr("(CAST(p AS DECIMAL(38,0)) * c) div nullif(ctot, 0L)").as("m"))
        .groupBy("state").agg(sum(col("m")).as("m"))
      p = states.join(nxt, Seq("state"), "left")
        .select(col("state"), coalesce(col("m"), lit(0L)).as("p"))
    }
    val totp = p.agg(sum("p").as("tp"))
    p.crossJoin(broadcast(totp))
      .select(col("state"), col("p").as("pi_units"),
        (col("p").cast("double") / col("tp").cast("double")).as("pi"))
      .orderBy("state")
  }

  /** Generated DuckDB mirror of [[markovStationary]]: one CTE per
    * iteration so the unroll count cannot drift between engines.
    */
  private[streaming] def markovOracleSql(iters: Int = 6): String = {
    val base =
      """WITH tr AS (
        |  SELECT user_id, event_type,
        |         lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_type
        |  FROM events),
        |e AS (SELECT prev_type AS src, event_type AS dst, count(*) AS c
        |      FROM tr WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |et AS (SELECT e.src, e.dst, e.c, CAST(t.ctot AS BIGINT) AS ctot
        |       FROM e JOIN (SELECT src, sum(c) AS ctot FROM e GROUP BY 1) t USING (src)),
        |st AS (SELECT src AS state FROM et UNION SELECT dst FROM et),
        |p0 AS (SELECT state, CAST(1000000 AS BIGINT) AS p FROM st)""".stripMargin
    val iterations = (1 to iters).map { i =>
      s"""p$i AS (
         |  SELECT st.state,
         |         COALESCE(CAST(sum((CAST(p${i - 1}.p AS HUGEINT) * et.c) // et.ctot) AS BIGINT), 0) AS p
         |  FROM st
         |  LEFT JOIN et ON et.dst = st.state
         |  LEFT JOIN p${i - 1} ON p${i - 1}.state = et.src
         |  GROUP BY 1)""".stripMargin
    }
    (base +: iterations).mkString(",\n") +
      s"""\n, tp AS (SELECT CAST(sum(p) AS BIGINT) AS tp FROM p$iters)
         |SELECT state, p AS pi_units, CAST(p AS DOUBLE) / CAST(tp AS DOUBLE) AS pi
         |FROM p$iters, tp ORDER BY state""".stripMargin
  }

  /** Session-grain rollup of [[sessionize]]: events → labeled sessions
    * → one row per (user, session) with size and exact-micros duration.
    * The two windows and the final aggregation all hash on user_id, so
    * the label pass and the rollup reuse one shuffle.
    */
  def sessionStats(s: SparkSession, dir: String): DataFrame =
    labeledSessions(s, dir)
      .groupBy("user_id", "session_seq")
      .agg(count(lit(1)).as("n_events"),
        (max("ts_us") - min("ts_us")).as("duration_us"))
      .orderBy("user_id", "session_seq")

  /** Trailing 30-minute moving aggregate per user: a RANGE frame over
    * exact epoch micros (Spark range frames need a single numeric sort
    * key — micros, not timestamps). Value sums as exact cents
    * (trunc(value·100) mirrors on both engines; double frame-sums
    * would drift with DuckDB's segment-tree add order). Scale: one
    * shuffle on user_id, frame eviction is incremental per row.
    */
  def movingWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"))
      .rangeBetween(-1800L * 1000000L, 0L)
    load(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        (col("value") * 100).cast("long").as("cents"))
      .select(col("user_id"), col("event_id"),
        count(lit(1)).over(w).as("cnt_30m"),
        sum("cents").over(w).as("cents_30m"))
      .orderBy("user_id", "event_id")
  }

  /** Deterministic per-user mode: built-in `mode()` picks an ARBITRARY
    * value on ties in both engines, so the argmax is pinned as
    * max(struct(count, value)) — highest count, then lexicographically
    * greatest type. Two hash aggregations on the same leading key, no
    * sort, no window.
    */
  def modeType(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "events")
      // NULL types fold to '' BEFORE the argmax: on a tied count Spark
      // orders a null struct field SMALLEST but DuckDB orders it
      // LARGEST, so an unguarded NULL could win on one engine and lose
      // on the other
      .select(col("user_id"), coalesce(col("event_type"), lit("")).as("et"))
      .groupBy("user_id", "et")
      .agg(count(lit(1)).as("c"))
      .groupBy("user_id")
      .agg(max(struct(col("c"), col("et"))).as("m"))
      .select(col("user_id"),
        col("m.et").as("mode_type"), col("m.c").as("mode_cnt"))
      .orderBy("user_id")

  /** Strictly-ordered conversion funnel view → click → purchase: a
    * user reaches step k only with an event strictly after their
    * step-(k−1) time (earliest-completion semantics: each step binds
    * to the MIN qualifying timestamp). Emits one row per step with
    * reach counts and the step-over-step conversion rate — counts and
    * exact-integer ratios only, no timestamps on the compare path
    * (comparisons happen in exact epoch micros).
    *
    * 100 TB design: three user_id-keyed conditional aggregates chained
    * by joins on the same high-cardinality key — one exchange family,
    * no windows, no per-user event-list collection; the 3-row report
    * reduces from user-grain in a final 1-row-per-step aggregate.
    */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = load(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
    val (s1, s2, s3) = funnelStages(ev)
    // one declarative plan (no driver-side counts re-running upstream
    // stages): three 1-row reach counts cross-joined, pivoted long via
    // a literal array on the single assembled row
    val n1 = s1.agg(count(lit(1)).as("n1"))
    val n2 = s2.agg(count(lit(1)).as("n2"))
    val n3 = s3.agg(count(lit(1)).as("n3"))
    n1.crossJoin(n2).crossJoin(n3)
      .select(explode(array(
        struct(lit(1).as("step"), lit("view").as("event_type"),
          col("n1").as("n_users"), lit(1.0).as("conv_rate")),
        struct(lit(2).as("step"), lit("click").as("event_type"),
          col("n2").as("n_users"),
          when(col("n1") === 0L, 0.0)
            .otherwise(col("n2").cast("double") / col("n1").cast("double"))
            .as("conv_rate")),
        struct(lit(3).as("step"), lit("purchase").as("event_type"),
          col("n3").as("n_users"),
          when(col("n2") === 0L, 0.0)
            .otherwise(col("n3").cast("double") / col("n2").cast("double"))
            .as("conv_rate")))).as("r"))
      .select(col("r.step"), col("r.event_type"),
        col("r.n_users"), col("r.conv_rate"))
      .orderBy("step")
  }

  /** Concurrent-session sweep line: how many sessions are open at every
    * moment the count changes. Sessions (closed intervals [start, end]
    * from the same 30-min-gap labeling as [[sessionStats]]) reduce to
    * boundary deltas (+1 at start, −1 at end+1), deltas aggregate per
    * DISTINCT timestamp (which makes the event order total — no
    * same-instant ordering convention to disagree on), and a global
    * running sum turns them into the step-function concurrency profile
    * — peak load, capacity planning, the ops twin of the per-user
    * session family.
    *
    * 100 TB design: the global running sum is the
    * [[graft.operators.WindowOps.rankStatsOf]] /
    * [[graft.ext.TrainingPrep.sequencePack]] two-pass prefix-sum
    * geometry applied to TIME — pass 1 buckets boundaries by a
    * deterministic range function of ts (bucket order == time order)
    * and reduces per-bucket delta sums to the driver (O(P) rows);
    * pass 2 windows only WITHIN each bucket and adds the broadcast
    * bucket offset. No single-partition global window at any scale;
    * the two extra pass-1 scans prune to one long column.
    */
  def concurrencyProfile(s: SparkSession, dir: String): DataFrame = {
    concurrencyOf(
      labeledSessions(s, dir)
        .groupBy("user_id", "session_seq")
        .agg(min("ts_us").as("start_us"), max("ts_us").as("end_us")),
      s.sessionState.conf.numShufflePartitions)
  }

  /** df-level core of [[concurrencyProfile]] (needs start_us, end_us) —
    * separable so specs can plant interval sets with known profiles.
    */
  def concurrencyOf(sessions: DataFrame, parts: Int): DataFrame = {
    val deltas = sessions.select(col("start_us").as("ts_us"), lit(1L).as("d"))
      .unionAll(sessions.select(
        (col("end_us") + lit(1L)).as("ts_us"), lit(-1L).as("d")))
      .groupBy("ts_us").agg(sum("d").as("net_delta"))
    val bounds = deltas.agg(min("ts_us"), max("ts_us")).head()
    if (bounds.isNullAt(0))
      return deltas.select(col("ts_us"), col("net_delta"),
        col("net_delta").as("concurrency"))
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val width = math.max((hi - lo) / parts, 1L)
    // integer `div`: exact at any epoch magnitude, monotone in ts (==
    // bucket order is time order), both passes share the expression
    val bkt = least(expr(s"(ts_us - ${lo}L) div ${width}L"),
      lit(parts.toLong - 1L)).cast(IntegerType)
    val counts = deltas
      .groupBy(bkt.as("bkt")).agg(sum("net_delta").as("dsum"))
      .collect() // O(parts) rows — driver-safe at any scale
      .map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(_._1)
    val offsets = scala.collection.mutable.Map.empty[Int, Long]
    var acc = 0L
    counts.foreach { case (b, dsum) => offsets(b) = acc; acc += dsum }
    val w = Window.partitionBy(col("bkt")).orderBy(col("ts_us"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas
      .withColumn("bkt", bkt)
      .select(col("ts_us"), col("net_delta"),
        (sum("net_delta").over(w) +
          element_at(typedLit(offsets.toMap), col("bkt"))).as("concurrency"))
      .orderBy("ts_us")
  }

  /** The three chained earliest-completion stage tables the funnel
    * family shares: per-user min view time, min click strictly after
    * it, min purchase strictly after that. Input needs (user_id,
    * event_type, ts_us) columns.
    */
  private def funnelStages(
      ev: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val s1 = ev.where(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts_us").as("t1"))
    val s2 = ev.where(col("event_type") === "click")
      .join(s1, "user_id").where(col("ts_us") > col("t1"))
      .groupBy("user_id").agg(min("ts_us").as("t2"))
    val s3 = ev.where(col("event_type") === "purchase")
      .join(s2, "user_id").where(col("ts_us") > col("t2"))
      .groupBy("user_id").agg(min("ts_us").as("t3"))
    (s1, s2, s3)
  }

  /** Per-user funnel depth table — the user-grain view [[funnel]]
    * reduces to its 3-row report, exposed so the streaming twin
    * ([[streamingFunnel]]) has an exact row-for-row batch target:
    * (user_id, step_reached ∈ 1..3, t1_us, t2_us, t3_us; -1 =
    * unreached). Users with no view row never enter the funnel, same
    * as the batch aggregates.
    */
  def funnelUserTimes(s: SparkSession, dir: String): DataFrame = {
    val ev = load(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
    val (s1, s2, s3) = funnelStages(ev)
    s1.join(s2, Seq("user_id"), "left").join(s3, Seq("user_id"), "left")
      .select(col("user_id"),
        (lit(1) + when(col("t2").isNotNull, 1).otherwise(0) +
          when(col("t3").isNotNull, 1).otherwise(0)).as("step_reached"),
        coalesce(col("t1"), lit(-1L)).as("t1_us"),
        coalesce(col("t2"), lit(-1L)).as("t2_us"),
        coalesce(col("t3"), lit(-1L)).as("t3_us"))
      .orderBy("user_id")
  }

  /** Conversion-latency report over [[funnelUserTimes]]'s step
    * instants: per funnel transition (view→click, click→purchase,
    * view→purchase), the completing-user count, exact mean micros,
    * and p50/p90 through the percentile→DECIMAL(18,6) cross-engine
    * bridge. One user-grain pass, then three tiny aggregates stacked
    * by UNION — the latency panel next to the funnel's reach counts.
    */
  def conversionLatency(s: SparkSession, dir: String): DataFrame = {
    val ut = funnelUserTimes(s, dir)
    def stage(name: String, from: Column, to: Column) = {
      val d = ut.where(from >= 0L && to >= 0L)
        .select((to - from).as("d_us"))
      d.agg(count(lit(1)).as("n_users"),
        (sum("d_us").cast("double") / count(lit(1)).cast("double"))
          .as("mean_us"),
        // DECIMAL(18,1), not the usual (18,6): micros magnitudes put
        // six decimals past double precision, while the interpolation
        // fractions are exact tenths — one decimal absorbs the ulp
        // noise without ever straddling a real value
        expr("percentile(d_us, 0.5)").cast(DecimalType(18, 1))
          .cast("double").as("p50_us"),
        expr("percentile(d_us, 0.9)").cast(DecimalType(18, 1))
          .cast("double").as("p90_us"))
        .select(lit(name).as("step"), col("n_users"), col("mean_us"),
          col("p50_us"), col("p90_us"))
    }
    stage("view_to_click", col("t1_us"), col("t2_us"))
      .unionAll(stage("click_to_purchase", col("t2_us"), col("t3_us")))
      .unionAll(stage("view_to_purchase", col("t1_us"), col("t3_us")))
      .orderBy("step")
  }

  /** Streaming funnel state machine (`flatMapGroupsWithState`): the
    * streaming twin of [[funnel]]/[[funnelUserTimes]] — per-user
    * earliest strictly-ordered view→click→purchase completion with
    * O(1) state per key (three optional micros) on an unbounded
    * stream. Under event-time-ordered arrival the greedy update is
    * exact: the first view IS min(t1), so each later stage latches on
    * its first strictly-later qualifying arrival — the same strict->
    * comparisons as the batch aggregates — and never revises. Emits
    * one row per user per trigger carrying current depth; the spec
    * compares final rows == against [[funnelUserTimes]]. Per-trigger
    * arrivals sort by (ts, event_id) in memory — one user's
    * single-trigger slice, not the stream.
    */
  def streamingFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    eventStream(spark, sfDir)
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        coalesce(col("event_type"), lit("")).as("et"),
        unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, (Long, Int, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, events, state) =>
          val sorted = events.toArray.sortBy(e => (e._4, e._2))
          var st = state.getOption.getOrElse(FunnelState(None, None, None))
          sorted.foreach { case (_, _, et, ts) =>
            et match {
              case "view" if st.t1.isEmpty => st = st.copy(t1 = Some(ts))
              case "click" if st.t2.isEmpty && st.t1.exists(ts > _) =>
                st = st.copy(t2 = Some(ts))
              case "purchase" if st.t3.isEmpty && st.t2.exists(ts > _) =>
                st = st.copy(t3 = Some(ts))
              case _ => ()
            }
          }
          state.update(st)
          if (st.t1.isEmpty) Iterator.empty
          else Iterator.single((user, 1 + st.t2.size + st.t3.size,
            st.t1.getOrElse(-1L), st.t2.getOrElse(-1L),
            st.t3.getOrElse(-1L)))
      }
      .toDF("user_id", "step_reached", "t1_us", "t2_us", "t3_us")
  }

  /** Weekly cohort retention: cohort = the week of a user's FIRST
    * event; a cohort-week cell counts users with any activity k weeks
    * later. The classic growth-analytics triangle, emitted as
    * (cohort_week, week_offset, n_active, n_cohort, retention_rate).
    * Weeks are exact integer day-arithmetic from a fixed epoch —
    * nothing floating until the final ratio of two BIGINTs.
    *
    * 100 TB design: first-event cohorts are one user_id-keyed
    * aggregate; activity dedups to (user, week) in a second; the join
    * keys on user_id (high-cardinality) and the triangle reduce is
    * cohort×offset-sized (tiny). No windows, no skew keys.
    */
  def retentionCohorts(s: SparkSession, dir: String): DataFrame = {
    val weekCol = expr(
      "datediff(CAST(ts AS DATE), DATE '2024-01-01') div 7").cast("long")
    val ev = load(s, dir, "events")
      .select(col("user_id"), weekCol.as("week"))
    val cohort = ev.groupBy("user_id").agg(min("week").as("cohort_week"))
    val cohortSize = cohort.groupBy("cohort_week")
      .agg(count(lit(1)).as("n_cohort"))
    val active = ev.distinct()
    active.join(cohort, "user_id")
      .select(col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"), col("user_id"))
      .groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(cohortSize), "cohort_week")
      .select(col("cohort_week"), col("week_offset"),
        col("n_active"), col("n_cohort"),
        (col("n_active").cast("double") / col("n_cohort").cast("double"))
          .as("retention_rate"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Two-proportion A/B significance test — the experiment-analysis
    * terminal of the product funnel family: users assign to arms by a
    * deterministic hash of their id (the hashSplit recipe — md5Uint32
    * mod 2, mirrored bit-for-bit in the oracle), "conversion" is
    * reaching a high-value purchase (> 250), and the pooled two-proportion z-score
    * z = (p̂₁−p̂₂)/√(p̂(1−p̂)(1/n₁+1/n₂)) decides significance. Counts
    * are exact integers from one user-keyed aggregate + one 4-way
    * conditional rollup to a single row; the z formula runs once in
    * identical double arithmetic.
    *
    * 100 TB shape: one map-side-combined groupBy(user) then a 1-row
    * global aggregate — no window, no join, nothing driver-side.
    */
  def abTest(events: DataFrame): DataFrame = {
    val users = events
      .groupBy("user_id")
      .agg(max((col("event_type") === "purchase" && col("value") > 250)
        .cast("long")).as("conv"))
      .withColumn("arm",
        pmod(graft.functions.HashExprs.md5Uint32(
          col("user_id").cast("string")), lit(2)))
    val s = users.agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("conv_a"),
      sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("conv_b"))
    val (na0, nb0) = (col("n_a").cast("double"), col("n_b").cast("double"))
    val (ca, cb) = (col("conv_a").cast("double"), col("conv_b").cast("double"))
    // an empty arm (the hash put every user on one side of a tiny
    // corpus) or a 0%/100% pooled rate zeroes a denominator: nullif on
    // BOTH engines (Spark x/0 = NULL vs DuckDB NaN — the D3 audit
    // class); greatest is a numeric no-op (p ≤ 1 exactly) that makes
    // the sqrt domain structural for the D4 audit.
    val na = nullif(na0, lit(0.0)); val nb = nullif(nb0, lit(0.0))
    val pPool = (ca + cb) / nullif(na0 + nb0, lit(0.0))
    s.select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
      (ca / na).as("p_a"), (cb / nb).as("p_b"),
      ((ca / na - cb / nb) /
        nullif(sqrt(greatest(
          pPool * (lit(1.0) - pPool) * (lit(1.0) / na + lit(1.0) / nb),
          lit(0.0))), lit(0.0)))
        .as("z"))
  }

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q_conversion_latency",
      "funnel conversion-latency panel: per step-pair completing users, exact mean micros, bridged p50/p90",
      conversionLatency,
      Some(
        """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
          |s1 AS (SELECT user_id, min(ts_us) AS t1 FROM ev WHERE event_type = 'view' GROUP BY 1),
          |s2 AS (SELECT ev.user_id, min(ts_us) AS t2 FROM ev JOIN s1 USING (user_id)
          |       WHERE event_type = 'click' AND ts_us > t1 GROUP BY 1),
          |s3 AS (SELECT ev.user_id, min(ts_us) AS t3 FROM ev JOIN s2 USING (user_id)
          |       WHERE event_type = 'purchase' AND ts_us > t2 GROUP BY 1),
          |a AS (SELECT 'view_to_click' AS step, count(*) AS n_users,
          |        CAST(sum(t2 - t1) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_us,
          |        CAST(CAST(quantile_cont(t2 - t1, 0.5) AS DECIMAL(18,1)) AS DOUBLE) AS p50_us,
          |        CAST(CAST(quantile_cont(t2 - t1, 0.9) AS DECIMAL(18,1)) AS DOUBLE) AS p90_us
          |      FROM s1 JOIN s2 USING (user_id)),
          |b AS (SELECT 'click_to_purchase' AS step, count(*) AS n_users,
          |        CAST(sum(t3 - t2) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_us,
          |        CAST(CAST(quantile_cont(t3 - t2, 0.5) AS DECIMAL(18,1)) AS DOUBLE) AS p50_us,
          |        CAST(CAST(quantile_cont(t3 - t2, 0.9) AS DECIMAL(18,1)) AS DOUBLE) AS p90_us
          |      FROM s2 JOIN s3 USING (user_id)),
          |c AS (SELECT 'view_to_purchase' AS step, count(*) AS n_users,
          |        CAST(sum(t3 - t1) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_us,
          |        CAST(CAST(quantile_cont(t3 - t1, 0.5) AS DECIMAL(18,1)) AS DOUBLE) AS p50_us,
          |        CAST(CAST(quantile_cont(t3 - t1, 0.9) AS DECIMAL(18,1)) AS DOUBLE) AS p90_us
          |      FROM s1 JOIN s3 USING (user_id))
          |SELECT * FROM a UNION ALL SELECT * FROM b UNION ALL SELECT * FROM c
          |ORDER BY step""".stripMargin)),
    GraftQuery("q_markov_stationary",
      "stationary distribution of the event-type Markov chain (6 unrolled exact-integer power iterations)",
      (s, dir) => markovStationary(s, dir),
      Some(markovOracleSql())),
    GraftQuery("q_event_gaps",
      "per-event inter-arrival micros since the user's previous event (lag window; O(1)-state streaming twin)",
      (s, dir) => eventGaps(load(s, dir, "events")),
      Some(
        """WITH g AS (
          |  SELECT user_id, event_id,
          |         epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
          |           PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
          |  FROM events)
          |SELECT user_id, event_id, CAST(gap_us AS BIGINT) AS gap_us
          |FROM g WHERE gap_us IS NOT NULL
          |ORDER BY user_id, event_id""".stripMargin)),
    GraftQuery("q_user_paths",
      "top onboarding paths: first-3-event-type sequences per user, counted (bounded path domain)",
      (s, dir) => userPaths(load(s, dir, "events")),
      Some(
        """WITH r AS (
          |  SELECT user_id, event_type,
          |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          |  FROM events),
          |p AS (
          |  SELECT user_id,
          |         concat_ws('>', max(CASE WHEN rn = 1 THEN event_type END),
          |                        max(CASE WHEN rn = 2 THEN event_type END),
          |                        max(CASE WHEN rn = 3 THEN event_type END)) AS path
          |  FROM r WHERE rn <= 3 GROUP BY user_id)
          |SELECT path, count(*) AS n_users
          |FROM p GROUP BY path ORDER BY n_users DESC, path""".stripMargin)),
    GraftQuery("q_streaks",
      "longest consecutive-active-day streak per user (gaps-and-islands via day minus row_number)",
      (s, dir) => activityStreaks(load(s, dir, "events")),
      Some(
        """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
          |i AS (SELECT user_id, day,
          |        day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INT) AS island
          |      FROM days),
          |g AS (SELECT user_id, island, count(*) AS len FROM i GROUP BY 1, 2)
          |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
          |       CAST(max(len) AS BIGINT) AS longest_streak
          |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin)),
    GraftQuery("q_cusum_user",
      "per-user CUSUM monitoring vs a trained baseline (mu=50, slack=15): closed-form cum - running-min, integer micro-units",
      (s, dir) => eventCusum(load(s, dir, "events"), 50000000L, 15000000L),
      Some(
        """WITH z AS (
          |  SELECT user_id, event_id, ts,
          |         CAST(floor(value * 1000000 + 0.5) AS BIGINT) - 50000000 - 15000000 AS z
          |  FROM events),
          |c AS (
          |  SELECT user_id, event_id, ts,
          |         CAST(sum(z) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
          |  FROM z),
          |r AS (
          |  SELECT user_id, event_id, cum,
          |         least(CAST(0 AS BIGINT),
          |               CAST(min(cum) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)) AS runmin
          |  FROM c)
          |SELECT user_id, event_id, cum - runmin AS cusum_units,
          |       CAST(cum - runmin > 120000000 AS INT) AS alarm
          |FROM r ORDER BY user_id, event_id""".stripMargin)),
    GraftQuery("q_abtest",
      "two-proportion A/B z-test: deterministic hash arms, high-value-purchase conversion, pooled z from exact counts",
      (s, dir) => abTest(load(s, dir, "events")),
      Some(
        """WITH u AS (
          |  SELECT user_id,
          |         CAST(max(CAST(event_type = 'purchase' AND value > 250 AS BIGINT)) AS BIGINT) AS conv,
          |         ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 25, 8))::BIGINT % 2 AS arm
          |  FROM events GROUP BY user_id),
          |s AS (
          |  SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
          |         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
          |         CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
          |         CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b
          |  FROM u)
          |SELECT n_a, n_b, conv_a, conv_b,
          |       CAST(conv_a AS DOUBLE) / nullif(CAST(n_a AS DOUBLE), 0.0) AS p_a,
          |       CAST(conv_b AS DOUBLE) / nullif(CAST(n_b AS DOUBLE), 0.0) AS p_b,
          |       (CAST(conv_a AS DOUBLE) / nullif(CAST(n_a AS DOUBLE), 0.0) - CAST(conv_b AS DOUBLE) / nullif(CAST(n_b AS DOUBLE), 0.0)) /
          |       nullif(sqrt(greatest((CAST(conv_a AS DOUBLE) + CAST(conv_b AS DOUBLE)) / nullif(CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE), 0.0) *
          |            (1.0 - (CAST(conv_a AS DOUBLE) + CAST(conv_b AS DOUBLE)) / nullif(CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE), 0.0)) *
          |            (1.0 / nullif(CAST(n_a AS DOUBLE), 0.0) + 1.0 / nullif(CAST(n_b AS DOUBLE), 0.0)), 0.0)), 0.0) AS z
          |FROM s ORDER BY n_a""".stripMargin)),
    GraftQuery("q_funnel", "strictly-ordered view->click->purchase funnel: earliest-completion reach counts + step conversion rates",
      funnel,
      Some(
        """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
          |s1 AS (SELECT user_id, min(ts_us) AS t1 FROM ev WHERE event_type = 'view' GROUP BY 1),
          |s2 AS (SELECT ev.user_id, min(ts_us) AS t2 FROM ev JOIN s1 USING (user_id)
          |       WHERE event_type = 'click' AND ts_us > t1 GROUP BY 1),
          |s3 AS (SELECT ev.user_id, min(ts_us) AS t3 FROM ev JOIN s2 USING (user_id)
          |       WHERE event_type = 'purchase' AND ts_us > t2 GROUP BY 1),
          |n AS (SELECT (SELECT count(*) FROM s1) AS n1,
          |             (SELECT count(*) FROM s2) AS n2,
          |             (SELECT count(*) FROM s3) AS n3)
          |SELECT 1 AS step, 'view' AS event_type, n1 AS n_users, 1.0 AS conv_rate FROM n
          |UNION ALL
          |SELECT 2, 'click', n2,
          |       CASE WHEN n1 = 0 THEN 0.0 ELSE CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE) END FROM n
          |UNION ALL
          |SELECT 3, 'purchase', n3,
          |       CASE WHEN n2 = 0 THEN 0.0 ELSE CAST(n3 AS DOUBLE) / CAST(n2 AS DOUBLE) END FROM n
          |ORDER BY step""".stripMargin)),
    GraftQuery("q_retention_cohorts", "weekly cohort retention triangle: first-event cohorts x week offsets with exact counts",
      retentionCohorts,
      Some(
        """WITH ev AS (
          |  SELECT user_id,
          |         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS BIGINT) AS week
          |  FROM events),
          |cohort AS (SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY 1),
          |cs AS (SELECT cohort_week, count(*) AS n_cohort FROM cohort GROUP BY 1),
          |active AS (SELECT DISTINCT user_id, week FROM ev),
          |cells AS (
          |  SELECT c.cohort_week, a.week - c.cohort_week AS week_offset,
          |         count(*) AS n_active
          |  FROM active a JOIN cohort c USING (user_id)
          |  GROUP BY 1, 2)
          |SELECT cells.cohort_week, cells.week_offset, cells.n_active, cs.n_cohort,
          |       CAST(cells.n_active AS DOUBLE) / CAST(cs.n_cohort AS DOUBLE) AS retention_rate
          |FROM cells JOIN cs USING (cohort_week)
          |ORDER BY cohort_week, week_offset""".stripMargin)),
    GraftQuery("q_mode", "deterministic mode: struct-max argmax with pinned tie-break",
      modeType,
      Some(
        """WITH c AS (SELECT user_id, coalesce(event_type, '') AS et, count(*) AS c
          |           FROM events GROUP BY user_id, coalesce(event_type, ''))
          |SELECT user_id,
          |       (max({'c': c, 'et': et})).et AS mode_type,
          |       (max({'c': c, 'et': et})).c AS mode_cnt
          |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin)),
    GraftQuery("q_session_stats", "session-grain rollup: per (user, session) event count + exact duration",
      sessionStats,
      Some(
        """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
          |w AS (SELECT user_id, event_id, ts_us,
          |             lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us NULLS FIRST, event_id NULLS FIRST) AS prev_us
          |      FROM e),
          |lab AS (SELECT user_id, ts_us,
          |               CAST(sum(CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END)
          |                    OVER (PARTITION BY user_id ORDER BY ts_us NULLS FIRST, event_id NULLS FIRST
          |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
          |        FROM w)
          |SELECT user_id, session_seq, count(*) AS n_events,
          |       max(ts_us) - min(ts_us) AS duration_us
          |FROM lab GROUP BY user_id, session_seq
          |ORDER BY user_id, session_seq""".stripMargin)),
    GraftQuery("q_concurrency", "concurrent-session sweep line: boundary deltas per distinct instant + global running count (two-pass prefix sum, no single-partition window)",
      concurrencyProfile,
      Some(
        """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
          |w AS (SELECT user_id, event_id, ts_us,
          |             lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us NULLS FIRST, event_id NULLS FIRST) AS prev_us
          |      FROM e),
          |lab AS (SELECT user_id, ts_us,
          |               CAST(sum(CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END)
          |                    OVER (PARTITION BY user_id ORDER BY ts_us NULLS FIRST, event_id NULLS FIRST
          |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
          |        FROM w),
          |sess AS (SELECT user_id, session_seq, min(ts_us) AS start_us, max(ts_us) AS end_us
          |         FROM lab GROUP BY 1, 2),
          |d AS (SELECT ts_us, CAST(sum(d) AS BIGINT) AS net_delta FROM (
          |        SELECT start_us AS ts_us, 1 AS d FROM sess
          |        UNION ALL
          |        SELECT end_us + 1, -1 FROM sess)
          |      GROUP BY 1)
          |SELECT ts_us, net_delta,
          |       CAST(sum(net_delta) OVER (ORDER BY ts_us
          |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS concurrency
          |FROM d ORDER BY ts_us""".stripMargin)),
    GraftQuery("q_moving_window", "trailing 30-min RANGE-frame aggregate per user (exact micros + cents)",
      movingWindow,
      Some(
        """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
          |                  CAST(trunc(value * 100) AS BIGINT) AS cents FROM events)
          |SELECT user_id, event_id,
          |       count(*) OVER fr AS cnt_30m,
          |       CAST(sum(cents) OVER fr AS BIGINT) AS cents_30m
          |FROM e
          |WINDOW fr AS (PARTITION BY user_id ORDER BY ts_us
          |              RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW)
          |ORDER BY user_id, event_id""".stripMargin)),
    GraftQuery("q_sessionize", "per-user session labeling: 30-min-gap flag + running sum over (user, time) window",
      sessionize,
      Some(
        """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
          |w AS (SELECT user_id, event_id, ts_us,
          |             lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us NULLS FIRST, event_id NULLS FIRST) AS prev_us
          |      FROM e)
          |SELECT user_id, event_id,
          |       CAST(sum(CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END)
          |            OVER (PARTITION BY user_id ORDER BY ts_us NULLS FIRST, event_id NULLS FIRST
          |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
          |FROM w ORDER BY user_id, event_id""".stripMargin)),
    GraftQuery("q_transition_matrix",
      "first-order event-type transition matrix: per (prev, next) counts, out-degree, probability (Markov journey view)",
      transitionMatrix,
      Some(
        """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events),
          |tr AS (
          |  SELECT event_type AS next_type,
          |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us NULLS FIRST, event_id NULLS FIRST) AS prev_type
          |  FROM e),
          |c AS (SELECT prev_type, next_type, count(*) AS n
          |      FROM tr WHERE prev_type IS NOT NULL GROUP BY 1, 2),
          |o AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS out_n FROM c GROUP BY 1)
          |SELECT c.prev_type, c.next_type, c.n, o.out_n,
          |       CAST(c.n AS DOUBLE) / CAST(o.out_n AS DOUBLE) AS prob
          |FROM c JOIN o USING (prev_type)
          |ORDER BY prev_type, next_type""".stripMargin)),
    GraftQuery("q_gap_fill", "per-key daily resample: zero-filled counts + forward-filled last event type",
      gapFillDaily,
      Some(
        """WITH daily AS (
          |  SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n_events,
          |         (max({'ts': ts, 'eid': event_id, 'et': event_type})).et AS day_last_type
          |  FROM events GROUP BY 1, 2),
          |span AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
          |days AS (SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day FROM span)
          |SELECT d.user_id, strftime(d.day, '%Y-%m-%d') AS day,
          |       coalesce(daily.n_events, 0) AS n_events,
          |       last_value(daily.day_last_type IGNORE NULLS) OVER
          |         (PARTITION BY d.user_id ORDER BY d.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_type
          |FROM days d LEFT JOIN daily ON daily.user_id = d.user_id AND daily.day = d.day
          |ORDER BY d.user_id, day""".stripMargin)),
    GraftQuery("q_tumbling_window_agg", "tumbling 1h event-time windows (batch twin of streaming agg)",
      tumblingAgg,
      Some(
        """SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
          |       event_type, count(*) AS n_events,
          |       CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
          |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin)),
    GraftQuery("q_sliding_window_agg", "sliding 1h/30min event-time windows",
      slidingAgg,
      // every event lands in exactly 2 sliding windows: the 30-min bucket
      // containing it, and that bucket minus 30 min
      Some(
        """WITH offs AS (SELECT 0 AS o UNION ALL SELECT 1)
          |SELECT strftime(time_bucket(INTERVAL 30 MINUTE, ts) - (INTERVAL 30 MINUTE * o), '%Y-%m-%d %H:%M:%S') AS window_start,
          |       event_type, count(*) AS n_events
          |FROM events CROSS JOIN offs
          |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin)),
    GraftQuery("q_attribution_join", "click->purchase interval join (batch twin of the stream-stream join)",
      attributionJoin,
      Some(
        """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
          |       strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
          |       strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
          |       p.value AS value
          |FROM events c JOIN events p
          |  ON c.user_id = p.user_id
          | AND c.event_type = 'click' AND p.event_type = 'purchase'
          | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
          |ORDER BY c.user_id, click_id, purchase_id""".stripMargin)),
    GraftQuery("q_json_funcs", "JSON path extraction + typed parse over the props column",
      jsonFuncs,
      Some(
        """SELECT event_id,
          |       json_extract_string(props, '$.k') AS k_str,
          |       CAST(json_extract(props, '$.k') AS INTEGER) AS k_int,
          |       CAST(json_extract(props, '$.k') AS INTEGER) AS k_typed,
          |       json_extract(props, '$.missing') IS NULL AS missing_is_null
          |FROM events ORDER BY event_id""".stripMargin)),
    GraftQuery("q_session_window_agg", "per-user session windows, 30-min gap (batch twin of streaming sessions)",
      sessionAgg,
      Some(
        """WITH marked AS (
          |  SELECT user_id, ts, value,
          |         CASE WHEN lag(ts) OVER w IS NULL
          |                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
          |              THEN 1 ELSE 0 END AS new_s
          |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
          |), sess AS (
          |  SELECT user_id, ts, value,
          |         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
          |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          |  FROM marked
          |)
          |SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
          |       count(*) AS n_events,
          |       CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
          |FROM sess GROUP BY user_id, sid
          |ORDER BY user_id, session_start""".stripMargin)),
    GraftQuery("q_user_event_stats", "per-user event stats (partial/final agg)",
      userStats,
      Some(
        """SELECT user_id, count(*) AS n_events,
          |       count(DISTINCT event_type) AS n_types,
          |       CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value,
          |       max(value) AS max_value
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),
  )
}
