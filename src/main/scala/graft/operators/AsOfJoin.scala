package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.engine.Tables.load

/** As-of join — for each left row, the single right row with the
  * greatest right.ts ≤ left.ts within the same key. Spark has no
  * builtin; per the operator preference order this is tier (a):
  * COMPOSED from builtins rather than a custom SparkPlan, because the
  * composition is already optimal —
  *
  *   tag sides → positional union → one window per key ordered by
  *   (ts, side) with last(payload, ignoreNulls) over an unbounded-to-
  *   current frame → keep left rows.
  *
  * That is ONE shuffle (the window partitioning), no join at all, and
  * whole-stage codegen throughout — a custom physical operator could
  * not do less work. Right rows sort BEFORE left rows at equal ts
  * (side 0 < 1), so `right.ts == left.ts` matches, mirroring the `<=`
  * of DuckDB's native ASOF JOIN, which serves as the oracle.
  *
  * Scale note: per-key windows do not AQE-split a skewed key; for a
  * pathological hot key, pre-bucket by time range before the window
  * (same pattern as the dedup bucket caps).
  */
object AsOfJoin {

  /** Generic composition. `payload` names right columns to carry onto
    * each left row (emitted as `asof_<name>`, null when no prior right
    * row exists). `right` must be unique per (key, ts) — dedup first if
    * not (ties would be nondeterministic in ANY as-of engine).
    */
  def asOfJoinLast(left: DataFrame, right: DataFrame, key: String, ts: String,
      payload: Seq[String], prefix: String = "asof_"): DataFrame = {
    val carryCols = left.columns.toSeq.filterNot(c => c == key || c == ts)
    // payload travels as ONE struct so last(..., ignoreNulls) picks the
    // matched right row ATOMICALLY — per-column last() would mix fields
    // from different right rows whenever the latest row has a NULL field
    val lSide = left.select(
      Seq(col(key), col(ts), lit(1).as("__side"),
        lit(null).cast(org.apache.spark.sql.types.StructType(
          payload.map(p => org.apache.spark.sql.types.StructField(p, right.schema(p).dataType))))
          .as("__payload")) ++
        carryCols.map(col): _*)
    val rSide = right.select(
      Seq(col(key), col(ts), lit(0).as("__side"),
        struct(payload.map(col): _*).as("__payload")) ++
        carryCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    val w = Window.partitionBy(col(key))
      .orderBy(col(ts), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lSide.union(rSide)
      .select(
        Seq(col(key), col(ts), col("__side"),
          last(col("__payload"), ignoreNulls = true).over(w).as("__matched")) ++
          carryCols.map(col): _*)
      .where(col("__side") === 1)
      .select(
        Seq(col(key), col(ts)) ++ carryCols.map(col) ++
          payload.map(p => col(s"__matched.$p").as(s"$prefix$p")): _*)
  }

  /** FORWARD as-of: for each left row, the single right row with the
    * SMALLEST right.ts ≥ left.ts within the key (pandas merge_asof
    * direction='forward'). Same one-shuffle union+window composition,
    * mirrored: left rows sort BEFORE right rows at equal ts (side
    * 0 < 1) and `first(payload, ignoreNulls)` looks over a
    * current-to-unbounded-FOLLOWING frame, so an equal-ts right row
    * still matches (the ≥ semantics of DuckDB's forward ASOF oracle).
    */
  def asOfJoinNext(left: DataFrame, right: DataFrame, key: String, ts: String,
      payload: Seq[String], prefix: String = "asof_"): DataFrame = {
    val carryCols = left.columns.toSeq.filterNot(c => c == key || c == ts)
    val lSide = left.select(
      Seq(col(key), col(ts), lit(0).as("__side"),
        lit(null).cast(org.apache.spark.sql.types.StructType(
          payload.map(p => org.apache.spark.sql.types.StructField(p, right.schema(p).dataType))))
          .as("__payload")) ++
        carryCols.map(col): _*)
    val rSide = right.select(
      Seq(col(key), col(ts), lit(1).as("__side"),
        struct(payload.map(col): _*).as("__payload")) ++
        carryCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    val w = Window.partitionBy(col(key))
      .orderBy(col(ts), col("__side"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    lSide.union(rSide)
      .select(
        Seq(col(key), col(ts), col("__side"),
          first(col("__payload"), ignoreNulls = true).over(w).as("__matched")) ++
          carryCols.map(col): _*)
      .where(col("__side") === 0)
      .select(
        Seq(col(key), col(ts)) ++ carryCols.map(col) ++
          payload.map(p => col(s"__matched.$p").as(s"$prefix$p")): _*)
  }

  /** q_asof_join: each click joined to the user's latest purchase at or
    * before the click. Purchases are deduped to one per (user, ts)
    * (max event_id) so the as-of choice is total on both engines.
    */
  def asofQuery(s: SparkSession, dir: String): DataFrame = {
    val ev = load(s, dir, "events")
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
    val purchases = ev.where(col("event_type") === "purchase")
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id", "ts").orderBy(col("event_id").desc)))
      .where(col("rn") === 1)
      .select(col("user_id"), col("ts"), col("value"))
    asOfJoinLast(clicks, purchases, "user_id", "ts", Seq("ts", "value"))
      .select(
        col("click_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("click_ts"),
        date_format(col("asof_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("last_purchase_ts"),
        col("asof_value").as("last_purchase_value"))
      .orderBy("click_id")
  }

  /** q_asof_join_forward: each click joined to the user's NEXT purchase
    * at or after the click — time-to-conversion analytics.
    */
  def asofForwardQuery(s: SparkSession, dir: String): DataFrame = {
    val ev = load(s, dir, "events")
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
    val purchases = ev.where(col("event_type") === "purchase")
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id", "ts").orderBy(col("event_id").desc)))
      .where(col("rn") === 1)
      .select(col("user_id"), col("ts"), col("value"))
    asOfJoinNext(clicks, purchases, "user_id", "ts", Seq("ts", "value"))
      .select(
        col("click_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("click_ts"),
        date_format(col("asof_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("next_purchase_ts"),
        col("asof_value").as("next_purchase_value"))
      .orderBy("click_id")
  }

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q_asof_join_forward", "forward as-of join (next right row at-or-after): union+window mirror, one shuffle, no join",
      asofForwardQuery,
      Some(
        """WITH p AS (
          |  SELECT user_id, ts, value,
          |         row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
          |  FROM events WHERE event_type = 'purchase'
          |), pp AS (SELECT user_id, ts, value FROM p WHERE rn = 1),
          |c AS (SELECT event_id AS click_id, user_id, ts FROM events WHERE event_type = 'click')
          |SELECT c.click_id, c.user_id,
          |       strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
          |       strftime(pp.ts, '%Y-%m-%d %H:%M:%S.%f') AS next_purchase_ts,
          |       pp.value AS next_purchase_value
          |FROM c ASOF LEFT JOIN pp ON c.user_id = pp.user_id AND pp.ts >= c.ts
          |ORDER BY click_id""".stripMargin)),
    GraftQuery("q_asof_join", "as-of join composed from union+window (one shuffle, no join)",
      asofQuery,
      Some(
        """WITH p AS (
          |  SELECT user_id, ts, value,
          |         row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
          |  FROM events WHERE event_type = 'purchase'
          |), pp AS (SELECT user_id, ts, value FROM p WHERE rn = 1),
          |c AS (SELECT event_id AS click_id, user_id, ts FROM events WHERE event_type = 'click')
          |SELECT c.click_id, c.user_id,
          |       strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
          |       strftime(pp.ts, '%Y-%m-%d %H:%M:%S.%f') AS last_purchase_ts,
          |       pp.value AS last_purchase_value
          |FROM c ASOF LEFT JOIN pp ON c.user_id = pp.user_id AND pp.ts <= c.ts
          |ORDER BY click_id""".stripMargin)),
  )
}
