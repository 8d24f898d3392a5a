package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.engine.Tables.load

/** Range (interval) join — left points joined to right intervals
  * containing them. Spark plans a raw inequality join as
  * BroadcastNestedLoop/cartesian, which detonates at scale, so this is
  * the classic bucketed composition:
  *
  *   explode each interval to the fixed-width time buckets it covers →
  *   EQUI-join points to buckets on (key, bucket) → residual
  *   `start <= ts <= end` filter.
  *
  * A point lives in exactly one bucket, so no pair appears twice and no
  * dedup pass is needed. Shuffle volume = points + interval×(covered
  * buckets), both linear; the equi-join gets hash/SMJ + AQE like any
  * other join. Bucket width trades explode factor against join
  * selectivity — set it near the typical interval length.
  */
object RangeJoin {

  /** Generic bucketed interval join on a shared `key`: returns left
    * rows × matching right rows (columns side by side; right's must not
    * collide with left's — alias first).
    */
  def rangeJoinBucketed(left: DataFrame, ts: String,
      right: DataFrame, start: String, end: String, key: String,
      bucketSeconds: Long): DataFrame = {
    val pts = left.withColumn("__bucket",
      floor(unix_timestamp(col(ts)) / bucketSeconds))
    val ivs = right.withColumn("__bucket", explode(sequence(
      floor(unix_timestamp(col(start)) / bucketSeconds),
      floor(unix_timestamp(col(end)) / bucketSeconds))))
    pts.join(ivs, Seq(key, "__bucket"))
      .where(col(ts) >= col(start) && col(ts) <= col(end))
      .drop("__bucket")
  }

  /** q_range_join: clicks attributed to any purchase of the same user in
    * the preceding 30 minutes (interval = [purchase, purchase+30min];
    * fan-out across overlapping windows is intended).
    */
  def rangeQuery(s: SparkSession, dir: String): DataFrame = {
    val ev = load(s, dir, "events")
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
    val windows = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("win_start"),
        (col("ts") + expr("INTERVAL 30 MINUTES")).as("win_end"))
    rangeJoinBucketed(clicks, "ts", windows, "win_start", "win_end",
        "user_id", bucketSeconds = 1800L)
      .select(col("click_id"), col("purchase_id"), col("user_id"))
      .orderBy("click_id", "purchase_id")
  }

  /** Interval-OVERLAP join (both sides are intervals; match iff
    * aStart ≤ bEnd ∧ bStart ≤ aEnd) — the second classic inequality
    * join Spark would otherwise plan as a nested loop. Both sides
    * explode to covered buckets and equi-join on (key, bucket); a pair
    * overlapping across k shared buckets would appear k times, so the
    * `bucket == max(startA, startB) bucket` predicate keeps exactly the
    * pair's FIRST shared bucket — one output row per pair with no
    * distinct/dedup shuffle. Shuffle volume stays linear in
    * intervals × covered buckets.
    */
  def intervalOverlapJoin(left: DataFrame, ls: String, le: String,
      right: DataFrame, rs: String, re: String, key: String,
      bucketSeconds: Long): DataFrame = {
    def bk(c: String) = floor(unix_timestamp(col(c)) / bucketSeconds)
    val l = left.withColumn("__bucket", explode(sequence(bk(ls), bk(le))))
    val r = right.withColumn("__bucket", explode(sequence(bk(rs), bk(re))))
    l.join(r, Seq(key, "__bucket"))
      .where(col(ls) <= col(re) && col(rs) <= col(le))
      .where(col("__bucket") === greatest(bk(ls), bk(rs)))
      .drop("__bucket")
  }

  /** q_interval_join: per user, purchase windows [ts, ts+30m] that
    * overlap click windows [ts, ts+10m] — window-vs-window attribution
    * (vs q_range_join's point-in-window).
    */
  def overlapQuery(s: SparkSession, dir: String): DataFrame = {
    val ev = load(s, dir, "events")
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("p_start"),
        (col("ts") + expr("INTERVAL 30 MINUTES")).as("p_end"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("c_start"),
        (col("ts") + expr("INTERVAL 10 MINUTES")).as("c_end"))
    intervalOverlapJoin(purchases, "p_start", "p_end",
        clicks, "c_start", "c_end", "user_id", bucketSeconds = 1800L)
      .select(col("purchase_id"), col("click_id"), col("user_id"))
      .orderBy("purchase_id", "click_id")
  }

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q_interval_join", "interval-overlap join: window-vs-window, one row per pair, no dedup shuffle",
      overlapQuery,
      Some(
        """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
          |FROM events p JOIN events c
          |  ON p.user_id = c.user_id
          | AND p.event_type = 'purchase' AND c.event_type = 'click'
          | AND p.ts <= c.ts + INTERVAL 10 MINUTE
          | AND c.ts <= p.ts + INTERVAL 30 MINUTE
          |ORDER BY purchase_id, click_id""".stripMargin)),
    GraftQuery("q_range_join", "bucketed interval join (points-in-windows, no cartesian)",
      rangeQuery,
      Some(
        """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
          |FROM events c JOIN events p
          |  ON c.user_id = p.user_id
          | AND c.event_type = 'click' AND p.event_type = 'purchase'
          | AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 30 MINUTE
          |ORDER BY click_id, purchase_id""".stripMargin)),
  )
}
