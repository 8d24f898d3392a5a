package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftQuery
import graft.engine.Tables.load

/** Typed top-k via a custom `Aggregator[IN, BUF, OUT]` — the scale
  * alternative to the `row_number()` window (SURVEY §2.11).
  *
  * Why it matters at 100 TB: the window formulation shuffles EVERY row to
  * its group and sort-buffers whole groups; this aggregator keeps a
  * bounded k-element buffer per group on the map side (partial
  * aggregation), so the shuffle carries at most k rows per group per
  * partition. Same result set as the window query — the driver gate
  * checks it against the identical oracle.
  */
object TopK {

  final case class CustRow(c_mktsegment: String, c_custkey: Long,
      c_name: String, acctbal_raw: Double, acctbal: Double)

  /** Keep the k largest by (raw acctbal desc, c_custkey asc) — the RAW
    * value ranks (matching the window/oracle ORDER BY); the rounded one
    * is the projected output. The buffer INVARIANT is "sorted, ≤ k
    * rows": `reduce` rejects a non-qualifying row in O(1) (the common
    * case once the buffer is full — this is what makes the map side
    * cheap) and otherwise inserts at its sorted position in O(k); only
    * `merge`/`finish` (per partial buffer, not per row) re-sort.
    */
  final class TopKCustomers(k: Int) extends Aggregator[CustRow, Seq[CustRow], Seq[CustRow]] {
    private val ord: Ordering[CustRow] =
      Ordering.by((r: CustRow) => (-r.acctbal_raw, r.c_custkey))
    private def best(xs: Seq[CustRow]): Seq[CustRow] = xs.sorted(ord).take(k)
    override def zero: Seq[CustRow] = Seq.empty
    override def reduce(b: Seq[CustRow], a: CustRow): Seq[CustRow] =
      if (b.size >= k && ord.gteq(a, b.last)) b
      else {
        val i = b.indexWhere(r => ord.lt(a, r))
        val (pre, post) = if (i < 0) (b, Seq.empty) else b.splitAt(i)
        ((pre :+ a) ++ post).take(k)
      }
    override def merge(b1: Seq[CustRow], b2: Seq[CustRow]): Seq[CustRow] = best(b1 ++ b2)
    override def finish(r: Seq[CustRow]): Seq[CustRow] = r
    override def bufferEncoder: Encoder[Seq[CustRow]] = Encoders.kryo[Seq[CustRow]]
    override def outputEncoder: Encoder[Seq[CustRow]] = Encoders.kryo[Seq[CustRow]]
  }

  /** Same rows as WindowOps.topkWindow, computed with the bounded-buffer
    * aggregator instead of a window sort.
    */
  def topkAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = 5
    val ds = load(s, dir, "customer")
      .select(
        col("c_mktsegment"), col("c_custkey"), col("c_name"),
        col("c_acctbal").as("acctbal_raw"),
        col("c_acctbal").cast(DecimalType(12, 2)).cast(DoubleType).as("acctbal"))
      .as[CustRow]
    ds.groupByKey(_.c_mktsegment)
      .agg(new TopKCustomers(k).toColumn.name("topk"))
      .flatMap { case (seg, rows) =>
        rows.zipWithIndex.map { case (r, i) =>
          (seg, i + 1, r.c_custkey, r.c_name, r.acctbal)
        }
      }
      .toDF("c_mktsegment", "rn", "c_custkey", "c_name", "acctbal")
      .orderBy("c_mktsegment", "rn")
  }

  /** 2-D skyline (Pareto frontier): parts no other part dominates,
    * where p' dominates p iff p' is no pricier AND no smaller, strictly
    * better in at least one (minimize retail price, maximize size) —
    * the multi-objective generalization of top-k (Börzsönyi et al.
    * 2001, "The Skyline Operator").
    *
    * Two-phase plan, never O(n²): phase 1 buckets prices into
    * `buckets` fixed-width cells from a broadcast 1-row min/max, takes
    * the per-bucket max size (bounded aggregate), and running-maxes it
    * over STRICTLY earlier buckets — any row at or below its bucket's
    * prevmax is dominated by a strictly cheaper row and drops before
    * any global ordering exists. Phase 2 runs the exact dominance
    * windows (strictly-cheaper running max via a RANGE frame, same-
    * price tie max) over the surviving candidates only. The pruning is
    * sound: dropping needs a strictly-cheaper ≥-size witness, and a
    * dropped witness is itself dominated by a transitively surviving
    * one.
    *
    * 100 TB design: the corpus passes once through the bounded bucket
    * census; the global-order window touches only survivors, whose
    * count is the frontier size plus in-bucket strays — and ANY
    * correct skyline is Ω(frontier). Anti-correlated worst cases where
    * the frontier IS the corpus are inherent to the operator, not the
    * plan; the spec pins both the planted-frontier geometry and
    * brute-force parity.
    */
  def skyline(parts: DataFrame, buckets: Int = 64): DataFrame = {
    val base = parts.select(
      col("p_partkey"), col("p_retailprice"),
      col("p_size").cast("long").as("size"),
      floor(col("p_retailprice") * 100 + 0.5).cast("long").as("price_cents"))
    val rng = base.agg(min("price_cents").as("lo"), max("price_cents").as("hi"))
    val b = base.crossJoin(broadcast(rng))
      .withColumn("bucket",
        ((col("price_cents") - col("lo")) * buckets /
          (col("hi") - col("lo") + 1)).cast("long"))
    val wB = org.apache.spark.sql.expressions.Window
      .orderBy("bucket")
      .rowsBetween(Long.MinValue, -1)
    val prevMax = b.groupBy("bucket").agg(max("size").as("bmax"))
      .withColumn("prevmax", max(col("bmax")).over(wB))
      .select("bucket", "prevmax")
    val surv = b.join(broadcast(prevMax), Seq("bucket"))
      .filter(col("prevmax").isNull || col("size") > col("prevmax"))
    val wPrice = org.apache.spark.sql.expressions.Window
      .orderBy("price_cents")
      .rangeBetween(Long.MinValue, -1)
    val wTie = org.apache.spark.sql.expressions.Window
      .partitionBy("price_cents")
    surv
      .withColumn("m1", max(col("size")).over(wPrice))
      .withColumn("m2", max(col("size")).over(wTie))
      .filter((col("m1").isNull || col("size") > col("m1")) &&
        col("size") === col("m2"))
      .select(col("p_partkey"), col("p_retailprice"), col("size").as("p_size"))
      .orderBy("p_partkey")
  }

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q_skyline",
      "2-D Pareto frontier (min price, max size): bucket-prefilter + exact dominance windows over survivors only",
      (s, dir) => skyline(load(s, dir, "part")),
      Some(
        """WITH base AS (
          |  SELECT p_partkey, p_retailprice, CAST(p_size AS BIGINT) AS size,
          |         CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS pc
          |  FROM part),
          |m AS (
          |  SELECT p_partkey, p_retailprice, size,
          |         max(size) OVER (ORDER BY pc RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m1,
          |         max(size) OVER (PARTITION BY pc) AS m2
          |  FROM base)
          |SELECT p_partkey, p_retailprice, size AS p_size
          |FROM m WHERE (m1 IS NULL OR size > m1) AND size = m2
          |ORDER BY p_partkey""".stripMargin)),
    GraftQuery("q_topk_agg", "typed bounded-buffer top-k Aggregator (scale twin of q_topk_window)",
      topkAgg,
      Some(
        """SELECT c_mktsegment, rn, c_custkey, c_name, acctbal FROM (
          |  SELECT c_mktsegment, c_custkey, c_name,
          |         CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS acctbal,
          |         CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS rn
          |  FROM customer
          |) WHERE rn <= 5 ORDER BY c_mktsegment, rn""".stripMargin)),
  )
}
