package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * All queries live in [[Catalog]]; this object just adapts them to the
  * driver's shape.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's curated query shape (k8s/codes/variables.py:18-89):
    * 3-way UNION ALL + five-way left-outer join chain + casts/NVL.
    * Built through the Catalog, so a plain session gets the graft
    * session contract like every other key.
    */
  def entry(spark: SparkSession): DataFrame =
    Catalog.byName("q_join_chain").build(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2.
    * Routed through [[Catalog.byName]] (not a bare `.toMap`): a
    * duplicate query name must FAIL loudly here — last-wins map
    * semantics would silently drop one of the twins from the
    * correctness gate and the bench.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Catalog.byName.map { case (n, q) => n -> (q.build _) }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a rows-only check.
    */
  def oracleSql: Map[String, String] =
    Catalog.byName.flatMap { case (n, q) => q.oracle.map(n -> _) }

  /** Dev-loop query filter shared by Bench and Verify: parse
    * `SPARK_GRAFT_ONLY=q_a, q_b` (whitespace-tolerant); None ⇒ run all.
    */
  def onlyFilter: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
}
