package graft.engine

import org.apache.spark.sql.SparkSession

/** Session semantics shared by every graft query.
  *
  * The reference pipeline ran Spark 3.1.2 (EMR 6.5.0,
  * k8s/dags/etl_aws_vini.py:81) where casts are lenient: `cast('N/A' as
  * int)` yields NULL instead of throwing. Its all-string CSV ingest +
  * explicit-CAST curated query (k8s/codes/variables.py:26-60) depends on
  * that. Spark 4.x defaults `spark.sql.ansi.enabled=true`, so [[tuned]]
  * pins the lenient semantics, UTC, and AQE (mirroring
  * k8s/codes/transformation.py:57-75 at the semantic level only —
  * executor elasticity confs are a cluster-profile concern, not session
  * semantics).
  *
  * Like the reference, which sets its session semantics once where it
  * builds the session, the contract is applied only where a session
  * enters the library — five places:
  *   - `GraftQuery.build`, for every Catalog key, whoever builds it;
  *   - `CsvToParquet.readCsvAllString`;
  *   - `CuratedQuery.transform`;
  *   - `TrainingPipeline.run` and `TrainingPipeline.streamingIngest`.
  * Everything below them (query builders, `Tables.load`, the operator
  * functions) runs on a session that already carries it.
  */
object GraftSession {

  /** Runtime confs that graft semantics depend on. Safe to set repeatedly. */
  def tuned(spark: SparkSession): SparkSession = {
    val c = spark.conf
    c.set("spark.sql.ansi.enabled", "false") // lenient casts: NULL, not throw
    c.set("spark.sql.session.timeZone", "UTC") // date parse/format parity
    c.set("spark.sql.adaptive.enabled", "true")
    // events.parquet carries TIMESTAMP(NANOS) which Spark has no native
    // type for; read as long and let Tables.load convert to micros.
    c.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    c.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    c.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // At 100 TB the build side of a dim join must still broadcast; 32 MB
    // keeps all TPC-H-ish dims broadcastable without risking driver OOM.
    c.set("spark.sql.autoBroadcastJoinThreshold", (32L * 1024 * 1024).toString)
    // Recursive CTEs (GraphOps.reachPaths): depth-3 path enumeration on
    // the decade fixtures exceeds the 1M-row default runaway guard. Set
    // HERE — the documented session contract — rather than mutated ad
    // hoc inside one query builder.
    c.set("spark.sql.cteRecursionRowLimit", "20000000")
    graft.functions.HashExprs.register(spark)
    // session-level twin of GraftExtensions.injectOptimizerRule (the
    // extensions path only applies at builder time); idempotent
    if (!spark.experimental.extraOptimizations.contains(graft.plans.JaccardRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.JaccardRewrite
    spark
  }
}
