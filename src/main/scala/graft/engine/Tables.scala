package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Named-table loading, mirroring the reference's view registry
  * (k8s/codes/transformation.py:30-37 registers each parquet directory
  * under a bare name from k8s/codes/variables.py:5-14).
  *
  * Here the catalog is the driver testdata directory: one parquet file
  * per table stem. Loaders are plain `spark.read.parquet` so Catalyst
  * keeps full pushdown/pruning freedom — no caching, no materialization.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The one table loader every query module reads its inputs with
    * (`import graft.engine.Tables.load`). It does not tune the session:
    * the caller's session already carries [[GraftSession.tuned]]'s
    * contract (applied where a session enters the library).
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    // events.ts normalizes to session-zoned TIMESTAMP (micros) whatever
    // physical type the generator wrote — the fixture schema has changed
    // across driver rounds: parquet TIMESTAMP(NANOS) surfaces as
    // nanos-since-epoch long (GraftSession sets nanosAsLong; truncate to
    // micros, exactly what DuckDB does reading the same file), while
    // TIMESTAMP(MICROS isAdjustedToUTC=false) surfaces as TIMESTAMP_NTZ
    // (cast reinterprets in the session's pinned UTC — same instants).
    if (name == "events") normalizeEventTs(df) else df
  }

  /** ONE definition of the events.ts physical-type adaptation (shared
    * with the streaming source, which reads the parquet directly).
    */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }

  /** Register every testdata table as a temp view (reference pattern:
    * createOrReplaceTempView per table, then SQL against bare names).
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
