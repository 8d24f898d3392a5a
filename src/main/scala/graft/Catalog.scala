package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.GraftSession

/** One registrable operator demonstration.
  *
  * @param name   key in `SparkEntry.queries` (SURVEY.md §2 "Key" column)
  * @param doc    what it demonstrates + reference citation
  * @param builder (session, sfDir) => result, run by [[build]] on a
  *               session that already carries the graft contract; must
  *               be deterministic (explicit ORDER BY) when `oracle` is
  *               present
  * @param oracle DuckDB SQL over the same testdata tables producing the
  *               identical result (names, types, row order). None ⇒ the
  *               driver records a weaker rows-only check.
  */
final case class GraftQuery(
    name: String,
    doc: String,
    private val builder: (SparkSession, String) => DataFrame,
    oracle: Option[String]) {

  /** Build the query on `spark`: applies [[GraftSession.tuned]] first,
    * so every caller (Bench, Verify, the specs, any library user) gets
    * the same session semantics and graft_* functions.
    */
  def build(spark: SparkSession, sfDir: String): DataFrame =
    builder(GraftSession.tuned(spark), sfDir)
}

/** Aggregates every operator family's registrable queries. */
object Catalog {
  def all: Seq[GraftQuery] =
    graft.engine.CuratedQuery.queries ++
      graft.operators.RelationalOps.queries ++
      graft.operators.WindowOps.queries ++
      graft.operators.TopK.queries ++
      graft.operators.AsOfJoin.queries ++
      graft.operators.RangeJoin.queries ++
      graft.operators.ScaleOps.queries ++
      graft.functions.TextOps.queries ++
      graft.ext.Dedup.queries ++
      graft.ext.Cleaning.queries ++
      graft.ext.TrainingPrep.queries ++
      graft.ext.TimeSeries.queries ++
      graft.ext.RevenueOps.queries ++
      graft.ext.Similarity.queries ++
      graft.ext.GraphOps.queries ++
      graft.ext.MiningOps.queries ++
      graft.ext.WebOps.queries ++
      graft.ext.Multimodal.queries ++
      graft.streaming.EventOps.queries

  lazy val byName: Map[String, GraftQuery] = {
    val xs = all
    require(xs.map(_.name).distinct.size == xs.size, "duplicate query keys")
    xs.map(q => q.name -> q).toMap
  }
}
