package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The spark.sql.extensions packaging must expose every graft_* function
  * in a fresh session with no GraftSession involvement.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  test("a session configured with graft.GraftExtensions resolves all graft_* functions") {
    // getOrCreate would hand back any existing session and skip new
    // config - clear, build fresh, restore after. withExtensions is the
    // in-process hook for the same class: the spark.sql.extensions STATIC
    // conf string is only honored when the SparkContext itself is fresh,
    // which a shared test JVM can't provide.
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .withExtensions(new GraftExtensions()(_))
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      // match GraftSession semantics: the JaccardRewrite guard only
      // rewrites non-ANSI Divide (Spark 4 defaults ANSI on)
      .config("spark.sql.ansi.enabled", "false")
      .getOrCreate()
    try {
      import s.implicits._
      val row = Seq(Tuple1(Seq("a", "b", "c", "d", "e")))
        .toDF("toks")
        .select(
          expr("graft_simhash64(toks)").as("sh"),
          expr("graft_minhash_sig(toks, 4)").as("mh"),
          expr("graft_shingle_hashes(toks, 2)").as("shg"),
          expr("graft_winnow(graft_shingle_hashes_all(toks, 2), 2)").as("win"))
        .head()
      assert(row.getLong(0) != 0L)
      assert(row.getSeq[Long](1).length == 4)
      assert(row.getSeq[Long](2).length == 4)
      assert(row.getSeq[Long](3).nonEmpty)

      val cos = Seq((Seq(1.0, 0.0), Seq(1.0, 0.0))).toDF("a", "b")
        .select(expr("graft_cosine(a, b)")).head().getDouble(0)
      assert(math.abs(cos - 1.0) < 1e-12)

      val norm = Seq(Tuple1("  A1!b2?  C  ")).toDF("t")
        .select(expr("graft_norm_text(t)")).head().getString(0)
      assert(norm == "a1 b2 c")

      val small = Seq(Tuple1("abcdefgh")).toDF("t")
        .select(expr("octet_length(graft_downsample(encode(t, 'UTF-8'), 4))"))
        .head().getInt(0)
      assert(small == 2)

      val z = Seq((5L, 3L)).toDF("x", "y")
        .select(expr("graft_zorder(x, y)")).head().getLong(0)
      assert(z == 27L)

      // STRUCTURAL parity: every graft_* function the engine registers
      // per-session must also be injected by the extension, so a
      // library user via spark.sql.extensions never gets a subset.
      // (Checked BEFORE HashExprs.register(s) below, which would mask
      // missing injections with temp functions.) The shared test
      // session carries the per-session registrations to compare with.
      val engineFns = SparkTestBase.spark.sessionState.functionRegistry
        .listFunction().map(_.funcName).filter(_.startsWith("graft_")).toSet
      val injectedFns = s.sessionState.functionRegistry
        .listFunction().map(_.funcName).filter(_.startsWith("graft_")).toSet
      assert(engineFns.subsetOf(injectedFns),
        s"extension is missing: ${engineFns -- injectedFns}")

      // the injected entries carry the table's usage text
      val described = s.sql("DESCRIBE FUNCTION graft_jaccard")
        .collect().map(_.getString(0)).mkString("\n")
      assert(described.contains("Usage: graft_jaccard(a, b)"), described)

      // same expression trees as the temp-function path => same values
      val viaRegistry = {
        graft.functions.HashExprs.register(s)
        Seq(Tuple1(Seq("a", "b", "c", "d", "e"))).toDF("toks")
          .select(expr("graft_simhash64(toks)")).head().getLong(0)
      }
      assert(viaRegistry == row.getLong(0))

      // injectOptimizerRule is a distinct registration route from
      // GraftSession.tuned's extraOptimizations: prove JaccardRewrite
      // fires in THIS session too (parquet-backed - a literal relation
      // would constant-fold before the optimizer rule runs)
      val docs = s.read.parquet(s"${SparkTestBase.sfDir}/documents.parquet")
        .select(split(col("text"), " ").as("a"), split(col("lang"), " ").as("b"))
      val plan = docs.select(
          (size(array_intersect(col("a"), col("b"))).cast("double") /
            size(array_union(col("a"), col("b"))).cast("double")).as("j"))
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("graft_jaccard"),
        s"injectOptimizerRule path did not rewrite:\n$plan")
    } finally {
      // restore the shared test session for subsequent suites (the
      // SparkContext is shared, so do NOT stop it)
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
