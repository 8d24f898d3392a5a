package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll

import graft.engine.Shared

/** The session contract (GraftSession.tuned) is applied where a session
  * enters the library, not inside query builders. A `newSession()`
  * shares the SparkContext but starts with Spark's own SQLConf (ANSI on,
  * no nanosAsLong, the default CTE recursion limit) and no graft_*
  * functions, so a key built on one must still match the shared tuned
  * session row for row.
  */
class SessionBoundarySpec extends SparkTestBase with BeforeAndAfterAll {

  override def afterAll(): Unit = {
    // the fresh sessions' memo entries (graph edges, near-dup pairs)
    // would otherwise outlive the spec
    Shared.clear()
    super.afterAll()
  }

  private def rows(df: DataFrame): Seq[String] = {
    val r = df.collect().map(_.toString).sorted.toSeq
    assert(r.nonEmpty, "vacuous comparison")
    r
  }

  private def graftFunctions(s: SparkSession): Set[String] =
    s.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_")).toSet

  private def assertContract(s: SparkSession): Unit = {
    assert(s.conf.get("spark.sql.ansi.enabled") == "false")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(s.conf.get("spark.sql.cteRecursionRowLimit") == "20000000")
    assert(graftFunctions(s) ==
      graft.functions.HashExprs.functions.map(_._1.funcName).toSet)
    assert(s.experimental.extraOptimizations.contains(graft.plans.JaccardRewrite))
  }

  test("a fresh session starts without the contract") {
    val fresh = spark.newSession()
    assert(fresh.conf.get("spark.sql.ansi.enabled") == "true")
    assert(graftFunctions(fresh).isEmpty)
  }

  // recursive CTE row limit; lenient casts; events nanos-as-long read;
  // graft_minhash_sig + the JaccardRewrite verify
  Seq("q_reach_paths", "q_curated", "q_concurrency", "q_minhash_neardup").foreach { k =>
    test(s"$k built on a fresh session equals the tuned session's rows") {
      val fresh = spark.newSession()
      val q = Catalog.byName(k)
      assert(rows(q.build(fresh, sfDir)) == rows(q.build(spark, sfDir)))
      assertContract(fresh)
    }
  }

  test("SparkEntry.entry on a fresh session equals the tuned session's rows") {
    val fresh = spark.newSession()
    assert(rows(SparkEntry.entry(fresh)) == rows(SparkEntry.entry(spark)))
    assertContract(fresh)
  }

  test("src/main applies GraftSession.tuned only at the library boundary") {
    val call = """GraftSession\.tuned\(""".r
    val root = new File("src/main/scala")
    assert(root.isDirectory, root.getAbsolutePath)
    def files(d: File): Seq[File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val calls = files(root).filter(_.getName.endsWith(".scala")).flatMap { f =>
      val code = new String(Files.readAllBytes(f.toPath), UTF_8).linesIterator.map(_.trim)
        .filterNot(l => l.startsWith("*") || l.startsWith("/*") || l.startsWith("//"))
      val n = code.map(l => call.findAllMatchIn(l.split("//", 2)(0)).size).sum
      if (n > 0) Some(root.toPath.relativize(f.toPath).toString -> n) else None
    }.toMap
    assert(calls == Map(
      "graft/Catalog.scala" -> 1, // GraftQuery.build
      "graft/engine/CsvToParquet.scala" -> 1, // readCsvAllString
      "graft/engine/CuratedQuery.scala" -> 1, // transform
      "graft/ext/TrainingPipeline.scala" -> 2)) // run, streamingIngest
  }
}
