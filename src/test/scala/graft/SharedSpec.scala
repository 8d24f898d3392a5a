package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.engine.Shared
import graft.ext.{Dedup, TimeSeries}

/** The session memo ([[graft.engine.Shared]]): one build per key, nested
  * builds, a release that frees what the memos hold, and eviction of
  * stopped sessions.
  */
class SharedSpec extends SparkTestBase {

  private def persistentIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a second call returns the same value without rebuilding") {
    var builds = 0
    def get() = Shared("spec.value", spark, sfDir) {
      builds += 1
      spark.range(5).toDF("x")
    }
    val first = get()
    assert(get() eq first)
    assert(builds == 1)
    Shared.clear()
  }

  test("a nested build (daily -> STL) works and its inner memo is reused") {
    Shared.clear()
    val stl = TimeSeries.sharedStlResidual(spark, sfDir)
    assert(stl.count() > 0)
    // the STL build built ts.daily; reading it now checkpoints nothing new
    val before = persistentIds
    val daily = TimeSeries.sharedDailyRevenue(spark, sfDir)
    assert(persistentIds == before)
    assert(TimeSeries.sharedDailyRevenue(spark, sfDir) eq daily)
    // the same registry re-entered from inside a build
    val outer = Shared("spec.outer", spark, sfDir) {
      Shared("spec.inner", spark, sfDir)(spark.range(3).toDF("x"))
        .selectExpr("x + 1 AS y")
    }
    assert(outer.count() == 3)
    Shared.clear()
  }

  test("clear() frees an eager-checkpoint memo's RDDs") {
    Shared.clear()
    val before = persistentIds
    assert(TimeSeries.sharedDailyRevenue(spark, sfDir).count() > 0)
    val held = persistentIds -- before
    assert(held.nonEmpty, "the localCheckpoint registers its RDD")
    Shared.clear()
    assert((persistentIds & held).isEmpty,
      s"still registered after clear: ${persistentIds & held}")
  }

  test("clear() frees a lazy-persist memo's RDDs") {
    Shared.clear()
    val before = persistentIds
    Dedup.containmentPairsShared(spark, sfDir).count()
    val held = persistentIds -- before
    assert(held.nonEmpty, "materializing the persisted plan registers its cache")
    Shared.clear()
    assert((persistentIds & held).isEmpty,
      s"still registered after clear: ${persistentIds & held}")
  }

  test("a stopped session's entries are evicted") {
    // needs a SparkContext of its own to stop, so it runs in a child JVM
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(_.startsWith("--add-opens"))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx1g") ++ jvm ++
      Seq("-cp", sys.props("java.class.path"), SharedEvictionMain.getClass.getName.stripSuffix("$"))
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    assert(proc.waitFor() == 0, out)
    assert(out.linesIterator.contains("entries=1"), out)
  }
}

/** Builds a memo in one session, stops it, then builds in a second
  * session: only the live session's entry may remain.
  */
object SharedEvictionMain {
  def main(args: Array[String]): Unit = {
    def session() = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    val a = session()
    Shared("spec.evict", a, "dir")(a.range(3).toDF("x"))
    a.stop()
    val b = session()
    Shared("spec.evict", b, "dir")(b.range(3).toDF("x"))
    println(s"entries=${Shared.size}")
    b.stop()
  }
}
