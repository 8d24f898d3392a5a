package graft

import org.apache.spark.sql.functions._

import graft.ext.Dedup

/** The JaccardRewrite optimizer rule: value parity with the builtin
  * composition (including the ugly edges) and plan-level proof that the
  * rewrite fires — for user SQL and for the production near-dup verify
  * join.
  */
class PlanRulesSpec extends SparkTestBase {
  import spark.implicits._

  test("graft_jaccard == builtin composition on every edge (incl. NULL for 0/0)") {
    val rows = Seq(
      (1L, Seq(1L, 2L, 3L), Seq(2L, 3L, 4L)),   // overlap: 2/4
      (2L, Seq(1L, 2L), Seq(3L, 4L)),           // disjoint: 0/4
      (3L, Seq.empty[Long], Seq.empty[Long]),   // empty: 0/0 = Divide NULL
      (4L, Seq(1L, 1L, 2L), Seq(1L, 2L, 2L)),   // dup elements dedup: 2/2
      (5L, Seq(7L), Seq(7L)))                   // identical: 1/1
      .toDF("id", "a", "b")
      .select(col("id"),
        (size(array_intersect(col("a"), col("b"))).cast("double") /
          size(array_union(col("a"), col("b"))).cast("double")).as("builtin"),
        expr("graft_jaccard(a, b)").as("native"))
      .orderBy("id").collect()
    rows.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2),
        s"id ${r.getLong(0)}: null mismatch builtin=${r.get(1)} native=${r.get(2)}")
      if (!r.isNullAt(1))
        assert(r.getDouble(1) == r.getDouble(2),
          s"id ${r.getLong(0)}: builtin=${r.getDouble(1)} native=${r.getDouble(2)}")
    }
    assert(rows(2).isNullAt(2), "0/0 must be NULL, matching Divide-by-zero")
  }

  test("null elements count as one distinct set member (array_intersect/union parity)") {
    val r = Seq((Seq[java.lang.Long](1L, null), Seq[java.lang.Long](null, 2L)))
      .toDF("a", "b")
      .select(
        (size(array_intersect(col("a"), col("b"))).cast("double") /
          size(array_union(col("a"), col("b"))).cast("double")).as("builtin"),
        expr("graft_jaccard(a, b)").as("native"))
      .head()
    assert(r.getDouble(0) == r.getDouble(1)) // {null} ∩ / {1,2,null} ∪ = 1/3
    assert(r.getDouble(1) == 1.0 / 3.0)
  }

  test("null ARRAY input: rewritten builtin keeps legacy-size 1.0; raw function stays NULL") {
    // with ANSI off Spark defaults legacy.sizeOfNull=true: size(NULL) = -1
    // makes the builtin (-1)/(-1) = 1.0 on a null array — the rewrite
    // must preserve that (If-wrapper), while graft_jaccard itself is
    // null-intolerant
    assume(spark.conf.get("spark.sql.legacy.sizeOfNull") == "true")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(3)
      .select(
        when(col("doc_id") === 0L, split(col("text"), " ")).as("a"),
        split(col("text"), " ").as("b"))
    val r = docs
      .select(col("a"),
        (size(array_intersect(col("a"), col("b"))).cast("double") /
          size(array_union(col("a"), col("b"))).cast("double")).as("builtin"),
        expr("graft_jaccard(a, b)").as("native"))
      .where(col("a").isNull).head()
    assert(r.getDouble(1) == 1.0, "legacy-size builtin must stay 1.0 after rewrite")
    assert(r.isNullAt(2), "the raw function is null-intolerant")
  }

  test("the rewrite fires: builtin composition plans as graft_jaccard") {
    // parquet-backed input: a literal relation would be constant-folded
    // into a LocalRelation before extraOptimizations ever see Divide
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("a"),
        split(col("lang"), " ").as("b"))
    val df = docs.select((size(array_intersect(col("a"), col("b"))).cast("double") /
      size(array_union(col("a"), col("b"))).cast("double")).as("j"))
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("graft_jaccard"), s"rewrite did not fire:\n$plan")
    assert(!plan.contains("array_intersect"), s"builtin survived:\n$plan")
  }

  test("the production near-dup verify join runs on the native expression") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = Dedup.minhashNearDupPairs(docs, "text", "doc_id")
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("graft_jaccard"),
      s"verify join not rewritten:\n${plan.take(2000)}")
  }

  test("ANSI-mode Divide is NOT rewritten (must keep raising DIVIDE_BY_ZERO)") {
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(split(col("text"), " ").as("a"), split(col("lang"), " ").as("b"))
      val df = docs.select((size(array_intersect(col("a"), col("b"))).cast("double") /
        size(array_union(col("a"), col("b"))).cast("double")).as("j"))
      val plan = df.queryExecution.optimizedPlan.toString
      assert(!plan.contains("graft_jaccard"), s"unsound ANSI rewrite:\n$plan")
    } finally spark.conf.set("spark.sql.ansi.enabled", "false")
  }

  test("mismatched argument pairs are NOT rewritten (semantic-equality guard)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(split(col("text"), " ").as("a"), split(col("lang"), " ").as("b"),
        split(col("source"), " ").as("c"))
    val df = docs.select((size(array_intersect(col("a"), col("b"))).cast("double") /
      size(array_union(col("a"), col("c"))).cast("double")).as("x"))
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("graft_jaccard"), s"unsound rewrite:\n$plan")
    assert(plan.contains("array_intersect"), s"builtin should survive:\n$plan")
  }

  // ---- physical plan-shape pins: the scale claims the Scaladocs make
  // must survive optimizer/planner changes, so count the Exchanges

  private def exchanges(df: org.apache.spark.sql.DataFrame): Int =
    "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).length

  test("scd2's two windows share ONE shuffle (same partitioning and ordering)") {
    val n = exchanges(graft.operators.WindowOps.scd2(spark, sfDir))
    // one Exchange for the user_id window pair + one for the output sort
    assert(n <= 2, s"scd2 must not re-shuffle between its windows: $n Exchanges")
  }

  test("as-of lookup plans with no join operator at all") {
    val plan = graft.operators.WindowOps.scd2Lookup(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"as-of must be union+window, not a join:\n${plan.take(800)}")
  }

  test("top-k window plans with WindowGroupLimit (rank filter pushed below the sort)") {
    val plan = graft.operators.WindowOps.topkWindow(spark, sfDir)
      .queryExecution.executedPlan.toString
    // Spark 3.5+ prunes rows past the per-partition limit BEFORE the
    // full window sort materializes — the optimization that makes
    // row_number top-k viable on a 100 TB partition
    assert(plan.contains("WindowGroupLimit"),
      s"rank<=k must push down as WindowGroupLimit:\n${plan.take(800)}")
  }

  test("rank stats never windows on the bare 5-value segment key (two-pass ranking)") {
    val plan = graft.operators.WindowOps.rankStats(spark, sfDir)
      .queryExecution.executedPlan.toString
    // every windowspecdefinition must carry >= 2 partition columns
    // (segment AND balance-range bucket) before its first ordered column
    // — a single-column spec is the 5-task sort-buffer scale-killer
    val specs = "windowspecdefinition\\(([^)]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(specs.nonEmpty, s"expected a window in the plan:\n${plan.take(800)}")
    specs.foreach { spec =>
      val partCols = spec.split(",")
        .takeWhile(c => !c.contains("ASC") && !c.contains("DESC"))
      assert(partCols.length >= 2,
        s"window partitioned by the bare low-cardinality key: ($spec)")
    }
  }

  test("two-pass rank stats matches the naive window on NULL balances and NULL segments") {
    // rows the fixture never contains: a NULL balance (sorts last under
    // DESC) and a whole NULL segment group
    val cust = Seq(
      (Some("A"), 1L, Some(10.0)), (Some("A"), 2L, Some(30.0)),
      (Some("A"), 3L, None), (Some("A"), 4L, Some(20.0)),
      (Some("B"), 5L, Some(5.0)), (None, 6L, Some(7.0)),
      (None, 7L, None), (None, 8L, Some(9.0)),
      // NaN ranks FIRST under DESC (Spark orders NaN above every
      // double) while NULL ranks last — both sentinels in one segment
      (Some("A"), 9L, Some(Double.NaN)), (Some("B"), 10L, Some(Double.NaN)))
      .toDF("c_mktsegment", "c_custkey", "c_acctbal")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").cast("double").desc, col("c_custkey"))
    val naive = cust.select(
      col("c_mktsegment"), col("c_custkey"),
      rank().over(w).as("rnk"), dense_rank().over(w).as("drnk"),
      percent_rank().over(w).as("prnk"), cume_dist().over(w).as("cdist"),
      ntile(4).over(w).as("quartile"))
    val twoPass = graft.operators.WindowOps.rankStatsOf(cust, 3)
    assert(twoPass.except(naive).isEmpty && naive.except(twoPass).isEmpty,
      s"two-pass != naive:\n${twoPass.orderBy("c_custkey").collect().mkString("\n")}\n--\n" +
        naive.orderBy("c_custkey").collect().mkString("\n"))
  }

  test("two-pass rank stats == naive window across seeded random inputs and bucket counts") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 4) {
      // duplicate balances (small value pool) force tie handling through
      // the custkey tiebreak; sprinkled NULL balances and segments hit
      // the sentinel paths; parts spans degenerate (1) to over-provisioned
      val n = 30 + rnd.nextInt(120)
      val rows = (1 to n).map { k =>
        val seg = if (rnd.nextInt(10) == 0) None else Some(s"S${rnd.nextInt(3)}")
        val bal = rnd.nextInt(10) match {
          case 0 => None
          case 1 => Some(Double.NaN) // NaN-first path
          case _ => Some(rnd.nextInt(6) * 10.0)
        }
        (seg, k.toLong, bal)
      }
      val cust = rows.toDF("c_mktsegment", "c_custkey", "c_acctbal")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").cast("double").desc, col("c_custkey"))
      val naive = cust.select(
        col("c_mktsegment"), col("c_custkey"),
        rank().over(w).as("rnk"), dense_rank().over(w).as("drnk"),
        percent_rank().over(w).as("prnk"), cume_dist().over(w).as("cdist"),
        ntile(4).over(w).as("quartile"))
      for (parts <- Seq(1, 3, 16)) {
        val twoPass = graft.operators.WindowOps.rankStatsOf(cust, parts)
        assert(twoPass.except(naive).isEmpty && naive.except(twoPass).isEmpty,
          s"trial $trial parts $parts: two-pass != naive (n=$n)")
      }
    }
  }

  test("term stats plans without Expand (two-level agg, not count+countDistinct)") {
    val plan = graft.functions.TextOps.termStats(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"),
      s"count+countDistinct Expand resurfaced:\n${plan.take(800)}")
  }

  test("lateral top-n plans with WindowGroupLimit") {
    val plan = graft.operators.RelationalOps.lateralTopN(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"correlated LIMIT must prune map-side:\n${plan.take(800)}")
  }

  test("vocabOov reuses the (doc, term) aggregate exchange across both subtrees") {
    val df = graft.functions.TextOps.vocabOov(spark, sfDir)
    df.collect() // AQE performs exchange reuse at runtime
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange"),
      s"vocab and coverage subtrees must share one corpus scan:\n${plan.take(800)}")
  }

  test("funnel reuses the step aggregates' exchanges for the reach counts") {
    // n1/n2/n3 re-reference the s1/s2/s3 aggregate subtrees; exchange
    // reuse is what keeps the funnel at three exchanges instead of six
    // (observation -> assertion, same discipline as vocabOov)
    val df = graft.streaming.EventOps.funnel(spark, sfDir)
    df.collect() // AQE performs exchange reuse at runtime
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange"),
      s"reach counts must share the step aggregates' exchanges:\n${plan.take(800)}")
  }

  test("tfidf top-k plans with WindowGroupLimit") {
    val plan = graft.functions.TextOps.tfidfTopK(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank<=k must prune map-side:\n${plan.take(800)}")
  }

  test("bounded near-dup report plans with WindowGroupLimit (O(n*m) output under skew)") {
    // the whole point of q_neardup_topm vs the all-pairs report: a doc
    // near-dupping 10^8 others must ship m rows per upstream partition
    // into the window sort (partial WindowGroupLimit BEFORE the
    // exchange), never its full pair fan-out
    val plan = graft.ext.Dedup.nearDupTopM(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rk<=m must prune map-side:\n${plan.take(800)}")
  }

  test("span-dedup stats plans without Expand; apply windows nothing and joins on the span key") {
    val stats = graft.ext.Dedup.spanDedupStats(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!stats.contains("Expand"),
      s"count+countDistinct Expand resurfaced in span stats:\n${stats.take(800)}")
    val apply = graft.ext.Dedup.spanDedupApply(spark, sfDir)
      .queryExecution.executedPlan.toString
    // first-occurrence must stay an aggregate (skew-safe map-side
    // combine), never a per-span row_number window
    assert(!apply.contains("Window"),
      s"span apply must not window per span:\n${apply.take(800)}")
    assert(!apply.contains("CartesianProduct"))
  }

  test("quality classifier joins the model as a broadcast (never shuffles the corpus on bucket)") {
    val plan = graft.ext.Cleaning.qualityClassifier(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"model lookup must broadcast:\n${plan.take(800)}")
  }

  test("unigram surprisal: LM fit is a partial/final aggregate, no Expand, no cartesian") {
    val plan = graft.ext.Cleaning.unigramSurprisal(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), s"Expand in surprisal plan:\n${plan.take(800)}")
    assert(!plan.contains("CartesianProduct"),
      s"1-row total must broadcast, not cartesian:\n${plan.take(800)}")
  }

  test("keep-one dedup never windows on a payload-content key (r9 verdict)") {
    // a window over a content key (line / digest / canonical URL) never
    // map-side combines: a boilerplate value repeated 10⁸ times funnels
    // every copy into one task. Keep-one must stay an AGGREGATE
    // (min-struct / survivor-id) — the spanDedupApply geometry.
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val line = graft.ext.Dedup.lineDedup(docs)
      .queryExecution.executedPlan.toString
    assert(!line.contains("Window"),
      s"lineDedup must not window per line:\n${line.take(800)}")
    val chunk = graft.ext.Multimodal.chunkDupStats(docs)
      .queryExecution.executedPlan.toString
    assert(!chunk.contains("Window"),
      s"chunkDupStats must not window per digest:\n${chunk.take(800)}")
    val url = graft.ext.WebOps.urlDedup(docs)
      .queryExecution.executedPlan.toString
    assert(!url.contains("Window"),
      s"urlDedup must not window per canonical URL:\n${url.take(800)}")
    // urlDedup needs no join at all: survivor row == min(struct) value
    assert(!url.contains("Join"),
      s"urlDedup must be a pure aggregate:\n${url.take(800)}")
  }

  test("interval-overlap join never degrades to a nested-loop product") {
    val plan = graft.operators.RangeJoin.overlapQuery(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"overlap join must stay an equi-join:\n${plan.take(800)}")
  }
}
