package graft

import org.apache.spark.sql.functions._

import graft.ext.MiningOps

/** Market-basket pair mining: hand-computed support/confidence/lift on
  * crafted baskets, plus determinism on the fixture.
  */
class MiningOpsSpec extends SparkTestBase {
  import spark.implicits._

  test("itemset pairs: crafted baskets give exact support, confidence, lift") {
    // baskets: o1={A,B,C}, o2={A,B}, o3={A,C}, o4={B} (+ dup row noise)
    val li = Seq(
      (1L, 101L), (1L, 102L), (1L, 103L), (1L, 101L), // dup (1,A) must not double-count
      (2L, 101L), (2L, 102L),
      (3L, 101L), (3L, 103L),
      (4L, 102L))
      .toDF("l_orderkey", "l_partkey")
    val got = MiningOps.itemsetPairs(li, k = 20).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6))))
      .toMap
    // singles: A=3, B=3, C=2; n_orders=4
    // pairs: (A,B)=2, (A,C)=2, (B,C)=1
    assert(got == Map(
      (101L, 102L) -> ((2L, 3L, 3L, 2.0 / 3.0, 8.0 / 9.0)),
      (101L, 103L) -> ((2L, 3L, 2L, 2.0 / 3.0, 8.0 / 6.0)),
      (102L, 103L) -> ((1L, 3L, 2L, 1.0 / 3.0, 4.0 / 6.0))), s"got $got")
  }

  test("typo pairs: deletion blocking finds exactly the distance-1 pairs, shared-variant false candidates die") {
    val ents = Seq(
      (1L, "abc"), (2L, "abd"), // substitution
      (3L, "ab"),               // deletion of both
      (4L, "ba"),               // shares variant 'a'/'b' with ab but lev=2
      (5L, "xyz"))              // isolated
      .toDF("c_custkey", "c_name")
    val got = MiningOps.typoPairs(ents, "c_custkey", "c_name")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L)), s"got $got")
  }

  test("typo pairs == brute-force levenshtein on the fixture names") {
    val cust = graft.engine.Tables.load(spark, sfDir, "customer")
    val names = cust.select(col("c_custkey").as("id"), col("c_name").as("n"))
    val brute = names.as("a").crossJoin(names.as("b"))
      .where(col("a.id") < col("b.id") &&
        levenshtein(col("a.n"), col("b.n")) === 1)
      .select(col("a.id"), col("b.id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = MiningOps.typoPairs(cust, "c_custkey", "c_name")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute, "blocking must be lossless and verify exact")
    assert(got.nonEmpty, "digit-substitution neighbors exist in the fixture")
  }

  test("typo pairs under an exact-dup name flood: distinct-name blocking, id pairs expand correctly") {
    // 50 ids share ONE name plus a distance-1 partner with 3 ids: the
    // id-level formulation would push 50 copies through every variant
    // bucket (the sf1 super-linear shape); the name-level one blocks
    // once per DISTINCT name and expands to exactly the 50×3 id pairs
    import spark.implicits._
    val ents = ((1L to 50L).map(i => (i, "acme corp")) ++
      Seq(51L, 52L, 53L).map(i => (i, "acme c0rp")) ++
      Seq((54L, "unrelated name")))
      .toDF("c_custkey", "c_name")
    val got = MiningOps.typoPairs(ents, "c_custkey", "c_name")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for (a <- 1L to 50L; b <- 51L to 53L) yield (a, b)).toSet
    assert(got == want, s"expected the 150 cross pairs, got ${got.size}")
    // the bounded-output census must COUNT exactly what the exact key
    // EMITS: one distinct name pair expanding to the 150 id pairs
    val stats = MiningOps.typoPairStats(ents, "c_name").collect()
    assert(stats.map(_.getAs[Long]("n_name_pairs")).sum == 1L)
    // n_id_pairs is DOUBLE (the pair cardinality outgrows BIGINT at
    // corpus scale); exact here — 150 « 2⁵³
    assert(stats.map(_.getAs[Double]("n_id_pairs")).sum == 150.0)
  }

  test("edit1 == (levenshtein == 1) on exhaustive short strings and random name-like pairs") {
    import graft.functions.HashImpls.edit1
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    // exhaustive over the alphabet {a,b} up to length 3: every pair,
    // including both empty-string sides and double-substitutions
    val short = (0 to 3).flatMap(n =>
      (0 until (1 << n)).map(m => (0 until n).map(i =>
        if (((m >> i) & 1) == 1) 'b' else 'a').mkString))
    for (x <- short; y <- short)
      assert(edit1(x, y) == (lev(x, y) == 1), s"'$x' vs '$y'")
    // random digit-suffix names (the fixture's typo structure)
    val rnd = new scala.util.Random(7)
    (1 to 2000).foreach { _ =>
      val x = "Customer#" + (0 until 9).map(_ => rnd.nextInt(10)).mkString
      val y = "Customer#" + (0 until (9 + rnd.nextInt(2))).map(_ => rnd.nextInt(10)).mkString
      assert(edit1(x, y) == (lev(x, y) == 1), s"'$x' vs '$y'")
    }
  }

  test("jaro-winkler expression: pinned reference vectors (incl. the DuckDB empty-string and boost-threshold conventions)") {
    import spark.implicits._
    val vecs = Seq(
      ("MARTHA", "MARHTA", 0.9611111111111111),   // classic Winkler example
      ("DWAYNE", "DUANE", 0.8400000000000001),
      ("DIXON", "DICKSONX", 0.8133333333333332),
      ("abcdef", "fedcba", 0.38888888888888884), // jaro < 0.7 → NO boost
      ("abab", "baba", 0.8333333333333334),      // transpositions + zero prefix
      ("same", "same", 1.0),
      ("ab", "", 0.0), ("", "", 0.0))            // DuckDB: either empty → 0.0
    val got = vecs.map { case (a, b, _) => (a, b) }.toDF("a", "b")
      .select(expr("graft_jaro_winkler(a, b)")).collect().map(_.getDouble(0))
    vecs.zip(got).foreach { case ((a, b, want), g) =>
      assert(g == want, s"jw($a, $b): got $g, want $want (must be BIT-exact)")
    }
  }

  test("fuzzy best match: argmax is exact, ties break to the lowest clean id, rerun-identical") {
    import spark.implicits._
    val dirty = Seq((1L, "jonathon smith"), (2L, "acme c0rp")).toDF("id", "name")
    val clean = Seq(
      (10L, "jonathan smith"), (11L, "jon smith"), (12L, "acme corp"),
      (13L, "acme corp"), (14L, "zzz")).toDF("id", "name")
    val out = MiningOps.fuzzyBestMatch(dirty, "id", "name", clean, "id", "name")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(out(1L) == 10L, "jonathan beats jon on JW")
    // ids 12/13 carry the SAME name → identical jw; the deterministic
    // pick must be the LOWER id
    assert(out(2L) == 12L)
    val again = MiningOps.fuzzyBestMatch(dirty, "id", "name", clean, "id", "name")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(again == out, "rerun-identical")
  }

  test("itemset pairs on the fixture: deterministic rerun, support ordering, lift finite") {
    val li = graft.engine.Tables.load(spark, sfDir, "lineitem")
    val a = MiningOps.itemsetPairs(li, k = 20).collect()
    val b = MiningOps.itemsetPairs(li, k = 20).collect()
    assert(a.toSeq == b.toSeq, "rerun-identical")
    val supports = a.map(_.getLong(2)).toSeq
    assert(supports == supports.sorted.reverse, "descending support")
    assert(a.forall(r => r.getDouble(6) > 0 && !r.getDouble(6).isInfinite))
  }
}
