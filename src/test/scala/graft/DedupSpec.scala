package graft

import org.apache.spark.sql.functions._

import graft.ext.Dedup

/** Dedup invariants + planted-near-dup recall (SURVEY §5.2 item 3,
  * VERDICT round-1 items 6-7).
  */
class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private def docsDf(texts: Seq[String]) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  test("exact dedup: |dedup| <= |input|, idempotent, counts add up") {
    val texts = Seq("a b c", "a b c", "d e f", "a b c", "g h i", "d e f")
    val out = Dedup.exactDedup(spark, sfDir) // smoke on real table
    assert(out.count() <= spark.read.parquet(s"$sfDir/documents.parquet").count())

    val local = docsDf(texts)
      .groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("keep"), count(lit(1)).as("n"))
    val rows = local.collect()
    assert(rows.length == 3)
    assert(rows.map(_.getAs[Long]("n")).sum == texts.length)
    // survivor is deterministic: min doc_id per group
    assert(rows.map(_.getAs[Long]("keep")).sorted.toSeq == Seq(0L, 2L, 4L))
  }

  test("line dedup: repeated lines survive only at first occurrence, blanks kept, order preserved") {
    val docs = Seq(
      (1L, "alpha one\nshared boilerplate\nalpha two"),
      (2L, "beta one\nshared boilerplate\n\nbeta two"),   // dup line + a blank
      (3L, "shared boilerplate"),                          // doc that is ONLY the dup line
      (4L, "gamma\n\n\ngamma tail")                        // multiple blanks all kept
    ).toDF("doc_id", "text")
    val got = Dedup.lineDedup(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_lines"), r.getAs[Long]("n_kept"),
          r.getAs[String]("new_text"))).toMap
    // doc 1 owns the shared line (first occurrence) — fully intact
    assert(got(1L) == ((3L, 3L, "alpha one\nshared boilerplate\nalpha two")))
    // doc 2 loses the shared line, keeps its blank, order preserved
    assert(got(2L) == ((4L, 3L, "beta one\n\nbeta two")))
    // doc 3 loses its only line — empty reassembly, not a missing row
    assert(got(3L) == ((1L, 0L, "")))
    // blanks are structural: every one survives
    assert(got(4L) == ((4L, 4L, "gamma\n\n\ngamma tail")))
  }

  test("minhash near-dup finds planted near-duplicates and skips unrelated docs") {
    val base = "the quick brown fox jumps over the lazy dog again and again until dawn"
    val nearDup = base.replace("dawn", "dusk") // 1-word edit
    val unrelated = "completely different content about spark catalyst optimizer internals"
    val docs = docsDf(Seq(base, nearDup, unrelated))
    val pairs = Dedup.minhashNearDupPairs(docs, "text", "doc_id", threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((0L, 1L)), s"planted pair missed: ${pairs.toSeq}")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L), "unrelated doc matched")
  }

  test("minhash estimated-Jaccard prefilter preserves the exact result set") {
    // with and without the prefilter must agree on the final pairs for a
    // seeded corpus (the prefilter is a superset guard, not a semantic change)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val withFilter = Dedup.minhashNearDupPairs(docs, "text", "doc_id")
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // relaxed prefilter (est >= 0) = no prefilter; same 8x2 banding and
    // 0.5 verify threshold as the registered defaults
    val sets = Dedup.hashedShingleSets(docs, "text", "doc_id", 2)
    val signed = sets.withColumn("sig", expr("graft_minhash_sig(shs, 16)"))
    val cand = Dedup.candidatePairs(
      Dedup.lshBands(signed.drop("shs"), "doc_id", 8, 2), "doc_id", 16, 0.0)
    val noFilter = cand
      .join(sets.withColumnRenamed("doc_id", "id1").withColumnRenamed("shs", "sh1"), "id1")
      .join(sets.withColumnRenamed("doc_id", "id2").withColumnRenamed("shs", "sh2"), "id2")
      .select(col("id1"), col("id2"),
        (size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2"))).cast("double")).as("j"))
      .where(col("j") >= 0.5)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(withFilter == noFilter)
  }

  test("simhash: identical docs at Hamming 0; blocking finds all pairs <= maxHamming") {
    val base = "one two three four five six seven eight nine ten eleven twelve"
    val docs = docsDf(Seq(base, base, "unrelated words entirely distinct tokens"))
    val pairs = Dedup.simhashPairs(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq == Seq((0L, 1L, 0)))
  }

  test("simhash blocking recall equals brute force within the radius") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val hashed = Dedup.withSimhash(docs, "text").select(col("doc_id"), col("simhash"))
    val l = hashed.select(col("doc_id").as("id1"), col("simhash").as("h1"))
    val r = hashed.select(col("doc_id").as("id2"), col("simhash").as("h2"))
    val brute = l.crossJoin(r).where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        bit_count(col("h1").bitwiseXOR(col("h2"))).as("hamming"))
      .where(col("hamming") <= 3)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val blocked = Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(blocked == brute, "pigeonhole blocking must be lossless within radius")
  }

  test("hamming blocking lossless for non-dividing chunk widths and the single-chunk edge") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val hashed = Dedup.withSimhash(docs, "text").select(col("doc_id"), col("simhash"))
    val l = hashed.select(col("doc_id").as("id1"), col("simhash").as("h1"))
    val r = hashed.select(col("doc_id").as("id2"), col("simhash").as("h2"))
    def brute(maxH: Int): Set[(Long, Long)] =
      l.crossJoin(r).where(col("id1") < col("id2"))
        .where(bit_count(col("h1").bitwiseXOR(col("h2"))) <= maxH)
        .select("id1", "id2")
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    // maxHamming = 2: 64 % 3 != 0 — floor-width chunks leave a high bit
    // uncovered, which must still be lossless (uncovered bits only absorb
    // differences)
    val h2 = Dedup.hammingBlockedPairs(hashed, "doc_id", "simhash",
      totalBits = 64, maxHamming = 2, maxBucket = 10000)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(h2 == brute(2), "floor-width chunk blocking lost pairs at maxHamming=2")
    // maxHamming = 0: one 64-bit chunk — the 1L<<64 wrap regression would
    // collapse everything into a single bucket value
    val h0 = Dedup.hammingBlockedPairs(hashed, "doc_id", "simhash",
      totalBits = 64, maxHamming = 0, maxBucket = 10000)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(h0 == brute(0), "single-chunk blocking must bucket by the full hash")
  }

  test("simhash bucket cap drops degenerate buckets (documented recall trade)") {
    // 4 identical docs: every chunk bucket has size 4
    val docs = docsDf(Seq.fill(4)("same words in every single document here"))
    val capped = Dedup.simhashPairs(docs, "text", "doc_id", maxBucket = 3)
    assert(capped.count() == 0, "buckets over the cap must not generate pairs")
    val uncapped = Dedup.simhashPairs(docs, "text", "doc_id", maxBucket = 100)
    assert(uncapped.count() == 6, "C(4,2) pairs when buckets fit the cap")
  }

  test("approx_count_distinct stays within its configured relative error") {
    val approx = Dedup.approxDistinct(spark, sfDir).head().getLong(0).toDouble
    val exact = Dedup.exactDistinct(spark, sfDir).head().getLong(0).toDouble
    assert(exact > 0)
    assert(math.abs(approx - exact) / exact < 0.10,
      s"HLL rsd=0.02 drifted: approx=$approx exact=$exact") // 5 sigma headroom
  }

  test("connectedComponents: chain, star, disjoint pairs, empty") {
    def cc(pairs: Seq[(Long, Long)]): Map[Long, Long] =
      Dedup.connectedComponents(pairs.toDF("id1", "id2"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 64-node path: diameter 63, must converge well inside maxIter via
    // pointer jumping; every node labels to 0
    val chain = cc((0L until 63L).map(i => (i, i + 1)))
    assert(chain.size == 64 && chain.values.forall(_ == 0L))
    // star centered high: label = min leaf
    val star = cc(Seq((100L, 7L), (100L, 9L), (100L, 8L)))
    assert(star == Map(100L -> 7L, 7L -> 7L, 9L -> 7L, 8L -> 7L))
    // two disjoint pairs stay separate
    val two = cc(Seq((1L, 2L), (10L, 11L)))
    assert(two == Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L))
    // empty edge list => empty labeling (and no non-convergence error)
    assert(cc(Seq.empty).isEmpty)
  }

  test("nearDupClusters groups the fixture's transitive chain into one cluster") {
    val pairs = Dedup.minhashQuery(spark, sfDir)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val clusters = Dedup.nearDupClusters(spark, sfDir)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect()
    // every paired doc is clustered, labels are cluster minima
    val clustered = clusters.toMap
    assert(clustered.keySet == pairs.flatMap(p => Seq(p._1, p._2)))
    clusters.groupBy(_._2).foreach { case (label, members) =>
      assert(members.map(_._1).min == label, s"label $label is not the min member")
    }
    // transitivity: any two pairs sharing a doc land in the same cluster
    for ((a, b) <- pairs; (c, d) <- pairs if Set(a, b).intersect(Set(c, d)).nonEmpty)
      assert(clustered(a) == clustered(c), s"pairs ($a,$b) and ($c,$d) split")
    // survivors = corpus minus non-canonical members
    val total = spark.read.parquet(s"$sfDir/documents.parquet").count()
    val removed = clusters.count { case (id, label) => id != label }
    assert(Dedup.nearDupSurvivors(spark, sfDir).count() == total - removed)
  }

  test("setSimJoin (prefix filter) == exact O(n²) brute force on the fixture") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val sets = Dedup.shingleSets(docs, "text", 3)
      .where(size(col("shingles")) > 0)
      .select(col("doc_id"), col("shingles"))
    val a = sets.select(col("doc_id").as("id1"), col("shingles").as("sh1"))
    val b = sets.select(col("doc_id").as("id2"), col("shingles").as("sh2"))
    val exact = a.crossJoin(b).where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        (size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2"))).cast("double")).as("j"))
      .where(col("j") >= 0.5)
      .orderBy("id1", "id2")
      .as[(Long, Long, Double)].collect().toList
    val got = Dedup.setSimQuery(spark, sfDir)
      .as[(Long, Long, Double)].collect().toList
    assert(got == exact, "prefix-filtered join must equal brute force exactly")
    assert(got.nonEmpty, "fixture plants near-dup pairs")
  }

  test("prefix lemma holds on crafted adversarial sets (boundary overlap at the threshold)") {
    // trigram shingles: doc1 shares a long prefix run with doc0 but
    // falls under the threshold; doc2 is an exact dup
    val texts = Seq(
      "a b c d e f g h i",        // 7 trigrams
      "a b c d e x y z w",        // shares abc,bcd,cde -> j = 3/11 < .5 (decoy)
      "a b c d e f g h i",        // exact dup of 0: j = 1.0
      "q r s t u v")              // disjoint decoy
    val got = Dedup.setSimJoin(docsDf(texts), "text", "doc_id")
      .as[(Long, Long, Double)].collect().toList
    assert(got == List((0L, 2L, 1.0)), s"got $got")
  }

  test("containment join: embedded doc detected in one direction only") {
    // doc 1 embeds doc 0's full trigram set (containment 1.0 A->B);
    // B->A is 3/8 and must NOT emit; doc 2 is disjoint
    val texts = Seq(
      "a b c d e",
      "a b c d e f g h i j",
      "q r s t u v w x")
    val got = Dedup.containmentJoin(docsDf(texts), "text", "doc_id")
      .as[(Long, Long, Double)].collect().toList
    assert(got == List((0L, 1L, 1.0)), s"got $got")
  }

  test("containment join (prefix filter) == exact O(n²) directed brute force on the fixture") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val sets = Dedup.shingleSets(docs, "text", 3)
      .where(size(col("shingles")) > 0)
      .select(col("doc_id"), col("shingles"))
    val a = sets.select(col("doc_id").as("sub_id"), col("shingles").as("sh1"))
    val b = sets.select(col("doc_id").as("sup_id"), col("shingles").as("sh2"))
    val exact = a.crossJoin(b).where(col("sub_id") =!= col("sup_id"))
      .select(col("sub_id"), col("sup_id"),
        (size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(col("sh1")).cast("double")).as("c"))
      .where(col("c") >= 0.8)
      .orderBy("sub_id", "sup_id")
      .as[(Long, Long, Double)].collect().toList
    val got = Dedup.containmentQuery(spark, sfDir)
      .as[(Long, Long, Double)].collect().toList
    assert(got == exact, "prefix-filtered containment must equal brute force exactly")
    assert(got.nonEmpty, "fixture plants containment pairs")
  }

  test("containment join df cap: hot boilerplate shingle bounded, rare-shingle pairs exact") {
    // 300 boilerplate docs share ONE hot trigram (df = 301 > cap = 50)
    // plus unique tails; docs 300/301 are a true containment pair through
    // RARE shingles only; doc 302's whole shingle set IS the hot trigram
    // (the only shape whose qualifying pairs ride hot shingles alone)
    val texts =
      (0 until 300).map(i => s"all rights reserved u$i t$i w$i e$i") ++
        Seq(
          "alpha beta gamma delta epsilon",
          "alpha beta gamma delta epsilon zeta eta theta",
          "all rights reserved",
          "all rights reserved plus more stuff here")
    val docs = docsDf(texts)
    // capped (registered default shape, cap forced low): the rare-path
    // pair survives with the EXACT value; every hot-only pair is the
    // documented recall trade
    val capped = Dedup.containmentJoin(docs, "text", "doc_id", maxDf = 50)
      .as[(Long, Long, Double)].collect().toList
    assert(capped == List((300L, 301L, 1.0)), s"got $capped")
    // uncapped: recall 1.0 by the prefix lemma — equals directed brute
    // force including all 301 hot-only containments of doc 302
    val sets = Dedup.shingleSets(docs, "text", 3)
      .where(size(col("shingles")) > 0)
      .select(col("doc_id"), col("shingles"))
    val a = sets.select(col("doc_id").as("sub_id"), col("shingles").as("sh1"))
    val b = sets.select(col("doc_id").as("sup_id"), col("shingles").as("sh2"))
    val exact = a.crossJoin(b).where(col("sub_id") =!= col("sup_id"))
      .select(col("sub_id"), col("sup_id"),
        (size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(col("sh1")).cast("double")).as("c"))
      .where(col("c") >= 0.8)
      .orderBy("sub_id", "sup_id")
      .as[(Long, Long, Double)].collect().toList
    val uncapped = Dedup.containmentJoin(docs, "text", "doc_id",
        maxDf = Int.MaxValue)
      .as[(Long, Long, Double)].collect().toList
    assert(uncapped == exact, "uncapped containment must equal brute force")
    assert(uncapped.contains((302L, 303L, 1.0)) && uncapped.size == 302,
      s"expected 302 directed pairs, got ${uncapped.size}")
  }

  test("containment pair list stays output-bounded under a planted boilerplate flood (memo-safety bound)") {
    // The r12 verdict's item 6: containmentPairsShared PERSISTS the
    // thresholded pair list (Shared `containment.pairs`), so corpus-wide
    // boilerplate must not be able to inflate it quadratically — the
    // q_neardup all-pairs lesson (49.3M pairs at sf1skew) applied to
    // the directed variant. This plants a 1500-doc boilerplate flood
    // (every doc shares one hot trigram block, df = 1500 >> cap) plus
    // exactly one true containment pair through RARE shingles, and
    // asserts the capped output is EXACTLY that pair — 1 row, not the
    // ~1500² hot-only candidates. The bound argument this pins:
    // candidates = Σ_{df ≤ maxDf} prefixCount(sh)·df(sh) ≤
    // maxDf · Σ|prefix| — LINEAR in the corpus at fixed cap — because
    // pruneGroups removes every shingle with df > maxDf from BOTH join
    // sides before the candidate join; the persisted list is smaller
    // still (thresholded survivors only).
    val n = 1500
    val texts =
      (0 until n).map(i => s"terms of service apply here u$i v$i w$i x$i y$i z$i") ++
        Seq(
          "quick brown foxes jump over lazy dogs",
          "quick brown foxes jump over lazy dogs tonight quietly")
    val docs = docsDf(texts)
    val got = Dedup.containmentJoin(docs, "text", "doc_id", maxDf = 100)
      .as[(Long, Long, Double)].collect().toList
    assert(got == List((n.toLong, n.toLong + 1, 1.0)),
      s"flood must be cap-bounded to the one rare-shingle pair, got ${got.size} rows")
  }

  test("incrementalNearDups == exact O(n²) cross brute force on the fixture") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val sets = Dedup.shingleSets(docs, "text", 2).select(col("doc_id"), col("shingles"))
    val a = sets.where(col("doc_id") < 250)
      .select(col("doc_id").as("corpus_id"), col("shingles").as("sh1"))
    val b = sets.where(col("doc_id") >= 250)
      .select(col("doc_id").as("incoming_id"), col("shingles").as("sh2"))
    val exact = a.crossJoin(b)
      .select(col("incoming_id"), col("corpus_id"),
        (size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2"))).cast("double")).as("j"))
      .where(col("j") >= 0.5)
      .groupBy("incoming_id")
      .agg(count(lit(1)).as("n_matches"), max("j").as("best_jaccard"))
      .orderBy("incoming_id")
      .as[(Long, Long, Double)].collect().toList
    val got = Dedup.incrementalQuery(spark, sfDir)
      .select("incoming_id", "n_matches", "best_jaccard")
      .as[(Long, Long, Double)].collect().toList
    assert(got == exact, "LSH incremental dedup must equal exact cross brute force")
    assert(got.nonEmpty, "fixture plants cross-split near-dups")
  }

  test("bitmap distinct == count distinct, including keys spanning many buckets") {
    // crafted keys straddle 32k-bit bitmap buckets (bucket = key/32768):
    // duplicates within a bucket, distinct keys across distant buckets
    val keys = Seq(1L, 1L, 2L, 40000L, 40000L, 131073L, 999999999L)
      .map(("g", _)) ++ Seq(5L, 5L).map(("h", _))
    val df = keys.toDF("grp", "k")
    val got = df
      .groupBy(col("grp"), expr("bitmap_bucket_number(k)").as("bkt"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(k))").as("bm"))
      .groupBy("grp").agg(sum(expr("bitmap_count(bm)")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("g" -> 5L, "h" -> 1L))
  }

  test("tokenSpans: spans tile the document; eligibility = span length >= minTokens") {
    // 10 tokens at spanTokens=8 -> one full span + a 2-token tail
    val docs = docsDf(Seq("a b c d e f g h i j", "k l m"))
    val spans = Dedup.tokenSpans(docs, "text", 8, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getString(3)))
      .sortBy(x => (x._1, x._2))
    assert(spans.toSeq == Seq(
      (0L, 0L, true, "a b c d e f g h"),
      (0L, 1L, false, "i j"),
      (1L, 0L, false, "k l m")))
    // tiling: rejoining spans in order reproduces the text
    val rebuilt = spans.groupBy(_._1).map { case (id, ss) =>
      id -> ss.sortBy(_._2).map(_._4).mkString(" ")
    }
    assert(rebuilt == Map(0L -> "a b c d e f g h i j", 1L -> "k l m"))
    // minTokens > spanTokens breaks eligibility's span-text purity and
    // must be rejected up front
    intercept[IllegalArgumentException] {
      Dedup.tokenSpans(docs, "text", 8, 10)
    }
  }

  test("span dedup: stats and apply agree; untouched docs rebuild to the original md5") {
    val stats = Dedup.spanDedupStats(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(stats.nonEmpty, "fixture should contain repeated eligible spans")
    assert(stats.forall(_._2 > 1), "stats must only report repeated spans")
    assert(stats.forall { case (_, occ, docs) => docs <= occ },
      "a span cannot hit more docs than occurrences")
    val apply = Dedup.spanDedupApply(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    // every doc is emitted, accounting adds up
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(apply.length.toLong == nDocs)
    assert(apply.forall { case (_, n, kept, dropped, _) => n == kept + dropped && kept >= 1 })
    // total drops == sum over repeated spans of (occurrences - 1):
    // exactly one survivor per distinct eligible span
    assert(apply.map(_._4).sum == stats.map(_._2 - 1).sum)
    // a doc with zero drops rebuilds to its original text digest
    val origMd5 = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), md5(col("text")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val untouched = apply.filter(_._4 == 0L)
    assert(untouched.nonEmpty)
    assert(untouched.forall { case (id, _, _, _, m) => origMd5(id) == m })
    // a doc WITH drops must NOT rebuild to the original
    val touched = apply.filter(_._4 > 0L)
    assert(touched.nonEmpty, "fixture should contain docs losing spans")
    assert(touched.forall { case (id, _, _, _, m) => origMd5(id) != m })
  }

  test("substring dup spans: planted cross-doc and within-doc repeats, exact island accounting") {
    import spark.implicits._
    // 40-char shared block planted inside two otherwise-unique docs,
    // plus one doc repeating its own 30-char block twice; doc 4 is
    // all-unique and must not appear
    val shared = "the quick brown fox jumps over lazy dogs" // 40 chars
    val block  = "aaaaaaaaaabbbbbbbbbbcccccccccc"           // 30 chars
    require(shared.length == 40 && block.length == 30)
    // unique tails/prefixes use non-repeating sequences so they can't
    // accidentally form duplicated 30-grams of their own
    val uniq1 = (0 until 29).map(i => ('A' + i % 26).toChar).mkString
    val uniq2 = (0 until 25).map(i => ('a' + (i * 7) % 26).toChar).mkString
    val docs = Seq(
      (1L, s"XXXXX${shared}$uniq1"),
      (2L, s"$uniq2${shared}ZZZZZ"),
      (3L, s"${block}0123456789${block}"),
      (4L, "entirely unique text with no repeated windows at all........"))
      .toDF("doc_id", "text")
    val out = Dedup.substringDupSpans(docs, "text", "doc_id", minLen = 30)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // docs 1/2: one island of the 40-char shared block = 11 grams
    // (40-30+1), 40 duplicated chars
    assert(out(1L) == ((1L, 11L, 40L)))
    assert(out(2L) == ((1L, 11L, 40L)))
    // doc 3: the 30-char block occurs at pos 1 and pos 41 — two
    // disjoint islands of 1 gram / 30 chars each
    assert(out(3L) == ((2L, 2L, 60L)))
    assert(!out.contains(4L), "unique doc must not be reported")
  }

  test("substring dup spans: overlapping duplicated windows merge into one maximal island") {
    import spark.implicits._
    // a 45-char repeated run yields 16 overlapping 30-grams that must
    // merge into ONE island of 45 chars, not 16 spans
    val run = "z" * 45
    // boundary chars DIFFER between the docs, so the maximal shared
    // substring is exactly the 45-char run (a shared boundary char
    // would legitimately extend the duplicated span by one)
    val docs = Seq(
      (1L, s"HEAD!${run}?TAIL.ONE.UNIQUE.SUFFIX.AAAA"),
      (2L, s"OTHER#PREFIX#${run}%DIFFERENT%TAIL%BB"))
      .toDF("doc_id", "text")
    val out = Dedup.substringDupSpans(docs, "text", "doc_id", minLen = 30)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == ((1L, 16L, 45L)))
    assert(out(2L) == ((1L, 16L, 45L)))
  }

  test("substring dedup apply: copy islands cut, first occurrence survives, stitch exact") {
    import spark.implicits._
    // 60-char payload shared by docs 1 and 2 (every 30-gram inside it
    // repeats corpus-wide); unique 40+-char flanks so islands don't
    // bleed. Doc 1 owns the payload's first occurrence (min doc_id) ->
    // keeps everything. Doc 2's copy island holds no first occurrence
    // -> cut, and its text stitches to flanks only. Doc 3 is unique ->
    // untouched. Doc 4 is shorter than the 30-char gram floor.
    // every 30-gram of a flank contains its tag, so flanks never share
    // grams with each other or the payload; the chars ADJACENT to the
    // payload differ between docs ('!' vs '?' before, 'b' vs 'd'
    // after), so boundary-straddling grams are unique too and doc 2's
    // island is EXACTLY the 60 payload chars
    val payload = "PAYLOAD " * 7 + "PAYL" // 60 chars
    assert(payload.length == 60)
    val f = (tag: String, term: String) =>
      (1 to 7).map(i => s"$tag$i").mkString(" ") + term
    val d1 = f("alpha", "!") + payload + f("beta", ".")
    val d2 = f("gamma", "?") + payload + f("delta", ";")
    val d3 = "entirely distinct prose that is long enough to produce thirty-grams but repeats nothing"
    val docs = Seq((1L, d1), (2L, d2), (3L, d3), (4L, "short"))
      .toDF("doc_id", "text")
    val got = graft.ext.Dedup.substringDedupApply(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(1L)._1 == 0L && got(1L)._3 == m(d1),
      "owner doc keeps its payload verbatim (its island holds every first occurrence)")
    assert(got(3L)._1 == 0L && got(3L)._3 == m(d3))
    assert(got(4L)._1 == 0L && got(4L)._3 == m("short"))
    val (nCut, charsCut, md) = got(2L)
    assert(nCut == 1L, "doc 2 loses exactly its copy island")
    assert(charsCut == 60L, s"island = exactly the payload, got $charsCut")
    assert(md == m(f("gamma", "?") + f("delta", ";")),
      "doc 2 stitches to its two unique flanks with the payload excised")
  }

  test("property: dedup by distinct is idempotent and bounded (100 seeded samples)") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 100) {
      val xs = List.fill(1 + rnd.nextInt(50))(rnd.nextInt(20))
      val df = xs.toDF("v")
      val d1 = df.distinct()
      assert(d1.count() == xs.distinct.size)
      assert(d1.count() <= df.count())
      assert(d1.distinct().count() == d1.count())
    }
  }
}
