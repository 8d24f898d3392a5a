package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ext.TrainingPrep

/** Training-prep invariants: chunk coverage, shuffle determinism,
  * sampling stability, and the shard writer's disjoint-sorted layout.
  */
class TrainingPrepSpec extends SparkTestBase {

  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")

  test("chunking covers every token and respects the overlap") {
    val chunks = TrainingPrep.chunkDocuments(docs, "text", window = 32, stride = 24)
    val perDoc = chunks.groupBy("doc_id")
      .agg(max("chunk_idx").as("last_idx"), count(lit(1)).as("n"))
      .collect()
    perDoc.foreach(r => assert(r.getAs[Long]("n") == r.getAs[Int]("last_idx") + 1))
    // chunk length is min(window, n - idx*stride): non-increasing in idx,
    // capped at the window — so short chunks form a contiguous tail
    val rows = chunks.select("doc_id", "chunk_idx", "chunk_tokens")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      .groupBy(_._1)
    rows.foreach { case (doc, cs) =>
      val lens = cs.sortBy(_._2).map(_._3)
      assert(lens.forall(_ <= 32), s"doc $doc: chunk over window")
      assert(lens.zip(lens.tail).forall { case (a, b) => a >= b },
        s"doc $doc: chunk lengths not non-increasing: ${lens.toSeq}")
    }
  }

  test("deterministic shuffle: same order across runs, different across seeds") {
    val a = TrainingPrep.deterministicShuffle(docs, seed = 0)
      .collect().map(_.getLong(0)).toSeq
    val b = TrainingPrep.deterministicShuffle(docs, seed = 0)
      .collect().map(_.getLong(0)).toSeq
    val c = TrainingPrep.deterministicShuffle(docs, seed = 1)
      .collect().map(_.getLong(0)).toSeq
    assert(a == b)
    assert(a != c, "different seeds must give different epochs")
    assert(a.sorted == c.sorted, "same corpus, permuted")
  }

  test("stratified sample is key-stable and roughly 25% per language") {
    val s1 = TrainingPrep.stratifiedSample(docs, "lang")
      .collect().map(_.getLong(0)).toSet
    val s2 = TrainingPrep.stratifiedSample(docs, "lang")
      .collect().map(_.getLong(0)).toSet
    assert(s1 == s2)
    val frac = s1.size.toDouble / docs.count()
    assert(frac > 0.10 && frac < 0.45, s"sample fraction $frac far from 25%")
  }

  test("shard manifest: order-invariant digests, counts conserve the corpus") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val m1 = TrainingPrep.shardManifest(docs).collect()
    // reorder + repartition the input: manifest must be identical
    val shuffled = docs.orderBy(org.apache.spark.sql.functions.rand(7)).repartition(7)
    val m2 = TrainingPrep.shardManifest(shuffled).collect()
    assert(m1.map(_.toSeq).toSeq == m2.map(_.toSeq).toSeq,
      "manifest must not depend on row order or partitioning")
    assert(m1.map(_.getAs[Long]("n_docs")).sum == docs.count())
    assert(m1.length > 1 && m1.length <= 16)
  }

  test("shard manifest: single-doc shard digest equals that doc's fingerprint") {
    import spark.implicits._
    val one = Seq((42L, "hello shard", "en", "s", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val row = TrainingPrep.shardManifest(one).collect().head
    val h = one.select(
      graft.functions.HashExprs.md5Uint60(org.apache.spark.sql.functions.col("text")))
      .as[Long].head()
    val h32 = one.select(
      graft.functions.HashExprs.md5Uint32(org.apache.spark.sql.functions.col("text")))
      .as[Long].head()
    assert(row.getAs[Long]("digest_xor") == h)
    // digest_sum = Σ h32 mod 2^60 (widened additive checksum); a single
    // uint32 fingerprint is far below the modulus, so it passes through
    assert(row.getAs[Long]("digest_sum") == h32)
    assert(row.getAs[Long]("n_docs") == 1L)
  }

  test("shard writer: disjoint sorted key ranges replay the global order") {
    val tmp = Files.createTempDirectory("graft-shards").toString
    TrainingPrep.writeTrainingShards(docs, s"$tmp/shards", numShards = 4)
    val back = spark.read.parquet(s"$tmp/shards")
    assert(back.count() == docs.count())

    val files = new java.io.File(s"$tmp/shards").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).sorted
    assert(files.length == 4)
    // each shard is internally sorted; shard ranges are disjoint
    val ranges = files.map { f =>
      val keys = spark.read.parquet(f).select("shuffle_key")
        .collect().map(_.getString(0))
      assert(keys.sameElements(keys.sorted), s"shard not sorted: $f")
      (keys.min, keys.max)
    }
    val ordered = ranges.sortBy(_._1)
    ordered.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi <= lo, "overlapping shard ranges")
      case _ =>
    }
  }

  test("sequence packing: two-pass prefix sum == single-task global window") {
    import spark.implicits._
    val packed = TrainingPrep.sequencePack(docs, budget = 512).collect()
    // reference computation: driver-side global prefix sum in doc_id order
    val perDoc = packed.map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
    var acc = 0L
    val expected = perDoc.map { case (id, n) =>
      val batch = (acc / 512).toInt; acc += n; (id, batch)
    }.toMap
    packed.foreach { r =>
      assert(r.getInt(2) == expected(r.getLong(0)),
        s"doc ${r.getLong(0)}: batch ${r.getInt(2)} != ${expected(r.getLong(0))}")
    }
    // batches are contiguous, starting at 0
    val batches = packed.map(_.getInt(2)).distinct.sorted
    assert(batches.head == 0 && batches.sameElements(batches.head to batches.last))
  }

  test("sequence packing: empty corpus and null doc_ids don't crash") {
    import spark.implicits._
    val empty = Seq.empty[(java.lang.Long, String)].toDF("doc_id", "text")
    assert(TrainingPrep.sequencePack(empty, budget = 64).count() == 0)
    val withNull = Seq[(java.lang.Long, String)](
      (null, "one two three"), (1L, "four five"), (2L, "six"))
      .toDF("doc_id", "text")
    val out = TrainingPrep.sequencePack(withNull, budget = 64)
      .collect().map(r => (Option(r.get(0)), r.getInt(1)))
    assert(out.length == 3)
    assert(out.count(_._1.isEmpty) == 1)
    // several null ids with DIFFERENT token counts: the n_tokens
    // tiebreaker must make batch assignment a stable multiset
    val multiNull = Seq[(java.lang.Long, String)](
      (null, Seq.fill(40)("w").mkString(" ")),
      (null, Seq.fill(10)("w").mkString(" ")),
      (null, Seq.fill(25)("w").mkString(" ")),
      (7L, "tail doc")).toDF("doc_id", "text")
    def runOnce(): Seq[(Option[Any], Int, Int)] =
      TrainingPrep.sequencePack(multiNull.repartition(8), budget = 32)
        .collect().map(r => (Option(r.get(0)), r.getInt(1), r.getInt(2))).toSeq.sortBy(_._2)
    val first = runOnce()
    assert(runOnce() == first, "null-id batch assignment not run-stable")
  }

  test("BPE sequence packing: piece counts dominate word counts, batches contiguous") {
    val packed = TrainingPrep.sequencePackBpe(docs, budget = 4096).collect()
    assert(packed.length == docs.count())
    // every word is at least one BPE piece, so per-doc piece mass must
    // dominate the whitespace token mass used by plain sequencePack
    val words = TrainingPrep.sequencePack(docs, budget = 4096).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    packed.foreach { r =>
      assert(r.getInt(1) >= words(r.getLong(0)),
        s"doc ${r.getLong(0)}: BPE pieces ${r.getInt(1)} < words ${words(r.getLong(0))}")
    }
    // batch ids are the contiguous floor-prefix partition starting at 0
    val batches = packed.map(_.getInt(2)).distinct.sorted
    assert(batches.head == 0 && batches.sameElements(batches.head to batches.last))
    // replaying the prefix sum in doc_id order reproduces batch ids
    var acc = 0L
    packed.sortBy(_.getLong(0)).foreach { r =>
      assert(r.getInt(2) == (acc / 4096).toInt)
      acc += r.getInt(1)
    }
  }

  test("weighted sample: key-stable, and keep rate rises with doc length") {
    val s1 = TrainingPrep.weightedSample(docs).collect().map(_.getLong(0))
    val s2 = TrainingPrep.weightedSample(docs).collect().map(_.getLong(0))
    assert(s1.sameElements(s2), "weighted sample must be deterministic")
    assert(s1.nonEmpty && s1.length < docs.count())
    // docs at/above the cap should survive at a visibly higher rate than
    // the shortest third (probability = min(n_chars, cap)/cap)
    val byLen = docs.select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val kept = s1.toSet
    def rate(xs: Array[(Long, Long)]): Double =
      if (xs.isEmpty) 0.0 else xs.count(x => kept(x._1)).toDouble / xs.length
    val sorted = byLen.sortBy(_._2)
    val (short, long) = (sorted.take(sorted.length / 3),
      sorted.takeRight(sorted.length / 3))
    assert(rate(long) > rate(short),
      s"long-doc keep rate ${rate(long)} should exceed short-doc ${rate(short)}")
  }

  test("weighted sample cap saturation: at-or-above-cap docs always survive") {
    import spark.implicits._
    // the fixture corpus never reaches the default cap, so exercise the
    // saturation branch with crafted lengths straddling it
    val crafted = (1L to 400L).toSeq.map { i =>
      (i, "en", if (i % 2 == 0) 1000L + i else 10L) // evens saturate cap
    }.toDF("doc_id", "lang", "n_chars")
    val kept = TrainingPrep.weightedSample(crafted, cap = 1000L)
      .collect().map(_.getLong(0)).toSet
    val evens = (1L to 400L).filter(_ % 2 == 0)
    assert(evens.forall(kept), "P(keep)=1 at saturation: every even doc survives")
    val oddsKept = (1L to 400L).filter(i => i % 2 == 1 && kept(i)).size
    // odd docs keep with p = 10/1000 = 1%: tolerate 0..5% on 200 draws
    assert(oddsKept <= 10, s"short docs should rarely survive: $oddsKept/200")
    intercept[IllegalArgumentException] {
      TrainingPrep.weightedSample(crafted, cap = 0L)
    }
  }

  test("temperature mix: exact micro-weights, shares sum to 1, sqrt flattens the mix") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val out = TrainingPrep.temperatureMix(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4), r.getDouble(5)))
    val counts = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.map(_._1).toSet == counts.keySet, "one row per language")
    out.foreach { case (lang, n, wMicro, _, _, _) =>
      assert(n == counts(lang), s"$lang count")
      assert(wMicro == math.floor(math.sqrt(n.toDouble) * 1e6 + 0.5).toLong,
        s"$lang micro-weight")
    }
    assert(math.abs(out.map(_._4).sum - 1.0) < 1e-9, "shares sum to 1")
    // temperature sampling flattens: the rarest language is up-weighted,
    // the most common down-weighted, and target counts preserve order
    val byN = out.sortBy(_._2)
    assert(byN.head._6 > 1.0, "low-resource language upsampled")
    assert(byN.last._6 < 1.0, "high-resource language downsampled")
    assert(byN.map(_._5).toSeq == byN.map(_._5).sorted.toSeq,
      "target counts monotone in observed counts")
  }

  test("DSIR: the raw doc written in the target's vocabulary outranks the off-target raw docs") {
    import spark.implicits._
    // target slice speaks "alpha beta gamma"; raw docs speak "foo bar
    // baz" except doc 100, which is pure target vocabulary, and doc 101,
    // which is half-and-half — ranking must come out 100, 101, then the
    // off-target rest
    val target = (0L to 4L).map(i =>
      (i, "alpha beta gamma alpha beta gamma alpha beta", "en", "tgt", 1L))
    val raw = Seq(
      (100L, "alpha beta gamma alpha beta gamma alpha beta", "en", "raw", 1L),
      (101L, "alpha beta foo bar alpha beta foo bar", "en", "raw", 1L)) ++
      (102L to 110L).map(i => (i, "foo bar baz qux foo bar baz qux", "en", "raw", 1L))
    val docs = (target ++ raw)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TrainingPrep.dsirSample(docs, "text", "source", "tgt", k = 3)
      .collect()
    assert(out.map(_.getAs[Long]("doc_id")).take(2).toSeq == Seq(100L, 101L))
    assert(out(0).getAs[Long]("sum_bits") > out(1).getAs[Long]("sum_bits"))
    // every selected doc is from the raw side
    assert(out.forall(_.getAs[Long]("doc_id") >= 100L))
  }

  test("corpus datasheet: hand-computed one-row summary") {
    import spark.implicits._
    // 4 docs: "aa bb" x2 (exact dup), "cc" once, one blank; langs
    // en/en/fr/en -> top en 3/4; tokens 2+2+1+0 = 5; chars 5+5+2+0=12
    val docs = Seq(
      (1L, "aa bb", "en"), (2L, "aa bb", "en"),
      (3L, "cc", "fr"), (4L, "", "en"))
      .toDF("doc_id", "text", "lang")
    val r = graft.ext.TrainingPrep.corpusDatasheet(docs).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n_docs") == 4L)
    assert(row.getAs[Long]("n_langs") == 2L)
    assert(row.getAs[String]("top_lang") == "en")
    assert(row.getAs[Double]("top_lang_share") == 0.75)
    assert(row.getAs[Long]("total_tokens") == 5L)
    assert(row.getAs[Long]("total_chars") == 12L)
    // 3 distinct contents over 4 docs -> dup frac 1/4
    assert(row.getAs[Double]("exact_dup_frac") == 0.25)
    assert(row.getAs[Double]("blank_doc_frac") == 0.25)
  }

  test("corpus datasheet: empty corpus yields ZERO rows, not a 0/NULL row") {
    import spark.implicits._
    // the documented invariant (r9 ADVICE): Spark's global aggregates
    // would emit one [0, 0, NULL, ...] row on an empty corpus while
    // the DuckDB oracle's empty top-lang CTE annihilates its cross
    // join — the n_docs > 0 guard makes both engines agree on 0 rows
    val empty = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "text", "lang")
    assert(graft.ext.TrainingPrep.corpusDatasheet(empty).count() == 0L)
  }
}
