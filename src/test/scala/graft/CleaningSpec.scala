package graft

import org.apache.spark.sql.functions._

import graft.ext.Cleaning

/** PII redaction, contamination detection, repetition signals. */
class CleaningSpec extends SparkTestBase {
  import spark.implicits._

  test("mannWhitney: hand-computed U and tie-corrected z on a crafted corpus") {
    // group en = {1, 2}, group rest = {2, 3}
    // midranks: 1→1, 2→2.5 (tie), 3→4; R1 = 3.5, U1 = 3.5 - 3 = 0.5
    // tie_sum = (1³-1)+(2³-2)+(1³-1) = 6
    // var = (4/12)·((4+1) - 6/(4·3)) = (1/3)·4.5 = 1.5
    // z = (0.5 - 2)/sqrt(1.5) = -1.5/1.2247448713915890...
    val d = Seq(
      (1L, "en", 1L), (2L, "en", 2L), (3L, "fr", 2L), (4L, "fr", 3L))
      .toDF("doc_id", "lang", "n_chars")
    val r = Cleaning.mannWhitney(d).collect().head
    assert(r.getAs[Long]("n1") == 2L && r.getAs[Long]("n2") == 2L)
    assert(r.getAs[Double]("u_stat") == 0.5)
    assert(math.abs(r.getAs[Double]("z") - (-1.5 / math.sqrt(1.5))) < 1e-12)
  }

  test("mannWhitney: identical distributions give U = n1*n2/2 and z = 0") {
    val d = (1L to 20L).flatMap(i =>
      Seq((i, "en", i % 5), (100 + i, "fr", i % 5)))
      .toDF("doc_id", "lang", "n_chars")
    val r = Cleaning.mannWhitney(d).collect().head
    assert(r.getAs[Double]("u_stat") == 20.0 * 20.0 / 2.0)
    assert(math.abs(r.getAs[Double]("z")) < 1e-12)
  }

  test("redactPii scrubs emails, IPv4s, and phones; clean text unchanged") {
    val rows = Seq(
      "mail bob.smith+x@corp.example.org now",
      "two a@b.co and c@d.io here",
      "server 192.168.1.250 down",
      "call 555-0199 or 555-1234",
      "mixed u@v.net at 10.0.0.7 call 555-0000",
      "no pii at all",
      "version 1.2.3 is not an ip").toDF("t")
      .select(Cleaning.redactPii(col("t"))).as[String].collect()
    assert(rows(0) == "mail [EMAIL] now")
    assert(rows(1) == "two [EMAIL] and [EMAIL] here")
    assert(rows(2) == "server [IP] down")
    assert(rows(3) == "call [PHONE] or [PHONE]")
    assert(rows(4) == "mixed [EMAIL] at [IP] call [PHONE]")
    assert(rows(5) == "no pii at all")
    assert(rows(6) == "version 1.2.3 is not an ip", "3 octets must not match")
  }

  test("redaction is idempotent (a second pass changes nothing)") {
    val once = Cleaning.piiRedact(spark, sfDir).select(col("redacted"))
    val twice = once.select(Cleaning.redactPii(col("redacted")).as("redacted"))
    assert(once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty)
  }

  test("contamination: hashed-gram path equals string-gram path on the fixture") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val byString = Cleaning.contamination(docs, "doc_id", "text",
      col("doc_id") % 10 === 5, hashed = false).collect().toSeq
    val byHash = Cleaning.contamination(docs, "doc_id", "text",
      col("doc_id") % 10 === 5, hashed = true).collect().toSeq
    assert(byString == byHash,
      "64-bit gram hashing must not change the report at fixture scale")
    assert(byString.nonEmpty, "fixture has planted eval near-dups; report can't be empty")
  }

  test("contamination never reports an eval doc and finds the planted leak") {
    val report = Cleaning.contaminationReport(spark, sfDir)
      .as[(Long, Long, Long)].collect()
    assert(report.forall(_._1 % 10 != 5), "eval docs must not be in the report")
    assert(report.forall(_._2 >= 1))
    assert(report.forall(_._3 % 10 == 5), "first_eval must be an eval doc")
  }

  test("repetitionStats on crafted docs") {
    val crafted = Seq(
      (1L, "a a a a"),       // 4 tokens, 1 distinct, bigram "a a" x3
      (2L, "w x y z"),       // no repetition
      (3L, "solo"))          // single token: no bigrams
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft-rep").toString
    crafted.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = Cleaning.repetitionStats(spark, tmp)
      .as[(Long, Long, Double, Double, Double)].collect().toList
    assert(r == List(
      (1L, 4L, 0.75, 1.0, 1.0),
      (2L, 4L, 0.0, 0.25, 1.0 / 3.0),
      (3L, 1L, 0.0, 1.0, 0.0)))
  }

  test("madStats: exact values on a crafted corpus; robust to one extreme") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-mad").toString
    Seq((1L, "en", 10L), (2L, "en", 12L), (3L, "en", 14L),
      (4L, "en", 16L), (5L, "en", 18L))
      .toDF("doc_id", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = Cleaning.madStats(spark, tmp).collect().head
    assert(r.getString(0) == "en" && r.getLong(1) == 5L)
    assert(r.getDouble(2) == 14.0 && r.getDouble(3) == 2.0)
    // add one extreme outlier: MAD barely moves, unlike std (which the
    // z-score gate uses and the outlier itself drags)
    Seq((1L, "en", 10L), (2L, "en", 12L), (3L, "en", 14L),
      (4L, "en", 16L), (5L, "en", 18L), (6L, "en", 10000L))
      .toDF("doc_id", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r2 = Cleaning.madStats(spark, tmp).collect().head
    assert(r2.getDouble(3) <= 4.0, s"MAD should stay small: ${r2.getDouble(3)}")
  }

  test("winsorize: clipped stays inside [p05, p95]; interior values untouched") {
    val rows = Cleaning.winsorize(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, p05, p95, clipped) =
        (r.getLong(2).toDouble, r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(p05 <= p95)
      assert(clipped >= p05 && clipped <= p95)
      if (n >= p05 && n <= p95) assert(clipped == n)
      else assert(clipped == p05 || clipped == p95)
    }
    // clipping must actually fire somewhere (5% in each tail by construction)
    assert(rows.exists(r => r.getLong(2).toDouble != r.getDouble(5)))
  }

  test("qualityClassifier: invariants on the corpus + hand-computed reference scores") {
    val out = Cleaning.qualityClassifier(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(out.length.toLong == nDocs, "every doc must be scored")
    // weights live in [-0.500, 0.499]; so does their mean
    assert(out.forall { case (_, n, s, _) => n >= 1 && s >= -0.5 && s < 0.5 })
    assert(out.forall { case (_, _, s, k) => k == (if (s > 0) 1 else 0) })
    assert(out.exists(_._4 == 1) && out.exists(_._4 == 0),
      "fixture should land docs on both sides of the decision boundary")
    // hand-computed reference: same md5-bucket + Knuth-milli-weight math
    // in plain JVM code, no Spark involved
    def bucket(tok: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.substring(24, 32), 16) % Cleaning.classifierBuckets
    }
    def wMilli(b: Long): Long = (b * 2654435761L) % 1000 - 500
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = out.map(r => r._1 -> r).toMap
    for (id <- docs.keys.take(25)) {
      val toks = docs(id).toLowerCase.replaceAll("[^a-z0-9 ]", " ")
        .replaceAll(" +", " ").trim.split(" ", -1)
      val sum = toks.map(t => wMilli(bucket(t))).sum
      val (_, n, s, k) = got(id)
      assert(n == toks.length.toLong, s"doc $id token count")
      assert(s == sum.toDouble / (toks.length * 1000L), s"doc $id score")
      assert(k == (if (sum > 0) 1 else 0), s"doc $id label")
    }
  }

  test("unigramSurprisal: invariants + full plain-JVM reference on the corpus") {
    val out = Cleaning.unigramSurprisal(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // reference model fit + scoring in plain Scala, no Spark
    def norm(t: String): Array[String] = t.toLowerCase
      .replaceAll("[^a-z0-9 ]", " ").replaceAll(" +", " ").trim.split(" ", -1)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val counts = docs.values.toSeq.flatMap(norm).groupBy(identity)
      .map { case (t, xs) => t -> xs.length.toLong }
    val total = counts.values.sum
    def bits(n: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(n)
    val totBits = bits(total)
    assert(out.length == docs.size, "every doc must be scored")
    for ((id, n, sumBits, mean) <- out) {
      val toks = norm(docs(id))
      val expect = toks.map(t => totBits - bits(counts(t))).sum
      assert(n == toks.length.toLong, s"doc $id token count")
      assert(sumBits == expect, s"doc $id surprisal sum")
      assert(sumBits >= 0 && mean == sumBits.toDouble / n, s"doc $id mean")
    }
  }

  test("bigramSurprisal: invariants + full plain-JVM reference on the corpus") {
    val out = Cleaning.bigramSurprisal(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    def norm(t: String): Array[String] = t.toLowerCase
      .replaceAll("[^a-z0-9 ]", " ").replaceAll(" +", " ").trim.split(" ", -1)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> norm(r.getString(1))).toMap
    val bigrams = docs.view.mapValues(ts =>
      ts.sliding(2).filter(_.length == 2).map(p => p(0) + " " + p(1)).toSeq).toMap
    val all = bigrams.values.toSeq.flatten
    val c12 = all.groupBy(identity).map { case (g, xs) => g -> xs.length.toLong }
    val c1 = all.groupBy(_.split(" ")(0)).map { case (w, xs) => w -> xs.length.toLong }
    def bits(n: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(n)
    assert(out.length == docs.count(_._2.length >= 2), "every multi-token doc scored")
    for ((id, n, sumBits, mean) <- out) {
      val gs = bigrams(id)
      val expect = gs.map(g => bits(c1(g.split(" ")(0))) - bits(c12(g))).sum
      assert(n == gs.length.toLong, s"doc $id bigram count")
      assert(sumBits == expect, s"doc $id conditional surprisal sum")
      assert(sumBits >= 0 && mean == sumBits.toDouble / n, s"doc $id mean")
    }
  }

  test("knSurprisal: exact-integer Kneser-Ney form matches a plain-JVM reference; smoothing orders boilerplate under novelty") {
    val out = Cleaning.knSurprisal(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    def norm(t: String): Array[String] = t.toLowerCase
      .replaceAll("[^a-z0-9 ]", " ").replaceAll(" +", " ").trim.split(" ", -1)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> norm(r.getString(1))).toMap
    val bigrams = docs.view.mapValues(ts =>
      ts.sliding(2).filter(_.length == 2).map(p => p(0) + " " + p(1)).toSeq).toMap
    val all = bigrams.values.toSeq.flatten
    val c12 = all.groupBy(identity).map { case (g, xs) => g -> xs.length.toLong }
    val types = c12.keys.toSeq
    val c1 = all.groupBy(_.split(" ")(0)).map { case (w, xs) => w -> xs.length.toLong }
    val n1p = types.groupBy(_.split(" ")(0)).map { case (w, xs) => w -> xs.length.toLong }
    val n1pr = types.groupBy(_.split(" ")(1)).map { case (w, xs) => w -> xs.length.toLong }
    val nbt = types.length.toLong
    def bits(n: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(n)
    assert(out.length == docs.count(_._2.length >= 2), "every multi-token doc scored")
    for ((id, n, sumBits, mean) <- out) {
      val gs = bigrams(id)
      val expect = gs.map { g =>
        val Array(w1, w2) = g.split(" ")
        val num = (4L * c12(g) - 3L) * nbt + 3L * n1p(w1) * n1pr(w2)
        val den = 4L * c1(w1) * nbt
        assert(num <= den, s"KN must stay a proper probability for '$g'")
        bits(den) - bits(num)
      }.sum
      assert(n == gs.length.toLong, s"doc $id bigram count")
      assert(sumBits == expect, s"doc $id KN surprisal sum")
      assert(sumBits >= 0 && mean == sumBits.toDouble / n, s"doc $id mean")
    }
    // the smoothing's point: a token seen often in ONE context only
    // (boilerplate) carries less continuation mass than a token seen in
    // many contexts — verify the continuation counts drive the formula
    // somewhere on the fixture (some w2 with n1pr > 1 exists)
    assert(n1pr.values.exists(_ > 1L), "fixture exercises continuation counts")
  }

  test("noveltyScores: planted duplicate scores 0, unique doc scores 1, partial overlap exact") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
      (3L, "zxq wvu tsr qpo nml kji"),                     // fully unique
      (4L, "the quick brown fox sat still today"))          // shares a prefix with 1/2
      .toDF("doc_id", "text")
    val out = Cleaning.noveltyOf(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1)._3 == 0.0 && out(2)._3 == 0.0,
      "exact duplicates: every shingle shared")
    assert(out(3)._3 == 1.0 && out(3)._2 == 0L, "unique doc: nothing shared")
    // doc 4 shares exactly its "the quick brown" and "quick brown fox"
    // trigrams with docs 1/2 (5 distinct trigrams total)
    assert(out(4) == ((5L, 2L, 0.6)), "partial overlap counts exact")
    // fixture sanity: the planted near-dup corpus has sub-1 novelty docs
    val fix = Cleaning.noveltyScores(spark, sfDir).collect()
    assert(fix.nonEmpty && fix.exists(_.getDouble(3) < 1.0))
    assert(fix.forall { r =>
      val (n, sh, ratio) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      n > 0 && sh >= 0 && sh <= n && ratio == (n - sh).toDouble / n.toDouble
    })
  }

  test("dataQualityReport: rule arithmetic matches a plain-JVM sweep; failure path exercised") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    val expect = Map(
      "text_not_null" -> docs.count(_._2 == null).toLong,
      "n_chars_in_range" -> docs.count(d => d._5 < 1 || d._5 > 100000).toLong,
      "n_chars_within_budget" -> docs.count(_._5 > 256).toLong,
      "lang_in_allowed_set" ->
        docs.count(d => !Set("en", "de", "es", "fr", "zh")(d._3)).toLong,
      "source_matches_format" ->
        docs.count(d => !d._4.matches("^src[0-9]+$")).toLong,
      "n_chars_matches_text" ->
        docs.count(d => d._5 != Option(d._2).getOrElse("").length).toLong,
      "doc_id_unique" ->
        (docs.length - docs.map(_._1).distinct.length).toLong)
    val got = Cleaning.dataQualityReport(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getInt(3))).toMap
    assert(got.keySet == expect.keySet, "one row per rule")
    for ((rule, v) <- expect) {
      val (checked, violations, pass) = got(rule)
      assert(violations == v, s"$rule violations")
      assert(pass == (if (v == 0) 1 else 0), s"$rule pass flag")
      assert(checked == (if (rule == "doc_id_unique")
        docs.map(_._1).distinct.length.toLong else docs.length.toLong),
        s"$rule checked count")
    }
    assert(got("n_chars_within_budget")._2 > 0,
      "budget rule must exercise the failure path on this fixture")
  }

  test("outlierDocs: per-language z-scores standardize; flag matches threshold") {
    val rows = Cleaning.outlierDocs(spark, sfDir).collect()
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(rows.length == nDocs, "one flag row per document")
    rows.foreach(r =>
      assert(r.getBoolean(4) == (math.abs(r.getDouble(3)) > 2.0)))
    // z-scores standardize within each language: mean 0, variance 1
    rows.groupBy(_.getString(1)).foreach { case (lang, rs) =>
      val zs = rs.map(_.getDouble(3))
      if (zs.exists(_ != 0.0)) {
        val m = zs.sum / zs.length
        val v = zs.map(z => (z - m) * (z - m)).sum / zs.length
        assert(math.abs(m) < 1e-6, s"$lang z mean $m")
        assert(math.abs(v - 1.0) < 1e-6, s"$lang z variance $v")
      }
    }
  }

  test("domain shift: planted two-slice corpus, exact bit-quantized KL decomposition and ranking") {
    import spark.implicits._
    // en: "alpha alpha alpha" + "alpha beta"; fr: "beta beta gamma" +
    // "beta gamma" -> Np=5, Nq=5, V=3; expected rows computed by hand
    // from floor(log2((cp+1)(Nq+V))) - floor(log2((cq+1)(Np+V)))
    val docs = Seq(
      (1L, "alpha alpha alpha", "en"), (2L, "alpha beta", "en"),
      (3L, "beta beta gamma", "fr"), (4L, "beta gamma", "fr"))
      .toDF("doc_id", "text", "lang")
    val got = Cleaning.domainShift(docs, "text", "lang", "en", 20)
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val want = Seq(
      ("alpha", 4L, 0L, 2L, 10L),
      ("gamma", 0L, 2L, -1L, -1L),
      ("beta", 1L, 3L, -1L, -2L))
    assert(got.toSeq == want, s"got ${got.toSeq}")
    // k truncates the ranking deterministically
    val top1 = Cleaning.domainShift(docs, "text", "lang", "en", 1)
      .collect().map(_.getString(0)).toSeq
    assert(top1 == Seq("alpha"))
  }

  test("classifier eval: windowed rank-sum AUC == brute-force pairwise AUC; matrix margins consistent") {
    val row = Cleaning.classifierEval(spark, sfDir).head()
    val tp = row.getAs[Long]("tp"); val fp = row.getAs[Long]("fp")
    val fn = row.getAs[Long]("fn"); val tn = row.getAs[Long]("tn")
    assert(tp + fn == row.getAs[Long]("n_pos"))
    assert(fp + tn == row.getAs[Long]("n_neg"))
    assert(row.getAs[Double]("prec") == tp.toDouble / (tp + fp))
    assert(row.getAs[Double]("rec") == tp.toDouble / (tp + fn))

    // brute-force pairwise AUC over the same quantized scores
    val scored = Cleaning.classifierRawScores(spark, sfDir)
      .join(graft.engine.Tables.load(spark, sfDir, "documents")
        .select(org.apache.spark.sql.functions.col("doc_id"),
          (org.apache.spark.sql.functions.col("lang") === "en").as("y")),
        "doc_id")
      .collect()
      .map(r => (r.getAs[Boolean]("y"),
        math.floor(r.getAs[Long]("sum_milli").toDouble /
          r.getAs[Long]("n_tokens").toDouble).toLong))
    val pos = scored.filter(_._1).map(_._2)
    val neg = scored.filterNot(_._1).map(_._2)
    var num = 0.0
    for (p <- pos; n <- neg)
      num += (if (p > n) 1.0 else if (p == n) 0.5 else 0.0)
    val brute = num / (pos.length.toLong * neg.length)
    assert(math.abs(row.getAs[Double]("auc") - brute) < 1e-12,
      s"windowed identity ${row.getAs[Double]("auc")} vs brute $brute")
  }

  test("heldout surprisal: OOV takes maximal add-1 bits, seen tokens reduce by floor(log2(c+1))") {
    import spark.implicits._
    // train docs (ids 1,2 — md5 folds 5,2): "alpha" x3, "beta" x1 -> T=4, V=2, den = floor(log2(7)) = 2
    // heldout doc 17 (md5 fold 7): alpha beta gamma -> bits: alpha 2-2=0, beta 2-1=1, gamma(OOV) 2-0=2
    val docs = Seq(
      (1L, "alpha alpha beta", "en", "web", 16L),
      (2L, "alpha", "en", "web", 5L),
      (17L, "alpha beta gamma", "en", "web", 16L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("heldout").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = Cleaning.heldoutSurprisal(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("doc_id") == 17L)
    assert(row.getAs[Long]("n_tokens") == 3L)
    assert(row.getAs[Long]("n_oov") == 1L)
    assert(row.getAs[Long]("sum_bits") == 0L + 1L + 2L)
    assert(row.getAs[Double]("mean_bits") == 1.0)
  }

  test("stupid backoff: seen bigrams use the conditional, unseen back off at +1 bit with add-1 unigram") {
    import spark.implicits._
    // train doc 1 (md5 fold 5): bigrams "alpha beta" x2, "beta alpha" x1 -> tt=3
    // c1: alpha=2 beta=1; c2: beta=2 alpha=1
    // held doc 17 (md5 fold 7): "alpha beta" seen -> floor(log2 2)-floor(log2 2)=0 bits
    //             "beta gamma" unseen -> 1 + floor(log2 4) - floor(log2 1) = 3 bits
    val docs = Seq(
      (1L, "alpha beta alpha beta", "en", "web", 21L),
      (17L, "alpha beta gamma", "en", "web", 16L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("backoff").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = Cleaning.backoffSurprisal(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("doc_id") == 17L)
    assert(row.getAs[Long]("n_bigrams") == 2L)
    assert(row.getAs[Long]("n_backoff") == 1L)
    assert(row.getAs[Long]("sum_bits") == 3L)
    assert(row.getAs[Double]("mean_bits") == 1.5)
  }

  test("l-diversity: a large-but-uniform QI class violates, a small-but-diverse one does not") {
    import spark.implicits._
    // class (0, A): 5 members, ALL in balance bucket 1 -> k-safe, l=1 leak
    // class (1, B): 3 members, 3 distinct buckets -> l=3, no violation
    val rows = (1 to 5).map(i => (i.toLong, 0, "A", 1500.0)) ++
      Seq((10L, 1, "B", 500.0), (11L, 1, "B", 1500.0), (12L, 1, "B", 2500.0))
    val cust = rows.toDF("c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal")
    val out = Cleaning.lDiversity(cust).collect()
      .map(r => (r.getInt(0), r.getString(1)) ->
        ((r.getAs[Long]("class_size"), r.getAs[Long]("l_distinct"),
          r.getAs[Int]("violates_l3")))).toMap
    assert(out == Map((0, "A") -> ((5L, 1L, 1)), (1, "B") -> ((3L, 3L, 0))))
  }

  test("calibration report: buckets partition the corpus, rates bounded, means inside bucket spans") {
    val rows = Cleaning.calibrationReport(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    assert(rows.forall(r => (0L to 9L).contains(r.getAs[Long]("bucket"))))
    val total = rows.map(_.getAs[Long]("n")).sum
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(total == docs, s"census covers every scored doc ($total vs $docs)")
    rows.foreach { r =>
      val rate = r.getAs[Double]("pos_rate")
      assert(rate >= 0.0 && rate <= 1.0)
    }
  }
}
