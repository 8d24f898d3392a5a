package graft

import graft.ext.Cleaning
import graft.functions.TextOps

/** BM25 ranking, vocabulary OOV coverage, and CCNet-style surprisal
  * bucketing — each checked against a plain-JVM reference computed
  * from the raw fixture (no Spark in the reference path).
  */
class TextScoringSpec extends SparkTestBase {

  test("BPE merge training: hand-computed merges on the classic low/lower/newest corpus") {
    import spark.implicits._
    val docs = Seq("low low low lower", "lower newest").toDF("text")
    val got = graft.functions.TextOps.bpeMergeTrain(docs, iters = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toList
    // vocab: low:3, lower:2, newest:1
    // iter1: 'l o'=5 ties 'o w'=5 -> lhs-asc tie-break picks (l, o)
    // iter2: 'lo w'=5 wins
    // iter3: 'low e'=2 ties 'e r'=2 -> 'e' < 'low' picks (e, r)
    assert(got == List((1, "l", "o", 5L), (2, "lo", "w", 5L), (3, "e", "r", 2L)),
      s"got $got")
  }

  test("BPE encode: per-doc fertility under the learned merges, hand-computed") {
    import spark.implicits._
    val docs = Seq((1L, "low low low lower"), (2L, "lower newest"))
      .toDF("doc_id", "text")
    val got = graft.functions.TextOps.bpeEncodeStats(docs, iters = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // merges (l,o),(lo,w),(e,r): low -> [low] 1 piece; lower -> [low, er]
    // 2 pieces; newest -> 6 singles (no merge applies)
    assert(got == Map(
      1L -> ((4L, 5L, 1.25)),   // 1+1+1+2 pieces over 4 words
      2L -> ((2L, 8L, 4.0))),   // 2+6 pieces over 2 words
      s"got $got")
  }

  test("gopher rules: each rule trips on its crafted doc; a clean doc passes") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, length, lit}
    // one doc per rule, engineered to fail EXACTLY that rule relative
    // to the passing doc's shape (plus the passing doc itself)
    val passText = (("the be to of and that have with " * 7).trim)  // 56 words, all alpha, len 2-4... mean len < 3!
    // mean word length of the stopword set is (3+2+2+2+3+4+4+4)/8 = 3.0
    // — exactly the lower bound, BETWEEN keeps it. All 8 stop words hit.
    val docs = Seq(
      (1L, passText),                               // passes every rule
      (2L, "short doc"),                            // n_words < 50
      (3L, ("- bullet line\n" * 10) + passText),    // bullet_frac — 10/11 lines > 0.9? 10/11=0.909 > 0.9 trips
      (4L, ("trailing dots...\n" * 5) + passText),  // ellipsis_frac 5/6 > 0.3
      (5L, passText + " " + ("### " * 20).trim),    // symbols: 60 '#' / 76 words > 0.1
      (6L, passText + " " + ("42 99 " * 30).trim)   // 60 numeric words / 116 -> alpha frac 56/116 < 0.8
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val got = TextOps.gopherRulesOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[Boolean]("pass"), s"doc 1 must pass: ${got(1L)}")
    assert(got(1L).getAs[Long]("n_words") == 56L)
    assert(got(1L).getAs[Double]("mean_word_len") == 3.0)
    assert(got(1L).getAs[Long]("n_stop_hits") == 8L)
    assert(!got(2L).getAs[Boolean]("pass") &&
      got(2L).getAs[Long]("n_words") == 2L)
    assert(!got(3L).getAs[Boolean]("pass") &&
      got(3L).getAs[Double]("bullet_frac") > 0.9)
    assert(!got(4L).getAs[Boolean]("pass") &&
      got(4L).getAs[Double]("ellipsis_frac") > 0.3)
    assert(!got(5L).getAs[Boolean]("pass") &&
      got(5L).getAs[Double]("symbol_ratio") > 0.1)
    assert(!got(6L).getAs[Boolean]("pass") &&
      got(6L).getAs[Double]("alpha_word_frac") < 0.8)
    // empty text: every per-word ratio NULL, verdict FALSE (not NULL)
    val empty = TextOps.gopherRulesOf(
      Seq((9L, "")).toDF("doc_id", "text")).collect().head
    assert(empty.getAs[Long]("n_words") == 0L)
    assert(empty.isNullAt(empty.fieldIndex("mean_word_len")))
    assert(!empty.getAs[Boolean]("pass"))
  }

  test("gopher repetition: hand-computed fractions on crafted repeat patterns") {
    import spark.implicits._
    val docs = Seq(
      // doc 1: 3 lines, one repeated -> dup_line_frac = 1/3;
      //   line chars: "abc x"(5)*2 + "unique line z"(13) = 23 total,
      //   dup chars = 5 -> dup_line_char_frac = 5/23
      (1L, "abc x\nunique line z\nabc x"),
      // doc 2: tokens "w w w q" (norm chars 7): top 2-gram "w w" c=2
      //   len=3 -> 6/7; top3 "w w w" c=1 len=5 -> 5/7; top4 "w w w q"
      //   c=1 len=7 -> 7/7; <5 tokens -> dup5 NULL -> pass false
      (2L, "w w w q"),
      // doc 3: "a b c d e a b c d e" (19 chars): every 5-gram distinct?
      //   5-grams: "a b c d e"(2 occurrences at 0 and 5), others 1 ->
      //   dup5 = 2*9/19
      (3L, "a b c d e a b c d e"),
      // doc 4: paragraphs (blank-line separated): "para one" x2 +
      //   "other" -> dup_para_frac = 1/3, char frac = 8/(8+8+5);
      //   LINE grain sees the same three non-blank lines -> same fracs
      (4L, "para one\n\npara one\n\nother")
    ).toDF("doc_id", "text")
    val got = TextOps.gopherRepetitionOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[Long]("n_lines") == 3L)
    assert(got(1L).getAs[Double]("dup_line_frac") == 1.0 / 3.0)
    assert(got(1L).getAs[Double]("dup_line_char_frac") == 5.0 / 23.0)
    assert(got(2L).getAs[Double]("top2_char_frac") == 6.0 / 7.0)
    assert(got(2L).getAs[Double]("top3_char_frac") == 5.0 / 7.0)
    assert(got(2L).getAs[Double]("top4_char_frac") == 7.0 / 7.0)
    assert(got(2L).isNullAt(got(2L).fieldIndex("dup5_char_frac")))
    assert(!got(2L).getAs[Boolean]("pass"),
      "NULL dup5 must fail closed")
    assert(got(3L).getAs[Double]("dup5_char_frac") == 18.0 / 19.0)
    assert(!got(3L).getAs[Boolean]("pass"))
    assert(got(1L).getAs[Double]("dup_para_frac") == 0.0,
      "single-paragraph doc has no paragraph dups")
    assert(got(4L).getAs[Double]("dup_para_frac") == 1.0 / 3.0)
    assert(got(4L).getAs[Double]("dup_para_char_frac") == 8.0 / 21.0)
    assert(got(4L).getAs[Double]("dup_line_frac") == 1.0 / 3.0)
    assert(!got(4L).getAs[Boolean]("pass"))
  }

  test("c4 rules: each line filter and page flag fires on a crafted doc") {
    import spark.implicits._
    val docs = Seq(
      // doc 1: 5 lines exercising each line rule; raw text has 6
      // sentence marks (5 terminal + javascript line's '.') -> >= 5
      (1L, "We keep this line here.\n" + // kept (punct, 5 words)
        "no terminal punctuation line\n" + // dropped: no terminal punct
        "Too short.\n" + // dropped: < 3 words
        "Please enable javascript to view.\n" + // dropped: javascript
        "Is this line kept?\nShort. Yes!"), // kept; last line < 3 words
      // doc 2: lorem ipsum page flag kills an otherwise-clean page
      (2L, "One clean sentence is right here.\nAnother one follows right there.\n" +
        "Lorem ipsum dolor sit amet. More words. And more. Even more."),
      // doc 3: curly-brace page flag
      (3L, "A fine sentence sits here.\nfunction f() { return 1; }\n" +
        "More text. And more. Plus more. Yet more."),
      // doc 4: too few sentences
      (4L, "Only one tiny sentence here."),
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = TextOps.c4RulesOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[Long]("n_lines") == 6L)
    assert(got(1L).getAs[Long]("n_kept_lines") == 2L)
    assert(got(1L).getAs[String]("clean_text") ==
      "We keep this line here.\nIs this line kept?")
    assert(got(1L).getAs[Long]("n_sentences") == 6L) // 4 kept-able terminal marks + 'Short.' 'Yes!'
    assert(got(1L).getAs[Boolean]("pass"))
    assert(got(2L).getAs[Boolean]("has_lorem_ipsum") &&
      !got(2L).getAs[Boolean]("pass"))
    assert(got(3L).getAs[Boolean]("has_curly_brace") &&
      !got(3L).getAs[Boolean]("pass"))
    assert(!got(4L).getAs[Boolean]("pass"),
      "a one-sentence page fails the >= 5 sentence rule")
    assert(got(5L).getAs[Long]("n_kept_lines") == 0L &&
      got(5L).getAs[String]("clean_text") == "" &&
      !got(5L).getAs[Boolean]("pass"),
      "NULL text yields an empty clean page that fails")
  }

  test("refinedweb rules: each line-removal rule fires; 5% doc threshold cuts both ways") {
    import spark.implicits._
    val docs = Seq(
      // doc 1: clean page, every line survives -> pass
      (1L, "This is a perfectly normal line of text.\n" +
        "Another normal line with several words follows."),
      // doc 2: one short boilerplate line on a long page -> removed but
      // under the 5% char threshold -> page still passes
      (2L, ("A reasonably long paragraph line with plenty of words here. " * 4).trim +
        "\nSign in\n" +
        ("Another long paragraph line with plenty of words in it too. " * 4).trim),
      // docs 3-7: each plants ONE removal rule on a short page -> fail
      (3L, "SHOUTING NAVIGATION HEADER MENU\nplain line here with words."),
      (4L, "123 456 7.5\nplain line here with words."),
      (5L, "17 likes\nplain line here with words."),
      (6L, "word\nplain line here with words."),
      (7L, "Please log in to continue\nplain line here with words."))
      .toDF("doc_id", "text")
    val got = TextOps.refinedwebRulesOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[Long]("n_removed_lines") == 0L &&
      got(1L).getAs[Boolean]("pass"))
    assert(got(2L).getAs[Long]("n_removed_lines") == 1L &&
      got(2L).getAs[Double]("removed_char_frac") < 0.05 &&
      got(2L).getAs[Boolean]("pass"),
      "a tiny removed line must not kill a long page")
    for (id <- 3L to 7L) {
      assert(got(id).getAs[Long]("n_removed_lines") == 1L,
        s"doc $id must lose exactly its planted bad line")
      assert(got(id).getAs[String]("clean_text") == "plain line here with words.",
        s"doc $id keeps only the plain line")
      assert(!got(id).getAs[Boolean]("pass"),
        s"doc $id exceeds the 5% modification threshold")
    }
  }

  test("refinedweb probe: zero-word docs yield one empty line on BOTH engines (r10 advice)") {
    import spark.implicits._
    // the r10 advice finding: Spark reassembles the probe lines into a
    // string and re-splits ('' -> ['']; n_lines = 1) while the old
    // DuckDB oracle consumed its line LIST directly ([] -> n_lines = 0).
    // The oracle now rebuilds + re-splits the same way (pl2 CTE); this
    // pins the Spark half of that contract so a fixture with
    // NULL/empty/whitespace-only text can never diverge the gate again.
    val dir = java.nio.file.Files.createTempDirectory("rwprobe").toString
    Seq((0L, ""), (1L, null.asInstanceOf[String]), (2L, "   "),
      (3L, "hello world this is fine text with words"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.functions.TextOps.refinedwebRules(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    for (id <- 0L to 2L) {
      assert(got(id).getAs[Long]("n_lines") == 1L,
        s"zero-word doc $id: reassemble+resplit yields exactly one empty line")
      assert(got(id).getAs[Long]("n_removed_lines") == 0L)
      assert(!got(id).getAs[Boolean]("pass"),
        "empty page: removed_char_frac is NULL -> fails the gate")
    }
    assert(got(3L).getAs[Long]("n_lines") == 2L && got(3L).getAs[Boolean]("pass"))
  }

  test("refinedweb apply: blank lines are structural — paragraph breaks survive cleaning") {
    import spark.implicits._
    // the review-found footgun: a '<= 1 word' single-word rule also
    // matches ZERO-word lines, silently collapsing paragraph structure
    // (and with it the Gopher dup_para gates, which split on blank
    // lines). Blank/whitespace-only lines must pass through untouched.
    // long enough that doc 2's one removed 9-char line stays under the
    // 5% doc threshold (the apply form would otherwise drop the doc)
    val para = "A normal paragraph line with plenty of words in it " * 4 + "end."
    val docs = Seq(
      (1L, s"$para\n\n$para\n \n$para"), // blank + whitespace-only separators
      (2L, s"$para\nSubscribe\n$para")) // a real single-word boilerplate line
      .toDF("doc_id", "text")
    val got = TextOps.refinedwebCleanApply(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(got(1L) == s"$para\n\n$para\n \n$para",
      "blank and whitespace-only lines are kept verbatim")
    assert(got(2L) == s"$para\n$para",
      "a genuine one-word boilerplate line is still removed")
    // and the report form agrees (shared core)
    val rep = TextOps.refinedwebRulesOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_removed_lines")).toMap
    assert(rep(1L) == 0L && rep(2L) == 1L)
  }

  test("readability: hand-computed Flesch on a crafted two-sentence doc") {
    import spark.implicits._
    val docs = Seq((1L, "The cat sat. It ran!")).toDF("doc_id", "text")
    val row = graft.functions.TextOps.readabilityOf(docs).head()
    assert(row.getLong(1) == 2L, "two sentences")
    assert(row.getLong(2) == 5L, "five words")
    assert(row.getLong(3) == 5L, "five single-syllable words")
    assert(row.getDouble(4) == 206.835 - 1.015 * (5.0 / 2.0) - 84.6 * 1.0)
  }

  test("BPE pair stats count overlapping occurrences; merge fold is greedy leftmost") {
    import spark.implicits._
    val docs = Seq("aaaa aaaa").toDF("text")
    val got = graft.functions.TextOps.bpeMergeTrain(docs, iters = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toList
    // vocab: aaaa:2. iter1: overlapping 'a a' pairs = 3 per word * 2 = 6;
    // greedy fold: [a,a,a,a] -> [aa,aa]. iter2: 'aa aa' = 1 * 2 = 2.
    assert(got == List((1, "a", "a", 6L), (2, "aa", "aa", 2L)), s"got $got")
  }

  private def norm(t: String): Array[String] = t.toLowerCase
    .replaceAll("[^a-z0-9 ]", " ").replaceAll(" +", " ").trim.split(" ", -1)

  private lazy val docs: Map[Long, Array[String]] =
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> norm(r.getString(1))).toMap

  test("bm25TopK: full plain-JVM reference on the corpus (ranks, tf, df, dl)") {
    val tf = docs.toSeq.flatMap { case (id, ts) =>
      ts.groupBy(identity).map { case (t, xs) => (id, t, xs.length.toLong) }
    }
    val dfreq = tf.groupBy(_._2).map { case (t, xs) => t -> xs.length.toLong }
    val dl = tf.groupBy(_._1).map { case (id, xs) => id -> xs.map(_._3).sum }
    val nDocs = docs.size.toLong
    val avgdl = dl.values.sum.toDouble / nDocs.toDouble
    // arithmetic mirrors the registered expression ORDER exactly —
    // same literals, same association — so doubles are bit-identical
    def score(tfc: Long, df: Long, dlc: Long): Double = {
      val idf = math.log(1.0 + (nDocs.toDouble - df + 0.5) / (df.toDouble + 0.5))
      idf * (tfc.toDouble * 2.2) /
        (tfc.toDouble + 1.2 * (0.25 + 0.75 * dlc.toDouble / avgdl))
    }
    val expect = tf.groupBy(_._1).map { case (id, xs) =>
      id -> xs.map { case (_, t, c) => (t, c, dfreq(t), dl(id)) }
        .sortBy { case (t, c, df, d) => (-score(c, df, d), t) }
        .take(5)
    }
    val got = TextOps.bm25TopK(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
      .groupBy(_._1)
    assert(got.keySet == docs.keySet, "every doc gets a top-k")
    for ((id, rows) <- got) {
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length), s"doc $id ranks")
      assert(sorted.map { case (_, _, t, c, df, d) => (t, c, df, d) }.toSeq ==
        expect(id), s"doc $id top-5 terms")
    }
  }

  test("vocabOov: top-100 vocabulary coverage matches plain-JVM reference") {
    val counts = docs.values.toSeq.flatten.groupBy(identity)
      .map { case (t, xs) => t -> xs.length.toLong }
    val vocab = counts.toSeq.sortBy { case (t, c) => (-c, t) }
      .take(100).map(_._1).toSet
    val got = TextOps.vocabOov(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.length == docs.size, "one coverage row per doc")
    for ((id, n, oov, rate) <- got) {
      val ts = docs(id)
      val expOov = ts.count(t => !vocab.contains(t)).toLong
      assert(n == ts.length.toLong, s"doc $id token count")
      assert(oov == expOov, s"doc $id oov count")
      assert(rate == expOov.toDouble / ts.length.toDouble, s"doc $id rate")
    }
  }

  test("countMinTopK: one-sided CMS guarantee; exact counts match a plain-JVM reference") {
    val counts = docs.values.toSeq.flatten.groupBy(identity)
      .map { case (t, xs) => t -> xs.length.toLong }
    val expectTop = counts.toSeq.sortBy { case (t, c) => (-c, t) }.take(20)
    val got = TextOps.countMinTopK(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(t => (t._1, t._2)).toSeq == expectTop, "top-20 exact counts")
    for ((term, tf, est, over) <- got) {
      assert(est >= tf, s"$term: CMS must never underestimate")
      assert(over == est - tf, s"$term overestimate arithmetic")
    }
  }

  test("bpePairStats: top-20 character pairs match a plain-JVM reference") {
    val pairs = docs.values.toSeq.flatten
      .filter(_.length >= 2)
      .flatMap(w => (0 until w.length - 1).map(i => w.substring(i, i + 2)))
      .groupBy(identity).map { case (p, xs) => p -> xs.length.toLong }
    val expect = pairs.toSeq.sortBy { case (p, c) => (-c, p) }.take(20)
    val got = TextOps.bpePairStats(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == expect)
  }

  test("surprisalBuckets: thresholds are DECIMAL(18,6)-rounded exact terciles; buckets match the cuts") {
    val out = Cleaning.surprisalBuckets(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getString(5)))
    assert(out.length == docs.size, "every doc bucketed")
    val Array(t33, t66) = Array(out.head._3, out.head._4)
    assert(out.forall(r => r._3 == t33 && r._4 == t66), "cuts are corpus-wide")
    assert(t33 <= t66, "tercile order")
    // plain-JVM reference thresholds: linear-interpolation percentile
    // over the per-doc means, then the same DECIMAL(18,6) rounding
    val means = out.map(_._2).sorted
    def pct(p: Double): Double = {
      val pos = p * (means.length - 1)
      val lo = pos.toInt
      val v =
        if (lo == means.length - 1) means(lo)
        else means(lo) + (means(lo + 1) - means(lo)) * (pos - lo)
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(t33 == pct(0.3333), s"t33 $t33 != ${pct(0.3333)}")
    assert(t66 == pct(0.6667), s"t66 $t66 != ${pct(0.6667)}")
    val byBucket = out.groupBy(_._5).view.mapValues(_.length).toMap
    assert(byBucket.keySet.subsetOf(Set("head", "middle", "tail")))
    assert(byBucket.contains("head") && byBucket.contains("tail"),
      "outer buckets populated")
    // heavily tied score distributions can pinch the cuts together, in
    // which case (and only then) middle is legitimately empty
    assert(byBucket.contains("middle") || t33 == t66,
      "middle empty despite distinct cuts")
    out.foreach { case (id, m, _, _, b) =>
      val exp = if (m <= t33) "head" else if (m <= t66) "middle" else "tail"
      assert(b == exp, s"doc $id bucket")
    }
  }

  test("zipf spectrum: planted bucket census matches a JVM mirror of the bit-quantized OLS") {
    import spark.implicits._
    // counts: one term x8 (bucket 3), two x4 (bucket 2), four x2
    // (bucket 1), eight x1 (bucket 0)
    val words =
      Seq.fill(8)("t8") ++
        Seq.tabulate(2)(i => s"f$i").flatMap(w => Seq.fill(4)(w)) ++
        Seq.tabulate(4)(i => s"p$i").flatMap(w => Seq.fill(2)(w)) ++
        Seq.tabulate(8)(i => s"s$i")
    val docs = Seq((1L, words.mkString(" "), "en", "web", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("zipf").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val row = TextOps.zipfSpectrum(spark, dir).head()
    assert(row.getAs[Long]("vocab") == 15L)
    assert(row.getAs[Long]("total_tf") == 8L + 8L + 8L + 8L)
    assert(row.getAs[Long]("n_buckets") == 4L)
    // mirror: (x, y) = (3,0) (2,1) (1,2) (0,3) -> perfect slope -1, r2 = 1
    assert(row.getAs[Double]("slope") == -1.0)
    assert(row.getAs[Double]("intercept") == 3.0)
    assert(row.getAs[Double]("r2") == 1.0)
  }

  test("zipf spectrum: single-bucket degenerate corpus yields NULL fit, not NaN/Inf") {
    import spark.implicits._
    // every term appears exactly once -> one log2 bucket -> x-variance 0
    val docs = Seq((1L, "alpha beta gamma delta", "en", "web", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val row = TextOps.zipfSpectrumOf(docs).head()
    assert(row.getAs[Long]("n_buckets") == 1L)
    assert(row.isNullAt(row.fieldIndex("slope")))
    assert(row.isNullAt(row.fieldIndex("intercept")))
    assert(row.isNullAt(row.fieldIndex("r2")))
  }

  test("RRF fusion: emitted score is exactly the reciprocal-rank sum, ordering is fused-score-desc") {
    val rows = TextOps.rrfFusion(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      val lex = if (r.isNullAt(r.fieldIndex("lex_rank"))) None
        else Some(r.getAs[Int]("lex_rank"))
      val sem = if (r.isNullAt(r.fieldIndex("sem_rank"))) None
        else Some(r.getAs[Int]("sem_rank"))
      assert(lex.isDefined || sem.isDefined)
      val expect = lex.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
        sem.map(x => 1.0 / (60 + x)).getOrElse(0.0)
      assert(r.getAs[Double]("rrf_score") == expect, s"row $r")
    }
    val scores = rows.map(_.getAs[Double]("rrf_score"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    // both arms contribute: at least one row carries each rank kind
    assert(rows.exists(!_.isNullAt(1)) && rows.exists(!_.isNullAt(2)))
  }

  test("token budget: shares sum to 1, cum share ends at 1, ordering biggest-first") {
    val rows = TextOps.tokenBudget(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(math.abs(rows.map(_.getAs[Double]("token_share")).sum - 1.0) < 1e-12)
    assert(math.abs(rows.last.getAs[Double]("cum_share") - 1.0) < 1e-12)
    val tokens = rows.map(_.getAs[Long]("n_tokens"))
    assert(tokens.zip(tokens.tail).forall { case (a, b) => a >= b })
    val cums = rows.map(_.getAs[Double]("cum_share"))
    assert(cums.zip(cums.tail).forall { case (a, b) => a <= b })
  }
}
