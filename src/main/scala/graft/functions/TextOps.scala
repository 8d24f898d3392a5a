package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftQuery
import graft.engine.Shared
import graft.engine.Tables.load

/** Text analysis for training-data pipelines (north-star Tier B):
  * token counting (whitespace + BPE-ish regex), language-ID heuristic,
  * quality scoring, and document fingerprinting. All stay inside
  * whole-stage codegen (builtin string/regex/higher-order functions — no
  * UDFs), so at 100 TB they run as a single scan with no shuffle.
  */
object TextOps {

  /** BPE-ish pretokenizer: letter runs, digit runs, single punctuation. */
  val bpeTokenPattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"

  def whitespaceTokens(c: Column): Column = split(c, " ")

  /** Lowercase, strip non-alphanumerics, collapse runs of spaces — the
    * canonical normalization step before fingerprinting/dedup. Routed
    * through the native single-pass
    * [[graft.functions.NormalizeTextExpr]] (byte-identical to the
    * two-regex formulation [[normalizeTextRegex]] that the DuckDB
    * oracles mirror — equivalence spec-pinned; measured ~5× on the
    * corpus scan). Like every graft_* consumer in this module, it
    * needs a session that carries the graft_* functions: one tuned
    * where it entered the library (GraftSession), or one built with
    * GraftExtensions.
    */
  def normalizeText(c: Column): Column = call_function("graft_norm_text", c)

  /** The reference two-regex formulation of [[normalizeText]] — kept as
    * the executable definition the oracle SQL fragments and the
    * equivalence spec compare against.
    */
  def normalizeTextRegex(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))

  /** Stable 128-bit content fingerprint of the normalized text. */
  def fingerprint(c: Column): Column = md5(normalizeText(c))

  /** DuckDB mirrors of [[normalizeText]] — the canonical fragments every
    * tokenizing oracle must embed (SparkEntrySpec pins that no oracle
    * carries a drifted copy, so a normalization change cannot silently
    * desynchronize one oracle from the Spark side).
    */
  val duckNormSql: String =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
  val duckNormToksSql: String = s"string_split($duckNormSql, ' ')"

  // language-ID marker-word regexes; scored per language, argmax with a
  // fixed tie preference (zh > en > de > es > fr)
  private val langMarkers: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|a|and|of|to|is)\\b",
    "de" -> "\\b(der|die|das|und|ist|nicht)\\b",
    "es" -> "\\b(el|la|los|de|que|y)\\b",
    "fr" -> "\\b(le|la|les|des|est|et)\\b")
  private val cjkPattern = "[\\u4e00-\\u9fff]"

  /** n-gram/marker-word language-ID heuristic over a text column. */
  def languageIdScores(c: Column): Seq[(String, Column)] =
    langMarkers.map { case (lang, pat) => lang -> regexp_count(c, lit(pat)) }

  def predictedLanguage(c: Column): Column = {
    val s = languageIdScores(c).toMap
    when(regexp_count(c, lit(cjkPattern)) > 0, "zh")
      .when(s("en") >= s("de") && s("en") >= s("es") && s("en") >= s("fr"), "en")
      .when(s("de") >= s("es") && s("de") >= s("fr"), "de")
      .when(s("es") >= s("fr"), "es")
      .otherwise("fr")
  }

  /** Scalar string-function sweep (the engine's everyday warehouse
    * surface beyond the reference's replace/NVL): case mapping,
    * substring/pad, regex extraction, position, reverse, edit distance.
    */
  def stringFuncs(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "customer")
      .select(
        col("c_custkey"),
        upper(col("c_name")).as("uname"),
        lower(col("c_mktsegment")).as("lseg"),
        substring(col("c_name"), 1, 8).as("prefix8"),
        lpad(col("c_custkey").cast(StringType), 10, "0").as("padded_key"),
        regexp_extract(col("c_name"), "([0-9]+)", 1).as("name_digits"),
        instr(col("c_name"), "#").as("hash_pos"),
        reverse(col("c_name")).as("rev_name"),
        levenshtein(col("c_mktsegment"), lit("BUILDING")).as("seg_dist"),
        // backreference dialects differ ($1 in Spark/Java, \1 in DuckDB/RE2)
        // - the oracle uses its own; results must agree
        regexp_replace(col("c_name"), lit("Customer#0*([0-9]+)"), lit("C-$1"))
          .as("short_name"))
      .orderBy("c_custkey")

  // ---- registered queries --------------------------------------------

  def textStats(s: SparkSession, dir: String): DataFrame = {
    // NULL text folds to '' (legacy size(NULL) = -1 under ansi-off would
    // diverge from the oracles' NULL); same guard as extractAll
    val txt = coalesce(col("text"), lit(""))
    load(s, dir, "documents")
      .select(
        col("doc_id"),
        length(txt).as("n_chars_c"),
        size(whitespaceTokens(txt)).as("n_tokens"),
        size(array_distinct(whitespaceTokens(txt))).as("n_distinct_tokens"),
        regexp_count(txt, lit(bpeTokenPattern)).as("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  /** Sentence segmentation stats. The pattern avoids every Java/RE2
    * semantic gap: no lookbehind (RE2 lacks it), an EXPLICIT whitespace
    * class instead of `\s` (Java's includes U+000B, RE2's doesn't), and
    * `\z` instead of `$` (Java's `$` also matches before a final line
    * terminator; `\z` is end-of-input in both). Division is
    * exact-int → double, once.
    */
  def sentenceStats(s: SparkSession, dir: String): DataFrame = {
    val txt = coalesce(col("text"), lit(""))
    val nSent = regexp_count(txt, lit("[.!?]+([ \\t\\n\\r\\f]|\\z)"))
    load(s, dir, "documents")
      .select(
        col("doc_id"),
        nSent.as("n_sentences"),
        (length(txt).cast("double") /
          greatest(nSent, lit(1)).cast("double")).as("avg_sentence_chars"))
      .orderBy("doc_id")
  }

  def langId(s: SparkSession, dir: String): DataFrame = {
    val txt = coalesce(col("text"), lit(""))
    val scores = languageIdScores(txt).map { case (l, c) => c.as(s"score_$l") }
    load(s, dir, "documents")
      .select(
        Seq(col("doc_id"), col("lang").as("labeled_lang")) ++ scores
          :+ predictedLanguage(txt).as("predicted_lang"): _*)
      .orderBy("doc_id")
  }

  def qualityScore(s: SparkSession, dir: String): DataFrame = {
    val txt = coalesce(col("text"), lit(""))
    val nTokens = size(whitespaceTokens(txt))
    val nChars = length(txt)
    val stopHits = regexp_count(txt, lit(langMarkers.head._2))
    val punct = regexp_count(txt, lit("[^a-zA-Z0-9\\s]"))
    load(s, dir, "documents")
      .select(
        col("doc_id"),
        nTokens.as("n_tokens"),
        (nChars.cast(DoubleType) / nTokens).as("avg_token_span"),
        (stopHits.cast(DoubleType) / nTokens).as("stopword_ratio"),
        (punct.cast(DoubleType) / greatest(nChars, lit(1))).as("punct_ratio"),
        (nTokens >= 10 && nTokens <= 2000
          && punct.cast(DoubleType) / greatest(nChars, lit(1)) < lit(0.2))
          .as("passes_quality"))
      .orderBy("doc_id")
  }

  /** Gopher quality-filter rule set (Rae et al. 2021, "Scaling Language
    * Models: Methods, Analysis & Insights from Training Gopher",
    * Appendix A1.1) — the published heuristic battery production
    * crawl-cleaning pipelines apply verbatim: word-count window, mean
    * word length window, symbol-to-word ratio (# and ellipsis), bullet-
    * and ellipsis-line fractions, alphabetic-word fraction, and the
    * ≥2-of-8 English stop-word requirement. Emitted as the raw rule
    * values plus the conjunctive verdict so downstream mixes can gate
    * on individual rules.
    *
    * 100 TB shape: entirely row-local (HOF array lambdas + replace
    * arithmetic — no regexp explode, no shuffle, no UDF); the oracle
    * recomputes every rule with DuckDB list lambdas, and every ratio is
    * ONE integer/integer division so the doubles are bit-identical.
    */
  def gopherRulesOf(docs: DataFrame): DataFrame = {
    val nw = col("__nw")
    docs
      .withColumn("__t", coalesce(col("text"), lit("")))
      .withColumn("__w", expr("filter(split(__t, '\\\\s+'), x -> x <> '')"))
      .withColumn("__wl", expr("transform(__w, x -> lower(x))"))
      .withColumn("__ls", split(col("__t"), "\n"))
      .withColumn("__nw", size(col("__w")).cast("long"))
      .withColumn("__wlen",
        expr("aggregate(__w, 0L, (a, x) -> a + length(x))"))
      .withColumn("__nsym", expr(
        "CAST(length(__t) - length(replace(__t, '#', '')) AS BIGINT) + " +
          "CAST((length(__t) - length(replace(__t, '...', ''))) div 3 AS BIGINT)"))
      .select(
        col("doc_id"),
        nw.as("n_words"),
        (col("__wlen").cast("double") / nullif(nw, lit(0L))).as("mean_word_len"),
        (col("__nsym").cast("double") / nullif(nw, lit(0L))).as("symbol_ratio"),
        (size(expr("filter(__ls, l -> l rlike '^\\\\s*[-*•]')")).cast("double") /
          size(col("__ls")).cast("double")).as("bullet_frac"),
        (size(expr("filter(__ls, l -> l rlike '(\\\\.\\\\.\\\\.|…)\\\\s*$')")).cast("double") /
          size(col("__ls")).cast("double")).as("ellipsis_frac"),
        (size(expr("filter(__w, x -> x rlike '[A-Za-z]')")).cast("double") /
          nullif(nw, lit(0L))).as("alpha_word_frac"),
        expr("size(filter(array('the','be','to','of','and','that','have','with'), " +
          "sw -> array_contains(__wl, sw)))").cast("long").as("n_stop_hits"))
      .select(col("doc_id"), col("n_words"), col("mean_word_len"),
        col("symbol_ratio"), col("bullet_frac"), col("ellipsis_frac"),
        col("alpha_word_frac"), col("n_stop_hits"),
        coalesce(
          col("n_words").between(50L, 100000L) &&
            col("mean_word_len").between(3.0, 10.0) &&
            col("symbol_ratio") < 0.1 &&
            col("bullet_frac") < 0.9 &&
            col("ellipsis_frac") < 0.3 &&
            col("alpha_word_frac") > 0.8 &&
            col("n_stop_hits") >= 2L,
          lit(false)).as("pass"))
      .orderBy("doc_id")
  }

  def gopherRules(s: SparkSession, dir: String): DataFrame =
    gopherRulesOf(load(s, dir, "documents"))

  /** C4 cleaning battery (Raffel et al. 2020 §2.2 — the "Colossal
    * Clean Crawled Corpus" heuristics), the third published filter set
    * alongside the two Gopher batteries: per doc, keep only lines that
    * end in a terminal punctuation mark (period / exclamation /
    * question / closing quote), contain ≥ 3 words, and do not mention
    * "javascript" (boilerplate JS warnings); report the kept-line
    * census, the kept-character fraction, the page sentence count, the
    * "lorem ipsum" and curly-brace page flags, the reassembled clean
    * text, and the paper's conjunctive page verdict (≥ 5 sentences, no
    * lorem ipsum, no `{`). The paper's remaining rules live elsewhere:
    * its three-sentence-span dedup is [[graft.ext.Dedup.spanDedupStats]]
    * at span grain / [[graft.ext.Dedup.lineDedup]] at line grain, its
    * langdetect gate is [[langId]], and its blocklist-word page filter
    * is a pluggable word list by construction (no list ships here —
    * compose with a `exists(__wl, w -> array_contains(...))` gate).
    *
    * 100 TB shape: entirely row-local (split / filter / aggregate HOF
    * lambdas inside whole-stage codegen) — ZERO shuffles before the
    * presentation sort, the same geometry as [[gopherRulesOf]]; at
    * cluster scale this is a map-only pass that fuses into the scan.
    */
  def c4RulesOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("__t", coalesce(col("text"), lit("")))
      .withColumn("__ls", split(col("__t"), "\n"))
      .withColumn("__kept", expr(
        """filter(__ls, l -> l rlike '[.!?"”]\\s*$'
          | AND size(filter(split(l, '\\s+'), x -> x <> '')) >= 3
          | AND NOT contains(lower(l), 'javascript'))""".stripMargin))
      .select(
        col("doc_id"),
        size(col("__ls")).cast("long").as("n_lines"),
        size(col("__kept")).cast("long").as("n_kept_lines"),
        (expr("aggregate(__kept, 0L, (a, x) -> a + length(x))").cast("double") /
          nullif(expr("aggregate(__ls, 0L, (a, x) -> a + length(x))"),
            lit(0L)).cast("double")).as("kept_char_frac"),
        size(expr("regexp_extract_all(__t, '[.!?]', 0)")).cast("long")
          .as("n_sentences"),
        contains(lower(col("__t")), lit("lorem ipsum")).as("has_lorem_ipsum"),
        contains(col("__t"), lit("{")).as("has_curly_brace"),
        concat_ws("\n", col("__kept")).as("clean_text"))
      .withColumn("pass",
        col("n_sentences") >= 5L && !col("has_lorem_ipsum") &&
          !col("has_curly_brace"))
      .orderBy("doc_id")

  /** Deterministic C4 probe corpus: the synthetic fixture texts have
    * no line structure, punctuation, braces or lorem-ipsum, so the raw
    * battery would be VACUOUS on them (0 kept lines, 0 passes — the
    * exact failure mode the verify gotchas flag for near-dup keys).
    * Re-lines each doc from its OWN words (6-word lines) with a
    * doc_id-seeded terminal-suffix cycle ('.', '', ' javascript.',
    * '!', '?') and appends page-level plants (a `{` block line for
    * doc_id % 37 == 0, a lorem-ipsum line for % 41 == 0) so every rule
    * fires on real data — the [[graft.ext.WebOps]] planted-refetch-URL
    * precedent. Purely row-local on both engines.
    */
  private def withC4ProbeText(docs: DataFrame): DataFrame =
    docs
      .withColumn("__cw",
        expr("filter(split(coalesce(text, ''), '\\\\s+'), x -> x <> '')"))
      .withColumn("__cl", expr(
        """CASE WHEN size(__cw) = 0 THEN CAST(array() AS ARRAY<STRING>)
          | ELSE transform(sequence(0, CAST(ceil(size(__cw) / 6.0) AS INT) - 1),
          |   i -> concat(concat_ws(' ', slice(__cw, i * 6 + 1, 6)),
          |     CASE CAST((doc_id + i) % 5 AS INT) WHEN 0 THEN '.'
          |       WHEN 1 THEN '' WHEN 2 THEN ' javascript.'
          |       WHEN 3 THEN '!' ELSE '?' END))
          | END""".stripMargin))
      .withColumn("text", concat(concat_ws("\n", col("__cl")),
        when(col("doc_id") % 37 === 0, lit("\nlayout { width }"))
          .otherwise(lit("")),
        when(col("doc_id") % 41 === 0, lit("\nLorem ipsum dolor sit amet."))
          .otherwise(lit(""))))
      .drop("__cw", "__cl")

  def c4Rules(s: SparkSession, dir: String): DataFrame =
    c4RulesOf(withC4ProbeText(load(s, dir, "documents")))

  /** RefinedWeb line-wise correction battery (Penedo et al. 2023 §G /
    * Falcon) — the third published cleaning set beside [[c4RulesOf]]
    * and [[gopherRulesOf]], and the LINE-REMOVAL half C4 lacks: drop
    * lines that are uppercase-heavy (> 60% of alphabetic chars), purely
    * numerical, social-media counters ("17 likes"), single-word, or
    * short login/navigation boilerplate ("Sign in …", ≤ 8 words); then
    * drop the whole DOCUMENT if the removed lines account for more
    * than 5% of its characters (the paper's doc-level modification
    * threshold). Reports the removal census, the reassembled clean
    * text, and the verdict.
    *
    * 100 TB shape: identical to [[c4RulesOf]] — row-local HOF lambdas
    * in whole-stage codegen, ZERO shuffles before the presentation
    * sort; a map-only pass that fuses into the scan.
    */
  /** The RefinedWeb line-removal predicate as a kept-lines HOF over a
    * line-array column — the shared row-local core of
    * [[refinedwebRulesOf]] (the registered, oracle-gated report) and
    * [[refinedwebCleanApply]] (the TrainingPipeline stage): one
    * definition, so the pipeline can never drift from the gated rules.
    * The single-word rule is EXACTLY one word (`= 1`, the paper's
    * "only contains one word"): blank/whitespace-only lines have ZERO
    * words and are STRUCTURAL — stripping them would silently collapse
    * paragraph boundaries, blinding the downstream Gopher
    * paragraph-repetition gates (which split on blank lines) and
    * rewriting every clean doc ([[graft.ext.Dedup.lineDedup]] states
    * the same blank-lines-are-structural policy).
    */
  private def rwKeptLines(lsCol: String): Column = expr(
    s"""filter($lsCol, l -> NOT (
       |  (length(regexp_replace(l, '[^A-Za-z]', '')) > 0 AND
       |   CAST(length(regexp_replace(l, '[^A-Z]', '')) AS DOUBLE) /
       |     length(regexp_replace(l, '[^A-Za-z]', '')) > 0.6)
       |  OR (l rlike '^[0-9 .,%]+$$' AND l rlike '[0-9]')
       |  OR l rlike '^[0-9]+ (likes|views|shares|comments|upvotes)$$'
       |  OR size(filter(split(l, '\\\\s+'), x -> x <> '')) = 1
       |  OR (size(filter(split(l, '\\\\s+'), x -> x <> '')) BETWEEN 2 AND 8 AND
       |      lower(l) rlike '(sign in|log in|subscribe|accept cookies)')
       |))""".stripMargin)

  def refinedwebRulesOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("__t", coalesce(col("text"), lit("")))
      .withColumn("__ls", split(col("__t"), "\n"))
      .withColumn("__kept", rwKeptLines("__ls"))
      .select(
        col("doc_id"),
        size(col("__ls")).cast("long").as("n_lines"),
        (size(col("__ls")) - size(col("__kept"))).cast("long")
          .as("n_removed_lines"),
        (lit(1.0) -
          expr("aggregate(__kept, 0L, (a, x) -> a + length(x))").cast("double") /
            nullif(expr("aggregate(__ls, 0L, (a, x) -> a + length(x))"),
              lit(0L)).cast("double")).as("removed_char_frac"),
        concat_ws("\n", col("__kept")).as("clean_text"))
      .withColumn("pass",
        coalesce(col("removed_char_frac") <= 0.05, lit(false)))
      .orderBy("doc_id")

  /** APPLY form of the RefinedWeb line corrections — the
    * [[graft.ext.TrainingPipeline]] stage-1.5 core: rewrites `text` to
    * its kept lines and DROPS docs whose removed lines exceed
    * `maxRemovedFrac` of their characters (the paper's doc-level
    * modification threshold — a page that is mostly navigation /
    * counters / login boilerplate is itself boilerplate). Docs with no
    * characters pass through untouched (frac is NULL → kept; the
    * pipeline's row-local min-token gate owns empty-doc policy).
    * Shares [[rwKeptLines]] with the oracle-gated report, so the
    * applied rules can never drift from the gated ones.
    *
    * 100 TB shape: row-local (ZERO shuffles, no join — the report
    * form's per-doc row is 1:1 with its input, so application is a
    * column rewrite, never a join-back).
    */
  def refinedwebCleanApply(docs: DataFrame,
      maxRemovedFrac: Double = 0.05): DataFrame =
    docs
      .withColumn("__ls", split(coalesce(col("text"), lit("")), "\n"))
      .withColumn("__kept", rwKeptLines("__ls"))
      .withColumn("__rcf", lit(1.0) -
        expr("aggregate(__kept, 0L, (a, x) -> a + length(x))").cast("double") /
          nullif(expr("aggregate(__ls, 0L, (a, x) -> a + length(x))"),
            lit(0L)).cast("double"))
      .where(coalesce(col("__rcf") <= maxRemovedFrac, lit(true)))
      .withColumn("text", concat_ws("\n", col("__kept")))
      .drop("__ls", "__kept", "__rcf")

  /** Deterministic RefinedWeb probe corpus (same rationale as
    * [[withC4ProbeText]] — the fixture texts have no line structure,
    * so the raw battery would be vacuous): re-lines each doc from its
    * own words (5-word lines); docs with doc_id % 4 != 0 additionally
    * get planted bad lines on a (doc_id + i) % 19 cycle — numeric
    * (15), UPPERCASE (16), "<n> likes" counter (17), "Sign in to
    * continue" (18) — so every removal rule fires, a quarter of the
    * corpus stays fully clean, and the 5% doc threshold cuts both
    * ways. Purely row-local on both engines.
    */
  private def withRefinedWebProbeText(docs: DataFrame): DataFrame =
    docs
      .withColumn("__rw",
        expr("filter(split(coalesce(text, ''), '\\\\s+'), x -> x <> '')"))
      .withColumn("text", expr(
        """concat_ws('\n', CASE WHEN size(__rw) = 0 THEN CAST(array() AS ARRAY<STRING>)
          | ELSE transform(sequence(0, CAST(ceil(size(__rw) / 5.0) AS INT) - 1), i ->
          |   CASE WHEN doc_id % 4 != 0 AND (doc_id + i) % 19 = 15
          |          THEN concat(CAST((doc_id + i) % 997 AS STRING), ' ',
          |                      CAST(i % 10 AS STRING))
          |        WHEN doc_id % 4 != 0 AND (doc_id + i) % 19 = 16
          |          THEN upper(concat_ws(' ', slice(__rw, i * 5 + 1, 5)))
          |        WHEN doc_id % 4 != 0 AND (doc_id + i) % 19 = 17
          |          THEN concat(CAST((doc_id + i) % 50 AS STRING), ' likes')
          |        WHEN doc_id % 4 != 0 AND (doc_id + i) % 19 = 18
          |          THEN 'Sign in to continue'
          |        ELSE concat(concat_ws(' ', slice(__rw, i * 5 + 1, 5)), '.')
          |   END)
          | END)""".stripMargin))
      .drop("__rw")

  def refinedwebRules(s: SparkSession, dir: String): DataFrame =
    refinedwebRulesOf(withRefinedWebProbeText(load(s, dir, "documents")))

  /** Gopher REPETITION-removal battery (Rae et al. 2021 A1.1, table
    * A1) — the intra-document half that pairs with [[gopherRulesOf]]:
    * duplicate-line fraction and duplicate-line CHARACTER fraction
    * (non-blank raw lines; occurrences beyond each line's first),
    * their PARAGRAPH-grain twins (units split on blank lines, same
    * census), top-{2,3,4}-gram character fractions (most frequent normalized
    * n-gram's occurrence chars over normalized chars; ties broken
    * deterministically toward the lexicographically LARGEST gram on
    * both engines), and the duplicate-5-gram character fraction as
    * OCCURRENCE MASS (all occurrences of 5-grams appearing ≥2 times —
    * an upper bound of the paper's position-deduped variant; the
    * difference only matters for self-overlapping grams, and the
    * bound direction makes the filter strictly more conservative).
    * Thresholds are the paper's: 0.30 / 0.20 (lines), 0.30 / 0.20
    * (paragraphs), 0.20 / 0.18 / 0.16 (top grams), 0.15 (dup 5-gram);
    * docs too short to form a gram fail closed (NULL → false),
    * consistent with [[gopherRulesOf]]'s empty-text rule.
    *
    * 100 TB shape: per-doc grains only — five map-side-combinable
    * (doc, unit) aggregates reduced to per-doc rows, then SMJ-pinned
    * doc-keyed joins (every side is corpus-scale; the sf10 broadcast
    * lesson). All products inside the sums are doc-local (≤ doc
    * chars), see OverflowAuditSpec's allowlist bound.
    *
    * The (doc, n, gram) census keys on the gram STRING. The
    * q_contamination precedent (xxhash64 gram keys, 15.3 → 1.6 s) was
    * probed here and does NOT transfer: contamination could DROP the
    * gram string after hashing, but this census still needs it —
    * `length(g)` in the char masses and the lexicographic top-gram
    * tie-break — so a hashed key ships the same string bytes as a
    * `max(g)` payload PLUS the 8-byte key. The interleaved A/B measured
    * it a wash at sf0.1 (3.50 vs 3.78 s) and a LOSS at sf1 (10.2 vs
    * 9.25 s; census stage 8.3 vs 7.3 s; BASELINE.md), and a raw 64-bit
    * key would also merge colliding grams. The r10 win here is
    * structural instead: one consumer chain (below) halves the
    * explode+census work.
    */
  def gopherRepetitionOf(docs: DataFrame): DataFrame = {
    // the censuses stay unshared, MEASURED in r13 (the third recorded
    // rejection for this key): one doc_id-keyed exchange of the raw
    // text feeding all three unit censuses + the final join does
    // satisfy every downstream ClusteredDistribution, but it LOSES the
    // interleaved same-JVM A/B/A/B decisively: sf0.1 median 5.11 s
    // shared vs 4.20 s unshared, sf1 14.74 vs 10.01 s (−47%;
    // OPTIMIZATION_r13.md). Each census would RE-READ (decompress) the
    // full shuffled raw text from the shared exchange — 4 shuffle-read
    // passes over corpus text — while the unshared censuses each scan
    // cached columnar parquet and shuffle only map-side-COMBINED unit
    // streams, which the shared shape's post-exchange complete
    // aggregation gives up. The substring/setsim precedent shuffles
    // hashed TOKENS either way; here the shared exchange carries raw
    // text, which is the heavier payload.
    val base = docs
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("__t"),
        normalizeText(col("text")).as("__norm"))
      .withColumn("__nc", length(col("__norm")).cast("long"))
      .withColumn("__tk", expr("filter(split(__norm, ' '), x -> x <> '')"))
    // lines and paragraphs share one duplicate-unit census shape
    def unitStat(splitRe: String, unit: String, nCol: String) = base
      .select(col("doc_id"),
        explode(expr(s"filter(split(__t, '$splitRe'), u -> trim(u) <> '')"))
          .as("u"))
      .groupBy("doc_id", "u").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum(col("c")).as(nCol),
        count(lit(1)).as("__ndist"),
        sum(col("c") * length(col("u")).cast("long")).as("__uchars"),
        sum((col("c") - 1) * length(col("u")).cast("long")).as("__dchars"))
      .select(col("doc_id"), col(nCol),
        ((col(nCol) - col("__ndist")).cast("double") /
          col(nCol).cast("double")).as(s"dup_${unit}_frac"),
        (col("__dchars").cast("double") / nullif(col("__uchars"), lit(0L)))
          .as(s"dup_${unit}_char_frac"))
    val lstat = unitStat("\n", "line", "n_lines")
    val pstat = unitStat("\n{2,}", "para", "n_paras")
    // ONE tokenize+explode pass emits every n ∈ {2..5} gram tagged
    // with its n (a row-local flatten), so the corpus is normalized
    // and scanned once, not once per n; the (doc, n, g) census subtree
    // is shared by the top-gram and dup-mass reductions.
    val gramRows = base
      .select(col("doc_id"), col("__nc"), explode(expr(
        """flatten(transform(array(2, 3, 4, 5), n ->
          |  CASE WHEN size(__tk) >= n
          |    THEN transform(sequence(0, size(__tk) - n),
          |           i -> struct(n AS n, concat_ws(' ', slice(__tk, i + 1, n)) AS g))
          |    ELSE CAST(array() AS ARRAY<STRUCT<n: INT, g: STRING>>) END))"""
          .stripMargin)).as("p"))
      .select(col("doc_id"), col("__nc"), col("p.n").as("n"), col("p.g").as("g"))
    val counts = gramRows
      .groupBy(col("doc_id"), col("__nc"), col("n"), col("g"))
      .agg(count(lit(1)).as("c"))
    // tops and dup-mass reduce the census in ONE consumer chain: a
    // per-(doc, n) aggregate computing BOTH the argmax gram and the
    // duplicated-occurrence mass, then one per-doc pivot. Through r9
    // these were two separate subtrees off `counts`, and the dup5
    // branch's n=5 filter (pushed below its exchange on the grouping
    // col) made the subtrees differ — ReuseExchange could not fire
    // and the gram explode + census ran TWICE (measured: the full key
    // was 15.2 s at sf1 when the census branch alone was 6.3 s;
    // BASELINE.md). One consumer ⇒ one explode.
    val gstat = counts
      .groupBy(col("doc_id"), col("n"))
      .agg(max(struct(col("c"), col("g"))).as("m"),
        sum(when(col("c") >= 2, col("c") * length(col("g")).cast("long"))
          .otherwise(lit(0L))).as("__dmass"),
        first(col("__nc")).as("__nc"))
      .select(col("doc_id"), col("n"),
        ((col("m.c") * length(col("m.g")).cast("long")).cast("double") /
          nullif(col("__nc"), lit(0L))).as("frac"),
        (col("__dmass").cast("double") / nullif(col("__nc"), lit(0L)))
          .as("d5frac"))
      .groupBy("doc_id")
      .agg(max(when(col("n") === 2, col("frac"))).as("top2_char_frac"),
        max(when(col("n") === 3, col("frac"))).as("top3_char_frac"),
        max(when(col("n") === 4, col("frac"))).as("top4_char_frac"),
        max(when(col("n") === 5, col("d5frac"))).as("dup5_char_frac"))
    base.select(col("doc_id"))
      .join(lstat.hint("merge"), Seq("doc_id"), "left")
      .join(pstat.hint("merge"), Seq("doc_id"), "left")
      .join(gstat.hint("merge"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        col("dup_line_frac"), col("dup_line_char_frac"),
        col("dup_para_frac"), col("dup_para_char_frac"),
        col("top2_char_frac"), col("top3_char_frac"), col("top4_char_frac"),
        col("dup5_char_frac"),
        coalesce(
          col("dup_line_frac") <= 0.30 &&
            col("dup_line_char_frac") <= 0.20 &&
            col("dup_para_frac") <= 0.30 &&
            col("dup_para_char_frac") <= 0.20 &&
            col("top2_char_frac") <= 0.20 &&
            col("top3_char_frac") <= 0.18 &&
            col("top4_char_frac") <= 0.16 &&
            col("dup5_char_frac") <= 0.15,
          lit(false)).as("pass"))
      .orderBy("doc_id")
  }

  def gopherRepetition(s: SparkSession, dir: String): DataFrame =
    gopherRepetitionOf(load(s, dir, "documents"))

  /** Winnowing (rolling-hash) document fingerprints: positional 3-gram
    * hashes → per-window minima (w=4) → fingerprint set. Row-local via
    * the native graft_* expressions; emitted as a count + stable digest
    * so the result is scalar/hashable. Engine-specific hash values ⇒
    * rows-only in the driver gate; the unit suite pins the semantics
    * (identical docs share digests; overlapping docs share fingerprints).
    */
  def winnowFingerprint(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .withColumn("toks", split(normalizeText(col("text")), " "))
      .withColumn("fps", expr("graft_winnow(graft_shingle_hashes_all(toks, 3), 4)"))
      .select(
        col("doc_id"),
        size(col("fps")).as("n_fingerprints"),
        md5(concat_ws(",", array_sort(array_distinct(col("fps"))))).as("fp_digest"))
      .orderBy("doc_id")

  /** md5-winnowing twin: the PRODUCTION `graft_winnow` operator driven
    * with md5-based positional 3-gram hashes (md5 is shared with DuckDB)
    * instead of XXH64, so the whole winnowing selection — rightmost
    * minimum per w=4 window, one emit per distinct selected position —
    * is checked against an independent SQL reformulation in the DuckDB
    * oracle. Same output contract as [[winnowFingerprint]] (count +
    * sorted-set digest). Capped at doc_id < 500 (the whole table at the
    * correctness SF) to bound the interpreted-HOF hashing cost; the
    * production path stays [[winnowFingerprint]].
    */
  def winnowMd5Twin(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .where(col("doc_id") < 500)
      .withColumn("toks", split(normalizeText(col("text")), " "))
      .withColumn("hs", expr(
        """CASE WHEN size(toks) >= 3 THEN
          |  transform(sequence(1, size(toks) - 2),
          |    i -> CAST(conv(substring(md5(concat_ws(' ', slice(toks, i, 3))), 25, 8), 16, 10) AS BIGINT))
          |ELSE CAST(array() AS ARRAY<BIGINT>) END""".stripMargin))
      .withColumn("fps", expr("graft_winnow(hs, 4)"))
      .select(
        col("doc_id"),
        size(col("fps")).as("n_fingerprints"),
        md5(concat_ws(",", array_sort(array_distinct(col("fps"))))).as("fp_digest"))
      .orderBy("doc_id")

  /** Corpus term statistics — the TF/DF building block of TF-IDF and
    * inverted indexes: explode normalized tokens, total term frequency
    * and document frequency per term, top 20 by tf. Integer outputs so
    * the oracle is exact (the idf multiply is a trivial scalar on top).
    * Scale shape: explode + TWO stacked partial/final aggregates, both on
    * high-cardinality keys. `count(*) + countDistinct(doc_id)` in ONE agg
    * would plan an Expand (every exploded token row duplicated once per
    * aggregate mode — 2× the shuffle input of the hottest stage); the
    * two-level formulation — per-(term, doc) counts, then per-term
    * sum/count — gets both answers with clean map-side combines and no
    * row duplication.
    */
  def termStats(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(col("doc_id"),
        explode(split(normalizeText(col("text")), " ")).as("term"))
      .where(col("term") =!= "")
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf_doc"))
      .groupBy("term")
      .agg(
        sum(col("tf_doc")).as("tf"),
        count(lit(1)).as("df"))
      .orderBy(col("tf").desc, col("term"))
      .limit(20)

  /** Zipf/Heaps corpus fingerprint from the frequency SPECTRUM: bucket
    * the vocabulary by floor(log2 termcount), count types per bucket,
    * and fit log2-types against the bucket by closed-form OLS — the
    * log-log frequency-of-frequencies slope (≈ −(1 + 1/α) for a Zipf
    * exponent α; Baayen 2001's frequency spectrum). Both axes are
    * BIT-QUANTIZED (floor-log2 of exact integers, the LM-family
    * recipe), so the OLS moments are exact BIGINT sums over a ≤64-row
    * bounded domain and the emitted doubles are one shared formula.
    *
    * 100 TB design: one map-side-combined vocabulary aggregate, then a
    * 64-bucket census — no corpus-wide ranking window, which a naive
    * rank-frequency Zipf fit would need.
    */
  def zipfSpectrum(s: SparkSession, dir: String): DataFrame =
    zipfSpectrumOf(load(s, dir, "documents"))

  /** df-level core of [[zipfSpectrum]] (needs a `text` column) —
    * separable so the degenerate-corpus spec can drive it with a
    * single-bucket vocabulary the fixture doesn't contain.
    */
  def zipfSpectrumOf(docs: DataFrame): DataFrame = {
    val counts = docs
      .select(explode(split(normalizeText(col("text")), " ")).as("term"))
      .where(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("c"))
    val stats = counts.agg(count(lit(1)).as("vocab"), sum("c").as("total_tf"))
    val (n, sx, sy) = (col("n").cast("double"),
      col("sx").cast("double"), col("sy").cast("double"))
    val (sxx, syy, sxy) = (col("sxx").cast("double"),
      col("syy").cast("double"), col("sxy").cast("double"))
    // Degenerate-fit guard: a single log2 bucket (tiny or uniform-
    // frequency corpus) zeroes the x-variance denominator, and a flat
    // type count zeroes the y-variance factor of r² — NULLIF turns
    // both into NULL (fit undefined) instead of NaN/Inf, identically
    // in the DuckDB mirror. The denominators are exact doubles from
    // integer sums, so the == 0 tests are exact.
    val slope = (n * sxy - sx * sy) / nullif(n * sxx - sx * sx, lit(0.0))
    counts
      .select(floor(log2(col("c"))).cast("long").as("x"))
      .groupBy("x").agg(count(lit(1)).as("types"))
      .select(col("x"), floor(log2(col("types"))).cast("long").as("y"))
      .agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .crossJoin(broadcast(stats))
      .select(col("vocab"), col("total_tf"), col("n").as("n_buckets"),
        slope.as("slope"),
        ((sy - slope * sx) / n).as("intercept"),
        (((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
          nullif((n * sxx - sx * sx) * (n * syy - sy * sy), lit(0.0)))
          .as("r2"))
  }

  /** Training-mix token budget: per-source document and token totals
    * with each source's share and the cumulative share in
    * biggest-first order — the planning view a data-mixture design
    * starts from (and the input the temperature/balanced mixers
    * reweight). One corpus scan to source grain; the cumulative
    * window runs over the bounded source domain.
    */
  def tokenBudget(s: SparkSession, dir: String): DataFrame = {
    val d = load(s, dir, "documents")
      .select(col("source"),
        size(filter(split(normalizeText(col("text")), " "),
          tk => tk =!= "")).cast("long").as("toks"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"))
    val tot = d.agg(sum("n_tokens").as("total"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_tokens").desc, col("source"))
      .rowsBetween(Long.MinValue, 0)
    d.crossJoin(broadcast(tot))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("total").cast("double"))
          .as("token_share"),
        (col("cum").cast("double") / col("total").cast("double"))
          .as("cum_share"))
      .orderBy(col("n_tokens").desc, col("source"))
  }

  /** Count-min sketch over corpus term frequencies (Cormode &
    * Muthukrishnan 2005), checked against exact counts: build a
    * d=4 × w=1024 counter table from md5-derived positions, then
    * estimate the top-20 terms' frequencies as the min over their d
    * counters. The registered output carries exact tf AND the sketch
    * estimate side by side — the CMS one-sided guarantee
    * (est ≥ exact, overestimate bounded by collisions) becomes
    * oracle-checkable arithmetic because both engines derive identical
    * positions from md5.
    *
    * 100 TB design: counters are built from the VOCABULARY (the
    * map-side-combined term counts), not the raw token stream — the
    * d× explode touches vocab-sized data, and the counter table is
    * d·w rows regardless of corpus size, mergeable across shards by
    * plain addition (the whole point of CMS at scale). The estimate
    * join is d rows per queried term against a broadcast counter
    * table.
    */
  def countMinTopK(s: SparkSession, dir: String, depth: Int = 4,
      width: Long = 1024L, k: Int = 20): DataFrame = {
    val toks = load(s, dir, "documents")
      .select(explode(split(normalizeText(col("text")), " ")).as("term"))
    val tf = toks.groupBy("term").agg(count(lit(1)).as("tf"))
    def posCol(term: Column, i: Column): Column =
      pmod(HashExprs.md5Uint32(concat(term, lit(":"), i.cast("string"))),
        lit(width))
    val counters = tf
      .select(col("term"), col("tf"),
        explode(sequence(lit(0), lit(depth - 1))).as("i"))
      .withColumn("pos", posCol(col("term"), col("i")))
      .groupBy("i", "pos")
      .agg(sum(col("tf")).as("counter"))
    val top = tf.orderBy(col("tf").desc, col("term").asc).limit(k)
    top
      .select(col("term"), col("tf"),
        explode(sequence(lit(0), lit(depth - 1))).as("i"))
      .withColumn("pos", posCol(col("term"), col("i")))
      .join(broadcast(counters), Seq("i", "pos"))
      .groupBy("term", "tf")
      .agg(min(col("counter")).as("cms_est"))
      .select(col("term"), col("tf"), col("cms_est"),
        (col("cms_est") - col("tf")).as("overestimate"))
      .orderBy(col("tf").desc, col("term").asc)
  }

  /** BPE training, iteration zero: corpus-wide adjacent-symbol-pair
    * counts at the character level (Sennrich et al. 2016 — the
    * highest-count pair becomes the first merge). Pairs are character
    * bigrams within each whitespace word of the normalized text;
    * emits the top-20 merge candidates. Completes the tokenizer
    * tooling: [[textStats]] applies a tokenizer, [[vocabOov]] checks
    * a vocabulary's coverage, this derives one.
    *
    * 100 TB design: a single scan (codegen'd transform over each
    * token — no shuffle until the pair counts), one map-side-combined
    * aggregate on the high-cardinality pair key, TakeOrderedAndProject
    * for the top-k.
    */
  def bpePairStats(s: SparkSession, dir: String, k: Int = 20): DataFrame =
    load(s, dir, "documents")
      .select(explode(split(normalizeText(col("text")), " ")).as("tok"))
      // guard len >= 2 in BOTH engines: Spark's sequence(1, 0) is the
      // DESCENDING [1, 0], not empty like DuckDB's range(1, 0)
      .where(length(col("tok")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"))
        .as("pair"))
      .groupBy("pair")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(k)

  /** BPE merge TRAINING (Sennrich et al. 2016), k unrolled iterations:
    * where [[bpePairStats]] is iteration zero's candidate list, this
    * runs the actual greedy loop — count weighted adjacent symbol pairs
    * over the vocabulary, pick the argmax (count desc, pair asc
    * tie-break), apply the merge to every word's symbol array
    * (left-to-right greedy non-overlapping, the reference algorithm's
    * order), repeat. Emits the learned merge table: (step, lhs, rhs,
    * pair_cnt). Pair statistics count every adjacent occurrence
    * (overlapping included), the standard formulation.
    *
    * 100 TB design: the corpus collapses to its VOCABULARY (word,
    * count) in one map-side-combined aggregate — every later stage is
    * vocabulary-bounded, orders of magnitude below corpus size. Per
    * iteration: one pair-count aggregate (map-side combined), a 1-row
    * TakeOrderedAndProject argmax broadcast back, and a row-local
    * higher-order-function fold applying the merge. Fixed iters unroll
    * into one lazy plan; an unbounded trainer would lineage-cut the
    * vocabulary per round like the CC loop. The fold's list ops are
    * O(word_len²) per word — bounded by max word length, not corpus.
    */
  /** Training core shared by [[bpeMergeTrain]] and [[bpeEncodeStats]]:
    * returns the merged vocabulary (word, symbol array, count) after
    * `iters` greedy merges AND the learned merge table — one lazy plan
    * produces both.
    */
  def bpeTrainCore(docs: DataFrame, iters: Int): (DataFrame, DataFrame) = {
    // eager lineage cuts (the CC-loop discipline the docstring above
    // reserves for an unbounded trainer — r12 measured the fixed
    // unroll needs it too): vocab_i is referenced by BOTH the next
    // pair census and the next merge apply, so the lazy unroll nests
    // the corpus word-census explode ~2^iters times (q_sequence_pack_
    // bpe's static plan: 20 document scans). Cut the corpus collapse
    // once, then each vocabulary-bounded round; every later stage is
    // vocab-scale, orders of magnitude below corpus size.
    var vocab = docs
      .select(explode(split(normalizeText(col("text")), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(col("w"), expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))").as("syms"),
        col("cnt"))
      .localCheckpoint()
    var out: DataFrame = null
    for (step <- 1 to iters) {
      val pairs = vocab.where(size(col("syms")) >= 2)
        .select(col("cnt"), explode(expr(
          """transform(sequence(1, size(syms) - 1),
            |  i -> struct(element_at(syms, i) AS l,
            |              element_at(syms, i + 1) AS r))""".stripMargin)).as("p"))
        .groupBy(col("p.l").as("lhs"), col("p.r").as("rhs"))
        .agg(sum(col("cnt")).as("pair_cnt"))
      val top = pairs
        .orderBy(col("pair_cnt").desc, col("lhs"), col("rhs"))
        .limit(1)
        .select(lit(step).as("step"), col("lhs"), col("rhs"), col("pair_cnt"))
      out = if (out == null) top else out.unionAll(top)
      vocab = vocab
        .crossJoin(broadcast(top.select(col("lhs").as("ml"), col("rhs").as("mr"))))
        .select(col("w"), expr(
          """aggregate(syms, CAST(array() AS ARRAY<STRING>),
            |  (acc, x) -> CASE WHEN size(acc) > 0
            |                    AND element_at(acc, -1) = ml AND x = mr
            |              THEN concat(slice(acc, 1, size(acc) - 1),
            |                          array(concat(ml, mr)))
            |              ELSE concat(acc, array(x)) END)""".stripMargin).as("syms"),
          col("cnt"))
        .localCheckpoint()
    }
    (vocab, out.orderBy("step"))
  }

  // Session-memoized shared BPE training result per (session, dir) at
  // the registered iters = 3: three registered keys (q_bpe_merge_train,
  // q_bpe_encode, q_sequence_pack_bpe) each ran the identical corpus
  // word census + 3-round greedy merge; the memo pays it once per
  // Verify/Bench run (graft.engine.Shared `bpe.train`). bpeTrainCore's
  // rounds are already eagerly checkpointed, so the memo's only job is
  // cross-key reuse. Per-key numbers for the trio are attribution (the
  // Bench docstring's shared-memo caveat).
  private[graft] def bpeTrainShared(s: SparkSession,
      dir: String, iters: Int = 3): (DataFrame, DataFrame) = {
    require(iters == 3, s"bpeTrainShared is memoized for iters = 3 only, got $iters")
    Shared("bpe.train", s, dir) {
      bpeTrainCore(load(s, dir, "documents"), iters)
    }
  }

  def bpeMergeTrain(docs: DataFrame, iters: Int = 3,
      sharedTrain: Option[(DataFrame, DataFrame)] = None): DataFrame =
    sharedTrain.getOrElse(bpeTrainCore(docs, iters))._2

  /** Tokenizer APPLY under the learned merges: per-doc fertility stats
    * (words, BPE pieces, pieces/word) — the metric a tokenizer team
    * watches when retraining vocab (fertility regressions = longer
    * sequences = more compute per document). The corpus encodes through
    * a vocabulary-level join: words collapse to the (word → n_pieces)
    * table once, then each doc aggregates its words' piece counts —
    * no per-document re-segmentation. One more shuffle than training
    * (the doc↔vocab word join, 8-byte-ish keys, map-side combined
    * aggregate after).
    */
  def bpeEncodeStats(docs: DataFrame, iters: Int = 3,
      sharedTrain: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val (vocab, _) = sharedTrain.getOrElse(bpeTrainCore(docs, iters))
    val pieces = vocab.select(col("w"), size(col("syms")).as("n_pieces"))
    docs
      .select(col("doc_id"), explode(split(normalizeText(col("text")), " ")).as("w"))
      .where(col("w") =!= "")
      .join(pieces, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_pieces").cast("long")).as("n_pieces"))
      .select(col("doc_id"), col("n_words"), col("n_pieces"),
        (col("n_pieces").cast("double") / col("n_words").cast("double"))
          .as("fertility"))
      .orderBy("doc_id")
  }

  /** Flesch reading-ease per document — the classic readability screen
    * (a corpus whose FRE collapses is OCR noise or code, not prose).
    * Heuristics shared bit-for-bit by both engines: sentences =
    * max(1, runs of [.!?]) over the RAW text, words = non-empty
    * normalized tokens, syllables = max(1, vowel-group runs) per word.
    * FRE = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words),
    * computed ONCE from exact BIGINT counts (identical expression text
    * → identical IEEE result). One explode + one map-side-combined
    * aggregate; row-local regexes, no second scan.
    */
  def readabilityOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
          .cast("long").as("n_sentences"),
        explode(split(normalizeText(col("text")), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy("doc_id", "n_sentences")
      .agg(count(lit(1)).as("n_words"),
        sum(greatest(regexp_count(col("w"), lit("[aeiouy]+")), lit(1))
          .cast("long")).as("n_syllables"))
      .select(col("doc_id"), col("n_sentences"), col("n_words"), col("n_syllables"),
        (lit(206.835)
          - lit(1.015) * (col("n_words").cast("double") / col("n_sentences").cast("double"))
          - lit(84.6) * (col("n_syllables").cast("double") / col("n_words").cast("double")))
          .as("flesch"))
      .orderBy("doc_id")

  def readability(s: SparkSession, dir: String): DataFrame =
    readabilityOf(load(s, dir, "documents"))

  /** Shared oracle fragment: the 3-iteration BPE training chain
    * (v0..v3 vocabularies carrying the word, t1..t3 selected merges).
    * One BPE iteration = pair stats on the previous vocabulary, 1-row
    * argmax, merge applied by a list_reduce fold (greedy leftmost, same
    * as Spark's aggregate() fold). acc[:-2] is the drop-last slice
    * (DuckDB slice bounds are inclusive). Both BPE oracles embed this
    * one definition so train and apply cannot drift.
    */
  private def bpeOracleIter(prevV: String, n: Int): String =
    s"""p$n AS (
       |  SELECT p.l AS lhs, p.r AS rhs, CAST(sum(cnt) AS BIGINT) AS pair_cnt FROM (
       |    SELECT cnt, unnest(list_transform(range(1, len(syms)),
       |             i -> {'l': syms[i], 'r': syms[i + 1]})) AS p
       |    FROM $prevV WHERE len(syms) >= 2)
       |  GROUP BY p.l, p.r),
       |t$n AS (
       |  SELECT $n AS step, lhs, rhs, pair_cnt FROM p$n
       |  ORDER BY pair_cnt DESC, lhs, rhs LIMIT 1),
       |v$n AS (
       |  SELECT w, list_reduce(list_transform(syms, s -> [s]),
       |           (acc, x) -> CASE WHEN len(acc) > 0
       |                             AND acc[-1] = t.lhs AND x[1] = t.rhs
       |                       THEN list_append(acc[:-2], t.lhs || t.rhs)
       |                       ELSE list_concat(acc, x) END) AS syms, cnt
       |  FROM $prevV CROSS JOIN t$n t)""".stripMargin

  private[graft] lazy val bpeOracleCtes: String =
    s"""v0 AS (
       |  SELECT w, list_transform(range(1, length(w) + 1),
       |           i -> substring(w, i, 1)) AS syms, cnt FROM (
       |    SELECT w, count(*) AS cnt FROM (
       |      SELECT unnest($duckNormToksSql) AS w FROM documents)
       |    WHERE w <> '' GROUP BY w)),
       |${bpeOracleIter("v0", 1)},
       |${bpeOracleIter("v1", 2)},
       |${bpeOracleIter("v2", 3)}""".stripMargin

  /** Binary encodings + cryptographic digests: hex, base64, md5,
    * sha2-256 — content-addressing and transport encodings for
    * artifact/dedup stores.
    */
  def encodings(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(
        col("doc_id"),
        hex(encode(substring(col("text"), 1, 8), "UTF-8")).as("hex8"),
        base64(encode(substring(col("text"), 1, 8), "UTF-8")).as("b64_8"),
        md5(col("text")).as("md5_hex"),
        sha2(col("text"), 256).as("sha256_hex"))
      .orderBy("doc_id")

  /** F+: regexp_extract_all — ALL matches, not the first (the cleaning
    * primitive behind "pull every number/url/id out of a doc"). Array
    * output is flattened to scalars (joined string + count) for the
    * driver's canonicalization.
    */
  def extractAll(s: SparkSession, dir: String): DataFrame = {
    // NULL text must read as "no matches" on BOTH engines: unguarded,
    // Spark's size(NULL) is -1 under legacy sizeOfNull (ANSI off)
    // while DuckDB's len(NULL) is NULL
    val txt = coalesce(col("text"), lit(""))
    load(s, dir, "documents")
      .select(
        col("doc_id"),
        concat_ws(",", regexp_extract_all(txt, lit("[0-9]+"), lit(0)))
          .as("all_numbers"),
        size(regexp_extract_all(txt, lit("[0-9]+"), lit(0)))
          .as("n_numbers"))
      .orderBy("doc_id")
  }

  def docFingerprint(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(
        col("doc_id"),
        fingerprint(col("text")).as("fingerprint"),
        substring(normalizeText(col("text")), 1, 32).as("norm_prefix"))
      .orderBy("doc_id")

  /** TF-IDF top-k terms per doc. Two shuffles (doc-term counts, then
    * term doc-frequencies), corpus size N joined in as a broadcast
    * 1-row aggregate (no driver action, no plan literal to go stale),
    * WindowGroupLimit prunes to k per doc map-side.
    *
    * Hash-safety: the output carries only integers and strings — the
    * DOUBLE score (tf · ln((N+1)/(df+1))) orders the rank but is not
    * emitted, because cross-engine transcendentals (JVM Math.log vs
    * libm) can differ in the last ulp. A 1-ulp score wobble cannot flip
    * a rank: different (tf, df) pairs sit far apart, and equal pairs
    * tie-break on the term string.
    */
  def tfidfTopK(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val docs = load(s, dir, "documents")
    val toks = docs.select(col("doc_id"),
      explode(split(normalizeText(col("text")), " ")).as("term"))
    // tf feeds both the doc-frequency aggregate and the scoring join,
    // but does NOT need a persist: its aggregate exchange is already
    // shared via ReuseExchange (measured: persisting it made the sf1
    // run 8.2 → 11.2 s — a pure extra materialization)
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy(col("score").desc, col("term").asc)
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf") * log((col("n_docs") + lit(1)).cast("double") /
          (col("df") + lit(1)).cast("double")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"))
      .orderBy("doc_id", "rank")
  }

  /** Okapi BM25 top-k terms per document — the retrieval-grade scorer
    * TF-IDF approximates: the same tf/df geometry plus document-length
    * normalization (k1=1.2, b=0.75, Lucene's non-negative
    * `ln(1 + (N-df+0.5)/(df+0.5))` idf). Like [[tfidfTopK]], the
    * double score ORDERS (ties broken by term) but is never emitted —
    * outputs stay integer/string so the oracle hashes exactly; dl and
    * avgdl come from exact integer sums (avgdl divides once, in both
    * engines, from the same two BIGINTs).
    *
    * 100 TB design: identical to tfidf — explode + two stacked
    * partial/final aggregates on high-cardinality keys, the per-doc
    * length rides a doc_id-keyed aggregate whose exchange ReuseExchange
    * shares with the scoring join, the 1-row corpus stats broadcast,
    * and the per-doc top-k is a WindowGroupLimit-pruned row_number.
    */
  def bm25TopK(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    // constants appear as the SAME decimal literals in the oracle SQL:
    // k1+1 is written 2.2, not computed (1.2 + 1.0 rounds to a
    // DIFFERENT double than the literal 2.2 — a tie at the [2,4) ulp
    // boundary), so both engines score with bit-identical arithmetic
    val k1 = lit(1.2)
    val k1p1 = lit(2.2)
    val oneMinusB = lit(0.25)
    val b = lit(0.75)
    val toks = load(s, dir, "documents")
      .select(col("doc_id"),
        explode(split(normalizeText(col("text")), " ")).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val corpus = dl.agg(
      count(lit(1)).as("n_docs"), sum(col("dl")).as("total_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy(col("score").desc, col("term").asc)
    tf.join(dfreq, "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(corpus))
      .withColumn("avgdl",
        col("total_tokens").cast(DoubleType) / col("n_docs").cast(DoubleType))
      .withColumn("idf",
        log(lit(1.0) +
          (col("n_docs").cast(DoubleType) - col("df") + lit(0.5)) /
            (col("df").cast(DoubleType) + lit(0.5))))
      .withColumn("score",
        col("idf") * (col("tf") * k1p1) /
          (col("tf") + k1 *
            (oneMinusB + b * col("dl").cast(DoubleType) / col("avgdl"))))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"),
        col("tf"), col("df"), col("dl"))
      .orderBy("doc_id", "rank")
  }

  /** Hybrid retrieval with Reciprocal Rank Fusion (Cormack, Clarke &
    * Buettcher 2009): fuse a LEXICAL ranking (document-level Okapi BM25
    * for a fixed query-term set, [[bm25TopK]]'s exact scoring constants)
    * with a SEMANTIC ranking (embedding cosine against the query
    * vector, [[graft.ext.Similarity]]'s native cosine) by
    * rrf(d) = Σ_lists 1/(60 + rank_list(d)) over each arm's top-`listK`
    * — the standard production hybrid-search combiner, robust to the
    * arms' incomparable score scales because only RANKS cross the
    * fusion boundary. The fused score itself is IEEE-exact on both
    * engines (integer ranks, one division and one addition per arm),
    * so it IS emitted and hash-compared, unlike the raw BM25 double.
    * The doc_id == vec_id alignment between the documents and
    * embeddings tables is the fixture's contract (both are the same
    * 0..n−1 corpus).
    *
    * Per-document BM25 sums its per-term scores in FIXED literal
    * order (one conditional-max column per query term, added left to
    * right), not a shuffle-ordered double sum — the cross-engine fold
    * discipline every double on a compare path follows.
    *
    * 100 TB shape: the lexical arm filters the (doc, term) relation to
    * the query terms BEFORE any scoring join (the tf aggregate's
    * exchange is shared with the doc-length aggregate via
    * ReuseExchange), both arms cut to top-listK with
    * TakeOrderedAndProject — no corpus-wide sort — and every window
    * runs on a ≤listK-row relation. The fusion join touches 2·listK
    * rows regardless of corpus size.
    */
  def rrfFusion(s: SparkSession, dir: String,
      queryTerms: Seq[String] = Seq("spark", "join", "window"),
      listK: Int = 100, k: Int = 20): DataFrame = {
    val (k1, k1p1, oneMinusB, b) = (lit(1.2), lit(2.2), lit(0.25), lit(0.75))
    val toks = load(s, dir, "documents")
      .select(col("doc_id"),
        explode(split(normalizeText(col("text")), " ")).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val corpus = dl.agg(
      count(lit(1)).as("n_docs"), sum(col("dl")).as("total_tokens"))
    val qtf = tf.where(col("term").isin(queryTerms: _*))
    val dfreq = qtf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = qtf.join(broadcast(dfreq), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(corpus))
      .withColumn("avgdl",
        col("total_tokens").cast(DoubleType) / col("n_docs").cast(DoubleType))
      .withColumn("idf",
        log(lit(1.0) +
          (col("n_docs").cast(DoubleType) - col("df") + lit(0.5)) /
            (col("df").cast(DoubleType) + lit(0.5))))
      .withColumn("s",
        col("idf") * (col("tf") * k1p1) /
          (col("tf") + k1 *
            (oneMinusB + b * col("dl").cast(DoubleType) / col("avgdl"))))
    val termCols = queryTerms.map(qt =>
      max(when(col("term") === qt, col("s"))).as(s"s_$qt"))
    val lexScore = queryTerms.map(qt => coalesce(col(s"s_$qt"), lit(0.0)))
      .reduceLeft(_ + _)
    val wLex = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("doc_id"))
    val lexRanked = scored.groupBy("doc_id")
      .agg(termCols.head, termCols.tail: _*)
      // DECIMAL(18,6) bridge BEFORE ranking (the Theil-Sen/RFM
      // convention): the per-doc BM25 sum rides a natural-log
      // transcendental (Spark log vs DuckDB ln, neither correctly
      // rounded), so last-ulp differences could flip adjacent
      // lex_rank values; ranks must derive from engine-identical
      // values, with doc_id breaking the quantized ties.
      .select(col("doc_id"),
        lexScore.cast(DecimalType(18, 6)).cast(DoubleType).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(listK)
      .withColumn("lex_rank", row_number().over(wLex))
      .select("doc_id", "lex_rank")
    val emb = load(s, dir, "embeddings")
    val qv = emb.where(col("vec_id") === 0).select(col("embedding").as("qv"))
    val wSem = org.apache.spark.sql.expressions.Window
      .orderBy(col("cos").desc, col("doc_id"))
    val semRanked = emb.crossJoin(broadcast(qv))
      .select(col("vec_id").as("doc_id"),
        expr("graft_cosine(embedding, qv)").as("cos"))
      .where(!isnan(col("cos")))
      .orderBy(col("cos").desc, col("doc_id")).limit(listK)
      .withColumn("sem_rank", row_number().over(wSem))
      .select("doc_id", "sem_rank")
    lexRanked.join(semRanked, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_rank"), col("sem_rank"),
        (coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("sem_rank")), lit(0.0)))
          .as("rrf_score"))
      .orderBy(col("rrf_score").desc, col("doc_id")).limit(k)
  }

  /** Tokenizer-vocabulary coverage: build the top-V corpus vocabulary
    * (frequency-desc, term-asc tie-break — deterministic at the V
    * boundary) and report each document's out-of-vocabulary rate —
    * the coverage check run before committing a tokenizer/vocab to a
    * training run (high-OOV docs are wrong-language or junk).
    *
    * 100 TB design: BOTH subtrees (vocab build and coverage) consume
    * the same (doc_id, term) partial/final aggregate, so ReuseExchange
    * computes the corpus scan + explode once — the tfidf/bm25 sharing
    * shape, weight-counted so the per-doc totals are unchanged. The
    * vocab is a TakeOrderedAndProject over term sums (top-V never
    * sorts the full vocab) and at V rows broadcasts to a map-side
    * left join.
    */
  def vocabOov(s: SparkSession, dir: String, v: Int = 100): DataFrame = {
    val tf = load(s, dir, "documents")
      .select(col("doc_id"),
        explode(split(normalizeText(col("text")), " ")).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
    val vocab = tf.groupBy("term").agg(sum(col("tf")).as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc)
      .limit(v)
      .select(col("term"), lit(1).as("in_vocab"))
    tf.join(broadcast(vocab), Seq("term"), "left")
      .groupBy("doc_id")
      .agg(
        sum(col("tf")).as("n_tokens"),
        sum(when(col("in_vocab").isNull, col("tf")).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast(DoubleType) / col("n_tokens").cast(DoubleType))
          .as("oov_rate"))
      .orderBy("doc_id")
  }

  /** Per-document character-level Shannon entropy, bit-quantized to the
    * corpus convention (floor(log2 n) − floor(log2 cnt) per character —
    * exact BIGINT arithmetic, the surprisal family's cross-engine-safe
    * quantization): the repetition/compressibility quality signal a
    * cleaning pipeline thresholds on (low entropy ⇒ boilerplate, char
    * floods, template spam). Entirely ROW-LOCAL: distinct chars via
    * array_distinct(split), per-char counts via the length-of-replace
    * trick, the sum via the `aggregate` higher-order fold — one scan,
    * zero shuffles, whole-stage codegen end to end.
    */
  def charEntropy(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), normalizeText(col("text")).as("s"))
      .where(length(col("s")) > 0)
      // stage the distinct-char list, then the per-char COUNTS, before
      // the fold: the one-expression form evaluated replace(s, c, '')
      // TWICE per char (count + log2 argument) and rebuilt the char
      // list per consumer — with lambdas re-evaluating per element,
      // that is 2·|alphabet| full-string scans where one suffices.
      // Same chars, same counts, same fold order ⇒ identical ent_bits.
      .selectExpr("doc_id", "s",
        // Spark's regex split keeps a trailing '' element (Java split
        // with limit -1); filter it so the 0-count char can't reach the
        // log2 and the distinct count matches DuckDB's string_split.
        "filter(array_distinct(split(s, '')), c -> c <> '') AS cs")
      .selectExpr("doc_id",
        "length(s) AS n_chars_norm",
        "CAST(floor(log2(length(s))) AS LONG) AS lg_n",
        "size(cs) AS n_distinct_chars",
        "transform(cs, c -> length(s) - length(replace(s, c, ''))) AS cnts")
      .selectExpr("doc_id", "n_chars_norm", "n_distinct_chars",
        """aggregate(cnts, 0L,
          |  (acc, cnt) -> acc +
          |    cnt * (lg_n - CAST(floor(log2(cnt)) AS LONG)))
          |AS ent_bits""".stripMargin)
      .withColumn("ent_bits_per_char",
        col("ent_bits").cast(DoubleType) / col("n_chars_norm").cast(DoubleType))
      .orderBy("doc_id")

  /** Chi-square term–label association (the classic feature-selection
    * statistic for a learned quality/language filter): for each term,
    * the 2×2 contingency of document-level occurrence vs the binary
    * label (lang = 'en'), scored χ² = N(n11·n00 − n10·n01)²/
    * ((n11+n01)(n10+n00)(n11+n10)(n01+n00)). Counts are exact integers
    * from two stacked map-side-combined aggregates (term,doc) → term —
    * the q_term_stats no-Expand discipline; doc totals ride a broadcast
    * 1-row cross join; the χ² formula runs ONCE in parallel double
    * arithmetic on aggregated rows (the corr/skew convention — both
    * engines compute the identical expression over identical integers).
    * Top-k cut is TakeOrderedAndProject with a term tiebreak.
    */
  def chi2Terms(docs: DataFrame, minDf: Int = 10, k: Int = 30): DataFrame = {
    val termDoc = docs
      .select(col("doc_id"), (col("lang") === "en").cast("long").as("y"),
        explode(split(normalizeText(col("text")), " ")).as("term"))
      .where(col("term") =!= "")
      .select(col("term"), col("doc_id"), col("y")).distinct()
    val perTerm = termDoc.groupBy("term").agg(
      sum(col("y")).as("n11"),
      sum(lit(1L) - col("y")).as("n10"))
    val totals = docs.agg(
      sum((col("lang") === "en").cast("long")).as("n_pos"),
      count(lit(1)).as("n_docs"))
    perTerm
      .where(col("n11") + col("n10") >= minDf)
      .crossJoin(broadcast(totals))
      .select(col("term"), col("n11"), col("n10"),
        (col("n_pos") - col("n11")).as("n01"),
        (col("n_docs") - col("n_pos") - col("n10")).as("n00"),
        col("n_docs"))
      .select(col("term"), col("n11"), col("n10"), col("n01"), col("n00"),
        // nullif guard (r12 D3 audit): on a SINGLE-CLASS corpus a
        // marginal (n01+n00 or n11+n01) is 0 — Spark (ANSI off) would
        // emit Inf where DuckDB NULLs the division; chi2 is undefined
        // there, so both engines agree on NULL
        (col("n_docs").cast(DoubleType) *
          pow(col("n11").cast(DoubleType) * col("n00").cast(DoubleType) -
            col("n10").cast(DoubleType) * col("n01").cast(DoubleType), 2) /
          nullif((col("n11") + col("n01")).cast(DoubleType) *
            (col("n10") + col("n00")).cast(DoubleType) *
            (col("n11") + col("n10")).cast(DoubleType) *
            (col("n01") + col("n00")).cast(DoubleType), lit(0.0))).as("chi2"))
      .orderBy(col("chi2").desc, col("term"))
      .limit(k)
  }

  /** Inverted-index construction — the retrieval-side artifact a corpus
    * pipeline materializes next to the forward store: per term, document
    * frequency, total term frequency, and a BOUNDED postings head (first
    * 8 doc ids). The head comes from a row_number window on (term, doc)
    * rows that Spark plans as WindowGroupLimit — per-partition heads,
    * never a full per-term materialization — and the final string_agg
    * folds ≤ 8 rows per term; stopword-grade terms (df ~ corpus) cost
    * O(8), not O(df), beyond their count aggregate. Both aggregates
    * map-side combine; the df cut keeps the output vocabulary-bounded.
    */
  def invertedIndex(docs: DataFrame, k: Int = 50): DataFrame = {
    val td = docs
      .select(col("doc_id"), explode(split(normalizeText(col("text")), " "))
        .as("term"))
      .where(col("term") =!= "")
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    val agg = td.groupBy("term").agg(
      count(lit(1)).as("df"),
      sum(col("tf")).cast(LongType).as("total_tf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term")).orderBy(col("doc_id"))
    val postings = td
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 8)
      .groupBy("term")
      .agg(concat_ws(",",
        expr("transform(array_sort(collect_list(doc_id)), x -> CAST(x AS STRING))"))
        .as("postings"))
    agg.join(postings, "term")
      .orderBy(col("df").desc, col("term"))
      .limit(k)
  }

  /** Windowed PMI co-occurrence statistics — the word2vec/GloVe-prep
    * artifact: for every unordered token pair co-occurring within a
    * ±2-token window, the corpus pair count and the pointwise mutual
    * information, bit-quantized to the surprisal convention
    * (floor(log2 c_ab·N) − floor(log2 c_a·c_b) — exact BIGINT, no
    * cross-engine log drift). Pair generation is ROW-LOCAL (one
    * nested-transform flatten over the token array + one explode — the
    * out-of-range arm is filtered by INDEX before any element access,
    * so Spark's null-skipping least/greatest can never fabricate a
    * pair); counts are two map-side-combined aggregates; unigram
    * attach is a pair-keyed join; the cut is TakeOrderedAndProject.
    */
  def pmiCooc(docs: DataFrame, k: Int = 40): DataFrame = {
    val toks = docs
      .select(col("doc_id"),
        expr("filter(split(graft_norm_text(text), ' '), x -> x <> '')").as("toks"))
      .where(size(col("toks")) >= 2)
    val pairs = toks
      .select(explode(expr(
        """flatten(transform(sequence(0, size(toks) - 2), i ->
          |  transform(filter(sequence(1, 2), d -> i + d <= size(toks) - 1),
          |    d -> named_struct('x', toks[i], 'y', toks[i + d]))))""".stripMargin))
        .as("p"))
      .select(least(col("p.x"), col("p.y")).as("w1"),
        greatest(col("p.x"), col("p.y")).as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
    val uni = docs
      .select(explode(expr(
        "filter(split(graft_norm_text(text), ' '), x -> x <> '')")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val n = uni.agg(sum(col("c")).cast(LongType).as("n_tok"))
    pairs
      .join(uni.select(col("w").as("w1"), col("c").as("c_a")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c_b")), "w2")
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("c_ab"), col("c_a"), col("c_b"),
        // DECIMAL(38,0)-widened products (HUGEINT in the oracle):
        // c_ab·n_tok and c_a·c_b cross 2^63 at 100 TB-era token
        // counts — the psiDrift/dsirSample widening rule.
        (floor(log2(col("c_ab").cast("decimal(38,0)") * col("n_tok")))
          .cast(LongType) -
          floor(log2(col("c_a").cast("decimal(38,0)") * col("c_b")))
            .cast(LongType)).as("pmi_bits"))
      .orderBy(col("c_ab").desc, col("w1"), col("w2"))
      .limit(k)
  }

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q_pmi_cooc",
      "windowed PMI co-occurrence (+-2 tokens, row-local pair fan-out, bit-quantized exact-integer PMI), top 40 pairs",
      (s, dir) => pmiCooc(load(s, dir, "documents")),
      Some(
        s"""WITH d AS (SELECT doc_id, $duckNormToksSql AS toks FROM documents),
           |tok AS (
           |  SELECT doc_id, CAST(t.i AS INT) AS pos, toks[CAST(t.i AS INT)] AS w
           |  FROM d, unnest(range(1, len(toks) + 1)) AS t(i)
           |  WHERE toks[CAST(t.i AS INT)] <> ''),
           |p AS (
           |  SELECT least(a.w, b.w) AS w1, greatest(a.w, b.w) AS w2
           |  FROM tok a JOIN tok b
           |    ON a.doc_id = b.doc_id AND b.pos - a.pos IN (1, 2)),
           |pc AS (SELECT w1, w2, count(*) AS c_ab FROM p GROUP BY 1, 2),
           |uni AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
           |n AS (SELECT CAST(sum(c) AS BIGINT) AS n_tok FROM uni)
           |SELECT w1, w2, c_ab, ua.c AS c_a, ub.c AS c_b,
           |       CAST(floor(log2(CAST(c_ab AS HUGEINT) * n_tok)) AS BIGINT) -
           |       CAST(floor(log2(CAST(ua.c AS HUGEINT) * ub.c)) AS BIGINT) AS pmi_bits
           |FROM pc JOIN uni ua ON pc.w1 = ua.w
           |        JOIN uni ub ON pc.w2 = ub.w, n
           |ORDER BY c_ab DESC, w1, w2 LIMIT 40""".stripMargin)),
    GraftQuery("q_char_entropy",
      "row-local char-level Shannon entropy, bit-quantized (exact BIGINT; compressibility quality signal)",
      (s, dir) => charEntropy(load(s, dir, "documents")),
      Some(
        s"""WITH p AS (SELECT doc_id, $duckNormSql AS s FROM documents),
           |f AS (SELECT doc_id, s, CAST(length(s) AS INT) AS n FROM p WHERE length(s) > 0),
           |ch AS (SELECT doc_id, n, c, count(*) AS cnt
           |       FROM (SELECT doc_id, n, unnest(string_split(s, '')) AS c FROM f)
           |       GROUP BY doc_id, n, c),
           |e AS (SELECT doc_id, n, CAST(count(*) AS INT) AS n_distinct_chars,
           |             CAST(sum(cnt * (CAST(floor(log2(n)) AS BIGINT) - CAST(floor(log2(cnt)) AS BIGINT))) AS BIGINT) AS ent_bits
           |      FROM ch GROUP BY doc_id, n)
           |SELECT doc_id, n AS n_chars_norm, n_distinct_chars, ent_bits,
           |       CAST(ent_bits AS DOUBLE) / CAST(n AS DOUBLE) AS ent_bits_per_char
           |FROM e ORDER BY doc_id""".stripMargin)),
    GraftQuery("q_chi2_terms",
      "chi-square term-label feature selection: exact 2x2 doc-level contingency per term, top-30",
      (s, dir) => chi2Terms(load(s, dir, "documents")),
      Some(
        s"""WITH td AS (
           |  SELECT DISTINCT term, doc_id, CAST(lang = 'en' AS BIGINT) AS y
           |  FROM (SELECT doc_id, lang, unnest($duckNormToksSql) AS term FROM documents)
           |  WHERE term <> ''),
           |pt AS (SELECT term, CAST(sum(y) AS BIGINT) AS n11,
           |              CAST(sum(1 - y) AS BIGINT) AS n10
           |       FROM td GROUP BY term),
           |tot AS (SELECT CAST(sum(CAST(lang = 'en' AS BIGINT)) AS BIGINT) AS n_pos,
           |               count(*) AS n_docs
           |        FROM documents)
           |SELECT term, n11, n10, n_pos - n11 AS n01, n_docs - n_pos - n10 AS n00,
           |       CAST(n_docs AS DOUBLE) *
           |         pow(CAST(n11 AS DOUBLE) * CAST(n_docs - n_pos - n10 AS DOUBLE) -
           |             CAST(n10 AS DOUBLE) * CAST(n_pos - n11 AS DOUBLE), 2) /
           |         NULLIF(CAST(n11 + (n_pos - n11) AS DOUBLE) *
           |          CAST(n10 + (n_docs - n_pos - n10) AS DOUBLE) *
           |          CAST(n11 + n10 AS DOUBLE) *
           |          CAST((n_pos - n11) + (n_docs - n_pos - n10) AS DOUBLE), 0.0) AS chi2
           |FROM pt, tot
           |WHERE n11 + n10 >= 10
           |ORDER BY chi2 DESC, term LIMIT 30""".stripMargin)),
    GraftQuery("q_inverted_index",
      "inverted-index build: per-term df, total tf, bounded 8-doc postings head (WindowGroupLimit cut)",
      (s, dir) => invertedIndex(load(s, dir, "documents")),
      Some(
        s"""WITH td AS (
           |  SELECT term, doc_id, count(*) AS tf
           |  FROM (SELECT doc_id, unnest($duckNormToksSql) AS term FROM documents)
           |  WHERE term <> '' GROUP BY term, doc_id),
           |agg AS (SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf
           |        FROM td GROUP BY term),
           |post AS (
           |  SELECT term, string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
           |  FROM (SELECT term, doc_id,
           |               row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
           |        FROM td)
           |  WHERE rn <= 8 GROUP BY term)
           |SELECT agg.term, df, total_tf, postings
           |FROM agg JOIN post USING (term)
           |ORDER BY df DESC, agg.term LIMIT 50""".stripMargin)),
    GraftQuery("q_tfidf_topk", "TF-IDF top-5 terms per doc (integer/string output; score orders, never emitted)",
      (s, dir) => tfidfTopK(s, dir),
      Some(
        """WITH toks AS (
          |  SELECT doc_id, unnest(string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')) AS term
          |  FROM documents),
          |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
          |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          |n AS (SELECT count(*) AS n_docs FROM documents),
          |scored AS (
          |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
          |         tf.tf * ln(CAST(n.n_docs + 1 AS DOUBLE) / (dfreq.df + 1)) AS score
          |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
          |ranked AS (
          |  SELECT doc_id, term, tf, df,
          |         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS INTEGER) AS rank
          |  FROM scored)
          |SELECT doc_id, rank, term, tf, df FROM ranked
          |WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin)),
    GraftQuery("q_bm25_topk", "Okapi BM25 top-5 terms per doc (k1=1.2, b=0.75; score orders, never emitted)",
      (s, dir) => bm25TopK(s, dir),
      Some(
        s"""WITH toks AS (
           |  SELECT doc_id, unnest($duckNormToksSql) AS term FROM documents),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
           |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
           |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
           |corpus AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_tokens FROM dl),
           |scored AS (
           |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df, dl.dl,
           |         ln(1.0 + (CAST(corpus.n_docs AS DOUBLE) - dfreq.df + 0.5) / (CAST(dfreq.df AS DOUBLE) + 0.5)) *
           |         (tf.tf * 2.2) /
           |         (tf.tf + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) /
           |            (CAST(corpus.total_tokens AS DOUBLE) / CAST(corpus.n_docs AS DOUBLE)))) AS score
           |  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN corpus),
           |ranked AS (
           |  SELECT doc_id, term, tf, df, dl,
           |         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS INTEGER) AS rank
           |  FROM scored)
           |SELECT doc_id, rank, term, tf, df, dl FROM ranked
           |WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin)),
    GraftQuery("q_rrf_fusion",
      "hybrid retrieval: BM25 and embedding-cosine top-100 lists fused by reciprocal-rank 1/(60+r), top-20",
      (s, dir) => rrfFusion(s, dir),
      Some(
        s"""WITH toks AS (
           |  SELECT doc_id, unnest($duckNormToksSql) AS term FROM documents),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
           |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
           |corpus AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_tokens FROM dl),
           |qtf AS (SELECT * FROM tf WHERE term IN ('spark', 'join', 'window')),
           |dfreq AS (SELECT term, count(*) AS df FROM qtf GROUP BY 1),
           |sc AS (
           |  SELECT qtf.doc_id, qtf.term,
           |         ln(1.0 + (CAST(corpus.n_docs AS DOUBLE) - dfreq.df + 0.5) / (CAST(dfreq.df AS DOUBLE) + 0.5)) *
           |         (qtf.tf * 2.2) /
           |         (qtf.tf + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) /
           |            (CAST(corpus.total_tokens AS DOUBLE) / CAST(corpus.n_docs AS DOUBLE)))) AS s
           |  FROM qtf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN corpus),
           |perdoc AS (
           |  SELECT doc_id,
           |         max(CASE WHEN term = 'spark' THEN s END) AS s_spark,
           |         max(CASE WHEN term = 'join' THEN s END) AS s_join,
           |         max(CASE WHEN term = 'window' THEN s END) AS s_window
           |  FROM sc GROUP BY 1),
           |lex AS (
           |  SELECT doc_id,
           |         CAST(CAST((COALESCE(s_spark, 0.0) + COALESCE(s_join, 0.0)) + COALESCE(s_window, 0.0) AS DECIMAL(18,6)) AS DOUBLE) AS score
           |  FROM perdoc),
           |lexr AS (
           |  SELECT doc_id, lex_rank FROM (
           |    SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS lex_rank
           |    FROM lex) WHERE lex_rank <= 100),
           |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
           |sims AS (
           |  SELECT vec_id AS doc_id,
           |    list_sum(list_transform(range(1, len(embedding) + 1),
           |             i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))) /
           |    (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
           |     sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
           |  FROM embeddings, q),
           |semr AS (
           |  SELECT doc_id, sem_rank FROM (
           |    SELECT doc_id, CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS INTEGER) AS sem_rank
           |    FROM sims WHERE NOT isnan(cos)) WHERE sem_rank <= 100)
           |SELECT doc_id, lex_rank, sem_rank,
           |       COALESCE(1.0 / (60 + lex_rank), 0.0) + COALESCE(1.0 / (60 + sem_rank), 0.0) AS rrf_score
           |FROM lexr FULL JOIN semr USING (doc_id)
           |ORDER BY rrf_score DESC, doc_id LIMIT 20""".stripMargin)),
    GraftQuery("q_vocab_oov", "top-V vocabulary coverage: per-doc out-of-vocabulary rate vs the corpus top-100 terms",
      (s, dir) => vocabOov(s, dir),
      Some(
        s"""WITH toks AS (
           |  SELECT doc_id, unnest($duckNormToksSql) AS term FROM documents),
           |cnt AS (SELECT term, count(*) AS cnt FROM toks GROUP BY 1),
           |vocab AS (SELECT term, 1 AS in_vocab FROM cnt ORDER BY cnt DESC, term ASC LIMIT 100)
           |SELECT t.doc_id, count(*) AS n_tokens,
           |       CAST(sum(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           |       CAST(CAST(sum(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE) /
           |         CAST(count(*) AS DOUBLE) AS oov_rate
           |FROM toks t LEFT JOIN vocab v USING (term)
           |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin)),
    GraftQuery("q_countmin_topk", "count-min sketch (d=4, w=1024, md5 positions) estimates vs exact top-20 term counts",
      (s, dir) => countMinTopK(s, dir),
      Some(
        s"""WITH toks AS (
           |  SELECT unnest($duckNormToksSql) AS term FROM documents),
           |tf AS (SELECT term, count(*) AS tf FROM toks GROUP BY 1),
           |counters AS (
           |  SELECT t.i, ('0x' || substring(md5(term || ':' || CAST(t.i AS VARCHAR)), 25, 8))::BIGINT % 1024 AS pos,
           |         CAST(sum(tf) AS BIGINT) AS counter
           |  FROM tf, range(4) t(i) GROUP BY 1, 2),
           |top AS (SELECT term, tf FROM tf ORDER BY tf DESC, term ASC LIMIT 20),
           |est AS (
           |  SELECT top.term, top.tf, min(c.counter) AS cms_est
           |  FROM top, range(4) t(i)
           |  JOIN counters c ON c.i = t.i
           |   AND c.pos = ('0x' || substring(md5(top.term || ':' || CAST(t.i AS VARCHAR)), 25, 8))::BIGINT % 1024
           |  GROUP BY top.term, top.tf)
           |SELECT term, tf, cms_est, cms_est - tf AS overestimate
           |FROM est ORDER BY tf DESC, term ASC""".stripMargin)),
    GraftQuery("q_bpe_pair_stats", "BPE iteration zero: top-20 adjacent character-pair merge candidates over the corpus",
      (s, dir) => bpePairStats(s, dir),
      Some(
        s"""WITH toks AS (
           |  SELECT unnest($duckNormToksSql) AS tok FROM documents),
           |pairs AS (
           |  SELECT unnest(list_transform(range(1, length(tok)),
           |                i -> substring(tok, i, 2))) AS pair
           |  FROM toks WHERE length(tok) >= 2)
           |SELECT pair, count(*) AS cnt FROM pairs
           |GROUP BY pair ORDER BY cnt DESC, pair ASC LIMIT 20""".stripMargin)),
    GraftQuery("q_bpe_merges",
      "BPE merge training: 3 unrolled greedy iterations over the weighted vocabulary (learned merge table)",
      (s, dir) => bpeMergeTrain(load(s, dir, "documents"), iters = 3,
        sharedTrain = Some(bpeTrainShared(s, dir))),
      Some(
        s"""WITH $bpeOracleCtes
           |SELECT step, lhs, rhs, pair_cnt FROM (
           |  SELECT * FROM t1 UNION ALL SELECT * FROM t2 UNION ALL SELECT * FROM t3)
           |ORDER BY step""".stripMargin)),
    GraftQuery("q_bpe_encode",
      "tokenizer apply: per-doc BPE fertility stats (words, pieces, pieces/word) under the 3 learned merges",
      (s, dir) => bpeEncodeStats(load(s, dir, "documents"), iters = 3,
        sharedTrain = Some(bpeTrainShared(s, dir))),
      Some(
        s"""WITH $bpeOracleCtes,
           |pieces AS (SELECT w, len(syms) AS n_pieces FROM v3),
           |dw AS (
           |  SELECT doc_id, unnest($duckNormToksSql) AS w FROM documents)
           |SELECT doc_id, count(*) AS n_words,
           |       CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
           |       CAST(sum(n_pieces) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS fertility
           |FROM dw JOIN pieces USING (w)
           |WHERE w <> ''
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    GraftQuery("q_readability",
      "Flesch reading-ease per doc (sentence/word/syllable heuristics shared bit-for-bit by both engines)",
      readability,
      Some(
        s"""WITH base AS (
           |  SELECT doc_id,
           |         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
           |         unnest($duckNormToksSql) AS w
           |  FROM documents),
           |agg AS (
           |  SELECT doc_id, n_sentences, count(*) AS n_words,
           |         CAST(sum(greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1)) AS BIGINT) AS n_syllables
           |  FROM base WHERE w <> ''
           |  GROUP BY doc_id, n_sentences)
           |SELECT doc_id, CAST(n_sentences AS BIGINT) AS n_sentences, n_words, n_syllables,
           |       206.835
           |         - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
           |         - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)) AS flesch
           |FROM agg ORDER BY doc_id""".stripMargin)),
    GraftQuery("q_token_budget",
      "training-mix token budget: per-source doc/token totals, shares, and the cumulative share over the bounded source domain",
      (s, dir) => tokenBudget(s, dir),
      Some(
        s"""WITH d AS (
           |  SELECT source, count(*) AS n_docs,
           |         CAST(sum(len(list_filter($duckNormToksSql, t -> t <> ''))) AS BIGINT) AS n_tokens
           |  FROM documents GROUP BY 1),
           |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM d)
           |SELECT source, n_docs, n_tokens,
           |       CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE) AS token_share,
           |       CAST(CAST(sum(n_tokens) OVER (ORDER BY n_tokens DESC, source
           |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS DOUBLE) /
           |         CAST(total AS DOUBLE) AS cum_share
           |FROM d, tot
           |ORDER BY n_tokens DESC, source""".stripMargin)),
    GraftQuery("q_text_stats", "token/char counts incl. BPE-ish regex tokenizer",
      textStats,
      Some(
        s"""SELECT doc_id,
           |       CAST(length(text) AS INTEGER) AS n_chars_c,
           |       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
           |       CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct_tokens,
           |       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS INTEGER) AS n_bpe_tokens
           |FROM (SELECT doc_id, lang, coalesce(text, '') AS text FROM documents) ORDER BY doc_id""".stripMargin)),
    GraftQuery("q_sentences", "sentence segmentation stats (RE2-safe terminator counting)",
      sentenceStats,
      Some(
        """SELECT doc_id,
          |       CAST(len(regexp_extract_all(text, '[.!?]+([ \t\n\r\f]|\z)')) AS INTEGER) AS n_sentences,
          |       CAST(length(text) AS DOUBLE) /
          |       CAST(greatest(len(regexp_extract_all(text, '[.!?]+([ \t\n\r\f]|\z)')), 1) AS DOUBLE) AS avg_sentence_chars
          |FROM (SELECT doc_id, lang, coalesce(text, '') AS text FROM documents) ORDER BY doc_id""".stripMargin)),
    GraftQuery("q_lang_id", "marker-word language-ID heuristic + argmax",
      langId,
      Some(
        """SELECT doc_id, lang AS labeled_lang,
          |       CAST(len(regexp_extract_all(text, '\b(the|a|and|of|to|is)\b')) AS INTEGER) AS score_en,
          |       CAST(len(regexp_extract_all(text, '\b(der|die|das|und|ist|nicht)\b')) AS INTEGER) AS score_de,
          |       CAST(len(regexp_extract_all(text, '\b(el|la|los|de|que|y)\b')) AS INTEGER) AS score_es,
          |       CAST(len(regexp_extract_all(text, '\b(le|la|les|des|est|et)\b')) AS INTEGER) AS score_fr,
          |       CASE WHEN len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) > 0 THEN 'zh'
          |            WHEN len(regexp_extract_all(text, '\b(the|a|and|of|to|is)\b')) >= len(regexp_extract_all(text, '\b(der|die|das|und|ist|nicht)\b'))
          |             AND len(regexp_extract_all(text, '\b(the|a|and|of|to|is)\b')) >= len(regexp_extract_all(text, '\b(el|la|los|de|que|y)\b'))
          |             AND len(regexp_extract_all(text, '\b(the|a|and|of|to|is)\b')) >= len(regexp_extract_all(text, '\b(le|la|les|des|est|et)\b')) THEN 'en'
          |            WHEN len(regexp_extract_all(text, '\b(der|die|das|und|ist|nicht)\b')) >= len(regexp_extract_all(text, '\b(el|la|los|de|que|y)\b'))
          |             AND len(regexp_extract_all(text, '\b(der|die|das|und|ist|nicht)\b')) >= len(regexp_extract_all(text, '\b(le|la|les|des|est|et)\b')) THEN 'de'
          |            WHEN len(regexp_extract_all(text, '\b(el|la|los|de|que|y)\b')) >= len(regexp_extract_all(text, '\b(le|la|les|des|est|et)\b')) THEN 'es'
          |            ELSE 'fr' END AS predicted_lang
          |FROM (SELECT doc_id, lang, coalesce(text, '') AS text FROM documents) ORDER BY doc_id""".stripMargin)),
    GraftQuery("q_gopher_repetition",
      "Gopher repetition-removal battery (Rae 2021 A1.1/table A1): dup-line + dup-line-char fractions, top-{2,3,4}-gram char fractions, dup-5-gram occurrence-mass fraction, paper thresholds",
      gopherRepetition,
      Some {
        def gramCte(n: Int, rel: String): String =
          s"""g$n AS (
             |  SELECT doc_id, nc, unnest(CASE WHEN len(tk) >= $n
             |    THEN list_transform(range(0, len(tk) - $n + 1),
             |           i -> array_to_string(list_slice(tk, CAST(i + 1 AS INT), CAST(i + $n AS INT)), ' '))
             |    ELSE [] END) AS g
             |  FROM $rel),
             |c$n AS (SELECT doc_id, nc, g, count(*) AS c FROM g$n GROUP BY 1, 2, 3)""".stripMargin
        def topCte(n: Int): String =
          s"""t$n AS (
             |  SELECT doc_id,
             |    CAST(c * length(g) AS DOUBLE) / nullif(nc, 0) AS top${n}_char_frac
             |  FROM (SELECT doc_id, nc, g, c, row_number() OVER (
             |          PARTITION BY doc_id ORDER BY c DESC, g DESC) AS rn
             |        FROM c$n)
             |  WHERE rn = 1)""".stripMargin
        s"""WITH d AS (SELECT doc_id, coalesce(text, '') AS t0,
           |             $duckNormSql AS nrm FROM documents),
           |b AS (SELECT doc_id, t0,
           |        CAST(length(nrm) AS BIGINT) AS nc,
           |        list_filter(string_split(nrm, ' '), x -> x <> '') AS tk
           |      FROM d),
           |ln AS (SELECT doc_id,
           |         unnest(list_filter(str_split(t0, chr(10)), l -> trim(l) <> '')) AS line
           |       FROM b),
           |lc AS (SELECT doc_id, line, count(*) AS c FROM ln GROUP BY 1, 2),
           |ls AS (SELECT doc_id,
           |         CAST(sum(c) AS BIGINT) AS n_lines,
           |         CAST(sum(c) - count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS dup_line_frac,
           |         CAST(sum((c - 1) * length(line)) AS DOUBLE) /
           |           nullif(CAST(sum(c * length(line)) AS BIGINT), 0) AS dup_line_char_frac
           |       FROM lc GROUP BY 1),
           |pn AS (SELECT doc_id,
           |         unnest(list_filter(regexp_split_to_array(t0, '\n{2,}'),
           |                            p -> trim(p) <> '')) AS para
           |       FROM b),
           |pc AS (SELECT doc_id, para, count(*) AS c FROM pn GROUP BY 1, 2),
           |ps AS (SELECT doc_id,
           |         CAST(sum(c) - count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS dup_para_frac,
           |         CAST(sum((c - 1) * length(para)) AS DOUBLE) /
           |           nullif(CAST(sum(c * length(para)) AS BIGINT), 0) AS dup_para_char_frac
           |       FROM pc GROUP BY 1),
           |${gramCte(2, "b")},
           |${topCte(2)},
           |${gramCte(3, "b")},
           |${topCte(3)},
           |${gramCte(4, "b")},
           |${topCte(4)},
           |${gramCte(5, "b")},
           |d5 AS (SELECT doc_id,
           |         CAST(sum(CASE WHEN c >= 2 THEN c * length(g) ELSE 0 END) AS DOUBLE) /
           |           nullif(any_value(nc), 0) AS dup5_char_frac
           |       FROM c5 GROUP BY 1)
           |SELECT b.doc_id,
           |       coalesce(ls.n_lines, 0) AS n_lines,
           |       ls.dup_line_frac, ls.dup_line_char_frac,
           |       ps.dup_para_frac, ps.dup_para_char_frac,
           |       t2.top2_char_frac, t3.top3_char_frac, t4.top4_char_frac,
           |       d5.dup5_char_frac,
           |       coalesce(ls.dup_line_frac <= 0.30
           |                AND ls.dup_line_char_frac <= 0.20
           |                AND ps.dup_para_frac <= 0.30
           |                AND ps.dup_para_char_frac <= 0.20
           |                AND t2.top2_char_frac <= 0.20
           |                AND t3.top3_char_frac <= 0.18
           |                AND t4.top4_char_frac <= 0.16
           |                AND d5.dup5_char_frac <= 0.15, false) AS pass
           |FROM b
           |LEFT JOIN ls USING (doc_id)
           |LEFT JOIN ps USING (doc_id)
           |LEFT JOIN t2 USING (doc_id)
           |LEFT JOIN t3 USING (doc_id)
           |LEFT JOIN t4 USING (doc_id)
           |LEFT JOIN d5 USING (doc_id)
           |ORDER BY doc_id""".stripMargin
      }),
    GraftQuery("q_gopher_rules",
      "Gopher quality-filter battery (Rae et al. 2021 A1.1): word-count/mean-word-length windows, symbol ratio, bullet/ellipsis line fractions, alphabetic-word fraction, 2-of-8 stop words; per-rule values + conjunctive verdict",
      gopherRules,
      Some(
        """WITH d AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
          |w AS (SELECT doc_id, t,
          |        list_filter(regexp_split_to_array(t, '\s+'), x -> x <> '') AS ws,
          |        str_split(t, chr(10)) AS ls
          |      FROM d),
          |m AS (SELECT doc_id,
          |        CAST(len(ws) AS BIGINT) AS n_words,
          |        CAST(len(ls) AS BIGINT) AS n_lines,
          |        CAST(list_sum(list_transform(ws, x -> length(x))) AS BIGINT) AS wlen,
          |        CAST(length(t) - length(replace(t, '#', '')) AS BIGINT) +
          |          CAST((length(t) - length(replace(t, '...', ''))) // 3 AS BIGINT) AS nsym,
          |        CAST(len(list_filter(ls, l -> regexp_matches(l, '^\s*[-*•]'))) AS BIGINT) AS nbul,
          |        CAST(len(list_filter(ls, l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) AS BIGINT) AS nell,
          |        CAST(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS nalpha,
          |        CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
          |          sw -> list_contains(list_transform(ws, x -> lower(x)), sw))) AS BIGINT) AS n_stop_hits
          |      FROM w),
          |r AS (SELECT doc_id, n_words,
          |        CAST(wlen AS DOUBLE) / nullif(n_words, 0) AS mean_word_len,
          |        CAST(nsym AS DOUBLE) / nullif(n_words, 0) AS symbol_ratio,
          |        CAST(nbul AS DOUBLE) / CAST(n_lines AS DOUBLE) AS bullet_frac,
          |        CAST(nell AS DOUBLE) / CAST(n_lines AS DOUBLE) AS ellipsis_frac,
          |        CAST(nalpha AS DOUBLE) / nullif(n_words, 0) AS alpha_word_frac,
          |        n_stop_hits
          |      FROM m)
          |SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
          |       ellipsis_frac, alpha_word_frac, n_stop_hits,
          |       coalesce(n_words BETWEEN 50 AND 100000
          |                AND mean_word_len BETWEEN 3.0 AND 10.0
          |                AND symbol_ratio < 0.1
          |                AND bullet_frac < 0.9
          |                AND ellipsis_frac < 0.3
          |                AND alpha_word_frac > 0.8
          |                AND n_stop_hits >= 2, false) AS pass
          |FROM r ORDER BY doc_id""".stripMargin)),
    GraftQuery("q_c4_rules",
      "C4 cleaning battery (Raffel et al. 2020 §2.2): terminal-punctuation/3-word/javascript line filters with clean-text reassembly, sentence census, lorem-ipsum + curly-brace page flags, conjunctive verdict",
      c4Rules,
      Some(
        """WITH w AS (SELECT doc_id,
          |        list_filter(regexp_split_to_array(coalesce(text, ''), '\s+'), x -> x <> '') AS ws
          |      FROM documents),
          |pl AS (SELECT doc_id, CASE WHEN len(ws) = 0 THEN CAST([] AS VARCHAR[])
          |         ELSE list_transform(range(0, CAST(ceil(len(ws) / 6.0) AS BIGINT)),
          |           i -> array_to_string(list_slice(ws, i * 6 + 1, i * 6 + 6), ' ') ||
          |             CASE (doc_id + i) % 5 WHEN 0 THEN '.' WHEN 1 THEN ''
          |               WHEN 2 THEN ' javascript.' WHEN 3 THEN '!' ELSE '?' END)
          |         END AS lines
          |       FROM w),
          |d AS (SELECT doc_id,
          |        coalesce(array_to_string(lines, chr(10)), '') ||
          |          CASE WHEN doc_id % 37 = 0 THEN chr(10) || 'layout { width }' ELSE '' END ||
          |          CASE WHEN doc_id % 41 = 0 THEN chr(10) || 'Lorem ipsum dolor sit amet.' ELSE '' END AS t
          |      FROM pl),
          |l AS (SELECT doc_id, t, str_split(t, chr(10)) AS ls FROM d),
          |k AS (SELECT doc_id, t, ls,
          |        list_filter(ls, l -> regexp_matches(l, '[.!?"”]\s*$')
          |          AND len(list_filter(regexp_split_to_array(l, '\s+'), x -> x <> '')) >= 3
          |          AND NOT contains(lower(l), 'javascript')) AS kept
          |      FROM l)
          |SELECT doc_id,
          |       CAST(len(ls) AS BIGINT) AS n_lines,
          |       CAST(len(kept) AS BIGINT) AS n_kept_lines,
          |       CAST(coalesce(list_sum(list_transform(kept, x -> length(x))), 0) AS DOUBLE) /
          |         nullif(CAST(coalesce(list_sum(list_transform(ls, x -> length(x))), 0) AS DOUBLE), 0.0) AS kept_char_frac,
          |       CAST(len(regexp_extract_all(t, '[.!?]')) AS BIGINT) AS n_sentences,
          |       contains(lower(t), 'lorem ipsum') AS has_lorem_ipsum,
          |       contains(t, '{') AS has_curly_brace,
          |       coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
          |       len(regexp_extract_all(t, '[.!?]')) >= 5
          |         AND NOT contains(lower(t), 'lorem ipsum')
          |         AND NOT contains(t, '{') AS pass
          |FROM k ORDER BY doc_id""".stripMargin)),
    GraftQuery("q_refinedweb_rules",
      "RefinedWeb line-wise correction battery (Penedo et al. 2023): uppercase-heavy / numeric / counter / single-word / login-boilerplate line removal, 5% doc modification threshold, clean-text reassembly",
      refinedwebRules,
      Some(
        """WITH w AS (SELECT doc_id,
          |        list_filter(regexp_split_to_array(coalesce(text, ''), '\s+'), x -> x <> '') AS ws
          |      FROM documents),
          |pl AS (SELECT doc_id, CASE WHEN len(ws) = 0 THEN CAST([] AS VARCHAR[])
          |         ELSE list_transform(range(0, CAST(ceil(len(ws) / 5.0) AS BIGINT)),
          |           i -> CASE WHEN doc_id % 4 != 0 AND (doc_id + i) % 19 = 15
          |                  THEN CAST((doc_id + i) % 997 AS VARCHAR) || ' ' || CAST(i % 10 AS VARCHAR)
          |                WHEN doc_id % 4 != 0 AND (doc_id + i) % 19 = 16
          |                  THEN upper(array_to_string(list_slice(ws, i * 5 + 1, i * 5 + 5), ' '))
          |                WHEN doc_id % 4 != 0 AND (doc_id + i) % 19 = 17
          |                  THEN CAST((doc_id + i) % 50 AS VARCHAR) || ' likes'
          |                WHEN doc_id % 4 != 0 AND (doc_id + i) % 19 = 18
          |                  THEN 'Sign in to continue'
          |                ELSE array_to_string(list_slice(ws, i * 5 + 1, i * 5 + 5), ' ') || '.'
          |                END)
          |         END AS ls0
          |       FROM w),
          |pl2 AS (SELECT doc_id,
          |         string_split(coalesce(array_to_string(ls0, chr(10)), ''), chr(10)) AS ls
          |       FROM pl),
          |k AS (SELECT doc_id, ls,
          |        list_filter(ls, l -> NOT (
          |          (length(regexp_replace(l, '[^A-Za-z]', '', 'g')) > 0 AND
          |           CAST(length(regexp_replace(l, '[^A-Z]', '', 'g')) AS DOUBLE) /
          |             length(regexp_replace(l, '[^A-Za-z]', '', 'g')) > 0.6)
          |          OR (regexp_matches(l, '^[0-9 .,%]+$') AND regexp_matches(l, '[0-9]'))
          |          OR regexp_matches(l, '^[0-9]+ (likes|views|shares|comments|upvotes)$')
          |          OR len(list_filter(regexp_split_to_array(l, '\s+'), x -> x <> '')) = 1
          |          OR (len(list_filter(regexp_split_to_array(l, '\s+'), x -> x <> '')) BETWEEN 2 AND 8 AND
          |              regexp_matches(lower(l), '(sign in|log in|subscribe|accept cookies)'))
          |        )) AS kept
          |      FROM pl2)
          |SELECT doc_id,
          |       CAST(len(ls) AS BIGINT) AS n_lines,
          |       CAST(len(ls) - len(kept) AS BIGINT) AS n_removed_lines,
          |       1.0 - CAST(coalesce(list_sum(list_transform(kept, x -> length(x))), 0) AS DOUBLE) /
          |         nullif(CAST(coalesce(list_sum(list_transform(ls, x -> length(x))), 0) AS DOUBLE), 0.0) AS removed_char_frac,
          |       coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
          |       coalesce(1.0 - CAST(coalesce(list_sum(list_transform(kept, x -> length(x))), 0) AS DOUBLE) /
          |         nullif(CAST(coalesce(list_sum(list_transform(ls, x -> length(x))), 0) AS DOUBLE), 0.0) <= 0.05, false) AS pass
          |FROM k ORDER BY doc_id""".stripMargin)),
    GraftQuery("q_quality_score", "length/punct/stopword quality scoring",
      qualityScore,
      Some(
        """SELECT doc_id,
          |       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
          |       CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')) AS avg_token_span,
          |       CAST(len(regexp_extract_all(text, '\b(the|a|and|of|to|is)\b')) AS DOUBLE) / len(string_split(text, ' ')) AS stopword_ratio,
          |       CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE) / greatest(length(text), 1) AS punct_ratio,
          |       (len(string_split(text, ' ')) BETWEEN 10 AND 2000
          |        AND CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE) / greatest(length(text), 1) < 0.2) AS passes_quality
          |FROM (SELECT doc_id, lang, coalesce(text, '') AS text FROM documents) ORDER BY doc_id""".stripMargin)),
    GraftQuery("q_winnow_fingerprint", "MOSS winnowing rolling-hash fingerprints (XXH64 is engine-specific -> rows-only; selection proven by q_winnow_md5_twin)",
      winnowFingerprint, None),
    GraftQuery("q_winnow_md5_twin", "graft_winnow over md5 3-gram hashes == DuckDB SQL winnowing reformulation",
      winnowMd5Twin,
      Some(
        """WITH toks AS (
          |  SELECT doc_id,
          |         string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ') AS tk
          |  FROM documents WHERE doc_id < 500),
          |hs AS (
          |  SELECT doc_id, CASE WHEN len(tk) >= 3 THEN
          |    list_transform(range(1, len(tk) - 1),
          |      i -> ('0x' || substring(md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]), 25, 8))::BIGINT)
          |  ELSE [] END AS h FROM toks),
          |fps AS (
          |  SELECT doc_id,
          |    CASE WHEN len(h) = 0 THEN CAST([] AS BIGINT[])
          |         WHEN len(h) <= 4 THEN [list_min(h)]
          |         ELSE list_transform(
          |           list_distinct(list_transform(range(1, len(h) - 2),
          |             i -> i + 4 - list_position(list_reverse(h[i : i + 3]), list_min(h[i : i + 3])))),
          |           p -> h[p]) END AS fp
          |  FROM hs)
          |SELECT doc_id, CAST(len(fp) AS INT) AS n_fingerprints,
          |       md5(COALESCE(list_aggregate(list_sort(list_distinct(fp)), 'string_agg', ','), '')) AS fp_digest
          |FROM fps ORDER BY doc_id""".stripMargin)),
    GraftQuery("q_string_funcs", "scalar string-function sweep incl. edit distance",
      stringFuncs,
      Some(
        """SELECT c_custkey,
          |       upper(c_name) AS uname,
          |       lower(c_mktsegment) AS lseg,
          |       substring(c_name, 1, 8) AS prefix8,
          |       lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded_key,
          |       coalesce(regexp_extract(c_name, '([0-9]+)', 1), '') AS name_digits,
          |       CAST(strpos(c_name, '#') AS INTEGER) AS hash_pos,
          |       reverse(c_name) AS rev_name,
          |       CAST(levenshtein(c_mktsegment, 'BUILDING') AS INTEGER) AS seg_dist,
          |       regexp_replace(c_name, 'Customer#0*([0-9]+)', 'C-\1') AS short_name
          |FROM customer ORDER BY c_custkey""".stripMargin)),
    GraftQuery("q_zipf",
      "Zipf frequency-spectrum fit: bit-quantized log-log OLS over the bounded floor-log2 bucket census",
      zipfSpectrum,
      Some(
        s"""WITH toks AS (SELECT unnest($duckNormToksSql) AS term FROM documents),
           |c AS (SELECT term, count(*) AS c FROM toks WHERE term <> '' GROUP BY term),
           |st AS (SELECT count(*) AS vocab, CAST(sum(c) AS BIGINT) AS total_tf FROM c),
           |xy AS (
           |  SELECT x, CAST(floor(log2(types)) AS BIGINT) AS y
           |  FROM (SELECT CAST(floor(log2(c)) AS BIGINT) AS x, count(*) AS types
           |        FROM c GROUP BY 1)),
           |m AS (
           |  SELECT CAST(count(*) AS DOUBLE) AS n,
           |         CAST(count(*) AS BIGINT) AS n_out,
           |         CAST(CAST(sum(x) AS BIGINT) AS DOUBLE) AS sx,
           |         CAST(CAST(sum(y) AS BIGINT) AS DOUBLE) AS sy,
           |         CAST(CAST(sum(x * x) AS BIGINT) AS DOUBLE) AS sxx,
           |         CAST(CAST(sum(y * y) AS BIGINT) AS DOUBLE) AS syy,
           |         CAST(CAST(sum(x * y) AS BIGINT) AS DOUBLE) AS sxy
           |  FROM xy)
           |SELECT vocab, total_tf, n_out AS n_buckets,
           |       (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0) AS slope,
           |       (sy - (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0) * sx) / n AS intercept,
           |       ((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
           |         NULLIF((n * sxx - sx * sx) * (n * syy - sy * sy), 0) AS r2
           |FROM st, m ORDER BY vocab""".stripMargin)),
    GraftQuery("q_term_stats", "corpus TF/DF term statistics (TF-IDF building block), top 20",
      termStats,
      Some(
        """SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
          |FROM (
          |  SELECT doc_id,
          |         unnest(string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')) AS term
          |  FROM documents)
          |WHERE term <> ''
          |GROUP BY term ORDER BY tf DESC, term LIMIT 20""".stripMargin)),
    GraftQuery("q_extract_all", "regexp_extract_all: every match, flattened to joined string + count",
      extractAll,
      Some(
        """SELECT doc_id,
          |       coalesce(array_to_string(regexp_extract_all(coalesce(text, ''), '[0-9]+'), ','), '') AS all_numbers,
          |       CAST(len(regexp_extract_all(coalesce(text, ''), '[0-9]+')) AS INT) AS n_numbers
          |FROM documents ORDER BY doc_id""".stripMargin)),
    GraftQuery("q_encodings", "hex/base64/md5/sha256 content encodings",
      encodings,
      Some(
        """SELECT doc_id,
          |       hex(encode(substring(text, 1, 8))) AS hex8,
          |       to_base64(encode(substring(text, 1, 8))) AS b64_8,
          |       md5(text) AS md5_hex,
          |       sha256(text) AS sha256_hex
          |FROM documents ORDER BY doc_id""".stripMargin)),
    GraftQuery("q_doc_fingerprint", "md5 fingerprint of normalized text",
      docFingerprint,
      Some(
        """SELECT doc_id,
          |       md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fingerprint,
          |       substring(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), 1, 32) AS norm_prefix
          |FROM documents ORDER BY doc_id""".stripMargin)),
  )
}
