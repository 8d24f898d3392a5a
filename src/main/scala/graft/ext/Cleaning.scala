package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.GraftQuery
import graft.engine.Tables.load
import graft.functions.TextOps

/** Training-corpus cleaning operators (north-star Tier B): PII
  * redaction, eval-set contamination detection, and repetition-based
  * quality signals (the Gopher-rule family).
  *
  * 100 TB design: redaction and repetition stats are row-local single
  * scans (codegen'd regex/aggregation, zero shuffle). Contamination
  * shuffles on the n-gram key only — and the production call hashes
  * grams to 64-bit longs first ([[Dedup.hashedShingleSets]]) so the
  * shuffle carries 8-byte keys, not strings; a real eval set is tiny,
  * so Spark broadcasts it and even that shuffle disappears.
  */
object Cleaning {

  private val dec38 = DecimalType(38, 0)

  /** Row-local 10-way HASH fold of doc_id for train/held-out splits:
    * pmod(md5Uint32(doc_id), 10). A raw `doc_id % 10` is unbiased only
    * on dense sequential ids — on any clustered or structured id space
    * (sharded allocators, snowflake ids) a modulo split is biased, so
    * fold assignment hashes first. DuckDB mirror: [[foldSql]].
    */
  private def docFold: Column =
    pmod(graft.functions.HashExprs.md5Uint32(col("doc_id")), lit(10))

  /** DuckDB mirror of [[docFold]] — same md5 window as md5Uint32. */
  private val foldSql =
    "('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 25, 8))::BIGINT % 10"

  // ---- PII redaction ---------------------------------------------------

  /** Redaction patterns (applied in this order: emails first so the
    * address' digit runs can never half-match as IPs/phones).
    */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Re = "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b"
  val phoneRe = "\\b555-\\d{4}\\b"

  /** Scrub emails / IPv4s / phone numbers from a text column; row-local
    * chained `regexp_replace` (codegen, single scan — the shape that
    * holds at any scale).
    */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, emailRe, "[EMAIL]"),
        ipv4Re, "[IP]"),
      phoneRe, "[PHONE]")

  /** Registered demo: the fixture corpus carries no PII, so the query
    * plants a deterministic contact trailer per doc (modulo rules vary
    * the email/IP/phone mix, including docs with none) and then counts
    * and scrubs it. The construction is part of the query so the DuckDB
    * oracle replays it exactly.
    */
  def piiRedact(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val sid = id.cast("string")
    val contact = concat(
      when(id % 3 =!= 0, concat(lit(" user"), sid, lit("@example.com"))).otherwise(lit("")),
      when(id % 5 === 0, concat(lit(" alt"), sid, lit("@mail.test"))).otherwise(lit("")),
      when(id % 2 === 0,
        concat(lit(" from 10.0."), expr("CAST((doc_id DIV 256) % 256 AS STRING)"),
          lit("."), (id % 256).cast("string"))).otherwise(lit("")),
      when(id % 7 === 0,
        concat(lit(" call 555-"), lpad((id % 10000).cast("string"), 4, "0")))
        .otherwise(lit("")))
    load(s, dir, "documents")
      .select(id, concat(col("text"), contact).as("full_text"))
      .select(
        id,
        regexp_count(col("full_text"), lit(emailRe)).cast("long").as("n_emails"),
        regexp_count(col("full_text"), lit(ipv4Re)).cast("long").as("n_ips"),
        regexp_count(col("full_text"), lit(phoneRe)).cast("long").as("n_phones"),
        redactPii(col("full_text")).as("redacted"))
      .orderBy("doc_id")
  }

  // ---- eval-set contamination -----------------------------------------

  /** Docs sharing at least one word n-gram with any eval-set document —
    * benchmark-leakage detection. `evalPred` marks the eval docs; the
    * report lists each contaminated NON-eval doc with how many distinct
    * grams it shares and the smallest eval doc id it collides with.
    *
    * Set `hashed = true` (the scale path) to join on 64-bit gram hashes
    * instead of gram strings — same output modulo 64-bit collisions
    * (unit-asserted equal on the fixtures), 8-byte shuffle keys.
    */
  def contamination(docs: DataFrame, idCol: String, textCol: String,
      evalPred: Column, n: Int = 5, hashed: Boolean = false,
      cacheSets: Boolean = false): DataFrame = {
    val sets0 =
      if (hashed)
        Dedup.hashedShingleSets(docs, textCol, idCol, n)
          .withColumnRenamed("shs", "shingles")
      else Dedup.shingleSets(docs, textCol, n)
        .select(col(idCol), col("shingles"))
    // the shingle sets feed both the eval and the corpus side of the
    // gram join — cacheSets skips the second per-doc hashing pass at
    // the price of one corpus-sized materialization (opt-in; same
    // ownership contract as Dedup.minhashPairsCore)
    val sets = Dedup.maybePersist(sets0, cacheSets)
    val grams = sets.select(col(idCol), explode(col("shingles")).as("g"))
    // Collapse the eval side to ONE row per gram before the join: a gram
    // present in many eval docs would otherwise fan the join out per
    // (doc, gram, eval-doc) — quadratic in eval multiplicity at scale.
    // Per-doc shingle sets are distinct (array_distinct /
    // graft_shingle_hashes dedupe), so after the unique-gram join a plain
    // count(*) IS the distinct shared-gram count, and min(first_eval)
    // over per-gram minima equals the global min eval collider.
    val ev = grams.where(evalPred)
      .groupBy(col("g"))
      .agg(min(col(idCol)).as("first_eval"))
    grams.where(!evalPred)
      .join(ev, "g")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"), min("first_eval").as("first_eval"))
      .orderBy(idCol)
  }

  /** Registered on the HASHED path: identical output to string grams
    * unless two distinct 5-grams collide in 64 bits (~250k grams at
    * sf0.1 → collision odds ~2e-9; the string path benched 15.3 s at
    * sf0.1 vs ~1 s hashed — the round-1 HOF-string-shingle lesson).
    * [[CleaningSpec]] asserts hashed == string on the fixture.
    */
  def contaminationReport(s: SparkSession, dir: String): DataFrame =
    contamination(load(s, dir, "documents"), "doc_id", "text",
      evalPred = col("doc_id") % 10 === 5, hashed = true, cacheSets = true)

  // ---- repetition quality signals (Gopher-rule family) -----------------

  /** Per-doc repetition stats over the normalized token stream:
    * duplicate-token fraction, most-frequent-token fraction, and
    * most-frequent-bigram fraction — the signals behind "drop docs that
    * are mostly boilerplate repeats". Integer counts divided once at
    * the end: exact, shuffle only on (doc_id[, gram]) aggregation keys.
    */
  def repetitionStats(s: SparkSession, dir: String): DataFrame = {
    // the normalized token arrays feed BOTH explodes (words, bigrams) —
    // persist skips the second normalize+split pass over the corpus.
    // Session-bounded cache with a stable logical plan (CacheManager
    // reuses the entry across rebuilds of this registered query).
    val toks = load(s, dir, "documents")
      .select(col("doc_id"), split(TextOps.normalizeText(col("text")), " ").as("toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val words = toks.select(col("doc_id"), explode(col("toks")).as("tok"))
    val wstats = words.groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum("c").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max("c").as("top_cnt"))
    // ALL bigrams (duplicates preserved — repetition is the signal;
    // shingleSets would dedup them away)
    val bigrams = toks
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(toks) >= 2
          |  THEN transform(sequence(1, size(toks) - 1),
          |                 i -> concat_ws(' ', toks[i-1], toks[i]))
          |  ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin)).as("g"))
    val bstats = bigrams.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(sum("c").as("n_bigrams"), max("c").as("top_bg"))
    wstats.join(bstats, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_tokens"),
        ((col("n_tokens") - col("n_distinct")).cast("double") /
          col("n_tokens").cast("double")).as("dup_token_frac"),
        (col("top_cnt").cast("double") / col("n_tokens").cast("double"))
          .as("top_token_frac"),
        coalesce(col("top_bg").cast("double") / col("n_bigrams").cast("double"),
          lit(0.0)).as("top_bigram_frac"))
      .orderBy("doc_id")
  }

  // ---- length-outlier QC flags -----------------------------------------

  /** Per-language z-score outlier flags on document length — the QC
    * gate "drop docs whose length is anomalous for their language".
    *
    * Numerics: per-lang stats come from EXACT integer moments —
    * count, Σx, Σx² accumulated as DECIMAL(38,0), not long: a long Σx²
    * would wrap SILENTLY past 2⁶³ (≈9M million-char docs in one
    * language — reachable in a 100 TB corpus) and the variance clamp
    * would then flatten every z to 0 with no error, while the DuckDB
    * oracle's HUGEINT sum kept going. The exact decimal converts to
    * double ONCE with the same formula on both engines (nearest-double
    * of the same integer), so mean/std/z are bit-identical and the
    * boolean threshold can never flip cross-engine.
    *
    * Scale: the stats table is one row per language → broadcast hash
    * join back onto the corpus. One partial+final aggregate plus a
    * map-side join — deliberately NOT a window over `lang`, whose
    * handful of distinct values would funnel a 100 TB corpus into a
    * handful of single-task sort buffers.
    */
  def outlierDocs(s: SparkSession, dir: String): DataFrame =
    outlierFlags(load(s, dir, "documents")).orderBy("doc_id")

  /** df-level core of [[outlierDocs]] (needs doc_id, lang, n_chars) —
    * reused by [[TrainingPipeline]]'s quality gate.
    */
  def outlierFlags(docs: DataFrame): DataFrame = {
    val meanE = col("s1").cast("double") / col("n").cast("double")
    // variance clamped at 0: FP cancellation can leave Σx²/n − mean²
    // a hair negative and sqrt(negative) diverges between engines
    val stats = docs.groupBy("lang")
      .agg(
        count(lit(1)).as("n"),
        sum(col("n_chars").cast(DecimalType(38, 0))).as("s1"),
        // cast the OPERANDS, not the product: a LONG square wraps
        // silently (ANSI off) for any doc over ~3.0e9 chars, while the
        // DECIMAL(38,0) multiply is exact to 10^38
        sum(col("n_chars").cast(DecimalType(38, 0)) *
            col("n_chars").cast(DecimalType(38, 0)))
          .as("s2"))
      .select(
        col("lang"), meanE.as("mean"),
        sqrt(greatest(
          col("s2").cast("double") / col("n").cast("double") - meanE * meanE,
          lit(0d))).as("std"))
    docs.join(broadcast(stats), Seq("lang"))
      .select(
        col("doc_id"), col("lang"), col("n_chars"),
        when(col("std") === 0d, lit(0d))
          .otherwise((col("n_chars").cast("double") - col("mean")) / col("std"))
          .as("z"))
      .withColumn("is_outlier", abs(col("z")) > 2d)
  }

  /** Winsorization: clip document length at per-language p05/p95 —
    * the outlier-CLIPPING companion of [[outlierDocs]]'s flagging
    * (QC pipelines flag, then either drop or clip). Exact
    * linear-interpolation percentiles per group (DECIMAL(18,6)-rounded
    * so Spark and DuckDB interpolate to the same double), broadcast
    * back, clamp with least/greatest. Same scale shape as
    * [[outlierDocs]]: tiny per-lang table → map-side join, no window.
    */
  def winsorize(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val pct = docs.groupBy("lang").agg(
      expr("percentile(n_chars, 0.05)").cast(DecimalType(18, 6))
        .cast(DoubleType).as("p05"),
      expr("percentile(n_chars, 0.95)").cast(DecimalType(18, 6))
        .cast(DoubleType).as("p95"))
    docs.join(broadcast(pct), Seq("lang"))
      .select(
        col("doc_id"), col("lang"), col("n_chars"), col("p05"), col("p95"),
        least(greatest(col("n_chars").cast(DoubleType), col("p05")),
          col("p95")).as("clipped"))
      .orderBy("doc_id")
  }

  /** Median absolute deviation per language — the ROBUST companion of
    * [[outlierDocs]]' z-score (mean/std are dragged by the very
    * outliers they're meant to find; median/MAD aren't). Two exact
    * percentile aggregations, each DECIMAL-rounded to the double both
    * engines interpolate to; the per-lang tables are tiny so the
    * deviation pass is a broadcast join, and nothing windows over the
    * low-cardinality lang key.
    */
  def madStats(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    // count rides the median aggregation: two scans total, not three
    val med = docs.groupBy("lang").agg(
      expr("percentile(n_chars, 0.5)").cast(DecimalType(18, 6))
        .cast(DoubleType).as("med"),
      count(lit(1)).as("n"))
    val mad = docs.join(broadcast(med.select("lang", "med")), Seq("lang"))
      .withColumn("adev", abs(col("n_chars").cast(DoubleType) - col("med")))
      .groupBy("lang").agg(
        expr("percentile(adev, 0.5)").cast(DecimalType(18, 6))
          .cast(DoubleType).as("mad"))
    med.join(mad, Seq("lang"))
      .select(col("lang"), col("n"), col("med"), col("mad"))
      .orderBy("lang")
  }

  // ---- Luhn card-number validation -------------------------------------

  /** Card-number PII needs VALIDATION, not just a digit-run regex: a
    * 16-digit order number is not a card, and redacting every digit run
    * shreds the corpus. `graft_luhn` (native, codegen) checks the Luhn
    * checksum in one pass per candidate. The registered query pins the
    * expression's arithmetic end to end: per doc it derives a 15-digit
    * prefix from doc_id, tries all ten check digits through graft_luhn,
    * and emits the one that validates — which the oracle computes
    * independently in closed form ((10 − Σ) mod 10 over the
    * position-doubled digit sum). Exactly one candidate may pass.
    */
  def luhnCheckDigits(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .withColumn("ds", concat(lit("4"),
        lpad((col("doc_id") % 100000000L).cast("string"), 14, "0")))
      .withColumn("valids", expr(
        "filter(sequence(0, 9), c -> graft_luhn(concat(ds, CAST(c AS STRING))))"))
      .select(
        col("doc_id"),
        expr("CAST(element_at(valids, 1) AS INT)").as("check_digit"),
        size(col("valids")).as("n_valid"))
      .orderBy("doc_id")

  // ---- hashed linear quality classifier --------------------------------

  /** Weight-bucket count for [[qualityClassifier]] — 2^10 keeps the
    * broadcast table trivially small while exercising real hash
    * collisions on this vocabulary.
    */
  val classifierBuckets = 1024

  /** The classifier's (bucket, weight) model table. Weights are a
    * deterministic integer fixture (Knuth multiplicative hash of the
    * bucket id, mapped to [-500, 499] "milli-weights") standing in for
    * trained parameters — this container has no model artifacts, and
    * integer milli-weights keep every downstream sum EXACT and
    * cross-engine comparable (a float weight table would put the
    * fold-order of 50k additions on the compare path).
    */
  def classifierWeights(s: SparkSession): DataFrame =
    s.range(classifierBuckets)
      .select(col("id").as("bucket"),
        ((col("id") * 2654435761L) % 1000 - 500).as("w_milli"))

  /** fasttext-style hashed linear classifier INFERENCE — the quality-
    * filter shape of the RefinedWeb/Dolma pipelines: normalized
    * unigrams hash into [[classifierBuckets]] feature buckets
    * (md5-derived, so the oracle replays it bit-exactly), a broadcast
    * model table supplies bucket weights, and the per-doc decision is
    * the sign of the mean bucket weight. Complements q_quality_score
    * (hand-set heuristic rules): same decision surface, learned-model
    * shape.
    *
    * 100 TB design: featurize is row-local (explode + hash), the model
    * lookup is a BROADCAST hash join against a fixed O(buckets) table
    * (a real 2M-bucket fasttext matrix is ~10 MB — still broadcast
    * territory), and the only shuffle is the high-cardinality doc_id
    * aggregation of (count, exact integer sum). Score division happens
    * once per doc after the exact sums — IEEE-pinned, so the DOUBLE is
    * bit-identical cross-engine.
    */
  def qualityClassifier(s: SparkSession, dir: String): DataFrame =
    classifierRawScores(s, dir)
      .select(
        col("doc_id"), col("n_tokens"),
        (col("sum_milli").cast("double") /
          (col("n_tokens") * 1000L).cast("double")).as("score"),
        (col("sum_milli") > 0).cast("int").as("keep"))
      .orderBy("doc_id")

  /** The classifier's exact integer core — (doc_id, n_tokens,
    * sum_milli) — shared by [[qualityClassifier]] (inference) and
    * [[classifierEval]] (evaluation), so both derive from ONE scoring
    * definition.
    */
  def classifierRawScores(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(col("doc_id"),
        explode(split(TextOps.normalizeText(col("text")), " ")).as("tok"))
      .withColumn("bucket",
        pmod(graft.functions.HashExprs.md5Uint32(col("tok")),
          lit(classifierBuckets.toLong)))
      .join(broadcast(classifierWeights(s)), "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("w_milli").as("sum_milli"))

  /** Classifier evaluation report: confusion matrix, precision /
    * recall / F1 at the classifier's own keep threshold, and ROC AUC
    * by the rank-sum (Mann-Whitney U) identity with mid-rank tie
    * handling — all from exact integer counts, with one IEEE division
    * per emitted double. The evaluated label is the fixture's `lang =
    * 'en'` flag standing in for held-out human labels.
    *
    * AUC without a corpus-wide sort: docs quantize to the BOUNDED
    * score-milli domain (floor(sum_milli/n_tokens) ∈ [-500, 499] by
    * the weight-table range), per-score (pos, neg) counts reduce
    * map-side, and the tie-aware identity
    *   2·U = Σ_s pos_s · (2·cumneg_<s + neg_s)
    * needs only a cumulative window over that bounded domain — the
    * window-domain rule, not a window over the corpus. Sums go through
    * DECIMAL(38,0) so P·N-scale products cannot overflow at any corpus
    * size.
    */
  def classifierEval(s: SparkSession, dir: String): DataFrame = {
    val labeled = classifierRawScores(s, dir)
      .join(load(s, dir, "documents")
        .select(col("doc_id"), (col("lang") === "en").cast("long").as("y")),
        "doc_id")
      .select(col("y"), (col("sum_milli") > 0).cast("long").as("p"),
        floor(col("sum_milli").cast("double") / col("n_tokens").cast("double"))
          .cast("long").as("score_milli"))
    val cm = labeled.agg(
      sum(col("y") * col("p")).as("tp"),
      sum((lit(1L) - col("y")) * col("p")).as("fp"),
      sum(col("y") * (lit(1L) - col("p"))).as("fn"),
      sum((lit(1L) - col("y")) * (lit(1L) - col("p"))).as("tn"))
    val w = Window.orderBy("score_milli")
      .rowsBetween(Window.unboundedPreceding, -1)
    val auc = labeled
      .groupBy("score_milli")
      .agg(sum("y").as("pos"), sum(lit(1L) - col("y")).as("neg"))
      .withColumn("cumneg", coalesce(sum(col("neg")).over(w), lit(0L)))
      .agg(
        sum((col("pos") * (lit(2L) * col("cumneg") + col("neg"))).cast(dec38))
          .as("u2"),
        sum("pos").as("n_pos"), sum("neg").as("n_neg"))
    // a degenerate classifier (no positive predictions) or a one-class
    // corpus zeroes a denominator: precision/recall/F1/AUC are
    // UNDEFINED there, and nullif on BOTH engines reports them as NULL
    // instead of diverging (Spark x/0 = NULL vs DuckDB NaN — the D3
    // audit class). The standard sklearn convention differs (0.0 with
    // a warning) but cross-engine agreement is the contract here.
    cm.crossJoin(broadcast(auc)).select(
      col("tp"), col("fp"), col("fn"), col("tn"),
      (col("tp").cast("double") /
        nullif((col("tp") + col("fp")).cast("double"), lit(0.0))).as("prec"),
      (col("tp").cast("double") /
        nullif((col("tp") + col("fn")).cast("double"), lit(0.0))).as("rec"),
      (lit(2.0) * col("tp").cast("double") /
        nullif((lit(2L) * col("tp") + col("fp") + col("fn")).cast("double"),
          lit(0.0))).as("f1"),
      col("n_pos"), col("n_neg"),
      (col("u2").cast("double") /
        nullif((lit(2L).cast(dec38) * col("n_pos").cast(dec38) *
          col("n_neg").cast(dec38)).cast("double"), lit(0.0))).as("auc"))
  }

  // ---- corpus-LM surprisal scoring -------------------------------------

  /** CCNet-style language-model quality scoring: fit a unigram LM on
    * the corpus itself, score each document by its mean token
    * surprisal (rare-token-heavy docs score high, boilerplate scores
    * low). Surprisal is BIT-QUANTIZED — per token,
    * `floor(log2(total)) - floor(log2(count))` — so every per-doc sum
    * is exact BIGINT arithmetic: summing raw double logs would put
    * 50k-addition fold order on the compare path, while floor(log2) of
    * an INTEGER is cross-engine safe (integers exactly representable;
    * log2 can only straddle an integer boundary AT exact powers of
    * two, where it is exact). The real CCNet uses a trained KenLM —
    * the quantized self-LM keeps the pipeline GEOMETRY (corpus-wide
    * model fit, then a per-token model join and per-doc reduction)
    * with a deterministic, container-free model.
    *
    * 100 TB design: the LM fit is one map-side-combined groupBy(token)
    * — vocabulary-sized output, orders smaller than the corpus. The
    * scoring join is on the high-cardinality token key and AQE picks
    * broadcast vs sort-merge from the ACTUAL vocab size (not forced:
    * a web-scale vocab with typos outgrows broadcast). The 1-row
    * total rides a broadcast cross join (the tfidf pattern), and the
    * only other shuffle is the doc_id reduction.
    */
  def unigramSurprisal(s: SparkSession, dir: String): DataFrame =
    surprisalScores(s, dir).orderBy("doc_id")

  /** Unordered per-doc surprisal scores — shared by
    * [[unigramSurprisal]] (which just pins the output order) and
    * [[surprisalBuckets]] (which joins against broadcast thresholds,
    * where a mid-plan sort would be dead weight).
    */
  private def surprisalScores(s: SparkSession, dir: String): DataFrame = {
    val toks = load(s, dir, "documents")
      .select(col("doc_id"),
        explode(split(TextOps.normalizeText(col("text")), " ")).as("tok"))
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val totalBits = counts
      .agg(floor(log2(sum(col("cnt")))).cast("long").as("tot_bits"))
    toks
      .join(counts, "tok")
      .crossJoin(broadcast(totalBits))
      .select(col("doc_id"),
        (col("tot_bits") - floor(log2(col("cnt"))).cast("long")).as("bits"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("bits").as("sum_bits"))
      .select(col("doc_id"), col("n_tokens"), col("sum_bits"),
        (col("sum_bits").cast("double") / col("n_tokens").cast("double"))
          .as("mean_bits"))
  }

  /** Held-out LM evaluation — the train/test discipline the self-fit
    * scores above deliberately skip: an add-1-smoothed unigram LM fits
    * on the hash-held-IN 90% (md5 fold of doc_id ≠ 7) and scores the held-OUT
    * 10%, so unseen-token mass is real (OOV tokens take the maximal
    * add-1 surprisal) rather than impossible. Per held-out position,
    * p(w) = (c(w)+1)/(T+V+1) bit-quantizes to
    * floor(log2(T+V+1)) − floor(log2(c+1)) — exact BIGINT sums, the
    * family's cross-engine-safe form (c = 0 for OOV makes the
    * subtrahend exactly 0).
    *
    * 100 TB design: one vocabulary aggregate over the train split, a
    * high-cardinality token join for scoring (AQE sizes broadcast vs
    * SMJ), 1-row model constants broadcast; the split predicate is a
    * row-local hash test, no materialized split tables.
    */
  def heldoutSurprisal(s: SparkSession, dir: String): DataFrame = {
    val toks = load(s, dir, "documents")
      .select(col("doc_id"),
        explode(split(TextOps.normalizeText(col("text")), " ")).as("tok"))
      .where(col("tok") =!= "")
    val train = toks.where(docFold =!= 7)
    val counts = train.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val model = counts.agg(
      floor(log2(sum(col("cnt")) + count(lit(1)) + lit(1L)))
        .cast("long").as("den_bits"),
      count(lit(1)).as("vocab"))
    toks.where(docFold === 7)
      .join(counts, Seq("tok"), "left")
      .crossJoin(broadcast(model))
      .select(col("doc_id"),
        (col("den_bits") -
          floor(log2(coalesce(col("cnt"), lit(0L)) + lit(1L))).cast("long"))
          .as("bits"),
        (col("cnt").isNull).cast("long").as("oov"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("bits").as("sum_bits"),
        sum("oov").as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"), col("sum_bits"),
        (col("sum_bits").cast("double") / col("n_tokens").cast("double"))
          .as("mean_bits"))
      .orderBy("doc_id")
  }

  /** Held-out STUPID BACKOFF bigram scoring (Brants et al. 2007,
    * "Large Language Models in Machine Translation" — the smoothing
    * built FOR MapReduce-scale LMs: no discount mass bookkeeping, just
    * "use the bigram if seen, else a penalized unigram"): fit on the
    * 90% hash split, score the held-out 10%. Seen bigrams cost
    * floor(log2 c1)−floor(log2 c12) bits ([[bigramSurprisal]]'s exact
    * form); unseen bigrams back off to the add-one unigram with a
    * DYADIC penalty — +1 bit, i.e. α = 0.5 standing in for Brants'
    * 0.4, because log2(0.4) is not an integer and the dyadic-EWMA
    * convention keeps every emitted sum exact BIGINT. Emits the
    * backoff count per doc — the "how novel is this doc's phrasing"
    * signal alongside the surprisal itself.
    *
    * 100 TB shape: [[bigramSurprisal]]'s geometry plus one more
    * vocabulary-sized aggregate (second-token counts); scoring joins
    * are string-keyed with AQE choosing the strategy; the only other
    * shuffle is the doc_id reduction.
    */
  def backoffSurprisal(s: SparkSession, dir: String): DataFrame = {
    val bg = bigramPositions(s, dir)
    val train = bg.where(docFold =!= 7)
    val c12 = train.groupBy("g").agg(count(lit(1)).as("c12"))
    val c1 = train.select(substring_index(col("g"), " ", 1).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val c2 = train.select(substring_index(col("g"), " ", -1).as("w2"))
      .groupBy("w2").agg(count(lit(1)).as("c2"))
    val totals = train.agg(count(lit(1)).as("tt"))
    bg.where(docFold === 7)
      .withColumn("w1", substring_index(col("g"), " ", 1))
      .withColumn("w2", substring_index(col("g"), " ", -1))
      .join(c12, Seq("g"), "left")
      .join(c1, Seq("w1"), "left")
      .join(c2, Seq("w2"), "left")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"),
        when(col("c12").isNotNull,
          floor(log2(col("c1"))).cast("long") -
            floor(log2(col("c12"))).cast("long"))
          .otherwise(lit(1L) + floor(log2(col("tt") + 1L)).cast("long") -
            floor(log2(coalesce(col("c2"), lit(0L)) + 1L)).cast("long"))
          .as("bits"),
        col("c12").isNull.cast("long").as("backoff"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("backoff").as("n_backoff"),
        sum("bits").as("sum_bits"))
      .select(col("doc_id"), col("n_bigrams"), col("n_backoff"),
        col("sum_bits"),
        (col("sum_bits").cast("double") / col("n_bigrams").cast("double"))
          .as("mean_bits"))
      .orderBy("doc_id")
  }

  /** Order-2 extension of [[unigramSurprisal]]: score each document by
    * its mean CONDITIONAL bigram surprisal against the corpus's own
    * bigram LM — P(w₂|w₁) estimated as c(w₁w₂)/c(w₁·), both counts
    * over bigram positions, so every conditional is well-defined with
    * no backoff (the model is fit on the text it scores, like the
    * unigram self-LM). Bit-quantization (floor(log2 c₁) − floor(log2
    * c₁₂) per position) keeps every per-doc sum exact BIGINT — see
    * [[unigramSurprisal]] for why that is the cross-engine-safe form.
    * Repetitive docs (reused bigrams) score low; docs with novel word
    * transitions score high — a sharper fluency signal than unigram
    * rarity. Documents shorter than 2 tokens have no bigram positions
    * and are (honestly) absent from the output.
    *
    * 100 TB design: same geometry as the unigram LM one order up —
    * the model fit is two map-side-combined aggregates (bigram- and
    * prefix-vocabulary-sized), the scoring joins are on
    * high-cardinality string keys where AQE picks the join strategy
    * from actual model size, and the only other shuffle is the doc_id
    * reduction. The bigram array build is row-local codegen.
    */
  /** One (doc_id, g) row per bigram POSITION — the corpus the order-2
    * LM family ([[bigramSurprisal]], [[knSurprisal]]) both fits on and
    * scores.
    */
  private def bigramPositions(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(col("doc_id"),
        split(TextOps.normalizeText(col("text")), " ").as("toks"))
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> concat_ws(' ', toks[i-1], toks[i]))"))
        .as("g"))

  def bigramSurprisal(s: SparkSession, dir: String): DataFrame = {
    val bg = bigramPositions(s, dir)
    val c12 = bg.groupBy("g").agg(count(lit(1)).as("c12"))
    val c1 = bg
      .select(substring_index(col("g"), " ", 1).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    bg
      .join(c12, "g")
      .withColumn("w1", substring_index(col("g"), " ", 1))
      .join(c1, "w1")
      .select(col("doc_id"),
        (floor(log2(col("c1"))).cast("long") -
          floor(log2(col("c12"))).cast("long")).as("bits"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("bits").as("sum_bits"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_bits"),
        (col("sum_bits").cast("double") / col("n_bigrams").cast("double"))
          .as("mean_bits"))
      .orderBy("doc_id")
  }

  /** Interpolated Kneser-Ney bigram scoring — the smoothing family the
    * production LM-quality filters actually run (CCNet filters CommonCrawl
    * on KenLM perplexity; KenLM's default estimator is interpolated
    * modified Kneser-Ney). Unlike [[bigramSurprisal]]'s unsmoothed
    * conditional, KN mixes the discounted bigram estimate with a
    * CONTINUATION unigram — how many distinct contexts a word follows,
    * not how often it occurs — so boilerplate tokens that appear
    * millions of times in ONE context stop looking fluent:
    *
    *   P(w₂|w₁) = max(c(w₁w₂) − D, 0)/c(w₁·)
    *              + D·N1+(w₁·)/c(w₁·) · N1+(·w₂)/NBT
    *
    * (Kneser & Ney 1995; D = 0.75, the Chen & Goodman 1998 default;
    * NBT = distinct bigram types). With the self-fit corpus every
    * scored bigram has c ≥ 1, so with D = 3/4 the probability is the
    * exact integer ratio
    *
    *   [(4·c₁₂ − 3)·NBT + 3·N1+(w₁·)·N1+(·w₂)]  /  [4·c₁·NBT]
    *
    * and per-position surprisal bit-quantizes to floor(log2 den) −
    * floor(log2 num) — exact BIGINT sums, the same cross-engine-safe
    * form as the rest of the LM family (interpolation makes p a proper
    * probability, so num ≤ den and bits ≥ 0). Integer bound: num peaks
    * near 4·c₁₂·NBT, so the BIGINT form holds while positions·types <
    * 2⁶¹ — beyond that (≫ this fixture family) drop both counts one
    * decade before multiplying.
    *
    * 100 TB design: the model IS the bigram-type table — c(w₁·) and
    * N1+(w₁·) reduce from it in ONE per-prefix aggregate (c₁ = Σ c₁₂),
    * N1+(·w₂) in one per-suffix aggregate, NBT in a 1-row reduce that
    * broadcasts; scoring joins are on high-cardinality token keys where
    * AQE sizes the strategy. No window, no collect, no per-doc state.
    */
  def knSurprisal(s: SparkSession, dir: String): DataFrame = {
    val bg = bigramPositions(s, dir)
    val types = bg.groupBy("g").agg(count(lit(1)).as("c12"))
      .withColumn("w1", substring_index(col("g"), " ", 1))
      .withColumn("w2", substring_index(col("g"), " ", -1))
    val byW1 = types.groupBy("w1")
      .agg(sum("c12").as("c1"), count(lit(1)).as("n1p"))
    val byW2 = types.groupBy("w2").agg(count(lit(1)).as("n1pr"))
    val nbt = types.agg(count(lit(1)).as("nbt"))
    bg
      .join(types, "g")
      .join(byW1, "w1")
      .join(byW2, "w2")
      .crossJoin(broadcast(nbt))
      .select(col("doc_id"),
        // DECIMAL(38,0)-widened products (HUGEINT in the oracle): the
        // c1·nbt / n1p·n1pr count products cross 2^63 at 100 TB-era
        // bigram counts and a BIGINT multiply wraps silently while
        // DuckDB raises — the psiDrift/dsirSample widening rule.
        (floor(log2(lit(4L) * col("c1").cast("decimal(38,0)") *
          col("nbt"))).cast("long") -
          floor(log2((lit(4L) * col("c12").cast("decimal(38,0)") - lit(3L)) *
            col("nbt") +
            lit(3L) * col("n1p").cast("decimal(38,0)") * col("n1pr")))
            .cast("long")).as("bits"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("bits").as("sum_bits"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_bits"),
        (col("sum_bits").cast("double") / col("n_bigrams").cast("double"))
          .as("mean_bits"))
      .orderBy("doc_id")
  }

  /** Cross-document novelty: what fraction of a doc's DISTINCT trigram
    * shingles appear in NO other document? The corpus-internal
    * memorization signal the dedup-analysis literature reads alongside
    * near-dup rates (Lee et al. 2022 measure how much of each document
    * duplicates elsewhere before/after dedup): low novelty = the doc is
    * assembled from text the corpus already has (quotes, boilerplate,
    * templates) even when no single pair crosses a near-dup threshold —
    * complementary to [[repetitionStats]] (intra-doc) and
    * `q_contamination` (vs an external benchmark). Shingles ride the
    * codegen'd hash path ([[Dedup.hashedShingleSets]]); a doc counts
    * toward a shingle's df once (per-doc distinct), so df ≥ 2 means
    * "some OTHER doc has it" exactly.
    *
    * 100 TB design: one scan to per-doc distinct hashed shingles
    * (row-local codegen), one map-side-combined df aggregate on the
    * 8-byte hash key, one join back on that key, one doc_id reduce —
    * the exact-dedup geometry with a ratio on top. No windows, no
    * arrays shuffled (the exploded LONG column is the widest thing
    * that moves).
    */
  def noveltyScores(s: SparkSession, dir: String): DataFrame =
    noveltyOf(load(s, dir, "documents"))

  /** df-level core of [[noveltyScores]] (specs plant corpora). */
  def noveltyOf(docs: DataFrame): DataFrame = {
    val tok = Dedup.hashedShingleSets(docs, "text", "doc_id", 3)
      .select(col("doc_id"), explode(col("shs")).as("sh"))
    val docFreq = tok.groupBy("sh").agg(count(lit(1)).as("df"))
    tok
      .join(docFreq, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_shingles"), col("n_shared"),
        ((col("n_shingles") - col("n_shared")).cast("double") /
          col("n_shingles").cast("double")).as("novelty_ratio"))
      .orderBy("doc_id")
  }

  /** Corpus domain-shift report: the top-k tokens most over-represented
    * in one language/domain slice vs the rest of the corpus — the
    * per-term decomposition of KL(P‖Q) with add-one smoothing that
    * data-mixing pipelines read before re-weighting a source (the
    * Gopher/DoReMi-style "what is this slice actually made of"
    * question). Per token: cp/cq occurrence counts in the focus slice
    * P and complement Q, smoothed log-ratio bit-quantized exactly like
    * the surprisal family —
    * `floor(log2((cp+1)(Nq+V))) − floor(log2((cq+1)(Np+V)))` — and the
    * ranking weight `(cp+1)·bits` (unnormalized p̂ × log-ratio), so
    * every compared value is exact BIGINT arithmetic (floor(log2) of
    * an integer is the cross-engine-safe quantization; see
    * [[unigramSurprisal]]).
    *
    * 100 TB shape: ONE tokenizing scan; both slice counts come from a
    * single map-side-combined groupBy(token) with conditional sums (no
    * per-slice scan, no full-outer join of two count relations); the
    * (Np, Nq, V) totals reduce that vocabulary-sized relation to one
    * broadcast row; the top-k cut is TakeOrderedAndProject. Nothing
    * shuffles more than the vocabulary.
    */
  def domainShift(docs: DataFrame, textCol: String, sliceCol: String,
      focus: String, k: Int = 20): DataFrame = {
    val toks = docs
      .select((col(sliceCol) === focus).as("in_p"),
        explode(split(TextOps.normalizeText(col(textCol)), " ")).as("tok"))
      .where(col("tok") =!= "")
    val counts = toks.groupBy("tok")
      .agg(sum(when(col("in_p"), 1L).otherwise(0L)).as("cp"),
        sum(when(!col("in_p"), 1L).otherwise(0L)).as("cq"))
    val totals = counts.agg(
      sum(col("cp")).as("np"), sum(col("cq")).as("nq"),
      count(lit(1)).as("v"))
    counts.crossJoin(broadcast(totals))
      .select(col("tok"), col("cp"), col("cq"),
        // DECIMAL(38,0)-widened products (HUGEINT in the oracle): a
        // BIGINT (cp+1)*(nq+V) wraps silently past 2^63 at 100 TB-era
        // token counts while DuckDB raises — see psiDrift.
        (floor(log2((col("cp") + 1L).cast(dec38) *
            (col("nq") + col("v")))).cast("long") -
          floor(log2((col("cq") + 1L).cast(dec38) *
            (col("np") + col("v")))).cast("long"))
          .as("bits"))
      .withColumn("weighted_bits", (col("cp") + 1L) * col("bits"))
      .orderBy(col("weighted_bits").desc, col("tok"))
      .limit(k)
  }

  /** Declarative data-quality report — the expectation-suite shape
    * (null checks, range checks, value-set membership, format regex,
    * cross-column consistency, key uniqueness) evaluated corpus-wide
    * in ONE pass for the row-local rules plus one keyed aggregate for
    * uniqueness. Emits a per-rule row (checked count, violation
    * count, pass flag) — the gate a pipeline evaluates before
    * promoting a snapshot. The `n_chars <= 256` rule is deliberately
    * tight enough to FAIL on the fixture so the report's failure path
    * is exercised, not just its all-green path.
    *
    * 100 TB design: row-local rules are sums inside one
    * map-side-combined aggregate over a pruned column set — one scan,
    * no shuffle beyond the 1-row reduce; the wide-to-long pivot
    * explodes a LITERAL array on that single row. Uniqueness is one
    * groupBy on the key (the unavoidable shuffle) reduced to a 1-row
    * overflow sum.
    */
  def dataQualityReport(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    def viol(c: Column): Column = sum(when(c, 1L).otherwise(0L))
    val rowRules = docs.agg(
      count(lit(1)).as("n"),
      viol(col("text").isNull).as("v_text_null"),
      viol(!col("n_chars").between(1L, 100000L)).as("v_chars_range"),
      viol(col("n_chars") > 256L).as("v_chars_budget"),
      viol(!col("lang").isin("en", "de", "es", "fr", "zh")).as("v_lang_set"),
      viol(!col("source").rlike("^src[0-9]+$")).as("v_source_format"),
      viol(col("n_chars") =!= length(coalesce(col("text"), lit(""))))
        .as("v_chars_consistent"))
    val rowReport = rowRules.select(explode(array(
      struct(lit("text_not_null").as("rule"), col("n").as("n_checked"),
        col("v_text_null").as("n_violations")),
      struct(lit("n_chars_in_range").as("rule"), col("n").as("n_checked"),
        col("v_chars_range").as("n_violations")),
      struct(lit("n_chars_within_budget").as("rule"), col("n").as("n_checked"),
        col("v_chars_budget").as("n_violations")),
      struct(lit("lang_in_allowed_set").as("rule"), col("n").as("n_checked"),
        col("v_lang_set").as("n_violations")),
      struct(lit("source_matches_format").as("rule"), col("n").as("n_checked"),
        col("v_source_format").as("n_violations")),
      struct(lit("n_chars_matches_text").as("rule"), col("n").as("n_checked"),
        col("v_chars_consistent").as("n_violations")))).as("r"))
      .select(col("r.rule"), col("r.n_checked"), col("r.n_violations"))
    val unique = docs.groupBy("doc_id").agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_checked"),
        sum(col("c") - 1L).as("n_violations"))
      .select(lit("doc_id_unique").as("rule"),
        col("n_checked"), col("n_violations"))
    rowReport.unionByName(unique)
      .withColumn("pass", (col("n_violations") === 0L).cast("int"))
      .orderBy("rule")
  }

  /** CCNet's head/middle/tail corpus split: bucket every document by
    * its LM score against the corpus's own tercile thresholds (CCNet
    * §4.2 cuts on held-out-perplexity terciles; head = most fluent).
    * Thresholds are exact linear-interpolation percentiles of the
    * per-doc mean surprisal, DECIMAL(18,6)-rounded so both engines
    * compare against the identical double (the [[winsorize]]
    * discipline); mean_bits itself is an exact-integer ratio, so the
    * `<=` cuts are deterministic cross-engine.
    *
    * 100 TB design: scores are one doc-keyed reduction (see
    * [[unigramSurprisal]]); the threshold aggregate collapses to a
    * 1-row broadcast, so bucketing is a map-side CASE — no window over
    * the 3-value bucket key, no second shuffle of the corpus. At scale
    * the exact `percentile` (which buffers the group's values) swaps
    * for `approx_percentile` — a mergeable sketch with the same
    * 1-row-broadcast geometry; exact is kept here because the oracle
    * compares hash-exactly.
    */
  def surprisalBuckets(s: SparkSession, dir: String): DataFrame = {
    val scores = surprisalScores(s, dir)
    val cuts = scores.agg(
      expr("percentile(mean_bits, 0.3333)").cast(DecimalType(18, 6))
        .cast(DoubleType).as("t33"),
      expr("percentile(mean_bits, 0.6667)").cast(DecimalType(18, 6))
        .cast(DoubleType).as("t66"))
    scores.crossJoin(broadcast(cuts))
      .select(
        col("doc_id"), col("n_tokens"), col("mean_bits"),
        col("t33"), col("t66"),
        when(col("mean_bits") <= col("t33"), "head")
          .when(col("mean_bits") <= col("t66"), "middle")
          .otherwise("tail").as("bucket"))
      .orderBy("doc_id")
  }

  /** k-anonymity audit over a quasi-identifier tuple — the privacy
    * counterpart of [[piiRedact]]: direct identifiers get scrubbed,
    * but a released table can still re-identify through COMBINATIONS
    * of innocuous columns (Sweeney's k-anonymity). Every equivalence
    * class of (nation, segment, coarse-balance-bucket) is counted; a
    * class smaller than k means those rows are re-identifiable within
    * a k-sized crowd. Emits each class with its size and violation
    * flag plus the table-level k (the min class size, a broadcast
    * 1-row cross join).
    *
    * 100 TB shape: one map-side-combined aggregate on the QI tuple;
    * class count is bounded by the QI domain (|nations|×|segments|×
    * |buckets|), so the global min reduces O(domain) rows — never the
    * corpus.
    */
  def kAnonymity(customer: DataFrame, k: Int = 5): DataFrame = {
    val classes = customer
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_bucket"))
      .groupBy("c_nationkey", "c_mktsegment", "bal_bucket")
      .agg(count(lit(1)).as("class_size"))
    val g = classes.agg(min(col("class_size")).as("k_anon"))
    classes.crossJoin(broadcast(g))
      .select(col("c_nationkey"), col("c_mktsegment"), col("bal_bucket"),
        col("class_size"),
        (col("class_size") < k).cast("int").as("violates_k5"),
        col("k_anon"))
      .orderBy("c_nationkey", "c_mktsegment", "bal_bucket")
  }

  /** l-diversity audit (Machanavajjhala et al. 2007) — k-anonymity's
    * complement: a QI class can be large (k-safe) while every member
    * shares ONE sensitive value, leaking it to anyone who can place a
    * person in the class. Per quasi-identifier class (nation, segment):
    * size, the number of DISTINCT sensitive values (the balance bucket
    * [[kAnonymity]] coarsens on), a violates-l flag, and the table-level
    * min l. Distinct-l-diversity — the countable variant; entropy-l
    * needs logs the compare path avoids.
    *
    * 100 TB shape: one partial/final aggregate on the QI key with a
    * distinct-count (two-phase under the hood, both phases map-side
    * combined); the table-level min is a broadcast 1-row reduce.
    */
  def lDiversity(customer: DataFrame, l: Int = 3): DataFrame = {
    val cls = customer
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_bucket"))
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("class_size"),
        countDistinct(col("bal_bucket")).as("l_distinct"))
    val g = cls.agg(min(col("l_distinct")).as("l_table"))
    cls.crossJoin(broadcast(g))
      .select(col("c_nationkey"), col("c_mktsegment"), col("class_size"),
        col("l_distinct"), (col("l_distinct") < l).cast("int").as(s"violates_l$l"),
        col("l_table"))
      .orderBy("c_nationkey", "c_mktsegment")
  }

  /** Score-calibration (reliability) report for the hashed-feature
    * quality classifier: bucket the per-doc score domain into
    * fixed-width cells from the broadcast min/max (the [[graft.operators.TopK.skyline]]
    * bucket census geometry) and emit, per cell, the population, the
    * observed positive rate, and the mean score — the reliability
    * diagram a ranking-quality gate reads (positive rate should climb
    * with score; a flat or inverted band means the score doesn't
    * discriminate there). All emitted doubles are single IEEE
    * divisions of exact integer sums.
    *
    * 100 TB shape: score derivation reuses [[classifierRawScores]]'s
    * one-scan aggregate; the range is a broadcast 1-row reduce and the
    * report is one bounded `buckets`-cell census — nothing after the
    * per-doc aggregate scales with the corpus.
    */
  def calibrationReport(s: SparkSession, dir: String,
      buckets: Int = 10): DataFrame = {
    val labeled = classifierRawScores(s, dir)
      .join(load(s, dir, "documents")
        .select(col("doc_id"), (col("lang") === "en").cast("long").as("y")),
        "doc_id")
      .select(col("y"),
        floor(col("sum_milli").cast("double") / col("n_tokens").cast("double"))
          .cast("long").as("score_milli"))
    val rng = labeled.agg(min("score_milli").as("lo"), max("score_milli").as("hi"))
    labeled.crossJoin(broadcast(rng))
      .withColumn("bucket",
        floor((col("score_milli") - col("lo")) * buckets /
          (col("hi") - col("lo") + 1)).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"),
        sum(col("score_milli")).as("s"))
      .select(col("bucket"), col("n"), col("pos"),
        (col("pos").cast("double") / col("n").cast("double")).as("pos_rate"),
        (col("s").cast("double") / col("n").cast("double")).as("mean_score_milli"))
      .orderBy("bucket")
  }

  /** Expected Benford first-digit probabilities, computed ONCE in JVM
    * doubles and interpolated verbatim (17-significant-digit
    * round-trip) into BOTH the Spark literals and the DuckDB oracle —
    * the engines compare against the same bit-exact constants, so no
    * cross-engine log10 ULP ever reaches the hash.
    */
  private[ext] val benfordExpected: Seq[(Int, Double)] =
    (1 to 9).map(d => d -> math.log10(1.0 + 1.0 / d))

  /** Benford first-significant-digit conformance test — the classic
    * data-quality / fraud screen: naturally-occurring amounts follow
    * P(d) = log10(1+1/d); fabricated or truncated data doesn't. Digits
    * come from the STRING head of exact integer cents (never
    * floor(log10(x)), whose FP boundary at powers of ten is an
    * engine-dependent edge). Per-digit χ² contributions are computed
    * row-locally on the 9 aggregated rows — no cross-row double sum,
    * so no fold-order hazard.
    *
    * 100 TB shape: one map-side-combined 9-group aggregate + a
    * broadcast 1-row total; everything downstream operates on 9 rows.
    */
  def benford(amounts: DataFrame, amountCol: String): DataFrame = {
    val cents = floor(col(amountCol) * 100 + 0.5).cast("long")
    val digits = amounts
      .where(col(amountCol) > 0)
      .select(substring(cents.cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("cnt"))
    val total = digits.agg(sum(col("cnt")).cast("long").as("total"))
    val expected = benfordExpected.tail.foldLeft(
      when(col("digit") === benfordExpected.head._1,
        lit(benfordExpected.head._2))) { case (acc, (d, p)) =>
      acc.when(col("digit") === d, lit(p))
    }.otherwise(lit(0.0))
    digits.crossJoin(broadcast(total))
      .select(col("digit"), col("cnt"),
        (col("cnt").cast("double") / col("total").cast("double")).as("share"),
        expected.as("expected_p"),
        pow(col("cnt").cast("double") - col("total").cast("double") * expected, 2)
          .divide(col("total").cast("double") * expected).as("chi2_term"))
      .orderBy("digit")
  }

  // ---- registered queries ----------------------------------------------

  private val normToksSql = TextOps.duckNormToksSql

  /** Two-sample Kolmogorov–Smirnov statistic between the length
    * distributions of English vs non-English documents — the numeric
    * drift detector that complements [[q_domain_shift]]'s term-level
    * KL: did a slice's CONTINUOUS covariate (length, score) shift?
    * KS = max_b |F̂₁(b) − F̂₂(b)| over the merged support.
    *
    * 100 TB shape: one map-side-combined aggregate collapses the corpus
    * to per-(bucket) count pairs — the windowed cumsum then runs over
    * the DISTINCT VALUE DOMAIN (n_chars values, bounded by max doc
    * length — thousands of rows at any corpus size), never the corpus;
    * the argmax cut is a 1-row TakeOrderedAndProject. CDF ratios are
    * the only doubles, computed once from exact integer cumulatives in
    * a shared formula.
    */
  def ksTest(docs: DataFrame): DataFrame = {
    val b = docs
      .select(col("n_chars").as("bucket"),
        (col("lang") === "en").cast("long").as("en"))
      .groupBy("bucket")
      .agg(sum(col("en")).as("c1"), sum(lit(1L) - col("en")).as("c2"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val tot = docs.agg(
      sum((col("lang") === "en").cast("long")).as("n1"),
      sum((col("lang") =!= "en").cast("long")).as("n2"))
    b.select(col("bucket"),
      sum(col("c1")).over(w).as("cum1"),
      sum(col("c2")).over(w).as("cum2"))
      .crossJoin(broadcast(tot))
      // a one-language corpus empties one sample (n1 or n2 = 0): the
      // KS statistic is undefined — nullif on BOTH engines (the D3
      // audit class) nulls it instead of diverging NULL-vs-NaN.
      .select(col("bucket").as("ks_at_bucket"), col("n1"), col("n2"),
        abs(col("cum1").cast("double") /
          nullif(col("n1").cast("double"), lit(0.0)) -
          col("cum2").cast("double") /
            nullif(col("n2").cast("double"), lit(0.0))).as("ks_stat"))
      .orderBy(col("ks_stat").desc, col("ks_at_bucket"))
      .limit(1)
  }

  /** Tie-corrected two-sample Mann-Whitney U over doc lengths (en vs
    * rest) — the nonparametric sibling of [[ksTest]]: does one group
    * stochastically dominate the other? Exact-integer construction in
    * the [[ksTest]] value-census shape: the corpus collapses to per-
    * value (c1, c2) counts, midranks come from a cumulative window over
    * the VALUE DOMAIN (distinct lengths — thousands, never the corpus),
    * and ties are handled with DOUBLE-midranks (2·B(v)+c(v)+1, always
    * integer) so rank sums stay exact integers until the final shared
    * IEEE tree. Products are widened to DECIMAL(38,0) / HUGEINT
    * (the psiDrift overflow rule: Σ c1·dmid is O(N²), past 2^63 at
    * ~3e9 rows) and the z-score is ONE mirrored expression tree over
    * exact operands — correctly-rounded IEEE ops on identical inputs
    * are engine-identical.
    */
  def mannWhitney(docs: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val b = docs
      .select(col("n_chars").as("v"),
        (col("lang") === "en").cast("long").as("en"))
      .groupBy("v")
      .agg(sum(col("en")).as("c1"), sum(lit(1L) - col("en")).as("c2"))
      .withColumn("c", col("c1") + col("c2"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val ranked = b
      .withColumn("before", coalesce(sum(col("c")).over(w), lit(0L)))
      .withColumn("dmid", lit(2L) * col("before") + col("c") + lit(1L))
    val agg = ranked.agg(
      sum(col("c1")).as("n1"),
      sum(col("c2")).as("n2"),
      sum(col("c1").cast(dec) * col("dmid").cast(dec)).as("two_r1"),
      sum(col("c").cast(dec) * col("c").cast(dec) * col("c").cast(dec) -
        col("c").cast(dec)).as("tie_sum"))
    val n1d = col("n1").cast("double")
    val n2d = col("n2").cast("double")
    val nn = n1d + n2d
    val u = (col("two_r1") - col("n1").cast(dec) * (col("n1") + lit(1L)).cast(dec))
      .cast("double") / lit(2.0)
    val mu = n1d * n2d / lit(2.0)
    // Degenerate-input guard (r8 ADVICE): all values tied, or an empty
    // en/rest group, makes varr exactly 0 (or its tie term 0/0), and
    // z = (u-mu)/sqrt(varr) becomes an IEEE NaN/Inf artifact whose
    // cross-engine hash behavior is undefined (DuckDB even orders NaN
    // above +inf). The tie denominator nn·(nn−1) is NULLed when 0 and
    // z is emitted only when varr > 0 — a finite-number comparison
    // both engines evaluate identically; the varr > 0 tree is
    // unchanged from the unguarded version, so real-data hashes are
    // bit-identical.
    val tieDen = nn * (nn - lit(1.0))
    val varr = (n1d * n2d / lit(12.0)) *
      ((nn + lit(1.0)) -
        col("tie_sum").cast("double") / when(tieDen =!= 0.0, tieDen))
    agg.select(
      col("n1"), col("n2"),
      u.as("u_stat"),
      when(varr > 0.0, (u - mu) / sqrt(varr)).as("z"))
      .orderBy("n1")
  }

  /** Quantile normalization of a per-document covariate WITHIN its
    * source domain — the mixing-prep transform that puts every domain's
    * score scale on a common uniform [0,1] footing before a global
    * threshold or temperature mix (a raw cut of "quality > 0.7" keeps
    * wildly different fractions of different domains; the mid-rank
    * percentile F̂(v) = (#below + ½·#equal)/n keeps the SAME fraction
    * of each). Exact integer construction: per-(source, value) counts,
    * cumulative sums over the distinct-value domain, one double
    * division per OUTPUT row.
    *
    * 100 TB shape: the corpus collapses to (source, value) count rows
    * in one map-side-combined aggregate; the per-source cumsum window
    * runs over that DOMAIN-bounded set (|sources| × |distinct
    * lengths| — low thousands per source), not the corpus, and the
    * result joins back broadcast-style on (source, value). The
    * low-cardinality source partition key is safe exactly because the
    * windowed relation is domain-sized (the WindowOps high-cardinality
    * rule guards corpus-sized windowed relations).
    */
  def quantileNorm(docs: DataFrame): DataFrame = {
    val v = docs.groupBy(col("source"), col("n_chars").as("val"))
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("val"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cdf = v.select(col("source"), col("val"), col("cnt"),
      sum(col("cnt")).over(w).as("cum"))
    val n = docs.groupBy("source").agg(count(lit(1)).as("n"))
    docs.select(col("doc_id"), col("source"), col("n_chars").as("val"))
      .join(cdf, Seq("source", "val"))
      .join(n, Seq("source"))
      .select(col("doc_id"), col("source"), col("val").as("n_chars"),
        ((col("cum").cast("double") - lit(0.5) * col("cnt").cast("double")) /
          col("n").cast("double")).as("pctl"))
      .orderBy("doc_id")
  }

  /** Benford expectation as a DuckDB CASE over the SAME JVM-computed
    * doubles the Spark side uses (%.17g round-trips IEEE bit-exactly).
    */
  private val benfordCaseSql: String =
    benfordExpected.map { case (d, p) =>
      // Double.toString: shortest repr that round-trips under correct
      // rounding. The e0 suffix matters: DuckDB types a plain decimal
      // literal as DECIMAL first and the double cast lands 1 ULP off;
      // exponent-form literals parse directly as correctly-rounded
      // DOUBLE, recovering the exact JVM bits (verified both paths).
      s"WHEN digit = $d THEN CAST(${java.lang.Double.toString(p)}e0 AS DOUBLE)"
    }.mkString("CASE ", " ", " ELSE 0.0 END")

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q_k_anonymity",
      "k-anonymity audit: quasi-identifier equivalence-class sizes + violation flags + table-level k",
      (s, dir) => kAnonymity(load(s, dir, "customer")),
      Some(
        """WITH q AS (
          |  SELECT c_nationkey, c_mktsegment,
          |         CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket
          |  FROM customer),
          |cls AS (
          |  SELECT c_nationkey, c_mktsegment, bal_bucket, count(*) AS class_size
          |  FROM q GROUP BY 1, 2, 3),
          |g AS (SELECT min(class_size) AS k_anon FROM cls)
          |SELECT c_nationkey, c_mktsegment, bal_bucket, class_size,
          |       CAST(class_size < 5 AS INT) AS violates_k5, k_anon
          |FROM cls, g
          |ORDER BY c_nationkey, c_mktsegment, bal_bucket""".stripMargin)),
    GraftQuery("q_benford",
      "Benford first-digit conformance: exact-cents digit counts vs log10(1+1/d), per-digit chi-square terms",
      (s, dir) => benford(load(s, dir, "orders"), "o_totalprice"),
      Some(
        s"""WITH d AS (
           |  SELECT CAST(substring(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
           |  FROM orders WHERE o_totalprice > 0),
           |c AS (SELECT digit, count(*) AS cnt FROM d GROUP BY digit),
           |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c)
           |SELECT digit, cnt,
           |       CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS share,
           |       $benfordCaseSql AS expected_p,
           |       pow(CAST(cnt AS DOUBLE) - CAST(total AS DOUBLE) * ($benfordCaseSql), 2)
           |         / (CAST(total AS DOUBLE) * ($benfordCaseSql)) AS chi2_term
           |FROM c, t ORDER BY digit""".stripMargin)),
    GraftQuery("q_ks_test",
      "two-sample Kolmogorov-Smirnov drift stat over doc lengths (en vs rest): domain-bounded CDF cumsums",
      (s, dir) => ksTest(load(s, dir, "documents")),
      Some(
        """WITH b AS (
          |  SELECT n_chars AS bucket,
          |         CAST(sum(CAST(lang = 'en' AS BIGINT)) AS BIGINT) AS c1,
          |         CAST(sum(CAST(lang <> 'en' AS BIGINT)) AS BIGINT) AS c2
          |  FROM documents GROUP BY 1),
          |c AS (
          |  SELECT bucket,
          |         CAST(sum(c1) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum1,
          |         CAST(sum(c2) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum2
          |  FROM b),
          |t AS (
          |  SELECT CAST(sum(CAST(lang = 'en' AS BIGINT)) AS BIGINT) AS n1,
          |         CAST(sum(CAST(lang <> 'en' AS BIGINT)) AS BIGINT) AS n2
          |  FROM documents)
          |SELECT bucket AS ks_at_bucket, n1, n2,
          |       abs(CAST(cum1 AS DOUBLE) / nullif(CAST(n1 AS DOUBLE), 0.0) -
          |           CAST(cum2 AS DOUBLE) / nullif(CAST(n2 AS DOUBLE), 0.0)) AS ks_stat
          |FROM c, t
          |ORDER BY ks_stat DESC, ks_at_bucket LIMIT 1""".stripMargin)),
    GraftQuery("q_mann_whitney",
      "tie-corrected two-sample Mann-Whitney U over doc lengths (en vs rest): exact double-midrank integers, DECIMAL/HUGEINT widening, one shared IEEE z tree",
      (s, dir) => mannWhitney(load(s, dir, "documents")),
      Some(
        """WITH b AS (
          |  SELECT n_chars AS v,
          |         CAST(sum(CAST(lang = 'en' AS BIGINT)) AS BIGINT) AS c1,
          |         CAST(sum(CAST(lang <> 'en' AS BIGINT)) AS BIGINT) AS c2
          |  FROM documents GROUP BY 1),
          |r AS (
          |  SELECT v, c1, c2, c1 + c2 AS c,
          |         COALESCE(CAST(sum(c1 + c2) OVER (ORDER BY v
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
          |           0) AS before
          |  FROM b),
          |a AS (
          |  SELECT CAST(sum(c1) AS BIGINT) AS n1,
          |         CAST(sum(c2) AS BIGINT) AS n2,
          |         sum(CAST(c1 AS HUGEINT) * (2 * before + c + 1)) AS two_r1,
          |         sum(CAST(c AS HUGEINT) * c * c - c) AS tie_sum
          |  FROM r),
          |s AS (
          |  SELECT n1, n2,
          |         CAST(two_r1 - CAST(n1 AS HUGEINT) * (n1 + 1) AS DOUBLE) / 2.0 AS u_stat,
          |         CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0 AS mu,
          |         (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0) *
          |           ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) + 1.0) -
          |             CAST(tie_sum AS DOUBLE) /
          |             NULLIF((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) *
          |              (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 1.0), 0.0)) AS varr
          |  FROM a)
          |SELECT n1, n2, u_stat,
          |       CASE WHEN varr > 0.0 THEN (u_stat - mu) / sqrt(varr) END AS z
          |FROM s ORDER BY n1""".stripMargin)),
    GraftQuery("q_quantile_norm",
      "within-source quantile normalization to uniform [0,1] (mid-rank CDF over the distinct-value domain)",
      (s, dir) => quantileNorm(load(s, dir, "documents")),
      Some(
        """WITH v AS (
          |  SELECT source, n_chars AS val, count(*) AS cnt
          |  FROM documents GROUP BY 1, 2),
          |cdf AS (
          |  SELECT source, val, cnt,
          |         CAST(sum(cnt) OVER (PARTITION BY source ORDER BY val
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
          |  FROM v),
          |n AS (SELECT source, count(*) AS n FROM documents GROUP BY 1)
          |SELECT doc_id, d.source, d.n_chars,
          |       (CAST(cum AS DOUBLE) - 0.5 * CAST(cnt AS DOUBLE)) / CAST(n.n AS DOUBLE) AS pctl
          |FROM documents d
          |JOIN cdf ON d.source = cdf.source AND d.n_chars = cdf.val
          |JOIN n ON d.source = n.source
          |ORDER BY doc_id""".stripMargin)),
    GraftQuery("q_pii_redact", "PII scrub: email/IPv4/phone counts + chained regexp_replace redaction",
      piiRedact,
      Some(
        s"""WITH enriched AS (
           |  SELECT doc_id,
           |         text ||
           |         CASE WHEN doc_id % 3 <> 0 THEN ' user' || doc_id || '@example.com' ELSE '' END ||
           |         CASE WHEN doc_id % 5 = 0 THEN ' alt' || doc_id || '@mail.test' ELSE '' END ||
           |         CASE WHEN doc_id % 2 = 0 THEN ' from 10.0.' || ((doc_id // 256) % 256) || '.' || (doc_id % 256) ELSE '' END ||
           |         CASE WHEN doc_id % 7 = 0 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
           |         AS full_text
           |  FROM documents)
           |SELECT doc_id,
           |       CAST(len(regexp_extract_all(full_text, '$emailRe')) AS BIGINT) AS n_emails,
           |       CAST(len(regexp_extract_all(full_text, '$ipv4Re')) AS BIGINT) AS n_ips,
           |       CAST(len(regexp_extract_all(full_text, '$phoneRe')) AS BIGINT) AS n_phones,
           |       regexp_replace(regexp_replace(regexp_replace(full_text,
           |         '$emailRe', '[EMAIL]', 'g'), '$ipv4Re', '[IP]', 'g'), '$phoneRe', '[PHONE]', 'g') AS redacted
           |FROM enriched ORDER BY doc_id""".stripMargin)),
    GraftQuery("q_contamination", "eval-set n-gram contamination report (benchmark leakage detection)",
      contaminationReport,
      Some(
        s"""WITH grams AS (
           |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) >= 5
           |    THEN list_transform(range(1, len(t) - 3), i -> list_aggregate(t[i:i+4], 'string_agg', ' '))
           |    ELSE [] END)) AS g
           |  FROM (SELECT doc_id, $normToksSql AS t FROM documents)
           |), ev AS (SELECT doc_id AS eid, g FROM grams WHERE doc_id % 10 = 5)
           |SELECT d.doc_id, count(DISTINCT d.g) AS n_shared, min(ev.eid) AS first_eval
           |FROM grams d JOIN ev ON ev.g = d.g
           |WHERE d.doc_id % 10 <> 5
           |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin)),
    GraftQuery("q_luhn", "native graft_luhn checksum == closed-form check-digit arithmetic, per doc",
      luhnCheckDigits,
      Some(
        """WITH d AS (
          |  SELECT doc_id, '4' || lpad(CAST(doc_id % 100000000 AS VARCHAR), 14, '0') AS ds
          |  FROM documents),
          |s AS (
          |  SELECT doc_id, CAST(list_sum(list_transform(range(1, 16), i ->
          |           CASE WHEN (17 - i) % 2 = 0
          |             THEN CASE WHEN 2 * CAST(ds[i] AS INT) > 9
          |                  THEN 2 * CAST(ds[i] AS INT) - 9
          |                  ELSE 2 * CAST(ds[i] AS INT) END
          |             ELSE CAST(ds[i] AS INT) END)) AS BIGINT) AS s15
          |  FROM d)
          |SELECT doc_id, CAST((10 - s15 % 10) % 10 AS INT) AS check_digit,
          |       CAST(1 AS INT) AS n_valid
          |FROM s ORDER BY doc_id""".stripMargin)),
    GraftQuery("q_unigram_surprisal", "CCNet-style corpus-LM quality score: bit-quantized unigram surprisal per doc (exact integer sums)",
      unigramSurprisal,
      Some(
        s"""WITH toks AS (
           |  SELECT doc_id, unnest($normToksSql) AS tok FROM documents),
           |cnt AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1),
           |tot AS (SELECT CAST(floor(log2(sum(cnt))) AS BIGINT) AS tot_bits FROM cnt),
           |b AS (
           |  SELECT t.doc_id,
           |         tot.tot_bits - CAST(floor(log2(c.cnt)) AS BIGINT) AS bits
           |  FROM toks t JOIN cnt c USING (tok) CROSS JOIN tot)
           |SELECT doc_id, count(*) AS n_tokens,
           |       CAST(sum(bits) AS BIGINT) AS sum_bits,
           |       CAST(CAST(sum(bits) AS BIGINT) AS DOUBLE) /
           |         CAST(count(*) AS DOUBLE) AS mean_bits
           |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    GraftQuery("q_bigram_surprisal", "order-2 corpus-LM scoring: mean conditional bigram surprisal, bit-quantized exact sums",
      bigramSurprisal,
      Some(
        s"""WITH toks AS (
           |  SELECT doc_id, $normToksSql AS t FROM documents),
           |bg AS (
           |  SELECT doc_id, unnest(list_transform(range(1, len(t)),
           |                 i -> t[i] || ' ' || t[i+1])) AS g
           |  FROM toks WHERE len(t) >= 2),
           |c12 AS (SELECT g, count(*) AS c12 FROM bg GROUP BY 1),
           |c1 AS (SELECT split_part(g, ' ', 1) AS w1, count(*) AS c1 FROM bg GROUP BY 1),
           |b AS (
           |  SELECT bg.doc_id,
           |         CAST(floor(log2(c1.c1)) AS BIGINT) -
           |         CAST(floor(log2(c12.c12)) AS BIGINT) AS bits
           |  FROM bg JOIN c12 USING (g)
           |  JOIN c1 ON c1.w1 = split_part(bg.g, ' ', 1))
           |SELECT doc_id, count(*) AS n_bigrams,
           |       CAST(sum(bits) AS BIGINT) AS sum_bits,
           |       CAST(CAST(sum(bits) AS BIGINT) AS DOUBLE) /
           |         CAST(count(*) AS DOUBLE) AS mean_bits
           |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    GraftQuery("q_heldout_surprisal",
      "held-out LM eval: add-1-smoothed unigram model on the 90% split scores the held-out 10% with real OOV mass",
      (s, dir) => heldoutSurprisal(s, dir),
      Some(
        s"""WITH toks AS (
           |  SELECT doc_id, unnest($normToksSql) AS tok FROM documents),
           |tt AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
           |cnt AS (SELECT tok, count(*) AS cnt FROM tt WHERE $foldSql <> 7 GROUP BY 1),
           |model AS (
           |  SELECT CAST(floor(log2(sum(cnt) + count(*) + 1)) AS BIGINT) AS den_bits
           |  FROM cnt),
           |sc AS (
           |  SELECT t.doc_id,
           |         m.den_bits - CAST(floor(log2(COALESCE(c.cnt, 0) + 1)) AS BIGINT) AS bits,
           |         CAST(c.cnt IS NULL AS BIGINT) AS oov
           |  FROM tt t LEFT JOIN cnt c USING (tok) CROSS JOIN model m
           |  WHERE ('0x' || substring(md5(CAST(t.doc_id AS VARCHAR)), 25, 8))::BIGINT % 10 = 7)
           |SELECT doc_id, count(*) AS n_tokens,
           |       CAST(sum(oov) AS BIGINT) AS n_oov,
           |       CAST(sum(bits) AS BIGINT) AS sum_bits,
           |       CAST(CAST(sum(bits) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_bits
           |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    GraftQuery("q_kn_surprisal", "interpolated Kneser-Ney bigram scoring (D=3/4 exact-integer form, bit-quantized): the CCNet/KenLM-style LM quality filter",
      knSurprisal,
      Some(
        s"""WITH toks AS (
           |  SELECT doc_id, $normToksSql AS t FROM documents),
           |bg AS (
           |  SELECT doc_id, unnest(list_transform(range(1, len(t)),
           |                 i -> t[i] || ' ' || t[i+1])) AS g
           |  FROM toks WHERE len(t) >= 2),
           |types AS (
           |  SELECT g, count(*) AS c12,
           |         split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2
           |  FROM bg GROUP BY 1),
           |w1t AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1, count(*) AS n1p
           |        FROM types GROUP BY 1),
           |w2t AS (SELECT w2, count(*) AS n1pr FROM types GROUP BY 1),
           |nbt AS (SELECT count(*) AS nbt FROM types),
           |b AS (
           |  SELECT bg.doc_id,
           |         CAST(floor(log2(4 * CAST(c1 AS HUGEINT) * nbt)) AS BIGINT) -
           |         CAST(floor(log2((4 * CAST(c12 AS HUGEINT) - 3) * nbt + 3 * CAST(n1p AS HUGEINT) * n1pr)) AS BIGINT) AS bits
           |  FROM bg JOIN types USING (g)
           |  JOIN w1t USING (w1) JOIN w2t USING (w2) CROSS JOIN nbt)
           |SELECT doc_id, count(*) AS n_bigrams,
           |       CAST(sum(bits) AS BIGINT) AS sum_bits,
           |       CAST(CAST(sum(bits) AS BIGINT) AS DOUBLE) /
           |         CAST(count(*) AS DOUBLE) AS mean_bits
           |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    GraftQuery("q_novelty", "cross-doc novelty: fraction of a doc's distinct trigram shingles found in no other doc (corpus-internal memorization signal)",
      noveltyScores,
      Some(
        s"""WITH toks AS (
           |  SELECT doc_id, $normToksSql AS t FROM documents),
           |sh AS (
           |  SELECT DISTINCT doc_id, g FROM (
           |    SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
           |                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
           |    FROM toks WHERE len(t) >= 3)),
           |df AS (SELECT g, count(*) AS df FROM sh GROUP BY 1),
           |b AS (
           |  SELECT sh.doc_id, CASE WHEN df.df >= 2 THEN 1 ELSE 0 END AS shared
           |  FROM sh JOIN df USING (g))
           |SELECT doc_id, count(*) AS n_shingles,
           |       CAST(sum(shared) AS BIGINT) AS n_shared,
           |       CAST(count(*) - CAST(sum(shared) AS BIGINT) AS DOUBLE) /
           |         CAST(count(*) AS DOUBLE) AS novelty_ratio
           |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    GraftQuery("q_domain_shift",
      "domain-shift report: top-20 tokens most over-represented in the en slice vs the rest (per-term smoothed KL decomposition, bit-quantized exact)",
      (s, dir) => domainShift(load(s, dir, "documents"), "text", "lang", "en", 20),
      Some(
        s"""WITH toks AS (
           |  SELECT (lang = 'en') AS in_p, unnest($normToksSql) AS tok
           |  FROM documents),
           |t2 AS (SELECT in_p, tok FROM toks WHERE tok <> ''),
           |counts AS (
           |  SELECT tok,
           |         CAST(sum(CASE WHEN in_p THEN 1 ELSE 0 END) AS BIGINT) AS cp,
           |         CAST(sum(CASE WHEN NOT in_p THEN 1 ELSE 0 END) AS BIGINT) AS cq
           |  FROM t2 GROUP BY 1),
           |tot AS (SELECT CAST(sum(cp) AS BIGINT) AS np,
           |               CAST(sum(cq) AS BIGINT) AS nq,
           |               count(*) AS v FROM counts)
           |SELECT tok, cp, cq,
           |       CAST(floor(log2(CAST(cp + 1 AS HUGEINT) * (nq + v))) AS BIGINT) -
           |       CAST(floor(log2(CAST(cq + 1 AS HUGEINT) * (np + v))) AS BIGINT) AS bits,
           |       (cp + 1) *
           |       (CAST(floor(log2(CAST(cp + 1 AS HUGEINT) * (nq + v))) AS BIGINT) -
           |        CAST(floor(log2(CAST(cq + 1 AS HUGEINT) * (np + v))) AS BIGINT)) AS weighted_bits
           |FROM counts CROSS JOIN tot
           |ORDER BY weighted_bits DESC, tok LIMIT 20""".stripMargin)),
    GraftQuery("q_data_quality_report", "expectation-suite validation: per-rule checked/violation counts + pass flags (one scan + one keyed aggregate)",
      dataQualityReport,
      Some(
        """WITH d AS (SELECT * FROM documents),
          |rules AS (
          |  SELECT 'text_not_null' AS rule, count(*) AS n_checked,
          |         CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations FROM d
          |  UNION ALL
          |  SELECT 'n_chars_in_range', count(*),
          |         CAST(sum(CASE WHEN n_chars NOT BETWEEN 1 AND 100000 THEN 1 ELSE 0 END) AS BIGINT) FROM d
          |  UNION ALL
          |  SELECT 'n_chars_within_budget', count(*),
          |         CAST(sum(CASE WHEN n_chars > 256 THEN 1 ELSE 0 END) AS BIGINT) FROM d
          |  UNION ALL
          |  SELECT 'lang_in_allowed_set', count(*),
          |         CAST(sum(CASE WHEN lang NOT IN ('en','de','es','fr','zh') THEN 1 ELSE 0 END) AS BIGINT) FROM d
          |  UNION ALL
          |  SELECT 'source_matches_format', count(*),
          |         CAST(sum(CASE WHEN NOT regexp_matches(source, '^src[0-9]+$') THEN 1 ELSE 0 END) AS BIGINT) FROM d
          |  UNION ALL
          |  SELECT 'n_chars_matches_text', count(*),
          |         CAST(sum(CASE WHEN n_chars <> length(coalesce(text, '')) THEN 1 ELSE 0 END) AS BIGINT) FROM d
          |  UNION ALL
          |  SELECT 'doc_id_unique', count(*), CAST(sum(c - 1) AS BIGINT)
          |  FROM (SELECT doc_id, count(*) AS c FROM d GROUP BY doc_id))
          |SELECT rule, n_checked, n_violations,
          |       CAST(n_violations = 0 AS INT) AS pass
          |FROM rules ORDER BY rule""".stripMargin)),
    GraftQuery("q_surprisal_buckets", "CCNet head/middle/tail corpus split: per-doc LM score vs exact tercile thresholds (broadcast 1-row cuts, no window)",
      surprisalBuckets,
      Some(
        s"""WITH toks AS (
           |  SELECT doc_id, unnest($normToksSql) AS tok FROM documents),
           |cnt AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1),
           |tot AS (SELECT CAST(floor(log2(sum(cnt))) AS BIGINT) AS tot_bits FROM cnt),
           |b AS (
           |  SELECT t.doc_id,
           |         tot.tot_bits - CAST(floor(log2(c.cnt)) AS BIGINT) AS bits
           |  FROM toks t JOIN cnt c USING (tok) CROSS JOIN tot),
           |score AS (
           |  SELECT doc_id, count(*) AS n_tokens,
           |         CAST(CAST(sum(bits) AS BIGINT) AS DOUBLE) /
           |           CAST(count(*) AS DOUBLE) AS mean_bits
           |  FROM b GROUP BY doc_id),
           |q AS (
           |  SELECT CAST(CAST(quantile_cont(mean_bits, 0.3333) AS DECIMAL(18,6)) AS DOUBLE) AS t33,
           |         CAST(CAST(quantile_cont(mean_bits, 0.6667) AS DECIMAL(18,6)) AS DOUBLE) AS t66
           |  FROM score)
           |SELECT doc_id, n_tokens, mean_bits, t33, t66,
           |       CASE WHEN mean_bits <= t33 THEN 'head'
           |            WHEN mean_bits <= t66 THEN 'middle'
           |            ELSE 'tail' END AS bucket
           |FROM score CROSS JOIN q ORDER BY doc_id""".stripMargin)),
    GraftQuery("q_quality_classifier", "fasttext-style hashed linear classifier inference (broadcast model table, exact integer scoring)",
      qualityClassifier,
      Some(
        s"""WITH w AS (
           |  SELECT CAST(t.i AS BIGINT) AS bucket,
           |         (t.i * 2654435761) % 1000 - 500 AS w_milli
           |  FROM range($classifierBuckets) t(i)),
           |toks AS (
           |  SELECT doc_id, unnest($normToksSql) AS tok FROM documents),
           |b AS (
           |  SELECT doc_id,
           |         ('0x' || substring(md5(tok), 25, 8))::BIGINT % $classifierBuckets AS bucket
           |  FROM toks)
           |SELECT b.doc_id, count(*) AS n_tokens,
           |       CAST(CAST(sum(w.w_milli) AS BIGINT) AS DOUBLE) /
           |         CAST(count(*) * 1000 AS DOUBLE) AS score,
           |       CAST(CAST(sum(w.w_milli) AS BIGINT) > 0 AS INT) AS keep
           |FROM b JOIN w USING (bucket)
           |GROUP BY b.doc_id ORDER BY doc_id""".stripMargin)),
    GraftQuery("q_backoff_surprisal",
      "held-out stupid-backoff bigram scoring (dyadic +1-bit backoff penalty, add-one unigram floor)",
      (s, dir) => backoffSurprisal(s, dir),
      Some(
        s"""WITH toks AS (
           |  SELECT doc_id, $normToksSql AS t FROM documents),
           |bg AS (
           |  SELECT doc_id, unnest(list_transform(range(1, len(t)),
           |                 i -> t[i] || ' ' || t[i+1])) AS g
           |  FROM toks WHERE len(t) >= 2),
           |tr AS (SELECT * FROM bg WHERE $foldSql <> 7),
           |c12 AS (SELECT g, count(*) AS c12 FROM tr GROUP BY 1),
           |c1 AS (SELECT split_part(g, ' ', 1) AS w1, count(*) AS c1 FROM tr GROUP BY 1),
           |c2 AS (SELECT split_part(g, ' ', 2) AS w2, count(*) AS c2 FROM tr GROUP BY 1),
           |tot AS (SELECT count(*) AS tt FROM tr),
           |held AS (
           |  SELECT bg.doc_id, bg.g,
           |         split_part(bg.g, ' ', 1) AS w1, split_part(bg.g, ' ', 2) AS w2
           |  FROM bg WHERE $foldSql = 7),
           |scored AS (
           |  SELECT h.doc_id,
           |         CASE WHEN c12.c12 IS NOT NULL
           |              THEN CAST(floor(log2(c1.c1)) AS BIGINT) -
           |                   CAST(floor(log2(c12.c12)) AS BIGINT)
           |              ELSE 1 + CAST(floor(log2(tt + 1)) AS BIGINT) -
           |                   CAST(floor(log2(COALESCE(c2.c2, 0) + 1)) AS BIGINT) END AS bits,
           |         CAST(c12.c12 IS NULL AS BIGINT) AS backoff
           |  FROM held h
           |  LEFT JOIN c12 USING (g)
           |  LEFT JOIN c1 USING (w1)
           |  LEFT JOIN c2 USING (w2)
           |  CROSS JOIN tot)
           |SELECT doc_id, count(*) AS n_bigrams,
           |       CAST(sum(backoff) AS BIGINT) AS n_backoff,
           |       CAST(sum(bits) AS BIGINT) AS sum_bits,
           |       CAST(CAST(sum(bits) AS BIGINT) AS DOUBLE) /
           |         CAST(count(*) AS DOUBLE) AS mean_bits
           |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    GraftQuery("q_l_diversity",
      "l-diversity audit: distinct sensitive values per QI class + violation flags + table-level min l",
      (s, dir) => lDiversity(load(s, dir, "customer")),
      Some(
        """WITH q AS (
          |  SELECT c_nationkey, c_mktsegment,
          |         CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket
          |  FROM customer),
          |cls AS (
          |  SELECT c_nationkey, c_mktsegment, count(*) AS class_size,
          |         CAST(count(DISTINCT bal_bucket) AS BIGINT) AS l_distinct
          |  FROM q GROUP BY 1, 2),
          |g AS (SELECT CAST(min(l_distinct) AS BIGINT) AS l_table FROM cls)
          |SELECT c_nationkey, c_mktsegment, class_size, l_distinct,
          |       CAST(l_distinct < 3 AS INT) AS violates_l3, l_table
          |FROM cls, g
          |ORDER BY c_nationkey, c_mktsegment""".stripMargin)),
    GraftQuery("q_calibration",
      "score-calibration reliability report: positive rate and mean score per fixed-width score bucket",
      (s, dir) => calibrationReport(s, dir),
      Some(
        s"""WITH w AS (
           |  SELECT CAST(t.i AS BIGINT) AS bucket,
           |         (t.i * 2654435761) % 1000 - 500 AS w_milli
           |  FROM range($classifierBuckets) t(i)),
           |toks AS (
           |  SELECT doc_id, unnest($normToksSql) AS tok FROM documents),
           |b AS (
           |  SELECT doc_id,
           |         ('0x' || substring(md5(tok), 25, 8))::BIGINT % $classifierBuckets AS bucket
           |  FROM toks),
           |raw AS (
           |  SELECT b.doc_id, count(*) AS n_tokens,
           |         CAST(sum(w.w_milli) AS BIGINT) AS sum_milli
           |  FROM b JOIN w USING (bucket) GROUP BY b.doc_id),
           |lab AS (
           |  SELECT CAST(d.lang = 'en' AS BIGINT) AS y,
           |         CAST(floor(CAST(r.sum_milli AS DOUBLE) / CAST(r.n_tokens AS DOUBLE)) AS BIGINT) AS score_milli
           |  FROM raw r JOIN documents d USING (doc_id)),
           |rng AS (SELECT min(score_milli) AS lo, max(score_milli) AS hi FROM lab)
           |SELECT CAST(floor((score_milli - lo) * 10 / (hi - lo + 1)) AS BIGINT) AS bucket,
           |       count(*) AS n, CAST(sum(y) AS BIGINT) AS pos,
           |       CAST(CAST(sum(y) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS pos_rate,
           |       CAST(CAST(sum(score_milli) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_score_milli
           |FROM lab, rng GROUP BY 1 ORDER BY 1""".stripMargin)),
    GraftQuery("q_classifier_eval",
      "classifier evaluation: confusion matrix, precision/recall/F1, rank-sum AUC with mid-rank ties (exact integer counts)",
      classifierEval,
      Some(
        s"""WITH w AS (
           |  SELECT CAST(t.i AS BIGINT) AS bucket,
           |         (t.i * 2654435761) % 1000 - 500 AS w_milli
           |  FROM range($classifierBuckets) t(i)),
           |toks AS (
           |  SELECT doc_id, unnest($normToksSql) AS tok FROM documents),
           |b AS (
           |  SELECT doc_id,
           |         ('0x' || substring(md5(tok), 25, 8))::BIGINT % $classifierBuckets AS bucket
           |  FROM toks),
           |raw AS (
           |  SELECT b.doc_id, count(*) AS n_tokens,
           |         CAST(sum(w.w_milli) AS BIGINT) AS sum_milli
           |  FROM b JOIN w USING (bucket) GROUP BY b.doc_id),
           |lab AS (
           |  SELECT CAST(d.lang = 'en' AS BIGINT) AS y,
           |         CAST(r.sum_milli > 0 AS BIGINT) AS p,
           |         CAST(floor(CAST(r.sum_milli AS DOUBLE) / CAST(r.n_tokens AS DOUBLE)) AS BIGINT) AS score_milli
           |  FROM raw r JOIN documents d USING (doc_id)),
           |cm AS (
           |  SELECT CAST(sum(y * p) AS BIGINT) AS tp, CAST(sum((1 - y) * p) AS BIGINT) AS fp,
           |         CAST(sum(y * (1 - p)) AS BIGINT) AS fn, CAST(sum((1 - y) * (1 - p)) AS BIGINT) AS tn
           |  FROM lab),
           |bs AS (SELECT score_milli, CAST(sum(y) AS BIGINT) AS pos,
           |              CAST(sum(1 - y) AS BIGINT) AS neg
           |       FROM lab GROUP BY 1),
           |cn AS (SELECT score_milli, pos, neg,
           |         COALESCE(CAST(sum(neg) OVER (ORDER BY score_milli
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cumneg
           |       FROM bs),
           |u AS (SELECT sum(CAST(pos AS HUGEINT) * (2 * CAST(cumneg AS HUGEINT) + CAST(neg AS HUGEINT))) AS u2,
           |             CAST(sum(pos) AS BIGINT) AS n_pos, CAST(sum(neg) AS BIGINT) AS n_neg
           |      FROM cn)
           |SELECT tp, fp, fn, tn,
           |       CAST(tp AS DOUBLE) / nullif(CAST(tp + fp AS DOUBLE), 0.0) AS prec,
           |       CAST(tp AS DOUBLE) / nullif(CAST(tp + fn AS DOUBLE), 0.0) AS rec,
           |       2.0 * CAST(tp AS DOUBLE) / nullif(CAST(2 * tp + fp + fn AS DOUBLE), 0.0) AS f1,
           |       n_pos, n_neg,
           |       CAST(u2 AS DOUBLE) / nullif(CAST(2 * CAST(n_pos AS HUGEINT) * CAST(n_neg AS HUGEINT) AS DOUBLE), 0.0) AS auc
           |FROM cm, u ORDER BY tp""".stripMargin)),
    GraftQuery("q_mad", "per-language median absolute deviation (robust outlier scale)",
      madStats,
      Some(
        """WITH med AS (
          |  SELECT lang, CAST(CAST(quantile_cont(n_chars, 0.5) AS DECIMAL(18,6)) AS DOUBLE) AS med,
          |         count(*) AS n
          |  FROM documents GROUP BY lang),
          |dev AS (
          |  SELECT d.lang, abs(CAST(d.n_chars AS DOUBLE) - m.med) AS adev
          |  FROM documents d JOIN med m USING (lang)),
          |mad AS (
          |  SELECT lang, CAST(CAST(quantile_cont(adev, 0.5) AS DECIMAL(18,6)) AS DOUBLE) AS mad
          |  FROM dev GROUP BY lang)
          |SELECT lang, n, med, mad
          |FROM med JOIN mad USING (lang)
          |ORDER BY lang""".stripMargin)),
    GraftQuery("q_winsorize", "per-language p05/p95 winsorization (clip, not drop) of doc length",
      winsorize,
      Some(
        """WITH p AS (
          |  SELECT lang,
          |         CAST(CAST(quantile_cont(n_chars, 0.05) AS DECIMAL(18,6)) AS DOUBLE) AS p05,
          |         CAST(CAST(quantile_cont(n_chars, 0.95) AS DECIMAL(18,6)) AS DOUBLE) AS p95
          |  FROM documents GROUP BY lang)
          |SELECT doc_id, lang, n_chars, p05, p95,
          |       least(greatest(CAST(n_chars AS DOUBLE), p05), p95) AS clipped
          |FROM documents JOIN p USING (lang)
          |ORDER BY doc_id""".stripMargin)),
    GraftQuery("q_outlier_docs", "per-language z-score length outliers from exact integer moments",
      outlierDocs,
      Some(
        """WITH stats AS (
          |  SELECT lang, count(*) AS n, sum(n_chars) AS s1,
          |         sum(n_chars * n_chars) AS s2
          |  FROM documents GROUP BY lang),
          |m AS (
          |  SELECT lang, CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
          |         sqrt(greatest(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) -
          |              (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)),
          |              0.0)) AS std
          |  FROM stats),
          |zz AS (
          |  SELECT d.doc_id, d.lang, d.n_chars,
          |         CASE WHEN std = 0 THEN 0.0
          |              ELSE (CAST(d.n_chars AS DOUBLE) - mean) / std END AS z
          |  FROM documents d JOIN m USING (lang))
          |SELECT doc_id, lang, n_chars, z, abs(z) > 2.0 AS is_outlier
          |FROM zz ORDER BY doc_id""".stripMargin)),
    GraftQuery("q_repetition_stats", "Gopher-style repetition signals: dup-token / top-token / top-bigram fractions",
      repetitionStats,
      Some(
        s"""WITH toks AS (SELECT doc_id, $normToksSql AS t FROM documents),
           |words AS (SELECT doc_id, unnest(t) AS tok FROM toks),
           |wc AS (SELECT doc_id, tok, count(*) AS c FROM words GROUP BY doc_id, tok),
           |wstats AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_distinct, max(c) AS top_cnt
           |           FROM wc GROUP BY doc_id),
           |bigrams AS (
           |  SELECT doc_id, unnest(CASE WHEN len(t) >= 2
           |    THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
           |    ELSE [] END) AS g
           |  FROM toks),
           |bc AS (SELECT doc_id, g, count(*) AS c FROM bigrams GROUP BY doc_id, g),
           |bstats AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, max(c) AS top_bg FROM bc GROUP BY doc_id)
           |SELECT w.doc_id, w.n_tokens,
           |       CAST(w.n_tokens - w.n_distinct AS DOUBLE) / w.n_tokens AS dup_token_frac,
           |       CAST(w.top_cnt AS DOUBLE) / w.n_tokens AS top_token_frac,
           |       coalesce(CAST(b.top_bg AS DOUBLE) / b.n_bigrams, 0.0) AS top_bigram_frac
           |FROM wstats w LEFT JOIN bstats b USING (doc_id)
           |ORDER BY w.doc_id""".stripMargin)),
  )
}
