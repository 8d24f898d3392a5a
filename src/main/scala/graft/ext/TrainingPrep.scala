package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.engine.Tables.load
import graft.functions.TextOps

/** Training-data preparation operators (north-star Tier B): the steps
  * between a deduped corpus and a training shard — chunking to context
  * windows, deterministic shuffling, and stratified sampling. All three
  * are single-scan, row-local or sort-only, and oracle-checked (they use
  * md5, which DuckDB shares, instead of engine-specific hashes).
  */
object TrainingPrep {

  private val normToks = TextOps.duckNormToksSql

  /** Overlapping token-window chunks: window `size` tokens, stride
    * `stride` (= size − overlap). One `explode` per doc; chunk text and
    * bounds are deterministic, so downstream packing is reproducible.
    * At 100 TB this is a map-only stage — no shuffle.
    */
  def chunkDocuments(docs: DataFrame, textCol: String,
      window: Int = 32, stride: Int = 24): DataFrame =
    docs
      .withColumn("toks", split(TextOps.normalizeText(col(textCol)), " "))
      .select(col("doc_id"), expr(
        s"""posexplode(transform(sequence(0, CAST(ceil(size(toks) / $stride.0) AS INT) - 1,  1),
           |  i -> concat_ws(' ', slice(toks, i * $stride + 1, $window))))""".stripMargin)
        .as(Seq("chunk_idx", "chunk_text")))
      .where(col("chunk_text") =!= "")
      .select(
        col("doc_id"), col("chunk_idx"),
        size(split(col("chunk_text"), " ")).as("chunk_tokens"),
        col("chunk_text"))
      .orderBy("doc_id", "chunk_idx")

  /** Deterministic corpus shuffle: global order by md5(doc_id) — the
    * reproducible stand-in for a training-shard shuffle. At scale this
    * is `repartitionByRange` on the hash key; a seed is mixed into the
    * hash to generate distinct epochs.
    */
  def deterministicShuffle(docs: DataFrame, seed: Int = 0): DataFrame =
    docs
      .select(
        col("doc_id"),
        md5(concat(lit(seed.toString), lit(":"), col("doc_id").cast("string")))
          .as("shuffle_key"))
      .orderBy("shuffle_key", "doc_id")

  /** Stratified deterministic sampling: keep ~25% per language via an
    * md5 prefix threshold — reproducible, key-stable (a doc is in or out
    * regardless of cluster layout), and per-stratum fair.
    */
  def stratifiedSample(docs: DataFrame, langCol: String): DataFrame =
    docs
      .withColumn("h", md5(concat(col("doc_id").cast("string"), lit(":"), col(langCol))))
      .where(substring(col("h"), 1, 1) <= "3") // hex chars 0-3 = 4/16 = 25%
      .select(col("doc_id"), col(langCol), col("h").as("sample_key"))
      .orderBy("doc_id")

  /** The cross-engine-exact md5→uint32 recipe, centralized in
    * [[graft.functions.HashExprs.md5Uint32]] (shared with the Bloom
    * filter and count-min sketch) so the substring window can never
    * drift between consumers.
    */
  private def h32(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.HashExprs.md5Uint32(c)

  /** Deterministic train/val/test assignment: an md5-derived bucket in
    * [0,100) maps each doc to 80/10/10. Pure function of doc_id — no
    * shuffle, no state, stable across reruns and table growth (a doc's
    * split never changes when others arrive: the property random()
    * splits lack).
    */
  /** The 80/10/10 split assignment as a plain column (pure function of
    * doc_id) — composable into any projection; [[hashSplit]] and
    * [[TrainingPipeline]] both use it so the assignment cannot drift.
    */
  def splitCol: org.apache.spark.sql.Column = {
    val bucket = h32(col("doc_id")) % 100
    when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
  }

  def hashSplit(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), splitCol.as("split"))
      .orderBy("doc_id")

  /** Balanced cross-source mix: downsample every source to ≈ the
    * smallest source's share with a THRESHOLD PREDICATE, not a
    * per-source rank — `hash32 · cnt < minCnt · 2³²` keeps ≈ minCnt/cnt
    * of each source using exact BIGINT arithmetic (valid while
    * cnt < 2³¹). The rank formulation would window-partition by source
    * — a handful of giant single-task sorts at 100 TB; this reads the
    * table twice (full rows once, the source column once for counts —
    * a cheap columnar scan) and broadcasts the tiny count table.
    * Deterministic: the same doc always survives, so the oracle
    * replays it row-for-row.
    */
  def balancedMix(docs: DataFrame): DataFrame = {
    val hashed = docs.withColumn("h32", h32(col("doc_id")))
    val counts = docs.groupBy("source").agg(count(lit(1)).as("cnt"))
    val minCnt = counts.agg(min("cnt").as("min_cnt"))
    hashed.join(broadcast(counts), "source")
      .crossJoin(broadcast(minCnt))
      .where(col("h32") * col("cnt") < col("min_cnt") * lit(4294967296L))
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")
  }

  /** Temperature-scaled mixture weights (T=2) for a multilingual
    * training mix: per-language sampling share ∝ n^(1/T) = √n —
    * the standard up-weighting of low-resource languages (mBERT/XLM-R
    * exponent-α sampling with α = 0.5). The irrational √n is
    * immediately quantized to exact micro-units
    * (⌊√n·10⁶ + 0.5⌋, the floor(x+0.5) discipline), so the share
    * denominator is an exact BIGINT sum — no double fold order on the
    * compare path — and every downstream value derives from two exact
    * integers. Emits per language: observed count, micro-weight,
    * share, the target document count at corpus size, and the
    * up/downsample factor the sampler would apply.
    *
    * 100 TB design: one map-side-combined count per language plus a
    * language-count-sized (tiny) aggregate and broadcast — the same
    * no-window shape as [[balancedMix]]; the factors then drive the
    * integer-threshold keep predicate ([[weightedKeep]]'s machinery)
    * in a map-only pass over the corpus.
    */
  def temperatureMix(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val weighted = counts.withColumn("w_micro",
      floor(sqrt(col("n_docs").cast("double")) * lit(1000000.0) + lit(0.5))
        .cast("long"))
    val totals = weighted.agg(
      sum(col("w_micro")).as("w_total"),
      sum(col("n_docs")).as("n_total"))
    weighted.crossJoin(broadcast(totals))
      .select(
        col("lang"), col("n_docs"), col("w_micro"),
        (col("w_micro").cast("double") / col("w_total").cast("double"))
          .as("share"),
        floor(col("w_micro").cast("double") / col("w_total").cast("double") *
          col("n_total").cast("double") + lit(0.5)).cast("long")
          .as("target_docs"),
        (col("w_micro").cast("double") / col("w_total").cast("double") *
          col("n_total").cast("double") / col("n_docs").cast("double"))
          .as("sample_factor"))
      .orderBy("lang")
  }

  /** Quality-weighted deterministic subsample: keep each doc with
    * probability ∝ min(n_chars, cap)/cap — the curriculum/quality
    * sampling primitive ("prefer substantial documents, cap the
    * advantage"). The keep test is the shared md5→uint32 threshold in
    * ALL-INTEGER arithmetic ((h mod 10⁶)·cap < min(n_chars,cap)·10⁶, no
    * doubles to drift cross-engine), key-stable (a doc's fate depends
    * only on its own id+weight, never the rest of the corpus), map-only,
    * zero shuffle.
    */
  /** The weighted-keep predicate as a plain column (pure function of
    * doc_id and n_chars) — shared by [[weightedSample]] and
    * [[TrainingPipeline]].
    */
  def weightedKeep(cap: Long): org.apache.spark.sql.Column = {
    // h < 10⁶, so h·cap stays inside Long for cap up to ~9.2e12; the
    // require keeps a caller's typo from silently wrapping the predicate
    require(cap > 0 && cap <= 1000000000L, s"cap out of range: $cap")
    // 'w:' salt: [[splitCol]] buckets on the UNSALTED md5 and 100
    // divides 10⁶, so an unsalted keep test would make the surviving
    // sample a PREFIX of the split buckets — at low keep rates every
    // survivor would land in 'train' and val/test would starve
    (h32(concat(lit("w:"), col("doc_id").cast("string"))) % 1000000L) *
      lit(cap) < least(col("n_chars"), lit(cap)) * lit(1000000L)
  }

  def weightedSample(docs: DataFrame, cap: Long = 1000L): DataFrame =
    docs
      .where(weightedKeep(cap))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")

  /** Training-shard writer: range-partition the corpus by its shuffle
    * key into `numShards` shards, each internally sorted — the output
    * stage of a data pipeline. Shard key ranges are DISJOINT
    * (repartitionByRange), so concatenating shards in range order
    * replays the exact global shuffle order; any subset of shards is a
    * valid smaller epoch. At 100 TB each shard writes in parallel with
    * no global sort.
    */
  def writeTrainingShards(docs: DataFrame, path: String, numShards: Int,
      seed: Int = 0): Unit = {
    val keyed = docs.withColumn("shuffle_key",
      md5(concat(lit(seed.toString), lit(":"), col("doc_id").cast("string"))))
    keyed
      .repartitionByRange(numShards, col("shuffle_key"))
      .sortWithinPartitions("shuffle_key")
      .write.mode("overwrite").parquet(path)
  }

  /** Dataset-release shard manifest: the reproducibility artifact a
    * training-data release ships next to its shards — per shard, the
    * row count, byte mass, id range, and an ORDER-INVARIANT content
    * digest, so a consumer can re-verify any shard (and the whole
    * release) without trusting file ordering. Shard assignment is a
    * pure hash of doc_id (mirrorable, unlike range-partitioner
    * internals); the content digest folds each document's md5Uint60
    * content fingerprint with XOR — commutative, overflow-free at any
    * corpus size — alongside an ADDITIVE checksum of the 32-bit
    * fingerprint variant: Σ h32 computed in DECIMAL(38,0) (HUGEINT in
    * the oracle) per the psiDrift overflow rule, then reduced mod 2⁶⁰
    * to a BIGINT. A bare BIGINT Σ uint32 wraps silently past ~2×10⁹
    * rows per shard under non-ANSI Spark while DuckDB widens — the
    * markovStationary silent-divergence class; the explicit widened
    * sum + modulus is exact and engine-identical at ANY corpus size,
    * and the mod-2⁶⁰ reduction is the standard additive-checksum form
    * (order-invariant, BIGINT-stable for the gate's dtype-sensitive
    * row hash). The XOR fold never needs widening.
    *
    * 100 TB shape: one map-side-combined aggregate on the shard key —
    * the manifest is O(numShards) rows however large the corpus.
    */
  /** One-row corpus DATASHEET (Gebru et al. 2021, "Datasheets for
    * Datasets") — the structural summary a dataset release publishes
    * next to its [[shardManifest]]: size (docs / whitespace tokens /
    * chars), language spread (distinct langs, dominant language and
    * its share — ties broken toward the lexicographically largest
    * lang identically on both engines), exact-duplicate fraction
    * (md5-content grain) and blank-doc fraction.
    *
    * Plan shape: THREE column-pruned corpus scans (plain sums; a
    * distinct-hash count; the language census) combined by broadcast
    * crossJoins of 1-row/1-group results — deliberately NOT one
    * mixed count-distinct aggregate, which would plan as a 3× Expand
    * over the corpus (the q_term_stats no-Expand rule); a datasheet
    * runs once per release, so three pruned scans beat one tripled
    * scan.
    *
    * Empty corpus ⇒ ZERO rows on both engines — there is no datasheet
    * of nothing, rather than a row of 0/NULL ratios. The DuckDB oracle
    * annihilates through its empty `tl … LIMIT 1` CTE's cross join;
    * the Spark side's census paths are GLOBAL aggregates that emit one
    * 0/NULL row even on empty input, so annihilation is an explicit
    * `n_docs > 0` guard — without it the engines silently diverge
    * (1 row of zeros vs 0 rows), exactly the class the oracle gate
    * exists to catch (r9 ADVICE).
    */
  def corpusDatasheet(docs: DataFrame): DataFrame = {
    val base = docs.select(
      coalesce(col("text"), lit("")).as("t"), col("lang"))
      .withColumn("tok",
        size(expr("filter(split(graft_norm_text(t), ' '), x -> x <> '')"))
          .cast("long"))
    val main = base.agg(
      count(lit(1)).as("n_docs"),
      sum(col("tok")).as("total_tokens"),
      sum(length(col("t")).cast("long")).as("total_chars"),
      sum(when(trim(col("t")) === "", 1L).otherwise(0L)).as("__nblank"))
    val dist = base.select(unhex(md5(col("t"))).as("h")).distinct()
      .agg(count(lit(1)).as("__ndist"))
    val langs = base.groupBy("lang").agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_langs"),
        max(struct(col("c"), col("lang"))).as("m"))
    main.crossJoin(broadcast(dist)).crossJoin(broadcast(langs))
      .where(col("n_docs") > 0)
      .select(
        col("n_docs"), col("n_langs"),
        col("m.lang").as("top_lang"),
        (col("m.c").cast("double") / col("n_docs").cast("double"))
          .as("top_lang_share"),
        col("total_tokens"),
        (col("total_tokens").cast("double") / col("n_docs").cast("double"))
          .as("mean_doc_tokens"),
        col("total_chars"),
        ((col("n_docs") - col("__ndist")).cast("double") /
          col("n_docs").cast("double")).as("exact_dup_frac"),
        (col("__nblank").cast("double") / col("n_docs").cast("double"))
          .as("blank_doc_frac"))
  }

  def shardManifest(docs: DataFrame, numShards: Int = 16): DataFrame = {
    import graft.functions.HashExprs
    docs
      .select(
        pmod(HashExprs.md5Uint32(
          concat(lit("s:"), col("doc_id").cast("string"))), lit(numShards.toLong))
          .as("shard_id"),
        col("doc_id"), col("n_chars"),
        HashExprs.md5Uint60(coalesce(col("text"), lit(""))).as("h"),
        HashExprs.md5Uint32(coalesce(col("text"), lit(""))).as("h32"))
      .groupBy("shard_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        expr("bit_xor(h)").as("digest_xor"),
        (sum(col("h32").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          % lit(1152921504606846976L)).cast("long").as("digest_sum"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy("shard_id")
  }

  /** Sequence packing: assign documents (in deterministic corpus order)
    * to fixed-token-budget batches by running total — the packing stage
    * that turns a shuffled corpus into fixed-size training batches. A
    * doc lands in batch floor(tokens_before_it / budget); contiguous,
    * reproducible. (Greedy first-fit would need sequential state — this
    * streaming-friendly variant is what pipelines actually ship.)
    *
    * The global prefix sum is computed in TWO PASSES so no single task
    * ever sees the whole corpus (a bare `Window.orderBy` would move
    * every row to one task — fatal at 100 TB):
    *   1. bucket rows by deterministic doc_id key range and aggregate a
    *      per-bucket token subtotal (one map-side-combined shuffle of
    *      `parts` rows to the driver);
    *   2. turn subtotals into cumulative per-bucket offsets (O(parts)
    *      on the driver), broadcast them as a literal map, and run the
    *      running sum as a window PARTITIONED by bucket — each bucket
    *      sorts independently in parallel, then adds its offset.
    * Bucketing is a pure function of doc_id (not spark_partition_id or
    * sampling), so both passes agree and task retries are stable.
    */
  def sequencePack(docs: DataFrame, budget: Int, numBuckets: Int = 0): DataFrame =
    packTokenCounts(
      docs
        .withColumn("n_tokens", size(split(TextOps.normalizeText(col("text")), " ")))
        .select(col("doc_id"), col("n_tokens")),
      budget, numBuckets)

  /** [[sequencePack]] with REAL tokenizer counts: the per-doc token
    * mass is the BPE piece count under the `iters` learned merges
    * (the [[graft.functions.TextOps.bpeEncodeStats]] vocabulary-join
    * geometry — words collapse to a (word → n_pieces) table once,
    * docs aggregate their words' piece counts), not the whitespace
    * proxy. Whitespace packing under-fills batches exactly where BPE
    * fertility is high (rare words, non-English), which is what a
    * fixed-compute training batch actually pays for; packing on piece
    * counts makes batch token mass the real invariant. Docs with no
    * alphanumeric tokens pack at mass 0 (left join + coalesce), same
    * as their whitespace-count behavior on empty text.
    *
    * 100 TB shape: training is vocabulary-bounded (see bpeTrainCore),
    * the doc↔vocab join is the one extra shuffle, and the prefix sum
    * reuses the two-pass [[packTokenCounts]] core — no new
    * single-task stage.
    */
  def sequencePackBpe(docs: DataFrame, budget: Int, iters: Int = 3,
      numBuckets: Int = 0,
      sharedTrain: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val (vocab, _) = sharedTrain.getOrElse(TextOps.bpeTrainCore(docs, iters))
    val pieces = vocab.select(col("w"), size(col("syms")).as("n_pieces"))
    val perDoc = docs
      .select(col("doc_id"),
        explode(split(TextOps.normalizeText(col("text")), " ")).as("w"))
      .where(col("w") =!= "")
      .join(pieces, "w")
      .groupBy("doc_id")
      .agg(sum(col("n_pieces").cast("long")).as("nt"))
    val toks = docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("nt"), lit(0L)).cast("int").as("n_tokens"))
    packTokenCounts(toks, budget, numBuckets)
  }

  /** Two-pass prefix-sum packing core shared by [[sequencePack]] and
    * [[sequencePackBpe]]: `toks` is any (doc_id, n_tokens) relation;
    * batch = floor(tokens_before / budget) in global doc_id order.
    */
  private def packTokenCounts(toks: DataFrame, budget: Int,
      numBuckets: Int): DataFrame = {
    val spark = toks.sparkSession
    val parts =
      if (numBuckets > 0) numBuckets
      else spark.sessionState.conf.numShufflePartitions

    // Deterministic, order-preserving bucket id from the doc_id key range.
    // Exact min/max costs one cheap scan; dense ids (the common case for a
    // shuffled corpus) bucket evenly. For pathological key skew, swap the
    // uniform width for approxQuantile-derived literal bounds — the
    // two-pass structure is unchanged. Null doc_ids bucket to -1, which
    // sorts before every real bucket — the same nulls-first prefix
    // position a global ORDER BY doc_id would give them. An empty corpus
    // leaves lo/hi at 0 and flows through to an empty result.
    val bounds = toks.agg(min(col("doc_id")), max(col("doc_id"))).head()
    val (lo, hi) =
      if (bounds.isNullAt(0)) (0L, 0L)
      else (bounds.getLong(0), bounds.getLong(1))
    val width = math.max(1L, (hi - lo) / parts + 1)
    val pid = coalesce(
      ((col("doc_id") - lit(lo)) / lit(width)).cast("int"), lit(-1))

    val subtotals = toks
      .groupBy(pid.as("pid"))
      // coalesce: a bucket whose every doc has null text would sum to
      // null and NPE the driver-side read
      .agg(coalesce(sum(col("n_tokens")), lit(0L)).as("sub"))
      .collect() // O(numBuckets) rows — driver-safe at any data scale
      .map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(_._1)
    var acc = 0L
    val offsets: Map[Int, Long] = subtotals.map { case (p, sub) =>
      val pair = (p, acc); acc += sub; pair
    }.toMap

    // n_tokens as a secondary sort key: non-null doc_ids are unique, but
    // multiple NULL ids all tie on doc_id alone and their shuffle order
    // would decide batch assignment run to run; with the tiebreaker the
    // output is deterministic as a multiset (rows identical in both keys
    // are interchangeable)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("pid").orderBy(col("doc_id"), col("n_tokens"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    toks
      .withColumn("pid", pid)
      .withColumn("local_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("tokens_before",
        col("local_before") + coalesce(element_at(typedLit(offsets), col("pid")), lit(0L)))
      .select(
        col("doc_id"), col("n_tokens"),
        floor(col("tokens_before") / budget).cast("int").as("batch_id"))
      .orderBy("doc_id")
  }

  /** Histogram profile: fixed-range width_bucket counts — the standard
    * one-scan distribution snapshot for pipeline QA dashboards.
    */
  def histogram(docs: DataFrame): DataFrame =
    docs
      .select(expr("width_bucket(length(text), 0, 1000, 20)").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"))
      .orderBy("bucket")

  /** Column profile: null/distinct/extrema counts per column — the
    * data-quality gate a corpus passes before training. One scan, one
    * aggregate row.
    */
  def columnProfile(docs: DataFrame): DataFrame =
    docs.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("text").isNull, 1).otherwise(0)).as("null_text"),
      countDistinct(col("lang")).as("distinct_langs"),
      countDistinct(col("doc_id")).as("distinct_ids"),
      min(length(col("text"))).as("min_len"),
      max(length(col("text"))).as("max_len"),
      expr("CAST(every(doc_id IS NOT NULL) AS BOOLEAN)").as("ids_all_present"),
      expr("CAST(any(length(text) > 500) AS BOOLEAN)").as("has_long_docs"))

  // ---- registered queries ----------------------------------------------

  def chunksQuery(s: SparkSession, dir: String): DataFrame =
    chunkDocuments(load(s, dir, "documents"), "text")

  def shuffleQuery(s: SparkSession, dir: String): DataFrame =
    deterministicShuffle(load(s, dir, "documents"))

  def sampleQuery(s: SparkSession, dir: String): DataFrame =
    stratifiedSample(load(s, dir, "documents"), "lang")

  private val normSql = TextOps.duckNormSql

  def histogramQuery(s: SparkSession, dir: String): DataFrame =
    histogram(load(s, dir, "documents"))

  def profileQuery(s: SparkSession, dir: String): DataFrame =
    columnProfile(load(s, dir, "documents"))

  def packQuery(s: SparkSession, dir: String): DataFrame =
    sequencePack(load(s, dir, "documents"), budget = 4096)

  /** Per-source-file provenance report via the `_metadata` hidden
    * column: which file contributed which id range and how many docs.
    * At 100 TB a corpus is tens of thousands of files from many crawls;
    * row-level provenance (file, id span, count) is the audit trail for
    * takedown/contamination rollbacks. Zero extra I/O — `_metadata` is
    * populated by the scan itself.
    */
  def provenance(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(col("doc_id"), col("_metadata.file_name").as("file_name"))
      .groupBy("file_name")
      .agg(count(lit(1)).as("n_docs"),
        min("doc_id").as("min_doc_id"), max("doc_id").as("max_doc_id"))
      .orderBy("file_name")

  /** Top-p (nucleus) corpus selection per source — the mixing-prep cut
    * that keeps each domain's HIGHEST-mass head until a fixed fraction
    * p of that domain's total mass is covered (the sampling analog of
    * nucleus decoding, applied to corpus curation): a global threshold
    * keeps wildly different fractions of different domains; the
    * per-domain mass quantile keeps the same share of each. Mass here
    * is doc length; a bucket (distinct length value) is kept while the
    * cumulative mass STRICTLY BEFORE it is under p·total — entirely in
    * exact integer arithmetic (`2·(cum − mass) < total` for p = ½; no
    * doubles anywhere on the decision path).
    *
    * 100 TB shape: the [[Cleaning.quantileNorm]] pattern — corpus
    * collapses to (source, value) count/mass rows in one
    * map-side-combined aggregate; the per-source DESC cumsum runs over
    * that domain-bounded set; kept buckets join back broadcast-style.
    */
  def topPSample(docs: DataFrame): DataFrame = {
    val v = docs.groupBy(col("source"), col("n_chars").as("val"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("source"), col("val"), (col("cnt") * col("val")).as("mass"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("val").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = v.select(col("source"), col("val"), col("mass"),
      sum(col("mass")).over(w).as("cum"))
    val tot = v.groupBy("source").agg(sum(col("mass")).as("total"))
    val kept = cum.join(tot, "source")
      .where((col("cum") - col("mass")) * 2 < col("total"))
      .select(col("source").as("ksource"), col("val").as("kval"))
    docs.select(col("doc_id"), col("source"), col("n_chars"))
      .join(kept, col("source") === col("ksource") &&
        col("n_chars") === col("kval"))
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** DSIR data selection (Xie et al. 2023, "Data Selection for Language
    * Models via Importance Resampling"): rank the RAW-corpus documents
    * by how target-like their hashed-bigram profile is, and keep the
    * top k. Per document the importance weight is the log-likelihood
    * ratio of two add-one-smoothed bag-of-hashed-ngrams models —
    * exactly DSIR's feature space (bigrams hashed into m buckets;
    * md5-derived so DuckDB reproduces the bucketing) — and the log is
    * BIT-QUANTIZED per bucket like the surprisal/domainShift family:
    *
    *   bits[b] = floor(log2((ct[b]+1)·(Nr+m))) − floor(log2((cr[b]+1)·(Nt+m)))
    *   w(doc)  = Σ_b c_doc[b] · bits[b]    (exact BIGINT everywhere)
    *
    * so the ranking needs no IEEE ln and hash-compares across engines.
    * The published method perturbs w with Gumbel noise before the
    * top-k (sampling ∝ w without replacement); this implementation is
    * the deterministic temperature→0 limit — rank by w, tie-break
    * doc_id — because -ln(-ln u) is an IEEE transcendental the
    * engines don't bit-agree on, and reproducible selection is what a
    * production pipeline reruns.
    *
    * 100 TB shape: one tokenizing scan builds (doc, bucket) bigram
    * positions; both corpus models come from ONE map-side-combined
    * groupBy(bucket) with conditional sums (bounded m-row result); the
    * per-doc weight join is against a BROADCAST m-row bits table (no
    * shuffle by bucket); the only data-sized shuffle is the doc_id
    * reduction, and the cut is TakeOrderedAndProject — never a global
    * sort.
    */
  def dsirSample(docs: DataFrame, textCol: String, sliceCol: String,
      focus: String, m: Long = 1024L, k: Int = 50): DataFrame = {
    val bg = docs
      .select(col("doc_id"), (col(sliceCol) === focus).as("in_t"),
        split(TextOps.normalizeText(col(textCol)), " ").as("toks"))
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"), col("in_t"), explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> concat_ws(' ', toks[i-1], toks[i]))"))
        .as("g"))
      .select(col("doc_id"), col("in_t"),
        pmod(graft.functions.HashExprs.md5Uint32(col("g")), lit(m)).as("b"))
    val bucketCounts = bg.groupBy("b")
      .agg(sum(when(col("in_t"), 1L).otherwise(0L)).as("ct"),
        sum(when(!col("in_t"), 1L).otherwise(0L)).as("cr"))
    val totals = bucketCounts.agg(sum("ct").as("nt"), sum("cr").as("nr"))
    val bits = bucketCounts.crossJoin(broadcast(totals))
      .select(col("b"),
        // DECIMAL(38,0)-widened products (HUGEINT in the oracle): a
        // BIGINT (ct+1)*(nr+m) wraps silently past 2^63 at 100 TB-era
        // bigram counts while DuckDB raises — see psiDrift.
        (floor(log2((col("ct") + lit(1L))
            .cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
            (col("nr") + lit(m)))).cast("long") -
          floor(log2((col("cr") + lit(1L))
            .cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
            (col("nt") + lit(m)))).cast("long"))
          .as("bits"))
    bg.where(!col("in_t"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
      .join(broadcast(bits), "b")
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_bigrams"),
        sum(col("c") * col("bits")).as("sum_bits"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_bits"),
        (col("sum_bits").cast("double") / col("n_bigrams").cast("double"))
          .as("mean_bits"))
      .orderBy(col("sum_bits").desc, col("doc_id"))
      .limit(k)
  }

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q_dsir_sample",
      "DSIR importance resampling: top-k raw docs by hashed-bigram target/raw log-likelihood ratio (bit-quantized exact)",
      (s, dir) => dsirSample(load(s, dir, "documents"), "text", "source", "src1"),
      Some(
        s"""WITH toks AS (
           |  SELECT doc_id, source = 'src1' AS in_t, $normToks AS t FROM documents),
           |bg AS (
           |  SELECT doc_id, in_t, unnest(list_transform(range(1, len(t)),
           |                 i -> t[i] || ' ' || t[i+1])) AS g
           |  FROM toks WHERE len(t) >= 2),
           |bb AS (
           |  SELECT doc_id, in_t,
           |         ('0x' || substring(md5(g), 25, 8))::BIGINT % 1024 AS b
           |  FROM bg),
           |bc AS (
           |  SELECT b, CAST(sum(CASE WHEN in_t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
           |         CAST(sum(CASE WHEN in_t THEN 0 ELSE 1 END) AS BIGINT) AS cr
           |  FROM bb GROUP BY 1),
           |tt AS (SELECT CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cr) AS BIGINT) AS nr FROM bc),
           |bits AS (
           |  SELECT b, CAST(floor(log2(CAST(ct + 1 AS HUGEINT) * (nr + 1024))) AS BIGINT) -
           |            CAST(floor(log2(CAST(cr + 1 AS HUGEINT) * (nt + 1024))) AS BIGINT) AS bits
           |  FROM bc, tt),
           |dc AS (SELECT doc_id, b, count(*) AS c FROM bb WHERE NOT in_t GROUP BY 1, 2)
           |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
           |       CAST(sum(c * bits) AS BIGINT) AS sum_bits,
           |       CAST(CAST(sum(c * bits) AS BIGINT) AS DOUBLE) /
           |         CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) AS mean_bits
           |FROM dc JOIN bits USING (b) GROUP BY doc_id
           |ORDER BY sum_bits DESC, doc_id LIMIT 50""".stripMargin)),
    GraftQuery("q_top_p_sample",
      "per-source top-p (nucleus) selection: keep each domain's highest-mass head to p=1/2 of its mass, exact integer cut",
      (s, dir) => topPSample(load(s, dir, "documents")),
      Some(
        """WITH v AS (
          |  SELECT source, n_chars AS val, count(*) AS cnt,
          |         CAST(count(*) * n_chars AS BIGINT) AS mass
          |  FROM documents GROUP BY source, n_chars),
          |c AS (
          |  SELECT source, val, mass,
          |         CAST(sum(mass) OVER (PARTITION BY source ORDER BY val DESC
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
          |  FROM v),
          |tot AS (SELECT source, CAST(sum(mass) AS BIGINT) AS total FROM v GROUP BY source),
          |kept AS (
          |  SELECT c.source, c.val FROM c JOIN tot ON c.source = tot.source
          |  WHERE (c.cum - c.mass) * 2 < tot.total)
          |SELECT doc_id, d.source, d.n_chars
          |FROM documents d JOIN kept ON d.source = kept.source AND d.n_chars = kept.val
          |ORDER BY doc_id""".stripMargin)),
    // The oracle runs over the driver's table VIEWS (no filename
    // metadata there), but each fixture table is exactly one file, so
    // the expected basename is the known constant — the gate still
    // verifies Spark's _metadata plumbing yields that name plus the
    // per-file counts/spans.
    GraftQuery("q_provenance", "file-level provenance audit via the _metadata scan column",
      provenance,
      Some(
        """SELECT 'documents.parquet' AS file_name,
          |       count(*) AS n_docs, min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
          |FROM documents
          |GROUP BY 1 ORDER BY file_name""".stripMargin)),
    GraftQuery("q_sequence_pack", "token-budget batch packing by running total",
      packQuery,
      Some(
        """WITH tok AS (
          |  SELECT doc_id,
          |         len(string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')) AS n_tokens
          |  FROM documents)
          |SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
          |       CAST(floor(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
          |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 4096) AS INTEGER) AS batch_id
          |FROM tok ORDER BY doc_id""".stripMargin)),
    GraftQuery("q_sequence_pack_bpe",
      "token-budget batch packing on REAL BPE piece counts (3 learned merges) instead of the whitespace proxy",
      (s, dir) => sequencePackBpe(load(s, dir, "documents"), budget = 4096,
        sharedTrain = Some(TextOps.bpeTrainShared(s, dir))),
      Some(
        s"""WITH ${TextOps.bpeOracleCtes},
           |pieces AS (SELECT w, len(syms) AS n_pieces FROM v3),
           |dw AS (
           |  SELECT doc_id, unnest(${TextOps.duckNormToksSql}) AS w FROM documents),
           |cnt0 AS (
           |  SELECT doc_id, CAST(sum(n_pieces) AS BIGINT) AS nt
           |  FROM dw JOIN pieces USING (w) WHERE w <> '' GROUP BY doc_id),
           |cnt AS (
           |  SELECT d.doc_id, COALESCE(nt, 0) AS n_tokens
           |  FROM (SELECT doc_id FROM documents) d LEFT JOIN cnt0 USING (doc_id))
           |SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
           |       CAST(floor(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
           |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 4096) AS INTEGER) AS batch_id
           |FROM cnt ORDER BY doc_id""".stripMargin)),
    GraftQuery("q_histogram", "width_bucket length histogram (one-scan distribution profile)",
      histogramQuery,
      // this DuckDB build lacks width_bucket; same arithmetic inline
      // (20 buckets over [0,1000): bucket = floor(v/50)+1, clamped)
      Some(
        """SELECT CAST(CASE WHEN length(text) < 0 THEN 0
          |                 WHEN length(text) >= 1000 THEN 21
          |                 ELSE floor(length(text) / 50.0) + 1 END AS BIGINT) AS bucket,
          |       count(*) AS n
          |FROM documents GROUP BY bucket ORDER BY bucket""".stripMargin)),
    GraftQuery("q_column_profile", "null/distinct/extrema/bool-agg column profile",
      profileQuery,
      Some(
        """SELECT count(*) AS n_rows,
          |       CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_text,
          |       count(DISTINCT lang) AS distinct_langs,
          |       count(DISTINCT doc_id) AS distinct_ids,
          |       CAST(min(length(text)) AS INTEGER) AS min_len,
          |       CAST(max(length(text)) AS INTEGER) AS max_len,
          |       bool_and(doc_id IS NOT NULL) AS ids_all_present,
          |       bool_or(length(text) > 500) AS has_long_docs
          |FROM documents""".stripMargin)),
    GraftQuery("q_doc_chunks", "overlapping token-window chunking (32/stride 24)",
      chunksQuery,
      Some(
        s"""WITH toks AS (
           |  SELECT doc_id, string_split($normSql, ' ') AS tk FROM documents
           |), idx AS (
           |  SELECT doc_id, tk,
           |         unnest(range(0, CAST(ceil(len(tk) / 24.0) AS BIGINT))) AS i
           |  FROM toks)
           |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
           |       CAST(len(tk[i * 24 + 1 : i * 24 + 32]) AS INT) AS chunk_tokens,
           |       list_aggregate(tk[i * 24 + 1 : i * 24 + 32], 'string_agg', ' ') AS chunk_text
           |FROM idx
           |WHERE list_aggregate(tk[i * 24 + 1 : i * 24 + 32], 'string_agg', ' ') <> ''
           |ORDER BY doc_id, chunk_idx""".stripMargin)),
    GraftQuery("q_hash_split", "deterministic 80/10/10 train/val/test assignment by md5 bucket",
      (s, dir) => hashSplit(load(s, dir, "documents")),
      Some(
        """SELECT doc_id,
          |       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
          |FROM (SELECT doc_id,
          |             ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 25, 8))::BIGINT % 100 AS b
          |      FROM documents)
          |ORDER BY doc_id""".stripMargin)),
    GraftQuery("q_corpus_datasheet",
      "one-row corpus datasheet (Gebru 2021): docs/tokens/chars, language spread + dominant share, exact-dup and blank-doc fractions",
      (s, dir) => corpusDatasheet(load(s, dir, "documents")),
      Some(
        """WITH b AS (
          |  SELECT coalesce(text, '') AS t, lang,
          |    CAST(len(list_filter(string_split(
          |      trim(regexp_replace(regexp_replace(lower(coalesce(text, '')),
          |        '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' '),
          |      x -> x <> '')) AS BIGINT) AS tok
          |  FROM documents),
          |m AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
          |        CAST(sum(tok) AS BIGINT) AS total_tokens,
          |        CAST(sum(length(t)) AS BIGINT) AS total_chars,
          |        CAST(sum(CASE WHEN trim(t) = '' THEN 1 ELSE 0 END) AS BIGINT) AS nblank
          |      FROM b),
          |dd AS (SELECT CAST(count(DISTINCT md5(t)) AS BIGINT) AS ndist FROM b),
          |lc AS (SELECT lang, count(*) AS c FROM b GROUP BY 1),
          |ll AS (SELECT CAST(count(*) AS BIGINT) AS n_langs FROM lc),
          |tl AS (SELECT lang AS top_lang, CAST(c AS BIGINT) AS topc
          |       FROM lc ORDER BY c DESC, lang DESC LIMIT 1)
          |SELECT n_docs, n_langs, top_lang,
          |       CAST(topc AS DOUBLE) / n_docs AS top_lang_share,
          |       total_tokens,
          |       CAST(total_tokens AS DOUBLE) / n_docs AS mean_doc_tokens,
          |       total_chars,
          |       CAST(n_docs - ndist AS DOUBLE) / n_docs AS exact_dup_frac,
          |       CAST(nblank AS DOUBLE) / n_docs AS blank_doc_frac
          |FROM m, dd, ll, tl""".stripMargin)),
    GraftQuery("q_shard_manifest",
      "dataset-release shard manifest: per-shard counts, byte mass, id range, order-invariant XOR + sum content digests over md5 fingerprints",
      (s, dir) => shardManifest(load(s, dir, "documents")),
      Some(
        """WITH d AS (
          |  SELECT doc_id, n_chars,
          |         ('0x' || substring(md5('s:' || CAST(doc_id AS VARCHAR)), 25, 8))::BIGINT % 16 AS shard_id,
          |         ('0x' || substring(md5(coalesce(text, '')), 1, 15))::BIGINT AS h,
          |         ('0x' || substring(md5(coalesce(text, '')), 25, 8))::BIGINT AS h32
          |  FROM documents)
          |SELECT shard_id,
          |       count(*) AS n_docs,
          |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
          |       bit_xor(h) AS digest_xor,
          |       CAST(sum(CAST(h32 AS HUGEINT)) % 1152921504606846976 AS BIGINT) AS digest_sum,
          |       min(doc_id) AS min_doc,
          |       max(doc_id) AS max_doc
          |FROM d GROUP BY shard_id ORDER BY shard_id""".stripMargin)),
    GraftQuery("q_weighted_sample", "quality-weighted deterministic subsample (integer md5 threshold, map-only)",
      (s, dir) => weightedSample(load(s, dir, "documents")),
      Some(
        """SELECT doc_id, lang, n_chars FROM (
          |  SELECT doc_id, lang, n_chars,
          |         ('0x' || substring(md5('w:' || CAST(doc_id AS VARCHAR)), 25, 8))::BIGINT % 1000000 AS h
          |  FROM documents)
          |WHERE h * 1000 < least(n_chars, 1000) * 1000000
          |ORDER BY doc_id""".stripMargin)),
    GraftQuery("q_weighted_sample_capped",
      // cap=200 sits INSIDE the fixture's n_chars range (47–558, median
      // ~310): the majority of docs saturate (least() picks the cap →
      // keep-probability exactly 1, every such doc survives) while the
      // short tail still samples proportionally — so the saturation
      // branch of weightedKeep is oracle-gated, not just unit-tested
      "weighted subsample with a SATURATING cap (docs at/above cap always survive)",
      (s, dir) => weightedSample(load(s, dir, "documents"), cap = 200L),
      Some(
        """SELECT doc_id, lang, n_chars FROM (
          |  SELECT doc_id, lang, n_chars,
          |         ('0x' || substring(md5('w:' || CAST(doc_id AS VARCHAR)), 25, 8))::BIGINT % 1000000 AS h
          |  FROM documents)
          |WHERE h * 200 < least(n_chars, 200) * 1000000
          |ORDER BY doc_id""".stripMargin)),
    GraftQuery("q_temperature_mix", "T=2 temperature-scaled multilingual mixture weights (sqrt counts quantized to exact micro-units)",
      (s, dir) => temperatureMix(load(s, dir, "documents")),
      Some(
        """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
          |w AS (SELECT lang, n_docs,
          |             CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS w_micro
          |      FROM c),
          |t AS (SELECT CAST(sum(w_micro) AS BIGINT) AS w_total,
          |             CAST(sum(n_docs) AS BIGINT) AS n_total FROM w)
          |SELECT lang, n_docs, w_micro,
          |       CAST(w_micro AS DOUBLE) / CAST(w_total AS DOUBLE) AS share,
          |       CAST(floor(CAST(w_micro AS DOUBLE) / CAST(w_total AS DOUBLE) *
          |            CAST(n_total AS DOUBLE) + 0.5) AS BIGINT) AS target_docs,
          |       CAST(w_micro AS DOUBLE) / CAST(w_total AS DOUBLE) *
          |         CAST(n_total AS DOUBLE) / CAST(n_docs AS DOUBLE) AS sample_factor
          |FROM w CROSS JOIN t ORDER BY lang""".stripMargin)),
    GraftQuery("q_balanced_mix", "balanced cross-source downsample via integer threshold predicate (no windows)",
      // the fixture's sources are perfectly uniform (striped doc_id %
      // 20), which would make the threshold vacuously true (cnt ==
      // minCnt everywhere) — the deterministic pre-filter below drops
      // every other src0 STRIPE and every fourth src1 stripe so the
      // predicate's cnt/minCnt arithmetic genuinely downsamples the
      // other 18 sources
      (s, dir) => balancedMix(load(s, dir, "documents")
        .where(!(col("source") === "src0" && expr("doc_id div 20") % 2 === 0) &&
               !(col("source") === "src1" && expr("doc_id div 20") % 4 === 0))),
      Some(
        """WITH d AS (SELECT * FROM documents
          |           WHERE NOT (source = 'src0' AND (doc_id // 20) % 2 = 0)
          |             AND NOT (source = 'src1' AND (doc_id // 20) % 4 = 0)),
          |h AS (SELECT doc_id, source,
          |             ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 25, 8))::BIGINT AS h32
          |      FROM d),
          |c AS (SELECT source, count(*) AS cnt FROM d GROUP BY source),
          |mc AS (SELECT CAST(min(cnt) AS BIGINT) AS min_cnt FROM c)
          |SELECT h.doc_id, h.source
          |FROM h JOIN c USING (source) CROSS JOIN mc
          |WHERE h.h32 * c.cnt < mc.min_cnt * 4294967296
          |ORDER BY h.doc_id""".stripMargin)),
    GraftQuery("q_deterministic_shuffle", "reproducible corpus shuffle by md5(doc_id)",
      shuffleQuery,
      Some(
        """SELECT doc_id, md5('0' || ':' || CAST(doc_id AS VARCHAR)) AS shuffle_key
          |FROM documents ORDER BY shuffle_key, doc_id""".stripMargin)),
    GraftQuery("q_stratified_sample", "deterministic ~25% per-language sample via md5 threshold",
      sampleQuery,
      Some(
        """SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR) || ':' || lang) AS sample_key
          |FROM documents
          |WHERE substring(md5(CAST(doc_id AS VARCHAR) || ':' || lang), 1, 1) <= '3'
          |ORDER BY doc_id""".stripMargin)),
  )
}
