package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.storage.StorageLevel

import graft.functions.TextOps

/** End-to-end training-corpus pipeline — the composition a user of this
  * library ships: redact → quality-gate → exact-dedup → near-dup
  * keep-one → weighted sample → materialize the clean corpus →
  * split → pack the train split → sharded write.
  *
  * Structure at 100 TB:
  *  - Stages 1–5 build ONE lazy plan; the exact-deduped corpus is
  *    persisted (MEMORY_AND_DISK) because the LSH pair generation,
  *    the removal anti-join, and the final write all reference it —
  *    without the persist the redact+gate+dedup subtree would
  *    recompute for each.
  *  - The cleaned corpus is materialized by a single parquet write
  *    (the intermediate a lakehouse keeps as an asset anyway); splits
  *    re-read it, so the train/val/test writes scan CLEANED data.
  *  - The report's intermediate counts are explicit jobs gated by
  *    `Config.reportCounts` (−1 when off). `Dataset.observe` can NOT
  *    thread through these stages: near-dup removal references its
  *    input twice (a self-join), and a CollectMetrics node duplicated
  *    in one plan is an analysis error. Output counts read parquet
  *    metadata, not data.
  *  - The removal lists are plain (un-hinted) anti-joins: the
  *    |z|-outlier tail and the near-dup member list are both
  *    data-dependent — a crawl corpus can be 30–50% near-duplicates —
  *    so forcing a broadcast could OOM; AQE broadcasts them when they
  *    turn out small.
  *  - Every stage is a pure function of content (md5/minhash of ids
  *    and text) — re-running the pipeline on the same input reproduces
  *    identical outputs, and task retries cannot flip a doc's fate
  *    mid-job. Sampling and split assignment use DIFFERENTLY-SALTED
  *    hashes: both derive from md5(doc_id), and since 100 divides 10⁶
  *    an unsalted pair would make the surviving sample a prefix of the
  *    split buckets (starving val/test at low keep rates).
  */
object TrainingPipeline {

  /** @param minTokens      row-local quality floor (drop near-empty docs)
    * @param maxAbsZ        per-language length z-score cut (corpus-level)
    * @param nearDupThreshold verified-Jaccard threshold for keep-one
    * @param sampleCap      [[TrainingPrep.weightedKeep]] length cap
    * @param packBudget     tokens per training batch
    * @param numShards      train-split shard files
    * @param urlDedupCol    when set, the named column holds the fetch
    *                       URL and stage 0 keeps ONE doc (min doc_id)
    *                       per [[WebOps.canonicalUrl]] key — the
    *                       crawl-dedup prerequisite (utm variants,
    *                       case/port/fragment noise) applied BEFORE any
    *                       content work is spent on refetches
    * @param lineClean      when true, stage 1.5 applies the RefinedWeb
    *                       line-wise corrections ([[graft.functions.
    *                       TextOps.refinedwebCleanApply]]) to the
    *                       post-redaction text: boilerplate lines
    *                       (uppercase-heavy / numeric / counters /
    *                       single-word / login prompts) are REMOVED
    *                       from surviving docs, and docs whose removed
    *                       lines exceed `lineCleanMaxFrac` of their
    *                       characters die — line-grain cleaning the
    *                       doc-grain gates cannot express; runs before
    *                       the quality gates so every later stage
    *                       scores the text actually shipped
    * @param lineCleanMaxFrac doc-level modification threshold for
    *                       stage 1.5 (the paper's 5% default)
    * @param gopherQuality  when true, stage 2.5 applies BOTH published
    *                       Gopher A1.1 batteries ([[graft.functions.
    *                       TextOps.gopherRulesOf]] quality rules and
    *                       [[graft.functions.TextOps.
    *                       gopherRepetitionOf]] repetition rules) to
    *                       the post-redaction text; docs failing
    *                       either battery die before any dedup work
    *                       is spent on them
    * @param chunkDupMaxFrac when set, docs whose duplicated-CDC-chunk
    *                       byte fraction is ≥ this threshold die after
    *                       exact dedup: a chunk's first occurrence
    *                       (min doc_id) is canonical, and a doc mostly
    *                       made of chunks first seen in earlier docs is
    *                       a shifted/boilerplate copy whole-payload
    *                       digests can never see
    * @param reportCounts   false skips the intermediate count jobs
    *                       (fields report −1); output counts and the
    *                       id-uniqueness gate always run (cheap — they
    *                       read the materialized corpus, not the plan)
    */
  final case class Config(
      minTokens: Int = 5,
      maxAbsZ: Double = 3.0,
      nearDupThreshold: Double = 0.5,
      sampleCap: Long = 1000L,
      packBudget: Int = 512,
      numShards: Int = 4,
      urlDedupCol: Option[String] = None,
      lineClean: Boolean = false,
      lineCleanMaxFrac: Double = 0.05,
      gopherQuality: Boolean = false,
      chunkDupMaxFrac: Option[Double] = None,
      reportCounts: Boolean = true)

  /** `afterUrlDedup` / `afterChunkDedup` report −1 when the stage is
    * off (or reportCounts is false), mirroring the other gated counts.
    */
  final case class Report(
      input: Long,
      afterUrlDedup: Long,
      afterLineClean: Long,
      afterQuality: Long,
      afterGopher: Long,
      afterExactDedup: Long,
      afterChunkDedup: Long,
      afterNearDup: Long,
      afterSample: Long,
      trainDocs: Long,
      valDocs: Long,
      testDocs: Long,
      batches: Long)

  /** Run the pipeline over a corpus with columns
    * (doc_id, text, lang, source, n_chars); writes
    * `outDir/clean` (the surviving corpus), `outDir/val`, `outDir/test`,
    * and `outDir/train` (range-partitioned shards with batch_id).
    */
  def run(docs: DataFrame, outDir: String, cfg: Config = Config()): Report = {
    // a library entry point, so the session contract is applied here:
    // tuned() pins ANSI off / UTC / AQE AND lets JaccardRewrite + the
    // graft_* registry apply — without it the near-dup verify join
    // would run the unrewritten three-array Jaccard composition on the
    // hottest path, and Spark 4's ANSI default would change cast
    // semantics
    graft.engine.GraftSession.tuned(docs.sparkSession)

    // -- stage 0 (optional): URL-canonical crawl dedup ------------------
    // One doc per canonical URL, min doc_id wins. Keep-one is a
    // survivor-id AGGREGATE + doc_id semi-join, not a window over the
    // canonical key: a URL refetched 10⁸ times map-side combines to
    // one (canon, min id) row per upstream partition, and the only
    // join key is the uniformly-distributed doc_id — the hot canonical
    // key never reaches a join or window (the r9 verdict's
    // scale-killer class). Rows whose URL is NULL or yields no
    // scheme://host BYPASS dedup unconditionally: canonicalUrl maps
    // every unparseable URL onto one degenerate key, so deduping them
    // would silently delete all but one such doc (the r9 ADVICE
    // data-loss footgun). Runs FIRST: a refetch costs nothing
    // downstream if it dies before redaction.
    val crawlDeduped = cfg.urlDedupCol match {
      case None => docs
      case Some(urlCol) =>
        val parseable = coalesce(WebOps.urlHost(col(urlCol)) =!= "", lit(false))
        val survivorIds = docs
          .where(parseable)
          .select(WebOps.canonicalUrl(col(urlCol)).as("__cu"), col("doc_id"))
          .groupBy(col("__cu"))
          .agg(min(col("doc_id")).as("doc_id"))
          .select(col("doc_id"))
        docs.where(!parseable).unionByName(
          docs.join(survivorIds.hint("merge"), Seq("doc_id"), "left_semi"))
    }

    // -- stages 1–2: redact + row-local and corpus-level quality gates --
    // n_chars is recomputed AFTER redaction: the gates, the weighted
    // sample, and every downstream consumer of the clean corpus must
    // score the text actually shipped, not the pre-redaction length
    // -- stage 1.5 (optional): RefinedWeb line-wise corrections --------
    // Runs on post-redaction text, BEFORE n_chars is recomputed and
    // before any gate: boilerplate lines are removed from surviving
    // docs (a column rewrite — row-local, zero shuffle, no join-back)
    // and mostly-boilerplate docs die, so every later stage scores and
    // fingerprints the text actually shipped.
    val redactedBase = crawlDeduped
      .withColumn("text", Cleaning.redactPii(col("text")))
    val lineCleaned =
      if (!cfg.lineClean) redactedBase
      else TextOps.refinedwebCleanApply(redactedBase, cfg.lineCleanMaxFrac)
    val redacted = lineCleaned
      .withColumn("n_chars", length(col("text")).cast("long"))
    val rowLocal = redacted.where(
      size(split(TextOps.normalizeText(col("text")), " ")) >= cfg.minTokens)
    // the per-language stats aggregation is the inherent second pass;
    // the |z| tail is usually small but data-dependent → no broadcast hint
    val quality = rowLocal
      .join(
        Cleaning.outlierFlags(rowLocal.select("doc_id", "lang", "n_chars"))
          .where(abs(col("z")) > cfg.maxAbsZ)
          .select(col("doc_id")), Seq("doc_id"), "left_anti")

    // -- stage 2.5 (optional): the published Gopher A1.1 batteries ----
    // Both run on the POST-REDACTION text (the shipped corpus is what
    // gets scored); each emits a per-doc verdict, applied as an
    // SMJ-pinned left-semi (both sides corpus-scale — never broadcast
    // the survivor list). When the batteries are ON, the gated corpus
    // is PERSISTED first: `quality`'s subtree (url dedup, redaction,
    // line cleaning, the outlier anti-join — itself a double scan)
    // fans out into the rules census, the repetition census (which
    // internally scans its input for lines, paragraphs, and grams),
    // and the semi-join probe; un-persisted, that prefix re-executed
    // ~8× and the all-stages demo measured 69 s where the stage sum
    // was ~25 s at sf0.01. Released in the finally below.
    val qualityShared =
      if (cfg.gopherQuality) quality.persist(StorageLevel.MEMORY_AND_DISK)
      else quality
    val gophered =
      if (!cfg.gopherQuality) quality
      else qualityShared
        .join(graft.functions.TextOps.gopherRulesOf(qualityShared)
          .where(col("pass")).select("doc_id")
          .hint("merge"), Seq("doc_id"), "left_semi")
        .join(graft.functions.TextOps.gopherRepetitionOf(qualityShared)
          .where(col("pass")).select("doc_id")
          .hint("merge"), Seq("doc_id"), "left_semi")

    // -- stage 3: exact dedup on the 128-bit content fingerprint (min id
    // wins). Keep-one is a survivor-id AGGREGATE + doc_id semi-join
    // (was a fingerprint-keyed window through r9, which never map-side
    // combines — a boilerplate doc duplicated 10⁸ times would funnel
    // every FULL-TEXT copy into one task). Now the fingerprint shuffle
    // carries only (16-byte fp, doc_id) with map-side combine; the
    // text itself is only ever shuffled on uniform doc_id. The
    // gate-chain subtree feeds both the survivor agg and the probe,
    // but its doc_id exchanges are identical in both branches, so
    // ReuseExchange computes the gates once. md5, not a 64-bit hash:
    // at multi-billion-doc scale 64-bit birthday collisions would
    // silently delete distinct docs; 128-bit keeps that probability
    // negligible.
    val exactSurvivors = gophered
      // unhex: shuffle the 16-byte BINARY md5, not the 32-char hex
      // string (q_doc_fingerprint keeps hex — its oracle compares the
      // rendered digest; this key is internal)
      .select(unhex(TextOps.fingerprint(col("text"))).as("__th"), col("doc_id"))
      .groupBy(col("__th"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val exact = gophered
      .join(exactSurvivors.hint("merge"), Seq("doc_id"), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)

    // stages 4-8 under try/finally: the persist above must not outlive
    // this call when a gate (e.g. the doc_id-uniqueness require) throws
    try {
    // -- stage 3.5 (optional): CDC chunk-grain dedup ---------------------
    // Kills the shifted/boilerplate copies exact dedup is blind to:
    // chunk the persisted corpus once (row-local codegen'd boundary
    // walk), assign each digest's first occurrence (min doc_id) as
    // owner via map-side-combined aggregates + an AQE-skew-split SMJ
    // join-back (see Multimodal.chunkDupStats — never a digest-keyed
    // window), then one map-side-combined per-doc agg of
    // not-first-seen bytes. A doc
    // whose duplicated fraction ≥ the threshold dies; the owner doc of
    // every chunk survives by construction (its own bytes are never
    // "duplicated"), so the stage is deterministic and never empties a
    // content class. Docs under the 4-byte chunking floor produce no
    // chunks and are kept (absent from the removal list).
    val chunkDeduped = cfg.chunkDupMaxFrac match {
      case None => exact
      case Some(maxFrac) =>
        val heavyDup = Multimodal.chunkDupStats(exact)
          .where(col("dup_frac") >= maxFrac)
          .select("doc_id")
        exact.join(heavyDup, Seq("doc_id"), "left_anti")
    }

    // -- stage 4: near-dup keep-one over the MinHash+LSH cluster graph --
    // pair generation re-scans the (persisted) corpus — inherent to
    // LSH, bounded by the bucketed candidate space, never N².
    val pairs = Dedup.minhashNearDupPairs(chunkDeduped, "text", "doc_id",
      threshold = cfg.nearDupThreshold, sorted = false)
    val removed = Dedup.connectedComponents(pairs.select("id1", "id2"))
      .where(col("id") =!= col("comp"))
      .select(col("id").as("doc_id"))
    val nearDeduped = chunkDeduped.join(removed, Seq("doc_id"), "left_anti")

    // -- stage 5: quality-weighted sample + materialize the clean corpus --
    val sampled = nearDeduped.where(TrainingPrep.weightedKeep(cfg.sampleCap))
    sampled.write.mode("overwrite").parquet(s"$outDir/clean")

    // id-uniqueness gate on the materialized corpus (one cheap agg over
    // cleaned data): a duplicated doc_id would fan out the pack join
    // below and silently corrupt the train shards
    val spark = docs.sparkSession
    val cleanRaw = spark.read.parquet(s"$outDir/clean")
    val idCheck = cleanRaw
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("d"))
      .head()
    require(idCheck.getLong(0) == idCheck.getLong(1),
      s"duplicate doc_id in corpus: ${idCheck.getLong(0)} rows, " +
        s"${idCheck.getLong(1)} distinct ids")

    // -- stages 6–8: split the materialized corpus, pack, shard ----------
    val clean = cleanRaw.withColumn("split", TrainingPrep.splitCol)
    clean.where(col("split") === "val").drop("split")
      .write.mode("overwrite").parquet(s"$outDir/val")
    clean.where(col("split") === "test").drop("split")
      .write.mode("overwrite").parquet(s"$outDir/test")

    val train = clean.where(col("split") === "train").drop("split")
    val packed = train.join(
      TrainingPrep.sequencePack(train, cfg.packBudget)
        .select("doc_id", "batch_id"), Seq("doc_id"))
    TrainingPrep.writeTrainingShards(packed, s"$outDir/train", cfg.numShards)

    val Seq(trainN, valN, testN) = Seq("train", "val", "test").map(s =>
      spark.read.parquet(s"$outDir/$s").count())
    val batches = spark.read.parquet(s"$outDir/train")
      .agg(countDistinct(col("batch_id"))).head().getLong(0)

    Report(
      input = if (cfg.reportCounts) docs.count() else -1L,
      afterUrlDedup =
        if (cfg.reportCounts && cfg.urlDedupCol.isDefined)
          crawlDeduped.count() else -1L,
      afterLineClean =
        if (cfg.reportCounts && cfg.lineClean) lineCleaned.count() else -1L,
      afterQuality = if (cfg.reportCounts) quality.count() else -1L,
      afterGopher =
        if (cfg.reportCounts && cfg.gopherQuality) gophered.count() else -1L,
      afterExactDedup = if (cfg.reportCounts) exact.count() else -1L,
      afterChunkDedup =
        if (cfg.reportCounts && cfg.chunkDupMaxFrac.isDefined)
          chunkDeduped.count() else -1L,
      afterNearDup = if (cfg.reportCounts) nearDeduped.count() else -1L,
      afterSample = idCheck.getLong(0),
      trainDocs = trainN, valDocs = valN, testDocs = testN,
      batches = batches)
    } finally {
      exact.unpersist()
      if (cfg.gopherQuality) qualityShared.unpersist()
    }
  }

  /** STREAMING ingest front-door for an existing corpus — the
    * composition the per-operator streaming twins show only in pieces:
    * documents arrive as parquet files in `streamDir`, pass a
    * WATERMARKED canonical-URL crawl dedup (state evicted beyond the
    * watermark, first arrival per canonical key wins —
    * [[graft.streaming.EventOps.streamingUrlDedup]]'s stage-0
    * geometry), and each micro-batch then runs the batch-side gates
    * against the FULL standing state — the corpus AND every
    * previously-ACCEPTED streamed doc: PII redaction, the row-local
    * min-token gate, exact dedup (within-batch keep-one + anti-join
    * against corpus ∪ accepted fingerprints), incremental near-dup
    * (the [[Dedup.incrementalNearDups]] batch×standing LSH — the
    * ingest batch probes the standing side, never standing×standing),
    * and a batch-SELF near-dup keep-one (LSH pairs within the batch,
    * bounded by batch size; the smaller doc_id survives, matching the
    * batch pipeline's min-id policy). Survivors land through
    * [[graft.streaming.EventOps.idempotentBatchWriter]]: each
    * micro-batch overwrites its own `batch_id=` partition, so
    * foreachBatch's at-least-once replays produce exactly-once output.
    *
    * Accepted-stream state is REBUILT from the writer's own output
    * every micro-batch (all `batch_id=` partitions EXCEPT the current
    * batch's own — a replayed batch must probe exactly the state its
    * first attempt saw, never its own partial write). No in-memory
    * accumulation: after a crash the next batch reads the identical
    * state from disk, so replay and restart are safe by construction.
    * The state is read with the writer's schema (corpus columns plus a
    * long `batch_id`), so no trigger pays a footer-inference job.
    *
    * Cost follows arrivals, not triggers: the watermarked stage makes
    * Spark run a no-data trigger each time the watermark moves (that
    * trigger evicts dedup state). Its micro-batch is empty, and the
    * body returns after one emptiness check, before it reads any state
    * or builds any plan. The arrived batch is persisted for the
    * trigger, so the stateful stage runs once for the check and the
    * gates together.
    *
    * Scope: the corpus-GLOBAL gates (per-language z-cut, the Gopher
    * batteries' corpus statistics, chunk-dedup ownership) are batch
    * compaction's job, not the ingest stream's — a per-micro-batch
    * z-score would gate each doc against its arrival cohort instead
    * of the corpus (the standard lambda split: stream applies
    * row-local + standing-state gates, periodic batch recomputes the
    * global ones).
    *
    * 100 TB shape: the watermarked dedup state holds one row per
    * canonical key inside the watermark horizon (bounded by crawl
    * recency, not corpus size); the corpus fingerprint set and the
    * corpus relation are read per micro-batch — both persisted here
    * (MEMORY_AND_DISK) because every micro-batch probes them; the
    * caller owns their release after stopping the query (stop() then
    * [[releaseIngestState]]). The accepted-delta re-read grows with
    * arrivals SINCE THE LAST COMPACTION, not with the corpus: the
    * lambda split's periodic batch job folds `outDir` into the
    * standing corpus and restarts the stream against the merged
    * corpus with a fresh output dir, which re-bounds the delta — the
    * stream alone must not run unboundedly or its per-batch state
    * probe grows linearly with stream history. Incremental near-dup
    * stays bounded by the BATCH's bucket footprint (see
    * incrementalNearDups); the batch-self pass is batch×batch over a
    * micro-batch.
    *
    * Returns the started query; the caller awaits/stops it.
    */
  def streamingIngest(corpus: DataFrame, streamDir: String, outDir: String,
      checkpointDir: String, cfg: Config = Config())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = corpus.sparkSession
    graft.engine.GraftSession.tuned(spark)
    val corpusShared = corpus.persist(StorageLevel.MEMORY_AND_DISK)
    val corpusFp = corpusShared
      .select(unhex(TextOps.fingerprint(col("text"))).as("__fp"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the corpus side of the incremental LSH probe (shingle sets +
    // band rows) is computed and persisted ONCE here: it is probed by
    // EVERY micro-batch, and re-hashing the whole standing corpus per
    // batch would dominate ingest wall-clock (the accepted-delta and
    // batch sides below stay per-batch — they change every trigger)
    val (corpusSets, corpusBands) = Dedup.lshSides(
      corpusShared.select(col("doc_id"), col("text")), "text", "doc_id")
    val corpusSetsP = corpusSets.persist(StorageLevel.MEMORY_AND_DISK)
    val corpusBandsP = corpusBands.persist(StorageLevel.MEMORY_AND_DISK)
    ingestState.put(outDir,
      Seq(corpusShared, corpusFp, corpusSetsP, corpusBandsP))
    // the idempotent writer's layout: the corpus columns plus a LONG
    // batch_id partition, which replaces any batch_id the corpus carries
    // (a corpus folded from an earlier stream's output does). Read with
    // it, the accepted state skips the per-trigger footer-inference job
    // (which would also type batch_id as int)
    val acceptedSchema = StructType(
      corpus.schema.filterNot(_.name == "batch_id")).add("batch_id", LongType)
    val raw = spark.readStream
      .schema(corpus.schema)
      .option("pathGlobFilter", "*.parquet")
      .parquet(streamDir)
    // stage 0 (optional, stateful): watermarked canonical-URL dedup.
    // Arrival time is derived deterministically from doc_id (the
    // fixture contract streamingUrlDedup pins); a real crawl supplies
    // its fetch timestamp here.
    val urlDeduped = cfg.urlDedupCol match {
      case None => raw
      case Some(urlCol) =>
        raw
          .withColumn("__canon", WebOps.canonicalUrl(col(urlCol)))
          .withColumn("__fetch_ts",
            timestamp_seconds(lit(1600000000L) + col("doc_id")))
          .withWatermark("__fetch_ts", "2 hours")
          .dropDuplicatesWithinWatermark("__canon")
          .drop("__canon", "__fetch_ts")
    }
    urlDeduped.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (arrived: DataFrame, batchId: Long) =>
        // persisted so the stateful URL-dedup subtree runs once per
        // trigger: the emptiness check and the body both read it
        val batch = arrived.persist(StorageLevel.MEMORY_AND_DISK)
        try {
          // a watermarked query runs a no-data trigger whenever the
          // watermark moves (it evicts the dedup state): that batch is
          // empty, so return before building any plan
          if (!batch.isEmpty) {
            // accepted-stream standing state, rebuilt from the idempotent
            // writer's own batch_id= partitions: everything already landed
            // EXCEPT this batch's own partition (an at-least-once replay
            // must probe the state its first attempt saw, never its own
            // partial write). First batch: outDir doesn't exist yet.
            val accepted: DataFrame =
              try spark.read.schema(acceptedSchema).parquet(outDir)
                .where(col("batch_id") =!= batchId)
                .select(col("doc_id"), col("text"))
              catch { case _: org.apache.spark.sql.AnalysisException =>
                corpus.select(col("doc_id"), col("text")).limit(0) }
            val redacted = batch
              .withColumn("text", Cleaning.redactPii(col("text")))
            val gated = redacted.where(
              size(split(TextOps.normalizeText(col("text")), " ")) >=
                cfg.minTokens)
            // exact dedup: keep-one within the batch (min doc_id per
            // fingerprint — an aggregate, never a content-keyed window),
            // then drop anything the corpus OR a prior accepted batch holds
            val stateFp = corpusFp.unionByName(accepted
              .select(unhex(TextOps.fingerprint(col("text"))).as("__fp")))
            val withFp = gated.withColumn("__fp",
              unhex(TextOps.fingerprint(col("text"))))
            val batchSurvivors = withFp
              .groupBy(col("__fp")).agg(min(col("doc_id")).as("doc_id"))
              .join(stateFp, Seq("__fp"), "left_anti")
              .select("doc_id")
            val exactNew = withFp.drop("__fp")
              .join(batchSurvivors, Seq("doc_id"), "left_semi")
            // incremental near-dup: batch probes the standing side
            // (corpus ∪ accepted stream) — never standing×standing. The
            // corpus sides come from the persisted one-time build above;
            // only the accepted delta and the batch re-hash per trigger.
            val (accSets, accBands) = Dedup.lshSides(accepted, "text", "doc_id")
            val flagged = Dedup.incrementalNearDupsFromSides(
              (corpusSetsP.unionByName(accSets),
                corpusBandsP.unionByName(accBands)),
              Dedup.lshSides(exactNew.select(col("doc_id"), col("text")),
                "text", "doc_id"),
              "doc_id", threshold = cfg.nearDupThreshold)
              .select(col("incoming_id").as("doc_id"))
            val survivors = exactNew.join(flagged, Seq("doc_id"), "left_anti")
              // feeds the self-pair LSH (sets + both verify sides) AND the
              // final anti-join — persist for the batch, released below
              .persist(StorageLevel.MEMORY_AND_DISK)
            try {
              // batch-SELF near-dup keep-one: pairs come id1 < id2, so
              // dropping every id2 keeps exactly the docs with no
              // smaller-id near-dup neighbor in the batch (min-id-wins,
              // the batch pipeline's survivor policy; bounded batch×batch)
              val selfDrop = Dedup.minhashNearDupPairs(
                survivors, "text", "doc_id",
                threshold = cfg.nearDupThreshold, sorted = false)
                .select(col("id2").as("doc_id")).distinct()
              val clean = survivors.join(selfDrop, Seq("doc_id"), "left_anti")
              graft.streaming.EventOps.idempotentBatchWriter(outDir)(clean, batchId)
            } finally survivors.unpersist()
          }
        } finally batch.unpersist()
      }
      .start()
  }

  // persisted corpus-side state per streamingIngest outDir, so the
  // caller can release it after stopping the query
  private val ingestState =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[DataFrame]]()

  /** Unpersist the corpus-side relations [[streamingIngest]] pinned for
    * the query writing to `outDir` (call after the query stops). */
  def releaseIngestState(outDir: String): Unit =
    Option(ingestState.remove(outDir))
      .foreach(_.foreach(df => try df.unpersist()
        catch { case _: Exception => () }))
}
