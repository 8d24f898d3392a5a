package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.engine.Shared
import graft.engine.Tables.load

/** Similarity search over an embedding column (`array<float>`),
  * north-star Tier B.
  *
  * Baseline: brute-force cosine top-k — one broadcast of the query
  * vector, one scan, TakeOrderedAndProject for the top-k (no global
  * sort). Scale path: sign-random-projection (SRP) LSH bucketing with a
  * PRECOMPUTED hyperplane table (a literal in the plan — zero per-row
  * hyperplane derivation) and Hamming-1 multiprobe. The plane count
  * scales with the corpus (≈ log2(n / targetBucket)), so bucket count
  * grows with N instead of being a fixed global constant — the round-1
  * design's flaw.
  *
  * All vector math runs in native codegen'd Catalyst expressions
  * (graft_cosine / graft_srp_bucket over plan-literal plane tables) —
  * no UDF, no driver collect of the big side.
  */
object Similarity {

  /** Cosine similarity of two array<float|double> columns via the native
    * codegen'd [[graft.functions.CosineExpr]] (strict left-to-right
    * accumulation — deterministic, same fold order as DuckDB list_sum).
    * The SQL-HOF formulation evaluates ~4·dim interpreted lambdas per
    * pair and dominated the blocked near-dup queries.
    */
  def cosine(a: String, b: String): Column = expr(s"graft_cosine($a, $b)")

  /** Brute-force cosine top-k vs one query vector (broadcast, no shuffle
    * of the big side; top-k via TakeOrderedAndProject).
    */
  def bruteForceTopK(emb: DataFrame, queryVecId: Long, k: Int): DataFrame = {
    val qv = emb.where(col("vec_id") === queryVecId)
      .select(col("embedding").as("qv"))
    emb.crossJoin(broadcast(qv))
      .select(col("vec_id"), col("label"), cosine("embedding", "qv").as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Deterministic pseudo-random hyperplanes: numPlanes × dim components
    * in [-1, 1), derived from a splitmix64 stream of a fixed seed —
    * reproducible across runs, computed ONCE on the driver and shipped
    * as a plan literal (vs the round-1 design that re-derived plane
    * components per row × plane × dim).
    */
  def planeTable(numPlanes: Int, dim: Int, seed: Long = 0x9747b28cL): Seq[Seq[Double]] = {
    var x = seed
    def next(): Double = {
      // splitmix64 step (public-domain PRNG mix)
      x += 0x9e3779b97f4a7c15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      (z >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }
    Seq.fill(numPlanes)(Seq.fill(dim)(next()))
  }

  /** Plane count for a corpus of n vectors: enough planes that the mean
    * bucket holds ~targetBucket vectors, min 4. At 100 TB (n=1e9,
    * target=256) this is ~22 planes / 4M buckets — bucket count scales
    * WITH the data instead of being fixed.
    */
  def planesFor(n: Long, targetBucket: Int = 256): Int =
    math.max(4, math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2)).toInt)

  /** Attach the SRP bucket column: bit p of bucket = sign of
    * dot(embedding, plane_p), against a plan-literal plane table,
    * computed by the native codegen'd [[graft.functions.SrpBucketExpr]].
    */
  def withSrpBucket(emb: DataFrame, planes: Seq[Seq[Double]]): DataFrame =
    emb
      .withColumn("__graft_planes", typedlit(planes))
      .withColumn("bucket", expr("graft_srp_bucket(embedding, __graft_planes)"))
      .drop("__graft_planes")

  /** LSH-bucketed ANN top-k with Hamming-≤`probeRadius` multiprobe: scan
    * only the buckets whose id differs from the query's bucket in at
    * most `probeRadius` plane bits (the standard recall/latency knob for
    * SRP), then rank exactly. The probe list is tiny — 1 + p + p(p−1)/2
    * rows at radius 2, +p(p−1)(p−2)/6 at radius 3 — and broadcast; at
    * the 100 TB plane count (p≈22, 4M buckets) radius-3 probing still
    * touches only ~1.8k of 4M buckets. On this fixture (near-orthogonal
    * neighbors — SRP's hard case) measured recall@10 is 0.4–0.7 at
    * radius 1, 0.5–0.9 at radius 2, 1.0 at radius 3 across all SFs.
    */
  def lshTopK(emb: DataFrame, queryVecId: Long, k: Int,
      numPlanes: Option[Int] = None, probeRadius: Int = 2): DataFrame = {
    // fail fast — before the count()/head() jobs below do real work
    require(probeRadius >= 0 && probeRadius <= 3,
      s"probeRadius $probeRadius unsupported: masks are enumerated explicitly up to 3")
    // ONE setup job, not two: count (for the plane heuristic) and dim
    // ride the same aggregation scan; with explicit numPlanes only the
    // cheap 1-row dim probe runs
    val (p, dim) = numPlanes match {
      case Some(np) =>
        (np, emb.select(size(col("embedding"))).head().getInt(0))
      case None =>
        val r = emb.agg(count(lit(1)), max(size(col("embedding")))).head()
        (planesFor(r.getLong(0)), r.getInt(1))
    }
    val bucketed = withSrpBucket(emb, planeTable(p, dim))
    val masks: Seq[Int] = Seq(0) ++
      (if (probeRadius >= 1) (0 until p).map(1 << _) else Seq.empty) ++
      (if (probeRadius >= 2)
        for (i <- 0 until p; j <- (i + 1) until p) yield (1 << i) | (1 << j)
      else Seq.empty) ++
      (if (probeRadius >= 3)
        for (i <- 0 until p; j <- (i + 1) until p; l <- (j + 1) until p)
          yield (1 << i) | (1 << j) | (1 << l)
      else Seq.empty)
    val probes = bucketed.where(col("vec_id") === queryVecId)
      .select(col("embedding").as("qv"),
        explode(array(masks.map(m =>
          col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket"))
    bucketed.join(broadcast(probes), Seq("bucket"))
      .select(col("vec_id"), col("label"),
        cosine("embedding", "qv").as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Embedding-cosine near-dup pairs: SRP-blocked with Hamming-1
    * multiprobe (pair compared iff buckets are ≤1 bit apart), exact
    * cosine ≥ threshold inside blocks — never N×N. Multiprobe on the
    * pair side = join right side on each of its probe buckets; the
    * `id1 < id2` guard then the final `.distinct()` dedups pairs that
    * met through more than one probe bucket (equal-bucket pairs meet
    * once per shared probe, 1-bit-apart pairs meet twice).
    */
  def nearDupPairs(emb: DataFrame, threshold: Double,
      numPlanes: Option[Int] = None,
      cacheBuckets: Boolean = false): DataFrame = {
    // ONE setup job, not two: count (for the plane heuristic) and dim
    // ride the same aggregation scan; with explicit numPlanes only the
    // cheap 1-row dim probe runs
    val (p, dim) = numPlanes match {
      case Some(np) =>
        (np, emb.select(size(col("embedding"))).head().getInt(0))
      case None =>
        val r = emb.agg(count(lit(1)), max(size(col("embedding")))).head()
        (planesFor(r.getLong(0)), r.getInt(1))
    }
    // the SRP-hashed relation feeds BOTH join sides. cacheBuckets can
    // persist it for callers with expensive vectors, but the registered
    // query leaves it OFF by measurement: at sf1 (20k × 64-dim) the A/B
    // was 5.9 s uncached vs 6.0 s cached — the p-plane dot products are
    // cheap next to the multiprobe join + distinct, so the persist only
    // added a materialization (the tfidf/ReuseExchange lesson again).
    val bucketed = graft.ext.Dedup.maybePersist(
      withSrpBucket(emb, planeTable(p, dim))
        .select(col("bucket"), col("vec_id"), col("embedding")),
      cacheBuckets)
    val l = bucketed.select(col("bucket"), col("vec_id").as("id1"), col("embedding").as("e1"))
    // right side explodes to its probe buckets (own + Hamming-1); join on
    // l.bucket == probe finds every pair whose buckets differ by <= 1 bit
    val r = bucketed
      .select(col("vec_id").as("id2"), col("embedding").as("e2"),
        explode(array((col("bucket") +: (0 until p).map(i =>
          col("bucket").bitwiseXOR(lit(1 << i)))): _*)).as("bucket"))
    l.join(r, Seq("bucket"))
      .where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), cosine("e1", "e2").as("cos_sim"))
      .where(col("cos_sim") >= threshold)
      .distinct()
      .orderBy("id1", "id2")
  }

  // ---- IVF (inverted-file) ANN -----------------------------------------

  /** Deterministic centroid bootstrap: every ceil(n/k)-th vector by
    * vec_id — the init for [[kmeansCentroids]] (and a kmeans-free
    * fallback with the same IVF mechanics when kmeansIters = 0).
    */
  def sampleCentroids(emb: DataFrame, k: Int): Array[(Int, Seq[Double])] = {
    val n = emb.count()
    val stride = math.max(1L, n / k)
    emb.where(pmod(col("vec_id"), lit(stride)) === 0)
      .orderBy("vec_id").limit(k)
      .select(col("embedding")).collect()
      .zipWithIndex
      .map { case (r, i) =>
        i -> r.getSeq[Any](0).map {
          case f: Float => f.toDouble
          case d: Double => d
        }
      }
  }

  /** Lloyd's k-means refinement of the [[sampleCentroids]] bootstrap,
    * run entirely as DataFrame aggregations — no MLlib dependency, no
    * vector-type conversion. Each iteration: (1) assign every vector to
    * its nearest centroid via [[withIvfList]] (row-local argmax over a
    * plan-literal centroid table — one scan, no shuffle), (2) recompute
    * centroids as the per-list elementwise mean via posexplode +
    * groupBy(list, pos) — a shuffle of k·dim aggregate rows, collected
    * O(k·dim) to the driver. Deterministic: stride-sample init, fixed
    * iteration count. Lists that go empty keep their previous centroid.
    * At 100 TB each iteration is one scan + one tiny aggregate — the
    * standard scalable k-means shape (sampled Lloyd's would cut the
    * scan cost further; the mechanics are unchanged).
    */
  def kmeansCentroids(emb: DataFrame, k: Int, iters: Int = 3): Array[(Int, Seq[Double])] = {
    var centroids = sampleCentroids(emb, k)
    for (_ <- 0 until iters) {
      val means = withIvfList(emb, centroids)
        .select(col("ivf_list"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("ivf_list", "pos")
        .agg(avg(col("v").cast("double")).as("m"))
        .collect()
      val byList = means.groupBy(_.getInt(0))
      centroids = centroids.map { case (i, old) =>
        byList.get(i) match {
          // round to 1e-9: a distributed avg() sums doubles in
          // shuffle-dependent order, so raw means can wobble in the last
          // ulp between runs; rounding pins the centroid table (and with
          // it list assignment + probe ranking) run-to-run, which the
          // hash-equality oracle gate relies on
          case Some(rows) => i -> rows.sortBy(_.getInt(1))
            .map(r => math.rint(r.getDouble(2) * 1e9) / 1e9).toSeq
          case None       => i -> old
        }
      }
    }
    centroids
  }

  // Session-memoized k-means centroid table per (session, dir, k,
  // iters) — q_ann_ivf_topk and q_ann_ivfpq_topk train the IDENTICAL
  // coarse quantizer (16 lists × 3 Lloyd's iterations = 3 scan+collect
  // actions each) over the same embeddings table. The result is a
  // k·dim driver-side array (16×64 doubles), deterministic by
  // construction (stride-sample init, fixed iterations, 1e-9-rounded
  // means), so sharing it is value-invisible. Memoized as
  // graft.engine.Shared `ivf.centroids/k/iters`; plain data, nothing to
  // unpersist.
  private[graft] def sharedKmeansCentroids(s: SparkSession, dir: String,
      k: Int, iters: Int): Array[(Int, Seq[Double])] =
    Shared(s"ivf.centroids/$k/$iters", s, dir) {
      kmeansCentroids(load(s, dir, "embeddings"), k, iters)
    }

  /** IVF list assignment: each vector goes to its nearest centroid (by
    * cosine against the broadcast centroid-table literal). `graft_srp_bucket`'s
    * sibling pattern: the argmax runs row-local over a plan literal, so
    * assignment is a single scan with no shuffle.
    */
  def withIvfList(emb: DataFrame, centroids: Array[(Int, Seq[Double])]): DataFrame = {
    val table = centroids.map(_._2.toSeq).toSeq
    emb
      .withColumn("__graft_centroids", typedlit(table))
      // materialize the k cosines ONCE, then argmax over the array — the
      // CASE-in-aggregate formulation evaluated each cosine twice
      .withColumn("__sims", expr(
        "transform(__graft_centroids, c -> graft_cosine(embedding, c))"))
      .withColumn("ivf_list", expr(
        s"""aggregate(sequence(0, ${table.size - 1}),
           |          named_struct('best', -1, 'bestSim', CAST(-2 AS DOUBLE)),
           |          (acc, c) -> CASE
           |            WHEN element_at(__sims, c + 1) > acc.bestSim
           |            THEN named_struct('best', c, 'bestSim', element_at(__sims, c + 1))
           |            ELSE acc END).best""".stripMargin))
      .drop("__graft_centroids", "__sims")
  }

  /** IVF ANN top-k: probe the `nProbe` lists whose centroids are nearest
    * the query vector, exact-rank inside them. At 100 TB: assignment is
    * one scan; the probe filter prunes the search to nProbe/k of the
    * corpus; per-list data can be written `partitionBy(ivf_list)` so a
    * probe is a partition-pruned read.
    */
  def ivfTopK(emb: DataFrame, queryVecId: Long, k: Int,
      numLists: Int = 16, nProbe: Int = 4, kmeansIters: Int = 3,
      sharedCentroids: Option[Array[(Int, Seq[Double])]] = None): DataFrame = {
    val centroids = sharedCentroids.getOrElse(
      if (kmeansIters > 0) kmeansCentroids(emb, numLists, kmeansIters)
      else sampleCentroids(emb, numLists))
    val assigned = withIvfList(emb, centroids)
    val qVec = emb.where(col("vec_id") === queryVecId)
      .select(col("embedding")).head().getSeq[Any](0).map {
        case f: Float => f.toDouble
        case d: Double => d
      }
    def cos(c: Seq[Double]): Double = {
      val dot = c.zip(qVec).map { case (a, b) => a * b }.sum
      dot / (math.sqrt(c.map(x => x * x).sum) * math.sqrt(qVec.map(x => x * x).sum))
    }
    val probes = centroids.sortBy { case (_, c) => -cos(c) }.take(nProbe).map(_._1)
    // the query vector was already fetched (O(dim)) for probe selection —
    // reuse it as a plan literal instead of re-scanning the table for it
    val q = emb.sparkSession.range(1)
      .select(org.apache.spark.sql.functions.typedlit(qVec).as("qv"))
    assigned
      .where(col("ivf_list").isin(probes.toIndexedSeq: _*))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        cosine("embedding", "qv").as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  // ---- Product quantization (PQ) ANN -----------------------------------

  /** Per-subspace L2 Lloyd's codebook over the DRIVER-SIDE training
    * sample: argmin assignment matches [[withPqCode]] exactly (strict <,
    * first index wins ties), mean update per code, 1e-9 rounding for
    * cross-version determinism, empty codes keep their previous
    * centroid. `seedIdx` picks the initial centroids (sample positions,
    * chosen by [[pqAdcScores]] from the strided vec_ids).
    *
    * Driver-side ON PURPOSE: the sample is hard-bounded at
    * O(kSub·1000) rows whatever the corpus size (standard PQ practice —
    * Jégou et al. train codebooks on ~100k vectors for billion-scale
    * corpora), so Lloyd's m×iters assignment passes are a tight JVM
    * loop over ≤ a few MB instead of m×iters Spark jobs evaluating an
    * interpreted HOF argmin over the corpus — the round-5 shape spent
    * 24 full-table assignment scans in setup before any query ran.
    */
  def pqSubCodebook(sample: Array[Array[Double]], kSub: Int, iters: Int,
      seedIdx: Seq[Int]): Seq[Seq[Double]] = {
    var cb: Array[Array[Double]] = seedIdx.map(sample(_).clone).toArray
    val dim = if (sample.isEmpty) 0 else sample.head.length
    for (_ <- 0 until iters) {
      val sums = Array.fill(cb.length)(new Array[Double](dim))
      val counts = new Array[Long](cb.length)
      sample.foreach { v =>
        var best = -1
        var bestD2 = Double.PositiveInfinity
        var c = 0
        while (c < cb.length) {
          var d2 = 0.0
          var j = 0
          while (j < dim) { val t = v(j) - cb(c)(j); d2 += t * t; j += 1 }
          if (d2 < bestD2) { bestD2 = d2; best = c }
          c += 1
        }
        counts(best) += 1
        var j = 0
        while (j < dim) { sums(best)(j) += v(j); j += 1 }
      }
      cb = cb.zipWithIndex.map { case (old, i) =>
        if (counts(i) == 0L) old
        else sums(i).map(s => math.rint(s / counts(i) * 1e9) / 1e9)
      }
    }
    cb.map(_.toSeq).toSeq
  }

  /** PQ-ADC ANN top-k with exact re-rank (Jégou, Douze & Schmid 2011):
    * the 64-dim vectors compress to m=8 one-byte codes (32× memory/IO);
    * the query scores the whole corpus through a 4-lookup-per-row ADC
    * sum against a driver-precomputed m×kSub dot-product table (unit
    * vectors ⇒ dot ranking == cosine ranking), takes a shortlist of
    * `shortlist` candidates (TakeOrderedAndProject), and exact-ranks
    * only those with graft_cosine. Output == exact top-k whenever the
    * shortlist covers the true top-k — measured to hold with margin at
    * every fixture SF (spec + oracle pin it), which is what lets the
    * registered query share the brute-force oracle with LSH/IVF.
    *
    * 100 TB shape: codebook training runs on a DETERMINISTIC STRIDE
    * SAMPLE of O(kSub·1000) rows, persisted once — Lloyd's m×iters
    * assignment scans hit the in-memory sample, never the corpus (the
    * full-table passes are exactly: one count/dim aggregate, the sample
    * materialization, one encoding scan, and the re-rank join — O(1)
    * regardless of iters). Per-subspace collects stay O(kSub·subDim);
    * encoding is one row-local scan; the ADC scan reads 4 bytes/vector
    * instead of 256 (the actual PQ win at scale — the code table fits
    * where the float corpus cannot); the exact re-rank touches
    * `shortlist` rows (sublinear by default — see [[pqTopK]]).
    */
  /** ADC scoring stage shared by [[pqTopK]] and the recall tooling:
    * (vec_id, adc) for every corpus vector, plus the collected query
    * vector for downstream exact re-ranking.
    */
  def pqAdcScores(emb: DataFrame, queryVecId: Long,
      m: Int, kSub: Int, iters: Int): (DataFrame, Seq[Double], Long) = {
    // ONE setup job for corpus size + dim — per-subspace codebooks and
    // the shortlist heuristic reuse n instead of re-counting (was m+1
    // full-table count scans before any real work)
    val r0 = emb.agg(count(lit(1)), max(size(col("embedding")))).head()
    val (n, dim) = (r0.getLong(0), r0.getInt(1))
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim = dim / m
    // deterministic training sample: every sampleStride-th vec_id,
    // targeting kSub·1000 rows (at the fixture SFs n < target so the
    // sample IS the corpus), collected ONCE to the driver — a
    // hard-bounded O(kSub·1000)-row collect, not corpus-sized — so the
    // m per-subspace Lloyd's loops run in-JVM with zero further jobs.
    // Seed rows: every initStride-th vec_id, initStride a MULTIPLE of
    // sampleStride so ~kSub seeds exist among the sampled (near-dense)
    // ids — the same pmod discipline at every scale.
    val sampleTarget = kSub.toLong * 1000L
    val sampleStride = math.max(1L, n / sampleTarget)
    val sampleRows = (if (sampleStride == 1L) emb
      else emb.where(pmod(col("vec_id"), lit(sampleStride)) === 0))
      .select(col("vec_id"), col("embedding"))
      .orderBy("vec_id")
      .collect()
    val sampleIds = sampleRows.map(_.getLong(0))
    val sampleVecs = sampleRows.map(_.getSeq[Any](1).map {
      case f: Float => f.toDouble
      case d: Double => d
    }.toArray)
    val initStride = sampleStride * math.max(1L, sampleVecs.length.toLong / kSub)
    val seedIdx = sampleIds.zipWithIndex
      .collect { case (id, i) if id % initStride == 0L => i }
      .take(kSub).toSeq
    val codebooks = (0 until m).map { j =>
      pqSubCodebook(
        sampleVecs.map(v =>
          java.util.Arrays.copyOfRange(v, j * subDim, (j + 1) * subDim)),
        kSub, iters, seedIdx)
    }
    // encode: ONE codegen'd expression (graft_pq_encode) assigns all m
    // sub-codes in a tight JVM loop and packs them byte-per-subspace
    // into a single BIGINT — the 4-byte/row relation the ADC scan
    // reads. (The previous shape evaluated an interpreted HOF argmin
    // per subspace per row — the whole encode stage fell out of
    // whole-stage codegen and dominated the key's bench time.)
    val encoded = emb.withColumn("pqcode",
      call_function("graft_pq_encode", col("embedding"),
        typedlit(codebooks)))
    val qVec = emb.where(col("vec_id") === queryVecId)
      .select(col("embedding")).head().getSeq[Any](0).map {
        case f: Float => f.toDouble
        case d: Double => d
      }.toSeq
    // ADC lookup table: dot(q_j, codebook_j[i]) — m×kSub doubles
    val lut: Seq[Seq[Double]] = (0 until m).map { j =>
      val qj = qVec.slice(j * subDim, (j + 1) * subDim)
      codebooks(j).map(c => c.zip(qj).map { case (a, b) => a * b }.sum)
    }
    val adc = (0 until m).map(j =>
      expr(s"element_at(__lut[$j], CAST(shiftright(pqcode, ${8 * j}) & 255 AS INT) + 1)"))
      .reduce(_ + _)
    (encoded
      .withColumn("__lut", typedlit(lut))
      .select(col("vec_id"), adc.as("adc")), qVec, n)
  }

  // Shortlist sizing is measured, not guessed: the fixture's vectors
  // are random near-orthogonal (the hard case for ANY quantizer — the
  // top-10/bulk similarity gap shrinks as n grows), and the worst ADC
  // rank of a true top-10 member measured 163/63/115/2133 at
  // n=500/500/2000/20000 (m=8 kSub=32). The default is
  // SUBLINEAR — max(250, 20·√n) — so the documented hazard of a
  // linear-fraction re-rank cannot ship by accident: 447/894/2828 at
  // n=500/2000/20000 covers every measured worst rank (1.3–7.8×
  // margin) while re-ranking 0.03% of a 10⁹-row corpus instead of 20%.
  // Real clustered embeddings need far smaller shortlists — pass one
  // explicitly.
  def pqTopK(emb: DataFrame, queryVecId: Long, k: Int,
      m: Int = 8, kSub: Int = 32, iters: Int = 3,
      shortlist: Option[Int] = None): DataFrame = {
    val (scores, qVec, n) = pqAdcScores(emb, queryVecId, m, kSub, iters)
    val s = shortlist.getOrElse(
      math.max(250, (20.0 * math.sqrt(n.toDouble)).toInt))
    val short = scores
      .orderBy(col("adc").desc, col("vec_id"))
      .limit(s)
    val q = emb.sparkSession.range(1).select(typedlit(qVec).as("qv"))
    emb.join(broadcast(short.select("vec_id")), "vec_id")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"), cosine("embedding", "qv").as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** IVF-PQ composed ANN (Jégou, Douze & Schmid 2011 §V: the IVFADC
    * system) — the billion-scale index layout: the IVF coarse
    * quantizer prunes the search to the nProbe nearest lists, and
    * WITHIN the probed lists the PQ-ADC scan ranks 8-byte codes
    * instead of raw vectors, with an exact cosine re-rank on the
    * shortlist. This implementation scores codes over the ORIGINAL
    * vectors (IVF-Flat-PQ), not Jégou's per-list residuals — one
    * shared codebook instead of numLists of them; the composition's
    * recall at the fixture SFs is pinned by the exact-top-k oracle
    * exactly like the LSH/IVF/PQ singles.
    *
    * 100 TB shape: both stages' 100 TB arguments compose — assignment
    * and encoding are single row-local scans, probing prunes to
    * nProbe/numLists of the corpus BEFORE the ADC scan reads its
    * 8 bytes/row, the PQ sample/codebooks stay O(kSub·1000) driver-side,
    * and the only corpus-sized shuffle is the shortlist
    * TakeOrderedAndProject over the probed fraction.
    */
  def ivfPqTopK(emb: DataFrame, queryVecId: Long, k: Int,
      numLists: Int = 16, nProbe: Int = 8, kmeansIters: Int = 3,
      m: Int = 8, kSub: Int = 32, pqIters: Int = 3,
      shortlist: Option[Int] = None,
      sharedCentroids: Option[Array[(Int, Seq[Double])]] = None): DataFrame = {
    val centroids = sharedCentroids.getOrElse(
      kmeansCentroids(emb, numLists, kmeansIters))
    val assigned = withIvfList(emb, centroids)
    val qVec = emb.where(col("vec_id") === queryVecId)
      .select(col("embedding")).head().getSeq[Any](0).map {
        case f: Float => f.toDouble
        case d: Double => d
      }
    def cos(c: Seq[Double]): Double = {
      val dot = c.zip(qVec).map { case (a, b) => a * b }.sum
      dot / (math.sqrt(c.map(x => x * x).sum) *
        math.sqrt(qVec.map(x => x * x).sum))
    }
    val probes = centroids.sortBy { case (_, c) => -cos(c) }
      .take(nProbe).map(_._1)
    val probed = assigned
      .where(col("ivf_list").isin(probes.toIndexedSeq: _*))
      .drop("ivf_list")
    // the query's own list is its nearest centroid — always probed, so
    // pqTopK's query-vector fetch inside the probed subset succeeds
    pqTopK(probed, queryVecId, k, m, kSub, pqIters, shortlist)
  }

  /** Hard-negative mining for contrastive training: for each anchor
    * vector, the most-cosine-similar vector carrying a DIFFERENT label
    * — the pair a triplet/InfoNCE loss learns the most from. Anchors
    * are a deterministic stride sample (`vec_id % stride == 0`), the
    * caller's stand-in for "the batch currently being mined".
    *
    * 100 TB shape: the anchor set broadcasts (mining batches are
    * thousands of rows against a corpus of billions); the corpus scan
    * never shuffles — each task scores its partition against every
    * broadcast anchor through the codegen'd [[cosine]] loop and
    * partial `max_by` reduces it to ≤ |anchors| rows before one tiny
    * exchange (the [[graft.ext.MiningOps.fuzzyBestMatch]] geometry on
    * vectors). Ties break to the lowest negative id. A production
    * miner drops the label-inequality predicate into the same scan —
    * no second pass — and swaps the stride sample for its batch
    * relation.
    */
  def hardNegatives(emb: DataFrame, stride: Long = 41L): DataFrame = {
    val anchors = emb.where(col("vec_id") % stride === 0L)
      .select(col("vec_id").as("a_id"), col("label").as("a_label"),
        col("embedding").as("a_vec"))
    emb.join(broadcast(anchors), col("label") =!= col("a_label"))
      .select(col("a_id"), col("a_label"), col("vec_id"), col("label"),
        cosine("embedding", "a_vec").as("cos_sim"))
      .groupBy("a_id", "a_label")
      .agg(max_by(
        struct(col("vec_id"), col("label"), col("cos_sim")),
        struct(col("cos_sim"), (-col("vec_id")).as("nid"))).as("best"))
      .select(col("a_id"), col("a_label"),
        col("best.vec_id").as("neg_id"), col("best.label").as("neg_label"),
        col("best.cos_sim").as("cos_sim"))
      .orderBy("a_id")
  }

  // ---- registered queries ----------------------------------------------

  def cosineTopkQuery(s: SparkSession, dir: String): DataFrame =
    bruteForceTopK(load(s, dir, "embeddings"), queryVecId = 0L, k = 20)

  /** Probe radius 3: measured recall@10 = 1.0 at sf0.001/0.01/0.1
    * (radius 2 → 0.4–0.9 — this fixture's neighbors are near-orthogonal,
    * the hard case for SRP). At the 100 TB plane
    * count (p≈22) radius 3 still probes ~1.8k of 4M buckets.
    */
  def lshTopkQuery(s: SparkSession, dir: String): DataFrame =
    lshTopK(load(s, dir, "embeddings"), queryVecId = 0L, k = 10, probeRadius = 3)

  /** nProbe 8 of 16 lists: the measured minimum for recall@10 = 1.0 with
    * k-means centroids across ALL fixture SFs (nProbe 6 → 0.9 at
    * sf0.001; nProbe 4 → 0.9 at sf0.01/0.1).
    * The fixture is a HARD case — its nearest neighbors sit at cosine
    * ≈ 0.3, so they scatter across lists; real near-dup workloads
    * cluster far tighter and probe fewer lists.
    */
  def ivfTopkQuery(s: SparkSession, dir: String): DataFrame =
    ivfTopK(load(s, dir, "embeddings"), queryVecId = 0L, k = 10, nProbe = 8,
      sharedCentroids = Some(sharedKmeansCentroids(s, dir, 16, 3)))

  /** Threshold 0.3: the synthetic embeddings are near-orthogonal random
    * vectors (max pairwise cosine ≈ 0.44 at sf0.01), so a classic 0.8+
    * near-dup threshold is vacuously empty on this data; 0.3 exercises
    * the same blocked pipeline with a non-empty result.
    */
  def nearDupQuery(s: SparkSession, dir: String): DataFrame =
    nearDupPairs(load(s, dir, "embeddings"), threshold = 0.3,
      cacheBuckets = false)

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): partition the embedding space into clusters,
    * then within each cluster flag every vector that has a
    * sufficiently-cosine-similar lower-id PREDECESSOR — kept or not.
    * This is the one-join predecessor-filter variant, deliberately NOT
    * the sequential greedy ε-ball scan: on a similarity chain
    * a–b–c (a∼b, b∼c, a≁c) greedy keeps {a, c} while this drops both
    * b and c — a conservative over-delete, the same bias every
    * pair-based near-dup stage here has, in exchange for staying a
    * single join + aggregate instead of an inherently iterative
    * per-cluster scan. The spec pins the chain behavior explicitly.
    * The cluster key here is the
    * fixture's `label` column standing in for the k-means assignment
    * (which [[ivfTopK]] demonstrates natively; a label key keeps this
    * oracle-expressible — DuckDB cannot re-run Lloyd's). Threshold 0.2
    * for the same reason [[nearDupQuery]] uses 0.3: the fixture's
    * vectors are near-orthogonal, so a production 0.9+ cut is
    * vacuously empty.
    *
    * 100 TB design: this is exactly why SemDeDup clusters first — the
    * pairwise stage is O(Σ cᵢ²) over cluster sizes cᵢ (k chosen so
    * cᵢ ≈ n/k), never corpus×corpus. But k is a PARAMETER, and a real
    * clustering is skewed (that is what clustering does), so "cᵢ ≈ n/k"
    * is not enforceable: a hot cluster would funnel O(c²) pairs through
    * one join key into one task. The skew cap: a cluster-size census
    * (one tiny aggregate + a 1-row max) splits the corpus. Clusters of
    * ≤ `maxCluster` members run the exact within-cluster pairwise join;
    * oversized clusters are SUB-BLOCKED by SRP bucket — the
    * [[nearDupPairs]] machinery — with the plane count sized so an
    * expected sub-block is ~`maxCluster` (pair volume per join key is
    * bounded by ~cap² however hot the cluster), and Hamming-1 multiprobe
    * so near-identical vectors one sign-bit apart still meet. Inside an
    * oversized cluster a pair whose buckets differ by ≥2 bits is
    * missed: the same documented recall trade as the LSH bucket cap,
    * and negligible at SemDeDup's production τ (≥0.9 ⇒ vectors agree on
    * almost every hyperplane sign). The fixture clusters never reach
    * the default cap, so the registered query stays oracle-exact; the
    * capped path is spec-pinned on a planted hot cluster.
    * Only integers are emitted; the single double compare (cos ≥ τ)
    * rides the deterministic-fold graft_cosine.
    */
  def semanticDedup(emb: DataFrame, tau: Double,
      maxCluster: Int = 10000): DataFrame = {
    val e = emb.select(col("vec_id"), col("label"), col("embedding"))
    // ONE setup job (the lshTopK discipline): the skew census and the
    // hot path's dim probe ride the same O(#clusters)→1-row aggregate,
    // so the under-cap fast path pays exactly one extra scan and the
    // hot path pays nothing further
    val sizes = e.groupBy("label").agg(
      count(lit(1)).as("cluster_n"),
      max(size(col("embedding"))).as("d"))
    val maxRow = sizes.agg(max(col("cluster_n")), max(col("d"))).head()
    val maxN = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)

    def pairCounts(part: DataFrame): DataFrame = {
      val prior = part.select(col("label").as("p_label"),
        col("vec_id").as("p_id"), col("embedding").as("p_emb"))
      part.join(prior,
          col("label") === col("p_label") && col("p_id") < col("vec_id"))
        .where(cosine("embedding", "p_emb") >= lit(tau))
        .groupBy("vec_id")
        .agg(count(lit(1)).as("n_prior_dups"))
    }

    val dupCounts =
      if (maxN <= maxCluster) pairCounts(e) // no hot cluster: exact plan
      else {
        // census rides the existing sizes aggregate (reused for the dim
        // probe), so the split uses Blocking.pruneGroups directly
        val oversized = sizes.where(col("cluster_n") > maxCluster)
          .select("label")
        val small = Blocking.pruneGroups(e, oversized, Seq("label"))
        val hot = e.join(broadcast(oversized), Seq("label"), "left_semi")
        // sub-block plane count: expected block ≈ maxCluster members of
        // the HOTTEST cluster, so no (label, bucket) key can funnel more
        // than ~cap² pairs in expectation
        val p = planesFor(maxN, targetBucket = maxCluster)
        val dim = maxRow.getInt(1) // collected with the census, job-free
        val hotB = withSrpBucket(hot, planeTable(p, dim))
        val hl = hotB.select(col("label"), col("bucket"),
          col("vec_id"), col("embedding"))
        val hr = hotB.select(col("label"), col("vec_id").as("p_id"),
          col("embedding").as("p_emb"),
          explode(array((col("bucket") +: (0 until p).map(i =>
            col("bucket").bitwiseXOR(lit(1 << i)))): _*)).as("bucket"))
        val hotPairs = hl.join(hr, Seq("label", "bucket"))
          .where(col("p_id") < col("vec_id"))
          .where(cosine("embedding", "p_emb") >= lit(tau))
          // multiprobe can meet a pair through more than one bucket
          .select("vec_id", "p_id").distinct()
        pairCounts(small).unionByName(
          hotPairs.groupBy("vec_id").agg(count(lit(1)).as("n_prior_dups")))
      }
    e.join(dupCounts, Seq("vec_id"), "left")
      .select(
        col("vec_id"), col("label"),
        coalesce(col("n_prior_dups"), lit(0L)).as("n_prior_dups"),
        (coalesce(col("n_prior_dups"), lit(0L)) > 0).cast("int").as("is_dup"))
      .orderBy("vec_id")
  }

  def semanticDedupQuery(s: SparkSession, dir: String): DataFrame =
    semanticDedup(load(s, dir, "embeddings"), tau = 0.2)

  /** SemDeDup composed with its REAL clustering stage (Abbas et al.
    * 2023 §2: k-means the embeddings, then dedup within clusters):
    * [[kmeansCentroids]] learns k centroids, [[withIvfList]] assigns
    * each vector to its nearest one (row-local argmax over the
    * broadcast centroid literal — one scan, no shuffle), and the list
    * id becomes the cluster key for [[semanticDedup]], skew cap
    * included. The registered `q_semantic_dedup` keeps the fixture
    * `label` key because the oracle engine cannot re-run Lloyd's; this
    * composition is the production entry point and is spec-pinned on
    * planted scale-duplicates (same direction ⇒ bit-identical cosine
    * to every centroid ⇒ same cluster, exactly).
    *
    * 100 TB shape: k·iters tiny driver collects for centroids, one
    * assignment scan, then the capped within-cluster stage — cluster
    * COUNT grows with the corpus (k ≈ n/targetCluster), which is what
    * keeps Σ cᵢ² linear in n at fixed cluster size. Note the dedup
    * stage's skew census rides the ASSIGNMENT relation, so the lazy
    * composition evaluates the row-local argmax twice (census job +
    * main query); at scale, materialize the assignment first —
    * `partitionBy(ivf_list)` per [[withIvfList]]'s note — and dedup
    * the written table.
    */
  def semanticDedupKmeans(emb: DataFrame, tau: Double, k: Int,
      kmeansIters: Int = 3, maxCluster: Int = 10000): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding"))
    val centroids = kmeansCentroids(e, k, kmeansIters)
    semanticDedup(
      withIvfList(e, centroids)
        .select(col("vec_id"), col("ivf_list").as("label"), col("embedding")),
      tau, maxCluster)
  }

  /** Planted-duplicate containment twin for the SRP-blocked near-dup
    * pipeline. Plants one scale-duplicate per base vector (2·e under new
    * id — same DIRECTION, so its SRP bucket is bit-identical: sign of
    * dot(2e, p) = sign of dot(e, p)), then runs the full blocked
    * pipeline at threshold 0.95. Structural guarantees the oracle can
    * brute-force: every planted pair MUST be emitted (equal buckets ⇒
    * always a candidate; cosine(e, 2e) = 1 exactly in IEEE doubles), and
    * nothing else may be (max non-planted cosine on this corpus ≈ 0.44).
    * Output == the exact O(n²) pair list — containment and recall, both
    * driver-gated. The base slice is capped at vec_id < 500 so the
    * oracle's O(n²) scan stays bounded at every SF.
    */
  def plantedNearDupTwin(s: SparkSession, dir: String): DataFrame = {
    val base = load(s, dir, "embeddings").where(col("vec_id") < 500)
      .select(col("vec_id"), col("embedding"))
    val planted = base.select(
      (col("vec_id") + 10000).as("vec_id"),
      expr("transform(embedding, x -> CAST(x * CAST(2.0 AS FLOAT) AS FLOAT))").as("embedding"))
    nearDupPairs(base.unionByName(planted), threshold = 0.95)
      .select("id1", "id2")
  }

  /** Scalar array-function sweep over the embedding column (size,
    * extrema, element access, norms) — outputs scalars only, since array
    * columns defeat the driver's canonicalization.
    */
  def arrayFuncsQuery(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "embeddings")
      .select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        expr("CAST(array_max(embedding) AS DOUBLE)").as("vmax"),
        expr("CAST(array_min(embedding) AS DOUBLE)").as("vmin"),
        expr("CAST(element_at(embedding, 1) AS DOUBLE)").as("first_v"),
        expr("CAST(element_at(embedding, -1) AS DOUBLE)").as("last_v"),
        expr("graft_cosine(embedding, embedding)").as("self_cos"))
      .orderBy("vec_id")

  /** Per-vector symmetric int8 quantization — the 4× memory/IO lever
    * for embedding storage and ANN at 100 TB (float32 → int8 plus one
    * double `scale` per vector; dequantize as `q · scale`). Row-local
    * single scan, zero shuffle. Rounding is `floor(x·127/absmax + 0.5)`
    * — pure IEEE-double arithmetic, identical on every engine, unlike
    * library `round()` whose half-away/half-even choice varies.
    * All-zero vectors quantize to zeros with scale 0 (no 0/0).
    */
  def quantize(emb: DataFrame): DataFrame =
    emb
      .withColumn("absmax",
        expr("CAST(array_max(transform(embedding, x -> abs(x))) AS DOUBLE)"))
      .withColumn("qvec",
        when(col("absmax") === 0d,
          expr("transform(embedding, x -> CAST(0 AS TINYINT))"))
          .otherwise(expr(
            "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0D / absmax + 0.5D) AS TINYINT))")))
      .select(col("vec_id"), (col("absmax") / lit(127.0d)).as("scale"),
        col("qvec"))

  /** Registered digest of [[quantize]]: array columns defeat the
    * driver's canonicalization, so the query pins the quantized vector
    * through order-sensitive integer digests (min/max/sum plus a
    * position-weighted sum — a permutation-detecting checksum) and the
    * exact double scale.
    */
  def quantizeEmbedQuery(s: SparkSession, dir: String): DataFrame =
    quantize(load(s, dir, "embeddings"))
      .select(
        col("vec_id"), col("scale"),
        expr("CAST(array_min(qvec) AS INT)").as("q_min"),
        expr("CAST(array_max(qvec) AS INT)").as("q_max"),
        expr("aggregate(qvec, 0L, (acc, x) -> acc + CAST(x AS BIGINT))")
          .as("q_sum"),
        expr("""aggregate(zip_with(qvec, sequence(1, size(qvec)),
                 (q, i) -> CAST(q AS BIGINT) * CAST(i AS BIGINT)),
                 0L, (acc, v) -> acc + v)""").as("q_possum"))
      .orderBy("vec_id")

  /** Per-label embedding centroids — the grouped VECTOR aggregate
    * (class prototypes / cluster centers). posexplode flattens to
    * (label, pos, v); the per-(label, pos) mean then reduces like any
    * scalar aggregate. Determinism: double addition is order-sensitive
    * and shuffle order is not stable, so each component's values are
    * collected WITH their vec_id, sorted, and folded left-to-right —
    * the same canonical-fold pairing the ANN oracles rely on (Spark
    * `aggregate` == DuckDB `list_sum` over a list built with ORDER BY).
    * The collect is bounded per (label, pos) group; production at
    * 100 TB would drop the determinism tax and sum directly.
    */
  def labelCentroids(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(
        count(lit(1)).as("n"),
        expr("sort_array(collect_list(struct(vec_id, v)))").as("xs"))
      .select(
        col("label"), col("pos"), col("n"),
        (expr("aggregate(xs, CAST(0 AS DOUBLE), (acc, x) -> acc + CAST(x.v AS DOUBLE))")
          / col("n").cast("double")).as("mean_v"))
      .orderBy("label", "pos")

  /** Brute-force exact cosine top-k in DuckDB — the oracle both ANN
    * variants must reproduce (same double fold as graft_cosine).
    */
  private def annOracleSql(k: Int): String =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |sims AS (
       |  SELECT vec_id, label,
       |    list_sum(list_transform(range(1, len(embedding) + 1),
       |             i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))) /
       |    (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
       |     sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos_sim
       |  FROM embeddings, q)
       |SELECT vec_id, label, cos_sim FROM sims ORDER BY cos_sim DESC, vec_id LIMIT $k""".stripMargin

  /** Distributed Gram (uncentered covariance) matrix of the embedding
    * column — the aggregation workhorse behind PCA / whitening /
    * low-rank compression of an embedding store: G[i][j] = Σ_rows
    * vᵢ·vⱼ. Components quantize ONCE to exact micro-unit BIGINTs
    * (deterministic floor of the float→double widening), upper-triangle
    * pairs generate ROW-LOCALLY (one nested-transform flatten + one
    * explode — no self-join, no shuffle before the aggregate), and the
    * d(d+1)/2-group aggregate sums DECIMAL(38,0) exactly (order-free
    * cross-engine; per-term ≤ (5·10⁵)² with corpus-count headroom far
    * past any BIGINT bound). The single shuffle moves map-side-combined
    * partials of at most d² rows per task — at 100 TB the exchange is
    * O(tasks·d²), independent of row count. Output doubles cast from
    * the same exact integers on both engines.
    */
  def embedGram(embeddings: DataFrame): DataFrame =
    embedGramCore(embeddings).orderBy("i", "j")

  /** [[embedGram]] without the presentation sort — shared by the
    * registered gram key (plus ORDER BY) and [[pcaProject]]'s driver
    * collect, so the session memo can hold ONE d²-bounded relation for
    * the pair.
    */
  private def embedGramCore(embeddings: DataFrame): DataFrame =
    embeddings
      .selectExpr(
        """transform(embedding,
          |  x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS LONG)) AS qv
          |""".stripMargin)
      .selectExpr(
        """explode(flatten(transform(sequence(0, size(qv) - 1),
          |  i -> transform(sequence(i, size(qv) - 1),
          |    j -> struct(i, j, qv[i] * qv[j] AS p))))) AS cell
          |""".stripMargin)
      .selectExpr("cell.i AS i", "cell.j AS j",
        "CAST(cell.p AS DECIMAL(38,0)) AS p")
      .groupBy("i", "j")
      .agg(sum(col("p")).as("g"))
      .selectExpr("i", "j", "CAST(g AS DOUBLE) AS gram")

  // Session-memoized Gram matrix per (session, dir) — q_embed_gram and
  // q_pca_project both reduce the full embedding corpus to the SAME
  // d(d+1)/2-row relation (gram consumes it sorted, PCA collects it to
  // solve the d×d eigenproblem), yet each key re-ran the corpus-scale
  // explode+aggregate. The relation is d²-BOUNDED (d = 64 → 2080 rows
  // — never corpus-scale), so an eager localCheckpoint is the right
  // materialization (graft.engine.Shared `embed.gram`); same
  // first-runner attribution caveat as TimeSeries.sharedDailyRevenue.
  private[graft] def sharedEmbedGram(s: SparkSession, dir: String): DataFrame =
    Shared("embed.gram", s, dir) {
      embedGramCore(load(s, dir, "embeddings")).localCheckpoint()
    }

  /** Driver-side power iteration over a [[embedGram]]-shaped d×d matrix
    * (symmetric PSD): returns the dominant eigenvector (deterministic
    * fixed iteration count, first-nonzero-positive sign convention) —
    * the O(d²) post-processing step of a distributed PCA, where the
    * cluster produces the Gram matrix and the driver solves the tiny
    * eigenproblem (d=64 here; d² doubles, trivially driver-sized at any
    * corpus scale). Spec-pinned against a hand-solvable matrix.
    */
  def pcaPowerIteration(g: Array[Array[Double]], iters: Int = 50): Array[Double] = {
    val d = g.length
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    var it = 0
    while (it < iters) {
      val nv = Array.tabulate(d) { i =>
        var s = 0.0; var j = 0
        while (j < d) { s += g(i)(j) * v(j); j += 1 }
        s
      }
      val norm = math.sqrt(nv.map(x => x * x).sum)
      v = if (norm == 0.0) v else nv.map(_ / norm)
      it += 1
    }
    val sign = v.find(math.abs(_) > 1e-12).map(x => math.signum(x)).getOrElse(1.0)
    v.map(_ * sign)
  }

  /** Distributed PCA, end to end: the cluster reduces the corpus to the
    * [[embedGram]] d×d matrix (one aggregate), the driver solves the
    * O(d²) eigenproblem ([[pcaPowerIteration]] — deterministic fixed
    * iteration, sign-normalized), and the dominant component projects
    * back over the corpus as a broadcast-literal dot product (zip_with
    * + aggregate fold — row-local, fixed fold order, zero shuffles
    * beyond the Gram's own). Scores are in micro-unit × eigvec scale;
    * scale cancels in any downstream rank/threshold use.
    *
    * No SQL oracle (power iteration isn't expressible in DuckDB) →
    * rows-only key, pinned by [[embedGram]]'s oracle-green twin plus
    * the AnalyticsOpsSpec variance-dominance and determinism pins.
    */
  def pcaProject(embeddings: DataFrame,
      sharedGram: Option[DataFrame] = None): DataFrame = {
    // the collect consumes the UNSORTED gram relation (cells are
    // written into g by their own (i, j)) — order never mattered here
    val cells = sharedGram.getOrElse(embedGramCore(embeddings)).collect()
    val d = cells.map(_.getAs[Int]("j")).max + 1
    val g = Array.ofDim[Double](d, d)
    cells.foreach { r =>
      val (i, j, v) = (r.getAs[Int]("i"), r.getAs[Int]("j"), r.getAs[Double]("gram"))
      g(i)(j) = v; g(j)(i) = v
    }
    val v1 = pcaPowerIteration(g)
    embeddings
      .selectExpr("vec_id", "label",
        """transform(embedding,
          |  x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS LONG)) AS qv
          |""".stripMargin)
      .withColumn("pcvec", typedlit(v1.toSeq))
      .withColumn("pc1", expr(
        "aggregate(zip_with(qv, pcvec, (a, b) -> CAST(a AS DOUBLE) * b), " +
          "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"))
      .select(col("vec_id"), col("label"), col("pc1"))
      .orderBy("vec_id")
  }

  /** Embedding-corpus health profile: the distribution of pairwise
    * cosines over a deterministic offset pairing (vector i against
    * vector i + n/2), bucketed at 0.1 grain — the collapse/anisotropy
    * diagnostic (a healthy embedding space spreads the mass; cosines
    * piling at ~1 mean the encoder collapsed). The pairing is one
    * equi-join on a shifted id (n/2 rides a broadcast 1-row), so the
    * profile costs one pass and n/2 native-cosine evaluations — never
    * the O(n²) all-pairs matrix. Zero-norm vectors (NaN cosine) are
    * excluded on both engines.
    *
    * PRECONDITION the output makes self-checking: the id-shift pairing
    * only reaches full coverage when vec_ids are DENSE (0..n−1, as the
    * embedding store writes them). On a sparse/non-contiguous id space
    * the equi-join silently matches fewer pairs — so every bucket row
    * carries `pair_coverage` = matched pairs / ⌊n/2⌋; a diagnostic read
    * off a collapsed sample announces itself instead of masquerading as
    * a full profile. (A rank-based pairing would be id-robust but costs
    * a global row_number — a single-reducer sort at corpus scale — for
    * a health check that doesn't need it.)
    */
  def cosineProfile(embeddings: DataFrame): DataFrame = {
    val off = embeddings.agg((count(lit(1)) / 2).cast("long").as("off"))
    val left = embeddings
      .select(col("vec_id"), col("embedding").as("v1"))
      .crossJoin(broadcast(off))
      .select((col("vec_id") + col("off")).as("pair_id"), col("v1"),
        col("off"))
    val right = embeddings
      .select(col("vec_id").as("pair_id"), col("embedding").as("v2"))
    val cos = left.join(right, "pair_id")
      .select(expr("graft_cosine(v1, v2)").as("cos"), col("off"))
      .where(!isnan(col("cos")))
    val total = cos.agg(count(lit(1)).as("total"),
      max(col("off")).as("half_n"))
    cos.select(floor(col("cos") * 10).cast("long").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(total))
      .select(col("bucket"), col("n_pairs"),
        (col("n_pairs").cast("double") / col("total").cast("double"))
          .as("share"),
        (col("total").cast("double") / col("half_n").cast("double"))
          .as("pair_coverage"))
      .orderBy("bucket")
  }

  /** Label-balance report for a training corpus: class counts reduce
    * to the Herfindahl concentration Σpᵢ² and its inverse, the
    * EFFECTIVE number of classes (Simpson/inverse-HHI diversity:
    * (Σc)²/Σc²) — the imbalance diagnostic that, unlike entropy,
    * needs no logarithm, so it stays one IEEE division of exact
    * integer sums. A perfectly balanced k-class set scores exactly k;
    * collapse toward one class drives it to 1.
    */
  def classBalance(embeddings: DataFrame): DataFrame = {
    val counts = embeddings.groupBy("label").agg(count(lit(1)).as("c"))
    counts.agg(sum(col("c")).as("n"),
        count(lit(1)).as("n_classes"),
        max(col("c")).as("max_class"),
        // DECIMAL(38,0): one dominant class puts c² past 2⁶³ at
        // ~3×10⁹ rows; the oracle's HUGEINT sum was always exact.
        sum(col("c").cast("decimal(38,0)") * col("c")).as("s2"))
      .select(col("n"), col("n_classes"), col("max_class"),
        (col("s2").cast("double") /
          (col("n").cast("double") * col("n").cast("double"))).as("hhi"),
        ((col("n").cast("double") * col("n").cast("double")) /
          col("s2").cast("double")).as("effective_classes"),
        (col("max_class").cast("double") / col("n").cast("double"))
          .as("majority_share"))
  }

  /** Per-label embedding-norm QC: mean and population std of the L2
    * norms — the drift signal that catches encoder regressions (norms
    * shifting or spreading per class) before retrieval quality
    * visibly degrades. Norm doubles are cross-engine-identical (the
    * strict left-fold Σx² then one IEEE sqrt), so micro-quantizing
    * them makes the per-label moments exact integer sums; std comes
    * from the shared clamped-variance formula.
    */
  def normReport(embeddings: DataFrame): DataFrame = {
    val normU = floor(
      sqrt(expr(
        "aggregate(embedding, CAST(0.0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"))
        * 1000000 + 0.5).cast("long")
    val mean = col("s1").cast("double") / col("n").cast("double")
    val varp = greatest(
      col("s2").cast("double") / col("n").cast("double") - mean * mean,
      lit(0.0))
    embeddings
      .select(col("label"), normU.as("u"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"), sum("u").as("s1"),
        sum(col("u").cast(org.apache.spark.sql.types.DecimalType(38, 0)) * col("u").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .as("s2"))
      .select(col("label"), col("n"),
        (mean / 1e6).as("mean_norm"),
        (sqrt(varp) / 1e6).as("std_norm"))
      .orderBy("label")
  }

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q_norm_report",
      "per-label embedding L2-norm mean/std (encoder-drift QC, micro-quantized exact moments)",
      (s, dir) => normReport(load(s, dir, "embeddings")),
      Some(
        """WITH u AS (
          |  SELECT label,
          |         CAST(floor(sqrt(list_sum(list_transform(embedding,
          |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * 1000000 + 0.5) AS BIGINT) AS u
          |  FROM embeddings),
          |m AS (SELECT label, count(*) AS n, CAST(sum(u) AS BIGINT) AS s1,
          |             sum(CAST(u AS HUGEINT) * CAST(u AS HUGEINT)) AS s2
          |      FROM u GROUP BY 1)
          |SELECT label, n,
          |       (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) / 1e6 AS mean_norm,
          |       sqrt(greatest(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) -
          |              (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) *
          |              (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)), 0.0)) / 1e6 AS std_norm
          |FROM m ORDER BY label""".stripMargin)),
    GraftQuery("q_class_balance",
      "label-balance report: Herfindahl concentration + effective class count (log-free exact diversity)",
      (s, dir) => classBalance(load(s, dir, "embeddings")),
      Some(
        """WITH c AS (SELECT label, count(*) AS c FROM embeddings GROUP BY 1),
          |a AS (SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS n_classes,
          |             CAST(max(c) AS BIGINT) AS max_class,
          |             CAST(sum(c * c) AS BIGINT) AS s2
          |      FROM c)
          |SELECT n, n_classes, max_class,
          |       CAST(s2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS hhi,
          |       (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / CAST(s2 AS DOUBLE) AS effective_classes,
          |       CAST(max_class AS DOUBLE) / CAST(n AS DOUBLE) AS majority_share
          |FROM a ORDER BY n""".stripMargin)),
    GraftQuery("q_cosine_profile",
      "embedding-space health: pairwise-cosine histogram over the deterministic n/2-offset pairing (collapse diagnostic)",
      (s, dir) => cosineProfile(load(s, dir, "embeddings")),
      Some(
        """WITH off AS (SELECT CAST(count(*) // 2 AS BIGINT) AS off FROM embeddings),
          |l AS (SELECT vec_id + off AS pair_id, embedding AS v1 FROM embeddings, off),
          |r AS (SELECT vec_id AS pair_id, embedding AS v2 FROM embeddings),
          |c AS (
          |  SELECT list_sum(list_transform(range(1, len(v1) + 1),
          |           i -> CAST(v1[i] AS DOUBLE) * CAST(v2[i] AS DOUBLE))) /
          |         (sqrt(list_sum(list_transform(v1, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
          |          sqrt(list_sum(list_transform(v2, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
          |  FROM l JOIN r USING (pair_id)),
          |cc AS (SELECT cos FROM c WHERE NOT isnan(cos)),
          |tot AS (SELECT count(*) AS total FROM cc)
          |SELECT CAST(floor(cos * 10) AS BIGINT) AS bucket, count(*) AS n_pairs,
          |       CAST(count(*) AS DOUBLE) / CAST(any_value(total) AS DOUBLE) AS share,
          |       CAST(any_value(total) AS DOUBLE) / CAST(any_value(off.off) AS DOUBLE) AS pair_coverage
          |FROM cc, tot, off GROUP BY 1 ORDER BY bucket""".stripMargin)),
    GraftQuery("q_pca_project",
      "distributed PCA: Gram-matrix reduce + driver power iteration + broadcast dominant-component projection",
      (s, dir) => pcaProject(load(s, dir, "embeddings"),
        sharedGram = Some(sharedEmbedGram(s, dir))),
      None),
    GraftQuery("q_embed_gram",
      "distributed Gram matrix of the embedding store: row-local pair fan-out + exact DECIMAL(38,0) micro-unit sums",
      (s, dir) => sharedEmbedGram(s, dir).orderBy("i", "j"),
      Some(
        """WITH q AS (
          |  SELECT vec_id,
          |         list_transform(embedding,
          |           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv
          |  FROM embeddings),
          |e AS (SELECT vec_id, CAST(t.i AS INT) - 1 AS idx, qv[CAST(t.i AS INT)] AS qval
          |      FROM q, unnest(range(1, len(qv) + 1)) AS t(i))
          |SELECT a.idx AS i, b.idx AS j,
          |       CAST(sum(CAST(a.qval AS HUGEINT) * b.qval) AS DOUBLE) AS gram
          |FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.idx <= b.idx
          |GROUP BY a.idx, b.idx
          |ORDER BY i, j""".stripMargin)),
    GraftQuery("q_cosine_topk", "brute-force cosine top-k vs query vector",
      cosineTopkQuery,
      Some(
        """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
          |sims AS (
          |  SELECT vec_id, label,
          |    list_sum(list_transform(range(1, len(embedding) + 1),
          |             i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))) /
          |    (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
          |     sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos_sim
          |  FROM embeddings, q)
          |SELECT vec_id, label, cos_sim FROM sims ORDER BY cos_sim DESC, vec_id LIMIT 20""".stripMargin)),
    GraftQuery("q_hard_negatives",
      "contrastive hard-negative mining: per stride-sampled anchor, the most-similar vector with a different label (broadcast anchors, map-side argmax)",
      (s, dir) => hardNegatives(load(s, dir, "embeddings"), stride = 41L),
      Some(
        """WITH a AS (
          |  SELECT vec_id AS a_id, label AS a_label, embedding AS a_vec
          |  FROM embeddings WHERE vec_id % 41 = 0),
          |sims AS (
          |  SELECT a.a_id, a.a_label, e.vec_id, e.label,
          |    list_sum(list_transform(range(1, len(e.embedding) + 1),
          |             i -> CAST(e.embedding[i] AS DOUBLE) * CAST(a.a_vec[i] AS DOUBLE))) /
          |    (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
          |     sqrt(list_sum(list_transform(a.a_vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos_sim
          |  FROM embeddings e JOIN a ON e.label <> a.a_label),
          |best AS (SELECT a_id, max(cos_sim) AS cos_sim FROM sims GROUP BY 1),
          |pick AS (
          |  SELECT s.a_id, min(s.vec_id) AS neg_id
          |  FROM sims s JOIN best b ON s.a_id = b.a_id AND s.cos_sim = b.cos_sim
          |  GROUP BY 1)
          |SELECT p.a_id, a.a_label, p.neg_id, e.label AS neg_label, b.cos_sim
          |FROM pick p
          |JOIN a ON a.a_id = p.a_id
          |JOIN best b ON b.a_id = p.a_id
          |JOIN embeddings e ON e.vec_id = p.neg_id
          |ORDER BY p.a_id""".stripMargin)),
    // Both ANN oracles are the brute-force exact top-k: hash-equality
    // asserts observed recall@10 = 1.0 — measured to hold at sf0.001,
    // sf0.01 AND sf0.1 (the sweeps at lshTopkQuery and ivfTopkQuery),
    // and stable because the probed buckets/lists are deterministic, not
    // a lucky sample.
    GraftQuery("q_ann_lsh_topk", "SRP-LSH bucketed ANN top-k, Hamming-3 multiprobe (oracle = exact top-k, recall 1.0 at all fixture SFs)",
      lshTopkQuery,
      Some(annOracleSql(k = 10))),
    GraftQuery("q_ann_ivf_topk", "IVF ANN top-k: k-means centroid lists + nProbe probing (oracle = exact top-k, recall 1.0 at all fixture SFs)",
      ivfTopkQuery,
      Some(annOracleSql(k = 10))),
    GraftQuery("q_ann_pq_topk",
      "product-quantization ADC top-k (8x32 L2 codebooks, 32x compression) + exact re-rank (oracle = exact top-k)",
      (s, dir) => pqTopK(load(s, dir, "embeddings"), queryVecId = 0L, k = 10),
      Some(annOracleSql(k = 10))),
    GraftQuery("q_ann_ivfpq_topk",
      "IVF-PQ composed ANN (IVFADC layout): nProbe-pruned lists + 8-byte ADC scan + exact re-rank (oracle = exact top-k)",
      (s, dir) => ivfPqTopK(load(s, dir, "embeddings"), queryVecId = 0L, k = 10,
        sharedCentroids = Some(sharedKmeansCentroids(s, dir, 16, 3))),
      Some(annOracleSql(k = 10))),
    GraftQuery("q_embed_neardup", "embedding-cosine near-dup pairs, SRP-blocked + multiprobe (0.3 on near-orthogonal data -> rows-only; blocking proven by q_embed_planted_twin)",
      nearDupQuery, None),
    GraftQuery("q_embed_planted_twin", "SRP-blocked near-dup == brute-force O(n^2) on planted scale-duplicates",
      plantedNearDupTwin,
      Some(
        """WITH base AS (
          |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500),
          |corpus AS (
          |  SELECT vec_id, embedding FROM base
          |  UNION ALL
          |  SELECT vec_id + 10000,
          |         list_transform(embedding, x -> CAST(x * CAST(2.0 AS FLOAT) AS FLOAT))
          |  FROM base),
          |pairs AS (
          |  SELECT a.vec_id AS id1, b.vec_id AS id2,
          |    list_sum(list_transform(range(1, len(a.embedding) + 1),
          |             i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) /
          |    (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
          |     sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos_sim
          |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id)
          |SELECT id1, id2 FROM pairs WHERE cos_sim >= 0.95 ORDER BY id1, id2""".stripMargin)),
    GraftQuery("q_semantic_dedup", "SemDeDup: cluster-blocked greedy cosine dedup (label = cluster key; within-cluster pairwise, oversized clusters SRP-sub-blocked)",
      semanticDedupQuery,
      Some(
        """WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
          |d AS (
          |  SELECT a.vec_id, count(*) AS n_prior_dups
          |  FROM e a JOIN e b ON a.label = b.label AND b.vec_id < a.vec_id
          |  WHERE list_sum(list_transform(range(1, len(a.embedding) + 1),
          |          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) /
          |        (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
          |         sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) >= 0.2
          |  GROUP BY a.vec_id)
          |SELECT e.vec_id, e.label,
          |       coalesce(d.n_prior_dups, 0) AS n_prior_dups,
          |       CAST(coalesce(d.n_prior_dups, 0) > 0 AS INT) AS is_dup
          |FROM e LEFT JOIN d USING (vec_id) ORDER BY e.vec_id""".stripMargin)),
    GraftQuery("q_label_centroids", "per-label embedding centroids via canonical-order double fold",
      labelCentroids,
      Some(
        """WITH flat AS (
          |  SELECT label, vec_id, t.i - 1 AS pos, embedding[t.i] AS v
          |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
          |g AS (
          |  SELECT label, pos, count(*) AS n,
          |         list_sum(list_transform(list(v ORDER BY vec_id), x -> CAST(x AS DOUBLE))) AS s
          |  FROM flat GROUP BY label, pos)
          |SELECT label, CAST(pos AS INTEGER) AS pos, n,
          |       s / CAST(n AS DOUBLE) AS mean_v
          |FROM g ORDER BY label, pos""".stripMargin)),
    GraftQuery("q_quantize_embed", "per-vector int8 quantization: scale + order-sensitive integer digests",
      quantizeEmbedQuery,
      Some(
        """WITH e AS (
          |  SELECT vec_id, embedding,
          |         CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS absmax
          |  FROM embeddings),
          |q AS (
          |  SELECT vec_id, absmax,
          |         CASE WHEN absmax = 0 THEN list_transform(embedding, x -> 0)
          |              ELSE list_transform(embedding,
          |                     x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / absmax + 0.5) AS INTEGER)) END AS qvec
          |  FROM e)
          |SELECT vec_id, absmax / 127.0 AS scale,
          |       CAST(list_min(qvec) AS INTEGER) AS q_min,
          |       CAST(list_max(qvec) AS INTEGER) AS q_max,
          |       CAST(list_sum(qvec) AS BIGINT) AS q_sum,
          |       CAST(list_sum(list_transform(range(1, len(qvec) + 1),
          |                     i -> CAST(qvec[i] AS BIGINT) * i)) AS BIGINT) AS q_possum
          |FROM q ORDER BY vec_id""".stripMargin)),
    GraftQuery("q_array_funcs", "scalar array-function sweep over embeddings",
      arrayFuncsQuery,
      Some(
        """SELECT vec_id,
          |       CAST(len(embedding) AS INTEGER) AS dim,
          |       CAST(list_max(embedding) AS DOUBLE) AS vmax,
          |       CAST(list_min(embedding) AS DOUBLE) AS vmin,
          |       CAST(embedding[1] AS DOUBLE) AS first_v,
          |       CAST(embedding[-1] AS DOUBLE) AS last_v,
          |       list_sum(list_transform(range(1, len(embedding) + 1),
          |                i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))) /
          |       (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
          |        sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS self_cos
          |FROM embeddings ORDER BY vec_id""".stripMargin)),
  )
}
