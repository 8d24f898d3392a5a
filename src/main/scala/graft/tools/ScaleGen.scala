package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Decade-scale fixture generator for the sf1 spot gate: replicates the
  * sf0.1 fixtures 10× into a scratch dir so the heaviest registered
  * queries can be MEASURED one decade up instead of argued from plan
  * shape (driver testdata tops out at sf0.1).
  *
  * Fact tables replicate with disjoint key ranges (every replica's keys
  * shift by `span = max(key)+1`, so FK joins stay exactly 1:1 with the
  * base — the join fan-in per key is unchanged, only the key count
  * grows 10×). Dimensions (nation/region/supplier) copy as-is, like a
  * real warehouse where facts grow and dims don't.
  *
  * Documents additionally get a per-replica Caesar rotation of the
  * lowercase alphabet (`translate(text, a..z, rotated)`): token
  * boundaries, lengths and per-doc shingle COUNTS are preserved, but
  * cross-replica shingle SETS are disjoint — so near-dup structure
  * (planted dup pairs, cluster sizes, LSH bucket occupancy) replicates
  * linearly instead of collapsing into artificial 10-member
  * cross-replica clusters.
  *
  * Known type drift: the base fixture's events.ts is parquet
  * TIMESTAMP(NANOS); replicas re-emit it as plain INT64 nanos (Spark
  * has no native NANOS type). Sessions carrying the GraftSession
  * contract (nanosAsLong) read the identical long through Tables.load
  * either way — the generated dirs target graft.Bench, NOT the
  * DuckDB oracle, which would read BIGINT instead of TIMESTAMP here.
  *
  * ADVERSARIAL-SKEW MODE (4th arg `skew`): the r10 de-windowing of the
  * content-keyed keep-one dedup family (line/url/chunk/span/substring)
  * exists precisely for hot-key workloads, but its proof was plan
  * shape + uniform-data decades. Skew mode turns that argument into a
  * measured fixture by planting the workload the de-windowing targets:
  *
  *   - ONE boilerplate line + a two-sentence boilerplate block
  *     appended to EVERY document (post-rotation, so it is
  *     byte-identical across replicas): one line key with df = corpus
  *     size for q_line_dedup, a hot 8-token span family for
  *     q_span_dedup_apply, ~22M hot duplicated-gram positions for
  *     q_substring_dedup_apply, and ~5 hot CDC digests with df =
  *     corpus size for q_chunk_dup_docs (the identical block yields
  *     identical interior content-defined chunks in every doc).
  *   - ONE canonical URL refetched by 20% of the corpus: hot docs get
  *     `source = 'hot'` and doc_id ≡ 0 (mod 97), so the planted
  *     refetch generator maps them all onto a single canonical key for
  *     q_url_dedup. Ids stay unique (hot: 97·id; rest: 97·id + 1 +
  *     id mod 96 — offsets 1..96 can never alias a multiple of 97).
  *   - The skewed JOIN keys come for free: the hot gram/digest/span
  *     keys funnel through the operators' merge-pinned join-backs,
  *     which is exactly the skew those SMJ + AQE shapes must absorb.
  *   - 10% of EMBEDDINGS become one byte-identical vector: a single
  *     red-hot SRP/IVF bucket and a corpus-wide cosine-1.0 clique —
  *     the vector analog of the boilerplate line (pair reports pay
  *     true quadratic output; the bucketed ANN paths must stay
  *     bounded through their caps and sublinear shortlists).
  *
  * Usage: runMain graft.tools.ScaleGen [srcDir] [dstDir] [replicas] [skew]
  */
object ScaleGen {
  /** byte-identical in every doc (and across replicas): the hot line
    * key (89 chars, > the 30-char substring gram and one 8-token span
    * window) and the hot chunk block (two sentences, ~420 bytes ≈ 6-7
    * CDC chunks at maskMod = 64). */
  val hotLine: String =
    "subscribe to our free newsletter for daily updates and exclusive breaking analysis today."
  val hotBlock: String =
    "this boilerplate paragraph is appended to every document so its interior content defined chunk boundaries land identically in the whole corpus and every rolling gram inside it becomes one massive duplicated key. " +
      "the second sentence keeps the block long enough that several complete chunks fit between the first and last boundary under the sixty four byte expected chunk size."

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/sf1"
    val reps = if (args.length > 2) args(2).toInt else 10
    val skew = args.length > 3 && args(3) == "skew"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is parquet TIMESTAMP(NANOS) (see Tables.load): read it
      // as a nanos long; the replica writes it back as plain INT64,
      // which nanosAsLong-reading sessions surface identically
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, src, dst, reps, skew)
    spark.stop()
  }

  /** Session-preserving core of [[main]] (specs drive it on the shared
    * test session, which must survive the call).
    */
  def run(spark: SparkSession, src: String, dst: String, reps: Int,
      skew: Boolean = false): Unit = {
    def rd(n: String): DataFrame = spark.read.parquet(s"$src/$n.parquet")
    def wr(df: DataFrame, n: String): Unit = {
      df.write.mode(SaveMode.Overwrite).parquet(s"$dst/$n.parquet")
      println(s"[scalegen] $n: ${spark.read.parquet(s"$dst/$n.parquet").count()} rows")
    }
    def span(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1

    // per-replica text transforms must be DISTINCT or replicas plant
    // byte-identical cross-replica duplicates. The affine alphabet
    // permutation σ_i(p) = (a·p + b) mod 26 (a coprime to 26, 12
    // choices × 26 shifts = 312 distinct permutations; i < 26 keeps
    // a = 1, i.e. the original Caesar rotation, so sf1/sf2 fixtures
    // regenerate byte-identically) preserves token boundaries, lengths
    // and per-doc shingle counts exactly like the rotation did.
    require(reps >= 1 && reps <= 312, s"replicas must be in 1..312: $reps")

    // dims copy as-is: facts grow, dims don't (lineitem keeps its
    // p_partkey/s_suppkey ranges, so the copied dims stay FK-complete)
    Seq("nation", "region", "supplier", "part").foreach(n => wr(rd(n), n))

    val cust = rd("customer"); val ords = rd("orders"); val li = rd("lineitem")
    val custSpan = span(cust, "c_custkey")
    val ordSpan = span(ords, "o_orderkey")

    def replicate(df: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until reps).map(i => shift(df, i)).reduce(_ union _)

    // c_name gets the same per-replica Caesar rotation as documents:
    // without it every replica repeats the base names byte-identically,
    // so name-keyed operators (typo pairs) see an exact-dup flood whose
    // TRUE pair count grows quadratically with replicas — a replication
    // artifact, not workload structure (the honest-embeddings
    // precedent: perturb what would otherwise be byte-equal twins)
    val alphaC = "abcdefghijklmnopqrstuvwxyz"
    val digitsC = "0123456789"
    // replica i's letter permutation: affine (a·p + b) mod 26 over
    // letter positions — a cycles the 12 residues coprime to 26 every
    // 26 replicas, so all 312 (a, b) pairs are distinct; a(0..25) = 1
    // reproduces the original Caesar rotation byte-for-byte
    val coprimes26 = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
    def permL(i: Int): String = {
      val (a, b) = (coprimes26(i / 26 % 12), i % 26)
      (0 until 26).map(p => alphaC((a * p + b) % 26)).mkString
    }
    // digit permutation: affine mod 10 (a coprime to 10 — 40 distinct
    // pairs; the letter permutation already separates replicas beyond
    // that, so pure-digit shingles colliding between i and i+40 is the
    // same known residual the rotation had at i and i+10)
    val coprimes10 = Seq(1, 3, 7, 9)
    def permD(i: Int): String = {
      val (a, b) = (coprimes10(i / 10 % 4), i % 10)
      (0 until 10).map(p => digitsC((a * p + b) % 10)).mkString
    }
    wr(replicate(cust)((d, i) => {
      val rotL = permL(i)
      val rotD = permD(i)
      d.withColumn("c_custkey", col("c_custkey") + lit(i * custSpan))
        .withColumn("c_name",
          if (i == 0) col("c_name")
          else translate(col("c_name"),
            alphaC + alphaC.toUpperCase + digitsC,
            rotL + rotL.toUpperCase + rotD))
    }), "customer")
    wr(replicate(ords)((d, i) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(i * ordSpan))
        .withColumn("o_custkey", col("o_custkey") + lit(i * custSpan))), "orders")
    wr(replicate(li)((d, i) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(i * ordSpan))), "lineitem")

    val ev = rd("events")
    val evSpan = span(ev, "event_id")
    val userSpan = span(ev, "user_id")
    wr(replicate(ev)((d, i) =>
      d.withColumn("event_id", col("event_id") + lit(i * evSpan))
        .withColumn("user_id", col("user_id") + lit(i * userSpan))), "events")

    // vectors get a per-replica deterministic SIGN-FLIP mask (element j
    // flips iff xxhash64(i, j) is odd): norms and coordinate
    // distributions are preserved, but cross-replica cosine collapses
    // to ~0 — without this, every vector would gain reps-1 byte-exact
    // twins (cosine 1.0), inflating SRP bucket occupancy quadratically
    // and displacing true top-k neighbors (the embedding analog of the
    // documents' Caesar rotation). Replica 0 keeps the originals.
    val emb = rd("embeddings")
    val vecSpan = span(emb, "vec_id")
    // labels shift per replica too: cluster COUNT grows with the corpus
    // at constant cluster size — the published SemDeDup shape (k chosen
    // so clusters stay ~constant as n grows). Without this, sf1 held 10
    // clusters that each grew 10x, and the within-cluster pairwise
    // stage measured the fixed-k quadratic artifact instead of the
    // algorithm (BENCH_LOCAL_r4: q_semantic_dedup 8.75x at 10x data).
    val labelSpan = emb.agg(max(col("label"))).head().getInt(0) + 1
    val embRep = replicate(emb)((d, i) =>
      d.withColumn("vec_id", col("vec_id") + lit(i * vecSpan))
        .withColumn("label", col("label") + lit(i * labelSpan))
        .withColumn("embedding",
          if (i == 0) col("embedding")
          else expr(s"transform(embedding, (x, j) -> CASE WHEN pmod(xxhash64($i, j), 2) = 1 THEN -x ELSE x END)")))
    // skew: 10% of vectors become ONE byte-identical alternating-sign
    // vector — a single red-hot SRP/IVF bucket and a corpus-wide
    // cosine-1.0 near-dup clique, the embedding analog of the planted
    // boilerplate line (true quadratic OUTPUT for pair reports; the
    // bucketed ANN paths must stay bounded via their caps/shortlists)
    val embOut =
      if (!skew) embRep
      else embRep.withColumn("embedding",
        when(col("vec_id") % 10 === 0, expr(
          "transform(embedding, (x, j) -> CAST(CASE WHEN j % 2 = 0 THEN 0.1 ELSE -0.1 END AS FLOAT))"))
          .otherwise(col("embedding")))
    wr(embOut, "embeddings")

    // Both cases (a-z AND A-Z) rotate so query-time lowercasing can't
    // re-collide replicas; digits rotate too (cycle 10, so pure-digit
    // shingles still collide between replicas i and i+10 — a known
    // residual, negligible against the letter rotation on word text).
    val docs = rd("documents")
    val docSpan = span(docs, "doc_id")
    val docsRep = replicate(docs)((d, i) => {
      val rotL = permL(i)
      val rotD = permD(i)
      d.withColumn("doc_id", col("doc_id") + lit(i * docSpan))
        .withColumn("text", translate(col("text"),
          alphaC + alphaC.toUpperCase + digitsC,
          rotL + rotL.toUpperCase + rotD))
    })
    // adversarial-skew planting happens AFTER the per-replica rotation:
    // the hot content must be byte-identical corpus-wide, which is the
    // exact opposite of the rotation's cross-replica decollision (see
    // the object doc). n_chars is NOT refreshed on purpose — the skew
    // fixture targets the content-keyed dedup family, and keeping the
    // rest of the row untouched isolates the planted variables.
    val docsOut =
      if (!skew) docsRep
      else docsRep
        .withColumn("text", concat(coalesce(col("text"), lit("")),
          lit("\n" + hotLine + "\n" + hotBlock)))
        .withColumn("__hot", col("doc_id") % 5 === 0)
        .withColumn("source",
          when(col("__hot"), lit("hot")).otherwise(col("source")))
        .withColumn("doc_id",
          when(col("__hot"), col("doc_id") * lit(97L))
            .otherwise(col("doc_id") * lit(97L) +
              pmod(col("doc_id"), lit(96L)) + lit(1L)))
        .drop("__hot")
    wr(docsOut, "documents")
  }
}
