package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.engine.Shared
import graft.engine.Tables.load

/** Graph-shaped corpus operators beyond connected components
  * ([[Dedup.connectedComponents]]): link-graph construction from event
  * streams and PageRank-style link weighting (Brin & Page 1998), the
  * classic importance prior a training-data pipeline attaches to
  * documents before sampling (reference has no graph operators;
  * k8s/codes/variables.py:18-89 stops at relational transforms).
  *
  * The graph: per-user event TRANSITIONS. Each user's events, ordered
  * by (ts, event_id), yield an edge prev_page → page over the `props.k`
  * page id — the standard clickstream link graph. Edge weight = the
  * transition count.
  *
  * Arithmetic is EXACT INTEGER throughout — ranks live in micro-units
  * (SCALE = 1e6) with floor division, damping 0.85 as the rational
  * 17/20 — so a BIGINT sum is the only aggregate and both engines
  * reproduce every iteration bit-for-bit (the cross-engine discipline:
  * no double accumulation on the compare path). Dangling-node mass is
  * dropped, not redistributed — the simplification both sides share;
  * iteration count is fixed (unrolled in the oracle SQL).
  *
  * 100 TB design: one high-cardinality lag window (user_id) builds the
  * edges; each PageRank iteration is one join of ranks onto edges
  * (src-keyed) plus one groupBy(dst) aggregate. Node-keyed aggregates
  * are map-side combined — a hub page with a billion in-links reduces
  * to one partial per task, so in-degree skew never funnels rows into
  * a single reducer the way a per-node WINDOW would. The fixed-point
  * loop unrolls into ONE lazy plan (3 iterations ⇒ depth ~10 —
  * no lineage cut needed; the CC loop's checkpoint machinery exists
  * for UNBOUNDED iteration counts). Edge/out-weight subtrees repeat
  * per iteration; their exchanges dedup via ReuseExchange (measured
  * policy: persisting post-aggregate relations only re-materializes
  * what ReuseExchange already shares).
  */
object GraphOps {

  private val Scale = 1000000L

  /** (src, dst, w) transition edges from the events table — the
    * link-graph constructor shared by the registered keys.
    */
  def transitionEdges(events: DataFrame): DataFrame = {
    val ev = events
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .where(col("k").isNotNull)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    ev.select(lag(col("k"), 1).over(w).as("src"), col("k").as("dst"))
      .where(col("src").isNotNull)
      .groupBy("src", "dst")
      .agg(count(lit(1)).as("w"))
  }

  /** Generic weighted-PageRank core in exact micro-units over any
    * (src, dst, w) edge list and node relation (node type is whatever
    * the join keys carry — int page ids, string tokens):
    * r₀ = SCALE per node; rᵢ₊₁(v) = 0.15·SCALE +
    * (17·Σ_{u→v} (rᵢ(u)·w(u,v) div outw(u))) div 20.
    * Shared by the transition-graph rank and TextRank.
    */
  def pageRankOnGraph(edges: DataFrame, nodes: DataFrame,
      iters: Int): DataFrame = {
    // deliberately NOT persisted: a position-controlled A/B at sf0.1
    // measured the unrolled plan at 3.4 s vs 6.0 s with edges+nodes
    // under a lazy MEMORY_AND_DISK persist — the edge pipeline's
    // exchanges already dedup via ReuseExchange where they matter, and
    // the persist only added a blocking materialization (the same
    // outcome as the tfidf and LSH-bands persist experiments). At
    // unbounded iteration counts the CC loop's checkpoint-per-round
    // machinery is the right tool instead.
    val outw = edges.groupBy("src").agg(sum(col("w")).as("ow"))
    val ew = edges.join(outw, "src")
    var r = nodes.withColumn("r", lit(Scale))
    for (_ <- 1 to iters) {
      val contrib = ew
        .join(r.withColumnRenamed("node", "src"), "src")
        // nullif is a numeric no-op (ow = Σw over the src group, w ≥ 1
        // by construction on every caller's edge list) that makes the
        // zero-guard LOCAL: with the shared edge relation behind an
        // eager localCheckpoint the overflow audit can no longer derive
        // ow > 0 from the truncated lineage, and a structural witness
        // is stronger than a provenance argument anyway
        .select(col("dst").as("node"),
          // 0L, not CAST(0 AS BIGINT): ow is already BIGINT, so the
          // guard literal needs no cast and the audit's NullIf matcher
          // sees the bare-literal shape
          expr("(r * w) div nullif(ow, 0L)").as("c"))
        .groupBy("node")
        .agg(sum(col("c")).as("c"))
      r = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(Scale * 3L / 20L) +
            expr("(17 * coalesce(c, CAST(0 AS BIGINT))) div 20")).as("r"))
    }
    r.select(col("node"), col("r").as("rank_units"))
  }

  /** Weighted PageRank over the event-transition graph. */
  def pageRank(events: DataFrame, iters: Int = 3): DataFrame = {
    val nodes = events
      .select(get_json_object(col("props"), "$.k").cast("int").as("node"))
      .where(col("node").isNotNull).distinct()
    pageRankOnGraph(transitionEdges(events), nodes, iters).orderBy("node")
  }

  def pageRankQuery(s: SparkSession, dir: String): DataFrame =
    pageRankOnGraph(sharedEdges(s, dir), sharedNodes(s, dir), iters = 3)
      .orderBy("node")

  /** HITS hubs-and-authorities (Kleinberg 1999) over the weighted
    * transition graph — the complementary centrality to [[pageRank]]:
    * a hub points at good authorities, an authority is pointed at by
    * good hubs. Because the update is LINEAR, per-iteration
    * normalization only rescales — so the unrolled iterations run in
    * EXACT DECIMAL(38,0) arithmetic (h₀=1; a₁=in-weight; h₁=Σw·a₁;
    * a₂=Σw·h₁; HUGEINT in the oracle) and ONE double division at the
    * end normalizes each score to its max. Values grow
    * multiplicatively with iteration count (h₁ ≤ (Σw)² crosses 2⁶³
    * near 3×10⁹ events), so the sums never live in BIGINT and the
    * unit scores emit as DOUBLE.
    *
    * 100 TB shape: same as PageRank — each iteration is one src-keyed
    * join plus one map-side-combined dst aggregate; hub skew reduces
    * to partials; the max is a broadcast 1-row cross join.
    */
  def hits(events: DataFrame): DataFrame =
    hitsOnGraph(transitionEdges(events),
      events
        .select(get_json_object(col("props"), "$.k").cast("int").as("node"))
        .where(col("node").isNotNull).distinct())

  /** [[hits]] over a prebuilt (src, dst, w) edge list + node relation —
    * the session-entry path hands the shared memoized graph here.
    */
  def hitsOnGraph(e: DataFrame, nodes: DataFrame): DataFrame = {
    // DECIMAL(38,0) iteration sums (HUGEINT in the oracle) and DOUBLE
    // unit outputs: scores grow multiplicatively per unrolled
    // iteration (h₁ ≤ (Σw)², past 2⁶³ near 3×10⁹ events), so neither
    // the accumulation nor the unit columns may live in BIGINT — the
    // psiDrift widening rule applied at the 100 TB design point.
    val a1 = e.groupBy(col("dst").as("node")).agg(sum(col("w")).as("a"))
    val h1 = e.join(a1.withColumnRenamed("node", "dst"), "dst")
      .groupBy(col("src").as("node"))
      .agg(sum(col("w").cast("decimal(38,0)") * col("a")).as("h"))
    val a2 = e.join(h1.withColumnRenamed("node", "src"), "src")
      .groupBy(col("dst").as("node"))
      .agg(sum(col("w").cast("decimal(38,0)") * col("h")).as("a"))
    val scored = nodes
      .join(h1, Seq("node"), "left")
      .join(a2, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("h"), lit(0L).cast("decimal(38,0)")).as("h1_units"),
        coalesce(col("a"), lit(0L).cast("decimal(38,0)")).as("a2_units"))
    val maxes = scored.agg(max(col("h1_units")).as("mh"),
      max(col("a2_units")).as("ma"))
    scored.crossJoin(broadcast(maxes))
      .select(col("node"),
        col("h1_units").cast("double").as("h1_units"),
        col("a2_units").cast("double").as("a2_units"),
        (col("h1_units").cast("double") / col("mh").cast("double")).as("hub_score"),
        (col("a2_units").cast("double") / col("ma").cast("double")).as("auth_score"))
      .orderBy("node")
  }

  /** PageRank over the DOCUMENT quote graph — the citation-style
    * importance prior a training-corpus pipeline attaches to documents
    * (a doc quoted by many others outranks its quoters), vs
    * [[pageRank]]'s event-transition graph. Edges come from the exact
    * containment join ([[Dedup.containmentJoin]]): sub ⊆ sup at
    * containment ≥ 0.8 means sup embeds sub's text, so the CITER is sup
    * and rank mass flows sup → sub, weight 1 per quote edge. Nodes are
    * the whole corpus — unquoted docs keep the base rank, so the output
    * is a full per-document prior, not just the quoted subset.
    *
    * 100 TB shape: edge construction inherits the containment join's
    * prefix-filter + maxDf bound; the rank loop is [[pageRankOnGraph]]'s
    * map-side-combined iteration (quote-hub skew reduces to partials).
    */
  def docPageRank(docs: DataFrame, iters: Int = 3): DataFrame =
    // localCheckpoint: unlike the event-transition graphs (where the
    // A/B in pageRankOnGraph showed persist is a net loss), these
    // edges cost a full containment join — without the cut, exchange
    // reuse is not guaranteed across the unrolled iterations and the
    // sf10 gate measured the join recomputed per round (~5× the
    // operator's own cost). Materialize once, iterate on the result.
    docPageRankOnPairs(docs,
      Dedup.containmentJoin(docs, "text", "doc_id", sorted = false)
        .localCheckpoint(),
      iters)

  private def docPageRankOnPairs(docs: DataFrame, pairs: DataFrame,
      iters: Int): DataFrame = {
    val edges = pairs.select(col("sup_id").as("src"),
      col("sub_id").as("dst"), lit(1L).as("w"))
    val nodes = docs.select(col("doc_id").as("node")).distinct()
    pageRankOnGraph(edges, nodes, iters)
      .select(col("node").as("doc_id"), col("rank_units"))
      .orderBy("doc_id")
  }

  def docPageRankQuery(s: SparkSession, dir: String): DataFrame =
    // the session-entry path iterates on the SAME memoized persisted
    // containment-pair relation q_containment_join reads (see
    // Dedup.containmentPairsShared) — persisted ⇒ already
    // materialization-cut, so the df-level localCheckpoint above is
    // redundant here
    docPageRankOnPairs(load(s, dir, "documents"),
      Dedup.containmentPairsShared(s, dir), iters = 3)

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank over
    * the corpus word co-occurrence graph. Adjacent normalized tokens
    * (window 2, the paper's default) co-occur; the graph is UNDIRECTED
    * — each pair contributes both directed edges — with co-occurrence
    * counts as weights; [[pageRankOnGraph]] runs the same exact-integer
    * iteration, and the top-k tokens by rank are the corpus keywords.
    * Self-pairs and empty tokens are dropped. The tokenizer is the
    * canonical normalize fragment every text oracle shares.
    *
    * 100 TB shape: tokenization/pairing is row-local; the graph
    * aggregates are vocabulary²-bounded (far below corpus size); all
    * node-keyed aggregates map-side combine, so stopword hubs skew no
    * reducer. Deterministic: integer ranks, total (rank, token) order
    * for the top-k cut.
    */
  def textRankKeywords(docs: DataFrame, iters: Int = 3, k: Int = 50): DataFrame = {
    val norm = graft.functions.TextOps.normalizeText(col("text"))
    val toks = docs.select(split(norm, " ").as("t"))
    val dir0 = toks.where(size(col("t")) >= 2)
      .select(explode(expr(
        """filter(transform(sequence(1, size(t) - 1),
          |  i -> struct(element_at(t, i) AS src, element_at(t, i + 1) AS dst)),
          |  p -> p.src != p.dst AND p.src != '' AND p.dst != '')""".stripMargin))
        .as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"))
    // eager lineage cuts (the sharedEdges lesson, intra-query): the
    // unrolled rank loop references the edge list ~2 + 2·iters times
    // and the node set once per round; lazy, each reference re-ran the
    // corpus tokenize + pair explode (static plan: 32 document scans).
    // Both relations are vocabulary(²)-bounded — far below corpus
    // scale — so the checkpoint is the cache-reused-relations case,
    // never a corpus materialization.
    val edges = dir0
      .unionByName(dir0.select(col("dst").as("src"), col("src").as("dst")))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
      .localCheckpoint()
    val nodes = toks.select(explode(col("t")).as("node"))
      .where(col("node") =!= "").distinct()
      .localCheckpoint()
    pageRankOnGraph(edges, nodes, iters)
      .orderBy(col("rank_units").desc, col("node"))
      .limit(k)
      .select(col("node").as("token"), col("rank_units"))
  }

  def textRankQuery(s: SparkSession, dir: String): DataFrame =
    textRankKeywords(load(s, dir, "documents"), iters = 3, k = 50)

  /** Undirected simple graph from the transition edges: one canonical
    * (a < b) row per linked pair, self-loops dropped. Shared by the
    * triangle census and label propagation.
    */
  def undirectedEdges(edges: DataFrame): DataFrame =
    edges.where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()

  /** Per-node triangle census + local clustering coefficient over the
    * undirected transition graph — the standard graph-QC signal (a
    * crawl/link corpus with no closed wedges is a spam tree; one that is
    * all triangles is a copy farm).
    *
    * 100 TB shape: degree-ordered edge orientation (Suri &
    * Vassilvitskii 2011) — every edge points from its (deg, node)-
    * smaller endpoint to the larger, so a node's oriented out-degree is
    * O(√m) regardless of its real degree, and the wedge self-join that
    * enumerates candidate triangles never fans a hub's full
    * neighborhood through one key. Each triangle is emitted exactly
    * once (its π-least corner owns it), then attributed to all three
    * corners by a 3-way explode + map-side-combined count. No windows,
    * no N² anywhere; the only driver data is the final sorted output.
    * The lcc divide happens once, on integers both engines share.
    */
  def triangleStats(events: DataFrame): DataFrame =
    triangleStatsOnUndirected(undirectedEdges(transitionEdges(events)))

  /** [[triangleStats]] over a prebuilt canonical undirected edge list —
    * the session-entry path hands `undirectedEdges(sharedEdges(...))`
    * here, so the census's multiple `und` references re-scan the
    * persisted edge relation instead of re-running the events window
    * per subtree.
    */
  def triangleStatsOnUndirected(und: DataFrame): DataFrame = {
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val oriented = und
      .join(deg.select(col("node").as("a"), col("deg").as("dega")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("degb")), "b")
      .select(when(
        struct(col("dega"), col("a")) < struct(col("degb"), col("b")),
        struct(col("a").as("u"), col("b").as("v"), col("degb").as("degv")))
        .otherwise(
          struct(col("b").as("u"), col("a").as("v"), col("dega").as("degv")))
        .as("o"))
      .select(col("o.u").as("u"), col("o.v").as("v"), col("o.degv").as("degv"))
    val o1 = oriented.select(col("u"), col("v").as("v1"), col("degv").as("d1"))
    val o2 = oriented.select(col("u"), col("v").as("v2"), col("degv").as("d2"))
    val wedges = o1.join(o2, Seq("u"))
      .where(struct(col("d1"), col("v1")) < struct(col("d2"), col("v2")))
    val tris = wedges
      .join(oriented.select(col("u").as("v1"), col("v").as("v2")), Seq("v1", "v2"))
      .select(col("u"), col("v1"), col("v2"))
    val perNode = tris
      .select(explode(array(col("u"), col("v1"), col("v2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        when(col("deg") >= 2,
          (lit(2) * coalesce(col("tri"), lit(0L))).cast("double") /
            (col("deg") * (col("deg") - 1)).cast("double"))
          .otherwise(lit(0.0)).as("lcc"))
      .orderBy("node")
  }

  def triangleQuery(s: SparkSession, dir: String): DataFrame =
    triangleStatsOnUndirected(undirectedEdges(sharedEdges(s, dir)))

  /** Synchronous label propagation (Raghavan et al. 2007) over the
    * weighted undirected transition graph — community detection, the
    * source-clustering companion to the near-dup CC labels. Fixed
    * iteration count, deterministic argmax: each round a node adopts
    * the label with the greatest incident edge weight, ties broken by
    * the SMALLEST label (max(struct(ws, -lbl)) — one aggregate, no
    * window), isolated/no-update nodes keep their own.
    *
    * 100 TB shape: per round, one join of labels onto the adjacency
    * list (nbr-keyed) and two map-side-combined aggregates
    * ((node,lbl) weight sums, then the per-node argmax) — hub skew
    * collapses into partials exactly like the PageRank contribution
    * aggregate. Unrolled into one lazy plan at fixed iters (the CC
    * checkpoint loop is the unbounded-iteration tool).
    */
  def labelPropagation(events: DataFrame, iters: Int = 3): DataFrame =
    labelPropagationOnGraph(transitionEdges(events),
      // node universe = every observed page, the SAME universe pageRank
      // ranks — a node seen only in self-loop transitions has no adj row
      // but must still appear (as its own singleton community) or the
      // graph keys disagree on what the graph's nodes are
      events
        .select(get_json_object(col("props"), "$.k").cast("int").as("node"))
        .where(col("node").isNotNull).distinct(),
      iters)

  /** [[labelPropagation]] over a prebuilt (src, dst, w) edge list +
    * node relation — the session-entry path hands the shared memoized
    * graph here.
    */
  def labelPropagationOnGraph(edges: DataFrame, nodes: DataFrame,
      iters: Int): DataFrame = {
    // weight = total transition count between the pair, both directions
    val wAB = edges.where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"), col("w"))
      .groupBy("a", "b").agg(sum(col("w")).as("w"))
    val adj = wAB.select(col("a").as("node"), col("b").as("nbr"), col("w"))
      .unionAll(wAB.select(col("b").as("node"), col("a").as("nbr"), col("w")))
    var lab = nodes.withColumn("lbl", col("node"))
    for (_ <- 1 to iters) {
      val best = adj
        .join(lab.select(col("node").as("nbr"), col("lbl")), "nbr")
        .groupBy("node", "lbl").agg(sum(col("w")).as("ws"))
        .groupBy("node")
        .agg(max(struct(col("ws").as("ws"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("lbl"))
      lab = nodes.join(best, Seq("node"), "left")
        .select(col("node"), coalesce(col("lbl"), col("node")).as("lbl"))
    }
    val sizes = lab.groupBy("lbl").agg(count(lit(1)).as("csize"))
    lab.join(sizes, "lbl")
      .select(col("node"), col("lbl").as("community"), col("csize"))
      .orderBy("node")
  }

  def labelPropQuery(s: SparkSession, dir: String): DataFrame =
    labelPropagationOnGraph(sharedEdges(s, dir), sharedNodes(s, dir),
      iters = 3)

  /** Bounded-round k-core peel (Matula & Beck 1983; the Batagelj-
    * Zaversnik decomposition's single-k slice): iteratively delete
    * nodes whose degree in the SURVIVING subgraph falls below k —
    * deletions cascade, which is what distinguishes the core from a
    * one-shot degree filter — and emit the survivors with their final
    * in-core degree. `rounds` is a fixed unroll (each round is two
    * semi-joins of the adjacency onto the surviving set plus one
    * map-side-combined degree aggregate); on real graphs the peel
    * fixpoints in a handful of rounds, and the bounded-round semantics
    * ("the set after R peels") is itself well-defined and what the
    * oracle mirrors — the CC checkpoint loop is the tool for an
    * unbounded peel.
    *
    * 100 TB shape: no windows, no N²; each round shuffles the
    * adjacency once on node and once on nbr (both high-cardinality
    * keys), and the surviving-set join sides only shrink. Hub skew
    * collapses into count partials like every other node aggregate in
    * this family.
    */
  def kCoreOnEdges(und: DataFrame, k: Int, rounds: Int): DataFrame = {
    val adj = und.select(col("a").as("node"), col("b").as("nbr"))
      .unionAll(und.select(col("b").as("node"), col("a").as("nbr")))
    var surv = adj.select("node").distinct()
    for (_ <- 1 to rounds) {
      surv = adj
        .join(surv, "node")
        .join(surv.select(col("node").as("nbr")), "nbr")
        .groupBy("node").agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k).select("node")
    }
    adj
      .join(surv, "node")
      .join(surv.select(col("node").as("nbr")), "nbr")
      .groupBy("node").agg(count(lit(1)).as("core_deg"))
      .orderBy("node")
  }

  /** TRUE k-core: peel to the FIXPOINT, not a fixed round count. The
    * bounded unroll above computes "the survivor set after R peels" —
    * well-defined, but NOT the k-core on graphs whose deletion cascade
    * runs deeper than R (a pendant chain of length R+1 under-peels).
    * This is the [[Dedup.connectedComponents]] checkpointed-loop shape
    * applied to the peel: iterate the same two semi-joins + degree
    * aggregate until the survivor count stops changing. Because each
    * round's survivors are a SUBSET of the previous round's (a node
    * with in-core degree ≥ k also appeared in the prior surviving
    * set), count equality ⟺ set equality — convergence is one O(1)
    * driver count per round, never a set-difference join.
    *
    * 100 TB shape: identical per-round geometry to [[kCoreOnEdges]]
    * (adjacency persisted once; the surviving-set sides only shrink),
    * plus the CC loop's lineage discipline — each round's survivor set
    * is materialized with a lineage cut (reliable checkpoint when the
    * caller configured a dir, else local) so the self-referencing plan
    * cannot grow with the cascade depth, and superseded rounds'
    * blocks are released eagerly. Rounds are data-bounded: a
    * non-converged round deletes ≥ 1 node, so the loop runs at most
    * |V| rounds (and on real graphs a handful).
    */
  def kCoreFixpointOnEdges(und: DataFrame, k: Int,
      maxRounds: Int = 10000): DataFrame = {
    val adj = und.select(col("a").as("node"), col("b").as("nbr"))
      .unionAll(und.select(col("b").as("node"), col("a").as("nbr")))
      .persist()
    def cut(df: DataFrame): DataFrame =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
      else df.localCheckpoint()
    var surv = cut(adj.select("node").distinct())
    var n = surv.count()
    var converged = n == 0L
    var it = 0
    while (!converged && it < maxRounds) {
      val next = cut(adj
        .join(surv, "node")
        .join(surv.select(col("node").as("nbr")), "nbr")
        .groupBy("node").agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k).select("node"))
      val m = next.count()
      converged = m == n
      surv.unpersist()
      surv = next; n = m; it += 1
    }
    require(converged, s"kCoreFixpoint did not converge in $maxRounds rounds")
    // the returned plan rebuilds the adjacency expression UNPERSISTED
    // (one cheap scan) so the loop's cached blocks can be released now
    // instead of leaking for the session
    adj.unpersist()
    val adjOut = und.select(col("a").as("node"), col("b").as("nbr"))
      .unionAll(und.select(col("b").as("node"), col("a").as("nbr")))
    adjOut
      .join(surv, "node")
      .join(surv.select(col("node").as("nbr")), "nbr")
      .groupBy("node").agg(count(lit(1)).as("core_deg"))
      .orderBy("node")
  }

  /** k-core of the undirected transition graph. k = 13 peels the
    * sparse small-SF graph and is a no-op once the 100-page fixture
    * graph saturates toward complete — the PLANTED spec, not the
    * fixture, pins the cascade dynamics.
    */
  def kCore(events: DataFrame, k: Int = 13, rounds: Int = 4): DataFrame =
    kCoreOnEdges(undirectedEdges(transitionEdges(events)), k, rounds)

  def kCoreQuery(s: SparkSession, dir: String): DataFrame =
    kCoreOnEdges(undirectedEdges(sharedEdges(s, dir)), k = 13, rounds = 4)

  /** Fixpoint k-core of the transition graph — the exact semantics;
    * [[kCore]] stays registered as the cheap bounded-round variant.
    */
  def kCoreFixpointQuery(s: SparkSession, dir: String): DataFrame =
    kCoreFixpointOnEdges(undirectedEdges(sharedEdges(s, dir)), 13)

  /** Generated DuckDB mirror of [[kCore]]: one CTE per peel round so
    * the unroll count cannot drift between engines.
    */
  private[ext] def kCoreOracleSql(k: Int = 13, rounds: Int = 4,
      materialized: Boolean = false): String = {
    // each s_i references s_{i-1} TWICE: DuckDB inlines plain CTEs, so
    // a deep unroll expands 2^rounds without AS MATERIALIZED (measured:
    // the 128-round fixpoint oracle exhausts file handles un-hinted,
    // runs in ~1 s materialized)
    val m = if (materialized) "MATERIALIZED " else ""
    val base =
      s"""$graphPrefixSql,
         |und AS (
         |  SELECT DISTINCT CAST(least(src, dst) AS INTEGER) AS a,
         |                  CAST(greatest(src, dst) AS INTEGER) AS b
         |  FROM edges WHERE src <> dst),
         |adj AS $m(SELECT a AS node, b AS nbr FROM und
         |        UNION ALL SELECT b, a FROM und),
         |s0 AS $m(SELECT DISTINCT node FROM adj)""".stripMargin
    val peels = (1 to rounds).map { i =>
      s"""s$i AS $m(
         |  SELECT adj.node FROM adj
         |  JOIN s${i - 1} sv ON sv.node = adj.node
         |  JOIN s${i - 1} sn ON sn.node = adj.nbr
         |  GROUP BY adj.node HAVING count(*) >= $k)""".stripMargin
    }
    (base +: peels).mkString(",\n") +
      s"""\nSELECT adj.node, count(*) AS core_deg
         |FROM adj
         |JOIN s$rounds sv ON sv.node = adj.node
         |JOIN s$rounds sn ON sn.node = adj.nbr
         |GROUP BY adj.node ORDER BY adj.node""".stripMargin
  }

  /** DuckDB mirror of [[kCoreFixpointQuery]]: the peel unrolled to a
    * PROVEN fixpoint bound. A non-converged round deletes ≥ 1 node and
    * converged rounds are idempotent, so `bound ≥ |V|` rounds compute
    * exactly the fixpoint — the events fixture's page domain is 100
    * nodes at every SF (props.k ∈ 0..99), so 128 rounds is a strict
    * over-bound. (DuckDB's recursive CTE can't express a SHRINKING
    * set: UNION recursion accumulates rows, so a peeled node would
    * wrongly persist in the result — measured, not assumed.)
    */
  private[ext] def kCoreFixpointOracleSql(k: Int = 13,
      bound: Int = 128): String =
    kCoreOracleSql(k, bound, materialized = true)

  /** Bounded-depth weighted reachability from the graph's least node,
    * as a RECURSIVE CTE (Spark 4's UnionLoop operator — UNION ALL
    * form, the only one Spark supports): per (node, depth ≤ 3), the
    * number of transition paths from the seed, weighted by the product
    * of edge multiplicities. Exact BIGINT arithmetic end to end.
    *
    * 100 TB shape: each recursion level is ONE src-keyed equi-join of
    * the frontier onto the edge list; UnionLoop materializes level
    * frontiers, so the work per level is |frontier| ⋈ edges — the
    * depth bound is the user's fan-out knob, and the final per-
    * (node, depth) aggregate map-side combines the path counts. This is
    * the declarative form of the hand-rolled iterate-and-union loops
    * (CC, PageRank) for the bounded-depth case — with one measured
    * trade: Spark forbids aggregation inside the recursive term
    * (INVALID_RECURSIVE_REFERENCE), so the frontier enumerates PATHS
    * (one row each), not per-node sums; the hand-rolled loops collapse
    * each round to a node-keyed aggregate instead. Per-level frontier
    * here is bounded by |nodes|·max_outdeg^depth — pick the loop style
    * accordingly at scale.
    */
  // Session-memoized edge list + node set per (session, dir)
  // (graft.engine.Shared `graph.edges` / `graph.nodes`). Originally
  // reachPaths-only (UnionLoop re-runs the recursive step's subtree per
  // level); since r12 EVERY registered graph key shares it: the whole
  // family re-derived the SAME transition-edge relation — a full events
  // scan + per-user lag window + aggregate — once per key AND once per
  // intra-query reference (triangle census: 3+ subtrees; exchange reuse
  // does not span keys, and within a key only canonically-equal
  // subtrees dedup). The edge relation itself is page-domain²-bounded
  // (and the node set domain-bounded) — sharing it is the guide §2.4/§5
  // cache-reused-relations case, NEVER corpus-scale, while the events
  // window it replaces is corpus-scale work.
  //
  // EAGER localCheckpoint, NOT a lazy persist — measured, not stylistic:
  // the unrolled iterative keys reference this relation a combinatorial
  // number of times (kCore's round-r survivor set nests 2 copies of
  // round r−1: ~126 edge references in the final plan), and a persist
  // leaves the full logical subtree in place, so every one of those
  // references drags the CacheManager's canonical-plan substitution and
  // an InMemoryRelation copy through analysis/AQE per query — measured
  // at sf0.1 local[32] solo: q_kcore 12.4 s (unshared baseline) →
  // 29.2 s (lazy persist!) → 3.0 s (eager localCheckpoint);
  // 4-key subset {kcore, label_prop, hits, pagerank} 51.5 s (persist)
  // → 16.6 s (localCheckpoint, first key paying materialization). The
  // checkpoint truncates the plan to one compact LogicalRDD leaf, which
  // is also what keeps the recursive-CTE and unrolled-loop plan sizes
  // (and their analysis cost) independent of iteration count. Trade:
  // the relation materializes at memo creation (inside the first graph
  // key's timed region — honest attribution) and plan-only consumers
  // see a LogicalRDD leaf instead of the events subtree; the
  // construction stays plan-auditable via [[transitionEdges]]' direct
  // callers (graphDegrees' oracle pins it, and the library entry points
  // kCore/hits/labelPropagation keep the raw subtree path).
  // Per-key bench numbers for the family are attribution, not
  // standalone cost — the Bench docstring's shared-memo caveat applies.
  /** The eagerly-checkpointed per-(session, dir) transition-edge
    * relation every registered graph key shares (see the memo comment
    * above for the persist-vs-checkpoint measurement).
    */
  private[graft] def sharedEdges(s: SparkSession, dir: String): DataFrame =
    Shared("graph.edges", s, dir) {
      transitionEdges(load(s, dir, "events")).localCheckpoint()
    }

  /** The eagerly-checkpointed per-(session, dir) node universe (every
    * observed props.k page id) — NOT derivable from [[sharedEdges]]: a
    * page seen only as a user's first event, or only in self-loops, has
    * no edge row but is still a graph node.
    */
  private[graft] def sharedNodes(s: SparkSession, dir: String): DataFrame =
    Shared("graph.nodes", s, dir) {
      load(s, dir, "events")
        .select(get_json_object(col("props"), "$.k").cast("int").as("node"))
        .where(col("node").isNotNull).distinct()
        .localCheckpoint()
    }

  def reachPaths(s: SparkSession, dir: String): DataFrame = {
    // spark.sql.cteRecursionRowLimit comes lifted with the session
    // contract (GraftSession).
    // UnionLoop re-executes the recursive step's whole subtree per
    // level, and a CTE inlines into that step — leaving the edge
    // pipeline (window + aggregate over the events table) to run once
    // PER DEPTH (measured 10.9 s at sf0.1). Hand the loop a view of the
    // shared checkpointed edge list: levels then rescan checkpoint
    // blocks. The view name is session-global and rebound per call —
    // sequential callers (the harness) always see their own dir's edges.
    sharedEdges(s, dir).createOrReplaceTempView("graft_reach_edges")
    s.sql(
      """WITH RECURSIVE seed AS (
        |  SELECT min(src) AS node FROM graft_reach_edges),
        |reach AS (
        |  SELECT node, 0 AS depth, CAST(1 AS BIGINT) AS paths FROM seed
        |  UNION ALL
        |  SELECT e.dst AS node, r.depth + 1 AS depth, r.paths * e.w AS paths
        |  FROM reach r JOIN graft_reach_edges e ON e.src = r.node
        |  WHERE r.depth < 3)
        |SELECT node, depth, CAST(sum(paths) AS BIGINT) AS n_paths
        |FROM reach WHERE depth > 0
        |GROUP BY node, depth ORDER BY depth, node""".stripMargin)
  }

  /** Degree/strength profile of the transition graph — the link-graph
    * QC companion (hub detection, weight concentration) and the cheap
    * oracle-visible pin of [[transitionEdges]]' construction.
    */
  def graphDegrees(s: SparkSession, dir: String): DataFrame = {
    val edges = sharedEdges(s, dir)
    val out = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_deg"), sum(col("w")).as("out_w"))
    val in = edges.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("in_deg"), sum(col("w")).as("in_w"))
    out.join(in, Seq("node"), "full_outer")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("out_w"), lit(0L)).as("out_w"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("in_w"), lit(0L)).as("in_w"))
      .orderBy("node")
  }

  // one PageRank iteration as SQL text, parameterized on the previous
  // rank relation's name — the oracle unrolls exactly what the Spark
  // loop unrolls
  private def iterSql(prev: String, cur: String): String =
    s"""$cur AS (
       |  SELECT n.node,
       |         150000 + (17 * COALESCE(s.c, 0)) // 20 AS r
       |  FROM nodes n LEFT JOIN (
       |    SELECT e.dst AS node, CAST(sum((p.r * e.w) // o.ow) AS BIGINT) AS c
       |    FROM edges e
       |    JOIN $prev p ON e.src = p.node
       |    JOIN outw o ON e.src = o.src
       |    GROUP BY e.dst) s ON n.node = s.node)""".stripMargin

  private val graphPrefixSql: String =
    """WITH ev AS (
      |  SELECT user_id, ts, event_id,
      |         CAST(json_extract(props, '$.k') AS INTEGER) AS k
      |  FROM events
      |  WHERE json_extract(props, '$.k') IS NOT NULL),
      |trans AS (
      |  SELECT lag(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src,
      |         k AS dst
      |  FROM ev),
      |edges AS (
      |  SELECT src, dst, count(*) AS w FROM trans
      |  WHERE src IS NOT NULL GROUP BY src, dst),
      |outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM edges GROUP BY src),
      |nodes AS (SELECT DISTINCT k AS node FROM ev)""".stripMargin

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q_pagerank",
      "weighted PageRank (3 unrolled iterations, exact integer micro-units, damping 17/20) over the per-user event-transition graph",
      pageRankQuery,
      Some(
        s"""$graphPrefixSql,
           |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
           |${iterSql("r0", "r1")},
           |${iterSql("r1", "r2")},
           |${iterSql("r2", "r3")}
           |SELECT node, CAST(r AS BIGINT) AS rank_units FROM r3 ORDER BY node""".stripMargin)),
    GraftQuery("q_hits",
      "HITS hubs/authorities (2 unrolled linear iterations, exact DECIMAL(38,0)/HUGEINT, one end normalization) over the transition graph",
      (s, dir) => hitsOnGraph(sharedEdges(s, dir), sharedNodes(s, dir)),
      Some(
        s"""$graphPrefixSql,
           |a1 AS (SELECT dst AS node, sum(w) AS a FROM edges GROUP BY 1),
           |h1 AS (SELECT e.src AS node, sum(CAST(e.w AS HUGEINT) * a1.a) AS h
           |       FROM edges e JOIN a1 ON e.dst = a1.node GROUP BY 1),
           |a2 AS (SELECT e.dst AS node, sum(CAST(e.w AS HUGEINT) * h1.h) AS a
           |       FROM edges e JOIN h1 ON e.src = h1.node GROUP BY 1),
           |scored AS (
           |  SELECT n.node,
           |         CAST(coalesce(h1.h, 0) AS DOUBLE) AS h1_units,
           |         CAST(coalesce(a2.a, 0) AS DOUBLE) AS a2_units
           |  FROM nodes n
           |  LEFT JOIN h1 ON n.node = h1.node
           |  LEFT JOIN a2 ON n.node = a2.node),
           |m AS (SELECT max(h1_units) AS mh, max(a2_units) AS ma FROM scored)
           |SELECT node, h1_units, a2_units,
           |       h1_units / mh AS hub_score,
           |       a2_units / ma AS auth_score
           |FROM scored, m ORDER BY node""".stripMargin)),
    GraftQuery("q_pagerank_docs",
      "document-quote-graph PageRank: citation-style importance prior over containment-join quote edges (sup cites sub), exact integer micro-units",
      docPageRankQuery,
      Some(
        s"""WITH ${Dedup.containmentCteSql},
           |edges AS (
           |  SELECT sup_id AS src, sub_id AS dst, CAST(1 AS BIGINT) AS w
           |  FROM directed WHERE containment >= 0.8),
           |outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM edges GROUP BY src),
           |nodes AS (SELECT doc_id AS node FROM documents),
           |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
           |${iterSql("r0", "r1")},
           |${iterSql("r1", "r2")},
           |${iterSql("r2", "r3")}
           |SELECT node AS doc_id, CAST(r AS BIGINT) AS rank_units
           |FROM r3 ORDER BY doc_id""".stripMargin)),
    GraftQuery("q_textrank_keywords",
      "TextRank corpus keywords: exact-integer PageRank over the adjacent-token co-occurrence graph, top 50",
      textRankQuery,
      Some(
        s"""WITH toks AS (
           |  SELECT ${graft.functions.TextOps.duckNormToksSql} AS t
           |  FROM documents),
           |p0 AS (
           |  SELECT unnest(list_filter(list_transform(range(1, len(t)),
           |           i -> {'src': t[i], 'dst': t[i+1]}),
           |           p -> p.src <> p.dst AND p.src <> '' AND p.dst <> '')) AS p
           |  FROM toks WHERE len(t) >= 2),
           |dir0 AS (SELECT p.src AS src, p.dst AS dst FROM p0),
           |edges AS (
           |  SELECT src, dst, count(*) AS w FROM (
           |    SELECT src, dst FROM dir0 UNION ALL SELECT dst, src FROM dir0)
           |  GROUP BY src, dst),
           |outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM edges GROUP BY src),
           |nodes AS (
           |  SELECT DISTINCT tok AS node
           |  FROM (SELECT unnest(t) AS tok FROM toks) WHERE tok <> ''),
           |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
           |${iterSql("r0", "r1")},
           |${iterSql("r1", "r2")},
           |${iterSql("r2", "r3")}
           |SELECT node AS token, CAST(r AS BIGINT) AS rank_units
           |FROM r3 ORDER BY r DESC, node LIMIT 50""".stripMargin)),
    GraftQuery("q_triangle_stats",
      "per-node triangle census + local clustering coefficient via degree-ordered edge orientation (Suri-Vassilvitskii)",
      (s, dir) => triangleQuery(s, dir),
      Some(
        s"""$graphPrefixSql,
           |und AS (
           |  -- CAST pins the node type Spark keeps (DuckDB least/greatest
           |  -- promote INTEGER to BIGINT)
           |  SELECT DISTINCT CAST(least(src, dst) AS INTEGER) AS a,
           |                  CAST(greatest(src, dst) AS INTEGER) AS b
           |  FROM edges WHERE src <> dst),
           |deg AS (
           |  SELECT node, count(*) AS deg FROM (
           |    SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und)
           |  GROUP BY node),
           |oriented AS (
           |  SELECT CASE WHEN (da.deg, a) < (db.deg, b) THEN a ELSE b END AS u,
           |         CASE WHEN (da.deg, a) < (db.deg, b) THEN b ELSE a END AS v,
           |         CASE WHEN (da.deg, a) < (db.deg, b) THEN db.deg ELSE da.deg END AS degv
           |  FROM und
           |  JOIN deg da ON da.node = a
           |  JOIN deg db ON db.node = b),
           |tris AS (
           |  SELECT o1.u, o1.v AS v1, o2.v AS v2
           |  FROM oriented o1
           |  JOIN oriented o2 ON o1.u = o2.u AND (o1.degv, o1.v) < (o2.degv, o2.v)
           |  JOIN oriented o3 ON o3.u = o1.v AND o3.v = o2.v),
           |per_node AS (
           |  SELECT node, count(*) AS tri FROM (
           |    SELECT u AS node FROM tris
           |    UNION ALL SELECT v1 FROM tris
           |    UNION ALL SELECT v2 FROM tris)
           |  GROUP BY node)
           |SELECT d.node, d.deg, COALESCE(p.tri, 0) AS tri,
           |       CASE WHEN d.deg >= 2
           |            THEN CAST(2 * COALESCE(p.tri, 0) AS DOUBLE) /
           |                 CAST(d.deg * (d.deg - 1) AS DOUBLE)
           |            ELSE 0.0 END AS lcc
           |FROM deg d LEFT JOIN per_node p ON d.node = p.node
           |ORDER BY d.node""".stripMargin)),
    GraftQuery("q_kcore",
      "bounded-round k-core peel (k=13, 4 rounds): cascading low-degree deletion, survivors with in-core degree",
      (s, dir) => kCoreQuery(s, dir),
      Some(kCoreOracleSql())),
    GraftQuery("q_kcore_fixpoint",
      "exact k-core (k=13): checkpointed peel loop to the fixpoint; oracle unrolled to the 100-node domain bound",
      (s, dir) => kCoreFixpointQuery(s, dir),
      Some(kCoreFixpointOracleSql())),
    GraftQuery("q_label_propagation",
      "synchronous weighted label propagation (3 iterations, min-label tie-break) — transition-graph communities + sizes",
      (s, dir) => labelPropQuery(s, dir),
      Some {
        def lpaIter(prev: String, cur: String): String =
          s"""$cur AS (
             |  SELECT n.node, COALESCE(b.lbl, n.node) AS lbl
             |  FROM nodes2 n LEFT JOIN (
             |    SELECT node, -((max({'ws': ws, 'nl': -lbl})).nl) AS lbl FROM (
             |      SELECT a.node, p.lbl, CAST(sum(a.w) AS BIGINT) AS ws
             |      FROM adj a JOIN $prev p ON a.nbr = p.node
             |      GROUP BY a.node, p.lbl) GROUP BY node) b ON n.node = b.node)""".stripMargin
        s"""$graphPrefixSql,
           |wab AS (
           |  -- CAST: DuckDB least/greatest promote INTEGER -> BIGINT
           |  SELECT CAST(least(src, dst) AS INTEGER) AS a,
           |         CAST(greatest(src, dst) AS INTEGER) AS b,
           |         CAST(sum(w) AS BIGINT) AS w
           |  FROM edges WHERE src <> dst GROUP BY least(src, dst), greatest(src, dst)),
           |adj AS (
           |  SELECT a AS node, b AS nbr, w FROM wab
           |  UNION ALL SELECT b AS node, a AS nbr, w FROM wab),
           |nodes2 AS (SELECT DISTINCT k AS node FROM ev),
           |l0 AS (SELECT node, node AS lbl FROM nodes2),
           |${lpaIter("l0", "l1")},
           |${lpaIter("l1", "l2")},
           |${lpaIter("l2", "l3")},
           |sizes AS (SELECT lbl, count(*) AS csize FROM l3 GROUP BY lbl)
           |SELECT l.node, l.lbl AS community, s.csize
           |FROM l3 l JOIN sizes s ON l.lbl = s.lbl
           |ORDER BY l.node""".stripMargin
      }),
    GraftQuery("q_reach_paths",
      "RECURSIVE CTE (UnionLoop): depth-bounded weighted path counts from the least transition-graph node",
      reachPaths,
      Some(
        s"""${graphPrefixSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
           |seed AS (SELECT min(src) AS node FROM edges),
           |reach AS (
           |  SELECT node, 0 AS depth, CAST(1 AS BIGINT) AS paths FROM seed
           |  UNION ALL
           |  SELECT e.dst AS node, r.depth + 1 AS depth, r.paths * e.w AS paths
           |  FROM reach r JOIN edges e ON e.src = r.node
           |  WHERE r.depth < 3)
           |SELECT node, depth, CAST(sum(paths) AS BIGINT) AS n_paths
           |FROM reach WHERE depth > 0
           |GROUP BY node, depth ORDER BY depth, node""".stripMargin)),
    GraftQuery("q_graph_degrees",
      "transition-graph degree/strength profile (in/out degree and weight per node)",
      graphDegrees,
      Some(
        s"""$graphPrefixSql,
           |o AS (SELECT src AS node, count(*) AS out_deg, CAST(sum(w) AS BIGINT) AS out_w
           |      FROM edges GROUP BY src),
           |i AS (SELECT dst AS node, count(*) AS in_deg, CAST(sum(w) AS BIGINT) AS in_w
           |      FROM edges GROUP BY dst)
           |SELECT COALESCE(o.node, i.node) AS node,
           |       COALESCE(out_deg, 0) AS out_deg, COALESCE(out_w, 0) AS out_w,
           |       COALESCE(in_deg, 0) AS in_deg, COALESCE(in_w, 0) AS in_w
           |FROM o FULL OUTER JOIN i ON o.node = i.node
           |ORDER BY node""".stripMargin)),
  )
}
