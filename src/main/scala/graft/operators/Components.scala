package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.sources.Tables

/** Connected components over the near-dup candidate graph
  * (SURVEY.md §2 #75) — the step that turns pair emitters
  * ([[Dedup.minhashPairs]], [[Dedup.ngramJaccardPairs]]) into an
  * actual deduplication: docs chained by pairwise similarity collapse
  * into one cluster with one canonical representative (the min
  * doc_id), which is what a production pipeline keeps.
  *
  * Scale design (§5): iterative min-label propagation with pointer
  * jumping. Each round is (a) [[HopsPerRound]] chained hash joins
  * (symmetric edges ⋈ labels) each with a map-side-combined groupBy —
  * the "take the minimum of my neighbors' labels" move — and (b) one
  * labels ⋈ labels self-join that path-compresses l(v) ← l(l(v)).
  * Plain propagation converges in O(diameter) rounds; the hops and
  * the jump each multiply the distance the minimum travels per round
  * (measured at sf0.1: 14 rounds with one hop, 7 with two), a
  * CONSTANT-factor cut — a full pointer-doubling inner loop would be
  * O(log d) in theory but pays one materialization per doubling,
  * which costs more than it saves at real near-dup cluster depths
  * (and degenerated badly when measured; see [[HopsPerRound]]).
  * No driver-side data, no collect. Lineage is truncated every round
  * with `localCheckpoint` (without it the loop's plan doubles per
  * iteration and Catalyst re-analysis dominates).
  *
  * Convergence is detected with a decimal-exact sum of labels: min
  * propagation only ever decreases a label, so the label sum strictly
  * decreases until the fixed point — one scalar aggregate per round
  * instead of a change-count join.
  */
object Components {

  /** Read by no operator: no route broadcasts a whole edge set (the
    * graph gates are [[PrBroadcastNodeMax]] and
    * [[TriBroadcastEdgeMax]]). Kept only because
    * `perfbench/Gates.scala` compiles against it; its `edge_broadcast`
    * row reports a route that no operator takes. */
  val BroadcastEdgeMax = 20000000L

  /** Trigram-Jaccard edge threshold: 0.5 keeps the planted dup
    * families connected (their pairwise Jaccard is ≥0.6 by
    * construction) while random same-block pairs in the synthetic
    * vocabulary sit well below it. */
  val EdgeThreshold = 0.5

  /** Hard iteration cap. Each round advances the component minimum
    * ~5 edge-hops (two propagation hops × the pointer jump), so 25
    * rounds cover components of diameter ≈100+ — far past any real
    * near-dup cluster (sf0.1's deepest length-block chain converges
    * in 7). Exceeding the cap throws rather than returning
    * under-merged labels. */
  val MaxIters = 25

  /** Propagation hops per materialized round. Each hop is a
    * sym ⋈ labels join + min-agg CHAINED linearly (hop 2 consumes
    * hop 1's plan — no self-join, no plan duplication), so k hops
    * ride one scheduled job and one checkpoint; the round then adds
    * one pointer jump computed LAZILY off the checkpoint. Variants
    * measured at sf0.1 before settling here: multiple lazy JUMPS
    * double the unshared subplan per jump (2× slower at 3);
    * checkpointing every jump individually degenerates exponentially
    * in late rounds (0.3 s → 242 s per jump by round 11 — per-round
    * block/lineage interactions, not data size); single-hop rounds
    * are stable but need 14 of them — two hops halve the round count
    * for ~30% less wall-clock. */
  val HopsPerRound = 2

  /** Min-label connected components: `nodes` = (id), `edges` =
    * (a, b) undirected with both endpoints ⊆ `nodes` (an edge naming
    * an unknown id would mint a label row for it). Returns
    * (id, comp) where comp = min id reachable from id (singletons
    * map to themselves).
    *
    * The self-loop (id, id) rows live in the persisted edge table, so
    * the per-round plan is join→agg→jumps with NO per-round union —
    * a union of the labels into a plan that self-joins trips
    * Catalyst's union-constraint rewrite (attribute dedup) and would
    * recompute per branch anyway. One localCheckpoint materializes
    * each round; the convergence sum then reads the checkpoint. */
  def connectedComponents(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val sym = edges.select(col("a").as("src"), col("b").as("dst"))
      .union(edges.select(col("b").as("src"), col("a").as("dst")))
      .union(nodes.select(col("id").as("src"), col("id").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // store the edge blocks in one job before the rounds: the first
    // round's stages run as concurrent jobs, and both would wait on
    // the same block ("Block rdd_… already exists") while one task
    // computes it
    sym.count()
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("comp").cast("decimal(38,0)")).as("s"))
        .head.getDecimal(0)
    var labels = nodes.select(col("id"), col("id").as("comp"))
      // pin: loop seed; each round reads the previous round's pin
      .localCheckpoint()
    var prev = labelSum(labels)
    var it = 0
    var done = prev == null // empty node set
    try {
      while (!done && it < MaxIters) {
        // "min over my neighbors' labels" (self-loop keeps own label),
        // HopsPerRound times in one linear chain; the checkpoint
        // truncates the round's lineage and the jump self-joins it
        // without tripping Catalyst's union-constraint rewrite (the
        // plan under the join is a LogicalRDD, not a union)
        val stepped = (1 to HopsPerRound).foldLeft(labels) { (cur, _) =>
          sym.join(cur.withColumnRenamed("id", "src"), "src")
            .groupBy(col("dst").as("id")).agg(min(col("comp")).as("comp"))
        }.localCheckpoint() // pin: per-round truncation (plan doubles)
        // pointer jumping: a label is always a node id, so every comp
        // matches exactly one label row — l(v) <- min(l(v), l(l(v)))
        val next = stepped
          .join(stepped.select(col("id").as("cid"), col("comp").as("ccomp")),
            col("comp") === col("cid"))
          .select(col("id"), least(col("comp"), col("ccomp")).as("comp"))
        val cur = labelSum(next)
        done = cur.compareTo(prev) == 0
        prev = cur
        labels = next
        it += 1
      }
      if (!done && it >= MaxIters)
        // unconverged labels are a CORRECTNESS hazard (components
        // under-merged) — fail loudly instead of returning them
        throw new IllegalStateException(
          s"connectedComponents did not converge in $MaxIters rounds")
      labels
    } finally sym.unpersist()
  }

  /** Corpus-keyed near-dup components fixed point (a CorpusCache
    * frame): documents-nodes + blocked trigram-Jaccard edges ≥
    * [[EdgeThreshold]] → pinned (id, comp) labels, computed ONCE per
    * corpus. Three consumers — #75 dedup_components, #121
    * cluster_split, #163 canonical_docs — treat the fixed point as a
    * build-once/query-many model artifact instead of each re-running
    * the O(rounds × |E|) propagation; bounded state (|docs| label
    * rows, executor-side, pinned by CorpusCache). */
  def nearDupComponents(spark: SparkSession, dir: String): DataFrame =
    graft.CorpusCache.df(spark, dir, "documents", "neardup_components") {
      val docs = Tables.load(spark, dir, "documents")
      val edges = Dedup.ngramJaccardPairs(docs)
        .filter(col("jac") >= EdgeThreshold)
        .select("a", "b")
      connectedComponents(docs.select(col("doc_id").as("id")), edges)
    }

  /** Corpus-keyed distinct co-purchase part pairs (a < b) — the
    * basket graph's undirected edge list, shared by #146 PageRank,
    * #166 triangles and #178 k-hop BFS (same cache discipline as
    * [[nearDupComponents]]): one (orderkey, partkey) collapse + one
    * key self-join per corpus, pinned. Bounded by the part
    * vocabulary², generated basket-bounded. */
  def basketPairs(spark: SparkSession, dir: String): DataFrame =
    graft.CorpusCache.df(spark, dir, "lineitem", "basket_pairs") {
      val lines = basketLines(spark, dir)
      lines.select(col("l_orderkey"), col("l_partkey").as("a"))
        .join(lines.select(col("l_orderkey"), col("l_partkey").as("b")),
          "l_orderkey")
        .filter(col("a") < col("b"))
        .select("a", "b").distinct()
    }

  /** Corpus-keyed COUNTED co-purchase pairs (pa < pb, support =
    * co-ordered basket count) — one artifact up from [[basketPairs]]:
    * #143 co-occurrence and #191 item-CF each re-ran the same
    * lines⋈lines self-join per call (round 15). Bounded by the part
    * vocabulary², generated basket-bounded. */
  def basketPairCounts(spark: SparkSession, dir: String): DataFrame =
    graft.CorpusCache.df(spark, dir, "lineitem", "basket_pair_counts") {
      val lines = basketLines(spark, dir)
      lines.select(col("l_orderkey"), col("l_partkey").as("pa"))
        .join(lines.select(col("l_orderkey"), col("l_partkey").as("pb")),
          "l_orderkey")
        .filter(col("pa") < col("pb"))
        .groupBy("pa", "pb").agg(count(lit(1)).as("support"))
    }

  /** Corpus-keyed DISTINCT (order, part) basket collapse — the input
    * every basket-graph/association operator starts from (#143
    * co-occurrence, #191 item-CF, #210 itemsets, the [[basketPairs]]
    * graph): one lineitem scan + distinct per corpus, pinned. */
  def basketLines(spark: SparkSession, dir: String): DataFrame =
    graft.CorpusCache.df(spark, dir, "lineitem", "basket_lines") {
      Tables.load(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
    }

  /** Corpus-keyed SYMMETRIZED basket edges (both directions of
    * [[basketPairs]]) — hoisted from khopReach (round 21) so the
    * adjacency artifact below shares it. */
  def basketPairsSym(spark: SparkSession, dir: String): DataFrame =
    graft.CorpusCache.df(spark, dir, "lineitem", "basket_pairs_sym") {
      val base = basketPairs(spark, dir)
      base.unionByName(base.select(col("b").as("a"), col("a").as("b")))
    }

  /** Corpus-keyed ADJACENCY of the basket graph: one row per node —
    * (node, sorted neighbor array). The round-21 optimization artifact
    * (guide §2.3/§2.4): the per-iteration consumers (PageRank's
    * contribution join, k-hop's frontier expansion) previously
    * re-scanned the full EDGE LIST per round (2.4M rows ≈ 196 MB of
    * in-memory blocks at sf0.1, measured via JobProfile) — the
    * adjacency form carries the same information in |nodes| rows
    * (~20k, ~40 MB), so a round scans 5× fewer bytes and probes its
    * hash join per NODE instead of per EDGE; the fan-out explode is
    * pipelined into the same stage (no shuffle of the arrays).
    * Neighbor arrays are sorted (collect_list is order-free; the sort
    * pins determinism) and bounded by the catalog, the same bound the
    * old per-dst aggregate carried. Build-once per corpus, cold mode
    * (SPARK_GRAFT_COLD=1) clears and re-pays it like every other
    * graph artifact. */
  def basketAdjacency(spark: SparkSession, dir: String): DataFrame =
    graft.CorpusCache.df(spark, dir, "lineitem", "basket_adj") {
      basketPairsSym(spark, dir)
        .groupBy(col("a").as("node"))
        .agg(sort_array(collect_list(col("b"))).as("nbrs"))
    }

  /** Corpus-keyed DEGREE-ORIENTED adjacency: for each node u, the
    * sorted array of out-neighbors under the (deg, id) orientation
    * [[triangleCount]] uses — every undirected edge appears exactly
    * once, pointing from its (deg, id)-smaller endpoint. Out-degrees
    * are arboricity-bounded (the orientation's point), so no row's
    * array explodes on a degree hub. Same build-once discipline as
    * [[basketAdjacency]]. */
  def orientedAdjacency(spark: SparkSession, dir: String): DataFrame =
    graft.CorpusCache.df(spark, dir, "lineitem", "basket_adj_oriented") {
      val pairs = basketPairs(spark, dir)
      val deg = pairs.select(col("a").as("v"))
        .unionByName(pairs.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      val withDeg = pairs
        .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
        .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
      withDeg.select(
          when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")),
            struct(col("a").as("src"), col("b").as("dst")))
            .otherwise(struct(col("b").as("src"), col("a").as("dst")))
            .as("e"))
        .groupBy(col("e.src").as("src"))
        .agg(sort_array(collect_list(col("e.dst"))).as("nbrs"))
    }

  /** #75 Near-dup dedup clusters over `documents`: edges = blocked
    * trigram-Jaccard pairs ≥ [[EdgeThreshold]], components via
    * [[connectedComponents]], annotated with cluster size and the
    * canonical-keep flag. Every doc appears exactly once (singletons
    * are their own one-doc cluster), so `is_canonical = 1` rows ARE
    * the deduplicated corpus. */
  def dedupComponents(spark: SparkSession, dir: String): DataFrame = {
    val comp = nearDupComponents(spark, dir)
    val sizes = comp.groupBy("comp").agg(count(lit(1)).as("comp_size"))
    comp.join(sizes, "comp")
      .select(col("id").as("doc_id"), col("comp").as("comp_id"),
        col("comp_size"),
        when(col("id") === col("comp"), 1L).otherwise(0L).as("is_canonical"))
      .orderBy("doc_id")
  }

  /** PageRank damping as an exact integer fraction: 0.85 = 17/20, so
    * one iteration is `base + (17·Σcontrib) DIV 20` — floor division,
    * no float anywhere in the loop. */
  val PrIters = 5
  val PrScale = 1000000000L // rank 1.0 ≡ 10⁹ integer units
  val PrBase = 150000000L   // (1−d)·scale = 0.15·10⁹, exact

  /** Node-count bound for PageRank's broadcast route: ~500k
    * (node, deg, rank) rows ≈ 12 MB — a catalog, never a fact table.
    * (ADVICE r14: the previous BroadcastEdgeMax/4 = 5M gate let a
    * ~120 MB table re-broadcast every round right at the boundary.) */
  val PrBroadcastNodeMax = 500000L

  /** Directed-edge bound for broadcasting the whole ORIENTED
    * adjacency into [[triangleCount]]'s closing join: 5M out-edges
    * ≈ 40 MB of longs plus array overhead — comfortably inside an
    * executor, far under the 8 GB broadcast cap. Above it the closing
    * join reverts to the round-14 shuffled form. */
  val TriBroadcastEdgeMax = 5000000L

  /** #146 PageRank over the co-purchase part graph — the influence
    * ranking a catalog/recommendation pipeline derives from the same
    * basket edges as #143 (distinct co-ordered pairs, undirected).
    * The whole iteration is INTEGER arithmetic: ranks live in 10⁻⁹
    * units, each neighbor contribution is `rank DIV degree` (floor),
    * damping is the exact fraction 17/20 — so five iterations are
    * bit-identical on any partitioning and on both engines (a float
    * PageRank's Σ over neighbors is order-dependent and never
    * hash-comparable). Floor-truncation loses < deg·10⁻⁹ rank mass
    * per node per round — a defined metric, same on both sides.
    *
    * Scale: the standard distributed PageRank shape — per iteration
    * one ranks⋈edges shuffle join + one destination-keyed aggregate;
    * edges and the node list are pinned once (localCheckpoint) so the
    * 5-deep lineage re-reads neither. Hot (high-degree) nodes are the
    * classic skew; the contribution join partial-aggregates map-side. */
  def pageRank(spark: SparkSession, dir: String): DataFrame = {
    // Broadcast the per-iteration rank/contribution tables when the
    // node set is dimension-bounded (a co-purchase graph's nodes are
    // the part vocabulary — catalog-sized, never fact-sized): each
    // round then costs ONE exchange (the destination aggregate,
    // map-side-combined) instead of three — the per-round DAG floor
    // the r13 verdict measured. Above the gate every join reverts to
    // the shuffled form, the only unbounded-safe shape. Gate at
    // [[PrBroadcastNodeMax]] — genuinely catalog-sized (ADVICE r14:
    // the old 5M gate allowed a ~120 MB broadcast per round).
    val adj = basketAdjacency(spark, dir)
    val nNodes = graft.CorpusCache.value(spark, dir, "lineitem",
      "basket_n_nodes")(adj.count())
    val bcastNodes = nNodes <= PrBroadcastNodeMax
    if (bcastNodes) {
      // ADJACENCY iteration (round 21, guide §2.3): each round's
      // contribution pass previously joined the 2-per-edge EDGE LIST
      // against the broadcast ranks — a per-edge hash probe over
      // ~196 MB of in-memory blocks per round at sf0.1 (JobProfile:
      // 6 × ~180 ms jobs, the whole cell's cost). Here the round
      // probes once per NODE over the |nodes|-row adjacency and
      // explodes the neighbor array INSIDE the stage, so per round
      // only the destination aggregate exchanges rows. Contributions
      // are the same exact integers summed per dst (longs — order
      // free), so ranks are bit-identical to the edge-list form.
      val deg = adj.select(col("node"),
        size(col("nbrs")).cast("long").as("deg"))
      var ranks = deg.withColumn("rank_u", lit(PrScale))
      for (it <- 1 to PrIters) {
        // DIV, not `/`: double division of exact integers can round
        // x.999… up before a cast truncates, off-by-one vs true floor
        val contrib = adj
          .join(broadcast(ranks.select(col("node").as("cn"),
            expr("rank_u DIV deg").as("c"))),
            col("node") === col("cn"))
          .select(explode(col("nbrs")).as("dst"), col("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("s"))
        ranks = deg
          .join(broadcast(contrib), col("node") === contrib("dst"), "left")
          .select(col("node"), col("deg"),
            (lit(PrBase) + expr("(17 * coalesce(s, 0L)) DIV 20"))
              .as("rank_u"))
        // ADVICE r21: near the 500k-node gate the 5-deep nested
        // broadcast lineage means an executor-loss broadcast rebuild
        // replays the whole chain and driver-side plan nesting grows
        // per round — truncate per round for node sets within 10× of
        // the gate (the small-graph default skips the extra job).
        if (nNodes > PrBroadcastNodeMax / 10 && it < PrIters)
          // pin: per-round truncation near the gate only
          ranks = ranks.localCheckpoint()
      }
      pageRankTop(ranks)
    } else {
      // shuffled route: the only unbounded-safe shape — per-edge
      // rows, shuffled joins, per-round lineage truncation (a nested
      // broadcast rebuild can never replay the whole chain)
      val pairs = basketPairs(spark, dir)
      val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
        // pin: read by every round of the shuffled route
        .localCheckpoint()
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
        // pin: read by every round of the shuffled route
        .localCheckpoint()
      var ranks = deg.select(col("src").as("node"), col("deg"),
        lit(PrScale).as("rank_u"))
      for (it <- 1 to PrIters) {
        val contrib = edges
          .join(ranks.select(col("node"), expr("rank_u DIV deg").as("c")),
            col("src") === col("node"))
          .groupBy(col("dst")).agg(sum(col("c")).as("s"))
        ranks = deg.select(col("src").as("node"), col("deg"))
          .join(contrib, col("node") === contrib("dst"), "left")
          .select(col("node"), col("deg"),
            (lit(PrBase) + expr("(17 * coalesce(s, 0L)) DIV 20"))
              .as("rank_u"))
        // pin: per-round truncation of the shuffled route
        if (it < PrIters) ranks = ranks.localCheckpoint()
      }
      pageRankTop(ranks)
    }
  }

  /** TakeOrdered top-20 FIRST (no global window over the catalog),
    * then rank the 20 survivors; deg already rides the rank state.
    * partitionBy(lit(0)): the window runs over the 20 survivors by
    * construction — the literal key documents that intent (ADVICE
    * r21: it does NOT silence WindowExec's "No Partition Defined"
    * warning, which Catalyst's constant folding preserves; the bench
    * harnesses quiet that logger instead — see Bench.scala). */
  private def pageRankTop(ranks: DataFrame): DataFrame = {
    val top = ranks
      .orderBy(col("rank_u").desc, col("node").asc).limit(20)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(0))
      .orderBy(col("rank_u").desc, col("node").asc)
    top.withColumn("rnk", row_number().over(w).cast("long"))
      .select(col("rnk"), col("node").as("part_id"), col("deg"),
        col("rank_u"))
      .orderBy("rnk")
  }

  /** #166 Triangle counting over the co-purchase part graph — the
    * clustering-structure metric beside #75's components and #146's
    * PageRank ("do these products form cliques or chains?").
    *
    * Degree-ordered orientation (the standard O(m^1.5) mitigation):
    * every undirected edge points from its (deg, id)-smaller endpoint
    * to the larger, so wedges are enumerated only from each
    * triangle's SMALLEST vertex (out-degrees are bounded by graph
    * arboricity — a hub's |neighbors|² pair blow-up never happens)
    * and each triangle is counted exactly once by closing the
    * (b, c) oriented edge. Pure integer joins; per-part triangle
    * participation from a 3-role explode, top-10 deterministic. */
  def triangleCount(spark: SparkSession, dir: String): DataFrame = {
    // EDGE-ITERATOR closing (round 14): for each oriented edge
    // (u, v), every common out-neighbor w ∈ N⁺(u) ∩ N⁺(v) closes the
    // triangle {u, v, w} exactly once (u the orientation-smallest
    // vertex; w out-ranks v, so (u,v,w) ≡ the old wedge triple).
    // The earlier wedge-enumeration plan MATERIALIZED the O(m^1.5)
    // wedge set (41M rows at sf0.1) and shuffled it into a semi-join
    // — two 41M-row exchanges that were this operator's entire cost
    // (6.1 s solo; a broadcast-edges variant measured WORSE, 9.5 s).
    //
    // Round 21 (guide §2.3/§3.1, JobProfile-measured): the round-14
    // form still SHUFFLED the neighbor arrays — two id-keyed
    // sort-merge joins attached nu/nv to each of the 1.2M oriented
    // rows and exchanged the array-laden result (154 MB written /
    // 163 MB read, over half the cell). The oriented edge list IS
    // explode(orientedAdjacency), so below the broadcast gate the
    // whole closing pipeline — explode to (u, nu, v), broadcast-hash
    // attach nv, intersect, 3-role explode, partial aggregate — runs
    // in ONE stage over the |nodes|-row artifact with ZERO array
    // bytes shuffled; only the per-part tally exchanges. The
    // broadcast holds the oriented adjacency (~8 B per edge + array
    // overhead), gated on the directed edge count; above the gate the
    // round-14 shuffled form runs unchanged (the unbounded-safe
    // shape). Per-row cost stays d⁺(u)+d⁺(v), arboricity-bounded.
    val adjO = orientedAdjacency(spark, dir)
    val mEdges = graft.CorpusCache.value(spark, dir, "lineitem",
        "basket_m_oriented") {
      adjO.agg(sum(size(col("nbrs")))).head() match {
        case r if r.isNullAt(0) => 0L
        case r => r.getLong(0)
      }
    }
    // Round 22 (VERDICT r21 #3): the closing N⁺(u)∩N⁺(v) was the last
    // `array_intersect` in a graph/gram hot path — per oriented edge
    // it built an OpenHashSet over nu and hashed every element of nv,
    // the exact per-pair cost the round-21 gram kernels eliminated
    // elsewhere. The adjacency arrays are sorted distinct longs by
    // construction (sort_array over the distinct-pairs collapse), so
    // the linear-merge SortedLongIntersect kernel computes the same
    // intersection (same elements, same order) with zero per-pair
    // allocation beyond the result array.
    val tris = triangleTriples(adjO, mEdges)
    // tris feeds ONE per-part tally (no checkpoint): the 3-role
    // explode feeds the tally, and the grand total rides the PLAN as
    // Σ n_tri / 3 over that tiny table — an
    // exact integer (every triangle contributes 3 explode rows) and
    // a broadcast one-row aggregate, never a driver count() action
    // (VERDICT r13 #5)
    val perPart = tris.select(explode(array(
        col("pa"), col("pb"), col("pc"))).as("part_id"))
      .groupBy("part_id").agg(count(lit(1)).as("n_tri"))
    val total = perPart.agg(expr("sum(n_tri) div 3").as("total_tri"))
    // partitionBy(lit(0)): runs over the 10 survivors by construction
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(0))
      .orderBy(col("n_tri").desc, col("part_id").asc)
    perPart.orderBy(col("n_tri").desc, col("part_id").asc).limit(10)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .crossJoin(broadcast(total))
      .select("rnk", "part_id", "n_tri", "total_tri")
      .orderBy("rnk")
  }

  /** The (pa, pb, pc) triangle-triple stream of [[triangleCount]] —
    * extracted so its pre-checkpoint plan (where the closing
    * intersect lives) stays assertable by the spec and dumpable by
    * Plans even though triangleCount's tally checkpoint truncates
    * the outer explain. */
  private[graft] def triangleTriples(adjO: DataFrame,
      mEdges: Long): DataFrame = {
    import graft.functions.TextFunctions.sortedIntersect
    if (mEdges <= TriBroadcastEdgeMax) {
      adjO.select(col("src").as("pa"), col("nbrs").as("nu"))
        .select(col("pa"), col("nu"), explode(col("nu")).as("pb"))
        .join(broadcast(adjO.select(col("src").as("pb"),
          col("nbrs").as("nv"))), "pb")
        .select(col("pa"), col("pb"),
          explode(sortedIntersect(col("nu"), col("nv"))).as("pc"))
    } else {
      val oriented = adjO.select(col("src"),
        explode(col("nbrs")).as("dst"))
      val adj = adjO.select(col("src").as("u"), col("nbrs"))
      oriented
        .join(adj.select(col("u"), col("nbrs").as("nu")),
          col("src") === col("u"))
        .join(adj.select(col("u").as("v"), col("nbrs").as("nv")),
          col("dst") === col("v"))
        .select(col("src").as("pa"), col("dst").as("pb"),
          explode(sortedIntersect(col("nu"), col("nv"))).as("pc"))
    }
  }

  /** #163 Canonical-document selection per near-dup cluster: within
    * each #75 component keep the LONGEST member (most-complete copy),
    * ties to the smallest doc_id — the production dedup rule ("keep
    * the best duplicate", not "keep the first seen"), reported with
    * the cluster's member count and the chars dropped by collapsing
    * to the canonical copy.
    *
    * Pure composition over the verified components fixed point; the
    * winner is ONE max-of-struct ((n_chars, −doc_id)) aggregate at
    * component grain — never a window over members, so a 10⁶-copy
    * boilerplate cluster partial-aggregates map-side. */
  def canonicalDocs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val comp = nearDupComponents(spark, dir)
    comp.join(docs, col("id") === col("doc_id"))
      .groupBy("comp")
      .agg(count(lit(1)).as("n_members"),
        sum(col("n_chars")).as("total_chars"),
        max(struct(col("n_chars"), (-col("doc_id")).as("neg_id"))).as("m"))
      .select(col("comp"), col("n_members"),
        (-col("m.neg_id")).as("kept_id"),
        col("m.n_chars").as("kept_chars"),
        (col("total_chars") - col("m.n_chars")).as("dropped_chars"))
      .orderBy("comp")
  }

  /** BFS depth cap for [[khopReach]]. */
  val KhopMaxHops = 3

  /** #178 K-hop BFS reachability over the co-purchase part graph:
    * min-hop distance from a deterministic seed set (partkey ≡ 0
    * mod 97) out to [[KhopMaxHops]] hops — "what does this product
    * family pull in within N recommendation steps", the bounded
    * traversal beside the global fixed points (#75 components, #146
    * PageRank). Output: per hop a population count + partkey-sum
    * checksum, plus a hop = −1 row for parts unreachable within the
    * cap (isolated parts included).
    *
    * Scale: textbook distributed BFS — per hop ONE frontier⋈edges
    * hash join + a dst-grain map-side-combined distinct, then an
    * anti-join against the visited set; work per round is bounded by
    * the true frontier, never the graph. Edges are the pinned #143
    * basket-bounded collapse (Σ basket², never catalog²). The hop
    * cap bounds rounds; lineage truncated per round like the
    * [[dedupComponents]] loop. */
  def khopReach(spark: SparkSession, dir: String): DataFrame = {
    // Round 21 (guide §2.3/§2.4, JobProfile-measured): the per-hop
    // frontier⋈edges join scanned — and, with the edge list's
    // statistics unknown past its checkpoint, SHUFFLED — the full
    // 2-per-edge list every hop (~196 MB in-memory + a 21 MB exchange
    // per hop at sf0.1). Below the catalog gate the hop now probes
    // the |nodes|-row adjacency artifact against the BROADCAST
    // frontier (frontier ⊆ nodes, so the gate that bounds the node
    // set bounds the broadcast) and explodes neighbors in-stage: per
    // hop the only exchange left is the dst-grain distinct. Above the
    // gate the frontier⋈edges shuffled form runs unchanged. Neighbor
    // sets are identical either way, so hops and hashes are too.
    val adj = basketAdjacency(spark, dir)
    val nNodes = graft.CorpusCache.value(spark, dir, "lineitem",
      "basket_n_nodes")(adj.count())
    lazy val pairs = basketPairsSym(spark, dir)
    val part = Tables.load(spark, dir, "part").select("p_partkey")
    var visited = part
      .filter(col("p_partkey") % 97 === 0)
      .select(col("p_partkey").as("node"), lit(0L).as("hop"))
    // ADVICE r21: the hop-1 frontier is the PART-CATALOG seed slice,
    // which the adjacency node count does not bound — a corpus with a
    // huge part catalog but a small basket graph would broadcast an
    // ungated frontier. Gate on BOTH counts (hop ≥ 2 frontiers are
    // ⊆ nodes, so the node gate alone bounds them; the seed count is
    // corpus-keyed like the node count, one tiny catalog scan).
    val nSeeds = graft.CorpusCache.value(spark, dir, "lineitem",
      "khop_n_seeds")(visited.count())
    val bcastFrontier =
      nNodes <= PrBroadcastNodeMax && nSeeds <= PrBroadcastNodeMax
    var frontier = visited
    for (h <- 1 to KhopMaxHops) {
      val expanded =
        if (bcastFrontier)
          adj.join(broadcast(frontier.select(col("node"))), "node")
            .select(explode(col("nbrs")).as("node"))
        else
          frontier.join(pairs, frontier("node") === pairs("a"))
            .select(col("b").as("node"))
      val next = expanded.distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
        .select(col("node"), lit(h.toLong).as("hop"))
        // pin: per hop; `visited` stays a lazy union of these pins
        .localCheckpoint()
      visited = visited.unionByName(next)
      frontier = next
    }
    val perHop = visited.groupBy("hop")
      .agg(count(lit(1)).as("n_parts"), sum(col("node")).as("sum_key"))
    val unreached = part
      .join(visited.select(col("node").as("p_partkey")),
        Seq("p_partkey"), "left_anti")
      .agg(count(lit(1)).as("n_parts"),
        coalesce(sum(col("p_partkey")), lit(0L)).as("sum_key"))
      .select(lit(-1L).as("hop"), col("n_parts"), col("sum_key"))
    perHop.unionByName(unreached).orderBy("hop")
  }
}
