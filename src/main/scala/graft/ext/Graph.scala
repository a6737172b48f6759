package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.exec.Share

/** Graph centrality over candidate-pair graphs — the ranking
  * companion of [[Dedup.connectedComponents]]' clustering.
  *
  * The pipeline motivation: near-dup CLUSTERS say which documents are
  * interchangeable; within a big cluster the keep/drop decision wants
  * a centrality signal (the most-connected member is the "canonical"
  * version all the others approximate — mirrors / re-posts / partial
  * copies point at it). PageRank over the pair graph is that signal,
  * and the same operator ranks any link-shaped relation (domain
  * graphs for crawl prioritization, citation graphs).
  *
  * Cross-engine determinism (SURVEY.md §8.3): ranks live in EXACT
  * scale-9 integer units (`rank_u` = rank × 10⁹ as BIGINT). Every
  * per-edge contribution is an integer floor division (`ru div deg`),
  * the damping step is integer `(85 · Σ) div 100`, and sums of longs
  * are exact under any partitioning — no double accumulates anywhere
  * in the loop, so the result is bit-identical in any engine that
  * floors positive integer division (Spark `div` ≙ DuckDB `//`).
  * The deliberately-dropped division remainders are the price of
  * determinism and are identical in both engines.
  *
  * Scale shape: the edge set is materialized once (the candidate
  * generation upstream — MinHash/LSH — is never re-derived per
  * round, Dedup.scala §8.4 rule 8); each iteration is ONE equi-join
  * (edges ⋈ ranks on src) + one map-side-combined sum by dst + one
  * broadcast-class join back to the node list. Loop state is
  * [[Share.checkpoint]]d every round (fresh leaf — rule 15). Work per
  * round scales with |edges|, not |corpus|: a pair graph scales with
  * duplicates, and a domain graph with domains.
  */
/** Anti-join strategy for [[Graph.linkPrediction]]'s existing-edge
  * exclusion — one value per physical regime, so a caller can pin any
  * of the three (the old `Option[Boolean]` switch could only reach
  * broadcast and sort-merge).
  */
sealed trait EdgeJoinStrategy
object EdgeJoinStrategy {
  /** Probe the materialized edge count and pick by the
    * [[Graph.BroadcastMaxEdges]] / [[Graph.ShuffleHashMaxEdges]]
    * thresholds (the default).
    */
  case object Auto extends EdgeJoinStrategy
  case object Broadcast extends EdgeJoinStrategy
  case object ShuffleHash extends EdgeJoinStrategy
  case object SortMerge extends EdgeJoinStrategy
}

object Graph {

  /** Damped PageRank (d = 0.85, the classic constant, expressed as
    * the exact rational 85/100) over an UNDIRECTED pair graph given
    * as unique (srcCol < dstCol) pairs — each pair becomes two
    * directed edges. Every node of the symmetrized graph has
    * in-degree ≥ 1 and out-degree ≥ 1, so no dangling-mass handling
    * is needed (for general directed graphs a dangling node's mass
    * is dropped, the classic map-reduce formulation).
    *
    * Returns one row per edge-connected node:
    * (node, rank_u, rank) — `rank_u` the exact scale-9 integer rank,
    * `rank` its double rendering (single exact division, tie-safe).
    * Ranks start uniform at (10⁹ div N) and iterate
    * `jump + d · Σ_in (rank div deg)` for `iters` rounds.
    */
  /** Symmetrized edge relation for the fixed-round rank recurrences —
    * the stats-reset materialize, unchanged from r13, and that is a
    * MEASURED decision (r14 sf10 sweep, q_ppr 11.5 s sf1 → 302.9 s
    * sf10 = 26× per 10×, the round's one over-bar ratio; both obvious
    * plan changes were tried and are WORSE):
    *  - pre-partitioning sym on the per-round join key and baking
    *    that layout into the checkpoint: 357 s at sf10 (−18%) —
    *    co-occurrence graphs have hubs, and a fixed hash(src) layout
    *    forfeits the per-round exchange that lets AQE split the
    *    skewed join sides;
    *  - the bare localCheckpoint (no Row↔InternalRow re-wrap):
    *    OOM at 48 g on the second same-JVM run at sf10 — the
    *    re-wrap's copy is also what decouples retained-block
    *    lifetime from the origin plan.
    * The sf10 cost is memory-bound in ONE 48 g JVM (5 rounds over a
    * ~120 M-row edge relation + 2 M-node state chains); on a real
    * cluster the same plan spreads block storage and execution
    * memory across executors and the per-round exchange stays
    * AQE-skew-adaptive — the shape scales OUT even though it cannot
    * scale UP in a single process. Documented bound, not a defect:
    * per-round work is one edge equi-join + one map-side-combined
    * sum, the minimal relational PageRank step.
    */
  private def symEdges(pairs: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    Share.checkpoint(
      pairs.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .union(pairs.select(col(dstCol).as("src"), col(srcCol).as("dst"))))

  def pageRank(pairs: DataFrame, iters: Int = 5,
      srcCol: String = "id_a", dstCol: String = "id_b"): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val sym = symEdges(pairs, srcCol, dstCol)
    val deg = Share.checkpoint(
      sym.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg")))
    // N is one driver scalar (same posture as connectedComponents'
    // regime probe) — the init and jump terms become literals shared
    // bit-for-bit with the oracle's scalar subqueries
    val n = deg.count()
    val initU = 1000000000L / math.max(n, 1L)
    val jumpU = 150000000L / math.max(n, 1L)
    var ranks = Share.checkpoint(
      deg.select(col("node"), col("deg"), lit(initU).as("ru")))
    for (_ <- 0 until iters) {
      val sums = sym.join(ranks, col("src") === col("node"))
        .select(col("dst"), expr("ru div deg").as("cu"))
        .groupBy("dst").agg(sum(col("cu")).as("su"))
      ranks = Share.checkpoint(
        deg.join(sums, col("node") === col("dst"), "left")
          .select(col("node"), col("deg"),
            (lit(jumpU) + expr("(85 * coalesce(su, 0L)) div 100")).as("ru")))
    }
    ranks.select(col("node"), col("ru").as("rank_u"),
      round(col("ru") / lit(1000000000.0), 9).as("rank"))
  }

  /** Personalized PageRank: the [[pageRank]] recurrence with ALL
    * teleport mass restricted to a seed set — random walks restart at
    * the seeds, so rank measures proximity TO THE SEEDS rather than
    * global centrality. The recommendation/expansion read over a
    * co-occurrence graph: seed one brand's parts and the ranking
    * surfaces what their buyers also buy; seed one near-dup cluster
    * and it surfaces the related clusters.
    *
    * Same exact scale-9 integer-unit determinism contract as
    * [[pageRank]] (init 10⁹ div ǀSǀ and jump 0.15·10⁹ div ǀSǀ on
    * seeds, 0 elsewhere; damping 85·Σ div 100; per-edge contribution
    * ru div deg; floor division identical cross-engine). ǀSǀ counts
    * seeds CONNECTED to the graph — disconnected seeds can receive
    * no walk and contribute none. Returns one row per edge-connected
    * node: (node, seed, rank_u, rank), node order.
    *
    * Scale shape: identical to [[pageRank]] (one equi-join + one
    * map-side-combined sum + one node-list join per round,
    * materialized rounds), plus ONE broadcast seed join at setup —
    * seed sets are small by construction (a brand, a cluster).
    */
  def personalizedPageRank(pairs: DataFrame, seeds: DataFrame,
      iters: Int = 5, srcCol: String = "id_a", dstCol: String = "id_b",
      seedCol: String = "node"): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val sym = symEdges(pairs, srcCol, dstCol)
    val deg = Share.checkpoint(
      sym.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
        .join(broadcast(seeds.select(col(seedCol).as("__s")).distinct()),
          col("node") === col("__s"), "left")
        .select(col("node"), col("deg"), col("__s").isNotNull.as("seed")))
    val ns = deg.filter(col("seed")).count()
    require(ns >= 1, "no seed node is connected to the graph")
    val initU = 1000000000L / ns
    val jumpU = 150000000L / ns
    var ranks = Share.checkpoint(
      deg.select(col("node"), col("deg"), col("seed"),
        when(col("seed"), initU).otherwise(0L).as("ru")))
    for (_ <- 0 until iters) {
      val sums = sym.join(ranks, col("src") === col("node"))
        .select(col("dst"), expr("ru div deg").as("cu"))
        .groupBy("dst").agg(sum(col("cu")).as("su"))
      ranks = Share.checkpoint(
        deg.join(sums, col("node") === col("dst"), "left")
          .select(col("node"), col("deg"), col("seed"),
            (when(col("seed"), jumpU).otherwise(0L) +
              expr("(85 * coalesce(su, 0L)) div 100")).as("ru")))
    }
    ranks.select(col("node"), col("seed"), col("ru").as("rank_u"),
      round(col("ru") / lit(1000000000.0), 9).as("rank"))
  }

  /** Label-propagation communities over a unique (a < b) undirected
    * edge list, SYNCHRONOUS with a fixed round count: every node
    * starts labeled with its own id; each round every node adopts the
    * most frequent label among its neighbors PLUS its own current
    * label (the self-vote keeps isolated-ish nodes stable), ties
    * broken by the smallest label. Returns (node, community,
    * community_size), node order.
    *
    * The fixed round count IS the cross-engine contract (the
    * markovIters convention): raw LPA can oscillate on bipartite-ish
    * structures under synchronous updates, so "the labeling after R
    * quantized rounds" is the well-defined deterministic object, not
    * the fixpoint. Each round is one label join + one
    * map-side-combined (node, label) vote count + one node-partitioned
    * top-1 window (WindowGroupLimit shape) — state is exactly one
    * label row per node, and rounds are checkpointed
    * ([[Share.checkpoint]], the pageRank posture) so the plan does
    * not grow with R. NOTE: construction is therefore not
    * execution-free, exactly like [[pageRank]].
    */
  def labelPropagation(pairs: DataFrame, iters: Int = 4,
      srcCol: String = "id_a", dstCol: String = "id_b"): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    // stats-reset materialize, no pre-partitioning — [[symEdges]]'s
    // measured skew/OOM rationale applies verbatim to the per-round
    // label fetch on m (q_communities is 5.2× per 10×, at the bar)
    val sym = Share.checkpoint(
      pairs.select(col(srcCol).as("n"), col(dstCol).as("m"))
        .union(pairs.select(col(dstCol).as("n"), col(srcCol).as("m"))))
    var labels = Share.checkpoint(
      sym.select(col("n").as("node")).distinct()
        .withColumn("label", col("node")))
    for (_ <- 0 until iters) {
      val votes = sym
        .join(labels.select(col("node").as("__m"), col("label")),
          col("m") === col("__m"))
        .select(col("n").as("node"), col("label"))
        .unionByName(labels)
        .groupBy("node", "label").agg(count(lit(1)).as("__c"))
      // argmax by (votes desc, label asc) as a HASH aggregate: the
      // (__c, -label) sort key is unique per (node, label) row, so
      // max_by is deterministic and picks exactly the old rank-1
      // window row — but as a map-side-combinable aggregate instead
      // of a per-node sort, and the node exchange carries one
      // partial-max row per node per task, never the vote relation.
      labels = Share.checkpoint(votes
        .groupBy("node")
        .agg(max_by(col("label"),
          struct(col("__c"), (-col("label")).as("__negl"))).as("label")))
    }
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("community_size"))
    labels.join(sizes, "label")
      .select(col("node"), col("label").as("community"),
        col("community_size"))
      .orderBy("node")
  }

  /** Co-occurrence edge list: unique (a < b) item pairs that share at
    * least one group — the projection of the bipartite (group, item)
    * relation onto items (co-purchased parts, co-cited docs,
    * co-engaged users).
    *
    * Scale shape: the per-group pair expansion is quadratic in the
    * group's DISTINCT item count, so it is only safe when that count
    * is bounded (order line counts, authors per paper — single-digit
    * cardinalities); the expansion happens after an in-group distinct
    * and is immediately deduplicated by ONE (a, b) shuffle. A group
    * with unbounded membership (a hub account) needs a degree cap
    * upstream — deliberately not applied silently here, since
    * dropping pairs changes the graph.
    */
  /** k-core decomposition by ITERATIVE PEELING, `rounds` unrolled
    * rounds: repeatedly drop nodes whose degree in the surviving
    * subgraph is < k, then report each survivor with its in-core
    * degree — (node, core_degree). The density backbone: a node in
    * the k-core sits in a subgraph where EVERYONE has ≥ k neighbors
    * (duplicate cliques, co-purchase cores, boilerplate hubs), which
    * single-shot degree thresholds miss (a chain of high-degree nodes
    * hanging off a core peels away round by round).
    *
    * The round count is FIXED (both engines unroll the same `rounds`
    * peels — the attrib_markov convention), so results are a pure
    * function of (edges, k, rounds) whether or not the peel has
    * converged; on graphs whose peel converges within `rounds` (the
    * spec asserts it on its graph) the output IS the k-core.
    *
    * Scale shape: per round, two node-keyed semijoins restrict the
    * edge list and one map-side-combined count recomputes degrees;
    * the survivor set is [[Share.checkpoint]]d every round (fresh
    * leaf — §8.4 rule 15) so the plan never grows. Work per round is
    * |surviving edges|, monotonically shrinking.
    */
  def kCore(pairs: DataFrame, k: Int, rounds: Int = 10,
      srcCol: String = "id_a", dstCol: String = "id_b"): DataFrame = {
    require(k >= 1 && rounds >= 1)
    val edges = Share.checkpoint(
      pairs.select(col(srcCol).as("a"), col(dstCol).as("b")))
    // Two regimes, switched on the materialized edge count like every
    // other graph operator here: in-memory peel while the per-round
    // checkpoints are cheap; disk-generation peel past
    // [[KCoreDiskMinEdges]] (each round's surviving edge set lives in
    // a scratch parquet generation, never on the heap).
    //
    // Both regimes share the CONVERGED-PEEL EARLY EXIT: alive sets
    // shrink monotonically (a node outside alive_{r-1} has degree 0 in
    // the restriction, so alive_r ⊆ alive_{r-1}), so equal consecutive
    // COUNTS imply equal SETS imply every later round is a no-op —
    // exiting early is bit-identical to unrolling all `rounds`, which
    // keeps the fixed-round determinism convention intact while a
    // co-purchase core that stabilizes in 3 peels stops paying for 10.
    if (Share.count(edges) <= KCoreDiskMinEdges)
      kCoreInMemory(edges, k, rounds)
    else kCoreDiskGen(edges, k, rounds)
  }

  private def kCoreDegrees(e: DataFrame): DataFrame =
    e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))

  private def kCoreRestrict(e: DataFrame, alive: DataFrame): DataFrame =
    e.join(alive.select(col("node").as("a")), Seq("a"))
      .join(alive.select(col("node").as("b")), Seq("b"))

  // Each round re-restricts the ORIGINAL edge frame against the
  // shrinking alive set — deliberately. Iterating on a per-round
  // CHECKPOINTED restricted edge set was built and MEASURED at the
  // 60M-row sf10 sweep: rounds × edge-sized checkpoint generations
  // exhaust the heap faster than they can be freed (OOM twice,
  // including with explicit unpersist of superseded generations).
  // Above [[KCoreDiskMinEdges]] the shrinking-edge-set idea returns
  // as [[kCoreDiskGen]], which keeps generations on DISK instead.
  private[graft] def kCoreInMemory(edges: DataFrame, k: Int,
      rounds: Int): DataFrame = {
    var alive = Share.checkpoint(
      kCoreDegrees(edges).filter(col("degree") >= k).select("node"))
    var prevN = -1L
    var n = Share.count(alive)
    var r = 1
    while (r < rounds && n != prevN) {
      alive = Share.checkpoint(
        kCoreDegrees(kCoreRestrict(edges, alive))
          .filter(col("degree") >= k).select("node"))
      prevN = n
      n = Share.count(alive)
      r += 1
    }
    kCoreDegrees(kCoreRestrict(edges, alive))
      .select(col("node"), col("degree").as("core_degree"))
  }

  // Disk-generation peel: each round writes the RESTRICTED edge set
  // to a scratch parquet generation (A/B alternating dirs) and reads
  // it back as the next round's fresh leaf — bounded heap by
  // construction (loop state is two on-disk generations, zero
  // checkpoint storage), and per-round work shrinks with the
  // SURVIVING edge set instead of re-scanning the original frame.
  // The alive set goes through disk too (it feeds both semijoin
  // sides; a disk leaf shares the computation without a checkpoint).
  // Restricting the current generation equals restricting the
  // original (alive_r ⊆ alive_{r-1} makes the restrictions nest), so
  // this is bit-identical to the unrolled in-memory peel. The scratch
  // generations go through graft.EngineScratch — set
  // spark.graft.scratchDir to a shared filesystem on a multi-node
  // cluster (ADVICE r12: a driver-local temp dir is only correct in
  // local mode, exactly the >KCoreDiskMinEdges regime this branch
  // exists for).
  private[graft] def kCoreDiskGen(edges: DataFrame, k: Int,
      rounds: Int): DataFrame = {
    val spark = edges.sparkSession
    val base = graft.EngineScratch.dir(spark, "graft-kcore")
    try {
      var cur = edges
      var prevN = -1L
      var converged = false
      var r = 1
      var gen = 0
      while (r <= rounds && !converged) {
        val aDir = s"$base/alive${r % 2}"
        kCoreDegrees(cur).filter(col("degree") >= k).select("node")
          .write.mode("overwrite").parquet(aDir)
        val alive = spark.read.parquet(aDir)
        val n = alive.count()
        if (n == prevN) converged = true
        else {
          val eDir = s"$base/edges${(gen + 1) % 2}"
          kCoreRestrict(cur, alive).select("a", "b")
            .write.mode("overwrite").parquet(eDir)
          cur = spark.read.parquet(eDir)
          gen += 1
          prevN = n
        }
        r += 1
      }
      // cur IS the final restriction; one node-sized checkpoint lets
      // the scratch generations be deleted before returning.
      Share.checkpoint(
        kCoreDegrees(cur)
          .select(col("node"), col("degree").as("core_degree")))
    } finally graft.EngineScratch.delete(spark, base)
  }

  /** Edge-count threshold for [[kCore]]'s disk-generation regime.
    * Below it (sf0.1's co-purchase graph is 1.2M edges) the per-round
    * localCheckpoint of a NODE list is cheap and the original-frame
    * re-restriction never spills; above it (sf10's 90M edges spilled
    * ~10× proportional cost through 10 full-frame peels) the
    * surviving edge set goes through scratch parquet instead of the
    * heap. The regimes are bit-identical (nested restrictions), so
    * the switch can never change results.
    */
  val KCoreDiskMinEdges: Long = 8L << 20

  /** Resource-allocation link prediction over a unique (src < dst)
    * undirected edge list: for every NON-edge pair (x, y) sharing at
    * least one neighbor, score = Σ_{z ∈ N(x)∩N(y)} 1/deg(z) — the
    * common-neighbor index that discounts promiscuous hubs (RA beats
    * plain common-neighbor counts and Adamic–Adar on co-occurrence
    * graphs precisely because a part in every basket predicts
    * nothing). Returns the top `k` candidate pairs
    * (id_a, id_b, n_common, ra_score), (exact score desc, ids) order.
    * Pipeline use: "parts frequently bridged by the same baskets but
    * never bought together" = assortment/recommendation candidates;
    * on a near-dup pair graph, predicted links flag cluster splits a
    * banding miss left open.
    *
    * Determinism (§8.3 rule 4): each neighbor's weight is ONE
    * division round(1/deg, 9) quantized to DECIMAL(18,9); scores sum
    * exactly in decimal, so ordering and the final rounded rendering
    * are pure functions of the data. Top-k is totally ordered by
    * (exact score desc, id_a, id_b).
    *
    * Scale shape: the pair expansion through a common neighbor z is
    * deg(z)²-sized — the intrinsic cost, quadratic in hub degree —
    * so the adjacency is degree-capped FIRST (each node keeps its
    * `maxDegree` smallest neighbors via a rank-filter window, which
    * Spark plans as WindowGroupLimit: at most k+1 rows per node
    * buffered per task, the cap bounding shuffle volume too, the
    * [[triangleCounts]] posture). The capped adjacency is then
    * collapsed to ONE SORTED ≤ maxDegree-element array per node and
    * the ORDERED candidate pairs generate map-side from it —
    * posexplode(x) then explode of the post-x slice emits exactly
    * deg(deg−1)/2 (x < y) rows through codegen'd generators (no
    * x ≥ y half to produce and filter, no z-keyed self-join, no
    * second exchange of the adjacency); 1/deg(z) attaches for free
    * from size(array). Scores are exact on the capped subgraph; on a
    * graph whose degrees are all ≤ the cap they equal the uncapped
    * scores. The EXISTING-edge exclusion anti-joins the UNCAPPED edge
    * list (a capped-away edge is still an edge — never "predict" it)
    * — BROADCAST while the materialized edge count fits
    * [[BroadcastMaxEdges]] (the candidate relation, the query's
    * largest, then never re-shuffles: generate → one pair exchange →
    * map-side anti → TakeOrderedAndProject), shuffle_hash above it
    * (build side = the smaller edge relation). Weight units are
    * scale-9 LONGS — HALF_UP(10⁹/deg) = (2·10⁹ + deg) div (2·deg),
    * the integer identity of round(1/deg, 9) — so the hot aggregate
    * sums longs, not decimals; per-pair sums are ≤ maxDegree·10⁹,
    * nowhere near 2⁶³ at any corpus size (§8.3 rule 6 bound
    * documented, not assumed).
    *
    * @param edgeJoin pins the anti-join regime without the edge-count
    *   probe — one value per physical regime ([[EdgeJoinStrategy]]):
    *   `Broadcast`, `ShuffleHash` (caller asserts a PARTITION of the
    *   edge list fits a build-side hash map), `SortMerge` (no
    *   in-memory build floor at all), or `Auto` (default: probe the
    *   materialized edge count against [[BroadcastMaxEdges]] /
    *   [[ShuffleHashMaxEdges]]).
    * @param candBudget total candidate-pair budget for the automatic
    *   skew guard (default [[LinkPredCandBudget]]) — see the
    *   in-method comment; on a graph whose cap-`maxDegree` volume
    *   fits the budget, results are bit-identical to the unguarded
    *   form (plus the constant `n_capped_nodes` audit column).
    */
  def linkPrediction(pairs: DataFrame, k: Int, maxDegree: Int = 64,
      srcCol: String = "id_a", dstCol: String = "id_b",
      edgeJoin: EdgeJoinStrategy = EdgeJoinStrategy.Auto,
      candBudget: Long = LinkPredCandBudget): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(maxDegree >= 1, "maxDegree must be >= 1")
    require(candBudget >= 0, "candBudget must be >= 0")
    val e = Share.checkpoint(
      pairs.select(col(srcCol).as("a"), col(dstCol).as("b")))
    val und = e.select(col("a").as("node"), col("b").as("nbr"))
      .unionAll(e.select(col("b").as("node"), col("a").as("nbr")))
    // AUTOMATIC SKEW GUARD (the "no silent caps" form): the fixed
    // maxDegree bounds per-HUB cost but not TOTAL candidate volume —
    // Σ min(deg,c)·(min(deg,c)−1)/2 grows with the node count and
    // exhausted 74 GB of spill disk at the 90M-edge sf10 sweep with
    // c = 64. The EFFECTIVE cap is min(maxDegree, largest c whose
    // total candidate volume fits candBudget), derived from the
    // degree HISTOGRAM (distinct degree values + counts —
    // metadata-scale, one driver collect, the pageRank-N posture) by
    // exact integer arithmetic, so it is a pure function of the data
    // that the oracle twin re-derives in SQL; every output row
    // carries n_capped_nodes so a capped run is visibly capped.
    // Only an INTEGRAL id type can take the pair-key packing below, so
    // only then are the id bounds taken: casting a string id to long
    // throws under ANSI. Memoized per checkpointed edge leaf
    // (Share.memo): the shared co-purchase frame feeds several graph
    // queries, and the histogram is a pure function of the immutable
    // leaf — one aggregate job per leaf, not one per invocation.
    val idT = e.schema("a").dataType
    val integralId = idT match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    val (hist, minId, maxId) = Share.memo(e, DegreeHist) {
      val byDeg = und.groupBy("node").agg(count(lit(1)).as("dg")).groupBy("dg")
      val rows = (if (integralId) byDeg.agg(count(lit(1)).as("n"),
          min(col("node").cast("long")).as("mn"),
          max(col("node").cast("long")).as("mx"))
        else byDeg.agg(count(lit(1)).as("n"))).collect()
      // no bound (non-integral ids, or a degree group of null ids) is
      // -1, which fails the packing gate
      def bound(i: Int, pick: Seq[Long] => Long): Long =
        if (!integralId || rows.isEmpty || rows.exists(_.isNullAt(i))) -1L
        else pick(rows.toSeq.map(_.getLong(i)))
      (rows.map(r => (r.getLong(0), r.getLong(1))), bound(2, _.min), bound(3, _.max))
    }
    // Total (x < y) candidate pairs if every adjacency is capped at c.
    def volume(c: Long): Long = hist.iterator.map { case (dg, n) =>
      val m = math.min(dg, c); n * (m * (m - 1) / 2)
    }.sum
    // Largest cap in [1, maxDegree] within budget — volume(c) is
    // monotone in c and volume(1) = 0, so the search always lands.
    val effCap: Long =
      if (volume(maxDegree.toLong) <= candBudget) maxDegree.toLong
      else {
        var lo = 1L; var hi = maxDegree.toLong
        while (lo < hi) {
          val mid = (lo + hi + 1) / 2
          if (volume(mid) <= candBudget) lo = mid else hi = mid - 1
        }
        lo
      }
    val nCapped = hist.iterator.filter(_._1 > effCap).map(_._2).sum
    // INT literal, deliberately: row_number() is IntegerType, and the
    // WindowGroupLimit rewrite pattern-matches `rank <= <literal>` on
    // the rank attribute itself — a Long literal inserts a cast and
    // the rule no longer fires, silently re-inflating the per-hub
    // shuffle the cap exists to bound (measured: 3.5× on the sf0.1
    // sweep when effCap first landed as Long).
    val effCapI = effCap.toInt
    // PIN the window exchange's partition count (guide §2.5/§2.2):
    // the fused window→explode→partial-agg stage downstream MULTIPLIES
    // its input ~effCap× (candidate pairs per adjacency row), but AQE
    // sizes the exchange from the SHUFFLED bytes — at sf0.1 it
    // coalesced the 20 MB adjacency exchange to 16 partitions and the
    // 121 s-CPU candidate stage ran on half the cores (and spilled
    // 330 MB from 16 oversized hash maps). An explicit
    // repartition(n, node) is AQE-exempt, satisfies the window's
    // ClusteredDistribution (no second exchange), and n is derived
    // from cores and the input's own scan parallelism, never a
    // constant: max(2·cores, input partitions) keeps a cluster-scale
    // edge list at its natural width while restoring full fan-out
    // locally.
    val winParts = math.max(
      2 * und.sparkSession.sparkContext.defaultParallelism,
      und.queryExecution.toRdd.getNumPartitions)
    val w = Window.partitionBy("node").orderBy("nbr")
    val capped = und.repartition(winParts, col("node"))
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= effCapI).drop("__r")
    // One sorted ≤ maxDegree-element adjacency array per common
    // neighbor z; the WindowGroupLimit upstream bounds both the
    // shuffle and the per-row array.
    val adj = capped.groupBy(col("node").as("z"))
      .agg(sort_array(collect_list(col("nbr"))).as("__nbrs"))
    val cand = adj
      .select(
        expr("(2 * 1000000000 + size(__nbrs)) div (2 * size(__nbrs))")
          .as("__w"),
        posexplode(col("__nbrs")).as(Seq("__i", "x")), col("__nbrs"))
      .select(col("__w"), col("x"),
        explode(slice(col("__nbrs"), col("__i") + 2, lit(effCapI)))
          .as("y"))
    // PAIR-KEY PACKING: the candidate aggregation is the query's
    // dominant cost (measured at sf0.1: the fused window→explode→
    // partial-agg stage carries ~all the executor time, spilling
    // ~240 MB at 8 g heap) and its groups are ~unique (RA pairs
    // rarely repeat), so every byte of group key is paid per ROW.
    // When the id domain fits 31 bits (known for free from the same
    // driver-side histogram collect that derives the cap — ids at
    // 100× TPC-H scale are ~2·10⁹, right at the edge, so this is a
    // data-derived gate, not an assumption), the (x, y) pair packs
    // into ONE non-negative long: 8-byte key instead of 16 in the
    // hash map, the spill files and the exchange. Unpacking is exact
    // integer bit arithmetic (y < 2³¹ by the gate), and the unpacked
    // ids are cast back to the input id type, so the output is
    // bit-identical to the unpacked plan — which remains the fallback
    // for wider id domains. The gate requires an INTEGRAL id type in
    // addition to the range check (ADVICE r15): a fractional id
    // (double/decimal-with-scale) truncates under cast('long') so
    // distinct ids could pack to one __xy key, and a non-canonical
    // numeric string ('007') would not round-trip the cast-back —
    // either silently changes the output vs the unpacked plan.
    val packable = integralId && minId >= 0L && maxId < (1L << 31)
    val scored =
      if (packable)
        cand.select(
            (col("x").cast("long") * lit(1L << 31) +
              col("y").cast("long")).as("__xy"), col("__w"))
          .groupBy("__xy")
          .agg(count(lit(1)).as("n_common"), sum(col("__w")).as("__s"))
          .select(shiftright(col("__xy"), 31).cast(idT).as("id_a"),
            col("__xy").bitwiseAND(lit((1L << 31) - 1)).cast(idT).as("id_b"),
            col("n_common"), col("__s"))
      else cand
        .groupBy(col("x").as("id_a"), col("y").as("id_b"))
        .agg(count(lit(1)).as("n_common"), sum(col("__w")).as("__s"))
    // THREE join regimes by edge count: broadcast while the edge list
    // fits executor memory; shuffle-hash while a PARTITION of it does
    // (avoids SMJ's two sorts at mid scale); sort-merge beyond — the
    // only strategy with no in-memory build floor (the sf10 sweep's
    // 90M-edge run OOM'd the forced shuffle-hash build).
    val eSide = edgeJoin match {
      case EdgeJoinStrategy.Broadcast => broadcast(e)
      case EdgeJoinStrategy.ShuffleHash => e.hint("shuffle_hash")
      case EdgeJoinStrategy.SortMerge => e.hint("merge")
      case EdgeJoinStrategy.Auto =>
        val nEdges = Share.count(e)
        if (nEdges <= BroadcastMaxEdges) broadcast(e)
        else if (nEdges <= ShuffleHashMaxEdges) e.hint("shuffle_hash")
        else e.hint("merge")
    }
    scored.join(eSide,
        scored("id_a") === e("a") && scored("id_b") === e("b"), "left_anti")
      .orderBy(col("__s").desc, col("id_a"), col("id_b"))
      .limit(k)
      .select(col("id_a"), col("id_b"), col("n_common"),
        round(col("__s").cast("double") / 1e9, 5).as("ra_score"),
        lit(nCapped).as("n_capped_nodes"))
  }

  // Degree histogram plus id bounds of an edge leaf — see
  // linkPrediction's memo note.
  private val DegreeHist = new Share.Key[(Array[(Long, Long)], Long, Long)]

  /** Default total candidate-pair budget for [[linkPrediction]]'s
    * automatic cap. 5·10⁸ pairs ≈ 12-15 GB of pre-combine shuffle —
    * well inside one box's spill disk and a rounding error per
    * executor on a cluster. Measured volumes on the co-purchase
    * graph at cap 64: sf0.1 ≈ 4·10⁷ and sf1 ≈ 4·10⁸ (cap stays 64 —
    * results bit-identical to the unguarded form), sf10 ≈ 4·10⁹ (the
    * run that exhausted 74 GB of spill; the guard drops the cap to
    * ~23 and says so in n_capped_nodes).
    */
  val LinkPredCandBudget: Long = 500000000L

  def coOccurrenceEdges(df: DataFrame, groupCol: String,
      itemCol: String): DataFrame =
    // the support variant's groupBy is the same (a, b) exchange a
    // distinct would be — edges are just the counted pairs minus the
    // count (ONE expansion codepath to maintain, not two)
    coOccurrenceSupport(df, groupCol, itemCol).select("id_a", "id_b")

  /** Per-node triangle participation counts over a unique (src < dst)
    * undirected edge list — the clustering-structure signal
    * (tightly-knit duplicate cliques, co-purchase communities).
    *
    * Compact-forward algorithm expressed relationally: because every
    * edge is stored low→high, a wedge (a<b<c) is exactly e(a,b) ⋈
    * e(b,c), and closing it against e(a,c) finds each triangle ONCE —
    * no orientation phase, no 6× duplication, no post-dedup. Three
    * equi-joins keyed on node ids (shuffle scales with wedge count,
    * the algorithm's intrinsic cost), then each triangle credits its
    * three corners via one map-side explode + count shuffle. The
    * classic skew caveat: a hub node's wedge set is deg²-sized — the
    * known lower bound for exact enumeration — so `maxDegree` offers
    * an OPT-IN cap that bounds every per-row adjacency array (and the
    * per-task state that builds it) at the cost of counting on the
    * degree-capped subgraph instead of the full graph.
    *
    * NOTE: construction is not execution-free — the edge list is
    * checkpointed here (it feeds three join instances; without a hard
    * materialization each alias re-runs the whole upstream edge
    * derivation — SURVEY §8.4 rule 8), and when `broadcastAdjacency`
    * is left None an edge `count()` job picks the join regime. Callers
    * that must stay action-free (plan-only gates, known-size graphs)
    * pass `broadcastAdjacency = Some(...)` to skip the probe.
    *
    * @param maxDegree opt-in hub cap: each node keeps only its
    *   `maxDegree` SMALLEST forward-neighbors (deterministic under any
    *   partitioning), applied to the edge relation itself, so the
    *   result is exact triangle counting on that capped subgraph. On a
    *   graph whose forward degrees are all ≤ the cap the result is
    *   bit-identical to the uncapped run. The cap is enforced BEFORE
    *   the adjacency arrays are collected (rank-filter window, which
    *   Spark plans as WindowGroupLimit), so a power-law hub never
    *   materializes a degree-sized buffer in any task.
    * @param broadcastAdjacency Some(true)/Some(false) pins the
    *   adjacency join regime without running the edge-count probe;
    *   None (default) probes the materialized edge count against
    *   [[BroadcastMaxEdges]].
    */
  def triangleCounts(pairs: DataFrame, srcCol: String = "id_a",
      dstCol: String = "id_b", maxDegree: Int = Int.MaxValue,
      broadcastAdjacency: Option[Boolean] = None): DataFrame = {
    require(maxDegree >= 1, "maxDegree must be >= 1")
    val eAll = Share.checkpoint(
      pairs.select(col(srcCol).as("a"), col(dstCol).as("b")))
    // Opt-in degree cap: rank each node's forward edges by neighbor id
    // and keep the first maxDegree. row_number ≤ k plans as
    // WindowGroupLimit — each task retains at most k+1 rows per node
    // BEFORE the exchange, so the cap also bounds shuffle volume per
    // hub, not just the final array length.
    val e = if (maxDegree == Int.MaxValue) eAll else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("a").orderBy("b")
      eAll.withColumn("__r", row_number().over(w))
        .filter(col("__r") <= maxDegree).drop("__r")
    }
    // Adjacency-intersection formulation (forward variant of
    // Latapy's edge-iterator): per edge (a, b) with a<b, every
    // triangle corner is c ∈ N⁺(a) ∩ N⁺(b), found exactly once since
    // a<b<c. The naive wedge self-join materializes |wedges| ≈
    // Σ d⁺(v)² rows between two joins (49M at sf0.1 vs 1.2M edges —
    // measured 40×); intersecting per-edge sorted neighbor arrays
    // does the same element-compares inside ONE map stage with only
    // edge-sized relations ever shuffled or broadcast.
    val adj = e.groupBy(col("a").as("node"))
      .agg(sort_array(collect_list(col("b"))).as("nbrs"))
    // Size-switched regime (the connectedComponents pattern): the
    // adjacency relation totals |edges| longs, so broadcast it while
    // that fits executor memory; past the threshold fall back to
    // shuffle equi-joins — still edge-sized exchanges, never
    // wedge-sized.
    val useBroadcast = broadcastAdjacency.getOrElse(
      Share.count(eAll) <= BroadcastMaxEdges)
    val side =
      if (useBroadcast) (df: DataFrame) => broadcast(df)
      else (df: DataFrame) => df
    val tri = e
      .join(side(adj.select(col("node").as("a"), col("nbrs").as("na"))), "a")
      .join(side(adj.select(col("node").as("b"), col("nbrs").as("nb"))), "b")
      .select(col("a").as("ta"), col("b").as("tb"),
        explode(array_intersect(col("na"), col("nb"))).as("tc"))
    tri.select(explode(array(col("ta"), col("tb"), col("tc"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Edge-count ceiling for the broadcast triangle regime. Sized
    * against the DESERIALIZED executor footprint, not raw bytes: 2M
    * edges is ~16 MB of adjacency longs serialized, but each executor
    * holds the broadcast as row objects with per-array headers —
    * measured JVM overhead for long-array rows is ~4-6×, so the
    * resident copy is ~100 MB, comfortably inside a 1 GB-class
    * executor's broadcast budget with headroom for the probe side.
    * Above the ceiling the adjacency joins shuffle on their keys.
    */
  val BroadcastMaxEdges: Long = 2L << 20

  /** Upper bound for the shuffle-hash regime: one partition's share
    * (edges/32 at the pinned parallelism) must fit a per-task hash
    * map. Past this, sort-merge — no build-side memory floor.
    */
  val ShuffleHashMaxEdges: Long = 32L << 20

  /** Pair co-occurrence SUPPORT: how many groups contain BOTH items —
    * the counting sibling of [[coOccurrenceEdges]] (same bounded
    * map-side pair expansion; the group-by keeps the count instead of
    * deduplicating).
    */
  def coOccurrenceSupport(df: DataFrame, groupCol: String,
      itemCol: String): DataFrame = {
    val grouped = df
      .select(col(groupCol).as("g"), col(itemCol).as("i"))
      .groupBy("g")
      .agg(array_distinct(sort_array(collect_list(col("i")))).as("items"))
    // ordered pairs via two chained CODEGEN'D generators — posexplode
    // of the sorted basket, then explode of the post-x slice — not the
    // interpreted flatten/transform/struct HOF chain (§8.4 rule 3:
    // HOFs re-evaluate interpreted per element; this is the hottest
    // per-basket path of every co-occurrence consumer)
    grouped
      .select(posexplode(col("items")).as(Seq("__i", "id_a")), col("items"))
      .select(col("id_a"),
        explode(slice(col("items"), col("__i") + 2, size(col("items"))))
          .as("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("pair_n"))
  }

  /** Association-rule mining over a (group, item) relation — the
    * market-basket report (co-purchased parts, co-occurring tokens):
    * for every ordered rule A→B whose pair support reaches
    * `minSupport`, its support, confidence and lift, top-`k` by lift.
    *
    * Determinism: supports are exact longs; support and confidence
    * are one IEEE double division each; lift is the exact integer
    * product pair_n·N divided by ant_n·con_n (all far inside 2⁵³) in
    * ONE double division — identical in any engine, rounded at 5 for
    * display with (lift, antecedent, consequent) ordering.
    *
    * Scale shape: item supports are a map-side-combined count over
    * the distinct (group, item) relation; pair supports come from the
    * bounded per-group expansion; the rule join attaches two
    * item-count relations (item-vocabulary-sized — broadcast-class
    * for any real catalog) to the pair relation. The group count is
    * one driver scalar, same posture as PageRank's N.
    */
  def associationRules(df: DataFrame, groupCol: String, itemCol: String,
      minSupport: Long, k: Int): DataFrame = {
    val gi = df.select(col(groupCol).as("g"), col(itemCol).as("i")).distinct()
    val nGroups = gi.select("g").distinct().count()
    val itemN = gi.groupBy(col("i")).agg(count(lit(1)).as("item_n"))
    val pairN = coOccurrenceSupport(df, groupCol, itemCol)
      .filter(col("pair_n") >= minSupport)
    // each unordered pair yields both directed rules
    val directed = pairN
      .select(col("id_a").as("antecedent"), col("id_b").as("consequent"), col("pair_n"))
      .union(pairN
        .select(col("id_b").as("antecedent"), col("id_a").as("consequent"), col("pair_n")))
    directed
      .join(broadcast(itemN.select(col("i").as("antecedent"), col("item_n").as("ant_n"))),
        "antecedent")
      .join(broadcast(itemN.select(col("i").as("consequent"), col("item_n").as("con_n"))),
        "consequent")
      .withColumn("support",
        round(col("pair_n").cast("double") / lit(nGroups.toDouble), 5))
      .withColumn("confidence",
        round(col("pair_n").cast("double") / col("ant_n").cast("double"), 5))
      .withColumn("lift",
        round((col("pair_n") * lit(nGroups)).cast("double") /
          (col("ant_n") * col("con_n")).cast("double"), 5))
      .orderBy(col("lift").desc, col("antecedent"), col("consequent"))
      .limit(k)
      .select("antecedent", "consequent", "pair_n", "support", "confidence", "lift")
  }

  /** HITS hubs & authorities (Kleinberg) over a DIRECTED edge list —
    * on the customer→part purchase bipartite graph, hub score ranks
    * buyers whose baskets concentrate on authoritative parts and
    * authority score ranks parts bought by those hubs: the
    * mutually-reinforcing centrality degree counts cannot see (and,
    * on a bipartite graph, the side-aware ranking [[pageRank]]'s
    * single score conflates). Fixed `iters` rounds of
    * a ← Σ_in h, h ← Σ_out a from h₀ = 1; UNNORMALIZED until the end,
    * so every iterate is an exact INTEGER (a path-count weighted sum
    * — the [[pageRank]] integer-recurrence posture without even a
    * div); the output normalizes once by each side's max. Returns
    * (node_type 'authority'|'hub', node, score_raw, score),
    * (node_type, node) order.
    *
    * Integer bound: iterate t grows like (d_max²)^t — two rounds on
    * degrees to ~10⁴ stay far inside BIGINT, but round 3+ can exceed
    * 2^63 (where Spark's non-ANSI long sum would wrap SILENTLY while
    * the DuckDB twin's checked BIGINT cast raises), so the require
    * admits ONLY the documented 2-round regime.
    *
    * Scale shape: each half-round is one edge ⋈ score join (score
    * frame keyed by node, |nodes| rows) + one map-side-combined sum —
    * work scales with |edges| per round like [[pageRank]], with
    * [[Share.checkpoint]] checkpoints so the plan stays flat; the
    * max normalizers are 1-row broadcasts.
    */
  def hits(edges: DataFrame, iters: Int = 2,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(iters >= 1 && iters <= 2,
      "iters must be in [1, 2] — the exact-BIGINT regime")
    val e = Share.checkpoint(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct())
    var hub = Share.checkpoint(
      e.select(col("src").as("node")).distinct()
        .select(col("node"), lit(1L).as("h")))
    var auth: DataFrame = null
    for (_ <- 0 until iters) {
      auth = Share.checkpoint(
        e.join(hub, col("src") === col("node"))
          .groupBy(col("dst").as("anode")).agg(sum(col("h")).as("a")))
      hub = Share.checkpoint(
        e.join(auth, col("dst") === col("anode"))
          .groupBy(col("src").as("node")).agg(sum(col("a")).as("h")))
    }
    def side(df: DataFrame, typ: String, nodeC: String,
        scoreC: String): DataFrame = {
      val mx = df.agg(max(col(scoreC)).as("__mx"))
      df.crossJoin(broadcast(mx))
        .select(lit(typ).as("node_type"), col(nodeC).as("node"),
          col(scoreC).as("score_raw"),
          round(col(scoreC).cast("double") / col("__mx").cast("double"), 9)
            .as("score"))
    }
    side(auth, "authority", "anode", "a")
      .unionAll(side(hub, "hub", "node", "h"))
      .orderBy("node_type", "node")
  }
}
