package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Graph}
import Common._

/** Graph operators over the co-purchase and near-dup graphs:
  * triangles, k-core, link prediction, association rules, PageRank,
  * HITS, communities.
  */
object GraphQueries extends QueryFamily {

  /** Co-purchase triangle counting oracle — twin of
    * Graph.coOccurrenceEdges + triangleCounts on (order, part).
    */
  private val triangleSql: String =
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
      |e AS (
      |  SELECT DISTINCT x.i AS a, y.i AS b FROM items x
      |  JOIN items y ON x.g = y.g AND x.i < y.i),
      |t AS (
      |  SELECT e1.a AS ta, e1.b AS tb, e2.b AS tc FROM e e1
      |  JOIN e e2 ON e1.b = e2.a
      |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
      |SELECT node, count(*) AS n_triangles FROM (
      |  SELECT ta AS node FROM t
      |  UNION ALL SELECT tb FROM t
      |  UNION ALL SELECT tc FROM t) corners
      |GROUP BY node
      |ORDER BY node""".stripMargin

  /** Association-rule oracle — twin of Graph.associationRules on the
    * (order, part) relation; interpolates the shared
    * assocMinSupport/assocK constants.
    */
  private def assocRulesSql(minSupport: Long, k: Int): String =
    s"""WITH gi AS (
       |  SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
       |n AS (SELECT count(DISTINCT g) AS ng FROM gi),
       |it AS (SELECT i, count(*) AS item_n FROM gi GROUP BY i),
       |pr AS (
       |  SELECT x.i AS a, y.i AS b, count(*) AS pair_n
       |  FROM gi x JOIN gi y ON x.g = y.g AND x.i < y.i
       |  GROUP BY x.i, y.i
       |  HAVING count(*) >= $minSupport),
       |d AS (
       |  SELECT a AS antecedent, b AS consequent, pair_n FROM pr
       |  UNION ALL SELECT b AS antecedent, a AS consequent, pair_n FROM pr)
       |SELECT antecedent, consequent, pair_n,
       |  round(pair_n::DOUBLE / ng, 5) AS support,
       |  round(pair_n::DOUBLE / ia.item_n, 5) AS confidence,
       |  round((pair_n * ng)::DOUBLE / (ia.item_n * ic.item_n), 5) AS lift
       |FROM d CROSS JOIN n
       |JOIN it ia ON d.antecedent = ia.i
       |JOIN it ic ON d.consequent = ic.i
       |ORDER BY lift DESC, antecedent, consequent
       |LIMIT $k""".stripMargin

  private val pageRankIters = 5
  // label-propagation rounds (shared with OraclesExt.labelPropagation
  // — the quantized trajectory is the cross-engine contract)
  private val lpaIters = 4
  private val kCoreK = 4
  private val kCoreRounds = 10
  // association rules: min pair support and report size
  private val assocMinSupport = 3L
  private val assocK = 50
  // link prediction: report size and the hub cap bounding the
  // deg²-sized common-neighbor expansion
  private val linkPredK = 50
  private val linkPredMaxDegree = 64
  // personalized-PageRank teleport set: one brand's parts
  private val pprSeedBrand = "Brand#4"
  // HITS: two mutual-reinforcement rounds (exact integer regime)
  private val hitsIters = 2

  // One bipartite projection, five graph operators: triangles, k-core,
  // link prediction, communities and personalized PageRank all read
  // the SAME co-purchase edge list — deriving it is input
  // construction (basket groupBy + ordered-pair generate + distinct),
  // not the graph operator under measurement, so it is shared like the
  // diff profiles; each operator's own materialize sees the
  // checkpointed leaf and skips the copy.
  private[graft] def coPurchaseEdges(s: SparkSession, sfDir: String): DataFrame =
    sharedFrame(s, "copurchase_edges", sfDir) {
      graft.ext.Graph.coOccurrenceEdges(
        s.table("lineitem"), "l_orderkey", "l_partkey")
    }

  override val setupFrames = Seq("setup_copurchase_edges" -> coPurchaseEdges)

  val defs: Seq[QueryDef] = Seq(
    // §7.5 — HITS hubs/authorities on the customer→part purchase
    // bipartite graph: side-aware mutual reinforcement (hub buyers ↔
    // authoritative parts) that PageRank's single score conflates.
    QueryDef("q_hits", withTables { s =>
      Graph.hits(
        s.table("orders").join(s.table("lineitem"),
          col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("src"), col("l_partkey").as("dst")),
        iters = hitsIters)
    }, Some(OraclesExt.hits(hitsIters))),
    // §7.5 — co-purchase graph triangles: bipartite (order, part)
    // projection → unique low→high edges → compact-forward triangle
    // enumeration, each triangle crediting its three corners.
    QueryDef("q_copurchase_triangles", withTablesSf { (s, sfDir) =>
      graft.ext.Graph.triangleCounts(
        coPurchaseEdges(s, sfDir))
        .orderBy("node")
    }, Some(triangleSql)),
    // §7.5 — k-core density backbone of the co-purchase graph
    // (iterative peeling; single-shot degree thresholds miss chains
    // of high-degree nodes hanging off the core).
    QueryDef("q_kcore", withTablesSf { (s, sfDir) =>
      graft.ext.Graph.kCore(
        coPurchaseEdges(s, sfDir),
        k = kCoreK, rounds = kCoreRounds)
        .orderBy("node")
    }, Some(OraclesExt.kCore(kCoreK, kCoreRounds))),
    // §7.5 — resource-allocation link prediction over the same
    // co-purchase graph: hub-discounted common-neighbor scores for
    // pairs never bought together (assortment candidates; on a pair
    // graph, banding misses).
    QueryDef("q_link_prediction", withTablesSf { (s, sfDir) =>
      graft.ext.Graph.linkPrediction(
        coPurchaseEdges(s, sfDir),
        k = linkPredK, maxDegree = linkPredMaxDegree)
    }, Some(OraclesExt.linkPrediction(linkPredK, linkPredMaxDegree,
        graft.ext.Graph.LinkPredCandBudget))),
    // §7.5 — market-basket association rules over the same bipartite
    // relation: exact supports, one-division confidence/lift, top-k
    // by lift with a unique (antecedent, consequent) tiebreak.
    QueryDef("q_assoc_rules", withTables { s =>
      graft.ext.Graph.associationRules(s.table("lineitem"),
        "l_orderkey", "l_partkey", assocMinSupport, assocK)
    }, Some(assocRulesSql(assocMinSupport, assocK))),
    // §7.5 — graph centrality: PageRank over the same MinHash pair
    // graph (the within-cluster canonical-version signal; also the
    // domain-graph crawl-prioritization shape). Exact scale-9
    // integer-unit recurrence — bit-identical cross-engine, no double
    // accumulation anywhere in the loop.
    QueryDef("q_pagerank", withTables { s =>
      Graph.pageRank(
        Dedup.minHashNearDupPairs(s.table("documents"))
          .select("id_a", "id_b"),
        iters = pageRankIters).orderBy("node")
    }, Some(OraclesExt.pageRank(pageRankIters))),
    // Label-propagation communities over the co-purchase graph —
    // fixed synchronous rounds (the quantized-trajectory contract),
    // one label row of state per node per round.
    QueryDef("q_communities", withTablesSf { (s, sfDir) =>
      graft.ext.Graph.labelPropagation(
        coPurchaseEdges(s, sfDir), lpaIters)
    }, Some(OraclesExt.labelPropagation(lpaIters))),
    // Personalized PageRank over the co-purchase graph, teleporting
    // to one brand's parts — "buyers of this brand also buy" ranks.
    QueryDef("q_ppr", withTablesSf { (s, sfDir) =>
      Graph.personalizedPageRank(
        coPurchaseEdges(s, sfDir),
        s.table("part").filter(col("p_brand") === pprSeedBrand)
          .select(col("p_partkey").as("node")),
        pageRankIters).orderBy("node")
    }, Some(OraclesExt.personalizedPageRank(pprSeedBrand, pageRankIters))))
}
