package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{abs => fabs, _}
import org.apache.spark.sql.types.{DecimalType, LongType}
import graft.exec.Share

/** Classifier / score evaluation over corpus-scale relations — the
  * measurement half of the quality-filter loop (a pipeline that
  * trains a quality classifier, reweights by DSIR, or gates on a
  * score needs AUC-class evidence that the score actually separates
  * what it claims to). Reference scope: the reference delegates all
  * SQL to Athena (/root/reference/aws-athena.sh:140) and has no ML
  * surface; this module is part of the §7.5 training-data extension.
  */
object Eval {

  private val Dec38 = DecimalType(38, 0)

  /** Exact tie-corrected ROC AUC of `score` against boolean `label`,
    * one row per `groupCol` value: (groupCol, n_pos, n_neg, auc).
    *
    * Mann–Whitney over score VALUE COUNTS, not ranks: for each
    * distinct score v with p_v positives, q_v negatives and Q<(v)
    * negatives strictly below, AUC = Σ p_v·(Q<(v) + q_v/2) /
    * (n_pos·n_neg) — ties contribute the half-credit term exactly.
    * The numerator is kept ×2 in integer arithmetic (2·Q< + q_v, no
    * fractional halves) and divided once at the end, so the only
    * float op is a single exact-integer→double division per group —
    * bit-identical on any engine and any partitioning. A group with
    * no positives (or no negatives) has undefined AUC → NULL, never a
    * silent 0 or divide-by-zero.
    *
    * Scale shape: one (group, score) map-side-combined aggregation
    * collapses the corpus to its score GRID — for the repo's
    * 5-decimal-quantized scores that is ≤ 10⁵ rows per group however
    * many documents exist, so the per-group cumulative window runs
    * over a grid-bounded relation (same bound class as the exact
    * quantile machinery's value-counts frame), and the final roll-up
    * is one row per group. The corpus itself is scanned once and
    * never sorted globally.
    *
    * Numerator width: p_v·(2·Q< + q_v) summed over the grid is
    * O(n_pos·n_neg) ≤ n²/4 — past 2⁶³ for n ≳ 6·10⁹ rows per group,
    * which a 100 TB corpus exceeds, so the products run in
    * DECIMAL(38,0) (the quality-blend rule: long multiplication wraps
    * silently).
    */
  def aucByGroup(df: DataFrame, groupCol: String, label: Column,
      score: Column): DataFrame = {
    val sc = df
      .select(col(groupCol).as("__g"), score.as("__s"),
        when(label, 1L).otherwise(0L).as("__y"))
      .groupBy("__g", "__s")
      .agg(sum(col("__y")).as("__np"),
        (count(lit(1)) - sum(col("__y"))).as("__nq"))
    // negatives strictly below each score value; the window is
    // per-group over the grid-bounded value-counts frame
    val w = Window.partitionBy(col("__g")).orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    sc.withColumn("__qb", coalesce(sum(col("__nq")).over(w), lit(0L)))
      .groupBy(col("__g").as(groupCol))
      .agg(sum(col("__np")).as("n_pos"), sum(col("__nq")).as("n_neg"),
        sum(col("__np").cast(Dec38) *
          (col("__qb").cast(Dec38) * lit(2) + col("__nq").cast(Dec38)))
          .as("__num2"))
      .select(col(groupCol), col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round(col("__num2").cast("double") /
            (col("n_pos").cast("double") * col("n_neg").cast("double")
              * lit(2.0)), 5))
          .as("auc"))
  }

  /** FPR-calibrated gate thresholds: for each target false-positive
    * rate α, the most permissive score threshold whose keep-set
    * admits at most α of the negatives — (alpha, threshold, fpr,
    * tpr). The operating-point SELECTION step (where [[aucByGroup]]
    * measures and the PR curve displays, this DECIDES): "keep
    * everything scoring ≥ threshold and at most α junk slips
    * through", with the true-positive rate that choice buys. An α
    * finer than the negative grid can resolve (every candidate
    * threshold already exceeds it) yields no row rather than a wrong
    * one.
    *
    * Scale shape: the (score, label) corpus collapses map-side to its
    * value grid; the descending cumulative is one global window over
    * the grid alone (grid-bounded, audited); the α domain is a
    * literal handful crossed against grid-bounded candidates. Counts
    * exact; fpr/tpr are fixed-shape double divisions.
    */
  def gateThresholds(df: DataFrame, label: Column, score: Column,
      alphas: Seq[Double] = Seq(0.01, 0.05, 0.10)): DataFrame = {
    require(alphas.nonEmpty, "need at least one target alpha")
    val spark = df.sparkSession
    import spark.implicits._
    // MATERIALIZED: sc feeds the totals and the cumulative/candidate
    // build (r15 plan capture: 4 text scans — the doc-stats input
    // re-tokenized per consumer); the cut is score-grid-sized.
    val sc = Share.lazily(df.select(score.as("__s"),
      when(label, 1L).otherwise(0L).as("__y"))
      .groupBy("__s")
      .agg(sum(col("__y")).as("__np"),
        (count(lit(1)) - sum(col("__y"))).as("__nq")))
    val w = Window.orderBy(col("__s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = sc.agg(sum(col("__np")).as("__np_all"),
      sum(col("__nq")).as("__nq_all"))
    val rows = sc
      .withColumn("__cp", sum(col("__np")).over(w))
      .withColumn("__cq", sum(col("__nq")).over(w))
      .crossJoin(broadcast(tot))
      .select(col("__s"),
        (col("__cq").cast("double") / col("__nq_all").cast("double"))
          .as("__fpr"),
        (col("__cp").cast("double") / col("__np_all").cast("double"))
          .as("__tpr"))
    val av = alphas.toDF("alpha")
    val best = rows.crossJoin(broadcast(av))
      .where(col("__fpr") <= col("alpha"))
      .groupBy("alpha").agg(min(col("__s")).as("threshold"))
    best.join(rows, best("threshold") === rows("__s"))
      .select(col("alpha"), col("threshold"),
        round(col("__fpr"), 5).as("fpr"), round(col("__tpr"), 5).as("tpr"))
      .orderBy("alpha")
  }

  /** Two-sample Kolmogorov–Smirnov drift statistic of `score`, each
    * group AGAINST THE REST of the corpus: (groupCol, n_docs, ks),
    * ks = max over the score grid of |CDF_group − CDF_rest| rounded
    * at 5. The distribution-shift alarm a pipeline runs per source /
    * per snapshot: a source whose quality distribution detaches from
    * the corpus (new scraper, template change, spam wave) shows up as
    * a KS spike long before its mean moves — and unlike the mean, KS
    * sees shape changes that leave averages untouched.
    *
    * Scale shape: the corpus collapses map-side to its (group, score)
    * value grid; the dense grid×groups frame is bounded (score grid ≤
    * 10⁵ for 5-decimal scores × a bounded group domain); per-group
    * CDFs are partitioned windows over it, and the corpus-wide CDF is
    * ONE global window over the grid alone (grid-bounded — audited).
    * All counts are exact integers; each CDF difference is one
    * fixed-shape double expression, and max over independent doubles
    * is partition-order-free.
    */
  def ksDriftByGroup(df: DataFrame, groupCol: String,
      score: Column): DataFrame = {
    val sc = df.select(col(groupCol).as("__g"), score.as("__s"))
      .groupBy("__g", "__s").agg(count(lit(1)).as("__c"))
    val grid = sc.select("__s").distinct()
    val groups = sc.select("__g").distinct()
    val full = groups.crossJoin(grid)
      .join(sc, Seq("__g", "__s"), "left")
      .withColumn("__c", coalesce(col("__c"), lit(0L)))
    val ws = Window.partitionBy("__g").orderBy("__s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wg = Window.orderBy("__s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumG = sc.groupBy("__s").agg(sum(col("__c")).as("__ct"))
      .withColumn("__cum_g", sum(col("__ct")).over(wg))
      .select("__s", "__cum_g")
    val ns = sc.groupBy("__g").agg(sum(col("__c")).as("__n_s"))
    val nAll = sc.agg(sum(col("__c")).as("__n"))
    full
      .withColumn("__cum_s", sum(col("__c")).over(ws))
      .join(cumG, "__s")
      .join(broadcast(ns), "__g")
      .crossJoin(broadcast(nAll))
      .where(col("__n") > col("__n_s"))
      .withColumn("__diff", fabs(
        col("__cum_s").cast("double") / col("__n_s").cast("double") -
          (col("__cum_g") - col("__cum_s")).cast("double") /
            (col("__n") - col("__n_s")).cast("double")))
      .groupBy(col("__g").as(groupCol))
      .agg(max(col("__n_s")).as("n_docs"),
        round(max(col("__diff")), 5).as("ks"))
      .orderBy(groupCol)
  }

  /** Isotonic (monotone non-decreasing) probability calibration of a
    * [0,1] score against a boolean label, fitted over `bins`
    * equal-width score bins: (bin, n, frac_pos, calibrated). Platt /
    * linear recalibration assumes a sigmoid shape; the isotonic fit
    * is the nonparametric one that makes "score 0.8 means 80%" TRUE
    * whenever the ranking is sane, which is exactly what a curation
    * gate needs before thresholding on a probability.
    *
    * The fit uses the minimax characterization of isotonic
    * regression — f(i) = max_{j≤i} min_{k≥i} mean(y over bins j..k)
    * (= the pool-adjacent-violators solution) — rather than the
    * sequential PAV sweep: every (j,i,k) triple is independent, so
    * the whole fit is three relational operators (a ≤-join of the
    * cumulative-bin frame with itself, a min, a max) with NO
    * driver-side loop and no iteration. All frames are bounded at
    * `bins` rows (the corpus collapses to bins in one
    * map-side-combined pass) — the triple join is ≤ bins³/6 rows of
    * integers whatever the corpus size, and both sides of it are
    * broadcast.
    *
    * Determinism: bin assignment is exact integer arithmetic on the
    * 5-decimal score quantization (score·10⁵ rounds to an exact
    * long; bin = s₅·bins div 10⁵ — no float-edge misbinning at bin
    * boundaries); bin means are single int/int double divisions, and
    * min/max over a shared set of doubles is engine-independent.
    */
  def isotonicCalibration(df: DataFrame, label: Column, score: Column,
      bins: Int = 50): DataFrame = {
    require(bins >= 2 && bins <= 1000, s"bins out of range: $bins")
    val b = df
      .select(round(score * 100000).cast(LongType).as("__s5"),
        when(label, 1L).otherwise(0L).as("__y"))
      .select(expr(s"least((__s5 * $bins) div 100000L, ${bins - 1}L)")
        .as("bin"), col("__y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("__w"), sum(col("__y")).as("__s"))
    // bounded global window: ≤ `bins` rows by construction
    val wnd = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // EAGER: the cumulative-bin frame has four consumers (both join
    // sides, the center bin list, and the output row); materializing
    // its ≤ `bins` rows runs the corpus scan exactly once — without
    // it, AQE's exchange reuse recovers only two of the four
    // (measured: 2 FileScans in the final plan), and each missed
    // reuse is a full corpus re-scan at 100 TB.
    val c = Share.checkpoint(
      b.withColumn("__cw", sum(col("__w")).over(wnd))
        .withColumn("__cs", sum(col("__s")).over(wnd)))
    val lft = c.select(col("bin").as("__j"),
      (col("__cw") - col("__w")).as("__pw"),
      (col("__cs") - col("__s")).as("__ps"))
    val rgt = c.select(col("bin").as("__k"), col("__cw").as("__kw"),
      col("__cs").as("__ks"))
    val ctr = c.select(col("bin").as("__i"))
    val pairs = lft.join(broadcast(rgt), col("__j") <= col("__k"))
      .withColumn("__mean", (col("__ks") - col("__ps")).cast("double") /
        (col("__kw") - col("__pw")).cast("double"))
    val fit = pairs
      .join(broadcast(ctr), col("__j") <= col("__i") &&
        col("__i") <= col("__k"))
      .groupBy("__i", "__j").agg(min(col("__mean")).as("__mn"))
      .groupBy("__i").agg(max(col("__mn")).as("__fit"))
    c.join(fit, col("bin") === col("__i"))
      .select(col("bin").cast("int").as("bin"), col("__w").as("n"),
        round(col("__s").cast("double") / col("__w").cast("double"), 5)
          .as("frac_pos"),
        round(col("__fit"), 5).as("calibrated"))
      .orderBy("bin")
  }

  /** Murphy decomposition of the Brier score over cent-binned
    * probabilities: BRIER = RELIABILITY − RESOLUTION + UNCERTAINTY —
    * the one-row scorecard separating "is the score mis-calibrated"
    * (reliability, fixable by recalibration — cf.
    * [[isotonicCalibration]]) from "does it discriminate at all"
    * (resolution) and the irreducible base-rate term. Scores are
    * binned to integer cents (p_b = cents/100 IS the forecast, so the
    * decomposition identity is exact up to the one documented
    * quantization below). Returns one row:
    * (n, n_pos, brier, reliability, resolution, uncertainty).
    *
    * Determinism (§8.3): per bucket the ONLY non-closed term is
    * ō_b² = o_b²/n_b, quantized ONCE as the scale-9 integer
    * q_u = (o_b²·10⁹) div n_b (exact long ≤ 10⁹·n_b) and shared by
    * reliability and resolution, whose numerators then close over
    * exact integers:
    *   brier·10⁴·N        = Σ_b [o_b(c_b−100)² + (n_b−o_b)c_b²]
    *   rel·10⁴·N·10⁹      = (Σc²n_b − 200Σc·o_b)·10⁹ + 10⁴·Σq_u
    *   res·N²·10⁹         = N·Σq_u − O²·10⁹
    *   unc·N²             = O(N−O)
    * — each statistic is ONE final division of DECIMAL(38,0)
    * operands (width bound: eval sets to ~10¹² rows).
    *
    * Scale shape: one map-side-combined count to the ≤101-row cent
    * grid; everything downstream is grid-sized.
    */
  def brierDecomposition(df: DataFrame, label: Column,
      score: Column): DataFrame = {
    val bk = df
      .select(label.cast("long").as("__y"),
        round(score.cast(DecimalType(12, 7)) * 100, 0).cast("long").as("__c"))
      .groupBy("__c")
      .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__o"))
      .withColumn("__qu",
        expr("(cast(__o AS DECIMAL(38,0)) * __o * 1000000000) div __n"))
    val c = col("__c").cast(Dec38)
    val tot = bk.agg(
      sum(col("__n")).as("n"), sum(col("__o")).as("n_pos"),
      sum(col("__o").cast(Dec38) * (c - 100) * (c - 100) +
        (col("__n") - col("__o")).cast(Dec38) * c * c).as("__bn"),
      sum(c * c * col("__n")).as("__cn"),
      sum(c * col("__o")).as("__co"),
      sum(col("__qu").cast(Dec38)).as("__q"))
    val n = col("n").cast(Dec38)
    val o = col("n_pos").cast(Dec38)
    tot.select(col("n"), col("n_pos"),
      round(col("__bn").cast("double") / (n * 10000).cast("double"), 5)
        .as("brier"),
      round(((col("__cn") - col("__co") * 200) * lit(1000000000L) +
          col("__q") * 10000).cast("double") /
        (n * lit(10000L) * lit(1000000000L)).cast("double"), 5)
        .as("reliability"),
      round((n * col("__q") - o * o * lit(1000000000L)).cast("double") /
        (n * n * lit(1000000000L)).cast("double"), 5).as("resolution"),
      round((o * (n - o)).cast("double") / (n * n).cast("double"), 5)
        .as("uncertainty"))
  }

  /** Graded ranking-quality report of an ANN retrieval against the
    * brute-force truth: per query, MRR, average precision and nDCG@k
    * of the IVF top-k run ([[graft.ext.Similarity.ivfTopK]]) scored
    * against the exact cosine top-k ([[graft.ext.Similarity.topK]])
    * with graded relevance gain = k+1 − truth_rank — the
    * position-sensitive companions of the recall curve
    * ([[graft.ext.Similarity.annRecall]] answers "how many of the
    * true neighbors came back"; this answers "how early, and were
    * the BEST ones first"). One row per query:
    * (query_id, n_hit, n_truth, mrr, avg_precision, ndcg).
    *
    * Definitions (per query, run positions p = 1..k):
    *   - mrr  = 1 / (first position whose item is in the truth set);
    *     0.0 when no run item is relevant.
    *   - avg_precision = Σ_{hits at p} (hits≤p / p) / n_truth.
    *   - ndcg = DCG / IDCG with DCG = Σ_{hits at p} gain(p)/ln(p+1),
    *     gain = k+1 − truth_rank, and IDCG the same sum over the
    *     truth list in its own order (the ideal permutation). The log
    *     base cancels in the ratio, so ln replaces the textbook log₂.
    *
    * Determinism (SURVEY §8.3 rule 4): each per-position term —
    * gain/ln(p+1) and hits/p — is ONE division quantized at scale 9
    * into DECIMAL(18,9); per-query sums are exact decimal; each
    * reported metric is then a single integer-exact-double division
    * rounded at 5. Ties inside run/truth ranking are broken on
    * neighbor_id by the underlying operators.
    *
    * Scale shape: truth is bounded by the broadcast-class query set
    * (k rows per query) and checkpointed (it feeds both the join and
    * the IDCG roll-up); the run relation is the established ivfTopK
    * shape; the cumulative-hit window is partitioned by query over
    * ≤ k rows. Output is |queries| rows.
    */
  def rankingQuality(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int, nprobe: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val dec9 = DecimalType(18, 9)
    val truth = Share.checkpoint(
      Similarity.topK(corpus, queries, k, idCol, vecCol)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").as("__tr")))
    val run = Similarity
      .ivfTopK(corpus, queries, k, nlist, nprobe, idCol, vecCol)
      .select("query_id", "neighbor_id", "rank")
    val wCum = Window.partitionBy("query_id").orderBy("rank")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val isHit = col("__tr").isNotNull
    val terms = run
      .join(truth, Seq("query_id", "neighbor_id"), "left")
      .withColumn("__hit", when(isHit, 1L).otherwise(0L))
      .withColumn("__cum", sum(col("__hit")).over(wCum))
      .withColumn("__dcg_t",
        when(isHit, round((lit(k + 1) - col("__tr")).cast("double") /
            log(col("rank").cast("double") + 1.0), 9))
          .otherwise(lit(0.0)).cast(dec9))
      .withColumn("__ap_t",
        when(isHit, round(col("__cum").cast("double") /
            col("rank").cast("double"), 9))
          .otherwise(lit(0.0)).cast(dec9))
    val perRun = terms.groupBy("query_id").agg(
      sum(col("__hit")).as("__nh"),
      min(when(col("__hit") === 1L, col("rank"))).as("__first"),
      sum(col("__dcg_t")).as("__dcg"),
      sum(col("__ap_t")).as("__aps"))
    val ideal = truth.groupBy("query_id").agg(
      count(lit(1)).as("n_truth"),
      sum(round((lit(k + 1) - col("__tr")).cast("double") /
          log(col("__tr").cast("double") + 1.0), 9).cast(dec9))
        .as("__idcg"))
    ideal.join(perRun, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("__nh"), lit(0L)).as("n_hit"), col("n_truth"),
        coalesce(round(lit(1.0) / col("__first").cast("double"), 5),
          lit(0.0)).as("mrr"),
        round(coalesce(col("__aps"), lit(0).cast(dec9)).cast("double") /
          col("n_truth").cast("double"), 5).as("avg_precision"),
        round(coalesce(col("__dcg"), lit(0).cast(dec9)).cast("double") /
          col("__idcg").cast("double"), 5).as("ndcg"))
      .orderBy("query_id")
  }
}
