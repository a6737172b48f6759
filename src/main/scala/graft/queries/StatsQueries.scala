package graft.queries

import org.apache.spark.sql.functions._
import graft.exec.Share
import graft.ext.{Checks, Sampling, TextStats}
import Common._

/** Statistics: tests, drift, quantiles, outliers, sketches,
  * experiments, skew handling and data checks.
  */
object StatsQueries extends QueryFamily {

  /** Poisson-bootstrap oracle — twin of Sampling.poissonBootstrap on
    * documents.n_chars; the CDF thresholds interpolate from the SAME
    * Sampling.PoissonCdf1 sequence the Spark side buckets with.
    */
  private def bootstrapSql(replicates: Int, salt: String): String = {
    val cases = graft.ext.Sampling.PoissonCdf1.zipWithIndex
      .map { case (t, k) => s"WHEN u < $t THEN $k" }.mkString(" ")
    s"""WITH reps AS (SELECT unnest(range(0, $replicates)) AS rep),
       |b AS (SELECT d.n_chars, r.rep,
       |  cast('0x' || substr(md5('$salt|' || cast(doc_id AS VARCHAR) || ':' ||
       |    cast(r.rep AS VARCHAR)), 1, 8) AS BIGINT)::DOUBLE / 4294967296.0 AS u
       |  FROM documents d CROSS JOIN reps r),
       |w AS (SELECT rep, n_chars,
       |  CASE $cases ELSE ${graft.ext.Sampling.PoissonCdf1.size} END AS w FROM b)
       |SELECT rep, cast(sum(w) AS BIGINT) AS n_eff,
       | round(cast(sum(cast(n_chars as decimal(18,6)) * w) as double) /
       |   sum(w), 5) AS mean_v
       |FROM w WHERE w > 0 GROUP BY rep ORDER BY rep""".stripMargin
  }

  private val winsorLo = 0.05
  private val winsorHi = 0.95
  private val typeWeights: Seq[(String, Double)] = Seq(
    "click" -> 0.5, "error" -> 0.1, "purchase" -> 2.0,
    "signup" -> 1.5, "view" -> 0.25)
  private val valueBands: Seq[(String, Double, Double)] = Seq(
    ("nano", 0.0, 10.0), ("small", 10.0, 50.0), ("mid", 50.0, 150.0),
    ("large", 150.0, 400.0), ("huge", 400.0, 1000.0))
  private val rangeBucketWidth = 50.0
  private val histogramWidth = 25.0
  private val equiDepthK = 4
  private val bootstrapReplicates = 32
  private val bootstrapSalt = "boot"
  // split-conformal target coverage 9/10 (exact rational, never 0.9)
  private val conformalCovNum = 9
  private val conformalCovDen = 10
  // Mann–Whitney cohorts: the two sources whose length distributions
  // the rank-sum test compares
  private val mwGroupA = "src0"
  private val mwGroupB = "src1"
  // PSI drift: the canonical 10-bucket scorecard binning
  private val psiBins = 10
  // KMV period overlap: mid-month split of the 2024-01 event window
  private val kmvSplitDate = "2024-01-16"
  // daily type-mix drift: the PSI-scale "investigate" line in nats
  private val typeMixThreshold = 0.001
  // SPRT design: H0/H1 purchase shares bracketing the observed ~0.198
  // so the stream actually crosses a boundary, classic 5% errors
  private val sprtSuccessType = "purchase"
  private val sprtP0 = 0.18
  private val sprtP1 = 0.20
  private val sprtAlpha = 0.05
  private val sprtBeta = 0.05
  // mergeable-quantile rollup granularity (shared with the oracle)
  private val rollupDaysPerBucket = 7L
  // data-check bounds (shared with OraclesExt.dataChecks)
  private val checkQtyLo = 1.0
  private val checkQtyHi = 50.0
  private val checkPriceLo = 0.0
  private val checkPriceHi = 50000.0
  // count-min sketch: depth 4 × width 512 (shared with the oracle)
  private val cmsDepth = 4
  private val cmsWidth = 512
  private val cmsProbeMax = 20L
  // Tukey fence multiplier (boxplot standard) + skew-report top-k
  private val tukeyK = 1.5
  // MAD modified-z-score threshold (Iglewicz–Hoaglin classic)
  private val madK = 3.5
  private val skewReportK = 5
  // KMV sketch size (shared with OraclesExt.kmvRollup)
  private val kmvK = 256
  // Neyman eval-budget (shared with OraclesExt.neymanAllocation)
  private val neymanBudget = 1000L
  // A/B allocation (shared with OraclesExt.abSrm)
  private val abVariants: Seq[(String, Double)] =
    Seq(("control", 0.5), ("treat_a", 0.25), ("treat_b", 0.25))
  private val abSalt = "exp1"
  // two-arm tests (log-rank, diff-in-diff): units whose md5 fraction
  // falls below the split form the first arm
  private val armSplit = 0.5
  // Stats-module parameters (shared with the OraclesExt twins).
  // Heavy-hitter sketch capacity: exact results above frequency
  // 1/(capacity+1) — 33⁻¹ ≈ 3% clears the fixture's ~3.5% top token.
  private val hhCapacity = 32
  private val kAnonK = 5
  // CUPED pre/post split over the fixture's Jan-2024 event range
  private val cupedSplitTs = "2024-01-16 00:00:00"
  private val kmStartType = "signup"
  private val kmEndType = "purchase"

  val defs: Seq[QueryDef] = Seq(
    // §7.5 — sequential testing: Wald SPRT of the purchase share per
    // day — the early-stopping monitor a fixed-horizon test cannot
    // give, with alpha/beta guarantees intact.
    QueryDef("q_sprt", withTables { s =>
      graft.ext.Stats.sprtMonitor(s.table("events"), sprtSuccessType,
        sprtP0, sprtP1, sprtAlpha, sprtBeta)
    }, Some(OraclesExt.sprtMonitor(sprtSuccessType,
      sprtP0, sprtP1, sprtAlpha, sprtBeta))),
    // §7.5 — ingest drift scorecard: Population Stability Index of the
    // doc-length distribution per source vs the pool (0.1/0.25 the
    // industry action thresholds).
    QueryDef("q_psi_drift", withTables { s =>
      graft.ext.Stats.psiDrift(s.table("documents"), "source", "n_chars",
        psiBins)
    }, Some(OraclesExt.psiDrift(psiBins))),
    // §7.5 — streaming-bootstrap error bars: per-replicate Poisson(1)
    // weights from md5, map-side expansion + map-side collapse.
    QueryDef("q_bootstrap_mean", withTables { s =>
      graft.ext.Sampling.poissonBootstrap(s.table("documents"), "n_chars",
        replicates = bootstrapReplicates, salt = bootstrapSalt)
    }, Some(bootstrapSql(bootstrapReplicates, bootstrapSalt))),
    // §7.5 — length-bias audit: per-source Spearman rank correlation
    // between document length and the quality score (a gate trained
    // on a length-confounded score silently filters short docs).
    QueryDef("q_length_bias", withTables { s =>
      // doc-stats materialized once: spearmanByGroup consumes its
      // input from three branches (two rank windows + totals), and
      // each would re-run the scan+tokenize doc-stats build (r15 plan
      // capture: 3 text scans). The cut is doc-count-sized.
      graft.ext.Stats.spearmanByGroup(
        Share.lazily(
          TextStats.withDocStats(s.table("documents"))
            .select("source", "n_chars", "quality_score")),
        "source", "n_chars", "quality_score").orderBy("source")
    }, Some(OraclesExt.lengthBias)),
    // §7.5 — nonparametric source comparison: Mann–Whitney U on
    // document length between two sources (rank-based, so one
    // pathological crawl artifact cannot move the verdict the way it
    // moves a t-test on heavy-tailed length distributions).
    QueryDef("q_mannwhitney", withTables { s =>
      graft.ext.Stats.mannWhitney(s.table("documents"),
        "source", "n_chars", mwGroupA, mwGroupB)
    }, Some(OraclesExt.mannWhitney(mwGroupA, mwGroupB))),
    // §7.5 — the k-group sibling: Kruskal–Wallis across ALL sources
    // at once (one omnibus test instead of k² pairwise comparisons
    // and their multiplicity problem).
    QueryDef("q_kruskal_wallis", withTables { s =>
      graft.ext.Stats.kruskalWallis(s.table("documents"),
        "source", "n_chars")
    }, Some(OraclesExt.kruskalWallis)),
    // §7.5 — release-night mix alarm: JSD of each day's event-type
    // distribution vs the period mix, threshold-flagged (the jsDrift
    // ladder on the bounded day×type grid).
    QueryDef("q_type_mix_drift", withTables { s =>
      graft.ext.Stats.categoricalJsDrift(s.table("events"),
        to_date(col("ts")), col("event_type"), typeMixThreshold)
    }, Some(OraclesExt.typeMixDrift(typeMixThreshold))),
    // §7.5 extensions — deterministic sampling (membership is a pure
    // function of (salt, id): reproducible under any partitioning).
    // Deterministic A/B bucketing + the sample-ratio-mismatch health
    // check (md5-salted weighted allocation over distinct users).
    QueryDef("q_ab_srm", withTables { s =>
      Sampling.abSrmReport(s.table("events"), "user_id", abVariants, abSalt)
    }, Some(OraclesExt.abSrm(abVariants, abSalt))),
    // Variance-optimal eval-budget allocation across strata (Neyman):
    // how many labeled rows each event_type deserves from a fixed
    // budget, n_h ∝ N_h·σ_h.
    QueryDef("q_neyman_alloc", withTables { s =>
      Sampling.neymanAllocation(s.table("events"), "event_type",
        "value", budget = neymanBudget)
    }, Some(OraclesExt.neymanAllocation(neymanBudget))),
    // §7.5 — mergeable HLL sketch rollup (approximate by construction
    // → no oracle, rows-only check like q_profile_approx; ExtSpec
    // pins the estimates against exact distinct counts).
    QueryDef("q_sketch_rollup", withTables { s =>
      graft.ext.Sketches.rollupDistinctUsers(
        graft.ext.Sketches.dailyUserSketches(s.table("events")))
        .orderBy("event_type")
    }, None),
    // §8.3 — oracle-checkable gate for the HLL rollup above: exact
    // per-type facts + the envelope/mergeability invariants hashed
    // against literal trues.
    QueryDef("q_sketch_rollup_check", withTables { s =>
      graft.ext.Sketches.rollupSelfCheck(s.table("events"))
    }, Some("""SELECT event_type, count(*)::BIGINT AS n_events,
        |  count(DISTINCT user_id)::BIGINT AS n_distinct_users,
        |  true AS events_exact, true AS hll_within_5pct,
        |  true AS merge_within_1pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    // §7.5 — deterministic KMV distinct rollup: md5 bottom-k per day,
    // merged by re-ranking the union — the oracle-checkable
    // counterpart to the HLL rollup above (identical sketch on any
    // engine; estimate exact below k).
    QueryDef("q_kmv_rollup", withTables { s =>
      graft.ext.Sketches.rollupDistinctKmv(
        graft.ext.Sketches.dailyKmvSketches(s.table("events"), kmvK), kmvK)
        .orderBy("event_type")
    }, Some(OraclesExt.kmvRollup(kmvK))),
    // §7.5 — sketch SET OPERATION: distinct-user overlap between the
    // month's two halves per type from KMV sketches alone (retention
    // without rescanning either half; exact below k).
    QueryDef("q_kmv_intersect", withTables { s =>
      graft.ext.Sketches.kmvPeriodOverlap(s.table("events"), kmvK,
        kmvSplitDate)
    }, Some(OraclesExt.kmvPeriodOverlap(kmvK, kmvSplitDate))),
    // §7.5 — mergeable count-min frequency sketch: per-day counter
    // relations merged by addition, point-queried for small user ids
    // (deterministic md5 buckets — the oracle rebuilds the identical
    // sketch).
    QueryDef("q_cms_rollup", withTables { s =>
      val ev = s.table("events")
      graft.ext.Sketches.cmsEstimate(
        graft.ext.Sketches.cmsDailyCounts(ev, cmsDepth, cmsWidth),
        ev.select("user_id").where(col("user_id") < cmsProbeMax).distinct(),
        cmsDepth, cmsWidth)
        .orderBy("user_id")
    }, Some(OraclesExt.cmsRollup(cmsDepth, cmsWidth, cmsProbeMax))),
    // §7.5 — EXACT mergeable quantile rollup: per-day value-count
    // relations (counts merge by addition — zero sketch error) rolled
    // up to weekly quantiles with no raw-event rescan.
    QueryDef("q_quantile_rollup", withTables { s =>
      graft.ext.Sketches.rollupQuantiles(
        graft.ext.Sketches.dailyValueCounts(s.table("events")), quantilePs,
        daysPerBucket = rollupDaysPerBucket)
        .orderBy("event_type", "bucket_num")
    }, Some(OraclesExt.quantileRollup(quantilePs, rollupDaysPerBucket))),
    // §2.4/§7.5 — exact per-group quantiles WITHOUT per-group value
    // buffering (value-counts + cumsum + Percentile interpolation;
    // Spark's own exact `percentile` would OOM a hot group at scale).
    QueryDef("q_group_quantiles", withTables { s =>
      graft.ext.Quantiles.groupQuantiles(
        s.table("events"), "event_type", "value", quantilePs)
        .orderBy("event_type")
    }, Some(OraclesExt.groupQuantiles(quantilePs))),
    // §7.5 — TOKEN-weighted doc-length quantiles per language (the
    // median doc length of the token MASS, not the doc count); same
    // value-counts machinery as q_group_quantiles with weights summed
    // where counts counted.
    QueryDef("q_weighted_quantiles", withTables { s =>
      val d = s.table("documents").withColumn("__w",
        size(TextStats.tokens(col("text"))).cast("long"))
      graft.ext.Quantiles.groupQuantilesWeighted(
        d, "lang", "n_chars", "__w", quantilePs).orderBy("lang")
    }, Some(OraclesExt.weightedQuantiles(quantilePs))),
    // §7.5 — data-quality constraint report (validation gate before a
    // batch is admitted): all row-local checks in ONE scan pass, key
    // uniqueness via one keyed group-by, referential integrity via
    // one equi-join; exact integer counts.
    QueryDef("q_data_checks", withTables { s =>
      import graft.ext.Checks
      Checks.report(s.table("lineitem"), Seq(
        Checks.NotNull("l_shipdate"),
        Checks.AcceptedValues("l_returnflag", Seq("A", "N", "R")),
        Checks.NumericBounds("l_quantity", checkQtyLo, checkQtyHi),
        Checks.NumericBounds("l_extendedprice", checkPriceLo, checkPriceHi),
        Checks.UniqueKey(Seq("l_orderkey", "l_linenumber")),
        Checks.ForeignKey(Seq("l_orderkey"), s.table("orders"),
          Seq("o_orderkey"), "orders")))
    }, Some(OraclesExt.dataChecks(
      checkQtyLo, checkQtyHi, checkPriceLo, checkPriceHi))),
    // §7.5 — Tukey boxplot fences from ONE exact quantile pass:
    // per-group outlier counts + recommended action signal (the cheap
    // robust-outlier report that precedes a winsorize decision).
    QueryDef("q_outliers", withTables { s =>
      graft.ext.Quantiles.tukeyOutliers(s.table("events"), "event_type",
          "value", tukeyK)
        .orderBy("event_type")
    }, Some(OraclesExt.tukeyOutliers(tukeyK))),
    // §7.5 — MAD modified-z-score outliers: the highest-breakdown
    // robust scale estimator (Tukey's IQR collapses at 25%
    // contamination, MAD only past 50%).
    QueryDef("q_mad_outliers", withTables { s =>
      graft.ext.Quantiles.madOutliers(s.table("events"), "event_type",
          "value", madK)
        .orderBy("event_type")
    }, Some(OraclesExt.madOutliers(madK))),
    // §7.5 — heavy-hitter diagnostic: which keys need salting, and by
    // how much (the operational front door to saltedAgg/saltedJoin).
    QueryDef("q_skew_report", withTables { s =>
      graft.ext.Skew.skewReport(s.table("events"), "event_type", skewReportK)
        .orderBy("key")
    }, Some(OraclesExt.skewReport(skewReportK))),
    // §7.5 — winsorization: clip each event value to its type's
    // [p5, p95] band (broadcast bounds join; data side stays map-only)
    // then roll up clip counts and the clipped decimal sum.
    QueryDef("q_winsorize", withTables { s =>
      graft.ext.Quantiles.winsorize(s.table("events"), "event_type", "value",
          winsorLo, winsorHi)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("value") < col("__lo"), 1L).otherwise(0L)).as("n_clipped_lo"),
          sum(when(col("value") > col("__hi"), 1L).otherwise(0L)).as("n_clipped_hi"),
          round(sum(col("clipped").cast("decimal(18,6)")).cast("double"), 5)
            .as("sum_clipped"))
        .orderBy("event_type")
    }, Some(OraclesExt.winsorize(winsorLo, winsorHi))),
    // §7.5 — skew-salted equi-join: hot event_type keys spread over 16
    // reducers; results are the plain join's (the salt is an equi-key
    // refinement — that equivalence IS the oracle check).
    QueryDef("q_skew_join", withTables { s =>
      import s.implicits._
      val dim = typeWeights.toDF("event_type", "weight")
      graft.ext.Skew.saltedJoin(s.table("events"), dim,
          keyCol = "event_type", carrierCol = "event_id", salts = 16)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_events"),
          round(sum((col("value") * col("weight")).cast("decimal(18,6)"))
            .cast("double"), 5).as("weighted_value"))
        .orderBy("event_type")
    }, Some(OraclesExt.skewJoin(typeWeights))),
    // §7.5 — bucketed range join: value→band lookup as an EQUI-join
    // on overlap buckets (the naive BETWEEN join is a nested loop),
    // rolled up per band.
    QueryDef("q_range_join", withTables { s =>
      import s.implicits._
      val bands = valueBands.toDF("label", "lo", "hi")
      graft.ext.RangeJoin.bucketed(s.table("events"), bands,
          valueCol = "value", loCol = "lo", hiCol = "hi",
          bucketWidth = rangeBucketWidth)
        .groupBy("label")
        .agg(
          count(lit(1)).as("n_events"),
          round(sum(col("value").cast("decimal(18,6)")).cast("double"), 5)
            .as("sum_value"))
        .orderBy("label")
    }, Some(OraclesExt.rangeJoin(valueBands))),
    // §2.4/§7.5 — equi-width histogram per event type: map-only
    // bucket projection + ONE map-side-combined shuffle, no window.
    QueryDef("q_histogram", withTables { s =>
      graft.ext.Quantiles.histogram(s.table("events"), "event_type", "value",
          histogramWidth)
        .orderBy("event_type", "bucket")
    }, Some(OraclesExt.histogram(histogramWidth))),
    // §2.4/§7.5 — equi-DEPTH histogram: k ~equal-population buckets
    // bounded by the group's exact i/k quantiles (one quantile pass,
    // boundaries broadcast back, map-side-combined roll-up).
    QueryDef("q_histogram_depth", withTables { s =>
      graft.ext.Quantiles.equiDepthHistogram(
          s.table("events"), "event_type", "value", equiDepthK)
        .orderBy("event_type", "bucket")
    }, Some(OraclesExt.equiDepthHistogram(equiDepthK))),
    // §7.5 — skew-mitigated aggregation: event_type has ~5 hot values,
    // the salted two-phase plan spreads each over 16 reducers.
    QueryDef("q_events_salted_agg", withTables { s =>
      graft.ext.Skew.saltedCountSum(s.table("events"),
        keyCol = "event_type", valueCol = "value",
        carrierCol = "event_id", salts = 16)
        .orderBy("event_type")
    }, Some("""SELECT event_type, count(*)::BIGINT AS n_events,
        |  round(cast(sum(cast(value AS DECIMAL(18,6))) AS DOUBLE), 5) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    // §7.5 — sketch-pruned EXACT heavy hitters: per-partition
    // Misra–Gries candidates (guaranteed superset above frequency
    // 1/(cap+1)), broadcast-semi-join recount, integer threshold. The
    // sketch bounds the shuffle; the answer is partition-independent.
    QueryDef("q_heavy_hitters", withTables { s =>
      graft.ext.Stats.heavyHitters(s.table("documents"), "text", hhCapacity)
    }, Some(OraclesExt.heavyHitters(hhCapacity))),
    // Lorenz/Gini revenue concentration over per-customer order
    // totals — exact rank sums from the two-phase sharded cumsum (no
    // global sort task), decimal arithmetic to one rounded division.
    QueryDef("q_gini_revenue", withTables { s =>
      graft.ext.Stats.lorenzGini(
        s.table("orders").groupBy("o_custkey")
          .agg(sum(col("o_totalprice").cast("decimal(18,6)")).as("revenue")),
        "revenue")
    }, Some(OraclesExt.giniRevenue)),
    // Benford first-digit audit of order amounts: integer-exact digit
    // extraction (cent-quantized rendering, no log/pow edge), 9-row
    // chi-square frame.
    QueryDef("q_benford", withTables { s =>
      graft.ext.Stats.benfordReport(s.table("orders"), "o_totalprice")
    }, Some(OraclesExt.benfordOrders)),
    // CUSUM mean-shift changepoint over the daily event-count series
    // — all-integer statistic (scaled by the day count), argmax day(s)
    // flagged.
    QueryDef("q_cusum", withTables { s =>
      graft.ext.Stats.cusumChangepoint(s.table("events"), "ts")
    }, Some(OraclesExt.cusumDaily)),
    // Kaplan–Meier signup→purchase conversion curve with right
    // censoring at the corpus horizon — duration-grid-bounded
    // windows, ln-quantized exact survival accumulation.
    QueryDef("q_kaplan_meier", withTables { s =>
      graft.ext.Stats.kaplanMeier(s.table("events"), kmStartType, kmEndType)
    }, Some(OraclesExt.kaplanMeier(kmStartType, kmEndType))),
    // CUPED variance-reduced experiment readout on the q_ab_srm
    // buckets: θ from exact decimal moments, per-arm adjusted means.
    QueryDef("q_cuped", withTables { s =>
      graft.ext.Stats.cupedReport(s.table("events"), "user_id", "value",
        "ts", cupedSplitTs, abVariants, abSalt)
    }, Some(OraclesExt.cuped(cupedSplitTs, abVariants, abSalt))),
    // k-anonymity / l-diversity audit of customer quasi-identifiers
    // (nation × market segment; sensitive = account-balance band).
    QueryDef("q_k_anonymity", withTables { s =>
      graft.ext.Stats.kAnonymity(
        s.table("customer").withColumn("bal_band",
          floor(col("c_acctbal") / 1000).cast("long")),
        Seq("c_nationkey", "c_mktsegment"), "bal_band", kAnonK)
    }, Some(OraclesExt.kAnonymity(kAnonK))),
    // Closed-form per-group OLS (price ~ quantity + discount): one
    // moment aggregation per group, Cramer-rule solve on the group row.
    QueryDef("q_ols", withTables { s =>
      graft.ext.Stats.olsRegression(s.table("lineitem"), "l_returnflag",
        "l_extendedprice", "l_quantity", "l_discount")
    }, Some(OraclesExt.olsLineitem)),
    // Log-rank test: did the md5 cohort change WHEN users convert —
    // the censoring-aware hypothesis test beside the KM curve.
    QueryDef("q_logrank", withTables { s =>
      graft.ext.Stats.logRank(s.table("events"), kmStartType, kmEndType,
        abSalt, armSplit)
    }, Some(OraclesExt.logRank(kmStartType, kmEndType, abSalt, armSplit))),
    // Difference-in-differences over the 2×2 cohort × pre/post design.
    QueryDef("q_did", withTables { s =>
      graft.ext.Stats.diffInDiff(s.table("events"), "user_id", "value",
        "ts", cupedSplitTs, abSalt, armSplit)
    }, Some(OraclesExt.diffInDiff(cupedSplitTs, abSalt, armSplit))),
    // Minimum detectable effect per experiment arm (α=0.05, 80%
    // power) — the could-this-test-even-see-it check.
    QueryDef("q_ab_power", withTables { s =>
      graft.ext.Stats.abPower(s.table("events"), "user_id", "value",
        abVariants, abSalt)
    }, Some(OraclesExt.abPower(abVariants, abSalt))),
    // Split-conformal prediction intervals around quality ~ n_chars
    // per source: distribution-free error bars + realized coverage.
    QueryDef("q_conformal", withTables { s =>
      graft.ext.Stats.conformalOls(
        TextStats.withDocStats(s.table("documents"))
          .select("doc_id", "source", "n_chars", "quality_score"),
        "source", "quality_score", "n_chars",
        conformalCovNum, conformalCovDen)
    }, Some(OraclesExt.conformalOls(conformalCovNum, conformalCovDen))))
}
