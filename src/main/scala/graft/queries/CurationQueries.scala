package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{Curation, Decontamination, Dedup, Packing, Sampling, Similarity, TextStats}
import Common._

/** Corpus curation: quality gates, sampling and splits, mixtures,
  * packing, decontamination and importance resampling.
  */
object CurationQueries extends QueryFamily {

  /** Sampling / packing parameters — passed to BOTH the Spark queries
    * and the OraclesExt twin builders, so the two engines cannot
    * drift (same pattern as Dedup.NgramStopShingleCap).
    */
  private val stratifiedRates = Map("en" -> 0.5, "zh" -> 0.25)
  private val stratifiedDefaultRate = 0.1
  private val packBudget = 512L
  private val mixtureWeights = Map(
    "en" -> 0.4, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.15)
  private val topQualityK = 5
  // quantile gate keep fraction as an exact rational (top 20% per
  // lang) — integer cutoff math twins bit-for-bit with the oracle
  private val quantileKeepNum = 1
  private val quantileKeepDen = 5
  private val epochBudgetTokens = 200000L
  private val epochMaxRepeats = 4
  // graded decontamination: flag docs whose shingle-overlap fraction
  // with the held-out set reaches this share (PaLM-style rule)
  private val decontamFracThreshold = 0.2
  // water-filling: token budget below the corpus total so the level
  // lands mid-distribution (small sources saturate, large ones cap)
  private val waterfillBudget = 15000L
  // canary scan: two phrases present in the synthetic vocabulary plus
  // one guaranteed-absent control (hits for it would flag a scan bug)
  private val canaryStrings =
    Seq("merge batch", "window table", "zz-absent-canary")

  // blocklist phrases: three lengths + a guaranteed miss (no quotes —
  // interpolated into the oracle as SQL literals)
  private val blocklistPhrases = Seq(
    "vector", "table table", "slow query", "fast merge batch",
    "purple elephant marches")

  private val chunkMaxTokens = 32
  private val chunkOverlap = 4
  // exact-budget sample size (shared with OraclesExt.sampleFixed)
  private val fixedSampleN = 100
  // md5 salts of the fixed-size sample, the fold and the cluster split
  private val sampleSalt = "sample"
  private val kfoldSalt = "fold"
  private val clusterSplitSalt = "csplit"
  private val dsirK = 100
  private val dsirSalt = "dsir"
  // deterministic training-order shuffle (shared with
  // OraclesExt.shuffleOrder)
  private val shuffleShards = 32
  private val shuffleSalt = "shuffle"

  private[graft] def curateFullVerdicts(s: SparkSession, sfDir: String): DataFrame =
    sharedFrame(s, "curate_full", sfDir) {
      Curation.curateFull(s.table("documents"))
    }

  private[graft] def importanceWeightsShared(s: SparkSession, sfDir: String): DataFrame =
    sharedFrame(s, "importance", sfDir) {
      val docs = s.table("documents")
      graft.ext.Importance.importanceWeights(docs,
        docs.filter(col("lang") === dsirTargetLang))
    }

  override val indexes = Seq(cellIndexDir)
  override val setupFrames = Seq("setup_curate_full" -> curateFullVerdicts,
    "setup_importance" -> importanceWeightsShared)

  val defs: Seq[QueryDef] = Seq(
    // §7.5 — exact canary/secret audit: literal substring hits with
    // positions and occurrence counts; map-only, crosses token
    // boundaries the shingle decontamination tokenizes away.
    QueryDef("q_canary_scan", withTables { s =>
      graft.ext.Decontamination.canaryScan(s.table("documents"),
        canaryStrings)
    }, Some(OraclesExt.canaryScan(canaryStrings))),
    // §7.5 — multi-criteria curation shortlist: Pareto front over
    // (doc length, distinct tokens); per-length maxima + one window
    // over the bounded length domain — no all-pairs domination.
    QueryDef("q_pareto_front", withTables { s =>
      graft.ext.Curation.paretoFront(s.table("documents"))
    }, Some(OraclesExt.paretoFront)),
    // §7.5 — content-policy gate: multi-length phrase blocklist
    // matched exactly against the token stream (broadcast phrase
    // relation, never a per-phrase regex scan).
    // (the operator's sorted matched-phrase audit ARRAY stays out of
    // the dumped columns — the hash compare is scalar-typed; the
    // array is spec-verified in PipelineMlSpec)
    QueryDef("q_blocklist", withTables { s =>
      Curation.blocklistReport(s.table("documents"), blocklistPhrases)
        .select("doc_id", "n_matches", "n_phrases", "keep")
        .orderBy("doc_id")
    }, Some(OraclesExt.blocklist(blocklistPhrases))),
    QueryDef("q_sample_stratified", withTables { s =>
      Sampling.stratifiedSample(s.table("documents"), "lang",
        stratifiedRates, stratifiedDefaultRate)
        .select("doc_id", "lang").orderBy("doc_id")
    }, Some(OraclesExt.sampleStratified(stratifiedRates, stratifiedDefaultRate))),
    QueryDef("q_sample_split", withTables { s =>
      Sampling.trainTestSplit(s.table("documents"), testFraction)
        .groupBy("lang", "split").agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "split")
    }, Some(OraclesExt.sampleSplit(testFraction))),
    // §7.5 — deterministic k-fold CV assignment (integer md5 mod k;
    // map-only, engine- and partitioning-independent folds).
    QueryDef("q_kfold", withTables { s =>
      Sampling.kfold(s.table("documents"), kfoldK, salt = kfoldSalt).orderBy("doc_id")
    }, Some(OraclesExt.kfold(kfoldK, kfoldSalt))),
    // §7.5 — exact-budget deterministic sample (reservoir stand-in:
    // smallest-md5 pick set; TakeOrderedAndProject, no full sort).
    QueryDef("q_sample_fixed", withTables { s =>
      Sampling.fixedSizeSample(s.table("documents"), fixedSampleN, salt = sampleSalt)
        .orderBy("doc_id")
    }, Some(OraclesExt.sampleFixed(fixedSampleN, sampleSalt))),
    // §7.5 — GROUP-aware split: membership keyed on `source`, not the
    // row, so near-identical documents clustered within one source can
    // never straddle train/test (the leakage mode a row-level split
    // cannot prevent). Same operator, group id as the hash key.
    QueryDef("q_split_by_source", withTables { s =>
      Sampling.trainTestSplit(s.table("documents"), testFraction,
          idCol = "source", salt = "gsplit")
        .groupBy("source", "split").agg(count(lit(1)).as("n_docs"))
        .orderBy("source")
    }, Some(OraclesExt.splitBySource(testFraction))),
    // §7.5 — near-dup-leakage-free split: membership per near-dup
    // CLUSTER, so a paraphrased copy of a test doc can never sit in
    // train (the eval-hygiene guard provenance splits miss).
    QueryDef("q_split_by_cluster", withTables { s =>
      Sampling.splitByCluster(s.table("documents"), testFraction,
        salt = clusterSplitSalt).orderBy("doc_id")
    }, Some(OraclesExt.splitByCluster(testFraction, clusterSplitSalt))),
    // §7.5 — token-mixture rebalancing: per-stratum keep rates are
    // computed from the corpus' own token totals (K = min t_s/w_s),
    // then applied with the deterministic md5 membership.
    QueryDef("q_mixture_rebalance", withTables { s =>
      val d = s.table("documents").withColumn("n_tokens",
        size(TextStats.tokens(col("text"))).cast("long"))
      Sampling.rebalanceToMixture(d, "lang", mixtureWeights)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("kept_tokens"))
        .orderBy("lang")
    }, Some(OraclesExt.mixtureRebalance(mixtureWeights))),
    // §7.5 — data-constrained epoch planner: budget·weight targets
    // vs corpus size, repeat-capped (the repeats dimension the
    // rebalancers lack — re-weight or find more data when deficit>0).
    QueryDef("q_epoch_plan", withTables { s =>
      val d = s.table("documents").withColumn("n_tokens",
        size(TextStats.tokens(col("text"))).cast("long"))
      Sampling.epochPlan(d, "lang", mixtureWeights,
        budgetTokens = epochBudgetTokens, maxRepeats = epochMaxRepeats)
        .orderBy("lang")
    }, Some(OraclesExt.epochPlan(mixtureWeights,
      epochBudgetTokens, epochMaxRepeats))),
    // §7.5 — max–min fair (water-filling) token allocation: cap
    // dominant sources at the water level, split the leftover as
    // evenly as integers allow — the no-weights-to-tune mixture dial;
    // allocations sum to exactly min(budget, corpus).
    QueryDef("q_waterfill", withTables { s =>
      val d = s.table("documents").withColumn("n_tokens",
        size(TextStats.tokens(col("text"))).cast("long"))
      Sampling.waterFillAllocation(d, "source", waterfillBudget)
    }, Some(OraclesExt.waterFill(waterfillBudget))),
    // §7.5 — temperature-flattened mixture (α = 1/2): keep rates
    // sqrt-proportional to stratum size so the largest stratum stops
    // dominating; exact cross-engine because sqrt is the one power
    // IEEE requires correctly rounded.
    QueryDef("q_mixture_temperature", withTables { s =>
      val d = s.table("documents").withColumn("n_tokens",
        size(TextStats.tokens(col("text"))).cast("long"))
      Sampling.temperatureMixture(d, "lang")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("kept_tokens"))
        .orderBy("lang")
    }, Some(OraclesExt.temperatureMixture)),
    // §7.5 — held-out decontamination: train docs (deterministic md5
    // split) that share any 3-gram shingle with the test split. One
    // shingle equi-join; nothing quadratic.
    QueryDef("q_decontam", withTables { s =>
      val split = Sampling.trainTestSplit(s.table("documents"), testFraction)
      Decontamination.contaminationReport(
        split.filter(col("split") === "train").drop("split"),
        split.filter(col("split") === "test").drop("split"))
        .orderBy("doc_id")
    }, Some(OraclesExt.decontam(testFraction))),
    // §7.5 — GRADED decontamination: per-train-doc shingle-overlap
    // fraction with the held-out set + threshold flag (the PaLM-style
    // rule; the binary any-hit report over-drops long docs).
    QueryDef("q_decontam_frac", withTables { s =>
      val split = Sampling.trainTestSplit(s.table("documents"), testFraction)
      Decontamination.contaminationFraction(
        split.filter(col("split") === "train").drop("split"),
        split.filter(col("split") === "test").drop("split"),
        threshold = decontamFracThreshold)
        .orderBy("doc_id")
    }, Some(OraclesExt.decontamFrac(testFraction, decontamFracThreshold))),
    // §7.5 — best-k-per-group selection (WindowGroupLimit: skewed
    // groups never materialize more than k+ rows per task).
    QueryDef("q_top_quality_per_lang", withTables { s =>
      Sampling.topKPerGroup(
        TextStats.withDocStats(s.table("documents"))
          .select("doc_id", "lang", "quality_score"),
        "lang", "quality_score", topQualityK)
        .orderBy("lang", "doc_id")
    }, Some(OraclesExt.topQualityPerLang(topQualityK))),
    // §7.5 — per-language score calibration (explicit percent_rank):
    // makes quality scores comparable ACROSS groups before any
    // cross-source selection threshold is applied.
    QueryDef("q_score_calibrate", withTables { s =>
      graft.ext.Curation.calibrateScores(
        TextStats.withDocStats(s.table("documents"))
          .select("doc_id", "lang", "quality_score"),
        "lang", "quality_score", "doc_id")
        .orderBy("doc_id")
    }, Some(OraclesExt.scoreCalibrate)),
    // §7.5 — pooled quantile normalization (the microarray classic):
    // each doc's score becomes the pooled value at its within-source
    // midrank percentile, so one global threshold means the same
    // thing for every source — the batch-effect fix calibrateScores'
    // per-group [0,1] rank cannot give.
    QueryDef("q_quantile_normalize", withTables { s =>
      graft.ext.Curation.quantileNormalize(
        TextStats.withDocStats(s.table("documents"))
          .select("doc_id", "source", "quality_score"),
        "source", "quality_score", "doc_id")
        .orderBy("doc_id")
    }, Some(OraclesExt.quantileNormalize)),
    // §7.5 — quality-weighted sampling: acceptance probability = the
    // row's own quality score (soft curation, no cliff). Map-only.
    QueryDef("q_sample_weighted", withTables { s =>
      Sampling.weightedSample(
        TextStats.withDocStats(s.table("documents"))
          .select("doc_id", "lang", "quality_score"),
        "quality_score")
        .orderBy("doc_id")
    }, Some(OraclesExt.sampleWeighted)),
    // §7.5 — relative-quantile curation gate: keep the top 20% of
    // each language by quality score (group-size-proportional, unlike
    // topKPerGroup's fixed k); integer cutoff math, one lang shuffle.
    QueryDef("q_quantile_gate", withTables { s =>
      Curation.quantileGate(
        TextStats.withDocStats(s.table("documents"))
          .select("doc_id", "lang", "quality_score"),
        "lang", "quality_score", "doc_id", quantileKeepNum, quantileKeepDen)
        .orderBy("doc_id")
    }, Some(OraclesExt.quantileGate(quantileKeepNum, quantileKeepDen))),
    // §7.5 — full-pipeline curation verdict: near-dup survivorship +
    // length + quality + repetition + OOV gates, first match wins.
    QueryDef("q_curate_full", withTablesSf { (s, sfDir) =>
      curateFullVerdicts(s, sfDir).orderBy("doc_id")
    }, Some(OraclesExt.curateFull)),
    // §7.5 — the pipeline dashboard: gate-by-gate survivor funnel
    // over the same verdicts (first-failing-gate reasons walk the
    // funnel exactly). Reads the checkpointed verdict relation shared
    // with q_curate_full instead of re-running every gate.
    QueryDef("q_curation_funnel", withTablesSf { (s, sfDir) =>
      Curation.funnelReportFrom(curateFullVerdicts(s, sfDir))
    }, Some(OraclesExt.curationFunnel)),
    // §7.5 — per-source verdict breakdown off the same shared verdict
    // relation: which feeds the gates are rejecting, and why.
    QueryDef("q_curation_by_source", withTablesSf { (s, sfDir) =>
      Curation.verdictBreakdown(curateFullVerdicts(s, sfDir),
        s.table("documents"), "source")
    }, Some(OraclesExt.curationBySource)),
    // §7.5 — CCNet perplexity buckets: head/middle/tail by the
    // document's own language's LM-score terciles (keep head, sample
    // middle, audit tail — the Wenzek et al. split).
    QueryDef("q_ppl_buckets", withTables { s =>
      Curation.perplexityBuckets(s.table("documents")).orderBy("doc_id")
    }, Some(OraclesExt.pplBuckets)),
    // §7.5 — DSIR importance weights: per-doc mean log-likelihood
    // ratio of a Laplace-smoothed target (English slice) vs raw-pool
    // unigram LM — the audit report behind importance resampling.
    QueryDef("q_importance_weights", withTablesSf { (s, sfDir) =>
      importanceWeightsShared(s, sfDir).orderBy("doc_id")
    }, Some(OraclesExt.importanceWeights(dsirTargetLang))),
    // §7.5 — the selection itself: deterministic Gumbel top-k over
    // the shared weight relation (sampling without replacement,
    // inclusion probability increasing in the weight).
    QueryDef("q_dsir_sample", withTablesSf { (s, sfDir) =>
      graft.ext.Importance.dsirResampleFrom(
        importanceWeightsShared(s, sfDir), k = dsirK, salt = dsirSalt)
        .orderBy("rank")
    }, Some(OraclesExt.dsirSample(dsirK, dsirTargetLang, dsirSalt))),
    // §7.5 — deterministic training-order shuffle: md5 total order
    // materialized as (shard, shard_pos, global_pos) via the
    // two-phase offset decomposition; the oracle cross-checks with a
    // naive global window.
    QueryDef("q_shuffle_order", withTables { s =>
      Sampling.shuffleOrder(s.table("documents"), shards = shuffleShards,
        salt = shuffleSalt).orderBy("global_pos")
    }, Some(OraclesExt.shuffleOrder(shuffleShards, shuffleSalt))),
    // §7.5 — context-length chunking: overlapping token windows per
    // doc (map-only explode; trailing runt chunks kept).
    QueryDef("q_chunk", withTables { s =>
      Packing.chunkDocuments(s.table("documents"), chunkMaxTokens, chunkOverlap)
        .orderBy("doc_id", "chunk_index")
    }, Some(OraclesExt.chunkDocs(chunkMaxTokens, chunkOverlap))),
    // §7.5 — sequence packing: two-phase distributed prefix sum (no
    // single-task global window), bit-identical to the oracle's
    // single-window form because all math is integer.
    QueryDef("q_pack_sequences", withTables { s =>
      val toks = s.table("documents").select(col("doc_id"),
        size(TextStats.tokens(col("text"))).cast("long").as("n_tokens"))
      Packing.packSequences(toks, budget = packBudget, shards = 32)
        .orderBy("doc_id")
    }, Some(OraclesExt.packSequences(packBudget))),
    // ...and its fill dashboard: docs/tokens started per pack +
    // boundary straddlers (one pack-keyed roll-up on the map-only
    // packer output).
    QueryDef("q_pack_efficiency", withTables { s =>
      val toks = s.table("documents").select(col("doc_id"),
        size(TextStats.tokens(col("text"))).cast("long").as("n_tokens"))
      Packing.packEfficiency(
        Packing.packSequences(toks, budget = packBudget, shards = 32),
        budget = packBudget)
    }, Some(OraclesExt.packEfficiency(packBudget))),
    // §7.5 — the end-to-end keep/drop curation verdict (near-dup
    // survivorship > length gate > quality gate, with audit reasons).
    QueryDef("q_curate", withTables { s =>
      Curation.curate(s.table("documents"),
        Curation.DefaultMinTokens, Curation.DefaultMinQuality)
        .orderBy("doc_id")
    }, Some(OraclesExt.curate)),
    // §7.5 — cross-modal curation: the near-dup gate runs in
    // embedding space (SemDeDup decision), then the text gates.
    QueryDef("q_curate_semantic", withTables { s =>
      val emb = s.table("embeddings")
      Curation.curateSemantic(s.table("documents"), emb,
        nlist = adaptiveNlist(emb), nprobe = semDedupNprobe)
        .orderBy("doc_id")
    }, Some(OraclesExt.curateSemantic(adaptiveNlistOracle, semDedupNprobe))),
    // §7.5 — the SAME cross-modal curation verdict, but the near-dup
    // gate probes the PERSISTED cell index (built once in
    // prewarmIndexes — the build/serve split for the n^1.5
    // low-threshold pair-mining cost): identical results, identical
    // oracle; the n·nlist assignment is paid at build, not per run.
    QueryDef("q_curate_semantic_indexed", withTablesSf { (s, sfDir) =>
      Curation.curateSemanticIndexed(s, s.table("documents"),
        s.table("embeddings"), cellIndexDir(s, sfDir),
        nprobe = semDedupNprobe, regime = Similarity.PairRegime.Plain)
        .orderBy("doc_id")
    }, Some(OraclesExt.curateSemantic(adaptiveNlistOracle, semDedupNprobe))),
    // §7.5 — the SAME verdict a third way: the indexed probe with the
    // SQ8 pre-screen inside cells (the declared escalation past the
    // n^1.5 exact-dot tail — PLANS.md). The screen's quantization
    // bound makes it lossless BY CONSTRUCTION, so the query shares
    // the oracle; q_sq8_screen_audit re-proves losslessness on the
    // data every round.
    QueryDef("q_curate_semantic_screened", withTablesSf { (s, sfDir) =>
      Curation.curateSemanticIndexed(s, s.table("documents"),
        s.table("embeddings"), cellIndexDir(s, sfDir),
        nprobe = semDedupNprobe, regime = Similarity.PairRegime.Screened)
        .orderBy("doc_id")
    }, Some(OraclesExt.curateSemantic(adaptiveNlistOracle, semDedupNprobe))),
    // §7.5 — what a USER calls (VERDICT r13 task 3): the same verdict
    // with the mining regime picked automatically from the index's
    // measured within-cell candidate volume — plain exact dots below
    // the cutoff (where the screen's survivor re-fetch was a measured
    // sf1 loss), the SQ8 screen above it (the measured sf10 −17%).
    // Both regimes are bit-identical, so this shares their oracle; the
    // two pinned queries above stay as the per-regime bench evidence.
    QueryDef("q_curate_semantic_auto", withTablesSf { (s, sfDir) =>
      Curation.curateSemanticIndexed(s, s.table("documents"),
        s.table("embeddings"), cellIndexDir(s, sfDir),
        nprobe = semDedupNprobe)
        .orderBy("doc_id")
    }, Some(OraclesExt.curateSemantic(adaptiveNlistOracle, semDedupNprobe))))
}
