package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Similarity}
import Common._

/** Similarity search over `embeddings`: exact, LSH, IVF, PQ and
  * SQ8 k-NN, recall curves, semantic near-dup pairs and k-means
  * reports.
  */
object VectorQueries extends QueryFamily {

  // k-NN probes: each query vector asks for its knnK nearest; IVF
  // splits the corpus into ivfNlist cells and probes ivfNprobe of them
  private val knnK = 10
  private val ivfNlist = 16
  private val ivfNprobe = 4
  private val embDims = 64

  // the query vectors: the first five (the oracles' `vec_id < 5`)
  private def probes(emb: DataFrame): DataFrame = emb.filter(col("vec_id") < 5)
  // hyperplanes per LSH bucket key
  private val lshPlanes = 4
  // low-threshold cosine bar of the cell-pruned pair queries
  private val pairThreshold = 0.4
  // refine stage recalls 30 ADC candidates before the exact rerank
  private val pqRefineCandidateK = 30
  // PQ geometry: 64 dims → 4 subspaces × 16 dims, 16-entry codebooks
  private val pqM = 4
  private val pqKsub = 16
  // SQ8 search: candidates recalled from the quantized scores before
  // the exact rerank (3× the returned k)
  private val sq8Rerank = 30
  // JL sketch width of q_random_projection
  private val projectionDims = 8
  // cells q_ranking_quality's IVF retrieval probes
  private val rankingNprobe = 2
  // hard-negative mining band: below the near-dup/positive ceiling,
  // above the trivially-easy floor (synthetic corpus cosines top out
  // ~0.4; p90 ≈ 0.16, p99 ≈ 0.28 — the band is the informative tail)
  private val hardNegFloor = 0.20
  private val hardNegCeiling = 0.35
  // matryoshka recall: prefix widths evaluated against the 64-dim truth
  private val matryoshkaDims = Seq(8, 16, 32, 64)
  // k-means cluster profile: 16 clusters, 2 Lloyd refinements —
  // single-sourced so the Spark query and oracle SQL cannot drift.
  private val kmeansNlist = 16
  private val kmeansRefine = 2
  private val clusterSampleCap = 20
  // ANN recall curve probe settings (shared with OraclesExt.annRecall);
  // includes nprobe = nlist so the curve visibly tops out at 1.0
  private val annRecallNprobes = Seq(1, 2, 4, 16)
  // embedding cluster-outlier z bar (shared with
  // OraclesExt.clusterOutliers; 1.5 chosen against the fixture's
  // measured z distribution — a 2.0 bar returns ZERO rows at sf0.01,
  // making the oracle check vacuous: 1.5 yields 11/7/33 outliers at
  // sf0.001/0.01/0.1)
  private val outlierZ = 1.5

  private[graft] def ivfIndexDir(s: SparkSession, sfDir: String): String =
    cachedIndexDir(s, "ivf", sfDir) { d =>
      Similarity.writeIvfIndex(s.table("embeddings"), d, nlist = ivfNlist)
    }

  private[graft] def ivfPqIndexDir(s: SparkSession, sfDir: String): String =
    cachedIndexDir(s, "ivfpq", sfDir) { d =>
      Similarity.writeIvfPqIndex(s.table("embeddings"), d, nlist = ivfNlist,
        m = pqM, ksub = pqKsub, dims = embDims)
    }

  private[graft] def kmeansAssigned(s: SparkSession, sfDir: String): DataFrame =
    sharedFrame(s, "kmeans_assign", sfDir) {
      Similarity.kmeansAssign(s.table("embeddings"),
        nlist = kmeansNlist, refine = kmeansRefine)
    }

  override val indexes = Seq(ivfIndexDir, ivfPqIndexDir)
  override val setupFrames = Seq("setup_kmeans_assign" -> kmeansAssigned)

  val defs: Seq[QueryDef] = Seq(
    // §7.5 extensions — similarity search over `embeddings`.
    // Banded hyperplane LSH (8 bands × 2 planes): candidates meet on
    // an equi-join over band keys — no all-pairs join in the plan
    // (PlanHygieneSpec asserts no BroadcastNestedLoopJoin).
    QueryDef("q_embedding_neardup", withTables { s =>
      Similarity.thresholdPairs(s.table("embeddings"), threshold = 0.4,
        bands = 8, planesPerBand = 2, dims = embDims)
        .orderBy("id_a", "id_b")
    }, Some(OraclesExt.embeddingNearDup)),
    // §7.5 — cross-lingual bitext mining: near-dup pairs in embedding
    // space whose documents carry different language labels — the
    // LASER/CCMatrix translation-candidate surface.
    QueryDef("q_bitext_mine", withTables { s =>
      val emb = s.table("embeddings")
      Similarity.crossLingualPairs(emb, s.table("documents"),
        threshold = pairThreshold, nlist = adaptiveNlist(emb),
        nprobe = semDedupNprobe)
        .orderBy("id_a", "id_b")
    }, Some(OraclesExt.crossLingualPairs(pairThreshold, adaptiveNlistOracle, semDedupNprobe))),
    // SemDeDup-style cell-pruned pairs: the LOW-threshold companion
    // (cluster-then-compare; per-cell work bounded by nlist ∝ corpus).
    QueryDef("q_semdedup", withTables { s =>
      val emb = s.table("embeddings")
      Similarity.cellPairs(emb, threshold = pairThreshold,
        nlist = adaptiveNlist(emb), nprobe = semDedupNprobe)
        .orderBy("id_a", "id_b")
    }, Some(OraclesExt.semDedupPairs(pairThreshold, adaptiveNlistOracle, semDedupNprobe))),
    // Embedding-space near-dup clustering: the banded-LSH pair graph
    // fed through the same connected-components + survivorship
    // roll-up as the document families (maxIter=50: semantic-space
    // chains can be longer than text near-dup chains).
    QueryDef("q_embedding_clusters", withTables { s =>
      val emb = s.table("embeddings")
      // cellPairs (adaptive nlist), not banded LSH: 0.4 is the
      // low-threshold regime — see crossLingualPairs' scale note.
      val pairs = Similarity.cellPairs(emb, threshold = pairThreshold,
        nlist = adaptiveNlist(emb), nprobe = semDedupNprobe)
        .select("id_a", "id_b")
      Dedup.clustersFromPairs(emb, pairs, idCol = "vec_id", maxIter = 50)
        .orderBy("vec_id")
    }, Some(OraclesExt.embeddingClusters(adaptiveNlistOracle, semDedupNprobe))),
    QueryDef("q_knn_bruteforce", withTables { s =>
      val emb = s.table("embeddings")
      Similarity.topK(emb, probes(emb), k = knnK)
        .orderBy("query_id", "rank")
    }, Some(OraclesExt.knnBruteForce)),
    // §7.5 — FILTERED vector search (metadata-constrained ANN): the
    // corpus is PRE-filtered by the document predicate before scoring,
    // so every query returns k qualifying neighbors — the semantics a
    // post-filter on an unconstrained top-k cannot guarantee (it
    // returns ≤ k after discarding). The predicate join is id-keyed
    // and pushes into the scan side of the broadcast score join.
    QueryDef("q_knn_filtered", withTables { s =>
      val emb = s.table("embeddings")
      val allowed = s.table("documents")
        .filter(col("lang") === dsirTargetLang)
        .select(col("doc_id").as("vec_id"))
      Similarity.topK(emb.join(allowed, "vec_id"),
        probes(emb), k = knnK)
        .orderBy("query_id", "rank")
    }, Some(OraclesExt.knnFiltered(dsirTargetLang))),
    // §7.5 — Johnson–Lindenstrauss random projection: 64-d embeddings
    // compacted to 8-d sketches with an md5-derived constant matrix;
    // map-only, no shuffle, bit-identical matrix in both engines.
    QueryDef("q_random_projection", withTables { s =>
      Similarity.randomProjection(s.table("embeddings"),
        outDims = projectionDims, dims = embDims)
        .orderBy("vec_id")
    }, Some(OraclesExt.randomProjection(projectionDims, embDims))),
    QueryDef("q_knn_lsh", withTables { s =>
      val emb = s.table("embeddings")
      Similarity.lshTopK(emb, probes(emb), k = knnK,
        planes = lshPlanes, dims = embDims).orderBy("query_id", "rank")
    }, Some(OraclesExt.knnLsh)),
    QueryDef("q_knn_ivf", withTables { s =>
      val emb = s.table("embeddings")
      Similarity.ivfTopK(emb, probes(emb), k = knnK,
        nlist = ivfNlist, nprobe = ivfNprobe).orderBy("query_id", "rank")
    }, Some(OraclesExt.knnIvf)),
    // §7.5 — the ANN tuning curve: recall@k of the IVF probe against
    // the brute-force truth, per nprobe (monotone; 1.0 at nprobe =
    // nlist by construction) — what a user reads to set the
    // recall/cost dial.
    QueryDef("q_ann_recall", withTables { s =>
      val emb = s.table("embeddings")
      Similarity.annRecall(emb, probes(emb), k = knnK,
        nlist = ivfNlist, nprobes = annRecallNprobes)
    }, Some(OraclesExt.annRecall(knnK, ivfNlist, annRecallNprobes))),
    // Matryoshka curve: recall of prefix-dimension search vs the
    // full-width truth — how many dims can be dropped before recall
    // pays (the nested-embedding serving dial; 1.0 at full width by
    // construction).
    QueryDef("q_matryoshka_recall", withTables { s =>
      val emb = s.table("embeddings")
      Similarity.matryoshkaRecall(emb, probes(emb),
        k = knnK, prefixDims = matryoshkaDims)
    }, Some(OraclesExt.matryoshkaRecall(knnK, matryoshkaDims))),
    // The compressed sibling: ADC scoring's extra recall loss on top
    // of cell pruning — PQ recall ≤ IVF recall at every nprobe.
    QueryDef("q_ann_recall_pq", withTables { s =>
      val emb = s.table("embeddings")
      Similarity.annRecallPq(emb, probes(emb), k = knnK,
        nlist = ivfNlist, nprobes = annRecallNprobes,
        m = pqM, ksub = pqKsub, dims = embDims)
    }, Some(OraclesExt.annRecallPq(pqM, pqKsub, embDims / pqM,
      knnK, ivfNlist, annRecallNprobes))),
    // §7.5 — the PERSISTED index twin of q_knn_ivf: build the
    // cell-partitioned parquet index once, probe with partition
    // pruning (only nprobe/nlist directories are scanned). Identical
    // results to q_knn_ivf by construction → same oracle.
    QueryDef("q_knn_ivf_indexed", withTablesSf { (s, sfDir) =>
      val emb = s.table("embeddings")
      Similarity.ivfTopKIndexed(ivfIndexDir(s, sfDir),
        probes(emb),
        k = knnK, nprobe = ivfNprobe).orderBy("query_id", "rank")
    }, Some(OraclesExt.knnIvf)),
    // IVF with one deterministic Lloyd refinement of the sampled
    // seeds (decimal-exact per-dim means — partitioning-independent).
    QueryDef("q_knn_ivf_refined", withTables { s =>
      val emb = s.table("embeddings")
      Similarity.ivfTopK(emb, probes(emb), k = knnK,
        nlist = ivfNlist, nprobe = ivfNprobe, refine = 1).orderBy("query_id", "rank")
    }, Some(OraclesExt.knnIvfRefined)),
    // §7.5 — product quantization: each 64-float vector compressed to
    // m=4 codebook indices (squared-L2 assignment against the
    // md5-sampled deterministic codebook); the long code relation is
    // the compressed-ANN storage shape.
    QueryDef("q_pq_codes", withTables { s =>
      Similarity.pqEncode(s.table("embeddings"), m = pqM, ksub = pqKsub,
        dims = embDims).orderBy("vec_id", "sub")
    }, Some(OraclesExt.pqCodes(pqM, pqKsub, embDims / pqM))),
    // ADC search over the PQ codes: per-query lookup tables, exact
    // decimal m-term sums, ranked from codes alone (the vectors are
    // never scanned at query time).
    QueryDef("q_knn_pq", withTables { s =>
      val emb = s.table("embeddings")
      Similarity.pqAdcTopK(emb, probes(emb), k = knnK,
        m = pqM, ksub = pqKsub, dims = embDims).orderBy("query_id", "rank")
    }, Some(OraclesExt.knnPq(pqM, pqKsub, embDims / pqM, knnK))),
    // The FAISS-style composition: IVF cells prune which vectors a
    // query meets, PQ codes score each meeting (normalized space, so
    // ADC L2 ranks by cosine).
    QueryDef("q_knn_ivfpq", withTables { s =>
      val emb = s.table("embeddings")
      Similarity.ivfPqTopK(emb, probes(emb), k = knnK,
        nlist = ivfNlist, nprobe = ivfNprobe, m = pqM, ksub = pqKsub, dims = embDims)
        .orderBy("query_id", "rank")
    }, Some(OraclesExt.knnIvfPq(pqM, pqKsub, embDims / pqM, knnK, ivfNlist, ivfNprobe))),
    // RESIDUAL encoding — FAISS's default: PQ quantizes v − c(v)
    // per cell, spending the codebook on fine detail; ADC tables are
    // keyed per (query, probed cell).
    QueryDef("q_knn_ivfpq_residual", withTables { s =>
      val emb = s.table("embeddings")
      Similarity.ivfPqResidualTopK(emb, probes(emb),
        k = knnK, nlist = ivfNlist, nprobe = ivfNprobe, m = pqM, ksub = pqKsub,
        dims = embDims).orderBy("query_id", "rank")
    }, Some(OraclesExt.knnIvfPqResidual(pqM, pqKsub,
      embDims / pqM, knnK, ivfNlist, ivfNprobe))),
    // ADC-candidates → exact-cosine rerank: the compressed index
    // recalls candidateK cheaply, the raw vectors are fetched only
    // for those ids (query-volume-shaped refine).
    QueryDef("q_knn_ivfpq_refined", withTables { s =>
      val emb = s.table("embeddings")
      Similarity.ivfPqRefineTopK(emb, probes(emb),
        k = knnK, candidateK = pqRefineCandidateK, nlist = ivfNlist, nprobe = ivfNprobe,
        m = pqM, ksub = pqKsub, dims = embDims)
        .orderBy("query_id", "rank")
    }, Some(OraclesExt.knnIvfPqRefined(pqM, pqKsub, embDims / pqM, pqRefineCandidateK,
      knnK, ivfNlist, ivfNprobe))),
    // The PERSISTED twin of q_knn_ivfpq: probe reads only the probed
    // cells' CODE directories (partition pruning over m-int rows, the
    // raw vectors never touched) — identical rows by construction →
    // same oracle.
    QueryDef("q_knn_ivfpq_indexed", withTablesSf { (s, sfDir) =>
      val emb = s.table("embeddings")
      Similarity.ivfPqTopKIndexed(ivfPqIndexDir(s, sfDir),
        probes(emb), k = knnK, nprobe = ivfNprobe,
        m = pqM, dims = embDims).orderBy("query_id", "rank")
    }, Some(OraclesExt.knnIvfPq(pqM, pqKsub, embDims / pqM, knnK, ivfNlist, ivfNprobe))),
    // §7.5 — embedding dimension health: per-dim count/zeros/min/max/
    // mean/std in one corpus pass — the dead-dimension detector run
    // before any index build.
    QueryDef("q_embedding_dims", withTables { s =>
      Similarity.dimProfile(s.table("embeddings")).orderBy("dim")
    }, Some(OraclesExt.embeddingDims)),
    // §7.5 — multi-probe LSH: each query also probes every
    // 1-bit-flipped bucket, repairing recall for vectors near a
    // hyperplane without extra tables (Lv et al., VLDB 2007).
    QueryDef("q_knn_lsh_multiprobe", withTables { s =>
      val emb = s.table("embeddings")
      Similarity.lshMultiProbeTopK(emb, probes(emb),
        k = knnK, planes = lshPlanes).orderBy("query_id", "rank")
    }, Some(OraclesExt.knnLshMultiprobe(knnK, lshPlanes))),
    // §7.5 — SQ8 scalar-quantized search: 1 byte/dim affine codes,
    // asymmetric dequantized candidate scoring, exact top-k rerank —
    // the middle compression point between flat scan and PQ.
    QueryDef("q_knn_sq8", withTables { s =>
      val emb = s.table("embeddings")
      Similarity.sq8TopK(emb, probes(emb), k = knnK,
        rerank = sq8Rerank).orderBy("query_id", "rank")
    }, Some(OraclesExt.knnSq8(knnK, sq8Rerank))),
    // §7.5 — embedding-space drift monitor: pairwise cosine between
    // per-label centroid vectors (exact decimal per-dim means; the
    // pair join runs over the bounded group table only).
    QueryDef("q_embedding_drift", withTables { s =>
      Similarity.centroidDrift(s.table("embeddings"), "label")
        .orderBy("group_a", "group_b")
    }, Some(OraclesExt.embeddingDrift)),
    // k-means corpus-topology report (2 Lloyd steps): cluster sizes
    // and cohesion — what cluster-balanced sampling / SemDeDup read.
    QueryDef("q_embedding_kmeans", withTablesSf { (s, sfDir) =>
      Similarity.kmeansProfileFrom(kmeansAssigned(s, sfDir))
    }, Some(OraclesExt.kmeansProfile(kmeansNlist, kmeansRefine))),
    // Cluster-quality companion: per-cluster simplified silhouette
    // (own vs runner-up centroid distance) — computes its own Lloyd
    // pipeline because it needs the top-2 scores the shared
    // assignment deliberately drops (and the bench then measures the
    // whole operator, the profiler-family rule).
    QueryDef("q_kmeans_silhouette", withTables { s =>
      Similarity.kmeansSilhouette(s.table("embeddings"),
        nlist = kmeansNlist, refine = kmeansRefine)
    }, Some(OraclesExt.kmeansSilhouette(kmeansNlist, kmeansRefine))),
    // Junk-mode detector off the SAME shared assignment (one Lloyd
    // pipeline per suite, many reports): members ≥2σ below their
    // cluster's mean cohesion.
    QueryDef("q_embedding_outliers", withTablesSf { (s, sfDir) =>
      Similarity.clusterOutliersFrom(kmeansAssigned(s, sfDir), outlierZ)
        .orderBy("vec_id")
    }, Some(OraclesExt.clusterOutliers(kmeansNlist, kmeansRefine, outlierZ))),
    // cluster-capped diversity sample: ≤ cap md5-picked members per
    // k-means cluster (cluster-balanced corpus pruning). Shares the
    // checkpointed assignment with q_embedding_kmeans — the centroid
    // pipeline runs once per suite, the way a real pipeline would.
    QueryDef("q_cluster_sample", withTablesSf { (s, sfDir) =>
      Similarity.clusterSampleFrom(kmeansAssigned(s, sfDir),
        cap = clusterSampleCap)
        .orderBy("vec_id")
    }, Some(OraclesExt.clusterSample(kmeansNlist, kmeansRefine, clusterSampleCap))),
    // §7.5 — screen-stage audit (the lshStageAudit posture): over ALL
    // within-cell candidates, every exact ≥-threshold pair survived
    // the SQ8 screen; the oracle recomputes the exact pair count and
    // pins screen_lossless against literal TRUE.
    QueryDef("q_sq8_screen_audit", withTablesSf { (s, sfDir) =>
      Similarity.sq8ScreenAudit(s, cellIndexDir(s, sfDir),
        threshold = pairThreshold, nprobe = semDedupNprobe)
    }, Some(OraclesExt.sq8ScreenAudit(
      pairThreshold, adaptiveNlistOracle, semDedupNprobe))),
    // Binary sign-quantized ANN: 1 bit/dim packed into one BIGINT,
    // Hamming-ranked candidates, exact-cosine rerank — the most
    // compressed member of the quantization family (SQ8, PQ, binary).
    QueryDef("q_knn_binary", withTables { s =>
      val emb = s.table("embeddings")
      Similarity.binaryTopK(emb, probes(emb), k = knnK,
          rerank = sq8Rerank)
        .orderBy("query_id", "rank")
    }, Some(OraclesExt.knnBinary(knnK, sq8Rerank))),
    // Contrastive hard-negative mining: per query, top-k neighbors in
    // the informative band [floor, ceiling) — excludes positives/
    // near-dups above and trivially-easy negatives below.
    QueryDef("q_hard_negatives", withTables { s =>
      val emb = s.table("embeddings")
      Similarity.hardNegatives(emb, probes(emb),
          k = knnK, hardNegFloor, hardNegCeiling)
        .orderBy("query_id", "rank")
    }, Some(OraclesExt.hardNegatives(knnK, hardNegFloor, hardNegCeiling))),
    // Graded ranking quality: MRR / average precision / nDCG@k of the
    // IVF retrieval vs brute-force truth — the position-sensitive
    // companions of q_ann_recall's hit-count curve.
    QueryDef("q_ranking_quality", withTables { s =>
      val emb = s.table("embeddings")
      graft.ext.Eval.rankingQuality(emb, probes(emb),
        k = knnK, nlist = ivfNlist, nprobe = rankingNprobe)
    }, Some(OraclesExt.rankingQuality(knnK, ivfNlist, rankingNprobe))))
}
