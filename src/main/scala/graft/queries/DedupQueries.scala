package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Sampling, TextStats}
import Common._

/** Deduplication over `documents`: exact, normalized, shingle,
  * MinHash/SimHash and span dedup, clusters and survivorship, and
  * record linkage.
  */
object DedupQueries extends QueryFamily {

  // fuzzy dedup: keep candidate pairs with edit ratio <= 1/5
  private val fuzzyRatioNum = 1
  private val fuzzyRatioDen = 5
  // containment dedup: flag pairs where the smaller shingle set is
  // ≥ 90% contained in the larger (Broder containment)
  private val containmentThreshold = 0.9
  // sorted-neighborhood blocking: slide window and prefix-block length
  private val snmWindow = 4
  private val snmBlockLen = 4
  // Fellegi–Sunter comparison vector over the part candidate pairs
  private val linkageFields = Seq("p_brand", "p_type", "p_size")
  // Fellegi–Sunter EM rounds (each is one CTE pass over <= 2^F rows)
  private val linkageEmIters = 5
  // duplicated-span detection: positional n-gram size + min distinct
  // docs for a span to count as duplicated (shared with oracle twin)
  private val dupSpanN = 5
  private val dupSpanMinDocs = 2L
  // deterministic Bloom filter: 2^17 bits / 5 hashes → fpr < 1e-5 at
  // the test scales; constants shared with OraclesExt.bloomDedup
  private val bloomBitsM = 1L << 17
  private val bloomK = 5

  private[graft] def nearDupIndexDir(s: SparkSession, sfDir: String): String =
    cachedIndexDir(s, "neardup", sfDir) { d =>
      Dedup.writeNearDupIndex(
        s.table("documents").filter(col("doc_id") % 10 =!= 0), d)
    }

  // One clustering, many reports: q_dedup_keep_best and
  // q_dedup_savings COMPOSE the cluster assignment; q_dedup_clusters
  // keeps computing its own so the bench still measures the
  // components operator itself (the profiler-family rule).
  private[graft] def nearDupClustersShared(s: SparkSession, sfDir: String): DataFrame =
    sharedFrame(s, "neardup_clusters", sfDir) {
      Dedup.nearDupClusters(s.table("documents"))
    }

  override val indexes = Seq(nearDupIndexDir)
  override val setupFrames = Seq("setup_neardup_clusters" -> nearDupClustersShared)

  val defs: Seq[QueryDef] = Seq(
    // §7.5 extensions — deduplication family over `documents`.
    QueryDef("q_dedup_exact", withTables { s =>
      Dedup.exact(s.table("documents")).orderBy("keep_id")
    }, Some(OraclesExt.dedupExact)),
    // §7.5 — normalization-first dedup: exact dedup keyed on the
    // canonicalized text (lowercase / punctuation-collapsed), the
    // standard cheap near-dup pass before MinHash. Map-only
    // normalize + the same single md5-keyed shuffle as q_dedup_exact.
    QueryDef("q_dedup_normalized", withTables { s =>
      Dedup.exact(s.table("documents")
          .withColumn("text", TextStats.normalizeText(col("text"))))
        .orderBy("keep_id")
    }, Some(OraclesExt.dedupNormalized)),
    // the stop-shingle doc-frequency cap — the guard that keeps the
    // inverted-index self-join off quadratic hot keys at corpus scale
    // — single-sourced with the oracle's freq CTE via Dedup.
    QueryDef("q_dedup_ngram_jaccard", withTables { s =>
      Dedup.ngramJaccardPairs(s.table("documents"), n = 3, threshold = 0.8,
        maxDocFreq = Dedup.NgramStopShingleCap).orderBy("id_a", "id_b")
    }, Some(OraclesExt.dedupNgramJaccard)),
    // §7.5 — the dedup-stage trust number: precision/recall of LSH
    // banding candidates vs the exact-Jaccard truth relation.
    QueryDef("q_lsh_audit", withTables { s =>
      Dedup.lshStageAudit(s.table("documents"))
    }, Some(OraclesExt.lshAudit)),
    QueryDef("q_dedup_minhash_lsh", withTables { s =>
      Dedup.minHashNearDupPairs(s.table("documents"), n = 3, k = 16,
        bands = 4, threshold = 0.8).orderBy("id_a", "id_b")
    }, Some(OraclesExt.dedupMinHashLsh)),
    // cross-corpus near-dups: the deterministic train split deduped
    // against the test split (band keys meet across corpora only).
    QueryDef("q_cross_dedup", withTables { s =>
      val split = Sampling.trainTestSplit(s.table("documents"), testFraction)
      Dedup.crossCorpusNearDups(
        split.filter(col("split") === "train").drop("split"),
        split.filter(col("split") === "test").drop("split"))
        .orderBy("id_a", "id_b")
    }, Some(OraclesExt.crossDedup(testFraction))),
    // §7.5 — duplicated n-gram SPAN stats (substring-dedup signal:
    // repeated spans across docs, counted per occurrence; inverted
    // index only, nothing quadratic).
    QueryDef("q_dup_spans", withTables { s =>
      Dedup.duplicateSpanStats(s.table("documents"),
        n = dupSpanN, minDocs = dupSpanMinDocs).orderBy("doc_id")
    }, Some(OraclesExt.dupSpans(dupSpanN, dupSpanMinDocs))),
    // §7.5 — substring-dedup REWRITE: positions under cross-doc-hot
    // n-gram windows removed, document kept (Lee et al. 2022 span
    // removal; the surgical companion of q_dup_spans' stats).
    QueryDef("q_strip_spans", withTables { s =>
      Dedup.stripDuplicateSpans(s.table("documents"),
        n = dupSpanN, minDocs = dupSpanMinDocs).orderBy("doc_id")
    }, Some(OraclesExt.stripSpans(dupSpanN, dupSpanMinDocs))),
    // Near-dup clustering + survivorship: connected components over
    // the MinHash pair graph, canonical survivor = min doc id.
    QueryDef("q_dedup_clusters", withTables { s =>
      Dedup.nearDupClusters(s.table("documents")).orderBy("doc_id")
    }, Some(OraclesExt.dedupClusters)),
    // §7.5 — QUALITY-argmax survivorship: the retention policy a
    // production dedup ships (keep each near-dup cluster's cleanest
    // member, not its lowest id) — one join + per-cluster rank on top
    // of the same component machinery.
    QueryDef("q_dedup_keep_best", withTablesSf { (s, sfDir) =>
      val docs = s.table("documents")
      Dedup.keepBestPerCluster(
        nearDupClustersShared(s, sfDir),
        TextStats.withDocStats(docs))
        .orderBy("doc_id")
    }, Some(OraclesExt.dedupKeepBest)),
    // §7.5 — CONTAINMENT near-dup pairs: quote/excerpt detection via
    // Broder containment (n_common / min set size) — symmetric
    // Jaccard systematically misses a short doc embedded in a long
    // one because the union is dominated by the long side.
    QueryDef("q_dedup_containment", withTables { s =>
      Dedup.containmentPairs(s.table("documents"), n = 3,
        threshold = containmentThreshold,
        maxDocFreq = Dedup.NgramStopShingleCap)
        .orderBy("id_a", "id_b")
    }, Some(OraclesExt.dedupContainment(containmentThreshold))),
    // §7.5 — PERSISTED near-dup index probe: corpus band keys +
    // shingle sets written once at ingest (doc_id % 10 != 0); the new
    // batch (doc_id % 10 == 0) probes for verified near-dups without
    // re-signaturing the corpus — the incremental-ingest path.
    QueryDef("q_neardup_index_probe", withTablesSf { (s, sfDir) =>
      Dedup.probeNearDupIndex(s, nearDupIndexDir(s, sfDir),
        s.table("documents").filter(col("doc_id") % 10 === 0))
        .orderBy("corpus_id", "batch_id")
    }, Some(OraclesExt.nearDupIndexProbe)),
    // §7.5 — per-source dedup savings: docs/tokens dropped by
    // survivorship and the resulting token savings ratio — the number
    // the pipeline owner reads after a dedup run.
    QueryDef("q_dedup_savings", withTablesSf { (s, sfDir) =>
      Dedup.dedupSavingsFrom(nearDupClustersShared(s, sfDir),
        s.table("documents")).orderBy("source")
    }, Some(OraclesExt.dedupSavings)),
    // §7.5 — cross-source near-dup matrix: which feeds mirror or
    // scrape each other (pair-level sibling of q_source_overlap).
    QueryDef("q_neardup_sources", withTables { s =>
      Dedup.nearDupSourceMatrix(s.table("documents"))
        .orderBy("source_a", "source_b")
    }, Some(OraclesExt.nearDupSources)),
    QueryDef("q_dedup_simhash", withTables { s =>
      Dedup.simHashNearDupPairs(s.table("documents"), maxHamming = 3)
        .orderBy("id_a", "id_b")
    }, Some(OraclesExt.dedupSimHash)),
    // §7.5 — feed-redundancy audit: pairwise n-gram Jaccard between
    // sources (mirror/scrape detection before doc-level dedup).
    QueryDef("q_source_overlap", withTables { s =>
      graft.ext.CorpusOverlap.sourceOverlap(s.table("documents"))
    }, Some(OraclesExt.sourceOverlap)),
    // §7.5 — record-linkage blocking: sorted-neighborhood candidate
    // pairs over part names (short keys give MinHash nothing to
    // sketch; sort-adjacency inside prefix blocks is the classic
    // complement). Linear candidate count by construction.
    QueryDef("q_blocking_pairs", withTables { s =>
      graft.ext.Dedup.sortedNeighborhoodPairs(s.table("part"),
        "p_partkey", "p_name", snmWindow, snmBlockLen)
    }, Some(OraclesExt.sortedNeighborhood(snmWindow, snmBlockLen))),
    // §7.5 — incremental "seen before" dedup: a deterministic
    // md5-derived Bloom filter built over the train split, probed by
    // the test split (no false negatives; fpr documented in Sketches).
    QueryDef("q_bloom_dedup", withTables { s =>
      val split = Sampling.trainTestSplit(s.table("documents"), testFraction)
      val bloom = graft.ext.Sketches.bloomBuild(
        split.filter(col("split") === "train"), bloomBitsM, bloomK)
      graft.ext.Sketches.bloomProbe(
        split.filter(col("split") === "test"), bloom, bloomBitsM, bloomK)
        .orderBy("doc_id")
    }, Some(OraclesExt.bloomDedup(testFraction, bloomBitsM, bloomK))),
    // §7.5 — fuzzy (edit-distance) dedup: MinHash/LSH candidates
    // re-verified with Levenshtein over canonicalized text — catches
    // small in-place edits that set-Jaccard under-reports. The
    // quadratic scorer only ever sees band collisions.
    QueryDef("q_dedup_fuzzy", withTables { s =>
      Dedup.editDistanceNearDups(s.table("documents"),
          maxRatioNum = fuzzyRatioNum, maxRatioDen = fuzzyRatioDen)
        .orderBy("id_a", "id_b")
    }, Some(OraclesExt.dedupFuzzy(fuzzyRatioNum, fuzzyRatioDen))),
    // Fellegi–Sunter match scores over the sorted-neighborhood
    // candidate pairs: data-estimated chance-agreement weights, an
    // exact-decimal log-likelihood-ratio score, 3-way verdict.
    QueryDef("q_linkage_score", withTables { s =>
      Dedup.linkageScores(s.table("part"), "p_partkey", "p_name",
        linkageFields, snmWindow, snmBlockLen)
    }, Some(OraclesExt.linkageScores(linkageFields, snmWindow, snmBlockLen,
      Dedup.LinkageMNum, Dedup.LinkageMDen, Dedup.LinkageUpper.toString,
      Dedup.LinkageLower.toString))),
    // Fellegi–Sunter EM: estimate per-field m/u probabilities and the
    // match proportion from the blocked candidate pairs themselves —
    // the unsupervised calibration behind q_linkage_score's weights.
    QueryDef("q_linkage_em", withTables { s =>
      Dedup.linkageEm(s.table("part"), "p_partkey", "p_name",
        linkageFields, snmWindow, snmBlockLen, linkageEmIters)
    }, Some(OraclesExt.linkageEm(linkageFields, snmWindow, snmBlockLen,
        linkageEmIters))),
    // Golden records: the record-linkage family's terminal stage —
    // match verdicts -> connected components -> one merged row per
    // entity with majority-value survivorship per field.
    QueryDef("q_golden_records", withTables { s =>
      Dedup.goldenRecords(s.table("part"), "p_partkey", "p_name",
        linkageFields, snmWindow, snmBlockLen)
    }, Some(OraclesExt.goldenRecords(linkageFields, snmWindow, snmBlockLen,
      Dedup.LinkageMNum, Dedup.LinkageMDen, Dedup.LinkageUpper.toString,
      Dedup.LinkageLower.toString))))
}
