package graft.queries

import org.apache.spark.sql.SparkSession
import Common._

/** Lexical and hybrid retrieval over `documents`: BM25 (in-memory
  * and indexed), proximity, fusion, feedback expansion and reranks.
  */
object SearchQueries extends QueryFamily {

  // MMR diversified rerank: greedy picks from the candidate pool
  private val mmrQueryIds = Seq(0L, 1L, 2L)
  private val mmrCandidateK = 20
  private val mmrSelectK = 5
  // proximity search: two mid-frequency terms and the NEAR window
  private val proxTermA = "spark"
  private val proxTermB = "window"
  private val proxWindow = 3
  // RRF fusion: list depth, fused cut, and the canonical K=60
  private val rrfListK = 25
  private val rrfTopK = 10
  private val rrfKConst = 60
  private val bm25Terms = Seq("spark", "window", "merge")
  private val prfFbDocs = 10
  private val prfFbTerms = 25
  private val bm25K = 20
  private val bm25K1 = 1.2
  private val bm25B = 0.75
  private val hybridQueryVecId = 0L
  private val hybridCandidateK = 50
  private val hybridK = 10

  private[graft] def searchIndexDir(s: SparkSession, sfDir: String): String =
    cachedIndexDir(s, "search", sfDir) { d =>
      graft.ext.Search.writeSearchIndex(s.table("documents"), d)
    }

  override val indexes = Seq(searchIndexDir)

  val defs: Seq[QueryDef] = Seq(
    // §7.5 — positional proximity search (NEAR operator): docs where
    // the two terms co-occur within a token window — the phrase-level
    // signal BM25's bag of words cannot express.
    QueryDef("q_proximity_search", withTables { s =>
      graft.ext.Search.proximityPairs(s.table("documents"),
        proxTermA, proxTermB, proxWindow)
    }, Some(OraclesExt.proximityPairs(proxTermA, proxTermB, proxWindow))),
    // §7.5 — reciprocal-rank fusion of the BM25 and cosine top lists
    // (K=60): scale-free hybrid retrieval where a doc strong in EITHER
    // list survives — vs q_hybrid_search's recall→rerank cascade.
    QueryDef("q_rrf_fusion", withTables { s =>
      graft.ext.Search.rrfFusion(s.table("documents"),
        s.table("embeddings"), bm25Terms, hybridQueryVecId, rrfListK,
        rrfTopK, rrfKConst, bm25K1, bm25B)
    }, Some(OraclesExt.rrfFusion(bm25Terms, hybridQueryVecId,
      rrfListK, rrfTopK, rrfKConst, bm25K1, bm25B))),
    // §7.5 — BM25 keyword relevance search (query-term-filtered token
    // stream; idf/constants broadcast; TakeOrderedAndProject top-k).
    QueryDef("q_bm25", withTables { s =>
      graft.ext.Search.bm25(s.table("documents"), bm25Terms, bm25K,
        bm25K1, bm25B)
    }, Some(OraclesExt.bm25(bm25Terms, bm25K, bm25K1, bm25B))),
    // §7.5 — the PERSISTED inverted-index twin of q_bm25: postings
    // and dfs in crc32-term-bucket partitions; the probe reads only
    // the query terms' buckets (partition pruning), shares the exact
    // scoring tree with bm25 → same oracle.
    QueryDef("q_bm25_indexed", withTablesSf { (s, sfDir) =>
      graft.ext.Search.bm25Indexed(s, searchIndexDir(s, sfDir),
        bm25Terms, bm25K, bm25K1, bm25B)
    }, Some(OraclesExt.bm25(bm25Terms, bm25K, bm25K1, bm25B))),
    // §7.5 — two-stage hybrid retrieval: BM25 candidate recall over
    // the corpus, embedding-cosine rerank over the ≤candidateK
    // survivors (broadcast semi-join prune into the embedding scan).
    QueryDef("q_hybrid_search", withTables { s =>
      graft.ext.Search.hybridRerank(s.table("documents"),
        s.table("embeddings"), bm25Terms, hybridQueryVecId,
        hybridCandidateK, hybridK, bm25K1, bm25B)
    }, Some(OraclesExt.hybridRerank(bm25Terms,
      hybridQueryVecId, hybridCandidateK, hybridK, bm25K1, bm25B))),
    // MMR diversified rerank: greedy relevance-vs-redundancy selection
    // from each query's brute-force candidate list.
    QueryDef("q_mmr_rerank", withTables { s =>
      graft.ext.Search.mmrRerank(s.table("embeddings"), mmrQueryIds,
        mmrCandidateK, mmrSelectK)
    }, Some(OraclesExt.mmrRerank(mmrQueryIds, mmrCandidateK, mmrSelectK))),
    // RM1 pseudo-relevance-feedback expansion: terms the BM25 top
    // hits rank by relevance-model mass — the second-pass query a
    // retrieval pipeline actually issues.
    QueryDef("q_prf_expand", withTables { s =>
      graft.ext.Search.prfExpand(s.table("documents"), bm25Terms,
        fbDocs = prfFbDocs, fbTerms = prfFbTerms, bm25K1, bm25B)
    }, Some(OraclesExt.prfExpand(bm25Terms, prfFbDocs, prfFbTerms, bm25K1, bm25B))))
}
