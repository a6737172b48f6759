package graft.queries

import org.apache.spark.sql.functions._
import graft.ext.TextStats
import Common._

/** Text analysis over `documents`: corpus and per-doc statistics,
  * language ID, LM scores, keywords, vocabulary curves and BPE.
  */
object TextQueries extends QueryFamily {

  private val topTokensK = 50
  private val bpePairsK = 20
  private val zipfTopV = 500
  private val bpeRounds = 3
  // RAKE: report size and the canonical phrase-length cap
  private val rakeK = 40
  private val rakeMaxPhraseLen = 4
  // Good-Turing: report the first 10 frequency classes
  private val goodTuringMaxR = 10
  // winnowing: the MOSS defaults scaled to these short synthetic docs
  // (guarantee threshold k+w-1 = 11 chars)
  private val winnowK = 8
  private val winnowW = 4
  // vocab budget curve: candidate tokenizer sizes bracketing this
  // synthetic vocabulary (~40 words + numerics)
  private val vocabCuts = Seq(5, 10, 20, 40, 100)
  // burstiness: floor rare noise, report the full small vocabulary
  private val burstMinCf = 10L
  private val burstK = 30
  private val vocabSize = 20
  // Min-K% prob scores each doc by its lowest-probability 20% of tokens
  private val minKPct = 20
  // per-source distinct word-trigram share
  private val diversityN = 3
  // TF-IDF keyword extraction (shared with OraclesExt.tfidfKeywords)
  private val tfidfK = 3
  // PMI collocations (shared with OraclesExt.pmiBigrams)
  private val pmiMinCount = 5L
  private val pmiK = 50
  // boilerplate template detector: bigram shingles, ≥20% of a
  // source's docs (shared with OraclesExt.boilerplate; 2/20 chosen so
  // the fixture corpus actually crosses the bar — 2-gram df tops out
  // at 32% per source at sf0.01, 3-gram at 12%)
  private val boilerplateN = 2
  private val boilerplateMinDocPct = 20
  // χ² feature selection top-k (shared with OraclesExt.discriminativeTokens)
  private val tokenChisqK = 10

  val defs: Seq[QueryDef] = Seq(
    // §7.5 — mixture health: Shannon diversity of sources within each
    // language; effective_sources = exp(H) exposes the
    // one-source-holds-95% corpus a source COUNT hides.
    QueryDef("q_source_diversity", withTables { s =>
      TextStats.sourceDiversity(s.table("documents"))
    }, Some(OraclesExt.sourceDiversity)),
    // §7.5 — vocabulary-growth planning: Good-Turing counts-of-counts;
    // the r=1 row's p_mass is the unseen-token mass estimate (how much
    // of the NEXT shard's vocabulary this corpus has never seen).
    QueryDef("q_good_turing", withTables { s =>
      TextStats.goodTuring(s.table("documents"), goodTuringMaxR)
    }, Some(OraclesExt.goodTuring(goodTuringMaxR))),
    // §7.5 — winnowing (MOSS) fingerprints: position-robust substring
    // sampling with the ≥ k+w−1 shared-substring guarantee that
    // fixed-stride fingerprinting loses when one byte shifts the frame.
    QueryDef("q_winnowing", withTables { s =>
      TextStats.winnowingFingerprints(s.table("documents"), winnowK,
        winnowW)
    }, Some(OraclesExt.winnowing(winnowK, winnowW))),
    // §7.5 extensions — text analysis over `documents`.
    QueryDef("q_text_stats", withTables { s =>
      TextStats.corpusStats(s.table("documents"))
    }, Some(OraclesExt.textStats)),
    QueryDef("q_text_docstats", withTables { s =>
      TextStats.withDocStats(s.table("documents"))
        .select("doc_id", "n_tokens", "n_chars_obs", "avg_token_len",
          "est_bpe_tokens", "stopword_ratio", "punct_ratio",
          "alpha_ratio", "quality_score")
        .orderBy("doc_id")
    }, Some(OraclesExt.textDocStats)),
    QueryDef("q_text_langid", withTables { s =>
      TextStats.langId(s, s.table("documents")).orderBy("doc_id")
    }, Some(OraclesExt.textLangId)),
    // §7.5 — per-doc n-gram novelty (inverted-index df==1 fraction):
    // the freshness axis of curation, complementing boilerplate/span
    // dedup which score what is SHARED.
    QueryDef("q_ngram_novelty", withTables { s =>
      TextStats.ngramNovelty(s.table("documents")).orderBy("doc_id")
    }, Some(OraclesExt.ngramNovelty)),
    // §7.5 — corpus health: Zipf-law fit of the top-V token
    // frequencies per source (slope ≈ −1 for natural text; shallow
    // slopes or collapsed r² flag templated/machine text).
    QueryDef("q_zipf_fit", withTables { s =>
      TextStats.zipfFit(s.table("documents"), topV = zipfTopV)
        .orderBy("source")
    }, Some(OraclesExt.zipfFit(zipfTopV))),
    // §7.5 — tokenizer training: frequency-weighted adjacent
    // character-pair counts (the BPE merge-candidate relation; the
    // corpus collapses to word frequencies first, so the heavy scan
    // happens once).
    QueryDef("q_bpe_pairs", withTables { s =>
      graft.ext.Bpe.pairCounts(graft.ext.Bpe.wordSymbols(s.table("documents")))
        .orderBy(col("pair_count").desc, col("sym_a"), col("sym_b"))
        .limit(bpePairsK)
    }, Some(OraclesExt.bpePairs(bpePairsK))),
    // The iterative half: the first N learned merges, each round
    // re-counting after the previous argmax is greedily merged
    // (Sennrich BPE on the vocabulary-sized state relation).
    // Per-language tokenizer fertility: how many BPE pieces each
    // language's words fragment into under the learned merges — the
    // multilingual tokenizer-budget dial.
    QueryDef("q_bpe_fertility", withTables { s =>
      graft.ext.Bpe.fertility(s.table("documents"), bpeRounds)
    }, Some(OraclesExt.bpeFertility(bpeRounds))),
    QueryDef("q_bpe_merges", withTables { s =>
      graft.ext.Bpe.learnMerges(s.table("documents"), bpeRounds)
        .orderBy("round")
    }, Some(OraclesExt.bpeMerges(bpeRounds))),
    // The tokenizer half: segment every vocabulary word with the
    // learned merges — (word, pos, token) per subword piece. The
    // corpus-level encode (docs → piece streams) rides the same final
    // state via a broadcast join (Bpe.encode, spec-verified).
    QueryDef("q_bpe_encode", withTables { s =>
      graft.ext.Bpe.segmentVocab(s.table("documents"), bpeRounds)
        .orderBy("word", "pos")
    }, Some(OraclesExt.bpeEncode(bpeRounds))),
    QueryDef("q_text_fingerprint", withTables { s =>
      TextStats.fingerprints(s.table("documents")).orderBy("doc_id")
    }, Some(OraclesExt.textFingerprint)),
    // §7.5 — CCNet-style boilerplate/template detection: bigram
    // shingles appearing in ≥20% of a source's documents, reported as
    // a per-doc contamination fraction (inverted-index plan — the
    // n-gram dedup family's shape, nothing pairwise).
    QueryDef("q_boilerplate", withTables { s =>
      TextStats.boilerplateReport(s.table("documents"),
        n = boilerplateN, minDocPct = boilerplateMinDocPct)
        .orderBy("doc_id")
    }, Some(OraclesExt.boilerplate(boilerplateN, boilerplateMinDocPct))),
    // §7.5 — exact corpus heavy hitters (TakeOrderedAndProject: no
    // full vocabulary sort).
    QueryDef("q_top_tokens", withTables { s =>
      TextStats.topTokens(s.table("documents"), topTokensK)
    }, Some(OraclesExt.topTokens(topTokensK))),
    // §7.5 — Gopher-style repetition/diversity quality signals.
    QueryDef("q_text_repetition", withTables { s =>
      TextStats.repetitionStats(s.table("documents")).orderBy("doc_id")
    }, Some(OraclesExt.textRepetition)),
    // §7.5 — CCNet-style perplexity-proxy scoring: mean −ln p(token)
    // under the corpus's own unigram LM (vocab broadcast, one token
    // shuffle for counts, one partially-aggregated doc roll-up).
    QueryDef("q_text_lm_score", withTables { s =>
      TextStats.lmCrossEntropy(s.table("documents")).orderBy("doc_id")
    }, Some(OraclesExt.lmCrossEntropy)),
    // §7.5 — within-doc token-distribution entropy (repetitive-junk
    // signal: long-but-templated docs score near 0).
    QueryDef("q_text_entropy", withTables { s =>
      TextStats.tokenEntropy(s.table("documents")).orderBy("doc_id")
    }, Some(OraclesExt.tokenEntropy)),
    // §7.5 — top-k collocations by bigram PMI (vocabulary-sized
    // shuffles + TakeOrderedAndProject; the corpus is never joined).
    QueryDef("q_pmi_bigrams", withTables { s =>
      TextStats.pmiBigrams(s.table("documents"),
        minCount = pmiMinCount, k = pmiK)
    }, Some(OraclesExt.pmiBigrams(pmiMinCount, pmiK))),
    // §7.5 — per-doc TF-IDF keyword extraction (exact-decimal tf·idf₉
    // ranking, WindowGroupLimit top-k; the extraction twin of bm25).
    QueryDef("q_tfidf_keywords", withTables { s =>
      TextStats.tfidfKeywords(s.table("documents"), tfidfK)
        .orderBy("doc_id", "rank")
    }, Some(OraclesExt.tfidfKeywords(tfidfK))),
    // §7.5 — RAKE phrase keywords: stopword-free runs scored by
    // member degree/frequency — the multi-word keyword signal unigram
    // tf-idf cannot see; exact scale-9 integer scores (pageRank
    // rank_u convention).
    QueryDef("q_rake_keywords", withTables { s =>
      TextStats.rakeKeywords(s.table("documents"), rakeK, rakeMaxPhraseLen)
    }, Some(OraclesExt.rakeKeywords(rakeK, rakeMaxPhraseLen))),
    // §7.5 — the dataset card: one long-format corpus summary
    // (counts, token totals, exact-dup volume, exact HALF-UP average)
    // assembled from broadcast-class scalar aggregates — the exact
    // distincts run as two-stage group-bys, never an Expand — and
    // unpivoted wide→long.
    QueryDef("q_corpus_report", withTables { s =>
      val d = s.table("documents")
      val per = d.select(
        size(TextStats.tokens(col("text"))).cast("long").as("nt"),
        col("source"), col("lang"), col("n_chars"), md5(col("text")).as("h"))
      val base = per.agg(
        count(lit(1)).cast("double").as("n_docs"),
        sum(col("nt")).cast("double").as("total_tokens"),
        sum(col("n_chars")).cast("double").as("total_chars"),
        TextStats.decAvg5(col("nt"), count(lit(1))).as("avg_tokens"),
        count(lit(1)).as("__n"))
      val nSources = per.groupBy("source").agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).cast("double").as("n_sources"))
      val nLangs = per.groupBy("lang").agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).cast("double").as("n_langs"))
      val nContents = per.groupBy("h").agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("__nc"))
      base.crossJoin(broadcast(nSources)).crossJoin(broadcast(nLangs))
        .crossJoin(broadcast(nContents))
        .withColumn("dup_docs", (col("__n") - col("__nc")).cast("double"))
        .select("n_docs", "total_tokens", "total_chars", "avg_tokens",
          "n_sources", "n_langs", "dup_docs")
        .unpivot(Array.empty[org.apache.spark.sql.Column], "metric", "value")
        .orderBy("metric")
    }, Some(OraclesExt.corpusReport)),
    // §7.5 — chunk-level language mix: per-chunk langid rolled up to
    // a per-doc majority + is_mixed flag (the code-switching signal
    // a whole-doc argmax hides).
    QueryDef("q_langid_chunks", withTables { s =>
      TextStats.langIdChunks(s, s.table("documents"), langidChunkTokens)
        .orderBy("doc_id")
    }, Some(OraclesExt.langIdChunks(langidChunkTokens))),
    // §7.5 — stopword discovery: top-k tokens by DOCUMENT frequency
    // (df axis; q_top_tokens is the occurrence axis).
    QueryDef("q_stop_candidates", withTables { s =>
      TextStats.topDocFreqTokens(s.table("documents"), topTokensK)
    }, Some(OraclesExt.topDocFreqTokens(topTokensK))),
    // §7.5 — compression-ratio quality signal (no portable zlib in
    // the oracle engine → rows-only check; ExtSpec owns semantics).
    QueryDef("q_compression", withTables { s =>
      TextStats.withCompressionRatio(s.table("documents"))
        .select("doc_id", "byte_len", "deflate_len", "compression_ratio")
        .orderBy("doc_id")
    }, None),
    // §8.3 — oracle-checkable gate for the zlib path above: exact
    // corpus facts + codec invariants (inflate∘deflate identity,
    // worst-case length bound) hashed against literal expectations.
    QueryDef("q_compression_check", withTables { s =>
      TextStats.compressionSelfCheck(s.table("documents"))
    }, Some("""SELECT count(*)::BIGINT AS n_docs,
        |  sum(strlen(text))::BIGINT AS sum_byte_len,
        |  count(*)::BIGINT AS n_roundtrip_ok,
        |  count(*)::BIGINT AS n_len_bounded
        |FROM documents""".stripMargin)),
    // §7.5 — per-source vocabulary growth (Heaps-law dashboard:
    // templated sources stop minting new words).
    QueryDef("q_vocab_growth", withTables { s =>
      TextStats.vocabGrowth(s.table("documents")).orderBy("source")
    }, Some(OraclesExt.vocabGrowth)),
    // §7.5 — bigram-LM cross-entropy (order-aware companion of the
    // unigram q_text_lm_score).
    QueryDef("q_text_lm2_score", withTables { s =>
      TextStats.lm2CrossEntropy(s.table("documents")).orderBy("doc_id")
    }, Some(OraclesExt.lm2CrossEntropy)),
    // §7.5 — PII redaction audit. The corpus text is synthetic word
    // salad, so a deterministic contact string derived from doc_id is
    // appended first — the redaction path then has real matches to
    // scrub on every row. Map-only chained regexp_replace.
    QueryDef("q_redact", withTables { s =>
      val crafted = s.table("documents").select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com or 55512"), col("doc_id").cast("string"),
          lit("00")).as("text"))
      TextStats.withRedaction(crafted)
        .select(col("doc_id"), col("n_emails"), col("n_longnums"),
          md5(col("redacted")).as("redacted_md5"))
        .orderBy("doc_id")
    }, Some(OraclesExt.redact)),
    // §7.5 — out-of-vocabulary rate vs the corpus' own top-V tokens
    // (broadcast vocab; the corpus is never shuffled by token).
    QueryDef("q_vocab_coverage", withTables { s =>
      TextStats.vocabCoverage(s.table("documents"), vocabSize)
        .orderBy("doc_id")
    }, Some(OraclesExt.vocabCoverage(vocabSize))),
    // §7.5 — Kneser-Ney bigram cross-entropy: continuation-count
    // smoothing (the Chen–Goodman benchmark) as a quality-gate axis;
    // the two-term interpolation folded to ONE exact integer rational.
    QueryDef("q_text_kn_score", withTables { s =>
      TextStats.knCrossEntropy(s.table("documents"))
    }, Some(OraclesExt.knCrossEntropy)),
    // §7.5 — content-drift scorecard: Jensen-Shannon divergence of
    // each source's token distribution from the pool (bounded,
    // symmetric; the vocabulary-usage axis q_psi_drift's length bins
    // cannot see).
    QueryDef("q_js_drift", withTables { s =>
      TextStats.jsDrift(s.table("documents"))
    }, Some(OraclesExt.jsDrift)),
    // §7.5 — tokenizer budget planning: what corpus token mass each
    // candidate vocabulary size covers (the "32k covers 99.2%" curve).
    QueryDef("q_vocab_mass_curve", withTables { s =>
      TextStats.vocabMassCurve(s.table("documents"), vocabCuts)
    }, Some(OraclesExt.vocabMassCurve(vocabCuts))),
    // §7.5 — burstiness audit: high cf/df tokens — many occurrences
    // in few documents (boilerplate, spam, generator tics) that a raw
    // frequency list hides among uniform words.
    QueryDef("q_token_burstiness", withTables { s =>
      TextStats.tokenBurstiness(s.table("documents"), burstMinCf, burstK)
    }, Some(OraclesExt.tokenBurstiness(burstMinCf, burstK))),
    // §7.5 — cross-document mode-collapse detector: per-source
    // distinct/total trigram ratio (template saturation moves this
    // long before any per-doc repetition score).
    QueryDef("q_source_ngram_diversity", withTables { s =>
      TextStats.sourceNgramDiversity(s.table("documents"), n = diversityN)
    }, Some(OraclesExt.sourceNgramDiversity(diversityN))),
    // §7.5 — χ² token feature selection: each language's most
    // label-dependent tokens (the featurization relation a quality /
    // domain classifier reads).
    QueryDef("q_token_chisq", withTables { s =>
      TextStats.discriminativeTokens(s.table("documents"), k = tokenChisqK)
    }, Some(OraclesExt.discriminativeTokens(tokenChisqK))),
    // Min-K% prob memorization audit: mean NLL of each doc's 20%
    // least-likely tokens under the corpus unigram LM — the
    // membership-inference tail signal the whole-doc mean dilutes.
    QueryDef("q_mink_prob", withTables { s =>
      TextStats.minKProb(s.table("documents"), kPct = minKPct)
        .orderBy("doc_id")
    }, Some(OraclesExt.minKProb(minKPct))))
}
