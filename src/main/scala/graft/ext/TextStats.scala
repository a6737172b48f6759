package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.exec.Share

/** Text-analysis operators over a document corpus — the
  * training-data-pipeline extension surface (SURVEY.md §7.5; the
  * reference itself has no text ops, its closest surface being
  * arbitrary SQL passthrough at /root/reference/aws-athena.sh:140).
  *
  * Every metric here is pure column arithmetic: tokenization with
  * Spark's codegen'd `split`/`filter` higher-order functions, ratios as
  * single IEEE-double divisions (deterministic and portable to the
  * DuckDB oracle), and aggregation with decimal-accumulated sums so
  * shuffle order can never flip a hash-compared 5th decimal.
  *
  * == Scale ==
  * The per-document metrics ([[withDocStats]], [[fingerprints]]) are
  * narrow map-side projections — no shuffle, fully pipelined inside
  * whole-stage codegen, linear in bytes scanned: the 100 TB cost is
  * the parquet scan itself. The corpus-level operators shuffle only
  * aggregates: [[corpusStats]] one row per (lang, source) group,
  * [[topTokens]] partial counts per token into a
  * TakeOrderedAndProject (never a full vocabulary sort),
  * [[repetitionStats]] per-(doc, gram) counts from one combined
  * explode, [[vocabCoverage]] a broadcast of the top-V vocab (the
  * corpus itself is never shuffled by token). Language-ID joins each
  * token against a ~dozen-row profile table — Catalyst broadcasts it
  * (checked in TextStatsSpec via the physical plan).
  */
object TextStats {

  /** Non-empty whitespace tokens. `split` + `filter` are both
    * codegen'd; no UDF.
    */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= lit(""))

  /** Stopword list shared with the oracle side (Oracles.textStats). */
  val Stopwords: Seq[String] = Seq("a", "the")

  /** Canonical text normalization for dedup keys: lowercase, collapse
    * every non-alphanumeric run to a single space, trim. Case and
    * punctuation variants of the same content normalize identically,
    * which is what makes exact dedup on the normalized text a
    * near-dup operator (the standard first pass before the heavier
    * MinHash/SimHash families). Pure per-row expression — map-only,
    * codegen'd, no shuffle; the regex is RE2-portable and its DuckDB
    * twin is the same pattern with the 'g' flag.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  /** PII-shaped patterns for redaction — RE2-portable (char classes
    * and bounded repetition only, no lookarounds) so the same pattern
    * text runs in Spark's Java regex and any RE2-based oracle.
    * Single-sourced: OraclesExt interpolates these constants.
    */
  val EmailRegex = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val LongNumberRegex = "[0-9]{7,}"

  /** Redact PII-shaped spans: email addresses → `<EMAIL>` first, then
    * long (7+) digit runs → `<NUM>` (emails are removed first so
    * their digits don't double-count as numbers). Pure per-row
    * chained `regexp_replace` — map-only, codegen'd, no shuffle; at
    * 100 TB this is the shape you want (CPU-bound scan, zero
    * exchange). Real redaction recipes add locale-specific patterns;
    * the operator is the composition point.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailRegex, "<EMAIL>"),
      LongNumberRegex, "<NUM>")

  /** Per-document redaction audit: the redacted text plus match
    * counts (emails on the raw text; digit runs counted after email
    * removal, exactly as [[redactPii]] replaces them).
    */
  def withRedaction(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.withColumn("__email_scrubbed", regexp_replace(t, EmailRegex, "<EMAIL>"))
      .withColumn("n_emails",
        size(regexp_extract_all(t, lit(EmailRegex), lit(0))))
      .withColumn("n_longnums",
        size(regexp_extract_all(col("__email_scrubbed"), lit(LongNumberRegex), lit(0))))
      .withColumn("redacted",
        regexp_replace(col("__email_scrubbed"), LongNumberRegex, "<NUM>"))
      .drop("__email_scrubbed")
  }

  /** BPE-ish token regex: letter runs, digit runs, or single
    * non-alphanumeric glyphs — the standard cheap pre-tokenizer shape.
    * RE2/Java-portable (no lookarounds).
    */
  val BpeTokenRegex = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"

  /** Per-document text statistics appended as columns:
    * n_tokens, n_chars_obs, avg_token_len, est_bpe_tokens,
    * stopword_ratio, punct_ratio, alpha_ratio, quality_score.
    *
    * quality_score is a Gopher/C4-style linear blend: length target,
    * stopword presence, alphabetic density. All double math is a fixed
    * expression tree per row — deterministic regardless of
    * partitioning.
    */
  def withDocStats(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    // Stage tokenization once as an attribute: six metric expressions
    // reference the token array, and CollapseProject keeps a
    // non-cheap, multiply-referenced alias un-inlined.
    val staged = df.withColumn("__toks", tokens(t))
    val toks = col("__toks")
    val nTokens = size(toks).cast("double")
    val nChars = length(t).cast("double")
    val nStop = size(filter(toks, x => x.isin(Stopwords.map(lit): _*))).cast("double")
    val nPunct = (length(t) - length(regexp_replace(t, "[.,!?;:]", ""))).cast("double")
    val nAlpha = (length(t) - length(regexp_replace(t, "[a-zA-Z]", ""))).cast("double")
    val stopRatio = when(nTokens > 0, nStop / nTokens).otherwise(lit(0.0))
    val punctRatio = when(nChars > 0, nPunct / nChars).otherwise(lit(0.0))
    val alphaRatio = when(nChars > 0, nAlpha / nChars).otherwise(lit(0.0))
    staged.withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_chars_obs", length(t).cast("long"))
      .withColumn("avg_token_len",
        when(nTokens > 0, round((nChars - (nTokens - 1)) / nTokens, 5)).otherwise(lit(0.0)))
      .withColumn("est_bpe_tokens",
        size(regexp_extract_all(t, lit(BpeTokenRegex), lit(0))).cast("long"))
      .withColumn("stopword_ratio", round(stopRatio, 5))
      .withColumn("punct_ratio", round(punctRatio, 5))
      .withColumn("alpha_ratio", round(alphaRatio, 5))
      .withColumn("__qn", qualityNum(toks, t))
      .withColumn("__qd", qualityDen(toks, t))
      // quality_score is exactly rational — min(nT,100)/200 +
      // min(3·nStop/nT, 3/10) + nAlpha/(5·nC) — and the blend lands
      // exactly on .5×10⁻⁵ rounding ties (observed at sf0.1:
      // 0.475625), where Spark's and DuckDB's double `round`
      // disagree. So the 5-decimal HALF_UP is done in exact integer
      // arithmetic: HALF_UP(num/den) = (2·10⁵·num + den) div (2·den)
      // — §8.3 rule 3, same as decAvg5. num/den are decimal(38,0),
      // NOT long: num reaches ~10⁸·n_tokens·n_chars, which wraps a
      // long (silently, giving garbage scores) on multi-MB documents
      // that are routine in web crawls; decimal keeps 38 exact digits
      // and `div` on decimals is the same integral floor. The DuckDB
      // twin runs the identical blend in HUGEINT (int128).
      .withColumn("quality_score",
        // integral `div`, then one exact small-integer→double division
        // (a bare 100000.0 literal would be DECIMAL in Spark SQL and
        // poison the column type)
        expr("((__qn * cast(200000 as decimal(38,0)) + __qd) div (__qd * 2)) / cast(100000 as double)"))
      .drop("__toks", "__qn", "__qd")
  }

  /** Integer numerator of the quality blend over denominator
    * [[qualityDen]]: num/den == 0.5·min(nT/100,1) +
    * 0.3·min(10·nStop/nT,1) + 0.2·nAlpha/nC exactly (the nT=0 / nC=0
    * guards are free: nStop=0 when nT=0 and nAlpha=0 when nC=0).
    */
  private val Dec38 = org.apache.spark.sql.types.DecimalType(38, 0)

  private def qualityNum(toks: Column, t: Column): Column = {
    val nT = size(toks).cast("long")
    val nC = length(t).cast("long")
    val nStop = size(filter(toks, x => x.isin(Stopwords.map(lit): _*))).cast("long")
    val nAlpha = (length(t) - length(regexp_replace(t, "[a-zA-Z]", ""))).cast("long")
    // decimal(38,0), not long: the products reach ~10³·nT·nC here and
    // another ×2·10⁵ in the caller's rounding — far past 2⁶³ for
    // multi-MB documents, and long multiplication wraps SILENTLY
    val maxNT = greatest(nT, lit(1L)).cast(Dec38)
    val maxNC = greatest(nC, lit(1L)).cast(Dec38)
    lit(5L) * least(nT, lit(100L)).cast(Dec38) * maxNT * maxNC +
      least(lit(3000L) * nStop.cast(Dec38) * maxNC,
        lit(300L) * nT.cast(Dec38) * maxNC) +
      lit(200L) * nAlpha.cast(Dec38) * maxNT
  }

  private def qualityDen(toks: Column, t: Column): Column =
    lit(1000L) * greatest(size(toks).cast("long"), lit(1L)).cast(Dec38) *
      greatest(length(t).cast("long"), lit(1L)).cast(Dec38)

  /** Corpus roll-up per (lang, source): doc counts and decimal-summed
    * averages of the per-doc metrics. Map-side partial aggregation →
    * one row per group shuffled.
    */
  /** Group average of a 5-decimal-quantized metric, rounded HALF_UP at
    * 5 decimals via EXACT integer arithmetic. Quantized inputs make
    * `sum/count` land exactly on .5×10⁻⁵ ties, where engines' double
    * `round` implementations disagree (Spark rounds the shortest
    * decimal repr, DuckDB rounds a scaled binary) — so the tie must
    * never pass through a double round. su = scale-9 integer units of
    * the exact decimal sum; HALF_UP(su / (n·10⁴)) = ⌊(2su + d) / 2d⌋.
    * The one double division is of integers < 2⁵³ — identical IEEE
    * result on every engine.
    */
  def decAvg5(c: Column, n: Column): Column = {
    val su = (sum(c.cast("decimal(18,9)")) * lit(1000000000L)).cast("long")
    val d = n * lit(10000L)
    floor((su * 2 + d).cast("double") / (d * 2).cast("double")) / lit(100000.0)
  }

  /** [[decAvg5]] over a COUNT GRID: Σ w·v replaces the per-occurrence
    * Σ v (exact decimal either way — (18,9)·(10,0) products sum
    * without precision loss, so the long numerator is bit-identical
    * to repeating each value w times), letting the scoring operators
    * aggregate (doc, term, count) grids instead of re-exploded token
    * streams.
    */
  def decAvg5W(v: Column, w: Column, n: Column): Column = {
    val su = (sum(v.cast("decimal(18,9)") *
      w.cast(org.apache.spark.sql.types.DecimalType(10, 0))) *
      lit(1000000000L)).cast("long")
    val d = n * lit(10000L)
    floor((su * 2 + d).cast("double") / (d * 2).cast("double")) / lit(100000.0)
  }

  def corpusStats(df: DataFrame, textCol: String = "text"): DataFrame = {
    // spread before the per-doc metric expressions (see Dedup.spread:
    // single-row-group inputs serialize the heavy projection); every
    // aggregate here is partitioning-independent (counts + decAvg5)
    val d = withDocStats(Dedup.spread(df, textCol), textCol)
    def decAvg(c: String): Column = decAvg5(col(c), count(lit(1)))
    d.groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("est_bpe_tokens")).as("total_bpe_tokens"),
        decAvg("n_tokens").as("avg_tokens"),
        decAvg("avg_token_len").as("avg_avg_token_len"),
        decAvg("stopword_ratio").as("avg_stopword_ratio"),
        decAvg("alpha_ratio").as("avg_alpha_ratio"),
        decAvg("quality_score").as("avg_quality"))
      .orderBy("lang", "source")
  }

  /** The mergeable form of [[corpusStats]]: per-(lang, source) SUMS —
    * counts, token totals, and each averaged metric as exact scale-9
    * integer units (`su_*`, [[decAvg5]]'s numerator) — instead of the
    * finished averages. Sums merge by addition across batches, days,
    * or shards; [[finalizeCorpusStats]] then yields EXACTLY what
    * [[corpusStats]] computes over the combined raw data (the same
    * zero-error-rollup property as Sketches.dailyValueCounts). An
    * average is NOT mergeable; its numerator is — so the state
    * carries the numerator.
    */
  def corpusStatsPartial(df: DataFrame, textCol: String = "text"): DataFrame = {
    def su(c: Column): Column =
      (sum(c.cast(org.apache.spark.sql.types.DecimalType(18, 9))) *
        lit(1000000000L)).cast("long")
    withDocStats(Dedup.spread(df, textCol), textCol)
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("est_bpe_tokens")).as("total_bpe_tokens"),
        su(col("n_tokens")).as("su_tokens"),
        su(col("avg_token_len")).as("su_token_len"),
        su(col("stopword_ratio")).as("su_stopword"),
        su(col("alpha_ratio")).as("su_alpha"),
        su(col("quality_score")).as("su_quality"))
  }

  /** Merge [[corpusStatsPartial]] relations by addition. */
  def mergeCorpusStats(parts: DataFrame): DataFrame =
    parts.groupBy("lang", "source").agg(
      sum(col("n_docs")).as("n_docs"),
      sum(col("total_tokens")).as("total_tokens"),
      sum(col("total_bpe_tokens")).as("total_bpe_tokens"),
      sum(col("su_tokens")).as("su_tokens"),
      sum(col("su_token_len")).as("su_token_len"),
      sum(col("su_stopword")).as("su_stopword"),
      sum(col("su_alpha")).as("su_alpha"),
      sum(col("su_quality")).as("su_quality"))

  /** Finalize merged partials into [[corpusStats]]' exact output
    * (identical HALF-UP expression over the merged numerators).
    */
  def finalizeCorpusStats(merged: DataFrame): DataFrame = {
    def avg(suCol: String): Column = {
      val d = col("n_docs") * lit(10000L)
      floor((col(suCol) * 2 + d).cast("double") /
        (d * 2).cast("double")) / lit(100000.0)
    }
    merged.select(
      col("lang"), col("source"), col("n_docs"), col("total_tokens"),
      col("total_bpe_tokens"),
      avg("su_tokens").as("avg_tokens"),
      avg("su_token_len").as("avg_avg_token_len"),
      avg("su_stopword").as("avg_stopword_ratio"),
      avg("su_alpha").as("avg_alpha_ratio"),
      avg("su_quality").as("avg_quality"))
      .orderBy("lang", "source")
  }

  /** Language-ID profile: (lang, token, weight) rows. Tiny —
    * broadcast-joined against the exploded token stream. Weights are
    * integers so scores are exact.
    */
  val LangProfiles: Seq[(String, String, Long)] = Seq(
    ("en", "the", 3L), ("en", "a", 2L), ("en", "fast", 1L),
    ("es", "data", 2L), ("es", "table", 2L), ("es", "a", 1L),
    ("de", "window", 2L), ("de", "stream", 2L), ("de", "batch", 1L),
    ("fr", "query", 2L), ("fr", "merge", 2L), ("fr", "line", 1L),
    ("zh", "vector", 2L), ("zh", "spark", 2L), ("zh", "hash", 1L))

  /** N-gram-heuristic language identification: explode tokens, join
    * the profile (broadcast), sum weights per (doc, candidate lang),
    * pick argmax with a deterministic (score desc, lang asc) tie-break.
    *
    * == Scale ==
    * The explode multiplies rows by avg tokens/doc but every token row
    * is a few bytes; the profile join is a broadcast hash join (no
    * shuffle); the argmax groupBy shuffles one row per (doc, lang)
    * candidate — bounded by 5 langs × docs.
    */
  def langId(spark: SparkSession, df: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import spark.implicits._
    val profile = broadcast(
      LangProfiles.toDF("cand_lang", "token", "weight"))
    val tokensDf = Dedup.spread(df, textCol)
      .select(col(idCol), explode_outer(tokens(col(textCol))).as("token"))
      .filter(col("token").isNotNull) // avoids inferred re-tokenizing scan filter

    val scores = tokensDf.join(profile, "token")
      .groupBy(col(idCol), col("cand_lang"))
      .agg(sum("weight").as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("score").desc, col("cand_lang").asc)
    scores
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col(idCol), col("cand_lang").as("predicted_lang"), col("score"))
  }

  /** [[langId]] over an already-materialized per-doc (idCol, token,
    * tf) counts relation (the agreement operators' shared
    * tokenization pass — [[graft.ext.Classify.docTokenCounts]]):
    * Σ weight over token OCCURRENCES ≡ Σ tf·weight over distinct
    * (doc, token) rows — weights are LONGS, so both sums are the same
    * exact integer in any order; scores, argmax and tie-break are
    * bit-identical to the text-scanning plan.
    */
  private[ext] def langIdFromCounts(counts: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val spark = counts.sparkSession
    import spark.implicits._
    val profile = broadcast(
      LangProfiles.toDF("cand_lang", "token", "weight"))
    val scores = counts.join(profile, "token")
      .groupBy(col(idCol), col("cand_lang"))
      .agg(sum(col("tf") * col("weight")).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("score").desc, col("cand_lang").asc)
    scores
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col(idCol), col("cand_lang").as("predicted_lang"), col("score"))
  }

  /** Chunk-level language ID → per-doc language-mix report: the doc
    * is chunked ([[graft.ext.Packing.chunkDocuments]],
    * non-overlapping so no token votes twice), each chunk is
    * language-identified independently, and the doc-level roll-up
    * reports how many chunks scored, how many distinct languages
    * they landed on, the majority language (chunk-count argmax, lang
    * asc tie-break), and the `is_mixed` flag — the code-switching /
    * concatenated-corpus signal a whole-doc argmax hides (a doc
    * that's 60% en / 40% fr ID's as en and the fr never surfaces).
    * Chunks with no profile hits are unscorable and drop out, same
    * as [[langId]]'s semantics.
    *
    * Scale shape: chunking is map-only; the chunk stream reuses the
    * langId plan (broadcast profile join, (chunk, lang) partial agg);
    * the roll-up adds one doc-keyed shuffle of per-chunk verdicts.
    */
  def langIdChunks(spark: SparkSession, df: DataFrame, chunkTokens: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val chunks = graft.ext.Packing
      .chunkDocuments(df, chunkTokens, 0, idCol, textCol)
      // composite chunk identity; chunk_index < 1000 by construction
      // for any doc under 1000·chunkTokens tokens (require it rather
      // than silently alias two chunks)
      .withColumn("__cid", col(idCol) * lit(1000L) + col("chunk_index"))
    val pred = langId(spark,
      chunks.select(col("__cid").as(idCol), col("chunk_text").as(textCol)),
      idCol, textCol)
    val perLang = pred
      .withColumn("__doc", expr(s"$idCol div 1000").cast("long"))
      .groupBy(col("__doc").as(idCol), col("predicted_lang"))
      .agg(count(lit(1)).as("n_chunks_lang"))
    val w = Window.partitionBy(idCol)
      .orderBy(col("n_chunks_lang").desc, col("predicted_lang").asc)
    perLang
      .withColumn("rn", row_number().over(w))
      .withColumn("n_chunks_scored",
        sum(col("n_chunks_lang")).over(Window.partitionBy(idCol)))
      .withColumn("n_langs_detected",
        count(lit(1)).over(Window.partitionBy(idCol)))
      .filter(col("rn") === 1)
      .select(col(idCol), col("n_chunks_scored"),
        col("n_langs_detected"),
        col("predicted_lang").as("majority_lang"),
        (col("n_langs_detected") > 1).as("is_mixed"))
  }

  /** Per-document repetition metrics — the Gopher-style "excessive
    * repetition" quality signals: how much of a document is its most
    * frequent token / word bigram, and how diverse its vocabulary is.
    * Returns one row per doc: (idCol, n_tokens, n_distinct_tokens,
    * distinct_token_ratio, top_token_frac, top_bigram_frac).
    *
    * Shape: ONE explode over a combined (kind, gram) struct array
    * covers unigrams and bigrams together — two map-side-combined
    * aggregations (gram counts, then per-doc top/total) instead of two
    * separate explode pipelines, plus a doc_id-keyed join back to the
    * map-only per-doc columns. Ratios are single IEEE divisions of
    * exact integer counts — deterministic on both engines.
    */
  def repetitionStats(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val staged = Dedup.spread(df, textCol)
      .withColumn("__toks", tokens(col(textCol)))
    val toks = col("__toks")
    val bigrams = Dedup.ngrams(toks, 2)
    val docSide = staged.select(col(idCol),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct_tokens"))
    val grams = staged.select(col(idCol), explode_outer(concat(
        transform(toks, t => struct(lit(0).as("k"), t.as("g"))),
        transform(bigrams, b => struct(lit(1).as("k"), b.as("g"))))).as("kg"))
      .select(col(idCol), col("kg.k").as("k"), col("kg.g").as("g"))
      .filter(col("g").isNotNull)
    val tops = grams.groupBy(col(idCol), col("k"), col("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(idCol), col("k"))
      .agg(max("c").as("top"), sum("c").as("tot"))
      .groupBy(col(idCol)).agg(
        max(when(col("k") === 0, col("top"))).as("__top_tok"),
        max(when(col("k") === 1, col("top"))).as("__top_bg"),
        max(when(col("k") === 1, col("tot"))).as("__n_bg"))
    docSide.join(tops, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"), col("n_distinct_tokens"),
        when(col("n_tokens") > 0, round(
          col("n_distinct_tokens").cast("double") / col("n_tokens").cast("double"), 5))
          .otherwise(lit(0.0)).as("distinct_token_ratio"),
        when(col("n_tokens") > 0, round(
          col("__top_tok").cast("double") / col("n_tokens").cast("double"), 5))
          .otherwise(lit(0.0)).as("top_token_frac"),
        when(coalesce(col("__n_bg"), lit(0L)) > 0, round(
          col("__top_bg").cast("double") / col("__n_bg").cast("double"), 5))
          .otherwise(lit(0.0)).as("top_bigram_frac"))
  }

  /** Exact corpus heavy hitters: the k most frequent tokens
    * (occurrences, not document frequency — duplicates count).
    * Plans as map-side partial count → one token-keyed shuffle →
    * TakeOrderedAndProject (per-partition top-k, k-row driver merge):
    * no full sort of the vocabulary at any scale. Deterministic
    * tie-break on the token itself.
    */
  def topTokens(df: DataFrame, k: Int, textCol: String = "text"): DataFrame =
    Dedup.spread(df, textCol)
      .select(explode_outer(tokens(col(textCol))).as("token"))
      .filter(col("token").isNotNull) // avoids inferred re-tokenizing scan filter
      .groupBy("token").agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("token").asc)
      .limit(k)

  /** Per-document vocabulary coverage against the corpus' own top-V
    * vocabulary: (idCol, n_tokens, n_oov, oov_rate). A high
    * out-of-vocabulary rate flags noise/garbled docs; the vocab is
    * [[topTokens]] (deterministic count-desc/token-asc order), so the
    * whole metric is a pure function of the corpus.
    *
    * Shape: the V-row vocab is explicitly `broadcast` — the exploded
    * token stream left-joins it map-side (no shuffle of the corpus),
    * then one map-side-combined per-doc aggregation.
    */
  def vocabCoverage(df: DataFrame, vocabSize: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val vocab = topTokens(df, vocabSize)
      .select(col("token"), lit(1).as("__inv"))
    val toks = Dedup.spread(df, textCol)
      .select(col(idCol), explode_outer(tokens(col(textCol))).as("token"))
      .filter(col("token").isNotNull)
    val counts = toks.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(idCol).agg(
        count(lit(1)).as("__nt"),
        (count(lit(1)) - count(col("__inv"))).as("__no"))
    // left join back to the id universe: a ZERO-TOKEN doc has no
    // exploded rows and would otherwise vanish from the report (and
    // from anything inner-joining it downstream, e.g. curateFull)
    df.select(col(idCol)).join(counts, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__nt"), lit(0L)).as("n_tokens"),
        coalesce(col("__no"), lit(0L)).as("n_oov"),
        when(coalesce(col("__nt"), lit(0L)) > 0,
          round(col("__no").cast("double") / col("__nt").cast("double"), 5))
          .otherwise(lit(0.0)).as("oov_rate"))
  }

  /** Unigram-LM cross-entropy quality score — the classic
    * perplexity-proxy filter (CCNet/Gopher-style: score each document
    * by how typical its tokens are under a language model; outliers
    * in either direction are boilerplate or garbage). The LM here is
    * the corpus's own unigram distribution, so the operator is fully
    * self-contained: p(t) = count(t)/total, and a document's score is
    * the mean negative log-probability of its tokens (lower = more
    * typical).
    *
    * Determinism: the per-token −ln p(t) is quantized to a scale-9
    * decimal, so the per-document mean is a DECIMAL sum (addition
    * order cannot flip a digit under any partitioning) finished by
    * the exact HALF-UP [[decAvg5]]; ln differs from DuckDB's by at
    * most 1 ulp (~1e-16 relative), far inside the 1e-9 quantum.
    *
    * Scale shape: one token shuffle builds the vocabulary counts
    * (map-side combined); the vocabulary (counts + a 1-row total) is
    * BROADCAST back onto the token stream — the corpus is never
    * shuffled by token a second time; the per-document roll-up
    * shuffles one partially-aggregated row per (partition, doc).
    * Zero-token docs surface with n_tokens=0, score 0.
    */
  def lmCrossEntropy(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // NOTE (r16): a one-tokenization (doc, token, count) grid cut was
    // built here and MEASURED in both eager-checkpoint and lazy-persist
    // forms — both are WORSE standalone (1.02 s → 2.00 s / 1.42 s warm
    // at sf0.1): the three duplicated subtrees overlap as independent
    // stages of one job, while a cut either serializes (eager) or pins
    // the cached plan out of AQE (lazy). Callers that consume this
    // relation from several branches cut at THEIR level instead
    // (Curation.perplexityBuckets).
    val toks = Dedup.spread(df, textCol)
      .select(col(idCol), explode_outer(tokens(col(textCol))).as("token"))
      .filter(col("token").isNotNull)
    val counts = toks.groupBy("token").agg(count(lit(1)).as("c"))
    val total = counts.agg(sum(col("c")).as("n_total"))
    val lp = counts.crossJoin(broadcast(total))
      .select(col("token"),
        round(-log(col("c").cast("double") / col("n_total").cast("double")), 9)
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)).as("nlp"))
    val per = toks.join(broadcast(lp), "token")
      .groupBy(idCol)
      .agg(count(lit(1)).as("__nt"), decAvg5(col("nlp"), count(lit(1))).as("__ce"))
    df.select(col(idCol)).join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__nt"), lit(0L)).as("n_tokens"),
        coalesce(col("__ce"), lit(0.0)).as("cross_entropy"))
  }

  /** Min-K% token-probability memorization audit (Shi et al. 2023,
    * "Detecting Pretraining Data from Large Language Models", unigram
    * instantiation): per document, the mean negative log-probability
    * of its k% LEAST-LIKELY tokens under the corpus unigram model.
    * A natural document's rare-token tail is expensive (high score);
    * a verbatim copy of templated/boilerplate text whose every token
    * — even the "rarest" — is corpus-frequent scores suspiciously
    * LOW. The min-k tail is the membership signal the whole-document
    * mean ([[lmCrossEntropy]]) dilutes: one sharp quote inside an
    * otherwise-normal document barely moves the mean but caps the
    * tail. Returns (doc_id, n_tokens, n_scored, min_k_nll) per
    * document; zero-token docs surface with zeros.
    *
    * Selection: m = max(1, ⌊n·kPct/100⌋) occurrences with the
    * HIGHEST −ln p, taken on the (doc, term) COUNT GRID — terms
    * ordered by (nlp desc, token), the straddling term contributing
    * only its remainder. Equal-nlp terms are interchangeable at the
    * boundary (identical contribution), so the selected multiset —
    * and the score — is deterministic under any partitioning.
    *
    * Determinism (SURVEY §8.3): per-token −ln p quantized at scale 9
    * (the [[lmCrossEntropy]] relation); counts multiply in as
    * DECIMAL(10,0) (rule 11 — a long would silently drop the scale);
    * the mean over m is the weighted [[decAvg5]] HALF-UP integer
    * form.
    *
    * Scale shape: the vocabulary model is the lmCrossEntropy
    * broadcast; the corpus collapses to its (doc, term) grid in one
    * map-side-combined shuffle; both windows are doc-partitioned
    * over grid rows (bounded by per-doc distinct terms).
    */
  def minKProb(df: DataFrame, kPct: Int = 20, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(kPct >= 1 && kPct <= 100, "kPct must be in [1, 100]")
    val dec9 = org.apache.spark.sql.types.DecimalType(18, 9)
    val toks = Dedup.spread(df, textCol)
      .select(col(idCol), explode_outer(tokens(col(textCol))).as("token"))
      .filter(col("token").isNotNull)
    val counts = toks.groupBy("token").agg(count(lit(1)).as("c"))
    val total = counts.agg(sum(col("c")).as("n_total"))
    val lp = counts.crossJoin(broadcast(total))
      .select(col("token"),
        round(-log(col("c").cast("double") / col("n_total").cast("double")), 9)
          .cast(dec9).as("nlp"))
    val grid = toks.groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("c"))
      .join(broadcast(lp), "token")
    val wAll = Window.partitionBy(idCol)
    val wOrd = Window.partitionBy(idCol)
      .orderBy(col("nlp").desc, col("token"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sel = grid
      .withColumn("n", sum(col("c")).over(wAll))
      .withColumn("cum", sum(col("c")).over(wOrd))
      .withColumn("m",
        greatest(lit(1L), expr(s"(n * $kPct) div 100")))
      .withColumn("take",
        when(col("cum") <= col("m"), col("c"))
          .when(col("cum") - col("c") < col("m"),
            col("m") - col("cum") + col("c"))
          .otherwise(lit(0L)))
      .withColumn("wq",
        col("take").cast(org.apache.spark.sql.types.DecimalType(10, 0)) *
          col("nlp"))
    val su = (sum(col("wq")) * lit(1000000000L)).cast("long")
    val d = max(col("m")) * lit(10000L)
    val per = sel.groupBy(idCol).agg(
      max(col("n")).as("__nt"),
      max(col("m")).as("__m"),
      (floor((su * 2 + d).cast("double") / (d * 2).cast("double")) /
        lit(100000.0)).as("__s"))
    df.select(col(idCol)).join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__nt"), lit(0L)).as("n_tokens"),
        coalesce(col("__m"), lit(0L)).as("n_scored"),
        coalesce(col("__s"), lit(0.0)).as("min_k_nll"))
  }

  /** Per-document Shannon entropy (nats) of the document's OWN token
    * distribution: H = Σ (c_t/n)·ln(n/c_t) over the doc's term
    * counts. A low-entropy document is repetitive/templated junk even
    * when it is long — the standard quality signal that length and
    * stopword ratios miss (a 500-token doc of one repeated word has
    * H = 0). Complements [[repetitionStats]] (top-term fractions) with
    * the whole-distribution summary, and [[lmCrossEntropy]] (corpus
    * model) with the within-doc model.
    *
    * Cross-engine determinism (SURVEY.md §8.3): each term's ln(n/c)
    * is quantized to DECIMAL(18,9) — ln differs ≤1 ulp between
    * engines, far inside the quantum — then the probability-weighted
    * mean Σ c·q / n is computed in EXACT integer arithmetic (the
    * weighted form of [[decAvg5]]'s HALF_UP: ⌊(2su + d) / 2d⌋ with
    * su = scale-9 units of Σ c·q, d = n·10⁴). Zero-token docs
    * surface with zeros.
    *
    * Scale shape: explode → (doc, token) count [one shuffle] → a
    * per-doc window for n [second shuffle, by doc] → the final
    * per-doc roll-up reuses the window's partitioning (no third
    * exchange). Nothing is collected; term-count rows, not token
    * occurrences, cross the second shuffle.
    */
  def tokenEntropy(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val toks = Dedup.spread(df, textCol)
      .select(col(idCol), explode_outer(tokens(col(textCol))).as("token"))
      .filter(col("token").isNotNull)
    val counts = toks.groupBy(idCol, "token").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(idCol)
    val terms = counts
      .withColumn("n", sum(col("c")).over(w))
      // the count multiplies in as DECIMAL(10,0), NOT long: long ×
      // DECIMAL(18,9) needs precision 39 > 38, and Spark resolves the
      // overflow by silently dropping the scale to 8 — every term
      // would be re-rounded and the sum drifts off the oracle by
      // ~1e-7 (caught by the sf0.1 sweep on a .5×10⁻⁵ tie, doc 4905)
      .withColumn("wq",
        col("c").cast(org.apache.spark.sql.types.DecimalType(10, 0)) *
        round(log(col("n").cast("double") / col("c").cast("double")), 9)
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)))
    val su = (sum(col("wq")) * lit(1000000000L)).cast("long")
    val d = max(col("n")) * lit(10000L)
    val per = terms.groupBy(idCol).agg(
      max(col("n")).as("__nt"),
      count(lit(1)).as("__dt"),
      (floor((su * 2 + d).cast("double") / (d * 2).cast("double")) /
        lit(100000.0)).as("__h"))
    df.select(col(idCol)).join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__nt"), lit(0L)).as("n_tokens"),
        coalesce(col("__dt"), lit(0L)).as("distinct_tokens"),
        coalesce(col("__h"), lit(0.0)).as("entropy_nats"))
  }

  /** Per-source corpus composition: document count, token mass,
    * vocabulary size, hapax count (tokens occurring exactly once in
    * the source) and the derived type-token / hapax ratios. The
    * Heaps-law dashboard row: a source whose vocabulary barely grows
    * with its token mass (low TTR, low hapax share) is templated or
    * machine-generated; a natural-language source keeps minting rare
    * words. Sources with zero tokens surface with zeros.
    *
    * Scale shape: one (source, token) count shuffle (map-side
    * combined, vocabulary-sized output) collapses to one row per
    * source; the doc counts ride a separate tiny aggregate and join
    * on the handful of source keys. Ratios are single integer
    * divisions rounded at 5 (tie-safe, SURVEY.md §8.3 rule 4).
    */
  def vocabGrowth(df: DataFrame, textCol: String = "text",
      groupCol: String = "source"): DataFrame = {
    val toks = Dedup.spread(df, textCol)
      .select(col(groupCol), explode_outer(tokens(col(textCol))).as("token"))
      .filter(col("token").isNotNull)
    val tc = toks.groupBy(groupCol, "token").agg(count(lit(1)).as("c"))
    val v = tc.groupBy(groupCol).agg(
      count(lit(1)).as("__vocab"),
      sum(col("c")).as("__total"),
      sum(when(col("c") === 1, 1L).otherwise(0L)).as("__hapax"))
    df.groupBy(groupCol).agg(count(lit(1)).as("n_docs"))
      .join(v, Seq(groupCol), "left")
      .select(col(groupCol), col("n_docs"),
        coalesce(col("__total"), lit(0L)).as("total_tokens"),
        coalesce(col("__vocab"), lit(0L)).as("vocab_size"),
        coalesce(col("__hapax"), lit(0L)).as("hapax_count"),
        round(when(coalesce(col("__total"), lit(0L)) > 0,
          col("__vocab").cast("double") / col("__total").cast("double"))
          .otherwise(0.0), 5).as("type_token_ratio"),
        round(when(coalesce(col("__vocab"), lit(0L)) > 0,
          col("__hapax").cast("double") / col("__vocab").cast("double"))
          .otherwise(0.0), 5).as("hapax_ratio"))
  }

  /** Bigram-LM cross-entropy: per-document mean of −ln p(b|a) under
    * the corpus' own bigram model, p(b|a) = c(ab) / c(a·) with c(a·)
    * the mass of bigrams starting with a. The order-aware companion
    * to [[lmCrossEntropy]]'s unigram model: a doc of common words in
    * IMPROBABLE order scores high here but low there. No smoothing
    * is needed — the model is trained on the corpus being scored, so
    * every observed bigram has mass. Docs with fewer than two tokens
    * surface with n_bigrams = 0, score 0.
    *
    * Determinism: −ln of the single ratio quantized to DECIMAL(18,9)
    * (§8.3), exact HALF-UP mean via [[decAvg5]].
    *
    * Scale shape: bigram counts shuffle once (map-side combined,
    * vocabulary-sized); prefix masses aggregate FROM the bigram
    * counts (never a second corpus pass); the occurrence stream
    * joins the scored model on the bigram key — one keyed equi-join,
    * the same shape the unigram scorer uses.
    */
  def lm2CrossEntropy(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val staged = Dedup.spread(df, textCol)
      .select(col(idCol), tokens(col(textCol)).as("__t"))
    val bg = staged
      .select(col(idCol), explode_outer(Dedup.ngrams(col("__t"), 2)).as("bg"))
      .filter(col("bg").isNotNull && col("bg").contains(" "))
    val cnt2 = bg.groupBy("bg").agg(count(lit(1)).as("c2"))
    val pref = cnt2
      .withColumn("a", split(col("bg"), " ").getItem(0))
      .groupBy("a").agg(sum(col("c2")).as("ca"))
    val lp = cnt2.withColumn("a", split(col("bg"), " ").getItem(0))
      .join(pref, "a")
      .select(col("bg"),
        round(-log(col("c2").cast("double") / col("ca").cast("double")), 9)
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)).as("nlp"))
    val per = bg.join(lp, "bg")
      .groupBy(idCol)
      .agg(count(lit(1)).as("__nb"), decAvg5(col("nlp"), count(lit(1))).as("__ce"))
    df.select(col(idCol)).join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__nb"), lit(0L)).as("n_bigrams"),
        coalesce(col("__ce"), lit(0.0)).as("cross_entropy2"))
  }

  /** Top-k word associations by pointwise mutual information over
    * consecutive-token bigrams: PMI(a,b) = ln(p(a,b)/(p(a)p(b))) with
    * p from corpus unigram/bigram counts. High-PMI pairs are the
    * corpus' collocations — multiword terms a tokenizer-vocabulary or
    * boilerplate-phrase analysis wants surfaced. `minCount` floors
    * the bigram count (PMI is noise-dominated on rare pairs).
    *
    * Determinism: counts are exact integers; the PMI double is ONE
    * identically-shaped expression tree (left-assoc products, one
    * division, one ln) evaluated on integer-derived doubles — bit
    * identical on any IEEE engine — rounded at 5 for display; the
    * top-k order ties on (pmi DESC, token_a, token_b).
    *
    * Scale shape: unigram and bigram counts are two map-side-combined
    * shuffles sized by vocabulary, not corpus; the count joins are
    * token-keyed equi-joins between vocabulary-sized relations (the
    * raw token stream is never joined); totals ride in as broadcast
    * one-row relations; the top-k is TakeOrderedAndProject (nothing
    * fully sorts).
    */
  def pmiBigrams(df: DataFrame, minCount: Long, k: Int,
      textCol: String = "text"): DataFrame = {
    val staged = Dedup.spread(df, textCol)
      .select(tokens(col(textCol)).as("__t"))
    // Both count relations MATERIALIZED (r15 plan capture: 5 text
    // scans — uni feeds the total and TWO unigram joins, bi the total
    // and the pair filter, each consumer re-running scan+tokenize);
    // the cuts are vocabulary-sized.
    val uni = Share.lazily(staged
      .select(explode_outer(col("__t")).as("token"))
      .filter(col("token").isNotNull)
      .groupBy("token").agg(count(lit(1)).as("c1")))
    // degenerate grams (short docs yield a truncated single-token
    // "bigram", empty docs an empty string) carry no space → excluded
    // from pairs AND totals on both engines
    val bi = Share.lazily(staged
      .select(explode_outer(Dedup.ngrams(col("__t"), 2)).as("bg"))
      .filter(col("bg").isNotNull && col("bg").contains(" "))
      .groupBy("bg").agg(count(lit(1)).as("c2")))
    val nTot = uni.agg(sum(col("c1")).as("n"))
    val bTot = bi.agg(sum(col("c2")).as("b"))
    val d = (c: Column) => c.cast("double")
    bi.filter(col("c2") >= minCount)
      .withColumn("token_a", split(col("bg"), " ").getItem(0))
      .withColumn("token_b", split(col("bg"), " ").getItem(1))
      .join(uni.select(col("token").as("token_a"), col("c1").as("ca")), "token_a")
      .join(uni.select(col("token").as("token_b"), col("c1").as("cb")), "token_b")
      .crossJoin(broadcast(nTot)).crossJoin(broadcast(bTot))
      .select(col("token_a"), col("token_b"), col("c2").as("pair_count"),
        round(log(d(col("c2")) * d(col("n")) * d(col("n")) /
          (d(col("b")) * d(col("ca")) * d(col("cb")))), 5).as("pmi"))
      .orderBy(col("pmi").desc, col("token_a"), col("token_b"))
      .limit(k)
  }

  /** Corpus stopword discovery: the `k` tokens with the highest
    * DOCUMENT frequency (the df axis, vs [[topTokens]]' occurrence
    * axis — a token repeated in one doc is a heavy hitter, a token
    * present in every doc is a stopword). `df_fraction` is its share
    * of documents, the number a stoplist threshold reads.
    *
    * Scale shape: per-doc distinct tokens (map-only), one
    * vocabulary-sized count shuffle, TakeOrderedAndProject top-k —
    * the vocabulary is never fully sorted.
    */
  def topDocFreqTokens(df: DataFrame, k: Int,
      textCol: String = "text"): DataFrame = {
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    Dedup.spread(df, textCol)
      .select(explode_outer(array_distinct(tokens(col(textCol)))).as("token"))
      .filter(col("token").isNotNull)
      .groupBy("token").agg(count(lit(1)).as("doc_freq"))
      .crossJoin(broadcast(nDocs))
      .select(col("token"), col("doc_freq"),
        round(col("doc_freq").cast("double") / col("n_docs").cast("double"), 5)
          .as("df_fraction"))
      .orderBy(col("doc_freq").desc, col("token"))
      .limit(k)
  }

  /** Per-document compression-ratio quality signal (Gopher-style):
    * deflate(text).length / text byte length — templated/repetitive
    * junk compresses far below natural text. zlib with fixed settings
    * is deterministic for a given input, so the score is
    * partition-independent; there is no SQL twin (no portable zlib in
    * the oracle engine), so this family is spec-verified. The UDF is
    * the honest choice here: the per-row work IS an imperative codec
    * call, not an expression tree.
    */
  private val deflatedLen = udf { (s: String) =>
    if (s == null) 0L
    else {
      val in = s.getBytes("UTF-8")
      val d = new java.util.zip.Deflater(6, false)
      d.setInput(in); d.finish()
      val buf = new Array[Byte](8192)
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      d.end()
      total
    }
  }

  /** Adds `byte_len`, `deflate_len`, `compression_ratio` (see
    * [[deflatedLen]]); empty docs surface ratio 0.
    */
  def withCompressionRatio(df: DataFrame,
      textCol: String = "text"): DataFrame =
    df.withColumn("byte_len", octet_length(col(textCol)).cast("long"))
      .withColumn("deflate_len", deflatedLen(col(textCol)))
      .withColumn("compression_ratio",
        when(col("byte_len") === 0L, 0.0).otherwise(
          round(col("deflate_len").cast("double") /
            col("byte_len").cast("double"), 5)))

  /** True iff inflate(deflate(text)) byte-equals the original UTF-8 —
    * the codec-path integrity bit for [[compressionSelfCheck]].
    */
  private val deflateRoundtripOk = udf { (s: String) =>
    if (s == null) true
    else {
      val in = s.getBytes("UTF-8")
      val d = new java.util.zip.Deflater(6, false)
      d.setInput(in); d.finish()
      val comp = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!d.finished()) comp.write(buf, 0, d.deflate(buf))
      d.end()
      val inf = new java.util.zip.Inflater(false)
      inf.setInput(comp.toByteArray)
      val back = new java.io.ByteArrayOutputStream()
      var corrupt = false
      while (!corrupt && !inf.finished()) {
        val n = inf.inflate(buf)
        if (n == 0 && (inf.needsInput() || inf.needsDictionary()))
          corrupt = true // truncated/corrupt stream
        else back.write(buf, 0, n)
      }
      inf.end()
      !corrupt && java.util.Arrays.equals(back.toByteArray, in)
    }
  }

  /** Corpus-level SELF-VALIDATION of the zlib path — the oracle-
    * checkable companion of [[withCompressionRatio]] (whose raw
    * deflate_len has no portable SQL twin): every column here is
    * either an exact relational fact the oracle recomputes (counts,
    * byte mass) or an invariant of the codec itself that MUST be
    * true (inflate∘deflate identity; deflate_len inside zlib's
    * documented worst-case bound), emitted as counts the driver
    * hashes against literal expectations. A wrong deflate
    * implementation fails this hash; rows-only checks would not see
    * it.
    *
    * Scale shape: one scan, one map-side-combined 1-row aggregate.
    */
  def compressionSelfCheck(df: DataFrame,
      textCol: String = "text"): DataFrame = {
    val scored = withCompressionRatio(df, textCol)
      .withColumn("__rt", deflateRoundtripOk(col(textCol)))
      // zlib worst case: 2-byte header + 4-byte adler + 5 bytes per
      // 16 KiB stored block — comfortably inside len/1000 + 64
      .withColumn("__bounded",
        col("deflate_len") >= lit(1L) &&
          col("deflate_len") <= col("byte_len") +
          (col("byte_len") / lit(1000L)) + lit(64L))
    scored.agg(
      count(lit(1)).as("n_docs"),
      sum(col("byte_len")).as("sum_byte_len"),
      sum(when(col("__rt"), 1L).otherwise(0L)).as("n_roundtrip_ok"),
      sum(when(col("__bounded"), 1L).otherwise(0L)).as("n_len_bounded"))
  }

  /** Per-document TF-IDF keyword extraction: for every document, the
    * top-`k` terms by tf·idf — the per-doc companion of [[topTokens]]
    * (corpus heavy hitters) and the extraction twin of Search.bm25
    * (which SEARCHES with the same statistics). idf = ln(N/df) over
    * distinct-document frequency.
    *
    * Cross-engine determinism (SURVEY.md §8.3): idf is quantized to
    * DECIMAL(18,9) (ln differs ≤1 ulp between engines, inside the
    * quantum) and the ranking score tf·idf₉ is EXACT decimal — tf is
    * cast DECIMAL(10,0) so the product keeps scale 9 (rule 11) — with
    * ties broken on term asc, so every engine picks the identical
    * keyword set in the identical order. The visible tfidf is
    * round(·, 5) of the exact score.
    *
    * Scale shape: one (doc, token) count shuffle; df and N are
    * vocabulary-/scalar-sized aggregates of THAT relation (the corpus
    * is never re-tokenized) broadcast back onto it; the per-doc
    * row_number ≤ k plans as WindowGroupLimit, so a mega-document
    * never buffers its vocabulary in one task unbounded.
    */
  def tfidfKeywords(df: DataFrame, k: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(k >= 1, s"tfidfKeywords needs k >= 1, got $k")
    val tf = Dedup.spread(df, textCol)
      .select(col(idCol), explode_outer(tokens(col(textCol))).as("token"))
      .filter(col("token").isNotNull)
      .groupBy(idCol, "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val idf = dfreq.crossJoin(broadcast(nDocs))
      .select(col("token"), col("df"),
        round(log(col("n_docs").cast("double") / col("df").cast("double")), 9)
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)).as("idf9"))
    val scored = tf.join(broadcast(idf), "token")
      .withColumn("score",
        col("tf").cast(org.apache.spark.sql.types.DecimalType(10, 0)) * col("idf9"))
    val byDoc = Window.partitionBy(idCol)
      .orderBy(col("score").desc, col("token").asc)
    scored
      .withColumn("rank", row_number().over(byDoc))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("token"), col("tf"), col("df"),
        round(col("score").cast("double"), 5).as("tfidf"))
  }

  /** Corpus-balance diagnostic: Shannon diversity of SOURCES within
    * each language — (lang, n_docs, n_sources, entropy_nats,
    * effective_sources), where effective_sources = exp(H) is the
    * "numbers equivalent" (10 sources at H = ln 2 behave like 2).
    * The mixture-health number a raw source COUNT hides: a language
    * with 10 sources where one holds 95% of documents is effectively
    * single-sourced, and models inherit that source's biases however
    * long the source list looks.
    *
    * Determinism: the [[graft.ext.Events.transitionEntropy]]
    * convention — each share's ln is quantized at scale 9, terms sum
    * exactly in decimal (n·llh with the count pre-narrowed to
    * DECIMAL(10,0) so the product keeps scale 9 — §8.3 rule 11), one
    * division + exp + round at the end.
    *
    * Scale shape: one (lang, source) map-side-combined count; the
    * entropy roll-up runs on the (lang × source) domain, never the
    * corpus.
    */
  def sourceDiversity(df: DataFrame, langCol: String = "lang",
      sourceCol: String = "source"): DataFrame = {
    val cnt = df.groupBy(col(langCol), col(sourceCol))
      .agg(count(lit(1)).as("__c"))
    val tot = cnt.groupBy(col(langCol))
      .agg(sum(col("__c")).as("__n"), count(lit(1)).as("n_sources"))
    val h = (-col("__s")).cast("double") / col("__n").cast("double")
    cnt.join(broadcast(tot), Seq(langCol))
      .withColumn("__llh",
        round(log(col("__c").cast("double") / col("__n").cast("double")), 9)
          .cast(DecimalType(18, 9)))
      .groupBy(col(langCol), col("__n"), col("n_sources"))
      .agg(sum(col("__c").cast(DecimalType(10, 0)) * col("__llh")).as("__s"))
      .select(col(langCol), col("__n").as("n_docs"), col("n_sources"),
        round(h, 5).as("entropy_nats"),
        round(exp(h), 5).as("effective_sources"))
      .orderBy(langCol)
  }

  /** RAKE keyword extraction (Rose et al.) over the corpus: candidate
    * PHRASES are maximal stopword-free token runs (capped at
    * `maxPhraseLen` words — the canonical length limit); each word
    * scores degree/frequency where frequency counts its occurrences
    * in kept phrases and degree sums the lengths of the phrases it
    * appears in (its within-phrase co-occurrence count, self
    * included); a phrase scores the sum of its member word scores.
    * Multi-word phrases with frequent-but-co-occurring words outrank
    * bare frequency — the keyword signal [[tfidfKeywords]]' unigram
    * scores cannot see. Returns the corpus top `k`:
    * (phrase, n_words, n_occurrences, score_u, rake_score), (exact
    * score desc, phrase) order.
    *
    * Determinism: word scores live in EXACT scale-9 integer units
    * (the [[graft.ext.Graph.pageRank]] rank_u convention):
    * ws_u = HALF_UP(degree·10⁹ / frequency) via the (2a+b) div 2b
    * integer form, phrase scores are exact integer sums, and
    * `rake_score` is the single tie-safe double rendering
    * score_u/10⁹. (A round(deg/freq, 9) would land on 10-digit
    * terminating ties at 2^a·5^b frequencies — the fill_ratio
    * lesson, §8.3 rule 4.)
    *
    * Scale shape: tokenize once; the phrase segmentation window is
    * partitioned by document; phrase and word aggregations key on
    * (doc, phrase) and the vocabulary respectively — the corpus is
    * never shuffled wider than its token stream, and the final top-k
    * plans as TakeOrderedAndProject. Per-phrase member arrays are
    * bounded by document length pre-filter (the shingle-array class),
    * `maxPhraseLen` after.
    */
  def rakeKeywords(df: DataFrame, k: Int, maxPhraseLen: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 1, s"rakeKeywords needs k >= 1, got $k")
    require(maxPhraseLen >= 1, "maxPhraseLen must be >= 1")
    val staged = Dedup.spread(df.select(col(idCol).as("doc_id"),
        col(textCol).as("__text")), "__text")
      .select(col("doc_id"), tokens(col("__text")).as("__t"))
    val pt = staged.select(col("doc_id"),
      posexplode(col("__t")).as(Seq("__pos", "__tok")))
    val wP = Window.partitionBy("doc_id").orderBy("__pos")
    val marked = pt
      .withColumn("__stop", col("__tok").isInCollection(Stopwords))
      .withColumn("__pid", sum(when(col("__stop"), 1L).otherwise(0L)).over(wP))
    val phrases = Share.checkpoint(
      marked.filter(!col("__stop"))
        .groupBy(col("doc_id"), col("__pid"))
        .agg(count(lit(1)).as("__len"),
          transform(sort_array(collect_list(struct(col("__pos"), col("__tok")))),
            s => s.getField("__tok")).as("__mtoks"))
        .filter(col("__len") <= maxPhraseLen)
        .withColumn("phrase", array_join(col("__mtoks"), " ")))
    val occ = phrases.select(col("doc_id"), col("__pid"), col("phrase"),
      col("__len"), explode(col("__mtoks")).as("__tok"))
    val wstats = occ.groupBy("__tok")
      .agg(count(lit(1)).as("__freq"), sum(col("__len")).as("__deg"))
      // exact scale-9 word score: HALF_UP(deg·10⁹/freq) as (2a+b) div 2b
      .withColumn("__wsu", expr(
        "(cast(__deg as decimal(38,0)) * 2000000000 + __freq) div (2 * __freq)"))
      .select(col("__tok"), col("__wsu"))
    occ.join(wstats, Seq("__tok"))
      .groupBy(col("doc_id"), col("__pid"), col("phrase"), col("__len"))
      .agg(sum(col("__wsu")).as("__psu"))
      .groupBy(col("phrase"))
      .agg(min(col("__len")).as("n_words"),
        count(lit(1)).as("n_occurrences"),
        min(col("__psu")).as("__su"))
      .orderBy(col("__su").desc, col("phrase"))
      .limit(k)
      .select(col("phrase"), col("n_words"), col("n_occurrences"),
        col("__su").cast("long").as("score_u"),
        (col("__su").cast("double") / 1000000000.0).as("rake_score"))
  }

  /** Document fingerprints:
    *  - `fingerprint`: md5 of the sorted distinct token set — exact
    *    content-set identity, robust to token order/repetition.
    *  - `sketch`: bottom-k (k=4) of per-token md5s, concatenated — a
    *    winnowing-style rolling sketch; two docs sharing most tokens
    *    share most minimal hashes.
    * Both are pure column expressions (md5/sort/slice), portable to
    * any engine with md5 — the oracle computes them identically.
    */
  def fingerprints(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 4): DataFrame = {
    val staged = df.withColumn("__t", array_distinct(tokens(col(textCol))))
    val toks = col("__t")
    val hashes = array_sort(transform(toks, t => md5(t)))
    staged.select(
      col(idCol),
      md5(concat_ws(" ", array_sort(toks))).as("fingerprint"),
      concat_ws("", slice(hashes, 1, k)).as("bottomk_sketch"))
  }

  /** Per-class discriminative tokens by χ² feature selection: for
    * each label, the k tokens whose document-level presence is most
    * dependent on the label — (label, rank, token, n_docs_with,
    * chi2). The featurization step a quality/domain classifier reads
    * (and a fast corpus-drift probe: a label's top discriminators
    * changing between snapshots flags content shift).
    *
    * Per (token, label) the 2×2 presence contingency is derived from
    * THREE bounded roll-ups of one distinct-token posting pass:
    * a = docs of the label containing the token, df = all docs
    * containing it, n_label / n docs margins. χ² = n(ad−bc)² /
    * ((a+b)(c+d)(a+c)(b+d)) — exact longs cast once, one fixed-shape
    * double expression (the q_chisq_lang_source convention), rounded
    * at 5 with (chi2 desc, token) rank ≤ k planning as
    * WindowGroupLimit. Degenerate margins (token in every doc, label
    * covering every doc) are filtered identically in the oracle —
    * their χ² is undefined, not zero.
    *
    * Scale shape: postings explode once (distinct per doc); the
    * (label, token) aggregate is map-side combined and
    * vocab×C-bounded; margins broadcast; nothing pairwise.
    */
  def discriminativeTokens(df: DataFrame, k: Int = 10,
      labelCol: String = "lang", idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val pres = Dedup.spread(df, textCol)
      .withColumn("__toks", array_distinct(tokens(col(textCol))))
      .select(col(labelCol).as("label"),
        explode_outer(col("__toks")).as("token"))
      .filter(col("token").isNotNull)
    val atl = pres.groupBy("label", "token").agg(count(lit(1)).as("a"))
    val dft = atl.groupBy("token").agg(sum(col("a")).as("df"))
    val nl = df.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n_label"))
    val nAll = df.agg(count(lit(1)).as("n_all"))
    val aD = col("a").cast("double")
    val dfD = col("df").cast("double")
    val nlD = col("n_label").cast("double")
    val nD = col("n_all").cast("double")
    val bD = dfD - aD
    val cD = nlD - aD
    val dD = nD - nlD - bD
    val det = aD * dD - bD * cD
    val w = Window.partitionBy(col("label"))
      .orderBy(col("chi2").desc, col("token").asc)
    atl.join(dft, "token")
      .join(broadcast(nl), "label")
      .crossJoin(broadcast(nAll))
      .filter(col("n_all") > col("df") && col("n_all") > col("n_label"))
      .withColumn("chi2",
        round(nD * det * det / (dfD * (nD - dfD) * nlD * (nD - nlD)), 5))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("label"), col("rank"), col("token"),
        col("a").as("n_docs_with"), col("chi2"))
      .orderBy("label", "rank")
  }

  /** Per-document boilerplate contamination report — the CCNet-style
    * template detector: a word n-gram is BOILERPLATE within a source
    * when it appears in at least `minDocPct`% of that source's
    * documents (navigation chrome, license banners, scraper
    * artifacts are exactly the shingles whole sources repeat).
    * Returns (idCol, groupCol, n_shingles, n_boilerplate,
    * boilerplate_frac) — one row per document; a high frac marks a
    * document that is mostly its source's template.
    *
    * The threshold is an integer PERCENT compared cross-multiplied
    * (100·df ≥ pct·n_docs) — no float threshold for engines to
    * disagree on at the boundary.
    *
    * Scale shape: the same inverted shingle index as the n-gram
    * dedup family — distinct shingles explode to (source, doc,
    * shingle) postings once; document frequency is a
    * map-side-combined count per (source, shingle); the boilerplate
    * set is a FRACTION bound (≤ 100/pct · n_docs_in_group shingles
    * can clear a pct% bar only if postings allow — the set is
    * postings/(pct·n_docs/100)-bounded, collapsing as the corpus
    * grows); the flag rejoins the postings shingle-keyed. Per-doc
    * roll-ups are map-side combinable. Nothing is pairwise, nothing
    * is O(n²), and the per-source doc counts broadcast (group domain
    * is bounded).
    */
  def boilerplateReport(df: DataFrame, n: Int = 2, minDocPct: Int = 20,
      groupCol: String = "source", idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(minDocPct >= 1 && minDocPct <= 100, "minDocPct must be in [1,100]")
    val inv = Dedup.withShingleSet(df, n, textCol, "__sh")
      .select(col(groupCol).as("__g"), col(idCol),
        explode_outer(col("__sh")).as("__shingle"))
      .filter(col("__shingle").isNotNull)
    val nDocs = df.groupBy(col(groupCol).as("__g"))
      .agg(count(lit(1)).as("__n_docs"))
    // shingles are distinct per doc (withShingleSet), so the posting
    // count per (group, shingle) IS the document frequency
    val bp = inv.groupBy("__g", "__shingle")
      .agg(count(lit(1)).as("__df"))
      .join(broadcast(nDocs), "__g")
      .filter(col("__df") * 100 >= col("__n_docs") * minDocPct)
      .select(col("__g"), col("__shingle"), lit(1L).as("__is_bp"))
    inv.join(bp, Seq("__g", "__shingle"), "left")
      .groupBy(col("__g"), col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__is_bp"), lit(0L))).as("n_boilerplate"))
      .select(col(idCol), col("__g").as(groupCol), col("n_shingles"),
        col("n_boilerplate"),
        round(col("n_boilerplate").cast("double") /
          col("n_shingles").cast("double"), 5).as("boilerplate_frac"))
  }

  /** Zipf-law fit per source: the log-log OLS line through the top-V
    * token (rank, frequency) points — (source, n_tokens_fit, slope,
    * intercept, r2). Natural corpora obey freq ∝ rank^s with
    * s ≈ −1; a source whose slope is far shallower (templated /
    * machine-generated text repeats a small vocabulary uniformly) or
    * whose r² collapses (mixed scripts, binary junk) fails the
    * corpus-health check before it pollutes a mixture.
    *
    * Determinism (§8.3): ln(rank) and ln(freq) are quantized at scale
    * 9 (the NB-llh rule — engine ln differs ≤ 1 ulp, far inside the
    * quantum), moments are EXACT decimal sums, and the slope /
    * intercept / r² formulas are the olsRegression fixed expression
    * tree over those exact moments — identical doubles on any engine
    * and partitioning.
    *
    * Scale shape: one (source, token) count shuffle (map-side
    * combined, vocabulary-sized); the rank window is top-V-capped per
    * source (WindowGroupLimit pushes the cap below the sort), so
    * everything after the count is bounded by |sources|·V rows.
    */
  def zipfFit(df: DataFrame, topV: Int = 500, groupCol: String = "source",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(topV >= 2, s"topV must be >= 2, got $topV")
    val cnt = Dedup.spread(df, textCol)
      .select(col(groupCol).as("__g"),
        explode_outer(tokens(col(textCol))).as("__tok"))
      .filter(col("__tok").isNotNull)
      .groupBy(col("__g"), col("__tok")).agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(col("__g"))
      .orderBy(col("__c").desc, col("__tok").asc)
    val dec = DecimalType(18, 9)
    val pts = cnt.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= topV)
      .select(col("__g"),
        round(log(col("__rk").cast("double")), 9).cast(dec).as("__x"),
        round(log(col("__c").cast("double")), 9).cast(dec).as("__y"))
    val m = pts.groupBy(col("__g"))
      .agg(count(lit(1)).as("n_tokens_fit"),
        sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__x")).as("__sxx"),
        sum(col("__y") * col("__y")).as("__syy"))
    val n = col("n_tokens_fit").cast("double")
    def d(c: String) = col(c).cast("double")
    val covXY = n * d("__sxy") - d("__sx") * d("__sy")
    val varX = n * d("__sxx") - d("__sx") * d("__sx")
    val varY = n * d("__syy") - d("__sy") * d("__sy")
    val slope = covXY / varX
    val ok = col("n_tokens_fit") > 1 && varX =!= 0.0 && varY =!= 0.0
    m.select(col("__g").as(groupCol), col("n_tokens_fit"),
      when(ok, round(slope, 5)).as("slope"),
      when(ok, round((d("__sy") - slope * d("__sx")) / n, 5)).as("intercept"),
      when(ok, round(covXY * covXY / (varX * varY), 5)).as("r2"))
  }

  /** Per-document n-gram NOVELTY: the fraction of a doc's distinct
    * word n-grams that occur in NO other document —
    * (doc_id, n_shingles, n_novel, novelty). The memorization /
    * freshness axis of curation: boilerplate and span-dedup find what
    * is SHARED; novelty scores what is not, so a sampler can favor
    * documents that add n-grams the corpus does not already have (or
    * down-weight near-templated docs whose novelty ≈ 0).
    *
    * Scale shape — CHEAPER than the [[boilerplateReport]] inverted
    * index: a novelty shingle (df == 1) has exactly one posting, so
    * `min(doc_id)` in the df aggregate already names its owner — no
    * join back onto the corpus-scale postings relation at all. Two
    * map-side-combined aggregates over the postings (per-doc shingle
    * counts; per-shingle df + owner) and one DOC-keyed join of two
    * per-doc frames. Nothing is pairwise, and the only shingle-keyed
    * shuffle is the df count itself.
    *
    * Determinism: integer counts; ONE double division, rounded at 5.
    */
  def ngramNovelty(df: DataFrame, n: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val inv = Dedup.withShingleSet(df, n, textCol, "__sh")
      .select(col(idCol), explode_outer(col("__sh")).as("__shingle"))
      .filter(col("__shingle").isNotNull)
    val perDoc = inv.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"))
    val novel = inv.groupBy("__shingle")
      .agg(count(lit(1)).as("__df"), min(col(idCol)).as("__owner"))
      .filter(col("__df") === 1)
      .groupBy(col("__owner").as(idCol))
      .agg(count(lit(1)).as("__n_novel"))
    perDoc.join(novel, Seq(idCol), "left")
      .select(col(idCol), col("n_shingles"),
        coalesce(col("__n_novel"), lit(0L)).as("n_novel"),
        round(coalesce(col("__n_novel"), lit(0L)).cast("double") /
          col("n_shingles").cast("double"), 5).as("novelty"))
  }

  /** Good-Turing frequency-of-frequencies report over the corpus
    * unigram counts: for each of the `maxR` SMALLEST observed count
    * classes r (the rare tail — fixed-size output at every corpus
    * scale, where a fixed r ≤ cap goes empty once nothing is rare),
    * the number of distinct tokens seen exactly r times (n_r), the
    * adjacent class size n_{r+1}, the Good-Turing adjusted count
    * r* = (r+1)·n_{r+1}/n_r, and the total probability mass the
    * class should receive, p_mass = (r+1)·n_{r+1}/N. When r = 1 is
    * observed, its p_mass estimates the UNSEEN-token mass (Gale &
    * Sampson's "how much of the next shard's vocabulary have we never
    * seen") — the corpus-growth planning number a raw vocabulary
    * count cannot give. Returns (r, n_tokens, n_next, r_star,
    * p_mass), r order.
    *
    * Determinism (§8.3): n_r and N = Σ r·n_r are exact integers;
    * r* and p_mass are each ONE division of exact integer operands
    * (r*·n_r = (r+1)·n_{r+1}, so the mass never chains through the
    * already-divided r*), rounded at 5.
    *
    * Scale shape: one corpus tokenize → token counts (map-side
    * combinable) → counts-of-counts, a relation bounded by the
    * distinct-count domain (≤ max token frequency, in practice a few
    * hundred rows) — the N roll-up and the r↔r+1 self-join live on
    * that bounded relation, never on the corpus.
    */
  def goodTuring(df: DataFrame, maxR: Int = 10,
      textCol: String = "text"): DataFrame = {
    val tokenCounts = Dedup.spread(df, textCol)
      .select(explode_outer(tokens(col(textCol))).as("__token"))
      .filter(col("__token").isNotNull)
      .groupBy("__token").agg(count(lit(1)).as("__r"))
    val coc = tokenCounts.groupBy(col("__r").as("r"))
      .agg(count(lit(1)).as("n_tokens"))
    val total = coc.agg(sum(col("r") * col("n_tokens")).cast("long").as("__n"))
    val nxt = coc.select((col("r") - 1).as("r"), col("n_tokens").as("__nn"))
    coc.orderBy("r").limit(maxR)
      .join(nxt, Seq("r"), "left")
      .crossJoin(broadcast(total))
      .select(col("r"), col("n_tokens"),
        coalesce(col("__nn"), lit(0L)).as("n_next"),
        round(((col("r") + 1) * coalesce(col("__nn"), lit(0L))).cast("double") /
          col("n_tokens").cast("double"), 5).as("r_star"),
        round(((col("r") + 1) * coalesce(col("__nn"), lit(0L))).cast("double") /
          col("__n").cast("double"), 5).as("p_mass"))
      .orderBy("r")
  }

  /** Interpolated Kneser-Ney bigram cross-entropy per document
    * (Kneser & Ney 1995; Chen & Goodman's benchmark smoothing), with
    * the canonical absolute discount D = 0.75 as the exact rational
    * 3/4:
    * P_KN(w₂|w₁) = (c₁₂ − D)/c₁ + (D·N₁₊(w₁·)/c₁) · N₁₊(·w₂)/N₁₊(··).
    * The continuation term scores how many CONTEXTS a word completes,
    * not how often it occurs — the "san AND francisco are frequent,
    * but francisco only follows san" correction [[lm2CrossEntropy]]'s
    * raw MLE cannot make; KN-scored perplexity is the standard
    * quality gate axis. Returns (doc_id, n_bigrams,
    * kn_cross_entropy), doc order; sub-2-token docs surface zeros.
    *
    * Determinism (§8.3 rule 4): the two-term interpolation folds to
    * ONE exact integer rational —
    * [E·(4c₁₂ − 3) + 3·N₁₊(w₁·)·N₁₊(·w₂)] / (4·c₁·E), E = N₁₊(··) —
    * so each bigram's −ln is of a single exact quotient, quantized to
    * DECIMAL(18,9) and averaged with the exact HALF-UP decAvg5.
    * c₁₂ ≥ 1 keeps the max(·,0) clamp vacuous at D < 1.
    *
    * Scale shape: the lm2 shape plus two vocabulary-sized side
    * aggregates (prefix/continuation type counts from the SAME bigram
    * count relation — the corpus is tokenized once) and a 1-row E
    * broadcast.
    */
  def knCrossEntropy(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val dec380 = DecimalType(38, 0)
    val staged = Dedup.spread(df, textCol)
      .select(col(idCol), tokens(col(textCol)).as("__t"))
    // MATERIALIZED twice (guide §1/§2.4 — the r15 plan capture shows
    // the text column scanned 5×): the bounded per-doc (doc, bigram,
    // count) grid replaces the re-exploded stream for both the count
    // build and the scoring join-back, and the bigram counts (four
    // consumers: pref, cont, tot, the lp join) are its roll-up — each
    // cut turns its consumers into leaf re-reads instead of repeated
    // scan+tokenize+explode subtrees.
    val bg = Share.lazily(staged
      .select(col(idCol), explode_outer(Dedup.ngrams(col("__t"), 2)).as("bg"))
      .filter(col("bg").isNotNull && col("bg").contains(" "))
      .groupBy(col(idCol), col("bg")).agg(count(lit(1)).as("__bc")))
    val cnt2 = Share.lazily(
      bg.groupBy("bg").agg(sum(col("__bc")).as("c2"))
        .withColumn("a", split(col("bg"), " ").getItem(0))
        .withColumn("b", split(col("bg"), " ").getItem(1)))
    val pref = cnt2.groupBy("a")
      .agg(sum(col("c2")).as("ca"), count(lit(1)).as("n1a"))
    val cont = cnt2.groupBy("b").agg(count(lit(1)).as("eb"))
    val tot = cnt2.agg(count(lit(1)).as("E"))
    val num = (col("E").cast(dec380) * (col("c2") * 4 - 3) +
      col("n1a").cast(dec380) * col("eb") * 3).cast("double")
    val den = (col("ca").cast(dec380) * col("E") * 4).cast("double")
    val lp = cnt2.join(pref, "a").join(cont, "b")
      .crossJoin(broadcast(tot))
      .select(col("bg"),
        round(-log(num / den), 9).cast(DecimalType(18, 9)).as("nlp"))
    val per = bg.join(lp, "bg")
      .groupBy(idCol)
      .agg(sum(col("__bc")).as("__nb"),
        decAvg5W(col("nlp"), col("__bc"), sum(col("__bc"))).as("__ce"))
    df.select(col(idCol)).join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__nb"), lit(0L)).as("n_bigrams"),
        coalesce(col("__ce"), lit(0.0)).as("kn_cross_entropy"))
      .orderBy(idCol)
  }

  /** Jensen-Shannon divergence of each group's token distribution
    * from the corpus pool — the bounded, symmetric drift score
    * (0 ≤ JSD ≤ ln 2, defined even on disjoint supports) that
    * complements [[graft.ext.Stats.psiDrift]]'s binned-length axis
    * with a CONTENT axis: which source's vocabulary usage has walked
    * away from the mixture. Returns (group, n_tokens, jsd), group
    * order, jsd in nats rounded at 5.
    *
    * Determinism (§8.3): with p = a/A (group) and q = b/B (pool),
    * both log-ratios against the mixture m = (p+q)/2 are EXACT
    * integer rationals — p/m = 2aB/(aB+bA), q/m = 2bA/(aB+bA) — each
    * quantized to a scale-9 INTEGER (round(ln,9)·10⁹, the decimal
    * staying exact at every step: the type ladder (12,0)·(20,0) →
    * (33,0) → Σ (38,0) never triggers Spark's precision-loss scale
    * clamp, and the mirrored DuckDB ladder stays inside HUGEINT);
    * tokens ABSENT from the group contribute q·ln 2 in closed form
    * ((B − B_present)·LN2₉ — no group×vocab grid is ever
    * materialized), and the whole JSD is ONE final division by
    * 2AB·10⁹. Operating bound: A, B ≤ 10¹² tokens per the (12,0)
    * casts (≈ 4 PB of text).
    *
    * Scale shape: one (group, token) count + one token-keyed pool
    * re-aggregate, joined token-keyed — vocabulary-sized shuffles
    * only; the A/B totals ride in as broadcast one-row relations.
    */
  def jsDrift(df: DataFrame, groupCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val dec380 = DecimalType(38, 0)
    val dec120 = DecimalType(12, 0)
    val ln2u = lit(693147181L) // round(ln 2, 9)·10⁹
    // MATERIALIZED: gt feeds the pool roll-up, the per-group totals
    // and the token-keyed join (the r15 plan capture shows 4 text
    // scans — each consumer re-ran scan+tokenize+count without the cut)
    val gt = Share.lazily(Dedup.spread(df, textCol)
      .select(col(groupCol).as("__g"),
        explode_outer(tokens(col(textCol))).as("__tok"))
      .filter(col("__tok").isNotNull)
      .groupBy("__g", "__tok").agg(count(lit(1)).as("__a")))
    val pool = gt.groupBy("__tok").agg(sum(col("__a")).as("__b"))
    val aTot = gt.groupBy("__g").agg(sum(col("__a")).as("__ta"))
    val bTot = pool.agg(sum(col("__b")).as("__tb"))
    val mix = col("__a").cast(dec380) * col("__tb") +
      col("__b").cast(dec380) * col("__ta")
    // scale-9 integer log units: round(ln,9) quantized into (18,9) is
    // exact; ×10⁹ in (28,9) is exact; the (20,0) cast drops only zeros
    def lu(x: org.apache.spark.sql.Column) =
      (round(log(x), 9).cast(DecimalType(18, 9)) * 1000000000L)
        .cast(DecimalType(20, 0))
    val terms = gt.join(pool, "__tok")
      .join(broadcast(aTot), "__g")
      .crossJoin(broadcast(bTot))
      .select(col("__g"), col("__ta"), col("__tb"), col("__a"), col("__b"),
        lu((col("__a").cast(dec380) * col("__tb") * 2).cast("double") /
          mix.cast("double")).as("__lpu"),
        lu((col("__b").cast(dec380) * col("__ta") * 2).cast("double") /
          mix.cast("double")).as("__lqu"))
    terms
      .groupBy(col("__g"), col("__ta"), col("__tb"))
      .agg(
        sum(col("__a").cast(dec120) * col("__lpu")).as("__s1"),
        sum(col("__b").cast(dec120) * col("__lqu")).as("__s2"),
        sum(col("__b")).as("__bPres"))
      .select(col("__g").as(groupCol), col("__ta").as("n_tokens"),
        round((col("__tb").cast(dec120) * col("__s1").cast(DecimalType(25, 0)) +
          col("__ta").cast(dec120) * col("__s2").cast(DecimalType(25, 0)) +
          col("__ta").cast(dec120) *
            ((col("__tb") - col("__bPres")).cast(dec120) * ln2u))
            .cast("double") /
          (col("__ta").cast(dec120) * col("__tb").cast(dec120) *
            lit(2000000000L)).cast("double"), 5)
          .as("jsd"))
      .orderBy(groupCol)
  }

  /** Vocabulary mass-coverage curve: for each candidate vocabulary
    * budget V in `cuts`, what fraction of ALL token occurrences the
    * top-V tokens (by corpus frequency) cover — THE
    * tokenizer/vocab-budget planning curve ("32k covers 99.2%, 8k
    * covers 96.1%"), where [[vocabCoverage]] answers the per-document
    * question for ONE fixed V. Returns
    * (v_cut, n_vocab_used, cum_mass, coverage), v_cut order;
    * n_vocab_used = min(V, |vocab|) and coverage = cum_mass/N is one
    * exact-integer division.
    *
    * Determinism: ranks order by (count DESC, token) — total and
    * engine-independent; masses are exact integer cumsums.
    *
    * Scale shape: token counts are one map-side-combined shuffle
    * sized by vocabulary; the rank + cumsum window NEVER sees the
    * full vocabulary — the curve is only ever read at ranks
    * <= max(cuts), so the ranked relation is first bounded to the
    * top max(cuts) tokens via orderBy+limit (TakeOrderedAndProject —
    * per-partition top-k, no global sort), and the window runs over
    * that <= max(cuts)-row, config-bounded frame. Total mass comes
    * from the separate corpus aggregate, so truncation cannot skew
    * coverage.
    */
  def vocabMassCurve(df: DataFrame, cuts: Seq[Int],
      textCol: String = "text"): DataFrame = {
    require(cuts.nonEmpty && cuts.forall(_ >= 1), "cuts must be >= 1")
    val cnt = Dedup.spread(df, textCol)
      .select(explode_outer(tokens(col(textCol))).as("__tok"))
      .filter(col("__tok").isNotNull)
      .groupBy("__tok").agg(count(lit(1)).as("__c"))
    val top = cnt.orderBy(col("__c").desc, col("__tok")).limit(cuts.max)
    val w = Window.orderBy(col("__c").desc, col("__tok"))
    val ranked = top
      .withColumn("__r", row_number().over(w).cast("long"))
      .withColumn("__cum", sum(col("__c")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = cnt.agg(sum(col("__c")).as("__n"),
      count(lit(1)).as("__vocab"))
    val cutRows = tot.select(col("__n"), col("__vocab"),
      explode(array(cuts.map(v => lit(v.toLong)): _*)).as("v_cut"))
    cutRows
      .withColumn("__pick", least(col("v_cut"), col("__vocab")))
      .join(ranked.select(col("__r"), col("__cum")),
        col("__pick") === col("__r"))
      .select(col("v_cut"), col("__pick").as("n_vocab_used"),
        col("__cum").as("cum_mass"),
        round(col("__cum").cast("double") / col("__n").cast("double"), 5)
          .as("coverage"))
      .orderBy("v_cut")
  }

  /** Token burstiness report: the `k` tokens with the highest
    * collection-frequency to document-frequency ratio among tokens
    * with cf ≥ `minCf` — words that occur MANY times in FEW documents
    * (template boilerplate, spam keywords, generator tics), invisible
    * to a raw frequency list where uniform and bursty words mix.
    * Returns (token, cf, df, burstiness = cf/df), ordered by the
    * exact unrounded ratio desc then token.
    *
    * Determinism: cf and df are exact integers; cf/df is ONE exactly-
    * rounded IEEE division, so the ordering double is bit-identical
    * cross-engine (ties, including between equal rationals, break by
    * token); the displayed value rounds at 5.
    *
    * Scale shape: cf is a map-side-combined token count; df counts
    * the per-doc DISTINCT token relation (one extra per-doc
    * array_distinct before the explode — no distinct over the corpus
    * stream); top-k plans as TakeOrderedAndProject.
    */
  def tokenBurstiness(df: DataFrame, minCf: Long, k: Int,
      textCol: String = "text"): DataFrame = {
    val toksCol = tokens(col(textCol))
    val staged = Dedup.spread(df, textCol)
    val cf = staged.select(explode_outer(toksCol).as("__tok"))
      .filter(col("__tok").isNotNull)
      .groupBy("__tok").agg(count(lit(1)).as("cf"))
    val dfreq = staged.select(explode_outer(array_distinct(toksCol)).as("__tok"))
      .filter(col("__tok").isNotNull)
      .groupBy("__tok").agg(count(lit(1)).as("df"))
    cf.join(dfreq, "__tok")
      .filter(col("cf") >= minCf)
      .withColumn("__ratio", col("cf").cast("double") / col("df").cast("double"))
      .orderBy(col("__ratio").desc, col("__tok"))
      .limit(k)
      .select(col("__tok").as("token"), col("cf"), col("df"),
        round(col("__ratio"), 5).as("burstiness"))
  }

  /** Per-source n-gram diversity: distinct word `n`-grams over total
    * n-gram occurrences — the mode-collapse / template-saturation
    * detector for a source (synthetic-data generators and scraped
    * boilerplate collapse this ratio long before any per-document
    * repetition score moves, because the repetition is ACROSS
    * documents). Returns (source, n_grams, n_distinct, diversity),
    * source order; diversity = distinct/total, one division.
    *
    * Scale shape: one exploded gram relation (corpus × length — the
    * standard shingle cost), counted twice map-side: totals by
    * source, distincts from the (source, gram) count relation, which
    * is the only gram-keyed shuffle.
    */
  def sourceNgramDiversity(df: DataFrame, n: Int = 3,
      sourceCol: String = "source", textCol: String = "text"): DataFrame = {
    val grams = Dedup.spread(df, textCol)
      .select(col(sourceCol).as("__s"),
        explode_outer(Dedup.ngrams(tokens(col(textCol)), n)).as("__g"))
      // exact-arity grams only: docs shorter than n tokens emit a
      // degenerate joined remainder (the lm2 contains-space filter,
      // generalized to n−1 separators)
      .filter(col("__g").isNotNull &&
        expr(s"length(__g) - length(replace(__g, ' ', '')) = ${n - 1}"))
    val per = grams.groupBy(col("__s"), col("__g"))
      .agg(count(lit(1)).as("__c"))
    per.groupBy(col("__s"))
      .agg(sum(col("__c")).as("n_grams"), count(lit(1)).as("n_distinct"))
      .select(col("__s").as(sourceCol), col("n_grams"), col("n_distinct"),
        round(col("n_distinct").cast("double") / col("n_grams").cast("double"),
          5).as("diversity"))
      .orderBy(sourceCol)
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    * MOSS algorithm): hash every character `k`-gram, slide a window
    * of `w` consecutive gram hashes, keep each window's MINIMUM hash;
    * the document's fingerprint set is the DISTINCT selected hashes.
    * Winnowing guarantees any shared substring of length ≥ k+w−1
    * yields at least one shared fingerprint, with a 2/(w+1) expected
    * sampling density — the position-robust containment signal that
    * fixed-stride [[textFingerprint]]-style sampling misses when one
    * byte shifts the frame. Returns per doc:
    * (doc_id, n_grams, n_windows, n_fingerprints, fp_density),
    * doc order; density = fingerprints/windows, NULL when the text is
    * shorter than k+w−1 chars (no complete window).
    *
    * Determinism: gram hash = first 12 md5 hex digits as a 48-bit
    * integer (the repo's md5 convention — identical in DuckDB);
    * window min and distinct-count are order-free; ONE division.
    *
    * Scale shape: the exploded gram relation is ~|text| rows per doc
    * — the same corpus-×-length class as every shingle operator here
    * — and the sliding min is a doc-partitioned bounded window (w
    * rows), so nothing leaves the doc's partition until the per-doc
    * roll-up.
    */
  def winnowingFingerprints(df: DataFrame, k: Int = 8, w: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 1 && w >= 1, "k and w must be >= 1")
    val nGrams = (length(col(textCol)) - k + 1).cast("long")
    val grams = Dedup.spread(df, textCol)
      .select(col(idCol), col(textCol).as("__t"), nGrams.as("n_grams"))
      .withColumn("__pos",
        explode_outer(when(col("n_grams") >= 1,
          sequence(lit(1L), col("n_grams")))))
      .withColumn("__h",
        when(col("__pos").isNotNull,
          conv(substring(md5(col("__t").substr(col("__pos").cast("int"),
            lit(k))), 1, 12), 16, 10).cast("long")))
    val win = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .withColumn("__wmin", min(col("__h")).over(win))
      .groupBy(col(idCol), col("n_grams"))
      .agg(count_distinct(when(col("__pos") <= col("n_grams") - w + 1,
          col("__wmin"))).as("n_fingerprints"))
      .select(col(idCol),
        greatest(col("n_grams"), lit(0L)).as("n_grams"),
        greatest(col("n_grams") - w + 1, lit(0L)).as("n_windows"),
        col("n_fingerprints"),
        when(col("n_grams") - w + 1 >= 1,
          round(col("n_fingerprints").cast("double") /
            (col("n_grams") - w + 1).cast("double"), 5)).as("fp_density"))
      .orderBy(idCol)
  }
}
