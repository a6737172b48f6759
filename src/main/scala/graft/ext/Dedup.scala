package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.exec.Share

/** Deduplication operators for a large-scale document corpus —
  * training-data-pipeline extensions (SURVEY.md §7.5; the reference
  * itself has no dedup surface — its data ops end at profiling,
  * /root/reference/aws-athena.sh:64-125).
  *
  * Six families, all shuffle-architected for 100 TB:
  *
  *  - [[exact]]: hash-groupBy on a content digest. One shuffle keyed
  *    by md5(text) — uniformly distributed by construction, no skew.
  *  - [[ngramJaccardPairs]]: exact n-gram-shingle Jaccard via an
  *    inverted shingle index (explode → self-join on shingle →
  *    count common). Never materializes the O(docs²) cross join;
  *    cost is Σ per-shingle bucket². A document-frequency cap
  *    (`maxDocFreq`) drops degenerate stop-shingles, the standard
  *    guard against quadratic hot keys at corpus scale.
  *  - [[minHashSignatures]] / [[minHashNearDupPairs]]: MinHash
  *    signatures + LSH banding. Candidate generation touches only
  *    documents whose band keys collide (shuffle keyed by band hash),
  *    then candidates are verified with exact Jaccard. At 100 TB this
  *    is THE scalable near-dup path: cost ~ O(corpus) + O(collisions).
  *  - [[withSimHash]] / [[simHashNearDupPairs]]: 64-bit SimHash with
  *    16-bit-block LSH (pairs within Hamming distance d ≤ 3 must share
  *    one of 4 exact 16-bit blocks — pigeonhole; 4×2¹⁶ buckets keep
  *    the block self-join near-linear), verified with `bit_count(xor)`.
  *  - [[connectedComponents]] / [[nearDupClusters]]: the keep/drop
  *    half — candidate pairs become graph edges, min-label propagation
  *    groups transitive near-dups, min id per cluster survives.
  *  - [[crossCorpusNearDups]]: the two-corpus variant (new crawl vs
  *    existing training set) — bands meet across corpora only, the
  *    shuffle sized by collisions, never |A|·|B|.
  *
  * Everything is built from codegen'd column expressions (md5,
  * higher-order array functions, bit ops) — no UDFs, no driver-side
  * loops — and every hash is plain md5 so the DuckDB oracle can
  * recompute signatures bit-for-bit (Oracles.scala twins).
  */
object Dedup {

  /** Stop-shingle doc-frequency cap used by the flagship
    * q_dedup_ngram_jaccard query AND its DuckDB oracle twin
    * (OraclesExt.dedupNgramJaccard) — single-sourced so the two
    * engines cannot drift.
    */
  val NgramStopShingleCap: Long = 50L

  /** [[connectedComponents]] collects the edge list and runs exact
    * union-find on the driver when the graph has at most this many
    * undirected edges. Sized for the DRIVER-HEAP footprint, not the
    * wire bytes: 1M collected rows ≈ 50 MB transient plus a
    * primitive-keyed LongMap of ≤ 2M entries ≈ 32 MB — comfortably
    * broadcast-class on a default driver. Above it, the distributed
    * min-label-propagation loop runs instead.
    */
  val SmallGraphMaxEdges: Long = 1L << 20

  /** Distinct word n-gram shingles from a TOKEN-ARRAY column.
    *
    * The argument must be a staged attribute (see [[withShingleSet]]),
    * not the tokenization expression itself: higher-order functions
    * re-evaluate their lambda body per element, so a `split`-based
    * argument inlined here would re-tokenize the document once per
    * shingle (~60× — measured 8× wall-clock on the corpus ops).
    */
  def shingles(tokens: Column, n: Int): Column =
    array_distinct(ngrams(tokens, n))

  /** Word n-grams WITH duplicates (the windowing primitive behind
    * [[shingles]] and TextStats.repetitionStats — one copy of the
    * `greatest(size-n+1, 1)` degenerate-window convention, so the
    * operators and their oracle twins cannot drift apart).
    *
    * Implemented by the codegen'd native expression
    * (graft.functions.WordNgrams) — identical to the composable HOF
    * form `transform(sequence(1, greatest(size(t)-(n-1), 1)),
    * i => concat_ws(" ", slice(t, i, n)))` on every non-null input
    * (null arrays: see the WordNgrams scaladoc), which Catalyst can
    * only interpret (per-window closure dispatch + a sliced array
    * copy per window) on the hottest per-row path of the text family.
    */
  def ngrams(tokens: Column, n: Int): Column =
    graft.functions.TextExpressions.wordNgrams(tokens, n)

  /** Spread rows across all cores before CPU-heavy per-row work.
    * Document corpora often arrive in few large files (the test
    * parquet has ONE row group per file → one scan task), which
    * serializes the expensive tokenize/shingle/hash expressions. A
    * hash repartition on the given column is deterministic, and every
    * aggregate downstream of it in this module is
    * partitioning-independent (integer counts, exact decimal sums,
    * mins over longs) — unlike float `avg`, which is why the profiler
    * must NOT do this (TableProfiler scaladoc).
    */
  private[ext] def spread(df: DataFrame, byCol: String): DataFrame = {
    // conditional: a corpus-scale table already scans as thousands of
    // tasks — repartitioning it would add a full-table exchange for
    // nothing. Fire only when the scan is under-parallel (the few-
    // row-group local case this guard exists for).
    // queryExecution.toRdd, not df.rdd: both plan the physical query
    // eagerly, but toRdd is the memoized internal-row RDD — df.rdd
    // additionally builds a per-call deserializer stage on top of it.
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    if (df.queryExecution.toRdd.getNumPartitions >= parallelism) df
    else df.repartition(parallelism, col(byCol))
  }

  /** Stages tokenization as a named column, then shingles from the
    * attribute. Two projections on purpose — CollapseProject keeps
    * the non-cheap, multiply-referenced token array un-inlined, so
    * the text is tokenized exactly once per row.
    */
  def withShingleSet(df: DataFrame, n: Int, textCol: String,
      outCol: String): DataFrame =
    spread(df, textCol)
      .withColumn("__toks", TextStats.tokens(col(textCol)))
      .withColumn(outCol, shingles(col("__toks"), n))
      .drop("__toks")

  /** Exact dedup: canonical survivor (min id) per content digest.
    * Returns (`keep_id`, `content_md5`, `n_copies`). The groupBy key
    * is the digest, so the shuffle is uniform regardless of text
    * skew; at 100 TB this is one map-side-combined shuffle.
    */
  def exact(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "content_md5", "n_copies")

  /** Exact n-gram Jaccard near-dup pairs via an inverted shingle
    * index. Output: (id_a, id_b, n_common, n_a, n_b, jaccard) with
    * id_a < id_b and jaccard ≥ `threshold`.
    *
    * @param maxDocFreq drop shingles appearing in more than this many
    *   documents (stop-shingle guard; 0 = no cap). The same cap must
    *   be applied by any oracle twin.
    */
  def ngramJaccardPairs(df: DataFrame, n: Int, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text",
      maxDocFreq: Long = 0L): DataFrame = {
    val sets = withShingleSet(df, n, textCol, "sh")
      .select(col(idCol).as("id"), col("sh"))
    // explode_outer: plain explode makes InferFiltersFromGenerate push
    // a size(<whole shingle expression>)>0 predicate into the SCAN,
    // re-evaluating the shingle pipeline per row as a filter (measured
    // 15× slowdown). Shingle sets are never empty (withShingleSet
    // emits ≥1), so outer semantics are identical.
    val inv0 = sets.select(col("id"), explode_outer(col("sh")).as("shingle"))
      .filter(col("shingle").isNotNull)
    val inv =
      if (maxDocFreq <= 0L) inv0
      else {
        val freq = inv0.groupBy("shingle").agg(count(lit(1)).as("df_count"))
          .filter(col("df_count") <= maxDocFreq)
        inv0.join(freq, "shingle").select("id", "shingle")
      }
    val common = inv.as("l")
      .join(inv.as("r"), col("l.shingle") === col("r.shingle") &&
        col("l.id") < col("r.id"))
      .groupBy(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .agg(count(lit(1)).as("n_common"))
    // full (pre-cap) distinct-shingle count per doc, derived from the
    // exploded postings instead of `sets` — shingles are distinct per
    // doc, so count(postings) == size(sh), and this path reuses the
    // spread exchange (ReusedExchange) where a `sets`-based projection
    // would re-run the whole tokenize+shingle pipeline a second time
    val sizes = inv0.groupBy("id").agg(count(lit(1)).as("n_sh"))
    common
      .join(sizes.withColumnRenamed("id", "id_a")
        .withColumnRenamed("n_sh", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b")
        .withColumnRenamed("n_sh", "n_b"), "id_b")
      .withColumn("jaccard", round(
        col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"), 5))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "n_common", "n_a", "n_b", "jaccard")
  }

  /** Per-document duplicated-span statistics — the data behind
    * substring-level dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better": repeated SPANS inflate
    * memorization even when whole documents differ). For each doc:
    * how many of its positional token n-grams also occur in at least
    * `minDocs − 1` OTHER documents, and the fraction of positions
    * those cover. `dup_fraction` is the curation signal (gate or
    * clip); unlike the pairwise families nothing here is quadratic —
    * a document with a hot boilerplate span just counts it.
    *
    * Plan: positional n-grams exploded (with duplicates — occurrences
    * matter here, unlike [[shingles]]), cross-doc frequency from a
    * (gram, doc)-distinct + gram groupBy (two uniform map-side-
    * combined shuffles), then one gram equi-join back and per-doc
    * roll-ups. No pair join, no window.
    */
  def duplicateSpanStats(df: DataFrame, n: Int = 5, minDocs: Long = 2L,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val grams = spread(df, textCol)
      .withColumn("__toks", TextStats.tokens(col(textCol)))
      .select(col(idCol).as("id"),
        explode_outer(ngrams(col("__toks"), n)).as("gram"))
      .filter(col("gram").isNotNull) // see ngramJaccardPairs: avoids inferred scan filter
    val dup = grams.select("id", "gram").distinct()
      .groupBy("gram").agg(count(lit(1)).as("gram_docs"))
      .filter(col("gram_docs") >= minDocs)
      .select("gram")
    val perDoc = grams.groupBy("id").agg(count(lit(1)).as("n_ngrams"))
    val dupPerDoc = grams.join(dup, "gram")
      .groupBy("id").agg(count(lit(1)).as("n_dup_ngrams"))
    perDoc.join(dupPerDoc, Seq("id"), "left")
      .withColumn("n_dup_ngrams", coalesce(col("n_dup_ngrams"), lit(0L)))
      // ngrams emits >= 1 gram even for short docs (degenerate
      // window), so the denominator is never zero
      .select(col("id").as(idCol), col("n_ngrams"), col("n_dup_ngrams"),
        round(col("n_dup_ngrams").cast("double") /
          col("n_ngrams").cast("double"), 5).as("dup_fraction"))
  }

  /** Substring-level dedup REWRITE — the surgical counterpart of
    * [[duplicateSpanStats]] (Lee et al. 2022: remove the repeated
    * SPAN, keep the document). Every token position covered by a full
    * n-gram window that occurs in ≥ `minDocs` documents is dropped;
    * the survivors are re-joined in order. Docs shorter than `n` have
    * no removable span and pass through whole; a doc that is pure
    * boilerplate comes back empty (kept, auditable via `n_removed`).
    *
    * Output: (idCol, n_tokens, n_removed, clean_text).
    *
    * Scale shape: inverted-index only — positional windows explode to
    * O(tokens) rows, hot grams come from one (gram, doc)-distinct +
    * one gram groupBy (both map-side combined), coverage is one gram
    * equi-join back + an n-row offset explode, and the rebuild is one
    * id-keyed groupBy (collect_list bounded by document length, the
    * same bound as any per-doc op). Nothing is quadratic in corpus
    * size; a span shared by a million documents just counts.
    */
  def stripDuplicateSpans(df: DataFrame, n: Int = 5, minDocs: Long = 2L,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val staged = spread(df, textCol)
      .withColumn("__toks", TextStats.tokens(col(textCol)))
      .select(col(idCol).as("id"), col("__toks"))
    // (id, pos, token) with 1-based positions (the oracle's list
    // convention, SURVEY.md §8.3 rule 8)
    val pos = staged
      .select(col("id"), posexplode_outer(col("__toks")).as(Seq("p0", "token")))
      .filter(col("token").isNotNull)
      .select(col("id"), (col("p0") + 1).as("pos"), col("token"))
    // full n-token windows with their start position; the trailing
    // truncated windows are filtered out (pos ≤ len − n + 1)
    val windows = transform(
      sequence(lit(1), greatest(size(col("__toks")), lit(1))),
      i => struct(i.as("pos"),
        concat_ws(" ", slice(col("__toks"), i, lit(n))).as("gram")))
    val grams = staged
      .select(col("id"), size(col("__toks")).as("sz"),
        explode_outer(windows).as("pg"))
      .filter(col("pg").isNotNull && col("pg.pos") <= col("sz") - (n - 1))
      .select(col("id"), col("pg.pos").as("pos"), col("pg.gram").as("gram"))
    val hot = grams.select("id", "gram").distinct()
      .groupBy("gram").agg(count(lit(1)).as("gd"))
      .filter(col("gd") >= minDocs).select("gram")
    val covered = grams.join(hot, "gram")
      .select(col("id"),
        explode_outer(sequence(col("pos"), col("pos") + (n - 1))).as("cpos"))
      .filter(col("cpos").isNotNull)
      .distinct()
    // covered shares pos's lineage (both derive from `staged`), so
    // the join keys are aliased explicitly — the bare pos("id") ===
    // covered("id") form resolves to ONE attribute and relies on
    // Spark's self-join disambiguation heuristic
    val kept = pos.as("p").join(covered.as("c"),
      col("p.id") === col("c.id") && col("p.pos") === col("c.cpos"),
      "left_anti")
    val rebuilt = kept.groupBy("id")
      .agg(count(lit(1)).as("n_kept"),
        // collect_list order is partition-arrival nondeterministic;
        // sorting the (pos, token) structs restores document order
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("token")))),
          x => x.getField("token"))).as("clean_text"))
    staged.select(col("id"), size(col("__toks")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Driver-side md5 hex — the ONE copy of the hash that seeds every
    * deterministic parameter derivation (minhash affine maps,
    * hyperplane weights); package-shared so Similarity cannot drift
    * from it. Must agree byte-for-byte with SQL `md5()`.
    */
  private[ext] def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Affine minhash family parameters: coordinate s maps a 32-bit
    * shingle hash h to (a_s·h + b_s) mod 2³². a_s is odd and < 2²⁰ so
    * a_s·h < 2⁵² stays exact in 64-bit (and IEEE-double) arithmetic
    * on any engine. Derived from md5 of the seed — no RNG state, the
    * oracle twin embeds the identical constants.
    */
  def minHashParams(k: Int): Seq[(Long, Long)] = (0 until k).map { s =>
    val a = (java.lang.Long.parseLong(md5Hex(s"a|$s").take(8), 16) & 0xFFFFFL) | 1L
    val b = java.lang.Long.parseLong(md5Hex(s"b|$s").take(8), 16)
    (a, b)
  }

  /** MinHash signatures as (id, sig: array<long>) — k affine min-hashes
    * over the document's shingle set.
    *
    * Dataflow shape matters here: explode shingles → hash each ONCE
    * (one md5 per shingle) → k cheap integer affine maps → groupBy(id)
    * with k `min` aggregates. The naive nested-higher-order-function
    * form (min over md5(seed‖shingle) per seed) recomputes a
    * cryptographic hash k× per shingle AND evaluates interpreted —
    * measured 30-70× slower. The explode/groupBy form is also the
    * 100 TB shape: map-side combine reduces each partition to one
    * k-vector per doc before the (uniform, id-keyed) shuffle.
    */
  def minHashSignatures(df: DataFrame, n: Int, k: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val params = minHashParams(k)
    val exploded = withShingleSet(df, n, textCol, "__sh")
      .select(col(idCol).as("id"), explode_outer(col("__sh")).as("shingle"))
      .filter(col("shingle").isNotNull) // see ngramJaccardPairs: avoids inferred scan filter
      .withColumn("h32", tokenHash32(col("shingle")))
    val mins = params.zipWithIndex.map { case ((a, b), i) =>
      min((col("h32") * lit(a) + lit(b)).bitwiseAND(lit(0xFFFFFFFFL))).as(s"m$i")
    }
    exploded.groupBy("id")
      .agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** LSH band keys: the signature split into `bands` contiguous rows
    * of k/bands, each band hashed to one key (md5 of the joined
    * band + band index, so bands can't collide across positions).
    */
  def lshBandKeys(signature: Column, k: Int, bands: Int): Column = {
    val r = k / bands
    array((0 until bands).map { b =>
      md5(concat_ws("|", lit(b).cast("string"),
        concat_ws("", transform(slice(signature, b * r + 1, r), x => x.cast("string")))))
    }: _*)
  }

  /** MinHash+LSH near-dup pairs, exact-Jaccard-verified.
    * Output: (id_a, id_b, jaccard) with jaccard ≥ `threshold`.
    *
    * Pipeline: signature (map-only) → explode band keys → self-join
    * on band key (shuffle keyed by band hash; only colliding docs
    * meet) → distinct candidate pairs → verify with exact Jaccard on
    * the shingle sets. The verification join carries the shingle
    * arrays only for candidate pairs — at 100 TB the candidate set is
    * ~(true near-dups + band false positives), many orders below
    * docs².
    */
  /** LSH-banded candidate pairs (id_a < id_b, distinct): the shared
    * front half of every MinHash-verified family — band keys collide
    * ⇒ candidate. The equi-join on band key is what keeps the pair
    * count collision-sized instead of n².
    */
  def bandedCandidates(df: DataFrame, n: Int, k: Int, bands: Int,
      idCol: String, textCol: String): DataFrame = {
    val sigs = minHashSignatures(df, n, k, idCol, textCol)
    val buckets = sigs.select(col("id"),
      explode(lshBandKeys(col("sig"), k, bands)).as("bk"))
    buckets.as("l")
      .join(buckets.as("r"), col("l.bk") === col("r.bk") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
  }

  /** One-sided CONTAINMENT near-dup pairs: `n_common / min(n_a, n_b)`
    * over the same inverted shingle index as [[ngramJaccardPairs]] —
    * the quote/excerpt detector. A short document fully embedded in a
    * long one scores containment ≈ 1 while its Jaccard stays low
    * (the union is dominated by the long side), so symmetric-Jaccard
    * dedup systematically misses subsumption; containment is the
    * standard fix (Broder's resemblance/containment pair).
    * Output: (id_a, id_b, n_common, n_a, n_b, containment) with
    * id_a < id_b and containment ≥ `threshold`.
    *
    * Same scale shape as the Jaccard family: the inverted index with
    * the stop-shingle cap bounds the pair count by shingle
    * collisions, never |docs|².
    */
  def containmentPairs(df: DataFrame, n: Int, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text",
      maxDocFreq: Long = 0L): DataFrame =
    ngramJaccardPairs(df, n, 0.0, idCol, textCol, maxDocFreq)
      .withColumn("containment", round(col("n_common").cast("double") /
        least(col("n_a"), col("n_b")).cast("double"), 5))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "n_common", "n_a", "n_b", "containment")

  /** PERSISTED near-dup index: the corpus's band keys and shingle
    * sets written once at ingest, so a NEW batch probes for near-dups
    * without re-signaturing the corpus — the incremental-ingest
    * sibling of [[minHashNearDupPairs]] (and the near-dup counterpart
    * of the Bloom exact-dedup gate). Layout: `dir/bands`
    * (id, bk) and `dir/shingles` (id, sh).
    *
    * At 100 TB the bands relation is k-hashes-per-doc small and the
    * probe is one band-keyed equi-join (batch side broadcastable for
    * typical ingest batches); the shingle sets are fetched only for
    * candidate pairs via the id-keyed verify join.
    */
  def writeNearDupIndex(docs: DataFrame, dir: String, n: Int = 3,
      k: Int = 16, bands: Int = 4, idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    val sigs = minHashSignatures(docs, n, k, idCol, textCol)
    sigs.select(col("id"),
      explode(lshBandKeys(col("sig"), k, bands)).as("bk"))
      .write.mode("overwrite").parquet(s"$dir/bands")
    withShingleSet(docs, n, textCol, "sh")
      .select(col(idCol).as("id"), col("sh"))
      .write.mode("overwrite").parquet(s"$dir/shingles")
  }

  /** Probe a [[writeNearDupIndex]] index with a new batch: exact-
    * Jaccard-verified (corpus_id, batch_id, jaccard) pairs. The
    * batch's signatures/shingles are computed here (it is new data);
    * the corpus side comes entirely from the index.
    */
  def probeNearDupIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, n: Int = 3, k: Int = 16,
      bands: Int = 4, threshold: Double = 0.8, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val idxBands = spark.read.parquet(s"$dir/bands")
    val idxSh = spark.read.parquet(s"$dir/shingles")
    val bBands = minHashSignatures(batch, n, k, idCol, textCol)
      .select(col("id").as("batch_id"),
        explode(lshBandKeys(col("sig"), k, bands)).as("bk"))
    val cand = idxBands.join(broadcast(bBands), "bk")
      .select(col("id").as("corpus_id"), col("batch_id"))
      .distinct()
    val bSh = withShingleSet(batch, n, textCol, "sh")
      .select(col(idCol).as("batch_id"), col("sh").as("sh_b"))
    cand
      .join(idxSh.select(col("id").as("corpus_id"), col("sh").as("sh_a")),
        "corpus_id")
      .join(broadcast(bSh), "batch_id")
      .withColumn("jaccard", round(
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"), 5))
      .filter(col("jaccard") >= threshold)
      .select("corpus_id", "batch_id", "jaccard")
  }

  def minHashNearDupPairs(df: DataFrame, n: Int = 3, k: Int = 16,
      bands: Int = 4, threshold: Double = 0.8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val candidates = bandedCandidates(df, n, k, bands, idCol, textCol)
    val sh = withShingleSet(df, n, textCol, "sh")
      .select(col(idCol).as("id"), col("sh"))
    candidates
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard", round(
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"), 5))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** LSH STAGE audit: precision/recall of the banding candidate
    * generator against the exact-Jaccard truth relation — one row
    * (n_true, n_candidates, n_hits, precision, recall). The number a
    * dedup pipeline must publish before anyone trusts its recall:
    * banding with k/bands trades a known collision probability curve
    * for the all-pairs cost, and this measures where the corpus
    * actually lands on it (recall = probability a true ≥ τ pair
    * collided in some band; precision = how much verify work the
    * candidates waste).
    *
    * Truth = [[ngramJaccardPairs]] with the repo's stop-shingle cap
    * (the q_dedup_ngram_jaccard convention); candidates =
    * [[bandedCandidates]] pre-verification. Counts are integers; the
    * two ratios are single divisions rounded at 5 (NULL when the
    * denominator is empty). Both inputs are established bounded
    * shapes (inverted-index truth, collision-sized candidates); the
    * audit joins them pair-keyed and rolls up to one row.
    */
  def lshStageAudit(df: DataFrame, n: Int = 3, k: Int = 16,
      bands: Int = 4, threshold: Double = 0.8, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val cand = bandedCandidates(df, n, k, bands, idCol, textCol)
    val truth = ngramJaccardPairs(df, n, threshold, idCol, textCol,
      maxDocFreq = NgramStopShingleCap).select("id_a", "id_b")
    val nCand = cand.agg(count(lit(1)).as("n_candidates"))
    val nTrue = truth.agg(count(lit(1)).as("n_true"))
    val nHit = cand.join(truth, Seq("id_a", "id_b"))
      .agg(count(lit(1)).as("n_hits"))
    nTrue.crossJoin(broadcast(nCand)).crossJoin(broadcast(nHit))
      .select(col("n_true"), col("n_candidates"), col("n_hits"),
        when(col("n_candidates") > 0,
          round(col("n_hits").cast("double") /
            col("n_candidates").cast("double"), 5))
          .otherwise(lit(null).cast("double")).as("precision"),
        when(col("n_true") > 0,
          round(col("n_hits").cast("double") /
            col("n_true").cast("double"), 5))
          .otherwise(lit(null).cast("double")).as("recall"))
  }

  /** Edit-distance-verified near-dups: the MinHash/LSH candidate set
    * re-scored with Levenshtein distance over the CANONICALIZED text
    * ([[TextStats.normalizeText]]) — the verifier of choice when the
    * duplication you hunt is small in-place edits (typo fixes,
    * template fills) rather than block shuffles, where set-Jaccard
    * under-reports similarity. Keeps pairs with
    * `dist · den <= max_len · num` (relative edit ratio as an exact
    * integer cutoff).
    *
    * Scale: Levenshtein is O(len²) per pair, so it must NEVER run
    * all-pairs — here it runs only on band collisions, the same
    * guard as the Jaccard verify. Output:
    * (id_a, id_b, dist, max_len).
    */
  def editDistanceNearDups(df: DataFrame, n: Int = 3, k: Int = 16,
      bands: Int = 4, maxRatioNum: Int = 1, maxRatioDen: Int = 5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val candidates = bandedCandidates(df, n, k, bands, idCol, textCol)
    val norm = df.select(col(idCol).as("id"),
      TextStats.normalizeText(col(textCol)).as("nt"))
    candidates
      .join(norm.select(col("id").as("id_a"), col("nt").as("nt_a")), "id_a")
      .join(norm.select(col("id").as("id_b"), col("nt").as("nt_b")), "id_b")
      .withColumn("dist", levenshtein(col("nt_a"), col("nt_b")))
      .withColumn("max_len", greatest(length(col("nt_a")), length(col("nt_b"))))
      .filter(col("dist") * maxRatioDen <= col("max_len") * maxRatioNum)
      .select("id_a", "id_b", "dist", "max_len")
  }

  /** Sorted-neighborhood blocking (Hernández–Stolfo) for record
    * linkage: candidate pairs are records whose CANONICALIZED keys
    * ([[TextStats.normalizeText]]) sort within `window` positions of
    * each other inside a shared `blockLen`-char prefix block —
    * "nearly the same name lands nearby in sorted order", the classic
    * complement to set-based LSH for SHORT keys (names, titles, SKUs)
    * whose few tokens give MinHash nothing to sketch. Each pair
    * carries the matcher features (n_shared, n_union, jaccard over
    * distinct tokens); the blocking emits every window pair — the
    * match DECISION (threshold, classifier) is the caller's, exactly
    * as LSH banding emits collisions for the verifier.
    *
    * Determinism: sort order is (normalized key, id) — total. The
    * jaccard division is single with token-count denominators (§8.3
    * rule 4's safe class at short-key cardinalities).
    *
    * Scale shape: NO block self-join — each record explodes exactly
    * `window − 1` probe ranks joined equi on (block, rank), so
    * candidates are |records|·(window−1) by construction, LINEAR
    * regardless of block skew (the naive block² join is quadratic in
    * the biggest block). The rank window is partitioned by block.
    * Output: (id_a, id_b, n_shared, n_union, jaccard), id order.
    */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String,
      keyCol: String, window: Int, blockLen: Int): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    require(blockLen >= 1, s"blockLen must be >= 1, got $blockLen")
    val base = df.select(col(idCol).as("id"),
        TextStats.normalizeText(col(keyCol)).as("__k"))
      .withColumn("__blk", substring(col("__k"), 1, blockLen))
      .withColumn("__toks", array_distinct(TextStats.tokens(col("__k"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__blk").orderBy(col("__k"), col("id"))
    val ranked = Share.checkpoint(base.withColumn("__r", row_number().over(w)))
    val probes = ranked
      .withColumn("__rb",
        explode(sequence(col("__r") + 1, col("__r") + lit(window - 1))))
      .select(col("__blk"), col("id").as("id_a"), col("__toks").as("__ta"),
        col("__rb").as("__r"))
    val hits = probes.join(
      ranked.select(col("__blk"), col("__r"), col("id").as("id_b"),
        col("__toks").as("__tb")),
      Seq("__blk", "__r"))
    hits
      .withColumn("n_shared",
        size(array_intersect(col("__ta"), col("__tb"))).cast("long"))
      .withColumn("n_union",
        (size(col("__ta")) + size(col("__tb"))).cast("long") - col("n_shared"))
      .select(col("id_a"), col("id_b"), col("n_shared"), col("n_union"),
        round(col("n_shared").cast("double") / col("n_union").cast("double"), 5)
          .as("jaccard"))
      .orderBy("id_a", "id_b")
  }

  /** Fellegi–Sunter record-linkage scoring over the
    * [[sortedNeighborhoodPairs]] candidate set: each candidate pair
    * gets a log-likelihood-ratio match score
    * Σ_f [agree(f) ? ln(m/u_f) : ln((1−m)/(1−u_f))] and a
    * match / possible / non_match verdict — the probabilistic
    * decision layer (Fellegi & Sunter 1969) that blocking alone
    * lacks. Agreement weights are FREQUENCY-BASED (the value-specific
    * refinement): agreeing on value v of field f earns
    * ln(m / (c_v/n)) — rare values earn large weights, a
    * half-the-table value almost none — while disagreement costs the
    * field's global ln((1−m)/(1−u_f)) with u_f = Σ_v p_v² (the
    * chance two RANDOM records agree on f at all). m (agreement
    * probability among true matches) is the caller's exact rational
    * mNum/mDen.
    *
    * Determinism (§8.3): every weight ingredient is an exact integer
    * aggregate (c_v, n, Σ c_v²); each weight is ONE double division
    * of exact DECIMAL(38,0) products through the scale-9
    * quantized-ln rule (the NB-llh convention), so per-pair scores
    * are exact DECIMAL sums of ≤ |fields| quantized terms; verdict
    * thresholds compare DECIMALS (never a double re-blend); ties
    * inherit the candidate generator's (id, id) order.
    *
    * Scale shape: |fields| value-histogram aggregates (map-side
    * combinable, bounded by each field's value domain) broadcast
    * into the pair stream; the attribute attach is two id-keyed
    * equi-joins against the record relation; everything else is
    * map-only over candidate pairs — which scale with BLOCKS, never
    * |records|².
    */
  def linkageScores(df: DataFrame, idCol: String, keyCol: String,
      fields: Seq[String], window: Int, blockLen: Int,
      mNum: Int = 9, mDen: Int = 10,
      upper: BigDecimal = BigDecimal("3.0"),
      lower: BigDecimal = BigDecimal("0.0")): DataFrame = {
    require(fields.nonEmpty, "need at least one comparison field")
    require(mNum >= 1 && mNum < mDen,
      s"m must be a proper fraction, got $mNum/$mDen")
    require(upper >= lower, "upper threshold must be >= lower")
    val dec189 = DecimalType(18, 9)
    val dec380 = DecimalType(38, 0)
    // per-field value histograms: c_v per value (bounded domains),
    // with the field's n and global chance agreement Σc²/n² attached
    val valueWeights = fields.map { f =>
      val vc = df.groupBy(col(f)).agg(count(lit(1)).as("__c"))
      val tot = vc.agg(
        sum(col("__c").cast(dec380) * col("__c")).as("__ssq"),
        sum(col("__c").cast(dec380)).as("__n"))
      vc.crossJoin(broadcast(tot)).select(
        col(f).as(s"__a_$f"),
        // value-specific agreement: ln(m·n / c_v)
        round(log((lit(mNum).cast(dec380) * col("__n")).cast("double") /
          (lit(mDen).cast(dec380) * col("__c")).cast("double")), 9)
          .cast(dec189).as(s"__wa_$f"),
        // field-global disagreement: ln((1−m)·n² / (n²−Σc²))
        round(log((lit(mDen - mNum).cast(dec380) * col("__n") * col("__n"))
          .cast("double") /
          (lit(mDen).cast(dec380) *
            (col("__n") * col("__n") - col("__ssq"))).cast("double")), 9)
          .cast(dec189).as(s"__wd_$f"))
    }
    val pairs = sortedNeighborhoodPairs(df, idCol, keyCol, window, blockLen)
      .select("id_a", "id_b")
    val aSide = df.select(col(idCol).as("id_a") +:
      fields.map(f => col(f).as(s"__a_$f")): _*)
    val bSide = df.select(col(idCol).as("id_b") +:
      fields.map(f => col(f).as(s"__b_$f")): _*)
    val scoredFields = fields.map { f =>
      when(col(s"__a_$f") === col(s"__b_$f"), col(s"__wa_$f"))
        .otherwise(col(s"__wd_$f"))
    }
    val agreeCount = fields.map { f =>
      when(col(s"__a_$f") === col(s"__b_$f"), 1L).otherwise(0L)
    }.reduce(_ + _)
    val score = scoredFields.reduce(_ + _)
    valueWeights.foldLeft(pairs.join(aSide, "id_a").join(bSide, "id_b")) {
        (acc, vw) =>
          // null-safe equi-join: a null field value still matches its
          // own histogram row, so no candidate pair is dropped
          acc.join(broadcast(vw), acc(vw.columns.head) <=> vw(vw.columns.head))
            .drop(vw(vw.columns.head))
      }
      .withColumn("__score", score)
      .select(col("id_a"), col("id_b"), agreeCount.as("n_agree"),
        round(col("__score").cast("double"), 5).as("score"),
        when(col("__score") > lit(upper).cast(dec189), lit("match"))
          .when(col("__score") >= lit(lower).cast(dec189), lit("possible"))
          .otherwise(lit("non_match")).as("verdict"))
      .orderBy("id_a", "id_b")
  }

  /** EM estimation of the Fellegi–Sunter parameters (Winkler 1988):
    * instead of ASSUMING the m-probability like [[linkageScores]],
    * estimate per-field m_f (P[agree | match]), u_f
    * (P[agree | non-match]) and the match proportion λ from the
    * candidate pairs themselves, under the conditional-independence
    * model. E-step: each agreement PATTERN γ ∈ {0,1}^F gets
    * g(γ) = λ·Π m^γ(1−m)^(1−γ) / (λ·Π m… + (1−λ)·Π u^γ(1−u)^(1−γ));
    * M-step: m_f = Σ g·γ_f·n / Σ g·n (and the mirrored forms for u_f
    * and λ). The unsupervised calibration step that makes the linkage
    * score thresholds principled rather than hand-tuned.
    *
    * Determinism (§8.3): the comparison vectors collapse to ≤ 2^F
    * pattern rows FIRST (one map-side-combined aggregate), so EM
    * arithmetic never touches pair-count-sized data. Per round, the
    * pattern likelihoods are fixed LEFT-FOLD double products of the
    * scale-9 decimal parameters (no accumulation — one product chain
    * per pattern row), g is quantized back to DECIMAL(18,9), the
    * M-step numerators/denominators are EXACT decimal·integer sums
    * over the ≤ 2^F rows, and each new parameter is ONE double
    * division rounded to scale 9 — bit-identical across engines and
    * partitionings. Rounds are materialized fresh leaves.
    *
    * Scale shape: one blocked-pair scan + one pattern aggregate
    * (map-side combined, output ≤ 2^F rows); every EM round runs on
    * the pattern relation only. At 100 TB the candidate generation
    * ([[sortedNeighborhoodPairs]]) dominates; EM itself is
    * metadata-sized. Returns one row per field:
    * (field, m, u, lambda, n_pairs), field order.
    */
  def linkageEm(df: DataFrame, idCol: String, keyCol: String,
      fields: Seq[String], window: Int, blockLen: Int,
      iters: Int = 5): DataFrame = {
    require(fields.nonEmpty, "need at least one comparison field")
    require(fields.size <= 8, "pattern space is 2^F — keep F <= 8")
    require(iters >= 1, "iters must be >= 1")
    val dec189 = DecimalType(18, 9)
    val pairs = sortedNeighborhoodPairs(df, idCol, keyCol, window, blockLen)
      .select("id_a", "id_b")
    val aSide = df.select(col(idCol).as("id_a") +:
      fields.map(f => col(f).as(s"__a_$f")): _*)
    val bSide = df.select(col(idCol).as("id_b") +:
      fields.map(f => col(f).as(s"__b_$f")): _*)
    val gammaCols = fields.map { f =>
      when(col(s"__a_$f") === col(s"__b_$f"), 1).otherwise(0).as(s"__g_$f")
    }
    val gam = Share.checkpoint(
      pairs.join(aSide, "id_a").join(bSide, "id_b")
        .groupBy(gammaCols: _*).agg(count(lit(1)).as("__n")))
    def d9(s: String) = lit(new java.math.BigDecimal(s)).cast(dec189)
    var state = Share.checkpoint(df.sparkSession.range(1).select(
      fields.map(f => d9("0.9").as(s"__m_$f")) ++
        fields.map(f => d9("0.1").as(s"__u_$f")) :+
        d9("0.1").as("__p"): _*))
    for (_ <- 1 to iters) {
      val joined = gam.crossJoin(broadcast(state))
      // fixed left-fold double product chains — one per pattern row
      val ad = fields.foldLeft(col("__p").cast("double")) { (acc, f) =>
        acc * when(col(s"__g_$f") === 1, col(s"__m_$f").cast("double"))
          .otherwise(lit(1.0) - col(s"__m_$f").cast("double"))
      }
      val bd = fields.foldLeft(lit(1.0) - col("__p").cast("double")) {
        (acc, f) =>
          acc * when(col(s"__g_$f") === 1, col(s"__u_$f").cast("double"))
            .otherwise(lit(1.0) - col(s"__u_$f").cast("double"))
      }
      val scored = joined
        .withColumn("__gq", round(ad / (ad + bd), 9).cast(dec189))
      // M-step: exact decimal sums over <= 2^F rows, one double
      // division per parameter
      def ratio9(num: Column, den: Column): Column =
        round(num.cast("double") / den.cast("double"), 9).cast(dec189)
      // §8.3 rule 11: DECIMAL(18,9) × LONG asks for precision > 38
      // and Spark silently DROPS SCALE — cast the integer factors to
      // the narrowest sufficient decimals so the exact scale survives
      // (γ is one bit; pattern counts are bounded by the candidate-
      // pair count, comfortably inside 10^14)
      val nD = col("__n").cast(DecimalType(14, 0))
      def gD(f: String) = col(s"__g_$f").cast(DecimalType(1, 0))
      val aggCols = Seq(
        sum(col("__gq") * nD).as("__sg"),
        sum((lit(1.0).cast(dec189) - col("__gq")) * nD).as("__sn"),
        sum(col("__n")).as("__tot")) ++
        fields.flatMap(f => Seq(
          sum(col("__gq") * gD(f) * nD).as(s"__sgf_$f"),
          sum((lit(1.0).cast(dec189) - col("__gq")) * gD(f) * nD)
            .as(s"__snf_$f")))
      val sums = scored.agg(aggCols.head, aggCols.tail: _*)
      state = Share.checkpoint(sums.select(
        fields.map(f =>
          ratio9(col(s"__sgf_$f"), col("__sg")).as(s"__m_$f")) ++
          fields.map(f =>
            ratio9(col(s"__snf_$f"), col("__sn")).as(s"__u_$f")) :+
          ratio9(col("__sg"), col("__tot")).as("__p"): _*))
    }
    val nPairs = gam.agg(sum(col("__n")).as("__tot"))
    val wide = state.crossJoin(broadcast(nPairs))
    fields.map { f =>
      wide.select(lit(f).as("field"),
        col(s"__m_$f").cast("double").as("m"),
        col(s"__u_$f").cast("double").as("u"),
        col("__p").cast("double").as("lambda"),
        col("__tot").as("n_pairs"))
    }.reduce(_ unionByName _).orderBy("field")
  }

  /** Cross-corpus near-dup pairs: MinHash+LSH between TWO corpora —
    * the "dedup a new crawl against the existing training set"
    * operation (same banding machinery as [[minHashNearDupPairs]],
    * but candidates meet across corpora only). Output:
    * (id_a ∈ left, id_b ∈ right, jaccard ≥ threshold).
    *
    * Scale shape: each side is signed independently (map-only per
    * side), candidates meet on the band-key equi-join — the shuffle
    * is keyed by band hash and sized by collisions, never |A|·|B| —
    * and exact-Jaccard verification touches candidate pairs only.
    */
  def crossCorpusNearDups(left: DataFrame, right: DataFrame, n: Int = 3,
      k: Int = 16, bands: Int = 4, threshold: Double = 0.8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    def buckets(df: DataFrame) =
      minHashSignatures(df, n, k, idCol, textCol).select(col("id"),
        explode(lshBandKeys(col("sig"), k, bands)).as("bk"))
    val candidates = buckets(left).as("l")
      .join(buckets(right).as("r"), col("l.bk") === col("r.bk"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
    def sh(df: DataFrame, side: String) =
      withShingleSet(df, n, textCol, "sh")
        .select(col(idCol).as(s"id_$side"), col("sh").as(s"sh_$side"))
    candidates
      .join(sh(left, "a"), "id_a")
      .join(sh(right, "b"), "id_b")
      .withColumn("jaccard", round(
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"), 5))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** 32-bit token hash: the first 8 hex digits of md5, parsed base-16.
    * Identical bytes on any md5-capable engine.
    */
  def tokenHash32(token: Column): Column =
    conv(substring(md5(token), 1, 8), 16, 10).cast("long")

  /** 64-bit token hash from the first 16 hex digits of md5, assembled
    * from two 32-bit halves: (hi − 2³¹)·2³² + lo. The hi half is
    * re-biased by 2³¹ BEFORE the scale-up so no intermediate exceeds
    * signed-64 range on any engine (a raw hi·2³² overflows for
    * hi ≥ 2³¹, and 64-bit unsigned hex parses to NULL past 2⁶³).
    * Relative to the raw md5 prefix this deterministically flips bit
    * 63 — irrelevant for a hash, identical on every engine.
    */
  def tokenHash64(token: Column): Column = {
    val hi = conv(substring(md5(token), 1, 8), 16, 10).cast("long")
    val lo = conv(substring(md5(token), 9, 8), 16, 10).cast("long")
    (hi - lit(2147483648L)) * lit(4294967296L) + lo
  }

  /** 64-bit SimHash per document: explode tokens (duplicates kept —
    * SimHash weights by term frequency), hash each, and for every bit
    * position accumulate +1/-1; the sign vector re-packs into a long.
    * One explode + one groupBy(id) shuffle; the 64 per-bit sums are a
    * single map-side-combined aggregate row per document.
    *
    * 64 bits (not 32) is the corpus-scale shape: at 10⁹ docs a 32-bit
    * simhash loses Hamming discrimination, and its byte blocks give
    * only 4×2⁸ LSH buckets — each bucket holds ~n/1024 docs and the
    * block self-join degenerates quadratically. 64-bit hashes with
    * 16-bit blocks give 4×2¹⁶ buckets (see [[simHashNearDupPairs]]).
    */
  def withSimHash(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val toks = spread(df, textCol).select(col(idCol),
      explode_outer(TextStats.tokens(col(textCol))).as("token"))
      .filter(col("token").isNotNull) // avoids inferred re-tokenizing scan filter
    val h = tokenHash64(col("token"))
    val bitSums = (0 until 64).map { j =>
      // (h >> j) & 1 extracts bit j under arithmetic OR logical shift
      // (the mask kills sign-extension) — same on every engine
      sum(shiftright(h, j).bitwiseAND(lit(1L)) * lit(2L) - lit(1L)).as(s"b$j")
    }
    // bit 63's weight is Long.MinValue; summing it LAST keeps every
    // partial sum in signed-64 range (positives first ≤ 2⁶³−1, then
    // one negative add — no overflow under ANSI/checked arithmetic)
    val packed = (0 until 64).map { j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    toks.groupBy(col(idCol))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol), packed.as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ `maxHamming`
    * (must be ≤ 3 for the 4-block pigeonhole to be exhaustive).
    * Candidates share at least one exact 16-bit block of the 64-bit
    * hash (shuffle keyed by (block index, block value) — 4×2¹⁶
    * distinct keys, so at 10⁹ docs a bucket holds ~n/262144 docs and
    * the self-join stays near-linear); verification is
    * `bit_count(xor)` — pure codegen'd bit arithmetic.
    */
  def simHashNearDupPairs(df: DataFrame, maxHamming: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(maxHamming <= 3, "4-block LSH is only exhaustive for Hamming distance <= 3")
    val hashes = withSimHash(df, idCol, textCol)
      .select(col(idCol).as("id"), col("simhash"))
    val blocks = hashes.select(col("id"), col("simhash"),
      explode(array((0 until 4).map { b =>
        concat_ws(":", lit(b).cast("string"),
          shiftright(col("simhash"), b * 16).bitwiseAND(lit(65535L)).cast("string"))
      }: _*)).as("block"))
    blocks.as("l")
      .join(blocks.as("r"), col("l.block") === col("r.block") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        bit_count(col("l.simhash").bitwiseXOR(col("r.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Connected components over an undirected candidate-pair graph by
    * bounded min-label propagation: every node starts labeled with its
    * own id; each round every node takes the min of its own and its
    * neighbors' labels; converged when no label changes. The final
    * label is the component's MINIMUM node id — deterministic, and the
    * natural canonical-survivor key for dedup.
    *
    * Scale shape — two regimes, switched on the MATERIALIZED edge
    * count like Spark's own broadcast-vs-shuffle join choice:
    *
    *  - ≤ [[SmallGraphMaxEdges]]: the edge list is driver-collected
    *    (id pairs only — never text or vectors) and labeled by exact
    *    union-find with path compression. One job instead of
    *    ~log(diameter) rounds of (2 joins + checkpoint + probe) —
    *    near-dup pair graphs are usually this small even when the
    *    corpus is 100 TB, because the pair graph scales with
    *    DUPLICATES, not documents.
    *  - above it: bounded min-label propagation — each round is two
    *    equi-joins (edges ⋈ labels for neighbor propagation, labels ⋈
    *    labels for the pointer jump) + one map-side-combined
    *    min-aggregate; no driver data. The pointer jump makes rounds
    *    O(log diameter) rather than O(diameter); `maxIter` is a
    *    safety bound, not a tuning knob. Loop state is
    *    [[materialize]]d each round — see that method for why plain
    *    `localCheckpoint` is NOT enough here.
    *
    * Both paths assign every node the MINIMUM id reachable from it,
    * so the regime switch can never change results.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 20, idCol: String = "id",
      srcCol: String = "id_a", dstCol: String = "id_b",
      smallGraphMaxEdges: Long = SmallGraphMaxEdges): DataFrame = {
    // materialize the (usually expensive) edge pipeline ONCE — without
    // this every round's join re-derives the full upstream candidate
    // generation (for nearDupClusters: the whole MinHash+LSH+verify
    // pipeline, measured ~3× the entire query's cost at 20 rounds)
    val sym = Share.checkpoint(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .union(edges.select(col(dstCol).as("src"), col(srcCol).as("dst"))))
    // small-graph fast path — the same size-based regime switch Spark
    // itself applies to joins (broadcast vs shuffle). A near-dup pair
    // graph is usually orders of magnitude smaller than the corpus;
    // when the materialized edge list fits comfortably on the driver
    // (≤ SmallGraphMaxEdges undirected edges — see its scaladoc for
    // the heap accounting), exact union-find beats ~log(diameter)
    // distributed rounds costing 2 joins + checkpoint + probe each.
    // Labels are identical by definition: both paths assign every
    // node the MINIMUM id reachable from it. The count() reads the
    // already-checkpointed RDD — one cheap job, no recompute.
    val symCount = sym.count()
    if (symCount <= 2L * smallGraphMaxEdges) {
      val spark = sym.sparkSession
      import spark.implicits._
      // LongMap: primitive-keyed, no per-entry boxing — the driver
      // footprint is what sizes SmallGraphMaxEdges
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      // sym holds each edge in both directions; union-find needs only
      // one, so collect the src<dst half — half the driver transfer
      sym.filter(col("src") < col("dst"))
        .select(col("src"), col("dst")).as[(Long, Long)]
        .collect().foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
      // `parent` keys are exactly the non-root connected nodes; roots
      // (component minima) label themselves via the coalesce below
      val labeled = spark.createDataFrame(
        parent.keysIterator.map(id => (id, find(id))).toSeq)
        .toDF("id", "component")
      val allConnected = sym.select(col("src").as("id")).distinct()
      return allConnected
        .join(labeled, Seq("id"), "left")
        .select(col("id"), coalesce(col("component"), col("id")).as("component"))
        .unionByName(
          nodes.select(col(idCol).as("id"))
            .join(allConnected.select("id"), Seq("id"), "left_anti")
            .select(col("id"), col("id").as("component")))
    }
    // the loop iterates ONLY over edge-connected nodes: a node with no
    // incident edge is its own component by definition and its label
    // can never change, so it has no business in the per-round joins.
    // On a near-dup corpus the pair graph is orders of magnitude
    // smaller than the corpus — the loop's working set scales with
    // |edges|, not |nodes|; singletons rejoin once, after convergence.
    var labels = Share.checkpoint(
      sym.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("component")))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // neighbor propagation: min label over the open neighborhood
      val prop = sym.join(labels, col("src") === col("id"))
        .select(col("dst").as("id"), col("component").as("ncomp"))
        .groupBy("id").agg(min("ncomp").as("pcomp"))
      // pointer jump: my label's OWN label (labels self-joined on
      // component=id — component values are always node ids, so the
      // join always matches). Neighbor steps alone need diameter
      // rounds on a chain; adding the jump halves the remaining
      // distance each round — O(log diameter) rounds total, which is
      // what keeps long semantic-similarity chains from turning the
      // loop into 30+ Spark jobs.
      val jump = labels.as("a")
        .join(labels.as("b"), col("a.component") === col("b.id"))
        .select(col("a.id").as("id"), col("b.component").as("jcomp"))
      // one pass computes BOTH the new label and whether it moved —
      // the convergence probe then reads only the checkpointed output
      val best = least(
        coalesce(col("pcomp"), col("component")),
        coalesce(col("jcomp"), col("component")))
      val next = Share.checkpoint(labels
        .join(prop, Seq("id"), "left")
        .join(jump, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), best).as("component"),
          (best < col("component")).as("__moved")))
      converged = next.filter(col("__moved")).limit(1).count() == 0L
      labels = next.drop("__moved")
      iter += 1
    }
    // min-label propagation past maxIter would silently return labels
    // that DISAGREE with the exact transitive closure (and any oracle
    // that computes it) — refuse rather than diverge
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds " +
        "(component graph diameter exceeds maxIter); raise maxIter")
    // singletons (no incident edge) are their own component — one
    // anti-join pass, never part of the loop
    labels.unionByName(
      nodes.select(col(idCol).as("id"))
        .join(labels.select("id"), Seq("id"), "left_anti")
        .select(col("id"), col("id").as("component")))
  }

  /** Cluster roll-up shared by every pair-graph family: components
    * from [[connectedComponents]], per-cluster sizes, and the
    * min-id canonical survivor flag. Returns one row per node:
    * (idCol, cluster_id, cluster_size, is_survivor).
    */
  def clustersFromPairs(nodes: DataFrame, pairs: DataFrame,
      idCol: String, maxIter: Int = 20): DataFrame = {
    val cc = connectedComponents(nodes.select(col(idCol).as("id")),
      pairs, maxIter)
    val sizes = cc.groupBy("component").agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, "component")
      .select(col("id").as(idCol), col("component").as("cluster_id"),
        col("cluster_size"), (col("id") === col("component")).as("is_survivor"))
  }

  /** Near-dup clustering + survivorship — the keep/drop half of the
    * dedup job: MinHash-LSH candidate pairs become graph edges,
    * [[connectedComponents]] groups transitive near-dups, and the
    * minimum doc id in each cluster is the canonical survivor.
    */
  def nearDupClusters(df: DataFrame, n: Int = 3, k: Int = 16,
      bands: Int = 4, threshold: Double = 0.8, maxIter: Int = 20,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    clustersFromPairs(df,
      minHashNearDupPairs(df, n, k, bands, threshold, idCol, textCol)
        .select("id_a", "id_b"),
      idCol, maxIter)

  /** QUALITY-argmax representative selection — the retention policy a
    * production dedup actually ships: [[nearDupClusters]]' min-id
    * survivor is an arbitrary canonical choice; when a quality score
    * exists, each near-dup cluster should keep its BEST member (the
    * cleanest crawl of a mirrored page), not its lowest id. One row
    * per doc: `(idCol, cluster_id, cluster_size, scoreCol, kept)` with
    * exactly one kept=true per cluster (max score, ties to min id).
    *
    * Scale shape: one equi-join of the cluster assignment onto the
    * quality frame plus a per-cluster rank window — near-dup clusters
    * are content-bounded (a cluster IS one document's near-copies),
    * so the window partition never degenerates; the pair-generating
    * work upstream is the banded-LSH machinery, unchanged.
    */
  def keepBestPerCluster(clusters: DataFrame, quality: DataFrame,
      idCol: String = "doc_id",
      scoreCol: String = "quality_score"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(col(scoreCol).desc, col(idCol).asc)
    clusters
      .join(quality.select(col(idCol), col(scoreCol)), idCol)
      .withColumn("kept", row_number().over(w) === 1)
      .select(col(idCol), col("cluster_id"), col("cluster_size"),
        col(scoreCol), col("kept"))
  }

  /** Per-source dedup SAVINGS report — the number the pipeline owner
    * actually reads after a dedup run: per source, how many docs and
    * tokens the near-dup survivorship drops, and the resulting token
    * savings ratio. `(source, n_docs, n_dropped, tokens_total,
    * tokens_dropped, savings_ratio)`.
    *
    * One id-keyed join of the cluster verdicts onto the doc token
    * counts, then a per-source roll-up (map-side combinable, bounded
    * output). The ratio is a single a/b division (tie-safe).
    */
  def dedupSavings(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", sourceCol: String = "source"): DataFrame =
    dedupSavingsFrom(nearDupClusters(docs, idCol = idCol, textCol = textCol),
      docs, idCol, textCol, sourceCol)

  /** Golden-record materialization — the terminal stage of the record
    * linkage family (blocking [[sortedNeighborhoodPairs]] → scoring
    * [[linkageScores]] → parameters [[linkageEm]] → THIS): 'match'
    * verdicts become edges, [[connectedComponents]] resolves records
    * into entities, and each entity emits ONE merged row — the
    * canonical `keyCol` from the minimum-id member (the component
    * label) plus, per comparison field, the MAJORITY value across
    * members (ties → smallest value): classic most-frequent
    * survivorship, which heals single-record typos inside a resolved
    * entity. Singleton records are entities too (every input row is
    * represented downstream). One row per entity:
    * (cluster_id, n_members, canonical_<keyCol>, golden_<field>...).
    *
    * Determinism: component labels are min ids; majority picks order
    * by (count desc, value asc) under a cluster-partitioned
    * row_number — no floats anywhere.
    *
    * Scale shape: match pairs are SNM-window-bounded; components loop
    * over edge-connected nodes only (the size-switched CC); each
    * survivorship vote is a (cluster, field) map-side-combined count
    * + a cluster-partitioned WindowGroupLimit-class rank; the
    * per-field golden frames join back cluster-keyed.
    */
  def goldenRecords(df: DataFrame, idCol: String, keyCol: String,
      fields: Seq[String], window: Int, blockLen: Int): DataFrame = {
    require(fields.nonEmpty, "need at least one survivorship field")
    val matches = linkageScores(df, idCol, keyCol, fields, window, blockLen)
      .filter(col("verdict") === "match")
      .select("id_a", "id_b")
    val cc = connectedComponents(df.select(col(idCol).as("id")), matches)
    val mem = cc.join(
      df.select(col(idCol).as("id") +: fields.map(col): _*), "id")
    val sizes = cc.groupBy(col("component").as("cluster_id"))
      .agg(count(lit(1)).as("n_members"))
    val canon = df.select(col(idCol).as("cluster_id"),
      col(keyCol).as(s"canonical_$keyCol"))
    val goldens = fields.map { f =>
      val vc = mem.groupBy(col("component"), col(f))
        .agg(count(lit(1)).as("__c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("component").orderBy(col("__c").desc, col(f))
      vc.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("component").as("cluster_id"), col(f).as(s"golden_$f"))
    }
    goldens.foldLeft(sizes.join(canon, "cluster_id")) {
        (acc, g) => acc.join(g, "cluster_id")
      }
      .orderBy("cluster_id")
  }

  /** [[dedupSavings]] over a PRECOMPUTED cluster assignment (the
    * [[nearDupClusters]] output relation) — a pipeline deriving
    * several reports from one dedup run (savings + keep-best + the
    * assignment itself) computes the components once and feeds the
    * shared frame here, the same one-clustering-many-reports shape as
    * kmeansProfileFrom.
    */
  def dedupSavingsFrom(clusters: DataFrame, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      sourceCol: String = "source"): DataFrame = {
    val verdicts = clusters.select(col(idCol), col("is_survivor"))
    docs
      .select(col(idCol), col(sourceCol),
        size(graft.ext.TextStats.tokens(col(textCol))).cast("long")
          .as("__nt"))
      .join(verdicts, idCol)
      .groupBy(sourceCol)
      .agg(count(lit(1)).as("n_docs"),
        sum(when(!col("is_survivor"), 1L).otherwise(0L)).as("n_dropped"),
        sum(col("__nt")).as("tokens_total"),
        sum(when(!col("is_survivor"), col("__nt")).otherwise(0L))
          .as("tokens_dropped"))
      .withColumn("savings_ratio",
        when(col("tokens_total") > 0,
          round(col("tokens_dropped").cast("double") /
            col("tokens_total").cast("double"), 5)).otherwise(lit(0.0)))
  }

  /** Cross-source near-dup MATRIX: for every unordered source pair,
    * how many near-dup pairs straddle it and their mean similarity —
    * `(source_a, source_b, n_pairs, avg_jaccard)`, within-source
    * pairs included on the diagonal. The corpus-forensics view that
    * surfaces which feeds mirror or scrape each other (the pair-level
    * sibling of the shingle-set source-overlap audit).
    *
    * The expensive part is the banded-LSH pair mining, unchanged;
    * this adds two id-keyed joins onto the (pair-sized) result and a
    * bounded roll-up. avg_jaccard averages a 5-decimal-quantized
    * input, so it uses the exact-integer HALF_UP mean
    * ([[graft.ext.TextStats.decAvg5]], SURVEY §8.3 rule 3).
    */
  def nearDupSourceMatrix(docs: DataFrame, n: Int = 3, k: Int = 16,
      bands: Int = 4, threshold: Double = 0.8, idCol: String = "doc_id",
      textCol: String = "text", sourceCol: String = "source"): DataFrame = {
    val pairs = minHashNearDupPairs(docs, n, k, bands, threshold,
      idCol, textCol)
    val src = docs.select(col(idCol), col(sourceCol))
    pairs
      .join(src.select(col(idCol).as("id_a"),
        col(sourceCol).as("__sa")), "id_a")
      .join(src.select(col(idCol).as("id_b"),
        col(sourceCol).as("__sb")), "id_b")
      .select(least(col("__sa"), col("__sb")).as("source_a"),
        greatest(col("__sa"), col("__sb")).as("source_b"),
        col("jaccard"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"),
        graft.ext.TextStats.decAvg5(col("jaccard"), count(lit(1)))
          .as("avg_jaccard"))
  }
}
