package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.exec.Share

/** Keyword relevance search over the corpus — pipeline extension
  * (SURVEY.md §7.5): the "find the documents about X" exploration /
  * filtered-subset step of corpus curation, scored with BM25
  * (Robertson/Spärck Jones; the `+1`-smoothed idf variant used by
  * Lucene).
  *
  * Scale shape: the token stream is filtered to the query's terms
  * BEFORE any aggregation (a handful of terms ⇒ the tf relation is
  * |docs|·|terms| at most, usually far less), document frequencies
  * and idf weights are a ≤|terms|-row broadcast, document lengths are
  * a map-side projection, and the corpus constants (N, exact-decimal
  * average length) are one tiny aggregate broadcast into the scoring
  * projection. Top-k plans as TakeOrderedAndProject — per-partition
  * heaps, never a full sort of the match set.
  *
  * Determinism: per-term scores are fixed IEEE expression trees
  * (idf is rounded to 5 decimals at the term level), quantized to
  * `decimal(18,9)` and summed EXACTLY per doc — so the final
  * 5-decimal score can never depend on partitioning or merge order.
  * The DuckDB twin interpolates the identical double constants
  * (Scala's `Double.toString` round-trips, DuckDB parses to the same
  * nearest double).
  */
object Search {

  /** Top-k docs for a bag-of-terms query: (idCol, n_terms_matched,
    * score), score desc / id asc, BM25 with parameters k1, b.
    */
  def bm25(docs: DataFrame, queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(queryTerms.nonEmpty, "query must have at least one term")
    val staged = Dedup.spread(docs, textCol)
      .withColumn("__toks", TextStats.tokens(col(textCol)))
    val lens = staged.select(col(idCol),
      size(col("__toks")).cast("long").as("__len"))
    // corpus constants: N docs and the exact-decimal mean length
    val consts = lens.agg(
      count(lit(1)).as("__n"),
      (sum(col("__len").cast(DecimalType(18, 6))).cast("double") /
        count(lit(1))).as("__avglen"))
    val tf = staged
      .select(col(idCol), explode_outer(col("__toks")).as("token"))
      .filter(col("token").isNotNull)
      .filter(col("token").isin(queryTerms: _*))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("__tf"))
    // document frequency computed from the term-filtered tf relation
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("__df"))
    scoreMatches(tf, dfreq, lens, consts, k, k1, b, idCol)
  }

  /** Pseudo-relevance-feedback query expansion (RM1, Lavrenko &
    * Croft 2001, uniform feedback-document prior): run the original
    * query, take the top `fbDocs` BM25 hits as pseudo-relevant, and
    * rank every term they contain by its relevance-model mass
    * Σ_{d ∈ F} p(t|d) = Σ tf_td / len_d — the expansion terms a
    * retrieval pipeline adds (with these weights) to sharpen recall
    * on a second pass. Original query terms are excluded (they are
    * the query, not an expansion). Returns the top `fbTerms` rows
    * (token, n_fb_docs, weight), (weight desc, token) order.
    *
    * Determinism (§8.3 rule 4): each p(t|d) is ONE division quantized
    * at scale 9 into DECIMAL(18,9); the per-term sum is exact
    * decimal; the reported weight is the exact-integer HALF-UP
    * rendering at 5 decimals (the [[scoreMatches]] su form — sums of
    * quantized rationals land on .5×10⁻⁵ ties).
    *
    * Scale shape: the corpus is touched only by the BM25 stage
    * (already term-filtered + TakeOrderedAndProject) and by ONE
    * broadcast semi-join on the fbDocs-bounded id list; everything
    * after is bounded by the feedback docs' token multiset. Top
    * terms plan as TakeOrderedAndProject.
    */
  def prfExpand(docs: DataFrame, queryTerms: Seq[String], fbDocs: Int,
      fbTerms: Int, k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(fbDocs >= 1, "fbDocs must be >= 1")
    require(fbTerms >= 1, "fbTerms must be >= 1")
    val top = bm25(docs, queryTerms, fbDocs, k1, b, idCol, textCol)
      .select(col(idCol))
    val staged = Dedup.spread(docs, textCol)
      .join(broadcast(top), Seq(idCol))
      .withColumn("__toks", TextStats.tokens(col(textCol)))
    val lens = staged.select(col(idCol),
      size(col("__toks")).cast("long").as("__len"))
    val tf = staged
      .select(col(idCol), explode_outer(col("__toks")).as("token"))
      .filter(col("token").isNotNull)
      .filter(!col("token").isin(queryTerms: _*))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("__tf"))
    val terms = tf.join(lens, idCol)
      .withColumn("__p",
        round(col("__tf").cast("double") / col("__len").cast("double"), 9)
          .cast(DecimalType(18, 9)))
    val su = (sum(col("__p")) * lit(1000000000L)).cast("long")
    terms.groupBy("token")
      .agg(count(lit(1)).as("n_fb_docs"),
        (floor((su * 2 + 10000).cast("double") / 20000.0) /
          lit(100000.0)).as("weight"))
      .orderBy(col("weight").desc, col("token"))
      .limit(fbTerms)
  }

  /** The ONE BM25 scoring tree, shared by [[bm25]] and
    * [[bm25Indexed]] so the two paths cannot drift: Lucene-smoothed
    * idf (rounded at 5 decimals — a 1-ulp libm `ln` difference
    * between engines cannot reach the summed score), fixed IEEE
    * per-term expression, `decimal(18,9)` quantization, exact-integer
    * HALF-AWAY rounding of the summed score (see TextStats.decAvg5:
    * a double `round` can flip on the exact .5×10⁻⁵ ties that
    * quantized sums land on). Top-k plans as TakeOrderedAndProject.
    */
  private def scoreMatches(tf: DataFrame, dfreq: DataFrame,
      lens: DataFrame, consts: DataFrame, k: Int, k1: Double, b: Double,
      idCol: String): DataFrame = {
    val idf = dfreq
      .crossJoin(broadcast(consts))
      .select(col("token"), round(log(
        (col("__n") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5))
          + lit(1.0)), 5).as("__idf"))
    val termScore =
      col("__idf") * (col("__tf").cast("double") * lit(k1 + 1)) /
        (col("__tf").cast("double") +
          lit(k1) * (lit(1 - b) + lit(b) *
            (col("__len").cast("double") / col("__avglen"))))
    val su = (sum(col("__s")) * lit(1000000000L)).cast("long")
    val score5 = when(su < 0, lit(-1.0)).otherwise(lit(1.0)) *
      floor((abs(su) * 2 + 10000).cast("double") / 20000.0) / lit(100000.0)
    tf.join(broadcast(idf), "token")
      .join(lens, idCol)
      .crossJoin(broadcast(consts))
      .withColumn("__s", termScore.cast(DecimalType(18, 9)))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_terms_matched"), score5.as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Term bucket for index partitioning — Spark's `crc32` and
    * `java.util.zip.CRC32` are the same IEEE polynomial, so the
    * driver can compute a query term's bucket without the cluster.
    */
  private def bucketOf(term: String, nBuckets: Int): Long = {
    val c = new java.util.zip.CRC32()
    c.update(term.getBytes("UTF-8"))
    c.getValue % nBuckets
  }

  /** Materialize a BM25 inverted index on disk: full postings
    * (token, doc, tf) and the per-token document frequencies, both
    * PARTITIONED BY a crc32 term bucket, plus per-doc lengths and the
    * corpus constants. Build once; [[bm25Indexed]] then serves any
    * query by reading ONLY the query terms' bucket directories —
    * the corpus text is never re-tokenized, and at 100 TB a query
    * touches |terms| buckets of postings instead of the corpus.
    */
  def writeSearchIndex(docs: DataFrame, dir: String, nBuckets: Int = 64,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val staged = Dedup.spread(docs, textCol)
      .withColumn("__toks", TextStats.tokens(col(textCol)))
    val lens = staged.select(col(idCol),
      size(col("__toks")).cast("long").as("__len"))
    lens.write.mode("overwrite").parquet(s"$dir/lens")
    lens.agg(
      count(lit(1)).as("__n"),
      (sum(col("__len").cast(DecimalType(18, 6))).cast("double") /
        count(lit(1))).as("__avglen"))
      .write.mode("overwrite").parquet(s"$dir/consts")
    val tf = staged
      .select(col(idCol), explode_outer(col("__toks")).as("token"))
      .filter(col("token").isNotNull)
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("__tf"))
      .withColumn("bucket", pmod(crc32(col("token")), lit(nBuckets)))
    tf.write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$dir/postings")
    tf.groupBy("token", "bucket").agg(count(lit(1)).as("__df"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/df")
  }

  /** Serve a BM25 query from a [[writeSearchIndex]] index: identical
    * results to [[bm25]] over the indexed corpus (the scoring tree is
    * literally shared), but the term lookup is a partition-pruned
    * read — the query terms' buckets are computed driver-side and
    * land in the scans as literal `bucket IN (...)` filters.
    */
  def bm25Indexed(spark: org.apache.spark.sql.SparkSession, dir: String,
      queryTerms: Seq[String], k: Int, k1: Double = 1.2, b: Double = 0.75,
      nBuckets: Int = 64, idCol: String = "doc_id"): DataFrame = {
    require(queryTerms.nonEmpty, "query must have at least one term")
    val buckets = queryTerms.map(bucketOf(_, nBuckets)).distinct.sorted
    val tf = spark.read.parquet(s"$dir/postings")
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("token").isin(queryTerms: _*))
      .select(col(idCol), col("token"), col("__tf"))
    val dfreq = spark.read.parquet(s"$dir/df")
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("token").isin(queryTerms: _*))
      .select(col("token"), col("__df"))
    val lens = spark.read.parquet(s"$dir/lens")
    val consts = spark.read.parquet(s"$dir/consts")
    scoreMatches(tf, dfreq, lens, consts, k, k1, b, idCol)
  }

  /** Hybrid retrieval: BM25 keyword recall, embedding-cosine
    * precision — the standard two-stage pipeline (cheap lexical
    * candidate generation over the whole corpus, expensive semantic
    * scoring over only `candidateK` survivors).
    *
    * Scale shape: stage 1 is [[bm25]] (corpus-scale, term-filtered);
    * its top-`candidateK` output is by construction a ≤candidateK-row
    * relation, so stage 2 BROADCASTS the candidate list into the
    * embedding scan (semi-join prune — the embedding table is never
    * shuffled), pre-normalizes once per row, and scores each survivor
    * with ONE dot against the broadcast query vector. No stage is
    * ever quadratic in the corpus.
    *
    * @param queryVecId id of the embedding row used as the semantic
    *   query vector (e.g. the encoded query text's row).
    * @return (doc_id, bm25_score, cosine, rank) — top `k` by cosine
    *   desc, doc id tie-break.
    */
  /** Positional proximity search: documents where `termA` and `termB`
    * co-occur within `window` tokens — the phrase/NEAR operator BM25's
    * bag-of-words scoring cannot express ("data pipeline" as a
    * concept vs the two words pages apart). One row per matching doc:
    * (doc_id, n_a, n_b, n_pairs, min_gap) — occurrence counts, pairs
    * within the window, and the closest approach (over ALL pairs, so
    * a doc that misses the window still reports how near it came —
    * but only window-hit docs are returned).
    *
    * Scale shape: the positional token stream is filtered to the TWO
    * query terms before anything aggregates — per-doc postings lists,
    * the classic positional-index shape; the pair enumeration is one
    * doc-keyed equi-join of the two postings whose per-doc cost is
    * occA·occB, the intrinsic cost of positional intersection. All
    * integer arithmetic; no float anywhere.
    */
  def proximityPairs(docs: DataFrame, termA: String, termB: String,
      window: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(window >= 1, "window must be >= 1")
    require(termA != termB, "terms must differ")
    val staged = docs.select(col(idCol).as("doc_id"),
      TextStats.tokens(col(textCol)).as("__t"))
    val pt = staged
      .select(col("doc_id"), posexplode(col("__t")).as(Seq("__pos", "__tok")))
      .filter(col("__tok").isin(termA, termB))
    val pa = pt.filter(col("__tok") === termA)
      .select(col("doc_id"), col("__pos").as("__pa"))
    val pb = pt.filter(col("__tok") === termB)
      .select(col("doc_id"), col("__pos").as("__pb"))
    pa.join(pb, Seq("doc_id"))
      .withColumn("__gap", abs(col("__pa") - col("__pb")))
      .groupBy("doc_id")
      .agg(count_distinct(col("__pa")).as("n_a"),
        count_distinct(col("__pb")).as("n_b"),
        sum(when(col("__gap") <= window, 1L).otherwise(0L)).as("n_pairs"),
        min(col("__gap")).cast("long").as("min_gap"))
      .filter(col("n_pairs") > 0)
      .orderBy("doc_id")
  }

  def hybridRerank(docs: DataFrame, embeddings: DataFrame,
      queryTerms: Seq[String], queryVecId: Long, candidateK: Int, k: Int,
      k1: Double = 1.2, b: Double = 0.75, idCol: String = "doc_id",
      textCol: String = "text", vecIdCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cands = bm25(docs, queryTerms, candidateK, k1, b, idCol, textCol)
      .select(col(idCol).as(vecIdCol), col("score").as("bm25_score"))
    val nEmb = Similarity.normalized(embeddings, vecIdCol, vecCol)
    val q = nEmb.filter(col(vecIdCol) === queryVecId)
      .select(col(vecCol).as("__qv"))
    val w = Window.orderBy(col("cosine").desc, col(vecIdCol).asc)
    nEmb.join(broadcast(cands), vecIdCol)
      .crossJoin(broadcast(q))
      .withColumn("cosine", round(Similarity.dot(col(vecCol), col("__qv")), 5))
      // single-query result: the global rank window holds ≤candidateK
      // rows (bounded by config, not data), so the one-task sort is
      // not a scale concern
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(vecIdCol).as(idCol), col("bm25_score"), col("cosine"),
        col("rank"))
  }

  /** Reciprocal-rank-fusion hybrid retrieval (Cormack/Clarke/Büttcher):
    * fuse the BM25 top-`listK` and the cosine top-`listK` lists by
    * rrf = Σ 1/(K + rank_i), K = `rrfK` (60 — the canonical constant).
    * Unlike [[hybridRerank]]'s recall→rerank cascade, RRF is
    * score-scale-free: a document strong in EITHER list survives, so
    * keyword-only and embedding-only hits both reach the fused top-k —
    * the fusion shape every production hybrid search ships first.
    * Returns (doc_id, bm25_rank, cosine_rank, rrf_score, rank) for the
    * fused top `k`, rank order; list ranks are NULL for a doc absent
    * from that list (its term contributes 0).
    *
    * Determinism (§8.3 rule 4): the two-term blend is folded to ONE
    * exact-integer rational per case — both lists:
    * (2K+r₁+r₂)/((K+r₁)(K+r₂)); one list: 1/(K+r) — so the double is
    * a single exactly-rounded IEEE division, identical cross-engine;
    * ties (e.g. the symmetric (r₁,r₂)↔(r₂,r₁) pair) break by doc id.
    *
    * Scale shape: both lists are TakeOrderedAndProject tops of their
    * respective scans; the fusion full-outer join holds ≤ 2·listK
    * rows — driver-bounded, never corpus-scale.
    */
  /** Maximal-marginal-relevance (MMR) diversified re-ranking: from a
    * per-query brute-force cosine candidate list of `candidateK`
    * items, greedily select `selectK` — each step takes the remaining
    * candidate maximizing `λ·rel(c) − (1−λ)·max_{s∈selected} sim(c,s)`
    * with λ = 1/2, i.e. relevance penalized by redundancy against
    * what is already picked. The result-diversification step between
    * retrieval and a context window: near-duplicate hits stop
    * crowding out coverage. (Carbonell & Goldstein, SIGIR '98.)
    *
    * Determinism: `rel` and `sim` are the scale-5 rounded cosine the
    * search family reports; the MMR score is `0.5·rel − 0.5·max(sim)`
    * on those identical doubles (max is order-independent); every
    * argmax breaks ties on neighbor id. The first pick has no
    * selected set — its score is `0.5·rel` (empty-max = 0, the
    * standard convention).
    *
    * Scale shape: candidates come from [[Similarity.topK]] (broadcast
    * queries, WindowGroupLimit) — swap in the IVF variant at corpus
    * scale; every relation past candidate generation is
    * ≤ queries·candidateK rows (pairwise sims ≤ queries·candidateK²),
    * ALL config-bounded; the `selectK` greedy rounds are materialized
    * fresh-leaf frames over those bounded relations, never a
    * corpus-sized loop. Returns (query_id, pos, neighbor_id,
    * relevance, mmr_score), (query_id, pos) order.
    */
  def mmrRerank(embeddings: DataFrame, queryVecIds: Seq[Long],
      candidateK: Int, selectK: Int, vecIdCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(selectK >= 1 && selectK <= candidateK,
      "need 1 <= selectK <= candidateK")
    val queries = embeddings.filter(col(vecIdCol).isin(queryVecIds: _*))
    val cand = Share.checkpoint(
      Similarity.topK(embeddings, queries, candidateK, vecIdCol, vecCol)
        .select(col("query_id"), col("neighbor_id"), col("score").as("rel")))
    // pairwise candidate sims, both directions (cand_id, other_id):
    // ≤ candidateK² rows per query, all config-bounded
    val nv = Similarity.normalized(embeddings, vecIdCol, vecCol)
    val withVec = cand
      .join(nv, cand("neighbor_id") === nv(vecIdCol))
      .select(col("query_id"), col("neighbor_id"), col(vecCol).as("__v"))
    val l = withVec.select(col("query_id"), col("neighbor_id").as("cand_id"),
      col("__v").as("__vl"))
    val r = withVec.select(col("query_id"), col("neighbor_id").as("other_id"),
      col("__v").as("__vr"))
    val sims = Share.checkpoint(
      l.join(r, Seq("query_id")).filter(col("cand_id") =!= col("other_id"))
        .select(col("query_id"), col("cand_id"), col("other_id"),
          round(Similarity.dot(col("__vl"), col("__vr")), 5).as("sim")))
    val wPick = Window.partitionBy(col("query_id"))
      .orderBy(col("__mmr").desc, col("neighbor_id").asc)
    def pickTop(scored: DataFrame, pos: Int): DataFrame =
      Share.checkpoint(scored
        .withColumn("__rn", row_number().over(wPick))
        .filter(col("__rn") === 1)
        .select(col("query_id"), lit(pos).as("pos"), col("neighbor_id"),
          col("rel"), col("__mmr")))
    var sel = pickTop(cand.withColumn("__mmr", col("rel") * 0.5), 1)
    var selAll = sel.select(col("query_id"), col("neighbor_id").as("sel_id"))
    var rem = Share.checkpoint(
      cand.join(sel.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_anti"))
    val picks = scala.collection.mutable.ListBuffer(sel)
    for (p <- 2 to selectK) {
      val mx = sims.join(selAll, Seq("query_id"))
        .filter(col("other_id") === col("sel_id"))
        .groupBy(col("query_id"), col("cand_id"))
        .agg(max(col("sim")).as("__mx"))
      val scored = rem.join(mx,
          rem("query_id") === mx("query_id") &&
            rem("neighbor_id") === mx("cand_id"))
        .select(rem("query_id"), rem("neighbor_id"), rem("rel"),
          (rem("rel") * 0.5 - col("__mx") * 0.5).as("__mmr"))
      sel = pickTop(scored, p)
      picks += sel
      selAll = Share.checkpoint(selAll.unionByName(
        sel.select(col("query_id"), col("neighbor_id").as("sel_id"))))
      rem = Share.checkpoint(
        rem.join(sel.select("query_id", "neighbor_id"),
          Seq("query_id", "neighbor_id"), "left_anti"))
    }
    picks.reduce(_ unionByName _)
      .select(col("query_id"), col("pos"), col("neighbor_id"),
        col("rel").as("relevance"), round(col("__mmr"), 9).as("mmr_score"))
      .orderBy("query_id", "pos")
  }

  def rrfFusion(docs: DataFrame, embeddings: DataFrame,
      queryTerms: Seq[String], queryVecId: Long, listK: Int, k: Int,
      rrfK: Int = 60, k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id", textCol: String = "text",
      vecIdCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bmRanked = bm25(docs, queryTerms, listK, k1, b, idCol, textCol)
      .select(col(idCol),
        row_number().over(Window.orderBy(col("score").desc, col(idCol)))
          .as("bm25_rank"))
    val cosRanked = Similarity.topK(embeddings,
        embeddings.filter(col(vecIdCol) === queryVecId), listK,
        vecIdCol, vecCol)
      .select(col("neighbor_id").as(idCol), col("rank").as("cosine_rank"))
    val r1 = col("bm25_rank")
    val r2 = col("cosine_rank")
    val raw = when(r1.isNotNull && r2.isNotNull,
        (lit(2L * rrfK) + r1 + r2).cast("double") /
          ((lit(rrfK) + r1).cast("long") * (lit(rrfK) + r2)).cast("double"))
      .when(r1.isNotNull, lit(1.0) / (lit(rrfK) + r1).cast("double"))
      .otherwise(lit(1.0) / (lit(rrfK) + r2).cast("double"))
    bmRanked.join(cosRanked, Seq(idCol), "full_outer")
      .withColumn("__raw", raw)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("__raw").desc, col(idCol))))
      .filter(col("rank") <= k)
      .select(col(idCol), col("bm25_rank"), col("cosine_rank"),
        round(col("__raw"), 9).as("rrf_score"), col("rank"))
      .orderBy("rank")
  }
}
