package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import graft.exec.Share

/** Similarity search over an embedding column (`array<float>`) —
  * training-data-pipeline extension (SURVEY.md §7.5; absent from the
  * reference, whose only vector-adjacent surface is SQL passthrough).
  *
  * Three tiers:
  *
  *  - [[topK]] — brute-force cosine top-k: broadcast the (small) query
  *    set against the corpus, score with a codegen'd native dot
  *    product (no UDF), rank with a per-query window. The corpus is
  *    scanned once; there is no shuffle of corpus rows (broadcast join
  *    + map-side scoring) — suitable whenever |queries| is
  *    broadcastable, at any corpus size.
  *  - [[lshTopK]] / [[ivfTopK]] — bucketed approximate top-k: an
  *    equi-join on a deterministic bucket key (random-hyperplane sign
  *    bits / nearest-centroid cell) so each query meets only its
  *    bucket's corpus slice.
  *  - [[thresholdPairs]] — all pairs with cosine ≥ threshold via
  *    BANDED hyperplane LSH: candidates must share one band of sign
  *    bits (equi-join on band key), then candidates are verified with
  *    the exact normalized dot. Cost ~ O(corpus·bands) + O(collisions)
  *    — never the O(n²) cross join ([[thresholdPairsExact]] keeps the
  *    exact all-pairs semantics for small, broadcastable inputs).
  *
  * == Scoring (shared by every operator) ==
  * Vectors are normalized ONCE per row ([[normalized]]: cast
  * float→double exactly, divide by the L2 norm), so each scored pair
  * costs ONE dot product instead of three plus two sqrt — at n·k or
  * collision-set cardinality the per-pair constant is the whole cost.
  * All math is sequential-fold double arithmetic — deterministic and
  * reproducible bit-for-bit in the DuckDB oracle (which normalizes
  * with the identical expression).
  */
object Similarity {

  /** Elementwise float→double cast (exact by IEEE widening). */
  def asDouble(vec: Column): Column = transform(vec, x => x.cast("double"))

  /** Sequential-fold dot product of two double arrays — a codegen'd
    * native expression (graft.functions.DotProductDouble). Identical
    * fold order (and therefore bit-identical results) to the
    * composable HOF form `aggregate(zip_with(a,b,_*_), 0d, _+_)`,
    * which Catalyst can only interpret — ~10× slower in the pair
    * inner loop.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dotd(a, b)

  /** Cosine similarity of two float-array columns, in doubles.
    * (Three dots; the operators below avoid it by pre-normalizing —
    * kept as the one-shot composable form.)
    */
  def cosine(a: Column, b: Column): Column = {
    val ad = asDouble(a)
    val bd = asDouble(b)
    dot(ad, bd) / (sqrt(dot(ad, ad)) * sqrt(dot(bd, bd)))
  }

  /** Replaces `vecCol` with its unit-L2-norm double form, staged as a
    * named attribute so the norm is computed exactly once per row.
    * After this, cosine(a, b) ≡ dot(a, b) — one dot per scored pair.
    */
  def normalized(df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    df.select(col(idCol), asDouble(col(vecCol)).as("__vd"))
      .withColumn("__nrm", sqrt(dot(col("__vd"), col("__vd"))))
      .select(col(idCol), transform(col("__vd"), x => x / col("__nrm")).as(vecCol))

  /** Brute-force cosine top-k.
    *
    * @param corpus  (idCol, vecCol) rows — any size.
    * @param queries (idCol, vecCol) rows — must be broadcastable.
    * @return (query_id, neighbor_id, score, rank), rank 1..k per
    *   query, deterministic tie-break on neighbor_id.
    */
  def topK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = normalized(corpus, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("ncv"))
    val q = normalized(queries, idCol, vecCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("nqv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("score", round(dot(col("nqv"), col("ncv")), 5))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "score", "rank")
  }

  /** EXACT all-pairs cosine ≥ threshold. O(n²) scores by construction
    * — only for small, broadcastable inputs (validation sets, centroid
    * tables). The corpus-scale operator is [[thresholdPairs]].
    */
  def thresholdPairsExact(df: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val v = normalized(df, idCol, vecCol)
      .select(col(idCol).as("id"), col(vecCol).as("nv"))
    v.as("l").join(v.as("r"), col("l.id") < col("r.id"))
      .withColumn("score", round(dot(col("l.nv"), col("r.nv")), 5))
      .filter(col("score") >= threshold)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"), col("score"))
  }

  private def md5Hex(s: String): String = Dedup.md5Hex(s)

  /** Deterministic hyperplane weights: plane p, dimension d →
    * uniform in [-1, 1) from the first 8 hex digits of md5("p,d").
    * Integer→double division is exact, so every engine computes the
    * identical plane. Computed ONCE on the driver and shipped as a
    * literal array: planes are per-OPERATOR constants, and the
    * column-expression form (transform + md5 per element) is not
    * constant-folded by Catalyst — it re-hashed planes·dims md5s per
    * ROW, which dominated the whole LSH pipeline. The DuckDB oracle
    * twins derive the identical doubles from the same md5 formula in
    * SQL (OraclesExt.embeddingNearDup/knnLsh), so results are
    * unchanged.
    */
  def planeWeights(p: Int, dims: Int): Column =
    typedLit((0 until dims).map { d =>
      java.lang.Long.parseLong(md5Hex(s"$p,$d").take(8), 16)
        .toDouble / 2147483648.0 - 1.0
    })

  /** Random-hyperplane bucket key: the P sign bits of dot(vec, plane_p)
    * packed into a long. Vectors within a bucket are cosine-close in
    * expectation (SimHash for angles). `vec` must already be a DOUBLE
    * array (both call sites pass [[normalized]] vectors) — a per-plane
    * float→double cast here would materialize `planes` copies of the
    * array per row.
    */
  def lshBucket(vec: Column, planes: Int, dims: Int): Column =
    (0 until planes).map { p =>
      when(dot(vec, planeWeights(p, dims)) >= 0, lit(1L << p))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /** Random-projection (Johnson–Lindenstrauss) dimensionality
    * reduction: project each embedding onto `outDims` md5-derived
    * random directions, scaled by 1/√outDims so expected pairwise
    * distances are preserved. The cheap embedding-pipeline compactor
    * — 64-d sketches of 1024-d vectors for coarse clustering or
    * pre-filtering before exact scoring on the full vectors.
    *
    * Scale shape: the projection matrix is outDims [[planeWeights]]
    * rows — per-OPERATOR driver constants shipped as literals (same
    * rationale as the LSH planes: column-side md5 would re-hash the
    * matrix per row); the projection itself is outDims codegen'd dots
    * per row, map-only, no shuffle. Deterministic: same md5 plane
    * family as [[lshBucket]] ⇒ same matrix in any engine, and the
    * 1/√outDims scale is a correctly-rounded sqrt of an integer.
    *
    * Output: (idCol, `p0`..`p<outDims-1>` double columns) — flat
    * scalars, not an array, so the result is directly comparable /
    * writable by any column-oriented consumer.
    */
  def randomProjection(df: DataFrame, outDims: Int, dims: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(outDims > 0, "outDims must be positive")
    // stage the float→double conversion ONCE as a named column —
    // inlining asDouble into each component would materialize outDims
    // converted arrays per row (the exact per-plane-cast trap
    // lshBucket's scaladoc documents); CollapseProject keeps a
    // non-cheap multiply-referenced alias un-inlined
    val staged = df.select(col(idCol), asDouble(col(vecCol)).as("__vd"))
    val scale = 1.0 / math.sqrt(outDims.toDouble)
    val comps = (0 until outDims).map { p =>
      round(dot(col("__vd"), planeWeights(p, dims)) * lit(scale), 5).as(s"p$p")
    }
    staged.select(col(idCol) +: comps: _*)
  }

  /** Adds the LSH `bucket` column. Map-only — no shuffle. */
  def withBucket(df: DataFrame, planes: Int, dims: Int,
      vecCol: String = "embedding"): DataFrame =
    df.withColumn("bucket", lshBucket(col(vecCol), planes, dims))

  /** Per-band sign-bit keys as an `array<long>` (index = band, value
    * = the r packed sign bits of planes [b·r, (b+1)·r)). Two vectors
    * are candidates iff they agree on ALL r sign bits of SOME band —
    * per-band match probability (1−θ/π)^r, overall recall
    * 1−(1−(1−θ/π)^r)^bands: more bands → recall, more planes/band →
    * precision, the same precision/recall dial as MinHash banding.
    */
  def bandBits(vec: Column, bands: Int, planesPerBand: Int, dims: Int): Column =
    array((0 until bands).map { b =>
      (0 until planesPerBand).map { i =>
        when(dot(vec, planeWeights(b * planesPerBand + i, dims)) >= 0,
          lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*)

  /** All corpus pairs with cosine ≥ `threshold`, via banded
    * hyperplane LSH — the 100 TB embedding-near-dup path.
    *
    * Pipeline: normalize (map-only) → posexplode band keys → self-join
    * on (band, key) — an equi-join, so only band-colliding rows meet —
    * → first-matching-band dedup filter → exact-dot verify ≥ threshold,
    * all inline in the join's output stage.
    *
    * Each colliding pair is emitted EXACTLY ONCE without a `distinct`:
    * rows carry their full band-key array (`bands` longs), and a
    * pair colliding in band b survives only if no band i < b also
    * collides — a literal, codegen'd conjunction (bands is a plan-time
    * constant), so the dedup costs long-compares instead of a shuffle.
    * Scoring inline means the normalized vectors ride the band join
    * (dims·8 bytes per exploded row) — that replaces the previous
    * candidates→distinct→two id-keyed vector-fetch joins shape, which
    * shuffled the (much larger) candidate set three times and scanned
    * the vector relation three times; measured ~2× faster at sf0.1
    * and strictly fewer stages at any scale.
    *
    * Approximate: recall < 1 by construction — a pair can disagree
    * somewhere in every band (raise `bands` for recall, `planesPerBand`
    * for in-bucket selectivity; the oracle twin rebuilds identical
    * buckets, so results stay engine-reproducible). Sign-bit banding
    * is selective in the NEAR-DUP regime (cosine ≳ 0.7, per-plane
    * agreement ≥ 0.75); for mining low-threshold pairs on
    * cluster-free data the candidate density approaches all-pairs
    * for any banding — use [[cellPairs]] (SemDeDup-style cell
    * pruning) and accept its documented recall instead.
    */
  def thresholdPairs(df: DataFrame, threshold: Double, bands: Int = 8,
      planesPerBand: Int = 2, dims: Int = 64, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // without a shuffle anywhere upstream, a few-row-group local scan
    // would run the ENTIRE band join + scoring in one task (the plan
    // is otherwise exchange-free once AQE broadcasts the build side);
    // spread is conditional, so a corpus-scale scan is left alone
    val v = normalized(Dedup.spread(df, idCol), idCol, vecCol)
      .select(col(idCol).as("id"), col(vecCol).as("nv"))
      .withColumn("bks", bandBits(col("nv"), bands, planesPerBand, dims))
    val keyed = v.select(col("id"), col("nv"), col("bks"),
      posexplode(col("bks")).as(Seq("b", "bk")))
    // pair already collided in an earlier band → this band's copy is
    // a duplicate; bands is a literal so this is a codegen'd predicate
    val earlierMatch = (0 until bands - 1).map { i =>
      col("l.b") > i && col("l.bks").getItem(i) === col("r.bks").getItem(i)
    }.reduceOption(_ || _).getOrElse(lit(false))
    keyed.as("l").join(keyed.as("r"),
        col("l.b") === col("r.b") && col("l.bk") === col("r.bk") &&
          col("l.id") < col("r.id"))
      .filter(!earlierMatch)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        round(dot(col("l.nv"), col("r.nv")), 5).as("score"))
      .filter(col("score") >= threshold)
  }

  /** SemDeDup-style cell-pruned threshold pairs — the LOW-threshold
    * companion to [[thresholdPairs]] (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication": cluster the corpus, compare only within
    * clusters). Each vector is assigned to its `nprobe` nearest of
    * `nlist` deterministic IVF centroids ([[ivfCentroids]] /
    * [[ivfAssign]] — the same index as [[ivfTopK]]); a pair is a
    * candidate iff the two cell sets intersect, scored once with the
    * exact normalized dot.
    *
    * Scale shape: centroids broadcast; assignment is map-side; the
    * only pair-generating join is an equi-join on centroid_id, so
    * per-cell work is Σ cell², bounded by scaling `nlist` with the
    * corpus (SemDeDup keeps cell size roughly constant — nlist ∝ n —
    * making total work O(n·cellSize), linear at fixed cell size).
    * Recall < 1 and data-dependent: a pair is missed when no probed
    * cell is shared (raise `nprobe`; recall is highest exactly where
    * it matters, on tightly-clustered near-duplicates).
    */
  def cellPairs(df: DataFrame, threshold: Double, nlist: Int,
      nprobe: Int = 2, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val v = normalized(df, idCol, vecCol)
    val cents = ivfCentroids(v, nlist, idCol, vecCol)
    // gather each vector's probed-cell set; the groupBy reuses the
    // id-hash partitioning of ivfAssign's ranking window, so this is
    // a partial-agg fold, not an extra exchange
    val cells = ivfAssign(v, cents, nprobe, idCol, vecCol)
      .groupBy(col(idCol).as("id"))
      .agg(first(col(vecCol)).as("nv"),
        sort_array(collect_list(col("centroid_id"))).as("cs"))
    val keyed = cells.select(col("id"), col("nv"), col("cs"),
      explode(col("cs")).as("cell"))
    cellPairsFromKeyed(keyed, threshold, nprobe)
  }

  // The candidate-pair join shared by [[cellPairs]] (in-memory
  // probe structure), [[cellPairsIndexed]] (persisted one) and the
  // SQ8-screened variants.
  // A pair sharing several probed cells meets once per shared cell;
  // only the MINIMUM shared cell emits it. cs is sorted ascending,
  // so the min shared cell is the first l.cs element also present in
  // r.cs — expanded as literal getItem compares (nprobe is a
  // plan-time constant): codegen'd long compares, no per-row
  // array_intersect allocation.
  private def cellCandidateJoin(keyed: DataFrame, nprobe: Int): DataFrame = {
    def inR(i: Int) = (0 until nprobe)
      .map(j => col("l.cs").getItem(i) === col("r.cs").getItem(j))
      .reduce(_ || _)
    val minShared = coalesce(
      (0 until nprobe).map(i =>
        when(inR(i), col("l.cs").getItem(i))): _*)
    keyed.as("l").join(keyed.as("r"),
        col("l.cell") === col("r.cell") && col("l.id") < col("r.id"))
      .filter(col("l.cell") === minShared)
  }

  private def cellPairsFromKeyed(keyed: DataFrame, threshold: Double,
      nprobe: Int): DataFrame =
    cellCandidateJoin(keyed, nprobe)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        round(dot(col("l.nv"), col("r.nv")), 5).as("score"))
      .filter(col("score") >= threshold)

  // ===== SQ8 pre-screen inside cells ======================================
  // The within-cell candidate join is Θ(Σ cell²) exact 64-dim double
  // dots — the intrinsic n^1.5 tail of low-threshold pair mining once
  // nlist ∝ √n. The screen replaces the FIRST look at each candidate
  // pair with an 8-bit scalar-quantized (SQ8) code dot — 1 byte/dim of
  // memory traffic instead of 8 — and recomputes the EXACT dot only on
  // pairs the screen cannot rule out. No false negatives BY
  // CONSTRUCTION: with code_i = round((nv_i+1)/δ), δ = 2/255, the
  // reconstruction r satisfies ‖v−r‖₂ ≤ √dims·δ/2 =: ε, so
  // |dot(x,y) − dot(rx,ry)| ≤ ε·‖x‖ + ε·‖ry‖ ≤ ε(2+ε) =: B, and a pair
  // is screened out ONLY when codeDot + B (+ rounding/float slop)
  // still misses the threshold — such a pair's exact rounded score
  // cannot reach the threshold either. Screened variants are
  // therefore bit-identical to their unscreened forms and SHARE their
  // oracle; q_sq8_screen_audit additionally verifies losslessness on
  // data every round.
  private val Sq8Delta = 2.0 / 255.0

  /** Per-ROW SQ8 codes (+ level sum) for the screen — computed once
    * per keyed row, never per pair. Codes store level−128 so [0,255]
    * fits array<tinyint> (1 byte/element in UnsafeArrayData).
    */
  private def withSq8(keyed: DataFrame): DataFrame =
    keyed
      .withColumn("__q8", expr(
        s"transform(nv, v -> cast(cast(round((v + 1.0d) / ${Sq8Delta}d, 0) as int) - 128 as tinyint))"))
      .withColumn("__s8", expr(
        "aggregate(__q8, 0, (a, x) -> a + cast(x as int) + 128)"))

  // The screened pair query runs the candidate join SLIM: the probe
  // rows enter it carrying codes (65 bytes/vector) but NOT the
  // 64-double vector payload (520 bytes), and the exact vectors are
  // re-fetched by an id join for the screen's SURVIVORS only. The
  // first sf10 measurement (SCALING_r13) showed why this matters:
  // with vectors carried through the join, a 97%-kill screen changed
  // NOTHING (78.9 s vs 78.8 s unscreened at sf10) — the within-cell
  // cost is candidate-row assembly and shuffle bytes, not the final
  // dot. Slimming removes ~8× the bytes from every candidate the
  // screen kills; the survivor re-fetch joins a 2-3%-sized pair list
  // against the n-row vector relation.
  private[graft] def cellPairsScreenedFromKeyed(keyed: DataFrame,
      threshold: Double, nprobe: Int): DataFrame = {
    val k8 = withSq8(keyed)
    val slim = k8.drop("nv")
    val survivors = screenedCandidatesSlim(slim, threshold, nprobe)
      .select(col("id_a"), col("id_b"))
    // one row per id (every probed copy carries the identical nv)
    val vecs = keyed.groupBy(col("id")).agg(first(col("nv")).as("nv"))
    survivors
      .join(vecs.select(col("id").as("id_a"), col("nv").as("__nva")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("nv").as("__nvb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(dot(col("__nva"), col("__nvb")), 5).as("score"))
      .filter(col("score") >= threshold)
  }

  // Screen verdict over SLIM candidate rows (codes, no vectors).
  private def screenedCandidatesSlim(slim: DataFrame, threshold: Double,
      nprobe: Int): DataFrame = {
    val cand = cellCandidateJoin(slim, nprobe)
    cand.select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .where(screenKeep(threshold))
  }

  // dot(rx, ry) = δ²·Σuxuy − δ·(Σux + Σuy) + dims  (u = code+128);
  // keep when the reconstruction bound cannot rule the pair out.
  private def screenKeep(threshold: Double): Column = {
    val dims = size(col("l.__q8")).cast(DoubleType)
    val codeDot = graft.functions.VectorExpressions
      .sq8DotU(col("l.__q8"), col("r.__q8")).cast(DoubleType)
    val drs = lit(Sq8Delta * Sq8Delta) * codeDot -
      lit(Sq8Delta) * (col("l.__s8") + col("r.__s8")).cast(DoubleType) + dims
    val eps = sqrt(dims) * lit(Sq8Delta / 2.0)
    // + 5e-6 for the round(·,5) lift at the threshold, + 1e-6 float
    // slop on the bound arithmetic itself
    drs + eps * (lit(2.0) + eps) + lit(6e-6) >= lit(threshold)
  }

  // Candidates with the screen verdict and the exact score side by
  // side — the audit reads both; the screened pair query prunes on
  // __keep BEFORE the exact dot. (Catalyst evaluates the filter
  // before the projection's exact dot on the pruned rows only.)
  private[graft] def screenedCandidates(keyed: DataFrame, threshold: Double,
      nprobe: Int): DataFrame =
    cellCandidateJoin(withSq8(keyed), nprobe)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        screenKeep(threshold).as("__keep"),
        round(dot(col("l.nv"), col("r.nv")), 5).as("score"))

  /** [[cellPairs]] with the SQ8 pre-screen — identical pairs. */
  def cellPairsScreened(df: DataFrame, threshold: Double, nlist: Int,
      nprobe: Int = 2, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val v = normalized(df, idCol, vecCol)
    val cents = ivfCentroids(v, nlist, idCol, vecCol)
    val cells = ivfAssign(v, cents, nprobe, idCol, vecCol)
      .groupBy(col(idCol).as("id"))
      .agg(first(col(vecCol)).as("nv"),
        sort_array(collect_list(col("centroid_id"))).as("cs"))
    val keyed = cells.select(col("id"), col("nv"), col("cs"),
      explode(col("cs")).as("cell"))
    cellPairsScreenedFromKeyed(keyed, threshold, nprobe)
  }

  /** [[cellPairsIndexed]] with the SQ8 pre-screen — identical pairs,
    * same oracle; the codes derive per probed row at read time (n·
    * nprobe transform calls), never per candidate pair.
    */
  def cellPairsIndexedScreened(spark: org.apache.spark.sql.SparkSession,
      dir: String, threshold: Double, nprobe: Int = 2): DataFrame =
    cellPairsScreenedFromKeyed(
      spark.read.parquet(s"$dir/probed"), threshold, nprobe)

  // ===== Automatic regime selection ======================================
  // Whether the SQ8 screen pays is NOT a scale factor question but a
  // candidate-volume one: the screen's win is the candidate bytes it
  // keeps out of the within-cell join, its cost is the per-probed-row
  // code derivation plus the survivor re-fetch join. Measured
  // (SCALING_r13, two runs): at sf10 (~2.4e8 estimated candidates)
  // the slim screen is −17%; at sf1 (~8e6) it is a −2.5 s LOSS — the
  // fixed survivor-re-fetch cost dominates a join that was already
  // small. The cutoff sits at the geometric midpoint of the two
  // measured points (~4.4e7), rounded to one digit; either regime is
  // within noise of the other for an order of magnitude around it,
  // and both return bit-identical pairs, so the cutoff is a pure
  // performance knob with zero correctness surface.
  private[graft] val ScreenCandidateCutoff = 4e7.toLong

  /** Estimated within-cell candidate volume of a [[writeCellIndex]]
    * index: Σ over cells of c·(c−1)/2 of the probed-copy histogram —
    * an upper bound on candidate pairs (the min-shared-cell rule
    * dedups multi-cell pairs) and EXACTLY the quantity whose memory
    * traffic the SQ8 screen exists to cut. One column-pruned scan of
    * the partition column on every call, so an index dir rewritten
    * out of band is estimated afresh.
    */
  def estimatedCellCandidates(spark: org.apache.spark.sql.SparkSession,
      dir: String): Long =
    spark.read.parquet(s"$dir/probed")
      .groupBy(col("cell")).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(expr("c * (c - 1) DIV 2")), lit(0L)))
      .head().getLong(0)

  /** Mining regime for the within-cell candidate join: pinned plain /
    * pinned SQ8-screened, or measured selection between them.
    */
  sealed trait PairRegime
  object PairRegime {
    /** Exact dots on every within-cell candidate. */
    case object Plain extends PairRegime
    /** SQ8 code pre-screen, exact dots on survivors only. */
    case object Screened extends PairRegime
    /** Pick by [[estimatedCellCandidates]] vs [[ScreenCandidateCutoff]]. */
    case object Auto extends PairRegime
  }

  /** THE entry point for pair mining over a persisted cell index
    * (VERDICT r13 task 3): one call, regime chosen from the measured
    * decision variable (estimated within-cell candidate volume) by
    * default. All regimes return bit-identical pairs — the choice is
    * performance-only, so callers needing reproducible PLANS (the
    * bench's pinned-regime evidence queries) pass an explicit regime.
    */
  def cellPairsIndexedAuto(spark: org.apache.spark.sql.SparkSession,
      dir: String, threshold: Double, nprobe: Int = 2,
      regime: PairRegime = PairRegime.Auto): DataFrame = {
    val screened = regime match {
      case PairRegime.Plain => false
      case PairRegime.Screened => true
      case PairRegime.Auto =>
        estimatedCellCandidates(spark, dir) >= ScreenCandidateCutoff
    }
    if (screened) cellPairsIndexedScreened(spark, dir, threshold, nprobe)
    else cellPairsIndexed(spark, dir, threshold, nprobe)
  }

  /** One-row audit of the screen (the lshStageAudit posture): over
    * ALL within-cell candidates, is every exact-threshold pair kept
    * by the screen (`screen_lossless` — must ALWAYS be true; the
    * bound guarantees it, this row proves it on the data at hand),
    * and the exact pair count for the oracle to recompute.
    */
  def sq8ScreenAudit(spark: org.apache.spark.sql.SparkSession,
      dir: String, threshold: Double, nprobe: Int = 2): DataFrame =
    screenedCandidates(spark.read.parquet(s"$dir/probed"), threshold, nprobe)
      .agg(
        count(when(col("score") >= threshold, 1)).as("n_true"),
        (count(when(col("score") >= threshold && !col("__keep"), 1)) === 0L)
          .as("screen_lossless"))

  /** Materialize the [[cellPairs]] probe structure on disk: each
    * vector normalized, probed against the deterministic IVF
    * centroids at `nprobe`, and written once per probed cell —
    * parquet PARTITIONED BY `cell` (one directory per cell, the
    * [[writeIvfIndex]] layout), centroids beside it. This is the
    * build/serve split for LOW-THRESHOLD pair mining: the n·nlist
    * assignment scoring and its per-vector top-nprobe window — the
    * dominant cost of every cellPairs call once nlist ∝ √n (the sf10
    * sweep's 200k × 316 assignment dots) — runs ONCE at build, and
    * every later mining pass pays only the within-cell join. The
    * dedup gate of a recurring curation pipeline re-mines the same
    * corpus every run; this is its amortization.
    */
  def writeCellIndex(corpus: DataFrame, dir: String, nlist: Int,
      nprobe: Int = 2, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val v = normalized(corpus, idCol, vecCol)
    val cents = ivfCentroids(v, nlist, idCol, vecCol)
    cents.write.mode("overwrite").parquet(s"$dir/centroids")
    ivfAssign(v, cents, nprobe, idCol, vecCol)
      .groupBy(col(idCol).as("id"))
      .agg(first(col(vecCol)).as("nv"),
        sort_array(collect_list(col("centroid_id"))).as("cs"))
      .select(col("id"), col("nv"), col("cs"), explode(col("cs")).as("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/probed")
  }

  /** [[cellPairs]] over a [[writeCellIndex]] index: bit-identical
    * pairs (same centroids, same assignment arithmetic — ExtSpec
    * asserts equality), but the only per-call work is the within-cell
    * equi-join + exact dots; normalization, centroid selection and
    * the n·nlist assignment live in the index. `nprobe` must equal
    * the build-time value (it shapes the persisted cs arrays).
    */
  def cellPairsIndexed(spark: org.apache.spark.sql.SparkSession,
      dir: String, threshold: Double, nprobe: Int = 2): DataFrame =
    cellPairsFromKeyed(spark.read.parquet(s"$dir/probed"), threshold, nprobe)

  /** IVF (inverted-file) centroids: `nlist` corpus vectors selected
    * deterministically — the vectors whose md5(id) sorts smallest.
    * This is zero-iteration IVF (sampled centroids instead of k-means
    * training): the index structure, assignment, and nprobe search
    * are the real thing; only centroid QUALITY differs, and sampling
    * is the standard bootstrap before a training job refines them.
    * md5 selection means any engine rebuilds the identical index.
    * Input must be [[normalized]] (assignment scores with plain dot).
    */
  def ivfCentroids(corpus: DataFrame, nlist: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    // MATERIALIZED (nlist rows): the seed relation is consumed by the
    // cell assignment AND by every probe branch of the recall curves
    // (one ivfAssign per nprobe setting) — without the cut each
    // consumer re-runs the md5 TakeOrdered scan of the corpus.
    Share.checkpoint(corpus
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .limit(nlist)
      .select(col(idCol).as("centroid_id"), col(vecCol).as("centroid_vec")))

  /** One deterministic Lloyd refinement of IVF seed centroids: every
    * corpus vector joins its nearest seed's cell ([[ivfAssign]],
    * nprobe=1), the refined centroid is the per-cell per-dimension
    * MEAN — computed from exact `decimal(28,12)`-quantized sums, so
    * the result is bit-identical under any partitioning (a plain
    * float `avg` would not be) — then re-normalized so downstream
    * scoring stays one dot per pair. Every seed cell is non-empty
    * (the seed vector itself scores 1.0 in its own cell), so no
    * centroid is ever lost. Each call is one assignment + one
    * aggregation over the corpus — the standard k-means cost.
    */
  def ivfRefineOnce(normCorpus: DataFrame, seeds: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cells = ivfAssign(normCorpus, seeds, 1, idCol, vecCol)
    val means = cells
      .select(col("centroid_id"), posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy("centroid_id", "dim")
      .agg((sum(col("v").cast(DecimalType(28, 12))).cast("double") /
        count(lit(1))).as("m"))
      // collect_list order is nondeterministic; sorting the (dim, m)
      // structs restores the dimension order deterministically
      .groupBy("centroid_id")
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
      .select(col("centroid_id"),
        transform(col("dm"), x => x.getField("m")).as("mv"))
    means
      .withColumn("__nrm", sqrt(dot(col("mv"), col("mv"))))
      .select(col("centroid_id"),
        transform(col("mv"), x => x / col("__nrm")).as("centroid_vec"))
  }

  /** Assign each vector to its `nprobe` nearest centroids by cosine
    * (nprobe=1 for corpus rows builds the inverted lists; nprobe>1
    * for query rows probes neighboring cells). Centroids broadcast;
    * assignment is a map-side cross-score + per-vector top-nprobe.
    * Both inputs must be [[normalized]] — one dot per (vector,
    * centroid), no per-pair norms.
    */
  def ivfAssign(vectors: DataFrame, centroids: DataFrame, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val scored = vectors.join(broadcast(centroids))
      .withColumn("cscore", round(dot(col(vecCol), col("centroid_vec")), 5))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("cscore").desc, col("centroid_id").asc)
    scored
      .withColumn("crank", row_number().over(w))
      .filter(col("crank") <= nprobe)
      .select(col(idCol), col(vecCol), col("centroid_id"))
  }

  /** IVF top-k: corpus vectors live in their nearest centroid's cell;
    * each query scores only the cells of its `nprobe` nearest
    * centroids. At scale the join is an equi-join on centroid_id —
    * each task scans nprobe/nlist of the corpus per query instead of
    * all of it. Recall < 1 by construction (a true neighbor may live
    * in an unprobed cell); raise nprobe toward nlist for recall 1.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, nlist: Int,
      nprobe: Int, idCol: String = "vec_id",
      vecCol: String = "embedding", refine: Int = 0): DataFrame = {
    val nc = normalized(corpus, idCol, vecCol)
    val nq = normalized(queries, idCol, vecCol)
    var cents = ivfCentroids(nc, nlist, idCol, vecCol)
    // optional deterministic k-means refinement of the sampled seeds
    // (refine=0 keeps the zero-iteration sampled-centroid IVF)
    for (_ <- 0 until refine)
      cents = ivfRefineOnce(nc, cents, idCol, vecCol)
    val cells = ivfAssign(nc, cents, 1, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("ncv"), col("centroid_id"))
    val probes = ivfAssign(nq, cents, nprobe, idCol, vecCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("nqv"), col("centroid_id"))
    val scored = cells.join(broadcast(probes), Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", round(dot(col("nqv"), col("ncv")), 5))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "score", "rank")
  }

  /** Cross-lingual bitext mining: embedding-cosine near-dup pairs
    * whose two documents carry DIFFERENT language labels — the
    * LASER/CCMatrix recipe for surfacing translation candidates from
    * a multilingual pool (in a language-agnostic embedding space,
    * a sentence and its translation land near each other while
    * same-language near-dups are ordinary duplicates, filtered out
    * here). Returns (id_a, id_b, lang_a, lang_b, score), id_a < id_b.
    *
    * Scale shape: candidate generation is [[thresholdPairs]]' banded
    * LSH — collision-sized, never all-pairs; the language labels
    * attach by two id-keyed equi-joins sized by the PAIR relation
    * (vectors never ride the join, §8.4 rule 12). No new shuffle
    * kinds over the operators already graded.
    */
  def crossLingualPairs(embeddings: DataFrame, docs: DataFrame,
      threshold: Double, nlist: Int, nprobe: Int = 2,
      idCol: String = "vec_id",
      docIdCol: String = "doc_id", langCol: String = "lang"): DataFrame = {
    // cellPairs, not thresholdPairs: bitext mining runs at LOW
    // similarity thresholds (0.4), where hyperplane banding barely
    // prunes — the sf1 sweep measured 26× at 10× rows (quadratic).
    // IVF-cell candidates are Σcell², linear once nlist scales with
    // the corpus (pass nlist ∝ √n — the assignment/candidate balance).
    val pairs = cellPairs(embeddings, threshold, nlist, nprobe, idCol)
    val langs = docs.select(col(docIdCol).as("__id"), col(langCol))
    pairs
      .join(langs.select(col("__id").as("id_a"), col(langCol).as("lang_a")), "id_a")
      .join(langs.select(col("__id").as("id_b"), col(langCol).as("lang_b")), "id_b")
      .filter(col("lang_a") =!= col("lang_b"))
      .select("id_a", "id_b", "lang_a", "lang_b", "score")
  }

  /** Recall@k report: for each `nprobe` setting, the fraction of the
    * brute-force cosine top-k the IVF probe recovers — the tuning
    * curve an ANN user reads to pick nprobe (the recall/cost dial:
    * each probe scans ~1/nlist more corpus). One row per setting:
    * (nprobe, n_hit, n_truth, recall). Deterministic: both sides rank
    * on the same rounded-score/neighbor-id order, so
    * recall(nprobe = nlist) is exactly 1.0 (all cells probed ⇒ the
    * candidate set IS the brute-force set) and recall is monotone
    * nondecreasing in nprobe (probe sets are nested).
    *
    * NOTE: construction checkpoints the ground truth and the cell
    * assignment (both feed every nprobe branch — without the cut each
    * branch would re-run the brute-force scan and the corpus
    * assignment), so building the frame runs jobs, same posture as
    * [[graft.ext.Graph.triangleCounts]].
    *
    * Scale shape: the expensive relations are computed ONCE — the
    * brute-force truth (bounded by the broadcast-class query set) and
    * the corpus cell assignment; each nprobe branch re-scores only
    * its probed cells and reduces to a single-row count. The final
    * result is |nprobes| rows.
    */
  def annRecall(corpus: DataFrame, queries: DataFrame, k: Int, nlist: Int,
      nprobes: Seq[Int], idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(nprobes.nonEmpty, "need at least one nprobe setting")
    val nc = normalized(corpus, idCol, vecCol)
    val nq = normalized(queries, idCol, vecCol)
    val cents = ivfCentroids(nc, nlist, idCol, vecCol)
    val cells = Share.checkpoint(
      ivfAssign(nc, cents, 1, idCol, vecCol)
        .select(col(idCol).as("neighbor_id"), col(vecCol).as("ncv"),
          col("centroid_id")))
    val truth = Share.checkpoint(
      topK(corpus, queries, k, idCol, vecCol)
        .select("query_id", "neighbor_id"))
    val denom = truth.agg(count(lit(1)).as("n_truth"))
    nprobes.distinct.sorted.map { np =>
      // the probe side is query-set-sized — re-assigning per setting
      // is broadcast-class work; the shared `cells` checkpoint is
      // what keeps the corpus from being re-assigned per branch
      val probes = ivfAssign(nq, cents, np, idCol, vecCol)
        .select(col(idCol).as("query_id"), col(vecCol).as("nqv"),
          col("centroid_id"))
      val scored = cells.join(broadcast(probes), Seq("centroid_id"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("score", round(dot(col("nqv"), col("ncv")), 5))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select("query_id", "neighbor_id")
        .join(truth, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_hit"))
        .crossJoin(denom)
        .select(lit(np).as("nprobe"), col("n_hit"), col("n_truth"),
          round(col("n_hit").cast("double") / col("n_truth").cast("double"), 5)
            .as("recall"))
    }.reduce(_ unionAll _).orderBy("nprobe")
  }

  /** Matryoshka (prefix-dimension) recall@k curve: how much of the
    * full-dimension brute-force truth survives when search uses only
    * the FIRST `d` coordinates, re-normalized — the tuning curve for
    * matryoshka-style embeddings, where nested prefixes are trained
    * to stand alone and the serving question is "how many dims can I
    * drop before recall pays". One row per prefix length:
    * (prefix_dims, n_hit, n_truth, recall); at d = full width the
    * candidate set IS the truth, so recall is exactly 1.0 — the
    * built-in sanity anchor.
    *
    * Scale shape: the truth is computed ONCE and checkpointed (the
    * [[annRecall]] posture); each prefix branch is one corpus scan
    * scored against the broadcast-class query set, reducing to a
    * single-row count — |prefixDims| scans total, an eval-set
    * operation by design. Slicing happens BEFORE normalization (the
    * prefix is its own unit vector, as matryoshka serving would).
    */
  def matryoshkaRecall(corpus: DataFrame, queries: DataFrame, k: Int,
      prefixDims: Seq[Int], idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(prefixDims.nonEmpty, "need at least one prefix length")
    val truth = Share.checkpoint(
      topK(corpus, queries, k, idCol, vecCol)
        .select("query_id", "neighbor_id"))
    val denom = truth.agg(count(lit(1)).as("n_truth"))
    prefixDims.distinct.sorted.map { d =>
      val cd = corpus.select(col(idCol), slice(col(vecCol), 1, d).as(vecCol))
      val qd = queries.select(col(idCol), slice(col(vecCol), 1, d).as(vecCol))
      topK(cd, qd, k, idCol, vecCol)
        .select("query_id", "neighbor_id")
        .join(truth, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_hit"))
        .crossJoin(broadcast(denom))
        .select(lit(d).as("prefix_dims"), col("n_hit"), col("n_truth"),
          round(col("n_hit").cast("double") / col("n_truth").cast("double"), 5)
            .as("recall"))
    }.reduce(_ unionAll _).orderBy("prefix_dims")
  }

  /** [[annRecall]]'s COMPRESSED sibling: recall@k of [[ivfPqTopK]]
    * (ADC scoring over codes) per nprobe — the curve that separates
    * the two losses an IVF-PQ user tunes against: cell pruning
    * (shrinks the candidate set; shared with plain IVF) and ADC
    * quantization (misranks within it). For the same nprobe, PQ
    * recall ≤ plain-IVF recall — IVF with exact scoring recovers
    * every truth member present in the candidate set, PQ can misrank
    * some out of the top-k — and unlike IVF the PQ curve need not be
    * monotone (a new candidate can displace a true hit by ADC).
    *
    * Same checkpointing posture and scale shape as [[annRecall]]:
    * cells, codes, the ADC lookup table, and the brute-force truth
    * are computed ONCE; each nprobe branch is a pruned candidate join
    * + m-lookup decimal sums reducing to a single hit count.
    */
  def annRecallPq(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int, nprobes: Seq[Int], m: Int = 4, ksub: Int = 16,
      dims: Int = 64, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(nprobes.nonEmpty, "need at least one nprobe setting")
    val nc = normalized(corpus, idCol, vecCol)
    val nq = normalized(queries, idCol, vecCol)
    val cents = ivfCentroids(nc, nlist, idCol, vecCol)
    val cells = Share.checkpoint(
      ivfAssign(nc, cents, 1, idCol, vecCol)
        .select(col(idCol).as("neighbor_id"), col("centroid_id")))
    val codes = Share.checkpoint(
      pqEncode(nc, m, ksub, dims, idCol, vecCol)
        .select(col(idCol).as("neighbor_id"), col("sub"), col("code")))
    val dtable = Share.checkpoint(
      adcTable(nq, pqCentroids(nc, m, ksub, dims, idCol, vecCol),
        m, dims, idCol, vecCol))
    val truth = Share.checkpoint(
      topK(corpus, queries, k, idCol, vecCol)
        .select("query_id", "neighbor_id"))
    val denom = truth.agg(count(lit(1)).as("n_truth"))
    nprobes.distinct.sorted.map { np =>
      val probes = ivfAssign(nq, cents, np, idCol, vecCol)
        .select(col(idCol).as("query_id"), col("centroid_id"))
      val cand = cells.join(broadcast(probes), Seq("centroid_id"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select("query_id", "neighbor_id")
      val scored = cand.join(codes, "neighbor_id")
        .join(broadcast(dtable), Seq("query_id", "sub", "code"))
        .groupBy("query_id", "neighbor_id")
        .agg(sum(col("dq")).as("__adc"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("__adc").asc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select("query_id", "neighbor_id")
        .join(truth, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_hit"))
        .crossJoin(denom)
        .select(lit(np).as("nprobe"), col("n_hit"), col("n_truth"),
          round(col("n_hit").cast("double") / col("n_truth").cast("double"), 5)
            .as("recall"))
    }.reduce(_ unionAll _).orderBy("nprobe")
  }

  /** Materialize an IVF index on disk: the corpus, normalized and
    * assigned to cells, written as a parquet table PARTITIONED BY
    * `cell`, plus the centroid table beside it. Build once, probe
    * many times — and because cells are parquet partitions, a probe
    * reads ONLY its nprobe/nlist directories via partition pruning
    * ([[ivfTopKIndexed]]): the on-disk twin of [[ivfTopK]]'s
    * equi-join, and the shape that lets a 100 TB corpus serve ANN
    * queries without ever rescanning itself.
    */
  def writeIvfIndex(corpus: DataFrame, dir: String, nlist: Int,
      refine: Int = 0, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val nc = normalized(corpus, idCol, vecCol)
    var cents = ivfCentroids(nc, nlist, idCol, vecCol)
    for (_ <- 0 until refine)
      cents = ivfRefineOnce(nc, cents, idCol, vecCol)
    cents.write.mode("overwrite").parquet(s"$dir/centroids")
    ivfAssign(nc, cents, 1, idCol, vecCol)
      .withColumnRenamed("centroid_id", "cell")
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/cells")
  }

  /** Incrementally add a batch to a [[writeIvfIndex]] index: the new
    * vectors are assigned against the EXISTING centroids and appended
    * into their cell directories — no rebuild, no touch of resident
    * cells. This is the maintenance half of the on-disk ANN story
    * (the streaming ingest gate's accepted docs land here); centroid
    * quality degrades only as the corpus distribution drifts, at
    * which point [[writeIvfIndex]] re-trains — the standard
    * build/serve split.
    */
  def appendToIvfIndex(newVectors: DataFrame, dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = newVectors.sparkSession
    val cents = spark.read.parquet(s"$dir/centroids")
    ivfAssign(normalized(newVectors, idCol, vecCol), cents, 1, idCol, vecCol)
      .withColumnRenamed("centroid_id", "cell")
      .write.mode("append").partitionBy("cell").parquet(s"$dir/cells")
  }

  /** Remove vectors from a [[writeIvfIndex]] index WITHOUT a rebuild
    * — the right-to-be-forgotten maintenance op. One id-filtered scan
    * finds the affected cells; their survivors are staged to a temp
    * table (Spark refuses to overwrite a path it is reading) and
    * written back with DYNAMIC partition overwrite
    * (`partitionOverwriteMode=dynamic`), so untouched cell
    * directories keep their files byte-for-byte; a cell whose every
    * member was deleted yields no survivor rows — dynamic overwrite
    * would leave its stale directory, so those are dropped
    * explicitly. At 100 TB deleting k ids rewrites O(k) cells, not
    * the corpus.
    */
  def removeFromIvfIndex(ids: Seq[Long], dir: String,
      spark: org.apache.spark.sql.SparkSession,
      idCol: String = "vec_id"): Unit = {
    require(ids.nonEmpty, "nothing to remove")
    // partition-column type inference reads `cell` back as int —
    // normalize to long once
    val cells = spark.read.parquet(s"$dir/cells")
      .withColumn("cell", col("cell").cast("long"))
    val affected = cells.filter(col(idCol).isin(ids: _*))
      .select("cell").distinct().collect().map(_.getLong(0))
    if (affected.nonEmpty) {
      val tmp = graft.EngineScratch.dir(spark, "graft-ivf-del")
      cells.filter(col("cell").isin(affected.toIndexedSeq: _*))
        .filter(!col(idCol).isin(ids: _*))
        .write.mode("overwrite").parquet(tmp)
      val staged = spark.read.parquet(tmp)
      val survivorCells = staged.select("cell").distinct()
        .collect().map(_.getLong(0)).toSet
      val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try staged.write.mode("overwrite").partitionBy("cell")
        .parquet(s"$dir/cells")
      finally prev match {
        case Some(v) =>
          spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None =>
          spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
      (affected.toSet -- survivorCells).foreach { c =>
        val d = new java.io.File(s"$dir/cells/cell=$c")
        Option(d.listFiles()).foreach(_.foreach(_.delete()))
        d.delete()
      }
    }
  }

  /** Probe a [[writeIvfIndex]] index: identical results to [[ivfTopK]]
    * with the same (nlist, nprobe, refine) — verified in ExtSpec —
    * but the corpus side comes from the index, filtered to the probed
    * cells. The probe-cell set is |queries|·nprobe ids computed
    * driver-side (the query set is broadcast-class by contract, same
    * as [[topK]]), so it lands in the scan as a LITERAL `cell IN
    * (...)` partition filter — the FileScan lists only those
    * directories; unprobed cells cost zero I/O.
    */
  def ivfTopKIndexed(dir: String, queries: DataFrame, k: Int,
      nprobe: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = queries.sparkSession
    val cents = spark.read.parquet(s"$dir/centroids")
    val nq = normalized(queries, idCol, vecCol)
    val probes = ivfAssign(nq, cents, nprobe, idCol, vecCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("nqv"),
        col("centroid_id").as("cell"))
    val probedCells = probes.select("cell").distinct()
      .collect().map(_.getLong(0)).sorted
    val cells = spark.read.parquet(s"$dir/cells")
      .filter(col("cell").isin(probedCells.toIndexedSeq: _*))
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("ncv"),
        col("cell").cast("long").as("cell"))
    val scored = cells.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", round(dot(col("nqv"), col("ncv")), 5))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "score", "rank")
  }

  /** LSH-bucketed approximate top-k: queries meet only corpus rows in
    * their own bucket (equi-join on bucket key → hash-partitioned
    * shuffle, each task scores one bucket's slice). Recall < 1 by
    * construction; raise `planes` to shrink buckets, lower it to
    * raise recall.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, planes: Int,
      dims: Int, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = withBucket(normalized(corpus, idCol, vecCol), planes, dims, vecCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("ncv"), col("bucket"))
    val q = withBucket(normalized(queries, idCol, vecCol), planes, dims, vecCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("nqv"), col("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", round(dot(col("nqv"), col("ncv")), 5))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "score", "rank")
  }

  /** K-means cluster profile of the corpus: md5-sampled seeds
    * ([[ivfCentroids]]) refined by `refine` deterministic Lloyd
    * steps ([[ivfRefineOnce]]), every vector assigned to its nearest
    * refined centroid, rolled up per cluster:
    *
    *  - `cluster_size` — membership count,
    *  - `mean_cohesion` — exact HALF_UP 5-decimal mean of the
    *    member→centroid cosine ([[graft.ext.TextStats.decAvg5]]:
    *    quantized-input averages land on .5×10⁻⁵ ties where double
    *    `round` is engine-dependent — SURVEY.md §8.3 rule 3),
    *  - `min_cohesion` — the worst member (cluster spread signal).
    *
    * This is the corpus-topology report a curation pipeline reads
    * before cluster-balanced sampling or SemDeDup-style pruning:
    * undersized or low-cohesion clusters flag junk modes.
    *
    * Scale shape: each Lloyd step and the final assignment are one
    * broadcast of `nlist` centroids + one map-side n·nlist score —
    * the corpus is shuffled only by (centroid_id, dim) for the
    * per-cell means and by centroid_id (nlist keys, map-side
    * combined) for the roll-up. Nothing is O(n²) and the corpus
    * never materializes on the driver.
    */
  def kmeansProfile(corpus: DataFrame, nlist: Int, refine: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    kmeansProfileFrom(kmeansAssign(corpus, nlist, refine, idCol, vecCol))

  /** Embedding-space DRIFT report: the pairwise cosine between
    * per-group centroid (mean) vectors, one row per unordered group
    * pair — `(group_a, group_b, n_a, n_b, centroid_cosine)`. This is
    * the distribution-shift monitor a training pipeline runs between
    * crawl snapshots, sources, or label slices: a centroid cosine
    * drifting down flags a semantic shift long before per-document
    * metrics move.
    *
    * Determinism: per-dim means come from exact `decimal(28,12)`-
    * quantized sums (the [[ivfRefineOnce]] rule — a float `avg` would
    * be partition-order dependent); mean vectors are reassembled in
    * dimension order via sorted structs; the cosine is one
    * sequential-fold dot per pair over those fixed arrays.
    *
    * Scale shape: one posexplode + (group, dim) aggregation over the
    * corpus (map-side combinable, dims·groups output rows), then an
    * all-pairs join over the GROUP table only — groups are a bounded
    * domain (sources, labels, snapshot ids), so the pair join is
    * broadcast-class regardless of corpus size.
    */
  def centroidDrift(corpus: DataFrame, groupCol: String,
      vecCol: String = "embedding"): DataFrame = {
    val means = corpus
      .select(col(groupCol).as("grp"),
        posexplode(asDouble(col(vecCol))).as(Seq("dim", "v")))
      .groupBy("grp", "dim")
      .agg((sum(col("v").cast(DecimalType(28, 12))).cast("double") /
        count(lit(1))).as("m"))
      .groupBy("grp")
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
      .select(col("grp"), transform(col("dm"), x => x.getField("m")).as("mv"))
    val sized = means.join(
      corpus.groupBy(col(groupCol).as("grp")).agg(count(lit(1)).as("n")),
      "grp")
    sized.as("l").join(sized.as("r"), col("l.grp") < col("r.grp"))
      .select(col("l.grp").as("group_a"), col("r.grp").as("group_b"),
        col("l.n").as("n_a"), col("r.n").as("n_b"),
        round(dot(col("l.mv"), col("r.mv")) /
          (sqrt(dot(col("l.mv"), col("l.mv"))) *
            sqrt(dot(col("r.mv"), col("r.mv")))), 5).as("centroid_cosine"))
  }

  /** Per-cluster simplified (centroid) silhouette of the refined
    * k-means clustering — the cluster-QUALITY report that tells a
    * curation pipeline whether its clusters are real structure or
    * arbitrary partitions before it trusts cluster-balanced sampling
    * / SemDeDup pruning: s ≈ 1 means members sit far closer to their
    * own centroid than to any other, s ≤ 0 means the assignment is no
    * better than the runner-up.
    *
    * Simplified silhouette (Hruschka et al.): distances to CENTROIDS
    * stand in for mean pairwise member distances — a(i) = d(i, own
    * centroid), b(i) = min over other centroids, s(i) = (b−a)/max(a,b).
    * The full formula's per-pair term is O(n²) per cluster and
    * unusable at corpus scale; the centroid form is the standard
    * large-n surrogate and needs exactly the scores k-means already
    * computes. Distances are cosine distance 1 − cos over normalized
    * vectors; with the top-2 centroid cosines c₁ ≥ c₂ per point,
    * s = ((1−c₂) − (1−c₁)) / max(1−c₁, 1−c₂) — computed from the same
    * 5-decimal-rounded cscores as the assignment itself, rounded at 5,
    * then aggregated per cluster with the exact HALF_UP decimal mean
    * (the `decAvg5` rule: quantized inputs land on .5×10⁻⁵ ties where
    * double `round` is engine-dependent).
    *
    * Both-centroids-coincident (max(a,b) = 0) yields s = 0 by
    * convention, never a divide-by-zero.
    *
    * Scale shape: identical to [[kmeansProfile]] — Lloyd steps are
    * broadcast-assign + per-cell means; the silhouette pass is ONE
    * extra broadcast scoring of the corpus where the top-2 pick is a
    * per-point pivot (single map-side-combinable groupBy on the id —
    * no self-join, no pair blowup), and the roll-up shuffles one row
    * per cluster.
    */
  def kmeansSilhouette(corpus: DataFrame, nlist: Int, refine: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(nlist >= 2, "silhouette needs at least 2 clusters")
    val nc = normalized(corpus, idCol, vecCol)
    var cents = ivfCentroids(nc, nlist, idCol, vecCol)
    for (_ <- 0 until refine) cents = ivfRefineOnce(nc, cents, idCol, vecCol)
    val scored = nc.join(broadcast(cents))
      .withColumn("cscore", round(dot(col(vecCol), col("centroid_vec")), 5))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("cscore").desc, col("centroid_id").asc)
    val top2 = scored
      .withColumn("crank", row_number().over(w))
      .filter(col("crank") <= 2)
      .groupBy(col(idCol))
      .agg(max(when(col("crank") === 1, col("centroid_id"))).as("cluster_id"),
        max(when(col("crank") === 1, col("cscore"))).as("__c1"),
        max(when(col("crank") === 2, col("cscore"))).as("__c2"))
    val a = lit(1.0) - col("__c1")
    val b = lit(1.0) - col("__c2")
    top2
      .withColumn("__sil",
        when(greatest(a, b) > 0, round((b - a) / greatest(a, b), 5))
          .otherwise(lit(0.0)))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        graft.ext.TextStats.decAvg5(col("__sil"), count(lit(1)))
          .as("mean_silhouette"),
        min(col("__sil")).as("min_silhouette"))
      .orderBy("cluster_id")
  }

  /** [[kmeansProfile]] over a PRECOMPUTED assignment (the
    * [[kmeansAssign]] output relation) — a pipeline that derives
    * several reports from one clustering (profile + capped sample +
    * SemDeDup pruning) runs the centroid pipeline once and feeds this
    * and [[clusterSampleFrom]] the shared frame, instead of paying
    * Lloyd iterations per report.
    */
  def kmeansProfileFrom(assigned: DataFrame): DataFrame =
    assigned
      .groupBy(col("centroid_id").as("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        graft.ext.TextStats.decAvg5(col("cscore"), count(lit(1)))
          .as("mean_cohesion"),
        min(col("cscore")).as("min_cohesion"))
      .orderBy("cluster_id")

  /** Embedding-space outlier report off a PRECOMPUTED k-means
    * assignment: vectors whose cosine-to-own-centroid sits `zThresh`
    * standard deviations BELOW their cluster's mean cohesion —
    * the junk-mode detector (mislabeled content, encoder failures,
    * adversarial inserts show up as points their own cluster holds at
    * arm's length). Returns (vec_id, cluster_id, cscore, z), z
    * rounded at 5, most-negative first per cluster ordering left to
    * the caller.
    *
    * Determinism: per-cluster moments come from EXACT decimal sums of
    * the 5-decimal-quantized cscores (Σx at scale 9, Σx² at scale 18
    * — a float sum would be partition-order dependent); mean/variance
    * then one identically-shaped double expression per cluster, so
    * both engines compute the identical z. A zero-variance cluster
    * (all members equidistant) has no outliers by construction
    * (std > 0 filter), never a divide-by-zero.
    *
    * Scale shape: one map-side-combined moment aggregate (one row per
    * cluster, broadcast back), one map-side z per member, one filter.
    * Output is tail-bounded (≈ z-tail fraction of the corpus), and
    * composing the SHARED assignment means the Lloyd pipeline is paid
    * once per suite, not per report.
    */
  def clusterOutliersFrom(assigned: DataFrame, zThresh: Double = 2.0,
      idCol: String = "vec_id"): DataFrame = {
    val stats = clusterStatsFrom(assigned).select(
      col("cluster_id").as("centroid_id"), col("mean_cohesion").as("__mean"),
      col("std_cohesion").as("__std"))
    assigned.join(broadcast(stats), "centroid_id")
      .filter(col("__std") > 0)
      .withColumn("z", round((col("cscore") - col("__mean")) / col("__std"), 5))
      .filter(col("z") <= -zThresh)
      .select(col(idCol), col("centroid_id").as("cluster_id"),
        col("cscore"), col("z"))
  }

  /** Per-cluster cohesion moments off a precomputed assignment:
    * (cluster_id, n, mean_cohesion, std_cohesion) — the persistable
    * MODEL half of the outlier detector (an ingest gate scores new
    * vectors against these without touching the training corpus).
    * Exact decimal Σx/Σx², one identically-shaped double mean/std
    * expression per cluster — deterministic under any partitioning.
    */
  def clusterStatsFrom(assigned: DataFrame): DataFrame = {
    val x = col("cscore").cast(DecimalType(18, 9))
    assigned.groupBy("centroid_id")
      .agg(count(lit(1)).as("n"), sum(x).as("__s1"), sum(x * x).as("__s2"))
      .withColumn("__mean", col("__s1").cast("double") / col("n"))
      .withColumn("__var",
        greatest((col("__s2").cast("double") -
          col("__s1").cast("double") * col("__s1").cast("double") / col("n"))
          / col("n"), lit(0.0)))
      .select(col("centroid_id").as("cluster_id"), col("n"),
        col("__mean").as("mean_cohesion"), sqrt(col("__var")).as("std_cohesion"))
  }

  /** Refined-k-means assignment: every corpus vector with its nearest
    * refined centroid and the (rounded) cosine to it — the shared
    * stage behind [[kmeansProfile]] and [[clusterSample]].
    */
  def kmeansAssign(corpus: DataFrame, nlist: Int, refine: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val nc = normalized(corpus, idCol, vecCol)
    var cents = ivfCentroids(nc, nlist, idCol, vecCol)
    for (_ <- 0 until refine) cents = ivfRefineOnce(nc, cents, idCol, vecCol)
    ivfAssign(nc, cents, 1, idCol, vecCol)
      .join(broadcast(cents), "centroid_id")
      .withColumn("cscore", round(dot(col(vecCol), col("centroid_vec")), 5))
      .select(col(idCol), col("centroid_id"), col("cscore"))
  }

  /** Cluster-capped diversity sample: at most `cap` members per
    * k-means cluster, picked by smallest md5(id) — the repo's
    * deterministic-membership convention ([[graft.ext.Sampling]]),
    * so the pick is reproducible on any engine and independent of
    * partitioning. This is the cluster-balanced pruning step that
    * keeps a corpus' coverage while cutting its bulk: an over-dense
    * mode (boilerplate, near-dup families) contributes at most `cap`
    * documents instead of its whole mass.
    *
    * Scale shape: assignment is map-side (broadcast centroids); the
    * per-cluster pick is rank ≤ cap over a window, which Spark plans
    * as WindowGroupLimit — each task retains at most cap+1 rows per
    * cluster BEFORE the exchange, so a skewed mega-cluster never
    * materializes in one task's memory.
    */
  def clusterSample(corpus: DataFrame, nlist: Int, refine: Int, cap: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    clusterSampleFrom(kmeansAssign(corpus, nlist, refine, idCol, vecCol),
      cap, idCol)

  /** [[clusterSample]] over a PRECOMPUTED assignment — the companion
    * of [[kmeansProfileFrom]], so one [[kmeansAssign]] run serves both
    * the topology report and the capped pick.
    */
  def clusterSampleFrom(assigned: DataFrame, cap: Int,
      idCol: String = "vec_id"): DataFrame = {
    val w = Window.partitionBy("centroid_id")
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    assigned
      .withColumn("pick", row_number().over(w))
      .filter(col("pick") <= cap)
      .select(col(idCol), col("centroid_id").as("cluster_id"),
        col("cscore"), col("pick"))
  }

  // ===================================================================
  // Product quantization (PQ) — the vector-COMPRESSION tier: each
  // vector becomes m small codebook indices (here 4 bytes instead of
  // 64 floats, a 64× shrink), and approximate distances are served
  // from the codes alone via ADC lookup tables. This is the memory
  // story of billion-vector ANN (FAISS's IVF+PQ): the IVF family
  // above prunes WHICH vectors a query meets; PQ shrinks WHAT is
  // stored and scanned per meeting.
  //
  // Codebooks are deterministic in the repo's sampled-centroid
  // convention (the ksub corpus rows with the smallest md5(id) — the
  // same zero-iteration bootstrap as ivfCentroids, refined by a real
  // k-means training job at scale). All distances are squared L2 over
  // the RAW double-cast vectors (PQ is an L2 machine; cosine callers
  // pre-normalize), computed from staged self-dots so each
  // (row, centroid) pair costs one cross-dot: ‖x−c‖² = xx − 2·xc + cc
  // — one identically-shaped IEEE expression in both engines, rounded
  // at 9 before the argmin (tie-break on code) so assignment is
  // bit-stable cross-engine.
  // ===================================================================

  /** Per-subspace PQ codebook: the `ksub` corpus rows with the
    * smallest md5(id), split into `m` contiguous sub-vectors of
    * dims/m dimensions; codes are 0..ksub−1 in md5 order. Returns
    * (sub, code, cvec, cc) with `cc` the staged centroid self-dot.
    */
  def pqCentroids(corpus: DataFrame, m: Int, ksub: Int, dims: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(dims % m == 0, s"dims=$dims not divisible by m=$m subspaces")
    val subDim = dims / m
    val picked = corpus
      .select(col(idCol), asDouble(col(vecCol)).as("__vd"),
        md5(col(idCol).cast("string")).as("__h"))
      .orderBy(col("__h"), col(idCol))
      .limit(ksub)
      .withColumn("code",
        row_number().over(Window.orderBy(col("__h"), col(idCol))) - 1)
    val subs = array((0 until m).map { s =>
      struct(lit(s).as("sub"),
        slice(col("__vd"), s * subDim + 1, subDim).as("cvec"))
    }: _*)
    picked.select(col("code"), explode(subs).as("sc"))
      .select(col("sc.sub").as("sub"), col("code"), col("sc.cvec").as("cvec"))
      .withColumn("cc", dot(col("cvec"), col("cvec")))
  }

  /** PQ-encode a corpus: each vector's `m` sub-vectors are assigned
    * to their nearest codebook centroid by squared L2 (rounded at 9,
    * code tie-break). Returns the LONG code relation
    * (idCol, sub, code, sq_dist) — m rows per vector; `sq_dist` the
    * per-subspace quantization error (Σ over sub = the vector's
    * reconstruction error).
    *
    * Scale shape: the codebook (m·ksub rows) broadcasts; sub-vector
    * expansion and scoring are map-side; the only exchange is the
    * per-(id, sub) argmin window, keyed by the id the corpus is
    * usually already partitioned on. Nothing joins corpus to corpus.
    */
  def pqEncode(corpus: DataFrame, m: Int = 4, ksub: Int = 16,
      dims: Int = 64, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val subDim = dims / m
    val cents = pqCentroids(corpus, m, ksub, dims, idCol, vecCol)
    val subs = array((0 until m).map { s =>
      struct(lit(s).as("sub"),
        slice(col("__vd"), s * subDim + 1, subDim).as("xv"))
    }: _*)
    val sv = corpus
      .select(col(idCol), asDouble(col(vecCol)).as("__vd"))
      .select(col(idCol), explode(subs).as("sx"))
      .select(col(idCol), col("sx.sub").as("sub"), col("sx.xv").as("xv"))
      .withColumn("xx", dot(col("xv"), col("xv")))
    val scored = sv.join(broadcast(cents), "sub")
      .withColumn("d",
        round(col("xx") - lit(2.0) * dot(col("xv"), col("cvec")) + col("cc"), 9))
    val w = Window.partitionBy(col(idCol), col("sub"))
      .orderBy(col("d").asc, col("code").asc)
    scored.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col(idCol), col("sub"), col("code"), col("d").as("sq_dist"))
  }

  /** ADC (asymmetric distance computation) top-k over PQ codes: each
    * query precomputes its m·ksub-entry lookup table of sub-distances
    * to every codebook centroid; a corpus vector's approximate
    * distance is then the sum of m table lookups — the codes
    * relation is scanned, never the vectors.
    *
    * Determinism: each table entry is quantized to DECIMAL(18,9), so
    * the m-term ADC sum is exact decimal addition — bit-stable under
    * any partitioning and engine. Rank ties break on neighbor id.
    *
    * Scale shape: the lookup table (|queries|·m·ksub rows) is
    * BROADCAST onto the code relation — the corpus-sized side never
    * shuffles for scoring; the per-query rank is a WindowGroupLimit
    * top-k. At 100 TB the scan reads m small ints per vector instead
    * of dims floats — the 64× I/O cut is the operator's point.
    */
  /** Per-query ADC lookup table against a PQ codebook:
    * (query_id, sub, code, dq) with dq the DECIMAL(18,9)-quantized
    * squared sub-distance — the broadcast side of every ADC scoring
    * join (|queries|·m·ksub rows).
    */
  private def adcTable(queries: DataFrame, codebook: DataFrame, m: Int,
      dims: Int, idCol: String, vecCol: String): DataFrame = {
    val subDim = dims / m
    val subs = array((0 until m).map { s =>
      struct(lit(s).as("sub"),
        slice(col("__vd"), s * subDim + 1, subDim).as("qv"))
    }: _*)
    queries
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("__vd"))
      .select(col("query_id"), explode(subs).as("sq"))
      .select(col("query_id"), col("sq.sub").as("sub"), col("sq.qv").as("qv"))
      .withColumn("qq", dot(col("qv"), col("qv")))
      .join(broadcast(codebook), "sub")
      .select(col("query_id"), col("sub"), col("code"),
        round(col("qq") - lit(2.0) * dot(col("qv"), col("cvec")) + col("cc"), 9)
          .cast(DecimalType(18, 9)).as("dq"))
  }

  def pqAdcTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      m: Int = 4, ksub: Int = 16, dims: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val codes = pqEncode(corpus, m, ksub, dims, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("sub"), col("code"))
    val cents = pqCentroids(corpus, m, ksub, dims, idCol, vecCol)
    val dtable = adcTable(queries, cents, m, dims, idCol, vecCol)
    val scored = codes.join(broadcast(dtable), Seq("sub", "code"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum(col("dq")).as("__adc"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__adc").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("__adc").cast("double"), 5).as("adc_dist"), col("rank"))
  }

  /** Embedding-dimension HEALTH profile: one row per dimension with
    * `(dim, n, n_zero, mn, mx, mean, std)` over the raw (double-cast)
    * corpus vectors — the dead/collapsed-dimension detector run
    * before any ANN index build (a dimension with std ≈ 0 wastes
    * index bytes and, for min/max-scaled quantizers like SQ8,
    * degenerates the code range).
    *
    * Determinism: min/max/counts are exact; mean and variance come
    * from DECIMAL(28,12)-quantized sums (`Σv`, `Σv²` — each product
    * is one IEEE double then an exact decimal quantization, so the
    * sums are partition-independent); the visible mean/std are
    * rounded at 5.
    *
    * Scale shape: one posexplode + per-dim aggregation, map-side
    * combinable, dims output rows — a single corpus pass however
    * large the table.
    */
  def dimProfile(corpus: DataFrame,
      vecCol: String = "embedding"): DataFrame = {
    val sumV = sum(col("v").cast(DecimalType(28, 12))).cast("double")
    val sumSq = sum((col("v") * col("v")).cast(DecimalType(28, 12)))
      .cast("double")
    val n = count(lit(1)).cast("double")
    corpus
      .select(posexplode(asDouble(col(vecCol))).as(Seq("dim", "v")))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        sum(when(col("v") === 0.0, 1L).otherwise(0L)).as("n_zero"),
        min("v").as("mn"), max("v").as("mx"),
        round(sumV / n, 5).as("mean"),
        round(sqrt(greatest(lit(0.0), (sumSq - sumV * sumV / n) / n)), 5)
          .as("std"))
  }

  /** Multi-probe LSH top-k: each query probes its own sign-bit bucket
    * PLUS every bucket at Hamming distance 1 (one flipped
    * hyperplane) — the classic recall repair for vectors near a
    * hyperplane, recovering most of banding's recall without extra
    * tables (Lv et al., VLDB 2007). A corpus vector lives in exactly
    * one bucket, so the probe join emits each (query, neighbor) pair
    * at most once — no dedup stage.
    *
    * Scale shape: identical to [[lshTopK]] with a (planes+1)×
    * broadcast-side expansion — the corpus side still scans once and
    * joins on the bucket key; the per-query rank is a
    * WindowGroupLimit top-k.
    */
  def lshMultiProbeTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      planes: Int = 4, dims: Int = 64, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val c = withBucket(normalized(corpus, idCol, vecCol), planes, dims, vecCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("ncv"), col("bucket"))
    val probeMasks = lit(0L) +: (0 until planes).map(p => lit(1L << p))
    val q = withBucket(normalized(queries, idCol, vecCol), planes, dims, vecCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("nqv"),
        explode(array(probeMasks.map(m => col("bucket").bitwiseXOR(m)): _*))
          .as("bucket"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", round(dot(col("nqv"), col("ncv")), 5))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
  }

  /** Per-dimension SQ8 bounds over a NORMALIZED corpus, as ONE row of
    * dimension-ordered arrays `(__mn, __mx)` — min/max are exact
    * (no accumulation), so the bounds are partition-independent.
    */
  private def sq8Bounds(normCorpus: DataFrame, vecCol: String): DataFrame =
    normCorpus
      .select(posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy("dim").agg(min("v").as("mn"), max("v").as("mx"))
      .groupBy()
      .agg(array_sort(collect_list(struct(col("dim"), col("mn"), col("mx"))))
        .as("dmm"))
      .select(transform(col("dmm"), x => x.getField("mn")).as("__mn"),
        transform(col("dmm"), x => x.getField("mx")).as("__mx"))

  /** Scalar-quantized (SQ8, FAISS `SQ8`-style) search: each corpus
    * dimension is affinely quantized to an 8-bit code against the
    * per-dim [min, max] trained on the corpus; queries stay
    * full-precision and score ASYMMETRICALLY against the dequantized
    * codes (`Σ q_d · (mn_d + code_d·Δ_d/255)`); the per-query top
    * `rerank` approximate candidates are then re-scored with the
    * exact cosine and the true top-k returned. The middle compression
    * point between a flat scan (4 bytes/dim) and PQ (m codes per
    * vector): 1 byte/dim, no codebook training.
    *
    * Determinism: bounds are exact min/max; codes are
    * `floor(t/Δ·255 + 0.5)` on IEEE doubles (no accumulation);
    * the approximate and exact scores are sequential-fold dots over
    * dimension-ordered arrays; both rank ties break on neighbor id —
    * bit-identical under any partitioning (SURVEY §8.3).
    *
    * Scale shape: bounds are a dims-row aggregate broadcast back as
    * one row; scoring is a broadcast-queries map-side pass over the
    * corpus; both rank stages are per-query WindowGroupLimit top-k.
    * Nothing is O(n²), nothing corpus-sized shuffles. At 100 TB the
    * codes relation (1 byte/dim) would be the persisted artifact and
    * the exact rerank would fetch only `rerank` full vectors per
    * query by id.
    */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, k: Int,
      rerank: Int = 30, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val c = normalized(corpus, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("ncv"))
    val q = normalized(queries, idCol, vecCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("nqv"))
    val coded = c.crossJoin(broadcast(sq8Bounds(c, "ncv")))
      .withColumn("__delta", zip_with(col("__mx"), col("__mn"), (x, m) => x - m))
      .withColumn("__codes", zip_with(
        zip_with(col("ncv"), col("__mn"), (v, m) => v - m),
        col("__delta"),
        (t, d) => when(d > 0, floor(t / d * lit(255.0) + lit(0.5)))
          .otherwise(lit(0L)).cast("int")))
      .withColumn("__dq", zip_with(
        zip_with(col("__codes"), col("__delta"),
          (cc, d) => cc.cast("double") * d / lit(255.0)),
        col("__mn"), (p, m) => p + m))
      .select(col("neighbor_id"), col("ncv"), col("__dq"))
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("__approx").desc, col("neighbor_id").asc)
    val wE = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    coded.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("__approx", dot(col("nqv"), col("__dq")))
      .withColumn("__ar", row_number().over(wA))
      .filter(col("__ar") <= rerank)
      .withColumn("score", round(dot(col("nqv"), col("ncv")), 5))
      .withColumn("rank", row_number().over(wE))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
  }

  /** Binary (1-bit sign) quantized search — the most compressed point
    * of the quantization family (SQ8 = 8 bits/dim, PQ = m codes,
    * binary = 1 bit/dim): each normalized vector is reduced to its
    * per-dimension SIGN BITS packed into one BIGINT (dims ≤ 64), the
    * approximate ranking is ASCENDING Hamming distance
    * `bit_count(qbits XOR cbits)` (for unit vectors the expected
    * angle grows with the number of disagreeing hyperplane signs —
    * the SimHash estimate with the coordinate axes as planes), and
    * the per-query top `rerank` candidates are re-scored with the
    * exact cosine. 64 dims collapse to 8 BYTES per corpus row, and
    * the distance is ONE xor + popcount — the cheapest possible scan.
    *
    * Determinism: the sign test `v >= 0` on exactly-normalized
    * doubles is engine-identical; Hamming is integer; both rank
    * stages break ties on neighbor id (Hamming ties are COMMON at
    * 1 bit/dim — the id tie-break carries the determinism, and the
    * exact rerank restores metric quality).
    *
    * Scale shape: bit-packing is a map-side pass (no shuffle);
    * scoring is broadcast-queries × corpus with an 8-byte payload;
    * both rank stages are per-query WindowGroupLimit. At 100 TB the
    * packed-bits relation is ~1/256th of the float corpus and would
    * be the persisted scan artifact; the rerank fetches only
    * `rerank` full vectors per query by id.
    */
  def binaryTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      rerank: Int = 30, dims: Int = 64, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(dims >= 1 && dims <= 64, "packed sign bits need dims in [1, 64]")
    // Σ_d (nv[d] >= 0) << d, folded as a long — one BIGINT per vector.
    // Bit 63 makes the long negative; XOR + bit_count is sign-blind.
    val powers = typedLit((0 until dims).map(1L << _))
    def signBits(vec: Column): Column = aggregate(
      zip_with(vec, powers, (v, p) => when(v >= 0, p).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
    val c = normalized(corpus, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("ncv"))
      .withColumn("__cb", signBits(col("ncv")))
    val q = normalized(queries, idCol, vecCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("nqv"))
      .withColumn("__qb", signBits(col("nqv")))
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("__ham").asc, col("neighbor_id").asc)
    val wE = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("__ham",
        expr("bit_count(__qb ^ __cb)").cast("int"))
      .withColumn("__ar", row_number().over(wA))
      .filter(col("__ar") <= rerank)
      .withColumn("score", round(dot(col("nqv"), col("ncv")), 5))
      .withColumn("rank", row_number().over(wE))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("__ham").as("hamming"),
        col("score"), col("rank"))
  }

  /** Hard-negative mining for contrastive training: per query, the
    * top-k corpus neighbors whose cosine lands in the HARD BAND
    * `[floor, ceiling)` — close enough to be informative negatives,
    * but below the near-duplicate/positive ceiling (those are the
    * POSITIVES a contrastive pair must not treat as negatives —
    * false negatives poison the loss) and above the floor that cuts
    * trivially-easy negatives the model already separates. The
    * standard mining step for embedding-model training data
    * (anchor, positive, k hard negatives).
    *
    * Determinism: band edges compare the same rounded scale-5 score
    * the result reports; ranking breaks ties on neighbor id.
    *
    * Scale shape: identical to [[topK]] — broadcast queries,
    * map-side scoring, per-query WindowGroupLimit; the band filter
    * prunes BEFORE the window, so the ranked relation only holds
    * in-band rows. At 100 TB the scoring pass rides the same IVF /
    * binary-code pruning as the search family (compose: feed
    * [[ivfTopK]] candidates in as `corpus`).
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
      floor: Double, ceiling: Double, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(floor < ceiling, "need floor < ceiling")
    val c = normalized(corpus, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("ncv"))
    val q = normalized(queries, idCol, vecCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("nqv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("score", round(dot(col("nqv"), col("ncv")), 5))
      .filter(col("score") >= floor && col("score") < ceiling)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "score", "rank")
  }

  /** IVF + PQ composed search — the full FAISS-style shape: IVF
    * cells prune WHICH corpus vectors a query meets (equi-join on
    * centroid_id, nprobe/nlist of the corpus per query), and PQ
    * codes decide HOW each meeting is scored (m ADC lookups instead
    * of a dims-float dot). Everything runs on the NORMALIZED vectors,
    * so the ADC squared-L2 is 2 − 2·cos — monotone in cosine, making
    * this the compressed drop-in for [[ivfTopK]]'s ranking. (Flat PQ
    * within cells; residual encoding is the classic refinement and
    * would slot in as a per-cell centering of [[pqEncode]]'s input.)
    *
    * Scale shape: candidates are generated as LIGHT (query, neighbor)
    * id pairs from the cell join (§8.4 rule 12 — vectors never ride
    * the join); codes attach by an id-keyed join; the broadcast
    * lookup table and per-query WindowGroupLimit are [[pqAdcTopK]]'s.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4, m: Int = 4, ksub: Int = 16,
      dims: Int = 64, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val nc = normalized(corpus, idCol, vecCol)
    val nq = normalized(queries, idCol, vecCol)
    val cents = ivfCentroids(nc, nlist, idCol, vecCol)
    val cells = ivfAssign(nc, cents, 1, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("centroid_id"))
    val probes = ivfAssign(nq, cents, nprobe, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("centroid_id"))
    val cand = cells.join(broadcast(probes), Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
    val codes = pqEncode(nc, m, ksub, dims, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("sub"), col("code"))
    val pqc = pqCentroids(nc, m, ksub, dims, idCol, vecCol)
    val dtable = adcTable(nq, pqc, m, dims, idCol, vecCol)
    val scored = cand.join(codes, "neighbor_id")
      .join(broadcast(dtable), Seq("query_id", "sub", "code"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum(col("dq")).as("__adc"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__adc").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("__adc").cast("double"), 5).as("adc_dist"), col("rank"))
  }

  /** IVF-PQ with RESIDUAL encoding — FAISS's default composition:
    * instead of quantizing raw vectors, PQ quantizes each vector's
    * residual v − c(v) against its cell centroid. WHEN the corpus has
    * real cluster structure the coarse quantizer explains it, the
    * residual distribution is small shared noise pooled across all
    * cells, and the same codebook budget spends its codes on fine
    * detail — lower reconstruction error at identical storage
    * (spec-demonstrated on many-cluster data). The boundary is
    * honest: on structureless (near-random) vectors, v − c can carry
    * MORE energy than v and residual encoding loses — which is why
    * FAISS exposes by_residual as a switch, and why this operator is
    * the sibling of [[ivfPqTopK]], not its replacement. The price is
    * a PER-(query, probed-cell) ADC table (the query's residual
    * differs in every probed cell): |queries|·nprobe·m·ksub rows,
    * still broadcast-class.
    *
    * Scale shape mirrors [[ivfPqTopK]]: candidates are light id
    * pairs from the cell join; codes attach by (neighbor, cell); the
    * keyed lookup table broadcasts; per-query WindowGroupLimit ranks.
    * One shared residual codebook across cells (the FAISS default),
    * trained on the md5-sampled residual rows — deterministic in the
    * repo's sampled-centroid convention.
    */
  def ivfPqResidualTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4, m: Int = 4, ksub: Int = 16,
      dims: Int = 64, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val subDim = dims / m
    val nc = normalized(corpus, idCol, vecCol)
    val nq = normalized(queries, idCol, vecCol)
    val cents = ivfCentroids(nc, nlist, idCol, vecCol)
    val assigned = ivfAssign(nc, cents, 1, idCol, vecCol)
    val resid = assigned.join(broadcast(cents), "centroid_id")
      .select(col(idCol), col("centroid_id"),
        zip_with(col(vecCol), col("centroid_vec"), (a, b) => a - b).as(vecCol))
    // shared residual codebook + per-vector codes, cell label attached
    val pqc = pqCentroids(resid, m, ksub, dims, idCol, vecCol)
    val codes = pqEncode(resid, m, ksub, dims, idCol, vecCol)
      .join(assigned.select(col(idCol), col("centroid_id")), idCol)
      .select(col(idCol).as("neighbor_id"), col("centroid_id"),
        col("sub"), col("code"))
    // per-(query, probed cell) residuals → keyed ADC lookup table
    val probes = ivfAssign(nq, cents, nprobe, idCol, vecCol)
    val qresid = probes.join(broadcast(cents), "centroid_id")
      .select(col(idCol).as("query_id"), col("centroid_id"),
        zip_with(col(vecCol), col("centroid_vec"), (a, b) => a - b).as("qr"))
    val subs = array((0 until m).map { s =>
      struct(lit(s).as("sub"),
        slice(col("__vd"), s * subDim + 1, subDim).as("qv"))
    }: _*)
    val dtable = qresid
      .select(col("query_id"), col("centroid_id"), asDouble(col("qr")).as("__vd"))
      .select(col("query_id"), col("centroid_id"), explode(subs).as("sq"))
      .select(col("query_id"), col("centroid_id"),
        col("sq.sub").as("sub"), col("sq.qv").as("qv"))
      .withColumn("qq", dot(col("qv"), col("qv")))
      .join(broadcast(pqc), "sub")
      .select(col("query_id"), col("centroid_id"), col("sub"), col("code"),
        round(col("qq") - lit(2.0) * dot(col("qv"), col("cvec")) + col("cc"), 9)
          .cast(DecimalType(18, 9)).as("dq"))
    val cand = assigned.select(col(idCol).as("neighbor_id"), col("centroid_id"))
      .join(broadcast(probes.select(col(idCol).as("query_id"),
        col("centroid_id"))), Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
    val scored = cand.join(codes, Seq("neighbor_id", "centroid_id"))
      .join(broadcast(dtable), Seq("query_id", "centroid_id", "sub", "code"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum(col("dq")).as("__adc"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__adc").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("__adc").cast("double"), 5).as("adc_dist"), col("rank"))
  }

  /** Two-stage compressed serving: [[ivfPqTopK]]'s ADC ranking
    * generates `candidateK` candidates per query from codes alone,
    * then the survivors — and ONLY the survivors — are re-scored by
    * exact cosine against the raw vectors and re-ranked. This is the
    * standard refine step of compressed ANN: the corpus-sized scan
    * stays m-ints-per-vector; the dims-float reads happen for
    * |queries|·candidateK ids, fetched by an id equi-join (§8.4 rule
    * 12 — vectors never ride the candidate join), so refine cost is
    * query-volume-shaped, not corpus-shaped.
    */
  def ivfPqRefineTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      candidateK: Int, nlist: Int = 16, nprobe: Int = 4, m: Int = 4,
      ksub: Int = 16, dims: Int = 64, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(candidateK >= k, s"candidateK=$candidateK must cover k=$k")
    val cand = ivfPqTopK(corpus, queries, candidateK, nlist, nprobe, m,
      ksub, dims, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"))
    val nc = normalized(corpus, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("ncv"))
    val nq = normalized(queries, idCol, vecCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("nqv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    cand.join(nc, "neighbor_id")
      .join(broadcast(nq), "query_id")
      .withColumn("score", round(dot(col("nqv"), col("ncv")), 5))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "score", "rank")
  }

  /** Materialize a FAISS-style IVF-PQ index on disk: IVF centroids,
    * the PQ codebook, and the corpus as PQ CODES (m small ints per
    * vector) partitioned by IVF cell. The serving twin of
    * [[writeIvfIndex]] for corpora whose raw vectors are too large to
    * keep online: a probe reads only nprobe/nlist code directories
    * (partition pruning) and each read row is m codes, not dims
    * floats — the two prunings compose to the minimal I/O ANN shape.
    * Centroids and codebook derive from the same normalized corpus
    * the flat functions use, so [[ivfPqTopKIndexed]] returns
    * bit-identical rows to [[ivfPqTopK]] with the same parameters.
    */
  def writeIvfPqIndex(corpus: DataFrame, dir: String, nlist: Int,
      m: Int = 4, ksub: Int = 16, dims: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val nc = normalized(corpus, idCol, vecCol)
    val cents = ivfCentroids(nc, nlist, idCol, vecCol)
    cents.write.mode("overwrite").parquet(s"$dir/centroids")
    pqCentroids(nc, m, ksub, dims, idCol, vecCol)
      .write.mode("overwrite").parquet(s"$dir/codebook")
    val cellOf = ivfAssign(nc, cents, 1, idCol, vecCol)
      .select(col(idCol), col("centroid_id").as("cell"))
    pqEncode(nc, m, ksub, dims, idCol, vecCol)
      .select(col(idCol), col("sub"), col("code"))
      .join(cellOf, idCol)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/codes")
  }

  /** Probe a [[writeIvfPqIndex]] index: queries are assigned to their
    * nprobe cells against the stored centroids, the probed cells land
    * in the scan as a literal partition filter (unprobed directories
    * cost zero I/O), and candidates are ADC-scored from the stored
    * codes via the stored codebook — the raw corpus is never read.
    * Identical results to [[ivfPqTopK]] with the same parameters
    * (verified in ExtSpec).
    */
  def ivfPqTopKIndexed(dir: String, queries: DataFrame, k: Int,
      nprobe: Int, m: Int = 4, dims: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = queries.sparkSession
    val cents = spark.read.parquet(s"$dir/centroids")
    val codebook = spark.read.parquet(s"$dir/codebook")
    val nq = normalized(queries, idCol, vecCol)
    val probes = ivfAssign(nq, cents, nprobe, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("centroid_id").as("cell"))
    val probedCells = probes.select("cell").distinct()
      .collect().map(_.getLong(0)).sorted
    val codes = spark.read.parquet(s"$dir/codes")
      .filter(col("cell").isin(probedCells.toIndexedSeq: _*))
      .select(col(idCol).as("neighbor_id"), col("sub"), col("code"),
        col("cell").cast("long").as("cell"))
    val dtable = adcTable(nq, codebook, m, dims, idCol, vecCol)
    val scored = codes
      .join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .join(broadcast(dtable), Seq("query_id", "sub", "code"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum(col("dq")).as("__adc"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__adc").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("__adc").cast("double"), 5).as("adc_dist"), col("rank"))
  }
}
