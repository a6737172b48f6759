package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.exec.Share

/** Multinomial Naive Bayes over token counts — the fastText-style
  * document classifier slot of the pipeline (quality classifiers,
  * domain routers, language verifiers are all this shape at heart:
  * linear scores over sparse token features). Trained relationally
  * from a labeled corpus; no driver-side model object — the "model"
  * IS two DataFrames (per-class priors, per-(token, class)
  * log-likelihoods), which is exactly what makes it a 100 TB
  * operator: training is two token-keyed aggregations, scoring is
  * one token-keyed join, and the model relation persists like any
  * other table.
  *
  * Cross-engine determinism (SURVEY.md §8.3): every log-probability
  * is quantized to DECIMAL(18,9) (ln differs ≤ 1 ulp between
  * engines, far inside the quantum); a document's class score is
  * then Σ tf·llh + prior in EXACT decimal arithmetic — tf enters as
  * DECIMAL(10,0) (rule 11: a long factor would silently drop the
  * scale), so addition order cannot flip a digit and the argmax
  * (score desc, label asc) is bit-stable under any partitioning.
  *
  * Scale shape: training = one (label, token) count shuffle
  * (map-side combined, vocabulary-sized output) + a vocabulary ×
  * classes grid built by a broadcast cross of the tiny class-totals
  * relation. Scoring = one (doc, token) tf aggregation, one
  * token-keyed join against the grid (C rows per token — C is the
  * class count, single digits), one per-doc roll-up. The corpus is
  * never joined to itself and never shuffled by token twice.
  */
object Classify {

  /** Build N independent frames as CONCURRENT Spark jobs (guide §2.6:
    * the scheduler happily overlaps jobs; they are only sequential
    * because driver code calls actions sequentially). Used by the
    * multi-labeler agreement operators, whose labelers are disjoint
    * pipelines over the same corpus — one labeler's stage tail
    * back-fills cores with the next labeler's stages instead of
    * leaving them idle. Each labeler runs in the caller's
    * [[Share.scope]], and all of them finish before the first failure
    * is rethrown, so the scope outlives every share they make.
    */
  private def concurrently[T](fs: (() => T)*): Seq[T] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val running = fs.map(Share.carry(_)).map(f => Future(f()))
    running.foreach(Await.ready(_, Duration.Inf))
    running.map(_.value.get.get)
  }

  /** Laplace-smoothed per-(token, label) log-likelihoods over the
    * JOINT vocabulary: llh(t, c) = round(ln((count(t,c) + 1) /
    * (tokens(c) + V)), 9) as DECIMAL(18,9). Dense in the grid sense —
    * a token absent from a class still gets its smoothed floor row,
    * which is what lets scoring be a plain equi-join with no
    * missing-key fallback path.
    */
  def nbTokenLikelihoods(df: DataFrame, labelCol: String = "lang",
      textCol: String = "text"): DataFrame =
    likelihoodsFromCounts(tokenClassCounts(df, labelCol, textCol))

  /** (label, token, c) corpus token counts — SHARED via lazy persist
    * (A/B-measured against an eager checkpoint, which serializes the
    * plan into barrier jobs and lost on every consumer query) (the cc
    * relation feeds four plan consumers: class totals, vocabulary
    * size, the vocabulary itself, and the grid join; without the cut
    * the optimizer duplicates the scan+tokenize+count subtree into
    * each — measured on q_nb_confusion's plan as 4 separate parquet
    * scans of the text column, i.e. the corpus tokenized four times
    * per invocation).
    */
  private def tokenClassCounts(df: DataFrame, labelCol: String,
      textCol: String): DataFrame = {
    val toks = Dedup.spread(df, textCol)
      .select(col(labelCol).as("label"),
        explode_outer(TextStats.tokens(col(textCol))).as("token"))
      .filter(col("token").isNotNull)
    Share.lazily(
      toks.groupBy("label", "token").agg(count(lit(1)).as("c")))
  }

  /** Laplace-smoothed grid over a (label, token, c) counts relation —
    * the algebra half of [[nbTokenLikelihoods]], shared with
    * [[nbPredict]] so the predict path can feed it counts derived
    * from its own single tokenization pass.
    */
  private def likelihoodsFromCounts(cc: DataFrame): DataFrame = {
    val classTotals = cc.groupBy("label").agg(sum(col("c")).as("nt"))
    val vocabSize = cc.agg(countDistinct(col("token")).as("v"))
    val vocab = cc.select("token").distinct()
    vocab.crossJoin(broadcast(classTotals))
      .crossJoin(broadcast(vocabSize))
      .join(cc, Seq("token", "label"), "left")
      .select(col("token"), col("label"),
        round(log((coalesce(col("c"), lit(0L)) + lit(1L)).cast("double") /
          (col("nt") + col("v")).cast("double")), 9)
          .cast(DecimalType(18, 9)).as("llh"))
  }

  /** Per-class log-priors: (label, n_docs, prior) with
    * prior = round(ln(n_docs / total_docs), 9) as DECIMAL(18,9).
    */
  def nbPriors(df: DataFrame, labelCol: String = "lang"): DataFrame = {
    val cd = df.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n_docs"))
    cd.crossJoin(broadcast(cd.agg(sum(col("n_docs")).as("total"))))
      .select(col("label"), col("n_docs"),
        round(log(col("n_docs").cast("double") / col("total").cast("double")), 9)
          .cast(DecimalType(18, 9)).as("prior"))
  }

  /** Lazily-shared per-doc (idCol, label, token, tf) counts — the ONE
    * tokenization pass the whole classifier (and, in the agreement
    * operators, the langid labeler too) derives from. Package-private
    * so multi-labeler operators can share one pass across labelers.
    */
  private[ext] def docTokenCounts(df: DataFrame, labelCol: String = "lang",
      idCol: String = "doc_id", textCol: String = "text",
      eager: Boolean = false): DataFrame = {
    val plan = Dedup.spread(df, textCol)
      .select(col(idCol), col(labelCol).as("label"),
        explode_outer(TextStats.tokens(col(textCol))).as("token"))
      .filter(col("token").isNotNull)
      .groupBy(idCol, "label", "token").agg(count(lit(1)).as("tf"))
    // eager for the agreement operators: their labelers run as
    // CONCURRENT jobs, and concurrent stages racing to populate a
    // lazy cache duplicate the tokenization they are meant to share —
    // a checkpoint before the fan-out computes it exactly once.
    if (eager) Share.checkpointWide(plan) else Share.lazily(plan)
  }

  /** Score every document against every class and keep the argmax:
    * (idCol, actual, predicted, score) — `score` the winning class's
    * exact decimal log-posterior rendered at 5 decimals, `predicted`
    * NULL for zero-token documents (nothing to score; real pipelines
    * route those to a fallback, and hiding them would be a silent
    * drop). Here the corpus scores itself (the self-train smoke of a
    * classifier slot); a train/apply split persists
    * [[nbTokenLikelihoods]]/[[nbPriors]] and joins them instead.
    */
  def nbPredict(df: DataFrame, labelCol: String = "lang",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    nbPredictFromCounts(df, docTokenCounts(df, labelCol, idCol, textCol),
      labelCol, idCol, textCol)

  /** [[nbPredict]] over an already-materialized [[docTokenCounts]]
    * relation. ONE tokenization pass trains AND scores: the training
    * counts cc are the counts' label roll-up (sum of per-doc counts ≡
    * the direct count — exact integers, same multiset) and tf is
    * their projection. The previous shape tokenized the corpus twice
    * (train + score) and the train subtree another 3× via plan
    * duplication.
    */
  private def nbPredictFromCounts(df: DataFrame, dtc: DataFrame,
      labelCol: String, idCol: String, textCol: String): DataFrame = {
    // cc is NOT checkpointed: its four consumers re-aggregate from the
    // dtc leaf (a vocab-sized hash agg each) INSIDE the one main job,
    // where the scheduler overlaps them — a second eager checkpoint
    // here measured as a pure serialization barrier (one more
    // full-materialization job between dtc and the scoring job) worth
    // more than the re-aggregation it saves.
    val cc = dtc.groupBy("label", "token").agg(sum(col("tf")).as("c"))
    val llh = likelihoodsFromCounts(cc)
    val priors = nbPriors(df, labelCol)
    val tf = dtc.select(col(idCol), col("token"), col("tf"))
    val scores = tf.join(llh, "token")
      .groupBy(col(idCol), col("label"))
      .agg(sum(col("tf").cast(DecimalType(10, 0)) * col("llh")).as("s"))
      .join(broadcast(priors.select(col("label"), col("prior"))), "label")
      .select(col(idCol), col("label"), (col("s") + col("prior")).as("score"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("label").asc)
    val best = scores.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col(idCol), col("label").as("predicted"),
        round(col("score").cast("double"), 5).as("score"))
    df.select(col(idCol), col(labelCol).as("actual"))
      .join(best, Seq(idCol), "left")
  }

  /** Confusion matrix of the self-train prediction:
    * (actual, predicted, n_docs) — the classifier-quality dashboard
    * relation (diagonal = agreement with the labels).
    */
  def nbConfusion(df: DataFrame, labelCol: String = "lang",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    nbPredict(df, labelCol, idCol, textCol)
      .groupBy("actual", "predicted")
      .agg(count(lit(1)).as("n_docs"))

  /** K-fold cross-validated Naive Bayes accuracy — the HONEST version
    * of [[nbConfusion]]'s self-train smoke: every document is scored
    * by a model whose training never saw its fold. Returns one row per
    * fold: (fold, n_docs, n_correct, accuracy).
    *
    * == The leave-one-fold-out trick ==
    * K separate trainings would scan the corpus K times. Instead the
    * fold is a GROUPING KEY: token counts aggregate once per (fold,
    * label, token), and fold f's training counts are the SUBTRACTION
    * global − fold_f — likewise the per-(fold, label) token totals,
    * per-fold training vocabulary (total distinct minus
    * fold-exclusive tokens) and doc-count priors. One corpus scan
    * trains all K models exactly.
    *
    * Determinism: the Laplace-smoothed log-likelihoods and log-priors
    * are quantized to DECIMAL(18,9) like [[nbTokenLikelihoods]]; doc
    * scores are exact decimal Σ tf·llh + prior; argmax tie-breaks
    * (score desc, label asc). Zero-token docs predict NULL (counted,
    * never correct) — the [[nbPredict]] convention.
    *
    * Scale shape: everything is either token-keyed (counts, the
    * scoring join against the vocab×classes grid — C rows per token)
    * or bounded (per-(fold, label) totals: K·C rows, broadcast; the
    * label domain itself). The corpus shuffles once by (fold, label,
    * token) for counts and once by (doc, token) for tf — the
    * [[nbPredict]] plan with one extra bounded dimension.
    */
  def nbCrossVal(df: DataFrame, k: Int = 5, labelCol: String = "lang",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val folded = Sampling.kfold(df.select(col(idCol), col(labelCol),
      col(textCol)), k, idCol)
    val toks = Dedup.spread(folded, textCol)
      .select(col(idCol), col("fold"), col(labelCol).as("label"),
        explode_outer(TextStats.tokens(col(textCol))).as("token"))
      .filter(col("token").isNotNull)
    // ONE corpus-wide count aggregation — every later relation (cf,
    // tf, vocab, totals) is algebra over its roll-ups. MATERIALIZED:
    // the hoped-for ReusedExchange never fired (the r15 plan capture
    // shows 0 ReusedExchange and the text column scanned 7× — each
    // consumer re-ran scan+tokenize+count), so the cut is a lazy
    // persist — one shared InMemoryRelation, no serialization barrier
    // (label rides along: functionally dependent on the doc).
    val base = Share.lazily(
      toks.groupBy(col(idCol), col("fold"), col("label"), col("token"))
        .agg(count(lit(1)).as("__cnt")))
    // cf has four consumers of its own (cg, ntf, tokPerFold, and the
    // scoring join) — same duplication story one level up, so same cut
    val cf = Share.lazily(base.groupBy("fold", "label", "token")
      .agg(sum(col("__cnt")).as("c")))
    val cg = cf.groupBy("label", "token").agg(sum(col("c")).as("cg"))
    // per-(fold, label) TRAINING token totals = global(label) − fold's
    val ntg = cg.groupBy("label").agg(sum(col("cg")).as("ntg"))
    val ntf = cf.groupBy("fold", "label").agg(sum(col("c")).as("ntf"))
    val folds = folded.select("fold").distinct()
    val ntTrain = folds.crossJoin(ntg)
      .join(ntf, Seq("fold", "label"), "left")
      .select(col("fold"), col("label"),
        (col("ntg") - coalesce(col("ntf"), lit(0L))).as("nt_train"))
    // per-fold training vocabulary: distinct tokens minus the ones
    // exclusive to the held-out fold
    val tokPerFold = cf.groupBy("fold", "token").agg(sum(col("c")).as("cft"))
    val gTok = tokPerFold.groupBy("token").agg(sum(col("cft")).as("gt"))
    val vAll = gTok.agg(count(lit(1)).as("v_all"))
    val nExcl = tokPerFold.join(gTok, "token")
      .filter(col("cft") === col("gt"))
      .groupBy("fold").agg(count(lit(1)).as("n_excl"))
    val vTrain = folds.crossJoin(broadcast(vAll))
      .join(nExcl, Seq("fold"), "left")
      .select(col("fold"),
        (col("v_all") - coalesce(col("n_excl"), lit(0L))).as("v_train"))
    // per-(fold, label) training doc counts → log-priors
    val docsFL = folded.groupBy(col("fold"), col(labelCol).as("label"))
      .agg(count(lit(1)).as("nd"))
    val ndg = docsFL.groupBy("label").agg(sum(col("nd")).as("ndg"))
    val ndTrainTot = docsFL.groupBy("fold").agg(sum(col("nd")).as("nd_fold"))
      .crossJoin(broadcast(docsFL.agg(sum(col("nd")).as("nd_all"))))
      .select(col("fold"), (col("nd_all") - col("nd_fold")).as("nd_train_tot"))
    val priors = folds.crossJoin(ndg)
      .join(docsFL, Seq("fold", "label"), "left")
      .join(broadcast(ndTrainTot), "fold")
      .select(col("fold"), col("label"),
        round(log((col("ndg") - coalesce(col("nd"), lit(0L))).cast("double") /
          col("nd_train_tot").cast("double")), 9)
          .cast(DecimalType(18, 9)).as("prior"))
    // dense vocab × classes grid (the nbTokenLikelihoods convention:
    // scoring stays a plain equi-join, no missing-key fallback), one
    // per fold via the bounded (fold, label) denominators
    val labels = df.select(col(labelCol).as("label")).distinct()
    val grid = gTok.select("token").crossJoin(broadcast(labels))
      .join(cg, Seq("token", "label"), "left")
    // per-doc term frequencies, scored against the doc's OWN fold grid
    val tf = base.select(col(idCol), col("fold"), col("token"),
      col("__cnt").as("tf"))
    val scores = tf.join(grid, Seq("token"))
      .join(cf.withColumnRenamed("c", "c_fold"), Seq("fold", "label", "token"), "left")
      .join(broadcast(ntTrain), Seq("fold", "label"))
      .join(broadcast(vTrain), Seq("fold"))
      .withColumn("__llh",
        round(log((coalesce(col("cg"), lit(0L)) - coalesce(col("c_fold"), lit(0L))
          + lit(1L)).cast("double") /
          (col("nt_train") + col("v_train")).cast("double")), 9)
          .cast(DecimalType(18, 9)))
      .groupBy(col(idCol), col("fold"), col("label"))
      .agg(sum(col("tf").cast(DecimalType(10, 0)) * col("__llh")).as("s"))
      .join(broadcast(priors), Seq("fold", "label"))
      .select(col(idCol), col("fold"), col("label"),
        (col("s") + col("prior")).as("score"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("label").asc)
    val best = scores.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col(idCol), col("label").as("predicted"))
    folded.select(col(idCol), col("fold"), col(labelCol).as("actual"))
      .join(best, Seq(idCol), "left")
      .groupBy("fold")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("predicted") === col("actual"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("fold"), col("n_docs"), col("n_correct"),
        round(col("n_correct").cast("double") / col("n_docs").cast("double"), 5)
          .as("accuracy"))
      .orderBy("fold")
  }

  /** Chance-corrected agreement (Cohen's kappa) between two automatic
    * labelers: the Naive Bayes self-train prediction and the profile-
    * token language-ID heuristic (TextStats.langId), over the docs
    * BOTH could label. One row: (n_docs, n_agree, po, pe, kappa) —
    * the label-QA number for pipelines that gate on machine labels
    * (raw agreement po flatters whenever one label dominates; kappa
    * subtracts the agreement two INDEPENDENT labelers with these
    * marginals would reach by luck, pe).
    *
    * Determinism (SURVEY.md §8.3): the confusion matrix is integer
    * counts; marginal products accumulate in DECIMAL(38,0) (exact,
    * and n² overflows BIGINT past ~3e9 docs), so po, pe and kappa
    * are each ONE division of exact operands, rounded at 5. Kappa in
    * particular is computed from the INTEGER identity
    * (n·agree − Σ r·c) / (n² − Σ r·c), never from the float blend
    * (po − pe)/(1 − pe).
    *
    * Scale shape: both labelers are the existing one-token-shuffle
    * plans; the join is doc-keyed; the confusion matrix is bounded by
    * the label-domain square, so everything after it is driver-light
    * 1-row arithmetic kept relational (broadcast cross of two 1-row
    * frames).
    */
  def labelAgreement(spark: org.apache.spark.sql.SparkSession,
      df: DataFrame, labelCol: String = "lang", idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val dec = DecimalType(38, 0)
    // ONE tokenization pass feeds BOTH labelers (the NB pipeline and
    // the langid heuristic both reduce to algebra over per-doc token
    // counts — see langIdFromCounts for the exactness argument), then
    // the two labelers materialize as CONCURRENT jobs (guide §2.6) so
    // neither serializes behind the other. Each lands as a
    // doc-count-sized leaf; the kappa algebra below reads leaves.
    val dtc = docTokenCounts(df, labelCol, idCol, textCol, eager = true)
    val Seq(nb, heur) = concurrently(
      () => Share.checkpoint(
        nbPredictFromCounts(df, dtc, labelCol, idCol, textCol)
          .filter(col("predicted").isNotNull)
          .select(col(idCol), col("predicted").as("nb_lang"))),
      () => Share.checkpoint(TextStats.langIdFromCounts(dtc, idCol)
        .select(col(idCol), col("predicted_lang").as("heur_lang"))))
    val cm = nb.join(heur, idCol)
      .groupBy("nb_lang", "heur_lang").agg(count(lit(1)).as("c"))
    val tot = cm.agg(sum(col("c")).as("n"),
      sum(when(col("nb_lang") === col("heur_lang"), col("c"))
        .otherwise(lit(0L))).as("n_agree"))
    val peNum = cm.groupBy(col("nb_lang").as("l")).agg(sum(col("c")).as("r"))
      .join(cm.groupBy(col("heur_lang").as("l")).agg(sum(col("c")).as("cl")), "l")
      .agg(coalesce(sum(col("r").cast(dec) * col("cl").cast(dec)), lit(0).cast(dec))
        .as("pe_num"))
    val n2 = col("n").cast(dec) * col("n").cast(dec)
    tot.crossJoin(broadcast(peNum))
      .select(col("n").as("n_docs"), col("n_agree"),
        round(col("n_agree").cast("double") / col("n").cast("double"), 5).as("po"),
        round(col("pe_num").cast("double") / n2.cast("double"), 5).as("pe"),
        when(n2 - col("pe_num") > 0,
          round((col("n").cast(dec) * col("n_agree").cast(dec) - col("pe_num"))
            .cast("double") / (n2 - col("pe_num")).cast("double"), 5))
          .otherwise(lit(0.0)).as("kappa"))
  }

  /** Fleiss' kappa over THREE automatic labelers — the NB self-train
    * model ([[nbPredict]]), the whole-document profile langid
    * ([[graft.ext.TextStats.langId]]) and the chunk-majority langid
    * ([[graft.ext.TextStats.langIdChunks]]) — the multi-rater
    * generalization of [[labelAgreement]]'s pairwise Cohen kappa
    * (three pairwise kappas can all look fine while the panel as a
    * whole is unstable; Fleiss reads the panel at once). Items are
    * documents ALL three raters label. One row:
    * (n_items, p_bar, p_e, kappa).
    *
    * Exact integer identity (n = 3 raters): with per-item category
    * counts n_ij, Σ_j n_ij² collapses to the agreement PATTERN —
    * 9 (all agree), 5 (exactly two agree), 3 (all differ) — so
    * S = Σ_i Σ_j n_ij² is one CASE sum, never an explode. With
    * T_j = Σ_i n_ij over the label domain and N items:
    * P̄ = (S − 3N)/(6N), P̄_e = ΣT²/(9N²), and
    * kappa = (3N(S − 3N) − 2ΣT²) / (2(9N² − ΣT²)) — each reported
    * value ONE division of DECIMAL(38,0) operands (§8.3 rules 4/6;
    * N² and T² pass 2⁶³ long before a 100 TB corpus does).
    * Degenerate panel (P̄_e = 1: every rater one category) → 0.0.
    *
    * Scale shape: the three label relations are the existing
    * one-token-shuffle plans; joins are doc-keyed; the rating long
    * relation collapses to the label domain map-side.
    */
  def fleissKappa(spark: org.apache.spark.sql.SparkSession,
      df: DataFrame, chunkTokens: Int, labelCol: String = "lang",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val dec = DecimalType(38, 0)
    // ONE tokenization pass feeds the NB and whole-doc-langid
    // labelers (the labelAgreement posture); the chunk labeler needs
    // token POSITIONS (chunk boundaries), so it keeps its own text
    // pass. The three labelers then materialize as CONCURRENT jobs
    // (guide §2.6): the panel's wall time is max(labeler) + leaf
    // algebra, not the sum the serial checkpoints would pay.
    val dtc = docTokenCounts(df, labelCol, idCol, textCol, eager = true)
    val Seq(nb, heur, chunk) = concurrently(
      () => Share.checkpoint(
        nbPredictFromCounts(df, dtc, labelCol, idCol, textCol)
          .filter(col("predicted").isNotNull)
          .select(col(idCol), col("predicted").as("l1"))),
      () => Share.checkpoint(TextStats.langIdFromCounts(dtc, idCol)
        .select(col(idCol), col("predicted_lang").as("l2"))),
      () => Share.checkpoint(TextStats.langIdChunks(spark, df, chunkTokens)
        .select(col(idCol), col("majority_lang").as("l3"))))
    // tri feeds FOUR consumers (the s-aggregate plus the 3-way label
    // union); without materialization each consumer can re-run the
    // NB-training + langId + chunk-langId pipelines end to end.
    val tri = Share.checkpoint(
      nb.join(heur, Seq(idCol)).join(chunk, Seq(idCol)))
    val pat = when(col("l1") === col("l2") && col("l2") === col("l3"), 9L)
      .when(col("l1") === col("l2") || col("l2") === col("l3") ||
        col("l1") === col("l3"), 5L)
      .otherwise(3L)
    val s = tri.agg(count(lit(1)).as("n_items"), sum(pat).as("__s"))
    val longL = tri.select(col("l1").as("l"))
      .unionAll(tri.select(col("l2").as("l")))
      .unionAll(tri.select(col("l3").as("l")))
    val t2 = longL.groupBy("l").agg(count(lit(1)).as("cnt"))
      .agg(coalesce(sum(col("cnt").cast(dec) * col("cnt").cast(dec)),
        lit(0).cast(dec)).as("__t2"))
    val n = col("n_items").cast(dec)
    val sd = col("__s").cast(dec)
    val num = n * 3 * (sd - n * 3) - col("__t2") * 2
    val den = (n * n * 9 - col("__t2")) * 2
    s.crossJoin(broadcast(t2)).select(
      col("n_items"),
      when(col("n_items") > 0,
        round((sd - n * 3).cast("double") / (n * 6).cast("double"), 5))
        .otherwise(lit(0.0)).as("p_bar"),
      when(col("n_items") > 0,
        round(col("__t2").cast("double") / (n * n * 9).cast("double"), 5))
        .otherwise(lit(0.0)).as("p_e"),
      when(den > 0, round(num.cast("double") / den.cast("double"), 5))
        .otherwise(lit(0.0)).as("kappa"))
  }
}
