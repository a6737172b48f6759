package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.TextStats
import Common._

/** Classifiers and their evaluation: Naive Bayes, logistic
  * regression, agreement, calibration, AUC and gate thresholds.
  */
object ModelQueries extends QueryFamily {

  // logistic-regression quality classifier: full-batch GD rounds +
  // learning rate (shared with OraclesExt.logregTrain/logregPredict)
  private val logregIters = 3
  private val logregLr = 1.0
  // classifier reliability bins (shared with OraclesExt.logregCalibration)
  private val calibrationBins = 10
  // gate FPR targets (shared with OraclesExt.gateThresholds)
  private val gateAlphas = Seq(0.01, 0.05, 0.10)
  private val isotonicBins = 50

  // One training run, many reports: q_logreg keeps paying the full GD
  // (the bench measures the operator); predict / PR / calibration
  // score against the shared 1-row weights frame.
  private[graft] def logregWeightsShared(s: SparkSession, sfDir: String): DataFrame =
    sharedFrame(s, "logreg_weights", sfDir) {
      graft.ext.LogReg.finalWeights(s.table("documents"),
        col("lang") === dsirTargetLang, iters = logregIters, lr = logregLr)
    }

  override val setupFrames = Seq("setup_logreg_weights" -> logregWeightsShared)

  val defs: Seq[QueryDef] = Seq(
    // §7.5 — label QA: Cohen's kappa between the NB self-train labels
    // and the profile-token language-ID heuristic (chance-corrected
    // agreement of two independent automatic labelers).
    QueryDef("q_label_kappa", withTables { s =>
      graft.ext.Classify.labelAgreement(s, s.table("documents"))
    }, Some(OraclesExt.labelAgreement)),
    // §7.5 — the classifier slot: multinomial Naive Bayes trained
    // relationally on the lang labels, self-scored, rolled up to the
    // confusion matrix (exact decimal Σ tf·llh + prior scores).
    QueryDef("q_nb_confusion", withTables { s =>
      graft.ext.Classify.nbConfusion(s.table("documents"))
        .orderBy("actual", "predicted")
    }, Some(OraclesExt.nbConfusion)),
    // §7.5 — the honest classifier number: k-fold cross-validated NB
    // accuracy, all K leave-one-fold-out models trained from ONE count
    // pass (fold as a grouping key; training stats by global-minus-
    // fold subtraction).
    QueryDef("q_nb_cv", withTables { s =>
      graft.ext.Classify.nbCrossVal(s.table("documents"), k = kfoldK)
    }, Some(OraclesExt.nbCrossVal(kfoldK))),
    // §7.5 — the discriminative classifier slot: relational full-batch
    // GD logistic regression over the per-doc quality features (the
    // fastText-filter role), one aggregate pass per iteration,
    // bit-stable decimal gradients (LogReg scaladoc).
    QueryDef("q_logreg", withTables { s =>
      graft.ext.LogReg.train(s.table("documents"),
        col("lang") === dsirTargetLang, iters = logregIters, lr = logregLr)
        .orderBy("iter")
    }, Some(OraclesExt.logregTrain(dsirTargetLang, logregIters, logregLr))),
    // ...and the trained model applied back per language slice: how
    // many docs the is-English classifier flags at p ≥ 0.5 per lang.
    QueryDef("q_logreg_predict", withTablesSf { (s, sfDir) =>
      graft.ext.LogReg.predictByGroupFrom(s.table("documents"),
        col("lang") === dsirTargetLang, "lang",
        logregWeightsShared(s, sfDir)).orderBy("lang")
    }, Some(OraclesExt.logregPredict(dsirTargetLang, logregIters, logregLr))),
    // ...its PR/F1 curve over the 4-decimal score grid (the
    // operating-point picker; grid-bounded global cumsum)...
    QueryDef("q_logreg_pr", withTablesSf { (s, sfDir) =>
      graft.ext.LogReg.prCurveFrom(s.table("documents"),
        col("lang") === dsirTargetLang, logregWeightsShared(s, sfDir))
    }, Some(OraclesExt.logregPrCurve(dsirTargetLang, logregIters, logregLr))),
    // ...and its reliability (calibration) bins — the ECE ingredients.
    QueryDef("q_logreg_calibration", withTablesSf { (s, sfDir) =>
      graft.ext.LogReg.calibrationBinsFrom(s.table("documents"),
        col("lang") === dsirTargetLang, logregWeightsShared(s, sfDir),
        nBins = calibrationBins)
    }, Some(OraclesExt.logregCalibration(dsirTargetLang, logregIters, logregLr, calibrationBins))),
    // ...and the Murphy decomposition of its Brier score: one row
    // separating miscalibration (fixable) from lack of resolution
    // (not) and the base-rate floor.
    QueryDef("q_brier", withTablesSf { (s, sfDir) =>
      graft.ext.Eval.brierDecomposition(
        graft.ext.LogReg.scoredDocsFrom(s.table("documents"),
          col("lang") === dsirTargetLang, logregWeightsShared(s, sfDir)),
        col("y"), col("p"))
    }, Some(OraclesExt.logregBrier(dsirTargetLang, logregIters,
      logregLr))),
    // ...the per-slice separation check for the trained model itself
    // (one easy source can carry an aggregate AUC).
    QueryDef("q_logreg_auc", withTablesSf { (s, sfDir) =>
      graft.ext.LogReg.aucFrom(s.table("documents"),
        col("lang") === dsirTargetLang, "source",
        logregWeightsShared(s, sfDir)).orderBy("source")
    }, Some(OraclesExt.logregAuc(dsirTargetLang, logregIters, logregLr))),
    // ...the operating-point DECISION: the most permissive threshold
    // admitting ≤ α junk, per target FPR (grid-bounded cumulatives).
    QueryDef("q_gate_threshold", withTables { s =>
      graft.ext.Eval.gateThresholds(
        TextStats.withDocStats(s.table("documents")),
        col("lang") === dsirTargetLang, col("quality_score"),
        alphas = gateAlphas)
    }, Some(OraclesExt.gateThresholds(dsirTargetLang, gateAlphas))),
    // ...and the distributional alarm: per-source two-sample KS of
    // the quality score against the rest of the corpus (shape drift
    // the mean can't see; grid-bounded CDFs).
    QueryDef("q_ks_drift", withTables { s =>
      graft.ext.Eval.ksDriftByGroup(
        TextStats.withDocStats(s.table("documents")),
        "source", col("quality_score"))
    }, Some(OraclesExt.ksDrift)),
    // §7.5 — classifier/score evaluation: exact tie-corrected ROC AUC
    // of the quality score against the is-English label, per source
    // (does the gate's score actually separate what it claims?).
    QueryDef("q_auc", withTables { s =>
      graft.ext.Eval.aucByGroup(
        TextStats.withDocStats(s.table("documents")),
        "source", col("lang") === dsirTargetLang, col("quality_score"))
        .orderBy("source")
    }, Some(OraclesExt.auc(dsirTargetLang))),
    // Isotonic probability calibration of the quality blend against
    // the is-English label — the minimax (relational, loop-free) PAV
    // solution over bin-bounded frames.
    QueryDef("q_isotonic", withTables { s =>
      graft.ext.Eval.isotonicCalibration(
        TextStats.withDocStats(s.table("documents")),
        col("lang") === dsirTargetLang, col("quality_score"),
        isotonicBins)
    }, Some(OraclesExt.isotonicCalibration(dsirTargetLang, isotonicBins))),
    // Fleiss' kappa: panel agreement of the THREE automatic labelers
    // (NB self-train, whole-doc langid, chunk-majority langid) — the
    // multi-rater generalization of q_label_kappa.
    QueryDef("q_fleiss_kappa", withTables { s =>
      graft.ext.Classify.fleissKappa(s, s.table("documents"),
        langidChunkTokens)
    }, Some(OraclesExt.fleissKappa(langidChunkTokens))))
}
