package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.exec.Share

/** Exact per-group quantiles at corpus scale — the generalization of
  * the profiler's single-column median machinery
  * (graft.profile.TableProfiler.exactLong) to arbitrary groups and
  * an arbitrary quantile vector.
  *
  * Why not `percentile(v, array(...))`: Spark's exact Percentile
  * aggregate buffers EVERY raw value of a group in one task before
  * sorting — a guaranteed OOM on a hot group at 100 TB (plan-shape
  * rule, SURVEY.md §8.4.4). This operator never materializes raw
  * values anywhere:
  *
  *   groupBy (g, v) count        — ONE map-side-combined shuffle whose
  *                                 key space is distinct values, not rows
  *   window cumsum over v per g  — parallel sort of DISTINCT values
  *   per-quantile pick + interpolate — `max(when(...))` aggregates
  *
  * Interpolation is bit-for-bit Spark `Percentile.getPercentile`:
  * pos = p·(n−1), result = lo·(⌈pos⌉−pos) + hi·(pos−⌊pos⌋) — and the
  * DuckDB oracle twin (OraclesExt.groupQuantiles) spells out the SAME
  * expression tree rather than calling `quantile_cont`, so the two
  * engines run identical IEEE arithmetic.
  *
  * Skew: the cumulative count is a range-SHARDED two-phase prefix
  * sum ([[shardedCumsum]]) — no group ever sorts its whole
  * distinct-value set in one task; per-task work is one value-range
  * shard of one group.
  */
object Quantiles {

  /** Distributed cumulative count over value order — the two-phase
    * prefix sum shared by [[groupQuantiles]] and the profiler's exact
    * median (TableProfiler.exactLong). A plain
    * `partitionBy(keys).orderBy(v)` window sorts a key's ENTIRE
    * distinct-value set in one task — the last serial stage of any
    * exact-quantile plan at corpus scale. Instead:
    *
    *   1. per-key approx-quantile shard boundaries over the SAME
    *      value-counts exchange (reused — no extra scan);
    *   2. codegen'd chained-comparison shard assignment (no
    *      interpreted HOF on the per-row path);
    *   3. per-(key, shard) parallel window cumsum;
    *   4. tiny relational per-shard offsets (a window over the
    *      (key × shards)-row totals), added to the local cumsums.
    *
    * The result is EXACTLY invariant to boundary placement — for any
    * v-monotone shard assignment, global cum = local + offset — so
    * the approximate boundary sketch affects load balance only,
    * never values. Appends column `cum` (long); input columns pass
    * through unchanged.
    */
  /** Evenly spaced probe probabilities for `shards` range shards. */
  private def probsFor(shards: Int): Column =
    array((1 until shards).map(i => lit(i.toDouble / shards)): _*)

  /** Chained-comparison shard index of `vCol` against the `__bs`
    * boundary array: the count of boundaries strictly below the value
    * (codegen'd adds, no interpreted HOF on the per-row path). Shard
    * s holds exactly (__bs[s], __bs[s+1]] — the interval form
    * valuesAtPositions prunes by.
    */
  private def shardIndex(vCol: String, shards: Int): Column =
    (1 until shards)
      .map(i => when(col(vCol) > element_at(col("__bs"), i), 1).otherwise(0))
      .reduce(_ + _)

  private[graft] def shardedCumsum(vc: DataFrame, keyCols: Seq[String],
      vCol: String, cntCol: String, shards: Int = 32,
      broadcastGroups: Boolean = true): DataFrame = {
    val kc = keyCols.map(col)
    val bounds = vc.groupBy(kc: _*)
      .agg(percentile_approx(col(vCol), probsFor(shards), lit(1000)).as("__bs"))
    val shardOf = shardIndex(vCol, shards)
    // The bounds/offsets relations are ONE ROW PER GROUP (×shards for
    // offsets). `broadcastGroups` (default true) pins the broadcast
    // hint: for bounded group domains — profiler columns, languages,
    // event types — it keeps every per-group relation on the SAME
    // upstream exchange, which is what lets AQE collapse the whole
    // quantile pipeline onto one scan via ReusedExchange (removing the
    // hints was measured to break reuse: 8 scans, +40% wall). For an
    // UNBOUNDED caller-supplied key (per-user quantiles over 10⁸
    // users) a forced broadcast would blow through the driver — pass
    // broadcastGroups = false and the joins plan as plain shuffles.
    def maybeB(df: DataFrame) = if (broadcastGroups) broadcast(df) else df
    val vcs = vc.join(maybeB(bounds), keyCols).withColumn("__shard", shardOf)
      .drop("__bs")
    val skc = kc :+ col("__shard")
    val localCum = vcs.withColumn("__lcum", sum(col(cntCol).cast(LongType)).over(
      Window.partitionBy(skc: _*).orderBy(vCol)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val offsets = vcs.groupBy(skc: _*)
      .agg(sum(col(cntCol).cast(LongType)).as("__stot"))
      .withColumn("__offset", coalesce(sum(col("__stot")).over(
        Window.partitionBy(kc: _*).orderBy("__shard")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(skc :+ col("__offset"): _*)
    localCum.join(maybeB(offsets), keyCols :+ "__shard")
      .withColumn("cum", col("__lcum") + col("__offset"))
      .drop("__shard", "__lcum", "__offset")
  }

  /** Values at explicit global sort POSITIONS per key — the
    * median-targeted specialization of [[shardedCumsum]]. The full
    * cumsum windows EVERY (key, shard) slice because an arbitrary
    * quantile vector may probe anywhere; a median needs exactly two
    * positions per key, which land in at most two shards — so after
    * the (key × shards)-row offsets are known, every other shard is
    * PRUNED before the expensive sort-window runs (32× less window
    * input at the profiler's shard count). Exactness is untouched:
    * shard totals are exact counts, so the offset arithmetic and the
    * within-shard cumsum find the same global positions the full
    * cumsum would.
    *
    * @param pos one row per wanted position: keyCols + `__pos`
    *   (0-based long rank over the key's value order, counting
    *   multiplicity). Must be a small (broadcast-class when
    *   `broadcastGroups`) relation — a few rows per key.
    * @return keyCols + `__pos` + vCol: the value whose global
    *   position range covers `__pos`.
    */
  private[graft] def valuesAtPositions(vc: DataFrame, keyCols: Seq[String],
      vCol: String, cntCol: String, pos: DataFrame, shards: Int = 32,
      broadcastGroups: Boolean = true): DataFrame =
    valuesAtPositionsCarrying(vc, keyCols, vCol, cntCol, pos, Nil,
      shards, broadcastGroups)._1

  /** [[valuesAtPositions]] plus a free ride on its eager checkpoint:
    * `carry` names extra columns of `pos` (constant per key) to haul
    * through the internally MATERIALIZED `picked` relation. The
    * second returned frame is `(keyCols ++ carry)` — one row per key,
    * read back from the checkpointed rows, so collecting it costs no
    * recomputation of `vc`. The profiler uses this to evaluate its
    * per-column exact stats inside the one eager job this machinery
    * already runs (the same `vc` exchange serves the stats
    * aggregation, the boundary sketch and the offsets), instead of
    * re-aggregating `vc` once per consumer in the main query.
    */
  private[graft] def valuesAtPositionsCarrying(vc: DataFrame,
      keyCols: Seq[String], vCol: String, cntCol: String, pos: DataFrame,
      carry: Seq[String], shards: Int = 32,
      broadcastGroups: Boolean = true): (DataFrame, DataFrame) = {
    val kc = keyCols.map(col)
    def maybeB(df: DataFrame) = if (broadcastGroups) broadcast(df) else df
    // CONSISTENCY INVARIANT: the percentile_approx boundary sketch is
    // partition-order dependent, so it must be evaluated exactly ONCE
    // in this DAG. It appears only on the offsets path below, and
    // `picked` (the sole consumer of that path) is checkpointed, so
    // the once-only guarantee is structural; the pruning side never
    // re-derives shard assignment — it applies the boundary VALUES
    // carried through `picked` as plain predicates. (shardedCumsum is
    // immune to re-evaluation drift — there, bounds affect load
    // balance only — but here a drifted second evaluation could prune
    // away the shard holding a position.)
    val bounds = vc.groupBy(kc: _*)
      .agg(percentile_approx(col(vCol), probsFor(shards), lit(1000)).as("__bs"))
    val vcs = vc.join(maybeB(bounds), keyCols)
      .withColumn("__shard", shardIndex(vCol, shards))
    val skc = kc :+ col("__shard")
    // per-(key, shard): exact total, exact offset, and the shard's
    // value interval (__lo, __hi] from the ONE sketch evaluation —
    // constant within the group, so min() just extracts it
    val offsets = vcs.groupBy(skc: _*)
      .agg(sum(col(cntCol).cast(LongType)).as("__stot"),
        min(when(col("__shard") >= 1,
          element_at(col("__bs"), col("__shard")))).as("__lo"),
        min(when(col("__shard") <= shards - 2,
          element_at(col("__bs"), col("__shard") + 1))).as("__hi"))
      .withColumn("__offset", coalesce(sum(col("__stot")).over(
        Window.partitionBy(kc: _*).orderBy("__shard")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    // which (key, shard) holds each wanted position. MATERIALIZED
    // (localCheckpoint — a few rows per key, ~free): `picked` is
    // consumed by two branches (the `keep` pruning join and the final
    // position join), and without a hard cut single evaluation of the
    // sketch above would hinge on exchange reuse deduplicating the
    // shared shuffle under both consumers — planner-contingent
    // (spark.sql.exchange.reuse=false or AQE plan divergence could run
    // the sketch twice, and GK-sketch merge order is scheduling-
    // dependent, so eval A's pruning intervals could disagree with
    // eval B's offsets and prune away the shard holding a position).
    // The checkpoint makes the once-only invariant STRUCTURAL: both
    // branches read the same computed rows.
    val picked = Share.checkpoint(
      offsets.join(maybeB(pos), keyCols)
        .where(col("__pos").between(col("__offset"),
          col("__offset") + col("__stot") - 1))
        .select((kc :+ col("__shard") :+ col("__lo") :+ col("__hi") :+
          col("__offset") :+ col("__pos")) ++ carry.map(col): _*))
    // prune raw vc by the shard's value interval — exactly the rows
    // the offsets evaluation assigned there, because assignment is
    // v > __bs[s] && v <= __bs[s+1] by construction
    val keep = picked
      .select((kc :+ col("__shard") :+ col("__lo") :+ col("__hi")): _*)
      .distinct()
    val pruned = vc.join(maybeB(keep), keyCols)
      .where((col("__lo").isNull || col(vCol) > col("__lo")) &&
        (col("__hi").isNull || col(vCol) <= col("__hi")))
    val localCum = pruned.withColumn("__lcum",
      sum(col(cntCol).cast(LongType)).over(
        Window.partitionBy(skc: _*).orderBy(vCol)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val hits = localCum.join(
        maybeB(picked.select((kc :+ col("__shard") :+ col("__offset") :+
          col("__pos")): _*)),
        keyCols :+ "__shard")
      .where(col("__offset") + col("__lcum") - col(cntCol).cast(LongType) <= col("__pos") &&
        col("__pos") <= col("__offset") + col("__lcum") - 1)
      .select((kc :+ col("__pos") :+ col(vCol)): _*)
    // `carry` values are constant per key, so the distinct collapses
    // the ≤2 position rows back to one stats row per key; this scans
    // only the checkpointed (few-rows-per-key) RDD, never `vc`.
    (hits, picked.select(kc ++ carry.map(col): _*).distinct())
  }

  /** One row per group: `(group, n, <name1>, <name2>, ...)` with each
    * quantile rounded to 5 decimals.
    *
    * @param ps (columnName, p) pairs, 0 ≤ p ≤ 1.
    * @param broadcastGroups keep the default (true) for bounded group
    *   domains (languages, sources, event types, profiler columns) —
    *   it pins the per-group relations to broadcast joins and lets
    *   AQE collapse the pipeline onto one scan. Pass false when the
    *   group key's cardinality scales with the data (per-user, per-
    *   document): every per-group relation then plans as a plain
    *   shuffle join and nothing is forced through the driver.
    */
  def groupQuantiles(df: DataFrame, groupCol: String, valueCol: String,
      ps: Seq[(String, Double)],
      broadcastGroups: Boolean = true): DataFrame = {
    val vc = df.where(col(valueCol).isNotNull)
      .groupBy(col(groupCol), col(valueCol).cast("double").as("v"))
      .agg(count(lit(1)).as("cnt"))
    quantilesFromVc(vc, Seq(groupCol), ps, broadcastGroups)
  }

  /** WEIGHTED exact per-group quantiles: integer weight w reads as
    * "this row, repeated w times" — Spark's own `percentile(col, p,
    * frequency)` semantics, verified bit-for-bit in ExtSpec. The
    * training-data use: token-weighted document statistics (the
    * median doc LENGTH of the token mass, not of the doc count — a
    * corpus of many short docs and a few huge ones answers those two
    * questions very differently). Same value-counts machinery as
    * [[groupQuantiles]]: weights sum where counts counted, so cost
    * and scale shape are identical (no per-group buffering, sharded
    * cumsum). Zero-weight rows are excluded up front.
    */
  def groupQuantilesWeighted(df: DataFrame, groupCol: String,
      valueCol: String, weightCol: String, ps: Seq[(String, Double)],
      broadcastGroups: Boolean = true): DataFrame = {
    val vc = df
      .where(col(valueCol).isNotNull && col(weightCol).cast("long") > 0)
      .groupBy(col(groupCol), col(valueCol).cast("double").as("v"))
      .agg(sum(col(weightCol).cast("long")).as("cnt"))
    quantilesFromVc(vc, Seq(groupCol), ps, broadcastGroups)
  }

  /** Quantiles from a PRE-COUNTED `(groups..., value, count)` relation
    * — the mergeable form: value-count relations merge by addition
    * (associative, exact), so per-partition counts (per day, per
    * shard, per ingest batch) roll up to any coarser granularity and
    * the quantiles computed from the merged counts are EXACTLY the
    * quantiles of the combined raw data — the property
    * Sketches.rollupQuantiles builds on, with zero sketch error.
    */
  def groupQuantilesFromCounts(counts: DataFrame, groupCols: Seq[String],
      valueCol: String, cntCol: String,
      ps: Seq[(String, Double)],
      broadcastGroups: Boolean = true): DataFrame = {
    val vc = counts.where(col(valueCol).isNotNull)
      .groupBy(groupCols.map(col) :+ col(valueCol).cast("double").as("v"): _*)
      .agg(sum(col(cntCol).cast(LongType)).as("cnt"))
    quantilesFromVc(vc, groupCols, ps, broadcastGroups)
  }

  /** Shared tail of both public forms: totals, sharded cumsum, rank
    * picks, Percentile-exact interpolation. `vc` columns: groupCols,
    * `v` (double), `cnt` (long-compatible).
    */
  private def quantilesFromVc(vc: DataFrame, groupCols: Seq[String],
      ps: Seq[(String, Double)],
      broadcastGroups: Boolean = true): DataFrame = {
    require(ps.nonEmpty && ps.forall { case (_, p) => p >= 0 && p <= 1 },
      "quantiles must be named and in [0,1]")
    val gcs = groupCols.map(col)
    val totals = vc.groupBy(gcs: _*).agg(sum(col("cnt")).as("n"))
    val totalsSide = if (broadcastGroups) broadcast(totals) else totals
    val cum = shardedCumsum(vc, groupCols, "v", "cnt",
        broadcastGroups = broadcastGroups)
      .join(totalsSide, groupCols)
    // For each p: the value at rank ⌊pos⌋ and ⌈pos⌉ via the cumulative
    // count (this row covers ranks [cum-cnt, cum-1]), then interpolate.
    def pick(rank: Column): Column =
      max(when(col("cum") - col("cnt") <= rank && rank <= col("cum") - 1, col("v")))
    val aggs = ps.flatMap { case (name, p) =>
      val pos = lit(p) * (col("n") - 1).cast("double")
      val lower = floor(pos)
      val higher = ceil(pos)
      Seq(pick(lower).as(s"__lo_$name"), pick(higher).as(s"__hi_$name"))
    }
    val out = cum.groupBy(gcs :+ col("n"): _*).agg(aggs.head, aggs.tail: _*)
    val qCols = ps.map { case (name, p) =>
      val pos = lit(p) * (col("n") - 1).cast("double")
      val lower = floor(pos)
      val higher = ceil(pos)
      val raw = when(lower === higher, col(s"__lo_$name"))
        .otherwise(col(s"__lo_$name") * (higher.cast("double") - pos) +
          col(s"__hi_$name") * (pos - lower.cast("double")))
      // MAGNITUDE-GATED display rounding: past |x| ≈ 10⁹ the double's
      // ulp approaches the 10⁻⁵ grid and round-at-5 is ENGINE-
      // DIVERGENT (Spark rounds the shortest decimal rendering,
      // DuckDB the exact binary expansion — the sf0.1 µs-latency
      // quantiles split on exactly this). The raw interpolated double
      // IS bit-identical cross-engine (every FP op in the
      // interpolation is the same op in the same order on both
      // sides), so huge values pass through unrounded.
      when(abs(raw) < lit(1e9), round(raw, 5)).otherwise(raw).as(name)
    }
    out.select(gcs ++ (col("n").cast(LongType).as("n") +: qCols): _*)
  }

  /** Equi-width histogram per group: one map-only bucket projection
    * (`floor(v / width)`) + one map-side-combined shuffle keyed by
    * (group, bucket) — the profiler-family distribution view that,
    * unlike [[groupQuantiles]], needs no window at all. Fixed width
    * (not data-dependent min/max) so the bucket function is a pure
    * per-row expression — at 100 TB a min/max pre-pass would add a
    * full extra scan; callers wanting adaptive bounds compose with
    * groupQuantiles.
    */
  def histogram(df: DataFrame, groupCol: String, valueCol: String,
      width: Double): DataFrame = {
    require(width > 0, "width must be positive")
    df.where(col(valueCol).isNotNull)
      .groupBy(col(groupCol),
        floor(col(valueCol).cast("double") / width).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"))
      .withColumn("bucket_lo", col("bucket") * width)
  }

  /** Winsorization: clip each row's value to its group's [pLo, pHi]
    * quantile band — the standard outlier treatment before training
    * on heavy-tailed metrics. Bounds come from [[groupQuantiles]]
    * (so they are the 5-decimal-rounded exact quantiles) and attach
    * via a broadcast join — the data side stays map-only: no shuffle
    * of the big table at any scale.
    *
    * Appends `__lo`, `__hi`, and `clipped` columns.
    */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
      pLo: Double, pHi: Double,
      broadcastGroups: Boolean = true): DataFrame = {
    require(pLo <= pHi, s"pLo $pLo must be <= pHi $pHi")
    val bounds = groupQuantiles(df, groupCol, valueCol,
      Seq("__lo" -> pLo, "__hi" -> pHi), broadcastGroups).drop("n")
    df.join(if (broadcastGroups) broadcast(bounds) else bounds, groupCol)
      .withColumn("clipped",
        least(greatest(col(valueCol).cast("double"), col("__lo")), col("__hi")))
  }

  /** Tukey-fence outlier report per group: fences at q1 − k·IQR and
    * q3 + k·IQR (k = 1.5 is the boxplot standard). ONE exact quantile
    * pass ([[groupQuantiles]] — value counts + sharded cumsum, no
    * per-group buffering) computes q1/q3; the fences broadcast back
    * onto the rows, and the report is a map-side-combined count
    * roll-up — the same two-scan shape as [[winsorize]]. The fence
    * arithmetic is plain IEEE doubles on the 5-decimal-rounded
    * quantiles, so any engine computes identical fences.
    */
  def tukeyOutliers(df: DataFrame, groupCol: String, valueCol: String,
      k: Double = 1.5, broadcastGroups: Boolean = true): DataFrame = {
    val bounds = groupQuantiles(df, groupCol, valueCol,
      Seq("__q1" -> 0.25, "__q3" -> 0.75), broadcastGroups).drop("n")
    val v = col(valueCol).cast("double")
    val lo = col("__q1") - lit(k) * (col("__q3") - col("__q1"))
    val hi = col("__q3") + lit(k) * (col("__q3") - col("__q1"))
    df.join(if (broadcastGroups) broadcast(bounds) else bounds, groupCol)
      .groupBy(groupCol)
      .agg(
        count(lit(1)).as("n"),
        min(col("__q1")).as("q1"),
        min(col("__q3")).as("q3"),
        sum(when(v < lo, 1L).otherwise(0L)).as("n_low"),
        sum(when(v > hi, 1L).otherwise(0L)).as("n_high"))
      .withColumn("outlier_frac", round(
        (col("n_low") + col("n_high")).cast("double") / col("n").cast("double"), 5))
  }

  /** MAD (median-absolute-deviation) robust outlier report per group
    * — the modified-z-score companion of [[tukeyOutliers]]
    * (Iglewicz–Hoaglin): a value is flagged when
    * |x − median| > k · 1.4826 · MAD, with 1.4826 the
    * normal-consistency constant and k = 3.5 the classic threshold.
    * Where Tukey's IQR fences collapse when half the data is
    * identical (IQR 0 flags everything off the mode), MAD degrades
    * the same way only past 50% contamination — it has the highest
    * possible breakdown point of any scale estimator, which is why
    * telemetry pipelines prefer it for heavy-tailed value streams.
    *
    * Determinism: both medians are the EXACT interpolated
    * 5-decimal-rounded quantiles; deviations are rounded at 5 BEFORE
    * the second quantile pass; the cutoff k·1.4826·MAD is one
    * identically-shaped double product in both engines.
    *
    * Scale shape: two quantile passes (each the no-per-group-
    * buffering value-counts machinery) + a map-side-combined roll-up
    * — the [[tukeyOutliers]] plan with one extra broadcast-class
    * round-trip for the deviation median.
    */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
      k: Double = 3.5, broadcastGroups: Boolean = true): DataFrame = {
    def maybeB(b: DataFrame) = if (broadcastGroups) broadcast(b) else b
    val med = groupQuantiles(df, groupCol, valueCol,
      Seq("__med" -> 0.5), broadcastGroups).drop("n")
    // SHARED (lazy persist): devs feeds the MAD quantile pass AND the
    // final outlier roll-up — without the cut each re-runs the input
    // scan, the median pipeline and the join (measured −1.3 s warm on
    // q_mad_outliers at sf0.1).
    val devs = Share.lazily(df.join(maybeB(med), groupCol)
      .withColumn("__dev",
        round(abs(col(valueCol).cast("double") - col("__med")), 5)))
    val mad = groupQuantiles(devs, groupCol, "__dev",
      Seq("__mad" -> 0.5), broadcastGroups).drop("n")
    devs.join(maybeB(mad), groupCol)
      .groupBy(groupCol)
      .agg(
        count(lit(1)).as("n"),
        min(col("__med")).as("median"),
        min(col("__mad")).as("mad"),
        sum(when(col("__dev") > lit(k) * lit(1.4826) * col("__mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .withColumn("outlier_frac", round(
        col("n_outliers").cast("double") / col("n").cast("double"), 5))
  }

  /** Equi-DEPTH histogram per group: k buckets holding ~equal row
    * counts, bounded by the group's exact i/k quantiles — the
    * population-balanced complement of the equi-width histogram
    * (Events.histogram), and the shape optimizers use for selectivity
    * estimation. Same two-scan plan as [[winsorize]]/[[tukeyOutliers]]:
    * one exact-quantile pass (value counts + sharded cumsum, no
    * per-group buffering), boundaries BROADCAST back onto the rows, a
    * map-side-combined roll-up per (group, bucket).
    *
    * Bucket rule: bucket = #{boundaries strictly below the value}, so
    * a value equal to a boundary stays in the lower bucket. Boundaries
    * are the 5-decimal-rounded interpolated quantiles; both engines
    * compare raw doubles against the SAME rounded boundary, so bucket
    * assignment is bit-identical cross-engine. Buckets can be empty
    * (absent from the output) only when a boundary value repeats —
    * correct equi-depth semantics for heavy-tied distributions.
    */
  def equiDepthHistogram(df: DataFrame, groupCol: String,
      valueCol: String, k: Int,
      broadcastGroups: Boolean = true): DataFrame = {
    require(k >= 2, "need at least 2 buckets")
    val ps = (1 until k).map(i => (s"__b$i", i.toDouble / k))
    val bounds = groupQuantiles(df, groupCol, valueCol, ps,
      broadcastGroups).drop("n")
    val v = col(valueCol).cast("double")
    val bucket = ps.map { case (name, _) =>
      when(v > col(name), 1).otherwise(0) }.reduce(_ + _)
    df.where(col(valueCol).isNotNull)
      .join(if (broadcastGroups) broadcast(bounds) else bounds, groupCol)
      .groupBy(col(groupCol), bucket.as("bucket"))
      .agg(
        count(lit(1)).as("n_rows"),
        round(min(v), 5).as("lo"),
        round(max(v), 5).as("hi"))
  }
}
