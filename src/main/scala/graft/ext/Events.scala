package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, TimestampType}
import graft.exec.Share

/** Batch analytics over the event stream table — tumbling-window
  * aggregation and gap-based sessionization. These are the batch
  * twins of graft.streaming.EventStream; the reference has no
  * streaming surface at all (SURVEY.md §2.9), so this whole module is
  * north-star extension.
  *
  * Timestamps are compared in whole microseconds (`unix_micros`) so
  * the arithmetic is integer-exact and portable to any oracle engine
  * regardless of its native timestamp precision.
  */
object Events {

  /** Epoch microseconds from any timestamp flavor. `unix_micros` only
    * accepts a session-zoned TimestampType; fixtures have surfaced
    * `ts` as TIMESTAMP_NTZ in some generations (round-4 regression),
    * so every operator converts through this helper. The cast is a
    * no-op on TimestampType and exact on NTZ under the UTC session
    * timezone all entrypoints pin.
    */
  def epochUs(c: Column): Column = unix_micros(c.cast(TimestampType))

  /** Per-type inter-arrival gap quantiles — the telemetry-health
    * report: the distribution of µs gaps between a user's successive
    * events of each type (p50 collapse → a client started drumbeating;
    * p90 blow-up → an ingest stall). Gaps are computed per
    * (user, type) stream in (ts, event_id) order — the repo's
    * debounce tie convention — and summarized per type with EXACT
    * interpolated quantiles.
    *
    * Scale shape: one (user, type)-keyed lag window (each task holds
    * one row of state per stream), then the no-per-group-buffering
    * quantile machinery over the (type, gap) value counts.
    */
  def interArrivalStats(events: DataFrame,
      ps: Seq[(String, Double)] = Seq(("p50_gap_us", 0.5), ("p90_gap_us", 0.9)),
      typeCol: String = "event_type", userCol: String = "user_id",
      tsCol: String = "ts", idCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(userCol, typeCol)
      .orderBy(col("__us"), col(idCol))
    val gaps = events.filter(col(tsCol).isNotNull)
      .withColumn("__us", epochUs(col(tsCol)))
      .withColumn("__gap", col("__us") - lag(col("__us"), 1).over(w))
      .filter(col("__gap").isNotNull)
    graft.ext.Quantiles.groupQuantiles(gaps, typeCol, "__gap", ps)
  }

  /** Exponentially time-decayed per-key value sum — the feature-store
    * staple (recency-weighted engagement / spend / activity): at the
    * reference instant `refUs` (epoch-µs), each event at age Δ days
    * contributes value · 2^(−Δ/halfLifeDays); events after the
    * reference are excluded (a feature snapshot never reads the
    * future). One row per key: (keyCol, n_events, decayed_sum).
    *
    * Cross-engine determinism (SURVEY.md §8.3): the decay factor is
    * ONE pow(2, x) per event — engines differ ≤1 ulp — quantized to
    * DECIMAL(18,9); the contribution is the EXACT decimal product
    * value₆ · factor₉ and the per-key sum is decimal addition, so no
    * double ever accumulates and the result is identical under any
    * partitioning. `refUs` is an explicit parameter (not now()):
    * feature snapshots must be reproducible.
    *
    * Scale shape: map-side factor computation + ONE key-partitioned
    * map-side-combined aggregate; nothing is windowed or buffered.
    */
  def decayedSum(events: DataFrame, refUs: Long, halfLifeDays: Double,
      keyCol: String = "user_id", tsCol: String = "ts",
      valCol: String = "value"): DataFrame = {
    val ageDays = (lit(refUs) - epochUs(col(tsCol))).cast("double") /
      lit(86400000000.0)
    val factor = round(pow(lit(2.0), (ageDays * lit(-1.0)) / lit(halfLifeDays)), 9)
      .cast(org.apache.spark.sql.types.DecimalType(18, 9))
    events
      .filter(col(tsCol).isNotNull && col(valCol).isNotNull &&
        epochUs(col(tsCol)) <= refUs)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col(valCol).cast("decimal(18,6)") * factor).cast("double"), 5)
          .as("decayed_sum"))
      .orderBy(keyCol)
  }

  /** Tumbling 1-hour windows per event_type: event counts and
    * decimal-accumulated value sums. One map-side-combined shuffle on
    * (window, type) — at 100 TB, partial aggregation reduces each
    * executor's slice to one row per (hour, type) before exchange.
    */
  def tumblingHourly(events: DataFrame): DataFrame =
    events
      .groupBy(
        date_trunc("hour", col("ts")).as("window_start"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        approx_count_distinct(col("user_id")).as("approx_users"),
        round(sum(col("value").cast("decimal(18,6)")).cast("double"), 5).as("sum_value"))
      .orderBy("window_start", "event_type")

  /** Exact variant (count_distinct) for oracle checking; the
    * approx_count_distinct above is the 100 TB default.
    */
  def tumblingHourlyExact(events: DataFrame): DataFrame =
    events
      .groupBy(
        date_trunc("hour", col("ts")).as("window_start"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum(col("value").cast("decimal(18,6)")).cast("double"), 5).as("sum_value"))
      .orderBy("window_start", "event_type")

  /** Hopping (sliding) hourly windows, 30-minute slide: every event
    * lands in TWO overlapping hour windows — the smoother the
    * tumbling report can't give (a burst straddling an hour boundary
    * splits across tumbling buckets but is whole in some hopping
    * one). Uses Spark's native `window(ts, dur, slide)` generator;
    * window starts surface as epoch MICROSECONDS (the cross-engine
    * timestamp convention, SURVEY.md §8.3 rule 10).
    *
    * Scale shape: the dur/slide=2× row expansion happens map-side and
    * is immediately collapsed by partial aggregation — the shuffle
    * carries O(windows × types) combined rows, not 2× the stream.
    */
  def hoppingHourly(events: DataFrame): DataFrame =
    events
      .groupBy(
        window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,6)")).cast("double"), 5)
          .as("sum_value"))
      .select(epochUs(col("window.start")).as("win_start_us"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("win_start_us", "event_type")

  /** Gap-based sessionization: a session breaks when a user is idle
    * longer than `gap`. Classic lag + running-sum-of-breaks pattern —
    * two window functions over (user_id ORDER BY ts), i.e. ONE
    * shuffle partitioned by user_id; each user's timeline sorts
    * within its partition. Skew note: per-user event counts are
    * bounded in practice; a pathological hot user would need
    * time-sliced salting, which changes session identity and so is
    * not applied silently.
    *
    * Returns one row per session:
    * (user_id, session_seq, n_events, session_start, session_secs).
    */
  def sessionize(events: DataFrame, gapSeconds: Long = 1800L): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us")
    val gapUs = gapSeconds * 1000000L
    events
      .withColumn("ts_us", epochUs(col("ts")))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn("is_break",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum(col("is_break")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_seq")
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"),
        ((max(col("ts_us")) - min(col("ts_us"))) / lit(1000000L)).cast("double")
          .as("session_secs"))
      .select(
        col("user_id"), col("session_seq"), col("n_events"),
        timestamp_micros(col("start_us")).as("session_start"),
        round(col("session_secs"), 5).as("session_secs"))
  }

  /** Raw session INTERVALS — the [[sessionize]] chain kept in µs
    * coordinates: (user_id, session_seq, n_events, start_us, end_us),
    * end inclusive (the last event's instant). The input relation of
    * interval analytics ([[campaignOverlap]]).
    */
  def sessionIntervals(events: DataFrame,
      gapSeconds: Long = 1800L): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us")
    val gapUs = gapSeconds * 1000000L
    events
      .withColumn("ts_us", epochUs(col("ts")))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn("is_break",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum(col("is_break")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_seq")
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"))
  }

  /** Per-campaign session reach: which user sessions overlap each
    * campaign window, rolled up — (campaign_id, n_sessions, n_users,
    * total_overlap_us). Sessions meet campaigns through the bucketed
    * interval-overlap join ([[RangeJoin.intervalOverlapBucketed]]):
    * session intervals become half-open `[start, end+1)` (so a
    * single-event session still counts inside a window), both sides
    * expand into day buckets, and the join is an EQUI-join on the
    * bucket — never a nested-loop over |sessions|·|campaigns|.
    * Overlap durations are whole-µs integer arithmetic.
    */
  def campaignOverlap(events: DataFrame,
      campaigns: Seq[(Int, Long, Long)],
      bucketUs: Long = 86400000000L,
      gapSeconds: Long = 1800L): DataFrame = {
    require(campaigns.nonEmpty, "need at least one campaign window")
    val spark = events.sparkSession
    import spark.implicits._
    val camp = campaigns.toDF("campaign_id", "c_lo_us", "c_hi_us")
    val sess = sessionIntervals(events, gapSeconds)
      .select(col("user_id"), col("start_us"),
        (col("end_us") + lit(1L)).as("end_x_us"))
    RangeJoin.intervalOverlapBucketed(sess, camp,
      "start_us", "end_x_us", "c_lo_us", "c_hi_us", bucketUs)
      .groupBy("campaign_id")
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct(col("user_id")).as("n_users"),
        sum(least(col("end_x_us"), col("c_hi_us")) -
          greatest(col("start_us"), col("c_lo_us"))).as("total_overlap_us"))
      .orderBy("campaign_id")
  }

  /** Debounce: drop events that repeat the SAME (user, event_type)
    * within `gapSeconds` of the immediately preceding raw event —
    * the standard telemetry burst-collapse (double-clicks, retry
    * storms) applied before any downstream count is trusted. An
    * event survives iff it is the first of its key or arrives more
    * than the gap after its predecessor; order inside a key is
    * (ts_us, event_id) so simultaneous events debounce identically
    * under any partitioning.
    *
    * Scale shape: ONE (user, type) shuffle for the lag window —
    * identical key distribution to sessionize; per-task state is a
    * single previous row, never a buffer.
    */
  def debounce(events: DataFrame, gapSeconds: Long = 60L): DataFrame = {
    val byKey = Window.partitionBy("user_id", "event_type")
      .orderBy("ts_us", "event_id")
    val gapUs = gapSeconds * 1000000L
    events
      .withColumn("ts_us", epochUs(col("ts")))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byKey))
      .withColumn("kept",
        col("prev_us").isNull || col("ts_us") - col("prev_us") > gapUs)
  }

  /** Per-user roll-up of [[debounce]]: how much of each user's stream
    * was burst noise — (n_events, n_kept, n_dropped).
    */
  def debounceSummary(events: DataFrame, gapSeconds: Long = 60L): DataFrame =
    debounce(events, gapSeconds)
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"))
      .orderBy("user_id")

  /** Per-type linear trend of the daily event count: ordinary least
    * squares over (epoch-day, n_events) — slope per day, intercept,
    * and the next-day forecast, the "is this metric growing"
    * dashboard row. The sums Σx, Σy, Σxy, Σx² are EXACT integers
    * (epoch days × daily counts stay far inside long range), so both
    * engines evaluate one identically-shaped double expression on
    * identical integers — deterministic to the last bit.
    *
    * Scale shape: the raw stream collapses to one row per (type,
    * day) map-side first; the regression is a five-sum aggregate of
    * that tiny frame. Degenerate single-day types surface with null
    * slope/forecast rather than a 0/0.
    */
  def dailyTrend(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long")
          .as("day_num"))
      .agg(count(lit(1)).as("n"))
    val d = (c: org.apache.spark.sql.Column) => c.cast("double")
    daily.groupBy("event_type")
      .agg(
        count(lit(1)).as("n_days"),
        sum(col("day_num")).as("sx"),
        sum(col("n")).as("sy"),
        sum(col("day_num") * col("n")).as("sxy"),
        sum(col("day_num") * col("day_num")).as("sxx"))
      .select(
        col("event_type"), col("n_days"), col("sy").as("total_events"),
        when(col("n_days") > 1,
          round((d(col("n_days")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
            (d(col("n_days")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))), 5))
          .as("slope_per_day"),
        when(col("n_days") > 1,
          round((d(col("sy")) - ((d(col("n_days")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
            (d(col("n_days")) * d(col("sxx")) - d(col("sx")) * d(col("sx")))) * d(col("sx"))) /
            d(col("n_days")), 5)).as("intercept"))
      .orderBy("event_type")
  }

  /** Event-type transition mining: counts of consecutive (from, to)
    * event-type pairs per user stream — the Markov transition edges
    * behind "what do users do next" analyses (and the event-level
    * twin of the text family's bigram counts). Order within a user is
    * (ts_us, event_id), so simultaneous events chain identically
    * under any partitioning. `p_next` is the row-conditional
    * probability of the transition given `from`.
    *
    * Scale shape: ONE user-keyed shuffle for the lag window, then a
    * map-side-combined groupBy on (from, to) — O(types²) result rows.
    */
  def eventTransitions(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val pairs = events
      .withColumn("ts_us", epochUs(col("ts")))
      .withColumn("from_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("from_type")
    pairs
      .withColumn("n_from", sum(col("n")).over(w))
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("n_from").cast("double"), 5)
          .as("p_next"))
      .orderBy("from_type", "to_type")
  }

  /** Conditional transition entropy per from-state — how predictable
    * the NEXT event is given the current one: (from_type, n_from,
    * n_out_types, entropy_nats). Low entropy = near-deterministic
    * follow-up (bot traffic, templated flows); a rising entropy on a
    * previously-predictable state is a behavior-drift alarm the raw
    * transition matrix hides in 2500 cells.
    *
    * Determinism (§8.3): ln(n/n_from) is a single division then a
    * scale-9 quantized ln (the NB-llh rule), the numerator is the
    * EXACT decimal Σ n·llh, and entropy is ONE division of exact
    * operands, rounded at 5.
    *
    * Scale shape: the [[eventTransitions]] user-window pair shuffle,
    * then everything is on the bounded (from, to) domain.
    */
  def transitionEntropy(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val pairs = events
      .withColumn("ts_us", epochUs(col("ts")))
      .withColumn("from_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    entropyFromTransitionCounts(pairs)
  }

  /** Entropy finalize over a (from_type, to_type, n) count relation —
    * the shared tail of [[transitionEntropy]] and its streaming twin
    * (EventStream.transitionCountsStream finalizes its state-store
    * counts through THIS function, so batch ≡ stream is the identity
    * on the finalized counts). Input is bounded by the type domain
    * (≤ types² rows).
    */
  def entropyFromTransitionCounts(pairs: DataFrame): DataFrame = {
    val w = Window.partitionBy("from_type")
    val dec109 = org.apache.spark.sql.types.DecimalType(10, 0)
    val dec189 = org.apache.spark.sql.types.DecimalType(18, 9)
    pairs
      .withColumn("n_from", sum(col("n")).over(w))
      .withColumn("__llh",
        round(log(col("n").cast("double") / col("n_from").cast("double")), 9)
          .cast(dec189))
      .groupBy(col("from_type"))
      .agg(first(col("n_from")).as("n_from"),
        count(lit(1)).as("n_out_types"),
        sum(col("n").cast(dec109) * col("__llh")).as("__s"))
      .select(col("from_type"), col("n_from"), col("n_out_types"),
        round((-col("__s")).cast("double") / col("n_from").cast("double"), 5)
          .as("entropy_nats"))
      .orderBy("from_type")
  }

  /** Position-based (U-shaped) multi-touch attribution — the
    * multi-touch complement of [[firstTouchAttribution]]: each
    * conversion's value is credited across the touches of its
    * JOURNEY (the touches whose next conversion it is — non-
    * overlapping journeys by construction) with the classic 40/20/40
    * split: first and last touch 40% each, middles sharing 20%; a
    * 2-touch journey splits 50/50, a single touch takes all.
    * Returns one row per credited touch: (conv_id, userCol,
    * touch_event_id, n_touches, position, credit).
    *
    * Journey assignment is a FORWARD as-of: the [[asofJoin]] union
    * trick with the ORDER reversed — last-non-null over the running
    * prefix of the DESC user timeline ≡ first conversion at-or-after
    * the touch, but stays on Spark's O(n) incremental frame (a
    * CURRENT ROW → UNBOUNDED FOLLOWING frame is recomputed from
    * scratch per row, O(n²) in one user's events — a bot with 10⁶
    * events would own a 10¹²-op task). One user-keyed window, no
    * touch×conversion join. Position/count windows are
    * keyed by conversion — bounded by a single journey's touches, so
    * a hyperactive user never concentrates a partition beyond one
    * journey.
    */
  def uShapedAttribution(events: DataFrame,
      conversionType: String = "purchase", touchType: String = "click",
      userCol: String = "user_id", tsCol: String = "ts"): DataFrame = {
    val conv = events.filter(col("event_type") === conversionType)
      .select(col(userCol), col("event_id").as("conv_id"),
        epochUs(col(tsCol)).as("conv_us"), col("value"))
    val touch = events.filter(col("event_type") === touchType)
      .select(col(userCol), col("event_id").as("touch_id"),
        epochUs(col(tsCol)).as("touch_us"))
    val convStruct = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("conv_id",
        org.apache.spark.sql.types.LongType)))
    val l = touch.select(col(userCol).as("__key"), col("touch_us").as("__ts"),
      lit(0).as("__side"), col("touch_id").as("__tie"),
      struct(col("touch_id"), col("touch_us")).as("__t"),
      lit(null).cast(convStruct).as("__c"))
    val r = conv.select(col(userCol).as("__key"), col("conv_us").as("__ts"),
      lit(1).as("__side"), col("conv_id").as("__tie"),
      lit(null).cast(org.apache.spark.sql.types
        .StructType(Seq(
          org.apache.spark.sql.types.StructField("touch_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("touch_us",
            org.apache.spark.sql.types.LongType)))).as("__t"),
      struct(col("conv_id")).as("__c"))
    // same-instant touch belongs to the conversion: side 0 sorts
    // first in the forward order — i.e. LAST in this reversed
    // running-prefix order. __tie (the event_id) makes the order
    // total — two conversions by one user at the same microsecond
    // would otherwise assign journeys partition/engine-dependently.
    val wf = Window.partitionBy("__key")
      .orderBy(col("__ts").desc, col("__side").desc, col("__tie").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val journeys = l.unionByName(r)
      .withColumn("__j", last(col("__c"), ignoreNulls = true).over(wf))
      .where(col("__side") === 0 && col("__j").isNotNull)
      .select(col("__key").as(userCol), col("__t.touch_id").as("touch_id"),
        col("__t.touch_us").as("touch_us"), col("__j.conv_id").as("conv_id"))
    val wj = Window.partitionBy("conv_id")
    val wpos = Window.partitionBy("conv_id").orderBy("touch_us", "touch_id")
    val m = col("n_touches")
    val weight = when(m === 1, lit(1.0)).when(m === 2, lit(0.5))
      .when(col("position") === 1 || col("position") === m, lit(0.4))
      .otherwise(lit(0.2) / (m - lit(2)))
    journeys
      .withColumn("n_touches", count(lit(1)).over(wj))
      .withColumn("position", row_number().over(wpos))
      .join(conv.select(col("conv_id"), col("value")), "conv_id")
      .select(col("conv_id"), col(userCol), col("touch_id").as("touch_event_id"),
        col("n_touches"), col("position"),
        round(col("value") * weight, 5).as("credit"))
  }

  /** Daily active users with a trailing `windowDays` rolling distinct
    * count and the DAU/WAU stickiness ratio — the engagement
    * dashboard relation. Rolling DISTINCT is the trap here: a naive
    * distinct-over-window is unsupported/unbounded; instead each
    * (user, active-day) pair — deduplicated first — CONTRIBUTES
    * map-side to the `windowDays` calendar days it keeps the user
    * active in (a bounded explode), and WAU is a plain per-day
    * distinct count. Shuffles are keyed by (user, day) and day;
    * nothing holds more than a day's users.
    *
    * Returns (day_num, dau, wau, stickiness) for days with activity
    * (epoch-day BIGINT, the module's day convention).
    */
  def activeUsers(events: DataFrame, windowDays: Int = 7,
      userCol: String = "user_id", tsCol: String = "ts"): DataFrame = {
    require(windowDays >= 1, "windowDays must be >= 1")
    val ud = events.filter(col(tsCol).isNotNull)
      .select(col(userCol).as("u"),
        datediff(to_date(col(tsCol)), lit("1970-01-01")).cast("long")
          .as("day_num"))
      .distinct()
    val dau = ud.groupBy("day_num").agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("u"), explode(sequence(col("day_num"),
        col("day_num") + lit(windowDays - 1).cast("long"))).as("day_num"))
      .distinct()
      .groupBy("day_num").agg(count(lit(1)).as("wau"))
    dau.join(wau, "day_num")
      .select(col("day_num"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau").cast("double"), 5)
          .as("stickiness"))
      .orderBy("day_num")
  }

  /** Per-type daily-count AUTOCORRELATION at the given lags — the
    * periodicity detector: r₇ ≈ 1 on a metric with weekly rhythm, r₁
    * high on momentum/trend, both ≈ 0 on noise. The seasonality
    * check a forecaster ([[q_forecast_revenue]]'s OLS) needs before
    * trusting a linear fit. Returns (event_type, n_days,
    * r_lag<k>...) with NULL for a constant series (autocorrelation
    * undefined, never a divide-by-zero).
    *
    * The day series is DENSIFIED first (gap days are real zeros — a
    * sparse series would silently autocorrelate only active days).
    * Determinism: counts are exact; the per-day deviation is
    * quantized at 6 → DECIMAL(18,6) so the lag products and squares
    * sum EXACTLY (a raw double Σ would be partition-order dependent);
    * one double division per (type, lag) at the end. Scale: day grids
    * are date-range-bounded; windows are type-partitioned.
    */
  def dailyAutocorrelation(events: DataFrame,
      lags: Seq[Int] = Seq(1, 7)): DataFrame = {
    require(lags.nonEmpty && lags.forall(_ >= 1), "lags must be >= 1")
    val daily = events.filter(col("ts").isNotNull)
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long")
          .as("day_num"))
      .agg(count(lit(1)).as("__n"))
    // densify: every day in the type's [min, max] range, zeros filled
    val spans = daily.groupBy("event_type")
      .agg(min(col("day_num")).as("__d0"), max(col("day_num")).as("__d1"))
    val dense = spans
      .select(col("event_type"),
        explode(sequence(col("__d0"), col("__d1"))).as("day_num"))
      .join(daily, Seq("event_type", "day_num"), "left")
      .withColumn("__n", coalesce(col("__n"), lit(0L)))
    val stats = dense.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum(col("__n")).as("__tot"))
      .withColumn("__mu", col("__tot").cast("double") / col("n_days"))
    val byDay = Window.partitionBy("event_type").orderBy("day_num")
    val dev = dense.join(broadcast(stats), "event_type")
      .withColumn("__dev",
        round(col("__n").cast("double") - col("__mu"), 6)
          .cast(DecimalType(18, 6)))
    val lagged = lags.foldLeft(dev) { (d, k) =>
      d.withColumn(s"__dev_l$k", lag(col("__dev"), k).over(byDay))
    }
    val aggs = sum(col("__dev") * col("__dev")).as("__den") +:
      lags.map(k => sum(col("__dev") * col(s"__dev_l$k")).as(s"__num$k"))
    val rCols = lags.map { k =>
      when(col("__den") > 0,
        round(col(s"__num$k").cast("double") / col("__den").cast("double"), 5))
        .as(s"r_lag$k")
    }
    lagged.groupBy(col("event_type"), col("n_days"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("event_type") +: col("n_days") +: rCols: _*)
      .orderBy("event_type")
  }

  /** Per-type burstiness: the Fano factor (index of dispersion) of
    * DAILY counts over the type's [min, max] day span, zero days
    * included — F = s²/x̄, 1 for a Poisson-regular stream, ≫1 for
    * bursty arrivals (batch replays, bot storms, incident retries),
    * <1 for throttled/scheduled streams. The single-number companion
    * to [[dailyAutocorrelation]]'s lag structure, and the alarm that
    * catches "same daily TOTAL, completely different arrival regime"
    * which a volume dashboard misses.
    *
    * Exactness: with zeros densified, F = (n·Σx² − S²)/((n−1)·S) is
    * a ratio of exact integers (§8.3: counts sum exactly; products
    * widened to DECIMAL(38,0) — Σx² scales with burst-size² and a
    * long wraps past ~3·10⁹ events/day) — ONE rounded double
    * division. Degenerate spans (n ≤ 1 or S = 0) yield NULL.
    *
    * Scale shape: one (type, day) map-side-combined count, a
    * span-bounded densify (sequence explode over the date range —
    * never corpus rows), one row per type out.
    */
  def fanoFactor(events: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    val daily = events.filter(col("ts").isNotNull)
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long")
          .as("day_num"))
      .agg(count(lit(1)).as("__n"))
    val n = col("n_days").cast(dec)
    val s = col("n_events").cast(dec)
    daily.groupBy("event_type")
      .agg((max(col("day_num")) - min(col("day_num")) + 1).as("n_days"),
        sum(col("__n")).as("n_events"),
        sum(col("__n").cast(dec) * col("__n")).as("__ss"))
      .select(col("event_type"), col("n_days"), col("n_events"),
        when(col("n_days") > 1 && col("n_events") > 0,
          round((n * col("__ss") - s * s).cast("double") /
            ((n - 1) * s).cast("double"), 5))
          .otherwise(lit(null).cast("double")).as("fano"))
      .orderBy("event_type")
  }

  /** Top-k frequent 3-step event paths — the sequence-mining big
    * sibling of [[eventTransitions]]' Markov bigrams: which concrete
    * three-event journeys dominate (the funnel-DISCOVERY relation;
    * the funnel operator then measures a chosen one). Per-user
    * time-ordered trigrams via two leads over the (ts_us, event_id)
    * tie-broken user window, counted map-side-combined, top-k by
    * (count desc, path asc).
    *
    * Scale shape: the window is user-partitioned (bounded per-user
    * state, no global sort); trigram expansion is 1 row per event
    * (not 3 — each event starts at most one path); the count shuffle
    * is keyed by the path-type domain (|event_types|³ at worst,
    * domain-bounded); top-k plans as TakeOrderedAndProject.
    */
  def eventPaths(events: DataFrame, k: Int = 20): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    events
      .withColumn("ts_us", epochUs(col("ts")))
      .withColumn("__e2", lead(col("event_type"), 1).over(byUser))
      .withColumn("__e3", lead(col("event_type"), 2).over(byUser))
      .filter(col("__e3").isNotNull)
      .groupBy(col("event_type").as("step1"), col("__e2").as("step2"),
        col("__e3").as("step3"))
      .agg(count(lit(1)).as("n_paths"))
      .orderBy(col("n_paths").desc, col("step1"), col("step2"), col("step3"))
      .limit(k)
  }

  /** Built-in variant of [[sessionize]] using `session_window` —
    * Spark's native gap-based session operator (also the streaming
    * form). Kept alongside the lag/cumsum version: the built-in is
    * the right default, the custom one exists because sessionize's
    * per-session sequence numbers and µs-integer arithmetic aren't
    * expressible through session_window. Cross-checked in ExtSpec.
    */
  def sessionizeBuiltin(events: DataFrame, gapSeconds: Long = 1800L): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapSeconds seconds"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"))

  /** Trailing `windowDays`-day rolling totals of the per-day, per-type
    * event aggregates — the moving-average shape every metrics
    * pipeline needs. Two stages: (1) a map-side-combined groupBy to
    * one row per (type, day) — this is the stage that sees all the
    * data and it reduces 100 TB to O(types × days) rows; (2) a RANGE
    * window over day number on that tiny frame. The range frame is
    * integer epoch-days, so "6 preceding" means 6 calendar days, not
    * 6 rows — days absent from the data correctly fall out of the
    * window (`roll_days` reports how many days are actually present).
    * Rolling sums accumulate in decimal — exact under any partitioning.
    */
  def rollingDaily(events: DataFrame, windowDays: Int = 7): DataFrame = {
    val daily = events
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("day_num"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).as("__sum_dec"))
    val w = Window.partitionBy("event_type").orderBy("day_num")
      .rangeBetween(-(windowDays - 1).toLong, 0L)
    daily
      .withColumn("__roll_dec", sum(col("__sum_dec")).over(w))
      .withColumn("roll_days", count(lit(1)).over(w))
      .select(col("event_type"), col("day_num"), col("n_events"),
        round(col("__sum_dec").cast("double"), 5).as("sum_value"),
        round(col("__roll_dec").cast("double"), 5).as("roll_sum_value"),
        col("roll_days"))
  }

  /** Day-over-day deltas of the per-(type, day) totals: the
    * sequential-diff (lag) companion of [[rollingDaily]]. Same
    * two-stage shape — the groupBy collapses the raw stream before
    * any window runs — and the deltas subtract in decimal, so they
    * are exact under any partitioning.
    */
  def dailyDelta(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("day_num"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).as("__sum_dec"))
    val w = Window.partitionBy("event_type").orderBy("day_num")
    daily
      .withColumn("delta_events",
        col("n_events") - lag(col("n_events"), 1).over(w))
      .withColumn("__delta_dec",
        col("__sum_dec") - lag(col("__sum_dec"), 1).over(w))
      .select(col("event_type"), col("day_num"), col("n_events"),
        col("delta_events"),
        round(col("__sum_dec").cast("double"), 5).as("sum_value"),
        round(col("__delta_dec").cast("double"), 5).as("delta_value"))
  }

  /** Gap-filled daily series: every calendar day inside each type's
    * observed [min, max] span gets a row, whether or not events
    * occurred — absent days are the thing downstream consumers
    * (rolling averages, charting, anomaly baselines) silently get
    * wrong when a series has holes. Counts and sums zero-fill;
    * `ffill_sum_value` carries the most recent OBSERVED day's total
    * forward (`last` ignoring nulls — the state-like fill);
    * `observed` flags real vs synthesized rows.
    *
    * Scale shape: the raw stream collapses to one row per
    * (type, day) first — the spine (`sequence` over each type's
    * span, exploded) and everything after it operate on O(types ×
    * days) rows, never on raw events. The spine join and the
    * forward-fill window share the (type, day)-keyed layout.
    */
  def gapFillDaily(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("day_num"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).as("__sum_dec"))
    val spine = daily
      .groupBy("event_type")
      .agg(min(col("day_num")).as("__d0"), max(col("day_num")).as("__d1"))
      .select(col("event_type"),
        explode(sequence(col("__d0"), col("__d1"))).as("day_num"))
    val w = Window.partitionBy("event_type").orderBy("day_num")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("event_type", "day_num"), "left")
      .withColumn("__ffill_dec", last(col("__sum_dec"), ignoreNulls = true).over(w))
      .select(col("event_type"), col("day_num"),
        col("n_events").isNotNull.as("observed"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        round(coalesce(col("__sum_dec"), lit(0).cast("decimal(18,6)"))
          .cast("double"), 5).as("sum_value"),
        round(col("__ffill_dec").cast("double"), 5).as("ffill_sum_value"))
  }

  /** Trailing z-score anomaly flags on the per-(type, day) series:
    * each day's total is tested against the mean/σ of the PRIOR
    * `windowDays` calendar days (the current day never contaminates
    * its own baseline; absent days fall out of the RANGE frame).
    * `is_anomaly` fires when at least `minDays` baseline days exist
    * and |x − μ| > k·σ — the spike/drop detector a daily pipeline
    * health check runs.
    *
    * Determinism: the windowed S₁/S₂ accumulate in EXACT decimals
    * (order-free — a double windowed sum would depend on the
    * engine's frame-evaluation order), `mean7` renders via the
    * integer HALF-UP rule, and the z-test itself runs in doubles
    * with ONE identically-shaped expression tree on both engines
    * (identical inputs → identical IEEE results). v² stays inside
    * DECIMAL(37,10) — no silent scale loss (SURVEY.md §8.3 rule 11).
    *
    * Scale shape: identical to [[rollingDaily]] — the raw stream
    * collapses to O(types × days) rows before any window runs.
    */
  def anomalyFlags(events: DataFrame, windowDays: Int = 7,
      k: Double = 2.0, minDays: Int = 3): DataFrame = {
    val daily = events
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("day_num"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).as("__sum_dec"))
      .withColumn("__v",
        round(col("__sum_dec").cast("double"), 5).cast("decimal(18,5)"))
    val w = Window.partitionBy("event_type").orderBy("day_num")
      .rangeBetween(-windowDays.toLong, -1L)
    val st = daily
      .withColumn("__s1", sum(col("__v")).over(w))
      .withColumn("__s2", sum(col("__v") * col("__v")).over(w))
      .withColumn("__w", count(lit(1)).over(w))
    val su = (col("__s1") * lit(100000L)).cast("long")
    val mu = col("__s1").cast("double") / col("__w").cast("double")
    val varr = greatest(
      col("__s2").cast("double") / col("__w").cast("double") - mu * mu,
      lit(0.0))
    st.select(col("event_type"), col("day_num"), col("n_events"),
      col("__v").cast("double").as("sum_value"),
      col("__w").as("win_days"),
      when(col("__w") > 0,
        floor((su * 2 + col("__w")).cast("double") /
          (col("__w") * 2).cast("double")) / lit(100000.0))
        .otherwise(0.0).as("mean_prior"),
      when(col("__w") > 0, round(sqrt(varr), 5)).otherwise(0.0).as("std_prior"),
      (col("__w") >= minDays &&
        abs(col("__v").cast("double") - mu) > lit(k) * sqrt(varr))
        .as("is_anomaly"))
  }

  /** Cohort retention: users grouped by their first-activity day
    * (the cohort), then per (cohort_day, day_offset) the count of
    * cohort members active that day and the retention rate against
    * the cohort's size. The standard growth-analytics matrix.
    *
    * Scale shape: (user, day) activity is distinct-ed in one uniform
    * shuffle; cohort assignment is a user-keyed min + equi-join; the
    * final roll-up needs only `count(*)` — the input is already
    * one-row-per-(user, day) and a user has exactly one cohort, so
    * no distinct aggregate (and no Expand) appears anywhere. Cohort
    * sizes broadcast (one row per calendar day).
    */
  def cohortRetention(events: DataFrame, maxOffsetDays: Long = 14L,
      userCol: String = "user_id", tsCol: String = "ts"): DataFrame = {
    val activity = events.select(col(userCol).as("user"),
      datediff(to_date(col(tsCol)), lit("1970-01-01")).cast("long").as("day_num"))
      .distinct()
    val cohorts = activity.groupBy("user").agg(min("day_num").as("cohort_day"))
    val sizes = cohorts.groupBy("cohort_day")
      .agg(count(lit(1)).as("cohort_size"))
    activity.join(cohorts, "user")
      .withColumn("day_offset", col("day_num") - col("cohort_day"))
      .filter(col("day_offset") <= maxOffsetDays)
      .groupBy("cohort_day", "day_offset")
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), "cohort_day")
      .withColumn("retention", round(
        col("n_active").cast("double") / col("cohort_size").cast("double"), 5))
      .select("cohort_day", "day_offset", "n_active", "cohort_size", "retention")
  }

  /** Cumulative distinct-user growth curve: per first-activity day,
    * the new-user count and the running total of users seen so far —
    * the classic growth report. `(day_num, n_new_users, cum_users)`.
    *
    * Scale shape: first-seen day is one user-keyed min (map-side
    * combined); the cumulative sum runs over ONE ROW PER CALENDAR DAY
    * — a domain bounded by time, not data size, so the global window
    * is safe (the q_events_trend precedent; whitelisted in the
    * global-window audit with that bound).
    */
  def userGrowth(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    val firstSeen = events
      .groupBy(col(userCol).as("user"))
      .agg(min(datediff(to_date(col(tsCol)), lit("1970-01-01")).cast("long"))
        .as("day_num"))
    firstSeen.groupBy("day_num").agg(count(lit(1)).as("n_new_users"))
      .withColumn("cum_users",
        sum(col("n_new_users")).over(org.apache.spark.sql.expressions.Window
          .orderBy("day_num")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
  }

  /** FIRST-touch attribution: each conversion event joined to its
    * user's EARLIEST touch event at or before the conversion — the
    * complement of [[asofJoin]]'s last-touch semantics (marketing
    * attribution's two canonical models). One row per conversion:
    * `(event_id, user_id, ts_us, value, first_touch_us,
    * us_since_first_touch)`, touch columns null when the user has no
    * prior touch.
    *
    * Scale shape: a user's first touch is a single user-keyed min
    * (map-side combined, one row per user), then one equi-join onto
    * the conversion stream — no window, no range join, nothing
    * pair-shaped. Ties inside the min don't exist (epoch-µs min is a
    * value, not a row pick).
    */
  def firstTouchAttribution(events: DataFrame,
      conversionType: String = "purchase",
      touchType: String = "click",
      userCol: String = "user_id", tsCol: String = "ts"): DataFrame = {
    val conv = events.filter(col("event_type") === conversionType)
      .select(col("event_id"), col(userCol), epochUs(col(tsCol)).as("ts_us"),
        col("value"))
    val firstTouch = events.filter(col("event_type") === touchType)
      .groupBy(col(userCol))
      .agg(min(epochUs(col(tsCol))).as("first_touch_us"))
    conv.join(firstTouch, Seq(userCol), "left")
      .select(col("event_id"), col(userCol), col("ts_us"), col("value"),
        when(col("first_touch_us") <= col("ts_us"), col("first_touch_us"))
          .as("first_touch_us"),
        when(col("first_touch_us") <= col("ts_us"),
          col("ts_us") - col("first_touch_us")).as("us_since_first_touch"))
  }

  /** RFM segmentation (recency / frequency / monetary), the classic
    * user-value report, scored SCALE-SAFELY: each metric's quintile
    * boundaries come from the exact distributed quantile operator
    * (range-sharded two-phase — [[graft.ext.Quantiles]]), then each
    * user's score is a threshold comparison — no ntile, no global
    * window, no total sort anywhere. One row per user:
    * `(user_id, recency_us, n_events, total_value, r_score, f_score,
    * m_score)`, scores 1–5 with 5 best (most recent / most frequent /
    * highest spend).
    *
    * Determinism: recency is whole-µs arithmetic against the corpus
    * max instant; total_value is a decimal(18,6) sum (rule 2);
    * thresholds are the exact Percentile-interpolated quantiles
    * rounded at 5; scores are strict-inequality counts against those
    * thresholds — identical in any engine, any partitioning. Ties AT
    * a boundary fall to the lower score on both sides by the same
    * comparison.
    */
  def rfmScores(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    val perUser = events.groupBy(col(userCol))
      .agg(max(epochUs(col(tsCol))).as("__last_us"),
        count(lit(1)).as("n_events"),
        round(sum(col("value").cast(
          org.apache.spark.sql.types.DecimalType(18, 6))).cast("double"), 5)
          .as("total_value"))
    val ref = events.agg(max(epochUs(col(tsCol))).as("__ref"))
    // MATERIALIZED: metrics feeds FOUR consumers (three per-metric
    // quantile-threshold builds + the final scoring select); without
    // the cut each consumer re-runs the full event scan + per-user
    // aggregation (measured: the q_events_rfm plan carried 4 copies
    // of the events exchange). The cut is user-count-sized rows.
    val metrics = Share.checkpoint(perUser.crossJoin(broadcast(ref))
      .withColumn("recency_us", col("__ref") - col("__last_us"))
      .drop("__ref", "__last_us"))
    val ps = Seq("q20" -> 0.2, "q40" -> 0.4, "q60" -> 0.6, "q80" -> 0.8)
    // ONE quantile pipeline for all three metrics, keyed by metric
    // name (groupQuantiles computes each group independently over the
    // same double-cast value multiset each per-metric call saw, so the
    // thresholds are bit-identical) — three separate calls each paid
    // the full sharded-cumsum stage chain over the tiny metrics leaf,
    // tripling the query's fixed per-job cost for no data reason.
    val mCols = Seq("recency_us", "n_events", "total_value")
    val stacked = metrics.selectExpr(
      s"stack(${mCols.size}, " +
        mCols.map(c => s"'$c', cast(`$c` as double)").mkString(", ") +
        ") as (__m, __v)")
    val qs = graft.ext.Quantiles.groupQuantiles(stacked, "__m", "__v", ps)
    val thrAggs = for (c <- mCols; (name, _) <- ps)
      yield min(when(col("__m") === c, col(name))).as(s"__${c}_$name")
    val thresholdRow = qs.groupBy().agg(thrAggs.head, thrAggs.tail: _*)
    def scoreHigher(c: String): Column =
      ps.map { case (name, _) =>
        when(col(c) > col(s"__${c}_$name"), 1).otherwise(0)
      }.reduce(_ + _) + lit(1)
    def scoreLower(c: String): Column =
      ps.map { case (name, _) =>
        when(col(c) < col(s"__${c}_$name"), 1).otherwise(0)
      }.reduce(_ + _) + lit(1)
    metrics
      .crossJoin(broadcast(thresholdRow))
      .select(col(userCol), col("recency_us"), col("n_events"),
        col("total_value"),
        scoreLower("recency_us").as("r_score"),
        scoreHigher("n_events").as("f_score"),
        scoreHigher("total_value").as("m_score"))
  }

  /** Type-2 slowly-changing-dimension history from an event stream:
    * collapse each key's ordered attribute sequence into versioned
    * validity intervals — one row per RUN of equal consecutive
    * values, with `[valid_from_us, valid_to_us)` half-open interval
    * bounds (`valid_to_us` null on the open current version),
    * a per-key `version` number, and an `is_current` flag. The
    * standard warehouse dimension-history build (SCD type 2),
    * expressed as windows instead of the MERGE-per-batch loop.
    *
    * Determinism: rows are ordered by (event time, `idCol`) within a
    * key, so ties at the same timestamp resolve identically on every
    * engine — the oracle twin orders by the same pair.
    *
    * Scale shape: ONE hash exchange on the key serves both windows
    * (the change-detection lag and the interval-chaining lead/
    * row_number run over the same partitioning); no self-join, no
    * per-key buffering beyond the window sort.
    */
  def scd2History(events: DataFrame, keyCol: String = "user_id",
      tsCol: String = "ts", attrCol: String = "event_type",
      idCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col("__ts_us"), col(idCol))
    val changes = events
      .withColumn("__ts_us", epochUs(col(tsCol)))
      .select(col(keyCol), col("__ts_us"), col(idCol), col(attrCol))
      .withColumn("__prev", lag(col(attrCol), 1).over(w))
      .filter(col("__prev").isNull || col(attrCol) =!= col("__prev"))
    changes
      .withColumn("valid_from_us", col("__ts_us"))
      .withColumn("valid_to_us", lead(col("__ts_us"), 1).over(w))
      .withColumn("version", row_number().over(w))
      .withColumn("is_current", col("valid_to_us").isNull)
      .select(col(keyCol), col(attrCol), col("valid_from_us"),
        col("valid_to_us"), col("version"), col("is_current"))
  }

  /** Latest-state snapshot: ONE row per key — the most recent event's
    * attributes — the standard CDC/compaction read (the "current
    * table" over an append-only change log; SCD2's `is_current` slice
    * computed directly, without building history).
    *
    * Plan shape: `row_number() = 1` over (key DESC-ordered window)
    * is recognized by Spark's WindowGroupLimit rule — each map task
    * keeps only its per-key top-1 BEFORE the exchange, so the shuffle
    * carries ~|keys| rows, not |events|. At a 100 TB change log with
    * a bounded key space that pre-filter is the difference between
    * shuffling the log and shuffling the snapshot.
    *
    * Determinism: ties at the same timestamp break on `idCol` DESC —
    * same pair the oracle twin orders by.
    */
  def latestSnapshot(events: DataFrame, keyCol: String = "user_id",
      tsCol: String = "ts", idCol: String = "event_id",
      payload: Seq[String] = Seq("event_type", "value")): DataFrame = {
    val w = Window.partitionBy(keyCol)
      .orderBy(col("__ts_us").desc, col(idCol).desc)
    events
      .withColumn("__ts_us", epochUs(col(tsCol)))
      .select((keyCol +: idCol +: "__ts_us" +: payload).map(col): _*)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(keyCol) +: col("__ts_us").as("ts_us") +:
        payload.map(col): _*)
  }

  /** As-of join: attach to every left row the LATEST right row with
    * the same key whose timestamp is <= the left row's timestamp
    * (inclusive, left-outer — unmatched left rows keep null right
    * attributes). The classic time-series operator Spark has no
    * native form of.
    *
    * Plan shape: the naive encoding is a range join
    * (`l.key = r.key AND r.ts <= l.ts` + a per-left-row max), which
    * Spark plans as an equi-join on key whose output is O(matches) =
    * quadratic per hot key before the max prunes it. Instead we use
    * the union trick: tag both sides, union, and take
    * `last(right_struct, ignoreNulls)` over a window partitioned by
    * key and ordered by (ts, side) — ONE hash exchange on key + an
    * in-partition sort, O(n log n) per key, no join blowup at any
    * scale. Right rows sort before left rows at equal timestamps
    * (side 0 < 1), which is what makes the match inclusive.
    *
    * The right payload travels as a single struct so all attached
    * columns come from the SAME matched row even when some of its
    * fields are null (per-column `last(..., ignoreNulls)` would mix
    * rows). Right rows must be unique per (key, ts) — collapse
    * duplicates upstream (e.g. `max_by`) — otherwise which duplicate
    * wins is tie-order-dependent in every engine's as-of join.
    *
    * Skew note: a hot key concentrates one sort partition, same
    * caveat as [[sessionize]]; AQE's skew-split cannot split a
    * window partition, so a pathological key needs time-bucketed
    * pre-aggregation of the right side.
    *
    * @param rightPayload right-side columns to attach, each emitted
    *                     as `asof_<name>`; the matched timestamp is
    *                     always attached as `asof_<rightTsCol>`.
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      leftTsCol: String,
      rightTsCol: String,
      rightPayload: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    val payload  = rightTsCol +: rightPayload
    val l = left.select(
      col(keyCol).as("__key"),
      col(leftTsCol).as("__ts"),
      lit(1).as("__side"),
      struct(leftCols.map(col): _*).as("__l"),
      lit(null).cast(
        org.apache.spark.sql.types.StructType(
          payload.map(c => org.apache.spark.sql.types.StructField(
            c, right.schema(c).dataType)))).as("__r"))
    val r = right.select(
      col(keyCol).as("__key"),
      col(rightTsCol).as("__ts"),
      lit(0).as("__side"),
      lit(null).cast(
        org.apache.spark.sql.types.StructType(
          leftCols.map(c => org.apache.spark.sql.types.StructField(
            c, left.schema(c).dataType)))).as("__l"),
      struct(payload.map(col): _*).as("__r"))
    val w = Window.partitionBy("__key").orderBy("__ts", "__side")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val attached = l.unionByName(r)
      .withColumn("__match", last(col("__r"), ignoreNulls = true).over(w))
      .where(col("__side") === 1)
    val out = leftCols.map(c => col(s"__l.$c").as(c)) ++
      payload.map(c => col(s"__match.$c").as(s"asof_$c"))
    attached.select(out: _*)
  }

  /** Ordered-funnel analysis: for each user, the earliest time of
    * stage 0, then the earliest stage-1 event at-or-after it, and so
    * on — the ClickHouse `windowFunnel` semantics. Output: one row
    * per user with `stage<i>_us` (µs, null once the funnel breaks —
    * and a null stage forces every later stage null, since
    * `x >= null` filters everything out).
    *
    * Plan: ONE shuffle (groupBy user) collecting a per-stage
    * timestamp array, then per-row HOF chain
    * `array_min(filter(ts_i, x -> x >= t_{i-1}))`. min-of-filter is
    * ORDER-INDEPENDENT, which is what makes `collect_list` (whose
    * element order is partition-arrival nondeterministic) safe here.
    * Per-user state is that user's event count — the same bound as
    * any sessionization; the sequential-join alternative costs
    * `stages.length` shuffles instead of one.
    */
  def funnelStages(events: DataFrame, stages: Seq[String],
      userCol: String = "user_id", typeCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val lists = stages.zipWithIndex.map { case (st, i) =>
      collect_list(when(col(typeCol) === st, col("__ts_us"))).as(s"__ts_$i")
    }
    val agg = events
      .withColumn("__ts_us", epochUs(col(tsCol)))
      .groupBy(col(userCol))
      .agg(lists.head, lists.tail: _*)
    val withTimes = stages.indices.foldLeft(agg) { (df, i) =>
      val t =
        if (i == 0) array_min(col("__ts_0"))
        else array_min(filter(col(s"__ts_$i"), x => x >= col(s"stage${i - 1}_us")))
      df.withColumn(s"stage${i}_us", t)
    }
    withTimes.select(col(userCol) +: stages.indices.map(i => col(s"stage${i}_us")): _*)
  }

  /** Per-user session summary — the compact roll-up of [[sessionize]]:
    * (user_id, n_sessions, total_events, avg_session_secs).
    */
  def sessionSummary(events: DataFrame, gapSeconds: Long = 1800L): DataFrame =
    sessionize(events, gapSeconds)
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("total_events"),
        TextStats.decAvg5(col("session_secs"), count(lit(1)))
          .as("avg_session_secs"))
      .orderBy("user_id")

  /** Funnel transition-latency quantiles: for each ADJACENT stage
    * pair, the distribution of per-user µs from the user's first
    * stage-i event to their first stage-(i+1) event at or after it —
    * (stage_pair, n, p25, p50, p90, p99). The funnel report counts
    * who converts; this measures how LONG each hop takes, which is
    * where the drop-off usually hides.
    *
    * Shape: one first-event aggregation per upstream stage, a
    * unit-keyed join to the downstream stage's events (shuffle sized
    * by the stage cardinalities, never a cross product), then the
    * whole duration relation feeds the exact per-group quantile
    * machinery ([[Quantiles.groupQuantiles]] — sharded cumsum, no
    * per-group buffering). Durations are whole µs (exact in a
    * double far past any real latency).
    */
  def funnelLatency(events: DataFrame, stages: Seq[String],
      ps: Seq[(String, Double)]): DataFrame = {
    require(stages.size >= 2, "need at least two funnel stages")
    val durs = stages.zip(stages.tail).zipWithIndex.map {
      case ((a, b), i) =>
        val ta = events.filter(col("event_type") === a)
          .groupBy(col("user_id")).agg(min(col("ts")).as("__t0"))
        val tb = events.filter(col("event_type") === b)
          .select(col("user_id"), col("ts").as("__te"))
        ta.join(tb, Seq("user_id"))
          .filter(col("__te") >= col("__t0"))
          .groupBy(col("user_id"), col("__t0"))
          .agg(min(col("__te")).as("__t1"))
          .select(lit(s"${i + 1}_${a}_to_$b").as("stage_pair"),
            (epochUs(col("__t1")) - epochUs(col("__t0"))).as("dur_us"))
    }.reduce(_.unionByName(_))
    Quantiles.groupQuantiles(durs, "stage_pair", "dur_us", ps)
      .orderBy("stage_pair")
  }

  /** Theil–Sen robust daily trend per event type: (event_type,
    * n_days, slope, intercept) where slope is the LOWER MEDIAN of all
    * pairwise day-count slopes and intercept the lower median of
    * c − slope·d — the regression line one outlier day cannot drag,
    * where the least-squares trend (q_events_trend) follows it.
    *
    * Bounded by construction: the corpus collapses to one row per
    * (type, day) map-side, so the pairwise self-join is ≤ days²/2
    * rows per type (a year is ~66k pairs) — joined on the TYPE key,
    * planned as an equi-join plus filter, never a nested loop over
    * events. Medians are positional picks (row_number at
    * (n−1) div 2) over type-partitioned windows on those bounded
    * frames — deterministic under slope ties because only the VALUE
    * at the position is emitted, and equal slopes are equal values.
    * The intercept uses the UNROUNDED slope; one round(5) per output.
    */
  def theilSen(events: DataFrame): DataFrame = {
    val daily = events.select(col("event_type"),
      datediff(to_date(col("ts")), lit("1970-01-01")).cast("long")
        .as("__d"))
      .groupBy("event_type", "__d").agg(count(lit(1)).as("__c"))
    val l = daily.select(col("event_type"), col("__d").as("__d1"),
      col("__c").as("__c1"))
    val r = daily.select(col("event_type"), col("__d").as("__d2"),
      col("__c").as("__c2"))
    val slopes = l.join(r, Seq("event_type"))
      .filter(col("__d2") > col("__d1"))
      .withColumn("__s", (col("__c2") - col("__c1")).cast("double") /
        (col("__d2") - col("__d1")).cast("double"))
    val bySlope = Window.partitionBy("event_type").orderBy("__s")
    val slopePick = slopes
      .withColumn("__rn", row_number().over(bySlope))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("event_type")))
      .filter(col("__rn") === expr("(__n - 1) div 2 + 1"))
      .select(col("event_type"), col("__s").as("__slope"))
    val resid = daily.join(slopePick, Seq("event_type"))
      .withColumn("__r", col("__c").cast("double") -
        col("__slope") * col("__d").cast("double"))
    val byResid = Window.partitionBy("event_type").orderBy("__r")
    resid
      .withColumn("__rn", row_number().over(byResid))
      .withColumn("__nd", count(lit(1)).over(Window.partitionBy("event_type")))
      .filter(col("__rn") === expr("(__nd - 1) div 2 + 1"))
      .select(col("event_type"), col("__nd").as("n_days"),
        round(col("__slope"), 5).as("slope"),
        round(col("__r"), 5).as("intercept"))
      .orderBy("event_type")
  }

  /** Best single change-point of each event type's daily-count series
    * (binary segmentation, depth 1): the split after day k maximizing
    * the between-segment SSE reduction
    * gain(k) = (n·S_k − k·S)² / (n·k·(n−k)) — the day "the metric
    * changed level", with the before/after means; the complement to
    * [[cusumChangepoint]]'s sequential drift alarm (CUSUM answers
    * "is it drifting NOW", this answers "WHERE did the level shift"
    * in hindsight). Returns one row per type:
    * (event_type, n_days, split_day = last day of the left segment,
    * mean_before, mean_after, gain), type order; types with a single
    * day emit NULL split columns.
    *
    * Determinism (§8.3): S_k, S, n are exact integers; the argmax
    * compares num²·10⁶ div (k·(n−k)) — n is constant within a type,
    * so dropping it preserves the argmax while the scale-6 integer
    * units stay exact (LONG `div` result; bound: monthly type totals
    * to ~10⁶ events — beyond that, pre-aggregate the series coarser);
    * ties go to the EARLIEST day; the three exposed doubles are
    * single divisions of exact operands.
    *
    * Scale shape: the cumulative window runs over the (type, day)
    * grid — bounded by the calendar, not the event count (the
    * [[dailyTrend]] domain) — after one map-side-combined daily
    * roll-up of the corpus.
    */
  def bestChangepoint(events: DataFrame): DataFrame = {
    val dec380 = DecimalType(38, 0)
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("event_type")
    val cum = daily
      .withColumn("__sk", sum(col("c")).over(w))
      .withColumn("__k", count(lit(1)).over(w))
      .withColumn("__s", sum(col("c")).over(wAll))
      .withColumn("__n", count(lit(1)).over(wAll))
    val num = col("__n").cast(dec380) * col("__sk") -
      col("__k").cast(dec380) * col("__s")
    val scored = cum
      .filter(col("__k") < col("__n"))
      .withColumn("__num", num)
      .withColumn("__gu",
        expr("(__num * __num * 1000000) div (__k * (__n - __k))"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("event_type")
          .orderBy(col("__gu").desc, col("day").asc)))
      .filter(col("__rn") === 1)
    daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"))
      .join(scored.select(col("event_type"), col("day").as("split_day"),
        col("__k"), col("__n"), col("__sk"), col("__s"), col("__num")),
        Seq("event_type"), "left")
      .select(col("event_type"), col("n_days"), col("split_day"),
        round(col("__sk").cast("double") / col("__k").cast("double"), 5)
          .as("mean_before"),
        round((col("__s") - col("__sk")).cast("double") /
          (col("__n") - col("__k")).cast("double"), 5).as("mean_after"),
        round((col("__num") * col("__num")).cast("double") /
          (col("__n").cast(dec380) * col("__k") * (col("__n") - col("__k")))
            .cast("double"), 5).as("gain"))
      .orderBy("event_type")
  }

  /** Day-of-week seasonal decomposition of each type's daily-count
    * series: one row per (type, observed day) with the multiplicative
    * weekday index and the deseasonalized count — the classical
    * ratio-to-overall-mean decomposition
    * (index_dow = mean(count | dow) / mean(count); deseasonalized =
    * count / index). The series health-check a weekly-rhythmed
    * product metric needs BEFORE a trend/changepoint read: a "drop"
    * every Saturday is seasonality, not an incident, and
    * [[anomalyFlags]]' trailing z-test over the RAW series would
    * page on it weekly.
    *
    * Weekday convention: dow = (epoch_day + 3) mod 7 with Monday = 0
    * (1970-01-01 was a Thursday) — pure integer arithmetic, so both
    * engines bucket identically with no locale/DOW-origin trap.
    *
    * Determinism (§8.3): both exposed ratios are SINGLE double
    * divisions of exact DECIMAL(38,0) integer products —
    * index = (sum_dow·n_days) / (n_dow·sum_total) and
    * deseasonalized = (count·n_dow·sum_total) / (sum_dow·n_days) —
    * rounded once. Bound: the triple product stays exact in double
    * conversion to ~2⁵³ (daily totals ×10⁹ at day grids ×10³ —
    * beyond that, pre-aggregate coarser, the [[bestChangepoint]]
    * caveat).
    *
    * Scale shape: one map-side-combined daily roll-up of the raw
    * stream, then all arithmetic on the O(types × days) grid — two
    * grid-sized aggregates broadcast-joined back. No window at all.
    */
  def seasonalDow(events: DataFrame): DataFrame = {
    val dec380 = DecimalType(38, 0)
    val daily = events
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long")
          .as("day_num"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("dow", ((col("day_num") + 3) % 7).cast("int"))
    val byType = daily.groupBy("event_type")
      .agg(sum(col("n_events")).as("__st"), count(lit(1)).as("__nd"))
    val byDow = daily.groupBy("event_type", "dow")
      .agg(sum(col("n_events")).as("__sd"), count(lit(1)).as("__ndw"))
    daily
      .join(byDow, Seq("event_type", "dow"))
      .join(broadcast(byType), Seq("event_type"))
      .select(col("event_type"), col("day_num"), col("dow"),
        col("n_events"),
        round((col("__sd").cast(dec380) * col("__nd")).cast("double") /
          (col("__ndw").cast(dec380) * col("__st")).cast("double"), 5)
          .as("seasonal_index"),
        round((col("n_events").cast(dec380) * col("__ndw") * col("__st"))
          .cast("double") /
          (col("__sd").cast(dec380) * col("__nd")).cast("double"), 5)
          .as("deseasonalized"))
      .orderBy("event_type", "day_num")
  }

  /** Sample autocorrelation of each type's ZERO-FILLED daily-count
    * series at lags 1..maxLag — one row per (type, lag) with
    * r_lag = Σ(x_t−x̄)(x_{t+lag}−x̄) / Σ(x_t−x̄)² over the full
    * calendar span (absent days count 0, the [[gapFillDaily]] spine —
    * ACF over only-observed days would alias the very gaps it should
    * detect). r₇ ≈ weekly rhythm strength, r₁ ≈ day-to-day
    * persistence: the periodicity fingerprint read BEFORE trusting a
    * trailing-window anomaly threshold.
    *
    * Determinism (§8.3): multiplying numerator and denominator by n²
    * clears the rational mean x̄ = S/n —
    * r = (n²·Sxy − n·S·(Sh+St) + (n−lag)·S²) / (n²·Sxx − n·S²) —
    * so every operand is an exact DECIMAL(38,0) integer and each r is
    * ONE double division, rounded once. Constant series (den = 0)
    * yield NULL r rather than an artifact.
    *
    * Scale shape: the raw stream collapses to the O(types × days)
    * grid first; the lag pairing is ONE partitioned window pass
    * emitting maxLag lag columns, unpivoted map-side by `stack` —
    * work is grid × maxLag rows, never event-scale. One grid-sized
    * join attaches the per-type moments.
    */
  def acfDaily(events: DataFrame, maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1 && maxLag <= 28,
      s"maxLag must be in [1, 28], got $maxLag")
    val dec380 = DecimalType(38, 0)
    val daily = events
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long")
          .as("day_num"))
      .agg(count(lit(1)).as("__c"))
    val spine = daily.groupBy("event_type")
      .agg(min(col("day_num")).as("__d0"), max(col("day_num")).as("__d1"))
      .select(col("event_type"),
        explode(sequence(col("__d0"), col("__d1"))).as("day_num"))
    val series = spine.join(daily, Seq("event_type", "day_num"), "left")
      .select(col("event_type"), col("day_num"),
        coalesce(col("__c"), lit(0L)).as("__x"))
    val byDay = Window.partitionBy("event_type").orderBy("day_num")
    val lagCols = (1 to maxLag).map(l =>
      lag(col("__x"), l).over(byDay).as(s"__l$l"))
    val stacked = series
      .select(col("event_type") +: col("__x") +: lagCols: _*)
      .select(col("event_type"), col("__x"),
        expr(s"stack($maxLag, " +
          (1 to maxLag).map(l => s"$l, __l$l").mkString(", ") +
          ") as (lag, __xl)"))
      .filter(col("__xl").isNotNull)
    val moments = series.groupBy("event_type")
      .agg(count(lit(1)).as("__n"),
        sum(col("__x").cast(dec380)).as("__s"),
        sum(col("__x").cast(dec380) * col("__x")).as("__sxx"))
    val pairs = stacked.groupBy("event_type", "lag")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("__x").cast(dec380) * col("__xl")).as("__sxy"),
        sum(col("__x").cast(dec380)).as("__stail"),
        sum(col("__xl").cast(dec380)).as("__shead"))
    val n = col("__n").cast(dec380)
    val num = n * n * col("__sxy") -
      n * col("__s") * (col("__shead") + col("__stail")) +
      (n - col("lag")) * col("__s") * col("__s")
    val den = n * n * col("__sxx") - n * col("__s") * col("__s")
    pairs.join(broadcast(moments), Seq("event_type"))
      .select(col("event_type"), col("lag"), col("n_pairs"),
        when(den =!= lit(0).cast(dec380),
          round(num.cast("double") / den.cast("double"), 5)).as("acf"))
      .orderBy("event_type", "lag")
  }

  /** Per-type EXACT exponentially-weighted moving average (α = 1/2)
    * of the daily value total — the smoothing curve behind "is this
    * metric trending or just noisy today": each day's EWMA halves
    * yesterday's and adds half of today (`s_t = (x_t + s_{t-1})/2`,
    * init `s_1 = x_1`). Rendered EXACTLY via the closed form: with
    * day index i per type (1-based over OBSERVED days — gaps carry
    * the running average forward, the trading-day convention),
    * `2^{t-1}·s_t = x_1 + Σ_{i=2..t} 2^{i-2}·x_i` — an integer-
    * weighted cumulative window sum in DECIMAL(38,0) over scale-6
    * units, so the recurrence never accumulates float error and both
    * engines compute the identical numerator. α = 1/2 is exactly the
    * choice that makes the weights powers of two; the ONE double
    * division per row (`S_t / 2^{t-1}`, then scale-6 down) is §8.3
    * rule 4's allowed finalize.
    *
    * The day-index bound: weights stay exact while `i ≤ 62`
    * (`1L << 60` is the last power with Σ 2^i·x_i safely inside
    * DECIMAL(38,0) at petabyte value sums); a `raise_error` guard on
    * the TINY daily relation (≤ types·days rows) enforces it loudly
    * instead of wrapping silently. Beyond 62 observed days the
    * honest form is a windowed restart (smooth the trailing 62) —
    * at 2^-62 the older terms are below any double's resolution
    * anyway.
    *
    * Scale shape: ONE map-side-combined daily roll-up of the corpus;
    * everything after is the types×days calendar grid (the
    * [[dailyTrend]] domain), windowed PER TYPE. Returns (event_type,
    * day, n_events, day_value, ewma), (event_type, day) order.
    */
  def ewmaDaily(events: DataFrame): DataFrame = {
    val dec380 = DecimalType(38, 0)
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 6))).as("__x"))
      .withColumn("__xu", (col("__x") * 1000000).cast(dec380))
    val byDay = Window.partitionBy("event_type").orderBy("day")
    val cumW = byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("__i", row_number().over(byDay))
      .withColumn("__i", when(col("__i") > 62,
        raise_error(lit("ewmaDaily: > 62 observed days per type — " +
          "exact 2^i weights leave DECIMAL(38,0)"))).otherwise(col("__i")))
      .withColumn("__w", when(col("__i") === 1, lit(1L))
        .otherwise(expr("shiftleft(1L, __i - 2)")).cast(dec380))
      .withColumn("__s", sum(col("__w") * col("__xu")).over(cumW))
      // §8.3 rule 4: S / 2^{t-1} lands EXACTLY on .5×10⁻⁵ ties
      // (…0625 tails), where engine `round`s disagree — render the
      // 5-decimal value as exact integer HALF_UP: floor((2S+den) /
      // (2den)) with den = 2^{t-1}·10, one exact div, one /10⁵
      .withColumn("__den",
        expr("shiftleft(1L, __i - 1)").cast(dec380) * 10)
      .select(col("event_type"), col("day"), col("n_events"),
        round(col("__x").cast("double"), 5).as("day_value"),
        (expr("(2 * __s + __den) div (2 * __den)").cast("double") /
          100000.0).as("ewma"))
      .orderBy("event_type", "day")
  }
}
