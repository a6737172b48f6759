package graft.queries

import org.apache.spark.sql.functions._
import graft.ext.Events
import Common._

/** Event-stream analytics over `events`: transitions, sessions,
  * windows, funnels, attribution and daily-series monitors.
  */
object EventQueries extends QueryFamily {

  private val rollingDays = 7
  private val funnelStageNames = Seq("signup", "click", "purchase")
  // daily-series autocorrelation lags (weekly rhythm needs lag 7)
  private val acfMaxLag = 7
  private val retentionMaxOffset = 14L
  // debounce gap (shared with OraclesExt.eventsDebounce)
  private val debounceGapSeconds = 60L
  // anomaly flags (shared with OraclesExt.eventsAnomaly)
  private val anomalyWindowDays = 7
  private val anomalyK = 2.0
  private val anomalyMinDays = 3
  // decayed-feature snapshot instant (2024-02-01T00:00:00Z, past the
  // fixture's event range) and half-life (shared with
  // OraclesExt.decayedSum)
  private val decayRefUs = 1706745600000000L
  private val decayHalfLifeDays = 7.0
  // top-k 3-step event paths (shared with OraclesExt.eventPaths)
  private val eventPathsK = 20
  // trailing active-user window (shared with OraclesExt.activeUsers)
  private val wauWindowDays = 7
  // Markov-attribution value-iteration rounds (shared with
  // OraclesExt.markovAttribution — the quantized trajectory is the
  // cross-engine contract)
  private val markovIters = 60
  // attribution: the converting event and the credited touch
  private val conversionType = "purchase"
  private val touchType = "click"
  // sessions split at a 30-minute gap (q_campaign_overlap's reach unit)
  private val sessionGapSeconds = 1800L
  // inter-arrival gap quantiles per event type
  private val gapPs = Seq(("p50_gap_us", 0.5), ("p90_gap_us", 0.9))
  // periodicity lags: day-to-day and the weekly rhythm
  private val autocorrLags = Seq(1, 7)
  // campaign windows over the fixture's Jan-2024 event range, half-open
  // [lo, hi) in epoch-µs at day granularity (day 19723 = 2024-01-01;
  // shared with OraclesExt.campaignOverlap)
  private val campaignWindows: Seq[(Int, Long, Long)] = {
    val dayUs = 86400000000L
    Seq((1, 19725L, 19730L), (2, 19732L, 19735L),
      (3, 19737L, 19745L), (4, 19747L, 19751L))
      .map { case (id, lo, hi) => (id, lo * dayUs, hi * dayUs) }
  }

  val defs: Seq[QueryDef] = Seq(
    // §7.5 — Markov transition edges over user event streams (one
    // user shuffle + an O(types²) roll-up).
    QueryDef("q_event_transitions", withTables { s =>
      Events.eventTransitions(s.table("events"))
    }, Some(OraclesExt.eventTransitions)),
    // §7.5 — behavior predictability: conditional next-event entropy
    // per from-state (low = templated/bot flows; drift alarm).
    QueryDef("q_transition_entropy", withTables { s =>
      Events.transitionEntropy(s.table("events"))
    }, Some(OraclesExt.transitionEntropy)),
    // ...and the sequence-mining big sibling: which concrete 3-step
    // journeys dominate (funnel discovery; top-k plans as
    // TakeOrderedAndProject).
    QueryDef("q_event_paths", withTables { s =>
      Events.eventPaths(s.table("events"), k = eventPathsK)
    }, Some(OraclesExt.eventPaths(eventPathsK))),
    // ...and the data-driven attribution member: Markov removal
    // effects (relational journey transitions; the bounded-matrix
    // solve replays as 60 quantized rounds in both engines).
    QueryDef("q_attrib_markov", withTables { s =>
      graft.ext.Attribution.markovRemovalEffects(s.table("events"),
        conversionType, iters = markovIters)
    }, Some(OraclesExt.markovAttribution(conversionType, markovIters))),
    // U-shaped multi-touch attribution: 40/20/40 credit across each
    // conversion's journey touches (forward as-of, journey-bounded
    // windows).
    QueryDef("q_attrib_ushape", withTables { s =>
      Events.uShapedAttribution(s.table("events"), conversionType, touchType)
        .orderBy("conv_id", "position")
    }, Some(OraclesExt.uShapedAttribution(conversionType, touchType))),
    // DAU / trailing-7-day actives / stickiness — rolling DISTINCT
    // via bounded day-explode, never a distinct-over-window.
    QueryDef("q_active_users", withTables { s =>
      Events.activeUsers(s.table("events"), windowDays = wauWindowDays)
    }, Some(OraclesExt.activeUsers(wauWindowDays))),
    // Per-campaign session reach via the bucketed interval-overlap
    // join (equi-join on day buckets — never |sessions|·|campaigns|).
    QueryDef("q_campaign_overlap", withTables { s =>
      Events.campaignOverlap(s.table("events"), campaignWindows,
        gapSeconds = sessionGapSeconds)
    }, Some(OraclesExt.campaignOverlap(campaignWindows, sessionGapSeconds))),
    // Seasonality check for the forecaster family: per-type lag-1/7
    // autocorrelation of the DENSIFIED daily counts.
    QueryDef("q_event_periodicity", withTables { s =>
      Events.dailyAutocorrelation(s.table("events"), lags = autocorrLags)
    }, Some(OraclesExt.dailyAutocorrelation(autocorrLags))),
    // §7.5 — arrival-regime alarm: Fano factor of daily counts
    // (1 ≈ Poisson, ≫1 bursty, <1 scheduled) — catches "same daily
    // total, different regime" that volume dashboards miss.
    QueryDef("q_event_fano", withTables { s =>
      Events.fanoFactor(s.table("events"))
    }, Some(OraclesExt.fanoFactor)),
    // §7.5 — hindsight level-shift localization: best single
    // change-point of each type's daily series (binary segmentation
    // depth 1) — WHERE the metric changed, vs q_cusum's "is it
    // drifting now" sequential alarm.
    QueryDef("q_changepoint", withTables { s =>
      Events.bestChangepoint(s.table("events"))
    }, Some(OraclesExt.bestChangepoint)),
    // §7.5 — per-type daily-count OLS trend (exact integer sums →
    // one identically-shaped double expression; the "is this metric
    // growing" dashboard row).
    QueryDef("q_events_trend", withTables { s =>
      Events.dailyTrend(s.table("events"))
    }, Some(OraclesExt.eventsTrend)),
    // §7.5 — latest-state snapshot over the event log (CDC "current
    // table" read); WindowGroupLimit keeps per-key top-1 before the
    // exchange, so the shuffle carries the snapshot, not the log.
    QueryDef("q_latest_state", withTables { s =>
      Events.latestSnapshot(s.table("events")).orderBy("user_id")
    }, Some(OraclesExt.latestState)),
    // §7.5 — telemetry-health report: per-type inter-arrival gap
    // quantiles over each user's event stream (drumbeat/stall signal).
    QueryDef("q_inter_arrival", withTables { s =>
      Events.interArrivalStats(s.table("events"), gapPs).orderBy("event_type")
    }, Some(OraclesExt.interArrival(gapPs))),
    // §7.5 — recency-weighted user feature: exponentially decayed
    // value sum at a fixed snapshot instant (reproducible feature
    // store read; one decimal-exact key aggregate).
    QueryDef("q_decayed_sum", withTables { s =>
      Events.decayedSum(s.table("events"), refUs = decayRefUs,
        halfLifeDays = decayHalfLifeDays)
    }, Some(OraclesExt.decayedSum(decayRefUs, decayHalfLifeDays))),
    // §7.5 extensions — event-time windowing + sessionization.
    QueryDef("q_events_hourly", withTables { s =>
      Events.tumblingHourlyExact(s.table("events"))
    }, Some(OraclesExt.eventsHourly)),
    QueryDef("q_events_sessions", withTables { s =>
      Events.sessionSummary(s.table("events"))
    }, Some(OraclesExt.eventsSessions)),
    // §7.5 — telemetry debounce: collapse same-(user,type) bursts
    // within 60 s before any downstream count is trusted (one lag
    // window on the sessionize key distribution).
    QueryDef("q_events_debounce", withTables { s =>
      Events.debounceSummary(s.table("events"), debounceGapSeconds)
    }, Some(OraclesExt.eventsDebounce(debounceGapSeconds))),
    // §7.5 — cohort retention matrix (first-activity cohorts × day
    // offsets; no distinct aggregate — input pre-distincted).
    QueryDef("q_cohort_retention", withTables { s =>
      Events.cohortRetention(s.table("events"), retentionMaxOffset)
        .orderBy("cohort_day", "day_offset")
    }, Some(OraclesExt.cohortRetention(retentionMaxOffset))),
    // §7.5 — cumulative distinct-user growth curve (one user-keyed
    // min; the running sum spans one row per calendar day).
    QueryDef("q_user_growth", withTables { s =>
      Events.userGrowth(s.table("events")).orderBy("day_num")
    }, Some(OraclesExt.userGrowth)),
    // §7.5 — RFM segmentation scored by exact-quantile thresholds:
    // no ntile, no global window — the quintile boundaries come from
    // the range-sharded exact quantile operator and each user scores
    // by threshold comparison.
    QueryDef("q_events_rfm", withTables { s =>
      Events.rfmScores(s.table("events")).orderBy("user_id")
    }, Some(OraclesExt.eventsRfm)),
    // §7.5 — FIRST-touch attribution: each purchase joined to its
    // user's earliest prior click (complement of q_events_asof's
    // last-touch); one user-keyed min + one equi-join, no window.
    QueryDef("q_events_attribution", withTables { s =>
      Events.firstTouchAttribution(s.table("events"))
        .orderBy("event_id")
    }, Some(OraclesExt.firstTouch)),
    // §7.5 — SCD type-2 dimension history: each user's event_type
    // sequence collapsed to versioned validity intervals (one key
    // shuffle serving both windows).
    QueryDef("q_scd2", withTables { s =>
      Events.scd2History(s.table("events"))
        .orderBy("user_id", "version")
    }, Some(OraclesExt.scd2)),
    // §7.5 — day-over-day deltas per event type (lag window over the
    // collapsed per-day frame; decimal-exact subtraction).
    QueryDef("q_events_delta", withTables { s =>
      Events.dailyDelta(s.table("events"))
        .orderBy("event_type", "day_num")
    }, Some(OraclesExt.eventsDelta)),
    // §7.5 — trailing 7-day rolling totals per event type (integer
    // epoch-day RANGE frame: absent days fall out of the window).
    QueryDef("q_events_rolling", withTables { s =>
      Events.rollingDaily(s.table("events"), rollingDays)
        .orderBy("event_type", "day_num")
    }, Some(OraclesExt.eventsRolling(rollingDays))),
    // §7.5 — gap-filled daily series (zero-fill + forward-fill): the
    // hole-free spine rolling averages and baselines assume.
    QueryDef("q_events_gapfill", withTables { s =>
      Events.gapFillDaily(s.table("events"))
        .orderBy("event_type", "day_num")
    }, Some(OraclesExt.eventsGapFill)),
    // §7.5 — hopping hourly windows (30-min slide): map-side 2×
    // expansion collapsed by partial agg before the shuffle.
    QueryDef("q_events_hopping", withTables { s =>
      Events.hoppingHourly(s.table("events"))
    }, Some(OraclesExt.eventsHopping)),
    // §7.5 — trailing z-score spike/drop flags against the prior-week
    // baseline (current day excluded from its own baseline).
    QueryDef("q_events_anomaly", withTables { s =>
      Events.anomalyFlags(s.table("events"), anomalyWindowDays,
        anomalyK, anomalyMinDays).orderBy("event_type", "day_num")
    }, Some(OraclesExt.eventsAnomaly(
      anomalyWindowDays, anomalyK, anomalyMinDays))),
    // §7.5 — ordered funnel signup → click → purchase: per-user stage
    // times (µs; a broken funnel nulls every later stage). One user
    // shuffle + order-independent min-of-filter HOFs.
    QueryDef("q_events_funnel", withTables { s =>
      Events.funnelStages(s.table("events"), funnelStageNames)
        .where(col("stage0_us").isNotNull)
        .select(col("user_id"), col("stage0_us").as("signup_us"),
          col("stage1_us").as("click_us"), col("stage2_us").as("purchase_us"))
        .orderBy("user_id")
    }, Some(OraclesExt.eventsFunnel(funnelStageNames))),
    // §7.5 — as-of join (union + last-over-window: one key shuffle,
    // no range-join blowup): each purchase gets the user's latest
    // prior-or-equal click. Clicks collapse to one row per (user, ts)
    // first — as-of on duplicate right timestamps is tie-dependent.
    QueryDef("q_events_asof", withTables { s =>
      val e = s.table("events").withColumn("ts_us", graft.ext.Events.epochUs(col("ts")))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
      val clicks = e.where(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max_by(col("value"), col("event_id")).as("click_value"))
      Events.asofJoin(purchases, clicks,
          keyCol = "user_id", leftTsCol = "ts_us", rightTsCol = "ts_us",
          rightPayload = Seq("click_value"))
        .withColumn("us_since_click", col("ts_us") - col("asof_ts_us"))
        .orderBy("event_id")
    }, Some(OraclesExt.eventsAsof)),
    // Funnel hop latency: exact per-stage-pair quantiles of first-i
    // to first-(i+1)-after-it µs — how LONG each hop takes, beside
    // the funnel's who-converts counts.
    QueryDef("q_funnel_latency", withTables { s =>
      Events.funnelLatency(s.table("events"), funnelStageNames,
        quantilePs)
    }, Some(OraclesExt.funnelLatency(funnelStageNames, quantilePs))),
    // Theil–Sen robust daily trend per type — the slope one outlier
    // day cannot drag (pairwise-median over the bounded day grid).
    QueryDef("q_theil_sen", withTables { s =>
      Events.theilSen(s.table("events"))
    }, Some(OraclesExt.theilSen)),
    // Day-of-week seasonal decomposition — the "is that drop just
    // Saturday" read BEFORE trusting trend/anomaly output.
    QueryDef("q_seasonal_dow", withTables { s =>
      Events.seasonalDow(s.table("events"))
    }, Some(OraclesExt.seasonalDow)),
    // Zero-filled daily-count autocorrelation at lags 1..7 — the
    // periodicity fingerprint (r7 = weekly rhythm strength).
    QueryDef("q_acf_daily", withTables { s =>
      Events.acfDaily(s.table("events"), acfMaxLag)
    }, Some(OraclesExt.acfDaily(acfMaxLag))),
    // Exact EWMA (α = 1/2) of the daily value total per event type —
    // integer power-of-two weights in DECIMAL(38,0), one double
    // division per row.
    QueryDef("q_ewma_daily", withTables { s =>
      Events.ewmaDaily(s.table("events"))
    }, Some(OraclesExt.ewmaDaily)))
}
