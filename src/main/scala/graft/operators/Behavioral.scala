package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Tables

/** Behavioral / product analytics over the event stream — the classic
  * warehouse queries a pyconnect-fed events topic exists to answer:
  * cohort retention and ordered funnel conversion.
  *
  * Both work on `Tables.events` (the nanos-safe reader). Funnel
  * comparisons use the EXACT nanosecond value (`ts_ns` ↔ DuckDB
  * `epoch_ns`) — the micros-truncated `ts` column could flip a `>=` on
  * events inside the same microsecond.
  *
  * Scale: every join and aggregate below is keyed on `user_id`, so the
  * whole pipeline is one hash partitioning reused across stages; the
  * per-stage frames are slim (user_id, ts) pairs and the outputs are
  * ≤ #weeks² / ≤ 5 rows. Nothing driver-side.
  */
object Behavioral {

  // ---------------------------------------------------------------- q72

  /** Cohort retention: users bucket into the ISO week of their first
    * event; each later active week counts them at `(cohort_week,
    * week_offset)`. The distinct (user, week) projection keeps the
    * shuffled volume at one row per user-week, not per event. */
  def cohortRetention(events: DataFrame): DataFrame = {
    val weeks = events
      .select(col("user_id"),
        to_date(date_trunc("week", col("ts"))).as("wk"))
      .distinct()
    val first = weeks.groupBy("user_id").agg(min(col("wk")).as("cohort_wk"))
    weeks.join(first, "user_id")
      .withColumn("week_offset",
        expr("datediff(wk, cohort_wk) div 7").cast(LongType))
      .groupBy("cohort_wk", "week_offset")
      .agg(count(lit(1)).as("n_users"))
  }

  def q72Cohort(spark: SparkSession, dir: String): DataFrame =
    cohortRetention(Tables.events(spark, dir))
      .orderBy("cohort_wk", "week_offset")

  // ---------------------------------------------------------------- q73

  /** Ordered funnel: signup → view → click → purchase, each stage
    * STRICTLY after the previous stage's first completion (the honest
    * funnel — a view before signup doesn't count). Expressed as chained
    * conditional-min aggregates: stage k's first-completion time is
    * min(ts of stage-k events at-or-after the user's stage-(k−1)
    * time). Stage membership is monotone by construction, so a user's
    * funnel depth is the sum of stage indicators. */
  /** Per-user strict funnel first-completion times: `(user_id, t0 … tk)`
    * where `t_i` is null iff the user never completed stage i in order.
    * Nanosecond longs throughout. */
  def funnelTimes(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "at least one funnel stage")
    val ev = events.select(col("user_id"), col("event_type"),
      col("ts_ns"))
    val users = ev.select("user_id").distinct()
    // fold: each stage's (user_id, t_k) frame from the previous one
    val stageTimes: Seq[DataFrame] =
      stages.zipWithIndex.foldLeft(Vector.empty[DataFrame]) {
        case (acc, (stage, i)) =>
          val mine = ev.filter(col("event_type") === stage)
          val timed = if (i == 0) mine
          else mine.join(acc.last.select(col("user_id"),
              col(s"t${i - 1}")), "user_id")
            .filter(col("ts_ns") >= col(s"t${i - 1}"))
          acc :+ timed.groupBy("user_id")
            .agg(min(col("ts_ns")).as(s"t$i"))
      }
    stageTimes.foldLeft(users) { case (acc, st) =>
      acc.join(st, Seq("user_id"), "left")
    }
  }

  def funnelStages(events: DataFrame, stages: Seq[String]): DataFrame = {
    val depth = stages.indices
      .map(i => when(col(s"t$i").isNotNull, 1).otherwise(0))
      .reduce(_ + _)
    funnelTimes(events, stages)
      .select(col("user_id"), depth.cast(LongType).as("stage"))
  }

  def q73Funnel(spark: SparkSession, dir: String): DataFrame =
    funnelStages(Tables.events(spark, dir),
      Seq("signup", "view", "click", "purchase"))
      .groupBy("stage")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("stage")

  // ---------------------------------------------------------------- q74

  /** Event-type transition matrix (first-order Markov counts): per
    * user, consecutive event pairs in time order; count by
    * (prev, next). The lag window totally orders each user's stream on
    * (ts_ns, event_id) — the event_id tiebreaker makes the pairing
    * deterministic when two events share a nanosecond (D1 applied
    * inside the window, not just at output). One user-keyed window
    * pass + one slim count agg. */
  def transitionMatrix(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    events.select(col("user_id"), col("event_id"), col("event_type"),
      col("ts_ns"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
  }

  def q74Transitions(spark: SparkSession, dir: String): DataFrame =
    transitionMatrix(Tables.events(spark, dir))
      .orderBy("prev_type", "next_type")

  // ---------------------------------------------------------------- q75

  /** Time-to-convert: for users completing the full strict funnel, the
    * signup→purchase latency distribution in whole seconds — count,
    * min, discrete median (rank-selected, [[Percentiles.discByRank]]),
    * max. Composes the q73 chain with the q61 percentile machinery:
    * the converted set is tiny relative to the corpus, so the global
    * single-partition median window is bounded by conversion count,
    * not event count. */
  def q75TimeToConvert(spark: SparkSession, dir: String): DataFrame = {
    val t = funnelTimes(Tables.events(spark, dir),
      Seq("signup", "view", "click", "purchase"))
      .filter(col("t3").isNotNull)
      .select(expr("(t3 - t0) div 1000000000").as("dsec"))
    val stats = t.agg(count(lit(1)).as("n_conv"),
      min(col("dsec")).as("min_sec"), max(col("dsec")).as("max_sec"))
    val med = Percentiles.discByRank(t, Nil, "dsec",
      Seq(0.5 -> "med_sec"))
    stats.crossJoin(broadcast(med))
      .select(col("n_conv"), col("min_sec"), col("med_sec"),
        col("max_sec"))
  }

  // ---------------------------------------------------------------- q84

  /** RFM segmentation — the classic customer-value grid: per purchasing
    * user, Recency (days from last purchase to the corpus's max event
    * date), Frequency (purchase count), Monetary (exact decimal spend),
    * each scored into quintiles, rolled up to (r_q, f_q, m_q) cells.
    *
    * Determinism: every ntile window is totally ordered (metric,
    * user_id); monetary is an exact DECIMAL sum (D2), so its ordering
    * is engine-independent, and the cell m_sum final-casts to DOUBLE
    * (D6).
    *
    * Scale: the per-user rollup is user_id-keyed (reuses the event
    * partitioning); the ntile windows are global single-partition
    * passes over ONE ROW PER PURCHASING USER — bounded by |users|, not
    * |events|. At 100 TB replace them with approx-quantile cutpoints
    * (computed once, broadcast as a 4-value array per metric) and a
    * pure row predicate; the quintile grid is identical up to sketch
    * error. */
  def rfmSegments(events: DataFrame, nQ: Int = 5): DataFrame = {
    import graft.Tables.dec
    val anchor = events.agg(max(to_date(col("ts"))).as("anchor"))
    val perUser = events.filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(max(to_date(col("ts"))).as("last_p"),
        count(lit(1)).as("freq"),
        sum(dec(col("value"))).as("mon"))
    val wR = Window.orderBy(col("r_days").asc, col("user_id").asc)
    val wF = Window.orderBy(col("freq").desc, col("user_id").asc)
    val wM = Window.orderBy(col("mon").desc, col("user_id").asc)
    perUser.crossJoin(broadcast(anchor))
      .withColumn("r_days",
        datediff(col("anchor"), col("last_p")).cast(LongType))
      .withColumn("r_q", ntile(nQ).over(wR).cast(LongType))
      .withColumn("f_q", ntile(nQ).over(wF).cast(LongType))
      .withColumn("m_q", ntile(nQ).over(wM).cast(LongType))
      .groupBy("r_q", "f_q", "m_q")
      .agg(count(lit(1)).as("n_users"),
        sum(col("mon")).cast("double").as("m_sum"))
      .orderBy("r_q", "f_q", "m_q")
  }

  def q84Rfm(spark: SparkSession, dir: String): DataFrame =
    rfmSegments(Tables.events(spark, dir))

  // ---------------------------------------------------------------- q85

  /** Stickiness — the DAU/WAU engagement ratio per ISO week, in exact
    * basis points: Σ per-user active days · 10⁴ div (WAU · 7). 10000 bp
    * means every weekly-active user was active all 7 days. One distinct
    * (user, day) projection (one row per user-day, not per event), then
    * a per-week rollup. */
  def stickiness(events: DataFrame): DataFrame =
    events.select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      .withColumn("wk", to_date(date_trunc("week", col("d"))))
      .groupBy("wk")
      .agg(countDistinct(col("user_id")).as("wau"),
        count(lit(1)).as("user_days"),
        expr("(count(1) * 10000) div (count(distinct user_id) * 7)")
          .as("stick_bp"))
      .orderBy("wk")

  def q85Stickiness(spark: SparkSession, dir: String): DataFrame =
    stickiness(Tables.events(spark, dir))

  // ---------------------------------------------------------------- q89

  /** Path analysis: each user's first `depth` event types in time
    * order, concatenated `a>b>c`, counted across users — the "what do
    * journeys actually look like" report that funnels (q73) presuppose
    * an answer to.
    *
    * Determinism: the per-user order is the q74 total order (ts_ns,
    * event_id); the per-user path is assembled by sorting the collected
    * (rn, type) structs — collect_list order is partition-dependent,
    * the sort makes it canonical (D1 inside the aggregate). (n_users
    * desc, path) totally orders the output — path is unique after the
    * group.
    *
    * Scale: one user-keyed window pass (rank ≤ depth prunes to ≤ depth
    * rows per user before the path agg, which reuses the same user_id
    * partitioning), then a slim count agg over paths — cardinality
    * bounded by Σ|event types|^depth, not by |events|. */
  def eventPaths(events: DataFrame, depth: Int = 5): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    events.select(col("user_id"), col("event_type"), col("ts_ns"),
        col("event_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= depth)
      .groupBy("user_id")
      .agg(concat_ws(">", transform(
        array_sort(collect_list(struct(col("rn"), col("event_type")))),
        s => s("event_type"))).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_users"))
  }

  def q89EventPaths(spark: SparkSession, dir: String): DataFrame =
    eventPaths(Tables.events(spark, dir))
      .orderBy(col("n_users").desc, col("path"))

  /** Q128: conversion attribution — every (click, purchase) pair of the
    * same user within a 1-hour horizon, strictly after. The body is
    * [[graft.streaming.StreamOps.intervalJoinStream]] — literally the
    * streaming stream-stream interval join run on a batch frame
    * (withWatermark is a no-op in batch), so the gated oracle pins the
    * SAME code path the streaming deployment executes; StreamingSpec
    * pins batch ≡ stream on a MemoryStream replay of the same shape.
    *
    * Scale shape: equi-join on user_id (shuffle carries ids + two
    * timestamps), horizon inequality as a join residual; in streaming
    * the watermark + interval bound the state store on both sides. */
  def q128Attribution(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamOps.intervalJoinStream(
      Tables.events(spark, dir), Tables.events(spark, dir),
      "click", "purchase", horizonSeconds = 3600)
      .orderBy("user_id", "a_id", "b_id")

  /** Q133: longest consecutive-day activity streak per user — the
    * GAPS-AND-ISLANDS pattern (the one classic windowing shape the
    * surface didn't yet exercise): distinct active days → row_number
    * per user in day order → `day − rn` is constant exactly within a
    * consecutive run (the island key, pure integer arithmetic) → count
    * per island → max per user.
    *
    * Scale shape: the distinct-day projection collapses the event
    * table FIRST (shuffle carries (user, epoch-day) pairs), then one
    * per-user window + two slim aggs — per-user state is the day
    * count, never the event count. */
  def q133Streaks(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("d"))
    Tables.events(spark, dir)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("d"))
      .distinct()
      .withColumn("island", col("d") - row_number().over(w))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(max(col("len")).as("max_streak"),
        count(lit(1)).as("n_streaks"))
      .orderBy("user_id")
  }

  /** Q135: daily non-return churn — users active on day d with no
    * activity on d+1 (the retention complement q72's cohort diagonal
    * doesn't expose): distinct (user, epoch-day) projection, then one
    * LEFT ANTI self-join shifted by a day. Set difference over time
    * buckets — an anti-join at the (user, day) grain, not a window.
    * Integer day keys make the +1 shift plain arithmetic; the last
    * observed day is excluded (its churn is undefined, not zero). */
  def q135DailyChurn(spark: SparkSession, dir: String): DataFrame = {
    val um = Tables.events(spark, dir)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("d"))
      .distinct()
    val last = um.agg(max(col("d")).as("last_d"))
    um.crossJoin(broadcast(last))
      .filter(col("d") < col("last_d"))
      .join(um.select(col("user_id"), (col("d") - 1).as("d")),
        Seq("user_id", "d"), "left_anti")
      .groupBy(col("d"))
      .agg(count(lit(1)).as("churned"))
      .orderBy("d")
  }

  /** Q141: batch SESSIONIZATION with per-session stats — the 30-minute
    * inactivity-gap session derivation (the analytics-standard
    * definition) as a window computation: a session starts at any event
    * whose gap from the user's previous event exceeds the threshold;
    * the session number is the running count of starts; stats aggregate
    * per (user, session). q35b sessionizes a STREAM via Spark's
    * session_window state; this is its deterministic batch form under
    * the hard oracle, and the input to bounce/dwell analyses.
    *
    * Determinism: (µs, event_id) total order (the q127/q136 contract);
    * every derived quantity is integer. Scale: one lag window + one
    * running-sum window + one hash agg, all partitioned per user. */
  /** Per-event session labels — the q141 derivation (lag → gap flag →
    * running sum under the (µs, event_id) total order) exposed as a
    * frame so q158's session baskets reuse the identical session
    * numbering. One lag window + one running-sum window per user —
    * spill-sorted, no per-user buffer. */
  def sessionized(events: DataFrame,
      gapUs: Long = 1800L * 1000000L): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    events
      .select(col("user_id"), expr("ts_ns div 1000").as("ts_us"),
        col("event_id"), col("event_type"))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(wOrd))
      .withColumn("new_s",
        when(col("prev_us").isNull ||
          col("ts_us") - col("prev_us") > lit(gapUs), 1L).otherwise(0L))
      .withColumn("session_no", sum(col("new_s")).over(wRun))
  }

  /** Q269: SESSION GAP-THRESHOLD SENSITIVITY SWEEP — session counts
    * and density at inactivity gaps of 10/30/60 minutes: the table a
    * sessionization config (q141's 30-minute default) is chosen FROM,
    * the q258 sweep discipline applied to the behavioral family (a
    * gap in the flat region of this curve is a robust config; one on
    * a cliff means session metrics are artifacts of the threshold).
    *
    * Scale: the lag deltas are computed ONCE (one window pass per
    * user); the 3-config fan-out explodes the slim delta rows, and
    * each config's rollup is a partial-combining aggregate. */
  def q269SessionGapSweep(spark: SparkSession, dir: String)
      : DataFrame = {
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val base = graft.Tables.events(spark, dir)
      .select(col("user_id"), expr("ts_ns div 1000").as("ts_us"),
        col("event_id"))
    val d = base.withColumn("prev_us", lag(col("ts_us"), 1).over(wOrd))
    // user count off the PRE-window projection: the broadcast 1-row
    // frame must not pay for the per-user window sort it doesn't need
    val users = base.agg(countDistinct(col("user_id")).as("n_users"))
    d.select(col("prev_us"), col("ts_us"),
        explode(typedlit(Seq(600000000L, 1800000000L, 3600000000L)))
          .as("gap_us"))
      .select(col("gap_us"),
        when(col("prev_us").isNull ||
          col("ts_us") - col("prev_us") > col("gap_us"), 1L)
          .otherwise(0L).as("new_s"))
      .groupBy("gap_us")
      .agg(count(lit(1)).as("n_events"),
        sum(col("new_s")).as("n_sessions"))
      .crossJoin(broadcast(users))
      .select(col("gap_us"), col("n_users"), col("n_events"),
        col("n_sessions"),
        expr("(n_events * 1000) div n_sessions")
          .as("events_per_session_e3"),
        expr("(n_sessions * 1000) div n_users")
          .as("sessions_per_user_e3"))
      .orderBy("gap_us")
  }

  // ---------------------------------------------------------------- q276

  /** Q276: SESSION WINDOWS VIA THE BUILT-IN `session_window` (round
    * 13) — the native Spark sessionization operator next to q141's
    * hand gaps-and-islands form, GATED so its boundary semantics are
    * pinned cross-engine: MEASURED (StreamingSpec boundary test),
    * Spark merges ABUTTING windows too — an event at exactly
    * `prev + gap` stays in the SAME session, i.e. the break rule is
    * `delta > gap`, identical to q141's explicit rule (the off-by-one
    * every sessionization migration worries about — here it measures
    * out equal, and the oracle replays the `>` boundary). Output per
    * (user, session): start µs, end µs (= last event + gap — the
    * window end Spark reports), event count.
    *
    * Scale: one user-keyed shuffle + Spark's native session-merge
    * aggregation (map-side partial merge; no window sort). On a
    * stream, this SAME body over `events.withWatermark("ts", …)` is
    * the canonical streaming sessionization: a session emits in
    * append mode once the watermark passes its end (StreamingSpec
    * pins batch ≡ stream). */
  def sessionWindowAgg(events: DataFrame,
      gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        expr("unix_micros(sw.start)").as("session_start_us"),
        expr("unix_micros(sw.end)").as("session_end_us"),
        col("n_events"))

  def q276SessionWindow(spark: SparkSession, dir: String): DataFrame =
    sessionWindowAgg(graft.Tables.events(spark, dir)
      .select(col("user_id"), col("ts")))
      .orderBy("user_id", "session_start_us")

  def q141Sessions(spark: SparkSession, dir: String): DataFrame =
    sessionized(graft.Tables.events(spark, dir))
      .groupBy(col("user_id"), col("session_no"))
      .agg(count(lit(1)).as("n_events"),
        (max(col("ts_us")) - min(col("ts_us"))).as("duration_us"))
      .orderBy("user_id", "session_no")

  // ---------------------------------------------------------------- q158

  /** Q158: SESSION-SCOPED event-type co-occurrence — for every pair
    * of event types, how many SESSIONS contain both, with the integer
    * lift against the types' session frequencies (10⁶ =
    * independence). The market-basket analysis q94 runs over purchase
    * baskets, recomposed over q141's behavioral sessions — "what do
    * people do in the SAME sitting" (co-intent), which neither the
    * per-customer basket nor the global transition matrix (q74) can
    * answer.
    *
    * Scale: sessions collapse to distinct (user, session, type)
    * baskets first; the pair join is session-keyed with fan-out
    * ≤ C(|type alphabet|, 2) per session — alphabet-bounded, never
    * event-bounded; size/total frames broadcast.
    *
    * BIGINT headroom (D6, the q148/q160 convention): lift_ppm's
    * numerator is n_co · s_total · 10⁶ with n_co ≤ s_total, so it is
    * exact while s_total² · 10⁶ < 2⁶³ — about 3·10⁶ sessions. Beyond
    * that the multiplication moves to DECIMAL(38,0) internally with
    * the same final BIGINT `div` projection (ANSI mode fails loudly,
    * never wraps, if this ceiling is hit first). */
  def q158SessionCooc(spark: SparkSession, dir: String): DataFrame = {
    val b = sessionized(graft.Tables.events(spark, dir))
      .select(col("user_id"), col("session_no"), col("event_type"))
      .distinct()
    val sizes = b.groupBy("event_type").agg(count(lit(1)).as("ns"))
    val total = b.select("user_id", "session_no").distinct()
      .agg(count(lit(1)).as("s_total"))
    b.as("a").join(b.as("x"),
        col("a.user_id") === col("x.user_id") &&
          col("a.session_no") === col("x.session_no") &&
          col("a.event_type") < col("x.event_type"))
      .groupBy(col("a.event_type").as("ta"),
        col("x.event_type").as("tb"))
      .agg(count(lit(1)).as("n_co"))
      .join(broadcast(sizes.select(col("event_type").as("ta"),
        col("ns").as("na"))), "ta")
      .join(broadcast(sizes.select(col("event_type").as("tb"),
        col("ns").as("nb"))), "tb")
      .crossJoin(broadcast(total))
      .select(col("ta"), col("tb"), col("n_co"), col("na"), col("nb"),
        expr("(n_co * s_total * 1000000) div (na * nb)")
          .as("lift_ppm"))
      .orderBy("ta", "tb")
  }

  // ---------------------------------------------------------------- q144

  /** Q144: ROLLING 7-day distinct users per day (rolling WAU) — the
    * trailing-window DISTINCT aggregate that a plain window frame
    * cannot express (COUNT(DISTINCT) OVER a frame is unsupported in
    * both engines), so it becomes a bounded fan-out join: each
    * (user, active-day) row matches the ≤ 7 anchor days it is visible
    * from. Distinct from q85 (calendar-week WAU buckets) — this is
    * the smooth trailing curve dashboards plot.
    *
    * Scale shape: the big frame collapses FIRST to distinct (user,
    * day) — one partial-combining shuffle on (user, day), never raw
    * events downstream. The anchor-day dimension (~|date domain|,
    * fact-independent) broadcasts; the range join fans each user-day
    * out ≤ 7×, then one (anchor, user)-keyed distinct-count shuffle.
    * No global window, no per-day state. */
  def rollingWau(events: DataFrame, windowDays: Int = 7): DataFrame = {
    val ud = events
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val anchors = ud.select(col("d").as("ad")).distinct()
    ud.join(broadcast(anchors),
        col("d") <= col("ad") &&
          col("d") > date_sub(col("ad"), windowDays))
      .groupBy(col("ad").as("d"))
      .agg(countDistinct(col("user_id")).as("wau7"))
      .orderBy("d")
  }

  def q144RollingWau(spark: SparkSession, dir: String): DataFrame =
    rollingWau(Tables.events(spark, dir))

  // ---------------------------------------------------------------- q169

  /** Q169: LAST-TOUCH ATTRIBUTION — every purchase is credited to the
    * user's latest PRECEDING non-purchase event type (the marketing
    * channel); purchases with no preceding touch credit "direct". The
    * assignment model the q128 interval join deliberately isn't:
    * q128 enumerates ALL (trigger, follow-up) pairs in a horizon,
    * last-touch picks exactly ONE credit per conversion — the standard
    * revenue-attribution readout.
    *
    * Determinism: the carry window orders by the (µs, event_id) total
    * order (q127 contract); revenue is exact cents via the
    * floor(v·100+0.5) rounding discipline. Scale: one user-keyed
    * window pass (spill-sorted) + one channel-keyed slim agg — no
    * joins, no pair fan-out. */
  /** Per-purchase credit assignment (user_id, event_id, channel,
    * cents) — factored out so the streaming twin
    * `StreamOps.lastTouchStream` pins the ASSIGNMENT, not just the
    * rollup. */
  def lastTouchAssign(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .select(col("user_id"), expr("ts_ns div 1000").as("ts_us"),
        col("event_id"), col("event_type"), col("value"))
      .withColumn("channel", last(
        when(col("event_type") =!= "purchase", col("event_type")),
        ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        coalesce(col("channel"), lit("direct")).as("channel"),
        coalesce(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"),
          lit(0L)).as("cents"))
  }

  /** Per-channel attribution rollup over [[lastTouchAssign]] —
    * frame-shaped for the SqlSurface view builder. */
  def lastTouchReport(events: DataFrame): DataFrame =
    lastTouchAssign(events)
      .groupBy("channel")
      .agg(count(lit(1)).as("n_conv"),
        sum(col("cents")).as("revenue_cents"))
      .orderBy("channel")

  def q169LastTouch(spark: SparkSession, dir: String): DataFrame =
    lastTouchReport(Tables.events(spark, dir))

  // ---------------------------------------------------------------- q170

  /** Q170: SESSION-SIZE/DURATION distribution — q141's sessions rolled
    * up to a size-bucketed histogram: per session-event-count bucket
    * (counts ≥ 10 collapse into one tail bucket), the number of
    * sessions, total and max duration in whole seconds. The
    * engagement-shape readout (how long are visits, how much do they
    * contain) that sits one aggregation above the q141 labels.
    *
    * All integers; duration is µs-difference `div` 10⁶ (truncating in
    * both engines). Scale: the sessionized window output collapses to
    * one row per (user, session) in a partial-combining agg, then to
    * ≤ 10 bucket rows. */
  def q170SessionStats(spark: SparkSession, dir: String): DataFrame =
    sessionized(Tables.events(spark, dir))
      .groupBy(col("user_id"), col("session_no"))
      .agg(count(lit(1)).as("n_ev"),
        expr("(max(ts_us) - min(ts_us)) div 1000000").as("dur_s"))
      .select(least(col("n_ev"), lit(10L)).as("size_bucket"),
        col("dur_s"))
      .groupBy("size_bucket")
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("dur_s")).as("sum_dur_s"),
        max(col("dur_s")).as("max_dur_s"))
      .orderBy("size_bucket")

  // ---------------------------------------------------------------- q171

  /** Q171: TWO-HOP TRANSITION MASS — the matrix square of q74's
    * first-order transition counts: mass2(a, c) = Σ_b n(a→b)·n(b→c),
    * the path-count surrogate for "where do users end up two steps
    * after a?" that the single-step matrix can't answer (and the
    * algebraic bridge to q93's power iteration: one more multiply is
    * one more hop).
    *
    * Exact BIGINT: n ≤ |events|, so each product is ≤ |events|² and
    * the sum over ≤ |alphabet| middle states stays far inside 2⁶³ for
    * any realistic event volume (10⁹ events · alphabet 10² ≈ 10²⁰
    * would need the DECIMAL-internal fallback — documented, not
    * reachable at fixture scale). Scale: the transition matrix is
    * |alphabet|² rows (alphabet-bounded, fact-independent) — the self
    * join is trivially broadcast. */
  def q171TwoHop(spark: SparkSession, dir: String): DataFrame = {
    val t = transitionMatrix(Tables.events(spark, dir))
    t.as("ab").join(broadcast(t.as("bc")),
        col("ab.next_type") === col("bc.prev_type"))
      .groupBy(col("ab.prev_type").as("src_type"),
        col("bc.next_type").as("dst_type"))
      .agg(sum(col("ab.n") * col("bc.n")).as("mass2"))
      .orderBy("src_type", "dst_type")
  }

  // ---------------------------------------------------------------- q185

  /** Q185: ENTRY-TYPE BOUNCE RATES — sessions grouped by their FIRST
    * event's type; per entry type: session count, single-event
    * ("bounce") count, bounce rate in bp. The landing-page health
    * readout, one argmin above q170's size histogram: WHERE a visit
    * starts predicts whether it goes anywhere.
    *
    * The entry event is the (µs, event_id)-lexicographic minimum —
    * unique, so `min(struct(ts, id, type))` carries the type
    * deterministically (the q143 argmax discipline, min side).
    * Scale: the per-(user, session) collapse is partial-combining;
    * the entry-type rollup is alphabet-sized. */
  def q185BounceRate(spark: SparkSession, dir: String): DataFrame =
    sessionized(Tables.events(spark, dir))
      .groupBy("user_id", "session_no")
      .agg(count(lit(1)).as("n_ev"),
        min(struct(col("ts_us"), col("event_id"), col("event_type")))
          .as("first"))
      .select(col("first.event_type").as("entry_type"), col("n_ev"))
      .groupBy("entry_type")
      .agg(count(lit(1)).as("n_sessions"),
        expr("CAST(count_if(n_ev = 1) AS BIGINT)").as("n_bounce"))
      .withColumn("bounce_bp", expr("(n_bounce * 10000) div n_sessions"))
      .orderBy("entry_type")

  // ---------------------------------------------------------------- q186

  /** Q186: TIME-WINDOWED FUNNEL — q73's strict funnel with a
    * completion horizon: a user counts at depth k only when the k-th
    * first-completion time sits within 1 h of their funnel start
    * (depths are measured on the FIRST strict chain — the q73/q75
    * contract — so the horizon is a filter, deterministic on both
    * sides). "Signed up AND converted within the hour" is the funnel
    * product analytics actually reports; the unbounded q73 can't say
    * it. Same scale shape as q73: per-stage min aggs + slim user
    * joins. */
  /** Frame-shaped core of q186 (SqlSurface view builder entry):
    * stage-depth census of the strict first-completion chain, counting
    * a stage only when it completes within `horizonNs` of the funnel
    * start. */
  /** Per-user windowed funnel depth (user_id, stage) — the frame the
    * census aggregates and the streaming twin
    * (`StreamOps.funnelWindowedStream`) pins against. The per-stage
    * indicator is MONOTONE (chain times only grow, so once a stage
    * misses the horizon every later one does), which is what lets the
    * streaming state machine carry a single windowed depth. */
  def funnelWindowedStages(events: DataFrame, stages: Seq[String],
      horizonNs: Long): DataFrame = {
    val t = funnelTimes(events, stages)
    val depth = stages.indices.map(i =>
      when(col(s"t$i").isNotNull &&
          col(s"t$i") - col("t0") <= horizonNs, 1)
        .otherwise(0)).reduce(_ + _)
    t.select(col("user_id"), depth.cast(LongType).as("stage"))
  }

  def funnelWindowed(events: DataFrame, stages: Seq[String],
      horizonNs: Long): DataFrame =
    funnelWindowedStages(events, stages, horizonNs)
      .groupBy("stage")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("stage")

  def q186FunnelWindowed(spark: SparkSession, dir: String): DataFrame =
    funnelWindowed(Tables.events(spark, dir),
      Seq("signup", "view", "click", "purchase"),
      horizonNs = 3600L * 1000000000L)

  // ---------------------------------------------------------------- q187

  /** Q187: DAY-N RETENTION — for N ∈ {1, 7, 14}: the share of users
    * active EXACTLY N days after their first-seen day, in bp of the
    * full cohort. The growth-accounting curve (D1/D7/D14) q72's weekly
    * cohort grid doesn't emit and q135's churn (absence) inverts.
    * Scale: distinct (user, day) collapse, per-user min, 3-row
    * threshold fan-out, day-keyed semi join. */
  /** Frame-shaped core of q187 (SqlSurface view builder entry). */
  def dnRetention(events: DataFrame,
      days: Seq[Int] = Seq(1, 7, 14)): DataFrame = {
    val ud = events
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val first = ud.groupBy("user_id").agg(min(col("d")).as("f"))
    val n = first.agg(count(lit(1)).as("n_cohort"))
    val fan = first.select(col("user_id"), col("f"),
      explode(typedlit(days)).as("n_day"))
    fan.join(ud, fan("user_id") === ud("user_id") &&
        ud("d") === expr("date_add(f, n_day)"), "left_semi")
      .groupBy("n_day")
      .agg(count(lit(1)).as("n_retained"))
      .crossJoin(broadcast(n))
      .select(col("n_day").cast("long").as("n_day"), col("n_cohort"),
        col("n_retained"),
        expr("(n_retained * 10000) div n_cohort").as("retention_bp"))
      .orderBy("n_day")
  }

  def q187DnRetention(spark: SparkSession, dir: String): DataFrame =
    dnRetention(Tables.events(spark, dir))

  // ---------------------------------------------------------------- q199

  /** Q199: GROWTH ACCOUNTING — per day: active users decomposed into
    * NEW (first-seen today) and RETURNING, plus the cumulative
    * distinct-user total (exact, via the first-seen-day frame — no
    * windowed distinct). The standard growth dashboard table tying
    * q85's stickiness, q187's retention and q135's churn to one
    * ledger: active = new + returning, every day.
    *
    * Scale: distinct (user, day) collapse; first-seen is a per-user
    * MIN; the cumulative window runs on the one-row-per-day frame. */
  /** Frame-shaped core of q199 (SqlSurface view builder entry). */
  def growthAccounting(events: DataFrame): DataFrame = {
    val ud = events
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val perDay = ud.groupBy("d").agg(count(lit(1)).as("n_active"))
    val newPer = ud.groupBy("user_id").agg(min(col("d")).as("f"))
      .groupBy(col("f").as("d")).agg(count(lit(1)).as("n_new"))
    val w = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDay.join(newPer, Seq("d"), "left")
      .select(col("d"), col("n_active"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("n_returning", expr("n_active - n_new"))
      .withColumn("cum_users", sum(col("n_new")).over(w))
      .orderBy("d")
  }

  def q199GrowthAccounting(spark: SparkSession, dir: String): DataFrame =
    growthAccounting(Tables.events(spark, dir))

  // ---------------------------------------------------------------- q191

  /** Q191: WEEK-OVER-WEEK AUDIENCE OVERLAP — exact jaccard (bp)
    * between adjacent weeks' distinct-user sets. The audience-drift
    * readout (is this week's traffic the same people?) — q187 measures
    * individual return, this measures SET stability; a campaign that
    * swaps the audience keeps DAU flat while overlap craters. Week key
    * is arithmetic epoch-day div 7 (dialect-free, the q157 rule).
    *
    * Scale: distinct (user, week) collapse first; the adjacency
    * self-join is user-keyed with ≤|weeks| fan-out per user; size
    * frames broadcast. */
  def q191AudienceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val uw = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("unix_date(to_date(ts)) div 7").as("wk")).distinct()
    val sizes = uw.groupBy("wk").agg(count(lit(1)).as("n"))
    val inter = uw.as("a")
      .join(uw.as("b"), col("a.user_id") === col("b.user_id") &&
        col("b.wk") === col("a.wk") + 1)
      .groupBy(col("a.wk").as("iwk"))
      .agg(count(lit(1)).as("n_common"))
    sizes.as("sa")
      .join(sizes.as("sb"), col("sb.wk") === col("sa.wk") + 1)
      .join(inter, col("iwk") === col("sa.wk"), "left")
      .select(col("sa.wk").as("wk"), (col("sa.wk") + 1).as("wk_next"),
        col("sa.n").as("n_a"), col("sb.n").as("n_b"),
        coalesce(col("n_common"), lit(0L)).as("n_common"))
      .withColumn("jaccard_bp",
        expr("(n_common * 10000) div (n_a + n_b - n_common)"))
      .orderBy("wk")
  }

  // ---------------------------------------------------------------- q192

  /** Q192: CHANNEL CONVERSION RATES — per touch channel: touch volume,
    * last-touch conversion credits (q169's assignment), and CVR in bp.
    * The spend-allocation readout attribution exists to produce:
    * credits alone (q169) rank channels by volume, CVR ranks them by
    * efficiency. Scale: q169's window + two alphabet-sized aggs. */
  def q192ChannelCvr(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val touches = ev.filter(col("event_type") =!= "purchase")
      .groupBy(col("event_type").as("channel"))
      .agg(count(lit(1)).as("n_touches"))
    val credits = lastTouchAssign(ev)
      .groupBy("channel").agg(count(lit(1)).as("n_conv"))
    touches.join(credits, Seq("channel"), "left")
      .select(col("channel"), col("n_touches"),
        coalesce(col("n_conv"), lit(0L)).as("n_conv"))
      .withColumn("cvr_bp", expr("(n_conv * 10000) div n_touches"))
      .orderBy("channel")
  }

  // ---------------------------------------------------------------- q202

  /** Q202: SCD2 INTERVAL BUILD — per user, consecutive runs of the
    * same event_type collapsed into versioned validity intervals
    * [valid_from_us, valid_to_us), open (NULL valid_to) on the current
    * run: the slowly-changing-dimension type-2 history table a
    * warehouse builds from a mutation/state feed. Gaps-and-islands by
    * change detection (chg = type ≠ lag(type); version = running sum
    * of chg), on the (ts_us, event_id) total order (D1). q97 versions
    * EVERY order row; this is the true type-2 build — a version only
    * when the attribute CHANGES, runs collapsed with their event
    * count.
    *
    * Scale: two user-keyed window passes (spill-sorted, same
    * partitioning reused — one Exchange) + a run-keyed collapse; no
    * joins, output is runs-sized ≪ events. */
  def scd2Intervals(events: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy("user_id")
      .orderBy(col("ts_us"), col("event_id"))
    val flagged = events
      .select(col("user_id"), expr("ts_ns div 1000").as("ts_us"),
        col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(wOrd))
      .withColumn("chg",
        when(col("prev").isNull || col("prev") =!= col("event_type"),
          1L).otherwise(0L))
      .withColumn("version_no", sum(col("chg")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val runs = flagged
      .groupBy(col("user_id"), col("version_no"), col("event_type"))
      .agg(min(col("ts_us")).as("valid_from_us"),
        count(lit(1)).as("n_events"))
    val wNext = Window.partitionBy("user_id").orderBy("version_no")
    runs
      .withColumn("valid_to_us",
        lead(col("valid_from_us"), 1).over(wNext))
      .select(col("user_id"), col("version_no"),
        col("event_type").as("state"), col("valid_from_us"),
        col("valid_to_us"), col("n_events"))
      .orderBy("user_id", "version_no")
  }

  def q202Scd2(spark: SparkSession, dir: String): DataFrame =
    scd2Intervals(Tables.events(spark, dir))

  // ---------------------------------------------------------------- q228

  /** Q228: STATE DWELL-TIME PERCENTILES — per SCD2 state: p50/p90 of
    * how long users SIT in that state before transitioning (closed
    * q202 intervals only; the open current run has no dwell yet). The
    * lifecycle-velocity readout on top of q202's history: q74 says
    * where users go next, q213 where they end up, this says how long
    * each stop takes — the number session-timeout and re-engagement
    * triggers are tuned against.
    *
    * Scale: reuses the q202 run collapse (two window passes over
    * per-user partitions), then [[Percentiles.discByRank]]'s
    * disk-spilling rank selection per state over the runs-sized
    * frame. */
  def q228StateDwell(spark: SparkSession, dir: String): DataFrame = {
    val closed = scd2Intervals(Tables.events(spark, dir))
      .filter(col("valid_to_us").isNotNull)
      .select(col("state"),
        (col("valid_to_us") - col("valid_from_us")).as("dwell_us"))
    Percentiles.discByRank(closed, Seq("state"), "dwell_us",
      Seq(0.5 -> "p50_dwell_us", 0.9 -> "p90_dwell_us"),
      countName = Some("n_runs"))
      .orderBy("state")
  }

  // ---------------------------------------------------------------- q210

  /** Q210: POWER-USER REVENUE CONCENTRATION — users cut into spend
    * deciles (NTILE over the (cents desc, user_id) total order — the
    * q189 gateability rule), per decile: user count, exact cents, and
    * the revenue share in bp. The "top 10% of users = how much of
    * revenue" concentration readout q159's Gini summarizes into one
    * number and this keeps legible per band.
    *
    * Scale: per-user collapse first (events-sized scan → users-sized
    * frame); the rank window runs on one row per buying user; the
    * zero-total guard keeps degenerate slices ANSI-safe. */
  def q210PowerUserShare(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(sum(coalesce(
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"), lit(0L)))
        .as("cents"))
    // round 10: size-switched global rank + arithmetic NTILE (the
    // q189 discipline) — at 10⁹ buying users the split path range-
    // partitions the rank instead of one task sorting the frame.
    val ranked = Percentiles.globalOrderedScan(perUser,
      Seq(col("cents").desc, col("user_id")), "__rn",
      nName = Some("__n"))
    ranked
      .withColumn("decile", Percentiles.ntileExpr("__rn", "__n", 10))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_users"), sum(col("cents")).as("cents"))
      .withColumn("total", sum(col("cents"))
        .over(Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .select(col("decile"), col("n_users"), col("cents"),
        when(col("total") > 0,
          expr("(cents * 10000) div total")).otherwise(lit(0L))
          .as("share_bp"))
      .orderBy("decile")
  }

  // ---------------------------------------------------------------- q212

  /** Q212: FUNNEL STAGE LATENCY — exact p50/p90 of the gap between
    * adjacent stage first-completions (µs), per transition. q75 times
    * the END-TO-END conversion; this localizes WHERE the funnel is
    * slow (a fast signup→view but slow click→purchase is a checkout
    * problem, not an acquisition problem). Chain times from
    * [[funnelTimes]] (t_{i} non-null ⟹ t_{i−1} non-null, so each gap
    * row is well-defined and ≥ 0).
    *
    * Scale: the per-user chain frame is users-sized; gaps unpivot to
    * ≤ 3 rows per converting user; percentiles are the spill-ranked
    * discByRank over 3 groups. */
  def q212StageLatency(spark: SparkSession, dir: String): DataFrame = {
    val t = funnelTimes(Tables.events(spark, dir),
      Seq("signup", "view", "click", "purchase"))
    val gaps = Seq((1L, "t0", "t1"), (2L, "t1", "t2"),
      (3L, "t2", "t3")).map { case (i, a, b) =>
      t.filter(col(b).isNotNull)
        .select(lit(i).as("stage_no"),
          expr(s"($b - $a) div 1000").as("gap_us"))
    }.reduce(_ unionAll _)
    Percentiles.discByRank(gaps, Seq("stage_no"), "gap_us",
      Seq(0.5 -> "p50_us", 0.9 -> "p90_us"),
      countName = Some("n_users"))
      .orderBy("stage_no")
  }

  // ---------------------------------------------------------------- q213

  /** Q213: MARKOV STEADY-STATE over the q74 transition matrix — 5
    * fixed power iterations in integer ppm from the uniform start:
    *   π₀(s) = 10⁶ div |S|;   πₖ₊₁(t) = Σ_s (πₖ(s)·c(s,t)) div tot(s)
    * The long-run "where do users spend their time" distribution the
    * raw transition counts only imply. Every step is integer multiply/
    * truncating-divide/sum — bit-identical in any engine (the q93
    * PageRank discipline), so the oracle unrolls the same 5 rounds as
    * chained CTEs. Mass truncates at each div (ppm totals drift below
    * 10⁶, like q93's floor loss) — and a SINK state (no outgoing
    * transitions) DELETES its inbound mass entirely on the next round:
    * `edges.join(pi, "s")` has no row for it, stronger than truncation.
    * The oracle mirrors the same join so the gate holds either way; the
    * events fixture has no sinks (every observed type also appears as a
    * source), so output is unaffected. A production chain wanting
    * mass conservation would add an implicit self-loop per sink before
    * iterating.
    *
    * Scale: the state space is the event-type alphabet — every frame
    * after the one events scan is |S|- or |S|²-sized; iterations
    * localCheckpoint (iterative-loop lineage rule) even though the
    * frames are tiny. */
  /** Frame-shaped core of q213 (SqlSurface view builder entry). */
  def markovSteady(events: DataFrame, iters: Int = 5): DataFrame = {
    val wOrd = Window.partitionBy("user_id")
      .orderBy(col("ts_ns"), col("event_id"))
    val tr = events
      .select(col("user_id"), col("event_type"), col("ts_ns"),
        col("event_id"))
      .withColumn("prev", lag(col("event_type"), 1).over(wOrd))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev").as("s"), col("event_type").as("t"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val tot = tr.groupBy("s").agg(sum(col("c")).as("tot"))
    val edges = tr.join(tot, "s").localCheckpoint(true)
    val states = tr.select(col("s"))
      .unionAll(tr.select(col("t").as("s")))
      .distinct().localCheckpoint(true)
    val n = states.agg(count(lit(1)).as("ns"))
    var pi = states.crossJoin(broadcast(n))
      .select(col("s"), expr("1000000 div ns").as("pi"))
    for (_ <- 1 to iters)
      pi = edges.join(pi, "s")
        .select(col("t").as("s"), expr("(pi * c) div tot").as("m"))
        .groupBy("s").agg(sum(col("m")).as("pi"))
        .localCheckpoint(true)
    states.join(pi, Seq("s"), "left")
      .select(col("s").as("state"),
        coalesce(col("pi"), lit(0L)).as("pi_ppm"))
      .orderBy("state")
  }

  def q213MarkovSteady(spark: SparkSession, dir: String): DataFrame =
    markovSteady(Tables.events(spark, dir))

  // ---------------------------------------------------------------- q218

  /** Q218: CONVERSION BY SESSION ORDINAL — for the user's 1st, 2nd,
    * …, Nth session: how many such sessions exist and what share
    * contain a purchase (bp). The "do users convert on their first
    * visit or after warming up" curve — q192's channel CVR says
    * where, this says WHEN in the relationship. Rides q141's
    * sessionization (same gap, same (ts_us, event_id) total order).
    *
    * Scale: the sessionized frame collapses to one row per (user,
    * session) before the ordinal rollup — events-sized scan, session-
    * sized aggregate, ≤ max-ordinal output rows. */
  def q218SessionCvr(spark: SparkSession, dir: String): DataFrame =
    sessionized(Tables.events(spark, dir))
      .groupBy(col("user_id"), col("session_no"))
      .agg(max(when(col("event_type") === "purchase", 1L)
        .otherwise(0L)).as("converted"))
      .groupBy(col("session_no"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("converted")).as("n_converted"))
      .withColumn("cvr_bp",
        expr("(n_converted * 10000) div n_sessions"))
      .orderBy("session_no")

  // ---------------------------------------------------------------- q219

  /** Q219: EXPERIMENT FUNNEL READOUT — the q186 WINDOWED funnel
    * census (1 h completion horizon) split by a deterministic
    * md5-nibble A/B arm over user_id (the q164 assignment discipline:
    * membership is a pure function of the key and can never drift).
    * The table an experimenter reads to see WHERE the treatment moves
    * the funnel, not just whether the end-to-end rate moved. The
    * horizon matters doubly here: the UNBOUNDED q73 census is
    * saturated on the fixture (every user eventually completes all
    * four stages — measured at sf0.001 and sf0.01), so only the
    * windowed form has a distribution worth splitting.
    *
    * Scale: q186's per-stage min aggregates; the arm column is a
    * scan-side projection joined nowhere. */
  def q219FunnelByArm(spark: SparkSession, dir: String): DataFrame = {
    val h = 3600L * 1000000000L
    val t = funnelTimes(Tables.events(spark, dir),
      Seq("signup", "view", "click", "purchase"))
    val depth = (0 to 3).map(i =>
      when(col(s"t$i").isNotNull && col(s"t$i") - col("t0") <= h, 1)
        .otherwise(0)).reduce(_ + _)
    t.select(
        expr("CASE WHEN substring(md5(CAST(user_id AS STRING)), 1, 1)" +
          " < '8' THEN 'T' ELSE 'C' END").as("variant"),
        depth.cast(LongType).as("stage"))
      .groupBy("variant", "stage")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("variant", "stage")
  }

  // ---------------------------------------------------------------- q220

  /** Q220: COHORT LTV TRIANGLE — q72's retention triangle with exact
    * purchase CENTS instead of user counts, plus the running
    * cumulative per cohort: the lifetime-value curve ("how much has
    * the week-W cohort spent by offset k") that payback-period
    * decisions read directly.
    *
    * Scale: purchases collapse to (user, week, cents) first; the
    * cumulative window runs per cohort over ≤ #weeks rows. */
  def q220CohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        to_date(date_trunc("week", col("ts"))).as("wk"),
        coalesce(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"),
          lit(0L)).as("cents"))
    val first = Tables.events(spark, dir)
      .select(col("user_id"),
        to_date(date_trunc("week", col("ts"))).as("wk"))
      .groupBy("user_id").agg(min(col("wk")).as("cohort_wk"))
    val cells = p.join(first, "user_id")
      .withColumn("week_offset",
        expr("datediff(wk, cohort_wk) div 7").cast(LongType))
      .groupBy("cohort_wk", "week_offset")
      .agg(sum(col("cents")).as("cents"))
    val wCum = Window.partitionBy("cohort_wk").orderBy("week_offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("cum_cents", sum(col("cents")).over(wCum))
      .orderBy("cohort_wk", "week_offset")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q218_session_cvr" -> (q218SessionCvr _),
    "q219_funnel_by_arm" -> (q219FunnelByArm _),
    "q220_cohort_ltv" -> (q220CohortLtv _),
    "q212_stage_latency" -> (q212StageLatency _),
    "q213_markov_steady" -> (q213MarkovSteady _),
    "q210_power_user_share" -> (q210PowerUserShare _),
    "q202_scd2" -> (q202Scd2 _),
    "q228_state_dwell" -> (q228StateDwell _),
    "q169_last_touch" -> (q169LastTouch _),
    "q185_bounce_rate" -> (q185BounceRate _),
    "q186_funnel_windowed" -> (q186FunnelWindowed _),
    "q187_dn_retention" -> (q187DnRetention _),
    "q191_audience_overlap" -> (q191AudienceOverlap _),
    "q192_channel_cvr" -> (q192ChannelCvr _),
    "q199_growth_accounting" -> (q199GrowthAccounting _),
    "q170_session_stats" -> (q170SessionStats _),
    "q171_two_hop" -> (q171TwoHop _),
    "q144_rolling_wau" -> (q144RollingWau _),
    "q158_session_cooc" -> (q158SessionCooc _),
    "q141_sessions" -> (q141Sessions _),
    "q276_session_window" -> (q276SessionWindow _),
    "q269_session_gap_sweep" -> (q269SessionGapSweep _),
    "q72_cohort" -> (q72Cohort _),
    "q73_funnel" -> (q73Funnel _),
    "q74_transitions" -> (q74Transitions _),
    "q75_time_to_convert" -> (q75TimeToConvert _),
    "q84_rfm" -> (q84Rfm _),
    "q85_stickiness" -> (q85Stickiness _),
    "q89_event_paths" -> (q89EventPaths _),
    "q128_attribution" -> (q128Attribution _),
    "q133_streaks" -> (q133Streaks _),
    "q135_daily_churn" -> (q135DailyChurn _),
  )

  val oracle: Map[String, String] = Map(
    // q218: q141's session CTEs + per-session purchase flag.
    "q218_session_cvr" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
        |  FROM events),
        |l AS (
        |  SELECT user_id, ts_us, event_id, event_type,
        |    lag(ts_us) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id) AS prev_us
        |  FROM ev),
        |s AS (
        |  SELECT user_id, ts_us, event_id, event_type,
        |    CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM l),
        |n AS (
        |  SELECT user_id, event_type,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS session_no
        |  FROM s),
        |per AS (
        |  SELECT user_id, session_no,
        |    CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |      END) AS BIGINT) AS converted
        |  FROM n GROUP BY 1, 2)
        |SELECT session_no, COUNT(*) AS n_sessions,
        |  CAST(SUM(converted) AS BIGINT) AS n_converted,
        |  (CAST(SUM(converted) AS BIGINT) * 10000) // COUNT(*)
        |    AS cvr_bp
        |FROM per GROUP BY session_no ORDER BY session_no""".stripMargin,
    // q219: the q73 chain + the q186 1-hour horizon + the q164
    // md5-nibble arm (pure function of user_id — identical hex in
    // both engines).
    "q219_funnel_by_arm" ->
      """WITH t0 AS (
        |  SELECT user_id, MIN(epoch_ns(ts)) AS t0 FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |t1 AS (
        |  SELECT e.user_id, MIN(epoch_ns(e.ts)) AS t1 FROM events e
        |  JOIN t0 USING (user_id)
        |  WHERE e.event_type = 'view' AND epoch_ns(e.ts) >= t0.t0
        |  GROUP BY e.user_id),
        |t2 AS (
        |  SELECT e.user_id, MIN(epoch_ns(e.ts)) AS t2 FROM events e
        |  JOIN t1 USING (user_id)
        |  WHERE e.event_type = 'click' AND epoch_ns(e.ts) >= t1.t1
        |  GROUP BY e.user_id),
        |t3 AS (
        |  SELECT e.user_id, MIN(epoch_ns(e.ts)) AS t3 FROM events e
        |  JOIN t2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) >= t2.t2
        |  GROUP BY e.user_id),
        |u AS (SELECT DISTINCT user_id FROM events)
        |SELECT
        |  CASE WHEN substring(md5(CAST(u.user_id AS VARCHAR)), 1, 1)
        |         < '8' THEN 'T' ELSE 'C' END AS variant,
        |  CAST(
        |    (CASE WHEN t0.t0 IS NOT NULL THEN 1 ELSE 0 END) +
        |    (CASE WHEN t1.t1 IS NOT NULL
        |      AND t1.t1 - t0.t0 <= 3600000000000 THEN 1 ELSE 0 END) +
        |    (CASE WHEN t2.t2 IS NOT NULL
        |      AND t2.t2 - t0.t0 <= 3600000000000 THEN 1 ELSE 0 END) +
        |    (CASE WHEN t3.t3 IS NOT NULL
        |      AND t3.t3 - t0.t0 <= 3600000000000 THEN 1 ELSE 0 END)
        |  AS BIGINT) AS stage, COUNT(*) AS n_users
        |FROM u LEFT JOIN t0 USING (user_id) LEFT JOIN t1 USING (user_id)
        |  LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)
        |GROUP BY 1, 2 ORDER BY variant, stage""".stripMargin,
    // q220: q72's week cohorts + exact purchase cents + window cum.
    "q220_cohort_ltv" ->
      """WITH wk AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
        |f AS (SELECT user_id, MIN(wk) AS cohort_wk FROM wk
        |      GROUP BY user_id),
        |p AS (
        |  SELECT user_id,
        |    CAST(date_trunc('week', ts) AS DATE) AS wk,
        |    COALESCE(CAST(floor(value * 100 + 0.5) AS BIGINT), 0)
        |      AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |cells AS (
        |  SELECT f.cohort_wk,
        |    CAST((p.wk - f.cohort_wk) // 7 AS BIGINT) AS week_offset,
        |    CAST(SUM(p.cents) AS BIGINT) AS cents
        |  FROM p JOIN f USING (user_id)
        |  GROUP BY 1, 2)
        |SELECT cohort_wk, week_offset, cents,
        |  CAST(SUM(cents) OVER (PARTITION BY cohort_wk
        |    ORDER BY week_offset
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum_cents
        |FROM cells ORDER BY cohort_wk, week_offset""".stripMargin,
    // q210: same cents rounding, same NTILE under the (cents desc,
    // user) total order (both engines hand the first n mod 10 tiles
    // the extra row — the q189 rule).
    "q210_power_user_share" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    CAST(SUM(COALESCE(
        |      CAST(floor(value * 100 + 0.5) AS BIGINT), 0))
        |      AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'
        |  GROUP BY user_id),
        |d AS (
        |  SELECT cents, NTILE(10) OVER (
        |    ORDER BY cents DESC, user_id) AS decile
        |  FROM pu),
        |g AS (
        |  SELECT CAST(decile AS BIGINT) AS decile,
        |    CAST(COUNT(*) AS BIGINT) AS n_users,
        |    CAST(SUM(cents) AS BIGINT) AS cents
        |  FROM d GROUP BY decile),
        |t AS (SELECT CAST(SUM(cents) AS BIGINT) AS total FROM g)
        |SELECT decile, n_users, cents,
        |  CASE WHEN total > 0 THEN (cents * 10000) // total
        |       ELSE CAST(0 AS BIGINT) END AS share_bp
        |FROM g, t ORDER BY decile""".stripMargin,
    // q212: the q73 chain CTEs + per-transition µs gaps;
    // quantile_disc is the pinned percentile_disc definition.
    "q212_stage_latency" ->
      """WITH t0 AS (
        |  SELECT user_id, MIN(epoch_ns(ts)) AS t0 FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |t1 AS (
        |  SELECT e.user_id, MIN(epoch_ns(e.ts)) AS t1 FROM events e
        |  JOIN t0 USING (user_id)
        |  WHERE e.event_type = 'view' AND epoch_ns(e.ts) >= t0.t0
        |  GROUP BY e.user_id),
        |t2 AS (
        |  SELECT e.user_id, MIN(epoch_ns(e.ts)) AS t2 FROM events e
        |  JOIN t1 USING (user_id)
        |  WHERE e.event_type = 'click' AND epoch_ns(e.ts) >= t1.t1
        |  GROUP BY e.user_id),
        |t3 AS (
        |  SELECT e.user_id, MIN(epoch_ns(e.ts)) AS t3 FROM events e
        |  JOIN t2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) >= t2.t2
        |  GROUP BY e.user_id),
        |g AS (
        |  SELECT 1 AS stage_no, (t1.t1 - t0.t0) // 1000 AS gap_us
        |  FROM t1 JOIN t0 USING (user_id)
        |  UNION ALL
        |  SELECT 2, (t2.t2 - t1.t1) // 1000
        |  FROM t2 JOIN t1 USING (user_id)
        |  UNION ALL
        |  SELECT 3, (t3.t3 - t2.t2) // 1000
        |  FROM t3 JOIN t2 USING (user_id))
        |SELECT CAST(stage_no AS BIGINT) AS stage_no,
        |  CAST(COUNT(*) AS BIGINT) AS n_users,
        |  quantile_disc(gap_us, 0.5) AS p50_us,
        |  quantile_disc(gap_us, 0.9) AS p90_us
        |FROM g GROUP BY stage_no ORDER BY stage_no""".stripMargin,
    // q213: same (ts_ns, event_id) lag order, same integer recursion —
    // 5 rounds unrolled as single-reference chained CTEs (the q93
    // discipline; `//` ≡ `div`, both truncate).
    "q213_markov_steady" -> {
      val rounds = (1 to 5).map { i =>
        s"""p$i AS (
           |  SELECT e.t AS s,
           |    CAST(SUM((p.pi * e.c) // e.tot) AS BIGINT) AS pi
           |  FROM p${i - 1} p JOIN ed e ON e.s = p.s
           |  GROUP BY e.t)""".stripMargin
      }.mkString(",\n")
      s"""WITH o AS (
         |  SELECT user_id, event_type,
         |    lag(event_type) OVER (PARTITION BY user_id
         |      ORDER BY epoch_ns(ts), event_id) AS prev_type
         |  FROM events),
         |tr AS (
         |  SELECT prev_type AS s, event_type AS t,
         |    CAST(COUNT(*) AS BIGINT) AS c
         |  FROM o WHERE prev_type IS NOT NULL GROUP BY 1, 2),
         |tot AS (SELECT s, CAST(SUM(c) AS BIGINT) AS tot
         |        FROM tr GROUP BY s),
         |ed AS (SELECT tr.s, tr.t, tr.c, tot.tot
         |       FROM tr JOIN tot USING (s)),
         |states AS (
         |  SELECT DISTINCT s FROM (
         |    SELECT s FROM tr UNION ALL SELECT t FROM tr)),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS ns FROM states),
         |p0 AS (SELECT s, 1000000 // ns AS pi FROM states, n),
         |$rounds
         |SELECT st.s AS state,
         |  CAST(COALESCE(p5.pi, 0) AS BIGINT) AS pi_ppm
         |FROM states st LEFT JOIN p5 ON p5.s = st.s
         |ORDER BY state""".stripMargin
    },
    // q199: same distinct-day collapse and first-seen decomposition;
    // window SUM recast to BIGINT (D6).
    "q199_growth_accounting" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |perday AS (SELECT d, COUNT(*) AS n_active FROM ud GROUP BY d),
        |f AS (SELECT user_id, MIN(d) AS f FROM ud GROUP BY 1),
        |newper AS (SELECT f AS d, COUNT(*) AS n_new FROM f GROUP BY 1),
        |j AS (
        |  SELECT p.d, p.n_active, COALESCE(n.n_new, 0) AS n_new
        |  FROM perday p LEFT JOIN newper n ON n.d = p.d)
        |SELECT d, n_active, n_new, n_active - n_new AS n_returning,
        |  CAST(SUM(n_new) OVER (ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum_users
        |FROM j ORDER BY d""".stripMargin,
    // q191: same distinct (user, epoch-week) collapse, same adjacency
    // join, same integer jaccard.
    "q191_audience_overlap" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    (CAST(ts AS DATE) - DATE '1970-01-01') // 7 AS wk
        |  FROM events),
        |sizes AS (SELECT wk, COUNT(*) AS n FROM uw GROUP BY wk),
        |inter AS (
        |  SELECT a.wk, COUNT(*) AS n_common
        |  FROM uw a JOIN uw b
        |    ON b.user_id = a.user_id AND b.wk = a.wk + 1
        |  GROUP BY a.wk)
        |SELECT CAST(sa.wk AS BIGINT) AS wk,
        |  CAST(sa.wk + 1 AS BIGINT) AS wk_next,
        |  sa.n AS n_a, sb.n AS n_b,
        |  COALESCE(i.n_common, 0) AS n_common,
        |  (COALESCE(i.n_common, 0) * 10000)
        |    // (sa.n + sb.n - COALESCE(i.n_common, 0)) AS jaccard_bp
        |FROM sizes sa JOIN sizes sb ON sb.wk = sa.wk + 1
        |LEFT JOIN inter i ON i.wk = sa.wk
        |ORDER BY wk""".stripMargin,
    // q192: q169's carry window re-aggregated per channel against the
    // touch volume.
    "q192_channel_cvr" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
        |  FROM events),
        |c AS (
        |  SELECT user_id, ts_us, event_id, event_type,
        |    last_value(CASE WHEN event_type <> 'purchase'
        |                    THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS channel
        |  FROM ev),
        |credits AS (
        |  SELECT COALESCE(channel, 'direct') AS channel,
        |    COUNT(*) AS n_conv
        |  FROM c WHERE event_type = 'purchase' GROUP BY 1),
        |touches AS (
        |  SELECT event_type AS channel, COUNT(*) AS n_touches
        |  FROM events WHERE event_type <> 'purchase' GROUP BY 1)
        |SELECT t.channel, t.n_touches,
        |  COALESCE(cr.n_conv, 0) AS n_conv,
        |  (COALESCE(cr.n_conv, 0) * 10000) // t.n_touches AS cvr_bp
        |FROM touches t LEFT JOIN credits cr ON cr.channel = t.channel
        |ORDER BY t.channel""".stripMargin,
    // q186: the q73 chain with the 1 h horizon folded into each depth
    // indicator (first-chain times, so the horizon is a pure filter).
    "q186_funnel_windowed" ->
      """WITH t0 AS (
        |  SELECT user_id, MIN(epoch_ns(ts)) AS t0 FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |t1 AS (
        |  SELECT e.user_id, MIN(epoch_ns(e.ts)) AS t1 FROM events e
        |  JOIN t0 USING (user_id)
        |  WHERE e.event_type = 'view' AND epoch_ns(e.ts) >= t0.t0
        |  GROUP BY e.user_id),
        |t2 AS (
        |  SELECT e.user_id, MIN(epoch_ns(e.ts)) AS t2 FROM events e
        |  JOIN t1 USING (user_id)
        |  WHERE e.event_type = 'click' AND epoch_ns(e.ts) >= t1.t1
        |  GROUP BY e.user_id),
        |t3 AS (
        |  SELECT e.user_id, MIN(epoch_ns(e.ts)) AS t3 FROM events e
        |  JOIN t2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) >= t2.t2
        |  GROUP BY e.user_id),
        |u AS (SELECT DISTINCT user_id FROM events)
        |SELECT CAST(
        |    (CASE WHEN t0.user_id IS NOT NULL THEN 1 ELSE 0 END) +
        |    (CASE WHEN t1.user_id IS NOT NULL
        |          AND t1.t1 - t0.t0 <= 3600000000000 THEN 1 ELSE 0 END) +
        |    (CASE WHEN t2.user_id IS NOT NULL
        |          AND t2.t2 - t0.t0 <= 3600000000000 THEN 1 ELSE 0 END) +
        |    (CASE WHEN t3.user_id IS NOT NULL
        |          AND t3.t3 - t0.t0 <= 3600000000000 THEN 1 ELSE 0 END)
        |  AS BIGINT) AS stage, COUNT(*) AS n_users
        |FROM u LEFT JOIN t0 USING (user_id) LEFT JOIN t1 USING (user_id)
        |  LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q187: same distinct-day collapse, per-user MIN, EXISTS at
    // first-day + N (date + int is date arithmetic in both engines).
    "q187_dn_retention" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |f AS (SELECT user_id, MIN(d) AS f FROM ud GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_cohort FROM f),
        |fan AS (
        |  SELECT f.user_id, f.f, t.n_day
        |  FROM f, (SELECT unnest(ARRAY[1, 7, 14]) AS n_day) t),
        |r AS (
        |  SELECT fan.n_day, COUNT(*) AS n_retained
        |  FROM fan WHERE EXISTS (
        |    SELECT 1 FROM ud
        |    WHERE ud.user_id = fan.user_id
        |      AND ud.d = fan.f + fan.n_day)
        |  GROUP BY 1)
        |SELECT CAST(r.n_day AS BIGINT) AS n_day, n.n_cohort,
        |  r.n_retained,
        |  (r.n_retained * 10000) // n.n_cohort AS retention_bp
        |FROM r, n ORDER BY n_day""".stripMargin,
    // q185: the q141 session chain with event_type carried; entry =
    // ROW_NUMBER argmin under the unique (µs, event_id) order.
    "q185_bounce_rate" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
        |  FROM events),
        |l AS (
        |  SELECT user_id, ts_us, event_id, event_type,
        |    lag(ts_us) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id) AS prev_us
        |  FROM ev),
        |s AS (
        |  SELECT user_id, ts_us, event_id, event_type,
        |    CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM l),
        |n AS (
        |  SELECT user_id, ts_us, event_id, event_type,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS session_no
        |  FROM s),
        |per AS (
        |  SELECT user_id, session_no, COUNT(*) AS n_ev
        |  FROM n GROUP BY 1, 2),
        |fst AS (
        |  SELECT user_id, session_no, event_type AS entry_type FROM (
        |    SELECT user_id, session_no, event_type,
        |      ROW_NUMBER() OVER (PARTITION BY user_id, session_no
        |        ORDER BY ts_us, event_id) AS rn
        |    FROM n) WHERE rn = 1)
        |SELECT f.entry_type, COUNT(*) AS n_sessions,
        |  CAST(count_if(p.n_ev = 1) AS BIGINT) AS n_bounce,
        |  (CAST(count_if(p.n_ev = 1) AS BIGINT) * 10000) // COUNT(*)
        |    AS bounce_bp
        |FROM per p JOIN fst f
        |  ON f.user_id = p.user_id AND f.session_no = p.session_no
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q169: same (µs, event_id)-ordered carry window (last_value
    // IGNORE NULLS ≡ Spark last(..., ignoreNulls)), same cents
    // rounding, same direct fallback.
    // q202: same (ts_us, event_id) total order, same change-flag
    // running sum; NULL valid_to on each user's current run matches
    // Spark's open interval.
    // q228: the q202 CTE chain, closed intervals only, quantile_disc
    // under the shared boundary pin.
    "q228_state_dwell" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
        |  FROM events),
        |f AS (
        |  SELECT user_id, ts_us, event_id, event_type,
        |    CASE WHEN lag(event_type) OVER w IS NULL
        |           OR lag(event_type) OVER w <> event_type
        |         THEN 1 ELSE 0 END AS chg
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id
        |               ORDER BY ts_us, event_id)),
        |v AS (
        |  SELECT user_id, ts_us, event_type,
        |    CAST(SUM(chg) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS version_no
        |  FROM f),
        |runs AS (
        |  SELECT user_id, version_no, event_type,
        |    MIN(ts_us) AS valid_from_us
        |  FROM v GROUP BY user_id, version_no, event_type),
        |iv AS (
        |  SELECT event_type AS state,
        |    lead(valid_from_us) OVER (PARTITION BY user_id
        |      ORDER BY version_no) - valid_from_us AS dwell_us
        |  FROM runs)
        |SELECT state, COUNT(*) AS n_runs,
        |  quantile_disc(dwell_us, 0.5) AS p50_dwell_us,
        |  quantile_disc(dwell_us, 0.9) AS p90_dwell_us
        |FROM iv WHERE dwell_us IS NOT NULL
        |GROUP BY state ORDER BY state""".stripMargin,
    "q202_scd2" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
        |  FROM events),
        |f AS (
        |  SELECT user_id, ts_us, event_id, event_type,
        |    CASE WHEN lag(event_type) OVER w IS NULL
        |           OR lag(event_type) OVER w <> event_type
        |         THEN 1 ELSE 0 END AS chg
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id
        |               ORDER BY ts_us, event_id)),
        |v AS (
        |  SELECT user_id, ts_us, event_type,
        |    CAST(SUM(chg) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS version_no
        |  FROM f),
        |runs AS (
        |  SELECT user_id, version_no, event_type,
        |    MIN(ts_us) AS valid_from_us,
        |    CAST(COUNT(*) AS BIGINT) AS n_events
        |  FROM v GROUP BY user_id, version_no, event_type)
        |SELECT user_id, version_no, event_type AS state,
        |  valid_from_us,
        |  lead(valid_from_us) OVER (PARTITION BY user_id
        |    ORDER BY version_no) AS valid_to_us,
        |  n_events
        |FROM runs ORDER BY user_id, version_no""".stripMargin,
    "q169_last_touch" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
        |    value
        |  FROM events),
        |c AS (
        |  SELECT user_id, ts_us, event_id, event_type, value,
        |    last_value(CASE WHEN event_type <> 'purchase'
        |                    THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS channel
        |  FROM ev)
        |SELECT COALESCE(channel, 'direct') AS channel,
        |  COUNT(*) AS n_conv,
        |  CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents
        |FROM c WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q170: the q141 session CTE chain rolled up per (user, session)
    // then per size bucket; duration is truncating µs // 10⁶ on both
    // sides.
    "q170_session_stats" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events),
        |l AS (
        |  SELECT user_id, ts_us, event_id,
        |    lag(ts_us) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id) AS prev_us
        |  FROM ev),
        |s AS (
        |  SELECT user_id, ts_us, event_id,
        |    CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM l),
        |n AS (
        |  SELECT user_id, ts_us,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS session_no
        |  FROM s),
        |per AS (
        |  SELECT user_id, session_no, COUNT(*) AS n_ev,
        |    (MAX(ts_us) - MIN(ts_us)) // 1000000 AS dur_s
        |  FROM n GROUP BY user_id, session_no)
        |SELECT LEAST(n_ev, 10) AS size_bucket,
        |  COUNT(*) AS n_sessions,
        |  CAST(SUM(dur_s) AS BIGINT) AS sum_dur_s,
        |  MAX(dur_s) AS max_dur_s
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,
    // q171: q74's lag-window transition counts squared through the
    // shared middle state; products/sums exact BIGINT.
    "q171_two_hop" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
        |  FROM events),
        |l AS (
        |  SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id) AS prev_type
        |  FROM ev),
        |t AS (
        |  SELECT prev_type, event_type AS next_type, COUNT(*) AS n
        |  FROM l WHERE prev_type IS NOT NULL
        |  GROUP BY 1, 2)
        |SELECT ab.prev_type AS src_type, bc.next_type AS dst_type,
        |  CAST(SUM(ab.n * bc.n) AS BIGINT) AS mass2
        |FROM t ab JOIN t bc ON ab.next_type = bc.prev_type
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q158: the q141 session numbering carried per event type, then
    // distinct session baskets + ordered pair join + integer lift.
    "q158_session_cooc" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
        |  FROM events),
        |l AS (
        |  SELECT user_id, ts_us, event_id, event_type,
        |    lag(ts_us) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id) AS prev_us
        |  FROM ev),
        |s AS (
        |  SELECT user_id, ts_us, event_id, event_type,
        |    CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM l),
        |n AS (
        |  SELECT user_id, event_type,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS session_no
        |  FROM s),
        |b AS (SELECT DISTINCT user_id, session_no, event_type FROM n),
        |sizes AS (SELECT event_type, COUNT(*) AS ns FROM b
        |          GROUP BY event_type),
        |tot AS (SELECT COUNT(*) AS s_total FROM (
        |  SELECT DISTINCT user_id, session_no FROM b)),
        |co AS (
        |  SELECT a.event_type AS ta, x.event_type AS tb,
        |    COUNT(*) AS n_co
        |  FROM b a JOIN b x
        |    ON a.user_id = x.user_id
        |   AND a.session_no = x.session_no
        |   AND a.event_type < x.event_type
        |  GROUP BY 1, 2)
        |SELECT co.ta, co.tb, co.n_co, sa.ns AS na, sb.ns AS nb,
        |  (co.n_co * t.s_total * 1000000) // (sa.ns * sb.ns)
        |    AS lift_ppm
        |FROM co JOIN sizes sa ON sa.event_type = co.ta
        |JOIN sizes sb ON sb.event_type = co.tb, tot t
        |ORDER BY co.ta, co.tb""".stripMargin,
    // q144: same distinct (user, day) collapse + ≤7-day range join to
    // the observed-day anchors; DATE - 7 is date arithmetic in both
    // engines.
    "q144_rolling_wau" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |anchors AS (SELECT DISTINCT d AS ad FROM ud)
        |SELECT a.ad AS d, COUNT(DISTINCT u.user_id) AS wau7
        |FROM ud u JOIN anchors a
        |  ON u.d <= a.ad AND u.d > a.ad - 7
        |GROUP BY a.ad ORDER BY a.ad""".stripMargin,
    // q141: same lag → gap-flag → running-sum session derivation under
    // the (µs, event_id) order; session_no cast to BIGINT (DuckDB
    // widens window SUMs — D6).
    // q276: the built-in session_window replayed as islands with the
    // >-boundary break (MEASURED: Spark merges abutting windows — an
    // exact-gap delta stays in session, same rule as q141);
    // end = last event + gap, exactly the window end Spark reports.
    "q276_session_window" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events),
        |l AS (
        |  SELECT user_id, ts_us,
        |    lag(ts_us) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id) AS prev_us,
        |    event_id
        |  FROM ev),
        |s AS (
        |  SELECT user_id, ts_us, event_id,
        |    CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM l),
        |n AS (
        |  SELECT user_id, ts_us,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS sid
        |  FROM s)
        |SELECT user_id,
        |  CAST(MIN(ts_us) AS BIGINT) AS session_start_us,
        |  CAST(MAX(ts_us) + 1800000000 AS BIGINT) AS session_end_us,
        |  COUNT(*) AS n_events
        |FROM n GROUP BY user_id, sid
        |ORDER BY user_id, session_start_us""".stripMargin,
    "q141_sessions" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events),
        |l AS (
        |  SELECT user_id, ts_us, event_id,
        |    lag(ts_us) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id) AS prev_us
        |  FROM ev),
        |s AS (
        |  SELECT user_id, ts_us, event_id,
        |    CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM l),
        |n AS (
        |  SELECT user_id, ts_us,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS session_no
        |  FROM s)
        |SELECT user_id, session_no,
        |  COUNT(*) AS n_events,
        |  CAST(MAX(ts_us) - MIN(ts_us) AS BIGINT) AS duration_us
        |FROM n GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q269: same lag deltas (one window pass), same 3-gap literal
    // fan-out, same integer densities.
    "q269_session_gap_sweep" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events),
        |l AS (
        |  SELECT user_id, ts_us,
        |    lag(ts_us) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id) AS prev_us
        |  FROM ev),
        |u AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |      FROM ev),
        |sw AS (
        |  SELECT CAST(gap_us AS BIGINT) AS gap_us,
        |    CASE WHEN prev_us IS NULL OR ts_us - prev_us > gap_us
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM l, unnest([600000000, 1800000000, 3600000000])
        |    AS t(gap_us)),
        |g AS (
        |  SELECT gap_us, COUNT(*) AS n_events,
        |    CAST(SUM(new_s) AS BIGINT) AS n_sessions
        |  FROM sw GROUP BY gap_us)
        |SELECT gap_us, n_users, n_events, n_sessions,
        |  (n_events * 1000) // n_sessions AS events_per_session_e3,
        |  (n_sessions * 1000) // n_users AS sessions_per_user_e3
        |FROM g CROSS JOIN u ORDER BY gap_us""".stripMargin,
    "q135_daily_churn" ->
      """WITH um AS (
        |  SELECT DISTINCT user_id,
        |    CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS d
        |  FROM events),
        |last AS (SELECT MAX(d) AS last_d FROM um)
        |SELECT a.d, COUNT(*) AS churned
        |FROM um a, last
        |WHERE a.d < last.last_d
        |  AND NOT EXISTS (SELECT 1 FROM um b
        |    WHERE b.user_id = a.user_id AND b.d = a.d + 1)
        |GROUP BY a.d ORDER BY a.d""".stripMargin,
    "q133_streaks" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
        |  FROM events),
        |islands AS (
        |  SELECT user_id,
        |    d - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
        |      AS island
        |  FROM days),
        |runs AS (
        |  SELECT user_id, island, COUNT(*) AS len
        |  FROM islands GROUP BY 1, 2)
        |SELECT user_id, MAX(len) AS max_streak,
        |  COUNT(*) AS n_streaks
        |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q128_attribution" ->
      """SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
        |  b.value AS b_value,
        |  epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
        |FROM events a
        |JOIN events b ON b.user_id = a.user_id
        |  AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
        |WHERE a.event_type = 'click' AND b.event_type = 'purchase'
        |ORDER BY a.user_id, a_id, b_id""".stripMargin,
    // q84: per-user monetary stays exact DECIMAL(18,2) (the per-user
    // re-cast keeps the D6 CAST(SUM discipline); values < 10^16 so the
    // width is lossless); every ntile window totally ordered with the
    // user_id tiebreak; cell sums final-cast DOUBLE.
    "q84_rfm" ->
      """WITH anchor AS (
        |  SELECT MAX(CAST(ts AS DATE)) AS anchor FROM events),
        |pu AS (
        |  SELECT user_id, MAX(CAST(ts AS DATE)) AS last_p,
        |    COUNT(*) AS freq,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2))
        |      AS mon
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |s AS (
        |  SELECT user_id, freq, mon,
        |    CAST(anchor - last_p AS BIGINT) AS r_days
        |  FROM pu CROSS JOIN anchor),
        |q AS (
        |  SELECT mon,
        |    ntile(5) OVER (ORDER BY r_days, user_id) AS r_q,
        |    ntile(5) OVER (ORDER BY freq DESC, user_id) AS f_q,
        |    ntile(5) OVER (ORDER BY mon DESC, user_id) AS m_q
        |  FROM s)
        |SELECT CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q,
        |  CAST(m_q AS BIGINT) AS m_q, COUNT(*) AS n_users,
        |  CAST(SUM(mon) AS DOUBLE) AS m_sum
        |FROM q GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // q85: distinct user-days then a per-week rollup; `//` ↔ `div`.
    "q85_stickiness" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |w AS (SELECT user_id,
        |        CAST(date_trunc('week', d) AS DATE) AS wk FROM ud)
        |SELECT wk, COUNT(DISTINCT user_id) AS wau, COUNT(*) AS user_days,
        |  (COUNT(*) * 10000) // (COUNT(DISTINCT user_id) * 7)
        |    AS stick_bp
        |FROM w GROUP BY wk ORDER BY wk""".stripMargin,
    // q72: DuckDB DATE − DATE is integer days; both engines truncate
    // weeks to ISO Monday.
    "q72_cohort" ->
      """WITH wk AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
        |f AS (SELECT user_id, MIN(wk) AS cohort_wk FROM wk
        |      GROUP BY user_id)
        |SELECT f.cohort_wk,
        |  CAST((wk.wk - f.cohort_wk) // 7 AS BIGINT) AS week_offset,
        |  COUNT(*) AS n_users
        |FROM wk JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q73: epoch_ns ↔ ts_ns (exact nanosecond comparisons); the same
    // chained conditional-min construction, stage depth = indicator
    // sum over left joins.
    "q73_funnel" ->
      """WITH t0 AS (
        |  SELECT user_id, MIN(epoch_ns(ts)) AS t0 FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |t1 AS (
        |  SELECT e.user_id, MIN(epoch_ns(e.ts)) AS t1 FROM events e
        |  JOIN t0 USING (user_id)
        |  WHERE e.event_type = 'view' AND epoch_ns(e.ts) >= t0.t0
        |  GROUP BY e.user_id),
        |t2 AS (
        |  SELECT e.user_id, MIN(epoch_ns(e.ts)) AS t2 FROM events e
        |  JOIN t1 USING (user_id)
        |  WHERE e.event_type = 'click' AND epoch_ns(e.ts) >= t1.t1
        |  GROUP BY e.user_id),
        |t3 AS (
        |  SELECT e.user_id, MIN(epoch_ns(e.ts)) AS t3 FROM events e
        |  JOIN t2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) >= t2.t2
        |  GROUP BY e.user_id),
        |u AS (SELECT DISTINCT user_id FROM events)
        |SELECT CAST(
        |    (CASE WHEN t0.user_id IS NOT NULL THEN 1 ELSE 0 END) +
        |    (CASE WHEN t1.user_id IS NOT NULL THEN 1 ELSE 0 END) +
        |    (CASE WHEN t2.user_id IS NOT NULL THEN 1 ELSE 0 END) +
        |    (CASE WHEN t3.user_id IS NOT NULL THEN 1 ELSE 0 END)
        |  AS BIGINT) AS stage, COUNT(*) AS n_users
        |FROM u LEFT JOIN t0 USING (user_id) LEFT JOIN t1 USING (user_id)
        |  LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q74: same (ts_ns, event_id) total order inside the lag window.
    "q74_transitions" ->
      """WITH o AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts), event_id) AS prev_type
        |  FROM events)
        |SELECT prev_type, event_type AS next_type, COUNT(*) AS n
        |FROM o WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q75: the q73 chain + integer-second deltas; quantile_disc is the
    // pinned percentile_disc definition (q61).
    "q75_time_to_convert" ->
      """WITH t0 AS (
        |  SELECT user_id, MIN(epoch_ns(ts)) AS t0 FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |t1 AS (
        |  SELECT e.user_id, MIN(epoch_ns(e.ts)) AS t1 FROM events e
        |  JOIN t0 USING (user_id)
        |  WHERE e.event_type = 'view' AND epoch_ns(e.ts) >= t0.t0
        |  GROUP BY e.user_id),
        |t2 AS (
        |  SELECT e.user_id, MIN(epoch_ns(e.ts)) AS t2 FROM events e
        |  JOIN t1 USING (user_id)
        |  WHERE e.event_type = 'click' AND epoch_ns(e.ts) >= t1.t1
        |  GROUP BY e.user_id),
        |t3 AS (
        |  SELECT e.user_id, MIN(epoch_ns(e.ts)) AS t3 FROM events e
        |  JOIN t2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) >= t2.t2
        |  GROUP BY e.user_id),
        |c AS (SELECT (t3.t3 - t0.t0) // 1000000000 AS dsec
        |      FROM t3 JOIN t0 USING (user_id))
        |SELECT COUNT(*) AS n_conv, MIN(dsec) AS min_sec,
        |  quantile_disc(dsec, 0.5) AS med_sec, MAX(dsec) AS max_sec
        |FROM c""".stripMargin,
    // q89: same (ts_ns, event_id) total order inside the window; the
    // ORDER BY inside string_agg replays Spark's sorted-struct assembly.
    "q89_event_paths" ->
      """WITH o AS (
        |  SELECT user_id, event_type, row_number() OVER (
        |    PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS rn
        |  FROM events),
        |p AS (
        |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM o WHERE rn <= 5 GROUP BY user_id)
        |SELECT path, COUNT(*) AS n_users FROM p
        |GROUP BY path ORDER BY n_users DESC, path""".stripMargin,
  )
}
