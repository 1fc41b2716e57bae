package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{dec, load}

/** Statistical aggregates — variance/stddev/covariance/correlation/
  * regression slope (Q51) and the conditional/argmax aggregate surface
  * (Q55).
  *
  * Determinism design (the D2 discipline extended to second moments):
  * Spark's own `stddev`/`corr` accumulate doubles, so partial-aggregation
  * ORDER leaks into the low bits — run-to-run and engine-to-engine
  * nondeterministic. Instead every statistic here is derived from EXACT
  * decimal power sums (Σx, Σx², Σxy — order-independent by exactness,
  * partial-combining map-side like any SUM), cast to DOUBLE once, then
  * combined with the textbook closed forms in IEEE double arithmetic
  * written identically on both engines:
  *
  *   var  = (n·Σx² − (Σx)²) / (n·(n−1))
  *   cov  = (n·Σxy − Σx·Σy) / (n·(n−1))
  *   corr = (n·Σxy − Σx·Σy) / (√(n·Σx² − (Σx)²)·√(n·Σy² − (Σy)²))
  *   β₁   = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
  *
  * Same inputs + same op sequence ⇒ bit-identical doubles, which is what
  * puts q51 under the hard hash gate. Columns are chosen with small
  * magnitudes (quantity ≤ 50, discount ≤ 0.1) so every decimal sum's
  * unscaled value stays < 2⁵³ and the decimal→double cast is exactly
  * rounded in both engines.
  */
object Stats {

  /** Exact decimal power sum cast to double — the deterministic building
    * block. `sum(dec(x)·dec(y))` is exact decimal arithmetic, so it is
    * independent of partition order. */
  private def psum(x: Column, y: Column): Column =
    sum(dec(x) * dec(y)).cast("double")

  /** Q51: per-group variance/stddev/covariance/correlation/OLS slope of
    * (l_quantity, l_discount) from exact power sums. */
  def q51Stats(spark: SparkSession, dir: String): DataFrame = {
    val li = load(spark, dir, "lineitem")
    val x = col("l_quantity")
    val y = col("l_discount")
    val agged = li.groupBy("l_returnflag").agg(
      count(lit(1)).as("cnt"),
      sum(dec(x)).cast("double").as("sx"),
      sum(dec(y)).cast("double").as("sy"),
      psum(x, x).as("sxx"),
      psum(y, y).as("syy"),
      psum(x, y).as("sxy"))
    val n = col("cnt").cast("double")
    val varQ = (n * col("sxx") - col("sx") * col("sx")) /
      (n * (n - lit(1.0)))
    val cov = (n * col("sxy") - col("sx") * col("sy")) /
      (n * (n - lit(1.0)))
    val corr = (n * col("sxy") - col("sx") * col("sy")) /
      (sqrt(n * col("sxx") - col("sx") * col("sx")) *
        sqrt(n * col("syy") - col("sy") * col("sy")))
    val slope = (n * col("sxy") - col("sx") * col("sy")) /
      (n * col("sxx") - col("sx") * col("sx"))
    agged.select(col("l_returnflag"), col("cnt"),
        varQ.as("var_qty"), sqrt(varQ).as("std_qty"),
        cov.as("cov_qty_disc"), corr.as("corr_qty_disc"),
        slope.as("slope_disc_on_qty"))
      .orderBy("l_returnflag")
  }

  /** Q55: conditional and argmax aggregates — COUNT_IF, BOOL_AND/OR
    * (projected as 0/1 BIGINT: BOOLEAN rendering differs across
    * engines, D6), MAX_BY/MIN_BY keyed by the unique o_orderkey so the
    * argmax is tie-free (D1). */
  def q55CondAggs(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(
        count_if(col("o_totalprice") > 200000).as("n_big"),
        bool_and(col("o_totalprice") > 0).cast("long").as("all_pos"),
        bool_or(col("o_totalprice") > 400000).cast("long").as("any_huge"),
        max_by(col("o_custkey"), col("o_orderkey")).as("last_cust"),
        min_by(col("o_custkey"), col("o_orderkey")).as("first_cust"))
      .orderBy("o_orderpriority")

  /** Q90: z-score anomaly detection — events whose `value` sits more
    * than `k` population standard deviations from its event-type mean;
    * the standard outlier sweep before a metric feeds a dashboard or a
    * training mixture.
    *
    * Determinism: mean/σ derive from exact decimal power sums (the q51
    * discipline) cast to DOUBLE once; the outlier predicate is cleared
    * of divisions and sqrt —
    *   (n·x − Σx)² > k²·(n·Σx² − (Σx)²)
    * — so both engines run the same IEEE double op sequence and the
    * boundary compare is engine-independent.
    *
    * Scale: the stats frame is one row per event type (broadcast back);
    * detection itself is a scan-speed row predicate — no shuffle of the
    * event stream, no window. */
  /** Per-event-type exact power sums — q90's stats frame, split out so
    * a streaming query computes it once from a static history table
    * and runs [[flagOutliers]]'s exact predicate over the stream. */
  def valueStats(events: DataFrame): DataFrame = {
    val x = col("value")
    events.groupBy("event_type").agg(
      count(x).as("__n"),
      sum(dec(x)).cast("double").as("__sx"),
      psum(x, x).as("__sxx"))
  }

  /** The q90 outlier predicate against a precomputed [[valueStats]]
    * frame (broadcast: one row per event type). Keeps every input
    * column; works identically on a batch frame or a streaming one
    * (stateless join + filter). */
  def flagOutliers(df: DataFrame, stats: DataFrame, k: Int = 3)
      : DataFrame = {
    val nd = col("__n").cast("double")
    val diff = nd * col("value") - col("__sx")
    df.join(broadcast(stats), "event_type")
      .filter(diff * diff >
        lit((k * k).toDouble) *
          (nd * col("__sxx") - col("__sx") * col("__sx")))
      .drop("__n", "__sx", "__sxx")
  }

  def valueOutliers(events: DataFrame, k: Int = 3): DataFrame =
    flagOutliers(events, valueStats(events), k)
      .select(col("event_type"), col("event_id"), col("value"))

  def q90ValueOutliers(spark: SparkSession, dir: String): DataFrame =
    valueOutliers(graft.Tables.events(spark, dir))
      .orderBy("event_type", "event_id")

  /** Q101: ROBUST outliers by MEDIAN / MAD — the z-score's (q90)
    * breakdown-resistant sibling: a single extreme value drags a mean
    * and explodes a stddev, but the median and the median absolute
    * deviation ignore up to 50% contamination. Flag |x − med| > k·MAD.
    *
    * Exactness: both medians are RANK-SELECTED data values
    * ([[Percentiles.discByRank]] — the disk-spilling window path, same
    * engine-pinned `ceil(p·n)` definition as q61), and the predicate
    * arithmetic (subtract, abs, one multiply, compare) is the same
    * IEEE op sequence in both engines — no accumulation order anywhere.
    *
    * Scale: two ranked window passes over (type, value) — each spills,
    * no per-group buffering — plus two broadcast joins of one-row-per-
    * type frames; the flag scan is codegen'd. */
  def q101MadOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_type"), col("value"))
      .filter(col("value").isNotNull)
    val med = Percentiles.discByRank(ev, Seq("event_type"), "value",
      Seq(0.5 -> "med"), countName = Some("n"))
    val dev = ev.join(broadcast(med), "event_type")
      .select(col("event_type"), col("n"), col("med"),
        abs(col("value") - col("med")).as("adev"))
    val mad = Percentiles.discByRank(dev, Seq("event_type"), "adev",
      Seq(0.5 -> "mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(max(col("n")).as("n"), max(col("med")).as("med"),
        max(col("mad")).as("mad"),
        sum(when(col("adev") > lit(3.0) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .orderBy("event_type")
  }

  /** The q132 integer-EWMA step: λ = 1/8 as the exact integer recursion
    * ewmaₖ = trunc((7·ewmaₖ₋₁ + vₖ) / 8), seed 0. Round-7 correction:
    * DuckDB's BIGINT `//` TRUNCATES toward zero (measured: -7 // 4 =
    * -1), so Java long division — NOT Math.floorDiv — is the
    * any-sign-safe twin of the oracle's `(7*acc + v) // 8`. For the
    * guarded non-negative fixture (FixtureGuardSpec pins min(value) ≥
    * 0) the two are identical, so the oracle and all goldens are
    * unchanged; a fixture regeneration with negative values now stays
    * engine-consistent instead of drifting one ulp per negative
    * step. */
  @inline def ewmaStep(acc: Long, v: Long): Long =
    (7L * acc + v) / 8L

  /** Q132: integer-scaled EWMA (λ = 1/8) of each user's event values in
    * strict (ts_ns, event_id) order — the exponentially-weighted
    * smoothing every monitoring/anomaly stack keeps per entity, as a
    * STATEFUL SEQUENTIAL FOLD, a computation class none of the window
    * queries exercise (windows aggregate; this recurses; v scaled to
    * integer thousandths via the q34a floor(x·1000+0.5) discipline).
    * All-integer recursion ⇒ bit-identical in any engine — the same
    * property that gates q93's PageRank; the oracle replays it with
    * DuckDB's ordered `list(... ORDER BY ...)` + `list_reduce`.
    *
    * Scale shape (the q42/q61 discipline — NO per-group in-heap buffer):
    * hash-repartition by user, SORT WITHIN PARTITIONS on (user, ts_ns,
    * event_id) — Spark's external sort spills to disk — then one
    * streaming mapPartitions pass folds each user's consecutive run.
    * Integer div does NOT compose as affine maps (truncation at every
    * step), so a mergeable segment aggregation cannot reproduce the
    * recursion exactly; the spill-sort + linear scan is the scalable
    * exact form. A hot user costs a disk sort, never an executor OOM. */
  /** The distributed EWMA fold over a frame with columns
    * (user_id: long, ts_ns: long, event_id: long, value: double) —
    * split out of [[q132Ewma]] so the spec can plant a hot user and a
    * multi-partition shuffle and pin the result against a driver-side
    * replay of the recursion. */
  def ewmaByUser(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.filter(col("value").isNotNull)
      .select(col("user_id"), col("ts_ns"), col("event_id"),
        expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)").as("v"))
      .as[(Long, Long, Long, Long)]
      .repartition(col("user_id"))
      .sortWithinPartitions("user_id", "ts_ns", "event_id")
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[(Long, Long, Long)] {
          def hasNext: Boolean = buf.hasNext
          def next(): (Long, Long, Long) = {
            val user = buf.head._1
            var n = 0L
            var acc = 0L
            while (buf.hasNext && buf.head._1 == user) {
              val row = buf.next()
              n += 1L
              acc = ewmaStep(acc, row._4)
            }
            (user, n, acc)
          }
        }
      }
      .toDF("user_id", "n_events", "ewma_e3")
  }

  def q132Ewma(spark: SparkSession, dir: String): DataFrame =
    ewmaByUser(graft.Tables.events(spark, dir)).orderBy("user_id")

  /** Q134: WEIGHTED median — smallest value whose cumulative weight
    * reaches half the group's total (weights = exact-decimal revenue).
    * The weighted-quantile selection none of the percentile queries
    * exercise (q42/q61/q130 are count-ranked; this ranks by a weight
    * measure). Ties collapse FIRST (weight aggregated per (group,
    * value)), so the cumulative order is over unique values — no
    * tiebreak ambiguity; the crossing predicate `2·cw ≥ W` is exact
    * decimal arithmetic (D6: no IEEE halves, doubles only in the final
    * projection).
    *
    * Scale shape: one hash agg to (group, value, weight), one per-group
    * window over the ~|distinct values| rows, two slim aggs. */
  def q134WeightedMedian(spark: SparkSession, dir: String): DataFrame = {
    val perVal = load(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(sum(dec(col("l_extendedprice"))).as("w"))
    val wRun = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_quantity"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("l_returnflag"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    perVal
      .withColumn("cw", sum(col("w")).over(wRun))
      .withColumn("tw", sum(col("w")).over(wAll))
      .filter(col("cw") * 2 >= col("tw"))
      .groupBy(col("l_returnflag"))
      .agg(min(col("l_quantity")).as("wmedian"),
        max(col("tw")).cast("double").as("total_wt"))
      .orderBy("l_returnflag")
  }

  // ---------------------------------------------------------------- q146

  /** One Holt step on (level, trend) with α = β = 1/4 as exact integer
    * recursions under TRUNCATING division (Java long `/`):
    *   lₖ = trunc((vₖ + 3·(lₖ₋₁ + bₖ₋₁)) / 4)
    *   bₖ = trunc(((lₖ − lₖ₋₁) + 3·bₖ₋₁) / 4)
    * The trend numerator goes negative on falling series, and DuckDB's
    * BIGINT `//` TRUNCATES toward zero there (measured: -7 // 4 = -1 —
    * it is NOT floor division, despite its docs-adjacent reputation;
    * Math.floorDiv would give -2 and drift one ulp per falling step).
    * Java long division has exactly DuckDB's truncation semantics, so
    * the JVM fold and the oracle recursion agree for ANY sign. */
  @inline def holtStep(l: Long, b: Long, v: Long): (Long, Long) = {
    val l1 = (v + 3L * (l + b)) / 4L
    (l1, ((l1 - l) + 3L * b) / 4L)
  }

  /** Q146: HOLT double-exponential smoothing (level + trend) of each
    * event type's daily value total — the trend-aware forecasting
    * recursion EWMA (q132) can't express: a steadily growing series
    * keeps a positive trend term and forecasts ABOVE its level. Seeds
    * l₁ = v₁, b₁ = 0; output is the final (level, trend) state and
    * the one-step forecast l + b.
    *
    * COUPLED 2-D state (each step needs both previous level and
    * previous trend), so the computation class is the q132 stateful
    * sequential fold with a vector accumulator — not a window, not a
    * mergeable agg (integer floors don't compose). Scale shape is
    * q132's exactly: the corpus collapses to (type, day) partials
    * first (ONE shuffle sees volume), then repartition by type +
    * sortWithinPartitions (spill sort) + one streaming mapPartitions
    * fold — per-group state is two longs, never a buffered history.
    * The oracle replays the recursion as a DuckDB RECURSIVE CTE
    * stepping rn → rn+1 (breadth-wise: iterations = max days per
    * type, rows per step = |types| — tiny). */
  def holtByType(daily: DataFrame): DataFrame = {
    val spark = daily.sparkSession
    import spark.implicits._
    daily.select(col("event_type"), col("dnum"), col("v"))
      .as[(String, Int, Long)]
      .repartition(col("event_type"))
      .sortWithinPartitions("event_type", "dnum")
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[(String, Long, Long, Long)] {
          def hasNext: Boolean = buf.hasNext
          def next(): (String, Long, Long, Long) = {
            val et = buf.head._1
            var n = 0L
            var l = 0L
            var b = 0L
            while (buf.hasNext && buf.head._1 == et) {
              val v = buf.next()._3
              if (n == 0L) { l = v; b = 0L }
              else {
                val st = holtStep(l, b, v)
                l = st._1
                b = st._2
              }
              n += 1L
            }
            (et, n, l, b)
          }
        }
      }
      .toDF("event_type", "n_days", "level_e3", "trend_e3")
      .withColumn("forecast_e3", col("level_e3") + col("trend_e3"))
  }

  private def holtDaily(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)"))
        .as("v"))
      .select(col("event_type"), expr("unix_date(day)").as("dnum"),
        col("v"))

  def q146Holt(spark: SparkSession, dir: String): DataFrame =
    holtByType(holtDaily(spark, dir)).orderBy("event_type")

  // ---------------------------------------------------------------- q166

  /** Q166: HOLT walk-forward BACKTEST — at every step k ≥ 2, score the
    * one-step-ahead forecast lₖ₋₁ + bₖ₋₁ against the realized vₖ
    * BEFORE folding vₖ in; emit the per-type prediction count, summed
    * absolute error, and integer MAE. The evaluate-your-forecaster
    * operator: q146 fits, q166 says whether the fit was worth
    * anything (the q143 ↔ q155 pairing for the time-series family —
    * every model operator ships with its evaluation operator).
    *
    * Same fold, one extra accumulator (error sum) — scale shape
    * unchanged: two longs + one error long per group, spill-sorted
    * input, no history buffer. The oracle reuses q146's RECURSIVE CTE
    * state chain and joins state rn against actual rn+1. */
  def holtBacktest(daily: DataFrame): DataFrame = {
    val spark = daily.sparkSession
    import spark.implicits._
    daily.select(col("event_type"), col("dnum"), col("v"))
      .as[(String, Int, Long)]
      .repartition(col("event_type"))
      .sortWithinPartitions("event_type", "dnum")
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[(String, Long, Long)] {
          def hasNext: Boolean = buf.hasNext
          def next(): (String, Long, Long) = {
            val et = buf.head._1
            var n = 0L
            var l = 0L
            var b = 0L
            var sae = 0L
            while (buf.hasNext && buf.head._1 == et) {
              val v = buf.next()._3
              if (n == 0L) { l = v; b = 0L }
              else {
                sae += math.abs(l + b - v)
                val st = holtStep(l, b, v)
                l = st._1
                b = st._2
              }
              n += 1L
            }
            (et, n - 1L, sae)
          }
        }
      }
      .toDF("event_type", "n_pred", "sae_e3")
      .withColumn("mae_e3",
        expr("CASE WHEN n_pred > 0 THEN sae_e3 div n_pred" +
          " ELSE 0L END"))
  }

  /** n_pred = 0 (single-day types) filtered to match the oracle's
    * prediction join, which has no row to score there. */
  def q166HoltBacktest(spark: SparkSession, dir: String): DataFrame =
    holtBacktest(holtDaily(spark, dir))
      .filter(col("n_pred") > 0).orderBy("event_type")

  // ---------------------------------------------------------------- q168

  /** Q168: LORENZ top-share readout — the revenue share held by the
    * top 1/5/10/25% of customers, in exact basis points. Reads points
    * off the concentration curve q159's Gini integrates — the "whale
    * dependence" numbers a revenue dashboard actually shows. Top-k
    * membership is deterministic: rank desc by (cents, custkey);
    * k = max(1, ⌊n·p/100⌋).
    *
    * Scale: the spend collapse + ONE global rank window (single
    * total order — the documented small frame: one row per customer,
    * not per order; at 10⁹ customers this moves to the q42
    * range-split discipline), then a broadcast 4-row threshold
    * fan-out and a slim rollup. All-BIGINT.
    *
    * BIGINT headroom (D6): share_bp multiplies the top-group cents
    * sum by 10⁴, so it is exact while total revenue < 2⁶³/10⁴ cents
    * ≈ $9.2·10¹² — roughly sf 6·10³ of this schema. Beyond that the
    * numerator moves to DECIMAL(38,0) internally with the same final
    * BIGINT `div` projection (the q148/q158/q160 convention; ANSI
    * fails loudly, never wraps, if hit first). */
  def q168TopShare(spark: SparkSession, dir: String): DataFrame = {
    val spend = load(spark, dir, "orders")
      .groupBy("o_custkey")
      .agg(expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100" +
        " AS BIGINT)").as("cents"))
    // round 10: size-switched global rank; n/tot are driver scalars
    // from one agg over the checkpointed frame (the whole-frame
    // count/sum windows were themselves single-task).
    val ranked = Percentiles.globalOrderedScan(spend,
      Seq(col("cents").desc, col("o_custkey")), "rn",
      nName = Some("n"), totals = Seq("cents" -> "tot"))
    ranked
      .select(col("rn"), col("cents"), col("n"), col("tot"),
        explode(expr("array(1L, 5L, 10L, 25L)")).as("pct"))
      .filter(col("rn") <=
        expr("GREATEST(1L, (n * pct) div 100)"))
      .groupBy("pct")
      .agg(count(lit(1)).as("n_top"),
        expr("(CAST(SUM(cents) AS BIGINT) * 10000) div MAX(tot)")
          .as("share_bp"))
      .orderBy("pct")
  }

  /** Shared WITH-RECURSIVE prefix of the q146/q166 oracles: daily
    * integer totals → rn numbering → the stepped (l, b) state chain. */
  private val holtCtes: String =
    """WITH RECURSIVE daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d,
      |    CAST(SUM(CAST(floor(value * 1000 + 0.5) AS BIGINT))
      |      AS BIGINT) AS v
      |  FROM events WHERE value IS NOT NULL
      |  GROUP BY event_type, CAST(ts AS DATE)),
      |t AS (
      |  SELECT event_type,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d)
      |      AS rn, v
      |  FROM daily),
      |s AS (
      |  SELECT event_type, rn, v AS l, CAST(0 AS BIGINT) AS b
      |  FROM t WHERE rn = 1
      |  UNION ALL
      |  SELECT t.event_type, t.rn,
      |    (t.v + 3 * (s.l + s.b)) // 4 AS l,
      |    (((t.v + 3 * (s.l + s.b)) // 4) - s.l + 3 * s.b) // 4 AS b
      |  FROM s JOIN t
      |    ON t.event_type = s.event_type AND t.rn = s.rn + 1)"""
      .stripMargin

  // ---------------------------------------------------------------- q159

  /** Q159: GINI coefficient of customer spend per nation — the
    * inequality/concentration audit ("how top-heavy is this market"),
    * in exact basis points from the rank formulation
    *   G = (2·Σᵢ i·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ),  x sorted ascending —
    * an order-statistic FUNCTIONAL (rank-weighted sum), a class the
    * percentile machinery (value selection) never touches. Customers
    * with no orders count as zero spend (population Gini, not
    * buyers-only). Ties in spend share a value, so the rank tiebreak
    * (custkey) cannot change Σi·xᵢ — deterministic without
    * convention.
    *
    * Determinism: spend is exact DECIMAL, scaled to BIGINT cents
    * (integral ⇒ exact cast); everything after is integer; the one
    * double (total_spend) is a single cents/100 division written
    * identically on both engines. Numerator 2T − (n+1)S ≥ 0 always,
    * so div ≡ `//` trivially. Scale: one partial-combining spend agg,
    * one per-nation window rank (spill sort), one slim rollup. BIGINT
    * holds Σi·cents to ~10⁷ customers/nation at 10⁵-dollar spends;
    * beyond that T moves to DECIMAL internally (documented). */
  def q159Gini(spark: SparkSession, dir: String): DataFrame = {
    val spend = load(spark, dir, "orders")
      .groupBy("o_custkey").agg(sum(dec(col("o_totalprice"))).as("sp"))
    val cust = load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
      .join(spend.withColumnRenamed("o_custkey", "c_custkey"),
        Seq("c_custkey"), "left")
      .select(col("c_nationkey").cast("long").as("nation"),
        col("c_custkey"),
        coalesce(expr("CAST(sp * 100 AS BIGINT)"), lit(0L))
          .as("cents"))
    val w = Window.partitionBy("nation")
      .orderBy(col("cents"), col("c_custkey"))
    cust.withColumn("i", row_number().over(w))
      .groupBy("nation")
      .agg(count(lit(1)).as("n_cust"),
        sum(col("cents")).as("s"),
        sum(expr("CAST(i AS BIGINT) * cents")).as("t"))
      .select(col("nation"), col("n_cust"),
        expr("CAST(s AS DOUBLE) / 100").as("total_spend"),
        expr("CASE WHEN s > 0 THEN" +
          " ((2 * t - (n_cust + 1) * s) * 10000) div (n_cust * s)" +
          " ELSE 0L END").as("gini_bp"))
      .orderBy("nation")
  }

  // ---------------------------------------------------------------- q174

  /** Q174: CLAMPED RUNNING LEDGER — per-supplier stock replay:
    * deliveries add quantity, returns (`l_returnflag = 'R'`) subtract
    * it, and stock CLAMPS at zero (you cannot ship inventory you don't
    * hold). Emits per supplier the day count, final stock, and how
    * many days hit the clamp. The inventory/balance primitive whose
    * recursion is NON-LINEAR (max(0, prev+δ) is no prefix sum — a
    * window cannot express it), exercising the q132/q146 sequential-
    * fold machinery on a branching recurrence.
    *
    * Determinism: deltas aggregate per (supplier, ship DAY) first, so
    * the fold's step order is the unique day sequence — immune to the
    * fixture's duplicate (l_orderkey, l_linenumber) pairs that would
    * make an item-level order ambiguous. Quantities are whole numbers
    * in this schema; floor(q+0.5) makes the integer cast explicit.
    * All state is two longs (stock, clamp count) — the oracle replays
    * the recursion as a RECURSIVE CTE stepping rn → rn+1
    * (breadth-wise: |suppliers| rows per step).
    *
    * Scale: one partial-combining (supplier, day) agg sees volume;
    * the fold runs on repartition(supplier) + sortWithinPartitions
    * (spill sort, no per-group buffer) exactly like holtByType. */
  def clampedLedger(daily: DataFrame): DataFrame = {
    val spark = daily.sparkSession
    import spark.implicits._
    daily.select(col("l_suppkey"), col("dnum"), col("delta"))
      .as[(Long, Long, Long)]
      .repartition(col("l_suppkey"))
      .sortWithinPartitions("l_suppkey", "dnum")
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[(Long, Long, Long, Long)] {
          def hasNext: Boolean = buf.hasNext
          def next(): (Long, Long, Long, Long) = {
            val k = buf.head._1
            var n = 0L
            var stock = 0L
            var clamps = 0L
            while (buf.hasNext && buf.head._1 == k) {
              val d = buf.next()._3
              val s = stock + d
              if (s < 0L) { clamps += 1L; stock = 0L }
              else stock = s
              n += 1L
            }
            (k, n, stock, clamps)
          }
        }
      }
      .toDF("l_suppkey", "n_days", "final_stock", "n_clamped")
  }

  def q174ClampedLedger(spark: SparkSession, dir: String): DataFrame =
    clampedLedger(load(spark, dir, "lineitem")
      .groupBy(col("l_suppkey"),
        expr("unix_date(to_date(l_shipdate))").as("dnum"))
      .agg(sum(expr("CAST(floor(l_quantity + 0.5) AS BIGINT) *" +
        " (CASE WHEN l_returnflag = 'R' THEN -1 ELSE 1 END)"))
        .as("delta")))
      .orderBy("l_suppkey")

  // ---------------------------------------------------------------- q194

  /** Q194: MULTI-HORIZON Holt backtest — q166 walk-forward error at
    * horizons 1, 3 and 7 steps: the forecast from the state after step
    * k is l + h·b, scored against the actual at step k+h. How forecast
    * quality DECAYS with horizon is the number capacity planning
    * actually needs (1-step MAE flatters any smoother).
    *
    * The fold stays bounded-state: a ring buffer of the last 7 (l, b)
    * states per type — 14 longs, never the series (the q132/q146
    * discipline extended to lagged self-reference). The oracle joins
    * the recursive state chain to actuals at rn + h. A horizon with no
    * (k, k+h) pair (short series) emits no row on either side. */
  def holtBacktestHorizons(daily: DataFrame,
      horizons: Seq[Int] = Seq(1, 3, 7)): DataFrame = {
    val spark = daily.sparkSession
    import spark.implicits._
    val hmax = horizons.max
    daily.select(col("event_type"), col("dnum"), col("v"))
      .as[(String, Int, Long)]
      .repartition(col("event_type"))
      .sortWithinPartitions("event_type", "dnum")
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[Seq[(String, Long, Long, Long)]] {
          def hasNext: Boolean = buf.hasNext
          def next(): Seq[(String, Long, Long, Long)] = {
            val et = buf.head._1
            // ring of states AFTER step k, keyed k % (hmax + 1)
            val ring = new Array[(Long, Long)](hmax + 1)
            val n = scala.collection.mutable.Map.empty[Int, Long]
            val sae = scala.collection.mutable.Map.empty[Int, Long]
            var k = 0L
            var l = 0L
            var b = 0L
            while (buf.hasNext && buf.head._1 == et) {
              val v = buf.next()._3
              k += 1L
              horizons.foreach { h =>
                if (k - h >= 1L) {
                  val st = ring(((k - h) % (hmax + 1)).toInt)
                  sae(h) = sae.getOrElse(h, 0L) +
                    math.abs(v - (st._1 + h * st._2))
                  n(h) = n.getOrElse(h, 0L) + 1L
                }
              }
              if (k == 1L) { l = v; b = 0L }
              else {
                val st = holtStep(l, b, v)
                l = st._1
                b = st._2
              }
              ring((k % (hmax + 1)).toInt) = (l, b)
            }
            horizons.filter(h => n.getOrElse(h, 0L) > 0L)
              .map(h => (et, h.toLong, n(h), sae(h)))
          }
        }
      }
      .flatMap(identity)
      .toDF("event_type", "horizon", "n_evals", "sae_e3")
      .withColumn("mae_e3", expr("sae_e3 div n_evals"))
  }

  def q194HoltHorizons(spark: SparkSession, dir: String): DataFrame =
    holtBacktestHorizons(holtDaily(spark, dir))
      .orderBy("event_type", "horizon")

  // ---------------------------------------------------------------- q195

  /** Q195: TRIMMED MEAN (5–95%) of event values per type, in exact
    * cents — the robust location estimate between q51's mean (outlier-
    * dragged) and q61's median (throws away 98% of the data): drop the
    * bottom and top n/20 ranks under the (cents, event_id) total
    * order, integer-mean the rest. Rank selection, not a value
    * buffer — the percentile discipline applied to a trimmed
    * aggregate; truncating div matches `//` for any sign.
    *
    * Scale: one spill-sorted per-type rank window + one slim agg (the
    * q42/q61 split machinery applies verbatim if a single type ever
    * outgrows a task's sort). */
  def q195TrimmedMean(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type")
      .orderBy(col("cents"), col("event_id"))
    graft.Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1))
        .over(Window.partitionBy("event_type")).cast("long"))
      .filter(col("rn") > expr("n div 20") &&
        col("rn") <= expr("n - n div 20"))
      .groupBy("event_type")
      .agg(max(col("n")).as("n_total"), count(lit(1)).as("n_kept"),
        sum(col("cents")).as("sum_cents"))
      .withColumn("trimmed_mean_cents", expr("sum_cents div n_kept"))
      .orderBy("event_type")
  }

  // ---------------------------------------------------------------- q198

  /** Q198: LIFE TABLE (survival-analysis prep) — customer relationship
    * durations in quarters (first to last order date), churn = quiet
    * for the trailing 90 days of the observation window, else
    * censored; per quarter: the risk set (duration ≥ q), observed
    * churn events (churned AND duration = q), and the discrete hazard
    * in ppm. The Kaplan–Meier input table — the survival CLASS
    * (censoring-aware duration analysis) nothing else in the surface
    * touches; the KM curve itself is the cumulative product of
    * (1 − hazard), a consumer-side fold over these ≤30 rows.
    *
    * All integer: date subtraction, `div 90` quarters, cross-
    * multiplied hazard. Events are too dense for survival (every user
    * lives the whole fixture); order lifetimes span years. Scale: one
    * per-customer collapse, ≤|quarters| threshold fan-out via a range
    * join on the broadcast quarter dimension. */
  /** Frame-shaped core of q198 (SqlSurface view builder entry):
    * expects an orders frame with (o_custkey, o_orderdate). */
  def lifeTable(orders: DataFrame): DataFrame = {
    val o = orders
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("d"))
    val life = o.groupBy("o_custkey")
      .agg(min(col("d")).as("f"), max(col("d")).as("l"))
    val horizon = o.agg(max(col("d")).as("dmax"))
    val durs = life.crossJoin(broadcast(horizon))
      .select(expr("CAST(datediff(l, f) AS BIGINT) div 90").as("dur_q"),
        when(expr("datediff(dmax, l) > 90"), 1L).otherwise(0L)
          .as("churned"))
    val quarters = durs.select(col("dur_q")).distinct()
      .select(col("dur_q").as("q"))
    durs.join(broadcast(quarters), col("dur_q") >= col("q"))
      .groupBy("q")
      .agg(count(lit(1)).as("n_risk"),
        expr("CAST(count_if(churned = 1 AND dur_q = q) AS BIGINT)")
          .as("n_churn"))
      .withColumn("hazard_ppm", expr("(n_churn * 1000000) div n_risk"))
      .orderBy("q")
  }

  def q198LifeTable(spark: SparkSession, dir: String): DataFrame =
    lifeTable(load(spark, dir, "orders"))

  // ---------------------------------------------------------------- q206

  /** Q206: COLUMN-PAIR CORRELATION MATRIX in ONE scan — Pearson r
    * (e6) between lineitem's numeric measures (quantity, price cents,
    * discount cents), computed from a single partial-combining
    * aggregate of all nine exact power sums; the pair rows unpivot
    * from the 1-row sum frame. q173 correlates SERIES (per-day join);
    * this correlates COLUMNS — no join at all, which is the point: at
    * 100 TB a p-column correlation matrix is ONE scan carrying
    * p·(p+3)/2 sums, not p² passes.
    *
    * Exactness: measures quantize to integers (the floor(x·s+0.5)
    * discipline), sums stay DECIMAL internally (BIGINT² · rows
    * overflows long at sf0.1 — DuckDB's HUGEINT sums are the exact
    * twin), and the finale num/√(varx·vary) runs the identical IEEE
    * op sequence on identically-exact inputs (q173's rule), rounded
    * to BIGINT e6 (D6). */
  def q206FeatureCorr(spark: SparkSession, dir: String): DataFrame = {
    val m = load(spark, dir, "lineitem").select(
      expr("CAST(floor(l_quantity + 0.5) AS DECIMAL(18,0))").as("a"),
      expr("CAST(floor(l_extendedprice * 100 + 0.5) AS DECIMAL(18,0))")
        .as("b"),
      expr("CAST(floor(l_discount * 100 + 0.5) AS DECIMAL(18,0))")
        .as("c"))
    val s = m.agg(count(lit(1)).as("n"),
      sum(col("a")).as("sa"), sum(col("b")).as("sb"),
      sum(col("c")).as("sc"),
      sum(expr("a * b")).as("sab"), sum(expr("a * c")).as("sac"),
      sum(expr("b * c")).as("sbc"),
      sum(expr("a * a")).as("saa"), sum(expr("b * b")).as("sbb"),
      sum(expr("c * c")).as("scc"))
    def corrE6(sxy: String, sx: String, sy: String, sxx: String,
        syy: String) = expr(
      s"CAST(floor(CAST(n * $sxy - $sx * $sy AS DOUBLE) / " +
        s"sqrt(CAST(n * $sxx - $sx * $sx AS DOUBLE) * " +
        s"CAST(n * $syy - $sy * $sy AS DOUBLE)) * 1000000 + 0.5) " +
        "AS BIGINT)")
    s.select(explode(array(
        struct(lit("price~disc").as("pair"), col("n").as("n_rows"),
          corrE6("sbc", "sb", "sc", "sbb", "scc").as("corr_e6")),
        struct(lit("qty~disc").as("pair"), col("n").as("n_rows"),
          corrE6("sac", "sa", "sc", "saa", "scc").as("corr_e6")),
        struct(lit("qty~price").as("pair"), col("n").as("n_rows"),
          corrE6("sab", "sa", "sb", "saa", "sbb").as("corr_e6"))))
        .as("r"))
      .select(col("r.pair").as("pair"), col("r.n_rows").as("n_rows"),
        col("r.corr_e6").as("corr_e6"))
      .orderBy("pair")
  }

  // ---------------------------------------------------------------- q209

  /** Q209: FULFILLMENT LEAD-TIME TREND — ship-minus-order days per
    * line item, monthly p50/p90 via the spill-ranked exact percentile
    * machinery (no per-group buffers). The operational SLA trend every
    * logistics dashboard leads with; integer day arithmetic keeps it
    * engine-exact, the (year·100+month) key is calendar-dialect-free.
    *
    * Scale: one fact-fact join on the orderkey (bucketable — SCALE.md
    * layout section), one collapse to (month, days), then discByRank
    * over months ≪ facts. */
  def q209LeadTime(spark: SparkSession, dir: String): DataFrame = {
    val lt = load(spark, dir, "lineitem")
      .select(col("l_orderkey").as("o_orderkey"), col("l_shipdate"))
      .join(load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate")), "o_orderkey")
      .select(
        expr("CAST(year(o_orderdate) * 100 + month(o_orderdate)" +
          " AS BIGINT)").as("ym"),
        expr("CAST(datediff(l_shipdate, o_orderdate) AS BIGINT)")
          .as("lead_days"))
    Percentiles.discByRank(lt, Seq("ym"), "lead_days",
      Seq(0.5 -> "p50_days", 0.9 -> "p90_days"),
      countName = Some("n_lines"))
      .orderBy("ym")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q209_lead_time" -> (q209LeadTime _),
    "q206_feature_corr" -> (q206FeatureCorr _),
    "q194_holt_horizons" -> (q194HoltHorizons _),
    "q195_trimmed_mean" -> (q195TrimmedMean _),
    "q198_life_table" -> (q198LifeTable _),
    "q174_clamped_ledger" -> (q174ClampedLedger _),
    "q159_gini" -> (q159Gini _),
    "q146_holt" -> (q146Holt _),
    "q166_holt_backtest" -> (q166HoltBacktest _),
    "q168_top_share" -> (q168TopShare _),
    "q51_stats" -> (q51Stats _),
    "q55_cond_aggs" -> (q55CondAggs _),
    "q90_value_outliers" -> (q90ValueOutliers _),
    "q101_mad_outliers" -> (q101MadOutliers _),
    "q132_ewma" -> (q132Ewma _),
    "q134_weighted_median" -> (q134WeightedMedian _),
  )

  val oracle: Map[String, String] = Map(
    // q209: same integer day difference and arithmetic month key,
    // quantile_disc = discByRank's boundary definition.
    "q209_lead_time" ->
      """WITH lt AS (
        |  SELECT CAST(year(o.o_orderdate) * 100 +
        |      month(o.o_orderdate) AS BIGINT) AS ym,
        |    CAST(CAST(l.l_shipdate AS DATE) -
        |      CAST(o.o_orderdate AS DATE) AS BIGINT) AS lead_days
        |  FROM lineitem l
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey)
        |SELECT ym, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  quantile_disc(lead_days, 0.5) AS p50_days,
        |  quantile_disc(lead_days, 0.9) AS p90_days
        |FROM lt GROUP BY ym ORDER BY ym""".stripMargin,
    // q206: same integer quantization, HUGEINT sums as the exact twin
    // of Spark's internal DECIMAL sums, same double finale op order.
    "q206_feature_corr" -> {
      def corr(sxy: String, sx: String, sy: String, sxx: String,
          syy: String) =
        s"CAST(floor(CAST(n * $sxy - $sx * $sy AS DOUBLE) / " +
          s"sqrt(CAST(n * $sxx - $sx * $sx AS DOUBLE) * " +
          s"CAST(n * $syy - $sy * $sy AS DOUBLE)) * 1000000 + 0.5) " +
          "AS BIGINT)"
      s"""WITH m AS (
         |  SELECT CAST(floor(l_quantity + 0.5) AS BIGINT) AS a,
         |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS b,
         |    CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS c
         |  FROM lineitem),
         |s AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    SUM(a) AS sa, SUM(b) AS sb, SUM(c) AS sc,
         |    SUM(a * b) AS sab, SUM(a * c) AS sac, SUM(b * c) AS sbc,
         |    SUM(a * a) AS saa, SUM(b * b) AS sbb, SUM(c * c) AS scc
         |  FROM m)
         |SELECT * FROM (
         |  SELECT 'price~disc' AS pair, n AS n_rows,
         |    ${corr("sbc", "sb", "sc", "sbb", "scc")} AS corr_e6
         |  FROM s
         |  UNION ALL
         |  SELECT 'qty~disc', n, ${corr("sac", "sa", "sc", "saa", "scc")}
         |  FROM s
         |  UNION ALL
         |  SELECT 'qty~price', n, ${corr("sab", "sa", "sb", "saa", "sbb")}
         |  FROM s)
         |ORDER BY pair""".stripMargin
    },
    // q198: same integer quarters, same 90-day churn rule, same
    // risk-set range join; all counts/divisions integer.
    "q198_life_table" ->
      """WITH o AS (
        |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d
        |  FROM orders),
        |life AS (
        |  SELECT o_custkey, MIN(d) AS f, MAX(d) AS l
        |  FROM o GROUP BY 1),
        |h AS (SELECT MAX(d) AS dmax FROM o),
        |durs AS (
        |  SELECT CAST(l - f AS BIGINT) // 90 AS dur_q,
        |    CASE WHEN dmax - l > 90 THEN 1 ELSE 0 END AS churned
        |  FROM life, h),
        |quarters AS (SELECT DISTINCT dur_q AS q FROM durs)
        |SELECT q.q, COUNT(*) AS n_risk,
        |  CAST(count_if(d.churned = 1 AND d.dur_q = q.q) AS BIGINT)
        |    AS n_churn,
        |  (CAST(count_if(d.churned = 1 AND d.dur_q = q.q) AS BIGINT)
        |    * 1000000) // COUNT(*) AS hazard_ppm
        |FROM durs d JOIN quarters q ON d.dur_q >= q.q
        |GROUP BY q.q ORDER BY q.q""".stripMargin,
    // q195: same (cents, event_id) rank order, same n/20 trim bounds,
    // same truncating integer mean.
    "q195_trimmed_mean" ->
      """WITH c AS (
        |  SELECT event_type, event_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |r AS (
        |  SELECT event_type, cents,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY cents, event_id) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS n
        |  FROM c)
        |SELECT event_type, MAX(n) AS n_total, COUNT(*) AS n_kept,
        |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |  CAST(SUM(cents) AS BIGINT) // COUNT(*) AS trimmed_mean_cents
        |FROM r
        |WHERE rn > n // 20 AND rn <= n - n // 20
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q194: the shared recursive state chain joined to actuals at
    // rn + h; forecast l + h·b from the state after step rn; ae ≥ 0
    // so // ≡ div.
    "q194_holt_horizons" ->
      s"""$holtCtes,
         |hz AS (SELECT unnest(ARRAY[1, 3, 7]) AS h),
         |e AS (
         |  SELECT s.event_type, CAST(hz.h AS BIGINT) AS horizon,
         |    ABS(t.v - (s.l + hz.h * s.b)) AS ae
         |  FROM s CROSS JOIN hz
         |  JOIN t ON t.event_type = s.event_type
         |        AND t.rn = s.rn + hz.h)
         |SELECT event_type, horizon, COUNT(*) AS n_evals,
         |  CAST(SUM(ae) AS BIGINT) AS sae_e3,
         |  CAST(SUM(ae) AS BIGINT) // COUNT(*) AS mae_e3
         |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q174: the recursion replayed breadth-wise rn → rn+1 per
    // supplier; GREATEST clamp and the <0 clamp counter are exactly
    // the fold's branch; deltas per (supplier, day) make step order
    // unique.
    "q174_clamped_ledger" ->
      """WITH RECURSIVE daily AS (
        |  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS d,
        |    CAST(SUM(CAST(floor(l_quantity + 0.5) AS BIGINT) *
        |      (CASE WHEN l_returnflag = 'R' THEN -1 ELSE 1 END))
        |      AS BIGINT) AS delta
        |  FROM lineitem GROUP BY 1, 2),
        |t AS (
        |  SELECT l_suppkey,
        |    ROW_NUMBER() OVER (PARTITION BY l_suppkey ORDER BY d)
        |      AS rn, delta
        |  FROM daily),
        |s AS (
        |  SELECT l_suppkey, rn,
        |    GREATEST(CAST(0 AS BIGINT), delta) AS stock,
        |    CASE WHEN delta < 0 THEN CAST(1 AS BIGINT)
        |         ELSE CAST(0 AS BIGINT) END AS clamps
        |  FROM t WHERE rn = 1
        |  UNION ALL
        |  SELECT t.l_suppkey, t.rn,
        |    GREATEST(CAST(0 AS BIGINT), s.stock + t.delta),
        |    s.clamps + CASE WHEN s.stock + t.delta < 0
        |                    THEN 1 ELSE 0 END
        |  FROM s JOIN t
        |    ON t.l_suppkey = s.l_suppkey AND t.rn = s.rn + 1),
        |fin AS (
        |  SELECT l_suppkey, MAX(rn) AS n_days FROM s GROUP BY 1)
        |SELECT s.l_suppkey, CAST(f.n_days AS BIGINT) AS n_days,
        |  s.stock AS final_stock, CAST(s.clamps AS BIGINT) AS n_clamped
        |FROM s JOIN fin f
        |  ON f.l_suppkey = s.l_suppkey AND s.rn = f.n_days
        |ORDER BY s.l_suppkey""".stripMargin,
    // q168: same desc rank, same floor-k membership, same integer
    // share; SUMs recast to BIGINT.
    "q168_top_share" ->
      """WITH spend AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY o_custkey),
        |r AS (
        |  SELECT cents,
        |    ROW_NUMBER() OVER (ORDER BY cents DESC, o_custkey) AS rn,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS n,
        |    CAST(SUM(cents) OVER () AS BIGINT) AS tot
        |  FROM spend),
        |f AS (
        |  SELECT CAST(pct AS BIGINT) AS pct, cents, tot
        |  FROM r, UNNEST([1, 5, 10, 25]) AS u(pct)
        |  WHERE rn <= GREATEST(1, (n * pct) // 100))
        |SELECT pct, COUNT(*) AS n_top,
        |  (CAST(SUM(cents) AS BIGINT) * 10000) // MAX(tot)
        |    AS share_bp
        |FROM f GROUP BY pct ORDER BY pct""".stripMargin,
    // q159: same exact-cents ranks (ROW_NUMBER under (cents, custkey)
    // — spend ties share a value so the tiebreak can't move Σi·x),
    // same integer Gini; SUMs recast to BIGINT (DuckDB widens).
    "q159_gini" ->
      """WITH spend AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY o_custkey),
        |cu AS (
        |  SELECT CAST(c.c_nationkey AS BIGINT) AS nation, c.c_custkey,
        |    COALESCE(s.cents, 0) AS cents
        |  FROM customer c LEFT JOIN spend s
        |    ON s.o_custkey = c.c_custkey),
        |r AS (
        |  SELECT nation, cents,
        |    ROW_NUMBER() OVER (PARTITION BY nation
        |      ORDER BY cents, c_custkey) AS i
        |  FROM cu),
        |a AS (
        |  SELECT nation, COUNT(*) AS n_cust,
        |    CAST(SUM(cents) AS BIGINT) AS s,
        |    CAST(SUM(i * cents) AS BIGINT) AS t
        |  FROM r GROUP BY nation)
        |SELECT nation, n_cust, CAST(s AS DOUBLE) / 100 AS total_spend,
        |  CASE WHEN s > 0
        |       THEN ((2 * t - (n_cust + 1) * s) * 10000) // (n_cust * s)
        |       ELSE CAST(0 AS BIGINT) END AS gini_bp
        |FROM a ORDER BY nation""".stripMargin,
    // q146: the Holt recursion replayed as a RECURSIVE CTE stepping
    // rn → rn+1 per event type; BIGINT `//` truncates toward zero
    // exactly like the JVM fold's long division (see holtStep — the
    // trend numerator goes negative); lₖ is written out twice inside
    // the step (SQL can't bind it) — same integer ops, same result.
    "q146_holt" ->
      s"""$holtCtes,
         |mx AS (SELECT event_type, MAX(rn) AS mr FROM t
         |       GROUP BY event_type)
         |SELECT s.event_type, CAST(mx.mr AS BIGINT) AS n_days,
         |  s.l AS level_e3, s.b AS trend_e3, s.l + s.b AS forecast_e3
         |FROM s JOIN mx
         |  ON mx.event_type = s.event_type AND s.rn = mx.mr
         |ORDER BY s.event_type""".stripMargin,
    // q166: the same state chain scored one step ahead — state at rn
    // joins the actual at rn+1, so |l + b − v| is the walk-forward
    // absolute error the JVM fold accumulates before each update.
    "q166_holt_backtest" ->
      s"""$holtCtes,
         |e AS (
         |  SELECT s.event_type, abs(s.l + s.b - t2.v) AS ae
         |  FROM s JOIN t t2
         |    ON t2.event_type = s.event_type AND t2.rn = s.rn + 1)
         |SELECT event_type, COUNT(*) AS n_pred,
         |  CAST(SUM(ae) AS BIGINT) AS sae_e3,
         |  CAST(SUM(ae) AS BIGINT) // COUNT(*) AS mae_e3
         |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q132: list_reduce has no seed parameter — prepending 0 makes the
    // first element the seed, ≡ Spark's aggregate(…, 0L, …). Integer
    // `//` and `div` agree (operands non-negative).
    "q132_ewma" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list(CAST(floor(value * 1000 + 0.5) AS BIGINT)
        |        ORDER BY ts, event_id)),
        |    (acc, v) -> (7 * acc + v) // 8) AS ewma_e3
        |FROM events WHERE value IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // q134: ties collapse before the cumulative window (unique values
    // per group ⇒ ROWS ≡ RANGE frames); 2·cw ≥ W is exact decimal.
    "q134_weighted_median" ->
      """WITH pv AS (
        |  SELECT l_returnflag, l_quantity,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
        |      AS DECIMAL(38,2)) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT l_returnflag, l_quantity,
        |    CAST(SUM(w) OVER (PARTITION BY l_returnflag
        |      ORDER BY l_quantity
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS DECIMAL(38,2)) AS cw,
        |    CAST(SUM(w) OVER (PARTITION BY l_returnflag)
        |      AS DECIMAL(38,2)) AS tw
        |  FROM pv)
        |SELECT l_returnflag, MIN(l_quantity) AS wmedian,
        |  CAST(MAX(tw) AS DOUBLE) AS total_wt
        |FROM c WHERE cw * 2 >= tw
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q101: quantile_disc matches discByRank's ceil(p·n) rank pin
    // (proven by q61); the deviation arithmetic is the identical IEEE
    // op sequence on both engines.
    "q101_mad_outliers" ->
      """WITH ev AS (
        |  SELECT event_type, value FROM events WHERE value IS NOT NULL),
        |med AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    quantile_disc(value, 0.5) AS med
        |  FROM ev GROUP BY event_type),
        |dev AS (
        |  SELECT e.event_type, m.n, m.med, abs(e.value - m.med) AS adev
        |  FROM ev e JOIN med m USING (event_type)),
        |mad AS (
        |  SELECT event_type, quantile_disc(adev, 0.5) AS mad
        |  FROM dev GROUP BY event_type)
        |SELECT d.event_type, MAX(d.n) AS n, MAX(d.med) AS med,
        |  MAX(m.mad) AS mad,
        |  CAST(SUM(CASE WHEN d.adev > 3.0 * m.mad THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM dev d JOIN mad m USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin,
    // Same exact power sums, same closed forms, same double op order.
    "q51_stats" ->
      """WITH s AS (
        |  SELECT l_returnflag, COUNT(*) AS cnt,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) *
        |             CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(18,2)) *
        |             CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) *
        |             CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, cnt,
        |  (CAST(cnt AS DOUBLE)*sxx - sx*sx) /
        |    (CAST(cnt AS DOUBLE)*(CAST(cnt AS DOUBLE) - 1.0)) AS var_qty,
        |  sqrt((CAST(cnt AS DOUBLE)*sxx - sx*sx) /
        |    (CAST(cnt AS DOUBLE)*(CAST(cnt AS DOUBLE) - 1.0))) AS std_qty,
        |  (CAST(cnt AS DOUBLE)*sxy - sx*sy) /
        |    (CAST(cnt AS DOUBLE)*(CAST(cnt AS DOUBLE) - 1.0))
        |    AS cov_qty_disc,
        |  (CAST(cnt AS DOUBLE)*sxy - sx*sy) /
        |    (sqrt(CAST(cnt AS DOUBLE)*sxx - sx*sx) *
        |     sqrt(CAST(cnt AS DOUBLE)*syy - sy*sy)) AS corr_qty_disc,
        |  (CAST(cnt AS DOUBLE)*sxy - sx*sy) /
        |    (CAST(cnt AS DOUBLE)*sxx - sx*sx) AS slope_disc_on_qty
        |FROM s ORDER BY l_returnflag""".stripMargin,
    "q55_cond_aggs" ->
      """SELECT o_orderpriority,
        |  CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big,
        |  CAST(bool_and(o_totalprice > 0) AS BIGINT) AS all_pos,
        |  CAST(bool_or(o_totalprice > 400000) AS BIGINT) AS any_huge,
        |  arg_max(o_custkey, o_orderkey) AS last_cust,
        |  arg_min(o_custkey, o_orderkey) AS first_cust
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // q90: same exact power sums, same division-free predicate, same
    // double op order; COUNT(value) matches Spark's count(col) null
    // semantics.
    "q90_value_outliers" ->
      """WITH s AS (
        |  SELECT event_type, COUNT(value) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2)) *
        |             CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sxx
        |  FROM events GROUP BY event_type)
        |SELECT e.event_type, e.event_id, e.value
        |FROM events e JOIN s USING (event_type)
        |WHERE (CAST(n AS DOUBLE) * e.value - sx) *
        |      (CAST(n AS DOUBLE) * e.value - sx) >
        |      9.0 * (CAST(n AS DOUBLE) * sxx - sx * sx)
        |ORDER BY e.event_type, e.event_id""".stripMargin,
  )
}
