package graft.operators

import graft.{Det, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanUtil.bind
import org.apache.spark.sql.types.DecimalType

/** Window-function pack (SURVEY.md §2.2 `win_*`): ranking, analytic
  * (lag/lead/first/last), and row/range frames.
  *
  * Scale notes: window evaluation shuffles once on the partition key; the
  * partition keys chosen here (nation, user, customer) have bounded
  * fan-out, so no single partition explodes at 100 TB. Running sums route
  * through decimal so frame results are order-exact vs the oracle.
  */
object Analytic {
  import Det._

  type Q = (SparkSession, String) => DataFrame

  private val winRank: Q = (s, dir) => {
    val c = Tables(s, dir, "customer")
    // rank/dense_rank tolerate ties (same rank); row_number/ntile need the
    // total order to be deterministic.
    val byBal = Window.partitionBy("c_nationkey").orderBy(col("c_acctbal").desc)
    val total = Window.partitionBy("c_nationkey")
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    c.select(
        col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
        rank().over(byBal).as("rk"),
        dense_rank().over(byBal).as("drk"),
        row_number().over(total).as("rn"),
        ntile(4).over(total).as("quartile"))
      .orderBy("c_nationkey", "rn")
  }

  private val winAnalytic: Q = (s, dir) => {
    val e = Tables(s, dir, "events")
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    e.select(
        col("user_id"), col("event_id"), col("value"),
        lag("value", 1).over(w).as("prev_v"),
        lead("value", 1).over(w).as("next_v"),
        first("value").over(w.rowsBetween(Window.unboundedPreceding, 0)).as("first_v"),
        last("value").over(whole).as("final_v"))
      .orderBy("user_id", "event_id")
  }

  /** nth_value over running and whole-partition frames — the remaining
    * offset analytic beyond lag/lead/first/last. Values pass through
    * unchanged (no float arithmetic), so hash-match is exact.
    */
  private val winNthValue: Q = (s, dir) => {
    val e = Tables(s, dir, "events")
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    e.select(
        col("user_id"), col("event_id"), col("value"),
        nth_value(col("value"), 3).over(whole).as("third_v"),
        nth_value(col("value"), 2)
          .over(w.rowsBetween(Window.unboundedPreceding, 0)).as("second_so_far"))
      .orderBy("user_id", "event_id")
  }

  private val winFrame: Q = (s, dir) => {
    val o = Tables(s, dir, "orders")
    val dec = col("o_totalprice").cast(DecimalType(25, 6))
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    val days = datediff(col("o_orderdate").cast("date"), lit("1990-01-01").cast("date"))
    val byDays = Window.partitionBy("o_custkey").orderBy(days)
    o.select(
        col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("od"),
        sum(dec).over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast("double").as("running_total"),
        count(lit(1)).over(w.rowsBetween(-2, 0)).as("cnt3"),
        sum(dec).over(w.rowsBetween(-2, 0)).cast("double").as("sum3"),
        sum(dec).over(byDays.rangeBetween(-30, 0))
          .cast("double").as("sum_30d"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** INTERVAL range frame over event time: per-user trailing-1-hour
    * event count and exact-decimal value sum. Range frames on timestamps
    * are the streaming-adjacent windowing shape (trailing-window
    * features) — distinct from the row-count and integer-range frames
    * win_frame covers.
    */
  private val winRangeInterval: Q = (s, dir) =>
    bind(s, """SELECT event_id, user_id,
      |  date_format(ts, 'yyyy-MM-dd HH:mm:ss') AS t,
      |  COUNT(*) OVER w AS n_1h,
      |  CAST(SUM(CAST(value AS DECIMAL(25,6))) OVER w AS DOUBLE) AS sum_1h
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts
      |             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin)("events" -> Tables(s, dir, "events"))

  /** Deterministic mode: most frequent value per group with an explicit
    * (count DESC, value ASC) tie-break — built-in mode() is free to pick
    * any maximal value, which can never hash-match another engine.
    */
  private val aggModeManual: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_quantity")
      .agg(count(lit(1)).as("n"))
    counts
      .withColumn("rn", row_number().over(Window.partitionBy("l_returnflag")
        .orderBy(col("n").desc, col("l_quantity").asc)))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_qty"), col("n").as("mode_n"))
      .orderBy("l_returnflag")
  }

  /** Distribution window functions: percent_rank and cume_dist are
    * (k-1)/(n-1) and k/n rational values — exact in both engines.
    */
  private val winDistribution: Q = (s, dir) => {
    val byBal = Window.partitionBy("c_nationkey").orderBy(col("c_acctbal"))
    Tables(s, dir, "customer")
      .select(
        col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
        percent_rank().over(byBal).as("pr"),
        cume_dist().over(byBal).as("cd"))
      .orderBy("c_nationkey", "c_custkey")
  }

  /** DISTINCT window aggregate — a genuine Spark surface gap: Spark
    * rejects `COUNT(DISTINCT x) OVER w` outright, so the idiomatic
    * workaround is `size(collect_set(x) OVER w)`, which keeps the distinct
    * state inside the window operator. State per row is bounded by the
    * DISTINCT DOMAIN (event types here — a handful), not the frame length,
    * so it survives wide frames at 100 TB. The oracle is DuckDB's native
    * COUNT(DISTINCT) OVER, pinning that the workaround is semantically
    * exact.
    */
  private val winCountDistinct: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables(s, dir, "events")
      .select(
        col("user_id"), col("event_id"),
        size(collect_set(col("event_type")).over(running)).cast("bigint")
          .as("types_so_far"),
        size(collect_set(col("event_type")).over(whole)).cast("bigint")
          .as("types_total"))
      .orderBy("user_id", "event_id")
  }

  /** Custom TypedImperativeAggregate as a WINDOW function: running top-3
    * (price, orderkey) per customer via the bounded TopKByValue heap —
    * the composition that lets one aggregate implementation serve both
    * groupBy (`topk_per_group_agg`) and windowed evaluation. The growing
    * ROWS frame feeds the heap one row per step (no per-frame re-sort),
    * so state is O(k) per partition however long the history gets — at
    * 100 TB a running "best k so far" per key costs the same as a running
    * sum. Keys pack as price-cents·2^24 + (2^24−1 − orderkey) in the
    * oracle so DuckDB's list sort reproduces the heap's (value DESC,
    * key ASC) order exactly (the −1 keeps orderkey 0 inside the field);
    * prices are exact cents so double vs cents ordering agree.
    * SCALE BOUND: the packing is only injective while o_orderkey < 2^24
    * (TPC-H holds this up to SF≈3; RoundFiveOpsSpec fails loudly past
    * it) — at larger SF widen the packed field, the heap itself is fine.
    */
  private val winTopkAgg: Q = (s, dir) => {
    import org.apache.spark.sql.graft.TopKAgg.topk_by_value
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        topk_by_value(col("o_totalprice"), col("o_orderkey"), 3).over(w).as("tk"))
      .select(col("o_custkey"), col("o_orderkey"),
        expr("array_join(transform(tk, x -> cast(x.key as string)), ',')")
          .as("top3_keys"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** IGNORE NULLS offset/positional analytics — the SQL surface sparse
    * time-series need ("last known reading"): lead/lag/last_value skip
    * NULL rows instead of returning them. NULLs are injected
    * deterministically (every 5th event) so the skipping behavior is
    * actually exercised; `last_nonnull_so_far` is the classic
    * gap-fill/LOCF (last observation carried forward) primitive. Same
    * single user_id exchange as every other events window.
    */
  private val winIgnoreNulls: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(s, dir, "events")
      .withColumn("v", when(col("event_id") % 5 === 0, lit(null)).otherwise(col("value")))
      .select(
        col("user_id"), col("event_id"), col("v"),
        lag(col("v"), 1, null, ignoreNulls = true).over(w).as("prev_nonnull"),
        lead(col("v"), 1, null, ignoreNulls = true).over(w).as("next_nonnull"),
        last(col("v"), ignoreNulls = true).over(running).as("last_nonnull_so_far"))
      .orderBy("user_id", "event_id")
  }

  /** Robust per-group anomaly detection: flag events whose deviation
    * from their user's median exceeds 3× the user's MAD (median absolute
    * deviation) — the outlier rule that, unlike mean/stddev z-scores, a
    * single extreme value cannot mask. Two exact-percentile aggregations
    * and two joins, ALL keyed on user_id, so at 100 TB the data shuffles
    * on one key and per-user percentile state is bounded by that user's
    * rows (swap in approx_percentile's mergeable summaries if per-key
    * cardinality is unbounded). The flag compares round6'd values so an
    * interpolation ulp can't flip row membership between engines.
    */
  private val tsAnomalyMad: Q = (s, dir) => {
    val e = Tables(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("value"))
    val med = e.groupBy("user_id").agg(expr("percentile(value, 0.5)").as("med"))
    val d = e.join(med, "user_id")
      .withColumn("dev", abs(col("value") - col("med")))
    val mad = d.groupBy(col("user_id").as("mu"))
      .agg(expr("percentile(dev, 0.5)").as("mad"))
    d.join(mad, col("user_id") === col("mu"))
      .filter(round(col("dev"), 6) > round(col("mad") * 3, 6))
      .select(col("user_id"), col("event_id"),
        round(col("value"), 6).as("value"), round(col("med"), 6).as("med"),
        round(col("mad"), 6).as("mad"),
        round(col("dev") / col("mad"), 6).as("mad_ratio"))
      .orderBy("event_id")
  }

  /** Recency-weighted moving average with dyadic weights (α = 1/2) over a
    * bounded 8-row frame — the smoothing primitive behind rate monitors
    * and trend features, made bit-identical cross-engine by staying in
    * integer arithmetic: values become exact cents, each frame value is
    * weighted 2^i (i = frame position, current row heaviest), and the
    * weighted sum + the 2^n−1 normalizer are BIGINTs. The ONLY floating
    * op is the final single division of two exactly-represented values,
    * which IEEE 754 rounds identically everywhere. A naive
    * `sum(x·αᵏ)` of doubles is merge-order-dependent; this is not. One
    * user_id-keyed exchange, O(frame) state per row — the same shape as
    * every other events window, embarrassingly parallel at 100 TB.
    */
  private val tsEwmaDyadic: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(-7, Window.currentRow)
    Tables(s, dir, "events")
      .withColumn("cents", expr("CAST(ROUND(value * 100) AS BIGINT)"))
      .withColumn("hist", collect_list(col("cents")).over(w))
      .select(col("user_id"), col("event_id"),
        expr("aggregate(transform(hist, (x, i) -> x * shiftleft(CAST(1 AS BIGINT), i)), CAST(0 AS BIGINT), (a, x) -> a + x)")
          .as("num_scaled"),
        expr("shiftleft(CAST(1 AS BIGINT), size(hist)) - 1").as("den_scaled"))
      .withColumn("ewma",
        col("num_scaled").cast("double") / (col("den_scaled") * lit(100L)).cast("double"))
      .orderBy("user_id", "event_id")
  }

  /** Spearman rank correlation per group from total-order ranks: exact
    * duplicate rows are collapsed (the synthetic lineitem has no primary
    * key), then both variables rank by a 4-column order that is total on
    * the distinct rows — tie-free, so both engines reproduce it — then
    * ρ = 1 − 6·Σd²/(n(n²−1)) evaluates in BIGINT up to the final
    * division (6Σd² ≤ 2n³ fits comfortably at any TPC-H SF this repo
    * pins). The two row_number windows share one l_returnflag exchange;
    * the d² sum partial-aggregates map-side, so per 100 TB group only
    * (n, Σd²) pairs move after the single shuffle. Rank-based
    * correlation is the outlier-robust complement to agg_regression's
    * Pearson moments.
    */
  private val aggSpearman: Q = (s, dir) => {
    // the synthetic lineitem is NOT keyed by (orderkey, linenumber) —
    // exact duplicate rows exist, and row_number over a non-total order
    // is engine-arbitrary; collapsing exact duplicates makes the
    // 4-column orders total, so the ranks are reproducible
    val wq = Window.partitionBy("l_returnflag")
      .orderBy(col("l_quantity"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"))
    val wp = Window.partitionBy("l_returnflag")
      .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"))
    Tables(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity"), col("l_orderkey"),
        col("l_linenumber"), col("l_extendedprice"))
      .distinct()
      .select(col("l_returnflag"),
        row_number().over(wq).cast("bigint").as("rq"),
        row_number().over(wp).cast("bigint").as("rp"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum((col("rq") - col("rp")) * (col("rq") - col("rp"))).as("s_d2"))
      .select(col("l_returnflag"), col("n"), col("s_d2"),
        (lit(1.0) - (col("s_d2") * 6L).cast("double") /
          (col("n") * (col("n") * col("n") - 1L)).cast("double")).as("rho"))
      .orderBy("l_returnflag")
  }

  /** Clamped-at-zero running balance (Lindley's recursion) — the
    * inventory/credit-balance fold b_t = max(0, b_{t-1} + x_t) that looks
    * inherently sequential, made declarative via the closed form
    * b_t = S_t − min(0, min_{k≤t} S_k): one cumulative sum and one
    * running minimum over the same user_id window — one exchange, no
    * per-row recursion, so it runs at full parallelism on 100 TB of
    * ledger. The ORACLE deliberately computes the SEQUENTIAL fold (a
    * recursive CTE stepping row by row), so the hash match is a
    * cross-engine proof of the identity, not a replay of the same
    * algebra. Deltas are exact signed cents; every value stays integer.
    */
  private val winClampedCumsum: Q = (s, dir) => {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val running = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(s, dir, "events")
      .withColumn("delta", expr(
        """CASE WHEN event_id % 3 = 0 THEN -CAST(round(value * 100) AS BIGINT)
          |ELSE CAST(round(value * 100) AS BIGINT) END""".stripMargin))
      .withColumn("s", sum(col("delta")).over(running))
      .withColumn("bal",
        col("s") - least(lit(0L), min(col("s")).over(running)))
      .select(col("user_id"), col("event_id"), col("delta"), col("bal"))
      .orderBy("user_id", "event_id")
  }

  /** Rolling regression slope over the trailing 8 events per user — the
    * windowed trend detector (is this user's spend accelerating?). The
    * regressor is the ROW INDEX within the frame-able history (exact
    * integers) and the response exact cents, so all four rolling sums
    * (Σx, Σy, Σxy, Σx²) are pure BIGINT window aggregates — order-free —
    * and the slope n·Σxy−ΣxΣy / n·Σx²−(Σx)² is integer until one final
    * IEEE division. Same single user_id exchange as every events
    * window; contrast agg_regression (whole-group regr_* from decimal
    * moments) — this is its frame-bounded streaming sibling.
    */
  private val winRollingRegr: Q = (s, dir) => {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val frame = byUser.rowsBetween(-7, Window.currentRow)
    Tables(s, dir, "events")
      .withColumn("x", row_number().over(byUser).cast("long"))
      .withColumn("y", expr("CAST(round(value * 100) AS BIGINT)"))
      .withColumn("n", count(lit(1)).over(frame))
      .withColumn("sx", sum(col("x")).over(frame))
      .withColumn("sy", sum(col("y")).over(frame))
      .withColumn("sxy", sum(col("x") * col("y")).over(frame))
      .withColumn("sxx", sum(col("x") * col("x")).over(frame))
      .select(col("user_id"), col("event_id"), col("n"),
        when(col("n") > 1,
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("slope_cents_per_step"))
      .orderBy("user_id", "event_id")
  }

  /** Share-of-parent rollup — the BI staple "what fraction of its
    * region's revenue does each nation carry": exact-cents revenue per
    * (region, nation) from the dimension-joined fact table (both dims
    * broadcast), then ONE region-partitioned window sums the parent
    * total in place — no second aggregation pass, no self-join of the
    * rollup. The share is a single int/int IEEE division. At 100 TB
    * the fact scan is the only full-data pass; the window runs on
    * |nations| rows.
    */
  private val winShareOfParent: Q = (s, dir) => {
    val o = graft.Tables(s, dir, "orders")
    val c = graft.Tables(s, dir, "customer")
    val n = graft.Tables(s, dir, "nation")
    val r = graft.Tables(s, dir, "region")
    val base = o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(expr("cast(round(o_totalprice * 100, 0) as bigint)")).as("nation_cents"))
    base
      .withColumn("region_cents",
        sum(col("nation_cents")).over(Window.partitionBy("r_name")))
      .withColumn("share",
        round(col("nation_cents").cast("double") / col("region_cents"), 6))
      .select("r_name", "n_name", "nation_cents", "region_cents", "share")
      .orderBy("r_name", "n_name")
  }

  /** Holt double-exponential smoothing (level + trend), one-step-ahead
    * backtest on the daily event-count series — the trend-aware
    * counterpart of `ts_forecast_snaive` and the next rung of the
    * forecasting-baseline ladder every pipeline must beat. The
    * recursion is inherently sequential, so exactness does the work
    * floats cannot: α = 1/2 and β = 1/4 are dyadic, state is BIGINT in
    * 64ths (l ← tdiv2(64·y + l + b); b ← tdiv4(l′ − l + 3b); forecast
    * f = l + b BEFORE observing the day), and division is a SIGN-SAFE
    * truncation written out explicitly in both engines because Spark's
    * `div` truncates toward zero while DuckDB's `//` floors — they
    * disagree exactly when the trend goes negative. The fold runs over
    * the array_sort-collected day series in ONE `aggregate` expression
    * (the day-grain bounded-series discipline: a few thousand struct
    * rows, same class as ts_stl/ts_autocorr); the oracle replays it as
    * a linear recursive CTE. Output per scored day: exact integers
    * only. At 100 TB the daily rollup is the distributed part; the
    * recursion state is 16 bytes however long the history.
    */
  private val tsHoltLinear: Q = (s, dir) => {
    val daily = Tables(s, dir, "events")
      .groupBy(date_trunc("day", col("ts")).cast("date").as("d"))
      .agg(count(lit(1)).as("y"))
    daily.agg(expr("array_sort(collect_list(struct(d, y)))").as("sr"))
      .select(expr(
        """explode(aggregate(
          |  sr,
          |  struct(CAST(NULL AS BIGINT) AS l, CAST(0 AS BIGINT) AS b,
          |    CAST(array() AS ARRAY<STRUCT<d: DATE, y: BIGINT, f: BIGINT, e: BIGINT>>) AS out),
          |  (acc, x) -> CASE WHEN acc.l IS NULL
          |    THEN struct(x.y * 64L AS l, CAST(0 AS BIGINT) AS b, acc.out AS out)
          |    ELSE struct(
          |      CASE WHEN (x.y * 64L + acc.l + acc.b) >= 0
          |        THEN (x.y * 64L + acc.l + acc.b) div 2
          |        ELSE -((-(x.y * 64L + acc.l + acc.b)) div 2) END AS l,
          |      CASE WHEN ((CASE WHEN (x.y * 64L + acc.l + acc.b) >= 0
          |            THEN (x.y * 64L + acc.l + acc.b) div 2
          |            ELSE -((-(x.y * 64L + acc.l + acc.b)) div 2) END) - acc.l + 3L * acc.b) >= 0
          |        THEN ((CASE WHEN (x.y * 64L + acc.l + acc.b) >= 0
          |            THEN (x.y * 64L + acc.l + acc.b) div 2
          |            ELSE -((-(x.y * 64L + acc.l + acc.b)) div 2) END) - acc.l + 3L * acc.b) div 4
          |        ELSE -((-((CASE WHEN (x.y * 64L + acc.l + acc.b) >= 0
          |            THEN (x.y * 64L + acc.l + acc.b) div 2
          |            ELSE -((-(x.y * 64L + acc.l + acc.b)) div 2) END) - acc.l + 3L * acc.b)) div 4) END AS b,
          |      concat(acc.out, array(struct(x.d AS d, x.y AS y,
          |        (acc.l + acc.b) AS f,
          |        abs(x.y * 64L - (acc.l + acc.b)) AS e))) AS out)
          |  END,
          |  acc -> acc.out)) AS r""".stripMargin))
      .select(col("r.d").as("d"), col("r.y").as("y"),
        col("r.f").as("forecast64"), col("r.e").as("abs_err64"))
      .orderBy("d")
  }

  /** Holt–Winters additive seasonal smoothing (level + trend + 7-day
    * seasonality), one-step-ahead backtest — the top rung of the
    * forecasting-baseline ladder ([[tsHoltLinear]] without seasonality,
    * ts_forecast_snaive without smoothing). Same exactness scheme:
    * dyadic α = 1/2, β = 1/4, γ = 1/2 on BIGINT state in 64ths with the
    * sign-safe truncating division (see [[tsHoltLinear]] for the
    * div-vs-floor engine trap), seasonal index = epoch-day mod 7 (both
    * engines compute calendar-free integer day numbers — dayofweek()
    * bases differ between engines). The fold carries a 7-slot BIGINT
    * seasonal array updated in place per step; seasonal terms start at
    * 0 and LEARN from the series (no initialization heuristic to
    * replicate). Oracle: the same recursion as a linear recursive CTE
    * carrying a LIST<BIGINT> column. Forecast f = l + b + s_dow BEFORE
    * observing the day; output is exact integers only.
    */
  private val tsHoltWinters: Q = (s, dir) => {
    def td(e: String, n: Int) =
      s"(CASE WHEN $e >= 0 THEN $e div $n ELSE -((-($e)) div $n) END)"
    val idx = "(datediff(x.d, DATE '1970-01-01') % 7)"
    val si = s"element_at(acc.s, $idx + 1)"
    val t1 = s"(x.y * 64L - $si + acc.l + acc.b)"
    val lp = td(t1, 2)
    val t2 = s"($lp - acc.l + 3L * acc.b)"
    val bp = td(t2, 4)
    val t3 = s"(x.y * 64L - $lp + $si)"
    val sp = td(t3, 2)
    val f = s"(acc.l + acc.b + $si)"
    val daily = Tables(s, dir, "events")
      .groupBy(date_trunc("day", col("ts")).cast("date").as("d"))
      .agg(count(lit(1)).as("y"))
    daily.agg(expr("array_sort(collect_list(struct(d, y)))").as("sr"))
      .select(expr(
        s"""explode(aggregate(
           |  sr,
           |  struct(CAST(NULL AS BIGINT) AS l, CAST(0 AS BIGINT) AS b,
           |    array_repeat(CAST(0 AS BIGINT), 7) AS s,
           |    CAST(array() AS ARRAY<STRUCT<d: DATE, y: BIGINT, f: BIGINT, e: BIGINT>>) AS out),
           |  (acc, x) -> CASE WHEN acc.l IS NULL
           |    THEN struct(x.y * 64L AS l, CAST(0 AS BIGINT) AS b, acc.s AS s, acc.out AS out)
           |    ELSE struct(
           |      $lp AS l,
           |      $bp AS b,
           |      transform(acc.s, (e, i) -> IF(i = $idx, $sp, e)) AS s,
           |      concat(acc.out, array(struct(x.d AS d, x.y AS y,
           |        $f AS f, abs(x.y * 64L - $f) AS e))) AS out)
           |  END,
           |  acc -> acc.out)) AS r""".stripMargin))
      .select(col("r.d").as("d"), col("r.y").as("y"),
        col("r.f").as("forecast64"), col("r.e").as("abs_err64"))
      .orderBy("d")
  }

  val queries: Map[String, Q] = Map(
    "ts_holt_linear" -> tsHoltLinear,
    "ts_holt_winters" -> tsHoltWinters,
    "win_share_of_parent" -> winShareOfParent,
    "win_rolling_regr" -> winRollingRegr,
    "win_clamped_cumsum" -> winClampedCumsum,
    "ts_ewma_dyadic" -> tsEwmaDyadic,
    "agg_spearman" -> aggSpearman,
    "ts_anomaly_mad" -> tsAnomalyMad,
    "win_rank" -> winRank,
    "win_analytic" -> winAnalytic,
    "win_nth_value" -> winNthValue,
    "win_frame" -> winFrame,
    "win_distribution" -> winDistribution,
    "win_range_interval" -> winRangeInterval,
    "agg_mode_manual" -> aggModeManual,
    "win_count_distinct" -> winCountDistinct,
    "win_topk_agg" -> winTopkAgg,
    "win_ignore_nulls" -> winIgnoreNulls,
  )

  val oracles: Map[String, String] = Map(
    // linear recursive CTE replaying the dyadic Holt fold step by step;
    // the sign-safe truncating division is written out because DuckDB's
    // // floors where Spark's div truncates
    "ts_holt_linear" ->
      """WITH RECURSIVE daily AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |idx AS (SELECT d, y, row_number() OVER (ORDER BY d) AS rn FROM daily),
        |hw(rn, l, b, d, y, f, e) AS (
        |  SELECT rn, y * 64, CAST(0 AS BIGINT), d, y,
        |    CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) FROM idx WHERE rn = 1
        |  UNION ALL
        |  SELECT rn, lp,
        |    CASE WHEN (lp - l0 + 3 * b0) >= 0 THEN (lp - l0 + 3 * b0) // 4
        |         ELSE -((-(lp - l0 + 3 * b0)) // 4) END,
        |    d, y, f, e
        |  FROM (
        |    SELECT i.rn,
        |      CASE WHEN (i.y * 64 + hw.l + hw.b) >= 0 THEN (i.y * 64 + hw.l + hw.b) // 2
        |           ELSE -((-(i.y * 64 + hw.l + hw.b)) // 2) END AS lp,
        |      hw.l AS l0, hw.b AS b0, i.d, i.y,
        |      hw.l + hw.b AS f, abs(i.y * 64 - (hw.l + hw.b)) AS e
        |    FROM hw JOIN idx i ON i.rn = hw.rn + 1))
        |SELECT d, y, CAST(f AS BIGINT) AS forecast64, CAST(e AS BIGINT) AS abs_err64
        |FROM hw WHERE rn >= 2 ORDER BY d""".stripMargin,
    // the Holt–Winters fold as a linear recursive CTE carrying the
    // 7-slot seasonal LIST; nested subqueries stage si/f, then lp, then
    // the bp/seasonal updates (SQL aliases cannot reference siblings)
    "ts_holt_winters" -> {
      def fd(e: String, n: Int) =
        s"(CASE WHEN $e >= 0 THEN ($e) // $n ELSE -((-($e)) // $n) END)"
      s"""WITH RECURSIVE daily AS (
         |  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS y
         |  FROM events GROUP BY 1),
         |idx AS (SELECT d, y, row_number() OVER (ORDER BY d) AS rn FROM daily),
         |hw(rn, l, b, sarr, d, y, f, e) AS (
         |  SELECT rn, y * 64, CAST(0 AS BIGINT),
         |    list_transform(range(7), i -> CAST(0 AS BIGINT)), d, y,
         |    CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
         |  FROM idx WHERE rn = 1
         |  UNION ALL
         |  SELECT rn, lp, ${fd("lp - l0 + 3 * b0", 4)},
         |    list_transform(range(7), i ->
         |      CASE WHEN i = di THEN ${fd("y * 64 - lp + si", 2)} ELSE sarr0[i + 1] END),
         |    d, y, f, e
         |  FROM (
         |    SELECT rn, d, y, di, si, l0, b0, sarr0, f, e,
         |      ${fd("y * 64 - si + l0 + b0", 2)} AS lp
         |    FROM (
         |      SELECT i.rn, i.d, i.y,
         |        ((i.d - DATE '1970-01-01') % 7) AS di,
         |        hw.sarr[((i.d - DATE '1970-01-01') % 7) + 1] AS si,
         |        hw.l AS l0, hw.b AS b0, hw.sarr AS sarr0,
         |        hw.l + hw.b + hw.sarr[((i.d - DATE '1970-01-01') % 7) + 1] AS f,
         |        abs(i.y * 64 - (hw.l + hw.b + hw.sarr[((i.d - DATE '1970-01-01') % 7) + 1])) AS e
         |      FROM hw JOIN idx i ON i.rn = hw.rn + 1)))
         |SELECT d, y, CAST(f AS BIGINT) AS forecast64, CAST(e AS BIGINT) AS abs_err64
         |FROM hw WHERE rn >= 2 ORDER BY d""".stripMargin
    },
    "win_share_of_parent" ->
      """WITH b AS (
        |  SELECT r_name, n_name,
        |    CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS nation_cents
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2),
        |w AS (SELECT *, CAST(SUM(nation_cents) OVER (PARTITION BY r_name) AS BIGINT) AS region_cents FROM b)
        |SELECT r_name, n_name, nation_cents, region_cents,
        |  round(CAST(nation_cents AS DOUBLE) / region_cents, 6) AS share
        |FROM w ORDER BY r_name, n_name""".stripMargin,
    "win_rolling_regr" ->
      """WITH e AS (
        |  SELECT user_id, event_id,
        |    CAST(row_number() OVER w AS BIGINT) AS x,
        |    CAST(round(value * 100) AS BIGINT) AS y
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |r AS (SELECT user_id, event_id,
        |    CAST(COUNT(*) OVER f AS BIGINT) AS n,
        |    CAST(SUM(x) OVER f AS BIGINT) AS sx, CAST(SUM(y) OVER f AS BIGINT) AS sy,
        |    CAST(SUM(x * y) OVER f AS BIGINT) AS sxy,
        |    CAST(SUM(x * x) OVER f AS BIGINT) AS sxx
        |  FROM e WINDOW f AS (PARTITION BY user_id ORDER BY x
        |                      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id, n,
        |  CASE WHEN n > 1 THEN CAST(n * sxy - sx * sy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE) END AS slope_cents_per_step
        |FROM r ORDER BY user_id, event_id""".stripMargin,
    // the SEQUENTIAL fold — hash-matching it proves the Lindley closed form
    "win_clamped_cumsum" ->
      """WITH RECURSIVE e AS (
        |  SELECT user_id, event_id,
        |    CASE WHEN event_id % 3 = 0 THEN -CAST(round(value * 100) AS BIGINT)
        |         ELSE CAST(round(value * 100) AS BIGINT) END AS delta,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |f(user_id, rn, event_id, delta, bal) AS (
        |  SELECT user_id, rn, event_id, delta,
        |    greatest(CAST(0 AS BIGINT), delta) FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.rn, e.event_id, e.delta,
        |    greatest(CAST(0 AS BIGINT), f.bal + e.delta)
        |  FROM f JOIN e ON e.user_id = f.user_id AND e.rn = f.rn + 1)
        |SELECT user_id, event_id, delta, bal FROM f
        |ORDER BY user_id, event_id""".stripMargin,
    // same integer arithmetic; DuckDB lambda index is 1-based, Spark's 0-based
    "ts_ewma_dyadic" ->
      """WITH h AS (
        |  SELECT user_id, event_id,
        |    list(CAST(round(value * 100) AS BIGINT))
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS hist
        |  FROM events)
        |SELECT user_id, event_id,
        |  CAST(list_sum(list_transform(hist,
        |    (x, i) -> x * (CAST(1 AS BIGINT) << (i - 1)))) AS BIGINT) AS num_scaled,
        |  (CAST(1 AS BIGINT) << len(hist)) - 1 AS den_scaled,
        |  CAST(CAST(list_sum(list_transform(hist,
        |    (x, i) -> x * (CAST(1 AS BIGINT) << (i - 1)))) AS BIGINT) AS DOUBLE)
        |    / CAST(((CAST(1 AS BIGINT) << len(hist)) - 1) * 100 AS DOUBLE) AS ewma
        |FROM h ORDER BY user_id, event_id""".stripMargin,
    "agg_spearman" ->
      """WITH d AS (
        |  SELECT DISTINCT l_returnflag, l_quantity, l_orderkey, l_linenumber,
        |    l_extendedprice
        |  FROM lineitem),
        |r AS (
        |  SELECT l_returnflag,
        |    CAST(row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_quantity, l_orderkey, l_linenumber, l_extendedprice)
        |      AS BIGINT) AS rq,
        |    CAST(row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice, l_orderkey, l_linenumber, l_quantity)
        |      AS BIGINT) AS rp
        |  FROM d)
        |SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM((rq - rp) * (rq - rp)) AS BIGINT) AS s_d2,
        |  1.0 - CAST(CAST(SUM((rq - rp) * (rq - rp)) AS BIGINT) * 6 AS DOUBLE)
        |    / CAST(COUNT(*) * (COUNT(*) * COUNT(*) - 1) AS DOUBLE) AS rho
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "ts_anomaly_mad" ->
      """WITH med AS (SELECT user_id, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY 1),
        |d AS (SELECT e.user_id, e.event_id, e.value, med.med,
        |    abs(e.value - med.med) AS dev
        |  FROM events e JOIN med USING (user_id)),
        |mad AS (SELECT user_id, quantile_cont(dev, 0.5) AS mad FROM d GROUP BY 1)
        |SELECT d.user_id, d.event_id, round(d.value, 6) AS value,
        |  round(d.med, 6) AS med, round(mad.mad, 6) AS mad,
        |  round(d.dev / mad.mad, 6) AS mad_ratio
        |FROM d JOIN mad USING (user_id)
        |WHERE round(d.dev, 6) > round(mad.mad * 3, 6)
        |ORDER BY event_id""".stripMargin,
    "win_ignore_nulls" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
        |  FROM events)
        |SELECT user_id, event_id, v,
        |  lag(v, 1 IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS prev_nonnull,
        |  lead(v, 1 IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS next_nonnull,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_nonnull_so_far
        |FROM e ORDER BY user_id, event_id""".stripMargin,
    "win_topk_agg" ->
      """WITH p AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) * 16777216
        |      + (16777215 - o_orderkey) AS packed
        |  FROM orders)
        |SELECT o_custkey, o_orderkey,
        |  array_to_string(list_transform(
        |    list_slice(list_reverse_sort(
        |      list(packed) OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate, o_orderkey
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 1, 3),
        |    x -> CAST(16777215 - (x % 16777216) AS VARCHAR)), ',') AS top3_keys
        |FROM p ORDER BY o_custkey, o_orderkey""".stripMargin,
    "win_count_distinct" ->
      """SELECT user_id, event_id,
        | COUNT(DISTINCT event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS types_so_far,
        | COUNT(DISTINCT event_type) OVER (PARTITION BY user_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS types_total
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "win_range_interval" ->
      """SELECT event_id, user_id,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS t,
        |  COUNT(*) OVER w AS n_1h,
        |  CAST(SUM(CAST(value AS DECIMAL(25,6))) OVER w AS DOUBLE) AS sum_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "agg_mode_manual" ->
      """SELECT l_returnflag, l_quantity AS mode_qty, n AS mode_n FROM (
        |  SELECT l_returnflag, l_quantity, COUNT(*) AS n,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY COUNT(*) DESC, l_quantity ASC) AS rn
        |  FROM lineitem GROUP BY l_returnflag, l_quantity)
        |WHERE rn = 1 ORDER BY l_returnflag""".stripMargin,
    "win_distribution" ->
      """SELECT c_nationkey, c_custkey, c_acctbal,
        | percent_rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal) AS pr,
        | cume_dist() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal) AS cd
        |FROM customer ORDER BY c_nationkey, c_custkey""".stripMargin,
    "win_rank" ->
      """SELECT c_nationkey, c_custkey, c_acctbal,
        | rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS rk,
        | dense_rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS drk,
        | row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn,
        | ntile(4) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS quartile
        |FROM customer ORDER BY c_nationkey, rn""".stripMargin,
    "win_analytic" ->
      """SELECT user_id, event_id, value,
        | lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_v,
        | lead(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_v,
        | first_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_v,
        | last_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS final_v
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "win_nth_value" ->
      """SELECT user_id, event_id, value,
        | nth_value(value, 3) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS third_v,
        | nth_value(value, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_so_far
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "win_frame" ->
      """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS od,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) OVER (
        |   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
        | COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS cnt3,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) OVER (
        |   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS sum3,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) OVER (
        |   PARTITION BY o_custkey
        |   ORDER BY datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))
        |   RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) AS sum_30d
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
  )
}
