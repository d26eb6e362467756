package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Dataflow-pipeline operators: CDC upsert (MERGE-style apply-changes),
  * SCD2 history, snapshot diff, event-funnel conversion, sessionization,
  * and cohort retention — the composed shapes incremental data-platform
  * jobs run constantly.
  *
  * Scale notes:
  *  - upsert: one full-outer join keyed on the primary key. On a real
  *    cluster the base table would be bucketed by key so the periodic
  *    merge is shuffle-free on the (large) base side; the changes side is
  *    small and shuffles cheaply. Coalesce-per-column implements
  *    "update wins, insert appends, untouched rows pass through".
  *  - funnel: per-user min-timestamp aggregations chained with strictly-
  *    after joins. All three stages shuffle by user_id only once each,
  *    carrying one timestamp per user — state is O(users), not O(events).
  */
object Flow {

  type Q = (SparkSession, String) => DataFrame

  /** Deterministic synthetic change set: price bump + status 'U' for every
    * 7th order (updates), plus a shifted-key copy of every 13th order
    * (inserts).
    */
  private def changes(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
    val updates = o.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), col("o_custkey"), lit("U").as("o_orderstatus"),
        (col("o_totalprice") * 1.05).as("o_totalprice"))
    val inserts = o.filter(col("o_orderkey") % 13 === 0)
      .select((col("o_orderkey") + 10000000L).as("o_orderkey"), col("o_custkey"),
        lit("N").as("o_orderstatus"), col("o_totalprice"))
    updates.unionAll(inserts)
  }

  /** MERGE emulation: base FULL OUTER changes on the key; change columns
    * win via coalesce. Result is the post-merge table.
    */
  private val cdcUpsert: Q = (s, dir) => {
    val b = Tables(s, dir, "orders").select(
      col("o_orderkey").as("b_key"), col("o_custkey").as("b_cust"),
      col("o_orderstatus").as("b_st"), col("o_totalprice").as("b_price"))
    val c = changes(s, dir).select(
      col("o_orderkey").as("c_key"), col("o_custkey").as("c_cust"),
      col("o_orderstatus").as("c_st"), col("o_totalprice").as("c_price"))
    b.join(c, col("b_key") === col("c_key"), "full_outer")
      .select(
        coalesce(col("c_key"), col("b_key")).as("o_orderkey"),
        coalesce(col("c_cust"), col("b_cust")).as("o_custkey"),
        coalesce(col("c_st"), col("b_st")).as("o_orderstatus"),
        coalesce(col("c_price"), col("b_price")).as("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** view → click → purchase funnel with strict event-order semantics:
    * a user converts at stage N only with an event strictly after their
    * stage-N-1 conversion time. Single summary row; ratios are single
    * int/int→double divisions (bit-identical across engines).
    */
  private val funnel: Q = (s, dir) => {
    val e = Tables(s, dir, "events")
    def stage(of: DataFrame, evt: String, after: Option[DataFrame]): DataFrame = {
      val base = of.filter(col("event_type") === evt)
      val scoped = after match {
        case Some(prev) => base.join(prev, "user_id").filter(col("ts") > col("t_prev"))
        case None => base
      }
      scoped.groupBy("user_id").agg(min(col("ts")).as("t_prev"))
    }
    val v = stage(e, "view", None)
    val c = stage(e, "click", Some(v))
    val p = stage(e, "purchase", Some(c))
    val counts = v.agg(count(lit(1)).as("n_view"))
      .crossJoin(c.agg(count(lit(1)).as("n_click")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchase")))
    counts.select(
      col("n_view"), col("n_click"), col("n_purchase"),
      (col("n_click").cast("double") / col("n_view")).as("cr_click"),
      (col("n_purchase").cast("double") / col("n_click")).as("cr_purchase"))
  }

  /** Batch gap-based sessionization: a new session starts when a user is
    * idle > 30 minutes. lag + running-sum-of-boundaries is the canonical
    * two-window formulation; both windows are partitioned by user_id, so
    * at 100 TB the data shuffles ONCE on user_id and both WindowExecs plus
    * the final session aggregation run on the same partitioning (a single
    * exchange in the plan — no global window anywhere). All outputs are
    * integers/timestamps: no float accumulation to drift across engines.
    */
  private val sessionize: Q = (s, dir) => {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_ts").isNull
          .or(expr("unix_micros(ts) - unix_micros(prev_ts)") > 1800000000L), 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum(col("is_new")).over(byUser))
      .groupBy("user_id", "session_seq")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"),
        min(col("ts")).as("t_start"),
        max(col("ts")).as("t_end"))
      .withColumn("dur_s",
        expr("(unix_micros(t_end) - unix_micros(t_start)) div 1000000"))
      .orderBy("user_id", "session_seq")
  }

  /** SCD Type-2 history build from the event stream: per user, each
    * CHANGE of event_type opens a new version with a validity interval
    * [valid_from, valid_to) and the latest version stays open
    * (valid_to NULL, is_current = 1). Three window passes (change
    * detection via lag, version numbering, interval close via lead) all
    * share the user_id partitioning — one shuffle total, the same
    * single-exchange discipline sessionize_events pins in CI. This is the
    * standard warehouse dimension-history operator; at 100 TB it
    * shuffles each key's events once and state never leaves the
    * partition.
    */
  private val scd2: Q = (s, dir) => {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .withColumn("version", row_number().over(byUser))
      .withColumn("valid_to", lead(col("ts"), 1).over(byUser))
      .select(col("user_id"), col("version"), col("event_type"),
        col("ts").as("valid_from"), col("valid_to"),
        when(col("valid_to").isNull, 1).otherwise(0).as("is_current"))
      .orderBy("user_id", "version")
  }

  /** Weekly cohort retention — the standard growth-analytics matrix: users
    * grouped by first-active ISO week, counted in each later week, with
    * the retention ratio vs the cohort size. Three hash aggregations, all
    * keyed on user_id or on the tiny (cohort, offset) pair; nothing is
    * windowed and nothing collects. At 100 TB: (user, week) distinct and
    * the first-week agg share the user_id shuffle; the cohort-size join is
    * a broadcast (|cohorts| = number of weeks). Retention is one
    * int/int→double division — bit-identical across engines.
    */
  private val retention: Q = (s, dir) => {
    val wk = Tables(s, dir, "events")
      .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("wk"))
      .distinct()
    val cohort = wk.groupBy("user_id").agg(min(col("wk")).as("cohort_wk"))
    val sizes = cohort.groupBy("cohort_wk").agg(count(lit(1)).as("cohort_size"))
    wk.join(cohort, "user_id")
      .withColumn("week_offset", expr("datediff(wk, cohort_wk) div 7").cast("bigint"))
      .groupBy("cohort_wk", "week_offset")
      .agg(countDistinct(col("user_id")).as("n_active"))
      .join(broadcast(sizes), "cohort_wk")
      .select(
        date_format(col("cohort_wk"), "yyyy-MM-dd").as("cohort_week"),
        col("week_offset"), col("n_active"), col("cohort_size"),
        (col("n_active").cast("double") / col("cohort_size")).as("retention"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Snapshot B for the diff operator: apply updates (every 7th key),
    * deletes (every 11th), and inserts (shifted copy of every 13th) to the
    * orders snapshot. Deterministic, so both engines rebuild it exactly.
    */
  private def snapshotB(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val kept = o.filter(col("o_orderkey") % 11 =!= 0)
    val updated = kept.select(col("o_orderkey"),
      when(col("o_orderkey") % 7 === 0, lit("U")).otherwise(col("o_orderstatus"))
        .as("o_orderstatus"),
      when(col("o_orderkey") % 7 === 0, col("o_totalprice") * 1.05)
        .otherwise(col("o_totalprice")).as("o_totalprice"))
    val inserts = o.filter(col("o_orderkey") % 13 === 0)
      .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
        lit("N").as("o_orderstatus"), col("o_totalprice"))
    updated.unionAll(inserts)
  }

  /** Table-diff between two snapshots — the data-versioning primitive
    * (what Delta/Iceberg `table_changes` computes): FULL OUTER join on the
    * key, classify each key as added / removed / changed, drop identical
    * rows. One key-partitioned shuffle join; the unchanged majority is
    * filtered before the sort, so output is proportional to the CHANGE SET
    * — at 100 TB with a 0.1% daily churn the diff emits 0.1%, not the
    * table.
    */
  private val diffSnapshots: Q = (s, dir) => {
    val a = Tables(s, dir, "orders").select(
      col("o_orderkey").as("a_key"), col("o_orderstatus").as("a_st"),
      col("o_totalprice").as("a_price"))
    val b = snapshotB(s, dir).select(
      col("o_orderkey").as("b_key"), col("o_orderstatus").as("b_st"),
      col("o_totalprice").as("b_price"))
    a.join(b, col("a_key") === col("b_key"), "full_outer")
      .withColumn("change_type",
        when(col("a_key").isNull, lit("added"))
          .when(col("b_key").isNull, lit("removed"))
          .when(col("a_st") =!= col("b_st") || col("a_price") =!= col("b_price"),
            lit("changed")))
      .filter(col("change_type").isNotNull)
      .select(
        coalesce(col("a_key"), col("b_key")).as("o_orderkey"),
        col("change_type"),
        col("a_st").as("old_status"), col("b_st").as("new_status"),
        col("a_price").as("old_price"), col("b_price").as("new_price"))
      .orderBy("o_orderkey")
  }

  /** Last-touch attribution: each purchase attributes to the user's most
    * recent click no older than 7 days; purchases without one are
    * 'direct' (-1). The last-click state rides a single user_id-
    * partitioned running window (the sessionize exchange discipline) —
    * no purchases×clicks self-join, so at 100 TB each user's events
    * shuffle once and the carried state is one struct. Ties at equal ts
    * order by event_id on both engines.
    */
  private val lastTouch: Q = (s, dir) => {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val attributed = Tables(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("lc", last(
        when(col("event_type") === "click",
          struct(col("ts").as("cts"), col("event_id").as("cid"))),
        ignoreNulls = true).over(byUser))
      .filter(col("event_type") === "purchase")
      .withColumn("gap_us",
        unix_micros(col("ts")) - unix_micros(col("lc.cts")))
      .withColumn("hit", col("lc").isNotNull && col("gap_us") <= 7L * 86400L * 1000000L)
    attributed.select(
        col("user_id"), col("event_id").as("purchase_id"),
        when(col("hit"), col("lc.cid")).otherwise(lit(-1L)).as("click_id"),
        when(col("hit"), expr("gap_us div 1000000")).otherwise(lit(-1L)).as("gap_s"))
      .orderBy("purchase_id")
  }

  /** Linear (multi-touch) attribution — the complement of
    * [[lastTouch]]: each purchase's value splits EQUALLY across every
    * click/view touch by the same user in the 7 days up to the
    * purchase. Credit stays EXACT integers end-to-end (the
    * train_mixture_sample largest-remainder discipline): value → cents
    * → micro-cents (×10⁴), each touch gets `div n`, and the `mod n`
    * remainder goes one micro-cent at a time to the earliest touches
    * (ts, event_id order) — so channel totals add up to the purchase
    * total bit-exactly in any engine, with no float credit to drift.
    * Purchases with no touch in the window credit '(none)'.
    *
    * Plan shape: purchases and touches meet in ONE user_id-keyed join
    * (both sides shuffle once on user_id); the 7-day predicate bounds
    * the per-purchase fan-out by one user-week of activity, so the pair
    * table is attribution-window-bounded, never |events|². The split
    * arithmetic is two windows on that pair table, both partitioned by
    * purchase. At 100 TB: one co-partitioned join + purchase-local
    * windows — embarrassingly parallel across users.
    */
  private val attributionLinear: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
    // value >= 0 is ENFORCED, not assumed: the credit split uses integer
    // div/% which truncates in Spark but floors in DuckDB (`//`), so a
    // negative purchase value (refund) would silently diverge the two
    // engines. Refund attribution is a different semantic (negative
    // credit policy is a business choice); this operator defines itself
    // over non-negative purchases and filters the rest out in BOTH plans.
    val purchases = ev.filter(col("event_type") === "purchase")
      .filter(col("value") >= 0)
      .select(col("user_id"), col("event_id").as("pid"),
        unix_micros(col("ts")).as("pts"),
        expr("cast(round(value * 100, 0) as bigint) * 10000").as("ucents"))
    val touches = ev.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("event_id").as("tid"),
        unix_micros(col("ts")).as("tts"), col("event_type").as("channel"))
    val pairs = purchases.join(touches, Seq("user_id"))
      .filter(col("tts") <= col("pts") &&
        col("pts") - col("tts") <= lit(7L * 86400L * 1000000L))
    val byP = Window.partitionBy("pid")
    val ordP = Window.partitionBy("pid").orderBy("tts", "tid")
    val credited = pairs
      .withColumn("n", count(lit(1)).over(byP))
      .withColumn("trk", row_number().over(ordP))
      .withColumn("credit",
        expr("ucents div n") + when(col("trk") <= expr("ucents % n"), 1L).otherwise(0L))
    val attributed = credited.groupBy("channel")
      .agg(sum(col("credit")).as("credit_ucents"),
        count(lit(1)).as("n_touch_credits"),
        expr("cast(count(distinct pid) as bigint)").as("n_purchases"))
    val none = purchases.join(
        pairs.select(col("pid")).distinct(), Seq("pid"), "left_anti")
      .agg(coalesce(sum(col("ucents")), lit(0L)).as("credit_ucents"),
        count(lit(1)).as("n_touch_credits"),
        count(lit(1)).as("n_purchases"))
      .select(lit("(none)").as("channel"), col("credit_ucents"),
        col("n_touch_credits"), col("n_purchases"))
    attributed.unionByName(none).orderBy("channel")
  }

  /** Market-basket association pairs over co-order parts: pair supports
    * from a distinct-collapse + per-order self-join (fan-out bounded by
    * basket size, never corpus²), then confidence and lift from the item
    * supports joined back. The min-support filter prunes the long tail
    * BEFORE the join-back, so at 100 TB the expensive side is one hash
    * aggregation on (p_a, p_b) and the surviving pairs are the only rows
    * that touch the item-support table. Min support is CORPUS-RELATIVE
    * with an absolute floor — max(2, n_orders/75000) — the r3→r4
    * ngram-df-cap lesson: an absolute constant silently changes meaning
    * under duplication (8 copies pass EVERY 1×-pair through "≥ 2"),
    * while relative support is the standard scale-invariant metric.
    */
  private val basketPairs: Q = (s, dir) => {
    // The distinct basket table feeds FOUR subtrees (both self-join
    // sides, the item supports, the order count) — un-materialized, each
    // re-ran the full lineitem scan AND the (o, p) distinct shuffle (the
    // r16 array-agg rewrite probe attacked the self-join and lost; the
    // actual redundancy was upstream of it). Checkpoint it once, lazily:
    // the query's single action materializes it, every consumer reads
    // the persisted copy (§2.4 — remove duplicate shuffles outright).
    val b = Tables(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      .localCheckpoint(false)
    val nOrders = b.agg(countDistinct(col("o")).as("n_orders"))
    val item = b.groupBy(col("p")).agg(count(lit(1)).as("cnt"))
    val pairs = b.as("a").join(b.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("p_a"), col("b.p").as("p_b"))
      .agg(count(lit(1)).as("pair_cnt"))
      .crossJoin(broadcast(nOrders))
      .filter(col("pair_cnt") >= greatest(lit(2L), expr("n_orders div 75000")))
      .drop("n_orders")
    pairs
      .join(item.select(col("p").as("p_a"), col("cnt").as("cnt_a")), "p_a")
      .join(item.select(col("p").as("p_b"), col("cnt").as("cnt_b")), "p_b")
      .crossJoin(broadcast(nOrders))
      .select(col("p_a"), col("p_b"), col("pair_cnt"),
        round(col("pair_cnt").cast("double") / col("cnt_a"), 6).as("conf_ab"),
        round(col("pair_cnt").cast("double") * col("n_orders") /
          (col("cnt_a") * col("cnt_b")), 6).as("lift"))
      .orderBy("p_a", "p_b")
  }

  /** Gaps-and-islands: maximal runs of consecutive active DAYS per user
    * (the streak/uptime-segment primitive). The classic day − row_number
    * anchor trick turns each maximal run into one constant group key, so
    * the whole operator is a distinct, one user_id-partitioned window,
    * and one hash aggregation — a single key shuffle at 100 TB, with the
    * (user, day) distinct collapsing map-side first.
    */
  private val gapsIslands: Q = (s, dir) => {
    val byUser = Window.partitionBy("user_id").orderBy("day")
    Tables(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .withColumn("anchor", date_sub(col("day"), row_number().over(byUser)))
      .groupBy("user_id", "anchor")
      .agg(
        date_format(min(col("day")), "yyyy-MM-dd").as("start_day"),
        date_format(max(col("day")), "yyyy-MM-dd").as("end_day"),
        count(lit(1)).as("n_days"))
      .select("user_id", "start_day", "end_day", "n_days")
      .orderBy("user_id", "start_day")
  }

  /** Incremental view maintenance: yesterday's aggregate state merges
    * with a delta batch's aggregate and provably equals the full
    * recompute (count/sum are mergeable; the exact-cents encoding keeps
    * the merge bit-exact). The oracle IS the full recompute, so the
    * hash-match is the algebraic identity. At 100 TB this is the
    * difference between scanning the delta and scanning the table: the
    * base side is a stored aggregate (here rebuilt from a partition
    * predicate for test determinism), and only (group, n, cents) rows —
    * never base fact rows — flow into the merge.
    */
  private val incrementalAgg: Q = (s, dir) => {
    val o = Tables(s, dir, "orders")
    def aggOf(df: DataFrame): DataFrame = df.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(round(o_totalprice * 100, 0) as bigint)")).as("cents"))
    val base = aggOf(o.filter(col("o_orderdate") < lit("1997-01-01")))
    val delta = aggOf(o.filter(col("o_orderdate") >= lit("1997-01-01")))
    base.unionAll(delta)
      .groupBy("o_orderstatus")
      .agg(sum(col("n")).as("n"), sum(col("cents")).as("total_cents"))
      .orderBy("o_orderstatus")
  }

  /** First-order Markov transition matrix over per-user event streams:
    * lag one step in (ts, event_id) order within each user, count the
    * (prev -> next) pairs, and normalize per source state. One shuffle
    * keyed by user_id for the lag; the pair counts then collapse
    * map-side to an O(|event_types|^2) matrix — 25 rows here — so at
    * 100 TB the scan parallelizes freely and only the tiny matrix moves.
    * `p` is a single IEEE division of two exact counts, bit-identical in
    * both engines without decimal routing.
    */
  private val markov: Q = (s, dir) => {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables(s, dir, "events")
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .where(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy("prev_type")).cast("double"))
      .orderBy("prev_type", "next_type")
  }

  /** Point-in-time (PIT) lookup against an SCD2 dimension — the query
    * CDC exists to serve: account state changes (signup/error events,
    * consecutive duplicates collapsed) become validity versions, and
    * each purchase reads the version in force AT ITS TIMESTAMP — never a
    * later one (the leakage a plain latest-value join commits, and the
    * correctness rule feature stores call PIT). Executed as a backward
    * as-of over ONE union: dimension rows sort before probes at equal
    * ts, `last(... ignoreNulls)` carries the in-force version's
    * attributes forward, purchases before any state row surface NULLs.
    * One user_id exchange at any scale — interval containment needs no
    * range join because SCD2 validity is gapless by construction.
    */
  private val pitScd2: Q = (s, dir) => {
    val e = Tables(s, dir, "events")
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val dim = e.filter(col("event_type").isin("signup", "error"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .withColumn("version", row_number().over(byUser).cast("long"))
      .select(col("user_id").as("k"), col("ts").as("t"), lit(0).as("side"),
        lit(null).cast("long").as("event_id"),
        col("event_type").as("state_type"), col("version"))
    val probes = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("k"), col("ts").as("t"), lit(1).as("side"),
        col("event_id"), lit(null).cast("string").as("state_type"),
        lit(null).cast("long").as("version"))
    val w = Window.partitionBy("k").orderBy(col("t"), col("side"), col("version"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    probes.unionAll(dim)
      .withColumn("pit_type", last(col("state_type"), ignoreNulls = true).over(w))
      .withColumn("pit_version", last(col("version"), ignoreNulls = true).over(w))
      .withColumn("pit_from",
        last(when(col("side") === 0, col("t")), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("event_id"), col("k").as("user_id"),
        col("pit_type"), col("pit_version"),
        date_format(col("pit_from"), "yyyy-MM-dd HH:mm:ss").as("valid_from"))
      .orderBy("event_id")
  }

  /** CEP-style sequence pattern over per-user event streams — the batch
    * form of Flink-CEP / MATCH_RECOGNIZE: `view (¬error)* purchase`
    * within a 3-event lookahead. A bounded pattern compiles to lead()
    * columns and one CASE — no joins, no state machine, one user_id
    * exchange; at 100 TB this is how short funnels-with-guards run as a
    * plain window pass. Emits the matched purchase id and its distance;
    * streams ending mid-pattern simply do not match (lead NULLs).
    */
  private val cepPattern: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables(s, dir, "events")
      .withColumn("t1", lead(col("event_type"), 1).over(w))
      .withColumn("t2", lead(col("event_type"), 2).over(w))
      .withColumn("t3", lead(col("event_type"), 3).over(w))
      .withColumn("i1", lead(col("event_id"), 1).over(w))
      .withColumn("i2", lead(col("event_id"), 2).over(w))
      .withColumn("i3", lead(col("event_id"), 3).over(w))
      .filter(col("event_type") === "view")
      .withColumn("dist", expr(
        """CASE WHEN t1 = 'purchase' THEN 1
          |WHEN t1 <> 'error' AND t2 = 'purchase' THEN 2
          |WHEN t1 <> 'error' AND t2 <> 'error' AND t3 = 'purchase' THEN 3
          |END""".stripMargin))
      .filter(col("dist").isNotNull)
      .select(col("user_id"), col("event_id").as("view_id"),
        expr("CASE dist WHEN 1 THEN i1 WHEN 2 THEN i2 ELSE i3 END")
          .as("purchase_id"),
        col("dist").cast("bigint").as("dist"))
      .orderBy("view_id")
  }

  /** 7-day rolling distinct users (WAU) per active day — the growth
    * metric a RANGE-frame COUNT(DISTINCT) window cannot express in
    * either engine at scale. The scalable formulation: each (user,
    * active-day) pair EXPLODES into the ≤7 report days it contributes
    * to (bounded fan-out), then one hash countDistinct per report day —
    * map-side collapsible, no range self-join of the fact table. The
    * oracle runs exactly that naive range join, pinning equivalence.
    * At 100 TB the contribution table is |user-days|×7 ints, and the
    * distinct state per report day is bounded by the active-user domain.
    */
  private val rollingWau: Q = (s, dir) => {
    val ud = Tables(s, dir, "events")
      .select(col("user_id"), date_trunc("day", col("ts")).cast("date").as("d"))
      .distinct()
    val spine = ud.select(col("d").as("rd")).distinct()
    ud.select(col("user_id"),
        explode(expr("sequence(d, date_add(d, 6))")).as("rd"))
      .join(spine, "rd")
      .groupBy("rd")
      .agg(countDistinct(col("user_id")).as("wau"))
      .orderBy("rd")
  }

  /** Top event paths — "what do users actually do first": each user's
    * first 5 events (by time, ties on event_id) collapse to a
    * '>'-joined path signature; paths are counted and the 10 most
    * common ship with their user counts. One user_id exchange (window +
    * ordered collapse), then a count shuffle of ONE row per user and a
    * top-k over path signatures — bounded by |event_types|^5 regardless
    * of corpus size, so the final global window never sees more than a
    * few thousand rows at any scale. The ordered collapse is the sorted
    * collect_list struct fold (same discipline as text_span_scrub).
    */
  private val pathTopk: Q = (s, dir) => {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val paths = Tables(s, dir, "events")
      .withColumn("rn", row_number().over(byUser))
      .filter(col("rn") <= 5)
      .groupBy("user_id")
      .agg(expr(
        "array_join(transform(array_sort(collect_list(struct(rn, event_type))), p -> p.event_type), '>')")
        .as("path"))
    // top-10 via orderBy+limit → TakeOrderedAndProject (per-partition
    // heaps + a 10-row driver merge), not a global rank window: the path
    // table is domain-bounded by |event_types|^5 today, but the bounded
    // formulation costs nothing and stays safe if the path alphabet ever
    // grows (the graph_link_predict discipline). The rank window then
    // runs over exactly 10 rows.
    val top = paths.groupBy("path")
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(10)
    top.withColumn("rk", row_number().over(Window.orderBy(col("n_users").desc, col("path"))))
      .orderBy("rk")
  }

  /** The range-prefix kernel — the two-pass scan (Blelloch 1990) that
    * lets a total-order window run without a single-task global sort:
    * range-partition on `sort` (each range holds a contiguous key span),
    * reduce each range to `summary`, scan those per-range values with
    * `carry` over a window ordered by range (one row per range, never the
    * data), broadcast each range's carry back, and set `out` to
    * `row(carry, w)` where `w` orders the rows of one range by `sort`.
    * The width is the session's: `repartitionByRange` with no count takes
    * `spark.sql.shuffle.partitions`, and AQE may merge adjacent ranges —
    * merged ranges stay contiguous and in order, so every carry holds.
    * Results are a function of the total order alone, so range-boundary
    * sampling can put the cuts anywhere; `sort` must be total (end in a
    * unique tiebreak) wherever ties would make `row` ambiguous.
    */
  private[graft] def rangePrefix(df: DataFrame, out: String, sort: Column*)(
      summary: Column, carry: (Column, WindowSpec) => Column)(
      row: (Column, WindowSpec) => Column): DataFrame = {
    // the lazy local checkpoint pins ONE materialization of the range
    // exchange: both consumers below (the per-range summary and the
    // rows) read the same RDD, so spark_partition_id() agrees between
    // them, and no job runs before the query's own action needs it
    val part = df.repartitionByRange(sort: _*)
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint(false)
    val carries = part.groupBy("_pid").agg(summary.as("_sum"))
      .select(col("_pid"), carry(col("_sum"), Window.orderBy("_pid")).as("_carry"))
    part.join(broadcast(carries), "_pid")
      .withColumn(out, row(col("_carry"), Window.partitionBy("_pid").orderBy(sort: _*)))
      .drop("_pid", "_carry")
  }

  /** [[rangePrefix]]'s carry for a running total: the exclusive prefix
    * sum of the per-range totals, i.e. each range's offset.
    */
  private[graft] def exclusiveSum(total: Column, ranges: WindowSpec): Column =
    coalesce(sum(total).over(ranges.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))

  /** Exact global rank WITHOUT a global sort — the distributed ntile
    * substrate: a range's offset is the row count of every range before
    * it, plus each row's range-local row_number. The sort key must be
    * total (include a unique tiebreak) so ranks are well-defined.
    */
  private[graft] def globalRank(df: DataFrame, rankCol: String, sort: Column*): DataFrame =
    rangePrefix(df, rankCol, sort: _*)(count(lit(1)), exclusiveSum)(
      (off, w) => off + row_number().over(w))

  /** NTILE(k)'s closed form over a 1-based total-order `rank` and the row
    * count in column `_n`: q = n div k tiles of q rows, plus one row for
    * each of the first n % k tiles. Uncast (callers pick the type). The
    * first branch also covers q = 0 (n < k), where every rank is its own
    * tile.
    */
  private[graft] def ntileOf(rank: String, k: Int): Column = expr(
    s"""CASE
       |  WHEN $rank <= (_n % $k) * ((_n div $k) + 1)
       |    THEN ($rank + (_n div $k)) div ((_n div $k) + 1)
       |  ELSE (_n % $k) + ($rank - (_n % $k) * ((_n div $k) + 1) + (_n div $k) - 1) div (_n div $k)
       |END""".stripMargin)

  /** RFM segmentation — the classic customer-value cut: per user,
    * Recency (days since last purchase, against the corpus max day so
    * the query is reproducible), Frequency (purchase count), Monetary
    * (exact cents); each scored into quintiles with a user_id tiebreak
    * so bucket edges are total-ordered and replay identically in
    * DuckDB's ntile(5). The quintiles do NOT use a global NTILE window
    * (a single-task sort of the user-grain table — 10^8-10^9 rows at
    * 100 TB): each score comes from the distributed globalRank above
    * plus NTILE's closed form over (rank, n) — n rows into 5 tiles
    * puts the first n%5 tiles at ceil(n/5) rows and the rest at
    * floor(n/5), so the tile of rank r is arithmetic on two broadcast
    * scalars. Bit-identical to ntile(5), zero single-partition sorts.
    */
  private val rfm: Q = (s, dir) => {
    val p = Tables(s, dir, "events").filter(col("event_type") === "purchase")
    val anchor = p.agg(max(date_trunc("day", col("ts")).cast("date")).as("maxd"))
    val u = p.groupBy("user_id")
      .agg(
        max(date_trunc("day", col("ts")).cast("date")).as("lastd"),
        count(lit(1)).as("frequency"),
        sum(expr("cast(round(value * 100, 0) as bigint)")).as("monetary_c"))
      .crossJoin(broadcast(anchor))
      .withColumn("recency_days", datediff(col("maxd"), col("lastd")).cast("bigint"))
      .drop("maxd", "lastd")
    val n = u.agg(count(lit(1)).as("_n"))
    val ranked =
      globalRank(
        globalRank(
          globalRank(u, "_rr", col("recency_days"), col("user_id")),
          "_fr", col("frequency").desc, col("user_id")),
        "_mr", col("monetary_c").desc, col("user_id"))
    val scored = ranked.crossJoin(broadcast(n))
      .withColumn("r_score", ntileOf("_rr", 5).cast("int"))
      .withColumn("f_score", ntileOf("_fr", 5).cast("int"))
      .withColumn("m_score", ntileOf("_mr", 5).cast("int"))
    scored.select(col("user_id"), col("recency_days"), col("frequency"), col("monetary_c"),
        col("r_score"), col("f_score"), col("m_score"),
        expr("concat(cast(r_score as string), cast(f_score as string), cast(m_score as string))")
          .as("segment"))
      .orderBy("user_id")
  }

  /** CUSUM change-point detection over the daily event-count series —
    * did traffic shift regime, and when? The page-Hinkley/CUSUM running
    * sum S_t = Σ(x_i − mean) is kept in EXACT integers by scaling by
    * the day count D: s_scaled_t = Σ(x_i·D − total), so no float
    * accumulates across the cumulative window and the argmax day (the
    * most likely change point) pins bit-exactly. The series is one row
    * per day (bounded), so the single-partition cumulative window is
    * metadata-sized at any corpus scale — the heavy work is the one
    * map-side-combining daily count underneath.
    */
  private val cusum: Q = (s, dir) => {
    val daily = Tables(s, dir, "events")
      .groupBy(date_trunc("day", col("ts")).cast("date").as("d"))
      .agg(count(lit(1)).as("n"))
    val tot = daily.agg(sum(col("n")).as("total"), count(lit(1)).as("nd"))
    val w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withS = daily.crossJoin(broadcast(tot))
      .withColumn("s_scaled", sum(col("n") * col("nd") - col("total")).over(w))
    val mn = withS.agg(min(col("s_scaled")).as("mns"))
    withS.crossJoin(broadcast(mn))
      .select(date_format(col("d"), "yyyy-MM-dd").as("day"), col("n"),
        col("s_scaled"), (col("s_scaled") === col("mns")).as("is_min_cusum"))
      .orderBy("day")
  }

  /** Autocorrelation of the daily event-count series at lags 1..7 — the
    * seasonality detector behind "is traffic weekly-periodic?" (a lag-7
    * spike) and the input to ARIMA-order picking. Deviations are kept
    * EXACT by the cusum discipline (scale by the day count: dev = n·D −
    * total, an integer), and the lag products route through
    * DECIMAL(19,0)×DECIMAL(19,0)→DECIMAL(38,0) because dev² overflows
    * BIGINT once daily counts pass ~10^9·days — the 100 TB case. One
    * IEEE cast+division per lag at the end, mirrored in the oracle.
    * The series is one row per day, so every window here is
    * metadata-sized; the distributed work is the map-side-combining
    * daily count underneath.
    */
  private val autocorr: Q = (s, dir) => {
    val daily = Tables(s, dir, "events")
      .groupBy(date_trunc("day", col("ts")).cast("date").as("d"))
      .agg(count(lit(1)).as("n"))
    val tot = daily.agg(sum(col("n")).as("total"), count(lit(1)).as("nd"))
    val w = Window.orderBy("d")
    var dv = daily.crossJoin(broadcast(tot))
      .withColumn("dev", (col("n") * col("nd") - col("total")).cast("decimal(19,0)"))
    (1 to 7).foreach { k => dv = dv.withColumn(s"d$k", lead(col("dev"), k).over(w)) }
    val den = dv.agg(sum(col("dev") * col("dev")).as("den"))
    dv.select(expr(
        "stack(7, " + (1 to 7).map(k => s"${k}L, dev * d$k").mkString(", ") +
          ") AS (lag_k, prod)"))
      .filter(col("prod").isNotNull)
      .groupBy("lag_k").agg(sum(col("prod")).as("num"))
      .crossJoin(broadcast(den))
      .select(col("lag_k"),
        round(col("num").cast("double") / col("den").cast("double"), 6).as("acf"))
      .orderBy("lag_k")
  }

  /** Theil–Sen robust trend of the daily event-count series — the
    * median of all pairwise slopes (y_j−y_i)/(x_j−x_i), plus the matching
    * median intercept. Unlike OLS (win_rolling_regr / agg_regression),
    * Theil–Sen has a 29% breakdown point: a burst day or an outage day
    * barely moves it, which is why it's the standard robust detector for
    * "is traffic actually trending?". The series is one row per day, so
    * the pair table is day²-bounded (66 k pairs per series-year — a
    * domain bound, not a data bound) and every window here runs on that
    * bounded table; the distributed work is the one map-side-combining
    * daily count underneath, exactly the cusum/autocorr discipline. Each
    * slope is ONE IEEE int/int division, and both medians use the
    * explicit rank formula (s_lo + s_hi)/2 rather than an engine
    * `median()` so the interpolation arithmetic is identical in DuckDB.
    */
  private val theilsen: Q = (s, dir) => {
    val daily = Tables(s, dir, "events")
      .groupBy(date_trunc("day", col("ts")).cast("date").as("d"))
      .agg(count(lit(1)).as("n"))
    val m = daily.agg(min(col("d")).as("mind"))
    val pts = daily.crossJoin(broadcast(m))
      .select(datediff(col("d"), col("mind")).as("x"), col("n").as("y"))
    val pr = pts.as("a").join(pts.as("b"), col("a.x") < col("b.x"))
      .select(col("a.x").as("xa"), col("b.x").as("xb"),
        ((col("b.y") - col("a.y")) / (col("b.x") - col("a.x")).cast("double")).as("slope"))
    val k = pr.agg(count(lit(1)).as("np"))
    val sr = pr.withColumn("r",
      row_number().over(Window.orderBy(col("slope"), col("xa"), col("xb"))))
    val sm = sr.crossJoin(broadcast(k))
      .withColumn("lo", expr("(np + 1) div 2"))
      .withColumn("hi", expr("(np + 2) div 2"))
      .agg(max(col("np")).as("np"),
        ((max(when(col("r") === col("lo"), col("slope"))) +
          max(when(col("r") === col("hi"), col("slope")))) / lit(2.0)).as("slope_med"))
    val res = pts.crossJoin(broadcast(sm))
      .select(col("np"), col("slope_med"), col("x"),
        (col("y") - col("slope_med") * col("x")).as("b"))
    val nd = res.agg(count(lit(1)).as("ndays"))
    val rr = res.withColumn("r2", row_number().over(Window.orderBy(col("b"), col("x"))))
    rr.crossJoin(broadcast(nd))
      .withColumn("lo2", expr("(ndays + 1) div 2"))
      .withColumn("hi2", expr("(ndays + 2) div 2"))
      .agg(max(col("ndays")).as("nd_"), max(col("np")).as("np_"),
        max(col("slope_med")).as("sl"),
        ((max(when(col("r2") === col("lo2"), col("b"))) +
          max(when(col("r2") === col("hi2"), col("b")))) / lit(2.0)).as("ic"))
      .select(col("nd_").as("n_days"), col("np_").as("n_pairs"),
        round(col("sl"), 6).as("slope"), round(col("ic"), 6).as("intercept"))
  }

  /** Additive seasonal decomposition of the daily event-count series —
    * y = trend + seasonal + residual, the moving-average STL variant:
    * trend is the centered 7-day mean (null on the 3 edge days each
    * side), the weekly seasonal is the per-day-of-week mean of the
    * detrended series, and the residual is what's left — the series a
    * capacity planner actually alarms on. The numerators stay EXACT
    * integers (detrended·7 = y·7 − s7, the cusum/autocorr scaling
    * discipline), so the only float ops are one division per output
    * column, mirrored verbatim in the oracle. Day-of-week is x mod 7
    * from the series origin (engine-neutral — no locale-dependent
    * dayofweek()). The series is one row per day: the 7-day window and
    * the dow aggregate are day-domain-bounded, and the distributed work
    * is the map-side-combining daily count underneath.
    */
  private val stlDecompose: Q = (s, dir) => {
    val daily = Tables(s, dir, "events")
      .groupBy(date_trunc("day", col("ts")).cast("date").as("d"))
      .agg(count(lit(1)).as("y"))
    val m = daily.agg(min(col("d")).as("mind"))
    val pts = daily.crossJoin(broadcast(m))
      .select(col("d"), datediff(col("d"), col("mind")).as("x"), col("y"))
    val w7 = Window.orderBy("x").rowsBetween(-3, 3)
    val t = pts
      .withColumn("s7", sum(col("y")).over(w7))
      .withColumn("c7", count(lit(1)).over(w7))
      .withColumn("dts", when(col("c7") === 7, col("y") * 7 - col("s7")))
      .withColumn("dow", expr("x % 7"))
    val seas = t.filter(col("c7") === 7)
      .groupBy("dow").agg(sum(col("dts")).as("snum"), count(lit(1)).as("scnt"))
    t.join(broadcast(seas), Seq("dow"), "left")
      .select(
        date_format(col("d"), "yyyy-MM-dd").as("day"), col("y"),
        when(col("c7") === 7, round(col("s7") / lit(7.0), 6)).as("trend"),
        round(col("snum") / (col("scnt") * lit(7.0)), 6).as("seasonal"),
        when(col("c7") === 7,
          round(col("y") - col("s7") / lit(7.0) - col("snum") / (col("scnt") * lit(7.0)), 6))
          .as("residual"))
      .orderBy("day")
  }

  /** Peak concurrency per day — the sweep-line classic ("how many
    * sessions were open at once?") that prices capacity and licenses:
    * each event opens a 10-minute interval, the sweep emits (+1 at
    * start, −1 at end), and the running sum over the TOTAL order
    * (t, delta, event_id — ends sort before starts at the same instant,
    * so touching intervals never overlap) is the live concurrency. The
    * cumulative sum runs on [[rangePrefix]]: range-partition on the sort
    * key, per-range prefix sums, and a broadcast offset table of per-range
    * delta TOTALS, one row per range — no single-task global window,
    * which is what a naive `SUM OVER (ORDER BY t)` would plan, and what
    * dies first on a 100 TB event stream.
    */
  private val maxConcurrency: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
    val sweep = ev.select(col("event_id"), col("ts").as("t"), lit(1L).as("delta"))
      .unionAll(ev.select(col("event_id"),
        (col("ts") + expr("INTERVAL 10 MINUTES")).as("t"), lit(-1L).as("delta")))
    rangePrefix(sweep, "running", col("t"), col("delta"), col("event_id"))(
        sum(col("delta")), exclusiveSum)(
        (off, w) => off + sum(col("delta")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(date_trunc("day", col("t")).cast("date").as("d"))
      .agg(max(col("running")).as("max_concurrency"), count(lit(1)).as("n_points"))
      .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("max_concurrency"), col("n_points"))
      .orderBy("day")
  }

  /** MERGE with the full op set — the missing D in cdc_upsert's I/U
    * story: a change feed carrying inserts (every 13th key, shifted),
    * updates (every 7th, price bump + status 'U'), and DELETE
    * tombstones (every 11th; delete wins over update on overlap, the
    * standard CDC precedence) applies in ONE full-outer join keyed on
    * the primary key — tombstones drop the row, updates coalesce over
    * base, untouched rows pass through. The result is aggregated per
    * status so the oracle pins the post-merge table state exactly. At
    * 100 TB: one keyed shuffle of the (small) change feed against a
    * bucketed base — identical cost to cdc_upsert, deletes add nothing.
    */
  private val cdcDeletes: Q = (s, dir) => {
    val o = Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val dels = o.filter(col("o_orderkey") % 11 === 0)
      .select(col("o_orderkey").as("k"), lit("D").as("op"),
        lit(null).cast("string").as("c_status"), lit(null).cast("double").as("c_price"))
    val ups = o.filter(col("o_orderkey") % 7 === 0 && col("o_orderkey") % 11 =!= 0)
      .select(col("o_orderkey").as("k"), lit("U").as("op"),
        lit("U").as("c_status"), (col("o_totalprice") * 1.05).as("c_price"))
    val ins = o.filter(col("o_orderkey") % 13 === 0)
      .select((col("o_orderkey") + 10000000L).as("k"), lit("I").as("op"),
        lit("N").as("c_status"), col("o_totalprice").as("c_price"))
    val changes = dels.unionAll(ups).unionAll(ins)
    val merged = o.join(changes, col("o_orderkey") === col("k"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(
        coalesce(col("o_orderkey"), col("k")).as("key"),
        coalesce(col("c_status"), col("o_orderstatus")).as("status"),
        coalesce(col("c_price"), col("o_totalprice")).as("price"))
    merged.groupBy("status")
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(round(price * 100, 0) as bigint)")).as("total_cents"))
      .orderBy("status")
  }

  /** Day-of-week seasonality index — the first question asked of any
    * traffic series: how does each weekday run against the overall
    * daily average? Exact integer event counts aggregate twice (per
    * day, then per weekday), and the index is one IEEE division of
    * exact averages, cross-multiplied to stay integer until the end:
    * idx = (Σ_dow n · D) / (n_days_dow · Σ n). Output is 7 rows at any
    * scale; the only full-data pass is the daily count.
    */
  private val dowSeasonality: Q = (s, dir) => {
    val daily = Tables(s, dir, "events")
      .groupBy(date_trunc("day", col("ts")).cast("date").as("d"))
      .agg(count(lit(1)).as("n"))
      .withColumn("dow", dayofweek(col("d")).cast("bigint"))
    val tot = daily.agg(sum(col("n")).as("total"), count(lit(1)).as("nd"))
    daily.groupBy("dow")
      .agg(sum(col("n")).as("n_events"), count(lit(1)).as("n_days"))
      .crossJoin(broadcast(tot))
      .withColumn("idx", round(
        (col("n_events") * col("nd")).cast("double") / (col("n_days") * col("total")), 6))
      .select("dow", "n_days", "n_events", "idx")
      .orderBy("dow")
  }

  /** Inter-event-time distribution: per-user lag deltas (exact µs
    * integers on ONE user_id exchange) fed to the histogram-selection
    * percentile substrate — exact interpolated p50/p90/p99 of the gap
    * distribution with no global sort and no unbounded aggregate state.
    * The latency-distribution question every event pipeline asks, and a
    * second fact table (events) exercising the substrate. At 100 TB:
    * the lag window rides the standard user_id exchange; the substrate
    * adds its three map-side-combining scans over the gap column.
    */
  private val gapPercentiles: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gaps = Tables(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"),
        unix_micros(col("ts")).as("t"))
      .withColumn("pt", lag(col("t"), 1).over(w))
      .filter(col("pt").isNotNull)
      .select((col("t") - col("pt")).cast("double").as("v"))
    Relational.histogramSelect(gaps, Seq(50, 90, 99),
      cacheKey = Some((s, dir, "pct.gaps")))
  }

  /** Seasonal-naive forecast BACKTEST — the baseline every real
    * forecasting pipeline must beat, evaluated honestly: predict each
    * day's event count by the count 7 days earlier, then score MAE and
    * MAPE over all scored days. Counts collapse map-side to the day
    * grain (one scan); the lag-7 lookup is a self-join on the ≤series
    * day table; error terms are EXACT integers (MAPE per-day ratios
    * quantize to micro-units before summing — the dyadic/autocorr
    * discipline — so the aggregate is merge-order-free and replays
    * bit-for-bit). Output: one row (n_days, n_scored, mae, mape_pct).
    */
  private val forecastSnaive: Q = (s, dir) => {
    val daily = Tables(s, dir, "events")
      .groupBy(date_trunc("day", col("ts")).cast("date").as("d"))
      .agg(count(lit(1)).as("y"))
    val pred = daily.select(date_add(col("d"), 7).as("d"), col("y").as("yhat"))
    val scored = daily.join(pred, "d")
      .withColumn("abs_err", abs(col("y") - col("yhat")))
      .withColumn("ape_micro",
        expr("cast(round(abs_err * 1000000.0 / y) as bigint)"))
    daily.agg(count(lit(1)).as("n_days")).crossJoin(
      scored.agg(count(lit(1)).as("n_scored"),
        sum(col("abs_err")).as("sae"), sum(col("ape_micro")).as("sape")))
      .select(col("n_days"), col("n_scored"),
        round(col("sae").cast("double") / col("n_scored"), 6).as("mae"),
        round(col("sape").cast("double") / col("n_scored") / 10000.0, 6).as("mape_pct"))
  }

  val queries: Map[String, Q] = Map(
    "flow_gap_percentiles" -> gapPercentiles,
    "ts_forecast_snaive" -> forecastSnaive,
    "ts_dow_seasonality" -> dowSeasonality,
    "cdc_apply_deletes" -> cdcDeletes,
    "flow_rfm_segments" -> rfm,
    "ts_cusum_changepoint" -> cusum,
    "ts_autocorr" -> autocorr,
    "ts_theilsen" -> theilsen,
    "ts_stl_decompose" -> stlDecompose,
    "flow_max_concurrency" -> maxConcurrency,
    "flow_path_topk" -> pathTopk,
    "ts_rolling_wau" -> rollingWau,
    "flow_cep_pattern" -> cepPattern,
    "join_pit_scd2" -> pitScd2,
    "flow_markov_transitions" -> markov,
    "cdc_incremental_agg" -> incrementalAgg,
    "win_gaps_islands" -> gapsIslands,
    "attribution_last_touch" -> lastTouch,
    "flow_attribution_linear" -> attributionLinear,
    "assoc_basket_pairs" -> basketPairs,
    "cdc_upsert" -> cdcUpsert,
    "cdc_scd2" -> scd2,
    "cdc_diff_snapshots" -> diffSnapshots,
    "funnel_conversion" -> funnel,
    "sessionize_events" -> sessionize,
    "flow_retention_cohort" -> retention,
  )

  val oracles: Map[String, String] = Map(
    "ts_dow_seasonality" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
        |      CAST(COUNT(*) AS BIGINT) AS nd FROM daily),
        |w AS (SELECT CAST(dayofweek(d) + 1 AS BIGINT) AS dow,
        |    CAST(SUM(n) AS BIGINT) AS n_events, CAST(COUNT(*) AS BIGINT) AS n_days
        |  FROM daily GROUP BY 1)
        |SELECT dow, n_days, n_events,
        |  round(CAST(n_events * t.nd AS DOUBLE) / (n_days * t.total), 6) AS idx
        |FROM w, t ORDER BY dow""".stripMargin,
    // the declared post-merge state: survivors (with updates applied)
    // plus inserts — pinning the MERGE semantics, not the join shape
    "cdc_apply_deletes" ->
      """WITH survivors AS (
        |  SELECT CASE WHEN o_orderkey % 7 = 0 THEN 'U' ELSE o_orderstatus END AS status,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.05 ELSE o_totalprice END AS price
        |  FROM orders WHERE o_orderkey % 11 <> 0),
        |ins AS (SELECT 'N' AS status, o_totalprice AS price
        |        FROM orders WHERE o_orderkey % 13 = 0),
        |m AS (SELECT * FROM survivors UNION ALL SELECT * FROM ins)
        |SELECT status, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(round(price * 100, 0) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    "flow_rfm_segments" ->
      """WITH p AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |a AS (SELECT MAX(d) AS maxd FROM p),
        |u AS (SELECT user_id, MAX(d) AS lastd,
        |    CAST(COUNT(*) AS BIGINT) AS frequency,
        |    CAST(SUM(cents) AS BIGINT) AS monetary_c
        |  FROM p GROUP BY 1),
        |r AS (SELECT user_id,
        |    CAST(datediff('day', lastd, (SELECT maxd FROM a)) AS BIGINT) AS recency_days,
        |    frequency, monetary_c
        |  FROM u),
        |sc AS (SELECT *,
        |    ntile(5) OVER (ORDER BY recency_days, user_id) AS r_score,
        |    ntile(5) OVER (ORDER BY frequency DESC, user_id) AS f_score,
        |    ntile(5) OVER (ORDER BY monetary_c DESC, user_id) AS m_score
        |  FROM r)
        |SELECT user_id, recency_days, frequency, monetary_c,
        |  r_score, f_score, m_score,
        |  CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) || CAST(m_score AS VARCHAR) AS segment
        |FROM sc ORDER BY user_id""".stripMargin,
    "flow_max_concurrency" ->
      """WITH sweep AS (
        |  SELECT event_id, ts AS t, CAST(1 AS BIGINT) AS delta FROM events
        |  UNION ALL
        |  SELECT event_id, ts + INTERVAL 10 MINUTE, CAST(-1 AS BIGINT) FROM events),
        |r AS (SELECT t, delta,
        |    SUM(delta) OVER (ORDER BY t, delta, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
        |  FROM sweep)
        |SELECT strftime(CAST(date_trunc('day', t) AS DATE), '%Y-%m-%d') AS day,
        |  CAST(MAX(running) AS BIGINT) AS max_concurrency,
        |  CAST(COUNT(*) AS BIGINT) AS n_points
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "ts_autocorr" -> {
      val leads = (1 to 7).map(k => s"lead(dev, $k) OVER (ORDER BY d) AS d$k").mkString(",\n        |    ")
      val stacks = (1 to 7).map(k =>
        s"SELECT CAST($k AS BIGINT) AS lag_k, dev * d$k AS prod FROM ld WHERE d$k IS NOT NULL")
        .mkString("\n        |  UNION ALL ")
      s"""WITH daily AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
        |    CAST(COUNT(*) AS BIGINT) AS nd FROM daily),
        |dv AS (SELECT d, CAST(n * t.nd - t.total AS DECIMAL(19,0)) AS dev
        |  FROM daily, t),
        |ld AS (SELECT d, dev,
        |    $leads
        |  FROM dv),
        |den AS (SELECT SUM(dev * dev) AS den FROM dv),
        |st AS (
        |  $stacks)
        |SELECT lag_k,
        |  round(CAST(SUM(prod) AS DOUBLE) / CAST((SELECT den FROM den) AS DOUBLE), 6) AS acf
        |FROM st GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "ts_theilsen" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |mn AS (SELECT MIN(d) AS mind FROM daily),
        |pts AS (SELECT datediff('day', mind, d) AS x, n AS y FROM daily, mn),
        |pr AS (SELECT a.x AS xa, b.x AS xb,
        |    (b.y - a.y) / CAST(b.x - a.x AS DOUBLE) AS slope
        |  FROM pts a JOIN pts b ON a.x < b.x),
        |k AS (SELECT COUNT(*) AS np FROM pr),
        |sr AS (SELECT slope, xa, xb,
        |    row_number() OVER (ORDER BY slope, xa, xb) AS r FROM pr),
        |sm AS (SELECT MAX(np) AS np,
        |    (MAX(CASE WHEN r = (np + 1) // 2 THEN slope END) +
        |     MAX(CASE WHEN r = (np + 2) // 2 THEN slope END)) / 2.0 AS slope_med
        |  FROM sr, k),
        |res AS (SELECT np, slope_med, x, y - slope_med * x AS b FROM pts, sm),
        |nd AS (SELECT COUNT(*) AS ndays FROM res),
        |rr AS (SELECT np, slope_med, b,
        |    row_number() OVER (ORDER BY b, x) AS r2 FROM res)
        |SELECT CAST(MAX(ndays) AS BIGINT) AS n_days, CAST(MAX(np) AS BIGINT) AS n_pairs,
        |  round(MAX(slope_med), 6) AS slope,
        |  round((MAX(CASE WHEN r2 = (ndays + 1) // 2 THEN b END) +
        |         MAX(CASE WHEN r2 = (ndays + 2) // 2 THEN b END)) / 2.0, 6) AS intercept
        |FROM rr, nd""".stripMargin,
    "ts_stl_decompose" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
        |    CAST(COUNT(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |mn AS (SELECT MIN(d) AS mind FROM daily),
        |pts AS (SELECT d, datediff('day', mind, d) AS x, y FROM daily, mn),
        |t AS (SELECT d, x, y,
        |    SUM(y) OVER (ORDER BY x ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS s7,
        |    COUNT(*) OVER (ORDER BY x ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS c7
        |  FROM pts),
        |t2 AS (SELECT *, CASE WHEN c7 = 7 THEN y * 7 - s7 END AS dts,
        |    x % 7 AS dow FROM t),
        |seas AS (SELECT dow, SUM(dts) AS snum, COUNT(*) AS scnt
        |  FROM t2 WHERE c7 = 7 GROUP BY 1)
        |SELECT strftime(t2.d, '%Y-%m-%d') AS day, y,
        |  CASE WHEN c7 = 7 THEN round(s7 / 7.0, 6) END AS trend,
        |  round(snum / (scnt * 7.0), 6) AS seasonal,
        |  CASE WHEN c7 = 7
        |    THEN round(y - s7 / 7.0 - snum / (scnt * 7.0), 6) END AS residual
        |FROM t2 LEFT JOIN seas USING (dow) ORDER BY day""".stripMargin,
    "ts_cusum_changepoint" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
        |      CAST(COUNT(*) AS BIGINT) AS nd FROM daily),
        |s AS (SELECT d, n,
        |    SUM(n * t.nd - t.total) OVER (ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_scaled
        |  FROM daily, t),
        |m AS (SELECT MIN(s_scaled) AS mns FROM s)
        |SELECT strftime(d, '%Y-%m-%d') AS day, n,
        |  CAST(s_scaled AS BIGINT) AS s_scaled, s_scaled = m.mns AS is_min_cusum
        |FROM s, m ORDER BY day""".stripMargin,
    "flow_path_topk" ->
      """WITH r AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |      FROM r WHERE rn <= 5 GROUP BY 1),
        |c AS (SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users FROM p GROUP BY 1),
        |k AS (SELECT path, n_users,
        |      row_number() OVER (ORDER BY n_users DESC, path) AS rk FROM c)
        |SELECT path, n_users, rk FROM k WHERE rk <= 10 ORDER BY rk""".stripMargin,
    // the naive trailing-range join — equivalent to the contribution explode
    "ts_rolling_wau" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
        |            FROM events),
        |days AS (SELECT DISTINCT d AS rd FROM ud)
        |SELECT days.rd, CAST(COUNT(DISTINCT ud.user_id) AS BIGINT) AS wau
        |FROM days JOIN ud ON ud.d BETWEEN days.rd - 6 AND days.rd
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "flow_cep_pattern" ->
      """WITH l AS (
        |  SELECT user_id, event_id, event_type,
        |    lead(event_type, 1) OVER w AS t1, lead(event_type, 2) OVER w AS t2,
        |    lead(event_type, 3) OVER w AS t3,
        |    lead(event_id, 1) OVER w AS i1, lead(event_id, 2) OVER w AS i2,
        |    lead(event_id, 3) OVER w AS i3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |m AS (SELECT *,
        |    CASE WHEN t1 = 'purchase' THEN 1
        |         WHEN t1 <> 'error' AND t2 = 'purchase' THEN 2
        |         WHEN t1 <> 'error' AND t2 <> 'error' AND t3 = 'purchase' THEN 3
        |    END AS dist
        |  FROM l WHERE event_type = 'view')
        |SELECT user_id, event_id AS view_id,
        |  CASE dist WHEN 1 THEN i1 WHEN 2 THEN i2 ELSE i3 END AS purchase_id,
        |  CAST(dist AS BIGINT) AS dist
        |FROM m WHERE dist IS NOT NULL ORDER BY view_id""".stripMargin,
    // declarative PIT: latest dim version with valid_from <= probe ts
    "join_pit_scd2" ->
      """WITH st AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events WHERE event_type IN ('signup', 'error')),
        |dim AS (
        |  SELECT user_id, ts, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version
        |  FROM st WHERE prev IS NULL OR prev <> event_type),
        |p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, d.event_type AS pit_type,
        |  d.version AS pit_version, strftime(d.ts, '%Y-%m-%d %H:%M:%S') AS valid_from
        |FROM p LEFT JOIN LATERAL (
        |  SELECT event_type, version, ts FROM dim
        |  WHERE dim.user_id = p.user_id AND dim.ts <= p.ts
        |  ORDER BY dim.ts DESC, dim.version DESC LIMIT 1) d ON true
        |ORDER BY p.event_id""".stripMargin,
    "flow_markov_transitions" ->
      """WITH l AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |c AS (SELECT prev_type, event_type AS next_type, COUNT(*) AS n
        |      FROM l WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, n,
        |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE) AS p
        |FROM c ORDER BY prev_type, next_type""".stripMargin,
    // the full recompute — hash-matching it IS the merge identity
    "cdc_incremental_agg" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "win_gaps_islands" ->
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |g AS (SELECT user_id, day,
        |    day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INT) AS anchor
        |  FROM d)
        |SELECT user_id,
        |  strftime(MIN(day), '%Y-%m-%d') AS start_day,
        |  strftime(MAX(day), '%Y-%m-%d') AS end_day,
        |  COUNT(*) AS n_days
        |FROM g GROUP BY user_id, anchor
        |ORDER BY user_id, start_day""".stripMargin,
    "ts_forecast_snaive" ->
      """WITH daily AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
        |    CAST(COUNT(*) AS BIGINT) AS y FROM events GROUP BY 1),
        |pred AS (SELECT d + INTERVAL 7 DAY AS d, y AS yhat FROM daily),
        |sc AS (SELECT daily.y, pred.yhat, abs(daily.y - pred.yhat) AS abs_err,
        |    CAST(round(abs(daily.y - pred.yhat) * 1000000.0 / daily.y) AS BIGINT) AS ape_micro
        |  FROM daily JOIN pred ON daily.d = pred.d)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
        |  CAST(COUNT(*) AS BIGINT) AS n_scored,
        |  round(CAST(SUM(abs_err) AS DOUBLE) / COUNT(*), 6) AS mae,
        |  round(CAST(SUM(ape_micro) AS DOUBLE) / COUNT(*) / 10000.0, 6) AS mape_pct
        |FROM sc""".stripMargin,
    "flow_gap_percentiles" ->
      """WITH g AS (SELECT user_id, event_id, epoch_us(ts) AS t,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pt
        |  FROM events),
        |v AS (SELECT CAST(t - pt AS DOUBLE) AS v FROM g WHERE pt IS NOT NULL),
        |r AS (SELECT v, row_number() OVER (ORDER BY v) AS r FROM v),
        |n AS (SELECT COUNT(*) AS n FROM v),
        |sp AS (SELECT p100, n, p100 * (n - 1) AS pos100
        |  FROM (VALUES (50), (90), (99)) AS t(p100), n),
        |sp2 AS (SELECT p100, n, pos100 // 100 + 1 AS lo, pos100 % 100 AS m FROM sp),
        |pick AS (SELECT sp2.p100, MAX(sp2.n) AS n, MAX(sp2.m) AS m,
        |    MAX(CASE WHEN r.r = sp2.lo THEN v END) AS vlo,
        |    MAX(CASE WHEN r.r = sp2.lo + 1 THEN v END) AS vhi
        |  FROM sp2 JOIN r ON r.r BETWEEN sp2.lo AND sp2.lo + 1 GROUP BY 1)
        |SELECT p100 / 100.0 AS pct, CAST(n AS BIGINT) AS n,
        |  round(vlo + (m * (COALESCE(vhi, vlo) - vlo)) / 100.0, 6) AS value
        |FROM pick ORDER BY pct""".stripMargin,
    "flow_attribution_linear" ->
      """WITH p AS (SELECT user_id, event_id AS pid, epoch_us(ts) AS pts,
        |    CAST(round(value * 100, 0) AS BIGINT) * 10000 AS ucents
        |  FROM events WHERE event_type = 'purchase' AND value >= 0),
        |t AS (SELECT user_id, event_id AS tid, epoch_us(ts) AS tts,
        |    event_type AS channel
        |  FROM events WHERE event_type IN ('click', 'view')),
        |pr AS (SELECT p.pid, p.ucents, t.tid, t.tts, t.channel
        |  FROM p JOIN t USING (user_id)
        |  WHERE t.tts <= p.pts AND p.pts - t.tts <= 604800000000),
        |c AS (SELECT pid, channel, ucents,
        |    COUNT(*) OVER (PARTITION BY pid) AS n,
        |    row_number() OVER (PARTITION BY pid ORDER BY tts, tid) AS trk
        |  FROM pr),
        |cr AS (SELECT channel, pid,
        |    ucents // n + CASE WHEN trk <= ucents % n THEN 1 ELSE 0 END AS credit
        |  FROM c),
        |att AS (SELECT channel, CAST(SUM(credit) AS BIGINT) AS credit_ucents,
        |    COUNT(*) AS n_touch_credits,
        |    CAST(COUNT(DISTINCT pid) AS BIGINT) AS n_purchases
        |  FROM cr GROUP BY 1),
        |no AS (SELECT '(none)' AS channel,
        |    CAST(COALESCE(SUM(ucents), 0) AS BIGINT) AS credit_ucents,
        |    COUNT(*) AS n_touch_credits, COUNT(*) AS n_purchases
        |  FROM p WHERE pid NOT IN (SELECT DISTINCT pid FROM pr))
        |SELECT * FROM att UNION ALL SELECT * FROM no ORDER BY channel""".stripMargin,
    "attribution_last_touch" ->
      """WITH e AS (SELECT user_id, event_id, ts, event_type,
        |    last_value(CASE WHEN event_type = 'click'
        |        THEN struct_pack(cts := ts, cid := event_id) END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lc
        |  FROM events),
        |p AS (SELECT user_id, event_id AS purchase_id,
        |    epoch_us(ts) - epoch_us(lc.cts) AS gap_us,
        |    lc.cid AS cid,
        |    (lc IS NOT NULL AND epoch_us(ts) - epoch_us(lc.cts) <= 604800000000) AS hit
        |  FROM e WHERE event_type = 'purchase')
        |SELECT user_id, purchase_id,
        |  CASE WHEN hit THEN cid ELSE -1 END AS click_id,
        |  CASE WHEN hit THEN gap_us // 1000000 ELSE -1 END AS gap_s
        |FROM p ORDER BY purchase_id""".stripMargin,
    "assoc_basket_pairs" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |n AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders FROM b),
        |item AS (SELECT p, COUNT(*) AS cnt FROM b GROUP BY p),
        |pr AS (SELECT a.p AS p_a, b2.p AS p_b, COUNT(*) AS pair_cnt
        |  FROM b a JOIN b b2 ON a.o = b2.o AND a.p < b2.p
        |  GROUP BY 1, 2
        |  HAVING COUNT(*) >= greatest(2, (SELECT n_orders FROM n) // 75000))
        |SELECT pr.p_a, pr.p_b, pr.pair_cnt,
        |  round(CAST(pr.pair_cnt AS DOUBLE) / ia.cnt, 6) AS conf_ab,
        |  round(CAST(pr.pair_cnt AS DOUBLE) * (SELECT n_orders FROM n) /
        |    (ia.cnt * ib.cnt), 6) AS lift
        |FROM pr JOIN item ia ON pr.p_a = ia.p JOIN item ib ON pr.p_b = ib.p
        |ORDER BY p_a, p_b""".stripMargin,
    "flow_retention_cohort" ->
      """WITH wk AS (SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
        |co AS (SELECT user_id, MIN(wk) AS cohort_wk FROM wk GROUP BY user_id),
        |sz AS (SELECT cohort_wk, COUNT(*) AS cohort_size FROM co GROUP BY cohort_wk),
        |act AS (
        |  SELECT co.cohort_wk, datediff('day', co.cohort_wk, wk.wk) // 7 AS week_offset,
        |    CAST(COUNT(DISTINCT wk.user_id) AS BIGINT) AS n_active
        |  FROM wk JOIN co ON wk.user_id = co.user_id GROUP BY 1, 2)
        |SELECT strftime(act.cohort_wk, '%Y-%m-%d') AS cohort_week, week_offset,
        |  n_active, cohort_size,
        |  CAST(n_active AS DOUBLE) / cohort_size AS retention
        |FROM act JOIN sz ON act.cohort_wk = sz.cohort_wk
        |ORDER BY cohort_week, week_offset""".stripMargin,
    "cdc_diff_snapshots" ->
      """WITH b AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.05
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 11 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, 'N', o_totalprice
        |  FROM orders WHERE o_orderkey % 13 = 0),
        |d AS (
        |  SELECT a.o_orderkey AS a_key, a.o_orderstatus AS a_st,
        |    a.o_totalprice AS a_price, b.o_orderkey AS b_key,
        |    b.o_orderstatus AS b_st, b.o_totalprice AS b_price
        |  FROM orders a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey)
        |SELECT coalesce(a_key, b_key) AS o_orderkey,
        |  CASE WHEN a_key IS NULL THEN 'added'
        |       WHEN b_key IS NULL THEN 'removed'
        |       WHEN a_st <> b_st OR a_price <> b_price THEN 'changed'
        |  END AS change_type,
        |  a_st AS old_status, b_st AS new_status,
        |  a_price AS old_price, b_price AS new_price
        |FROM d
        |WHERE a_key IS NULL OR b_key IS NULL OR a_st <> b_st OR a_price <> b_price
        |ORDER BY o_orderkey""".stripMargin,
    "cdc_upsert" ->
      """WITH ch AS (
        |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
        |         o_totalprice * 1.05 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey, 'N', o_totalprice
        |  FROM orders WHERE o_orderkey % 13 = 0)
        |SELECT
        |  coalesce(c.o_orderkey, b.o_orderkey) AS o_orderkey,
        |  coalesce(c.o_custkey, b.o_custkey) AS o_custkey,
        |  coalesce(c.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
        |  coalesce(c.o_totalprice, b.o_totalprice) AS o_totalprice
        |FROM orders b FULL OUTER JOIN ch c ON b.o_orderkey = c.o_orderkey
        |ORDER BY o_orderkey""".stripMargin,
    "funnel_conversion" ->
      """WITH v AS (SELECT user_id, MIN(ts) AS t_prev FROM events
        |           WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, MIN(e.ts) AS t_prev FROM events e
        |      JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.t_prev
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, MIN(e.ts) AS t_prev FROM events e
        |      JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.t_prev
        |      GROUP BY e.user_id)
        |SELECT (SELECT COUNT(*) FROM v) AS n_view,
        |  (SELECT COUNT(*) FROM c) AS n_click,
        |  (SELECT COUNT(*) FROM p) AS n_purchase,
        |  CAST((SELECT COUNT(*) FROM c) AS DOUBLE)
        |    / (SELECT COUNT(*) FROM v) AS cr_click,
        |  CAST((SELECT COUNT(*) FROM p) AS DOUBLE)
        |    / (SELECT COUNT(*) FROM c) AS cr_purchase""".stripMargin,
    "sessionize_events" ->
      """WITH l AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |b AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |      OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS is_new
        |  FROM l),
        |s AS (
        |  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM b)
        |SELECT user_id, session_seq,
        |  COUNT(*) AS n_events,
        |  CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
        |  MIN(ts) AS t_start, MAX(ts) AS t_end,
        |  (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000 AS dur_s
        |FROM s GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,
    "cdc_scd2" ->
      """WITH c AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |ch AS (SELECT * FROM c WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT user_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version,
        |  event_type, ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
        |  CASE WHEN lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |       THEN 1 ELSE 0 END AS is_current
        |FROM ch ORDER BY user_id, version""".stripMargin,
  )
}
