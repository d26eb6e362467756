package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanUtil.bind

/** Modern SQL-surface pack (Spark 4 features): VARIANT semi-structured
  * access, LATERAL correlated subqueries, recursive CTEs, PIVOT/UNPIVOT
  * and GROUP BY ALL — the SQL entry points a user of the engine gets
  * beyond the DataFrame API — plus the TPC-H shapes as DataFrame plans.
  * SQL text names its tables plainly, and
  * [[org.apache.spark.sql.graft.PlanUtil.bind]] binds each name to the
  * corpus's frame, so no query reads or changes the session catalog.
  */
object Sql {

  type Q = (SparkSession, String) => DataFrame

  /** VARIANT (Spark 4 native semi-structured type): parse once, extract
    * typed fields — the open-schema path for event payloads. At scale
    * VARIANT beats string re-parsing per access (binary encoding, shredded
    * access), which is exactly what an events pipeline wants.
    */
  private val variant: Q = (s, dir) =>
    bind(s, """SELECT event_id,
      |  variant_get(pv, '$.k', 'bigint') AS k_val,
      |  variant_get(pv, '$.k', 'bigint') * 2 AS k_doubled,
      |  variant_get(pv, '$.missing', 'bigint') AS absent
      |FROM (SELECT event_id, try_parse_json(props) AS pv
      |      FROM events WHERE event_id % 20 = 0)
      |ORDER BY event_id""".stripMargin)("events" -> Tables(s, dir, "events"))

  /** LATERAL correlated subquery: each customer's single most expensive
    * order — the per-row top-1 idiom SQL users reach for. (Catalyst
    * decorrelates this into a join, so it stays distributed.)
    */
  private val lateralTopk: Q = (s, dir) =>
    bind(s, """SELECT c_custkey, t.o_orderkey, t.o_totalprice
      |FROM customer, LATERAL (
      |  SELECT o_orderkey, o_totalprice FROM orders
      |  WHERE o_custkey = c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t
      |ORDER BY c_custkey""".stripMargin)(
      "customer" -> Tables(s, dir, "customer"), "orders" -> Tables(s, dir, "orders"))

  /** Recursive CTE (Spark 4): a generated key spine joined back to real
    * tables with a correlated count per step.
    */
  private val recursiveCte: Q = (s, dir) =>
    bind(s, """WITH RECURSIVE r(k) AS (
      |  SELECT 0 UNION ALL SELECT k + 1 FROM r WHERE k < 24)
      |SELECT k, n_name,
      |  (SELECT COUNT(*) FROM customer WHERE c_nationkey = k) AS n_cust
      |FROM r JOIN nation ON n_nationkey = k
      |ORDER BY k""".stripMargin)(
      "nation" -> Tables(s, dir, "nation"), "customer" -> Tables(s, dir, "customer"))

  /** TPC-H Q5-shaped star join: revenue per nation for one region and one
    * order year, across customer ⨝ orders ⨝ lineitem ⨝ supplier ⨝ nation ⨝
    * region with the local-supplier constraint (c_nationkey = s_nationkey).
    * Revenue is computed in EXACT integer units of 1e-4 dollars —
    * cents(price) * (100 - discount_pct) — because the textbook
    * sum(l_extendedprice * (1 - l_discount)) is a double sum whose value
    * depends on partition merge order; the integer form is bit-identical
    * across engines and partitionings. Plan shape at 100 TB: nation +
    * region + supplier broadcast; orders is filtered by date BEFORE the
    * orderkey shuffle against lineitem (the one unavoidable big shuffle);
    * the final agg has 25 groups, all map-side collapsed.
    */
  private val starRevenue: Q = (s, dir) => {
    val li = Tables(s, dir, "lineitem")
    val o = Tables(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1997-01-01"))
    val c = Tables(s, dir, "customer")
    val su = Tables(s, dir, "supplier")
    val n = Tables(s, dir, "nation")
    val r = Tables(s, dir, "region").filter(col("r_name") === "ASIA")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(su), col("l_suppkey") === col("s_suppkey")
        && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(
        sum(expr("cast(round(l_extendedprice * 100, 0) as bigint) * (100 - cast(round(l_discount * 100, 0) as bigint))"))
          .as("revenue_e4"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue_e4").desc, col("n_name"))
  }

  /** TPC-H Q3-shaped shipping-priority query: top-10 unshipped orders by
    * revenue for one market segment (orders placed before / lines shipped
    * after the cutoff). Revenue uses the same exact 1e-4-dollar integer
    * units as [[starRevenue]] (double sums are merge-order-dependent).
    * Plan shape at 100 TB: both fact filters cut BEFORE the orderkey
    * shuffle, the customer join keys on o_custkey, and the top-10 is
    * TakeOrderedAndProject — per-partition heaps, never a global sort.
    */
  private val q3Shipping: Q = (s, dir) => {
    val c = Tables(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
    val o = Tables(s, dir, "orders")
      .filter(col("o_orderdate") < lit("1996-07-01"))
    val li = Tables(s, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1996-07-01"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(
        sum(expr("cast(round(l_extendedprice * 100, 0) as bigint) * (100 - cast(round(l_discount * 100, 0) as bigint))"))
          .as("revenue_e4"),
        count(lit(1)).as("n_items"))
      .select(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("revenue_e4"), col("n_items"))
      .orderBy(col("revenue_e4").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q18 shape ("large-volume customers"): a HAVING-gated
    * aggregation of the LARGEST table feeds an IN-subquery that gates
    * the join back to orders + customer. Catalyst turns the IN into a
    * semi-join against the aggregated (small) side, so the 100 TB plan
    * is: one map-side-combining agg of lineitem, a broadcast/keyed
    * semi-join, then dimension joins — the fact table is never joined
    * to itself row-for-row. Quantities are exact cents so the HAVING
    * threshold and output sums hash cross-engine.
    */
  private val q18BigOrders: Q = (s, dir) =>
    bind(s, """SELECT c_custkey, o_orderkey,
      |  date_format(o_orderdate, 'yyyy-MM-dd') AS order_date,
      |  cast(round(o_totalprice * 100, 0) as bigint) AS total_cents,
      |  sum(cast(round(l_quantity * 100, 0) as bigint)) AS sum_qty_c,
      |  cast(count(*) as bigint) AS n_lines
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |              JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE o_orderkey IN (
      |  SELECT l_orderkey FROM lineitem
      |  GROUP BY l_orderkey
      |  HAVING sum(cast(round(l_quantity * 100, 0) as bigint)) > 20000)
      |GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
      |ORDER BY total_cents DESC, o_orderkey
      |LIMIT 20""".stripMargin)(
      "customer" -> Tables(s, dir, "customer"), "orders" -> Tables(s, dir, "orders"),
      "lineitem" -> Tables(s, dir, "lineitem"))

  /** GROUP BY ALL / ORDER BY ALL — the modern SQL shorthand (every
    * non-aggregate select item becomes a grouping key). Pure parser
    * surface; the plan is the identical hash aggregate, so the oracle is
    * the explicit form.
    */
  private val groupByAll: Q = (s, dir) =>
    bind(s, """SELECT o_orderstatus, o_orderpriority,
      |  count(1) AS n,
      |  cast(sum(cast(round(o_totalprice * 100, 0) as bigint)) as bigint) AS cents
      |FROM orders GROUP BY ALL ORDER BY ALL""".stripMargin)(
      "orders" -> Tables(s, dir, "orders"))

  /** Spark 4 collations: grouping under UTF8_LCASE is case-insensitive
    * at the COLLATION level (no expression rewrites). Mixed-case keys
    * are injected deterministically; the emitted group label is
    * lower()'d because the collation's representative key is
    * engine-internal, and the DuckDB oracle groups by lower() — same
    * partitions, portable labels.
    */
  private val collationLcase: Q = (s, dir) => {
    Tables(s, dir, "customer")
      .withColumn("seg_mixed",
        when(col("c_custkey") % 2 === 0, upper(col("c_mktsegment")))
          .otherwise(initcap(lower(col("c_mktsegment")))))
      .withColumn("k", expr("collate(seg_mixed, 'UTF8_LCASE')"))
      .groupBy("k")
      .agg(count(lit(1)).as("n"),
        max(expr("cast(lower(seg_mixed) AS string)")).as("segment"))
      .select(col("segment"), col("n"))
      .orderBy("segment")
  }

  /** SQL UNPIVOT clause (wide → long in the parser, not a stack() call):
    * the relational-reshape surface SQL users expect. Catalyst plans it
    * as the same Expand a stack() projection gets — one scan, rows × 3
    * out — so the syntax is free at scale.
    */
  private val sqlUnpivot: Q = (s, dir) =>
    bind(s, """SELECT o_orderstatus, metric, val
      |FROM (
      |  SELECT o_orderstatus,
      |    CAST(COUNT(*) AS BIGINT) AS n_total,
      |    CAST(COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT) AS n_urgent,
      |    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust
      |  FROM orders GROUP BY o_orderstatus)
      |UNPIVOT (val FOR metric IN (n_total, n_urgent, n_cust))
      |ORDER BY o_orderstatus, metric""".stripMargin)("orders" -> Tables(s, dir, "orders"))

  /** SQL PIVOT clause with MULTIPLE aggregates per cell — long → wide in
    * the parser. Money pivots in exact integer cents (a double SUM per
    * cell would be merge-order-dependent); empty cells coalesce to 0 on
    * both engines (Spark pivot yields NULL, DuckDB FILTER COUNT yields 0
    * — the r2 pivot lesson). The explicit value list avoids the
    * distinct-values pre-scan a dynamic pivot pays at 100 TB.
    */
  private val sqlPivot: Q = (s, dir) =>
    bind(s, """SELECT o_orderstatus,
      |  coalesce(urgent_n, 0L) AS urgent_n,
      |  coalesce(urgent_cents, 0L) AS urgent_cents,
      |  coalesce(high_n, 0L) AS high_n,
      |  coalesce(high_cents, 0L) AS high_cents
      |FROM (SELECT o_orderstatus, o_orderpriority,
      |        CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
      |PIVOT (COUNT(*) AS n, SUM(cents) AS cents
      |       FOR o_orderpriority IN ('1-URGENT' AS urgent, '2-HIGH' AS high))
      |ORDER BY o_orderstatus""".stripMargin)("orders" -> Tables(s, dir, "orders"))

  /** TPC-H Q21 shape ("suppliers who kept orders waiting"), adapted to
    * this corpus (no l_receiptdate/l_commitdate columns — lateness is
    * shipped > 75 days after the order date; no nation filter — 100
    * suppliers bound the output). The textbook form quantifies twice
    * over lineitem (EXISTS another-supplier line, NOT EXISTS another
    * late-supplier line) — at 100 TB that is two extra fact self-joins.
    * The engine runs the single-scan rewrite: lineitem joins 'F' orders
    * ONCE (the unavoidable orderkey shuffle), collapses to
    * (order, supplier) grain map-side (n_late_lines per supplier), then
    * to order grain via two orderkey WINDOWS (n_supp, n_late_supp —
    * window, not join-back, so the collapsed frame is never recomputed)
    * — and the waiting predicate replays both quantifiers exactly:
    * EXISTS(other supplier) ⇔ n_supp ≥ 2 (the line's own supplier is on
    * the order), and NOT EXISTS(other late supplier) ⇔ n_late_supp = 1
    * given this supplier is late (the late-supplier set is exactly
    * {this one}). The windows run at (order, supplier) grain with
    * suppliers-per-order-bounded partitions, supplier is broadcast, and
    * numwait sums the pre-aggregated late-line counts — the DuckDB
    * oracle runs the textbook correlated form, so the rewrite's
    * equivalence is hash-verified cross-engine, not asserted (and
    * RoundSixteenOpsSpec pins the single fact scan + the in-Spark
    * equivalence of the two forms).
    */
  private val q21Waiting: Q = (s, dir) => {
    val o = Tables(s, dir, "orders").filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("l_orderkey")
    Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      // ONE orderkey exchange for the whole pipeline (r17): hash-
      // partitioning on l_orderkey alone satisfies the (l_orderkey,
      // l_suppkey) aggregation's clustered distribution AND the two
      // orderkey windows', so the former pair of exchanges — (ok, sk)
      // for the agg, then ok again for the windows — collapses to this
      // one. The agg barely collapsed rows anyway (suppliers are ~one
      // line per (order, supplier) here), so shuffling line grain once
      // moves fewer bytes than shuffling (order, supplier) grain twice;
      // order size bounds the partition skew.
      .repartition(col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(count(when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 75 DAYS"),
        lit(1))).as("n_late_lines"))
      .withColumn("n_supp", count(lit(1)).over(w))
      .withColumn("n_late_supp",
        count(when(col("n_late_lines") > 0, lit(1))).over(w))
      .filter(col("n_late_lines") > 0 && col("n_supp") >= 2 && col("n_late_supp") === 1)
      .join(broadcast(Tables(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(sum(col("n_late_lines")).cast("long").as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
  }

  /** TPC-H Q17 shape ("small-quantity-order revenue"): lines whose
    * quantity is below 20% of their part's average, for one brand/size
    * slice. The textbook correlated subquery re-aggregates lineitem per
    * outer row; the engine broadcasts the filtered part-key set into the
    * ONE lineitem scan, computes the per-part (Σqty, n) over the
    * surviving lines with a partkey window (the correlated domain — the
    * brand filter is at part grain, so a part's line set is unchanged by
    * it), and replays `qty < 0.2·avg` as the EXACT integer cross-product
    * `qty_c · 5 · n < Σqty_c` — no division, no doubles, so the
    * threshold decision hashes identically in DuckDB. Plan shape at
    * 100 TB: one broadcast semi-reduction of the fact scan, one
    * partkey-bounded exchange, a 1-row final agg.
    */
  private val q17SmallQty: Q = (s, dir) => {
    val pk = Tables(s, dir, "part")
      .filter(col("p_brand") === "Brand#4" && col("p_size") <= 25)
      .select(col("p_partkey"))
    val lf = Tables(s, dir, "lineitem")
      .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"),
        expr("cast(round(l_quantity * 100, 0) as bigint)").as("qty_c"),
        expr("cast(round(l_extendedprice * 100, 0) as bigint)").as("price_c"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("l_partkey")
    lf.withColumn("sum_qty_c", sum(col("qty_c")).over(w))
      .withColumn("n_part_lines", count(lit(1)).over(w))
      .filter(col("qty_c") * 5 * col("n_part_lines") < col("sum_qty_c"))
      .agg(sum(col("price_c")).cast("long").as("revenue_cents"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q13 shape ("customer order-count distribution"), adapted:
    * the excluded-comment predicate becomes an order-priority exclusion
    * (no o_comment column in this corpus). The textbook form LEFT JOINs
    * raw orders to customer and counts after the join; the engine
    * aggregates orders to (custkey, n) FIRST — map-side combine on the
    * fact table, so the join ships one row per active customer, never
    * per order — then left-joins customer and coalesces the no-order
    * customers to 0. The final distribution agg is bounded by the max
    * orders-per-customer domain. The DuckDB oracle runs the textbook
    * join-then-count form, hash-verifying the rewrite.
    */
  private val q13CustDist: Q = (s, dir) => {
    val oc = Tables(s, dir, "orders")
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
    Tables(s, dir, "customer").select(col("c_custkey"))
      .join(oc, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("n"), lit(0L)).as("c_count"))
      .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q15 shape ("top supplier", WITH TIES): suppliers whose
    * quarterly revenue equals the maximum. The textbook form compares
    * each supplier against a scalar `(SELECT MAX(...) FROM rev)` — a
    * second evaluation of the revenue view. The engine aggregates
    * lineitem to supplier grain ONCE (the date filter is pushed to the
    * scan; the agg combines map-side) and takes the max as an
    * unpartitioned window over the AGGREGATED frame — supplier-domain-
    * bounded rows (the vocab-table precedent), never lineitem-sized, so
    * the fact table is scanned exactly once and no global sort exists
    * (ties survive, which TakeOrdered(1) would drop). Revenue is the
    * exact 1e-4-dollar integer of [[starRevenue]].
    */
  private val q15TopSupplier: Q = (s, dir) => {
    val rev = Tables(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1996-04-01"))
      .groupBy(col("l_suppkey"))
      .agg(sum(expr("cast(round(l_extendedprice * 100, 0) as bigint) * (100 - cast(round(l_discount * 100, 0) as bigint))"))
        .cast("long").as("total_e4"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    rev.withColumn("mx", max(col("total_e4")).over(w))
      .filter(col("total_e4") === col("mx"))
      .join(broadcast(Tables(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_e4"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q22 shape ("idle well-funded customers"), adapted: customers
    * with an above-average positive balance and no orders since the
    * cutoff (the reference's 7-year country-code slice needs columns
    * this corpus lacks). Two textbook correlations: a scalar average
    * subquery and a NOT EXISTS. The engine folds the scalar into ONE
    * (Σcents, n) aggregate broadcast-crossed into the customer scan —
    * `bal > avg` replayed as the exact integer `cents·n > Σcents`, no
    * division — and the anti-quantifier into a left-anti join against
    * the DISTINCT recent-orderer keys (distinct first: the anti probe
    * ships one row per recent customer, not per order). Output is
    * nation-grain via a broadcast dimension join.
    */
  private val q22IdleBalance: Q = (s, dir) => {
    val cents = expr("cast(round(c_acctbal * 100, 0) as bigint)")
    val stats = Tables(s, dir, "customer").filter(col("c_acctbal") > 0)
      .agg(sum(cents).as("sum_pos_cents"), count(lit(1)).as("n_pos"))
    val recent = Tables(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1999-01-01"))
      .select(col("o_custkey")).distinct()
    Tables(s, dir, "customer")
      .crossJoin(broadcast(stats))
      .filter(cents * col("n_pos") > col("sum_pos_cents"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(Tables(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_cust"), sum(cents).cast("long").as("total_cents"))
      .orderBy(col("n_name"))
  }

  /** TPC-H Q4 shape ("order-priority checking"), adapted: the corpus has
    * no l_commitdate/l_receiptdate, so a late order is one with ANY line
    * shipped > 75 days after the order date (the q21 lateness rule) —
    * which makes the textbook EXISTS correlated on the OUTER row's
    * o_orderdate, not self-contained in lineitem. The engine joins the
    * date-windowed orders to the LATE-candidate lines once (a static
    * shipdate bound derived from the window cuts the fact scan first)
    * and replays the quantifier as COUNT(DISTINCT orderkey) per
    * priority — only late lines ever cross the exchange. The DuckDB
    * oracle runs the textbook EXISTS form, hash-verifying the rewrite.
    */
  private val q4Priority: Q = (s, dir) => {
    val o = Tables(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1997-01-01"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    // only LATE lines can witness the EXISTS, and a late line of a
    // windowed order necessarily ships after window-start + 75 days —
    // a static bound that reaches the parquet reader and cuts the fact
    // side BEFORE the join (the 64× probe's 38.4 M-line exchange
    // dropped to the post-cut stream; 15-27 s → 4.2 s, BASELINE.md)
    Tables(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
      .filter(col("l_shipdate") > lit("1996-03-16"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 75 DAYS"))
      .groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("o_orderkey")).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** TPC-H Q7 shape ("volume shipping"): bilateral trade between two
    * nations by ship year. Plan shape at 100 TB: both nation-filtered
    * dimension sides (supplier⨝nation, customer⨝nation — 2 of 25
    * nations each) broadcast into the fact scans, so lineitem is cut to
    * the two nations' suppliers BEFORE its orderkey shuffle against
    * orders; the (supp, cust) direction filter is a residual on the
    * joined row; the final agg is (2 directions × years)-bounded.
    * Revenue in exact 1e-4-dollar integers ([[starRevenue]]).
    */
  private val q7Volume: Q = (s, dir) => {
    val nations = Seq("NATION_18", "NATION_19")
    val sn = Tables(s, dir, "supplier")
      .join(broadcast(Tables(s, dir, "nation").filter(col("n_name").isin(nations: _*))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cn = Tables(s, dir, "customer")
      .join(broadcast(Tables(s, dir, "nation").filter(col("n_name").isin(nations: _*))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    Tables(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1998-01-01"))
      .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
      .join(Tables(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(cn, col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(sum(expr("cast(round(l_extendedprice * 100, 0) as bigint) * (100 - cast(round(l_discount * 100, 0) as bigint))"))
        .cast("long").as("revenue_e4"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** TPC-H Q8 shape ("national market share"): one nation's share of
    * ECONOMY-part revenue sold into EUROPE, by order year. The textbook
    * emits a double division; the engine returns BOTH the numerator and
    * denominator as exact 1e-4-dollar integers — the share is a trivial
    * client-side ratio, and the integers hash cross-engine while a
    * summed double would be partition-merge-order-dependent. Plan shape
    * at 100 TB: the part slice broadcast-semi-cuts the fact scan first,
    * supplier/nation/region broadcast, orders carries the year, customer
    * gates the market region — one orderkey and one custkey exchange.
    */
  private val q8MarketShare: Q = (s, dir) => {
    val pk = Tables(s, dir, "part").filter(col("p_type") === "ECONOMY")
      .select(col("p_partkey"))
    val sn = Tables(s, dir, "supplier")
      .join(broadcast(Tables(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val euCust = Tables(s, dir, "customer")
      .join(broadcast(Tables(s, dir, "nation")
        .join(broadcast(Tables(s, dir, "region").filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val rev = expr("cast(round(l_extendedprice * 100, 0) as bigint) * (100 - cast(round(l_discount * 100, 0) as bigint))")
    Tables(s, dir, "lineitem")
      .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
      .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
      .join(Tables(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1998-01-01"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(euCust, col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(sum(when(col("supp_nation") === "NATION_19", rev).otherwise(lit(0L)))
        .cast("long").as("nation_e4"),
        sum(rev).cast("long").as("total_e4"))
      .orderBy(col("o_year"))
  }

  /** TPC-H Q9 shape ("product-type profit"), adapted: the corpus has no
    * partsupp, so line cost is p_retailprice·quantity and profit_e4 =
    * price_c·(100−disc_pct) − qty_c·retail_c — both terms in the same
    * exact 1e-4-dollar units, so the (possibly negative) profit hashes
    * cross-engine with no doubles. Parts matched by name substring
    * ('%red%'). Plan shape at 100 TB: the name-filtered part slice
    * (with its cost column) broadcasts into the fact scan, supplier⨝
    * nation broadcasts for the profit-center grain, and the only big
    * exchange is lineitem⨝orders on orderkey for the year — then a
    * (nation × year)-bounded agg.
    */
  private val q9Profit: Q = (s, dir) => {
    val pr = Tables(s, dir, "part").filter(col("p_name").like("%red%"))
      .select(col("p_partkey"),
        expr("cast(round(p_retailprice * 100, 0) as bigint)").as("retail_c"))
    val sn = Tables(s, dir, "supplier")
      .join(broadcast(Tables(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation"))
    Tables(s, dir, "lineitem")
      .join(broadcast(pr), col("l_partkey") === col("p_partkey"))
      .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
      .join(Tables(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(sum(expr(
        """cast(round(l_extendedprice * 100, 0) as bigint) * (100 - cast(round(l_discount * 100, 0) as bigint))
          | - cast(round(l_quantity * 100, 0) as bigint) * retail_c""".stripMargin))
        .cast("long").as("profit_e4"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** TPC-H Q10 shape ("returned-item reporting"): top-20 customers by
    * revenue of returned lines in one quarter. Plan shape at 100 TB:
    * the quarter filter cuts orders BEFORE the orderkey shuffle, the
    * returnflag filter is pushed into the lineitem scan, nation
    * broadcasts, and the top-20 is TakeOrderedAndProject — per-partition
    * heaps over the (active customer)-bounded aggregate, never a global
    * sort. Revenue exact-integer as everywhere in this pack.
    */
  private val q10Returns: Q = (s, dir) => {
    Tables(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      .join(Tables(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-10-01") && col("o_orderdate") < lit("1997-01-01"))
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(sum(expr("cast(round(l_extendedprice * 100, 0) as bigint) * (100 - cast(round(l_discount * 100, 0) as bigint))"))
        .cast("long").as("revenue_e4"))
      .select(col("c_custkey"), col("c_name"),
        expr("cast(round(c_acctbal * 100, 0) as bigint)").as("bal_cents"),
        col("n_name"), col("revenue_e4"))
      .orderBy(col("revenue_e4").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q14 shape ("promotion effect"): PROMO-part share of one
    * month's revenue. Like [[q8MarketShare]], the engine emits exact
    * integer numerator + denominator instead of the textbook's double
    * ratio. Plan shape at 100 TB: the month filter is pushed into the
    * fact scan, the part dimension broadcasts (its p_type decides the
    * numerator), and the result is a 1-row conditional aggregate — one
    * scan, zero non-broadcast exchanges beyond the final fold.
    */
  private val q14Promo: Q = (s, dir) => {
    val rev = expr("cast(round(l_extendedprice * 100, 0) as bigint) * (100 - cast(round(l_discount * 100, 0) as bigint))")
    Tables(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-09-01") && col("l_shipdate") < lit("1996-10-01"))
      .join(broadcast(Tables(s, dir, "part").select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .agg(sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0L)))
        .cast("long").as("promo_e4"),
        sum(rev).cast("long").as("total_e4"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q19 shape ("discounted revenue", disjunctive predicates),
    * adapted to this corpus's columns (no p_container): three
    * brand/size/quantity bands OR'd together. The textbook phrasing
    * puts the whole disjunction in the join's WHERE; a naive engine
    * nested-loops it. This engine joins lineitem⨝part on the EQUI key
    * once (part broadcast) and evaluates the OR as a codegen residual —
    * and the part side is pre-cut to the union of the three brand/size
    * slices (the only parts any disjunct can accept), so the broadcast
    * ships hundreds of rows, not the dimension. One scan, 1-row agg.
    */
  private val q19Disjunct: Q = (s, dir) => {
    val pSlice = Tables(s, dir, "part")
      .filter((col("p_brand") === "Brand#12" && col("p_size").between(1, 5))
        || (col("p_brand") === "Brand#23" && col("p_size").between(1, 10))
        || (col("p_brand") === "Brand#3" && col("p_size").between(1, 15)))
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    Tables(s, dir, "lineitem")
      .join(broadcast(pSlice), col("l_partkey") === col("p_partkey"))
      .filter((col("p_brand") === "Brand#12" && col("p_size").between(1, 5)
          && col("l_quantity").between(1, 11))
        || (col("p_brand") === "Brand#23" && col("p_size").between(1, 10)
          && col("l_quantity").between(10, 20))
        || (col("p_brand") === "Brand#3" && col("p_size").between(1, 15)
          && col("l_quantity").between(20, 30)))
      .agg(sum(expr("cast(round(l_extendedprice * 100, 0) as bigint) * (100 - cast(round(l_discount * 100, 0) as bigint))"))
        .cast("long").as("revenue_e4"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q2 shape ("minimum-cost supplier"), adapted: no partsupp
    * table, so a part's candidate suppliers are the DISTINCT
    * (partkey, suppkey) pairs observed in lineitem, and "cost" is the
    * supplier's account balance (ties kept, as the textbook's equality
    * does). The textbook correlates a scalar MIN subquery per outer
    * row — a second evaluation of the pair set. The engine builds the
    * pair set ONCE (fact scan collapsed to distinct pairs, pre-cut by
    * the broadcast part slice), broadcasts supplier onto it, and
    * replays the correlation as a partkey-window MIN over the
    * aggregated frame (pair-domain-bounded, the q15 discipline — never
    * lineitem-sized). The DuckDB oracle runs the correlated form.
    */
  private val q2MinBal: Q = (s, dir) => {
    val pk = Tables(s, dir, "part")
      .filter(col("p_size") === 15 && col("p_type") === "STANDARD")
      .select(col("p_partkey"), col("p_name"))
    val pairs = Tables(s, dir, "lineitem")
      .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
      .select(col("p_partkey"), col("p_name"), col("l_suppkey")).distinct()
      .join(broadcast(Tables(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("p_partkey")
    pairs.withColumn("min_bal", min(col("s_acctbal")).over(w))
      .filter(col("s_acctbal") === col("min_bal"))
      .select(col("p_partkey"), col("p_name"), col("s_suppkey"), col("s_name"),
        expr("cast(round(s_acctbal * 100, 0) as bigint)").as("bal_cents"))
      .orderBy(col("bal_cents"), col("p_partkey"), col("s_suppkey"))
  }

  /** TPC-H Q6 shape ("forecast revenue change"): the pure scan-aggregate
    * — a date window, a discount band, a quantity cap, no joins. The
    * discount band is decided on the EXACT integer percent (a double
    * BETWEEN on 0.05..0.07 is representation-dependent at the
    * boundary); a redundant, wider double range filter is kept because
    * IT reaches the parquet reader as a pushed min/max predicate while
    * the rounded-integer form cannot — row groups skip on the coarse
    * range, the exact band decides per row. At 100 TB this query IS the
    * scan; everything else is a 1-row map-side fold.
    */
  private val q6Forecast: Q = (s, dir) => {
    Tables(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1997-01-01"))
      .filter(col("l_discount") >= 0.04 && col("l_discount") <= 0.08)
      .filter(expr("cast(round(l_discount * 100, 0) as bigint) between 5 and 7")
        && col("l_quantity") < 24)
      .agg(sum(expr("cast(round(l_extendedprice * 100, 0) as bigint) * cast(round(l_discount * 100, 0) as bigint)"))
        .cast("long").as("revenue_e4"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q11 shape ("important stock"), adapted: no partsupp, so a
    * part's "value" is Σ qty_c·retail_c over lines shipped by ASIA
    * suppliers, and the textbook's scale-dependent `> fraction·total`
    * threshold becomes the scale-robust mean-relative form
    * `value > 1.05·mean`, replayed exactly as
    * `value·20·n_parts > 21·total` — no division, no doubles. Plan
    * shape at 100 TB: the ASIA supplier key set semi-cuts the fact scan
    * (broadcast), part's cost column broadcasts, the per-part agg
    * combines map-side, and the (Σ, n) threshold is a 1-row broadcast
    * cross over the part-domain-bounded aggregate — the fact table is
    * scanned once and never re-aggregated for the scalar.
    */
  private val q11ValueParts: Q = (s, dir) => {
    val asiaSupp = Tables(s, dir, "supplier")
      .join(broadcast(Tables(s, dir, "nation")
        .join(broadcast(Tables(s, dir, "region").filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val pv = Tables(s, dir, "lineitem")
      .join(broadcast(asiaSupp), col("l_suppkey") === col("s_suppkey"), "left_semi")
      .join(broadcast(Tables(s, dir, "part").select(col("p_partkey"),
        expr("cast(round(p_retailprice * 100, 0) as bigint)").as("retail_c"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(expr("cast(round(l_quantity * 100, 0) as bigint) * retail_c"))
        .cast("long").as("value_e4"))
    val stats = pv.agg(count(lit(1)).as("n_parts"), sum(col("value_e4")).as("total_e4"))
    pv.crossJoin(broadcast(stats))
      // DECIMAL(38,0) on both products: value_e4·20·n_parts crosses
      // Long.MaxValue around the 20 M-part scale (DuckDB compares in
      // HUGEINT, so a bigint wrap here would be a silent cross-engine
      // divergence at exactly the scale the threshold exists for)
      .filter(col("value_e4").cast("decimal(38,0)") * 20 * col("n_parts")
        > col("total_e4").cast("decimal(38,0)") * 21)
      .select(col("l_partkey"), col("value_e4"))
      .orderBy(col("value_e4").desc, col("l_partkey"))
  }

  /** TPC-H Q12 shape ("shipping modes and order priority"), adapted:
    * no l_shipmode/l_commitdate/l_receiptdate, so the mode column is
    * l_returnflag and a late line ships > 75 days after the order date
    * (the corpus lateness rule). The conditional priority counts
    * collapse map-side after the single orderkey join; the output is
    * returnflag-domain-bounded. One fact exchange at 100 TB.
    */
  private val q12LatePriority: Q = (s, dir) => {
    Tables(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1997-01-01"))
      .join(Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 75 DAYS"))
      .groupBy(col("l_returnflag"))
      .agg(sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0))
        .cast("long").as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0).otherwise(1))
          .cast("long").as("low_line_count"))
      .orderBy(col("l_returnflag"))
  }

  /** TPC-H Q16 shape ("parts/supplier relationship"), adapted: the
    * part-supplier relation is the DISTINCT (partkey, suppkey) pairs
    * observed in lineitem, and the textbook's complaints-comment
    * exclusion subquery becomes a deterministic key-set exclusion
    * (suppkey ≡ 0 mod 7). Plan shape at 100 TB: the brand/size part
    * slice broadcasts into the fact scan FIRST (only qualifying parts'
    * pairs survive), the excluded-supplier key set rides a broadcast
    * anti join, and COUNT(DISTINCT suppkey) per (brand, type, size)
    * runs over pair-grain rows — bounded by the catalog, never by line
    * count.
    */
  private val q16SupplierCnt: Q = (s, dir) => {
    val pSlice = Tables(s, dir, "part")
      .filter(col("p_brand") =!= "Brand#5"
        && col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    val excl = Tables(s, dir, "supplier")
      .filter(col("s_suppkey") % 7 === 0).select(col("s_suppkey"))
    Tables(s, dir, "lineitem").select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(pSlice), col("l_partkey") === col("p_partkey"))
      .join(broadcast(excl), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  /** TPC-H Q20 shape ("potential part promotion"), adapted: no
    * partsupp availability, so the surplus test becomes "this supplier
    * shipped more than HALF the part's total shipped quantity in the
    * window" — the textbook's correlated half-sum subquery re-aggregates
    * lineitem per outer row; the engine aggregates to (part, supplier)
    * grain ONCE (name-filtered part keys broadcast-cut the scan first)
    * and replays the correlation as a partkey-window total over the
    * aggregated frame (pair-domain-bounded, the q15/q2 discipline),
    * deciding `2·qty > total` in exact integers. The DuckDB oracle runs
    * the correlated form.
    */
  private val q20SurplusShare: Q = (s, dir) => {
    val pk = Tables(s, dir, "part").filter(col("p_name").like("%blue%"))
      .select(col("p_partkey"))
    val sq = Tables(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1997-01-01"))
      .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(expr("cast(round(l_quantity * 100, 0) as bigint)")).as("qty_c"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("l_partkey")
    sq.withColumn("tot_c", sum(col("qty_c")).over(w))
      .filter(col("qty_c") * 2 > col("tot_c"))
      .select(col("l_suppkey")).distinct()
      .join(broadcast(Tables(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"))
      .orderBy(col("s_suppkey"))
  }

  val queries: Map[String, Q] = Map(
    "sql_q6_forecast" -> q6Forecast,
    "sql_q11_value_parts" -> q11ValueParts,
    "sql_q12_late_priority" -> q12LatePriority,
    "sql_q16_supplier_cnt" -> q16SupplierCnt,
    "sql_q20_surplus_share" -> q20SurplusShare,
    "sql_q2_min_bal" -> q2MinBal,
    "sql_q4_priority" -> q4Priority,
    "sql_q7_volume" -> q7Volume,
    "sql_q8_market_share" -> q8MarketShare,
    "sql_q9_profit" -> q9Profit,
    "sql_q10_returns" -> q10Returns,
    "sql_q14_promo" -> q14Promo,
    "sql_q19_disjunct" -> q19Disjunct,
    "sql_q21_waiting" -> q21Waiting,
    "sql_q17_small_qty" -> q17SmallQty,
    "sql_q13_cust_dist" -> q13CustDist,
    "sql_q15_top_supplier" -> q15TopSupplier,
    "sql_q22_idle_balance" -> q22IdleBalance,
    "sql_unpivot" -> sqlUnpivot,
    "sql_pivot_multi" -> sqlPivot,
    "sql_group_by_all" -> groupByAll,
    "fn_collation_lcase" -> collationLcase,
    "sql_q3_shipping" -> q3Shipping,
    "sql_q18_big_orders" -> q18BigOrders,
    "fn_variant" -> variant,
    "sql_lateral_topk" -> lateralTopk,
    "sql_recursive_cte" -> recursiveCte,
    "sql_star_revenue" -> starRevenue,
  )

  val oracles: Map[String, String] = Map(
    "sql_q6_forecast" ->
      """SELECT
        |  CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |    * CAST(round(l_discount * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_e4,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND CAST(round(l_discount * 100, 0) AS BIGINT) BETWEEN 5 AND 7
        |  AND l_quantity < 24""".stripMargin,
    // the textbook scalar-total threshold (made mean-relative for scale
    // robustness) — the engine broadcast-crosses one (Σ, n) row instead
    // of re-evaluating the view
    "sql_q11_value_parts" ->
      """WITH pv AS MATERIALIZED (
        |  SELECT l_partkey, CAST(SUM(CAST(round(l_quantity * 100, 0) AS BIGINT)
        |    * CAST(round(p_retailprice * 100, 0) AS BIGINT)) AS BIGINT) AS value_e4
        |  FROM lineitem
        |  JOIN part ON p_partkey = l_partkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN nation ON n_nationkey = s_nationkey
        |  JOIN region ON r_regionkey = n_regionkey
        |  WHERE r_name = 'ASIA'
        |  GROUP BY l_partkey)
        |SELECT l_partkey, value_e4 FROM pv
        |WHERE value_e4 * 20 * (SELECT COUNT(*) FROM pv) > (SELECT SUM(value_e4) FROM pv) * 21
        |ORDER BY value_e4 DESC, l_partkey""".stripMargin,
    "sql_q12_late_priority" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 75 DAY
        |  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // the textbook NOT-IN exclusion subquery — the engine plans it as a
    // broadcast anti join over the distinct observed pairs
    "sql_q16_supplier_cnt" ->
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |SELECT p_brand, p_type, p_size, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM part JOIN ps ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#5' AND p_size IN (1, 4, 9, 16, 25, 36, 49)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_suppkey % 7 = 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    // the textbook correlated half-sum — the engine's window-over-
    // aggregated-pairs rewrite must hash-match it
    "sql_q20_surplus_share" ->
      """WITH sq AS MATERIALIZED (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(SUM(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS BIGINT) AS qty_c
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  GROUP BY 1, 2)
        |SELECT DISTINCT s_suppkey, s_name
        |FROM supplier JOIN sq ON s_suppkey = l_suppkey
        |JOIN part ON p_partkey = l_partkey
        |WHERE p_name LIKE '%blue%'
        |  AND 2 * qty_c > (SELECT SUM(sq2.qty_c) FROM sq sq2 WHERE sq2.l_partkey = sq.l_partkey)
        |ORDER BY s_suppkey""".stripMargin,
    // the textbook correlated EXISTS on the outer row's o_orderdate —
    // the engine's late-candidate COUNT(DISTINCT) rewrite must
    // hash-match it
    "sql_q4_priority" ->
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 75 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "sql_q7_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  year(l_shipdate) AS l_year,
        |  CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |    * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS BIGINT) AS revenue_e4
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND ((n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
        |    OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18'))
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // the textbook CASE-ratio — the engine emits exact numerator +
    // denominator integers instead of the double division
    "sql_q8_market_share" ->
      """SELECT year(o_orderdate) AS o_year,
        |  CAST(SUM(CASE WHEN n1.n_name = 'NATION_19'
        |    THEN CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)) ELSE 0 END) AS BIGINT) AS nation_e4,
        |  CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |    * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS BIGINT) AS total_e4
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |JOIN region ON n2.n_regionkey = r_regionkey
        |WHERE p_type = 'ECONOMY' AND r_name = 'EUROPE'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "sql_q9_profit" ->
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |  CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))
        |    - CAST(round(l_quantity * 100, 0) AS BIGINT)
        |      * CAST(round(p_retailprice * 100, 0) AS BIGINT)) AS BIGINT) AS profit_e4
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2 ORDER BY 1, 2 DESC""".stripMargin,
    "sql_q10_returns" ->
      """SELECT c_custkey, c_name,
        |  CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_cents, n_name,
        |  CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |    * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS BIGINT) AS revenue_e4
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-10-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue_e4 DESC, c_custkey LIMIT 20""".stripMargin,
    "sql_q14_promo" ->
      """SELECT
        |  CAST(SUM(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)) ELSE 0 END) AS BIGINT) AS promo_e4,
        |  CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |    * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS BIGINT) AS total_e4,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01'""".stripMargin,
    // the textbook whole-disjunction WHERE — the engine's equi-join +
    // residual-OR rewrite must hash-match it
    "sql_q19_disjunct" ->
      """SELECT
        |  CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |    * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS BIGINT) AS revenue_e4,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    // the textbook correlated scalar-MIN — the engine's window-over-
    // distinct-pairs rewrite must hash-match it
    "sql_q2_min_bal" ->
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |SELECT p_partkey, p_name, s_suppkey, s_name,
        |  CAST(round(s_acctbal * 100, 0) AS BIGINT) AS bal_cents
        |FROM part
        |JOIN ps ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |WHERE p_size = 15 AND p_type = 'STANDARD'
        |  AND s_acctbal = (SELECT MIN(s2.s_acctbal)
        |    FROM supplier s2 JOIN ps ps2 ON s2.s_suppkey = ps2.l_suppkey
        |    WHERE ps2.l_partkey = p_partkey)
        |ORDER BY bal_cents, p_partkey, s_suppkey""".stripMargin,
    // the textbook doubly-quantified form — the engine's single-scan
    // aggregate rewrite must hash-match it
    "sql_q21_waiting" ->
      """SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        |FROM supplier, lineitem l1, orders
        |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 75 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |    JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
        |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_shipdate > o3.o_orderdate + INTERVAL 75 DAY)
        |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin,
    // the textbook correlated per-part average — the engine's
    // window-over-one-scan rewrite must hash-match it
    "sql_q17_small_qty" ->
      """SELECT CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#4' AND p_size <= 25
        |  AND CAST(round(l_quantity * 100, 0) AS BIGINT) * 5 *
        |      (SELECT COUNT(*) FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
        |    < (SELECT SUM(CAST(round(l2.l_quantity * 100, 0) AS BIGINT))
        |       FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin,
    // the textbook scalar-MAX-over-a-view form — the engine takes the
    // max as a window over the aggregated frame, one fact scan
    "sql_q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey, CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |    * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS BIGINT) AS total_e4
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_e4
        |FROM supplier JOIN rev ON s_suppkey = l_suppkey
        |WHERE total_e4 = (SELECT MAX(total_e4) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    // the textbook scalar-average + NOT EXISTS form — the engine folds
    // the scalar into a broadcast (Σ, n) cross and the quantifier into
    // a left-anti join on the distinct recent-orderer keys
    "sql_q22_idle_balance" ->
      """SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_cust,
        |  CAST(SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE CAST(round(c_acctbal * 100, 0) AS BIGINT) *
        |      (SELECT COUNT(*) FROM customer c2 WHERE c2.c_acctbal > 0)
        |    > (SELECT SUM(CAST(round(c2.c_acctbal * 100, 0) AS BIGINT))
        |       FROM customer c2 WHERE c2.c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |       WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '1999-01-01')
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    // the textbook join-then-count form — the engine aggregates orders
    // before the join
    "sql_q13_cust_dist" ->
      """SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist FROM (
        |  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "sql_q18_big_orders" ->
      """SELECT c_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  CAST(round(o_totalprice * 100, 0) AS BIGINT) AS total_cents,
        |  CAST(SUM(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS BIGINT) AS sum_qty_c,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |              JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey
        |  HAVING SUM(CAST(round(l_quantity * 100, 0) AS BIGINT)) > 20000)
        |GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY total_cents DESC, o_orderkey
        |LIMIT 20""".stripMargin,
    "sql_unpivot" ->
      """WITH w AS (
        |  SELECT o_orderstatus,
        |    CAST(COUNT(*) AS BIGINT) AS n_total,
        |    CAST(COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT) AS n_urgent,
        |    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust
        |  FROM orders GROUP BY o_orderstatus)
        |SELECT o_orderstatus, 'n_total' AS metric, n_total AS val FROM w
        |UNION ALL
        |SELECT o_orderstatus, 'n_urgent', n_urgent FROM w
        |UNION ALL
        |SELECT o_orderstatus, 'n_cust', n_cust FROM w
        |ORDER BY o_orderstatus, metric""".stripMargin,
    "sql_pivot_multi" ->
      """SELECT o_orderstatus,
        |  CAST(COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT) AS urgent_n,
        |  CAST(COALESCE(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
        |    FILTER (WHERE o_orderpriority = '1-URGENT'), 0) AS BIGINT) AS urgent_cents,
        |  CAST(COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS BIGINT) AS high_n,
        |  CAST(COALESCE(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
        |    FILTER (WHERE o_orderpriority = '2-HIGH'), 0) AS BIGINT) AS high_cents
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "sql_group_by_all" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2, 3, 4""".stripMargin,
    "fn_collation_lcase" ->
      """WITH m AS (SELECT CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
        |    ELSE upper(substr(lower(c_mktsegment), 1, 1)) || substr(lower(c_mktsegment), 2) END AS seg_mixed
        |  FROM customer)
        |SELECT lower(seg_mixed) AS segment, COUNT(*) AS n
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    "sql_q3_shipping" ->
      """SELECT l_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |    * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS BIGINT) AS revenue_e4,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1996-07-01 00:00:00'
        |GROUP BY 1, 2 ORDER BY revenue_e4 DESC, l_orderkey LIMIT 10""".stripMargin,
    "fn_variant" ->
      """SELECT event_id,
        |  CAST(json_extract(props, '$.k') AS BIGINT) AS k_val,
        |  CAST(json_extract(props, '$.k') AS BIGINT) * 2 AS k_doubled,
        |  CAST(json_extract(props, '$.missing') AS BIGINT) AS absent
        |FROM events WHERE event_id % 20 = 0 ORDER BY event_id""".stripMargin,
    "sql_lateral_topk" ->
      """SELECT c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t
        |ORDER BY c_custkey""".stripMargin,
    "sql_recursive_cte" ->
      """WITH RECURSIVE r(k) AS (
        |  SELECT 0 UNION ALL SELECT k + 1 FROM r WHERE k < 24)
        |SELECT k, n_name,
        |  (SELECT COUNT(*) FROM customer WHERE c_nationkey = k) AS n_cust
        |FROM r JOIN nation ON n_nationkey = k
        |ORDER BY k""".stripMargin,
    "sql_star_revenue" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
        |    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_e4,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue_e4 DESC, n_name""".stripMargin,
  )
}
