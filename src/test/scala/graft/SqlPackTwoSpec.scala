package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanUtil.bind
import org.scalatest.funsuite.AnyFunSuite

/** Round-16 second SQL pack (13 shapes: TPC-H Q2/Q4/Q6/Q7/Q8/Q9/Q10/
  * Q11/Q12/Q14/Q16/Q19/Q20) — with pack 1 this completes every TPC-H
  * query shape this corpus's columns can express. Each engine query is
  * a scan-economical rewrite; the DuckDB oracle runs the textbook form.
  * These pins prove the scan economy and, for the three correlated
  * shapes (Q2's scalar MIN, Q4's EXISTS, Q20's half-sum), the in-Spark
  * equivalence of the textbook form with the rewrite — the cross-engine
  * hash does the same via DuckDB at the sf0.01 gate.
  */
class SqlPackTwoSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val dir = TestSpark.sf

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Each named table of the corpus, bound under its own name. */
  private def tables(names: String*) = names.map(n => n -> Tables(s, dir, n))

  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  private def scanCount(df: org.apache.spark.sql.DataFrame, table: String): Int =
    finalPlan(df).linesIterator
      .count(l => l.contains("FileScan parquet") && l.contains(s"$table.parquet"))

  // executedPlan.toString TRUNCATES long PushedFilters lists ("... N
  // more fields"), so named-predicate pushdown pins must read the
  // formatted explain, which prints the scan's full pushed list
  private def formatted(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("sql_q4_priority: one fact scan; matches the textbook correlated EXISTS in-Spark") {
    val q = SparkEntry.queries("sql_q4_priority")(s, dir)
    assert(scanCount(q, "lineitem") == 1 && scanCount(q, "orders") == 1,
      "the late-candidate COUNT(DISTINCT) rewrite reads each table exactly once")
    val textbook = bind(s,
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 75 DAYS)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)(
      tables("lineitem", "orders"): _*)
    assert(rows(q).nonEmpty, "vacuous: no late orders at the gate sf")
    assert(rows(q) == rows(textbook),
      "the one-join rewrite drifted from the textbook EXISTS form")
  }

  test("sql_q2_min_bal: one fact scan; matches the textbook correlated scalar-MIN in-Spark") {
    val q = SparkEntry.queries("sql_q2_min_bal")(s, dir)
    assert(scanCount(q, "lineitem") == 1,
      "the window-over-distinct-pairs rewrite reads the fact table exactly once")
    assert(!finalPlan(q).contains("CartesianProduct"))
    val textbook = bind(s,
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |SELECT p_partkey, p_name, s_suppkey, s_name,
        |  CAST(round(s_acctbal * 100) AS BIGINT) AS bal_cents
        |FROM part JOIN ps ON p_partkey = l_partkey
        |          JOIN supplier ON s_suppkey = l_suppkey
        |WHERE p_size = 15 AND p_type = 'STANDARD'
        |  AND s_acctbal = (SELECT MIN(s2.s_acctbal)
        |    FROM supplier s2 JOIN ps ps2 ON s2.s_suppkey = ps2.l_suppkey
        |    WHERE ps2.l_partkey = p_partkey)
        |ORDER BY bal_cents, p_partkey, s_suppkey""".stripMargin)(
      tables("lineitem", "part", "supplier"): _*)
    assert(rows(q).nonEmpty, "vacuous: no qualifying parts at the gate sf")
    assert(rows(q) == rows(textbook),
      "the window rewrite drifted from the textbook correlated-MIN form")
  }

  test("sql_q7_volume: one fact scan; both nation-filtered dim sides broadcast") {
    val q = SparkEntry.queries("sql_q7_volume")(s, dir)
    assert(scanCount(q, "lineitem") == 1)
    assert(finalPlan(q).contains("BroadcastHashJoin"))
    assert(rows(q).nonEmpty, "vacuous: no bilateral trade at the gate sf")
  }

  test("sql_q8_market_share: one fact scan; the market-region gate is a semi join; numerator non-trivial") {
    val q = SparkEntry.queries("sql_q8_market_share")(s, dir)
    assert(scanCount(q, "lineitem") == 1)
    assert(finalPlan(q).contains("LeftSemi"),
      "the EUROPE-customer gate must probe keys, not ship customer columns")
    val r = q.collect()
    assert(r.nonEmpty && r.forall(x => x.getLong(2) >= x.getLong(1)),
      "denominator must bound the numerator")
    assert(r.exists(_.getLong(1) > 0), "vacuous: target nation sold nothing")
  }

  test("sql_q9_profit: one fact scan; part slice and supplier⨝nation broadcast") {
    val q = SparkEntry.queries("sql_q9_profit")(s, dir)
    assert(scanCount(q, "lineitem") == 1)
    assert(finalPlan(q).contains("BroadcastHashJoin"))
    assert(rows(q).nonEmpty, "vacuous: no matching parts at the gate sf")
  }

  test("sql_q10_returns: top-20 is per-partition heaps, never a global sort") {
    val q = SparkEntry.queries("sql_q10_returns")(s, dir)
    assert(finalPlan(q).contains("TakeOrderedAndProject"),
      "the limit must plan as TakeOrderedAndProject")
    val n = q.count()
    assert(n > 0 && n <= 20)
  }

  test("sql_q14_promo: single fact scan with the month filter pushed; both sums positive") {
    val q = SparkEntry.queries("sql_q14_promo")(s, dir)
    assert(scanCount(q, "lineitem") == 1)
    assert(formatted(q).contains("GreaterThanOrEqual(l_shipdate"),
      s"month filter must reach the scan:\n${finalPlan(q).take(1200)}")
    val r = q.head()
    assert(r.getLong(0) > 0 && r.getLong(1) >= r.getLong(0) && r.getLong(2) > 0)
  }

  test("sql_q6_forecast: no joins, date range pushed to the scan, exact band decides") {
    val q = SparkEntry.queries("sql_q6_forecast")(s, dir)
    val p = finalPlan(q)
    assert(!p.contains("Join"), "Q6 is a pure scan aggregate")
    val fm = formatted(q)
    assert(fm.contains("GreaterThanOrEqual(l_shipdate")
      && fm.contains("LessThanOrEqual(l_discount"),
      s"date window and coarse discount range must reach the parquet reader:\n${p.take(1200)}")
    val r = q.head()
    assert(r.getLong(0) > 0 && r.getLong(1) > 0, "vacuous: empty discount band")
  }

  test("sql_q11_value_parts: one fact scan; the (Σ, n) threshold broadcasts, never re-aggregates") {
    val q = SparkEntry.queries("sql_q11_value_parts")(s, dir)
    assert(scanCount(q, "lineitem") == 1,
      "the mean-relative threshold must come from the SAME per-part aggregate, not a rescan")
    assert(!finalPlan(q).contains("CartesianProduct"),
      "the 1-row stats cross must broadcast")
    assert(rows(q).nonEmpty, "vacuous: no above-mean parts at the gate sf")
  }

  test("sql_q12_late_priority: single orderkey join, returnflag-domain output") {
    val q = SparkEntry.queries("sql_q12_late_priority")(s, dir)
    assert(scanCount(q, "lineitem") == 1 && scanCount(q, "orders") == 1)
    val r = q.collect()
    assert(r.nonEmpty && r.length <= 3, "output is bounded by the returnflag domain")
    assert(r.map(x => x.getLong(1) + x.getLong(2)).sum > 0, "vacuous: no late lines")
  }

  test("sql_q16_supplier_cnt: part slice and exclusion set broadcast; anti join plans") {
    val q = SparkEntry.queries("sql_q16_supplier_cnt")(s, dir)
    assert(scanCount(q, "lineitem") == 1)
    val p = finalPlan(q)
    assert(p.contains("LeftAnti"), s"the NOT-IN exclusion must plan as an anti join:\n${p.take(1200)}")
    assert(rows(q).nonEmpty, "vacuous: no qualifying (brand, type, size) groups")
  }

  test("sql_q20_surplus_share: one fact scan; matches the textbook correlated half-sum in-Spark") {
    val q = SparkEntry.queries("sql_q20_surplus_share")(s, dir)
    assert(scanCount(q, "lineitem") == 1,
      "the window-total rewrite must read the fact table exactly once")
    val textbook = bind(s,
      """WITH sq AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_c
        |  FROM lineitem
        |  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        |  GROUP BY 1, 2)
        |SELECT DISTINCT s_suppkey, s_name
        |FROM supplier JOIN sq ON s_suppkey = l_suppkey
        |JOIN part ON p_partkey = l_partkey
        |WHERE p_name LIKE '%blue%'
        |  AND 2 * qty_c > (SELECT SUM(sq2.qty_c) FROM sq sq2 WHERE sq2.l_partkey = sq.l_partkey)
        |ORDER BY s_suppkey""".stripMargin)(
      tables("lineitem", "part", "supplier"): _*)
    assert(rows(q).nonEmpty, "vacuous: no majority-share suppliers at the gate sf")
    assert(rows(q) == rows(textbook),
      "the window rewrite drifted from the textbook correlated half-sum")
  }

  test("sql_q19_disjunct: the OR-of-ANDs runs as one equi-join + residual, part slice broadcast") {
    val q = SparkEntry.queries("sql_q19_disjunct")(s, dir)
    assert(scanCount(q, "lineitem") == 1)
    val p = finalPlan(q)
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the disjunction must not degrade the join to a nested loop")
    assert(q.head().getLong(1) > 0, "vacuous: no disjunct matched at the gate sf")
  }
}
