package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanUtil.bind
import org.scalatest.funsuite.AnyFunSuite

/** Round-16 pins: the incremental-dedup artifact-read planner
  * (`dedup_incr_plan`, the r15 verdict's ask #4 — the sim_ivf_plan
  * discipline applied to the survivor semi-join prune).
  *
  *  - The prune is a SUPERSET filter (history contents sharing ≥ 1 band
  *    with a batch content), so the pruned and full legs verify the
  *    same candidates and must return identical rows — the planner is a
  *    pure performance choice. Pinned on both legs FORCED.
  *  - The decision flips on the configured cut alone (the group-share
  *    stat straddles any cut placed on either side of it), and the
  *    dumped oracle SQL re-interpolates the configured value.
  *  - With an index root active, the shipped query routes to the leg
  *    the plan row publishes.
  */
class RoundSixteenOpsSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val dir = TestSpark.sf
  private val Knob = "graft.dedup.prune.cut.pct"

  private def withCut[A](cut: Long)(body: => A): A =
    TestSpark.withProp(Knob, cut.toString)(body)

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("writeAll rebuilds in place over an existing corpus-cache panel (the IndexBuild rerun path)") {
    // r15 ADVICE: rebuilding into a root that already holds a
    // _corpus_cache panel from the same corpus made each cache build
    // resolve THROUGH corpusCached to a read of the very parquet it was
    // about to overwrite — Spark's read-your-own-overwrite failure.
    // The `building` guard + _src poisoning fix it; this pins the rerun
    // end to end: second writeAll succeeds, the panel re-validates, and
    // a panel consumer still serves the in-session rows.
    val root = java.nio.file.Files.createTempDirectory("graft-rebuild").toString
    val inline = SparkEntry.queries("dedup_minhash")(s, dir)
      .collect().map(_.toString).sorted.toSeq
    try {
      IndexStore.writeAll(s, dir, root)
      IndexStore.writeAll(s, dir, root) // the rerun that used to crash
      val src = s.read.parquet(s"$root/_corpus_cache/_src").head().getString(0)
      assert(src == dir, s"rebuild left the panel validated for '$src', not '$dir'")
      IndexStore.use(Some(root))
      Cached.evictKeySuffix(s"@$root")
      val served = SparkEntry.queries("dedup_minhash")(s, dir)
        .collect().map(_.toString).sorted.toSeq
      assert(served == inline, "post-rebuild panel read-back drifted")
    } finally IndexStore.use(None)
  }

  test("dedup_incremental: pruned and full artifact-read legs return identical rows") {
    val pruned = rows(operators.Dedup.incrementalWith(s, dir, Some(true)))
    val full = rows(operators.Dedup.incrementalWith(s, dir, Some(false)))
    assert(full.nonEmpty, "vacuous: the gate corpus produced no incremental pairs")
    assert(pruned == full,
      s"the survivor semi-join prune dropped a candidate: first diff ${
        pruned.zip(full).find(p => p._1 != p._2)}")
  }

  test("dedup_incr_plan flips on the configured cut alone; the shipped query routes to the planned leg") {
    def planRow(): (Long, Long, Long, String) = {
      val r = SparkEntry.queries("dedup_incr_plan")(s, dir)
        .select(col("n_batch_groups"), col("n_hist_groups"),
          col("prune_cut_pct"), col("leg")).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))
    }
    val (nb, nh, _, _) = planRow()
    assert(nb > 0 && nh > 0, s"vacuous: degenerate group counts ($nb, $nh)")
    // pruned iff nb*100 < cut*nh: floor(nb*100/nh) lands on the full
    // side, floor+1 on the pruned side — the stat straddles both cuts
    val cutFull = nb * 100 / nh
    val cutPruned = cutFull + 1
    withCut(cutPruned) {
      val (_, _, cut, leg) = planRow()
      assert(cut == cutPruned && leg == "pruned",
        s"cut $cutPruned above the share must select pruned, got ($cut, $leg)")
      assert(SparkEntry.oracleSql("dedup_incr_plan").contains(s"CAST($cutPruned AS BIGINT)"),
        "oracle SQL did not re-interpolate the configured cut")
    }
    withCut(cutFull) {
      val (_, _, cut, leg) = planRow()
      assert(cut == cutFull && leg == "full",
        s"cut $cutFull at/below the share must select full, got ($cut, $leg)")
    }
    // with a root active the serving query consults the same planner;
    // both routes must serve the identical (prune-lossless) rows
    val root = java.nio.file.Files.createTempDirectory("graft-dedup-plan").toString
    try {
      IndexStore.writeAll(s, dir, root)
      IndexStore.use(Some(root))
      Cached.evictKeySuffix(s"@$root")
      val served = withCut(cutPruned) {
        rows(SparkEntry.queries("dedup_incremental")(s, dir))
      }
      val servedFull = withCut(cutFull) {
        rows(SparkEntry.queries("dedup_incremental")(s, dir))
      }
      val ref = rows(operators.Dedup.incrementalWith(s, dir, Some(false)))
      assert(served == ref && servedFull == ref,
        "the planner-routed serve drifted from the forced-leg reference")
    } finally IndexStore.use(None)
  }

  // ---- decorrelation-rewrite pack (TPC-H Q21/Q17/Q13 shapes): each
  // engine query is a single-fact-scan rewrite of a correlated textbook
  // form; the DuckDB oracle runs the textbook form, and these pins prove
  // the scan economy (the rewrite's whole point) plus, for Q21, the
  // in-Spark equivalence of the two forms.

  // AdaptiveSparkPlan.toString prints BOTH "== Final Plan ==" and
  // "== Initial Plan ==" sections — count scans in the final one only
  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  private def scanCount(df: org.apache.spark.sql.DataFrame, table: String): Int =
    finalPlan(df).linesIterator
      .count(l => l.contains("FileScan parquet") && l.contains(s"$table.parquet"))

  test("sql_q21_waiting scans lineitem once (textbook EXISTS/NOT-EXISTS form scans it three times)") {
    val q = SparkEntry.queries("sql_q21_waiting")(s, dir)
    assert(scanCount(q, "lineitem") == 1,
      "the aggregate rewrite must read the fact table exactly once")
    // and the rewrite IS the textbook form: run the doubly-quantified
    // original through Spark SQL and compare (the oracle already proves
    // this cross-engine in DuckDB; this keeps the proof in CI)
    val textbook = bind(s,
      """SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        |FROM supplier, lineitem l1, orders
        |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 75 DAYS
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |    JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
        |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_shipdate > o3.o_orderdate + INTERVAL 75 DAYS)
        |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin)(
      Seq("lineitem", "orders", "supplier").map(n => n -> Tables(s, dir, n)): _*)
    assert(rows(q).nonEmpty, "vacuous: no waiting suppliers at the gate sf")
    assert(rows(q) == rows(textbook),
      "the single-scan rewrite drifted from the textbook correlated form")
  }

  test("sql_q17_small_qty scans lineitem once; the part slice broadcasts") {
    val q = SparkEntry.queries("sql_q17_small_qty")(s, dir)
    assert(scanCount(q, "lineitem") == 1,
      "the window rewrite must read the fact table exactly once")
    assert(finalPlan(q).contains("BroadcastHashJoin"), finalPlan(q).take(1500))
    assert(q.head().getLong(1) > 0, "vacuous: no small-quantity lines at the gate sf")
  }

  test("sql_q13_cust_dist aggregates orders before the customer join") {
    val q = SparkEntry.queries("sql_q13_cust_dist")(s, dir)
    val p = finalPlan(q)
    assert(scanCount(q, "orders") == 1 && scanCount(q, "customer") == 1)
    // the join's order side is the (custkey, n) aggregate, so the
    // aggregate must appear BELOW the join in the plan tree: the plan
    // string lists operators top-down, so the first HashAggregate the
    // join sees is deeper than the join line itself
    val joinLine = p.linesIterator.indexWhere(_.contains("Join"))
    val aggBelow = p.linesIterator.zipWithIndex.exists { case (l, i) =>
      l.contains("HashAggregate") && i > joinLine
    }
    assert(joinLine >= 0 && aggBelow,
      "orders must collapse to customer grain before the join ships rows")
  }

  test("sql_q15_top_supplier: one fact scan, no global sort, ties preserved") {
    val q = SparkEntry.queries("sql_q15_top_supplier")(s, dir)
    assert(scanCount(q, "lineitem") == 1,
      "the window-max rewrite must read the fact table exactly once")
    val p = finalPlan(q)
    // the max-selection must not plan a lineitem-sized global Sort; the
    // only Sort allowed is the supplier-grain output order
    assert(!p.contains("TakeOrderedAndProject"),
      "a top-1 limit would drop revenue ties — Q15 keeps ALL max suppliers")
    assert(q.count() >= 1, "vacuous: no top supplier at the gate sf")
  }

  test("sql_q22_idle_balance: scalar stats broadcast; anti join probes distinct keys") {
    val q = SparkEntry.queries("sql_q22_idle_balance")(s, dir)
    val p = finalPlan(q)
    assert(p.contains("LeftAnti"), s"NOT EXISTS must plan as an anti join:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"),
      "the 1-row stats cross must broadcast, never a cartesian")
    assert(q.count() >= 1, "vacuous: no idle above-average customers at the gate sf")
  }
}
