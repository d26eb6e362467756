package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{avg, col, count, expr, lit, min, sum}
import operators.Sim
import org.scalatest.funsuite.AnyFunSuite

/** Round-14 pins.
  *
  *  - The clustered ADC recall gate (`sim_ivf_incremental_recall_clustered`)
  *    is only meaningful if its preconditions hold: the ADC top-64 cut
  *    must BIND (every probe query sees > 64 candidates in its 3 probed
  *    cells, so the ADC ordering itself decides who survives to the
  *    exact re-rank — at gate sf the shipped incremental query's cut is
  *    non-binding and a wrong ADC ordering would pass unnoticed), and
  *    recall@3 on a corpus whose cells align with real clusters must
  *    clear a floor far above the 0.58 isotropic hard case.
  *  - The ADC LUT is indexed POSITIONALLY (k = sub·16 + code), which is
  *    only sound when the (sub, code) grid is dense. A corpus with
  *    fewer than 16 history vectors produces a sparse grid; the serving
  *    query must FAIL LOUD (raise_error) instead of silently
  *    mis-ranking candidates through a misaligned lookup table
  *    (ADVICE r13).
  */
class RoundFourteenOpsSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val dir = TestSpark.sf

  /** Observables of the clustered gate: the smallest per-query ADC
    * candidate count over its 3 probed cells (the cut must BIND: > 64)
    * and the mean recall (the floor).
    */
  private def cluGateStats(s: SparkSession, dir: String): (Long, Double) = {
    val meanRecall = Sim.queries("sim_ivf_incremental_recall_clustered")(s, dir)
      .agg(avg(col("recall_at_3"))).head().getDouble(0)
    val cellSizes = Sim.cluAssign(s, dir).groupBy("cell").agg(count(lit(1)).as("cn_"))
    val minCand = Sim.probe(Sim.cluQ8(s, dir), "q_id", Sim.cluCents(s, dir),
        Sim.centCos("qx", "qxn"), 3)
      .join(cellSizes, Seq("cell"))
      .groupBy("q_id").agg(sum(col("cn_")).as("ncand"))
      .agg(min(col("ncand"))).head().getLong(0)
    (minCand, meanRecall)
  }

  test("clustered ADC gate: top-64 cut binds and recall clears the floor") {
    val (minCand, meanRecall) = cluGateStats(s, dir)
    assert(minCand > 64,
      s"ADC cut must BIND on the clustered corpus: min candidates per " +
        s"query = $minCand (need > 64, else the gate degenerates to the " +
        "non-binding shape the shipped query already covers)")
    assert(meanRecall >= 0.75,
      s"clustered recall@3 = $meanRecall — the aligned-cells premise " +
        "(probe finds the cluster, residual ADC keeps within-cell " +
        "contrast) has broken if this drops toward the 0.58 isotropic " +
        "floor")
  }

  test("graph_cc_incremental equals the full bipartite recount, in-session") {
    // the fold's output is split-invariant: batch edges folded into the
    // frozen history labeling must reproduce the min-id fixpoint of the
    // WHOLE graph (this is also what the DuckDB oracle recounts; here
    // the same property is pinned engine-internally, so a drift points
    // at the fold, not the oracle plumbing)
    val got = operators.Graph.queries("graph_cc_incremental")(s, dir)
      .collect().map(_.toString).sorted.toSeq
    val lbl = operators.Graph.fullSubstrate(s, dir)("graph_hist_cc_labels")
    val sizes = lbl.groupBy("lbl").agg(
      org.apache.spark.sql.functions.count(lit(1)).as("n_nodes"))
    val want = lbl.join(sizes, "lbl")
      .select(col("node"), col("lbl").as("component"), col("n_nodes"))
      .collect().map(_.toString).sorted.toSeq
    assert(got.size == want.size, s"row counts: got ${got.size} vs recount ${want.size}")
    assert(got == want,
      s"incremental CC drifted from the full recount: first diff " +
        s"${got.zip(want).find(p => p._1 != p._2)}")
  }

  test("ADC LUT: < 16 history anchors serves correctly (dense k×8 grid, inferred stride)") {
    val tiny = java.nio.file.Files.createTempDirectory("graft-tinyemb").toString
    // 16 vectors -> ~12 history after the md5 '40' split: the codebook
    // grid is 12×8 = 96 entries. Round 14 fail-louded here (the lookup
    // stride was hard-coded 16); round 15 infers the stride from the
    // grid (anchor codes are contiguous 0..k−1 by construction), so the
    // sparse-anchor corpus must SERVE — and, with a non-binding cut
    // (~12 candidates < 64), the ADC leg must agree with the exact leg
    // row for row (the r14 verdict's "flips to an equality pin").
    s.range(16).select(col("id").as("vec_id"), lit(0L).as("label"),
        expr("transform(sequence(0, 63), d -> cast(sin(id * 64 + d) as float))").as("embedding"))
      .write.mode("overwrite").parquet(s"$tiny/embeddings.parquet")
    val adc = operators.Sim.ivfIncrementalWith(s, tiny, Some(true))
      .collect().map(_.toString).sorted.toSeq
    val exact = operators.Sim.ivfIncrementalWith(s, tiny, Some(false))
      .collect().map(_.toString).sorted.toSeq
    assert(adc.nonEmpty, "vacuous: the tiny corpus produced no served rows")
    assert(adc == exact,
      s"ADC misranked on the sparse-anchor grid: first diff ${
        adc.zip(exact).find(p => p._1 != p._2)}")
  }
}
