package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-17 execution-shape pins: the fixed-budget iterative loops use
  * LAZY localCheckpoints (eager = false), so a round's checkpoint is
  * materialized by the loop's own next action (convergence observable or
  * the query's final action) instead of a dedicated eager materialize
  * job per round. The plans are unchanged by laziness (the checkpoint is
  * a LogicalRDD leaf either way), so the evidence is the JOB COUNT of a
  * warm run: reverting any loop to eager checkpoints adds one job per
  * round and trips these bounds.
  *
  * Bounds are calibrated on local[4] @ sf0.001 with a margin of +2 over
  * the measured lazy job count, and each sits BELOW lazy + rounds (the
  * eager equivalent), so the pin distinguishes the two regimes without
  * being flaky to AQE stage scheduling.
  */
class RoundSeventeenPerfSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val dir = TestSpark.sf

  private def warmThenCount(name: String): Int = {
    val q = SparkEntry.queries(name)
    q(s, dir).count() // substrate warm-up run (caches, layouts)
    TestSpark.jobsOf(q(s, dir).count())
  }

  test("graph_pagerank: lazy round checkpoints fuse the 3 rounds into the final action's jobs") {
    // measured lazy: 15 jobs (AQE stage jobs dominate); eager round
    // checkpoints add +3 => 18. Bound sits between the two regimes.
    val jobs = warmThenCount("graph_pagerank")
    assert(jobs <= 16, s"pagerank warm run launched $jobs jobs — eager round checkpoints are back?")
  }

  test("text_bpe_train: lazy merge-round checkpoints — no per-round materialize job") {
    // measured lazy: 14 jobs; eager round checkpoints add +2 => 16
    val jobs = warmThenCount("text_bpe_train")
    assert(jobs <= 15, s"bpe_train warm run launched $jobs jobs — eager round checkpoints are back?")
  }

  test("graph_betweenness_sample: all six pass checkpoints are lazy") {
    // measured lazy: 21 jobs; eager pass checkpoints add +6 => 27
    val jobs = warmThenCount("graph_betweenness_sample")
    assert(jobs <= 24, s"betweenness warm run launched $jobs jobs — eager pass checkpoints are back?")
  }

  test("graph_kcore: one job per peel round (the isEmpty observable), not four") {
    val jobs = warmThenCount("graph_kcore")
    assert(jobs <= 16, s"kcore warm run launched $jobs jobs — eager round state checkpoints are back?")
  }
}
