package graft

import org.apache.spark.sql.functions.{col, expr}
import org.scalatest.funsuite.AnyFunSuite

/** Round-12 pins.
  *
  *  - graph_trussness ships as the triangle-core h-index iteration;
  *    the min-bucket PEEL (`Graph.trussnessDecompose`) is kept as the
  *    independent reference formulation, and the two must agree row
  *    for row — two algorithms, one answer, the strongest check either
  *    can get. Plus k-truss consistency: the trussness-≥-k slice must
  *    equal `ktrussPeel(k)`'s survivor set for k = 4 and 5 (monotone
  *    nesting follows: the k-slices of one column are nested by
  *    construction).
  *  - sim_ivf_incremental now rides the frozen ⌊√n_hist⌋-cell
  *    quantizer: the measured ncells in its output must equal the
  *    sizing rule applied to the history split.
  *  - dedup_embedding's rep self-join takes a separately checkpointed
  *    b-side (SURVEY §8a#3): a UNION over the query's output — the
  *    composition shape that crashes analysis when one checkpointed
  *    frame is self-joined directly — must analyze and run.
  *  - IndexStore fail-loud guards (ADVICE r11): an active root with a
  *    missing artifact refuses to rebuild silently; a _meta threshold
  *    mismatch refuses to score; mergeAll refuses in-place merges.
  */
class RoundTwelveOpsSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val dir = TestSpark.sf

  test("trussness: h-index fixpoint equals the peel decomposition row for row") {
    val hIdx = operators.Graph.trussnessHIndex(s, dir)
      .collect().map(_.toString).sorted.toSeq
    val peel = operators.Graph.trussnessDecompose(s, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(hIdx.size == peel.size,
      s"h-index ${hIdx.size} rows vs peel ${peel.size}")
    assert(hIdx == peel,
      s"first diff: ${hIdx.zip(peel).find(p => p._1 != p._2)}")
  }

  test("trussness slices equal the k-truss survivor sets (k = 4, 5)") {
    val tn = operators.Graph.trussnessHIndex(s, dir)
    val nEdges = IndexStore.artifact(s, dir, "graph_y95_edges").count()
    assert(tn.count() == nEdges, "decomposition must cover every slice edge")
    Seq(4, 5).foreach { k =>
      val slice = tn.filter(col("trussness") >= k)
        .select("u", "v").collect().map(_.toString).sorted.toSeq
      val survivors = operators.Graph.ktrussPeel(s, dir, k)
        .filter(col("removed_round") === 0L)
        .select("u", "v").collect().map(_.toString).sorted.toSeq
      assert(slice == survivors, s"trussness>=$k diverged from the $k-truss")
    }
  }

  test("graph_triangle_incremental equals classifying the full oriented enumeration") {
    // the batch-driven probe (lower-degree endpoint wedges + confirm
    // join) against the INDEPENDENT full enumeration: classify the
    // session-cached oriented triangle table by the same md5 edge
    // split and compare all five counters
    val flag = (a: String, b: String) =>
      s"substr(md5(concat('incrg|', cast($a as string), '|', cast($b as string))), 1, 2) < '08'"
    val tri = operators.Graph.triangleRows(s, dir) // already normalized (x < y < z)
      .selectExpr(s"cast(${flag("x", "y")} as int) + cast(${flag("x", "z")} as int) + " +
        s"cast(${flag("y", "z")} as int) as nbe")
      .collect().map(_.getInt(0))
    val expected = (tri.count(_ >= 1).toLong, tri.count(_ == 1).toLong,
      tri.count(_ == 2).toLong, tri.count(_ == 3).toLong)
    val r = SparkEntry.queries("graph_triangle_incremental")(s, dir).head()
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) == expected,
      s"incremental counters drifted from the full-enumeration classification: $r vs $expected")
    assert(r.getLong(1) > 0, "vacuous: no batch-closed triangles at this sf")
  }

  test("sim_ivf_incremental's ncells equals the history sizing rule") {
    val nc = operators.Sim.histNcells(s, dir)
    val got = SparkEntry.queries("sim_ivf_incremental")(s, dir)
      .select("ncells").distinct().collect().map(_.getLong(0)).toSeq
    assert(got == Seq(nc), s"ncells $got vs rule $nc")
  }

  test("dedup_embedding output survives a UNION (the §8a#3 composition shape)") {
    val q = SparkEntry.queries("dedup_embedding")(s, dir)
    val n = q.count()
    assert(q.unionAll(q).count() == 2 * n)
  }

  test("an active index root with a missing artifact fails loudly") {
    val root = java.nio.file.Files.createTempDirectory("graft-idx-missing").toString
    // _meta present (so the threshold check passes), artifacts absent
    import s.implicits._
    Seq(("batch_thresh", Incr.batchThresh)).toDF("key", "value")
      .write.mode("overwrite").parquet(s"$root/_meta")
    IndexStore.use(Some(root))
    try {
      val e = intercept[IllegalStateException] {
        IndexStore.loadOrBuild(s, "ivf_hist_reps")(fail("builder must not run"))
      }
      assert(e.getMessage.contains("ivf_hist_reps"))
    } finally IndexStore.use(None)
  }

  test("a _meta threshold mismatch fails loudly instead of silently diverging") {
    val root = java.nio.file.Files.createTempDirectory("graft-idx-meta").toString
    IndexStore.writeAll(s, dir, root)
    import s.implicits._
    Seq(("batch_thresh", "08")).toDF("key", "value")
      .write.mode("overwrite").parquet(s"$root/_meta")
    IndexStore.use(Some(root))
    try {
      val e = intercept[IllegalStateException] {
        IndexStore.loadOrBuild(s, "ivf_hist_reps")(fail("builder must not run"))
      }
      assert(e.getMessage.contains("'08'"))
    } finally IndexStore.use(None)
  }

  test("mergeAll refuses an in-place merge (outRoot == histRoot)") {
    val root = java.nio.file.Files.createTempDirectory("graft-idx-inplace").toString
    val e = intercept[IllegalArgumentException] {
      IndexStore.mergeAll(s, dir, root, root)
    }
    assert(e.getMessage.contains("in-place"))
  }
}
