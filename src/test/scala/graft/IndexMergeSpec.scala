package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, first, lit, min, not}
import operators.Sim
import org.scalatest.funsuite.AnyFunSuite

/** The nightly index UPDATE contract: folding tonight's batch into the
  * persisted history artifacts (`IndexStore.mergeAll` — set algebra
  * over artifacts + batch increments, raw history never read) must
  * produce, artifact for artifact, EXACTLY what a from-scratch rebuild
  * over the full corpus produces. For the corpus-independent artifacts
  * (content groups, bands, docs, LM counts, gram vocabulary) that
  * rebuild treats the whole corpus as history; for the IVF artifacts —
  * whose ⌊√n_hist⌋-cell quantizer is TRAINED on history — the rebuild
  * is the reassign-all form (`refMergedArtifacts` below): the frozen
  * history quantizer recomputed from raw data, every corpus vector
  * assigned under it (history by its training assignment, batch by the
  * serving rule), centroid sums recomputed globally. Retraining on
  * H∪B is a different operation (it changes ncells and every cell
  * boundary) and requires exactly the raw history the merge exists to
  * avoid — assign-only update vs periodic retrain is the standard
  * production IVF split. Either way the property is the same: the
  * admitted batch becomes tomorrow's history without a rebuild.
  */
class IndexMergeSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val dir = TestSpark.sf

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Reference "reassign-all rebuild" defining the IVF merge identity:
    * every corpus vector keyed by the cell the FROZEN history quantizer
    * gives it — history rows by their training assignment, batch rows
    * by nearest final history centroid (the serving rule). A nightly
    * rebuild-without-retrain computes this from RAW data; the merge must
    * reach the same rows reading only artifacts + tonight's batch.
    */
  private def frozenAssignAll(s: SparkSession, dir: String): DataFrame = {
    val hRows = Sim.vectors(s, dir).filter(not(expr(Incr.isBatchVec)))
      .join(Sim.histAssign(s, dir).select(col("vec_id"), col("cell")), "vec_id")
      .select(col("cell"), col("vec_id"), col("v"), col("nrm"))
    val cents = Sim.buildIvfHistCentroids(s, dir)
      .select(col("cell"), col("cv"), col("cn"))
    hRows.unionByName(
      Sim.batchAssignedTo(s, dir, cents)
        .select(col("cell"), col("vec_id"), col("v"), col("nrm")))
  }

  /** The reference-rebuild IVF artifacts: reps/members/centroid-sums over
    * [[frozenAssignAll]].
    */
  private def refMergedArtifacts(s: SparkSession, dir: String): Map[String, DataFrame] = {
    val all = frozenAssignAll(s, dir)
    val reps = all.groupBy(col("cell"), col("v"))
      .agg(min(col("vec_id")).as("rep"), first(col("nrm")).as("hnrm"))
    val members = all
      .join(reps.select(col("cell"), col("v"), col("rep")), Seq("cell", "v"))
      .select(col("rep").as("mrep"), col("vec_id").as("cand_id"))
    val cents = Sim.scaledCellsOf(
      all.select(col("cell"),
        expr("transform(v, t -> cast(round(t * 1048576.0) as double))").as("x")))
      .withColumn("nc", lit(Sim.histNcells(s, dir)))
    // the codebook is frozen at history training time in BOTH
    // formulations; codes re-encode every merged (cell, v) group
    // against it — the raw-data rule the remap+append merge must equal
    val cb = Sim.buildIvfHistCodebook(s, dir)
    val codes = Sim.encodeRepsWith(reps.select(col("cell"), col("v"), col("rep")), cb)
    Map("ivf_hist_reps" -> reps, "ivf_hist_members" -> members,
      "ivf_hist_centroids" -> cents,
      "ivf_hist_codebook" -> cb, "ivf_hist_codes" -> codes)
  }

  test("merged artifacts equal a from-scratch full-corpus build, artifact for artifact") {
    val rootA = java.nio.file.Files.createTempDirectory("graft-merge-hist").toString
    val rootB = java.nio.file.Files.createTempDirectory("graft-merge-out").toString
    IndexStore.writeAll(s, dir, rootA)
    IndexStore.mergeAll(s, dir, rootA, rootB)
    val fullGroups = operators.Dedup.groupsFor(s, dir, lit(true))
    val simRef = refMergedArtifacts(s, dir)
    val full: Map[String, DataFrame] = Map(
      "dedup_hist_groups" -> fullGroups,
      "dedup_hist_bands" -> operators.Dedup.bandsForGroups(fullGroups),
      "dedup_hist_docs" -> operators.Dedup.docsFor(s, dir, lit(true)),
      "ivf_hist_reps" -> simRef("ivf_hist_reps"),
      "ivf_hist_members" -> simRef("ivf_hist_members"),
      "ivf_hist_centroids" -> simRef("ivf_hist_centroids"),
      "ivf_hist_codebook" -> simRef("ivf_hist_codebook"),
      "ivf_hist_codes" -> simRef("ivf_hist_codes"),
      "lm_hist_counts" -> operators.Train.lmCountsFor(s, dir, lit(true)),
      "gram_hist_vocab" -> operators.Text.gramVocabFor(s, dir, lit(true)),
    ) ++ operators.Graph.fullSubstrate(s, dir)
    IndexStore.artifacts.foreach { case (name, _) =>
      val got = rows(s.read.parquet(s"$rootB/$name"))
      val want = rows(full(name))
      assert(got.size == want.size, s"$name: merged ${got.size} rows vs rebuilt ${want.size}")
      assert(got == want, s"$name drifted between merge and full rebuild: " +
        s"first diff ${got.zip(want).find(p => p._1 != p._2)}")
    }
    // and the merge genuinely ADDED the batch: every artifact at least
    // as large as history's, and the doc membership strictly larger
    val histDocs = rows(s.read.parquet(s"$rootA/dedup_hist_docs"))
    val mergedDocs = rows(s.read.parquet(s"$rootB/dedup_hist_docs"))
    assert(mergedDocs.size > histDocs.size, "vacuous merge: no batch docs folded in")
    // serving against the MERGED root must be identical AND idempotent:
    // the CC fold finds every batch edge already inside one component
    // (an EMPTY label-level graph — the lblSum null fix's case) and
    // passes the merged labels through unchanged
    // COMPOSED consumers (edges = hist ∪ staged, degrees = hist ⊕
    // deg(staged), triangles = hist ∪ batch-closed(staged)) must also
    // serve identically from the merged root: the merge consumed the
    // batch into history and wrote the staging as the empty remainder,
    // so the disjointness invariant the composition relies on holds —
    // a carried-through staging would double-count every batch edge
    // here (ADVICE r14 medium)
    val composed = Seq("graph_cc_incremental", "graph_triangles",
      "graph_degree_stats", "graph_triangle_incremental")
    val inline = composed.map(q =>
      q -> SparkEntry.queries(q)(s, dir).collect().map(_.toString).sorted.toSeq).toMap
    IndexStore.use(Some(rootB))
    try {
      composed.foreach { q =>
        val served = SparkEntry.queries(q)(s, dir)
          .collect().map(_.toString).sorted.toSeq
        assert(served == inline(q),
          s"$q served from the merged root drifted from the in-session build")
      }
    } finally IndexStore.use(None)
  }
}
