package graft

import org.apache.spark.sql.classic
import org.scalatest.funsuite.AnyFunSuite

/** The Dedup, Sim and Graph prewarms leave every cache they warm in the
  * session, persisted and fully materialized, so the first query that
  * reads one builds nothing.
  */
class PrewarmSpec extends AnyFunSuite {
  private val warmed = Seq(
    "docs.spread", "dedup_sh64", "dedup_groups", "dedup_postings", "dedup_pair_shared",
    "dedup_group_rare", "dedup_minhash_bands", "dedup_minhash_pairs", "dedup_simhash",
    "dedup_rarestr", "dedup_ngmh_sig", "dedup_ngmh_pairs",
    "vectors", "pq_codes", "pq_recn", "sim.scaled.assign", "sim.scaled.cents",
    "graph.edges", "graph.adj", "graph.deg", "graph_lpa", "graph_tri_full",
    "graph_y95_edges", "graph_y95_trie", "graph.edgeSup.y95", "graph_hist_cc_labels",
    "graph_cc_batch")

  test("Dedup, Sim and Graph prewarms leave every warmed cache resident and materialized") {
    val s = TestSpark.spark
    val dir = TestSpark.sf
    // start cold even when an earlier suite in this JVM built some of them
    warmed.foreach(Cached.evictKeySuffix)
    operators.Dedup.prewarm(s, dir)
    operators.Sim.prewarm(s, dir)
    operators.Graph.prewarm(s, dir)
    val cache = s.asInstanceOf[classic.SparkSession].sharedState.cacheManager
    warmed.foreach { key =>
      val df = Cached.of(s, dir, key)(fail(s"'$key' is not resident after prewarm"))
      val loaded = cache.lookupCachedData(df.asInstanceOf[classic.Dataset[_]])
        .exists(_.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded)
      assert(loaded, s"'$key' is resident but not materialized after prewarm")
    }
  }
}
