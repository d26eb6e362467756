package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end semantics checks for the dedup/similarity operators at
  * sf0.001 — the properties the DuckDB oracle can't express: LSH recall
  * vs brute force, banding recall-losslessness, dedup idempotence.
  */
class DedupSimSpec extends AnyFunSuite {
  import TestSpark.{sf, spark}

  test("dedup_exact halves a perfectly duplicated corpus") {
    val out = SparkEntry.queries("dedup_exact")(spark, sf)
    val docs = Tables(spark, sf, "documents").count()
    assert(out.count() == docs)
    assert(out.agg(sum("n_copies")).head.getLong(0) == docs * 2)
  }

  test("dedup_clusters returns a frame that reads no Dataset-cache entry") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val out = SparkEntry.queries("dedup_clusters")(spark, sf)
    assert(out.count() > 0)
    val cached = out.queryExecution.withCachedData.collect { case r: InMemoryRelation => r }
    assert(cached.isEmpty,
      s"dedup_clusters left ${cached.size} persisted frame(s) in the session cache")
  }

  test("minhash banding finds exactly the brute-force J>=0.8 pairs") {
    val banded = SparkEntry.queries("dedup_minhash")(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force within Spark: all-pairs Jaccard over the shingle sets
    val sh = Tables(spark, sf, "documents").select(col("doc_id"), expr(
      "array_distinct(transform(sequence(1, greatest(length(text) - 11, 1)), i -> substr(text, i, 12)))").as("sh"))
    val brute = sh.as("a").crossJoin(sh.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .withColumn("shared", size(array_intersect(col("a.sh"), col("b.sh"))))
      .withColumn("j", col("shared").cast("double") /
        (size(col("a.sh")) + size(col("b.sh")) - col("shared")))
      .filter(col("j") >= 0.8)
      .select(col("a.doc_id"), col("b.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == brute)
  }

  test("lsh topk recall vs brute force is usable") {
    def pairs(name: String): Set[(Long, Long)] =
      SparkEntry.queries(name)(spark, sf)
        .select("q_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs("sim_cosine_topk")
    val lsh = pairs("sim_cosine_topk_lsh")
    val recall = (brute & lsh).size.toDouble / brute.size
    // multi-probe (own + 4 Hamming-1 buckets) 16-bucket LSH: expect a
    // usable fraction, far above the 5/16 touched-corpus baseline
    assert(recall >= 0.35, s"recall=$recall")
    assert(lsh.forall { case (q, c) => q != c })

    val ivf = pairs("sim_cosine_topk_ivf")
    val ivfRecall = (brute & ivf).size.toDouble / brute.size
    // 3-of-10 cells probed; label cells are weak clusters, so expect
    // clearly above the 0.3 random-cells baseline
    assert(ivfRecall >= 0.35, s"ivfRecall=$ivfRecall")
  }

  test("dedup queries are deterministic across runs") {
    val a = SparkEntry.queries("dedup_simhash_pairs")(spark, sf).collect().toSeq
    val b = SparkEntry.queries("dedup_simhash_pairs")(spark, sf).collect().toSeq
    assert(a == b)
  }
}
