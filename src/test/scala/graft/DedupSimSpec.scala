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

  test("recallAt counts a query with zero hits as n_hit = 0, not a missing row") {
    import spark.implicits._
    val truth = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L)).toDF("q_id", "cand_id")
    val approx = Seq((1L, 10L), (1L, 99L), (2L, 98L)).toDF("q_id", "cand_id")
    val out = operators.Sim.recallAt(2)(truth, approx)
    assert(out.columns.toSeq == Seq("q_id", "n_hit", "recall_at_2"))
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((1L, 1L, 0.5), (2L, 0L, 0.0)))
  }

  test("probe keeps min(nprobe, ncells) cells per query and breaks score ties by the smaller cell") {
    import spark.implicits._
    val q = Seq((1L, 1.0), (2L, -1.0)).toDF("q_id", "w")
    // cells 5 and 3 tie on score for every query; cell 7 scores apart
    val cents = Seq((5L, 1.0), (3L, 1.0), (7L, 0.5)).toDF("cell", "c")
    def cells(nprobe: Int): Seq[(Long, Int, Long)] =
      operators.Sim.probe(q, "q_id", cents, col("w") * col("c"), nprobe)
        .select("q_id", "crk", "cell").orderBy("q_id", "crk").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(cells(2) == Seq((1L, 1, 3L), (1L, 2, 5L), (2L, 1, 7L), (2L, 2, 3L)))
    assert(cells(5) == Seq((1L, 1, 3L), (1L, 2, 5L), (1L, 3, 7L),
      (2L, 1, 7L), (2L, 2, 3L), (2L, 3, 5L)))
  }

  test("docPairs emits doc_a < doc_b for both content-key orders") {
    import spark.implicits._
    val docs = Seq(("x", 9L), ("x", 2L), ("y", 5L)).toDF("ckey", "doc_id")
    val pairs = Seq(("x", "y", 0.9), ("y", "x", 0.8)).toDF("ka", "kb", "jaccard")
    val got = operators.Dedup.docPairs(pairs, docs, "ckey")(col("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((5L, 9L, 0.9), (2L, 5L, 0.9), (5L, 9L, 0.8), (2L, 5L, 0.8)))
  }
}
