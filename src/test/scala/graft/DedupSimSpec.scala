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

  test("adcTop: a stride-5 LUT scores each survivor as its direct reconstruction dot; the top-64 cut breaks score ties by the smaller rep") {
    import spark.implicits._
    // a 2-cell folded codebook over 5 anchors (stride 5, not 16). All
    // values are multiples of 1/8 or 1/4, so every dot is exact in any
    // summation order and the scores compare bit for bit
    val nCode = 5
    def cw(cell: Long, sub: Int, code: Int): Seq[Double] =
      Seq.tabulate(8)(j => ((cell * 7 + sub * 3 + code * 5 + j) % 9 - 4) / 4.0)
    val cb = (for (cell <- Seq(0L, 1L); sub <- 0 until 8; code <- 0 until nCode)
      yield (cell, sub, code, cw(cell, sub, code))).toDF("cell", "sub", "code", "cw")
    // cell 0: 70 reps sharing one code row — an exact 70-way score tie,
    // so a 64-cut over it must bind inside the tie; cell 1: 12 distinct reps
    val reps: Seq[(Long, Long, Seq[Int])] =
      Seq.tabulate(70)(i => (0L, 200L - i, Seq(1, 4, 0, 2, 3, 1, 0, 4))) ++
        Seq.tabulate(12)(i => (1L, i.toLong, Seq.tabulate(8)(sub => (i + 2 * sub) % nCode)))
    def recon(cell: Long, cs: Seq[Int]): Seq[Double] =
      cs.zipWithIndex.flatMap { case (c, sub) => cw(cell, sub, c) }
    def dot(a: Seq[Double], b: Seq[Double]): Double = a.zip(b).map { case (x, y) => x * y }.sum
    val codes = reps.map { case (cell, rep, cs) => (cell, rep, cs, dot(recon(cell, cs), recon(cell, cs))) }
      .toDF("cell", "rep", "codes", "recn2")
    val qs = Seq(
      1L -> Seq.tabulate(64)(i => ((i * 7 + 3) % 13 - 6) / 8.0),
      2L -> Seq.tabulate(64)(i => ((i * 5 + 1) % 11 - 5) / 8.0))
    def probedCells(q: Long): Seq[Long] = if (q == 1L) Seq(0L, 1L) else Seq(1L)
    val probed = qs.flatMap { case (q, v) =>
      probedCells(q).map(c => (q, v, math.sqrt(dot(v, v)), c)) }.toDF("q_id", "qv", "qn", "cell")
    val got = operators.Sim.adcTop(probed, "q_id", cb, codes).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rep")) -> r.getAs[Double]("adc_sim")).toMap
    val want = qs.flatMap { case (q, v) =>
      reps.filter(r => probedCells(q).contains(r._1)).map { case (cell, rep, cs) =>
        val r = recon(cell, cs)
        val sc = BigDecimal(dot(v, r) / (math.sqrt(dot(v, v)) * math.sqrt(dot(r, r))))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (q, rep, sc)
      }.sortBy { case (_, rep, sc) => (-sc, rep) }.take(64)
    }
    assert(got.keySet == want.map(w => (w._1, w._2)).toSet)
    want.foreach { case (q, rep, sc) =>
      assert(got((q, rep)) == sc, s"q$q rep $rep: ADC ${got((q, rep))} vs direct $sc") }
    // query 1's cut lands inside the tie: exactly its smallest reps survive
    val tied = got.keys.collect { case (1L, rep) if rep > 100 => rep }.toSeq.sorted
    assert(tied.nonEmpty && tied.size < 70, s"the cut should bind inside the tie: ${tied.size} kept")
    assert(tied == (131L until 131L + tied.size), s"tie survivors are not the smallest reps: $tied")
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
