package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Partition invariance of the mergeable-state family. The engine's
  * 100 TB story for fingerprints and sketches rests on one property:
  * every combiner is commutative + associative, so the SAME bytes come
  * out no matter how the cluster partitions the scan or orders the
  * merges. DeterminismSpec pins run-to-run stability of the full
  * queries; this spec attacks the property directly — the exact
  * aggregate expressions dq_checksum / agg_kmv_distinct /
  * agg_hll_union / agg_cms_heavy / text_heavy_hitters build on, driven
  * over 20 seeded adversarial repartitions (varying partition COUNT and
  * partition KEY, including all-in-one and one-per-row-ish extremes),
  * asserting bit-identical output each time.
  */
class PartitionInvarianceSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  // 20k synthetic 60-bit row hashes over 7 groups with duplicates mixed
  // in (id % 3000 collides) — duplicates are what the sum limbs exist to
  // catch, so the invariance claim must hold with them present.
  private lazy val base = {
    val df = s.range(20000)
      .selectExpr("id % 7 AS g",
        "cast(conv(substr(md5(cast(id % 3000 as string)), 1, 15), 16, 10) as bigint) AS rh")
      .localCheckpoint(true)
    df
  }

  private def fingerprint(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.graft.VecFunctions.kmv_distinct
    df.groupBy("g")
      .agg(
        count(lit(1)).as("n"),
        expr("bit_xor(rh)").as("xor_sig"),
        // the dq_checksum limb encoding (20-bit lo/mid/hi in BIGINT)
        sum(expr("rh % 1048576")).as("sum_lo"),
        sum(expr("(rh div 1048576) % 1048576")).as("sum_mid"),
        sum(expr("rh div 1099511627776")).as("sum_hi"),
        kmv_distinct(col("rh"), 64).as("kmv"),
        expr("hex(count_min_sketch(rh, cast(0.001 as double), cast(0.99 as double), 42))")
          .as("cms"))
      .orderBy("g")
      .collect().map(_.toString).toSeq
  }

  test("checksum limbs + kmv/cms are bit-identical under 20 random merge orders") {
    val ref = fingerprint(base)
    assert(ref.nonEmpty)
    (1 to 20).foreach { i =>
      // partition count sweeps 1..40; key mixes a salted hash so rows
      // migrate between partitions differently every iteration
      val parts = 1 + (i * 7) % 40
      val shuffled = base.repartition(parts, expr(s"pmod(hash(rh, $i), 16)"))
      assert(fingerprint(shuffled) == ref,
        s"merge-order drift at seed $i ($parts partitions)")
    }
  }

  /** DataSketches HLL is set-ACCURATE but not merge-order bit-invariant:
    * union promotes coupon lists to HLL arrays at order-dependent points,
    * so two merge trees over the same set can emit estimates a few counts
    * apart (observed: 2903 vs 2889 on a ~3000-distinct column). The
    * contract agg_hll_union actually rests on is the error bound — pin
    * THAT under every merge order, not the bytes. lgK=12 → RSE ~1.6%;
    * assert within 5% (≈3σ) of exact.
    */
  test("hll estimate stays within 5% of exact under 20 random merge orders") {
    val exact = base.agg(countDistinct(col("rh"))).collect()(0).getLong(0)
    (1 to 20).foreach { i =>
      val parts = 1 + (i * 7) % 40
      val est = base.repartition(parts, expr(s"pmod(hash(rh, $i), 16)"))
        .agg(expr("hll_sketch_estimate(hll_sketch_agg(rh, 12))")).collect()(0).getLong(0)
      assert(math.abs(est.toDouble - exact) / exact < 0.05,
        s"seed $i ($parts partitions): est $est vs exact $exact")
    }
  }

  /** Misra-Gries raw state is legitimately merge-order-DEPENDENT (which
    * non-heavy keys survive eviction varies) — the queries built on it
    * (text_heavy_hitters) re-count candidates exactly, so the contract
    * is weaker but still a contract: under EVERY merge order, the
    * candidate set must contain every key with true count > n/k. Pin
    * that superset invariant across the same 20 shuffles.
    */
  test("misra-gries candidates cover all true heavy hitters under 20 random merge orders") {
    import org.apache.spark.sql.graft.VecFunctions.misra_gries
    // skewed item domain: `least(rh % 50, 10)` sends ~80% of rows to
    // item "10" (one true heavy hitter at k=8), the rest spread thin —
    // without skew no item clears n/k and the superset claim is vacuous
    val k = 8
    val truth = base.selectExpr("cast(least(rh % 50, 10) as string) AS item")
      .groupBy("item").count()
    val n = truth.agg(sum("count")).collect()(0).getLong(0)
    val heavy = truth.filter(col("count") > n / k)
      .collect().map(_.getString(0)).toSet
    assert(heavy.nonEmpty)
    (1 to 20).foreach { i =>
      val parts = 1 + (i * 7) % 40
      val cands = base.repartition(parts, expr(s"pmod(hash(rh, $i), 16)"))
        .agg(misra_gries(expr("cast(least(rh % 50, 10) as string)"), k).as("mg"))
        .selectExpr("explode(mg) AS item")
        .collect().map(_.getString(0)).toSet
      assert(heavy.subsetOf(cands),
        s"seed $i ($parts partitions): missing ${heavy.diff(cands)}")
    }
  }

  /** train_shard_manifest's shard assignment + XOR fingerprint: the
    * whole manifest is a hash-partitioned aggregate of (count, sum,
    * min, max, bit_xor) — all commutative+associative — so the 16
    * manifest rows must be BIT-identical no matter how the corpus scan
    * is partitioned. Attack with the same 20 adversarial shuffles.
    */
  test("shard-manifest fingerprints are bit-identical under 20 random merge orders") {
    def manifest(df: DataFrame): Seq[String] =
      df.withColumn("shard", pmod(col("rh"), lit(16L)))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum(col("g")).as("n_tokens"),
          min(col("rh")).as("min_h"), max(col("rh")).as("max_h"),
          expr("bit_xor(rh)").as("fingerprint"))
        .orderBy("shard")
        .collect().map(_.toString).toSeq
    val ref = manifest(base)
    assert(ref.size == 16)
    (1 to 20).foreach { i =>
      val parts = 1 + (i * 7) % 40
      val shuffled = base.repartition(parts, expr(s"pmod(hash(rh, $i), 16)"))
      assert(manifest(shuffled) == ref,
        s"manifest drift at seed $i ($parts partitions)")
    }
  }

  test("Gramian aggregate state is bit-identical under 20 random merge orders") {
    import org.apache.spark.sql.graft.GramianAgg.gramian_of
    // 4-dim quantized vectors derived from the row hash — small dim keeps
    // the assert readable; the accumulator code path is dim-generic
    val vecs = base.selectExpr(
      "array(rh % 1000, (rh div 7) % 1000, (rh div 49) % 1000, g * 100) AS q")
      .localCheckpoint(true)
    def gram(df: DataFrame): String =
      df.agg(gramian_of(col("q"), 4).as("g")).collect()(0).toString
    val ref = gram(vecs)
    (1 to 20).foreach { i =>
      val parts = 1 + (i * 7) % 40
      assert(gram(vecs.repartition(parts, expr(s"hash(q, $i)"))) == ref,
        s"Gramian drift at seed $i ($parts partitions)")
    }
  }

  /** The distributed global-rank/prefix-sum substrate (Flow.globalRank —
    * rfm quintiles, flow_max_concurrency offsets): range partition +
    * per-partition window + broadcast offsets must equal the single-
    * partition ground truth REGARDLESS of how the input arrives
    * partitioned, because repartitionByRange re-ranges from scratch.
    * Ground truth is computed once with a global window (fine at test
    * scale); 20 shuffles attack the substrate.
    */
  test("globalRank equals the global-window rank under 20 random input partitionings") {
    import org.apache.spark.sql.expressions.Window
    // heavy ties on k force the tiebreak column to carry the total order
    val df = s.range(5000)
      .selectExpr("id % 97 AS k", "id AS tb").localCheckpoint(true)
    val truth = df
      .withColumn("rk", row_number().over(Window.orderBy("k", "tb")).cast("long"))
      .orderBy("tb").collect().map(_.toString).toSeq
    (1 to 20).foreach { i =>
      val parts = 1 + (i * 7) % 40
      val got = operators.Flow.globalRank(
          df.repartition(parts, expr(s"pmod(hash(tb, $i), 16)")),
          "rk", col("k"), col("tb"))
        .select("k", "tb", "rk")
        .orderBy("tb").collect().map(_.toString).toSeq
      assert(got == truth, s"rank drift at seed $i ($parts partitions)")
    }
  }

  /** The range-prefix kernel's other two shapes (Flow.rangePrefix), each
    * against its global-window truth under the same 20 input
    * partitionings: a running sum of signed deltas whose sort key ties
    * heavily (flow_max_concurrency's shape), and a successor lookup over
    * keys with wide gaps (dq_sequence_gaps' shape). The successor keys
    * are 37 values repeated, so at 64 ranges the range bounds run out of
    * distinct keys (38 ranges, the last one empty) and most ranges hold
    * one key each: every successor there is a boundary carry.
    *
    * The kernel's width is the session's `spark.sql.shuffle.partitions`,
    * and AQE merges this little data into one range, where no carry is
    * ever read. So these cases run in child sessions (the shared
    * session's conf stays as it is) with AQE's partition coalescing off:
    * the width is then the real range count.
    */
  private lazy val deltas = s.range(5000)
    .selectExpr("id % 97 AS t", "CASE WHEN id % 3 = 0 THEN -(id % 5) ELSE id % 7 END AS d", "id")
    .localCheckpoint(true)
  private lazy val gapKeys = s.range(5000)
    .selectExpr("(id % 37) * (id % 37) * 1000 AS k").localCheckpoint(true)

  /** `df`'s rows in a child session whose kernel width is `width` ranges. */
  private def atWidth(width: Int, df: DataFrame): DataFrame = {
    val c = s.newSession()
    c.conf.set("spark.sql.shuffle.partitions", width.toString)
    c.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    c.createDataFrame(df.rdd, df.schema)
  }

  private def ranks(df: DataFrame): Seq[String] =
    operators.Flow.globalRank(df, "rk", col("k"), col("tb"))
      .select("k", "tb", "rk").orderBy("tb").collect().map(_.toString).toSeq

  private def runningSums(df: DataFrame): Seq[String] =
    operators.Flow.rangePrefix(df, "run", col("t"), col("d"), col("id"))(
        sum(col("d")), operators.Flow.exclusiveSum)(
        (off, w) => off + sum(col("d")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("id", "run").orderBy("id").collect().map(_.toString).toSeq

  private def successors(df: DataFrame): Seq[String] =
    operators.Flow.rangePrefix(df, "nxt", col("k"))(
        min(col("k")), (lo, ranges) => lead(lo, 1).over(ranges))(
        (next, w) => coalesce(lead(col("k"), 1).over(w), next))
      .select("k", "nxt").orderBy("k", "nxt").collect().map(_.toString).toSeq

  private lazy val runningTruth =
    deltas.withColumn("run", sum(col("d")).over(Window.orderBy("t", "d", "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("id", "run").orderBy("id").collect().map(_.toString).toSeq

  private lazy val successorTruth =
    gapKeys.withColumn("nxt", lead(col("k"), 1).over(Window.orderBy("k")))
      .select("k", "nxt").orderBy("k", "nxt").collect().map(_.toString).toSeq

  test("rangePrefix running sum equals the global-window running sum under 20 random input partitionings") {
    val input = atWidth(16, deltas)
    (1 to 20).foreach { i =>
      val parts = 1 + (i * 7) % 40
      val got = runningSums(input.repartition(parts, expr(s"pmod(hash(id, $i), 16)")))
      assert(got == runningTruth, s"running-sum drift at seed $i ($parts partitions)")
    }
  }

  test("rangePrefix successor equals the global lead under 20 random input partitionings") {
    val input = atWidth(64, gapKeys)
    (1 to 20).foreach { i =>
      val parts = 1 + (i * 7) % 40
      val got = successors(input.repartition(parts, expr(s"pmod(hash(k, $i), 16)")))
      assert(got == successorTruth, s"successor drift at seed $i ($parts partitions)")
    }
  }

  test("rangePrefix's three shapes hold at shuffle widths 1, 3 and 64") {
    val rankInput = s.range(5000).selectExpr("id % 97 AS k", "id AS tb").localCheckpoint(true)
    val rankTruth = rankInput
      .withColumn("rk", row_number().over(Window.orderBy("k", "tb")).cast("long"))
      .select("k", "tb", "rk").orderBy("tb").collect().map(_.toString).toSeq
    Seq(1, 3, 64).foreach { width =>
      assert(ranks(atWidth(width, rankInput)) == rankTruth, s"rank drift at width $width")
      assert(runningSums(atWidth(width, deltas)) == runningTruth,
        s"running-sum drift at width $width")
      assert(successors(atWidth(width, gapKeys)) == successorTruth,
        s"successor drift at width $width")
    }
  }

  /** The limb encoding itself: lo + 2^20·mid + 2^40·hi must reconstruct
    * the true sum for any mix of 60-bit values — checked against the
    * DECIMAL(38,0) sum Spark computes exactly.
    */
  test("limb sums reconstruct the exact decimal sum of 60-bit hashes") {
    val r = base.agg(
      sum(col("rh").cast("decimal(38,0)")).as("exact"),
      sum(expr("rh % 1048576")).as("lo"),
      sum(expr("(rh div 1048576) % 1048576")).as("mid"),
      sum(expr("rh div 1099511627776")).as("hi")).collect()(0)
    val exact = r.getDecimal(0).toBigInteger
    val rebuilt = BigInt(r.getLong(1)) +
      (BigInt(r.getLong(2)) << 20) + (BigInt(r.getLong(3)) << 40)
    assert(BigInt(exact) == rebuilt,
      s"limbs lost information: exact=$exact rebuilt=$rebuilt")
  }
}
