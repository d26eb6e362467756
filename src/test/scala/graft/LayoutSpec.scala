package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the layout operators' scale evidence:
  *  - join_dpp really plans *dynamic* partition pruning (the fact scan's
  *    partition filters carry a runtime subquery, not a static IN-list);
  *  - join_bloom_runtime really injects a bloom `might_contain` on the fact
  *    side of a shuffle join;
  *  - the Z-clustered part layout really narrows per-file min/max on BOTH
  *    box dimensions, where the linear (p_size-sorted) control layout leaves
  *    the second dimension full-range in every file.
  */
class LayoutSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val dir = TestSpark.sf

  private def planString(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("join_dpp prunes fact partitions with a runtime (dynamic) filter") {
    val p = planString(operators.Layout.queries("join_dpp")(s, dir))
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning in fact scan:\n$p")
  }

  test("the monthly layout holds exactly one file per ship_month directory") {
    // the suite's lineitem as four files, so the scan runs four tasks that
    // would each write a file per month if the write did not cluster
    val corpus = java.nio.file.Files.createTempDirectory("graft_monthly").toString
    Tables(s, dir, "lineitem").repartition(4)
      .write.mode("overwrite").parquet(s"$corpus/lineitem.parquet")
    val base = new java.io.File(operators.Layout.prepareMonthly(s, corpus))
    val months = base.listFiles().filter(_.getName.startsWith("ship_month="))
    assert(months.length > 12, s"too few ship_month= directories under $base")
    val files = months.map(m => m.getName -> m.list().count(_.endsWith(".parquet"))).toMap
    assert(files.values.forall(_ == 1), s"months with other than one file: ${files.filter(_._2 != 1)}")
    assert(Tables.read(s, base.getPath).count() == Tables(s, dir, "lineitem").count())
  }

  test("join_bloom_runtime injects might_contain into the fact side of a shuffle join") {
    val df = operators.Layout.queries("join_bloom_runtime")(s, dir)
    val p = planString(df)
    assert(p.contains("might_contain"), s"no runtime bloom filter:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"bloom demo requires a shuffle join:\n$p")
  }

  test("scan_zorder_prune pushes both box predicates to the parquet scan") {
    val p = planString(operators.Layout.queries("scan_zorder_prune")(s, dir))
    assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"), p)
    assert(p.contains("p_retailprice") && p.contains("p_size"), p)
  }

  /** Files whose [min,max] box on (p_size, floor-price) intersects the query
    * box — the file-level analogue of the row-group stats pruning a parquet
    * reader performs. Wide on p_size, narrow on price: a linear p_size sort
    * cannot prune this shape, Z-clustering can.
    */
  private def candidateFiles(path: String, lo: Long, hi: Long): (Long, Long) = {
    val stats = s.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(min("p_size").as("lox"), max("p_size").as("hix"),
        min(expr("CAST(FLOOR(p_retailprice) AS BIGINT)")).as("loy"),
        max(expr("CAST(FLOOR(p_retailprice) AS BIGINT)")).as("hiy"))
    val total = stats.count()
    // wide-open on p_size, narrow on price: the shape a leading-column sort
    // cannot prune
    val hit = stats.where(col("hiy") >= lo && col("loy") <= hi).count()
    (hit, total)
  }

  /** Linear-sorted control layout for the pruning comparison: part in 8
    * range-split files sorted by p_size alone, so min/max on the second
    * dimension is full-range in every file.
    */
  private def prepareLinear(dir: String): String =
    Scratch.once(s, dir, "linear") { base =>
      Tables(s, dir, "part")
        .repartitionByRange(8, col("p_size"), col("p_partkey"))
        .sortWithinPartitions("p_size", "p_partkey")
        .write.mode("overwrite").parquet(base)
    }

  test("Z-clustered files keep both dimensions narrow; linear sort leaves dim 2 full-range") {
    // sf0.01 for this evidence: 2 500 parts give the price domain its full
    // 900..999 spread (sf0.001 only spans 900..919)
    val dir = "/root/testdata/sf0.01"
    // slice = middle tenth of the actual price domain, robust to SF
    val Array(dlo, dhi) = s.read.parquet(s"$dir/part.parquet")
      .agg(min(floor(col("p_retailprice"))), max(floor(col("p_retailprice"))))
      .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
    val mid = (dlo + dhi) / 2
    val span = math.max(1L, (dhi - dlo) / 20)
    val (zHit, zTotal) = candidateFiles(operators.Layout.prepareZorder(s, dir), mid - span, mid + span)
    val (lHit, lTotal) = candidateFiles(prepareLinear(dir), mid - span, mid + span)
    assert(zTotal >= 4 && lTotal >= 4, s"layouts produced too few files: $zTotal / $lTotal")
    // the linear layout sorts by p_size, so price is full-range in every
    // file and the narrow price slice prunes nothing
    assert(lHit == lTotal, s"linear layout unexpectedly pruned: $lHit/$lTotal")
    assert(zHit < lHit, s"z-order did not prune vs linear: z=$zHit/$zTotal linear=$lHit/$lTotal")
  }

  test("layout_compaction collapses the 64-fragment layout to one file per bucket") {
    val nFrag = s.read.parquet(operators.Layout.prepareFragmented(s, dir))
      .select(input_file_name()).distinct().count()
    assert(nFrag >= 32, s"fragmented fixture has only $nFrag files")
    val rows = operators.Layout.queries("layout_compaction")(s, dir).collect()
    assert(rows.length == 4, rows.mkString(", "))
    assert(rows.forall(_.getLong(2) == 1L),
      s"a bucket spans more than one file: ${rows.mkString(", ")}")
    val total = rows.map(_.getLong(1)).sum
    assert(total == Tables(s, dir, "documents").count())
  }

  test("layout_codec_zstd: both codecs read back identically and zstd lands smaller on disk") {
    val rows = operators.Layout.queries("layout_codec_zstd")(s, dir).collect()
    val byCodec = rows.groupBy(_.getString(0))
    assert(byCodec.keySet == Set("zstd", "snappy"))
    // identical data through either codec
    assert(byCodec("zstd").map(r => (r.getString(1), r.getLong(2), r.getDouble(3))).toSet ==
      byCodec("snappy").map(r => (r.getString(1), r.getLong(2), r.getDouble(3))).toSet)
    def bytes(codec: String): Long = {
      val d = new java.io.File(operators.Layout.codecDir(dir), codec)
      d.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    }
    assert(bytes("zstd") < bytes("snappy"),
      s"zstd ${bytes("zstd")} B should be < snappy ${bytes("snappy")} B")
  }

  test("agg_bitmap_distinct matches countDistinct exactly") {
    val bm = operators.Relational.queries("agg_bitmap_distinct")(s, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val cd = Tables(s, dir, "lineitem")
      .groupBy("l_returnflag").agg(countDistinct("l_partkey").as("nd"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bm == cd, s"bitmap=$bm exact=$cd")
  }
}
