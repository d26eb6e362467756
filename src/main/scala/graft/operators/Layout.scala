package graft.operators

import graft.{Det, Scratch, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical data-layout operators — the moves that decide whether a 100 TB
  * table is *scanned* or *skipped*. The reference never touches layout (its
  * sink is a row-at-a-time COPY loop, `/root/reference/src/ParquetImporter.php:96-125`),
  * so like [[Bucketed]] these are part of the engine-grade extension set:
  *
  *  - '''join_dpp''' — a hive-partitioned fact (lineitem laid down once as
  *    `ship_month=YYYY-MM/` directories) joined to an aggregate-derived
  *    dimension. No static predicate on the partition column exists at plan
  *    time, so only Spark's *dynamic partition pruning* can skip partition
  *    directories: the dimension's broadcast result is reused as an IN-filter
  *    on the fact scan (`PartitionFilters: [dynamicpruning#...]`, pinned in
  *    PlanEvidenceSpec). At 100 TB this is the difference between reading 24
  *    months and reading 6.
  *  - '''join_bloom_runtime''' — a shuffle join where the selective dimension
  *    side injects a runtime bloom filter into the fact scan
  *    (`might_contain(...)`), discarding non-joining fact rows *before* the
  *    shuffle instead of after it. Run in a child session (`newSession`) so
  *    the bloom thresholds sized for local test data don't leak into other
  *    queries' plans.
  *  - '''scan_zorder_prune''' — part laid down once sorted by a Morton
  *    (Z-order) interleave of two filter columns, then read back through a
  *    2-D box predicate. Z-clustering gives every file a *narrow* min/max
  *    range on BOTH columns, so file- and row-group-level stats pruning works
  *    for 2-D predicates where a linear sort only prunes its leading column
  *    (file-level evidence asserted in LayoutSpec).
  */
object Layout {

  type Q = (SparkSession, String) => DataFrame

  /** Lay down lineitem hive-partitioned by ship month (once per session+SF).
    * The one-time partitioned write is ingest-layout cost, same category as
    * [[Bucketed.prepare]]; every later month-constrained query prunes
    * directories instead of scanning the table.
    */
  def prepareMonthly(s: SparkSession, dir: String): String =
    Scratch.once(s, dir, "monthly") { base =>
      Tables(s, dir, "lineitem")
        .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
        .write.mode("overwrite").partitionBy("ship_month").parquet(base)
    }

  /** 16-bit Morton bit-spread (x -> x with a zero bit interleaved after each
    * source bit) via the standard mask cascade, emitted as SQL text so the
    * *same arithmetic* runs in Spark and in the DuckDB oracle. `shl` abstracts
    * the engines' shift syntax (Spark `shiftleft(e, n)`, DuckDB `(e << n)`).
    */
  private def spread(c: String, shl: (String, Int) => String): String = {
    val v0 = s"(CAST($c AS BIGINT) & 65535)"
    val v1 = s"(($v0 | ${shl(v0, 8)}) & 16711935)"   // 0x00FF00FF
    val v2 = s"(($v1 | ${shl(v1, 4)}) & 252645135)"  // 0x0F0F0F0F
    val v3 = s"(($v2 | ${shl(v2, 2)}) & 858993459)"  // 0x33333333
    s"(($v3 | ${shl(v3, 1)}) & 1431655765)"          // 0x55555555
  }

  /** Z-value of (x, y): interleave x's bits (even positions) with y's (odd). */
  private def zSql(x: String, y: String, shl: (String, Int) => String): String =
    s"(${spread(x, shl)} | ${shl(spread(y, shl), 1)})"

  private val sparkShl: (String, Int) => String = (e, n) => s"shiftleft($e, $n)"
  private val duckShl: (String, Int) => String = (e, n) => s"($e << $n)"

  /** The two clustering dimensions for part: size (1..50) and whole-dollar
    * retail price. Both engines floor the double identically.
    */
  private val zx = "p_size"
  private val zy = "CAST(FLOOR(p_retailprice) AS BIGINT) & 1023"

  /** Lay down part Z-clustered on (p_size, floor(p_retailprice)): range-split
    * into files by zval, sorted by zval within each file, so file/row-group
    * min-max stats are tight on BOTH dimensions.
    */
  def prepareZorder(s: SparkSession, dir: String): String =
    Scratch.once(s, dir, "zorder") { base =>
      Tables(s, dir, "part")
        .withColumn("zval", expr(zSql(zx, zy, sparkShl)))
        .repartitionByRange(8, col("zval"))
        .sortWithinPartitions("zval")
        .write.mode("overwrite").parquet(base)
    }

  /** Linear-sorted control layout for the pruning comparison in LayoutSpec:
    * same files, sorted by p_size alone — min/max on the second dimension is
    * full-range in every file.
    */
  def prepareLinear(s: SparkSession, dir: String): String =
    Scratch.once(s, dir, "linear") { base =>
      Tables(s, dir, "part")
        .withColumn("zval", expr(zSql(zx, zy, sparkShl)))
        .repartitionByRange(8, col("p_size"), col("p_partkey"))
        .sortWithinPartitions("p_size", "p_partkey")
        .write.mode("overwrite").parquet(base)
    }

  /** Deliberately fragmented copy of documents (64 tiny files) — the
    * small-file problem every streaming/incremental ingest produces. Built
    * once per session as the input fixture for [[layout_compaction]].
    */
  def prepareFragmented(s: SparkSession, dir: String): String =
    Scratch.once(s, dir, "fragments") { base =>
      Tables(s, dir, "documents").repartition(64)
        .write.mode("overwrite").parquet(base)
    }

  /** One-time layouts built before a timed run (ingest cost, not query cost). */
  def prewarm(s: SparkSession, dir: String): Unit = {
    prepareMonthly(s, dir); prepareZorder(s, dir); prepareLinear(s, dir)
    prepareFragmented(s, dir)
  }

  /** Memoized child sessions carrying query-scoped SQL conf. `newSession()`
    * shares the SparkContext and cache but isolates SQLConf, so bloom-filter
    * thresholds sized for local test data never perturb other queries' plans.
    */
  private val bloomSessions =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, SparkSession]()

  private def bloomSession(parent: SparkSession): SparkSession =
    bloomSessions.computeIfAbsent(parent, { p =>
      val s = p.newSession()
      for (k <- Seq("spark.sql.shuffle.partitions", "spark.sql.session.timeZone"))
        s.conf.set(k, p.conf.get(k))
      // force the shuffle-join shape blooms exist for (a broadcast join
      // already has the dim rows in hand and gets no bloom)
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // local test tables are far below the 10 GB default application-side
      // threshold; at 100 TB the defaults fire on their own
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      s
    })

  /** Dynamic partition pruning: month-partitioned fact x "above-average
    * traffic months" dimension. The dimension is aggregate-derived, so no
    * static partition predicate can be inferred — the planner must wire the
    * dimension's broadcast into the fact scan's partition filters at runtime.
    */
  private val joinDpp: Q = (s, dir) => {
    val fact = s.read.parquet(prepareMonthly(s, dir))
    val m = Tables(s, dir, "lineitem")
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
      .agg(count(lit(1)).as("n_m"))
    // global window over ONE ROW PER MONTH (bounded by the calendar, not the
    // data) — a cross-join with the scalar average would get folded into a
    // join *condition*, and DPP's planner rule only treats a standing Filter
    // node as the selective predicate that justifies pruning
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    val dim = m.withColumn("nbar", avg(col("n_m")).over(w))
      .where(col("n_m") > col("nbar")).select("ship_month")
    // dim is aggregate-derived, so its size *estimate* is unbounded — hint
    // the broadcast so the planner can reuse the dim's broadcast exchange as
    // the fact scan's dynamic partition-pruning subquery (reuseBroadcastOnly)
    fact.join(broadcast(dim), "ship_month")
      .groupBy("ship_month")
      .agg(count(lit(1)).as("n"), Det.dsum(col("l_extendedprice")).as("gross"))
      .orderBy("ship_month")
  }

  /** Runtime bloom-filter pruning: lineitem x one selective brand of part,
    * joined without broadcast. The injected `might_contain(l_partkey)` drops
    * ~98% of fact rows before they are shuffled.
    */
  private val joinBloomRuntime: Q = (parent, dir) => {
    val s = bloomSession(parent)
    val li = Tables(s, dir, "lineitem")
    val pt = Tables(s, dir, "part").where(col("p_brand") === "Brand#19")
    li.join(pt, col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"), Det.dsum(col("l_extendedprice")).as("gross"))
      .orderBy("p_brand")
  }

  /** 2-D box predicate over the Z-clustered layout. Both predicates are
    * plain column comparisons, so they push down to parquet row-group stats
    * (`p_retailprice ∈ [905, 918)` is exactly `zy ∈ [905, 917]` because the
    * price domain is below the 1024 mask). Values (including the stored
    * zval) round-trip the parquet write, so the DuckDB oracle recomputes the
    * identical interleave arithmetic on the base table.
    */
  private val scanZorderPrune: Q = (s, dir) => {
    s.read.parquet(prepareZorder(s, dir))
      .where(col("p_size").between(10, 20) &&
        col("p_retailprice") >= 905 && col("p_retailprice") < 918)
      .select(col("p_partkey"), col("p_name"), col("p_size"),
        col("p_retailprice"), col("zval"))
      .orderBy("p_partkey")
  }

  /** Small-file compaction — the maintenance operator every incremental
    * ingest needs (Delta OPTIMIZE / Iceberg rewrite_data_files): read the
    * 64-fragment layout, rewrite it as one file per target bucket, and
    * report the achieved layout from real file metadata (`_metadata`), not
    * from assumptions. `repartition(4, bkt)` puts each bucket entirely in
    * one task, so each `bkt=` directory is written as exactly one file —
    * the n_files=1 invariant the oracle pins. At 100 TB the bucket count
    * scales with table size / target file size and each task still writes
    * one file; the shuffle moves each row once.
    */
  private val layoutCompaction: Q = (s, dir) => {
    val frag = s.read.parquet(prepareFragmented(s, dir))
    val out = Scratch.path("compacted", dir)
    frag.withColumn("bkt", pmod(col("doc_id"), lit(4)).cast("bigint"))
      .repartition(4, col("bkt"))
      .write.mode("overwrite").partitionBy("bkt").parquet(out)
    s.read.parquet(out)
      .groupBy(col("bkt").cast("bigint").as("bkt"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("_metadata.file_name")).as("n_files"))
      .orderBy("bkt")
  }

  /** Storage-codec control: the same lineitem projection written parquet-
    * zstd and parquet-snappy, each read back and aggregated — verifying
    * codec choice is transparent to query results (and, in LayoutSpec,
    * that zstd actually lands smaller on disk: the 100 TB storage-cost
    * lever). The write is the usual one-time layout cost; reads are
    * normal pushdown-capable scans either way.
    */
  private val codecZstd: Q = (s, dir) => {
    import org.apache.spark.sql.functions._
    val src = Tables(s, dir, "lineitem")
      .select("l_orderkey", "l_returnflag", "l_quantity", "l_shipdate")
    val out = Seq("zstd", "snappy").map { codec =>
      val path = new java.io.File(codecDir(dir), codec).getAbsolutePath
      src.write.mode("overwrite").option("compression", codec).parquet(path)
      s.read.parquet(path)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), graft.Det.dsum(col("l_quantity")).as("sum_qty"))
        .withColumn("codec", lit(codec))
    }
    out.reduce(_ unionAll _)
      .select("codec", "l_returnflag", "n", "sum_qty")
      .orderBy("codec", "l_returnflag")
  }

  /** Stable scratch root for the codec comparison (shared by query + spec). */
  private[graft] def codecDir(dir: String): String = Scratch.path("codec", dir)

  val queries: Map[String, Q] = Map(
    "layout_codec_zstd" -> codecZstd,
    "join_dpp" -> joinDpp,
    "join_bloom_runtime" -> joinBloomRuntime,
    "scan_zorder_prune" -> scanZorderPrune,
    "layout_compaction" -> layoutCompaction,
  )

  val oracles: Map[String, String] = Map(
    // both codecs must read back the identical data — the oracle is the
    // source aggregate replicated per codec label
    "layout_codec_zstd" ->
      """WITH a AS (SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty
        |  FROM lineitem GROUP BY 1)
        |SELECT codec, l_returnflag, n, sum_qty
        |FROM a CROSS JOIN (SELECT unnest(['zstd', 'snappy']) AS codec)
        |ORDER BY codec, l_returnflag""".stripMargin,
    "join_dpp" ->
      s"""WITH m AS (
         |  SELECT strftime(l_shipdate, '%Y-%m') AS ship_month, COUNT(*) AS n_m
         |  FROM lineitem GROUP BY 1),
         |dim AS (SELECT ship_month FROM m WHERE n_m > (SELECT AVG(n_m) FROM m))
         |SELECT l.ship_month, COUNT(*) AS n,
         |  ${Det.oSum("l_extendedprice")} AS gross
         |FROM (SELECT strftime(l_shipdate, '%Y-%m') AS ship_month, l_extendedprice
         |      FROM lineitem) l
         |JOIN dim ON l.ship_month = dim.ship_month
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "join_bloom_runtime" ->
      s"""SELECT p_brand, COUNT(*) AS n, ${Det.oSum("l_extendedprice")} AS gross
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE p_brand = 'Brand#19'
         |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "layout_compaction" ->
      """SELECT CAST(doc_id % 4 AS BIGINT) AS bkt, COUNT(*) AS n_rows,
        |  CAST(1 AS BIGINT) AS n_files
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "scan_zorder_prune" ->
      s"""SELECT p_partkey, p_name, p_size, p_retailprice,
         |  ${zSql(zx, zy, duckShl)} AS zval
         |FROM part
         |WHERE p_size BETWEEN 10 AND 20
         |  AND p_retailprice >= 905 AND p_retailprice < 918
         |ORDER BY p_partkey""".stripMargin,
  )
}
