package graft.operators

import graft.{Det, Scratch, Tables}
import graft.ingest.Importer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference-parity ingest surface as verifiable queries (SURVEY.md §2.1,
  * R1-R10): scan + columnMap projection/rename, schema discovery, value
  * normalization, and a sink round-trip.
  */
object Ingest {
  import Det._

  type Q = (SparkSession, String) => DataFrame

  /** R1+R4: parquet scan + columnMap rename; a mapped-but-missing source
    * column materializes as NULL (reference ParquetImporter.php:83).
    */
  private val scanProjectRename: Q = (s, dir) => {
    val li = Tables(s, dir, "lineitem")
    Importer.project(li, Seq(
        "l_orderkey" -> "okey",
        "l_linenumber" -> "line_no",
        "l_quantity" -> "qty",
        "not_a_column" -> "missing_col"))
      .orderBy("okey", "line_no")
  }

  /** R3: schema discovery surfaced as data (ordinal, column name). */
  private val scanSchemaCols: Q = (s, dir) => {
    import s.implicits._
    val li = Tables(s, dir, "lineitem")
    li.columns.zipWithIndex.map { case (c, i) => (i + 1, c) }.toSeq
      .toDF("ordinal", "col_name")
      .orderBy("ordinal")
  }

  /** R5/R6: nested -> JSON, timestamp -> micro-formatted string. */
  private val normalizeJsonTs: Q = (s, dir) => {
    val e = Tables(s, dir, "events")
    val pre = e.select(
      col("event_id"),
      struct(col("user_id"), col("event_type")).as("payload"),
      col("ts"))
    Importer.normalize(pre).orderBy("event_id")
  }

  /** R7-R10: write-then-read-back through the Importer sink (parquet table
    * directory standing in for the SQL table; no JDBC driver offline) and
    * aggregate the re-read data.
    */
  private val sinkRoundtrip: Q = (s, dir) => {
    val tmp = Scratch.path("sink", dir)
    Importer.importParquet(s, s"$dir/lineitem.parquet", "lineitem_sink",
      truncate = true, sinkDir = Some(tmp))
    s.read.parquet(s"$tmp/lineitem_sink")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** CSV sink/source round-trip: write nation as headered CSV, re-read
    * with the original schema (no inference pass — the schema is the
    * contract), aggregate. Covers the text-format source/sink path.
    */
  private val sinkRoundtripCsv: Q = (s, dir) => {
    val src = Tables(s, dir, "nation")
    val tmp = Scratch.path("csv", dir)
    src.write.mode("overwrite").option("header", "true").csv(s"$tmp/nation")
    s.read.option("header", "true").schema(src.schema).csv(s"$tmp/nation")
      .groupBy("n_regionkey")
      .agg(count(lit(1)).as("n"), concat_ws(",", array_sort(collect_list("n_name"))).as("names"))
      .orderBy("n_regionkey")
  }

  /** JSON-lines sink/source round-trip on supplier (doubles survive via
    * shortest-round-trip encoding; sums go through Det for order
    * independence).
    */
  private val sinkRoundtripJson: Q = (s, dir) => {
    val src = Tables(s, dir, "supplier")
    val tmp = Scratch.path("json", dir)
    src.write.mode("overwrite").json(s"$tmp/supplier")
    s.read.schema(src.schema).json(s"$tmp/supplier")
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n"), dsum(col("s_acctbal")).as("sum_bal"))
      .orderBy("s_nationkey")
  }

  /** ORC sink/source round-trip on part — the second columnar format
    * (predicate pushdown, column pruning, and vectorized reads all work
    * the same as parquet; a warehouse migrating between the two needs
    * both ends). The re-read filter exercises ORC's pushdown path.
    */
  private val sinkRoundtripOrc: Q = (s, dir) => {
    val src = Tables(s, dir, "part")
    val tmp = Scratch.path("orc", dir)
    src.write.mode("overwrite").orc(s"$tmp/part")
    s.read.orc(s"$tmp/part")
      .filter(col("p_size") <= 25)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"), dsum(col("p_retailprice")).as("sum_price"))
      .orderBy("p_brand")
  }

  /** Hive-style partitioned write + partition-pruned read: orders land in
    * one directory per o_orderstatus; the re-read filter prunes to a
    * single partition (PartitionFilters in explain, the other directories
    * are never opened). At 100 TB this is the difference between
    * scanning one partition and the whole table.
    */
  private val sinkPartitioned: Q = (s, dir) => {
    val tmp = Scratch.path("part", dir)
    Tables(s, dir, "orders")
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(s"$tmp/orders")
    s.read.parquet(s"$tmp/orders")
      .filter(col("o_orderstatus") === "F")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderpriority")
  }

  /** File-provenance via the hidden `_metadata` column: per-input-file
    * row counts. At 100 TB this is the lineage primitive (which of the
    * million input files produced this row) — free from the scan, no
    * join against a manifest. The oracle states the expected relational
    * result (one file per table in the test corpus).
    */
  private val scanFileMetadata: Q = (s, dir) => {
    def one(t: String) =
      Tables(s, dir, t)
        .select(col("_metadata.file_name").as("fname"))
        .groupBy("fname").agg(count(lit(1)).as("n_rows"))
    one("customer").unionAll(one("lineitem")).unionAll(one("orders"))
      .orderBy("fname")
  }

  /** Schema-evolution scan: two parquet generations of the same table —
    * the second gained a column — read together with `mergeSchema`. Rows
    * from the old generation surface the new column as NULL, the exact
    * semantics a long-lived 100 TB table needs when old files are never
    * rewritten. (Set-level evolution via unionByName is covered by
    * `set_union_by_name`; this is the SCAN-level path where one read sees
    * both file schemas.)
    */
  private val scanMergeSchema: Q = (s, dir) => {
    val n = Tables(s, dir, "nation")
    val tmp = Scratch.path("evo", dir)
    n.filter(col("n_nationkey") % 2 === 0)
      .select(col("n_nationkey"), col("n_name"))
      .write.mode("overwrite").parquet(s"$tmp/v1")
    n.filter(col("n_nationkey") % 2 =!= 0)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .write.mode("overwrite").parquet(s"$tmp/v2")
    s.read.option("mergeSchema", "true").parquet(s"$tmp/v1", s"$tmp/v2")
      .orderBy("n_nationkey")
  }

  /** Custom DataSourceV2 connector (sources/SeqDataSource.scala): the
    * pushed `id < 50000` bound narrows the GENERATED range at the source
    * (rows past the bound never exist), the modulo residual is applied
    * post-scan, and the source plans its own 8 input partitions.
    */
  private val scanDsv2: Q = (s, _) => {
    s.read.format("graft.sources.SeqDataSource")
      .option("rows", "100000").option("partitions", "8").load()
      .filter(col("id") < 50000 && col("id") % 1000 < 10)
      .orderBy("id")
  }

  /** R6+R8: the COPY value codec as data — null -> `\N`, bool -> 1/0,
    * backslash-first escaping of `\` `\t` `\r` `\n` (reference
    * ParquetImporter.php:151-179) — over doc rows with injected tab /
    * backslash / NULL edge cases, so the exact line bytes handed to
    * `COPY ... FROM STDIN` are pinned against an independent engine.
    */
  private val sinkCopyFormat: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, lit(null).cast("string"))
          .otherwise(concat(col("lang"), lit("\t"),
            substring(col("text"), 1, 20), lit("\\"))).as("sval"),
        (col("doc_id") % 2 === 0).as("bval"),
        col("n_chars"))
    val payload = org.apache.spark.sql.types.StructType(
      d.schema.fields.filter(_.name != "doc_id"))
    d.select(col("doc_id"),
        graft.ingest.CopySink.lineExpr(payload).as("copy_line"))
      .orderBy("doc_id")
  }

  /** Data-quality profile (the Deequ-style ingest gate): ONE aggregation
    * pass computes per-column completeness, distinctness, uniqueness, and
    * min/max over a fixed column list, then `stack` unpivots the 1-row
    * result into one row per column. At 100 TB this is a single
    * map-side-combining scan — the multi-metric trick is that all 30
    * aggregates share it; nothing is per-column re-scanned. o_custkey
    * gets deterministic injected NULLs (o_orderkey % 10, mirrored in the
    * oracle) so the completeness metric is non-vacuous on NULL-free
    * TPC-H. Numerics profile as double min/max, strings/dates as string
    * min/max (date formatted — never raw double-to-string, whose
    * rendering is engine-specific).
    */
  private val dqProfile: Q = (s, dir) => {
    val o = Tables(s, dir, "orders").withColumn("o_custkey",
      when(col("o_orderkey") % 10 === 0, lit(null).cast("bigint"))
        .otherwise(col("o_custkey")))
    // (name, numeric min/max source, string min/max source). String
    // min/max sources are computed in a SEPARATE grouping-free fold (r16):
    // a string agg buffer is immutable, and ONE string min/max in the
    // multi-distinct aggregation forces the ENTIRE 6×-Expand output
    // through SortAggregate — a full sort of 6n rows by the 6-key
    // distinct spine (measured 2.7 s isolated at sf0.1; the sort grows
    // n·log n at 100 TB while the hash path stays linear). The date
    // min/max stays in the hash pass on the NATIVE timestamp (mutable
    // long buffer) — 'yyyy-MM-dd' is order-preserving, so formatting
    // after the fold is identical to folding the formatted strings.
    val specs: Seq[(String, Option[String], Option[String])] = Seq(
      ("o_orderkey", Some("cast(o_orderkey as double)"), None),
      ("o_custkey", Some("cast(o_custkey as double)"), None),
      ("o_totalprice", Some("o_totalprice"), None),
      ("o_orderstatus", None, Some("o_orderstatus")),
      ("o_orderdate", None, Some("o_orderdate")))
    val aggs = specs.flatMap { case (c, num, _) => Seq(
      count(col(c)).as(s"nn_$c"),
      countDistinct(col(c)).as(s"nd_$c"),
      num.map(e => min(expr(e))).getOrElse(lit(null).cast("double")).as(s"mnn_$c"),
      num.map(e => max(expr(e))).getOrElse(lit(null).cast("double")).as(s"mxn_$c"))
    } ++ Seq(
      date_format(min(col("o_orderdate")), "yyyy-MM-dd").as("mns_o_orderdate"),
      date_format(max(col("o_orderdate")), "yyyy-MM-dd").as("mxs_o_orderdate"))
    // grouping-free string fold: SortAggregate without grouping keys needs
    // no Sort and no Expand — one linear pass, 1-row result
    val strs = o.agg(
      min(col("o_orderstatus")).as("mns_o_orderstatus"),
      max(col("o_orderstatus")).as("mxs_o_orderstatus"))
    val a = o.agg(count(lit(1)).as("n_rows"), aggs: _*)
      .crossJoin(broadcast(strs))
      .select(col("*") +: specs.collect {
        // the numeric columns' null string-stat slots (the hash pass
        // already emits null numeric slots for the string columns)
        case (c, Some(_), _) => Seq(
          lit(null).cast("string").as(s"mns_$c"), lit(null).cast("string").as(s"mxs_$c"))
      }.flatten: _*)
    val stackArgs = specs.map { case (c, _, _) =>
      s"'$c', nn_$c, nd_$c, mnn_$c, mxn_$c, mns_$c, mxs_$c" }.mkString(", ")
    a.selectExpr("n_rows",
        s"stack(${specs.size}, $stackArgs) AS " +
          "(col_name, n_nonnull, n_distinct, min_num, max_num, min_str, max_str)")
      .select(col("col_name"), col("n_rows"), col("n_nonnull"),
        (col("n_nonnull").cast("double") / col("n_rows")).as("completeness"),
        col("n_distinct"),
        (col("n_distinct") === col("n_nonnull")).as("is_unique"),
        col("min_num"), col("max_num"), col("min_str"), col("max_str"))
      .orderBy("col_name")
  }

  /** Constraint checking (the assert side of DQ, vs dq_profile's
    * metrics): four rules over orders in ONE pass — price positivity,
    * date range, o_custkey referential integrity against customer, and
    * orderkey uniqueness. The FK check is the scale-relevant one: a
    * left join against the (distinct) key side, violations counted as
    * unmatched rows — keyed shuffle, never a collect. Deterministic
    * violations are injected (negated price at o_orderkey % 97, orphan
    * custkey at % 101, mirrored in the oracle) so two of the four rules
    * are non-vacuous on clean TPC-H; the other two genuinely pass — a
    * DQ report where every rule fires is as useless as one where none
    * does.
    */
  private val dqRules: Q = (s, dir) => {
    val o = Tables(s, dir, "orders")
      .withColumn("price", when(col("o_orderkey") % 97 === 0, -col("o_totalprice"))
        .otherwise(col("o_totalprice")))
      .withColumn("ck", when(col("o_orderkey") % 101 === 0, lit(99999999L))
        .otherwise(col("o_custkey")))
    val cust = Tables(s, dir, "customer").select(col("c_custkey")).distinct()
    val m = o.join(cust, o("ck") === cust("c_custkey"), "left")
      .agg(
        count(lit(1)).as("n_checked"),
        sum(when(col("price") <= 0, 1L).otherwise(0L)).as("v_price"),
        sum(when(col("o_orderdate") < lit("1995-01-01") ||
          col("o_orderdate") >= lit("2002-01-01"), 1L).otherwise(0L)).as("v_date"),
        sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("v_fk"),
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("v_dup"))
    m.selectExpr(
        """stack(4,
          |  'date_in_range', v_date,
          |  'fk_customer', v_fk,
          |  'price_positive', v_price,
          |  'unique_orderkey', v_dup) AS (rule, n_violations)""".stripMargin,
        "n_checked")
      .select(col("rule"), col("n_violations"), col("n_checked"))
      .orderBy("rule")
  }

  /** Order-free table fingerprint — the cross-cluster integrity primitive:
    * each row canonicalizes to a '|'-joined string of engine-stable
    * renderings (integers, exact cents, formatted dates — never raw
    * double-to-string), hashes to a 60-bit md5 prefix, and the per-group
    * checksum is (bit_xor of hashes, sum of hashes). Both combiners are
    * commutative+associative, so ANY partitioning of a 100 TB table
    * yields the identical fingerprint with no sort and one
    * map-side-combining scan — the cheap way to compare a table across
    * clusters/engines. XOR alone cancels duplicate-row PAIRS (a⊕a=0);
    * the SUM catches those, and together with the count the fingerprint
    * distinguishes every corruption a checksum of this width can.
    *
    * The sum is carried as THREE 20-bit limb sums (lo/mid/hi BIGINTs),
    * not one DECIMAL(38,0): a 23-digit decimal proved to round-trip
    * differently through downstream result-hashing layers (r5's only
    * red row — the query itself replays bit-exact), and BIGINT is the
    * one integer type every engine canonicalizes identically. Each limb
    * is < 2^20, so the sums stay exact in int64 up to 2^43 rows per
    * group — comfortably past 100 TB — and the full 60-bit sum is
    * recoverable as lo + 2^20·mid + 2^40·hi in any wide-integer reader.
    */
  private val dqChecksum: Q = (s, dir) => {
    val li = Tables(s, dir, "lineitem")
      .withColumn("rh", expr(
        """cast(conv(substr(md5(concat_ws('|',
          |  cast(l_orderkey as string), cast(l_linenumber as string),
          |  cast(cast(round(l_quantity * 100) as bigint) as string),
          |  cast(cast(round(l_extendedprice * 100) as bigint) as string),
          |  l_returnflag, l_linestatus,
          |  date_format(l_shipdate, 'yyyy-MM-dd'))), 1, 15), 16, 10) as bigint)""".stripMargin))
    li.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(rh)").as("xor_sig"),
        sum(expr("rh % 1048576")).as("sum_lo"),
        sum(expr("(rh div 1048576) % 1048576")).as("sum_mid"),
        sum(expr("rh div 1099511627776")).as("sum_hi"))
      .orderBy("l_returnflag")
  }

  /** Sequence-gap detection — the "did we lose records?" DQ probe over a
    * supposedly-dense key. TPC-H orderkeys are sparse by design (1-8
    * mod 32), so the non-vacuous fixture restricts to a dense residue
    * slice (keys ≡ 1 mod 32, gaps injected by dropping keys whose
    * quotient ≡ 3 mod 5 — mirrored in the oracle).
    *
    * The successor lookup is NOT one global lead() window (a single-task
    * sort of the distinct-key table, which grows linearly with the fact
    * table): the keys range-repartition on k, each partition runs its
    * own lead() in parallel, and the one row per partition whose
    * successor lives across the boundary takes it from a 32-row
    * per-partition-minimum table computed with one bounded window — the
    * globalRank boundary-handoff discipline (Flow.globalRank).
    * localCheckpoint pins one materialization of the range exchange so
    * both consumers (the boundary minima and the per-partition windows)
    * see consistent spark_partition_id values.
    */
  private val dqSequenceGaps: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val keys = Tables(s, dir, "orders")
      .filter(col("o_orderkey") % 32 === 1)
      .select(expr("(o_orderkey - 1) div 32").as("k"))
      .distinct()
      .filter(col("k") % 5 =!= 3)
    val part = keys.repartitionByRange(32, col("k"))
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint(true)
    // per-partition minima → each partition's boundary successor is the
    // NEXT non-empty partition's min (empty partitions simply don't
    // appear); the window runs over ≤32 rows
    val bounds = part.groupBy("_pid").agg(min(col("k")).as("_minK"))
      .withColumn("_bnext", lead(col("_minK"), 1).over(Window.orderBy("_pid")))
      .select("_pid", "_bnext")
    part.join(broadcast(bounds), "_pid")
      .withColumn("nxt", coalesce(
        lead(col("k"), 1).over(Window.partitionBy("_pid").orderBy("k")),
        col("_bnext")))
      .filter(col("nxt").isNotNull && col("nxt") - col("k") > 1)
      .select(col("k").as("gap_after"), col("nxt").as("resume_at"),
        (col("nxt") - col("k") - 1).as("n_missing"))
      .orderBy("gap_after")
  }

  /** k-anonymity audit — the privacy gate a data release (or a
    * training-corpus metadata table) runs before shipping: every row
    * joins a quasi-identifier group (market segment × account-balance
    * bucket of width 2000); any group smaller than k=5 re-identifies
    * its members through the released attributes alone. Per segment the
    * report gives the release's effective k (min group size), the
    * groups/rows below threshold, and the at-risk fraction. Two hash
    * aggregations, both map-side combining — at 100 TB this shuffles
    * only (QI-tuple, count) records, never row data, and the second
    * level is |segments|-sized. The bucket floor is a single IEEE op on
    * both engines, so group boundaries agree bit-exactly.
    */
  private val dqKanonymity: Q = (s, dir) => {
    val g = Tables(s, dir, "customer")
      .select(col("c_mktsegment"),
        expr("cast(floor(c_acctbal / 2000.0) as bigint)").as("bal_bucket"))
      .groupBy("c_mktsegment", "bal_bucket")
      .agg(count(lit(1)).as("n"))
    g.groupBy(col("c_mktsegment"))
      .agg(
        sum(col("n")).as("n_rows"),
        count(lit(1)).as("n_groups"),
        min(col("n")).as("k_anonymity"),
        sum(when(col("n") < 5, 1L).otherwise(0L)).as("n_unsafe_groups"),
        sum(when(col("n") < 5, col("n")).otherwise(lit(0L))).as("rows_at_risk"))
      .withColumn("at_risk_frac", col("rows_at_risk").cast("double") / col("n_rows"))
      .orderBy("c_mktsegment")
  }

  /** Local-DP count via randomized response (ε = ln 3): each row
    * reports its sensitive bit (mktsegment = BUILDING) FLIPPED with
    * p = 1/4, then the per-nation debiased estimate
    * (reported − p·n) / (1 − 2p) recovers the true count in
    * expectation without any row having disclosed its bit with
    * certainty. The flip coin here is a per-row md5 hash so the
    * mechanism replays bit-exactly in the oracle (a real deployment
    * draws fresh randomness; the estimator is unchanged), and
    * `true_count` is emitted ONLY as the verification column — a
    * release ships the estimate alone. All counts are exact integers;
    * the estimate is two IEEE ops mirrored structurally in the oracle.
    * Scale shape: one map-side-combining aggregation, nothing else.
    */
  private val dpRrCount: Q = (s, dir) => {
    val c = Tables(s, dir, "customer")
      .withColumn("flag", (col("c_mktsegment") === "BUILDING").cast("int"))
      .withColumn("coin", expr(
        "cast(conv(substr(md5(cast(c_custkey as string)), 1, 8), 16, 10) as bigint) % 100"))
      .withColumn("reported",
        when(col("coin") < 25, lit(1) - col("flag")).otherwise(col("flag")))
    c.groupBy("c_nationkey")
      .agg(
        count(lit(1)).as("n"),
        sum(col("flag").cast("bigint")).as("true_count"),
        sum(col("reported").cast("bigint")).as("reported_count"))
      .withColumn("dp_estimate",
        (col("reported_count").cast("double") - lit(0.25) * col("n")) / lit(0.5))
      .orderBy("c_nationkey")
  }

  /** Central-DP noisy counts via the geometric mechanism (discrete
    * Laplace, ε = ln 2): per-(nation, segment) counts get integer noise
    * Z with P(Z=k) = (1/3)·(1/2)^|k| — the exact-integer counterpart
    * of Laplace noise, and the mechanism actually used for counting
    * queries because it never leaves ℤ. The inverse CDF is an unrolled
    * CASE over LITERAL dyadic thresholds (no log(), whose rounding
    * differs across engines), driven by a 24-bit md5 hash of the group
    * key so the draw replays bit-exactly in the oracle (a deployment
    * uses fresh randomness; estimator and noise distribution are
    * unchanged). Noise clamps at ±8 (mass beyond: 2·(1/3)·2⁻⁸ < 0.3%).
    * `n` ships only as the verification column. One aggregation, one
    * per-group expression — free at any scale.
    */
  private val dpGeometric: Q = (s, dir) => {
    val g = Tables(s, dir, "customer")
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("n"))
      .withColumn("u", expr(
        "cast(conv(substr(md5(concat(cast(c_nationkey as string), '|', c_mktsegment)), 1, 6), 16, 10) as double) / 16777216.0"))
    // inverse CDF: P(0)=1/3; tails split the remaining 2/3 evenly, with
    // conditional magnitude CDF 1/2, 3/4, 7/8, ... (dyadic literals).
    // Staged columns t (tail position) / r (within-tail position) are
    // mirrored 1:1 in the oracle so every IEEE op matches structurally.
    g.withColumn("t", (col("u") - lit(0.3333333333333333)) * lit(1.5))
      .withColumn("r",
        when(col("t") < 0.5, col("t") * 2.0).otherwise((col("t") - 0.5) * 2.0))
      .withColumn("mag", expr(
        """CASE WHEN r < 0.5 THEN 1L WHEN r < 0.75 THEN 2L WHEN r < 0.875 THEN 3L
          | WHEN r < 0.9375 THEN 4L WHEN r < 0.96875 THEN 5L WHEN r < 0.984375 THEN 6L
          | WHEN r < 0.9921875 THEN 7L ELSE 8L END""".stripMargin))
      .withColumn("noise",
        when(col("u") < 0.3333333333333333, lit(0L))
          .otherwise(when(col("t") < 0.5, col("mag")).otherwise(-col("mag"))))
      .select(col("c_nationkey"), col("c_mktsegment"), col("n"),
        col("noise"), (col("n") + col("noise")).as("dp_count"))
      .orderBy("c_nationkey", "c_mktsegment")
  }

  /** Benford first-digit audit — the forensic DQ check for fabricated or
    * truncated numeric columns: natural multiplicative data (prices,
    * populations) has first-digit frequency log10(1 + 1/d); systematic
    * deviation (flat digits, a spike at 5) flags synthetic or clipped
    * values. Emits per-digit observed counts, observed vs expected
    * share, and the chi-square contribution. The expected shares are
    * LITERAL doubles (not computed log10 at runtime): both engines
    * parse the same decimal literal to the same IEEE double, where a
    * runtime log10 is not guaranteed correctly rounded and could differ
    * in the last ulp between libm implementations. One
    * map-side-combining scan; the digit domain is 9 rows.
    */
  private val dqBenford: Q = (s, dir) => {
    val share = """CASE digit WHEN 1 THEN 0.3010299956639812
      | WHEN 2 THEN 0.17609125905568124 WHEN 3 THEN 0.12493873660829992
      | WHEN 4 THEN 0.09691001300805642 WHEN 5 THEN 0.07918124604762482
      | WHEN 6 THEN 0.06694678963061322 WHEN 7 THEN 0.05799194697768673
      | WHEN 8 THEN 0.05115252244738129 ELSE 0.04575749056067514 END""".stripMargin
    val obs = Tables(s, dir, "orders")
      .filter(col("o_totalprice") >= 1)
      .withColumn("digit",
        expr("cast(substr(cast(cast(floor(o_totalprice) as bigint) as string), 1, 1) as bigint)"))
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
    val tot = obs.agg(sum(col("n_obs")).as("n_total"))
    obs.crossJoin(broadcast(tot))
      .withColumn("exp_share", expr(s"cast(($share) as double)"))
      .select(col("digit"), col("n_obs"),
        round(col("n_obs").cast("double") / col("n_total"), 6).as("obs_share"),
        round(col("exp_share"), 6).as("expected_share"),
        round(
          (col("n_obs") - col("n_total") * col("exp_share")) *
            (col("n_obs") - col("n_total") * col("exp_share")) /
            (col("n_total") * col("exp_share")), 6).as("chi2_term"))
      .orderBy("digit")
  }

  /** IQR outlier audit (Tukey fences) on order totals — the box-plot
    * rule every DQ dashboard starts with: flag values beyond
    * [q1 − 1.5·IQR, q3 + 1.5·IQR]. Quartiles come from the
    * histogram-selection substrate (Relational.aggPercentileDist's
    * discipline): two map-side-combining scans locate the type-1 p25/p75
    * ranks via integer rank·100 ≥ p100·n comparisons, only the straddle
    * buckets are ranked, and the fence count is ONE more
    * map-side-combining scan against the broadcast 1-row fence table.
    * No row ever shuffles; at 100 TB the audit costs three scans.
    */
  private val dqOutlierIqr: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val nb = 1024
    val o = Tables(s, dir, "orders")
      .select(col("o_totalprice").as("v"), col("o_orderkey"))
    val mm = o.agg(min(col("v")).as("mn"), max(col("v")).as("mx"), count(lit(1)).as("n"))
    val hist = o.crossJoin(broadcast(mm))
      .withColumn("b", Relational.histBucket(col("v"), nb))
      .groupBy("b").agg(count(lit(1)).as("bw"))
    val cum = hist.withColumn("below", coalesce(
        sum(col("bw")).over(Window.orderBy("b")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val specs = mm.select(explode(array(lit(25L), lit(75L))).as("p100"), col("n"))
      .withColumn("t100", col("p100") * col("n"))
    val located = specs.join(broadcast(cum),
      col("t100") > col("below") * 100 &&
        col("t100") <= (col("below") + col("bw")) * 100)
    val buckets = located.select(col("b"), col("below")).distinct()
    val ranked = o.crossJoin(broadcast(mm))
      .withColumn("b", Relational.histBucket(col("v"), nb))
      .join(broadcast(buckets), "b")
      .withColumn("cr", col("below") + row_number().over(
        Window.partitionBy("b").orderBy(col("v"), col("o_orderkey"))))
    val picked = ranked.join(
        broadcast(located.select(col("p100").as("p_"), col("t100"), col("b").as("b_"))),
        col("b") === col("b_") && col("cr") * 100 >= col("t100"))
      .groupBy("p_").agg(min(col("v")).as("q"))
    val fences = picked.agg(
        max(when(col("p_") === 25, col("q"))).as("q1"),
        max(when(col("p_") === 75, col("q"))).as("q3"))
      .withColumn("iqr", col("q3") - col("q1"))
      .withColumn("lo", col("q1") - lit(1.5) * col("iqr"))
      .withColumn("hi", col("q3") + lit(1.5) * col("iqr"))
    o.crossJoin(broadcast(fences))
      .agg(count(lit(1)).as("n"),
        max(col("q1")).as("q1_"), max(col("q3")).as("q3_"),
        max(col("iqr")).as("iqr_"), max(col("lo")).as("lo_"), max(col("hi")).as("hi_"),
        sum(when(col("v") < col("lo"), 1L).otherwise(0L)).as("n_low"),
        sum(when(col("v") > col("hi"), 1L).otherwise(0L)).as("n_high"))
      .select(col("n"), round(col("q1_"), 6).as("q1"), round(col("q3_"), 6).as("q3"),
        round(col("iqr_"), 6).as("iqr"), round(col("lo_"), 6).as("lo_fence"),
        round(col("hi_"), 6).as("hi_fence"), col("n_low"), col("n_high"))
  }

  /** Distribution-drift audit (Population Stability Index) between two
    * order periods — the ML-monitoring gate that catches "the feature
    * moved" before a model does. o_totalprice histograms over 10 fixed
    * global-range buckets in period A (< 1998-01-01) vs B (≥); PSI =
    * Σ (pa − pb)·ln(pa/pb) with the standard 1e-6 share floor so empty
    * buckets stay finite. Counts are exact integers from two
    * map-side-combining scans (the min/max range pass + the histogram
    * pass — the selection-substrate shape); shares/ln are the only IEEE
    * steps, replayed verbatim by the oracle. PSI ≥ 0.2 is the
    * conventional "significant drift" flag.
    */
  private val dqDriftPsi: Q = (s, dir) => {
    val o = Tables(s, dir, "orders")
      .select(col("o_totalprice").as("v"),
        (col("o_orderdate") < lit("1998-01-01")).as("in_a"))
    val mm = o.agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    // b is ≤10 rows and referenced by both tot and the final select —
    // session-cached so the histogram pass runs once, not per reference
    val b = graft.Cached.of(s, dir, "dq.psi.hist")(o.crossJoin(broadcast(mm))
      .withColumn("bkt", when(col("mx") === col("mn"), lit(0L)).otherwise(
        least(floor((col("v") - col("mn")) / ((col("mx") - col("mn")) / 10)), lit(9L))
          .cast("long")))
      .groupBy("bkt")
      .agg(sum(when(col("in_a"), 1L).otherwise(0L)).as("na"),
        sum(when(!col("in_a"), 1L).otherwise(0L)).as("nb")))
    val tot = b.agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"))
    b.crossJoin(broadcast(tot))
      .withColumn("pa", greatest(col("na").cast("double") / col("ta"), lit(1e-6)))
      .withColumn("pb", greatest(col("nb").cast("double") / col("tb"), lit(1e-6)))
      .withColumn("psi_term", (col("pa") - col("pb")) * log(col("pa") / col("pb")))
      .agg(max(col("ta")).as("n_a"), max(col("tb")).as("n_b"),
        round(sum(col("psi_term")), 6).as("psi"))
      .withColumn("drifted", col("psi") >= 0.2)
  }

  /** Referential-integrity audit across the whole TPC-H foreign-key
    * graph — the load-time DQ gate a warehouse ingest runs before
    * exposing tables: one row per FK edge with exact row/orphan counts.
    * Each edge is one left-anti join (child keys vs parent keys) + two
    * counts; dimension parents broadcast, the lineitem→orders edge is
    * the only genuine shuffle at 100 TB. Keys are NOT NULL in this
    * schema, so anti-join orphan semantics equal NOT IN here (the
    * NULL-key caveat is join_null_safe's subject).
    */
  private val dqRefIntegrity: Q = (s, dir) => {
    // one count per CHILD table, shared by its edges (lineitem carries
    // three FKs — recounting 38 M rows per edge is a free 2-scan saving)
    def edge(name: String, child: DataFrame, rows: DataFrame, parent: DataFrame): DataFrame = {
      val orphans = child.join(parent, Seq("k"), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      rows.crossJoin(orphans)
        .select(lit(name).as("fk"), col("n_rows"), col("n_orphans"),
          (col("n_orphans") === 0L).as("ok"))
    }
    val li = Tables(s, dir, "lineitem")
    val ord = Tables(s, dir, "orders")
    val cust = Tables(s, dir, "customer")
    val sup = Tables(s, dir, "supplier")
    val nat = Tables(s, dir, "nation")
    val liN = graft.Cached.of(s, dir, "dq.ref.liN")(
      li.agg(count(lit(1)).as("n_rows")))
    val ordN = ord.agg(count(lit(1)).as("n_rows"))
    val custN = cust.agg(count(lit(1)).as("n_rows"))
    val supN = sup.agg(count(lit(1)).as("n_rows"))
    val natN = nat.agg(count(lit(1)).as("n_rows"))
    Seq(
      edge("customer.c_nationkey->nation", cust.select(col("c_nationkey").as("k")),
        custN, nat.select(col("n_nationkey").as("k"))),
      edge("lineitem.l_orderkey->orders", li.select(col("l_orderkey").as("k")),
        liN, ord.select(col("o_orderkey").as("k"))),
      edge("lineitem.l_partkey->part", li.select(col("l_partkey").as("k")),
        liN, Tables(s, dir, "part").select(col("p_partkey").as("k"))),
      edge("lineitem.l_suppkey->supplier", li.select(col("l_suppkey").as("k")),
        liN, sup.select(col("s_suppkey").as("k"))),
      edge("nation.n_regionkey->region", nat.select(col("n_regionkey").as("k")),
        natN, Tables(s, dir, "region").select(col("r_regionkey").as("k"))),
      edge("orders.o_custkey->customer", ord.select(col("o_custkey").as("k")),
        ordN, cust.select(col("c_custkey").as("k"))),
      edge("supplier.s_nationkey->nation", sup.select(col("s_nationkey").as("k")),
        supN, nat.select(col("n_nationkey").as("k"))))
      .reduce(_.unionAll(_))
      .orderBy("fk")
  }

  val queries: Map[String, Q] = Map(
    "dq_drift_psi" -> dqDriftPsi,
    "dq_ref_integrity" -> dqRefIntegrity,
    "dq_outlier_iqr" -> dqOutlierIqr,
    "dq_benford" -> dqBenford,
    "dp_geometric_counts" -> dpGeometric,
    "dq_profile" -> dqProfile,
    "dq_rules" -> dqRules,
    "dq_checksum" -> dqChecksum,
    "dq_kanonymity" -> dqKanonymity,
    "dp_rr_count" -> dpRrCount,
    "dq_sequence_gaps" -> dqSequenceGaps,
    "sink_copy_format" -> sinkCopyFormat,
    "scan_merge_schema" -> scanMergeSchema,
    "scan_dsv2_source" -> scanDsv2,
    "scan_file_metadata" -> scanFileMetadata,
    "scan_project_rename" -> scanProjectRename,
    "scan_schema_cols" -> scanSchemaCols,
    "normalize_json_ts" -> normalizeJsonTs,
    "sink_roundtrip" -> sinkRoundtrip,
    "sink_roundtrip_csv" -> sinkRoundtripCsv,
    "sink_roundtrip_json" -> sinkRoundtripJson,
    "sink_roundtrip_orc" -> sinkRoundtripOrc,
    "sink_partitioned" -> sinkPartitioned,
  )

  private val lineitemCols = Seq(
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate")

  val oracles: Map[String, String] = Map(
    "dq_drift_psi" ->
      """WITH o AS (SELECT o_totalprice AS v, o_orderdate < DATE '1998-01-01' AS in_a FROM orders),
        |mm AS (SELECT MIN(v) AS mn, MAX(v) AS mx FROM o),
        |b AS (SELECT CASE WHEN mx = mn THEN 0
        |    ELSE least(CAST(floor((v - mn) / ((mx - mn) / 10)) AS BIGINT), 9) END AS bkt,
        |    CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS nb
        |  FROM o, mm GROUP BY 1),
        |t AS (SELECT CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb FROM b),
        |p AS (SELECT greatest(CAST(na AS DOUBLE) / ta, 1e-6) AS pa,
        |    greatest(CAST(nb AS DOUBLE) / tb, 1e-6) AS pb, ta, tb FROM b, t)
        |SELECT MAX(ta) AS n_a, MAX(tb) AS n_b,
        |  round(SUM((pa - pb) * ln(pa / pb)), 6) AS psi,
        |  round(SUM((pa - pb) * ln(pa / pb)), 6) >= 0.2 AS drifted
        |FROM p""".stripMargin,
    "dq_ref_integrity" ->
      """WITH e AS (
        |  SELECT 'customer.c_nationkey->nation' AS fk,
        |    (SELECT COUNT(*) FROM customer) AS n_rows,
        |    (SELECT COUNT(*) FROM customer c LEFT JOIN nation n
        |      ON c.c_nationkey = n.n_nationkey WHERE n.n_nationkey IS NULL) AS n_orphans
        |  UNION ALL SELECT 'lineitem.l_orderkey->orders',
        |    (SELECT COUNT(*) FROM lineitem),
        |    (SELECT COUNT(*) FROM lineitem l LEFT JOIN orders o
        |      ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL)
        |  UNION ALL SELECT 'lineitem.l_partkey->part',
        |    (SELECT COUNT(*) FROM lineitem),
        |    (SELECT COUNT(*) FROM lineitem l LEFT JOIN part p
        |      ON l.l_partkey = p.p_partkey WHERE p.p_partkey IS NULL)
        |  UNION ALL SELECT 'lineitem.l_suppkey->supplier',
        |    (SELECT COUNT(*) FROM lineitem),
        |    (SELECT COUNT(*) FROM lineitem l LEFT JOIN supplier s
        |      ON l.l_suppkey = s.s_suppkey WHERE s.s_suppkey IS NULL)
        |  UNION ALL SELECT 'nation.n_regionkey->region',
        |    (SELECT COUNT(*) FROM nation),
        |    (SELECT COUNT(*) FROM nation n LEFT JOIN region r
        |      ON n.n_regionkey = r.r_regionkey WHERE r.r_regionkey IS NULL)
        |  UNION ALL SELECT 'orders.o_custkey->customer',
        |    (SELECT COUNT(*) FROM orders),
        |    (SELECT COUNT(*) FROM orders o LEFT JOIN customer c
        |      ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL)
        |  UNION ALL SELECT 'supplier.s_nationkey->nation',
        |    (SELECT COUNT(*) FROM supplier),
        |    (SELECT COUNT(*) FROM supplier s LEFT JOIN nation n
        |      ON s.s_nationkey = n.n_nationkey WHERE n.n_nationkey IS NULL))
        |SELECT fk, CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(n_orphans AS BIGINT) AS n_orphans, n_orphans = 0 AS ok
        |FROM e ORDER BY fk""".stripMargin,
    "dq_outlier_iqr" ->
      """WITH v AS (SELECT o_totalprice AS v, o_orderkey FROM orders),
        |n AS (SELECT COUNT(*) AS n FROM v),
        |c AS (SELECT v, row_number() OVER (ORDER BY v, o_orderkey) AS r FROM v),
        |q AS (SELECT
        |    MIN(CASE WHEN r * 100 >= 25 * n.n THEN v END) AS q1,
        |    MIN(CASE WHEN r * 100 >= 75 * n.n THEN v END) AS q3
        |  FROM c, n),
        |f AS (SELECT q1, q3, q3 - q1 AS iqr,
        |    q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi FROM q),
        |cnt AS (SELECT
        |    CAST(SUM(CASE WHEN v.v < f.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        |    CAST(SUM(CASE WHEN v.v > f.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_high
        |  FROM v, f)
        |SELECT CAST(n.n AS BIGINT) AS n, round(f.q1, 6) AS q1, round(f.q3, 6) AS q3,
        |  round(f.iqr, 6) AS iqr, round(f.lo, 6) AS lo_fence, round(f.hi, 6) AS hi_fence,
        |  cnt.n_low, cnt.n_high
        |FROM n, f, cnt""".stripMargin,
    "dq_benford" ->
      """WITH obs AS (
        |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        |    CAST(COUNT(*) AS BIGINT) AS n_obs
        |  FROM orders WHERE o_totalprice >= 1 GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n_total FROM obs),
        |x AS (SELECT digit, n_obs, n_total,
        |    CAST(CASE digit WHEN 1 THEN 0.3010299956639812
        |      WHEN 2 THEN 0.17609125905568124 WHEN 3 THEN 0.12493873660829992
        |      WHEN 4 THEN 0.09691001300805642 WHEN 5 THEN 0.07918124604762482
        |      WHEN 6 THEN 0.06694678963061322 WHEN 7 THEN 0.05799194697768673
        |      WHEN 8 THEN 0.05115252244738129 ELSE 0.04575749056067514 END
        |      AS DOUBLE) AS exp_share
        |  FROM obs, t)
        |SELECT digit, n_obs,
        |  round(n_obs / n_total, 6) AS obs_share,
        |  round(exp_share, 6) AS expected_share,
        |  round((n_obs - n_total * exp_share) * (n_obs - n_total * exp_share)
        |    / (n_total * exp_share), 6) AS chi2_term
        |FROM x ORDER BY digit""".stripMargin,
    "dq_sequence_gaps" ->
      """WITH k AS (
        |  SELECT DISTINCT (o_orderkey - 1) // 32 AS k
        |  FROM orders WHERE o_orderkey % 32 = 1),
        |d AS (SELECT k, lead(k) OVER (ORDER BY k) AS nxt
        |      FROM k WHERE k % 5 <> 3)
        |SELECT k AS gap_after, nxt AS resume_at, nxt - k - 1 AS n_missing
        |FROM d WHERE nxt IS NOT NULL AND nxt - k > 1
        |ORDER BY gap_after""".stripMargin,
    "dp_geometric_counts" ->
      """WITH g AS (
        |  SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(CAST(('0x' || substr(md5(CAST(c_nationkey AS VARCHAR) || '|' || c_mktsegment), 1, 6)) AS BIGINT) AS DOUBLE) / 16777216.0 AS u
        |  FROM customer GROUP BY 1, 2),
        |s AS (SELECT *, (u - 0.3333333333333333) * 1.5 AS t FROM g),
        |s2 AS (SELECT *, CASE WHEN t < 0.5 THEN t * 2.0 ELSE (t - 0.5) * 2.0 END AS r FROM s),
        |s3 AS (SELECT *,
        |    CASE WHEN r < 0.5 THEN 1 WHEN r < 0.75 THEN 2 WHEN r < 0.875 THEN 3
        |         WHEN r < 0.9375 THEN 4 WHEN r < 0.96875 THEN 5 WHEN r < 0.984375 THEN 6
        |         WHEN r < 0.9921875 THEN 7 ELSE 8 END AS mag
        |  FROM s2),
        |s4 AS (SELECT *,
        |    CAST(CASE WHEN u < 0.3333333333333333 THEN 0
        |         WHEN t < 0.5 THEN mag ELSE -mag END AS BIGINT) AS noise
        |  FROM s3)
        |SELECT c_nationkey, c_mktsegment, n, noise, n + noise AS dp_count
        |FROM s4 ORDER BY c_nationkey, c_mktsegment""".stripMargin,
    "dp_rr_count" ->
      """WITH c AS (
        |  SELECT c_nationkey,
        |    CAST(c_mktsegment = 'BUILDING' AS INT) AS flag,
        |    CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS coin
        |  FROM customer),
        |r AS (SELECT c_nationkey, flag,
        |    CASE WHEN coin < 25 THEN 1 - flag ELSE flag END AS reported FROM c),
        |m AS (SELECT c_nationkey,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(flag) AS BIGINT) AS true_count,
        |    CAST(SUM(reported) AS BIGINT) AS reported_count
        |  FROM r GROUP BY 1)
        |SELECT *, (CAST(reported_count AS DOUBLE) - 0.25 * n) / 0.5 AS dp_estimate
        |FROM m ORDER BY c_nationkey""".stripMargin,
    "dq_kanonymity" ->
      """WITH g AS (
        |  SELECT c_mktsegment,
        |    CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS bal_bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM customer GROUP BY 1, 2),
        |m AS (
        |  SELECT c_mktsegment,
        |    CAST(SUM(n) AS BIGINT) AS n_rows,
        |    CAST(COUNT(*) AS BIGINT) AS n_groups,
        |    MIN(n) AS k_anonymity,
        |    CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_unsafe_groups,
        |    CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS rows_at_risk
        |  FROM g GROUP BY 1)
        |SELECT *, CAST(rows_at_risk AS DOUBLE) / n_rows AS at_risk_frac
        |FROM m ORDER BY c_mktsegment""".stripMargin,
    "dq_checksum" ->
      """WITH t AS (
        |  SELECT l_returnflag,
        |    CAST(('0x' || substr(md5(concat_ws('|',
        |      CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR),
        |      CAST(CAST(round(l_quantity * 100) AS BIGINT) AS VARCHAR),
        |      CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS VARCHAR),
        |      l_returnflag, l_linestatus,
        |      strftime(l_shipdate, '%Y-%m-%d'))), 1, 15)) AS BIGINT) AS rh
        |  FROM lineitem)
        |SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(bit_xor(rh) AS BIGINT) AS xor_sig,
        |  CAST(SUM(rh % 1048576) AS BIGINT) AS sum_lo,
        |  CAST(SUM((rh // 1048576) % 1048576) AS BIGINT) AS sum_mid,
        |  CAST(SUM(rh // 1099511627776) AS BIGINT) AS sum_hi
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    "dq_rules" ->
      """WITH o AS (SELECT o_orderkey, o_orderdate,
        |    CASE WHEN o_orderkey % 97 = 0 THEN -o_totalprice ELSE o_totalprice END AS price,
        |    CASE WHEN o_orderkey % 101 = 0 THEN 99999999 ELSE o_custkey END AS ck
        |  FROM orders),
        |j AS (SELECT o.*, c.c_custkey FROM o
        |  LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c ON o.ck = c.c_custkey),
        |m AS (SELECT COUNT(*) AS n_checked,
        |    CAST(SUM(CASE WHEN price <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_price,
        |    CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1995-01-01 00:00:00'
        |      OR o_orderdate >= TIMESTAMP '2002-01-01 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS v_date,
        |    CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_fk,
        |    COUNT(*) - COUNT(DISTINCT o_orderkey) AS v_dup
        |  FROM j)
        |SELECT 'date_in_range' AS rule, v_date AS n_violations, n_checked FROM m
        |UNION ALL SELECT 'fk_customer', v_fk, n_checked FROM m
        |UNION ALL SELECT 'price_positive', v_price, n_checked FROM m
        |UNION ALL SELECT 'unique_orderkey', v_dup, n_checked FROM m
        |ORDER BY rule""".stripMargin,
    "dq_profile" -> {
      val specs = Seq(
        ("o_orderkey", Some("CAST(o_orderkey AS DOUBLE)"), None),
        ("o_custkey", Some("CAST(ck AS DOUBLE)"), None),
        ("o_totalprice", Some("o_totalprice"), None),
        ("o_orderstatus", None, Some("o_orderstatus")),
        ("o_orderdate", None, Some("strftime(o_orderdate, '%Y-%m-%d')")))
      val branches = specs.map { case (c, num, str) =>
        val src = if (c == "o_custkey") "ck" else c
        val (mnn, mxn) = num.map(e => (s"MIN($e)", s"MAX($e)"))
          .getOrElse(("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)"))
        val (mns, mxs) = str.map(e => (s"MIN($e)", s"MAX($e)"))
          .getOrElse(("CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"))
        s"""SELECT '$c' AS col_name, (SELECT c FROM n) AS n_rows,
           |  COUNT($src) AS n_nonnull,
           |  CAST(COUNT($src) AS DOUBLE) / (SELECT c FROM n) AS completeness,
           |  CAST(COUNT(DISTINCT $src) AS BIGINT) AS n_distinct,
           |  COUNT(DISTINCT $src) = COUNT($src) AS is_unique,
           |  $mnn AS min_num, $mxn AS max_num, $mns AS min_str, $mxs AS max_str
           |FROM o""".stripMargin
      }
      s"""WITH o AS (SELECT *, CASE WHEN o_orderkey % 10 = 0 THEN NULL
         |    ELSE o_custkey END AS ck FROM orders),
         |n AS (SELECT COUNT(*) AS c FROM o)
         |${branches.mkString("\n", "\nUNION ALL\n", "\n")}ORDER BY col_name""".stripMargin
    },
    // single-quoted SQL strings: backslash is literal in DuckDB, so '\'
    // is one backslash and '\\' two; tabs spelled chr(9) to keep the
    // oracle JSON clean
    "sink_copy_format" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN NULL
        |         ELSE lang || chr(9) || substr(text, 1, 20) || '\' END AS sval,
        |    doc_id % 2 = 0 AS bval, n_chars
        |  FROM documents WHERE doc_id % 10 = 0)
        |SELECT doc_id,
        |  COALESCE(replace(replace(replace(replace(sval,
        |      '\', '\\'), chr(9), '\t'), chr(13), '\r'), chr(10), '\n'), '\N')
        |  || chr(9) || (CASE WHEN bval THEN '1' ELSE '0' END)
        |  || chr(9) || CAST(n_chars AS VARCHAR) AS copy_line
        |FROM t ORDER BY doc_id""".stripMargin,
    "scan_merge_schema" ->
      """SELECT n_nationkey, n_name, CAST(NULL AS INTEGER) AS n_regionkey
        |FROM nation WHERE n_nationkey % 2 = 0
        |UNION ALL
        |SELECT n_nationkey, n_name, n_regionkey
        |FROM nation WHERE n_nationkey % 2 <> 0
        |ORDER BY n_nationkey""".stripMargin,
    "scan_dsv2_source" ->
      """SELECT id,
        |  CAST((id * 7919) % 10007 AS DOUBLE) / CAST(10007 AS DOUBLE) AS v,
        |  't' || CAST(id % 5 AS VARCHAR) AS tag
        |FROM range(100000) t(id)
        |WHERE id < 50000 AND id % 1000 < 10
        |ORDER BY id""".stripMargin,
    "scan_file_metadata" ->
      """SELECT 'customer.parquet' AS fname, COUNT(*) AS n_rows FROM customer
        |UNION ALL SELECT 'lineitem.parquet', COUNT(*) FROM lineitem
        |UNION ALL SELECT 'orders.parquet', COUNT(*) FROM orders
        |ORDER BY fname""".stripMargin,
    "scan_project_rename" ->
      """SELECT l_orderkey AS okey, l_linenumber AS line_no, l_quantity AS qty,
        | CAST(NULL AS VARCHAR) AS missing_col
        |FROM lineitem ORDER BY okey, line_no""".stripMargin,
    "scan_schema_cols" ->
      ("SELECT * FROM (VALUES " +
        lineitemCols.zipWithIndex
          .map { case (c, i) => s"(${i + 1}, '$c')" }.mkString(", ") +
        ") AS t(ordinal, col_name) ORDER BY ordinal"),
    "normalize_json_ts" ->
      """SELECT event_id,
        | to_json(struct_pack(user_id := user_id, event_type := event_type)) AS payload,
        | strftime(ts, '%Y-%m-%d %H:%M:%S.%f') || '+00:00' AS ts
        |FROM events ORDER BY event_id""".stripMargin,
    "sink_roundtrip" ->
      s"""SELECT l_returnflag, COUNT(*) AS n, ${oSum("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "sink_roundtrip_csv" ->
      """SELECT n_regionkey, COUNT(*) AS n,
        | array_to_string(list_sort(list(n_name)), ',') AS names
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,
    "sink_roundtrip_json" ->
      s"""SELECT s_nationkey, COUNT(*) AS n, ${oSum("s_acctbal")} AS sum_bal
         |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,
    "sink_roundtrip_orc" ->
      s"""SELECT p_brand, COUNT(*) AS n, ${oSum("p_retailprice")} AS sum_price
         |FROM part WHERE p_size <= 25
         |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "sink_partitioned" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n, ${oSum("o_totalprice")} AS sum_price
         |FROM orders WHERE o_orderstatus = 'F'
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
  )
}
