package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanUtil.bind
import org.apache.spark.sql.types.{LongType, MapType, StringType}

/** Shape/semantics operators: unpivot (wide→long melt), map/struct
  * construction + field access, SQL null semantics (nullif / coalesce /
  * null-safe equality), and bitwise/boolean aggregates.
  *
  * All four are narrow per-row transforms or single hash aggregations —
  * no operator here shuffles more than its (small) aggregate state, so
  * each scales linearly with input.
  */
object Reshape {

  type Q = (SparkSession, String) => DataFrame

  /** Wide→long melt of the four lineitem measures via Dataset.unpivot
    * (Spark plans an Expand — one pass, no shuffle).
    */
  private val unpivot: Q = (s, dir) => {
    Tables(s, dir, "lineitem")
      .filter(col("l_orderkey") % 100 === 0)
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
        "metric", "val")
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
      // val participates in the sort so the ordering is total
      .orderBy("l_orderkey", "l_linenumber", "metric", "val")
  }

  /** JSON→map + struct build/field-access over events.props. */
  private val mapStruct: Q = (s, dir) => {
    Tables(s, dir, "events")
      .filter(col("event_id") % 20 === 0)
      .withColumn("m", from_json(col("props"), MapType(StringType, LongType)))
      .select(
        col("event_id"),
        size(map_keys(col("m"))).cast("int").as("n_keys"),
        array_join(array_sort(map_keys(col("m"))), ",").as("keys_csv"),
        col("m").getItem("k").as("k_val"),
        struct(col("event_type").as("et"), col("value").as("v"))
          .getField("et").as("et"))
      .orderBy("event_id")
  }

  /** Null semantics: nullif, coalesce chains, ifnull, null-safe equality
    * (Spark `<=>` ≡ ANSI IS NOT DISTINCT FROM).
    */
  private val nullSemantics: Q = (s, dir) => {
    Tables(s, dir, "orders")
      .filter(col("o_orderkey") % 50 === 0)
      .withColumn("st_null", nullif(col("o_orderstatus"), lit("O")))
      .select(
        col("o_orderkey"),
        col("st_null"),
        coalesce(col("st_null"), lit("fallback")).as("st_coal"),
        expr("ifnull(st_null, '?')").as("st_ifnull"),
        (col("st_null") <=> lit("F")).as("is_f_nullsafe"),
        col("st_null").isNull.as("was_open"))
      .orderBy("o_orderkey")
  }

  /** Bitwise AND/OR/XOR and boolean aggregates per return flag. */
  private val bitwiseAgg: Q = (s, dir) => {
    Tables(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        expr("bit_and(l_partkey)").as("band"),
        expr("bit_or(l_partkey)").as("bor"),
        expr("bit_xor(l_partkey)").as("bxor"),
        expr("bool_and(l_quantity > 0)").as("all_pos"),
        expr("bool_or(l_discount > 0.09)").as("any_deep_disc"))
      .orderBy("l_returnflag")
  }

  /** Equal-width histogram via arithmetic binning (portable to any
    * engine; Spark's width_bucket has no DuckDB twin). 10 bins over
    * [0, 500k) order totals.
    */
  private val histogram: Q = (s, dir) => {
    Tables(s, dir, "orders")
      .withColumn("bin",
        least(floor(col("o_totalprice") / 50000.0), lit(9.0)).cast("int"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"))
      .orderBy("bin")
  }

  /** unionByName with allowMissingColumns: schema-evolution-tolerant
    * append (new files gain columns, old rows get NULLs) — the ingest
    * reality of any long-lived corpus.
    */
  private val unionByNameMissing: Q = (s, dir) => {
    val v1 = Tables(s, dir, "orders").filter(col("o_orderkey") % 100 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
    val v2 = Tables(s, dir, "orders").filter(col("o_orderkey") % 100 === 50)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    v1.unionByName(v2, allowMissingColumns = true)
      .orderBy("o_orderkey")
  }

  /** SQL FILTER clause on aggregates: per-group conditional aggregation
    * without CASE scaffolding (one pass, many conditions).
    */
  private val filterClause: Q = (s, dir) =>
    bind(s, """SELECT l_returnflag,
      |  COUNT(*) AS n,
      |  COUNT(*) FILTER (WHERE l_quantity > 25) AS n_heavy,
      |  COUNT(*) FILTER (WHERE l_discount >= 0.05) AS n_discounted,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6)))
      |       FILTER (WHERE l_quantity > 25) AS DOUBLE) AS heavy_revenue
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)(
      "lineitem" -> Tables(s, dir, "lineitem"))

  /** Long→wide pivot with MULTIPLE aggregates per pivot value (count +
    * token sum per language): Spark expands this into one hash
    * aggregation whose state is (pivot values × aggs) per group — a
    * single scan and a single shuffle regardless of how many output
    * columns appear. The pivot value list is explicit, so the plan never
    * runs the extra distinct-values job (at 100 TB a mandatory practice:
    * the implicit pivot first scans the table just to learn the columns).
    * Empty cells: Spark yields NULL where DuckDB's FILTER-agg yields
    * 0 — coalesced to 0 on the Spark side so both engines agree.
    */
  private val pivotMultiAgg: Q = (s, dir) => {
    val langs = Seq("de", "en", "es", "fr", "zh")
    val p = Tables(s, dir, "documents")
      .groupBy("source")
      .pivot("lang", langs)
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
    val outs = col("source") +: langs.flatMap(l => Seq(
      coalesce(col(s"${l}_n"), lit(0L)).as(s"${l}_n"),
      coalesce(col(s"${l}_chars"), lit(0L)).as(s"${l}_chars")))
    p.select(outs: _*).orderBy("source")
  }

  val queries: Map[String, Q] = Map(
    "pivot_multi_agg" -> pivotMultiAgg,
    "agg_histogram" -> histogram,
    "set_union_by_name" -> unionByNameMissing,
    "agg_filter_clause" -> filterClause,
    "reshape_unpivot" -> unpivot,
    "fn_map_struct" -> mapStruct,
    "fn_null_semantics" -> nullSemantics,
    "agg_bitwise" -> bitwiseAgg,
  )

  private val oPivotCols = Seq("de", "en", "es", "fr", "zh").map { l =>
    s"""COUNT(*) FILTER (lang = '$l') AS ${l}_n,
       |  CAST(COALESCE(SUM(n_chars) FILTER (lang = '$l'), 0) AS BIGINT) AS ${l}_chars"""
      .stripMargin
  }.mkString(",\n  ")

  val oracles: Map[String, String] = Map(
    "pivot_multi_agg" ->
      s"""SELECT source,
         |  $oPivotCols
         |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "agg_histogram" ->
      """SELECT CAST(least(floor(o_totalprice / 50000.0), 9.0) AS INT) AS bin,
        |  COUNT(*) AS n
        |FROM orders GROUP BY 1 ORDER BY bin""".stripMargin,
    "set_union_by_name" ->
      """SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority
        |FROM orders WHERE o_orderkey % 100 = 0
        |UNION ALL
        |SELECT o_orderkey, o_totalprice, o_orderpriority
        |FROM orders WHERE o_orderkey % 100 = 50
        |ORDER BY o_orderkey""".stripMargin,
    "agg_filter_clause" ->
      """SELECT l_returnflag,
        |  COUNT(*) AS n,
        |  COUNT(*) FILTER (WHERE l_quantity > 25) AS n_heavy,
        |  COUNT(*) FILTER (WHERE l_discount >= 0.05) AS n_discounted,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6)))
        |       FILTER (WHERE l_quantity > 25) AS DOUBLE) AS heavy_revenue
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "reshape_unpivot" ->
      """SELECT l_orderkey, l_linenumber, name AS metric, value AS val
        |FROM (
        |  UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity,
        |             l_extendedprice, l_discount, l_tax
        |           FROM lineitem WHERE l_orderkey % 100 = 0)
        |  ON l_quantity, l_extendedprice, l_discount, l_tax
        |  INTO NAME name VALUE value)
        |ORDER BY l_orderkey, l_linenumber, metric, val""".stripMargin,
    "fn_map_struct" ->
      """SELECT event_id,
        |  CAST(len(json_keys(props)) AS INT) AS n_keys,
        |  array_to_string(list_sort(json_keys(props)), ',') AS keys_csv,
        |  CAST(json_extract(props, '$.k') AS BIGINT) AS k_val,
        |  struct_pack(et := event_type, v := value).et AS et
        |FROM events WHERE event_id % 20 = 0 ORDER BY event_id""".stripMargin,
    "fn_null_semantics" ->
      """SELECT o_orderkey,
        |  nullif(o_orderstatus, 'O') AS st_null,
        |  coalesce(nullif(o_orderstatus, 'O'), 'fallback') AS st_coal,
        |  ifnull(nullif(o_orderstatus, 'O'), '?') AS st_ifnull,
        |  nullif(o_orderstatus, 'O') IS NOT DISTINCT FROM 'F' AS is_f_nullsafe,
        |  nullif(o_orderstatus, 'O') IS NULL AS was_open
        |FROM orders WHERE o_orderkey % 50 = 0 ORDER BY o_orderkey""".stripMargin,
    "agg_bitwise" ->
      """SELECT l_returnflag,
        |  bit_and(l_partkey) AS band, bit_or(l_partkey) AS bor,
        |  bit_xor(l_partkey) AS bxor,
        |  bool_and(l_quantity > 0) AS all_pos,
        |  bool_or(l_discount > 0.09) AS any_deep_disc
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
  )
}
