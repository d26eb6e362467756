package graft.operators

import graft.{Det, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scalar / higher-order function packs (SURVEY.md §2.2 `fn_*`). All
  * codegen'd built-ins — no UDFs — so every expression stays inside
  * whole-stage codegen at scale.
  */
object Fn {
  import Det._

  type Q = (SparkSession, String) => DataFrame

  private val fnString: Q = (s, dir) => {
    val p = Tables(s, dir, "part")
    p.select(
        col("p_partkey"),
        upper(col("p_name")).as("up_name"),
        lower(col("p_brand")).as("lo_brand"),
        substring(col("p_type"), 1, 5).as("type5"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        ltrim(rtrim(col("p_name"))).as("trimmed"),
        regexp_extract(col("p_name"), "([a-z]+)$", 1).as("last_word"),
        regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"),
        size(split(col("p_name"), " ")).as("n_words"),
        length(col("p_name")).as("n_chars"))
      .orderBy("p_partkey")
  }

  private val fnDate: Q = (s, dir) => {
    val o = Tables(s, dir, "orders")
    val od = col("o_orderdate")
    o.select(
        col("o_orderkey"),
        year(od).as("yr"),
        month(od).as("mo"),
        dayofmonth(od).as("dom"),
        quarter(od).as("qtr"),
        date_format(date_trunc("month", od), "yyyy-MM-dd").as("month_start"),
        date_format(date_add(od.cast("date"), 30), "yyyy-MM-dd").as("plus30"),
        datediff(lit("1998-12-31").cast("date"), od.cast("date")).as("days_to_end"))
      .orderBy("o_orderkey")
  }

  private val fnMath: Q = (s, dir) => {
    val p = Tables(s, dir, "part")
    p.select(
        col("p_partkey"),
        abs(col("p_size") - 25).as("abs_off"),
        pow(col("p_size"), 2).as("pow_sz"),
        sqrt(col("p_size")).as("sqrt_sz"),
        ceil(col("p_retailprice")).as("ceil_p"),
        floor(col("p_retailprice")).as("floor_p"),
        round(col("p_retailprice"), 1).as("round1"),
        pmod(col("p_size"), lit(7)).as("mod7"),
        greatest(col("p_size"), lit(25)).as("gr25"),
        least(col("p_size"), lit(25)).as("ls25"),
        signum(col("p_size") - 25).cast("int").as("sgn"))
      .orderBy("p_partkey")
  }

  /** Higher-order array functions over tokenized document text:
    * transform / filter / aggregate / slice / distinct+sort. Array results
    * are re-joined to strings so the oracle compare is representation-free.
    */
  private val fnArray: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    val words = split(col("text"), " ")
    d.select(
        col("doc_id"),
        size(words).as("n_tokens"),
        array_contains(words, "spark").cast("int").as("has_spark"),
        concat_ws(" ", transform(words, w => upper(w))).as("upper_text"),
        concat_ws(" ", filter(words, w => length(w) > 4)).as("long_words"),
        aggregate(words, lit(0), (acc, w) => acc + length(w)).as("total_chars"),
        concat_ws(" ", slice(words, 1, 5)).as("first5"),
        concat_ws(" ", array_sort(array_distinct(words))).as("vocab"))
      .orderBy("doc_id")
  }

  private val fnJson: Q = (s, dir) => {
    val e = Tables(s, dir, "events")
    e.select(
        col("event_id"),
        get_json_object(col("props"), "$.k").as("k_str"),
        from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").as("k_int"))
      .orderBy("event_id")
  }

  private val fnCaseWhen: Q = (s, dir) => {
    val o = Tables(s, dir, "orders")
    o.select(
        when(col("o_totalprice") < 50000.0, "small")
          .when(col("o_totalprice") < 150000.0, "medium")
          .otherwise("large").as("bucket"),
        col("o_totalprice"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("bucket")
  }

  private val fnCast: Q = (s, dir) => {
    val li = Tables(s, dir, "lineitem")
    li.select(
        col("l_orderkey"),
        col("l_linenumber"),
        col("l_quantity").cast("int").as("qty_int"),
        col("l_orderkey").cast("string").as("okey_str"),
        (col("l_quantity") > 25.0).cast("int").as("heavy"),
        col("l_shipdate").cast("date").cast("string").as("ship_day"),
        lit("3.5").cast("double").as("lit_d"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Ordered string aggregation (Spark 4 listagg WITHIN GROUP ≡ DuckDB
    * string_agg ORDER BY) — deterministic only because the order clause
    * is total over the distinct values.
    */
  private val aggListagg: Q = (s, dir) => {
    Tables(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        expr("listagg(DISTINCT l_linestatus, ',') WITHIN GROUP (ORDER BY l_linestatus)")
          .as("statuses"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  /** Error-safe function semantics: try_divide / try_cast / try_add /
    * try_element_at return NULL instead of failing the job — the ANSI-
    * mode-safe forms a production pipeline uses so one malformed row
    * cannot kill a 100 TB pass.
    */
  private val fnTry: Q = (s, dir) => {
    Tables(s, dir, "lineitem")
      .filter(col("l_orderkey") % 50 === 0)
      .select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_extendedprice"),
        expr("try_divide(l_extendedprice, CASE WHEN l_linenumber % 3 = 0 THEN 0.0 ELSE 2.0 END)")
          .as("safe_div"),
        expr("try_cast(CASE WHEN l_linenumber % 2 = 0 THEN 'x' || l_partkey ELSE CAST(l_partkey AS STRING) END AS INT)")
          .as("safe_cast"),
        expr("try_add(9223372036854775807, l_partkey + 1)").as("overflow_add"),
        expr("try_element_at(array(l_returnflag, l_linestatus), 1)").as("first_el"),
        expr("try_element_at(array(l_returnflag, l_linestatus), 5)").as("missing_el"))
      // (l_orderkey, l_linenumber) is not unique in the synthetic data, so
      // the sort must also cover the flag columns the outputs derive from
      .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice",
        "l_returnflag", "l_linestatus")
  }

  /** Higher-order array functions beyond transform/filter/aggregate:
    * zip_with, exists, forall, array_position, slice, reverse-sort,
    * flatten — the functional-collection surface over array columns.
    */
  private val fnHigherOrder: Q = (s, dir) => {
    Tables(s, dir, "documents")
      .filter(col("doc_id") % 10 === 0)
      .withColumn("tk", expr("slice(filter(split(text, ' '), t -> length(t) > 0), 1, 6)"))
      .filter(expr("size(tk) >= 4")) // argmax/flatten need enough elements
      .withColumn("lens", expr("transform(tk, t -> length(t))"))
      // array outputs are serialized with array_join: the driver's compare
      // sorts rows in pandas, which cannot hash raw array cells (r02
      // recorded this query as unverified for exactly that reason)
      .select(
        col("doc_id"),
        expr("array_join(zip_with(tk, lens, (t, l) -> concat(t, ':', l)), ',')")
          .as("tagged"),
        expr("exists(lens, l -> l > 7)").as("has_long"),
        expr("forall(lens, l -> l > 0)").as("all_nonempty"),
        expr("array_position(lens, array_max(lens))").as("argmax_pos"),
        expr("array_join(transform(reverse(array_sort(lens)), l -> cast(l AS string)), ',')")
          .as("lens_desc"),
        expr("array_join(flatten(array(slice(tk, 1, 2), slice(tk, 3, 2))), ',')")
          .as("first4"))
      .orderBy("doc_id")
  }

  /** Welch's two-sample t statistic — the experimentation-platform
    * primitive (did variant B move the metric?). Groups are a
    * deterministic user split (user_id % 2) over event values in exact
    * cents; each side's (n, Σ, Σ²) are exact mergeable sufficient
    * statistics (integer cents sums fit BIGINT), so at 100 TB the test
    * costs one map-side-combining aggregation — no resampling, no
    * per-row state. The t/df formula is then one identical IEEE chain in
    * both engines, round6'd. Includes Welch–Satterthwaite df, not just
    * the pooled-variance shortcut.
    */
  private val aggTTest: Q = (s, dir) => {
    val e = Tables(s, dir, "events")
      .select((col("user_id") % 2 === 0).as("is_a"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val sides = e.groupBy("is_a")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s1"),
        sum(col("cents") * col("cents")).as("s2"))
    val a = sides.filter(col("is_a")).select(
      col("n").as("na"), col("s1").as("sa"), col("s2").as("sa2"))
    val b = sides.filter(!col("is_a")).select(
      col("n").as("nb"), col("s1").as("sb"), col("s2").as("sb2"))
    a.crossJoin(b)
      .withColumn("ma", col("sa").cast("double") / col("na"))
      .withColumn("mb", col("sb").cast("double") / col("nb"))
      .withColumn("va",
        (col("sa2").cast("double") - col("sa").cast("double") * col("ma")) /
          (col("na") - 1))
      .withColumn("vb",
        (col("sb2").cast("double") - col("sb").cast("double") * col("mb")) /
          (col("nb") - 1))
      .withColumn("sea", col("va") / col("na"))
      .withColumn("seb", col("vb") / col("nb"))
      .select(col("na"), col("nb"),
        round(col("ma"), 6).as("mean_a"), round(col("mb"), 6).as("mean_b"),
        round((col("ma") - col("mb")) / sqrt(col("sea") + col("seb")), 6).as("t_stat"),
        round((col("sea") + col("seb")) * (col("sea") + col("seb")) /
          (col("sea") * col("sea") / (col("na") - 1) +
           col("seb") * col("seb") / (col("nb") - 1)), 6).as("welch_df"))
  }

  /** Gini coefficient per group — the concentration metric (how unequal
    * is spend across line items?): with values sorted ascending,
    * G = (2·Σ i·xᵢ)/(n·Σx) − (n+1)/n. Ranks come from one window; all
    * sums are exact BIGINT (cents × rank ≤ 2^47 at any pinned SF), so
    * the whole statistic is integer until one final IEEE division pair.
    * Tie order cannot matter: equal values contribute the same Σ i·xᵢ
    * under any permutation of their ranks. One exchange, map-side
    * partials.
    */
  private val aggGini: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("l_returnflag")
      .orderBy("cents", "l_orderkey", "l_linenumber")
    Tables(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
      .withColumn("i", row_number().over(w).cast("long"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("total_cents"),
        sum(col("i") * col("cents")).as("iwsum"))
      .select(col("l_returnflag"), col("n"), col("total_cents"),
        round((lit(2.0) * col("iwsum").cast("double")) /
          (col("n").cast("double") * col("total_cents").cast("double")) -
          (col("n") + 1).cast("double") / col("n").cast("double"), 6).as("gini"))
      .orderBy("l_returnflag")
  }

  /** Statistical moments computed from EXACT decimal sums (n, Σx, Σx²,
    * Σxy) instead of streaming corr()/var_samp(): the streaming forms
    * accumulate floats in partition order and cannot hash-match across
    * engines; moment arithmetic on order-independent sums is identical
    * everywhere. This is also the mergeable formulation a distributed
    * profiler wants at 100 TB (per-partition moment vectors merge by +).
    */
  private val aggStatsMoments: Q = (s, dir) => {
    import graft.Det
    def dsumSq(c: String) = sum((col(c) * col(c)).cast(Det.Scale)).cast("double")
    val base = Tables(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).cast("double").as("n"),
        Det.dsum(col("l_quantity")).as("sx"),
        dsumSq("l_quantity").as("sx2"),
        Det.dsum(col("l_discount")).as("sy"),
        sum((col("l_discount") * col("l_discount")).cast(Det.Scale)).cast("double").as("sy2"),
        sum((col("l_quantity") * col("l_discount")).cast(Det.Scale)).cast("double").as("sxy"))
    base.select(
        col("l_returnflag"), col("n").cast("bigint").as("n_rows"),
        round(col("sx") / col("n"), 6).as("mean_qty"),
        round((col("sx2") - col("sx") * col("sx") / col("n")) / col("n"), 6).as("var_qty"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sx2") - col("sx") * col("sx")) *
           sqrt(col("n") * col("sy2") - col("sy") * col("sy"))), 6).as("corr_qty_disc"))
      .orderBy("l_returnflag")
  }

  /** Least-squares regression per group (slope / intercept / R²) from the
    * same exact mergeable sufficient statistics as `agg_stats_moments`:
    * per-row double products cast to fixed-scale decimal, summed exactly
    * (order-independent), then one identical IEEE formula in both
    * engines. This is the regr_slope/regr_intercept/regr_r2 SQL surface,
    * but built on sums that merge by + across 1000 executors with no
    * float drift — the built-in regr_* aggregates sum doubles in
    * partition order and can never hash-match another engine.
    */
  private val aggRegression: Q = (s, dir) => {
    import graft.Det
    val base = Tables(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).cast("double").as("n"),
        Det.dsum(col("l_quantity")).as("sx"),
        sum((col("l_quantity") * col("l_quantity")).cast(Det.Scale)).cast("double").as("sxx"),
        Det.dsum(col("l_extendedprice")).as("sy"),
        sum((col("l_extendedprice") * col("l_extendedprice")).cast(Det.Scale)).cast("double").as("syy"),
        sum((col("l_quantity") * col("l_extendedprice")).cast(Det.Scale)).cast("double").as("sxy"))
    val covN = col("n") * col("sxy") - col("sx") * col("sy")
    val varXN = col("n") * col("sxx") - col("sx") * col("sx")
    val varYN = col("n") * col("syy") - col("sy") * col("sy")
    base.select(
        col("l_returnflag"), col("n").cast("bigint").as("n_rows"),
        round(covN / varXN, 6).as("slope"),
        round((col("sy") - (covN / varXN) * col("sx")) / col("n"), 6).as("intercept"),
        round((covN * covN) / (varXN * varYN), 6).as("r2"))
      .orderBy("l_returnflag")
  }

  /** Two-feature OLS (y = b0 + b1·x1 + b2·x2) per group from EXACT
    * sufficient statistics — the multi-feature step past agg_regression:
    * the scan accumulates 8 decimal-exact sums (n, Σx1, Σx2, Σy, Σx1²,
    * Σx2², Σx1x2, Σx1y, Σx2y) map-side, and the normal-equations 2×2
    * solve on centered moments is a handful of IEEE ops mirrored
    * structurally in the oracle. This is how distributed OLS actually
    * runs at 100 TB: sufficient statistics shuffle, never rows — the
    * same shape generalizes to k features with a k×k driver-side solve.
    */
  private val aggOls2: Q = (s, dir) => {
    import graft.Det
    val base = Tables(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).cast("double").as("n"),
        Det.dsum(col("l_quantity")).as("sx1"),
        Det.dsum(col("l_discount")).as("sx2"),
        Det.dsum(col("l_extendedprice")).as("sy"),
        sum((col("l_quantity") * col("l_quantity")).cast(Det.Scale)).cast("double").as("s11"),
        sum((col("l_discount") * col("l_discount")).cast(Det.Scale)).cast("double").as("s22"),
        sum((col("l_quantity") * col("l_discount")).cast(Det.Scale)).cast("double").as("s12"),
        sum((col("l_quantity") * col("l_extendedprice")).cast(Det.Scale)).cast("double").as("s1y"),
        sum((col("l_discount") * col("l_extendedprice")).cast(Det.Scale)).cast("double").as("s2y"))
    val m11 = col("n") * col("s11") - col("sx1") * col("sx1")
    val m22 = col("n") * col("s22") - col("sx2") * col("sx2")
    val m12 = col("n") * col("s12") - col("sx1") * col("sx2")
    val m1y = col("n") * col("s1y") - col("sx1") * col("sy")
    val m2y = col("n") * col("s2y") - col("sx2") * col("sy")
    val det = m11 * m22 - m12 * m12
    val b1 = (m22 * m1y - m12 * m2y) / det
    val b2 = (m11 * m2y - m12 * m1y) / det
    base.select(
        col("l_returnflag"), col("n").cast("bigint").as("n_rows"),
        round(b1, 6).as("b_qty"),
        round(b2, 6).as("b_disc"),
        round((col("sy") - b1 * col("sx1") - b2 * col("sx2")) / col("n"), 6).as("b0"))
      .orderBy("l_returnflag")
  }

  /** URL parsing (parse_url HOST/PATH/QUERY) and data masking (mask:
    * upper→X, lower→x, digit→n) over synthesized crawl-style URLs — the
    * two per-row transforms every web-corpus pipeline runs. The DuckDB
    * oracle mirrors them with regexes, proving the semantics are plain.
    */
  private val fnUrlMask: Q = (s, dir) => {
    Tables(s, dir, "documents")
      .filter(col("doc_id") % 10 === 0)
      .withColumn("url", concat(lit("https://"), col("source"),
        lit(".example.com/docs/"), col("doc_id"), lit("?lang="), col("lang")))
      .select(
        col("doc_id"), col("url"),
        expr("parse_url(url, 'HOST')").as("host"),
        expr("parse_url(url, 'PATH')").as("path"),
        expr("parse_url(url, 'QUERY', 'lang')").as("qlang"),
        expr("mask(concat(upper(substring(source, 1, 3)), doc_id))").as("masked"))
      .orderBy("doc_id")
  }

  /** Rounding-mode semantics on exact .5 ties: HALF_UP (`round`) vs
    * HALF_EVEN (`bround`, banker's rounding — what money aggregation
    * pipelines should use to avoid systematic upward bias). The filter
    * keeps exactly the rows whose cents end in 50, where n+0.5 is exactly
    * representable in binary — so the tie-break genuinely fires and both
    * engines decide on the same value (non-representable ties would test
    * the engines' double→decimal conventions, not the rounding mode).
    * ceil/floor cast to BIGINT on both sides (Spark's ceil(double) is
    * already integral, DuckDB's stays double).
    */
  private val fnRoundHalfEven: Q = (s, dir) => {
    Tables(s, dir, "lineitem")
      .filter(expr("(l_extendedprice * 100) % 100 = 50"))
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") - 50000.0).as("v"))
      .select(col("l_orderkey"), col("l_linenumber"), col("v"),
        round(col("v"), 0).as("half_up"),
        bround(col("v"), 0).as("half_even"),
        ceil(col("v")).cast("bigint").as("c"),
        floor(col("v")).cast("bigint").as("f"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Malformed-record handling — the PERMISSIVE-parse contract an event
    * pipeline needs: corrupt payloads (deterministically injected — the
    * leading brace is stripped for every 13th event, mirrored in the
    * oracle) parse to NULL instead of failing the job, and the report
    * counts them per event type next to the aggregate the valid rows
    * still produce. One scan, per-row codegen JSON parse, one hash agg;
    * at 100 TB the corrupt rows cost the same as the valid ones and
    * nothing stops the pipeline.
    */
  private val fnJsonCorrupt: Q = (s, dir) => {
    val e = Tables(s, dir, "events")
      .withColumn("raw",
        when(col("event_id") % 13 === 0, expr("substr(props, 2)")).otherwise(col("props")))
      .withColumn("k", expr("from_json(raw, 'k INT').k"))
    e.groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_corrupt"),
        sum(col("k").cast("bigint")).as("k_sum"))
      .orderBy("event_type")
  }

  val queries: Map[String, Q] = Map(
    "fn_json_corrupt" -> fnJsonCorrupt,
    "fn_round_half_even" -> fnRoundHalfEven,
    "agg_regression" -> aggRegression,
    "agg_ols2" -> aggOls2,
    "fn_url_mask" -> fnUrlMask,
    "agg_listagg" -> aggListagg,
    "fn_try" -> fnTry,
    "fn_higher_order" -> fnHigherOrder,
    "agg_stats_moments" -> aggStatsMoments,
    "agg_t_test" -> aggTTest,
    "agg_gini" -> aggGini,
    "fn_string" -> fnString,
    "fn_date" -> fnDate,
    "fn_math" -> fnMath,
    "fn_array" -> fnArray,
    "fn_json" -> fnJson,
    "fn_case_when" -> fnCaseWhen,
    "fn_cast" -> fnCast,
  )

  val oracles: Map[String, String] = Map(
    "fn_json_corrupt" ->
      """WITH e AS (SELECT event_type,
        |    CASE WHEN event_id % 13 = 0 THEN substr(props, 2) ELSE props END AS raw
        |  FROM events),
        |p AS (SELECT event_type,
        |    CASE WHEN json_valid(raw) THEN CAST(json_extract(raw, '$.k') AS BIGINT) END AS k
        |  FROM e)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
        |  CAST(SUM(k) AS BIGINT) AS k_sum
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    "agg_regression" ->
      """WITH m AS (
        |  SELECT l_returnflag,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |  round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6) AS intercept,
        |  round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
        |    / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
        |FROM m ORDER BY l_returnflag""".stripMargin,
    "agg_ols2" ->
      """WITH m AS (
        |  SELECT l_returnflag,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sx1,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(25,6))) AS DOUBLE) AS sx2,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS s11,
        |    CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(25,6))) AS DOUBLE) AS s22,
        |    CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(25,6))) AS DOUBLE) AS s12,
        |    CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS s1y,
        |    CAST(SUM(CAST(l_discount * l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS s2y
        |  FROM lineitem GROUP BY l_returnflag),
        |c AS (SELECT l_returnflag, n, sx1, sx2, sy,
        |    n * s11 - sx1 * sx1 AS m11,
        |    n * s22 - sx2 * sx2 AS m22,
        |    n * s12 - sx1 * sx2 AS m12,
        |    n * s1y - sx1 * sy AS m1y,
        |    n * s2y - sx2 * sy AS m2y
        |  FROM m),
        |b AS (SELECT l_returnflag, n, sx1, sx2, sy,
        |    (m22 * m1y - m12 * m2y) / (m11 * m22 - m12 * m12) AS b1,
        |    (m11 * m2y - m12 * m1y) / (m11 * m22 - m12 * m12) AS b2
        |  FROM c)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
        |  round(b1, 6) AS b_qty, round(b2, 6) AS b_disc,
        |  round((sy - b1 * sx1 - b2 * sx2) / n, 6) AS b0
        |FROM b ORDER BY l_returnflag""".stripMargin,
    "fn_round_half_even" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice - 50000.0 AS v,
        |  round(CAST(l_extendedprice - 50000.0 AS DOUBLE), 0) AS half_up,
        |  roundbankers(CAST(l_extendedprice - 50000.0 AS DOUBLE), 0) AS half_even,
        |  CAST(ceil(l_extendedprice - 50000.0) AS BIGINT) AS c,
        |  CAST(floor(l_extendedprice - 50000.0) AS BIGINT) AS f
        |FROM lineitem WHERE (l_extendedprice * 100) % 100 = 50
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "fn_url_mask" ->
      """WITH u AS (
        |  SELECT doc_id, source,
        |    'https://' || source || '.example.com/docs/' || doc_id ||
        |    '?lang=' || lang AS url
        |  FROM documents WHERE doc_id % 10 = 0)
        |SELECT doc_id, url,
        |  regexp_extract(url, 'https://([^/]+)', 1) AS host,
        |  regexp_extract(url, 'https://[^/]+(/[^?]*)', 1) AS path,
        |  regexp_extract(url, 'lang=([a-z]+)', 1) AS qlang,
        |  regexp_replace(regexp_replace(regexp_replace(
        |    upper(substr(source, 1, 3)) || doc_id,
        |    '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g') AS masked
        |FROM u ORDER BY doc_id""".stripMargin,
    "fn_higher_order" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    (list_filter(string_split(text, ' '), t -> len(t) > 0))[1:6] AS tk
        |  FROM documents WHERE doc_id % 10 = 0),
        |u AS (SELECT doc_id, tk, list_transform(tk, t -> len(t)) AS lens
        |      FROM t WHERE len(tk) >= 4)
        |SELECT doc_id,
        |  array_to_string(list_transform(list_zip(tk, lens),
        |    s -> s[1] || ':' || CAST(s[2] AS VARCHAR)), ',') AS tagged,
        |  len(list_filter(lens, l -> l > 7)) > 0 AS has_long,
        |  len(list_filter(lens, l -> NOT (l > 0))) = 0 AS all_nonempty,
        |  list_position(lens, list_max(lens)) AS argmax_pos,
        |  array_to_string(list_transform(list_sort(lens, 'DESC'),
        |    x -> CAST(x AS VARCHAR)), ',') AS lens_desc,
        |  array_to_string(flatten([tk[1:2], tk[3:4]]), ',') AS first4
        |FROM u ORDER BY doc_id""".stripMargin,
    "agg_t_test" ->
      """WITH e AS (SELECT (user_id % 2 = 0) AS is_a,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |g AS (SELECT is_a, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(cents) AS BIGINT) AS s1,
        |    CAST(SUM(cents * cents) AS BIGINT) AS s2
        |  FROM e GROUP BY 1),
        |a AS (SELECT n AS na, s1 AS sa, s2 AS sa2 FROM g WHERE is_a),
        |b AS (SELECT n AS nb, s1 AS sb, s2 AS sb2 FROM g WHERE NOT is_a),
        |x AS (SELECT na, nb,
        |    CAST(sa AS DOUBLE) / na AS ma, CAST(sb AS DOUBLE) / nb AS mb,
        |    (CAST(sa2 AS DOUBLE) - CAST(sa AS DOUBLE) * (CAST(sa AS DOUBLE) / na)) / (na - 1) AS va,
        |    (CAST(sb2 AS DOUBLE) - CAST(sb AS DOUBLE) * (CAST(sb AS DOUBLE) / nb)) / (nb - 1) AS vb
        |  FROM a, b),
        |y AS (SELECT na, nb, ma, mb, va / na AS sea, vb / nb AS seb FROM x)
        |SELECT na, nb, round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
        |  round((ma - mb) / sqrt(sea + seb), 6) AS t_stat,
        |  round((sea + seb) * (sea + seb)
        |    / (sea * sea / (na - 1) + seb * seb / (nb - 1)), 6) AS welch_df
        |FROM y""".stripMargin,
    "agg_gini" ->
      """WITH r AS (
        |  SELECT l_returnflag,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |    CAST(row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY CAST(round(l_extendedprice * 100) AS BIGINT),
        |               l_orderkey, l_linenumber) AS BIGINT) AS i
        |  FROM lineitem)
        |SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(cents) AS BIGINT) AS total_cents,
        |  round(2.0 * CAST(CAST(SUM(i * cents) AS BIGINT) AS DOUBLE)
        |      / (CAST(COUNT(*) AS DOUBLE) * CAST(CAST(SUM(cents) AS BIGINT) AS DOUBLE))
        |    - CAST(COUNT(*) + 1 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS gini
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "agg_stats_moments" ->
      """WITH m AS (
        |  SELECT l_returnflag,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sx2,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(25,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(25,6))) AS DOUBLE) AS sy2,
        |    CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(25,6))) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
        |  round(sx / n, 6) AS mean_qty,
        |  round((sx2 - sx * sx / n) / n, 6) AS var_qty,
        |  round((n * sxy - sx * sy) /
        |    (sqrt(n * sx2 - sx * sx) * sqrt(n * sy2 - sy * sy)), 6) AS corr_qty_disc
        |FROM m ORDER BY l_returnflag""".stripMargin,
    "agg_listagg" ->
      """SELECT l_returnflag,
        |  string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "fn_try" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_extendedprice,
        |  CASE WHEN l_linenumber % 3 = 0 THEN NULL
        |       ELSE l_extendedprice / 2.0 END AS safe_div,
        |  TRY_CAST(CASE WHEN l_linenumber % 2 = 0 THEN 'x' || l_partkey
        |                ELSE CAST(l_partkey AS VARCHAR) END AS INT) AS safe_cast,
        |  CAST(NULL AS BIGINT) AS overflow_add,
        |  ([l_returnflag, l_linestatus])[1] AS first_el,
        |  ([l_returnflag, l_linestatus])[5] AS missing_el
        |FROM lineitem WHERE l_orderkey % 50 = 0
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_extendedprice,
        |  l_returnflag, l_linestatus""".stripMargin,
    "fn_string" ->
      """SELECT p_partkey, upper(p_name) AS up_name, lower(p_brand) AS lo_brand,
        | substring(p_type, 1, 5) AS type5,
        | concat_ws('|', p_brand, p_type) AS brand_type,
        | ltrim(rtrim(p_name)) AS trimmed,
        | regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
        | regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
        | len(string_split(p_name, ' ')) AS n_words,
        | length(p_name) AS n_chars
        |FROM part ORDER BY p_partkey""".stripMargin,
    "fn_date" ->
      """SELECT o_orderkey, year(o_orderdate) AS yr, month(o_orderdate) AS mo,
        | day(o_orderdate) AS dom, quarter(o_orderdate) AS qtr,
        | strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
        | strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS plus30,
        | datediff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS days_to_end
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "fn_math" ->
      """SELECT p_partkey, abs(p_size - 25) AS abs_off,
        | pow(p_size, 2) AS pow_sz, sqrt(p_size) AS sqrt_sz,
        | CAST(ceil(p_retailprice) AS BIGINT) AS ceil_p,
        | CAST(floor(p_retailprice) AS BIGINT) AS floor_p,
        | round(p_retailprice, 1) AS round1,
        | p_size % 7 AS mod7,
        | greatest(p_size, 25) AS gr25, least(p_size, 25) AS ls25,
        | CAST(sign(p_size - 25) AS INT) AS sgn
        |FROM part ORDER BY p_partkey""".stripMargin,
    "fn_array" ->
      """SELECT doc_id,
        | len(string_split(text, ' ')) AS n_tokens,
        | CAST(list_contains(string_split(text, ' '), 'spark') AS INT) AS has_spark,
        | array_to_string(list_transform(string_split(text, ' '), w -> upper(w)), ' ') AS upper_text,
        | array_to_string(list_filter(string_split(text, ' '), w -> len(w) > 4), ' ') AS long_words,
        | CAST(list_sum(list_transform(string_split(text, ' '), w -> len(w))) AS INT) AS total_chars,
        | array_to_string(string_split(text, ' ')[1:5], ' ') AS first5,
        | array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ') AS vocab
        |FROM documents ORDER BY doc_id""".stripMargin,
    "fn_json" ->
      """SELECT event_id, json_extract_string(props, '$.k') AS k_str,
        | CAST(json_extract(props, '$.k') AS INT) AS k_int
        |FROM events ORDER BY event_id""".stripMargin,
    "fn_case_when" ->
      s"""SELECT CASE WHEN o_totalprice < 50000.0 THEN 'small'
         |  WHEN o_totalprice < 150000.0 THEN 'medium' ELSE 'large' END AS bucket,
         | COUNT(*) AS n, ${oSum("o_totalprice")} AS sum_price
         |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,
    "fn_cast" ->
      """SELECT l_orderkey, l_linenumber,
        | CAST(trunc(l_quantity) AS INT) AS qty_int,
        | CAST(l_orderkey AS VARCHAR) AS okey_str,
        | CAST(l_quantity > 25.0 AS INT) AS heavy,
        | CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS ship_day,
        | CAST('3.5' AS DOUBLE) AS lit_d
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
  )
}
