package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.PlanUtil.bind
import org.scalatest.funsuite.AnyFunSuite

/** Query scope of the SQL-text queries: each binds its text to the
  * corpus's frames ([[org.apache.spark.sql.graft.PlanUtil.bind]]), so
  * building one leaves the session catalog as it found it, a temp view
  * of the same name never shadows a bound table, and callers on two
  * corpora can share one session from many threads.
  */
class QueryScopeSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val corpora = Seq(TestSpark.sf, TestSpark.sf.replace("sf0.001", "sf0.01"))

  /** Every query whose plan comes from SQL text. */
  private val sqlText = Seq(
    "agg_grouping_sets", "sql_correlated_subquery", "win_range_interval",
    "agg_filter_clause", "fn_variant", "sql_lateral_topk", "sql_recursive_cte",
    "sql_q18_big_orders", "sql_group_by_all", "sql_unpivot", "sql_pivot_multi")

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq

  /** The session's temporary tables and views, and its functions. */
  private def catalog(): Set[String] =
    s.catalog.listTables().collect().filter(_.isTemporary).map("view " + _.name).toSet ++
      s.catalog.listFunctions().collect().map("function " + _.name)

  test("building the SQL-text queries and fn_udf_scalar leaves the session catalog unchanged") {
    val before = catalog()
    (sqlText :+ "fn_udf_scalar").foreach(q => SparkEntry.queries(q)(s, TestSpark.sf))
    val after = catalog()
    assert((after -- before) ++ (before -- after) == Set.empty[String])
  }

  test("a bound name reads its frame, not a temp view of the same name") {
    val orders = Tables(s, TestSpark.sf, "orders")
    s.range(3).toDF("o_orderkey").createOrReplaceTempView("orders")
    try {
      val n = bind(s, "SELECT count(orders.o_orderkey) FROM orders")(
        "orders" -> orders).head().getLong(0)
      assert(n == orders.count() && n != 3L)
    } finally s.catalog.dropTempView("orders")
  }

  test("the SQL-text queries over two corpora from 4 threads on one session return their sequential rows") {
    val jobs = for (dir <- corpora; q <- sqlText) yield (dir, q)
    val sequential = jobs.map { case (dir, q) => rows(SparkEntry.queries(q)(s, dir)) }
    val pool = Executors.newFixedThreadPool(4)
    try {
      val futures = jobs.map { case (dir, q) =>
        pool.submit(new Callable[Seq[String]] {
          def call(): Seq[String] = rows(SparkEntry.queries(q)(s, dir))
        })
      }
      jobs.zip(sequential).zip(futures).foreach { case (((dir, q), want), f) =>
        assert(want.nonEmpty, s"vacuous: $q over $dir returned no rows")
        assert(f.get(10, TimeUnit.MINUTES) == want, s"$q over $dir")
      }
    } finally {
      pool.shutdownNow()
    }
  }
}
