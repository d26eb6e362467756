package graft.operators

import graft.{Concurrently, Det, Scratch, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed (pre-partitioned) co-located join: both fact tables are
  * written once with `bucketBy(8, <join key>)` + `sortBy`, after which
  * every join on that key is EXCHANGE-FREE — Spark reads bucket i of
  * orders and bucket i of lineitem into the same task and sort-merge
  * joins in place.
  *
  * This is the canonical 100 TB design move: the shuffle happens once at
  * ingest (when the table is laid down), not on every query. On a real
  * cluster the bucket count would be sized to executors (e.g. 4096);
  * locally 8 buckets keep the demo fast. `BucketedJoinSpec` asserts the
  * executed plan contains no shuffle exchange.
  *
  * The reference has no notion of physical layout at all (its sink is a
  * row-at-a-time COPY loop — `/root/reference/src/ParquetImporter.php:96-125`),
  * so this operator is part of the engine-grade extension set.
  */
object Bucketed {

  type Q = (SparkSession, String) => DataFrame

  /** Lay down orders + lineitem bucketed by order key (once per session
    * and scale factor), the two independent writes at once.
    */
  def prepare(s: SparkSession, dir: String): (String, String) = {
    val tag = Scratch.tag(dir)
    val (ot, lt) = (s"graft_orders_$tag", s"graft_lineitem_$tag")
    Scratch.once(s, dir, "bucketed") { base =>
      def write(name: String, table: String, key: String): () => Unit = () =>
        Tables(s, dir, name).write.mode("overwrite")
          .option("path", s"$base/$name")
          .bucketBy(8, key).sortBy(key).saveAsTable(table)
      Concurrently(write("orders", ot, "o_orderkey"), write("lineitem", lt, "l_orderkey"))
    }
    (ot, lt)
  }

  /** Revenue per order priority over the bucketed orders⋈lineitem join. */
  private val joinBucketed: Q = (s, dir) => {
    val (ot, lt) = prepare(s, dir)
    s.table(ot).join(s.table(lt), col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        Det.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy("o_orderpriority")
  }

  val queries: Map[String, Q] = Map(
    "join_bucketed" -> joinBucketed,
  )

  val oracles: Map[String, String] = Map(
    "join_bucketed" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n,
         |  ${Det.oSum("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
  )
}
