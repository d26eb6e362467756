package graft

/** Dev tool: time and/or explain a single query in isolation.
  * Usage: runMain graft.Probe <name[,name...]> <sfDir> [explain] [show] [runs]
  *
  * Every timed run forces the whole result: it hashes every output column
  * into one aggregate (`xxhash64(struct(*))`, as perfbench does), so a
  * query whose cost lives in a column nothing else references is measured
  * in full without collecting the rows.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Probe <name[,name...]> <sfDir> [explain] [show] [runs]")
    val (name, sfDir) = (args(0), args(1))
    val doExplain = args.contains("explain")
    val runs = args.drop(2).find(_.forall(_.isDigit)).map(_.toInt).getOrElse(2)
    val spark = Session.local()
    // warm the JVM + parquet footers so timings reflect the query
    Tables.all.foreach { t =>
      try Tables(spark, sfDir, t).count() catch { case _: Throwable => () }
    }
    name.split(',').foreach { nm =>
      val fn = SparkEntry.queries(nm)
      if (doExplain) fn(spark, sfDir).explain("formatted")
      // `show`: print the first rows — for decision-row queries
      // (sim_ivf_plan, dedup_incr_plan) whose VALUES are the probe result
      if (args.contains("show")) fn(spark, sfDir).show(20, false)
      (1 to runs).foreach { i =>
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir)
          .selectExpr("xxhash64(struct(*)) AS h").agg(Map("h" -> "count")).head().getLong(0)
        println(f"[probe] $nm run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s, $n rows")
      }
    }
    spark.stop()
  }
}
