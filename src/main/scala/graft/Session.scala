package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is built: every main and the test suite
  * run under the same policy. Two deployment settings, both read from the
  * environment: `SPARK_GRAFT_CPUS` (local core count, default the JVM's
  * available processors; also the shuffle width) and `SPARK_MASTER`
  * (overrides the local master).
  */
object Session {

  def local(): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // keep TypedImperativeAggregate group-bys (TopKByValue — the ADC
      // candidate cut, topk_per_group) on the HASH path: the default
      // 128-key fallback degrades a pair-count-sized heap-agg input to a
      // full in-partition sort spill; 64 k keys x ~1.2 KB heap state is
      // ~80 MB/task, far above real group counts
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
