package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks a single test JVM). */
object TestSpark {
  lazy val spark: SparkSession = Session.local()

  val sf: String = "/root/testdata/sf0.001"

  /** Count Spark jobs started while `body` runs (listener bus is async:
    * wait for the count to stabilize before reading it).
    */
  def jobsOf(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      var prev = -1
      var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val c = n.get
        if (c == prev) stable += 1 else { stable = 0; prev = c }
      }
    } finally spark.sparkContext.removeSparkListener(l)
    n.get
  }

  /** Scope a system property to `body` (set → run → restore/remove) —
    * shared by the planner-cut specs (ConfigCutSpec, RoundSixteenOpsSpec)
    * so the save/restore discipline lives in exactly one place.
    */
  def withProp[A](key: String, value: String)(body: => A): A = {
    val prev = sys.props.get(key)
    sys.props(key) = value
    try body
    finally prev match {
      case Some(v) => sys.props(key) = v
      case None => sys.props.remove(key)
    }
  }
}
