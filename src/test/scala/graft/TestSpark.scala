package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks a single test JVM). */
object TestSpark {
  lazy val spark: SparkSession = Session.local()

  val sf: String = "/root/testdata/sf0.001"

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
