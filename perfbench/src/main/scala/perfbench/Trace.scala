package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.BenchSql
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Spark's own counters, summed per job group. Every op execution runs
  * under its own job group (see [[Run]]), so a task is charged to the op
  * that caused it even when it is reported late on the listener bus or was
  * launched from a thread the op spawned.
  */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var taskWaitMs, taskDurMs, runMs, gcMs = 0L
  var cpuNs = 0L
  var inputBytes, inputRows, shuffleWrite, shuffleRead, spill = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  val actions = mutable.Map[String, Long]().withDefaultValue(0L)

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    taskWaitMs += o.taskWaitMs; taskDurMs += o.taskDurMs; runMs += o.runMs; gcMs += o.gcMs
    cpuNs += o.cpuNs; inputBytes += o.inputBytes; inputRows += o.inputRows
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs; planningMs += o.planningMs
    o.actions.foreach { case (k, v) => actions(k) += v }
  }
}

/** The benchmark's SparkListener. It runs on the listener-bus thread, off
  * the ops' critical path; counters are read after the bus has drained.
  *
  * Catalyst phase times and action names come from the end event of each
  * SQL execution (the event a QueryExecutionListener is fed from). That
  * event carries the execution id its jobs were tagged with, which a
  * QueryExecutionListener callback does not, so it is charged to the job
  * group of the execution's jobs; executions that launch no job are not
  * counted.
  */
final class SparkCounters extends SparkListener {
  private val byGroup = mutable.Map[String, Counters]()
  private val stageGroup = mutable.Map[Int, String]()
  private val stageSubmit = mutable.Map[Int, Long]()
  private val execGroup = mutable.Map[Long, String]()

  private def c(g: String): Counters = byGroup.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val g = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("none")
    p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
      .foreach(id => execGroup.getOrElseUpdate(id.toLong, g))
    c(g).jobs += 1
    e.stageIds.foreach(id => stageGroup(id) = g)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    e.stageInfo.submissionTime.foreach(t => stageSubmit(id) = t)
    c(stageGroup.getOrElse(id, "none")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val k = c(stageGroup.getOrElse(e.stageId, "none"))
    k.tasks += 1
    if (!e.taskInfo.successful) k.failedTasks += 1
    k.taskDurMs += e.taskInfo.duration
    stageSubmit.get(e.stageId).foreach(t => k.taskWaitMs += math.max(0L, e.taskInfo.launchTime - t))
    val m = e.taskMetrics
    if (m != null) {
      k.runMs += m.executorRunTime; k.gcMs += m.jvmGCTime; k.cpuNs += m.executorCpuTime
      k.inputBytes += m.inputMetrics.bytesRead; k.inputRows += m.inputMetrics.recordsRead
      k.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      k.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      k.spill += m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionEnd => synchronized {
      for ((action, ns, qe) <- BenchSql.end(x); g <- execGroup.get(x.executionId)) {
        val k = c(g)
        val ph = qe.tracker.phases
        def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
        k.analysisMs += ms("analysis")
        k.optimizationMs += ms("optimization")
        k.planningMs += ms("planning")
        action.foreach(n => k.actions(n) = k.actions(n) + ns / 1000000L)
      }
    }
    case _ =>
  }

  /** Summed counters of every group `pick` accepts; read after a drain. */
  def sum(pick: String => Boolean): Counters = synchronized {
    val out = new Counters
    byGroup.filter(kv => pick(kv._1)).values.foreach(out += _)
    out
  }

  def group(g: String): Counters = sum(_ == g)
}

/** One timed interval: an op, a layer call inside it, or a set-up phase.
  * Spans of one op share `op`; `parent` is the enclosing span's id.
  */
final case class Span(id: Int, parent: Int, op: String, name: String, startNs: Long, endNs: Long)

/** In-memory span log, written out once when the run ends. */
final class Spans(enabled: Boolean) {
  private val buf = mutable.ArrayBuffer[Span]()
  private var stack = List(0)
  private var last = 0

  def apply[A](op: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      last += 1
      val id = last
      val parent = stack.head
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        buf += Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def all: Seq[Span] = buf.toSeq
}
