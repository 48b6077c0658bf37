package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory record of a traced run, written out once the run ends.
  *
  * Times are epoch milliseconds (fractional for the harness's own spans),
  * the clock Spark's listener events already use.
  */
object Trace {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def now(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  /** A harness span: run, pass, query, build, optimize, plan or exec. */
  final case class Span(id: Int, parent: Int, kind: String, name: String,
      start: Double, end: Double)
  private val ids = new AtomicInteger(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  def span[A](parent: Int, kind: String, name: String)(body: Int => A): A = {
    val id = ids.incrementAndGet()
    val t0 = now()
    try body(id) finally spans.add(Span(id, parent, kind, name, t0, now()))
  }

  final case class Job(id: Int, group: String, pass: String, phase: String,
      start: Long, stages: Seq[Int]) { var end = -1L }
  final class Stage(val id: Int) {
    var submit = -1L; var firstLaunch = Long.MaxValue; var complete = -1L
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var resultB = 0L; var shuffleWriteB = 0L; var shuffleReadB = 0L
    var spillB = 0L; var outputB = 0L
  }
  /** A Dataset action seen by the QueryExecutionListener. `pinSession`
    * marks actions issued on a session other than the harness's root
    * session: the engine's dedicated pin session. */
  final case class Action(func: String, pinSession: Boolean,
      start: Double, durMs: Double, ok: Boolean)

  // SparkListener callbacks arrive on the single listener-bus thread;
  // readers take the same lock after the bus has drained.
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[Int, Stage]
  val actions = new ConcurrentLinkedQueue[Action]()
  val actionCount = new AtomicInteger(0)
  @volatile var rootSession: AnyRef = _

  object Listener extends SparkListener {
    private def stage(id: Int) = stages.getOrElseUpdate(id, new Stage(id))
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      jobs(e.jobId) = Job(e.jobId, prop("spark.jobGroup.id"), prop("perfbench.pass"),
        prop("perfbench.phase"), e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      stage(e.stageInfo.stageId).submit = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stage(e.stageInfo.stageId).complete = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
      val s = stage(e.stageId)
      s.firstLaunch = math.min(s.firstLaunch, e.taskInfo.launchTime)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val s = stage(e.stageId)
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime; s.cpuNs += m.executorCpuTime; s.gcMs += m.jvmGCTime
        s.resultB += m.resultSize
        s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        s.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        s.outputB += m.outputMetrics.bytesWritten
      }
    }
  }

  /** True once every started job and submitted stage has ended, i.e. the
    * listener bus has delivered the run's events. */
  def drained(): Boolean = synchronized {
    jobs.values.forall(_.end >= 0) && stages.values.forall(s => s.submit < 0 || s.complete >= 0)
  }

  def json(): String = synchronized {
    import Json._
    obj(
      "spans" -> arr(spans.asScala.toSeq.sortBy(_.id).map(s => obj(
        "id" -> num(s.id), "parent" -> num(s.parent), "kind" -> str(s.kind),
        "name" -> str(s.name), "start" -> num(s.start), "end" -> num(s.end)))),
      "jobs" -> arr(jobs.values.toSeq.map(j => obj(
        "id" -> num(j.id), "group" -> str(j.group), "pass" -> str(j.pass),
        "phase" -> str(j.phase), "start" -> num(j.start),
        "end" -> num(j.end), "stages" -> arr(j.stages.map(num(_)))))),
      "stages" -> arr(stages.values.toSeq.map(s => obj(
        "id" -> num(s.id), "submit" -> num(s.submit),
        "first_launch" -> num(if (s.firstLaunch == Long.MaxValue) -1L else s.firstLaunch),
        "complete" -> num(s.complete), "tasks" -> num(s.tasks), "run_ms" -> num(s.runMs),
        "cpu_ns" -> num(s.cpuNs), "gc_ms" -> num(s.gcMs), "result_b" -> num(s.resultB),
        "shuffle_write_b" -> num(s.shuffleWriteB), "shuffle_read_b" -> num(s.shuffleReadB),
        "spill_b" -> num(s.spillB), "output_b" -> num(s.outputB)))),
      "actions" -> arr(actions.asScala.toSeq.map(a => obj(
        "func" -> str(a.func), "pin_session" -> bool(a.pinSession),
        "start" -> num(a.start), "dur_ms" -> num(a.durMs), "ok" -> bool(a.ok)))))
  }
}

/** Registered through `spark.sql.queryExecutionListeners`, so it is also
  * installed on sessions the engine derives with `newSession()` (the pin
  * session), which a listener registered on the root session would miss. */
class ActionListener extends QueryExecutionListener {
  // Calls arrive on the listener bus, after the action, in order; the
  // start is estimated from the delivery time.
  private def record(func: String, qe: QueryExecution, durMs: Double, ok: Boolean): Unit = {
    Trace.actions.add(Trace.Action(func, qe.sparkSession ne Trace.rootSession,
      Trace.now() - durMs, durMs, ok))
    Trace.actionCount.incrementAndGet()
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe, durationNs / 1e6, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe, 0.0, ok = false)
}

/** Just enough JSON writing for the harness's output files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def num(v: Long): String = v.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
