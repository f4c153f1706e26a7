package perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one span name, summed over every call with that name. */
final class SpanStats(val name: String) {
  var calls = 0L
  var wallNs = 0L
  var childNs = 0L
  var jobs = 0L
  var tasks = 0L
  var tasksFailed = 0L
  var taskCpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var resultBytes = 0L
  var planNs = 0L

  def selfNs: Long = wallNs - childNs

  def toJson: String = Json.obj(
    "calls" -> calls, "wall_s" -> wallNs / 1e9, "self_s" -> selfNs / 1e9,
    "jobs" -> jobs, "tasks" -> tasks, "tasks_failed" -> tasksFailed,
    "task_cpu_s" -> taskCpuNs / 1e9,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
    "output_bytes" -> outputBytes, "result_bytes" -> resultBytes,
    "plan_s" -> planNs / 1e9)
}

/** Span tracer attached from outside the engine.
  *
  * `span(name)(body)` times one call into a layer and sets the local
  * property [[Tracer.SpanKey]] around it, so every job the call submits
  * carries the span name. Stage and task counters follow their job's
  * property. Catalyst planning time comes from the QueryExecutionListener,
  * which sees no local properties; it is credited to the innermost open span,
  * which is exact because the listener bus is drained when a span closes.
  *
  * Spans only trace inside [[traced]]; elsewhere `span` just runs its body,
  * so untraced operations pay nothing.
  */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  import Tracer.SpanKey

  private val sc = spark.sparkContext
  private val stats = TrieMap.empty[String, SpanStats]
  private val stageSpan = TrieMap.empty[Int, SpanStats]
  private val open = mutable.Stack.empty[(SpanStats, Array[Long])]
  @volatile private var innermost: Option[SpanStats] = None
  private var attached = false

  private def statsOf(name: String) =
    stats.getOrElseUpdate(name, new SpanStats(name))

  /** Runs `body` with the listeners attached when `enabled`, and returns
    * the stats of every span it closed, by name.
    */
  def traced[T](enabled: Boolean)(body: => T): (T, Map[String, SpanStats]) =
    if (!enabled) (body, Map.empty)
    else {
      sc.addSparkListener(this)
      spark.listenerManager.register(this)
      attached = true
      try {
        val out = body
        PerfbenchBus.drain(sc)
        (out, stats.readOnlySnapshot().toMap)
      } finally {
        attached = false
        sc.removeSparkListener(this)
        spark.listenerManager.unregister(this)
        stats.clear()
        stageSpan.clear()
      }
    }

  def span[T](name: String)(body: => T): T =
    if (!attached) body else traceSpan(name)(body)

  private def traceSpan[T](name: String)(body: => T): T = {
    val s = statsOf(name)
    val children = Array(0L)
    val outer = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, name)
    open.push((s, children))
    innermost = Some(s)
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = System.nanoTime() - t0
      PerfbenchBus.drain(sc)
      open.pop()
      s.synchronized {
        s.calls += 1; s.wallNs += wall; s.childNs += children(0)
      }
      open.headOption.foreach(_._2(0) += wall)
      innermost = open.headOption.map(_._1)
      sc.setLocalProperty(SpanKey, outer)
    }
  }

  /** Jobs submitted outside any span land in [[Tracer.Unattributed]]. */
  private def spanOf(props: java.util.Properties): SpanStats =
    statsOf(Option(props).flatMap(p => Option(p.getProperty(SpanKey)))
      .getOrElse(Tracer.Unattributed))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = spanOf(e.properties)
    s.synchronized { s.jobs += 1 }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSpan.put(e.stageInfo.stageId, spanOf(e.properties))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageSpan.get(e.stageId).foreach { s =>
      val m = e.taskMetrics
      s.synchronized {
        s.tasks += 1
        if (e.reason != Success) s.tasksFailed += 1
        if (m != null) {
          s.taskCpuNs += m.executorCpuTime
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.diskBytesSpilled
          s.outputBytes += m.outputMetrics.bytesWritten
          s.resultBytes += m.resultSize
        }
      }
    }

  private def plan(qe: QueryExecution): Unit = {
    val ms = Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
    innermost.foreach(s => s.synchronized { s.planNs += ms * 1000000L })
  }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    plan(qe)

  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    plan(qe)
}

object Tracer {
  val SpanKey = "perfbench.span"
  val Unattributed = "unattributed"
}

/** Just enough JSON writing for the harness's result file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case raw: Raw => raw.json
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, x) => str(k) + ":" + value(x) }.mkString("{", ",", "}")

  /** Already-rendered JSON. */
  final case class Raw(json: String)
}
