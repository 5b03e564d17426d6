package graft.perfbench

import scala.collection.mutable

import org.apache.spark.GraftSparkBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.EndEvents
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters summed over every task, job and stage seen so far; the
  * runner diffs two snapshots to attribute them to a pass or a leg. */
final case class Counters(jobs: Long, stages: Long, tasks: Long,
    runMs: Long, gcMs: Long, shuffleWriteBytes: Long, spillBytes: Long,
    inputBytes: Long) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, runMs - o.runMs, gcMs - o.gcMs,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    inputBytes - o.inputBytes)
}

/** In-memory tracer for one benchmark run.
  *
  * Driver-side spans (pass → op or memo build → builder call / plan /
  * write) are opened by the runner around its calls into graft; Spark SQL
  * executions arrive through the [[SparkListener]] side, and the
  * [[QueryExecutionListener]] side names each execution's action (write,
  * head, collect, ...).
  * Broadcast exchanges are counted in the plan each execution reports at
  * its start and in adaptive re-plans, subqueries included. Each SQL
  * execution gets the innermost driver span open at its start as parent
  * (or its root execution, when nested). Nothing is written until
  * [[spansJson]] is called at the end of the run.
  *
  * Times are epoch microseconds: driver spans read a monotonic clock
  * anchored to the wall clock once, listener events carry Spark's
  * wall-clock milliseconds. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  final class Span(val id: Int, val parent: Int, val name: String,
      val kind: String, val start: Long) {
    var end: Long = -1L
  }
  final class Exec(val id: Long, val root: Long, val start: Long,
      val description: String) {
    var end: Long = -1L
    var action: String = ""
    var broadcasts: Int = 0
    var jobs: Int = 0
    var ok: Boolean = true
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val execs = mutable.LinkedHashMap.empty[Long, Exec]
  // The two listener sides meet on the QueryExecution object: the end
  // event carries it, the QueryExecutionListener is handed it.
  private val execOfQe = mutable.Map.empty[Int, Long]
  private val heard = mutable.ArrayBuffer.empty[(Int, String)]

  private var totals = Counters(0, 0, 0, 0, 0, 0, 0, 0)
  def counters: Counters = synchronized(totals)

  /** Start hearing `spark`'s events. */
  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Wait until every event so far is heard, then stop listening. */
  def detach(spark: SparkSession): Unit = {
    GraftSparkBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Run `body` inside a driver span; spans nest by call order. */
  def span[T](name: String, kind: String)(body: => T): T = {
    val s = synchronized {
      val sp = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1),
        name, kind, nowUs)
      spans += sp
      stack.push(sp)
      sp
    }
    try body
    finally synchronized { s.end = nowUs; stack.pop() }
  }

  // ---- SparkListener: executions, jobs, stages, tasks ----

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => synchronized {
      val x = new Exec(e.executionId, e.rootExecutionId.getOrElse(e.executionId),
        e.time * 1000L, e.description)
      x.broadcasts = countBroadcasts(e.sparkPlanInfo)
      execs(e.executionId) = x
    }
    case e: SparkListenerSQLAdaptiveExecutionUpdate => synchronized {
      execs.get(e.executionId).foreach(_.broadcasts = countBroadcasts(e.sparkPlanInfo))
    }
    case e: SparkListenerSQLExecutionEnd => synchronized {
      EndEvents.queryExecution(e).foreach(qe => execOfQe(System.identityHashCode(qe)) = e.executionId)
      execs.get(e.executionId).foreach { x =>
        x.end = e.time * 1000L
        x.ok = e.errorMessage.forall(_.isEmpty)
      }
    }
    case _ =>
  }

  private def countBroadcasts(p: SparkPlanInfo): Int =
    (if (p.nodeName.startsWith("BroadcastExchange")) 1 else 0) +
      p.children.map(countBroadcasts).sum

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    totals = totals.copy(jobs = totals.jobs + 1)
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption).flatMap(execs.get).foreach(x => x.jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { totals = totals.copy(stages = totals.stages + 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    totals = if (m == null) totals.copy(tasks = totals.tasks + 1)
    else totals.copy(
      tasks = totals.tasks + 1,
      runMs = totals.runMs + m.executorRunTime,
      gcMs = totals.gcMs + m.jvmGCTime,
      shuffleWriteBytes = totals.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      spillBytes = totals.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
      inputBytes = totals.inputBytes + m.inputMetrics.bytesRead)
  }

  // ---- QueryExecutionListener: action names ----

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe)

  private def record(funcName: String, qe: QueryExecution): Unit =
    synchronized { heard += ((System.identityHashCode(qe), funcName)) }

  /** Every span as one JSON array: driver spans first, then SQL
    * executions (kind `sql`) with their parent resolved. */
  def spansJson: String = synchronized {
    for ((q, name) <- heard; id <- execOfQe.get(q); x <- execs.get(id)) x.action = name
    val execList = execs.values.toIndexedSeq
    val pos = execList.map(_.id).zipWithIndex.toMap
    def parentOf(x: Exec): Int =
      if (x.root != x.id && pos.contains(x.root)) spans.size + pos(x.root)
      else spans.filter(s => s.start <= x.start + 1000 && (s.end < 0 || x.start <= s.end))
        .maxByOption(depth).map(_.id).getOrElse(-1)
    val driver = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"kind":${Json.str(s.kind)},"start_us":${s.start},"end_us":${s.end}}"""
    }
    val sql = execList.zipWithIndex.map { case (x, i) =>
      s"""{"id":${spans.size + i},"parent":${parentOf(x)},"name":${Json.str(x.description.take(120))},"kind":"sql","action":${Json.str(actionKind(x))},"func":${Json.str(x.action)},"broadcasts":${x.broadcasts},"jobs":${x.jobs},"ok":${x.ok},"start_us":${x.start},"end_us":${x.end}}"""
    }
    (driver ++ sql).mkString("[\n", ",\n", "\n]\n")
  }

  private def depth(s: Span): Int =
    if (s.parent < 0) 0 else 1 + depth(spans(s.parent))

  /** The action bucket of one execution, from the listener's function
    * name or, for executions it never reported, the call-site text. */
  private def actionKind(x: Exec): String = {
    val f = if (x.action.nonEmpty) x.action
      else x.description.takeWhile(c => c != ' ')
    f match {
      case "save" | "command" | "insertInto" | "saveAsTable" | "text" | "parquet" |
           "csv" | "json" | "orc" => "write"
      case "head" | "take" | "first" | "tail" | "takeAsList" => "head"
      case "collect" | "collectAsList" | "count" | "toLocalIterator" |
           "reduce" | "collectResult" => "collect"
      case "checkpoint" | "localCheckpoint" => "checkpoint"
      case _ => "other"
    }
  }
}

/** Minimal JSON string quoting. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
