package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec, InputAdapter}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a timed region at a call the benchmark makes into a layer.
  * Times are nanoseconds on the driver's monotonic clock; the spans of
  * one op share its trace id (the op span's own id). */
final case class Span(id: Long, trace: Long, parent: Long, name: String,
    layer: String, start: Long, end: Long)

/** Span recorder for the driver thread. Disabled, it only runs the body:
  * end-to-end numbers are measured with it off. */
final class Tracer {
  @volatile var enabled = false
  private var nextId = 1L
  private var stack: List[(Long, Long)] = Nil // (span id, trace id)
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Offset from the monotonic clock to epoch nanoseconds, for placing
    * listener events (epoch milliseconds) on the same axis. */
  val epochOffsetNs: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def currentId: Long = stack.headOption.map(_._1).getOrElse(0L)
  def currentTrace: Long = stack.headOption.map(_._2).getOrElse(0L)

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = currentId
      val trace = if (layer == "op") id else currentTrace
      stack = (id, trace) :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, trace, parent, name, layer, t0, System.nanoTime())
      }
    }

  /** Adds a span measured elsewhere (listener events), as a child of
    * `parent` in trace `trace`. */
  def add(name: String, layer: String, parent: Long, trace: Long,
      startEpochMs: Long, endEpochMs: Long): Long = {
    val id = nextId
    nextId += 1
    spans += Span(id, trace, parent, name, layer,
      startEpochMs * 1000000L - epochOffsetNs, endEpochMs * 1000000L - epochOffsetNs)
    id
  }

  /** The innermost finished span of trace `trace` (not a Spark job or
    * stage span) open at `atNs`, else the trace's own span: the call a
    * Spark job started under. The trace's spans sit at the end of the
    * list while its op runs. */
  def innermost(trace: Long, atNs: Long): Long = {
    var best = trace
    var bestStart = Long.MinValue
    var i = spans.length - 1
    while (i >= 0 && spans(i).trace == trace) {
      val s = spans(i)
      if (!s.layer.startsWith("spark.") && s.start <= atNs && atNs <= s.end &&
          s.start > bestStart) {
        best = s.id
        bestStart = s.start
      }
      i -= 1
    }
    best
  }

  /** Self time per layer, in seconds: a span's duration minus the part
    * of it covered by its children. */
  def selfTimeByLayer: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val covered = Intervals.covered(kids.get(s.id).map(_.toSeq).getOrElse(Seq.empty)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
      s.layer -> (s.end - s.start - covered) / 1e9
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}

object Intervals {
  /** Length of the union of [start, end) intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = 0L
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Engine-side record of one op, filled by the listeners. */
final class OpEvents {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  val jobTimes = mutable.ArrayBuffer.empty[(Int, Long, Long)] // id, start, end
  val stageTimes = mutable.ArrayBuffer.empty[(Int, Int, Long, Long)] // stage, job, start, end
  var analysisMs = 0L
  var optimizerMs = 0L
  var planningMs = 0L
  var exchanges = 0
  var maxJoinRows = 0L
  var outputRows = -1L
  var functionsMs = 0.0
  val rewrites = mutable.Set.empty[String]
  var storagePeakBytes = 0L
  val streamProgress = mutable.ArrayBuffer.empty[Map[String, Long]]

  /** Wall time in which at least one task ran, in milliseconds. */
  def busyMs: Long = Intervals.covered(taskIntervals.toSeq)
}

/** Physical-plan statistics of one executed query, read from the final
  * adaptive plan and its SQL metrics. */
object PlanStats {
  val rewriteSignatures: Seq[(String, String)] = Seq(
    "TopKRewrite" -> "_graft_top",
    "SaltedAggRewrite" -> "_graft_salt",
    "SaltedJoinRewrite" -> "_graft_fsalt")

  private def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case _: ReusedExchangeExec => Nil
    case other => other.children ++ other.subqueries
  }

  private def foreachNode(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    children(p).foreach(foreachNode(_)(f))
  }

  private def timingMs(p: SparkPlan): Double =
    p.metrics.values.toSeq.map { m =>
      m.metricType match {
        case "timing" => m.value.toDouble
        case "nsTiming" => m.value / 1e6
        case _ => 0.0
      }
    }.sum

  private def usesGraft(p: SparkPlan): Boolean =
    p.expressions.exists(_.exists(_.getClass.getName.startsWith("graft.")))

  def record(qe: QueryExecution, ev: OpEvents): Unit = {
    val phases = qe.tracker.phases
    ev.analysisMs += phases.get("analysis").map(_.durationMs).getOrElse(0L)
    ev.optimizerMs += phases.get("optimization").map(_.durationMs).getOrElse(0L)
    ev.planningMs += phases.get("planning").map(_.durationMs).getOrElse(0L)
    val optimized = qe.optimizedPlan.toString
    rewriteSignatures.foreach { case (rule, sig) =>
      if (optimized.contains(sig)) ev.rewrites += rule
    }
    val plan = qe.executedPlan
    var out = -1L
    foreachNode(plan) { p =>
      p match {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => ev.exchanges += 1
        case j: BaseJoinExec =>
          j.metrics.get("numOutputRows").foreach(m =>
            ev.maxJoinRows = math.max(ev.maxJoinRows, m.value))
        case _ =>
      }
      if (out < 0) p.metrics.get("numOutputRows").foreach(m => out = m.value)
    }
    ev.outputRows = out
    // time of nodes that evaluate a graft expression or aggregate: the
    // enclosing code-generated stage's pipeline time, else the node's
    // own timing metrics
    val stagesSeen = mutable.Set.empty[Int]
    def walk(p: SparkPlan, stage: Option[WholeStageCodegenExec]): Unit = p match {
      case w: WholeStageCodegenExec => walk(w.child, Some(w))
      case i: InputAdapter => walk(i.child, None)
      case _ =>
        if (usesGraft(p)) stage match {
          case Some(w) =>
            if (stagesSeen.add(System.identityHashCode(w)))
              ev.functionsMs += timingMs(w)
          case None => ev.functionsMs += timingMs(p)
        }
        children(p).foreach(walk(_, stage))
    }
    walk(plan, None)
  }
}

/** The traced run's listeners. Events accumulate into the current op's
  * record; the driver thread drains the listener bus after each op before it
  * takes the record, so every event lands on the op that caused it. */
final class Recorder {
  private val lock = new Object
  private var current = new OpEvents
  private val stageJob = mutable.Map.empty[Int, Int]
  private val blocks = mutable.Map.empty[String, Long]
  private var stored = 0L

  def take(): OpEvents = lock.synchronized {
    val ev = current
    current = new OpEvents
    current.storagePeakBytes = stored
    ev
  }

  private def on(f: OpEvents => Unit): Unit = lock.synchronized(f(current))

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = on { ev =>
      ev.jobs += 1
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
      ev.jobTimes += ((e.jobId, e.time, -1L))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = on { ev =>
      val i = ev.jobTimes.indexWhere(_._1 == e.jobId)
      if (i >= 0) ev.jobTimes(i) = ev.jobTimes(i).copy(_3 = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = on { ev =>
      val si = e.stageInfo
      ev.stages += 1
      ev.stageTimes += ((si.stageId, stageJob.getOrElse(si.stageId, -1),
        si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = on { ev =>
      ev.tasks += 1
      ev.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        ev.taskMs += m.executorRunTime
        ev.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        ev.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        ev.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = on { ev =>
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val id = info.blockId.name
        stored -= blocks.getOrElse(id, 0L)
        if (info.storageLevel.isValid) {
          blocks(id) = info.memSize + info.diskSize
          stored += info.memSize + info.diskSize
        } else blocks.remove(id)
        ev.storagePeakBytes = math.max(ev.storagePeakBytes, stored)
      }
    }
  }

  val queries: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = on(PlanStats.record(qe, _))
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = on { ev =>
      val d = e.progress.durationMs
      val m = mutable.Map.empty[String, Long]
      d.forEach((k, v) => m(k) = v.longValue)
      m("numInputRows") = e.progress.numInputRows
      ev.streamProgress += m.toMap
    }
  }
}
