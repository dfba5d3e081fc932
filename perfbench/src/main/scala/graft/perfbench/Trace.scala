package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval: a run, a round, a query or micro-batch, or one
  * build/plan/action/write step inside a query. */
final case class Span(id: Int, parent: Int, name: String, label: String,
    startNs: Long, var endNs: Long, runId: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder. Spans stay in memory and are written out once, after
  * the run; the untraced run uses [[Tracer.off]], which only runs the
  * body. */
class Tracer(val runId: String, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]

  def apply[A](name: String, label: String = "")(body: => A): A =
    if (!enabled) body
    else {
      val parent = if (open.isEmpty) -1 else open.top.id
      val s = Span(spans.size, parent, name, label, System.nanoTime(), 0L, runId)
      spans += s
      open.push(s)
      try body
      finally { s.endNs = System.nanoTime(); open.pop() }
    }

  def children(s: Span): Seq[Span] = spans.iterator.filter(_.parent == s.id).toSeq

  /** Duration minus the part covered by child spans. Children of one
    * span never overlap: they run one after another on the thread that
    * runs the round. */
  def selfSeconds(s: Span): Double = s.seconds - children(s).map(_.seconds).sum

  def descendants(s: Span): Seq[Span] = {
    val kids = children(s)
    kids ++ kids.flatMap(descendants)
  }
}

object Tracer {
  def off: Tracer = new Tracer("", enabled = false)
}

/** Task and job counters summed over one query (or the whole round). */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill = 0L
  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks += 1
    runMs += m.executorRunTime
    cpuNs += m.executorCpuTime
    gcMs += m.jvmGCTime
    shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    shuffleRead += m.shuffleReadMetrics.totalBytesRead
    spill += m.diskBytesSpilled + m.memoryBytesSpilled
  }
  def toMap: Map[String, Double] = Map(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
    "executor_run_s" -> runMs / 1e3, "executor_cpu_s" -> cpuNs / 1e9,
    "gc_s" -> gcMs / 1e3, "shuffle_write_mb" -> shuffleWrite / 1e6,
    "shuffle_read_mb" -> shuffleRead / 1e6, "spill_mb" -> spill / 1e6)
}

/** Engine counters for the traced run. Each job is attributed to the
  * query and step named in the local properties of the thread that
  * submitted it (threads a query starts, such as broadcast builds and a
  * stream's micro-batch thread, inherit them); its stages and tasks
  * follow their job. Jobs without a query name, such as the checks run
  * between rounds, are not counted. */
class EngineListener extends SparkListener {
  val total = new Counters
  val byQuery = mutable.LinkedHashMap.empty[String, Counters]
  val byStep = mutable.HashMap.empty[String, Counters]
  val byQueryStep = mutable.LinkedHashMap.empty[(String, String), Counters]
  private val stageOwner = mutable.HashMap.empty[Int, (String, String)]
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  /** (launch, finish) wall-clock millis of every finished task. */
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  var maxSkew = 0.0

  private def counters(owner: (String, String)): Seq[Counters] =
    Seq(total, byQuery.getOrElseUpdate(owner._1, new Counters),
      byStep.getOrElseUpdate(owner._2, new Counters),
      byQueryStep.getOrElseUpdate(owner, new Counters))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(EngineListener.QueryKey))).foreach { query =>
      val step = props.flatMap(p => Option(p.getProperty(EngineListener.StepKey)))
        .getOrElse("other")
      e.stageIds.foreach(stageOwner(_) = (query, step))
      counters((query, step)).foreach(_.jobs += 1)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageOwner.get(id).foreach(counters(_).foreach(_.stages += 1))
    stageTaskMs.remove(id).foreach { ms =>
      // max/median over stages whose longest task ran 100 ms or more:
      // below that the ratio measures scheduling jitter, not skew
      if (ms.size >= 2 && ms.max >= 100) {
        val sorted = ms.sorted
        val median = math.max(1L, sorted(sorted.size / 2))
        maxSkew = math.max(maxSkew, sorted.last.toDouble / median)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOwner.get(e.stageId).foreach { owner =>
      if (e.taskMetrics != null) counters(owner).foreach(_.add(e.taskMetrics))
      val info = e.taskInfo
      taskIntervals += ((info.launchTime, info.finishTime))
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += info.duration
    }
  }

  /** Milliseconds within [from, to] during which no task ran. */
  def idleMs(from: Long, to: Long): Long = synchronized {
    var busy = 0L
    var cursor = from
    taskIntervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > cursor) { busy += b - math.max(a, cursor); cursor = b }
      }
    (to - from) - busy
  }

  /** Block until every event posted so far has been delivered. */
  def drain(sc: SparkContext): Unit = org.apache.spark.ListenerBusDrain(sc)
}

object EngineListener {
  val QueryKey = "graft.perfbench.query"
  val StepKey = "graft.perfbench.step"
}
