package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer attribution for the traced run.
  *
  * A span wraps one public graft call made by the benchmark (one per
  * layer boundary), with its parent span and the arrival / operation id
  * it serves. Spans stay in memory and are written out when the run
  * ends. Spark work is billed to spans afterwards, by time: the client
  * makes every Spark call from one thread, so the deepest client span
  * whose interval holds a job's (or a Catalyst phase's) start is the
  * call that caused it. Billing by time instead of by a job-group
  * property also catches jobs submitted from graft's own metadata pool,
  * whose threads do not inherit the caller's local properties.
  *
  * With tracing off, [[span]] only runs its body.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.ArrayBuffer.empty[(Int, Counters)]
  private val phases = mutable.ArrayBuffer.empty[(Long, Double)]
  private var windowStartMs, windowEndMs, windowStartNs, windowEndNs = 0L

  /** Share of the timed section's wall that leaf spans hold, and the
    * shares of the Spark jobs started in it, and of their executor run
    * time, that no span owns. Set by [[finish]]. */
  var coverage, unbilledJobsShare, unbilledExecShare = 0.0

  /** Runs the timed section: attribution is judged over its wall. */
  def window[T](body: => T): T = {
    windowStartMs = System.currentTimeMillis()
    windowStartNs = System.nanoTime()
    try body
    finally {
      windowEndNs = System.nanoTime()
      windowEndMs = System.currentTimeMillis()
    }
  }

  def span[T](name: String, op: Long)(body: => T): T =
    if (!enabled) body
    else {
      val stack = open.get
      val s = synchronized {
        val s = Span(spans.size, stack.headOption.fold(-1)(_.id), name, op,
          Thread.currentThread.getId)
        spans += s
        s
      }
      open.set(s :: stack)
      s.startMs = System.currentTimeMillis()
      s.startNs = System.nanoTime()
      try body
      finally {
        s.wallNs = System.nanoTime() - s.startNs
        s.endMs = System.currentTimeMillis()
        open.set(stack)
      }
    }

  /** Attach the listeners to `spark`. Call once, on the session the
    * timed section uses. */
  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Tracer.this.synchronized {
          jobs(e.jobId) = Job(e.time, e.time)
          e.stageIds.foreach(stageJob(_) = e.jobId)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Tracer.this.synchronized {
          jobs.get(e.jobId).foreach(_.endMs = e.time)
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        if (m != null) Tracer.this.synchronized {
          val c = new Counters
          c.execRunS = m.executorRunTime / 1e3
          c.execCpuS = m.executorCpuTime / 1e9
          c.gcS = m.jvmGCTime / 1e3
          c.tasks = e.stageInfo.numTasks
          c.shuffleWriteMb = m.shuffleWriteMetrics.bytesWritten / Mb
          c.shuffleReadMb = m.shuffleReadMetrics.totalBytesRead / Mb
          c.spillMb = (m.memoryBytesSpilled + m.diskBytesSpilled) / Mb
          c.inputMb = m.inputMetrics.bytesRead / Mb
          stages += e.stageInfo.stageId -> c
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        record(qe)
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = record(qe)
      private def record(qe: QueryExecution): Unit = {
        val ph = qe.tracker.phases.values
        if (ph.nonEmpty) Tracer.this.synchronized {
          phases += ph.map(_.startTimeMs).min ->
            ph.map(p => p.endTimeMs - p.startTimeMs).sum / 1e3
        }
      }
    })
  }

  /** Every span with its billed Spark work. Call after the listener bus
    * has drained. Jobs whose start no span holds stay unbilled; those
    * started inside [[window]] are counted in the unbilled shares. */
  def finish(): Seq[Billed] = synchronized {
    val billed = spans.map(s => s.id -> new Billed(s)).toMap
    val byThread = spans.groupBy(_.thread)
    def owner(atMs: Long): Option[Billed] =
      byThread.values.iterator.flatMap { ss =>
        ss.filter(s => s.startMs <= atMs && atMs <= s.endMs)
          .sortBy(s => (s.startMs, s.id)).lastOption
      }.toSeq.sortBy(s => -s.startMs).headOption.map(s => billed(s.id))
    val jobOwner = jobs.map { case (id, j) =>
      val o = owner(j.startMs)
      o.foreach { b => b.jobs += 1; b.jobIntervals += j.startMs -> j.endMs }
      id -> o
    }
    stages.foreach { case (stage, c) =>
      stageJob.get(stage).flatMap(jobOwner.get).flatten.foreach(_.add(c))
    }
    val inWindow = jobs.filter { case (_, j) =>
      windowStartMs <= j.startMs && j.startMs <= windowEndMs }.keySet
    val unbilled = inWindow.filter(jobOwner(_).isEmpty)
    def execRun(js: collection.Set[Int]) = stages.collect {
      case (stage, c) if stageJob.get(stage).exists(js) => c.execRunS }.sum
    unbilledJobsShare = share(unbilled.size, inWindow.size)
    unbilledExecShare = share(execRun(unbilled), execRun(inWindow))
    phases.foreach { case (at, s) => owner(at).foreach(_.planS += s) }
    val children = spans.groupBy(_.parent)
    billed.values.foreach { b =>
      val kids = children.getOrElse(b.span.id, Nil).map(_.wallNs).sum
      b.selfS = math.max(0.0, (b.span.wallNs - kids) / 1e9)
    }
    val leafNs = spans.filterNot(s => children.contains(s.id)).map { s =>
      math.max(0L, math.min(s.startNs + s.wallNs, windowEndNs) -
        math.max(s.startNs, windowStartNs))
    }.sum
    coverage = share(leafNs, windowEndNs - windowStartNs)
    spans.map(s => billed(s.id)).toSeq
  }
}

object Tracer {
  private val Mb = 1024.0 * 1024.0

  private def share(part: Double, whole: Double): Double =
    if (whole > 0) part / whole else 0.0

  final case class Span(id: Int, parent: Int, name: String, op: Long,
                        thread: Long) {
    var startMs = 0L
    var endMs = 0L
    var startNs = 0L
    var wallNs = 0L
  }

  final case class Job(startMs: Long, var endMs: Long)

  class Counters {
    var execRunS, execCpuS, gcS = 0.0
    var tasks = 0L
    var shuffleWriteMb, shuffleReadMb, spillMb, inputMb = 0.0
    def add(c: Counters): Unit = {
      execRunS += c.execRunS; execCpuS += c.execCpuS; gcS += c.gcS
      tasks += c.tasks
      shuffleWriteMb += c.shuffleWriteMb; shuffleReadMb += c.shuffleReadMb
      spillMb += c.spillMb; inputMb += c.inputMb
    }
  }

  /** A span with the Spark work billed to it directly (not to its
    * children). `gapS` is the part of the span's wall with no Spark job
    * running: driver-side planning, listing and commit work. */
  final class Billed(val span: Span) extends Counters {
    var jobs = 0
    var planS = 0.0
    var selfS = 0.0
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    def wallS: Double = span.wallNs / 1e9
    def jobS: Double = {
      val clipped = jobIntervals.map { case (a, b) =>
        (math.max(a, span.startMs), math.min(b, span.endMs))
      }.filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0L
      var curA = -1L
      var curB = -1L
      clipped.foreach { case (a, b) =>
        if (a > curB) { total += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      (total + curB - curA) / 1e3
    }
    def gapS: Double = math.max(0.0, wallS - jobS)
  }
}
