package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** What one workload measures. `setup` builds fresh fixtures under `dir`
  * (it runs several times per run; only the last set-up is measured
  * against); `measure` runs the timed section; `check` runs the
  * correctness gates outside any timed section and returns one message
  * per failure; `release` drops the benchmark's own state so the
  * retained-heap reading counts only what graft and Spark keep. */
trait Workload {
  def setup(spark: SparkSession, dir: String): Unit
  def measure(spark: SparkSession, tracer: Tracer, seconds: Double): Unit
  def check(spark: SparkSession): Seq[String]
  def attempted: Int
  /** Operations that threw. Wrong results are counted by [[check]]. */
  def failedOps: Int
  /** `latency_s` and `cpu_s_per_op`; Main adds `setup_s` and
    * `driver_retained_mb`. */
  def endToEnd: Map[String, Double]
  /** The workload's own named figures, printed for the record. */
  def summary: Map[String, Double]
  def layers(billed: Seq[Tracer.Billed]): Map[String, Double]
  def release(): Unit
}

/** One benchmark run in one JVM:
  * `Main <workload> <seed> <seconds> <trace 0|1> <workDir> <dataDir> <out.json>`.
  * Sets up [[SetupReps]] times (a fresh session and fresh fixtures each
  * time) and reports as `setup_s` the median of all but the first, which
  * also pays JVM class loading and JIT warm-up; then measures, checks,
  * and writes one JSON result object to `out.json` for `perfbench/run.py`
  * to finish. */
object Main {
  val SetupReps = 4

  def main(args: Array[String]): Unit = {
    val Array(name, seedArg, secondsArg, traceArg, work, data, out) = args
    val seed = seedArg.toLong
    val tracer = new Tracer(traceArg == "1")
    val cores = Runtime.getRuntime.availableProcessors()
    val w: Workload = name match {
      case "ingest" => new Ingest(seed)
      case "lifecycle" => new Lifecycle(seed)
      case "analytics" => new Analytics(seed, data, s"$work/results")
      case other => sys.error(s"unknown workload $other")
    }
    var spark: SparkSession = null
    val setupS = (0 until SetupReps).map { rep =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.builder(s"local[$cores]", cores)
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      w.setup(spark, s"$work/setup$rep")
      (System.nanoTime() - t0) / 1e9
    }
    tracer.attach(spark)
    w.measure(spark, tracer, secondsArg.toDouble)
    PerfbenchBridge.drain(spark.sparkContext)
    val billed = tracer.finish()
    val failures = w.check(spark)
    val endToEnd = w.endToEnd
    val summary = w.summary
    val layers =
      if (!tracer.enabled) Map.empty[String, Double]
      else w.layers(billed) ++ Map(
        "trace.coverage" -> tracer.coverage,
        "trace.unbilled_jobs_share" -> tracer.unbilledJobsShare,
        "trace.unbilled_exec_share" -> tracer.unbilledExecShare)
    val attempted = w.attempted
    val failed = w.failedOps + failures.size
    w.release()
    val retainedMb = retainedHeapMb()
    val result = Map[String, Any](
      "workload" -> name, "seed" -> seed, "cores" -> cores,
      "attempted" -> attempted, "failed" -> failed,
      "failures" -> failures.asJava,
      "setup_reps_s" -> setupS.asJava,
      "end_to_end" -> (endToEnd ++ Map(
        "setup_s" -> Stats.median(setupS.tail),
        "driver_retained_mb" -> retainedMb)).asJava,
      "summary" -> summary.asJava,
      "per_layer" -> layers.asJava,
      "spans" -> billed.map(spanJson).asJava)
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValue(new File(out), result.asJava)
    spark.stop()
  }

  private def spanJson(b: Tracer.Billed): java.util.Map[String, Any] = Map(
    "id" -> b.span.id, "parent" -> b.span.parent, "name" -> b.span.name,
    "op" -> b.span.op, "start_ms" -> b.span.startMs, "wall_s" -> b.wallS,
    "self_s" -> b.selfS, "jobs" -> b.jobs, "gap_s" -> b.gapS,
    "plan_s" -> b.planS, "exec_run_s" -> b.execRunS,
    "exec_cpu_s" -> b.execCpuS, "gc_s" -> b.gcS, "tasks" -> b.tasks,
    "shuffle_write_mb" -> b.shuffleWriteMb,
    "shuffle_read_mb" -> b.shuffleReadMb, "spill_mb" -> b.spillMb,
    "input_mb" -> b.inputMb).asJava

  /** Driver heap still reachable after full collections. */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
    }.min
  }

  /** Bytes of every regular file under `dir`. */
  def bytesUnder(dir: String): Long = filesUnder(dir).map(Files.size).sum

  def filesUnder(dir: String): Seq[java.nio.file.Path] =
    if (!new File(dir).exists) Nil
    else {
      val s = Files.walk(Paths.get(dir))
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }
}

object Stats {
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /** CPU time so far of each live Java thread — the driver, executor
    * tasks and graft's own pools — except the JIT compiler threads,
    * whose background compiling is warm-up noise rather than work the
    * call caused. GC runs on native threads and is not counted. CPU time
    * leaves out the time the host took the processors away. */
  def cpuSnapshot(): Map[Long, Long] =
    threads.getThreadInfo(threads.getAllThreadIds).iterator
      .filter(i => i != null && !i.getThreadName.contains("CompilerThread"))
      .map(i => i.getThreadId -> threads.getThreadCpuTime(i.getThreadId))
      .filter(_._2 >= 0).toMap

  /** CPU nanoseconds spent since `start` by the threads alive now (a
    * thread that ended in between loses its share). */
  def cpuSince(start: Map[Long, Long]): Long =
    cpuSnapshot().iterator.map { case (id, ns) =>
      ns - start.getOrElse(id, 0L) }.sum

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  /** Per-call medians of the named leaf spans' quantities, as
    * `<name>.<quantity>`. */
  def callMedians(billed: Seq[Tracer.Billed], name: String,
                  quantities: Seq[String]): Map[String, Double] = {
    val calls = billed.filter(_.span.name == name)
    quantities.map { q =>
      s"$name.$q" -> median(calls.map(b => value(b, q)))
    }.toMap
  }

  def value(b: Tracer.Billed, q: String): Double = q match {
    case "wall_s" => b.wallS
    case "jobs" => b.jobs.toDouble
    case "gap_s" => b.gapS
    case "plan_s" => b.planS
    case "exec_run_s" => b.execRunS
    case "exec_cpu_s" => b.execCpuS
    case "gc_s" => b.gcS
    case "tasks" => b.tasks.toDouble
    case "shuffle_write_mb" => b.shuffleWriteMb
    case "shuffle_read_mb" => b.shuffleReadMb
    case "spill_mb" => b.spillMb
    case "input_mb" => b.inputMb
  }
}
