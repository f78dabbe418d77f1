package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `analytics` — closed loop over a fixed list of read-only registry
  * queries on the sf0.1 tables, each written through the `noop` sink.
  * Heavy on executors and Catalyst and never commits: the control that
  * commit-path changes must leave flat, and the target for operator
  * work. The seed sets the query order of every pass.
  *
  * The untimed first pass writes every result as parquet under
  * `results/` together with the queries' `SparkEntry.oracleSql`, and
  * `perfbench/run.py` checks each one against DuckDB. Timed passes are
  * whole passes, so every query has the same number of samples. */
final class Analytics(seed: Long, dataDir: String, resultsDir: String)
    extends Workload {
  import Analytics.{MinPasses, Queries}

  private val rnd = new Random(seed)
  private val samples = mutable.ArrayBuffer.empty[(String, Double)]
  private var timedNs = 0L
  private var cpuNs = 0L
  private var failed = 0
  private val problems = mutable.ArrayBuffer.empty[String]

  def setup(spark: SparkSession, dir: String): Unit =
    noop(spark, Analytics.WarmQuery)

  private def noop(spark: SparkSession, q: String): Unit =
    SparkEntry.queries(q)(spark, dataDir)
      .write.format("noop").mode("overwrite").save()

  def measure(spark: SparkSession, tracer: Tracer, seconds: Double): Unit = {
    Files.createDirectories(Paths.get(resultsDir))
    rnd.shuffle(Queries).foreach { q =>
      try SparkEntry.queries(q)(spark, dataDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$resultsDir/$q")
      catch { case e: Exception => problems += s"$q: $e" }
    }
    val oracle = SparkEntry.oracleSql.filter(kv => Queries.contains(kv._1))
    new com.fasterxml.jackson.databind.ObjectMapper().writeValue(
      new java.io.File(s"$resultsDir/oracle_sql.json"),
      scala.jdk.CollectionConverters.MapHasAsJava(oracle).asJava)
    var pass = 0
    tracer.window(while (timedNs < seconds * 1e9 || pass < MinPasses) {
      rnd.shuffle(Queries).foreach { q =>
        val c0 = Stats.cpuSnapshot()
        val t0 = System.nanoTime()
        try tracer.span(q, pass) { noop(spark, q) }
        catch {
          case e: Exception =>
            failed += 1
            problems += s"$q pass $pass: $e"
        }
        val dt = System.nanoTime() - t0
        timedNs += dt
        cpuNs += Stats.cpuSince(c0)
        samples += q -> dt / 1e9
      }
      pass += 1
    })
  }

  def check(spark: SparkSession): Seq[String] = problems.toSeq

  def attempted: Int = samples.size
  def failedOps: Int = failed

  private def medians: Seq[Double] =
    Queries.map(q => Stats.median(samples.filter(_._1 == q).map(_._2).toSeq))

  def endToEnd: Map[String, Double] = Map(
    "latency_s" -> Stats.geomean(medians),
    "cpu_s_per_op" -> cpuNs / 1e9 / samples.size)

  def summary: Map[String, Double] = Map(
    "analytics_total_s" -> medians.sum,
    "analytics_geomean_s" -> Stats.geomean(medians),
    "queries_per_s" -> samples.size / (timedNs / 1e9),
    "passes" -> (samples.size / Queries.size).toDouble) ++
    Queries.zip(medians).map { case (q, m) => s"$q.median_s" -> m }

  /** Sums over one pass of the per-query medians. */
  def layers(billed: Seq[Tracer.Billed]): Map[String, Double] = {
    val quantities = Seq("wall_s", "plan_s", "jobs", "gap_s", "exec_run_s",
      "exec_cpu_s", "gc_s", "tasks", "shuffle_write_mb", "shuffle_read_mb",
      "spill_mb", "input_mb")
    val perPass = quantities.map { q =>
      q -> Queries.map(name => Stats.median(
        billed.filter(_.span.name == name).map(b => Stats.value(b, q)))).sum
    }.toMap
    val cores = Runtime.getRuntime.availableProcessors()
    (perPass - "wall_s").map { case (q, v) => s"queries.$q" -> v } ++ Map(
      "queries.busy_share" -> perPass("exec_run_s") / (perPass("wall_s") * cores))
  }

  def release(): Unit = samples.clear()
}

object Analytics {
  /** One query per operator family — relational join, text,
    * similarity, streaming — chosen so that three whole passes fit in a
    * run: a full evaluation (70 runs) must finish within 3420 s, and
    * the 16-query list takes ~38 s per pass on four cores
    * (q63_recursive_cte alone ~9 s). */
  val Queries: Seq[String] = Seq("q04_star_join", "t13_repetition",
    "s09_ivf_trained", "st01_stream_tumbling")
  val WarmQuery = "q04_star_join"
  /** A per-query median of two samples is their mean, and over ten
    * seeds the runs that fitted only two passes into their seconds read
    * ~20% slower than those that fitted three; with three or more, each
    * median passes over one slow sample. */
  val MinPasses = 3
}
