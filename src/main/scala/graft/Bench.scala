package graft
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.Locale

/** Benchmark main: times every registered query at the given sf and
  * prints one JSON line. Each query is executed through a `noop`-format
  * write, which consumes every output row and column — unlike count(),
  * which would let Catalyst prune projections and measure projection
  * queries as bare row-counting scans.
  *
  * Output contract (the driver snapshots only the LAST 2000 chars of
  * stdout and parses a JSON line out of it, with sbt's `[success]`
  * footer trailing):
  *   - the FINAL line printed is a GUARANTEED-FIT JSON rollup (~300
  *     chars): total seconds, per-FAMILY sums under "queries", query/
  *     error counts, first 3 error messages, and the $BENCH_OUT path —
  *     at 226 queries a per-query map is ~2.7k chars and can never fit
  *     the tail window (r13's artifact parsed as null), so the last
  *     line is the one sized to always parse;
  *   - the second-to-last line is the per-query compact map (registry-
  *     prefix keys, 2-decimal seconds) for log greppability;
  *   - the full-fidelity result (full query names, nanosecond-derived
  *     seconds, per-query error messages, task byte metrics) is
  *     written to the file named by $BENCH_OUT (default
  *     `bench_full.json` in the cwd);
  *   - a query that throws is recorded in an `"errors"` map instead of
  *     being silently timed as a success, and the process exits
  *     non-zero so a perf run cannot mistake a crash for a speedup.
  */
object Bench {
  private def jstr(s: String): String =
    // Blank every control character (U+0000–U+001F), not just the
    // common whitespace escapes — an exception message containing \b
    // or \f must not break the driver's JSON parse.
    "\"" + s.replaceAll("[\\\\\"\\p{Cntrl}]", " ") + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: run every query once at the smallest sf so each
    // timed number below is steady-state (JIT + whole-stage-codegen
    // compilation land here, not inside whichever query runs first —
    // per-plan compile cost is a fixed ~seconds that amortizes to zero
    // in any real-scale job).
    val warmDir = "/root/testdata/sf0.001"
    SparkEntry.queries.foreach { case (_, fn) =>
      try { fn(spark, warmDir).write.format("noop").mode("overwrite").save() }
      catch { case _: Throwable => () }
    }
    // A failed query is an error, not a timing: record the message and
    // keep rc non-zero. (Correctness is the oracle gate's job; this
    // guard only stops a crash from masquerading as a fast number.)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Per-query task-metric sums (input/shuffle/spill bytes) land in the
    // full-fidelity JSON only — the driver-parsed stdout line is
    // unchanged. Captured on the second (warm) pass; the bus flush at
    // each boundary pins every task to the query that ran it.
    val metricsListener = new BenchMetricsListener
    spark.sparkContext.addSparkListener(metricsListener)
    val qmetrics =
      scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Two timed passes, min per query: single-shot numbers on a shared
    // box swing up to 3× from scheduler/GC noise; the min of two runs is
    // the standard low-variance estimator of the plan's actual cost.
    def pass(recordMetrics: Boolean): Map[String, Double] =
      SparkEntry.queries.map { case (name, fn) =>
        // Collect garbage from the previous query so its GC debt
        // doesn't bill this one (per-iteration benchmark hygiene).
        System.gc()
        if (recordMetrics) {
          org.apache.spark.graftshim.GraftCoreShims
            .waitListenerBusEmpty(spark.sparkContext)
          metricsListener.reset()
        }
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        } catch {
          case t: Throwable =>
            errors(name) =
              Option(t.getMessage).getOrElse(t.getClass.getName).take(160)
        }
        val dt = (System.nanoTime() - t0) / 1e9
        if (recordMetrics) {
          org.apache.spark.graftshim.GraftCoreShims
            .waitListenerBusEmpty(spark.sparkContext)
          val (in, sr, sw, sm, sd) = metricsListener.snapshot()
          val (ex, nt) = metricsListener.execSnapshot()
          // wallMs is THIS pass's wall — the same pass execMs/tasks
          // came from. The top-level "queries" map is min-of-passes,
          // which must never be paired with pass-2 executor time
          // (r15 review #4).
          qmetrics(name) =
            s"""{"in":$in,"shufR":$sr,"shufW":$sw,"spillM":$sm,""" +
            s""""spillD":$sd,"execMs":$ex,"tasks":$nt,""" +
            s""""wallMs":${(dt * 1000).toLong}}"""
        }
        name -> dt
      }
    val p1 = pass(recordMetrics = false)
    val p2 = pass(recordMetrics = true)
    val results = p1.map { case (k, v) => k -> math.min(v, p2(k)) }
    val total = if (results.nonEmpty) results.values.sum else 0.0

    // `extra` fields are emitted INSIDE the object (after "errors") —
    // not spliced in by string surgery on the rendered output, which
    // silently corrupts the JSON the moment render's trailing shape
    // changes (ADVICE r11).
    def render(fmt: String => String, dec: Int,
               extra: Seq[(String, String)] = Nil): String = {
      val qs = results.toSeq.sortBy(_._1).map { case (k, v) =>
        jstr(fmt(k)) + ":" + String.format(Locale.ROOT, s"%.${dec}f", Double.box(v))
      }.mkString("{", ",", "}")
      val errs = errors.map { case (k, v) => jstr(fmt(k)) + ":" + jstr(v) }
        .mkString("{", ",", "}")
      val tot = String.format(Locale.ROOT, s"%.${dec}f", Double.box(total))
      val tail = extra.map { case (k, v) => s",${jstr(k)}:$v" }.mkString
      s"""{"metric":"total","value":$tot,"unit":"sec","queries":$qs,"sf":${jstr(sfDir)},"errors":$errs$tail}"""
    }

    // Registry prefixes (the token before the first underscore: q01,
    // d03, st06, ...) are unique by naming convention; fall back to the
    // full name if a future entry ever collides.
    val prefixed = results.keys.groupBy(_.split("_")(0))
    def short(name: String): String = {
      val p = name.split("_")(0)
      if (prefixed(p).size == 1) p else name
    }

    // Full-fidelity file additionally carries the per-query byte
    // metrics (warm pass) under "qmetrics"; the stdout line's schema is
    // the frozen driver contract and never grows keys.
    val metricsJson = qmetrics
      .map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    val fullJson = render(identity, 3, extra = Seq("qmetrics" -> metricsJson))
    val benchOut = sys.env.getOrElse("BENCH_OUT", "bench_full.json")
    try Files.write(Paths.get(benchOut), fullJson.getBytes(StandardCharsets.UTF_8))
    catch { case t: Throwable => System.err.println(s"bench: cannot write $benchOut: $t") }

    spark.stop()
    // Printed after spark.stop(), so no executor/shutdown logging can
    // trail them — only sbt's own short footer follows in the tail.
    // The per-query compact line first (greppable from the full log),
    // then a GUARANTEED-FIT family rollup as the very last line: at
    // 226 queries the per-query map is ~2.7k chars, which can never
    // fit the driver's ~2k-char stdout tail window regardless of
    // ordering (BENCH_r13's `parsed: null`), so the final line carries
    // family sums + counts + up to 3 errors (~300 chars) and points at
    // $BENCH_OUT for per-query numbers.
    println(render(short, 2))
    val famSums = results.toSeq
      .groupBy { case (k, _) => k.split("_")(0).takeWhile(!_.isDigit) }
      .toSeq.sortBy(_._1)
    val famJson = famSums.map { case (fam, qs) =>
      jstr(fam) + ":" + String.format(Locale.ROOT, "%.1f",
        Double.box(qs.map(_._2).sum))
    }.mkString("{", ",", "}")
    val errJson = errors.take(3)
      .map { case (k, v) => jstr(k) + ":" + jstr(v.take(60)) }
      .mkString("{", ",", "}")
    val totStr = String.format(Locale.ROOT, "%.2f", Double.box(total))
    println(s"""{"metric":"total","value":$totStr,"unit":"sec",""" +
      s""""queries":$famJson,"nqueries":${results.size},""" +
      s""""nerrors":${errors.size},"errors":$errJson,""" +
      s""""sf":${jstr(sfDir)},"full":${jstr(benchOut)}}""")
    if (errors.nonEmpty) sys.exit(1)
  }
}
