package graft

/** Dev-only micro-probe: time one registered query N times in a warm
  * session (SPARK_GRAFT_PROBE=name[,name...], SPARK_GRAFT_SF_DIR,
  * SPARK_GRAFT_PROBE_N). Bench's min-of-two can hide warm-path
  * regressions; this prints every iteration. Dev-only, so it lives in
  * test scope: `sbt "Test/runMain graft.Probe"`. */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = sys.env.getOrElse("SPARK_GRAFT_PROBE", "q01_pricing_summary")
      .split(",").toSeq
    val n = sys.env.getOrElse("SPARK_GRAFT_PROBE_N", "4").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val builder = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
    // Streaming probes at 100× emit through a memory sink whose collect
    // trips the 1g default — opt IN to the unlimited override for those
    // runs only (SPARK_GRAFT_UNBOUNDED_RESULT=1); batch probes keep the
    // driver-OOM safeguard.
    if (sys.env.contains("SPARK_GRAFT_UNBOUNDED_RESULT"))
      builder.config("spark.driver.maxResultSize", "0")
    // SPARK_GRAFT_STREAM_LISTENER=graft.StateMetricsListener attaches
    // per-micro-batch state telemetry; cloned state sessions inherit it.
    sys.env.get("SPARK_GRAFT_STREAM_LISTENER").foreach(l =>
      builder.config("spark.sql.streaming.streamingQueryListeners", l))
    // SPARK_GRAFT_CONF="k=v;k=v" — arbitrary conf overrides for split/
    // shuffle-granularity experiments (e.g. spark.sql.files.openCostInBytes
    // when probing scan-split counts on compact single-file fixtures).
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      builder.config(k.trim, v.trim)
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // `ALL_BEFORE:<name>` expands to every registered query that runs
    // BEFORE <name> in Bench's iteration order (SparkEntry.queries map
    // order) — the session-pollution bisect tool: an in-suite-only
    // regression reproduces as `ALL_BEFORE:q,q` and bisects by slicing
    // the prefix with SPARK_GRAFT_PREFIX_SLICE=start:end (indices into
    // the expanded prefix; half-open).
    val slice = sys.env.get("SPARK_GRAFT_PREFIX_SLICE").map { s =>
      val Array(a, b) = s.split(":", 2); (a.toInt, b.toInt)
    }
    val order = SparkEntry.queries.keys.toSeq
    val expanded = names.flatMap {
      case s if s.startsWith("ALL_BEFORE:") =>
        val target = s.stripPrefix("ALL_BEFORE:")
        // a misspelled target would silently expand to the WHOLE suite
        // (takeWhile never matches) and corrupt the bisect; the one
        // deliberate full-suite spelling is documented as ALL_BEFORE:*
        require(target == "*" || order.contains(target),
          s"ALL_BEFORE target '$target' is not a registered query " +
          "(use ALL_BEFORE:* for the full suite)")
        val prefix = order.takeWhile(_ != target)
        slice.map { case (a, b) => prefix.slice(a, b) }.getOrElse(prefix)
      case s => Seq(s)
    }
    expanded.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to n).foreach { i =>
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case t: Throwable =>
          println(s"[probe] $name iter $i FAILED: ${t.getMessage}") }
        println(f"[probe] $name iter $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
    }
    spark.stop()
  }
}

/** Dev-only probe for the tokenizer-apply scale question (SCALE.md
  * round 7): K synthetic merges applied over the documents table via
  * (a) t17's literal-fusion shape — K nested replace expression nodes —
  * vs (b) t24's broadcast merge-relation + one aggregate() fold.
  * Prints per-(mode, K) plan-build time and end-to-end wall so the
  * codegen/analysis blowup of the literal chain is measured, not
  * asserted. SPARK_GRAFT_BPEK=10,1000,4000; SPARK_GRAFT_BPEK_MODES to
  * restrict (the literal side at large K may take minutes — run it
  * last). */
object ProbeBpeK {
  def main(args: Array[String]): Unit = {
    import org.apache.spark.sql.functions._
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val ks = sys.env.getOrElse("SPARK_GRAFT_BPEK", "10,1000,4000")
      .split(",").toSeq.map(_.trim.toInt)
    val modes = sys.env.getOrElse("SPARK_GRAFT_BPEK_MODES", "broadcast,literal")
      .split(",").toSeq.map(_.trim)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sess = spark; import sess.implicits._
    val docs = sources.Tables.documents(spark, sfDir)
    val enc0 = expr(
      """array_join(transform(split(text, ' '),
        |  w -> '~' || array_join(filter(split(w, ''), x -> x <> ''), '~~')
        |       || '~'), ' ')""".stripMargin)
    for (k <- ks; mode <- modes) {
      // synthetic vocabulary: patterns that never occur, so both modes
      // pay the same per-row scan work and the measured delta is pure
      // plan/codegen cost.
      val merges = (1 to k).map(i => (i, s"zq${i}a", s"zq${i}b"))
      val t0 = System.nanoTime()
      // Column -> Expression conversion is eager in Dataset.agg, so even
      // df CONSTRUCTION can die at large K on the literal path - keep
      // it inside the measured try.
      val planned: Either[String, org.apache.spark.sql.DataFrame] = try {
        val df = mode match {
        case "literal" =>
          val enc = merges.foldLeft(enc0) { case (c, (_, l, r)) =>
            replace(c, lit("~" + l + "~~" + r + "~"), lit("~" + l + r + "~"))
          }
          docs.agg(sum(length(enc)).as("n"))
        case "broadcast" =>
          val marr = merges
            .map { case (st, l, r) => (st, s"~$l~~$r~\u0001~$l$r~") }
            .toDF("step", "m").groupBy()
            .agg(expr(
              "transform(array_sort(collect_list(struct(step, m))), x -> x.m)")
              .as("marr"))
          docs.crossJoin(broadcast(marr))
            .withColumn("enc0", enc0)
            .withColumn("enc", expr(
              "aggregate(marr, enc0, (acc, m) -> " +
                "replace(acc, split_part(m, chr(1), 1), split_part(m, chr(1), 2)))"))
            .agg(sum(length(col("enc"))).as("n"))
        }
        df.queryExecution.executedPlan // force analysis + physical planning
        Right(df)
      } catch { case e: Throwable => Left(e.getClass.getSimpleName) }
      val tPlan = (System.nanoTime() - t0) / 1e9
      val res = planned.fold("ERROR:" + _, df =>
        try df.head().getLong(0).toString
        catch { case e: Throwable => s"ERROR:${e.getClass.getSimpleName}" })
      val tAll = (System.nanoTime() - t0) / 1e9
      println(f"[bpek] mode=$mode%-9s K=$k%-5d plan=$tPlan%8.2f s total=$tAll%8.2f s sum_len=$res")
    }
    spark.stop()
  }
}
