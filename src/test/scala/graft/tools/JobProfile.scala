package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.SparkEntry

/** Dev-only wall-time attribution for ONE registered query: records
  * every Spark job's [start, end] window plus per-stage task counts and
  * executor time, and prints (a) the job timeline with the DRIVER GAPS
  * between consecutive jobs and (b) the top stages by executor time.
  *
  * The lifecycle queries (q79–q99, st24–st26) show wall ≫ Σ executor
  * time at local[32]; this tool answers where the driver wall goes —
  * which call site owns each inter-job gap (planning? fs metadata?
  * footer reads? CAS commits?) — so optimization targets the measured
  * cost, not a guess (guide §1.1, §7.3).
  *
  * Usage: SPARK_GRAFT_PROBE=q84_zone_prune SPARK_GRAFT_SF_DIR=... \
  *   SPARK_GRAFT_CPUS=32 sbt "Test/runMain graft.tools.JobProfile"
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val names = sys.env.getOrElse("SPARK_GRAFT_PROBE", "q84_zone_prune")
      .split(",").toSeq
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    final case class Job(id: Int, var desc: String, start: Long, var end: Long)
    val jobs = mutable.ArrayBuffer.empty[Job]
    val byId = mutable.HashMap.empty[Int, Job]
    final case class Stage(id: Int, name: String, tasks: Int, execMs: Long)
    val stages = mutable.ArrayBuffer.empty[Stage]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        val d = e.stageInfos.lastOption.map(_.name).getOrElse("?")
        val j = Job(e.jobId, d, e.time, -1L)
        jobs += j; byId(e.jobId) = j
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        byId.get(e.jobId).foreach(_.end = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        synchronized {
          val i = e.stageInfo
          stages += Stage(i.stageId, i.name.take(90), i.numTasks,
            i.taskMetrics.executorRunTime)
        }
    }

    names.foreach { name =>
      // warm pass (JIT/codegen) — mirror Bench's warmup at sf0.001
      try SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
      org.apache.spark.graftshim.GraftCoreShims
        .waitListenerBusEmpty(spark.sparkContext)
      jobs.clear(); byId.clear(); stages.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e6
      org.apache.spark.graftshim.GraftCoreShims
        .waitListenerBusEmpty(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)

      println(s"===== $name  wall=${wall.toLong}ms =====")
      val sorted = jobs.sortBy(_.start).toSeq
      val base = sorted.headOption.map(_.start).getOrElse(0L)
      var prevEnd = base
      var gapSum = 0L
      var jobSum = 0L
      sorted.foreach { j =>
        val gap = j.start - prevEnd
        val dur = if (j.end > 0) j.end - j.start else -1
        if (gap > 0) gapSum += gap
        if (dur > 0) jobSum += dur
        println(f"  [job ${j.id}%4d] +${j.start - base}%6dms gap=$gap%5dms " +
          f"dur=$dur%5dms  ${j.desc.take(100)}")
        prevEnd = math.max(prevEnd, if (j.end > 0) j.end else j.start)
      }
      val tail = wall.toLong - (prevEnd - base)
      println(f"  jobs=${sorted.size} jobTime=${jobSum}ms interJobGaps=${gapSum}ms " +
        f"preFirstJob+tail=${wall.toLong - jobSum - gapSum}ms (tailAfterLastJob=${tail}ms)")
      println("  top stages by executor time:")
      stages.sortBy(-_.execMs).take(12).foreach { st =>
        println(f"    stage ${st.id}%4d exec=${st.execMs}%6dms tasks=${st.tasks}%4d  ${st.name}")
      }
    }
    spark.stop()
  }
}
