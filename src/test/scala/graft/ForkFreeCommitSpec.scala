package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileContext, FileSystem}
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}

import graft.load.{NioLocalFileSystem, NioLocalFs, WarehouseLoad}

/** Regression guard for the fork-free `file:` filesystem: every
  * commit-log writer and a checkpointed streaming epoch run with a JFR
  * recording of `jdk.ProcessStart`, and none may start an OS process.
  * Hadoop's stock local filesystem, without `libhadoop`, starts dozens
  * per commit (`chmod`, `readlink`, `ls`). */
class ForkFreeCommitSpec extends SparkSpec {
  test("commit-log writers and a streaming epoch start no OS process") {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), conf).getClass ==
      classOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(URI.create("file:///"), conf)
      .getDefaultFileSystem.getClass == classOf[NioLocalFs])

    val target = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    val staging = tmpDir("graft-forkstage-")
    val wh = tmpDir("graft-forkwh-") + "/t"
    val hist = tmpDir("graft-forkhist-") + "/h"
    def stage(name: String, ids: Range): Unit =
      Files.writeString(Paths.get(staging, name),
        ids.map(i => s"""{"id": "$i", "v": "a$i"}""").mkString("", "\n", "\n"))
    // One-time process starts belong to the JVM, not to a commit: warm
    // up first. Hadoop's Shell probes `setsid` when its class loads, and
    // the executor heartbeat's process-tree metrics run `getconf
    // PAGESIZE` in their first beat (here, before the recording).
    stage("f0.json", 1 to 5)
    WarehouseLoad.batchIdempotent(spark, staging, target, wh, hist)
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")

    val in = tmpDir("graft-forkin-")
    val ckpt = tmpDir("graft-forkckpt-") + "/cp"
    Files.writeString(Paths.get(in, "s1.json"),
      """{"id": 100, "v": "streamed"}""" + "\n")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try {
      stage("f1.json", 6 to 10)
      WarehouseLoad.batchIdempotent(spark, staging, target, wh, hist)
      WarehouseLoad.mergeCommitted(spark, wh, hist,
        Seq((1L, "merged"), (50L, "inserted")).toDF("id", "v"), Seq("id"))
      WarehouseLoad.takedownVectorized(spark, wh, hist, Seq(2L).toDF("id"),
        Seq("id"))
      WarehouseLoad.takedownCommitted(spark, wh, hist, Seq(3L).toDF("id"),
        Seq("id"))
      WarehouseLoad.compactCommitted(spark, wh, hist)
      // the version before the compaction holds the same rows
      WarehouseLoad.restoreWarehouse(spark, wh, hist,
        WarehouseLoad.currentVersion(spark, hist) - 1)
      WarehouseLoad.vacuum(spark, wh, hist)
      val q = spark.readStream.schema(target).json(in)
        .writeStream.format("graft.streaming.CommitLogStreamProvider")
        .option("warehouseDir", wh).option("historyDir", hist)
        .option("sinkId", "fork").option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    } finally rec.stop()
    val dump = Files.createTempFile("graft-fork-", ".jfr")
    rec.dump(dump)
    rec.close()
    val starts = RecordingFile.readAllEvents(dump).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
    Files.delete(dump)
    assert(starts.isEmpty, starts.map { e =>
      e.getString("command") + " at " + Option(e.getStackTrace)
        .map(_.getFrames.asScala.take(12).map(f =>
          f.getMethod.getType.getName + "." + f.getMethod.getName)
          .mkString(" < ")).getOrElse("?")
    }.mkString(s"${starts.size} process starts:\n", "\n", ""))
    // the workload ran: every writer committed, the epoch included
    val ids = WarehouseLoad.readWarehouse(spark, wh, hist).get
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids == ((1L to 10L).filterNot(Set(2L, 3L)) :+ 50L :+ 100L))
  }
}
