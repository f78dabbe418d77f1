package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.load.WarehouseLoad
import graft.schema.Schemas

/** The commit-log streaming source (graft.streaming.CommitLogStream):
  * version offsets, per-commit added-batch delivery, the rewrite
  * fail/skip contract, restart-from-checkpoint exactly-once, and the
  * pinned-schema conform across a SchemaDrift evolution.
  */
class CommitLogStreamSpec extends SparkSpec {
  private val provider = classOf[graft.streaming.CommitLogStreamProvider].getName

  private def writeStaged(staging: String, name: String, rows: String*): Unit =
    Files.writeString(Paths.get(staging, name), rows.mkString("", "\n", "\n"))

  private def startStream(staging: String, wh: String, hist: String,
      ckpt: String, sink: String, skipRewrites: Boolean,
      schema: StructType = Schemas.customers) = {
    spark.readStream.format(provider)
      .schema(schema)
      .option("warehouseDir", wh).option("historyDir", hist)
      .option("skipRewrites", skipRewrites.toString)
      .load()
      .writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .start()
  }

  private def sinkIds(sink: String): Seq[Long] =
    spark.table(sink).select("customerid").collect()
      .map(_.getLong(0)).sorted.toSeq

  test("delivers each commit's added batches exactly once, batch-tagged") {
    val staging = tmpDir("graft-clstage-")
    val wh = tmpDir("graft-clwh-") + "/t"
    val hist = tmpDir("graft-clhist-") + "/h"
    val ckpt = tmpDir("graft-clckpt-") + "/cp"
    writeStaged(staging, "f1.json", """{"CustomerID": "1", "FirstName": "a"}""")
    WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers, wh, hist)
    val q = startStream(staging, wh, hist, ckpt, "cl_sink1",
      skipRewrites = false)
    try {
      q.processAllAvailable()
      assert(sinkIds("cl_sink1") == Seq(1L))
      writeStaged(staging, "f2.json",
        """{"CustomerID": "2", "FirstName": "b"}""",
        """{"CustomerID": "3", "FirstName": "c"}""")
      WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers, wh, hist)
      q.processAllAvailable()
      assert(sinkIds("cl_sink1") == Seq(1L, 2L, 3L),
        "second commit must deliver only its added batch")
      val batches = spark.table("cl_sink1").select("_graft_batch")
        .distinct().count()
      assert(batches == 2, "rows must be tagged with their batch id")
    } finally q.stop()
  }

  test("fails on a rewrite commit by default; the cause names the contract") {
    val staging = tmpDir("graft-clstage-")
    val wh = tmpDir("graft-clwh-") + "/t"
    val hist = tmpDir("graft-clhist-") + "/h"
    val ckpt = tmpDir("graft-clckpt-") + "/cp"
    writeStaged(staging, "f1.json", """{"CustomerID": "1", "FirstName": "a"}""")
    WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers, wh, hist)
    writeStaged(staging, "f2.json", """{"CustomerID": "2", "FirstName": "b"}""")
    WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers, wh, hist)
    val q = startStream(staging, wh, hist, ckpt, "cl_sink2",
      skipRewrites = false)
    try {
      q.processAllAvailable()
      assert(sinkIds("cl_sink2") == Seq(1L, 2L))
      WarehouseLoad.compactCommitted(spark, wh, hist)
      val e = intercept[StreamingQueryException] { q.processAllAvailable() }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(e).exists(_.isInstanceOf[WarehouseLoad.RewriteException]),
        s"expected a RewriteException cause, got: $e")
    } finally q.stop()
  }

  test("skipRewrites passes over a compaction whole; restart resumes exactly-once") {
    val staging = tmpDir("graft-clstage-")
    val wh = tmpDir("graft-clwh-") + "/t"
    val hist = tmpDir("graft-clhist-") + "/h"
    val ckpt = tmpDir("graft-clckpt-") + "/cp"
    // a FILE sink (the production shape): unlike the memory sink it
    // supports checkpoint recovery, which is the point of this test
    val outDir = tmpDir("graft-clout-") + "/out"
    def startFileSink() = spark.readStream.format(provider)
      .schema(Schemas.customers)
      .option("warehouseDir", wh).option("historyDir", hist)
      .option("skipRewrites", "true")
      .load()
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .start()
    def outIds(): Seq[Long] = spark.read.parquet(outDir)
      .select("customerid").collect().map(_.getLong(0)).sorted.toSeq

    writeStaged(staging, "f1.json", """{"CustomerID": "1", "FirstName": "a"}""")
    WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers, wh, hist)
    val q1 = startFileSink()
    try {
      q1.processAllAvailable()
      assert(outIds() == Seq(1L))
    } finally q1.stop()
    // while the consumer is DOWN: another append, then a compaction
    writeStaged(staging, "f2.json", """{"CustomerID": "2", "FirstName": "b"}""")
    WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers, wh, hist)
    WarehouseLoad.compactCommitted(spark, wh, hist)
    // restart from the checkpoint: the missed append arrives, the
    // compaction's folded batch does NOT re-deliver row 1
    val q2 = startFileSink()
    try {
      q2.processAllAvailable()
      assert(outIds() == Seq(1L, 2L),
        "restart must deliver exactly the missed append, never the " +
        "compaction's folded batch")
      writeStaged(staging, "f3.json", """{"CustomerID": "3", "FirstName": "c"}""")
      WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers, wh, hist)
      q2.processAllAvailable()
      assert(outIds() == Seq(1L, 2L, 3L),
        "the stream must keep consuming appends after a skipped rewrite")
    } finally q2.stop()
  }

  test("pinned schema conforms evolved batches; evolved column waits for restart") {
    val staging = tmpDir("graft-clstage-")
    val wh = tmpDir("graft-clwh-") + "/t"
    val hist = tmpDir("graft-clhist-") + "/h"
    val ckpt = tmpDir("graft-clckpt-") + "/cp"
    writeStaged(staging, "f1.json", """{"CustomerID": "1", "FirstName": "a"}""")
    WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers, wh, hist)
    val q = startStream(staging, wh, hist, ckpt, "cl_sink4",
      skipRewrites = true)
    try {
      q.processAllAvailable()
      // the upstream evolves: a new key arrives and the load uses the
      // evolved DDL — the RUNNING stream (schema pinned at start) must
      // keep consuming, conforming the wider batch to its schema
      writeStaged(staging, "f2.json",
        """{"CustomerID": "2", "FirstName": "b", "LoyaltyTier": "gold"}""")
      val evolved = graft.schema.SchemaDrift.evolve(
        spark, staging, Schemas.customers)
      WarehouseLoad.batchIdempotent(spark, staging, evolved, wh, hist)
      q.processAllAvailable()
      assert(sinkIds("cl_sink4") == Seq(1L, 2L))
      assert(!spark.table("cl_sink4").columns
        .exists(_.equalsIgnoreCase("LoyaltyTier")))
    } finally q.stop()
    // a FRESH consumer declaring the evolved schema surfaces the
    // column — and pre-evolution batches deliver it as null
    val evolvedDecl = StructType(Schemas.customers.fields.toSeq :+
      StructField("LoyaltyTier", StringType, nullable = true))
    writeStaged(staging, "f3.json",
      """{"CustomerID": "3", "FirstName": "c", "LoyaltyTier": "iron"}""")
    val evolved2 = graft.schema.SchemaDrift.evolve(
      spark, staging, Schemas.customers)
    WarehouseLoad.batchIdempotent(spark, staging, evolved2, wh, hist)
    val q2 = startStream(staging, wh, hist,
      tmpDir("graft-clckpt2-") + "/cp", "cl_sink4b",
      skipRewrites = true, schema = evolvedDecl)
    try {
      q2.processAllAvailable()
      val got = spark.table("cl_sink4b")
        .select("customerid", "LoyaltyTier").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(got == Map(1L -> None, 2L -> Some("gold"), 3L -> Some("iron")))
    } finally q2.stop()
  }

  test("commit-log SINK commits one idempotent batch per epoch, zone-mapped") {
    val in = tmpDir("graft-sinkin-")
    val wh = tmpDir("graft-sinkwh-") + "/t"
    val hist = tmpDir("graft-sinkhist-") + "/h"
    val ckpt = tmpDir("graft-sinkckpt-") + "/cp"
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("tag", StringType)))
    Files.writeString(Paths.get(in, "f1.json"), """{"id": 1, "tag": "a"}""" + "\n")
    val q = spark.readStream.schema(schema).json(in)
      .writeStream.format(provider)
      .option("warehouseDir", wh).option("historyDir", hist)
      .option("sinkId", "s1")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      Files.writeString(Paths.get(in, "f2.json"),
        """{"id": 50, "tag": "b"}""" + "\n")
      q.processAllAvailable()
    } finally q.stop()
    def ids() = WarehouseLoad.readWarehouse(spark, wh, hist).get
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids() == Seq(1L, 50L))
    assert(WarehouseLoad.committedBatches(spark, hist) ==
      Seq("s1-0", "s1-1"), "one epoch-deterministic id per batch")
    assert(WarehouseLoad.currentVersion(spark, hist) == 2)
    // the sink's write job recorded zone maps: a range probe skips the
    // non-overlapping epoch batch
    val probe = WarehouseLoad.readWarehouse(spark, wh, hist).get
      .filter(org.apache.spark.sql.functions.col("id").between(40, 60))
    val planned =
      fsRelations(probe).flatMap(_.location.rootPaths.map(_.getName))
    assert(planned == Seq("bs1-1"))
    // the DEFAULT sinkId is lineage-scoped (derived from the
    // checkpoint path): a new query with a fresh checkpoint must not
    // collide with another lineage's epoch 0 and silently drop data
    val defA = new graft.streaming.CommitLogSink(spark,
      Map("warehouseDir" -> wh, "historyDir" -> hist,
        "checkpointLocation" -> "/tmp/cpA"), Nil)
    val defB = new graft.streaming.CommitLogSink(spark,
      Map("warehouseDir" -> wh, "historyDir" -> hist,
        "checkpointLocation" -> "/tmp/cpB"), Nil)
    assert(defA.toString != defB.toString,
      "distinct checkpoint lineages must get disjoint epoch namespaces")
    // a replayed epoch (the crash-recovery path) is a pure no-op
    import spark.implicits._
    val sink = new graft.streaming.CommitLogSink(spark,
      Map("warehouseDir" -> wh, "historyDir" -> hist,
        "sinkId" -> "s1"), Nil)
    sink.addBatch(1, Seq((99L, "dup")).toDF("id", "tag"))
    assert(WarehouseLoad.currentVersion(spark, hist) == 2,
      "epoch replay must not commit a second time")
    assert(ids() == Seq(1L, 50L))
    // streamed-in batches are ordinary commits downstream: the change
    // feed reads them, batch-tagged
    val feed = WarehouseLoad.changes(spark, wh, hist, 0, 2).get
    assert(feed.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 50L))
  }

  test("maxVersionsPerTrigger drains a backlog as bounded micro-batches, exactly-once across a mid-drain restart") {
    val staging = tmpDir("graft-cladm-")
    val wh = tmpDir("graft-cladmwh-") + "/t"
    val hist = tmpDir("graft-cladmhist-") + "/h"
    val ckpt = tmpDir("graft-cladmckpt-") + "/cp"
    val outDir = tmpDir("graft-cladmout-") + "/out"
    // 5 commits land while the consumer is DOWN — the long-downtime
    // backlog the admission bound exists for (VERDICT r12 #1)
    (1 to 5).foreach { i =>
      writeStaged(staging, s"f$i.json",
        s"""{"CustomerID": "$i", "FirstName": "x$i"}""")
      WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers,
        wh, hist)
    }
    assert(WarehouseLoad.currentVersion(spark, hist) == 5)
    def start(trigger: Option[org.apache.spark.sql.streaming.Trigger]) = {
      val w = spark.readStream.format(provider)
        .schema(Schemas.customers)
        .option("warehouseDir", wh).option("historyDir", hist)
        .option("maxVersionsPerTrigger", "2")
        .load()
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
      trigger.foreach(w.trigger)
      w.start()
    }
    // epochs = entries in the engine's offset log (one per micro-batch)
    def epochs(): Int = {
      val p = Paths.get(ckpt, "offsets")
      if (!Files.exists(p)) 0
      else Files.list(p).filter(f =>
        f.getFileName.toString.forall(_.isDigit)).count().toInt
    }
    def outIds(): Seq[Long] = spark.read.parquet(outDir)
      .select("customerid").collect().map(_.getLong(0)).sorted.toSeq

    // drain ONE bounded micro-batch, then stop — a mid-drain shutdown
    // with 3 versions of lag still pending
    val q1 = start(Some(org.apache.spark.sql.streaming.Trigger.Once()))
    try q1.awaitTermination() finally q1.stop()
    assert(epochs() == 1)
    assert(outIds() == Seq(1L, 2L),
      "first micro-batch must span exactly maxVersionsPerTrigger commits")
    // restart from the checkpoint: the remaining lag drains as 2 more
    // bounded batches — (2,4] then (4,5] — with no row doubled or lost
    val q2 = start(None)
    try {
      q2.processAllAvailable()
      assert(outIds() == Seq(1L, 2L, 3L, 4L, 5L),
        "mid-drain restart must resume exactly-once")
      assert(epochs() == 3,
        s"5 commits at maxVersionsPerTrigger=2 must drain as 3 " +
        s"micro-batches, got ${epochs()}")
      // caught up: a 6th commit arrives and delivers promptly
      writeStaged(staging, "f6.json",
        """{"CustomerID": "6", "FirstName": "x6"}""")
      WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers,
        wh, hist)
      q2.processAllAvailable()
      assert(outIds() == Seq(1L, 2L, 3L, 4L, 5L, 6L))
    } finally q2.stop()
    // the span metric: every planned batch's version span is recorded
    // in the source's checkpoint metadata (VERDICT r13 #6) — 4 batches
    // (0,2] (2,4] (4,5] (5,6], each within 2×maxVersionsPerTrigger
    // (the documented recovery ceiling), the backlog ones at exactly
    // the bound
    val spans = Files.readString(
        Paths.get(ckpt, "sources", "0", "graft-admission-spans"))
      .linesIterator.map(_.split(" ").map(_.toLong)).toSeq
    assert(spans.map(_(0)) == Seq(2L, 4L, 5L, 6L),
      s"span log ends: ${spans.map(_.toSeq)}")
    assert(spans.map(_(1)) == Seq(2L, 2L, 1L, 1L),
      s"span log spans: ${spans.map(_.toSeq)}")
    assert(spans.forall(_(1) <= 4L))
  }

  test("maxBytesPerTrigger drains a backlog as byte-bounded micro-batches") {
    val staging = tmpDir("graft-clbadm-")
    val wh = tmpDir("graft-clbadmwh-") + "/t"
    val hist = tmpDir("graft-clbadmhist-") + "/h"
    val ckpt = tmpDir("graft-clbadmckpt-") + "/cp"
    // 4 similarly-sized commits land while the consumer is down; the
    // byte budget is set to exactly the first two batches' recorded
    // sizes, so the backlog must drain as (0,2] then (2,4]
    (1 to 4).foreach { i =>
      writeStaged(staging, s"f$i.json",
        s"""{"CustomerID": "$i", "FirstName": "x$i"}""")
      WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers,
        wh, hist)
    }
    val sizes = WarehouseLoad.committedBatches(spark, hist)
      .map(id => WarehouseLoad.batchBytes(spark, hist, id).get)
    // two batches fit, three never do (sizes are near-equal, so
    // 2·max >= any pair and < any triple)
    val cap = 2 * sizes.max
    assert(sizes.min > 0, "fixture batches must have recorded bytes")
    assert(3 * sizes.min > cap, "fixture sizes drifted beyond the 1.5x " +
      "band the two-per-window cap depends on")
    val q = spark.readStream.format(provider)
      .schema(Schemas.customers)
      .option("warehouseDir", wh).option("historyDir", hist)
      .option("maxBytesPerTrigger", cap.toString)
      .load()
      .writeStream.format("memory").queryName("cl_badm")
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      assert(sinkIds("cl_badm") == Seq(1L, 2L, 3L, 4L),
        "byte-bounded drain must still deliver everything exactly once")
    } finally q.stop()
    // the span log proves the window shape: two 2-version batches
    val spans = Files.readString(
        Paths.get(ckpt, "sources", "0", "graft-admission-spans"))
      .linesIterator.map(_.split(" ").map(_.toLong)).toSeq
    assert(spans.map(_.toSeq) == Seq(Seq(2L, 2L), Seq(4L, 2L)),
      s"expected (0,2] then (2,4], got: ${spans.map(_.toSeq)}")
  }

  test("a consumer filter zone-prunes whole batch roots inside micro-batch plans") {
    val staging = tmpDir("graft-clstage-")
    val wh = tmpDir("graft-clwh-") + "/t"
    val hist = tmpDir("graft-clhist-") + "/h"
    val ckpt = tmpDir("graft-clckpt-") + "/cp"
    // two ZONE-DISJOINT commits before the stream starts, so the first
    // micro-batch window spans both and plans two batch roots
    writeStaged(staging, "lo.json",
      """{"CustomerID": "1", "FirstName": "a"}""",
      """{"CustomerID": "2", "FirstName": "b"}""")
    WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers, wh, hist)
    writeStaged(staging, "hi.json",
      """{"CustomerID": "10", "FirstName": "c"}""",
      """{"CustomerID": "11", "FirstName": "d"}""")
    WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers, wh, hist)
    // the consumer's own filter — IncrementalExecution runs the session
    // optimizer, so ZonePrune (registered by the source's getBatch)
    // must drop the lo batch's root from the micro-batch plan: an
    // index maintainer consuming one key range skips the others'
    // epochs at metadata cost, no scan task ever scheduled
    val q = spark.readStream.format(provider)
      .schema(Schemas.customers)
      .option("warehouseDir", wh).option("historyDir", hist)
      .load()
      .filter(org.apache.spark.sql.functions.col("customerid") >= 10)
      .writeStream.format("memory").queryName("cl_zp")
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      assert(sinkIds("cl_zp") == Seq(10L, 11L))
      val plan = org.apache.spark.sql.graftshim.GraftSqlShims
        .lastExecutedPlan(q)
      val scannedRoots = plan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.rootPaths.size
      }.sum
      assert(scannedRoots == 1,
        s"the lo batch root must leave the micro-batch plan:\n$plan")
    } finally q.stop()
  }

  test("a consumer filter prunes FILES inside an admitted batch's micro-batch plan (r16 file tier)") {
    // The per-file stats tier composes with the streaming source for
    // free: the micro-batch plan is a Filter over a ManifestFileIndex
    // relation, exactly what ZonePrune's file rewrite matches — a
    // range-scoped consumer never schedules a scan task for the other
    // shards' FILES even when they share one commit.
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val wh = tmpDir("graft-clfzwh-") + "/t"
    val hist = tmpDir("graft-clfzhist-") + "/h"
    val ckpt = tmpDir("graft-clfzckpt-") + "/cp"
    // ONE commit, 4 files with disjoint key ranges
    WarehouseLoad.commitStreamedBatch(spark,
      spark.range(400).select(col("id").as("customerid"),
        (col("id") % 7).cast("string").as("firstname"))
        .repartitionByRange(4, col("customerid"))
        .sortWithinPartitions("customerid").toDF(),
      wh, hist, "clfz")
    val q = spark.readStream.format(provider)
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("customerid",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("firstname",
          org.apache.spark.sql.types.StringType))))
      .option("warehouseDir", wh).option("historyDir", hist)
      .load()
      .filter(col("customerid") >= 150 && col("customerid") <= 160)
      .writeStream.format("memory").queryName("cl_fz")
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("cl_fz").count() == 11L)
      val plan = org.apache.spark.sql.graftshim.GraftSqlShims
        .lastExecutedPlan(q)
      val scannedFiles = plan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.inputFiles.length
      }.sum
      assert(scannedFiles == 1,
        s"3 of the commit's 4 files must leave the micro-batch plan:\n$plan")
    } finally q.stop()
  }

  test("schema inference requires a first commit; version pruning demands resync") {
    val staging = tmpDir("graft-clstage-")
    val wh = tmpDir("graft-clwh-") + "/t"
    val hist = tmpDir("graft-clhist-") + "/h"
    val e = intercept[IllegalStateException] {
      graft.streaming.CommitLogSource.resolveSchema(spark, None,
        Map("warehouseDir" -> wh, "historyDir" -> hist))
    }
    assert(e.getMessage.contains("first commit"))
    // after a commit, inference matches the committed relation + tag
    writeStaged(staging, "f1.json", """{"CustomerID": "1", "FirstName": "a"}""")
    WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers, wh, hist)
    val inferred = graft.streaming.CommitLogSource.resolveSchema(spark, None,
      Map("warehouseDir" -> wh, "historyDir" -> hist))
    assert(inferred.fieldNames.last == "_graft_batch")
    assert(inferred.fieldNames.map(_.toLowerCase).contains("customerid"))
  }

  test("an array column whose batches record different null flags streams through") {
    // array(...) records non-null elements, a JSON target nullable ones;
    // the stream pinned on the first batch must conform the second
    import org.apache.spark.sql.functions.{array, col, lit}
    import org.apache.spark.sql.types.ArrayType
    val staging = tmpDir("graft-clnnstage-")
    val wh = tmpDir("graft-clnnwh-") + "/t"
    val hist = tmpDir("graft-clnnhist-") + "/h"
    val ckpt = tmpDir("graft-clnnckpt-") + "/cp"
    WarehouseLoad.commitStreamedBatch(spark,
      spark.range(0, 5).select(col("id").as("k"),
        array(col("id"), lit(1L)).as("xs")), wh, hist, "epoch-0")
    val q = spark.readStream.format(provider)
      .option("warehouseDir", wh).option("historyDir", hist).load()
      .writeStream.format("memory").queryName("cl_sink_nn")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      writeStaged(staging, "f.json",
        (5 until 10).map(i => s"""{"k": "$i", "xs": [$i, 2]}"""): _*)
      WarehouseLoad.batchIdempotent(spark, staging,
        StructType(Seq(StructField("k", LongType),
          StructField("xs", ArrayType(LongType)))), wh, hist)
      q.processAllAvailable()
      val out = spark.table("cl_sink_nn")
      assert(out.count() == 10L)
      assert(out.filter(col("k") === 7L).select("xs").collect()
        .map(_.getSeq[Long](0)).toSeq == Seq(Seq(7L, 2L)))
    } finally q.stop()
  }
}
