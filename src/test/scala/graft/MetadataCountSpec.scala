package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.{col, count, countDistinct, lit}
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}

import graft.load.WarehouseLoad

/** `count(*)` over a committed table answered from the commit log
  * ([[graft.plans.MetadataOnlyCount]]): for every writer kind the
  * metadata answer equals a forced scan (`rdd.count()`) and runs no
  * Spark job; every shape the rule must not answer still scans; and
  * `describeWarehouse`'s `n_rows` sums to the live count. */
class MetadataCountSpec extends SparkSpec {
  import spark.implicits._

  private val jobs = new AtomicInteger
  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
  })

  /** `body`'s result and the Spark jobs it started. */
  private def jobsOf[T](body: => T): (T, Int) = {
    org.apache.spark.graftshim.GraftCoreShims
      .waitListenerBusEmpty(spark.sparkContext)
    val before = jobs.get
    val out = body
    org.apache.spark.graftshim.GraftCoreShims
      .waitListenerBusEmpty(spark.sparkContext)
    (out, jobs.get - before)
  }

  private def answeredFromLog(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** The metadata count of `df`, asserted equal to a forced scan and
    * to `want`, with no Spark job. */
  private def metaCount(df: DataFrame, want: Long, what: String): Unit = {
    val counted = df.groupBy().count()
    assert(answeredFromLog(counted),
      s"$what: count(*) kept the scan\n${counted.queryExecution.optimizedPlan}")
    val (n, started) = jobsOf(df.count())
    assert(started == 0, s"$what: the metadata count ran $started job(s)")
    val scanned = df.rdd.count()
    assert(n == scanned && n == want,
      s"$what: metadata $n, scan $scanned, expected $want")
  }

  /** A count over `df` that must keep the scan, still exact. */
  private def scanCount(df: DataFrame, want: Long, what: String): Unit = {
    assert(!answeredFromLog(df), s"$what: answered from the log")
    val (rows, started) = jobsOf(df.collect())
    assert(started > 0, s"$what: no job ran")
    assert(rows.head.getLong(0) == want, s"$what: ${rows.head} vs $want")
  }

  private def describedRows(hist: String): Long =
    WarehouseLoad.describeWarehouse(spark, hist)
      .select("n_rows").as[Long].collect().sum

  test("metadata count equals a forced scan for every writer kind, with no job") {
    val wh = tmpDir("graft-mc-") + "/t"
    val hist = tmpDir("graft-mch-") + "/h"
    val staging = tmpDir("graft-mcs-")
    def read(): DataFrame = WarehouseLoad.readWarehouse(spark, wh, hist).get
    def rows(lo: Long, hi: Long): DataFrame =
      spark.range(lo, hi).select(col("id").as("k"),
        col("id").cast("string").as("v")).repartition(2).toDF()
    var live = Set.empty[Long]
    // version → live row count, for time travel after the writes
    val versions = scala.collection.mutable.LinkedHashMap.empty[Long, Int]
    def check(what: String): Unit = {
      metaCount(read(), live.size.toLong, what)
      assert(describedRows(hist) == live.size.toLong, s"$what: describe")
      versions(WarehouseLoad.currentVersion(spark, hist)) = live.size
    }

    // streamed epochs and an idempotent load
    WarehouseLoad.commitStreamedBatch(spark, rows(0, 100), wh, hist, "A")
    live ++= 0L until 100L; check("streamed epoch")
    WarehouseLoad.commitStreamedBatch(spark, rows(100, 200), wh, hist, "B")
    live ++= 100L until 200L; check("second epoch")
    (200 until 220).grouped(10).zipWithIndex.foreach { case (ks, i) =>
      Files.writeString(Paths.get(staging, s"f$i.json"),
        ks.map(k => s"""{"k": "$k", "v": "s$k"}""").mkString("\n") + "\n")
    }
    WarehouseLoad.batchIdempotent(spark, staging, StructType(Seq(
      StructField("k", LongType), StructField("v", StringType))), wh, hist)
    live ++= 200L until 220L; check("load")

    // merges: deletion vector, then rewrite
    val upd = (50L until 60L).map(k => (k, "u")) ++
      (300L until 305L).map(k => (k, "i"))
    assert(WarehouseLoad.mergeCommitted(spark, wh, hist,
      upd.toDF("k", "v"), Seq("k")) == ((10L, 5L)))
    live ++= 300L until 305L; check("DV merge")
    val conf = spark.sparkContext.hadoopConfiguration
    conf.setLong("graft.dv.maxRows", 0L)
    try {
      val upd2 = (150L until 155L).map(k => (k, "u")) ++
        Seq((305L, "i"), (306L, "i"))
      assert(WarehouseLoad.mergeCommitted(spark, wh, hist,
        upd2.toDF("k", "v"), Seq("k")) == ((5L, 2L)))
    } finally conf.unset("graft.dv.maxRows")
    live ++= Seq(305L, 306L); check("rewrite merge")
    val afterMerges = WarehouseLoad.currentVersion(spark, hist)

    // both takedowns
    assert(WarehouseLoad.takedownVectorized(spark, wh, hist,
      (0L until 10L).toDF("k"), Seq("k")) == 10L)
    live --= 0L until 10L; check("DV takedown")
    assert(WarehouseLoad.takedownCommitted(spark, wh, hist,
      (100L until 105L).toDF("k"), Seq("k")) == 5L)
    live --= 100L until 105L; check("rewrite takedown")

    // the three compactions, and a vector on a fold
    WarehouseLoad.compactCommitted(spark, wh, hist)
    check("tiered compaction")
    WarehouseLoad.commitStreamedBatch(spark, rows(400, 450), wh, hist, "C")
    live ++= 400L until 450L; check("epoch after the fold")
    assert(WarehouseLoad.takedownVectorized(spark, wh, hist,
      Seq(20L, 401L, 402L).toDF("k"), Seq("k")) == 3L)
    live --= Seq(20L, 401L, 402L); check("DV takedown over a fold")
    WarehouseLoad.compactZOrdered(spark, wh, hist, "k", "k", numFiles = 3)
    check("Z-order compaction")
    Seq(("D", 500L), ("E", 510L)).foreach { case (id, lo) =>
      WarehouseLoad.commitStreamedBatch(spark, rows(lo, lo + 10), wh, hist, id)
    }
    live ++= 500L until 520L; check("small epochs")
    val small = Seq("D", "E")
      .map(WarehouseLoad.batchStats(spark, hist, _).get.bytes).max
    assert(WarehouseLoad.compactSmall(spark, wh, hist, small) == 2)
    check("small-batch compaction")

    // time travel to every version written, then restore
    versions.foreach { case (v, n) =>
      metaCount(WarehouseLoad.readWarehouseAt(spark, wh, hist, v).get,
        n.toLong, s"readWarehouseAt($v)")
    }
    WarehouseLoad.restoreWarehouse(spark, wh, hist, afterMerges)
    metaCount(read(), versions(afterMerges).toLong, "restore")
    assert(describedRows(hist) == versions(afterMerges).toLong)
  }

  test("metadata count over hive-partitioned, type-widened, drifted and non-zoneable tables") {
    // hive-partitioned, with a deletion vector
    val wh = tmpDir("graft-mcp-") + "/t"
    val hist = tmpDir("graft-mcph-") + "/h"
    WarehouseLoad.commitStreamedBatch(spark,
      (0L until 60L).map(k => (k, Seq("a", "b c", "d+e")((k % 3).toInt)))
        .toDF("k", "p").repartition(2).toDF(),
      wh, hist, "P", partitionCols = Seq("p"))
    assert(WarehouseLoad.takedownVectorized(spark, wh, hist,
      Seq(1L, 2L, 3L).toDF("k"), Seq("k")) == 3L)
    metaCount(WarehouseLoad.readWarehouse(spark, wh, hist).get, 57L,
      "hive-partitioned")

    // type widening: one relation per recorded schema, unioned
    val wh2 = tmpDir("graft-mcw-") + "/t"
    val hist2 = tmpDir("graft-mcwh-") + "/h"
    WarehouseLoad.commitStreamedBatch(spark,
      spark.range(3).select(col("id").cast("int").as("id")).toDF(),
      wh2, hist2, "gen1")
    WarehouseLoad.commitStreamedBatch(spark,
      spark.range(10, 14).select(col("id")).toDF(), wh2, hist2, "gen2")
    val widened = WarehouseLoad.readWarehouse(spark, wh2, hist2).get
    assert(widened.schema("id").dataType == LongType)
    metaCount(widened, 7L, "type-widened")

    // additive drift: the second batch adds a column
    val wh3 = tmpDir("graft-mcd-") + "/t"
    val hist3 = tmpDir("graft-mcdh-") + "/h"
    WarehouseLoad.commitStreamedBatch(spark,
      spark.range(5).select(col("id").as("k")).toDF(), wh3, hist3, "d1")
    WarehouseLoad.commitStreamedBatch(spark,
      spark.range(5, 8).select(col("id").as("k"), lit("w").as("w")).toDF(),
      wh3, hist3, "d2")
    metaCount(WarehouseLoad.readWarehouse(spark, wh3, hist3).get, 8L,
      "additive drift")

    // no column the zone encoding expresses: the footer count is still
    // recorded for every file
    val wh4 = tmpDir("graft-mca-") + "/t"
    val hist4 = tmpDir("graft-mcah-") + "/h"
    WarehouseLoad.commitStreamedBatch(spark,
      spark.range(9).select(org.apache.spark.sql.functions.array(col("id"))
        .as("xs")).repartition(3).toDF(), wh4, hist4, "arr")
    val st = WarehouseLoad.batchStats(spark, hist4, "arr").get
    assert(st.files.nonEmpty && st.files.forall(f =>
      st.fileStats.get(f._1).exists(_.cols.isEmpty)))
    metaCount(WarehouseLoad.readWarehouse(spark, wh4, hist4).get, 9L,
      "non-zoneable columns")
  }

  test("counts the rule must not answer keep the scan") {
    val wh = tmpDir("graft-mcf-") + "/t"
    val hist = tmpDir("graft-mcfh-") + "/h"
    Seq(("A", 0L), ("B", 100L)).foreach { case (id, lo) =>
      WarehouseLoad.commitStreamedBatch(spark,
        spark.range(lo, lo + 100).select(col("id").as("k"),
          (col("id") % 4).as("g"),
          org.apache.spark.sql.functions.when(col("id") % 5 === 0, null)
            .otherwise(col("id")).as("n"))
          .repartition(2).toDF(), wh, hist, id)
    }
    assert(WarehouseLoad.takedownVectorized(spark, wh, hist,
      Seq(1L, 101L).toDF("k"), Seq("k")) == 2L)
    val df = WarehouseLoad.readWarehouse(spark, wh, hist).get
    metaCount(df, 198L, "the unfiltered table")
    // a filtered relation
    scanCount(df.filter(col("k") >= 150L).groupBy().count(), 50L, "filter")
    // count(col) skips nulls
    scanCount(df.agg(count(col("n"))), 158L, "count(col)")
    // DISTINCT and a FILTER clause
    scanCount(df.agg(countDistinct(col("g"))), 4L, "count(DISTINCT)")
    df.createOrReplaceTempView("mc_t")
    scanCount(spark.sql("SELECT count(*) FILTER (WHERE g = 0) FROM mc_t"),
      50L, "FILTER clause")
    // a grouping key
    val grouped = df.groupBy("g").count()
    assert(!answeredFromLog(grouped))
    assert(grouped.collect().map(_.getLong(1)).sum == 198L)

    // one file's recorded count stripped from its manifest: the table
    // reads as before, but the count scans
    val id = WarehouseLoad.committedBatches(spark, hist).head
    val st = WarehouseLoad.batchStats(spark, hist, id).get
    val rel = java.net.URLEncoder.encode(st.files.head._1, "UTF-8")
    val mf = new org.apache.hadoop.fs.Path(s"$hist/b$id/_ZONEMAP")
    val fs = mf.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(mf)
    val lines = try scala.io.Source.fromInputStream(in).getLines().toList
      finally in.close()
    // every per-file stat line of that file goes with its count: a
    // manifest recording stats without a count is corrupt
    val kept = lines.filterNot(l => l.split(" ") match {
      case Array(tag, r, _*) => tag.startsWith("#z") && r == rel
      case _ => false
    })
    assert(kept.size < lines.size)
    val out = fs.create(mf, true)
    try out.write(kept.mkString("\n").getBytes("UTF-8")) finally out.close()
    assert(!WarehouseLoad.batchStats(spark, hist, id).get.fileStats
      .contains(st.files.head._1))
    scanCount(WarehouseLoad.readWarehouse(spark, wh, hist).get.groupBy()
      .count(), 198L, "a file without a recorded count")
  }

  test("describeWarehouse n_rows sums to the live count after a DV takedown and a DV merge") {
    val wh = tmpDir("graft-mcdesc-") + "/t"
    val hist = tmpDir("graft-mcdesch-") + "/h"
    Seq(("A", 0L), ("B", 100L)).foreach { case (id, lo) =>
      WarehouseLoad.commitStreamedBatch(spark,
        spark.range(lo, lo + 100).select(col("id").as("k"),
          lit("x").as("v")).repartition(2).toDF(), wh, hist, id)
    }
    assert(WarehouseLoad.takedownVectorized(spark, wh, hist,
      (0L until 30L).toDF("k"), Seq("k")) == 30L)
    assert(WarehouseLoad.mergeCommitted(spark, wh, hist,
      (Seq((150L, "u"), (151L, "u")) ++ (500L until 510L).map((_, "i")))
        .toDF("k", "v"), Seq("k")) == ((2L, 10L)))
    val st = WarehouseLoad.committedBatches(spark, hist)
      .map(WarehouseLoad.batchStats(spark, hist, _).get)
    assert(st.count(_.dv.nonEmpty) == 2, "both source batches carry vectors")
    // the at-write counts overstate the live rows
    assert(st.map(_.rows).sum > 180L)
    val scanned = WarehouseLoad.readWarehouse(spark, wh, hist).get.rdd.count()
    assert(scanned == 180L)
    assert(describedRows(hist) == scanned)
  }
}
