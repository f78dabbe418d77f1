package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{IntegerType, LongType, StructField,
  StructType}

import graft.load.WarehouseLoad

/** Commit-log scaling harness (VERDICT r12 #5): the lifecycle queries
  * prove the warehouse layer linear in fixture DATA, but the
  * protocol's own scaling axis is the NUMBER OF COMMITS — manifest
  * lines (the head manifest is O(N), so N commits write O(N²) total
  * manifest bytes), version files, per-batch roots and manifest
  * reads in `readWarehouse`'s log-built scan, the changes window,
  * vacuum's listing sweep. This main builds a table of
  * N tiny commits through the REAL streamed-epoch commit path and
  * times the metadata operations at that commit count, so SCALE.md can
  * carry measured numbers instead of an argued bound.
  *
  * Usage: sbt "Test/runMain graft.tools.CommitScale [nCommits]
  * [rowsPerCommit] [par] [bulkRows] [partitioned]"
  * Prints one `metric=...` line per measurement (paste into SCALE.md).
  */
object CommitScale {
  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(1000)
    val rowsPer = args.lift(1).map(_.toInt).getOrElse(10)
    // N concurrent committer threads (r14): the build doubles as a
    // CAS-contention stress at scale — every commit races for head+1
    // and losers re-derive, exactly the multi-writer path the specs
    // prove at small N.
    val par = args.lift(2).map(_.toInt).getOrElse(1)
    // bulkRows > 0 commits one BULK batch before the trickle and
    // measures compactSmall (fold the N-batch tail, leave the bulk)
    // against the full fold — the size-tiered contrast. 0 = legacy
    // flow (full compact over N uniform batches), kept so the
    // SCALE.md N=1k/10k rows stay reproducible.
    val bulkRows = args.lift(3).map(_.toInt).getOrElse(0)
    // partitioned=1 hive-partitions every commit by its `commit`
    // column — measures the r14 log-planned partitioned read path
    // (partition values from recorded paths, zero discovery) on the
    // protocol's own axis
    val partCols =
      if (args.lift(4).exists(_.toInt > 0)) Seq("commit") else Nil
    val spark = graft.GraftSession.create("local[8]", 8)
    spark.sparkContext.setLogLevel("WARN")
    val root = java.nio.file.Files
      .createTempDirectory("graft-commitscale-").toString
    val wh = s"$root/warehouse"
    val hist = s"$root/history"
    import spark.implicits._

    if (bulkRows > 0) // negative ids: the bulk zone never overlaps the
      WarehouseLoad.commitStreamedBatch(spark, // pruning probe below
        spark.range(bulkRows.toLong).select((-col("id") - 1).as("id"))
          .withColumn("commit", lit(-1)),
        wh, hist, "bulk",
        // SAME layout as the trickle: one unpartitioned batch in an
        // otherwise hive-partitioned table rejects the manifest tier
        // for the WHOLE table (mixed layouts fall to the per-root
        // discovery union), which measures the fallback, not the
        // protocol
        partCols)

    val (_, buildS) = time {
      def commit(i: Int): Unit = {
        val df = (i * 1000L until i * 1000L + rowsPer).toDF("id")
          .withColumn("commit", lit(i))
        WarehouseLoad.commitStreamedBatch(spark, df, wh, hist,
          f"s-$i%05d", partCols)
      }
      if (par <= 1) (1 to n).foreach(commit)
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
        try {
          val futs = (1 to n).map(i =>
            pool.submit(new Runnable { def run(): Unit = commit(i) }))
          futs.foreach(_.get())
        } finally pool.shutdown()
      }
    }
    println(f"build_commits n=$n rowsPer=$rowsPer par=$par " +
      f"total=$buildS%.1f s (${buildS / n * 1000}%.0f ms/commit)")

    // version-log volume: with delta manifests this is O(N) + the
    // snapshot cadence's O(N²/k), not the all-snapshot O(N²)
    val vroot = new org.apache.hadoop.fs.Path(s"$hist/_versions")
    val vfs = vroot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vsum = vfs.getContentSummary(vroot)
    println(f"version_log files=${vsum.getFileCount} " +
      f"bytes=${vsum.getLength} (${vsum.getLength / 1024.0 / 1024.0}%.1f MB)")

    val (head, headS) = time(WarehouseLoad.currentVersion(spark, hist))
    println(f"current_version head=$head wall=$headS%.3f s")
    val (ids, cbS) = time(WarehouseLoad.committedBatches(spark, hist))
    println(f"committed_batches n=${ids.size} wall=$cbS%.3f s (cold walk)")
    val (_, cb2S) = time(WarehouseLoad.committedBatches(spark, hist))
    println(f"committed_batches_cached wall=$cb2S%.3f s")

    val (df, planS) = time(WarehouseLoad.readWarehouse(spark, wh, hist).get)
    val (cnt, cntS) = time(df.count())
    println(f"read_warehouse plan=$planS%.2f s count=$cnt wall=$cntS%.2f s")

    // zone-pruned plain filter: one commit's id band out of N
    val (pdf, pplanS) = time {
      val x = WarehouseLoad.readWarehouse(spark, wh, hist).get
        .filter(col("id") >= (n / 2) * 1000L &&
          col("id") < (n / 2) * 1000L + rowsPer)
      x.queryExecution.optimizedPlan // force optimization (the prune)
      x
    }
    val (pcnt, pcntS) = time(pdf.count())
    println(f"zone_pruned_filter plan=$pplanS%.2f s count=$pcnt " +
      f"wall=$pcntS%.2f s")

    if (partCols.nonEmpty) {
      // partition-directory pruning through the log-planned index
      val (qdf, qplanS) = time {
        val x = WarehouseLoad.readWarehouse(spark, wh, hist).get
          .filter(col("commit") === n / 2)
        x.queryExecution.optimizedPlan
        x
      }
      val (qcnt, qcntS) = time(qdf.count())
      println(f"partition_filter plan=$qplanS%.2f s count=$qcnt " +
        f"wall=$qcntS%.2f s")
    }

    val (feedRows, chS) = time(
      WarehouseLoad.changes(spark, wh, hist, head - 10, head).get.count())
    println(f"changes_last10 rows=$feedRows wall=$chS%.2f s")

    // one idempotent FILE load against the N-commit history (the
    // loadedFiles union is the suspect cost here)
    val staging = s"$root/stage"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(staging))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(staging, "late.json"),
      "{\"id\": \"999999999\", \"commit\": \"0\"}\n")
    val target = StructType(Seq(
      StructField("id", LongType), StructField("commit", IntegerType)))
    val (_, loadS) = time(
      WarehouseLoad.batchIdempotent(spark, staging, target, wh, hist,
        partitionCols = partCols))
    println(f"load_atomic_at_n wall=$loadS%.2f s")

    if (bulkRows > 0) {
      val bulkBytes = WarehouseLoad.batchBytes(spark, hist, "bulk").get
      val (nFold, tierS) = time(
        WarehouseLoad.compactSmall(spark, wh, hist, bulkBytes - 1,
          partitionCols = partCols))
      println(f"compact_small folded=$nFold wall=$tierS%.2f s " +
        f"(bulk $bulkBytes B left untouched)" +
        (if (partCols.nonEmpty) " [partitioned fold]" else ""))
    }
    val (_, compS) = time(
      WarehouseLoad.compactCommitted(spark, wh, hist,
        partitionCols = partCols))
    println(f"compact wall=$compS%.2f s" +
      (if (bulkRows > 0) " (full fold AFTER the tiered pass: tail fold + bulk)"
       else ""))
    val (nDel, vacS) = time(WarehouseLoad.vacuum(spark, wh, hist))
    println(f"vacuum removed=$nDel wall=$vacS%.2f s")
    val (cnt2, cnt2S) = time(
      WarehouseLoad.readWarehouse(spark, wh, hist).get.count())
    println(f"read_after_compact count=$cnt2 wall=$cnt2S%.2f s")

    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.stop()
  }
}
