package graft

import org.apache.spark.sql.functions._

class CompactionSpec extends SparkSpec {

  test("Z-ordered compaction folds committed batches into a two-dim skippable layout") {
    import graft.load.WarehouseLoad
    val root = tmpDir("graft-zfold-")
    val wh = s"$root/t"
    val hist = s"$root/h"
    // four trickle commits, each spanning the FULL (x, y) domain — the
    // accumulated-unclustered state OPTIMIZE ZORDER exists to repair
    (0 until 4).foreach { k =>
      val df = spark.range(4096).filter(col("id") % 4 === k)
        .select((col("id") % 64).as("x"), floor(col("id") / 64).as("y"),
          col("id"))
      WarehouseLoad.commitStreamedBatch(spark, df, wh, hist, s"w$k")
    }
    def rows() = WarehouseLoad.readWarehouse(spark, wh, hist).get
    val before = rows().select("id").collect().map(_.getLong(0)).sorted
    WarehouseLoad.compactZOrdered(spark, wh, hist, "x", "y", numFiles = 16)
    assert(WarehouseLoad.committedBatches(spark, hist).size == 1)
    assert(rows().select("id").collect().map(_.getLong(0)).sorted
      .sameElements(before), "the Z-ordered fold changed the relation")
    // per-file envelopes: a quarter-domain band on EITHER dimension
    // must overlap well under half the files (a linear sort would
    // leave the second dimension's envelopes at the full domain)
    val envs = rows()
      .groupBy(col("_metadata.file_path"))
      .agg(min("x").as("xmn"), max("x").as("xmx"),
        min("y").as("ymn"), max("y").as("ymx"))
      .collect()
    assert(envs.length == 16, s"expected 16 files, got ${envs.length}")
    def overlapping(lo: Long, hi: Long, mn: String, mx: String) =
      envs.count(r => r.getAs[Long](mn) <= hi && r.getAs[Long](mx) >= lo)
    assert(overlapping(0, 15, "xmn", "xmx") <= 8,
      s"x band must skip most files: ${envs.mkString("\n")}")
    assert(overlapping(0, 15, "ymn", "ymx") <= 8,
      s"y band must skip most files: ${envs.mkString("\n")}")
  }

  test("Z-ordered compaction composes with a hive layout: per-file envelopes selective on both dims WITHIN each partition") {
    import graft.load.WarehouseLoad
    val root = tmpDir("graft-zpart-")
    val wh = s"$root/t"
    val hist = s"$root/h"
    // four trickle commits, each spanning the full (x, y) domain in
    // BOTH partitions — the accumulated state a partitioned OPTIMIZE
    // ZORDER repairs without flattening the layout
    (0 until 4).foreach { k =>
      val df = spark.range(8192).filter(col("id") % 4 === k)
        .select((col("id") % 2).cast("int").as("p"),
          ((col("id") / 2).cast("long") % 64).as("x"),
          floor(col("id") / 128).as("y"), col("id"))
      WarehouseLoad.commitStreamedBatch(spark, df, wh, hist, s"w$k",
        partitionCols = Seq("p"))
    }
    def rows() = WarehouseLoad.readWarehouse(spark, wh, hist).get
    val before = rows().select("id").collect().map(_.getLong(0)).sorted
    WarehouseLoad.compactZOrdered(spark, wh, hist, "x", "y",
      numFiles = 16, partitionCols = Seq("p"))
    assert(WarehouseLoad.committedBatches(spark, hist).size == 1)
    assert(rows().select("id").collect().map(_.getLong(0)).sorted
      .sameElements(before), "the partitioned Z fold changed the relation")
    // the fold kept the hive layout: partition pruning still plans
    val onePart = rows().filter(col("p") === 1)
    assert(onePart.count() == 4096)
    // per-(partition, row-group) envelopes via sorted-run structure:
    // within each partition directory the rows are Z-sorted, so
    // quarter-domain bands on EITHER dimension overlap a minority of
    // equal ROW SLICES (files may be 1/partition — slice the Z-sorted
    // run into 8 chunks as the row-group stand-in, the granularity
    // parquet stats actually skip at)
    Seq(0, 1).foreach { p =>
      val slices = rows().filter(col("p") === p)
        .select("x", "y", "_metadata.file_path")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("file_path")
            .orderBy(monotonically_increasing_id())))
        .withColumn("slice", ((col("rn") - 1) / 512).cast("int"))
        .groupBy("file_path", "slice")
        .agg(min("x").as("xmn"), max("x").as("xmx"),
          min("y").as("ymn"), max("y").as("ymx"))
        .collect()
      assert(slices.length >= 8, s"p=$p: expected >=8 slices")
      def overlapping(lo: Long, hi: Long, mn: String, mx: String) =
        slices.count(r => r.getAs[Long](mn) <= hi && r.getAs[Long](mx) >= lo)
      assert(overlapping(0, 15, "xmn", "xmx") <= slices.length / 2,
        s"p=$p: x band must skip most row slices")
      assert(overlapping(0, 15, "ymn", "ymx") <= slices.length / 2,
        s"p=$p: y band must skip most row slices")
    }
  }
}
