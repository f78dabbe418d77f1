package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.functions.{col, not}

import graft.functions.DvHidden
import graft.load.{CommittedScan, DvVector, WarehouseLoad}

/** The deletion-vector read filter ([[DvHidden]]): row for row against a
  * reference that looks each row's file up by its decoded on-disk name,
  * under whole-stage codegen, plain codegen and interpreted evaluation;
  * one predicate per relation whatever the DV'd file count; and rewrites
  * that remove every row commit no data file. */
class DeletionVectorSpec extends SparkSpec {
  import spark.implicits._

  private val modes: Seq[(String, Seq[(String, String)])] = Seq(
    "whole-stage codegen" -> Nil,
    "wholeStage=false" -> Seq("spark.sql.codegen.wholeStage" -> "false"),
    "NO_CODEGEN" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def withConf[T](kvs: Seq[(String, String)])(body: => T): T = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def dvHidden(index: Map[String, (Array[Long], Array[Long])]): Column =
    column(DvHidden(expression(col("_metadata.file_path")),
      expression(col("_metadata.row_index")), index))

  /** The decoded local path a `_metadata.file_path` URI names. */
  private def localPath(fileUri: String): String =
    new java.net.URI(fileUri).getPath

  private def qualified(dir: String): Path = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p)
  }

  test("graft_dv_hidden matches a per-row reference on file names with a space, %, + and #") {
    val dir = tmpDir("graft-dvexpr-") + "/t"
    spark.range(0, 600).repartitionByRange(6, col("id")).write.parquet(dir)
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    assert(parts.length == 6)
    val names = Seq("with space.parquet", "pct%41.parquet", "plus+sign.parquet",
      "hash#tag.parquet", "plain.parquet", "no dv.parquet")
    parts.zip(names).foreach { case (f, n) =>
      java.nio.file.Files.move(f.toPath, f.toPath.resolveSibling(n))
    }
    // every file but the last holds hidden runs; one more entry names no
    // file at all
    val vectors: Map[String, DvVector] = names.init.zipWithIndex.map {
      case (n, i) => n -> DvVector.fromRuns(Seq((i.toLong, 3L),
        (20L + i, 7L), (99L, 1L)))
    }.toMap
    val qDir = qualified(dir)
    val index = (vectors + ("absent.parquet" -> DvVector.fromRows(Seq(0L))))
      .map { case (n, v) =>
        CommittedScan.norm(new Path(qDir, n).toUri.toString) -> v.startsEnds
      }
    def reference(fp: String, ri: Long): Boolean =
      vectors.get(new java.io.File(localPath(fp)).getName).exists(_.contains(ri))
    // one task reads all six files, so the lookup switches files
    // mid-partition
    val raw = spark.read.parquet(dir)
    for ((mode, conf) <- modes)
        withConf(conf :+ ("spark.sql.files.minPartitionNum" -> "1")) {
      assert(raw.rdd.getNumPartitions == 1)
      val flags = raw.select(col("_metadata.file_path"),
          col("_metadata.row_index"), dvHidden(index))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
      assert(flags.length == 600, mode)
      flags.foreach { case (fp, ri, got) =>
        assert(got == reference(fp, ri), s"$mode: $fp row $ri")
      }
      // each DV'd file's driver-side key matched its scan-side path
      val hiddenPerFile = flags.filter(_._3)
        .groupBy(f => new java.io.File(localPath(f._1)).getName)
        .view.mapValues(_.length).toMap
      assert(hiddenPerFile == vectors.map { case (n, v) =>
        n -> v.cardinality.toInt }, mode)
      // the filter form keeps exactly the reference's visible rows
      val kept = raw.filter(not(dvHidden(index)))
        .select(col("_metadata.file_path"), col("_metadata.row_index"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(kept == flags.collect { case (fp, ri, false) => (fp, ri) }.toSet,
        mode)
    }
  }

  test("committed reads over 40 DV'd files and a hive-partitioned batch match a per-row reference; one DV predicate per relation") {
    val wh = tmpDir("graft-dv40-") + "/t"
    val hist = tmpDir("graft-dv40h-") + "/h"
    Seq(("A", 0L), ("B", 2000L)).foreach { case (id, lo) =>
      WarehouseLoad.commitStreamedBatch(spark,
        spark.range(lo, lo + 2000).select(col("id").as("k"),
            (col("id") % 7).as("v"))
          .repartitionByRange(20, col("k")).sortWithinPartitions("k").toDF(),
        wh, hist, id)
    }
    def read(): DataFrame = WarehouseLoad.readWarehouse(spark, wh, hist).get
    def dvFiles(): Int = WarehouseLoad.committedBatches(spark, hist)
      .map(WarehouseLoad.batchStats(spark, hist, _).get.dv.size).sum
    def predicates(df: DataFrame): Seq[DvHidden] =
      df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(
        _.collect { case d: DvHidden => d }))
    def shape(d: DvHidden): String = d.toString.replaceAll("#\\d+", "#")

    // one table with ONE DV'd file, for the plan-size comparison
    val wh1 = tmpDir("graft-dv1-") + "/t"
    val hist1 = tmpDir("graft-dv1h-") + "/h"
    WarehouseLoad.commitStreamedBatch(spark,
      spark.range(100).select(col("id").as("k"), (col("id") % 7).as("v"))
        .coalesce(1).toDF(), wh1, hist1, "one")
    assert(WarehouseLoad.takedownVectorized(spark, wh1, hist1,
      Seq(5L).toDF("k"), Seq("k")) == 1L)
    val one = predicates(WarehouseLoad.readWarehouse(spark, wh1, hist1).get
      .filter(col("k") === 7L))
    assert(one.size == 1 && one.head.index.size == 1)

    val flatKeys = (0L until 4000L).filter(_ % 10 == 3)
    assert(WarehouseLoad.takedownVectorized(spark, wh, hist,
      flatKeys.toDF("k"), Seq("k")) == flatKeys.size.toLong)
    assert(dvFiles() == 40)
    val point = read().filter(col("k") === 7L)
    val forty = predicates(point)
    assert(forty.size == 1 && fsRelations(point).size == 1,
      s"one relation, one DV predicate: $forty")
    assert(forty.head.index.size == 40)
    assert(shape(forty.head) ==
      shape(one.head).replace("files=1)", "files=40)"),
      s"${shape(forty.head)} vs ${shape(one.head)}")
    assert(point.collect().map(_.getLong(0)).toSeq == Seq(7L))

    // a hive-partitioned batch whose partition values spell a space,
    // %, + and # in their directory names
    val vals = Seq("a b", "p%q", "x+y", "h#k")
    WarehouseLoad.commitStreamedBatch(spark,
      (4000L until 4200L).map(k => (k, k % 7, vals((k % 4).toInt)))
        .toDF("k", "v", "p").repartition(2).toDF(),
      wh, hist, "C", partitionCols = Seq("p"))
    val hiveKeys = (4000L until 4200L).filter(_ % 5 == 3)
    assert(WarehouseLoad.takedownVectorized(spark, wh, hist,
      hiveKeys.toDF("k"), Seq("k")) == hiveKeys.size.toLong)
    val ids = WarehouseLoad.committedBatches(spark, hist)
    val hiveId = ids.last
    assert(WarehouseLoad.batchStats(spark, hist, hiveId).get.dv.keySet
      .map(_.takeWhile(_ != '/')).size == 4, "every partition holds hidden rows")
    assert(dvFiles() > 40)

    // the reference: every committed row read raw, hidden where its
    // batch's manifest vector for its decoded relative path holds its
    // row index
    val qWh = qualified(wh).toUri.getPath
    val visible = ids.flatMap { id =>
      val dv = WarehouseLoad.batchStats(spark, hist, id).get.dv
      spark.read.parquet(s"$wh/b$id")
        .select(col("k"), col("_metadata.file_path"),
          col("_metadata.row_index"))
        .collect().toSeq.filterNot { r =>
          val rel = localPath(r.getString(1)).stripPrefix(s"$qWh/b$id/")
          dv.get(rel).exists(_.contains(r.getLong(2)))
        }.map(_.getLong(0))
    }.sorted
    val expected = ((0L until 4200L).toSet -- flatKeys -- hiveKeys).toSeq.sorted
    assert(visible == expected)
    for ((mode, conf) <- modes) withConf(conf) {
      val all = read()
      assert(predicates(all).size == fsRelations(all).size &&
        fsRelations(all).size == 2, mode)
      assert(all.select("k").as[Long].collect().toSeq.sorted == expected,
        mode)
      assert(all.filter(col("p") === "p%q").count() ==
        (4000L until 4200L).count(k => k % 4 == 1 && k % 5 != 3), mode)
    }
  }

  test("a rewrite takedown of a whole batch and a fold of an all-hidden table commit no data file") {
    def parquetFiles(dir: String): Seq[String] = {
      val d = new java.io.File(dir)
      Option(d.listFiles()).toSeq.flatten.map(_.getName)
        .filter(_.endsWith(".parquet"))
    }
    def keys(df: Option[DataFrame]): Seq[Long] =
      df.toSeq.flatMap(_.select("k").as[Long].collect()).sorted

    // (1) the rewrite takedown removes every row of batch A
    val wh = tmpDir("graft-emptytd-") + "/t"
    val hist = tmpDir("graft-emptytdh-") + "/h"
    WarehouseLoad.commitStreamedBatch(spark,
      spark.range(0, 50).select(col("id").as("k")).coalesce(1).toDF(),
      wh, hist, "A")
    WarehouseLoad.commitStreamedBatch(spark,
      spark.range(100, 120).select(col("id").as("k")).coalesce(1).toDF(),
      wh, hist, "B")
    val v2 = WarehouseLoad.currentVersion(spark, hist)
    assert(WarehouseLoad.takedownCommitted(spark, wh, hist,
      (0L until 50L).toDF("k"), Seq("k")) == 50L)
    val Seq(a2, b) = WarehouseLoad.committedBatches(spark, hist)
    assert(a2 != "A" && b == "B")
    assert(WarehouseLoad.batchStats(spark, hist, a2).get.files.isEmpty)
    assert(parquetFiles(s"$wh/b$a2").isEmpty)
    assert(keys(WarehouseLoad.readWarehouse(spark, wh, hist)) ==
      (100L until 120L))
    assert(keys(WarehouseLoad.readWarehouseAt(spark, wh, hist, v2)) ==
      ((0L until 50L) ++ (100L until 120L)))

    // (2) every row hidden by vectors, then folded
    val wh2 = tmpDir("graft-emptyfold-") + "/t"
    val hist2 = tmpDir("graft-emptyfoldh-") + "/h"
    WarehouseLoad.commitStreamedBatch(spark,
      spark.range(0, 30).select(col("id").as("k")).coalesce(1).toDF(),
      wh2, hist2, "X")
    WarehouseLoad.commitStreamedBatch(spark,
      spark.range(30, 60).select(col("id").as("k")).coalesce(1).toDF(),
      wh2, hist2, "Y")
    val before = WarehouseLoad.currentVersion(spark, hist2)
    assert(WarehouseLoad.takedownVectorized(spark, wh2, hist2,
      (0L until 60L).toDF("k"), Seq("k")) == 60L)
    val hidden = WarehouseLoad.currentVersion(spark, hist2)
    WarehouseLoad.compactCommitted(spark, wh2, hist2)
    val Seq(fold) = WarehouseLoad.committedBatches(spark, hist2)
    val st = WarehouseLoad.batchStats(spark, hist2, fold).get
    assert(st.files.isEmpty && st.dv.isEmpty)
    assert(parquetFiles(s"$wh2/b$fold").isEmpty)
    // a table of file-less batches reads as no relation
    assert(WarehouseLoad.readWarehouse(spark, wh2, hist2).isEmpty)
    assert(keys(WarehouseLoad.readWarehouseAt(spark, wh2, hist2, hidden))
      .isEmpty)
    assert(keys(WarehouseLoad.readWarehouseAt(spark, wh2, hist2, before)) ==
      (0L until 60L))
    // the table keeps taking writes after the empty fold
    WarehouseLoad.commitStreamedBatch(spark,
      spark.range(60, 65).select(col("id").as("k")).coalesce(1).toDF(),
      wh2, hist2, "Z")
    assert(keys(WarehouseLoad.readWarehouse(spark, wh2, hist2)) ==
      (60L until 65L))
  }

  test("a vector on partition p=a b hides nothing in p=a+b; staged names keep their load-history spelling") {
    val wh = tmpDir("graft-dvplus-") + "/t"
    val hist = tmpDir("graft-dvplush-") + "/h"
    // one batch, two hive partitions whose names differ only by `+`
    // against a space
    WarehouseLoad.commitStreamedBatch(spark,
      (0L until 20L).map(k => (k, if (k % 2 == 0) "a b" else "a+b"))
        .toDF("k", "p").repartition(1).toDF(),
      wh, hist, "P", partitionCols = Seq("p"))
    val Seq(id0) = WarehouseLoad.committedBatches(spark, hist)
    assert(WarehouseLoad.batchStats(spark, hist, id0).get.files
      .map(_._1.takeWhile(_ != '/')).toSet == Set("p=a b", "p=a+b"))
    assert(WarehouseLoad.takedownVectorized(spark, wh, hist,
      Seq(4L).toDF("k"), Seq("k")) == 1L)
    val Seq(id1) = WarehouseLoad.committedBatches(spark, hist)
    assert(WarehouseLoad.batchStats(spark, hist, id1).get.dv.keySet
      .map(_.takeWhile(_ != '/')) == Set("p=a b"))
    val df = WarehouseLoad.readWarehouse(spark, wh, hist).get
    val expected = (0L until 20L).filter(_ != 4L)
    assert(df.select("k").as[Long].collect().toSeq.sorted == expected)
    assert(df.rdd.count() == 19L)
    assert(df.count() == 19L)

    // a staged file with a `+` in its name is recorded as every
    // earlier load recorded it (`+` read as a space), so a file loaded
    // before stays loaded. Over 64 fresh files the load reads the
    // staging root and matches names, the form that loads such a name.
    val staging = tmpDir("graft-dvpluss-")
    ((0 until 69).map(i => f"f$i%02d.json" -> i) :+ ("x+y.json" -> 69))
      .foreach { case (name, k) =>
        java.nio.file.Files.writeString(java.nio.file.Paths.get(staging, name),
          s"{\"k\": \"$k\"}\n")
      }
    val swh = tmpDir("graft-dvplussw-") + "/t"
    val shist = tmpDir("graft-dvplussh-") + "/h"
    val target = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    WarehouseLoad.batchIdempotent(spark, staging, target, swh, shist)
    val files = WarehouseLoad.loadedFiles(spark, shist).get
      .select("file").as[String].collect().toSeq
    assert(files.size == 70 && files.exists(_.endsWith("/x y.json")) &&
      !files.exists(_.contains("+")), files)
    val v = WarehouseLoad.currentVersion(spark, shist)
    WarehouseLoad.batchIdempotent(spark, staging, target, swh, shist)
    assert(WarehouseLoad.currentVersion(spark, shist) == v)
    assert(WarehouseLoad.readWarehouse(spark, swh, shist).get.count() == 70L)
  }

  test("a staged file with + in its name loads from a small fresh set") {
    val staging = tmpDir("graft-plus1s-")
    Seq("x+y.json" -> 1, "z.json" -> 2).foreach { case (name, k) =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(staging, name),
        s"{\"k\": \"$k\"}\n")
    }
    val wh = tmpDir("graft-plus1w-") + "/t"
    val hist = tmpDir("graft-plus1h-") + "/h"
    val target = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    WarehouseLoad.batchIdempotent(spark, staging, target, wh, hist)
    val read = WarehouseLoad.readWarehouse(spark, wh, hist).get
    assert(read.select("k").as[Long].collect().toSeq.sorted == Seq(1L, 2L))
    val files = WarehouseLoad.loadedFiles(spark, hist).get
      .select("file").as[String].collect().toSeq
    assert(files.exists(_.endsWith("/x y.json")), files)
    val v = WarehouseLoad.currentVersion(spark, hist)
    WarehouseLoad.batchIdempotent(spark, staging, target, wh, hist)
    assert(WarehouseLoad.currentVersion(spark, hist) == v)
  }
}
