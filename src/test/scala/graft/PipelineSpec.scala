package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.pipeline.Pipeline
import graft.schema.Schemas

/** Reference-parity end-to-end test (SURVEY.md §5 #2): drop a
  * customers CSV with every feature of the reference's export
  * (FIXTURES.md §1) into a landing dir, run the pipeline, and assert
  * the observable contract of glue_job.py + the Snowpipe COPY — typed
  * rows, lower-case columns, null middlenames, timestamp ModifiedDate.
  * Plus §5 #4: re-running the load leg ingests nothing new.
  */
class PipelineSpec extends SparkSpec {
  import graft.load.WarehouseLoad

  /** The reference export's shape in eight rows: CamelCase header plus
    * `rowguid`, empty `MiddleName` (three rows), a backslash in
    * `SalesPerson`, base64 with `+`, `/` and `=`, braced GUIDs, `FALSE`
    * NameStyle and `yyyy-MM-dd HH:mm:ss` dates. */
  private val customersCsv: String = csvOf(Seq(
    (1L, "Mr.", "Orlando", "N.", "Gee", ""),
    (2L, "Mr.", "Keith", "", "Harris", ""),
    (3L, "Ms.", "Donna", "F.", "Carreras", ""),
    (4L, "Ms.", "Janet", "M.", "Gates", ""),
    (5L, "Mr.", "Lucy", "", "Harrington", "Jr."),
    (6L, "Ms.", "Rosmarie", "J.", "Carroll", ""),
    (7L, "Mr.", "Dominic", "P.", "Gash", ""),
    (29485L, "Sr.", "Kathleen", "", "Garza", "")))

  /** A customers CSV of `people` (id, title, first, middle, last,
    * suffix), the other columns derived from the id. */
  private def csvOf(
      people: Seq[(Long, String, String, String, String, String)]): String = {
    val header = "CustomerID,NameStyle,Title,FirstName,MiddleName," +
      "LastName,Suffix,CompanyName,SalesPerson,EmailAddress,Phone," +
      "PasswordHash,PasswordSalt,rowguid,ModifiedDate"
    val rows = people.map { case (id, title, first, middle, last, sfx) =>
      Seq(id.toString, "FALSE", title, first, middle, last, sfx,
        "A Bike Store", s"adventure-works\\pamela$id",
        s"${first.toLowerCase}$id@adventure-works.com", s"245-555-01$id",
        s"L/Rlwxzp4w7RWmEgXX+/A7cXaePEPcp+KwQhl2fJL7w$id=", s"1KjX+/$id=",
        f"{3F5AE95E-B87D-4AED-95B4-C3797AFCB7$id%02d}",
        s"2005-08-0${1 + id % 9} 00:00:00").mkString(",")
    }
    (header +: rows).mkString("", "\n", "\n")
  }

  private def mkCfg(): Pipeline.Config = {
    val landing = tmpDir("graft-landing-")
    Files.writeString(Paths.get(landing, "customers.csv"), customersCsv)
    Pipeline.Config(
      landingDir = landing,
      stagingDir = tmpDir("graft-staging-") + "/json",
      warehouseDir = tmpDir("graft-wh-") + "/customers",
      historyDir = tmpDir("graft-hist-") + "/customers",
      target = Schemas.customers,
      catalogTable = "customers_landing")
  }

  test("batch pipeline: CSV → JSON → typed warehouse parity") {
    val wh = Pipeline.run(spark, mkCfg())
    assert(wh.count() == 8)
    assert(wh.columns.toSeq == Schemas.customers.fieldNames.toSeq)
    assert(wh.schema("modifieddate").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(wh.schema("customerid").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(wh.schema("namestyle").dataType ==
      org.apache.spark.sql.types.BooleanType)
    assert(wh.where(wh("middlename").isNull).count() == 3)
    assert(wh.where(wh("namestyle") === false).count() == 8)
    // values the CSV → JSON → COPY legs must carry through verbatim
    val kathleen = wh.where(wh("customerid") === 29485L).head()
    assert(kathleen.getAs[String]("salesperson") ==
      "adventure-works\\pamela29485")
    assert(kathleen.getAs[String]("passwordsalt") == "1KjX+/29485=")
    assert(kathleen.getAs[String]("rowguid") ==
      "{3F5AE95E-B87D-4AED-95B4-C3797AFCB729485}")
    assert(kathleen.getAs[java.sql.Timestamp]("modifieddate") ==
      java.sql.Timestamp.valueOf("2005-08-02 00:00:00"))
    // catalog registration (the "crawler" leg)
    assert(spark.catalog.tableExists("customers_landing"))
  }

  test("a column set only in the last of many staged files keeps its values") {
    // Twelve landing CSVs become twelve staged JSON files, more than the
    // load samples for its key set. Suffix is set only in the smallest
    // CSV, whose part file is written last; every staged file must
    // still spell the Suffix key, or the column would load as NULL.
    // A tiny split size gives each CSV its own read task, as a wider
    // session or larger files would; local[4] would pack them into 4.
    val cfg = mkCfg()
    Files.delete(Paths.get(cfg.landingDir, "customers.csv"))
    (1 to 11).foreach { f =>
      Files.writeString(Paths.get(cfg.landingDir, f"c$f%02d.csv"),
        csvOf((0 until 3).map { i =>
          (f * 10L + i, "Mr.", s"First$f$i", "", s"Last$f$i", "")
        }))
    }
    Files.writeString(Paths.get(cfg.landingDir, "c12.csv"),
      csvOf(Seq((999L, "Mr.", "Last", "Q.", "File", "III"))))
    val SplitKey = "spark.sql.files.maxPartitionBytes"
    val oldSplit = spark.conf.getOption(SplitKey)
    spark.conf.set(SplitKey, "1024")
    val wh = try Pipeline.run(spark, cfg).localCheckpoint() finally
      oldSplit.fold(spark.conf.unset(SplitKey))(spark.conf.set(SplitKey, _))
    val staged = Option(new java.io.File(cfg.stagingDir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .count(f => f.getName.startsWith("part-") && f.length > 0)
    assert(staged > 8, s"only $staged staged files")
    assert(wh.count() == 34)
    val last = wh.where(wh("customerid") === 999L).head()
    assert(last.getAs[String]("suffix") == "III")
    assert(last.getAs[String]("middlename") == "Q.")
    assert(wh.where(wh("suffix").isNull).count() == 33)
  }

  test("re-running the load leg over the same staging adds nothing (load history)") {
    val cfg = mkCfg()
    assert(Pipeline.run(spark, cfg).count() == 8)
    val head = WarehouseLoad.currentVersion(spark, cfg.historyDir)
    assert(head == 1L)
    // Re-running the *load leg* over the same staging dir must add
    // nothing (Snowpipe load-history analog). Note: re-running the full
    // pipeline would re-transcode and overwrite staging with new file
    // names — the reference's documented duplicate-on-rerun quirk
    // (SURVEY.md §7.3 #3), not an engine bug.
    WarehouseLoad.batchIdempotent(spark, cfg.stagingDir, cfg.target,
      cfg.warehouseDir, cfg.historyDir)
    assert(WarehouseLoad.readWarehouse(spark, cfg.warehouseDir,
      cfg.historyDir).get.count() == 8)
    assert(WarehouseLoad.currentVersion(spark, cfg.historyDir) == head)
  }

  test("ambiguous case-colliding JSON keys refuse the load") {
    val staging = tmpDir("graft-ambigstage-")
    Files.writeString(Paths.get(staging, "a.json"),
      """{"CustomerID": "1", "customerid": "2"}""" + "\n")
    val wh = tmpDir("graft-ambigwh-") + "/t"
    val hist = tmpDir("graft-ambighist-") + "/h"
    // Refused a layer before SchemaAlign: case-insensitive schema
    // resolution of the staged read rejects the colliding keys
    // (COLUMN_ALREADY_EXISTS) — the load never proceeds with ambiguous
    // bindings, matching COPY's ambiguous-match error.
    // (SchemaAlign.AmbiguousColumnException covers the same contract
    // for pre-schema'd frames — SchemaAlignSpec.)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers, wh,
        hist)
    }
    assert(e.getErrorClass == "COLUMN_ALREADY_EXISTS")
    // nothing committed
    assert(WarehouseLoad.currentVersion(spark, hist) == 0L)
    assert(WarehouseLoad.readWarehouse(spark, wh, hist).isEmpty)
  }

  test("staged files with evolving key sets load with nulls for gaps") {
    val staging = tmpDir("graft-evostage-")
    Files.writeString(Paths.get(staging, "v1.json"),
      """{"CustomerID": "1", "FirstName": "a"}""" + "\n")
    Files.writeString(Paths.get(staging, "v2.json"),
      """{"CustomerID": "2", "FirstName": "b", "MiddleName": "Q"}""" + "\n")
    val wh = tmpDir("graft-evowh-") + "/t"
    val hist = tmpDir("graft-evohist-") + "/h"
    WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers, wh,
      hist)
    val rows = WarehouseLoad.readWarehouse(spark, wh, hist).get
      .select("customerid", "firstname", "middlename")
      .collect().sortBy(_.getLong(0))
    assert(rows.length == 2)
    assert(rows(0).isNullAt(2) && rows(1).getString(2) == "Q")
  }

  test("idempotent batch load skips already-loaded files (COPY history)") {
    val staging = tmpDir("graft-idemstage-")
    val wh = tmpDir("graft-idemwh-") + "/t"
    val hist = tmpDir("graft-idemhist-") + "/h"
    def whRows() =
      graft.load.WarehouseLoad.readWarehouse(spark, wh, hist).get
    Files.writeString(Paths.get(staging, "f1.json"),
      """{"CustomerID": "1", "FirstName": "a"}""" + "\n")
    Files.writeString(Paths.get(staging, "f2.json"),
      """{"CustomerID": "2", "FirstName": "b"}""" + "\n")
    graft.load.WarehouseLoad.batchIdempotent(spark, staging,
      Schemas.customers, wh, hist)
    assert(whRows().count() == 2)
    // re-run over the unchanged staging dir: nothing loads again
    graft.load.WarehouseLoad.batchIdempotent(spark, staging,
      Schemas.customers, wh, hist)
    assert(whRows().count() == 2)
    // a new staged file loads exactly its own rows
    Files.writeString(Paths.get(staging, "f3.json"),
      """{"CustomerID": "3", "FirstName": "c"}""" + "\n")
    graft.load.WarehouseLoad.batchIdempotent(spark, staging,
      Schemas.customers, wh, hist)
    val rows = whRows()
    assert(rows.count() == 3)
    assert(rows.select("customerid").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 2L, 3L)))
    // load history records each file exactly once, batch-attributed
    val h = graft.load.WarehouseLoad.loadedFiles(spark, hist).get
    assert(h.count() == 3)
    assert(h.select("file").distinct().count() == 3)
    assert(h.select("batch").distinct().count() == 2)
  }

  test("crashed idempotent load commits nothing and re-runs to exactly-once") {
    // The round-11 verdict's acknowledged at-least-once hole, now
    // closed: the old shape appended data THEN history, so a crash
    // between the two re-loaded the batch's files on retry (duplicate
    // rows). The atomic commit (batch dirs + manifest repoint) must
    // leave a crash at EITHER failpoint fully invisible — and the
    // retry must converge to exactly one copy of every row.
    val staging = tmpDir("graft-crashstage-")
    val wh = tmpDir("graft-crashwh-") + "/t"
    val hist = tmpDir("graft-crashhist-") + "/h"
    Files.writeString(Paths.get(staging, "f1.json"),
      """{"CustomerID": "1", "FirstName": "a"}""" + "\n")
    Files.writeString(Paths.get(staging, "f2.json"),
      """{"CustomerID": "2", "FirstName": "b"}""" + "\n")
    final class Boom extends RuntimeException("injected crash")
    for (fp <- Seq("data-written", "history-written")) {
      intercept[Boom] {
        graft.load.WarehouseLoad.loadAtomic(spark, staging,
          Schemas.customers, wh, hist,
          failpoint = at => if (at == fp) throw new Boom)
      }
      // nothing is committed: no warehouse, no history, next run still
      // sees both files as fresh
      assert(graft.load.WarehouseLoad.readWarehouse(spark, wh, hist).isEmpty,
        s"crash at $fp leaked a committed batch")
      assert(graft.load.WarehouseLoad.loadedFiles(spark, hist).isEmpty)
    }
    // the retry after the crashes: exactly one copy of each row
    graft.load.WarehouseLoad.batchIdempotent(spark, staging,
      Schemas.customers, wh, hist)
    val rows = graft.load.WarehouseLoad.readWarehouse(spark, wh, hist).get
    assert(rows.count() == 2)
    assert(rows.select("customerid").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 2L)))
    // …and a crash AFTER a commit, on a later batch, doubles nothing
    Files.writeString(Paths.get(staging, "f3.json"),
      """{"CustomerID": "3", "FirstName": "c"}""" + "\n")
    intercept[Boom] {
      graft.load.WarehouseLoad.loadAtomic(spark, staging,
        Schemas.customers, wh, hist,
        failpoint = at => if (at == "history-written") throw new Boom)
    }
    graft.load.WarehouseLoad.batchIdempotent(spark, staging,
      Schemas.customers, wh, hist)
    val all = graft.load.WarehouseLoad.readWarehouse(spark, wh, hist).get
    assert(all.select("customerid").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 2L, 3L)), "replayed batch duplicated rows")
  }

  test("idempotent load plans constant-size over a multi-thousand-file stage") {
    // The de-drivered COPY path (VERDICT r10 #2): a 2,000-file staging
    // wave must plan exactly like a two-file one — ONE scan root, the
    // fresh-file set a broadcast DataFrame, no path list spliced into
    // the plan and no collect of paths to the driver.
    val staging = tmpDir("graft-bigstage-")
    val wh = tmpDir("graft-bigwh-") + "/t"
    val hist = tmpDir("graft-bighist-") + "/h"
    (0 until 2000).foreach { i =>
      Files.writeString(Paths.get(staging, f"f$i%04d.json"),
        s"""{"CustomerID": "$i", "FirstName": "n$i"}""" + "\n")
    }
    val Some((_, data)) =
      graft.load.WarehouseLoad.idempotentBatch(spark, staging, hist)
    val roots = data.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.length
    }
    assert(roots == Seq(1),
      s"expected one single-root staging scan, got roots=$roots")
    graft.load.WarehouseLoad.batchIdempotent(spark, staging,
      Schemas.customers, wh, hist)
    assert(graft.load.WarehouseLoad.readWarehouse(spark, wh, hist)
      .get.count() == 2000)
    // steady state: one more file arrives; only its row loads
    Files.writeString(Paths.get(staging, "late.json"),
      """{"CustomerID": "9999", "FirstName": "late"}""" + "\n")
    graft.load.WarehouseLoad.batchIdempotent(spark, staging,
      Schemas.customers, wh, hist)
    assert(graft.load.WarehouseLoad.readWarehouse(spark, wh, hist)
      .get.count() == 2001)
    assert(graft.load.WarehouseLoad.loadedFiles(spark, hist)
      .get.count() == 2001)
  }

  test("partitioned committed batches: layout survives the lifecycle; partition predicate prunes at the scan") {
    // Hive partitioning on the commit log: every committed batch dir
    // is partitioned, a partition predicate lands in the multi-root
    // scan's PartitionFilters (directory pruning under every batch root — the 1/n-th-of-the-table lever at
    // warehouse scale), and compaction/takedown rewrites preserve the
    // layout instead of flattening it.
    import org.apache.spark.sql.execution.FormattedMode
    import org.apache.spark.sql.functions.col
    import graft.load.WarehouseLoad
    val staging = tmpDir("graft-ppstage-")
    val wh = tmpDir("graft-ppwh-") + "/t"
    val hist = tmpDir("graft-pphist-") + "/h"
    val target = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("region",
        org.apache.spark.sql.types.StringType)))
    val parts = Seq("region")
    Files.writeString(Paths.get(staging, "f1.json"),
      """{"id": "1", "region": "east"}""" + "\n" +
      """{"id": "2", "region": "west"}""" + "\n")
    WarehouseLoad.batchIdempotent(spark, staging, target, wh, hist,
      partitionCols = parts)
    Files.writeString(Paths.get(staging, "f2.json"),
      """{"id": "3", "region": "east"}""" + "\n")
    WarehouseLoad.batchIdempotent(spark, staging, target, wh, hist,
      partitionCols = parts)
    def rel() = WarehouseLoad.readWarehouse(spark, wh, hist).get
    def got() = rel().select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got() == Seq(1L, 2L, 3L))
    def assertPruned(): Unit = {
      val p = rel().filter(col("region") === "east")
        .queryExecution.explainString(FormattedMode)
      assert("""PartitionFilters: \[[^\]]*region""".r.findFirstIn(p).isDefined,
        s"region must prune at the scan:\n$p")
    }
    assertPruned()
    // partition dirs exist under each committed batch root
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    WarehouseLoad.committedBatches(spark, hist).foreach { id =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$wh/b$id/region=east")), s"batch $id lost its partition layout")
    }
    // compaction preserves the layout (and the relation)
    WarehouseLoad.compactCommitted(spark, wh, hist, partitionCols = parts)
    assert(got() == Seq(1L, 2L, 3L))
    val cid = WarehouseLoad.committedBatches(spark, hist).head
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$wh/b$cid/region=west")))
    assertPruned()
    // takedown rewrites keep the layout too
    import spark.implicits._
    assert(WarehouseLoad.takedownCommitted(spark, wh, hist,
      Seq(2L).toDF("id"), Seq("id"), partitionCols = parts) == 1L)
    assert(got() == Seq(1L, 3L))
    val tid = WarehouseLoad.committedBatches(spark, hist).head
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$wh/b$tid/region=east")))
    assertPruned()
  }

  test("a file whose decoded name still percent-encodes loads exactly once") {
    // History stores the once-normalized spelling; re-normalizing it
    // (percent-decode is NOT idempotent) made 'report%20v2.json'
    // diverge from the staged side and reload on every run.
    import graft.load.WarehouseLoad
    val staging = tmpDir("graft-pctstage-")
    val wh = tmpDir("graft-pctwh-") + "/t"
    val hist = tmpDir("graft-pcthist-") + "/h"
    Files.writeString(Paths.get(staging, "report%20v2.json"),
      """{"CustomerID": "1", "FirstName": "a"}""" + "\n")
    WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers, wh, hist)
    def n() = WarehouseLoad.readWarehouse(spark, wh, hist).get.count()
    assert(n() == 1)
    WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers, wh, hist)
    assert(n() == 1, "percent-named file must not reload on re-run")
  }

  test("a staged file of only blank lines does not poison the coverage guard") {
    // len > 0 but the JSON reader SKIPS blank lines (zero rows, not
    // corrupt records): the coverage guard must exempt it instead of
    // aborting every retry of the batch forever.
    import graft.load.WarehouseLoad
    val staging = tmpDir("graft-blankstage-")
    val wh = tmpDir("graft-blankwh-") + "/t"
    val hist = tmpDir("graft-blankhist-") + "/h"
    Files.writeString(Paths.get(staging, "f1.json"),
      """{"CustomerID": "1", "FirstName": "a"}""" + "\n")
    Files.writeString(Paths.get(staging, "blank.json"), "\n\n  \n")
    WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers, wh, hist)
    def n() = WarehouseLoad.readWarehouse(spark, wh, hist).get.count()
    assert(n() == 1, "the real file's row must load")
    // the blank file is recorded as loaded: the re-run is a no-op
    WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers, wh, hist)
    assert(n() == 1)
  }

  test("zone maps skip non-overlapping batches and survive rewrites conservatively") {
    // Per-batch min/max stats recorded by the load's own write job
    // (CollectMetrics — zero extra scans) let a range predicate skip
    // whole batch roots before their scan even enters the plan — the
    // micro-partition-pruning analog at batch granularity. Stats are an
    // optimization, never a correctness dependency: a batch without a
    // map scans conservatively.
    import graft.load.WarehouseLoad
    val staging = tmpDir("graft-zmstage-")
    val wh = tmpDir("graft-zmwh-") + "/t"
    val hist = tmpDir("graft-zmhist-") + "/h"
    val target = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("region",
        org.apache.spark.sql.types.StringType)))
    def load(name: String, rows: String*): Unit = {
      Files.writeString(Paths.get(staging, name),
        rows.mkString("", "\n", "\n"))
      WarehouseLoad.batchIdempotent(spark, staging, target, wh, hist)
    }
    load("f1.json", """{"id": "1", "region": "a"}""",
      """{"id": "2", "region": "a"}""")
    load("f2.json", """{"id": "100", "region": "b"}""",
      """{"id": "101", "region": "b"}""")
    load("f3.json", """{"id": "1000", "region": "c"}""")

    def pruned(lo: Double, hi: Double) =
      WarehouseLoad.prunedBatchIds(spark, hist, "id", lo, hi)
    assert(pruned(90, 200).size == 1, "exactly the middle batch overlaps")
    assert(pruned(0, 5000).size == 3)
    assert(pruned(5000, 9000).isEmpty)
    assert(WarehouseLoad.readWarehouseBetween(
      spark, wh, hist, "id", 5000, 9000).isEmpty)
    // the pruned relation is a SUPERSET contract: with the row filter
    // applied it equals the full-relation answer
    import org.apache.spark.sql.functions.col
    val viaZone = WarehouseLoad.readWarehouseBetween(
        spark, wh, hist, "id", 90, 200).get
      .filter(col("id").between(90, 200))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(viaZone == Seq(100L, 101L))

    // takedown rewrite carries the map forward (conservative: removing
    // rows only shrinks the true range)
    import spark.implicits._
    assert(WarehouseLoad.takedownCommitted(spark, wh, hist,
      Seq(100L).toDF("id"), Seq("id")) == 1L)
    assert(pruned(90, 200).size == 1,
      "the rewritten batch must keep its zone map")
    assert(WarehouseLoad.readWarehouseBetween(
        spark, wh, hist, "id", 90, 200).get
      .filter(col("id").between(90, 200))
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(101L))

    // string zone maps (UTF-8 binary order): region intervals are
    // [a,a] / [b,b] / [c,c] per batch — an equality probe prunes to
    // exactly its batch, a range spans its overlaps
    def prunedStr(lo: String, hi: String) =
      WarehouseLoad.prunedBatchIds(spark, hist, "region",
        WarehouseLoad.StrZone(lo, hi))
    assert(prunedStr("b", "b").size == 1,
      "string equality probe must prune to the containing batch")
    assert(prunedStr("a", "b").size == 2)
    assert(prunedStr("x", "z").isEmpty)
    assert(WarehouseLoad.readWarehouseBetween(
        spark, wh, hist, "region", "b", "b").get
      .filter(col("region") === "b")
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(101L))

    // compaction merges the input maps (interval union — numeric AND
    // string forms)
    WarehouseLoad.compactCommitted(spark, wh, hist)
    val cid = WarehouseLoad.committedBatches(spark, hist).head
    val merged = WarehouseLoad.zoneMap(spark, hist, cid)
    assert(merged.exists(_.contains("id")),
      s"compacted batch must carry a merged zone map, got $merged")
    val WarehouseLoad.NumZone(lo, hi) = merged.get("id")
    assert(lo <= 1.0 && hi >= 1000.0)
    val WarehouseLoad.StrZone(slo, shi) = merged.get("region")
    assert(slo == "a" && shi == "c",
      s"merged string interval must be the union, got [$slo, $shi]")
    assert(pruned(5000, 9000).isEmpty)
    // a batch WITHOUT an interval for the probed column scans
    // conservatively: this batch has no 'id' column at all, so range
    // pruning on 'id' must include it
    Files.writeString(Paths.get(staging, "f4.json"),
      """{"region": "z"}""" + "\n")
    WarehouseLoad.batchIdempotent(spark, staging,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("region",
          org.apache.spark.sql.types.StringType))), wh, hist)
    assert(pruned(5000, 9000).size == 1,
      "a batch with no interval for the column must be scanned, not skipped")
    // …while its string interval still prunes on the column it HAS
    assert(prunedStr("z", "z").size == 1)
  }

  test("schema-evolved batches read, feed, and takedown as one relation") {
    // The evolve lifecycle across the commit log: batch 1 loads under
    // the declared DDL, the upstream adds a key, batch 2 loads under
    // SchemaDrift.evolve's DDL. The warehouse read must surface the
    // evolved column (null on pre-evolution rows) — without the merged
    // footer read Spark keys the scan schema off one arbitrary footer
    // and the column can silently vanish; the change feed and the
    // takedown probe union heterogeneous batch schemas and must not
    // throw on the missing column.
    import graft.load.WarehouseLoad
    import graft.schema.SchemaDrift
    val staging = tmpDir("graft-evstage-")
    val wh = tmpDir("graft-evwh-") + "/t"
    val hist = tmpDir("graft-evhist-") + "/h"
    Files.writeString(Paths.get(staging, "f1.json"),
      """{"CustomerID": "1", "FirstName": "a"}""" + "\n")
    WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers, wh, hist)
    Files.writeString(Paths.get(staging, "f2.json"),
      """{"CustomerID": "2", "FirstName": "b", "LoyaltyTier": "gold"}""" + "\n")
    val evolved = SchemaDrift.evolve(spark, staging, Schemas.customers)
    assert(evolved.fieldNames.contains("LoyaltyTier"))
    WarehouseLoad.batchIdempotent(spark, staging, evolved, wh, hist)

    val rel = WarehouseLoad.readWarehouse(spark, wh, hist).get
    assert(rel.columns.map(_.toLowerCase).contains("loyaltytier"),
      "evolved column vanished from the merged relation")
    val tiers = rel.select("customerid", "LoyaltyTier").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(tiers == Map(1L -> None, 2L -> Some("gold")))

    // change feed spanning the evolution: pre-evolution rows surface
    // the evolved column as null instead of the union throwing
    val feed = WarehouseLoad.changes(spark, wh, hist, 0, 2).get
    assert(feed.count() == 2)
    assert(feed.columns.map(_.toLowerCase).contains("loyaltytier"))

    // takedown probe unions the same heterogeneous batches
    import spark.implicits._
    assert(WarehouseLoad.takedownCommitted(spark, wh, hist,
      Seq(1L).toDF("customerid"), Seq("customerid")) == 1L)
    val after = WarehouseLoad.readWarehouse(spark, wh, hist).get
      .select("customerid", "LoyaltyTier").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(after == Map(2L -> Some("gold")))
  }

  test("vacuum reclaims crashed-attempt orphans; compaction folds batches to one root") {
    import graft.load.WarehouseLoad
    val staging = tmpDir("graft-vacstage-")
    val wh = tmpDir("graft-vacwh-") + "/t"
    val hist = tmpDir("graft-vachist-") + "/h"
    final class Boom extends RuntimeException("injected crash")
    Files.writeString(Paths.get(staging, "f1.json"),
      """{"CustomerID": "1", "FirstName": "a"}""" + "\n")
    // a crashed attempt leaves orphaned (uncommitted) batch dirs…
    intercept[Boom] {
      WarehouseLoad.loadAtomic(spark, staging, Schemas.customers, wh, hist,
        failpoint = at => if (at == "history-written") throw new Boom)
    }
    // …then the staging set CHANGES before the retry, so the retry
    // lands under a different batch id and the orphans stay behind
    Files.writeString(Paths.get(staging, "f2.json"),
      """{"CustomerID": "2", "FirstName": "b"}""" + "\n")
    WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers, wh, hist)
    Files.writeString(Paths.get(staging, "f3.json"),
      """{"CustomerID": "3", "FirstName": "c"}""" + "\n")
    WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers, wh, hist)
    def rows() = WarehouseLoad.readWarehouse(spark, wh, hist).get
      .select("customerid").collect().map(_.getLong(0)).sorted.toSeq
    assert(rows() == Seq(1L, 2L, 3L))
    // the crashed attempt's intent marker is still young: vacuum must
    // treat its dirs as possibly-in-flight and leave them alone…
    assert(WarehouseLoad.vacuum(spark, wh, hist) == 0,
      "vacuum reclaimed dirs under a live intent marker")
    // …until the marker ages past the TTL (backdated here), at which
    // point the attempt counts as abandoned and the orphans reclaim
    backdateIntents(hist)
    assert(WarehouseLoad.vacuum(spark, wh, hist) == 2,
      "expected exactly the crashed attempt's data+history orphans")
    assert(rows() == Seq(1L, 2L, 3L), "vacuum touched committed data")
    assert(WarehouseLoad.vacuum(spark, wh, hist) == 0, "vacuum not idempotent")
    // compaction: two committed batches fold into one root
    assert(WarehouseLoad.committedBatches(spark, hist).size == 2)
    WarehouseLoad.compactCommitted(spark, wh, hist)
    assert(WarehouseLoad.committedBatches(spark, hist).size == 1)
    assert(rows() == Seq(1L, 2L, 3L), "compaction changed the relation")
    assert(WarehouseLoad.loadedFiles(spark, hist).get.count() == 3)
    // old batch dirs are now unreferenced garbage; vacuum reclaims them
    assert(WarehouseLoad.vacuum(spark, wh, hist) == 4)
    assert(rows() == Seq(1L, 2L, 3L))
    // …and the load history still dedups: re-running loads nothing new
    WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers, wh, hist)
    assert(rows() == Seq(1L, 2L, 3L))
  }

  /** Age every in-flight intent marker past the vacuum TTL — the
    * spec-side clock for "this writer is abandoned, not racing". */
  private def backdateIntents(hist: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(s"$hist/_intents")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) fs.listStatus(root).foreach(st =>
      fs.setTimes(st.getPath,
        System.currentTimeMillis() - 25L * 3600 * 1000, -1))
  }

  test("vacuum racing an in-flight load cannot reclaim its uncommitted dirs") {
    import graft.load.WarehouseLoad
    val staging = tmpDir("graft-intstage-")
    val wh = tmpDir("graft-intwh-") + "/t"
    val hist = tmpDir("graft-inthist-") + "/h"
    Files.writeString(Paths.get(staging, "f1.json"),
      """{"CustomerID": "1", "FirstName": "a"}""" + "\n")
    // the deterministic race, driven through the failpoint seam: a
    // vacuum lands BETWEEN the writer's dir writes and its version
    // commit. Without intent markers it would delete the uncommitted
    // b<id> dirs (they are not in any version's keep set) and the
    // commit would then land pointing at vanished data.
    var vacMid = -1
    WarehouseLoad.loadAtomic(spark, staging, Schemas.customers, wh, hist,
      failpoint = at =>
        if (at == "history-written")
          vacMid = WarehouseLoad.vacuum(spark, wh, hist))
    assert(vacMid == 0, "mid-flight vacuum reclaimed the writer's dirs")
    val got = WarehouseLoad.readWarehouse(spark, wh, hist).get
      .select("customerid").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L), "the raced load lost its data")
    // the commit cleared the marker: nothing is in flight afterwards,
    // and a later vacuum finds neither orphans nor stale markers
    assert(WarehouseLoad.vacuum(spark, wh, hist) == 0)
    val intents = new org.apache.hadoop.fs.Path(s"$hist/_intents")
    val fs = intents.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(intents) || fs.listStatus(intents).isEmpty,
      "intent marker survived its commit + vacuum")
  }

  test("vacuum lists intents AFTER doomed-dir candidates: a marker landing between the listings still protects its dir") {
    import graft.load.WarehouseLoad
    val staging = tmpDir("graft-toctstage-")
    val wh = tmpDir("graft-toctwh-") + "/t"
    val hist = tmpDir("graft-tocthist-") + "/h"
    Files.writeString(Paths.get(staging, "f1.json"),
      """{"CustomerID": "1", "FirstName": "a"}""" + "\n")
    WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers, wh, hist)
    // an uncommitted batch dir with NO marker yet — the writer that
    // publishes its intent in the window between vacuum's two listings
    // (ADVICE r14 TOCTOU: with intents listed FIRST, this marker was
    // invisible and the dir was reclaimed mid-flight)
    val conf = spark.sparkContext.hadoopConfiguration
    val orphan = new org.apache.hadoop.fs.Path(s"$wh/binflight7")
    val fs = orphan.getFileSystem(conf)
    fs.mkdirs(orphan)
    val f = fs.create(new org.apache.hadoop.fs.Path(orphan, "part-0"))
    f.write(Array.fill(8)(1.toByte)); f.close()
    val removed = WarehouseLoad.vacuumWithFailpoint(spark, wh, hist,
      failpoint = at =>
        if (at == "candidates-listed") {
          val m = fs.create(new org.apache.hadoop.fs.Path(
            s"$hist/_intents/iinflight7"))
          m.write("race".getBytes("UTF-8")); m.close()
        })
    assert(removed == 0,
      "vacuum reclaimed a dir whose intent landed between the listings")
    assert(fs.exists(orphan), "the in-flight writer's dir vanished")
    // once the marker ages out the dir is an abandoned orphan again
    backdateIntents(hist)
    assert(WarehouseLoad.vacuum(spark, wh, hist) == 1)
    assert(!fs.exists(orphan))
  }

  test("size-tiered compaction folds only the small tail; the large batch dir stays byte-identical") {
    import graft.load.WarehouseLoad
    val staging = tmpDir("graft-tierstage-")
    val wh = tmpDir("graft-tierwh-") + "/t"
    val hist = tmpDir("graft-tierhist-") + "/h"
    // three 1-row loads (the trickle tail) + one 300-row load (the bulk)
    def stage(name: String, lo: Int, n: Int): Unit = {
      val sb = new StringBuilder
      (lo until lo + n).foreach(i =>
        sb.append(s"""{"CustomerID": "$i", "FirstName": "n$i"}""" + "\n"))
      Files.writeString(Paths.get(staging, name), sb.toString)
      WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers, wh,
        hist)
    }
    stage("big.json", 1000, 300)
    stage("s1.json", 1, 1); stage("s2.json", 2, 1); stage("s3.json", 3, 1)
    val before = WarehouseLoad.committedBatches(spark, hist)
    assert(before.size == 4)
    val sizes = before.map(id =>
      id -> WarehouseLoad.batchBytes(spark, hist, id).get).toMap
    val bigId = sizes.maxBy(_._2)._1
    val bigDir = new org.apache.hadoop.fs.Path(s"$wh/b$bigId")
    val fs = bigDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def bigState() = fs.listStatus(bigDir)
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
      .sortBy(_._1).toSeq
    val bigBefore = bigState()
    // threshold below the bulk: exactly the three 1-row batches fold
    val folded = WarehouseLoad.compactSmall(spark, wh, hist,
      smallBytes = sizes(bigId) - 1)
    assert(folded == 3, s"expected 3 folded, got $folded")
    val after = WarehouseLoad.committedBatches(spark, hist)
    assert(after.size == 2 && after.contains(bigId),
      s"expected [fold, $bigId], got $after")
    assert(bigState() == bigBefore, "tiered fold touched the large batch dir")
    def ids() = WarehouseLoad.readWarehouse(spark, wh, hist).get
      .select("customerid").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids() == (Seq(1L, 2L, 3L) ++ (1000L until 1300L)).sorted)
    // load history intact: nothing re-loads
    WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers, wh, hist)
    assert(WarehouseLoad.committedBatches(spark, hist) == after)
    // second pass: the fold + the bulk are both above the threshold
    // (or below minBatches) — a no-op, no version churn
    val head = WarehouseLoad.currentVersion(spark, hist)
    assert(WarehouseLoad.compactSmall(spark, wh, hist,
      smallBytes = sizes(bigId) - 1, minBatches = 2) == 0)
    assert(WarehouseLoad.currentVersion(spark, hist) == head)
    // the retired 1-row dirs reclaim (intents were cleared at commit)
    assert(WarehouseLoad.vacuum(spark, wh, hist) == 6)
    assert(ids() == (Seq(1L, 2L, 3L) ++ (1000L until 1300L)).sorted)
  }

  test("CHECK constraints refuse whole batches pre-commit; drop re-admits; streamed epochs enforce too") {
    import graft.load.WarehouseLoad
    val staging = tmpDir("graft-ckstage-")
    val wh = tmpDir("graft-ckwh-") + "/t"
    val hist = tmpDir("graft-ckhist-") + "/h"
    WarehouseLoad.addCheck(spark, hist, "id_positive", "customerid > 0")
    // null passes a CHECK (SQL semantics) unless spelled IS NOT NULL
    WarehouseLoad.addCheck(spark, hist, "name_present",
      "firstname IS NOT NULL")
    assert(WarehouseLoad.checks(spark, hist).map(_._1) ==
      Seq("id_positive", "name_present"))
    intercept[IllegalArgumentException] {
      WarehouseLoad.addCheck(spark, hist, "bad name", "1 = 1")
    }
    // ':' is the violation-marker delimiter — a name carrying it would
    // truncate in every CheckViolation ("ns:key" reporting as "ns")
    intercept[IllegalArgumentException] {
      WarehouseLoad.addCheck(spark, hist, "ns:key_positive", "1 = 1")
    }
    Files.writeString(Paths.get(staging, "ok.json"),
      """{"CustomerID": "1", "FirstName": "a"}""" + "\n")
    WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers, wh, hist)
    def rows() = WarehouseLoad.readWarehouse(spark, wh, hist).get
      .select("customerid").collect().map(_.getLong(0)).sorted.toSeq
    assert(rows() == Seq(1L))
    // a violating file batch refuses WHOLE, names the constraint, and
    // commits nothing
    Files.writeString(Paths.get(staging, "neg.json"),
      """{"CustomerID": "-7", "FirstName": "z"}""" + "\n")
    val v = intercept[WarehouseLoad.CheckViolation] {
      WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers,
        wh, hist)
    }
    assert(v.constraint == "id_positive", v.getMessage)
    assert(rows() == Seq(1L), "a refused batch leaked rows")
    assert(WarehouseLoad.currentVersion(spark, hist) == 1)
    // the IS NOT NULL spelling catches missing values
    Files.writeString(Paths.get(staging, "anon.json"),
      """{"CustomerID": "8"}""" + "\n")
    Files.delete(Paths.get(staging, "neg.json"))
    assert(intercept[WarehouseLoad.CheckViolation] {
      WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers,
        wh, hist)
    }.constraint == "name_present")
    // streamed epochs enforce the same declarations
    import spark.implicits._
    intercept[WarehouseLoad.CheckViolation] {
      WarehouseLoad.commitStreamedBatch(spark,
        Seq((-1L, "x")).toDF("customerid", "firstname"), wh, hist, "ep-0")
    }
    assert(rows() == Seq(1L))
    // retire the null check: the anonymous row is now admissible
    WarehouseLoad.dropCheck(spark, hist, "name_present")
    assert(WarehouseLoad.checks(spark, hist).map(_._1) == Seq("id_positive"))
    WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers, wh, hist)
    assert(rows() == Seq(1L, 8L))
  }

  test("restore commits an old snapshot as the new head: history intact, feed refuses, vacuum makes it physical, appends resume") {
    import graft.load.WarehouseLoad
    val staging = tmpDir("graft-rststage-")
    val wh = tmpDir("graft-rstwh-") + "/t"
    val hist = tmpDir("graft-rsthist-") + "/h"
    def load(name: String, rows: String*): Unit = {
      Files.writeString(Paths.get(staging, name),
        rows.mkString("", "\n", "\n"))
      WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers,
        wh, hist)
    }
    def ids() = WarehouseLoad.readWarehouse(spark, wh, hist).get
      .select("customerid").collect().map(_.getLong(0)).sorted.toSeq
    load("a.json", """{"CustomerID": "1", "FirstName": "a"}""")
    load("b.json", """{"CustomerID": "2", "FirstName": "b"}""")
    assert(ids() == Seq(1L, 2L))
    // restore to v1: a NEW version whose content is the old snapshot
    assert(WarehouseLoad.restoreWarehouse(spark, wh, hist, 1) == 3)
    assert(ids() == Seq(1L))
    // history intact: the undone v2 still time-travels
    assert(WarehouseLoad.readWarehouseAt(spark, wh, hist, 2).get
      .count() == 2)
    // a feed spanning the restore is a rewrite — refuse, never replay
    intercept[WarehouseLoad.RewriteException] {
      WarehouseLoad.changes(spark, wh, hist, 2, 3)
    }
    // idempotent: restoring to the current content commits nothing
    assert(WarehouseLoad.restoreWarehouse(spark, wh, hist, 3) == 3)
    assert(WarehouseLoad.currentVersion(spark, hist) == 3)
    // appends resume on top of the restored head; the rolled-back
    // FILE is loadable again (COPY history follows the head)
    load("b.json", """{"CustomerID": "2", "FirstName": "b"}""")
    assert(ids() == Seq(1L, 2L))
    assert(WarehouseLoad.currentVersion(spark, hist) == 4)
    // vacuum (retain=1) makes the restore physical: BOTH b-batch
    // generations reclaim — the original (undone by the restores) and
    // the reload's (which committed under a BUMPED id precisely so it
    // could not clobber the original's historical dir) — 2 dirs each
    WarehouseLoad.restoreWarehouse(spark, wh, hist, 3)
    backdateIntents(hist)
    assert(WarehouseLoad.vacuum(spark, wh, hist) == 4,
      "the rolled-back batches' data+history dirs must reclaim")
    assert(ids() == Seq(1L))
    intercept[IllegalStateException] {
      WarehouseLoad.restoreWarehouse(spark, wh, hist, 4) // pruned by vacuum
    }
    // out-of-range versions refuse instead of silently emptying the
    // table (versionBatches(v <= 0) reconstructs the empty pre-commit
    // list — r15 review)
    intercept[IllegalArgumentException] {
      WarehouseLoad.restoreWarehouse(spark, wh, hist, -1)
    }
    intercept[IllegalArgumentException] {
      WarehouseLoad.restoreWarehouse(spark, wh, hist, 99)
    }
  }

  test("reloading a rolled-back file after restore cannot clobber the historical batch dir (path-derived id bumps)") {
    import graft.load.WarehouseLoad
    val staging = tmpDir("graft-clobstage-")
    val wh = tmpDir("graft-clobwh-") + "/t"
    val hist = tmpDir("graft-clobhist-") + "/h"
    def load(name: String, rows: String*): Unit = {
      Files.writeString(Paths.get(staging, name),
        rows.mkString("", "\n", "\n"))
      WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers,
        wh, hist)
    }
    load("a.json", """{"CustomerID": "1", "FirstName": "a"}""")
    load("b.json", """{"CustomerID": "2", "FirstName": "OLD"}""")
    WarehouseLoad.restoreWarehouse(spark, wh, hist, 1)
    // the errant file is FIXED and re-staged under the SAME path: the
    // path-derived batch id regenerates identically, and pre-fix the
    // reload mode("overwrite")-replaced the historical dir v2 still
    // references — time travel silently served the NEW rows
    load("b.json", """{"CustomerID": "2", "FirstName": "NEW"}""")
    import org.apache.spark.sql.functions.col
    def nameAt(df: org.apache.spark.sql.DataFrame): String =
      df.filter(col("customerid") === 2)
        .select("firstname").head().getString(0)
    assert(nameAt(WarehouseLoad.readWarehouse(spark, wh, hist).get)
      == "NEW")
    assert(nameAt(WarehouseLoad.readWarehouseAt(spark, wh, hist, 2).get)
      == "OLD",
      "the reload clobbered the historical batch dir in place")
    // the two generations commit under DISTINCT batch ids
    assert(WarehouseLoad.committedBatches(spark, hist).size == 2)
    assert(WarehouseLoad.readWarehouseAt(spark, wh, hist, 2).get
      .count() == 2)
  }

  test("time travel reads retained versions; change feed is exact and refuses rewrites") {
    import graft.load.WarehouseLoad
    val staging = tmpDir("graft-ttstage-")
    val wh = tmpDir("graft-ttwh-") + "/t"
    val hist = tmpDir("graft-tthist-") + "/h"
    final class Boom extends RuntimeException("injected crash")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("customerid").collect().map(_.getLong(0)).sorted.toSeq

    Files.writeString(Paths.get(staging, "f1.json"),
      """{"CustomerID": "1", "FirstName": "a"}""" + "\n")
    // torn commit: crash AFTER the exclusive version publish (the CAS
    // commit point), BEFORE the _COMMITTED hint write — the commit is
    // ALREADY DURABLE (readers probe past the lagging hint), and the
    // retry finds nothing fresh and no-ops: exactly-once either way.
    intercept[Boom] {
      WarehouseLoad.loadAtomic(spark, staging, Schemas.customers, wh, hist,
        failpoint = at => if (at == "version-written") throw new Boom)
    }
    assert(WarehouseLoad.currentVersion(spark, hist) == 1,
      "a published version file IS committed (hint lag must not hide it)")
    assert(WarehouseLoad.versionBatches(spark, hist, 1).nonEmpty)
    assert(ids(WarehouseLoad.readWarehouse(spark, wh, hist).get) == Seq(1L))
    WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers, wh, hist)
    assert(WarehouseLoad.currentVersion(spark, hist) == 1,
      "retry after a post-publish crash must no-op, not double-commit")
    assert(ids(WarehouseLoad.readWarehouse(spark, wh, hist).get) == Seq(1L))

    Files.writeString(Paths.get(staging, "f2.json"),
      """{"CustomerID": "2", "FirstName": "b"}""" + "\n")
    WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers, wh, hist)
    WarehouseLoad.compactCommitted(spark, wh, hist)
    assert(WarehouseLoad.currentVersion(spark, hist) == 3)

    // snapshot isolation: historical versions read exactly, even after
    // the compaction rewrite (old dirs retained until vacuum)
    assert(ids(WarehouseLoad.readWarehouseAt(spark, wh, hist, 1).get) == Seq(1L))
    assert(ids(WarehouseLoad.readWarehouseAt(spark, wh, hist, 2).get) == Seq(1L, 2L))
    assert(ids(WarehouseLoad.readWarehouseAt(spark, wh, hist, 3).get) == Seq(1L, 2L))
    assert(WarehouseLoad.readWarehouseAt(spark, wh, hist, 0).isEmpty)
    intercept[IllegalStateException] {
      WarehouseLoad.readWarehouseAt(spark, wh, hist, 4)
    }

    // change feed: append windows are exact and batch-tagged; the
    // compaction window refuses to masquerade as an append
    val feed = WarehouseLoad.changes(spark, wh, hist, 1, 2).get
    assert(ids(feed) == Seq(2L))
    assert(feed.columns.contains("_graft_batch"))
    assert(ids(WarehouseLoad.changes(spark, wh, hist, 0, 2).get) == Seq(1L, 2L))
    intercept[WarehouseLoad.RewriteException] {
      WarehouseLoad.changes(spark, wh, hist, 2, 3)
    }

    // retention: keep v2+v3 → v1 pruned but v2 still time-travels;
    // then default retention prunes everything but the head
    WarehouseLoad.vacuum(spark, wh, hist, retainVersions = 2)
    intercept[IllegalStateException] {
      WarehouseLoad.readWarehouseAt(spark, wh, hist, 1)
    }
    assert(ids(WarehouseLoad.readWarehouseAt(spark, wh, hist, 2).get) == Seq(1L, 2L))
    WarehouseLoad.vacuum(spark, wh, hist)
    intercept[IllegalStateException] {
      WarehouseLoad.readWarehouseAt(spark, wh, hist, 2)
    }
    assert(ids(WarehouseLoad.readWarehouse(spark, wh, hist).get) == Seq(1L, 2L),
      "vacuum retention touched the committed head")
    // DESCRIBE HISTORY under retention: only the head survives, and
    // its predecessor's manifest is pruned — the kind is honestly
    // `unknown`, never guessed
    val th = WarehouseLoad.tableHistory(spark, hist).collect()
    assert(th.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((3L, "unknown")), s"got ${th.toSeq}")
  }

  test("size-tiered compaction racing a load retains the raced append in order") {
    import graft.load.WarehouseLoad
    val staging = tmpDir("graft-trstage-")
    val wh = tmpDir("graft-trwh-") + "/t"
    val hist = tmpDir("graft-trhist-") + "/h"
    def load(name: String, id: Long): Unit = {
      Files.writeString(Paths.get(staging, name),
        s"""{"CustomerID": "$id", "FirstName": "n$id"}""" + "\n")
      WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers,
        wh, hist)
    }
    load("f1.json", 1); load("f2.json", 2); load("f3.json", 3)
    val snapshot = WarehouseLoad.committedBatches(spark, hist)
    // between the fold write and its commit, a LOAD lands — an append
    // must never abort the fold (only rewrites do), and the derive
    // must retain the raced batch AFTER the fold id (first-input
    // position, commit order preserved)
    var raced = ""
    val folded = WarehouseLoad.compactWithFailpoint(spark, wh, hist,
      failpoint = at => if (at == "fold-written" && raced.isEmpty) {
        load("f4.json", 4)
        raced = (WarehouseLoad.committedBatches(spark, hist).toSet --
          snapshot.toSet).head
      })
    assert(folded == 3, s"fold must commit all three inputs, got $folded")
    val after = WarehouseLoad.committedBatches(spark, hist)
    assert(after.size == 2 && after(1) == raced &&
      after.head.startsWith("compact-"),
      s"expected [fold, raced-append], got $after")
    assert(WarehouseLoad.readWarehouse(spark, wh, hist).get
      .select("customerid").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L), "the raced append's rows were lost")
  }

  test("timestamp time travel: monotonic publish-time resolution; retention fails loudly") {
    import graft.load.WarehouseLoad
    val staging = tmpDir("graft-tsstage-")
    val wh = tmpDir("graft-tswh-") + "/t"
    val hist = tmpDir("graft-tshist-") + "/h"
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("customerid").collect().map(_.getLong(0)).sorted.toSeq
    Files.writeString(Paths.get(staging, "f1.json"),
      """{"CustomerID": "1", "FirstName": "a"}""" + "\n")
    WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers, wh, hist)
    val t1 = System.currentTimeMillis()
    Thread.sleep(30) // separate the two publishes' mtimes
    Files.writeString(Paths.get(staging, "f2.json"),
      """{"CustomerID": "2", "FirstName": "b"}""" + "\n")
    WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers, wh, hist)
    assert(WarehouseLoad.versionAt(spark, hist, t1) == Some(1L))
    assert(ids(WarehouseLoad.readWarehouseAsOf(spark, wh, hist, t1).get) ==
      Seq(1L))
    assert(ids(WarehouseLoad.readWarehouseAsOf(spark, wh, hist,
      System.currentTimeMillis()).get) == Seq(1L, 2L))
    // a timestamp from before the first commit resolves nowhere
    intercept[IllegalStateException] {
      WarehouseLoad.readWarehouseAsOf(spark, wh, hist, 0L)
    }
    // once t1's version leaves retention, the read fails loudly — the
    // cutoff snapshot-ification's later mtime cannot make an OLD
    // timestamp resolve to a NEWER version (running-max monotonicity)
    Thread.sleep(30)
    WarehouseLoad.compactCommitted(spark, wh, hist)
    WarehouseLoad.vacuum(spark, wh, hist)
    intercept[IllegalStateException] {
      WarehouseLoad.readWarehouseAsOf(spark, wh, hist, t1)
    }
  }

  test("commit CAS: two interleaved committers both land, no lost update") {
    import graft.load.WarehouseLoad
    val stagingA = tmpDir("graft-casa-")
    val stagingB = tmpDir("graft-casb-")
    val wh = tmpDir("graft-caswh-") + "/t"
    val hist = tmpDir("graft-cashist-") + "/h"
    Files.writeString(Paths.get(stagingA, "a.json"),
      """{"CustomerID": "1", "FirstName": "a"}""" + "\n")
    Files.writeString(Paths.get(stagingB, "b.json"),
      """{"CustomerID": "2", "FirstName": "b"}""" + "\n")
    // Writer A reads head 0 and derives its batch list; BEFORE its
    // version publish, writer B (a second ingestion schedule feeding
    // the same table) commits fully. A's exclusive publish of v1 must
    // FAIL (B claimed it), and A must re-read the head, re-derive on
    // top of B's commit, and land as v2 — both batches in the head,
    // versions advanced by exactly 2. This is the lost-update the
    // docstring used to merely forbid, now mechanically arbitrated.
    var attempts = 0
    WarehouseLoad.loadAtomic(spark, stagingA, Schemas.customers, wh, hist,
      failpoint = at => if (at == "commit-attempt") {
        attempts += 1
        if (attempts == 1)
          WarehouseLoad.batchIdempotent(spark, stagingB,
            Schemas.customers, wh, hist)
      })
    assert(attempts == 2, "writer A must lose the CAS once and retry")
    assert(WarehouseLoad.currentVersion(spark, hist) == 2)
    assert(WarehouseLoad.committedBatches(spark, hist).size == 2)
    assert(WarehouseLoad.readWarehouse(spark, wh, hist).get
      .select("customerid").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L), "the CAS loser's batch was lost")
    // and the version log is exact: v1 = B alone, v2 = B then A
    assert(WarehouseLoad.versionBatches(spark, hist, 1).get.size == 1)
    assert(WarehouseLoad.versionBatches(spark, hist, 2).get.size == 2)
  }

  test("commit CAS routes through a registered conditional-put backend (the S3 If-None-Match seam)") {
    import graft.load.{AtomicManifest, ConditionalPut, WarehouseLoad}
    // The object-store fake: conditional create (CREATE_NEW = the
    // If-None-Match PUT), no rename anywhere — exactly the primitive
    // an S3-class deployment registers via its SDK. Call/loss counts
    // prove the CAS actually ran through the backend.
    val calls = new java.util.concurrent.atomic.AtomicInteger
    val losses = new java.util.concurrent.atomic.AtomicInteger
    val puts = new java.util.concurrent.atomic.AtomicInteger
    val fake = new ConditionalPut {
      def putIfAbsent(uri: java.net.URI, content: Array[Byte]): Boolean =
        try {
          java.nio.file.Files.write(
            java.nio.file.Paths.get(uri.getPath), content,
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
          calls.incrementAndGet(); true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            calls.incrementAndGet(); losses.incrementAndGet(); false
        }
      // the unconditional overwrite (ADVICE r15): the hint refresh,
      // vacuum's cutoff snapshot-ify, intent markers, zone maps and
      // CHECK declarations all route here instead of the rename path
      // the backend exists to avoid
      override def put(uri: java.net.URI, content: Array[Byte]): Unit = {
        java.nio.file.Files.write(
          java.nio.file.Paths.get(uri.getPath), content)
        puts.incrementAndGet()
      }
    }
    AtomicManifest.registerConditionalPut("file", fake)
    try {
      val stagingA = tmpDir("graft-cpa-")
      val stagingB = tmpDir("graft-cpb-")
      val wh = tmpDir("graft-cpwh-") + "/t"
      val hist = tmpDir("graft-cphist-") + "/h"
      Files.writeString(Paths.get(stagingA, "a.json"),
        """{"CustomerID": "1", "FirstName": "a"}""" + "\n")
      Files.writeString(Paths.get(stagingB, "b.json"),
        """{"CustomerID": "2", "FirstName": "b"}""" + "\n")
      var attempts = 0
      WarehouseLoad.loadAtomic(spark, stagingA, Schemas.customers, wh, hist,
        failpoint = at => if (at == "commit-attempt") {
          attempts += 1
          if (attempts == 1)
            WarehouseLoad.batchIdempotent(spark, stagingB,
              Schemas.customers, wh, hist)
        })
      assert(attempts == 2, "writer A must lose the CAS once and retry")
      assert(calls.get >= 3, "the CAS must route through the backend")
      assert(losses.get >= 1, "A's losing publish must be a backend miss")
      assert(WarehouseLoad.currentVersion(spark, hist) == 2)
      assert(WarehouseLoad.readWarehouse(spark, wh, hist).get
        .select("customerid").collect().map(_.getLong(0)).sorted.toSeq ==
        Seq(1L, 2L), "the CAS loser's batch was lost through the backend")
      // manifest OVERWRITES route through the backend too (ADVICE
      // r15): addCheck's declaration + vacuum's hint refresh / cutoff
      // snapshot-ify all went through put(), never the rename path —
      // and both operations work end-to-end on the backend scheme
      assert(puts.get >= 1, "overwrites must route through put()")
      val putsBefore = puts.get
      WarehouseLoad.addCheck(spark, hist, "pos", "customerid > 0")
      assert(WarehouseLoad.checks(spark, hist).map(_._1) == Seq("pos"))
      WarehouseLoad.vacuum(spark, wh, hist, retainVersions = 1)
      assert(puts.get > putsBefore,
        "addCheck/vacuum overwrites must route through put()")
      assert(WarehouseLoad.currentVersion(spark, hist) == 2)
    } finally AtomicManifest.unregisterConditionalPut("file")
  }

  test("a CAS-only ConditionalPut backend cannot exist (put is required at compile time)") {
    // ADVICE r16 #2: a backend implementing only putIfAbsent used to
    // register fine and then throw UnsupportedOperationException in
    // the middle of the first commit's zone-map write. `put` is now
    // ABSTRACT — a half-implemented backend is a compile error, the
    // earliest possible refusal. This pins the trait shape: if
    // someone re-defaults `put`, the JVM method gains a body and the
    // abstract-modifier check below fails. (assertTypeError can't
    // express this — "object creation impossible" is raised after the
    // typer phase the macro inspects.)
    val m = classOf[graft.load.ConditionalPut].getMethod("put",
      classOf[java.net.URI], classOf[Array[Byte]])
    assert(java.lang.reflect.Modifier.isAbstract(m.getModifiers),
      "ConditionalPut.put must stay abstract: a default turns a " +
      "half-implemented backend into a mid-commit runtime failure")
  }

  test("rewrite batch ids stay bounded across merge and DV-takedown rounds") {
    // Each rewrite derives its batch's new id from a fixed-length hash
    // of the old one plus at most the old id's newest merge marker, so
    // a batch rewritten round after round without a compaction keeps an
    // id (and an intent file name) of bounded length: an id that grew
    // by a suffix per rewrite would pass the 255-byte file-name limit
    // within these eight rounds and fail the commit.
    import org.apache.spark.sql.types.{LongType, StringType, StructField,
      StructType}
    import spark.implicits._
    val staging = tmpDir("graft-idlenstage-")
    val wh = tmpDir("graft-idlenwh-") + "/t"
    val hist = tmpDir("graft-idlenhist-") + "/h"
    val target = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType)))
    Files.writeString(Paths.get(staging, "f1.json"),
      (1 to 20).map(i => s"""{"id": "$i", "v": "a$i"}""")
        .mkString("", "\n", "\n"))
    WarehouseLoad.batchIdempotent(spark, staging, target, wh, hist)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, String)].collect().toSeq.sorted
    val original = rows(WarehouseLoad.readWarehouse(spark, wh, hist).get)
    // no compaction between rounds: odd rounds MERGE (update one key of
    // the loaded batch, insert one), even rounds DV-take one key down
    val maxLens = (1 to 8).map { r =>
      val before = WarehouseLoad.currentVersion(spark, hist)
      if (r % 2 == 1)
        WarehouseLoad.mergeCommitted(spark, wh, hist,
          Seq((r.toLong, s"m$r"), (100L + r, s"n$r")).toDF("id", "v"),
          Seq("id"))
      else
        WarehouseLoad.takedownVectorized(spark, wh, hist,
          Seq(10L + r).toDF("id"), Seq("id"))
      assert(WarehouseLoad.currentVersion(spark, hist) == before + 1,
        s"round $r must commit")
      WarehouseLoad.committedBatches(spark, hist).map(_.length).max
    }
    info(s"max batch id length per round: $maxLens")
    // hash (32) + carried marker (35) + merge suffix (37): reached once
    // a merge rewrites a batch an earlier merge marked, then flat
    assert(maxLens.forall(_ <= 104), s"batch ids too long: $maxLens")
    assert(maxLens.drop(2).distinct.size == 1, s"batch ids grew: $maxLens")
    // every rewrite is a new id: time travel still reads the load
    assert(rows(WarehouseLoad.readWarehouseAt(spark, wh, hist, 1L).get) ==
      original)
    val expected = (original.filterNot { case (i, _) =>
        Set(12L, 14L, 16L, 18L)(i) }
      .map { case (i, v) => if (i % 2 == 1 && i <= 7) (i, s"m$i") else (i, v) }
      ++ Seq(1, 3, 5, 7).map(r => (100L + r, s"n$r"))).sorted
    assert(rows(WarehouseLoad.readWarehouse(spark, wh, hist).get) ==
      expected)
  }

  test("a merge re-delivered after a takedown of its inserted row stays a no-op") {
    // The merge only inserts, so its insert batch is the one batch
    // whose id carries its marker. The takedown rewrites that batch;
    // the new id keeps the marker, so the re-delivery is recognised as
    // applied and cannot re-insert the row the takedown erased.
    import org.apache.spark.sql.types.{LongType, StringType, StructField,
      StructType}
    import spark.implicits._
    val staging = tmpDir("graft-redelstage-")
    val wh = tmpDir("graft-redelwh-") + "/t"
    val hist = tmpDir("graft-redelhist-") + "/h"
    Files.writeString(Paths.get(staging, "f1.json"),
      (1 to 5).map(i => s"""{"id": "$i", "v": "a$i"}""")
        .mkString("", "\n", "\n"))
    WarehouseLoad.batchIdempotent(spark, staging, StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))), wh, hist)
    val mergeSrc = Seq((42L, "new"), (43L, "kept")).toDF("id", "v")
    assert(WarehouseLoad.mergeCommitted(spark, wh, hist, mergeSrc,
      Seq("id")) == (0L, 2L))
    assert(WarehouseLoad.takedownVectorized(spark, wh, hist,
      Seq(42L).toDF("id"), Seq("id")) == 1L)
    val head = WarehouseLoad.currentVersion(spark, hist)
    assert(WarehouseLoad.mergeCommitted(spark, wh, hist, mergeSrc,
      Seq("id")) == (0L, 0L))
    assert(WarehouseLoad.currentVersion(spark, hist) == head)
    val rows = WarehouseLoad.readWarehouse(spark, wh, hist).get
      .as[(Long, String)].collect().toSeq.sorted
    assert(rows == Seq((1L, "a1"), (2L, "a2"), (3L, "a3"), (4L, "a4"),
      (5L, "a5"), (43L, "kept")))
  }

  test("committed-warehouse MERGE: upsert edges — cardinality, empty table, checks, multi-match") {
    import graft.load.WarehouseLoad
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val staging = tmpDir("graft-mgstage-")
    val wh = tmpDir("graft-mgwh-") + "/t"
    val hist = tmpDir("graft-mghist-") + "/h"
    def cust(rows: (Long, String)*) =
      rows.toSeq.toDF("customerid", "firstname")

    // merge into an EMPTY table = pure insert, committed as an APPEND
    // (the change feed carries it — no rewrite in the window)
    val (u0, i0) = WarehouseLoad.mergeCommitted(spark, wh, hist,
      cust(1L -> "a", 2L -> "b"), Seq("customerid"))
    assert((u0, i0) == ((0L, 2L)))
    assert(WarehouseLoad.currentVersion(spark, hist) == 1)
    assert(WarehouseLoad.changes(spark, wh, hist, 0, 1).get.count() == 2,
      "an insert-only merge must be a feed-visible append")

    // duplicate-key source refuses (MERGE cardinality error)
    intercept[WarehouseLoad.MergeCardinalityException] {
      WarehouseLoad.mergeCommitted(spark, wh, hist,
        cust(1L -> "x", 1L -> "y"), Seq("customerid"))
    }
    assert(WarehouseLoad.currentVersion(spark, hist) == 1,
      "a refused merge must commit nothing")

    // multi-match: load a batch with a DUPLICATED key through the file
    // path; the merge updates BOTH copies (SQL MERGE cardinality —
    // target dups each update, count reflects rows not keys)
    Files.writeString(Paths.get(staging, "dup.json"),
      """{"customerid": "3", "firstname": "c1"}""" + "\n" +
      """{"customerid": "3", "firstname": "c2"}""" + "\n")
    val target = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("customerid",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("firstname",
        org.apache.spark.sql.types.StringType)))
    WarehouseLoad.batchIdempotent(spark, staging, target, wh, hist)
    val (u1, i1) = WarehouseLoad.mergeCommitted(spark, wh, hist,
      cust(3L -> "C", 4L -> "d"), Seq("customerid"))
    assert((u1, i1) == ((2L, 1L)), s"got ($u1, $i1)")
    val rel = WarehouseLoad.readWarehouse(spark, wh, hist).get
    assert(rel.count() == 5)
    assert(rel.filter(col("customerid") === 3L && col("firstname") === "C")
      .count() == 2, "both copies of the duplicated key must update")

    // CHECK constraints fuse into merge writes too: an update that
    // violates refuses the WHOLE merge, nothing commits
    WarehouseLoad.addCheck(spark, hist, "named", "firstname IS NOT NULL")
    val head = WarehouseLoad.currentVersion(spark, hist)
    intercept[WarehouseLoad.CheckViolation] {
      WarehouseLoad.mergeCommitted(spark, wh, hist,
        Seq((2L, null.asInstanceOf[String])).toDF("customerid", "firstname"),
        Seq("customerid"))
    }
    assert(WarehouseLoad.currentVersion(spark, hist) == head)
    assert(WarehouseLoad.readWarehouse(spark, wh, hist).get
      .filter(col("firstname").isNull).count() == 0)
  }

  test("file-granular takedown: non-hit FILES carry byte-identically inside a rewritten batch") {
    // VERDICT r15 #4: after compaction folds a table into few large
    // multi-file roots, one takedown key used to rewrite the whole
    // root. Now only files the probe saw hits in are decoded; the
    // rest hard-link/copy into the new batch dir unchanged.
    import graft.load.WarehouseLoad
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val wh = tmpDir("graft-fgtdwh-") + "/t"
    val hist = tmpDir("graft-fgtdhist-") + "/h"
    // one batch, 4 files with disjoint key ranges
    WarehouseLoad.commitStreamedBatch(spark,
      spark.range(400).select(col("id").as("k"), (col("id") % 7).as("v"))
        .repartitionByRange(4, col("k")).sortWithinPartitions("k").toDF(),
      wh, hist, "fg0")
    val id = WarehouseLoad.committedBatches(spark, hist).head
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def state(dir: String) = fs.listStatus(
        new org.apache.hadoop.fs.Path(dir))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
      .sortBy(_._1).toSeq
    val before = state(s"$wh/b$id")
    assert(before.size == 4)

    // keys 150..160 live in exactly one file
    val removed = WarehouseLoad.takedownCommitted(spark, wh, hist,
      (150L to 160L).toDF("k"), Seq("k"))
    assert(removed == 11L)
    val nid = WarehouseLoad.committedBatches(spark, hist).head
    assert(nid != id)
    val after = state(s"$wh/b$nid")
    // 3 of the 4 original files carried byte-identically (same name,
    // length, mtime — on local fs they are hard links to the same
    // inode); the hit file was rewritten under a new name
    val carried = after.toSet intersect before.toSet
    assert(carried.size == 3, s"carried=$carried")
    // content exact + the old batch dir untouched for time travel
    val rel = WarehouseLoad.readWarehouse(spark, wh, hist).get
    assert(rel.count() == 389)
    assert(rel.filter(col("k") >= 150L && col("k") <= 160L).count() == 0)
    assert(state(s"$wh/b$id") == before)
    // per-file zones recomputed/carried: file-level pruning still fires
    val st = WarehouseLoad.batchStats(spark, hist, nid).get
    assert(st.fileZones.size == after.size)
    // takedown with hits in EVERY file still works (falls to the
    // whole-batch shape when nothing is carriable)
    val removed2 = WarehouseLoad.takedownCommitted(spark, wh, hist,
      Seq(0L, 120L, 220L, 320L).toDF("k"), Seq("k"))
    assert(removed2 == 4L)
    assert(WarehouseLoad.readWarehouse(spark, wh, hist).get.count() == 385)
  }

  test("adaptive snapshot cadence keeps the version log linear (CommitScale-100k find)") {
    import graft.load.WarehouseLoad
    // fixed cadence 64 made total snapshot bytes O(N²/64): 6.1 MB at
    // 10k commits but 597 MB at 100k (measured r16). The adaptive
    // default doubles with the head, keeping the total O(N).
    def c(v: Long) = WarehouseLoad.snapshotEvery(spark, v)
    assert(c(1) == 64 && c(100) == 64 && c(4095) == 64)
    assert(c(8192) == 256)
    assert(c(100000) == 2048)
    assert(c(1000000) == 16384)
    // power-of-two growth: every later cadence's boundaries are a
    // subset of earlier multiples, so a mid-life cadence change never
    // strands a walk-back (any snapshot below remains reachable)
    assert((1 to 20).forall(i => c(1L << i) % 64 == 0))
    // conf still pins a fixed cadence for specs/operators
    val conf = spark.sparkContext.hadoopConfiguration
    conf.setLong("graft.commit.snapshotEvery", 4L)
    try assert(c(100000) == 4)
    finally conf.unset("graft.commit.snapshotEvery")
  }

  test("MERGE CDC: tombstones delete matched rows, unmatched tombstones no-op, marker column stays out") {
    import graft.load.WarehouseLoad
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val wh = tmpDir("graft-cdcwh-") + "/t"
    val hist = tmpDir("graft-cdchist-") + "/h"
    WarehouseLoad.mergeCommitted(spark, wh, hist,
      Seq(1L -> "a", 2L -> "b", 3L -> "c").toDF("customerid", "firstname"),
      Seq("customerid"))
    // the CDC wave: update 2, delete 3, insert 9, delete-unmatched 10
    val cdc = Seq(
      (2L, "B", "U"), (3L, "c", "D"), (9L, "i", "U"), (10L, "x", "D"))
      .toDF("customerid", "firstname", "op")
    val (u, i, d) = WarehouseLoad.mergeCdc(spark, wh, hist, cdc,
      Seq("customerid"), deleteWhere = "op = 'D'")
    assert((u, i, d) == ((1L, 1L, 1L)), s"got ($u, $i, $d)")
    val rel = WarehouseLoad.readWarehouse(spark, wh, hist).get
    assert(rel.columns.toSeq == Seq("customerid", "firstname"),
      "the op marker must never become a table column")
    assert(rel.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      == Map(1L -> "a", 2L -> "B", 9L -> "i"))
    // idempotent re-apply: zero churn (content-derived id)
    val head = WarehouseLoad.currentVersion(spark, hist)
    assert(WarehouseLoad.mergeCdc(spark, wh, hist, cdc,
      Seq("customerid"), "op = 'D'") == ((0L, 0L, 0L)))
    assert(WarehouseLoad.currentVersion(spark, hist) == head)
    // a CDC wave is a rewrite (deletes + updates): feed refuses across it
    intercept[WarehouseLoad.RewriteException] {
      WarehouseLoad.changes(spark, wh, hist, 1, head)
    }
  }

  test("deletion-vector takedown: zero-rewrite delete, filtered everywhere, compaction materializes") {
    import graft.load.WarehouseLoad
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import spark.implicits._
    val wh = tmpDir("graft-dvwh-") + "/t"
    val hist = tmpDir("graft-dvhist-") + "/h"
    WarehouseLoad.commitStreamedBatch(spark,
      spark.range(400).select(col("id").as("k"), (col("id") % 7).as("v"))
        .repartitionByRange(4, col("k")).sortWithinPartitions("k").toDF(),
      wh, hist, "dv0")
    WarehouseLoad.commitStreamedBatch(spark,
      spark.range(1000, 1100).select(col("id").as("k"),
        (col("id") % 7).as("v")).coalesce(1).toDF(), wh, hist, "dv1")
    val Seq(b1, b2) = WarehouseLoad.committedBatches(spark, hist)
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def state(dir: String) = fs.listStatus(
        new org.apache.hadoop.fs.Path(dir))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
      .sortBy(_._1).toSeq
    val b1State = state(s"$wh/b$b1")

    // keys scattered across EVERY file of b1 (the Z-scatter case a
    // file-granular rewrite can't help) + one in b2
    val hidden = WarehouseLoad.takedownVectorized(spark, wh, hist,
      Seq(50L, 150L, 250L, 350L, 1050L).toDF("k"), Seq("k"))
    assert(hidden == 5L)
    def read() = WarehouseLoad.readWarehouse(spark, wh, hist).get
    assert(read().count() == 495L)
    assert(read().filter(col("k").isin(50L, 150L, 250L, 350L, 1050L))
      .count() == 0L)
    // ZERO data rewritten: every file of the hit batch carried
    // byte-identically under the new id
    val nb1 = WarehouseLoad.committedBatches(spark, hist).head
    assert(nb1 != b1 && state(s"$wh/b$nb1") == b1State,
      "the DV path must not rewrite or re-encode any file")
    // history intact: the pre-takedown version still shows the rows
    assert(WarehouseLoad.readWarehouseAt(spark, wh, hist, 2).get
      .count() == 500L)
    // rewrite semantics: a feed across the DV commit refuses
    intercept[WarehouseLoad.RewriteException] {
      WarehouseLoad.changes(spark, wh, hist, 2, 3)
    }
    // idempotent: the probe reads through the vector — zero churn
    val head = WarehouseLoad.currentVersion(spark, hist)
    assert(WarehouseLoad.takedownVectorized(spark, wh, hist,
      Seq(50L).toDF("k"), Seq("k")) == 0L)
    assert(WarehouseLoad.currentVersion(spark, hist) == head)
    // vectors CHAIN: a second takedown on the already-DV'd batch
    assert(WarehouseLoad.takedownVectorized(spark, wh, hist,
      Seq(51L).toDF("k"), Seq("k")) == 1L)
    assert(read().count() == 494L)
    // zone + per-file pruning still compose with the DV filter
    val band = read().filter(col("k") >= 300 && col("k") <= 399)
    val scan = band.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case hfs: HadoopFsRelation =>
          (hfs.location.rootPaths.size, hfs.location.inputFiles.length)
        case _ => (0, 0)
      }
    }.foldLeft((0, 0))((a, b) => (a._1 + b._1, a._2 + b._2))
    assert(scan == ((1, 1)), s"expected 1 root / 1 file, got $scan")
    assert(band.count() == 99L) // 350 hidden
    // MERGE does not resurrect: a hidden key is NOT MATCHED — the
    // source row inserts fresh instead of updating a deleted row
    val (u, i) = WarehouseLoad.mergeCommitted(spark, wh, hist,
      Seq((150L, 999L)).toDF("k", "v"), Seq("k"))
    assert((u, i) == ((0L, 1L)), s"got ($u, $i)")
    assert(read().filter(col("k") === 150L).select("v")
      .collect().map(_.getLong(0)).toSeq == Seq(999L))
    // compaction MATERIALIZES the vectors: the fold reads through the
    // filter, its manifest carries no DV, content is stable
    WarehouseLoad.compactCommitted(spark, wh, hist)
    val fold = WarehouseLoad.committedBatches(spark, hist)
    assert(fold.size == 1)
    assert(WarehouseLoad.batchStats(spark, hist, fold.head)
      .get.dv.isEmpty)
    assert(read().count() == 495L)
    assert(read().filter(col("k").isin(50L, 51L, 150L)).count() == 1L)
    WarehouseLoad.vacuum(spark, wh, hist)
    assert(read().count() == 495L)
  }

  test("type-widening window composes with deletion vectors and _metadata consumers") {
    // ADVICE r16 #1: the widened layout group used to union its
    // schema generations BEFORE the DV filter / `_graft_batch`
    // tagging — `_metadata` does not resolve through a Union, so a
    // DV'd table that received a widened batch threw AnalysisException
    // from readWarehouse, and merge/takedown broke on any widening
    // window. The generations now stay separate relations until after
    // the per-relation filter/tag.
    import graft.load.WarehouseLoad
    import graft.plans.ManifestFileIndex
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import spark.implicits._
    val wh = tmpDir("graft-widdv-") + "/t"
    val hist = tmpDir("graft-widdvh-") + "/h"
    // generation 1: id INT — then hide a row via DV
    WarehouseLoad.commitStreamedBatch(spark,
      spark.range(10).select(col("id").cast("int").as("id"),
        (col("id") * 10).as("v")).coalesce(1).toDF(), wh, hist, "g1")
    assert(WarehouseLoad.takedownVectorized(spark, wh, hist,
      Seq(3).toDF("id"), Seq("id")) == 1L)
    // generation 2 widens id to LONG: the DV'd table must stay
    // readable, still filtered, still log-built
    WarehouseLoad.commitStreamedBatch(spark,
      spark.range(100, 105).select(col("id"),
        (col("id") * 10).as("v")).coalesce(1).toDF(), wh, hist, "g2")
    def read() = WarehouseLoad.readWarehouse(spark, wh, hist).get
    assert(read().schema("id").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(read().count() == 14L)
    assert(read().filter(col("id") === 3L).count() == 0L)
    val locs = read().queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location
      }
    }
    assert(locs.size == 2 && locs.forall(_.isInstanceOf[ManifestFileIndex]),
      s"widened + DV'd table must stay on the log plan, got $locs")
    // DV takedown ACROSS the window (hits in both generations)
    assert(WarehouseLoad.takedownVectorized(spark, wh, hist,
      Seq(4L, 101L).toDF("id"), Seq("id")) == 2L)
    assert(read().count() == 12L)
    // physical takedown and MERGE probe through the widened window
    assert(WarehouseLoad.takedownCommitted(spark, wh, hist,
      Seq(5L).toDF("id"), Seq("id")) == 1L)
    val (u, i) = WarehouseLoad.mergeCommitted(spark, wh, hist,
      Seq((6L, 999L), (200L, 1L)).toDF("id", "v"), Seq("id"))
    assert((u, i) == ((1L, 1L)), s"got ($u, $i)")
    assert(read().filter(col("id") === 6L).select("v")
      .collect().map(_.getLong(0)).toSeq == Seq(999L))
    // the change feed's tagger also resolves on a widened table
    // (append window: the g2 commit landed at version 3)
    val feed = WarehouseLoad.changes(spark, wh, hist, 2, 3).get
    assert(feed.columns.contains("_graft_batch"))
    assert(feed.count() == 5L)
  }

  test("committed-warehouse takedown rewrites only hit batches; vacuum completes the deletion") {
    import graft.load.WarehouseLoad
    val staging = tmpDir("graft-tdstage-")
    val wh = tmpDir("graft-tdwh-") + "/t"
    val hist = tmpDir("graft-tdhist-") + "/h"
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("customerid").collect().map(_.getLong(0)).sorted.toSeq

    Files.writeString(Paths.get(staging, "f1.json"),
      """{"CustomerID": "1", "FirstName": "a"}""" + "\n" +
      """{"CustomerID": "2", "FirstName": "b"}""" + "\n")
    WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers, wh, hist)
    Files.writeString(Paths.get(staging, "f2.json"),
      """{"CustomerID": "3", "FirstName": "c"}""" + "\n")
    WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers, wh, hist)
    val Seq(b1, b2) = WarehouseLoad.committedBatches(spark, hist)

    import spark.implicits._
    val keys = Seq(2L).toDF("customerid")
    assert(WarehouseLoad.takedownCommitted(spark, wh, hist,
      keys, Seq("customerid")) == 1L)
    // only the hit batch was rewritten (new id); the other kept its dir
    val after = WarehouseLoad.committedBatches(spark, hist)
    assert(after.size == 2)
    assert(after.contains(b2), "untouched batch must keep its identity")
    assert(!after.contains(b1), "hit batch must commit under a new id")
    assert(ids(WarehouseLoad.readWarehouse(spark, wh, hist).get) == Seq(1L, 3L))
    // idempotent: re-applying the served takedown is a pure no-op
    val head = WarehouseLoad.currentVersion(spark, hist)
    assert(WarehouseLoad.takedownCommitted(spark, wh, hist,
      keys, Seq("customerid")) == 0L)
    assert(WarehouseLoad.currentVersion(spark, hist) == head,
      "no-op takedown must not churn versions")
    // the load history survives the rewrite: nothing re-loads
    WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers, wh, hist)
    assert(ids(WarehouseLoad.readWarehouse(spark, wh, hist).get) == Seq(1L, 3L))
    // pre-takedown snapshot still time-travels, until vacuum makes the
    // deletion physical (the DELETE+VACUUM privacy contract)
    assert(ids(WarehouseLoad.readWarehouseAt(spark, wh, hist, 2).get) ==
      Seq(1L, 2L, 3L))
    assert(WarehouseLoad.vacuum(spark, wh, hist) == 2,
      "expected the old hit batch's data+history dirs reclaimed")
    intercept[IllegalStateException] {
      WarehouseLoad.readWarehouseAt(spark, wh, hist, 2)
    }
    assert(ids(WarehouseLoad.readWarehouse(spark, wh, hist).get) == Seq(1L, 3L))
  }

  test("quarantine load plans constant-size over a multi-thousand-file stage") {
    // The r12 mirror of the idempotent case (VERDICT r11 #2): the
    // quarantine leg's snapshot contract must also be a single-root
    // scan + broadcast semi-join — no vararg path list in the plan.
    val staging = tmpDir("graft-bigquarstage-")
    (0 until 2000).foreach { i =>
      Files.writeString(Paths.get(staging, f"f$i%04d.json"),
        s"""{"CustomerID": "$i", "FirstName": "n$i"}""" + "\n")
    }
    val Some((raw, _)) =
      graft.load.WarehouseLoad.quarantineRelation(spark, staging)
    val roots = raw.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.length
    }
    assert(roots == Seq(1),
      s"expected one single-root staging scan, got roots=$roots")
    val wh = tmpDir("graft-bigquarwh-") + "/t"
    val quar = tmpDir("graft-bigquarerr-") + "/q"
    graft.load.WarehouseLoad.batchQuarantine(spark, staging,
      Schemas.customers, wh, quar)
    assert(spark.read.parquet(wh).count() == 2000)
    // clean batch: the error-table write ran but emitted no rows (an
    // empty Spark write leaves no data parts, only markers)
    val quarParts =
      if (!Files.exists(Paths.get(quar))) Nil
      else {
        val s = Files.list(Paths.get(quar))
        try s.iterator().asScala.toList.filter(
          _.getFileName.toString.endsWith(".parquet"))
        finally s.close()
      }
    assert(quarParts.isEmpty ||
      spark.read.parquet(quar).count() == 0,
      s"clean batch quarantined rows: $quarParts")
  }

  test("strict load refuses files with coercion failures") {
    val staging = tmpDir("graft-badstage-")
    Files.writeString(Paths.get(staging, "bad.json"),
      """{"customerid": "oops", "namestyle": "FALSE"}""" + "\n")
    val wh = tmpDir("graft-badwh-") + "/t"
    val hist = tmpDir("graft-badhist-") + "/h"
    intercept[WarehouseLoad.CoercionException] {
      WarehouseLoad.batchIdempotent(spark, staging, Schemas.customers,
        wh, hist, strict = true)
    }
    // the refused batch committed nothing and recorded no file as loaded
    assert(WarehouseLoad.currentVersion(spark, hist) == 0L)
    assert(WarehouseLoad.loadedFiles(spark, hist).forall(_.isEmpty))
  }

  /** Stage + load one wave of customer ids; returns the staging dir. */
  private def loadWave(staging: String, name: String, ids: Seq[Long],
                       wh: String, hist: String): Unit = {
    Files.writeString(Paths.get(staging, name),
      ids.map(i => s"""{"CustomerID": "$i", "FirstName": "c$i"}""")
        .mkString("", "\n", "\n"))
    graft.load.WarehouseLoad.batchIdempotent(spark, staging,
      Schemas.customers, wh, hist)
  }

  private def whIds(wh: String, hist: String): Seq[Long] =
    graft.load.WarehouseLoad.readWarehouse(spark, wh, hist).get
      .select("customerid").collect().map(_.getLong(0)).sorted.toSeq

  test("compaction whose inputs a takedown rewrote aborts and retries — no duplicates, no resurrection") {
    import graft.load.WarehouseLoad
    val staging = tmpDir("graft-ccstage-")
    val wh = tmpDir("graft-ccwh-") + "/t"
    val hist = tmpDir("graft-cchist-") + "/h"
    loadWave(staging, "w1.json", Seq(1L, 2L), wh, hist)
    loadWave(staging, "w2.json", Seq(3L, 4L), wh, hist)

    // Between the compactor's fold write and its commit, a takedown
    // removes customer 2 — rewriting an input batch. The stale fold
    // still CONTAINS row 2; committing it would resurrect a served
    // privacy deletion. The CAS derive must detect the vanished input,
    // abort, and the retry must fold the POST-takedown snapshot.
    import spark.implicits._
    var fired = false
    WarehouseLoad.compactWithFailpoint(spark, wh, hist,
      failpoint = at => if (at == "fold-written" && !fired) {
        fired = true
        assert(WarehouseLoad.takedownCommitted(spark, wh, hist,
          Seq(2L).toDF("customerid"), Seq("customerid")) == 1L)
      })
    assert(fired)
    val after = WarehouseLoad.committedBatches(spark, hist)
    assert(after.size == 1, s"expected one folded batch, got $after")
    assert(whIds(wh, hist) == Seq(1L, 3L, 4L),
      "stale fold resurrected a taken-down row or duplicated rows")
    // vacuum reclaims the aborted fold's orphan dirs (they are in no
    // retained version)
    WarehouseLoad.vacuum(spark, wh, hist)
    assert(whIds(wh, hist) == Seq(1L, 3L, 4L))
  }

  test("takedown whose probed batches a compaction folded re-runs and converges — no silent under-apply") {
    import graft.load.WarehouseLoad
    val staging = tmpDir("graft-tcstage-")
    val wh = tmpDir("graft-tcwh-") + "/t"
    val hist = tmpDir("graft-tchist-") + "/h"
    loadWave(staging, "w1.json", Seq(1L, 2L), wh, hist)
    loadWave(staging, "w2.json", Seq(3L, 4L), wh, hist)

    // Between the takedown's rewrites and its commit, a compaction
    // folds every batch it probed. Its remaps cannot land (the fold
    // still holds the hit rows); the pass must report them vanished
    // and the re-run must rewrite the fold — the DELETE either covers
    // the table or throws, never silently under-applies.
    import spark.implicits._
    var fired = false
    val removed = WarehouseLoad.takedownWithFailpoint(spark, wh, hist,
      Seq(2L, 4L).toDF("customerid"), Seq("customerid"),
      failpoint = at => if (at == "rewrites-written" && !fired) {
        fired = true
        WarehouseLoad.compactCommitted(spark, wh, hist)
      })
    assert(fired)
    assert(removed == 2L, s"expected 2 rows removed once each, got $removed")
    assert(whIds(wh, hist) == Seq(1L, 3L),
      "takedown racing a compaction under-applied or double-applied")
    // idempotent: the served takedown re-runs as a no-op
    assert(WarehouseLoad.takedownCommitted(spark, wh, hist,
      Seq(2L, 4L).toDF("customerid"), Seq("customerid")) == 0L)
    WarehouseLoad.vacuum(spark, wh, hist)
    assert(whIds(wh, hist) == Seq(1L, 3L))
  }

  test("vacuum refreshes a lagging _COMMITTED hint; a hint corrupted after vacuum recovers via the version listing") {
    import graft.load.{AtomicManifest, WarehouseLoad}
    val staging = tmpDir("graft-vhstage-")
    val wh = tmpDir("graft-vhwh-") + "/t"
    val hist = tmpDir("graft-vhhist-") + "/h"
    loadWave(staging, "w1.json", Seq(1L), wh, hist)
    loadWave(staging, "w2.json", Seq(2L), wh, hist)
    loadWave(staging, "w3.json", Seq(3L), wh, hist)
    assert(WarehouseLoad.currentVersion(spark, hist) == 3)

    // Lag the hint to v1 (consecutive crashes in the publish→hint
    // window / out-of-order hint overwrites), then vacuum with
    // retention 1 — v1 and v2 manifests are pruned. Without the
    // hint refresh, the forward probe would strand at v1 (pruned) and
    // read the table as corrupt/empty (ADVICE r13 medium).
    val v1Batches = WarehouseLoad.versionBatches(spark, hist, 1).get
    AtomicManifest.write(spark, hist, "_COMMITTED",
      "#v=1\n" + v1Batches.mkString("\n"))
    WarehouseLoad.vacuum(spark, wh, hist)
    assert(WarehouseLoad.currentVersion(spark, hist) == 3)
    assert(whIds(wh, hist) == Seq(1L, 2L, 3L))

    // Corrupt the hint AFTER the vacuum (an out-of-order overwrite by
    // a concurrent committer): v1 is pruned, so the probe cannot
    // advance from the stale hint — the _versions listing fallback
    // must recover the true head instead of reading the table empty.
    AtomicManifest.write(spark, hist, "_COMMITTED",
      "#v=1\n" + v1Batches.mkString("\n"))
    assert(WarehouseLoad.currentVersion(spark, hist) == 3)
    assert(whIds(wh, hist) == Seq(1L, 2L, 3L))
    // and the hint-missing variant of the same stale state
    AtomicManifest.write(spark, hist, "_COMMITTED", "")
    assert(WarehouseLoad.currentVersion(spark, hist) == 3)
    assert(whIds(wh, hist) == Seq(1L, 2L, 3L))
  }

  test("delta version log: appends write deltas, rewrites + cadence + vacuum cutoff write snapshots, reconstruction exact") {
    import graft.load.{AtomicManifest, WarehouseLoad}
    val staging = tmpDir("graft-dlstage-")
    val wh = tmpDir("graft-dlwh-") + "/t"
    val hist = tmpDir("graft-dlhist-") + "/h"
    val conf = spark.sparkContext.hadoopConfiguration
    conf.setLong("graft.commit.snapshotEvery", 4L)
    try {
      (1 to 6).foreach(i =>
        loadWave(staging, s"w$i.json", Seq(i.toLong), wh, hist))
      def raw(v: Long): String =
        AtomicManifest.read(spark, hist + "/_versions", f"v$v%08d").get
      // append commits publish O(1) deltas; the cadence (every 4th
      // version) publishes a full list even mid-append-run
      Seq(1L, 2L, 3L, 5L, 6L).foreach(v => assert(
        raw(v).startsWith("#delta"), s"v$v should be a delta manifest"))
      assert(!raw(4).startsWith("#delta"), "v4 is the cadence snapshot")
      // reconstruction is exact at EVERY version (walk-back across the
      // snapshot boundary and down to v0 for v1..v3)
      (1 to 6).foreach(v => assert(
        WarehouseLoad.versionBatches(spark, hist, v.toLong).get.size == v))
      assert(whIds(wh, hist) == (1L to 6L))
      // time travel and the change feed read delta-only spans exactly
      assert(WarehouseLoad.readWarehouseAt(spark, wh, hist, 2).get
        .count() == 2)
      assert(WarehouseLoad.changes(spark, wh, hist, 2, 6).get.count() == 4)

      // a REWRITE (compaction: not a pure append) publishes a snapshot
      WarehouseLoad.compactCommitted(spark, wh, hist) // v7
      assert(!raw(7).startsWith("#delta"),
        "a rewrite commit must publish a full snapshot")
      assert(whIds(wh, hist) == (1L to 6L))

      // pre-delta-format compat: a hand-published full-list manifest
      // (the r13 format — no marker) reads as a snapshot, and the next
      // append's delta chains on top of it
      val head7 = WarehouseLoad.committedBatches(spark, hist)
      assert(AtomicManifest.createExclusive(spark, hist + "/_versions",
        "v00000008", head7.mkString("\n")))
      loadWave(staging, "w7.json", Seq(7L), wh, hist) // v9: delta
      assert(raw(9).startsWith("#delta"))
      val v9 = WarehouseLoad.versionBatches(spark, hist, 9).get
      assert(v9.take(head7.size) == head7 && v9.size == head7.size + 1,
        s"v9 must reconstruct through the legacy-format snapshot, got $v9")
      assert(whIds(wh, hist) == (1L to 7L))

      // vacuum SNAPSHOT-IFIES the cutoff before pruning below it, so
      // the retained head (a delta) stays reconstructible afterwards
      WarehouseLoad.vacuum(spark, wh, hist, retainVersions = 1)
      assert(!raw(9).startsWith("#delta"),
        "vacuum must rewrite the cutoff version as a snapshot")
      assert(WarehouseLoad.versionBatches(spark, hist, 9).get == v9)
      assert(whIds(wh, hist) == (1L to 7L))
      intercept[IllegalStateException] {
        WarehouseLoad.readWarehouseAt(spark, wh, hist, 8)
      }
    } finally conf.unset("graft.commit.snapshotEvery")
  }
}
