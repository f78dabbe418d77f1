package graft

import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.col
import org.scalatest.{Args, BeforeAndAfterAll, Status, SucceededStatus}

import graft.load.WarehouseLoad
import graft.plans.MetadataOnlyCount

/** Re-runs a suite's tests with [[MetadataOnlyCount]] excluded from the
  * optimizer, so every `count()` in them reads the files again. Their
  * counts over committed tables were written against a scan: a vacuum
  * that deleted live files, a deletion vector the read does not apply
  * or a snapshot that no longer reads showed there as a wrong count. The
  * rule answers those counts from the manifests, which none of these
  * faults changes. The plain suite keeps checking the metadata answer;
  * this one keeps checking the read. `scanned` names the tests whose
  * counts the rule answers. */
trait ScansCounts extends SparkSpec with BeforeAndAfterAll {
  protected def scanned: Seq[String]

  private val Guard = "count() over a committed table scans in this suite"

  private val Excluded = "spark.sql.optimizer.excludedRules"

  /** Only `scanned` (and the guard) run; the suite's other tests count
    * nothing the rule answers, and the plain suite runs them. */
  override protected def runTest(testName: String, args: Args): Status =
    if (testName == Guard || scanned.contains(testName))
      super.runTest(testName, args)
    else SucceededStatus

  override def beforeAll(): Unit = {
    val missing = scanned.filterNot(testNames)
    require(missing.isEmpty, s"no such test in $suiteName: $missing")
    super.beforeAll()
    spark.conf.set(Excluded, MetadataOnlyCount.ruleName)
  }

  override def afterAll(): Unit =
    try spark.conf.unset(Excluded) finally super.afterAll()

  test(Guard) {
    val wh = tmpDir("graft-scan-") + "/t"
    val hist = tmpDir("graft-scanh-") + "/h"
    WarehouseLoad.commitStreamedBatch(spark,
      spark.range(10).select(col("id").as("k")), wh, hist, "A")
    val read = WarehouseLoad.readWarehouse(spark, wh, hist).get
    assert(!read.groupBy().count().queryExecution.optimizedPlan
      .isInstanceOf[LocalRelation])
    assert(read.count() == 10L)
  }
}

class PipelineScanCountSpec extends PipelineSpec with ScansCounts {
  protected def scanned: Seq[String] = Seq(
    "batch pipeline: CSV → JSON → typed warehouse parity",
    "re-running the load leg over the same staging adds nothing (load history)",
    "idempotent batch load skips already-loaded files (COPY history)",
    "crashed idempotent load commits nothing and re-runs to exactly-once",
    "idempotent load plans constant-size over a multi-thousand-file stage",
    "a file whose decoded name still percent-encodes loads exactly once",
    "a staged file of only blank lines does not poison the coverage guard",
    "schema-evolved batches read, feed, and takedown as one relation",
    "restore commits an old snapshot as the new head: history intact, feed refuses, vacuum makes it physical, appends resume",
    "reloading a rolled-back file after restore cannot clobber the historical batch dir (path-derived id bumps)",
    "committed-warehouse MERGE: upsert edges — cardinality, empty table, checks, multi-match",
    "file-granular takedown: non-hit FILES carry byte-identically inside a rewritten batch",
    "deletion-vector takedown: zero-rewrite delete, filtered everywhere, compaction materializes",
    "over-cap deletion vectors fall back per batch: hidden rows stay hidden, unhit files carry, time travel intact",
    "type-widening window composes with deletion vectors and _metadata consumers",
    "quarantine load plans constant-size over a multi-thousand-file stage",
    "quarantine load is exactly-once: re-runs add nothing, a crash at any failpoint re-runs to one copy of every clean and error row",
    "delta version log: appends write deltas, rewrites + cadence + vacuum cutoff write snapshots, reconstruction exact")
}

class TakedownScanCountSpec extends TakedownSpec with ScansCounts {
  protected def scanned: Seq[String] = Seq(
    "takedown removes exactly the listed keys and repoints the manifest",
    "re-applying a served takedown is a no-op (no version commit)")
}

class PlanScanCountSpec extends PlanSpec with ScansCounts {
  protected def scanned: Seq[String] = Seq(
    "manifest file index: committed scans + load history plan from the log, zero listing; a manifest without file lists fails loudly",
    "every commit-log writer records its manifest; the committed read plans from it alone",
    "a table with no zone-mappable column records its manifest: compactSmall folds it, a DV takedown carries its files",
    "a streamed epoch of binary/array columns records its manifest; a fold of file-less batches records one too",
    "batches recording one nested type with different null flags read as one table, through a merge rewrite too")
}

class StreamingMergeScanCountSpec extends StreamingMergeSpec with ScansCounts {
  protected def scanned: Seq[String] = Seq(
    "foreachBatch SCD merge: exactly-one merge per file across restarts",
    "mid-batch kill between snapshot write and manifest repoint replays to exactly-once",
    "an epoch with several updates to one key keeps the last file's")
}
