package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.load.WarehouseLoad

/** Delete-by-key on the commit log ([[WarehouseLoad.takedownCommitted]]):
  * removal, atomicity via the version commit, idempotent re-apply, and
  * the no-match fast path. */
class TakedownSpec extends SparkSpec {
  import spark.implicits._

  /** A fresh commit-log table holding `rows` as its first version:
    * `(warehouseDir, historyDir)`. */
  private def committed(rows: DataFrame): (String, String) = {
    val staging = tmpDir("graft-takedown-stage-") + "/s"
    rows.coalesce(1).write.json(staging)
    val wh = tmpDir("graft-takedown-wh-") + "/t"
    val hist = tmpDir("graft-takedown-hist-") + "/h"
    WarehouseLoad.batchIdempotent(spark, staging, rows.schema, wh, hist)
    assert(WarehouseLoad.currentVersion(spark, hist) == 1L)
    (wh, hist)
  }

  test("takedown removes exactly the listed keys and repoints the manifest") {
    val docs = (1L to 100L).map(i => (i, s"doc-$i")).toDF("doc_id", "text")
    val (wh, hist) = committed(docs)
    val keys = Seq(3L, 7L, 7L, 999L).toDF("doc_id") // dup + absent key
    val removed = WarehouseLoad.takedownCommitted(spark, wh, hist, keys,
      Seq("doc_id"))
    assert(removed == 2L)
    // one new version manifest is the head
    assert(WarehouseLoad.currentVersion(spark, hist) == 2L)
    val after = WarehouseLoad.readWarehouse(spark, wh, hist).get
    assert(after.count() == 98L)
    assert(after.filter(col("doc_id").isin(3L, 7L)).isEmpty)
    // the old version still reads whole (time travel)
    assert(WarehouseLoad.readWarehouseAt(spark, wh, hist, 1L).get
      .count() == 100L)
  }

  test("re-applying a served takedown is a no-op (no version commit)") {
    val (wh, hist) = committed((1L to 50L).toDF("doc_id"))
    val keys = Seq(10L, 20L).toDF("doc_id")
    assert(WarehouseLoad.takedownCommitted(spark, wh, hist, keys,
      Seq("doc_id")) == 2L)
    assert(WarehouseLoad.currentVersion(spark, hist) == 2L)
    assert(WarehouseLoad.takedownCommitted(spark, wh, hist, keys,
      Seq("doc_id")) == 0L)
    assert(WarehouseLoad.currentVersion(spark, hist) == 2L,
      "no-match apply must not commit a new version")
    assert(WarehouseLoad.readWarehouse(spark, wh, hist).get.count() == 48L)
  }

  test("composite keys remove only full-tuple matches") {
    val rows = Seq((1L, "en", "a"), (1L, "de", "b"), (2L, "en", "c"))
      .toDF("doc_id", "lang", "text")
    val (wh, hist) = committed(rows)
    val keys = Seq((1L, "en")).toDF("doc_id", "lang")
    assert(WarehouseLoad.takedownCommitted(spark, wh, hist, keys,
      Seq("doc_id", "lang")) == 1L)
    val left = WarehouseLoad.readWarehouse(spark, wh, hist).get
      .select("doc_id", "lang").as[(Long, String)].collect().toSet
    assert(left == Set((1L, "de"), (2L, "en")))
  }

  test("takedown on a table with no commit removes nothing and commits no version") {
    val wh = tmpDir("graft-takedown-wh-") + "/t"
    val hist = tmpDir("graft-takedown-hist-") + "/h"
    assert(WarehouseLoad.takedownCommitted(spark, wh, hist,
      Seq(1L).toDF("doc_id"), Seq("doc_id")) == 0L)
    assert(WarehouseLoad.currentVersion(spark, hist) == 0L)
    assert(WarehouseLoad.readWarehouse(spark, wh, hist).isEmpty)
  }
}
