package graft

import org.apache.spark.sql.types._
import graft.load.{StreamingMerge, WarehouseLoad}

/** The SCD-2 streaming merge on the commit log: each epoch commits its
  * delta as one MERGE version of the dimension table under
  * `dim/warehouse` + `dim/history`. */
class StreamingMergeSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("city", StringType)))

  private def ts(batchId: Long) =
    java.sql.Timestamp.valueOf(f"2026-0${batchId + 1}%d-01 00:00:00")

  private def snapshot(dim: String) =
    WarehouseLoad.readWarehouse(spark, s"$dim/warehouse", s"$dim/history")
      .get

  private def version(dim: String): Long =
    WarehouseLoad.currentVersion(spark, s"$dim/history")

  private def stage(dir: String, name: String, rows: Seq[String]): Unit = {
    val p = java.nio.file.Paths.get(dir, name)
    java.nio.file.Files.write(p, rows.mkString("\n").getBytes("UTF-8"))
  }

  test("foreachBatch SCD merge: exactly-one merge per file across restarts") {
    val staging = tmpDir("smerge-stage-")
    val dim = tmpDir("smerge-dim-")
    val ckpt = tmpDir("smerge-ckpt-")

    stage(staging, "b0.json", Seq(
      """{"id": 1, "name": "alice", "city": "NY"}""",
      """{"id": 2, "name": "bob", "city": "LA"}"""))
    val q1 = StreamingMerge.continuous(spark, staging, schema, dim, ckpt,
      Seq("id"), Seq("name", "city"), ts)
    q1.awaitTermination()

    val snap1 = snapshot(dim)
    assert(snap1.count() == 2)
    assert(snap1.filter($"is_current").count() == 2)

    // second run: one changed row + one new row, in a new file
    stage(staging, "b1.json", Seq(
      """{"id": 1, "name": "alice", "city": "BOSTON"}""",
      """{"id": 3, "name": "carol", "city": "SF"}"""))
    val q2 = StreamingMerge.continuous(spark, staging, schema, dim, ckpt,
      Seq("id"), Seq("name", "city"), ts)
    q2.awaitTermination()

    val snap2 = snapshot(dim)
    assert(snap2.count() == 4) // alice closed+reopened, bob, carol
    assert(snap2.filter($"is_current").count() == 3)
    assert(snap2.filter($"id" === 1L).count() == 2)
    assert(snap2.filter($"id" === 1L && $"is_current")
      .select("city").as[String].head() == "BOSTON")

    // third run with NO new files: checkpoint prevents re-merging
    val q3 = StreamingMerge.continuous(spark, staging, schema, dim, ckpt,
      Seq("id"), Seq("name", "city"), ts)
    q3.awaitTermination()
    val snap3 = snapshot(dim)
    assert(snap3.count() == 4, "re-run without new files must be a no-op")
    assert(version(dim) == 2L, "one committed version per merged epoch")
  }

  test("mid-batch kill between snapshot write and manifest repoint replays to exactly-once") {
    // The two crash windows of an epoch: the merge writes its batch
    // dirs, then publishes the next version of the commit log, then
    // the stream commits the batch to its checkpoint. Kill before the
    // version publish and the batch replays from the still-committed
    // previous head, re-deriving the SAME delta (same content-derived
    // batch ids, overwriting the orphans); kill after it and the replay
    // finds its delta already applied — empty, no new version. One
    // observable merge per file either way, never two (an id must
    // never gain a duplicate SCD2 version from the replay).
    val staging = tmpDir("smerge-crash-stage-")
    val dim = tmpDir("smerge-crash-dim-")
    val ckpt = tmpDir("smerge-crash-ckpt-")
    def run(): Unit = StreamingMerge.continuous(spark, staging, schema,
      dim, ckpt, Seq("id"), Seq("name", "city"), ts).awaitTermination()
    def dropCheckpointCommit(batch: Int): Unit = {
      val commit = java.nio.file.Paths.get(ckpt, "commits", s"$batch")
      assert(java.nio.file.Files.exists(commit), "checkpoint layout changed")
      java.nio.file.Files.delete(commit)
      // the local fs keeps a checksum sibling; an orphaned .crc would
      // make the replay's atomic rename fail spuriously
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(ckpt, "commits", s".$batch.crc"))
    }

    stage(staging, "b0.json", Seq(
      """{"id": 1, "name": "alice", "city": "NY"}""",
      """{"id": 2, "name": "bob", "city": "LA"}"""))
    run()
    stage(staging, "b1.json", Seq(
      """{"id": 1, "name": "alice", "city": "BOSTON"}"""))
    run()
    assert(version(dim) == 2L)

    // Kill BEFORE the version publish: batch 1's dirs exist, but roll
    // the log back to v1 (unpublish v2, lower the hint) and remove the
    // checkpoint's batch-1 commit marker.
    val versions = java.nio.file.Paths.get(dim, "history", "_versions")
    Seq("v00000002", ".v00000002.crc").foreach(f =>
      java.nio.file.Files.deleteIfExists(versions.resolve(f)))
    graft.load.AtomicManifest.write(spark, s"$dim/history", "_COMMITTED",
      "#v=1")
    dropCheckpointCommit(1)
    assert(version(dim) == 1L)
    assert(snapshot(dim).count() == 2,
      "rolled-back log must expose the previous snapshot")
    run()
    def assertOneMerge(): Unit = {
      val snap = snapshot(dim)
      assert(snap.count() == 3,
        s"replay doubled a merge: ${snap.collect().toSeq}")
      assert(snap.filter($"id" === 1L).count() == 2,
        "alice must have exactly two SCD2 versions after the replayed merge")
      assert(snap.filter($"id" === 1L && $"is_current")
        .select("city").as[String].head() == "BOSTON")
      assert(snap.filter($"id" === 2L).count() == 1)
    }
    assertOneMerge()
    assert(version(dim) == 2L)

    // Kill AFTER the version publish: only the checkpoint commit is
    // lost. The replayed epoch's delta is empty — no new version.
    dropCheckpointCommit(1)
    run()
    assertOneMerge()
    assert(version(dim) == 2L, "a replayed committed epoch must be a no-op")
  }

  test("an epoch with several updates to one key keeps the last file's") {
    // AvailableNow drains every staged file in one epoch; all versions it
    // opens share one effective_from, so only the last update per key
    // (by file name) becomes the open version — on the empty table and
    // on a live one alike.
    val staging = tmpDir("smerge-dup-stage-")
    val dim = tmpDir("smerge-dup-dim-")
    val ckpt = tmpDir("smerge-dup-ckpt-")
    def run(): Unit = StreamingMerge.continuous(spark, staging, schema,
      dim, ckpt, Seq("id"), Seq("name", "city"), ts).awaitTermination()
    def current(id: Long): String = snapshot(dim)
      .filter($"id" === id && $"is_current").select("city").as[String]
      .collect().toSeq.mkString(",")

    stage(staging, "b0.json", Seq(
      """{"id": 1, "name": "alice", "city": "NY"}""",
      """{"id": 2, "name": "bob", "city": "LA"}"""))
    stage(staging, "b1.json", Seq(
      """{"id": 1, "name": "alice", "city": "BOSTON"}"""))
    run()
    assert(version(dim) == 1L)
    assert(snapshot(dim).count() == 2)
    assert(current(1L) == "BOSTON")

    stage(staging, "b2.json", Seq(
      """{"id": 2, "name": "bob", "city": "SF"}"""))
    stage(staging, "b3.json", Seq(
      """{"id": 2, "name": "bob", "city": "OAKLAND"}"""))
    run()
    assert(version(dim) == 2L)
    assert(snapshot(dim).filter($"id" === 2L).count() == 2)
    assert(current(2L) == "OAKLAND")
  }
}
