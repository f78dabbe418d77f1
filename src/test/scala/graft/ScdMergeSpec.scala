package graft

import org.apache.spark.sql.functions._
import graft.load.ScdMerge

class ScdMergeSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("SCD2 merge: change closes + reopens, new inserts, same passes through") {
    val t0 = ts("2026-01-01 00:00:00")
    val t1 = ts("2026-02-01 00:00:00")
    val dim0 = ScdMerge.init(
      Seq((1L, "alice", "NY"), (2L, "bob", "LA"), (3L, "carol", "SF"))
        .toDF("id", "name", "city"), t0)

    val updates = Seq(
      (1L, "alice", "BOSTON"),  // changed city
      (2L, "bob", "LA"),        // unchanged
      (4L, "dave", "DC"))       // new key
      .toDF("id", "name", "city")

    val dim1 = ScdMerge.merge(dim0, updates, Seq("id"),
      Seq("name", "city"), t1).cache()

    assert(dim1.count() == 5) // 3 originals + 1 closed-reopen + 1 insert

    val aliceRows = dim1.filter($"id" === 1L)
      .orderBy("effective_from")
      .select("city", "is_current", "effective_to")
      .collect()
    assert(aliceRows.length == 2)
    assert(aliceRows(0).getString(0) == "NY" && !aliceRows(0).getBoolean(1)
      && aliceRows(0).getTimestamp(2) == t1)
    assert(aliceRows(1).getString(0) == "BOSTON" && aliceRows(1).getBoolean(1)
      && aliceRows(1).isNullAt(2))

    // unchanged key: single, still-open original version
    val bob = dim1.filter($"id" === 2L).collect()
    assert(bob.length == 1 && bob(0).getAs[Boolean]("is_current"))
    assert(bob(0).getAs[java.sql.Timestamp]("effective_from") == t0)

    // untouched key passes through
    assert(dim1.filter($"id" === 3L).count() == 1)

    // new key inserted open at t1
    val dave = dim1.filter($"id" === 4L).collect()
    assert(dave.length == 1 && dave(0).getAs[Boolean]("is_current"))
    assert(dave(0).getAs[java.sql.Timestamp]("effective_from") == t1)

    // exactly one current row per key
    val dup = dim1.filter($"is_current")
      .groupBy($"id").count().filter($"count" > 1).count()
    assert(dup == 0)
  }

  test("SCD2 merge is idempotent: re-applying the same batch is a no-op") {
    val t0 = ts("2026-01-01 00:00:00")
    val t1 = ts("2026-02-01 00:00:00")
    val t2 = ts("2026-03-01 00:00:00")
    val dim0 = ScdMerge.init(
      Seq((1L, "alice", "NY"), (2L, "bob", "LA")).toDF("id", "name", "city"),
      t0)
    val updates = Seq((1L, "alice", "BOSTON")).toDF("id", "name", "city")
    val dim1 = ScdMerge.merge(dim0, updates, Seq("id"),
      Seq("name", "city"), t1)
    val dim2 = ScdMerge.merge(dim1, updates, Seq("id"),
      Seq("name", "city"), t2)
    assert(dim2.count() == dim1.count())
    assert(dim2.exceptAll(dim1).count() == 0)
  }

  test("SCD2 delta holds exactly the rows merge changes; a re-apply's delta is empty") {
    val t0 = ts("2026-01-01 00:00:00")
    val t1 = ts("2026-02-01 00:00:00")
    val t2 = ts("2026-03-01 00:00:00")
    val dim0 = ScdMerge.init(
      Seq((1L, "alice", "NY"), (2L, "bob", "LA")).toDF("id", "name", "city"),
      t0)
    val updates = Seq((1L, "alice", "BOSTON"), (2L, "bob", "LA"),
      (3L, "carol", "SF")).toDF("id", "name", "city")
    val key = Seq("id", ScdMerge.EffectiveFrom)
    val dim1 = ScdMerge.merge(dim0, updates, Seq("id"),
      Seq("name", "city"), t1)
    val delta = ScdMerge.delta(dim0, updates, Seq("id"),
      Seq("name", "city"), t1)
    // delta = alice's closed NY version + alice's BOSTON + carol
    assert(delta.count() == 3)
    assert(delta.exceptAll(dim1).isEmpty, "every delta row is in the merge")
    // upserting the delta into dim0 on (key, effective_from) is the merge
    val upserted = dim0.join(delta.select(key.map(col): _*), key, "left_anti")
      .unionByName(delta).select(dim1.columns.map(col): _*)
    assert(upserted.exceptAll(dim1).isEmpty && dim1.exceptAll(upserted).isEmpty)
    assert(ScdMerge.delta(dim1, updates, Seq("id"), Seq("name", "city"), t2)
      .isEmpty)
  }

  test("SCD2 merge handles null tracked values (null != value, null == null)") {
    val t0 = ts("2026-01-01 00:00:00")
    val t1 = ts("2026-02-01 00:00:00")
    val dim0 = ScdMerge.init(
      Seq((1L, Option.empty[String]), (2L, Some("LA")))
        .toDF("id", "city"), t0)
    val updates = Seq((1L, Option.empty[String]), (2L, Option.empty[String]))
      .toDF("id", "city")
    val dim1 = ScdMerge.merge(dim0, updates, Seq("id"), Seq("city"), t1)
    // key 1: null -> null is unchanged; key 2: LA -> null is a change
    assert(dim1.filter($"id" === 1L).count() == 1)
    assert(dim1.filter($"id" === 2L).count() == 2)
    assert(dim1.filter($"id" === 2L && $"is_current").count() == 1)
  }
}
