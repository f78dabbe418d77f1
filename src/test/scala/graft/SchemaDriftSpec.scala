package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types._
import graft.schema.SchemaDrift

/** Schema-drift audit + evolution (VERDICT r11 #3): detection is
  * data-driven (a column is `retyped` only when values stop coercing,
  * not when the JSON carrier type merely differs from the DDL), new
  * columns evolve in as nullable fields, and declared types are never
  * auto-widened. q80 oracle-gates the full report over a seeded
  * fixture; this spec pins the per-kind edges.
  */
class SchemaDriftSpec extends SparkSpec {
  private val target = StructType(Seq(
    StructField("id", LongType),
    StructField("price", DoubleType),
    StructField("ts", TimestampType),
    StructField("gone", StringType)))

  private def stage(lines: String*): String = {
    val dir = tmpDir("graft-drift-")
    Files.writeString(Paths.get(dir, "a.json"),
      lines.mkString("", "\n", "\n"))
    dir
  }

  test("report classifies matched / retyped / new / missing with counts") {
    val staging = stage(
      """{"ID": 1, "Price": 10.5, "TS": "2005-08-01 00:00:00", "Extra": "x"}""",
      """{"ID": 2, "Price": "USD 3", "TS": "2005-08-02 00:00:00", "Extra": "y"}""",
      """{"ID": 3, "Price": "USD 4", "TS": "2005-08-03 00:00:00", "Extra": "z"}""")
    val rows = SchemaDrift.report(spark, staging, target).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(4))).toSeq
    assert(rows == Seq(
      ("Extra", "new", 0L),
      ("gone", "missing", 0L),
      ("id", "matched", 0L),
      ("price", "retyped", 2L), // exactly the two uncoercible values
      ("ts", "matched", 0L)))   // JSON strings that still coerce ≠ drift
  }

  test("ambiguous case-colliding source keys are reported, not silently bound") {
    // Case-insensitive JSON inference itself refuses colliding keys at
    // load time (PipelineSpec); the report runs case-SENSITIVE
    // inference and must surface the collision as `ambiguous`.
    val cs = spark.newSession()
    cs.conf.set("spark.sql.caseSensitive", "true")
    val staging = stage("""{"ID": 1, "id": 2, "price": 1.0}""")
    val kinds = SchemaDrift.report(cs, staging, target).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(kinds("id") == "ambiguous")
    assert(kinds("price") == "matched")
  }

  test("evolve appends new columns nullable, never touches declared types") {
    val staging = stage(
      """{"ID": 1, "Price": "USD 9", "Channel": "web", "Score": 7}""")
    val evolved = SchemaDrift.evolve(spark, staging, target)
    // declared prefix unchanged — retyped price stays DOUBLE (fix the
    // data or quarantine; evolution never widens a type under you)
    assert(evolved.fields.take(4).toSeq == target.fields.toSeq)
    assert(evolved.fieldNames.drop(4).toSeq == Seq("Channel", "Score"))
    assert(evolved("Channel").dataType == StringType)
    assert(evolved("Score").dataType == LongType)
    assert(evolved.fields.drop(4).forall(_.nullable))
    // and the evolved DDL drives a real load: new column lands typed
    val wh = tmpDir("graft-driftwh-") + "/t"
    val hist = tmpDir("graft-drifthist-") + "/h"
    graft.load.WarehouseLoad.batchIdempotent(spark, staging, evolved, wh,
      hist)
    val out = graft.load.WarehouseLoad.readWarehouse(spark, wh, hist).get
      .collect().head
    assert(out.getAs[String]("Channel") == "web")
    assert(out.getAs[Long]("Score") == 7L)
    assert(out.isNullAt(out.fieldIndex("price"))) // permissive null-through
  }
}
