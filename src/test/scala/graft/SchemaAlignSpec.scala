package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.schema.SchemaAlign

class SchemaAlignSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private val target = StructType(Seq(
    StructField("id", LongType),
    StructField("flag", BooleanType),
    StructField("name", StringType),
    StructField("ts", TimestampType)))

  private def df(rows: Seq[Row], schema: StructType) =
    spark.createDataFrame(rows.asJava, schema)

  test("case-insensitive resolution, cast, and column reorder") {
    val src = df(Seq(Row("x", "7", "FALSE", "2005-08-01 00:00:00")),
      StructType(Seq(
        StructField("Name", StringType),
        StructField("ID", StringType),
        StructField("Flag", StringType),
        StructField("TS", StringType))))
    val out = SchemaAlign(src, target).collect().head
    assert(out.getLong(0) == 7L)
    assert(!out.getBoolean(1))
    assert(out.getString(2) == "x")
    assert(out.getTimestamp(3).toString == "2005-08-01 00:00:00.0")
  }

  test("missing target column becomes typed null; extras dropped") {
    val src = df(Seq(Row("9", "junk")), StructType(Seq(
      StructField("id", StringType), StructField("extra", StringType))))
    val out = SchemaAlign(src, target)
    assert(out.columns.toSeq == Seq("id", "flag", "name", "ts"))
    val r = out.collect().head
    assert(r.getLong(0) == 9L)
    assert(r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3))
  }

  test("uncastable value nulls (permissive) and castFailure flags it") {
    val src = df(Seq(Row("notanumber"), Row("5")),
      StructType(Seq(StructField("id", StringType))))
    val out = SchemaAlign(src, target).collect().sortBy(r => r.isNullAt(0))
    assert(out.last.isNullAt(0))
    val nBad = src.where(SchemaAlign.castFailure(src, target)).count()
    assert(nBad == 1)
  }

  test("ambiguous case-insensitive match throws") {
    val src = df(Seq(Row("1", "2")), StructType(Seq(
      StructField("ID", StringType), StructField("id", StringType))))
    intercept[SchemaAlign.AmbiguousColumnException] {
      SchemaAlign(src, target)
    }
  }

  test("case-sensitive mode only matches exact names") {
    val src = df(Seq(Row("3")), StructType(Seq(
      StructField("ID", StringType))))
    val out = SchemaAlign(src, target, caseInsensitive = false)
    assert(out.collect().head.isNullAt(0)) // 'ID' != 'id' when CS
  }

  test("failedColumns names exactly the columns that fail coercion") {
    val src = df(Seq(Row("notanumber", "alsobad", "fine"),
                     Row("5", "true", "ok")),
      StructType(Seq(
        StructField("ID", StringType),
        StructField("Flag", StringType),
        StructField("name", StringType))))
    val out = src.select(
        SchemaAlign.failedColumns(src, target).as("bad"))
      .collect().map(_.getSeq[String](0).toSet)
    assert(out.toSet == Set(Set("id", "flag"), Set.empty[String]))
  }

  test("quarantine load: bad rows land in the error table, good rows load") {
    import graft.load.WarehouseLoad
    val staging = tmpDir("graft-quar-stage-")
    val wh = tmpDir("graft-quar-wh-") + "/t"
    val hist = tmpDir("graft-quar-hist-") + "/h"
    val quar = tmpDir("graft-quar-err-") + "/q"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$staging/a.json"),
      """{"ID": "1", "Flag": "true", "Name": "good", "TS": "2005-08-01 00:00:00"}
        |{"ID": "oops", "Flag": "true", "Name": "bad-id", "TS": "2005-08-01 00:00:00"}
        |""".stripMargin)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$staging/b.json"),
      """{"ID": "2", "Flag": "nope", "Name": "bad-flag", "TS": "2005-08-01 00:00:00"}
        |""".stripMargin)
    WarehouseLoad.batchQuarantine(spark, staging, target, wh, hist, quar)
    // clean row loaded, typed
    val loaded = WarehouseLoad.readWarehouse(spark, wh, hist).get.collect()
    assert(loaded.length == 1 && loaded.head.getLong(0) == 1L,
      s"expected exactly the clean row: ${loaded.toSeq}")
    // both dirty rows quarantined WHOLE with provenance + diagnosis
    val q = spark.read.parquet(quar).collect()
      .map(r => (r.getAs[String]("source_file"),
        r.getAs[String]("raw_record"),
        r.getSeq[String](r.fieldIndex("failed_columns")).toSet))
    assert(q.length == 2)
    val byName = q.map { case (f, rec, cols) => (cols, rec, f) }.toSeq
    assert(byName.exists { case (cols, rec, f) =>
      cols == Set("id") && rec.contains("oops") && f.contains("a.json") })
    assert(byName.exists { case (cols, rec, f) =>
      cols == Set("flag") && rec.contains("nope") && f.contains("b.json") })
  }

  test("quarantine load: malformed JSON lines quarantine, never load as nulls") {
    // The ON_ERROR=CONTINUE contract (ADVICE r10): an unparseable line
    // must land in the error table with the raw text and a
    // '_corrupt_record' reason — a permissive read would turn it into an
    // all-null row that passes the cast check vacuously and LOADS.
    import graft.load.WarehouseLoad
    val staging = tmpDir("graft-quarmal-stage-")
    val wh = tmpDir("graft-quarmal-wh-") + "/t"
    val hist = tmpDir("graft-quarmal-hist-") + "/h"
    val quar = tmpDir("graft-quarmal-err-") + "/q"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$staging/a.json"),
      """{"ID": "1", "Flag": "true", "Name": "good", "TS": "2005-08-01 00:00:00"}
        |{"ID": "2", "Flag": "false", "Name": "trunc
        |""".stripMargin)
    WarehouseLoad.batchQuarantine(spark, staging, target, wh, hist, quar)
    val loaded = WarehouseLoad.readWarehouse(spark, wh, hist).get.collect()
    assert(loaded.length == 1 && loaded.head.getLong(0) == 1L,
      s"malformed line leaked into the warehouse: ${loaded.toSeq}")
    val q = spark.read.parquet(quar).collect()
    assert(q.length == 1)
    val row = q.head
    assert(row.getSeq[String](row.fieldIndex("failed_columns"))
      == Seq("_corrupt_record"))
    assert(row.getAs[String]("raw_record").contains("trunc"),
      "quarantine must preserve the raw unparseable line")
  }

  test("driver-side flat inference matches Spark's and falls back " +
      "outside its shape") {
    import graft.load.WarehouseLoad
    val dir = tmpDir("graft-inferflat-")
    def write(name: String, text: String): String = {
      val p = java.nio.file.Paths.get(s"$dir/$name")
      java.nio.file.Files.writeString(p, text)
      p.toUri.toString
    }
    def sparkInfer(files: Seq[String]) =
      spark.read.option("primitivesAsString", "true").json(files: _*).schema
    // the covered shape: flat primitive objects, differing key sets,
    // null values, blank lines, numbers/booleans — driver inference
    // must equal Spark's own, field for field
    val a = write("a.json",
      """{"id": "1", "zeta": 3, "Flag": true}
        |
        |{"id": "2", "alpha": null}
        |""".stripMargin)
    val b = write("b.json", """{"beta": 1.5e3, "id": "3"}""")
    val got = graft.load.StagedRead.inferFlatSchema(spark, Seq(a, b))
    assert(got.isDefined, "flat sample must infer driver-side")
    assert(got.get == sparkInfer(Seq(a, b)),
      s"driver inference diverged: ${got.get} vs ${sparkInfer(Seq(a, b))}")
    // fallback triggers: each must return None (the Spark job is the
    // exact semantics for these, so absent is never wrong)
    val nested = write("nested.json", """{"id": "1", "o": {"x": 1}}""")
    assert(graft.load.StagedRead.inferFlatSchema(spark, Seq(nested)).isEmpty)
    val arr = write("arr.json", """{"id": "1", "xs": [1, 2]}""")
    assert(graft.load.StagedRead.inferFlatSchema(spark, Seq(arr)).isEmpty)
    val topArr = write("topArr.json", """[{"id": "1"}]""")
    assert(graft.load.StagedRead.inferFlatSchema(spark, Seq(topArr)).isEmpty)
    val bad = write("bad.json", """{"id": "1", "name": "tru""")
    assert(graft.load.StagedRead.inferFlatSchema(spark, Seq(bad)).isEmpty)
    val dup = write("dup.json", """{"id": "1", "id": "2"}""")
    assert(graft.load.StagedRead.inferFlatSchema(spark, Seq(dup)).isEmpty)
    val trail = write("trail.json", """{"id": "1"} {"id": "2"}""")
    assert(graft.load.StagedRead.inferFlatSchema(spark, Seq(trail)).isEmpty)
    // all-empty-object sample: both sides infer the empty struct (the
    // caller's stagedSchema fallback handles it identically)
    val empty = write("empty.json", "{}\n{}\n")
    assert(graft.load.StagedRead.inferFlatSchema(spark, Seq(empty))
      .contains(StructType(Nil)))
    assert(sparkInfer(Seq(empty)) == StructType(Nil))
  }

  test("driver-side flat inference matches Spark's across line endings " +
      "and past 8 MB, and falls back over its bound") {
    import graft.load.StagedRead
    val dir = tmpDir("graft-inferflat2-")
    def write(name: String, text: String): String = {
      val p = java.nio.file.Paths.get(s"$dir/$name")
      java.nio.file.Files.writeString(p, text)
      p.toUri.toString
    }
    def sparkInfer(files: Seq[String]) =
      spark.read.option("primitivesAsString", "true").json(files: _*).schema
    def same(files: Seq[String], what: String): Unit = {
      val got = StagedRead.inferFlatSchema(spark, files)
      assert(got.contains(sparkInfer(files)),
        s"$what: driver $got vs Spark ${sparkInfer(files)}")
    }
    val crlf = write("crlf.json",
      "{\"id\": \"1\", \"b\": 2}\r\n\r\n{\"c\": null}\r\n")
    same(Seq(crlf), "CRLF")
    val cr = write("cr.json",
      "{\"id\": \"1\", \"zz\": true}\r{\"d\": 1.5}\r\r{\"e\": \"x\"}")
    same(Seq(cr), "lone CR")
    same(Seq(crlf, cr), "CRLF and lone CR together")

    // a sample past the former 8 MB bound, over two files
    val line = (0 until 12).map(i => s"\"k$i\": \"${"v" * 6}\"")
    val big = (0 until 2).map { f =>
      val sb = new StringBuilder
      var n = 0
      while (sb.length < 4400000) {
        sb ++= line.take(4 + n % 9).mkString("{", ", ", "}") += '\n'
        n += 1
      }
      write(s"big$f.json", sb.toString)
    }
    assert(big.map(f => new java.io.File(new java.net.URI(f)).length).sum >
      8L * 1024 * 1024)
    same(big, "a sample over 8 MB")

    // a sample whose total is over the bound: None before the second
    // file is read (a sparse file, so nothing that size is written)
    val sparse = new java.io.File(s"$dir/sparse.json")
    val raf = new java.io.RandomAccessFile(sparse, "rw")
    try raf.setLength(StagedRead.MaxInferBytes - 10) finally raf.close()
    assert(new java.io.File(new java.net.URI(crlf)).length > 10)
    assert(StagedRead.inferFlatSchema(spark, Seq(crlf, sparse.toURI.toString))
      .isEmpty)
  }
}
