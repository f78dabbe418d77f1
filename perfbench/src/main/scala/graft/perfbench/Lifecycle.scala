package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.load.WarehouseLoad
import graft.schema.Schemas

/** `lifecycle` — closed loop, one maintenance client on a seeded base
  * table. Each round: one append, one `mergeCommitted` upsert, one
  * `takedownVectorized` erase, [[Lookups]] zone-prunable point lookups and
  * one `readWarehouseAt(head - k)`; every [[CompactEvery]] rounds a
  * `compactCommitted` + `vacuum`. Rewriting writers share the commit log
  * with reads whose cost depends on pruning and on the batches and
  * deletion vectors that accumulate between compactions. A run ends on
  * a compaction round, so every run has the same mix of calls.
  *
  * Compaction every second round keeps a run to two rounds of calls
  * per cycle. It is also bounded by a defect: every merge rewrite
  * appends 35 characters to a batch id and every DV takedown 19, and
  * once a batch has been rewritten by both in four rounds without a
  * compaction its intent file name passes the 255-byte file-name limit
  * and the commit fails. Compaction gives the fold a short fresh id;
  * `load.max_batch_id_len` tracks the growth.
  *
  * An in-memory model of the table is checked after every round (live
  * rows) and at every time-travel read (the model's history), outside
  * the timed calls. */
final class Lifecycle(seed: Long) extends Workload {
  val BaseBatches = 3
  val BatchRows = 1500
  val AppendRows = 200
  val MergeUpdates = 50
  val MergeInserts = 20
  val TakedownKeys = 20
  val Lookups = 8
  val CompactEvery = 2
  val RetainVersions = 6

  private type Model = Map[Long, CustomersCsv.Row]

  private var root = ""
  private var rnd: Random = _
  private var nextId = 1L
  private var model: Model = Map.empty
  private var history = mutable.Map.empty[Long, Model]
  private var stageSeq = 0
  private var rounds = 0
  private var timedNs = 0L
  private var cpuNs = 0L
  private var failed = 0
  private val problems = mutable.ArrayBuffer.empty[String]
  /** (op name, seconds) for every timed client call. */
  private val calls = mutable.ArrayBuffer.empty[(String, Double)]
  private val probes = mutable.ArrayBuffer.empty[(String, Double)]

  private def wh = s"$root/warehouse"
  private def hist = s"$root/history"

  def setup(spark: SparkSession, dir: String): Unit = {
    root = dir
    rnd = new Random(seed * 31 + 7)
    nextId = 1L
    model = Map.empty
    history = mutable.Map.empty
    (0 until BaseBatches).foreach(_ => append(spark, BatchRows))
  }

  private def freshRows(n: Int): IndexedSeq[CustomersCsv.Row] = {
    val rows = CustomersCsv.rows(rnd, nextId, n)
    nextId = rows.last.id + 1
    rows
  }

  private def snapshot(spark: SparkSession): Unit =
    history(WarehouseLoad.currentVersion(spark, hist)) = model

  private def timed[T](op: String)(body: => T): T = {
    val c0 = Stats.cpuSnapshot()
    val t0 = System.nanoTime()
    val r = body
    val dt = System.nanoTime() - t0
    timedNs += dt
    cpuNs += Stats.cpuSince(c0)
    calls += op -> dt / 1e9
    r
  }

  private def append(spark: SparkSession, n: Int,
                     t: Tracer = new Tracer(false)): Unit = {
    val rows = freshRows(n)
    val stage = s"$root/stage/s$stageSeq"
    stageSeq += 1
    Files.createDirectories(Paths.get(stage))
    Files.write(Paths.get(s"$stage/part-0.json"), CustomersCsv.json(rows))
    timed("append") {
      t.span("load.commit", rounds) {
        WarehouseLoad.batchIdempotent(spark, stage, Schemas.customers, wh, hist)
      }
    }
    model ++= rows.map(r => r.id -> r)
    snapshot(spark)
  }

  private def liveKeys(n: Int): Seq[Long] = {
    val keys = model.keysIterator.toVector
    rnd.shuffle(keys).take(n)
  }

  private def sparkRow(r: CustomersCsv.Row): Row = Row(r.id, false, r.title,
    r.first, r.middle.orNull, r.last, r.suffix.orNull, r.company,
    r.salesPerson, r.email, r.phone, r.hash, r.salt, r.guid,
    new java.sql.Timestamp(r.modified * 1000))

  private def modelRow(r: Row): CustomersCsv.Row = CustomersCsv.Row(
    r.getLong(0), r.getString(2), r.getString(3),
    Option(r.getString(4)), r.getString(5), Option(r.getString(6)),
    r.getString(7), r.getString(8), r.getString(9), r.getString(10),
    r.getString(11), r.getString(12), r.getString(13),
    r.getTimestamp(14).getTime / 1000)

  private def round(spark: SparkSession, t: Tracer): Unit = {
    append(spark, AppendRows, t)

    val updates = liveKeys(MergeUpdates).map { k =>
      val r = model(k)
      r.copy(email = s"u$rounds.${r.email}", phone = f"${rnd.nextInt(1000)}%03d-555-0000",
        modified = r.modified + 86400)
    }
    val source = updates ++ freshRows(MergeInserts)
    val sourceDf = spark.createDataFrame(
      source.map(sparkRow).asJava, Schemas.customers)
    val (upd, ins) = timed("merge") {
      t.span("load.merge", rounds) {
        WarehouseLoad.mergeCommitted(spark, wh, hist, sourceDf, Seq("customerid"))
      }
    }
    if (upd != MergeUpdates || ins != MergeInserts)
      problems += s"round $rounds merge: ($upd, $ins), expected ($MergeUpdates, $MergeInserts)"
    model ++= source.map(r => r.id -> r)
    snapshot(spark)

    val doomed = liveKeys(TakedownKeys)
    val keysDf = spark.createDataFrame(doomed.map(Row(_)).asJava,
      org.apache.spark.sql.types.StructType(Seq(Schemas.customers("customerid"))))
    val hidden = timed("takedown") {
      t.span("load.takedown", rounds) {
        WarehouseLoad.takedownVectorized(spark, wh, hist, keysDf, Seq("customerid"))
      }
    }
    if (hidden != TakedownKeys)
      problems += s"round $rounds takedown hid $hidden rows, expected $TakedownKeys"
    model --= doomed
    snapshot(spark)

    val totalFiles =
      if (t.enabled) t.span("bench.probe", rounds) {
        WarehouseLoad.readWarehouse(spark, wh, hist)
          .map(_.inputFiles.length.toDouble).getOrElse(0.0)
      }
      else 0.0
    liveKeys(Lookups).foreach { k =>
      val (rows, filesRead) = timed("point_read") {
        t.span("plans.point_read", rounds) {
          val df = WarehouseLoad.readWarehouse(spark, wh, hist).get
            .filter(col("customerid") === k)
          (df.collect(), scanFiles(df))
        }
      }
      if (t.enabled) {
        probes += "files_read" -> filesRead
        probes += "files_total" -> totalFiles
      }
      if (rows.map(modelRow).toSeq != Seq(model(k)))
        problems += s"round $rounds lookup $k: got ${rows.toSeq}, expected ${model(k)}"
    }

    val head = WarehouseLoad.currentVersion(spark, hist)
    val v = head - 1 - rnd.nextInt(3)
    val tt = timed("time_travel") {
      t.span("load.time_travel", rounds) {
        WarehouseLoad.readWarehouseAt(spark, wh, hist, v).get
          .agg(count(lit(1)), sum("customerid")).head()
      }
    }
    history.get(v) match {
      case Some(m) =>
        if (tt.getLong(0) != m.size || tt.getLong(1) != m.keysIterator.sum)
          problems += s"round $rounds time travel to $v: (${tt.getLong(0)}, " +
            s"${tt.getLong(1)}), expected (${m.size}, ${m.keysIterator.sum})"
      case None => problems += s"round $rounds: no model history for version $v"
    }

    if (rounds % CompactEvery == 0) {
      val before: Set[Path] = if (!t.enabled) Set.empty
        else t.span("bench.probe", rounds) {
          probes += "max_batch_id_len" -> maxBatchIdLen(spark)
          Main.filesUnder(wh).toSet
        }
      timed("compact") {
        t.span("load.compact", rounds) {
          WarehouseLoad.compactCommitted(spark, wh, hist)
        }
      }
      snapshot(spark)
      val mid: Set[Path] = if (t.enabled) Main.filesUnder(wh).toSet else Set.empty
      timed("vacuum") {
        t.span("load.vacuum", rounds) {
          WarehouseLoad.vacuum(spark, wh, hist, RetainVersions)
        }
      }
      if (t.enabled) {
        probes += "bytes_rewritten_mb" ->
          (mid -- before).toSeq.map(Files.size(_)).sum / (1024.0 * 1024.0)
        probes += "files_deleted" -> (mid -- Main.filesUnder(wh)).size.toDouble
      }
      val keep = history.keys.toSeq.sorted.takeRight(RetainVersions)
      history = history.filter { case (k, _) => keep.contains(k) }
    }
  }

  /** Longest live batch id, from the batch directories (`b<id>`) of the
    * head's data files. */
  private def maxBatchIdLen(spark: SparkSession): Double =
    WarehouseLoad.readWarehouse(spark, wh, hist).get.inputFiles
      .map(f => new org.apache.hadoop.fs.Path(f).getParent)
      .map { p =>
        Iterator.iterate(p)(_.getParent).takeWhile(_ != null)
          .map(_.getName).find(_.startsWith("b")).getOrElse("b").length - 1
      }.max.toDouble

  /** Files the executed plan's scan nodes actually read (`numFiles`). */
  private def scanFiles(df: org.apache.spark.sql.DataFrame): Double =
    Lifecycle.collectScans(df.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value).sum.toDouble

  def measure(spark: SparkSession, tracer: Tracer, seconds: Double): Unit = {
    // Round 0 is untimed and compacts, so it warms every call path.
    round(spark, new Tracer(false))
    gate(spark)
    rounds += 1
    calls.clear()
    timedNs = 0L
    cpuNs = 0L
    tracer.window(
      while (timedNs < seconds * 1e9 || (rounds - 1) % CompactEvery != 0) {
        try tracer.span("lifecycle.round", rounds) { round(spark, tracer) }
        catch {
          case e: Exception =>
            failed += 1
            problems += s"round $rounds: $e"
        }
        tracer.span("bench.gate", rounds) { gate(spark) }
        rounds += 1
      })
  }

  /** Live rows at the head must equal the model. */
  private def gate(spark: SparkSession): Unit = {
    val got = WarehouseLoad.readWarehouse(spark, wh, hist).get.collect()
      .map(modelRow)
    if (got.length != model.size || got.exists(r => !model.get(r.id).contains(r)))
      problems += s"round $rounds: live rows differ from the model " +
        s"(${got.length} rows, expected ${model.size})"
  }

  def check(spark: SparkSession): Seq[String] = {
    amp = spaceAmp(spark)
    problems.toSeq
  }

  def attempted: Int = calls.size
  def failedOps: Int = failed

  private def latencies(op: String) = calls.filter(_._1 == op).map(_._2).toSeq
  private val Writes = Set("append", "merge", "takedown", "compact", "vacuum")
  private def writesPerS = {
    val w = calls.filter(c => Writes(c._1))
    w.size / w.map(_._2).sum
  }
  private def spaceAmp(spark: SparkSession): Double = {
    val once = s"$root/once"
    WarehouseLoad.readWarehouse(spark, wh, hist).get
      .write.mode("overwrite").parquet(once)
    (Main.bytesUnder(wh) + Main.bytesUnder(hist)) /
      Main.bytesUnder(once).toDouble
  }

  /** The geometric mean of the per-call medians of the three calls the
    * workload is about — merge, takedown and point read — so that a
    * doubling of any one of them moves it by 26%. */
  def endToEnd: Map[String, Double] = Map(
    "latency_s" -> Stats.geomean(
      Seq("merge", "takedown", "point_read").map(op => Stats.median(latencies(op)))),
    "cpu_s_per_op" -> cpuNs / 1e9 / calls.size)

  private var amp = 0.0

  def summary: Map[String, Double] = Map(
    "merge_p50_s" -> Stats.median(latencies("merge")),
    "takedown_p50_s" -> Stats.median(latencies("takedown")),
    "append_p50_s" -> Stats.median(latencies("append")),
    "read_p50_s" -> Stats.median(latencies("point_read")),
    "read_p90_s" -> Stats.quantile(latencies("point_read"), 0.9),
    "time_travel_p50_s" -> Stats.median(latencies("time_travel")),
    "maintenance_p50_s" -> Stats.median(
      latencies("compact").zip(latencies("vacuum")).map(p => p._1 + p._2)),
    "writes_per_s" -> writesPerS,
    "rounds" -> (rounds - 1).toDouble,
    "space_amp" -> amp)

  def layers(billed: Seq[Tracer.Billed]): Map[String, Double] = {
    val q = Seq("wall_s", "jobs", "gap_s", "plan_s", "exec_cpu_s")
    def probe(n: String) = probes.filter(_._1 == n).map(_._2).toSeq
    Stats.callMedians(billed, "load.commit", q) ++
      Stats.callMedians(billed, "load.merge", q) ++
      Stats.callMedians(billed, "load.takedown", q) ++
      Stats.callMedians(billed, "plans.point_read", Seq("wall_s")) ++
      Stats.callMedians(billed, "load.compact", Seq("wall_s")) ++
      Stats.callMedians(billed, "load.vacuum", Seq("wall_s")) ++
      Stats.callMedians(billed, "load.time_travel", Seq("wall_s")) ++
      Map(
        "plans.point_read.files_read" -> Stats.median(probe("files_read")),
        "plans.point_read.files_total" -> Stats.median(probe("files_total")),
        "plans.files_read_ratio" ->
          probe("files_read").sum / probe("files_total").sum,
        "load.live_files" -> Stats.median(probe("files_total")),
        "load.compact.bytes_rewritten_mb" ->
          Stats.median(probe("bytes_rewritten_mb")),
        "load.vacuum.files_deleted" -> Stats.median(probe("files_deleted")),
        "load.space_amp" -> amp,
        "load.versions" -> history.keys.max.toDouble,
        "load.max_batch_id_len" -> (0.0 +: probe("max_batch_id_len")).max)
  }

  def release(): Unit = {
    model = Map.empty
    history = mutable.Map.empty
  }
}

object Lifecycle extends AdaptiveSparkPlanHelper {
  def collectScans(plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[FileSourceScanExec] =
    collect(plan) { case s: FileSourceScanExec => s }
}
