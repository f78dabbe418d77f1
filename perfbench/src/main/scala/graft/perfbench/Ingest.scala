package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, TimestampType}

import graft.load.WarehouseLoad
import graft.schema.Schemas
import graft.sources.CsvSource
import graft.transform.Transcode

/** `ingest` — the paper's path, open loop. A lander thread drops one
  * customers CSV into its own arrival partition every [[IntervalS]]
  * seconds; the client thread runs each arrival through
  * `infer → read → toJson → batchIdempotent → readWarehouse count` in
  * arrival order. Freshness is timed from the arrival's scheduled
  * landing time, so a stall also charges the arrivals queued behind it.
  *
  * Sizes are stratified, not drawn, so every seed lands the same size
  * mix: a [[LargeShare]] of the arrivals are 10–50× the reference's 846
  * rows (evenly spread over that range, in seeded order), the rest are
  * 846 ± 5%. The interval keeps the client about two-thirds busy, so
  * freshness shows queueing behind the large files without a backlog
  * that grows over the run. */
final class Ingest(seed: Long) extends Workload {
  val IntervalS = 1.6
  val LargeShare = 0.15
  val SmallRows = 846
  val WarmArrivals = 2

  private final class Arrival(val idx: Int,
                              var rows: IndexedSeq[CustomersCsv.Row]) {
    val nRows: Int = rows.size
    var bytes: Array[Byte] = CustomersCsv.file(rows)
    var dueNs, landedNs, startNs, visibleNs = 0L
    var ok = false
  }

  private var root = ""
  private var arrivals = IndexedSeq.empty[Arrival]
  private var expected = mutable.ArrayBuffer.empty[CustomersCsv.Row]
  private val counts = mutable.ArrayBuffer.empty[(Long, Long)]
  private var failed = 0
  private val problems = mutable.ArrayBuffer.empty[String]
  private var clientNs = 0L
  private var cpuNs = 0L
  private var nextId = 1L
  private var rnd: Random = _

  private def wh = s"$root/warehouse"
  private def hist = s"$root/history"

  def setup(spark: SparkSession, dir: String): Unit = {
    root = dir
    expected = mutable.ArrayBuffer.empty
    counts.clear()
    problems.clear()
    failed = 0
    rnd = new Random(seed)
    nextId = 1L + rnd.nextInt(10)
    // Warm-up arrivals run the whole path once per set-up; the first one
    // also pins CsvSource.infer to the reference file's inferred types.
    (0 until WarmArrivals).foreach { i =>
      val a = newArrival(-1 - i, SmallRows)
      land(a)
      val inferred = process(spark, new Tracer(false), a)
      if (i == 0 && inferred != CustomersCsv.Inferred)
        problems += s"CsvSource.infer gave $inferred, expected ${CustomersCsv.Inferred}"
    }
  }

  private def newArrival(idx: Int, n: Int): Arrival = {
    val rows = CustomersCsv.rows(rnd, nextId, n)
    nextId = rows.last.id + 1 + rnd.nextInt(4)
    new Arrival(idx, rows)
  }

  private def plan(n: Int): IndexedSeq[Arrival] = {
    val large = math.max(1, (n * LargeShare).round.toInt)
    val multipliers = rnd.shuffle((0 until large).map(j =>
      10.0 + 40.0 * (j + 0.5) / large))
    val positions = rnd.shuffle((1 until n).toList).take(large).sorted
    val sizes = Array.fill(n)(-1)
    positions.zip(multipliers).foreach { case (p, m) =>
      sizes(p) = (SmallRows * m).toInt }
    (0 until n).map { i =>
      val rows =
        if (sizes(i) > 0) sizes(i)
        else (SmallRows * (0.95 + 0.1 * rnd.nextDouble())).toInt
      newArrival(i, rows)
    }
  }

  private def landDir(a: Arrival) = s"$root/land/a${a.idx}"
  private def stageDir(a: Arrival) = s"$root/stage/a${a.idx}"

  /** Write the file beside the partition, then rename it in, so the
    * partition never holds a partial CSV. */
  private def land(a: Arrival): Unit = {
    val tmp = Paths.get(s"$root/land/.tmp-${a.idx}.csv")
    Files.createDirectories(tmp.getParent)
    Files.write(tmp, a.bytes)
    Files.createDirectories(Paths.get(landDir(a)))
    Files.move(tmp, Paths.get(s"${landDir(a)}/customers.csv"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** The arrival's pipeline; records the row count visible at the new
    * head and returns the inferred schema. */
  private def process(spark: SparkSession, t: Tracer,
                      a: Arrival): StructType = {
    val schema = t.span("sources.infer", a.idx) {
      CsvSource.infer(spark, landDir(a), "landing")
    }
    val df = t.span("sources.read", a.idx) {
      CsvSource.read(spark, landDir(a), schema)
    }
    t.span("transform.transcode", a.idx) {
      Transcode.toJson(df, stageDir(a))
    }
    t.span("load.commit", a.idx) {
      WarehouseLoad.batchIdempotent(spark, stageDir(a), Schemas.customers,
        wh, hist)
    }
    val n = t.span("load.visible", a.idx) {
      WarehouseLoad.readWarehouse(spark, wh, hist).map(_.count()).getOrElse(0L)
    }
    expected ++= a.rows
    counts += n -> expected.size.toLong
    schema
  }

  def measure(spark: SparkSession, tracer: Tracer, seconds: Double): Unit = {
    val n = math.max(2, (seconds / IntervalS).round.toInt)
    arrivals = plan(n)
    val queue = new LinkedBlockingQueue[Arrival]()
    val t0 = System.nanoTime() + 200000000L
    val lander = new Thread(() => arrivals.foreach { a =>
      a.dueNs = t0 + (a.idx * IntervalS * 1e9).toLong
      val wait = a.dueNs - System.nanoTime()
      if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
      land(a)
      a.landedNs = System.nanoTime()
      queue.put(a)
    }, "perfbench-lander")
    lander.setDaemon(true)
    lander.start()
    val start = System.nanoTime()
    tracer.window(arrivals.indices.foreach { i =>
      val a = tracer.span("ingest.idle", i) {
        queue.poll(120, TimeUnit.SECONDS)
      }
      if (a == null) sys.error("lander stalled")
      a.startNs = System.nanoTime()
      val c0 = Stats.cpuSnapshot()
      try {
        tracer.span("ingest.arrival", a.idx) { process(spark, tracer, a) }
        a.bytes = null
        a.ok = true
      } catch {
        case e: Exception =>
          failed += 1
          problems += s"arrival ${a.idx}: $e"
      }
      a.visibleNs = System.nanoTime()
      cpuNs += Stats.cpuSince(c0)
    })
    clientNs = System.nanoTime() - start
    lander.join()
  }

  def check(spark: SparkSession): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String] ++= problems
    counts.zipWithIndex.foreach { case ((got, want), i) =>
      if (got != want) out += s"commit $i shows $got rows, expected $want"
    }
    WarehouseLoad.readWarehouse(spark, wh, hist) match {
      case None => out += "warehouse is empty"
      case Some(df) =>
        if (df.schema("modifieddate").dataType != TimestampType)
          out += s"modifieddate is ${df.schema("modifieddate").dataType}"
        val r = df.agg(count(lit(1)), sum("customerid"),
          countDistinct("customerid"),
          sum(when(col("middlename").isNull, 1).otherwise(0)),
          sum(when(col("suffix").isNull, 1).otherwise(0)),
          sum(unix_timestamp(col("modifieddate"))),
          sum(crc32(col("rowguid"))), sum(crc32(col("salesperson")))).head()
        val e = expected
        def crc(s: String) = {
          val c = new java.util.zip.CRC32
          c.update(s.getBytes("UTF-8")); c.getValue
        }
        val want = Seq(e.size.toLong, e.map(_.id).sum, e.size.toLong,
          e.count(_.middle.isEmpty).toLong, e.count(_.suffix.isEmpty).toLong,
          e.map(_.modified).sum, e.map(x => crc(x.guid)).sum,
          e.map(x => crc(x.salesPerson)).sum)
        val got = (0 until 8).map(r.getLong)
        val labels = Seq("rows", "key sum", "distinct keys",
          "null middlename", "null suffix", "modifieddate sum",
          "rowguid checksum", "salesperson checksum")
        labels.indices.foreach { i =>
          if (got(i) != want(i))
            out += s"final table ${labels(i)}: got ${got(i)}, expected ${want(i)}"
        }
    }
    out.toSeq
  }

  def attempted: Int = arrivals.size
  def failedOps: Int = failed

  private def done = arrivals.filter(_.ok)
  private def freshness = done.map(a => (a.visibleNs - a.dueNs) / 1e9)
  private def busyS = done.map(a => (a.visibleNs - a.startNs) / 1e9).sum
  private def rowsPerS = done.map(_.nRows).sum / busyS
  private def lateS = arrivals.map(a =>
    math.max(0.0, (a.landedNs - a.dueNs) / 1e9 - Ingest.LateToleranceS)).sum

  def endToEnd: Map[String, Double] = Map(
    "latency_s" -> Stats.geomean(freshness),
    "cpu_s_per_op" -> cpuNs / 1e9 / arrivals.size)

  def summary: Map[String, Double] = Map(
    "freshness_p50_s" -> Stats.median(freshness),
    "freshness_p90_s" -> Stats.quantile(freshness, 0.9),
    "ingest_rows_per_s" -> rowsPerS,
    "arrivals" -> arrivals.size.toDouble,
    "rows" -> done.map(_.nRows).sum.toDouble,
    "busy_share" -> busyS / (clientNs / 1e9),
    "lander_late_s" -> lateS)

  def layers(billed: Seq[Tracer.Billed]): Map[String, Double] = {
    val q = Seq("wall_s", "jobs", "gap_s", "plan_s", "exec_cpu_s")
    Stats.callMedians(billed, "sources.infer", Seq("wall_s", "jobs")) ++
      Stats.callMedians(billed, "transform.transcode",
        Seq("wall_s", "jobs", "exec_cpu_s")) ++
      Stats.callMedians(billed, "load.commit", q) ++
      Stats.callMedians(billed, "load.visible", Seq("wall_s", "jobs")) ++
      Map(
        "load.write_amp" -> (Main.bytesUnder(wh) + Main.bytesUnder(hist)) /
          Main.bytesUnder(s"$root/stage").toDouble,
        "ingest.queue_wait_s" ->
          Stats.median(done.map(a => (a.startNs - a.dueNs) / 1e9)),
        "ingest.lander_late_s" -> lateS)
  }

  def release(): Unit = {
    expected = mutable.ArrayBuffer.empty
    arrivals.foreach { a => a.rows = null; a.bytes = null }
  }
}

object Ingest {
  /** Scheduling jitter below this is not lateness: a sleeping thread
    * wakes a few milliseconds late on any loaded machine. */
  val LateToleranceS = 0.05
}
