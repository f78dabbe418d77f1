package graft.queries

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import Num._

/** Structured Streaming surface (SURVEY.md §2.8). The reference's
  * Snowpipe leg is an unbounded stream of files; its Spark-native shape
  * is `readStream` (file source) → event-time windowed aggregation →
  * sink, with the checkpoint playing the load-history role
  * (that exactly-once ingest leg lives in [[graft.load.WarehouseLoad]]).
  *
  * st01 runs the same tumbling-window aggregation as q19 but through a
  * real streaming query (`Trigger.AvailableNow`, complete mode): the
  * batch oracle therefore checks streaming semantics. The memory sink is
  * a test/verify device only — at scale the sink is parquet/Kafka and
  * output mode is append with a watermark.
  */
object Streamed {
  type Q = (SparkSession, String) => DataFrame

  /** Streaming file sources need an upfront schema; hard-coding one is
    * exactly the brittleness that broke round 8 (the testdata's `ts`
    * physical encoding changed under a fixed LongType schema, so reads
    * silently returned 1000×-compressed timestamps). The schema is
    * instead derived from a one-off batch footer read of the same
    * directory — the streaming analog of crawler re-inference
    * (reference: modules/glue.py:87-97) — and cached per dir: footers
    * are static within a run, and a long-lived driver must not re-read
    * them per query. */
  private val schemaCache =
    scala.collection.concurrent.TrieMap.empty[String, StructType]
  private def eventsSchema(s: SparkSession, d: String): StructType =
    schemaCache.getOrElseUpdate(d, {
      graft.sources.Events.ensureNanosCompat(s)
      s.read.parquet(s"$d/events.parquet").schema
    })

  /** The single streaming events source for st01–st07: footer-derived
    * schema + [[graft.sources.Events.normalizeTs]]. One shared read
    * path, zero per-query encoding assumptions. */
  private def eventsStream(ss: SparkSession, d: String): DataFrame = {
    graft.sources.Events.ensureNanosCompat(ss)
    graft.sources.Events.normalizeTs(
      ss.readStream.schema(eventsSchema(ss, d)).parquet(stageDir(d)))
  }

  /** The streaming file source wants a *directory*; the testdata ships a
    * single parquet file. Stage a temp dir with a symlink to it (no data
    * copy — the same pattern as pointing the source at a landing dir).
    * Cached per source dir: the symlink content is static, and a
    * long-lived driver invoking the same query repeatedly (bench does,
    * three times per round) must not accumulate one temp dir per call. */
  private val staged = scala.collection.concurrent.TrieMap.empty[String, String]
  private def stageDir(d: String): String = staged.getOrElseUpdate(d, {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft-stream-")
    dir.toFile.deleteOnExit()
    Files.createSymbolicLink(dir.resolve("events.parquet"),
      Paths.get(s"$d/events.parquet"))
    dir.toString
  })

  /** Measured round-6 crossover (SCALE.md "Streaming at 100×"): the
    * default in-memory (HDFSBacked) provider wins while state fits the
    * heap, and dies GC-bound near ~10M state rows / multi-GB committed
    * state; RocksDB completes the same workload holding ~23 MB of JVM
    * heap. The switchover is placed at 1M expected state rows — an
    * order of magnitude under the measured wall, where RocksDB's
    * per-batch overhead is already amortized. */
  private[graft] val StateRowsCrossover = 1000000L

  /** Auto-selection of the state-store provider from the expected
    * state cardinality (round-9, closing the carried round-6 demand:
    * the env var was a knob, not a policy). Explicit
    * SPARK_GRAFT_STATE_STORE still overrides both ways. */
  private[graft] def chooseStateStore(expectedStateRows: Long): Option[String] =
    sys.env.get("SPARK_GRAFT_STATE_STORE").orElse {
      if (expectedStateRows > StateRowsCrossover)
        Some("org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")
      else None
    }

  /** Parquet footer statistics (metadata only — no data scan):
    * provider auto-selection and sketch sizing need cardinality bounds
    * BEFORE the stream starts, and the footer answers in ~1 ms what a
    * count()/countDistinct() job would answer with a scan. Caches are
    * keyed by (path, mtime, length) so regenerating a fixture under
    * the same path (the make_scale_*.py workflow) invalidates
    * in-session instead of reusing stale sizes (ADVICE r11). Handles
    * both a single parquet file and a directory of part files. */
  private def parquetDataFiles(s: SparkSession, root: String):
      Seq[org.apache.hadoop.fs.Path] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    if (st.isFile) Seq(p)
    else fs.listStatus(p).toSeq
      .filter { f =>
        val n = f.getPath.getName
        f.isFile && !n.startsWith("_") && !n.startsWith(".")
      }.map(_.getPath)
  }

  private def statKey(s: SparkSession, root: String): (String, Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    (root, st.getModificationTime, st.getLen)
  }

  private def withFooters[T](s: SparkSession, root: String)(
      f: Seq[org.apache.parquet.hadoop.metadata.ParquetMetadata] => T): T =
    f(parquetDataFiles(s, root).map { p =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        p, s.sessionState.newHadoopConf())
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getFooter finally r.close()
    })

  private val rowCountCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long, Long), Long]
  private[graft] def parquetRowCount(s: SparkSession, file: String): Long =
    rowCountCache.getOrElseUpdate(statKey(s, file),
      withFooters(s, file)(_.map(
        _.getBlocks.asScala.map(_.getRowCount).sum).sum))

  /** Max value of an int64 column across every row group's footer
    * statistics — None when any chunk lacks the stat (then fall back
    * to a row-count bound). For a non-negative dense id column this
    * bounds the distinct cardinality from METADATA alone: the sizing
    * answer st23's old countDistinct pre-pass burned a scan for. */
  private val colMaxCache = scala.collection.concurrent.TrieMap
    .empty[(String, Long, Long, String), Option[Long]]
  private[graft] def parquetStatsMaxLong(s: SparkSession, file: String,
                                         column: String): Option[Long] = {
    val k = statKey(s, file)
    colMaxCache.getOrElseUpdate((k._1, k._2, k._3, column),
      withFooters(s, file) { footers =>
        val chunkMaxes = footers.flatMap(_.getBlocks.asScala).map { b =>
          b.getColumns.asScala
            .find(_.getPath.toDotString == column)
            .map(_.getStatistics)
            .filter(st => st != null && st.hasNonNullValue)
            .collect { case l: org.apache.parquet.column.statistics
                .LongStatistics => l.getMax }
        }
        if (chunkMaxes.isEmpty || chunkMaxes.exists(_.isEmpty)) None
        else Some(chunkMaxes.flatten.max)
      })
  }

  /** Isolated session clone with shuffle partitions sized for STATE, not
    * for batch shuffle width. Every stateful operator commits one state
    * store (four, for a stream-stream join) per shuffle partition per
    * micro-batch, so over-sharding multiplies fixed commit cost: at 32
    * partitions the st06 join commits 128 stores per batch for ~40k
    * state rows and spends >60% of its wall time in store commits
    * (measured; 8 partitions is ~2.5× faster end-to-end). On a real
    * cluster this knob scales with stateful-key cardinality — the point
    * is that it's sized to the state, independently of the session-wide
    * shuffle width. A clone keeps the setting out of the caller's
    * session (no global conf mutation).
    *
    * `corpusKeyedStateRows`: pass the source cardinality when the
    * query's state rides the corpus (one state row per user-session /
    * distinct document / verified pair — st02/st03/st08/st12); 0 for
    * watermark-bounded shapes (interval joins, tumbling windows) whose
    * state the eviction keeps small regardless of input volume. Above
    * [[StateRowsCrossover]] the session selects RocksDB. */
  private def stateSession(s: SparkSession, partitions: Int = 8,
                           corpusKeyedStateRows: Long = 0L): SparkSession = {
    val ss = s.newSession()
    // SPARK_GRAFT_STATE_PARTS overrides the state shard count — the
    // dev knob SCALE.md's streaming 100× rows turn (state-store work
    // per partition vs fixed commit cost per store per micro-batch).
    val parts = sys.env.get("SPARK_GRAFT_STATE_PARTS")
      .map(_.toInt).getOrElse(partitions)
    ss.conf.set("spark.sql.shuffle.partitions", parts.toString)
    chooseStateStore(corpusKeyedStateRows).foreach(cls =>
      ss.conf.set("spark.sql.streaming.stateStore.providerClass", cls))
    ss
  }

  // --------------------------------------------------------------- st01
  val st01: Q = (s, d) => {
    val ss = stateSession(s)
    val agg = eventsStream(ss, d)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
    val name = "st01_mem"
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    ss.table(name)
      .select(col("window.start").as("hour"), col("event_type"),
              col("n"), col("total_value"))
  }

  val st01Sql: String = s"""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
           COUNT(*) AS n, ${sqlDsum("value")} AS total_value
    FROM events GROUP BY 1, 2"""

  // --------------------------------------------------------------- st02
  // Streaming-native session windows in APPEND mode with a real
  // watermark: a session row is emitted only once its window has closed
  // relative to the 1-hour watermark — sessions still open when the
  // stream drains (ends within the last hour of event time) are withheld
  // by design. That retention-and-drop behavior is the actual watermark
  // semantic, and the batch oracle replicates it: q20-style gap
  // sessionization plus the `session_end <= max(ts) - 1h` emission
  // predicate. (Session merge uses a strict > gap test; the fixture's
  // microsecond timestamps make exact-gap ties a measure-zero case.)
  val st02: Q = (s, d) => {
    val ss = stateSession(s,
      corpusKeyedStateRows = parquetRowCount(s, s"$d/events.parquet"))
    val agg = eventsStream(ss, d)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("session_value"))
    val name = "st02_mem"
    val q = agg.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    ss.table(name)
      .select(col("session_window.start").as("session_start"),
              col("session_window.end").as("session_end"),
              col("user_id"), col("n_events"), col("session_value"))
  }

  val st02Sql: String = s"""
    WITH flagged AS (
      SELECT user_id, event_id, ts, value,
             LAG(ts) OVER (PARTITION BY user_id
                           ORDER BY ts ASC, event_id ASC) AS prev_ts
      FROM events),
    sess AS (
      SELECT user_id, ts, value,
             SUM(CASE WHEN prev_ts IS NULL
                        OR epoch(ts) - epoch(prev_ts) > 1800
                      THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged),
    aggd AS (
      SELECT MIN(ts) AS session_start,
             MAX(ts) + INTERVAL 30 MINUTE AS session_end,
             user_id, COUNT(*) AS n_events,
             ${sqlDsum("value")} AS session_value
      FROM sess GROUP BY user_id, sid)
    SELECT session_start, session_end, user_id, n_events, session_value
    FROM aggd
    WHERE session_end <= (SELECT MAX(ts) - INTERVAL 1 HOUR FROM events)"""

  // --------------------------------------------------------------- st03
  // The same session semantics as st02 but through the CUSTOM-STATE API
  // (flatMapGroupsWithState, graft.streaming.StatefulSessions): open
  // sessions live in the state store with an event-time timeout, closed
  // sessions emit in append mode. Same oracle as st02 — two independent
  // implementations (built-in session_window vs custom state machine)
  // must produce the identical session set.
  val st03: Q = (s, d) => {
    val ss = stateSession(s,
      corpusKeyedStateRows = parquetRowCount(s, s"$d/events.parquet"))
    val events = eventsStream(ss, d)
      .withWatermark("ts", "1 hour")
    val out = graft.streaming.StatefulSessions.sessions(events)
    val name = "st03_mem"
    val q = out.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    ss.table(name)
  }

  // --------------------------------------------------------------- st04
  // Sliding event-time windows (2-hour window, 1-hour slide): every
  // event lands in exactly two windows. Complete mode like st01; the
  // batch oracle replays the two-window membership with a 2-row fan-out
  // per event.
  val st04: Q = (s, d) => {
    val ss = stateSession(s)
    val agg = eventsStream(ss, d)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
    val name = "st04_mem"
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    ss.table(name)
      .select(col("window.start").as("window_start"), col("event_type"),
              col("n"), col("total_value"))
  }

  val st04Sql: String = s"""
    SELECT CAST(date_trunc('hour', ts) - INTERVAL (o) HOUR AS TIMESTAMP)
             AS window_start,
           event_type, COUNT(*) AS n, ${sqlDsum("value")} AS total_value
    FROM events CROSS JOIN (VALUES (0), (1)) t(o)
    GROUP BY 1, 2"""

  // --------------------------------------------------------------- st05
  // Stream-static join: the streaming event feed enriched against a
  // static dimension (severity per event type) — the standard staged-
  // stream enrichment; the static side broadcasts into every micro-batch.
  val st05: Q = (s, d) => {
    val ss = stateSession(s)
    import ss.implicits._
    val dim = Seq(
      ("click", "low"), ("view", "low"), ("signup", "medium"),
      ("purchase", "high"), ("error", "critical"))
      .toDF("event_type", "severity")
    val agg = eventsStream(ss, d)
      .join(broadcast(dim), Seq("event_type"))
      .groupBy(col("severity"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
    val name = "st05_mem"
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    ss.table(name)
  }

  val st05Sql: String = s"""
    SELECT severity, COUNT(*) AS n, ${sqlDsum("value")} AS total_value
    FROM events
    JOIN (VALUES ('click', 'low'), ('view', 'low'), ('signup', 'medium'),
                 ('purchase', 'high'), ('error', 'critical'))
         dim(event_type, severity)
      USING (event_type)
    GROUP BY severity"""

  // --------------------------------------------------------------- st06
  // Stream-stream interval join — the funnel/attribution primitive: each
  // purchase joins the same user's view events from the preceding hour.
  // Both sides carry watermarks and the join predicate carries the time
  // bound, which is what lets the state store evict: a buffered view row
  // is droppable once the watermark passes its ts + 1h, so state is
  // bounded by (rate × interval), never the whole stream. Inner interval
  // joins emit matches as micro-batches arrive (append mode); the batch
  // oracle is the identical join stated over the static table.
  val st06: Q = (s, d) => {
    val ss = stateSession(s)
    // ONE streaming source, two filtered legs (streaming self-join):
    // the source is scanned and offset-tracked once per micro-batch
    // instead of twice — measured ~2× cheaper than two independent
    // readStreams of the same feed, and the natural shape when both
    // funnel stages arrive on one stream.
    val evs = eventsStream(ss, d)
      .filter(col("event_type").isin("view", "purchase"))
      .withWatermark("ts", "1 hour")
    val views = evs.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
              col("ts").as("v_ts"))
    val purchases = evs.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
              col("ts").as("p_ts"))
    val joined = purchases.join(views,
      col("p_user") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
    val name = "st06_mem"
    val q = joined.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    ss.table(name)
      .select(col("p_user").as("user_id"), col("purchase_id"),
              col("view_id"), col("p_ts"), col("v_ts"))
  }

  val st06Sql: String = """
    SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id,
           p.ts AS p_ts, v.ts AS v_ts
    FROM events p JOIN events v
      ON p.user_id = v.user_id
         AND p.event_type = 'purchase' AND v.event_type = 'view'
         AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR"""

  // --------------------------------------------------------------- st07
  // Streaming deduplication: dropDuplicates on the key columns keeps the
  // first arrival per key in the state store and suppresses the rest —
  // the in-flight analog of d01/d02's batch dedup (state is one row per
  // distinct key; bound it with a watermark + event-time key column when
  // keys are unbounded). Output is restricted to the key itself, so the
  // emitted set is deterministic (which copy "won" is arrival-order
  // dependent and never observable here); the oracle is plain DISTINCT.
  val st07: Q = (s, d) => {
    val ss = stateSession(s)
    val dedup = eventsStream(ss, d)
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("event_type"), col("ts"))
      .dropDuplicates("user_id", "event_type")
      .select(col("user_id"), col("event_type"))
    val name = "st07_mem"
    val q = dedup.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    ss.table(name)
  }

  val st07Sql: String =
    "SELECT DISTINCT user_id, event_type FROM events"

  // --------------------------------------------------------------- st08
  // Streaming corpus curation: c01's normalize → quality/language gates
  // → exact dedup, running continuously over a document stream. The
  // gates are the same narrow codegen'd pass (zero state); dedup is
  // dropDuplicates keyed on the 32-byte canonical hash — one state row
  // per distinct surviving document. Output is (norm_hash, n_tokens):
  // both are pure functions of the canonical text, so the emitted set
  // is deterministic no matter which copy arrives first (the batch
  // min-doc_id pick is arrival-order-dependent in a stream and stays
  // out of the columns). Unbounded corpora bound the state with
  // dropDuplicatesWithinWatermark; the fixture stream is finite.
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Cached like [[stageDir]]: repeated invocations (Bench runs every
    * query three times) must reuse one staging dir per source, not
    * accumulate symlink dirs in /tmp. */
  private val stagedByFile =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]
  private def stageFileDir(d: String, file: String): String =
    stagedByFile.getOrElseUpdate((d, file), {
      import java.nio.file.{Files, Paths}
      val dir = Files.createTempDirectory(s"graft-stream-${file.take(3)}-")
      dir.toFile.deleteOnExit()
      val src = Paths.get(s"$d/$file.parquet")
      if (Files.isDirectory(src)) {
        // multi-file corpus fixture (a DIRECTORY of part files, the
        // sf1 layout since round 12): the streaming file source does
        // NOT recurse into a symlinked subdirectory — it would list
        // zero files and silently stream nothing — so flatten to one
        // symlink per part file
        val parts = Files.list(src)
        try {
          import scala.jdk.CollectionConverters._
          parts.iterator().asScala.foreach { p =>
            val n = p.getFileName.toString
            if (n.endsWith(".parquet") && !n.startsWith("_") &&
                !n.startsWith("."))
              Files.createSymbolicLink(dir.resolve(s"$file-$n"), p)
          }
        } finally parts.close()
      } else
        Files.createSymbolicLink(dir.resolve(s"$file.parquet"), src)
      dir.toString
    })

  private def stageDocsDir(d: String): String = stageFileDir(d, "documents")

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  private def stageEmbDir(d: String): String = stageFileDir(d, "embeddings")

  val st08: Q = (s, d) => {
    val ss = stateSession(s,
      corpusKeyedStateRows = parquetRowCount(s, s"$d/documents.parquet"))
    val stopArr = array(Corpus.stopwords.map(lit): _*)
    val gated = ss.readStream
      .schema(docSchema)
      .parquet(stageDocsDir(d))
      .withColumn("norm", graft.functions.TextExprs.normalizeText(col("text")))
      .withColumn("toks", split(col("norm"), " "))
      .withColumn("n_tokens", size(col("toks")))
      .filter(col("n_tokens") >= 20 &&
        size(array_distinct(col("toks"))).cast("double") /
          col("n_tokens") >= 0.3 &&
        size(filter(col("toks"), t => array_contains(stopArr, t)))
          .cast("double") / col("n_tokens") >= 0.08)
      .select(sha2(col("norm"), 256).as("norm_hash"), col("n_tokens"))
      .dropDuplicates("norm_hash")
    val name = "st08_mem"
    val q = gated.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    ss.table(name)
  }

  val st08Sql: String = {
    val stopList = Corpus.stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    raw"""
    WITH canon AS (
      SELECT doc_id,
             trim(regexp_replace(lower(nfc_normalize(text)),
                                 '\s+', ' ', 'g')) AS norm
      FROM documents),
    stats AS (SELECT norm, string_split(norm, ' ') AS toks FROM canon)
    SELECT DISTINCT sha256(norm) AS norm_hash,
           CAST(len(toks) AS INTEGER) AS n_tokens
    FROM stats
    WHERE len(toks) >= 20
      AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= 0.3
      AND CAST(len(list_filter(toks, t -> list_contains($stopList, t)))
               AS DOUBLE) / len(toks) >= 0.08"""
  }

  // --------------------------------------------------------------- st09
  // Streaming benchmark decontamination — d13's hygiene gate as the
  // continuous-ingestion stage a production corpus pipeline actually
  // runs: every incoming document's distinct 5-gram set probes the
  // held-out eval set's grams, and contaminated docs surface with
  // their hit counts. The eval set is a bounded STATIC relation (the
  // same boundedness argument as d13), so the probe is a broadcast
  // stream-static semi-join: eval grams ship once to every executor,
  // the stream side computes grams in the scan stage and never
  // shuffles one — the only stateful operator is the per-contaminated-
  // doc count (state rows = contaminated docs, a vanishing fraction).
  // Oracle: d13's exact SQL — streaming semantics checked against the
  // batch fixpoint on the shared fixture.
  val st09: Q = (s, d) => {
    val ss = stateSession(s)
    def grams(df: DataFrame): DataFrame = df
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 5)
      .select(col("doc_id"), explode(expr(
        """array_distinct(transform(sequence(1, size(w) - 4),
          |  i -> array_join(slice(w, i, 5), ' ')))""".stripMargin)).as("g"))
    val bench = grams(
      graft.sources.Tables.documents(ss, d).filter(col("doc_id") % 7 === 0))
      .select(col("g")).distinct()
    val stream = ss.readStream
      .schema(docSchema)
      .parquet(stageDocsDir(d))
      .filter(col("doc_id") % 7 =!= 0)
    val hits = grams(stream)
      .join(broadcast(bench), Seq("g"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit_grams"))
    val name = "st09_mem"
    val q = hits.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    ss.table(name)
  }

  // --------------------------------------------------------------- st10
  // Streaming subword token metering — t17's accounting as the
  // continuous stage a training-data pipeline actually bills with:
  // the BPE merge table is TRAINED ONCE on the batch corpus
  // (Text.trainedMerges — the same shared cache t16/t17/c06 use) and
  // applied to every incoming document as K driver-literal replaces
  // fused into the streaming scan projection — no model relation, no
  // join, no per-row state. The only stateful operator is the 5-key
  // per-source running aggregate (state rows = source count, constant
  // at any throughput). This is the train-once-apply-streaming
  // contract end to end: retrain refreshes the literals, the stream
  // restarts from its checkpoint, the meter keeps counting.
  // Oracle: t17's exact SQL — streaming semantics checked against the
  // batch fixpoint.
  val st10: Q = (s, d) => {
    val ss = stateSession(s)
    val merges = Text.trainedMerges(s, d)
    val stream = ss.readStream
      .schema(docSchema)
      .parquet(stageDocsDir(d))
    val counts = stream
      .withColumn("enc", Text.bpeEncodeCol(col("text"), merges))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " "))).cast("long").as("ws_tokens"),
        sum(expr("(length(enc) - length(replace(enc, '~', ''))) div 2"))
          .cast("long").as("bpe_tokens"))
    val name = "st10_mem"
    val q = counts.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    ss.table(name)
  }

  // --------------------------------------------------------------- st11
  // Streaming ANN serving — the online half of the similarity family:
  // a STREAM of query vectors probed against the static corpus, the
  // IVF-flat (s05/s09) shape at serving time. The trained codebook is
  // collected to DRIVER LITERALS (10 × 64 doubles — the model-serving
  // analog of st10's merge literals), so each incoming query computes
  // its nearest coarse list ROW-LOCALLY (an array_max over
  // per-centroid struct(csim, -cid) — no join, no state); the probe is
  // then a stream-static equi-join on the list id against the
  // cid-assigned corpus, exact cosine on the probed list only, and a
  // per-query max_by keeps the top-1 neighbor — the single stateful
  // operator (state rows = distinct queries). Oracle: the same
  // assignment + nprobe=1 + exact-cosine argmax as one batch SQL.
  val st11: Q = (s, d) => {
    import graft.functions.VectorExprs.{qdot, qnormsq}
    val ss = stateSession(s)
    val cents = Similarity.trainedCentroids(ss, d)
      .collect().map(r => (r.getAs[Int]("cid"),
        r.getAs[Seq[Double]]("ce").toArray, r.getAs[Double]("cnsq")))
    val corpus = graft.sources.Tables.embeddings(ss, d)
      .filter(col("vec_id") >= 10)
      .withColumn("vnsq", qnormsq(col("embedding")))
    def bestCid(e: org.apache.spark.sql.Column,
                nsq: org.apache.spark.sql.Column) =
      -array_max(array(cents.map { case (cid, ce, cnsq) =>
        struct((qdot(e, typedLit(ce)) / (sqrt(nsq) * sqrt(lit(cnsq))))
          .as("csim"), lit(-cid).as("neg_cid"))
      }: _*)).getField("neg_cid")
    val corpusAssigned = corpus
      .withColumn("cid", bestCid(col("embedding"), col("vnsq")))
      .select(col("cid"), col("vec_id").as("nvec"),
        col("embedding").as("ne"), col("vnsq").as("nnsq"))
    val stream = ss.readStream
      .schema(embSchema)
      .parquet(stageEmbDir(d))
      .filter(col("vec_id") < 10)
      .withColumn("qnsq", qnormsq(col("embedding")))
      .withColumn("cid", bestCid(col("embedding"), col("qnsq")))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("qnsq"), col("cid"))
    val name = "st11_mem"
    val q = stream.join(corpusAssigned, Seq("cid"))
      .withColumn("cosine", qdot(col("qe"), col("ne")) /
        (sqrt(col("qnsq")) * sqrt(col("nnsq"))))
      .groupBy(col("qid"))
      .agg(max_by(struct(col("nvec"), col("cosine")),
        struct(col("cosine"), (-col("nvec")).as("neg"))).as("b"))
      .select(col("qid"), col("b.nvec").as("neighbor"),
        col("b.cosine").as("cosine"))
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    ss.table(name)
  }

  val st11Sql: String = """
    WITH centl AS (
      SELECT label AS cid, CAST(i AS INTEGER) AS dim,
             CAST(SUM(CAST(round(CAST(embedding[i] AS DOUBLE), 6)
                           AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS cv
      FROM embeddings CROSS JOIN range(1, 65) r(i)
      GROUP BY label, i),
    cn AS (SELECT cid,
                  CAST(SUM(CAST(round(cv * cv, 6) AS DECIMAL(20,6)))
                       AS DOUBLE) AS cnsq
           FROM centl GROUP BY cid),
    en AS (SELECT vec_id,
                  CAST(SUM(CAST(round(CAST(embedding[i] AS DOUBLE) *
                                      CAST(embedding[i] AS DOUBLE), 6)
                                AS DECIMAL(20,6))) AS DOUBLE) AS nsq
           FROM embeddings CROSS JOIN range(1, 65) r(i) GROUP BY vec_id),
    dots AS (SELECT e.vec_id, c.cid,
                    CAST(SUM(CAST(round(
                      CAST(e.embedding[c.dim] AS DOUBLE) * c.cv, 6)
                      AS DECIMAL(20,6))) AS DOUBLE) AS dot
             FROM embeddings e JOIN centl c ON TRUE
             GROUP BY e.vec_id, c.cid),
    asg AS (SELECT vec_id, cid FROM (
              SELECT d2.vec_id, d2.cid,
                     ROW_NUMBER() OVER (PARTITION BY d2.vec_id
                       ORDER BY d2.dot / (sqrt(en.nsq) * sqrt(cn.cnsq)) DESC,
                                d2.cid ASC) AS rn
              FROM dots d2
                JOIN en ON d2.vec_id = en.vec_id
                JOIN cn ON d2.cid = cn.cid) t
            WHERE rn = 1),
    pairs AS (SELECT q.vec_id AS qid, c.vec_id AS nvec,
                     CAST(SUM(CAST(round(CAST(q.embedding[x] AS DOUBLE) *
                                         CAST(c.embedding[x] AS DOUBLE), 6)
                                   AS DECIMAL(20,6))) AS DOUBLE) AS dot
              FROM embeddings q
                JOIN asg aq ON q.vec_id = aq.vec_id
                JOIN asg ac ON aq.cid = ac.cid
                JOIN embeddings c ON c.vec_id = ac.vec_id
                CROSS JOIN range(1, 65) r(x)
              WHERE q.vec_id < 10 AND c.vec_id >= 10
              GROUP BY q.vec_id, c.vec_id),
    scored AS (SELECT p.qid, p.nvec,
                      p.dot / (sqrt(eq.nsq) * sqrt(ec.nsq)) AS cosine
               FROM pairs p
                 JOIN en eq ON p.qid = eq.vec_id
                 JOIN en ec ON p.nvec = ec.vec_id)
    SELECT qid, nvec AS neighbor, cosine FROM (
      SELECT qid, nvec, cosine,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY cosine DESC, nvec ASC) AS rn
      FROM scored) t
    WHERE rn = 1"""

  // --------------------------------------------------------------- st12
  // Streaming near-dup admission control — d04's MinHash-LSH
  // candidates + exact-verify, recast as the gate a continuous
  // ingestion pipeline runs on every incoming document against the
  // HISTORICAL corpus: the static side's banded signature index and
  // hashed shingle sets are PERSISTED managed tables (built once
  // behind the registration guard — the maintained-index pattern s13
  // set; micro-batches reread the compact index, never re-shingle the
  // corpus), the stream side computes its signature + shingle hashes
  // in the scan stage, and candidates surface through two STATELESS
  // stream-static equi-joins. The only
  // stateful operator is the per-pair collision dedup (one state row
  // per verified near-dup pair — a vanishing fraction of the stream).
  // The stream row carries its hashed shingle set on each of its NT
  // signature rows into the candidate join (payload bounded by
  // NT × doc size — the price of stateless verification; the corpus
  // index side stays slim). Output is the exact ≥0.5 cross-set pair
  // set, so the oracle is plain exact-Jaccard SQL (d04's discipline:
  // a banding recall miss fails the row-count compare).
  val st12: Q = (s, d) => {
    val ss = stateSession(s,
      corpusKeyedStateRows = parquetRowCount(s, s"$d/documents.parquet"))
    import graft.functions.TextExprs
    val NT = 16
    def withShingles(df: DataFrame): DataFrame = df
      .withColumn("shingles", TextExprs.shingles(col("text"), 3))
      .filter(size(col("shingles")) > 0)
    val san = d.replaceAll("[^A-Za-z0-9]", "_").toLowerCase
    val sigTbl = s"g12st_sigidx_$san"
    val hashTbl = s"g12st_hashidx_$san"
    // one guard per table: the guard also clears a stale warehouse dir
    // left by a previous JVM, and each table needs that sweep
    def corpus = withShingles(
      graft.sources.Tables.documents(ss, d).filter(col("doc_id") % 5 =!= 0))
    Relational.freshManagedTable(ss, sigTbl) {
      corpus.select(col("doc_id").as("j"),
          posexplode(TextExprs.minhashSig(col("shingles"), NT))
            .as(Seq("t", "v")))
        .write.mode("overwrite").format("parquet").saveAsTable(sigTbl)
    }
    Relational.freshManagedTable(ss, hashTbl) {
      corpus.select(col("doc_id").as("j"),
          expr("transform(shingles, x -> xxhash64(x))").as("shb"))
        .write.mode("overwrite").format("parquet").saveAsTable(hashTbl)
    }
    val corpusSig = ss.table(sigTbl)
    val corpusHashed = ss.table(hashTbl)
    val stream = withShingles(ss.readStream
        .schema(docSchema)
        .parquet(stageDocsDir(d))
        .filter(col("doc_id") % 5 === 0))
      .withColumn("sha", expr("transform(shingles, x -> xxhash64(x))"))
      .select(col("doc_id").as("i"), col("sha"),
        posexplode(TextExprs.minhashSig(col("shingles"), NT))
          .as(Seq("t", "v")))
    val verified = stream
      .join(corpusSig, Seq("t", "v"))
      .join(corpusHashed, Seq("j"))
      .withColumn("c", size(array_intersect(col("sha"), col("shb")))
        .cast("long"))
      .withColumn("ni", size(col("sha")).cast("long"))
      .withColumn("nj", size(col("shb")).cast("long"))
      .withColumn("jaccard",
        col("c").cast("double") / (col("ni") + col("nj") - col("c")))
      .filter(col("jaccard") >= 0.5)
      .groupBy(col("i"), col("j"))
      .agg(max(col("c")).as("c"), max(col("ni")).as("ni"),
        max(col("nj")).as("nj"), max(col("jaccard")).as("jaccard"))
    val name = "st12_mem"
    val q = verified.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    ss.table(name)
  }

  val st12Sql: String = """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (SELECT DISTINCT doc_id,
                  w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
           FROM (SELECT doc_id, w, generate_subscripts(w, 1) AS i FROM t) g
           WHERE i <= len(w) - 2),
    counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
               FROM sh a JOIN sh b ON a.s = b.s
               WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
               GROUP BY 1, 2)
    SELECT i, j, c, ca.n AS ni, cb.n AS nj,
           CAST(c AS DOUBLE) / (ca.n + cb.n - c) AS jaccard
    FROM common
      JOIN counts ca ON i = ca.doc_id
      JOIN counts cb ON j = cb.doc_id
    WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.5"""

  // --------------------------------------------------------------- st13
  // Streaming model-scored quality gating — t20's trained classifier
  // serving a document stream: the naive-Bayes log-odds model is
  // TRAINED on the static corpus (Text.qualityModel — the exact
  // relation t20 builds) and each incoming document's tokens probe it
  // through a broadcast stream-static join; the per-doc score is the
  // only stateful operator. This is the curation-pipeline serving
  // pattern between st09 (static SET probe) and st10 (K-bounded
  // literal model): a VOCABULARY-sized model relation — too big for
  // literals, fine as a broadcast (size-guard territory at web-corpus
  // vocabularies; the join degrades to shuffle exactly like t20's
  // batch apply does via broadcastIfSmall).
  // Oracle: t20's SQL — the stream over the same corpus must converge
  // to the batch classifier's fixpoint, score for score.
  val st13: Q = (s, d) => {
    val ss = stateSession(s)
    import org.apache.spark.sql.types.DecimalType
    val model = Text.qualityModel(ss, d)
    val scored = ss.readStream
      .schema(docSchema)
      .parquet(stageDocsDir(d))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .join(Hints.broadcastIfSmall(model), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("lo").cast(DecimalType(20, 6))).cast("double").as("score"))
      .withColumn("pred", col("score") > 0)
    val name = "st13_mem"
    val q = scored.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    ss.table(name)
  }

  // --------------------------------------------------------------- st14
  // Streaming index ingestion — s16's frozen-quantizer delta merge
  // driven by a STREAM instead of a batch: the base index is built
  // once (registration guard), then the delta vectors arrive as a
  // stream and a foreachBatch appender assigns + PQ-encodes each
  // micro-batch through the frozen quantizers and appends into the
  // cid-partitioned index table — the continuous-ingestion form of
  // FAISS add-after-train. foreachBatch is the right sink because the
  // write is a partitioned-table append (no streaming parquet-sink
  // state needed); exactly-once comes from the checkpoint + the
  // append's micro-batch granularity.
  // Oracle: s16's SQL — once the stream drains, the merged index must
  // serve the probe identically to the batch merge (and to a full
  // frozen rebuild, s16's contract), transitively proving
  // stream-merge == batch-merge == rebuild.
  val st14: Q = (s, d) => {
    val ss = stateSession(s)
    val san = d.replaceAll("[^A-Za-z0-9]", "_").toLowerCase
    val tbl = s"g14st_ivfstream_$san"
    val (cents, cb) = Similarity.frozenQuantizers(ss, d)
    Relational.freshManagedTable(ss, tbl) {
      Similarity.ivfIndexRows(Similarity.ivfBase(ss, d), cents, cb)
        .write.mode("overwrite").format("parquet")
        .partitionBy("cid").saveAsTable(tbl)
      val cols = ss.table(tbl).columns.map(col)
      val q = ss.readStream
        .schema(embSchema)
        .parquet(stageEmbDir(d))
        .filter(col("vec_id") =!= 0 && col("vec_id") % 10 === 9)
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          Similarity.ivfIndexRows(batch, cents, cb)
            .select(cols: _*)
            .write.mode("append").insertInto(tbl)
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    Similarity.ivfProbe(ss, d, tbl, cents, cb)
  }

  // --------------------------------------------------------------- st15
  // Streaming source-drift monitor — t23's χ² audit running
  // continuously over the ingest stream: the REFERENCE distribution
  // (corpus-wide token frequencies + totals) is a static relation the
  // monitor is anchored to (in production: the last accepted corpus
  // snapshot), incoming documents update per-source token counts, and
  // every trigger re-emits each source's divergence from the
  // reference. The full-vocab absent-token mass (the term t23 keeps
  // and naive joins drop) is folded in CLOSED FORM instead of by
  // domain expansion — Σ_{w∉S}(0−p)²/p = Σ_{w∉S} p telescopes to
  // (1 − Σ_{w∈S} pa) + Σ_{w∈S}(term − pa), so the stream only ever
  // touches tokens it has actually seen: state = observed (source,
  // token) pairs, not vocab × sources. Algebraically identical to t23
  // — but the quantize-then-sum discipline runs on per-token DELTAS
  // here, so the decimal rounding boundaries differ from t23's
  // full-domain sum and the op carries its own oracle replaying the
  // same closed form. The rewrite is what makes the op streamable —
  // and is the cheaper batch plan at sparse-source corpora too.
  val st15: Q = (s, d) => {
    val ss = stateSession(s)
    import org.apache.spark.sql.types.DecimalType
    val refToks = graft.sources.Tables.documents(ss, d)
      .select(explode(split(col("text"), " ")).as("w"))
    val ref = refToks.groupBy(col("w")).agg(count(lit(1)).as("ca"))
      .crossJoin(broadcast(refToks.agg(count(lit(1)).as("ta"))))
      .withColumn("pa", col("ca").cast("double") / col("ta"))
      .select(col("w"), col("pa"))
    val srcTot = graft.sources.Tables.documents(ss, d)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("source")).agg(count(lit(1)).as("ts"))
    // the stream's ONLY stateful operator: observed (source, token)
    // counts — the monitor's state (chained stateful aggregations are
    // a streaming no-go, and the rollup doesn't need to be one: it
    // reads the state SNAPSHOT per trigger; here, after the drain)
    val counts = ss.readStream
      .schema(docSchema)
      .parquet(stageDocsDir(d))
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("cs"))
    val name = "st15_mem"
    val q = counts.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // divergence rollup over the state snapshot: per observed token,
    // its χ² term MINUS the absent-mass term pa it replaces; the
    // constant Σ_all pa = 1 is added back in micro-units
    ss.table(name)
      .join(Hints.broadcastIfSmall(ref), Seq("w"))
      .join(broadcast(srcTot), Seq("source"))
      .withColumn("ps", col("cs").cast("double") / col("ts"))
      .withColumn("term",
        (col("ps") - col("pa")) * (col("ps") - col("pa")) / col("pa"))
      .withColumn("delta", (col("term") - col("pa")) * lit(1e6))
      .groupBy(col("source"))
      .agg(max(col("ts")).as("n_tokens"),
        count(lit(1)).cast("long").as("n_vocab"),
        (sum(col("delta").cast(DecimalType(18, 4))).cast("double") +
          lit(1e6)).as("chi2_micro"))
  }

  val st15Sql: String = """
    WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS w
                  FROM documents),
    ref AS (SELECT w, CAST(COUNT(*) AS DOUBLE) /
                      (SELECT COUNT(*) FROM toks) AS pa
            FROM toks GROUP BY w),
    srctot AS (SELECT source, COUNT(*) AS ts FROM toks GROUP BY source),
    obs AS (SELECT t.source, t.w, COUNT(*) AS cs,
                   MAX(r.pa) AS pa, MAX(st.ts) AS ts
            FROM toks t JOIN ref r ON t.w = r.w
                        JOIN srctot st ON t.source = st.source
            GROUP BY t.source, t.w),
    deltas AS (
      SELECT source, ts,
             ((CAST(cs AS DOUBLE) / ts - pa) * (CAST(cs AS DOUBLE) / ts - pa)
                / pa - pa) * 1e6 AS delta
      FROM obs)
    SELECT source, MAX(ts) AS n_tokens, COUNT(*) AS n_vocab,
           CAST(SUM(CAST(delta AS DECIMAL(18,4))) AS DOUBLE) + 1e6
             AS chi2_micro
    FROM deltas GROUP BY source"""

  // --------------------------------------------------------------- st16
  // Sessionization via Spark 4's transformWithState — the THIRD
  // independent implementation of the 30-minute-gap session contract
  // (built-in session_window → st02; flatMapGroupsWithState → st03;
  // the successor arbitrary-state API → here). Same oracle as both:
  // three implementations across three state APIs must produce the
  // identical session set, which is what certifies a migration to the
  // new API. transformWithState mandates the RocksDB state backend, so
  // the session sets it explicitly regardless of state size.
  val st16: Q = (s, d) => {
    val ss = stateSession(s)
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    val events = eventsStream(ss, d)
      .withWatermark("ts", "1 hour")
    val out = graft.streaming.TwsSessions.sessions(events)
    val name = "st16_mem"
    val q = out.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    ss.table(name)
  }

  // --------------------------------------------------------------- st17
  // Bounded-state streaming dedup: dropDuplicatesWithinWatermark keeps
  // a key in state only until the watermark passes its event time —
  // the production answer to st07's open question of UNBOUNDED key
  // domains (st07's plain dropDuplicates holds every key forever; at a
  // 100 TB corpus-keyed stream that state never stops growing, while
  // here state is rate×delay-bounded like st06's join buffer). The
  // semantic trade is documented Spark behavior: a duplicate arriving
  // after its key aged out re-emits. The fixture's duplicate
  // (user_id, event_type) pairs recur across the whole 30-day range —
  // far beyond the 1-hour delay — so the oracle states exactly that
  // re-emission semantic: one row per (user, type, 1-hour-bucketed
  // arrival run) would overfit internals; instead the CONTRACT we pin
  // is the bounded-state lower/upper envelope, stated exactly for the
  // AvailableNow single-batch execution the driver runs: all data
  // arrives in one micro-batch where the watermark is still the epoch
  // (watermark advances only BETWEEN batches), so nothing has aged out
  // and the emitted set equals plain DISTINCT — st07's oracle —
  // while the state bound is what the 100× SCALE measurement and the
  // StreamingSpec restart test exercise.
  val st17: Q = (s, d) => {
    val ss = stateSession(s)
    val dedup = eventsStream(ss, d)
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("event_type"), col("ts"))
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))
    val name = "st17_mem"
    val q = dedup.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    ss.table(name)
  }

  // --------------------------------------------------------------- st18
  // Stream-stream LEFT OUTER interval join — attribution's other half:
  // st06 answers "which views led to this purchase", st18 also emits
  // the purchases with NO qualifying view (organic conversions), which
  // an inner join silently drops. The outer semantics is where the
  // watermark earns its keep: a purchase can only be declared
  // view-less once the watermark proves no view with v_ts ≤ p_ts can
  // still arrive — i.e. when the state store evicts it (watermark past
  // p_ts). Matched rows emit as they join, exactly like st06;
  // null-extended rows emit on eviction. The batch oracle states both
  // halves: a plain LEFT JOIN, with the null-extended rows restricted
  // to purchases the final watermark (max view/purchase ts − 1h)
  // released — purchases in the last hour of event time are withheld
  // by design, the same retention contract st02 pins for sessions.
  // State bound is identical to st06's (rate × interval), so the
  // outer variant scales exactly as far.
  val st18: Q = (s, d) => {
    val ss = stateSession(s)
    val evs = eventsStream(ss, d)
      .filter(col("event_type").isin("view", "purchase"))
      .withWatermark("ts", "1 hour")
    val views = evs.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
              col("ts").as("v_ts"))
    val purchases = evs.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
              col("ts").as("p_ts"))
    val joined = purchases.join(views,
      col("p_user") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"),
      "leftOuter")
    val name = "st18_mem"
    val q = joined.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    ss.table(name)
      .select(col("p_user").as("user_id"), col("purchase_id"),
              col("view_id"), col("p_ts"), col("v_ts"))
  }

  val st18Sql: String = """
    WITH vp AS (SELECT * FROM events
                WHERE event_type IN ('view', 'purchase')),
    p AS (SELECT user_id, event_id, ts FROM vp
          WHERE event_type = 'purchase'),
    v AS (SELECT user_id, event_id, ts FROM vp
          WHERE event_type = 'view'),
    j AS (SELECT p.user_id, p.event_id AS purchase_id,
                 v.event_id AS view_id, p.ts AS p_ts, v.ts AS v_ts
          FROM p LEFT JOIN v
            ON p.user_id = v.user_id
               AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR)
    SELECT user_id, purchase_id, view_id, p_ts, v_ts FROM j
    WHERE view_id IS NOT NULL
       OR p_ts < (SELECT MAX(ts) - INTERVAL 1 HOUR FROM vp)"""

  // --------------------------------------------------------------- st19
  // Streaming Markov transition matrix — q65's stateful twin through
  // the custom-state API (flatMapGroupsWithState,
  // graft.streaming.StreamTransitions): state per user is ONE row (the
  // latest event), each micro-batch chains its (event-time, event_id)-
  // sorted events onto that carry and emits one (prev_type, type)
  // transition per event with a predecessor. The matrix aggregate runs
  // batch-side over the emitted transition stream. Same oracle as q65
  // — two independent implementations (lag window vs state machine)
  // must produce the identical matrix. Scale: state = users × one row
  // (the smallest corpus-keyed state in the suite — provider
  // auto-selection still applies), emission is append-mode and
  // shuffle-bounded by the user key.
  val st19: Q = (s, d) => {
    val ss = stateSession(s,
      corpusKeyedStateRows = parquetRowCount(s, s"$d/events.parquet"))
    val out = graft.streaming.StreamTransitions.transitions(eventsStream(ss, d))
    val name = "st19_mem"
    val q = out.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    ss.table(name)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .withColumn("row_tot", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("prev_type"))))
      .withColumn("p", col("c").cast("double") / col("row_tot"))
  }

  // --------------------------------------------------------------- st20
  // Streaming content-defined dedup — t28's CDC chunking running
  // in-flight: the storage-side dedup a streaming ingest layer runs
  // BEFORE writing (suppress chunks it has already persisted). The
  // batch formulation's per-doc lag window is not stream-legal, so the
  // chunks are rebuilt ROW-LOCALLY from the native cut array
  // (starts = 0 ∥ cuts, ends = cuts ∥ len, one zip_with substr) —
  // same chunks, zero windows, stateless until the final
  // dropDuplicates (one state row per distinct chunk; ~len/64 chunks
  // per doc, so state rides the corpus × chunk rate — provider
  // auto-selection sized accordingly). Oracle: DISTINCT over the
  // batch chunk relation — which copy of a chunk "won" is
  // arrival-order dependent and stays out of the columns (the st07
  // determinism discipline).
  val st20: Q = (s, d) => {
    val ss = stateSession(s,
      corpusKeyedStateRows =
        parquetRowCount(s, s"$d/documents.parquet") * 9)
    val chunks = ss.readStream
      .schema(docSchema)
      .parquet(stageDocsDir(d))
      .withColumn("cuts", graft.functions.TextExprs.cdcCuts(col("text")))
      .withColumn("starts", concat(array(lit(0)), col("cuts")))
      .withColumn("ends", concat(col("cuts"), array(length(col("text")))))
      .select(explode(expr(
        "zip_with(starts, ends, (st, e) -> substr(text, st + 1, e - st))"))
        .as("chunk"))
      .select(md5(col("chunk")).as("chunk_hash"),
        length(col("chunk")).cast("long").as("chunk_len"))
      .dropDuplicates("chunk_hash")
    val name = "st20_mem"
    val q = chunks.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    ss.table(name)
  }

  val st20Sql: String = s"""
    WITH ${Text.CdcChunksCte}
    SELECT DISTINCT chunk_hash, chunk_len FROM chunks"""

  // --------------------------------------------------------------- st21
  // Streaming sliding-window DISTINCT counting — q75's question asked
  // in-flight: per trailing-24h window (1-hour slide), how many
  // distinct users? Exact distinct over sliding windows in a stream
  // means 24 copies of every key in state; the production answer is a
  // mergeable sketch per TUMBLING hour (r11, the q75 stored-sketch
  // pattern moved in-flight): the stream keeps ONE DataSketches HLL
  // state row per hour and each event updates exactly one of them —
  // the direct sliding formulation (r10) updated 24 window states per
  // event, and that 24× state-write amplification was the whole cost
  // (measured 4.2 s → 1.9 s at sf0.1). Every trailing-24h answer is
  // then composed downstream by unioning 24 emitted hourly sketches —
  // the same mergeability q75 exploits from storage, demonstrated from
  // a stream's output instead.
  // Contract oracle (q27/q52 pattern): the Q runs the stream for the
  // estimate, recomputes the exact count batch-side via the q75
  // explode (each (hour, user) pair fans to its 24 grid windows), and
  // the compared columns carry the exact count + a within-15% boolean
  // (~9σ at lgK=12's 1.6% rsd) — the estimate itself stays out of the
  // hash.
  val st21: Q = (s, d) => {
    val ss = stateSession(s)
    val hourly = eventsStream(ss, d)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
    val name = "st21_mem"
    val q = hourly.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // A sketch for hour h serves the 24 sliding windows STARTING at
    // h−23h .. h; union per window start (hours × 24 rows, tiny).
    val est = ss.table(name)
      .select(col("window.start").as("hour"), col("sk"))
      .select(col("sk"), explode(expr(
        "sequence(hour - INTERVAL 23 HOURS, hour, INTERVAL 1 HOUR)"))
        .as("window_start"))
      .groupBy(col("window_start"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
    // Exact comparator via the shared interval diff array (O(pairs),
    // not 24× explode); anchors = every window start the est side
    // produced, shift 23 because the anchor is the window's FIRST hour.
    val pairs = graft.sources.Events.read(s, d)
      .select(date_trunc("hour", col("ts")).as("hour"), col("user_id"))
      .distinct()
    val spine = pairs.select(explode(expr(
        "sequence(hour - INTERVAL 23 HOURS, hour, INTERVAL 1 HOUR)"))
        .as("hour")).distinct()
    val exact = SlidingDistinct.exact24h(pairs, spine, shiftHours = 23)
      .withColumnRenamed("hour", "window_start")
    est.join(exact, Seq("window_start"))
      .select(col("window_start"), col("n_exact"),
        (abs(col("est").cast("double") - col("n_exact")) / col("n_exact")
          <= 0.15).as("apx_ok"))
  }

  val st21Sql: String = """
    WITH ev AS (SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
                       user_id
                FROM events),
    pairs AS (SELECT DISTINCT hour, user_id FROM ev)
    SELECT hour - INTERVAL (k) HOUR AS window_start,
           COUNT(DISTINCT user_id) AS n_exact, TRUE AS apx_ok
    FROM pairs CROSS JOIN range(0, 24) t(k)
    GROUP BY 1"""

  // --------------------------------------------------------------- st22
  // Streaming as-of enrichment — q25/q71's operator asked in-flight
  // against a STATIC marker snapshot (price-at-time / config-at-time
  // lookup): the marker side collapses to one sorted
  // (time, tiebreak, payload) array per key, broadcasts into every
  // micro-batch (st05's stream-static shape), and each streamed target
  // row resolves its as-of match ROW-LOCALLY (filter the sorted array
  // to times ≤ its own, take the last element) — no state, no window,
  // append mode. Timestamps compare as epoch MICROS (unix_micros), so
  // sub-second ordering survives; ties break by greatest event_id,
  // exactly q25's LATERAL ORDER BY ts DESC, event_id DESC. The oracle
  // IS q25's SQL — batch window, native merge (q71) and streaming
  // broadcast-lookup must all produce the identical relation. Scope:
  // this shape wants a DIMENSION-sized marker side (it broadcasts);
  // corpus-sized markers stream through st06's interval join or q71's
  // native merge per micro-batch instead.
  val st22: Q = (s, d) => {
    val ss = stateSession(s)
    val marr = graft.sources.Events.read(ss, d)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("m_user"),
        unix_micros(col("ts")).as("m_us"),
        col("event_id").as("m_eid"),
        col("ts").as("mk_ts"), col("value").as("mk_value"))
      .groupBy(col("m_user"))
      .agg(sort_array(collect_list(struct(
        col("m_us"), col("m_eid"), col("mk_ts"), col("mk_value"))))
        .as("marr"))
    val tgt = eventsStream(ss, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"),
        unix_micros(col("ts")).as("us"))
    val pick = expr("filter(marr, x -> x.m_us <= us)")
    val joined = tgt
      .join(broadcast(marr), col("user_id") === col("m_user"), "left")
      .withColumn("mm", pick)
      .select(col("user_id"), col("event_id"), col("ts"),
        when(size(col("mm")) > 0,
          element_at(col("mm"), size(col("mm"))).getField("mk_ts"))
          .as("asof_ts"),
        when(size(col("mm")) > 0,
          element_at(col("mm"), size(col("mm"))).getField("mk_value"))
          .as("asof_value"))
    val name = "st22_mem"
    val q = joined.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    ss.table(name)
  }

  /** Oracle: q25's LATERAL as-of SQL — three formulations, one relation. */
  val st22Sql: String = Relational.q25Sql

  // --------------------------------------------------------------- st23
  // Streaming heavy hitters — top-3 users per event type through the
  // SpaceSaving sketch ([[graft.streaming.HeavyHitters]]): state is
  // `types × capacity` counters, CONSTANT in the user cardinality,
  // where the exact streaming `GROUP BY (type, user)` the oracle runs
  // holds one state row per distinct pair (unbounded at 100 TB).
  // Sketch state is keyed (type, user_id % shards) — disjoint user
  // shards, so each user's count lives whole in one sketch, the
  // per-shard ≤ N/capacity bound carries to the union, and parallelism
  // is types × shards instead of types (measured at 100× events:
  // 41 s type-keyed → sharded in SCALE.md). Capacity 512 × 16 shards
  // exceeds every test SF's per-(type, shard) user count, so the
  // sketch operates in its exact regime and the oracle can pin values;
  // at scale the same query trades capacity for an ≤ N/capacity
  // over-count bound (doc on HeavyHitters). The update-mode memory sink
  // retains EVERY per-batch emission, so the finishing rank goes
  // through HeavyHitters.rankLatest: keep each (type, shard)'s max-gen
  // counter set, rank that union — correct for any number of
  // micro-batches, not just the single-file AvailableNow case
  // (StreamingSpec proves the two-batch run).
  //
  // Capacity is SIZED FROM THE PARQUET FOOTER STATS — max(user_id)+1
  // bounds the distinct-user cardinality from metadata alone for a
  // non-negative id column (falling back to the footer row count when
  // the stat is absent: distinct ≤ rows), so sizing costs ~1 ms and
  // ZERO jobs where the old countDistinct pre-pass burned a scan per
  // (dir, query) (VERDICT r11 #4). The stat caches are keyed by
  // (path, mtime, length), so regenerating a fixture under the same
  // path re-sizes instead of reusing a stale capacity (ADVICE r11).
  // The oracle pins exact values, which holds only while per-(type,
  // shard) users stay ≤ capacity — a fixed 512 broke at sf1 (15k users
  // / 16 shards ≈ 940 per shard → evictions → N/capacity over-counts);
  // an id-bound over-estimate only over-sizes, never breaks exactness.
  // Sizing the sketch to the tracked-class bound is exactly how
  // production picks a SpaceSaving capacity for a target error; past
  // the memory you are willing to spend, you fix capacity and the
  // answer degrades to the documented ≤ N/capacity over-count bound
  // instead of staying exact.
  // St23MaxCapacity is that memory ceiling: the sized capacity is
  // CLAMPED so per-state-row sketch maps stay bounded no matter the
  // stream's cardinality (an unbounded "size to exact" would allocate
  // ~190k counters per (type, shard) at the 100× fixture's 1.5M users
  // — the exact failure mode SpaceSaving exists to avoid). Every
  // oracle-gated sf sits far below the clamp (sf1: ~1.9k), so the
  // exact-regime contract the oracle pins is unaffected.
  private val St23Capacity = 512
  private val St23MaxCapacity = 1 << 16
  private val St23K = 3
  private val St23Shards = 16

  /** Footer-stats-sized SpaceSaving capacity (package-visible so
    * StreamingSpec can pin the sizing at two fixture scales). */
  private[graft] def st23Capacity(s: SparkSession, d: String): Int = {
    val events = s"$d/events.parquet"
    val users = parquetStatsMaxLong(s, events, "user_id")
      .map(_ + 1)                      // non-negative ids: distinct ≤ max+1
      .getOrElse(parquetRowCount(s, events)) // stat absent: distinct ≤ rows
    math.min(St23MaxCapacity.toLong,
      math.max(St23Capacity.toLong, 2L * (users / St23Shards + 1))).toInt
  }

  val st23: Q = (s, d) => {
    val capacity = st23Capacity(s, d)
    val ss = stateSession(s, partitions = St23Shards,
      corpusKeyedStateRows = 5L * St23Shards * capacity)
    val counters = graft.streaming.HeavyHitters.topKSharded(
      eventsStream(ss, d), capacity, St23K, St23Shards)
    val name = "st23_mem"
    val q = counters.writeStream
      .outputMode("update")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    graft.streaming.HeavyHitters.rankLatest(ss.table(name), St23K)
  }

  val st23Sql: String = s"""
    SELECT event_type, CAST(rnk AS INT) AS rank, user_id, cnt AS est_count
    FROM (SELECT event_type, user_id, COUNT(*) AS cnt,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                   ORDER BY COUNT(*) DESC, user_id ASC) AS rnk
          FROM events GROUP BY event_type, user_id) t
    WHERE rnk <= $St23K"""

  // --------------------------------------------------------------- st24
  // The commit log AS a stream (graft.streaming.CommitLogStream): the
  // q83 consumer story moved INTO Structured Streaming — offsets are
  // commit versions, each micro-batch reads exactly the batches that
  // commit added, and `skipRewrites` passes over the compaction commit
  // WHOLE (Delta's skipChangeCommits semantics), so the folded batch
  // never re-delivers rows the checkpoint already saw. Lifecycle: load
  // wave 0 → stream catches up; wave 1 → only its batch arrives; a
  // compaction commit → NOTHING arrives; wave 2 → streaming resumes.
  // Exactly-once then falls out as: the sink holds each order row ONCE
  // and saw exactly the three load batches (the compaction batch id
  // never appears). Oracle: full `orders` recompute + those contract
  // constants.
  //
  // Scale shape: getOffset is one manifest read per poll; each
  // micro-batch plans one scan root per ADDED batch (bounded by loads
  // in the window, never table size); the skipped rewrite window is a
  // zero-task pruned scan. The memory sink is the test device; the
  // restart/file-sink leg lives in CommitLogStreamSpec.
  val st24: Q = (s, d) => {
    import graft.load.WarehouseLoad
    val root = Fixtures.scratchRoot(s, "feedstream", d)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val staging = s"$root/stage"
    val wh = s"$root/warehouse"
    val hist = s"$root/history"

    val deliver = Fixtures.prepareJsonWaves(s, root, staging,
      (0 to 2).map(k => s"w$k.json" ->
        graft.sources.Tables.orders(s, d)
          .filter(col("o_orderkey") % 3 === k)
          .select(col("o_orderkey"), col("o_orderstatus"))))
    def stage(name: String, wave: Int): Unit = deliver(wave)
    val target = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_orderstatus", StringType)))
    val sink = "st24_feed_" + d.replaceAll("[^A-Za-z0-9]", "_").toLowerCase

    stage("w0.json", 0)
    WarehouseLoad.batchIdempotent(s, staging, target, wh, hist)   // v1
    val q = s.readStream
      .format(classOf[graft.streaming.CommitLogStreamProvider].getName)
      .schema(target)
      .option("warehouseDir", wh).option("historyDir", hist)
      .option("skipRewrites", "true")
      .load()
      .writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", s"$root/ckpt")
      .outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      stage("w1.json", 1)
      WarehouseLoad.batchIdempotent(s, staging, target, wh, hist) // v2
      q.processAllAvailable()
      WarehouseLoad.compactCommitted(s, wh, hist)                 // v3
      q.processAllAvailable()
      stage("w2.json", 2)
      WarehouseLoad.batchIdempotent(s, staging, target, wh, hist) // v4
      q.processAllAvailable()
    } finally q.stop()

    val sunk = s.table(sink).localCheckpoint(true)
    // the global batch-id census IS the skip proof: exactly the three
    // load batches, never the compaction's folded batch
    val nBatches = sunk.select("_graft_batch").distinct().count()
    sunk.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"), sum("o_orderkey").as("sum_key"))
      .withColumn("n_batches", lit(nBatches))
      .orderBy("o_orderstatus")
  }

  val st24Sql: String = """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(3 AS BIGINT) AS n_batches
    FROM orders GROUP BY 1 ORDER BY 1"""

  // --------------------------------------------------------------- st25
  // The commit log as a streaming SINK (graft.streaming.CommitLogSink):
  // exactly-once streaming ingestion INTO the versioned warehouse.
  // Each micro-batch commits as ONE immutable batch under an
  // epoch-deterministic id, so a replayed epoch overwrites its own
  // orphans or is skipped — the file loads' idempotence contract keyed
  // by the checkpoint's epoch counter — and everything downstream of
  // the commit log (time travel, change feed, st24's source, zone
  // maps, vacuum/compaction) applies to streamed-in batches
  // identically. Lifecycle: two input files arrive one
  // micro-batch apart; the oracle checks the WAREHOUSE-side aggregate
  // equals the full recompute plus the protocol constants (two
  // commits, two epoch batches).
  //
  // Scale shape: per epoch, one partitioned write + one metadata-only
  // commit; the final report is a map-side-combined aggregate over the
  // committed relation (one scan root per epoch batch; compaction
  // folds long-running streams).
  val st25: Q = (s, d) => {
    import graft.load.WarehouseLoad
    val root = Fixtures.scratchRoot(s, "feedsink", d)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val inDir = s"$root/in"
    val wh = s"$root/warehouse"
    val hist = s"$root/history"

    val deliver = Fixtures.prepareJsonWaves(s, root, inDir,
      (0 to 1).map(k => s"w$k.json" ->
        graft.sources.Tables.orders(s, d)
          .filter(col("o_orderkey") % 2 === k)
          .select(col("o_orderkey"), col("o_orderstatus"))))
    def arrive(name: String, parity: Int): Unit = deliver(parity)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_orderstatus", StringType)))

    arrive("w0.json", 0)
    val q = s.readStream.schema(schema).json(inDir)
      .writeStream
      .format(classOf[graft.streaming.CommitLogStreamProvider].getName)
      .option("warehouseDir", wh).option("historyDir", hist)
      .option("checkpointLocation", s"$root/ckpt")
      .outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      arrive("w1.json", 1)
      q.processAllAvailable()
    } finally q.stop()

    val nBatches = WarehouseLoad.committedBatches(s, hist).size
    val head = WarehouseLoad.currentVersion(s, hist)
    WarehouseLoad.readWarehouse(s, wh, hist).get
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"), sum("o_orderkey").as("sum_key"))
      .withColumn("n_batches", lit(nBatches.toLong))
      .withColumn("head_version", lit(head))
      .orderBy("o_orderstatus")
  }

  val st25Sql: String = """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(2 AS BIGINT) AS n_batches,
           CAST(2 AS BIGINT) AS head_version
    FROM orders GROUP BY 1 ORDER BY 1"""

  // --------------------------------------------------------------- st26
  // STREAMING ZONE SKIP: a consumer filter stacked on the commit-log
  // stream prunes whole ADDED batches from each micro-batch plan —
  // IncrementalExecution runs the session optimizer, the source
  // registers its table with graft.plans.ZonePrune, and the filter
  // pushes through the conform-projection and the union to each
  // single-root batch relation, so a batch whose recorded stats prove
  // the predicate empty never schedules a scan task. The index-
  // maintainer story: a consumer materializing only the upper key
  // range reads the lower range's commits at METADATA cost. Fixture:
  // `orders` committed as two key-disjoint halves before the stream
  // starts (one micro-batch window spanning both); the query reports
  // the delivered aggregate plus the EXECUTED micro-batch plan's
  // surviving root count (via the last-execution observability shim).
  //
  // Scale shape: the skip decision is one cached manifest read per
  // added batch; on a sharded ingest a range-scoped consumer's
  // steady-state cost is the matching shard's batches only.
  val st26: Q = (s, d) => {
    import graft.load.WarehouseLoad
    val root = Fixtures.scratchRoot(s, "feedzskip", d)
    val staging = s"$root/stage"
    val wh = s"$root/warehouse"
    val hist = s"$root/history"
    val target = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_orderstatus", StringType)))
    val sink = "st26_zskip_" + d.replaceAll("[^A-Za-z0-9]", "_").toLowerCase

    val mx = graft.sources.Tables.orders(s, d)
      .agg(max("o_orderkey")).head().getLong(0)
    val m = (mx + 1) / 2
    val deliver = Fixtures.prepareJsonWaves(s, root, staging,
      Seq(("lo.json", col("o_orderkey") <= m),
          ("hi.json", col("o_orderkey") > m)).map { case (name, pred) =>
        name -> graft.sources.Tables.orders(s, d).filter(pred)
          .select(col("o_orderkey"), col("o_orderstatus"))
      })
    (0 to 1).foreach { k =>
      deliver(k)
      WarehouseLoad.batchIdempotent(s, staging, target, wh, hist)
    }
    val nCommitted = WarehouseLoad.committedBatches(s, hist).size

    val q = s.readStream
      .format(classOf[graft.streaming.CommitLogStreamProvider].getName)
      .schema(target)
      .option("warehouseDir", wh).option("historyDir", hist)
      .load()
      // >= m+1 (≡ > m on integer keys): the prover widens strict
      // bounds to inclusive ones, so the closed form is the one whose
      // prune is guaranteed when the lo batch's max IS the median
      .filter(col("o_orderkey") >= m + 1)
      .writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", s"$root/ckpt")
      .outputMode("append")
      .start()
    val scannedRoots =
      try {
        q.processAllAvailable()
        org.apache.spark.sql.graftshim.GraftSqlShims.lastExecutedPlan(q)
          .collect {
            case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
              sc.relation.location.rootPaths.size
          }.sum
      } finally q.stop()

    s.table(sink)
      .agg(count(lit(1)).as("n_rows"), sum("o_orderkey").as("sum_key"))
      .withColumn("scanned_roots", lit(scannedRoots.toLong))
      .withColumn("n_committed", lit(nCommitted.toLong))
  }

  val st26Sql: String = """
    WITH m AS (SELECT (MAX(o_orderkey) + 1) // 2 AS q FROM orders)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(1 AS BIGINT) AS scanned_roots,
           CAST(2 AS BIGINT) AS n_committed
    FROM orders, m WHERE o_orderkey > m.q"""

  val queries: Map[String, Q] = Map(
    "st01_stream_tumbling" -> st01,
    "st02_stream_session" -> st02,
    "st03_stateful_session" -> st03,
    "st04_stream_sliding" -> st04,
    "st05_stream_static_join" -> st05,
    "st06_stream_stream_join" -> st06,
    "st07_stream_dedup" -> st07,
    "st08_stream_curate" -> st08,
    "st09_stream_decontaminate" -> st09,
    "st10_stream_tokens" -> st10,
    "st11_stream_ann" -> st11,
    "st12_stream_neardup" -> st12,
    "st13_stream_quality" -> st13,
    "st14_stream_index" -> st14,
    "st15_stream_drift" -> st15,
    "st16_tws_session" -> st16,
    "st17_stream_dedup_bounded" -> st17,
    "st18_stream_outer_join" -> st18,
    "st19_stream_markov" -> st19,
    "st20_stream_cdc_dedup" -> st20,
    "st21_stream_sliding_distinct" -> st21,
    "st22_stream_asof" -> st22,
    "st23_stream_heavy_hitters" -> st23,
    "st24_stream_commitlog" -> st24,
    "st25_stream_sink" -> st25,
    "st26_stream_zone_skip" -> st26)
  val oracle: Map[String, String] = Map(
    "st01_stream_tumbling" -> st01Sql,
    "st02_stream_session" -> st02Sql,
    "st03_stateful_session" -> st02Sql,
    "st04_stream_sliding" -> st04Sql,
    "st05_stream_static_join" -> st05Sql,
    "st06_stream_stream_join" -> st06Sql,
    "st07_stream_dedup" -> st07Sql,
    "st08_stream_curate" -> st08Sql,
    // shared oracle: streaming output must equal d13's batch fixpoint
    "st09_stream_decontaminate" -> Dedup.d13Sql,
    "st10_stream_tokens" -> Text.t17Sql,
    "st11_stream_ann" -> st11Sql,
    "st12_stream_neardup" -> st12Sql,
    // shared oracle: streaming scoring must equal t20's batch fixpoint
    "st13_stream_quality" -> Text.t20Sql,
    // shared oracle: stream-merge must equal s16's batch merge == rebuild
    "st14_stream_index" -> Similarity.s16Sql,
    "st15_stream_drift" -> st15Sql,
    // shared oracle: the third session implementation answers to the
    // same contract as st02/st03
    "st16_tws_session" -> st02Sql,
    // single-batch AvailableNow execution: watermark still at epoch
    // during the batch, nothing ages out, emitted set == DISTINCT
    "st17_stream_dedup_bounded" -> st07Sql,
    "st18_stream_outer_join" -> st18Sql,
    // same transition semantics as the batch lag-window matrix
    "st19_stream_markov" -> Relational.q65Sql,
    "st20_stream_cdc_dedup" -> st20Sql,
    "st21_stream_sliding_distinct" -> st21Sql,
    "st22_stream_asof" -> st22Sql,
    // exact regime: per-type user cardinality ≤ capacity at every test
    // SF, so the sketch's top-3 equals the exact GROUP BY top-3
    "st23_stream_heavy_hitters" -> st23Sql,
    "st24_stream_commitlog" -> st24Sql,
    "st25_stream_sink" -> st25Sql,
    "st26_stream_zone_skip" -> st26Sql)
}
