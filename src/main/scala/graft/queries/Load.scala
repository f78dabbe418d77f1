package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables

/** Oracle-gated warehouse-load lifecycle queries — the load modes whose
  * semantics only show up through side effects get the same treatment
  * d12 gives the corpus takedown: build a deterministic fixture from
  * the source tables, run the real load, and return a summary the
  * DuckDB oracle reproduces in closed form from the same tables.
  */
object Load {
  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- q79
  // Dead-letter quarantine load (Snowflake `ON_ERROR = CONTINUE` +
  // error table, /root/reference/modules/snowflake.py:150-157 COPY
  // semantics family): stage `orders` as four JSON files (bucket =
  // o_orderkey % 4), seed three failure classes — an uncastable
  // o_totalprice on %13 keys, an uncastable o_orderdate on %17 keys,
  // and one truly MALFORMED (truncated) JSON line per file — run
  // `WarehouseLoad.batchQuarantine`, and report per file: rows loaded
  // clean, rows quarantined, and the sorted set of failure reasons.
  // The oracle restates the modulo seeding in closed form over the
  // same `orders` table, so every routing decision (including the
  // malformed line landing in the error table with reason
  // '_corrupt_record' instead of loading as an all-null row — ADVICE
  // r10) is value-checked, not just row-counted.
  //
  // Scale shape: the fixture build is four narrow Spark writes; the
  // load parses the staged batch once (a local checkpoint) and writes
  // its two codegen'd projections — the error rows, then the clean
  // rows as one commit-log batch — no shuffle beyond the clean batch's
  // single-file write, parallelism file-bound.
  // The summary groupBys are bucket-keyed (4 groups) with map-side
  // partials.
  val q79: Q = (s, d) => {
    val root = Fixtures.scratchRoot(s, "quarload", d)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    // Re-runnable (bench runs each query three times): the query
    // demonstrates the full stage→quarantine→load lifecycle each run.
    val staging = s"$root/stage"
    val wh = s"$root/warehouse"
    val hist = s"$root/history"
    val quar = s"$root/errors"

    // --- fixture: orders → 4 staged JSON files with seeded dirt -----
    val lines = Tables.orders(s, d).select(
      (col("o_orderkey") % 4).cast("int").as("bucket"),
      to_json(struct(
        col("o_orderkey"),
        col("o_custkey"),
        col("o_orderstatus"),
        when(col("o_orderkey") % 13 === 0, lit("oops"))
          .otherwise(col("o_totalprice").cast("string"))
          .as("o_totalprice"),
        when(col("o_orderkey") % 17 === 0, lit("not-a-date"))
          .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"))
          .as("o_orderdate"),
        col("o_orderpriority"))).as("value"))
    import s.implicits._
    // One orders scan for all four files: the malformed line is
    // unioned in per bucket and `partitionBy` fans the buckets out in
    // a single write job (repartition on the bucket key ⇒ exactly one
    // part file per bucket dir) — the previous shape re-scanned orders
    // once per bucket through four coalesce(1) single-task writes.
    val malformed = (0 until 4)
      .map(b => (b, """{"o_orderkey": truncated""")).toDF("bucket", "value")
    lines.unionByName(malformed)
      .repartition(4, col("bucket"))
      .write.partitionBy("bucket").mode("overwrite").text(s"$root/parts")
    fs.mkdirs(new org.apache.hadoop.fs.Path(staging))
    (0 until 4).foreach { b =>
      val src = fs.globStatus(
        new org.apache.hadoop.fs.Path(s"$root/parts/bucket=$b/part-*"))
        .head.getPath
      fs.rename(src, new org.apache.hadoop.fs.Path(s"$staging/b$b.json"))
    }

    // --- the operator under test ------------------------------------
    val target = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType),
      StructField("o_orderpriority", StringType)))
    graft.load.WarehouseLoad.batchQuarantine(s, staging, target, wh, hist,
      quar)

    // --- summarize both sides per staged file ------------------------
    val clean = graft.load.WarehouseLoad.readWarehouse(s, wh, hist).get
      .groupBy((col("o_orderkey") % 4).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n_clean"))
    val bad = s.read.parquet(quar)
      .withColumn("bucket",
        regexp_extract(col("source_file"), "b(\\d)\\.json", 1).cast("int"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_bad"),
        array_join(array_sort(array_distinct(
          flatten(collect_list(col("failed_columns"))))), ",").as("bad_cols"))
    clean.join(bad, Seq("bucket")).orderBy(col("bucket"))
  }

  val q79Sql: String = """
    WITH g AS (
      SELECT o_orderkey % 4 AS bucket,
             o_orderkey % 13 = 0 AS badprice,
             o_orderkey % 17 = 0 AS baddate
      FROM orders)
    SELECT CAST(bucket AS INTEGER) AS bucket,
           CAST(SUM(CASE WHEN badprice OR baddate THEN 0 ELSE 1 END)
             AS BIGINT) AS n_clean,
           CAST(SUM(CASE WHEN badprice OR baddate THEN 1 ELSE 0 END) + 1
             AS BIGINT) AS n_bad,
           concat_ws(',', '_corrupt_record',
             CASE WHEN bool_or(baddate) THEN 'o_orderdate' END,
             CASE WHEN bool_or(badprice) THEN 'o_totalprice' END)
             AS bad_cols
    FROM g GROUP BY 1 ORDER BY 1"""

  // ---------------------------------------------------------------- q80
  // Schema-drift audit (Snowflake MATCH_BY_COLUMN_NAME semantics family,
  // /root/reference/modules/snowflake.py:150, + the operational ALTER
  // TABLE evolution response): stage `orders` as JSON that has DRIFTED
  // from the declared DDL — a NEW column (o_channel = o_orderkey % 3
  // mapped to a channel name), a RETYPED column (o_totalprice becomes
  // the string "USD <price>" on %11 keys — values the DDL's DOUBLE no
  // longer coerces), and a MISSING column (o_orderpriority no longer
  // sent) — then run `SchemaDrift.report` and return it. The oracle
  // restates every classification and the retyped-value count in
  // closed form over the same `orders` table, so the report's
  // data-driven semantics (o_orderdate arrives as JSON strings but
  // still coerces → `matched`, NOT `retyped`) are value-checked.
  //
  // Scale shape: one narrow staged write; the report is one
  // schema-inference pass (sampled at scale) + ONE map-side-combined
  // aggregate row — never data-sized.
  val q80: Q = (s, d) => {
    val root = Fixtures.scratchRoot(s, "driftload", d)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val staging = s"$root/stage"

    Tables.orders(s, d).select(to_json(struct(
        col("o_orderkey"),
        col("o_custkey"),
        col("o_orderstatus"),
        when(col("o_orderkey") % 11 === 0,
          concat(lit("USD "), col("o_totalprice").cast("string")))
          .otherwise(col("o_totalprice").cast("string"))
          .as("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss")
          .as("o_orderdate"),
        element_at(array(lit("web"), lit("app"), lit("ads")),
          (col("o_orderkey") % 3 + 1).cast("int"))
          .as("o_channel"))).as("value"))
      .write.mode("overwrite").text(staging)

    val target = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType),
      StructField("o_orderpriority", StringType)))
    graft.schema.SchemaDrift.report(s, staging, target)
  }

  val q80Sql: String = """
    SELECT col_name, kind, observed_type, declared_type,
           CAST(n_bad AS BIGINT) AS n_bad
    FROM (
      SELECT 'o_channel' AS col_name, 'new' AS kind,
             'string' AS observed_type, NULL AS declared_type, 0 AS n_bad
      UNION ALL SELECT 'o_custkey', 'matched', 'bigint', 'bigint', 0
      UNION ALL SELECT 'o_orderdate', 'matched', 'string', 'timestamp', 0
      UNION ALL SELECT 'o_orderkey', 'matched', 'bigint', 'bigint', 0
      UNION ALL SELECT 'o_orderpriority', 'missing', NULL, 'string', 0
      UNION ALL SELECT 'o_orderstatus', 'matched', 'string', 'string', 0
      UNION ALL SELECT 'o_totalprice', 'retyped', 'string', 'double',
        (SELECT COUNT(*) FROM orders WHERE o_orderkey % 11 = 0)
    ) ORDER BY col_name"""

  // ---------------------------------------------------------------- q81
  // Time travel + change feed over the versioned commit log (the
  // operational layer Snowflake exposes as AT(OFFSET)/CHANGES over its
  // COPY loads — the reference's load history, modules/snowflake.py:
  // 158-167, extended to the snapshot-isolation reads real lakehouse
  // tables need): stage `orders` in two waves (o_orderkey parity),
  // `batchIdempotent` each (versions 1 and 2), `compactCommitted`
  // (version 3 — a rewrite), then report per version: rows and key-sum
  // via `readWarehouseAt` (v1 and v2 read their exact historical
  // snapshots AFTER the rewrite), batch count from the version
  // manifest, and the change feed's delta row count — with the v2→v3
  // feed surfacing the rewrite contract (`RewriteException` → the -1
  // resync sentinel) instead of pretending a compaction is an append.
  // The oracle restates every snapshot in closed form over `orders`.
  //
  // Scale shape: two narrow staged writes + the loads (constant-size
  // plans, see batchIdempotent); each snapshot read plans one root per
  // batch IN THAT VERSION (≤2 here), each agg is a map-side-combined
  // single row; the change feed reads only the window's added batches
  // — never the table.
  val q81: Q = (s, d) => {
    import graft.load.WarehouseLoad
    val root = Fixtures.scratchRoot(s, "timetravel", d)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val staging = s"$root/stage"
    val wh = s"$root/warehouse"
    val hist = s"$root/history"

    def wave(name: String, parity: Int) = name ->
      Tables.orders(s, d).filter(col("o_orderkey") % 2 === parity)
        .select(col("o_orderkey"), col("o_custkey"))
    val target = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType)))

    val deliver = Fixtures.prepareJsonWaves(s, root, staging,
      Seq(wave("even.json", 0), wave("odd.json", 1)))
    deliver(0)
    WarehouseLoad.batchIdempotent(s, staging, target, wh, hist) // v1
    deliver(1)
    WarehouseLoad.batchIdempotent(s, staging, target, wh, hist) // v2
    WarehouseLoad.compactCommitted(s, wh, hist)                 // v3 rewrite

    import s.implicits._
    (1L to 3L).map { v =>
      val snap = WarehouseLoad.readWarehouseAt(s, wh, hist, v).get
        .agg(count(lit(1)).as("n"), sum("o_orderkey").as("sk")).head()
      val delta =
        try WarehouseLoad.changes(s, wh, hist, v - 1, v)
          .map(_.rdd.count()).getOrElse(0L)
        catch { case _: WarehouseLoad.RewriteException => -1L }
      (v.toInt, snap.getLong(0), snap.getLong(1),
        WarehouseLoad.versionBatches(s, hist, v).get.size, delta)
    }.toDF("version", "n_rows", "sum_key", "n_batches", "delta_rows")
      .orderBy("version")
  }

  val q81Sql: String = """
    WITH e AS (SELECT COUNT(*) AS n, SUM(o_orderkey) AS s
               FROM orders WHERE o_orderkey % 2 = 0),
         a AS (SELECT COUNT(*) AS n, SUM(o_orderkey) AS s FROM orders)
    SELECT CAST(version AS INTEGER) AS version,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(sum_key AS BIGINT) AS sum_key,
           CAST(n_batches AS INTEGER) AS n_batches,
           CAST(delta_rows AS BIGINT) AS delta_rows
    FROM (
      SELECT 1 AS version, e.n AS n_rows, e.s AS sum_key,
             1 AS n_batches, e.n AS delta_rows FROM e
      UNION ALL SELECT 2, a.n, a.s, 2, a.n - e.n FROM a, e
      UNION ALL SELECT 3, a.n, a.s, 1, -1 FROM a
    ) ORDER BY version"""

  // ---------------------------------------------------------------- q82
  // Delete-by-key takedown on the committed batch warehouse (the
  // right-to-be-forgotten mutation the reference's COPY-append model
  // has no analog for; d12 serves it on the corpus, this is the MAIN
  // table): stage `orders` in two waves (parity, two batches so batch
  // granularity is observable), takedown o_orderkey % 7 == 0, and
  // report the full contract in one row — rows before (time travel to
  // v2), rows removed, rows + key-sum after, the idempotent re-apply
  // removing 0 with NO version churn, and the change feed across the
  // takedown window refusing to misrepresent deletions as appends
  // (RewriteException → feed_resync=true). Oracle in closed form over
  // `orders`.
  //
  // Scale shape: the probe is ONE broadcast semi-join over the
  // committed batches + a hit-batch aggregate (≤1 row per load); only
  // batches with hits are rewritten (both waves here, by seeding);
  // every aggregate is a map-side-combined single row.
  val q82: Q = (s, d) => {
    import graft.load.WarehouseLoad
    val root = Fixtures.scratchRoot(s, "takedown", d)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val staging = s"$root/stage"
    val wh = s"$root/warehouse"
    val hist = s"$root/history"

    def wave(name: String, parity: Int) = name ->
      Tables.orders(s, d).filter(col("o_orderkey") % 2 === parity)
        .select(col("o_orderkey"), col("o_custkey"))
    val target = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType)))
    val deliver = Fixtures.prepareJsonWaves(s, root, staging,
      Seq(wave("even.json", 0), wave("odd.json", 1)))
    deliver(0)
    WarehouseLoad.batchIdempotent(s, staging, target, wh, hist) // v1
    deliver(1)
    WarehouseLoad.batchIdempotent(s, staging, target, wh, hist) // v2

    val keys = Tables.orders(s, d).filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"))
    // `.rdd.count()` reads the files: a plain count() of a committed
    // table is answered from the manifests alone (MetadataOnlyCount)
    val nBefore = WarehouseLoad.readWarehouseAt(s, wh, hist, 2).get
      .rdd.count()
    val nRemoved = WarehouseLoad.takedownCommitted(s, wh, hist,
      keys, Seq("o_orderkey"))                                  // v3
    val after = WarehouseLoad.readWarehouse(s, wh, hist).get
      .agg(count(lit(1)).as("n"), sum("o_orderkey").as("sk")).head()
    val nAgain = WarehouseLoad.takedownCommitted(s, wh, hist,
      keys, Seq("o_orderkey"))                                  // no-op
    val feedResync =
      try { WarehouseLoad.changes(s, wh, hist, 2, 3); false }
      catch { case _: WarehouseLoad.RewriteException => true }

    import s.implicits._
    Seq((nBefore, nRemoved, after.getLong(0), after.getLong(1), nAgain,
        WarehouseLoad.currentVersion(s, hist), feedResync))
      .toDF("n_before", "n_removed", "n_after", "sum_after",
        "n_removed_again", "head_version", "feed_resync")
  }

  val q82Sql: String = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_before,
           CAST(SUM(CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_removed,
           CAST(SUM(CASE WHEN o_orderkey % 7 = 0 THEN 0 ELSE 1 END)
             AS BIGINT) AS n_after,
           CAST(SUM(CASE WHEN o_orderkey % 7 = 0 THEN 0 ELSE o_orderkey END)
             AS BIGINT) AS sum_after,
           CAST(0 AS BIGINT) AS n_removed_again,
           CAST(3 AS BIGINT) AS head_version,
           TRUE AS feed_resync
    FROM orders"""

  // ---------------------------------------------------------------- q83
  // Change-feed-driven incremental view maintenance — the q77 IVM
  // discipline wired to the commit log's OWN delta source instead of a
  // deterministic column split: a consumer maintains a per-status
  // (n_orders, sum_key) view across four commits by reading ONLY each
  // commit's added batches via `changes` (v1, v2: incremental absorb),
  // hits the compaction REWRITE at v3 (`RewriteException` → resync
  // from `readWarehouseAt(3)`, the documented consumer contract —
  // asserting the incrementally-built view equals the resync snapshot
  // agg row-for-row), then RESUMES incrementally at v4. Output: the
  // final view + the audit columns (resync count, the pre-resync
  // equality check, head version). Oracle: full recompute over
  // `orders` + the contract constants.
  //
  // Scale shape: each absorb aggregates one commit's added batches
  // (never the table) into mergeable partials; the merge is a
  // group-key-sized union-agg; the one resync reads the compacted
  // snapshot (one scan root). The equality check collects a single
  // AND-reduced boolean (group-count-bounded join, 3 rows here).
  val q83: Q = (s, d) => {
    import graft.load.WarehouseLoad
    val root = Fixtures.scratchRoot(s, "feedivm", d)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val staging = s"$root/stage"
    val wh = s"$root/warehouse"
    val hist = s"$root/history"

    val deliverWaves = Fixtures.prepareJsonWaves(s, root, staging,
      (0 to 2).map(k => s"w$k.json" ->
        Tables.orders(s, d).filter(col("o_orderkey") % 3 === k)
          .select(col("o_orderkey"), col("o_orderstatus"))))
    def stage(name: String, wave: Int): Unit = deliverWaves(wave)
    val target = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_orderstatus", StringType)))

    // mergeable partials per status; merging partials = same agg again
    def partials(df: DataFrame): DataFrame = df
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"), sum("o_orderkey").as("sum_key"))
    def merge(a: DataFrame, b: DataFrame): DataFrame =
      a.unionByName(b).groupBy(col("o_orderstatus"))
        .agg(sum("n_orders").as("n_orders"), sum("sum_key").as("sum_key"))
    // group-count-bounded equality: full outer join, AND-reduce
    def sameView(a: DataFrame, b: DataFrame): Boolean =
      a.join(b.withColumnRenamed("n_orders", "n2")
          .withColumnRenamed("sum_key", "s2"),
          Seq("o_orderstatus"), "full_outer")
        // one-sided groups null out the equality expr — coalesce to
        // false BEFORE the AND-reduce or min() would skip them
        .agg(coalesce(min(coalesce(col("n_orders") === col("n2") &&
          col("sum_key") === col("s2"), lit(false))), lit(true)).as("ok"))
        .head().getBoolean(0)
    def absorb(view: DataFrame, fromV: Long, toV: Long): DataFrame =
      WarehouseLoad.changes(s, wh, hist, fromV, toV)
        .map(delta => merge(view, partials(delta.drop("_graft_batch")))
          .localCheckpoint(true))
        .getOrElse(view)

    stage("w0.json", 0)
    WarehouseLoad.batchIdempotent(s, staging, target, wh, hist)  // v1
    var view = partials(WarehouseLoad.changes(s, wh, hist, 0, 1).get
      .drop("_graft_batch")).localCheckpoint(true)
    stage("w1.json", 1)
    WarehouseLoad.batchIdempotent(s, staging, target, wh, hist)  // v2
    view = absorb(view, 1, 2)
    WarehouseLoad.compactCommitted(s, wh, hist)                  // v3
    var resyncs = 0
    var matchedAtResync = false
    try { WarehouseLoad.changes(s, wh, hist, 2, 3); () }
    catch {
      case _: WarehouseLoad.RewriteException =>
        resyncs += 1
        val snap = partials(WarehouseLoad.readWarehouseAt(s, wh, hist, 3).get)
          .localCheckpoint(true)
        matchedAtResync = sameView(view, snap)
        view = snap
    }
    stage("w2.json", 2)
    WarehouseLoad.batchIdempotent(s, staging, target, wh, hist)  // v4
    view = absorb(view, 3, 4)

    view.select(col("o_orderstatus"),
        col("n_orders").cast("long").as("n_orders"), col("sum_key"),
        lit(resyncs).cast("long").as("n_resyncs"),
        lit(matchedAtResync).as("resync_matched"),
        lit(WarehouseLoad.currentVersion(s, hist)).as("head_version"))
      .orderBy("o_orderstatus")
  }

  val q83Sql: String = """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(1 AS BIGINT) AS n_resyncs,
           TRUE AS resync_matched,
           CAST(4 AS BIGINT) AS head_version
    FROM orders GROUP BY 1 ORDER BY 1"""

  // ---------------------------------------------------------------- q84
  // Zone-map batch skipping — per-batch min/max stats recorded by each
  // load's OWN write job (CollectMetrics, zero extra scans) let a
  // range predicate drop whole batch roots from the plan before a
  // byte OR footer of them is touched — the Snowflake micro-partition
  // pruning analog at batch granularity, on top of (not instead of)
  // parquet row-group stats inside surviving roots. Fixture: `orders`
  // staged in four o_orderkey VALUE-QUARTILE waves (disjoint key
  // ranges → disjoint zone intervals), one commit each; the query
  // answers a first-quartile range aggregate with a PLAIN `.filter`
  // over `readWarehouse` — the `graft.plans.ZonePrune` optimizer rule
  // extracts the range predicate and drops the non-overlapping roots
  // at plan time (no manual range API, VERDICT r12 #3)
  // — and reports the pruning contract: exactly 1 of 4 batch roots in
  // the optimized plan, result equal to the full-table closed form
  // (the oracle).
  //
  // Scale shape: pruning is ONE manifest read per committed load
  // (metadata, bounded by load count, no file listing); the surviving
  // root scans 1/4 of the data; the aggregate is one map-side-combined
  // row. The superset contract keeps stats out of the correctness
  // path: the row filter still applies.
  val q84: Q = (s, d) => {
    import graft.load.WarehouseLoad
    val root = Fixtures.scratchRoot(s, "zonemap", d)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val staging = s"$root/stage"
    val wh = s"$root/warehouse"
    val hist = s"$root/history"
    val target = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType)))

    val mx = Tables.orders(s, d).agg(max("o_orderkey")).head().getLong(0)
    val q = (mx + 3) / 4 // quartile width (ceil), keys start at 1
    // wave 0 is open-bottomed: the testdata carries an
    // o_orderkey=0 edge row that a (0, q] band would drop
    val deliver = Fixtures.prepareJsonWaves(s, root, staging,
      (0 to 3).map(k => s"w$k.json" ->
        Tables.orders(s, d)
          .filter((if (k == 0) lit(true) else col("o_orderkey") > k * q) &&
            col("o_orderkey") <= (k + 1) * q)
          .select(col("o_orderkey"), col("o_custkey"))))
    (0 to 3).foreach { k =>
      deliver(k)
      WarehouseLoad.batchIdempotent(s, staging, target, wh, hist)
    }

    val nTotal = WarehouseLoad.committedBatches(s, hist).size
    val df = WarehouseLoad.readWarehouse(s, wh, hist).get
      .filter(col("o_orderkey") <= q)
    val scanned = scanRoots(df)
    val agg = df
      .agg(count(lit(1)).as("n"), sum("o_orderkey").as("sk")).head()

    import s.implicits._
    Seq((agg.getLong(0), agg.getLong(1), scanned.toLong, nTotal.toLong))
      .toDF("n_rows", "sum_key", "n_batches_scanned", "n_batches_total")
  }

  /** Batch roots surviving in the OPTIMIZED plan — the observable the
    * zone-prune queries report (what the scan will actually touch). */
  private def scanRoots(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.size
          case _ => 0
        }
    }.sum

  val q84Sql: String = """
    WITH m AS (SELECT (MAX(o_orderkey) + 3) // 4 AS q FROM orders)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(1 AS BIGINT) AS n_batches_scanned,
           CAST(4 AS BIGINT) AS n_batches_total
    FROM orders, m WHERE o_orderkey <= m.q"""

  // ---------------------------------------------------------------- q85
  // STRING zone-map pruning (VERDICT r12 #4): the commonest
  // LLM-pipeline predicates are `source = 'web'` / `lang = 'en'` —
  // equality probes on low-cardinality string columns — so per-batch
  // string min/max (UTF-8 binary order, Spark's own string-min/max
  // ordering) must prune them like numerics. Fixture: `orders` staged
  // in three waves split by o_orderpriority band ('1-URGENT'/'2-HIGH',
  // '3-MEDIUM', '4-NOT SPECIFIED'/'5-LOW' — disjoint string intervals
  // per batch); the query is a PLAIN equality filter over
  // `readWarehouse` and reports: exactly 1 of 3 batch roots surviving
  // in the optimized plan, aggregate equal to the closed form.
  //
  // Scale shape: identical to q84 — pruning is cached-manifest-read
  // metadata bounded by load count; the surviving root scans 1/5 of
  // the rows; one map-side-combined aggregate row.
  val q85: Q = (s, d) => {
    import graft.load.WarehouseLoad
    val root = Fixtures.scratchRoot(s, "zonestr", d)
    val staging = s"$root/stage"
    val wh = s"$root/warehouse"
    val hist = s"$root/history"
    val target = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_orderpriority", StringType)))

    val bands = Seq(Seq("1", "2"), Seq("3"), Seq("4", "5"))
    val deliver = Fixtures.prepareJsonWaves(s, root, staging,
      bands.zipWithIndex.map { case (prefixes, k) => s"w$k.json" ->
        Tables.orders(s, d)
          .filter(substring(col("o_orderpriority"), 1, 1).isin(prefixes: _*))
          .select(col("o_orderkey"), col("o_orderpriority"))
      })
    bands.indices.foreach { k =>
      deliver(k)
      WarehouseLoad.batchIdempotent(s, staging, target, wh, hist)
    }

    val nTotal = WarehouseLoad.committedBatches(s, hist).size
    val df = WarehouseLoad.readWarehouse(s, wh, hist).get
      .filter(col("o_orderpriority") === "3-MEDIUM")
    val scanned = scanRoots(df)
    val agg = df
      .agg(count(lit(1)).as("n"), sum("o_orderkey").as("sk")).head()

    import s.implicits._
    Seq((agg.getLong(0), agg.getLong(1), scanned.toLong, nTotal.toLong))
      .toDF("n_rows", "sum_key", "n_batches_scanned", "n_batches_total")
  }

  val q85Sql: String = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(1 AS BIGINT) AS n_batches_scanned,
           CAST(3 AS BIGINT) AS n_batches_total
    FROM orders WHERE o_orderpriority = '3-MEDIUM'"""

  // ---------------------------------------------------------------- q86
  // DICTIONARY zone pruning + disjunctions (VERDICT r13 #2/#5): the
  // min/max interval cannot prune `source = 'web'` when every batch
  // MIXES sources — the common corpus layout, which q85's
  // band-disjoint fixture sidesteps. Each load's write job also
  // records the EXACT distinct value set for ≤64-NDV string columns
  // (graft.functions.BoundedDistinct — bounded task memory at any
  // true NDV, zero extra scans), and the optimizer rule proves
  // equality/IN/OR probes empty by set membership. Fixture: `orders`
  // staged in three waves by o_orderpriority GROUP {1,5} / {3} /
  // {2,4} — every wave's interval spans '3-MEDIUM' (the {1,5} wave
  // runs '1-URGENT'..'5-LOW'), so interval pruning keeps 3/3 roots;
  // the dictionary keeps exactly 1/3. The OR probe exercises the
  // recursive disjunction walk: each disjunct misses two dicts, their
  // conjunction-of-misses prunes to the one wave holding both.
  //
  // Scale shape: identical to q84/q85 — pruning is cached-manifest-
  // read metadata bounded by load count; the dictionaries are ≤64
  // values per column per batch in the same manifest.
  val q86: Q = (s, d) => {
    import graft.load.WarehouseLoad
    val root = Fixtures.scratchRoot(s, "zonedict", d)
    val staging = s"$root/stage"
    val wh = s"$root/warehouse"
    val hist = s"$root/history"
    val target = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_orderpriority", StringType)))

    val bands = Seq(Seq("1", "5"), Seq("3"), Seq("2", "4"))
    val deliver = Fixtures.prepareJsonWaves(s, root, staging,
      bands.zipWithIndex.map { case (prefixes, k) => s"w$k.json" ->
        Tables.orders(s, d)
          .filter(substring(col("o_orderpriority"), 1, 1).isin(prefixes: _*))
          .select(col("o_orderkey"), col("o_orderpriority"))
      })
    bands.indices.foreach { k =>
      deliver(k)
      WarehouseLoad.batchIdempotent(s, staging, target, wh, hist)
    }

    val nTotal = WarehouseLoad.committedBatches(s, hist).size
    val med = WarehouseLoad.readWarehouse(s, wh, hist).get
      .filter(col("o_orderpriority") === "3-MEDIUM")
    val scannedMed = scanRoots(med)
    val aggMed = med
      .agg(count(lit(1)).as("n"), sum("o_orderkey").as("sk")).head()
    val or = WarehouseLoad.readWarehouse(s, wh, hist).get
      .filter(col("o_orderpriority") === "1-URGENT" ||
        col("o_orderpriority") === "5-LOW")
    val scannedOr = scanRoots(or)
    val nOr = or.agg(count(lit(1))).head().getLong(0)

    import s.implicits._
    Seq((aggMed.getLong(0), aggMed.getLong(1), scannedMed.toLong,
        nOr, scannedOr.toLong, nTotal.toLong))
      .toDF("n_med", "sum_med", "scanned_med", "n_or", "scanned_or",
        "n_total")
  }

  val q86Sql: String = """
    SELECT CAST(COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS BIGINT) AS n_med,
           CAST(SUM(o_orderkey) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS BIGINT) AS sum_med,
           CAST(1 AS BIGINT) AS scanned_med,
           CAST(COUNT(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '5-LOW')) AS BIGINT) AS n_or,
           CAST(1 AS BIGINT) AS scanned_or,
           CAST(3 AS BIGINT) AS n_total
    FROM orders"""

  // ---------------------------------------------------------------- q87
  // NULL-COUNT zone pruning (VERDICT r13 #4): IS NULL / IS NOT NULL —
  // ubiquitous in curation gates (c01's cascade) — prune nothing from
  // intervals; the per-column (nulls, rows) pair recorded by every
  // load's own write job does it. Fixture: `orders` staged in three
  // waves by o_orderkey % 3, with a `note` column that is
  // o_orderstatus in wave 1 and NULL elsewhere (the JSON writer drops
  // null fields, so
  // the all-null waves don't even spell the key — alignment fills it,
  // and the stats record nulls == rows). IS NOT NULL must plan 1/3
  // roots (the all-null waves prove empty), IS NULL 2/3 (the
  // null-free wave proves empty).
  val q87: Q = (s, d) => {
    import graft.load.WarehouseLoad
    val root = Fixtures.scratchRoot(s, "zonenull", d)
    val staging = s"$root/stage"
    val wh = s"$root/warehouse"
    val hist = s"$root/history"
    val target = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("note", StringType)))

    val deliver = Fixtures.prepareJsonWaves(s, root, staging,
      (0 to 2).map(k => s"w$k.json" ->
        Tables.orders(s, d)
          .filter(col("o_orderkey") % 3 === k)
          .select(col("o_orderkey"),
            (if (k == 1) col("o_orderstatus") else lit(null).cast(StringType))
              .as("note"))))
    (0 to 2).foreach { k =>
      deliver(k)
      WarehouseLoad.batchIdempotent(s, staging, target, wh, hist)
    }

    val nTotal = WarehouseLoad.committedBatches(s, hist).size
    val nn = WarehouseLoad.readWarehouse(s, wh, hist).get
      .filter(col("note").isNotNull)
    val scannedNn = scanRoots(nn)
    val nNn = nn.agg(count(lit(1))).head().getLong(0)
    val isn = WarehouseLoad.readWarehouse(s, wh, hist).get
      .filter(col("note").isNull)
    val scannedIsn = scanRoots(isn)
    val nIsn = isn.agg(count(lit(1))).head().getLong(0)

    import s.implicits._
    Seq((nNn, scannedNn.toLong, nIsn, scannedIsn.toLong, nTotal.toLong))
      .toDF("n_notnull", "scanned_notnull", "n_null", "scanned_null",
        "n_total")
  }

  val q87Sql: String = """
    SELECT CAST(COUNT(*) FILTER (WHERE o_orderkey % 3 = 1) AS BIGINT) AS n_notnull,
           CAST(1 AS BIGINT) AS scanned_notnull,
           CAST(COUNT(*) FILTER (WHERE o_orderkey % 3 <> 1) AS BIGINT) AS n_null,
           CAST(2 AS BIGINT) AS scanned_null,
           CAST(3 AS BIGINT) AS n_total
    FROM orders"""

  // ---------------------------------------------------------------- q88
  // SIZE-TIERED compaction — the bounded-work OPTIMIZE. The full fold
  // (q81's lifecycle) rewrites the whole table to retire small roots;
  // at 100 TB that is a 100 TB write to fold a trickle tail. Every
  // batch's manifest records its own file list, so batch size is
  // metadata-known, and `compactSmall` folds ONLY batches at or below
  // the threshold — the bulk batch's dir must stay BYTE-IDENTICAL
  // (asserted from its (name, length, mtime) file states), the LSM
  // size-tiering argument applied to the commit log. Fixture: orders
  // staged as three ~1% waves (the trickle) + one ~97% wave (the
  // bulk); threshold set just under the bulk's recorded size. The
  // oracle checks the folded relation's content against the full
  // table and the pruning-shape constants (4 before, 3 folded, 2
  // after, bulk untouched, idempotent second pass).
  //
  // Scale shape: selection is one cached manifest read per committed
  // load (metadata); the fold reads/writes only the small tail —
  // bounded by the TRICKLE volume, not table size — and the no-op
  // second pass commits no version (no churn under a scheduler loop).
  val q88: Q = (s, d) => {
    import graft.load.WarehouseLoad
    val root = Fixtures.scratchRoot(s, "tiered", d)
    val staging = s"$root/stage"
    val wh = s"$root/warehouse"
    val hist = s"$root/history"
    val target = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType)))

    val deliver = Fixtures.prepareJsonWaves(s, root, staging,
      (0 to 2).map(k => s"small$k.json" ->
        Tables.orders(s, d).filter(col("o_orderkey") % 100 === k)
          .select(col("o_orderkey"), col("o_custkey"))) :+
      ("bulk.json" ->
        Tables.orders(s, d).filter(col("o_orderkey") % 100 >= 3)
          .select(col("o_orderkey"), col("o_custkey"))))
    (0 to 3).foreach { k =>
      deliver(k)
      WarehouseLoad.batchIdempotent(s, staging, target, wh, hist)
    }

    val before = WarehouseLoad.committedBatches(s, hist)
    val sizes = before.map(id =>
      id -> WarehouseLoad.batchBytes(s, hist, id).get).toMap
    val bigId = sizes.maxBy(_._2)._1
    val bigDir = new org.apache.hadoop.fs.Path(s"$wh/b$bigId")
    val fs = bigDir.getFileSystem(s.sparkContext.hadoopConfiguration)
    def bigState() = fs.listStatus(bigDir)
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
      .sortBy(_._1).toSeq
    val bigBefore = bigState()

    val folded = WarehouseLoad.compactSmall(s, wh, hist,
      smallBytes = sizes(bigId) - 1)
    val after = WarehouseLoad.committedBatches(s, hist)
    val untouched = after.contains(bigId) && bigState() == bigBefore
    // idempotent second pass: fold + bulk both out of scope → no churn
    val head = WarehouseLoad.currentVersion(s, hist)
    val folded2 = WarehouseLoad.compactSmall(s, wh, hist,
      smallBytes = sizes(bigId) - 1)
    val noChurn = folded2 == 0 &&
      WarehouseLoad.currentVersion(s, hist) == head

    val agg = WarehouseLoad.readWarehouse(s, wh, hist).get
      .agg(count(lit(1)).as("n"), sum("o_orderkey").as("sk")).head()
    import s.implicits._
    Seq((agg.getLong(0), agg.getLong(1), before.size.toLong,
        folded.toLong, after.size.toLong, untouched, noChurn))
      .toDF("n_rows", "sum_key", "n_before", "n_folded", "n_after",
        "bulk_untouched", "second_pass_noop")
  }

  val q88Sql: String = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(4 AS BIGINT) AS n_before,
           CAST(3 AS BIGINT) AS n_folded,
           CAST(2 AS BIGINT) AS n_after,
           TRUE AS bulk_untouched,
           TRUE AS second_pass_noop
    FROM orders"""

  // ---------------------------------------------------------------- q93
  // PARTITIONED size-tiered compaction (r15) — q88's contract on the
  // layout a warehouse actually uses: every wave lands hive-partitioned
  // by o_orderpriority, and `compactSmall` folds the trickle tail into
  // ONE partitioned batch while the bulk batch's whole directory TREE
  // (partition subdirs included) stays byte-identical. The fold write
  // is fan-out-BOUNDED: rows hash to their partition group before the
  // write, so each partition directory inside the fold is produced by
  // exactly one task — asserted as "no partition dir holds more than
  // one data file" (the un-shuffled dynamic-partition write measured
  // 228.7 s at 1,000 dirs precisely because every task opened a writer
  // per value — SCALE.md r14).
  //
  // Scale shape: selection is metadata (one cached manifest read per
  // batch); the fold reads/writes only the trickle tail; the write is
  // one hash shuffle of that tail + O(distinct partition values in the
  // tail) files. The bulk — the table's mass — is never read.
  val q93: Q = (s, d) => {
    import graft.load.WarehouseLoad
    val root = Fixtures.scratchRoot(s, "tieredpart", d)
    val staging = s"$root/stage"
    val wh = s"$root/warehouse"
    val hist = s"$root/history"
    val target = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_orderpriority", StringType)))
    val parts = Seq("o_orderpriority")

    val deliver = Fixtures.prepareJsonWaves(s, root, staging,
      (0 to 2).map(k => s"small$k.json" ->
        Tables.orders(s, d).filter(col("o_orderkey") % 100 === k)
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_orderpriority"))) :+
      ("bulk.json" ->
        Tables.orders(s, d).filter(col("o_orderkey") % 100 >= 3)
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_orderpriority"))))
    (0 to 3).foreach { k =>
      deliver(k)
      WarehouseLoad.batchIdempotent(s, staging, target, wh, hist,
        partitionCols = parts)
    }

    val before = WarehouseLoad.committedBatches(s, hist)
    val sizes = before.map(id =>
      id -> WarehouseLoad.batchBytes(s, hist, id).get).toMap
    val bigId = sizes.maxBy(_._2)._1
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    // the bulk's WHOLE TREE (partition dirs + files), not just the top
    def bigState() = {
      val it = fs.listFiles(
        new org.apache.hadoop.fs.Path(s"$wh/b$bigId"), true)
      val b = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val st = it.next()
        b += ((st.getPath.toString, st.getLen, st.getModificationTime))
      }
      b.result().sortBy(_._1)
    }
    val bigBefore = bigState()

    val folded = WarehouseLoad.compactSmall(s, wh, hist,
      smallBytes = sizes(bigId) - 1, partitionCols = parts)
    val after = WarehouseLoad.committedBatches(s, hist)
    val untouched = after.contains(bigId) && bigState() == bigBefore
    // the fold kept the hive layout, with a BOUNDED fan-out: one data
    // file per partition directory (each dir written by one task)
    val foldId = after.filterNot(before.contains).headOption
    val foldShape = foldId.exists { id =>
      val subs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$wh/b$id"))
        .filter(st => st.isDirectory && st.getPath.getName.contains("="))
      subs.nonEmpty && subs.forall { sub =>
        fs.listStatus(sub.getPath)
          .count(st => st.getPath.getName.startsWith("part-")) == 1
      }
    }
    val head = WarehouseLoad.currentVersion(s, hist)
    val folded2 = WarehouseLoad.compactSmall(s, wh, hist,
      smallBytes = sizes(bigId) - 1, partitionCols = parts)
    val noChurn = folded2 == 0 &&
      WarehouseLoad.currentVersion(s, hist) == head

    // content + partition pruning still exact after the tiered fold
    val rel = WarehouseLoad.readWarehouse(s, wh, hist).get
    val agg = rel.agg(count(lit(1)).as("n"),
      sum("o_orderkey").as("sk")).head()
    val urgent = rel.filter(col("o_orderpriority") === "1-URGENT")
      .agg(count(lit(1))).head().getLong(0)
    import s.implicits._
    Seq((agg.getLong(0), agg.getLong(1), urgent, before.size.toLong,
        folded.toLong, after.size.toLong, untouched, foldShape, noChurn))
      .toDF("n_rows", "sum_key", "n_urgent", "n_before", "n_folded",
        "n_after", "bulk_untouched", "fold_bounded", "second_pass_noop")
  }

  val q93Sql: String = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
           CAST(4 AS BIGINT) AS n_before,
           CAST(3 AS BIGINT) AS n_folded,
           CAST(2 AS BIGINT) AS n_after,
           TRUE AS bulk_untouched,
           TRUE AS fold_bounded,
           TRUE AS second_pass_noop
    FROM orders"""

  // ---------------------------------------------------------------- q94
  // RESTORE TO VERSION (r15) — the write-side completion of time
  // travel and the operational undo for an errant load (Delta
  // `RESTORE TABLE` analog; the reference's warehouse delegates the
  // same story to Snowflake UNDROP/time-travel clones). Fixture: two
  // staged waves of `orders` (even keys, then odd keys) load as v1 and
  // v2; `restoreWarehouse(v1)` commits v1's batch list as v3. The
  // oracle pins: the restored relation is exactly wave 1 (row count +
  // key sum in closed form), the head advanced to 3 (restore ADDS a
  // version), time travel still reads the undone v2 (full table —
  // history is never rewritten), a change feed spanning the restore
  // refuses (RewriteException — batches left the head), the restore
  // is idempotent (second call = no-op, no version churn), and the
  // rolled-back files are loadable again (loadedFiles shrinks to
  // wave 1's file).
  //
  // Scale shape: restore is PURE METADATA — one version-manifest read
  // + one CAS publish, zero data I/O at any table size; the summary
  // scans are the fixture's, not the operator's.
  val q94: Q = (s, d) => {
    import graft.load.WarehouseLoad
    val root = Fixtures.scratchRoot(s, "restore", d)
    val staging = s"$root/stage"
    val wh = s"$root/warehouse"
    val hist = s"$root/history"
    val target = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType)))
    val deliver = Fixtures.prepareJsonWaves(s, root, staging, Seq(
      "even.json" -> Tables.orders(s, d).filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey")),
      "odd.json" -> Tables.orders(s, d).filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_custkey"))))
    deliver(0)
    WarehouseLoad.batchIdempotent(s, staging, target, wh, hist)
    deliver(1)
    WarehouseLoad.batchIdempotent(s, staging, target, wh, hist)

    val newHead = WarehouseLoad.restoreWarehouse(s, wh, hist, 1)
    val restored = WarehouseLoad.readWarehouse(s, wh, hist).get
      .agg(count(lit(1)).as("n"), sum("o_orderkey").as("sk")).head()
    // the undone v2 still time-travels (restore never rewrites history)
    // (`.rdd.count()` reads the files; a plain count() would not)
    val atV2 = WarehouseLoad.readWarehouseAt(s, wh, hist, 2).get
      .rdd.count()
    // a feed spanning the restore is a rewrite — it must refuse
    val feedRefused =
      try { WarehouseLoad.changes(s, wh, hist, 2, 3); false }
      catch { case _: WarehouseLoad.RewriteException => true }
    // idempotent: restoring to the current content is a no-op commit
    val noChurn = WarehouseLoad.restoreWarehouse(s, wh, hist, 3) == newHead &&
      WarehouseLoad.currentVersion(s, hist) == newHead
    // COPY semantics reset: only wave 1's file remains "loaded"
    val filesLoaded = WarehouseLoad.loadedFiles(s, hist).get.count()
    import s.implicits._
    Seq((restored.getLong(0), restored.getLong(1), newHead, atV2,
        feedRefused, noChurn, filesLoaded))
      .toDF("n_rows", "sum_key", "head", "n_at_v2", "feed_refused",
        "second_restore_noop", "n_files_loaded")
  }

  val q94Sql: String = """
    SELECT CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN o_orderkey
                         ELSE 0 END) AS BIGINT) AS sum_key,
           CAST(3 AS BIGINT) AS head,
           CAST(COUNT(*) AS BIGINT) AS n_at_v2,
           TRUE AS feed_refused,
           TRUE AS second_restore_noop,
           CAST(1 AS BIGINT) AS n_files_loaded
    FROM orders"""

  // ---------------------------------------------------------------- q95
  // Per-FILE zone stats + file-level pruning (r16, VERDICT r15 #1 —
  // the Delta add-file-stats design): after `compactZOrdered` folds a
  // trickle-loaded table into ONE multi-file Z-clustered root,
  // batch-root zone maps go blind (the fold's overall interval spans
  // everything), but the fold recorded each FILE's [min,max] envelope
  // in the batch manifest (footer stats read once, write-side), and
  // ZonePrune drops non-overlapping FILES from the plan — before a
  // scan task or reader-side footer GET of the pruned file exists.
  // Fixture: three `orders` waves load flat, fold Z-ordered on
  // (o_orderkey, o_custkey) into 8 files, then a bottom-eighth key
  // band is planned. The oracle pins the band's exact content (rows +
  // key sum over `orders` in closed form), the whole-table content
  // through the fold, and the plan contracts: one batch root, per-file
  // stats recorded for every fold file, and the band planning FEWER
  // files than the fold holds.
  //
  // Scale shape: the fold is the one data rewrite (compaction's own
  // cost); stats capture is one footer open per written file at
  // commit, write-side only; the pruning decision is pure in-memory
  // evaluation against the cached manifest. The Z width auto-sizes from
  // the inputs' recorded intervals (metadata), so a 6M-key sf1 fold
  // keeps tight envelopes instead of wrapping a 16-bit Morton curve.
  val q95: Q = (s, d) => {
    import graft.load.WarehouseLoad
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val root = Fixtures.scratchRoot(s, "filezones", d)
    val staging = s"$root/stage"
    val wh = s"$root/warehouse"
    val hist = s"$root/history"
    val target = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType)))
    val deliver = Fixtures.prepareJsonWaves(s, root, staging,
      (0 to 2).map(k => s"wave$k.json" ->
        Tables.orders(s, d).filter(col("o_orderkey") % 3 === k)
          .select(col("o_orderkey"), col("o_custkey"))))
    (0 to 2).foreach { k =>
      deliver(k)
      WarehouseLoad.batchIdempotent(s, staging, target, wh, hist)
    }
    WarehouseLoad.compactZOrdered(s, wh, hist,
      "o_orderkey", "o_custkey", numFiles = 8)
    val after = WarehouseLoad.committedBatches(s, hist)
    val oneRoot = after.size == 1
    val st = WarehouseLoad.batchStats(s, hist, after.head).get
    val nFiles = st.files.size
    // every fold file carries a recorded o_orderkey envelope
    val statsRecorded = st.fileZones.size == nFiles &&
      st.fileZones.values.forall(_.contains("o_orderkey"))

    def scanFiles(df: DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation => fs.location.inputFiles.length
          case _ => 0
        }
      }.sum
    def read() = WarehouseLoad.readWarehouse(s, wh, hist).get
    val allPlanned = scanFiles(read())
    val maxKey = Tables.orders(s, d)
      .agg(max(col("o_orderkey"))).head().getLong(0)
    val band = read().filter(col("o_orderkey") <= maxKey / 8)
    val bandPlanned = scanFiles(band)
    val filePruned = bandPlanned >= 1 && bandPlanned < allPlanned &&
      allPlanned == nFiles
    val bandAgg = band.agg(count(lit(1)).as("n"),
      sum("o_orderkey").as("sk")).head()
    val allAgg = read().agg(count(lit(1)).as("n"),
      sum("o_orderkey").as("sk")).head()
    import s.implicits._
    Seq((bandAgg.getLong(0), bandAgg.getLong(1), allAgg.getLong(0),
        allAgg.getLong(1), oneRoot, statsRecorded, filePruned))
      .toDF("n_band", "sum_band", "n_rows", "sum_key", "one_root",
        "file_stats_recorded", "files_pruned")
  }

  val q95Sql: String = """
    SELECT CAST(COUNT(*) FILTER (WHERE o_orderkey <=
             (SELECT MAX(o_orderkey) FROM orders) // 8) AS BIGINT)
             AS n_band,
           CAST(SUM(o_orderkey) FILTER (WHERE o_orderkey <=
             (SELECT MAX(o_orderkey) FROM orders) // 8) AS BIGINT)
             AS sum_band,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           TRUE AS one_root,
           TRUE AS file_stats_recorded,
           TRUE AS files_pruned
    FROM orders"""

  // ---------------------------------------------------------------- q96
  // MERGE INTO the committed warehouse (r16, VERDICT r15 #2) — the
  // keyed UPSERT the CDC ingest pattern runs against the reference's
  // warehouse (Snowflake MERGE; the COPY pipeline of
  // /root/reference/modules/snowflake.py:145-156 is its append-only
  // little sibling). Fixture: `orders` loads as two waves (even keys,
  // then odd keys); the merge source carries one UPDATE per %10 key
  // (same key, o_custkey shifted +10,000,000) and one INSERT per %10
  // key (key shifted +1,000,000,000). The oracle pins, in closed form
  // over `orders`: the post-merge row count and custkey mass, the
  // update/insert split, that ONLY the hit batch was rewritten (the
  // odd wave's directory stays byte-identical), that the pre-merge
  // version still time-travels (history intact), that a change feed
  // spanning the merge REFUSES (updates are a rewrite, not appends),
  // that re-applying the same source is a no-op with zero version
  // churn (content-derived merge id), and that a scan filtered to the
  // updated value range finds every updated row (the rewritten batch
  // observes FRESH zone stats — an update can expand a column's range,
  // so carrying the old map would wrongly prune).
  //
  // Scale shape: one probe pass over the committed union (broadcast
  // semi-join on the bounded source keys); only hit batches rewrite
  // (broadcast join each); the insert anti-join runs on two
  // source-bounded key sets; everything commits as ONE version.
  val q96: Q = (s, d) => {
    import graft.load.WarehouseLoad
    val root = Fixtures.scratchRoot(s, "mergeinto", d)
    val staging = s"$root/stage"
    val wh = s"$root/warehouse"
    val hist = s"$root/history"
    val target = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType)))
    val deliver = Fixtures.prepareJsonWaves(s, root, staging, Seq(
      "even.json" -> Tables.orders(s, d).filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey")),
      "odd.json" -> Tables.orders(s, d).filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_custkey"))))
    deliver(0)
    WarehouseLoad.batchIdempotent(s, staging, target, wh, hist)
    deliver(1)
    WarehouseLoad.batchIdempotent(s, staging, target, wh, hist)
    val preHead = WarehouseLoad.currentVersion(s, hist)
    val before = WarehouseLoad.committedBatches(s, hist)
    // %10 keys are even — only the even wave can be hit; the odd
    // wave's whole directory must come through byte-identical
    val oddId = before(1)
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    def dirState(id: String) = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$wh/b$id"), true)
      val b = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val st = it.next()
        b += ((st.getPath.toString, st.getLen, st.getModificationTime))
      }
      b.result().sortBy(_._1)
    }
    val oddBefore = dirState(oddId)

    // scale-independent update shift: past the table's own max, so the
    // "updated rows" scan band is disjoint from every original value
    val custShift = Tables.orders(s, d)
      .agg(max(col("o_custkey"))).head().getLong(0) + 1L
    val keyShift = Tables.orders(s, d)
      .agg(max(col("o_orderkey"))).head().getLong(0) + 1L
    val tenth = Tables.orders(s, d).filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), col("o_custkey"))
    val source = tenth.select(col("o_orderkey"),
        (col("o_custkey") + custShift).as("o_custkey"))
      .unionByName(tenth.select(
        (col("o_orderkey") + keyShift).as("o_orderkey"),
        col("o_custkey")))
    val (updated, inserted) = WarehouseLoad.mergeCommitted(s, wh, hist,
      source, Seq("o_orderkey"))
    val head = WarehouseLoad.currentVersion(s, hist)
    val oneCommit = head == preHead + 1
    val untouched = WarehouseLoad.committedBatches(s, hist)
      .contains(oddId) && dirState(oddId) == oddBefore
    val rel = WarehouseLoad.readWarehouse(s, wh, hist).get
    val agg = rel.agg(count(lit(1)).as("n"),
      sum("o_custkey").as("sc")).head()
    // pre-merge snapshot intact (updates never rewrite history)
    val nAtPre = WarehouseLoad.readWarehouseAt(s, wh, hist, preHead)
      .get.rdd.count()
    val feedRefused =
      try { WarehouseLoad.changes(s, wh, hist, preHead, head); false }
      catch { case _: WarehouseLoad.RewriteException => true }
    // idempotent re-apply: content-derived id, zero churn
    val (u2, i2) = WarehouseLoad.mergeCommitted(s, wh, hist, source,
      Seq("o_orderkey"))
    val reapplyNoop = u2 == 0 && i2 == 0 &&
      WarehouseLoad.currentVersion(s, hist) == head
    // fresh stats: a scan of the updated value range finds every
    // updated row (a stale carried zone map would prune them away)
    val updScanned = WarehouseLoad.readWarehouse(s, wh, hist).get
      .filter(col("o_custkey") >= custShift).count()
    import s.implicits._
    Seq((agg.getLong(0), agg.getLong(1), updated, inserted, nAtPre,
        oneCommit && untouched, feedRefused, reapplyNoop, updScanned))
      .toDF("n_rows", "sum_cust", "n_updated", "n_inserted", "n_at_pre",
        "untouched_bytes", "feed_refused", "reapply_noop",
        "n_updated_scanned")
  }

  val q96Sql: String = """
    SELECT CAST(COUNT(*) + SUM(CASE WHEN o_orderkey % 10 = 0
                                    THEN 1 ELSE 0 END) AS BIGINT)
             AS n_rows,
           CAST(SUM(o_custkey)
                + SUM(CASE WHEN o_orderkey % 10 = 0
                           THEN o_custkey
                                + (SELECT MAX(o_custkey) + 1 FROM orders)
                           ELSE 0 END)
             AS BIGINT) AS sum_cust,
           CAST(SUM(CASE WHEN o_orderkey % 10 = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_updated,
           CAST(SUM(CASE WHEN o_orderkey % 10 = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_inserted,
           CAST(COUNT(*) AS BIGINT) AS n_at_pre,
           TRUE AS untouched_bytes,
           TRUE AS feed_refused,
           TRUE AS reapply_noop,
           CAST(SUM(CASE WHEN o_orderkey % 10 = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_updated_scanned
    FROM orders"""

  // ---------------------------------------------------------------- q97
  // Type-widening retype window (r16, VERDICT r15 #3): an upstream
  // producer retypes its keys (int → long — the commonest drift after
  // column addition), and the table's life now spans two recorded
  // schema GENERATIONS. Pre-r16 the log-built scan demanded exact
  // type agreement and such a window dropped to the discovery union —
  // where Spark's footer merge REFUSES int vs bigint outright, so the
  // table wasn't just slower, it was unreadable until compaction
  // unified it. Parquet-safe promotions now plan one log-built
  // relation per schema generation, each read at its recorded type
  // and cast exactly to the widened union schema. The oracle pins the
  // full-table content through the window plus the plan contracts:
  // the read schema is the widened one and BOTH generations plan from
  // the log (ManifestFileIndex relations, zero listing).
  //
  // Scale shape: bounded by distinct-schema count (2), never batch
  // count; the conforming casts are row-local and exact.
  val q97: Q = (s, d) => {
    import graft.load.WarehouseLoad
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val root = Fixtures.scratchRoot(s, "widening", d)
    val staging = s"$root/stage"
    val wh = s"$root/warehouse"
    val hist = s"$root/history"
    val tInt = StructType(Seq(
      StructField("o_orderkey", IntegerType),
      StructField("o_custkey", IntegerType)))
    val tLong = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType)))
    val deliver = Fixtures.prepareJsonWaves(s, root, staging, Seq(
      "gen1.json" -> Tables.orders(s, d).filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey")),
      "gen2.json" -> Tables.orders(s, d).filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_custkey"))))
    deliver(0)
    WarehouseLoad.batchIdempotent(s, staging, tInt, wh, hist)
    deliver(1)
    WarehouseLoad.batchIdempotent(s, staging, tLong, wh, hist)

    val rel = WarehouseLoad.readWarehouse(s, wh, hist).get
    val widened = rel.schema("o_orderkey").dataType == LongType &&
      rel.schema("o_custkey").dataType == LongType
    val locs = rel.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location
        case _ => null
      }
    }
    val logBuilt = locs.size == 2 &&
      locs.forall(_.isInstanceOf[graft.plans.ManifestFileIndex])
    val agg = rel.agg(count(lit(1)).as("n"), sum("o_orderkey").as("sk"),
      sum("o_custkey").as("sc")).head()
    import s.implicits._
    Seq((agg.getLong(0), agg.getLong(1), agg.getLong(2), widened,
        logBuilt))
      .toDF("n_rows", "sum_key", "sum_cust", "widened", "log_built")
  }

  val q97Sql: String = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
           TRUE AS widened,
           TRUE AS log_built
    FROM orders"""

  // ---------------------------------------------------------------- q98
  // Deletion-vector takedown (r16 — the metadata endpoint of the
  // delete ladder; Delta's deletion-vector design, and the form the
  // reference's warehouse exposes as its zero-copy DELETE): keys
  // scattered across every batch delete WITHOUT rewriting or decoding
  // a single data file — each hit batch commits under a new id whose
  // files carry byte-identically (hard links locally) and whose
  // manifest records the hidden `_metadata.row_index` positions; every
  // committed read applies the vector, and the next compaction
  // materializes the removal physically. The oracle pins, in closed
  // form over `orders`: the hidden count and post-delete content, that
  // NO file of either batch was rewritten (byte-state equality), that
  // the pre-delete version still time-travels, that a feed across the
  // DV commit refuses (rewrite), that re-applying the same keys is a
  // zero-churn no-op (the probe reads through the vector), and that
  // compaction materializes (content stable, vector gone).
  //
  // Scale shape: one probe pass (broadcast semi-join) + per hit batch
  // O(files) links and an O(hidden rows) manifest record — no
  // decode, no shuffle, no data write; the deferred physical removal
  // rides compaction's existing rewrite.
  val q98: Q = (s, d) => {
    import graft.load.WarehouseLoad
    val root = Fixtures.scratchRoot(s, "dvtakedown", d)
    val staging = s"$root/stage"
    val wh = s"$root/warehouse"
    val hist = s"$root/history"
    val target = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType)))
    val deliver = Fixtures.prepareJsonWaves(s, root, staging, Seq(
      "even.json" -> Tables.orders(s, d).filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey")),
      "odd.json" -> Tables.orders(s, d).filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_custkey"))))
    deliver(0)
    WarehouseLoad.batchIdempotent(s, staging, target, wh, hist)
    deliver(1)
    WarehouseLoad.batchIdempotent(s, staging, target, wh, hist)
    val preHead = WarehouseLoad.currentVersion(s, hist)
    val before = WarehouseLoad.committedBatches(s, hist)
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    // DATA files only: the carry replicates the manifest's file list,
    // not writer markers like _SUCCESS
    def dirState(id: String) = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$wh/b$id"),
        true)
      val b = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val st = it.next()
        val n = st.getPath.getName
        if (!n.startsWith("_") && !n.startsWith("."))
          b += ((n, st.getLen, st.getModificationTime))
      }
      b.result().sortBy(_._1)
    }
    val statesBefore = before.map(dirState)

    // a BOUNDED key list (the legal-artifact shape a takedown gets in
    // practice — and what keeps the vector under graft.dv.maxRows at
    // any sf); keys hash across both waves
    val keys = Tables.orders(s, d).filter(col("o_orderkey") % 997 === 0)
      .select(col("o_orderkey"))
    val hidden = WarehouseLoad.takedownVectorized(s, wh, hist, keys,
      Seq("o_orderkey"))
    val after = WarehouseLoad.committedBatches(s, hist)
    // zero rewrites: every HIT batch's files carried byte-identically
    // (an unhit batch keeps its id untouched)
    val carried = after != before &&
      after.zip(before).zip(statesBefore).forall {
        case ((na, ob), st0) => na == ob || dirState(na) == st0
      }
    val rel = WarehouseLoad.readWarehouse(s, wh, hist).get
    val agg = rel.agg(count(lit(1)).as("n"),
      sum("o_orderkey").as("sk")).head()
    val nAtPre = WarehouseLoad.readWarehouseAt(s, wh, hist, preHead)
      .get.rdd.count()
    val head = WarehouseLoad.currentVersion(s, hist)
    val feedRefused =
      try { WarehouseLoad.changes(s, wh, hist, preHead, head); false }
      catch { case _: WarehouseLoad.RewriteException => true }
    val reapplyNoop = WarehouseLoad.takedownVectorized(s, wh, hist,
      keys, Seq("o_orderkey")) == 0L &&
      WarehouseLoad.currentVersion(s, hist) == head
    WarehouseLoad.compactCommitted(s, wh, hist)
    val foldId = WarehouseLoad.committedBatches(s, hist)
    val materialized = foldId.size == 1 &&
      WarehouseLoad.batchStats(s, hist, foldId.head)
        .exists(_.dv.isEmpty)
    val aggAfter = WarehouseLoad.readWarehouse(s, wh, hist).get
      .agg(count(lit(1)).as("n"), sum("o_orderkey").as("sk")).head()
    val stable = aggAfter.getLong(0) == agg.getLong(0) &&
      aggAfter.getLong(1) == agg.getLong(1)
    import s.implicits._
    Seq((hidden, agg.getLong(0), agg.getLong(1), nAtPre, carried,
        feedRefused, reapplyNoop, materialized && stable))
      .toDF("n_hidden", "n_rows", "sum_key", "n_at_pre",
        "zero_rewrites", "feed_refused", "reapply_noop",
        "compaction_materializes")
  }

  val q98Sql: String = """
    SELECT CAST(SUM(CASE WHEN o_orderkey % 997 = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_hidden,
           CAST(SUM(CASE WHEN o_orderkey % 997 <> 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_orderkey % 997 <> 0 THEN o_orderkey
                         ELSE 0 END) AS BIGINT) AS sum_key,
           CAST(COUNT(*) AS BIGINT) AS n_at_pre,
           TRUE AS zero_rewrites,
           TRUE AS feed_refused,
           TRUE AS reapply_noop,
           TRUE AS compaction_materializes
    FROM orders"""

  // ---------------------------------------------------------------- q99
  // DELETION-VECTOR MERGE (r17, VERDICT r16 #1 — the zero-rewrite
  // upsert, completing the DV story q98 started for DELETE): a MERGE
  // whose hit batches commit with every data file CARRIED
  // byte-identically (hard links locally), the matched rows DV-hidden,
  // and the source's values appended as sibling batches with FRESH
  // stats — the CDC-trickle-against-compacted-table pattern stops
  // rewriting multi-GB roots per merge, the dominant
  // write-amplification term the rewrite-mode MERGE (q96) left. The
  // oracle pins, in closed form over `orders`: the post-merge row
  // count and custkey mass, the update/insert split, that NO data
  // file of either hit batch was rewritten (byte-state equality
  // through the merge — q98's check, now on the UPDATE path), that
  // the pre-merge version still time-travels, that a feed across the
  // merge refuses (updates are a rewrite), that re-applying the same
  // source is a zero-churn no-op (content-derived merge id), and that
  // a scan of the updated value band finds every updated row (the
  // append batches observe fresh zone stats through their own write
  // jobs — hidden-row carries never re-state ranges).
  //
  // Scale shape: ONE narrow probe pass (keys + row identity only,
  // never value columns) feeds the hit split, the DV row lists and
  // the append multiplicities; per hit batch the commit is O(files)
  // links + an O(runs) manifest record — run-length vectors
  // ([[graft.load.DvVector]]) keep plan and manifest O(runs), so the
  // %997 scatter stays metadata-only at every sf.
  val q99: Q = (s, d) => {
    import graft.load.WarehouseLoad
    val root = Fixtures.scratchRoot(s, "mergedv", d)
    val staging = s"$root/stage"
    val wh = s"$root/warehouse"
    val hist = s"$root/history"
    val target = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType)))
    val deliver = Fixtures.prepareJsonWaves(s, root, staging, Seq(
      "even.json" -> Tables.orders(s, d).filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey")),
      "odd.json" -> Tables.orders(s, d).filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_custkey"))))
    deliver(0)
    WarehouseLoad.batchIdempotent(s, staging, target, wh, hist)
    deliver(1)
    WarehouseLoad.batchIdempotent(s, staging, target, wh, hist)
    val preHead = WarehouseLoad.currentVersion(s, hist)
    val before = WarehouseLoad.committedBatches(s, hist)
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    def dirState(id: String) = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$wh/b$id"),
        true)
      val b = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val st = it.next()
        val n = st.getPath.getName
        if (!n.startsWith("_") && !n.startsWith("."))
          b += ((n, st.getLen, st.getModificationTime))
      }
      b.result().sortBy(_._1)
    }
    val statesBefore = before.map(dirState)

    // scale-independent shifts (the q96 lesson: derive from the
    // table's own MAX, never a fixed constant) + a BOUNDED source
    // (%997 keys — what keeps the vector under the caps at any sf)
    val custShift = Tables.orders(s, d)
      .agg(max(col("o_custkey"))).head().getLong(0) + 1L
    val keyShift = Tables.orders(s, d)
      .agg(max(col("o_orderkey"))).head().getLong(0) + 1L
    val hit = Tables.orders(s, d).filter(col("o_orderkey") % 997 === 0)
      .select(col("o_orderkey"), col("o_custkey"))
    val source = hit.select(col("o_orderkey"),
        (col("o_custkey") + custShift).as("o_custkey"))
      .unionByName(hit.select(
        (col("o_orderkey") + keyShift).as("o_orderkey"),
        col("o_custkey")))
    val (updated, inserted) = WarehouseLoad.mergeCommitted(s, wh, hist,
      source, Seq("o_orderkey"))
    val head = WarehouseLoad.currentVersion(s, hist)
    val after = WarehouseLoad.committedBatches(s, hist)
    // ZERO data files rewritten: a hit batch's replacement (a new id,
    // never the "-u" append sibling) carries every file
    // byte-identically; an unhit batch keeps its id untouched
    val added = after.filterNot(before.contains).filterNot(_.endsWith("-u"))
    val carried = head == preHead + 1 &&
      before.zip(statesBefore).forall { case (ob, st0) =>
        after.contains(ob) || added.exists(na => dirState(na) == st0)
      }
    val rel = WarehouseLoad.readWarehouse(s, wh, hist).get
    val agg = rel.agg(count(lit(1)).as("n"),
      sum("o_custkey").as("sc")).head()
    val nAtPre = WarehouseLoad.readWarehouseAt(s, wh, hist, preHead)
      .get.rdd.count()
    val feedRefused =
      try { WarehouseLoad.changes(s, wh, hist, preHead, head); false }
      catch { case _: WarehouseLoad.RewriteException => true }
    val (u2, i2) = WarehouseLoad.mergeCommitted(s, wh, hist, source,
      Seq("o_orderkey"))
    val reapplyNoop = u2 == 0 && i2 == 0 &&
      WarehouseLoad.currentVersion(s, hist) == head
    // fresh stats on the append batches: the updated value band scans
    // back complete (a stale carried map would wrongly prune it)
    val updScanned = WarehouseLoad.readWarehouse(s, wh, hist).get
      .filter(col("o_custkey") >= custShift).count()
    import s.implicits._
    Seq((agg.getLong(0), agg.getLong(1), updated, inserted, nAtPre,
        carried, feedRefused, reapplyNoop, updScanned))
      .toDF("n_rows", "sum_cust", "n_updated", "n_inserted", "n_at_pre",
        "zero_rewrites", "feed_refused", "reapply_noop",
        "n_updated_scanned")
  }

  val q99Sql: String = """
    SELECT CAST(COUNT(*) + SUM(CASE WHEN o_orderkey % 997 = 0
                                    THEN 1 ELSE 0 END) AS BIGINT)
             AS n_rows,
           CAST(SUM(o_custkey)
                + SUM(CASE WHEN o_orderkey % 997 = 0
                           THEN o_custkey
                                + (SELECT MAX(o_custkey) + 1 FROM orders)
                           ELSE 0 END)
             AS BIGINT) AS sum_cust,
           CAST(SUM(CASE WHEN o_orderkey % 997 = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_updated,
           CAST(SUM(CASE WHEN o_orderkey % 997 = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_inserted,
           CAST(COUNT(*) AS BIGINT) AS n_at_pre,
           TRUE AS zero_rewrites,
           TRUE AS feed_refused,
           TRUE AS reapply_noop,
           CAST(SUM(CASE WHEN o_orderkey % 997 = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_updated_scanned
    FROM orders"""

  // ---------------------------------------------------------------- q89
  // INTEGRAL dictionary zone pruning — q86's probe class on numbers:
  // `shard = 3` / `bucket IN (…)` equality probes on low-cardinality
  // int columns are as common as the string class (shard ids, year
  // partitions, category codes), and min/max intervals cannot prune
  // them when every batch spans the value range. Each load's write
  // job records the ≤64-value exact distinct set for integral columns
  // too (canonical exact-decimal strings via the same BoundedDistinct
  // aggregate), and ZonePrune matches equality/IN literals in the
  // same canonical form. Fixture: `orders` staged in two waves by
  // o_orderkey parity with `shard = o_orderkey % 10` — the even wave
  // holds shards {0,2,4,6,8} (interval [0,8]), the odd {1,3,5,7,9}
  // (interval [1,9]); both intervals span shard=3, only the odd
  // wave's value set holds it. The IN (2,4) probe keeps the even
  // wave alone the same way.
  //
  // Scale shape: identical to q84–q87 — the pruning decision is one
  // cached manifest read per committed load; each surviving root
  // scans half the rows; one map-side-combined aggregate row.
  val q89: Q = (s, d) => {
    import graft.load.WarehouseLoad
    val root = Fixtures.scratchRoot(s, "zoneint", d)
    val staging = s"$root/stage"
    val wh = s"$root/warehouse"
    val hist = s"$root/history"
    val target = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("shard", LongType)))

    val deliver = Fixtures.prepareJsonWaves(s, root, staging,
      (0 to 1).map(k => s"w$k.json" ->
        Tables.orders(s, d).filter(col("o_orderkey") % 2 === k)
          .select(col("o_orderkey"),
            (col("o_orderkey") % 10).as("shard"))))
    (0 to 1).foreach { k =>
      deliver(k)
      WarehouseLoad.batchIdempotent(s, staging, target, wh, hist)
    }

    val nTotal = WarehouseLoad.committedBatches(s, hist).size
    val eq = WarehouseLoad.readWarehouse(s, wh, hist).get
      .filter(col("shard") === 3)
    val scannedEq = scanRoots(eq)
    val aggEq = eq
      .agg(count(lit(1)).as("n"), sum("o_orderkey").as("sk")).head()
    val in = WarehouseLoad.readWarehouse(s, wh, hist).get
      .filter(col("shard").isin(2, 4))
    val scannedIn = scanRoots(in)
    val nIn = in.agg(count(lit(1))).head().getLong(0)

    import s.implicits._
    Seq((aggEq.getLong(0), aggEq.getLong(1), scannedEq.toLong,
        nIn, scannedIn.toLong, nTotal.toLong))
      .toDF("n_eq", "sum_eq", "scanned_eq", "n_in", "scanned_in",
        "n_total")
  }

  val q89Sql: String = """
    SELECT CAST(COUNT(*) FILTER (WHERE o_orderkey % 10 = 3) AS BIGINT) AS n_eq,
           CAST(SUM(o_orderkey) FILTER (WHERE o_orderkey % 10 = 3) AS BIGINT) AS sum_eq,
           CAST(1 AS BIGINT) AS scanned_eq,
           CAST(COUNT(*) FILTER (WHERE o_orderkey % 10 IN (2, 4)) AS BIGINT) AS n_in,
           CAST(1 AS BIGINT) AS scanned_in,
           CAST(2 AS BIGINT) AS n_total
    FROM orders"""

  // ---------------------------------------------------------------- q90
  // Observability over the commit log — the DESCRIBE HISTORY /
  // DESCRIBE DETAIL analogs: `tableHistory` derives each retained
  // version's kind (append / rewrite) and batch-set delta purely from
  // the version log (cached manifest reads, no data I/O), and
  // `describeWarehouse` reports per-batch rows/bytes/files from the
  // recorded manifests (no listing, no scan). Lifecycle under test:
  // two appends → a compaction rewrite (2 folded into 1) → a takedown
  // rewrite (1 replaced) — the oracle pins the version-kind table
  // exactly, plus the head relation's row count and the
  // all-bytes-known detail contract.
  //
  // Scale shape: history is bounded by RETAINED versions (vacuum's
  // retention is the history depth) and detail by the head's batch
  // count — both metadata-only; nothing here touches a data file.
  val q90: Q = (s, d) => {
    import graft.load.WarehouseLoad
    val root = Fixtures.scratchRoot(s, "describe", d)
    val staging = s"$root/stage"
    val wh = s"$root/warehouse"
    val hist = s"$root/history"
    val target = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType)))

    val deliver = Fixtures.prepareJsonWaves(s, root, staging,
      (0 to 1).map(k => s"w$k.json" ->
        Tables.orders(s, d).filter(col("o_orderkey") % 2 === k)
          .select(col("o_orderkey"), col("o_custkey"))))
    (0 to 1).foreach { k =>
      deliver(k)
      WarehouseLoad.batchIdempotent(s, staging, target, wh, hist)
    }
    WarehouseLoad.compactCommitted(s, wh, hist)               // v3
    import s.implicits._
    val victim = Tables.orders(s, d)
      .agg(min("o_orderkey")).head().getLong(0)
    WarehouseLoad.takedownCommitted(s, wh, hist,              // v4
      Seq(victim).toDF("o_orderkey"), Seq("o_orderkey"))

    val headRows = WarehouseLoad.readWarehouse(s, wh, hist).get
      .rdd.count()
    val detail = WarehouseLoad.describeWarehouse(s, hist).collect()
    val bytesKnown = detail.nonEmpty &&
      detail.forall(r => !r.isNullAt(r.fieldIndex("n_bytes")) &&
        r.getAs[Long]("n_bytes") > 0)
    WarehouseLoad.tableHistory(s, hist)
      .withColumn("head_rows", lit(headRows))
      .withColumn("detail_bytes_known", lit(bytesKnown))
      .orderBy("version")
  }

  val q90Sql: String = """
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) - 1 AS head_rows
               FROM orders)
    SELECT v.*, n.head_rows, TRUE AS detail_bytes_known
    FROM (VALUES
      (CAST(1 AS BIGINT), 'append',  CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT)),
      (CAST(2 AS BIGINT), 'append',  CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(2 AS BIGINT)),
      (CAST(3 AS BIGINT), 'rewrite', CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(1 AS BIGINT)),
      (CAST(4 AS BIGINT), 'rewrite', CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(1 AS BIGINT)))
      AS v(version, kind, n_added, n_removed, n_batches), n
    ORDER BY version"""

  // ---------------------------------------------------------------- q91
  // CHECK constraints — the typed-load failure-policy family completed
  // (strict = abort on coercion, permissive = null-through, quarantine
  // = dead-letter, and now DECLARED TABLE CONSTRAINTS): `addCheck`
  // records a named SQL predicate beside the commit log, and every
  // subsequent load fuses it into its OWN write job as an assert
  // guard (the strict-mode mechanism — zero extra scans), refusing
  // the WHOLE batch pre-commit on a violation, with the exception
  // naming the constraint. SQL CHECK semantics: only FALSE violates
  // (null passes — `IS NOT NULL` spells null rejection). Lifecycle:
  // declare two checks → clean wave loads → a negative-key wave is
  // REFUSED (head unchanged, relation unchanged, the violating batch
  // never visible) → the bad file is withdrawn → the remaining wave
  // loads. Oracle: full-orders recompute + the refusal constants.
  //
  // Scale shape: enforcement cost is in-flight expression evaluation
  // inside the load's codegen'd pipeline; declaration is one tiny
  // manifest. Nothing here adds a scan or a shuffle.
  val q91: Q = (s, d) => {
    import graft.load.WarehouseLoad
    val root = Fixtures.scratchRoot(s, "checks", d)
    val staging = s"$root/stage"
    val wh = s"$root/warehouse"
    val hist = s"$root/history"
    val target = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType)))

    WarehouseLoad.addCheck(s, hist, "key_present",
      "o_orderkey IS NOT NULL")
    WarehouseLoad.addCheck(s, hist, "key_positive", "o_orderkey >= 0")

    // wave 1 is a corrupted feed: the same odd wave with NEGATED keys —
    // every row violates key_positive, and the whole batch must refuse
    val deliver = Fixtures.prepareJsonWaves(s, root, staging, Seq(
      "w0.json" -> Tables.orders(s, d).filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey")),
      "bad.json" -> Tables.orders(s, d).filter(col("o_orderkey") % 2 === 1)
        .select((-col("o_orderkey")).as("o_orderkey"), col("o_custkey")),
      "w1.json" -> Tables.orders(s, d).filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_custkey"))))
    deliver(0)
    WarehouseLoad.batchIdempotent(s, staging, target, wh, hist)   // v1

    deliver(1)
    val violated =
      try { WarehouseLoad.batchIdempotent(s, staging, target, wh, hist); "" }
      catch { case v: WarehouseLoad.CheckViolation => v.constraint }
    val headAfterRefusal = WarehouseLoad.currentVersion(s, hist)
    val rowsAfterRefusal = WarehouseLoad.readWarehouse(s, wh, hist).get
      .rdd.count()

    // the feed is fixed upstream: withdraw the bad file, load the wave
    val fs = new org.apache.hadoop.fs.Path(staging)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$staging/bad.json"), false)
    deliver(2)
    WarehouseLoad.batchIdempotent(s, staging, target, wh, hist)   // v2

    val agg = WarehouseLoad.readWarehouse(s, wh, hist).get
      .agg(count(lit(1)).as("n"), sum("o_orderkey").as("sk")).head()
    import s.implicits._
    Seq((agg.getLong(0), agg.getLong(1), violated,
        headAfterRefusal, rowsAfterRefusal,
        WarehouseLoad.checks(s, hist).size.toLong,
        WarehouseLoad.currentVersion(s, hist)))
      .toDF("n_rows", "sum_key", "violated", "head_at_refusal",
        "rows_at_refusal", "n_checks", "head_version")
  }

  val q91Sql: String = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           'key_positive' AS violated,
           CAST(1 AS BIGINT) AS head_at_refusal,
           CAST(COUNT(*) FILTER (WHERE o_orderkey % 2 = 0) AS BIGINT)
             AS rows_at_refusal,
           CAST(2 AS BIGINT) AS n_checks,
           CAST(2 AS BIGINT) AS head_version
    FROM orders"""

  // ---------------------------------------------------------------- q92
  // Timestamp time travel — the AS OF TIMESTAMP resolution over the
  // commit log: `versionAt` maps a wall-clock instant to the newest
  // retained version published at or before it (version-file publish
  // times under a running max, so a vacuum's cutoff rewrite can never
  // make an old timestamp resolve forward), and `readWarehouseAsOf`
  // reads that snapshot. Lifecycle: wave 0 loads, an instant is
  // captured, wave 1 loads after a deliberate publish-time gap; the
  // as-of read must see exactly wave 0 while the current read sees
  // both — the oracle restates both in closed form.
  //
  // Scale shape: resolution is ONE `_versions` listing (bounded by
  // retained versions — vacuum's horizon), then the normal
  // snapshot-read plan; no data I/O in the resolution itself.
  val q92: Q = (s, d) => {
    import graft.load.WarehouseLoad
    val root = Fixtures.scratchRoot(s, "asofts", d)
    val staging = s"$root/stage"
    val wh = s"$root/warehouse"
    val hist = s"$root/history"
    val target = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType)))

    val deliver = Fixtures.prepareJsonWaves(s, root, staging,
      (0 to 1).map(k => s"w$k.json" ->
        Tables.orders(s, d).filter(col("o_orderkey") % 2 === k)
          .select(col("o_orderkey"), col("o_custkey"))))
    (0 to 1).foreach { k =>
      deliver(k)
      WarehouseLoad.batchIdempotent(s, staging, target, wh, hist)
      if (k == 0) Thread.sleep(60) // separate the publishes' mtimes
    }
    // the instant between the publishes: just after v1's file time
    val vroot = new org.apache.hadoop.fs.Path(s"$hist/_versions")
    val fs = vroot.getFileSystem(s.sparkContext.hadoopConfiguration)
    val t = fs.getFileStatus(new org.apache.hadoop.fs.Path(vroot,
      "v00000001")).getModificationTime + 1

    val v = WarehouseLoad.versionAt(s, hist, t).getOrElse(-1L)
    val asOf = WarehouseLoad.readWarehouseAsOf(s, wh, hist, t).get
      .agg(count(lit(1)).as("n"), sum("o_orderkey").as("sk")).head()
    val now = WarehouseLoad.readWarehouse(s, wh, hist).get
      .agg(count(lit(1)).as("n"), sum("o_orderkey").as("sk")).head()
    import s.implicits._
    Seq((v, asOf.getLong(0), asOf.getLong(1), now.getLong(0),
        now.getLong(1)))
      .toDF("version_at_ts", "n_at_ts", "sum_at_ts", "n_now", "sum_now")
  }

  val q92Sql: String = """
    SELECT CAST(1 AS BIGINT) AS version_at_ts,
           CAST(COUNT(*) FILTER (WHERE o_orderkey % 2 = 0) AS BIGINT) AS n_at_ts,
           CAST(SUM(o_orderkey) FILTER (WHERE o_orderkey % 2 = 0) AS BIGINT) AS sum_at_ts,
           CAST(COUNT(*) AS BIGINT) AS n_now,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_now
    FROM orders"""

  val queries: Map[String, Q] = Map(
    "q79_quarantine_load" -> q79,
    "q80_schema_drift" -> q80,
    "q81_time_travel" -> q81,
    "q82_takedown_committed" -> q82,
    "q83_feed_ivm" -> q83,
    "q84_zone_prune" -> q84,
    "q85_zone_prune_str" -> q85,
    "q86_zone_prune_dict" -> q86,
    "q87_zone_prune_null" -> q87,
    "q88_compact_tiered" -> q88,
    "q89_zone_prune_int" -> q89,
    "q90_describe_history" -> q90,
    "q91_check_constraints" -> q91,
    "q92_time_travel_ts" -> q92,
    "q93_compact_tiered_part" -> q93,
    "q94_restore_version" -> q94,
    "q95_file_prune" -> q95,
    "q96_merge_into" -> q96,
    "q97_type_widening" -> q97,
    "q98_takedown_dv" -> q98,
    "q99_merge_dv" -> q99)

  val oracle: Map[String, String] = Map(
    "q79_quarantine_load" -> q79Sql,
    "q80_schema_drift" -> q80Sql,
    "q81_time_travel" -> q81Sql,
    "q82_takedown_committed" -> q82Sql,
    "q83_feed_ivm" -> q83Sql,
    "q84_zone_prune" -> q84Sql,
    "q85_zone_prune_str" -> q85Sql,
    "q86_zone_prune_dict" -> q86Sql,
    "q87_zone_prune_null" -> q87Sql,
    "q88_compact_tiered" -> q88Sql,
    "q89_zone_prune_int" -> q89Sql,
    "q90_describe_history" -> q90Sql,
    "q91_check_constraints" -> q91Sql,
    "q92_time_travel_ts" -> q92Sql,
    "q93_compact_tiered_part" -> q93Sql,
    "q94_restore_version" -> q94Sql,
    "q95_file_prune" -> q95Sql,
    "q96_merge_into" -> q96Sql,
    "q97_type_widening" -> q97Sql,
    "q98_takedown_dv" -> q98Sql,
    "q99_merge_dv" -> q99Sql)
}
