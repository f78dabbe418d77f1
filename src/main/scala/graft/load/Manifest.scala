package graft.load

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.types.{ByteType, DataType, DateType, DoubleType,
  FloatType, IntegerType, LongType, ShortType, StringType, StructField,
  StructType, TimestampType}

/** Each committed batch's `_ZONEMAP` manifest: what the batch's write
  * recorded about itself ([[BatchStats]] — schema, data and history
  * file lists, per-column and per-file zone stats, row counts,
  * deletion vectors), its line encoding, the byte-bounded cache its
  * readers share, and the writers of the batch's metadata: the zone
  * observation a data write carries ([[observeZones]]), the manifest
  * writes ([[writeZoneMap]], [[carryStats]], [[mergeZoneMaps]]), the
  * history-file writer and copier, and the per-batch memo of loaded
  * source files. The one zone encoding ([[Zone]], [[utf8Cmp]],
  * [[zoneUnion]], [[zoneMapCols]]) lives here; [[FileZones]] and
  * [[graft.plans.ZonePrune]] use it. */
object Manifest {
  import CommittedScan.historyFileRelation, VersionLog.committedBatches

  private[load] def parseSchema(json: String): StructType =
    DataType.fromJson(json).asInstanceOf[StructType]

  /** A committed batch whose manifest cannot be what a writer recorded. */
  private[load] def corrupt(historyDir: String, id: String,
                            what: String): IllegalStateException =
    new IllegalStateException(
      s"batch $id of $historyDir: $what — the commit log is corrupt")

  /** Per-(historyDir, batch) memo of each batch's loaded-file list —
    * batch history dirs are IMMUTABLE once committed (the commit
    * protocol's core invariant), so the list can be read once per
    * batch and reused for every later freshness anti-join (r17: the
    * per-commit `loadedFiles` collect job + its history-relation plan
    * construction was ~180 ms of driver wall per commit; a steady
    * committer now pays one bounded read per batch it did NOT itself
    * write, and zero for its own — [[loadAtomic]] seeds the memo at
    * commit time). Bounded by the same listing-sized budget as the
    * fresh set itself. */
  private val loadedFilesMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Seq[String]]()

  private[graft] def seedLoadedFiles(historyDir: String, id: String,
      files: Seq[String]): Unit =
    loadedFilesMemo.put((historyDir, id), files)

  /** Ensure the per-batch memo covers `ids` (ONE bounded collect over
    * only the not-yet-memoized batches), then return their loaded-file
    * lists concatenated in batch order — the relation
    * [[historyFileRelation]] would read, already driver-resident. */
  private[load] def loadedFileLists(spark: SparkSession, historyDir: String,
      ids: Seq[String]): Seq[String] = {
    val missing = ids.filter(id =>
      !loadedFilesMemo.containsKey((historyDir, id)))
    if (missing.nonEmpty) {
      historyFileRelation(spark, historyDir, missing).foreach { rel =>
        rel.select("batch", "file").collect()
          .groupBy(_.getString(0))
          .foreach { case (id, rows) =>
            loadedFilesMemo.put((historyDir, id),
              rows.map(_.getString(1)).toSeq)
          }
        // a batch with an EMPTY history list (streamed epochs) yields
        // no rows above — memo it as empty so it is not re-fetched
        missing.foreach(id =>
          loadedFilesMemo.putIfAbsent((historyDir, id), Nil))
      }
    }
    ids.flatMap(id =>
      loadedFilesMemo.getOrDefault((historyDir, id), Nil))
  }

  /** The loaded-file SET at the current head — the freshness filter of
    * [[idempotentBatch]], assembled from the per-batch memo with one
    * collect over ONLY the not-yet-memoized batches. */
  private[load] def loadedFileSet(spark: SparkSession, historyDir: String):
      Set[String] =
    loadedFileLists(spark, historyDir,
      committedBatches(spark, historyDir)).toSet

  // ------------------------------------------------------------------
  // Zone maps: per-batch min/max column stats in the commit metadata
  // ------------------------------------------------------------------

  private val ZoneMapFile = "_ZONEMAP"

  /** A batch's recorded [min, max] interval for one column. Two forms:
    * [[NumZone]] (numerics + temporals, double-encoded: numerics
    * as-is, date = epoch DAYS, timestamp = epoch MILLIS, widened
    * outward at write so the encoding is always conservative) and
    * [[StrZone]] (exact string min/max, compared in UTF-8 BINARY order
    * — the ordering Spark's own min/max on StringType uses — because
    * the commonest LLM-pipeline predicates are `source = 'web'` /
    * `lang = 'en'` equality/range probes, VERDICT r12 #4). */
  sealed trait Zone
  final case class NumZone(lo: Double, hi: Double) extends Zone
  final case class StrZone(lo: String, hi: String) extends Zone

  /** A batch's recorded stats for one column, each component optional
    * and independently conservative:
    *  - `zone`: the [min, max] interval over non-null values;
    *  - `dict`: the EXACT distinct non-null value set when the batch
    *    held at most [[DictMax]] of them (VERDICT r13 #2 — min/max
    *    intervals cannot prune `source = 'web'` when every batch mixes
    *    sources; the set can). Strings record their raw value;
    *    integral columns (r14) record the exact-decimal cast-to-string
    *    canonical form, matched literal-side by ZonePrune — the
    *    `shard = 3` / `year IN (…)` probe class. Always a SUPERSET of
    *    the current values (row-removing rewrites only shrink the true
    *    set);
    *  - `nulls`: the null count at write time. Row-removing rewrites
    *    can only DECREASE it, so the two prune triggers stay sound:
    *    `nulls == 0` (no row is null — IS NULL proven empty) and
    *    `nulls == rows` (every row is null — IS NOT NULL and every
    *    comparison proven empty) are both monotone under removal. */
  final case class ColStats(zone: Option[Zone], dict: Option[Set[String]],
                            nulls: Option[Long])

  /** One FILE's recorded stats inside a batch manifest (r16 — the
    * file-level pruning tier, [[FileZones]]): its exact row count (from
    * the footer; required) plus per-column [[ColStats]] (interval + null
    * count; never a dictionary — footers don't carry one). Same
    * conservatism contract as the batch level: an absent column stat is
    * "must scan", and the prover evaluates a file exactly like a
    * batch. */
  final case class FileStats(rows: Long,
                             cols: Map[String, ColStats])

  /** Everything a batch's `_ZONEMAP` manifest records. Every commit
    * records four things, and readers rely on them (a committed batch
    * without them is corruption, see [[manifest]]):
    *  - `rows`: the row count the batch's write recorded (`#c` line) —
    *    at write time, so a deletion vector or a carried takedown can
    *    leave fewer live rows;
    *  - `schemaJson`: the SCHEMA the write job produced (`#s` line,
    *    Spark schema JSON) — the Delta "schema in the log" move, so the
    *    scan never merges footers;
    *  - `files`: the batch data dir's files (`#fc`/`#f` lines, relative
    *    path → length), the log-built scan's file set
    *    ([[graft.plans.ManifestFileIndex]]); empty when the batch wrote
    *    no rows;
    *  - `histFiles`: the batch history dir's files (`#hfc`/`#hf`).
    * Column stats ([[ColStats]]) are recorded only when the write
    * observed them — absent stats read as "must scan". */
  final case class BatchStats(cols: Map[String, ColStats],
                              rows: Long,
                              schemaJson: String,
                              files: Seq[(String, Long)],
                              histFiles: Seq[(String, Long)],
                              // per-FILE stats (r16): rel path →
                              // [[FileStats]]; an absent (file, col)
                              // is "must scan"
                              fileStats: Map[String, FileStats] =
                                Map.empty,
                              // DELETION VECTORS (r16; run-length
                              // encoded r17): rel path → hidden
                              // `_metadata.row_index` runs
                              // ([[DvVector]]). Every committed read
                              // of this batch filters them out;
                              // compaction materializes the removal
                              // physically.
                              dv: Map[String, DvVector] =
                                Map.empty) {
    /** The batch's recorded data size: its file-list lengths summed. */
    def bytes: Long = files.map(_._2).sum
    /** The batch's exact live row count: every file's recorded footer
      * row count less the rows its deletion vector hides. `None` when a
      * file has no recorded count (a manifest written before every
      * writer recorded one for each file). */
    def liveRows: Option[Long] =
      graft.functions.DvHidden.liveRows[String](files.iterator.map(_._1),
        fileStats.get(_).map(_.rows), dv.get(_).map(_.startsEnds))
    /** Interval-only view of [[fileStats]] (spec/report convenience). */
    def fileZones: Map[String, Map[String, Zone]] =
      fileStats.view.mapValues(_.cols.collect {
        case (c, ColStats(Some(z), _, _)) => c -> z
      }.toMap).toMap
    def zones: Map[String, Zone] =
      cols.collect { case (c, ColStats(Some(z), _, _)) => c -> z }
    /** Is `col` (CI match) recorded as all-null? A predicate comparing
      * an all-null column to anything is never satisfied. */
    def allNull(col: String): Boolean =
      colStats(col).exists(_.nulls.contains(rows))
    def colStats(col: String): Option[ColStats] =
      cols.collectFirst { case (c, s) if c.equalsIgnoreCase(col) => s }
  }

  /** Largest distinct-value set a zone manifest records per string
    * column; beyond it the batch records only the interval. Bounded
    * BY THE AGGREGATE ([[graft.functions.BoundedDistinct]] clears its
    * buffer at cap+1), so a billion-NDV column costs O(DictMax) task
    * memory during the write, never O(NDV). */
  private val DictMax = 64

  /** UTF-8 binary comparison — matches UTF8String's ordering (unsigned
    * byte-wise), NOT java.lang.String.compareTo (UTF-16 code units,
    * which diverges on supplementary-plane characters). */
  private[graft] def utf8Cmp(a: String, b: String): Int =
    utf8Cmp(a.getBytes("UTF-8"), b.getBytes("UTF-8"))

  /** [[utf8Cmp]] over raw bytes, which need not be valid UTF-8 (a
    * prefix's binary-order upper bound). */
  private[graft] def utf8Cmp(x: Array[Byte], y: Array[Byte]): Int = {
    var i = 0
    while (i < x.length && i < y.length) {
      val c = (x(i) & 0xFF) - (y(i) & 0xFF)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** Interval union for the compaction merge — `None` on a type
    * mismatch (a merged map must never understate a range it cannot
    * represent). Also the per-file union across row groups
    * ([[FileZones]]). */
  private[load] def zoneUnion(a: Zone, b: Zone): Option[Zone] = (a, b) match {
    case (NumZone(a1, a2), NumZone(b1, b2)) =>
      Some(NumZone(math.min(a1, b1), math.max(a2, b2)))
    case (StrZone(a1, a2), StrZone(b1, b2)) =>
      Some(StrZone(if (utf8Cmp(a1, b1) <= 0) a1 else b1,
                   if (utf8Cmp(a2, b2) >= 0) a2 else b2))
    case _ => None
  }

  /** Columns that get zone-map stats: numerics + temporals (range
    * predicates) and strings (equality/range probes on bounded-length
    * values — over-long values record no interval rather than a
    * truncated bound that could understate the max). */
  private def zoneMapCols(schema: StructType): Seq[StructField] =
    schema.fields.toSeq.filter(f => zoneable(f.dataType))

  /** Can the zone encoding express a column of type `dt`? */
  private[load] def zoneable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | DateType | TimestampType | StringType => true
    case _ => false
  }

  /** Longest string recorded in a zone map: beyond this, the column's
    * interval is dropped for the batch (conservative must-scan) —
    * storing a truncated max would understate the true range, and
    * padding tricks buy little for manifest bloat. */
  private[load] val ZoneStrMax = 512

  private def zoneVal(v: Any): Option[Double] = v match {
    case null => None
    case n: java.lang.Number => Some(n.doubleValue())
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay.toDouble)
    case t: java.sql.Timestamp => Some(t.getTime.toDouble)
    case d: java.time.LocalDate => Some(d.toEpochDay.toDouble)
    case i: java.time.Instant => Some(i.toEpochMilli.toDouble)
    case _ => None
  }

  private def enc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")

  /** Manifest lines, every field URL-encoded (space-free):
    *  - `<col> <lo> <hi>` — numeric interval (pre-r12 compatible);
    *  - `S <col> <lo> <hi>` — string interval;
    *  - `#d <col> <v1> … <vk>` — distinct-value dictionary;
    *  - `#n <col> <nulls>` — per-column null count;
    *  - `#c <rows>` — batch row count;
    *  - `#s <schema json>`, `#fc <n>` + `#f <rel> <len>` (data files),
    *    `#hfc <n>` + `#hf <rel> <len>` (history files) — the records
    *    every commit writes ([[BatchStats]]).
    * The `#`-prefixed tags cannot collide with an encoded column name
    * (URL-encoding never emits a literal `#`). `#c`, `#s`, `#fc` and
    * `#hfc` are required, and so is a `#zc` row count for every file
    * with per-file stats: a manifest missing one, or whose `#f`/`#hf`
    * lines disagree with their count, is rejected as corrupt. Only
    * stats may be absent (they read as "must scan"); unknown lines are
    * ignored. */
  private def encodeZoneLine(c: String, z: Zone): String = z match {
    case NumZone(lo, hi) =>
      enc(c) + " " + Math.nextDown(lo) + " " + Math.nextUp(hi)
    case StrZone(lo, hi) =>
      "S " + enc(c) + " " + enc(lo) + " " + enc(hi)
  }

  private def encodeZoneMap(st: BatchStats): String = {
    def fileLines(tag: String, fs: Seq[(String, Long)]) =
      s"#${tag}c ${fs.size}" +:
        fs.map { case (rel, len) => s"#$tag ${enc(rel)} $len" }
    // per-file stats (r16): `#z <rel> <col> <lo> <hi>` numeric interval
    // (one-ulp-widened like the batch lines), `#zS` string interval,
    // `#zc <rel> <rows>` row count, `#zn <rel> <col> <nulls>` null
    // count — the file-level pruning tier ([[FileZones]])
    // deletion vectors (r17): `#dvr <rel> <delta-RLE runs>`
    // ([[DvVector.encode]]) — chunked at 512 runs/line so no line
    // grows unbounded; a rel's lines are written (and must be read)
    // in order, each chunk's first gap relative to the previous
    // chunk's end
    val dvLines = st.dv.toSeq.sortBy(_._1).flatMap { case (rel, vec) =>
      vec.encodeChunks(512).map(c => s"#dvr ${enc(rel)} $c")
    }
    val fzLines = st.fileStats.toSeq.sortBy(_._1).flatMap { case (rel, fst) =>
      s"#zc ${enc(rel)} ${fst.rows}" +:
        fst.cols.toSeq.sortBy(_._1).flatMap { case (c, cs) =>
          cs.zone.map {
            case NumZone(lo, hi) =>
              s"#z ${enc(rel)} ${enc(c)} ${Math.nextDown(lo)} ${Math.nextUp(hi)}"
            case StrZone(lo, hi) =>
              s"#zS ${enc(rel)} ${enc(c)} ${enc(lo)} ${enc(hi)}"
          }.toSeq ++
            cs.nulls.map(n => s"#zn ${enc(rel)} ${enc(c)} $n")
        }
    }
    val lines = Seq(s"#c ${st.rows}", s"#s ${enc(st.schemaJson)}") ++
      fileLines("f", st.files) ++ fileLines("hf", st.histFiles) ++
      dvLines ++ fzLines ++
      st.cols.toSeq.sortBy(_._1).flatMap { case (c, cs) =>
        cs.zone.map(encodeZoneLine(c, _)).toSeq ++
          cs.dict.map(d =>
            ("#d" +: enc(c) +: d.toSeq.sorted.map(enc)).mkString(" ")) ++
          cs.nulls.map(n => s"#n ${enc(c)} $n")
      }
    lines.mkString("\n")
  }

  /** Attach the zone-map observation to a batch about to be written:
    * the batch row count plus per-column min/max + null count (+ the
    * bounded distinct set for strings) of its zone-mappable columns,
    * all collected by the write job itself (CollectMetrics — zero extra
    * scans, bounded memory: the dictionary aggregate clears itself past
    * [[DictMax]]). */
  private[load] def observeZones(df: DataFrame):
      (DataFrame, Observation, Seq[StructField]) = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    import org.apache.spark.sql.GraftSqlBridge.{column, expression}
    val zcols = zoneMapCols(df.schema)
    val zobs = new Observation()
    val zaggs = count(lit(1)).as("zrows__") +: zcols.flatMap { f =>
      val dict = f.dataType match {
        case StringType => Seq(column(
          graft.functions.BoundedDistinct(
            expression(col(f.name)), DictMax).toAggregateExpression())
          .as(s"zdict__${f.name}"))
        // integral columns dictionary too (r14): `shard = 3` /
        // `year IN (…)` probes on low-NDV ints are as common as the
        // string class and intervals cannot prune them when batches
        // mix values. Canonical form = Spark's own integral→string
        // cast (exact decimal), matched literal-side by ZonePrune.
        case ByteType | ShortType | IntegerType | LongType =>
          Seq(column(
            graft.functions.BoundedDistinct(
              expression(col(f.name).cast(StringType)), DictMax)
              .toAggregateExpression())
            .as(s"zdict__${f.name}"))
        case _ => Nil
      }
      Seq(
        min(col(f.name)).as(s"zmin__${f.name}"),
        max(col(f.name)).as(s"zmax__${f.name}"),
        count(col(f.name)).as(s"znn__${f.name}")) ++ dict
    }
    (df.observe(zobs, zaggs.head, zaggs.tail: _*), zobs, zcols)
  }

  /** One recursive listing of a just-written batch dir — the WRITER's
    * own files, recorded into the manifest so readers never have to
    * list again ([[graft.plans.ManifestFileIndex]]). `(relative path,
    * length)` per real file; `_`/`.`-prefixed names (markers,
    * sidecars) are skipped at every level. */
  private def listBatchFiles(spark: SparkSession,
      dir: String): Seq[(String, Long)] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = fs.makeQualified(p).toString
    val out = Seq.newBuilder[(String, Long)]
    try {
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val st = it.next()
        val full = st.getPath.toString
        val rel = full.stripPrefix(base).stripPrefix("/")
        if (st.isFile && rel.nonEmpty &&
            !rel.split("/").exists(seg =>
              seg.startsWith("_") || seg.startsWith(".")))
          out += rel -> st.getLen
      }
    } catch { case _: java.io.FileNotFoundException => () }
    out.result()
  }

  /** Write a batch's history snapshot — its one `file` string column —
    * DIRECTLY from the driver as a single parquet file, replacing a
    * Spark write job + its plan construction per commit (r18, guide
    * §1.2(1): the list is already driver-resident at every call site,
    * and the job it replaces was measured at ~60–90 ms plus ~50–75 ms
    * of planning gap per commit — pure fixed cost at any scale, since
    * the snapshot is listing-sized metadata, never data). The file is
    * bit-compatible with the write it replaces: same dir layout, same
    * parquet schema (`optional binary file (STRING)` = the nullable
    * `file` StringType column Spark's own writer produced), snappy
    * codec. The log-built [[historyFileRelation]] is its only reader
    * (it hands the scan that schema instead of reading the footer), so
    * a PlanSpec differential pins the file against Spark's own
    * `spark.read.parquet`: same rows, same nullable `file STRING`
    * schema. An EMPTY list writes a zero-row file with the schema in
    * the footer (the streamed-epoch shape). */
  private[load] def writeHistoryList(spark: SparkSession, dir: String,
      files: Seq[String]): Unit = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    // mode("overwrite") semantics: a retry of the same logical batch
    // replaces its own orphaned snapshot
    if (fs.exists(p)) fs.delete(p, true)
    fs.mkdirs(p)
    val schema = Types.buildMessage()
      .addField(Types.optional(PrimitiveTypeName.BINARY)
        .as(LogicalTypeAnnotation.stringType()).named("file"))
      .named("spark_schema")
    val part = new org.apache.hadoop.fs.Path(p,
      s"part-00000-${java.util.UUID.randomUUID()}.snappy.parquet")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(part, conf))
      .withConf(conf)
      .withType(schema)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try {
      val gf =
        new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      files.foreach { name =>
        val g = gf.newGroup(); g.add("file", name); writer.write(g)
      }
    } finally writer.close()
  }

  /** Carry a batch's IMMUTABLE history dir to a rewrite's new id from
    * the driver — hard-link/copy each data file (the [[carryFile]]
    * mechanism), replacing the `spark.read.parquet(old).write(new)`
    * pair of Spark jobs per hit batch (r18; measured ~90–250 ms of
    * job + planning gap per carried batch). Content is byte-identical
    * by construction — strictly stronger than the row-copy it
    * replaces. */
  private[load] def copyHistoryDir(spark: SparkSession, historyDir: String,
      id: String, nid: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(s"$historyDir/b$id")
    val fs = src.getFileSystem(conf)
    val dst = new org.apache.hadoop.fs.Path(s"$historyDir/b$nid")
    if (fs.exists(dst)) fs.delete(dst, true)
    fs.mkdirs(dst)
    listBatchFiles(spark, s"$historyDir/b$id").foreach { case (rel, _) =>
      carryFile(fs, new org.apache.hadoop.fs.Path(src, rel),
        new org.apache.hadoop.fs.Path(dst, rel), conf)
    }
    // the carried dir's loaded-file list is its source's — seed the
    // memo so the NEXT load's freshness check never re-collects it
    Option(loadedFilesMemo.get((historyDir, id)))
      .foreach(seedLoadedFiles(historyDir, nid, _))
  }

  /** Persist an [[observeZones]] result (after its write job ran) as
    * batch `id`'s `_ZONEMAP` manifest, with the schema, both just-written
    * file lists and per-FILE stats (r16: a footer read of the batch's own
    * new files, write-side only — the file-level pruning tier readers get
    * for free from the manifest). All-null columns record no interval
    * (their null count still prunes IS NOT NULL and every comparison);
    * over-cap dictionaries and over-long strings record no dict/interval
    * respectively — absent is always "must scan". */
  private[load] def writeZoneMap(spark: SparkSession, warehouseDir: String,
      historyDir: String, id: String, o: Observation,
      zcols: Seq[StructField], schema: StructType): Unit = {
    val rows = o.get("zrows__").asInstanceOf[Long]
    val entries = zcols.flatMap { f =>
      val zone =
        (f.dataType, o.get(s"zmin__${f.name}"), o.get(s"zmax__${f.name}")) match {
          case (StringType, lo: String, hi: String)
              if lo.length <= ZoneStrMax && hi.length <= ZoneStrMax =>
            Some(StrZone(lo, hi))
          case (StringType, _, _) => None // null or over-long
          case (dt, loAny, hiAny) =>
            // Timestamp values truncate to whole milliseconds in the
            // double encoding (getTime floors sub-ms precision),
            // which a one-ulp widening cannot cover — pad temporal
            // intervals a full millisecond outward so the recorded
            // range never understates the true one (the superset
            // contract).
            val pad = dt match {
              case TimestampType => 1.0
              case _ => 0.0
            }
            for {
              lo <- zoneVal(loAny)
              hi <- zoneVal(hiAny)
            } yield NumZone(lo - pad, hi + pad)
        }
      val dict = f.dataType match {
        case StringType | ByteType | ShortType | IntegerType | LongType =>
          Option(o.get(s"zdict__${f.name}"))
            .map(_.asInstanceOf[Seq[String]].toSet)
            .filter(d => d.nonEmpty && d.forall(_.length <= ZoneStrMax))
        case _ => None
      }
      val nulls = o.get(s"znn__${f.name}") match {
        case nn: java.lang.Long => Some(rows - nn.longValue())
        case _ => None
      }
      val st = ColStats(zone, dict, nulls)
      if (st.zone.isEmpty && st.dict.isEmpty && st.nulls.isEmpty) None
      else Some(f.name -> st)
    }
    val (dataFiles, fileStats) = rowFiles(spark, s"$warehouseDir/b$id",
      schema)
    AtomicManifest.write(spark, s"$historyDir/b$id", ZoneMapFile,
      encodeZoneMap(BatchStats(entries.toMap, rows, schema.json,
        dataFiles, listBatchFiles(spark, s"$historyDir/b$id"), fileStats)))
  }

  /** The data files a write or carry just left in `dir`, with the
    * per-file stats their footers give ([[FileZones]]) — every file
    * whose footer holds no row deleted and left out. Spark writes a
    * zero-row part for a write of no rows (and for an empty first
    * task), so a load, a takedown rewrite or a fold that removes every
    * row would otherwise commit a file and a scan root until the next
    * fold. Every readable footer records its file's exact row count
    * (`#zc`), with or without zoneable columns: a relation's live rows
    * are then Σ file rows − Σ deletion-vector cardinality
    * ([[BatchStats.liveRows]], [[graft.plans.MetadataOnlyCount]]). A
    * footer that cannot be read keeps its file and records nothing. */
  private def rowFiles(spark: SparkSession, dir: String,
      schema: StructType): (Seq[(String, Long)], Map[String, FileStats]) = {
    val written = listBatchFiles(spark, dir)
    val footers = FileZones.read(spark, dir, written, schema)
    val empty = written.map(_._1).filter(footers.get(_).exists(_.rows == 0L))
      .toSet
    if (empty.nonEmpty) {
      val d = new org.apache.hadoop.fs.Path(dir)
      val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
      empty.foreach(rel =>
        fs.delete(new org.apache.hadoop.fs.Path(d, rel), false))
    }
    (written.filterNot { case (rel, _) => empty(rel) },
      footers.filter { case (rel, _) => !empty(rel) })
  }

  /** The batch's zone map — per-column [min, max] intervals recorded by
    * the load's OWN write job (a CollectMetrics observation — zero
    * extra scans). `None` when `id` has no manifest (no committed batch
    * does); an absent interval reads as must-scan, so stats are an
    * optimization, never a correctness dependency. Intervals stay
    * valid forever: batch dirs are
    * immutable, and row-removing rewrites only ever SHRINK the true
    * range.
    *
    * Cached keyed by the manifest file's (mtime, length), like the
    * parquet footer caches: batch ids are content-derived for file
    * loads but NOT for sink-epoch / compaction ids, so a warehouse
    * deleted and rebuilt under the same path within one JVM (the
    * test/bench pattern) must never be served a stale interval — a
    * stale range that understates the new one would make pruning drop
    * batches with matching rows, a correctness hazard (ADVICE r12).
    * One getFileStatus per lookup buys the validation; the manifest
    * READ (open + parse) is still amortized to once per (file state).
    * LRU-bounded so a long-lived driver over a many-load table never
    * grows without bound (VERDICT r12 #4). Absence is NOT cached — a
    * mapless answer may be the read racing the commit. */
  // Sized past the batch count the protocol is measured at (100k
  // commits, CommitScale r16): an LRU smaller than the table's batch
  // count thrashes on every pruning decision — the r16 100k run
  // measured readWarehouse construction at ~2.5x over linear mostly
  // from repeated manifest re-parses under a 32k cache. Bounded BY
  // APPROXIMATE BYTES, not entry count (r17, ADVICE r16 #3): a plain
  // manifest entry is ~1 KB but a DV'd or file-rich batch retains
  // far more, and a count bound let the stated ~128 MB ceiling blow
  // out by orders of magnitude on a driver touching many DV'd
  // batches. 128 MB ≈ 128k plain entries — the same 100k-commit
  // working set as before — while a handful of heavy entries now
  // evict proportionally sooner. (Operationally a 100k-root table is
  // past due for compaction anyway — the measured fold brings it
  // back to 3 roots and millisecond plans.)
  private val ZoneCacheMaxBytes = 134217728L // 128 MB
  private var zoneCacheBytes = 0L
  /** Approximate retained heap of one cached [[BatchStats]]: a ~1 KB
    * base (column stats, schema JSON, file list lines) plus the parts
    * that actually scale — per-file stats entries and DV runs. */
  private def statsWeight(st: BatchStats): Long =
    1024L +
      st.files.size.toLong * 96L +
      st.fileStats.valuesIterator
        .map(f => 128L + f.cols.size.toLong * 128L).sum +
      st.dv.valuesIterator.map(v => 64L + v.runCount.toLong * 48L).sum
  private val zoneMapCache = new java.util.LinkedHashMap[
      (String, String, Long, Long), BatchStats](64, 0.75f, true)
  /** Insert under the byte bound; call holding the cache monitor. */
  private def zoneCachePut(key: (String, String, Long, Long),
                           st: BatchStats): Unit = {
    val prev = zoneMapCache.put(key, st)
    zoneCacheBytes += statsWeight(st)
    if (prev != null) zoneCacheBytes -= statsWeight(prev)
    val it = zoneMapCache.entrySet().iterator()
    while (zoneCacheBytes > ZoneCacheMaxBytes && it.hasNext) {
      val e = it.next()
      if (e.getKey != key) { // never evict what we just inserted
        zoneCacheBytes -= statsWeight(e.getValue)
        it.remove()
      }
    }
  }

  /** The batch's full recorded manifest — schema, file lists,
    * intervals, dictionaries, null counts, row count. Same cache and
    * conservatism contract as the zone intervals above.
    * `None` when `id` has no manifest; a manifest without its schema
    * or file lists throws. */
  private[load] def batchStats(spark: SparkSession, historyDir: String,
                 id: String): Option[BatchStats] = {
    val p = new org.apache.hadoop.fs.Path(s"$historyDir/b$id", ZoneMapFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st =
      try Some(fs.getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    st.flatMap { stat =>
      val key = (historyDir, id, stat.getModificationTime, stat.getLen)
      zoneMapCache.synchronized(Option(zoneMapCache.get(key))).orElse {
        val m = readZoneMap(spark, historyDir, id)
        m.foreach(v => zoneMapCache.synchronized(zoneCachePut(key, v)))
        m
      }
    }
  }

  /** The manifest of COMMITTED batch `id` — every commit writes one
    * ([[BatchStats]]), so its absence is corruption and fails loudly,
    * naming the batch, the way [[headBatches]] fails on a missing head
    * manifest. */
  private[graft] def manifest(spark: SparkSession, historyDir: String,
                              id: String): BatchStats =
    batchStats(spark, historyDir, id).getOrElse(
      throw corrupt(historyDir, id, "it has no _ZONEMAP manifest"))

  /** [[manifest]] for each of `ids`, in order, fetched in PARALLEL
    * (driver-side metadata calls: a 10k-batch walk spent ~20 s reading
    * manifests one at a time, CommitScale r14). */
  private[load] def manifests(spark: SparkSession, historyDir: String,
                              ids: Seq[String]): Seq[BatchStats] = {
    val fetched =
      new java.util.concurrent.ConcurrentHashMap[String, BatchStats]()
    MetaPool.forEach(ids)(id =>
      fetched.put(id, manifest(spark, historyDir, id)))
    ids.map(fetched.get)
  }

  private def dec(s: String): String = java.net.URLDecoder.decode(s, "UTF-8")

  private def readZoneMap(spark: SparkSession, historyDir: String,
      id: String): Option[BatchStats] =
    AtomicManifest.read(spark, s"$historyDir/b$id", ZoneMapFile).map { txt =>
      var rows = Option.empty[Long]
      var schema = Option.empty[String]
      // file lists: the `#fc`/`#hfc` line records the list's length, so
      // a manifest that lost file lines is caught, not read as fewer
      // files (an empty recorded list is meaningful — the batch wrote
      // no parts)
      var filesCount = Option.empty[Int]; var histCount = Option.empty[Int]
      val files = Seq.newBuilder[(String, Long)]
      val hist = Seq.newBuilder[(String, Long)]
      val zones = Map.newBuilder[String, Zone]
      val dicts = Map.newBuilder[String, Set[String]]
      val nulls = Map.newBuilder[String, Long]
      val fzZones = scala.collection.mutable.LinkedHashMap
        .empty[(String, String), Zone]
      val fzNulls = scala.collection.mutable.LinkedHashMap
        .empty[(String, String), Long]
      val fzRows = scala.collection.mutable.LinkedHashMap
        .empty[String, Long]
      // rel → (runs so far, running exclusive end for the delta-RLE
      // chunks)
      val dvs = scala.collection.mutable.LinkedHashMap
        .empty[String, (Vector[(Long, Long)], Long)]
      txt.linesIterator.foreach { line =>
        line.split(" ") match {
          case Array("#c", r) => rows = r.toLongOption
          case Array("#s", s) => schema = Some(dec(s))
          case Array("#fc", n) => filesCount = n.toIntOption
          case Array("#hfc", n) => histCount = n.toIntOption
          case Array("#f", rel, len) =>
            len.toLongOption.foreach(l => files += dec(rel) -> l)
          case Array("#hf", rel, len) =>
            len.toLongOption.foreach(l => hist += dec(rel) -> l)
          case Array("#z", rel, c, lo, hi) =>
            (lo.toDoubleOption, hi.toDoubleOption) match {
              case (Some(l), Some(h)) =>
                fzZones((dec(rel), dec(c))) = NumZone(l, h)
              case _ => ()
            }
          case Array("#zS", rel, c, lo, hi) =>
            fzZones((dec(rel), dec(c))) = StrZone(dec(lo), dec(hi))
          case Array("#zc", rel, r) =>
            r.toLongOption.foreach(v => fzRows(dec(rel)) = v)
          case Array("#dvr", rel, chunk) =>
            val r = dec(rel)
            val (have, prevEnd) = dvs.getOrElse(r, (Vector.empty, 0L))
            val (runs, newEnd) =
              DvVector.decodeInto(chunk, prevEnd, first = have.isEmpty)
            dvs(r) = (have ++ runs, newEnd)
          case Array("#zn", rel, c, n) =>
            n.toLongOption.foreach(v => fzNulls((dec(rel), dec(c))) = v)
          case Array("#n", c, n) =>
            n.toLongOption.foreach(v => nulls += dec(c) -> v)
          case Array("#d", c, vs @ _*) =>
            dicts += dec(c) -> vs.map(dec).toSet
          case Array("S", c, lo, hi) =>
            zones += dec(c) -> StrZone(dec(lo), dec(hi))
          case Array(c, lo, hi) =>
            (lo.toDoubleOption, hi.toDoubleOption) match {
              case (Some(l), Some(h)) => zones += dec(c) -> NumZone(l, h)
              case _ => ()
            }
          case _ => () // unknown line: future stat, ignore
        }
      }
      val (zm, dm, nm) = (zones.result(), dicts.result(), nulls.result())
      val cols = (zm.keySet ++ dm.keySet ++ nm.keySet).iterator.map { c =>
        c -> ColStats(zm.get(c), dm.get(c), nm.get(c))
      }.toMap
      val fzRels = (fzZones.keysIterator.map(_._1) ++
        fzNulls.keysIterator.map(_._1) ++ fzRows.keysIterator)
        .toSeq.distinct
      val fileStats = fzRels.map { rel =>
        val fcols = (fzZones.keysIterator.collect {
            case (r, c) if r == rel => c
          } ++ fzNulls.keysIterator.collect {
            case (r, c) if r == rel => c
          }).toSeq.distinct.map { c =>
          c -> ColStats(fzZones.get((rel, c)), None,
            fzNulls.get((rel, c)))
        }.toMap
        rel -> FileStats(fzRows.getOrElse(rel, throw corrupt(historyDir, id,
          s"its manifest records stats for file '$rel' but no row count")),
          fcols)
      }.toMap
      val dvMap = dvs.map { case (r, (runs, _)) =>
        r -> DvVector.fromRuns(runs)
      }.toMap
      def recorded(what: String, count: Option[Int],
                   list: Seq[(String, Long)]): Seq[(String, Long)] =
        if (count.contains(list.size)) list
        else throw corrupt(historyDir, id,
          s"its manifest records ${list.size} $what line(s) against a " +
          s"count of ${count.getOrElse("none")}")
      BatchStats(cols,
        rows.getOrElse(throw corrupt(historyDir, id,
          "its manifest records no row count")),
        schema.getOrElse(throw corrupt(historyDir, id,
          "its manifest records no schema")),
        recorded("data file", filesCount, files.result()),
        recorded("history file", histCount, hist.result()),
        fileStats, dvMap)
    }

  /** The folded batch's manifest. Its column stats are the per-column
    * union of its inputs' (a column's stat only survives if EVERY input
    * recorded it — a missing interval/dict/count means an unknown range,
    * and a merged map must never understate one): intervals union,
    * dicts union (dropped past [[DictMax]]), null counts and row counts
    * add — metadata-only, no scan. Its schema is the fold relation's
    * own (`foldSchema` — exact even when the inputs straddle a
    * SchemaDrift evolution), or, for a fold whose inputs wrote no
    * files, the newest input's recorded one; its file lists and
    * per-FILE stats are the fold's own (r16: a Z-ordered fold gives
    * every file a tight envelope on both dims, and recording it keeps
    * range predicates pruning k-of-n FILES after batch-root pruning
    * went to 1 root). */
  private[load] def mergeZoneMaps(spark: SparkSession, warehouseDir: String,
      historyDir: String, inputs: Seq[String], id: String,
      foldSchema: Option[StructType]): Unit = {
    val stats = manifests(spark, historyDir, inputs)
    val rows = stats.map(_.rows).sum
    val shared = stats.map(_.cols.keySet).reduce(_ intersect _)
    val merged = shared.toSeq.flatMap { c =>
      val cs = stats.map(_.cols(c))
      val zone = cs.map(_.zone)
        .reduce((a, b) => a.zip(b).flatMap { case (x, y) => zoneUnion(x, y) })
      val dict = cs.map(_.dict)
        .reduce((a, b) => a.zip(b).map { case (x, y) => x ++ y })
        .filter(_.size <= DictMax)
      val nulls =
        if (cs.forall(_.nulls.isDefined)) Some(cs.flatMap(_.nulls).sum)
        else None
      val st = ColStats(zone, dict, nulls)
      if (st.zone.isEmpty && st.dict.isEmpty && st.nulls.isEmpty) None
      else Some(c -> st)
    }
    val schema = foldSchema.getOrElse(parseSchema(stats.last.schemaJson))
    val (foldFiles, fileStats) = rowFiles(spark, s"$warehouseDir/b$id",
      schema)
    AtomicManifest.write(spark, s"$historyDir/b$id", ZoneMapFile,
      encodeZoneMap(BatchStats(merged.toMap, rows, schema.json, foldFiles,
        listBatchFiles(spark, s"$historyDir/b$id"), fileStats)))
  }

  /** Carry one immutable file into a rewritten batch dir WITHOUT
    * decoding it (r16, VERDICT r15 #4 — file-granular takedown): a
    * hard link where the store supports one (local fs — zero bytes
    * moved, the carried file IS the old inode, so byte-identity is
    * structural), a raw FS copy otherwise (object stores: wire this to
    * the server-side copy; still no scan/decode/shuffle — the win over
    * rewriting is the whole read-decode-encode pipeline, not just
    * I/O). The new dir was just (re)created by a mode=overwrite write,
    * so a retry never collides with a prior attempt's carry. */
  private[load] def carryFile(fs: org.apache.hadoop.fs.FileSystem,
      src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    fs.mkdirs(dst.getParent)
    if (Option(fs.getUri.getScheme).forall(_ == "file")) {
      try {
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(dst.toUri.getPath))
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dst.toUri.getPath),
          java.nio.file.Paths.get(src.toUri.getPath))
        return
      } catch { case _: java.io.IOException => () } // cross-device etc.
    }
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, true, conf)
  }

  /** Record a carried batch's stats under its rewrite id `nid`: `st`'s
    * column stats, row count and schema unchanged — removing or hiding
    * rows only SHRINKS the true range, value set and null count, so
    * every carried stat remains a conservative superset (the prune
    * triggers — interval/dict membership, nulls==0, nulls==rows — are
    * all monotone under row removal; see [[ColStats]]) — with both file
    * lists re-listed from the new dirs, per-file zones read from the new
    * files' footers (r16), and deletion vector `dv`. */
  private[load] def carryStats(spark: SparkSession, warehouseDir: String,
      historyDir: String, st: BatchStats, nid: String,
      dv: Map[String, DvVector]): Unit = {
    val (newFiles, fileStats) = rowFiles(spark, s"$warehouseDir/b$nid",
      parseSchema(st.schemaJson))
    AtomicManifest.write(spark, s"$historyDir/b$nid", ZoneMapFile,
      encodeZoneMap(st.copy(files = newFiles,
        histFiles = listBatchFiles(spark, s"$historyDir/b$nid"),
        fileStats = fileStats, dv = dv)))
  }
}
