package graft.load

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{ByteType, DataType, DateType, DoubleType,
  FloatType, IntegerType, LongType, ShortType, StringType, StructType,
  TimestampType}

import graft.load.Manifest.{ColStats, FileStats, NumZone, StrZone,
  Zone}

/** Per-FILE [min, max] column statistics for a just-committed batch —
  * the file-level pruning tier below the per-batch zone maps (r16,
  * VERDICT r15 #1; Delta's add-file stats design): after a compaction
  * folds a table into few large multi-file roots, batch-root pruning
  * goes blind — a range predicate that overlaps the fold's overall
  * interval still has to scan every file in it, even though a
  * Z-ordered fold gave each FILE a tight envelope. Recording those
  * envelopes in the batch manifest lets [[graft.plans.ZonePrune]] drop
  * files inside surviving roots at OPTIMIZATION time — before a scan
  * task, a footer GET, or a row-group read of the pruned file exists.
  *
  * The stats come from the parquet FOOTERS the batch's own write just
  * produced: one footer open per written file, WRITE-SIDE ONLY, at
  * commit time (the write job already knows its file list —
  * [[Manifest]] records it in the same manifest). Readers never
  * touch a footer: the manifest is the source of truth, same
  * immutability argument as the batch-level zones. Parquet row-group
  * stats still prune WITHIN surviving files at execution time; this
  * tier removes the per-file task/footer cost a 100 TB compacted
  * table pays for files the plan provably does not need.
  *
  * Conservatism contract (same as the batch zones): a file/column
  * without a recorded interval is "must scan". Specifically dropped:
  * INT96 timestamps (no trustworthy footer stats), NaN-polluted
  * float/double stats, strings whose footer stats do not round-trip
  * UTF-8 bytes exactly (a writer-truncated max can decode lossily and
  * understate the bound), over-[[Manifest.ZoneStrMax]] strings,
  * and any column chunk whose statistics parquet marks absent or
  * untrustworthy. */
object FileZones {

  /** Read every footer of `files` (manifest-relative paths) under
    * `dir`: each file's row count and its zones over the columns of
    * `schema` the zone encoding can express (possibly none). Footers
    * open in parallel (driver-side metadata I/O, bounded by THIS
    * batch's file count). A file that cannot be read records nothing —
    * absent is never wrong, only unprunable. */
  def read(spark: SparkSession, dir: String, files: Seq[(String, Long)],
           schema: StructType): Map[String, FileStats] = {
    val wanted: Map[String, DataType] = schema.fields.iterator.collect {
      case f if Manifest.zoneable(f.dataType) => f.name -> f.dataType
    }.toMap
    if (files.isEmpty) return Map.empty
    val conf = spark.sparkContext.hadoopConfiguration
    import scala.jdk.CollectionConverters._
    val out =
      new java.util.concurrent.ConcurrentHashMap[String, FileStats]()
    MetaPool.forEach(files) { case (rel, _) =>
      val st =
        try Some(fileStats(conf, new Path(dir, rel), wanted))
        catch { case scala.util.control.NonFatal(_) => None }
      st.foreach(out.put(rel, _))
    }
    out.asScala.toMap
  }

  private def fileStats(conf: Configuration, p: Path,
      wanted: Map[String, DataType]): FileStats = {
    import scala.jdk.CollectionConverters._
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
    try {
      val zones = scala.collection.mutable.Map.empty[String, Zone]
      // a column's interval (or null count) is invalid for the WHOLE
      // file the moment ANY of its chunks lacks that trustworthy stat
      // — a blind chunk could hold anything, and a recorded stat must
      // cover every row. The two validities are INDEPENDENT: a
      // NaN-polluted float chunk voids the interval but its null
      // count still prunes IS NULL.
      val zoneBad = scala.collection.mutable.Set.empty[String]
      val nulls = scala.collection.mutable.Map.empty[String, Long]
      val nullBad = scala.collection.mutable.Set.empty[String]
      var rows = 0L
      for (block <- reader.getFooter.getBlocks.asScala) {
        rows += block.getRowCount
        for (cc <- block.getColumns.asScala) {
          val segs = cc.getPath.toArray
          if (segs.length == 1) wanted.get(segs(0)) match {
            case Some(dt) =>
              val name = segs(0)
              val st = cc.getStatistics
              if (st == null || st.isEmpty) {
                zoneBad += name; nullBad += name
              } else {
                if (st.isNumNullsSet && st.getNumNulls >= 0)
                  nulls(name) = nulls.getOrElse(name, 0L) + st.getNumNulls
                else nullBad += name
                if (st.hasNonNullValue && !zoneBad(name))
                  chunkZone(dt, st) match {
                    case None => zoneBad += name
                    case Some(z) =>
                      zones.get(name) match {
                        case None => zones(name) = z
                        case Some(prev) => Manifest.zoneUnion(prev, z) match {
                          case Some(u) => zones(name) = u
                          case None => zoneBad += name
                        }
                      }
                  } // an all-null chunk contributes nothing to the zone
              }
            case _ => ()
          }
        }
      }
      zoneBad.foreach(zones.remove)
      nullBad.foreach(nulls.remove)
      val cols = (zones.keySet ++ nulls.keySet).iterator.map { c =>
        c -> ColStats(zones.get(c), None, nulls.get(c))
      }.toMap
      FileStats(rows, cols)
    } finally reader.close()
  }

  /** One column chunk's stats as a Zone in the manifest encoding
    * (numerics/dates as doubles — dates are epoch days in both the
    * parquet physical form and the zone encoding; timestamps to whole
    * millis padded 1 ms outward, matching the batch-zone encoding).
    * None = untrustworthy for pruning. */
  private def chunkZone(dt: DataType,
      st: org.apache.parquet.column.statistics.Statistics[_])
      : Option[Zone] = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType =>
      (st.genericGetMin, st.genericGetMax) match {
        case (lo: java.lang.Number, hi: java.lang.Number) =>
          Some(NumZone(lo.doubleValue(), hi.doubleValue()))
        case _ => None
      }
    case FloatType | DoubleType =>
      (st.genericGetMin, st.genericGetMax) match {
        case (lo: java.lang.Number, hi: java.lang.Number) =>
          val (l, h) = (lo.doubleValue(), hi.doubleValue())
          // NaN voids float/double footer stats (PARQUET-1222: writers
          // historically mishandled NaN ordering)
          if (l.isNaN || h.isNaN) None else Some(NumZone(l, h))
        case _ => None
      }
    case TimestampType =>
      // INT64 TIMESTAMP only — INT96 footers carry no trustworthy
      // stats (parquet surfaces them as empty, caught by the caller)
      val unit = cc2unit(st)
      (unit, st.genericGetMin, st.genericGetMax) match {
        case (Some(div), lo: java.lang.Long, hi: java.lang.Long) =>
          Some(NumZone(lo.toDouble / div - 1.0, hi.toDouble / div + 1.0))
        case _ => None
      }
    case StringType =>
      (st.genericGetMin, st.genericGetMax) match {
        case (lo: org.apache.parquet.io.api.Binary,
              hi: org.apache.parquet.io.api.Binary) =>
          val (lb, hb) = (lo.getBytes, hi.getBytes)
          val (ls, hs) = (new String(lb, "UTF-8"), new String(hb, "UTF-8"))
          // exact byte round-trip required: a writer-truncated max can
          // end in an incremented byte that is not valid UTF-8 — the
          // lossy decode would UNDERSTATE the bound
          if (ls.length <= Manifest.ZoneStrMax &&
              hs.length <= Manifest.ZoneStrMax &&
              java.util.Arrays.equals(ls.getBytes("UTF-8"), lb) &&
              java.util.Arrays.equals(hs.getBytes("UTF-8"), hb))
            Some(StrZone(ls, hs))
          else None
        case _ => None
      }
    case _ => None
  }

  /** Millis divisor for an INT64 timestamp chunk's stat values, from
    * the column's logical-type annotation. None = not an annotated
    * INT64 timestamp (e.g. INT96) — record nothing. */
  private def cc2unit(
      st: org.apache.parquet.column.statistics.Statistics[_])
      : Option[Double] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    st.`type`().getLogicalTypeAnnotation match {
      case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
        t.getUnit match {
          case LogicalTypeAnnotation.TimeUnit.MILLIS => Some(1.0)
          case LogicalTypeAnnotation.TimeUnit.MICROS => Some(1000.0)
          case LogicalTypeAnnotation.TimeUnit.NANOS => Some(1e6)
          case _ => None
        }
      case _ => None
    }
  }
}
