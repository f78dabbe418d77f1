package graft.plans

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
  BoundReference, Cast, Expression, Literal, Predicate}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.datasources.{FileIndex,
  PartitionDirectory}
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** A [[FileIndex]] materialized from the commit log's recorded
  * per-batch file lists — ZERO filesystem listing or footer I/O at
  * plan time (r14; the Delta/Iceberg design: the LOG, not the store,
  * is the source of truth for which files a snapshot contains).
  *
  * Why it exists: `spark.read.parquet(dir1 … dirN)` eagerly builds an
  * `InMemoryFileIndex`, which LISTS every root — at 10,000 committed
  * loads the CommitScale harness measured ~20 s of pure metadata
  * calls per `readWarehouse` construction, on a local filesystem; on
  * an object store that is 10,000+ LIST requests per query. Every
  * batch's write job already knows exactly which files it produced,
  * so [[graft.load.WarehouseLoad]] records `(relative path, length)`
  * per file in the batch's `_ZONEMAP` manifest and this index serves
  * the scan from those records. Batch dirs are immutable once
  * committed (rewrites commit NEW dirs), so the recorded list can
  * never go stale — the same immutability argument the zone
  * intervals rely on.
  *
  * HIVE-PARTITIONED layouts are served too (r14): partition values
  * are parsed once from the recorded RELATIVE paths (the
  * `col=value/…` segments partitionBy wrote — unescaped with the
  * hive `%XX` convention and cast through Spark's own string→type
  * Cast, the same conversion the discovery path applies to a
  * user-specified partition schema), and [[listFiles]] evaluates the
  * pushed partition filters against those rows — REQUIRED for
  * correctness, not an optimization: FileSourceStrategy removes
  * partition filters from the after-scan filter set, so an index
  * that ignored them would serve rows from excluded partitions.
  * Construction is via [[ManifestFileIndex.partitioned]], which
  * returns None on ANY path it cannot parse losslessly — the caller
  * refuses the read rather than guess a value. [[ZonePrune]]
  * recognizes the type and prunes either layout by rebuilding with the
  * surviving roots' entries — still zero I/O. */
final class ManifestFileIndex(
    val rootsWithFiles: Seq[(Path, Seq[FileStatus])],
    val partSchema: StructType = new StructType(),
    // (partition-values row, files) groups; Nil for unpartitioned
    val partGroups: Seq[(InternalRow, Seq[FileStatus])] = Nil)
  extends FileIndex {

  override val rootPaths: Seq[Path] = rootsWithFiles.map(_._1)

  private val all: Array[FileStatus] = rootsWithFiles.flatMap(_._2).toArray

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    if (partSchema.isEmpty) Seq(PartitionDirectory(InternalRow.empty, all))
    else {
      // bind by name against the partition schema — the same move
      // PartitioningAwareFileIndex makes; a name that does not bind
      // fails loudly (BoundReference(-1)) rather than silently
      // serving excluded partitions
      val pred = partitionFilters.reduceOption(And).map { e =>
        Predicate.create(e.transform {
          case a: AttributeReference =>
            val i = partSchema.fieldIndex(a.name)
            BoundReference(i, partSchema(i).dataType, nullable = true)
        })
      }
      partGroups.collect {
        case (values, files)
            if pred.forall(_.eval(values)) =>
          PartitionDirectory(values, files.toArray)
      }
    }

  override def inputFiles: Array[String] = all.map(_.getPath.toString)

  override def refresh(): Unit = ()

  override val sizeInBytes: Long = all.iterator.map(_.getLen).sum

  override def partitionSchema: StructType = partSchema

  /** The index restricted to `keep` roots — [[ZonePrune]]'s rewrite,
    * still metadata-only. Partition groups re-filter by file root
    * membership (a group can span roots: same partition value written
    * by several batches). */
  def retain(keep: Set[Path]): ManifestFileIndex =
    retainWhere(keep, _ => true)

  /** [[retain]] plus a per-FILE predicate (r16 — the file-level
    * pruning tier): within kept roots, only files `keepFile` admits
    * survive; a root whose files all prune drops entirely (same
    * whole-root semantics as batch-level pruning). Still zero I/O. */
  def retainWhere(keep: Set[Path],
                  keepFile: Path => Boolean): ManifestFileIndex = {
    val kept = rootsWithFiles.collect {
      case (r, fs) if keep(r) => r -> fs.filter(st => keepFile(st.getPath))
    }.filter(_._2.nonEmpty)
    val keptFiles = kept.flatMap(_._2).toSet
    new ManifestFileIndex(kept, partSchema,
      partGroups
        .map { case (v, fs) => (v, fs.filter(keptFiles)) }
        .filter(_._2.nonEmpty))
  }
}

object ManifestFileIndex {
  /** Unescape one hive partition-path value: `%XX` byte escapes only
    * (NOT URLDecoder — hive escaping leaves `+` literal). Returns
    * None on malformed escapes (never a guess). */
  private[graft] def unescape(s: String): Option[String] = {
    if (!s.contains('%')) return Some(s)
    val out = new java.io.ByteArrayOutputStream(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%') {
        if (i + 3 > s.length) return None
        try out.write(Integer.parseInt(s.substring(i + 1, i + 3), 16))
        catch { case _: NumberFormatException => return None }
        i += 3
      } else {
        // encode the whole non-escape run at once: char-at-a-time
        // getBytes turns each half of a surrogate pair into the '?'
        // replacement byte, silently corrupting supplementary-plane
        // (emoji/CJK-ext) partition values Spark writes unescaped
        var j = i + 1
        while (j < s.length && s.charAt(j) != '%') j += 1
        out.write(s.substring(i, j).getBytes("UTF-8"))
        i = j
      }
    }
    Some(new String(out.toByteArray, "UTF-8"))
  }

  private val HiveNull = "__HIVE_DEFAULT_PARTITION__"

  /** Build a PARTITIONED index from recorded file lists whose relative
    * paths carry `col=value` segments. `partSchema` supplies the
    * declared types (from the commit's recorded schema); values cast
    * through Spark's string→type Cast in the session timezone — the
    * semantics the discovery path applies to a user-specified
    * partition schema. None when any path deviates (segment without
    * `=`, column-sequence mismatch, malformed escape, or a non-null
    * value the cast rejects). */
  def partitioned(spark: org.apache.spark.sql.SparkSession,
      rootsWithFiles: Seq[(Path, Seq[(String, FileStatus)])],
      partSchema: StructType): Option[ManifestFileIndex] = {
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    val names = partSchema.fieldNames
    val groups = scala.collection.mutable.LinkedHashMap
      .empty[Seq[String], (InternalRow, Seq[FileStatus])]
    val plain = Seq.newBuilder[(Path, Seq[FileStatus])]
    for ((root, files) <- rootsWithFiles) {
      val sts = Seq.newBuilder[FileStatus]
      for ((rel, st) <- files) {
        val segs = rel.split("/").toSeq
        if (segs.size != names.length + 1) return None
        val raw = segs.init.zip(names).map { case (seg, n) =>
          val eq = seg.indexOf('=')
          if (eq <= 0 || seg.substring(0, eq) != n) return None
          seg.substring(eq + 1)
        }
        groups.get(raw) match {
          case Some((row, fs)) => groups(raw) = (row, fs :+ st)
          case None =>
            val vals = new Array[Any](names.length)
            raw.zipWithIndex.foreach { case (r, i) =>
              val s = unescape(r).getOrElse(return None)
              if (s == HiveNull) vals(i) = null
              else {
                val v = Cast(
                  Literal(UTF8String.fromString(s), StringType),
                  partSchema(i).dataType, tz).eval(null)
                if (v == null) return None // value the type rejects
                vals(i) = v
              }
            }
            groups(raw) = (new GenericInternalRow(vals), Seq(st))
        }
        sts += st
      }
      plain += root -> sts.result()
    }
    Some(new ManifestFileIndex(plain.result(), partSchema,
      groups.values.toSeq))
  }
}
