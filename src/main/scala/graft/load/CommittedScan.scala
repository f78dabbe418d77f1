package graft.load

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType,
  FloatType, IntegerType, LongType, MapType, ShortType, StringType,
  StructField, StructType}

/** How a set of committed batches becomes one relation, planned from
  * their manifests alone: batches grouped by hive layout and schema
  * generation, each group a [[graft.plans.ManifestFileIndex]] scan at
  * its merged recorded schema ([[mergeRecordedSchemas]]), deletion
  * vectors applied as one path-indexed predicate per relation
  * ([[dvCondition]]: a file's vector is looked up once per file, not
  * once per row per DV'd file), and the batch-tagged probe the
  * rewrites join against ([[taggedRelation]]). No committed read lists
  * a batch dir or opens a footer at plan time. */
object CommittedScan {
  import Manifest._

  /** Canonical file-URI spelling of a committed data file, so paths
    * from the independent producers — `FileStatus.getPath`
    * ("file:/tmp/x") and the `_metadata.file_path` scan column
    * ("file:///tmp/x") — compare equal: the identity deletion vectors
    * key by ([[graft.functions.DvHidden]]'s index, the probes'
    * `_graft_fp`, the takedown/merge hit maps). Two normalizations,
    * applied identically on both sides: percent-decoding (a filename
    * with a space/%/# character, or a Spark upgrade changing
    * `_metadata.file_path`'s encoding, must not silently diverge the
    * spellings — both sides decode to the same raw form, or both fall
    * back to the raw input when it is not valid percent-encoding),
    * then the `file:` slash count (only the authority-less `file:`
    * scheme is ambiguous; schemes with an authority — hdfs://, s3a://
    * — already spell the `//` and pass through untouched). A literal
    * `+` stays a `+`: the decode is URL FORM decoding, which would
    * read it as a space and give hive dirs `p=a b` and `p=a+b` one
    * identity, so `+` is escaped to `%2B` first. */
  private[graft] def norm(p: String): String =
    decodePath(p.replace("+", "%2B"), p)

  private[load] def normCol(c: Column): Column = {
    import org.apache.spark.sql.functions.regexp_replace
    decodePathCol(regexp_replace(c, "\\+", "%2B"), c)
  }

  /** The load history's spelling of a STAGED file: [[norm]] without
    * the `+` escape, so a `+` in a staged name decodes to a space.
    * Every committed load recorded its files in this spelling, and
    * [[StagedRead]] matches the staging listing against it — changing
    * it would reload every already-loaded file with a `+` in its
    * name. [[loadAtomic]]'s coverage guard backstops the
    * normalization: a divergence it does NOT reconcile aborts the
    * batch instead of recording unread files as loaded. */
  private[load] def stagedNorm(p: String): String = decodePath(p, p)

  private[load] def stagedNormCol(c: Column): Column = decodePathCol(c, c)

  private def decodePath(encoded: String, raw: String): String = {
    val decoded =
      try java.net.URLDecoder.decode(encoded, "UTF-8")
      catch { case _: IllegalArgumentException => raw }
    decoded.replaceFirst("^file:/+", "file:///")
  }

  private def decodePathCol(encoded: Column, raw: Column): Column = {
    import org.apache.spark.sql.functions.{coalesce, regexp_replace, try_url_decode}
    regexp_replace(coalesce(try_url_decode(encoded), raw), "^file:/+",
      "file:///")
  }

  private[load] val BatchCol = "_graft_batch"
  private[load] val FpCol = "_graft_fp"
  private[load] val RiCol = "_graft_ri"

  /** The committed union over `ids` with every row tagged by its batch
    * id (`_graft_batch`) — the relation the change feed serves and the
    * takedown/merge probes join against. With `rowIdentity` each row
    * also carries its normalized file path (`_graft_fp`) and
    * `_metadata.row_index` (`_graft_ri`), the identity deletion vectors
    * hide rows by. ONE probe relation, not one per batch
    * ([[manifestGroupRelations]]): the batch id comes from
    * `_metadata.file_path` — a constant-size plan at any load count.
    * Each layout/schema generation is tagged BEFORE the
    * cross-generation union: `_metadata` never resolves through a
    * Union. The union is `allowMissingColumns`: batches straddling a
    * SchemaDrift.evolve differ by the added nullable columns, which
    * surface as null on the older rows. `None` when nothing is live. */
  private[load] def taggedRelation(spark: SparkSession, warehouseDir: String,
      historyDir: String, ids: Seq[String],
      rowIdentity: Boolean): Option[DataFrame] = {
    import org.apache.spark.sql.functions.{col, regexp_extract}
    val p = new org.apache.hadoop.fs.Path(warehouseDir)
    val qWh = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toString
    manifestGroupRelations(spark, warehouseDir, historyDir, ids).map(
      _.map { r =>
        val tagged = r.withColumn(BatchCol,
          regexp_extract(col("_metadata.file_path"),
            java.util.regex.Pattern.quote(qWh) + "/b([^/]+)/", 1))
        if (!rowIdentity) tagged
        else tagged.withColumn(FpCol, normCol(col("_metadata.file_path")))
          .withColumn(RiCol, col("_metadata.row_index"))
      }.reduce(_.unionByName(_, allowMissingColumns = true)))
  }

  /** The committed relation over `ids`, built entirely from the commit
    * log: every batch's manifest records its schema and its file list,
    * so the scan is a [[graft.plans.ManifestFileIndex]] with zero
    * filesystem listing and zero footer I/O at plan time (the
    * Delta/Iceberg move; at 10k commits the listing-based construction
    * measured ~20 s, CommitScale r14). `None` when no batch in `ids`
    * holds a file. */
  private[load] def readBatchDirs(spark: SparkSession, warehouseDir: String,
                                  historyDir: String,
                                  ids: Seq[String]): Option[DataFrame] = {
    graft.plans.ZonePrune.register(spark, warehouseDir, historyDir)
    manifestGroupRelations(spark, warehouseDir, historyDir, ids).map(
      _.reduce(_.unionByName(_, allowMissingColumns = true)))
  }

  /** The wider of two Parquet-safe-promotable types (r16, VERDICT r15
    * #3): the integral chain (byte→short→int→long), float→double, and
    * decimal precision/scale growth — promotions whose Cast is exact,
    * so conforming an old generation to the widened schema can never
    * change a value. Everything else (int↔double, string↔anything) is
    * NOT additive drift. */
  private def widenType(a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types.DecimalType
    if (a == b) return Some(a)
    val ints = Seq[org.apache.spark.sql.types.DataType](
      ByteType, ShortType, IntegerType, LongType)
    val fps = Seq[org.apache.spark.sql.types.DataType](
      FloatType, DoubleType)
    (ints.indexOf(a), ints.indexOf(b)) match {
      case (i, j) if i >= 0 && j >= 0 => return Some(ints(math.max(i, j)))
      case _ => ()
    }
    (fps.indexOf(a), fps.indexOf(b)) match {
      case (i, j) if i >= 0 && j >= 0 => return Some(fps(math.max(i, j)))
      case _ => ()
    }
    (a, b) match {
      case (x: DecimalType, y: DecimalType) =>
        val scale = math.max(x.scale, y.scale)
        val intDigits = math.max(x.precision - x.scale,
          y.precision - y.scale)
        if (intDigits + scale <= DecimalType.MAX_PRECISION)
          Some(DecimalType(intDigits + scale, scale))
        else None
      case _ => None
    }
  }

  /** `t` with every nested null flag set: array elements, map values
    * and struct fields all nullable. Writers of one type disagree on
    * these flags, and the nullable form reads (and casts from) all. */
  private[graft] def nullableNested(t: DataType): DataType = t match {
    case ArrayType(e, _) => ArrayType(nullableNested(e), true)
    case MapType(k, v, _) =>
      MapType(nullableNested(k), nullableNested(v), true)
    case StructType(fs) => StructType(fs.map(f =>
      f.copy(dataType = nullableNested(f.dataType), nullable = true)))
    case other => other
  }

  /** Conform a set of per-batch recorded schemas to ONE read schema —
    * the evolution-window fix (r15, VERDICT r14 #4): batches written
    * before and after a [[graft.schema.SchemaDrift]] evolve record
    * different schemas. Additive drift is exactly what the parquet
    * reader already handles when HANDED the union schema — a file
    * missing a requested nullable column reads it as null — so the
    * merge is: union the fields by name in first-seen order; types
    * must agree EXACTLY up to their nested null flags, or with
    * `widening` be Parquet-safe promotions ([[widenType]]); a field
    * absent from any batch is forced nullable (the reader fills nulls
    * for it). Nested null flags (`containsNull`, `valueContainsNull`,
    * struct-field `nullable`) differ between writers of the same type —
    * `array(...)` records non-null elements, a JSON target or a parquet
    * read records nullable ones — so a disagreement there merges to the
    * nullable form, which reads both. `Left` names the first field the
    * merge cannot reconcile: (name, type so far, conflicting type). */
  private def mergeRecordedSchemas(parsed: Seq[StructType],
      widening: Boolean): Either[(String, DataType, DataType), StructType] = {
    if (parsed.sizeIs == 1) return Right(parsed.head)
    val order = scala.collection.mutable.LinkedHashMap
      .empty[String, StructField]
    for (sc <- parsed; f <- sc.fields) {
      order.get(f.name) match {
        case None => order(f.name) = f
        case Some(prev) =>
          val loose = nullableNested(prev.dataType)
          val merged =
            if (prev.dataType == f.dataType) Some(prev.dataType)
            else if (loose == nullableNested(f.dataType)) Some(loose)
            else if (widening) widenType(prev.dataType, f.dataType)
            else None
          order(f.name) = prev.copy(
            dataType = merged.getOrElse(
              return Left((f.name, prev.dataType, f.dataType))),
            nullable = prev.nullable || f.nullable)
      }
    }
    // a field missing from ANY batch reads as null there → nullable
    val counts = parsed.flatMap(_.fieldNames).groupBy(identity)
    val merged = order.values.map { f =>
      if (counts(f.name).sizeIs < parsed.size) f.copy(nullable = true)
      else f
    }
    Right(StructType(merged.toSeq))
  }

  /** The deletion-vector filter for `pairs` as ONE predicate over the
    * scan's `_metadata`: `NOT graft_dv_hidden(file_path, row_index)`
    * ([[graft.functions.DvHidden]]), carrying every DV'd file's hidden
    * runs keyed by its [[norm]]alized absolute path. `None` when no
    * batch carries a DV — the overwhelmingly common case pays one
    * cached manifest-map lookup per batch and adds NOTHING to the
    * plan. The index is FILE-keyed, so applying the table-wide filter
    * to any sub-relation is harmless — which is what lets one choke
    * point ([[manifestGroupRelations]], [[batchRelation]]) cover every
    * committed read: readWarehouse, time travel, change feed,
    * compaction folds, and the takedown/merge probes all inherit it,
    * so a hidden row can never resurrect through ANY path. Row indexes
    * are `_metadata.row_index` positions — stable because batch files
    * are immutable (a rewrite commits new files and drops the DV). A
    * scanned row pays one path compare and one binary search over its
    * file's runs, whatever the DV'd file count; the path normalizes
    * once per file. */
  private def dvCondition(spark: SparkSession, warehouseDir: String,
      pairs: Seq[(String, BatchStats)]): Option[Column] = {
    import org.apache.spark.sql.functions.{col, not}
    import org.apache.spark.sql.GraftSqlBridge.{column, expression}
    val withDv = pairs.filter(_._2.dv.exists(_._2.nonEmpty))
    if (withDv.isEmpty) return None
    val base = new org.apache.hadoop.fs.Path(warehouseDir)
    val qBase = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(base)
    val vectors = for {
      (id, st) <- withDv
      (rel, vec) <- st.dv.toSeq
      if vec.nonEmpty
    } yield norm(new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(qBase, s"b$id"), rel)
      .toUri.toString) -> vec
    // two files whose paths normalize alike share one entry holding
    // both vectors: keeping only one would let the other's rows show
    val index = vectors.groupMapReduce(_._1)(_._2)(_ merge _)
      .map { case (p, vec) => p -> vec.startsEnds }
    Some(not(column(graft.functions.DvHidden(
      expression(col("_metadata.file_path")),
      expression(col("_metadata.row_index")), index))))
  }

  /** The committed relation over `ids` BEFORE the cross-layout union:
    * one log-built relation per layout/schema generation, deletion
    * vectors applied, for BOTH layouts (hive-partitioned batches parse
    * partition values from the recorded paths and the index evaluates
    * partition filters itself). Consumers that derive the batch id
    * from `_metadata.file_path` ([[changes]], the takedown probe) must
    * tag each relation BEFORE unioning — metadata columns do not
    * resolve through a Union (r15 review find #1). `None` when no batch
    * in `ids` holds a file. */
  private[graft] def manifestGroupRelations(spark: SparkSession,
      warehouseDir: String, historyDir: String,
      ids: Seq[String]): Option[Seq[DataFrame]] = {
    val live = ids.zip(manifests(spark, historyDir, ids))
      .filter(_._2.files.nonEmpty)
    if (live.isEmpty) return None
    // GROUP BY LAYOUT (r15): a table whose life spans a layout change
    // (flat loads, then hive-partitioned ones — or two partition-col
    // generations) plans one log-built relation PER layout group and
    // unions them — bounded by the number of layout GENERATIONS (1–2
    // in practice), never the batch count. unionByName fills the
    // partition columns a flat generation lacks with null.
    val grouped = scala.collection.mutable.LinkedHashMap
      .empty[Seq[String], Vector[(String, BatchStats)]]
    for ((id, st) <- live) {
      val lay = batchLayout(historyDir, id, st)
      grouped(lay) = grouped.getOrElse(lay, Vector.empty) :+ ((id, st))
    }
    val rels = grouped.toSeq.flatMap { case (partNames, batches) =>
      layoutRelation(spark, warehouseDir, partNames, batches)
    }
    // deletion vectors apply HERE, per generation relation (r16):
    // every consumer inherits the filter, so a hidden row cannot
    // resurrect. Built from the stats THIS pass already fetched.
    Some(dvCondition(spark, warehouseDir, live) match {
      case Some(c) => rels.map(_.filter(c))
      case None => rels
    })
  }

  /** The log-built relation of ONE committed batch over the files `st`
    * records, its deletion vector applied — what a rewrite reads, so it
    * sees the batch at its recorded schema and never lists the dir. */
  private[load] def batchRelation(spark: SparkSession, warehouseDir: String,
      historyDir: String, id: String, st: BatchStats): DataFrame = {
    val rel = layoutRelation(spark, warehouseDir,
      batchLayout(historyDir, id, st), Seq(id -> st)).head
    dvCondition(spark, warehouseDir, Seq(id -> st))
      .map(rel.filter).getOrElse(rel)
  }

  /** One batch's hive layout: the partition-column sequence every one
    * of its recorded file paths spells (`Nil` = flat). Every writer
    * records the files of ONE `partitionBy` write, so files that
    * disagree, or a directory without the `col=` shape, are
    * corruption. */
  private def batchLayout(historyDir: String, id: String,
                          st: BatchStats): Seq[String] = {
    val seqs = st.files.map { case (rel, _) =>
      rel.split("/").init.toSeq.map { seg =>
        val eq = seg.indexOf('=')
        if (eq <= 0) throw corrupt(historyDir, id,
          s"recorded file '$rel' sits under a non-partition directory")
        seg.substring(0, eq)
      }
    }.distinct
    if (seqs.sizeIs == 1) seqs.head
    else throw corrupt(historyDir, id,
      s"recorded files disagree on the partition layout: $seqs")
  }

  /** The log-built scan relation(s) for ONE layout group of live
    * batches (shared partition-column sequence; `Nil` = flat). Schema
    * is the group's own merged record ([[mergeRecordedSchemas]] —
    * additive drift conforms, r15). Returns ONE relation per SCHEMA
    * GENERATION (r17, ADVICE r16 #1): the exact path yields a single
    * element, the type-widening path one per recorded schema — each a
    * projection over a SINGLE scan, never a Union, because every
    * downstream consumer (the DV filter, the `_graft_batch` taggers)
    * resolves `_metadata` against these and metadata columns do not
    * resolve through a Union. The caller unions AFTER filtering /
    * tagging. An unwidenable retype (string vs long) is refused with a
    * `SparkException` naming the column and both types: no exact cast
    * conforms it, and a silently coerced read would be wrong. */
  private def layoutRelation(spark: SparkSession, warehouseDir: String,
      partNames: Seq[String],
      batches: Seq[(String, BatchStats)]): Seq[DataFrame] = {
    val jsons = batches.map(_._2.schemaJson).distinct
    val schemas = jsons.map(parseSchema)
    mergeRecordedSchemas(schemas, widening = false) match {
      case Right(exact) =>
        // types agree exactly (possibly additive drift): ONE log-built
        // relation with the union schema — parquet fills absent
        // nullable columns with null (the r15 drift-window path)
        Seq(layoutScan(spark, warehouseDir, partNames, batches, exact))
      case Left(_) =>
        // TYPE-WIDENING window (r16, VERDICT r15 #3): Parquet-safe
        // promotions plan one log-built relation PER recorded schema
        // generation — each read AT ITS OWN recorded type — cast
        // exactly to the widened union schema: bounded by
        // distinct-schema count (1–2 in practice), never batch count.
        // Zone pruning still fires across the window: Catalyst pushes
        // the user filter through this cast projection (substituting
        // and then unwrapping the cast against the literal), so each
        // generation's branch reaches ZonePrune as a plain Filter over
        // its ManifestFileIndex (PlanSpec-asserted).
        val widened = mergeRecordedSchemas(schemas, widening = true) match {
          case Right(w) => w
          case Left((name, a, b)) =>
            throw new org.apache.spark.SparkException(
              s"committed batches of $warehouseDir record column '$name' " +
              s"as both ${a.simpleString} and ${b.simpleString}: no exact " +
              "cast reconciles the two, so the table cannot be read as " +
              "one relation")
        }
        import org.apache.spark.sql.functions.{col, lit}
        // each generation stays a SEPARATE relation (Project over one
        // scan) so `_metadata` still resolves on it — the caller
        // unions after its DV filter / batch tagging (ADVICE r16 #1:
        // unioning here made merge/takedown throw and a DV'd widened
        // table unreadable)
        jsons.zip(schemas).map { case (json, own) =>
          val rel = layoutScan(spark, warehouseDir, partNames,
            batches.filter(_._2.schemaJson == json), own)
          val have = rel.columns.map(c => c.toLowerCase -> c).toMap
          rel.select(widened.fields.toSeq.map { f =>
            have.get(f.name.toLowerCase) match {
              case Some(c) => col(c).cast(f.dataType).as(f.name)
              case None => lit(null).cast(f.dataType).as(f.name)
            }
          }: _*)
        }
    }
  }

  /** One log-built scan over `batches` (shared layout, shared exact
    * read schema) — the ManifestFileIndex construction shared by the
    * exact and widened paths of [[layoutRelation]]. The index carries
    * every file's recorded row count, for
    * [[graft.plans.MetadataOnlyCount]]. */
  private def layoutScan(spark: SparkSession, warehouseDir: String,
      partNames: Seq[String], batches: Seq[(String, BatchStats)],
      schema: StructType): DataFrame = {
    val base = new org.apache.hadoop.fs.Path(warehouseDir)
    val qBase = base
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(base)
    // per batch: its root and (relative path, status) per recorded file
    val rooted = batches.map { case (id, st) =>
      val root = new org.apache.hadoop.fs.Path(qBase, s"b$id")
      (root, st, st.files.map { case (rel, len) =>
        rel -> new org.apache.hadoop.fs.FileStatus(len, false, 1, 134217728L,
          0L, new org.apache.hadoop.fs.Path(root, rel))
      })
    }
    val fileRows = (for {
      (_, st, files) <- rooted
      (rel, f) <- files
      fs <- st.fileStats.get(rel)
    } yield f.getPath -> fs.rows).toMap
    if (partNames.isEmpty)
      return org.apache.spark.sql.graftshim.GraftSqlShims.parquetScan(spark,
        new graft.plans.ManifestFileIndex(
          rooted.map { case (root, _, files) => root -> files.map(_._2) },
          fileRows = fileRows), schema)
    val partFields = partNames.map(n =>
      schema.fields.find(_.name.equalsIgnoreCase(n)).getOrElse(
        throw new IllegalStateException(s"partition column '$n' of " +
          s"$warehouseDir is missing from the recorded schema " +
          s"${schema.simpleString}")))
    val partSchema = StructType(partFields.map(f =>
      StructField(f.name, f.dataType, nullable = true)))
    val dataSchema = StructType(schema.fields.filterNot(f =>
      partFields.exists(_.name == f.name)))
    val idx = graft.plans.ManifestFileIndex.partitioned(spark,
        rooted.map { case (root, _, files) => root -> files }, partSchema,
        fileRows)
      .getOrElse(throw new IllegalStateException(s"a recorded partition " +
        s"path of $warehouseDir does not parse as ${partSchema.simpleString}"))
    org.apache.spark.sql.graftshim.GraftSqlShims
      .parquetScan(spark, idx, dataSchema, partSchema)
  }

  /** One relation over the per-file history dirs of `ids`, planned
    * from the log like [[readBatchDirs]]: every commit records its
    * history dir's file list (`#hf` lines) and the history schema is
    * the protocol's own constant (one nullable `file` string column),
    * so the scan lists nothing and opens no footer at plan time. Each
    * row also carries its `batch` id, from `_metadata.file_path`.
    * `None` when no batch in `ids` holds a history file. */
  private[load] def historyFileRelation(spark: SparkSession, historyDir: String,
      ids: Seq[String]): Option[DataFrame] = {
    val base = new org.apache.hadoop.fs.Path(historyDir)
    val qBase = base
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(base)
    val roots = ids.zip(manifests(spark, historyDir, ids)).collect {
      case (id, st) if st.histFiles.nonEmpty =>
        val root = new org.apache.hadoop.fs.Path(qBase, s"b$id")
        root -> st.histFiles.map { case (rel, len) =>
          new org.apache.hadoop.fs.FileStatus(len, false, 1, 134217728L, 0L,
            new org.apache.hadoop.fs.Path(root, rel))
        }
    }
    import org.apache.spark.sql.functions.{col, regexp_extract}
    Option.when(roots.nonEmpty)(
      org.apache.spark.sql.graftshim.GraftSqlShims.parquetScan(
        spark, new graft.plans.ManifestFileIndex(roots),
        StructType(Seq(StructField("file", StringType))))
        .withColumn("batch", regexp_extract(col("_metadata.file_path"),
          "/b([^/]+)/[^/]*$", 1)))
  }
}
