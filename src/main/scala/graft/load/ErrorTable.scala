package graft.load

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.schema.SchemaAlign

/** The error table of a quarantine load
  * ([[WarehouseLoad.batchQuarantine]]): each batch's error rows are
  * written under `errorDir/_pending/b<id>` before the batch commits and
  * moved up into `errorDir` after it does, so a crash anywhere and a
  * re-run leave one copy of each. */
object ErrorTable {
  import StagedRead.{CorruptCol, FileCol}, VersionLog._

  /** Where a quarantine load stages a batch's error rows until the
    * batch commits; `_`-prefixed, so parquet readers skip it. */
  private[load] val PendingDir = "_pending"

  private[load] def failed(raw: DataFrame,
      target: StructType): (Column, Column) =
    (org.apache.spark.sql.functions.col(CorruptCol).isNotNull,
      SchemaAlign.castFailure(raw, target))

  /** Write the rows of `raw` that fail to parse or to coerce to
    * `target` as error records under `dir`; no rows leave no dir. */
  private[load] def writeErrors(spark: SparkSession, raw: DataFrame,
      target: StructType, dir: String): Unit = {
    import org.apache.spark.sql.functions.{array, col, count, lit, struct,
      to_json, when}
    val (malformed, fail) = failed(raw, target)
    val fields = raw.columns.filterNot(c => c == CorruptCol || c == FileCol)
    val eobs = new Observation()
    raw.filter(malformed || fail)
      .select(
        col(FileCol).as("source_file"),
        when(malformed, col(CorruptCol))
          .otherwise(to_json(struct(fields.map(col): _*)))
          .as("raw_record"),
        when(malformed, array(lit("_corrupt_record")))
          .otherwise(SchemaAlign.failedColumns(raw, target))
          .as("failed_columns"))
      .observe(eobs, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(dir)
    if (eobs.get("n").asInstanceOf[Long] == 0L) {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** Make the pending error rows of batch dir `batch` (`b<id>`)
    * visible: move each data file of `errorDir/_pending/<batch>` up
    * into `errorDir`, then drop the emptied dir. Each move is atomic
    * and a moved file is gone from the pending dir, so a publish cut
    * short, or raced by another load's [[sweepPending]], finishes
    * without a second copy. A batch without error rows has no dir. */
  private[load] def publishPending(spark: SparkSession, errorDir: String,
      batch: String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(s"$errorDir/$PendingDir", batch)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files =
      try fs.listStatus(dir).toSeq
      catch { case _: java.io.FileNotFoundException => Nil }
    files.foreach { f =>
      val name = f.getPath.getName
      val dst = new org.apache.hadoop.fs.Path(errorDir, name)
      if (f.isFile && !name.startsWith("_") && !name.startsWith(".") &&
          !fs.rename(f.getPath, dst) && !fs.exists(dst))
        throw new java.io.IOException(
          s"cannot publish quarantined rows ${f.getPath} to $dst")
    }
    if (files.nonEmpty) fs.delete(dir, true)
  }

  /** The recovery sweep over `errorDir/_pending`, left non-empty only
    * by a crash or a race: publish the dir of every batch that some
    * RETAINED version commits (a crash between the commit and the
    * publish; the batch may since have been folded out of the head),
    * leave one whose writer's intent marker is live (it may still
    * commit, or its retry will overwrite the dir), and delete the rest
    * — a crashed attempt whose retry committed a different fresh set
    * under a different id. The order is [[WarehouseLoad.vacuum]]'s:
    * dirs listed first, markers checked next, versions read last, so a
    * writer that committed and cleared its marker in between still
    * reads as committed. */
  private[load] def sweepPending(spark: SparkSession, historyDir: String,
      errorDir: String): Unit = {
    val pending = new org.apache.hadoop.fs.Path(errorDir, PendingDir)
    val fs = pending.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged =
      try fs.listStatus(pending).toSeq.filter(_.isDirectory)
        .map(_.getPath.getName).filter(_.startsWith("b"))
      catch { case _: java.io.FileNotFoundException => Nil }
    if (staged.nonEmpty) {
      val live = staged.filter(b =>
        intentLive(spark, historyDir, b.stripPrefix("b"))).toSet
      val committed = retainedCommits(spark, historyDir,
        staged.map(_.stripPrefix("b")).toSet)
      staged.foreach { b =>
        if (committed(b.stripPrefix("b"))) publishPending(spark, errorDir, b)
        else if (!live(b))
          fs.delete(new org.apache.hadoop.fs.Path(pending, b), true)
      }
    }
  }
}
