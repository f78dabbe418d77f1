package graft.load

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension (type 2) MERGE — the warehouse upsert the
  * reference's Snowflake target runs as `MERGE INTO` (see
  * /root/reference/modules/snowflake.py — the loaded `customer` table is
  * a classic dimension): each batch of updates closes the current
  * version of any changed key and opens a new one, preserving full
  * history.
  *
  * Row lifecycle per key:
  *  - tracked columns unchanged → current row passes through untouched
  *  - changed → current row is closed (`effective_to = batchTs`,
  *    `is_current = false`) and a new open version is appended
  *  - key only in updates → new open version (first insert)
  *  - key absent from updates → untouched
  *
  * [[merge]] is the [[delta]] upserted into the dimension on
  * `(key, effective_from)` — the upsert [[StreamingMerge]] commits.
  *
  * Plan shape: TWO joins of the open slice against the update batch —
  * an inner join (open → updates) finding the versions to close, and an
  * anti-ish left join (updates → open) emitting new versions — plus, in
  * [[merge]], one anti join of the dimension against the closed keys.
  * An update batch is typically orders of magnitude smaller than the
  * dimension, so every join broadcasts the batch-sized side and the
  * dimension is never shuffled. Re-applying the same batch is a no-op
  * (an empty delta), because "changed" is value-based, not
  * presence-based.
  */
object ScdMerge {
  val EffectiveFrom = "effective_from"
  val EffectiveTo = "effective_to"
  val IsCurrent = "is_current"

  private def anyDiff(trackedCols: Seq[String]): Column =
    trackedCols
      .map(c => not(col(c) <=> col(s"_u_$c")))
      .reduce(_ || _)

  /** Returns the post-merge dimension snapshot (history + revised
    * current slice). `current` must carry the three SCD bookkeeping
    * columns; build the initial snapshot with [[init]]. */
  def merge(current: DataFrame, updates: DataFrame, keyCols: Seq[String],
            trackedCols: Seq[String],
            batchTs: java.sql.Timestamp): DataFrame = {
    val d = delta(current, updates, keyCols, trackedCols, batchTs)
    val versionKey = (keyCols :+ EffectiveFrom).map(col)
    current.join(graft.queries.Hints.broadcastIfSmall(
        d.filter(!col(IsCurrent)).select(versionKey: _*)),
        keyCols :+ EffectiveFrom, "left_anti")
      .select(current.columns.map(col): _*)
      .unionByName(d)
  }

  /** Only the rows a merge changes: the open versions it closes
    * (`effective_to = batchTs`, `is_current = false`) plus the new open
    * versions. Re-applying the same updates yields an empty delta. */
  def delta(current: DataFrame, updates: DataFrame, keyCols: Seq[String],
            trackedCols: Seq[String],
            batchTs: java.sql.Timestamp): DataFrame = {
    val dimCols = current.columns.toSeq
    // Batches are normally orders of magnitude smaller than the
    // dimension, but the hint is size-guarded all the same: an
    // anomalously large backfill batch falls back to a shuffle join
    // instead of an executor OOM.
    val u = graft.queries.Hints.broadcastIfSmall(updates.select(
      keyCols.map(col) ++ trackedCols.map(c => col(c).as(s"_u_$c")): _*))

    val open = current.filter(col(IsCurrent))

    // Closed versions: open rows whose tracked values the batch changes.
    val closed = open.join(u, keyCols).filter(anyDiff(trackedCols))
      .select(dimCols.map {
        case EffectiveTo => lit(batchTs).as(EffectiveTo)
        case IsCurrent => lit(false).as(IsCurrent)
        case c => col(c)
      }: _*)

    // New versions: updates that are brand-new keys or differ from the
    // open version. Left join updates → open, then value-compare.
    // `_u_present` marks join hits explicitly — tracked columns may
    // legitimately hold nulls, so value-nullness cannot signal presence.
    val openForCompare = open.select(
      keyCols.map(col) ++ trackedCols.map(c => col(c).as(s"_u_$c"))
        :+ lit(true).as("_u_present"): _*)
    val newVersions = graft.queries.Hints.broadcastIfSmall(updates.select(
        (keyCols ++ trackedCols).map(col): _*))
      .join(openForCompare, keyCols, "left")
      .filter(col("_u_present").isNull || anyDiff(trackedCols))
      .select(
        dimCols.map {
          case EffectiveFrom => lit(batchTs).as(EffectiveFrom)
          case EffectiveTo => lit(null).cast("timestamp").as(EffectiveTo)
          case IsCurrent => lit(true).as(IsCurrent)
          case c => col(c)
        }: _*)

    closed.unionByName(newVersions)
  }

  /** Initial SCD snapshot from a plain (key + tracked) table. */
  def init(df: DataFrame, batchTs: java.sql.Timestamp): DataFrame =
    df.withColumn(EffectiveFrom, lit(batchTs))
      .withColumn(EffectiveTo, lit(null).cast("timestamp"))
      .withColumn(IsCurrent, lit(true))
}
