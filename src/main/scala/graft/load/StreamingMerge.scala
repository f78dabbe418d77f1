package graft.load

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Continuous dimension maintenance: a stream of update batches merged
  * into an SCD-2 dimension with `foreachBatch` — the standard
  * Structured Streaming MERGE pattern (file sinks have no native
  * upsert, so the merge runs inside the batch callback; the
  * checkpoint's file log makes each staged file participate in exactly
  * one merge, even across restarts).
  *
  * The dimension is a commit-log table: batches under
  * `dimDir/warehouse`, log under `dimDir/history` (read it with
  * [[WarehouseLoad.readWarehouse]]). Each epoch reads the committed
  * head, computes the SCD-2 delta ([[ScdMerge.delta]]: the versions
  * it closes plus the new versions) and commits it as one MERGE keyed
  * on `keyCols :+ effective_from` ([[WarehouseLoad.mergeCommitted]]);
  * an empty table takes the first epoch's rows as its schema. An epoch
  * replayed after a crash finds nothing to change against a head that
  * already holds it — an empty delta, a no-op — and one replayed from
  * before its commit re-derives the same delta, whose content-derived
  * batch ids overwrite the crashed attempt's orphans.
  *
  * `batchTs` stamps versions from the batch id, keeping effective
  * timestamps deterministic and replayable; production callers pass
  * wall-clock or event-derived timestamps. Every version an epoch
  * opens shares that timestamp, so an epoch keeps ONE update per key:
  * the last, by staged file name and then position in the file (a
  * MERGE source with two rows for a key would be refused, and the
  * stream would replay the refused epoch forever).
  */
object StreamingMerge {

  /** Start the continuous merge over JSON update files in `stagingDir`.
    * Drains everything currently staged (Trigger.AvailableNow) and
    * stops; re-invoke later with the same checkpoint and only unseen
    * files merge. */
  def continuous(spark: SparkSession, stagingDir: String,
                 updateSchema: StructType, dimDir: String,
                 checkpointDir: String, keyCols: Seq[String],
                 trackedCols: Seq[String],
                 batchTs: Long => java.sql.Timestamp): StreamingQuery = {
    val (wh, hist) = (s"$dimDir/warehouse", s"$dimDir/history")
    spark.readStream.schema(updateSchema).json(stagingDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val ts = batchTs(batchId)
          val updates = lastPerKey(batch, keyCols)
          val delta = WarehouseLoad.readWarehouse(spark, wh, hist) match {
            case Some(current) =>
              ScdMerge.delta(current, updates, keyCols, trackedCols, ts)
            case None => ScdMerge.init(updates, ts)
          }
          WarehouseLoad.mergeCommitted(spark, wh, hist, delta,
            keyCols :+ ScdMerge.EffectiveFrom)
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** The last row per key of an epoch: by file name, then the file
    * split's offset, then row order inside the split. */
  private def lastPerKey(batch: DataFrame,
                         keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("_sm_f").desc, col("_sm_b").desc, col("_sm_r").desc)
    batch.select(col("*"), input_file_name().as("_sm_f"),
        expr("input_file_block_start()").as("_sm_b"),
        monotonically_increasing_id().as("_sm_r"))
      .withColumn("_sm_n", row_number().over(w)).filter(col("_sm_n") === 1)
      .drop("_sm_f", "_sm_b", "_sm_r", "_sm_n")
  }
}
