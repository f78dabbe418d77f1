package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.load.WarehouseLoad
import graft.sources.CsvSource
import graft.transform.Transcode

/** End-to-end pipeline — the reference's full topology collapsed into
  * one JVM (SURVEY.md §3): CSV lands → schema inference ("crawl") →
  * JSON transcode (the Glue job) → schema-aligned typed load (Snowpipe).
  *
  * Config is explicit (no hardcoded paths/table names — fixing the
  * reference quirks in SURVEY.md §2.11). The crawl-then-run race in the
  * reference's repo Lambda (§2.11 #3) is structurally impossible here:
  * stages are sequential function calls.
  *
  * The load leg is the commit-log COPY
  * ([[WarehouseLoad.batchIdempotent]]): re-invoking it over the same
  * staging dir loads only unseen files (Snowpipe load history).
  */
object Pipeline {
  final case class Config(
    landingDir: String,
    stagingDir: String,
    warehouseDir: String,
    historyDir: String,
    target: StructType,
    catalogTable: String = "landing",
    strict: Boolean = false)

  /** crawl → transcode → load. Returns the committed warehouse table. */
  def run(spark: SparkSession, cfg: Config): DataFrame = {
    val inferred = CsvSource.infer(spark, cfg.landingDir, cfg.catalogTable)
    val df = CsvSource.read(spark, cfg.landingDir, inferred)
    Transcode.toJson(df, cfg.stagingDir)
    WarehouseLoad.batchIdempotent(spark, cfg.stagingDir, cfg.target,
      cfg.warehouseDir, cfg.historyDir, cfg.strict)
    WarehouseLoad.readWarehouse(spark, cfg.warehouseDir, cfg.historyDir)
      .getOrElse(spark.createDataFrame(
        java.util.Collections.emptyList[Row](), cfg.target))
  }
}
