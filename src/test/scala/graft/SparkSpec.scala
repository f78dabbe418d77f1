package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base: one local SparkSession per suite (lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4)
    .appName(getClass.getSimpleName)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh-").toString)
    .getOrCreate()

  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d.toString
  }

  /** The file relations `df`'s optimized plan scans. */
  def fsRelations(df: DataFrame): Seq[HadoopFsRelation] =
    df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation
    }.collect { case fs: HadoopFsRelation => fs }

  /** How many roots those relations plan — for a committed table, the
    * batch roots zone pruning kept. */
  def roots(df: DataFrame): Int =
    fsRelations(df).map(_.location.rootPaths.size).sum

  val sf0001 = "/root/testdata/sf0.001"
}
