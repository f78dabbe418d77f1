package graft

import org.apache.spark.sql.SparkSession
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

  val sf0001 = "/root/testdata/sf0.001"
}
