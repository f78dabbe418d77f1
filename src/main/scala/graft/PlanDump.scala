package graft
import org.apache.spark.sql.execution.FormattedMode

/** Dev-only: print FormattedMode plans for the queries named in
  * SPARK_GRAFT_PROBE (comma-separated) at SPARK_GRAFT_SF_DIR
  * (default sf0.001) — cross-scale plan diffs (e.g. the round-11 q57
  * sf0.1-vs-sf1 re-audit) grep these dumps for operator drift. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession.builder("local[4]", 4)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = sys.env.getOrElse("SPARK_GRAFT_PROBE", "").split(",").toSeq
    names.filter(_.nonEmpty).foreach { n =>
      println(s"===== $n =====")
      println(SparkEntry.queries(n)(spark, sfDir)
        .queryExecution.explainString(FormattedMode))
    }
    spark.stop()
  }
}
