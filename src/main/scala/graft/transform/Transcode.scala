package graft.transform

import org.apache.spark.sql.DataFrame

/** Format transcode — the reference Glue job's entire dataflow
  * (/root/reference/glue/glue_job.py:29-32): identity projection, CSV in,
  * line-delimited JSON out, `mode("overwrite")`. Spark's json writer
  * emits exactly the line-delimited records Snowpipe consumed.
  *
  * `numFiles` controls output fan-out: the reference inherited its file
  * count from input partitioning; at scale you size output files for the
  * downstream consumer (many small files strangle any file-source
  * consumer) — `repartition` here is the only (intentional) shuffle.
  *
  * Null fields are written (`ignoreNullFields=false`): every output
  * file spells the full key set, which the idempotent load's sampled
  * key inference relies on (the homogeneity contract).
  */
object Transcode {
  def toJson(df: DataFrame, outDir: String,
             numFiles: Option[Int] = None): Unit = {
    val out = numFiles.fold(df)(df.repartition(_))
    out.write.mode("overwrite").option("ignoreNullFields", "false")
      .json(outDir)
  }
}
