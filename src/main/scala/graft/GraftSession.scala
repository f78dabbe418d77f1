package graft

import org.apache.spark.sql.SparkSession

/** Front door: a SparkSession configured the way this library expects.
  *
  *  - `spark.sql.extensions = GraftExtensions` — every native
  *    expression (`graft_qdot`, `graft_shingles`, `graft_minhash_sig`,
  *    `graft_normalize_text`, `graft_doc_pairs`) resolves in SQL.
  *  - UTC session timezone (timestamp arithmetic in the query surface
  *    assumes it).
  *  - Shuffle partitions sized by the caller — pass the cluster's
  *    total cores for CPU-bound local work; at warehouse scale this is
  *    2–3× total executor cores, NOT the default 200. Stateful
  *    streaming queries re-shard internally regardless (see
  *    queries/Streamed.stateSession).
  *  - `spark.hadoop.fs.file.impl = graft.load.NioLocalFileSystem` and
  *    `spark.hadoop.fs.AbstractFileSystem.file.impl =
  *    graft.load.NioLocalFs` — the `file:` FileSystem and FileContext.
  *    Without `libhadoop`, Hadoop's local filesystem forks a `chmod`,
  *    `readlink` or `ls` process for every file it creates, renames or
  *    stats (several per commit); these classes give the same answers
  *    from `java.nio` (see `load/NioLocalFs.scala`).
  *
  * Two caveats on the filesystem. Hadoop caches one `file:` FileSystem
  * per JVM and user, so the FIRST one created wins: a `file:`
  * FileSystem created from a conf without this setting before the
  * session (or by another session) stays the stock class. And
  * `attach` upgrades an EXISTING session in place (function
  * registration only — conf is left alone, so the filesystem stays
  * whatever that session has), for callers who already own a session.
  */
object GraftSession {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.load.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.load.NioLocalFs].getName)

  def create(master: String = "local[*]",
             shufflePartitions: Int =
               Runtime.getRuntime.availableProcessors()): SparkSession =
    builder(master, shufflePartitions).getOrCreate()

  /** Register graft functions on a session the caller already owns. */
  def attach(spark: SparkSession): SparkSession = {
    graft.functions.VectorExprs.register(spark)
    graft.functions.TextExprs.register(spark)
    spark
  }
}
