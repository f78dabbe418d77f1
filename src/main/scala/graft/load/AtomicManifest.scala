package graft.load

import org.apache.spark.sql.SparkSession

/** Conditional-create primitive for stores WITHOUT an atomic rename
  * (r15, VERDICT r14 #7): S3-class object stores arbitrate writers
  * with a conditional PUT (`If-None-Match: *` — the request fails if
  * the key exists), which is exactly the create-exclusive semantic
  * the commit CAS needs and exactly what their "rename" (exists-check
  * + copy) is not. A deployment registers one of these per scheme
  * ([[AtomicManifest.registerConditionalPut]]) — typically a thin SDK
  * call — and every commit-log CAS on that scheme routes through it
  * instead of being refused by the atomic-rename gate. The contract:
  *
  *  - `putIfAbsent` publishes `content` at `uri` ATOMICALLY iff no
  *    object exists there; `true` = this caller created it.
  *  - A `false` MUST mean some complete object exists (the loser's
  *    re-read sees the winner's content) — partial visibility or
  *    false-on-transient-error voids the lost-update guarantee;
  *    backends should retry transient failures internally or throw.
  *  - Concurrent callers on one uri: exactly one `true`. */
trait ConditionalPut {
  def putIfAbsent(uri: java.net.URI, content: Array[Byte]): Boolean

  /** Unconditional atomic put (last-writer-wins overwrite) — the
    * primitive behind [[AtomicManifest.write]]'s manifest OVERWRITES
    * (the `_COMMITTED` hint refresh, vacuum's cutoff snapshot-ify,
    * CHECK-constraint declarations). Object stores offer this natively
    * (a plain PUT is atomic per key), so the default would be a
    * one-liner — but it is NOT defaulted to putIfAbsent-or-ignore,
    * because silently skipping an overwrite corrupts vacuum's cutoff
    * rewrite. ABSTRACT since r17 (ADVICE r16 #2): the r16 default
    * threw UnsupportedOperationException, so a CAS-only backend
    * registered fine and then died MID-COMMIT at the first manifest
    * overwrite (batchIdempotent's zone-map write, vacuum's cutoff,
    * addCheck) — a half-implemented backend is now a COMPILE error,
    * the earliest possible refusal. */
  def put(uri: java.net.URI, content: Array[Byte]): Unit
}

/** Write-temp + atomic-rename manifest — the single commit primitive
  * behind every exactly-once story in this package (the commit log's
  * exclusive version publish, [[createExclusive]], and its hint and
  * zone-map manifests): readers resolve the manifest first, so any
  * number of data/metadata files can be staged invisibly and made
  * visible in ONE atomic rename — the poor-man's transaction log
  * Delta/Iceberg formalize.
  *
  * `FileSystem.rename` refuses existing destinations (silently!);
  * `FileContext` supports the atomic-overwrite rename a repoint needs.
  */
object AtomicManifest {
  /** The data-file rename is atomic, but Hadoop's LOCAL filesystem
    * keeps a SEPARATE `.crc` sidecar — a reader concurrent with the
    * repoint (the commit-log streaming source polls `getOffset` from
    * its own thread) can catch new data under the old sidecar and get
    * a transient ChecksumException. Local-fs-only (HDFS/object stores
    * have no sidecars), so a short bounded retry is the fix — NOT
    * disabling verification, which is a shared-FileSystem-wide
    * setting. */
  private val ReadRetries = 8

  def read(spark: SparkSession, dir: String, name: String): Option[String] = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mf = new org.apache.hadoop.fs.Path(dir, name)
    def once(): Option[String] =
      if (!fs.exists(mf)) None
      else {
        val in = fs.open(mf)
        try Some(scala.io.Source.fromInputStream(in).mkString.trim)
        finally in.close()
      }
    var attempt = 0
    while (true) {
      try return once()
      catch {
        case _: java.io.FileNotFoundException if attempt >= ReadRetries =>
          // The file existed at the exists() probe, then vanished and
          // STAYED gone: a reader racing vacuum's version pruning (the
          // commit-log source polls from its own thread, outside the
          // single-writer contract). Report "absent" so callers hit
          // their explicit pruned-by-vacuum error paths instead of an
          // opaque FNF after 2.5s of retries (ADVICE r12). A transient
          // FNF (rename window) resolves within the retry budget.
          return None
        case e @ (_: org.apache.hadoop.fs.ChecksumException |
                  _: java.io.FileNotFoundException) =>
          attempt += 1
          if (attempt > ReadRetries) throw e // checksum: corrupt, not pruned
          Thread.sleep(10L << math.min(attempt, 5))
      }
    }
    None // unreachable
  }

  /** Filesystem schemes whose `FileContext.rename(…, Rename.NONE)` is
    * atomic SERVER-SIDE (namenode-arbitrated create-exclusive): HDFS
    * and its proxies, Ozone, ADLS Gen2. S3A-style object stores are
    * NOT on this list — their "rename" is a client-side exists-check
    * plus a non-atomic copy, which silently voids the commit CAS's
    * lost-update guarantee (ADVICE r13). `file:` takes the hard-link
    * branch instead. */
  private val AtomicRenameSchemes =
    Set("hdfs", "viewfs", "webhdfs", "swebhdfs", "ofs", "o3fs",
      "abfs", "abfss")

  /** Publish `content` as `dir/name` atomically IF AND ONLY IF the
    * name does not exist yet — the compare-and-swap primitive behind
    * the commit protocol's optimistic concurrency
    * ([[WarehouseLoad]]'s version files): the first writer's publish
    * wins, every loser gets `false` and must re-read the head and
    * retry. Content is staged to a unique temp first, so a reader can
    * never observe a partial manifest.
    *
    * Local fs: hard-link(2) — the one POSIX primitive that is both
    * create-EXCLUSIVE (link fails with EEXIST, no check-then-act
    * window) and publishes the full content atomically (the link
    * target is already complete). `FileContext.rename(…, Rename.NONE)`
    * is NOT that on the local fs: its exists-check + rename(2) (which
    * silently replaces) leaves a lost-update window. The rename branch
    * is therefore GATED to [[AtomicRenameSchemes]]; any other scheme
    * fails loudly rather than committing over a primitive that cannot
    * arbitrate — front such stores with a coordination layer, or set
    * `graft.commit.unsafe.allowNonAtomicRename=true` in the Hadoop
    * conf to accept single-writer-only operation knowingly. */
  /** Scheme → conditional-create backend. Checked FIRST by
    * [[createExclusive]]: a registered backend carries the whole CAS
    * (no temp staging — the conditional put IS the atomic publish),
    * extending the multi-writer contract to stores the rename gate
    * refuses. */
  private val conditionalPuts =
    scala.collection.concurrent.TrieMap.empty[String, ConditionalPut]

  def registerConditionalPut(scheme: String,
                             backend: ConditionalPut): Unit =
    conditionalPuts.put(scheme, backend)

  def unregisterConditionalPut(scheme: String): Unit =
    conditionalPuts.remove(scheme)

  def createExclusive(spark: SparkSession, dir: String, name: String,
                      content: String): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(conf)
    val scheme = Option(fs.getUri.getScheme).getOrElse("file")
    conditionalPuts.get(scheme).foreach { backend =>
      if (!fs.exists(dirPath)) fs.mkdirs(dirPath)
      return backend.putIfAbsent(
        new org.apache.hadoop.fs.Path(dir, name).toUri,
        content.getBytes("UTF-8"))
    }
    if (scheme != "file" && !AtomicRenameSchemes(scheme) &&
        !conf.getBoolean("graft.commit.unsafe.allowNonAtomicRename", false))
      throw new UnsupportedOperationException(
        s"scheme '$scheme' offers no atomic create-exclusive rename: " +
        "the commit CAS's lost-update guarantee would silently not " +
        "hold. Use an HDFS-compatible store for the commit log, or " +
        "set graft.commit.unsafe.allowNonAtomicRename=true to accept " +
        "SINGLE-WRITER-ONLY operation on this store")
    if (!fs.exists(dirPath)) fs.mkdirs(dirPath)
    val tmp = new org.apache.hadoop.fs.Path(dir,
      s".$name.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    val dst = new org.apache.hadoop.fs.Path(dir, name)
    try {
      if (Option(fs.getUri.getScheme).forall(_ == "file")) {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(dst.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      } else {
        try {
          org.apache.hadoop.fs.FileContext.getFileContext(tmp.toUri, conf)
            .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.NONE)
          true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        }
      }
    } finally fs.delete(tmp, false) // no-op when the rename moved it
  }

  /** Temp names are UNIQUE per call (like [[createExclusive]]'s): a
    * fixed `.name.tmp` let two concurrent writers of the same manifest
    * (e.g. the `_COMMITTED` hint after racing CAS commits) overwrite
    * each other's temp and fail the second rename with FNF — caught by
    * the r14 CommitScale parallel-committer build. With unique temps
    * both renames land and the last overwrite wins, which is exactly
    * the hint's lagging-best-effort contract. */
  def write(spark: SparkSession, dir: String, name: String,
            content: String): Unit = {
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // A registered backend carries overwrites too (ADVICE r15): on the
    // S3-class schemes the backend targets, FileContext.rename below
    // either throws (no AbstractFileSystem binding) or is a non-atomic
    // copy+delete — the exact primitive the rename gate declares
    // unsafe. The conditional-put store's plain PUT is atomic per key.
    conditionalPuts.get(Option(fs.getUri.getScheme).getOrElse("file"))
      .foreach { backend =>
        if (!fs.exists(dirPath)) fs.mkdirs(dirPath)
        backend.put(new org.apache.hadoop.fs.Path(dir, name).toUri,
          content.getBytes("UTF-8"))
        return
      }
    if (!fs.exists(dirPath)) fs.mkdirs(dirPath)
    val tmp = new org.apache.hadoop.fs.Path(dir,
      s".$name.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8"))
    finally out.close()
    try org.apache.hadoop.fs.FileContext
      .getFileContext(tmp.toUri, spark.sparkContext.hadoopConfiguration)
      .rename(tmp, new org.apache.hadoop.fs.Path(dir, name),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    finally fs.delete(tmp, false) // no-op when the rename moved it
  }
}
