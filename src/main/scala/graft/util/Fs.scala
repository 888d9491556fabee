package graft.util

/** Local-filesystem helpers shared by the store/index publish protocols
  * (the one parquet write, fsync, tree walks) and the bench/gate temp-dir
  * hygiene — one definition, so a future behavioral fix (symlink
  * safety, retry semantics) lands once (review r10: six private copies
  * had accumulated).
  */
object Fs {

  /** The two Hadoop options [[writeParquet]] puts on each write: the
    * `file:` scheme resolves to [[ForkFreeLocalFileSystem]], and past the
    * FileSystem cache, whose key ignores the conf and would hand back the
    * stock instance.
    */
  private[util] val ForkFreeWriteOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** The one way engine code writes a DataFrame to parquet: overwrite
    * `path`, optionally partitioned, with [[ForkFreeWriteOptions]] on the
    * writer. Spark copies writer options into the write job's Hadoop conf,
    * so the driver-side committer and the task-side parquet writers both
    * set permissions through NIO and fork no `chmod`. The override is per
    * write: the session, its conf and other schemes are untouched, and
    * `.crc` sidecars are still written. Durability (`fsyncTree`) and the
    * commit stay with the caller.
    */
  def writeParquet(df: org.apache.spark.sql.DataFrame, path: String,
      partitionBy: String*): Unit =
    df.write.options(ForkFreeWriteOptions).partitionBy(partitionBy: _*)
      .mode("overwrite").parquet(path)

  /** Recursive delete of a directory or a plain file; tolerates a missing
    * path. The one delete seam of `streaming`, `operators` and `util`
    * (`ConditionalPut`'s staging file excepted), which FsSpec guards.
    */
  def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete()
  }

  /** One warning per JVM when the filesystem rejects directory fsync. */
  private val fsyncDirUnsupported =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  /** One warning per JVM when a file can't be opened writable for fsync. */
  private val fsyncFileReadOnly =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  /** fsync a file's bytes (data durability, not just journaled metadata).
    * Opened READ+WRITE so `force` is specified to flush the file's data on
    * every JVM, not just Linux — the JavaDoc only guarantees `force` for
    * writes made *through the forcing channel*, and a READ-only handle's
    * behavior for other writers' bytes is unspecified (ADVICE r10).
    * On a read-only file or permission-restricted FS the WRITE *open*
    * throws where the pre-r11 READ-open force used to succeed; ONLY that
    * open failure triggers the READ-open fallback (one-shot loud warning,
    * same pattern as `fsyncDir`). A `force` failure — on either channel —
    * is a REAL durability failure (an EIO here is the kernel reporting
    * the writeback error ONCE; a retry on a fresh handle would observe
    * the already-cleared state, the fsyncgate pattern) and must propagate
    * so the commit that depends on this file being durable fails instead
    * of publishing a reference to non-durable data (ADVICE r12). Fallback
    * failures are logged EVERY time, not just the first.
    */
  def fsyncFile(f: java.io.File): Unit = {
    val writableOpen =
      try Right(java.nio.channels.FileChannel.open(f.toPath,
        java.nio.file.StandardOpenOption.WRITE,
        java.nio.file.StandardOpenOption.READ))
      catch { case e: java.io.IOException => Left(e) }
    writableOpen match {
      case Right(ch) =>
        // force() failures propagate: the open succeeded, so an error here
        // is the filesystem refusing durability, not a permissions quirk.
        try ch.force(true) finally ch.close()
      case Left(openErr) =>
        if (fsyncFileReadOnly.compareAndSet(false, true))
          org.slf4j.LoggerFactory.getLogger(Fs.getClass).warn(
            s"writable open for fsync unavailable ($f: " +
              s"${openErr.getMessage}) — falling back to READ-open force; " +
              "data durability of other writers' bytes is unspecified on " +
              "this JVM/filesystem", openErr)
        try {
          val ch = java.nio.channels.FileChannel.open(f.toPath,
            java.nio.file.StandardOpenOption.READ)
          try ch.force(true) finally ch.close()
        } catch {
          case e: java.io.IOException =>
            org.slf4j.LoggerFactory.getLogger(Fs.getClass).warn(
              s"READ-open fsync fallback failed for $f — propagating; the " +
                "pending commit must not publish against non-durable data", e)
            throw e
        }
    }
  }

  /** fsync a directory entry table (persists renames/creates/unlinks in
    * it); skipped where the FS rejects directory handles — but LOUDLY,
    * once: commit protocols whose crash-ordering argument rests on
    * "record durable before visible" degrade to best-effort on such
    * filesystems, and operators deserve a signal rather than silently
    * weakened guarantees (ADVICE r7).
    */
  def fsyncDir(d: java.io.File): Unit =
    try {
      val ch = java.nio.channels.FileChannel.open(d.toPath,
        java.nio.file.StandardOpenOption.READ)
      try ch.force(true) finally ch.close()
    } catch {
      case e: java.io.IOException =>
        if (fsyncDirUnsupported.compareAndSet(false, true))
          org.slf4j.LoggerFactory.getLogger(Fs.getClass).warn(
            s"directory fsync unavailable on this filesystem ($d: " +
              s"${e.getMessage}) — crash-ordering guarantees that rest on " +
              "directory-entry durability are best-effort here", e)
    }

  /** Bounded pool for PARALLEL file fsyncs (r20, guide §2.2/§2.6 —
    * shorten the serial region). A bucket-partitioned commit stages one
    * file per touched bucket, and the pre-r20 tree walk fdatasync'd them
    * one at a time on the driver thread: at 32 buckets × fsync latency
    * that serial wall time is the dominant cost of small protocol
    * commits and is core-count-invariant (the r19 scaling block measured
    * the 2-writer merge path at a 0.94 ratio from 8→32 cores — the
    * writers were queueing on this loop, not on compute). fdatasync is
    * pure IO wait, so overlapping requests lets the device coalesce
    * flushes. It runs min(8, cores) daemon threads — the pool must never
    * block JVM exit.
    */
  private lazy val fsyncPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, Runtime.getRuntime.availableProcessors()),
      r => { val t = new Thread(r, "graft-fsync"); t.setDaemon(true); t })

  /** fsync a batch of regular files in parallel, propagating the FIRST
    * failure (a durability failure must fail the commit that depends on
    * it — same contract as [[fsyncFile]]). Order within the batch is
    * irrelevant: callers only need ALL files durable before the next
    * protocol step, which the join guarantees.
    */
  def fsyncFiles(files: Seq[java.io.File]): Unit =
    inParallel(files)(fsyncFile)

  /** Runs `op` on every item on [[fsyncPool]] and waits for all of them;
    * one item or none runs on the caller's thread. The first failure, in
    * item order, surfaces unwrapped from its `ExecutionException`, so
    * callers see the original `IOException`.
    */
  private def inParallel[A](items: Seq[A])(op: A => Unit): Unit =
    if (items.size <= 1) items.foreach(op)
    else {
      import scala.jdk.CollectionConverters._
      val tasks: Seq[java.util.concurrent.Callable[Unit]] =
        items.map(a => (() => op(a)): java.util.concurrent.Callable[Unit])
      fsyncPool.invokeAll(tasks.asJava).asScala.foreach { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            throw Option(e.getCause).getOrElse(e)
        }
      }
    }

  /** Total row count of a directory's parquet part files from their
    * FOOTERS — a driver-side metadata read (KBs of IO, no Spark job).
    * Footer counts are authoritative: a parquet file's record count is
    * part of its committed metadata. Shared by the versioned maintainer's
    * rewrite-emptiness probe (r19) and the ANN tombstone publish (r20).
    */
  def parquetRowCount(dir: java.io.File): Long = {
    val conf = new org.apache.hadoop.conf.Configuration()
    Option(dir.listFiles((_: java.io.File, n: String) =>
      n.endsWith(".parquet"))).getOrElse(Array.empty[java.io.File])
      .iterator.map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getPath), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
  }

  /** fsync a batch of directory entry tables in parallel. [[fsyncDir]]
    * handles (and latches) unsupported-FS errors itself, so the parallel
    * form is behaviorally identical to the serial loop it replaces.
    */
  def fsyncDirs(dirs: Seq[java.io.File]): Unit = inParallel(dirs)(fsyncDir)

  /** fsync every regular file and directory under `root` (bottom-up), so
    * a commit record published AFTER this call can never reference torn
    * data on a power cut — the data-before-manifest ordering the
    * object-store commit protocol needs on a local filesystem
    * (ADVICE r10). Since r20 the walk is two-phase and PARALLEL: every
    * file in the tree fsyncs first (one parallel batch), then directory
    * entries deepest-first (one parallel batch per depth) — which
    * preserves the only ordering the crash arguments need, contents
    * durable before the directory entry that names them.
    */
  def fsyncTree(root: java.io.File): Unit =
    if (root.isFile) fsyncFile(root)
    else if (root.isDirectory) {
      val files = Seq.newBuilder[java.io.File]
      val dirsByDepth =
        scala.collection.mutable.Map.empty[Int, List[java.io.File]]
      def walk(f: java.io.File, depth: Int): Unit =
        if (f.isDirectory) {
          dirsByDepth(depth) = f :: dirsByDepth.getOrElse(depth, Nil)
          Option(f.listFiles()).foreach(_.foreach(walk(_, depth + 1)))
        } else if (f.isFile) files += f
      walk(root, 0)
      fsyncFiles(files.result())
      dirsByDepth.keys.toSeq.sorted.reverse
        .foreach(d => fsyncDirs(dirsByDepth(d)))
    }
}
