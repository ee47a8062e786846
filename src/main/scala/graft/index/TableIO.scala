package graft.index

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** Filesystem abstraction for every non-Spark index artifact (manifest,
  * props, stats, chunk-dir listing/GC, tmp rewrite dirs).
  *
  * All paths route through Hadoop's `FileSystem`/`FileContext`, so the index
  * layout works unchanged on HDFS/S3A/GCS where a 100-TB index actually
  * lives — `java.io.File` would silently confine mutations (delete-by-query,
  * reindex, GC) to local disk. Small control files are written
  * via tmp + atomic rename (HDFS/local rename is atomic; object stores make
  * it copy+delete, still safe for the single-writer manifest documented in
  * [[Manifest]] — multi-writer deployments would swap this object for an
  * Iceberg-style conditional commit, which is exactly why it is one object).
  */
object TableIO {

  // getActiveSession is thread-local: a writer-pool thread (the blessed
  // multi-writer path) sees None there, so fall through to the process-wide
  // default session before giving up — otherwise commits on such threads
  // would lose every spark.hadoop.* setting (S3 credentials, defaultFS)
  private[index] def conf(): Configuration =
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  private def fsOf(p: Path): FileSystem = p.getFileSystem(conf())

  def exists(path: String): Boolean = {
    val p = new Path(path)
    fsOf(p).exists(p)
  }

  def mkdirs(path: String): Unit = {
    val p = new Path(path)
    fsOf(p).mkdirs(p)
  }

  /** Recursive delete; no-op when absent. */
  def deleteRecursive(path: String): Unit = {
    val p = new Path(path)
    val fs = fsOf(p)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Full content of a small control file, None when absent. */
  def readString(path: String): Option[String] = {
    val p = new Path(path)
    val fs = fsOf(p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        Some(new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8))
      } finally in.close()
    }
  }

  private def writeTmp(fs: FileSystem, p: Path, suffix: String,
      content: String): Path = {
    if (p.getParent != null) fs.mkdirs(p.getParent)
    val tmp = new Path(p.getParent, s".${p.getName}$suffix.tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    tmp
  }

  /** Write a small control file atomically (tmp + overwrite-rename). */
  def writeStringAtomic(path: String, content: String): Unit = {
    val p = new Path(path)
    val tmp = writeTmp(fsOf(p), p, "", content)
    val fc = FileContext.getFileContext(p.toUri, conf())
    fc.rename(tmp, p, Options.Rename.OVERWRITE)
  }

  // In-process serialization of conditional commits: POSIX local-FS rename
  // silently overwrites, so two racing threads could both "win" — the lock
  // closes that hole for the sandbox/test backend. HDFS/S3 deployments get
  // the real atomic no-overwrite rename / conditional put underneath.
  private val commitLock = new Object

  /** Conditional create — the Iceberg-style commit primitive: write `content`
    * to `path` only when nothing is there yet; returns false when `path`
    * already exists (a concurrent commit won and the caller must rebase).
    * tmp file + no-overwrite rename, atomic on HDFS; cross-process local-FS
    * races are out of scope (documented above).
    */
  def writeStringIfAbsent(path: String, content: String): Boolean = commitLock.synchronized {
    val p = new Path(path)
    val fs = fsOf(p)
    if (fs.exists(p)) false
    else {
      val tmp = writeTmp(fs, p,
        s".${java.lang.Long.toHexString(System.nanoTime())}", content)
      val fc = FileContext.getFileContext(p.toUri, conf())
      try { fc.rename(tmp, p); true }
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          fs.delete(tmp, false); false
      }
    }
  }

  /** Subdirectory names under `dir` (non-recursive); empty when absent. */
  def listDirs(dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = fsOf(p)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
  }

  /** Modification time of a path, None when absent. */
  def modificationTime(path: String): Option[Long] = {
    val p = new Path(path)
    val fs = fsOf(p)
    if (!fs.exists(p)) None else Some(fs.getFileStatus(p).getModificationTime)
  }

  /** Names of plain files under `dir` starting with `prefix` (non-recursive);
    * empty when the dir is absent. Backs the manifest's commit-file listing.
    */
  def listFiles(dir: String, prefix: String): Seq[String] = {
    val p = new Path(dir)
    val fs = fsOf(p)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith(prefix))
      .map(_.getPath.getName)
  }

  /** Chunk ids present as `chunk=K` partition dirs under `dir`. */
  def listChunkIds(dir: String): Seq[Int] = {
    val p = new Path(dir)
    val fs = fsOf(p)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("chunk="))
      .map(_.getPath.getName.stripPrefix("chunk=").toInt)
  }
}
