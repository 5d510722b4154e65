package graft.util

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path, RemoteIterator}
import org.apache.spark.sql.SparkSession

/** Storage-agnostic filesystem probes via Hadoop's FileSystem API.
  *
  * The engine's destination paths are HDFS/S3/GCS at cluster scale; any
  * `java.nio.file` check silently returns false there (the path is not a
  * local file), which in Exact mode would drop the boundary-partition carry
  * rows on dynamic overwrite — data loss. Everything path-existence-shaped
  * must go through here.
  *
  * Listing contract: a listing reads only each entry's path, length and
  * `isDirectory`. It never builds a `LocatedFileStatus` (what
  * `FileSystem.listFiles` returns) and never asks for permissions, owner or
  * group. Without Hadoop's native library, the local filesystem answers each
  * of those by forking `ls -ld`, and the `LocatedFileStatus` constructor asks
  * for all three — one fork per listed file, which made listing the
  * control-plane status log the largest per-run cost of an ETL job. Spark's
  * own `HadoopFSUtils` avoids that constructor for the same reason. The walk
  * pays one LIST per directory instead of one flat recursive LIST on object
  * stores; the hot caller (the status log) lists a single flat directory, so
  * that costs it nothing.
  */
object Fs {

  private def fs(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val (f, p) = fs(spark, path)
    f.exists(p)
  }

  /** Recursive listing of data-file (path, length) pairs under `path`
    * (a directory or a single file); empty if the path does not exist.
    */
  def listParquetFiles(spark: SparkSession, path: String): Seq[(String, Long)] =
    parquetFiles(spark, path).map(st => (st.getPath.toString, st.getLen)).toSeq

  /** True if at least one parquet data file exists under `path` (a write of
    * an empty DataFrame leaves a _SUCCESS marker but no data files, and a
    * fileless directory fails schema inference on read-back). Stops at the
    * first one found.
    */
  def hasParquetFiles(spark: SparkSession, path: String): Boolean =
    parquetFiles(spark, path).hasNext

  /** Lazy depth-first walk over the `.parquet` files under `path`, in
    * `listFiles(path, true)` order (see the listing contract above). A
    * missing root is an empty listing.
    */
  private def parquetFiles(spark: SparkSession, path: String): Iterator[FileStatus] = {
    val (f, root) = fs(spark, path)
    def files(it: RemoteIterator[FileStatus]): Iterator[FileStatus] =
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).flatMap { st =>
        if (st.isDirectory) files(f.listStatusIterator(st.getPath)) else Iterator.single(st)
      }
    // some stores defer the not-found error to the first hasNext
    val top =
      try { val it = f.listStatusIterator(root); it.hasNext; it }
      catch { case _: FileNotFoundException => return Iterator.empty }
    files(top).filter(_.getPath.getName.endsWith(".parquet"))
  }

  /** Read a small control file (e.g. a version pointer) as UTF-8 text;
    * None when it does not exist. Control files are a few bytes — one
    * round-trip, no Spark job.
    */
  def readSmallText(spark: SparkSession, path: String): Option[String] = {
    val (f, p) = fs(spark, path)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](4096)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        Some(new String(out.toByteArray, StandardCharsets.UTF_8))
      } finally in.close()
    }
  }

  /** Atomically publish a small control file: write to a hidden sibling,
    * then rename over the target with OVERWRITE semantics. On HDFS,
    * FileContext.rename(OVERWRITE) is the atomic-replace primitive. On the
    * LOCAL filesystem Hadoop implements that overwrite as delete-then-
    * rename — a concurrent reader can probe in the gap and see NO pointer
    * at all (found by MetaStoreSpec's racing-saga test) — so local paths
    * go through POSIX `rename(2)` (java.nio ATOMIC_MOVE), which replaces
    * atomically. On S3A rename is copy+delete, so writers needing
    * cross-writer atomicity there should layer a conditional-put scheme —
    * readers still never see a torn file because the temp is written in
    * full first.
    */
  def writeSmallTextAtomic(spark: SparkSession, path: String, content: String): Unit = {
    val (f, p) = fs(spark, path)
    if (f.getScheme == "file") {
      val target = java.nio.file.Paths.get(p.toUri.getPath)
      java.nio.file.Files.createDirectories(target.getParent)
      val tmp = java.nio.file.Files.createTempFile(target.getParent, s".${p.getName}_", ".tmp")
      try {
        java.nio.file.Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
        java.nio.file.Files.move(tmp, target, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } catch {
        case e: Throwable =>
          // never leave an orphan temp next to the live pointer
          try java.nio.file.Files.deleteIfExists(tmp) catch { case _: Throwable => () }
          throw e
      }
    } else {
      val parent = p.getParent
      if (parent != null) f.mkdirs(parent)
      val tmp = new Path(parent, s".${p.getName}.tmp_${java.util.UUID.randomUUID().toString.take(8)}")
      val out = f.create(tmp, true)
      try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
      val fc = FileContext.getFileContext(p.toUri, spark.sessionState.newHadoopConf())
      fc.rename(tmp, p, Options.Rename.OVERWRITE)
    }
  }

  /** Create-if-absent publish of a small control file: returns true if this
    * caller created the file, false if it already existed (a racer won).
    * This is the commit primitive for ledgers where the FIRST writer of a
    * key must win and later writers ack idempotently (WAP manifests). On
    * the local filesystem the content is staged to a temp file and linked
    * into place with `link(2)` — atomic, fails EEXIST, and the target is
    * never visible partially written. Elsewhere it maps to
    * `FileSystem.create(overwrite = false)` (atomic create-exclusive on
    * HDFS; object stores need a conditional-put layer for hard atomicity,
    * same caveat as [[writeSmallTextAtomic]]).
    */
  def writeSmallTextIfAbsent(spark: SparkSession, path: String, content: String): Boolean = {
    val (f, p) = fs(spark, path)
    if (f.getScheme == "file") {
      val target = java.nio.file.Paths.get(p.toUri.getPath)
      java.nio.file.Files.createDirectories(target.getParent)
      val tmp = java.nio.file.Files.createTempFile(target.getParent, s".${p.getName}_", ".tmp")
      try {
        java.nio.file.Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
        try { java.nio.file.Files.createLink(target, tmp); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } finally {
        try java.nio.file.Files.deleteIfExists(tmp) catch { case _: Throwable => () }
      }
    } else {
      val parent = p.getParent
      if (parent != null) f.mkdirs(parent)
      try {
        val out = f.create(p, false)
        try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    }
  }

}
