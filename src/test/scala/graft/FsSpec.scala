package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.util.Fs

/** The listing contract of [[graft.util.Fs]]: the same files as Hadoop's
  * recursive `listFiles`, reached without ever asking a status for its
  * permissions or owner.
  */
class FsSpec extends AnyFunSuite {
  import SparkTestBase._

  private val DataFiles = Set(
    "part-00000-a.snappy.parquet", "part-00001-b.snappy.parquet", "part-00002-d.snappy.parquet")

  private def touch(root: String, rel: String, bytes: Int): Unit = {
    val p = Paths.get(root, rel)
    Files.createDirectories(p.getParent)
    Files.write(p, new Array[Byte](bytes))
  }

  /** A committed partitioned write, plus what a live or crashed writer
    * leaves next to it: checksum sidecars, a hidden staged file and a
    * task-attempt subtree. Lengths differ so a length mix-up shows.
    */
  private def tree(): String = {
    val root = tmpDir("fs_spec_")
    touch(root, "export_date=2024-01-01/part-00000-a.snappy.parquet", 11)
    touch(root, "export_date=2024-01-01/.part-00000-a.snappy.parquet.crc", 3)
    touch(root, "export_date=2024-01-02/part-00001-b.snappy.parquet", 22)
    touch(root, "export_date=2024-01-02/.part-00001-b.snappy.parquet.crc", 3)
    touch(root, "_SUCCESS", 0)
    touch(root, "._SUCCESS.crc", 3)
    touch(root, ".part-c.parquet.tmp", 33)
    touch(root, "..part-c.parquet.tmp.crc", 3)
    touch(root, "_temporary/0/_temporary/attempt_0/export_date=2024-01-03/part-00002-d.snappy.parquet", 44)
    root
  }

  /** The reference: Hadoop's recursive `listFiles`, which throws on a
    * missing path.
    */
  private def viaListFiles(path: String): Set[(String, Long)] = {
    val p = new Path(path)
    val f = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!f.exists(p)) Set.empty
    else {
      val it = f.listFiles(p, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(st => (st.getPath.toString, st.getLen)).toSet
    }
  }

  test("the walk lists exactly what listFiles lists, with identical qualified paths") {
    val root = tree()
    val empty = tmpDir("fs_spec_empty_")
    touch(empty, "_SUCCESS", 0)
    val cases = Seq(
      root,
      s"file://$root",
      s"$root/export_date=2024-01-02",
      s"$root/export_date=2024-01-02/part-00001-b.snappy.parquet",
      s"$root/_SUCCESS",
      s"$root/missing",
      empty)
    cases.foreach { path =>
      val listed = Fs.listParquetFiles(spark, path)
      val expected = viaListFiles(path)
      assert(listed.toSet == expected, path)
      assert(listed.size == expected.size, s"$path: no file listed twice")
      assert(Fs.hasParquetFiles(spark, path) == expected.nonEmpty, path)
    }
    val all = Fs.listParquetFiles(spark, root)
    assert(all.map(f => new Path(f._1).getName).toSet == DataFiles)
    assert(all.forall(_._1.startsWith("file:/")), "paths come back qualified")
    assert(all.map(_._2).toSet == Set(11L, 22L, 44L))
  }

  test("listing never asks a status for its permissions or owner") {
    val root = tree()
    val uri = s"noperm://$root"
    spark.conf.set("fs.noperm.impl", classOf[NoPermissionFileSystem].getName)
    try {
      // the fake does refuse: Hadoop's LocatedFileStatus listing fails on it
      val fsys = new Path(uri).getFileSystem(spark.sessionState.newHadoopConf())
      val refused = intercept[UnsupportedOperationException](fsys.listFiles(new Path(uri), true).hasNext)
      assert(refused.getMessage.startsWith("permissions of"))

      val listed = Fs.listParquetFiles(spark, uri)
      assert(listed.map(f => new Path(f._1).getName).toSet == DataFiles)
      assert(listed.forall(_._1.startsWith("noperm:/")))
      assert(Fs.hasParquetFiles(spark, uri))
      assert(!Fs.hasParquetFiles(spark, s"$uri/_SUCCESS"))
      assert(Fs.listParquetFiles(spark, s"$uri/missing").isEmpty)
    } finally spark.conf.unset("fs.noperm.impl")
  }

  test("a control file is read by opening it, with no existence probe first") {
    val root = tmpDir("fs_spec_vanish_")
    touch(root, "b1.manifest", 5)
    spark.conf.set("fs.vanishing.impl", classOf[VanishingFileSystem].getName)
    try {
      // a probe-then-open reader would lose the file between the two calls
      // and throw; the open alone reads it, and a missing file is None
      assert(Fs.readSmallText(spark, s"vanishing://$root/b1.manifest").map(_.length).contains(5))
      assert(Files.exists(Paths.get(root, "b1.manifest")), "no probe may have run")
      assert(Fs.readSmallText(spark, s"vanishing://$root/missing").isEmpty)
    } finally spark.conf.unset("fs.vanishing.impl")
  }
}

/** The local filesystem under the `noperm:` scheme, whose statuses refuse
  * permission, owner and group queries — a store that cannot answer them
  * cheaply.
  */
final class NoPermissionFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("noperm:///")
  override def getScheme: String = "noperm"

  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map { st =>
      new FileStatus(st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
        st.getModificationTime, st.getPath) {
        private def refuse() = throw new UnsupportedOperationException(s"permissions of $getPath")
        override def getPermission: FsPermission = refuse()
        override def getOwner: String = refuse()
        override def getGroup: String = refuse()
      }
    }
}

/** The local filesystem under the `vanishing:` scheme, whose `exists`
  * deletes the file it is asked about and then answers true: a file that
  * another writer deletes right after the probe.
  */
final class VanishingFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("vanishing:///")
  override def getScheme: String = "vanishing"

  override def exists(f: Path): Boolean = {
    delete(f, false)
    true
  }
}
