package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Destination
import graft.plans.GraftHistoryCommand

/** The manifest ledger's readers under a racing manifest compaction:
  * compaction commits its consolidated manifest and then deletes the
  * originals, so a reader that listed the originals must still return
  * every published row, once.
  */
class DestinationSpec extends AnyFunSuite {
  import SparkTestBase._

  private lazy val slices = Tables.load(spark, Sf0001, "events").select(
    col("event_id"), round(col("value") * 100).cast("long").as("cents"))

  /** A fresh ledger of three published slices on the `compactlist:` scheme. */
  private def threeSliceLedger(root: String): String = {
    val dest = s"compactlist://$root/dest"
    Seq(0L, 1L, 2L).foreach { i =>
      val b = slices.where(col("event_id") % 3 === i)
      val r = Destination.writeAuditPublish(spark, dest, s"compactlist://$root/staging",
        s"slice_$i", b, b.count())
      assert(r.isRight, s"publish $i: $r")
    }
    dest
  }

  /** Run `body` with a compaction of `dest` armed to run right after the
    * next `_manifests` listing has been served.
    */
  private def racingCompaction[T](dest: String)(body: => T): T = {
    CompactingListFileSystem.afterManifestListing
      .set(() => Destination.compactManifests(spark, dest))
    try {
      val out = body
      assert(CompactingListFileSystem.afterManifestListing.get == null,
        "the compaction must have run")
      assert(Destination.history(spark, dest).size == 1, "the ledger must be compacted")
      out
    } finally CompactingListFileSystem.afterManifestListing.set(null)
  }

  test("ledger readers racing manifest compaction return the full ledger, each row once") {
    spark.conf.set("fs.compactlist.impl", classOf[CompactingListFileSystem].getName)
    try {
      val expected = slices.agg(count(lit(1)), sum(col("cents"))).head()

      val dest = threeSliceLedger(tmpDir("dest_race_branch_"))
      val main = racingCompaction(dest) {
        Destination.readBranch(spark, dest, None)
      }
      assert(main.agg(count(lit(1)), sum(col("cents"))).head() == expected)

      val dest2 = threeSliceLedger(tmpDir("dest_race_history_"))
      val before = Destination.history(spark, dest2)
      val slice0 = s"$dest2/_manifests/slice_0.manifest"
      val slice0Files = graft.util.Fs.readSmallText(spark, slice0).get
      val history = racingCompaction(dest2) {
        GraftHistoryCommand(dest2).run(spark)
      }
      assert(history.forall(_.getInt(1) > 0), s"no batch may read as empty: $history")
      assert(history.map(_.getInt(1)).sum == before.map(_._2).sum, history)
      assert(history.map(_.getLong(2)).sum == expected.getLong(0), history)

      // the consolidated manifest beside one of its originals: each file once
      graft.util.Fs.writeSmallTextAtomic(spark, new Path(slice0).toUri.getPath, slice0Files)
      val compacted = history.map(_.getString(0))
      assert(Destination.readAsOf(spark, dest2, compacted :+ "slice_0").count() ==
        expected.getLong(0))
    } finally spark.conf.unset("fs.compactlist.impl")
  }
}

/** The local filesystem under the `compactlist:` scheme. When armed, it
  * serves the next listing of a `_manifests` directory and then runs the
  * armed action (a manifest compaction) before it returns the listing.
  */
final class CompactingListFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("compactlist:///")
  override def getScheme: String = "compactlist"

  override def listStatus(f: Path): Array[FileStatus] = {
    val listing = super.listStatus(f)
    if (f.getName == "_manifests")
      Option(CompactingListFileSystem.afterManifestListing.getAndSet(null)).foreach(_.apply())
    listing
  }
}

object CompactingListFileSystem {
  /** Runs once, after the next `_manifests` listing; null is disarmed. */
  val afterManifestListing = new AtomicReference[() => Any](null)
}
