package graft

import java.io.IOException
import java.net.URI
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{Destination, EtlJob, MetaStore}
import graft.model.{ClientBillingConfig, EtlJobMessage}
import graft.util.Fs

/** W5 — delivery semantics across a crash in the load-then-commit gap
  * (reference: billing_etl.py:187-198 loads BEFORE writing SUCCESS, so a
  * crash between the two replays the whole window into an append-only
  * sink). Parity mode reproduces the duplicate. Exact mode names a run's
  * files after its window, and every attempt first deletes the files an
  * unfinished attempt at that window left, so the replay is invisible.
  * Its crashes are injected at each step of the load: after the stage
  * write, in the middle of the per-file publish (through a filesystem that
  * fails the k-th rename), and after the publish, before SUCCESS.
  */
class CrashReplaySpec extends AnyFunSuite {
  import SparkTestBase._

  private implicit lazy val s: org.apache.spark.sql.SparkSession = spark

  private def crashThenRecover(mode: EtlJob.Mode): (Long, Long) = {
    val root = tmpDir("crash_")
    val meta = MetaStore(s"$root/meta")
    meta.putConfigs(Seq(ClientBillingConfig(7, "proj_7", "ds", "t", None, None, None)))
    val events = Tables.load(spark, Sf0001, "events")
    val mid = utcTs("2024-01-15 00:00:00")
    val windowRows = events.where(col("ts") < lit(mid)).count()

    // run 1 "crashes" after the load, before the SUCCESS commit
    val crashed = EtlJob.run(spark, meta, events, "ts", s"$root/dest", EtlJobMessage(7),
      mid, sleeper = _ => (), maxRetries = 1, mode = mode,
      onBeforeCommit = () => throw new RuntimeException("simulated crash before commit"))
    assert(crashed.isLeft)
    assert(meta.lastSuccessWatermark(7, "proj_7").isEmpty,
      "no SUCCESS watermark may exist after the crash")
    assert(Destination.read(spark, s"$root/dest").count() == windowRows,
      "the load itself completed before the crash")

    // run 2 recovers: resumes from epoch (no SUCCESS row) and replays the window
    val recovered = EtlJob.run(spark, meta, events, "ts", s"$root/dest", EtlJobMessage(7),
      mid, sleeper = _ => (), mode = mode)
    assert(recovered.isRight)
    (Destination.read(spark, s"$root/dest").count(), windowRows)
  }

  test("parity mode replays the crashed window as duplicates (at-least-once)") {
    val (destRows, windowRows) = crashThenRecover(EtlJob.Parity)
    assert(destRows == 2 * windowRows,
      "append-only sink + full replay = every window row twice")
  }

  test("exact mode absorbs the replay via partition overwrite (idempotent)") {
    val (destRows, windowRows) = crashThenRecover(EtlJob.Exact)
    assert(destRows == windowRows, "the replayed window must not duplicate")
  }

  private val committedEnd = utcTs("2024-01-10 12:00:00")
  private val crashEnd = utcTs("2024-01-15 12:00:00")

  /** One committed Exact run, then a crashed one (`renamesBeforeFault`
    * publish renames succeed and the next fails; None crashes in
    * `onBeforeCommit` instead), then its replay at `replayEnd`.
    */
  private def exactCrashThenReplay(renamesBeforeFault: Option[Int],
                                   replayEnd: Timestamp): Unit = {
    spark.conf.set("fs.failrename.impl", classOf[FailingRenameFileSystem].getName)
    try {
      val root = tmpDir("crash_exact_")
      val dest = s"failrename://$root/dest"
      val meta = MetaStore(s"$root/meta")
      meta.putConfigs(Seq(ClientBillingConfig(7, "proj_7", "ds", "t", None, None, None)))
      val events = Tables.load(spark, Sf0001, "events")
      def run(jobTime: Timestamp, onBeforeCommit: () => Unit = () => ()) =
        EtlJob.run(spark, meta, events, "ts", dest, EtlJobMessage(7), jobTime,
          sleeper = _ => (), maxRetries = 1, mode = EtlJob.Exact, onBeforeCommit = onBeforeCommit)
      val fs = new Path(dest).getFileSystem(spark.sessionState.newHadoopConf())
      def stages() = fs.listStatus(new Path(dest)).map(_.getPath.getName)
        .filter(_.startsWith("_staging_")).toSeq
      def published() = Fs.listParquetFiles(spark, dest).filterNot(_._1.contains("/_staging_")).toSet

      assert(run(committedEnd).isRight)
      val committed = published()

      renamesBeforeFault.foreach(FailingRenameFileSystem.renamesBeforeFault.set)
      val crashed = run(crashEnd, () =>
        if (renamesBeforeFault.isEmpty) throw new RuntimeException("simulated crash before commit"))
      assert(crashed.isLeft)
      assert(FailingRenameFileSystem.renamesBeforeFault.get == -1, "the fault must have fired")
      val leftover = published() -- committed
      renamesBeforeFault match {
        case Some(k) =>
          assert(leftover.size == k, "the crash leaves the files it published")
          assert(stages().size == 1, "the crash leaves its stage")
        case None =>
          assert(leftover.size > 3, "the crash leaves a whole published run")
      }

      assert(run(replayEnd).isRight)
      val loaded = Destination.read(spark, dest)
      val window = events.where(col("ts") < lit(replayEnd))
      assert(loaded.count() == window.count(), "no duplicates and no lost rows")
      assert(loaded.exceptAll(window).isEmpty && window.exceptAll(loaded).isEmpty)
      assert(committed.subsetOf(published()),
        "files of the committed run keep their names and lengths")
      assert(stages().isEmpty, "no stage is left")
    } finally {
      FailingRenameFileSystem.renamesBeforeFault.set(-1)
      spark.conf.unset("fs.failrename.impl")
    }
  }

  for {
    (crash, fault) <- Seq("after the stage write" -> Some(0),
      "in the middle of the publish" -> Some(3), "before SUCCESS" -> None)
    (replay, end) <- Seq("at the same jobTime" -> crashEnd,
      "at a later jobTime" -> utcTs("2024-01-18 06:00:00"))
  } test(s"exact mode: crash $crash, replay $replay: no duplicate, no lost row") {
    exactCrashThenReplay(fault, end)
  }
}

/** The local filesystem under the `failrename:` scheme. When armed with
  * k >= 0, it lets k renames onto a `run-` target (an Exact-mode publish)
  * succeed and fails the next one, then disarms.
  */
final class FailingRenameFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("failrename:///")
  override def getScheme: String = "failrename"

  override def rename(src: Path, dst: Path): Boolean = {
    if (dst.getName.startsWith("run-") &&
        FailingRenameFileSystem.renamesBeforeFault.getAndUpdate(k => if (k >= 0) k - 1 else k) == 0)
      throw new IOException(s"injected rename fault: $src -> $dst")
    super.rename(src, dst)
  }
}

object FailingRenameFileSystem {
  /** Renames onto a `run-` target still allowed before the fault; -1 is disarmed. */
  val renamesBeforeFault = new AtomicInteger(-1)
}
