package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{Destination, EtlJob, IncrementalExtract, MetaStore}
import graft.model.{ClientBillingConfig, EngineError, EtlJobMessage, EtlStatus}

/** End-to-end semantics of the incremental ETL job (SURVEY §2.9 W1–W7 and
  * the N1 boundary-duplicate parity trap).
  */
class EtlJobSpec extends AnyFunSuite {
  import SparkTestBase._

  private implicit lazy val s: org.apache.spark.sql.SparkSession = spark

  private def freshMeta(orgs: Int*): (MetaStore, String) = {
    val root = tmpDir("etl_spec_")
    val meta = MetaStore(s"$root/meta")
    meta.putConfigs(orgs.map(o => ClientBillingConfig(o, s"proj_$o", "ds", "t", None, None, None)))
    (meta, root)
  }

  private def events: DataFrame = Tables.load(spark, Sf0001, "events")

  test("missing config surfaces the MissingConfig error channel") {
    val (meta, root) = freshMeta(7)
    val res = EtlJob.run(spark, meta, events, "ts", s"$root/dest",
      EtlJobMessage(424242), utcTs("2024-01-15 00:00:00"), sleeper = _ => ())
    assert(res == Left(EngineError.MissingConfig(424242)))
    assert(meta.statusLog.count() == 0, "no status rows for an unconfigured org")
  }

  test("first run resumes from epoch and loads the full window") {
    val (meta, root) = freshMeta(7)
    val mid = utcTs("2024-01-15 00:00:00")
    val res = EtlJob.run(spark, meta, events, "ts", s"$root/dest",
      EtlJobMessage(7), mid, sleeper = _ => ())
    val expected = events.where(col("ts") < lit(mid)).count()
    assert(res.toOption.get.rowsExtracted == expected)
    assert(Destination.read(spark, s"$root/dest").count() == expected)
    // W2: persisted watermark is max(ts) of the batch, not the window end
    val wm = meta.lastSuccessWatermark(7, "proj_7").get
    val maxTs = events.where(col("ts") < lit(mid)).agg(max("ts")).head().getTimestamp(0)
    assert(wm == maxTs)
  }

  test("second run re-reads the boundary row (N1 at-least-once parity)") {
    val (meta, root) = freshMeta(7)
    val mid = utcTs("2024-01-15 00:00:00")
    val end = utcTs("2024-01-20 00:00:00")
    EtlJob.run(spark, meta, events, "ts", s"$root/dest", EtlJobMessage(7), mid, sleeper = _ => ())
    val wm1 = meta.lastSuccessWatermark(7, "proj_7").get
    EtlJob.run(spark, meta, events, "ts", s"$root/dest", EtlJobMessage(7), end, sleeper = _ => ())
    val dest = Destination.read(spark, s"$root/dest")
    val boundaryCopies = dest.where(col("ts") === lit(wm1)).count()
    assert(boundaryCopies == 2, "the `>=` predicate must replay the watermark row")
    val expected = events.where(col("ts") < lit(end)).count() + 1 // + the duplicate
    assert(dest.count() == expected)
  }

  test("W7: empty window jumps the watermark to job time, writes nothing") {
    val (meta, root) = freshMeta(7)
    val future = utcTs("2090-01-01 00:00:00")
    val emptySource = events.where(col("user_id") === -1) // no such rows
    val r = EtlJob.run(spark, meta, emptySource, "ts", s"$root/dest", EtlJobMessage(7),
      future, sleeper = _ => ())
    assert(r.toOption.get.rowsExtracted == 0)
    assert(meta.lastSuccessWatermark(7, "proj_7").get == future,
      "zero-row window must jump the watermark to job time (billing_etl.py:160-164)")
    assert(!new java.io.File(s"$root/dest").exists(), "nothing may be written")
  }

  test("exact mode: mid-partition run boundary preserves earlier same-day rows") {
    val (meta, root) = freshMeta(7)
    val noon = utcTs("2024-01-15 12:00:00")
    val nextDay = utcTs("2024-01-16 00:00:00")
    EtlJob.run(spark, meta, events, "ts", s"$root/dest", EtlJobMessage(7), noon,
      sleeper = _ => (), mode = EtlJob.Exact)
    val morning = events
      .where(col("ts") >= lit(utcTs("2024-01-15 00:00:00")) && col("ts") < lit(noon)).count()
    assert(morning > 0, "sanity: the boundary partition must have pre-noon rows")
    EtlJob.run(spark, meta, events, "ts", s"$root/dest", EtlJobMessage(7), nextDay,
      sleeper = _ => (), mode = EtlJob.Exact)
    val dest = Destination.read(spark, s"$root/dest")
    assert(dest.count() == events.where(col("ts") < lit(nextDay)).count(),
      "the second run must append beside the boundary partition's " +
        "earlier rows, not drop them")
    assert(dest.where(col("ts") < lit(noon) &&
      col("ts") >= lit(utcTs("2024-01-15 00:00:00"))).count() == morning)
  }

  test("N1 is inherent: a run after catch-up still re-reads the boundary row") {
    val (meta, root) = freshMeta(7)
    EtlJob.run(spark, meta, events, "ts", s"$root/dest", EtlJobMessage(7),
      utcTs("2024-06-01 00:00:00"), sleeper = _ => ())
    val r2 = EtlJob.run(spark, meta, events, "ts", s"$root/dest", EtlJobMessage(7),
      utcTs("2090-01-01 00:00:00"), sleeper = _ => ())
    assert(r2.toOption.get.rowsExtracted == 1,
      "the `>=` resume predicate re-admits exactly the watermark row")
  }

  test("watermark never regresses across runs (monotonicity)") {
    val (meta, root) = freshMeta(7)
    val times = Seq("2024-01-08 00:00:00", "2024-01-16 00:00:00", "2024-01-16 00:00:00",
      "2024-02-01 00:00:00").map(utcTs)
    var prev = IncrementalExtract.Epoch
    times.foreach { t =>
      EtlJob.run(spark, meta, events, "ts", s"$root/dest", EtlJobMessage(7), t, sleeper = _ => ())
      val wm = meta.lastSuccessWatermark(7, "proj_7").get
      assert(!wm.before(prev), s"watermark went backwards: $prev -> $wm")
      prev = wm
    }
  }

  test("exact mode: no boundary duplicate, and re-running a window is idempotent") {
    val (meta, root) = freshMeta(7)
    val mid = utcTs("2024-01-15 00:00:00")
    val end = utcTs("2024-01-20 00:00:00")
    EtlJob.run(spark, meta, events, "ts", s"$root/dest", EtlJobMessage(7), mid,
      sleeper = _ => (), mode = EtlJob.Exact)
    EtlJob.run(spark, meta, events, "ts", s"$root/dest", EtlJobMessage(7), end,
      sleeper = _ => (), mode = EtlJob.Exact)
    val expected = events.where(col("ts") < lit(end)).count()
    assert(Destination.read(spark, s"$root/dest").count() == expected,
      "strict-> resume must not replay the watermark row")
    // re-running the committed second window verbatim resumes past it
    // and must load nothing again
    EtlJob.run(spark, meta, events, "ts", s"$root/dest", EtlJobMessage(7), end,
      sleeper = _ => (), mode = EtlJob.Exact)
    assert(Destination.read(spark, s"$root/dest").count() == expected,
      "a re-run of a committed window is idempotent")
  }

  test("exact mode: a write that fails in a task once does not wedge the tenant") {
    // A write job that fails after it was set up leaves a partial stage
    // behind; the retry must roll it back, not fail on it or publish it.
    // With AQE the failing filter would run while the
    // rebalance stage is materialized, before the write job is set up, so
    // this session runs without it: the failure then lands where a failed
    // write-stage task (a lost executor, a full disk) lands.
    val noAqe = spark.newSession()
    noAqe.conf.set("spark.sql.adaptive.enabled", "false")
    val (meta, root) = freshMeta(7)
    val mid = utcTs("2024-01-15 00:00:00")
    val failOnce = udf { (_: java.sql.Timestamp) =>
      if (EtlJobSpec.armed.getAndSet(false)) throw new RuntimeException("task failure")
      true
    }
    EtlJobSpec.armed.set(true)
    val res = EtlJob.run(noAqe, meta, Tables.load(noAqe, Sf0001, "events"), "ts",
      s"$root/dest", EtlJobMessage(7), mid, transform = _.where(failOnce(col("ts"))),
      sleeper = _ => (), mode = EtlJob.Exact)
    assert(!EtlJobSpec.armed.get(), "the first write must have failed in a task")
    assert(res.map(_.attempts) == Right(2), s"$res")
    assert(Destination.read(spark, s"$root/dest").count() ==
      events.where(col("ts") < lit(mid)).count())
  }

  test("exact mode: compaction between committed runs leaves a later crash replayable") {
    // the order maintenance may run in: after every run committed. The
    // crashed fourth run's files keep their window's name, so its replay
    // rolls them back beside the compacted, untagged files.
    val (meta, root) = freshMeta(7)
    val dest = s"$root/dest"
    def run(jobTime: String, onBeforeCommit: () => Unit = () => ()) =
      EtlJob.run(spark, meta, events, "ts", dest, EtlJobMessage(7), utcTs(jobTime),
        sleeper = _ => (), maxRetries = 1, mode = EtlJob.Exact, onBeforeCommit = onBeforeCommit)
    Seq("2024-01-05 12:00:00", "2024-01-10 12:00:00", "2024-01-15 12:00:00")
      .foreach(t => assert(run(t).isRight, t))
    Destination.compactDatePartitions(spark, dest)
    val end = "2024-01-20 12:00:00"
    assert(run(end, () => throw new RuntimeException("simulated crash before commit")).isLeft)
    assert(run(end).isRight)
    val loaded = Destination.read(spark, dest)
    val window = events.where(col("ts") < lit(utcTs(end)))
    assert(loaded.count() == window.count())
    assert(loaded.exceptAll(window).isEmpty && window.exceptAll(loaded).isEmpty)
  }

  test("partitioned write coalesces each date to O(1) files (rebalance)") {
    // without the pre-write REBALANCE(export_date), every task writes a
    // sliver of every date it saw — tasks × dates small files per run;
    // BOTH duplicate-handling modes must keep the compact shape
    Seq(EtlJob.Parity -> "parity", EtlJob.Exact -> "exact").foreach { case (mode, name) =>
      val (meta, root) = freshMeta(7)
      val res = EtlJob.run(spark, meta, events, "ts", s"$root/dest",
        EtlJobMessage(7), utcTs("2024-01-15 00:00:00"), sleeper = _ => (), mode = mode)
      assert(res.isRight, s"$name: $res")
      val perDate = graft.util.Fs.listParquetFiles(spark, s"$root/dest")
        .map(_._1)
        .groupBy(p => p.split('/').takeWhile(!_.endsWith(".parquet")).last)
      assert(perDate.nonEmpty, name)
      perDate.foreach { case (date, files) =>
        assert(files.size <= 2,
          s"$name/$date has ${files.size} files — the rebalance-before-write is gone")
      }
    }
  }

  test("all attempts failing writes FAILED and returns the error channel") {
    val (meta, root) = freshMeta(7)
    var calls = 0
    val boom: DataFrame => DataFrame = { _ => calls += 1; throw new RuntimeException("load blew up") }
    val res = EtlJob.run(spark, meta, events, "ts", s"$root/dest", EtlJobMessage(7),
      utcTs("2024-01-15 00:00:00"), transform = boom, maxRetries = 3, sleeper = _ => ())
    assert(res.isLeft)
    assert(calls == 3, "job-level retry must attempt exactly maxRetries times")
    val statuses = meta.statusLog.orderBy("seq").select("status")
      .collect().map(_.getString(0)).toSeq
    assert(statuses.count(_ == EtlStatus.InProgress) == 3)
    assert(statuses.last == EtlStatus.Failed)
    // N4 fix: FAILED carries the last computed watermark, never crashes
    assert(meta.statusLog.where(col("status") === EtlStatus.Failed).count() == 1)
  }

  test("N3: a partially-failed fan-out surfaces the reference's 206 PARTIAL_SUCCESS") {
    // the reference returns 206 when some upload batches load and some
    // exhaust retries (billing_etl.py:329-334). Spark writes are
    // all-or-nothing per job, so the grain that CAN go partial is the
    // fan-out above the run: one message → independent sub-runs. Org 8
    // loads; org 9's transform fails every attempt.
    val (meta, root) = freshMeta(8, 9)
    val boom: DataFrame => DataFrame = _ => throw new RuntimeException("load blew up")
    val jobTime = utcTs("2024-01-15 00:00:00")
    val outcomes = Seq(
      EtlJob.run(spark, meta, events, "ts", s"$root/dest8", EtlJobMessage(8),
        jobTime, sleeper = _ => ()),
      EtlJob.run(spark, meta, events, "ts", s"$root/dest9", EtlJobMessage(9),
        jobTime, transform = boom, maxRetries = 3, sleeper = _ => ()))
    assert(EtlJob.partialOutcome(outcomes) == (206, EtlJob.PartialSuccess))
    // the status TABLE stays within the reference's exact enum (N7): the
    // loaded sub-run committed SUCCESS, the failed one FAILED — the 206
    // exists only on the wire
    val byOrg = meta.statusLog.orderBy("seq").select("org_id", "status")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(byOrg.filter(_._1 == 8).map(_._2) ==
      Seq(EtlStatus.InProgress, EtlStatus.Success))
    assert(byOrg.filter(_._1 == 9).map(_._2) ==
      Seq(EtlStatus.InProgress, EtlStatus.InProgress, EtlStatus.InProgress,
        EtlStatus.Failed))
    assert(byOrg.forall(s => EtlStatus.values.contains(s._2)))
    // the loaded side's data IS there (partial means partial, not rollback)
    assert(Destination.read(spark, s"$root/dest8").count() > 0)
    assert(!graft.util.Fs.exists(spark, s"$root/dest9"))
    // taxonomy endpoints: all-success → 200, all-failed → 500
    assert(EtlJob.partialOutcome(Seq(outcomes.head)) == (200, EtlStatus.Success))
    assert(EtlJob.partialOutcome(Seq(outcomes.last)) == (500, EtlStatus.Failed))
    // empty fan-out → SUCCESS (reference's failed_batches == 0 branch,
    // billing_etl.py:326-328): zero sub-runs has nothing failed; a 500
    // here would re-queue the message forever
    assert(EtlJob.partialOutcome(Seq.empty) == (200, EtlStatus.Success))
  }

  test("transient failure recovers on retry (attempts counted)") {
    val (meta, root) = freshMeta(7)
    var calls = 0
    val flaky: DataFrame => DataFrame = { df =>
      calls += 1
      if (calls == 1) throw new RuntimeException("transient")
      df
    }
    val res = EtlJob.run(spark, meta, events, "ts", s"$root/dest", EtlJobMessage(7),
      utcTs("2024-01-15 00:00:00"), transform = flaky, sleeper = _ => ())
    assert(res.toOption.get.attempts == 2)
    assert(meta.lastSuccessWatermark(7, "proj_7").isDefined)
  }
}

object EtlJobSpec {
  /** Set by a test, cleared by the first task that reads it. */
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}
