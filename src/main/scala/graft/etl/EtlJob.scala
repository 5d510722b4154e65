package graft.etl

import java.sql.Timestamp
import java.time.{Instant, ZoneId}
import java.time.temporal.ChronoUnit

import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{EngineError, EtlJobMessage, EtlStatus}

/** The end-to-end incremental ETL job — the reference's primary entry point
  * re-expressed Spark-first (reference: core/services/billing_etl.py:43-218,
  * lifecycle mapped in SURVEY §3.1).
  *
  * One run: config lookup → watermark resume (last SUCCESS, epoch default) →
  * bounded scan `[watermark, jobTime)` → transform hook → partitioned parquet
  * append → status log IN_PROGRESS → SUCCESS/FAILED with the new watermark.
  * Job-level retry ×3 with jittered exponential backoff (W6); empty batches
  * jump the watermark to jobTime (W7). The at-least-once boundary-duplicate
  * semantics of the reference (N1: next run re-reads `== watermark` rows)
  * are reproduced exactly — this is parity mode, asserted by the oracle.
  *
  * Scale: the only driver-side values are the 1-row (count, max) reduce and
  * the tiny config/status rows. The data path is scan → filter → one
  * REBALANCE shuffle on `export_date` → write; the destination is
  * partitioned by `export_date` so a 100 TB history stays prunable. Both
  * modes only append: no run reads, rewrites or deletes a committed row,
  * so each run writes only its own rows.
  */
object EtlJob {

  /** Duplicate-handling mode (SURVEY N1):
    *  - Parity — the reference's exact behavior: resume predicate is
    *    `>= watermark` and the sink is append-only, so the boundary row
    *    duplicates on every consecutive run.
    *  - Exact — idempotent: strict `>` resume (boundary rows were already
    *    loaded — they ARE the watermark) plus an append whose files are
    *    named after the window ([[loadWindow]]). Every attempt first deletes
    *    the files an unfinished attempt at the same window left, so both
    *    the steady state and crash-replay produce no duplicates.
    *    Trade-offs: a reader can see a run's files before its SUCCESS row
    *    (as in Parity mode, and as with the reference's batched inserts),
    *    and a crashed attempt's files stay visible until it is replayed.
    */
  sealed trait Mode
  case object Parity extends Mode
  case object Exact extends Mode

  final case class RunReport(
      orgId: Int,
      projectId: String,
      rowsExtracted: Long,
      watermark: Timestamp,
      status: String,
      attempts: Int)

  /** N3 runner shim — the reference's PARTIAL_SUCCESS (HTTP 206) response
    * (`core/services/billing_etl.py:329-334`): some upload batches loaded,
    * some exhausted their retries. A Spark write job is all-or-nothing, so
    * partial loads cannot happen INSIDE one run (SURVEY §2.1/S7 scopes
    * that as a non-goal); the failure grain that CAN go partial is the
    * fan-out above the run — a message expanding to several independent
    * sub-runs (per org/tenant/source). This folds those outcomes to the
    * reference's response taxonomy. Like the reference (`:190-191`), a
    * non-200 response means the caller re-runs the whole message; Parity
    * mode then compounds the N1 boundary duplicates, Exact mode's
    * roll-back by name makes the replay idempotent.
    *
    * PARTIAL_SUCCESS is a RUNNER response code, deliberately NOT an
    * [[graft.model.EtlStatus]] enum value: the reference's status TABLE
    * only ever holds IN_PROGRESS/SUCCESS/FAILED rows (N7 exact strings) —
    * the 206 exists on the wire, and each failed sub-run has already
    * written its own FAILED row.
    */
  val PartialSuccess = "PARTIAL_SUCCESS"

  def partialOutcome(
      outcomes: Seq[Either[EngineError, RunReport]]): (Int, String) = {
    val ok = outcomes.count(_.isRight)
    // Empty fan-out is SUCCESS, matching the reference's `failed_batches == 0`
    // branch (billing_etl.py:326-328): a message that expands to zero
    // sub-runs has nothing failed, and reporting 500 would re-queue it
    // forever.
    if (ok == outcomes.size) (200, EtlStatus.Success)
    else if (ok > 0) (206, PartialSuccess)
    else (500, EtlStatus.Failed)
  }

  /** Run one incremental ETL job.
    *
    * @param source       the client's billing table (any DataFrame with `watermarkCol`)
    * @param watermarkCol event-time column driving incrementality (`export_time` in the reference)
    * @param destDir      destination parquet directory, appended to in both
    *                     modes (Exact names its files after the window)
    * @param jobTime      end of the extraction window — passed in (not now()) for determinism
    * @param transform    U1 hook (reference: billing_etl.py:301-303, identity by default)
    * @param maxRetries   W6 (reference: billing_etl.py:58)
    * @param sleeper      injectable so tests don't sleep
    * @param rng          jitter source (reference: billing_etl.py:205 `uniform(0, 2**attempt)`)
    */
  def run(
      spark: SparkSession,
      meta: MetaStore,
      source: DataFrame,
      watermarkCol: String,
      destDir: String,
      message: EtlJobMessage,
      jobTime: Timestamp,
      transform: DataFrame => DataFrame = identity,
      maxRetries: Int = 3,
      sleeper: Long => Unit = Thread.sleep,
      rng: Random = new Random(),
      mode: Mode = Parity,
      onAlert: String => Unit = _ => (),
      // test seam for W5: invoked after the load, before the SUCCESS commit —
      // throwing here simulates a crash in the load-then-commit gap
      onBeforeCommit: () => Unit = () => ()): Either[EngineError, RunReport] = {

    // J1 — config lookup; missing config is the error channel
    // (reference: billing_etl_db.py:82-84).
    val config = meta.configFor(message.org_id) match {
      case Some(c) => c
      case None => return Left(EngineError.MissingConfig(message.org_id))
    }
    val projectId = config.projectid

    // W1 — resume from the last SUCCESS watermark, epoch on first run
    // (reference: billing_etl.py:135-139).
    val start = meta.lastSuccessWatermark(message.org_id, projectId)
      .getOrElse(IncrementalExtract.Epoch)

    var lastError: Throwable = null
    var lastWatermark: Option[Timestamp] = None

    var attempt = 0
    while (attempt < maxRetries) {
      try {
        val extracted = mode match {
          case Parity => IncrementalExtract.extract(source, watermarkCol, start, jobTime)
          case Exact if start == IncrementalExtract.Epoch =>
            source.where(col(watermarkCol) < lit(jobTime))
          case Exact =>
            source.where(col(watermarkCol) > lit(start) && col(watermarkCol) < lit(jobTime))
        }
        val stats = IncrementalExtract.batchStats(extracted, watermarkCol)
        val endDateTime = IncrementalExtract.newWatermark(stats, jobTime)
        lastWatermark = Some(endDateTime)

        // Status ordering is load-then-commit (reference: billing_etl.py:173-198):
        // IN_PROGRESS carries the candidate watermark before the load starts.
        meta.appendStatus(meta.nextStatusSeq,
          EtlStatus(message.org_id, projectId, EtlStatus.InProgress, Some(endDateTime)))

        val transformed = transform(extracted)

        // S7 — write the destination, partitioned by event date so the
        // 100 TB layout prunes on time (SURVEY §4 physical-layout decision).
        // REBALANCE(export_date) before the partitioned write: without it
        // every task writes a sliver of every date it saw (tasks × dates
        // small files per run — a compaction debt the destination pays on
        // every read). The AQE rebalance coalesces each date to ~one
        // advisory-sized file on small runs AND splits a hot date across
        // tasks on huge ones — the shape a 100 TB daily increment needs.
        // Plain repartition(col) would pin one task per date (hot-date
        // bottleneck); no-AQE sessions degrade to the pre-rebalance plan.
        val out = transformed
          .withColumn(Destination.PartitionCol, to_date(col(watermarkCol)))
          .hint("rebalance", col(Destination.PartitionCol))
        mode match {
          case Parity =>
            if (stats.rows > 0) Destination.append(out, destDir)
          case Exact =>
            loadWindow(spark, if (stats.rows > 0) Some(out) else None, destDir,
              message.org_id, start)
        }

        onBeforeCommit()

        meta.appendStatus(meta.nextStatusSeq,
          EtlStatus(message.org_id, projectId, EtlStatus.Success, Some(endDateTime)))

        return Right(RunReport(message.org_id, projectId, stats.rows, endDateTime,
          EtlStatus.Success, attempt + 1))
      } catch {
        case NonFatal(e) =>
          lastError = e
          attempt += 1
          if (attempt < maxRetries) {
            // Jittered exponential backoff (reference: billing_etl.py:204-208).
            sleeper((rng.nextDouble() * math.pow(2, attempt - 1) * 1000).toLong)
          }
      }
    }

    // Final failure: FAILED status row. The reference would crash here if the
    // first attempt failed before computing end_date_time (semantics note N4);
    // we write a null watermark instead.
    meta.appendStatus(meta.nextStatusSeq,
      EtlStatus(message.org_id, projectId, EtlStatus.Failed, lastWatermark))
    // U3 — alert hook (documented but unimplemented in the reference,
    // README.md:296-306); fired on terminal failure.
    val detail = s"all $maxRetries attempts failed: " +
      Option(lastError).map(_.getMessage).getOrElse("?")
    onAlert(s"ETL FAILED org_id=${message.org_id} project=$projectId: $detail")
    Left(EngineError.ExtractionFailed(detail))
  }

  /** Exact mode's load under the window's tag `run-o<org>-w<start µs>`
    * ([[Destination.appendRun]]).
    *
    * Every attempt at a window that never reached SUCCESS resumes from the
    * same `start` (the max SUCCESS watermark), while a committed non-empty
    * run moves that watermark past its own start, so no committed file
    * carries the tag being loaded (a committed empty run writes no files).
    * An attempt writes no row before its window, so the roll-back searches
    * the partitions dated on or after `start`.
    */
  private def loadWindow(spark: SparkSession, out: Option[DataFrame], destDir: String,
                        orgId: Int, start: Timestamp): Unit = {
    val tag = s"run-o$orgId-w${ChronoUnit.MICROS.between(Instant.EPOCH, start.toInstant)}"
    // to_date(start) in the session time zone, spelled as the partition
    // directories spell it; the first window has no lower bound
    val fromDate = if (start == IncrementalExtract.Epoch) "" else start.toInstant
      .atZone(ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)).toLocalDate.toString
    Destination.appendRun(spark, out, destDir, tag, fromDate)
  }
}
