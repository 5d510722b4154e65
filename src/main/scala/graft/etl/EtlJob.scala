package graft.etl

import java.sql.Timestamp

import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
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
  * the tiny config/status rows. The data path is scan → filter → write with
  * no shuffle at all; the destination is partitioned by `export_date` so a
  * 100 TB history stays prunable and an "exact" (idempotent) mode could
  * overwrite just the affected date partitions.
  */
object EtlJob {

  /** Duplicate-handling mode (SURVEY N1):
    *  - Parity — the reference's exact behavior: resume predicate is
    *    `>= watermark` and the sink is append-only, so the boundary row
    *    duplicates on every consecutive run.
    *  - Exact — idempotent: strict `>` resume (boundary rows were already
    *    loaded — they ARE the watermark) plus dynamic partition overwrite,
    *    so both the steady state and crash-replay produce no duplicates.
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
    * partition overwrite makes the replay idempotent.
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
    * @param destDir      destination parquet directory (append-only)
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
        // Exact mode overwrites only the touched date partitions, making
        // crash-replay idempotent.
        if (stats.rows > 0) {
          // REBALANCE(export_date) before the partitioned write: without it
          // every task writes a sliver of every date it saw (tasks × dates
          // small files per run — a compaction debt the destination pays on
          // every read). The AQE rebalance coalesces each date to ~one
          // advisory-sized file on small runs AND splits a hot date across
          // tasks on huge ones — the shape a 100 TB daily increment needs.
          // Plain repartition(col) would pin one task per date (hot-date
          // bottleneck); no-AQE sessions degrade to the pre-rebalance plan.
          val out = transformed.withColumn("export_date", to_date(col(watermarkCol)))
            .hint("rebalance", col("export_date"))
          mode match {
            case Parity =>
              out.write.mode(SaveMode.Append).partitionBy("export_date").parquet(destDir)
            case Exact =>
              // The window may start mid-partition (a run boundary is rarely
              // date-aligned), and dynamic overwrite replaces WHOLE
              // partitions — so rows of the boundary partition loaded by
              // earlier runs (ts <= start) must be carried into the rewrite
              // or they would be lost. The carry must not lazily read the
              // path the overwrite rewrites, so its lineage is truncated by
              // an EAGER localCheckpoint (block storage, MEMORY_AND_DISK)
              // instead of the previous temp-parquet stage write +
              // read-back — the same isolation minus one full disk round
              // trip of the boundary partition (guide §5; round 18,
              // TailAB). The carry is bounded by ONE date partition's
              // earlier-run rows; blocks spill to executor disk if that
              // outgrows memory, the same local-disk footing the temp
              // stage used. Existence checks go through Hadoop FileSystem
              // so HDFS/S3 destinations behave identically to local paths
              // (java.nio would answer false and silently drop the carry
              // rows). Measurement seam (TailAB):
              // -Dgraft.exactCarryStage=parquet rebuilds the pre-r18 temp
              // stage so the A/B can compare both shapes in one JVM.
              val carried =
                if (!graft.util.Fs.exists(spark, destDir)) None
                else if (sys.props.get("graft.exactCarryStage").contains("parquet")) {
                  val stage = graft.util.TempDirs.create("graft_exact_boundary_")
                  spark.read.parquet(destDir)
                    .where(col("export_date") >= to_date(lit(start)) &&
                      col(watermarkCol) <= lit(start))
                    .write.mode(SaveMode.Overwrite).parquet(stage)
                  if (graft.util.Fs.hasParquetFiles(spark, stage))
                    Some(spark.read.parquet(stage))
                  else None
                } else {
                  val c = spark.read.parquet(destDir)
                    .where(col("export_date") >= to_date(lit(start)) &&
                      col(watermarkCol) <= lit(start))
                    .localCheckpoint() // eager: materialized before the overwrite
                  if (c.isEmpty) {
                    org.apache.spark.sql.graft.GraftSqlBridge.releaseLocalCheckpoint(c)
                    None
                  } else Some(c)
                }
              val full = carried.fold(out)(c => out.unionByName(c))
              val prevMode = spark.conf
                .getOption("spark.sql.sources.partitionOverwriteMode")
              spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
              try full.write.mode(SaveMode.Overwrite).partitionBy("export_date").parquet(destDir)
              finally {
                prevMode match {
                  case Some(m) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", m)
                  case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
                }
                // the carry blocks are dead once the overwrite committed (or
                // failed — the retry loop rebuilds them); free them here
                // rather than waiting on the ContextCleaner
                carried.foreach(
                  org.apache.spark.sql.graft.GraftSqlBridge.releaseLocalCheckpoint)
              }
          }
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

  /** Read the destination back without the layout column. */
  def readDestination(spark: SparkSession, destDir: String): DataFrame =
    spark.read.parquet(destDir).drop("export_date")
}
