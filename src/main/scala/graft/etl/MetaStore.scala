package graft.etl

import java.sql.Timestamp
import java.util.UUID

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{ClientBillingConfig, EtlStatus, StepStatus}

/** Control-plane store: the engine's stand-in for the reference's MySQL
  * tables (`billing_alerts_setting`, `billing_etl_status`,
  * `user_stepper_form_step_status` — reference:
  * core/database/billing_etl_db.py:12-162, README.md:186-210).
  *
  * Three logical tables:
  *   - `config`  — small, read-mostly; UPDATE (S9) is whitelisted
  *   - `stepper` — same update pattern (S10)
  *   - `status`  — append-only log (S8); never rewritten
  *
  * Two interchangeable backends implement the trait (MetaStoreSpec runs
  * the same battery against both):
  *   - [[FsMetaStore]] — versioned parquet snapshots + an atomically
  *     swapped CURRENT pointer; no external service needed.
  *   - [[JdbcMetaStore]] — a real JDBC database (embedded Derby in tests;
  *     the URL/driver generalize to the reference's MySQL), read through
  *     `spark.read.jdbc` and updated with genuine SQL UPDATEs, matching
  *     the reference's `.rowcount` semantics.
  */
trait MetaStore {

  // ------------------------------------------------------------------ config

  /** Seed/replace the whole config table (test fixture path). */
  def putConfigs(rows: Seq[ClientBillingConfig]): Unit

  def configs: Dataset[ClientBillingConfig]

  /** Config UPDATE sink, S9 (reference: billing_etl_db.py:122-162).
    * Mirrors the reference's whitelist: only `pulsebillingdataset` and
    * `pulsetableid` are updatable (billing_etl_db.py:126-129); other keys
    * are ignored. Returns the number of rows affected.
    */
  def updateConfig(orgId: Int, projectId: String, fields: Map[String, String]): Long

  /** Config point-lookup, S3/P2/F3 (reference: billing_etl_db.py:63-89).
    * Driver-side single-row fetch — the table is tiny by construction.
    */
  def configFor(orgId: Int): Option[ClientBillingConfig] =
    configs.where(col("org_id") === orgId).head(1).headOption

  // ----------------------------------------------------------------- stepper

  def putSteps(rows: Seq[StepStatus]): Unit

  def steps: Dataset[StepStatus]

  /** Step-status UPDATE sink, S10 (reference: billing_etl_db.py:91-120).
    * Returns rows_affected, as the reference surfaces via `.rowcount`.
    */
  def updateStepCompleted(stepId: Int, orgId: Int, completed: Boolean): Long

  // ------------------------------------------------------------------ status

  /** Status append sink, S8 (reference: billing_etl_db.py:12-43). `seq` is
    * orchestrator-assigned so the append-only log has a deterministic total
    * order regardless of storage enumeration order.
    */
  def appendStatus(seq: Long, s: EtlStatus): Unit

  def statusLog: DataFrame

  /** Checkpoint top-1 read, S4/F2/O1/A3 (reference: billing_etl_db.py:45-61):
    * latest SUCCESS watermark for (org, project), None on first run.
    */
  def lastSuccessWatermark(orgId: Int, projectId: String): Option[Timestamp] =
    statusLog
      .where(col("org_id") === orgId && col("project_id") === projectId &&
        col("status") === EtlStatus.Success)
      .agg(max(col("end_date_time")))
      .head(1).headOption.flatMap(r => Option(r.getTimestamp(0)))

  def nextStatusSeq: Long =
    statusLog.agg(coalesce(max(col("seq")), lit(0L))).head().getLong(0) + 1L
}

object MetaStore {
  /** The reference's updatable-column whitelist (billing_etl_db.py:126-129). */
  val UpdatableConfigColumns: Set[String] = Set("pulsebillingdataset", "pulsetableid")

  /** Default backend: versioned parquet + atomic pointer swap. */
  def apply(root: String)(implicit spark: SparkSession): FsMetaStore =
    new FsMetaStore(root)
}

/** Filesystem backend. Vanilla Spark tables have no in-place UPDATE, so
  * overwrites are implemented as **versioned snapshots with an
  * atomically-swapped CURRENT pointer** (write the new snapshot dir in
  * full, then atomic-rename a tiny pointer file): readers either see the
  * old version or the new one, never a half-written table. This is the
  * write-temp-then-swap pattern of SURVEY §7.4.5 and gives
  * last-writer-wins under concurrent updaters. Control tables are tiny
  * (one row per org), so rewriting them whole is O(orgs), not O(data) —
  * this never becomes a bottleneck at 100 TB of *billing* data because
  * config/status volume scales with tenants, not rows.
  *
  * Because the tables are O(tenants), the authoritative working copy lives
  * on the DRIVER: each read-modify-write folds the affected-row count into
  * one in-memory pass and issues exactly one Spark write job (the durable
  * snapshot), instead of a scan job + a count job + a rewrite job. Reads
  * serve a LocalRelation-backed Dataset from a snapshot cache keyed by the
  * CURRENT pointer version — every access still probes the pointer (one
  * small FS read), so a concurrent updater's swap invalidates this
  * instance's cache; the cache removes the Spark scan, not the coherence
  * check. This mirrors what the reference gets for free from MySQL: the
  * control plane is row-at-a-time state, not a distributed dataset.
  */
final class FsMetaStore(val root: String)(implicit spark: SparkSession)
    extends MetaStore {
  import spark.implicits._

  private val configDir = s"$root/config"
  private val stepperDir = s"$root/stepper"
  private val statusDir = s"$root/status/data"

  // ---------------------------------------------------------------- versions
  //
  // All pointer probes/reads/swaps go through graft.util.Fs (Hadoop
  // FileSystem): the control-plane root is HDFS/S3/GCS at cluster scale,
  // where a java.nio probe silently answers false — config lookups would
  // come back empty and the watermark resume would restart from epoch.

  private def currentPointer(tableDir: String): String = s"$tableDir/CURRENT"

  private def currentVersion(tableDir: String): Option[String] =
    graft.util.Fs.readSmallText(spark, currentPointer(tableDir)).map(_.trim)

  /** tableDir -> (pointer version it was collected at, driver-side rows). */
  private val snapCache =
    scala.collection.concurrent.TrieMap.empty[String, (String, Seq[Any])]

  /** Write `rows` as a fresh snapshot, then atomically repoint CURRENT
    * (write-in-full + rename-OVERWRITE; see Fs.writeSmallTextAtomic for the
    * S3 caveat), and seed the snapshot cache with the rows just written.
    */
  private def overwriteVersioned(tableDir: String, df: DataFrame, rows: Seq[Any]): Unit = {
    val v = s"v_${UUID.randomUUID().toString.take(8)}"
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$tableDir/$v")
    graft.util.Fs.writeSmallTextAtomic(spark, currentPointer(tableDir), v)
    snapCache.put(tableDir, (v, rows))
  }

  /** Driver-side rows at the CURRENT version; one Spark collect on first
    * read per version, pointer-probe-only afterwards.
    */
  private def snapshotRows[T](tableDir: String)(read: String => Seq[T]): Seq[T] =
    currentVersion(tableDir) match {
      case None => Seq.empty
      case Some(v) =>
        snapCache.get(tableDir) match {
          case Some((`v`, rows)) => rows.asInstanceOf[Seq[T]]
          case _ =>
            val rows = read(s"$tableDir/$v")
            snapCache.put(tableDir, (v, rows))
            rows
        }
    }

  private def configRows: Seq[ClientBillingConfig] =
    snapshotRows(configDir)(p => spark.read.parquet(p).as[ClientBillingConfig].collect().toSeq)

  private def stepRows: Seq[StepStatus] =
    snapshotRows(stepperDir)(p => spark.read.parquet(p).as[StepStatus].collect().toSeq)

  override def putConfigs(rows: Seq[ClientBillingConfig]): Unit =
    overwriteVersioned(configDir, rows.toDF(), rows)

  override def configs: Dataset[ClientBillingConfig] = configRows.toDS()

  // point-lookup straight off the driver snapshot — no Dataset analysis
  // per run (the trait default is kept for the JDBC backend, where the
  // lookup IS a SQL query)
  override def configFor(orgId: Int): Option[ClientBillingConfig] =
    configRows.find(_.org_id == orgId)

  override def updateConfig(orgId: Int, projectId: String,
                            fields: Map[String, String]): Long = {
    val allowed = fields.view.filterKeys(MetaStore.UpdatableConfigColumns).toMap
    if (allowed.isEmpty) return 0L
    val rows = configRows
    def hit(r: ClientBillingConfig) = r.org_id == orgId && r.projectid == projectId
    val affected = rows.count(hit).toLong
    if (affected > 0) {
      val updated = rows.map { r =>
        if (!hit(r)) r
        else allowed.foldLeft(r) {
          case (acc, ("pulsebillingdataset", v)) => acc.copy(pulsebillingdataset = Some(v))
          case (acc, ("pulsetableid", v)) => acc.copy(pulsetableid = Some(v))
          case (acc, _) => acc
        }
      }
      overwriteVersioned(configDir, updated.toDF(), updated)
    }
    affected
  }

  override def putSteps(rows: Seq[StepStatus]): Unit =
    overwriteVersioned(stepperDir, rows.toDF(), rows)

  override def steps: Dataset[StepStatus] = stepRows.toDS()

  override def updateStepCompleted(stepId: Int, orgId: Int, completed: Boolean): Long = {
    val rows = stepRows
    def hit(r: StepStatus) = r.stepid == stepId && r.org_id == orgId
    val affected = rows.count(hit).toLong
    if (affected > 0) {
      val updated = rows.map(r => if (hit(r)) r.copy(step_completed = completed) else r)
      overwriteVersioned(stepperDir, updated.toDF(), updated)
    }
    affected
  }

  // The status log is control-plane state: O(runs × tenants) 1-row events,
  // exactly what the reference keeps in MySQL. Launching a distributed
  // Spark job (scheduler + commit protocol, ~0.4 s) to write ONE row — and
  // another to read the max seq back — made the control plane the dominant
  // cost of every ETL run. Appends therefore go through parquet-mr on the
  // driver (the same move Delta/Iceberg make for their metadata files):
  // write a 1-row parquet to a hidden staging name, fsync, rename into the
  // log — atomic on HDFS/local, unique names so concurrent appenders never
  // collide (MetaStoreSpec's racing-saga test). Data-plane writes still go
  // through Spark; this path is for rows that were never distributed.
  private val StatusFileSchema: org.apache.parquet.schema.MessageType = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    Types.buildMessage()
      .required(INT64).named("seq")
      .required(INT32).named("org_id")
      .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("project_id")
      .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("status")
      .optional(INT64)
        .as(LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS))
        .named("end_date_time")
      .named("spark_schema")
  }

  /** Driver-side mirror of the log, keyed by (unique) file name. Files
    * appended by THIS instance are cached at write time; files from other
    * writers are picked up by listing the log dir and read in one batched
    * Spark job on first sight — so the steady state launches no jobs at
    * all, while a concurrent appender's rows are never missed. What every
    * read still pays is that listing: one LIST of the flat log dir, reading
    * only names and lengths (Fs's listing contract: no per-file permission
    * probe, which forks a process per file on a local FS without Hadoop's
    * native library). A run reads the log three times (the watermark resume
    * and `nextStatusSeq` before each of its two appends), so its control-
    * plane cost still grows with the log, at the rate of directory entries.
    */
  private val statusFileRows =
    scala.collection.concurrent.TrieMap.empty[String, Seq[(Long, Int, String, String, Option[Timestamp])]]

  private def statusRowsDriver(): Seq[(Long, Int, String, String, Option[Timestamp])] = {
    val files = graft.util.Fs.listParquetFiles(spark, statusDir)
      .map { case (p, _) => new org.apache.hadoop.fs.Path(p).getName -> p }
    val unknown = files.filterNot { case (name, _) => statusFileRows.contains(name) }
    if (unknown.nonEmpty) {
      val byFile = spark.read.parquet(unknown.map(_._2): _*)
        .select(input_file_name().as("_f"), col("seq"), col("org_id"),
          col("project_id"), col("status"), col("end_date_time"))
        .collect()
        .groupBy(r => new org.apache.hadoop.fs.Path(r.getString(0)).getName)
      unknown.foreach { case (name, _) =>
        statusFileRows.put(name, byFile.getOrElse(name, Array.empty).toSeq
          .map(r => (r.getLong(1), r.getInt(2), r.getString(3), r.getString(4),
            Option(r.getTimestamp(5)))))
      }
    }
    files.flatMap { case (name, _) => statusFileRows.getOrElse(name, Seq.empty) }
  }

  override def appendStatus(seq: Long, s: EtlStatus): Unit = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(statusDir)
    val fsys = dir.getFileSystem(conf)
    fsys.mkdirs(dir)
    val fileName = s"part-${UUID.randomUUID()}.parquet"
    // leading dot: invisible to Spark reads; ".tmp" suffix: invisible to
    // Fs.listParquetFiles — readers never see the file until the rename
    val stage = new Path(dir, s".$fileName.tmp")
    val target = new Path(dir, fileName)
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(stage, conf))
      .withType(StatusFileSchema)
      .withConf(conf)
      .build()
    try {
      val g = new org.apache.parquet.example.data.simple.SimpleGroup(StatusFileSchema)
      g.add("seq", seq)
      g.add("org_id", s.org_id)
      // optional fields: a null simply stays absent (the Spark write path
      // this replaced tolerated nulls; Binary.fromString(null) would NPE)
      if (s.project_id != null) g.add("project_id", s.project_id)
      if (s.status != null) g.add("status", s.status)
      s.end_date_time.foreach { t =>
        val i = t.toInstant
        g.add("end_date_time", i.getEpochSecond * 1000000L + i.getNano / 1000L)
      }
      writer.write(g)
    } finally writer.close()
    if (!fsys.rename(stage, target))
      throw new java.io.IOException(s"failed to publish status row $stage -> $target")
    statusFileRows.put(fileName,
      Seq((seq, s.org_id, s.project_id, s.status, s.end_date_time)))
  }

  override def statusLog: DataFrame =
    statusRowsDriver().toDF("seq", "org_id", "project_id", "status", "end_date_time")

  // Driver-side overrides of the trait's Spark-job reads: same semantics
  // (MetaStoreSpec runs the battery against both backends), none of the
  // per-run job-launch cost. JdbcMetaStore keeps the trait defaults — its
  // reads are already row-at-a-time SQL.
  override def lastSuccessWatermark(orgId: Int, projectId: String): Option[Timestamp] = {
    val hits = statusRowsDriver().collect {
      case (_, o, p, st, Some(ts)) if o == orgId && p == projectId && st == EtlStatus.Success => ts
    }
    if (hits.isEmpty) None else Some(hits.max((a: Timestamp, b: Timestamp) => a.compareTo(b)))
  }

  override def nextStatusSeq: Long =
    statusRowsDriver().foldLeft(0L)((m, r) => math.max(m, r._1)) + 1L
}
