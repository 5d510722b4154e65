package graft.etl

import java.sql.Timestamp
import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

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
  * Every call runs on the driver and launches no Spark job: the tables
  * hold one row per tenant or per run, which the reference answers with
  * one MySQL statement each. The Dataset-returning reads wrap driver rows
  * in a local relation. Two interchangeable backends implement the trait
  * (MetaStoreSpec runs the same battery against both):
  *   - [[FsMetaStore]] — one JSON Lines file per updatable table, replaced
  *     whole by an atomic rename, and a log of 1-row parquet files for
  *     `status`; no external service needed.
  *   - [[JdbcMetaStore]] — a real JDBC database (embedded Derby in tests;
  *     the URL/driver generalize to the reference's MySQL), one prepared
  *     statement per call, with genuine SQL UPDATEs matching the
  *     reference's `.rowcount` semantics.
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
  def configFor(orgId: Int): Option[ClientBillingConfig]

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
  def lastSuccessWatermark(orgId: Int, projectId: String): Option[Timestamp]

  def nextStatusSeq: Long
}

object MetaStore {
  /** The reference's updatable-column whitelist (billing_etl_db.py:126-129). */
  val UpdatableConfigColumns: Set[String] = Set("pulsebillingdataset", "pulsetableid")

  /** Column names of [[MetaStore.statusLog]], in order. */
  private[etl] val StatusCols = Seq("seq", "org_id", "project_id", "status", "end_date_time")

  /** One status row, in [[StatusCols]] order. */
  private[etl] type StatusRow = (Long, Int, String, String, Option[Timestamp])

  /** Default backend: JSON Lines tables + a parquet status log. */
  def apply(root: String)(implicit spark: SparkSession): FsMetaStore =
    new FsMetaStore(root)
}

/** Filesystem backend. `config` and `stepper` are one JSON Lines file
  * each (`$root/config.jsonl`, `$root/stepper.jsonl`; `spark.read.json`
  * reads either as a table). Vanilla files have no in-place UPDATE, so an
  * update reads the file, changes the rows on the driver and writes the
  * file back whole through [[graft.util.Fs.writeSmallTextAtomic]] (write a
  * temp in full, then rename over the target): readers see the old table
  * or the new one, never a half-written one. This is the
  * write-temp-then-swap pattern of SURVEY §7.4.5. Control tables are tiny
  * (one row per org), so rewriting them whole is O(orgs), not O(data) —
  * this never becomes a bottleneck at 100 TB of *billing* data because
  * config/status volume scales with tenants, not rows.
  *
  * Updates are last-writer-wins PER TABLE, not per row: two instances
  * updating different orgs' rows at once each write back the table they
  * read, so one of the two updates can be lost. One writer per table at a
  * time (the provisioning saga of one org at a time) is the supported
  * shape; MetaStoreSpec's racing-saga test pins that a race on ONE row
  * ends in one writer's complete last update.
  *
  * Every read goes back to storage (one small file read), so another
  * instance's update is seen at once; nothing is cached across calls.
  * Stores written with the earlier layout (`config/` and `stepper/`
  * parquet snapshots behind a CURRENT pointer) are not read.
  */
final class FsMetaStore(val root: String)(implicit spark: SparkSession)
    extends MetaStore {
  import spark.implicits._
  import MetaStore.StatusRow

  // All reads and writes go through graft.util.Fs (Hadoop FileSystem): the
  // control-plane root is HDFS/S3/GCS at cluster scale, where a java.nio
  // probe silently answers false — config lookups would come back empty
  // and the watermark resume would restart from epoch.
  private val configFile = s"$root/config.jsonl"
  private val stepperFile = s"$root/stepper.jsonl"
  private val statusDir = s"$root/status/data"

  private def readTable[T](file: String, cls: Class[T]): Seq[T] =
    graft.util.Fs.readSmallText(spark, file).toSeq
      .flatMap(_.linesIterator.filter(_.nonEmpty))
      .map(FsMetaStore.Json.readValue(_, cls))

  private def writeTable(file: String, rows: Seq[AnyRef]): Unit =
    graft.util.Fs.writeSmallTextAtomic(spark, file,
      rows.map(FsMetaStore.Json.writeValueAsString(_) + "\n").mkString)

  private def configRows: Seq[ClientBillingConfig] =
    readTable(configFile, classOf[ClientBillingConfig])

  private def stepRows: Seq[StepStatus] = readTable(stepperFile, classOf[StepStatus])

  override def putConfigs(rows: Seq[ClientBillingConfig]): Unit = writeTable(configFile, rows)

  override def configs: Dataset[ClientBillingConfig] = configRows.toDS()

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
      writeTable(configFile, rows.map { r =>
        if (!hit(r)) r
        else allowed.foldLeft(r) {
          case (acc, ("pulsebillingdataset", v)) => acc.copy(pulsebillingdataset = Some(v))
          case (acc, ("pulsetableid", v)) => acc.copy(pulsetableid = Some(v))
          case (acc, _) => acc
        }
      })
    }
    affected
  }

  override def putSteps(rows: Seq[StepStatus]): Unit = writeTable(stepperFile, rows)

  override def steps: Dataset[StepStatus] = stepRows.toDS()

  override def updateStepCompleted(stepId: Int, orgId: Int, completed: Boolean): Long = {
    val rows = stepRows
    def hit(r: StepStatus) = r.stepid == stepId && r.org_id == orgId
    val affected = rows.count(hit).toLong
    if (affected > 0)
      writeTable(stepperFile, rows.map(r => if (hit(r)) r.copy(step_completed = completed) else r))
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
    * writers are picked up by listing the log dir and read with parquet-mr
    * on the driver on first sight — so no read launches a job, while a
    * concurrent appender's rows are never missed. What every read still
    * pays is that listing: one LIST of the flat log dir, reading only names
    * and lengths (Fs's listing contract: no per-file permission probe,
    * which forks a process per file on a local FS without Hadoop's native
    * library). A run reads the log three times (the watermark resume and
    * `nextStatusSeq` before each of its two appends), so its control-plane
    * cost still grows with the log, at the rate of directory entries.
    */
  private val statusFileRows = scala.collection.concurrent.TrieMap.empty[String, Seq[StatusRow]]

  private def statusRowsDriver(): Seq[StatusRow] = {
    lazy val conf = spark.sessionState.newHadoopConf()
    graft.util.Fs.listParquetFiles(spark, statusDir).flatMap { case (p, _) =>
      val path = new Path(p)
      statusFileRows.getOrElseUpdate(path.getName, FsMetaStore.readStatusFile(path, conf))
    }
  }

  override def appendStatus(seq: Long, s: EtlStatus): Unit = {
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

  override def statusLog: DataFrame = statusRowsDriver().toDF(MetaStore.StatusCols: _*)

  override def lastSuccessWatermark(orgId: Int, projectId: String): Option[Timestamp] = {
    val hits = statusRowsDriver().collect {
      case (_, o, p, st, Some(ts)) if o == orgId && p == projectId && st == EtlStatus.Success => ts
    }
    if (hits.isEmpty) None else Some(hits.max((a: Timestamp, b: Timestamp) => a.compareTo(b)))
  }

  override def nextStatusSeq: Long =
    statusRowsDriver().foldLeft(0L)((m, r) => math.max(m, r._1)) + 1L
}

object FsMetaStore {
  private val Json = com.fasterxml.jackson.databind.json.JsonMapper.builder()
    .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule).build()

  /** Rows of one status file, read with parquet-mr on the driver. The file
    * may come from [[FsMetaStore.appendStatus]] or from a Spark write of the
    * same columns (nullable, and with Spark's default INT96 timestamps).
    */
  private def readStatusFile(path: Path, conf: org.apache.hadoop.conf.Configuration)
      : Seq[MetaStore.StatusRow] = {
    // built on the caller's conf: the Path-based builder makes a fresh Hadoop
    // Configuration per reader, whose first read parses the default XML
    // resources (~15 ms a file, the bulk of a cold store's first read)
    val reader = new org.apache.parquet.hadoop.ParquetReader.Builder[Group](
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf),
        new org.apache.parquet.conf.HadoopParquetConfiguration(conf)) {
      override protected def getReadSupport() = new org.apache.parquet.hadoop.example.GroupReadSupport()
    }.build()
    def has(g: Group, f: String) = g.getFieldRepetitionCount(f) > 0
    def str(g: Group, f: String) = if (has(g, f)) g.getString(f, 0) else null
    try Iterator.continually(reader.read()).takeWhile(_ != null).map { g =>
      (g.getLong("seq", 0), g.getInteger("org_id", 0), str(g, "project_id"), str(g, "status"),
        Option.when(has(g, "end_date_time"))(timestampAt(g, "end_date_time")))
    }.toList
    finally reader.close()
  }

  private val JulianDayOfEpoch = 2440588L
  private val MicrosPerDay = 86400L * 1000000L

  /** A parquet timestamp field as a Timestamp: INT64 in any unit, or INT96
    * (nanos of the day, then the Julian day, both little-endian).
    */
  private def timestampAt(g: Group, f: String): Timestamp = {
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val t = g.getType.getType(f).asPrimitiveType()
    val micros = (t.getPrimitiveTypeName, t.getLogicalTypeAnnotation) match {
      case (PrimitiveTypeName.INT96, _) =>
        val b = g.getInt96(f, 0).toByteBuffer.order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val nanosOfDay = b.getLong
        (b.getInt - JulianDayOfEpoch) * MicrosPerDay + nanosOfDay / 1000L
      case (PrimitiveTypeName.INT64, ts: TimestampLogicalTypeAnnotation) =>
        val v = g.getLong(f, 0)
        ts.getUnit match {
          case TimeUnit.MILLIS => v * 1000L
          case TimeUnit.MICROS => v
          case TimeUnit.NANOS => Math.floorDiv(v, 1000L)
        }
      case _ => throw new IllegalArgumentException(s"status column $f is not a timestamp: $t")
    }
    Timestamp.from(java.time.Instant.ofEpochSecond(
      Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L))
  }
}
