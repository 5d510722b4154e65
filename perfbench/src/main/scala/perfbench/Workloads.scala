package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{CatalogOps, EtlJob, FsMetaStore, MessageFrontEnd}
import graft.model.{ClientBillingConfig, EtlJobMessage, StepStatus}

/** What one op did, as the harness saw it. `group` is what the correctness
  * gate checks it under (a tenant, a backfill op, a registry query).
  */
final case class OpOut(group: String, ok: Boolean, rows: Long, retries: Int = 0)

/** A seeded workload: `prepare` generates inputs into `dir`, `warm` runs
  * the untimed warm pass, `next` hands out the next op (None when the
  * input queue is drained) and `gate` names the groups whose outputs are
  * wrong.
  */
abstract class Workload(val spark: SparkSession, val seed: Long, val tracer: Tracer) {
  /** Nearest-rank percentile reported as `op_tail_s`. */
  def tailP: Double
  def prepare(dir: String): Unit
  def warm(): Unit
  /** Groups whose untimed warm-pass ops failed. */
  val warmFailed: mutable.Set[String] = mutable.Set.empty
  /** Runs up to `n` ops untimed, as part of the warm pass. */
  protected def runUntimed(n: Int): Unit =
    (0 until n).foreach(_ => next().foreach { op =>
      val o = op()
      if (!o.ok) warmFailed += o.group
    })
  /** Untimed-op work done once at the start of the timed phase. */
  def startTimed(): Unit = ()
  def next(): Option[() => OpOut]
  def gate(): Seq[String]
  def inputSizes: Seq[(String, Long)]
  /** ETL destinations, for the on-disk metrics. */
  def destDirs: Seq[String]
  /** Distinct source rows the destinations should now hold. */
  def destDistinctRows: Long = 0
  /** Status files a cold store would list now. */
  def statusFiles: Long = 0
  /** Quarantined envelopes seen so far. */
  def quarantined: Long = 0
  /** False while the timed phase must not stop: a registry cycle runs to
    * its end so every run times the same mix of queries.
    */
  def atBoundary: Boolean = true
  /** Undoes what `prepare` left outside its directory. */
  def cleanup(): Unit = ()
  /** Tenants provisioned during `prepare`. */
  def provisioned: Int = 0
  /** Ops the amortised `startTimed` cost is spread over. */
  def startTimedShareOps: Int = 1
}

object Workload {
  val Names: Seq[String] = Seq("etl_trickle", "etl_backfill", "etl_replay", "registry_micro")

  def apply(name: String, spark: SparkSession, seed: Long, tracer: Tracer, data: String): Workload =
    name match {
      case "etl_trickle" => new Trickle(spark, seed, tracer)
      case "etl_backfill" => new Backfill(spark, seed, tracer)
      case "etl_replay" => new Replay(spark, seed, tracer)
      case "registry_micro" => new RegistryMicro(spark, seed, tracer, data)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (one of ${Names.mkString(", ")})")
    }
}

/** Shared ETL plumbing: tenants with sources under `dir/src`, one store
  * under `dir/meta`, destinations under `dir/dest`.
  */
abstract class EtlWorkload(spark: SparkSession, seed: Long, tracer: Tracer)
    extends Workload(spark, seed, tracer) {
  import spark.implicits._

  protected var dir: String = _
  protected val rng = new Random(seed)
  protected var sources: Map[Int, TenantSource] = Map.empty
  protected var sourceDfs: Map[Int, DataFrame] = Map.empty
  protected var sourceBytes = 0L
  protected var historyRows = 0
  protected var quarantinedN = 0L

  def metaRoot = s"$dir/meta"
  def statusDir = s"$metaRoot/status/data"
  protected def dest(org: Int) = s"$dir/dest/$org"

  override def quarantined: Long = quarantinedN
  override def statusFiles: Long =
    if (!Files.isDirectory(Paths.get(statusDir))) 0
    else {
      val s = Files.list(Paths.get(statusDir))
      try s.filter(_.toString.endsWith(".parquet")).count() finally s.close()
    }

  protected def config(org: Int) =
    ClientBillingConfig(org, Inputs.project(org), s"billing_$org", "gcp_billing_export_v1", None, None, None)

  protected def generate(tenants: Seq[TenantSource], filesPerTenant: Int): Unit = {
    sources = tenants.map(t => t.org -> t).toMap
    sourceBytes = Inputs.writeSources(spark, rng, dir, tenants, filesPerTenant)
    sourceDfs = tenants.map(t => t.org -> Inputs.source(spark, dir, t.org)).toMap
  }

  /** Decodes one push envelope; None when the front end quarantines it. */
  protected def decodeOne(body: String): Option[Int] = tracer.span("MessageFrontEnd.decode") {
    val r = MessageFrontEnd.decode(Seq(body).toDF("raw")).select("org_id", "status_code").head()
    if (r.getInt(1) == MessageFrontEnd.StatusOk) Some(r.getInt(0))
    else { quarantinedN += 1; None }
  }

  protected def runEtl(store: graft.etl.MetaStore, org: Int, src: Int, destDir: String,
                       msg: Msg, mode: EtlJob.Mode): Either[graft.model.EngineError, EtlJob.RunReport] =
    tracer.span("EtlJob.run") {
      EtlJob.run(spark, store, sourceDfs(src), "export_time", destDir, EtlJobMessage(org),
        msg.jobTs, sleeper = _ => (), rng = new Random(seed ^ msg.idx), mode = mode)
    }

  /** Destination multiset and status-log gates for the tenants that ran. */
  protected def tenantGates(touched: Seq[Int], expect: Expect): Seq[String] = {
    val rows = Gates.multisetMismatch(
      Gates.admittedRows(spark, s"$dir/src", sources, expect.mult),
      Gates.destRows(spark, touched.map(o => o.toString -> dest(o))),
      touched.map(_.toString))
    val status = Gates.statusMismatch(spark, statusDir, historyRows,
      expect.committed.map { case (o, w) => o -> w.toSeq }.toMap)
    (rows ++ status).distinct
  }

  protected def sourceSizes: Seq[(String, Long)] = Seq(
    "tenants" -> sources.size.toLong,
    "source_rows" -> sources.values.map(_.rows).sum,
    "source_batches" -> sources.values.map(_.batchTimes.length.toLong).sum,
    "source_bytes" -> sourceBytes,
    "history_rows" -> historyRows.toLong)
}

/** Steady push traffic: 8 tenants, one long-lived store with history,
  * one envelope decoded per op, small Parity deltas.
  */
final class Trickle(spark: SparkSession, seed: Long, tracer: Tracer)
    extends EtlWorkload(spark, seed, tracer) {
  val Orgs: Seq[Int] = 1 to 8
  val tailP = 0.8
  private var queue: Vector[Msg] = Vector.empty
  private var pos = 0
  private var store: TimedMetaStore = _
  private var expect: Expect = _
  private val touched = mutable.SortedSet.empty[Int]

  def prepare(d: String): Unit = {
    dir = d
    generate(Orgs.map(o => Inputs.timeline(rng, o, Inputs.T0, 70 * Inputs.HourUs, 600, 4)), 1)
    val inner = new FsMetaStore(metaRoot)(spark)
    inner.putConfigs(Orgs.map(config))
    inner.putSteps(Orgs.map(o => StepStatus(3, o, step_completed = false)))
    store = new TimedMetaStore(inner, tracer)
    // onboarding: every tenant is provisioned before its first message
    Orgs.foreach { o =>
      val r = tracer.span("CatalogOps.provision")(
        CatalogOps.provision(spark, store, o, Inputs.project(o), sleeper = _ => ()))
      require(r.isRight, s"provisioning tenant $o failed: $r")
    }
    val lastWm = (o: Int) => Inputs.T0 - o * 7L * 60 * 1000000L
    historyRows = Inputs.writeHistory(spark, metaRoot, Orgs, 60, lastWm)
    queue = Inputs.publishTimes(rng, Orgs, Inputs.T0, 30, 7200).zipWithIndex.map {
      case ((org, t), i) => Msg(i, org, t, Inputs.envelope(org, t, i))
    }
    expect = new Expect(sources, exact = false, Orgs.map(o => o -> lastWm(o)).toMap)
  }

  def warm(): Unit = runUntimed(4)

  def next(): Option[() => OpOut] =
    if (pos >= queue.size) None
    else {
      val m = queue(pos); pos += 1
      Some { () =>
        decodeOne(m.body) match {
          case None => OpOut(m.org.toString, ok = false, 0)
          case Some(org) =>
            touched += org
            runEtl(store, org, org, dest(org), m, EtlJob.Parity) match {
              case Right(r) => OpOut(org.toString, ok = true, expect.run(org, m.jobTime), r.attempts - 1)
              case Left(_) => OpOut(org.toString, ok = false, 0)
            }
        }
      }
    }

  def gate(): Seq[String] = tenantGates(touched.toSeq, expect)

  def inputSizes: Seq[(String, Long)] = sourceSizes ++ Seq("messages" -> queue.size.toLong)
  def destDirs: Seq[String] = touched.toSeq.map(dest)
  override def destDistinctRows: Long = expect.distinctRows
  override def provisioned: Int = Orgs.size
  override def cleanup(): Unit = Orgs.foreach(o => CatalogOps.dropNamespaceCascade(spark, CatalogOps.datasetName(o)))
}

/** Onboarding catch-up: each op provisions a new tenant and runs its
  * first load from the epoch over a large source.
  */
final class Backfill(spark: SparkSession, seed: Long, tracer: Tracer)
    extends EtlWorkload(spark, seed, tracer) {
  val Source = 1
  val MaxOps = 100
  val FirstOrg = 1000
  val tailP = 0.75
  private var store: TimedMetaStore = _
  private var ops: Vector[Msg] = Vector.empty
  private var pos = 0
  private val done = mutable.ArrayBuffer.empty[(Msg, Long, Long)] // op, watermark, rows

  def prepare(d: String): Unit = {
    dir = d
    generate(Seq(Inputs.timeline(rng, Source, Inputs.T0, 30 * 24 * Inputs.HourUs, 300, 4)), 4)
    val inner = new FsMetaStore(metaRoot)(spark)
    val orgs = FirstOrg until FirstOrg + MaxOps
    inner.putConfigs(orgs.map(config))
    inner.putSteps(orgs.map(o => StepStatus(3, o, step_completed = false)))
    store = new TimedMetaStore(inner, tracer)
    val catchUp = Inputs.T0 + 29 * 24 * Inputs.HourUs
    ops = orgs.zipWithIndex.map { case (org, i) =>
      val t = catchUp + (rng.nextInt(24 * 3600) * 1000000L)
      Msg(i, org, t, Inputs.envelope(org, t, i))
    }.toVector
  }

  def warm(): Unit = runUntimed(1)

  def next(): Option[() => OpOut] =
    if (pos >= ops.size) None
    else {
      val m = ops(pos); pos += 1
      Some { () =>
        val ok = decodeOne(m.body).exists { org =>
          tracer.span("CatalogOps.provision")(
            CatalogOps.provision(spark, store, org, Inputs.project(org), sleeper = _ => ())).isRight &&
            (runEtl(store, org, Source, dest(org), m, EtlJob.Parity) match {
              case Right(_) => true
              case Left(_) => false
            })
        }
        val ex = new Expect(Map(m.org -> sources(Source)), exact = false, Map.empty)
        val rows = ex.run(m.org, m.jobTime)
        if (ok) done += ((m, ex.committed(m.org).head, rows))
        OpOut(m.org.toString, ok, if (ok) rows else 0)
      }
    }

  def gate(): Seq[String] = {
    import spark.implicits._
    val opsDf = done.map { case (m, _, _) => (m.org.toString, m.jobTime) }.toSeq.toDF("g", "job_us")
    val expected = Inputs.source(spark, dir, Source).crossJoin(broadcast(opsDf))
      .where(unix_micros(col("export_time")) < col("job_us")).withColumn("w", lit(1L))
    val groups = done.map(_._1.org.toString).toSeq
    val rows = Gates.multisetMismatch(expected,
      Gates.destRows(spark, done.map { case (m, _, _) => m.org.toString -> dest(m.org) }.toSeq), groups)
    val status = Gates.statusMismatch(spark, statusDir, 0,
      done.map { case (m, wm, _) => m.org -> Seq(wm) }.toMap)
    (rows ++ status).distinct
  }

  def inputSizes: Seq[(String, Long)] = sourceSizes ++ Seq("messages" -> ops.size.toLong)
  def destDirs: Seq[String] = done.map(x => dest(x._1.org)).toSeq
  override def destDistinctRows: Long = done.map(_._3).sum
}

/** At-least-once redelivery in Exact mode: one decode of a backlog with
  * redelivered and malformed envelopes, windows ending mid-day, and a
  * fresh store per message (a restarted worker's cold cache).
  */
final class Replay(spark: SparkSession, seed: Long, tracer: Tracer)
    extends EtlWorkload(spark, seed, tracer) {
  import spark.implicits._

  val Orgs: Seq[Int] = 1 to 4
  val WarmMessages = 2
  val tailP = 0.8
  private var backlog: Vector[Msg] = Vector.empty
  private var valid: Vector[Msg] = Vector.empty
  private var pos = 0
  private var expect: Expect = _
  private var malformedSeeded = 0
  private var quarantineOk = true
  private val touched = mutable.SortedSet.empty[Int]

  def prepare(d: String): Unit = {
    dir = d
    generate(Orgs.map(o => Inputs.timeline(rng, o, Inputs.T0, 12 * 24 * Inputs.HourUs, 1200, 6)), 2)
    val inner = new FsMetaStore(metaRoot)(spark)
    inner.putConfigs(Orgs.map(config))
    val lastWm = (o: Int) => Inputs.T0 - o * 11L * 60 * 1000000L
    historyRows = Inputs.writeHistory(spark, metaRoot, Orgs, 30, lastWm)
    val base = Inputs.publishTimes(rng, Orgs, Inputs.T0, 45, 6 * 3600)
    val out = mutable.ArrayBuffer.empty[Msg]
    val pending = mutable.ArrayBuffer.empty[(Int, Msg)] // due position, redelivery
    base.zipWithIndex.foreach { case ((org, t), i) =>
      val m = Msg(out.size, org, t, Inputs.envelope(org, t, i))
      out += m
      if (rng.nextDouble() < 0.15) pending += ((out.size + 1 + rng.nextInt(8), m))
      if (rng.nextDouble() < 0.07) {
        out += Msg(out.size, -1, t, Inputs.malformedEnvelope(rng.nextInt(5), i))
        malformedSeeded += 1
      }
      pending.filter(_._1 <= out.size).foreach { case p @ (_, r) =>
        out += r.copy(idx = out.size, redelivery = true); pending -= p
      }
    }
    pending.foreach { case (_, r) => out += r.copy(idx = out.size, redelivery = true) }
    backlog = out.toVector
    expect = new Expect(sources, exact = true, Orgs.map(o => o -> lastWm(o)).toMap)
  }

  /** One decode call over the whole backlog; the valid messages, in order. */
  private def decodeBacklog(): Vector[Msg] = tracer.span("MessageFrontEnd.decode") {
    val byIdx = backlog.map(m => m.idx -> m).toMap
    val rows = MessageFrontEnd.decode(backlog.map(m => (m.idx, m.body)).toDF("idx", "raw"))
      .select("idx", "org_id", "status_code").collect()
    val q = rows.count(_.getInt(2) != MessageFrontEnd.StatusOk)
    quarantinedN = q
    quarantineOk = q == malformedSeeded
    rows.filter(_.getInt(2) == MessageFrontEnd.StatusOk).sortBy(_.getInt(0))
      .map(r => byIdx(r.getInt(0)).copy(org = r.getInt(1))).toVector
  }

  def warm(): Unit = {
    valid = decodeBacklog()
    runUntimed(WarmMessages)
  }

  override def startTimed(): Unit = valid = decodeBacklog()
  override def startTimedShareOps: Int = math.max(1, valid.size - WarmMessages)

  def next(): Option[() => OpOut] =
    if (pos >= valid.size) None
    else {
      val m = valid(pos); pos += 1
      Some { () =>
        touched += m.org
        val store = new TimedMetaStore(new FsMetaStore(metaRoot)(spark), tracer)
        runEtl(store, m.org, m.org, dest(m.org), m, EtlJob.Exact) match {
          case Right(r) => OpOut(m.org.toString, ok = true, expect.run(m.org, m.jobTime), r.attempts - 1)
          case Left(_) => OpOut(m.org.toString, ok = false, 0)
        }
      }
    }

  def gate(): Seq[String] =
    tenantGates(touched.toSeq, expect) ++ (if (quarantineOk) Nil else Seq("quarantine"))

  def inputSizes: Seq[(String, Long)] = sourceSizes ++ Seq(
    "messages" -> backlog.size.toLong,
    "redeliveries" -> backlog.count(_.redelivery).toLong,
    "malformed" -> malformedSeeded.toLong)
  def destDirs: Seq[String] = touched.toSeq.map(dest)
  override def destDistinctRows: Long = expect.distinctRows
}
