package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.Instant
import java.util.Base64

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One tenant's source, as export batches: rows in a batch share one
  * `export_time` (microseconds since the epoch), as GCP billing exports do.
  */
final case class TenantSource(org: Int, batchTimes: Array[Long], batchRows: Array[Int]) {
  def rows: Long = batchRows.iterator.map(_.toLong).sum
}

/** A queued Pub/Sub push. `org` is the tenant the envelope names, -1 for
  * a malformed envelope, which must be quarantined.
  */
final case class Msg(idx: Int, org: Int, jobTime: Long, body: String, redelivery: Boolean = false) {
  def jobTs: Timestamp = Inputs.ts(jobTime)
}

/** Seeded input generator: per-tenant nested billing-export sources
  * (events generated here, shaped by `NestedBillingOps.billingRows`),
  * message queues and pre-seeded status history.
  */
object Inputs {
  val T0: Long = Instant.parse("2024-03-01T00:00:00Z").getEpochSecond * 1000000L
  val HourUs: Long = 3600L * 1000000L

  def ts(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  def project(org: Int): String = s"proj_$org"

  /** Export batches from `from` for `spanUs`: gaps of `gapS` ± 25%
    * (whole seconds), 1 to 2·`rowsPerBatch`−1 rows each.
    */
  def timeline(rng: Random, org: Int, from: Long, spanUs: Long, gapS: Int,
               rowsPerBatch: Int): TenantSource = {
    val times = Vector.newBuilder[Long]
    var t = from + (1 + rng.nextInt(gapS)) * 1000000L
    while (t < from + spanUs) {
      times += t
      t += (gapS * 3 / 4 + rng.nextInt(gapS / 2 + 1)) * 1000000L
    }
    val ts = times.result().toArray
    TenantSource(org, ts, Array.fill(ts.length)(1 + rng.nextInt(2 * rowsPerBatch - 1)))
  }

  private val EventTypes = Array("purchase", "signup", "error", "view", "click", "refund")

  private val EventSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Writes every tenant's source under `dir/src/tenant=<org>` in
    * `export_time` order, `filesPerTenant` range-split files each. All
    * tenants' events go through one `billingRows` call; each tenant bills
    * its own service ids (`t<org>-<kind>`), which is how rows find their
    * tenant again. Returns the total bytes written.
    */
  def writeSources(spark: SparkSession, rng: Random, dir: String,
                   tenants: Seq[TenantSource], filesPerTenant: Int): Long = {
    var id = 0L
    val rows = for {
      t <- tenants
      (bt, n) <- t.batchTimes.zip(t.batchRows)
      _ <- 0 until n
    } yield {
      id += 1
      Row(id, ts(bt), rng.nextInt(1000).toLong, s"t${t.org}-${EventTypes(rng.nextInt(EventTypes.length))}",
        rng.nextInt(50000) / 100.0, s"""{"k": ${rng.nextInt(100)}}""")
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, math.max(1, tenants.size)), EventSchema)
      .write.parquet(s"$dir/ev/events.parquet")
    graft.ops.NestedBillingOps.billingRows(spark, s"$dir/ev")
      .withColumn("tenant", regexp_extract(col("service.id"), "^t(\\d+)-", 1).cast("int"))
      .repartitionByRange(filesPerTenant * tenants.size, col("tenant"), col("export_time"))
      .sortWithinPartitions("tenant", "export_time")
      .write.partitionBy("tenant").parquet(s"$dir/src")
    Files.walk(Paths.get(s"$dir/src")).filter(p => p.toString.endsWith(".parquet"))
      .mapToLong(p => Files.size(p)).sum()
  }

  def source(spark: SparkSession, dir: String, org: Int): DataFrame =
    spark.read.parquet(s"$dir/src/tenant=$org")

  /** Pub/Sub push envelope for `{"org_id": org}` published at `publishUs`. */
  def envelope(org: Int, publishUs: Long, msgId: Int): String = {
    val data = Base64.getEncoder.encodeToString(s"""{"org_id": $org}""".getBytes(UTF_8))
    s"""{"message":{"data":"$data","messageId":"m-$msgId","publishTime":"${isoSeconds(publishUs)}"},""" +
      s""""subscription":"projects/billing/subscriptions/etl-push"}"""
  }

  def isoSeconds(us: Long): String = Instant.ofEpochSecond(us / 1000000L).toString

  /** Envelopes the front end must quarantine, one per rejection class
    * the reference distinguishes.
    */
  def malformedEnvelope(kind: Int, msgId: Int): String = {
    val b64 = (s: String) => Base64.getEncoder.encodeToString(s.getBytes(UTF_8))
    Math.floorMod(kind, 5) match {
      case 0 => s"""{"subscription":"projects/billing/subscriptions/etl-push","id":$msgId}"""
      case 1 => s"""{"message":{"messageId":"m-$msgId"}}"""
      case 2 => s"""{"message":{"data":"%%not-base64-$msgId%%"}}"""
      case 3 => s"""{"message":{"data":"${b64(s"""{"org_id": "tenant-$msgId"}""")}"}}"""
      case _ => s"""{"message": {"data": "${b64("{}")}" """
    }
  }

  /** Messages for each tenant published on a schedule every `gapS`
    * seconds from `from` (a per-tenant phase, up to a minute of delivery
    * jitter), merged into one queue in publish order. `jobTime` is the
    * publish time.
    */
  def publishTimes(rng: Random, orgs: Seq[Int], from: Long, perTenant: Int,
                   gapS: Int): Vector[(Int, Long)] =
    orgs.flatMap { org =>
      val phase = rng.nextInt(gapS)
      (1 to perTenant).map(k => org -> (from + (phase + k.toLong * gapS + rng.nextInt(60)) * 1000000L))
    }.sortBy(m => (m._2, m._1)).toVector

  private val StatusSchema = StructType(Seq(
    StructField("seq", LongType), StructField("org_id", IntegerType),
    StructField("project_id", StringType), StructField("status", StringType),
    StructField("end_date_time", TimestampType)))

  /** Pre-seeds a store's status log with `runs` past IN_PROGRESS/SUCCESS
    * pairs per tenant, the last SUCCESS at `lastWm(org)`. Returns the
    * rows written.
    */
  def writeHistory(spark: SparkSession, metaRoot: String, orgs: Seq[Int], runs: Int,
                   lastWm: Int => Long): Int = {
    var seq = 0L
    val rows = for {
      r <- (runs - 1) to 0 by -1
      org <- orgs
      st <- Seq(graft.model.EtlStatus.InProgress, graft.model.EtlStatus.Success)
    } yield {
      seq += 1
      Row(seq, org, project(org), st, ts(lastWm(org) - r * 6 * HourUs))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), StatusSchema)
      .write.parquet(s"$metaRoot/status/data")
    rows.size
  }
}
