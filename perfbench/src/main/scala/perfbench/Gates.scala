package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.EtlStatus
import graft.schema.BillingExportSchema

/** Correctness checks on what a run left behind. Each returns the groups
  * (tenants, or backfill ops) that failed; expectations come from the
  * generated inputs and [[Expect]], never from the engine's own reports.
  */
object Gates {
  val Cols: Seq[String] = BillingExportSchema.schema.fieldNames.toSeq

  /** Weighted multiset fingerprint per group `g`: row weight, and two
    * independent row hashes over every nested field, each summed with the
    * weight. Equal fingerprints mean equal multisets barring a double
    * 64+32-bit hash collision.
    */
  def fingerprint(rows: DataFrame): Map[String, (Long, BigDecimal, BigDecimal)] = {
    val c = Cols.map(col)
    rows.select(col("g").cast("string").as("g"), col("w").cast("long").as("w"),
        xxhash64(c: _*).cast("decimal(38,0)").as("h1"),
        hash(c: _*).cast("decimal(38,0)").as("h2"))
      .groupBy("g")
      .agg(sum("w"), sum(col("h1") * col("w")), sum(col("h2") * col("w")))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), BigDecimal(r.getDecimal(2)), BigDecimal(r.getDecimal(3)))))
      .toMap
  }

  /** Groups whose destination multiset differs from the expected one. */
  def multisetMismatch(expected: DataFrame, actual: => DataFrame, groups: Seq[String]): Seq[String] = {
    val e = fingerprint(expected)
    try {
      val a = fingerprint(actual)
      groups.filter(g => e.get(g) != a.get(g))
    } catch { case ex: org.apache.spark.sql.AnalysisException =>
      // an unreadable destination (no files left) fails every group read with it
      System.err.println(s"[perfbench] destination unreadable: ${ex.getMessage}")
      groups
    }
  }

  /** Destination rows of each group, weight 1. */
  def destRows(spark: SparkSession, dirs: Seq[(String, String)]): DataFrame =
    dirs.map { case (g, dir) =>
      spark.read.parquet(dir).select((Cols.map(col) :+ lit(g).as("g") :+ lit(1L).as("w")): _*)
    }.reduce(_ unionByName _)

  /** Source rows of every tenant under `srcRoot`, each weighted by how
    * many windows admitted its export batch (`mult` per tenant, batch
    * index aligned with the tenant's `batchTimes`).
    */
  def admittedRows(spark: SparkSession, srcRoot: String, sources: Map[Int, TenantSource],
                   mult: Map[Int, Array[Int]]): DataFrame = {
    val weights = for {
      (org, m) <- mult.toSeq
      i <- m.indices if m(i) > 0
    } yield Row(org, sources(org).batchTimes(i), m(i))
    val wdf = spark.createDataFrame(spark.sparkContext.parallelize(weights, 1), StructType(Seq(
      StructField("tenant", IntegerType), StructField("us", LongType), StructField("w", IntegerType))))
    spark.read.parquet(srcRoot)
      .withColumn("us", unix_micros(col("export_time")))
      .join(broadcast(wdf), Seq("tenant", "us"))
      .withColumn("g", col("tenant"))
  }

  /** Status rows appended after the pre-seeded history, per tenant in
    * `seq` order, must be exactly IN_PROGRESS then SUCCESS at each
    * committed watermark.
    */
  def statusMismatch(spark: SparkSession, statusDir: String, historyRows: Int,
                     committed: Map[Int, Seq[Long]]): Seq[String] = {
    val got = spark.read.parquet(statusDir)
      .where(col("seq") > historyRows)
      .select(col("org_id"), col("seq"), col("status"), unix_micros(col("end_date_time")))
      .collect()
      .groupBy(_.getInt(0))
      .map { case (org, rs) =>
        org -> rs.sortBy(_.getLong(1)).map(r => (r.getString(2), Option(r.get(3)).map(_.asInstanceOf[Long]))).toSeq
      }
    val orgs = (got.keySet ++ committed.keySet).toSeq.sorted
    orgs.filter { org =>
      val want = committed.getOrElse(org, Nil)
        .flatMap(w => Seq(EtlStatus.InProgress -> Some(w), EtlStatus.Success -> Some(w)))
      got.getOrElse(org, Nil) != want
    }.map(_.toString)
  }
}
