package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (tests fork a single JVM). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // bucketed-table tests saveAsTable(); keep the warehouse out of cwd
      .config("spark.sql.warehouse.dir", tmpDir("graft_warehouse_"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // the engine's rules, strategy and SQL functions, once for every suite
    GraftSession.install(s)
  }

  val Sf0001 = "/root/testdata/sf0.001"

  def utcTs(s: String): Timestamp =
    Timestamp.from(java.time.LocalDateTime.parse(s.replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC))

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
