package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Dev measurement main (optimization guide §6): file-count/size audit of
  * every scratch directory an ETL write/maintenance query leaves behind —
  * the round-18 "no write path sprays tiny files because partitions=cpus"
  * check (VERDICT item 2). Runs each named query once in a Bench-identical
  * session, then diffs the scratch root's graft_* dirs before/after and
  * reports, per new dir, the parquet file count, total bytes, and
  * mean/max file size.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.EtlFileAudit [query ...]"
  */
object EtlFileAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val targets = if (args.nonEmpty) args.toSeq else Seq(
      "etl_tombstone_delete", "etl_compact_dest", "etl_manifest_compact",
      "etl_backfill_window", "etl_partition_evolution", "etl_run_dest_exact",
      "etl_run_dest", "j8_partition_prune_join", "j12_bucketed_join",
      "etl_vacuum_retention", "etl_time_travel", "etl_wap")
    val spark = GraftSession.forHarness()
    // the report is the [fileaudit] lines; keep Spark's WARN chatter out
    spark.sparkContext.setLogLevel("ERROR")

    val root = Paths.get(graft.util.TempDirs.rootDescription)
    def scratchDirs(): Set[Path] =
      Files.list(root).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("graft_"))
        .toSet

    def audit(dir: Path): (Long, Long, Long) = { // (nFiles, totalBytes, maxBytes)
      val files = Files.walk(dir).iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .toSeq
      val sizes = files.map(Files.size)
      (files.size.toLong, sizes.sum, if (sizes.isEmpty) 0L else sizes.max)
    }

    targets.foreach { name =>
      val before = scratchDirs()
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.count()
      org.apache.spark.sql.graft.GraftSqlBridge.releaseLocalCheckpoint(df)
      spark.catalog.clearCache()
      val fresh = (scratchDirs() -- before).toSeq.sortBy(_.toString)
      println(s"[fileaudit] $name:")
      fresh.foreach { d =>
        val (n, total, max) = audit(d)
        if (n > 0) {
          val mean = total / n
          println(f"[fileaudit]   ${d.getFileName}%-36s files=$n%4d total=${total / 1024}%8d KiB mean=${mean / 1024}%6d KiB max=${max / 1024}%6d KiB")
        }
      }
    }
    spark.stop()
  }
}
