package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: restrict the dump to named queries (dev loop)
    val only = args.drop(2).toSet
    val spark = GraftSession.forHarness()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        // hygienic queries return a materialized local checkpoint; its
        // blocks are dead once the dump is written — free them now rather
        // than waiting for a driver GC (no-op for lazy queries).
        // INVARIANT: registry queries must not return plans referencing a
        // SHARED checkpointed Dataset — this call unpersists every
        // LogicalRDD in the plan, and local checkpoints are unrecoverable
        // once unpersisted.
        org.apache.spark.sql.graft.GraftSqlBridge.releaseLocalCheckpoint(df)
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally spark.catalog.clearCache() // queries cache intermediates; don't accumulate
    }
    def q(s: String): String = "\"" + Bench.esc(s) + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
