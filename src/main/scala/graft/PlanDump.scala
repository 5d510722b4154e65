package graft
import org.apache.spark.sql.DataFrame

/** Dev measurement main (optimization guide §1.1/§1.4/§7.2): dump the
  * EXECUTED physical plan (`explain("formatted")`, AQE-final) for named
  * registry queries to `<outDir>/<query>_<suffix>.txt` — the before/after
  * plan evidence an optimization round commits alongside its bench numbers.
  *
  * Two accuracy rules, both from the guide:
  *  - the dumped plan is taken AFTER a noop-sink execution (§1.4), so with
  *    AQE it is the FINAL re-optimized plan (runtime join rewrites,
  *    coalesced reads), not the `isFinalPlan=false` guess;
  *  - hygienic queries return a materialized local checkpoint whose outer
  *    plan is an opaque `Scan ExistingRDD`; for those the dump uses the
  *    op's pipeline (`QueryHygiene.pipelines`) and prints the real plan
  *    (the same plan PlanSpec pins), releasing the stage's caches afterwards.
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> [query ...]
  * (no query names = every registered query). Data dir from
  * SPARK_GRAFT_SF_DIR (default sf0.001; use a larger SF when AQE/broadcast
  * thresholds are the question). Side-effecting query builders (ETL writes,
  * stream drains) execute as part of plan construction, exactly as in
  * PlanAudit.
  */
object PlanDump {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <suffix> [query ...]")
    val outDir = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(outDir)
    val suffix = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession.forHarness()
    // the report is the [plandump] lines; keep Spark's WARN chatter out
    spark.sparkContext.setLogLevel("ERROR")
    val selected =
      if (names.isEmpty) SparkEntry.queries.keys.toSeq.sorted
      else names.toSeq
    val missing = selected.filterNot(SparkEntry.queries.contains)
    if (missing.nonEmpty) System.err.println(s"[plandump] unknown queries: ${missing.mkString(", ")}")
    selected.filter(SparkEntry.queries.contains).foreach { name =>
      try {
        val (df, release): (DataFrame, () => Unit) = ops.QueryHygiene.pipelines.get(name) match {
          case Some(acc) =>
            val st = acc(spark, sfDir)
            (st.plan, () => st.release())
          case None =>
            val d = SparkEntry.queries(name)(spark, sfDir)
            (d, () => org.apache.spark.sql.graft.GraftSqlBridge.releaseLocalCheckpoint(d))
        }
        // guide §1.4: noop sink computes every column of every row and,
        // with AQE, turns the dumped plan into the FINAL executed one
        df.write.format("noop").mode("overwrite").save()
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        release()
        java.nio.file.Files.writeString(
          outDir.resolve(s"${name}_$suffix.txt"), plan)
        println(s"[plandump] wrote ${name}_$suffix.txt")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      } finally spark.catalog.clearCache()
    }
    spark.stop()
  }
}
