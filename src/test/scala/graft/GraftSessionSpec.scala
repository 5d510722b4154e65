package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The SQL surface: after GraftSession.init, plain `spark.sql` text over
  * the registered views and native functions must agree with the
  * DataFrame formulations.
  */
class GraftSessionSpec extends AnyFunSuite {
  import SparkTestBase._

  test("every corpus table is queryable as a view") {
    GraftSession.init(spark, Sf0001)
    GraftSession.TableNames.foreach { t =>
      assert(spark.sql(s"SELECT count(*) AS n FROM $t").head.getLong(0) > 0, t)
    }
  }

  test("native functions are SQL-callable and agree with the DataFrame path") {
    GraftSession.init(spark, Sf0001)
    val sql = spark.sql(
      """SELECT doc_id, size(graft_shingle_hashes(text)) AS n_sh,
        |  graft_simhash60_shingles(text) AS sim,
        |  graft_normalize_text(text) AS norm
        |FROM documents ORDER BY doc_id""".stripMargin)
    val df = Tables.load(spark, Sf0001, "documents")
      .select(col("doc_id"), size(expr("graft_shingle_hashes(text)")).as("n_sh"),
        expr("graft_simhash60_shingles(text)").as("sim"),
        expr("graft_normalize_text(text)").as("norm"))
      .orderBy(col("doc_id"))
    assert(sql.exceptAll(df).isEmpty && df.exceptAll(sql).isEmpty)
  }

  test("the nanos-rescaled events view pushes watermark predicates in SQL too") {
    GraftSession.init(spark, Sf0001)
    val q = spark.sql(
      "SELECT count(*) AS n FROM events WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'")
    val plan = q.queryExecution.executedPlan.toString
    assert(q.head.getLong(0) > 0)
    assert(plan.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts"),
      s"SQL text over the view must keep the pushdown rewrite\n$plan")
  }

  test("a registry entry installs every rule, strategy and function once, whatever ran before") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    // fresh registry and experimental methods, same SparkContext
    val fresh = spark.newSession()
    SparkEntry.queries("a10_ntile_deciles")(fresh, Sf0001)
    GraftSession.install(fresh)
    val rules = Seq(plans.NanosTimestampPushdown, plans.BandedIntervalJoin,
      plans.MaterializedViewRewrite)
    assert(fresh.experimental.extraOptimizations.filter(r => rules.exists(_ eq r)) == rules,
      s"each rule once, in order: ${fresh.experimental.extraOptimizations}")
    assert(fresh.experimental.extraStrategies.count(_ eq plans.AsofJoinStrategy) == 1)
    val names = (functions.NativeText.builders ++ functions.NativeVector.builders ++
      functions.NativeAgg.builders ++ functions.CountMin.builders).map(_._1) :+
      "graft_bloom_contains"
    val registered = fresh.sessionState.functionRegistry.listFunction().map(_.funcName)
    names.foreach(n => assert(registered.count(_ == n) == 1, n))
    assert(fresh.sessionState.tableFunctionRegistry
      .functionExists(FunctionIdentifier(functions.DaySpanTvf.Name)))
    assert(fresh.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(fresh.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "false")
  }

  test("queries that override session confs put back what the session had") {
    // a session that already runs RocksDB state and an armed scan guard
    // keeps both after the queries that set them for their own drains
    import graft.plans.ScanGuard
    val fresh = spark.newSession()
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val rocks = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    fresh.conf.set(provider, rocks)
    fresh.conf.set(ScanGuard.EnabledKey, "true")
    fresh.conf.set(ScanGuard.PathsKey, "orders.parquet")
    val grain = fresh.conf.get("spark.sql.shuffle.partitions")
    Seq("stream_sessionize_rocksdb", "stream_session_timers_tws",
      "stream_user_watermark_tws", "gov_scan_guard").foreach { q =>
      assert(SparkEntry.queries(q)(fresh, Sf0001).count() > 0, q)
      assert(fresh.conf.get(provider) == rocks, s"$q dropped the state-store provider")
      assert(fresh.conf.get(ScanGuard.EnabledKey) == "true", s"$q disarmed the scan guard")
      assert(fresh.conf.get(ScanGuard.PathsKey) == "orders.parquet",
        s"$q dropped the guarded paths")
      assert(fresh.conf.get("spark.sql.shuffle.partitions") == grain, s"$q kept its state grain")
    }
    assert(!fresh.conf.getAll.contains("spark.sql.streaming.noDataMicroBatches.enabled"))
  }
}
