package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The `spark.sql.extensions=graft.GraftExtensions` deployment path: a
  * session built through the CONFIG STRING (not a code call) must carry
  * the native functions and the pushdown rule — this is how the engine
  * reaches jobs that never import graft code (notebooks, thrift server).
  */
class GraftExtensionsSpec extends AnyFunSuite {

  test("extensions class (by config name) wires functions and the pushdown rule into a fresh session") {
    val base = SparkTestBase.spark // ensure the shared SparkContext exists
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // spark.sql.extensions is a STATIC conf resolved from the
    // SparkContext's conf at context creation — not settable on the
    // shared test context. Validate the two halves separately: the
    // config path's contract is "instantiable by name with a zero-arg
    // constructor", and the instance must wire a fresh session.
    val byName = Class.forName("graft.GraftExtensions")
      .getDeclaredConstructor().newInstance()
      .asInstanceOf[org.apache.spark.sql.SparkSessionExtensions => Unit]
    try {
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(byName)
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
      assert(s2 ne base, "cleared builder must yield a NEW session (shared context)")
      // native function callable from bare SQL with no register() call
      val c = s2.sql(
        """SELECT graft_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
          |                    array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c"""
          .stripMargin)
        .collect()(0).getDouble(0)
      assert(math.abs(c - 1.0) < 1e-12, s"graft_cosine must resolve and evaluate, got $c")
      // the CMS aggregate rode along too (the newest builder list)
      val est = s2.sql(
        """SELECT graft_cms_lookup(cms, 7L, 3, 64) AS est FROM
          |  (SELECT graft_cms_sketch(k, 3, 64) AS cms FROM
          |    (SELECT CAST(7 AS BIGINT) AS k))""".stripMargin)
        .collect()(0).getLong(0)
      assert(est == 1L, s"CMS of one key must estimate exactly 1, got $est")
      // and the optimizer rule rode along
      assert(s2.sessionState.optimizer.extendedOperatorOptimizationRules
        .contains(plans.NanosTimestampPushdown),
        "NanosTimestampPushdown must be injected by the extensions")
      // the same functions, table functions and rules as an installed session
      val installed = GraftSession.install(base.newSession())
      def graftNames(names: Seq[org.apache.spark.sql.catalyst.FunctionIdentifier]) =
        names.map(_.funcName).filter(_.startsWith("graft_")).toSet
      assert(graftNames(s2.sessionState.functionRegistry.listFunction()) ==
        graftNames(installed.sessionState.functionRegistry.listFunction()))
      assert(graftNames(s2.sessionState.tableFunctionRegistry.listFunction()) ==
        graftNames(installed.sessionState.tableFunctionRegistry.listFunction()))
      assert(s2.sessionState.optimizer.extendedOperatorOptimizationRules
        .filter(_.getClass.getName.startsWith("graft.")) ==
        installed.experimental.extraOptimizations)
      // and the planner strategy for the custom as-of operator
      assert(s2.sessionState.planner.strategies.contains(plans.AsofJoinStrategy),
        "AsofJoinStrategy must be injected by the extensions")
      // the TABLE-VALUED function resolves from bare SQL too
      val days = s2.sql(
        "SELECT count(*) AS n FROM graft_day_span(DATE '2024-01-01', DATE '2024-01-31')")
        .collect()(0).getLong(0)
      assert(days == 31L, s"graft_day_span must resolve via injectTableFunction, got $days")
      // and the scan-guard CHECK rule fires at analysis time when armed
      val guarded = SparkTestBase.tmpDir("graft_guard_") + "/events.parquet"
      s2.range(3).selectExpr("CAST(id AS TIMESTAMP) AS ts", "id AS v")
        .write.parquet(guarded)
      s2.conf.set(plans.ScanGuard.EnabledKey, "true")
      s2.conf.set(plans.ScanGuard.PathsKey, "events.parquet")
      try {
        val blocked = intercept[IllegalStateException] {
          s2.read.parquet(guarded).groupBy("v").count().collect()
        }
        assert(blocked.getMessage.contains("scan guard"),
          "unfiltered guarded scan must be rejected by the injected check rule")
        // a time predicate unblocks the same query
        val n = s2.read.parquet(guarded)
          .where("ts >= TIMESTAMP '1970-01-01 00:00:00'")
          .groupBy("v").count().collect().length
        assert(n == 3, "filtered guarded scan must pass the check rule")
      } finally {
        s2.conf.set(plans.ScanGuard.EnabledKey, "false")
        s2.conf.unset(plans.ScanGuard.PathsKey)
      }
      // the injected PARSER adds GRAFT HISTORY without disturbing normal SQL
      assert(s2.sql("SELECT 1 + 1 AS two").collect()(0).getInt(0) == 2,
        "delegated parsing must still work with the custom parser installed")
      val dest = SparkTestBase.tmpDir("graft_ext_hist_")
      val batch = s2.range(5).selectExpr("id AS v")
      batch.coalesce(1).write.parquet(s"$dest/stage/b1")
      val pub = etl.Destination.publishStaged(s2, s"$dest/dest", s"$dest/stage/b1", "b1", 5L)
      assert(pub.isRight, s"fixture publish failed: $pub")
      val hist = s2.sql(s"GRAFT HISTORY '$dest/dest'").collect()
      assert(hist.length == 1 && hist(0).getString(0) == "b1" &&
        hist(0).getInt(1) == 1 && hist(0).getLong(2) == 5L,
        s"GRAFT HISTORY must read the ledger via the injected parser, got ${hist.toSeq}")
    } finally {
      // restore the shared session for every other suite (do NOT stop s2 —
      // it shares the one SparkContext)
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
