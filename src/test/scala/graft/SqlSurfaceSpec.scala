package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SQL-surface family: recursive CTE semantics, the day-span TVF's plan
  * shape and argument validation, scan-guard coverage semantics, and
  * observe-metrics reconciliation.
  */
class SqlSurfaceSpec extends AnyFunSuite {
  import SparkTestBase._

  test("recursive CTE depth census matches the decimal-trie closed form") {
    val rows = ops.SqlSurfaceOps.queries("sql_api_recursive_cte")(spark, Sf0001)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // the trie's depth IS digit-count minus one: every part must be
    // reachable and counted exactly once
    val truth = Tables.load(spark, Sf0001, "part")
      .select((length(col("p_partkey").cast("string")) - 1).as("depth"))
      .groupBy("depth").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rows == truth, s"$rows != $truth")
  }

  test("day-span TVF emits a distributed Range plan, not a local list") {
    val df = spark.sql(
      "SELECT day FROM graft_day_span(DATE '2024-02-27', DATE '2024-03-02')")
    val days = df.collect().map(_.getDate(0).toString).sorted
    assert(days.toSeq == Seq("2024-02-27", "2024-02-28", "2024-02-29",
      "2024-03-01", "2024-03-02"), "leap-day span wrong")
    // the scale claim: the spine is Spark's Range leaf (parallelizable,
    // codegen-fused), never a driver-built LocalRelation
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("Range"), s"expected Range leaf in:\n$plan")
    assert(!plan.contains("LocalRelation"), s"driver-side spine in:\n$plan")
  }

  test("day-span TVF rejects bad arity, unparseable dates, inverted spans") {
    intercept[Exception] {
      spark.sql("SELECT * FROM graft_day_span(DATE '2024-01-01')").collect()
    }
    intercept[Exception] {
      spark.sql("SELECT * FROM graft_day_span('nope', DATE '2024-01-02')").collect()
    }
    intercept[Exception] {
      spark.sql(
        "SELECT * FROM graft_day_span(DATE '2024-01-02', DATE '2024-01-01')").collect()
    }
    // timestamp-typed bounds fold through the UTC date cast
    val n = spark.sql(
      """SELECT count(*) AS n FROM graft_day_span(
        |  TIMESTAMP '2024-01-01 23:59:59', TIMESTAMP '2024-01-03 00:00:01')"""
        .stripMargin).collect()(0).getLong(0)
    assert(n == 3L, s"timestamp bounds must span 3 days, got $n")
  }

  test("scan guard: filters cover only their own subtree; subqueries start uncovered") {
    import graft.plans.ScanGuard
    val ev = Tables.load(spark, Sf0001, "events")
    spark.conf.set(ScanGuard.EnabledKey, "true")
    spark.conf.set(ScanGuard.PathsKey, "events.parquet")
    try {
      // covered: filter on ts above the scan (even above a join)
      val dim = Tables.load(spark, Sf0001, "customer")
      val joined = ev.where(col("ts") >= lit("2024-01-01").cast("timestamp"))
        .join(dim, ev("user_id") === dim("c_custkey"))
        .groupBy("c_mktsegment").count()
      ScanGuard.check(spark)(joined.queryExecution.analyzed)
      // not covered: the same join with the filter on the DIM side only
      val wrongSide = ev
        .join(dim.where(col("c_custkey") > 0), ev("user_id") === dim("c_custkey"))
        .groupBy("c_mktsegment").count()
      intercept[IllegalStateException] {
        ScanGuard.check(spark)(wrongSide.queryExecution.analyzed)
      }
      // a scalar subquery over the guarded table is NOT covered by the
      // outer query's filter
      graft.GraftSession.init(spark, Sf0001)
      val sub = spark.sql(
        """SELECT c_mktsegment, count(*) AS n FROM customer
          |WHERE c_custkey < (SELECT max(user_id) FROM events)
          |GROUP BY 1""".stripMargin)
      intercept[IllegalStateException] {
        ScanGuard.check(spark)(sub.queryExecution.analyzed)
      }
      // non-guarded tables are never touched
      val other = dim.groupBy("c_mktsegment").count()
      ScanGuard.check(spark)(other.queryExecution.analyzed)
    } finally {
      spark.conf.set(ScanGuard.EnabledKey, "false")
      spark.conf.unset(ScanGuard.PathsKey)
    }
  }

  test("GRAFT HISTORY grammar: case/semicolon tolerant, delegating, empty-safe") {
    val p = new graft.plans.GraftSqlParser(spark.sessionState.sqlParser)
    assert(p.parsePlan("graft history '/tmp/x';")
      .isInstanceOf[graft.plans.GraftHistoryCommand])
    assert(p.parsePlan("  GRAFT\n  HISTORY\t'/a b/c'  ")
      .asInstanceOf[graft.plans.GraftHistoryCommand].destDir == "/a b/c")
    // anything else delegates verbatim
    assert(spark.sessionState.executePlan(p.parsePlan("SELECT 1 AS one"))
      .analyzed.schema.fieldNames.toSeq == Seq("one"))
    intercept[Exception] { p.parsePlan("GRAFT HISTORIES '/tmp/x'") }
    // a destination with no ledger yields an empty history, not an error
    val empty = org.apache.spark.sql.graft.GraftSqlBridge
      .ofRows(spark, p.parsePlan(s"GRAFT HISTORY '${tmpDir("graft_nohist_")}'"))
    assert(empty.collect().isEmpty)
  }

  test("weighted median and motif census match driver-side brute force") {
    val med = ops.SeriesOps.queries("stats_weighted_median")(spark, Sf0001)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val raw = Tables.load(spark, Sf0001, "events")
      .select(col("event_type"), round(col("value") * 100).cast("long"),
        (col("user_id") % 4 + 1))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    raw.groupBy(_._1).foreach { case (et, rows) =>
      val tw = rows.map(_._3).sum
      var cum = 0L
      val m = rows.sortBy(_._2).collectFirst {
        case (_, c, w) if { cum += w; cum * 2 >= tw } => c
      }.get
      assert(med(et) == ((m, tw)), s"$et: ${med(et)} != ($m, $tw)")
    }
    val motif = ops.SeriesOps.queries("path_motif_match")(spark, Sf0001).collect()(0)
    val seqs = Tables.load(spark, Sf0001, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val hits = seqs.groupBy(_._1).toSeq.flatMap { case (u, rows) =>
      rows.sortBy(t => (t._3, t._4)).map(_._2).sliding(3)
        .filter(_.toSeq == Seq("view", "click", "purchase")).map(_ => u)
    }
    assert(motif.getLong(0) == hits.length.toLong, "motif count != brute force")
    assert(motif.getLong(1) == hits.distinct.length.toLong, "motif users != brute force")
  }

  test("observe metrics reconcile with a direct recomputation") {
    val row = ops.SqlSurfaceOps.queries("obs_pipeline_metrics")(spark, Sf0001)
      .collect()(0)
    val bad = col("props").isNull || col("props") === ""
    val truth = Tables.load(spark, Sf0001, "events").agg(
      count(lit(1)).as("rows_in"),
      sum(when(bad, 1L).otherwise(0L)).as("rej"),
      sum(when(bad, 0L).otherwise(1L)).as("out"),
      sum(when(bad, 0L).otherwise(round(col("value") * 100).cast("long")))
        .as("cents")).collect()(0)
    assert(row.getLong(0) == truth.getLong(0))
    assert(row.getLong(1) == truth.getLong(1))
    assert(row.getLong(2) == truth.getLong(2))
    assert(row.getLong(3) == truth.getLong(3))
  }
}
