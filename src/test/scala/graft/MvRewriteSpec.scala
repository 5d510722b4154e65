package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.MaterializedViewRewrite.MvCatalog

/** The MV-rewrite rule's plan-shape contract: a registered rollup
  * answers equivalent fact-table aggregates (the scan must read the MV's
  * files), and every soundness gate — staleness, non-dimension filters,
  * non-distributive aggregates — falls back to the base scan. Value
  * equivalence at data scale is graded by the oracled queries
  * (`mv_rewrite_rollup`, `mv_rewrite_window`); here the small fixture
  * pins WHERE each plan reads from.
  */
class MvRewriteSpec extends AnyFunSuite {
  import SparkTestBase._

  private def scanRoots(df: DataFrame): Set[String] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
      .flatMap(_.relation.location.rootPaths.map(_.toString)).toSet
  }

  private def fixture(): (String, String) = {
    import spark.implicits._
    val base = graft.util.TempDirs.create("graft_mvspec_base_")
    Seq(("2024-01-01", "a", 100L), ("2024-01-01", "a", 300L),
      ("2024-01-01", "b", 50L), ("2024-01-02", "a", 10L),
      ("2024-01-02", "b", 7L))
      .toDF("event_date", "event_type", "value_cents")
      .coalesce(1).write.mode("overwrite").parquet(base)
    val mv = graft.util.TempDirs.create("graft_mvspec_mv_")
    spark.read.parquet(base).groupBy($"event_date", $"event_type")
      .agg(count(lit(1)).as("n"), sum($"value_cents").as("sum_cents"),
        min($"value_cents").as("min_cents"), max($"value_cents").as("max_cents"))
      .write.mode("overwrite").parquet(mv)
    MvCatalog.register(spark, base, mv,
      dims = Seq("event_date", "event_type"), countCol = "n",
      sumMap = Map("value_cents" -> "sum_cents"),
      minMap = Map("value_cents" -> "min_cents"),
      maxMap = Map("value_cents" -> "max_cents"))
    (base, mv)
  }

  private def rollup(base: String): DataFrame =
    spark.read.parquet(base)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value_cents")).as("cents"),
        min(col("value_cents")).as("lo"), max(col("value_cents")).as("hi"))
      .orderBy(col("event_type"))

  test("a coarser rollup is answered from the MV, results preserved") {
    val (base, mv) = fixture()
    val df = rollup(base)
    val rows = df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(rows == Seq(("a", 3L, 410L, 10L, 300L), ("b", 2L, 57L, 7L, 50L)),
      rows.toString)
    val roots = scanRoots(df)
    assert(roots.exists(_.contains(mv)) && !roots.exists(_.contains(base)),
      s"the scan must read the MV, not the base\n${df.queryExecution.executedPlan}")
  }

  test("a dimension filter rebases onto the MV") {
    val (base, mv) = fixture()
    val df = spark.read.parquet(base)
      .where(col("event_date") === "2024-01-01")
      .groupBy(col("event_date"))
      .agg(sum(col("value_cents")).as("cents"), count(lit(1)).as("n"))
    val r = df.collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSeq
    assert(r == Seq(("2024-01-01", 450L, 3L)), r.toString)
    assert(scanRoots(df).exists(_.contains(mv)),
      df.queryExecution.executedPlan.toString)
  }

  test("base drift declines the rewrite — a stale MV never serves") {
    import spark.implicits._
    val (base, _) = fixture()
    // the base moves after registration: the fingerprint no longer matches
    Seq(("2024-01-03", "a", 1000L)).toDF("event_date", "event_type", "value_cents")
      .coalesce(1).write.mode("append").parquet(base)
    val df = rollup(base)
    val rows = df.collect().map(r => (r.getString(0), r.getLong(2))).toSeq
    // the APPENDED row is in the answer — the proof the base served it
    assert(rows == Seq(("a", 1410L), ("b", 57L)), rows.toString)
    assert(scanRoots(df).exists(_.contains(base)),
      df.queryExecution.executedPlan.toString)
  }

  test("incremental refresh re-registers a new snapshot and serving resumes") {
    import spark.implicits._
    val (base, mv1) = fixture()
    // late data lands: every rewrite on this base declines
    Seq(("2024-01-03", "b", 500L)).toDF("event_date", "event_type", "value_cents")
      .coalesce(1).write.mode("append").parquet(base)
    assert(scanRoots(rollup(base)).exists(_.contains(base)))
    // incremental refresh: delta-only rollup merged into mv1, NEW snapshot dir
    val mv2 = graft.util.TempDirs.create("graft_mvspec_mv2_")
    val delta = Seq(("2024-01-03", "b", 500L))
      .toDF("event_date", "event_type", "value_cents")
      .groupBy($"event_date", $"event_type")
      .agg(count(lit(1)).as("n"), sum($"value_cents").as("sum_cents"),
        min($"value_cents").as("min_cents"), max($"value_cents").as("max_cents"))
    spark.read.parquet(mv1).as("o")
      .join(delta.as("d"), Seq("event_date", "event_type"), "full_outer")
      .select($"event_date", $"event_type",
        (coalesce($"o.n", lit(0L)) + coalesce($"d.n", lit(0L))).as("n"),
        (coalesce($"o.sum_cents", lit(0L)) + coalesce($"d.sum_cents", lit(0L)))
          .as("sum_cents"),
        least(coalesce($"o.min_cents", $"d.min_cents"),
          coalesce($"d.min_cents", $"o.min_cents")).as("min_cents"),
        greatest(coalesce($"o.max_cents", $"d.max_cents"),
          coalesce($"d.max_cents", $"o.max_cents")).as("max_cents"))
      .write.mode("overwrite").parquet(mv2)
    MvCatalog.register(spark, base, mv2,
      dims = Seq("event_date", "event_type"), countCol = "n",
      sumMap = Map("value_cents" -> "sum_cents"),
      minMap = Map("value_cents" -> "min_cents"),
      maxMap = Map("value_cents" -> "max_cents"))
    val df = rollup(base)
    val rows = df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    // the merged MV carries the delta: b gains one 500-cent row
    assert(rows == Seq(("a", 3L, 410L, 10L, 300L), ("b", 3L, 557L, 7L, 500L)),
      rows.toString)
    val roots = scanRoots(df)
    assert(roots.exists(_.contains(mv2)) && !roots.exists(_.contains(base)),
      s"post-refresh serving must read the new MV snapshot\n${df.queryExecution.executedPlan}")
  }

  test("global COUNT with a zero-match dim filter returns 0 from the MV, not NULL") {
    val (base, mv) = fixture()
    // GLOBAL aggregate (no grouping keys): the original COUNT(*) returns a
    // non-nullable 0 over the empty match; the rewrite's SUM(mv.n) over
    // zero MV rows is NULL — the coalesce guard must restore 0 (and the
    // advertised non-nullability) or parents that elided null checks read
    // garbage.
    val df = spark.read.parquet(base)
      .where(col("event_date") === "2099-12-31")
      .agg(count(lit(1)).as("n"))
    val row = df.collect()(0)
    assert(!row.isNullAt(0) && row.getLong(0) == 0L, row.toString)
    assert(scanRoots(df).exists(_.contains(mv)),
      s"the rewrite must still fire for the global aggregate\n${df.queryExecution.executedPlan}")
    // grouped flavor for contrast: zero-match group-by emits zero ROWS in
    // both worlds — no NULL to guard, but the rewrite must not invent rows
    val grouped = spark.read.parquet(base)
      .where(col("event_date") === "2099-12-31")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    assert(grouped.collect().isEmpty)
  }

  test("a Dataset PLANNED before base drift still serves the planning-time snapshot") {
    import spark.implicits._
    val (base, mv) = fixture()
    val df = rollup(base)
    // force optimization NOW: the freshness fingerprint is checked at plan
    // time, so the physical plan pins the MV snapshot
    val planned = df.queryExecution.executedPlan.toString
    assert(scanRoots(df).exists(_.contains(mv)), planned)
    // base drifts BETWEEN analysis and execution
    Seq(("2024-01-03", "a", 1000L)).toDF("event_date", "event_type", "value_cents")
      .coalesce(1).write.mode("append").parquet(base)
    val rows = df.collect().map(r => (r.getString(0), r.getLong(2))).toSeq
    // SNAPSHOT semantics — identical to a plain parquet Dataset, whose
    // file listing is also pinned at planning: the pre-drift answer, never
    // a torn mix of old plan + new files
    assert(rows == Seq(("a", 410L), ("b", 57L)), rows.toString)
    // and a NEWLY planned query declines the stale MV and sees the drift
    val fresh = rollup(base)
    val freshRows = fresh.collect().map(r => (r.getString(0), r.getLong(2))).toSeq
    assert(freshRows == Seq(("a", 1410L), ("b", 57L)), freshRows.toString)
    assert(scanRoots(fresh).exists(_.contains(base)),
      fresh.queryExecution.executedPlan.toString)
  }

  test("non-dimension filters and non-distributive aggregates decline") {
    val (base, _) = fixture()
    val filtered = spark.read.parquet(base)
      .where(col("value_cents") > 20)
      .groupBy(col("event_type")).agg(sum(col("value_cents")).as("cents"))
    assert(scanRoots(filtered).exists(_.contains(base)),
      filtered.queryExecution.executedPlan.toString)
    assert(filtered.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      .sorted == Seq(("a", 400L), ("b", 50L)))
    val avgQ = spark.read.parquet(base)
      .groupBy(col("event_type")).agg(avg(col("value_cents")).as("m"))
    assert(scanRoots(avgQ).exists(_.contains(base)),
      avgQ.queryExecution.executedPlan.toString)
  }
}
