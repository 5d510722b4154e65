package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.MaterializedViewRewrite
import graft.plans.MaterializedViewRewrite.MvCatalog

/** Seeded-random equivalence for the MV rewrite — the component both r11
  * ADVICE items landed on (COUNT-over-empty NULL, nullability drift).
  * For every random base/query pair, the rewrite-ON answer must equal the
  * rewrite-OFF (base-scan) answer: global and grouped aggregates, dim
  * filters that match all / some / ZERO rows, negative measures (min/max
  * sign handling), count/sum/min/max mixes. The property also asserts the
  * rewrite actually FIRED on a majority of eligible queries — an
  * equivalence test that never rewrites would be vacuous.
  */
class MvRewritePropertySpec extends AnyFunSuite {
  import SparkTestBase._

  private def scanRoots(df: DataFrame): Set[String] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
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

  test("property: rewrite-on ≡ rewrite-off over random bases, filters, and aggregates") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260815L)
    val dates = Seq("2024-01-01", "2024-01-02", "2024-01-03")
    val types = Seq("a", "b", "c")
    var fired = 0
    var eligible = 0
    (1 to 10).foreach { iter =>
      // random base: 0-duplicate-heavy small relation with NEGATIVE
      // measures so min/max/sum sign handling is exercised
      val n = 5 + rnd.nextInt(40)
      val rows = (1 to n).map { _ =>
        (dates(rnd.nextInt(dates.size)), types(rnd.nextInt(types.size)),
          (rnd.nextInt(300) - 100).toLong)
      }
      val base = graft.util.TempDirs.create(s"graft_mvprop_base_${iter}_")
      rows.toDF("event_date", "event_type", "value_cents")
        .coalesce(1).write.mode("overwrite").parquet(base)
      val mv = graft.util.TempDirs.create(s"graft_mvprop_mv_${iter}_")
      spark.read.parquet(base).groupBy($"event_date", $"event_type")
        .agg(count(lit(1)).as("n"), sum($"value_cents").as("sum_cents"),
          min($"value_cents").as("min_cents"), max($"value_cents").as("max_cents"))
        .write.mode("overwrite").parquet(mv)
      MvCatalog.register(spark, base, mv,
        dims = Seq("event_date", "event_type"), countCol = "n",
        sumMap = Map("value_cents" -> "sum_cents"),
        minMap = Map("value_cents" -> "min_cents"),
        maxMap = Map("value_cents" -> "max_cents"))

      (1 to 6).foreach { _ =>
        // random query: optional dim filter (sometimes a ZERO-match
        // value), random grouping subset (empty = global), 1-4 aggregates
        val filterOpt = rnd.nextInt(3) match {
          case 0 => None
          case 1 =>
            val v = if (rnd.nextInt(4) == 0) "2099-12-31" else dates(rnd.nextInt(dates.size))
            Some(col("event_date") === v)
          case _ =>
            val v = if (rnd.nextInt(4) == 0) "zz" else types(rnd.nextInt(types.size))
            Some(col("event_type") === v)
        }
        val groupCols = rnd.nextInt(4) match {
          case 0 => Seq.empty[String]
          case 1 => Seq("event_date")
          case 2 => Seq("event_type")
          case _ => Seq("event_date", "event_type")
        }
        val aggPool = Seq(
          count(lit(1)).as("cnt"),
          sum(col("value_cents")).as("s"),
          min(col("value_cents")).as("lo"),
          max(col("value_cents")).as("hi"))
        val aggs = rnd.shuffle(aggPool).take(1 + rnd.nextInt(aggPool.size))

        def query(): DataFrame = {
          val scanned = spark.read.parquet(base)
          val filtered = filterOpt.fold(scanned)(scanned.where)
          val grouped =
            if (groupCols.isEmpty) filtered.agg(aggs.head, aggs.tail: _*)
            else filtered.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
          grouped
        }

        def rows(df: DataFrame): Set[String] =
          df.collect().map(_.toString).toSet

        val on = query()
        val onRoots = scanRoots(on)
        val onRows = rows(on)
        eligible += 1
        if (onRoots.exists(_.contains(mv))) fired += 1

        val saved = spark.experimental.extraOptimizations
        spark.experimental.extraOptimizations =
          saved.filterNot(_ eq MaterializedViewRewrite)
        val offRows = try rows(query())
          finally spark.experimental.extraOptimizations = saved

        assert(onRows == offRows,
          s"iter=$iter filter=$filterOpt group=$groupCols aggs=${aggs.size}\n" +
            s"on=$onRows\noff=$offRows")
      }
    }
    // the equivalence must not be vacuous: these queries are all
    // dim-only-filtered distributive aggregates, so the rewrite should
    // serve the large majority (AQE/planner variations allowed)
    assert(fired >= eligible / 2, s"rewrite fired only $fired/$eligible times")
  }
}
