package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.util.ScopedConf

/** SQL-surface depth: the session capabilities a reference user driving
  * everything through SQL text expects — recursive CTEs, table-valued
  * functions, single-pass pipeline observability, and the full-scan
  * governance guard. Each runs through `spark.sql` / the analyzer
  * extension points, not the DataFrame DSL, because the surface itself
  * is what's being shipped.
  */
object SqlSurfaceOps extends QueryFamily {

  /** Recursive CTE — hierarchy walk without a driver-side loop. The part
    * catalog forms a decimal trie (parent(p) = p div 10, roots < 10);
    * the recursion joins each frontier against the table until the tree
    * is exhausted, entirely inside Spark 4's recursive-CTE executor
    * (ResolveWithCTE → UnionLoop), and the per-depth rollup is the
    * result. The same statement modulo `div`→`//` runs on DuckDB — the
    * portability story this family exists for. Depth is bounded by
    * log10(|part|), so the loop count grows with the LOG of data size —
    * a scale-safe recursion (each round is one equi-join + dedup-free
    * UNION ALL over the frontier).
    */
  private def sqlRecursiveCte(s: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.init(s, dir)
    s.sql(
      """WITH RECURSIVE tree(pk, depth) AS (
        |  SELECT p_partkey, 0 FROM part WHERE p_partkey < 10
        |  UNION ALL
        |  SELECT c.p_partkey, t.depth + 1
        |  FROM part c JOIN tree t ON (c.p_partkey div 10) = t.pk
        |  WHERE c.p_partkey >= 10
        |)
        |SELECT depth, count(*) AS n_parts, min(pk) AS min_key, max(pk) AS max_key
        |FROM tree GROUP BY depth ORDER BY depth""".stripMargin)
  }

  /** Gap-filled daily report over the injected TABLE-VALUED function
    * ([[graft.functions.DaySpanTvf]]): the calendar spine comes from
    * `graft_day_span(...)` — a distributed Range plan, not a
    * driver-materialized list — and absent days surface as explicit
    * zeros, which downstream anomaly checks require (a missing row is
    * invisible; a zero row alarms). The spine side is tiny and
    * broadcast; the fact side aggregates BEFORE the join, so the join
    * touches |days| rows, never |events|.
    */
  private def sqlTvfDays(s: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.init(s, dir)
    s.sql(
      """SELECT date_format(d.day, 'yyyy-MM-dd') AS day,
        |       coalesce(c.n, 0) AS n_events
        |FROM graft_day_span(DATE '2024-01-05', DATE '2024-02-05') d
        |LEFT JOIN (
        |  SELECT to_date(ts) AS day, count(*) AS n FROM events GROUP BY 1
        |) c ON c.day = d.day
        |ORDER BY day""".stripMargin)
  }

  /** Single-pass pipeline observability via `Dataset.observe` /
    * CollectMetrics: the screen-and-load pass reports its own intake,
    * reject, and output tallies WITHOUT a second scan — the metrics ride
    * the pass as accumulators, exactly what a 100 TB job needs instead
    * of re-aggregating the source for its run report. Two observation
    * points (pre-filter, post-filter) bracket the screen; the query's
    * result IS the reconciled report, and the oracle recomputes every
    * number from the raw table — so a metric that drifted from the data
    * it claims to describe hash-fails.
    */
  private def obsPipelineMetrics(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Observation
    val intake = new Observation("graft_obs_in_" + java.util.UUID.randomUUID())
    val output = new Observation("graft_obs_out_" + java.util.UUID.randomUUID())
    val bad = col("props").isNull || col("props") === ""
    val screened = Tables.load(s, dir, "events")
      .observe(intake,
        count(lit(1)).as("rows_in"),
        sum(when(bad, 1L).otherwise(0L)).as("rows_rejected"))
      .where(!bad)
      .select(col("event_id"), round(col("value") * 100).cast("long").as("cents"))
      .observe(output,
        count(lit(1)).as("rows_out"),
        sum(col("cents")).as("cents_out"))
    // ONE action drives the pass; the report reads the ridden-along
    // accumulators, never the source again
    val written = screened.count()
    val in = intake.get
    val out = output.get
    require(written == out("rows_out").asInstanceOf[Long],
      "observed rows_out must equal the action's own count")
    import s.implicits._
    Seq((in("rows_in").asInstanceOf[Long], in("rows_rejected").asInstanceOf[Long],
      out("rows_out").asInstanceOf[Long], out("cents_out").asInstanceOf[Long]))
      .toDF("rows_in", "rows_rejected", "rows_out", "cents_out")
  }

  /** The full-scan guard as an operator: with [[graft.plans.ScanGuard]]
    * armed over the events table, the time-filtered rollup passes the
    * check and returns (oracled), while the same rollup WITHOUT a time
    * predicate is rejected at analysis — asserted in-query, so a guard
    * that rotted into a no-op turns this row red. GraftExtensionsSpec
    * pins the cluster-wide `injectCheckRule` wiring of the same check.
    */
  private def govScanGuard(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.ScanGuard
    val ev = Tables.load(s, dir, "events")
    ScopedConf.withConfs(s,
        ScanGuard.EnabledKey -> "true", ScanGuard.PathsKey -> "events.parquet") {
      val compliant = ev
        .where(col("ts") >= lit("2024-01-01").cast("timestamp"))
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy(col("day"))
      ScanGuard.check(s)(compliant.queryExecution.analyzed)
      val bare = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      val blocked =
        try { ScanGuard.check(s)(bare.queryExecution.analyzed); false }
        catch { case _: IllegalStateException => true }
      require(blocked, "scan guard must reject the unfiltered scan")
      compliant
    }
  }

  /** The custom `GRAFT HISTORY` statement ([[graft.plans.GraftSqlParser]],
    * deployed cluster-wide via `injectParser`): publish two audited
    * batches to a manifest-ledger destination, then read the commit log
    * back THROUGH THE SQL VERB — batch ids, per-batch file counts
    * (metadata-only), and row counts over exactly the manifest-named
    * files. Staging is coalesced to one file per batch so the ledger's
    * file column is deterministic for the oracle; the row counts are
    * re-derived from the raw events split in DuckDB, so a statement that
    * read the wrong snapshot hash-fails.
    */
  // The published two-batch ledger is deterministic per (session, sfDir) —
  // build it once per JVM (the memoized value is a PATH; same invariants
  // as NestedBillingOps.destMemo). The HISTORY statement itself always
  // runs live against the ledger.
  private val histMemo = new graft.util.SessionMemo[String, String]

  private def sqlParserHistory(s: SparkSession, dir: String): DataFrame = {
    val dest = histMemo.getOrElseUpdate(s, dir) {
      val ev = Tables.load(s, dir, "events").select(
        col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd").as("export_date"))
      val root = graft.util.TempDirs.create("graft_hist_")
      def stageAndPublish(batchId: String, batch: DataFrame): Unit = {
        val stage = s"$root/staging/$batchId"
        batch.coalesce(1).write.parquet(stage)
        val r = graft.etl.Destination.publishStaged(s, s"$root/dest", stage, batchId, batch.count())
        require(r.isRight, s"history fixture publish failed: $r")
      }
      stageAndPublish("b1_early", ev.where(col("export_date") < "2024-01-11"))
      stageAndPublish("b2_late", ev.where(col("export_date") >= "2024-01-11"))
      s"$root/dest"
    }
    val plan = new graft.plans.GraftSqlParser(s.sessionState.sqlParser)
      .parsePlan(s"GRAFT HISTORY '$dest'")
    org.apache.spark.sql.graft.GraftSqlBridge.ofRows(s, plan)
      .orderBy(col("batch_id"))
  }

  /** The SQL PIVOT clause — monthly type×cents crosstab with an EXPLICIT
    * value list (declared columns, so no distinct-values pre-job scans
    * the fact table at 100 TB; the DataFrame twin is `mix_pivot_matrix`).
    * DuckDB's PIVOT dialect differs, so the oracle is the portable
    * conditional-aggregation spelling — same result, which is the point.
    */
  private def sqlPivot(s: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.init(s, dir)
    s.sql(
      """SELECT week, coalesce(view, 0) AS view_cents,
        |  coalesce(click, 0) AS click_cents,
        |  coalesce(purchase, 0) AS purchase_cents
        |FROM (
        |  SELECT date_format(date_trunc('week', ts), 'yyyy-MM-dd') AS week, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events
        |) PIVOT (
        |  sum(c) FOR event_type IN ('view' AS view, 'click' AS click,
        |                            'purchase' AS purchase)
        |)
        |ORDER BY week""".stripMargin)
  }

  /** The SQL UNPIVOT clause — the wide monthly report melted back to
    * (month, metric, val) rows, the reshape every metrics warehouse does
    * before a generic time-series store. Map-only over the already-small
    * rollup; the oracle is the portable UNION ALL spelling.
    */
  private def sqlUnpivot(s: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.init(s, dir)
    s.sql(
      """SELECT week, metric, val FROM (
        |  SELECT date_format(date_trunc('week', ts), 'yyyy-MM-dd') AS week,
        |    count(*) AS n_events,
        |    count(DISTINCT user_id) AS n_users
        |  FROM events GROUP BY 1
        |) UNPIVOT (val FOR metric IN (n_events, n_users))
        |ORDER BY week, metric""".stripMargin)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sql_api_parser_history" -> (sqlParserHistory _),
    "sql_api_pivot" -> (sqlPivot _),
    "sql_api_unpivot" -> (sqlUnpivot _),
    "sql_api_recursive_cte" -> (sqlRecursiveCte _),
    "sql_api_tvf_days" -> (sqlTvfDays _),
    "obs_pipeline_metrics" -> (obsPipelineMetrics _),
    "gov_scan_guard" -> (govScanGuard _)
  )

  val oracleSql: Map[String, String] = Map(
    "sql_api_pivot" ->
      """SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
        |  CAST(coalesce(sum(CASE WHEN event_type = 'view'
        |    THEN CAST(round(value * 100) AS BIGINT) END), 0) AS BIGINT) AS view_cents,
        |  CAST(coalesce(sum(CASE WHEN event_type = 'click'
        |    THEN CAST(round(value * 100) AS BIGINT) END), 0) AS BIGINT) AS click_cents,
        |  CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
        |    THEN CAST(round(value * 100) AS BIGINT) END), 0) AS BIGINT) AS purchase_cents
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "sql_api_unpivot" ->
      """WITH m AS (
        |  SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |  FROM events GROUP BY 1)
        |SELECT week, 'n_events' AS metric, n_events AS val FROM m
        |UNION ALL
        |SELECT week, 'n_users' AS metric, n_users AS val FROM m
        |ORDER BY week, metric""".stripMargin,
    "sql_api_parser_history" ->
      """WITH e AS (SELECT strftime(ts, '%Y-%m-%d') AS d FROM events)
        |SELECT 'b1_early' AS batch_id, CAST(1 AS INTEGER) AS n_files,
        |  CAST(count(*) AS BIGINT) AS n_rows FROM e WHERE d < '2024-01-11'
        |UNION ALL
        |SELECT 'b2_late' AS batch_id, CAST(1 AS INTEGER) AS n_files,
        |  CAST(count(*) AS BIGINT) AS n_rows FROM e WHERE d >= '2024-01-11'
        |ORDER BY batch_id""".stripMargin,
    "sql_api_recursive_cte" ->
      """WITH RECURSIVE tree(pk, depth) AS (
        |  SELECT p_partkey, 0 FROM part WHERE p_partkey < 10
        |  UNION ALL
        |  SELECT c.p_partkey, t.depth + 1
        |  FROM part c JOIN tree t ON (c.p_partkey // 10) = t.pk
        |  WHERE c.p_partkey >= 10
        |)
        |SELECT CAST(depth AS INTEGER) AS depth,
        |  CAST(count(*) AS BIGINT) AS n_parts,
        |  CAST(min(pk) AS BIGINT) AS min_key, CAST(max(pk) AS BIGINT) AS max_key
        |FROM tree GROUP BY depth ORDER BY depth""".stripMargin,
    "sql_api_tvf_days" ->
      """SELECT strftime(d.day, '%Y-%m-%d') AS day,
        |  CAST(coalesce(c.n, 0) AS BIGINT) AS n_events
        |FROM (SELECT CAST(gs.generate_series AS DATE) AS day
        |      FROM generate_series(DATE '2024-01-05', DATE '2024-02-05',
        |                           INTERVAL 1 DAY) gs) d
        |LEFT JOIN (
        |  SELECT CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1
        |) c ON c.day = d.day
        |ORDER BY day""".stripMargin,
    "obs_pipeline_metrics" ->
      """SELECT CAST(count(*) AS BIGINT) AS rows_in,
        |  CAST(sum(CASE WHEN props IS NULL OR props = '' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS rows_rejected,
        |  CAST(sum(CASE WHEN props IS NULL OR props = '' THEN 0 ELSE 1 END)
        |    AS BIGINT) AS rows_out,
        |  CAST(sum(CASE WHEN props IS NULL OR props = '' THEN 0
        |    ELSE CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS cents_out
        |FROM events""".stripMargin,
    "gov_scan_guard" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_events
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
