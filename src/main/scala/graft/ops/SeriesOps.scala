package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Ordered-series analytics the reference's users run downstream of the
  * ETL destination (reference: the BigQuery-side "analyze the landed
  * events" half of README.md's pipeline diagram) — interval algebra,
  * clamped running balances, exact apportionment, and change-point
  * scans. Every operator is a window/groupBy composition over ONE
  * key-partitioned shuffle (no self-joins, no iteration, no driver-side
  * loops), in exact integer arithmetic so the DuckDB oracle hash-matches
  * bit for bit.
  */
object SeriesOps extends QueryFamily {

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")

  /** W20: interval coalescing (merge overlapping activity intervals).
    * Each event opens a 15-minute half-open activity interval
    * [ts, ts+900s); overlapping or touching intervals per user merge
    * into maximal islands — the classic coverage problem behind session
    * dedup, on-call coverage, and GPU-occupancy accounting. The island
    * boundary is `start > max(end) over all prior intervals` (prefix
    * max), so the whole merge is two window functions and one groupBy
    * over a single user_id shuffle — never an interval self-join. At
    * 100 TB each user's intervals sort inside their partition
    * (spillable), and the prefix max is O(1) per row. Microsecond
    * BIGINT arithmetic end to end; oracle is the identical window
    * composition in DuckDB.
    */
  private def w20IntervalMerge(s: SparkSession, dir: String): DataFrame = {
    val iv = events(s, dir).select(
      col("user_id"),
      unix_micros(col("ts")).as("s"),
      (unix_micros(col("ts")) + lit(900000000L)).as("e"),
      col("event_id"))
    val order = Window.partitionBy("user_id").orderBy(col("s"), col("event_id"))
    val prior = order.rowsBetween(Window.unboundedPreceding, -1)
    iv
      .withColumn("pe", max(col("e")).over(prior))
      .withColumn("nf", when(col("pe").isNull || col("s") > col("pe"), 1L).otherwise(0L))
      .withColumn("island", sum(col("nf")).over(order.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("s")).as("is"), max(col("e")).as("ie"), count(lit(1)).as("n_iv"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_merged"),
        sum(col("ie") - col("is")).as("covered_us"),
        sum(col("n_iv")).as("n_raw"))
      .orderBy(col("user_id"))
  }

  /** W21: clamped running balance — a wallet where withdrawals beyond
    * the current balance are truncated (balance floors at zero), the
    * credit-ledger shape reference users build over the landed billing
    * events. Naively this is a sequential fold (balance_t depends on
    * the clamp at t-1), but the floor-at-zero fold has a closed form
    * over plain prefix aggregates:
    *
    *   balance_t = prefix_t − min(0, running_min(prefix)_t)
    *
    * so it costs two window functions over one user_id shuffle instead
    * of a per-key sequential scan — the difference between a window and
    * an un-parallelizable loop at 100 TB. Deltas are exact cents
    * (even event_id = deposit, odd = withdrawal); the oracle replays
    * the same identity in DuckDB.
    */
  private def w21ClampedBalance(s: SparkSession, dir: String): DataFrame = {
    val cents = round(col("value") * 100).cast("long")
    val tx = events(s, dir).select(
      col("user_id"), col("event_id"),
      when(col("event_id") % 2 === 0, cents).otherwise(-cents).as("delta"))
    val order = Window.partitionBy("user_id").orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val byLast = Window.partitionBy("user_id").orderBy(col("event_id").desc)
    tx
      .withColumn("p", sum(col("delta")).over(order))
      .withColumn("rm", min(col("p")).over(order))
      .withColumn("balance", col("p") - least(lit(0L), col("rm")))
      .withColumn("lost", -least(lit(0L), col("rm")))
      .withColumn("rn", row_number().over(byLast))
      .where(col("rn") === 1)
      .groupBy(col("user_id"))
      .agg(max(col("balance")).as("final_balance"),
        max(col("lost")).as("lost_cents"))
      .orderBy(col("user_id"))
  }

  /** Largest-remainder apportionment: split an exact budget of 10 000
    * sample slots across document sources proportional to their corpus
    * share — the quota step every mixture pipeline needs BEFORE
    * `mix_exact_quota` can draw, with the guarantee that quotas sum to
    * exactly the budget (floor division loses slots; the remainder
    * ranking hands them back deterministically). Pure integer math:
    * base = slots·cnt div total, leftovers to the largest
    * slots·cnt mod total (source name breaks ties), so the DuckDB
    * oracle replays it exactly. One tiny aggregate (|sources| rows)
    * after a map-side-combinable count — nothing here grows with data
    * volume except the first count.
    */
  private def mixLargestRemainder(s: SparkSession, dir: String): DataFrame = {
    val slots = 10000L
    val counts = Tables.load(s, dir, "documents")
      .groupBy(col("source")).agg(count(lit(1)).as("cnt"))
    val total = Window.partitionBy()
    val byRem = Window.orderBy(col("rem").desc, col("source"))
    counts
      .withColumn("t", sum(col("cnt")).over(total))
      .withColumn("base", expr(s"($slots * cnt) div t"))
      .withColumn("rem", expr(s"($slots * cnt) % t"))
      .withColumn("leftover", lit(slots) - sum(col("base")).over(total))
      .withColumn("rnk", row_number().over(byRem))
      .select(col("source"), col("cnt"),
        col("base"),
        (col("base") + when(col("rnk") <= col("leftover"), 1L).otherwise(0L))
          .as("quota"))
      .orderBy(col("source"))
  }

  /** CUSUM change-point scan over the daily event counts: the point
    * where the cumulative deviation from the overall mean peaks is the
    * most likely level-shift day — the volume-regression alarm run
    * against every landed day. Deviations are scaled by n (S_i =
    * Σ(c_j·n − total)) so the mean never leaves integer space; the
    * argmax is a TopK(1) with a date tiebreak, not a driver-side scan.
    * The daily rollup is partial-agg friendly (|days| rows out of the
    * fact scan); everything after is O(|days|).
    */
  private def statsCusumShift(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val all = Window.partitionBy()
    val order = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)
    daily
      .withColumn("n_days", count(lit(1)).over(all))
      .withColumn("total", sum(col("c")).over(all))
      .withColumn("s_scaled", sum(col("c") * col("n_days") - col("total")).over(order))
      .orderBy(abs(col("s_scaled")).desc, col("day"))
      .limit(1)
      .select(date_format(col("day"), "yyyy-MM-dd").as("shift_day"),
        col("s_scaled"), col("n_days"), col("total").as("total_events"))
  }

  /** W22: longest idle gap per user — the dual of interval coalescing
    * (w20 reports what activity COVERS, this reports the largest hole
    * between merged activity islands: the churn-risk signal). Same
    * prefix-max window over the same single user_id shuffle; a gap
    * exists exactly where a new island starts (s > max prior end), so
    * no second pass over the merged islands is needed. Users with one
    * island report zero.
    */
  private def w22IdleGap(s: SparkSession, dir: String): DataFrame = {
    val iv = events(s, dir).select(
      col("user_id"),
      unix_micros(col("ts")).as("s"),
      (unix_micros(col("ts")) + lit(900000000L)).as("e"),
      col("event_id"))
    val prior = Window.partitionBy("user_id").orderBy(col("s"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    iv.withColumn("pe", max(col("e")).over(prior))
      .withColumn("gap",
        when(col("pe").isNotNull && col("s") > col("pe"), col("s") - col("pe"))
          .otherwise(0L))
      .groupBy(col("user_id"))
      .agg(max(col("gap")).as("max_idle_us"),
        sum(when(col("gap") > 0, 1L).otherwise(0L)).as("n_gaps"))
      .orderBy(col("user_id"))
  }

  /** Wald–Wolfowitz-shaped runs census over the daily volume series —
    * the randomness diagnostic that closes the time-series suite (CUSUM
    * finds the level shift, the slope quantifies drift, the runs count
    * asks "does the series even wiggle like noise"). Day-over-day moves
    * (ties dropped, so the sign sequence is well-defined) fold into
    * sign islands via the gaps-and-islands trick; everything after the
    * daily rollup is O(|days|), exact integers.
    */
  private def statsRunsUpdown(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val byDay = Window.orderBy("day")
    val moves = daily
      .withColumn("prev", lag(col("c"), 1).over(byDay))
      .where(col("prev").isNotNull && col("c") =!= col("prev"))
      .withColumn("sign", when(col("c") > col("prev"), 1L).otherwise(-1L))
    val bySeq = Window.orderBy("day")
    val runs = moves
      .withColumn("turn",
        when(lag(col("sign"), 1).over(bySeq).isNull ||
          lag(col("sign"), 1).over(bySeq) =!= col("sign"), 1L).otherwise(0L))
      .withColumn("run_id", sum(col("turn")).over(
        bySeq.rowsBetween(Window.unboundedPreceding, 0)))
    runs.groupBy(col("run_id")).agg(count(lit(1)).as("len"))
      .agg(count(lit(1)).as("n_runs"), max(col("len")).as("longest_run"),
        sum(col("len")).as("n_moves"))
      .crossJoin(daily.agg(count(lit(1)).as("n_days")))
      .select(col("n_days"), col("n_moves"), col("n_runs"), col("longest_run"))
  }

  /** Exact weighted median per group — the robust center the mean-based
    * rollups can't give (one whale order drags a mean; the weighted
    * median ignores it). Definition: smallest value v with
    * 2·cumweight(≤v) ≥ totalweight (the lower weighted median — no
    * interpolation, so the DuckDB oracle is bit-exact, unlike both
    * engines' built-in `median`). Shape: collapse to (group, value)
    * weight sums FIRST (partial-agg friendly, |distinct values| rows),
    * then one window cumsum — never a per-group full sort of raw rows.
    * Weights are deterministic ints (user_id % 4 + 1) standing in for
    * row multiplicity.
    */
  private def statsWeightedMedian(s: SparkSession, dir: String): DataFrame = {
    val t = events(s, dir).select(
      col("event_type"),
      round(col("value") * 100).cast("long").as("cents"),
      (col("user_id") % 4 + 1).as("w"))
    val g = t.groupBy(col("event_type"), col("cents")).agg(sum(col("w")).as("gw"))
    val cum = Window.partitionBy("event_type").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = Window.partitionBy("event_type")
    g.withColumn("cw", sum(col("gw")).over(cum))
      .withColumn("tw", sum(col("gw")).over(tot))
      .where(col("cw") * 2 >= col("tw"))
      .groupBy(col("event_type"))
      .agg(min(col("cents")).as("median_cents"), max(col("tw")).as("total_w"))
      .orderBy(col("event_type"))
  }

  /** Sequence-motif detection (the MATCH_RECOGNIZE shape): positions
    * where a user's event stream reads view → click → purchase
    * consecutively — the conversion micro-funnel. Two `lead`s over one
    * (user, time) window turn the pattern test into a per-row predicate:
    * no self-joins, no per-user collect, one user_id shuffle. Ordering
    * ties break on event_id so the motif census is deterministic in
    * both engines.
    */
  private def pathMotifMatch(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("e1", lead(col("event_type"), 1).over(w))
      .withColumn("e2", lead(col("event_type"), 2).over(w))
      .where(col("event_type") === "view" && col("e1") === "click" &&
        col("e2") === "purchase")
      .agg(count(lit(1)).as("n_motifs"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** Batch MODEL INFERENCE as a map-only projection — the shape every
    * learned quality filter deploys at 100 TB: a linear classifier's
    * score is one fused row-local expression (no shuffle before the
    * rollup), and because the features and weights are INTEGERS the
    * margin is exact and the DuckDB oracle replays the "model" bit for
    * bit. Features: space count (token proxy), digit count, raw length;
    * the margin's sign is the keep/drop verdict. Per-source rollup
    * reports the classifier's acceptance profile.
    */
  private def taClassifierMargin(s: SparkSession, dir: String): DataFrame = {
    val spaces = length(col("text")) - length(regexp_replace(col("text"), " ", ""))
    val digits = length(col("text")) - length(regexp_replace(col("text"), "[0-9]", ""))
    Tables.load(s, dir, "documents")
      .select(col("source"),
        (lit(25L) * spaces + lit(50L) * digits - col("n_chars") - lit(100L))
          .as("margin"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("margin") > 0, 1L).otherwise(0L)).as("n_keep"),
        sum(col("margin")).as("margin_sum"))
      .orderBy(col("source"))
  }

  /** Exact least-squares trend over the daily volume series — normal
    * equations kept in BIGINT (numerator n·Σxy − Σx·Σy, denominator
    * n·Σx² − (Σx)²) so the fit is bit-exact, with the slope surfaced as
    * a floored milli-units-per-day ratio computed by the IDENTICAL
    * double-division + floor in both engines. Complements the CUSUM
    * scan: CUSUM locates a level shift, the slope quantifies drift. The
    * daily rollup is the only data-sized pass; the regression runs over
    * |days| rows.
    */
  private def statsTrendSlope(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
      .select(datediff(col("day"), lit("1970-01-01").cast("date"))
        .cast("long").as("x"), col("y"))
    daily.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("den"))
      .withColumn("slope_milli",
        floor(lit(1000.0) * col("num") / col("den")).cast("long"))
  }

  /** Funnel conversion LATENCY — not whether users convert (that is
    * `funnel_conversion`) but how fast: per user, the delay from first
    * view to the first purchase at-or-after it, with the exact lower
    * median and the tail max over converting users. The per-user reduce
    * is two grouped aggregates + one equi-join on user_id (never an
    * event-level self-join); the median runs over |users| rows via the
    * rank trick — no interpolation, bit-exact in DuckDB.
    */
  private def funnelLatency(s: SparkSession, dir: String): DataFrame = {
    val firstView = events(s, dir).where(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(unix_micros(col("ts"))).as("tv"))
    val delays = events(s, dir).where(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("tp"))
      .join(firstView, "user_id")
      .where(col("tp") >= col("tv"))
      .groupBy(col("user_id"))
      .agg(min(col("tp")).as("mtp"), max(col("tv")).as("mtv"))
      .select(col("user_id"), expr("(mtp - mtv) div 1000000").as("delay_sec"))
    val order = Window.orderBy(col("delay_sec"), col("user_id"))
    val all = Window.partitionBy()
    delays
      .withColumn("rn", row_number().over(order))
      .withColumn("nc", count(lit(1)).over(all))
      .where(col("rn") * 2 >= col("nc"))
      .agg(max(col("nc")).as("n_converted"),
        min(col("delay_sec")).as("median_delay_sec"),
        max(col("delay_sec")).as("max_delay_sec"))
  }

  /** Equi-depth boundary planning — the EXACT version of what
    * `repartitionByRange` estimates by sampling: decile boundary values
    * of the cents distribution, each boundary the value at rank
    * ⌈i·n/10⌉, plus the realized per-bucket row count to prove balance.
    * The raw scan collapses to (value, count) groups FIRST (partial-agg
    * friendly), so the global cumsum window orders |distinct values|
    * rows, never the fact table. This is the layout-planning primitive
    * behind balanced range partitioning and file-size targeting.
    */
  private def statsEquidepthBounds(s: SparkSession, dir: String): DataFrame = {
    val g = events(s, dir)
      .groupBy(round(col("value") * 100).cast("long").as("cents"))
      .agg(count(lit(1)).as("c"))
    val cum = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    val all = Window.partitionBy()
    val cd = g.withColumn("cw", sum(col("c")).over(cum))
      .withColumn("n", sum(col("c")).over(all))
      .withColumn("pcw", col("cw") - col("c"))
    val deciles = cd.select(col("cents"), col("cw"), col("pcw"), col("n"),
      explode(array((1 to 10).map(i => lit(i.toLong)): _*)).as("decile"))
      .withColumn("target", expr("(decile * n + 9) div 10"))
    deciles
      .where(col("cw") >= col("target") && col("pcw") < col("target"))
      .select(col("decile").cast("int").as("decile"), col("cents").as("bound"),
        // rows landing in bucket i: ranks (target_{i-1}, target_i]
        (col("target") - expr("((decile - 1) * n + 9) div 10")).as("bucket_n"))
      .orderBy(col("decile"))
  }

  /** The cardinality-guard aggregate
    * ([[graft.functions.BoundedDistinctAgg]]) deployed: per
    * (event_type, day), distinct users CAPPED at 64 — the group-by
    * explosion detector a 100 TB pipeline runs continuously, where
    * `count(DISTINCT …)` would carry unbounded per-group state and this
    * carries ≤ 65 longs before saturating to a constant-size verdict.
    * Both outputs stay exact (the count below the cap, the saturation
    * flag above it), so the oracle's `least(count(DISTINCT …), 64)` +
    * `> 64` hash-checks the aggregate through partial/merge/serialize.
    */
  private def statsDistinctCap(s: SparkSession, dir: String): DataFrame = {
    events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(expr("graft_distinct_cap(user_id, 64)").as("c"))
      .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("c.n_distinct").as("n_distinct"), col("c.saturated").as("saturated"))
      .orderBy(col("event_type"), col("day"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ta_classifier_margin" -> (taClassifierMargin _),
    "stats_distinct_cap" -> (statsDistinctCap _),
    "stats_trend_slope" -> (statsTrendSlope _),
    "funnel_latency" -> (funnelLatency _),
    "stats_equidepth_bounds" -> (statsEquidepthBounds _),
    "stats_weighted_median" -> (statsWeightedMedian _),
    "path_motif_match" -> (pathMotifMatch _),
    "w22_idle_gap" -> (w22IdleGap _),
    "stats_runs_updown" -> (statsRunsUpdown _),
    "w20_interval_merge" -> (w20IntervalMerge _),
    "w21_clamped_balance" -> (w21ClampedBalance _),
    "mix_largest_remainder" -> (mixLargestRemainder _),
    "stats_cusum_shift" -> (statsCusumShift _)
  )

  val oracleSql: Map[String, String] = Map(
    "stats_distinct_cap" ->
      """WITH d AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |    count(DISTINCT user_id) AS nd
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, day, CAST(least(nd, 64) AS BIGINT) AS n_distinct,
        |  nd > 64 AS saturated
        |FROM d ORDER BY 1, 2""".stripMargin,
    "stats_trend_slope" ->
      """WITH d AS (
        |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
        |    count(*) AS y
        |  FROM events GROUP BY 1),
        |m AS (
        |  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx
        |  FROM d)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CAST(n * sxy - sx * sy AS BIGINT) AS num,
        |  CAST(n * sxx - sx * sx AS BIGINT) AS den,
        |  CAST(floor((1000.0 * (n * sxy - sx * sy)) / (n * sxx - sx * sx))
        |    AS BIGINT) AS slope_milli
        |FROM m""".stripMargin,
    "funnel_latency" ->
      """WITH fv AS (
        |  SELECT user_id, min(epoch_us(ts)) AS tv FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |dl AS (
        |  SELECT e.user_id,
        |    (min(epoch_us(e.ts)) - max(fv.tv)) // 1000000 AS delay_sec
        |  FROM events e JOIN fv ON fv.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= fv.tv
        |  GROUP BY 1),
        |r AS (
        |  SELECT delay_sec,
        |    row_number() OVER (ORDER BY delay_sec, user_id) AS rn,
        |    count(*) OVER () AS nc
        |  FROM dl)
        |SELECT CAST(max(nc) AS BIGINT) AS n_converted,
        |  CAST(min(delay_sec) AS BIGINT) AS median_delay_sec,
        |  CAST(max(delay_sec) AS BIGINT) AS max_delay_sec
        |FROM r WHERE rn * 2 >= nc""".stripMargin,
    "stats_equidepth_bounds" ->
      """WITH g AS (
        |  SELECT CAST(round(value * 100) AS BIGINT) AS cents, count(*) AS c
        |  FROM events GROUP BY 1),
        |w AS (
        |  SELECT cents, c,
        |    sum(c) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cw,
        |    sum(c) OVER () AS n
        |  FROM g),
        |d AS (
        |  SELECT w.cents, w.cw, w.cw - w.c AS pcw, w.n, i.decile,
        |    (i.decile * w.n + 9) // 10 AS target,
        |    ((i.decile - 1) * w.n + 9) // 10 AS prev_target
        |  FROM w CROSS JOIN (
        |    SELECT * FROM (VALUES (1), (2), (3), (4), (5), (6), (7), (8), (9),
        |                          (10)) t(decile)) i)
        |SELECT CAST(decile AS INTEGER) AS decile, CAST(cents AS BIGINT) AS bound,
        |  CAST(target - prev_target AS BIGINT) AS bucket_n
        |FROM d WHERE cw >= target AND pcw < target
        |ORDER BY decile""".stripMargin,
    "ta_classifier_margin" ->
      """WITH f AS (
        |  SELECT source,
        |    25 * (length(text) - length(replace(text, ' ', ''))) +
        |    50 * (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) -
        |    n_chars - 100 AS margin
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN margin > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
        |  CAST(sum(margin) AS BIGINT) AS margin_sum
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    "w22_idle_gap" ->
      """WITH iv AS (
        |  SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 900000000 AS e, event_id
        |  FROM events),
        |m AS (
        |  SELECT user_id, s,
        |    max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
        |  FROM iv),
        |g AS (
        |  SELECT user_id,
        |    CASE WHEN pe IS NOT NULL AND s > pe THEN s - pe ELSE 0 END AS gap
        |  FROM m)
        |SELECT user_id, CAST(max(gap) AS BIGINT) AS max_idle_us,
        |  CAST(sum(CASE WHEN gap > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
    "stats_runs_updown" ->
      """WITH d AS (
        |  SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS c
        |  FROM events GROUP BY 1),
        |mv AS (
        |  SELECT day, c, lag(c, 1) OVER (ORDER BY day) AS prev
        |  FROM d),
        |sg AS (
        |  SELECT day, CASE WHEN c > prev THEN 1 ELSE -1 END AS sign
        |  FROM mv WHERE prev IS NOT NULL AND c <> prev),
        |tn AS (
        |  SELECT day, sign,
        |    CASE WHEN lag(sign, 1) OVER (ORDER BY day) IS NULL
        |           OR lag(sign, 1) OVER (ORDER BY day) <> sign
        |         THEN 1 ELSE 0 END AS turn
        |  FROM sg),
        |ri AS (
        |  SELECT day, sum(turn) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
        |    AS run_id
        |  FROM tn),
        |rl AS (SELECT run_id, count(*) AS len FROM ri GROUP BY 1),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_runs,
        |    CAST(max(len) AS BIGINT) AS longest_run,
        |    CAST(sum(len) AS BIGINT) AS n_moves
        |  FROM rl),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM d)
        |SELECT n_days, n_moves, n_runs, longest_run FROM agg CROSS JOIN t""".stripMargin,
    "stats_weighted_median" ->
      """WITH t AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
        |    user_id % 4 + 1 AS w
        |  FROM events),
        |g AS (SELECT event_type, cents, sum(w) AS gw FROM t GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type, cents,
        |    sum(gw) OVER (PARTITION BY event_type ORDER BY cents
        |                  ROWS UNBOUNDED PRECEDING) AS cw,
        |    sum(gw) OVER (PARTITION BY event_type) AS tw
        |  FROM g)
        |SELECT event_type, CAST(min(cents) AS BIGINT) AS median_cents,
        |  CAST(max(tw) AS BIGINT) AS total_w
        |FROM c WHERE cw * 2 >= tw GROUP BY 1 ORDER BY 1""".stripMargin,
    "path_motif_match" ->
      """WITH m AS (
        |  SELECT user_id, event_type,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |                              ORDER BY ts, event_id) AS e1,
        |    lead(event_type, 2) OVER (PARTITION BY user_id
        |                              ORDER BY ts, event_id) AS e2
        |  FROM events)
        |SELECT CAST(count(*) AS BIGINT) AS n_motifs,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM m
        |WHERE event_type = 'view' AND e1 = 'click' AND e2 = 'purchase'""".stripMargin,
    "w20_interval_merge" ->
      """WITH iv AS (
        |  SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 900000000 AS e, event_id
        |  FROM events),
        |m AS (
        |  SELECT user_id, s, e, event_id,
        |    max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
        |  FROM iv),
        |fl AS (
        |  SELECT user_id, s, e, event_id,
        |    CASE WHEN pe IS NULL OR s > pe THEN 1 ELSE 0 END AS nf
        |  FROM m),
        |isl AS (
        |  SELECT user_id, s, e,
        |    sum(nf) OVER (PARTITION BY user_id ORDER BY s, event_id
        |                  ROWS UNBOUNDED PRECEDING) AS island
        |  FROM fl),
        |g AS (
        |  SELECT user_id, island, min(s) AS i_s, max(e) AS i_e, count(*) AS n_iv
        |  FROM isl GROUP BY 1, 2)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_merged,
        |  CAST(sum(i_e - i_s) AS BIGINT) AS covered_us,
        |  CAST(sum(n_iv) AS BIGINT) AS n_raw
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
    "w21_clamped_balance" ->
      """WITH tx AS (
        |  SELECT user_id, event_id,
        |    CASE WHEN event_id % 2 = 0 THEN CAST(round(value * 100) AS BIGINT)
        |         ELSE -CAST(round(value * 100) AS BIGINT) END AS delta
        |  FROM events),
        |p1 AS (
        |  SELECT user_id, event_id,
        |    sum(delta) OVER (PARTITION BY user_id ORDER BY event_id
        |                     ROWS UNBOUNDED PRECEDING) AS p
        |  FROM tx),
        |pf AS (
        |  SELECT user_id, event_id, p,
        |    min(p) OVER (PARTITION BY user_id ORDER BY event_id
        |                 ROWS UNBOUNDED PRECEDING) AS rm,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM p1)
        |SELECT user_id,
        |  CAST(max(p - least(0, rm)) AS BIGINT) AS final_balance,
        |  CAST(max(-least(0, rm)) AS BIGINT) AS lost_cents
        |FROM pf WHERE rn = 1 GROUP BY 1 ORDER BY 1""".stripMargin,
    "mix_largest_remainder" ->
      """WITH c AS (SELECT source, count(*) AS cnt FROM documents GROUP BY 1),
        |b AS (
        |  SELECT source, cnt,
        |    (10000 * cnt) // (sum(cnt) OVER ()) AS base,
        |    (10000 * cnt) % (sum(cnt) OVER ()) AS rem
        |  FROM c),
        |w AS (
        |  SELECT source, cnt, base, rem,
        |    10000 - sum(base) OVER () AS leftover,
        |    row_number() OVER (ORDER BY rem DESC, source) AS rnk
        |  FROM b)
        |SELECT source, CAST(cnt AS BIGINT) AS cnt, CAST(base AS BIGINT) AS base,
        |  CAST(base + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS quota
        |FROM w ORDER BY source""".stripMargin,
    "stats_cusum_shift" ->
      """WITH d AS (
        |  SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS c
        |  FROM events GROUP BY 1),
        |t AS (
        |  SELECT day, c, count(*) OVER () AS n_days, sum(c) OVER () AS total
        |  FROM d),
        |w AS (
        |  SELECT day, c, n_days, total,
        |    sum(c * n_days - total) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
        |      AS s_scaled
        |  FROM t)
        |SELECT day AS shift_day, CAST(s_scaled AS BIGINT) AS s_scaled,
        |  CAST(n_days AS BIGINT) AS n_days, CAST(total AS BIGINT) AS total_events
        |FROM w ORDER BY abs(s_scaled) DESC, day LIMIT 1""".stripMargin
  )
}
