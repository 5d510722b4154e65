package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Every SQL-expressible operator from SURVEY.md §2, re-expressed as a
  * declarative Spark query over the driver-provided tables, each with a
  * DuckDB oracle (see `oracleSql`). Names are prefixed with the SURVEY §2
  * operator id they exercise.
  *
  * Conventions (driver compare = column-name sort + row hash):
  *   - timestamps leave the query as *formatted strings* in both engines, so
  *     tz-annotation / precision differences between a Spark-written parquet
  *     and DuckDB's in-memory result can never skew the compare;
  *   - no raw-double SUMs: money-like doubles with exact 2-decimal values
  *     (lineitem/orders prices) are cast to DECIMAL(18,2) before aggregation
  *     in both engines (order-independent exact sums; double summation order
  *     differs between engines). Arbitrary doubles (`events.value`) instead
  *     go through `CAST(round(x * 100) AS BIGINT)` integer cents — Spark
  *     casts double→decimal via the decimal string repr (HALF_UP) while
  *     DuckDB multiplies in binary, so near-tie doubles (2.675…) round to
  *     different cents under a direct DECIMAL cast; `round` on the *double*
  *     is IEEE-identical in both engines;
  *   - every query and its oracle carry the same deterministic ORDER BY with
  *     a unique tiebreaker.
  *
  * The `events` table stands in for the reference's billing-export source
  * (`ts` = the `export_time` watermark column, reference:
  * pulse_billing_etl_service/core/services/billing_etl.py:280-281);
  * `customer` stands in for the `billing_alerts_setting` config table
  * (reference: core/database/billing_etl_db.py:63-89).
  */
object RelationalOps extends QueryFamily {

  /** Output format for timestamp columns (micros, zero-padded). */
  private val TsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
  private val IsoFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
  private val DuckTsFmt = "%Y-%m-%d %H:%M:%S.%f"
  private val DuckIsoFmt = "%Y-%m-%dT%H:%M:%S.%f"

  // Fixed extraction window inside the events table's Jan-2024 span
  // (all scale factors cover it; see TESTDATA.md).
  private val W0 = "2024-01-10 00:00:00"
  private val W1 = "2024-01-20 00:00:00"
  private val Mid = "2024-01-15 00:00:00"
  private val Epoch = "1970-01-01 00:00:00"

  private def fmt(c: Column): Column = date_format(c, TsFmt)
  private def ts(lit_ : String): Column = to_timestamp(lit(lit_))

  private def events(s: SparkSession, dir: String): DataFrame = Tables.load(s, dir, "events")
  private def customer(s: SparkSession, dir: String): DataFrame = Tables.load(s, dir, "customer")
  private def orders(s: SparkSession, dir: String): DataFrame = Tables.load(s, dir, "orders")
  private def lineitem(s: SparkSession, dir: String): DataFrame = Tables.load(s, dir, "lineitem")
  private def documents(s: SparkSession, dir: String): DataFrame = Tables.load(s, dir, "documents")
  private def part(s: SparkSession, dir: String): DataFrame = Tables.load(s, dir, "part")
  private def supplier(s: SparkSession, dir: String): DataFrame = Tables.load(s, dir, "supplier")

  /** Exact revenue cents for a lineitem row — `round` on the DOUBLE is
    * IEEE-identical in Spark and DuckDB (see the class-level conventions).
    */
  private def revCents: Column =
    round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("long")

  /** Star projection of the incremental window, P1 + S1 + F1
    * (reference: billing_etl.py:270-298). Filter is pushed to the parquet
    * scan by Catalyst; at 100 TB this becomes partition pruning when the
    * source is laid out by date(ts).
    */
  private def s1(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .where(col("ts") >= ts(W0) && col("ts") < ts(W1))
      .select(col("event_id"), fmt(col("ts")).as("ts_iso"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .orderBy(col("event_id"))

  private def s2(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .where(col("ts") >= ts(W0) && col("ts") < ts(W1))
      .agg(count(lit(1)).as("cnt"))

  /** Config point-lookup, S3 + P2 + F3 (reference: billing_etl_db.py:63-89). */
  private def s3(s: SparkSession, dir: String): DataFrame =
    customer(s, dir)
      .where(col("c_custkey") === 71)
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")

  /** Checkpoint top-1 read as MAX, S4 + F2 + A2-shape
    * (reference: billing_etl_db.py:45-61).
    */
  private def s4(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .where(col("user_id") === 7 && col("event_type") === "purchase")
      .agg(fmt(max(col("ts"))).as("end_date_time"))

  private def p3(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .where(col("user_id") === 3)
      .select(fmt(col("ts")).as("end_date_time"))
      .orderBy(col("end_date_time"))

  /** ISO-8601 row serialization, P4 + C5 (reference: billing_etl.py:35-40). */
  private def p4(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .where(col("ts") >= ts(W0) && col("ts") < ts(W1))
      .select(col("event_id"), date_format(col("ts"), IsoFmt).as("ts_iso8601"))
      .orderBy(col("event_id"))

  /** Null-dropping projection, P5 (reference: billing_etl_db.py:29). */
  private def p5(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .withColumn("v", when(col("value") >= 50, col("value")))
      .na.drop(Seq("v"))
      .select(col("event_id"), col("v"))
      .orderBy(col("event_id"))

  /** Half-open boundary semantics, F1: the `>=` side re-admits the previous
    * watermark row, the `<` side excludes the window end
    * (reference: billing_etl.py:280-281; SURVEY N1).
    */
  private def f1(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    // Driver-side 1-row checkpoint read -- the reference's own resume pattern.
    val wm = ev.where(col("ts") < ts(Mid)).agg(max(col("ts"))).first().getTimestamp(0)
    ev.where(col("ts") >= lit(wm) && col("ts") < ts(Mid))
      .select(col("event_id"), fmt(col("ts")).as("ts_iso"))
      .orderBy(col("event_id"))
  }

  private def f3(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .where(col("event_id") === 421)
      .select(col("event_id"), fmt(col("ts")).as("ts_iso"), col("user_id"),
        col("event_type"), col("value"), col("props"))

  private def f5(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .where(col("event_type").isin("signup", "error"))
      .select(col("event_id"), col("event_type"))
      .orderBy(col("event_id"))

  /** Null/missing-field guards, F6 (reference: main.py:21-26). */
  private def f6(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .where(col("props").isNotNull &&
        get_json_object(col("props"), "$.missing").isNull &&
        get_json_object(col("props"), "$.k").isNotNull)
      .agg(count(lit(1)).as("valid_rows"))

  /** Config lookup join, J1 (reference: billing_etl.py:64-127). The dim side
    * is broadcast -- at 100 TB the fact scan never shuffles for this join.
    */
  private def j1(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .join(broadcast(customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .where(col("o_orderstatus") === "O")
      .select(col("o_orderkey"), col("o_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("o_orderkey"))

  /** Missing-config error channel as an anti join, J1's null branch
    * (reference: billing_etl_db.py:82-84).
    */
  private def j1Anti(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .join(broadcast(customer(s, dir).where(col("c_custkey") % 10 < 3)),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .select(col("o_orderkey"))
      .orderBy(col("o_orderkey"))

  private def a1(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .where(col("ts") >= ts(W0) && col("ts") < ts(W1) && col("value") > 100)
      .agg(count(lit(1)).as("cnt"))

  private def a2(s: SparkSession, dir: String): DataFrame =
    events(s, dir).agg(fmt(max(col("ts"))).as("watermark"))

  /** Top-1 per key (argmax), A3 generalized to all keys via window row_number
    * (reference: billing_etl_db.py:46-51 does the single-key form).
    */
  private def a3(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    events(s, dir)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("user_id"), col("event_id"), fmt(col("ts")).as("ts_iso"))
      .orderBy(col("user_id"))
  }

  private def a4(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("total_value_cents"))
      .orderBy(col("event_type"))

  private def o1(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .orderBy(col("ts").desc, col("event_id").desc)
      .limit(1)
      .select(col("event_id"), fmt(col("ts")).as("ts_iso"))

  /** LIMIT/OFFSET pagination -- deterministic only under a total order,
    * which the reference's version lacks (SURVEY N2); ours sorts first.
    */
  private def o2(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .orderBy(col("ts"), col("event_id"))
      .offset(50)
      .limit(100)
      .select(col("event_id"))

  /** O4: GLOBAL row numbering without the single-partition window.
    * `row_number() OVER (ORDER BY …)` with no PARTITION BY funnels the
    * whole table through one reducer — the canonical accidental
    * scale-killer when assigning a stable training-order index to a
    * corpus. The distributed shape: (1) range-partition by the global
    * order key so each partition holds a contiguous slice,
    * (2) materialize ONCE (localCheckpoint — the range partitioner
    * samples, so recomputing between jobs could re-draw boundaries and
    * desynchronize the offsets from the rows), (3) count per partition —
    * an O(P)-row driver prefix-sum, the only driver-side work,
    * (4) per-partition row_number plus the broadcast offset. Each reducer
    * sorts only its own slice; total extra cost is one count job over the
    * checkpointed slices. The audit emits every 1000th index so the
    * oracle (a true global ROW_NUMBER in DuckDB) checks the whole
    * assignment end to end, not just the first rows.
    */
  private def o4GlobalIndex(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = events(s, dir).select(col("event_id"), col("ts"))
    // Partition count scales WITH the session (defaultParallelism = total
    // executor cores on a cluster), not a literal: a fixed 32 would give
    // a 1000-executor run 32 giant slices. The assignment itself is
    // partition-count-independent — the oracle is a true global
    // ROW_NUMBER, so any P produces the same global_idx values.
    val p = math.max(1, s.sparkContext.defaultParallelism)
    val ranged = ev.repartitionByRange(p, col("ts"), col("event_id"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val counts = ranged.groupBy(col("pid")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsets = counts.scanLeft(0L)(_ + _._2)
      .zip(counts).map { case (off, (pid, _)) => (pid, off) }
    val offDf = s.createDataFrame(offsets.toSeq).toDF("pid", "offset")
    val w = Window.partitionBy("pid").orderBy(col("ts"), col("event_id"))
    ranged.join(broadcast(offDf), "pid")
      .withColumn("global_idx",
        col("offset") + row_number().over(w).cast("long") - 1)
      .where(col("global_idx") % 1000 === 0)
      .select(col("global_idx"), col("event_id"))
      .orderBy(col("global_idx"))
  }

  /** W16: week-over-week deltas — the daily rollup lag-joined to itself at
    * offset 7 via one window over the |days|-sized aggregate (the
    * agg-FIRST-then-window rule W9/W10 follow: the fact is scanned once,
    * every windowed row is a rollup row). Deltas are exact integer cents.
    */
  private def w16WeekOverWeek(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events(s, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_rows"),
        sum(round(col("value") * 100).cast("long")).as("cents"))
    val w = Window.orderBy("day")
    daily
      .withColumn("n_prev_week", lag(col("n_rows"), 7).over(w))
      .withColumn("cents_prev_week", lag(col("cents"), 7).over(w))
      .where(col("n_prev_week").isNotNull)
      .select(col("day"), col("n_rows"),
        (col("n_rows") - col("n_prev_week")).as("wow_rows"),
        (col("cents") - col("cents_prev_week")).as("wow_cents"))
      .orderBy(col("day"))
  }

  /** Temporal train/eval split + LEAKAGE audit: split events at a cut
    * date, then measure entity overlap across the boundary — the check
    * that catches time-travel leakage (a user in both halves means
    * user-level features fit on train leak eval signal). One fact scan
    * per-user min/max day, then conditional counts over the
    * |users|-sized rollup; the overlap share is an exact milli-ratio.
    */
  private def mixTemporalSplit(s: SparkSession, dir: String): DataFrame = {
    val Cut = "2024-01-21"
    val perUser = events(s, dir)
      .select(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .groupBy(col("user_id"))
      .agg(sum(when(col("day") < Cut, 1L).otherwise(0L)).as("n_train"),
        sum(when(col("day") >= Cut, 1L).otherwise(0L)).as("n_eval"))
    perUser.agg(
      sum(col("n_train")).as("train_rows"),
      sum(col("n_eval")).as("eval_rows"),
      sum(when(col("n_train") > 0 && col("n_eval") > 0, 1L).otherwise(0L))
        .as("n_leaky_users"),
      count(lit(1)).as("n_users"))
      .select(col("train_rows"), col("eval_rows"), col("n_leaky_users"), col("n_users"),
        expr("n_leaky_users * 1000 div n_users").as("leaky_milli"))
  }

  /** A9: per-group top-k through the custom [[graft.functions.TopKPairsAgg]]
    * TypedImperativeAggregate — the one-pass bounded-buffer alternative to
    * the window form (`a3_top1_per_key` sorts each group; this reduces
    * every map partition to ≤ k rows BEFORE the shuffle). The oracle is
    * the window form in DuckDB, so the custom aggregate is held to the
    * exact (value DESC, id ASC) semantics; NativeAggSpec pins the
    * ObjectHashAggregate partial+final plan and ≡ the Spark window form.
    */
  private def a9TopkCustomAgg(s: SparkSession, dir: String): DataFrame = {
    events(s, dir)
      .groupBy(col("event_type"))
      .agg(expr("graft_topk_pairs(value, event_id, 3)").as("top"))
      .select(col("event_type"), posexplode(col("top")))
      .select(col("event_type"), (col("pos") + 1).cast("int").as("rnk"),
        col("col.v").as("value"), col("col.id").as("event_id"))
      .orderBy(col("event_type"), col("rnk"))
  }

  /** W15: gaps-and-islands — per-user longest consecutive-day activity
    * streak, the classic engagement metric and the canonical "islands"
    * problem. The island id is the day ordinal minus the per-user day
    * rank: constant exactly within a consecutive run, so streaks fall out
    * of two grouped aggregations over ONE user_id shuffle — no self-join,
    * no recursion, no per-user iteration. At 100 TB the distinct
    * (user, day) projection collapses the fact first (|users|·|days|
    * rows), and everything after is partial-agg friendly.
    */
  private def w15ActivityStreaks(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val days = events(s, dir)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date")).as("day_ord"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("day_ord")
    days
      .withColumn("island", col("day_ord") - row_number().over(w))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(max(col("len")).as("longest_streak"), count(lit(1)).as("n_streaks"))
      .orderBy(col("user_id"))
  }

  private def c1(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("event_id"),
        unbase64(base64(col("props").cast("binary"))).cast("string").as("payload"))
      .orderBy(col("event_id"))

  private def c3(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .orderBy(col("event_id"))

  private def c4(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("event_id"),
        to_json(struct(col("event_id"), col("event_type"))).as("js"))
      .orderBy(col("event_id"))

  private def c6(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .where(col("ts") >= to_timestamp(lit("2024-01-15 12:00:00")))
      .agg(count(lit(1)).as("cnt"))

  /** Epoch default when no checkpoint exists, C7 + W1's first-run branch
    * (reference: billing_etl.py:138-139).
    */
  private def c7(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .where(col("user_id") === -1)
      .agg(coalesce(max(col("ts")), ts(Epoch)).as("wm"))
      .select(fmt(col("wm")).as("watermark"))

  private def c8(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("user_id")).distinct()
      .select(col("user_id"),
        format_string("org_%d_standard_export_table", col("user_id")).as("ident"))
      .orderBy(col("user_id"))

  private def c9(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("source")).distinct()
      .select(col("source"),
        element_at(split(concat(lit("proj.ds."), col("source")), "\\."), 3).as("dataset_id"))
      .orderBy(col("source"))

  private def c10(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("event_id"),
        floor(col("value")).cast("int").as("v_int"),
        col("user_id").cast("string").cast("int").as("org_id"))
      .orderBy(col("event_id"))

  private def c12(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .where(col("event_type").contains("rror"))
      .select(col("event_id"))
      .orderBy(col("event_id"))

  /** Deterministic part of the backoff schedule, C13
    * (reference: billing_etl.py:205 `2 ** attempt`; jitter excluded).
    */
  private def c13(s: SparkSession, dir: String): DataFrame =
    s.range(4)
      .select(col("id").cast("int").as("attempt"),
        pow(lit(2.0), col("id")).cast("int").as("delay_s"))
      .orderBy(col("attempt"))

  /** C14 (extension) — semi-structured access through Spark 4's VARIANT:
    * `parse_json` once at ingest into the binary variant encoding, then
    * typed `variant_get` extraction feeding a numeric aggregate. At scale
    * this is the replacement for per-query string JSON parsing (C3's
    * shape): variant parses each value once, stores a binary tree that
    * columnar readers can shred, and extraction is a codegen'd path walk —
    * not a regex or a parser — so a props-heavy 100 TB corpus pays parse
    * cost once, not per query per field.
    */
  private def c14(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("event_type"),
        expr("variant_get(parse_json(props), '$.k', 'int')").as("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n_with_k"),
        sum(col("k")).cast("long").as("k_sum"))
      .orderBy(col("event_type"))

  private def w1(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .where(col("event_type") === "purchase" && col("user_id") === 5)
      .agg(coalesce(max(col("ts")), ts(Epoch)).as("wm"))
      .select(fmt(col("wm")).as("watermark"))

  /** Persisted watermark = max(export_time) of the extracted batch, W2
    * (reference: billing_etl.py:160-168) -- NOT the query-window end.
    */
  private def w2(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .where(col("ts") >= ts(W0) && col("ts") < ts(W1))
      .agg(fmt(max(col("ts"))).as("persisted_watermark"))

  /** Tumbling-by-day windows over the stream table, W3 generalization. */
  private def w3(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(date_trunc("DAY", col("ts")).as("win"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("total_value_cents"))
      .select(fmt(col("win")).as("window_start"), col("n"), col("total_value_cents"))
      .orderBy(col("window_start"))

  /** NULL-SAFE equi-join, J9 (extension): `<=>` (IS NOT DISTINCT FROM)
    * joins where NULL keys match each other — the semantics a config
    * reconciliation needs when "unset" is a legitimate key value (a plain
    * `=` silently drops every NULL row from both sides). Spark keeps
    * EqualNullSafe as a HASH join key (coalesced into the hash), so the
    * plan stays BroadcastHashJoin/SMJ — never the nested-loop fallback a
    * residual-only null predicate would force. Both sides are aggregated
    * to per-key rollups BEFORE the join, so the NULL bucket joins 1:1
    * instead of |nulls|² — the same aggregate-first rule as everywhere.
    */
  private def j9(s: SparkSession, dir: String): DataFrame = {
    val k = get_json_object(col("props"), "$.k").cast("long")
    val key = when(k % 3 =!= 0, k) // every third key is legitimately unset
    val ev = events(s, dir)
    val views = ev.where(col("event_type") === "view")
      .select(key.as("key")).groupBy(col("key"))
      .agg(count(lit(1)).as("n_views"))
    val clicks = ev.where(col("event_type") === "click")
      .select(key.as("ckey")).groupBy(col("ckey"))
      .agg(count(lit(1)).as("n_clicks"))
    views.join(clicks, col("key") <=> col("ckey"))
      .select(coalesce(col("key"), lit(-1L)).as("k_key"),
        col("n_views"), col("n_clicks"))
      .orderBy(col("k_key"))
  }

  /** SLIDING (overlapping) windows, W17 (extension): 48 h windows sliding
    * by 24 h via the `window()` TVF — each event lands in exactly two
    * windows (duration/slide = 2), which Spark plans as an Expand (2 rows
    * per event) BELOW the partial aggregation, so the shuffle carries
    * window-rollup rows, never 2× the fact. Completes the time-window
    * family: tumbling (w3), per-event range frame (w14), gap sessions
    * (w8), now overlapping fixed windows. Oracle replays the expansion
    * with an explicit 2-element unnest per event.
    */
  private def w17(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(window(col("ts"), "2 days", "1 day"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("total_value_cents"))
      .select(fmt(col("window.start")).as("window_start"),
        fmt(col("window.end")).as("window_end"),
        col("n"), col("total_value_cents"))
      .orderBy(col("window_start"))

  /** Peak concurrency (W18, extension): the classic interval sweep line.
    * Each (user, day) contributes one activity interval [first event,
    * last event]; the question is the day's maximum number of
    * simultaneously-active users — capacity planning's canonical query,
    * and the shape every "concurrent sessions / open connections /
    * in-flight jobs" dashboard reduces to.
    *
    * Spark-first shape: no interval self-join (quadratic per day) and no
    * minute-grid explode (timestamp-resolution-dependent). Each interval
    * unpivots to a +1 mark at its start and a −1 mark at its end, and a
    * per-day ordered window runs the cumulative sum — the sweep line. The
    * window partitions by DAY, so days sweep in parallel and no global
    * ordering ever funnels through one partition; within a day the order
    * is (ts, delta DESC), a deterministic total preorder under which tied
    * rows carry equal deltas, making every prefix sum — and therefore the
    * max — engine-independent. One shuffle for the span rollup, one for
    * the window; both partial-aggregated.
    */
  private def w18PeakConcurrency(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spans = events(s, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("user_id"))
      .agg(min(col("ts")).as("t0"), max(col("ts")).as("t1"))
    val marks = spans.select(col("day"), col("t0").as("t"), lit(1L).as("delta"))
      .unionAll(spans.select(col("day"), col("t1").as("t"), lit(-1L).as("delta")))
    val w = Window.partitionBy(col("day")).orderBy(col("t").asc, col("delta").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marks.withColumn("load", sum(col("delta")).over(w))
      .groupBy(col("day"))
      .agg(max(col("load")).as("peak_concurrency"),
        expr("count(1) div 2").as("n_intervals"))
      .orderBy(col("day"))
  }

  /** Exact exponential smoothing (W19, extension): per-user EWMA over
    * daily spend with α = 1/2 in INTEGER halving form (e₁ = v₁,
    * eₙ = (eₙ₋₁ + vₙ) div 2) — the trend/decay signal fraud and
    * engagement scoring read, kept bit-exact where a float αⁿ expansion
    * would be accumulation-order-dependent. An EWMA is a sequential
    * fold, which window functions cannot express — the Spark-first
    * shape is each user's ordered daily series rolled into ONE array
    * (`array_sort(collect_list(...))`) and folded map-side with the
    * codegen'd higher-order `aggregate`: two partial-aggregated
    * shuffles total (day rollup, user rollup), state per user = its day
    * count, no per-row UDF anywhere. The same fold replays in DuckDB as
    * `list_reduce`, whose first-element seeding matches the e₁ = v₁
    * convention exactly; values are non-negative cents so `div` and
    * `//` agree.
    */
  private def w19EwmaDaily(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
    daily.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_days"), max(col("day")).as("last_day"),
        array_sort(collect_list(struct(col("day"), col("cents")))).as("seq"))
      .select(col("user_id"), col("n_days"), col("last_day"),
        expr("aggregate(slice(seq, 2, size(seq) - 1), seq[0].cents, " +
          "(acc, x) -> (acc + x.cents) div 2)").as("ewma_cents"))
      .orderBy(col("user_id"))
  }

  /** Deterministic per-key mode (A12, extension): each user's most
    * frequent event type — `mode()` built-ins leave ties unspecified on
    * both engines, so the rank is made total explicitly: (count DESC,
    * type ASC) via one row_number over the (user, type) rollup. The
    * window consumes |users|·|types| rollup rows, never the fact table.
    */
  private def a12ModePerKey(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = events(s, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("n").desc, col("event_type").asc)
    counts.withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("user_id"), col("event_type").as("mode_type"), col("n"))
      .orderBy(col("user_id"))
  }

  /** As-of join (J2, extension): for every `purchase` event, the most
    * recent strictly-preceding `view` event of the same user. Spark has no
    * native as-of operator; the naive formulation is a range join
    * (quadratic per key). The Spark-first shape is the UNION + ordered
    * window trick: tag both sides, sort each user's merged stream once,
    * and carry the last view forward with `last(_, ignoreNulls)` over
    * rows UNBOUNDED PRECEDING..1 PRECEDING — "strictly preceding by
    * (ts, event_id)" makes ties exact in both engines. ONE shuffle on
    * user_id, linear per key, and the same partitioning serves the window
    * and the final filter. DuckDB's built-in ASOF JOIN would leave
    * equal-timestamp ties unspecified, so the oracle mirrors the window
    * formulation instead.
    */
  private def j2(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events(s, dir)
      .where(col("event_type").isin("view", "purchase"))
      .withColumn("__view",
        when(col("event_type") === "view",
          struct(col("event_id").as("id"), col("value").as("v"))))
      .withColumn("__asof", last(col("__view"), ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase")
      .select(col("event_id"), fmt(col("ts")).as("ts_iso"), col("user_id"),
        col("__asof.id").as("asof_view_id"), col("__asof.v").as("asof_view_value"))
      .orderBy(col("event_id"))
  }

  /** The SAME as-of semantics as [[j2]], executed by the engine's custom
    * PHYSICAL operator ([[graft.plans.AsofJoinExec]] — LogicalPlan +
    * Strategy + SparkPlan, the tier-(c) custom-operator path): purchases
    * as-of-join views on user_id, "most recent strictly-preceding by
    * (ts, event_id)". One hash shuffle per side, a per-partition forward
    * merge with O(1) state, no union materialization, no window buffer.
    * Reuses j2's DuckDB oracle verbatim — hash-equality of the composed
    * and operator forms is the operator's correctness proof, exactly the
    * j3/j3_auto pattern.
    */
  private def j10(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("ts"), col("user_id"))
    val views = ev.where(col("event_type") === "view")
      .select(col("event_id").as("v_id"), col("ts").as("v_ts"),
        col("user_id").as("v_user"), col("value").as("v_value"))
    graft.plans.AsofJoin(purchases, views,
      keys = Seq("user_id" -> "v_user"),
      on = Seq("ts" -> "v_ts", "event_id" -> "v_id"))
      .select(col("event_id"), fmt(col("ts")).as("ts_iso"), col("user_id"),
        col("v_id").as("asof_view_id"), col("v_value").as("asof_view_value"))
      .orderBy(col("event_id"))
  }

  /** FORWARD as-of through the same physical operator ([[j10]]'s
    * backward twin, pandas merge_asof `direction='forward'`): each
    * purchase matched to the NEXT strictly-following view — the
    * "did the user come back" post-purchase signal. Same one-shuffle-
    * per-side sorted walk; the oracle is the j2 window trick run over
    * the time-REVERSED stream.
    */
  private def j11(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("ts"), col("user_id"))
    val views = ev.where(col("event_type") === "view")
      .select(col("event_id").as("v_id"), col("ts").as("v_ts"),
        col("user_id").as("v_user"), col("value").as("v_value"))
    graft.plans.AsofJoin(purchases, views,
      keys = Seq("user_id" -> "v_user"),
      on = Seq("ts" -> "v_ts", "event_id" -> "v_id"), forward = true)
      .select(col("event_id"), fmt(col("ts")).as("ts_iso"), col("user_id"),
        col("v_id").as("next_view_id"), col("v_value").as("next_view_value"))
      .orderBy(col("event_id"))
  }

  /** ntile decile profile — the remaining rank-family window function
    * (row_number/rank/dense_rank/lag/lead live in a6): per event type,
    * SQL-standard ntile(10) over (value, id) order — the first n mod k
    * tiles take the extra row, a convention both engines implement, and
    * the id tiebreak makes tile membership total. Emitted as the decile
    * SUMMARY (count + cents bounds per tile — the equi-depth histogram a
    * quality pipeline bins features with), so the result is |types|·10
    * rows, not |events|. One hash shuffle on event_type; the per-group
    * sort is the window's, reused by nothing downstream.
    */
  private def a10NtileDeciles(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("v_cents"), col("event_id"))
    events(s, dir)
      .select(col("event_type"), col("event_id"),
        round(col("value") * 100).cast("long").as("v_cents"))
      .withColumn("decile", ntile(10).over(w))
      .groupBy(col("event_type"), col("decile"))
      .agg(count(lit(1)).as("n"), min(col("v_cents")).as("lo_cents"),
        max(col("v_cents")).as("hi_cents"))
      .orderBy(col("event_type"), col("decile"))
  }

  /** Session gap threshold: 6 hours in microseconds. Sits between the
    * corpus's p25 (~3 h) and median (~7 h) inter-event gap, so the fixture
    * splits real multi-event sessions instead of degenerating to
    * one-session-per-user or one-event-per-session.
    */
  private val SessionGapUs = 6L * 3600 * 1000000

  /** Gap-based sessionization — the canonical event-stream windowing op a
    * behavioral pipeline runs daily: a session breaks where a user's
    * inter-event gap exceeds the threshold; session id = running count of
    * breaks. All microsecond-integer arithmetic (no timestamp subtraction
    * semantics to disagree over), ordered by (ts, event_id) so ties are
    * deterministic in both engines. Scale shape: two windows and the
    * aggregate all share ONE hash partitioning on user_id — a single
    * shuffle of narrow rows, then per-user sorted passes; no global sort
    * except the final ORDER BY.
    */
  private def w8(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"), unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("brk",
        (col("prev_us").isNull || col("us") - col("prev_us") > SessionGapUs)
          .cast("long"))
      .withColumn("session_id",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        fmt(min(col("ts"))).as("session_start"),
        fmt(max(col("ts"))).as("session_end"),
        (max(col("us")) - min(col("us"))).as("duration_us"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** Window-function suite, A6 (extension): the per-entity analytics
    * vocabulary — sequence numbering (`row_number`), inter-event gaps
    * (`lag` on µs integers), running spend (`sum` over a ROWS frame), and
    * spend quartiles (`ntile`) — in ONE query. Both window specs partition
    * by user_id, so Catalyst reuses a single hash partitioning for the two
    * sorts (ts-order and cents-order); at 100 TB that is one shuffle of the
    * fact table, then per-key linear passes. All outputs are integers, so
    * the oracle is bit-exact.
    */
  private def a6WindowSuite(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byTs = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val byCents = Window.partitionBy(col("user_id"))
      .orderBy(col("cents").desc, col("event_id"))
    events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        unix_micros(col("ts")).as("us"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("rn", row_number().over(byTs))
      .withColumn("gap_us", col("us") - lag(col("us"), 1).over(byTs))
      .withColumn("cum_cents",
        sum(col("cents")).over(byTs.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("spend_quartile", ntile(4).over(byCents))
      .select(col("user_id"), col("event_id"), col("rn"), col("gap_us"),
        col("cum_cents"), col("spend_quartile"))
      .orderBy(col("user_id"), col("rn"))
  }

  /** Cumulative daily growth, W9 (extension): per-type event volume and
    * value by day, with running totals — the corpus-growth curve a
    * training-data pipeline reports after every ingest day. Scale shape:
    * aggregate FIRST (one partial-agg shuffle collapses 100 TB to
    * |types|×|days| rows), window SECOND over the tiny rollup — a running
    * sum windowed over the raw fact table would sort petabytes for no
    * reason. Days are unique per type after the rollup, so the default
    * RANGE frame is exact in both engines.
    */
  private def w9(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    events(s, dir)
      .groupBy(col("event_type"),
        date_format(date_trunc("DAY", col("ts")), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("cents"))
      .withColumn("cum_n", sum(col("n")).over(w))
      .withColumn("cum_cents", sum(col("cents")).over(w))
      .orderBy(col("event_type"), col("day"))
  }

  /** Ingest-volume anomaly screen, W10 (extension): flag days whose event
    * volume moved more than ±30 % day-over-day — the pipeline-health alarm
    * every scheduled ingest watches. Same agg-then-window shape as W9
    * (the rollup is |days| rows); the threshold test is pure integer
    * cross-multiplication (`|n−prev|·10 > prev·3`), so the flag can never
    * diverge between engines on a float boundary.
    */
  private def w10(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("day"))
    // the raw fixture ingests uniformly (no natural ±30% move at any SF),
    // so the alarm is made observable the PII-fixture way: one day's rows
    // are injected twice more (a 3× spike on the 15th, the collapse back
    // on the 16th), mirrored literally in the oracle. The duplication is
    // an explode over a 2-element literal array — a generator, not a
    // join, so no BroadcastNestedLoopJoin enters the plan
    val ev = events(s, dir).select(col("ts"))
    val spiked = ev.unionByName(
      ev.where(date_format(col("ts"), "yyyy-MM-dd") === "2024-01-15")
        .select(col("ts"), explode(array(lit(0), lit(1))).as("__dup"))
        .select(col("ts")))
    spiked
      .groupBy(date_format(date_trunc("DAY", col("ts")), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("prev_n", lag(col("n"), 1).over(w))
      .where(col("prev_n").isNotNull &&
        abs(col("n") - col("prev_n")) * 10 > col("prev_n") * 3)
      .select(col("day"), col("n"), col("prev_n"))
      .orderBy(col("day"))
  }

  /** Date-spine gap-fill / resample, W11 (extension): the daily rollup of a
    * SPARSE event class (high-value purchases here) has holes — days where
    * nothing qualified — but every downstream consumer of a daily series
    * (dashboards, anomaly screens like W10, training-mix schedulers) needs
    * a dense axis. Generate the full per-type date spine, mark the gaps,
    * and carry the last observed daily value forward.
    *
    * Scale shape: the ONLY full-corpus work is the one partial-agg rollup
    * shuffle (100 TB → |types|×|days| rows). Spine bounds come from a
    * 1-row aggregate OF THE ROLLUP (broadcast), the spine itself is a
    * `sequence` generator over those bounds (never a join against the
    * fact), and the forward-fill window sorts |types|×|days| rows. A
    * gap-fill windowed over the raw fact table would sort petabytes;
    * this never touches the fact again after the rollup.
    */
  private def w11(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events(s, dir)
      .where(col("value") >= 300.0)
      .groupBy(col("event_type"), date_trunc("DAY", col("ts")).as("d"))
      .agg(count(lit(1)).as("n_obs"),
        sum(round(col("value") * 100).cast("long")).as("cents"))
    val bounds = daily.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
    val spine = daily.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds)) // 1-row bounds: generator input, not a join fanout
      .select(col("event_type"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("d"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
    spine.join(daily, Seq("event_type", "d"), "left")
      .withColumn("cents_ff", last(col("cents"), ignoreNulls = true).over(w))
      .select(col("event_type"), date_format(col("d"), "yyyy-MM-dd").as("day"),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"),
        coalesce(col("cents_ff"), lit(0L)).as("cents_ff"),
        col("n_obs").isNull.as("is_gap"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Time-RANGE rolling window, W14 (extension): per event, the same
    * user's activity in the PRECEDING HOUR — a RangeFrame over event-time
    * micros, the window shape none of the ROWS-frame queries (A6, W8)
    * exercise. Rate-limiting, velocity features, and fraud screens are
    * all this frame. Ordering key is integer epoch-micros so the frame
    * bounds are exact in both engines (two events at the same microsecond
    * fall in each other's frame — RANGE semantics, identically on both
    * sides). One user_id shuffle, like every window in this family.
    */
  private def w14RollingHour(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-3600L * 1000000L, 0L)
    events(s, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("cents_1h", sum(col("cents")).over(w))
      .select(col("user_id"), col("event_id"), col("n_1h"), col("cents_1h"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** At-least-once boundary duplication, W5/N1: the rows the next run
    * re-reads because its predicate is `>= watermark`
    * (reference: billing_etl.py:280).
    */
  private def w5(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val wm = ev.where(col("ts") < ts(Mid)).agg(max(col("ts"))).first().getTimestamp(0)
    ev.where(col("ts") >= lit(wm))
      .select(col("event_id"), fmt(col("ts")).as("ts_iso"), col("event_type"))
      .where(col("ts") < ts(Mid))
      .orderBy(col("event_id"))
  }

  /** No-data short-circuit, W7: empty window => watermark jumps to job time
    * (reference: billing_etl.py:160-164).
    */
  private def w7(s: SparkSession, dir: String): DataFrame = {
    val n = events(s, dir).where(col("ts") >= ts("2090-01-01 00:00:00")).count()
    s.range(1).select(
      (if (n == 0) lit("JUMP_TO_NOW") else lit("ADVANCE")).as("action"),
      lit(n).as("extracted_rows"))
  }

  /** Headline pricing-summary aggregate (bench q1 shape). l_quantity is
    * integer-valued so its double SUM is order-independent; money columns go
    * through DECIMAL.
    */
  private def q1(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .where(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).as("sum_base_price"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)")).as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Multi-level ROLLUP aggregate (a5): the subtotal/grand-total report
    * shape warehouses run nightly. One pass computes (flag, status),
    * (flag), and () levels — Spark plans a single Expand + hash aggregate,
    * so the fact table is scanned once, not once per level. Money stays in
    * DECIMAL (order-independent sums); NULL grouping slots are projected to
    * a literal 'ALL' with `grouping_id()` kept to disambiguate, so the
    * oracle compare never meets a NULL.
    */
  private def a5Rollup(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_extendedprice").cast("decimal(18,2)")).as("revenue"),
        sum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n_rows"),
        grouping_id().as("gid"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("revenue"), col("sum_qty"), col("n_rows"),
        col("gid").cast("long").as("gid"))
      .orderBy(col("gid"), col("returnflag"), col("linestatus"))

  /** Explicit GROUPING SETS, A8 (extension): the NON-hierarchical grouping
    * rollup cannot express — revenue by (flag, status), by flag alone, AND
    * by status alone, all from ONE fact scan via the same Expand operator
    * (a UNION ALL of three aggregates would scan the fact three times).
    * Completes the grouped-aggregation family: groupBy (A4), rollup (A5),
    * Expand-based multi-distinct (A7), arbitrary sets (A8).
    */
  private def a8GroupingSets(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_extendedprice").cast("decimal(18,2)")).as("revenue"),
        count(lit(1)).as("n_rows"),
        grouping_id().as("gid"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("revenue"), col("n_rows"), col("gid").cast("long").as("gid"))
      .orderBy(col("gid"), col("returnflag"), col("linestatus"))

  /** CUBE — the last grouped-aggregation shape (groupBy A4, rollup A5,
    * multi-distinct A7, arbitrary sets A8): all 2² margins of
    * (returnflag, linestatus) including the grand total, one fact scan,
    * one Expand. Revenue in exact cents so the four grouping levels all
    * hash-replay.
    */
  private def a11Cube(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("revenue_cents"),
        count(lit(1)).as("n_rows"),
        grouping_id().as("gid"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("revenue_cents"), col("n_rows"), col("gid").cast("long").as("gid"))
      .orderBy(col("gid"), col("returnflag"), col("linestatus"))

  /** Headline join+agg (bench shape): fact-to-dim join then group. The
    * dim carries NO broadcast hint — customer is LINEAR in SF (a forced
    * broadcast is a driver OOM at 100×); the planner broadcasts it while
    * it fits and falls back to a shuffle join when it doesn't.
    */
  private def q2(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("revenue"))
      .orderBy(col("c_mktsegment"))

  /** Q3-shaped shipping-priority: three-table join, selective dim filter,
    * deterministic top-10. Join strategy is deliberately UNHINTED —
    * customer/orders/lineitem all scale with the corpus, so the right
    * physical join flips from broadcast (small SF) to shuffle (100 TB);
    * that decision belongs to Catalyst + AQE, not the query author.
    * Revenue in cents (round→long) so both engines agree bit-exactly.
    */
  private def q3(s: SparkSession, dir: String): DataFrame = {
    val cut = "1998-03-15 00:00:00"
    lineitem(s, dir).where(col("l_shipdate") > ts(cut))
      .join(orders(s, dir).where(col("o_orderdate") < ts(cut)),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, dir).where(col("c_mktsegment") === "BUILDING"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
        .cast("long")).as("revenue_cents"))
      .select(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("l_orderkey"))
      .limit(10)
  }

  /** Q5-shaped local-supplier volume: six-table join. nation/region are
    * FIXED-cardinality dims (25 / 5 rows at any SF) — broadcasting them is
    * correct at 100 TB, so that hint is pinned here; the scaling tables
    * (customer/orders/lineitem/supplier) stay unhinted for AQE.
    */
  private def q5(s: SparkSession, dir: String): DataFrame = {
    val nations = Tables.load(s, dir, "nation")
    val regions = Tables.load(s, dir, "region").where(col("r_name") === "ASIA")
    lineitem(s, dir)
      .join(orders(s, dir).where(
        col("o_orderdate") >= ts("1997-01-01 00:00:00") &&
          col("o_orderdate") < ts("1998-01-01 00:00:00")),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.load(s, dir, "supplier"),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(regions), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
        .cast("long")).as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("n_name"))
  }

  /** Q10-shaped returned-revenue ranking: which customers generated the
    * most revenue on RETURNED items in a quarter — the churn-risk report.
    * Selective fact filter (returnflag, pushed to the scan) before the
    * three-way join; fixed nation dim broadcast; deterministic top-20.
    */
  private def q10(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir).where(col("l_returnflag") === "R")
      .join(orders(s, dir).where(
        col("o_orderdate") >= ts("1997-10-01 00:00:00") &&
          col("o_orderdate") < ts("1998-01-01 00:00:00")),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.load(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(sum(revCents).as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("c_custkey"))
      .limit(20)

  /** Q15-shaped top supplier: suppliers achieving the exact MAXIMUM
    * quarterly revenue, ties included — the argmax-vs-global-max pattern.
    * The max is an unpartitioned window over the |suppliers|-sized
    * rollup (ONE fact scan — the scalar-subquery spelling plans the
    * rollup subtree twice, same trap as q20), and the equality against
    * it is exact integer cents, so ties replay identically in DuckDB.
    */
  private def q15(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rev = lineitem(s, dir)
      .where(col("l_shipdate") >= ts("1997-01-01 00:00:00") &&
        col("l_shipdate") < ts("1997-04-01 00:00:00"))
      .groupBy(col("l_suppkey"))
      .agg(sum(revCents).as("total_cents"))
    val withMax = rev.withColumn("max_cents",
      max(col("total_cents")).over(Window.partitionBy()))
    supplier(s, dir)
      .join(withMax.where(col("total_cents") === col("max_cents")),
        col("s_suppkey") === col("l_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_cents"))
      .orderBy(col("s_suppkey"))
  }

  /** Q18-shaped large-order screen: join against an AGGREGATED subquery.
    * The having-filter runs on the grouped lineitem relation BEFORE the
    * joins, so at 100 TB the join probe side is |qualifying orders|
    * (tiny), not |lineitem| — the aggregate-then-join ordering is the
    * whole point of the shape. Quantities are exact integers in the
    * fixture (and in TPC-H), so the HAVING threshold is ulp-safe.
    */
  private def q18(s: SparkSession, dir: String): DataFrame = {
    // l_quantity is integral by TPC-H construction, so the per-order sum is
    // carried as BIGINT end to end: the round-10 sweep hash-missed this one
    // query on float rendering of a decimal-summed double, and an integer
    // column is the only representation every hasher agrees on bit-for-bit.
    val big = lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
      .where(col("sum_qty") > 250)
    orders(s, dir)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        round(col("o_totalprice") * 100).cast("long").as("totalprice_cents"),
        col("sum_qty"))
      .orderBy(col("sum_qty").desc, col("o_orderkey"))
      .limit(20)
  }

  /** Q6-shaped forecast-revenue change: the pure scan-predicate aggregate —
    * no join at all, three conjunctive range predicates (date, discount
    * band, quantity cap) that ALL push to the parquet scan, one global
    * sum of price×discount. At 100 TB this is the query that proves
    * pushdown works: the scan should read only the year's row groups and
    * the aggregate is a map-side partial + 1-row final. Cents via the
    * proven round(double×100) convention, so DuckDB replays exactly.
    */
  private def q6(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .where(col("l_shipdate") >= ts("1997-01-01 00:00:00") &&
        col("l_shipdate") < ts("1998-01-01 00:00:00") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(sum(round(col("l_extendedprice") * col("l_discount") * 100)
        .cast("long")).as("discount_cents"),
        count(lit(1)).as("n_items"))

  /** Q9-shaped product-line profit: profit per supplier nation per year
    * where profit mixes columns from BOTH joined tables
    * (extendedprice×(1−discount) − retailprice×quantity) and the part
    * filter is a substring match (`p_name LIKE '%red%'`) that can't use
    * an index — the shape that forces a real fact⋈dim hash join with a
    * post-scan residual on the dim side. part is LINEAR in SF, so it
    * carries no broadcast hint (the planner broadcasts the name-filtered
    * slice while it fits); lineitem⋈orders is the only guaranteed big
    * shuffle.
    * Profit can be negative — the signed-cents rounding is identical in
    * both engines (round-half-away-from-zero on DOUBLE).
    */
  private def q9(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .join(part(s, dir).where(col("p_name").contains("red"))
        .select(col("p_partkey"), col("p_retailprice")),
        col("l_partkey") === col("p_partkey"))
      .join(supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.load(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .join(orders(s, dir).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(round((col("l_extendedprice") * (lit(1) - col("l_discount")) -
        col("p_retailprice") * col("l_quantity")) * 100).cast("long"))
        .as("profit_cents"))
      .orderBy(col("nation"), col("o_year").desc)

  /** Q11-shaped value concentration: which parts carry more than 1.25×
    * the MEAN per-part traded value — a grouped rollup filtered against
    * GLOBAL scalar aggregates. TPC-H q11's fixed-fraction threshold
    * degenerates as the catalog grows (at 10× the parts no part holds
    * 0.1%), so the threshold is mean-relative — scale-invariant by
    * construction. Total and part-count come from ONE unpartitioned
    * window over the |parts|-sized rollup (one fact scan; the
    * scalar-subquery spelling would plan the 100 TB scan twice), and the
    * test is exact integer cross-multiplication (value×n_parts×4 >
    * 5×total), so the boundary replays bit-identically in DuckDB — no
    * float share ever materializes.
    */
  private def q11(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy()
    lineitem(s, dir)
      .groupBy(col("l_partkey"))
      .agg(sum(revCents).as("value_cents"))
      .withColumn("total_cents", sum(col("value_cents")).over(w))
      .withColumn("n_parts", count(lit(1)).over(w))
      .where(col("value_cents") * col("n_parts") * 4 > col("total_cents") * 5)
      .select(col("l_partkey"), col("value_cents"))
      .orderBy(col("value_cents").desc, col("l_partkey"))
  }

  /** Q12-shaped priority shipping audit: fact⋈fact join (lineitem⋈orders)
    * with DUAL conditional counts per group — how many critical-priority
    * vs routine orders shipped in each linestatus class during the year.
    * The CASE-sum pair computes both tallies in ONE pass (a self-join of
    * the rollup would scan the join twice); the year filter pushes to the
    * lineitem scan so the join probes only the year's rows.
    */
  private def q12(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .where(col("l_shipdate") >= ts("1997-01-01 00:00:00") &&
        col("l_shipdate") < ts("1998-01-01 00:00:00"))
      .join(orders(s, dir).select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
      .orderBy(col("l_linestatus"))

  /** Q7-shaped bilateral volume shipping: the two-role dimension join —
    * nation joins the fact TWICE under different roles (supplier's nation
    * vs customer's nation), so the one physical table needs two aliased
    * plans. The selectivity is pushed OUTWARD from the 2-row nation pair
    * before anything touches the fact: suppliers of the pair become a
    * tiny broadcast that cuts lineitem to ~2/|nations| at its first join,
    * and customers of the pair cut orders the same way BEFORE the
    * fact⋈orders join — so the only shuffle the full-size fact ever
    * enters is keyed on l_orderkey against an already-reduced orders
    * side (small enough for AQE to flip to broadcast at bench scale,
    * a plain hash shuffle at 100 TB). Joining dimension-first like the
    * textbook form instead would drag 100% of lineitem through three
    * successive exchanges.
    */
  private def q7(s: SparkSession, dir: String): DataFrame = {
    val pair = Seq("NATION_7", "NATION_19")
    val suppNation = Tables.load(s, dir, "nation")
      .where(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val custNation = Tables.load(s, dir, "nation")
      .where(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
    val pairSuppliers = supplier(s, dir)
      .join(broadcast(suppNation), col("s_nationkey") === col("sn_key"))
      .select(col("s_suppkey"), col("supp_nation"))
    val pairOrders = orders(s, dir)
      .join(customer(s, dir)
          .join(broadcast(custNation), col("c_nationkey") === col("cn_key"))
          .select(col("c_custkey"), col("cust_nation")),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("cust_nation"))
    lineitem(s, dir)
      .where(col("l_shipdate") >= ts("1997-01-01 00:00:00") &&
        col("l_shipdate") < ts("1999-01-01 00:00:00"))
      // pairSuppliers is supplier-derived (linear in SF): no forced
      // broadcast — the nation-pair filter already sits outside the fact
      // joins, and the planner broadcasts the slice while it fits
      .join(pairSuppliers, col("l_suppkey") === col("s_suppkey"))
      .join(pairOrders, col("l_orderkey") === col("o_orderkey"))
      .where(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(sum(revCents).as("revenue_cents"), count(lit(1)).as("n_items"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** Q8-shaped market share: one nation's slice of a region's import
    * volume per year, as a conditional-aggregate RATIO over a six-table
    * join — numerator and denominator from ONE pass (a self-join of the
    * rollup would scan the join tree twice). Exact integer milli-share
    * via cents×1000 div total. Fixed dims broadcast; scaling tables left
    * to AQE, same policy as q5.
    */
  private def q8(s: SparkSession, dir: String): DataFrame = {
    val regionNations = Tables.load(s, dir, "nation")
      .join(broadcast(Tables.load(s, dir, "region").where(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("cn_key"))
    val suppNation = Tables.load(s, dir, "nation")
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    lineitem(s, dir)
      .join(part(s, dir).where(col("p_type") === "STANDARD"),
        col("l_partkey") === col("p_partkey"))
      .join(orders(s, dir).where(
        col("o_orderdate") >= ts("1997-01-01 00:00:00") &&
          col("o_orderdate") < ts("1999-01-01 00:00:00")),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(regionNations), col("c_nationkey") === col("cn_key"))
      .join(supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(suppNation), col("s_nationkey") === col("sn_key"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        sum(when(col("supp_nation") === "NATION_3", revCents).otherwise(0L))
          .as("nation_cents"),
        sum(revCents).as("total_cents"))
      .select(col("o_year"), col("nation_cents"), col("total_cents"),
        expr("nation_cents * 1000 div total_cents").as("share_milli"))
      .orderBy(col("o_year"))
  }

  /** Q14-shaped promo share: fact⋈dim over one month, ratio of the PROMO
    * slice — the conditional-aggregate-ratio shape again but with the
    * month filter pushed to the fact scan (at 100 TB: partition pruning)
    * so the part join probes only the month's rows.
    */
  private def q14(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .where(col("l_shipdate") >= ts("1997-09-01 00:00:00") &&
        col("l_shipdate") < ts("1997-10-01 00:00:00"))
      .join(part(s, dir), col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", revCents).otherwise(0L))
          .as("promo_cents"),
        sum(revCents).as("total_cents"))
      .select(col("promo_cents"), col("total_cents"),
        expr("promo_cents * 1000 div total_cents").as("promo_milli"))

  /** Q19-shaped disjunctive join predicate: an OR of three per-(brand,
    * size, quantity) conjuncts that straddles BOTH join sides. Catalyst
    * extracts the side-local implications (p_brand IN (…) ∧ p_size ≤ 15
    * to the part scan, l_quantity ≤ 30 to the lineitem scan) so each
    * side prunes before the join even though the full OR can only be
    * evaluated after it — the reason to write the disjunction
    * declaratively instead of unioning three joins (three fact scans).
    */
  private def q19(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .join(part(s, dir), col("l_partkey") === col("p_partkey"))
      .where(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#13" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#20" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20, 30)))
      .agg(sum(revCents).as("revenue_cents"), count(lit(1)).as("n_items"))

  /** Q20-shaped nested semi-join: suppliers whose 1997 shipped volume of
    * bolt parts beat the per-supplier average — a LEFT SEMI join against
    * an aggregated-and-thresholded subquery, with the threshold itself a
    * scalar aggregate OVER that subquery (scale-invariant, no magic
    * constant). The aggregate runs before either join, so the semi-join
    * probe side is |qualifying suppliers|; supplier rows never duplicate
    * — the semi-join contract. The threshold is an unpartitioned window
    * over the ROLLED-UP relation, not a self-join of it: the cross-join-
    * a-broadcast-aggregate spelling plans the lineitem⋈part subtree
    * TWICE (two fact scans — verified on `.explain`), while the window
    * costs one single-partition pass over |suppliers| rows, which is
    * already collapsed fact-side data.
    */
  private def q20(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shipped = lineitem(s, dir)
      .where(col("l_shipdate") >= ts("1997-01-01 00:00:00") &&
        col("l_shipdate") < ts("1998-01-01 00:00:00"))
      .join(part(s, dir).where(col("p_name").contains("bolt")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("ship_qty"))
    // avg threshold exactly, by cross-multiplication: qty * n > total
    val w = Window.partitionBy()
    val heavy = shipped
      .withColumn("tot_qty", sum(col("ship_qty")).over(w))
      .withColumn("n_supp", count(lit(1)).over(w))
      .where(col("ship_qty") * col("n_supp") > col("tot_qty"))
      .select(col("l_suppkey"))
    supplier(s, dir)
      .join(heavy, col("s_suppkey") === col("l_suppkey"), "leftsemi")
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
      .orderBy(col("s_suppkey"))
  }

  /** Q22-shaped dormant-rich-customer audit: global-aggregate threshold +
    * NOT EXISTS, both made scale-safe — the "above average positive
    * balance" gate is an exact integer cross-multiplication against a
    * broadcast 1-row aggregate (no double-precision avg whose summation
    * order differs between engines), and "dormant since 2000" is a LEFT
    * ANTI join against the date-filtered orders slice (never a collected
    * id list; the date filter pushes to the orders scan). Output is the
    * per-nation count + cents rollup.
    */
  private def q22(s: SparkSession, dir: String): DataFrame = {
    val cents = round(col("c_acctbal") * 100).cast("long")
    val cust = customer(s, dir).select(
      col("c_custkey"), col("c_nationkey"), cents.as("bal_cents"))
    val posAgg = cust.where(col("bal_cents") > 0)
      .agg(sum(col("bal_cents")).as("pos_cents"), count(lit(1)).as("n_pos"))
    cust.crossJoin(broadcast(posAgg))
      .where(col("bal_cents") * col("n_pos") > col("pos_cents"))
      .join(orders(s, dir)
        .where(col("o_orderdate") >= ts("2000-01-01 00:00:00"))
        .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "leftanti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_cust"), sum(col("bal_cents")).as("bal_cents_sum"))
      .orderBy(col("c_nationkey"))
  }

  /** Distinct-aggregate per group (Expand-based two-phase distinct): how
    * many distinct suppliers and parts served each return-flag class.
    * Catalyst plans this as partial-distinct below the shuffle — the only
    * scalable shape for COUNT(DISTINCT) over a 100 TB fact table.
    */
  private def a7(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_suppkey")).as("n_suppliers"),
        countDistinct(col("l_partkey")).as("n_parts"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q3_shipping_priority" -> (q3 _),
    "q5_local_supplier" -> (q5 _),
    "q6_forecast_revenue" -> (q6 _),
    "q9_product_profit" -> (q9 _),
    "q11_value_concentration" -> (q11 _),
    "q12_priority_shipping" -> (q12 _),
    "q7_volume_shipping" -> (q7 _),
    "q8_market_share" -> (q8 _),
    "q14_promo_share" -> (q14 _),
    "q10_returned_revenue" -> (q10 _),
    "q15_top_supplier" -> (q15 _),
    "q18_large_orders" -> (q18 _),
    "q19_disjunctive_join" -> (q19 _),
    "q20_nested_semijoin" -> (q20 _),
    "q22_dormant_rich_anti" -> (q22 _),
    "a7_distinct_agg" -> (a7 _),
    "s1_incremental_scan" -> (s1 _),
    "s2_count_scan" -> (s2 _),
    "s3_config_point_lookup" -> (s3 _),
    "s4_checkpoint_top1" -> (s4 _),
    "p3_single_column_projection" -> (p3 _),
    "p4_iso_serialization" -> (p4 _),
    "p5_null_dropping_projection" -> (p5 _),
    "f1_halfopen_boundary" -> (f1 _),
    "f3_point_equality" -> (f3 _),
    "f5_membership" -> (f5 _),
    "f6_null_guards" -> (f6 _),
    "j1_config_lookup_join" -> (j1 _),
    "j1_missing_config_anti" -> (j1Anti _),
    "a1_count_where" -> (a1 _),
    "a2_max_watermark" -> (a2 _),
    "a3_top1_per_key" -> (a3 _),
    "a4_count_per_key" -> (a4 _),
    "o1_orderby_desc_limit1" -> (o1 _),
    "o2_limit_offset" -> (o2 _),
    "o4_global_index" -> (o4GlobalIndex _),
    "w15_activity_streaks" -> (w15ActivityStreaks _),
    "a9_topk_custom_agg" -> (a9TopkCustomAgg _),
    "w16_week_over_week" -> (w16WeekOverWeek _),
    "mix_temporal_split" -> (mixTemporalSplit _),
    "c1_base64_roundtrip" -> (c1 _),
    "c3_json_parse" -> (c3 _),
    "c4_json_serialize" -> (c4 _),
    "c6_timestamp_construction" -> (c6 _),
    "c7_epoch_default" -> (c7 _),
    "c8_identifier_concat" -> (c8 _),
    "c9_split_last" -> (c9 _),
    "c10_int_cast" -> (c10 _),
    "c12_substring_match" -> (c12 _),
    "c13_backoff_math" -> (c13 _),
    "c14_variant_shred" -> (c14 _),
    "w1_resume_watermark" -> (w1 _),
    "w2_window_bound" -> (w2 _),
    "w3_tumbling_windows" -> (w3 _),
    "w17_sliding_windows" -> (w17 _),
    "w18_peak_concurrency" -> (w18PeakConcurrency _),
    "w19_ewma_daily" -> (w19EwmaDaily _),
    "a12_mode_per_key" -> (a12ModePerKey _),
    "j9_nullsafe_join" -> (j9 _),
    "w5_boundary_duplicates" -> (w5 _),
    "w8_gap_sessionize" -> (w8 _),
    "w9_cumulative_daily" -> (w9 _),
    "w10_volume_anomaly" -> (w10 _),
    "w11_gap_fill" -> (w11 _),
    "w14_rolling_hour" -> (w14RollingHour _),
    "a6_window_suite" -> (a6WindowSuite _),
    "j2_asof_join" -> (j2 _),
    "j10_asof_operator" -> (j10 _),
    "j11_asof_forward" -> (j11 _),
    "a10_ntile_deciles" -> (a10NtileDeciles _),
    "a11_cube" -> (a11Cube _),
    "w7_no_data_short_circuit" -> (w7 _),
    "q1_pricing_summary" -> (q1 _),
    "q2_segment_revenue" -> (q2 _),
    "a5_rollup_revenue" -> (a5Rollup _),
    "a8_grouping_sets" -> (a8GroupingSets _)
  )

  val oracleSql: Map[String, String] = Map(
    "q6_forecast_revenue" ->
      """SELECT
        |  CAST(sum(round(l_extendedprice * l_discount * 100)::BIGINT) AS BIGINT) AS discount_cents,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q9_product_profit" ->
      """SELECT n_name AS nation,
        |  CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(round((l_extendedprice * (1 - l_discount)
        |    - p_retailprice * l_quantity) * 100)::BIGINT) AS BIGINT) AS profit_cents
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2
        |ORDER BY nation, o_year DESC""".stripMargin,
    "q11_value_concentration" ->
      """SELECT l_partkey, value_cents FROM (
        |  SELECT l_partkey,
        |    CAST(sum(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT) AS BIGINT) AS value_cents,
        |    sum(sum(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT)) OVER () AS total_cents,
        |    count(*) OVER () AS n_parts
        |  FROM lineitem
        |  GROUP BY 1)
        |WHERE value_cents * n_parts * 4 > total_cents * 5
        |ORDER BY value_cents DESC, l_partkey""".stripMargin,
    "q12_priority_shipping" ->
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1
        |ORDER BY l_linestatus""".stripMargin,
    "q7_volume_shipping" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  CAST(sum(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT) AS BIGINT) AS revenue_cents,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
        |  AND sn.n_name IN ('NATION_7', 'NATION_19')
        |  AND cn.n_name IN ('NATION_7', 'NATION_19')
        |  AND sn.n_name <> cn.n_name
        |GROUP BY 1, 2, 3
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "q8_market_share" ->
      """SELECT o_year, nation_cents, total_cents,
        |  CAST(nation_cents * 1000 // total_cents AS BIGINT) AS share_milli
        |FROM (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |    CAST(sum(CASE WHEN sn.n_name = 'NATION_3'
        |      THEN round(l_extendedprice * (1 - l_discount) * 100)::BIGINT
        |      ELSE 0 END) AS BIGINT) AS nation_cents,
        |    CAST(sum(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT) AS BIGINT) AS total_cents
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  JOIN region ON cn.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  WHERE p_type = 'STANDARD' AND r_name = 'ASIA'
        |    AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        |  GROUP BY 1)
        |ORDER BY o_year""".stripMargin,
    "q14_promo_share" ->
      """SELECT promo_cents, total_cents,
        |  CAST(promo_cents * 1000 // total_cents AS BIGINT) AS promo_milli
        |FROM (
        |  SELECT
        |    CAST(sum(CASE WHEN p_type = 'PROMO'
        |      THEN round(l_extendedprice * (1 - l_discount) * 100)::BIGINT
        |      ELSE 0 END) AS BIGINT) AS promo_cents,
        |    CAST(sum(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT) AS BIGINT) AS total_cents
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00')""".stripMargin,
    "q19_disjunctive_join" ->
      """SELECT
        |  CAST(sum(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT) AS BIGINT) AS revenue_cents,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q20_nested_semijoin" ->
      """WITH shipped AS (
        |  SELECT l_suppkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS ship_qty
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE '%bolt%'
        |    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  GROUP BY l_suppkey),
        |totals AS (SELECT sum(ship_qty) AS tot_qty, count(*) AS n_supp FROM shipped)
        |SELECT s_suppkey, s_name, s_nationkey FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM shipped, totals WHERE ship_qty * n_supp > tot_qty)
        |ORDER BY s_suppkey""".stripMargin,
    "q22_dormant_rich_anti" ->
      """WITH cust AS (
        |  SELECT c_custkey, c_nationkey,
        |    round(c_acctbal * 100)::BIGINT AS bal_cents
        |  FROM customer),
        |pos AS (SELECT CAST(sum(bal_cents) AS BIGINT) AS pos_cents,
        |               count(*) AS n_pos FROM cust WHERE bal_cents > 0)
        |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust,
        |  CAST(sum(bal_cents) AS BIGINT) AS bal_cents_sum
        |FROM cust, pos
        |WHERE bal_cents * n_pos > pos_cents
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,
    "q10_returned_revenue" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(sum(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1997-10-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue_cents DESC, c_custkey
        |LIMIT 20""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(sum(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT) AS BIGINT) AS total_cents
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_cents
        |FROM supplier JOIN rev ON s_suppkey = l_suppkey
        |WHERE total_cents = (SELECT max(total_cents) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    "q18_large_orders" ->
      """SELECT c_name, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  round(o_totalprice * 100)::BIGINT AS totalprice_cents,
        |  CAST(sum_qty AS BIGINT) AS sum_qty
        |FROM orders
        |JOIN (SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |      FROM lineitem GROUP BY l_orderkey HAVING sum_qty > 250) big
        |  ON o_orderkey = big.l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY sum_qty DESC, o_orderkey
        |LIMIT 20""".stripMargin,
    "a7_distinct_agg" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q3_shipping_priority" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  CAST(sum(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue_cents DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "q5_local_supplier" ->
      """SELECT n_name,
        |  CAST(sum(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue_cents DESC, n_name""".stripMargin,
    "s1_incremental_scan" ->
      s"""SELECT event_id, strftime(ts, '$DuckTsFmt') AS ts_iso, user_id, event_type, value, props
         |FROM events WHERE ts >= TIMESTAMP '$W0' AND ts < TIMESTAMP '$W1'
         |ORDER BY event_id""".stripMargin,
    "s2_count_scan" ->
      s"SELECT count(*) AS cnt FROM events WHERE ts >= TIMESTAMP '$W0' AND ts < TIMESTAMP '$W1'",
    "s3_config_point_lookup" ->
      "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer WHERE c_custkey = 71",
    "s4_checkpoint_top1" ->
      s"SELECT strftime(max(ts), '$DuckTsFmt') AS end_date_time FROM events WHERE user_id = 7 AND event_type = 'purchase'",
    "p3_single_column_projection" ->
      s"SELECT strftime(ts, '$DuckTsFmt') AS end_date_time FROM events WHERE user_id = 3 ORDER BY 1",
    "p4_iso_serialization" ->
      s"""SELECT event_id, strftime(ts, '$DuckIsoFmt') AS ts_iso8601
         |FROM events WHERE ts >= TIMESTAMP '$W0' AND ts < TIMESTAMP '$W1' ORDER BY event_id""".stripMargin,
    "p5_null_dropping_projection" ->
      "SELECT event_id, value AS v FROM events WHERE value >= 50 ORDER BY event_id",
    "f1_halfopen_boundary" ->
      s"""SELECT event_id, strftime(ts, '$DuckTsFmt') AS ts_iso FROM events
         |WHERE ts >= (SELECT max(ts) FROM events WHERE ts < TIMESTAMP '$Mid')
         |  AND ts < TIMESTAMP '$Mid' ORDER BY event_id""".stripMargin,
    "f3_point_equality" ->
      s"""SELECT event_id, strftime(ts, '$DuckTsFmt') AS ts_iso, user_id, event_type, value, props
         |FROM events WHERE event_id = 421""".stripMargin,
    "f5_membership" ->
      "SELECT event_id, event_type FROM events WHERE event_type IN ('signup', 'error') ORDER BY event_id",
    "f6_null_guards" ->
      """SELECT count(*) AS valid_rows FROM events
        |WHERE props IS NOT NULL
        |  AND json_extract_string(props, '$.missing') IS NULL
        |  AND json_extract_string(props, '$.k') IS NOT NULL""".stripMargin,
    "j1_config_lookup_join" ->
      """SELECT o_orderkey, o_custkey, c_name, c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderstatus = 'O' ORDER BY o_orderkey""".stripMargin,
    "j1_missing_config_anti" ->
      """SELECT o_orderkey FROM orders
        |LEFT JOIN (SELECT * FROM customer WHERE c_custkey % 10 < 3) c ON o_custkey = c_custkey
        |WHERE c_custkey IS NULL ORDER BY o_orderkey""".stripMargin,
    "a1_count_where" ->
      s"SELECT count(*) AS cnt FROM events WHERE ts >= TIMESTAMP '$W0' AND ts < TIMESTAMP '$W1' AND value > 100",
    "a2_max_watermark" ->
      s"SELECT strftime(max(ts), '$DuckTsFmt') AS watermark FROM events",
    "a3_top1_per_key" ->
      s"""SELECT user_id, event_id, strftime(ts, '$DuckTsFmt') AS ts_iso FROM events
         |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
         |ORDER BY user_id""".stripMargin,
    "a4_count_per_key" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_value_cents
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "o1_orderby_desc_limit1" ->
      s"SELECT event_id, strftime(ts, '$DuckTsFmt') AS ts_iso FROM events ORDER BY ts DESC, event_id DESC LIMIT 1",
    "o2_limit_offset" ->
      "SELECT event_id FROM events ORDER BY ts, event_id LIMIT 100 OFFSET 50",
    "w16_week_over_week" ->
      """WITH d AS (SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_rows,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1),
        |l AS (SELECT day, n_rows, cents,
        |    lag(n_rows, 7) OVER (ORDER BY day) AS pn,
        |    lag(cents, 7) OVER (ORDER BY day) AS pc FROM d)
        |SELECT day, n_rows, n_rows - pn AS wow_rows, cents - pc AS wow_cents
        |FROM l WHERE pn IS NOT NULL ORDER BY day""".stripMargin,
    "mix_temporal_split" ->
      """WITH u AS (SELECT user_id,
        |    CAST(sum(CASE WHEN strftime(ts, '%Y-%m-%d') < '2024-01-21'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
        |    CAST(sum(CASE WHEN strftime(ts, '%Y-%m-%d') >= '2024-01-21'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_eval
        |  FROM events GROUP BY 1)
        |SELECT CAST(sum(n_train) AS BIGINT) AS train_rows,
        |  CAST(sum(n_eval) AS BIGINT) AS eval_rows,
        |  CAST(sum(CASE WHEN n_train > 0 AND n_eval > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_leaky_users,
        |  count(*) AS n_users,
        |  CAST(sum(CASE WHEN n_train > 0 AND n_eval > 0 THEN 1 ELSE 0 END) * 1000
        |    // count(*) AS BIGINT) AS leaky_milli
        |FROM u""".stripMargin,
    "a9_topk_custom_agg" ->
      """SELECT event_type, CAST(rnk AS INTEGER) AS rnk, value, event_id FROM (
        |  SELECT event_type, value, event_id,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY value DESC, event_id) AS rnk
        |  FROM events)
        |WHERE rnk <= 3 ORDER BY event_type, rnk""".stripMargin,
    "w15_activity_streaks" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_ord
        |  FROM events),
        |isl AS (
        |  SELECT user_id, day_ord,
        |    day_ord - row_number() OVER (PARTITION BY user_id ORDER BY day_ord) AS island
        |  FROM days),
        |runs AS (SELECT user_id, island, count(*) AS len FROM isl GROUP BY 1, 2)
        |SELECT user_id, CAST(max(len) AS BIGINT) AS longest_streak,
        |  count(*) AS n_streaks
        |FROM runs GROUP BY 1 ORDER BY 1""".stripMargin,
    "o4_global_index" ->
      """WITH idx AS (
        |  SELECT event_id,
        |    CAST(row_number() OVER (ORDER BY ts, event_id) AS BIGINT) - 1 AS global_idx
        |  FROM events)
        |SELECT global_idx, event_id FROM idx
        |WHERE global_idx % 1000 = 0 ORDER BY global_idx""".stripMargin,
    "c1_base64_roundtrip" ->
      "SELECT event_id, decode(from_base64(to_base64(encode(props)))) AS payload FROM events ORDER BY event_id",
    "c3_json_parse" ->
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events ORDER BY event_id",
    "c14_variant_shred" ->
      """SELECT event_type,
        |  CAST(count(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT)
        |    AS n_with_k,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS k_sum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "c4_json_serialize" ->
      """SELECT event_id,
        |  to_json(struct_pack(event_id := event_id, event_type := event_type))::VARCHAR AS js
        |FROM events ORDER BY event_id""".stripMargin,
    "c6_timestamp_construction" ->
      "SELECT count(*) AS cnt FROM events WHERE ts >= TIMESTAMP '2024-01-15 12:00:00'",
    "c7_epoch_default" ->
      s"""SELECT strftime(coalesce(max(ts), TIMESTAMP '$Epoch'), '$DuckTsFmt') AS watermark
         |FROM events WHERE user_id = -1""".stripMargin,
    "c8_identifier_concat" ->
      """SELECT user_id, 'org_' || CAST(user_id AS VARCHAR) || '_standard_export_table' AS ident
        |FROM (SELECT DISTINCT user_id FROM events) ORDER BY user_id""".stripMargin,
    "c9_split_last" ->
      """SELECT source, split_part('proj.ds.' || source, '.', 3) AS dataset_id
        |FROM (SELECT DISTINCT source FROM documents) ORDER BY source""".stripMargin,
    "c10_int_cast" ->
      """SELECT event_id, CAST(FLOOR(value) AS INTEGER) AS v_int,
        |  CAST(CAST(user_id AS VARCHAR) AS INTEGER) AS org_id
        |FROM events ORDER BY event_id""".stripMargin,
    "c12_substring_match" ->
      "SELECT event_id FROM events WHERE contains(event_type, 'rror') ORDER BY event_id",
    "c13_backoff_math" ->
      """SELECT CAST(attempt AS INTEGER) AS attempt, CAST(POWER(2, attempt) AS INTEGER) AS delay_s
        |FROM (SELECT range AS attempt FROM range(0, 4)) ORDER BY attempt""".stripMargin,
    "w1_resume_watermark" ->
      s"""SELECT strftime(coalesce(max(ts), TIMESTAMP '$Epoch'), '$DuckTsFmt') AS watermark
         |FROM events WHERE event_type = 'purchase' AND user_id = 5""".stripMargin,
    "w2_window_bound" ->
      s"""SELECT strftime(max(ts), '$DuckTsFmt') AS persisted_watermark
         |FROM events WHERE ts >= TIMESTAMP '$W0' AND ts < TIMESTAMP '$W1'""".stripMargin,
    "w3_tumbling_windows" ->
      s"""SELECT strftime(date_trunc('day', ts), '$DuckTsFmt') AS window_start,
         |  count(*) AS n, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_value_cents
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "j9_nullsafe_join" ->
      """WITH keyed AS (
        |  SELECT event_type,
        |    CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 3 <> 0
        |         THEN CAST(json_extract_string(props, '$.k') AS BIGINT) END AS key
        |  FROM events),
        |v AS (SELECT key, CAST(count(*) AS BIGINT) AS n_views
        |      FROM keyed WHERE event_type = 'view' GROUP BY key),
        |c AS (SELECT key, CAST(count(*) AS BIGINT) AS n_clicks
        |      FROM keyed WHERE event_type = 'click' GROUP BY key)
        |SELECT coalesce(v.key, -1) AS k_key, n_views, n_clicks
        |FROM v JOIN c ON v.key IS NOT DISTINCT FROM c.key
        |ORDER BY k_key""".stripMargin,
    "w17_sliding_windows" ->
      s"""SELECT strftime(ws, '$DuckTsFmt') AS window_start,
         |  strftime(ws + INTERVAL 2 DAY, '$DuckTsFmt') AS window_end,
         |  count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_value_cents
         |FROM (
         |  SELECT unnest([date_trunc('day', ts) - INTERVAL 1 DAY,
         |                 date_trunc('day', ts)]) AS ws, value
         |  FROM events)
         |GROUP BY ws ORDER BY window_start""".stripMargin,
    "w18_peak_concurrency" ->
      """WITH spans AS (
        |  SELECT strftime(ts, '%Y-%m-%d') AS day, user_id,
        |    min(ts) AS t0, max(ts) AS t1
        |  FROM events GROUP BY 1, 2),
        |marks AS (
        |  SELECT day, t0 AS t, 1 AS delta FROM spans
        |  UNION ALL SELECT day, t1 AS t, -1 AS delta FROM spans),
        |loads AS (
        |  SELECT day, sum(delta) OVER (
        |    PARTITION BY day ORDER BY t ASC, delta DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS load
        |  FROM marks)
        |SELECT day, CAST(max(load) AS BIGINT) AS peak_concurrency,
        |  CAST(count(*) // 2 AS BIGINT) AS n_intervals
        |FROM loads GROUP BY day ORDER BY day""".stripMargin,
    "w19_ewma_daily" ->
      """WITH daily AS (
        |  SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |seqs AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_days, max(day) AS last_day,
        |    list(cents ORDER BY day) AS l
        |  FROM daily GROUP BY user_id)
        |SELECT user_id, n_days, last_day,
        |  CAST(CASE WHEN len(l) = 1 THEN l[1]
        |       ELSE list_reduce(l, (acc, x) -> (acc + x) // 2) END AS BIGINT)
        |    AS ewma_cents
        |FROM seqs ORDER BY user_id""".stripMargin,
    "a12_mode_per_key" ->
      """SELECT user_id, event_type AS mode_type, n FROM (
        |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY count(*) DESC, event_type ASC) AS rk
        |  FROM events GROUP BY user_id, event_type)
        |WHERE rk = 1 ORDER BY user_id""".stripMargin,
    "j2_asof_join" ->
      s"""SELECT event_id, strftime(ts, '$DuckTsFmt') AS ts_iso, user_id,
         |  asof_view_id, asof_view_value
         |FROM (
         |  SELECT event_id, ts, user_id, event_type,
         |    last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
         |      OVER w AS asof_view_id,
         |    last_value(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS)
         |      OVER w AS asof_view_value
         |  FROM events WHERE event_type IN ('view', 'purchase')
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
         |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    "a11_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |  coalesce(l_linestatus, 'ALL') AS linestatus,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents,
        |  count(*) AS n_rows,
        |  CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, returnflag, linestatus""".stripMargin,
    "a10_ntile_deciles" ->
      """SELECT event_type,
        |  CAST(ntile AS INTEGER) AS decile, n, lo_cents, hi_cents FROM (
        |  SELECT event_type, decile AS ntile, count(*) AS n,
        |    min(v_cents) AS lo_cents, max(v_cents) AS hi_cents
        |  FROM (
        |    SELECT event_type, event_id,
        |      CAST(round(value * 100) AS BIGINT) AS v_cents,
        |      ntile(10) OVER (PARTITION BY event_type
        |                      ORDER BY CAST(round(value * 100) AS BIGINT), event_id)
        |        AS decile
        |    FROM events)
        |  GROUP BY 1, 2)
        |ORDER BY event_type, decile""".stripMargin,
    // the custom physical operator must reproduce the composed j2 form
    // bit-for-bit — one oracle grades both spellings
    "j10_asof_operator" ->
      s"""SELECT event_id, strftime(ts, '$DuckTsFmt') AS ts_iso, user_id,
         |  asof_view_id, asof_view_value
         |FROM (
         |  SELECT event_id, ts, user_id, event_type,
         |    last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
         |      OVER w AS asof_view_id,
         |    last_value(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS)
         |      OVER w AS asof_view_value
         |  FROM events WHERE event_type IN ('view', 'purchase')
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
         |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    // forward direction: the same window trick over the time-REVERSED
    // stream — "1 PRECEDING" in (ts DESC, id DESC) order is exactly
    // "strictly after by (ts, id)"
    "j11_asof_forward" ->
      s"""SELECT event_id, strftime(ts, '$DuckTsFmt') AS ts_iso, user_id,
         |  next_view_id, next_view_value
         |FROM (
         |  SELECT event_id, ts, user_id, event_type,
         |    last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
         |      OVER w AS next_view_id,
         |    last_value(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS)
         |      OVER w AS next_view_value
         |  FROM events WHERE event_type IN ('view', 'purchase')
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
         |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    "w10_volume_anomaly" ->
      """WITH spiked AS (
        |  SELECT ts FROM events
        |  UNION ALL
        |  SELECT ts FROM events, range(2) WHERE strftime(ts, '%Y-%m-%d') = '2024-01-15'),
        |d AS (
        |  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, count(*) AS n
        |  FROM spiked GROUP BY 1),
        |l AS (SELECT day, n, lag(n) OVER (ORDER BY day) AS prev_n FROM d)
        |SELECT day, n, prev_n FROM l
        |WHERE prev_n IS NOT NULL AND abs(n - prev_n) * 10 > prev_n * 3
        |ORDER BY day""".stripMargin,
    "a6_window_suite" ->
      """SELECT user_id, event_id,
        |  CAST(row_number() OVER wts AS INTEGER) AS rn,
        |  epoch_us(ts) - lag(epoch_us(ts)) OVER wts AS gap_us,
        |  CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents,
        |  CAST(ntile(4) OVER (PARTITION BY user_id ORDER BY cents DESC, event_id)
        |    AS INTEGER) AS spend_quartile
        |FROM (SELECT user_id, event_id, ts,
        |        CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |WINDOW wts AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, rn""".stripMargin,
    "w14_rolling_hour" ->
      """SELECT user_id, event_id,
        |  count(*) OVER w AS n_1h,
        |  CAST(sum(cents) OVER w AS BIGINT) AS cents_1h
        |FROM (SELECT user_id, event_id, epoch_us(ts) AS us,
        |        CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY us
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,
    "w11_gap_fill" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS d, count(*) AS n_obs,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events WHERE value >= 300.0 GROUP BY 1, 2),
        |b AS (SELECT min(d) AS d0, max(d) AS d1 FROM daily),
        |spine AS (
        |  SELECT t.event_type, g.d
        |  FROM (SELECT DISTINCT event_type FROM daily) t,
        |       (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS d FROM b) g),
        |j AS (SELECT s.event_type, s.d, daily.n_obs, daily.cents
        |      FROM spine s LEFT JOIN daily ON s.event_type = daily.event_type AND s.d = daily.d)
        |SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
        |  CAST(COALESCE(n_obs, 0) AS BIGINT) AS n_obs,
        |  CAST(COALESCE(last_value(cents IGNORE NULLS) OVER (
        |    PARTITION BY event_type ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS BIGINT) AS cents_ff,
        |  n_obs IS NULL AS is_gap
        |FROM j ORDER BY event_type, day""".stripMargin,
    "w9_cumulative_daily" ->
      """WITH d AS (
        |  SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |    count(*) AS n,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, day, n, cents,
        |  CAST(sum(n) OVER w AS BIGINT) AS cum_n,
        |  CAST(sum(cents) OVER w AS BIGINT) AS cum_cents
        |FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day)
        |ORDER BY event_type, day""".stripMargin,
    "w8_gap_sessionize" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events),
         |m AS (
         |  SELECT user_id, ts, us,
         |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > $SessionGapUs
         |         THEN 1 ELSE 0 END AS brk
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |s AS (
         |  SELECT user_id, ts, us,
         |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, us
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         |  FROM m)
         |SELECT user_id, session_id, count(*) AS n_events,
         |  strftime(min(ts), '$DuckTsFmt') AS session_start,
         |  strftime(max(ts), '$DuckTsFmt') AS session_end,
         |  CAST(max(us) - min(us) AS BIGINT) AS duration_us
         |FROM s GROUP BY user_id, session_id
         |ORDER BY user_id, session_id""".stripMargin,
    "w5_boundary_duplicates" ->
      s"""SELECT event_id, strftime(ts, '$DuckTsFmt') AS ts_iso, event_type FROM events
         |WHERE ts >= (SELECT max(ts) FROM events WHERE ts < TIMESTAMP '$Mid')
         |  AND ts < TIMESTAMP '$Mid' ORDER BY event_id""".stripMargin,
    "w7_no_data_short_circuit" ->
      """SELECT CASE WHEN cnt = 0 THEN 'JUMP_TO_NOW' ELSE 'ADVANCE' END AS action,
        |  cnt AS extracted_rows
        |FROM (SELECT count(*) AS cnt FROM events WHERE ts >= TIMESTAMP '2090-01-01 00:00:00')""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |  sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sum_base_price,
        |  sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_segment_revenue" ->
      """SELECT c_mktsegment, count(*) AS n, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "a5_rollup_revenue" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |  coalesce(l_linestatus, 'ALL') AS linestatus,
        |  sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS revenue,
        |  sum(l_quantity) AS sum_qty,
        |  count(*) AS n_rows,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY gid, returnflag, linestatus""".stripMargin,
    "a8_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |  coalesce(l_linestatus, 'ALL') AS linestatus,
        |  sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS revenue,
        |  count(*) AS n_rows,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_returnflag), (l_linestatus))
        |ORDER BY gid, returnflag, linestatus""".stripMargin
  )
}
