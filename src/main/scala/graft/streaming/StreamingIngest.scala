package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.LongType

import graft.util.ScopedConf

/** Structured-Streaming re-expression of the reference's incremental
  * semantics (SURVEY §2.9): the billing source as an append-only stream,
  * consumed with `Trigger.AvailableNow` — engine-managed offsets replace
  * the hand-rolled watermark checkpoint, `withWatermark` replaces the
  * silent late-data loss (W4) with bounded lateness, and
  * `mapGroupsWithState` carries the per-key watermark state machine that
  * the reference keeps in MySQL.
  *
  * Everything runs the batch-identical DataFrame expressions, so each
  * streaming query is oracle-checked against the same DuckDB SQL as its
  * batch twin.
  */
object StreamingIngest {

  /** Full-microsecond epoch value of a Timestamp. Closed-region cutoffs
    * MUST be derived through this, never `getTime` alone: `getTime`
    * truncates to milliseconds, while the DuckDB oracles compare against
    * `max(ts) − INTERVAL 2 HOUR` at full microsecond precision — a row
    * whose timestamp lands in the sub-millisecond window would be kept by
    * the oracle but dropped by the stream.
    */
  private[graft] def tsMicros(t: java.sql.Timestamp): Long =
    // floorDiv, not `/`: truncating division rounds toward zero for
    // pre-1970 timestamps (negative epoch millis), overstating the whole
    // seconds by one while getNanos still adds the positive sub-second
    // part — up to a full second too high. floorDiv keeps the
    // seconds+nanos decomposition consistent across the epoch.
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  /** Memoized `max(ts)` of a fixture dir's events table — the batch-side
    * anchor every closed-region cutoff derives from. Same immutable-dir
    * contract as Tables.load's plan cache; without the memo each streaming
    * drain re-scans the full events table just to find the corpus end.
    */
  private val maxTsMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.sql.Timestamp]()

  private def maxEventTs(spark: SparkSession, dir: String): java.sql.Timestamp =
    maxTsMemo.computeIfAbsent(dir, d =>
      graft.Tables.load(spark, d, "events")
        .agg(max(col("ts"))).head.getTimestamp(0))

  /** Stream the `events` parquet as a file source (schema pinned from a
    * batch probe; nanos ts rescaled exactly as Tables.load does).
    *
    * `copies` stages that many symlinks of the file into the landing
    * directory — copies > 1 models an at-least-once upstream that delivers
    * every record more than once (the shape the streaming dedup consumes).
    */
  def eventsStream(spark: SparkSession, dir: String, copies: Int = 1,
                   maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    graft.GraftSession.install(spark)
    val path = s"$dir/events.parquet"
    // The file source wants a directory of files (its real-world shape:
    // a landing zone receiving parquet drops). Stage the single-table file
    // into one via symlink.
    val stage = java.nio.file.Paths.get(graft.util.TempDirs.create("graft_stream_events_"))
    (1 to copies).foreach { i =>
      java.nio.file.Files.createSymbolicLink(
        stage.resolve(s"events_$i.parquet"), java.nio.file.Paths.get(path))
    }
    val schema = probeSchema(spark, path)
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val raw = reader.parquet(stage.toString)
    if (schema("ts").dataType == LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }

  // The file source needs a user-supplied schema; probing it is a footer
  // read but still a Spark job. A bench sweep builds dozens of streams over
  // the same immutable fixture file, so memoize the probe per path (same
  // immutable-dir assumption as Tables.load's plan cache). Its callers
  // install the read confs (nanos as long, no NTZ inference) first, and the
  // memoized value is normalized on every retrieval, so a schema cached by
  // an earlier session under different confs cannot leak NTZ downstream.
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  private def probeSchema(spark: SparkSession, path: String) = {
    val probed = schemaMemo.computeIfAbsent(path, p => spark.read.parquet(p).schema)
    // Naive (NTZ) timestamps must not cross the ingest edge: hand the file
    // source an LTZ schema instead — the parquet reader fills TimestampType
    // from the same int64 micros, exact under the pinned-UTC session.
    org.apache.spark.sql.types.StructType(probed.fields.map { f =>
      if (f.dataType == org.apache.spark.sql.types.TimestampNTZType)
        f.copy(dataType = org.apache.spark.sql.types.TimestampType)
      else f
    })
  }

  /** Drain an AvailableNow query into an in-memory table and return it.
    *
    * SCALE.md sink rule: the memory sink stores every output row on the
    * driver, so it is admissible ONLY for Complete/Update-mode drains,
    * where the output is the (bounded) aggregate state — O(groups), never
    * O(input). Append-mode output is O(input rows) and must go through
    * [[runToParquet]] instead; the `require` makes the rule load-bearing
    * rather than advisory.
    */
  private[graft] def runToMemory(df: DataFrame, name: String, mode: OutputMode): DataFrame = {
    require(mode != OutputMode.Append(),
      "memory sink is driver-resident: Append-mode (O(input)) drains must use runToParquet " +
        "(see SCALE.md 'Streaming sink rule')")
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val spark = df.sparkSession
    // Datasets are analyzed eagerly, so this handle keeps the sink's rows
    // reachable after the catalog entry goes away.
    val out = spark.table(name)
    // Session-lifetime hygiene — a bench sweep drains dozens of streaming
    // queries in one JVM. Without these, every drain leaks for the
    // session's lifetime: the memory sink's rows stay pinned by the
    // catalog entry, and each run's state-store providers stay loaded
    // (holding their full per-key maps, and rescanned by the maintenance
    // thread) long after their query terminated. The unload is safe
    // mid-session: providers reload on demand from the checkpoint.
    spark.catalog.dropTempView(name)
    unloadStateStores()
    out
  }

  /** Drain an Append-mode AvailableNow query through a parquet file sink
    * and return the distributed read-back — the production shape for
    * O(input)-row streams (SCALE.md sink rule): each micro-batch commits
    * its own files via the sink's WAL, nothing is ever driver-resident,
    * and downstream operators run against a real distributed scan.
    */
  private[graft] def runToParquet(df: DataFrame): DataFrame = {
    val root = graft.util.TempDirs.create("graft_stream_sink_")
    val q = df.writeStream
      .format("parquet")
      .option("path", s"$root/data")
      .option("checkpointLocation", s"$root/checkpoint")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    unloadStateStores()
    // A drained query that commits zero micro-batches never creates the
    // data dir; the empty stream's result is an empty frame, not an
    // AnalysisException from the read-back.
    val spark = df.sparkSession
    if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(s"$root/data")))
      spark.read.schema(df.schema).parquet(s"$root/data")
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], df.schema)
  }

  /** `StateStore.unloadAll()` is `private[sql]` at the Scala level but
    * public in bytecode — reflection reaches it without claiming Spark's
    * package namespace. Failure is ignored: this is hygiene, not
    * correctness, and must never fail a query over an internal rename.
    */
  private def unloadStateStores(): Unit =
    try {
      val cls = Class.forName("org.apache.spark.sql.execution.streaming.state.StateStore$")
      cls.getMethod("unloadAll").invoke(cls.getField("MODULE$").get(null))
    } catch { case _: Throwable => () }

  /** Stateful-query grain: one state-store provider is opened, committed,
    * and maintained per shuffle partition per micro-batch, so partition
    * count is a STATE knob, not a parallelism knob — size it to key
    * cardinality (users/windows here), not to cores. Every stateful drain
    * in this file runs under this wrapper; a real deployment tunes the
    * number per query. Default 4 (round 19, was 8): the fixtures hold
    * ~150 users / ~46 windows / ≤10 buckets of state, and a per-batch
    * drain profile (SCALE.md "Streaming drain floor", round 19)
    * measured each extra partition costing ~10-15 ms of store
    * open/commit + task overhead per micro-batch with zero parallelism
    * benefit at this state size (grain 8 → 4: keyed-agg drain
    * 0.83 → 0.72 s, mgws 0.64 → 0.59 s; 4 → 2 was inside noise, so 4
    * keeps headroom without paying for idle stores).
    */
  private def withStateGrain[A](spark: SparkSession, partitions: Int = 4)(f: => A): A =
    ScopedConf.withConfs(spark, "spark.sql.shuffle.partitions" -> partitions.toString)(f)

  /** The RocksDB state-store provider, as a conf for [[ScopedConf.withConfs]]. */
  private[graft] val RocksDbProvider: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Disable the trailing no-data micro-batch for drains whose OUTPUT is
    * watermark-independent. An AvailableNow drain of a watermark-carrying
    * stateful query runs one final zero-row batch after the data is
    * exhausted, whose only jobs are (a) emitting rows the watermark
    * finally proves complete — outer-join null rows, Append-mode window
    * finals, expired timers — and (b) evicting dead state. For operators
    * that emit EAGERLY (inner stream-stream joins: a match emits the
    * moment both sides exist; dropDuplicatesWithinWatermark: the first
    * occurrence emits on arrival) job (a) is vacuous, and (b) is
    * irrelevant to a drain whose checkpoint is discarded — the batch is
    * pure overhead, measured at 0.3-0.8 s per drain (SCALE.md
    * "Streaming drain floor", round 19). ADMISSIBILITY RULE: never use
    * this on outer joins, Append-mode windowed aggregations, or
    * timer-based operators — their correctness depends on that final
    * batch (the left/full outer joins and both session-timer ops keep
    * it), and an always-on deployment (no AvailableNow end) needs no-data
    * batches for timely emission regardless. The DuckDB oracle pins
    * output equality for every query this wraps.
    */
  private def withoutFinalNoDataBatch[A](spark: SparkSession)(f: => A): A =
    ScopedConf.withConfs(spark, "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")(f)

  /** W3 as a *streaming* windowed aggregation: tumbling 1-day event-time
    * windows with a 1-hour watermark, complete at AvailableNow drain.
    */
  def tumblingDaily(spark: SparkSession, dir: String): DataFrame = withStateGrain(spark) {
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day").as("win"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("total_value_cents"))
      .select(date_format(col("win.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("window_start"),
        col("n"), col("total_value_cents"))
    runToMemory(agg, s"stream_tumbling_${System.nanoTime()}", OutputMode.Complete())
      .orderBy(col("window_start"))
  }

  /** SLIDING windows as a stream — the overlapping-window twin of
    * [[tumblingDaily]] (batch twin: `w17_sliding_windows`). The window
    * TVF assigns each event to duration/slide = 2 windows INSIDE the
    * stateful aggregation, so state holds one row per open window (2×
    * the tumbling count), still bounded by the watermark horizon.
    * Complete-mode drain of the bounded window table; the oracle is the
    * identical batch SQL.
    */
  def streamSlidingWindows(spark: SparkSession, dir: String): DataFrame = withStateGrain(spark) {
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "2 days", "1 day").as("win"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("total_value_cents"))
      .select(
        date_format(col("win.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("window_start"),
        date_format(col("win.end"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("window_end"),
        col("n"), col("total_value_cents"))
    runToMemory(agg, s"stream_sliding_${System.nanoTime()}", OutputMode.Complete())
      .orderBy(col("window_start"))
  }

  /** The distribution-drift monitor as an always-on stream — the twin of
    * the batch `stats_bucket_drift`, here because its aggregate is pure
    * conditional COUNTING: commutative, order-insensitive, no per-event
    * ordering dependency — the same admission rule that let the cohort
    * report stream while the funnel stayed batch. The engine holds
    * |buckets| grouped counters in state; Complete mode drains that
    * bounded table and the per-mille/drift arithmetic runs on the drained
    * |buckets| rows, so the oracle is the identical batch SQL. At scale
    * this runs continuously against the landing zone and the drift flags
    * page before a skewed upstream poisons the corpus.
    */
  def streamBucketDrift(spark: SparkSession, dir: String): DataFrame = withStateGrain(spark) {
    val Split = "2024-01-16"
    val buckets = eventsStream(spark, dir)
      .select(
        least(floor(col("value") / 50).cast("long"), lit(9L)).as("bucket"),
        (date_format(col("ts"), "yyyy-MM-dd") < Split).as("p1"))
      .groupBy(col("bucket"))
      .agg(sum(when(col("p1"), 1L).otherwise(0L)).as("n1"),
        sum(when(!col("p1"), 1L).otherwise(0L)).as("n2"))
    val drained = runToMemory(buckets,
      s"stream_drift_${System.nanoTime()}", OutputMode.Complete())
    val totals = drained.agg(sum(col("n1")).as("t1"), sum(col("n2")).as("t2"))
    drained.crossJoin(broadcast(totals))
      .select(col("bucket"), col("n1"), col("n2"),
        expr("n1 * 1000 div t1").as("share1_milli"),
        expr("n2 * 1000 div t2").as("share2_milli"),
        (abs(col("n1") * col("t2") - col("n2") * col("t1")) * 50
          > col("t1") * col("t2")).as("drifted"))
      .orderBy(col("bucket"))
  }

  /** Write-audit-publish as the STREAM's sink discipline: every
    * micro-batch stages, audits against its own observed count, and
    * publishes through the same [[graft.etl.Destination.publishStaged]]
    * the batch pipeline uses — so a torn micro-batch write can never
    * become reader-visible, and the per-batch manifests double as a
    * streaming snapshot ledger (any prefix of micro-batches is a
    * [[graft.etl.Destination.readAsOf]] time-travel point). `foreachBatch`
    * is exactly the hook for a sink with its own commit protocol — and
    * because the manifest is the commit point, a micro-batch REPLAYED
    * after a crash acks idempotently off its committed manifest instead
    * of double-publishing (the exactly-once-visible contract). The
    * read-back rollup must equal the batch oracle over the whole source.
    */
  def streamWapPublish(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.TempDirs.create("graft_swap_")
    val src = eventsStream(spark, dir, maxFilesPerTrigger = Some(1))
      .select(col("event_id"),
        round(col("value") * 100).cast("long").as("value_cents"),
        date_format(col("ts"), "yyyy-MM-dd").as("export_date"))
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // the claim (the extraction's own belief) is OBSERVED on the
        // staging pass itself instead of a second source scan — a
        // foreachBatch `batch.count()` recomputes the batch (round 18,
        // guide §2.3; −12% mins, 5/6 paired cycles, OPTIMIZATION_r18.md
        // §9). The audit (publishStaged's staged-file count) stays
        // independent: it reads what landed on disk, never this
        // observation.
        val bid = f"b$id%04d"
        val obs = org.apache.spark.sql.Observation(s"swp_obs_$bid")
        val stageDir = s"$root/staging/$bid"
        batch.observe(obs, count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(stageDir)
        val r = graft.etl.Destination.publishStaged(batch.sparkSession,
          s"$root/dest", stageDir, bid, obs.get("n").asInstanceOf[Long])
        require(r.isRight, s"micro-batch $id failed its audit: $r")
        ()
      }
      .option("checkpointLocation", s"$root/checkpoint")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    graft.etl.Destination.scan(spark, s"$root/dest")
      .groupBy(col("export_date"))
      .agg(count(lit(1)).as("n_rows"), sum(col("value_cents")).as("value_cents"))
      .orderBy(col("export_date"))
  }

  /** The custom TypedImperativeAggregate under INCREMENTAL execution:
    * per-type bounded top-k over the stream in Complete mode. Each
    * micro-batch folds its rows into the k-element buffers through
    * update(), and batch-over-batch the state store carries the
    * serialized buffers — |groups| × k pairs of state, the same bound
    * that makes the batch form shuffle-light. This is the always-on
    * leaderboard shape (top spenders, hottest keys) a monitoring plane
    * keeps; the drain emits the aggregate table (O(groups·k) — memory
    * sink admissible under the Complete-mode rule) and must converge to
    * the batch window-form oracle, which pins the custom agg's
    * serialize/deserialize/merge path end to end.
    */
  def streamTopkCustom(spark: SparkSession, dir: String): DataFrame = withStateGrain(spark) {
    val agg = eventsStream(spark, dir)
      .groupBy(col("event_type"))
      .agg(expr("graft_topk_pairs(value, event_id, 3)").as("top"))
    val drained = runToMemory(agg,
      s"stream_topk_${System.nanoTime()}", OutputMode.Complete())
    drained.select(col("event_type"), posexplode(col("top")))
      .select(col("event_type"), (col("pos") + 1).cast("int").as("rnk"),
        col("col.v").as("value"), col("col.id").as("event_id"))
      .orderBy(col("event_type"), col("rnk"))
  }

  /** The cardinality GUARD running always-on: `graft_distinct_cap`
    * ([[graft.functions.BoundedDistinctAgg]]) as a streaming aggregate in
    * Complete mode — each micro-batch folds its user ids into the capped
    * per-(type, day) sets, and batch-over-batch the state store carries
    * ≤ k+1 longs per group (a saturated group's state is CONSTANT — the
    * property that lets the guard run forever, where a streaming
    * count(DISTINCT) is unsupported precisely because its state is
    * unbounded). Converging to the batch `stats_distinct_cap` oracle pins
    * the aggregate's serialize/deserialize/merge through the state store
    * — including the saturate-then-merge transitions a one-shot batch
    * never exercises in this order.
    */
  def streamDistinctCap(spark: SparkSession, dir: String): DataFrame = withStateGrain(spark) {
    val agg = eventsStream(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(expr("graft_distinct_cap(user_id, 64)").as("c"))
    val drained = runToMemory(agg,
      s"stream_dcap_${System.nanoTime()}", OutputMode.Complete())
    drained.select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
      col("c.n_distinct").as("n_distinct"), col("c.saturated").as("saturated"))
      .orderBy(col("event_type"), col("day"))
  }

  /** The count-min sketch maintained INCREMENTALLY on the stream: the
    * custom [[graft.functions.CountMinAgg]] as an always-on streaming
    * aggregate — each micro-batch's partial grid merges into the one
    * grid in the state store (state = d·w longs, CONSTANT no matter how
    * long the stream runs or how many keys it sees — the reason CMS is
    * the canonical streaming frequency summary). The drain probes the
    * exact top-10 from the batch view of the same corpus, so the result
    * must equal the batch `stats_countmin` twin — which pins the
    * aggregate's serialize/deserialize/merge path through the state
    * store end to end, the same contract `stream_topk_custom` pins for
    * the top-k aggregate.
    */
  def streamCountmin(spark: SparkSession, dir: String): DataFrame = withStateGrain(spark) {
    val D = 5; val W = 4096
    val agg = eventsStream(spark, dir)
      .select(xxhash64(col("user_id")).as("k"))
      .agg(expr(s"graft_cms_sketch(k, $D, $W)").as("cms"),
        count(lit(1)).as("n_total"))
    val sketch = runToMemory(agg,
      s"stream_cms_${System.nanoTime()}", OutputMode.Complete())
    import org.apache.spark.sql.expressions.Window
    val ev = graft.Tables.load(spark, dir, "events")
      .select(col("user_id"), xxhash64(col("user_id")).as("k"))
    val exact = ev.groupBy(col("user_id"), col("k"))
      .agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("user_id")).limit(10)
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("n_exact").desc, col("user_id"))))
    exact.crossJoin(broadcast(sketch)) // 1-row sketch: audit input, not a join fanout
      .withColumn("n_est", expr(s"graft_cms_lookup(cms, k, $D, $W)"))
      .select(col("rnk"), col("user_id"), col("n_exact"),
        (col("n_est") >= col("n_exact")).as("est_ge_exact"),
        // envelope factor 32 = the batch twin's distribution-free ≥5σ
        // bound (32⁻⁵ per key; see statsCountmin's scaladoc) — the two
        // sides must grade identically for the oracle reuse to hold
        ((col("n_est") - col("n_exact")) * W <= col("n_total") * 32).as("in_envelope"))
      .orderBy(col("rnk"))
  }

  /** The custom PHYSICAL as-of operator inside a streaming pipeline:
    * each micro-batch of purchases attribution-joins (most recent
    * strictly-preceding view per user, ties by id) against the STATIC
    * view history through [[graft.plans.AsofJoinExec]] in `foreachBatch`
    * — the stream-static temporal-lookup deployment (batch-computed
    * dimension, always-on fact stream), and the proof that a tier-(c)
    * custom operator composes into Structured Streaming unchanged: the
    * strategy is cloned into the micro-batch session with the rest of
    * the session state. Per batch the static side shuffles ONCE per its
    * key partitioning (at scale: persist the sorted/bucketed view
    * history so only the micro-batch shuffles); the drained sink must
    * equal the all-batch operator join, i.e. j2's oracle verbatim.
    */
  def streamAsofAttrib(spark: SparkSession, dir: String): DataFrame = withStateGrain(spark) {
    val views = graft.Tables.load(spark, dir, "events")
      .where(col("event_type") === "view")
      .select(col("event_id").as("v_id"), col("ts").as("v_ts"),
        col("user_id").as("v_user"), col("value").as("v_value"))
    val purchases = eventsStream(spark, dir)
      .where(col("event_type") === "purchase")
      .select(col("event_id"), col("ts"), col("user_id"))
    val root = graft.util.TempDirs.create("graft_stream_asof_")
    val q = purchases.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.plans.AsofJoin(batch, views,
          keys = Seq("user_id" -> "v_user"),
          on = Seq("ts" -> "v_ts", "event_id" -> "v_id"))
          .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(s"$root/data")
      }
      .option("checkpointLocation", s"$root/checkpoint")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    unloadStateStores()
    spark.read.parquet(s"$root/data")
      .select(col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_iso"),
        col("user_id"), col("v_id").as("asof_view_id"),
        col("v_value").as("asof_view_value"))
      .orderBy(col("event_id"))
  }

  /** W8's gap sessionization as a *streaming* session-window aggregation:
    * `session_window(ts, gap)` merges an event into the open session when
    * it lands at or within `gap` of the session's last event (probe-pinned:
    * at exactly `gap` Spark MERGES — split only when the silence EXCEEDS
    * the gap, the same convention as the batch `w8_gap_sessionize` fold),
    * and the emitted window end is `last event + gap`. The state store
    * holds one (user, open-session) entry per key, evicted by the
    * watermark at scale; AvailableNow + Complete drains the full table for
    * the oracle compare.
    */
  def sessionWindows(spark: SparkSession, dir: String): DataFrame = withStateGrain(spark) {
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"),
        session_window(col("ts"), "6 hours").as("win"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_format(col("win.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
        date_format(col("win.end"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_end"),
        col("n_events"))
    runToMemory(agg, s"stream_session_${System.nanoTime()}", OutputMode.Complete())
      .orderBy(col("user_id"), col("session_start"))
  }

  /** One open session per key: first/last event micros + member count. */
  final case class SessionAcc(startUs: Long, lastUs: Long, n: Long)
  final case class SessionOut(user_id: Long, start_us: Long, end_us: Long, n_events: Long)

  /** Gap sessionization via CUSTOM state + EVENT-TIME TIMERS
    * (`flatMapGroupsWithState` + `EventTimeTimeout`) — the same sessions
    * as [[sessionWindows]], but through the API tier below
    * `session_window`: the state store holds ONE SessionAcc per user, a
    * successor event either extends it or closes-and-emits it, and a
    * session with no successor is closed by the TIMER that fires when the
    * watermark passes `last + gap` (the mechanism `session_window` uses
    * internally, exercised here directly — what custom operators that
    * don't fit a built-in window, e.g. per-key rate limiting or fraud
    * journeys, must build on). Gap arithmetic in exact MICROS, so the
    * merge-at-exactly-gap boundary matches the batch fold bit-for-bit.
    *
    * Emission-completeness contract: a session emits either via its
    * successor event or via its timer; the final watermark of an
    * AvailableNow drain is `max(ts) − 1 h`, so timers have provably fired
    * for every session whose last event precedes `max(ts) − 7 h`. The op
    * reports that CLOSED region (cutoff `max − 8 h`, a safety margin past
    * the boundary), same discipline as the streaming outer join.
    */
  def streamSessionTimers(spark: SparkSession, dir: String): DataFrame =
    withStateGrain(spark) { streamSessionTimersInner(spark, dir) }

  private def streamSessionTimersInner(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val GapUs = 6L * 3600 * 1000000
    def micros(t: Timestamp): Long = t.getTime / 1000 * 1000000 + t.getNanos / 1000
    val src = eventsStream(spark, dir)
      .select(col("user_id"), col("ts"))
      .withWatermark("ts", "1 hour")
      .as[KeyedEvent]
    val sessions = src.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionAcc, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, events: Iterator[KeyedEvent], state: GroupState[SessionAcc]) =>
          if (state.hasTimedOut) {
            // watermark passed last+gap: no event can extend this session
            val out = state.getOption.map(a =>
              SessionOut(user, a.startUs, a.lastUs + GapUs, a.n))
            state.remove()
            out.iterator
          } else {
            val sorted = events.map(e => micros(e.ts)).toArray.sorted
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { t =>
              cur match {
                case Some(a) if t - a.lastUs <= GapUs =>
                  cur = Some(SessionAcc(a.startUs, math.max(a.lastUs, t), a.n + 1))
                case Some(a) =>
                  closed ::= SessionOut(user, a.startUs, a.lastUs + GapUs, a.n)
                  cur = Some(SessionAcc(t, t, 1))
                case None => cur = Some(SessionAcc(t, t, 1))
              }
            }
            cur.foreach { a =>
              state.update(a)
              // timer in millis, rounded UP so it never fires early
              state.setTimeoutTimestamp((a.lastUs + GapUs) / 1000 + 1)
            }
            closed.reverse.iterator
          }
      }
      .toDF()
    val drained = runToParquet(
      sessions.select(col("user_id"),
        date_format(timestamp_micros(col("start_us")), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("session_start"),
        date_format(timestamp_micros(col("end_us")), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("session_end"),
        col("n_events"),
        col("end_us")))
    val maxTs = maxEventTs(spark, dir)
    // last ≤ max−8h ⟺ end(=last+6h) ≤ max−2h
    val cutoffUs = tsMicros(maxTs) - 2L * 3600 * 1000000L
    drained.where(col("end_us") <= cutoffUs)
      .drop("end_us")
      .orderBy(col("user_id"), col("session_start"))
  }

  /** The timer-closed gap sessions on `transformWithState` — the NEW
    * API's full surface beside the ValueState twin
    * ([[streamUserWatermarkTws]]): `TimeMode.EventTime`, explicit timer
    * lifecycle (`registerTimer`/`deleteTimer`/`listTimers` on the
    * handle — timers are first-class objects now, not a state-timeout
    * mode flag), and `handleExpiredTimer` as its own callback. Session
    * semantics, gap math, and the closed-region contract are IDENTICAL
    * to the `flatMapGroupsWithState` twin ([[streamSessionTimers]]) and
    * graded by the same oracle; stale timers (superseded by a session
    * extension before the watermark reached them) are deleted on every
    * update, so each user holds exactly one live timer. RocksDB-backed
    * (transformWithState requires it).
    */
  def streamSessionTimersTws(spark: SparkSession, dir: String): DataFrame =
    withStateGrain(spark) {
      ScopedConf.withConfs(spark, RocksDbProvider)(streamSessionTimersTwsInner(spark, dir))
    }

  private class SessionTimerProcessor(gapUs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, KeyedEvent, SessionOut] {
    @transient private var acc: org.apache.spark.sql.streaming.ValueState[SessionAcc] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      acc = getHandle.getValueState[SessionAcc]("acc",
        org.apache.spark.sql.Encoders.product[SessionAcc],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    private def micros(t: Timestamp): Long =
      t.getTime / 1000 * 1000000 + t.getNanos / 1000

    override def handleInputRows(user: Long, rows: Iterator[KeyedEvent],
                                 tv: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[SessionOut] = {
      val sorted = rows.map(e => micros(e.ts)).toArray.sorted
      var closed = List.empty[SessionOut]
      var cur = if (acc.exists()) Some(acc.get()) else None
      sorted.foreach { t =>
        cur match {
          case Some(a) if t - a.lastUs <= gapUs =>
            cur = Some(SessionAcc(a.startUs, math.max(a.lastUs, t), a.n + 1))
          case Some(a) =>
            closed ::= SessionOut(user, a.startUs, a.lastUs + gapUs, a.n)
            cur = Some(SessionAcc(t, t, 1))
          case None => cur = Some(SessionAcc(t, t, 1))
        }
      }
      cur.foreach { a =>
        acc.update(a)
        // one live timer per user: drop superseded expiries, register the
        // session's current close time (ms, rounded UP — never early)
        getHandle.listTimers().foreach(ts => getHandle.deleteTimer(ts.asInstanceOf[Long]))
        getHandle.registerTimer((a.lastUs + gapUs) / 1000 + 1)
      }
      closed.reverse.iterator
    }

    override def handleExpiredTimer(user: Long,
        tv: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SessionOut] = {
      // watermark passed last+gap: no event can extend this session
      val out = if (acc.exists()) {
        val a = acc.get()
        Iterator.single(SessionOut(user, a.startUs, a.lastUs + gapUs, a.n))
      } else Iterator.empty
      acc.clear()
      out
    }
  }

  private def streamSessionTimersTwsInner(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val GapUs = 6L * 3600 * 1000000
    val src = eventsStream(spark, dir)
      .select(col("user_id"), col("ts"))
      .withWatermark("ts", "1 hour")
      .as[KeyedEvent]
    val sessions = src.groupByKey(_.user_id)
      .transformWithState(new SessionTimerProcessor(GapUs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
      .toDF()
    val drained = runToParquet(
      sessions.select(col("user_id"),
        date_format(timestamp_micros(col("start_us")), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("session_start"),
        date_format(timestamp_micros(col("end_us")), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("session_end"),
        col("n_events"),
        col("end_us")))
    val maxTs = maxEventTs(spark, dir)
    // last ≤ max−8h ⟺ end(=last+6h) ≤ max−2h
    val cutoffUs = tsMicros(maxTs) - 2L * 3600 * 1000000L
    drained.where(col("end_us") <= cutoffUs)
      .drop("end_us")
      .orderBy(col("user_id"), col("session_start"))
  }

  /** The full ETL slice as a streaming pipeline with a PARQUET sink: file
    * source → transform → date-partitioned parquet + checkpointLocation.
    * This is the production shape — the checkpoint's WAL/commit log gives
    * exactly-once file-sink semantics, replacing both the hand-rolled
    * watermark table AND the N1 boundary duplicate in one move (offsets are
    * file-granular, so nothing is ever re-read). Returns the drained
    * destination.
    */
  def streamEtlToParquet(spark: SparkSession, dir: String): DataFrame = {
    val stage = graft.util.TempDirs.create("graft_stream_etl_")
    val dest = s"$stage/dest"
    val q = eventsStream(spark, dir)
      .withColumn("export_date", to_date(col("ts")))
      .writeStream
      .format("parquet")
      .option("path", dest)
      .option("checkpointLocation", s"$stage/checkpoint")
      .partitionBy("export_date")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // Spark's file sink: its `_spark_metadata` log, not Destination's
    // layout, decides which files are committed
    spark.read.parquet(dest).drop("export_date")
  }

  /** Streaming exact dedup of an at-least-once source: every record arrives
    * twice (two staged copies of the landing file), and
    * `dropDuplicatesWithinWatermark` on the record key collapses them back
    * to one. This is the scale-correct streaming dedup — state is bounded
    * by the watermark horizon (keys older than max-event-time − delay are
    * evicted), unlike plain `dropDuplicates`, whose state grows without
    * bound for the lifetime of the query. At 100 TB/day the horizon is the
    * knob: state ∝ distinct keys per horizon, not per corpus. The fixture
    * uses a horizon wider than the dataset's event-time span, so the drain
    * provably equals the batch DISTINCT and the DuckDB oracle can check it.
    */
  def streamDedupExact(spark: SparkSession, dir: String): DataFrame = withStateGrain(spark) {
    withoutFinalNoDataBatch(spark) { streamDedupExactInner(spark, dir) }
  }

  private def streamDedupExactInner(spark: SparkSession, dir: String): DataFrame = {
    val deduped = eventsStream(spark, dir, copies = 2)
      .withWatermark("ts", "365 days")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_iso"),
        col("user_id"))
    // file sink, not memory: the deduped stream is O(input rows)
    runToParquet(deduped).orderBy(col("event_id"))
  }

  /** Bounded-batch ingest: `maxFilesPerTrigger` caps how much source one
    * micro-batch admits — the backpressure knob that turns "drain a 100 TB
    * backlog" into a sequence of bounded units (bounded shuffle, bounded
    * state delta, bounded sink commit) instead of one giant batch that
    * OOMs or holds the sink transaction open for hours. The landing dir is
    * staged with `copies` identical files and the cap forces one file per
    * micro-batch, so AvailableNow must take ≥ `copies` batches (the spec
    * asserts the count via the progress log); the drained rows must equal
    * the plain batch union of the staged files — bounding the batches
    * must never change WHAT is ingested, only WHEN.
    *
    * Returns (per-event copy counts, number of micro-batches executed).
    */
  def streamBoundedBatches(spark: SparkSession, dir: String,
                           copies: Int = 3): (DataFrame, Long) = {
    graft.GraftSession.install(spark)
    val path = s"$dir/events.parquet"
    val stage = java.nio.file.Paths.get(graft.util.TempDirs.create("graft_stream_bounded_"))
    (1 to copies).foreach { i =>
      java.nio.file.Files.createSymbolicLink(
        stage.resolve(s"events_$i.parquet"), java.nio.file.Paths.get(path))
    }
    val schema = probeSchema(spark, path)
    val rows = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(stage.toString)
      .select(col("event_id"))
    // File sink, not a memory sink: the drained rows are O(source), and a
    // memory sink would hold them all on the driver (SCALE.md memory-sink
    // rule). The parquet sink commits each bounded micro-batch to its own
    // files — exactly the production landing shape — and the read-back
    // aggregation is a distributed plan.
    val sinkRoot = graft.util.TempDirs.create("graft_stream_bounded_sink_")
    val q = rows.writeStream
      .format("parquet")
      .option("path", s"$sinkRoot/data")
      .option("checkpointLocation", s"$sinkRoot/checkpoint")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val nBatches = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).distinct.length.toLong
    val out = spark.read.parquet(s"$sinkRoot/data")
      .groupBy(col("event_id")).agg(count(lit(1)).as("n_copies"))
      .orderBy(col("event_id"))
    (out, nBatches)
  }

  /** Streaming keyed upsert via `foreachBatch` — the production CDC sink:
    * each micro-batch MERGEs into a keyed store (per-user latest event),
    * implemented with the same versioned-snapshot + atomic CURRENT-pointer
    * swap the control-plane store uses, so readers always see a complete
    * snapshot and a crashed batch leaves the previous version intact
    * (foreachBatch replays the batch; the merge is idempotent, so the
    * replay converges). The source is staged at-least-once (two copies)
    * AND rate-bounded (one file per micro-batch), so several overlapping
    * batches really exercise merge-over-merge; the final state must still
    * be exactly the batch argmax — which is what the oracle replays.
    *
    * Scale shape: the store is keyed by user — at 100 TB the snapshot
    * rewrite becomes partition-scoped (only partitions holding the
    * batch's keys rewrite, the tombstone-sweep pattern) and the argmax is
    * a per-key reduction, never a global sort.
    */
  def streamUpsertLatest(spark: SparkSession, dir: String): DataFrame =
    streamUpsertLatestWithStats(spark, dir)._1

  /** As [[streamUpsertLatest]], also returning how many snapshot versions
    * the store went through — the spec's proof that several micro-batches
    * really merged over each other rather than one batch swallowing all.
    */
  private[graft] def streamUpsertLatestWithStats(spark: SparkSession,
                                                 dir: String): (DataFrame, Long) = {
    import org.apache.spark.sql.expressions.Window
    val store = graft.util.TempDirs.create("graft_stream_upsert_")
    val pointer = s"$store/CURRENT"
    def mergeBatch(batch: DataFrame, batchId: Long): Unit = {
      val s = batch.sparkSession
      val prev = graft.util.Fs.readSmallText(s, pointer).map(_.trim)
        .map(v => s.read.parquet(s"$store/$v"))
      val unioned = prev.map(_.unionByName(batch)).getOrElse(batch)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      val merged = unioned
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1).drop("__rn")
      val v = s"v_$batchId"
      merged.coalesce(4).write.mode("overwrite").parquet(s"$store/$v")
      graft.util.Fs.writeSmallTextAtomic(s, pointer, v)
    }
    val q = eventsStream(spark, dir, copies = 2, maxFilesPerTrigger = Some(1))
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .writeStream
      .foreachBatch(mergeBatch _)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val v = graft.util.Fs.readSmallText(spark, pointer).map(_.trim)
      .getOrElse(throw new IllegalStateException("upsert stream produced no snapshot"))
    val out = spark.read.parquet(s"$store/$v")
      .select(col("user_id"), col("event_id").as("last_event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("last_ts_iso"),
        round(col("value") * 100).cast("long").as("last_value_cents"))
      .orderBy(col("user_id"))
    val nVersions = new java.io.File(store).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("v_")).toLong
    unloadStateStores()
    (out, nVersions)
  }

  /** Retention cohorts as a stateful stream — the streaming twin of the
    * batch `cohort_retention`. Per-user state is (earliest-seen day,
    * active-day set): BOTH components are order-INSENSITIVE (min only
    * decreases, the set only grows), so the drain converges to the batch
    * answer no matter how the at-least-once doubled source splits into
    * micro-batches or which order days arrive — the property that makes a
    * cohort report safe to run incrementally where the order-SENSITIVE
    * funnel is not (its step-n threshold moves when an earlier step-(n−1)
    * event arrives late; that one stays batch). Update-mode emissions are
    * folded at the drain by the same monotonicity: min(cohort) + union of
    * day-sets ≡ the final state. State per user is O(horizon days), and
    * the memory drain carries per-user aggregates, never input rows.
    */
  def streamCohortRetention(spark: SparkSession, dir: String): DataFrame =
    withStateGrain(spark) {
      import spark.implicits._
      val updates = eventsStream(spark, dir, copies = 2, maxFilesPerTrigger = Some(1))
        .select(col("user_id"),
          date_format(date_trunc("DAY", col("ts")), "yyyy-MM-dd").as("day"))
        .as[(Long, String)]
        .groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
          (user: Long, rows: Iterator[(Long, String)],
           state: GroupState[(String, Set[String])]) =>
            val incoming = rows.map(_._2).toSet
            val (prevMin, prevDays) = state.getOption.getOrElse(("~", Set.empty[String]))
            val days = prevDays ++ incoming // '~' sorts after any ISO date
            val cohort = (incoming + prevMin).min
            state.update((cohort, days))
            (user, cohort, days.toSeq.sorted)
        }
        .toDF("user_id", "cohort", "days")
      val drained = runToMemory(updates,
        s"stream_cohort_${System.nanoTime()}", OutputMode.Update())
      drained.groupBy(col("user_id"))
        .agg(min(col("cohort")).as("cohort"),
          array_distinct(flatten(collect_list(col("days")))).as("days"))
        .select(col("user_id"), col("cohort"), explode(col("days")).as("day"))
        .groupBy(col("cohort"),
          datediff(to_date(col("day")), to_date(col("cohort"))).as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort"), col("day_offset"))
    }

  final case class KeyedEvent(user_id: Long, ts: Timestamp)
  final case class UserWatermark(user_id: Long, watermark: Timestamp)

  /** The per-key watermark state machine as `mapGroupsWithState`: state =
    * max event time seen per user (what the reference persists per
    * (org, project) in MySQL). Update-mode output; the final row per key is
    * the resume watermark.
    */
  def statefulUserWatermark(spark: SparkSession, dir: String): DataFrame =
    withStateGrain(spark) { statefulUserWatermarkInner(spark, dir) }

  private def statefulUserWatermarkInner(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val updates = eventsStream(spark, dir)
      .select(col("user_id"), col("ts"))
      .as[KeyedEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (user: Long, events: Iterator[KeyedEvent], state: GroupState[Timestamp]) =>
          // full-micros comparator: getTime truncates to ms and could pick
          // the wrong max inside a same-millisecond batch
          val batchMax = events.map(_.ts).maxBy(tsMicros)
          val newMax = state.getOption match {
            case Some(prev) if prev.after(batchMax) => prev
            case _ => batchMax
          }
          state.update(newMax)
          UserWatermark(user, newMax)
      }
      .toDF()
    runToMemory(updates, s"stream_state_${System.nanoTime()}", OutputMode.Update())
      // update mode can emit a key more than once across micro-batches;
      // the latest (max) emission per key is the final state
      .groupBy(col("user_id"))
      .agg(date_format(max(col("watermark")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("watermark"))
      .orderBy(col("user_id"))
  }

  /** The SAME per-key watermark state machine on `transformWithState` —
    * Spark 4's arbitrary-state API that supersedes `mapGroupsWithState`:
    * typed state handles (`ValueState` here; list/map states and
    * per-state TTL are the API's reason to exist), timers as methods
    * rather than a mode flag, and schema-evolvable state. The processor
    * keeps max-micros-per-user in a `ValueState[Long]` and emits the
    * running max each micro-batch (Update mode); the drain folds
    * emissions exactly like the mapGroupsWithState twin and must match
    * the same oracle. transformWithState REQUIRES the RocksDB state
    * store provider — set for the drain, restored after (the second
    * RocksDB-backed query beside `stream_sessionize_rocksdb`).
    */
  def streamUserWatermarkTws(spark: SparkSession, dir: String): DataFrame =
    withStateGrain(spark) {
      ScopedConf.withConfs(spark, RocksDbProvider)(streamUserWatermarkTwsInner(spark, dir))
    }

  private class MaxWatermarkProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Long), (Long, Long)] {
    @transient private var maxUs: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      maxUs = getHandle.getValueState[Long]("maxUs",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
                                 tv: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Long)] = {
      val prev = if (maxUs.exists()) maxUs.get() else Long.MinValue
      val mx = rows.foldLeft(prev)((a, r) => math.max(a, r._2))
      maxUs.update(mx)
      Iterator.single((key, mx))
    }
  }

  private def streamUserWatermarkTwsInner(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val updates = eventsStream(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new MaxWatermarkProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
      .toDF("user_id", "us")
    runToMemory(updates, s"stream_tws_${System.nanoTime()}", OutputMode.Update())
      .groupBy(col("user_id"))
      .agg(date_format(timestamp_micros(max(col("us"))),
        "yyyy-MM-dd HH:mm:ss.SSSSSS").as("watermark"))
      .orderBy(col("user_id"))
  }

  /** STREAM-STREAM interval join: every purchase matched to the same
    * user's views in the strictly-preceding hour — the attribution join,
    * with BOTH sides unbounded streams. The event-time range condition +
    * per-side watermarks are what make this feasible on an always-on
    * pipeline: the state store holds only rows inside the hour horizon
    * (a view older than `purchase-side watermark − 1 h` can never match a
    * future purchase, so the engine evicts it). APPEND mode — inner-join
    * matches are final the moment both sides exist. At AvailableNow drain
    * the result converges to the batch interval join, which is exactly
    * what the DuckDB oracle replays.
    */
  def streamIntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    // stream-stream joins allocate FOUR state stores per shuffle partition
    // (left/right × keyToNumValues/keyWithIndexToValue), so the grain
    // matters here most of all. INNER join matches emit the moment both
    // sides exist, so the trailing no-data batch (state eviction only —
    // measured at 0.8 s, a third of this drain's floor) is elided; the
    // OUTER twins below must keep theirs, it emits their null rows.
    withStateGrain(spark, 4) {
      withoutFinalNoDataBatch(spark) { streamIntervalJoinInner(spark, dir) }
    }
  }

  private def streamIntervalJoinInner(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsStream(spark, dir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", "1 hour")
    val joined = purchases.join(views,
      col("p_user") === col("v_user") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("v_ts") < col("p_ts"))
      .select(col("purchase_id"), col("view_id"))
    // file sink, not memory: join output is O(matches), unbounded with input
    runToParquet(joined).orderBy(col("purchase_id"), col("view_id"))
  }

  /** STREAM-STREAM LEFT OUTER interval join: the attribution join again,
    * but purchases with NO preceding-hour view must also emit (organic
    * vs attributed split). Outer semantics on two unbounded streams is a
    * watermark problem: an unmatched purchase emits its null row only
    * once the view-side watermark proves no matching view can still
    * arrive, in a LATER micro-batch than the purchase itself (here the
    * final no-data batch AvailableNow runs for exactly this purpose).
    * That makes the stream's tail inherently undecided — purchases inside
    * the last watermark horizon have neither matched nor been declared
    * unmatched when the drain stops. So the op reports the CLOSED region
    * only: rows with `p_ts ≤ max(ts) − 2 h` (a full horizon behind the
    * final watermark, so membership is watermark-boundary-safe), where
    * stream and batch left joins provably agree — the same convergence
    * contract every other stream op here pins, restricted to the region
    * where outer results are final.
    */
  def streamLeftOuterJoin(spark: SparkSession, dir: String): DataFrame =
    withStateGrain(spark, 4) { streamLeftOuterJoinInner(spark, dir) }

  private def streamLeftOuterJoinInner(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsStream(spark, dir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", "1 hour")
    val joined = purchases.join(views,
      col("p_user") === col("v_user") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("v_ts") < col("p_ts"),
      "leftOuter")
      .select(col("purchase_id"), col("p_ts"),
        coalesce(col("view_id"), lit(-1L)).as("view_id"))
    val drained = runToParquet(joined)
    // closed-region cutoff from the batch view of the same corpus
    val maxTs = maxEventTs(spark, dir)
    val cutoffUs = tsMicros(maxTs) - 2L * 3600 * 1000000L
    drained.where(unix_micros(col("p_ts")) <= lit(cutoffUs))
      .select(col("purchase_id"), col("view_id"))
      .orderBy(col("purchase_id"), col("view_id"))
  }

  /** STREAM-STREAM FULL OUTER interval join: the reconciliation form of
    * the attribution join — organic purchases (no preceding-hour view)
    * AND dead-end views (no following-hour purchase) both emit, each
    * padded with −1 on the absent side. Full-outer on two unbounded
    * streams means BOTH sides hold eviction-bounded state and BOTH emit
    * their null rows only when the OPPOSITE side's watermark proves no
    * match can still arrive; the closed region therefore needs both
    * timestamps final — a row is reported only when every side it carries
    * is ≤ max(ts) − 2 h (matched pairs satisfy this via p_ts alone since
    * v_ts < p_ts by the join condition; unmatched views need it on v_ts:
    * a view at v can match purchases until the purchase watermark passes
    * v + 1 h, i.e. it is decided exactly when v ≤ max − 2 h). On that
    * region the stream provably equals the batch FULL join the DuckDB
    * oracle replays.
    */
  def streamFullOuterJoin(spark: SparkSession, dir: String): DataFrame =
    withStateGrain(spark, 4) { streamFullOuterJoinInner(spark, dir) }

  private def streamFullOuterJoinInner(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsStream(spark, dir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", "1 hour")
    val joined = purchases.join(views,
      col("p_user") === col("v_user") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("v_ts") < col("p_ts"),
      "fullOuter")
      .select(col("p_ts"), col("v_ts"),
        coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
        coalesce(col("view_id"), lit(-1L)).as("view_id"))
    val drained = runToParquet(joined)
    val maxTs = maxEventTs(spark, dir)
    val cutoffUs = tsMicros(maxTs) - 2L * 3600 * 1000000L
    drained
      .where((col("p_ts").isNull || unix_micros(col("p_ts")) <= lit(cutoffUs)) &&
        (col("v_ts").isNull || unix_micros(col("v_ts")) <= lit(cutoffUs)))
      .select(col("purchase_id"), col("view_id"))
      .orderBy(col("purchase_id"), col("view_id"))
  }
}
