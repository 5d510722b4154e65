package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.StreamingIngest
import graft.util.ScopedConf

/** Streaming queries, oracle-checked against the same DuckDB SQL as their
  * batch twins (the streaming engine must converge to the batch answer at
  * AvailableNow drain).
  */
object StreamingOps extends QueryFamily {

  private val TsFmt = "%Y-%m-%d %H:%M:%S.%f"

  /** The arrival screen as a STREAM — the operational shape of
    * `ingest_screen_pipeline` when documents land continuously: the
    * map-only stages (PII regexes, native repetition counters) and the
    * exact-dup check (stream-static join against the corpus's distinct
    * content hashes — a broadcastable (16 B, id) table at any corpus
    * size) run per micro-batch in APPEND mode with no stream-side state
    * at all. Near-dup disposition is deliberately absent here: candidate
    * generation needs per-doc aggregation across band collisions, which
    * belongs in the batch screen (`ingest_screen_pipeline`) — the
    * streaming screen is the cheap front gate, the batch screen the
    * nightly authority.
    *
    * The landing zone stages the documents parquet (a symlink) plus one
    * injected-arrivals file (re-crawl copies + the PII fixture rows), and
    * the stream filters to the arrival slice — same fixture population as
    * the batch screen's batch side, minus nothing.
    */
  /** The DSv2 zone drained through the connector's micro-batch stream
    * and rolled up per event type — shared by the unbounded
    * (`stream_dsv2_landing`) and admission-controlled
    * (`stream_dsv2_bounded`) twins, so "bounding must not change the
    * answer" compares two runs of the SAME pipeline differing only in
    * `maxFilesPerTrigger`. Bound OPTIONS, not .where: streaming plans
    * skip the batch pushdown rule, so the window prunes via the
    * connector's explicit [startDate, endDate) contract (the .where
    * stays as belt-and-braces row filtering above the stream).
    */
  private def dsv2ZoneRollup(s: SparkSession, dir: String,
                             maxFiles: Option[Int]): DataFrame = {
    val out = CoverageOps.buildTsvZone(s, dir)
    val reader = s.readStream
      .format(classOf[graft.sources.TsvLandingSource].getName)
      .option("path", out)
      .option("startDate", "2024-01-05").option("endDate", "2024-01-20")
    maxFiles.foreach(n => reader.option("maxFilesPerTrigger", n.toString))
    val stream = reader.load()
      .where(col("event_date") >= "2024-01-05" && col("event_date") < "2024-01-20")
    StreamingIngest.runToParquet(stream)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value_cents")).as("cents"))
      .orderBy(col("event_type"))
  }

  private def streamIngestScreen(s: SparkSession, dir: String): DataFrame = {
    val docsPath = s"$dir/documents.parquet"
    val batchDocs = graft.Tables.load(s, dir, "documents")
    val nib = substring(md5(col("doc_id").cast("string")), 32, 1)
    val stage = java.nio.file.Paths.get(graft.util.TempDirs.create("graft_stream_screen_"))
    // injected arrivals, full documents schema so the file source sees one schema
    batchDocs.where(nib < lit("e") && col("doc_id") % 50 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars"))
      .unionByName(TextAnalysisOps.piiFixtureDf(s)
        .select(col("doc_id"), col("text"), lit("en").as("lang"),
          lit("inject").as("source"), length(col("text")).cast("long").as("n_chars")))
      .coalesce(1).write.mode("append").parquet(stage.toString)
    java.nio.file.Files.createSymbolicLink(
      stage.resolve("documents_1.parquet"), java.nio.file.Paths.get(docsPath))
    // static side: distinct corpus content hashes (+ the kept doc id)
    val corpusHashes = batchDocs.where(nib < lit("e"))
      .groupBy(md5(col("text")).as("__h"))
      .agg(min(col("doc_id")).as("__cid"))
    val schema = s.read.parquet(stage.toString).schema
    val arrivals = s.readStream.schema(schema).parquet(stage.toString)
      // the arrival slice: 'e'..'f' bucket docs + every injected row
      .where(substring(md5(col("doc_id").cast("string")), 32, 1) >= lit("e") ||
        col("doc_id") >= 1000000L)
    val flagged = arrivals
      .select(col("doc_id"),
        (size(regexp_extract_all(col("text"), lit(TextAnalysisOps.EmailRe), lit(0))) +
          size(regexp_extract_all(col("text"), lit(TextAnalysisOps.PhoneRe), lit(0)))
          > 0).as("__pii"),
        expr("graft_repetition_stats(text)").as("__r"),
        md5(col("text")).as("__mh"))
      .select(col("doc_id"), col("__pii"), col("__mh"),
        element_at(col("__r"), 1).as("__nw"), element_at(col("__r"), 3).as("__dup"),
        element_at(col("__r"), 4).as("__nbg"), element_at(col("__r"), 5).as("__top"))
      .select(col("doc_id"), col("__pii"), col("__mh"),
        (when(col("__nw") > 0, col("__dup").cast("double") / col("__nw").cast("double"))
          .otherwise(lit(0.0)) <= TextAnalysisOps.MaxDupWordFrac &&
          when(col("__nbg") > 0, col("__top").cast("double") / col("__nbg").cast("double"))
            .otherwise(lit(0.0)) <= TextAnalysisOps.MaxTopBigramFrac).as("__keep"))
      // stream-static left join: arrivals and corpus occupy disjoint
      // id/bucket ranges, so a hash match is always a true cross-identity
      .join(corpusHashes, col("__mh") === col("__h"), "left_outer")
      .select(col("doc_id"),
        when(col("__cid").isNotNull, "dup_exact")
          .when(col("__pii"), "pii_flagged")
          .when(!col("__keep"), "repetitive")
          .otherwise("accepted").as("disposition"))
    // file sink, not memory: one disposition row per arriving doc — O(input)
    StreamingIngest.runToParquet(flagged).orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_tumbling_daily" -> ((s, dir) => StreamingIngest.tumblingDaily(s, dir)),
    "stream_sliding_windows" -> ((s, dir) => StreamingIngest.streamSlidingWindows(s, dir)),
    "stream_user_watermark" -> ((s, dir) => StreamingIngest.statefulUserWatermark(s, dir)),
    // the same state machine on transformWithState (Spark 4 typed-state
    // API, RocksDB-backed) — must fold to the identical oracle
    "stream_user_watermark_tws" ->
      ((s, dir) => StreamingIngest.streamUserWatermarkTws(s, dir)),
    "stream_dedup_exact" -> ((s, dir) => StreamingIngest.streamDedupExact(s, dir)),
    "stream_sessionize" -> ((s, dir) => StreamingIngest.sessionWindows(s, dir)),
    // the SAME stateful query under the RocksDB state store — config-only
    // backend swap, bit-identical output. This is the 100 TB state story:
    // HDFS-backed stores hold every key on-heap (state is bounded by
    // executor memory); RocksDB spills state to local SSD with an
    // off-heap block cache, so per-partition state can exceed the heap —
    // the backend every large always-on deployment runs. The drain runs
    // with the provider set and restores the session's own afterwards.
    "stream_sessionize_rocksdb" -> ((s, dir) =>
      ScopedConf.withConfs(s, StreamingIngest.RocksDbProvider) {
        StreamingIngest.sessionWindows(s, dir) // drains eagerly inside
      }),
    "stream_session_timers" -> ((s, dir) => StreamingIngest.streamSessionTimers(s, dir)),
    // the same timer-closed sessions on transformWithState (explicit
    // timer lifecycle + handleExpiredTimer, RocksDB-backed) — same oracle
    "stream_session_timers_tws" ->
      ((s, dir) => StreamingIngest.streamSessionTimersTws(s, dir)),
    "stream_interval_join" -> ((s, dir) => StreamingIngest.streamIntervalJoin(s, dir)),
    "stream_left_outer_join" -> ((s, dir) => StreamingIngest.streamLeftOuterJoin(s, dir)),
    "stream_full_outer_join" -> ((s, dir) => StreamingIngest.streamFullOuterJoin(s, dir)),
    "stream_ingest_screen" -> (streamIngestScreen _),
    "stream_bounded_batches" ->
      ((s, dir) => StreamingIngest.streamBoundedBatches(s, dir)._1),
    "stream_upsert_latest" ->
      ((s, dir) => StreamingIngest.streamUpsertLatest(s, dir)),
    "stream_cohort_retention" ->
      ((s, dir) => StreamingIngest.streamCohortRetention(s, dir)),
    "stream_bucket_drift" ->
      ((s, dir) => StreamingIngest.streamBucketDrift(s, dir)),
    "stream_topk_custom" ->
      ((s, dir) => StreamingIngest.streamTopkCustom(s, dir)),
    "stream_distinct_cap" ->
      ((s, dir) => StreamingIngest.streamDistinctCap(s, dir)),
    "stream_countmin" ->
      ((s, dir) => StreamingIngest.streamCountmin(s, dir)),
    "stream_asof_attrib" ->
      ((s, dir) => StreamingIngest.streamAsofAttrib(s, dir)),
    // the custom DSv2 connector's MICRO-BATCH side: the same poisoned
    // zone + dated window as the batch twin, drained through the
    // file-arrival stream — success proves date pruning reaches the
    // streaming scan (the poison file would throw) and the offset space
    // covers every admitted file exactly once
    "stream_dsv2_landing" -> ((s, dir) => dsv2ZoneRollup(s, dir, None)),
    // the SAME pipeline under ADMISSION CONTROL: maxFilesPerTrigger makes
    // the connector's getDefaultReadLimit/ReadMaxFiles seam cap every
    // micro-batch, so the AvailableNow drain runs several checkpointed
    // batches instead of one giant one — the bounded-backlog shape a
    // 10k-file catch-up needs. (Dsv2SourceSpec pins the exact
    // one-file-per-batch split; here the cap is sized so the 15-day
    // window drains in ~4 batches — per-batch commit overhead is real,
    // and the production knob trades it against batch memory.) Same
    // oracle as the unbounded twin: bounding must not change the answer.
    "stream_dsv2_bounded" -> ((s, dir) => dsv2ZoneRollup(s, dir, Some(4))),
    "stream_wap_publish" ->
      ((s, dir) => StreamingIngest.streamWapPublish(s, dir)),
    "stream_etl_dest" -> ((s, dir) => {
      StreamingIngest.streamEtlToParquet(s, dir)
        .select(col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_iso"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .orderBy(col("event_id"))
    })
  )

  private val SessionTimersSql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events),
       |mx AS (SELECT max(ts) AS mt FROM events),
       |m AS (
       |  SELECT user_id, ts, us,
       |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > ${6L * 3600 * 1000000}
       |         THEN 1 ELSE 0 END AS brk
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |s AS (
       |  SELECT user_id, ts, us,
       |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, us
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
       |  FROM m),
       |g AS (
       |  SELECT user_id, min(ts) AS st, max(ts) AS la, count(*) AS n_events
       |  FROM s GROUP BY user_id, session_id)
       |SELECT user_id,
       |  strftime(st, '$TsFmt') AS session_start,
       |  strftime(la + INTERVAL 6 HOUR, '$TsFmt') AS session_end,
       |  n_events
       |FROM g, mx WHERE la + INTERVAL 6 HOUR <= mt - INTERVAL 2 HOUR
       |ORDER BY user_id, session_start""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // the stateful stream (at-least-once doubled, one file per batch) must
    // converge to the batch cohort report — same oracle as the batch twin
    "stream_cohort_retention" -> ProductAnalyticsOps.oracleSql("cohort_retention"),
    // order-insensitive conditional counts: the stream must converge to
    // the identical batch drift report
    "stream_bucket_drift" -> ScaleOps.oracleSql("stats_bucket_drift"),
    // the incremental custom-agg state must converge to the batch top-k
    "stream_topk_custom" -> RelationalOps.oracleSql("a9_topk_custom_agg"),
    "stream_distinct_cap" -> SeriesOps.oracleSql("stats_distinct_cap"),
    // the incrementally-merged CMS grid must grade identically to the
    // batch sketch twin (same exact side, same envelope pins)
    "stream_countmin" -> CoverageOps.oracleSql("stats_countmin"),
    // per-micro-batch custom-operator joins against the static history
    // must reassemble to the all-batch as-of join
    "stream_asof_attrib" -> RelationalOps.oracleSql("j10_asof_operator"),
    // per-micro-batch audited publishes must reassemble the full source
    "stream_wap_publish" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS export_date, count(*) AS n_rows,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // outer results are final only a full horizon behind the watermark:
    // the stream must equal the batch LEFT join on the closed region
    // (p_ts ≤ max(ts) − 2 h); unmatched purchases carry view_id −1
    "stream_left_outer_join" ->
      """WITH mx AS (SELECT max(ts) AS m FROM events)
        |SELECT p.event_id AS purchase_id,
        |  coalesce(v.event_id, -1) AS view_id
        |FROM events p
        |LEFT JOIN events v ON p.user_id = v.user_id
        |  AND v.event_type = 'view'
        |  AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts < p.ts
        |CROSS JOIN mx
        |WHERE p.event_type = 'purchase' AND p.ts <= m - INTERVAL 2 HOUR
        |ORDER BY purchase_id, view_id""".stripMargin,
    // the streamed zone must reassemble to the batch connector's report
    "stream_dsv2_landing" -> CoverageOps.oracleSql("src_dsv2_landing"),
    // one-file-per-batch admission control must not change the answer
    "stream_dsv2_bounded" -> CoverageOps.oracleSql("src_dsv2_landing"),
    // full-outer finality needs BOTH sides closed: every timestamp a row
    // carries must sit a full horizon behind the final watermark; −1 pads
    // the absent side of organic purchases and dead-end views
    "stream_full_outer_join" ->
      """WITH mx AS (SELECT max(ts) AS m FROM events),
        |p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view')
        |SELECT coalesce(p.event_id, -1) AS purchase_id,
        |  coalesce(v.event_id, -1) AS view_id
        |FROM p FULL JOIN v ON p.user_id = v.user_id
        |  AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts < p.ts
        |CROSS JOIN mx
        |WHERE (p.ts IS NULL OR p.ts <= m - INTERVAL 2 HOUR)
        |  AND (v.ts IS NULL OR v.ts <= m - INTERVAL 2 HOUR)
        |ORDER BY purchase_id, view_id""".stripMargin,
    // overlapping-window state drains to the identical batch report
    "stream_sliding_windows" -> RelationalOps.oracleSql("w17_sliding_windows"),
    // the streaming interval join must converge to the batch interval join
    "stream_interval_join" ->
      """SELECT p.event_id AS purchase_id, v.event_id AS view_id
        |FROM events p JOIN events v ON p.user_id = v.user_id
        |  AND p.event_type = 'purchase' AND v.event_type = 'view'
        |  AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts < p.ts
        |ORDER BY purchase_id, view_id""".stripMargin,
    "stream_tumbling_daily" ->
      s"""SELECT strftime(date_trunc('day', ts), '$TsFmt') AS window_start,
         |  count(*) AS n, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_value_cents
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "stream_user_watermark" ->
      s"""SELECT user_id, strftime(max(ts), '$TsFmt') AS watermark
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "stream_user_watermark_tws" ->
      s"""SELECT user_id, strftime(max(ts), '$TsFmt') AS watermark
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // the doubled at-least-once input must collapse back to the batch table
    "stream_dedup_exact" ->
      s"""SELECT event_id, strftime(ts, '$TsFmt') AS ts_iso, user_id
         |FROM events ORDER BY event_id""".stripMargin,
    // batch twin of the streaming session windows: split when the silence
    // EXCEEDS the gap (same boundary convention — probe-pinned in the
    // Scaladoc), window end = last event + gap
    // the timer-closed sessions must equal the batch fold on the closed
    // region (last event ≤ max − 8 h ⟺ session_end ≤ max − 2 h)
    "stream_session_timers_tws" -> SessionTimersSql,
    "stream_session_timers" -> SessionTimersSql,
    "stream_sessionize" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events),
         |m AS (
         |  SELECT user_id, ts, us,
         |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > ${6L * 3600 * 1000000}
         |         THEN 1 ELSE 0 END AS brk
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |s AS (
         |  SELECT user_id, ts, us,
         |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, us
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
         |  FROM m)
         |SELECT user_id,
         |  strftime(min(ts), '$TsFmt') AS session_start,
         |  strftime(max(ts) + INTERVAL 6 HOUR, '$TsFmt') AS session_end,
         |  count(*) AS n_events
         |FROM s GROUP BY user_id, session_id
         |ORDER BY user_id, session_start""".stripMargin,
    "stream_sessionize_rocksdb" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events),
         |m AS (
         |  SELECT user_id, ts, us,
         |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > ${6L * 3600 * 1000000}
         |         THEN 1 ELSE 0 END AS brk
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |s AS (
         |  SELECT user_id, ts, us,
         |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, us
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
         |  FROM m)
         |SELECT user_id,
         |  strftime(min(ts), '$TsFmt') AS session_start,
         |  strftime(max(ts) + INTERVAL 6 HOUR, '$TsFmt') AS session_end,
         |  count(*) AS n_events
         |FROM s GROUP BY user_id, session_id
         |ORDER BY user_id, session_start""".stripMargin,
    "stream_etl_dest" ->
      s"""SELECT event_id, strftime(ts, '$TsFmt') AS ts_iso, user_id, event_type, value, props
         |FROM events ORDER BY event_id""".stripMargin,
    // the merged store must converge to the batch per-key argmax — the
    // at-least-once doubled source and the batch boundaries must both be
    // invisible in the final state
    "stream_upsert_latest" ->
      s"""SELECT user_id, event_id AS last_event_id,
         |  strftime(ts, '$TsFmt') AS last_ts_iso,
         |  CAST(round(value * 100) AS BIGINT) AS last_value_cents
         |FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events)
         |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // rate-bounded ingest must deliver exactly the staged multiset:
    // every event arrives once per staged copy, no more, no less
    "stream_bounded_batches" ->
      """SELECT event_id, CAST(count(*) * 3 AS BIGINT) AS n_copies
        |FROM events GROUP BY event_id ORDER BY event_id""".stripMargin,
    // the batch screen's oracle minus the near-dup stage (see the Scaladoc)
    "stream_ingest_screen" ->
      s"""WITH ${IngestScreenOps.duckBatchCte},
         |corpus_h AS (
         |  SELECT DISTINCT md5(text) AS h FROM documents
         |  WHERE substr(md5(doc_id::VARCHAR), 32, 1) < 'e'),
         |${IngestScreenOps.duckPiiRepCtes}
         |SELECT b.doc_id,
         |  CASE WHEN md5(b.text) IN (SELECT h FROM corpus_h) THEN 'dup_exact'
         |       WHEN b.doc_id IN (SELECT doc_id FROM pii) THEN 'pii_flagged'
         |       WHEN NOT rep.keep THEN 'repetitive'
         |       ELSE 'accepted' END AS disposition
         |FROM batch b JOIN rep ON b.doc_id = rep.doc_id
         |ORDER BY b.doc_id""".stripMargin
  )
}
