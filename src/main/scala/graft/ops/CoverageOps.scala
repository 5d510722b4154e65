package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.etl.CatalogOps

/** The SURVEY §2 rows not already exercised by a dedicated pipeline query:
  * star projection (P1), conjunctive equality (F2), bytes→string (C2),
  * UUID-format rendering (C11), catalog listings (S5), existence probes
  * (S6). Small by design — each is one declarative query with a DuckDB
  * oracle, so the §2 inventory is checkable line by line.
  */
object CoverageOps extends QueryFamily {

  private val TsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
  private val DuckTsFmt = "%Y-%m-%d %H:%M:%S.%f"

  /** P1 — star projection over the full event schema. */
  private def p1(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .select(col("event_id"), date_format(col("ts"), TsFmt).as("ts_iso"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .orderBy(col("event_id"))

  /** F2 — conjunctive equality predicate (reference: billing_etl_db.py:48). */
  private def f2(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .where(col("user_id") === 7 && col("event_type") === "purchase")
      .select(col("event_id"), date_format(col("ts"), TsFmt).as("ts_iso"))
      .orderBy(col("event_id"))

  /** C2 — bytes → UTF-8 string round-trip (reference: main.py:30). */
  private def c2(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .select(col("event_id"),
        encode(col("props"), "UTF-8").cast("string").as("decoded"))
      .orderBy(col("event_id"))

  /** C11 — UUID-format string rendering (reference: return_type.py:11-12);
    * deterministic UUID-shaped ids derived from content hashes.
    */
  private def c11(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .withColumn("h", md5(col("text")))
      .select(col("doc_id"),
        concat_ws("-",
          substring(col("h"), 1, 8), substring(col("h"), 9, 4),
          substring(col("h"), 13, 4), substring(col("h"), 17, 4),
          substring(col("h"), 21, 12)).as("uuid"))
      .orderBy(col("doc_id"))

  /** S5 — catalog listings (reference: client.py:33-40): create two
    * namespaces, list them back through the catalog API, clean up.
    */
  private def s5(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val names = Seq("graft_cat_a", "graft_cat_b")
    try {
      names.foreach(n => CatalogOps.createNamespace(s, n))
      s.catalog.listDatabases().collect()
        .map(_.name).filter(_.startsWith("graft_cat_")).sorted.toSeq
        .toDF("namespace")
    } finally names.foreach(n => CatalogOps.dropNamespaceCascade(s, n))
  }

  /** S6 — existence probes around create/drop
    * (reference: dataset_utils.py:236-247, billing_etl.py:225-248).
    */
  private def s6(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ns = "graft_probe_ns"
    val tbl = "probe_table"
    CatalogOps.dropNamespaceCascade(s, ns)
    val before = s.catalog.databaseExists(ns)
    CatalogOps.createNamespace(s, ns)
    val afterCreateNs = s.catalog.databaseExists(ns)
    val tblBefore = CatalogOps.tableExists(s, ns, tbl)
    CatalogOps.createBillingTable(s, ns, tbl)
    val tblAfter = CatalogOps.tableExists(s, ns, tbl)
    CatalogOps.dropNamespaceCascade(s, ns)
    val afterDrop = s.catalog.databaseExists(ns)
    Seq(
      ("ns_before_create", before),
      ("ns_after_create", afterCreateNs),
      ("table_before_create", tblBefore),
      ("table_after_create", tblAfter),
      ("ns_after_drop_cascade", afterDrop))
      .toDF("probe", "exists")
      .orderBy("probe")
  }

  // Fixed extraction window (same as RelationalOps) to bound roundtrip rows.
  private val W0 = "2024-01-10 00:00:00"
  private val W1 = "2024-01-20 00:00:00"

  private def windowSlice(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .where(col("ts") >= to_timestamp(lit(W0)) && col("ts") < to_timestamp(lit(W1)))
      .select(col("event_id"), date_format(col("ts"), TsFmt).as("ts_iso"),
        col("user_id"), col("value"), col("props"))

  private val sliceSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "event_id BIGINT, ts_iso STRING, user_id BIGINT, value DOUBLE, props STRING")

  /** JSON row-batch sink→source parity: the reference's whole load path is
    * JSON rows (billing_etl.py:315-316, :346 — dict-serialized batches into
    * BigQuery's JSON loader). Writing the extraction slice as JSON and
    * reading it back must be lossless — timestamps pre-serialized to ISO
    * strings exactly as the reference does (billing_etl.py:35-40), doubles
    * via shortest-repr roundtrip, nested JSON (`props`) as opaque strings.
    * Oracled against the same slice straight from parquet: any sink/source
    * asymmetry breaks the hash.
    */
  private def srcJsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = graft.util.TempDirs.create("graft_json_rt_")
    windowSlice(s, dir).write.mode("overwrite").json(out)
    s.read.schema(sliceSchema).json(out).orderBy(col("event_id"))
  }

  /** CSV sink→source parity, same contract as the JSON roundtrip (quoting
    * must survive the embedded-JSON `props` column).
    */
  private def srcCsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = graft.util.TempDirs.create("graft_csv_rt_")
    windowSlice(s, dir).write.mode("overwrite").option("header", "true").csv(out)
    s.read.schema(sliceSchema).option("header", "true").csv(out)
      .orderBy(col("event_id"))
  }

  /** ORC sink→source parity — the third columnar container a warehouse
    * migration meets (parquet is the native one; ORC arrives from Hive
    * estates). Same slice contract as the JSON/CSV roundtrips; ORC carries
    * real types, so the read-back needs no schema-on-read coercion.
    */
  private def srcOrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = graft.util.TempDirs.create("graft_orc_rt_")
    windowSlice(s, dir).write.mode("overwrite").orc(out)
    s.read.orc(out).orderBy(col("event_id"))
  }

  /** The custom DataSource V2 connector end to end
    * ([[graft.sources.TsvLandingSource]]): build a date-stamped flat-file
    * landing zone (one `events_YYYY-MM-DD.tsv` per day — ONE Spark job
    * repartitioned by day so each day lands as a single part file, then
    * per-day flat RENAMES, metadata ops only), poison it with an
    * out-of-range file whose lines cannot parse, and read a two-week
    * window back through the connector. The query succeeding at all
    * proves scan-time FILE PRUNING (the poisoned file would throw in the
    * reader — built-in csv would have opened it); the aggregate matching
    * the oracle proves the parse path; the spec additionally pins the
    * pruned read schema and pushed filters off the planned BatchScanExec.
    */
  /** Builds the poisoned landing zone the DSv2 queries read: one flat
    * `events_<day>.tsv` per day (single Spark job repartitioned by day,
    * then per-day renames — metadata ops only) plus an out-of-range file
    * whose lines cannot parse. Returns the zone directory.
    */
  // One zone per source dir per session: the zone is a pure function of
  // the immutable fixture, three queries (batch/stream/SQL-catalog) read
  // it, and the catalog plugin caches its root — a stable path keeps all
  // consumers coherent across a bench sweep's repeated runs.
  private val zoneMemo = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[ops] def buildTsvZone(s: SparkSession, dir: String): String =
    zoneMemo.computeIfAbsent(dir, _ => buildTsvZoneUncached(s, dir))

  /** Second landing zone for the storage-partitioned join: a per-day
    * BUDGET dimension (one `events_<day>.tsv` per day, one row each:
    * `0 \t 0 \t budget \t <that day's event count>`) — co-partitioned
    * with the events zone by construction, since both key files by the
    * same date. |days| rows pass through the driver, a dimension-build
    * metadata scale, never the fact table.
    */
  private val budgetZoneMemo = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def buildBudgetZone(s: SparkSession, dir: String): String =
    budgetZoneMemo.computeIfAbsent(dir, _ => {
      val out = graft.util.TempDirs.create("graft_tsv_budget_")
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      Tables.load(s, dir, "events")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n")).collect()
        .foreach { r =>
          val os = fs.create(
            new org.apache.hadoop.fs.Path(s"$out/events_${r.getString(0)}.tsv"))
          os.write(s"0\t0\tbudget\t${r.getLong(1)}\n".getBytes("UTF-8"))
          os.close()
        }
      out
    })

  private def buildTsvZoneUncached(s: SparkSession, dir: String): String = {
    import org.apache.hadoop.fs.Path
    val out = graft.util.TempDirs.create("graft_tsv_zone_")
    Tables.load(s, dir, "events")
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        concat_ws("\t", col("event_id"), col("user_id"), col("event_type"),
          round(col("value") * 100).cast("long")).as("value"))
      .repartition(col("day"))
      .write.mode("overwrite").partitionBy("day").text(s"$out/raw")
    val fs = new Path(out).getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(s"$out/raw")).filter(_.isDirectory).foreach { d =>
      val day = d.getPath.getName.stripPrefix("day=")
      val parts = fs.listStatus(d.getPath)
        .filter(_.getPath.getName.startsWith("part-"))
      require(parts.length == 1, s"expected 1 part file per day, got ${parts.length}")
      fs.rename(parts.head.getPath, new Path(s"$out/events_$day.tsv"))
    }
    val poison = fs.create(new Path(s"$out/events_9999-12-31.tsv"))
    poison.write("THIS FILE MUST NEVER BE OPENED\n".getBytes("UTF-8"))
    poison.close()
    out
  }

  /** The connector's WRITE path end to end: the events slice goes OUT
    * through the V2 commit protocol (task-staged `events_<date>.p<N>.tsv`
    * files, job-level atomic publish — see
    * [[graft.sources.TsvBatchWrite]]) into a fresh zone, then comes BACK
    * through the connector's read path and rolls up per day — write
    * fidelity, multi-file-per-date reads, and the staged-then-published
    * layout all proven against the direct-parquet oracle. The abort half
    * of the protocol (failed job publishes nothing) is pinned in
    * Dsv2SourceSpec.
    */
  private def snkDsv2Landing(s: SparkSession, dir: String): DataFrame = {
    val out = graft.util.TempDirs.create("graft_tsv_sink_")
    val cls = classOf[graft.sources.TsvLandingSource].getName
    Tables.load(s, dir, "events")
      .select(date_format(col("ts"), "yyyy-MM-dd").as("event_date"),
        col("event_id"), col("user_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("value_cents"))
      .write.format(cls).option("path", out).mode("append").save()
    s.read.format(cls).option("path", out).load()
      .groupBy(col("event_date"))
      .agg(count(lit(1)).as("n"), sum(col("value_cents")).as("cents"))
      .orderBy(col("event_date"))
  }

  /** Bind the `graft` catalog ([[graft.sources.GraftCatalog]]) to the
    * directory holding `zone`, so `graft.`<name>`` resolves to the zone;
    * returns that name. The binding is two session confs and stays set.
    */
  private def bindGraftCatalog(s: SparkSession, zone: String): String = {
    val p = new org.apache.hadoop.fs.Path(zone)
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root", p.getParent.toString)
    p.getName
  }

  /** Day-scoped OVERWRITE through the connector's `SupportsOverwrite`
    * ([[graft.sources.TsvTable.newWriteBuilder]]): the corrected-delivery
    * workflow — a full zone lands through the commit protocol, then one
    * day's data is re-delivered with corrected values via
    * `writeTo(...).overwrite(event_date = d)`. The condition admits whole
    * files, so the replace is O(that day's files) deletes inside job
    * commit plus the staged publish — no other day's files are touched
    * (pinned file-by-file in Dsv2SourceSpec). The read-back rollup
    * hash-proves exactly the overwritten day carries the corrected cents
    * and every other day survived byte-identical.
    */
  private def snkDsv2Overwrite(s: SparkSession, dir: String): DataFrame = {
    val zone = graft.util.TempDirs.create("graft_tsv_ow_")
    val cls = classOf[graft.sources.TsvLandingSource].getName
    val ev = Tables.load(s, dir, "events")
      .select(date_format(col("ts"), "yyyy-MM-dd").as("event_date"),
        col("event_id"), col("user_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("value_cents"))
    ev.write.format(cls).option("path", zone).mode("append").save()
    val day = "2024-01-10"
    val corrected = ev.where(col("event_date") === day)
      .withColumn("value_cents", col("value_cents") * 2)
    corrected.writeTo(s"graft.`${bindGraftCatalog(s, zone)}`")
      .overwrite(col("event_date") === day)
    s.read.format(cls).option("path", zone).load()
      .groupBy(col("event_date"))
      .agg(count(lit(1)).as("n"), sum(col("value_cents")).as("cents"))
      .orderBy(col("event_date"))
  }

  /** STREAMING write through the connector
    * ([[graft.sources.TsvStreamingWrite]]): the zone-to-zone streaming
    * pipe — `readStream` off one landing zone (dated window as options,
    * capped drain) lands in another THROUGH `writeStream.format(tsv)`,
    * each epoch staged and atomically published with deterministic
    * `events_<date>.e<epoch>.p<N>.tsv` names (a replayed epoch re-stages
    * the same names; losing a rename to an existing target is the
    * idempotent ack). The read-back rollup against the direct-parquet
    * oracle proves the multi-epoch, multi-file-per-date drain landed
    * exactly once. Dsv2SourceSpec pins the restart-adds-nothing and
    * per-epoch naming halves.
    */
  private val streamSinkMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def snkDsv2Stream(s: SparkSession, dir: String): DataFrame = {
    val cls = classOf[graft.sources.TsvLandingSource].getName
    val out = streamSinkMemo.computeIfAbsent(dir, _ => {
      val src = buildTsvZone(s, dir)
      val dst = graft.util.TempDirs.create("graft_tsv_ssink_")
      val cp = graft.util.TempDirs.create("graft_tsv_ssink_cp_")
      val q = s.readStream.format(cls).option("path", src)
        .option("startDate", "2024-01-05").option("endDate", "2024-01-20")
        .option("maxFilesPerTrigger", "5") // force a multi-epoch drain
        .load()
        .writeStream.format(cls).option("path", dst)
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      dst
    })
    s.read.format(cls).option("path", out).load()
      .groupBy(col("event_date"))
      .agg(count(lit(1)).as("n"), sum(col("value_cents")).as("cents"))
      .orderBy(col("event_date"))
  }

  private def srcDsv2Landing(s: SparkSession, dir: String): DataFrame = {
    val out = buildTsvZone(s, dir)
    s.read.format(classOf[graft.sources.TsvLandingSource].getName)
      .option("path", out).load()
      .where(col("event_date") >= "2024-01-05" && col("event_date") < "2024-01-20")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value_cents")).as("cents"))
      .orderBy(col("event_type"))
  }

  /** Runtime (JOIN-driven) file pruning through the connector — the
    * dynamic-partition-pruning path of [[graft.sources.TsvScan]]: the
    * zone read carries NO date predicate at all; the dates come from a
    * dimension of "days on which a rare event fired" (selective filter
    * on a NON-join column, so the optimizer cannot statically propagate
    * it across the join). Spark executes the broadcast dimension first,
    * DPP hands the surviving days to the scan's `filter()`, and
    * `planInputPartitions` re-lists only those files. The poisoned
    * out-of-range file (unparseable) proves the pruning is REAL: if the
    * runtime filter did not reach the scan, the reader would open it and
    * throw — so this query returning at all is the end-to-end evidence,
    * and the spec additionally pins the `dynamicpruning` expression on
    * the planned scan. At 100 TB this is a dimension-driven incremental
    * job scanning the dimension's days instead of the whole zone.
    */
  private def srcDsv2RuntimePrune(s: SparkSession, dir: String): DataFrame = {
    val out = buildTsvZone(s, dir)
    val zone = s.read.format(classOf[graft.sources.TsvLandingSource].getName)
      .option("path", out).load()
    val auditDays = Tables.load(s, dir, "events")
      .where(col("event_id") % 9973 === 0)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("event_date"))
      .distinct()
    zone.join(broadcast(auditDays), "event_date")
      .groupBy(col("event_date"))
      .agg(count(lit(1)).as("n"), sum(col("value_cents")).as("cents"))
      .orderBy(col("event_date"))
  }

  /** COUNT pushdown through the connector
    * ([[graft.sources.TsvScanBuilder.pushAggregation]]): the per-day
    * volume report runs as one LONG per admitted file — the reader
    * streams bytes and counts lines (arity-checked), never tokenizes a
    * field or ships an event row, and Spark's final aggregate re-sums
    * the per-file partials (the zone's `.p<N>` task segments make the
    * partial/complete distinction real). Dsv2SourceSpec pins that the
    * planned scan is the count scan; this query grades the numbers
    * against the direct-parquet oracle.
    */
  private def srcDsv2CountPushdown(s: SparkSession, dir: String): DataFrame = {
    val out = buildTsvZone(s, dir)
    s.read.format(classOf[graft.sources.TsvLandingSource].getName)
      .option("path", out).load()
      .where(col("event_date") >= "2024-01-05" && col("event_date") < "2024-01-20")
      .groupBy(col("event_date")).count()
      .select(col("event_date"), col("count").as("n"))
      .orderBy(col("event_date"))
  }

  /** SUM pushdown through the connector
    * ([[graft.sources.TsvScanBuilder.pushAggregation]]): the
    * revenue-per-day report runs as one LONG per admitted file — the
    * reader parses exactly ONE column per line (the 4th field; the other
    * three are stepped over) and Spark's final aggregate re-sums the
    * per-file partials across `.p<N>` task segments. Same partial/final
    * split as the count scan; graded against the direct-parquet oracle.
    */
  private def srcDsv2SumPushdown(s: SparkSession, dir: String): DataFrame = {
    val out = buildTsvZone(s, dir)
    s.read.format(classOf[graft.sources.TsvLandingSource].getName)
      .option("path", out).load()
      .where(col("event_date") >= "2024-01-05" && col("event_date") < "2024-01-20")
      .groupBy(col("event_date"))
      .agg(sum(col("value_cents")).as("cents"))
      .orderBy(col("event_date"))
  }

  /** MIN/MAX(event_date) pushdown through the connector
    * ([[graft.sources.TsvScanBuilder.pushAggregation]]): the "what date
    * range has landed?" freshness probe every incremental scheduler runs
    * is answered from the LISTING alone — `event_date` IS the filename
    * date, so each admitted file's min and max are its name and the
    * reader opens NOTHING (the flat-file analogue of a parquet
    * footer-only min/max). Dsv2SourceSpec pins the zero-I/O claim with a
    * garbage-content file INSIDE the range: min/max succeeds where the
    * row path throws. This query grades the dates against the
    * direct-parquet oracle.
    */
  private def srcDsv2MinmaxMeta(s: SparkSession, dir: String): DataFrame = {
    val out = buildTsvZone(s, dir)
    s.read.format(classOf[graft.sources.TsvLandingSource].getName)
      .option("path", out).load()
      .where(col("event_date") >= "2024-01-03" && col("event_date") < "2024-01-20")
      .agg(min(col("event_date")).as("first_date"),
           max(col("event_date")).as("last_date"))
  }

  /** TOP-N pushdown through the connector
    * ([[graft.sources.TsvScanBuilder.pushTopN]]): "the latest landed
    * events" — ORDER BY event_date DESC LIMIT n — opens only the n
    * date-extreme non-empty files (each capped at n rows), because every
    * row in a file carries the filename's date and omitted same-date
    * files hold only sort-key ties. Selecting the date column alone
    * keeps the result deterministic for the oracle. Dsv2SourceSpec pins
    * the partition list; this query grades the values.
    */
  private def srcDsv2TopnMeta(s: SparkSession, dir: String): DataFrame = {
    val out = buildTsvZone(s, dir)
    s.read.format(classOf[graft.sources.TsvLandingSource].getName)
      .option("path", out).load()
      .where(col("event_date") < "2024-01-20")
      .select(col("event_date"))
      .orderBy(col("event_date").desc)
      .limit(3)
  }

  /** SHUFFLE-FREE per-day aggregation over the storage-partitioned zone
    * ([[graft.sources.TsvScan.outputPartitioning]]): the scan reports
    * key-grouped-by-event_date (every row of a file carries the
    * filename's date), so the `groupBy(event_date)` rollup's
    * ClusteredDistribution is ALREADY satisfied and EnsureRequirements
    * inserts no Exchange — each day aggregates where it sits. The agg
    * shape (max + count) is deliberately NOT pushable, so this exercises
    * the row path; Dsv2SourceSpec pins the zero-Exchange plan. No
    * orderBy: a final sort would re-introduce a range shuffle and the
    * driver compare is order-insensitive.
    */
  private def srcDsv2SpjAgg(s: SparkSession, dir: String): DataFrame = {
    val out = buildTsvZone(s, dir)
    s.read.format(classOf[graft.sources.TsvLandingSource].getName)
      .option("path", out).option("reportPartitioning", "true").load()
      .where(col("event_date") >= "2024-01-05" && col("event_date") < "2024-01-20")
      .groupBy(col("event_date"))
      .agg(max(col("value_cents")).as("max_cents"),
        count(lit(1)).as("n_events"))
  }

  /** STORAGE-PARTITIONED JOIN (SPJ) between two landing zones: the events
    * zone joins its per-day budget dimension on `event_date` with ZERO
    * Exchange on either side — both scans report key-grouped-by-date
    * partitioning, so the merge join (hinted, to keep the broadcast
    * planner from hiding the co-partitioning) and the per-day rollup
    * above it all run inside the storage partitioning. At 100 TB this is
    * the bucketed-join story without a bucketed table: the LAYOUT is the
    * bucketing, and neither fact rows nor dimension rows ever move.
    * Dsv2SourceSpec pins the zero-Exchange sort-merge plan. It relies on
    * two session confs that default on in Spark 4:
    * `spark.sql.sources.v2.bucketing.enabled` and `...pushPartValues.enabled`
    * (a day present on one side only gets an empty partition on the
    * other instead of a fallback shuffle).
    */
  private def srcDsv2SpjJoin(s: SparkSession, dir: String): DataFrame = {
    val fmt = classOf[graft.sources.TsvLandingSource].getName
    val a = s.read.format(fmt).option("path", buildTsvZone(s, dir))
      .option("reportPartitioning", "true").load()
      .where(col("event_date") >= "2024-01-05" && col("event_date") < "2024-01-20")
    val b = s.read.format(fmt).option("path", buildBudgetZone(s, dir))
      .option("reportPartitioning", "true").load()
      .where(col("event_date") >= "2024-01-05" && col("event_date") < "2024-01-20")
      .select(col("event_date"), col("value_cents").as("day_budget"))
    a.hint("merge").join(b, Seq("event_date"))
      .groupBy(col("event_date"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value_cents")).as("value_cents"),
        max(col("day_budget")).as("day_budget"))
  }

  /** PROVENANCE metadata column through the connector
    * ([[graft.sources.TsvTable.metadataColumns]]): `_file` surfaces the
    * zone file each row was read from — requested on demand, invisible
    * otherwise — so "which delivery produced these rows" is one
    * grouping away, the audit every landing-zone incident starts with.
    * The zone builder writes exactly one `events_<day>.tsv` per day, so
    * the oracle derives the file name from the date; the per-(day, file)
    * rollup hash-proves every row carries its true origin.
    */
  private def srcDsv2FileProvenance(s: SparkSession, dir: String): DataFrame = {
    val out = buildTsvZone(s, dir)
    s.read.format(classOf[graft.sources.TsvLandingSource].getName)
      .option("path", out).load()
      .where(col("event_date") >= "2024-01-05" && col("event_date") < "2024-01-20")
      .select(col("event_date"), col("_file").as("file_name"), col("value_cents"))
      .groupBy(col("event_date"), col("file_name"))
      .agg(count(lit(1)).as("n_events"), sum(col("value_cents")).as("cents"))
      .orderBy(col("event_date"))
  }

  /** FILE-GRANULAR SQL DELETE via the catalog plugin
    * ([[graft.sources.TsvTable.deleteWhere]]): the day-retention sweep —
    * `DELETE FROM graft.`zone` WHERE event_date IN a window` — lands on
    * the connector as whole-file deletes (every row of a file carries
    * the filename's date), O(matched files) metadata ops and zero data
    * rewrite. A fresh zone is written through the V2 commit protocol
    * first (deletes are destructive — never the shared memoized zone);
    * the post-delete rollup hash-proves exactly the window's days are
    * gone and every other row survived. Dsv2SourceSpec additionally pins
    * that a NON-date DELETE predicate is refused loudly.
    */
  private def sqlApiDeleteDay(s: SparkSession, dir: String): DataFrame = {
    val zone = graft.util.TempDirs.create("graft_tsv_del_")
    val cls = classOf[graft.sources.TsvLandingSource].getName
    Tables.load(s, dir, "events")
      .select(date_format(col("ts"), "yyyy-MM-dd").as("event_date"),
        col("event_id"), col("user_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("value_cents"))
      .write.format(cls).option("path", zone).mode("append").save()
    val table = bindGraftCatalog(s, zone)
    s.sql(s"DELETE FROM graft.`$table` " +
      "WHERE event_date >= '2024-01-10' AND event_date < '2024-01-15'")
    s.sql(
      s"""SELECT event_date, count(*) AS n_events,
         |  CAST(sum(value_cents) AS BIGINT) AS cents
         |FROM graft.`$table`
         |GROUP BY event_date ORDER BY event_date""".stripMargin)
  }

  /** The landing zone reached through PLAIN SQL via the catalog plugin
    * ([[graft.sources.GraftCatalog]]): two confs bind the catalog, and
    * `FROM graft.`zone`` resolves straight to the connector table — the
    * no-plumbing surface BI tools use. Same window, same poisoned zone,
    * same oracle as the programmatic twin: succeeding at all proves the
    * date predicates push through the SQL path into scan-time file
    * pruning (the poison file would throw).
    */
  private def sqlApiCatalogTsv(s: SparkSession, dir: String): DataFrame = {
    val table = bindGraftCatalog(s, buildTsvZone(s, dir))
    s.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(value_cents) AS BIGINT) AS cents
         |FROM graft.`$table`
         |WHERE event_date >= '2024-01-05' AND event_date < '2024-01-20'
         |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  /** Schema-evolution source read: a landing zone accumulates files
    * written under DIFFERENT schema versions (here: v1 files without the
    * later-added `value_cents` column, v2 files with it — the additive
    * evolution every long-lived pipeline performs). `mergeSchema` reads
    * the union schema and null-fills the column where a file predates it;
    * the query proves the contract end to end — total row count spans
    * both versions, the evolved-column count equals exactly the v2 rows,
    * and the sum is unaffected by the null-filled v1 rows. At scale,
    * footer-merging every file is the expensive part (`mergeSchema` scans
    * all footers): a production store pins the merged schema in a catalog
    * instead — which is what reading with an explicit union schema models.
    */
  /** JDBC sink→source parity for the DATA plane (the control plane already
    * has its own JDBC backend): the extraction slice written through
    * `spark.write.jdbc` into embedded Derby — the reference's MySQL shape,
    * URL/driver generalize — and read back as a PARALLEL PARTITIONED scan
    * (`partitionColumn`/`numPartitions`): each executor issues its own
    * bounded `WHERE event_id >= lo AND < hi` query, the only JDBC read
    * shape that scales past one connection. Timestamps travel as
    * java.sql.Timestamp (Derby TIMESTAMP holds nanos — micros preserved);
    * the ISO re-format on read-back proves it.
    */
  private def srcJdbcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val url = s"jdbc:derby:${graft.util.TempDirs.create("graft_jdbc_rt_")}/data;create=true"
    val slice = Tables.load(s, dir, "events")
      .where(col("ts") >= to_timestamp(lit(W0)) && col("ts") < to_timestamp(lit(W1)))
      .select(col("event_id"), col("ts"), col("user_id"), col("value"), col("props"))
    slice.write.mode("overwrite").jdbc(url, "events_slice", new java.util.Properties)
    val bounds = slice.agg(min(col("event_id")), max(col("event_id"))).head()
    s.read
      .option("partitionColumn", "event_id")
      .option("lowerBound", bounds.getLong(0))
      .option("upperBound", bounds.getLong(1) + 1)
      .option("numPartitions", 8)
      .jdbc(url, "events_slice", new java.util.Properties)
      .select(col("event_id"), date_format(col("ts"), TsFmt).as("ts_iso"),
        col("user_id"), col("value"), col("props"))
      .orderBy(col("event_id"))
  }

  private def srcSchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val out = graft.util.TempDirs.create("graft_schevo_")
    val ev = Tables.load(s, dir, "events")
    ev.where(col("event_id") % 2 === 0)
      .select(col("event_id"), col("user_id"))
      .write.mode("overwrite").parquet(s"$out/v1")
    ev.where(col("event_id") % 2 =!= 0)
      .select(col("event_id"), col("user_id"),
        round(col("value") * 100).cast("long").as("value_cents"))
      .write.mode("overwrite").parquet(s"$out/v2")
    s.read.option("mergeSchema", "true").parquet(s"$out/v1", s"$out/v2")
      .agg(count(lit(1)).as("n_rows"),
        count(col("value_cents")).as("n_evolved"),
        sum(col("value_cents")).as("value_cents_sum"))
  }

  /** Cardinality-estimation audit: `approx_count_distinct` (HLL++) per
    * event_type, graded against the exact distinct count computed in the
    * same query. The exact column is hash-checked by the oracle; the sketch
    * is inherently engine-specific, so it is emitted only as a boolean
    * "within 5 % of exact" audit (the ann_*_recall pattern). At 100 TB the
    * sketch is the only affordable distinct count — one pass, fixed memory,
    * mergeable across partitions — and this query pins its error envelope.
    *
    * The sketch precision is REQUESTED as rsd = 1 % so the 5 % envelope is
    * a 5σ bound (still ~12 KB of fixed state per group). The default
    * rsd = 5 % is a one-standard-deviation figure — an envelope equal to
    * it fails ~1 in 3 estimates by design, which is exactly what a
    * cross-scale sweep caught at sf0.1 (every sf0.01 estimate happened to
    * land inside; the sf0.1 ones did not).
    */
  private def statsApproxDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"),
        approx_count_distinct(col("user_id"), 0.01).as("__approx"))
      .select(col("event_type"), col("n_exact"),
        (abs(col("__approx") - col("n_exact")) <= col("n_exact") * 0.05)
          .as("within_5pct"))
      .orderBy(col("event_type"))

  /** Correlated-subquery SQL surface — the reference ships SQL text, and
    * analysts write EXISTS / scalar subqueries, not hand-planned joins.
    * Catalyst DECORRELATES both shapes (RewriteCorrelatedScalarSubquery /
    * RewritePredicateSubquery): the EXISTS becomes a left-semi equi-join,
    * the per-key scalar aggregate becomes an Aggregate joined back — both
    * shuffle-bounded, never the per-row re-execution a naive reading
    * implies (at 100 TB a re-executed subquery per order row is the
    * difference between one shuffle and |orders| scans). One IDENTICAL
    * ANSI string runs on Spark and the DuckDB oracle (the S14 contract);
    * PlanSpec pins the decorrelated plans (semi join present, no nested
    * loop, aggregate below the join for the scalar form).
    */
  private val Q4ExistsSql =
    """SELECT o_orderpriority, count(*) AS n_orders
      |FROM orders
      |WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** TPC-H Q13-shaped distribution-of-counts: customers LEFT JOIN orders
    * (zero-order customers must survive into the 0 bucket), per-customer
    * order counts, then a second aggregation histogramming the counts —
    * the two-level rollup every engagement/heavy-user report runs. Both
    * aggregations carry map-side partials; the second one runs over
    * |customers| rows, already fact-collapsed.
    */
  private val Q13HistSql =
    """SELECT n_orders, CAST(count(*) AS BIGINT) AS n_customers
      |FROM (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS n_orders
      |      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |      GROUP BY c_custkey) AS per_cust
      |GROUP BY n_orders
      |ORDER BY n_customers DESC, n_orders DESC""".stripMargin

  /** TPC-H Q16-flavored NOT IN: suppliers not on the heavy-shipment list.
    * `NOT IN (subquery)` is NOT the same as NOT EXISTS — one NULL in the
    * list empties the result under three-valued logic — so Catalyst must
    * plan a NULL-AWARE anti join (NAAJ) whenever it cannot prove the list
    * non-null (parquet columns are nullable-typed, so that is the common
    * case at the ingest edge). PlanSpec pins the NAAJ; the fixture list
    * is fact-null-free, keeping the result non-vacuous while the PLAN
    * still carries the null-aware machinery.
    */
  private val Q16NotInSql =
    """SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_suppliers
      |FROM supplier
      |WHERE s_suppkey NOT IN (SELECT l_suppkey FROM lineitem
      |                        WHERE l_quantity >= 50
      |                          AND l_shipdate >= TIMESTAMP '2001-01-01 00:00:00')
      |GROUP BY s_nationkey
      |ORDER BY s_nationkey""".stripMargin

  /** LATERAL correlated subquery with ORDER BY + LIMIT: top-2 customers
    * per segment via a per-row dependent subquery — the fourth subquery
    * rewrite beside semi/anti/scalar-agg: Catalyst decorrelates the
    * correlated LIMIT into a per-group WindowGroupLimit (map-side
    * partial top-k), never a subquery execution per driving row.
    */
  private val Q23LateralSql =
    """SELECT s.seg, t.c_custkey, t.bal
      |FROM (SELECT DISTINCT c_mktsegment AS seg FROM customer) s,
      |LATERAL (SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS bal
      |         FROM customer
      |         WHERE c_mktsegment = s.seg
      |         ORDER BY bal DESC, c_custkey LIMIT 2) t
      |ORDER BY s.seg, t.bal DESC, t.c_custkey""".stripMargin

  /** KEYSET pagination — the at-scale replacement for the reference's
    * LIMIT/OFFSET batch paging (billing_etl.py:270-276, SURVEY O3:
    * deliberately not ported). OFFSET N forces the engine to produce and
    * discard N rows per page — O(pages²) total work and unstable under
    * concurrent appends; the keyset cursor `(ts, id) > (last_ts,
    * last_id)` is a pushable range predicate, so every page is an
    * index/zone-map seek + LIMIT, O(page) forever, and append-stable.
    */
  private val O5KeysetPageSql =
    """SELECT event_id, user_id FROM events
      |WHERE ts > TIMESTAMP '2024-01-15 00:00:00'
      |   OR (ts = TIMESTAMP '2024-01-15 00:00:00' AND event_id > 4200)
      |ORDER BY ts, event_id
      |LIMIT 100""".stripMargin

  /** Error-TOLERANT casts (`TRY_CAST`): the ingest edge meets malformed
    * numerics as a fact of life; ANSI mode makes a bare CAST throw and
    * kill the job on row one, while TRY_CAST yields NULL per bad value —
    * quarantine-able, countable, job survives. The substr probe is a
    * genuine data-driven mix: 1-digit props parse as `9}` (fail), 2-digit
    * as `99` (succeed).
    */
  private val C15TryCastSql =
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(count(TRY_CAST(event_type AS INTEGER)) AS BIGINT) AS n_type_numeric,
      |  CAST(count(TRY_CAST(substr(props, 7, 2) AS INTEGER)) AS BIGINT) AS n_props_2digit
      |FROM events""".stripMargin

  /** TPC-H Q21-flavored shape: EXISTS and NOT EXISTS against the same
    * fact — the NOT EXISTS decorrelates to a left-ANTI equi-join (the
    * third subquery rewrite beside semi and scalar-agg). Orders with a
    * returned item but no large-quantity line.
    */
  private val Q21NotExistsSql =
    """SELECT o_orderpriority, count(*) AS n_orders
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      |  AND NOT EXISTS (SELECT 1 FROM lineitem
      |                  WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** TPC-H Q17 shape: small-quantity orders for one brand, the threshold a
    * per-part correlated scalar aggregate. avg(l_quantity) divides an
    * exactly-represented integer sum by an exact count, so the threshold
    * replays bit-identically in DuckDB; money leaves as integer cents.
    */
  private val Q17ScalarSql =
    """SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |    AS rev_cents,
      |  count(*) AS n_small
      |FROM lineitem, part
      |WHERE p_partkey = l_partkey AND p_brand = 'Brand#13'
      |  AND l_quantity < (SELECT CAST(0.2 AS DOUBLE) * avg(l_quantity)
      |                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin

  /** Sketch MERGEABILITY — the property that makes approximate distinct
    * affordable at warehouse scale. `stats_approx_distinct` grades the
    * one-shot estimate; this query exercises the shape production
    * actually runs: per-day HLL sketches built ONCE (a few KB each), then
    * any date range answered by unioning the day partials — 30 sketch
    * merges instead of a 100 TB rescan per question. Datasketches HLL
    * union at a shared lgK is lossless over the partials, so the merged
    * estimate is graded against the exact month distinct with the same
    * in-query boolean contract as the ANN recall floors (±2% at lgK=16's
    * ~0.4% RSE — a ~5σ envelope, so a fixture regeneration cannot flip it
    * the way a 2.5σ one statistically could; the same lesson as
    * `stats_approx_distinct`'s rsd); SketchMergeSpec pins union-of-partials ≡ one
    * global sketch, the identity the pattern rests on.
    */
  private def statsHllMerge(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("user_id"))
    val daily = ev.groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id"), 16).as("sk"), count(lit(1)).as("n"))
    val merged = daily.agg(
      hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"),
      sum(col("n")).as("n_rows"), count(lit(1)).as("n_days"))
    val exact = ev.agg(countDistinct(col("user_id")).as("n_exact"))
    merged.crossJoin(broadcast(exact))
      .select(col("n_days"), col("n_rows"), col("n_exact"),
        (abs(col("est") - col("n_exact")) * 50 <= col("n_exact")).as("within_2pct"))
  }

  /** Quantile-sketch audit, the `stats_approx_distinct` pattern applied to
    * percentiles: exact p50/p90 per event_type (the value at rank
    * ceil(p·n), picked — never interpolated, so no float arithmetic and the
    * oracle hash is bit-exact) plus a boolean grading of
    * `percentile_approx` (GK sketch) against a ±ceil(n/1000)-rank envelope
    * around the exact rank. At 100 TB the sketch is the only affordable
    * quantile — one pass, bounded memory, mergeable — and the exact rank
    * walk here (one shuffle + per-key window) is the audit you run on a
    * sampled slice to pin its error, exactly like `ann_*_recall` does for
    * the ANN paths.
    */
  private def statsApproxQuantile(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("value"))
    val wAll = Window.partitionBy(col("event_type"))
    val ranked = Tables.load(s, dir, "events")
      .select(col("event_type"), col("value"))
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("eps", greatest(ceil(col("n") / 1000.0), lit(2L)))
    def k(p: Double) = ceil(col("n") * p).cast("long")
    def atRank(kc: org.apache.spark.sql.Column) =
      max(when(col("rn") <= greatest(kc, lit(1L)), col("value")))
    ranked.groupBy(col("event_type"))
      .agg(
        atRank(k(0.5)).as("p50_exact"),
        atRank(k(0.9)).as("p90_exact"),
        atRank(k(0.5) - col("eps")).as("__lo50"),
        atRank(k(0.5) + col("eps")).as("__hi50"),
        atRank(k(0.9) - col("eps")).as("__lo90"),
        atRank(k(0.9) + col("eps")).as("__hi90"),
        percentile_approx(col("value"), lit(0.5), lit(10000)).as("__a50"),
        percentile_approx(col("value"), lit(0.9), lit(10000)).as("__a90"))
      .select(col("event_type"), col("p50_exact"), col("p90_exact"),
        (col("__a50") >= col("__lo50") && col("__a50") <= col("__hi50"))
          .as("p50_in_envelope"),
        (col("__a90") >= col("__lo90") && col("__a90") <= col("__hi90"))
          .as("p90_in_envelope"))
      .orderBy(col("event_type"))
  }

  /** Heavy-hitters sketch audit — `approx_top_k` (the third leg of the
    * sketch-audit family: HLL cardinality, GK quantiles, now frequent
    * items), graded against the exact top-10 computed in the same query.
    * maxItemsTracked (65536) exceeds the key cardinality at every shipped
    * SF, so the sketch is provably exact here and the booleans pin that
    * envelope; at 100 TB the tracked set is smaller than the key space
    * and this same audit (run on a sampled slice) measures the drift —
    * the ann_*_recall pattern. k=200 keeps every exact-top-10 key safely
    * inside the sketch's emission even at the smallest SF's tie density.
    * Envelope class: DETERMINISTIC, not statistical — while
    * |keys| ≤ maxItemsTracked the sketch counts are provably exact
    * (headroom ≈ 44× the sf0.1 user cardinality of 1 500), so the
    * assert-true oracle cannot flip on a fixture regeneration; σ does
    * not apply (see SCALE.md "Sketch-audit error envelopes").
    */
  private def statsApproxTopk(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.load(s, dir, "events")
    val sketch = ev.agg(expr("approx_top_k(user_id, 200, 65536)").as("tk"))
    val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("user_id")).limit(10)
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("n_exact").desc, col("user_id"))))
    exact.crossJoin(broadcast(sketch)) // 1-row sketch: audit input, not a join fanout
      .select(col("rnk"), col("user_id"), col("n_exact"),
        exists(col("tk"), x => x("item") === col("user_id")).as("in_sketch"),
        (size(filter(col("tk"),
          x => x("item") === col("user_id") && x("count") === col("n_exact"))) === 1)
          .as("count_matches"))
      .orderBy(col("rnk"))
  }

  /** KMV (k-minimum-values) distinct sketch — the fourth sketch-audit leg
    * beside HLL distinct, GK quantiles, and approx-top-k, and the only
    * one that is EXACT-INTEGER end to end: the sketch is the k smallest
    * 52-bit md5 values per group (deterministic — a set property, no
    * estimator state), kept via a rank-≤-k window that plans a map-side
    * partial WindowGroupLimit, and the estimator is pure integer math,
    * n̂ = (k−1)·2⁵² div h₍ₖ₎ — so unlike the HLL/GK audits (booleans
    * around an opaque estimate), the ENTIRE sketch and estimate
    * hash-match the oracle. KMV is also mergeable (union the sets, keep
    * the k smallest), the same per-day-partials-then-merge deployment as
    * `stats_hll_merge`. Groups with < k distinct values are exact by
    * construction.
    *
    * Envelope σ math: the KMV estimator's relative standard error is
    * ≈ 1/√(k−2) — 8.9 % at k=128 — so the 50 % `in_envelope` band is a
    * ~5.6σ bound (k=64 would make it 3.9σ, inside the 1-in-10⁴
    * regeneration-flip zone the stats_approx_distinct incident banned).
    * The boolean is MIRRORED by the oracle (same integer estimator both
    * sides), so the gate compares, never asserts — the σ floor is about
    * the audit's semantic honesty, not gate stability.
    */
  private def statsKmvDistinct(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val K = 128
    val d = Tables.load(s, dir, "events")
      .select(col("event_type"), col("user_id")).distinct()
    val hashed = d.withColumn("h",
      conv(substring(md5(col("user_id").cast("string")), 1, 13), 16, 10).cast("long"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
    val sketch = hashed
      .withColumn("rn", row_number().over(w)).where(col("rn") <= K)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_kept"), max(col("h")).as("h_k"))
    val exact = d.groupBy(col("event_type")).agg(count(lit(1)).as("n_exact"))
    sketch.join(exact, "event_type")
      .withColumn("n_est", expr(
        s"CASE WHEN n_kept < $K THEN n_kept ELSE (${K - 1} * 4503599627370496) div h_k END"))
      .select(col("event_type"), col("n_exact"), col("n_kept"), col("h_k"),
        col("n_est"),
        (abs(col("n_est") - col("n_exact")) * 2 <= col("n_exact")).as("in_envelope"))
      .orderBy(col("event_type"))
  }

  /** Count-min heavy-hitter audit — the fifth sketch-audit leg (HLL
    * distinct, GK quantiles, approx-top-k frequent items, KMV distinct,
    * now CMS frequency): the custom [[graft.functions.CountMinAgg]]
    * builds one d=5 × w=4096 grid over the whole fact (constant 160 KB
    * state per partition regardless of key cardinality — the property
    * that matters at 100 TB, where the exact rollup's shuffle is
    * |distinct keys|), and the exact top-10 keys probe it with
    * [[graft.functions.CmsLookup]]. The audit pins BOTH CMS guarantees:
    * `est_ge_exact` (one-sided error — structurally always true) and
    * `in_envelope` (excess ≤ 32·N/w). The oracle ASSERTS the envelope
    * true, so its failure probability must clear the ≥5σ floor the
    * stats_approx_distinct incident set, DISTRIBUTION-FREE (the audit is
    * a guarantee about CMS, not about this fixture's key histogram): per
    * row, Markov gives P[excess ≥ c·N/w] ≤ 1/c, and the estimate is the
    * min over d independent rows, so P[fail] ≤ c⁻ᵈ = 32⁻⁵ ≈ 3·10⁻⁸ per
    * key — ≈ 3·10⁻⁷ union-bounded over the 10 audited keys, a ~5σ bound
    * with no Gaussian assumption. (The previous c=4 envelope was tighter
    * but only 4⁻⁵ ≈ 10⁻³ per key distribution-free — a regeneration
    * coin-flip over enough rounds.) c=32, w=4096 still certifies excess
    * ≤ 0.8 % of total stream mass — a meaningful heavy-hitter bound.
    */
  private def statsCountmin(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val D = 5; val W = 4096
    val ev = Tables.load(s, dir, "events")
      .select(col("user_id"), xxhash64(col("user_id")).as("k"))
    val sketch = ev.agg(expr(s"graft_cms_sketch(k, $D, $W)").as("cms"),
      count(lit(1)).as("n_total"))
    val exact = ev.groupBy(col("user_id"), col("k"))
      .agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("user_id")).limit(10)
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("n_exact").desc, col("user_id"))))
    exact.crossJoin(broadcast(sketch)) // 1-row sketch: audit input, not a join fanout
      .withColumn("n_est", expr(s"graft_cms_lookup(cms, k, $D, $W)"))
      .select(col("rnk"), col("user_id"), col("n_exact"),
        (col("n_est") >= col("n_exact")).as("est_ge_exact"),
        ((col("n_est") - col("n_exact")) * W <= col("n_total") * 32).as("in_envelope"))
      .orderBy(col("rnk"))
  }

  /** KMV SET ALGEBRA — the property that makes k-minimum-values the
    * sketch for audience overlap: two sketches UNION by keeping the k
    * smallest of both min-sets (a pure set operation — still exact
    * integer), and INTERSECTION follows from ρ = how many of the union's
    * k mins sit in BOTH sides' sketches: n̂∩ = ρ·n̂∪ div k (exact ρ when
    * the union has < k elements). Viewers ∩ purchasers here; every
    * number — exact sides AND estimates — is deterministic integer math,
    * so unlike every envelope-boolean audit the WHOLE row hash-matches
    * the oracle. Scale shape: per-side k-mins via orderBy(h).limit(k) —
    * TakeOrderedAndProject, a map-side top-k then one k-row merge, never
    * a global window; everything after runs on ≤ 3k rows.
    */
  private[graft] def statsKmvSetopsStaged(s: SparkSession, dir: String): QueryHygiene.Staged = {
    val K = 64
    val ev = Tables.load(s, dir, "events")
    def side(t: String): DataFrame = ev.where(col("event_type") === t)
      .select(col("user_id")).distinct()
      .withColumn("h",
        conv(substring(md5(col("user_id").cast("string")), 1, 13), 16, 10)
          .cast("long"))
    val a = side("view").cache(); val b = side("purchase").cache()
    val aMins = a.select(col("h")).orderBy(col("h")).limit(K)
    val bMins = b.select(col("h")).orderBy(col("h")).limit(K)
    val uMins = aMins.unionByName(bMins).distinct().orderBy(col("h")).limit(K)
    val rho = uMins.join(aMins, Seq("h"), "leftsemi")
      .join(bMins, Seq("h"), "leftsemi")
      .agg(count(lit(1)).as("rho"))
    val uStats = uMins.agg(count(lit(1)).as("n_kept"), max(col("h")).as("h_k"))
    val exact = a.select(col("user_id")).intersect(b.select(col("user_id")))
      .agg(count(lit(1)).as("n_exact_inter"))
      .crossJoin(a.agg(count(lit(1)).as("n_a")))
      .crossJoin(b.agg(count(lit(1)).as("n_b")))
    val out = exact.crossJoin(uStats).crossJoin(rho) // all 1-row audit inputs
      .withColumn("n_exact_union",
        col("n_a") + col("n_b") - col("n_exact_inter"))
      .withColumn("n_est_union", expr(
        s"CASE WHEN n_kept < $K THEN n_kept ELSE (${K - 1} * 4503599627370496) div h_k END"))
      .withColumn("n_est_inter", expr(
        s"CASE WHEN n_kept < $K THEN rho ELSE (rho * n_est_union) div $K END"))
      .select(col("n_a"), col("n_b"), col("n_exact_union"), col("n_exact_inter"),
        col("n_kept"), col("h_k"), col("rho"), col("n_est_union"), col("n_est_inter"))
    QueryHygiene.Staged(out, a, b)
  }

  /** Dense global ID assignment — the two-pass partition-offset pattern
    * (`zipWithIndex`): range-partition on the sort key so partitions are
    * globally ordered, sort within each, then one extra COUNT job
    * computes per-partition offsets and every row gets
    * `offset + local index` map-side. This is THE scalable replacement
    * for `row_number() OVER (ORDER BY …)`, whose empty-frame window
    * funnels all 100 TB through a single partition; cost is one count
    * pass, not a serialization point. The one justified RDD drop-down in
    * the codebase: per-partition imperative indexing is exactly what the
    * DataFrame API cannot express (`monotonically_increasing_id` is
    * intentionally NOT dense).
    */
  private def o6DenseIds(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
      .repartitionByRange(8, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
    val indexed = docs.rdd.zipWithIndex.map { case (r, i) =>
      Row(r.getLong(0), r.getLong(1), i)
    }
    s.createDataFrame(indexed, StructType(Seq(
      StructField("doc_id", LongType), StructField("n_chars", LongType),
      StructField("dense_id", LongType))))
      .orderBy(col("dense_id"))
  }

  override val pipelines: Map[String, (SparkSession, String) => QueryHygiene.Staged] =
    Map("stats_kmv_setops" -> (statsKmvSetopsStaged _))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](
    "o6_dense_ids" -> (o6DenseIds _),
    "stats_countmin" -> (statsCountmin _),
    "stats_kmv_distinct" -> (statsKmvDistinct _),
    "p1_star_projection" -> (p1 _),
    "f2_conjunctive_equality" -> (f2 _),
    "c2_bytes_to_string" -> (c2 _),
    "c11_uuid_format" -> (c11 _),
    "s5_catalog_listings" -> (s5 _),
    "s6_existence_probes" -> (s6 _),
    "src_json_roundtrip" -> (srcJsonRoundtrip _),
    "src_csv_roundtrip" -> (srcCsvRoundtrip _),
    "src_dsv2_landing" -> (srcDsv2Landing _),
    "src_dsv2_runtime_prune" -> (srcDsv2RuntimePrune _),
    "src_dsv2_count_pushdown" -> (srcDsv2CountPushdown _),
    "src_dsv2_minmax_meta" -> (srcDsv2MinmaxMeta _),
    "src_dsv2_sum_pushdown" -> (srcDsv2SumPushdown _),
    "src_dsv2_topn_meta" -> (srcDsv2TopnMeta _),
    "src_dsv2_spj_agg" -> (srcDsv2SpjAgg _),
    "src_dsv2_spj_join" -> (srcDsv2SpjJoin _),
    "src_dsv2_file_provenance" -> (srcDsv2FileProvenance _),
    "sql_api_delete_day" -> (sqlApiDeleteDay _),
    "snk_dsv2_landing" -> (snkDsv2Landing _),
    "snk_dsv2_overwrite" -> (snkDsv2Overwrite _),
    "snk_dsv2_stream" -> (snkDsv2Stream _),
    "sql_api_catalog_tsv" -> (sqlApiCatalogTsv _),
    "src_orc_roundtrip" -> (srcOrcRoundtrip _),
    "src_jdbc_roundtrip" -> (srcJdbcRoundtrip _),
    "src_schema_evolution" -> (srcSchemaEvolution _),
    "stats_approx_distinct" -> (statsApproxDistinct _),
    "stats_hll_merge" -> (statsHllMerge _),
    "stats_approx_quantile" -> (statsApproxQuantile _),
    "stats_approx_topk" -> (statsApproxTopk _),
    // SQL API surface: ONE identical ANSI string runs on Spark (via
    // GraftSession temp views) and on the DuckDB oracle — the reference
    // user's ship-SQL-text habit, preserved verbatim.
    "sql_api_pricing_summary" -> ((s, dir) => graft.GraftSession.init(s, dir)
      .sql(RelationalOps.oracleSql("q1_pricing_summary"))),
    "q4_exists_subquery" -> ((s, dir) => graft.GraftSession.init(s, dir)
      .sql(Q4ExistsSql)),
    "q17_scalar_subquery" -> ((s, dir) => graft.GraftSession.init(s, dir)
      .sql(Q17ScalarSql)),
    "q21_not_exists" -> ((s, dir) => graft.GraftSession.init(s, dir)
      .sql(Q21NotExistsSql)),
    "q13_order_count_hist" -> ((s, dir) => graft.GraftSession.init(s, dir)
      .sql(Q13HistSql)),
    "q16_notin_nullaware" -> ((s, dir) => graft.GraftSession.init(s, dir)
      .sql(Q16NotInSql)),
    "q23_lateral_topk" -> ((s, dir) => graft.GraftSession.init(s, dir)
      .sql(Q23LateralSql)),
    "o5_keyset_page" -> ((s, dir) => graft.GraftSession.init(s, dir)
      .sql(O5KeysetPageSql)),
    "c15_try_cast" -> ((s, dir) => graft.GraftSession.init(s, dir)
      .sql(C15TryCastSql))
  ) ++ QueryHygiene.served(pipelines)

  val oracleSql: Map[String, String] = Map(
    "stats_kmv_distinct" ->
      """WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
        |h AS (SELECT event_type,
        |        CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13) AS BIGINT) AS h
        |      FROM d),
        |r AS (SELECT event_type, h,
        |        row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        |      FROM h),
        |k AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept,
        |        CAST(max(h) AS BIGINT) AS h_k
        |      FROM r WHERE rn <= 128 GROUP BY 1),
        |e AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact FROM d GROUP BY 1),
        |j AS (SELECT k.event_type, n_exact, n_kept, h_k,
        |        CAST(CASE WHEN n_kept < 128 THEN n_kept
        |             ELSE (127 * 4503599627370496) // h_k END AS BIGINT) AS n_est
        |      FROM k JOIN e ON k.event_type = e.event_type)
        |SELECT event_type, n_exact, n_kept, h_k, n_est,
        |  abs(n_est - n_exact) * 2 <= n_exact AS in_envelope
        |FROM j ORDER BY event_type""".stripMargin,
    "p1_star_projection" ->
      s"""SELECT event_id, strftime(ts, '$DuckTsFmt') AS ts_iso, user_id, event_type, value, props
         |FROM events ORDER BY event_id""".stripMargin,
    "f2_conjunctive_equality" ->
      s"""SELECT event_id, strftime(ts, '$DuckTsFmt') AS ts_iso FROM events
         |WHERE user_id = 7 AND event_type = 'purchase' ORDER BY event_id""".stripMargin,
    "c2_bytes_to_string" ->
      "SELECT event_id, props AS decoded FROM events ORDER BY event_id",
    "c11_uuid_format" ->
      """SELECT doc_id,
        |  substr(md5(text), 1, 8) || '-' || substr(md5(text), 9, 4) || '-' ||
        |  substr(md5(text), 13, 4) || '-' || substr(md5(text), 17, 4) || '-' ||
        |  substr(md5(text), 21, 12) AS uuid
        |FROM documents ORDER BY doc_id""".stripMargin,
    "s5_catalog_listings" ->
      "SELECT * FROM (VALUES ('graft_cat_a'), ('graft_cat_b')) AS t(namespace) ORDER BY 1",
    "sql_api_pricing_summary" -> RelationalOps.oracleSql("q1_pricing_summary"),
    "q4_exists_subquery" -> Q4ExistsSql,
    "q17_scalar_subquery" -> Q17ScalarSql,
    "q21_not_exists" -> Q21NotExistsSql,
    "q13_order_count_hist" -> Q13HistSql,
    "q16_notin_nullaware" -> Q16NotInSql,
    "q23_lateral_topk" -> Q23LateralSql,
    "o5_keyset_page" -> O5KeysetPageSql,
    "c15_try_cast" -> C15TryCastSql,
    "src_json_roundtrip" ->
      s"""SELECT event_id, strftime(ts, '$DuckTsFmt') AS ts_iso, user_id, value, props
         |FROM events WHERE ts >= TIMESTAMP '$W0' AND ts < TIMESTAMP '$W1'
         |ORDER BY event_id""".stripMargin,
    // v1 rows (even event_id) predate the column: they count toward
    // n_rows but contribute neither to n_evolved nor to the sum
    "src_schema_evolution" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(CASE WHEN event_id % 2 <> 0 THEN 1 END) AS BIGINT) AS n_evolved,
        |  CAST(sum(CASE WHEN event_id % 2 <> 0
        |                THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT)
        |    AS value_cents_sum
        |FROM events""".stripMargin,
    "src_csv_roundtrip" ->
      s"""SELECT event_id, strftime(ts, '$DuckTsFmt') AS ts_iso, user_id, value, props
         |FROM events WHERE ts >= TIMESTAMP '$W0' AND ts < TIMESTAMP '$W1'
         |ORDER BY event_id""".stripMargin,
    "snk_dsv2_landing" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS event_date, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "snk_dsv2_overwrite" ->
      """WITH e AS (SELECT strftime(ts, '%Y-%m-%d') AS event_date,
        |  CAST(round(value * 100) AS BIGINT) AS c FROM events)
        |SELECT event_date, count(*) AS n,
        |  CAST(sum(CASE WHEN event_date = '2024-01-10' THEN c * 2 ELSE c END)
        |    AS BIGINT) AS cents
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,
    "snk_dsv2_stream" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS event_date, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events
        |WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-05'
        |  AND strftime(ts, '%Y-%m-%d') < '2024-01-20'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "src_dsv2_landing" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events
        |WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-05'
        |  AND strftime(ts, '%Y-%m-%d') < '2024-01-20'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "src_dsv2_count_pushdown" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS event_date, count(*) AS n
        |FROM events
        |WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-05'
        |  AND strftime(ts, '%Y-%m-%d') < '2024-01-20'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "src_dsv2_minmax_meta" ->
      """SELECT min(strftime(ts, '%Y-%m-%d')) AS first_date,
        |       max(strftime(ts, '%Y-%m-%d')) AS last_date
        |FROM events
        |WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-03'
        |  AND strftime(ts, '%Y-%m-%d') < '2024-01-20'""".stripMargin,
    "src_dsv2_sum_pushdown" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS event_date,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events
        |WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-05'
        |  AND strftime(ts, '%Y-%m-%d') < '2024-01-20'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "src_dsv2_topn_meta" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS event_date
        |FROM events
        |WHERE strftime(ts, '%Y-%m-%d') < '2024-01-20'
        |ORDER BY 1 DESC LIMIT 3""".stripMargin,
    "src_dsv2_spj_agg" ->
      """WITH z AS (SELECT strftime(ts, '%Y-%m-%d') AS event_date,
        |             CAST(round(value * 100) AS BIGINT) AS value_cents
        |           FROM events)
        |SELECT event_date, max(value_cents) AS max_cents,
        |       count(*) AS n_events
        |FROM z
        |WHERE event_date >= '2024-01-05' AND event_date < '2024-01-20'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "src_dsv2_spj_join" ->
      """WITH z AS (SELECT strftime(ts, '%Y-%m-%d') AS event_date,
        |             CAST(round(value * 100) AS BIGINT) AS value_cents
        |           FROM events)
        |SELECT event_date, count(*) AS n_events,
        |       CAST(sum(value_cents) AS BIGINT) AS value_cents,
        |       count(*) AS day_budget
        |FROM z
        |WHERE event_date >= '2024-01-05' AND event_date < '2024-01-20'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "src_dsv2_file_provenance" ->
      """WITH z AS (SELECT strftime(ts, '%Y-%m-%d') AS event_date,
        |             CAST(round(value * 100) AS BIGINT) AS value_cents
        |           FROM events)
        |SELECT event_date,
        |       'events_' || event_date || '.tsv' AS file_name,
        |       count(*) AS n_events,
        |       CAST(sum(value_cents) AS BIGINT) AS cents
        |FROM z
        |WHERE event_date >= '2024-01-05' AND event_date < '2024-01-20'
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "sql_api_delete_day" ->
      """WITH z AS (SELECT strftime(ts, '%Y-%m-%d') AS event_date,
        |             CAST(round(value * 100) AS BIGINT) AS value_cents
        |           FROM events)
        |SELECT event_date, count(*) AS n_events,
        |       CAST(sum(value_cents) AS BIGINT) AS cents
        |FROM z
        |WHERE event_date < '2024-01-10' OR event_date >= '2024-01-15'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "src_dsv2_runtime_prune" ->
      """WITH z AS (SELECT strftime(ts, '%Y-%m-%d') AS event_date,
        |             CAST(round(value * 100) AS BIGINT) AS value_cents
        |           FROM events),
        |d AS (SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS event_date
        |      FROM events WHERE event_id % 9973 = 0)
        |SELECT event_date, count(*) AS n, CAST(sum(value_cents) AS BIGINT) AS cents
        |FROM z JOIN d USING (event_date)
        |GROUP BY event_date ORDER BY event_date""".stripMargin,
    "sql_api_catalog_tsv" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events
        |WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-05'
        |  AND strftime(ts, '%Y-%m-%d') < '2024-01-20'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "src_jdbc_roundtrip" ->
      s"""SELECT event_id, strftime(ts, '$DuckTsFmt') AS ts_iso, user_id, value, props
         |FROM events WHERE ts >= TIMESTAMP '$W0' AND ts < TIMESTAMP '$W1'
         |ORDER BY event_id""".stripMargin,
    "src_orc_roundtrip" ->
      s"""SELECT event_id, strftime(ts, '$DuckTsFmt') AS ts_iso, user_id, value, props
         |FROM events WHERE ts >= TIMESTAMP '$W0' AND ts < TIMESTAMP '$W1'
         |ORDER BY event_id""".stripMargin,
    "o6_dense_ids" ->
      """SELECT doc_id, n_chars,
        |  CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS dense_id
        |FROM documents ORDER BY dense_id""".stripMargin,
    "stats_kmv_setops" ->
      """WITH a AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
        |b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
        |ah AS (SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13) AS BIGINT) AS h FROM a),
        |bh AS (SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13) AS BIGINT) AS h FROM b),
        |amins AS (SELECT h FROM ah ORDER BY h LIMIT 64),
        |bmins AS (SELECT h FROM bh ORDER BY h LIMIT 64),
        |umins AS (SELECT DISTINCT h FROM (SELECT h FROM amins UNION ALL SELECT h FROM bmins)
        |          ORDER BY h LIMIT 64),
        |ustats AS (SELECT CAST(count(*) AS BIGINT) AS n_kept, max(h) AS h_k FROM umins),
        |rho_t AS (SELECT CAST(count(*) AS BIGINT) AS rho FROM umins u
        |          WHERE EXISTS (SELECT 1 FROM amins x WHERE x.h = u.h)
        |            AND EXISTS (SELECT 1 FROM bmins y WHERE y.h = u.h)),
        |ex AS (SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_a,
        |  (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_b,
        |  (SELECT CAST(count(*) AS BIGINT) FROM a WHERE user_id IN (SELECT user_id FROM b))
        |    AS n_exact_inter)
        |SELECT n_a, n_b, n_a + n_b - n_exact_inter AS n_exact_union, n_exact_inter,
        |  n_kept, h_k, rho,
        |  CASE WHEN n_kept < 64 THEN n_kept
        |       ELSE 63 * 4503599627370496 // h_k END AS n_est_union,
        |  CASE WHEN n_kept < 64 THEN rho
        |       ELSE (rho * (CASE WHEN n_kept < 64 THEN n_kept
        |                         ELSE 63 * 4503599627370496 // h_k END)) // 64 END
        |    AS n_est_inter
        |FROM ex, ustats, rho_t""".stripMargin,
    "stats_countmin" ->
      """WITH k AS (SELECT user_id, count(*) AS n_exact FROM events GROUP BY 1)
        |SELECT CAST(row_number() OVER (ORDER BY n_exact DESC, user_id) AS INTEGER) AS rnk,
        |  user_id, n_exact,
        |  CAST(true AS BOOLEAN) AS est_ge_exact,
        |  CAST(true AS BOOLEAN) AS in_envelope
        |FROM k QUALIFY rnk <= 10 ORDER BY rnk""".stripMargin,
    "stats_approx_topk" ->
      """WITH k AS (SELECT user_id, count(*) AS n_exact FROM events GROUP BY 1)
        |SELECT CAST(row_number() OVER (ORDER BY n_exact DESC, user_id) AS INTEGER) AS rnk,
        |  user_id, n_exact,
        |  CAST(true AS BOOLEAN) AS in_sketch,
        |  CAST(true AS BOOLEAN) AS count_matches
        |FROM k QUALIFY rnk <= 10 ORDER BY rnk""".stripMargin,
    "stats_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_exact,
        |  CAST(true AS BOOLEAN) AS within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "stats_hll_merge" ->
      """SELECT count(DISTINCT strftime(ts, '%Y-%m-%d')) AS n_days,
        |  count(*) AS n_rows,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
        |  CAST(true AS BOOLEAN) AS within_2pct
        |FROM events""".stripMargin,
    "stats_approx_quantile" ->
      """WITH r AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events)
        |SELECT event_type,
        |  max(CASE WHEN rn <= CAST(ceil(n * 0.5) AS BIGINT) THEN value END) AS p50_exact,
        |  max(CASE WHEN rn <= CAST(ceil(n * 0.9) AS BIGINT) THEN value END) AS p90_exact,
        |  CAST(true AS BOOLEAN) AS p50_in_envelope,
        |  CAST(true AS BOOLEAN) AS p90_in_envelope
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,
    "s6_existence_probes" ->
      """SELECT * FROM (VALUES
        |  ('ns_after_create', true),
        |  ('ns_after_drop_cascade', false),
        |  ('ns_before_create', false),
        |  ('table_after_create', true),
        |  ('table_before_create', false)
        |) AS t(probe, "exists") ORDER BY probe""".stripMargin
  )
}
