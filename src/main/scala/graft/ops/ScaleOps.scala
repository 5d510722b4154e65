package graft.ops

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.etl.Destination

/** Scale utilities that don't map to a single reference operator but are
  * load-bearing at 100 TB: skew-safe joins via salting and bucketed-table
  * helpers for shuffle-free repeated joins (see BucketedJoinSpec for the
  * co-located-join evidence). The registered queries promote the
  * techniques to first-class oracled operators, among them
  * `j4_salted_skew_join` (salting must be result-invariant) and the
  * destination maintenance and WAP queries over [[graft.etl.Destination]]
  * (`etl_compact_dest`: compaction must be row-multiset-invariant).
  */
object ScaleOps extends QueryFamily {

  /** Equi-join that survives heavy key skew: the left (large, skewed) side
    * gets a uniform salt derived from a per-row fingerprint; the right
    * (dimension) side is replicated once per salt value. The join key
    * becomes (key, salt), so a hot key's rows spread over `saltFactor`
    * reducers instead of melting one. Result multiset is identical to the
    * unsalted join (inner/left semantics preserved for equi-keys).
    *
    * AQE's skew-join handles sort-merge skew adaptively; explicit salting
    * remains the tool when the skew is extreme or the join is
    * broadcast-ineligible — and it composes with AQE.
    */
  def saltedJoin(
      left: DataFrame,
      leftKey: Column,
      right: DataFrame,
      rightKey: Column,
      saltFactor: Int,
      joinType: String = "inner"): DataFrame = {
    // right/full-outer would emit one row per salt replica for unmatched
    // right rows — multiset-wrong. Salting only composes with join types
    // that never preserve unmatched RIGHT rows.
    val normalized = joinType.toLowerCase.replace("_", "")
    require(Set("inner", "left", "leftouter", "leftsemi", "leftanti").contains(normalized),
      s"saltedJoin does not support joinType=$joinType (unmatched right rows would replicate)")
    val salted = left.withColumn("__salt",
      pmod(xxhash64(struct(left.columns.map(col): _*)), lit(saltFactor)))
    val replicated = right.withColumn("__salt",
      explode(array((0 until saltFactor).map(i => lit(i.toLong)): _*)))
    salted.join(replicated,
      leftKey === rightKey && salted("__salt") === replicated("__salt"), joinType)
      .drop("__salt")
  }

  /** Persist `df` as a hash-bucketed, per-bucket-sorted parquet table:
    * repeated equi-joins or aggregations on `key` then read the buckets
    * co-located and skip their Exchange entirely (asserted in
    * BucketedJoinSpec) — the amortize-one-shuffle-across-many-reads tool
    * for hub tables (config dims, signature indexes, entity maps) that a
    * 100 TB pipeline joins against daily.
    *
    * Bucketing metadata lives in the session catalog (`saveAsTable`), so
    * both bucketed writers and readers must share a catalog/metastore;
    * `spark.sql.sources.bucketing.enabled` (default true) governs whether
    * reads exploit it.
    *
    * The input is repartitioned BY THE BUCKET KEY into a MULTIPLE of the
    * bucket count first (round 18, guide §6/§2): pmod(h, k·n) mod n ==
    * pmod(h, n), and repartition's hash is the bucket-id hash, so every
    * write task still holds rows of exactly ONE bucket — k files per
    * bucket, never the M-scan-tasks × N-buckets spray an unaligned
    * bucketed write produces. k is sized by DATA, not cores (§6's
    * file-size rule): ceil(estimated bytes / (nBuckets · 256 MB)), so a
    * small table writes one ~whole-bucket file per bucket (k=1 measured
    * the best local shape: −47% vs unaligned in 5/6 paired cycles, and
    * −23% vs k=cpus/n in 7/8, OPTIMIZATION_r18.md §8/§10 — per-file
    * overhead dominates at bench SF) while a 100 TB table gets
    * bytes/256 MB write tasks: full cluster parallelism AND §6-sized
    * files, where a core-count k would missize files and a fixed k=1
    * would cap the write at nBuckets sorters.
    */
  def writeBucketed(df: DataFrame, table: String, key: String, nBuckets: Int,
                    targetFileBytes: Long = 256L * 1024 * 1024): Unit = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val denom = BigInt(nBuckets) * targetFileBytes
    // cap k: a pathological size estimate must not explode the shuffle
    // into millions of partitions (user repartition counts bypass AQE)
    val k = ((est + denom - 1) / denom).max(1).min(4096).toInt
    df.repartition(k * nBuckets, col(key))
      .write
      .bucketBy(nBuckets, key)
      .sortBy(key)
      .format("parquet")
      .mode(SaveMode.Overwrite)
      .saveAsTable(table)
  }

  /** Shuffle-free equi-join of two tables previously written by
    * [[writeBucketed]] with the SAME bucket count on the join key.
    */
  def bucketedJoin(spark: SparkSession, leftTable: String, rightTable: String,
                   key: String, joinType: String = "inner"): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), Seq(key), joinType)

  /** Bucketed hub-table join as a REGISTERED query (BucketedJoinSpec pins
    * the plan shape; this makes the operator part of the graded surface):
    * orders and lineitem both bucket-sorted on the order key, joined
    * shuffle-free, rolled up mod-10. The one-shuffle-amortized-forever
    * property: the bucketing write pays the only shuffle these tables
    * will ever need for key-joins, which is what you do to the hub
    * tables a 100 TB estate joins daily. (The rollup itself re-keys to
    * o_orderkey % 10, so IT shuffles — 10 groups of partial aggregates,
    * not the join.)
    */
  private def j12BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("o_cents"))
    val items = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
    writeBucketed(orders, "j12_orders", "o_orderkey", 8)
    writeBucketed(items, "j12_lineitem", "o_orderkey", 8)
    try {
      bucketedJoin(s, "j12_orders", "j12_lineitem", "o_orderkey")
        .groupBy((col("o_orderkey") % 10).as("key_mod10"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          sum(col("o_cents")).as("sum_cents"))
        .orderBy(col("key_mod10"))
        // materialize BEFORE dropping the tables the plan reads
        .localCheckpoint(true)
    } finally {
      s.sql("DROP TABLE IF EXISTS j12_orders")
      s.sql("DROP TABLE IF EXISTS j12_lineitem")
    }
  }

  /** J4 (extension): supplier-revenue rollup where the fact→dim join runs
    * SALTED — the exact plan a 100 TB pipeline needs when one join key is a
    * hot head (a mega-supplier, a boilerplate document hash) and the join
    * is broadcast-ineligible. The `merge` hint forces the sort-merge path
    * (locally the dim would broadcast and hide the mechanism; at scale both
    * sides are large), so the shuffle really runs on (key, salt) and a hot
    * key's rows spread over `SaltFactor` reducers. The oracle is the PLAIN
    * join — salting is correct only if it is result-invariant, which is
    * precisely what the hash check asserts. Money stays integer cents per
    * the repo convention (order-independent exact sums).
    */
  private[graft] val SaltFactor = 16

  private def j4SaltedSkewJoin(s: SparkSession, dir: String): DataFrame = {
    val fact = Tables.load(s, dir, "lineitem").select(
      col("l_suppkey"),
      round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
        .cast("long").as("rev_cents"))
    val dim = Tables.load(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey")).hint("merge")
    saltedJoin(fact, col("l_suppkey"), dim, col("s_suppkey"), SaltFactor)
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_items"), sum(col("rev_cents")).as("revenue_cents"))
      .orderBy(col("s_nationkey"))
  }

  /** Small-file compaction as a first-class oracled operator: build a
    * deliberately fragmented date-partitioned destination (two appends × 4
    * tasks — the debris pattern every incremental pipeline accumulates),
    * compact it with [[graft.etl.Destination.compactDatePartitions]], and
    * report the per-date row counts and value mass read back FROM THE
    * COMPACTED FILES. The oracle
    * recomputes the same rollup from the source table, so the hash check
    * proves compaction lost/duplicated nothing; ScaleOpsSpec separately
    * asserts the file count actually shrinks.
    */
  private def etlCompactDest(s: SparkSession, dir: String): DataFrame = {
    // compaction is periodic maintenance over RECENT partitions (see
    // Destination.compactDatePartitions' doc) — the demo window is the last
    // 10 fixture days, exactly the date-pruned slice a nightly job would
    // rewrite
    val ev = Tables.load(s, dir, "events")
      .where(date_format(col("ts"), "yyyy-MM-dd") >= "2024-01-21")
      .select(
        col("event_id"), col("user_id"),
        round(col("value") * 100).cast("long").as("value_cents"),
        date_format(col("ts"), "yyyy-MM-dd").as(Destination.PartitionCol))
    val dest = graft.util.TempDirs.create("graft_compactq_")
    // the small-file fixture in ONE write job (round 18): the union of the
    // two independently-repartitioned halves keeps the 8-files-per-day
    // damaged layout of the two sequential incremental appends, one
    // scan/commit round cheaper (−14% mins, 5/6 paired cycles,
    // OPTIMIZATION_r18.md §9)
    Destination.append(ev.where(col("event_id") % 2 === 0).repartition(4)
      .unionByName(ev.where(col("event_id") % 2 =!= 0).repartition(4)), dest)
    Destination.compactDatePartitions(s, dest)
    dayRollup(Destination.scan(s, dest))
  }

  /** The destination queries' fixture: each event's id, the `keep`
    * columns, its value in integer cents and its day as the partition
    * column.
    */
  private def dayCents(s: SparkSession, dir: String, keep: String*): DataFrame =
    Tables.load(s, dir, "events").select((col("event_id") +: keep.map(col)) ++ Seq(
      round(col("value") * 100).cast("long").as("value_cents"),
      date_format(col("ts"), "yyyy-MM-dd").as(Destination.PartitionCol)): _*)

  /** Rows and cents per day, by day: the destination queries' read-back. */
  private def dayRollup(df: DataFrame): DataFrame =
    df.groupBy(col(Destination.PartitionCol).cast("string").as(Destination.PartitionCol))
      .agg(count(lit(1)).as("n_rows"), sum(col("value_cents")).as("value_cents"))
      .orderBy(col(Destination.PartitionCol))

  /** Dates a crashed partial re-run duplicated; present at every shipped SF
    * (events span 2024-01-01..2024-01-30 at all scale factors).
    */
  private val BackfillDates = Seq("2024-01-05", "2024-01-06")

  /** Idempotent backfill as a first-class oracled operator: a crashed
    * partial re-run APPENDS duplicate rows into two date partitions (the
    * at-least-once failure the reference's Parity mode tolerates, SURVEY
    * §2.9 W5); the repair rewrites EXACTLY the damaged window from the
    * source of truth with [[graft.etl.Destination.replacePartitions]] —
    * untouched partitions keep their files. The oracle recomputes the
    * clean per-date rollup from the source, so the hash check proves the
    * backfill restored the corpus exactly. This is the maintenance move a 100 TB date-partitioned store
    * lives by: repair windows are O(window), never O(history). Like
    * compaction, it writes untagged files, so on an Exact-mode
    * destination it runs only while every tenant's last run committed
    * ([[graft.etl.Destination.compactDatePartitions]]).
    */
  private def etlBackfillWindow(s: SparkSession, dir: String): DataFrame = {
    val ev = dayCents(s, dir, "user_id")
    val dest = graft.util.TempDirs.create("graft_backfillq_")
    // the damaged store in ONE write job (round 18): full history plus the
    // crashed partial re-run's duplicate copies of the two dates — the
    // same damaged on-disk multiset the two sequential appends laid down,
    // one scan/commit round cheaper (measured −18%, 5/6 paired cycles,
    // OPTIMIZATION_r18.md §8).
    // The repair below is unchanged: it must fix the duplicates whichever
    // files they sit in.
    val damaged = ev.where(col(Destination.PartitionCol).isin(BackfillDates: _*))
    Destination.append(ev.unionByName(damaged), dest)
    // the repair: replace exactly the damaged window
    Destination.replacePartitions(s, damaged, dest)
    dayRollup(Destination.scan(s, dest))
  }

  /** Bit-interleave of two 4-bit dimension indices (bit i of d1 → z-bit 2i,
    * bit i of d2 → z-bit 2i+1), written in plain integer arithmetic so the
    * identical formula runs on Spark (`div`) and DuckDB (`//`).
    */
  private def zInterleave(intDiv: String): String =
    (0 until 4).map { i =>
      s"((d1 $intDiv ${1 << i}) % 2) * ${1L << (2 * i)} + " +
        s"((d2 $intDiv ${1 << i}) % 2) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  /** Z-order layout audit: multi-dimensional clustering for scan locality.
    * A 100 TB table sorted by ONE column prunes files only for that
    * column's filters; interleaving the bits of two dimension indices
    * (here: a document-length bucket and a token-count bucket) gives a
    * 1-D sort key whose contiguous ranges are small RECTANGLES in dim
    * space, so min/max file skipping works for filters on EITHER
    * dimension. The query computes each doc's z-value, groups docs into
    * z-ranges ("files" of 16 consecutive z codes), and reports every
    * range's bounding box — the audit that shows each file covers a
    * narrow dim rectangle, which is precisely the property file skipping
    * exploits. Map-only until one tiny rollup.
    */
  private def layoutZorder(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        least(expr("n_chars div 128"), lit(15L)).as("d1"),
        least(expr(
          "size(filter(split(lower(text), '\\\\s+'), x -> x != '')) div 16").cast("long"),
          lit(15L)).as("d2"))
      .withColumn("z", expr(zInterleave("div")))
      .groupBy(expr("z div 16").as("file_id"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("d1")).as("d1_min"), max(col("d1")).as("d1_max"),
        min(col("d2")).as("d2_min"), max(col("d2")).as("d2_max"))
      .orderBy(col("file_id"))
  }

  /** Retention cutoff: keeps the last 20 of the 30 fixture days at every
    * SF, so the vacuum provably deletes something AND leaves something.
    */
  private val RetentionCutoff = "2024-01-11"

  /** Retention vacuum — the third maintenance move next to compaction and
    * backfill: drop every date partition older than the cutoff by DELETING
    * PARTITION DIRECTORIES (O(expired partitions) filesystem calls — never
    * a rewrite of surviving data, never a row-level scan). The read-back
    * rollup is oracled against the source filtered to the retention window,
    * so the hash check proves the vacuum dropped exactly the expired dates
    * and nothing else. At 100 TB this plus partition pruning is the entire
    * cost model of retention: expiry is metadata work.
    */
  private def etlVacuumRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = dayCents(s, dir)
    val dest = graft.util.TempDirs.create("graft_vacuumq_")
    Destination.append(ev, dest)
    // expire: directory deletes only — storage-agnostic via Hadoop FS
    Destination.dropPartitions(s, dest)(_ < RetentionCutoff)
    dayRollup(Destination.scan(s, dest))
  }

  /** Reproducibility manifest — the dataset-card fingerprint a training
    * pipeline publishes with every corpus snapshot: one row per day
    * partition with an order-independent content fingerprint. Two
    * accumulators, both insensitive to row order / partitioning / cluster
    * size: `bit_xor` over a 60-bit md5 prefix (tamper-evident, can never
    * overflow) and a checked 40-bit-per-row sum (bounded by 2^63 up to
    * ~8 M rows per partition — beyond that the xor alone carries the
    * guarantee). Every fingerprint input is integer-canonical: the
    * timestamp enters the hash as epoch MICROSECONDS (a BIGINT both
    * engines render identically — formatted fractional seconds do not
    * survive a TIMESTAMP_NS vs TIMESTAMP reader split), every nullable
    * column is coalesced on BOTH engines (never rely on concat_ws null
    * skipping — the oracle's `||` propagates NULL instead), and `value`
    * is summed as BIGINT cents, not DECIMAL (decimal width/rendering is
    * engine-specific). Map-only + per-day partial agg: at 100 TB this is
    * the cheapest full-corpus integrity check there is, and two manifests
    * diff in O(days) to localize corruption or divergence between
    * environments — the cross-environment story without a row-level
    * compare.
    */
  private def auditManifest(s: SparkSession, dir: String): DataFrame = {
    val fp = md5(concat_ws("|",
      coalesce(col("event_id").cast("string"), lit("")),
      coalesce(unix_micros(col("ts")).cast("string"), lit("")),
      coalesce(col("user_id").cast("string"), lit("")),
      coalesce(col("event_type"), lit("")),
      coalesce(col("props"), lit(""))))
    Tables.load(s, dir, "events")
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("event_id"), col("value"), fp.as("fp"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(cast(conv(substring(fp, 1, 15), 16, 10) as bigint))").as("content_xor"),
        sum(expr("cast(conv(substring(fp, 1, 10), 16, 10) as bigint)")).as("content_sum"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"),
        sum(expr("cast(round(value * 100) as bigint)")).as("value_cents"))
      .orderBy(col("day"))
  }

  /** J6 — bloom-filter semi-join reduction: the explicit form of the
    * sketch-pushdown every warehouse applies when the dimension side is
    * too big to broadcast as a hash relation but its KEY SET fits a few
    * KBs of bloom. Build the sketch over the filtered dimension
    * (distributed treeAggregate via the public `stat.bloomFilter`), ship
    * ~KBs to the driver, and fold it into the fact scan as a foldable
    * literal probe (`graft_bloom_contains`, Spark's own codegen
    * BloomFilterMightContain): the fact table is pruned map-side BEFORE
    * the join shuffle, so at 100 TB the shuffle carries ~|matching rows|
    * instead of the full fact table. False positives are removed by the
    * exact join that follows — the sketch changes the PLAN, never the
    * result, which is exactly what the oracle checks (its SQL is the
    * plain join). ScaleOpsSpec asserts the probe really prunes.
    */
  /** Build the map-side bloom probe for a semi-join reduction: distributed
    * sketch over `dim(keyCol)`, shipped to the driver, folded back in as a
    * typed binary literal (travels with the task binary — broadcast once
    * per stage, never round-tripped through SQL text). Empty dimension ⇒
    * `lit(false)` (stat.bloomFilter cannot build a zero-row sketch, and an
    * empty dim means an empty join anyway).
    */
  private def bloomProbe(dim: DataFrame, keyCol: String,
                         probeCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val nDim = dim.count()
    if (nDim == 0) lit(false)
    else {
      val bf = dim.stat.bloomFilter(keyCol, math.max(nDim, 64L), 0.01)
      val b = new java.io.ByteArrayOutputStream(); bf.writeTo(b)
      call_function("graft_bloom_contains", lit(b.toByteArray), probeCol.cast("bigint"))
    }
  }

  private def j6BloomSemijoin(s: SparkSession, dir: String): DataFrame = {
    val dim = Tables.load(s, dir, "supplier")
      .where(col("s_nationkey") === 3).select(col("s_suppkey"))
    val probe = bloomProbe(dim, "s_suppkey", col("l_suppkey"))
    val fact = Tables.load(s, dir, "lineitem").select(
      col("l_suppkey"),
      round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
        .cast("long").as("rev_cents"))
    fact
      .where(probe)
      // dim is supplier-derived (linear in SF): the bloom probe above is
      // the scale mechanism; no forced broadcast on the verifying join
      .join(dim, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_items"), sum(col("rev_cents")).as("revenue_cents"))
      .orderBy(col("l_suppkey"))
  }

  /** J6 at the size where the sketch PAYS: the dimension (urgent pre-1996
    * orders, ~3% of the orders table) is far past any broadcast threshold
    * at warehouse scale, so the verify join MUST shuffle both sides.
    * Without the sketch that shuffle carries the whole fact table; with
    * it, the bloom probe (built distributed, shipped to the driver once,
    * re-broadcast with the task binary) prunes ~97% of the fact scan
    * MAP-SIDE, so the shuffle carries ~|matching rows|. Sketch sizing is
    * the real scale limit: 1% fpp costs ~9.6 bits/key, so ~100M dimension
    * keys is ~120 MB — fine as a task-binary literal — while billions of
    * keys would be GBs; past that, raise the fpp (FPs die in the exact
    * join anyway) or fall back to partition-level pruning. A `merge` join
    * hint pins the shuffle-join shape so the measured plan IS the at-scale
    * plan (sort-merge over the pruned fact), not a small-SF broadcast
    * artifact; ScaleOpsSpec pins the ≥90% scan-row reduction and PlanSpec
    * pins the probe sitting below the fact-side Exchange.
    */
  private def j6BloomPruneShuffle(s: SparkSession, dir: String): DataFrame = {
    val dim = Tables.load(s, dir, "orders")
      .where(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderdate") < to_timestamp(lit("1996-01-01 00:00:00")))
      .select(col("o_orderkey"), col("o_orderdate"))
    val probe = bloomProbe(dim, "o_orderkey", col("l_orderkey"))
    val fact = Tables.load(s, dir, "lineitem").select(
      col("l_orderkey"),
      round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
        .cast("long").as("rev_cents"))
    // false positives die in the exact join; the sketch changes the
    // plan's traffic, never the result (oracle = the plain join)
    fact
      .where(probe)
      .join(dim.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("order_month"))
      .agg(count(lit(1)).as("n_items"), sum(col("rev_cents")).as("revenue_cents"))
      .orderBy(col("order_month"))
  }

  /** J8: DYNAMIC partition pruning — the other half of the partition-
    * pruning story. Static pruning (PlanSpec's streaming-dest pin) handles
    * predicates known at plan time; a star-join's date filter is usually
    * NOT known at plan time because it lives on the dimension side (here:
    * "busier-than-average days", a data-driven calendar that no static
    * rewrite can reach — deliberately an aggregate-derived predicate so
    * constraint propagation cannot turn it into a static filter on the
    * join key). At 100 TB the difference is reading 30 partitions vs the
    * ~half the runtime subquery selects: Spark broadcasts the filtered
    * dimension once, reuses that exchange as a `dynamicpruningexpression`
    * inside the fact scan's PartitionFilters, and the pruned-out
    * partitions' files are never opened. The fact is materialized
    * date-partitioned first (same layout as the ETL dest), the dimension
    * stays DateType end to end so no cast sits between the join key and
    * the partition column — a cast there is the classic way DPP silently
    * fails to fire. PlanSpec pins the dynamicpruningexpression in the
    * fact scan; the oracle replays the calendar + join from the source.
    */
  private def j8PartitionPruneJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events").select(
      col("event_type"),
      round(col("value") * 100).cast("long").as("value_cents"),
      to_date(col("ts")).as("export_date"))
    val dest = graft.util.TempDirs.create("graft_dppq_")
    // repartition on the partition column before the write — the same
    // no-small-file-spray rule etl_partition_evolution encodes (without
    // it every input task writes a file into every day directory)
    Destination.append(ev.repartition(col("export_date")), dest)
    val fact = Destination.scan(s, dest)
    val d = ev.groupBy(col("export_date")).agg(count(lit(1)).as("day_rows"))
    // the busier-than-average threshold is collected driver-side (ONE row
    // — control plane, like the bloom sketch): DPP's selective-predicate
    // detection wants a literal Filter node on the dimension side, and a
    // crossJoin'd threshold would dissolve into a join condition it
    // cannot see. The broadcast hint states the invariant |calendar| ≤
    // |days| — broadcastable at any corpus size — so the planner never
    // flips build sides on a small-SF size estimate.
    val t = d.agg(sum(col("day_rows")).as("total"), count(lit(1)).as("n_days"))
      .collect()(0)
    val (total, nDays) = (t.getLong(0), t.getLong(1))
    val busy = d.where(col("day_rows") * nDays > total).select(col("export_date"))
    fact.join(broadcast(busy), "export_date")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value_cents")).as("value_cents"))
      .orderBy(col("event_type"))
  }

  /** The deletion sweep as an oracled operator: build a date-partitioned
    * destination from the fixture, tombstone a deterministic user subset,
    * run [[graft.etl.Destination.deleteFromDatePartitions]], and report the
    * post-delete per-day rollup read back from the store. The oracle
    * recomputes the rollup from the source with the tombstone predicate
    * inverted, so the hash check proves the sweep deleted every targeted
    * row and nothing else.
    */
  private def etlTombstoneDelete(s: SparkSession, dir: String): DataFrame = {
    val ev = dayCents(s, dir, "user_id")
    val dest = graft.util.TempDirs.create("graft_tombq_")
    Destination.append(ev, dest)
    val tombstones = ev.where(col("user_id") % 97 === 0)
      .select(col("user_id")).distinct()
    Destination.deleteFromDatePartitions(s, dest, tombstones, "user_id")
    dayRollup(Destination.scan(s, dest))
  }

  /** Key-skew diagnostics — the report you run BEFORE choosing a join
    * strategy: per-key cardinality rollup, top-10 heaviest keys, each
    * key's load relative to a uniform spread (exact milli-ratio via
    * integer cross-multiplication — no float division to diverge between
    * engines), and the heavy-hitter flag (> 2× uniform share, the
    * threshold where AQE skew-splitting / the `j4` salting path starts to
    * pay). Shape: one partial-agg key rollup (the only fact-table
    * shuffle), a 1-row broadcast of (n_keys, total), distributed
    * TakeOrdered top-10 — the final row_number window ranks 10 rows.
    */
  private def statsKeySkew(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = Tables.load(s, dir, "events")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
    val t = k.agg(count(lit(1)).as("n_keys"), sum(col("n_events")).as("total"))
    k.crossJoin(broadcast(t))
      .orderBy(col("n_events").desc, col("user_id")).limit(10)
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("n_events").desc, col("user_id"))))
      .select(col("rnk"), col("user_id"), col("n_events"),
        expr("n_events * 1000 * n_keys div total").as("uniform_x1000"),
        (col("n_events") * col("n_keys") > col("total") * 2).as("is_heavy"))
      .orderBy(col("rnk"))
  }

  /** Distribution-drift monitor: the `value` distribution of the first
    * half of the month vs the second, bucketed into 10 fixed bands and
    * compared by exact per-mille shares — the data-quality screen a
    * production pipeline runs between corpus snapshots (the PSI report's
    * integer skeleton: per-bucket shares and their drift, without the
    * float log term, so the oracle is bit-exact). One fact scan with
    * conditional partial aggs (never two scans), a 1-row broadcast of the
    * period totals, |buckets| rows out. The drift flag (>20‰ share move)
    * is integer cross-multiplication.
    */
  private def statsBucketDrift(s: SparkSession, dir: String): DataFrame = {
    val Split = "2024-01-16"
    val ev = Tables.load(s, dir, "events").select(
      least(floor(col("value") / 50).cast("long"), lit(9L)).as("bucket"),
      (date_format(col("ts"), "yyyy-MM-dd") < Split).as("p1"))
    val buckets = ev.groupBy(col("bucket"))
      .agg(sum(when(col("p1"), 1L).otherwise(0L)).as("n1"),
        sum(when(!col("p1"), 1L).otherwise(0L)).as("n2"))
    val totals = buckets.agg(sum(col("n1")).as("t1"), sum(col("n2")).as("t2"))
    buckets.crossJoin(broadcast(totals))
      .select(col("bucket"), col("n1"), col("n2"),
        expr("n1 * 1000 div t1").as("share1_milli"),
        expr("n2 * 1000 div t2").as("share2_milli"),
        (abs(col("n1") * col("t2") - col("n2") * col("t1")) * 50
          > col("t1") * col("t2")).as("drifted"))
      .orderBy(col("bucket"))
  }

  /** Exact two-sample Kolmogorov–Smirnov distance between the two halves
    * of the month, per event type — the distribution-drift monitor that
    * catches SHAPE changes the 10-bucket PSI skeleton above smooths over
    * (a variance collapse inside one band moves no bucket share but moves
    * the ECDF gap). All integer: values are binned to cents (bounding
    * |distinct| and killing float ties), the ECDF gap is the cross-
    * multiplied |cum1·n2 − cum2·n1|, and D > 0.05 is `d_num·20 > n1·n2` —
    * so DuckDB replays every row bit-exactly. Shape: one fact shuffle to
    * the (type, cent) rollup, then cumulative + total windows SHARING the
    * event_type partitioning (one Exchange feeds both Window frames), and
    * a per-type re-aggregate of |distinct cents| rows. At 100 TB the
    * windowed relation is the rollup (≤ |types|·|cent bins|), never the
    * fact table.
    */
  private def statsKsDrift(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val Split = "2024-01-16"
    val ev = Tables.load(s, dir, "events").select(
      col("event_type"),
      round(col("value") * 100).cast("long").as("v_cents"),
      (date_format(col("ts"), "yyyy-MM-dd") < Split).as("p1"))
    val counts = ev.groupBy(col("event_type"), col("v_cents"))
      .agg(sum(when(col("p1"), 1L).otherwise(0L)).as("c1"),
        sum(when(!col("p1"), 1L).otherwise(0L)).as("c2"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("v_cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("event_type"))
    counts
      .withColumn("cum1", sum(col("c1")).over(wCum))
      .withColumn("cum2", sum(col("c2")).over(wCum))
      .withColumn("n1", sum(col("c1")).over(wAll))
      .withColumn("n2", sum(col("c2")).over(wAll))
      .groupBy(col("event_type"))
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        max(abs(col("cum1") * col("n2") - col("cum2") * col("n1"))).as("d_num"))
      .select(col("event_type"), col("n1"), col("n2"), col("d_num"),
        expr("d_num * 1000 div (n1 * n2)").as("ks_milli"),
        (col("d_num") * 20 > col("n1") * col("n2")).as("drifted"))
      .orderBy(col("event_type"))
  }

  /** Gini-impurity concentration profile per event type — "how uniform is
    * this column's value distribution" as EXACT integer micro-units:
    * G = 1 − Σp² = (n² − Σc²)/n², emitted as `(n² − Σc²)·10⁶ div n²`.
    * The entropy profile without the float log term (the same trade as
    * the PSI-skeleton drift screen): 0 = one value owns the column,
    * →10⁶ = uniform — the concentration audit run before choosing
    * dictionary encoding, before trusting a column as a partition key,
    * and as a fabricated-data smell test. Shape: one fact rollup to
    * (type, cent) counts, one |types|-row re-aggregate; n ≤ 10⁶·n² stays
    * far inside BIGINT at any shipped SF.
    */
  private def statsGiniImpurity(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .select(col("event_type"), round(col("value") * 100).cast("long").as("v_cents"))
      .groupBy(col("event_type"), col("v_cents"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("event_type"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_distinct"),
        sum(col("c") * col("c")).as("sum_c2"))
      .select(col("event_type"), col("n"), col("n_distinct"),
        expr("(n * n - sum_c2) * 1000000 div (n * n)").as("gini_micro"))
      .orderBy(col("event_type"))

  /** Lag-1 autocorrelation of the daily revenue series per event type —
    * the time-series diagnostic run before trusting a daily metric's
    * trend (high positive autocorr = momentum/weekly seasonality leaking
    * through, ~0 = white noise, negative = oscillation/overcorrection).
    * Shape: one fact rollup to (type, day, cents), a lead(1) window over
    * the |days|-sized series (the big scan happens ONCE; the window and
    * everything after run at |types·days| grain), then the Pearson
    * pieces over consecutive-day pairs as EXACT integers — n, Σx, Σy,
    * Σxy, Σx², Σy² fold into num = nΣxy − ΣxΣy and the two variance
    * terms, all BIGINT-exact at shipped SFs (daily cents ≈ 10⁸ at sf1
    * keeps nΣxy < 10²⁰? no — < 8·10¹⁷, inside BIGINT; a 100 TB
    * deployment lifts these to DECIMAL(38,0), same query shape). The
    * emitted classification (`positive`, i.e. num > 0) is pure integer;
    * `r_milli` is the one float step (⌊1000·num/√(d1·d2)⌋) and is
    * bit-stable across engines because both run the same IEEE-754
    * double pipeline on identical integer inputs.
    */
  private def statsAutocorrLag1(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.load(s, dir, "events")
      .groupBy(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("x"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val pairs = daily.withColumn("y", lead(col("x"), 1).over(w))
      .where(col("y").isNotNull)
    pairs.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("event_type"), col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("d1"),
        (col("n") * col("syy") - col("sy") * col("sy")).as("d2"))
      .select(col("event_type"), col("n"), col("num"), col("d1"), col("d2"),
        (col("num") > 0).as("positive"),
        floor(lit(1000.0) * col("num") /
          sqrt(col("d1").cast("double") * col("d2").cast("double")))
          .cast("long").as("r_milli"))
      .orderBy(col("event_type"))
  }

  /** The WAP queries' two batches, days 2024-01-01..10 and 11..20, each
    * with its row count. Both counts come from ONE conditional-aggregate
    * scan (round 18, guide §2.3): two count() passes collapse into one.
    */
  private def twoBatches(ev: DataFrame): ((DataFrame, Long), (DataFrame, Long)) = {
    val first = col("export_date") < "2024-01-11"
    val second = col("export_date") >= "2024-01-11" && col("export_date") < "2024-01-21"
    val n = ev.agg(sum(when(first, 1L).otherwise(0L)), sum(when(second, 1L).otherwise(0L)))
      .collect()(0)
    ((ev.where(first), n.getLong(0)), (ev.where(second), n.getLong(1)))
  }

  /** Run independent tasks from a pool of `threads`; results in task order. */
  private def inParallel[T](threads: Int)(tasks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(tasks.map(t => Future(t()))), Duration.Inf)
    finally pool.shutdown()
  }

  /** WAP as an oracled operator: a clean batch publishes, a torn batch
    * (a fifth of the rows never reached staging, but the claim is the
    * full extract count) is rejected by the audit, and the read-back
    * rollup proves the destination contains EXACTLY the clean batch —
    * the torn batch's days are absent from the hash-checked result.
    * ScaleOpsSpec drives the retry: the rejected batch's staged files
    * survive, and a corrected-claim republish lands them.
    */
  private def etlWap(s: SparkSession, dir: String): DataFrame = {
    // the good batch's honest count and the torn batch's full-extract
    // claim from one scan (`twoBatches`); measured −13% against two
    // count() passes (5/6 paired cycles, OPTIMIZATION_r18.md §8)
    val ((goodBatch, goodCount), (badFull, claimed)) = twoBatches(dayCents(s, dir))
    val badTorn = badFull.where(col("event_id") % 5 =!= 0)
    val root = graft.util.TempDirs.create("graft_wap_")
    val r1 = Destination.writeAuditPublish(s, s"$root/dest", s"$root/staging",
      "batch_good", goodBatch, goodCount)
    require(r1.isRight, s"good batch must publish: $r1")
    val r2 = Destination.writeAuditPublish(s, s"$root/dest", s"$root/staging",
      "batch_torn", badTorn, claimed)
    require(r2.isLeft, "torn batch must be rejected by the audit")
    dayRollup(Destination.scan(s, s"$root/dest"))
  }

  /** Branch isolation as an oracled operator: b1 publishes to main, a dev
    * branch forks from it, b2 publishes ONLY to dev. The report reads
    * three views — main before merge (must contain zero b2 rows: the
    * isolation proof), dev (b1+b2), and main after the fast-forward merge
    * (≡ dev) — each as a per-view rollup the hash check pins exactly.
    */
  private def etlBranchIsolation(s: SparkSession, dir: String): DataFrame = {
    // both expectations from one scan (`twoBatches`; −13% mins, 4/6
    // paired cycles, OPTIMIZATION_r18.md §9). The publish SEQUENCE stays
    // sequential: it is dependency-ordered (b1 → branch fork → b2 on the
    // branch).
    val ((b1, n1), (b2, n2)) = twoBatches(dayCents(s, dir))
    val root = graft.util.TempDirs.create("graft_branch_")
    val dest = s"$root/dest"
    require(Destination.writeAuditPublish(s, dest, s"$root/staging", "b1", b1, n1).isRight)
    Destination.createBranch(s, dest, "dev", Seq("b1"))
    // publish b2 to the BRANCH: stage + audit as usual, manifest to dev
    val stage2 = s"$root/staging/b2"
    b2.write.mode(SaveMode.Overwrite).parquet(stage2)
    val r2 = Destination.publishStaged(s, dest, stage2, "b2", n2, Some("dev"))
    require(r2.isRight, s"b2 must publish: $r2")
    def roll(df: DataFrame, view: String) =
      df.groupBy(col("export_date"))
        .agg(count(lit(1)).as("n_rows"), sum(col("value_cents")).as("value_cents"))
        .withColumn("view", lit(view))
    val pre = roll(Destination.readBranch(s, dest, None), "main_pre")
    val dev = roll(Destination.readBranch(s, dest, Some("dev")), "dev")
    Destination.mergeBranch(s, dest, "dev")
    val post = roll(Destination.readBranch(s, dest, None), "main_post")
    pre.unionByName(dev).unionByName(post)
      .select(col("view"), col("export_date"), col("n_rows"), col("value_cents"))
      .orderBy(col("view"), col("export_date"))
  }

  /** Orphan-file audit — the recovery scan for the one WAP failure mode
    * the commit protocol leaves behind: a crash MID-publish moves part
    * files into the destination but never writes the manifest, so the
    * rows are invisible to snapshot readers (correct) yet present in a
    * raw directory read (surprising) and occupying storage. The audit
    * diffs the two views: manifest-committed files vs the directory
    * listing (driver-side metadata, O(files)), and committed vs raw row
    * counts. The query SIMULATES the crash (stages a batch, moves its
    * file, skips the manifest) and the audit must report exactly that
    * batch as orphaned — recovery is re-staging under the same id or
    * deleting the orphans; both leave snapshot readers untouched.
    */
  private def etlOrphanAudit(s: SparkSession, dir: String): DataFrame = {
    val ((b1, n1), (b2, _)) = twoBatches(dayCents(s, dir))
    val root = graft.util.TempDirs.create("graft_orphan_")
    val dest = s"$root/dest"
    val r1 = Destination.writeAuditPublish(s, dest, s"$root/staging", "b1", b1.repartition(1), n1)
    require(r1.isRight, s"b1 must publish: $r1")
    // crash mid-publish: files move, manifest never written
    b2.repartition(1).write.mode(SaveMode.Overwrite).parquet(s"$root/staging/b2")
    Destination.publishFiles(s, s"$root/staging/b2", dest, "b2")
    val nOrphanFiles = Destination.orphanFiles(s, dest).size.toLong
    val committed = Destination.readAsOf(s, dest, Seq("b1"))
      .agg(count(lit(1)).as("committed_rows"))
    // deliberately raw: the directory read that sees the orphans
    val raw = s.read.parquet(dest).agg(count(lit(1)).as("raw_rows"))
    committed.crossJoin(raw)
      .select(col("committed_rows"), col("raw_rows"),
        (col("raw_rows") - col("committed_rows")).as("orphan_rows"),
        lit(nOrphanFiles).as("n_orphan_files"))
  }

  /** Time travel over the WAP ledger: publish two batches, read the dest
    * AS OF the first ([[graft.etl.Destination.readAsOf]] — a manifest
    * subset, no data work), and emit both snapshots' rollups side by
    * side. The hash check proves snapshot ISOLATION: the v1 rows cannot
    * contain a single row of batch 2, and v2 ≡ the full ledger — the
    * reproducibility property ("re-run last week's training mix exactly")
    * that file-listing reads cannot give once new batches land.
    */
  private def etlTimeTravel(s: SparkSession, dir: String): DataFrame = {
    // both expectations from ONE conditional-aggregate scan
    // (`twoBatches`) and the two independent publishes overlapped (round
    // 18, guide §2.3/§2.6 — same shape as etl_manifest_compact; measured
    // −39%, 6/6 paired cycles, OPTIMIZATION_r18.md §9)
    val ((b1, n1), (b2, n2)) = twoBatches(dayCents(s, dir))
    val root = graft.util.TempDirs.create("graft_tt_")
    val rs = inParallel(2)(Seq(("b1", b1, n1), ("b2", b2, n2)).map { case (id, b, n) =>
      () => Destination.writeAuditPublish(s, s"$root/dest", s"$root/staging", id, b, n)
    })
    require(rs.forall(_.isRight), s"publishes must succeed: $rs")
    def roll(df: DataFrame, snap: String) =
      df.groupBy(col("export_date"))
        .agg(count(lit(1)).as("n_rows"), sum(col("value_cents")).as("value_cents"))
        .withColumn("snap", lit(snap))
    roll(Destination.readAsOf(s, s"$root/dest", Seq("b1")), "v1")
      .unionByName(roll(Destination.scan(s, s"$root/dest"), "v2"))
      .select(col("snap"), col("export_date"), col("n_rows"), col("value_cents"))
      .orderBy(col("snap"), col("export_date"))
  }

  /** Ledger compaction as an oracled operator: five daily publishes, a
    * mid-compaction read (originals + consolidated BOTH listed — the
    * dedup guarantee), then compaction; the read-back rollup must equal
    * the full source before AND after, and the ledger must shrink 5 → 1
    * (asserted in ScaleOpsSpec).
    */
  private def etlManifestCompact(s: SparkSession, dir: String): DataFrame = {
    val ev = dayCents(s, dir)
    val root = graft.util.TempDirs.create("graft_mcompact_")
    val days = Seq("2024-01-07", "2024-01-13", "2024-01-19", "2024-01-25", "9999-12-31")
    val bounds = ("0000-01-01" +: days).zip(days) // (lo, hi) half-open ranges
    // ONE aggregate scan computes every batch's independent expectation
    // (round 18, guide §2.3): the ranges are contiguous half-open, so
    // "first upper bound the date sits under" buckets rows exactly as the
    // per-batch filters do — five count() passes collapse into one scan.
    // The expectation stays source-derived, never the writer's belief.
    val bucket = days.tail.foldLeft(when(col("export_date") < days.head, days.head)) {
      (acc, hi) => acc.when(col("export_date") < hi, hi)
    }
    val counts = ev.groupBy(bucket.as("hi")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the five publishes are INDEPENDENT (distinct batch ids, distinct
    // staging dirs, create-if-absent manifests; ledger state, compaction
    // id and read-back are completion-order-invariant by construction) —
    // overlap them from a small pool so a publish's write tail backfills
    // the next publish's stage (guide §2.6). Measured −56% with the
    // one-pass expectations (6/6 paired cycles, OPTIMIZATION_r18.md §8).
    inParallel(3)(bounds.map { case (lo, hi) => () =>
      val b = ev.where(col("export_date") >= lo && col("export_date") < hi)
      lo -> Destination.writeAuditPublish(s, s"$root/dest", s"$root/staging",
        s"day_$lo", b, counts.getOrElse(hi, 0L))
    }).foreach { case (lo, r) => require(r.isRight, s"publish $lo must succeed: $r") }
    val (before, after) = Destination.compactManifests(s, s"$root/dest")
    require(before == 5 && after == 1, s"ledger must compact 5 -> 1, got $before -> $after")
    dayRollup(Destination.readBranch(s, s"$root/dest", None))
  }

  /** Partition-layout evolution: a destination born day-partitioned is
    * migrated to week partitions — the re-layout every aging warehouse
    * eventually runs when daily partitions turn into a listing problem
    * (10 years × 365 dirs) while queries have gone coarse. Two scale
    * rules encoded: (1) the data is rewritten exactly ONCE, no
    * row-level work; (2) the migration `repartition`s ON the new
    * partition column before writing — without that, every reduce task
    * writes a file into every partition directory and the M-tasks ×
    * N-partitions small-file explosion recreates the problem the
    * migration was meant to fix. The read-back audit proves multiset
    * invariance (per-week rollup ≡ source) and pins exactly ONE file per
    * week partition — the n_files column is the explosion detector.
    */
  private def etlPartitionEvolution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events").select(
      col("event_id"), col("ts"),
      round(col("value") * 100).cast("long").as("value_cents"),
      date_format(col("ts"), "yyyy-MM-dd").as("export_date"))
    val daily = graft.util.TempDirs.create("graft_evo_daily_")
    // single-task fixture write, DELIBERATE (round 18, OPTIMIZATION_r18.md
    // §11): a repartition(export_date) that parallelizes the 30-dir write
    // into one task per day measured as a wash-to-loss at bench SF (v1 faster in
    // 3/6 paired cycles, better min 1.218 vs 1.298 — the shuffle + 30 task
    // rounds cost more than one task writing 30 kilobyte files, the same
    // trade OPTIMIZATION_r18.md §10 measured for the bucket write's k
    // factor). On a
    // multi-split source the migration's own repartition rule would apply
    // here too; the fixture scan is one split by construction.
    Destination.append(ev, daily)
    val weekly = graft.util.TempDirs.create("graft_evo_weekly_")
    Destination.read(s, daily)
      .withColumn("export_week",
        date_format(date_trunc("week", col("ts")), "yyyy-MM-dd"))
      .repartition(col("export_week"))
      .write.mode(SaveMode.Overwrite).partitionBy("export_week").parquet(weekly)
    s.read.parquet(weekly)
      .withColumn("__file", input_file_name())
      .groupBy(col("export_week").cast("string").as("export_week"))
      .agg(count(lit(1)).as("n_rows"), sum(col("value_cents")).as("value_cents"),
        countDistinct(col("__file")).cast("int").as("n_files"))
      .orderBy(col("export_week"))
  }

  /** Declarative data-quality rules (the expectations-framework shape):
    * five rules evaluated in ONE fact scan plus one broadcast anti-join —
    * never a scan per rule, which is how naive DQ tooling turns a nightly
    * audit into five full passes over 100 TB. Scan rules (null/empty
    * props, value range, event-time window, event_id uniqueness) are
    * conditional aggregates sharing the pass; referential integrity
    * (every user_id resolves to a customer) is a broadcast left-anti
    * count. The report is one row per rule with exact violation counts —
    * the range rule fires non-vacuously on the fixture (a genuine
    * out-of-range row exists), so the FAIL path is hash-checked too.
    */
  private def statsDqRules(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val cust = Tables.load(s, dir, "customer").select(col("c_custkey"))
    val scan = ev.agg(
      count(lit(1)).as("n"),
      sum(when(col("props").isNull || col("props") === "", 1L).otherwise(0L))
        .as("v_null"),
      sum(when(col("value") < 0 || col("value") >= 450, 1L).otherwise(0L))
        .as("v_range"),
      sum(when(col("ts") < to_timestamp(lit("2024-01-01 00:00:00")) ||
        col("ts") >= to_timestamp(lit("2024-02-01 00:00:00")), 1L).otherwise(0L))
        .as("v_window"),
      (count(lit(1)) - countDistinct(col("event_id"))).as("v_dup"))
    val orphan = ev.select(col("user_id"))
      // customer is linear in SF: referential-integrity anti-joins shuffle
      // at scale; no forced broadcast (the planner still picks one while
      // the key column fits)
      .join(cust, col("user_id") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("v_orphan"))
    scan.crossJoin(orphan)
      .select(col("n").as("n_checked"),
        expr("stack(5, 'not_null_props', v_null, 'value_range', v_range, " +
          "'ts_in_window', v_window, 'unique_event_id', v_dup, " +
          "'ref_user_exists', v_orphan) AS (rule, n_violations)"))
      .select(col("rule"), col("n_checked"), col("n_violations"),
        (col("n_violations") === 0).as("passed"))
      .orderBy(col("rule"))
  }

  /** Robust-statistics outlier screen: per-type median + MAD (median
    * absolute deviation) with the |v − med| > 3·MAD flag — the screen that
    * survives the heavy-tailed junk that makes mean/stddev useless on web
    * corpora. Both medians are RANK-PICKED (the (n+1) div 2-th order
    * statistic), never interpolated: the reported med/mad are actual data
    * values, so the doubles are bit-identical across engines and the hash
    * check holds — the same no-interpolation contract as
    * `stats_approx_quantile`'s exact side. Cost shape: two windowed
    * sorts sharing one event_type partitioning plus a broadcast of the
    * |types|-row medians; for a single giant group at corpus scale the
    * per-group sort becomes the bottleneck and the move is iterative
    * quantile bisection (O(log range) count-scans), noted in SCALE.md.
    */
  private def statsMadOutliers(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.load(s, dir, "events").select(col("event_type"), col("value"))
    val byType = Window.partitionBy("event_type")
    def rankedMedian(df: DataFrame, valueCol: String): DataFrame =
      df.withColumn("rn", row_number().over(byType.orderBy(col(valueCol))))
        .withColumn("n", count(lit(1)).over(byType))
        .where(col("rn") === expr("(n + 1) div 2"))
        .select(col("event_type"), col("n"), col(valueCol))
    val med = rankedMedian(ev, "value").withColumnRenamed("value", "med")
    val dev = ev.join(broadcast(med.select(col("event_type"), col("med"))), "event_type")
      .withColumn("adev", abs(col("value") - col("med")))
    val mad = rankedMedian(dev.select(col("event_type"), col("adev")), "adev")
      .select(col("event_type"), col("n"), col("adev").as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"), col("n").as("n_rows"), col("med"), col("mad"))
      .agg(sum(when(col("adev") > col("mad") * 3, 1L).otherwise(0L)).as("n_outliers"))
      .orderBy(col("event_type"))
  }

  /** Benford first-digit audit — the forensic screen for fabricated or
    * truncated numeric columns (real transactional amounts follow
    * log10(1+1/d); synthetic/clipped data doesn't). Exact integer
    * machinery end to end: first digit of the cents amount, per-digit
    * counts, milli-shares by integer division, deviation against the
    * Benford expectation TABLE (literal milli values, same CASE in both
    * engines), and a >50‰ deviation flag. One conditional-agg scan,
    * 9 rows out. On the uniform fixture the flag FIRES for most digits —
    * correctly: uniform data is exactly what Benford screens catch.
    */
  private def statsBenford(s: SparkSession, dir: String): DataFrame = {
    val expected = Map(1 -> 301, 2 -> 176, 3 -> 125, 4 -> 97, 5 -> 79,
      6 -> 67, 7 -> 58, 8 -> 51, 9 -> 46)
    val exp = expected.foldLeft(lit(0)) { case (acc, (d, m)) =>
      when(col("digit") === d, m).otherwise(acc)
    }
    val ev = Tables.load(s, dir, "events")
      .select(round(col("value") * 100).cast("long").as("cents"))
      .where(col("cents") > 0)
      .select(substring(col("cents").cast("string"), 1, 1).cast("int").as("digit"))
    val counts = ev.groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("t"))
    counts.crossJoin(broadcast(total))
      .select(col("digit"), col("n"),
        expr("n * 1000 div t").as("share_milli"),
        exp.as("benford_milli"))
      .withColumn("dev_milli", abs(col("share_milli") - col("benford_milli")))
      .withColumn("flagged", col("dev_milli") > 50)
      .orderBy(col("digit"))
  }

  /** Fixture for the MV-rewrite queries: a parquet fact destination
    * (event_date, event_type, value_cents — the same derivation the zone
    * queries use) plus its (date, type)-grain rollup MV, registered with
    * [[graft.plans.MaterializedViewRewrite.MvCatalog]]. Memoized per
    * source dir so the catalog's freshness fingerprint stays valid
    * across a bench sweep's repeated runs.
    */
  private val mvMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def buildMvFixture(s: SparkSession, dir: String): String =
    mvMemo.computeIfAbsent(dir, _ => {
      val base = graft.util.TempDirs.create("graft_mv_base_")
      Tables.load(s, dir, "events").select(
        date_format(col("ts"), "yyyy-MM-dd").as("event_date"),
        col("event_type"),
        round(col("value") * 100).cast("long").as("value_cents"))
        .write.mode(SaveMode.Overwrite).parquet(base)
      val mv = graft.util.TempDirs.create("graft_mv_rollup_")
      s.read.parquet(base).groupBy(col("event_date"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value_cents")).as("sum_cents"),
          min(col("value_cents")).as("min_cents"),
          max(col("value_cents")).as("max_cents"))
        .write.mode(SaveMode.Overwrite).parquet(mv)
      graft.plans.MaterializedViewRewrite.MvCatalog.register(s, base, mv,
        dims = Seq("event_date", "event_type"), countCol = "n",
        sumMap = Map("value_cents" -> "sum_cents"),
        minMap = Map("value_cents" -> "min_cents"),
        maxMap = Map("value_cents" -> "max_cents"))
      base
    })

  /** MV rewrite, COARSENING path: the query is written against the fact
    * destination (group by event_type — coarser than the MV's
    * (date, type) grain) with all four distributive shapes; the
    * registered MV answers it by re-aggregation, so the scan touches
    * |dims| rows instead of the fact table. MvRewriteSpec pins that the
    * planned scan reads the MV's files (and that staleness or a non-dim
    * filter falls back to the base); this query grades the values
    * against the fact-table oracle — the hash match IS the rewrite's
    * equivalence proof.
    */
  private def mvRewriteRollup(s: SparkSession, dir: String): DataFrame = {
    val base = buildMvFixture(s, dir)
    s.read.parquet(base)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value_cents")).as("cents"),
        min(col("value_cents")).as("min_cents"),
        max(col("value_cents")).as("max_cents"))
      .orderBy(col("event_type"))
  }

  /** MV rewrite, DIMENSION-FILTER path: a dated window on the fact query
    * rebases onto the MV (every base group is one MV row, so a dim
    * filter is exact there) and the per-day report re-aggregates the
    * (date, type) grain down to dates.
    */
  private def mvRewriteWindow(s: SparkSession, dir: String): DataFrame = {
    val base = buildMvFixture(s, dir)
    s.read.parquet(base)
      .where(col("event_date") >= "2024-01-05" && col("event_date") < "2024-01-20")
      .groupBy(col("event_date"))
      .agg(sum(col("value_cents")).as("cents"), count(lit(1)).as("n_events"))
      .orderBy(col("event_date"))
  }

  /** The MV LIFECYCLE end to end — the piece that makes the rewrite rule
    * operable rather than a parlor trick: (1) a base + (date, type) MV
    * register and serve; (2) a late-arriving day APPENDS to the base —
    * the freshness fingerprint now declines every rewrite (stale MVs
    * never serve, MvRewriteSpec pins the fallback); (3) an INCREMENTAL
    * refresh folds ONLY the delta into the MV — the delta aggregates at
    * MV grain and full-outer-merges with the old MV (counts/sums add,
    * min/max take least/greatest; the Gupta–Mumick counting-IVM shape
    * `etl_ivm_counting` uses), written to a NEW snapshot directory so
    * readers never see a half-refreshed MV; (4) re-registration swaps
    * the catalog entry and the rewrite serves again. At 100 TB the
    * refresh cost is O(delta + |dims|), never a base rescan. The
    * registered query runs the post-refresh daily report; its hash match
    * proves the merged MV ≡ a full recompute. Lifecycle is memoized —
    * re-runs re-execute only the serving query.
    */
  private val mvLifecycleMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def mvRefreshFixture(s: SparkSession, dir: String): String =
    mvLifecycleMemo.computeIfAbsent(dir, _ => {
      val Split = "2024-01-25"
      val ev = Tables.load(s, dir, "events").select(
        date_format(col("ts"), "yyyy-MM-dd").as("event_date"),
        col("event_type"),
        round(col("value") * 100).cast("long").as("value_cents"))
      val base = graft.util.TempDirs.create("graft_mvr_base_")
      ev.where(col("event_date") < Split)
        .write.mode(SaveMode.Overwrite).parquet(base)
      def rollup(df: DataFrame): DataFrame =
        df.groupBy(col("event_date"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("value_cents")).as("sum_cents"),
            min(col("value_cents")).as("min_cents"),
            max(col("value_cents")).as("max_cents"))
      def register(mvPath: String): Unit =
        graft.plans.MaterializedViewRewrite.MvCatalog.register(s, base, mvPath,
          dims = Seq("event_date", "event_type"), countCol = "n",
          sumMap = Map("value_cents" -> "sum_cents"),
          minMap = Map("value_cents" -> "min_cents"),
          maxMap = Map("value_cents" -> "max_cents"))
      val mv1 = graft.util.TempDirs.create("graft_mvr_v1_")
      rollup(s.read.parquet(base)).write.mode(SaveMode.Overwrite).parquet(mv1)
      register(mv1)
      // (2) the late days land — every rewrite on this base now declines
      val delta = ev.where(col("event_date") >= Split)
      delta.write.mode(SaveMode.Append).parquet(base)
      // (3) incremental refresh: delta-only aggregation merged into mv1,
      // written as a NEW snapshot (readers never see a half-refresh)
      val mv2 = graft.util.TempDirs.create("graft_mvr_v2_")
      val merged = s.read.parquet(mv1).as("o")
        .join(rollup(delta).as("d"), Seq("event_date", "event_type"), "full_outer")
        .select(col("event_date"), col("event_type"),
          (coalesce(col("o.n"), lit(0L)) + coalesce(col("d.n"), lit(0L))).as("n"),
          (coalesce(col("o.sum_cents"), lit(0L)) +
            coalesce(col("d.sum_cents"), lit(0L))).as("sum_cents"),
          least(coalesce(col("o.min_cents"), col("d.min_cents")),
            coalesce(col("d.min_cents"), col("o.min_cents"))).as("min_cents"),
          greatest(coalesce(col("o.max_cents"), col("d.max_cents")),
            coalesce(col("d.max_cents"), col("o.max_cents"))).as("max_cents"))
      merged.write.mode(SaveMode.Overwrite).parquet(mv2)
      // (4) the swap: re-registration records the grown base's fingerprint
      register(mv2)
      base
    })

  private def mvRefreshServe(s: SparkSession, dir: String): DataFrame = {
    val base = mvRefreshFixture(s, dir)
    s.read.parquet(base)
      .groupBy(col("event_date"))
      .agg(count(lit(1)).as("n_events"), sum(col("value_cents")).as("cents"),
        max(col("value_cents")).as("max_cents"))
      .orderBy(col("event_date"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mv_rewrite_rollup" -> (mvRewriteRollup _),
    "mv_rewrite_window" -> (mvRewriteWindow _),
    "mv_refresh_serve" -> (mvRefreshServe _),
    "stats_benford" -> (statsBenford _),
    "stats_key_skew" -> (statsKeySkew _),
    "stats_mad_outliers" -> (statsMadOutliers _),
    "stats_dq_rules" -> (statsDqRules _),
    "j8_partition_prune_join" -> (j8PartitionPruneJoin _),
    "etl_partition_evolution" -> (etlPartitionEvolution _),
    "etl_wap" -> (etlWap _),
    "etl_time_travel" -> (etlTimeTravel _),
    "etl_manifest_compact" -> (etlManifestCompact _),
    "etl_orphan_audit" -> (etlOrphanAudit _),
    "etl_branch_isolation" -> (etlBranchIsolation _),
    "stats_bucket_drift" -> (statsBucketDrift _),
    "stats_ks_drift" -> (statsKsDrift _),
    "stats_autocorr_lag1" -> (statsAutocorrLag1 _),
    "j12_bucketed_join" -> (j12BucketedJoin _),
    "stats_gini_impurity" -> (statsGiniImpurity _),
    "audit_manifest" -> (auditManifest _),
    "j6_bloom_semijoin" -> (j6BloomSemijoin _),
    "j6_bloom_prune_shuffle" -> (j6BloomPruneShuffle _),
    "etl_tombstone_delete" -> (etlTombstoneDelete _),
    "j4_salted_skew_join" -> (j4SaltedSkewJoin _),
    "etl_compact_dest" -> (etlCompactDest _),
    "etl_backfill_window" -> (etlBackfillWindow _),
    "etl_vacuum_retention" -> (etlVacuumRetention _),
    "layout_zorder" -> (layoutZorder _)
  )

  val oracleSql: Map[String, String] = Map(
    "mv_rewrite_rollup" ->
      """WITH z AS (SELECT event_type,
        |             CAST(round(value * 100) AS BIGINT) AS value_cents
        |           FROM events)
        |SELECT event_type, count(*) AS n_events,
        |       CAST(sum(value_cents) AS BIGINT) AS cents,
        |       min(value_cents) AS min_cents, max(value_cents) AS max_cents
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin,
    "mv_rewrite_window" ->
      """WITH z AS (SELECT strftime(ts, '%Y-%m-%d') AS event_date,
        |             CAST(round(value * 100) AS BIGINT) AS value_cents
        |           FROM events)
        |SELECT event_date, CAST(sum(value_cents) AS BIGINT) AS cents,
        |       count(*) AS n_events
        |FROM z
        |WHERE event_date >= '2024-01-05' AND event_date < '2024-01-20'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "mv_refresh_serve" ->
      """WITH z AS (SELECT strftime(ts, '%Y-%m-%d') AS event_date,
        |             CAST(round(value * 100) AS BIGINT) AS value_cents
        |           FROM events)
        |SELECT event_date, count(*) AS n_events,
        |       CAST(sum(value_cents) AS BIGINT) AS cents,
        |       max(value_cents) AS max_cents
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin,
    "j8_partition_prune_join" ->
      """WITH e AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS value_cents,
        |    CAST(ts AS DATE) AS export_date
        |  FROM events),
        |d AS (SELECT export_date, count(*) AS day_rows FROM e GROUP BY 1),
        |t AS (SELECT CAST(sum(day_rows) AS BIGINT) AS total, count(*) AS n_days FROM d),
        |busy AS (SELECT export_date FROM d, t WHERE day_rows * n_days > total)
        |SELECT e.event_type, count(*) AS n_events,
        |  CAST(sum(e.value_cents) AS BIGINT) AS value_cents
        |FROM e JOIN busy USING (export_date)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "etl_branch_isolation" ->
      """WITH e AS (
        |  SELECT strftime(ts, '%Y-%m-%d') AS export_date,
        |    CAST(round(value * 100) AS BIGINT) AS value_cents
        |  FROM events),
        |r AS (SELECT export_date, count(*) AS n_rows,
        |    CAST(sum(value_cents) AS BIGINT) AS value_cents
        |  FROM e GROUP BY 1)
        |SELECT 'dev' AS view, export_date, n_rows, value_cents FROM r
        |WHERE export_date < '2024-01-21'
        |UNION ALL
        |SELECT 'main_post' AS view, export_date, n_rows, value_cents FROM r
        |WHERE export_date < '2024-01-21'
        |UNION ALL
        |SELECT 'main_pre' AS view, export_date, n_rows, value_cents FROM r
        |WHERE export_date < '2024-01-11'
        |ORDER BY view, export_date""".stripMargin,
    "etl_orphan_audit" ->
      """WITH e AS (SELECT strftime(ts, '%Y-%m-%d') AS d FROM events)
        |SELECT
        |  CAST(sum(CASE WHEN d < '2024-01-11' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS committed_rows,
        |  CAST(sum(CASE WHEN d < '2024-01-21' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS raw_rows,
        |  CAST(sum(CASE WHEN d >= '2024-01-11' AND d < '2024-01-21'
        |    THEN 1 ELSE 0 END) AS BIGINT) AS orphan_rows,
        |  CAST(1 AS BIGINT) AS n_orphan_files
        |FROM e""".stripMargin,
    "etl_time_travel" ->
      """WITH e AS (
        |  SELECT strftime(ts, '%Y-%m-%d') AS export_date,
        |    CAST(round(value * 100) AS BIGINT) AS value_cents
        |  FROM events),
        |r AS (SELECT export_date, count(*) AS n_rows,
        |    CAST(sum(value_cents) AS BIGINT) AS value_cents
        |  FROM e GROUP BY 1)
        |SELECT 'v1' AS snap, export_date, n_rows, value_cents FROM r
        |WHERE export_date < '2024-01-11'
        |UNION ALL
        |SELECT 'v2' AS snap, export_date, n_rows, value_cents FROM r
        |WHERE export_date < '2024-01-21'
        |ORDER BY snap, export_date""".stripMargin,
    "etl_wap" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS export_date, count(*) AS n_rows,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events
        |WHERE strftime(ts, '%Y-%m-%d') < '2024-01-11'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "etl_partition_evolution" ->
      """SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS export_week,
        |  count(*) AS n_rows,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
        |  CAST(1 AS INTEGER) AS n_files
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "stats_benford" ->
      """WITH c AS (
        |  SELECT CAST(substr(CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR), 1, 1)
        |    AS INTEGER) AS digit
        |  FROM events WHERE CAST(round(value * 100) AS BIGINT) > 0),
        |g AS (SELECT digit, count(*) AS n FROM c GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM g)
        |SELECT digit, n, CAST(n * 1000 // t AS BIGINT) AS share_milli,
        |  CAST(CASE digit WHEN 1 THEN 301 WHEN 2 THEN 176 WHEN 3 THEN 125
        |    WHEN 4 THEN 97 WHEN 5 THEN 79 WHEN 6 THEN 67 WHEN 7 THEN 58
        |    WHEN 8 THEN 51 WHEN 9 THEN 46 ELSE 0 END AS INTEGER) AS benford_milli,
        |  CAST(abs(n * 1000 // t - CASE digit WHEN 1 THEN 301 WHEN 2 THEN 176
        |    WHEN 3 THEN 125 WHEN 4 THEN 97 WHEN 5 THEN 79 WHEN 6 THEN 67
        |    WHEN 7 THEN 58 WHEN 8 THEN 51 WHEN 9 THEN 46 ELSE 0 END) AS BIGINT)
        |    AS dev_milli,
        |  abs(n * 1000 // t - CASE digit WHEN 1 THEN 301 WHEN 2 THEN 176
        |    WHEN 3 THEN 125 WHEN 4 THEN 97 WHEN 5 THEN 79 WHEN 6 THEN 67
        |    WHEN 7 THEN 58 WHEN 8 THEN 51 WHEN 9 THEN 46 ELSE 0 END) > 50 AS flagged
        |FROM g, t ORDER BY digit""".stripMargin,
    "stats_dq_rules" ->
      """WITH scan AS (SELECT count(*) AS n,
        |  CAST(sum(CASE WHEN props IS NULL OR props = '' THEN 1 ELSE 0 END) AS BIGINT) AS v_null,
        |  CAST(sum(CASE WHEN value < 0 OR value >= 450 THEN 1 ELSE 0 END) AS BIGINT) AS v_range,
        |  CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-01 00:00:00'
        |             OR ts >= TIMESTAMP '2024-02-01 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS v_window,
        |  CAST(count(*) - count(DISTINCT event_id) AS BIGINT) AS v_dup
        |  FROM events),
        |orph AS (SELECT CAST(count(*) AS BIGINT) AS v_orphan FROM events e
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id))
        |SELECT 'not_null_props' AS rule, n AS n_checked, v_null AS n_violations, v_null = 0 AS passed FROM scan, orph
        |UNION ALL
        |SELECT 'value_range', n, v_range, v_range = 0 FROM scan, orph
        |UNION ALL
        |SELECT 'ts_in_window', n, v_window, v_window = 0 FROM scan, orph
        |UNION ALL
        |SELECT 'unique_event_id', n, v_dup, v_dup = 0 FROM scan, orph
        |UNION ALL
        |SELECT 'ref_user_exists', n, v_orphan, v_orphan = 0 FROM scan, orph
        |ORDER BY rule""".stripMargin,
    "stats_mad_outliers" ->
      """WITH e AS (SELECT event_type, value FROM events),
        |r AS (SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n FROM e),
        |med AS (SELECT event_type, value AS med FROM r WHERE rn = (n + 1) // 2),
        |d AS (SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
        |  FROM e JOIN med m USING (event_type)),
        |r2 AS (SELECT event_type, adev, med,
        |    row_number() OVER (PARTITION BY event_type ORDER BY adev) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n FROM d),
        |mad AS (SELECT event_type, CAST(n AS BIGINT) AS n_rows, med, adev AS mad
        |  FROM r2 WHERE rn = (n + 1) // 2)
        |SELECT d.event_type, m.n_rows, m.med, m.mad,
        |  CAST(sum(CASE WHEN d.adev > m.mad * 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers
        |FROM d JOIN mad m USING (event_type)
        |GROUP BY 1, 2, 3, 4 ORDER BY 1""".stripMargin,
    "stats_bucket_drift" ->
      """WITH e AS (
        |  SELECT least(CAST(floor(value / 50) AS BIGINT), 9) AS bucket,
        |    strftime(ts, '%Y-%m-%d') < '2024-01-16' AS p1
        |  FROM events),
        |b AS (
        |  SELECT bucket,
        |    CAST(sum(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN NOT p1 THEN 1 ELSE 0 END) AS BIGINT) AS n2
        |  FROM e GROUP BY 1),
        |t AS (SELECT CAST(sum(n1) AS BIGINT) AS t1, CAST(sum(n2) AS BIGINT) AS t2 FROM b)
        |SELECT bucket, n1, n2,
        |  CAST(n1 * 1000 // t1 AS BIGINT) AS share1_milli,
        |  CAST(n2 * 1000 // t2 AS BIGINT) AS share2_milli,
        |  abs(n1 * t2 - n2 * t1) * 50 > t1 * t2 AS drifted
        |FROM b, t ORDER BY bucket""".stripMargin,
    "j12_bucketed_join" ->
      """SELECT o_orderkey % 10 AS key_mod10, count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "stats_autocorr_lag1" ->
      """WITH daily AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |pairs AS (
        |  SELECT event_type, x,
        |    lead(x) OVER (PARTITION BY event_type ORDER BY day) AS y
        |  FROM daily),
        |pieces AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM pairs WHERE y IS NOT NULL GROUP BY 1),
        |terms AS (
        |  SELECT event_type, n, n * sxy - sx * sy AS num,
        |    n * sxx - sx * sx AS d1, n * syy - sy * sy AS d2
        |  FROM pieces)
        |SELECT event_type, n, num, d1, d2, num > 0 AS positive,
        |  CAST(floor(1000.0 * num / sqrt(CAST(d1 AS DOUBLE) * CAST(d2 AS DOUBLE)))
        |    AS BIGINT) AS r_milli
        |FROM terms ORDER BY event_type""".stripMargin,
    "stats_gini_impurity" ->
      """WITH c AS (
        |  SELECT event_type, round(value * 100)::BIGINT AS v_cents,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, CAST(sum(c) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST((sum(c) * sum(c) - sum(c * c)) * 1000000
        |       // (sum(c) * sum(c)) AS BIGINT) AS gini_micro
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,
    // ledger compaction must be invisible to readers: rollup ≡ source
    "etl_manifest_compact" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS export_date,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "stats_ks_drift" ->
      """WITH counts AS (
        |  SELECT event_type, round(value * 100)::BIGINT AS v_cents,
        |    CAST(sum(CASE WHEN strftime(ts, '%Y-%m-%d') < '2024-01-16'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN strftime(ts, '%Y-%m-%d') < '2024-01-16'
        |      THEN 0 ELSE 1 END) AS BIGINT) AS c2
        |  FROM events GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type,
        |    sum(c1) OVER (PARTITION BY event_type ORDER BY v_cents) AS cum1,
        |    sum(c2) OVER (PARTITION BY event_type ORDER BY v_cents) AS cum2,
        |    sum(c1) OVER (PARTITION BY event_type) AS n1,
        |    sum(c2) OVER (PARTITION BY event_type) AS n2
        |  FROM counts)
        |SELECT event_type,
        |  CAST(max(n1) AS BIGINT) AS n1, CAST(max(n2) AS BIGINT) AS n2,
        |  CAST(max(abs(cum1 * n2 - cum2 * n1)) AS BIGINT) AS d_num,
        |  CAST(max(abs(cum1 * n2 - cum2 * n1)) * 1000 // (max(n1) * max(n2)) AS BIGINT) AS ks_milli,
        |  max(abs(cum1 * n2 - cum2 * n1)) * 20 > max(n1) * max(n2) AS drifted
        |FROM cum GROUP BY event_type ORDER BY event_type""".stripMargin,
    "stats_key_skew" ->
      """WITH k AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY 1),
        |t AS (SELECT count(*) AS n_keys, CAST(sum(n_events) AS BIGINT) AS total FROM k)
        |SELECT CAST(row_number() OVER (ORDER BY n_events DESC, user_id) AS INTEGER) AS rnk,
        |  user_id, n_events,
        |  CAST(n_events * 1000 * n_keys // total AS BIGINT) AS uniform_x1000,
        |  n_events * n_keys > total * 2 AS is_heavy
        |FROM k, t
        |ORDER BY rnk LIMIT 10""".stripMargin,
    "audit_manifest" -> {
      // integer-canonical: ts enters the md5 as epoch-microseconds BIGINT
      // (cast to micro TIMESTAMP first so a TIMESTAMP_NS reader agrees),
      // every nullable input coalesced, value summed as BIGINT cents.
      val fp = "md5(coalesce(CAST(event_id AS VARCHAR), '') || '|' || " +
        "coalesce(CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS VARCHAR), '') || '|' || " +
        "coalesce(CAST(user_id AS VARCHAR), '') || '|' || " +
        "coalesce(event_type, '') || '|' || coalesce(props, ''))"
      s"""SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_rows,
         |  bit_xor(('0x' || substr($fp, 1, 15))::BIGINT) AS content_xor,
         |  CAST(sum(('0x' || substr($fp, 1, 10))::BIGINT) AS BIGINT) AS content_sum,
         |  min(event_id) AS min_event_id, max(event_id) AS max_event_id,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // the sketch is a plan optimization, not a semantics change: the
    // oracle is the PLAIN dimension-filtered join
    "j6_bloom_semijoin" ->
      """SELECT l_suppkey, count(*) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |WHERE s_nationkey = 3
        |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,
    // the sketch prunes the shuffle, never the result: oracle = plain join
    "j6_bloom_prune_shuffle" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS order_month, count(*) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_orderdate < TIMESTAMP '1996-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // post-delete rollup == source rollup with the tombstone predicate
    // inverted: every targeted row gone, nothing else touched
    "etl_tombstone_delete" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS export_date, count(*) AS n_rows,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events WHERE user_id % 97 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "j4_salted_skew_join" ->
      """SELECT s_nationkey, count(*) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,
    "etl_compact_dest" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS export_date, count(*) AS n_rows,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-21'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the clean rollup: a correct backfill must erase the duplicate appends
    "etl_backfill_window" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS export_date, count(*) AS n_rows,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // only the retention window survives the vacuum
    "etl_vacuum_retention" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS export_date, count(*) AS n_rows,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-11'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "layout_zorder" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    least(n_chars // 128, 15) AS d1,
         |    least(CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
         |                               x -> x <> '')) AS BIGINT) // 16, 15) AS d2
         |  FROM documents),
         |z AS (SELECT doc_id, d1, d2, ${zInterleave("//")} AS z FROM d)
         |SELECT z // 16 AS file_id, count(*) AS n_docs,
         |  min(d1) AS d1_min, max(d1) AS d1_max,
         |  min(d2) AS d2_min, max(d2) AS d2_max
         |FROM z GROUP BY file_id ORDER BY file_id""".stripMargin
  )
}
