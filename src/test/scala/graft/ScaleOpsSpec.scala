package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Destination
import graft.ops.ScaleOps

/** Scale-path evidence: salted skew joins return exactly the unsalted
  * result, and bucketed tables join without a shuffle exchange.
  */
class ScaleOpsSpec extends AnyFunSuite {
  import SparkTestBase._

  test("salted join equals the plain join under extreme key skew") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    import sp.implicits._
    // 90% of fact rows share one key — the classic melted-reducer shape
    val fact = (1 to 2000).map(i => (if (i % 10 == 0) i.toLong % 7 else 42L, i.toLong))
      .toDF("k", "v")
    val dim = Seq((42L, "hot"), (0L, "a"), (1L, "b"), (2L, "c"), (3L, "d"))
      .toDF("dk", "name")
    val plain = fact.join(dim, $"k" === $"dk").select("k", "v", "name")
    val salted = ScaleOps.saltedJoin(fact, $"k", dim, $"dk", saltFactor = 8)
      .select("k", "v", "name")
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty,
      "salting must not change the join multiset")
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("__salt") || plan.contains("pmod"),
      s"join key must include the salt\n${plan.take(800)}")
  }

  test("j4 registered query sort-merge-joins on (key, salt), not broadcast") {
    val df = ops.ScaleOps.queries("j4_salted_skew_join")(spark, Sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"),
      s"the merge hint must defeat the local broadcast so the salt path is exercised\n${plan.take(800)}")
    assert(plan.contains("__salt"), s"join key must include the salt\n${plan.take(800)}")
    val expected = Tables.load(spark, Sf0001, "supplier")
      .join(Tables.load(spark, Sf0001, "lineitem"),
        col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select("s_nationkey").distinct().count()
    assert(df.count() == expected, "one rollup row per supplier nation with sales")
  }

  test("compaction shrinks small-file count and preserves the row multiset") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    import graft.etl.{EtlJob, MetaStore}
    import graft.model.{ClientBillingConfig, EtlJobMessage}
    val root = tmpDir("compact_")
    val meta = MetaStore(s"$root/meta")
    meta.putConfigs(Seq(ClientBillingConfig(7, "p", "d", "t", None, None, None)))
    val events = Tables.load(spark, Sf0001, "events")
    Seq("2024-01-10 00:00:00", "2024-01-20 00:00:00", "2024-02-01 00:00:00").foreach { t =>
      EtlJob.run(spark, meta, events, "ts", s"$root/dest", EtlJobMessage(7),
        utcTs(t), sleeper = _ => ())
    }
    val beforeRows = Destination.read(spark, s"$root/dest")
      .groupBy("event_id").count().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (before, after) = Destination.compactDatePartitions(spark, s"$root/dest")
    assert(after < before, s"compaction must reduce file count ($before -> $after)")
    val afterRows = Destination.read(spark, s"$root/dest")
      .groupBy("event_id").count().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(afterRows == beforeRows, "compaction must not change the row multiset")
  }

  test("backfill query is non-vacuous: the duplicate append really corrupts the dest") {
    import org.apache.spark.sql.functions._
    val ev = Tables.load(spark, Sf0001, "events").select(
      col("event_id"), date_format(col("ts"), "yyyy-MM-dd").as("export_date"))
    val dest = tmpDir("backfill_corrupt_")
    ev.write.mode("append").partitionBy("export_date").parquet(dest)
    ev.where(col("export_date") === "2024-01-05")
      .write.mode("append").partitionBy("export_date").parquet(dest)
    val clean = ev.where(col("export_date") === "2024-01-05").count()
    val corrupted = spark.read.parquet(dest)
      .where(col("export_date") === "2024-01-05").count()
    assert(clean > 0, "the damaged date must exist at sf0.001")
    assert(corrupted == 2 * clean,
      s"without the repair the partition must hold duplicates ($corrupted vs $clean)")
    // and the registered query (which performs the repair) restores exactly
    // the clean rollup
    val repaired = ops.ScaleOps.queries("etl_backfill_window")(spark, Sf0001)
    val expected = ev.groupBy("export_date").count()
    assert(repaired.count() == expected.count())
    assert(repaired.agg(sum(col("n_rows"))).collect()(0).getLong(0) ==
      Tables.load(spark, Sf0001, "events").count())
  }

  test("vacuum deletes exactly the expired partitions (20 of 30 days survive)") {
    import org.apache.spark.sql.functions._
    val out = ops.ScaleOps.queries("etl_vacuum_retention")(spark, Sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.keySet.forall(_ >= "2024-01-11"), s"expired dates survived: ${out.keySet}")
    val expected = Tables.load(spark, Sf0001, "events")
      .where(date_format(col("ts"), "yyyy-MM-dd") >= "2024-01-11")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("d")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == expected)
    assert(out.size == 20, s"fixture spans 30 days; retention keeps 20, got ${out.size}")
  }

  test("bloom probe prunes the fact side before the join and loses no matches") {
    val dim = Tables.load(spark, Sf0001, "supplier")
      .where(col("s_nationkey") === 3).select(col("s_suppkey"))
    val bf = dim.stat.bloomFilter("s_suppkey", math.max(dim.count(), 64L), 0.01)
    val bytes = { val b = new java.io.ByteArrayOutputStream(); bf.writeTo(b); b.toByteArray }
    val b64 = java.util.Base64.getEncoder.encodeToString(bytes)
    val fact = Tables.load(spark, Sf0001, "lineitem").select(col("l_suppkey"))
    val total = fact.count()
    val exact = fact.join(dim, col("l_suppkey") === col("s_suppkey"), "left_semi").count()
    val pruned =
      fact.where(expr(s"graft_bloom_contains(unbase64('$b64'), cast(l_suppkey as bigint))"))
    val kept = pruned.count()
    // sketch contract: no false negatives (every match survives), real
    // pruning (the 1% fpp bound keeps the pass-through close to exact)
    assert(kept >= exact, "bloom must never drop a true match")
    assert(kept < total, "bloom must actually prune")
    assert(kept <= exact + math.max(10L, total / 50),
      s"false-positive rate way past the configured 1% (kept=$kept exact=$exact total=$total)")
    val plan = ScaleOps.queries("j6_bloom_semijoin")(spark, Sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"bloom semijoin must stay an equi-join plan\n${plan.take(800)}")
  }

  test("j6 prune-shuffle: SMJ plan, probe below the fact exchange, ≥90% pruned") {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val df = ops.ScaleOps.queries("j6_bloom_prune_shuffle")(spark, Sf0001)
    df.collect() // materialize so the AQE final plan (with real stages) exists
    // AQE hides materialized stages behind QueryStageExec leaves — expand them
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: inner.flatMap(flatten)
    }
    val nodes = flatten(df.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
      s"merge hint must pin a sort-merge join, not a small-SF broadcast\n${nodes.head}")
    // the probe must prune MAP-SIDE: a Filter carrying BloomFilterMightContain
    // strictly below some Exchange (i.e. before any shuffle write)
    val probeBelowExchange = nodes.collect { case e: Exchange => e }.exists { e =>
      flatten(e.child).exists {
        case f: FilterExec => f.condition.find(_.isInstanceOf[BloomFilterMightContain]).isDefined
        case _ => false
      }
    }
    assert(probeBelowExchange,
      s"bloom probe must sit below the fact-side exchange\n${nodes.head}")
    // and it must actually prune ≥90% of the fact scan (matching fraction is
    // ~3.4% at this SF; 1% fpp leaves the kept set well under 10%)
    val dim = Tables.load(spark, Sf0001, "orders")
      .where(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderdate") < to_timestamp(lit("1996-01-01 00:00:00")))
      .select(col("o_orderkey"))
    val bf = dim.stat.bloomFilter("o_orderkey", math.max(dim.count(), 64L), 0.01)
    val bytes = { val b = new java.io.ByteArrayOutputStream(); bf.writeTo(b); b.toByteArray }
    val fact = Tables.load(spark, Sf0001, "lineitem").select(col("l_orderkey"))
    val total = fact.count()
    val kept = fact.where(call_function("graft_bloom_contains",
      lit(bytes), col("l_orderkey").cast("bigint"))).count()
    assert(kept <= total / 10,
      s"probe must prune >=90% of the fact scan (kept=$kept total=$total)")
    val exact = fact.join(dim, col("l_orderkey") === col("o_orderkey"), "left_semi").count()
    assert(kept >= exact, "bloom must never drop a true match")
  }

  /** Three day-partitions; user 666 appears only on day 2, and day 3
    * holds one row (user 103).
    */
  private def threeDayDest(prefix: String): String = {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    import sp.implicits._
    val dest = tmpDir(prefix)
    Seq((1L, 100L, "2024-01-01"), (2L, 101L, "2024-01-01"),
      (3L, 666L, "2024-01-02"), (4L, 102L, "2024-01-02"),
      (5L, 103L, "2024-01-03"))
      .toDF("event_id", "user_id", "export_date")
      .write.mode("overwrite").partitionBy("export_date").parquet(dest)
    dest
  }

  /** Every path under `dir`, relative to it. */
  private def listing(dir: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.map(p => root.relativize(p).toString).toSet
    finally walk.close()
  }

  test("tombstone sweep rewrites only partitions with hits; survivors intact") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    import sp.implicits._
    // the tombstoned user appears ONLY on day 2
    val dest = threeDayDest("tomb_prune_")
    def files(day: String): Map[String, Long] = {
      val d = new java.io.File(s"$dest/export_date=$day")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val before = Map("2024-01-01" -> files("2024-01-01"), "2024-01-03" -> files("2024-01-03"))
    val affected = Destination.deleteFromDatePartitions(
      spark, dest, Seq(666L).toDF("user_id"), "user_id")
    assert(affected == Seq("2024-01-02"), s"only day 2 holds a hit, got $affected")
    // untouched partitions keep their exact files — the O(affected) claim
    assert(files("2024-01-01") == before("2024-01-01"))
    assert(files("2024-01-03") == before("2024-01-03"))
    val after = spark.read.parquet(dest)
    assert(after.where(col("user_id") === 666L).isEmpty, "tombstoned rows must be gone")
    assert(after.count() == 4, "exactly the tombstoned row deleted")
  }

  test("tombstone sweep drops a partition that lost every row; no stage left") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    import sp.implicits._
    val dest = threeDayDest("tomb_emptied_")
    val day1 = listing(s"$dest/export_date=2024-01-01")
    val affected = Destination.deleteFromDatePartitions(
      spark, dest, Seq(666L, 103L).toDF("user_id"), "user_id")
    assert(affected == Seq("2024-01-02", "2024-01-03"))
    assert(!new java.io.File(s"$dest/export_date=2024-01-03").exists(),
      "the emptied partition must be gone")
    assert(listing(s"$dest/export_date=2024-01-01") == day1,
      "the untouched partition keeps its file names")
    val hidden = new java.io.File(dest).listFiles().filter(f => f.isDirectory && f.getName.startsWith("_"))
    assert(hidden.isEmpty, s"leftover under dest: ${hidden.toSeq}")
    assert(spark.read.parquet(dest).select("event_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 4L))
  }

  test("a stage write that fails in a task leaves the destination as it was") {
    val dest = threeDayDest("replace_failed_")
    val before = listing(dest)
    val boom = udf { (id: Long) => require(id < 0, "task failure"); true }
    intercept[Exception] {
      Destination.replacePartitions(spark,
        spark.read.parquet(dest).where(boom(col("event_id"))), dest)
    }
    assert(listing(dest) == before, "no stage directory may be left behind")
  }

  test("manifest fingerprint is tamper-evident and localizes the damaged day") {
    val clean = ScaleOps.queries("audit_manifest")(spark, Sf0001)
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3), r.getLong(1))).toMap
    // copy the corpus with ONE row's event_type flipped, re-manifest
    val tampered = tmpDir("manifest_tamper_")
    val ev = Tables.load(spark, Sf0001, "events")
    val victim = ev.select(min(col("event_id"))).collect()(0).getLong(0)
    ev.withColumn("event_type",
        when(col("event_id") === victim, lit("TAMPERED")).otherwise(col("event_type")))
      .write.parquet(s"$tampered/events.parquet")
    val dirty = ScaleOps.queries("audit_manifest")(spark, tampered)
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3), r.getLong(1))).toMap
    val victimDay = ev.where(col("event_id") === victim)
      .select(date_format(col("ts"), "yyyy-MM-dd")).collect()(0).getString(0)
    assert(clean.keySet == dirty.keySet)
    clean.foreach { case (day, (cx, cs, n)) =>
      val (dx, ds, dn) = dirty(day)
      assert(n == dn, s"row counts must not move ($day)")
      if (day == victimDay)
        assert(cx != dx && cs != ds, s"fingerprints must catch the flipped row on $day")
      else
        assert(cx == dx && cs == ds, s"untouched day $day must fingerprint identically")
    }
  }

  test("WAP: rejected batch stays staged intact; corrected-claim retry publishes it") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    import sp.implicits._
    val root = tmpDir("wap_spec_")
    val batch = (1L to 100L).map(i => (i, i * 3)).toDF("id", "v")
    // short write vs an inflated claim: the audit must reject
    val r = Destination.writeAuditPublish(spark, s"$root/dest", s"$root/staging",
      "b1", batch, claimedRows = 120)
    assert(r.isLeft, s"inflated claim must be rejected: $r")
    // readers never saw it: dest does not exist / has no files
    assert(!graft.util.Fs.hasParquetFiles(spark, s"$root/dest"),
      "rejected batch must be invisible to readers")
    // the staged files survived quarantine — the retry is re-audit, not
    // re-extract: republish the SAME staged dir with the corrected claim
    val retry = Destination.publishStaged(spark, s"$root/dest", s"$root/staging/b1",
      "b1", claimedRows = 100)
    assert(retry == Right(100L), s"corrected claim must publish: $retry")
    assert(spark.read.parquet(s"$root/dest").count() == 100)
    // and the publish is append-only next to an existing batch
    val r2 = Destination.writeAuditPublish(spark, s"$root/dest", s"$root/staging",
      "b2", batch.where($"id" <= 10), claimedRows = 10)
    assert(r2 == Right(10L))
    assert(spark.read.parquet(s"$root/dest").count() == 110)
    // crash between publish and ack: the retry finds an EMPTY staging dir
    // (files already moved) — it must ack idempotently from the committed
    // manifest, never overwrite it with an empty one
    val replay = Destination.publishStaged(spark, s"$root/dest", s"$root/staging/b1",
      "b1", claimedRows = 100)
    assert(replay == Right(100L), s"post-crash retry must be idempotent: $replay")
    assert(Destination.readAsOf(spark, s"$root/dest", Seq("b1")).count() == 100,
      "the committed snapshot must survive the replay")
    assert(spark.read.parquet(s"$root/dest").count() == 110)
  }

  test("manifest compaction: mid-state double listing dedups; readers see identical rows") {
    val ev = Tables.load(spark, Sf0001, "events").select(
      col("event_id"), round(col("value") * 100).cast("long").as("cents"))
    val root = graft.util.TempDirs.create("graft_mcompact_spec_")
    Seq(0L, 1L, 2L).foreach { i =>
      val b = ev.where(col("event_id") % 3 === i)
      val r = Destination.writeAuditPublish(spark, s"$root/dest", s"$root/staging",
        s"slice_$i", b, b.count())
      assert(r.isRight, s"publish $i: $r")
    }
    def readback = Destination.readBranch(spark, s"$root/dest", None)
      .agg(count(lit(1)), sum(col("cents"))).head()
    val before = readback
    // simulate the racing reader's worst view: consolidated manifest
    // written, originals NOT yet deleted — every file listed twice
    val mDir = s"$root/dest/_manifests"
    val union = Seq(0, 1, 2).flatMap { i =>
      graft.util.Fs.readSmallText(spark, s"$mDir/slice_$i.manifest").get
        .split("\n").filter(_.nonEmpty)
    }.distinct.sorted
    graft.util.Fs.writeSmallTextAtomic(spark, s"$mDir/zz_preview.manifest",
      union.mkString("\n"))
    assert(readback == before, "double-listed files must scan once (dedup)")
    // real compaction: ledger shrinks, rows unchanged
    new java.io.File(s"$mDir/zz_preview.manifest").delete()
    val (b0, a0) = Destination.compactManifests(spark, s"$root/dest")
    assert(b0 == 3 && a0 == 1, s"ledger must compact 3 -> 1, got $b0 -> $a0")
    assert(readback == before, "compaction must be invisible to readers")
  }

  test("bucketed tables join co-located: no shuffle exchange before the join") {
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    try {
      Tables.load(spark, Sf0001, "orders")
        .write.bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("b_orders")
      Tables.load(spark, Sf0001, "customer")
        .write.bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("b_customer")
      val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
        spark.conf.set("spark.sql.adaptive.enabled", "false") // stable plan text
        val j = spark.table("b_orders")
          .join(spark.table("b_customer"), col("o_custkey") === col("c_custkey"))
        val plan = j.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"), plan.take(800))
        assert(!plan.contains("Exchange hashpartitioning"),
          s"bucketed join must read pre-partitioned buckets, not shuffle\n${plan.take(1200)}")
        assert(j.count() == Tables.load(spark, Sf0001, "orders").count())
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
        spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }
}
