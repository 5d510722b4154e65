package graft

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The custom DataSource V2 connector's two pushdown seams, pinned off
  * the actual planned BatchScanExec (not off result correctness, which
  * the oracled query already covers): column pruning must reach
  * Scan.readSchema, date filters must reach the scan, and
  * planInputPartitions must open only admitted files.
  */
class Dsv2SourceSpec extends AnyFunSuite {
  import SparkTestBase._

  private def buildZone(): String = {
    val out = graft.util.TempDirs.create("graft_dsv2_spec_")
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def write(name: String, lines: Seq[String]): Unit = {
      val os = fs.create(new org.apache.hadoop.fs.Path(s"$out/$name"))
      os.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
      os.close()
    }
    write("events_2024-01-01.tsv", Seq("1\t10\tview\t100", "2\t11\tpurchase\t250"))
    write("events_2024-01-02.tsv", Seq("3\t10\tview\t75"))
    write("events_2024-01-03.tsv", Seq("POISON — opening this file must throw"))
    write("ignore_me.txt", Seq("not a landing file at all"))
    out
  }

  private def readZone(out: String) =
    spark.read.format(classOf[graft.sources.TsvLandingSource].getName)
      .option("path", out).load()

  // one AQE-recursing plan walk for every plan-shape pin in this suite
  // (executedPlan.collect does not see inside AdaptiveSparkPlanExec)
  private def allScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[BatchScanExec] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p match {
      case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
      case q: QueryStageExec => allScans(q.plan)
      case b: BatchScanExec => Seq(b)
      case other => other.children.flatMap(allScans)
    }
  }

  // all shuffle exchanges in the executed plan, recursing through AQE
  // (ShuffleQueryStageExec wraps the exchange in .plan)
  private def allShuffles(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    p match {
      case a: AdaptiveSparkPlanExec => allShuffles(a.executedPlan)
      case q: QueryStageExec => allShuffles(q.plan)
      case e: ShuffleExchangeLike => e +: e.children.flatMap(allShuffles)
      case other => other.children.flatMap(allShuffles)
    }
  }

  test("reported key-grouped partitioning elides the groupBy(event_date) shuffle") {
    // option-gated: inert for every read that doesn't opt in
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val out = buildZone()
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a second task segment of 01-01: same-date files must GROUP into one
    // input partition and aggregate without any exchange
    val os = fs.create(new org.apache.hadoop.fs.Path(s"$out/events_2024-01-01.p1.tsv"))
    os.write("7\t12\tview\t999\n".getBytes("UTF-8"))
    os.close()

    val df = spark.read.format(classOf[graft.sources.TsvLandingSource].getName)
      .option("path", out).option("reportPartitioning", "true").load()
      .where(col("event_date") < "2024-01-03")
      .groupBy(col("event_date")).agg(max(col("value_cents")).as("cents"))
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    assert(rows == Seq(("2024-01-01", 999L), ("2024-01-02", 75L)), rows.toString)
    val shuffles = allShuffles(df.queryExecution.executedPlan)
    assert(shuffles.isEmpty,
      s"groupBy(event_date) must run inside the storage partitioning\n" +
        df.queryExecution.executedPlan)
    // without the option, the same rollup shuffles — the report is opt-in
    val off = readZone(out)
      .where(col("event_date") < "2024-01-03")
      .groupBy(col("event_date")).agg(max(col("value_cents")).as("cents"))
    off.collect()
    assert(allShuffles(off.queryExecution.executedPlan).nonEmpty,
      s"un-opted read must keep the normal exchange\n${off.queryExecution.executedPlan}")
  }

  test("storage-partitioned join runs with zero exchanges on both sides") {
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    val zoneA = buildZone()
    val zoneB = graft.util.TempDirs.create("graft_dsv2_spec_dim_")
    val fs = new org.apache.hadoop.fs.Path(zoneB)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("2024-01-01" -> "0\t0\tbudget\t500", "2024-01-02" -> "0\t0\tbudget\t80")
      .foreach { case (day, line) =>
        val os = fs.create(new org.apache.hadoop.fs.Path(s"$zoneB/events_$day.tsv"))
        os.write((line + "\n").getBytes("UTF-8"))
        os.close()
      }
    def zone(path: String) =
      spark.read.format(classOf[graft.sources.TsvLandingSource].getName)
        .option("path", path).option("reportPartitioning", "true").load()
        .where(col("event_date") < "2024-01-03")
    val df = zone(zoneA).hint("merge")
      .join(zone(zoneB).select(col("event_date"),
        col("value_cents").as("day_budget")), Seq("event_date"))
      .groupBy(col("event_date"))
      .agg(sum(col("value_cents")).as("cents"), max(col("day_budget")).as("day_budget"))
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(rows == Seq(("2024-01-01", 350L, 500L), ("2024-01-02", 75L, 80L)), rows.toString)
    val plan = df.queryExecution.executedPlan
    assert(allShuffles(plan).isEmpty,
      s"SPJ must move no rows on either side\n$plan")
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def hasSmj(p: org.apache.spark.sql.execution.SparkPlan): Boolean = p match {
      case a: AdaptiveSparkPlanExec => hasSmj(a.executedPlan)
      case q: QueryStageExec => hasSmj(q.plan)
      case _: org.apache.spark.sql.execution.joins.SortMergeJoinExec => true
      case other => other.children.exists(hasSmj)
    }
    assert(hasSmj(plan), s"expected a sort-merge join over the co-partitioning\n$plan")
  }

  test("_file metadata column surfaces per-row provenance on demand") {
    val out = buildZone()
    val df = readZone(out)
      .where(col("event_date") < "2024-01-03")
      .select(col("event_id"), col("_file"))
    val rows = df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(rows == Seq(
      (1L, "events_2024-01-01.tsv"), (2L, "events_2024-01-01.tsv"),
      (3L, "events_2024-01-02.tsv")), rows.toString)
    // the metadata column reaches the reader through the pruned schema…
    val scan = allScans(df.queryExecution.executedPlan)
      .map(_.scan.asInstanceOf[graft.sources.TsvScan]).head
    assert(scan.readSchema().fieldNames.contains("_file"), scan.description())
    // …and stays INVISIBLE unless asked for
    assert(!readZone(out).schema.fieldNames.contains("_file"))
  }

  test("SQL DELETE removes whole files by date and refuses row-level predicates") {
    val out = buildZone()
    val p = new org.apache.hadoop.fs.Path(out)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root", p.getParent.toString)
    val table = s"graft.`${p.getName}`"

    // a row-level predicate cannot be isolated to whole files — refused
    val e = intercept[Throwable] {
      spark.sql(s"DELETE FROM $table WHERE user_id = 10")
    }
    assert(e.getMessage != null, "refusal must carry a message")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$out/events_2024-01-01.tsv")),
      "a refused DELETE must not delete anything")

    // the day-retention sweep: one whole file gone, metadata-only
    spark.sql(s"DELETE FROM $table WHERE event_date = '2024-01-01'")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$out/events_2024-01-01.tsv")))
    // untouched: the other day, the poisoned file, and the non-zone file
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$out/events_2024-01-02.tsv")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$out/events_2024-01-03.tsv")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$out/ignore_me.txt")))
    val left = readZone(out).where(col("event_date") < "2024-01-03")
      .select(col("event_id")).collect().map(_.getLong(0)).toSeq
    assert(left == Seq(3L), left.toString)
  }

  test("date filters prune files at plan time and columns prune at parse time") {
    val out = buildZone()
    val df = readZone(out)
      .where(col("event_date") < "2024-01-03")
      // max(value_cents) is NOT a pushable aggregate shape, so this stays
      // on the ROW path and exercises column pruning in the line parser
      .groupBy(col("event_date")).agg(max(col("value_cents")).as("cents"))
      .orderBy(col("event_date"))
    // the poisoned 01-03 file parses on open — reaching it throws
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == Seq(("2024-01-01", 250L), ("2024-01-02", 75L)))

    val scans = allScans(df.queryExecution.executedPlan)
      .map(_.scan.asInstanceOf[graft.sources.TsvScan])
    assert(scans.length == 1, df.queryExecution.executedPlan.toString)
    val scan = scans.head
    // column pruning: only the two referenced columns reach the reader
    assert(scan.readSchema().fieldNames.toSeq.sorted == Seq("event_date", "value_cents"),
      scan.description())
    // filter pushdown: the date bound reached the scan
    assert(scan.pushed.exists {
      case org.apache.spark.sql.sources.LessThan("event_date", "2024-01-03") => true
      case _ => false
    }, scan.description())
    // plan-time pruning: exactly the two admitted files become partitions
    val parts = scan.planInputPartitions()
      .map(_.asInstanceOf[graft.sources.TsvPartition].date).toSeq
    assert(parts == Seq("2024-01-01", "2024-01-02"), parts.toString)
  }

  test("runtime (DPP) filters from a dim join prune files before open") {
    val out = buildZone()
    // the dim's filter sits on a NON-join column, so the optimizer cannot
    // statically propagate it to the zone side — the only way the scan
    // learns the surviving day is the runtime SupportsRuntimeFiltering
    // path. The zone read carries NO date predicate, so if DPP does not
    // reach the scan, the poisoned 01-03 file is opened and throws.
    val dim = spark.range(0, 10)
      .select(concat(lit("2024-01-0"), col("id")).as("event_date"), col("id"))
      .where(col("id") === 1)
      .select(col("event_date"))
    val df = readZone(out).join(broadcast(dim), "event_date")
      .groupBy(col("event_date")).agg(sum(col("value_cents")).as("cents"))
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == Seq(("2024-01-01", 350L)), s"got $rows")

    val exec = allScans(df.queryExecution.executedPlan)
      .filter(_.scan.isInstanceOf[graft.sources.TsvScan])
    assert(exec.length == 1, df.queryExecution.executedPlan.toString)
    // the planned scan carries the dynamic-pruning subquery...
    assert(exec.head.runtimeFilters.nonEmpty,
      s"expected a runtime filter on the zone scan\n${df.queryExecution.executedPlan}")
    // ...and after execution the scan's partition list is the pruned one
    val parts = exec.head.scan.asInstanceOf[graft.sources.TsvScan]
      .planInputPartitions()
      .map(_.asInstanceOf[graft.sources.TsvPartition].date).toSeq
    assert(parts == Seq("2024-01-01"), parts.toString)
  }

  test("COUNT(*) pushes into the scan at line granularity, partials re-summed") {
    val out = buildZone()
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a second task segment for 01-01: the per-FILE partial counts must
    // re-aggregate across segments of one date
    val os = fs.create(new org.apache.hadoop.fs.Path(s"$out/events_2024-01-01.p1.tsv"))
    os.write("7\t12\tview\t40\n8\t13\tclick\t60\n".getBytes("UTF-8"))
    os.close()


    val grouped = readZone(out)
      .where(col("event_date") < "2024-01-03")
      .groupBy(col("event_date")).count()
    val rows = grouped.collect().map(r => (r.getString(0), r.getLong(1)))
      .toSeq.sortBy(_._1)
    assert(rows == Seq(("2024-01-01", 4L), ("2024-01-02", 1L)), s"got $rows")
    val scans = allScans(grouped.queryExecution.executedPlan)
    assert(scans.length == 1 &&
      scans.head.scan.isInstanceOf[graft.sources.TsvCountScan],
      s"grouped count must plan the count scan\n${grouped.queryExecution.executedPlan}")

    // bare count: same seam, no grouping column
    val bare = readZone(out).where(col("event_date") < "2024-01-03").count()
    assert(bare == 5L, s"got $bare")

    // COUNT(col) on a non-nullable connector column ≡ COUNT(*): same seam
    val byCol = readZone(out)
      .where(col("event_date") < "2024-01-03")
      .groupBy(col("event_date")).agg(count(col("event_id")).as("n"))
    val colRows = byCol.collect().map(r => (r.getString(0), r.getLong(1)))
      .toSeq.sortBy(_._1)
    assert(colRows == Seq(("2024-01-01", 4L), ("2024-01-02", 1L)), s"got $colRows")
    val colScans = allScans(byCol.queryExecution.executedPlan)
    assert(colScans.length == 1 &&
      colScans.head.scan.isInstanceOf[graft.sources.TsvCountScan],
      s"count(col) must plan the count scan\n${byCol.queryExecution.executedPlan}")
  }

  test("SUM(value_cents) pushes into the scan, one parsed column per line") {
    val out = buildZone()
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a second task segment for 01-01: per-FILE partial sums must
    // re-aggregate across segments of one date
    val os = fs.create(new org.apache.hadoop.fs.Path(s"$out/events_2024-01-01.p1.tsv"))
    os.write("7\t12\tview\t40\n8\t13\tclick\t60\n".getBytes("UTF-8"))
    os.close()


    val grouped = readZone(out)
      .where(col("event_date") < "2024-01-03")
      .groupBy(col("event_date")).agg(sum(col("value_cents")).as("cents"))
    val rows = grouped.collect().map(r => (r.getString(0), r.getLong(1)))
      .toSeq.sortBy(_._1)
    assert(rows == Seq(("2024-01-01", 450L), ("2024-01-02", 75L)), s"got $rows")
    val scans = allScans(grouped.queryExecution.executedPlan)
    assert(scans.length == 1 &&
      scans.head.scan.isInstanceOf[graft.sources.TsvCountScan],
      s"grouped sum must plan the agg scan\n${grouped.queryExecution.executedPlan}")
  }

  test("LIMIT pushes into the scan and caps each per-file reader") {
    val out = buildZone()
    val df = readZone(out)
      .where(col("event_date") < "2024-01-03")
      .limit(1)
    assert(df.collect().length == 1)
    val scans = allScans(df.queryExecution.executedPlan)
      .map(_.scan).collect { case t: graft.sources.TsvScan => t }
    assert(scans.length == 1 && scans.head.rowLimit == Some(1),
      s"limit must reach the scan\n${df.queryExecution.executedPlan}")
    // partial semantics: the scan caps per FILE; Spark's Limit takes the
    // global n — so a 2-file zone with rowLimit=1 still yields exactly 1
  }

  test("ORDER BY event_date LIMIT n opens only the n date-extreme files") {
    val out = buildZone()
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val os = fs.create(new org.apache.hadoop.fs.Path(s"$out/events_2024-01-04.tsv"))
    os.write("9\t14\tview\t10\n".getBytes("UTF-8"))
    os.close()

    val df = readZone(out)
      .where(col("event_date").isin("2024-01-01", "2024-01-02", "2024-01-04"))
      .select(col("event_date"))
      .orderBy(col("event_date").desc)
      .limit(2)
    val vals = df.collect().map(_.getString(0)).toSeq
    assert(vals == Seq("2024-01-04", "2024-01-02"), s"got $vals")

    val scans = allScans(df.queryExecution.executedPlan)
      .map(_.scan).collect { case t: graft.sources.TsvScan => t }
    assert(scans.length == 1 && scans.head.topNDesc == Some(true),
      s"topN must reach the scan\n${df.queryExecution.executedPlan}")
    // only the two date-extreme files become partitions — the 01-01 file
    // (and the poisoned 01-03, filtered out) are never listed into the scan
    val parts = scans.head.planInputPartitions()
      .map(_.asInstanceOf[graft.sources.TsvPartition].date).toSeq
    assert(parts == Seq("2024-01-04", "2024-01-02"), parts.toString)
  }

  test("MIN/MAX(event_date) answers from the listing with zero file opens") {
    val out = buildZone()
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a zero-length file: admitted by name but holds no rows — it must
    // not contribute its date (its aggregate contribution is the identity)
    fs.create(new org.apache.hadoop.fs.Path(s"$out/events_2024-01-04.tsv")).close()

    // the range INCLUDES the poisoned garbage-content 01-03 file: min/max
    // succeeds because no file is ever opened, where any row-shipping
    // plan (and the count pushdown, which must verify arity) would throw
    val row = readZone(out)
      .where(col("event_date") <= "2024-01-04")
      .agg(min(col("event_date")).as("first_date"),
           max(col("event_date")).as("last_date"))
      .collect().head
    assert((row.getString(0), row.getString(1)) == ("2024-01-01", "2024-01-03"),
      row.toString)

    // same range through the count path: the poison file IS opened → loud
    val ex = intercept[org.apache.spark.SparkException] {
      readZone(out).where(col("event_date") <= "2024-01-04")
        .groupBy(col("event_date")).count().collect()
    }
    assert(ex.getMessage != null)
  }

  test("maxFilesPerTrigger caps each micro-batch to one file via ReadMaxFiles") {
    val out = buildZone()
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream
      .format(classOf[graft.sources.TsvLandingSource].getName)
      .option("path", out)
      .option("startDate", "2024-01-01").option("endDate", "2024-01-03")
      .option("maxFilesPerTrigger", "1")
      .load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val n = df.count()
        if (n > 0) batches.add(n)
        ()
      }
      .option("checkpointLocation", graft.util.TempDirs.create("graft_dsv2_bounded_ckpt_"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // two admitted files → two capped data batches, one file each; the
    // drain still reaches the pinned AvailableNow target
    import scala.jdk.CollectionConverters._
    val counts = batches.asScala.toSeq.sorted
    assert(counts == Seq(1L, 2L), s"got $counts")

    // a non-positive cap would silently drain NOTHING (latestOffset
    // never advances) — reject it loudly at scan build instead
    val ex = intercept[Exception] {
      spark.read.format(classOf[graft.sources.TsvLandingSource].getName)
        .option("path", out).option("maxFilesPerTrigger", "0")
        .load().collect()
    }
    assert(ex.getMessage.contains("maxFilesPerTrigger"), ex.getMessage)
  }

  test("post-pruning statistics let the planner broadcast a pruned zone read") {
    val out = buildZone()
    // the probe side is ~24 MB by the planner's own estimate — beyond the
    // broadcast threshold — so a BroadcastHashJoin can only appear if the
    // ZONE side reports its true (tiny, post-pruning) size through
    // SupportsReportStatistics; a stats-less V2 relation would estimate
    // defaultSizeInBytes and force a sort-merge join
    val big = spark.range(0, 3000000)
      .select(concat(lit("2024-01-0"),
        ((col("id") % 5) + 1).cast("string")).as("event_date"), col("id"))
    val agg = readZone(out)
      .where(col("event_date") < "2024-01-03")
      .join(big, "event_date")
      .groupBy().count()
    val n = agg.collect().head.getLong(0)
    // days 01 (2 zone rows) and 02 (1 zone row) each match 600k probe rows
    assert(n == 1800000L, s"got $n")
    val planStr = agg.queryExecution.executedPlan.toString
    assert(planStr.contains("BroadcastHashJoin"),
      s"pruned zone read must broadcast off its reported stats\n$planStr")
  }

  test("skipping is advisory: pushed filters stay residual so rows re-check") {
    val out = buildZone()
    // equality on a non-date column is NOT pushable; the date IN list is —
    // and the row filter must still apply inside surviving files
    val df = readZone(out)
      .where(col("event_date").isin("2024-01-01") && col("event_type") === "view")
    val rows = df.collect()
    assert(rows.map(_.getAs[Long]("event_id")).toSeq == Seq(1L))
  }

  test("micro-batch stream: checkpoint resume reads only newly-arrived files") {
    import org.apache.spark.sql.streaming.Trigger
    val out = graft.util.TempDirs.create("graft_dsv2_zone_")
    val root = graft.util.TempDirs.create("graft_dsv2_stream_")
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def write(name: String, lines: Seq[String]): Unit = {
      val os = fs.create(new org.apache.hadoop.fs.Path(s"$out/$name"))
      os.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
      os.close()
    }
    def drain(): Unit = {
      val q = spark.readStream
        .format(classOf[graft.sources.TsvLandingSource].getName)
        .option("path", out).load()
        .writeStream.format("parquet")
        .option("path", s"$root/data")
        .option("checkpointLocation", s"$root/cp")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    write("events_2024-01-01.tsv", Seq("1\t10\tview\t100", "2\t11\tpurchase\t250"))
    drain()
    val first = spark.read.parquet(s"$root/data")
    assert(first.count() == 2, "first drain must read the initial file")
    // a new day arrives (sorts after every processed file — the zone's
    // append contract); resume from the SAME checkpoint
    write("events_2024-01-02.tsv", Seq("3\t10\tview\t75"))
    drain()
    val ids = spark.read.parquet(s"$root/data")
      .collect().map(_.getAs[Long]("event_id")).sorted.toSeq
    // exactly one new row, no replay of the already-committed file
    assert(ids == Seq(1L, 2L, 3L), s"got $ids")
  }

  test("streaming write publishes per epoch atomically and restarts add nothing") {
    val src = buildZone()
    val dst = graft.util.TempDirs.create("graft_dsv2_ssink_")
    val cp = graft.util.TempDirs.create("graft_dsv2_ssink_cp_")
    val cls = classOf[graft.sources.TsvLandingSource].getName
    def drain(): Unit = {
      val q = spark.readStream.format(cls).option("path", src)
        .option("endDate", "2024-01-03") // prune the poisoned file
        .option("maxFilesPerTrigger", "1") // one epoch per source file
        .load()
        .writeStream.format(cls).option("path", dst)
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    val fs = new org.apache.hadoop.fs.Path(dst)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def landed(): Seq[String] = fs.listStatus(new org.apache.hadoop.fs.Path(dst))
      .filter(_.isFile).map(_.getPath.getName).toSeq.sorted
    val names = landed()
    // per-epoch deterministic names, one epoch per admitted source file
    assert(names.forall(_.matches("""events_\d{4}-\d{2}-\d{2}\.e\d+\.p\d+\.tsv""")),
      names.toString)
    assert(names.map(_.replaceAll(""".*\.e(\d+)\..*""", "$1")).distinct.size == 2,
      names.toString)
    val rows = spark.read.format(cls).option("path", dst).load()
      .groupBy(col("event_date")).count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    assert(rows == Seq(("2024-01-01", 2L), ("2024-01-02", 1L)), rows.toString)
    // restart on the same checkpoint: all epochs committed, nothing lands
    drain()
    assert(landed() == names, landed().toString)
    // no staged files left behind
    val staging = new org.apache.hadoop.fs.Path(s"$dst/_staging")
    if (fs.exists(staging))
      assert(!fs.listFiles(staging, true).hasNext, "staging must be drained")
  }

  test("write commit protocol: a failing job publishes NOTHING to the zone") {
    val out = graft.util.TempDirs.create("graft_dsv2_sink_abort_")
    val cls = classOf[graft.sources.TsvLandingSource].getName
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // 2 tasks; the second task throws on its last row AFTER the first may
    // have task-committed — job abort must still leave the zone empty
    val df = spark.range(0, 100, 1, 2).select(
      lit("2024-01-01").as("event_date"),
      col("id").as("event_id"), col("id").as("user_id"),
      lit("view").as("event_type"),
      when(col("id") === 99, expr("raise_error('boom')").cast("long"))
        .otherwise(col("id")).as("value_cents"))
    intercept[Exception] {
      df.write.format(cls).option("path", out).mode("append").save()
    }
    val leftovers = fs.listStatus(new org.apache.hadoop.fs.Path(out)).toSeq
    assert(!leftovers.exists(_.getPath.getName.startsWith("events_")),
      s"torn write leaked into the zone: ${leftovers.map(_.getPath.getName)}")
    assert(!leftovers.exists(s => s.isDirectory && s.getPath.getName == "_staging" &&
      fs.listStatus(s.getPath).nonEmpty),
      "staging tree must be cleaned on abort")
  }

  test("write then read roundtrip across multiple tasks sharing a date") {
    val out = graft.util.TempDirs.create("graft_dsv2_sink_rt_")
    val cls = classOf[graft.sources.TsvLandingSource].getName
    // 4 tasks all carrying the same two dates → 8 staged files published
    val df = spark.range(0, 40, 1, 4).select(
      when(col("id") % 2 === 0, "2024-02-01").otherwise("2024-02-02").as("event_date"),
      col("id").as("event_id"), (col("id") * 10).as("user_id"),
      lit("view").as("event_type"), (col("id") * 100).as("value_cents"))
    df.write.format(cls).option("path", out).mode("append").save()
    val back = spark.read.format(cls).option("path", out).load()
    assert(back.count() == 40)
    val agg = back.groupBy(col("event_date")).count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(agg == Map("2024-02-01" -> 20L, "2024-02-02" -> 20L))
  }

  test("catalog plugin: SQL DDL lifecycle over zone directories") {
    val root = graft.util.TempDirs.create("graft_catalog_root_")
    spark.conf.set("spark.sql.catalog.gtest", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtest.root", root)
    try {
      spark.sql("CREATE TABLE gtest.zone_a (event_date STRING NOT NULL, " +
        "event_id BIGINT NOT NULL, user_id BIGINT NOT NULL, " +
        "event_type STRING NOT NULL, value_cents BIGINT NOT NULL)")
      assert(spark.sql("SHOW TABLES IN gtest").collect()
        .map(_.getAs[String]("tableName")).contains("zone_a"))
      // write through SQL INSERT → the connector's commit protocol
      spark.sql("INSERT INTO gtest.zone_a VALUES " +
        "('2024-03-01', 1, 10, 'view', 500), ('2024-03-02', 2, 11, 'purchase', 900)")
      val rows = spark.sql(
        "SELECT event_id, value_cents FROM gtest.zone_a ORDER BY event_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows == Seq((1L, 500L), (2L, 900L)))
      // fixed-schema contract: ALTER refused, mismatched CREATE refused
      intercept[Exception] {
        spark.sql("ALTER TABLE gtest.zone_a ADD COLUMN extra STRING")
      }
      intercept[Exception] {
        spark.sql("CREATE TABLE gtest.zone_b (wrong STRING)")
      }
      spark.sql("DROP TABLE gtest.zone_a")
      assert(!spark.sql("SHOW TABLES IN gtest").collect()
        .map(_.getAs[String]("tableName")).contains("zone_a"))
    } finally {
      spark.conf.unset("spark.sql.catalog.gtest")
      spark.conf.unset("spark.sql.catalog.gtest.root")
    }
  }

  test("overwrite replaces exactly the matched day's files; finer predicates refused") {
    val out = buildZone()
    val p = new org.apache.hadoop.fs.Path(out)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def zoneFiles(): Set[String] =
      fs.listStatus(p).filter(_.isFile).map(_.getPath.getName).toSet
    spark.conf.set("spark.sql.catalog.gow",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gow.root", p.getParent.toString)
    try {
      val before = zoneFiles()
      import spark.implicits._
      val corrected = Seq(("2024-01-02", 30L, 12L, "signup", 999L))
        .toDF("event_date", "event_id", "user_id", "event_type", "value_cents")
      corrected.writeTo(s"gow.`${p.getName}`")
        .overwrite(col("event_date") === "2024-01-02")
      val after = zoneFiles()
      // day-2's original file is gone, replaced by staged p-files; every
      // other file (including the poison) is untouched
      assert(!after.contains("events_2024-01-02.tsv"), "old day file must be deleted")
      assert(after.exists(f => f.startsWith("events_2024-01-02.") && f.endsWith(".tsv")),
        s"corrected day files must be published, got $after")
      assert(after.filterNot(_.startsWith("events_2024-01-02")) ==
        before.filterNot(_.startsWith("events_2024-01-02")),
        "no other file may be touched by a day-scoped overwrite")
      val day2 = readZone(out).where(col("event_date") < "2024-01-03")
        .where(col("event_date") === "2024-01-02")
        .collect().map(r => (r.getLong(1), r.getString(3), r.getLong(4)))
      assert(day2.toSeq == Seq((30L, "signup", 999L)), s"got ${day2.toSeq}")
      // a non-date predicate cannot map to whole files: refused at planning
      val bad = intercept[Exception] {
        corrected.writeTo(s"gow.`${p.getName}`").overwrite(col("event_id") === 30L)
      }
      assert(bad.getMessage != null, s"expected a loud refusal, got $bad")
      // SQL INSERT OVERWRITE = truncate-then-insert: only the new day remains
      spark.sql(s"INSERT OVERWRITE gow.`${p.getName}` " +
        "VALUES ('2024-01-05', 90, 9, 'view', 10)")
      val files = zoneFiles().filter(_.startsWith("events_"))
      assert(files.forall(_.startsWith("events_2024-01-05.")),
        s"truncate overwrite must clear every prior day file, got $files")
      val rows = readZone(out).collect().map(r => (r.getString(0), r.getLong(1)))
      assert(rows.toSeq == Seq(("2024-01-05", 90L)))
    } finally {
      spark.conf.unset("spark.sql.catalog.gow")
      spark.conf.unset("spark.sql.catalog.gow.root")
    }
  }

  test("an unfiltered read of a poisoned zone fails loudly, not silently") {
    val out = buildZone()
    val e = intercept[Exception] { readZone(out).count() }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(e).exists(c => Option(c.getMessage).exists(_.contains("malformed"))),
      s"expected the reader's malformed-line error, got: $e")
  }

  test("src_dsv2_spj_join moves no rows on a fresh session, under Spark's default confs") {
    // the query sets no v2-bucketing conf: both keys it relies on default
    // on, so a session that never touched them still plans the SPJ
    val fresh = spark.newSession()
    val df = SparkEntry.queries("src_dsv2_spj_join")(fresh, Sf0001)
    assert(df.count() > 0)
    assert(allShuffles(df.queryExecution.executedPlan).isEmpty,
      s"SPJ must move no rows on either side\n${df.queryExecution.executedPlan}")
    assert(!fresh.conf.getAll.keys.exists(_.startsWith("spark.sql.sources.v2.bucketing")),
      "the query must not set v2-bucketing confs on the session")
  }
}
