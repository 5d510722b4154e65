package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the properties that make these operators survive a
  * 100× scale-up, asserted so a regression fails CI, not a cluster.
  */
class PlanSpec extends AnyFunSuite {
  import SparkTestBase._

  private def physical(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // at 100 TB the config join is broadcast; when both sides are too big to
    // broadcast, Spark's runtime bloom filter is what keeps the fact scan
    // from shuffling rows that can't join — pin that it actually injects
    val conf = spark.conf
    val saved = (conf.get("spark.sql.autoBroadcastJoinThreshold"),
      conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled", "true"),
      conf.get("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // production default is 10GB — the fact side must be big enough to be
      // worth filtering; at sf0.001 that gate is scaled down, not disabled
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val dim = Tables.load(spark, Sf0001, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val fact = Tables.load(spark, Sf0001, "lineitem")
      val j = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      val plan = physical(j)
      assert(plan.contains("might_contain"),
        s"runtime bloom filter must inject on the fact side\n$plan")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", saved._1)
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", saved._2)
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", saved._3)
    }
  }

  test("watermark predicates on the rescaled nanos column push down to parquet") {
    val q = Tables.load(spark, Sf0001, "events")
      .where(col("ts") >= to_timestamp(lit("2024-01-10 00:00:00")) &&
        col("ts") < to_timestamp(lit("2024-01-20 00:00:00")))
    val plan = physical(q)
    assert(plan.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,"),
      s"NanosTimestampPushdown must restore scan-level pushdown\n$plan")
    assert(plan.contains("LessThan(ts,"), plan)
    // and the rewrite must not change results vs the un-rewritten predicate
    val expected = Tables.load(spark, Sf0001, "events")
      .collect().count { r =>
        val t = r.getAs[java.sql.Timestamp]("ts")
        !t.before(utcTs("2024-01-10 00:00:00")) && t.before(utcTs("2024-01-20 00:00:00"))
      }
    assert(q.count() == expected)
  }

  test("config lookup join broadcasts the dim side (no fact shuffle)") {
    val plan = physical(ops.RelationalOps.queries("j1_config_lookup_join")(spark, Sf0001))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), s"dim join must not sort-merge\n$plan")
  }

  test("pricing summary aggregates partially before the shuffle") {
    val plan = physical(ops.RelationalOps.queries("q1_pricing_summary")(spark, Sf0001))
    assert(plan.contains("partial_sum"),
      s"map-side partial aggregation expected before the exchange\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
  }

  test("column-list projection prunes the parquet read schema") {
    val q = Tables.load(spark, Sf0001, "customer").select("c_custkey", "c_name")
    val plan = physical(q)
    assert(plan.contains("ReadSchema: struct<c_custkey:bigint,c_name:string>"),
      s"scan must read only projected columns\n$plan")
  }

  test("top-1 sort-limit plans as TakeOrderedAndProject, not a full sort") {
    val plan = physical(ops.RelationalOps.queries("o1_orderby_desc_limit1")(spark, Sf0001))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("date-partitioned destination prunes partitions on a time filter") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val root = tmpDir("prune_")
    val meta = graft.etl.MetaStore(s"$root/meta")
    meta.putConfigs(Seq(graft.model.ClientBillingConfig(7, "p", "d", "t", None, None, None)))
    graft.etl.EtlJob.run(spark, meta, Tables.load(spark, Sf0001, "events"), "ts",
      s"$root/dest", graft.model.EtlJobMessage(7), utcTs("2024-02-01 00:00:00"),
      sleeper = _ => ())
    val q = spark.read.parquet(s"$root/dest")
      .where(col("export_date") === to_date(lit("2024-01-15")))
    val plan = physical(q)
    assert(plan.contains("PartitionFilters: [isnotnull(export_date"),
      s"the export_date layout must drive partition pruning\n$plan")
    assert(q.count() > 0)
  }

  test("star join over the partitioned fact prunes partitions DYNAMICALLY") {
    // the dim filter (busier-than-average days) is aggregate-derived, so
    // no static rewrite can reach the fact scan — only runtime DPP can.
    // If a cast ever slips between the join key and the partition column,
    // DPP silently stops firing and every partition's files get opened;
    // this pin turns that silent 30×-scan regression into a test failure.
    val plan = physical(ops.ScaleOps.queries("j8_partition_prune_join")(spark, Sf0001))
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"fact scan must carry a dynamicpruningexpression partition filter\n$plan")
  }

  test("minhash LSH candidate join is a hash-bucket equality join, not cartesian") {
    // the staged (lazy) pipeline: the registry serves its hygienic view
    // (materialize + cache release), whose root is an opaque LogicalRDD
    val staged = ops.DedupOps.dedupMinhashLshStaged(spark, Sf0001)
    val plan = physical(staged.plan)
    staged.release()
    assert(!plan.contains("CartesianProduct"),
      s"bucketed dedup must never plan a cartesian product\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"every join in the LSH path is an equi-join; a nested-loop join means " +
        s"candidate generation regressed to all-pairs\n$plan")
  }

  test("simhash + exact-truth path: every data join is an equi-join") {
    // the round-15 shape: simhash screen + prefix-filtered posting-join
    // truth (All-Pairs/PPJoin) + a 1-row audit annotation. The ONLY
    // permitted nested-loop is that single-row broadcast (an annotation,
    // not candidate generation) — so pin its count to exactly one and ban
    // cartesians outright.
    val staged = ops.DedupOps.dedupSimhashStaged(spark, Sf0001)
    val plan = physical(staged.plan)
    staged.release()
    assert(!plan.contains("CartesianProduct"),
      s"neither the screen nor the truth path may plan a cartesian\n$plan")
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).length <= 1,
      s"only the 1-row audit annotation may nested-loop; more means a " +
        s"candidate join regressed to all-pairs\n$plan")
  }

  test("incremental dedup (batch vs persisted index) stays equality-joined too") {
    val plan = physical(ops.IncrementalDedupOps.queries("dedup_incremental")(spark, Sf0001))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"batch-vs-index candidates must come from the (band_idx, band_hash) equi-join\n$plan")
  }

  test("incremental embedding dedup stays equality-joined on the signature") {
    val plan = physical(ops.SimilarityOps.queries("embed_incremental")(spark, Sf0001))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"batch-vs-index candidates must come from the sig equi-join\n$plan")
  }

  test("AQE coalesces post-shuffle partitions to the data's true size") {
    // at 100 TB spark.sql.shuffle.partitions is sized for the biggest
    // stage; AQE's runtime coalesce is what keeps a 5-group aggregate from
    // scheduling thousands of near-empty reducers. Pin that the final
    // adaptive plan actually coalesced below the static setting.
    val df = Tables.load(spark, Sf0001, "events")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    df.collect() // finalize the adaptive plan
    val plan = physical(df)
    assert(plan.contains("AQEShuffleRead") && plan.contains("coalesced"),
      s"final plan must carry a coalesced AQEShuffleRead\n$plan")
  }

  test("EXISTS subquery decorrelates to a semi join, not per-row re-execution") {
    val plan = physical(ops.CoverageOps.queries("q4_exists_subquery")(spark, Sf0001))
    assert(plan.contains("LeftSemi"),
      s"EXISTS must decorrelate to a left-semi equi-join\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"decorrelation must not fall back to a nested loop\n$plan")
  }

  test("NOT EXISTS decorrelates to a left-anti join beside the semi") {
    val plan = physical(ops.CoverageOps.queries("q21_not_exists")(spark, Sf0001))
    assert(plan.contains("LeftSemi") && plan.contains("LeftAnti"),
      s"EXISTS+NOT EXISTS must become semi + anti equi-joins\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"decorrelation must not fall back to a nested loop\n$plan")
  }

  test("correlated scalar aggregate decorrelates to an Aggregate below the join") {
    val plan = physical(ops.CoverageOps.queries("q17_scalar_subquery")(spark, Sf0001))
    // the per-part avg must be computed ONCE as a grouped aggregate and
    // equi-joined back, never re-run per probe row
    assert(plan.contains("avg("), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"scalar subquery must decorrelate to agg + equi-join\n$plan")
  }

  test("embedding decontamination candidates come from the sign-LSH equi-join") {
    val plan = physical(ops.SimilarityOps.queries("decontaminate_embed")(spark, Sf0001))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"test-vs-train candidates must come from the banded key equi-join\n$plan")
  }

  test("ngram-overlap decontamination is an inverted-index equi-join, never all-pairs") {
    val plan = physical(ops.SamplingOps.queries("decontaminate_ngram_overlap")(spark, Sf0001))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"contamination pairs must come from the gram-hash equi-join\n$plan")
  }

  test("repetition screen is map-only: one expression eval, no shuffle before the sort") {
    val df = ops.TextAnalysisOps.queries("ta_repetition")(spark, Sf0001)
    val plan = physical(df)
    assert("graft_repetition_stats".r.findAllIn(plan).length == 1,
      s"the native counter expression must be evaluated exactly once per row\n$plan")
    assert("Exchange".r.findAllIn(plan).length == 1,
      s"only the final ORDER BY may shuffle\n$plan")
  }

  test("sessionize and as-of share one user_id shuffle (plus only the final sort)") {
    Seq("w8_gap_sessionize", "j2_asof_join").foreach { q =>
      val plan = physical(SparkEntry.queries(q)(spark, Sf0001))
      assert("Exchange".r.findAllIn(plan).length == 2,
        s"$q: both windows and the aggregate must reuse ONE user_id " +
          s"partitioning; only the final ORDER BY may add an exchange\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q\n$plan")
    }
  }

  test("per-group quality top-K plans a map-side partial WindowGroupLimit") {
    val plan = physical(ops.TextAnalysisOps.queries("mix_topk_quality")(spark, Sf0001))
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"the rank filter must push a partial group-limit below the lang shuffle\n$plan")
  }

  test("vocab top-K plans partial aggregation and TakeOrderedAndProject") {
    val plan = physical(ops.TextAnalysisOps.queries("ta_vocab_topk")(spark, Sf0001))
    assert(plan.contains("partial_count") || plan.contains("partial count"),
      s"word counts must combine map-side before the shuffle\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-K must not materialize a global sort\n$plan")
    assert("Exchange".r.findAllIn(plan).length == 1, plan)
  }

  test("rollup computes all three levels from ONE fact scan via Expand") {
    val plan = physical(ops.RelationalOps.queries("a5_rollup_revenue")(spark, Sf0001))
    assert(plan.contains("Expand"),
      s"rollup must plan a single Expand, not one aggregate per level\n$plan")
    assert("Scan parquet".r.findAllIn(plan).length == 1,
      s"the fact table must be scanned exactly once\n$plan")
    assert(plan.contains("partial"), s"partial agg must precede the shuffle\n$plan")
  }

  test("scd2 history is one key shuffle, no joins") {
    val plan = physical(ops.WarehouseOps.queries("scd2_history")(spark, Sf0001))
    assert(!plan.contains("Join"), s"history build must be join-free\n$plan")
    assert("Exchange".r.findAllIn(plan).length == 2,
      s"one custkey partitioning + the final ORDER BY only\n$plan")
  }

  test("window suite shares ONE user_id shuffle across both window orderings") {
    val plan = physical(ops.RelationalOps.queries("a6_window_suite")(spark, Sf0001))
    assert("Exchange".r.findAllIn(plan).length == 2,
      s"ts-order and cents-order windows must reuse one user_id partitioning; " +
        s"only the final ORDER BY may add an exchange\n$plan")
    assert("Window".r.findAllIn(plan).nonEmpty && !plan.contains("CartesianProduct"), plan)
  }

  test("temporal dim join stays an equi-join with an interval residual") {
    val plan = physical(ops.WarehouseOps.queries("j7_temporal_dim_join")(spark, Sf0001))
    // the key+residual shape: user_id equi-join (BHJ here, SMJ at scale)
    // carrying the validity-interval predicate — never a nested loop over
    // the fact × every dimension version
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
    assert(plan.contains("valid_from") && plan.contains("valid_to"),
      s"interval residual must ride the equi-join\n$plan")
  }

  test("funnel stacks its three dependent windows over ONE user_id shuffle") {
    val plan = physical(ops.ProductAnalyticsOps.queries("funnel_conversion")(spark, Sf0001))
    // step n's predicate references step n-1's window result, yet all three
    // conditional mins must share a single user_id Exchange (plus the
    // per-user distinct and the stack'd 3-row final aggregate)
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(plan).length == 1,
      s"the three funnel windows must share one user_id partitioning\n$plan")
    assert("Window".r.findAllIn(plan).nonEmpty && !plan.contains("Join"), plan)
  }

  test("PQ encoding is map-only: no shuffle before the final sort") {
    val plan = physical(ops.SimilarityOps.queries("embed_pq_codes")(spark, Sf0001))
    assert("Exchange hashpartitioning".r.findAllIn(plan).isEmpty,
      s"encoding must be a broadcast-codebook projection, never a key shuffle\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  /** Every `src/main/scala` source file containing `needle`, by relative path. */
  private def mainSourcesContaining(needle: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    // resolve src/main robustly: sbt forks tests with cwd = project root, but
    // don't silently pass if that ever changes
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"expected to run from the project root; cwd=${java.nio.file.Paths.get("").toAbsolutePath}")
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => new String(java.nio.file.Files.readAllBytes(p)).contains(needle))
      .map(_.toString).toSet
    finally walk.close()
  }

  test("memory sinks are confined to the bounded-drain helper (SCALE.md sink rule)") {
    // the memory sink is driver-resident; the only sanctioned use is
    // runToMemory's Complete/Update-mode aggregate drains. A new
    // format("memory") anywhere else in src/main is a scale regression,
    // dev mains included (the drain profile's numbers are on record in
    // SCALE.md "Streaming drain floor", round 19)
    val allowed = Set("src/main/scala/graft/streaming/StreamingIngest.scala")
    val offenders = mainSourcesContaining("format(\"memory\")")
    assert(offenders.subsetOf(allowed),
      s"memory sink outside the sanctioned drain helper: ${offenders -- allowed}")
    // and the helper itself rejects O(input) drains at runtime
    import org.apache.spark.sql.streaming.OutputMode
    val stream = graft.streaming.StreamingIngest.eventsStream(spark, Sf0001)
    val ex = intercept[IllegalArgumentException] {
      graft.streaming.StreamingIngest.runToMemory(stream, "guard_probe", OutputMode.Append())
    }
    assert(ex.getMessage.contains("runToParquet"))
  }

  test("every main builds its session in GraftSession.forHarness") {
    // one builder means Bench, Verify and the dev mains run identical confs
    // by construction; a main that differs sets it on the returned session
    assert(mainSourcesContaining("SparkSession.builder") ==
      Set("src/main/scala/graft/GraftSession.scala"))
  }

  test("the mains are Bench, Verify, PlanAudit and StateScaleBench") {
    // each has its one-line reason in SCALE.md "Sweep hygiene"; a new dev
    // main comes with its reason there, and a settled one is deleted
    assert(mainSourcesContaining("def main(") == Set(
      "src/main/scala/graft/Bench.scala", "src/main/scala/graft/Verify.scala",
      "src/main/scala/graft/PlanAudit.scala",
      "src/main/scala/graft/streaming/StateScaleBench.scala"))
  }

  test("session confs are put back in one place") {
    // ScopedConf.withConfs restores each key's previous value or unsets it;
    // a hand-written set-then-unset elsewhere drops what the session had
    assert(mainSourcesContaining("conf.unset(") ==
      Set("src/main/scala/graft/util/ScopedConf.scala"))
  }

  test("no system-property measurement seam in src/main") {
    // A/B seams read from production paths were removed with their mains;
    // a new one must not come back unseen
    val seams = mainSourcesContaining("sys.props.get(\"graft.")
    assert(seams.isEmpty, s"system-property seams in src/main: $seams")
  }

  test("engine wiring lives only in GraftSession.install") {
    // one list of rules, strategies, functions and read confs: a copy
    // elsewhere would make a query's rule set depend on what ran before it
    Seq("extraOptimizations", "extraStrategies", "createOrReplaceTempFunction",
      "nanosAsLong").foreach { needle =>
      assert(mainSourcesContaining(needle) == Set("src/main/scala/graft/GraftSession.scala"),
        needle)
    }
  }

  test("dynamic partition overwrite is a per-write option, not session conf") {
    // session conf is shared by every write on the session, so a
    // set-and-restore races with any write running beside it
    val offenders = mainSourcesContaining("spark.sql.sources.partitionOverwriteMode")
    assert(offenders.isEmpty, s"session-conf overwrite mode in src/main: $offenders")
  }

  test("destination partitions are replaced one way") {
    // Destination.replacePartitions is the only way a destination partition
    // is replaced (no dynamic overwrite), and the ETL job checkpoints nothing
    val overwrite = mainSourcesContaining("partitionOverwriteMode")
    assert(overwrite.isEmpty, s"dynamic partition overwrite in src/main: $overwrite")
    val etlCheckpoints = mainSourcesContaining("localCheckpoint")
      .filter(_.startsWith("src/main/scala/graft/etl/"))
    assert(etlCheckpoints.isEmpty, s"localCheckpoint in the ETL job: $etlCheckpoints")
  }

  test("ETL runs only append; maintenance writers alone replace partitions") {
    // Exact mode appends under a window-scoped name and rolls back by name,
    // so no run re-reads committed rows into its write, and
    // Destination.replacePartitions serves compaction and tombstone deletes
    // (both in Destination) and backfill (a ScaleOps query)
    val callers = mainSourcesContaining("replacePartitions(").filter { f =>
      val src = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)))
      src.split('\n').exists(l => l.contains("replacePartitions(") && !l.contains("def replacePartitions("))
    }
    assert(callers == Set("src/main/scala/graft/etl/Destination.scala",
      "src/main/scala/graft/ops/ScaleOps.scala"), callers)
    val unions = mainSourcesContaining("unionByName").filter(_.startsWith("src/main/scala/graft/etl/"))
    assert(unions.isEmpty, s"unionByName in the ETL job: $unions")
  }

  test("only Destination spells the destination layout") {
    // partition directories, hidden stages and the manifest ledger are
    // named in one module, so a change of layout changes one file
    Seq("_manifests", "_staging_", "export_date=").foreach { needle =>
      assert(mainSourcesContaining(needle) == Set("src/main/scala/graft/etl/Destination.scala"),
        needle)
    }
  }

  test("every fully qualified Scaladoc link in src/main resolves") {
    import scala.jdk.CollectionConverters._
    // `sbt doc` is not part of the test run, so a link left stale by a move
    // or rename shows only here: the named type must be defined in its
    // package's directory, and each named member in that type's file
    val root = java.nio.file.Paths.get("src/main/scala")
    def read(p: java.nio.file.Path) = new String(java.nio.file.Files.readAllBytes(p))
    def sources(dir: java.nio.file.Path, deep: Boolean): Seq[java.nio.file.Path] =
      if (!java.nio.file.Files.isDirectory(dir)) Nil
      else {
        val walk = if (deep) java.nio.file.Files.walk(dir) else java.nio.file.Files.list(dir)
        try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
        finally walk.close()
      }
    def defines(src: String, name: String) =
      ("""\b(def|val|var|class|object|trait|type)\s+""" + java.util.regex.Pattern.quote(name) +
        """(?![\w$])""").r.findFirstIn(src).isDefined
    val links = sources(root, deep = true).flatMap { p =>
      """\[\[(graft\.[\w.]+)""".r.findAllMatchIn(read(p))
        .map(m => s"$p: ${m.group(1)}" -> m.group(1))
    }
    assert(links.nonEmpty)
    val broken = links.filterNot { case (_, link) =>
      val (pkg, rest) = link.split('.').toSeq.span(_.head.isLower)
      rest match {
        case tpe +: members =>
          sources(root.resolve(pkg.mkString("/")), deep = false)
            .filter(f => defines(read(f), tpe))
            .exists(f => members.forall(m => defines(read(f), m)))
        case _ => false
      }
    }.map(_._1)
    assert(broken.isEmpty, s"stale Scaladoc links:\n${broken.mkString("\n")}")
  }

  test("the control plane runs on the driver: no Spark JDBC dialect, write or file-name read") {
    // MetaStore calls launch no Spark job; a JDBC dialect registration is
    // JVM-global and changes the DDL of every other Spark JDBC write
    assert(mainSourcesContaining("JdbcDialects").isEmpty)
    Seq("src/main/scala/graft/etl/MetaStore.scala", "src/main/scala/graft/etl/JdbcMetaStore.scala")
      .foreach { f =>
        val src = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)))
        // a DataFrameWriter (`.write` not called as a method); parquet-mr's
        // `writer.write(group)` on the driver is the status append itself
        assert("""\.write\b(?!\s*\()""".r.findFirstIn(src).isEmpty, s"$f uses a Spark writer")
        assert(!src.contains("input_file_name"), s"$f reads files through Spark")
      }
  }

  test("PlanAudit counts the shuffle stages that ran before AQE emptied the plan") {
    // the partial aggregate's shuffle stage runs and finds no rows; AQE
    // replaces the final aggregate with an empty relation, then the sort
    // above it (and its range exchange, which never runs) with another
    import org.apache.spark.sql.execution.EmptyRelationExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = spark.range(0, 1000).where(col("id") < 0)
      .groupBy((col("id") % 10).as("k")).count().orderBy("k")
    assert(df.collect().isEmpty)
    val ran = PlanAudit.ranNodes(df.queryExecution.executedPlan)
    assert(ran.exists(_.isInstanceOf[EmptyRelationExec]), s"not emptied:\n${ran.head}")
    assert(ran.count(_.isInstanceOf[ShuffleExchangeLike]) == 1, ran.mkString("\n"))
  }

  test("analytic joins: fixed dims broadcast, no cartesian, distinct via Expand") {
    // q5: nation/region are fixed-cardinality at any SF — their broadcasts
    // are pinned; everything else is AQE's call. No plan may go cartesian.
    val q5 = physical(ops.RelationalOps.queries("q5_local_supplier")(spark, Sf0001))
    assert("BroadcastHashJoin".r.findAllIn(q5).length >= 2,
      s"nation/region must broadcast\n$q5")
    Seq("q3_shipping_priority", "q5_local_supplier", "q18_large_orders").foreach { q =>
      val p = physical(ops.RelationalOps.queries(q)(spark, Sf0001))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q must stay equi-joined\n$p")
    }
    // q18: the HAVING aggregate must sit BELOW the joins (the join probes
    // |qualifying orders|, not |lineitem|) — walk the tree: some join node
    // must have an Aggregate with the sum_qty filter inside its subtree
    locally {
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
      import org.apache.spark.sql.execution.joins.BaseJoinExec
      def nodes(p: SparkPlan): Seq[SparkPlan] = {
        val inner = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case other => other.children
        }
        p +: inner.flatMap(nodes)
      }
      val plan = ops.RelationalOps.queries("q18_large_orders")(spark, Sf0001)
        .queryExecution.executedPlan
      val aggBelowJoin = nodes(plan).collect { case j: BaseJoinExec => j }.exists(j =>
        j.children.exists(side => nodes(side).exists {
          case a: BaseAggregateExec =>
            a.aggregateExpressions.exists(_.toString.contains("sum"))
          case _ => false
        }))
      assert(aggBelowJoin,
        s"grouped-lineitem HAVING agg must sit below the join\n$plan")
    }
    // a7: per-group multi-distinct goes through Expand (two-phase distinct)
    val a7 = physical(ops.RelationalOps.queries("a7_distinct_agg")(spark, Sf0001))
    assert(a7.contains("Expand"), s"COUNT(DISTINCT) must plan via Expand\n$a7")
  }

  test("q19 disjunctive join predicate pushes per-side implications to both scans") {
    // the OR straddles the join, but its side-local implications must
    // reach the scans: l_quantity bounds on lineitem, p_brand/p_size on
    // part — otherwise at 100 TB the join sees the whole fact table
    val plan = physical(ops.RelationalOps.queries("q19_disjunctive_join")(spark, Sf0001))
    assert(plan.contains("PushedFilters: [IsNotNull(l_partkey), Or("),
      s"lineitem scan must carry the extracted quantity disjunction\n$plan")
    // (scan PushedFilters text is truncated in toString — pin the part
    // side via its Filter node, which carries the full extracted OR)
    assert("Filter [^\\n]*= Brand#1\\)".r.findFirstIn(plan).isDefined,
      s"part side must filter the extracted brand/size disjunction before the join\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q20 threshold windows over the rollup — exactly one fact scan") {
    // the avg-threshold must NOT replan the lineitem⋈part subtree (the
    // broadcast-aggregate crossJoin spelling scans the fact twice)
    val plan = physical(ops.RelationalOps.queries("q20_nested_semijoin")(spark, Sf0001))
    assert("lineitem\\.parquet".r.findAllIn(plan).length == 1,
      s"exactly one lineitem scan\n$plan")
    assert(plan.contains("LeftSemi"), s"supplier side must semi-join\n$plan")
  }

  test("q22 dormant screen: broadcast 1-row threshold + anti join, date pushed to orders") {
    val plan = physical(ops.RelationalOps.queries("q22_dormant_rich_anti")(spark, Sf0001))
    assert(plan.contains("LeftAnti"), s"NOT EXISTS must plan as anti join\n$plan")
    assert(plan.contains("GreaterThanOrEqual(o_orderdate,"),
      s"dormancy cutoff must push to the orders scan\n$plan")
    // the positive-balance aggregate is 1 row: its join must broadcast
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"threshold aggregate must ride a broadcast\n$plan")
  }

  test("q7/q8 multi-join trees stay equi-joined with broadcast dims") {
    Seq("q7_volume_shipping", "q8_market_share").foreach { q =>
      val p = physical(ops.RelationalOps.queries(q)(spark, Sf0001))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q must stay equi-joined\n$p")
      assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
        s"$q: nation dims must broadcast\n$p")
      assert(p.contains("partial_sum"), s"$q: map-side partial agg\n$p")
    }
  }

  test("KS drift windows over the cents rollup, one fact scan, shared partitioning") {
    val plan = physical(ops.ScaleOps.queries("stats_ks_drift")(spark, Sf0001))
    assert("Scan parquet".r.findAllIn(plan).length == 1, s"one fact scan\n$plan")
    // the cumulative ECDF windows must consume the (type, cent) rollup,
    // not raw events: partial agg below the Window nodes
    val winAt = plan.indexOf("Window")
    assert(winAt >= 0 && plan.indexOf("partial_sum", winAt) > winAt,
      s"Window must sit above the rollup aggregate\n$plan")
  }

  test("global-shuffle preview is TakeOrdered on the hash key, never a global sort") {
    val plan = physical(ops.SamplingOps.queries("mix_global_shuffle")(spark, Sf0001))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-of-order preview must use a per-partition heap\n$plan")
  }

  test("BandedIntervalJoin rewrites the naive interval join to a banded equi join") {
    val plan = physical(ops.WarehouseOps.queries("j3_range_join_auto")(spark, Sf0001))
    assert(plan.contains("__graft_band"),
      s"rule must inject the band key\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"banded rewrite must hash-join\n$plan")

    // CONTROL: the same naive join with the rule removed planning BNLJ
    // proves the rule (not something else) is what rescued the plan
    def naive = {
      val win = spark.range(10).select(col("id").cast("int").as("wid"),
        expr("timestamp'2024-01-01 18:00:00' + make_interval(0,0,0,0, CAST(id*66 AS INT), 0, 0)")
          .as("w_start"))
        .withColumn("w_end", expr("w_start + INTERVAL 36 HOURS"))
      Tables.load(spark, Sf0001, "events").select(col("event_id"), col("ts"))
        .join(win, col("ts") >= col("w_start") && col("ts") < col("w_end"))
    }
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      saved.filterNot(_ eq graft.plans.BandedIntervalJoin)
    try {
      val off = physical(naive)
      assert(off.contains("BroadcastNestedLoopJoin"),
        s"without the rule the naive form must nested-loop (control)\n$off")
    } finally spark.experimental.extraOptimizations = saved
    val on = physical(naive)
    assert(on.contains("__graft_band") && !on.contains("BroadcastNestedLoopJoin"), on)

    // GUARD: a range residual beside an equi key must NOT be banded —
    // the equi key already hash-joins, banding would only add an Expand
    val equiPlan = physical(
      ops.WarehouseOps.queries("j7_temporal_dim_join")(spark, Sf0001))
    assert(!equiPlan.contains("__graft_band"),
      s"rule must not fire on equi-keyed interval residuals\n$equiPlan")
  }

  test("lateral top-k decorrelates to a windowed group limit, not per-row subqueries") {
    val plan = physical(ops.CoverageOps.queries("q23_lateral_topk")(spark, Sf0001))
    assert(plan.contains("WindowGroupLimit") || plan.contains("Window"),
      s"correlated LIMIT must decorrelate to a per-group window limit\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("keyset page: cursor predicate reaches the scan, page via TakeOrdered") {
    val plan = physical(ops.CoverageOps.queries("o5_keyset_page")(spark, Sf0001))
    assert(plan.contains("PushedFilters: [Or("),
      s"the (ts,id) cursor disjunction must push to the parquet scan\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"the page must be a distributed top-N, not a global sort\n$plan")
  }

  test("NOT IN plans a null-aware anti join (NAAJ), not a plain anti join") {
    // parquet columns are nullable-typed, so Catalyst cannot prove the
    // list non-null: the anti join must carry the null-aware flag (the
    // trailing `true` on BroadcastHashJoin LeftAnti) or NOT IN's
    // three-valued semantics would be silently wrong on a null-bearing list
    val plan = physical(ops.CoverageOps.queries("q16_notin_nullaware")(spark, Sf0001))
    assert(plan.contains("LeftAnti, BuildRight, true"),
      s"NOT IN must plan as null-aware anti join\n$plan")
  }

  test("q13 histogram: zero-order customers survive the left join into the 0 bucket") {
    val rows = ops.CoverageOps.queries("q13_order_count_hist")(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // two-level rollup: both aggregations partial, fact collapsed first
    val plan = physical(ops.CoverageOps.queries("q13_order_count_hist")(spark, Sf0001))
    assert("partial_count".r.findAllIn(plan).length >= 2,
      s"both aggregation levels must carry map-side partials\n$plan")
    // mass conservation: histogram buckets sum to |customers|
    val nCust = Tables.load(spark, Sf0001, "customer").count()
    assert(rows.map(_._2).sum == nCust)
  }

  test("null-safe join keeps EqualNullSafe as a hash-join key, never nested-loop") {
    val plan = physical(ops.RelationalOps.queries("j9_nullsafe_join")(spark, Sf0001))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"),
      s"<=> must stay a hash/merge join\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"null-safe equality must not fall back to nested loop\n$plan")
  }

  test("sliding windows expand below the partial aggregation") {
    // window('2 days','1 day') puts each event in 2 windows via Expand;
    // the partial agg must sit ABOVE the Expand so the shuffle carries
    // window-rollup rows, never 2× the fact
    val plan = physical(ops.RelationalOps.queries("w17_sliding_windows")(spark, Sf0001))
    assert(plan.contains("Expand"), s"window TVF must plan via Expand\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"map-side partial agg expected above the Expand\n$plan")
  }

  test("q6 pushes all three range predicates to the parquet scan") {
    // PushedFilters renders truncated at the default 100 chars — widen so
    // the assertion sees the whole list
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    val plan = try
      physical(ops.RelationalOps.queries("q6_forecast_revenue")(spark, Sf0001))
    finally spark.conf.unset("spark.sql.maxMetadataStringLength")
    // the pushdown-proof query: date, discount band, and quantity cap must
    // ALL reach PushedFilters so row groups can be skipped at 100 TB
    assert(plan.contains("GreaterThanOrEqual(l_shipdate,") &&
      plan.contains("LessThan(l_shipdate,"), s"date range must push down\n$plan")
    assert(plan.contains("GreaterThanOrEqual(l_discount,0.05)") &&
      plan.contains("LessThanOrEqual(l_discount,0.07)"),
      s"discount band must push down\n$plan")
    assert(plan.contains("LessThan(l_quantity,24"),
      s"quantity cap must push down\n$plan")
    assert(plan.contains("partial_sum"), s"map-side partial agg expected\n$plan")
  }

  test("q9 broadcasts the name-filtered part and nation dims, no cartesian") {
    val plan = physical(ops.RelationalOps.queries("q9_product_profit")(spark, Sf0001))
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2,
      s"part and nation must broadcast\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"no cartesian allowed\n$plan")
    // the substring dim filter runs at the part scan, not post-join
    assert(plan.contains("Contains(p_name,red)") ||
      plan.contains("StringContains(p_name,red)"),
      s"p_name filter must sit at the scan\n$plan")
  }

  test("triangle counting joins stay equi-keyed — no nested-loop anywhere") {
    val staged = ops.ClusterOps.graphTrianglesStaged(spark, Sf0001)
    val plan = physical(staged.plan)
    staged.release()
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"degree orientation must keep every join hashable\n$plan")
    // the close step is a LOCAL adjacency intersection inside codegen —
    // no wedge set may ever reach an exchange or a closing join
    assert(plan.contains("array_intersect"),
      s"the closing check must be a local array_intersect\n$plan")
    // the orientation is STORED in the graph table — the in-session
    // degree rollup (unionAll + groupBy) and the two orientation joins
    // must be GONE, or every run re-pays O(m) exchanges for columns the
    // table already has
    assert(!plan.contains("Union"),
      s"degree rollup must read the graph table, not rebuild it\n$plan")
    assert(!plan.contains("du#") && !plan.contains("dv#"),
      s"orientation must come from the stored oriented half, not per-run joins\n$plan")
  }

  test("prepared pagerank never re-distincts the graph table or rebuilds degrees") {
    // identity checkpointer: keeps the FULL 3-round plan visible (the
    // registry query truncates lineage per round, hiding prep work from
    // the final plan string)
    val full = ops.ClusterOps.pagerankPrepared(
      ops.ClusterOps.coPurchaseEdges(spark, Sf0001),
      ops.ClusterOps.coPurchaseDegrees(spark, Sf0001),
      iterations = 3, checkpointer = df => df)
    val plan = physical(full)
    // a defensive re-distinct of the edge list shows up as an aggregate
    // keyed on BOTH src and dst — one full edge exchange per run at scale
    val distinctAgg = "HashAggregate\\(keys=\\[src#\\d+L?, dst#\\d+L?\\]".r
    assert(distinctAgg.findFirstIn(plan).isEmpty,
      s"graph table is distinct by contract — no re-distinct exchange\n$plan")
    // degrees are a stored column of the graph table: the only aggregates
    // in the plan are the per-round contribution rollups (keyed on the
    // rank row's node), never a degree rebuild keyed on src alone
    val perRoundAggs = "HashAggregate\\(keys=\\[node#\\d+L?\\]".r
      .findAllIn(plan).length
    assert(perRoundAggs >= 3, // partial+final per round, 3 rounds
      s"rank rollups missing — plan shape changed?\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"equi-joins only\n$plan")
  }

  test("bfs rounds read the per-run cached adjacency — one edge scan per run") {
    // identity checkpointer keeps the FULL 3-round plan visible (the
    // registry query truncates lineage per round); the plan is captured
    // BEFORE the cache is released, as bfsHops itself would
    val edges = ops.ClusterOps.coPurchaseEdges(spark, Sf0001)
    // seeds come from the degrees relation, NOT from `edges`: the identity
    // checkpointer keeps seed lineage live, and a seed set derived from the
    // same Dataset as the adjacency trips the ambiguous-self-join check
    // (the registry query materializes round 0, so it can seed from edges)
    val seeds = ops.ClusterOps.coPurchaseDegrees(spark, Sf0001)
      .select(col("node")).limit(2)
    val (out, e) = ops.ClusterOps.bfsHopsStaged(edges, seeds, maxHops = 3,
      checkpointer = df => df)
    val plan = physical(out)
    e.unpersist(blocking = false)
    // every round's edge side must read the InMemoryRelation built once
    // per run (pagerankPrepared's discipline — the edge file is scanned
    // once, each round joins cache-side with only frontier rows moving);
    // 3 rounds → at least 3 cache reads
    assert("InMemoryTableScan".r.findAllIn(plan).length >= 3,
      s"bfs rounds must read the per-run cached adjacency, not re-scan the file\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"equi-joins only\n$plan")
  }

  test("the materialized co-purchase graph table carries degrees and orientation") {
    // the 100 TB contract: the graph table a pipeline writes next to the
    // corpus includes the degree columns AND the degree-oriented edge
    // half, so no consumer ever rebuilds either
    assert(ops.ClusterOps.coPurchaseEdges(spark, Sf0001).columns.toSeq ==
      Seq("src", "dst", "d"))
    assert(ops.ClusterOps.coPurchaseDegrees(spark, Sf0001).columns.toSeq ==
      Seq("node", "d"))
    assert(ops.ClusterOps.coPurchaseOriented(spark, Sf0001).columns.toSeq ==
      Seq("s", "t"))
    assert(ops.ClusterOps.coPurchaseCanonical(spark, Sf0001).columns.toSeq ==
      Seq("u", "v"))
    // the stored orientation must BE the low-(degree, id) → high order the
    // close assumes: recompute it from degrees and diff — empty both ways
    val deg = ops.ClusterOps.coPurchaseDegrees(spark, Sf0001)
    val expected = ops.ClusterOps.coPurchaseCanonical(spark, Sf0001)
      .join(deg.select(col("node").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("d").as("dv")), "v")
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("u"))
          .otherwise(col("v")).as("s"),
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("v"))
          .otherwise(col("u")).as("t"))
    val stored = ops.ClusterOps.coPurchaseOriented(spark, Sf0001)
    assert(stored.exceptAll(expected).isEmpty && expected.exceptAll(stored).isEmpty,
      "stored orientation disagrees with the degree order")
  }

  test("containment probe is an equi-join on the shingle hash, never all-pairs") {
    val staged = ops.DedupOps.dedupContainmentStaged(spark, Sf0001)
    val plan = physical(staged.plan)
    staged.release()
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"posting-list join only\n$plan")
  }

  test("basket lift never FORCES a broadcast of the |parts| rollup") {
    // an explicit broadcast() hint on the per-part count join would OOM
    // the driver at 100× scale and overrides AQE's size protection; the
    // logical plan must carry at most the 1-row total's hint. AQE remains
    // free to CHOOSE a broadcast at small SF — we pin the absence of the
    // hint (plan-time coercion), not the runtime join strategy.
    val staged = ops.ProductAnalyticsOps.basketLiftStaged(spark, Sf0001)
    val analyzed = staged.plan.queryExecution.analyzed
    staged.release()
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    def hasHint(p: LogicalPlan): Boolean = p match {
      case j: Join =>
        j.hint.leftHint.exists(_.strategy.isDefined) ||
          j.hint.rightHint.exists(_.strategy.isDefined)
      case _ => false
    }
    // UnresolvedHint nodes resolve into JoinHint during analysis; count
    // join nodes whose hint pins a strategy and whose keys are the part
    // columns (the total's crossJoin is the one sanctioned broadcast)
    val forced = analyzed.collect {
      case j: Join if hasHint(j) &&
        j.condition.exists(_.references.exists(a =>
          a.name == "part_a" || a.name == "part_b")) => j
    }
    assert(forced.isEmpty,
      s"per-part rollup joins must not carry a broadcast hint\n${forced.mkString("\n")}")
  }

  test("cumulative daily growth aggregates the fact table BEFORE windowing") {
    val plan = physical(ops.RelationalOps.queries("w9_cumulative_daily")(spark, Sf0001))
    // the running sum must window over the day rollup, not the raw events:
    // the aggregate (with map-side partial) appears below the Window node
    assert(plan.contains("partial"), s"partial agg must precede the shuffle\n$plan")
    val winAt = plan.indexOf("Window")
    val aggAt = plan.lastIndexOf("HashAggregate")
    assert(winAt >= 0 && aggAt > winAt,
      s"Window must consume the aggregate's output (agg below window)\n$plan")
    assert("Scan parquet".r.findAllIn(plan).length == 1,
      s"one fact scan only\n$plan")
  }
}
