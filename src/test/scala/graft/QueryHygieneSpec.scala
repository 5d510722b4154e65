package graft

import org.apache.spark.sql.graft.GraftSqlBridge
import org.scalatest.funsuite.AnyFunSuite

/** The sweep-hygiene contract (SCALE.md "Sweep hygiene & bench
  * methodology"): a query may cache whatever it wants WHILE it runs, but
  * returning from the registry function must leave nothing registered in
  * the CacheManager, and iterative queries must not accumulate persisted
  * round blocks — otherwise a 300-query single-session sweep bills query
  * N's working set to query N+40 (r11: `graph_triangles` 6.75 s isolated
  * → 24.6 s at sweep position ~130).
  */
class QueryHygieneSpec extends AnyFunSuite {
  import SparkTestBase._

  /** Every registry query whose plan references query-local caches. */
  private val cachingQueries = Seq(
    "dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_simhash",
    "dedup_source_matrix", "dedup_containment", "dedup_clusters",
    "graph_triangles", "graph_pagerank", "graph_bfs_hops",
    "basket_lift", "stats_kmv_setops", "embed_kmeans", "embed_outliers",
    "semdedup_prune", "ingest_screen_pipeline")

  test("hygienic queries leave NOTHING registered in the CacheManager") {
    spark.catalog.clearCache() // start from a known-clean session
    cachingQueries.foreach { name =>
      val df = SparkEntry.queries(name)(spark, Sf0001)
      df.count() // terminal action, as Verify/Bench/the driver run it
      assert(GraftSqlBridge.cacheManagerEmpty(spark),
        s"$name left cached relations registered after returning")
    }
  }

  test("iterative queries do not accumulate persisted round blocks") {
    // each call may leave AT MOST its own materialized result (freed by
    // the ContextCleaner once the caller drops the reference); superseded
    // rounds are released eagerly — growth must be O(calls), never
    // O(calls × rounds)
    def persisted = spark.sparkContext.getPersistentRDDs.size
    val before = persisted
    (1 to 3).foreach { _ =>
      SparkEntry.queries("graph_pagerank")(spark, Sf0001).count()
      SparkEntry.queries("dedup_clusters")(spark, Sf0001).count()
    }
    val grown = persisted - before
    // 6 calls; pagerank leaves 1 (final ranks), dedup_clusters ≤ 2 (final
    // labels + the checkpointed pair set feeding the lazy projection) —
    // anything near rounds×calls (≥ 20) means a release regressed
    assert(grown <= 12, s"persisted RDDs grew by $grown across 6 iterative calls")
    assert(GraftSqlBridge.cacheManagerEmpty(spark))
  }

  test("a lost checkpoint block fails the next action cleanly; a rebuild returns the same rows") {
    // QueryHygiene's cluster note: local checkpoint blocks live on
    // executors, so losing them fails the query instead of serving wrong
    // rows, and the query simply re-runs from its immutable inputs
    val name = "dedup_span_exact"
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val served = SparkEntry.queries(name)(spark, Sf0001)
    val before = rows(served)
    assert(before.nonEmpty)
    GraftSqlBridge.releaseLocalCheckpoint(served)
    val e = intercept[org.apache.spark.SparkException](served.collect())
    assert(e.getMessage.contains("Checkpoint block rdd_"), e.getMessage)
    val rebuilt = SparkEntry.queries(name)(spark, Sf0001)
    try assert(rows(rebuilt) == before)
    finally GraftSqlBridge.releaseLocalCheckpoint(rebuilt)
  }

  test("hygienic() with the reliable checkpointer survives and matches") {
    // cluster-mode knob: the materialized result goes to the checkpoint
    // dir (executor-loss-proof) instead of executor storage; same rows,
    // same cache-release contract, files actually written
    val dir = graft.util.TempDirs.create("graft_qh_ck_")
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val local = graft.ops.DedupOps
        .dedupNgramJaccardStaged(spark, Sf0001).hygienic()
        .collect().map(_.toSeq).toSeq
      val reliable = graft.ops.DedupOps
        .dedupNgramJaccardStaged(spark, Sf0001)
        .hygienic(graft.ops.ClusterOps.reliableCheckpointer)
        .collect().map(_.toSeq).toSeq
      assert(reliable == local)
      assert(GraftSqlBridge.cacheManagerEmpty(spark),
        "reliable-checkpoint hygienic left cached relations registered")
      val written = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(written > 0, "reliable checkpoint wrote no files")
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("every query served as a checkpoint exposes its pipeline to the plan tools") {
    import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan, WholeStageCodegenExec}
    // derived from the query families: every query the registry serves
    // whole as a checkpoint
    assert(SparkEntry.pipelines.keySet == Set(
      "basket_lift", "dedup_simhash", "dedup_minhash_lsh", "dedup_ngram_jaccard",
      "dedup_containment", "dedup_incremental", "graph_triangles", "stats_kmv_setops",
      "dedup_span_exact", "semdedup_prune", "ingest_screen_pipeline"))
    def checkpointScan(p: SparkPlan): Boolean = p match {
      case w: WholeStageCodegenExec => checkpointScan(w.child)
      case _: RDDScanExec => true
      case _ => false
    }
    SparkEntry.pipelines.toSeq.sortBy(_._1).foreach { case (name, pipeline) =>
      val served = SparkEntry.queries(name)(spark, Sf0001)
      assert(checkpointScan(served.queryExecution.executedPlan),
        s"$name is not served as a checkpoint scan\n${served.queryExecution.executedPlan}")
      GraftSqlBridge.releaseLocalCheckpoint(served)
      val st = pipeline(spark, Sf0001)
      try {
        val plan = st.plan.queryExecution.executedPlan
        assert(!checkpointScan(plan) && plan.toString.contains("Join"),
          s"$name's pipeline must show its joins\n$plan")
      } finally st.release()
    }
    assert(GraftSqlBridge.cacheManagerEmpty(spark))
  }
}
