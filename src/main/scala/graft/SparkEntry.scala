package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates one entry per implemented operator from SURVEY.md §2
  * (plus the LLM-pipeline operator families); `oracleSql` carries the
  * equivalent DuckDB SQL for every hash-checkable entry.
  */
object SparkEntry {

  /** Flagship: the §7.1 end-to-end incremental ETL slice on sf0.001
    * (watermarked run over `events`; driver smoke-checks rows>0).
    *
    * The extraction window is DATA-DRIVEN (jobTime = max(ts) + 1 s), not a
    * fixed date constant, so the smoke check stays non-vacuous even if a
    * fixture regeneration moves the events table's date span — the oracle
    * queries keep their fixed windows (mirrored in SQL), but the driver's
    * rows>0 gate must never hinge on a generator constant.
    */
  def entry(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions._
    implicit val s: SparkSession = spark
    val dir = "/root/testdata/sf0.001"
    val tmp = graft.util.TempDirs.create("graft_entry_")
    val meta = etl.MetaStore(s"$tmp/meta")
    meta.putConfigs(Seq(graft.model.ClientBillingConfig(
      1, "proj_entry", "ds", "t", None, None, None)))
    val src = Tables.load(spark, dir, "events")
    // same type-drift-tolerant decode as IncrementalExtract.batchStats —
    // the driver supplies this session, so its datetime conf is not ours
    val maxTs = etl.IncrementalExtract
      .batchStats(src, "ts").maxWatermark
      .getOrElse(throw new IllegalStateException("events table is empty"))
    val jobTime = new java.sql.Timestamp(maxTs.getTime + 1000L)
    val r = etl.EtlJob.run(spark, meta, src, "ts", s"$tmp/dest",
      graft.model.EtlJobMessage(1), jobTime, sleeper = _ => ())
    require(r.isRight, s"entry run failed: $r")
    etl.Destination.read(spark, s"$tmp/dest")
  }

  /** The query families, in the order their maps merge. */
  private val families: Seq[ops.QueryFamily] = Seq(
    ops.RelationalOps, ops.EtlOps, ops.MessageOps, ops.DedupOps, ops.IncrementalDedupOps,
    ops.ClusterOps, ops.SimilarityOps, ops.TextAnalysisOps, ops.MultimodalOps,
    ops.StreamingOps, ops.SamplingOps, ops.IngestScreenOps, ops.CoverageOps,
    ops.WarehouseOps, ops.EmbedClusterOps, ops.SearchOps, ops.ScaleOps,
    ops.NestedBillingOps, ops.ProductAnalyticsOps, ops.SeriesOps, ops.GeoOps,
    ops.SqlSurfaceOps)

  /** Each builder installs the engine on the session it is handed
    * ([[GraftSession.install]]), so every query plans under the same rule
    * set whatever ran before it.
    */
  private def installing[A](fns: Map[String, (SparkSession, String) => A])
      : Map[String, (SparkSession, String) => A] =
    fns.map { case (name, fn) =>
      name -> ((spark: SparkSession, dir: String) => fn(GraftSession.install(spark), dir))
    }

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    installing(families.flatMap(_.queries).toMap)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a rows-only check.
    */
  val oracleSql: Map[String, String] = families.flatMap(_.oracleSql).toMap

  /** Every query served whole as a hygienic checkpoint, mapped to its
    * lazily-built pipeline ([[ops.QueryFamily.pipelines]]). Derived from
    * the same families as [[queries]], so no query is served as an opaque
    * checkpoint scan without its pipeline reaching the plan tools.
    */
  private[graft] val pipelines: Map[String, (SparkSession, String) => ops.QueryHygiene.Staged] =
    installing(families.flatMap(_.pipelines).toMap)
}
