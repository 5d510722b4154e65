package graft

import org.apache.spark.sql.SparkSession

/** The library's SQL-surface entry point: make everything the engine
  * offers callable from plain `spark.sql(...)` on a caller-provided
  * session — temp views for every corpus table (loaded through
  * [[Tables.load]], so the nanos-timestamp rescale and its pushdown rule
  * come along), plus both native function families
  * (`graft_token_hashes`/`graft_shingle_hashes`/`graft_ngram8_hashes`/
  * `graft_minhash_sig64`/`graft_simhash60[_shingles]`/
  * `graft_repetition_stats`, `graft_cosine`/`graft_lsh_keys`).
  *
  * A user of the reference drives it with SQL text shipped to BigQuery /
  * MySQL; after `GraftSession.init` the same habit works here — the
  * `sql_api_pricing_summary` gate query runs one IDENTICAL ANSI string on
  * Spark and on the DuckDB oracle.
  */
object GraftSession {

  val TableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Idempotent: (re)registers views + functions; returns the session. */
  def init(spark: SparkSession, dir: String): SparkSession = {
    functions.NativeText.register(spark)
    functions.NativeVector.register(spark)
    functions.NativeAgg.register(spark)
    functions.CountMin.register(spark)
    functions.DaySpanTvf.register(spark)
    plans.AsofJoin.register(spark)
    TableNames.foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
    spark
  }

  /** Core count for the mains' local master and shuffle grain. */
  def harnessCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The one session every main builds (Bench, Verify and the dev mains),
    * so their confs cannot drift apart. A main that needs something else
    * sets it visibly on the returned session, with its reason.
    */
  def forHarness(cpus: String = harnessCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // shuffle/spill scratch on the RAM fs when one exists (same policy
      // as TempDirs): local-mode executor scratch is ephemeral by contract
      .config("spark.local.dir", util.TempDirs.create("graft_local_"))
      // catalog-table data (bucketed scratch tables, saga namespaces) is
      // ephemeral in these mains — same RAM-fs scratch policy as local.dir;
      // a real deployment points the warehouse at durable storage
      .config("spark.sql.warehouse.dir", util.TempDirs.create("graft_wh_"))
      // guide §3.1/§9: allow shuffled-hash where its size conditions hold,
      // and let AQE rewrite SMJ→SHJ when every post-shuffle partition fits
      // 64 MB (size-bounded, so the build side can never OOM a partition).
      // At bench SF this flips exactly one plan (dedup_simhash's self-join,
      // −2 Sorts; bench-neutral) — the win lives at cluster SFs where dims
      // outgrow broadcast but fit a partition. See OPTIMIZATION_r17.md §1.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // expected dead-block unpersist WARNs would bury real ones (USAGE.md)
    util.Logs.suppressExpectedUnpersistWarnings()
    spark
  }
}
