package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** The library's SQL-surface entry point: make everything the engine
  * offers callable from plain `spark.sql(...)` on a caller-provided
  * session — temp views for every corpus table (loaded through
  * [[Tables.load]], so the nanos-timestamp rescale comes along), plus
  * every rule, strategy and native function [[install]] puts on the
  * session (`graft_token_hashes`/`graft_shingle_hashes`/
  * `graft_ngram8_hashes`/`graft_minhash_sig64`/`graft_simhash60[_shingles]`/
  * `graft_repetition_stats`, `graft_cosine`/`graft_lsh_keys`, …).
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

  /** Optimizer rules, in the order they run. */
  private[graft] val Rules: Seq[Rule[LogicalPlan]] = Seq(
    plans.NanosTimestampPushdown, plans.BandedIntervalJoin, plans.MaterializedViewRewrite)

  private[graft] val Strategies: Seq[SparkStrategy] = Seq(plans.AsofJoinStrategy)

  /** Native SQL functions, (name, builder). */
  private[graft] val Functions: Seq[(String, Seq[Expression] => Expression)] =
    functions.NativeText.builders ++ functions.NativeVector.builders ++
      functions.NativeAgg.builders ++ functions.CountMin.builders ++
      functions.NativeBloom.builders

  private[graft] val TableFunctions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan)] = Seq(functions.DaySpanTvf.description)

  // The ingest edge must absorb every timestamp encoding a real landing
  // zone produces (the reference tolerates timezone-naive timestamps end
  // to end — core/services/billing_etl.py:35-40 serializes bare
  // isoformat() and the warehouse coerces on load):
  //   - TIMESTAMP(NANOS): Spark 4 refuses it by default
  //     (PARQUET_TYPE_ILLEGAL). Read nanos as long, rescale to micros
  //     TimestampType (test data is micro-precision → lossless).
  //     NanosTimestampPushdown rewrites watermark predicates on the
  //     derived column back onto the raw long so row-group skipping works.
  //   - TIMESTAMP(MICROS, isAdjustedToUTC=false) — what pandas/DuckDB
  //     write by default — which Spark 4 infers as TIMESTAMP_NTZ.
  //     Disable NTZ inference so it lands as TimestampType directly
  //     (session TZ is pinned UTC, so the reading is exact and matches
  //     the DuckDB oracle's naive view of the same bytes).
  private val ReadConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false")

  /** Put the engine's rules, strategy, SQL functions and read confs on a
    * caller-provided session; returns it. Idempotent: each call adds only
    * what is missing, so on an installed session it costs presence checks
    * alone. Callers invoke it where a session enters the engine (the
    * registry entries, [[init]], [[Tables.load]], the streaming sources),
    * never per component. [[GraftExtensions]] injects the same lists into
    * sessions built with `spark.sql.extensions`.
    */
  def install(spark: SparkSession): SparkSession = {
    val x = spark.experimental
    x.synchronized {
      val missingRules = Rules.filterNot(r => x.extraOptimizations.exists(_ eq r))
      if (missingRules.nonEmpty) x.extraOptimizations = x.extraOptimizations ++ missingRules
      val missingStrategies = Strategies.filterNot(st => x.extraStrategies.exists(_ eq st))
      if (missingStrategies.nonEmpty) x.extraStrategies = x.extraStrategies ++ missingStrategies
    }
    val reg = spark.sessionState.functionRegistry
    Functions.foreach { case (name, builder) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
    val tvfs = spark.sessionState.tableFunctionRegistry
    TableFunctions.foreach { case (id, _, builder) =>
      if (!tvfs.functionExists(id)) tvfs.createOrReplaceTempFunction(id.funcName, builder, "built-in")
    }
    ReadConfs.foreach { case (k, v) =>
      if (!spark.conf.getOption(k).contains(v)) spark.conf.set(k, v)
    }
    spark
  }

  /** Idempotent: installs the engine and (re)registers the corpus views;
    * returns the session.
    */
  def init(spark: SparkSession, dir: String): SparkSession = {
    install(spark)
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
