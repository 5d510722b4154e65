package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Cluster-wide wiring for deployments that cannot call
  * [[GraftSession.install]] inside every job (third-party notebooks, BI
  * tools, thrift server): set
  *
  *   --conf spark.sql.extensions=graft.GraftExtensions
  *
  * and every SparkSession built in the cluster carries the engine's
  * optimizer rules (among them [[plans.NanosTimestampPushdown]] — restores
  * parquet pushdown for nanos-encoded event time, the difference between
  * a row-group-skipping scan and a full-table read at 100 TB), its planner
  * strategy and all native SQL functions, with no code change in user
  * jobs. Those come from the same lists [[GraftSession.install]] reads, so
  * the per-session and cluster-wide paths can never drift; only the check
  * rule and the parser below are extension-only. The read confs
  * `install` sets are not injectable: set them with `--conf` too.
  * GraftExtensionsSpec validates the config path's two halves: the class
  * instantiates by name with a zero-arg constructor (what `--conf`
  * resolution requires; the static conf itself can't be set on the shared
  * test context), and the instance wires a fresh session — function
  * resolution and the injected rules both asserted.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftSession.Rules.foreach(rule => ext.injectOptimizerRule(_ => rule))
    GraftSession.Strategies.foreach(strategy => ext.injectPlannerStrategy(_ => strategy))
    GraftSession.Functions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name), builder))
    }
    GraftSession.TableFunctions.foreach(ext.injectTableFunction)
    // analysis-time governance: reject unfiltered scans of guarded fact
    // tables before a task launches (opt-in via spark.graft.scanGuard.*)
    ext.injectCheckRule(session => plan => plans.ScanGuard.check(session)(plan))
    // additive SQL grammar: GRAFT HISTORY '<dest>' (everything else
    // delegates to Spark's parser verbatim)
    ext.injectParser((_, delegate) => new plans.GraftSqlParser(delegate))
  }
}
