package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** The one `private[sql]` doorway the engine needs: turning a custom
  * [[LogicalPlan]] node into a user-facing DataFrame. Spark exposes every
  * EXTENSION seam publicly (`injectPlannerStrategy`, optimizer rules,
  * expressions) but keeps plan→DataFrame construction `private[sql]`, so
  * libraries that ship whole custom operators (here:
  * `graft.plans.AsofJoinExec`) conventionally open it from inside the
  * package — the same move delta/iceberg/spark-rapids make. Nothing else
  * of Spark's internals is re-exported: this object is the complete
  * surface area of the trick.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Frees the executor blocks behind a `localCheckpoint(eager = true)`d
    * Dataset. `spark.catalog.clearCache()` only empties the CacheManager;
    * checkpoint blocks are plain persisted RDDs the ContextCleaner frees
    * only when the driver GCs — which a large-heap, 300-query sweep may
    * not do for minutes, so each iterative query's superseded rounds pile
    * up in executor storage. Call this on a round's Dataset ONLY once it
    * is provably never read again (a local checkpoint discards lineage,
    * so the data cannot be recomputed). Reliable (file-based) checkpoints
    * are untouched: their RDDs are not persisted, so `unpersist` is a
    * no-op and the files stay owned by the checkpoint dir's lifecycle.
    */
  def releaseLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** True when the session's CacheManager holds no cached relations —
    * the invariant QueryHygieneSpec pins after every hygienic query
    * (Spark exposes no public "list cached relations" API).
    */
  def cacheManagerEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.isEmpty
}
