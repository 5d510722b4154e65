package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One family of registry queries; [[graft.SparkEntry]] merges them all. */
private[graft] trait QueryFamily {

  /** Registry name → query builder over (session, corpus dir). */
  def queries: Map[String, (SparkSession, String) => DataFrame]

  /** Registry name → the DuckDB SQL the query's rows must hash-match. */
  def oracleSql: Map[String, String]

  /** The queries this family serves whole as a [[QueryHygiene.Staged.hygienic]]
    * view, mapped to their lazily-built pipelines. `queries` serves each one
    * through [[QueryHygiene.served]]. A served plan is the checkpoint's
    * opaque `Scan ExistingRDD`, so the plan tools (PlanAudit, PlanSpec)
    * inspect these pipelines instead.
    */
  def pipelines: Map[String, (SparkSession, String) => QueryHygiene.Staged] = Map.empty
}
