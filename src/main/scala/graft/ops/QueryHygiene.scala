package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Cache hygiene for queries whose RETURNED plan references query-local
  * `.cache()`d intermediates (self-join pipelines, multi-branch rollups).
  *
  * The failure mode this kills: each such query is correct and fast in
  * isolation, but a single long-lived session sweeping the whole registry
  * (exactly what the round driver's bench does) accumulates dozens of
  * orphaned CacheManager entries — LRU eviction churn + GC pressure then
  * bill whichever query runs late in the sweep (r11: `graph_triangles`
  * 6.75 s isolated → 24.6 s at sweep position ~130).
  *
  * The contract: build the pipeline lazily (tests pin ITS plan — the real
  * join shapes), then serve the registry a [[Staged.hygienic]] view that
  * materializes the result once (eager local checkpoint — the results
  * here are rollups, orders of magnitude smaller than their inputs) and
  * unpersists every query-local cache before returning. The returned
  * Dataset owns plain RDD blocks, freed by the ContextCleaner as soon as
  * the caller drops the reference — nothing is left registered in the
  * CacheManager, so query N's working set can never bill query N+1.
  *
  * Cluster note: `localCheckpoint` blocks live on executors, so an
  * executor loss between the checkpoint and the caller's terminal action
  * fails the query (it simply re-runs — the inputs are immutable;
  * QueryHygieneSpec drops a served query's blocks and pins both). That is
  * the same trade the iterative ops' default [[ClusterOps.localCheckpointer]]
  * makes; jobs wanting executor-loss-proof intermediates pass
  * [[ClusterOps.reliableCheckpointer]] (and set a checkpoint dir) to
  * [[Staged.hygienic]] — same knob, same semantics.
  *
  * Output-size note: `hygienic()` materializes the FULL result. For the
  * registry's rollup-shaped queries that is orders of magnitude smaller
  * than the inputs; a few queries (ingest_screen's per-doc dispositions,
  * dedup pair lists) return outputs LINEAR in corpus size, so their
  * materialization pins O(corpus) blocks until the caller's terminal
  * action frees them. That is an accepted, bounded trade — one extra
  * linear pass of storage for the duration of one query, in exchange for
  * the cache-release-before-return guarantee — NOT a contradiction of the
  * no-linear-broadcast policy (broadcasts are per-executor copies and
  * driver-resident; checkpoint blocks are partitioned once across the
  * cluster, exactly like the shuffle files the same query already wrote).
  * A per-doc-output query that ever outgrows executor storage should
  * switch to the reliable checkpointer or write-through-a-path instead.
  */
private[graft] object QueryHygiene {

  /** Serve each whole-query pipeline as its registry entry: the
    * [[Staged.hygienic]] view ([[QueryFamily.pipelines]]).
    */
  def served(pipelines: Map[String, (SparkSession, String) => Staged])
      : Map[String, (SparkSession, String) => DataFrame] =
    pipelines.map { case (name, build) =>
      name -> ((s: SparkSession, dir: String) => build(s, dir).hygienic())
    }

  /** A lazily-built query pipeline plus the query-local caches its plan
    * references. `plan` is what PlanSpec inspects; `hygienic()` is what
    * the query registry serves.
    */
  final case class Staged(plan: DataFrame, caches: Dataset[_]*) {

    /** Materialize once through `checkpointer` (default: eager local
      * checkpoint), unpersist every query-local cache, return the
      * materialized view. Cluster jobs pass
      * [[ClusterOps.reliableCheckpointer]] so the materialized result
      * survives executor loss (requires `sparkContext.setCheckpointDir`).
      */
    def hygienic(checkpointer: ClusterOps.Checkpointer =
                   ClusterOps.localCheckpointer): DataFrame = {
      val out = checkpointer(plan)
      release()
      out
    }

    /** Drop the cache registrations without materializing — for tests
      * that only inspect [[plan]].
      */
    def release(): Unit = caches.foreach(_.unpersist(blocking = false))
  }
}
