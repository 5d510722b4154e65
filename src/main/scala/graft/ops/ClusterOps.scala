package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.QueryHygiene.Staged
import org.apache.spark.sql.graft.GraftSqlBridge

/** Duplicate-cluster resolution — the step that turns pairwise dedup output
  * into the thing a training pipeline actually consumes: one canonical
  * document per duplicate CLUSTER. Pairwise near-dup detection (the
  * `dedup_*` family) emits edges; duplicates are transitive in practice
  * (A≈B, B≈C ⇒ all three are one document family even when A–C alone sits
  * below threshold), so the keep/drop decision needs the connected
  * components of the pair graph, not the pairs.
  *
  * Algorithm: hash-min label propagation — every node starts as its own
  * label (= doc_id), and each round every node takes the min label in its
  * closed neighborhood, until a fixpoint. Rounds = graph diameter; each
  * round is one equality join + one partial-aggregated groupBy over NARROW
  * (long, long) rows, both hash-partitioned on the node id. This is the
  * 100 TB-honest choice for dedup graphs specifically:
  *
  *  - Dedup components are overwhelmingly tiny (pairs/triples; the giant
  *    quadratic-diameter chains that motivate large-star/small-star
  *    contraction [Kiveris et al., "Connected Components in MapReduce and
  *    Beyond"] do not arise from near-duplicate detection, where edges mean
  *    ≥ 90 % content overlap — overlap chains collapse within a few hops).
  *    Diameter-bounded propagation on shuffle-key-sized rows beats the
  *    constant factor of star contraction at this shape.
  *  - The per-round shuffle carries 16 bytes/node+edge regardless of
  *    document size — the documents themselves never move.
  *  - Lineage is truncated every round (via an injectable checkpointer:
  *    `localCheckpoint` locally, reliable `checkpoint()` on a cluster),
  *    so the plan stays O(1) deep instead of O(rounds) — the classic
  *    iterative-Spark trap where round N replays rounds 1..N−1.
  *
  * The fixture graph is the union of the exact-dup edges (md5 groups from
  * the `dedup_exact` fixture — every 10th doc re-appears under
  * doc_id+1000000) and the MinHash-LSH verified near-dup edges over the
  * same corpus, so components mix both edge kinds: a doc with an exact
  * copy AND a near-dup neighbor chains them into one cluster — exactly the
  * multi-hop case pairwise output gets wrong.
  *
  * Reference tie-in: the reference has no dedup at all (SURVEY §2.6 —
  * north-star extension); the closest analogue is its keep-first batch
  * retry semantics (`core/services/billing_etl.py:306-362`), which this
  * generalizes to content identity: `is_canonical` = "first by doc_id in
  * the duplicate family".
  */
object ClusterOps extends QueryFamily {

  /** Propagation-round ceiling. Each round is one edge-propagation PLUS one
    * pointer-jump (label-of-label), so reach doubles per round: 32 rounds
    * covers components of diameter ~2^32 — hitting the ceiling means the
    * edge generator produced something degenerate (a label cycle, which the
    * min-semantics make impossible) — fail loudly rather than emit a
    * non-fixpoint labeling.
    */
  private val MaxRounds = 32

  /** Rounds of plain one-hop propagation before pointer jumping engages —
    * past any real dedup component's diameter, so the common case never
    * pays the per-round self-join.
    */
  private val JumpAfter = 3

  /** Per-round lineage-truncation strategy for the iterative loop. */
  type Checkpointer = DataFrame => DataFrame

  /** Executor-block checkpoint: fastest, but blocks live on executors —
    * an executor loss mid-iteration kills the job. The right default for
    * local[] and tests.
    */
  val localCheckpointer: Checkpointer = _.localCheckpoint(eager = true)

  /** Reliable checkpoint into `sparkContext.setCheckpointDir`'s location
    * (HDFS/object store on a cluster): each round's labels survive
    * executor loss, so a 1000-executor run resumes the iteration instead
    * of restarting it. Pass this in cluster deployments; requires the
    * checkpoint dir to be set, and costs one distributed write per round —
    * the labels relation is (long, long) rows, so the write is narrow.
    */
  val reliableCheckpointer: Checkpointer = _.checkpoint(eager = true)

  /** Frees a SUPERSEDED round's checkpoint blocks the moment the next
    * round is materialized. Without this every round of every iterative
    * query parks its (long, long) relation in executor storage until the
    * driver happens to GC — harmless alone, but a full-registry sweep
    * accumulates hundreds of dead rounds and the late-alphabet queries
    * pay the eviction churn. No-op for reliable (file-based) checkpoints:
    * their RDDs are not persisted, and the files belong to the checkpoint
    * dir's lifecycle. MUST only be called on a round provably never read
    * again — a local checkpoint has no lineage to recompute from.
    */
  private def releaseRound(df: DataFrame): Unit =
    GraftSqlBridge.releaseLocalCheckpoint(df)

  /** Hash-min connected components over an (a_id, b_id) edge list.
    * Returns (doc_id, cluster_id) with cluster_id = min doc_id reachable.
    * Only nodes that appear in at least one edge are labeled — at corpus
    * scale the singleton majority never enters the iteration (their
    * cluster is trivially themselves; materializing them would make every
    * round scan the full corpus instead of the duplicate fringe).
    *
    * `checkpointer` picks where each round's labels are persisted —
    * [[localCheckpointer]] (default, single-machine) or
    * [[reliableCheckpointer]] (cluster fault tolerance).
    */
  def connectedComponents(edges: DataFrame,
                          checkpointer: Checkpointer = localCheckpointer): DataFrame = {
    val spark = edges.sparkSession
    val log = org.apache.log4j.Logger.getLogger(getClass)
    // Symmetrized adjacency, cached SRC-PARTITIONED and reused every
    // round — the same discipline as pagerankPrepared/bfsHopsStaged:
    // cached straight off distinct() the relation is partitioned on the
    // (src, dst) pair, and every propagation round's join on src would
    // re-exchange the full edge list; partitioned on src only the narrow
    // label rows shuffle per round.
    val adj = edges.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(edges.select(col("b_id").as("src"), col("a_id").as("dst")))
      .distinct()
      .repartition(col("src"))
      .cache()
    var labels = checkpointer(
      adj.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("label")))
    // Convergence probe: per-node labels only ever DECREASE (min of a set
    // containing the old label), so the label sum is strictly monotone —
    // it moves iff some node changed. One cheap scalar agg over the
    // just-checkpointed round replaces a join-and-compare against the
    // previous round.
    // coalesce(…, 0): sum() over ZERO rows is SQL-null, and getLong on a
    // null cell throws — an empty edge list (a snapshot with no dup
    // pairs at all) must return an empty labeling, not crash
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum(col("label")), lit(0L))).head.getLong(0)
    var prevSum = labelSum(labels)
    var round = 0
    var converged = false
    while (!converged) {
      if (round >= MaxRounds)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $MaxRounds rounds — degenerate edge set?")
      // Closed-neighborhood min: own label ∪ labels arriving over edges.
      // Checkpointed BEFORE the (possible) jump: the jump self-joins this
      // relation, and a self-join over the live union+agg plan trips
      // Catalyst's constraint rewriting — a materialized LogicalRDD
      // self-joins cleanly (and lineage truncation was needed here anyway).
      val propagated = checkpointer(
        adj
          .join(labels.withColumnRenamed("id", "src"), "src")
          .select(col("dst").as("id"), col("label"))
          .union(labels)
          .groupBy(col("id"))
          .agg(min(col("label")).as("label")))
      // Dedup components are overwhelmingly diameter ≤ 3 (an edge means
      // near-identical content), so plain propagation converges in 2-3
      // rounds and the common case should not pay for pathology insurance.
      // If it HASN'T converged by then — a templated-doc chain, a crawl
      // with boilerplate — switch on pointer jumping (label-of-label):
      // reach doubles per round → O(log diameter) total instead of
      // O(diameter), converging any chain long before MaxRounds. One extra
      // equality join on narrow (long, long) rows per late round;
      // min-labels guarantee label ≤ id, so the jump can only decrease.
      val next =
        if (round < JumpAfter) propagated
        else {
          val lookup = propagated.select(col("id").as("lid"), col("label").as("llabel"))
          checkpointer(
            propagated.join(lookup, col("label") === col("lid"), "left")
              .select(col("id"),
                least(col("label"), coalesce(col("llabel"), col("label"))).as("label")))
        }
      val nextSum = labelSum(next)
      // `next` is materialized: the previous round (and the pre-jump
      // relation when the jump ran) is provably dead — free its executor
      // blocks now instead of waiting for a driver GC
      releaseRound(labels)
      if (!(next eq propagated)) releaseRound(propagated)
      converged = nextSum == prevSum
      prevSum = nextSum
      labels = next
      round += 1
      // Diagnostic heartbeat: rounds ≈ component diameter, so a corpus that
      // suddenly chains (e.g. templated near-dups) shows up here FIRST —
      // before it shows up as a silent N× bench regression. Per-round lines
      // at INFO (debug trail); one summary at WARN so it survives the
      // bench's WARN log level. Only values already computed are logged —
      // no extra jobs on the hot path.
      log.info(s"connectedComponents round=$round labelSum=$nextSum converged=$converged")
    }
    log.warn(s"connectedComponents done rounds=$round labelSum=$prevSum")
    adj.unpersist()
    labels
  }

  /** The dedup-pair graph of a corpus snapshot — exact-dup star edges
    * (group-min → each copy; stars preserve connectivity and keep the edge
    * list linear in members, not quadratic) ∪ MinHash-verified near-dup
    * pairs — MATERIALIZED once per (session, corpus dir) as scratch
    * parquet, the same memo pattern (and the same argument) as the
    * co-purchase graph table and [[DedupOps.truthPairs]]: the pair set is
    * a pure function of the snapshot, so re-running the exact-hash join
    * and the banded-LSH verify on EVERY `dedup_clusters` run re-paid
    * ~1–1.5 s of identical shuffles per run. At 100 TB this IS the
    * verified pair table a dedup pipeline writes next to the corpus
    * before cluster resolution (pairs are orders of magnitude smaller
    * than the corpus); path-based single-writer contract, no executor
    * blocks held between runs. The DuckDB oracle still recomputes the
    * edges from the base `documents` table — a wrong materialization
    * hash-fails.
    */
  private val dedupPairMemo = new graft.util.SessionMemo[String, String]

  private def dedupPairPath(s: SparkSession, dir: String): String =
    dedupPairMemo.getOrElseUpdate(s, dir) {
      // build-only caches, released before return (coPurchasePath pattern)
      val docs = DedupOps.withExactDups(Tables.load(s, dir, "documents")).cache()
      val sh = DedupOps.shingled(docs).cache()
      val hashed = docs.select(col("doc_id"), md5(col("text")).as("h"))
      val exactEdges = hashed
        .join(hashed.groupBy(col("h")).agg(min(col("doc_id")).as("a_id")), "h")
        .where(col("doc_id") =!= col("a_id"))
        .select(col("a_id"), col("doc_id").as("b_id"))
      val nearEdges = DedupOps
        .minhashPairs(docs, sh) // hygienic: returns a materialized pair set
        .select(col("a_id"), col("b_id"))
      val p = graft.util.TempDirs.create("graft_duppairs_")
      // same key-distributed write-layout pin as the graph table (see
      // coPurchasePath): explicit-width repartition survives AQE
      val width = s.sessionState.conf.numShufflePartitions
      exactEdges.union(nearEdges).distinct()
        .repartition(width, col("a_id"))
        .write.parquet(s"$p/pairs")
      docs.unpersist(blocking = false); sh.unpersist(blocking = false)
      p
    }

  /** Verified dedup-pair edges (a_id, b_id) — see the memo doc. */
  private[graft] def dedupPairEdges(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"${dedupPairPath(s, dir)}/pairs")

  /** `dedup_clusters`: duplicate families of the dedup fixture corpus —
    * one row per clustered doc with its canonical id, family size, and the
    * keep/drop verdict, via connected components over the materialized
    * pair table ([[dedupPairEdges]]).
    */
  private def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    val labels = connectedComponents(dedupPairEdges(s, dir))
    labels
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))))
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** `graph_pagerank`: 3 rounds of PageRank over the co-purchase part
    * graph — the link-analysis centrality the pipeline's graph family was
    * missing next to connected components (importance weighting for
    * canonical-doc choice, crawl prioritization, spam-farm detection).
    *
    * Distributed shape per iteration: edges ⋈ ranks on src (both hash-
    * partitioned on src — the join reuses one partitioning across all
    * rounds), per-edge contribution rank div degree, one groupBy dst with
    * map-side partial sums, lineage truncated per round (same
    * Checkpointer discipline as connectedComponents). The edge list and
    * per-node degrees come PRE-BUILT from the materialized graph table
    * (distinct edges with degree denormalized on) — each round scans the
    * graph relation and shuffles only (long, long) rank rows, never the
    * fact table, and no run ever re-pays the distinct/degree exchanges.
    *
    * All arithmetic is INTEGER milli-rank (r₀ = 1000; rₖ₊₁ = 150 +
    * (850 · Σ rₖ(u) div d(u)) div 1000 — damping 0.85 as 850/1000 with
    * floor division), so the DuckDB oracle unrolls the same three rounds
    * bit-exactly. Fixed iteration count instead of convergence-test:
    * production PageRank runs a budgeted round count for the same reason
    * (each round is a full shuffle; the ranking stabilizes long before
    * the values do).
    */
  /** The iteration core, reusable over any directed (src, dst) edge list
    * in which every node has out-degree ≥ 1 (symmetric graphs qualify).
    * Returns (node, r, d) after `iterations` rounds of the integer-milli
    * update above.
    *
    * RAW-edge convenience entry: distincts the edge list and builds the
    * degree table in-session (cached for the run, released before
    * return). A pipeline that owns a MATERIALIZED graph table should call
    * [[pagerankPrepared]] instead and skip both — the co-purchase
    * registry queries do (the canonical edges + degrees are columns of
    * the memoized graph table, so the per-run re-distinct exchange this
    * path pays is pure waste there).
    */
  def pagerank(edges: DataFrame, iterations: Int,
               checkpointer: Checkpointer = localCheckpointer): DataFrame = {
    val cached = edges.select(col("src"), col("dst")).distinct().cache()
    val deg = cached.groupBy(col("src")).agg(count(lit(1)).as("d")).cache()
    // no cache on the join: pagerankPrepared caches its repartitioned form
    val out = pagerankPrepared(cached.join(deg, "src"),
      deg.select(col("src").as("node"), col("d")), iterations, checkpointer)
    // pagerankPrepared materialized `out` through the checkpointer, so
    // the caches it read are droppable here
    cached.unpersist(); deg.unpersist()
    out
  }

  /** The iteration core over a PREPARED graph: `edgesWithDeg` is a
    * DISTINCT directed (src, dst, d) list with d = out-degree(src) ≥ 1
    * already attached, `degrees` the matching (node, d) table — exactly
    * the columns a materialized graph table stores next to the corpus
    * (see [[coPurchaseEdges]]). No per-run distinct, no degree rollup,
    * no prep caches: each round scans the graph relation and shuffles
    * only (long, long) rank rows. Returns (node, r, d), materialized
    * through `checkpointer`.
    *
    * Restored-source contract: every node of `degrees` appears in EVERY
    * round's rank relation — a zero-in-degree source holds its exact
    * rank (150, the damping floor) from round 1 on and its
    * out-contributions keep flowing (ClusterSpec's asymmetric fixture
    * pins both). Restoration costs one co-partitioned |V| anti-join
    * derived from round 1's rollup plus a per-round union of the
    * constant source rows — empty, hence free, on symmetric graphs.
    *
    * Sink-node contract (iterations >= 1): a pure SINK (in-edges, no
    * out-edges — so no `degrees` row) is ranked by every round's rollup
    * and EMITTED in the output with `d = 0`; its rank mass is simply
    * never redistributed (the standard dangling-mass-dropped PageRank
    * simplification — the mirror image of the restored-source rule
    * above, and pinned by the same asymmetric ClusterSpec fixture, which
    * carries a sink the symmetric oracle cannot see). With
    * `iterations = 0` the output is the initialization over the
    * `degrees` universe only — no rollup has run, so no sink has ever
    * been ranked and none is emitted.
    */
  def pagerankPrepared(edgesWithDeg: DataFrame, degrees: DataFrame, iterations: Int,
                       checkpointer: Checkpointer = localCheckpointer): DataFrame = {
    // ONE scan + ONE hash exchange of the adjacency per run: the cache is
    // built already partitioned on src, so every round's join reads it
    // with NO edge-side exchange (only the narrow rank rows shuffle) —
    // the same partitioning-reuse the pre-table implementation got from
    // caching its join output, minus the per-run distinct/degree prep.
    // Production PageRank persists the adjacency for exactly this reason;
    // released before return, so no blocks outlive the run.
    val e = edgesWithDeg.select(col("src"), col("dst"), col("d"))
      .repartition(col("src")).cache()
    // The contribution rollup only emits nodes with in-degree >= 1, so a
    // SOURCE (out-edges, no in-edges) would vanish from round 2 on and
    // its out-contributions would be silently lost. A source's rank is
    // the CONSTANT 150 + 850*0 from round 1 on, so restoration only has
    // to compute the source set once and union those constant rows into
    // each round. Two plans were measured at sf0.1 before this one
    // (SCALE.md "Source restoration"): a per-round |nodes| left join
    // (round 17 — co-partitioned, but it re-joins the full universe
    // every round: +~0.5 s/run) and a dst anti-join over the edge list
    // (one |E|-row exchange: +~0.6 s/run, WORSE — the edge list is the
    // one relation this loop must never re-exchange). This derivation is
    // free of both: round 1's rollup output IS the in-degree >= 1 node
    // set (|V|-sized, already node-partitioned), so the source set is a
    // co-partitioned |V| anti-join against it, paid once. On symmetric
    // graphs (the co-purchase registry) the set is EMPTY and the
    // per-round union is a no-op — which is why the oracle needs no
    // change.
    var sourceRanks: DataFrame = null
    var ranks = checkpointer(
      degrees.select(col("node"), lit(1000L).as("r")))
    (1 to iterations).foreach { i =>
      val prev = ranks
      // prev covers the FULL node universe every round (round 0 is all of
      // `degrees`; later rounds re-add the in-degree-0 remainder via the
      // union), so every edge's src finds its rank and no contribution is
      // ever dropped — the invariant the asymmetric ClusterSpec fixture
      // pins
      val contrib = e.join(prev.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), expr("r div d").as("contrib"))
        .groupBy(col("node"))
        .agg((lit(150L) + expr("850 * sum(contrib) div 1000")).as("r"))
      if (i == 1) {
        val c1 = checkpointer(contrib)
        sourceRanks = checkpointer(
          degrees.select(col("node"))
            .join(c1.select(col("node")), Seq("node"), "left_anti")
            .select(col("node"), lit(150L).as("r")))
        ranks = checkpointer(c1.unionByName(sourceRanks))
        releaseRound(c1) // folded into round 1's checkpoint; never read again
      } else {
        ranks = checkpointer(contrib.unionByName(sourceRanks))
      }
      releaseRound(prev) // superseded round: free its blocks eagerly
    }
    // materialize the final join BEFORE dropping the caches it reads —
    // returning it lazy would silently replay the edge build at the
    // caller's first action. LEFT join: `ranks` covers the full node
    // universe (sinks included from round 1 on), `degrees` only the
    // out-degree >= 1 nodes — an inner join here silently dropped pure
    // sinks from the output (the sink-node contract above)
    val out = checkpointer(
      ranks.join(degrees.withColumnRenamed("node", "deg_node"),
          col("node") === col("deg_node"), "left_outer")
        .select(col("node"), col("r"), coalesce(col("d"), lit(0L)).as("d")))
    releaseRound(ranks)
    if (sourceRanks != null) releaseRound(sourceRanks)
    e.unpersist(blocking = false)
    out
  }

  /** The co-purchase part graph, MATERIALIZED once per (session, corpus
    * dir) and shared by the whole graph family — exactly what a
    * production graph pipeline does: the edge build (a fact-table
    * self-join) is paid once per corpus snapshot, and CC/PageRank/
    * triangles/BFS all read the materialized relation. THREE relations
    * per snapshot (round 16 — previously raw edges only, which made
    * pagerank/triangles re-distinct and re-roll degrees on EVERY run, a
    * full edge exchange each, for a table that is a pure function of the
    * snapshot):
    *
    *  - `edges`    directed (src, dst, d): both directions per pair
    *               (symmetric by construction), DISTINCT, with
    *               d = out-degree(src) = undirected degree denormalized
    *               onto each edge — the adjacency form PageRank consumes
    *               with zero prep joins;
    *  - `oriented` (s, t): each undirected edge exactly once, degree-
    *               ORIENTED (low-(d, id) endpoint first) — the form
    *               triangle counting consumes with zero prep joins; the
    *               plain canonical (u, v) half is a map-only
    *               least/greatest view of it;
    *  - `degrees`  (node, d): the per-node degree table (rank init,
    *               final annotation).
    *
    * Stored as parquet under the ephemeral scratch root (at cluster
    * scale this is the graph table a pipeline writes next to the
    * corpus — degrees included, which is why the accessors model it that
    * way), so the graph queries hold no executor blocks between runs.
    */
  private val edgeMemo = new graft.util.SessionMemo[String, String]

  private def coPurchasePath(s: SparkSession, dir: String): String =
    edgeMemo.getOrElseUpdate(s, dir) {
      val items = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val p = graft.util.TempDirs.create("graft_copurchase_")
      // the self-join feeds all three outputs — cache for the build only
      val directed = items.alias("a")
        .join(items.alias("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") =!= col("b.l_partkey"))
        .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
        .distinct()
        .cache()
      // deg feeds all three writes (degrees, edges join, orientation) —
      // cache for the build only, like directed
      val deg = directed.groupBy(col("src")).agg(count(lit(1)).as("d")).cache()
      deg.select(col("src").as("node"), col("d")).write.parquet(s"$p/degrees")
      // pin the write layout: hash-distributed on the key every consumer
      // joins/groups on, at the session's full shuffle width. Left to
      // AQE, the tiny fixture join output coalesces to half as many
      // files — and since the per-round BFS/close scans inherit the file
      // count as their parallelism at fixture scale (files far below
      // maxPartitionBytes never split), that silently halved scan
      // parallelism (graph_bfs_hops 1.0 → 1.6 s until pinned). At real
      // scale files exceed the split size and this is moot, but a
      // key-distributed layout is what a production graph table wants
      // anyway.
      // the pin goes BEFORE the join: a post-join repartition(width, src)
      // is elided as redundant (the join already hash-partitions on src)
      // and the join's own ENSURE_REQUIREMENTS shuffle is exactly what
      // AQE coalesces — the pin would silently vanish. A pre-join
      // REPARTITION_BY_NUM shuffle is neither elidable nor coalescable,
      // and the src-equi-join preserves it.
      val width = s.sessionState.conf.numShufflePartitions
      directed.repartition(width, col("src"))
        .join(deg, "src").select(col("src"), col("dst"), col("d"))
        .write.parquet(s"$p/edges")
      // degree-ORIENTED canonical half: each undirected edge exactly once,
      // low-(degree, id) endpoint → high — the orientation is a pure
      // function of the snapshot, so it belongs IN the table; storing it
      // removes both per-run degree joins from triangle counting, and the
      // plain canonical (u, v) form is a map-only least/greatest view of
      // it (one stored copy serves both shapes at 100 TB)
      orientEdges(
          directed.where(col("src") < col("dst"))
            .select(col("src").as("u"), col("dst").as("v")),
          deg.select(col("src").as("node"), col("d")))
        .repartition(width, col("s")) // same layout pin as `edges`
        .write.parquet(s"$p/oriented")
      directed.unpersist(blocking = false)
      deg.unpersist(blocking = false)
      p
    }

  /** Degree-orient a canonical undirected (u, v) edge list against a
    * (node, d) degree table: low-(d, id) endpoint → high. ONE definition
    * shared by the graph-table build and the in-session triangle path —
    * the close's single-pivot-per-triangle guarantee depends on every
    * producer applying the IDENTICAL total order, so the expression must
    * not exist twice. (PlanSpec's stored-vs-recomputed check keeps its
    * own spelled-out copy on purpose: an independent recomputation, so a
    * bug here cannot certify itself.)
    */
  private[graft] def orientEdges(und: DataFrame, degrees: DataFrame): DataFrame =
    und
      .join(degrees.select(col("node").as("u"), col("d").as("du")), "u")
      .join(degrees.select(col("node").as("v"), col("d").as("dv")), "v")
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("u"))
          .otherwise(col("v")).as("s"),
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("v"))
          .otherwise(col("u")).as("t"))

  /** Directed DISTINCT (src, dst, d) adjacency — see the memo doc. */
  private[graft] def coPurchaseEdges(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"${coPurchasePath(s, dir)}/edges")

  /** Degree-oriented undirected edges (s, t), one row per edge — see the
    * memo doc.
    */
  private[graft] def coPurchaseOriented(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"${coPurchasePath(s, dir)}/oriented")

  /** Canonical undirected (u, v), u < v — a map-only projection of the
    * stored oriented half (same edge set, order normalized).
    */
  private[graft] def coPurchaseCanonical(s: SparkSession, dir: String): DataFrame =
    coPurchaseOriented(s, dir)
      .select(least(col("s"), col("t")).as("u"), greatest(col("s"), col("t")).as("v"))

  /** Per-node (node, d) degrees of the symmetric graph — see the memo doc. */
  private[graft] def coPurchaseDegrees(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"${coPurchasePath(s, dir)}/degrees")

  private def graphPagerank(s: SparkSession, dir: String): DataFrame = {
    // prepared path: the graph table already carries distinct edges with
    // degrees — no per-run re-distinct, no degree rollup (PlanSpec pins
    // the absence of both exchanges)
    pagerankPrepared(coPurchaseEdges(s, dir), coPurchaseDegrees(s, dir),
        iterations = 3)
      .select(col("node").as("p_partkey"), col("r").as("rank_milli"),
        col("d").as("n_neighbors"))
      .orderBy(col("p_partkey"))
  }

  /** `graph_triangles`: exact triangle counting over the co-purchase part
    * graph — the third graph-family leg (connected components = reach,
    * PageRank = importance, triangles = cohesion: clustering-coefficient
    * numerators, community density, link-spam detection).
    *
    * The naive count (join the edge list to itself twice) generates a
    * wedge per PATH of length 2 — Σ d(v)² wedges, which a single hub
    * node turns into a job-killing explosion at 100 TB. The standard fix
    * is DEGREE ORIENTATION (Chiba–Nishizeki / Schank): orient every
    * undirected edge from its lower-(degree, id) endpoint to its
    * higher-(degree, id) endpoint — a total order, so each triangle
    * acquires exactly ONE orientation-respecting wedge — and build
    * wedges only at each edge's LOW end. Out-degrees under this
    * orientation are bounded by O(√m), so wedge volume drops from
    * Σ d(v)² to O(m^1.5) worst-case and far less on real degree
    * distributions; the closing check is then one EQUI semi-join of
    * wedges against oriented edges. No global node ranking is ever
    * materialized — the orientation compares (degree, id) structs
    * directly, so every step is a hash shuffle on node ids and the whole
    * plan stays distributed (contrast a row_number over all nodes, which
    * would funnel the vertex set through one partition).
    *
    * Output: the 20 parts participating in the most triangles (count
    * desc, id asc) — pure integer math, replayed exactly by the DuckDB
    * oracle's identical SQL unrolling.
    */
  private[graft] def graphTrianglesStaged(s: SparkSession, dir: String): Staged = {
    // the graph table stores the degree-ORIENTED edge half, so the whole
    // per-run prep — halving scan, degree rollup, two orientation joins —
    // is gone: the query is the close itself (PlanSpec pins no Union and
    // no degree joins in the plan). Cached for the run: the close
    // references it three times (adjacency rollup + both join sides);
    // released via Staged like every query-local cache.
    val ornt = coPurchaseOriented(s, dir).cache()
    val st = orientedTriangleCountsStaged(ornt)
    Staged(st.plan
      .select(col("node").as("p_partkey"), col("n_triangles"))
      .orderBy(col("n_triangles").desc, col("p_partkey"))
      .limit(20), (st.caches :+ ornt): _*)
  }

  /** The orientation-based counting core, reusable over any canonical
    * undirected edge list (one (u, v) row per edge, u < v, no self
    * loops). Returns (node, n_triangles) for every triangle member.
    *
    * Close step: EDGE-ITERATOR adjacency intersection rather than wedge
    * enumeration. Materializing every oriented wedge as a row and
    * semi-joining it against the edge list shuffles O(Σ outdeg²) rows
    * twice (once out of the wedge join, once into the closing join's
    * hash build). Instead each node's oriented out-neighborhood is
    * rolled into ONE array, the edge list picks up both endpoints'
    * arrays, and `array_intersect` closes triangles locally inside
    * whole-stage codegen — a triangle (s → t1, s → t2, t1 → t2) is
    * found exactly once, at edge (s, t1), as t2 ∈ out(s) ∩ out(t1)
    * (t2 is an out-neighbor of both; the other two edges fail the
    * orientation, so no ordering filter and no double count). What
    * shuffles is Σ outdeg per join side in array form — O(m) rows
    * whose payloads are bounded by the same O(√m) orientation cap that
    * bounded wedge volume, but nothing the size of the wedge set ever
    * hits an exchange, and the close needs no join at all. On the
    * co-purchase graph this cut graph_triangles from 9.9 s to ~2 s at
    * sf0.1 (SCALE.md bench history).
    */
  def triangleCounts(undRaw: DataFrame): DataFrame =
    triangleCountsStaged(undRaw).hygienic()

  /** The lazy pipeline + its caches — [[triangleCounts]] serves the
    * hygienic view; PlanSpec pins THIS plan (the real join shapes). The
    * co-purchase registry query does NOT come through here — its
    * orientation is a stored column of the graph table, so it enters at
    * [[orientedTriangleCountsStaged]] directly.
    */
  private[graft] def triangleCountsStaged(undRaw: DataFrame): Staged = {
    // und feeds the degree rollup AND the orientation — cache so the
    // upstream edge build (typically a self-join) runs once
    val und = undRaw.cache()
    val deg = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    // orient low-(d, id) → high-(d, id): a total order, so out-degrees
    // are O(√m)-bounded and each triangle gets exactly one pivot edge
    val ornt = orientEdges(und, deg).cache()
    val st = orientedTriangleCountsStaged(ornt)
    Staged(st.plan, (Seq(und) ++ st.caches :+ ornt): _*)
  }

  /** The close over an already-ORIENTED (s, t) edge list (each undirected
    * edge exactly once, oriented low-(degree, id) → high; a SET — no
    * duplicate rows). This is the whole query when the orientation is a
    * stored column of the graph table ([[coPurchaseOriented]]). `ornt`
    * is referenced three times (adjacency rollup + both join sides) —
    * callers cache it and own the release.
    */
  private[graft] def orientedTriangleCountsStaged(ornt: DataFrame): Staged = {
    // one array per node: its oriented out-neighborhood (a set — ornt is
    // distinct). Sink nodes (no out-edges) simply have no row, and the
    // inner join below correctly drops edges whose head is a sink: a
    // pivot edge needs BOTH endpoints to have out-neighbors.
    val adj = ornt.groupBy(col("s")).agg(collect_list(col("t")).as("nbrs"))
    val closed = ornt
      .join(adj.select(col("s"), col("nbrs").as("nbrs_s")), "s")
      .join(adj.select(col("s").as("t"), col("nbrs").as("nbrs_t")), "t")
      .select(col("s"), col("t"),
        array_intersect(col("nbrs_s"), col("nbrs_t")).as("common"))
      .where(size(col("common")) > 0)
    // one row per triangle (s, t, w), then per-node membership counts
    val counts = closed
      .select(col("s"), col("t"), explode(col("common")).as("w"))
      .select(explode(array(col("s"), col("t"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    Staged(counts)
  }

  /** Multi-source breadth-first hop distance, bounded at `maxHops`.
    * `edges` is a directed (src, dst) list (feed a symmetric list for an
    * undirected graph), `seeds` a (node) relation; returns (node, hop)
    * with hop = the MINIMUM number of edges from any seed, for every
    * node within `maxHops`.
    *
    * Distributed shape: classic frontier expansion — each round joins
    * ONLY the newest frontier (not the whole visited set) against the
    * edge list on src, then anti-joins the visited set so a node enters
    * at its first (= minimum) hop exactly once. All three relations are
    * narrow (long or long-pair) rows hash-partitioned on the node id;
    * per-round lineage is truncated through the same injectable
    * checkpointer as the other iterative ops. Bounded hops instead of
    * run-to-fixpoint for the same budget reason as [[pagerank]]: each
    * round is a shuffle, and hop-k neighborhoods are what reachability
    * consumers (crawl frontiers, contamination blast radius, feature
    * neighborhoods) actually ask for.
    */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxHops: Int,
              checkpointer: Checkpointer = localCheckpointer): DataFrame = {
    val (visited, e) = bfsHopsStaged(edges, seeds, maxHops, checkpointer)
    // the final round is materialized through the checkpointer, so the
    // adjacency cache is provably dead — release it before returning
    // (nothing outlives the run; pagerankPrepared's discipline)
    e.unpersist(blocking = false)
    visited
  }

  /** The loop plus its per-run adjacency cache — [[bfsHops]] serves the
    * released view; PlanSpec pins that every round's edge side reads THIS
    * cache, not the file. ONE scan + ONE hash exchange of the adjacency
    * per run, exactly [[pagerankPrepared]]'s discipline: the cache is
    * built already partitioned on `src`, so each round's frontier join
    * shuffles only the narrow frontier rows (previously every round
    * re-scanned the edge relation — 4 scans per query, whose
    * file-layout sensitivity at fixture scale cost ~0.5–1 s, and whose
    * at-scale cost is 4 reads of the graph table where one suffices).
    * Cluster note: `cache()` on a Dataset defaults to MEMORY_AND_DISK,
    * so on a real cluster the pinned adjacency spills per-executor
    * rather than OOMing; a deployment whose edge relation outgrows even
    * aggregate disk re-scans the graph table per round instead (drop the
    * cache call) — the trade pagerankPrepared documents.
    */
  private[graft] def bfsHopsStaged(edges: DataFrame, seeds: DataFrame, maxHops: Int,
                                   checkpointer: Checkpointer = localCheckpointer): (DataFrame, DataFrame) = {
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src")).cache()
    var visited = checkpointer(
      seeds.select(col("node")).distinct().withColumn("hop", lit(0L)))
    (1 to maxHops).foreach { h =>
      val frontier = visited.where(col("hop") === (h - 1).toLong)
      // alias-qualified join resolution (not frontier("node")/e("dst")):
      // the cached adjacency appears in EVERY round's plan, so under a
      // non-materializing checkpointer round h's frontier subtree still
      // contains round h−1's reference to `e` and Dataset-id column
      // resolution trips the ambiguous-self-join check; the inner
      // aliases' qualifiers are stripped by each round's projection, so
      // the qualified names below are unambiguous for any checkpointer
      val next = frontier.alias("f")
        .join(e.alias("e"), col("f.node") === col("e.src"))
        .select(col("e.dst").as("node")).distinct()
        .join(visited.select(col("node")), Seq("node"), "left_anti")
        .withColumn("hop", lit(h.toLong))
      val prev = visited
      visited = checkpointer(visited.unionAll(next))
      releaseRound(prev) // superseded round: free its blocks eagerly
    }
    (visited, e)
  }

  /** Fixed BFS seed-set size: an O(1) control-plane set at any corpus
    * scale, selected RANK-based — the `BfsSeedTarget` graph nodes with
    * the smallest md5(node), the same stable-permutation idiom as
    * [[DedupOps]]' verifier anchors (a distributed top-k the oracle
    * replays as ORDER BY md5 LIMIT). The previous `node % 500 == 0` gate
    * assumed a dense-from-0 id space: on sparse/offset ids it could
    * select far from |graph|/500 seeds — at sf0.001 (200 part ids) it
    * selected ZERO, silently degenerating the query to empty output with
    * no oracle-visible signal. A rank gate selects exactly
    * min(target, |graph|) seeds on ANY id space.
    */
  private val BfsSeedTarget = 4

  /** `graph_bfs_hops`: hop-distance profile of the co-purchase graph from
    * a deterministic seed set ([[BfsSeedTarget]] rank-selected nodes).
    * Output: one row per hop level — how many parts sit at that minimum
    * distance, with the min/max part id as a content fingerprint. The
    * DuckDB oracle replays the same bounded BFS as a recursive CTE whose
    * UNION dedup terminates the recursion, then takes min(hop) per node —
    * set-identical to the frontier/anti-join formulation.
    */
  private def graphBfsHops(s: SparkSession, dir: String): DataFrame = {
    // bfsHops caches the pruned (src, dst) projection once per run and
    // releases it on return (see bfsHopsStaged's scaladoc for the
    // at-scale storage-level caveat) — column pruning drops the degree
    // column before the cache, so the pinned relation is two longs/edge
    val edges = coPurchaseEdges(s, dir)
    // seeds come from the DEGREES relation, which stores exactly the
    // graph's node set one row per node (the graph is symmetric, so
    // src-set = node-set) — seeding from `edges` would re-scan the edge
    // parquet and pay a |E|-row distinct exchange to recover a set the
    // table already has; the oracle's DISTINCT-src spelling is
    // set-identical by construction
    val seeds = coPurchaseDegrees(s, dir).select(col("node"))
      .orderBy(md5(col("node").cast("string")), col("node"))
      .limit(BfsSeedTarget)
    val visited = bfsHops(edges, seeds, maxHops = 3) // checkpointed rounds
    visited
      .groupBy(col("hop"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("node")).as("min_node"), max(col("node")).as("max_node"))
      .orderBy(col("hop"))
  }

  override val pipelines: Map[String, (SparkSession, String) => Staged] =
    Map("graph_triangles" -> (graphTrianglesStaged _))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_clusters" -> (dedupClusters _),
    "graph_pagerank" -> (graphPagerank _),
    "graph_bfs_hops" -> (graphBfsHops _)
  ) ++ QueryHygiene.served(pipelines)

  /** Oracle: DuckDB recursive CTE computes the transitive closure of the
    * same edge set (exact clique edges + EXHAUSTIVE near-dup pairs — the
    * engine's banded MinHash equals brute force on this corpus, same
    * completeness argument as `dedup_minhash_lsh`), then labels every node
    * with the min reachable id. Star vs clique exact edges differ as edge
    * LISTS but generate identical components.
    *
    * Tractability (round 15): the near-dup pair enumeration uses the
    * posting-list candidate join (provably ≡ the all-pairs form — see
    * DedupOps.duckPairs), and the triangle close is an explicit JOIN on
    * the oriented edge set rather than EXISTS — equivalent with no fanout
    * because (s, t) is unique in `ornt`, and ~10× faster in DuckDB
    * (validated identical at sf0.01; 18.7 s at sf0.1 vs a blown 45 s box).
    */
  val oracleSql: Map[String, String] = Map(
    "graph_triangles" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |und AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM items a JOIN items b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |deg AS (
        |  SELECT node, count(*) AS d FROM (
        |    SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und)
        |  GROUP BY node),
        |ornt AS (
        |  SELECT CASE WHEN (du.d, u) < (dv.d, v) THEN u ELSE v END AS s,
        |         CASE WHEN (du.d, u) < (dv.d, v) THEN v ELSE u END AS t,
        |         CASE WHEN (du.d, u) < (dv.d, v) THEN dv.d ELSE du.d END AS dt
        |  FROM und
        |  JOIN deg du ON du.node = und.u
        |  JOIN deg dv ON dv.node = und.v),
        |tri AS (
        |  SELECT e1.s AS s, e1.t AS t1, e2.t AS t2
        |  FROM ornt e1 JOIN ornt e2
        |    ON e1.s = e2.s AND (e1.dt, e1.t) < (e2.dt, e2.t)
        |  JOIN ornt c ON c.s = e1.t AND c.t = e2.t),
        |nodes AS (
        |  SELECT s AS p_partkey FROM tri
        |  UNION ALL SELECT t1 FROM tri
        |  UNION ALL SELECT t2 FROM tri)
        |SELECT p_partkey, count(*) AS n_triangles
        |FROM nodes GROUP BY p_partkey
        |ORDER BY n_triangles DESC, p_partkey LIMIT 20""".stripMargin,
    "graph_pagerank" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |edges AS (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM items a JOIN items b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src),
        |r0 AS (SELECT src AS node, 1000::BIGINT AS r FROM deg),
        |r1 AS (SELECT e.dst AS node, 150 + (850 * sum(r.r // g.d)) // 1000 AS r
        |       FROM edges e JOIN r0 r ON e.src = r.node JOIN deg g ON e.src = g.src
        |       GROUP BY e.dst),
        |r2 AS (SELECT e.dst AS node, 150 + (850 * sum(r.r // g.d)) // 1000 AS r
        |       FROM edges e JOIN r1 r ON e.src = r.node JOIN deg g ON e.src = g.src
        |       GROUP BY e.dst),
        |r3 AS (SELECT e.dst AS node, 150 + (850 * sum(r.r // g.d)) // 1000 AS r
        |       FROM edges e JOIN r2 r ON e.src = r.node JOIN deg g ON e.src = g.src
        |       GROUP BY e.dst)
        |SELECT r3.node AS p_partkey, CAST(r3.r AS BIGINT) AS rank_milli,
        |  g.d AS n_neighbors
        |FROM r3 JOIN deg g ON r3.node = g.src
        |ORDER BY p_partkey""".stripMargin,
    "dedup_clusters" ->
      s"""WITH RECURSIVE
         |fixture AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0),
         |tok AS (
         |  SELECT doc_id,
         |    CASE WHEN len(w) < 3 THEN [] ELSE list_distinct(
         |      list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
         |    END AS t
         |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') w
         |        FROM fixture)),
         |exact_edges AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM fixture a JOIN fixture b
         |    ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id),
         |post AS (SELECT doc_id, unnest(t) AS g FROM tok),
         |nsz AS (SELECT doc_id, len(t) AS n FROM tok),
         |cand AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |  FROM post a JOIN post b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |near_edges AS (
         |  SELECT a_id, b_id FROM cand
         |  JOIN nsz ta ON ta.doc_id = a_id
         |  JOIN nsz tb ON tb.doc_id = b_id
         |  WHERE inter::DOUBLE / (ta.n + tb.n - inter)::DOUBLE
         |    >= ${DedupOps.JaccardThreshold}),
         |edges AS (SELECT * FROM exact_edges UNION SELECT * FROM near_edges),
         |sym AS (SELECT a_id AS s, b_id AS d FROM edges
         |        UNION SELECT b_id, a_id FROM edges),
         |reach AS (
         |  SELECT s AS id, s AS label FROM sym
         |  UNION
         |  SELECT sym.d AS id, reach.label FROM reach JOIN sym ON reach.id = sym.s)
         |SELECT doc_id, cluster_id,
         |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         |  doc_id = cluster_id AS is_canonical
         |FROM (SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY id)
         |ORDER BY doc_id""".stripMargin,
    "graph_bfs_hops" ->
      s"""WITH RECURSIVE
        |items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |edges AS (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM items a JOIN items b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
        |seeds AS (
        |  SELECT node FROM (SELECT DISTINCT src AS node FROM edges)
        |  ORDER BY md5(CAST(node AS VARCHAR)), node LIMIT $BfsSeedTarget),
        |bfs AS (
        |  SELECT node, 0 AS hop FROM seeds
        |  UNION
        |  SELECT e.dst AS node, bfs.hop + 1 AS hop
        |  FROM bfs JOIN edges e ON e.src = bfs.node
        |  WHERE bfs.hop < 3),
        |minhop AS (SELECT node, min(hop) AS hop FROM bfs GROUP BY node)
        |SELECT CAST(hop AS BIGINT) AS hop, CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(min(node) AS BIGINT) AS min_node,
        |  CAST(max(node) AS BIGINT) AS max_node
        |FROM minhop GROUP BY hop ORDER BY hop""".stripMargin
  )
}
