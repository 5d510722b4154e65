package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Duplicate-cluster resolution: the engine's iterative hash-min labeling
  * must equal the ground truth (driver-side union-find over the same
  * edges), reach a fixpoint, and actually exercise transitivity (multi-hop
  * components mixing exact and near-dup edges).
  */
class ClusterSpec extends AnyFunSuite {
  import SparkTestBase._

  private lazy val clusters =
    ops.ClusterOps.queries("dedup_clusters")(spark, Sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))

  /** The same edge set the engine clusters, rebuilt independently: exact
    * md5 cliques + verified near-dup pairs, both over the fixture corpus.
    */
  private lazy val edges: Seq[(Long, Long)] = {
    val docs = Tables.load(spark, Sf0001, "documents")
    val fixture = docs.unionByName(
      docs.where(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000))
      .cache()
    val hashed = fixture.select(col("doc_id"), md5(col("text")).as("h"))
    val exact = hashed.as("a").join(hashed.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val sh = fixture.select(col("doc_id"), expr("graft_shingle_hashes(text)").as("sh_hashes"))
    val near = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        graft.functions.TextFunctions.jaccard(col("a.sh_hashes"), col("b.sh_hashes")).as("j"))
      .where(col("j") >= ops.DedupOps.JaccardThreshold)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    exact ++ near
  }

  /** Driver-side union-find ground truth over the brute-force edge set. */
  private lazy val truth: Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("labels equal union-find ground truth over brute-force edges") {
    val engine = clusters.map(c => c._1 -> c._2).toMap
    assert(engine == truth)
  }

  test("labeling is a fixpoint: every edge's endpoints share a cluster") {
    val label = clusters.map(c => c._1 -> c._2).toMap
    edges.foreach { case (a, b) =>
      assert(label(a) == label(b), s"edge ($a,$b) crosses clusters")
    }
  }

  test("cluster_id is the component min and is_canonical marks exactly it") {
    clusters.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.map(_._1).min == cid, s"cluster $cid not labeled by its min member")
      assert(members.count(_._4) == 1 && members.find(_._4).get._1 == cid)
      members.foreach(m => assert(m._3 == members.size.toLong))
    }
  }

  test("the materialized dedup-pair table is sound and covers every dup node") {
    // the memoized pair table stores exact-dup STAR edges (group-min →
    // member) where the brute-force truth here enumerates CLIQUE pairs, so
    // the pin is subset + node coverage (star ⊆ clique with identical
    // connectivity), not list equality — component equality is the
    // union-find test above
    val stored = ops.ClusterOps.dedupPairEdges(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truthSet = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    assert(stored.nonEmpty)
    assert(stored.subsetOf(truthSet),
      s"stored pair table contains non-dup edges: ${stored -- truthSet}")
    val storedNodes = stored.flatMap(e => Set(e._1, e._2))
    val truthNodes = truthSet.flatMap(e => Set(e._1, e._2))
    assert(storedNodes == truthNodes,
      "stored pair table must cover exactly the docs that appear in a true dup pair")
  }

  test("the fixture graph exercises transitivity (some component spans 3+ docs)") {
    assert(clusters.groupBy(_._2).values.exists(_.size >= 3),
      "no multi-hop component — the clusters query degenerates to pair output")
  }

  test("connectedComponents on adversarial graphs: long chain, star, forest") {
    import spark.implicits._
    def cc(edges: Seq[(Long, Long)]): Map[Long, Long] =
      ops.ClusterOps.connectedComponents(edges.toDF("a_id", "b_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 12-node chain labeled high→low: min propagates one hop per round —
    // the deepest convergence path the fixture graph never produces
    val chain = (0L until 11L).map(i => (100L - i, 100L - i - 1))
    assert(cc(chain) == (89L to 100L).map(_ -> 89L).toMap)
    // star with the hub as the max id: every leaf must still win the min
    val star = (1L to 8L).map(i => (200L, 200L - i))
    assert(cc(star) == ((192L to 199L) :+ 200L).map(_ -> 192L).toMap)
    // forest: three separate components keep separate labels
    val forest = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L))
    assert(cc(forest) == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("pointer jumping converges a 64-node chain in O(log n) rounds") {
    import spark.implicits._
    // 63 edges in a path: plain one-hop min-propagation needs 63 rounds
    // (past the MaxRounds ceiling); the per-round pointer jump doubles
    // reach, so convergence must land well inside the ceiling
    val chain = (0L until 63L).map(i => (1000L + i, 1000L + i + 1)).toDF("a_id", "b_id")
    var calls = 0
    val counting: ops.ClusterOps.Checkpointer = df => { calls += 1; df.localCheckpoint(true) }
    val labels = ops.ClusterOps.connectedComponents(chain, counting)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == (1000L to 1063L).map(_ -> 1000L).toMap)
    // calls = 1 init + 1 per plain round (first JumpAfter=3) + 2 per
    // jumping round; pure one-hop propagation would need 63 rounds (64+
    // calls), while 3 + O(log 63) jumping rounds stays ≤ ~14 rounds —
    // anything near 64 calls means the jump stopped doubling reach
    assert(calls <= 28,
      s"pointer jumping should converge in O(log n) rounds, saw $calls checkpointer calls")
  }

  test("checkpoint strategy is injectable: honored every round, reliable path agrees") {
    import spark.implicits._
    val chain = (0L until 11L).map(i => (100L - i, 100L - i - 1)).toDF("a_id", "b_id")
    // a recording checkpointer proves the loop truncates lineage through
    // the injected strategy (init + one call per round), not a hardwired
    // localCheckpoint
    var calls = 0
    val recording: ops.ClusterOps.Checkpointer = df => { calls += 1; df.localCheckpoint(true) }
    val viaRecording = ops.ClusterOps.connectedComponents(chain, recording)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(calls >= 3, s"checkpointer must be invoked every round, saw $calls calls")
    // the cluster-mode strategy (reliable checkpoint to the checkpoint
    // dir) must produce identical labels
    val ckDir = tmpDir("cc_ck_")
    spark.sparkContext.setCheckpointDir(ckDir)
    val viaReliable =
      ops.ClusterOps.connectedComponents(chain, ops.ClusterOps.reliableCheckpointer)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaReliable == viaRecording)
    assert(viaReliable == (89L to 100L).map(_ -> 89L).toMap)
  }

  test("pagerank and bfsHops run end-to-end on the RELIABLE checkpointer, bit-identical") {
    import spark.implicits._
    // the cluster fault-tolerance path: every round persists to the
    // checkpoint dir (the HDFS/object-store stand-in) instead of executor
    // blocks; labels/ranks/hops must be bit-identical to the local path
    val ckDir = tmpDir("iter_ck_")
    spark.sparkContext.setCheckpointDir(ckDir)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L), (3L, 2L), (1L, 3L),
      (4L, 5L), (5L, 4L))
      .toDF("src", "dst")
    def ranks(cp: ops.ClusterOps.Checkpointer) =
      ops.ClusterOps.pagerank(edges, iterations = 3, cp)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(ranks(ops.ClusterOps.reliableCheckpointer) ==
      ranks(ops.ClusterOps.localCheckpointer))
    val seeds = Seq(Tuple1(1L)).toDF("node")
    def hops(cp: ops.ClusterOps.Checkpointer) =
      ops.ClusterOps.bfsHops(edges, seeds, maxHops = 2, cp)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(hops(ops.ClusterOps.reliableCheckpointer) ==
      hops(ops.ClusterOps.localCheckpointer))
    assert(hops(ops.ClusterOps.reliableCheckpointer) ==
      Seq((1L, 0L), (2L, 1L), (3L, 1L)))
    // the reliable path must have actually WRITTEN rounds to the dir
    def countFiles(d: java.io.File): Int =
      Option(d.listFiles).toSeq.flatten.map(f =>
        if (f.isDirectory) countFiles(f) else 1).sum
    assert(countFiles(new java.io.File(ckDir)) > 0,
      "reliable checkpointer must persist rounds into the checkpoint dir")
  }

  test("source contamination matrix conserves the verified pair count") {
    val matrix = ops.DedupOps.queries("dedup_source_matrix")(SparkTestBase.spark, SparkTestBase.Sf0001)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
    assert(matrix.nonEmpty)
    // every near-dup pair lands in exactly one unordered cell
    val nPairs = ops.DedupOps.queries("dedup_minhash_lsh")(SparkTestBase.spark, SparkTestBase.Sf0001)
      .count()
    assert(matrix.map(_._2).sum == nPairs)
    // cells are normalized (lo <= hi) and unique
    assert(matrix.forall { case ((lo, hi), _) => lo <= hi })
    assert(matrix.map(_._1).distinct.length == matrix.length)
  }

  test("pagerank replays the integer-milli update on a hand-computed path graph") {
    // path A(1)–B(2)–C(3), symmetric edges; deg A=C=1, B=2; r0 = 1000.
    // r1: A = 150 + 850·(1000 div 2) div 1000 = 575, B = 150 + 850·2000 div 1000
    //     = 1850, C = 575
    // r2: A = 150 + 850·(1850 div 2) div 1000 = 936, B = 150 + 850·1150 div 1000
    //     = 1127, C = 936
    // r3: A = 150 + 850·(1127 div 2) div 1000 = 628, B = 150 + 850·1872 div 1000
    //     = 1741, C = 628
    import SparkTestBase.spark
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
      .toDF("src", "dst")
    val got = ops.ClusterOps.pagerank(edges, iterations = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == Seq((1L, 628L, 1L), (2L, 1741L, 2L), (3L, 628L, 1L)))
  }

  test("pagerank restores zero-in-degree sources and keeps their contributions flowing") {
    // ASYMMETRIC fixture: A(1)→B(2), B(2)↔C(3). A has out-edges but NO
    // in-edges — the contribution rollup never emits it, so without the
    // source-restoration step A vanishes from round 2 on and B silently
    // loses A's contribution. deg A=B=C=1; r0 = 1000.
    // r1: A = 150 (no in-edges), B = 150 + 850·(1000+1000) div 1000 = 1850,
    //     C = 150 + 850·1000 div 1000 = 1000
    // r2: A = 150, B = 150 + 850·(150+1000) div 1000 = 1127,
    //     C = 150 + 850·1850 div 1000 = 1722
    // r3: A = 150, B = 150 + 850·(150+1722) div 1000 = 1741,
    //     C = 150 + 850·1127 div 1000 = 1107
    // (A buggy engine that drops A yields B = 1613 at r3 — the assert
    // below distinguishes them, which the symmetric co-purchase oracle
    // cannot.)
    import SparkTestBase.spark
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val got = ops.ClusterOps.pagerank(edges, iterations = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == Seq((1L, 150L, 1L), (2L, 1741L, 1L), (3L, 1107L, 1L)))
  }

  test("pagerank emits pure-sink nodes with d = 0 instead of dropping them") {
    // ASYMMETRIC fixture WITH A SINK: A(1)→B(2), B(2)↔C(3), B(2)→D(4).
    // D has in-edges but NO out-edges — it is ranked by every round's
    // contribution rollup, but it has no out-degree row, so a final
    // materialization that inner-joins ranks against `degrees` silently
    // drops it (the exact mirror of the dropped-source bug the previous
    // fixture pins). Contract: sinks EMIT, with d = 0.
    // deg A=1, B=2, C=1; r0 = 1000 over the degrees universe {A,B,C}.
    // r1: A = 150; B = 150 + 850·(1000+1000) div 1000 = 1850;
    //     C = 150 + 850·(1000 div 2) div 1000 = 575; D = 575
    // r2: A = 150; B = 150 + 850·(150+575) div 1000 = 766;
    //     C = 150 + 850·(1850 div 2) div 1000 = 936; D = 936
    // r3: A = 150; B = 150 + 850·(150+936) div 1000 = 1073;
    //     C = 150 + 850·(766 div 2) div 1000 = 475; D = 475
    // (A buggy engine emits only A, B, C — the row-count assert alone
    // distinguishes them, which the symmetric co-purchase oracle cannot.)
    import SparkTestBase.spark
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 2L), (2L, 4L)).toDF("src", "dst")
    val got = ops.ClusterOps.pagerank(edges, iterations = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == Seq((1L, 150L, 1L), (2L, 1073L, 2L), (3L, 475L, 1L),
      (4L, 475L, 0L)))
  }

  test("pagerank ranks hubs above leaves on the co-purchase graph") {
    val pr = ops.ClusterOps.queries("graph_pagerank")(SparkTestBase.spark, SparkTestBase.Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pr.nonEmpty)
    // degree and rank must correlate at the extremes: the max-degree
    // node outranks the min-degree node (sanity, not a theorem — holds
    // comfortably on this graph)
    val byDeg = pr.sortBy(_._3)
    assert(byDeg.last._2 > byDeg.head._2,
      s"max-degree ${byDeg.last} should outrank min-degree ${byDeg.head}")
  }

  test("bfsHops assigns minimum hops and drops out-of-range nodes") {
    import SparkTestBase.spark
    import spark.implicits._
    // path 1-2-3-4-5 plus a shortcut 1-4: node 4 is reachable in 4 hops
    // along the path but 1 via the shortcut — min must win; node 5 sits
    // at hop 2 (via the shortcut), and 9 is disconnected entirely.
    // Symmetric edge list, like the co-purchase graph.
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L), (8L, 9L))
    val edges = (und ++ und.map(e => (e._2, e._1))).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val got = ops.ClusterOps.bfsHops(edges, seeds, maxHops = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got == Seq((1L, 0L), (2L, 1L), (3L, 2L), (4L, 1L), (5L, 2L)),
      s"got $got")
  }

  test("triangleCounts is exact on a hand-built graph") {
    import SparkTestBase.spark
    import spark.implicits._
    // K4 on {1,2,3,4} (4 triangles, each node in 3 — a degree-TIED clique,
    // so the (d, id) tiebreak orientation is exercised), a pendant 4–5
    // (touches no triangle), plus triangle {6,7,8} sharing no nodes.
    val und = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (6L, 7L), (6L, 8L), (7L, 8L))
      .toDF("u", "v")
    val got = ops.ClusterOps.triangleCounts(und)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got == Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L),
      (6L, 1L), (7L, 1L), (8L, 1L)),
      s"got $got")
  }
}
