package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Lloyd's k-means over the embedding corpus — the clustering pass behind
  * semantic dedup / mixture balancing in a training-data pipeline (cluster,
  * then sample per cluster). No reference analogue (the reference has no
  * vector ops at all); the need comes from the north-star brief.
  *
  * Engine-exact by construction: embeddings are quantized to integers
  * (`round(x · 10⁴)`), so every centroid is an exact (Σq, n) integer pair and
  * every distance comparison is `CAST(Σ(n·qᵢ − sᵢ)² AS DOUBLE) / n²` — one
  * deterministic int64 sum (order-independent), one int→double conversion,
  * one division. No float summation-order ambiguity exists anywhere, so
  * DuckDB replays the full 3-iteration loop bit-exactly (see `oracleSql` —
  * the loop unrolled as CTE pairs). Int64 bounds: |q| ≤ ~10⁴·0.53, n ≤ corpus
  * size, so Σ(n·qᵢ−sᵢ)² ≤ 64·(n·10⁴)² ≈ 4.5e16 at sf0.1 — far inside int64.
  *
  * Scale shape (100 TB): centroids are k·dim integers — kilobytes. Each
  * iteration is one broadcast of the centroid row + a map-only assignment
  * pass + one partial-agg shuffle of k·dim cells for the centroid update
  * (the posexplode feeds straight into a partial aggregate on (cid, pos) —
  * k·dim distinct keys — so the expansion collapses map-side). On a real
  * cluster each iteration's input would be checkpointed; at 3 iterations the
  * nested plan is fine as-is.
  */
object EmbedClusterOps extends QueryFamily {

  private val KFloor = 8
  private val Iters = 3
  private val Scale = 10000

  /** Corpus-derived cluster count, k ≈ √n/4 (floor [[KFloor]]): average
    * cluster size grows only as ~4√n, so SemDeDup's within-cluster
    * all-pairs work is O(n^1.5), never O(n²), and the centroid row stays
    * kilobytes at any n. The same expression runs as the `kp` CTE in the
    * oracle SQL (sqrt and /4 are correctly-rounded doubles in both
    * engines, so the derived k can never disagree).
    */
  private[graft] def kFor(n: Long): Int =
    math.max(KFloor, math.ceil(math.sqrt(n.max(1L).toDouble) / 4).toInt)

  /** Quantized vectors `(vec_id, q: array<long>)`. */
  private def quantized(vectors: DataFrame): DataFrame =
    vectors.select(col("vec_id"),
      transform(col("embedding"), x => round(x.cast("double") * Scale).cast("long")).as("q"))

  /** Exact integer distance comparator: dist(q, centroid(s, n)) scaled — see
    * header. `c` is a struct<cid:int, s:array<long>, n:long>.
    */
  private def dist(c: Column, q: Column): Column = {
    val terms = zip_with(q, c.getField("s"), (xi, si) => {
      val t = c.getField("n") * xi - si
      t * t
    })
    aggregate(terms, lit(0L), (a, b) => a + b).cast("double") /
      (c.getField("n") * c.getField("n")).cast("double")
  }

  /** Argmin over the (cid-ascending) centroid array: map each centroid to
    * its (d, cid) pair once, then `array_min`'s lexicographic struct order
    * IS "min d, lowest cid on ties" — the oracle's `ORDER BY d, cid`
    * mirror. (A fold with `when(dist < acc.d)` would evaluate every
    * distance twice — once in the predicate, once in the kept struct.)
    *
    * Kept as the readable reference; the hot path runs
    * `graft_int_argmin` — the same math in one compiled pass
    * ([[graft.functions.NativeVector.intArgmin]], equivalence pinned in
    * NativeVectorSpec) — because n·k HOF evaluations per Lloyd pass pay an
    * interpreted-lambda + zip_with-allocation tax that dominates the whole
    * k-means family once k is corpus-derived.
    */
  private[graft] def bestStructComposable(cents: Column, q: Column): Column =
    array_min(transform(cents,
      c => struct(dist(c, q).as("d"), c.getField("cid").as("cid"))))

  private def bestStruct(cents: Column, q: Column): Column =
    call_function("graft_int_argmin", q, cents)

  /** One assignment pass: vectors × broadcast 1-row centroid array. */
  private def assign(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val centsRow = cents
      .agg(sort_array(collect_list(struct(col("cid"), col("s"), col("n")))).as("cents"))
    vecs.crossJoin(broadcast(centsRow))
      .select(col("vec_id"), col("q"),
        bestStruct(col("cents"), col("q")).getField("cid").as("cid"))
  }

  /** Centroid update from an assignment; a cluster that lost every point
    * carries its previous (s, n) forward (both engines implement this same
    * LEFT JOIN + COALESCE rule, so the case is well-defined, not UB).
    */
  private def recompute(assigned: DataFrame, prev: DataFrame): DataFrame = {
    val sums = assigned
      .select(col("cid"), posexplode(col("q")).as(Seq("pos", "v")))
      .groupBy(col("cid"), col("pos")).agg(sum(col("v")).as("sv"), count(lit(1)).as("cnt"))
      .groupBy(col("cid")).agg(
        transform(array_sort(collect_list(struct(col("pos"), col("sv")))),
          x => x.getField("sv")).as("s2"),
        max(col("cnt")).as("n2"))
    prev.join(sums, Seq("cid"), "left_outer")
      .select(col("cid"),
        coalesce(col("s2"), col("s")).as("s"),
        coalesce(col("n2"), col("n")).as("n"))
  }

  /** `Iters` Lloyd passes from deterministic seeds (the k smallest vec_ids,
    * cid = rank); returns `(vec_id, cid)`.
    */
  def kmeansAssign(vectors: DataFrame, k: Int = 0, iters: Int = Iters,
                   memoKey: Option[String] = None): DataFrame =
    kmeansDistances(vectors, k, iters, memoKey).select(col("vec_id"), col("cid"))

  // A trained clustering is a MODEL — kilobytes of centroid state reused by
  // every downstream application pass (assignment, outlier screen, SemDeDup
  // prune), exactly like the BPE merge table. Memoized per caller-supplied
  // key (corpus dirs are immutable for the session, same contract as
  // Tables.load); the APPLICATION passes always run live — only the Lloyd
  // training loop is skipped on a hit. Deterministic either way: training
  // is integer-exact from fixed seeds, so memo hit and miss produce
  // identical centroids (the DuckDB oracle retrains from scratch and still
  // hash-matches).
  private val centsMemo =
    scala.collection.concurrent.TrieMap.empty[String, Array[org.apache.spark.sql.Row]]

  /** Final assignment WITH the exact distance to the assigned centroid —
    * the (vec_id, cid, d) relation the outlier screen ranks over. Same
    * deterministic pipeline as [[kmeansAssign]]; `d` is the identical
    * integer-ratio double the argmin minimized.
    */
  def kmeansDistances(vectors: DataFrame, k: Int = 0, iters: Int = Iters,
                      memoKey: Option[String] = None): DataFrame =
    kmeansDistancesStaged(vectors, k, iters, memoKey).hygienic()

  /** The lazy assignment pipeline + its Lloyd-loop cache —
    * [[kmeansDistances]] serves the hygienic view; EmbedClusterSpec pins
    * THIS plan (broadcast + map-only assignment).
    */
  private[graft] def kmeansDistancesStaged(
      vectors: DataFrame, k: Int = 0, iters: Int = Iters,
      memoKey: Option[String] = None): QueryHygiene.Staged = {
    val spark = vectors.sparkSession
    // each Lloyd pass re-reads the quantized relation (3 assigns + 2
    // updates): cache it once instead of re-scanning + re-quantizing
    val vecs = quantized(vectors).cache()
    // k = 0 (default) derives the cluster count from the corpus size
    val kk = if (k > 0) k else kFor(vecs.count())
    def train(): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("vec_id"))
      val seeds = vecs.orderBy(col("vec_id")).limit(kk)
        .select((row_number().over(w) - 1).cast("int").as("cid"),
          col("q").as("s"), lit(1L).as("n"))
      (1 until iters).foldLeft(seeds) { (cents, _) =>
        recompute(assign(vecs, cents), cents)
      }
    }
    val finalCents = memoKey match {
      case None => train()
      case Some(key) =>
        val fullKey = s"$key#k=$kk#iters=$iters"
        val rows = centsMemo.getOrElseUpdate(fullKey, train().collect())
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("cid",
            org.apache.spark.sql.types.IntegerType, nullable = false),
          org.apache.spark.sql.types.StructField("s",
            org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)),
          org.apache.spark.sql.types.StructField("n",
            org.apache.spark.sql.types.LongType, nullable = false)))
        spark.createDataFrame(spark.sparkContext.parallelize(rows.toIndexedSeq), schema)
    }
    val centsRow = finalCents
      .agg(sort_array(collect_list(struct(col("cid"), col("s"), col("n")))).as("cents"))
    val out = vecs.crossJoin(broadcast(centsRow))
      .select(col("vec_id"), bestStruct(col("cents"), col("q")).as("best"))
      .select(col("vec_id"), col("best.cid").as("cid"), col("best.d").as("d"))
    // hygienic consumption materializes the assignment (narrow (id, cid,
    // d) rows), then drops the Lloyd-loop cache — nothing stays registered
    // in the CacheManager after the query returns
    QueryHygiene.Staged(out, vecs)
  }

  private def embedKmeans(s: SparkSession, dir: String): DataFrame =
    kmeansAssign(Tables.load(s, dir, "embeddings"),
      memoKey = Some(s"$dir/embeddings")).orderBy(col("vec_id"))

  /** SemDeDup-shaped semantic dedup: k-means partitions the corpus, then the
    * ≥ 0.99-cosine prune runs pairwise WITHIN each cluster only — the
    * all-pairs work is confined to cluster-sized blocks (k grows with the
    * corpus at 100 TB, keeping blocks bounded), never the whole corpus.
    * A vector is dropped when a lower-id ≥ 0.99 neighbor shares its cluster.
    * Fixture: exact duplicates injected for every 50th vector (same
    * embedding ⇒ same quantized point ⇒ provably the same cluster ⇒ cosine
    * 1); the raw corpus has no pair above 0.8, so the drops are exactly the
    * injected copies — which makes the exhaustive-truth oracle equal the
    * clustered plan's output.
    */
  private def semdedupPruneStaged(s: SparkSession, dir: String): QueryHygiene.Staged = {
    val e = Tables.load(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val fx = e.unionByName(
      e.where(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
    // both sides of the within-cluster self-join derive from this relation:
    // cache it, or the entire kmeans+join pipeline executes once per side
    val m = fx.join(kmeansAssign(fx, memoKey = Some(s"$dir/semdedup_fx")), Seq("vec_id")).cache()
    val a = m.select(col("vec_id").as("a_id"), col("embedding").as("a_e"), col("cid"))
    val b = m.select(col("vec_id").as("b_id"), col("embedding").as("b_e"), col("cid"))
    QueryHygiene.Staged(
      a.join(b, Seq("cid")).where(col("a_id") < col("b_id"))
        .where(round(call_function("graft_cosine", col("a_e"), col("b_e")), 6) >= 0.99)
        .select(col("b_id").as("vec_id"), col("cid"))
        .distinct()
        .orderBy(col("vec_id")),
      m)
  }

  /** Embedding-space outlier screen: the top ⌈5%⌉ most-distant members of
    * each k-means cluster — the "drop the weird vectors" curation pass.
    * RANK-based, not threshold-based, deliberately: a percentile-threshold
    * comparison would hinge on cross-engine interpolation ulps, while
    * `row_number ≤ ceil(cnt/20)` over (d DESC, vec_id) is exact given that
    * `d` itself is the same integer-ratio double in both engines. One
    * cluster-key window over the assignment relation — candidate-sized
    * work after the k-means passes.
    */
  private def embedOutliers(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dd = kmeansDistances(Tables.load(s, dir, "embeddings"),
      memoKey = Some(s"$dir/embeddings"))
    val w = Window.partitionBy(col("cid")).orderBy(col("d").desc, col("vec_id"))
    val cw = Window.partitionBy(col("cid"))
    dd.withColumn("rnk", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(cw))
      .where(col("rnk") <= expr("(cnt + 19) div 20"))
      .select(col("vec_id"), col("cid"), col("rnk"))
      .orderBy(col("vec_id"))
  }

  override val pipelines: Map[String, (SparkSession, String) => QueryHygiene.Staged] =
    Map("semdedup_prune" -> (semdedupPruneStaged _))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_kmeans" -> (embedKmeans _),
    "embed_outliers" -> (embedOutliers _)
  ) ++ QueryHygiene.served(pipelines)

  /** Quantization CTE over a source relation (must expose vec_id, embedding). */
  private def quantSql(src: String): String =
    s"""v AS (
       |  SELECT vec_id,
       |    list_transform(embedding::DOUBLE[], x -> CAST(round(x * $Scale) AS BIGINT)) AS q
       |  FROM $src)""".stripMargin

  /** The iteration loop unrolled: aN = assignment vs c(N−1); sN/cN = the
    * centroid update with the empty-cluster carry. `p[1]`/`p[2]` are the
    * zipped (qᵢ, sᵢ) pair; dim is 64 per TESTDATA (the engine side is
    * dim-agnostic). Appends to a WITH chain that already defines `v`;
    * the final assignment is `a$iters`.
    */
  private def kmeansBodySql(iters: Int): String = {
    val sb = new StringBuilder(
      s""",
         |kp AS (
         |  SELECT GREATEST($KFloor, CAST(ceil(sqrt(count(*)) / 4) AS INTEGER)) AS k FROM v),
         |c0 AS (
         |  SELECT CAST(rn - 1 AS INTEGER) AS cid, q AS s, CAST(1 AS BIGINT) AS n
         |  FROM (SELECT q, row_number() OVER (ORDER BY vec_id) AS rn FROM v)
         |  WHERE rn <= (SELECT k FROM kp))""".stripMargin)
    for (i <- 1 to iters) {
      sb.append(
        s""",
           |a$i AS (
           |  SELECT vec_id, q, cid FROM (
           |    SELECT v.vec_id, v.q, c.cid,
           |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
           |        CAST(list_sum(list_transform(list_zip(v.q, c.s),
           |               p -> (c.n*p[1] - p[2])*(c.n*p[1] - p[2]))) AS DOUBLE)
           |          / CAST(c.n*c.n AS DOUBLE), c.cid) AS rn
           |    FROM v CROSS JOIN c${i - 1} c) WHERE rn = 1)""".stripMargin)
      if (i < iters) sb.append(
        s""",
           |s$i AS (
           |  SELECT cid, i, CAST(sum(q[i]) AS BIGINT) AS sv, count(*) AS cnt
           |  FROM a$i CROSS JOIN range(1, 65) t(i) GROUP BY cid, i),
           |c$i AS (
           |  SELECT c.cid, COALESCE(x.s, c.s) AS s, COALESCE(x.n, c.n) AS n
           |  FROM c${i - 1} c LEFT JOIN (
           |    SELECT cid, list(sv ORDER BY i) AS s, CAST(max(cnt) AS BIGINT) AS n
           |    FROM s$i GROUP BY cid) x ON c.cid = x.cid)""".stripMargin)
    }
    sb.toString
  }

  val oracleSql: Map[String, String] = Map(
    "embed_kmeans" ->
      (s"WITH ${quantSql("embeddings")}" + kmeansBodySql(Iters) +
        s"\nSELECT vec_id, cid FROM a$Iters ORDER BY vec_id"),
    // same k-means replay, then distance-to-own-centroid (vs the final
    // centroids c(Iters-1), exactly what the last assignment minimized)
    // and the rank-based 5% cut
    "embed_outliers" ->
      (s"WITH ${quantSql("embeddings")}" + kmeansBodySql(Iters) +
        s""",
           |dd AS (
           |  SELECT a.vec_id, a.cid,
           |    CAST(list_sum(list_transform(list_zip(a.q, c.s),
           |           p -> (c.n*p[1] - p[2])*(c.n*p[1] - p[2]))) AS DOUBLE)
           |      / CAST(c.n*c.n AS DOUBLE) AS d
           |  FROM a$Iters a JOIN c${Iters - 1} c ON a.cid = c.cid),
           |r AS (
           |  SELECT vec_id, cid,
           |    row_number() OVER (PARTITION BY cid ORDER BY d DESC, vec_id) AS rnk,
           |    count(*) OVER (PARTITION BY cid) AS cnt
           |  FROM dd)
           |SELECT vec_id, cid, CAST(rnk AS INTEGER) AS rnk
           |FROM r WHERE rnk <= (cnt + 19) // 20 ORDER BY vec_id""".stripMargin),
    "semdedup_prune" ->
      (s"""WITH fx AS (
          |  SELECT vec_id, embedding FROM embeddings
          |  UNION ALL
          |  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 50 = 0),
          |""".stripMargin + quantSql("fx") + kmeansBodySql(Iters) +
        s""",
           |m AS (
           |  SELECT f.vec_id, f.embedding, a.cid
           |  FROM fx f JOIN a$Iters a ON f.vec_id = a.vec_id)
           |SELECT DISTINCT b.vec_id, b.cid
           |FROM m a JOIN m b ON a.cid = b.cid AND a.vec_id < b.vec_id
           |WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.99
           |ORDER BY 1""".stripMargin)
  )
}
