package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Grid-blocked spatial self-join — radius search without a cartesian
  * product, the blocking pattern behind geo dedup, store-overlap
  * analysis, and embedding-space bucketing alike. Points get a
  * deterministic integer coordinate (md5-derived, so the DuckDB oracle
  * reproduces them bit-exactly); each point lands in one grid cell of
  * side = radius, candidate pairs come from an EQUI-join of a point's
  * 3×3 cell neighborhood against the cell index, and the exact
  * squared-distance filter runs on candidates only. At 100 TB the cell
  * id is the shuffle key: candidates are |points|·density instead of
  * |points|², and the 9-cell expansion is a map-side explode of a
  * 9-element literal array — no join, no skew beyond the data's own
  * spatial skew. GeoOpsSpec pins the plan: one equi-join on (cx, cy),
  * zero CartesianProduct/BroadcastNestedLoopJoin nodes.
  */
object GeoOps extends QueryFamily {

  private val R = 64L // radius and grid cell side (Chebyshev-safe: 3×3 covers)

  private def points(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "customer").select(
      col("c_custkey").as("id"),
      conv(substring(md5(col("c_custkey").cast("string")), 1, 3), 16, 10)
        .cast("long").as("x"),
      conv(substring(md5(col("c_custkey").cast("string")), 4, 3), 16, 10)
        .cast("long").as("y"))

  /** geo_grid_join: all customer-point pairs within Euclidean distance R
    * (d² ≤ R²) of each other, reported as audit aggregates (pair count,
    * closest pair, distance mass). Each pair is found exactly once: the
    * LEFT side probes its 9 neighboring cells, the RIGHT side sits in
    * its one home cell, and `a.id < b.id` orients the pair.
    */
  // map-side 3×3 neighborhood: explode a 9-element literal, no join
  private def offsets = array((for (dx <- -1 to 1; dy <- -1 to 1)
    yield struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))): _*)

  private def geoGridJoin(s: SparkSession, dir: String): DataFrame = {
    val pts = points(s, dir)
      .withColumn("cx", expr(s"x div $R"))
      .withColumn("cy", expr(s"y div $R"))
    val probes = pts
      .withColumn("o", explode(offsets))
      .select(col("id").as("ia"), col("x").as("xa"), col("y").as("ya"),
        (col("cx") + col("o.dx")).as("pcx"), (col("cy") + col("o.dy")).as("pcy"))
    val right = pts.select(col("id").as("ib"), col("x").as("xb"),
      col("y").as("yb"), col("cx"), col("cy"))
    probes
      .join(right, probes("pcx") === right("cx") && probes("pcy") === right("cy")
        && probes("ia") < right("ib"))
      .select(((col("xa") - col("xb")) * (col("xa") - col("xb")) +
        (col("ya") - col("yb")) * (col("ya") - col("yb"))).as("d2"))
      .where(col("d2") <= lit(R * R))
      .agg(count(lit(1)).as("n_pairs"), min(col("d2")).as("min_d2"),
        sum(col("d2")).as("sum_d2"))
  }

  /** geo_nearest_within: each point's NEAREST neighbor within radius R —
    * the per-entity argmin over the same grid-blocked candidates (both
    * directions kept, since every point is a subject). The argmin is a
    * per-subject row_number(1) with an id tiebreak — deterministic in
    * both engines — and the audit aggregates reconcile against the total
    * point census so an empty-candidate bug cannot pass as "no
    * neighbors". Points whose true nearest neighbor lies beyond R are
    * correctly unmatched: the grid guarantees completeness only within
    * R, which is the operator's contract (radius-bounded 1-NN, the
    * join shape of geo-dedup and store-cannibalization audits).
    */
  private def geoNearestWithin(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pts = points(s, dir)
      .withColumn("cx", expr(s"x div $R"))
      .withColumn("cy", expr(s"y div $R"))
    val probes = pts
      .withColumn("o", explode(offsets))
      .select(col("id").as("ia"), col("x").as("xa"), col("y").as("ya"),
        (col("cx") + col("o.dx")).as("pcx"), (col("cy") + col("o.dy")).as("pcy"))
    val right = pts.select(col("id").as("ib"), col("x").as("xb"),
      col("y").as("yb"), col("cx"), col("cy"))
    val w = Window.partitionBy("ia").orderBy(col("d2"), col("ib"))
    val nn = probes
      .join(right, probes("pcx") === right("cx") && probes("pcy") === right("cy")
        && probes("ia") =!= right("ib"))
      .select(col("ia"), col("ib"),
        ((col("xa") - col("xb")) * (col("xa") - col("xb")) +
          (col("ya") - col("yb")) * (col("ya") - col("yb"))).as("d2"))
      .where(col("d2") <= lit(R * R))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
    nn.agg(count(lit(1)).as("n_matched"), min(col("d2")).as("min_d2"),
      sum(col("d2")).as("sum_min_d2"))
      .crossJoin(points(s, dir).agg(count(lit(1)).as("n_points")))
      .select(col("n_points"), col("n_matched"), col("min_d2"), col("sum_min_d2"))
  }

  /** geo_density_cells: the k densest grid cells — hotspot detection,
    * and the diagnostic that tells you whether the radius join above is
    * about to skew (a cell holding 10% of all points makes its 3×3
    * neighborhood the straggler task; the fix is salting or a finer
    * grid, and THIS query is how you notice). One partial-agg rollup to
    * |cells| rows, then TakeOrdered(k) with a coordinate tiebreak.
    */
  private def geoDensityCells(s: SparkSession, dir: String): DataFrame =
    points(s, dir)
      .groupBy(expr(s"x div $R").as("cx"), expr(s"y div $R").as("cy"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("cx"), col("cy"))
      .limit(10)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "geo_grid_join" -> (geoGridJoin _),
    "geo_nearest_within" -> (geoNearestWithin _),
    "geo_density_cells" -> (geoDensityCells _)
  )

  val oracleSql: Map[String, String] = Map(
    "geo_density_cells" ->
      """WITH pts AS (
        |  SELECT
        |    CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 3) AS BIGINT) AS x,
        |    CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 4, 3) AS BIGINT) AS y
        |  FROM customer)
        |SELECT CAST(x // 64 AS BIGINT) AS cx, CAST(y // 64 AS BIGINT) AS cy,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM pts GROUP BY 1, 2
        |ORDER BY n DESC, cx, cy LIMIT 10""".stripMargin,
    "geo_nearest_within" ->
      """WITH pts AS (
        |  SELECT c_custkey AS id,
        |    CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 3) AS BIGINT) AS x,
        |    CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 4, 3) AS BIGINT) AS y
        |  FROM customer),
        |cells AS (SELECT id, x, y, x // 64 AS cx, y // 64 AS cy FROM pts),
        |off AS (SELECT o1.dx, o2.dy
        |        FROM (VALUES (-1), (0), (1)) o1(dx)
        |        CROSS JOIN (VALUES (-1), (0), (1)) o2(dy)),
        |cand AS (
        |  SELECT a.id AS ia, b.id AS ib,
        |    (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
        |  FROM cells a CROSS JOIN off o
        |  JOIN cells b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
        |              AND a.id <> b.id),
        |nn AS (
        |  SELECT ia, d2,
        |    row_number() OVER (PARTITION BY ia ORDER BY d2, ib) AS rn
        |  FROM cand WHERE d2 <= 4096),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_points FROM pts)
        |SELECT n_points, CAST(count(*) AS BIGINT) AS n_matched,
        |  CAST(min(d2) AS BIGINT) AS min_d2,
        |  CAST(sum(d2) AS BIGINT) AS sum_min_d2
        |FROM nn CROSS JOIN t WHERE rn = 1 GROUP BY n_points""".stripMargin,
    "geo_grid_join" ->
      """WITH pts AS (
        |  SELECT c_custkey AS id,
        |    CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 3) AS BIGINT) AS x,
        |    CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 4, 3) AS BIGINT) AS y
        |  FROM customer),
        |cells AS (SELECT id, x, y, x // 64 AS cx, y // 64 AS cy FROM pts),
        |off AS (SELECT o1.dx, o2.dy
        |        FROM (VALUES (-1), (0), (1)) o1(dx)
        |        CROSS JOIN (VALUES (-1), (0), (1)) o2(dy)),
        |cand AS (
        |  SELECT (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
        |  FROM cells a CROSS JOIN off o
        |  JOIN cells b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
        |              AND a.id < b.id)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(min(d2) AS BIGINT) AS min_d2,
        |  CAST(sum(d2) AS BIGINT) AS sum_d2
        |FROM cand WHERE d2 <= 4096""".stripMargin
  )
}
