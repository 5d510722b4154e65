package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The custom physical as-of join ([[graft.plans.AsofJoinExec]]):
  * semantics on hand-built edges, multi-partition merge correctness, the
  * planned shape, and the analysis-time type gate.
  */
class AsofJoinSpec extends AnyFunSuite {
  import SparkTestBase._

  private def mkSides(parts: Int) = {
    import spark.implicits._
    // key 1: match before, tie at t=10 (STRICT: not matched), later rows
    // key 2: no right rows at all → nulls
    // key 3: multiple candidates → greatest strictly-below wins
    val left = Seq((1L, 10L, 100L), (1L, 20L, 101L), (2L, 5L, 102L),
      (3L, 50L, 103L))
      .toDF("k", "t", "pid").repartition(parts, col("k"))
    val right = Seq((1L, 10L, 900L), (1L, 15L, 901L), (3L, 10L, 902L),
      (3L, 49L, 903L), (3L, 60L, 904L))
      .toDF("rk", "rt", "vid").repartition(parts, col("rk"))
    (left, right)
  }

  private def run(parts: Int): Seq[(Long, Long, Any)] = {
    val (left, right) = mkSides(parts)
    graft.plans.AsofJoin(left, right,
      keys = Seq("k" -> "rk"), on = Seq("t" -> "rt"))
      .select(col("pid"), col("t"), col("vid"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2))).sortBy(_._1).toSeq
  }

  private val expected = Seq(
    (100L, 10L, null),   // tie at t=10 is NOT strictly preceding
    (101L, 20L, 901L),   // latest of {10, 15} below 20
    (102L, 5L, null),    // key absent on the right
    (103L, 50L, 903L))   // greatest strictly below 50, not 60

  test("as-of semantics: strict bound, ties, missing keys, latest-wins") {
    assert(run(parts = 1) == expected)
  }

  test("multi-partition merge: co-partitioning keeps keys together") {
    assert(run(parts = 5) == expected)
  }

  test("FORWARD direction: next strictly-following match, ties excluded") {
    val (left, right) = mkSides(3)
    val got = graft.plans.AsofJoin(left, right,
      keys = Seq("k" -> "rk"), on = Seq("t" -> "rt"), forward = true)
      .select(col("pid"), col("t"), col("vid"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2))).sortBy(_._1).toSeq
    assert(got == Seq(
      (100L, 10L, 901L),   // tie at t=10 excluded (strict); next is 15
      (101L, 20L, null),   // nothing after 20 for key 1
      (102L, 5L, null),    // key absent on the right
      (103L, 50L, 904L)),  // next after 50 is 60
      s"got $got")
  }

  test("NULL keys/on-values follow SQL join rules — never matched as key 0") {
    import spark.implicits._
    // key 0 exists on BOTH sides: pre-fix, the long-vector compare read a
    // NULL key slot as 0 and silently matched these rows to it
    val left = Seq(
      (Some(0L), Some(10L), 100L),  // legit key-0 row: must match r-0@5
      (None, Some(10L), 101L),      // NULL key: must NOT match key 0
      (Some(1L), None, 102L),       // NULL on-value: no match either
      (Some(1L), Some(10L), 103L))  // sanity: matches r-1@7
      .toDF("k", "t", "pid")
    val right = Seq(
      (Some(0L), Some(5L), 900L),
      (None, Some(5L), 901L),       // NULL-keyed right row matches NOTHING
      (Some(1L), None, 902L),       // NULL on-value right row matches NOTHING
      (Some(1L), Some(7L), 903L))
      .toDF("rk", "rt", "vid")
    val got = graft.plans.AsofJoin(left, right,
      keys = Seq("k" -> "rk"), on = Seq("t" -> "rt"))
      .select(col("pid"), col("vid"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getLong(1))).sortBy(_._1).toSeq
    assert(got == Seq((100L, 900L), (101L, null), (102L, null), (103L, 903L)),
      got.toString)
  }

  test("plans as AsofJoinExec — no window, no union, one exchange per side") {
    val (left, right) = mkSides(3)
    val df = graft.plans.AsofJoin(left, right,
      keys = Seq("k" -> "rk"), on = Seq("t" -> "rt"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AsofJoin"), p)
    assert(!p.contains("Window") && !p.contains("Union"), p)
  }

  test("rejects non-long-backed key/on expressions") {
    import spark.implicits._
    val l = Seq(("a", 1L)).toDF("k", "t")
    val r = Seq(("a", 1L)).toDF("rk", "rt")
    val e = intercept[Exception] {
      graft.plans.AsofJoin(l, r, Seq("k" -> "rk"), Seq("t" -> "rt")).collect()
    }
    assert(e.getMessage.contains("long-backed"), e.getMessage)
  }

  test("overlapping column names are rejected with a clear message") {
    import spark.implicits._
    val l = Seq((1L, 1L)).toDF("k", "t")
    val r = Seq((1L, 1L)).toDF("k", "rt")
    val e = intercept[IllegalArgumentException] {
      graft.plans.AsofJoin(l, r, Seq("k" -> "k"), Seq("t" -> "rt"))
    }
    assert(e.getMessage.contains("alias overlapping"), e.getMessage)
  }
}
