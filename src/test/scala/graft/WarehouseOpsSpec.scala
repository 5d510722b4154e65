package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** WarehouseOps: MERGE-upsert semantics and the banded range join, each
  * cross-checked against an independent (slower) formulation on sf0.001,
  * plus plan-shape pins (the broadcast anti join and the no-cartesian
  * guarantee the banding exists to provide).
  */
class WarehouseOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import SparkTestBase.Sf0001

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("merge upsert ≡ full-outer coalesce formulation") {
    val merged = ops.WarehouseOps.queries("etl_merge_upsert")(spark, Sf0001)

    val base = Tables.load(spark, Sf0001, "orders").select(
      col("o_orderkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    val upd = base.where(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
        (col("cents") + 500).as("cents"), lit("upd").as("src"))
      .unionByName(base.where(col("o_orderkey") % 101 === 0)
        .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
          lit("N").as("o_orderstatus"), (col("cents") + 1).as("cents"),
          lit("new").as("src")))
    val expected = base.withColumn("src", lit("base")).alias("b")
      .join(upd.alias("u"), Seq("o_orderkey"), "full_outer")
      .select(col("o_orderkey"),
        coalesce(col("u.o_orderstatus"), col("b.o_orderstatus")).as("o_orderstatus"),
        coalesce(col("u.cents"), col("b.cents")).as("cents"),
        coalesce(col("u.src"), col("b.src")).as("src"))

    assert(merged.exceptAll(expected).isEmpty && expected.exceptAll(merged).isEmpty)
    // an updated key appears exactly once, with the update's values
    val k97 = merged.where(col("o_orderkey") % 97 === 0 && col("o_orderkey") < 100000000L)
    assert(k97.where(col("src") =!= "upd").isEmpty)
  }

  test("merge upsert plan: batch side broadcasts; corpus never shuffles") {
    val p = plan(ops.WarehouseOps.queries("etl_merge_upsert")(spark, Sf0001))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    // the only Exchange below the anti join must be the broadcast one —
    // a shuffle Exchange would mean the 100 TB corpus moves for a tiny batch
    val antiSubtree = p.substring(p.indexOf("BroadcastHashJoin"))
    assert(!antiSubtree.contains("Exchange hashpartitioning"), p)
  }

  test("CDC apply: stale updates never resurrect, deletes win, plan spares the snapshot") {
    val df = ops.WarehouseOps.queries("etl_cdc_apply")(spark, Sf0001)
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // classes 0 (plain delete) and 2 (update-then-delete: the late D kills
    // the early U) must be entirely absent from the applied snapshot
    assert(!rows.exists(r => r._1 == 0L || r._1 == 2L),
      s"deleted classes leaked into the snapshot: ${rows.toSeq}")
    // class 1: out-of-order double update — max-seq (+300) wins per key
    val base = Tables.load(spark, Sf0001, "orders")
      .select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .where(col("k") % 7 === 1)
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
      .head
    val cls1 = rows.find(_._1 == 1L).get
    assert(cls1._2 == base.getLong(0) && cls1._3 == base.getLong(1) + 300 * base.getLong(0),
      s"class 1 must carry exactly the seq-3 update: $cls1 vs base $base")
    // plan: the snapshot is read, anti-joined against a BROADCAST key set,
    // unioned — the SNAPSHOT side never hash-shuffles. (The broadcast side
    // legitimately contains ONE shuffle — the changelog compaction — so
    // scope the assertion to the streamed side: everything between the
    // anti join and its BroadcastExchange.)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    val streamedSide = p.substring(p.indexOf("BroadcastHashJoin"),
      p.indexOf("BroadcastQueryStage"))
    assert(!streamedSide.contains("Exchange hashpartitioning"), p)
  }

  test("banded range join ≡ naive interval-containment join") {
    val banded = ops.WarehouseOps.queries("j3_range_join")(spark, Sf0001)

    val win = spark.range(10).select(col("id").cast("int").as("wid"),
      expr("timestamp'2024-01-01 18:00:00' + make_interval(0,0,0,0, CAST(id*66 AS INT), 0, 0)").as("w_start"))
      .withColumn("w_end", expr("w_start + INTERVAL 36 HOURS"))
    val naive = Tables.load(spark, Sf0001, "events")
      .join(win, col("ts") >= col("w_start") && col("ts") < col("w_end"))
      .groupBy(col("wid"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))

    assert(banded.exceptAll(naive).isEmpty && naive.exceptAll(banded).isEmpty)
  }

  test("banded range join plan: equi-join, no cartesian / BNLJ") {
    val p = plan(ops.WarehouseOps.queries("j3_range_join")(spark, Sf0001))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("scd2 history: per-key intervals are contiguous with one open current row") {
    val hist = ops.WarehouseOps.queries("scd2_history")(spark, Sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getString(3), r.getString(4), r.getBoolean(5)))
    assert(hist.nonEmpty)
    hist.groupBy(_._1).foreach { case (cust, rows) =>
      // one change row per source order
      assert(rows.count(_._4) == 1, s"cust $cust: exactly one current row")
      // rows arrive sorted by valid_from; each valid_to = next valid_from
      // (half-open tiling; the final row carries the open sentinel)
      val sorted = rows.sortBy(r => (r._2, r._3))
      sorted.sliding(2).foreach {
        case Array((_, _, to, _), (_, from, _, _)) => assert(to == from || to >= from)
        case _ =>
      }
      assert(sorted.last._3.startsWith("9999-"))
      // non-overlap: every non-final interval is [from, to) with to = some
      // later change's from; zero-length tie intervals are allowed
      sorted.init.foreach { case (_, from, to, cur) =>
        assert(!cur && from <= to)
      }
    }
  }

  test("scd2 snapshot: at most one interval per customer contains T, and it does") {
    val snap = ops.WarehouseOps.queries("scd2_snapshot")(spark, Sf0001).collect()
    assert(snap.nonEmpty)
    val perCust = snap.groupBy(_.getLong(0))
    perCust.foreach { case (cust, rows) =>
      assert(rows.length == 1, s"cust $cust has ${rows.length} snapshot rows")
    }
    // brute force: last change at or before T per customer
    val t = "2024-04-01 00:00:00.000000"
    val expected = ops.WarehouseOps.queries("scd2_history")(spark, Sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
      .filter(_._3 <= t)
      .groupBy(_._1).view.mapValues(_.maxBy(r => (r._3, r._2))._2).toMap
    val engine = snap.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(engine == expected)
  }

  test("full-outer reconciliation conserves keys and order mass across sides") {
    val rows = ops.WarehouseOps.queries("j5_full_outer_recon")(spark, Sf0001)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows.contains("both") && rows.contains("customer_only"),
      s"both join sides must be populated at sf0.001: $rows")
    val nCust = Tables.load(spark, Sf0001, "customer").count()
    assert(rows.values.map(_._1).sum == nCust, "every customer key lands on exactly one side")
    val nLarge = Tables.load(spark, Sf0001, "orders")
      .where(col("o_totalprice") >= 450000).count()
    assert(rows.values.map(_._2).sum == nLarge, "large-order count conserved through the join")
    assert(rows("customer_only")._2 == 0 && rows("customer_only")._3 == 0)
  }

  test("snapshot diff classifies exactly the synthetic mutations, nothing else") {
    val diff = ops.WarehouseOps.queries("etl_snapshot_diff")(spark, Sf0001)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val keys = Tables.load(spark, Sf0001, "orders")
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val expected =
      keys.filter(_ % 97 == 0).map(_ -> "inserted") ++
        keys.filter(_ % 89 == 0).map(k => (k + 200000000L) -> "deleted") ++
        keys.filter(k => k % 101 == 0 && k % 97 != 0).map(_ -> "changed")
    assert(diff == expected.toMap, "diff must equal the mutation recipe exactly")
    assert(Set("inserted", "deleted", "changed").subsetOf(diff.values.toSet),
      "all three change classes must fire at sf0.001")
  }

  test("incremental SCD2 exercises both the pass-through and re-window paths") {
    import org.apache.spark.sql.functions._
    val Cutoff = "2001-07-01"
    val hist = ops.WarehouseOps.queries("scd2_incremental")(spark, Sf0001)
      .select(col("o_custkey"), col("valid_from"), col("valid_to")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // a closed interval crossing the cutoff can only come from the
    // re-window path closing yesterday's open row — the merge's point
    assert(hist.exists { case (_, from, to) =>
      from < Cutoff && to >= Cutoff && !to.startsWith("9999") },
      "no interval crosses the cutoff: re-windowing never fired")
    // and some keys must have taken the untouched pass-through path
    val byKey = hist.groupBy(_._1)
    assert(byKey.exists(_._2.forall(_._2 < Cutoff)),
      "every key re-windowed: the anti-join pass-through path never fired")
  }

  test("IVM merge drops the fully-retracted cell (non-vacuously)") {
    import org.apache.spark.sql.functions._
    // the ('error', 2024-01-05) cell must exist in the history ...
    val cellRows = Tables.load(spark, Sf0001, "events")
      .where(col("event_type") === "error" &&
        date_format(date_trunc("DAY", col("ts")), "yyyy-MM-dd") === "2024-01-05")
      .count()
    assert(cellRows > 0, "fixture must populate the fully-retracted cell")
    // ... and be absent from the merged view: the n→0 elimination fired
    val merged = ops.WarehouseOps.queries("etl_ivm_rollup")(spark, Sf0001)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(!merged.contains(("error", "2024-01-05")),
      "fully-retracted group survived the IVM merge")
    assert(merged.nonEmpty)
  }

  test("BandedIntervalJoin ≡ rule-off join on band-boundary-adversarial windows") {
    import SparkTestBase.Sf0001
    import org.apache.spark.sql.functions._
    // windows engineered to stress the band math: ends exactly at
    // midnight (strict < must NOT claim the next band), starts exactly
    // at midnight, a sub-band window wholly inside one day, and a
    // NULL-bounded window (matches nothing under inner-join semantics —
    // the banded rewrite's null sequence must drop it identically)
    def win = spark.sql(
      """SELECT * FROM VALUES
        |  (0, timestamp'2024-01-09 12:00:00', timestamp'2024-01-11 00:00:00'),
        |  (1, timestamp'2024-01-12 00:00:00', timestamp'2024-01-12 06:00:00'),
        |  (2, timestamp'2024-01-14 03:00:00', timestamp'2024-01-14 04:00:00'),
        |  (3, timestamp'2024-01-15 00:00:00', CAST(NULL AS TIMESTAMP))
        |AS t(wid, w_start, w_end)""".stripMargin)
    def naive = Tables.load(spark, Sf0001, "events")
      .select(col("event_id"), col("ts"))
      .join(win, col("ts") >= col("w_start") && col("ts") < col("w_end"))
      .select(col("event_id"), col("wid"))
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      saved.filterNot(_ eq graft.plans.BandedIntervalJoin)
    val expected = try naive.collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
      finally spark.experimental.extraOptimizations = saved
    val got = naive.collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(expected.nonEmpty, "adversarial windows must match some events")
    assert(got == expected)

    // FLIPPED orientation: intervals on the LEFT, points on the RIGHT —
    // the rule must band this spelling too, with identical rows
    def flipped = win.join(
      Tables.load(spark, Sf0001, "events").select(col("event_id"), col("ts")),
      col("ts") >= col("w_start") && col("ts") < col("w_end"))
      .select(col("event_id"), col("wid"))
    val gotFlipped = flipped.collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(gotFlipped == expected)
    val plan = flipped.queryExecution.executedPlan.toString
    assert(plan.contains("__graft_band") && !plan.contains("BroadcastNestedLoopJoin"),
      s"flipped orientation must band too\n$plan")
  }

  test("BandedIntervalJoin: degenerate intervals produce zero bands, not a crash") {
    import SparkTestBase.Sf0001
    import org.apache.spark.sql.functions._
    // pre-guard, these rows handed Sequence INVERTED bounds (a runtime
    // crash in an always-on injected rule): an inverted window (hi < lo),
    // and an empty [x, x) window whose bound sits exactly on a band
    // boundary (strict upper ⇒ last covered µs = x − 1 µs, one band BELOW
    // lo's). Both matched nothing pre-rewrite; they must keep matching
    // nothing — and the one normal window must still join.
    def win = spark.sql(
      """SELECT * FROM VALUES
        |  (0, timestamp'2024-01-09 12:00:00', timestamp'2024-01-11 00:00:00'),
        |  (1, timestamp'2024-01-12 06:00:00', timestamp'2024-01-12 00:00:00'),
        |  (2, timestamp'2024-01-14 00:00:00', timestamp'2024-01-14 00:00:00'),
        |  (3, timestamp'2024-01-14 03:00:00', timestamp'2024-01-14 03:00:00')
        |AS t(wid, w_start, w_end)""".stripMargin)
    def naive = Tables.load(spark, Sf0001, "events")
      .select(col("event_id"), col("ts"))
      .join(win, col("ts") >= col("w_start") && col("ts") < col("w_end"))
      .select(col("event_id"), col("wid"))
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      saved.filterNot(_ eq graft.plans.BandedIntervalJoin)
    val expected = try naive.collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
      finally spark.experimental.extraOptimizations = saved
    val got = naive.collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(expected.nonEmpty && expected.forall(_._2 == 0),
      "only the normal window may match")
    assert(got == expected)
    val plan = naive.queryExecution.executedPlan.toString
    assert(plan.contains("__graft_band"), s"the rule must still fire\n$plan")
  }

  test("BandedIntervalJoin ≡ rule-off join on 40 seeded-random windows") {
    import SparkTestBase.Sf0001
    import org.apache.spark.sql.functions._
    // seeded fuzz across window lengths from minutes to multi-day — every
    // strictness/alignment combination the fixed adversarial set misses
    val rnd = new scala.util.Random(20260814L)
    val baseMs = java.sql.Timestamp.valueOf("2024-01-05 00:00:00").getTime
    val rows = (0 until 40).map { i =>
      val start = baseMs + rnd.nextInt(20 * 24 * 3600) * 1000L
      // every 5th window DEGENERATE: inverted (hi < lo) or empty [x, x) —
      // they match nothing and, pre-guard, crashed the band explode
      val lenS =
        if (i % 10 == 4) -(60L + rnd.nextInt(24 * 3600))
        else if (i % 10 == 9) 0L
        else 60L + rnd.nextInt(5 * 24 * 3600)
      (i, new java.sql.Timestamp(start), new java.sql.Timestamp(start + lenS * 1000))
    }
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    import sp.implicits._
    def win = rows.toDF("wid", "w_start", "w_end")
    def naive = Tables.load(spark, Sf0001, "events")
      .select(col("event_id"), col("ts"))
      .join(win, col("ts") >= col("w_start") && col("ts") < col("w_end"))
      .select(col("event_id"), col("wid"))
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      saved.filterNot(_ eq graft.plans.BandedIntervalJoin)
    val expected = try naive.collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
      finally spark.experimental.extraOptimizations = saved
    try {
      val got = naive.collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
      assert(expected.nonEmpty)
      assert(got == expected)
      // width-invariance: the residual predicate makes EVERY band width
      // correct — walk the whole tuning ladder against the same oracle
      graft.plans.BandedIntervalJoin.WidthLadderUs.foreach { w =>
        spark.conf.set(graft.plans.BandedIntervalJoin.BandUsKey, w.toString)
        val at = naive.collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
        assert(at == expected, s"banded join diverged at width ${w}us")
      }
    } finally spark.conf.unset(graft.plans.BandedIntervalJoin.BandUsKey)
  }

  test("tuneBandWidth snaps the interval-length P90 up the ladder") {
    import org.apache.spark.sql.functions._
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    import sp.implicits._
    try {
      // 50 × 90-minute windows + a 10-minute runt: P90 = 90 min → 6 h rung
      val base = java.sql.Timestamp.valueOf("2024-01-05 00:00:00").getTime
      val rows = (0 until 50).map { i =>
        (i, new java.sql.Timestamp(base + i * 1000L),
          new java.sql.Timestamp(base + i * 1000L + 90 * 60 * 1000L))
      } :+ ((50, new java.sql.Timestamp(base),
        new java.sql.Timestamp(base + 10 * 60 * 1000L)))
      val w = graft.plans.BandedIntervalJoin
        .tuneBandWidth(rows.toDF("wid", "w_start", "w_end"), "w_start", "w_end")
      assert(w == 6 * 3600L * 1000000, s"90-min P90 must snap to the 6 h rung, got $w")
      assert(spark.conf.get(graft.plans.BandedIntervalJoin.BandUsKey) == w.toString,
        "tuning must publish the width to the session conf the rule reads")
      // degenerate side (all-null bounds) keeps the default
      val nullRows = Seq((0, null: java.sql.Timestamp, null: java.sql.Timestamp))
      val dw = graft.plans.BandedIntervalJoin
        .tuneBandWidth(nullRows.toDF("wid", "w_start", "w_end"), "w_start", "w_end")
      assert(dw == graft.plans.BandedIntervalJoin.DefaultBandUs)
    } finally spark.conf.unset(graft.plans.BandedIntervalJoin.BandUsKey)
  }
}
