package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The custom TypedImperativeAggregate's contract: exact window-form
  * semantics, planned as a partial+final ObjectHashAggregate (the map-side
  * reduction that makes it beat the window at scale).
  */
class NativeAggSpec extends AnyFunSuite {
  import SparkTestBase._

  test("graft_topk_pairs equals the window form and plans partial+final") {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.load(spark, Sf0001, "events")
      .select(col("event_type"), col("value"), col("event_id"))
    val viaAgg = ev.groupBy(col("event_type"))
      .agg(expr("graft_topk_pairs(value, event_id, 3)").as("top"))
      .select(col("event_type"), posexplode(col("top")))
      .select(col("event_type"), col("col.v").as("value"), col("col.id").as("event_id"))
    val w = Window.partitionBy("event_type").orderBy(col("value").desc, col("event_id"))
    val viaWindow = ev
      .withColumn("rnk", row_number().over(w)).where(col("rnk") <= 3)
      .select(col("event_type"), col("value"), col("event_id"))
    assert(viaAgg.exceptAll(viaWindow).isEmpty && viaWindow.exceptAll(viaAgg).isEmpty,
      "custom aggregate must reproduce the window top-k exactly")
    val plan = viaAgg.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      s"TypedImperativeAggregate must plan as ObjectHashAggregate\n$plan")
    assert(plan.contains("partial_graft_topk_pairs"),
      s"map-side partial aggregation must be present (the scale property)\n$plan")
  }

  test("graft_topk_pairs keeps groups smaller than k and skips nulls") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("g", StringType),
      StructField("v", DoubleType), StructField("id", LongType)))
    val rows = Seq(
      Row("a", 5.0, 1L), Row("a", 7.0, 2L),           // fewer than k
      Row("b", 1.0, 3L), Row("b", null, 4L),          // null value skipped
      Row("b", 3.0, 5L), Row("b", 2.0, 6L), Row("b", 4.0, 7L))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val m = df.groupBy(col("g"))
      .agg(expr("graft_topk_pairs(v, id, 3)").as("top"))
      .select(col("g"), size(col("top")).as("n"),
        col("top")(0).getField("id").as("best"))
      .collect().map(r => (r.getString(0), (r.getInt(1), r.getLong(2)))).toMap
    assert(m("a") == ((2, 2L)), s"group a: $m")   // both rows, best = v 7.0
    assert(m("b") == ((3, 7L)), s"group b: $m")   // null dropped, top-3 of 4, best = v 4.0
  }

  test("graft_cms_sketch is exact sans collisions and plans partial+final") {
    // wide grid + tiny key space → collision-free → lookup == exact count
    val ev = Tables.load(spark, Sf0001, "events")
      .select(xxhash64(col("user_id")).as("k"))
    val sketched = ev
      .agg(expr("graft_cms_sketch(k, 5, 65536)").as("cms"))
    val probe = ev.groupBy(col("k")).agg(count(lit(1)).as("n_exact"))
      .crossJoin(broadcast(sketched))
      .select(col("n_exact"), expr("graft_cms_lookup(cms, k, 5, 65536)").as("n_est"))
    assert(probe.where(col("n_est") =!= col("n_exact")).count() == 0,
      "collision-free CMS must be exact for every key")
    val plan = sketched.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") &&
      plan.contains("partial_graft_cms_sketch"),
      s"CMS must plan as partial+final ObjectHashAggregate (map-side grids)\n$plan")
  }

  test("graft_cms_sketch under forced collisions stays one-sided (est >= exact)") {
    // w=32 over ~1000 distinct event_ids → guaranteed collisions; CMS may
    // only OVERcount, never undercount, and merges across partitions must
    // not change that (repartition forces multi-buffer merge()).
    val ev = Tables.load(spark, Sf0001, "events")
      .select(xxhash64(col("event_id")).as("k")).repartition(7)
    val sketched = ev.agg(expr("graft_cms_sketch(k, 4, 32)").as("cms"))
    val probe = ev.groupBy(col("k")).agg(count(lit(1)).as("n_exact"))
      .crossJoin(broadcast(sketched))
      .select(col("n_exact"), expr("graft_cms_lookup(cms, k, 4, 32)").as("n_est"))
    assert(probe.where(col("n_est") < col("n_exact")).count() == 0,
      "CMS undercounted a key — one-sided guarantee broken")
    assert(probe.where(col("n_est") > col("n_exact")).count() > 0,
      "w=32 should actually collide; widen the test's assumptions if not")
  }

  test("graft_cms_sketch rejects mis-typed keys at analysis time") {
    val ev = Tables.load(spark, Sf0001, "events")
    val e = intercept[Exception] {
      ev.agg(expr("graft_cms_sketch(event_type, 5, 1024)")).collect()
    }
    assert(e.getMessage.contains("BIGINT"), s"unexpected message: ${e.getMessage}")
  }

  test("graft_distinct_cap equals least(countDistinct, k) with an exact flag") {
    import spark.implicits._
    // groups straddling the cap: sizes k-1, k, k+1, k+7; duplicates and
    // nulls must not move the count
    val k = 8
    val rows = Seq(7, 8, 9, 15).zipWithIndex.flatMap { case (n, gi) =>
      (0 until n).flatMap(i =>
        Seq((s"g$gi", Some(i.toLong)), (s"g$gi", Some(i.toLong)))) :+
        ((s"g$gi", Option.empty[Long]))
    }
    val df = rows.toDF("g", "x").repartition(7) // force partial/merge paths
    val got = df.groupBy("g").agg(expr(s"graft_distinct_cap(x, $k)").as("c"))
      .select(col("g"), col("c.n_distinct"), col("c.saturated"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got == Map("g0" -> ((7L, false)), "g1" -> ((8L, false)),
      "g2" -> ((8L, true)), "g3" -> ((8L, true))), s"got $got")
    // the scale property: planned as partial+final ObjectHashAggregate
    val plan = df.groupBy("g").agg(expr(s"graft_distinct_cap(x, $k)"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") &&
      plan.contains("partial_graft_distinct_cap"),
      s"expected partial+final ObjectHashAggregate\n$plan")
    // misuse fails at analysis, not mid-job
    intercept[Exception] { df.agg(expr("graft_distinct_cap(g, 8)")).collect() }
    intercept[Exception] { df.selectExpr("graft_distinct_cap(x)") }
  }
}
