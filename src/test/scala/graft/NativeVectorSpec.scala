package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{NativeVector, VectorFunctions}

/** Native vector expressions vs the composable HOF formulations: results
  * must agree bit-for-bit (cosine) / structurally (signatures), and the
  * signature stage must be map-only — the whole point of going native.
  */
class NativeVectorSpec extends AnyFunSuite {
  import SparkTestBase._

  private def emb = {
    Tables.load(spark, Sf0001, "embeddings")
  }

  test("native cosine is bit-identical to the zip_with/aggregate formulation") {
    val e = emb
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("a_e"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_e"))
    val pairs = a.join(b, col("a_id") + 1 === col("b_id")) // adjacent pairs, no dup work
      .select(
        call_function("graft_cosine", col("a_e"), col("b_e")).as("native"),
        VectorFunctions.cosine(col("a_e"), col("b_e")).as("composable"))
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), s"native ${r.getDouble(0)} vs composable ${r.getDouble(1)}")
    }
  }

  test("lsh keys are scale-invariant and deterministic") {
    val e = emb
    val scaled = e.select(col("vec_id"),
      expr("graft_lsh_keys(embedding, 8, 4, 1337, 0)").as("k1"),
      expr("graft_lsh_keys(transform(embedding, x -> x * 3.0F), 8, 4, 1337, 0)").as("k2"))
      .where(col("k1") =!= col("k2"))
    assert(scaled.count() == 0, "sign-LSH keys must not change under positive scaling")
  }

  test("seed literals outside int range are preserved, not truncated") {
    // 2^32 truncates to 0 through toInt; keys must differ from seed 0 and
    // match a direct lshKeys call with the full long seed
    val bigSeed = 4294967296L // 2^32
    val rows = emb.limit(3).select(
      expr(s"graft_lsh_keys(embedding, 4, 3, $bigSeed, 0)").as("big"),
      expr("graft_lsh_keys(embedding, 4, 3, 0, 0)").as("zero"),
      col("embedding"))
      .collect()
    var anyDiff = false
    rows.foreach { r =>
      val big = r.getSeq[Long](0)
      val zero = r.getSeq[Long](1)
      if (big != zero) anyDiff = true
      val vec = r.getSeq[Float](2).toArray
      val direct = NativeVector.lshKeys(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(vec), 4, 3, bigSeed, 0)
      assert(big == direct.toLongArray().toSeq, "SQL literal seed must match the direct long seed")
    }
    assert(anyDiff, "seed 2^32 must not behave as seed 0")
  }

  test("radius-1 probe keys are the index keys plus every 1-bit band flip") {
    val e = emb.limit(5)
    val rows = e.select(
      expr("graft_lsh_keys(embedding, 4, 3, 7, 0)").as("idx"),
      expr("graft_lsh_keys(embedding, 4, 3, 7, 1)").as("probe"))
      .collect()
    rows.foreach { r =>
      val idx = r.getSeq[Long](0)
      val probe = r.getSeq[Long](1).toSet
      assert(idx.size == 4 && probe.size == 4 * 4, "4 tables × (1 + 3 flips), all distinct")
      idx.foreach { k =>
        assert(probe.contains(k))
        (0 until 3).foreach(b => assert(probe.contains(k ^ (1L << b))))
      }
    }
  }

  test("null vector elements null-propagate instead of reading as 0.0") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("v", ArrayType(FloatType, containsNull = true))))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(Seq[java.lang.Float](1.0f, null, 3.0f)),
        Row(Seq[java.lang.Float](1.0f, 2.0f, 3.0f))),
      schema)
    val out = df.select(
      call_function("graft_cosine", col("v"), col("v")).as("c"),
      expr("graft_lsh_keys(v, 2, 3, 7, 0)").as("k")).collect()
    assert(out(0).isNullAt(0) && out(0).isNullAt(1),
      "null element must null the cosine and the signature")
    assert(!out(1).isNullAt(0) && !out(1).isNullAt(1))
  }

  test("signature generation is map-only: no Exchange before the bucket join") {
    val plan = emb.select(col("vec_id"),
      explode(expr("graft_lsh_keys(embedding, 32, 4, 1337, 0)")).as("key"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"native signatures must not shuffle (the old posexplode->groupBy did)\n$plan")
  }

  test("native int argmin is bit-identical to the composable array_min formulation") {
    val q = emb.select(col("vec_id"),
      expr("transform(embedding, x -> cast(round(cast(x as double) * 10000) as long))").as("q"))
    val centsRow = q.where(col("vec_id") < 7)
      .select(col("vec_id").cast("int").as("cid"), col("q").as("s"), lit(1L).as("n"))
      .agg(sort_array(collect_list(struct(col("cid"), col("s"), col("n")))).as("cents"))
    val both = q.crossJoin(broadcast(centsRow))
      .select(
        call_function("graft_int_argmin", col("q"), col("cents")).as("native"),
        ops.EmbedClusterOps.bestStructComposable(col("cents"), col("q")).as("composable"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      val n = r.getStruct(0)
      val c = r.getStruct(1)
      assert(n.getDouble(0) == c.getDouble(0) && n.getInt(1) == c.getInt(1),
        s"native $n vs composable $c")
    }
  }

  test("int argmin breaks distance ties to the lowest cid; n > 1 scaling exact") {
    // cid 7 is the SAME point expressed as an n=3 centroid (s = 3q), cids
    // 2 and 5 are n=1 copies — all three at distance 0; lowest cid wins
    val r = spark.sql(
      """SELECT graft_int_argmin(array(10L, -20L),
        |  array(struct(7, array(30L, -60L), 3L),
        |        struct(2, array(10L, -20L), 1L),
        |        struct(5, array(10L, -20L), 1L))) AS r""".stripMargin)
      .selectExpr("r.d", "r.cid").collect()(0)
    assert(r.getDouble(0) == 0.0 && r.getInt(1) == 2)
  }

  test("ANN LSH candidate generation never plans a cartesian/nested-loop join") {
    val plan = ops.SimilarityOps.annLshTopk(spark, Sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("BroadcastHashJoin"),
      s"probe keys must broadcast against the corpus key stream\n$plan")
  }
}
