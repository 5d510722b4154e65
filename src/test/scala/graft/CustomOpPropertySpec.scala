package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property-based contracts for the round's custom execution pieces:
  * the count-min aggregate's one-sided guarantee and grid accounting
  * over arbitrary key multisets (arbitrary partitionings — merge() is in
  * the path), and the physical as-of operator's equivalence to the
  * window formulation over random event tapes (arbitrary ties,
  * duplicates, and key skew).
  */
class CustomOpPropertySpec extends AnyFunSuite {
  import SparkTestBase._

  private implicit lazy val sp: org.apache.spark.sql.SparkSession = spark

  test("property: CMS never undercounts and its rows each sum to N") {
    import sp.implicits._
    val keysGen = for {
      n <- Gen.chooseNum(1, 300)
      ks <- Gen.listOfN(n, Gen.chooseNum(-50L, 50L)) // dense → forced collisions at w=16
      parts <- Gen.chooseNum(1, 6)
    } yield (ks, parts)
    val prop = Prop.forAll(keysGen) { case (ks, parts) =>
      val df = ks.toDF("k").repartition(parts)
      val sk = df.agg(expr("graft_cms_sketch(k, 3, 16)").as("cms")).cache()
      val probe = df.groupBy(col("k")).agg(count(lit(1)).as("n_exact"))
        .crossJoin(broadcast(sk))
        .select(col("n_exact"), expr("graft_cms_lookup(cms, k, 3, 16)").as("n_est"))
      val noUnder = probe.where(col("n_est") < col("n_exact")).count() == 0
      // every grid row receives exactly one increment per input row
      val rows = sk.select(expr(
        "transform(array(0, 1, 2), r -> aggregate(slice(cms, r * 16 + 1, 16), 0L, (a, x) -> a + x))"))
        .head.getSeq[Long](0)
      sk.unpersist()
      noUnder && rows.forall(_ == ks.length)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: distinct-cap ≡ least(countDistinct, k) over arbitrary multisets") {
    import sp.implicits._
    val gen = for {
      k <- Gen.chooseNum(1, 12)
      n <- Gen.chooseNum(0, 400)
      // a narrow value domain clusters sizes around the cap, hitting the
      // exact/saturated boundary often; two groups exercise grouping
      xs <- Gen.listOfN(n, Gen.zip(Gen.oneOf("a", "b"), Gen.chooseNum(0L, 3L * k)))
      parts <- Gen.chooseNum(1, 7) // merge() and saturate-then-merge in the path
    } yield (k, xs, parts)
    val prop = Prop.forAll(gen) { case (k, xs, parts) =>
      val truth = xs.groupBy(_._1).map { case (g, vs) =>
        val d = vs.map(_._2).distinct.size.toLong
        g -> ((math.min(d, k.toLong), d > k))
      }
      val got =
        if (xs.isEmpty) Map.empty[String, (Long, Boolean)]
        else xs.toDF("g", "x").repartition(parts)
          .groupBy("g").agg(expr(s"graft_distinct_cap(x, $k)").as("c"))
          .select(col("g"), col("c.n_distinct"), col("c.saturated"))
          .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
      got == truth
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: interval-merge window fold ≡ sequential sweep on random tapes") {
    import sp.implicits._
    import org.apache.spark.sql.expressions.Window
    val gen = for {
      n <- Gen.chooseNum(1, 120)
      // short spans + short lengths force heavy overlap, ties, and touching
      iv <- Gen.listOfN(n, Gen.zip(Gen.chooseNum(0L, 200L), Gen.chooseNum(1L, 30L)))
    } yield iv.zipWithIndex.map { case ((s, len), i) => (s, s + len, i.toLong) }
    val prop = Prop.forAll(gen) { iv =>
      val df = iv.toDF("s", "e", "id")
      val order = Window.orderBy(col("s"), col("id"))
      val prior = order.rowsBetween(Window.unboundedPreceding, -1)
      val got = df
        .withColumn("pe", max(col("e")).over(prior))
        .withColumn("nf", when(col("pe").isNull || col("s") > col("pe"), 1L).otherwise(0L))
        .withColumn("island",
          sum(col("nf")).over(order.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("island"))
        .agg(min(col("s")).as("is"), max(col("e")).as("ie"))
        .agg(count(lit(1)).as("n"), sum(col("ie") - col("is")).as("covered"))
        .collect()(0)
      var nm = 0L; var covered = 0L
      var curS = 0L; var curE = Long.MinValue
      iv.sortBy(t => (t._1, t._3)).foreach { case (s, e, _) =>
        if (curE == Long.MinValue || s > curE) {
          if (curE != Long.MinValue) covered += curE - curS
          nm += 1; curS = s; curE = e
        } else if (e > curE) curE = e
      }
      covered += curE - curS
      got.getLong(0) == nm && got.getLong(1) == covered
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: as-of operator ≡ window formulation on random tapes") {
    import org.apache.spark.sql.expressions.Window
    import sp.implicits._
    val tapeGen = for {
      nl <- Gen.chooseNum(1, 60)
      nr <- Gen.chooseNum(0, 60)
      // tiny key/time domains → heavy ties and duplicates, the hard cases
      l <- Gen.listOfN(nl, Gen.zip(Gen.chooseNum(0L, 4L), Gen.chooseNum(0L, 20L)))
      r <- Gen.listOfN(nr, Gen.zip(Gen.chooseNum(0L, 4L), Gen.chooseNum(0L, 20L)))
      parts <- Gen.chooseNum(1, 5)
    } yield (l, r, parts)
    val prop = Prop.forAll(tapeGen) { case (l, r, parts) =>
      val left = l.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
        .toDF("k", "t", "lid").repartition(parts)
      val right = r.zipWithIndex.map { case ((k, t), i) => (k, t, 1000L + i) }
        .toDF("rk", "rt", "rid").repartition(parts)
      def run(forward: Boolean) = graft.plans.AsofJoin(left, right,
        keys = Seq("k" -> "rk"), on = Seq("t" -> "rt", "lid" -> "rid"),
        forward = forward)
        .select(col("lid"), col("rid"))
        .collect().map(x => (x.getLong(0), if (x.isNullAt(1)) -1L else x.getLong(1)))
        .sorted.toSeq
      // brute-force oracle over the merged tapes: backward takes the
      // greatest strictly-below right tuple, forward the least strictly-above
      val merged = l.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong, -1L) } ++
        r.zipWithIndex.map { case ((k, t), i) => (k, t, 1000L + i, 1L) }
      def brute(forward: Boolean) = merged.filter(_._4 == -1L).map { case (k, t, lid, _) =>
        val cands = merged.filter(m => m._4 == 1L && m._1 == k && {
          if (forward) m._2 > t || (m._2 == t && m._3 > lid)
          else m._2 < t || (m._2 == t && m._3 < lid)
        })
        val pick = if (cands.isEmpty) -1L
          else if (forward) cands.minBy(m => (m._2, m._3))._3
          else cands.maxBy(m => (m._2, m._3))._3
        (lid, pick)
      }.sorted.toSeq
      run(forward = false) == brute(forward = false) &&
        run(forward = true) == brute(forward = true)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: as-of NULL semantics ≡ brute force (NULL key/on matches nothing)") {
    import sp.implicits._
    // ~1/6 of keys and on-values NULL, on a tiny domain that guarantees a
    // legitimate key 0 exists on both sides — the value a NULL slot reads
    // as if the comparator ever skips its null check again
    val optVal: Gen[Option[Long]] =
      Gen.frequency(5 -> Gen.chooseNum(0L, 3L).map(Some(_)), 1 -> Gen.const(None))
    val tapeGen = for {
      nl <- Gen.chooseNum(1, 40)
      nr <- Gen.chooseNum(0, 40)
      l <- Gen.listOfN(nl, Gen.zip(optVal, optVal))
      r <- Gen.listOfN(nr, Gen.zip(optVal, optVal))
      parts <- Gen.chooseNum(1, 4)
    } yield (l, r, parts)
    val prop = Prop.forAll(tapeGen) { case (l, rRaw, parts) =>
      // dedupe the right tape on (key, on): with no tiebreak column in
      // `on`, tied right tuples would make the operator's pick among them
      // sort-stability-dependent (the first property test pins tie
      // handling via an explicit tiebreak column instead)
      val r = rRaw.distinct
      val left = l.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
        .toDF("k", "t", "lid").repartition(parts)
      val right = r.zipWithIndex.map { case ((k, t), i) => (k, t, 1000L + i) }
        .toDF("rk", "rt", "rid").repartition(parts)
      def run(forward: Boolean) = graft.plans.AsofJoin(left, right,
        keys = Seq("k" -> "rk"), on = Seq("t" -> "rt"), forward = forward)
        .select(col("lid"), col("rid"))
        .collect().map(x => (x.getLong(0), if (x.isNullAt(1)) -1L else x.getLong(1)))
        .sorted.toSeq
      // brute force with SQL NULL rules: a NULL on either side of any
      // compared column disqualifies the row from matching
      def brute(forward: Boolean) = l.zipWithIndex.map { case ((k, t), i) =>
        val pick = (k, t) match {
          case (Some(kk), Some(tt)) =>
            val cands = r.zipWithIndex.collect {
              case ((Some(rk), Some(rt)), j)
                if rk == kk && (if (forward) rt > tt else rt < tt) => (rt, 1000L + j)
            }
            if (cands.isEmpty) -1L
            else if (forward) cands.min._2
            else cands.max._2
          case _ => -1L
        }
        (i.toLong, pick)
      }.sorted.toSeq
      run(forward = false) == brute(forward = false) &&
        run(forward = true) == brute(forward = true)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }
}
