package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property contract for [[ops.DedupOps.exactJaccardPairs]] — the in-engine
  * ground-truth path (prefix-filtered posting join, All-Pairs/PPJoin): over
  * arbitrary shingle-set systems it must return EXACTLY the pairs a naive
  * all-pairs Jaccard scan finds at the threshold. This is the soundness
  * proof of the prefix filter exercised as a test: a dropped candidate
  * (prefix too short, wrong global order, off-by-one in the ceil) shows up
  * as a missing pair on some generated corpus.
  *
  * Sets are drawn from a SMALL hash domain so intersections at every J
  * level are common, and sizes are skewed so the ⌈θ·n⌉ boundary is hit for
  * many distinct n (the off-by-one hot spot).
  */
class ExactPairsPropertySpec extends AnyFunSuite {
  import SparkTestBase._

  private implicit lazy val sp: org.apache.spark.sql.SparkSession = spark

  test("property: prefix-filtered posting join ≡ naive all-pairs Jaccard") {
    import sp.implicits._
    val theta = ops.DedupOps.JaccardThreshold
    val corpusGen = for {
      nDocs <- Gen.chooseNum(2, 40)
      domain <- Gen.chooseNum(6L, 40L) // small domain → dense overlaps
      docs <- Gen.listOfN(nDocs, for {
        sz <- Gen.frequency(3 -> Gen.chooseNum(1, 4), 2 -> Gen.chooseNum(5, 12),
          1 -> Gen.const(0)) // empty sets exercise the no-posting edge
        hs <- Gen.listOfN(sz, Gen.chooseNum(1L, domain))
      } yield hs.distinct)
    } yield docs.zipWithIndex.map { case (hs, i) => (i.toLong, hs.toArray) }
    val prop = Prop.forAll(corpusGen) { docs =>
      val truth = (for {
        (aId, a) <- docs; (bId, b) <- docs if aId < bId
        inter = a.toSet.intersect(b.toSet).size
        union = a.toSet.union(b.toSet).size
        if union > 0 && inter.toDouble / union >= theta
      } yield (aId, bId)).toSet
      // the engine contract: sorted distinct hash arrays
      val sh = docs.map { case (id, hs) => (id, hs.sorted) }
        .toDF("doc_id", "sh_hashes")
      val (pairs, posts) = ops.DedupOps.exactJaccardPairs(sh)
      val got = pairs
        .select(col("a_id"), col("b_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      posts.unpersist()
      if (got != truth)
        println(s"[exact-pairs] missing=${truth -- got} extra=${got -- truth}")
      got == truth
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }
}
