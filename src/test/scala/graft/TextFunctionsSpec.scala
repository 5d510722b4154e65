package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions._

/** Unit + property coverage of the columnar text primitives backing the
  * dedup family.
  */
class TextFunctionsSpec extends AnyFunSuite {
  import SparkTestBase._

  private implicit lazy val sp: org.apache.spark.sql.SparkSession = spark

  private def one[T](c: org.apache.spark.sql.Column, text: String): T = {
    import sp.implicits._
    Seq(text).toDF("text").select(c).collect().head.get(0).asInstanceOf[T]
  }

  private def strs(c: org.apache.spark.sql.Column, text: String): List[String] =
    one[scala.collection.Seq[String]](c, text).toList

  test("trigrams of short docs are empty, not partial") {
    assert(strs(trigrams(tokens(col("text"))), "one two") == Nil)
    assert(strs(trigrams(tokens(col("text"))), "a b c") == List("a b c"))
  }

  test("tokens lowercase and drop blanks") {
    assert(strs(tokens(col("text")), "  Hello   WORLD  ") == List("hello", "world"))
  }

  test("jaccard: identical = 1, disjoint = 0, empty-vs-empty = 0") {
    import sp.implicits._
    val df = Seq(("a b c d", "a b c d"), ("a b c", "x y z"), ("a", "b"))
      .toDF("l", "r")
      .select(jaccard(trigrams(tokens(col("l"))), trigrams(tokens(col("r")))).as("j"))
    assert(df.collect().map(_.getDouble(0)).toSeq == Seq(1.0, 0.0, 0.0))
  }

  test("simhash is deterministic and order-invariant (bag semantics)") {
    val h1 = one[Long](simhash60(tokens(col("text"))), "alpha beta gamma delta")
    val h2 = one[Long](simhash60(tokens(col("text"))), "delta gamma beta alpha")
    assert(h1 == h2)
    assert(h1 >= 0 && h1 < (1L << 60))
  }

  test("near-identical docs land within the simhash block radius") {
    val base = (1 to 50).map(i => s"w$i").mkString(" ")
    val perturbed = base.replace("w25", "zz")
    val h1 = one[Long](simhash60(tokens(col("text"))), base)
    val h2 = one[Long](simhash60(tokens(col("text"))), perturbed)
    import sp.implicits._
    val d = Seq((h1, h2)).toDF("a", "b").select(hamming(col("a"), col("b"))).collect().head.getInt(0)
    assert(d <= 9, s"one-word edit should flip only a few simhash bits, got $d")
  }

  test("minhash signature has k slots and is stable under shingle duplication") {
    import sp.implicits._
    val df = Seq(
      (Seq("a b c", "b c d", "c d e"), Seq("a b c", "b c d", "c d e", "a b c")))
      .toDF("x", "y")
      .select(minhashSignature(shingleHashes(col("x")), 16).as("sx"),
        minhashSignature(shingleHashes(col("y")), 16).as("sy"))
    val r = df.collect().head
    assert(r.getSeq[Long](0).toList.size == 16)
    assert(r.getSeq[Long](0).toList == r.getSeq[Long](1).toList,
      "min over a set ignores duplicates")
  }

  test("property: jaccard is symmetric and within [0,1]") {
    import sp.implicits._
    val wordGen = Gen.listOfN(12, Gen.oneOf("a", "b", "c", "d", "e", "f", "g", "h"))
    val prop = Prop.forAll(wordGen, wordGen) { (l: List[String], r: List[String]) =>
      val row = Seq((l.mkString(" "), r.mkString(" "))).toDF("l", "r")
        .select(
          jaccard(trigrams(tokens(col("l"))), trigrams(tokens(col("r")))).as("lr"),
          jaccard(trigrams(tokens(col("r"))), trigrams(tokens(col("l")))).as("rl"))
        .collect().head
      val (lr, rl) = (row.getDouble(0), row.getDouble(1))
      lr == rl && lr >= 0.0 && lr <= 1.0
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("normalized dedup catches the composed/decomposed pair raw exact dedup misses") {
    import sp.implicits._
    val fixture = Seq(
      (1L, "Café   au\tLait"),   // precomposed é, messy whitespace
      (2L, "Cafe\u0301 au Lait\n") // e + combining acute
    ).toDF("doc_id", "text")
    val rawGroups = fixture.groupBy(md5(col("text"))).count()
      .where(col("count") > 1).count()
    assert(rawGroups == 0, "byte-wise the two encodings must NOT collide")
    val normGroups = fixture
      .groupBy(md5(expr("graft_normalize_text(text)"))).count()
      .where(col("count") > 1).count()
    assert(normGroups == 1, "after NFC+casefold+collapse they must be one group")
  }
}
