package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions

/** The native one-pass expressions and their composable (HOF) reference
  * implementations must agree — the composable forms define the semantics,
  * the native forms make them cheap, and this suite is what lets both live
  * in the codebase without drifting.
  */
class NativeTextSpec extends AnyFunSuite {
  import SparkTestBase._

  private implicit lazy val sp: org.apache.spark.sql.SparkSession = spark

  private def docs = {
    Tables.load(spark, Sf0001, "documents").limit(100).cache()
  }

  test("merge-pass jaccard equals the set-op jaccard on shingle arrays") {
    // all corpus cross pairs of shingle sets (sorted distinct by the
    // graft_shingle_hashes contract) — the merge pass must agree with the
    // array_intersect/array_union formulation bit-for-bit, including
    // empty-vs-empty (0.0) and empty-vs-nonempty edges
    val sh = docs.select(col("doc_id"),
      expr("graft_shingle_hashes(text)").as("t"))
    val a = sh.select(col("doc_id").as("a_id"), col("t").as("a_t"))
    val b = sh.select(col("doc_id").as("b_id"), col("t").as("b_t"))
    val d = a.join(b, col("a_id") % 7 === col("b_id") % 7) // dense sample of pairs
      .select(
        TextFunctions.jaccardSorted(col("a_t"), col("b_t")).as("native"),
        TextFunctions.jaccard(col("a_t"), col("b_t")).as("composable"))
    assert(d.where(col("native") =!= col("composable")).count() == 0)
    // the documented empty/empty edge
    import sp.implicits._
    val e = Seq((Array.empty[Long], Array.empty[Long]),
      (Array.empty[Long], Array(1L, 2L))).toDF("x", "y")
      .select(TextFunctions.jaccardSorted(col("x"), col("y")).as("j"))
      .collect().map(_.getDouble(0)).toSeq
    assert(e == Seq(0.0, 0.0))
  }

  test("native unigram simhash equals the composable HOF simhash") {
    val d = docs
      .select(expr("graft_simhash60(text)").as("native"),
        TextFunctions.simhash60(TextFunctions.tokens(col("text"))).as("composable"))
    assert(d.where(col("native") =!= col("composable")).count() == 0)
  }

  test("native token hashes equal xxhash64 over composable tokens") {
    val d = docs.select(
      expr("graft_token_hashes(text)").as("native"),
      transform(TextFunctions.tokens(col("text")), w => xxhash64(w)).as("composable"))
    assert(d.where(col("native") =!= col("composable")).count() == 0)
  }

  test("native minhash signature = composable xorshift-min over native shingles") {
    // the permutation keys are shared (TextFunctions.minhashKeys), so slot
    // minima must match exactly when fed the same shingle hashes
    val d = docs.select(
      expr("graft_minhash_sig64(text)").as("native"),
      TextFunctions.minhashSignature(expr("graft_shingle_hashes(text)"), 64).as("composable"))
    assert(d.where(col("native").isNotNull && col("native") =!= col("composable")).count() == 0)
  }

  test("signature expressions are null exactly when the doc has no shingles") {
    import sp.implicits._
    val d = Seq("one two", "a b c d e").toDF("text")
      .select(col("text"), expr("graft_minhash_sig64(text)").as("mh"),
        expr("graft_simhash60_shingles(text)").as("sh"))
      .collect()
    assert(d.find(_.getString(0) == "one two").exists(r => r.isNullAt(1) && r.isNullAt(2)))
    assert(d.find(_.getString(0) == "a b c d e").exists(r => !r.isNullAt(1) && !r.isNullAt(2)))
  }

  test("native repetition stats equal the relational explode+groupBy counters") {
    val words = docs
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("w"))
    val wordCounts = words.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_distinct"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_occ"),
        sum(col("c")).as("n_words"))
    val bigramCounts = docs
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("t"))
      .select(col("doc_id"),
        explode(zip_with(slice(col("t"), lit(1), greatest(size(col("t")) - 1, lit(0))),
          slice(col("t"), lit(2), greatest(size(col("t")) - 1, lit(0))),
          (a, b) => concat_ws(" ", a, b))).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_bg"), sum(col("c")).as("n_bg"))
    val relational = wordCounts.join(bigramCounts, "doc_id")
    val native = docs
      .select(col("doc_id"), expr("graft_repetition_stats(text)").as("r"))
      .select(col("doc_id"),
        element_at(col("r"), 1).as("n_words"), element_at(col("r"), 2).as("n_distinct"),
        element_at(col("r"), 3).as("dup_occ"), element_at(col("r"), 4).as("n_bg"),
        element_at(col("r"), 5).as("top_bg"))
    val joined = native.as("n").join(relational.as("r"), "doc_id")
    assert(joined.count() == 100)
    Seq("n_words", "n_distinct", "dup_occ", "n_bg", "top_bg").foreach { c =>
      assert(joined.where(col(s"n.$c") =!= col(s"r.$c")).count() == 0, s"$c diverges")
    }
  }

  test("repetition stats on degenerate docs: empty and single-word") {
    import sp.implicits._
    val rows = Seq("", "word", "x x").toDF("text")
      .select(col("text"), expr("graft_repetition_stats(text)").as("r"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(rows("") == Seq(0L, 0L, 0L, 0L, 0L))
    assert(rows("word") == Seq(1L, 1L, 0L, 0L, 0L))
    assert(rows("x x") == Seq(2L, 1L, 2L, 1L, 1L))
  }

  test("normalize: NFC converges composed/decomposed, idempotent, whitespace-collapsing") {
    import sp.implicits._
    val composed = "Café   au\tLait"       // precomposed é
    val decomposed = "Café au Lait\n"     // e + combining acute
    val rows = Seq(composed, decomposed, "  A  B  ", "", "\t\n", "plain")
      .toDF("text")
      .select(col("text"), expr("graft_normalize_text(text)").as("n"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows(composed) == "café au lait")
    assert(rows(decomposed) == "café au lait", "NFC must converge the two encodings")
    assert(rows(composed) == rows(decomposed))
    assert(rows("  A  B  ") == "a b")
    assert(rows("") == "" && rows("\t\n") == "")
    assert(rows("plain") == "plain")
    // idempotence: a second pass is the identity
    val twice = Seq(composed, decomposed).toDF("text")
      .select(expr("graft_normalize_text(graft_normalize_text(text))").as("nn"),
        expr("graft_normalize_text(text)").as("n"))
    assert(twice.where(col("nn") =!= col("n")).count() == 0)
  }

  test("property: normalization is idempotent and canonical on random unicode soup") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import sp.implicits._
    val pool = Seq("a", "B", "é", "é", "Ü", "漢", " ", "\t", "\n", "  ", "x")
    val gen = Gen.listOfN(12, Gen.oneOf(pool)).map(_.mkString)
    val prop = Prop.forAll(gen) { (s: String) =>
      val r = Seq(s).toDF("text")
        .select(expr("graft_normalize_text(text)").as("n"),
          expr("graft_normalize_text(graft_normalize_text(text))").as("nn"))
        .collect().head
      val (n, nn) = (r.getString(0), r.getString(1))
      n == nn &&                                 // idempotent
        n == n.trim &&                           // no boundary whitespace
        !n.contains("  ") && !n.contains("\t") && !n.contains("\n") && // collapsed
        n == java.text.Normalizer.normalize(n, java.text.Normalizer.Form.NFC) // NFC-stable
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }
}
