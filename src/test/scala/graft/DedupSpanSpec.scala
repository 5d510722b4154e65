package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.DedupOps

/** Unit coverage for exact duplicated-span detection (`dedup_span_exact`):
  * the gaps-and-islands collapse, the cross-doc-only contract, and the
  * positional-hash expression's consistency with the set-semantics one.
  */
class DedupSpanSpec extends AnyFunSuite {
  import SparkTestBase._

  private implicit lazy val sp: org.apache.spark.sql.SparkSession = spark

  private def w(r: Range, tag: String): String = r.map(i => s"$tag$i").mkString(" ")

  test("a shared 10-token span becomes one island per doc with the right bounds") {
    import sp.implicits._
    val shared = w(0 until 10, "s")
    // doc 1: 5 unique + shared + 5 unique; doc 2: shared + 12 unique
    val docs = Seq(
      (1L, w(0 until 5, "a") + " " + shared + " " + w(0 until 5, "b")),
      (2L, shared + " " + w(0 until 12, "c"))
    ).toDF("doc_id", "text")
    val out = DedupOps.spanDedup(docs).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2)))
    // windows fully inside the shared region: doc1 starts 5..7, doc2 starts 0..2
    assert(out.toSeq == Seq((1L, 5L, 10L), (2L, 0L, 10L)))
  }

  test("within-doc repetition alone is not duplication") {
    import sp.implicits._
    val phrase = w(0 until 8, "p")
    val docs = Seq(
      (1L, phrase + " " + w(0 until 4, "x") + " " + phrase), // repeats itself
      (2L, w(0 until 30, "y"))                               // unrelated
    ).toDF("doc_id", "text")
    assert(DedupOps.spanDedup(docs).count() == 0)
  }

  test("docs shorter than the window emit nothing") {
    import sp.implicits._
    val docs = Seq((1L, "only seven tokens live in here now"),
      (2L, "only seven tokens live in here now")).toDF("doc_id", "text")
    assert(DedupOps.spanDedup(docs).count() == 0)
  }

  test("two disjoint shared spans stay two islands") {
    import sp.implicits._
    val s1 = w(0 until 9, "s")
    val s2 = w(0 until 9, "t")
    val docs = Seq(
      (1L, s1 + " " + w(0 until 6, "a") + " " + s2),
      (2L, s1 + " " + w(0 until 9, "b")),
      (3L, s2 + " " + w(0 until 9, "c"))
    ).toDF("doc_id", "text")
    val doc1 = DedupOps.spanDedup(docs).where(col("doc_id") === 1)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    // s1 at tokens 0..8 (starts 0..1), s2 at tokens 15..23 (starts 15..16)
    assert(doc1.toSeq == Seq((0L, 9L), (15L, 9L)))
  }

  test("positional 8-gram hashes are the unsorted bag of the set-semantics ones") {
    import sp.implicits._
    val text = w(0 until 20, "q") + " " + w(0 until 10, "q") // overlapping repeats
    val row = Seq(text).toDF("text")
      .select(expr("graft_ngram8_pos_hashes(text)").as("pos"),
        expr("graft_ngram8_hashes(text)").as("set"))
      .collect().head
    val pos = row.getSeq[Long](0)
    val set = row.getSeq[Long](1)
    assert(pos.length == 30 - 8 + 1, "one hash per window start")
    assert(pos.distinct.sorted == set.sorted, "same hash family, bag vs set view")
  }

  test("the planted-excerpt fixture produces the full-excerpt island in the copy") {
    val docs = Tables.load(spark, Sf0001, "documents")
    val out = DedupOps.spanDedup(DedupOps.withSpanDups(docs))
    val copies = out.where(col("doc_id") >= 2000000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(copies.nonEmpty, "fixture must plant at least one excerpt at sf0.001")
    // every planted copy is wholly duplicated: one island covering all 50 tokens
    copies.groupBy(_._1).foreach { case (id, spans) =>
      assert(spans.exists(s => s._2 == 0L && s._3 == 50L),
        s"copy $id should carry the full 50-token island, got ${spans.toSeq}")
    }
  }
}
