package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.DedupOps

/** The stop-shingle screen's contract (DedupOps.containmentStaged):
  * dropping df > f shingles bounds the posting join's fanout WITHOUT
  * costing qualifying pairs, provided f clears the document frequencies
  * of the shingles those pairs are built from. Three pins:
  *
  *  1. no-drop guarantee — with f ≥ the corpus's max df the screen is a
  *     provable no-op: row-identical output to the unscreened plan;
  *  2. the verdict's property — with f ≥ the max df over the TRUE pairs'
  *     suspect shingles, every qualifying pair survives with identical
  *     (n_inter, n_a, containment_milli), even while the screen drops
  *     other postings;
  *  3. the screen SCREENS — on a boilerplate-heavy synthetic corpus a
  *     small f removes the boilerplate-only pairs (the fanout bomb) and
  *     keeps the genuine quoted-content containment.
  */
class ContainmentScreenSpec extends AnyFunSuite {
  import SparkTestBase._

  private def run(docs: org.apache.spark.sql.DataFrame, f: Long): Seq[(Long, Long, Long, Long, Long)] = {
    val staged = DedupOps.containmentStaged(docs, f)
    val rows = staged.plan.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    staged.release()
    rows
  }

  private def corpus = Tables.load(spark, Sf0001, "documents")

  private def postDf(docs: org.apache.spark.sql.DataFrame) = {
    docs.select(col("doc_id"), explode(expr("graft_shingle_hashes(text)")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
  }

  test("f >= corpus max df makes the screen a provable no-op") {
    val maxDf = postDf(corpus).agg(max(col("df"))).collect()(0).getLong(0)
    assert(run(corpus, maxDf) == run(corpus, Long.MaxValue))
  }

  test("f >= max true-pair suspect df loses no qualifying pair (identical rows)") {
    val unscreened = run(corpus, Long.MaxValue)
    assert(unscreened.nonEmpty, "fixture must produce containment pairs")
    // max df over the shingles of the qualifying pairs' SUSPECT docs —
    // the f at which the property guarantees those pairs intact
    val suspectIds = unscreened.map(_._1).distinct
    val fMin = postDf(corpus)
      .join(corpus.where(col("doc_id").isin(suspectIds: _*))
        .select(col("doc_id"), explode(expr("graft_shingle_hashes(text)")).as("h")), "h")
      .agg(max(col("df"))).collect()(0).getLong(0)
    val screened = run(corpus, fMin)
    unscreened.foreach { p =>
      assert(screened.contains(p),
        s"pair $p (containment >= threshold) lost by the screen at f=$fMin")
    }
  }

  test("a small f drops boilerplate-only pairs and keeps quoted-content containment") {
    import spark.implicits._
    val boiler = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val quote = "quoted passage from document one hundred spanning exactly twelve words total"
    // suspect-stratum membership is the md5-nibble gate (< '2'): of the
    // boiler ids 1..20 exactly 10 and 12 are suspects; 123 is a suspect,
    // the host 100 (nibble 'd') is not
    val docs = (
      // 20 docs sharing ONLY the boilerplate run — the df bomb
      (1L to 20L).map(i => (i, s"$boiler unique$i")) :+
        (100L, quote) :+ // the host
        (123L, s"$quote and two more") // the suspect: mostly the quote
      ).toDF("doc_id", "text")
    val unscreened = run(docs, Long.MaxValue)
    val screened = run(docs, 5L) // boiler shingles (df=20) drop; quote (df=2) stays
    // unscreened: suspects 10 and 12 pair with every boiler doc
    assert(unscreened.exists(p => p._1 == 10L && p._2 == 11L),
      s"boilerplate pair must qualify unscreened\n$unscreened")
    assert(screened.forall(p => !(Set(10L, 12L) contains p._1)),
      s"boilerplate-only pairs must be screened out\n$screened")
    // the genuine containment survives the screen
    assert(unscreened.exists(p => p._1 == 123L && p._2 == 100L))
    assert(screened.exists(p => p._1 == 123L && p._2 == 100L),
      s"quoted-content containment must survive the screen\n$screened")
  }
}
