package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.DedupOps

/** The ngram-jaccard verifier's anchor rule must be immune to the SHAPE of
  * the doc_id space — the round-15 residue gate (`doc_id % m == 0`)
  * assumed ids dense from 0, and on a sparse or offset space could select
  * far from ~50 anchors (even zero), silently re-vacating the verifier
  * with no oracle-visible signal. The round-16 rank gate (smallest-md5
  * top-k) selects EXACTLY min(target, corpus) anchors on any id space;
  * these pins hold it there.
  */
class AnchorRuleSpec extends AnyFunSuite {
  import SparkTestBase._

  test("verifier output is identical under an id-space offset (sparse ids)") {
    val docs = Tables.load(spark, Sf0001, "documents").select("doc_id", "text")
    val offset = 7000000L
    // shift every id by a large constant: the residue gate would now
    // select a different (possibly empty) anchor set; the rank gate must
    // select the SAME DOCUMENTS (md5 of the shifted id differs, so the
    // anchor membership legitimately changes — what must NOT change is
    // non-vacuity and correctness of every emitted pair)
    val shifted = docs.select((col("doc_id") + offset).as("doc_id"), col("text"))
    val st = DedupOps.ngramJaccardStaged(shifted)
    val rows = st.plan.collect()
    st.release()
    assert(rows.nonEmpty, "anchor verifier must stay non-vacuous on offset ids")
    // every emitted pair is a TRUE pair of the original corpus (shifted
    // back, it must appear in the unshifted verifier-with-max-anchors
    // ground truth: anchors = whole corpus when target >= corpus? too
    // slow — instead recompute exact J for the emitted pairs directly)
    val sh = shifted.select(col("doc_id"),
      expr("graft_shingle_hashes(text)").as("t"))
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val byId = sh.where(col("doc_id").isin(
        pairs.flatMap(p => Seq(p._1, p._2)).distinct.toSeq: _*))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSet)).toMap
    pairs.foreach { case (a, b, j) =>
      val (sa, sb) = (byId(a), byId(b))
      val expected =
        if ((sa ++ sb).isEmpty) 0.0
        else (sa & sb).size.toDouble / (sa ++ sb).size.toDouble
      assert(math.abs(expected - j) < 1e-12, s"pair ($a,$b) J mismatch")
      assert(j >= 0.5, s"pair ($a,$b) below threshold")
    }
  }

  test("anchor set size is exactly min(target, corpus) on a tiny corpus") {
    import spark.implicits._
    // corpus smaller than the target: every doc is an anchor, so every
    // true pair must be found — including between ids 9000001/9000002
    // (an id space the residue gate would have sampled at ~0 density)
    val text = "one two three four five six seven eight nine ten eleven twelve"
    val docs = Seq((9000001L, text), (9000002L, text), (9000003L, "unrelated words only here"))
      .toDF("doc_id", "text")
    val st = DedupOps.ngramJaccardStaged(docs)
    val rows = st.plan.collect().map(r => (r.getLong(0), r.getLong(1)))
    st.release()
    assert(rows.toSeq == Seq((9000001L, 9000002L)))
  }
}
