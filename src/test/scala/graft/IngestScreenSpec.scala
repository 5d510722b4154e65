package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The composite ingest screen must agree with each stage recomputed
  * independently, and its precedence must hold.
  */
class IngestScreenSpec extends AnyFunSuite {
  import SparkTestBase._

  private lazy val disposition: Map[Long, String] =
    ops.IngestScreenOps.queries("ingest_screen_pipeline")(spark, Sf0001)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  private def nib = substring(md5(col("doc_id").cast("string")), 32, 1)

  test("every disposition class is exercised by the fixture") {
    assert(disposition.values.toSet ==
      Set("accepted", "dup_exact", "dup_near", "pii_flagged", "repetitive"))
  }

  test("injected re-crawl copies are all dup_exact; PII rows follow precedence") {
    val copies = disposition.keys.filter(id => id >= 1000000L && id < 9000000L)
    assert(copies.nonEmpty)
    copies.foreach(id => assert(disposition(id) == "dup_exact",
      s"copy $id of a corpus doc must be dup_exact, got ${disposition(id)}"))
    // the three contact-bearing rows are unique text → pii wins;
    // 9000004 is clean but too short for 16 distinct bigrams → repetitive
    Seq(9000001L, 9000002L, 9000003L).foreach(id =>
      assert(disposition(id) == "pii_flagged"))
    assert(disposition(9000004L) == "repetitive")
  }

  test("dup_near equals brute-force batch×corpus Jaccard minus exact dups") {
    val docs = Tables.load(spark, Sf0001, "documents")
    val batch = ops.IngestScreenOps.batchDocs(docs)
    val corpus = docs.where(nib < "e").select(col("doc_id"), col("text"))
    val shB = batch.select(col("doc_id").as("b_id"),
      expr("graft_shingle_hashes(text)").as("bsh"), md5(col("text")).as("bh"))
    val shC = corpus.select(col("doc_id").as("c_id"),
      expr("graft_shingle_hashes(text)").as("csh"), md5(col("text")).as("ch"))
    val near = shB.crossJoin(shC)
      .where(graft.functions.TextFunctions.jaccard(col("bsh"), col("csh")) >=
        ops.DedupOps.JaccardThreshold)
      .select(col("b_id"), col("bh"), col("ch"))
    val exact = shB.join(shC, col("bh") === col("ch"), "left_semi")
      .select(col("b_id")).collect().map(_.getLong(0)).toSet
    val nearOnly = near.collect().map(_.getLong(0)).toSet -- exact
    val engineNear = disposition.collect { case (id, "dup_near") => id }.toSet
    assert(engineNear == nearOnly,
      s"engine=$engineNear bruteforce=$nearOnly")
  }

  test("corrupt-drop quarantine: sweep moves only the bad files, dir reads clean") {
    val landing = tmpDir("corrupt_sweep_")
    Tables.load(spark, Sf0001, "events").limit(100).repartition(2)
      .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(landing)
    // plant one torn file (truncated valid parquet) and one garbage drop
    val aGood = java.nio.file.Files.list(java.nio.file.Paths.get(landing))
      .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
    val bytes = java.nio.file.Files.readAllBytes(aGood)
    java.nio.file.Files.write(java.nio.file.Paths.get(landing, "torn.parquet"),
      java.util.Arrays.copyOf(bytes, math.max(64, bytes.length / 2)))
    java.nio.file.Files.write(java.nio.file.Paths.get(landing, "junk.parquet"),
      Array.fill[Byte](256)(0x17))
    val quarantined = ops.IngestScreenOps.quarantineSweep(spark, landing)
    assert(quarantined.map(p => p.split('/').last).toSet == Set("torn.parquet", "junk.parquet"))
    // the directory now reads whole, and no good row was lost
    assert(spark.read.parquet(landing).count() == 100)
    // idempotent: a second sweep finds nothing
    assert(ops.IngestScreenOps.quarantineSweep(spark, landing).isEmpty)
  }

  test("streaming screen agrees with the batch screen on every shared stage") {
    val streamed = ops.StreamingOps.queries("stream_ingest_screen")(spark, Sf0001)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed.keySet == disposition.keySet, "same arrival population")
    disposition.foreach { case (id, batchDisp) =>
      val streamDisp = streamed(id)
      if (batchDisp == "dup_near")
        // the one stage the streaming front gate deliberately lacks: the
        // batch authority refines a downstream verdict into dup_near
        assert(Set("pii_flagged", "repetitive", "accepted")(streamDisp),
          s"doc $id: stream=$streamDisp for a batch dup_near")
      else
        assert(streamDisp == batchDisp,
          s"doc $id: stream=$streamDisp batch=$batchDisp")
    }
  }
}
