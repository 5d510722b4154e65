package graft

import org.apache.spark.sql.functions._

/** Dev harness: measure ANN recall (per-query min/mean) and candidate
  * volume per config across scale factors — the evidence behind the
  * SimilarityOps parameter choices. Args: sfDir...
  *
  * FIXTURE-SCALE TOOL, NOT A PIPELINE OP: this main collects the full
  * brute-force truth pair set driver-side to score configs — fine for the
  * sf fixtures it exists for, a driver OOM at corpus scale. It is a
  * registry non-member on purpose and must stay one. The AT-SCALE way to
  * grade recall is the registered `ann_lsh_recall` / `ann_ivf_recall`
  * queries, which compute the same per-query recall fully distributed
  * (truth and candidates meet in a join, only the graded aggregate comes
  * back).
  */
object AnnTune {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.forHarness()
    // the report is the recall lines; keep Spark's WARN chatter out of it
    spark.sparkContext.setLogLevel("ERROR")

    args.foreach { dir =>
      val corpusN = Tables.load(spark, dir, "embeddings").count()
      println(s"== $dir (corpus $corpusN) ==")

      val exact = ops.SimilarityOps.annBruteforce(spark, dir)
        .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      val exactByQ = exact.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      // 10th-NN cosine stats: how hard is this corpus for LSH?
      val c10 = ops.SimilarityOps.annBruteforce(spark, dir)
        .where(col("rn") === 10).select("c").collect().map(_.getDouble(0))
      println(f"  10th-NN cosine: min ${c10.min}%.3f mean ${c10.sum / c10.size}%.3f max ${c10.max}%.3f")

      def score(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
        val approxByQ = df.select("q_id", "vec_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
          .view.mapValues(_.map(_._2).toSet).toMap
        val recalls = exactByQ.map { case (q, ex) =>
          (approxByQ.getOrElse(q, Set.empty) & ex).size.toDouble / ex.size
        }.toSeq
        println(f"  $name%-28s recall min ${recalls.min}%.2f mean ${recalls.sum / recalls.size}%.2f (${recalls.size} queries)")
      }

      for (bands <- Seq(16, 24, 32); bits <- Seq(4, 6)) {
        score(s"lsh b=$bits L=$bands r=1", ops.SimilarityOps.annLshTopk(spark, dir, bands, bits))
      }
      for (nprobe <- Seq(4, 6, 8); assign <- Seq(1, 2, 3)) {
        score(s"ivf nprobe=$nprobe a=$assign",
          ops.SimilarityOps.annIvfTopk(spark, dir, nprobe, assign))
      }
      // PQ: ADC shortlist + exact rerank (uniform-random corpora are the
      // family's pathological case — this line documents how much)
      score("pq m=4 codes=64 short=100", ops.SimilarityOps.annPqTopk(spark, dir))
    }
    spark.stop()
  }
}
